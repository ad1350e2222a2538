-- materialized: materialized_view
select o_orderdate, o_orderstatus, count(*) as n_orders, sum(o_totalprice) as total_price
from {{ ref('stg_orders') }}
group by o_orderdate, o_orderstatus
