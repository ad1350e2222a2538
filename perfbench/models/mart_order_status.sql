-- materialized: table
select o_orderstatus, year(o_orderdate) as yr, sum(n_orders) as n_orders,
       sum(total_price) as total_price
from {{ ref('mv_daily_orders') }}
group by o_orderstatus, year(o_orderdate)
