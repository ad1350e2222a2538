-- materialized: view
select o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
from {{ source('raw', 'orders') }}
