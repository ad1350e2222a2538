-- materialized: view
select l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
       l_extendedprice * (1 - l_discount) as net_price, l_returnflag, l_shipdate
from {{ source('raw', 'lineitem') }}
where l_quantity > 0
