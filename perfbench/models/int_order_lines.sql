-- materialized: table
select o.o_orderkey, o.o_custkey, o.o_orderdate, o.o_orderstatus,
       l.l_partkey, l.l_suppkey, l.l_quantity, l.net_price, l.l_returnflag
from {{ ref('stg_orders') }} o
join {{ ref('stg_lineitem') }} l on o.o_orderkey = l.l_orderkey
