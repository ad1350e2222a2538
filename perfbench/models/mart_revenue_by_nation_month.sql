-- materialized: table
select c.n_name, year(l.o_orderdate) * 100 + month(l.o_orderdate) as ym,
       sum(l.net_price) as revenue, count(distinct l.o_orderkey) as n_orders,
       count(*) as n_lines
from {{ ref('int_order_lines') }} l
join {{ ref('int_customers') }} c on l.o_custkey = c.c_custkey
group by c.n_name, year(l.o_orderdate) * 100 + month(l.o_orderdate)
