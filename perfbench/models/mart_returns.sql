-- materialized: table
select c.r_name, l.l_returnflag, count(*) as n_lines, sum(l.l_quantity) as qty,
       avg(l.net_price) as avg_price
from {{ ref('int_order_lines') }} l
join {{ ref('int_customers') }} c on l.o_custkey = c.c_custkey
group by c.r_name, l.l_returnflag
