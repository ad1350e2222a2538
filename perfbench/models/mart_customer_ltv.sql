-- materialized: table
with per_customer as (
  select o_custkey, sum(net_price) as revenue,
         count(distinct o_orderkey) as n_orders, max(o_orderdate) as last_order
  from {{ ref('int_order_lines') }}
  group by o_custkey)
select c.c_custkey, c.n_name, c.segment_group, p.revenue, p.n_orders, p.last_order,
       rank() over (partition by c.n_name order by p.revenue desc, c.c_custkey) as nation_rank
from per_customer p
join {{ ref('int_customers') }} c on p.o_custkey = c.c_custkey
