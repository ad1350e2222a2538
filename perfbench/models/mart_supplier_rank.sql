-- materialized: table
with rev as (
  select l_suppkey, sum(net_price) as revenue, count(*) as n_lines
  from {{ ref('int_order_lines') }}
  group by l_suppkey)
select s.s_suppkey, s.s_name, n.n_name, r.revenue, r.n_lines,
       row_number() over (partition by n.n_name order by r.revenue desc, s.s_suppkey) as nation_rank,
       r.revenue / sum(r.revenue) over (partition by n.n_name) as nation_share
from rev r
join {{ ref('stg_supplier') }} s on r.l_suppkey = s.s_suppkey
join {{ ref('stg_nation') }} n on s.s_nationkey = n.n_nationkey
