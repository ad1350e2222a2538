-- materialized: table
select c.c_custkey, c.c_name, c.c_acctbal, n.n_name, n.r_name, c.c_mktsegment,
       g.segment_group, g.weight
from {{ ref('stg_customer') }} c
join {{ ref('stg_nation') }} n on c.c_nationkey = n.n_nationkey
left join {{ ref('segment_groups') }} g on c.c_mktsegment = g.segment
