-- materialized: table
select p.p_brand, count(*) as n_lines,
       percentile_cont(0.5) within group (order by l.net_price) as p50_price,
       percentile_cont(0.9) within group (order by l.net_price) as p90_price,
       avg(l.l_quantity) as avg_qty
from {{ ref('int_order_lines') }} l
join {{ ref('stg_part') }} p on l.l_partkey = p.p_partkey
group by p.p_brand
