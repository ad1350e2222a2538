-- materialized: view
select n.n_nationkey, n.n_name, r.r_name
from {{ source('raw', 'nation') }} n
join {{ source('raw', 'region') }} r on n.n_regionkey = r.r_regionkey
