-- materialized: view
select s_suppkey, s_name, s_nationkey
from {{ source('raw', 'supplier') }}
