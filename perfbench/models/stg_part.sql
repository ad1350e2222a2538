-- materialized: view
select p_partkey, p_brand, p_type, p_size, p_retailprice
from {{ source('raw', 'part') }}
