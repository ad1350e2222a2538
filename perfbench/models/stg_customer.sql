-- materialized: view
select c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
from {{ source('raw', 'customer') }}
