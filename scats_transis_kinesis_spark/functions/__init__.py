from .timestamps import (
    epoch_from_iso8601_sql,
    formatted_current_timestamp,
    sydney_local,
)
from .hashing import (
    portable_hash64,
    portable_hash32,
    minhash_value,
    minhash_value_sql,
    duckdb_hash64_sql,
    duckdb_hash32_sql,
)

__all__ = [
    "epoch_from_iso8601_sql",
    "formatted_current_timestamp",
    "sydney_local",
    "portable_hash64",
    "portable_hash32",
    "minhash_value",
    "minhash_value_sql",
    "duckdb_hash64_sql",
    "duckdb_hash32_sql",
]
