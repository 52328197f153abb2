from world_cup_duckdb_spark.functions.strings import (
    bounded_one_partition,
    capitalize_first,
    dec,
    prefixed_key,
    singularize,
)

__all__ = [
    "bounded_one_partition",
    "capitalize_first",
    "dec",
    "prefixed_key",
    "singularize",
]
