"""key=value config source (clone_databases.sh:62 `source "$CONFIG_FILE"`;
key inventory postgresql_db_clone.conf.example:6-45).

Two consumers, like the reference:
- driver-side dict (the engine's own configuration; the CLI checks the
  required keys per database type, `__main__._DB_TYPE_REQUIRED`);
- a 2-column DataFrame (config as data, joinable/filterable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

def read_kv_df(spark: SparkSession, path: str) -> DataFrame:
    """Distributed parse: skip comments/blank lines, split on first '='.
    Quotes around values are stripped like the shell would."""
    lines = spark.read.text(path)
    kv = F.split(F.col("value"), "=", 2)
    # F.get, not getItem: a non-comment line WITHOUT '=' has one part,
    # and getItem(1) kills the whole config read under ANSI — a
    # malformed conf line must surface as a NULL value instead.
    return (
        lines.filter(~F.col("value").rlike(r"^\s*(#|$)"))
        .select(
            F.trim(F.get(kv, 0)).alias("key"),
            F.regexp_replace(
                F.trim(F.get(kv, 1)), r'^"(.*)"$', r"$1"
            ).alias("value"),
        )
    )


def read_config(spark: SparkSession, path: str) -> dict[str, str]:
    """Config as a driver dict (clone_databases.sh:62)."""
    return {r.key: r.value for r in read_kv_df(spark, path).collect()}
