"""Dynamic-schema JSON / document source.

The reference's mongodump path reads whole BSON collections with NO
declared schema (clone_databases.sh:810 `mongodump`, :774 collection
loop; README Mongo section): the document structure is discovered from
the data. The Spark-native equivalent is `spark.read.json`, whose
schema inference produces nested StructTypes from the documents
themselves — this module wraps it with the engine's defaults.

Scale notes (100 TB):
- Newline-delimited JSON is SPLITTABLE: every file chunk is an
  independent input split, so a 1000-executor cluster parallelizes a
  single huge file. Spark's `multiLine` reader (one document spanning
  lines) is NOT splittable — one file = one task — so the reader keeps
  its line-delimited default, mirroring mongoexport's.
- Schema inference costs one extra pass over the data. At scale infer
  once, persist the schema, and pass it explicitly on subsequent reads
  (`schema=`) — then the read is single-pass.
- Malformed documents: PERMISSIVE mode (default) routes unparseable
  lines into `_corrupt_record` instead of failing the job — at web
  scale some corrupt lines are a certainty, and a 10-hour job must not
  die on line 9 billion.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CORRUPT_COL = "_corrupt_record"

# Declared shape of events_document_export's documents — the schema
# inference discovers this from the data on every non-empty collection;
# consumers needing a fallback for the ZERO-document case (inference
# has nothing to look at) must use THIS constant so the fallback can't
# drift from the writer (ADVICE r10: q_scan_json hardcoded it inline).
EVENTS_DOC_SCHEMA = (
    "event_id bigint, event_type string, value double, "
    "meta struct<user_id: bigint, k: bigint>"
)


def load_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """Read newline-delimited JSON documents with inferred (or given)
    nested schema — the engine's `mongodump`-collection analogue."""
    reader = spark.read.option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", CORRUPT_COL
    )
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def export_json(df: DataFrame, path: str) -> None:
    """Write a DataFrame as line-delimited JSON (mongoexport analogue).
    Distributed write — one file per partition, splittable on re-read."""
    df.write.mode("overwrite").json(path)


def events_document_export(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the events table as a nested-document JSON collection
    (cached per source CONTENT — sources/export_cache.py) and return its
    path. Shapes each event the way a document store would hold it:
    scalars at the top level, user/props folded into a nested `meta`
    object — so reading it back genuinely exercises nested-struct
    schema inference rather than a flat record."""
    from database_cloner_spark.sources.export_cache import cached_export
    from database_cloner_spark.sources.parquet import load

    def build(out: str) -> None:
        ev = load(spark, sf_dir, "events")
        docs = ev.select(
            "event_id",
            "event_type",
            "value",
            F.struct(
                F.col("user_id"),
                # try_cast, not cast: ANSI mode (Spark 4 default) makes a
                # plain cast THROW on schema-drifted props ('{"k": "x"}',
                # floats, nested objects) — one bad record must degrade
                # to NULL, not kill the export job (PERMISSIVE posture).
                F.get_json_object("props", "$.k").try_cast("long").alias("k"),
            ).alias("meta"),
        )
        export_json(docs, out)

    return cached_export(
        "dcs_events_json", os.path.join(sf_dir, "events.parquet"), build
    )
