"""§2.1 Scans / sources (SURVEY.md).

The reference's scan surface: full-table dump scans (clone_databases.sh:209-210),
catalog scans (:415,:426,:437), BSON document scans (:810), `:`-delimited
credential records (:574,:972), and key=value config files (:62).

Re-expressed Spark-first: parquet scan with pushdown; an engine-maintained
catalog DataFrame; JSON document parsing via `get_json_object`; delimited
and key=value parsing as pure column expressions (split/element_at), which
stay inside whole-stage codegen — no Python in the hot path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from database_cloner_spark.queries.oracle_fragments import (
    guarded_int_cast,
    json_bigint,
)
from database_cloner_spark.registry import register
from database_cloner_spark.sources import load, table_names


# --- q_scan_full: full-table scan (pg_dump analogue, CS:209-210) -----------

_ORACLE_SCAN_FULL = """
SELECT r_regionkey, r_name FROM region
"""


@register("q_scan_full", oracle=_ORACLE_SCAN_FULL, tier="C")
def q_scan_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every row, every column — the dump scan. Splittable columnar read."""
    return load(spark, sf_dir, "region").select("r_regionkey", "r_name")


# --- q_scan_catalog: catalog/metadata scan (pg_tables, CS:415) -------------

_ORACLE_SCAN_CATALOG = """
SELECT * FROM (VALUES
  ('main', 'customer'), ('main', 'documents'), ('main', 'embeddings'),
  ('main', 'events'), ('main', 'lineitem'), ('main', 'nation'),
  ('main', 'orders'), ('main', 'part'), ('main', 'region'),
  ('main', 'supplier')
) AS t(schemaname, tablename)
"""


@register("q_scan_catalog", oracle=_ORACLE_SCAN_CATALOG, tier="C")
def q_scan_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """List tables of the namespace as a queryable DataFrame —
    the engine's `pg_tables` (clone_databases.sh:415). Derived from the
    at-rest directory listing, not hardcoded."""
    names = table_names(sf_dir)
    return spark.createDataFrame(
        [("main", n) for n in names], "schemaname string, tablename string"
    )


# --- q_scan_document: nested-document scan (mongodump analogue, CS:810) ----

_ORACLE_SCAN_DOCUMENT = f"""
SELECT event_id, {json_bigint("props", "$.k")} AS prop_k
FROM events
"""


@register("q_scan_document", oracle=_ORACLE_SCAN_DOCUMENT, tier="C")
def q_scan_document(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan documents with dynamic nested fields: the `events.props` JSON
    column stands in for BSON documents (clone_databases.sh:810,:774).
    `get_json_object` is JVM-side — no Python parse per row; try_cast so
    drifted/malformed documents degrade to NULL instead of failing the
    scan under ANSI mode (tests/test_adversarial_events.py)."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object(F.col("props"), "$.k").try_cast("bigint").alias("prop_k"),
    )


# --- q_scan_json: dynamic-schema JSON collection scan (CS:810,:774) --------

_ORACLE_SCAN_JSON = f"""
SELECT event_type,
       COUNT(*) AS n_events,
       MIN({json_bigint("props", "$.k")}) AS min_k,
       MAX({json_bigint("props", "$.k")}) AS max_k,
       MIN(user_id) AS min_user,
       CAST(SUM(CASE WHEN value > 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
FROM events GROUP BY event_type
"""


@register("q_scan_json", oracle=_ORACLE_SCAN_JSON, tier="C")
def q_scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan an ACTUAL semi-structured JSON collection with NO declared
    schema — the real mongodump analogue (clone_databases.sh:810,:774):
    events are exported once as nested line-delimited JSON documents
    (scalars + a nested `meta` object), then read back via
    `spark.read.json` whose inference discovers the nested StructType
    from the documents themselves. The aggregate proves the inferred
    nested fields (`meta.k`, `meta.user_id`) carry the same data as the
    relational original."""
    from database_cloner_spark.sources.json import (
        EVENTS_DOC_SCHEMA,
        events_document_export,
        load_json,
    )

    path = events_document_export(spark, sf_dir)
    docs = load_json(spark, path)
    if "event_type" not in docs.columns:
        # Empty collection: there are no documents to infer a schema
        # FROM (spark.read.json yields zero columns), so fall back to
        # the export's declared shape, shared with the writer module so
        # it can't drift (ADVICE r10) — inference stays the primary
        # path whenever at least one document exists
        # (tests/test_adversarial_empty.py).
        docs = load_json(spark, path, schema=EVENTS_DOC_SCHEMA)
    # try_cast on `value`: Spark's JSON writer renders non-finite
    # doubles as the STRINGS "NaN"/"Infinity", which flips the inferred
    # column to string for the whole collection — the schema-drift case
    # this key exists to survive. try_cast restores doubles (incl. NaN/
    # Infinity, which compare > 10 identically on both engines) and
    # degrades true garbage to NULL instead of dying under ANSI.
    v = F.col("value").try_cast("double")
    return docs.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.min(F.col("meta.k")).alias("min_k"),
        F.max(F.col("meta.k")).alias("max_k"),
        F.min(F.col("meta.user_id")).alias("min_user"),
        F.sum(F.when(v > 10, 1).otherwise(0)).alias("n_high"),
    )


# --- q_scan_bson_json: mongoexport extended-JSON scan (CS:810,:817-818) ----

# Replays the writer∘decoder round-trip from the parquet original (the
# q_scan_text oracle discipline): the engine exports orders as
# extended-JSON wrapper documents and decodes them back through
# sources/bson.py; values must equal the direct derivations below.
# - oid: md5 of the decimal orderkey (lowercase hex both engines),
#   first 24 chars — sign-safe where hex-of-int formatting is not.
# - placed: $date carries millisecond precision, so the round-trip IS
#   date_trunc to milliseconds.
# - total_cents: FLOOR(x*100 + 0.5) half-up cents (repo rounding
#   discipline), TRY_CAST — absurd magnitudes degrade to NULL.
# - priority: base64 -> unbase64 of the UTF-8 bytes is the identity.
_ORACLE_SCAN_BSON = """
SELECT substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 24) AS oid,
       date_trunc('milliseconds', o_orderdate) AS placed,
       TRY_CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS total_cents,
       o_orderstatus AS status,
       o_orderpriority AS priority
FROM orders
"""


@register("q_scan_bson_json", oracle=_ORACLE_SCAN_BSON, tier="C")
def q_scan_bson_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan a mongoexport extended-JSON collection — the EXECUTABLE
    mongodump ingestion path (clone_databases.sh:810,:817-818; VERDICT
    r10 item 2): orders exported once as wrapper documents ($oid /
    relaxed $date / $numberLong / $binary + a plain scalar), read back
    through the splittable PERMISSIVE NDJSON scan, wrappers decoded to
    typed columns by pure codegen expressions (sources/bson.py). Schema
    inference is the primary path (document-store posture); the shared
    declared shape covers only the zero-document collection, where
    inference has nothing to look at."""
    from database_cloner_spark.sources.bson import (
        MONGOEXPORT_ORDERS_SCHEMA,
        mongoexport_scan,
        orders_mongoexport,
    )

    path = orders_mongoexport(spark, sf_dir)
    docs = mongoexport_scan(spark, path)
    if "status" not in docs.columns:
        docs = mongoexport_scan(spark, path, schema=MONGOEXPORT_ORDERS_SCHEMA)
    return docs.select(
        F.col("_id").alias("oid"),
        "placed",
        "total_cents",
        "status",
        # BSON binary decodes to bytes; surface the UTF-8 text for the
        # scalar-only hash gate (and because that's what it is here)
        F.col("payload").cast("string").alias("priority"),
    )


# --- q_scan_delim: `:`-delimited record parse (CS:574, CS:972) -------------

# List indexing (ts[i] -> NULL out of bounds) instead of split_part
# (which returns '' for missing parts): mirrors Spark's F.get exactly
# for SHORT records — a NULL field makes concat_ws emit fewer parts,
# and the unguarded getItem/CAST crashed under ANSI
# (tests/test_adversarial_relational.py NULL c_mktsegment row).
_ORACLE_SCAN_DELIM = f"""
WITH rec AS (
  SELECT string_split(
    concat_ws(':', c_name, c_mktsegment, CAST(c_custkey AS VARCHAR)), ':'
  ) AS ts
  FROM customer
)
SELECT
  ts[1] AS f_user,
  ts[2] AS f_role,
  {guarded_int_cast("ts[3]")} AS f_key
FROM rec
"""


@register("q_scan_delim", oracle=_ORACLE_SCAN_DELIM, tier="C")
def q_scan_delim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse `:`-separated credential-style records into typed fields
    (the 5-field PG / 3-field Mongo formats, clone_databases.sh:574,:972).
    The parse semantics are exercised as codegen'd column expressions
    over testdata.
    F.get + try_cast, not getItem + cast: a record with a NULL field is
    SHORTER (concat_ws skips NULLs), and under ANSI an out-of-bounds
    getItem / malformed cast kills the whole scan — short records must
    parse to NULL fields instead."""
    cust = load(spark, sf_dir, "customer")
    line = F.concat_ws(":", F.col("c_name"), F.col("c_mktsegment"), F.col("c_custkey"))
    parts = F.split(line, ":")
    return cust.select(
        F.get(parts, 0).alias("f_user"),
        F.get(parts, 1).alias("f_role"),
        F.get(parts, 2).try_cast("bigint").alias("f_key"),
    )


# --- q_scan_kv_config: key=value config scan (CS:62, PC:6-45) --------------

# Same short-record contract as _ORACLE_SCAN_DELIM: a NULL n_name makes
# the line '='-less, so the value slot must parse to NULL, not crash.
# DuckDB has no limit-2 split; reassemble the tail to mirror
# F.split(line, '=', 2).
_ORACLE_SCAN_KV = f"""
WITH conf AS (
  SELECT string_split(concat_ws('=', n_name, CAST(n_nationkey AS VARCHAR)), '=') AS ts
  FROM nation
)
SELECT
  ts[1] AS conf_key,
  {guarded_int_cast("CASE WHEN len(ts) >= 2 THEN array_to_string(ts[2:], '=') END", "INTEGER")}
    AS conf_value
FROM conf
"""


@register("q_scan_kv_config", oracle=_ORACLE_SCAN_KV, tier="C")
def q_scan_kv_config(spark: SparkSession, sf_dir: str) -> DataFrame:
    """key=value config parsing (`source conf`, clone_databases.sh:62) as a
    2-column DataFrame; split limited to the first '=' like the shell
    does. F.get + try_cast: an '='-less line (NULL key field) must parse
    to a NULL value, not kill the scan under ANSI."""
    nat = load(spark, sf_dir, "nation")
    line = F.concat_ws("=", F.col("n_name"), F.col("n_nationkey"))
    kv = F.split(line, "=", 2)
    return nat.select(
        F.get(kv, 0).alias("conf_key"),
        F.get(kv, 1).try_cast("int").alias("conf_value"),
    )


# --- q_scan_orc: mixed-format-lake ORC scan (dump/restore format analogue) -

_ORACLE_SCAN_ORC = """
SELECT p_brand,
       COUNT(*) AS n_parts,
       CAST(SUM(p_size) AS BIGINT) AS total_size,
       MIN(p_retailprice) AS min_price,
       MAX(p_retailprice) AS max_price
FROM part
WHERE p_size >= 10
GROUP BY p_brand
"""


@register("q_scan_orc", oracle=_ORACLE_SCAN_ORC, tier="X")
def q_scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan the OTHER first-class columnar format: the part table is
    exported once as ORC (sources/orc.py, the mixed-format-lake
    fixture), read back through Spark's vectorized ORC reader, and
    aggregated — proving fidelity vs the parquet original, which is
    what the oracle reads. The selective `p_size >= 10` filter is
    pushed into the ORC reader as a SearchArgument (stripe pruning at
    scale; PushedFilters plan-asserted in tests/test_sources.py). All
    aggregates order-insensitive-exact: count, integer sum, min/max."""
    from database_cloner_spark.sources.orc import load_orc, part_orc_export

    part = load_orc(spark, part_orc_export(spark, sf_dir))
    return (
        part.filter(F.col("p_size") >= 10)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum("p_size").cast("bigint").alias("total_size"),
            F.min("p_retailprice").alias("min_price"),
            F.max("p_retailprice").alias("max_price"),
        )
    )


# --- q_scan_text: raw line-oriented text scan (conf/log files, CS:62) ------

# The reference's remaining at-rest format: plain text lines — conf
# files it `source`s (CS:62), password/log files it greps back in
# (CS:447,:556). spark.read.text is the splittable line reader; the
# export is Spark-written text (one file per partition at scale), the
# parse is codegen split + try_cast, and the oracle recomputes the
# lines from the source table.
# The oracle replays the ROUND-TRIP (build line, split line), not the
# source columns: concat_ws skips NULL fields, so a NULL n_name shifts
# the remaining fields left — the parse's documented short-record
# behavior (the q_scan_delim contract), identical on both engines.
_ORACLE_SCAN_TEXT = """
WITH l AS (
  SELECT concat_ws('|', CAST(n_nationkey AS VARCHAR), n_name,
                   CAST(n_regionkey AS VARCHAR)) AS line
  FROM nation
),
s AS (
  SELECT string_split(line, '|') AS ts, length(line)::BIGINT AS line_len
  FROM l
)
SELECT TRY_CAST(ts[1] AS BIGINT) AS n_nationkey,
       ts[2] AS n_name,
       TRY_CAST(ts[3] AS BIGINT) AS n_regionkey,
       line_len
FROM s
"""


@register("q_scan_text", oracle=_ORACLE_SCAN_TEXT, tier="C")
def q_scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan a line-oriented TEXT export (the conf/log-file format the
    reference sources and greps, clone_databases.sh:62,:447,:556) back
    into typed fields. The export is written ONCE per namespace content
    (sources/export_cache.py) by a distributed spark text write; the
    read is spark.read.text — splittable, so one huge log file
    parallelizes by byte range; the '|' parse is codegen split with
    try_cast (a malformed line degrades to NULL fields, never kills
    the scan under ANSI)."""
    from database_cloner_spark.sources.export_cache import cached_export

    def build(out: str) -> None:
        nat = load(spark, sf_dir, "nation")
        line = F.concat_ws(
            "|",
            F.col("n_nationkey").cast("string"),
            F.col("n_name"),
            F.col("n_regionkey").cast("string"),
        )
        nat.select(line.alias("value")).write.mode("overwrite").text(out)

    path = cached_export(
        "dcs_nation_text", os.path.join(sf_dir, "nation.parquet"), build
    )
    lines = spark.read.text(path)
    parts = F.split(F.col("value"), r"\|")
    return lines.select(
        F.get(parts, 0).try_cast("bigint").alias("n_nationkey"),
        F.get(parts, 1).alias("n_name"),
        F.get(parts, 2).try_cast("bigint").alias("n_regionkey"),
        F.length("value").cast("long").alias("line_len"),
    )
