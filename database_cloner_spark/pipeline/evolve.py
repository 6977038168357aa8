"""Schema-drift detection for re-clones.

The reference cannot evolve a clone at all — a schema change on the
source means drop + full re-dump (clone_databases.sh:795-818). Here the
source schema is authoritative: `schema_drift` classifies columns the
source added, dropped or retyped against an existing target.

How the incremental pipeline uses this: `schema_drift` is checked from
METADATA up front, and any drift routes to one explicit
"schema_migration" rewrite. The alternative — discovering drift through
content comparison — would misfire subtly: xxhash64 is type-sensitive
(xxhash64(5::int) != xxhash64(5::bigint), the round-1 advisory bug in
partitioned-clone verification), so a widening flags EVERY chunk
changed and the sync silently degrades into an unplanned full rewrite
(pipeline/verify.py casts dst to the src schema for the same reason).
A plain-parquet target also cannot hold mixed per-chunk physical
schemas (Spark refuses to merge int/bigint file footers), so the
migration rewrite is the correct move for this storage layer.
"""

from __future__ import annotations

from pyspark.sql.types import StructType


def schema_drift(src_schema: StructType, dst_schema: StructType) -> dict:
    """Classify drift between authoritative source and existing target:
    {"added": [name], "dropped": [name], "retyped": [(name, dst_t,
    src_t)]} (types as simpleString)."""
    src = {f.name: f.dataType for f in src_schema.fields}
    dst = {f.name: f.dataType for f in dst_schema.fields}
    return {
        "added": sorted(n for n in src if n not in dst),
        "dropped": sorted(n for n in dst if n not in src),
        "retyped": sorted(
            (n, dst[n].simpleString(), src[n].simpleString())
            for n in src
            if n in dst and src[n] != dst[n]
        ),
    }
