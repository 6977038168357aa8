"""Full-int64-range id totality, registry-wide.

Hash-derived ids (xxhash64 outputs, snowflake ids) span the whole int64
range, including negatives and values within one add/multiply of
Long.MAX — where ANSI mode turns a silent wrap into a job-killing
ARITHMETIC_OVERFLOW. This sweep plants extreme ids in every id-bearing
column (doc_id, vec_id, user_id, order/cust keys) and requires every
key that reads them to BUILD AND FULLY EVALUATE (collect, not count —
Catalyst prunes unevaluated aggregate columns under count(), which
hid q_dedup_exact's overflow in the first probe).

Fixed by this sweep (r10): q_pack_* Knuth hash (16/16 split-multiply,
llm/packing._knuth_hash), q_sample_weighted's seed add (pmod before
add, queries/sampling.es_sample), q_dedup_exact's re-id shift (pmod
into [0, 2^62) first). Totality-only — id semantics under extreme
values are engine-defined; the oracle-parity bar stays with the
distribution fixtures.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from database_cloner_spark.registry import specs, tables_used
from database_cloner_spark.sources.parquet import TABLES

_SRC = "/root/testdata/sf0.001"
_MAXI = 9223372036854775807
_EXT = [_MAXI - 1, -_MAXI + 2, 1234567890123456789, -42]

# (table, id column) pairs that receive the extreme values
_ID_COLS = {
    "documents": "doc_id",
    "embeddings": "vec_id",
    "events": "user_id",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "customer": "c_custkey",
}

_EXEMPT: dict[str, str] = {
    # (goal state: empty)
}


def write_fixture(d: str) -> None:
    for t in TABLES:
        src = pq.read_table(os.path.join(_SRC, f"{t}.parquet")).slice(0, 4)
        col = _ID_COLS.get(t)
        if col is not None and str(src.column(col).type) == "int64":
            cols = {c: src.column(c) for c in src.column_names}
            cols[col] = pa.array(_EXT[: len(src)], pa.int64())
            src = pa.table(cols)
        pq.write_table(src, os.path.join(d, f"{t}.parquet"))


@pytest.fixture(scope="module")
def extreme_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("extreme_ids"))
    write_fixture(d)
    return d


_KEYS = sorted(name for name in specs() if tables_used(name) & set(_ID_COLS))


@pytest.mark.parametrize("name", _KEYS)
def test_extreme_id_totality(spark, extreme_dir, name):
    if name in _EXEMPT:
        pytest.skip(_EXEMPT[name])
    specs()[name].builder(spark, extreme_dir).collect()
