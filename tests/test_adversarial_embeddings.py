"""Adversarial-input oracle parity for the embeddings tier.

Companion to the other tests/test_adversarial_* suites. Exercises the
vector-edge cases a real embedding corpus produces that the generated
fixture never does: the all-zero vector (cosine 0/0 -> NaN on both
engines), the empty array, NULL embeddings, exact-opposite and
exact-duplicate vectors, denormal-small magnitudes, and duplicate
vec_ids on the non-probe side.

All element values are exactly representable in float32 (small ints and
powers of two), so dot products and norms are bit-identical whether an
engine accumulates in float or double — parity failures can only come
from logic.

Deliberately NOT covered: dimension-mismatched vectors. The engine is
total on them (zip_with pads with NULL -> NULL cosine) but DuckDB's
list_inner_product ERRORS on length mismatch, so no oracle can express
the comparison; the engine-side behavior is pinned in tests/test_llm.py
instead.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from database_cloner_spark.registry import specs
from tests.oracle_harness import compare_query

_DIM = 8

# (vec_id, embedding, label)
_NASTY_VECS = [
    (0, [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0], 0),  # the probe
    (1, [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0], 1),  # exact dup of probe
    (2, [-1.0, -2.0, -3.0, -4.0, -5.0, -6.0, -7.0, -8.0], 1),  # opposite
    (3, [0.0] * _DIM, 2),  # zero vector: cosine 0/0
    (4, [], 2),  # empty array: norm 0
    (5, None, 3),  # NULL embedding
    (6, [2.0, 4.0, 6.0, 8.0, 10.0, 12.0, 14.0, 16.0], 3),  # scaled dup (cos 1)
    (7, [8.0, 7.0, 6.0, 5.0, 4.0, 3.0, 2.0, 1.0], 4),  # reversed
    # denormal-small but float32-exact magnitudes (2^-20)
    (8, [2.0**-20] * _DIM, 4),
    # duplicate vec_id on the non-probe side
    (9, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0], 5),
    (9, [0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0], 5),
    # NaN / Infinity ELEMENTS (a broken upstream encoder): dot/norm
    # folds NaN-poison identically on both engines (NaN cosine), and
    # NaN ordering is pinned (greatest, both) — these rows must never
    # crash a scorer or silently diverge (r10 NaN sweep)
    (10, [1.0, float("nan"), 3.0, 4.0, 5.0, 6.0, 7.0, 8.0], 6),
    (11, [1.0, 2.0, float("inf"), 4.0, 5.0, 6.0, 7.0, 8.0], 6),
]

_EXEMPT: dict[str, str] = {
    # (goal state: empty)
}


def write_fixture(d: str, rows=_NASTY_VECS) -> None:
    table = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array(
                [r[1] for r in rows], pa.list_(pa.float32())
            ),
            "label": pa.array([r[2] for r in rows], pa.int32()),
        }
    )
    pq.write_table(table, os.path.join(d, "embeddings.parquet"))


@pytest.fixture(scope="module")
def nasty_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("nasty_emb"))
    write_fixture(d)
    return d


from database_cloner_spark.registry import keys_reading_only

_KEYS = keys_reading_only({"embeddings"})


def test_embeddings_key_inventory():
    assert "q_sim_topk" in _KEYS and "q_array_ops" in _KEYS, _KEYS


@pytest.mark.parametrize("name", _KEYS)
def test_adversarial_parity(spark, nasty_dir, name):
    if name in _EXEMPT:
        pytest.skip(_EXEMPT[name])
    spec = specs()[name]
    compare_query(spark, name, spec.builder, spec.oracle, nasty_dir)


# --- probe-row edge cases (ADVICE r10) --------------------------------------
# The pandas scorer's probe is fetched driver-side with head(), so a
# MISSING vec_id=0 row (engine: every cosine NULL, still k rows) and a
# DUPLICATED vec_id=0 row (engine: deterministic min-embedding pick)
# exercise engine/oracle agreement paths the main nasty fixture — which
# has exactly one vec 0 — never reaches.

# vec 0 absent; everything else scorable.
_NO_PROBE_VECS = [
    (1, [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0], 0),
    (2, [-1.0, -2.0, -3.0, -4.0, -5.0, -6.0, -7.0, -8.0], 1),
    (3, [8.0, 7.0, 6.0, 5.0, 4.0, 3.0, 2.0, 1.0], 1),
    (4, [2.0, 4.0, 6.0, 8.0, 10.0, 12.0, 14.0, 16.0], 2),
]

# vec 0 duplicated with DISTINCT embeddings (grid-separated, so the
# quantized order matches the raw order) — both engines must pick the
# lexicographically smallest.
_DUP_PROBE_VECS = [
    (0, [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0], 0),
    (0, [2.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0], 0),
    (1, [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0], 1),
    (2, [8.0, 7.0, 6.0, 5.0, 4.0, 3.0, 2.0, 1.0], 1),
    (3, [0.0] * _DIM, 2),
]

# vec 0 duplicated with GRID-COLLIDING embeddings (ADVICE r11): the
# raw order and the quantized order DISAGREE, so an oracle that sorts
# probe candidates by the quantized list picks a different probe than
# the engine's raw-embedding sort. Two collision classes:
#   rounding: 1.0 and 1.0+2^-22 both quantize to floor(x*2^20+0.5) =
#     1048576, but raw-min row carries the LARGER second element;
#   clamp: 9.0 and 10.0 both clamp to +2^23, again with the raw-min
#     row larger on the tie-break element.
# Raw min = [1.0, 3.0, ...]; quantized min would be [1.0+2^-22, 2.0,
# ...]. All values are float32-exact (2^-22 needs 22 fraction bits).
_DUP_PROBE_COLLIDE_VECS = [
    (0, [1.0, 3.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0], 0),
    (0, [1.0 + 2.0**-22, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0], 0),
    (0, [9.0, 5.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0], 0),
    (0, [10.0, 1.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0], 0),
    (1, [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0], 1),
    (2, [8.0, 7.0, 6.0, 5.0, 4.0, 3.0, 2.0, 1.0], 1),
    (3, [0.0] * _DIM, 2),
]

_PROBE_EDGE_KEYS = ["q_sim_topk", "q_sim_topk_pandas"]


@pytest.fixture(scope="module")
def no_probe_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("no_probe_emb"))
    write_fixture(d, _NO_PROBE_VECS)
    return d


@pytest.fixture(scope="module")
def dup_probe_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("dup_probe_emb"))
    write_fixture(d, _DUP_PROBE_VECS)
    return d


@pytest.mark.parametrize("name", _PROBE_EDGE_KEYS)
def test_missing_probe_parity(spark, no_probe_dir, name):
    spec = specs()[name]
    compare_query(spark, name, spec.builder, spec.oracle, no_probe_dir)


@pytest.mark.parametrize("name", _PROBE_EDGE_KEYS)
def test_duplicate_probe_parity(spark, dup_probe_dir, name):
    spec = specs()[name]
    compare_query(spark, name, spec.builder, spec.oracle, dup_probe_dir)


@pytest.fixture(scope="module")
def dup_probe_collide_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("dup_probe_collide_emb"))
    write_fixture(d, _DUP_PROBE_COLLIDE_VECS)
    return d


@pytest.mark.parametrize("name", _PROBE_EDGE_KEYS)
def test_duplicate_probe_grid_collision_parity(
    spark, dup_probe_collide_dir, name
):
    """Quantize-colliding duplicate probes: raw order != quantized
    order, so both sides must sort candidates by the RAW embedding
    (ADVICE r11)."""
    spec = specs()[name]
    compare_query(spark, name, spec.builder, spec.oracle, dup_probe_collide_dir)


def test_missing_probe_engine_shape(spark, no_probe_dir):
    """Engine contract, independent of the oracle: no probe row ->
    every cosine NULL, result still fills k (4 corpus rows here)."""
    rows = specs()["q_sim_topk_pandas"].builder(spark, no_probe_dir).collect()
    assert len(rows) == 4
    assert all(r.cosine is None for r in rows)
    assert [r.vec_id for r in rows] == [1, 2, 3, 4]


# --- PQ-family selection-pressure fixtures (r11) -----------------------------
# The 12-row nasty fixture can't catch shortlist divergence: with fewer
# corpus rows than the ADC shortlist (50), EVERY vector survives to the
# exact rerank and encode-path differences are invisible. These
# fixtures exceed the shortlist so the quantized-grid encode/ADC path
# actually SELECTS — which is where the pre-fix Inf-element mix of
# finite and NaN quantized values diverged between engines.

_PQ_KEYS = ["q_sim_pq_topk", "q_sim_ivfpq_topk", "q_sim_ivf_kmeans_topk"]


def _selective_rows():
    import math

    rows = []
    for i in range(70):  # > shortlist=50
        # deterministic, grid-separated values in [-1, 1]
        rows.append(
            (i, [math.sin(0.1 * i + 0.37 * j) for j in range(8)], i % 5)
        )
    rows.append((70, [1.0, 2.0, float("inf"), 4.0, 5.0, 6.0, 7.0, 8.0], 5))
    rows.append((71, [1.0, float("nan"), 3.0, 4.0, 5.0, 6.0, 7.0, 8.0], 5))
    rows.append((72, [0.0] * 8, 5))
    rows.append((73, None, 5))
    # inner-NULL element (ADVICE r11): the engine's norm/exists folds
    # poison to NULL (row unscorable / not a member) while DuckDB's
    # list_filter DROPS NULL-predicate elements — both sides must gate
    # it explicitly.
    rows.append((74, [1.0, None, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0], 5))
    return rows


@pytest.fixture(scope="module")
def selective_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("selective_emb"))
    write_fixture(d, _selective_rows())
    return d


@pytest.mark.parametrize("name", _PQ_KEYS)
def test_pq_selective_shortlist_parity(spark, selective_dir, name):
    spec = specs()[name]
    compare_query(spark, name, spec.builder, spec.oracle, selective_dir)


@pytest.fixture(scope="module")
def all_garbage_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("garbage_emb"))
    write_fixture(d, [
        (0, None, 0),
        (1, [], 0),
        (2, [0.0] * 8, 1),
        (3, [float("nan")] * 8, 1),
        (4, [float("inf"), 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0], 2),
        (5, [1.0, None, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0], 2),
    ])
    return d


@pytest.mark.parametrize("name", _PQ_KEYS)
def test_pq_all_garbage_corpus_parity(spark, all_garbage_dir, name):
    """No scorable vector at all: no seeds, no codebooks — both engines
    must emit the same (degenerate) result rather than erroring."""
    spec = specs()[name]
    compare_query(spark, name, spec.builder, spec.oracle, all_garbage_dir)


# --- inner-NULL-element fixtures (ADVICE r11) --------------------------------
# A vector like [1.0, NULL, 3.0, ...] splits engine/oracle behavior in
# two places unless both gate it explicitly: (a) membership/seeding —
# Spark's exists() predicate returns NULL so the filter DROPS the row,
# while DuckDB's list_filter drops NULL-predicate elements so a
# len()=0 finite check PASSES it; (b) scoring — Spark's zip_with fold
# poisons to NULL while DuckDB's list_inner_product ERRORS outright.
# These keys' oracles all carry the explicit gates; the fixture places
# the inner-NULL row inside the seed range (vec_id < 16) so it
# competes for seeding, membership, AND scoring on both sides.

_INNER_NULL_VECS = [
    (0, [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0], 0),
    (1, [2.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0], 0),
    (2, [1.0, None, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0], 1),  # inner NULL, seed range
    (3, [8.0, 7.0, 6.0, 5.0, 4.0, 3.0, 2.0, 1.0], 1),
    (4, [2.0, 4.0, 6.0, 8.0, 10.0, 12.0, 14.0, 16.0], 2),
    (5, [None] * _DIM, 2),  # every element NULL
    (6, [-1.0, -2.0, -3.0, -4.0, -5.0, -6.0, -7.0, -8.0], 3),
]

_INNER_NULL_KEYS = [
    "q_sim_ivf_topk",
    "q_sim_ivf_kmeans_topk",
    "q_dedup_embedding_bucketed",
    "q_sim_pq_topk",
    "q_sim_ivfpq_topk",
    # emb_quality tier: inner-NULL rows must land in the n_nonfinite
    # census bucket / be excluded from centroids and 1-NN on BOTH
    # engines (the explicit `v IS NULL` disjunct in their bad-vec gate)
    "q_emb_norm_audit",
    "q_emb_outlier",
    "q_sim_knn_agreement",
]


@pytest.fixture(scope="module")
def inner_null_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("inner_null_emb"))
    write_fixture(d, _INNER_NULL_VECS)
    return d


@pytest.mark.parametrize("name", _INNER_NULL_KEYS)
def test_inner_null_element_parity(spark, inner_null_dir, name):
    spec = specs()[name]
    compare_query(spark, name, spec.builder, spec.oracle, inner_null_dir)


# --- adaptive-cell-count parity (r12) ----------------------------------------
# q_dedup_embedding_bucketed's cell count adapts as ceil(n/125) clamped
# [16, 65536]; every other fixture (and sf0.01 itself, 2000 vectors)
# clamps to the historical 16, so without this fixture the adaptive
# branch would be perf-tested but never ORACLE-verified. 2600 vectors
# -> 21 cells on both engines.


@pytest.fixture(scope="module")
def adaptive_cells_dir(tmp_path_factory):
    import math

    d = str(tmp_path_factory.mktemp("adaptive_cells_emb"))
    rows = [
        (i, [math.sin(0.01 * i + 0.37 * j) for j in range(8)], i % 7)
        for i in range(2600)
    ]
    write_fixture(d, rows)
    return d


def test_adaptive_cell_count_parity(spark, adaptive_cells_dir):
    from database_cloner_spark.llm.dedup import (
        BUCKETED_CELL_FLOOR,
        BUCKETED_CELL_TARGET,
    )

    assert -(-2600 // BUCKETED_CELL_TARGET) > BUCKETED_CELL_FLOOR, (
        "fixture no longer exercises the adaptive branch"
    )
    spec = specs()["q_dedup_embedding_bucketed"]
    compare_query(
        spark,
        "q_dedup_embedding_bucketed",
        spec.builder,
        spec.oracle,
        adaptive_cells_dir,
    )


# --- dup vec_id x grid-identical embedding x DIFFERENT labels ---------------
# The q_sim_knn_agreement probe identity is (vec_id, quantized
# embedding, label). Two rows sharing vec_id AND quantized embedding
# but carrying different labels must be TWO probes (two n_eval rows,
# one per label) — a code-review fixture showed the oracle's original
# PARTITION BY (avid, aqe) merging them into one rn=1 row with an
# arbitrary albl while the engine's groupBy kept both. The 1.0 vs
# 1.0 + 2^-22 pair quantizes to the SAME grid value (rounding
# collision), so this also covers colliding-but-not-identical floats.

_DUP_ID_LABEL_VECS = [
    (0, [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0], 0),
    (0, [1.0 + 2.0**-22, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0], 7),
    (1, [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 9.0], 0),
    (2, [8.0, 7.0, 6.0, 5.0, 4.0, 3.0, 2.0, 1.0], 1),
]

_DUP_ID_LABEL_KEYS = [
    "q_sim_knn_agreement",
    "q_emb_norm_audit",
    "q_emb_outlier",
    "q_emb_coverage",
]


@pytest.fixture(scope="module")
def dup_id_label_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("dup_id_label_emb"))
    write_fixture(d, _DUP_ID_LABEL_VECS)
    # q_emb_coverage also reads documents: docs 0-2 map onto the
    # vectors above (doc 0 hits the DUPLICATE vec_id 0 -> n_multi),
    # doc 3 has no vector at all (missing).
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([0, 1, 2, 3], pa.int64()),
                "text": pa.array(["a b", "c d", "e f", "g h"]),
                "lang": pa.array(["en"] * 4),
                "source": pa.array(["web"] * 4),
                "n_chars": pa.array([3, 3, 3, 3], pa.int64()),
            }
        ),
        os.path.join(d, "documents.parquet"),
    )
    return d


@pytest.mark.parametrize("name", _DUP_ID_LABEL_KEYS)
def test_dup_id_distinct_label_parity(spark, dup_id_label_dir, name):
    spec = specs()[name]
    compare_query(spark, name, spec.builder, spec.oracle, dup_id_label_dir)


def test_dup_id_distinct_label_yields_two_probes(spark, dup_id_label_dir):
    got = {
        r["label"]: r
        for r in specs()["q_sim_knn_agreement"]
        .builder(spark, dup_id_label_dir)
        .collect()
    }
    # label 7's only member is the colliding duplicate of vec 0 — it
    # must be evaluated as its own probe, not swallowed by label 0's
    assert got[7]["n_eval"] == 1
    assert got[0]["n_eval"] == 2
