"""Semantic invariants for the emb_quality tier (queries/emb_quality.py).

The hash oracles prove engine/DuckDB agreement; these tests pin the
MEANING against hand-computed truths on tiny constructed corpora (the
tests/test_llm.py posture: an oracle proves both engines agree, not
that the census buckets partition, the outlier ranking is by distance,
or the agreement rate is the one you'd compute by hand).

All fixture coordinates are small integers or halves — exactly
representable on the functions/vector.py quantization grid — so every
expected value below is exact, not a tolerance check.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from database_cloner_spark.registry import specs


def _write(d: str, rows) -> str:
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                "embedding": pa.array(
                    [r[1] for r in rows], pa.list_(pa.float32())
                ),
                "label": pa.array([r[2] for r in rows], pa.int32()),
            }
        ),
        os.path.join(d, "embeddings.parquet"),
    )
    return d


# Two well-separated clusters plus one planted imposter: vec 7 carries
# label 1 but sits inside cluster A (label 0). All coordinates are
# within the quantizer's clamp range (|x| <= 8 at Q_SCALE/Q_CLAMP) so
# the grid geometry IS the written geometry. Hand-derived 1-NN (exact
# squared L2, ties -> min neighbor vec_id):
#   1 -> 7 (0.25)   disagree      4 -> 5/6 (1.0 tie, min bvid) agree
#   2 -> 7 (0.25)   disagree      5 -> 4 (1.0)    agree
#   3 -> 1 (1.0)    agree         6 -> 4 (1.0)    agree
#   7 -> 1 (0.25 tie with 2, min vec_id) disagree
_KNN_ROWS = [
    (1, [0.0, 0.0], 0),
    (2, [0.0, 1.0], 0),
    (3, [1.0, 0.0], 0),
    (4, [6.0, 6.0], 1),
    (5, [6.0, 7.0], 1),
    (6, [7.0, 6.0], 1),
    (7, [0.0, 0.5], 1),
]


@pytest.fixture(scope="module")
def knn_dir(tmp_path_factory):
    return _write(str(tmp_path_factory.mktemp("emb_knn")), _KNN_ROWS)


def test_knn_agreement_detects_planted_imposter(spark, knn_dir):
    got = {
        r["label"]: r
        for r in specs()["q_sim_knn_agreement"]
        .builder(spark, knn_dir)
        .collect()
    }
    assert got[0]["n_eval"] == 3 and got[0]["n_agree"] == 1
    assert got[0]["agree_rate"] == 0.3333  # rational.ratio(1, 3, 4)
    assert got[1]["n_eval"] == 4 and got[1]["n_agree"] == 3
    assert got[1]["agree_rate"] == 0.75


def test_outlier_ranking_is_by_distance(spark, knn_dir):
    # label 0 centroid ~ (1/3, 1/3): vecs 2 and 3 are equidistant and
    # farther than vec 1, so ranks are (2, 3, 1) via the vec_id
    # tie-break. vec 7 belongs to LABEL 1's geometry (it is that
    # cluster's extreme outlier — the imposter drags the label-1
    # centroid toward itself but stays several units out while the
    # true members sit ~1.5 away).
    out = (
        specs()["q_emb_outlier"].builder(spark, knn_dir).collect()
    )
    by_label = {}
    for r in out:
        by_label.setdefault(r["label"], []).append(r)
    l0 = sorted(by_label[0], key=lambda r: r["outlier_rank"])
    assert [r["vec_id"] for r in l0] == [2, 3, 1]
    assert l0[0]["dist2"] == l0[1]["dist2"] > l0[2]["dist2"]
    l1 = sorted(by_label[1], key=lambda r: r["outlier_rank"])
    assert l1[0]["vec_id"] == 7 and l1[0]["dist2"] > l1[1]["dist2"]
    # ranks are dense 1..n and never exceed 5
    for rows in by_label.values():
        assert sorted(r["outlier_rank"] for r in rows) == list(
            range(1, len(rows) + 1)
        )
        assert len(rows) <= 5


# Census fixture: every degradation class, two labels + a NULL label.
_CENSUS_ROWS = [
    (1, [3.0, 4.0], 0),            # scorable, normsq (3q)^2+(4q)^2
    (2, [0.0, 0.0], 0),            # scorable, all-zero
    (3, None, 0),                  # NULL vector
    (4, [], 0),                    # empty array
    (5, [1.0, float("nan")], 0),   # non-finite element
    (6, [1.0, None], 0),           # inner-NULL element -> non-finite
    (7, [1.0, 0.0], 1),            # scorable
    (8, [2.0, 0.0], 1),            # scorable
    (9, [3.0, 0.0], 1),            # scorable -> median is vec 8
    (10, [5.0, 6.0], None),        # scorable, NULL label
]

_Q = 1 << 20  # Q_SCALE


@pytest.fixture(scope="module")
def census_dir(tmp_path_factory):
    return _write(str(tmp_path_factory.mktemp("emb_census")), _CENSUS_ROWS)


def test_norm_audit_census_partitions_and_median(spark, census_dir):
    got = {
        r["label"]: r
        for r in specs()["q_emb_norm_audit"]
        .builder(spark, census_dir)
        .collect()
    }
    l0 = got[0]
    assert l0["n_vecs"] == 6
    assert (
        l0["n_null_vec"],
        l0["n_empty"],
        l0["n_nonfinite"],
        l0["n_scorable"],
        l0["n_zero"],
    ) == (1, 1, 2, 2, 1)
    assert l0["min_normsq"] == 0
    assert l0["max_normsq"] == 25 * _Q * _Q
    assert l0["med_normsq"] == 0  # lower median of {0, 25q^2}

    l1 = got[1]
    assert l1["n_vecs"] == l1["n_scorable"] == 3
    assert l1["med_normsq"] == 4 * _Q * _Q  # vec 8
    assert (l1["min_normsq"], l1["max_normsq"]) == (
        1 * _Q * _Q,
        9 * _Q * _Q,
    )

    # the NULL-label group is a first-class census row with a median
    ln = got[None]
    assert ln["n_vecs"] == ln["n_scorable"] == 1
    assert ln["med_normsq"] == 61 * _Q * _Q

    # bucket partition holds for every group
    for r in got.values():
        assert (
            r["n_null_vec"] + r["n_empty"] + r["n_nonfinite"] + r["n_scorable"]
            == r["n_vecs"]
        )


def test_emb_coverage_buckets_partition_and_flag_planted_gaps(
    spark, census_dir, tmp_path
):
    # documents 0..11 over two sources; embeddings are _CENSUS_ROWS
    # (ids 1-10): doc 0 + doc 11 have NO row (missing); docs 3,4,5,6
    # have rows but none scorable (degraded); the rest are covered.
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path)
    os.link(
        os.path.join(census_dir, "embeddings.parquet"),
        os.path.join(d, "embeddings.parquet"),
    )
    docs = [(i, f"doc {i}", "en", "web" if i < 6 else "books", 5)
            for i in range(12)]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in docs], pa.int64()),
                "text": pa.array([r[1] for r in docs]),
                "lang": pa.array([r[2] for r in docs]),
                "source": pa.array([r[3] for r in docs]),
                "n_chars": pa.array([r[4] for r in docs], pa.int64()),
            }
        ),
        os.path.join(d, "documents.parquet"),
    )
    got = {
        r["source"]: r
        for r in specs()["q_emb_coverage"].builder(spark, d).collect()
    }
    web = got["web"]  # docs 0-5: 0 missing-row, 1,2 covered, 3,4,5 degraded
    assert (web["n_docs"], web["n_missing"], web["n_covered"],
            web["n_degraded"]) == (6, 1, 2, 3)
    assert web["coverage_rate"] == 0.3333
    books = got["books"]  # docs 6-11: 6 degraded, 7-10 covered, 11 missing
    assert (books["n_docs"], books["n_missing"], books["n_covered"],
            books["n_degraded"]) == (6, 1, 4, 1)
    for r in got.values():
        assert r["n_missing"] + r["n_covered"] + r["n_degraded"] == r["n_docs"]
        assert r["n_multi"] == 0


# --- q_sim_knn_agreement_bucketed (r13: the IVF-celled scale twin) ---------


def test_knn_bucketed_equals_exact_on_allcentroid_fixture(spark, knn_dir):
    """With n <= cell floor every scorable vector seeds its own cell,
    each probe's nprobe nearest cells contain its true NN's own cell
    (a vector always probes itself at dist2 = 0), so the bucketed audit
    must reproduce the exact key's aggregates bit-for-bit."""
    exact = sorted(
        specs()["q_sim_knn_agreement"].builder(spark, knn_dir).collect(),
        key=lambda r: r["label"],
    )
    bucketed = sorted(
        specs()["q_sim_knn_agreement_bucketed"]
        .builder(spark, knn_dir)
        .collect(),
        key=lambda r: r["label"],
    )
    assert [tuple(r) for r in bucketed] == [tuple(r) for r in exact]


def test_knn_bucketed_recall_floor(spark):
    """Row-level recall vs brute force at sf0.001 (500 vectors, the
    floor-clamped 16-cell geometry — worst case for cell-sharing since
    the synthetic corpus is weakly clustered): the single-cell call
    (n_cells=1 -> only vec 0 seeds, every probe lands in that one cell)
    IS brute force through the same code path. Pins:
    - coverage: every probe brute force evaluates, the bucketed audit
      evaluates too (no cell-singleton dropouts at this geometry);
    - admissibility: a bucketed neighbor is never closer than the true
      NN (candidates are a subset of all pairs, scored exactly);
    - true-NN recall >= 0.75 (measured 0.796 at sf0.001 / 0.793 at
      sf0.1 — the weak-cluster floor; true-dup corpora sit far higher).
    """
    from database_cloner_spark.queries.emb_quality import knn_nn_bucketed
    from database_cloner_spark.sources import load

    embs = load(spark, "/root/testdata/sf0.001", "embeddings")
    exact = {
        (r["avid"], tuple(r["aqe"]), r["albl"]): r["nn"]["dist2"]
        for r in knn_nn_bucketed(embs, n_cells=1, nprobe=1).collect()
    }
    bucketed = {
        (r["avid"], tuple(r["aqe"]), r["albl"]): r["nn"]["dist2"]
        for r in knn_nn_bucketed(embs).collect()
    }
    assert set(bucketed) == set(exact) and len(exact) == 500
    assert all(bucketed[k] >= exact[k] for k in exact)
    recall = sum(1 for k in exact if bucketed[k] == exact[k]) / len(exact)
    assert recall >= 0.75, f"bucketed true-NN recall too low: {recall}"


def test_knn_bucketed_agreement_tracks_exact(spark):
    """The registered aggregates at sf0.001: per-label probe counts are
    IDENTICAL (full coverage), and the approximate neighbor shifts each
    label's agree_rate by at most 0.06 (max measured delta 0.037 at
    sf0.001, 0.0357 at sf0.1 — an approximate NN is still a near
    neighbor, so label agreement barely moves)."""
    sf = "/root/testdata/sf0.001"
    exact = {
        r["label"]: r
        for r in specs()["q_sim_knn_agreement"].builder(spark, sf).collect()
    }
    bucketed = {
        r["label"]: r
        for r in specs()["q_sim_knn_agreement_bucketed"]
        .builder(spark, sf)
        .collect()
    }
    assert set(bucketed) == set(exact)
    for lbl, e in exact.items():
        b = bucketed[lbl]
        assert b["n_eval"] == e["n_eval"]
        assert abs(b["agree_rate"] - e["agree_rate"]) <= 0.06, (
            lbl, e["agree_rate"], b["agree_rate"],
        )


# --- _nn_in_group (r13 vectorized 1-NN evaluator) ---------------------------


def test_nn_in_group_tiebreak_mixed_dims_and_null_vid():
    """Pure-pandas pin of the Arrow evaluator's replicated semantics
    (no Spark needed): struct-min tie-break order (dist2, then bvid,
    then blbl), shared-prefix scoring for mixed-dimension pairs
    (zip_with NULL-pad == truncation to min length), NULL vec_id rows
    excluded from BOTH sides (three-valued a.vec_id != b.vec_id), and
    self-exclusion across duplicate vec_id rows."""
    import pandas as pd

    from database_cloner_spark.queries.emb_quality import _nn_in_group

    rows = pd.DataFrame(
        {
            # probe 1 at [0,0]: candidates 2 and 3 both at dist2=1 —
            # tie on dist2 -> min bvid (2). candidate 2 appears TWICE
            # (dup vec_id, different label) at the same point: tie on
            # (dist2, bvid) -> min blbl ("a").
            # probe 9 has dim 3: vs dim-2 candidates only the shared
            # 2-element prefix scores (so cand 2 at prefix-dist2 1).
            # vec_id NULL row: never a probe, never a candidate.
            "vec_id": [1, 2, 2, 3, 9, None],
            "label": ["a", "b", "a", "a", "a", "a"],
            "qe": [
                [0.0, 0.0],
                [1.0, 0.0],
                [1.0, 0.0],
                [0.0, 1.0],
                [1.0, 0.0, 5.0],
                [0.0, 0.0],
            ],
            "role": ["b"] * 6,
        }
    )
    out = _nn_in_group(rows).set_index(["avid", "albl"])
    # probe 1: dist2 tie (cands 2,2,3 all at 1) -> bvid 2 -> blbl "a"
    assert tuple(out.loc[(1, "a")][["dist2", "bvid", "blbl"]]) == (1, 2, "a")
    # probe 9 (dim 3): cand 2 at shared-prefix dist2 0 beats everything
    assert tuple(out.loc[(9, "a")][["dist2", "bvid", "blbl"]]) == (0, 2, "a")
    # the dup-vec_id probes exclude each OTHER (same vec_id) — their
    # NN is the dim-3 vec 9, whose shared 2-element prefix [1,0] sits
    # at dist2 0 from them
    assert tuple(out.loc[(2, "b")][["dist2", "bvid", "blbl"]]) == (0, 9, "a")
    # NULL vec_id emitted nothing
    assert len(out) == 5


def test_nn_in_group_roles_split_probe_and_candidate_sides():
    """Role semantics for the blocked exact form: 'p' rows are scored,
    'c' rows are only candidates, and a probe whose only candidates
    share its vec_id gets no output row."""
    import pandas as pd

    from database_cloner_spark.queries.emb_quality import _nn_in_group

    rows = pd.DataFrame(
        {
            "vec_id": [1, 1, 2],
            "label": ["a", "a", "b"],
            "qe": [[0.0, 0.0], [3.0, 4.0], [1.0, 0.0]],
            "role": ["p", "c", "c"],
        }
    )
    out = _nn_in_group(rows)
    # probe 1 skips the role-c row with vec_id 1 and picks vec 2
    assert len(out) == 1 and out.iloc[0]["bvid"] == 2
    assert out.iloc[0]["dist2"] == 1
    only_self = pd.DataFrame(
        {
            "vec_id": [1, 1],
            "label": ["a", "a"],
            "qe": [[0.0, 0.0], [3.0, 4.0]],
            "role": ["p", "c"],
        }
    )
    assert len(_nn_in_group(only_self)) == 0
