"""Embedding-corpus quality operators for the training-data tier.

Four first-class audits a large-scale embedding pipeline runs between
encoder output and index/training consumption (extending the §2.11 LLM
tier like queries/corpus_stats.py — the reference has no analogue):

- q_emb_norm_audit — per-label vector-health census: NULL / empty /
  non-finite / all-zero counts plus the exact min/max/median quantized
  squared norm (a collapsed or exploding encoder shows up here first).
- q_emb_outlier — per-label top-5 farthest members from the label's
  exact-integer-grid centroid (mislabeled / corrupt-vector detector;
  the embedding-space twin of q_dq_outlier_fences).
- q_emb_coverage — per-source doc<->vector referential audit (missing /
  covered / degraded / multi + coverage rate; the ML twin of
  q_dq_referential).
- q_sim_knn_agreement — exact 1-NN label-agreement rate per label
  (the standard label-noise audit), capped brute-force baseline like
  q_dedup_embedding; the scale path is the IVF-cell candidate join.

Float discipline: every cross-engine-hashed number is either an exact
integer on the functions/vector.py quantization grid (sums/distances
fold in LONG, so even adversarial clamp-magnitude vectors — where
per-term squares reach 2^48 and sums 2^54, past float64's exact-integer
range — stay exact) or a functions/rational.ratio rational. Neighbor
selection uses squared L2 on the grid, NOT cosine: distances are exact
integers, so the argmin is bit-deterministic with no sqrt/division in
the ORDER BY.

Vector scorability here gates inner-NULL elements EXPLICITLY
(`v IS NULL OR isnan OR inf` on both engines): Spark's three-valued
`exists` would return NULL for a [1.0, NULL, ...] vector while DuckDB's
`bool_or` skips NULLs and returns FALSE — the exact divergence class
ADVICE r11 flagged on the Lloyd membership gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from database_cloner_spark.functions import ranks
from database_cloner_spark.functions.vector import Q_CLAMP, Q_SCALE, quantize
from database_cloner_spark.functions.rational import ratio, ratio_sql
from database_cloner_spark.registry import register
from database_cloner_spark.sources import load

# DuckDB replay of functions/vector.quantize for a KNOWN-FINITE element
# (scorability is gated before this runs, so no NaN branch is needed):
# clamp-then-floor onto the Q_SCALE/Q_CLAMP integer grid, each step one
# correctly-rounded IEEE op (same fragment as queries/llm_ops._q_sql).
# Constants interpolate from functions/vector.py so a grid retune can't
# drift this replay.
_QE_SQL = (
    "list_transform(embedding, x -> FLOOR(LEAST(GREATEST("
    f"x::DOUBLE * {Q_SCALE!r} + 0.5, {-Q_CLAMP!r}), {Q_CLAMP!r})))"
)

# Any element NULL / NaN / non-finite => the vector is unscorable. The
# inner x IS NULL disjunct keeps the predicate two-valued on both
# engines (see module docstring).
_BAD_SQL = (
    "COALESCE(list_aggregate(list_transform(embedding, "
    "x -> x IS NULL OR isnan(x::DOUBLE) OR NOT isfinite(x::DOUBLE)), "
    "'bool_or'), FALSE)"
)


def _bad_vec() -> F.Column:
    """Spark twin of _BAD_SQL (two-valued: NULL elements hit the
    isNull disjunct instead of NULL-poisoning `exists`)."""
    return F.coalesce(
        F.exists(
            F.col("embedding"),
            lambda v: v.isNull()
            | F.isnan(v)
            | (F.abs(v) == F.lit(float("inf"))),
        ),
        F.lit(False),
    )


def _qe() -> F.Column:
    """Quantized integer-grid copy of a known-finite embedding."""
    return F.transform(
        F.col("embedding"), lambda x: quantize(x.cast("double"))
    )


def _cnt(c) -> F.Column:
    """Conditional count (rows where c holds; NULL condition counts 0)."""
    return F.count(F.when(c, F.lit(1)))


def _dist2(a, b) -> F.Column:
    """Exact integer-grid squared L2 between two quantized arrays,
    folded in LONG: per-term squares reach 2^48 and sums 2^54 — past
    float64's 2^53 exact-integer range, so the fold must be integral.
    zip_with NULL-pads the shorter array and padded terms count 0,
    which equals the oracle's LEAST-length truncation (mixed-dimension
    rows contribute only their shared prefix on both engines)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: F.when(
                x.isNull() | y.isNull(), F.lit(0).cast("long")
            ).otherwise(((x - y) * (x - y)).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )


def _dist2_sql(a: str, b: str) -> str:
    """DuckDB twin of _dist2: each term CAST to BIGINT BEFORE the sum
    (a double list_sum of 2^54-scale integers would round)."""
    return (
        f"CAST(COALESCE(list_sum("
        f"[CAST(({a}[i] - {b}[i]) * ({a}[i] - {b}[i]) AS BIGINT) "
        f"for i in range(1, LEAST(len({a}), len({b})) + 1)]), 0) AS BIGINT)"
    )


# --- q_emb_norm_audit ------------------------------------------------------

_ORACLE_NORM_AUDIT = f"""
WITH base AS (
  SELECT label,
         embedding IS NULL AS is_null,
         CASE WHEN embedding IS NULL THEN NULL
              ELSE len(embedding) END AS d,
         {_BAD_SQL} AS bad,
         embedding
  FROM embeddings
),
q AS (
  SELECT label, is_null, d, bad,
         CASE WHEN NOT is_null AND d > 0 AND NOT bad
              THEN {_QE_SQL} END AS qe
  FROM base
),
s AS (
  SELECT label, is_null, d, bad, qe IS NOT NULL AS scorable,
         CASE WHEN qe IS NOT NULL THEN CAST(list_sum(
           list_transform(qe, v -> CAST(v * v AS BIGINT))) AS BIGINT)
         END AS normsq
  FROM q
),
census AS (
  SELECT label,
         COUNT(*)::BIGINT AS n_vecs,
         COUNT(CASE WHEN is_null THEN 1 END)::BIGINT AS n_null_vec,
         COUNT(CASE WHEN NOT is_null AND d = 0 THEN 1 END)::BIGINT
           AS n_empty,
         COUNT(CASE WHEN NOT is_null AND d > 0 AND bad THEN 1 END)::BIGINT
           AS n_nonfinite,
         COUNT(CASE WHEN scorable THEN 1 END)::BIGINT AS n_scorable,
         COUNT(CASE WHEN scorable AND normsq = 0 THEN 1 END)::BIGINT
           AS n_zero,
         MIN(normsq) AS min_normsq,
         MAX(normsq) AS max_normsq
  FROM s GROUP BY label
),
vc AS (
  SELECT label, normsq, COUNT(*) AS cnt
  FROM s WHERE scorable GROUP BY label, normsq
),
cum AS (
  SELECT label, normsq,
         SUM(cnt) OVER (PARTITION BY label ORDER BY normsq
                        ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(cnt) OVER (PARTITION BY label) AS n_sc
  FROM vc
),
med AS (
  SELECT label, MIN(normsq) AS med_normsq
  FROM cum WHERE cum >= (n_sc + 1) // 2 GROUP BY label
)
SELECT census.*, med.med_normsq
FROM census LEFT JOIN med
  ON census.label IS NOT DISTINCT FROM med.label
"""


@register("q_emb_norm_audit", oracle=_ORACLE_NORM_AUDIT, tier="X")
def q_emb_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding-health census: row counts by degradation
    class (NULL vector / empty array / non-finite-or-NULL element /
    scorable / all-zero) and the exact min/max/lower-median quantized
    squared norm of the scorable rows. All outputs are exact BIGINTs
    (norms fold in LONG on the integer grid — no float aggregation, no
    libm), so the key carries a full hash oracle. The median is the
    smallest normsq whose functions/ranks.py running count over the
    (label, normsq) count table reaches (n+1) div 2. Shape: one
    map-side projection feeding two label-keyed partial-aggregated
    exchanges (census + count table); the census/median join is
    null-safe so the NULL-label group keeps its median."""
    e = load(spark, sf_dir, "embeddings")
    is_null = F.col("embedding").isNull()
    d = F.when(~is_null, F.size("embedding"))
    bad = _bad_vec()
    scorable = ~is_null & (d > 0) & ~bad
    normsq = F.when(
        scorable,
        F.aggregate(
            _qe(),
            F.lit(0).cast("long"),
            lambda acc, q: acc + (q * q).cast("long"),
        ),
    )
    rows = e.select(
        "label",
        is_null.alias("is_null"),
        d.alias("d"),
        bad.alias("bad"),
        scorable.alias("scorable"),
        normsq.alias("normsq"),
    )
    census = rows.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        _cnt(F.col("is_null")).alias("n_null_vec"),
        _cnt(~F.col("is_null") & (F.col("d") == 0)).alias("n_empty"),
        _cnt(~F.col("is_null") & (F.col("d") > 0) & F.col("bad")).alias(
            "n_nonfinite"
        ),
        _cnt(F.col("scorable")).alias("n_scorable"),
        _cnt(F.col("scorable") & (F.col("normsq") == 0)).alias("n_zero"),
        F.min("normsq").alias("min_normsq"),
        F.max("normsq").alias("max_normsq"),
    )
    vc = (
        rows.filter("scorable")
        .groupBy("label", "normsq")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cum, n_sc = ranks.running("cnt", ["label"], "normsq")
    med = (
        vc.select("label", "normsq", cum.alias("cum"), n_sc.alias("n_sc"))
        .filter(
            F.col("cum")
            >= F.call_function("div", F.col("n_sc") + 1, F.lit(2).cast("long"))
        )
        .groupBy("label")
        .agg(F.min("normsq").alias("med_normsq"))
    )
    return census.join(
        med.withColumnRenamed("label", "mlabel"),
        census["label"].eqNullSafe(F.col("mlabel")),
        "left",
    ).drop("mlabel")


# --- q_emb_outlier ---------------------------------------------------------

# Members: scorable AND labeled (a NULL label has no centroid to be an
# outlier FROM; unscorable vectors are census material for
# q_emb_norm_audit, not geometry). Centroid per (label, dim) is the
# exact-integer-grid mean FLOOR(SUM(q)/COUNT + 0.5) in GRID units (the
# kmeans_centroids discipline, llm/similarity.py — sums exact while
# n < 2^30 per label). Distances fold per-term CASTs to BIGINT so the
# sum is exact even at clamp magnitude (2^54 > float64's 2^53 exact
# range). Mixed-dimension rows contribute only their shared prefix:
# Spark zip_with NULL-pads the shorter side (term -> 0), the oracle
# iterates to LEAST(len, len) — identical truncation semantics.
_ORACLE_EMB_OUTLIER = f"""
WITH members AS (
  SELECT label, vec_id, {_QE_SQL} AS qe
  FROM embeddings
  WHERE label IS NOT NULL AND embedding IS NOT NULL
    AND len(embedding) > 0 AND NOT {_BAD_SQL}
),
dims AS (
  SELECT label, unnest(qe) AS qv,
         unnest(generate_series(1, len(qe))) AS dim
  FROM members
),
cent AS (
  SELECT label, dim, FLOOR(SUM(qv) / COUNT(*) + 0.5) AS m
  FROM dims GROUP BY label, dim
),
carr AS (
  SELECT label, list(m ORDER BY dim) AS c FROM cent GROUP BY label
),
d2 AS (
  SELECT members.label, vec_id, {_dist2_sql("qe", "c")} AS dist2
  FROM members JOIN carr USING (label)
)
SELECT label, vec_id, dist2, outlier_rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY label
                               ORDER BY dist2 DESC, vec_id ASC)
              AS outlier_rank
  FROM d2
)
WHERE outlier_rank <= 5
"""


@register("q_emb_outlier", oracle=_ORACLE_EMB_OUTLIER, tier="X")
def q_emb_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label top-5 centroid outliers: the scorable labeled vectors
    farthest (exact integer-grid squared L2) from their label's
    exact-integer-grid mean — the mislabeled/corrupt-vector detector.
    Shape: posexplode -> one (label, dim)-keyed partial-aggregated
    exchange of n_labels x dim sum/count states (never vectors), the
    tiny centroid table broadcast back, distances map-side in a LONG
    fold, then a label-keyed top-5 window on bare (label, vec_id,
    dist2) rows — WindowGroupLimit prunes to <=5 rows per map
    partition per label before the exchange, so the final shuffle is
    O(labels x partitions), not O(rows)."""
    e = load(spark, sf_dir, "embeddings")
    members = e.filter(
        F.col("label").isNotNull()
        & F.col("embedding").isNotNull()
        & (F.size("embedding") > 0)
        & ~_bad_vec()
    ).select("label", "vec_id", _qe().alias("qe"))
    dims = members.select(
        "label", F.posexplode("qe").alias("dim", "qv")
    )
    cent = dims.groupBy("label", "dim").agg(
        F.floor(F.sum("qv") / F.count(F.lit(1)) + F.lit(0.5))
        .cast("double")
        .alias("m")
    )
    carr = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "m"))),
            lambda s: s["m"],
        ).alias("c")
    )
    scored = members.join(F.broadcast(carr), "label").select(
        "label",
        "vec_id",
        _dist2(F.col("qe"), F.col("c")).alias("dist2"),
    )
    order = [F.desc("dist2"), F.asc("vec_id")]
    return ranks.top(scored, ["label"], order, 5, rank="outlier_rank").select(
        "label", "vec_id", "dist2", "outlier_rank"
    )


# --- q_emb_coverage ----------------------------------------------------------

# The doc<->vector referential audit: every training document should
# carry exactly one SCORABLE embedding (doc_id == vec_id by pipeline
# contract). Reported per source so a broken encoder shard shows up as
# ITS source's coverage dropping, not a global average smearing it out.
_ORACLE_EMB_COVERAGE = f"""
WITH ec AS (
  SELECT vec_id, COUNT(*) AS n_rows,
         COUNT(CASE WHEN embedding IS NOT NULL AND len(embedding) > 0
                         AND NOT {_BAD_SQL} THEN 1 END) AS n_scor
  FROM embeddings GROUP BY vec_id
)
SELECT d.source,
       COUNT(*)::BIGINT AS n_docs,
       COUNT(CASE WHEN ec.n_rows IS NULL THEN 1 END)::BIGINT AS n_missing,
       COUNT(CASE WHEN ec.n_scor >= 1 THEN 1 END)::BIGINT AS n_covered,
       COUNT(CASE WHEN ec.n_rows IS NOT NULL AND ec.n_scor = 0 THEN 1 END)
         ::BIGINT AS n_degraded,
       COUNT(CASE WHEN ec.n_rows >= 2 THEN 1 END)::BIGINT AS n_multi,
       {ratio_sql("COUNT(CASE WHEN ec.n_scor >= 1 THEN 1 END)", "COUNT(*)", 4)}
         AS coverage_rate
FROM documents d LEFT JOIN ec ON d.doc_id = ec.vec_id
GROUP BY d.source
"""


@register("q_emb_coverage", oracle=_ORACLE_EMB_COVERAGE, tier="X")
def q_emb_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source embedding-coverage audit — the ML-pipeline twin of
    q_dq_referential: for every document, is there an embedding row
    (doc_id == vec_id), is at least one SCORABLE (finite, non-empty,
    no NULL elements), and is the mapping 1:1? Buckets per source:
    missing (no row) / covered (>=1 scorable) / degraded (rows exist,
    none scorable), plus the multi-row count and a rational.ratio
    coverage rate. NULL doc_ids never equi-match (both engines) and
    land in missing; NULL sources group as their own row. Shape:
    embeddings pre-aggregate to (vec_id, 2 counts) — the join ships
    16-byte count rows, never vectors — then one doc_id=vec_id
    equi-join and a tiny source rollup."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    e = load(spark, sf_dir, "embeddings")
    scorable = (
        F.col("embedding").isNotNull()
        & (F.size("embedding") > 0)
        & ~_bad_vec()
    )
    ec = e.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(scorable, F.lit(1))).alias("n_scor"),
    )
    j = docs.join(ec, docs["doc_id"] == ec["vec_id"], "left")
    covered = _cnt(F.col("n_scor") >= 1)
    total = F.count(F.lit(1))
    return j.groupBy("source").agg(
        total.alias("n_docs"),
        _cnt(F.col("n_rows").isNull()).alias("n_missing"),
        covered.alias("n_covered"),
        _cnt(F.col("n_rows").isNotNull() & (F.col("n_scor") == 0)).alias(
            "n_degraded"
        ),
        _cnt(F.col("n_rows") >= 2).alias("n_multi"),
        ratio(covered, total, 4).alias("coverage_rate"),
    )


# --- q_sim_knn_agreement ---------------------------------------------------

# Capped like q_dedup_embedding (vec_id < KNN_CAP on BOTH sides): the
# exact all-pairs 1-NN is the baseline; the scale path shares the
# IVF-cell candidate join of q_dedup_embedding_bucketed (llm/
# similarity.py) — candidates within probed cells instead of n^2.
# IMPORTED, not re-declared: retuning the brute-force cap in llm_ops
# must retune this key with it (the "same posture" claim).
from database_cloner_spark.queries.llm_ops import (  # noqa: E402
    EMB_BRUTE_CAP as KNN_CAP,
)

_ORACLE_KNN_AGREEMENT = f"""
WITH q AS (
  SELECT vec_id, label, {_QE_SQL} AS qe
  FROM embeddings
  WHERE vec_id < {KNN_CAP} AND label IS NOT NULL
    AND embedding IS NOT NULL AND len(embedding) > 0 AND NOT {_BAD_SQL}
),
p AS (
  SELECT a.vec_id AS avid, a.label AS albl, a.qe AS aqe,
         b.vec_id AS bvid, b.label AS blbl,
         {_dist2_sql("a.qe", "b.qe")} AS dist2
  FROM q a JOIN q b ON a.vec_id <> b.vec_id
),
nn AS (
  -- albl joins the PARTITION key: a probe row's identity is
  -- (vec_id, quantized embedding, label). Duplicate vec_ids with
  -- grid-COLLIDING embeddings but different labels are two probes on
  -- the engine side (groupBy avid, aqe, albl); partitioning by
  -- (avid, aqe) alone merged them into one rn=1 row with an arbitrary
  -- albl (caught by review fixture, regression-pinned in
  -- tests/test_adversarial_embeddings.py).
  SELECT albl, blbl,
         ROW_NUMBER() OVER (PARTITION BY avid, aqe, albl
                            ORDER BY dist2 ASC, bvid ASC, blbl ASC) AS rn
  FROM p
)
SELECT albl AS label,
       COUNT(*)::BIGINT AS n_eval,
       COUNT(CASE WHEN blbl = albl THEN 1 END)::BIGINT AS n_agree,
       {ratio_sql("COUNT(CASE WHEN blbl = albl THEN 1 END)", "COUNT(*)", 4)}
         AS agree_rate
FROM nn WHERE rn = 1
GROUP BY albl
"""


def _nn_local_schema(base: DataFrame) -> str:
    """Local-NN output schema for the kNN Arrow evaluators — the label
    type is passed through from the input (int32 in the driver
    testdata; adversarial fixtures vary) because albl becomes the
    query's output `label` column and blbl is compared against it.
    avid/bvid are internal (grouping key / tie-break field) and are
    pinned BIGINT: the evaluator works on an int64 copy anyway (pandas
    turns a nullable int column into float64, so passing the raw dtype
    through would emit floats when a group contains a NULL vec_id)."""
    lbl = base.schema["label"].dataType.simpleString()
    return (
        f"avid BIGINT, albl {lbl}, aqe ARRAY<DOUBLE>, "
        f"dist2 BIGINT, bvid BIGINT, blbl {lbl}"
    )

# Probe-row chunk bound for the pairwise int64 distance block: caps the
# materialized (chunk x n_cand) matrix at ~128 MB even when a skewed
# cell holds far more members than the adaptive target (the old JVM
# fold streamed pairs and never materialized the matrix).
_NN_BLOCK_ELEMS = 1 << 24


def _nn_in_group(pdf):
    """Per-group vectorized 1-NN (r13 optimization, guide §4.2): the
    per-pair `_dist2` HOF fold is interpreted per element and was the
    whole cost of both kNN keys (7.8s of q_sim_knn_agreement_bucketed's
    8.6s at sf0.1 was the pair-scoring stage). This evaluator computes
    the identical exact integer arithmetic in numpy int64 — per-term
    squares reach 2^48 and sums 2^54 exactly like the LONG fold, so
    the distances are BIT-EQUAL, not approximations.

    Semantics replicated from the join + min(struct) form:
    - probes are rows with role != 'c', candidates role != 'p';
    - a probe never matches its own vec_id (a.vec_id != b.vec_id, which
      also drops NULL-vec_id rows from both sides — three-valued);
    - mixed-dimension pairs score over the shared prefix (zip_with
      NULL-pads and padded terms count 0 == truncation to min length),
      implemented per (probe-dim, cand-dim) block;
    - the 1-NN is min over (dist2, bvid, blbl): candidates are sorted
      by (vec_id, label) once — numpy str comparison is code-point
      order == Spark's UTF8String binary order — so np.argmin's
      first-occurrence rule IS the struct-min tie-break, merged across
      dim blocks lexicographically by (dist2, candidate rank)."""
    import numpy as np
    import pandas as pd

    pdf = pdf[pdf["vec_id"].notna()]
    roles = pdf["role"]
    cand = pdf[roles != "p"]
    prob = pdf[roles != "c"]
    if len(cand) == 0 or len(prob) == 0:
        return pd.DataFrame(
            {
                "avid": pd.Series(dtype="int64"),
                "albl": prob["label"].iloc[:0],
                "aqe": prob["qe"].iloc[:0],
                "dist2": pd.Series(dtype="int64"),
                "bvid": pd.Series(dtype="int64"),
                "blbl": cand["label"].iloc[:0],
            }
        )
    cand = cand.sort_values(["vec_id", "label"], kind="stable")
    cvid = cand["vec_id"].to_numpy(np.int64)
    clbl = cand["label"].to_numpy()
    cq = [np.asarray(v, dtype=np.float64).astype(np.int64) for v in cand["qe"]]
    cdim = np.fromiter((len(v) for v in cq), dtype=np.int64, count=len(cq))
    pvid = prob["vec_id"].to_numpy(np.int64)
    pq = [np.asarray(v, dtype=np.float64).astype(np.int64) for v in prob["qe"]]
    pdim = np.fromiter((len(v) for v in pq), dtype=np.int64, count=len(pq))
    sent = np.iinfo(np.int64).max
    best_d = np.full(len(pq), sent, dtype=np.int64)
    best_j = np.zeros(len(pq), dtype=np.int64)
    for da in np.unique(pdim):
        pi = np.flatnonzero(pdim == da)
        a_full = np.stack([pq[i] for i in pi])
        for db in np.unique(cdim):
            ci = np.flatnonzero(cdim == db)
            p = int(min(da, db))
            b_t = np.stack([cq[j] for j in ci])[:, :p].T
            q2b = np.einsum("ij,ij->j", b_t, b_t)
            a_p = a_full[:, :p]
            q2a = np.einsum("ij,ij->i", a_p, a_p)
            chunk = max(1, _NN_BLOCK_ELEMS // max(1, len(ci)))
            for s in range(0, len(pi), chunk):
                rows = slice(s, s + chunk)
                blk = q2a[rows, None] - 2 * (a_p[rows] @ b_t) + q2b[None, :]
                blk[pvid[pi[rows], None] == cvid[ci][None, :]] = sent
                lj = blk.argmin(axis=1)
                ld = blk[np.arange(blk.shape[0]), lj]
                gj = ci[lj]
                gi = pi[rows]
                upd = (ld < best_d[gi]) | (
                    (ld == best_d[gi]) & (gj < best_j[gi])
                )
                best_d[gi] = np.where(upd, ld, best_d[gi])
                best_j[gi] = np.where(upd, gj, best_j[gi])
    ok = best_d != sent
    bj = best_j[ok]
    return pd.DataFrame(
        {
            "avid": pvid[ok],
            "albl": prob["label"].to_numpy()[ok],
            "aqe": prob["qe"].to_numpy()[ok],
            "dist2": best_d[ok],
            "bvid": cvid[bj],
            "blbl": clbl[bj],
        }
    )


def _knn_assign_schema(base: DataFrame) -> str:
    """Assignment-evaluator output schema (label type passed through,
    like _nn_local_schema)."""
    lbl = base.schema["label"].dataType.simpleString()
    return f"vec_id BIGINT, label {lbl}, qe ARRAY<DOUBLE>, cell_id BIGINT"


def _knn_assign_in_group(nprobe: int):
    """Vectorized nprobe-cell assignment (r13, the sf1 follow-up to the
    pair-evaluator rewrite): the n × n_cells centroid scoring used to
    be a BNLJ cross join evaluating the interpreted `_dist2` fold per
    (vector, cell), plus a window rank — with the adaptive cell count
    (n_cells ∝ n) that term is quadratic in corpus size and became the
    key's dominant cost at the sf1 decade jump once pair scoring was
    vectorized. Each block now scores its members against ALL centroids
    in one numpy int64 pass (exact — same 2^54-bounded integer grid as
    `_nn_in_group`) and emits each member's nprobe cells directly.

    Window semantics replicated exactly:
    - probe identity is (vec_id, qe, label): duplicate identities MERGE
      into one ranked stream of k copies of each cell's score, so a
      k-duplicated probe gets cells[j // k] for j < nprobe (the oracle's
      PARTITION BY q.vec_id, q.qe, q.label — this exact grouping, finer
      than the engine's old xxhash64(qe) stand-in only past 64-bit
      collisions);
    - order is (dist2 ASC, cell_id ASC): centroids are pre-sorted by
      cell_id, so a STABLE argsort on dist2 is the full tie-break
      (dist2 is never NULL — mixed dims score the shared prefix);
    - NULL vec_id members drop (they are pair-invisible downstream:
      every a.vec_id <> b.vec_id comparison is three-valued)."""

    def fn(pdf):
        import numpy as np
        import pandas as pd

        cents = pdf[pdf["role"] == "c"]
        mems = pdf[(pdf["role"] == "m") & pdf["vec_id"].notna()]
        if len(cents) == 0 or len(mems) == 0:
            return pd.DataFrame(
                {
                    "vec_id": pd.Series(dtype="int64"),
                    "label": mems["label"].iloc[:0],
                    "qe": mems["qe"].iloc[:0],
                    "cell_id": pd.Series(dtype="int64"),
                }
            )
        cents = cents.sort_values("cell_id", kind="stable")
        cid = cents["cell_id"].to_numpy(np.int64)
        cq = [np.asarray(v, np.float64).astype(np.int64) for v in cents["qe"]]
        cdim = np.fromiter((len(v) for v in cq), np.int64, len(cq))
        mvid = mems["vec_id"].to_numpy(np.int64)
        mlbl = mems["label"].to_numpy()
        mqe = list(mems["qe"])
        mq = [np.asarray(v, np.float64).astype(np.int64) for v in mqe]
        mdim = np.fromiter((len(v) for v in mq), np.int64, len(mq))
        # merge duplicate probe identities: representative row + count
        ident = pd.DataFrame(
            {
                "vid": mvid,
                "lbl": mlbl,
                "kb": [q.tobytes() for q in mq],
                "dim": mdim,
            }
        )
        reps, ks = [], []
        for pos in ident.groupby(
            ["vid", "lbl", "kb"], sort=False
        ).indices.values():
            reps.append(pos[0])
            ks.append(len(pos))
        reps = np.asarray(reps)
        ks = np.asarray(ks)
        d2 = np.empty((len(reps), len(cq)), dtype=np.int64)
        rdim = mdim[reps]
        for da in np.unique(rdim):
            ri = np.flatnonzero(rdim == da)
            a_full = np.stack([mq[reps[i]] for i in ri])
            for db in np.unique(cdim):
                cj = np.flatnonzero(cdim == db)
                p = int(min(da, db))
                b_t = np.stack([cq[j] for j in cj])[:, :p].T
                q2b = np.einsum("ij,ij->j", b_t, b_t)
                a_p = a_full[:, :p]
                q2a = np.einsum("ij,ij->i", a_p, a_p)
                d2[np.ix_(ri, cj)] = (
                    q2a[:, None] - 2 * (a_p @ b_t) + q2b[None, :]
                )
        # stable argsort on dist2 == (dist2 asc, cell_id asc): columns
        # are already in cell_id order
        top = np.argsort(d2, axis=1, kind="stable")[:, :nprobe]
        out_v, out_l, out_q, out_c = [], [], [], []
        for r in range(len(reps)):
            k = int(ks[r])
            n_emit = min(nprobe, k * len(cq))
            cells = [int(cid[top[r, j // k]]) for j in range(n_emit)]
            i0 = reps[r]
            out_v.extend([mvid[i0]] * n_emit)
            out_l.extend([mlbl[i0]] * n_emit)
            out_q.extend([mqe[i0]] * n_emit)
            out_c.extend(cells)
        return pd.DataFrame(
            {
                "vec_id": np.asarray(out_v, dtype=np.int64),
                "label": out_l,
                "qe": out_q,
                "cell_id": np.asarray(out_c, dtype=np.int64),
            }
        )

    return fn


def _nn_agree_rates(nn: DataFrame) -> DataFrame:
    """Shared final aggregate: per-label agreement census over the
    (avid, aqe, albl, nn struct) 1-NN frame."""
    agree = F.count(
        F.when(F.col("nn.blbl") == F.col("albl"), F.lit(1))
    )
    total = F.count(F.lit(1))
    return nn.groupBy(F.col("albl").alias("label")).agg(
        total.alias("n_eval"),
        agree.alias("n_agree"),
        ratio(agree, total, 4).alias("agree_rate"),
    )


@register("q_sim_knn_agreement", oracle=_ORACLE_KNN_AGREEMENT, tier="X")
def q_sim_knn_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-NN label-agreement rate per label — the standard
    label-noise / cluster-coherence audit: for every scorable labeled
    vector, find its nearest OTHER vector (exact integer-grid squared
    L2; ties broken by neighbor vec_id then label, so selection is
    bit-deterministic with no sqrt in the ORDER BY) and score whether
    the labels agree. Capped brute-force baseline (KNN_CAP on both
    engines, q_dedup_embedding posture). agree_rate is a rational.ratio
    rational of two exact counts.

    r13 execution rewrite (results identical, oracle unchanged): the
    n^2 pair stream used to be a broadcast NLJ whose per-pair `_dist2`
    HOF fold is interpreted per element — 4.3s at sf0.1 with the fold
    >90% of it. Now probes are blocked by pmod(vec_id, parallelism),
    candidates are replicated to every block (explode over the block
    sequence — cap-bounded rows, so the replicated shuffle is ~tens of
    MB), and each block computes its probes' exact 1-NN in ONE numpy
    int64 pass (_nn_in_group; bit-equal arithmetic, see its docstring).
    The per-block minimum is already global — every block holds ALL
    candidates — and the final min-struct merge keeps the dup-probe
    identity semantics (groupBy avid, aqe, albl) unchanged."""
    par = spark.sparkContext.defaultParallelism
    base = (
        load(spark, sf_dir, "embeddings")
        .filter(
            (F.col("vec_id") < KNN_CAP)
            & F.col("label").isNotNull()
            & F.col("embedding").isNotNull()
            & (F.size("embedding") > 0)
            & ~_bad_vec()
        )
        .select("vec_id", "label", _qe().alias("qe"))
    )
    probes = base.withColumn(
        "blk", F.pmod(F.col("vec_id"), F.lit(par)).cast("int")
    ).withColumn("role", F.lit("p"))
    cands = base.withColumn(
        "blk", F.explode(F.sequence(F.lit(0), F.lit(par - 1)))
    ).withColumn("role", F.lit("c"))
    local = (
        probes.unionByName(cands)
        .repartition(par, "blk")
        .groupBy("blk")
        .applyInPandas(_nn_in_group, schema=_nn_local_schema(base))
    )
    nn = local.groupBy("avid", "aqe", "albl").agg(
        F.min(F.struct("dist2", "bvid", "blbl")).alias("nn")
    )
    return _nn_agree_rates(nn)


# --- q_sim_knn_agreement_bucketed ------------------------------------------

# The IVF-celled scale twin of q_sim_knn_agreement (VERDICT r12 item 1):
# the exact key is KNN_CAP-bounded brute force; this key audits the WHOLE
# corpus with candidate generation bounded by cell population, the same
# blocking posture as q_dedup_embedding / q_dedup_embedding_bucketed
# (queries/llm_ops.py:739). Cell geometry is shared with llm/dedup.py —
# adaptive count ceil(n / TARGET) clamped [FLOOR, CEIL] holds per-cell
# population constant as the corpus grows (the round-12 fix that took the
# bucketed dedup's 10x-data ratio from 60.6x to 4.55x), and retuning the
# dedup constants retunes this key with them.
from database_cloner_spark.llm.dedup import (  # noqa: E402
    bucketed_cells,
    bucketed_cells_sql,
)

_KNN_NPROBE = 3

_ORACLE_KNN_AGREEMENT_BUCKETED = f"""
WITH q AS MATERIALIZED (
  SELECT vec_id, label, {_QE_SQL} AS qe
  FROM embeddings
  WHERE label IS NOT NULL AND embedding IS NOT NULL
    AND len(embedding) > 0 AND NOT {_BAD_SQL}
),
cents AS MATERIALIZED (
  -- seeded centroids on the SAME quantized grid as the probes: the
  -- whole assignment is exact-integer, so there is no float anywhere
  -- in this replay (unlike the bucketed dedup's cosine assignment).
  -- len > 0 is load-bearing: an empty centroid is at dist2 = 0 from
  -- EVERY vector under the shared-prefix rule and would win all
  -- nprobe slots, collapsing the index into one n^2 cell.
  SELECT vec_id AS cell_id, {_QE_SQL} AS cq
  FROM embeddings
  WHERE vec_id < (SELECT {bucketed_cells_sql("COUNT(*)")} FROM embeddings)
    AND embedding IS NOT NULL AND len(embedding) > 0 AND NOT {_BAD_SQL}
),
asg AS MATERIALIZED (
  SELECT vec_id, label, qe, cell_id FROM (
    SELECT q.vec_id, q.label, q.qe, c.cell_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id, q.qe, q.label
             ORDER BY {_dist2_sql("q.qe", "c.cq")} ASC, c.cell_id ASC
           ) AS rn
    FROM q CROSS JOIN cents c
  ) WHERE rn <= {_KNN_NPROBE}
),
p AS (
  SELECT a.vec_id AS avid, a.label AS albl, a.qe AS aqe,
         b.vec_id AS bvid, b.label AS blbl,
         {_dist2_sql("a.qe", "b.qe")} AS dist2
  FROM asg a JOIN asg b
    ON a.cell_id = b.cell_id AND a.vec_id <> b.vec_id
),
nn AS (
  -- a pair sharing >= 2 probed cells appears once per shared cell;
  -- the duplicates carry identical (dist2, bvid, blbl) so rn = 1
  -- selects the same neighbor regardless (the engine's MIN-struct
  -- fold dedups the same way).
  SELECT albl, blbl,
         ROW_NUMBER() OVER (PARTITION BY avid, aqe, albl
                            ORDER BY dist2 ASC, bvid ASC, blbl ASC) AS rn
  FROM p
)
SELECT albl AS label,
       COUNT(*)::BIGINT AS n_eval,
       COUNT(CASE WHEN blbl = albl THEN 1 END)::BIGINT AS n_agree,
       {ratio_sql("COUNT(CASE WHEN blbl = albl THEN 1 END)", "COUNT(*)", 4)}
         AS agree_rate
FROM nn WHERE rn = 1
GROUP BY albl
"""


def knn_nn_bucketed(
    embs: DataFrame,
    n_cells: int | None = None,
    nprobe: int = _KNN_NPROBE,
) -> DataFrame:
    """Per-probe bucketed 1-NN: (avid, aqe, albl, nn struct(dist2,
    bvid, blbl)). Every scorable labeled vector is assigned to its
    `nprobe` nearest seeded cells by EXACT integer-grid squared L2
    (ties -> cell_id), candidates are pairs sharing a cell, and the
    1-NN collapses map-side as MIN over a (dist2, bvid, blbl) struct —
    the q_sim_knn_agreement fold, so no pair row ever rides an
    exchange. Cost ~ sum(cell_pop^2) instead of n^2, recall controlled
    by nprobe/n_cells; a probe whose probed cells hold no other member
    yields no pair and drops out of the audit (inherent to blocking —
    the recall-floor test pins how rare that is).

    r13 execution rewrite (results identical, oracle unchanged): the
    within-cell pair join + per-pair `_dist2` HOF fold was 7.8s of the
    key's 8.6s at sf0.1 (2.25M interpreted 64-element folds). The cell
    group now goes through ONE Arrow batch per cell (_nn_in_group):
    numpy int64 arithmetic, bit-equal distances, candidate pairs never
    exist as rows at all — each cell emits one local-NN row per member
    and the cross-cell merge is the same min-struct fold.

    The pair input pins repartition(n_cells, cell_id): candidate work
    scales with cell population, not bytes, so AQE's byte-based
    coalescing is exactly wrong here (the llm/dedup.py lesson; the
    groupBy reuses this exchange — same key, same partition count).
    Assignment ranking happens inside _knn_assign_in_group with exact
    (vec_id, qe, label) byte-identity grouping and a stable argsort on
    dist2 over cell_id-sorted centroids (== the oracle's ORDER BY dist2
    ASC, cell_id ASC) — no window, no BNLJ cross in the plan."""
    if n_cells is None:
        n_cells = bucketed_cells(embs.count())
    scor = (
        F.col("embedding").isNotNull()
        & (F.size("embedding") > 0)
        & ~_bad_vec()
    )
    base = (
        embs.filter(F.col("label").isNotNull() & scor)
        .select("vec_id", "label", _qe().alias("qe"))
    )
    lbl_t = base.schema["label"].dataType.simpleString()
    par = embs.sparkSession.sparkContext.defaultParallelism
    mem = base.select(
        "vec_id",
        "label",
        "qe",
        F.lit(None).cast("long").alias("cell_id"),
        F.pmod(F.col("vec_id"), F.lit(par)).cast("int").alias("blk"),
        F.lit("m").alias("role"),
    )
    cts = embs.filter((F.col("vec_id") < n_cells) & scor).select(
        F.lit(None).cast("long").alias("vec_id"),
        F.lit(None).cast(lbl_t).alias("label"),
        _qe().alias("qe"),
        F.col("vec_id").cast("long").alias("cell_id"),
        F.explode(F.sequence(F.lit(0), F.lit(par - 1))).alias("blk"),
        F.lit("c").alias("role"),
    )
    asg = (
        mem.unionByName(cts)
        .repartition(par, "blk")
        .groupBy("blk")
        .applyInPandas(
            _knn_assign_in_group(nprobe), schema=_knn_assign_schema(base)
        )
        .withColumn("role", F.lit("b"))
    )
    local = (
        asg.repartition(n_cells, "cell_id")
        .groupBy("cell_id")
        .applyInPandas(_nn_in_group, schema=_nn_local_schema(asg))
    )
    return local.groupBy("avid", "aqe", "albl").agg(
        F.min(F.struct("dist2", "bvid", "blbl")).alias("nn")
    )


@register(
    "q_sim_knn_agreement_bucketed",
    oracle=_ORACLE_KNN_AGREEMENT_BUCKETED,
    tier="X",
)
def q_sim_knn_agreement_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IVF-celled 1-NN label-agreement audit — the SCALE path of
    q_sim_knn_agreement: no cap, the whole corpus, candidate pairs
    bounded by cell population (adaptive cell count shared with
    llm/dedup.py keeps that population constant as the corpus grows).
    Assignment, neighbor selection, and tie-breaks are all exact
    integer-grid arithmetic, so DuckDB replays the ENTIRE bucketed
    search (assignment ranks included) and the agree_rate is a
    rational.ratio of two exact counts. The recall floor vs the
    capped exact form is pinned in tests/test_emb_quality.py."""
    return _nn_agree_rates(knn_nn_bucketed(load(spark, sf_dir, "embeddings")))
