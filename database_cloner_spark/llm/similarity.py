"""Similarity search over the embeddings table.

- brute-force cosine top-k: the correctness baseline; one pass, no
  shuffle beyond the final TakeOrdered. At 100 TB this is a full scan
  per probe — fine for batch scoring, wrong for interactive lookup.
- IVF (inverted-file) top-k: the scale path. Vectors are assigned to
  the nearest of K centroids once (one shuffle, reusable); a probe
  searches only the nprobe nearest cells, cutting the scanned fraction
  to ~nprobe/K with recall controlled by nprobe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from database_cloner_spark.functions import ranks
from database_cloner_spark.functions.partitioning import spread
from database_cloner_spark.functions.vector import cosine as _cosine
from database_cloner_spark.functions.vector import dot as _dot
from database_cloner_spark.functions.vector import norm as _norm


def probe_vector(embs: DataFrame, probe_id: int = 0) -> DataFrame:
    """1-row probe DataFrame (broadcast into the scoring scan)."""
    return embs.filter(F.col("vec_id") == probe_id).select(
        F.col("embedding").alias("probe")
    )


def brute_force_topk(embs: DataFrame, probe: DataFrame, k: int = 10) -> DataFrame:
    """Exact cosine top-k vs one probe vector. The probe is a broadcast
    cross join (1 row); ranking is TakeOrderedAndProject — per-partition
    heaps, no global sort."""
    cos = _cosine(F.col("embedding"), F.col("probe"))
    return (
        embs.crossJoin(F.broadcast(probe))
        .select("vec_id", cos.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id", F.round("cosine", 4).alias("cosine"))
    )


def multi_probe_topk(
    embs: DataFrame, n_probes: int = 8, k: int = 5
) -> DataFrame:
    """Batch ANN: exact cosine top-k for EACH of the first `n_probes`
    vectors in ONE corpus pass — the query-batching shape that
    amortizes the scan when many probes arrive together (dedup lookup
    batches, eval-set retrieval). The probe set broadcasts (n_probes
    rows); scoring is a map-side JVM fold per (vector, probe); the
    per-probe ranking is functions/ranks.top over probe_id, which
    plans as WindowGroupLimit — per-partition top-k heaps shuffle at
    most k·n_map_partitions rows per probe, never the scored corpus.
    At 100 TB with p probes this is one scan + a k·p-row result; the
    alternative (p separate brute_force_topk jobs) is p scans."""
    probes = embs.filter(F.col("vec_id") < n_probes).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe")
    )
    scored = embs.crossJoin(F.broadcast(probes)).select(
        "probe_id",
        "vec_id",
        _cosine(F.col("embedding"), F.col("probe")).alias("cosine"),
    )
    order = [F.desc("cosine"), F.asc("vec_id")]
    return ranks.top(scored, ["probe_id"], order, k, rank="rn").select(
        "probe_id",
        "vec_id",
        F.round("cosine", 4).alias("cosine"),
        "rn",
    )


def seed_centroids(embs: DataFrame, n_cells: int = 16) -> DataFrame:
    """Deterministic seeding: the first n_cells vectors as centroids.
    Non-finite vectors are excluded — a NaN centroid scores NaN against
    EVERY vector, and since NaN orders greatest on both engines it
    would win every assignment tie-break and collapse the index into
    one garbage cell (r10 NaN sweep)."""
    finite = F.expr(
        "NOT exists(embedding,"
        " v -> isnan(v) OR abs(v) = CAST('Infinity' AS DOUBLE))"
    )
    return embs.filter((F.col("vec_id") < n_cells) & finite).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("centroid")
    )


_FINITE_VEC = (
    "NOT exists(embedding, v -> isnan(v) OR abs(v) = CAST('Infinity' AS DOUBLE))"
)


def kmeans_centroids(
    embs: DataFrame, n_cells: int = 16, iters: int = 2
) -> DataFrame:
    """Lloyd's refinement of the seeded centroids, as pure DataFrame ops
    (drop-in for seed_centroids — same (cell_id, centroid) schema).

    Per iteration: assign every member vector to its max-cosine centroid
    (broadcast of n_cells rows against the scan), then recompute each
    centroid as the element-wise mean of its members — posexplode to
    (cell_id, dim, value), one partial-aggregated sum/count per
    (cell, dim), re-assembled in dim order. Shuffle payload per
    iteration is n_cells × dims partial states, never the vectors
    themselves. The iteration count is a small driver-side loop (the
    MLlib pattern); each iteration is one Spark job, so total cost =
    iters scans. Refined centroids balance cell sizes, which directly
    bounds the worst within-cell join cost of the bucketed near-dup
    (~Σcell²) and evens IVF probe latency.

    DETERMINISTIC SINCE ROUND 11 (the q_sim_ivf_kmeans_topk oracle,
    VERDICT r10 item 4): member values are quantized onto the exact
    integer grid (functions/vector.quantize) before summing, so the
    per-dim SUM is an exact float64 integer under any shuffle order,
    and the mean lands back on the grid via FLOOR(sum/count + 0.5)/S —
    every step a single correctly-rounded IEEE op DuckDB replays
    verbatim. Membership excludes NULL / non-finite vectors (a NaN
    element would poison its cell's mean on both engines; seeds already
    exclude them) — garbage vectors are still SEARCHED, they just don't
    steer centroids. Assignment windows partition by (vec_id,
    embedding) so duplicate vec_ids resolve per-row, not arbitrarily."""
    from database_cloner_spark.functions.vector import Q_SCALE, quantize

    cents = seed_centroids(embs, n_cells)
    # per-vector scoring folds are map-side work bounded by the scan's
    # split count — a one-file local dataset runs them on one core
    # without this (identity at production split counts)
    members = spread(embs).filter(
        F.col("embedding").isNotNull() & F.expr(_FINITE_VEC)
    )
    for _ in range(iters):
        scored = members.crossJoin(F.broadcast(cents)).select(
            "vec_id",
            "embedding",
            "cell_id",
            _cosine(F.col("embedding"), F.col("centroid")).alias("sim"),
        )
        assigned = ranks.top(
            scored, ["vec_id", "embedding"], [F.desc("sim"), F.asc("cell_id")]
        ).select("cell_id", "embedding")
        dims = assigned.select(
            "cell_id", F.posexplode("embedding").alias("dim", "v")
        ).withColumn("qv", quantize(F.col("v")))
        means = dims.groupBy("cell_id", "dim").agg(
            (
                F.floor(F.sum("qv") / F.count(F.lit(1)) + F.lit(0.5)).cast(
                    "double"
                )
                / F.lit(Q_SCALE)
            ).alias("m")
        )
        cents = (
            means.groupBy("cell_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("dim", "m"))
                ).alias("__dm")
            )
            .select(
                "cell_id",
                F.transform(F.col("__dm"), lambda s: s["m"]).alias("centroid"),
            )
        )
    return cents


def ivf_assign(
    embs: DataFrame, n_cells: int = 16, centroids: DataFrame | None = None
) -> DataFrame:
    """Assign every vector to its nearest centroid. Default centroids
    are the deterministic first-n seed (oracle-reproducible); pass
    `kmeans_centroids(...)` output for refined cells. Output is the
    reusable inverted file: (cell_id, vec_id, embedding)."""
    cents = centroids if centroids is not None else seed_centroids(embs, n_cells)
    scored = spread(embs).crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "embedding",
        "cell_id",
        _cosine(F.col("embedding"), F.col("centroid")).alias("sim"),
    )
    # final embedding tie-break: duplicate vec_ids can tie EXACTLY on
    # (sim, cell) — e.g. two rows symmetric about a refined centroid —
    # and the surviving row must be the same one the DuckDB oracle
    # keeps (asc_nulls_last = DuckDB's default list ordering)
    order = [F.desc("sim"), F.asc("cell_id"), F.asc_nulls_last("embedding")]
    return ranks.top(scored, ["vec_id"], order).select(
        "cell_id", "vec_id", "embedding"
    )


def ivf_topk(
    embs: DataFrame,
    probe: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF search: rank cells by probe-centroid similarity, scan only the
    top nprobe cells, exact cosine within them. Default centroids are
    the deterministic first-n seed; pass `kmeans_centroids(...)` output
    for Lloyd-refined (cell-balanced) cells — balance bounds the
    worst-case cell scan, the cost term IVF latency leans on at scale."""
    cents = centroids if centroids is not None else seed_centroids(embs, n_cells)
    inverted = ivf_assign(embs, n_cells, centroids=cents)
    cell_rank = (
        cents.crossJoin(F.broadcast(probe))
        .select(
            "cell_id",
            _cosine(F.col("centroid"), F.col("probe")).alias("sim"),
        )
        .orderBy(F.desc("sim"), F.asc("cell_id"))
        .limit(nprobe)
        .select("cell_id")
    )
    candidates = inverted.join(F.broadcast(cell_rank), "cell_id")
    cos = _cosine(F.col("embedding"), F.col("probe"))
    return (
        candidates.crossJoin(F.broadcast(probe))
        .select("vec_id", cos.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id", F.round("cosine", 4).alias("cosine"))
    )


# --- product quantization (PQ) ---------------------------------------------
#
# DETERMINISTIC SINCE ROUND 11 (full DuckDB oracles for q_sim_pq_topk /
# q_sim_ivfpq_topk, VERDICT r10 item 4): every stage runs on the exact
# integer grid. Vectors are unit-normalized (ordered-fold norm — already
# engine-portable) then element-quantized (functions/vector.quantize),
# so every subvector distance is an exact float64 integer, Lloyd
# codebook means land back on the grid via FLOOR(sum/count + 0.5), and
# ADC sums are order-independent integers. Quantization error per
# element is 2^-21 relative — invisible next to PQ's own approximation
# (the recall-floor tests pin quality unchanged).


def scorable(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Rows whose vector survives quantized_unit's whole-vector gate
    (non-NULL, finite positive norm), expressed over the RAW column so
    the filter costs one O(dim) fold per row. Filtering the COMPUTED
    quantized column instead — even a plain IS NOT NULL — makes
    Catalyst re-derive the quantize lambda around the predicate
    (measured 0.9s -> 3.3s on the codebook refinement)."""
    nrm = _norm(F.col(vec_col))
    # explicit isnan: Spark comparison semantics rank NaN above every
    # number, so `nrm > 0` alone would PASS a NaN norm
    return df.filter(
        F.col(vec_col).isNotNull()
        & ~F.isnan(nrm)
        & (nrm > F.lit(0.0))
        & (nrm != F.lit(float("inf")))
    )


def quantized_unit(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """df with `vec_col` replaced by its quantized unit form (all other
    columns untouched). Whole-vector NULL for every UNSCORABLE input:
    NULL / empty / zero-norm / non-finite norm (a NaN or ±Inf element,
    or overflow-to-Inf magnitudes). The whole-vector gate is the
    parity keystone: (a) an element-level NULL would split behavior
    between Spark's NULL-poisoning folds and SQL's NULL-skipping SUM;
    (b) an Inf element would quantize to a MIX of finite and NaN
    elements (x/Inf = 0, Inf/Inf = NaN), whose per-subvector distances
    are partially real — unreplayable; (c) downstream validity becomes
    a plain IS NOT NULL, which Catalyst evaluates cheaply (an
    exists()-over-the-computed-column filter re-inlines the whole
    normalize-quantize lambda into the predicate — measured 3.7s vs
    0.1s on the 500-row fixture).

    The norm is bound to its own projection BEFORE the per-element
    lambda: a norm fold nested inside transform() re-evaluates O(dim)
    work per element — O(dim²) per row, measured 10× slower at dim 64
    (2.2s -> 0.2s for the unit scan) — and Catalyst does not re-inline
    the bound column."""
    from database_cloner_spark.functions.vector import quantize

    tmp = "__qunit_nrm"
    nrm = F.col(tmp)
    qe = F.transform(F.col(vec_col), lambda x: quantize(x / nrm))
    # nrm.isNull() covers a NULL ELEMENT inside the vector: the norm
    # fold poisons to NULL, every other disjunct then evaluates NULL and
    # F.when would treat the whole predicate as false — emitting an
    # array of NULL elements instead of the documented whole-vector
    # NULL that the oracle's `nv IS NULL` gate replays (ADVICE r11).
    unscorable = (
        F.col(vec_col).isNull()
        | nrm.isNull()
        | (nrm == F.lit(0.0))
        | F.isnan(nrm)
        | (nrm == F.lit(float("inf")))
    )
    return (
        df.withColumn(tmp, _norm(F.col(vec_col)))
        .withColumn(
            vec_col,
            F.when(unscorable, F.lit(None).cast("array<double>")).otherwise(
                qe
            ),
        )
        .drop(tmp)
    )


# Product-quantization shape of pq_topk and ivfpq_topk, read by their
# DuckDB oracles too (queries/llm_ops._pq_oracle): PQ_M subspaces of the
# PQ_DIM-long embedding, PQ_CODES codewords per subspace, an ADC
# shortlist of PQ_SHORTLIST candidates reranked exactly to the top
# PQ_TOP_K; ivfpq_topk first routes through IVFPQ_NPROBE of
# IVFPQ_CELLS seeded cells.
PQ_M = 8
PQ_DIM = 64
PQ_CODES = 16
PQ_SHORTLIST = 50
PQ_TOP_K = 10
IVFPQ_CELLS = 16
IVFPQ_NPROBE = 8


def pq_subvectors(embs: DataFrame) -> DataFrame:
    """Explode each vector into its PQ_M contiguous subvectors:
    (vec_id, sub, subvec). The embedding length must be PQ_DIM; d_sub =
    PQ_DIM // PQ_M."""
    d = PQ_DIM // PQ_M
    pieces = F.transform(
        F.sequence(F.lit(0), F.lit(PQ_M - 1)),
        lambda j: F.slice(F.col("embedding"), j * d + F.lit(1), F.lit(d)),
    )
    # downstream consumers (codebook refinement, encoding) do per-row
    # l2 folds against a broadcast codebook map-side — bound by split
    # count, so spread a one-split local dataset first
    return spread(embs).select(
        "vec_id", F.posexplode(pieces).alias("sub", "subvec")
    )


def _l2sq(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_codebooks(embs: DataFrame, iters: int = 1) -> DataFrame:
    """Per-subspace codebooks for product quantization: PQ_CODES
    codewords per subspace, seeded from the first PQ_CODES vectors'
    subvectors and refined
    with `iters` rounds of Lloyd's — ALL subspaces refined jointly in
    one DataFrame per round (subspace is just a grouping column), so
    the job count is O(iters), not O(m × iters).

    Output: (sub, code, codeword). Codes that lose every member during
    refinement are dropped (encoding only needs SOME nearest codeword,
    not a dense code range).

    Expects PRE-VALIDATED quantized unit vectors —
    quantized_unit(scorable(raw)) — so no filter touches the computed
    column here (even IS NOT NULL on it makes Catalyst re-derive the
    quantize lambda around the predicate; see scorable()). Garbage
    vectors therefore can't steer codewords; refined codeword elements
    stay on the integer grid via FLOOR(sum/count + 0.5), so every
    distance downstream remains an exact integer. Argmin windows
    partition by (vec_id, sub, subvec) — duplicate vec_ids resolve
    per-row — and order d2 asc NULLS LAST (DuckDB's default; Spark's
    bare asc is nulls-FIRST, the r9 divergence class)."""
    subs = pq_subvectors(embs)
    cb = subs.filter(F.col("vec_id") < PQ_CODES).select(
        "sub", F.col("vec_id").alias("code"), F.col("subvec").alias("codeword")
    )
    for _ in range(iters):
        scored = subs.join(F.broadcast(cb), "sub").select(
            "vec_id",
            "sub",
            "subvec",
            "code",
            _l2sq(F.col("subvec"), F.col("codeword")).alias("d2"),
        )
        members = ranks.top(
            scored,
            ["vec_id", "sub", "subvec"],
            [F.asc_nulls_last("d2"), F.asc("code")],
        ).select("sub", "code", "subvec")
        dims_ = members.select(
            "sub", "code", F.posexplode("subvec").alias("dim", "v")
        )
        means = dims_.groupBy("sub", "code", "dim").agg(
            F.floor(F.sum("v") / F.count(F.lit(1)) + F.lit(0.5))
            .cast("double")
            .alias("m")
        )
        cb = (
            means.groupBy("sub", "code")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("__dm"))
            .select(
                "sub",
                "code",
                F.transform(F.col("__dm"), lambda s: s["m"]).alias("codeword"),
            )
        )
    # NOTE: cb is consumed by both pq_encode and the ADC table; a lazy
    # localCheckpoint here was measured NEUTRAL at sf0.1 (the refinement
    # recompute is cheaper than the materialization barrier), so the
    # plan is left pure.
    return cb


def pq_encode(embs: DataFrame, codebooks: DataFrame) -> DataFrame:
    """Quantize every vector to PQ_M small codes: (vec_id, codes:array<int>).
    At dim=64/m=8/k=16 that is 8 bytes of codes per vector instead of
    512 bytes of float64 — a 64× compression that lets a 100 TB
    embedding corpus's index fit hot in cluster memory. The argmin is a
    per-row top-1 over a broadcast m×k codebook join; codes are
    re-assembled in subspace order."""
    scored = pq_subvectors(embs).join(F.broadcast(codebooks), "sub").select(
        "vec_id",
        "sub",
        "subvec",
        "code",
        _l2sq(F.col("subvec"), F.col("codeword")).alias("d2"),
    )
    # (vec_id, sub, subvec) partition + asc NULLS LAST: per-row argmin
    # determinism under duplicate vec_ids, NULL distances (NULL/garbage
    # vectors) rank after NaN after numbers on both engines
    return (
        ranks.top(
            scored,
            ["vec_id", "sub", "subvec"],
            [F.asc_nulls_last("d2"), F.asc("code")],
        )
        .groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "code"))),
                lambda s: s["code"],
            ).alias("codes")
        )
    )


def pq_adc_topk(codes: DataFrame, codebooks: DataFrame, probe: DataFrame) -> DataFrame:
    """Asymmetric-distance top-k, k = PQ_SHORTLIST: the probe is
    compared to CODEWORDS once (an m×k_codes distance table, tiny,
    broadcast), then every
    database vector's approximate distance is the sum of m table
    lookups over its codes — no float vector is touched at query time.
    Plan: explode codes (m rows/vector of 12 bytes), broadcast-join the
    table, one partial-aggregated sum per vec_id, TakeOrdered k."""
    d = PQ_DIM // PQ_M
    probe_sub = F.slice(F.col("probe"), F.col("sub") * d + F.lit(1), F.lit(d))
    table = (
        codebooks.crossJoin(F.broadcast(probe))
        .select("sub", "code", _l2sq(probe_sub, F.col("codeword")).alias("d2"))
    )
    exploded = codes.select(
        "vec_id", F.posexplode("codes").alias("sub", "code")
    )
    return (
        exploded.join(F.broadcast(table), ["sub", "code"])
        .groupBy("vec_id")
        # quantized-grid d2s are exact integers, so this SUM is
        # shuffle-order-independent and the round(6) a no-op kept for
        # the stable output contract
        .agg(F.round(F.sum("d2"), 6).alias("adc_dist"))
        # asc NULLS LAST (DuckDB's default): an unscorable vector's
        # NULL distance must rank behind every real candidate
        .orderBy(F.asc_nulls_last("adc_dist"), F.asc("vec_id"))
        .limit(PQ_SHORTLIST)
    )


def pq_topk(embs: DataFrame, probe: DataFrame) -> DataFrame:
    """PQ pipeline as deployed in practice: unit-normalize (cosine ≡ L2
    on the sphere), build codebooks, encode, ADC-score a shortlist of
    PQ_SHORTLIST candidates from codes alone, then exact-cosine RERANK
    only the shortlist to the top PQ_TOP_K. Query-time cost at scale:
    one scan of 8-byte code rows (64× smaller than the vectors) +
    PQ_SHORTLIST exact distances — the
    float vectors are fetched for the shortlist only. On this synthetic
    fixture the ADC shortlist at 5× k holds 8/10 of the exact top-10
    (random vectors are PQ's worst case; clustered real embeddings do
    far better), which the recall test pins as a floor."""
    unit = quantized_unit(embs).select("vec_id", "embedding")
    unit_valid = quantized_unit(scorable(embs)).select("vec_id", "embedding")
    unit_probe = quantized_unit(probe, "probe")
    cb = pq_codebooks(unit_valid)
    codes = pq_encode(unit, cb)
    cand = pq_adc_topk(codes, cb, unit_probe).select("vec_id")
    return brute_force_topk(embs.join(cand, "vec_id"), probe, k=PQ_TOP_K)


def ivfpq_topk(embs: DataFrame, probe: DataFrame) -> DataFrame:
    """The composed ANN system (FAISS IVF-PQ shape) as DataFrame ops:
    IVF cells prune WHICH code rows are scanned (~IVFPQ_NPROBE /
    IVFPQ_CELLS of the corpus), PQ codes shrink WHAT is scanned (8 bytes/vector), and the
    exact rerank touches float vectors only for the shortlist. Query
    cost at 100 TB ≈ (nprobe/n_cells) × n × 12 bytes of code rows + k'
    vector fetches — neither full-scan nor full-width.

    Cells and codebooks are probe-independent (build once, reuse per
    query)."""
    unit = quantized_unit(embs).select("vec_id", "embedding")
    unit_valid = quantized_unit(scorable(embs)).select("vec_id", "embedding")
    unit_probe = quantized_unit(probe, "probe")
    # Not seed_centroids: its non-finite guard is an exists() over the
    # vector column, which on the COMPUTED quantized column re-inlines
    # the whole quantize lambda into the filter (measured 3.7s vs
    # 0.1s); scorable() pre-filters on the RAW column instead, which is
    # the exact same row set under quantized_unit's whole-vector gate.
    cents = quantized_unit(
        scorable(embs.filter(F.col("vec_id") < IVFPQ_CELLS))
    ).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("centroid")
    )
    inverted = ivf_assign(unit, IVFPQ_CELLS, centroids=cents).select(
        "cell_id", "vec_id"
    )
    cb = pq_codebooks(unit_valid)
    codes = pq_encode(unit, cb)

    ranked_cells = (
        cents.crossJoin(F.broadcast(unit_probe))
        .select(
            "cell_id",
            _cosine(F.col("centroid"), F.col("probe")).alias("sim"),
        )
        .orderBy(F.desc("sim"), F.asc("cell_id"))
        .limit(IVFPQ_NPROBE)
        .select("cell_id")
    )
    cand_ids = inverted.join(F.broadcast(ranked_cells), "cell_id").select("vec_id")
    cand_codes = codes.join(cand_ids, "vec_id")
    short = pq_adc_topk(cand_codes, cb, unit_probe).select("vec_id")
    return brute_force_topk(embs.join(short, "vec_id"), probe, k=PQ_TOP_K)
