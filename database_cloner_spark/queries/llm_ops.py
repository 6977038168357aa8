"""§2.11 LLM-data-pipeline operators — registry entries + oracles.

Oracle policy: operators whose output embeds engine-specific hashes
(SimHash signatures use xxhash64, which DuckDB lacks) are rows-only
here and verified against ground truth in tests/test_llm.py
(recall/precision vs the exact operator). Everything hash-free gets a
full DuckDB oracle, including the fingerprint operator, whose rolling
hash is explicit int64 arithmetic reproduced identically in SQL — and,
since round 10, MinHash+LSH, whose signature family was re-based onto
the same portable polynomial/LCG arithmetic so the oracle replays
candidate generation exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from database_cloner_spark.functions.rational import ratio, ratio_sql
from database_cloner_spark.llm import dedup, similarity, text as llmtext
from database_cloner_spark.llm.multimodal import (
    FRAME_EVERY_N_BYTES,
    assets_from_documents,
)
from database_cloner_spark.llm.textprep import SHINGLE_N
from database_cloner_spark.queries.oracle_fragments import (
    n_tokens_sql,
    normalized_sql,
    tokens_sql,
)
from database_cloner_spark.registry import register
from database_cloner_spark.sources import load

# DuckDB mirror of textprep.tokens() — single source of truth in
# oracle_fragments so engine and oracles cannot drift
# (tests/test_adversarial_docs.py).
_TOKS_SQL = tokens_sql()

# DuckDB mirror of dedup._shingle_sets over a `toks` CTE: the distinct
# SHINGLE_N-word shingles of every doc with at least SHINGLE_N tokens.
_SHINGLES_SQL = f"""  SELECT doc_id,
         list_distinct([list_aggregate(ts[i:i+{SHINGLE_N - 1}], 'string_agg', ' ')
                        for i in range(1, len(ts) - {SHINGLE_N - 2})]) AS shingles
  FROM toks WHERE len(ts) >= {SHINGLE_N}"""


# The re-crawl copy's synthetic id pmods into [0, 2^62) before the
# +1000000 shift: a raw `doc_id + 1000000` overflows int64 for ids near
# Long.MAX (hash-derived ids get there; extreme-id probe, r10).
# Identical to the old form for every id below 2^62.
_ORACLE_DEDUP_EXACT = f"""
WITH doubled AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT ((doc_id % 4611686018427387904) + 4611686018427387904)
         % 4611686018427387904 + 1000000 AS doc_id, text
  FROM documents
)
SELECT MIN(doc_id) AS doc_id,
       {normalized_sql()} AS norm_text,
       COUNT(*) AS n_copies
FROM doubled
GROUP BY 2
"""


@register("q_dedup_exact", oracle=_ORACLE_DEDUP_EXACT, tier="X")
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over a doubled corpus (simulating re-crawled docs):
    one survivor per normalized text, multiplicity 2 everywhere. The
    copy's synthetic id pmods into [0, 2^62) before the shift so a
    hash-derived id near Long.MAX cannot overflow the ANSI add
    (identical to the plain +1000000 for every id below 2^62)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    shifted = F.pmod(F.col("doc_id"), F.lit(4611686018427387904)) + 1000000
    doubled = docs.unionByName(
        docs.select(shifted.alias("doc_id"), "text")
    )
    return dedup.exact_dedup(doubled)


_ORACLE_DEDUP_FUZZY = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS ts FROM documents
),
sh AS (
{_SHINGLES_SQL}
)
,
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_intersect(a.shingles, b.shingles))::BIGINT AS i,
         (len(a.shingles) + len(b.shingles)
          - len(list_intersect(a.shingles, b.shingles)))::BIGINT AS u
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       {ratio_sql("i", "u", 4)} AS jaccard
FROM pairs WHERE i::DOUBLE / u >= 0.4
"""


@register("q_dedup_fuzzy", oracle=_ORACLE_DEDUP_FUZZY, tier="X")
def q_dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact 3-word-shingle Jaccard >= 0.4 via
    explode+join (the oracle brute-forces the same definition).

    Registered WITH the hot-shingle document-frequency cap so the
    driver-checked plan is the skew-safe one. The cap (10k) exceeds any
    possible df at oracle scale (500-5000 docs), so results here are
    provably identical to the uncapped oracle; at web scale it bounds
    the worst reducer at cap^2 rows per hot shingle."""
    return dedup.shingle_jaccard_pairs(
        load(spark, sf_dir, "documents"), max_shingle_df=10_000
    )


# Asymmetric containment C(A→B) = |S_A ∩ S_B| / |S_A|: the doc-inside-
# doc detector Jaccard dilutes (a small doc fully quoted inside a large
# one scores J ≈ |S_A|/|S_B| but C = 1.0). Oracle brute-forces the same
# definition pairwise; the engine's inverted-index df-cap (10k) exceeds
# any oracle-scale document frequency, so results are provably equal.
_ORACLE_DEDUP_CONTAINMENT = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS ts FROM documents
),
sh AS (
{_SHINGLES_SQL}
)
,
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_intersect(a.shingles, b.shingles))::BIGINT AS i,
         len(a.shingles)::BIGINT AS na,
         len(b.shingles)::BIGINT AS nb
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       {ratio_sql("i", "na", 4)} AS cont_a,
       {ratio_sql("i", "nb", 4)} AS cont_b
FROM pairs WHERE GREATEST(i::DOUBLE / na, i::DOUBLE / nb) >= 0.6
"""


@register("q_dedup_containment", oracle=_ORACLE_DEDUP_CONTAINMENT, tier="X")
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-inside-doc pairs by asymmetric 3-word-shingle containment
    (either direction >= 0.6), both directions' scores emitted so
    consumers separate quotation/truncation (one high) from
    near-identity (both high). Same inverted-index + df-cap plan
    family as q_dedup_fuzzy — one posting-list shuffle, one pair-count
    shuffle, no cross product."""
    return dedup.shingle_containment_pairs(
        load(spark, sf_dir, "documents"), max_shingle_df=10_000
    )


# Char grams have a tiny vocabulary => every pair shares grams, so the
# brute-force pair space is dense; like the embedding baseline this entry
# is explicitly input-capped, with the df-cap + MinHash-over-grams as the
# scale path (see char_ngram_jaccard_pairs docstring).
NGRAM_BRUTE_CAP = 64
_GRAM_N = dedup.CHAR_GRAM_N

_ORACLE_DEDUP_NGRAM = f"""
WITH capped AS (
  SELECT doc_id, lower(trim(text)) AS t FROM documents
  WHERE doc_id < {NGRAM_BRUTE_CAP}
),
g AS (
  SELECT doc_id,
         list_distinct([t[i:i+{_GRAM_N - 1}] for i in range(1, len(t) - {_GRAM_N - 2})]) AS gs
  FROM capped WHERE len(t) >= {_GRAM_N}
)
,
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_intersect(a.gs, b.gs))::BIGINT AS i,
         (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs)))::BIGINT AS u
  FROM g a JOIN g b ON a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       {ratio_sql("i", "u", 4)} AS jaccard
FROM pairs WHERE i::DOUBLE / u >= 0.6
"""


@register("q_dedup_ngram", oracle=_ORACLE_DEDUP_NGRAM, tier="X")
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-3-gram Jaccard near-dup pairs (edit/typo-level dedup —
    one changed word costs ~3 char grams but kills 3 whole word
    shingles). Capped-input brute force on both Spark and oracle sides;
    scale path = df cap + MinHash over the gram sets."""
    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id") < NGRAM_BRUTE_CAP
    )
    return dedup.char_ngram_jaccard_pairs(docs, threshold=0.6)


def _minhash_oracle() -> str:
    """DuckDB replay of the FULL MinHash+LSH pipeline — shingles,
    portable polynomial shingle hashes, 64 LCG permutation minima,
    collision-free band pairing, band self-join, exact-Jaccard verify.
    Expressible since round 10's re-base of the signature family off
    xxhash64 (llm/dedup.py MH_* constants; shingle_hash_sql is the ONE
    generator both engines' hash text comes from, so they cannot
    drift)."""
    sh_hash = dedup.shingle_hash_sql("s")
    ms = ", ".join(
        "list_min(list_transform(hs, h -> "
        f"(h * {dedup.MH_A[i]} + {dedup.MH_B[i]}) % {dedup.MH_MOD}))"
        for i in range(dedup.N_PERM)
    )
    bands = ", ".join(
        f"(ms[{dedup.LSH_ROWS * b + 1}] * 2147483648"
        f" + ms[{dedup.LSH_ROWS * b + 2}])"
        for b in range(dedup.N_BANDS)
    )
    vals = ", ".join(f"({b + 1})" for b in range(dedup.N_BANDS))
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS ts FROM documents
),
sh AS (
{_SHINGLES_SQL}
),
hashed AS (
  SELECT doc_id, shingles,
         list_transform(shingles, s -> {sh_hash}) AS hs
  FROM sh
),
m AS (
  SELECT doc_id, [{ms}] AS ms FROM hashed
),
banded AS (
  SELECT doc_id, bnd.b AS band_id, ([{bands}])[bnd.b] AS band_key
  FROM m CROSS JOIN (VALUES {vals}) AS bnd(b)
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM banded x JOIN banded y
    ON x.band_id = y.band_id AND x.band_key = y.band_key
   AND x.doc_id < y.doc_id
),
p AS (
  SELECT doc_a, doc_b,
         len(list_intersect(sa.shingles, sb.shingles))::BIGINT AS i,
         (len(sa.shingles) + len(sb.shingles)
          - len(list_intersect(sa.shingles, sb.shingles)))::BIGINT AS u
  FROM cand
  JOIN sh sa ON sa.doc_id = cand.doc_a
  JOIN sh sb ON sb.doc_id = cand.doc_b
)
SELECT doc_a, doc_b,
       {ratio_sql("i", "u", 4)} AS jaccard
FROM p WHERE i::DOUBLE / u >= 0.4
"""


_ORACLE_DEDUP_MINHASH = _minhash_oracle()


_ORACLE_DEDUP_MINHASH_CLUSTER = dedup.connected_components_sql(
    _ORACLE_DEDUP_MINHASH
)


@register(
    "q_dedup_minhash_cluster", oracle=_ORACLE_DEDUP_MINHASH_CLUSTER, tier="X"
)
def q_dedup_minhash_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end billion-doc dedup path in one key: MinHash+LSH
    candidate pairs (sketch-bounded, never corpus²) -> exact-Jaccard
    verify -> large-star/small-star connected components (O(log² n)
    rounds on any topology). keep doc_id == cluster_id is the survivor
    rule a trainer applies. Oracled end to end since round 10's
    portable-hash re-base: the DuckDB side replays the LSH pipeline and
    closes the pair graph with a recursive CTE — both engines must
    agree on every doc's component."""
    prs = dedup.minhash_lsh_pairs(load(spark, sf_dir, "documents"))
    return dedup.connected_components(prs)


@register("q_dedup_minhash", oracle=_ORACLE_DEDUP_MINHASH, tier="X")
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs — full hash oracle since round 10:
    the signature family is the engine-portable polynomial/LCG one
    (llm/dedup.py), so DuckDB replays candidate generation EXACTLY and
    the driver hash-compares ids + exact Jaccard. Recall/precision vs
    q_dedup_fuzzy ground truth stay asserted in tests/test_llm.py (the
    quality layer — an oracle proves both engines agree, not that the
    sketch finds the dups)."""
    return dedup.minhash_lsh_pairs(load(spark, sf_dir, "documents"))


def _simhash_oracle() -> str:
    """DuckDB replay of the SimHash pipeline — portable 60-bit token
    hashes, 60 bit-vote sums, signature assembly, 4x15-bit pigeonhole
    self-join, bit_count(xor) hamming verify. Expressible since round
    10's re-base off xxhash64 (llm/dedup.py token_hash_sql is the ONE
    generator both engines' hash text comes from)."""
    h = dedup.token_hash_sql("w")
    votes = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(dedup.SH_BITS)
    )
    sig = " | ".join(
        f"(CASE WHEN v{b} > 0 THEN (CAST(1 AS BIGINT) << {b})"
        f" ELSE CAST(0 AS BIGINT) END)"
        for b in range(dedup.SH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
  FROM documents
),
h AS (SELECT doc_id, {h} AS h FROM toks),
v AS (
  SELECT doc_id,
         {votes}
  FROM h GROUP BY doc_id
),
sig AS (SELECT doc_id, ({sig}) AS simhash FROM v),
chunked AS (
  SELECT doc_id, simhash, c.c AS chunk_idx,
         (simhash >> ({dedup.SH_CHUNK_BITS} * c.c)) & {dedup.SH_CHUNK_MASK}
           AS chunk_val
  FROM sig CROSS JOIN (VALUES (0), (1), (2), (3)) AS c(c)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sig_a, b.simhash AS sig_b
  FROM chunked a JOIN chunked b
    ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
   AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 3
"""


_ORACLE_DEDUP_SIMHASH = _simhash_oracle()


@register("q_dedup_simhash", oracle=_ORACLE_DEDUP_SIMHASH, tier="X")
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at hamming <= 3 — full hash oracle since
    round 10: the 60-bit signature rides the portable polynomial hash
    family (llm/dedup.py), so DuckDB replays bit votes, signatures and
    pigeonhole candidates EXACTLY. Property tests stay as the quality
    layer."""
    return dedup.simhash_pairs(load(spark, sf_dir, "documents"))


# Brute-force cosine is O(n^2): the registered entry is EXPLICITLY input-
# capped (first EMB_BRUTE_CAP vec_ids) so no registered operator carries an
# unbounded all-pairs plan. The uncapped form stays available as the test
# oracle for the bucketed scale path (embedding_neardup_bucketed).
EMB_BRUTE_CAP = 4096

# len()=0 CASE guards: DuckDB's list_inner_product raises an INTERNAL
# error on empty arrays, and a zero denominator yields NULL on both
# engines (engine side is try_divide — functions/vector.py cosine), so
# zero/empty vectors drop out of the >= threshold filter identically.
_ORACLE_DEDUP_EMBEDDING = f"""
WITH capped AS (SELECT * FROM embeddings WHERE vec_id < {EMB_BRUTE_CAP}),
scored AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         CASE WHEN len(a.embedding) = 0 OR len(b.embedding) = 0 THEN NULL
              ELSE list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                   / (sqrt(list_inner_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                      * sqrt(list_inner_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
         END AS c
  FROM capped a JOIN capped b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, ROUND(c, 4) AS cosine
FROM scored WHERE c >= 0.35
"""


@register("q_dedup_embedding", oracle=_ORACLE_DEDUP_EMBEDDING, tier="X")
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs — capped-input brute-force
    baseline (vec_id < EMB_BRUTE_CAP on both Spark and oracle sides;
    the scale path is q_dedup_embedding_bucketed)."""
    embs = load(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < EMB_BRUTE_CAP
    )
    return dedup.embedding_neardup_pairs(embs)


# q_dedup_embedding_bucketed is registered further down, after _cos_sql
# is in scope (its r10 oracle replays the seeded-cell assignment).


# Quantized-grid replay of the pandas scoring path (functions/vector.py
# Q_SCALE/Q_CLAMP): elements quantized to clamp(floor(x*2^20+0.5), ±2^23)
# make every dot-product partial sum an exact float64 integer — the
# cosine is bit-identical across numpy BLAS, any fold order, and this
# SQL, so the key carries a FULL hash oracle (upgraded from rows-only in
# round 10). Non-finite elements gate to NULL explicitly on both sides
# (numpy NaN survives floor/clip, DuckDB LEAST/GREATEST would swallow
# it). CASE guards keep DuckDB's list_inner_product away from the
# empty-array length mismatch (same posture as _ORACLE_SIM_TOPK); the
# final edge rounding is the repo's half-up FLOOR(c*1e4+0.5)/1e4 on both
# engines.
_ORACLE_SIM_TOPK_PANDAS = """
WITH q AS (
  SELECT vec_id,
         embedding AS raw,
         list_transform(embedding, x -> GREATEST(LEAST(
             FLOOR(x::DOUBLE * 1048576.0 + 0.5), 8388608.0), -8388608.0)) AS qe,
         len(embedding) AS d,
         COALESCE(list_aggregate(list_transform(embedding,
             x -> isnan(x::DOUBLE) OR NOT isfinite(x::DOUBLE)),
           'bool_or'), FALSE) AS bad
  FROM embeddings
),
probe AS MATERIALIZED (
  -- At most ONE probe row, picked deterministically: the engine sorts
  -- duplicate vec_id=0 rows by the RAW embedding (asc, NULLS LAST —
  -- DuckDB's default) and head()s the first, so this CTE must ORDER BY
  -- raw too — quantization is non-injective (rounding + ±2^23 clamp),
  -- and ordering by qe picked a DIFFERENT probe when two raw
  -- embeddings collide on an early quantized element (ADVICE r11;
  -- grid-colliding fixture in tests/test_adversarial_embeddings.py).
  -- LEFT JOIN below degrades a MISSING probe to all-NULL cosines
  -- exactly like the engine's empty-probe path (ADVICE r10: the old
  -- `FROM q, probe` cross join emptied the result instead, and a
  -- duplicated vec_id=0 fanned it out).
  SELECT qe AS p, d AS pd, bad AS pbad, TRUE AS has_probe
  FROM q WHERE vec_id = 0
  ORDER BY raw ASC NULLS LAST LIMIT 1
),
scored AS (
  SELECT vec_id,
         CASE WHEN has_probe IS NULL OR bad OR pbad
                   OR d = 0 OR pd = 0 OR d <> pd THEN NULL
              ELSE list_inner_product(qe, p)
                   / (sqrt(list_inner_product(qe, qe))
                      * sqrt(list_inner_product(p, p))) END AS c
  FROM q LEFT JOIN probe ON TRUE
)
SELECT vec_id, FLOOR(c * 10000.0 + 0.5) / 10000.0 AS cosine
FROM scored
ORDER BY cosine DESC, vec_id
LIMIT 10
"""


@register("q_sim_topk_pandas", oracle=_ORACLE_SIM_TOPK_PANDAS, tier="X")
def q_sim_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched numpy cosine top-10 (throughput path). Full hash
    oracle since round 10: scoring runs on the exact integer grid
    (functions/vector.py Q_SCALE), so the BLAS matvec is bit-exact under
    any summation order and DuckDB replays it verbatim. Near-equality
    with the exact JVM form stays asserted in tests/test_llm.py
    (quantization error ~2^-20, tolerance 1e-4). One documented
    divergence from q_sim_topk: vectors with non-finite ELEMENTS score
    NULL here (ranked last) where the exact fold yields NaN (ranked
    first on both engines)."""
    from database_cloner_spark.functions.vector import cosine_topk_pandas

    embs = load(spark, sf_dir, "embeddings")
    # Probe selection is deterministic even under duplicate vec_id=0
    # rows: sort by embedding (asc_nulls_last — DuckDB's default null
    # order) and take the first. head() is None when NO vec_id=0 row
    # exists (including the empty corpus) and the row's embedding can
    # itself be NULL: both degrade to an empty probe — every cosine is
    # NULL, ranked last — which the oracle's LEFT JOIN replays
    # (ADVICE r10; tests/test_adversarial_empty.py and the no-probe /
    # dup-probe fixtures in tests/test_adversarial_embeddings.py).
    row = (
        embs.filter(F.col("vec_id") == 0)
        .select("embedding")
        .orderBy(F.asc_nulls_last("embedding"))
        .head()
    )
    probe = list(row[0]) if row is not None and row[0] is not None else []
    return cosine_topk_pandas(embs, probe)


# Same len()=0 guards as _ORACLE_DEDUP_EMBEDDING (NULL cosine for
# zero/empty vectors, ranked last under DESC on both engines).
_ORACLE_SIM_TOPK = """
WITH probe AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT vec_id,
         CASE WHEN len(embedding) = 0 OR len(p) = 0 THEN NULL
              ELSE list_inner_product(embedding::DOUBLE[], p::DOUBLE[])
                   / (sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                      * sqrt(list_inner_product(p::DOUBLE[], p::DOUBLE[])))
         END AS c
  FROM embeddings, probe
)
SELECT vec_id, ROUND(c, 4) AS cosine
FROM scored
ORDER BY c DESC, vec_id
LIMIT 10
"""


@register("q_sim_topk", oracle=_ORACLE_SIM_TOPK, tier="X")
def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 cosine neighbors of vec 0 — exact brute force."""
    embs = load(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(embs, similarity.probe_vector(embs))


def _cos_sql(a: str, b: str) -> str:
    """DuckDB cosine fragment, byte-identical in behavior to
    functions/vector.cosine: ordered double fold (list_inner_product),
    NULL on empty vectors (len guard), on zero norms (DuckDB x/0.0
    is NULL, Spark try_divide is NULL) — the q_dedup_embedding parity
    class — and on vectors containing a NULL ELEMENT (ADVICE r11:
    Spark's zip_with product poisons the fold to NULL, while DuckDB's
    list_inner_product ERRORS 'can not contain NULL values'; the
    list_filter gate keeps the CASE lazy so the error branch is never
    evaluated — verified against DuckDB 1.0)."""
    lip = "list_inner_product"
    return (
        f"CASE WHEN len({a}) = 0 OR len({b}) = 0 "
        f"OR len(list_filter({a}, iv -> iv IS NULL)) > 0 "
        f"OR len(list_filter({b}, iv -> iv IS NULL)) > 0 THEN NULL "
        f"ELSE {lip}({a}::DOUBLE[], {b}::DOUBLE[]) "
        f"/ (sqrt({lip}({a}::DOUBLE[], {a}::DOUBLE[])) "
        f"* sqrt({lip}({b}::DOUBLE[], {b}::DOUBLE[]))) END"
    )


def _q_sql(x: str) -> str:
    """Replay of functions/vector.quantize: NaN/±Inf stay NaN (explicit
    gate — DuckDB LEAST/GREATEST would swallow them), finite values
    clamp-then-floor onto the Q_SCALE/Q_CLAMP integer grid. Bit-equal
    to the engine because clamp bounds are integral and each op is one
    correctly-rounded IEEE step."""
    return (
        f"CASE WHEN isnan({x}) OR NOT isfinite({x}) THEN 'NaN'::DOUBLE "
        f"ELSE FLOOR(LEAST(GREATEST(({x}) * 1048576.0 + 0.5, "
        f"-8388608.0), 8388608.0)) END"
    )


def _l2q_sql(a: str, b: str) -> str:
    """Squared L2 over QUANTIZED (integer-grid) vectors. The engine
    folds (x-y)^2 left-to-right; on the grid every term and partial sum
    is an exact float64 integer, so the fold equals the algebraic
    identity |a|^2 - 2<a,b> + |b|^2 EXACTLY — which is what this
    replays (three ordered lip folds). NULL for NULL inputs (Spark's
    zip_with fold NULL-poisons; SQL SUM would skip). Requires equal
    lengths for non-NULL inputs — guaranteed by the shared slicing that
    produces both sides (mixed-dim corpora are the documented
    not-oracle-expressible class)."""
    lip = "list_inner_product"
    return (
        f"CASE WHEN ({a}) IS NULL OR ({b}) IS NULL THEN NULL "
        f"ELSE {lip}({a}, {a}) - 2 * {lip}({a}, {b}) + {lip}({b}, {b}) END"
    )


# Batch-probe replay: same fold-order cosine as _ORACLE_SIM_TOPK, one
# window per probe. NULL cosines (zero/empty/NULL vectors OR probes —
# probe ids < 8 include the adversarial fixture's NULL/zero/empty rows)
# rank last under DESC on both engines; full ties (duplicate vec_id
# with identical NULL scores) emit identical row SETS either way, so
# the order-insensitive hash is stable.
_ORACLE_SIM_TOPK_MULTI = f"""
WITH probes AS MATERIALIZED (
  SELECT vec_id AS probe_id, embedding AS p FROM embeddings
  WHERE vec_id < 8
),
scored AS (
  SELECT pr.probe_id, e.vec_id, {_cos_sql("e.embedding", "pr.p")} AS c
  FROM embeddings e CROSS JOIN probes pr
),
ranked AS (
  SELECT probe_id, vec_id, c,
         ROW_NUMBER() OVER (
           PARTITION BY probe_id ORDER BY c DESC, vec_id
         ) AS rn
  FROM scored
)
SELECT probe_id, vec_id, ROUND(c, 4) AS cosine, rn
FROM ranked WHERE rn <= 5
"""


@register("q_sim_topk_multi", oracle=_ORACLE_SIM_TOPK_MULTI, tier="X")
def q_sim_topk_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ANN: exact top-5 for each of the first 8 probe vectors in
    ONE corpus pass — broadcast probe batch, map-side scoring, and a
    per-probe WindowGroupLimit rank (k·n_map_partitions shuffle rows
    per probe, never the scored corpus). The query-batching shape that
    replaces p separate scans with one at 100 TB."""
    return similarity.multi_probe_topk(load(spark, sf_dir, "embeddings"))


# Full IVF replay: the seeded centroids, the probe's nprobe cell
# ranking, every vector's nearest-centroid assignment, and the exact
# in-cell top-k are ALL deterministic given the engine's fold-order
# cosine, so the whole scale path is oracle-checkable (round 10 —
# upgraded from rows-only; the kmeans variant stays rows-only because
# Lloyd means average floats). DESC ordering places NULL cosines last
# on BOTH engines (Spark desc / DuckDB default), so zero/empty vectors
# never crack the top-k while real scores exist.
# AS MATERIALIZED on every FILTERED list-carrying CTE: DuckDB v1.0's
# list_inner_product validates the UNDERLYING vector behind a filter's
# selection, so a NULL-embedding row elsewhere in the chunk raises
# "argument can not contain NULL values" even when never selected;
# materializing flattens the selection first (found by the adversarial
# embeddings fixture's NULL row).
_ORACLE_SIM_IVF = f"""
WITH probe AS MATERIALIZED (
  SELECT embedding AS p FROM embeddings WHERE vec_id = 0
),
cents AS MATERIALIZED (
  -- non-finite vectors can't seed (NaN scores NaN vs everything and
  -- NaN sorts greatest both engines — it would win every tie-break)
  SELECT vec_id AS cell_id, embedding AS centroid
  FROM embeddings
  WHERE vec_id < 16
    AND len(list_filter(embedding,
                        v -> isnan(v) OR NOT isfinite(v))) = 0
    -- inner-NULL elements: list_filter DROPS NULL-predicate elements
    -- (len()=0 would pass) while Spark's exists() returns NULL and the
    -- engine filter excludes the row — gate them out explicitly
    -- (ADVICE r11)
    AND len(list_filter(embedding, v -> v IS NULL)) = 0
),
cell_rank AS (
  SELECT cell_id
  FROM cents CROSS JOIN probe
  ORDER BY {_cos_sql("centroid", "p")} DESC, cell_id
  LIMIT 4
),
assigned AS (
  SELECT e.vec_id, e.embedding, c.cell_id,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY {_cos_sql("e.embedding", "c.centroid")} DESC, c.cell_id,
                    e.embedding
         ) AS rn
  FROM embeddings e CROSS JOIN cents c
),
cand AS MATERIALIZED (
  SELECT vec_id, embedding FROM assigned
  WHERE rn = 1 AND cell_id IN (SELECT cell_id FROM cell_rank)
),
scored AS (
  SELECT vec_id, {_cos_sql("embedding", "p")} AS c
  FROM cand CROSS JOIN probe
)
SELECT vec_id, ROUND(c, 4) AS cosine
FROM scored ORDER BY c DESC, vec_id LIMIT 10
"""


@register("q_sim_ivf_topk", oracle=_ORACLE_SIM_IVF, tier="X")
def q_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-10 (nprobe=4 of 16 seeded cells) — the scale path.
    Fully oracled since round 10: seeding, cell routing, assignment
    and in-cell scoring are all deterministic fold-order arithmetic,
    so DuckDB replays the ENTIRE inverted-file search (the kmeans
    variant stays rows-only — Lloyd means average floats). Recall vs
    brute force stays asserted in tests/test_llm.py."""
    embs = load(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(embs, similarity.probe_vector(embs))


# Full replay of the bucketed near-dup scale path (llm/dedup.py
# embedding_neardup_bucketed, defaults adaptive n_cells = ceil(n/125)
# clamped [16, 65536] / nprobe=3 /
# threshold=0.35): seeded finite centroids, every vector multi-assigned
# to its 3 nearest cells (sim DESC, cell_id tie-break — NaN sims sort
# greatest on BOTH engines, NULL sims last), pairs compared only within
# a shared cell, deterministic max() per pair (multi-assignment
# re-derives the same cosine; a duplicated vec_id resolves to the max).
# Same MATERIALIZED discipline as _ORACLE_SIM_IVF (filtered
# list-carrying CTEs).
_ORACLE_DEDUP_EMB_BUCKETED = f"""
WITH cents AS MATERIALIZED (
  -- adaptive cell count (r12, found by the derived-sf1 run): cells
  -- scale with the corpus — ceil(n/125) clamped to [16, 65536] — so
  -- per-cell population and the quadratic within-cell pair work stay
  -- constant as data grows; 2000-vector sf0.1 and every smaller
  -- fixture clamp to the long-tested 16 (llm/dedup.py
  -- BUCKETED_CELL_TARGET)
  SELECT vec_id AS cell_id, embedding AS centroid
  FROM embeddings
  WHERE vec_id < (SELECT {dedup.bucketed_cells_sql("COUNT(*)")} FROM embeddings)
    AND len(list_filter(embedding,
                        v -> isnan(v) OR NOT isfinite(v))) = 0
    -- inner-NULL elements: list_filter DROPS NULL-predicate elements
    -- (len()=0 would pass) while Spark's exists() returns NULL and the
    -- engine filter excludes the row — gate them out explicitly
    -- (ADVICE r11)
    AND len(list_filter(embedding, v -> v IS NULL)) = 0
),
assigned AS MATERIALIZED (
  SELECT vec_id, embedding
       , cell_id
  FROM (
    SELECT e.vec_id, e.embedding, c.cell_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id, e.embedding
             ORDER BY {_cos_sql("e.embedding", "c.centroid")} DESC, c.cell_id
           ) AS rn
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rn <= {dedup.BUCKETED_NPROBE}
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {_cos_sql("a.embedding", "b.embedding")} AS c
  FROM assigned a JOIN assigned b
    ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, ROUND(MAX(c), 4) AS cosine
FROM pairs WHERE c >= 0.35
GROUP BY vec_a, vec_b
"""


@register(
    "q_dedup_embedding_bucketed", oracle=_ORACLE_DEDUP_EMB_BUCKETED, tier="X"
)
def q_dedup_embedding_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed embedding near-dup — the scale path (within-cell
    pairs only). Full hash oracle since round 10: seeded finite
    centroids + fold-order cosines make assignment and scoring
    deterministic, so DuckDB replays the whole bucketed search; recall
    vs the exact all-pairs form stays asserted in tests/test_llm.py.
    Cell count ADAPTS to corpus size since round 12 (ceil(n/125),
    clamped [16, 65536] — identical to the old fixed 16 at every test
    fixture): the round-12 derived-sf1 run measured 60.6x at 10x data
    with fixed cells (quadratic within-cell pair work); adaptive cells
    hold per-cell population constant, making the pair work linear."""
    return dedup.embedding_neardup_bucketed(load(spark, sf_dir, "embeddings"))


def _lloyd_iter_sql(i: int, prev: str) -> str:
    """One unrolled Lloyd round (llm/similarity.kmeans_centroids):
    assign each member vector to its max-cosine centroid (per-row
    window — PARTITION BY vec_id, embedding), then per-(cell, dim)
    exact-integer-grid mean: FLOOR(SUM(quantized)/COUNT + 0.5)/Q_SCALE.
    The SUM is order-independent (integer-valued doubles), the rest are
    single correctly-rounded IEEE ops, so the refined centroids are
    bit-equal between engines."""
    return f"""asg{i} AS (
  SELECT cell_id, embedding FROM (
    SELECT m.embedding, c.cell_id,
           ROW_NUMBER() OVER (
             PARTITION BY m.vec_id, m.embedding
             ORDER BY {_cos_sql('m.embedding', 'c.centroid')} DESC, c.cell_id
           ) AS rn
    FROM kmem m CROSS JOIN {prev} c
  ) WHERE rn = 1
),
kd{i} AS (
  SELECT cell_id,
         unnest(range(1, len(embedding) + 1)) AS dim,
         unnest(embedding::DOUBLE[]) AS v
  FROM asg{i}
),
cents{i} AS MATERIALIZED (
  SELECT cell_id, list(m ORDER BY dim) AS centroid FROM (
    SELECT cell_id, dim,
           FLOOR(SUM({_q_sql('v')}) / COUNT(*) + 0.5) / 1048576.0 AS m
    FROM kd{i} GROUP BY cell_id, dim
  ) GROUP BY cell_id
)"""


# Full replay of the Lloyd-refined IVF search (2 unrolled iterations on
# the exact integer grid — the round-11 determinism rebase, VERDICT r10
# item 4), then the _ORACLE_SIM_IVF search body over the refined
# centroids. Membership excludes NULL/non-finite vectors on both
# engines; the SEARCH still scores every vector. Same MATERIALIZED
# discipline as _ORACLE_SIM_IVF (filtered list-carrying CTEs).
_ORACLE_SIM_IVF_KMEANS = f"""
WITH probe AS MATERIALIZED (
  SELECT embedding AS p FROM embeddings WHERE vec_id = 0
),
kmem AS MATERIALIZED (
  SELECT vec_id, embedding FROM embeddings
  WHERE embedding IS NOT NULL
    AND len(list_filter(embedding,
                        v -> isnan(v) OR NOT isfinite(v))) = 0
    -- inner-NULL elements: list_filter DROPS NULL-predicate elements
    -- (len()=0 would pass) while Spark's exists() returns NULL and the
    -- engine filter excludes the row — gate them out explicitly
    -- (ADVICE r11)
    AND len(list_filter(embedding, v -> v IS NULL)) = 0
),
cents0 AS MATERIALIZED (
  SELECT vec_id AS cell_id, embedding AS centroid
  FROM kmem WHERE vec_id < 16
),
{_lloyd_iter_sql(1, 'cents0')},
{_lloyd_iter_sql(2, 'cents1')},
cell_rank AS (
  SELECT cell_id FROM cents2 CROSS JOIN probe
  ORDER BY {_cos_sql('centroid', 'p')} DESC, cell_id
  LIMIT 4
),
assigned AS (
  SELECT e.vec_id, e.embedding, c.cell_id,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY {_cos_sql('e.embedding', 'c.centroid')} DESC, c.cell_id,
                    e.embedding
         ) AS rn
  FROM embeddings e CROSS JOIN cents2 c
),
cand AS MATERIALIZED (
  SELECT vec_id, embedding FROM assigned
  WHERE rn = 1 AND cell_id IN (SELECT cell_id FROM cell_rank)
),
scored AS (
  SELECT vec_id, {_cos_sql('embedding', 'p')} AS c
  FROM cand CROSS JOIN probe
)
SELECT vec_id, ROUND(c, 4) AS cosine
FROM scored ORDER BY c DESC, vec_id LIMIT 10
"""


@register("q_sim_ivf_kmeans_topk", oracle=_ORACLE_SIM_IVF_KMEANS, tier="X")
def q_sim_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-10 over Lloyd-REFINED centroids (2 iterations), the
    production posture: refinement balances cell populations, which
    bounds the worst-case cell scan — the cost term IVF latency leans
    on at 100 TB (SCALE.md). Each Lloyd iteration shuffles only
    n_cells x dims partial means, never the vectors. FULL hash oracle
    since round 11: member values quantize onto the exact integer grid
    (functions/vector.quantize), so the per-dim sums are
    shuffle-order-independent and DuckDB replays both refinement rounds
    and the whole search (VERDICT r10 item 4 — the last 'Lloyd means
    average floats' exemption, removed). Recall floor vs brute force
    and vs the seeded variant stays pinned in tests/test_llm.py."""
    embs = load(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_centroids(embs, n_cells=16, iters=2)
    return similarity.ivf_topk(
        embs, similarity.probe_vector(embs), centroids=cents
    )


_ORACLE_TEXT_TOKENS = f"""
SELECT token, COUNT(*) AS cnt
FROM (SELECT unnest({_TOKS_SQL}) AS token FROM documents)
GROUP BY token
ORDER BY cnt DESC, token
LIMIT {llmtext.TOKEN_STATS_TOP_N}
"""


@register("q_text_tokens", oracle=_ORACLE_TEXT_TOKENS, tier="X")
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus tokens by frequency."""
    return llmtext.token_stats(load(spark, sf_dir, "documents"))


_BPE_SQL = llmtext.BPE_PATTERN.replace("'", "''")
_BPE_LEN_SQL = f"len(regexp_extract_all(text, '{_BPE_SQL}'))"

_ORACLE_TOKENS_RE = f"""
SELECT doc_id,
       len({_TOKS_SQL}) AS n_tokens_ws,
       {_BPE_LEN_SQL} AS n_tokens_bpe,
       {ratio_sql(f"{_BPE_LEN_SQL}::BIGINT", f"len({_TOKS_SQL})::BIGINT", 4)}
         AS bpe_per_word
FROM documents
"""


@register("q_text_tokens_re", oracle=_ORACLE_TOKENS_RE, tier="X")
def q_text_tokens_re(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc whitespace vs BPE-ish-regex token counts (GPT-2-style
    pre-tokenizer restricted to RE2/Java-identical constructs)."""
    return llmtext.bpe_token_counts(load(spark, sf_dir, "documents"))


_ORACLE_LANG_STATS = f"""
WITH m AS (
  SELECT lang, COUNT(*)::BIGINT AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS cs,
         CAST(SUM(len({_TOKS_SQL})) AS BIGINT) AS ts
  FROM documents GROUP BY lang
)
SELECT lang, n_docs,
       {ratio_sql("cs", "n_docs", 2)} AS avg_chars,
       {ratio_sql("ts", "n_docs", 2)} AS avg_tokens
FROM m
"""


@register("q_text_lang_stats", oracle=_ORACLE_LANG_STATS, tier="X")
def q_text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document statistics."""
    return llmtext.lang_stats(load(spark, sf_dir, "documents"))


# Integer-arithmetic rounding (functions/rational.ratio): ROUND() on a
# computed double split 4th-decimal ties differently per engine at
# sf0.1 (0.8362 vs 0.8363 on quality = 6690/8000); ratio_sql is the
# bit-portable round-half-up of a/b.
_ORACLE_TEXT_QUALITY = f"""
WITH t AS (
  SELECT doc_id, {_TOKS_SQL} AS ts FROM documents
),
m AS (
  SELECT doc_id,
         len(ts)::BIGINT AS n,
         len(list_filter(ts, x -> x IN ('the','a','of','and','in')))::BIGINT AS s,
         len(list_distinct(ts))::BIGINT AS d
  FROM t
)
SELECT doc_id,
  n AS n_tokens,
  {ratio_sql("s", "n", 4)} AS stopword_ratio,
  {ratio_sql("d", "n", 4)} AS distinct_ratio,
  {ratio_sql("n*least(n, 50) + 30*(n-s) + 20*d", "100*n", 4)} AS quality
FROM m
"""


@register("q_text_quality", oracle=_ORACLE_TEXT_QUALITY, tier="X")
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scores (length/stopword/diversity)."""
    return llmtext.quality_scores(load(spark, sf_dir, "documents"))


# Full two-phase oracle (VERDICT r4 #9 upgraded beyond the sketch: no
# faked profile — DuckDB rebuilds the trigram profiles from scratch).
# Determinism hinges on identical tie-breaks, which both engines give:
# ROW_NUMBER over (n DESC, tg ASC) — string order is raw UTF-8 bytes on
# both (= codepoint order) — and (score DESC, profile_lang ASC).
_ORACLE_LANGID = f"""
WITH tri AS (
  SELECT DISTINCT doc_id, lang, tg
  FROM (
    SELECT doc_id, lang,
           unnest([text[i:i+2] for i in range(1, len(text) - 1)]) AS tg
    FROM documents WHERE len(text) >= 3
  )
),
counts AS (
  -- NULL-labeled docs cannot TRAIN a profile (no language to learn);
  -- they are still classified against the real profiles below. Also
  -- keeps the best-pick tie-break NULL-free: Spark ASC puts a NULL
  -- profile_lang first, DuckDB last (r10 adversarial docs sweep).
  SELECT lang, tg, COUNT(*) AS n FROM tri
  WHERE lang IS NOT NULL GROUP BY lang, tg
),
profiles AS (
  SELECT lang AS profile_lang, tg
  FROM (SELECT lang, tg,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY n DESC, tg ASC) AS rn
        FROM counts)
  WHERE rn <= {llmtext.LANG_PROFILE_SIZE}
),
scored AS (
  SELECT t.doc_id, p.profile_lang, COUNT(*) AS score
  FROM tri t JOIN profiles p USING (tg)
  GROUP BY t.doc_id, p.profile_lang
),
best AS (
  SELECT doc_id, profile_lang AS predicted_lang, score
  FROM (SELECT doc_id, profile_lang, score,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC,
                                           profile_lang ASC) AS rn
        FROM scored)
  WHERE rn = 1
)
SELECT d.doc_id, d.lang AS actual_lang, b.predicted_lang, b.score
FROM documents d LEFT JOIN best b USING (doc_id)
"""


@register("q_text_langid", oracle=_ORACLE_LANGID, tier="X")
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram-profile language ID: per-language top-40
    trigram profiles built from the corpus itself, docs classified by
    profile overlap (deterministic tie-breaks both phases). Fully
    oracled — DuckDB rebuilds the profiles too (VERDICT r4 #9)."""
    return llmtext.language_id(load(spark, sf_dir, "documents"))


_ORACLE_FINGERPRINT = f"""
WITH grams AS (
  SELECT doc_id,
         [text[i:i+{llmtext.FP_K - 1}] for i in range(1, len(text) - {llmtext.FP_K - 2})] AS gs
  FROM documents
)
SELECT doc_id,
  CAST(list_min(list_transform(gs, g ->
    list_sum([ascii(g[j:j])::BIGINT * ([{", ".join(str(p) for p in llmtext.FP_POWS)}]::BIGINT[])[j]
              for j in range(1, {llmtext.FP_K + 1})]) % {llmtext.FP_MOD})) AS BIGINT) AS fp_min_hash,
  COALESCE(len(list_distinct(gs)), 0) AS n_distinct_grams
FROM grams
"""


@register("q_text_fingerprint", oracle=_ORACLE_FINGERPRINT, tier="X")
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint (engine-agnostic polynomial
    hash — the oracle reproduces it bit-for-bit in SQL)."""
    return llmtext.fingerprints(load(spark, sf_dir, "documents"))


# The canonical end-to-end curation pass a training-data pipeline runs:
# normalize -> exact-dedup -> quality-score -> language+quality filter ->
# PII scrub. Composed entirely from the already-oracled building blocks,
# so the whole pipeline stays hash-checkable.
_CURATE_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_CURATE_DIGITS_RE = "\\b\\d{9,}\\b"

_ORACLE_CURATE = f"""
WITH deduped AS (
  SELECT MIN(doc_id) AS doc_id,
         arg_min(lang, doc_id) AS lang,
         {normalized_sql()} AS norm_text,
         COUNT(*) AS n_copies
  FROM documents
  GROUP BY 3
),
scored AS (
  SELECT *, string_split(norm_text, ' ') AS ts FROM deduped
),
m AS (
  SELECT *, len(ts)::BIGINT AS n,
         len(list_filter(ts, x -> x IN ('the','a','of','and','in')))::BIGINT AS s,
         len(list_distinct(ts))::BIGINT AS d
  FROM scored
),
q AS (
  -- integer-arithmetic round-half-up (see _ORACLE_TEXT_QUALITY note)
  SELECT doc_id, lang, norm_text, n_copies,
         n AS n_tokens,
         {ratio_sql("n*least(n, 50) + 30*(n-s) + 20*d", "100*n", 4)} AS quality
  FROM m
)
SELECT doc_id, lang, n_copies, n_tokens, quality,
       regexp_replace(
         regexp_replace(norm_text, '{_CURATE_EMAIL_RE}', '[EMAIL]', 'g'),
         '{_CURATE_DIGITS_RE}', '[NUMBER]', 'g') AS clean_text
FROM q
WHERE lang = 'en' AND quality >= 0.75
"""


@register("q_curate_corpus", oracle=_ORACLE_CURATE, tier="X")
def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation: normalize -> exact dedup (survivor =
    min doc_id, language via min_by) -> rational quality score on the
    normalized text -> keep English docs above threshold -> PII scrub.
    One shuffle (the dedup groupBy); scoring, filtering, and scrubbing
    are map-side codegen over the survivors. The composition of
    q_dedup_exact + q_text_quality + q_text_pii_scrub semantics, kept
    fully SQL-expressible so the driver hash-checks the whole pipeline."""
    from database_cloner_spark.llm.text import STOPWORDS
    from database_cloner_spark.llm.textprep import normalized

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    deduped = (
        docs.select("doc_id", "lang", normalized(F.col("text")).alias("norm_text"))
        .groupBy("norm_text")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("lang", "doc_id").alias("lang"),
            F.count("*").alias("n_copies"),
        )
    )
    toks = F.split(F.col("norm_text"), " ")
    scored = deduped.select(
        "doc_id", "lang", "norm_text", "n_copies", toks.alias("__toks")
    )
    t = F.col("__toks")
    n_tokens = F.size(t)
    # Stopword count via ONE regex pass over the normalized text
    # instead of filter(t, x -> x.isin(...)): the HOF runs the lambda
    # interpreter per token (5 string equalities each; measured ~3 s of
    # this key's ~8 s at derived sf1 — r14 decomposition), while
    # regexp_count is a single compiled scan. Exactly equivalent on
    # normalized() text: tokens are the single-space splits, and the
    # non-consuming lookarounds anchor each alternative to whole-token
    # boundaries (consecutive stopwords all match — the lookbehind
    # space is not consumed). Empty norm_text splits to [''], which
    # matches no alternative on either form.
    sw_re = "(?<=^| )(" + "|".join(STOPWORDS) + ")(?= |$)"
    s = F.regexp_count("norm_text", F.lit(sw_re))
    d = F.size(F.array_distinct(t))
    # integer-arithmetic round-half-up — see functions/rational.ratio
    quality = ratio(
        n_tokens * F.least(n_tokens, F.lit(50)) + 30 * (n_tokens - s) + 20 * d,
        100 * n_tokens,
        4,
    )
    clean = F.regexp_replace(
        F.regexp_replace("norm_text", _CURATE_EMAIL_RE, "[EMAIL]"),
        _CURATE_DIGITS_RE,
        "[NUMBER]",
    )
    return (
        scored.select(
            "doc_id",
            "lang",
            "n_copies",
            n_tokens.alias("n_tokens"),
            quality.alias("quality"),
            clean.alias("clean_text"),
        )
        .filter((F.col("lang") == "en") & (F.col("quality") >= 0.75))
    )


_ORACLE_MULTIMODAL_META = """
SELECT doc_id AS asset_id,
       (['image','audio','video'])[(doc_id % 3) + 1] AS media_type,
       octet_length(encode(text)) AS n_bytes,
       left(hex(encode(text)), 8) AS magic
FROM documents
"""


@register("q_multimodal_meta", oracle=_ORACLE_MULTIMODAL_META, tier="X")
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over opaque binary payloads: filters/pruning happen
    on this struct BEFORE any decode at scale."""
    assets = assets_from_documents(load(spark, sf_dir, "documents"))
    return assets.select(
        "asset_id",
        "media_type",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.magic").alias("magic"),
    )


# Transitive closure of the fuzzy-dup pair graph: DuckDB brute-forces it
# with a recursive CTE (fine at oracle scale); the Spark side runs the
# distributed large-star/small-star loop in dedup.connected_components.
_ORACLE_DEDUP_CLUSTER = dedup.connected_components_sql(_ORACLE_DEDUP_FUZZY)


@register("q_dedup_cluster", oracle=_ORACLE_DEDUP_CLUSTER, tier="X")
def q_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> connected components: per-doc cluster_id (min
    doc_id of the component), the keep/drop decision layer above every
    pairwise dedup op (keep doc_id == cluster_id). Distributed
    large-star/small-star vs the oracle's recursive-CTE closure."""
    prs = dedup.shingle_jaccard_pairs(
        load(spark, sf_dir, "documents"), max_shingle_df=10_000
    )
    return dedup.connected_components(prs)


# Canonical selection = the cluster oracle's closure + the quality oracle's
# rational score + one ROW_NUMBER per cluster (quality DESC — NULLS LAST
# is DuckDB's DESC default, matching the engine's pinned
# desc_nulls_last — tie to lowest doc_id). Docs in the pair graph always
# carry >= 3 tokens (shingles exist), so the quality divisor n > 0.
_ORACLE_DEDUP_CANONICAL = f"""
WITH cl AS (
{_ORACLE_DEDUP_CLUSTER}
),
toks AS (
  SELECT doc_id, {_TOKS_SQL} AS ts FROM documents
),
q AS (
  SELECT doc_id,
         {ratio_sql("n*least(n, 50) + 30*(n-s) + 20*d", "100*n", 4)} AS quality
  FROM (
    SELECT doc_id,
           len(ts)::BIGINT AS n,
           len(list_filter(ts, x -> x IN ('the','a','of','and','in')))::BIGINT AS s,
           len(list_distinct(ts))::BIGINT AS d
    FROM toks
  ) m
),
ranked AS (
  SELECT cl.cluster_id, cl.doc_id, q.quality,
         ROW_NUMBER() OVER (
           PARTITION BY cl.cluster_id
           ORDER BY q.quality DESC, cl.doc_id
         ) AS rn,
         COUNT(*) OVER (PARTITION BY cl.cluster_id) AS n_members
  FROM cl JOIN q USING (doc_id)
)
SELECT cluster_id, doc_id AS survivor_id, quality AS survivor_quality,
       n_members
FROM ranked WHERE rn = 1
"""


@register("q_dedup_canonical", oracle=_ORACLE_DEDUP_CANONICAL, tier="X")
def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical survivor per near-dup cluster: the
    highest-quality member (rational quality score, ties to lowest
    doc_id) plus the member count — the curation policy that keeps the
    cleanest copy of a re-crawled page rather than q_dedup_apply's
    first-crawled min-id. One window pass per cluster (rank + count
    share the cluster_id Exchange)."""
    return dedup.canonical_survivors(
        load(spark, sf_dir, "documents"), max_shingle_df=10_000
    )


# CCNet-style boilerplate removal. "Lines" in the flat-token testdata are
# fixed 8-token segments; a segment present in >= 2 documents is
# boilerplate and removed everywhere. At sf0.01 that's 153 of 3434
# distinct segments — non-trivial but far from degenerate.
# DuckDB mirror of llm/text's fixed SEG_LEN-token segments over a
# `toks` CTE (segment_dedup, segment_boilerplate_census).
_SEG = llmtext.SEG_LEN
_SEGLISTS_SQL = f"""seglists AS (
  SELECT doc_id,
         [list_aggregate(ts[(i-1)*{_SEG}+1:i*{_SEG}], 'string_agg', ' ')
          for i in range(1, CAST(ceil(len(ts)/{_SEG}.0) AS INT) + 1)] AS segs
  FROM toks
)"""

_ORACLE_LINE_DEDUP = f"""
WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS ts FROM documents),
{_SEGLISTS_SQL},
seg_rows AS (
  SELECT doc_id, unnest(segs) AS seg, generate_subscripts(segs, 1) AS pos
  FROM seglists
),
seg_df AS (SELECT seg, COUNT(DISTINCT doc_id) AS df FROM seg_rows GROUP BY seg),
kept AS (
  SELECT r.doc_id, r.pos, r.seg
  FROM seg_rows r JOIN seg_df d ON r.seg = d.seg
  WHERE d.df <= 1
),
agg AS (
  SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS clean_text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id, COALESCE(a.clean_text, '') AS clean_text,
       COALESCE(a.n_kept, 0) AS n_kept
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


@register("q_text_line_dedup", oracle=_ORACLE_LINE_DEDUP, tier="X")
def q_text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus boilerplate-segment removal (CCNet-style line dedup
    over fixed 8-token segments, df >= 2 cut everywhere)."""
    return llmtext.segment_dedup(load(spark, sf_dir, "documents"))


# Benchmark-contamination probe: docs sharing >= 2 distinct 3-word
# shingles with the held-out "benchmark" slice (doc_id % 20 == 0).
_ORACLE_CONTAMINATION = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS ts FROM documents
),
sh AS (
{_SHINGLES_SQL}
),
t AS (SELECT doc_id AS train_id, unnest(shingles) AS shingle FROM sh
      WHERE doc_id % 20 <> 0),
b AS (SELECT doc_id AS bench_id, unnest(shingles) AS shingle FROM sh
      WHERE doc_id % 20 = 0)
SELECT t.train_id, b.bench_id, COUNT(*) AS n_shared
FROM t JOIN b USING (shingle)
GROUP BY t.train_id, b.bench_id
HAVING COUNT(*) >= 2
"""


@register("q_contamination", oracle=_ORACLE_CONTAMINATION, tier="X")
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark contamination: training docs sharing >= 2 distinct
    word-3-grams with any doc of the benchmark slice (doc_id % 20 == 0).
    Benchmark shingles broadcast -> shuffle-free probe over the corpus."""
    docs = load(spark, sf_dir, "documents")
    return dedup.benchmark_contamination(
        docs.filter(F.col("doc_id") % 20 != 0),
        docs.filter(F.col("doc_id") % 20 == 0),
    )


# Sequence packing: concat-and-chunk into 512-token contexts across 8
# hash shards. The oracle reproduces the identical multiplicative-hash
# order and per-shard running sum with SQL window functions.
# The hash replays packing._knuth_hash's 16/16 split-multiply —
# (K·x) mod 2^32 without the int64 overflow the direct product hits past
# |id| ≈ 3.47e9 (hash-derived ids span the full range); bit-identical to
# the old direct form for every id where that didn't overflow.
_ORACLE_PACK = f"""
WITH raw AS (
  SELECT doc_id,
         {n_tokens_sql()} AS n_tokens,
         ((doc_id % 4294967296) + 4294967296) % 4294967296 AS x
  FROM documents
),
base AS (
  SELECT doc_id, n_tokens,
         (2654435761 * (x % 65536)
          + (2654435761 * (x // 65536)) % 65536 * 65536) % 4294967296 AS h,
         ((2654435761 * (x % 65536)
           + (2654435761 * (x // 65536)) % 65536 * 65536) % 4294967296) % 8
           AS shard
  FROM raw
),
runs AS (
  SELECT doc_id, n_tokens, shard,
         CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY h
                                  ROWS UNBOUNDED PRECEDING) - n_tokens
              AS BIGINT) AS start
  FROM base
)
SELECT doc_id, n_tokens, shard,
       shard * 1000000 + CAST(floor(start / 512.0) AS BIGINT) AS pack_id,
       start % 512 AS offset
FROM runs
"""


@register("q_pack_sequences", oracle=_ORACLE_PACK, tier="X")
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing into 512-token contexts, 8 parallel hash
    shards (window per shard, no global ordering)."""
    from database_cloner_spark.llm.packing import pack_sequences

    return pack_sequences(load(spark, sf_dir, "documents"))


# Full FFD replay as a DuckDB RECURSIVE CTE (VERDICT r11 item 4; the
# q_ts_holt recursive-CTE precedent): per Knuth shard, docs in
# (n_tokens DESC, doc_id ASC) order thread a bin-state LIST through the
# recursion — `rem` holds each open bin's remaining capacity (-1
# sentinel for dedicated oversize bins, so a 0-token doc can never
# first-fit into one), `used` the running bin totals. First-fit =
# NULLIF(list_position(rem >= n), 0) — DuckDB's list_position returns 0
# on miss, not NULL. `ordered` is MATERIALIZED: a plain CTE re-runs the
# tokenizer regex over the whole corpus EVERY recursion step (measured
# minutes -> 0.9s at 500 docs). Ties on (n_tokens, doc_id) are
# interchangeable (identical rows produce identical bin states), so the
# engine's pandas stable sort and this ROW_NUMBER agree on the output
# MULTISET even when the within-tie order differs.
_ORACLE_PACK_BINS = f"""
WITH RECURSIVE raw AS (
  SELECT doc_id,
         {n_tokens_sql()} AS n_tokens,
         ((doc_id % 4294967296) + 4294967296) % 4294967296 AS x
  FROM documents
),
ordered AS MATERIALIZED (
  SELECT shard, doc_id, n_tokens,
         ROW_NUMBER() OVER (PARTITION BY shard
                            ORDER BY n_tokens DESC, doc_id) AS rn
  FROM (
    SELECT doc_id, n_tokens,
           ((2654435761 * (x % 65536)
             + (2654435761 * (x // 65536)) % 65536 * 65536) % 4294967296) % 8
             AS shard
    FROM raw
  )
),
ffd AS (
  SELECT shard, rn, doc_id, n_tokens,
         n_tokens > 512 AS oversize,
         0::BIGINT AS bin_idx,
         CASE WHEN n_tokens > 512 THEN [(-1)::BIGINT]
              ELSE [512 - n_tokens] END AS rem,
         [n_tokens] AS used
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.shard, o.rn, o.doc_id, o.n_tokens,
         o.n_tokens > 512 AS oversize,
         (CASE WHEN o.n_tokens > 512 OR l.fit IS NULL THEN len(f.rem)
              ELSE l.fit - 1 END)::BIGINT AS bin_idx,
         CASE WHEN o.n_tokens > 512 THEN list_append(f.rem, (-1)::BIGINT)
              WHEN l.fit IS NULL THEN list_append(f.rem, 512 - o.n_tokens)
              ELSE f.rem[1:l.fit-1] || [f.rem[l.fit] - o.n_tokens]
                   || f.rem[l.fit+1:] END AS rem,
         CASE WHEN o.n_tokens > 512 OR l.fit IS NULL
                   THEN list_append(f.used, o.n_tokens)
              ELSE f.used[1:l.fit-1] || [f.used[l.fit] + o.n_tokens]
                   || f.used[l.fit+1:] END AS used
  FROM ffd f
  JOIN ordered o ON o.shard = f.shard AND o.rn = f.rn + 1
  CROSS JOIN LATERAL (
    SELECT CASE WHEN o.n_tokens > 512 THEN NULL
                ELSE NULLIF(list_position(
                       list_transform(f.rem, r -> r >= o.n_tokens), true), 0)
           END AS fit) l
),
final AS (
  SELECT shard, used FROM ffd f
  WHERE rn = (SELECT MAX(rn) FROM ordered o WHERE o.shard = f.shard)
),
bins AS (
  SELECT shard,
         unnest(range(len(used)))::BIGINT AS bidx,
         unnest(used) AS bin_used
  FROM final
)
SELECT a.doc_id, a.n_tokens, a.shard,
       a.shard * 1000000 + a.bin_idx AS bin_id,
       b.bin_used, a.oversize
FROM ffd a JOIN bins b ON a.shard = b.shard AND a.bin_idx = b.bidx
"""


@register("q_pack_bins", oracle=_ORACLE_PACK_BINS, tier="X")
def q_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-document first-fit-decreasing bin packing into 512-token
    bins (no-truncation packing for SFT/eval payloads), shard-parallel
    applyInPandas. FULL hash oracle since round 12 (VERDICT r11 item
    4): the FFD fold is deterministic given the Knuth-shard order, so a
    DuckDB recursive CTE replays the whole greedy bin state. Coverage /
    capacity / FFD-bound / determinism stay pinned in tests/test_llm.py."""
    from database_cloner_spark.llm.packing import pack_bins

    return pack_bins(load(spark, sf_dir, "documents"))


# The (file_name, n_bytes, content_hash) projection over a DuckDB
# read_blob of the same files (VERDICT r11 item 4). DuckDB table
# functions accept only CONSTANT arguments (no parameterization, no
# subqueries — verified against 1.0), so the glob pins the driver's
# correctness tree (TESTDATA.md: every driver comparison runs at
# /root/testdata/sf0.01). The ENGINE side stays fully
# path-parameterized; local parity runs at sf0.01
# (tests/test_oracle_parity.py) and other paths keep the os.stat
# ground-truth test (tests/test_sources.py).
_ORACLE_SCAN_BINARY = """
SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name,
       size AS n_bytes,
       md5(hex(content)) AS content_hash
FROM read_blob('/root/testdata/sf0.01/*.parquet')
ORDER BY file_name
"""


@register("q_scan_binary", oracle=_ORACLE_SCAN_BINARY, tier="X")
def q_scan_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-file ingestion (binaryFile source) over the sf_dir's
    parquet files: location-independent manifest of (file_name,
    n_bytes, content_hash). FULL hash oracle since round 12 (VERDICT
    r11 item 4): the manifest hash is md5-over-hex (the one blob
    fingerprint both engines express — sources/binary.py), and the
    oracle read_blob()s the driver's sf0.01 tree (table-function args
    must be constants; the engine stays path-parameterized). Byte
    lengths additionally asserted against os.stat ground truth in
    tests/test_sources.py."""
    from database_cloner_spark.sources.binary import binary_manifest

    return binary_manifest(spark, sf_dir)


# Within-doc repetition (Gopher-style repetition filters): duplicate-token
# and duplicate-3-gram fractions, rational arithmetic rounded at the edge.
_ORACLE_REPETITION = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS ts FROM documents
),
fr AS (
  SELECT doc_id,
         len(ts) AS n_tokens,
         {ratio_sql("(len(ts) - len(list_distinct(ts)))::BIGINT",
                    "len(ts)::BIGINT", 4)} AS dup_token_frac,
         CASE WHEN len(ts) >= 3 THEN
           {ratio_sql(
               "(len(ts) - 2 - len(list_distinct("
               "[list_aggregate(ts[i:i+2], 'string_agg', ' ')"
               " for i in range(1, len(ts) - 1)])))::BIGINT",
               "(len(ts) - 2)::BIGINT",
               4,
           )}
         ELSE 0.0 END AS dup_ngram_frac
  FROM toks
)
SELECT doc_id, n_tokens, dup_token_frac, dup_ngram_frac,
       dup_ngram_frac > 0.2 AS is_repetitive
FROM fr
"""


@register("q_text_repetition", oracle=_ORACLE_REPETITION, tier="X")
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc repetition signals: duplicate-token and duplicate-
    3-gram fractions + repetitive flag. Pure map-side HOFs, no shuffle."""
    return llmtext.repetition_scores(load(spark, sf_dir, "documents"))


def _pq_oracle(ivf: bool) -> str:
    """Full replay of llm/similarity's PQ pipeline (its PQ_* and
    IVFPQ_* constants, 1 Lloyd round; the ivf variant adds seeded cell
    routing). Every stage is
    deterministic on the exact integer grid (round 11, VERDICT r10
    item 4): quantized unit vectors, lip-identity subvector distances
    (_l2q_sql), FLOOR(sum/count + 0.5) codebook means, integer ADC
    sums. `ecodes` re-derives the engine's POSITIONAL code array
    (posexplode of the (sub,code)-sorted list) — under duplicate
    vec_ids the merged array deliberately mislabels trailing subs and
    drops them at the codebook join, exactly as the engine does."""
    d_sub = similarity.PQ_DIM // similarity.PQ_M
    sl = f"s.sub * {d_sub} + 1 : s.sub * {d_sub} + {d_sub}"
    cells = (
        f""",
qcents AS MATERIALIZED (
  SELECT vec_id AS cell_id, qe AS centroid FROM qunit
  WHERE vec_id < {similarity.IVFPQ_CELLS} AND qe IS NOT NULL
),
icell_rank AS (
  SELECT cell_id FROM qcents CROSS JOIN qprobe
  ORDER BY {_cos_sql('centroid', 'p')} DESC, cell_id
  LIMIT {similarity.IVFPQ_NPROBE}
),
iassigned AS (
  SELECT vec_id, cell_id FROM (
    SELECT q.vec_id, c.cell_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_cos_sql('q.qe', 'c.centroid')} DESC, c.cell_id,
                      q.qe
           ) AS rn
    FROM qunit q CROSS JOIN qcents c
  ) WHERE rn = 1
),
cand_ids AS (
  SELECT vec_id FROM iassigned
  WHERE cell_id IN (SELECT cell_id FROM icell_rank)
)"""
        if ivf
        else ""
    )
    adc_src = (
        "ecodes e JOIN cand_ids USING (vec_id) JOIN adct t"
        if ivf
        else "ecodes e JOIN adct t"
    )
    return f"""
WITH nrm_ AS (
  -- IS NULL guard: DuckDB 1.0's list_inner_product rejects a NULL
  -- list even inside a projection over the base table (the r10
  -- MATERIALIZED lesson's flat-scan sibling). The inner-NULL-element
  -- guard mirrors it (lip errors 'can not contain NULL values'); the
  -- engine's norm fold poisons to NULL for the same rows, so both
  -- sides gate them unscorable in qunit (ADVICE r11).
  SELECT vec_id, embedding,
         CASE WHEN embedding IS NULL
                   OR len(list_filter(embedding, iv -> iv IS NULL)) > 0
              THEN NULL
              ELSE sqrt(list_inner_product(embedding::DOUBLE[],
                                           embedding::DOUBLE[])) END AS nv
  FROM embeddings
),
qunit AS MATERIALIZED (
  -- the whole-vector gate (quantized_unit): NULL / empty / zero-norm /
  -- non-finite-norm vectors are unscorable as a WHOLE — an Inf element
  -- would otherwise quantize to a mix of finite and NaN elements with
  -- partially-real subvector distances
  SELECT vec_id,
         CASE WHEN embedding IS NULL OR nv = 0 OR nv IS NULL
                   OR isnan(nv) OR NOT isfinite(nv) THEN NULL
              ELSE list_transform(embedding::DOUBLE[],
                                  x -> {_q_sql('x / nv')}) END AS qe
  FROM nrm_
),
qprobe AS MATERIALIZED (SELECT qe AS p FROM qunit WHERE vec_id = 0),
subs AS MATERIALIZED (
  SELECT vec_id, s.sub,
         CASE WHEN qe IS NULL THEN NULL ELSE qe[{sl}] END AS subvec,
         qe IS NOT NULL AS ok
  FROM qunit CROSS JOIN (SELECT unnest(range({similarity.PQ_M})) AS sub) s
),
-- vsubs/qprobe_ok: lip only ever sees MATERIALIZED all-finite lists
-- (DuckDB 1.0 validates lists behind a selection — the r10 lesson);
-- garbage rows take the provably-equivalent min-code branch below
-- (their d2 is NULL/NaN against EVERY codeword, so the engine's
-- asc-nulls-last argmin always lands on the smallest code).
vsubs AS MATERIALIZED (
  SELECT vec_id, sub, subvec FROM subs WHERE ok
),
seed AS MATERIALIZED (
  SELECT sub, vec_id AS code, subvec AS codeword
  FROM vsubs WHERE vec_id < {similarity.PQ_CODES}
),
m_best AS (
  SELECT sub, code, subvec FROM (
    SELECT s.sub, c.code, s.subvec,
           ROW_NUMBER() OVER (
             PARTITION BY s.vec_id, s.sub, s.subvec
             ORDER BY {_l2q_sql('s.subvec', 'c.codeword')} ASC, c.code
           ) AS rn
    FROM vsubs s JOIN seed c ON s.sub = c.sub
  ) WHERE rn = 1
),
m_dims AS (
  SELECT sub, code,
         unnest(range(1, len(subvec) + 1)) AS dim,
         unnest(subvec) AS v
  FROM m_best
),
cb AS MATERIALIZED (
  SELECT sub, code, list(cw ORDER BY dim) AS codeword FROM (
    SELECT sub, code, dim,
           FLOOR(SUM(v) / COUNT(*) + 0.5) AS cw
    FROM m_dims GROUP BY sub, code, dim
  ) GROUP BY sub, code
),
enc AS (
  SELECT vec_id, sub, code FROM (
    SELECT s.vec_id, s.sub, c.code,
           ROW_NUMBER() OVER (
             PARTITION BY s.vec_id, s.sub, s.subvec
             ORDER BY {_l2q_sql('s.subvec', 'c.codeword')} ASC, c.code
           ) AS rn
    FROM vsubs s JOIN cb c ON s.sub = c.sub
  ) WHERE rn = 1
  UNION ALL
  -- DISTINCT over (vec_id, sub, subvec): duplicate garbage rows with
  -- identical subvecs collapse, exactly like the engine's
  -- (vec_id, sub, subvec) argmin partition
  SELECT g.vec_id, g.sub, mc.code
  FROM (SELECT DISTINCT vec_id, sub, subvec FROM subs WHERE NOT ok) g
  JOIN (SELECT sub, MIN(code) AS code FROM cb GROUP BY sub) mc
    USING (sub)
),
ecodes AS (
  SELECT vec_id,
         unnest(range(len(codes))) AS sub,
         unnest(codes) AS code
  FROM (
    SELECT vec_id, list(code ORDER BY sub, code) AS codes
    FROM enc GROUP BY vec_id
  )
),
qprobe_ok AS MATERIALIZED (
  SELECT p FROM qprobe WHERE p IS NOT NULL
),
adct AS MATERIALIZED (
  SELECT c.sub, c.code,
         {_l2q_sql(f'(pr.p[c.sub * {d_sub} + 1 : c.sub * {d_sub} + {d_sub}])', 'c.codeword')}
           AS d2
  FROM cb c CROSS JOIN qprobe_ok pr
  UNION ALL
  -- an unscorable probe row still fans the table with NULL distances
  -- (the engine's 1-row NULL probe does the same)
  SELECT c.sub, c.code, NULL::DOUBLE AS d2
  FROM cb c CROSS JOIN (SELECT 1 AS x FROM qprobe WHERE p IS NULL) pn
){cells},
adc AS (
  SELECT e.vec_id, ROUND(SUM(t.d2), 6) AS adc_dist
  FROM {adc_src} ON e.sub = t.sub AND e.code = t.code
  GROUP BY e.vec_id
),
short AS MATERIALIZED (
  SELECT vec_id FROM adc ORDER BY adc_dist ASC, vec_id LIMIT {similarity.PQ_SHORTLIST}
),
rprobe AS MATERIALIZED (
  SELECT embedding AS p FROM embeddings WHERE vec_id = 0
),
rer AS (
  SELECT e.vec_id, {_cos_sql('e.embedding', 'pr.p')} AS c
  FROM embeddings e JOIN short s USING (vec_id) CROSS JOIN rprobe pr
)
SELECT vec_id, ROUND(c, 4) AS cosine
FROM rer ORDER BY c DESC, vec_id LIMIT {similarity.PQ_TOP_K}
"""


_ORACLE_SIM_PQ = _pq_oracle(ivf=False)


@register("q_sim_pq_topk", oracle=_ORACLE_SIM_PQ, tier="X")
def q_sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization top-10: 8x16 codebooks, ADC shortlist over
    8-byte codes (64x compression), exact rerank of the shortlist only.
    FULL hash oracle since round 11 (VERDICT r10 item 4): the whole
    pipeline runs on the exact integer grid, so DuckDB replays
    codebook refinement, encoding, the ADC shortlist and the rerank
    verbatim. Recall floor vs brute force stays pinned in
    tests/test_llm.py."""
    embs = load(spark, sf_dir, "embeddings")
    return similarity.pq_topk(embs, similarity.probe_vector(embs))


# Frame-offset sampling over video assets, registered in EXPLODED
# all-scalar form (one row per sampled frame) so the driver's hash
# canonicalizer can sort/hash it — an array<bigint> column is unhashable
# there (r3's one red row). The byte-offset math is reproduced exactly
# in SQL (real decoders would seek timestamps; the container has no
# codec, so the PLAN is the testable contract). The array-producing
# frame_sample_plan stays the library API; this derives from it.
_ORACLE_MULTIMODAL_FRAMES = f"""
WITH base AS (
  SELECT doc_id AS asset_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
  FROM documents WHERE doc_id % 3 = 2
), exploded AS (
  SELECT asset_id, n_bytes,
         unnest(range(n_bytes // {FRAME_EVERY_N_BYTES} + 1)) AS frame_idx
  FROM base
)
SELECT asset_id, n_bytes, frame_idx,
       {FRAME_EVERY_N_BYTES} * frame_idx AS frame_offset
FROM exploded
"""


@register("q_multimodal_frames", oracle=_ORACLE_MULTIMODAL_FRAMES, tier="X")
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plan for video assets: byte offsets every 64 bytes
    from typed metadata only — planning happens BEFORE any payload
    decode, so at scale the planner touches metadata structs, never
    media bytes. Emitted one-row-per-frame (posexplode of the library
    plan's offsets array): all-scalar schema for the correctness gate,
    and the shape a downstream decode stage consumes anyway."""
    from database_cloner_spark.llm.multimodal import frame_sample_exploded

    assets = assets_from_documents(load(spark, sf_dir, "documents"))
    return frame_sample_exploded(assets)


_ORACLE_SIM_IVFPQ = _pq_oracle(ivf=True)


@register("q_sim_ivfpq_topk", oracle=_ORACLE_SIM_IVFPQ, tier="X")
def q_sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed IVF-PQ top-10 (cells prune which rows, codes shrink
    what is scanned, exact rerank on the shortlist). FULL hash oracle
    since round 11 (VERDICT r10 item 4): seeded cell routing + the
    integer-grid PQ pipeline are replayed end-to-end by DuckDB. Recall
    floor vs brute force stays pinned in tests."""
    embs = load(spark, sf_dir, "embeddings")
    return similarity.ivfpq_topk(embs, similarity.probe_vector(embs))


# The deduplicated-corpus deliverable: drop every non-canonical member
# of each near-dup cluster, keep everything else.
_ORACLE_DEDUP_APPLY = f"""
WITH clusters AS (
{_ORACLE_DEDUP_CLUSTER}
)
SELECT d.doc_id, d.lang, d.source
FROM documents d LEFT JOIN clusters c USING (doc_id)
WHERE c.cluster_id IS NULL OR c.cluster_id = d.doc_id
"""


@register("q_dedup_apply", oracle=_ORACLE_DEDUP_APPLY, tier="X")
def q_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus itself: every doc outside the dup graph
    plus one canonical survivor (the min doc_id) per near-dup cluster —
    q_dedup_cluster's assignments applied back with a left-anti-style
    join. The drop set is tiny (cluster members only), so the join
    against the corpus broadcasts it."""
    docs = load(spark, sf_dir, "documents")
    prs = dedup.shingle_jaccard_pairs(docs, max_shingle_df=10_000)
    clusters = dedup.connected_components(prs)
    drop = clusters.filter(F.col("cluster_id") != F.col("doc_id")).select("doc_id")
    return docs.join(F.broadcast(drop), "doc_id", "left_anti").select(
        "doc_id", "lang", "source"
    )


# Overlapping-window chunking (doc -> passages for retrieval indexing).
# Window/stride arithmetic reproduced exactly in SQL; the last partial
# window is kept on both sides.
_ORACLE_CHUNK = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS ts FROM documents
),
w AS (
  SELECT doc_id,
         CASE WHEN len(ts) <= 32 THEN 1
              ELSE CAST(ceil((len(ts) - 32) / 16.0) AS INT) + 1 END AS n_chunks,
         ts
  FROM toks
)
SELECT doc_id, i - 1 AS chunk_id,
       list_aggregate(ts[(i-1)*16+1:(i-1)*16+32], 'string_agg', ' ') AS chunk_text,
       len(ts[(i-1)*16+1:(i-1)*16+32]) AS n_tokens
FROM w, UNNEST(range(1, n_chunks + 1)) AS t(i)
"""


@register("q_text_chunk", oracle=_ORACLE_CHUNK, tier="X")
def q_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc → overlapping 32-token passages every 16 tokens (the
    retrieval-indexing chunker). Map-side explode, no shuffle."""
    return llmtext.chunk_documents(load(spark, sf_dir, "documents"))


# Brute-force oracle: the driver's sf0.01 customer table is 1500 rows, so
# all-pairs levenshtein is trivial for DuckDB — the REGISTERED plan is the
# deletion-neighborhood inverted index, exact for distance 1 (no recall
# loss), which is the only formulation that survives 100 TB.
_ORACLE_NAMES_ED1 = """
WITH c AS (
  SELECT DISTINCT c_custkey, c_name FROM customer
  WHERE c_custkey IS NOT NULL AND c_name IS NOT NULL
)
SELECT a.c_custkey                                 AS key_a,
       a.c_name                                    AS name_a,
       b.c_custkey                                 AS key_b,
       b.c_name                                    AS name_b,
       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
FROM c a JOIN c b ON a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 1
"""


@register("q_dedup_names_ed1", oracle=_ORACLE_NAMES_ED1, tier="X")
def q_dedup_names_ed1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 entity resolution (llm/dedup.py
    edit_distance1_pairs): all customer-name pairs within one
    levenshtein edit, found via deletion-neighborhood blocking — every
    row emits len+1 deletion variants, an inverted index groups rows
    per variant (join-free posting lists, the minhash shape), and
    survivors get one exact levenshtein verify. EXACT for distance 1,
    O(n·len) candidate work vs the O(n²) all-pairs the oracle brute-
    forces at toy scale — the near-identical names/titles/URLs matcher
    of every entity-resolution pipeline."""
    from database_cloner_spark.llm.dedup import edit_distance1_pairs

    cust = load(spark, sf_dir, "customer")
    # max_df=None: the REGISTERED key must equal the uncapped brute-force
    # oracle exactly — a capped posting list would silently drop real
    # pairs on a skewed fixture (review r6). The cap stays available on
    # the helper for the 100 TB path, where the oracle-equality contract
    # doesn't apply and boilerplate buckets must be bounded.
    return edit_distance1_pairs(cust, "c_custkey", "c_name", max_df=None)


_ORACLE_DIVERSITY = f"""
WITH base AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
),
t AS (SELECT doc_id, UNNEST(toks) AS tok FROM base),
c AS (SELECT doc_id, tok, COUNT(*)::BIGINT AS c FROM t GROUP BY doc_id, tok),
s AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n, CAST(SUM(c * c) AS BIGINT) AS ssq,
         COUNT(*)::BIGINT AS u
  FROM c GROUP BY doc_id
)
SELECT b.doc_id,
       COALESCE(s.n, 0) AS n_tokens,
       COALESCE(s.u, 0) AS n_unique,
       CASE WHEN s.n IS NOT NULL
            THEN {ratio_sql("s.n * s.n - s.ssq", "s.n * s.n", 4)}
       END AS gini
FROM base b LEFT JOIN s USING (doc_id)
"""


@register("q_text_diversity", oracle=_ORACLE_DIVERSITY, tier="X")
def q_text_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical diversity: Gini-Simpson index of the token
    distribution, 1 - sum((c_i/n)^2) — the repetitiveness score that
    flags boilerplate/template docs (low diversity) without the libm
    entropy log whose cross-engine rounding is not reproducible. Shape:
    ENTIRELY map-side — tokens/array_distinct/filter-count HOFs are
    JVM-side expressions per row, so the operator is a pure projection
    over the scan: ZERO shuffles at any corpus size (the oracle's
    unnest+groupBy is the toy-scale mirror, not the plan). The index is
    exact integer arithmetic per doc — gini = (n^2 - sum(c^2))/n^2
    through rational.ratio (round-half-up at 1e-4, no float ratio) — and
    the tokenizer is the shared textprep/tokens_sql contract, so counts
    cannot drift from the rest of the text tier. NULL text degrades to
    (0, 0, NULL) identically on both engines."""
    docs = load(spark, sf_dir, "documents")
    from database_cloner_spark.llm.textprep import tokens

    toks = tokens(F.col("text"))
    # sum(c_i^2) as a SORTED RUN-LENGTH fold: one array_sort + one
    # aggregate pass, O(n log n) per doc. The first cut folded over
    # array_distinct and re-filtered the full array per distinct token
    # — O(u*n), quadratic on mostly-unique documents (r8 self-review).
    # prev starts NULL; tokens are never NULL (split yields strings),
    # so the null-safe <=> starts the first run correctly, and the
    # finisher flushes the last run.
    ssq = F.expr(
        "aggregate(array_sort(__toks), "
        "named_struct('prev', cast(null as string), 'run', 0L, 'acc', 0L), "
        "(s, t) -> if(s.prev <=> t, "
        "named_struct('prev', s.prev, 'run', s.run + 1L, 'acc', s.acc), "
        "named_struct('prev', t, 'run', 1L, "
        "'acc', s.acc + s.run * s.run)), "
        "s -> s.acc + s.run * s.run)"
    )
    n = F.size(F.col("__toks")).cast("long")
    gini = ratio(n * n - F.col("__ssq"), n * n, 4)
    return (
        docs.select("doc_id", "text", toks.alias("__toks"))
        .select(
            "doc_id",
            "text",
            "__toks",
            ssq.alias("__ssq"),
        )
        .select(
            "doc_id",
            F.coalesce(F.size("__toks").cast("long"), F.lit(0)).alias("n_tokens"),
            F.coalesce(
                F.size(F.array_distinct("__toks")).cast("long"), F.lit(0)
            ).alias("n_unique"),
            F.when(F.col("text").isNotNull(), gini).alias("gini"),
        )
    )


# Exact SQL twin of llm/multimodal.fake_features: rebuild each payload's
# byte values from hex(encode(text)) (strpos over the hex alphabet — a
# BYTE decode, immune to the ord()/codepoint trap on multibyte UTF-8),
# assign np.array_split chunk boundaries with pure integer math (first
# n%8 chunks get n//8+1 bytes, the rest n//8 — the CASE's else-branch
# division by n//8 is reachable only when n >= 8, so no div-by-zero),
# then the same (sum * 10000) // len fixed-point mean. The 0..7 spine
# LEFT JOIN re-creates empty-chunk zeros (short payloads) and the
# zero-features row set of empty payloads; NULL-text assets are dropped
# on both sides (the featurizer yields a NULL array, posexplode drops it).
_ORACLE_MULTIMODAL_FEATURES = """
WITH a AS (
  SELECT doc_id AS asset_id,
         ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
         hex(encode(text)) AS hx,
         CAST(octet_length(encode(text)) AS BIGINT) AS n
  FROM documents WHERE text IS NOT NULL
),
b AS (
  SELECT asset_id, n, (p - 1) AS pos,
         (strpos('0123456789ABCDEF', substr(hx, CAST(2*p-1 AS INT), 1)) - 1) * 16
       + (strpos('0123456789ABCDEF', substr(hx, CAST(2*p   AS INT), 1)) - 1) AS bv
  FROM a, UNNEST(generate_series(1, n)) AS t(p)
  WHERE n > 0
),
c AS (
  SELECT asset_id,
         CASE WHEN pos < (n % 8) * ((n // 8) + 1)
              THEN pos // ((n // 8) + 1)
              ELSE (n % 8) + (pos - (n % 8) * ((n // 8) + 1)) // (n // 8)
         END AS k,
         bv
  FROM b
),
s AS (
  SELECT asset_id, k, CAST(SUM(bv) AS BIGINT) AS csum, COUNT(*)::BIGINT AS clen
  FROM c GROUP BY asset_id, k
),
spine AS (
  SELECT asset_id, media_type, g.k FROM a, UNNEST(generate_series(0, 7)) AS g(k)
)
SELECT sp.asset_id, sp.media_type, CAST(sp.k AS BIGINT) AS feat_idx,
       CAST(COALESCE((s.csum * 10000) // s.clen, 0) AS BIGINT) AS feat_fp
FROM spine sp LEFT JOIN s ON s.asset_id = sp.asset_id AND s.k = sp.k
"""


@register("q_multimodal_features", oracle=_ORACLE_MULTIMODAL_FEATURES, tier="X")
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over opaque binary payloads — the
    decode->embed stage of a multimodal ingest, exercised end-to-end
    through the driver: llm/multimodal.fake_features runs a
    deterministic byte-statistics featurizer (the codec stand-in)
    inside mapInPandas —
    Arrow batch transfer, binary-in/array-out schema, per-batch NumPy
    work, never a row-at-a-time UDF. The 8-dim feature array explodes
    to one scalar row per (asset, dim) so the driver's hash sees
    all-scalar columns. Features are INTEGER fixed point (mean byte
    value per chunk in 1e-4 units, floored — exact associative math),
    so the key carries a full DuckDB hash oracle that re-derives the
    bytes from hex(encode(text)) and replays the same integer ops
    bit-for-bit (r8 VERDICT item 3; the r8 float form was rows-only).
    A NULL payload (NULL source text on the nasty twin) degrades to a
    NULL feature array inside the worker — never a crash — and
    posexplode then drops that asset from the output. At 100 TB the
    only change is swapping the fake for a real codec in the same
    mapInPandas slot (bounded memory via
    spark.sql.execution.arrow.maxRecordsPerBatch); metadata filters
    prune BEFORE the Python boundary (q_multimodal_meta's contract)."""
    from database_cloner_spark.llm.multimodal import (
        assets_from_documents,
        fake_features,
    )

    assets = assets_from_documents(load(spark, sf_dir, "documents"))
    feats = fake_features(assets)
    return feats.select(
        "asset_id",
        "media_type",
        F.posexplode("features").alias("feat_idx", "feat_value"),
    ).select(
        "asset_id",
        "media_type",
        F.col("feat_idx").cast("long").alias("feat_idx"),
        F.col("feat_value").alias("feat_fp"),
    )


# Exact SQL twin of the resize fake: kept bytes = min(orig, 256), and
# the resized tail re-derived on the HEX STRING — rpad(hex, 512, '0')
# both truncates a longer payload's hex to 512 chars (= the 256 kept
# bytes) and zero-pads a shorter one (= the \x00 right-padding), so
# chars 505..512 are exactly the last 4 bytes the mapInPandas transform
# emitted. Media selection repeats the features oracle's list-index
# expression so the two multimodal oracles cannot drift.
_ORACLE_MULTIMODAL_RESIZE = """
SELECT doc_id AS asset_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS orig_bytes,
       CAST(LEAST(octet_length(encode(text)), 256) AS BIGINT) AS kept_bytes,
       substr(rpad(hex(encode(text)), 512, '0'), 505, 8) AS tail_hex
FROM documents
WHERE text IS NOT NULL
  AND ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] = 'image'
"""


@register("q_multimodal_resize", oracle=_ORACLE_MULTIMODAL_RESIZE, tier="X")
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image 'resize' stage of the multimodal ingest: media-type and
    NULL-payload pruning happen BEFORE the Python boundary (metadata
    filters cut the decode workload — q_multimodal_meta's contract),
    then llm/multimodal.resize_images truncates/right-pads every image
    payload to 256 bytes inside mapInPandas (Arrow batches,
    binary-in/binary-out; a real deployment swaps the fake for a codec
    resample in the same slot). Output is scalar-hashable evidence of
    the transform: original size, kept bytes, and the hex of the
    resized payload's LAST 4 bytes — the window where truncation vs
    zero-padding shows — recomputed by the DuckDB oracle from the hex
    string (rpad truncates AND pads, mirroring both branches). hex()
    renders uppercase on both engines."""
    from database_cloner_spark.llm.multimodal import (
        assets_from_documents,
        resize_images,
    )

    assets = assets_from_documents(load(spark, sf_dir, "documents")).filter(
        F.col("payload").isNotNull()
    )
    resized = resize_images(assets, target_bytes=256)
    return resized.select(
        "asset_id",
        F.col("orig_bytes").cast("long").alias("orig_bytes"),
        F.least(F.col("orig_bytes"), F.lit(256)).cast("long").alias("kept_bytes"),
        F.hex(F.substring(F.col("payload"), 253, 4)).alias("tail_hex"),
    )


# Boilerplate-exposure census: per document, how many of its 8-token
# segments appear in >= 3 documents corpus-wide — segment_dedup's
# read-only sibling (q_text_line_dedup CUTS df>=2 segments; this key
# MEASURES df>=3 exposure so a pipeline can triage sources before
# paying for the cut). Same segment CTEs as _ORACLE_LINE_DEDUP so the
# two keys' segment semantics cannot drift.
_ORACLE_BOILERPLATE = f"""
WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS ts
              FROM documents WHERE text IS NOT NULL),
{_SEGLISTS_SQL},
seg_rows AS (SELECT doc_id, unnest(segs) AS seg FROM seglists),
seg_df AS (SELECT seg, COUNT(DISTINCT doc_id) AS df FROM seg_rows GROUP BY seg),
per AS (
  SELECT r.doc_id, COUNT(*) AS n_segs,
         SUM(CASE WHEN d.df >= {llmtext.BOILERPLATE_DF} THEN 1 ELSE 0 END) AS n_bp
  FROM seg_rows r JOIN seg_df d ON r.seg = d.seg
  GROUP BY r.doc_id
)
SELECT doc_id, CAST(n_segs AS BIGINT) AS n_segs,
       CAST(n_bp AS BIGINT) AS n_boilerplate,
       CAST((n_bp * 1000000) // n_segs AS BIGINT) AS bp_ppm
FROM per
"""


@register("q_text_boilerplate", oracle=_ORACLE_BOILERPLATE, tier="X")
def q_text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-exposure census (read-only sibling of
    q_text_line_dedup): per doc, the count and ppm share of its 8-token
    segments that appear in >= 3 docs corpus-wide — headers, footers,
    license blurbs. The triage signal that decides whether a source
    needs the (more expensive) cut pass, and a per-doc quality feature.
    Scale shape: llm/text.segment_boilerplate_census — segment df is
    ONE map-combined groupBy keyed on xxhash64(segment) (8-byte shuffle
    keys, never segment text), the join back an equi-join on the same
    hash, the per-doc fold one more compact groupBy; no corpus-wide
    window. Exact integers throughout, floor(ppm) at the edge."""
    return llmtext.segment_boilerplate_census(load(spark, sf_dir, "documents"))


def _oracle_cross_source() -> str:
    from database_cloner_spark.queries.oracle_fragments import normalized_sql

    # DISTINCT (source, norm_text) first: within-source duplicates must
    # not inflate the overlap count; the pair join then runs on the
    # deduped text set with source_a < source_b so each unordered pair
    # counts once.
    return f"""
WITH n AS (
  SELECT DISTINCT source, {normalized_sql()} AS nt
  FROM documents
  WHERE text IS NOT NULL AND source IS NOT NULL
)
SELECT a.source AS source_a, b.source AS source_b,
       COUNT(*)::BIGINT AS n_shared
FROM n a JOIN n b ON a.nt = b.nt AND a.source < b.source
GROUP BY a.source, b.source
"""


_ORACLE_CROSS_SOURCE = _oracle_cross_source()


@register("q_dedup_cross_source", oracle=_ORACLE_CROSS_SOURCE, tier="X")
def q_dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source exact-duplicate overlap matrix: for every source
    pair, how many normalized texts appear in BOTH — the mixture-design
    input that tells you two crawls are the same feed in disguise
    (double-weighting a source that q_sample_mixture then upsamples
    again) and which pairs the fuzzy-dedup pass must scan hardest.
    Scale shape: texts collapse to DISTINCT (source, xxhash64(norm))
    FIRST — map-side partial dedup, the exchange carries an 8-byte hash
    + source, never text — then the self-join runs per hash bucket:
    cost is sum over shared hashes of (sources-per-hash choose 2),
    bounded by the (tiny) source domain squared, never corpus^2. The
    oracle joins on the normalized TEXT itself (readable spec); the
    engine joins on xxhash64 of it — the q_dedup_exact collision
    posture (P ~ n^2/2^64, and a collision only perturbs one count)."""
    from database_cloner_spark.llm.textprep import normalized

    n = (
        load(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & F.col("source").isNotNull())
        .select("source", F.xxhash64(normalized(F.col("text"))).alias("h"))
        .distinct()
    )
    a = n.select(F.col("source").alias("source_a"), "h")
    b = n.select(F.col("source").alias("source_b"), "h")
    return (
        a.join(b, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )


# Int8 symmetric quantization audit over the embedding corpus: per
# vector, the per-tensor scale (max|x|/127) and the worst-case absolute
# reconstruction error of round-to-nearest int8 — the 4x-compression
# dry run an ANN pipeline does before switching its vector store to
# int8 (PQ's 64x cousin at the other end of the recall/size curve; see
# q_sim_pq_topk). Every step is deterministic IEEE arithmetic evaluated
# identically on both engines: cast-to-double, one correctly-rounded
# divide for the scale, round-half-up via floor(v/scale + 1/2) (exact —
# no banker's-rounding divergence), multiply-subtract-abs for the
# error, and FLOOR fixed-point (1e9) at the output edge, never ROUND on
# a computed double. Degenerate vectors (empty, all-zero) emit NULL
# scale/error rather than dividing by zero — the CASE short-circuits on
# both engines.
_ORACLE_EMB_QUANTIZE = """
WITH x AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
m AS (
  SELECT vec_id, v, len(v)::BIGINT AS n_dims,
         CASE WHEN len(v) > 0 THEN list_max(list_transform(v, e -> abs(e)))
         END AS mx
  FROM x
),
s AS (
  -- isfinite guard: NaN > 0 is TRUE on both engines (NaN sorts
  -- greatest), so an unguarded CASE would compute a NaN scale whose
  -- floor SATURATES in Spark (pitfall 12) and errors in DuckDB
  SELECT vec_id, v, n_dims,
         CASE WHEN mx > 0 AND isfinite(mx) THEN mx / 127.0 END AS scale
  FROM m
)
SELECT vec_id, n_dims,
       CAST(FLOOR(scale * 1000000000) AS BIGINT) AS scale_fp,
       CASE WHEN scale IS NOT NULL THEN
         CAST(FLOOR(list_max(list_transform(v,
              e -> abs(e - FLOOR(e / scale + 0.5) * scale)))
              * 1000000000) AS BIGINT)
       END AS max_err_fp
FROM s
"""


@register("q_emb_quantize", oracle=_ORACLE_EMB_QUANTIZE, tier="X")
def q_emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 symmetric-quantization audit: per-tensor scale
    (max|x|/127) and worst-case absolute reconstruction error under
    round-to-nearest — the compression dry run before an ANN store
    flips to int8. Shape: pure map-side column math over ONE scan —
    JVM higher-order functions (transform/array_max), no shuffle, no
    join, no Python; at 100 TB this is the embarrassingly-parallel
    scoring pass. Round-half-up is floor(v/scale + 1/2) (exact IEEE,
    engine-agnostic — never half-even library rounding); outputs are
    FLOOR 1e-9 fixed point so no computed double meets ROUND. Empty or
    all-zero vectors yield NULL scale/error (guarded CASE — ANSI-safe,
    no zero divide)."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    x = F.expr("transform(embedding, v -> CAST(v AS DOUBLE))")
    m = e.select(
        "vec_id",
        x.alias("v"),
        F.size(x).cast("long").alias("n_dims"),
    ).select(
        "vec_id",
        "v",
        "n_dims",
        F.when(
            F.col("n_dims") > 0,
            F.expr("array_max(transform(v, e -> abs(e)))"),
        ).alias("mx"),
    )
    s = m.select(
        "vec_id",
        "v",
        "n_dims",
        # NaN > 0 is TRUE on both engines — guard finiteness explicitly
        # or a NaN/inf element poisons scale and the floor saturates
        F.when(
            (F.col("mx") > 0)
            & ~F.isnan("mx")
            & (F.col("mx") < F.lit(float("inf"))),
            F.col("mx") / F.lit(127.0),
        ).alias("scale"),
    )
    err = F.expr(
        "array_max(transform(v,"
        " e -> abs(e - FLOOR(e / scale + 0.5D) * scale)))"
    )
    return s.select(
        "vec_id",
        "n_dims",
        F.floor(F.col("scale") * F.lit(1000000000.0)).cast("long").alias(
            "scale_fp"
        ),
        F.when(F.col("scale").isNotNull(), F.floor(err * F.lit(1000000000.0)))
        .cast("long")
        .alias("max_err_fp"),
    )


# Truncation-duplicate census: documents whose NORMALIZED text shares
# the same first-64-char prefix. A re-crawled page cut off mid-body, a
# connection-dropped fetch, or a max-length-truncated export produces
# docs that exact dedup misses (different lengths) and shingle dedup
# may miss (the tail is gone) but prefix grouping catches — the
# CommonCrawl-style truncation pathology. Groups also report how many
# DISTINCT full texts they contain: 1 means plain exact copies, >1
# means true truncation variants worth a manual look.
_PREFIX_LEN = 64

_ORACLE_DEDUP_PREFIX = f"""
WITH n AS (
  SELECT doc_id, {normalized_sql()} AS nt FROM documents
),
p AS (
  SELECT doc_id, nt, nt[1:{_PREFIX_LEN}] AS pfx
  FROM n WHERE len(nt) >= {_PREFIX_LEN}
)
SELECT MIN(doc_id) AS rep_doc_id,
       COUNT(*)::BIGINT AS n_docs,
       COUNT(DISTINCT nt)::BIGINT AS n_distinct_texts
FROM p GROUP BY pfx HAVING COUNT(*) >= 2
"""


@register("q_dedup_prefix", oracle=_ORACLE_DEDUP_PREFIX, tier="X")
def q_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncation-duplicate census: normalized-prefix (64 chars)
    groups holding >= 2 docs, with the distinct-full-text count that
    separates plain copies from genuine truncation variants. Shape:
    ONE scan, normalize+substring in codegen, one two-phase groupBy on
    the prefix — the exchange carries one partial row per distinct
    prefix with (min id, count, distinct-text state); output is
    collision-group-sized. At 100 TB swap the 64-char shuffle key for
    xxhash64(prefix) with the q_dedup_exact second-fingerprint
    collision audit — 8-byte exchange, same census."""
    from database_cloner_spark.llm.textprep import normalized

    n = load(spark, sf_dir, "documents").select(
        "doc_id", normalized(F.col("text")).alias("nt")
    )
    p = n.filter(F.length("nt") >= _PREFIX_LEN).select(
        "doc_id", "nt", F.substring("nt", 1, _PREFIX_LEN).alias("pfx")
    )
    return (
        p.groupBy("pfx")
        .agg(
            F.min("doc_id").alias("rep_doc_id"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count_distinct("nt").cast("long").alias("n_distinct_texts"),
        )
        .filter(F.col("n_docs") >= 2)
        .select("rep_doc_id", "n_docs", "n_distinct_texts")
    )


# Binary-payload exact dedup by content hash over a doubled asset
# table (at-least-once media re-ingest, the q_dedup_exact posture for
# OPAQUE payloads): per media type, physical assets, distinct payload
# digests, duplicate surplus + ppm. The multimodal tier's storage-
# dedup primitive — identical bytes are identical media regardless of
# filename/id, and the 16-byte digest is the shuffle key, never the
# payload (content-addressable-store discipline).
_ORACLE_DEDUP_ASSET = """
WITH assets AS (
  SELECT doc_id AS asset_id,
         (['image','audio','video'])[(doc_id % 3) + 1] AS media_type,
         text
  FROM documents
),
doubled AS (
  SELECT asset_id, media_type, text FROM assets
  UNION ALL
  SELECT asset_id + 1000000, media_type, text FROM assets
),
h AS (SELECT media_type, md5(text) AS digest FROM doubled)
SELECT media_type,
       COUNT(*)::BIGINT AS n_assets,
       COUNT(DISTINCT digest)::BIGINT AS n_distinct_payloads,
       (COUNT(*) - COUNT(DISTINCT digest))::BIGINT AS n_dup_assets,
       CAST(((COUNT(*) - COUNT(DISTINCT digest)) * 1000000) // COUNT(*)
            AS BIGINT) AS dup_ppm
FROM h GROUP BY media_type
"""


@register("q_dedup_asset", oracle=_ORACLE_DEDUP_ASSET, tier="X")
def q_dedup_asset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash dedup census for opaque binary assets over a
    doubled ingest (simulating media re-crawl): per media type,
    physical assets vs distinct MD5 payload digests. Shape: digest
    computed map-side over the payload BYTES (Spark md5(binary) ==
    DuckDB md5(utf8 varchar) — verified byte-identical), then ONE
    two-phase groupBy(media_type) whose distinct-digest state carries
    32-char digests, never payloads; exchange is media-type-sized. At
    100 TB this is the content-addressable-store census: payloads stay
    in place, only digests move."""
    assets = assets_from_documents(
        load(spark, sf_dir, "documents")
    ).select("asset_id", "media_type", "payload")
    doubled = assets.unionByName(
        assets.select(
            (F.col("asset_id") + 1000000).alias("asset_id"),
            "media_type",
            "payload",
        )
    )
    h = doubled.select("media_type", F.md5("payload").alias("digest"))
    return h.groupBy("media_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_assets"),
        F.count_distinct("digest").cast("long").alias("n_distinct_payloads"),
        (F.count(F.lit(1)) - F.count_distinct("digest"))
        .cast("long")
        .alias("n_dup_assets"),
        F.expr(
            "((count(1) - count(DISTINCT digest)) * 1000000L) div count(1)"
        ).cast("long").alias("dup_ppm"),
    )


# Code-vs-prose detection: per document, integer ppm rates of the
# symbols that separate source code from natural text (braces/
# semicolons/equals, underscore_identifiers, indented lines are absent
# in the flat fixture so the signal set is char-class based), plus the
# verdict at the classic threshold — the corpus-composition filter a
# pre-training mix applies before language ID even runs (code is
# "mis-IDed" as English otherwise). Pure integer arithmetic: counts
# via length-difference after regexp_replace, ppm floor division.
_ORACLE_CODE_DETECT = """
WITH m AS (
  SELECT doc_id,
         length(text)::BIGINT AS n_chars,
         (length(text) - length(regexp_replace(text, '[{}();=\\[\\]<>]', '', 'g')))::BIGINT AS n_code_chars,
         (length(text) - length(regexp_replace(text, '_', '', 'g')))::BIGINT AS n_underscores
  FROM documents WHERE text IS NOT NULL AND length(text) > 0
)
SELECT doc_id, n_chars,
       CAST((n_code_chars * 1000000) // n_chars AS BIGINT) AS code_char_ppm,
       CAST((n_underscores * 1000000) // n_chars AS BIGINT)
         AS underscore_ppm,
       (n_code_chars * 1000000) // n_chars >= 20000 AS looks_like_code
FROM m
"""


@register("q_text_code_detect", oracle=_ORACLE_CODE_DETECT, tier="X")
def q_text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose detector: per doc, code-symbol and underscore
    character rates (exact floor ppm) and the >= 2% code-char verdict —
    the corpus-composition filter a pre-training mix runs before
    language ID (code otherwise pollutes the 'en' bucket). Shape: pure
    map-side codegen (length minus post-regexp_replace length — the
    q_text_encoding_audit counting idiom), ZERO shuffles, per-row
    output. Empty/NULL docs are excluded on both engines (no rate to
    compute)."""
    d = load(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    n_chars = F.length("text").cast("long")
    n_code = (
        F.length("text")
        - F.length(F.regexp_replace("text", r"[{}();=\[\]<>]", ""))
    ).cast("long")
    n_us = (
        F.length("text") - F.length(F.regexp_replace("text", "_", ""))
    ).cast("long")
    m = d.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_code.alias("n_code_chars"),
        n_us.alias("n_underscores"),
    )
    code_ppm = F.expr("(n_code_chars * 1000000L) div n_chars")
    return m.select(
        "doc_id",
        "n_chars",
        code_ppm.cast("long").alias("code_char_ppm"),
        F.expr("(n_underscores * 1000000L) div n_chars")
        .cast("long")
        .alias("underscore_ppm"),
        (code_ppm >= 20000).alias("looks_like_code"),
    )
