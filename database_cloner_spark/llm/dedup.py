"""Deduplication operators.

Five escalating strategies, each with its 100 TB story:

- exact: normalize -> groupBy(text). One shuffle on the text hash; at
  scale, group on xxhash64(text) first so the shuffle key is 8 bytes,
  not the document.
- shingle Jaccard (exact near-dup): explode shingles -> equi-join on
  shingle -> per-pair intersection counts. Never materializes the
  O(n^2) pair matrix — only pairs sharing >=1 shingle, weighted by
  shingle frequency. Hot shingles (stopword runs) are the skew risk:
  cap or drop shingles with document-frequency above a bound.
- MinHash + LSH: fixed-size signatures (64 perms) replace the shingle
  sets, banding turns near-dup search into an equi-join on
  (band_id, band_hash) — the only formulation that scales to billions
  of docs. Candidates are verified with exact Jaccard.
- SimHash: one 60-bit portable signature per doc; near-dups =
  hamming <= k, found by pigeonhole banding (4x15-bit chunks).
- embedding cosine: semantic near-dup over the embeddings table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from database_cloner_spark.functions import ranks
from database_cloner_spark.functions.partitioning import spread
from database_cloner_spark.functions.rational import ratio
from database_cloner_spark.llm.textprep import (
    SHINGLE_N,
    normalized,
    shingles_of_tokens,
    tokens,
)

# --- exact -----------------------------------------------------------------


def exact_dedup(docs: DataFrame) -> DataFrame:
    """One surviving doc_id per normalized text + multiplicity.

    The shuffle key is `xxhash64(norm_text)` — 8 bytes — not the
    document itself: at 100 TB, hash-partitioning, sorting and
    comparing full documents as the group key is the dominant cost,
    while an 8-byte key keeps the exchange narrow and the (radix)
    sort cheap. The text still rides along ONCE per map-side partial
    group (as the `min` aggregate value, combined map-side), because
    the output contract includes it. Collision audit: a SECOND
    independent 64-bit fingerprint (xxhash64 over salted text) must be
    constant within each group — min==max over a long buffer, so the
    audit ships 16 extra bytes per group instead of a second copy of
    the document (a `max(norm_text)` audit would double the shuffled
    text). `assert_true` fails the job loudly on a real collision
    (both 64-bit hashes colliding: P ≈ n²/2¹²⁹) instead of silently
    merging two distinct documents. The string agg buffer makes this a
    SortAggregate rather than HashAggregate — sorting 8-byte keys
    map-side is the cheap trade for the narrow exchange."""
    h = F.xxhash64(F.col("norm_text"))
    # independent fingerprint: salting the input is equivalent to an
    # independent hash function (xxhash64's seed is not exposed)
    h2 = F.xxhash64(F.concat(F.col("norm_text"), F.lit("\x01dcs")))
    return (
        docs.select(F.col("doc_id"), normalized(F.col("text")).alias("norm_text"))
        .groupBy(h.alias("__h"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count("*").alias("n_copies"),
            F.min("norm_text").alias("norm_text"),
            F.min(h2).alias("__fp_lo"),
            F.max(h2).alias("__fp_hi"),
        )
        .withColumn(
            "__audit",
            F.assert_true(
                # null-safe: an all-NULL-text group must pass the audit
                F.col("__fp_lo").eqNullSafe(F.col("__fp_hi")),
                F.concat(F.lit("xxhash64 collision on exact-dedup key "), F.col("__h")),
            ),
        )
        .filter(F.col("__audit").isNull())  # always true; keeps audit in the plan
        .select("doc_id", "norm_text", "n_copies")
    )


# --- exact shingle Jaccard -------------------------------------------------


def _pair_intersections(
    exploded: DataFrame,
    max_df: int | None,
    min_size_ratio: float | None = None,
) -> DataFrame:
    """(doc_a, doc_b, na, nb, inter) for every pair sharing >= 1 key —
    the shared reducer stage of the Jaccard and containment ops (see
    _jaccard_pairs_from_exploded for the shape rationale and the max_df
    skew-cap semantics).

    `min_size_ratio` (Jaccard callers pass their threshold) is the
    EXACT length prune applied before the pair-count exchange:
    J = i/(na+nb−i) with i <= min(na,nb), and since x <= y in the reals
    implies fl(x) <= fl(y) (rounding is monotone), fl(min/max) <
    threshold implies the downstream fl(inter/union) >= threshold
    filter would discard the pair anyway — dropping it here is
    result-identical and removes its rows from the pair exchange
    (~15 % of the sf1 pair stream). Containment callers pass None
    (containment has no min/max bound).

    An r14 mapInArrow pair generator (vectorized triu-index explosion
    replacing this interpreted nested-transform lambda) measured
    NEUTRAL under the interleaved worktree A/B on all three family
    keys at sf0.1 and derived sf1 — the lambda is not the family's
    bottleneck at these pair volumes — and was reverted; the SQL form
    stays (no Python boundary, no Arrow transport of posting lists)."""
    lists = (
        exploded.groupBy("__key")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "__n"))).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    if max_df is not None:
        lists = lists.filter(F.size("ds") <= max_df)
    pairs = lists.select(
        F.explode(
            F.expr(
                "flatten(transform(ds, (x, i) -> "
                "transform(slice(ds, i + 2, size(ds) - i - 1), "
                "y -> struct(x.doc_id AS doc_a, x.__n AS na, "
                "y.doc_id AS doc_b, y.__n AS nb))))"
            )
        ).alias("p")
    ).select("p.doc_a", "p.na", "p.doc_b", "p.nb")
    if min_size_ratio is not None:
        pairs = pairs.filter(
            F.least("na", "nb").cast("double")
            / F.greatest("na", "nb").cast("double")
            >= F.lit(min_size_ratio)
        )
    return pairs.groupBy("doc_a", "doc_b", "na", "nb").agg(
        F.count("*").alias("inter")
    )


def _jaccard_pairs_from_exploded(
    exploded: DataFrame, threshold: float, max_df: int | None
) -> DataFrame:
    """Inverted-index pair generation shared by the shingle and char-gram
    Jaccard ops. Input: (doc_id, __n, __key) with (doc_id, __key)
    distinct and __n = the doc's full set size.

    One shuffle groups the posting list per key (sort_array ⇒ doc_a <
    doc_b), ordered pairs explode INSIDE the reducer, and a second
    shuffle counts per pair. The previous formulation — self-join of the
    exploded frame on the key — executed the whole tokenize+explode map
    side TWICE (the two join branches never hit ReuseExchange once AQE
    re-plans one side as a broadcast) and shuffled the key string twice;
    this shape computes it once (measured at sf0.1: q_dedup_fuzzy
    4.3s → 1.7s steady-state, identical output).

    `max_df` is the hot-key skew cap (boilerplate twin of
    `minhash_lsh_pairs(max_band_bucket=...)`), and in this formulation
    it is FREE: a key's document frequency IS its posting-list size, so
    the cap is a filter on size(ds) — no extra groupBy+join. Keys above
    the cap lose their pairs while set sizes (na/nb) still count them,
    so capped pairs can only LOSE intersection weight (jaccard under-
    never over-estimated; pairs held together solely by boilerplate
    fall below threshold — the curation-desirable direction). At scale
    the cap is REQUIRED, not optional: an uncapped posting list must
    fit in one reducer's memory, exactly the k² blow-up the cap exists
    to bound."""
    inter = _pair_intersections(exploded, max_df, min_size_ratio=threshold)
    union = F.col("na") + F.col("nb") - F.col("inter")
    # filter on the raw ratio (identical int operands -> identical double
    # on both engines); OUTPUT via integer-exact rounding
    # (functions/rational.ratio) so a 4th-decimal tie cannot split
    # across engines.
    return (
        inter.withColumn("jaccard", F.col("inter") / union)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", ratio(F.col("inter"), union, 4).alias("jaccard"))
    )


def shingle_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.4,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """All pairs with shingle-Jaccard >= threshold, via the inverted-
    index formulation (no cross product, map side computed once; see
    _jaccard_pairs_from_exploded for the shape and the hot-shingle
    `max_shingle_df` cap semantics)."""
    sh = _shingle_sets(docs).withColumn("n_sh", F.size("sh"))
    exploded = sh.select(
        "doc_id", F.col("n_sh").alias("__n"), F.explode("sh").alias("__key")
    )
    return _jaccard_pairs_from_exploded(exploded, threshold, max_shingle_df)


def shingle_containment_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Asymmetric shingle containment: C(A→B) = |S_A ∩ S_B| / |S_A|.
    Containment catches doc-INSIDE-doc duplication — quotes,
    truncated re-crawls, boilerplate-wrapped reposts — where a small
    doc sits verbatim inside a much larger one: Jaccard divides by the
    UNION, so a 100-shingle doc fully contained in a 10k-shingle doc
    scores J ≈ 0.01 (invisible) but C = 1.0. Pairs where either
    direction clears `threshold` are emitted with both directions'
    scores, so the consumer can tell containment (one high) from
    near-identity (both high).

    Same inverted-index skeleton + max_df skew cap as
    shingle_jaccard_pairs (one posting-list shuffle, one pair-count
    shuffle, no cross product); the filter compares raw integer-ratio
    doubles and the OUTPUT rounds via integer arithmetic
    (functions/rational.ratio), the cross-engine tie discipline."""
    sh = _shingle_sets(docs).withColumn("n_sh", F.size("sh"))
    exploded = sh.select(
        "doc_id", F.col("n_sh").alias("__n"), F.explode("sh").alias("__key")
    )
    inter = _pair_intersections(exploded, max_shingle_df)
    keep = F.greatest(
        F.col("inter") / F.col("na"), F.col("inter") / F.col("nb")
    ) >= threshold
    return inter.filter(keep).select(
        "doc_a",
        "doc_b",
        ratio(F.col("inter"), F.col("na"), 4).alias("cont_a"),
        ratio(F.col("inter"), F.col("nb"), 4).alias("cont_b"),
    )


# --- character n-gram Jaccard ---------------------------------------------

CHAR_GRAM_N = 3  # q_dedup_ngram's oracle reads it too


def char_ngram_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, gs) — distinct lowercase character n-grams per doc,
    n = CHAR_GRAM_N. Character grams catch typo/edit-level near-dups
    that word shingles miss (one changed word kills 3 word-shingles but
    only ~n char grams). Short texts (< n chars) yield an empty set,
    same guard as shingles_of_tokens."""
    n = CHAR_GRAM_N
    t = spread(docs.select("doc_id", F.col("text"))).select(
        "doc_id", F.lower(F.trim(F.col("text"))).alias("__t")
    )
    grams = F.when(
        F.length("__t") >= n,
        F.array_distinct(
            F.expr(
                f"transform(sequence(1, length(__t) - {n - 1}),"
                f" i -> substr(__t, i, {n}))"
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    return t.select("doc_id", grams.alias("gs"))


def char_ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """All pairs with char-n-gram Jaccard >= threshold via the same
    inverted-index skeleton as shingle_jaccard_pairs, uncapped: char
    grams have a SMALL vocabulary, so df skew is worse than for word
    shingles, and the scale path is a df cap or MinHash over the gram
    sets — this form is the correctness oracle."""
    gs = char_ngram_sets(docs).withColumn("n_g", F.size("gs"))
    exploded = gs.select(
        "doc_id", F.col("n_g").alias("__n"), F.explode("gs").alias("__key")
    )
    return _jaccard_pairs_from_exploded(exploded, threshold, None)


# --- MinHash + LSH ---------------------------------------------------------

N_PERM = 64
LSH_ROWS = 2  # rows per band
N_BANDS = N_PERM // LSH_ROWS

# Engine-portable hash family (the q_text_fingerprint precedent, round
# 10: re-based from xxhash64 so the DuckDB oracle can replay the exact
# candidate generation and q_dedup_minhash graduates from rows-only to
# a full hash oracle). All arithmetic stays strictly inside int64:
# every operand is < MH_MOD (~2^30), so products are < 2^60 and the
# 3-term shingle combine is < 2^62.
#
# - word hash: polynomial over the word's first 8 codepoints
#   (positional powers of MH_BASE mod MH_MOD; codepoint 0 for
#   positions past the end — ascii('') is 0 on BOTH engines, so short
#   words hash exactly and >8-char words truncate: an acceptable,
#   deterministic coarsening for near-dup candidate generation).
# - shingle hash: the 3 word hashes combined with powers of MH_BASE^8
#   — exactly the polynomial hash of the zero-padded 24-char
#   concatenation.
# - permutation i: the classic LCG family (a_i * h + b_i) mod MH_MOD,
#   a_i/b_i fixed powers of two odd constants mod the prime (never 0).
# - band key: m_{2b} * 2^31 + m_{2b+1} — both minima < 2^30, so the
#   pairing is COLLISION-FREE and needs no hash at all.
MH_MOD = 1_000_000_007
MH_BASE = 131
MH_WORD_POWS = [pow(MH_BASE, j, MH_MOD) for j in range(8)]
MH_X1 = pow(MH_BASE, 8, MH_MOD)
MH_X2 = pow(MH_BASE, 16, MH_MOD)
MH_A = [pow(1_103_515_245, i + 1, MH_MOD) for i in range(N_PERM)]
MH_B = [pow(10_007, i + 1, MH_MOD) for i in range(N_PERM)]


def _word_hash_sql(
    word_sql: str,
    pows: list[int] | None = None,
    mod: int = MH_MOD,
) -> str:
    """SQL text of the 8-codepoint polynomial word hash — one string
    used verbatim by BOTH the Spark expression builder and the DuckDB
    oracle generator (ascii() and out-of-range substring agree on the
    two engines: 0 and '')."""
    pows = MH_WORD_POWS if pows is None else pows
    terms = " + ".join(
        f"CAST(ascii(substring({word_sql}, {j + 1}, 1)) AS BIGINT)"
        f" * {pows[j]}"
        for j in range(8)
    )
    return f"(({terms}) % {mod})"


def shingle_hash_sql(shingle_sql: str) -> str:
    """SQL text hashing a 3-word shingle string: word-split via
    `split_part(s, ' ', k)` (identical semantics in Spark and DuckDB),
    each word polynomial-hashed, combined positionally."""
    w = [f"split_part({shingle_sql}, ' ', {k})" for k in (1, 2, 3)]
    return (
        f"(({_word_hash_sql(w[0])} * {MH_X2}"
        f" + {_word_hash_sql(w[1])} * {MH_X1}"
        f" + {_word_hash_sql(w[2])}) % {MH_MOD})"
    )


def _shingle_sets(docs: DataFrame) -> DataFrame:
    # Two-step projection: tokens materialized BEFORE shingling so the
    # split regex runs once per doc, not once per shingle position.
    # The emptiness filter runs on the TOKEN count, not size(sh):
    # filtering on the projected shingle column gets pushed below the
    # projection and re-evaluates the whole shingle expression inside
    # the predicate (measured 7x slower). size(toks) >= n ⟺ sh nonempty.
    # spread(): single-split local inputs otherwise run the whole
    # tokenize+shingle map side on one core (identity at scale).
    return (
        spread(docs.select("doc_id", F.col("text")))
        .select("doc_id", tokens(F.col("text")).alias("__toks"))
        .filter(F.size("__toks") >= SHINGLE_N)
        .select("doc_id", shingles_of_tokens(F.col("__toks")).alias("sh"))
    )


def _minhash_min_columns(sh: DataFrame) -> DataFrame:
    """(doc_id, m0..m63) — one codegen'd min-hash column per permutation.
    The shingle string is hashed ONCE to a long (the portable
    polynomial family above — plain fixed-term column arithmetic, so
    it stays in whole-stage codegen exactly like q_text_fingerprint's
    gram hash; a per-char HOF fold would run interpreted, the measured
    9x pathology); the 64 'permutations' re-mix that long with LCG
    constants, not the string bytes — string hashing is the dominant
    cost and doesn't need repeating."""
    tok = sh.select("doc_id", F.explode("sh").alias("s")).withColumn(
        "h", F.expr(shingle_hash_sql("s"))
    )
    # The 64 aggregate columns are built as ONE SQL-text expression per
    # column batch instead of 64 Column-API constructions: each F.min/
    # alias chain is ~4 py4j round trips, and the loop costed
    # ~0.5s of DRIVER time per query build (measured; execution is
    # unchanged — identical analyzed plan either way).
    agg_exprs = [
        F.expr(f"min((h * {MH_A[i]} + {MH_B[i]}) % {MH_MOD}) AS m{i}")
        for i in range(N_PERM)
    ]
    return tok.groupBy("doc_id").agg(*agg_exprs)


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.4,
    max_band_bucket: int | None = None,
) -> DataFrame:
    """LSH banding (32 bands x 2 rows): candidate pairs share at least
    one band hash; candidates are then verified with EXACT Jaccard on
    the shingle arrays (cheap: candidates only). P(candidate | s=0.4)
    = 1-(1-0.4^2)^32 ~ 0.996.

    Scale shape: the band self-join and the pair-dedup move only bare
    (doc_a, doc_b) ids — 16 bytes/row — and the shingle arrays are
    fetched AFTER dedup via two equi-joins back to the signature table,
    so the wide payload is shuffled once per surviving candidate, never
    per band collision."""
    sh = _shingle_sets(docs)
    mins = _minhash_min_columns(sh)
    # Band directly off the min columns — the shingle arrays never enter
    # the banding/join branch of the plan.
    # Band key = m_{2b} * 2^31 + m_{2b+1}: both minima < MH_MOD < 2^31,
    # so the pairing is collision-free int64 arithmetic — portable to
    # the oracle, and cheaper than hashing.
    band_terms = ", ".join(
        f"(m{b * LSH_ROWS} * 2147483648L + m{b * LSH_ROWS + 1})"
        for b in range(N_BANDS)
    )
    bands = F.expr(f"array({band_terms})")  # one parse, not 96 py4j calls
    banded = mins.select(
        "doc_id", F.posexplode(bands).alias("band_id", "band_hash")
    )
    if max_band_bucket is not None:
        # Hot-bucket cap: a band hash shared by k docs yields k^2
        # candidates, so one boilerplate-text bucket of 100k docs is
        # 10^10 pairs out of a single reducer. Dropping buckets over the
        # bound loses only near-dup GROUPS bigger than the bound —
        # deliberately acceptable at web scale (those groups are caught
        # by exact dedup on normalized text, and each doc keeps 31 other
        # bands). Implemented as a count-over-window on the band key —
        # ONE exchange, reused by the self-join below — instead of a
        # groupBy+join back, which planned the whole minhash pipeline
        # twice (the aggregate branch has no exchange to reuse).
        w = W.partitionBy("band_id", "band_hash")
        banded = (
            banded.withColumn("__bucket_n", F.count("*").over(w))
            .filter(F.col("__bucket_n") <= max_band_bucket)
            .drop("__bucket_n")
        )
    a = banded.alias("a")
    b = banded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # Exact-Jaccard verify on survivors only, joining back to the
    # MATERIALIZED shingle frame (doc_id, sh) per pair side. Two shapes
    # were measured at sf0.1:
    #   (a) this one — sh computed+shuffled per side (the two exchanges
    #       share an identical subtree, so ReuseExchange computes the
    #       shingle pipeline once); the jaccard filter then runs over
    #       materialized arrays. ~2.6s steady.
    #   (b) joining raw TEXT per side and re-shingling post-join — less
    #       shuffle payload on paper, but Catalyst collapses the
    #       projections and pushes the jaccard filter INTO the join
    #       condition, re-evaluating tokenize+shingle+intersect inside
    #       the join predicate per probed row. ~6s steady, and the
    #       blow-up grows with candidate count. Rejected.
    shingle_sets = sh
    verified = (
        candidates.join(
            shingle_sets.select(
                F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")
            ),
            "doc_a",
        )
        .join(
            shingle_sets.select(
                F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")
            ),
            "doc_b",
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        verified.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", ratio(inter, union, 4).alias("jaccard"))
    )


# --- SimHash ---------------------------------------------------------------

# Portable 60-bit SimHash (round 10, following the MinHash re-base):
# the per-token hash is two independent 30-bit polynomial hashes
# (different base AND different prime) composed arithmetically as
# h = th2 * 2^30 + th1 < 2^60 — strictly positive int64, so neither
# engine ever touches the sign bit (the 64-bit form's 1<<63 raises in
# DuckDB and wraps in Spark), and the DuckDB oracle can replay the
# signature bit-for-bit. 60 bits / hamming <= 3 pigeonholes into
# 4 x 15-bit chunks.
SH_BITS = 60
SH_MOD2 = 999_999_937
SH_BASE2 = 137
SH_WORD_POWS2 = [pow(SH_BASE2, j, SH_MOD2) for j in range(8)]
SH_CHUNK_BITS = SH_BITS // 4
SH_CHUNK_MASK = (1 << SH_CHUNK_BITS) - 1


def token_hash_sql(tok_sql: str) -> str:
    """SQL text of the 60-bit portable token hash, shared verbatim by
    the Spark builder and the DuckDB oracle."""
    th1 = _word_hash_sql(tok_sql)
    th2 = _word_hash_sql(tok_sql, SH_WORD_POWS2, SH_MOD2)
    return f"({th2} * 1073741824 + {th1})"


def simhash(docs: DataFrame) -> DataFrame:
    """60-bit SimHash per doc: per-token portable polynomial hash, each
    bit votes +-1 weighted by occurrence; sign of the vote is the
    signature bit. Implemented as 60 conditional-sum aggregates after
    an explode — partial aggregation keeps the shuffle at 60 longs per
    doc."""
    tok = spread(docs.select("doc_id", F.col("text"))).select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    ).withColumn("h", F.expr(token_hash_sql("tok")))
    # SQL-text expression batches (one parse per column / one for the
    # whole fold) instead of ~600 Column-API py4j round trips — same
    # analyzed plan, ~2s less driver time per build (cf. the identical
    # change in _minhash_min_columns).
    votes = [
        F.expr(
            f"sum(CASE WHEN (shiftright(h, {b}) & 1) = 1 THEN 1 ELSE -1 END) AS v{b}"
        )
        for b in range(SH_BITS)
    ]
    agg = tok.groupBy("doc_id").agg(*votes)
    sig = F.expr(
        " | ".join(
            f"(CASE WHEN v{b} > 0 THEN shiftleft(CAST(1 AS BIGINT), {b}) "
            f"ELSE CAST(0 AS BIGINT) END)"
            for b in range(SH_BITS)
        )
    )
    return agg.select("doc_id", sig.alias("simhash"))


def simhash_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= k via pigeonhole banding:
    split the 60-bit signature into 4 x 15-bit chunks; any pair within
    hamming 3 must agree on >= 1 chunk, so candidates come from an
    equi-join on (chunk_idx, chunk_value)."""
    sigs = simhash(docs)
    # shiftright needs a literal bit count -> build the 4-chunk array at
    # the Python level, not with a sequence lambda.
    chunks = F.array(
        *[
            F.shiftright(F.col("simhash"), i * SH_CHUNK_BITS).bitwiseAND(
                F.lit(SH_CHUNK_MASK)
            )
            for i in range(4)
        ]
    )
    chunked = sigs.select(
        "doc_id", "simhash", F.posexplode(chunks).alias("chunk_idx", "chunk_val")
    )
    a = chunked.alias("a")
    b = chunked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# --- embedding cosine near-dup --------------------------------------------

from database_cloner_spark.functions.vector import dot as _dot  # noqa: E402


def _cos_pair_schema(embs: DataFrame) -> str:
    """Survivor-pair output schema for the cosine Arrow evaluators —
    vec_id's type passes through from the input (the old join form
    emitted it untouched)."""
    vid = embs.schema["vec_id"].dataType.simpleString()
    return f"vec_a {vid}, vec_b {vid}, cosine DOUBLE"


# Pair-chunk bound for the ordered-fold product matrix: (chunk x dim)
# float64 stays ~128 MB even in a pathological skewed cell.
_COS_CHUNK_ELEMS = 1 << 24


def _cos_pairs_in_group(threshold: float):
    """Vectorized within-group cosine pair scoring (r13 optimization,
    guide §4.2). Emits exactly the SURVIVING pairs (vec_a < vec_b,
    cosine >= threshold under Spark's NaN-greatest comparison) with the
    BIT-IDENTICAL cosine of the old per-pair JVM fold:

    - products x_f64 * y_f64 and the left-to-right fold are replicated
      by elementwise float64 multiply + np.add.accumulate (verified
      bit-equal to the zip_with/aggregate fold — same IEEE ops in the
      same order; the fold's 0.0 seed can only differ on the sign of a
      zero dot, and a ±0.0 cosine never survives the threshold);
    - norms are the same fold over squares + one correctly-rounded
      sqrt, recomputed per row exactly like the carried `nrm` column
      was built;
    - try_divide's divide-by-zero NULL = the den != 0 mask (a NaN/Inf
      denominator is NOT zero: 0*Inf = NaN survives as a NaN cosine,
      exactly like the JVM path);
    - mixed-dimension pairs fold to NULL (zip_with pads with NULL), so
      only same-dim blocks are scored; rows with a NULL element or a
      NULL vector can never survive (NULL dot) and are dropped up
      front — the has_null flag is computed JVM-side because Arrow
      transport folds NULL list elements into NaN, which has DIFFERENT
      semantics (NaN survives);
    - role 'p' rows are probe-only, 'c' candidate-only, 'b' both (the
      capped brute form replicates candidates per probe block; the
      bucketed form groups by cell)."""

    def fn(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf[
            pdf["vec_id"].notna() & pdf["v"].notna() & ~pdf["has_null"]
        ]
        roles = pdf["role"]
        prob = pdf[roles != "c"]
        cand = pdf[roles != "p"]
        out = {"vec_a": [], "vec_b": [], "cosine": []}
        if len(prob) and len(cand):
            pvid = prob["vec_id"].to_numpy(np.int64)
            cvid = cand["vec_id"].to_numpy(np.int64)
            pv = [np.asarray(x, dtype=np.float64) for x in prob["v"]]
            cv = [np.asarray(x, dtype=np.float64) for x in cand["v"]]
            pdim = np.fromiter((len(x) for x in pv), np.int64, len(pv))
            cdim = np.fromiter((len(x) for x in cv), np.int64, len(cv))
            for d in np.intersect1d(np.unique(pdim), np.unique(cdim)):
                if d == 0:
                    # empty x empty folds to dot 0.0 with norm 0 ->
                    # try_divide NULL -> never survives
                    continue
                pi = np.flatnonzero(pdim == d)
                ci = np.flatnonzero(cdim == d)
                a = np.stack([pv[i] for i in pi])
                b = np.stack([cv[j] for j in ci])
                na = np.sqrt(np.add.accumulate(a * a, axis=1)[:, -1])
                nb = np.sqrt(np.add.accumulate(b * b, axis=1)[:, -1])
                # Huge-magnitude guard (ADVICE r13): the pre-prune's
                # "provably below threshold" bound assumes the
                # SEQUENTIAL fold is finite. If Σ|a_i b_i| can reach
                # DBL_MAX, the sequential fold may overflow to ±Inf
                # (cosine Inf/Inf = NaN — a survivor) while the
                # differently-ordered BLAS dot stays finite below
                # threshold. Σ|a_i b_i| <= d·max|a|·max|b|, so pairs
                # with amax·bmax >= DBL_MAX/(2d) are routed to the
                # exact path unconditionally. Unreachable for
                # array<float> inputs (max 3.4e38 squared ≪ bound) —
                # this defends the float64-typed callers.
                amax = np.max(np.abs(a), axis=1)
                bmax = np.max(np.abs(b), axis=1)
                huge_bound = np.finfo(np.float64).max / (2.0 * float(d))
                # BLAS pre-prune (r13, after the sf1 decade-jump run
                # showed the exact fold over ALL pairs dominating): a
                # float64 dot under ANY summation order differs from
                # the sequential fold by <= 2(d-1)·2^-53·Σ|a_i b_i|,
                # and Σ|a_i b_i| <= ‖a‖‖b‖ (Cauchy–Schwarz), so
                # |Δcosine| <= ~1.4e-14 for every finite pair. Pairs
                # with BLAS cosine below threshold − 1e-6 are therefore
                # PROVABLY below threshold under the exact fold and are
                # dropped without folding; every survivor/borderline/
                # non-finite pair still gets the bit-exact sequential
                # fold, which alone decides survival and the emitted
                # value. The matmul is row-chunked so the score block
                # stays bounded for a pathological skewed cell.
                vmask = pvid[pi][:, None] < cvid[ci][None, :]
                bt = b.T
                rowchunk = max(1, _COS_CHUNK_ELEMS // max(1, len(ci)))
                # The exact-fold product matrix is (kept_pairs × d);
                # rowchunk only bounds the SCORE matrix, and in a
                # collapsed/skewed cell nearly every pair survives the
                # pre-prune — sub-chunk the survivor fold so the
                # ordered-fold arrays stay <= _COS_CHUNK_ELEMS floats
                # regardless of survivor density (ADVICE r13).
                pairchunk = max(1, _COS_CHUNK_ELEMS // max(1, int(d)))
                for s in range(0, len(pi), rowchunk):
                    rows = slice(s, s + rowchunk)
                    with np.errstate(
                        divide="ignore", invalid="ignore", over="ignore"
                    ):
                        ac = (a[rows] @ bt) / (
                            na[rows, None] * nb[None, :]
                        )
                        m = vmask[rows] & (
                            ~np.isfinite(ac)
                            | (ac >= threshold - 1e-6)
                            | (
                                (amax[rows, None] * bmax[None, :])
                                >= huge_bound
                            )
                        )
                    ii, jj = np.nonzero(m)
                    if not len(ii):
                        continue
                    ii = ii + s
                    for q in range(0, len(ii), pairchunk):
                        qi = ii[q : q + pairchunk]
                        qj = jj[q : q + pairchunk]
                        dots = np.add.accumulate(
                            a[qi] * b[qj], axis=1
                        )[:, -1]
                        den = na[qi] * nb[qj]
                        with np.errstate(
                            divide="ignore", invalid="ignore"
                        ):
                            cos = dots / den
                        keep = (den != 0) & (
                            (cos >= threshold) | np.isnan(cos)
                        )
                        out["vec_a"].append(pvid[pi[qi[keep]]])
                        out["vec_b"].append(cvid[ci[qj[keep]]])
                        out["cosine"].append(cos[keep])
        cat = {
            k: (np.concatenate(v) if v else np.array([], dtype=np.float64))
            for k, v in out.items()
        }
        return pd.DataFrame(cat)

    return fn


def _with_has_null(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """JVM-side NULL-element flag (two-valued): Arrow transport folds a
    NULL list element into NaN, but NULL and NaN have different pair
    semantics (NULL dot never survives; NaN survives NaN-greatest)."""
    return df.withColumn(
        "has_null",
        F.coalesce(
            F.exists(F.col(vec_col), lambda x: x.isNull()), F.lit(False)
        ),
    )


def embedding_neardup_pairs(embs: DataFrame, threshold: float = 0.35) -> DataFrame:
    """Semantic near-dups: cosine >= threshold over normalized vectors.
    Brute-force all-pairs here (correctness baseline) — callers MUST cap
    the input (n² pairs; the registered query caps at EMB_BRUTE_CAP),
    the scale path is the IVF bucketing below.

    r13 execution rewrite (results identical): the broadcast NLJ whose
    per-pair cosine fold is interpreted (~µs/pair at dim 64; 2M pairs
    at sf0.1) is replaced by probe blocks — pmod(vec_id, parallelism)
    — with the cap-bounded candidate side replicated per block, each
    block scoring its pairs in ONE numpy pass with the bit-identical
    ordered fold (_cos_pairs_in_group)."""
    par = embs.sparkSession.sparkContext.defaultParallelism
    e = _with_has_null(
        embs.select("vec_id", F.col("embedding").alias("v")), "v"
    )
    probes = e.withColumn(
        "blk", F.pmod(F.col("vec_id"), F.lit(par)).cast("int")
    ).withColumn("role", F.lit("p"))
    cands = e.withColumn(
        "blk", F.explode(F.sequence(F.lit(0), F.lit(par - 1)))
    ).withColumn("role", F.lit("c"))
    pairs = (
        probes.unionByName(cands)
        .repartition(par, "blk")
        .groupBy("blk")
        .applyInPandas(
            _cos_pairs_in_group(threshold), schema=_cos_pair_schema(embs)
        )
    )
    # pandas->Arrow folds a NaN cosine into NULL (NaN is pandas' null
    # sentinel for floats); the evaluator never emits NULL otherwise,
    # so coalesce restores the surviving NaN cosines exactly.
    cos = F.coalesce(F.col("cosine"), F.lit(float("nan")))
    return pairs.select(
        "vec_a", "vec_b", F.round(cos, 4).alias("cosine")
    )



# Adaptive cell sizing for the bucketed near-dup: cells scale with the
# corpus so the per-cell population — and with it the within-cell pair
# work, the quadratic term — stays CONSTANT as data grows. 125 vectors
# per cell reproduces the long-tested n_cells=16 at the 2000-vector
# sf0.1 fixture (and every smaller fixture clamps to the 16 floor), so
# recorded oracles and recall tests are unchanged at test scales; the
# 65536 ceiling keeps the broadcast centroid table ≤ ~16 MB at dim 64.
# Found by the round-12 derived-sf1 run: at FIXED 16 cells a 10x corpus
# ran 60.6x slower (cell population 10x -> pairs 100x); with cells ∝ n
# the pair work is linear in n.
BUCKETED_CELL_TARGET = 125
BUCKETED_CELL_FLOOR = 16
BUCKETED_CELL_CEIL = 65536


def bucketed_cells(n: int) -> int:
    """Cell count for n vectors: ceil(n / BUCKETED_CELL_TARGET) clamped
    to [BUCKETED_CELL_FLOOR, BUCKETED_CELL_CEIL]."""
    return max(
        BUCKETED_CELL_FLOOR,
        min(BUCKETED_CELL_CEIL, -(-n // BUCKETED_CELL_TARGET)),
    )


def bucketed_cells_sql(n: str) -> str:
    """DuckDB mirror of bucketed_cells over a count expression."""
    return (
        f"GREATEST({BUCKETED_CELL_FLOOR}, LEAST({BUCKETED_CELL_CEIL},"
        f" CEIL({n} / {BUCKETED_CELL_TARGET}.0)))"
    )

# Cells each vector is assigned to; the q_dedup_embedding_bucketed
# oracle reads it too.
BUCKETED_NPROBE = 3


def embedding_neardup_bucketed(embs: DataFrame, threshold: float = 0.35) -> DataFrame:
    """Scale path for semantic near-dup: assign every vector to its
    nprobe = BUCKETED_NPROBE nearest IVF cells (multi-assignment
    recovers pairs that straddle a cell boundary), then compare pairs
    only WITHIN a cell.
    The all-pairs cross product becomes an equi-join on cell_id —
    cost ~ sum(cell_size^2) instead of n^2, recall controlled by
    nprobe/n_cells (fraction of pairwise work ~ (nprobe/n_cells)^2 *
    n_cells). Defaults are tuned for the synthetic fixture, whose
    near-dup pairs all sit in the weak 0.35-0.45 cosine band — real
    corpora with true dups (cos >= 0.9) get near-perfect recall at
    smaller nprobe. Verified against embedding_neardup_pairs in tests.

    Two cost rules learned by measurement (r5 sweep: 31.8s -> ~2s at
    sf0.1 without them):
    - per-row norms are computed ONCE at assignment and carried as a
      scalar column; the naive per-pair cosine re-folds norm(a) and
      norm(b) for every candidate pair — 3 interpreted 64-element
      folds per pair instead of 1. The scoring expression stays
      try_divide(dot, nrm_a*nrm_b), bit-identical to the brute-force
      baseline (same fold order, same division), so the recall tests'
      exact-cosine-equality contract holds.
    - both join sides are explicitly repartition(n_cells, cell_id):
      the candidate-pair work scales with cell_size², not bytes, so
      AQE's byte-based coalescing is exactly wrong here — it folds the
      ~MB-sized shuffle into ONE partition and serializes the n²/cell
      fold work onto one core. Pinning the partitioning makes the cell
      the parallel unit (at 100 TB, n_cells is the scale knob and is
      >> cores, so this is also the right cluster shape)."""
    # Seeded centroids shared with the IVF search path — includes its
    # non-finite exclusion: a NaN centroid scores NaN vs EVERY vector
    # and NaN sorts greatest on both engines, so it would win all
    # nprobe assignment slots and collapse the cells into one n² bucket
    # (r10 NaN sweep posture, llm/similarity.seed_centroids).
    from database_cloner_spark.llm.similarity import seed_centroids

    n_cells = bucketed_cells(embs.count())  # one cheap count job
    cents = seed_centroids(embs, n_cells)
    from database_cloner_spark.functions.partitioning import spread
    from database_cloner_spark.functions.vector import cosine as _cos

    # spread BEFORE the n x n_cells assignment fan-out: the per-vector
    # scoring folds are map-side work bounded by the scan's split count,
    # and a few-row-group file serializes the whole assignment onto 1-2
    # cores (the kmeans path learned this first; re-measured here in the
    # r12 sf1 run — 20k x 160 assignments on 2 splits was most of a 37x
    # scale ratio). Identity at production split counts.
    scored = spread(embs).crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "embedding",
        "cell_id",
        _cos(F.col("embedding"), F.col("centroid")).alias("sim"),
    )
    # partition by (vec_id, hash(embedding)), not vec_id alone: a
    # duplicated vec_id carrying two DIFFERENT vectors must rank each
    # vector's cells independently — one mixed window would pick 3 of
    # the 2×n_cells combos by partition arrival order (nondeterministic
    # under a hash oracle). The HASH stands in for the raw array in the
    # window key (r12): the window's per-partition sort otherwise
    # compares 64-element float arrays row-by-row — measured 2.2x on
    # the sf1 assignment — while an 8-byte xxhash64 key sorts fixed-
    # width. Same grouping as the oracle's PARTITION BY (vec_id,
    # embedding) up to 64-bit hash collisions (the text-dedup tiers'
    # long-standing 8-byte-key posture). vec_id is near-unique at
    # scale, so partition count and shuffle shape are unchanged.
    per_vector = ["vec_id", F.xxhash64("embedding")]
    # r13 execution rewrite (results identical, oracle unchanged): the
    # within-cell self-join + per-pair interpreted cosine fold (2.25M
    # folds at sf0.1 — 6.6s of the key) is replaced by ONE numpy pass
    # per cell (_cos_pairs_in_group): the same float64 products and the
    # same left-to-right fold via np.add.accumulate, so every surviving
    # cosine is BIT-EQUAL to the brute-force baseline (the recall
    # tests' exact-equality contract holds); norms are recomputed
    # inside with the identical fold the carried `nrm` column used.
    assigned = (
        ranks.top(
            scored, per_vector, [F.desc("sim"), F.asc("cell_id")], BUCKETED_NPROBE
        )
        .select("cell_id", "vec_id", F.col("embedding").alias("v"))
        .withColumn("role", F.lit("b"))
    )
    local = (
        # the cell is the parallel unit; see docstring cost rule 2
        # (the groupBy reuses this exchange — same key, same count)
        _with_has_null(assigned, "v")
        .repartition(n_cells, "cell_id")
        .groupBy("cell_id")
        .applyInPandas(
            _cos_pairs_in_group(threshold), schema=_cos_pair_schema(embs)
        )
    )
    return (
        # pandas->Arrow folds a NaN cosine into NULL (NaN is pandas'
        # null sentinel for floats); the evaluator never emits NULL
        # otherwise, so coalesce restores the surviving NaNs before
        # the max (NaN-greatest, as the join form aggregated them).
        local.select(
            "vec_a",
            "vec_b",
            F.coalesce(F.col("cosine"), F.lit(float("nan"))).alias(
                "cosine"
            ),
        )
        # max(), not dropDuplicates: multi-assignment re-derives the
        # SAME cosine in every shared cell, but a duplicated vec_id
        # (two different vectors under one id) makes first-row-wins
        # nondeterministic — max is deterministic, which is what lets
        # this key carry a full hash oracle (r10 upgrade). Same shuffle
        # shape as dropDuplicates (one hash aggregate on the pair key).
        .groupBy("vec_a", "vec_b")
        .agg(F.round(F.max("cosine"), 4).alias("cosine"))
    )


# --- connected components (pair list -> cluster assignment) ----------------


def _canonical_edges(df: DataFrame) -> DataFrame:
    """Distinct (u, v) with u > v from an (a, b) edge list — self loops
    dropped. The canonical orientation both star phases consume and
    emit."""
    return (
        df.select(
            F.greatest(F.col("a"), F.col("b")).alias("u"),
            F.least(F.col("a"), F.col("b")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Collapse a near-dup PAIR list into per-doc cluster assignments
    (`doc_id`, `cluster_id` = min doc_id of the connected component) —
    the step that turns any pairwise dedup operator's output into
    actionable keep/drop decisions (keep `doc_id == cluster_id`).

    Algorithm: alternating large-star/small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014), which
    converges in O(log² n) rounds on ANY graph shape. Chain-shaped
    components arise in real dedup when doc A~B and B~C but A≁C
    (threshold transitivity gaps), and at web scale those chains get
    long: a scheme whose rounds grow with the diameter would need one
    blocking job per hop.

    Per round, both phases are ONE window-min shuffle each over the
    edge list (no posting lists, no joins): large-star hangs every
    larger neighbor of u onto min(Γ(u) ∪ {u}), small-star hangs every
    smaller neighbor and u itself onto min(N(u)); edge count never
    grows above the input edge count + |V| and 8-byte ids keep each
    round's shuffle at ~16 bytes/edge. Convergence = the canonical edge
    set reached a fixed point: an exact probe over the checkpointed
    frames (two counts, then one exceptAll only when they agree).

    The edge list is checkpointed once: `pairs` is typically the output
    of a whole near-dup pipeline (shingle joins, LSH banding, Jaccard
    verify), which every round would otherwise re-execute.

    Reference parity: the reference has no graph step (its bash surface
    clones whole databases); this is part of the §2.11 training-data
    tier (dedup outputs must end in one-survivor-per-cluster).
    """
    edges = _canonical_edges(
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    ).localCheckpoint(eager=True)
    for _ in range(max_iter):
        # Large-star: bidirectional view; each node u computes
        # m = min(neighbors ∪ {u}) and re-parents its LARGER neighbors
        # onto m. (v > u ≥ m ⇒ no self loops emitted.)
        bidir = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        wl = W.partitionBy("u")
        m_large = F.least(F.min("v").over(wl), F.col("u"))
        large = _canonical_edges(
            bidir.withColumn("m", m_large)
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
        )
        # Small-star: canonical orientation (u > v); each node u hangs
        # its smaller neighbors AND itself onto m = min(smaller
        # neighbors). (u, m) rows cover u itself.
        ws = W.partitionBy("u")
        m_small = F.min("v").over(ws)
        # Checkpoint: the union below reads `tagged` twice; without the
        # cut each branch re-executes the large-star phase.
        tagged = large.withColumn("m", m_small).localCheckpoint(eager=True)
        small = _canonical_edges(
            tagged.select(F.col("v").alias("a"), F.col("m").alias("b")).union(
                tagged.select(F.col("u").alias("a"), F.col("m").alias("b"))
            )
        ).localCheckpoint(eager=True)
        # Both frames are distinct edge sets, so equal sizes plus one
        # containment is equality.
        converged = small.count() == edges.count() and not (
            small.exceptAll(edges).limit(1).count()
        )
        edges = small
        if converged:
            break
    # At the fixed point the edge set is a star per component: every
    # non-root points at the component min. min() is defensive for the
    # max_iter-exhausted case; roots label themselves.
    members = edges.groupBy("u").agg(F.min("v").alias("cluster_id")).select(
        F.col("u").alias("doc_id"), "cluster_id"
    )
    roots = (
        edges.select("v")
        .distinct()
        .join(edges.select(F.col("u").alias("v")).distinct(), "v", "left_anti")
        .select(F.col("v").alias("doc_id"), F.col("v").alias("cluster_id"))
    )
    return members.union(roots)


def connected_components_sql(pairs: str) -> str:
    """DuckDB mirror of connected_components over the pair query
    `pairs` (columns doc_a, doc_b): a recursive-CTE transitive closure,
    brute force at oracle scale. Returns (doc_id, cluster_id)."""
    return f"""
WITH RECURSIVE pairs AS (
{pairs}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
walk(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT w.src, e.dst FROM walk w JOIN edges e ON w.dst = e.src
)
SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
FROM walk GROUP BY src
"""


def canonical_survivors(
    docs: DataFrame,
    threshold: float = 0.4,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Quality-aware canonical selection per near-dup cluster: instead
    of the min-doc_id survivor q_dedup_apply keeps, pick each
    component's HIGHEST-quality member (quality_scores' rational score;
    ties break to the lowest doc_id) — the curation policy that keeps
    the cleanest copy of a re-crawled page, not the first-crawled one.

    Plan: pair gen + connected components as in q_dedup_cluster, an
    equi-join onto the per-doc quality score, then ONE window pass per
    cluster computing the rank and the member count together (both
    specs share the cluster_id partitioning, so Catalyst plans one
    Exchange + one sort). cluster_id is high-cardinality (≈ one per
    dup group), so groups stay task-sized at 100 TB. NULL qualities
    are pinned desc_nulls_last to match DuckDB's DESC default (the r9
    NULL-ordering divergence class)."""
    from database_cloner_spark.llm.text import quality_scores

    prs = shingle_jaccard_pairs(docs, threshold, max_shingle_df=max_shingle_df)
    cl = connected_components(prs)
    q = quality_scores(docs).select("doc_id", "quality")
    j = cl.join(q, "doc_id")
    w_rank = W.partitionBy("cluster_id").orderBy(
        F.desc_nulls_last("quality"), F.asc("doc_id")
    )
    w_all = W.partitionBy("cluster_id")
    return (
        j.withColumn("rn", F.row_number().over(w_rank))
        .withColumn("n_members", F.count("*").over(w_all))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("survivor_id"),
            F.col("quality").alias("survivor_quality"),
            "n_members",
        )
    )


# --- benchmark contamination -----------------------------------------------


def benchmark_contamination(
    train: DataFrame, bench: DataFrame, min_shared: int = 2
) -> DataFrame:
    """Training-set contamination check: (train doc, benchmark doc)
    pairs sharing >= `min_shared` distinct word-n-grams, n = SHINGLE_N.
    The standard pre-training hygiene step — benchmark items that leak into the
    corpus inflate evals, so contaminated docs are quarantined before
    training.

    100 TB story: benchmark suites are tiny (MBs) while the corpus is
    the 100 TB side, so the exploded benchmark shingle table is
    BROADCAST — the contamination probe is a map-side hash join over
    the corpus scan with zero shuffle of corpus data; the only shuffle
    is the final groupBy on surviving (train_id, bench_id) pairs, a
    frame bounded by actual contamination (tiny). Shingle sets are
    deduped per doc before the join, so n_shared counts DISTINCT shared
    n-grams exactly.
    """
    t = (
        _shingle_sets(train)
        .select(F.col("doc_id").alias("train_id"), F.explode("sh").alias("shingle"))
    )
    b = (
        _shingle_sets(bench)
        .select(F.col("doc_id").alias("bench_id"), F.explode("sh").alias("shingle"))
    )
    return (
        t.join(F.broadcast(b), "shingle")
        .groupBy("train_id", "bench_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# --- Edit-distance-1 entity resolution --------------------------------------

# One posting list of 10k entries means ~50M ordered pairs exploding from a
# single reducer row — streamed by the generator so not an OOM per se, but
# hours of one-task time and far past any sane oracle-parity fixture. A
# skewed fixture should fail loudly here, not hang.
_UNCAPPED_POSTING_GUARD = 10_000


def edit_distance1_pairs(
    df: DataFrame, key_col: str, text_col: str, max_df: int | None = 1000
) -> DataFrame:
    """All DISTINCT (key, text) row pairs with levenshtein(text_a,
    text_b) <= 1, via deletion-neighborhood blocking — EXACT for
    distance 1 (no recall loss): two strings within one edit always
    share a member of {s} ∪ {s minus one char} (substitution: both
    delete the differing position; insert/delete: the longer one
    deletes the extra char). So each row emits length+1 variants, an
    inverted index groups rows per variant (the minhash/fuzzy posting
    list shape — join-free), ordered pairs explode in the reducer, and
    survivors get ONE exact `levenshtein` verify. At 100 TB this is the
    entity-resolution primitive (near-identical names/titles/URLs):
    O(n·len) variants instead of the O(n²) all-pairs the oracle brute-
    forces at toy scale. `max_df` caps a variant's posting list (the
    boilerplate-bucket guard, same trade as minhash_lsh_pairs).

    Unicode note: Spark's levenshtein counts UTF-16 code units, DuckDB's
    counts codepoints — identical for BMP text (all fixtures); strings
    with supplementary-plane chars (emoji) can differ by the surrogate
    split. Same documented engine limit as full-vs-simple casefold."""
    base = (
        df.filter(F.col(key_col).isNotNull() & F.col(text_col).isNotNull())
        .select(F.col(key_col).alias("k"), F.col(text_col).alias("s"))
        .distinct()
    )
    # sequence(1, 0) is DESCENDING in Spark (adversarial bug class r4):
    # gate the deletion variants on non-empty strings.
    variants = F.when(
        F.length("s") > 0,
        F.array_union(
            F.array(F.col("s")),
            F.expr(
                "transform(sequence(1, length(s)), i -> "
                "concat(substring(s, 1, i - 1), substring(s, i + 1, length(s))))"
            ),
        ),
    ).otherwise(F.array(F.col("s")))
    ex = spread(base).select("k", "s", F.explode(variants).alias("v"))
    lists = (
        ex.groupBy("v")
        .agg(F.sort_array(F.collect_list(F.struct("k", "s"))).alias("ps"))
        .filter(F.size("ps") >= 2)
    )
    if max_df is not None:
        lists = lists.filter(F.size("ps") <= max_df)
    else:
        # Uncapped mode exists ONLY for oracle parity (the registered key
        # must equal the brute-force oracle exactly, so no posting list
        # may be dropped). The price is an unbounded O(b²) fan-out on a
        # hot variant: fail LOUDLY in-plan if one variant's posting list
        # blows past any sane parity-fixture size, instead of silently
        # melting one reducer (ADVICE r6). raise_error rides the same
        # stage — no extra job, no cost on healthy data.
        guard = _UNCAPPED_POSTING_GUARD
        lists = lists.withColumn(
            "ps",
            F.when(F.size("ps") <= guard, F.col("ps")).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "edit_distance1_pairs: uncapped posting list "
                            f"exceeds {guard} entries (hot variant "
                        ),
                        F.substring(F.col("v"), 1, 40),
                        F.lit("...), size="),
                        F.size("ps").cast("string"),
                        F.lit(" — pass max_df for the capped scale path"),
                    )
                )
            ),
        )
    pairs = (
        lists.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "transform(slice(ps, i + 2, size(ps) - i - 1), "
                    "y -> struct(x.k AS key_a, x.s AS name_a, "
                    "y.k AS key_b, y.s AS name_b))))"
                )
            ).alias("p")
        )
        .select("p.key_a", "p.name_a", "p.key_b", "p.name_b")
        .filter(F.col("key_a") < F.col("key_b"))
        .dropDuplicates(["key_a", "name_a", "key_b", "name_b"])
    )
    return pairs.withColumn(
        "dist", F.levenshtein("name_a", "name_b").cast("long")
    ).filter(F.col("dist") <= 1)
