"""Text-analysis operators: token stats, quality scoring, language ID,
document fingerprinting.

Cross-engine determinism rules: no transcendentals (exp/log differ at
the last bit across libm implementations), integer/rational arithmetic
only, explicit rounding at the output edge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from database_cloner_spark.functions import ranks
from database_cloner_spark.functions.partitioning import spread
from database_cloner_spark.functions.rational import ratio
from database_cloner_spark.llm.textprep import tokens

STOPWORDS = ("the", "a", "of", "and", "in")

# Polynomial rolling-hash parameters (shared with the DuckDB oracle —
# both engines compute sum(ascii(ch_j) * B^j mod M) in int64, identical
# bit-for-bit).
FP_BASE = 257
FP_MOD = 1_000_000_007
FP_K = 8  # k-gram length in characters
FP_POWS = [pow(FP_BASE, j, FP_MOD) for j in range(FP_K)]


# GPT-2-style pre-tokenizer pattern, restricted to constructs RE2
# (DuckDB) and java.util.regex (Spark) evaluate identically: contraction
# suffixes, space-prefixed letter runs, digit runs, punctuation runs.
# No lookahead (RE2 lacks it), no \p classes (ASCII corpus), and the
# whitespace exclusion is the EXPLICIT shared set, not `\s` — Java \s
# includes \x0B, RE2 \s does not, so the shorthand counted a vertical
# tab as a punctuation token on one engine only
# (tests/test_adversarial_docs.py doc 20).
from database_cloner_spark.llm.textprep import WS_CLASS as _WS_CLASS  # noqa: E402

BPE_PATTERN = (
    r"'(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?"
    + f"[^A-Za-z0-9{_WS_CLASS[1:-1]}]+"
)


def bpe_token_counts(docs: DataFrame) -> DataFrame:
    """Per-doc token counts under two tokenizers: bare whitespace and the
    BPE-ish regex pre-tokenizer (the LLM-training-relevant count). Both
    are single-pass codegen expressions — at 100 TB this is a pure
    map-side op, no shuffle at all."""
    ws = F.size(tokens(F.col("text")))
    bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), 0))
    return docs.select(
        "doc_id",
        ws.alias("n_tokens_ws"),
        bpe.alias("n_tokens_bpe"),
        ratio(bpe, ws, 4).alias("bpe_per_word"),
    )


# Tokens token_stats keeps; the q_text_tokens oracle reads it too.
TOKEN_STATS_TOP_N = 20


def token_stats(docs: DataFrame) -> DataFrame:
    """Corpus token frequencies, top TOKEN_STATS_TOP_N (deterministic
    tie-break on token)."""
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(TOKEN_STATS_TOP_N)
    )


def lang_stats(docs: DataFrame) -> DataFrame:
    """Per-language document stats. Averages of integers are rounded in
    integer arithmetic (functions/rational.ratio): the sums are exact on both
    engines, so the ROUND-tie divergence class cannot fire."""
    agg = docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("__chars"),
        F.sum(F.size(tokens(F.col("text")))).alias("__toks"),
    )
    return agg.select(
        "lang",
        "n_docs",
        ratio(F.col("__chars"), F.col("n_docs"), 2).alias("avg_chars"),
        ratio(F.col("__toks"), F.col("n_docs"), 2).alias("avg_tokens"),
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """Heuristic quality scoring (length / stopword ratio / vocabulary
    diversity) — rational arithmetic only, reproducible everywhere:
    quality = 0.5*min(n,50)/50 + 0.3*(n-s)/n + 0.2*d/n is carried as
    the single integer fraction (n*min(n,50) + 30*(n-s) + 20*d)/(100n)
    and rounded with functions/rational.ratio, so no engine ever rounds a tie-
    adjacent double. Tokens are projected first so the split runs once
    per doc, not once per derived metric (textprep.shingles_of_tokens)."""
    docs = docs.select("doc_id", tokens(F.col("text")).alias("__toks"))
    toks = F.col("__toks")
    n = F.size(toks)
    s = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    d = F.size(F.array_distinct(toks))
    q_num = n * F.least(n, F.lit(50)) + 30 * (n - s) + 20 * d
    q_den = 100 * n
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        ratio(s, n, 4).alias("stopword_ratio"),
        ratio(d, n, 4).alias("distinct_ratio"),
        ratio(q_num, q_den, 4).alias("quality"),
    )


# Trigrams per language profile; the q_text_langid oracle reads it too.
LANG_PROFILE_SIZE = 40


def language_id(docs: DataFrame) -> DataFrame:
    """N-gram-heuristic language ID: build per-language character-trigram
    profiles from a labeled corpus (here: the documents table itself),
    then classify each doc by profile overlap. Two phases, both set
    joins — the profile is tiny and broadcast. Deterministic tie-breaks
    throughout (count desc, trigram asc / score desc, lang asc).

    Trigram rows come from exploding integer positions and cutting with
    substring in codegen (the array_distinct(transform(...)) form runs
    in the lambda interpreter and this subtree executes twice — once for
    profiles, once for scoring); per-doc distinctness via dropDuplicates."""
    # Same short-doc guard as fingerprints(): sequence(1, 0) is the
    # DESCENDING [1, 0], so sub-3-char docs would contribute junk
    # trigrams to the profiles instead of none.
    positions = F.when(
        F.length(F.col("text")) >= 3,
        F.sequence(F.lit(1), F.length(F.col("text")) - 2),
    ).otherwise(F.array().cast("array<int>"))
    tri = (
        docs.select("doc_id", "lang", "text", F.explode(positions).alias("i"))
        .select(
            "doc_id", "lang", F.col("text").substr(F.col("i"), F.lit(3)).alias("tg")
        )
        # Per-doc distinctness as a 3-KEY distinct, not
        # dropDuplicates([doc_id, tg]): dropDuplicates drags lang
        # through a first() whose string buffer forces SortAggregate —
        # TWO full map-side sorts of every raw trigram row before the
        # exchange. distinct() keeps strings in the GROUPING KEYS
        # (hash-aggregable) with an empty buffer: partial HashAggregate
        # dedups within-doc trigrams map-side (a doc's exploded rows
        # are partition-contiguous), so the one data-sized exchange
        # ships ~distinct (doc, tg) pairs — the information-theoretic
        # floor for doc-frequency profiles. Measured at sf0.1: dedup
        # stage 5.1s -> 2.9s cold; identical rows (lang is functionally
        # dependent on doc_id), and the oracle's own
        # `SELECT DISTINCT doc_id, lang, tg` is this exact form.
        .select("doc_id", "lang", "tg")
        .distinct()
        # Both phases consume `tri`, and AQE's broadcast re-plan of the
        # profile side defeats ReuseExchange — without this the whole
        # explode+dedup subtree (the dominant cost) executes TWICE.
        # Lazy local checkpoint materializes it once on first touch
        # (MEMORY_AND_DISK, spill-safe); measured 4.9s -> 3.5s at sf0.1.
        # Same lineage-cut pattern as the connected-components rounds.
        .localCheckpoint(eager=False)
    )
    # NULL-labeled docs cannot TRAIN a profile (no language to learn)
    # — and a NULL profile_lang would hit the asc tie-break where Spark
    # sorts it FIRST and DuckDB LAST (r10 adversarial docs sweep).
    # Unlabeled docs are still classified below.
    counts = (
        tri.filter(F.col("lang").isNotNull())
        .groupBy("lang", "tg")
        .agg(F.count("*").alias("n"))
    )
    profiles = ranks.top(
        counts, ["lang"], [F.desc("n"), F.asc("tg")], LANG_PROFILE_SIZE
    ).select(F.col("lang").alias("profile_lang"), "tg")
    scored = (
        tri.join(F.broadcast(profiles), "tg")
        .groupBy("doc_id", "lang", "profile_lang")
        .agg(F.count("*").alias("score"))
    )
    best = ranks.top(
        scored, ["doc_id"], [F.desc("score"), F.asc("profile_lang")]
    ).select(
        "doc_id",
        F.col("profile_lang").alias("predicted_lang"),
        "score",
    )
    # Restore docs with no classifiable trigrams (shorter than 3 chars,
    # or sharing no trigram with any profile): one row per INPUT doc,
    # NULL predicted_lang/score — same restore contract as
    # fingerprints(); silently dropping rows loses doc_ids in
    # downstream joins.
    return docs.select("doc_id", F.col("lang").alias("actual_lang")).join(
        best, "doc_id", "left"
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """Document fingerprint: minimum polynomial rolling hash over all
    8-char-grams + distinct-gram count. The hash is engine-agnostic
    (explicit int64 arithmetic), unlike xxhash64, so the DuckDB oracle
    reproduces it exactly.

    Shape: explode grams to rows, hash each gram with a PLAIN column
    expression (8 fixed ascii*power terms — whole-stage codegen), then
    min/countDistinct aggregates with map-side combine. The nested-HOF
    form (transform of polyhash over the gram array) ran in the lambda
    interpreter — measured 9x slower (same pathology as MinHash, see
    SCALE.md expression pitfalls)."""
    # Explode gram START POSITIONS (a cheap int sequence), then cut the
    # gram with substring in codegen — building the gram ARRAY via
    # transform(...substr...) runs in the lambda interpreter instead.
    # Guard short docs: sequence(1, 0) is DESCENDING in Spark ([1, 0]),
    # not empty, so an unguarded len<K doc would fabricate grams from
    # substr positions 0/1 (found by tests/test_adversarial_docs.py —
    # the fixture corpus never has docs under 48 chars). Empty array =>
    # explode drops the doc => the left-join below restores it with the
    # contract's NULL hash / 0 grams.
    positions = F.when(
        F.length(F.col("text")) >= FP_K,
        F.sequence(F.lit(1), F.length(F.col("text")) - (FP_K - 1)),
    ).otherwise(F.array().cast("array<int>"))
    # spread(): the per-CHAR gram explosion is the most map-intensive
    # operator in the text tier; a single-split local input would run
    # it all on one core (identity at scale).
    exploded = spread(docs.select("doc_id", "text")).select(
        "doc_id", "text", F.explode(positions).alias("i")
    ).select("doc_id", F.col("text").substr(F.col("i"), F.lit(FP_K)).alias("g"))
    gram_hash = (
        sum(
            F.ascii(F.substring("g", j + 1, 1)).cast("long") * F.lit(FP_POWS[j]).cast("long")
            for j in range(FP_K)
        )
        % FP_MOD
    )
    agg = (
        exploded.withColumn("h", gram_hash)
        .groupBy("doc_id")
        .agg(
            F.min("h").alias("fp_min_hash"),
            F.countDistinct("g").alias("n_distinct_grams"),
        )
    )
    # Docs shorter than FP_K chars have no grams: explode drops them, but
    # the contract (and the oracle) keeps them with NULL hash / 0 grams.
    return docs.select("doc_id").join(agg, "doc_id", "left").select(
        "doc_id",
        "fp_min_hash",
        F.coalesce("n_distinct_grams", F.lit(0).cast("long")).alias("n_distinct_grams"),
    )


# Tokens per segment of segment_dedup and segment_boilerplate_census;
# the q_text_line_dedup and q_text_boilerplate oracles read it too.
SEG_LEN = 8


def segment_dedup(docs: DataFrame) -> DataFrame:
    """Cross-corpus boilerplate-segment removal (the CCNet/RefinedWeb
    paragraph-dedup step, adapted to the flat-token testdata: a "line"
    is a fixed non-overlapping run of SEG_LEN tokens). Segments found
    in more than one document — headers, footers, license blurbs
    repeated across crawls — are cut from every document; the
    remainder is reassembled in order.

    Output: (doc_id, clean_text, n_kept) for EVERY input doc (fully
    boilerplate docs survive with clean_text = '').

    100 TB story: segment df is one groupBy combined map-side, keyed on
    xxhash64(segment) so the shuffle moves 8-byte keys, never segment
    text; the survivors join is an equi-join on the same hash; doc
    reassembly is one more groupBy on doc_id with a sort_array over
    (pos, segment) structs. Three shuffles total, each on a compact
    key, no window over the whole corpus.
    """
    # Bind the token array to its own projection BEFORE the per-segment
    # lambda references it: an expression inlined into a transform
    # lambda is re-evaluated per OUTPUT element (textprep.
    # shingles_of_tokens' measured 7x; the r11 PQ adjudication found
    # the same O(n²) class in quantized_unit), so an unbound split()
    # here would re-tokenize the document once per segment.
    docs = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), " ").alias("__toks")
    )
    toks = F.col("__toks")
    n_segs = F.ceil(F.size(toks) / F.lit(SEG_LEN)).cast("int")
    seg_at = lambda i: F.array_join(  # noqa: E731
        F.slice(toks, (i - F.lit(1)) * SEG_LEN + F.lit(1), F.lit(SEG_LEN)), " "
    )
    # Guard the empty-doc case: sequence(1, 0) is DESCENDING in Spark,
    # not empty (see the guard in textprep.shingles_of_tokens) — emit []
    # explicitly.
    segs = F.when(
        F.size(toks) > 0, F.transform(F.sequence(F.lit(1), n_segs), seg_at)
    ).otherwise(F.array().cast("array<string>"))
    seg_rows = docs.select(
        F.col("doc_id"), F.posexplode(segs).alias("pos", "seg")
    ).withColumn("seg_h", F.xxhash64("seg"))
    seg_df = seg_rows.groupBy("seg_h").agg(
        F.count_distinct("doc_id").alias("df")
    )
    kept = (
        seg_rows.join(seg_df, "seg_h")
        .filter(F.col("df") <= 1)
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                    lambda x: x["seg"],
                ),
                " ",
            ).alias("clean_text"),
            F.count("*").alias("n_kept"),
        )
    )
    return (
        docs.select("doc_id")
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
        )
    )


def repetition_scores(docs: DataFrame) -> DataFrame:
    """Within-document repetition signals (the Gopher/MassiveText
    repetition filters): fraction of duplicate tokens and duplicate
    word-n-grams (n = SHINGLE_N) inside each doc. Degenerate looping text — a failure
    mode of both crawls and model-generated data — scores high and is
    flagged.

    Pure map-side array HOFs over one tokens projection: zero shuffle,
    whole-stage codegen, trivially linear at 100 TB. Rational
    arithmetic + explicit rounding keeps it oracle-reproducible.
    """
    from database_cloner_spark.llm.textprep import SHINGLE_N, shingles_of_tokens

    docs = spread(docs.select("doc_id", "text")).select(
        "doc_id", tokens(F.col("text")).alias("__toks")
    )
    toks = F.col("__toks")
    n_tokens = F.size(toks)
    grams = shingles_of_tokens(toks)  # distinct n-grams
    n_gram_pos = F.greatest(n_tokens - (SHINGLE_N - 1), F.lit(0))
    # integer-exact rounding (functions/rational.ratio) — the ROUND-tie class
    dup_tok = ratio(n_tokens - F.size(F.array_distinct(toks)), n_tokens, 4)
    dup_gram = F.when(
        n_gram_pos > 0, ratio(n_gram_pos - F.size(grams), n_gram_pos, 4)
    ).otherwise(F.lit(0.0))
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        dup_tok.alias("dup_token_frac"),
        dup_gram.alias("dup_ngram_frac"),
        (dup_gram > 0.2).alias("is_repetitive"),
    )


def chunk_documents(
    docs: DataFrame, chunk_tokens: int = 32, stride: int = 16
) -> DataFrame:
    """Overlapping-window chunking for retrieval indexing (the
    doc→passage step before embedding): windows of `chunk_tokens`
    tokens starting every `stride` tokens, last partial window kept so
    no suffix is ever dropped. Output: (doc_id, chunk_id, chunk_text,
    n_tokens), chunk_id 0-based in document order.

    Pure map-side explode — no shuffle; output row count is
    ~len/stride per doc, each chunk carrying its provenance
    (doc_id, chunk_id) for dedup-aware retrieval joins back to the
    corpus."""
    docs = docs.select("doc_id", tokens(F.col("text")).alias("__toks"))
    toks = F.col("__toks")
    n = F.size(toks)
    n_chunks = F.when(
        n <= chunk_tokens,
        F.lit(1),
    ).otherwise(
        F.ceil((n - F.lit(chunk_tokens)) / F.lit(stride)).cast("int") + F.lit(1)
    )
    windows = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(toks, i * stride + F.lit(1), F.lit(chunk_tokens)),
    )
    out = docs.select(
        "doc_id", F.posexplode(windows).alias("chunk_id", "__w")
    )
    return out.select(
        "doc_id",
        "chunk_id",
        F.array_join("__w", " ").alias("chunk_text"),
        F.size("__w").alias("n_tokens"),
    )


# Documents a segment must appear in to count as boilerplate; the
# q_text_boilerplate oracle reads it too.
BOILERPLATE_DF = 3


def segment_boilerplate_census(docs: DataFrame) -> DataFrame:
    """Boilerplate EXPOSURE census — segment_dedup's read-only sibling:
    instead of cutting high-df segments, report per document how much
    of it IS boilerplate (segments appearing in >= BOILERPLATE_DF docs):
    the triage signal that decides whether a source needs the dedup
    pass at all, and the per-doc feature a quality model consumes. Same
    segment definition as segment_dedup (fixed non-overlapping
    SEG_LEN-token runs), same scale shape: df is one map-combined groupBy keyed on
    xxhash64(segment) (8-byte shuffle keys), the join back is an
    equi-join on that hash, and the per-doc fold is one more compact
    groupBy — no corpus-wide window anywhere. bp_ppm is exact
    floor(ppm) on exactly-counted integers."""
    # Same bound-tokens discipline as segment_dedup: an unbound split()
    # inside the transform lambda would re-tokenize per segment (O(n²)
    # per doc).
    docs = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", F.split(F.trim(F.col("text")), " ").alias("__toks")
    )
    toks = F.col("__toks")
    n_segs = F.ceil(F.size(toks) / F.lit(SEG_LEN)).cast("int")
    seg_at = lambda i: F.array_join(  # noqa: E731
        F.slice(toks, (i - F.lit(1)) * SEG_LEN + F.lit(1), F.lit(SEG_LEN)), " "
    )
    segs = F.when(
        F.size(toks) > 0, F.transform(F.sequence(F.lit(1), n_segs), seg_at)
    ).otherwise(F.array().cast("array<string>"))
    seg_rows = docs.select(
        F.col("doc_id"), F.explode(segs).alias("seg")
    ).withColumn("seg_h", F.xxhash64("seg"))
    seg_df = seg_rows.groupBy("seg_h").agg(
        F.count_distinct("doc_id").alias("df")
    )
    per = (
        seg_rows.join(seg_df, "seg_h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segs"),
            F.sum(F.when(F.col("df") >= BOILERPLATE_DF, 1).otherwise(0)).alias("n_bp"),
        )
    )
    return per.select(
        "doc_id",
        F.col("n_segs").cast("long").alias("n_segs"),
        F.col("n_bp").cast("long").alias("n_boilerplate"),
        F.expr("(n_bp * 1000000L) div n_segs").cast("long").alias("bp_ppm"),
    )
