"""Corpus-statistics operators for the training-data tier.

Three first-class curation primitives every large-scale pre-training
pipeline runs between raw ingestion and shard writing, each fully
DuckDB-oracle-able (the reference has no analogue — these extend the
§2.11 LLM tier, same registration contract):

- q_sample_token_budget — greedy per-source selection under a token
  budget (data-mixing step: "take the best N tokens of each source").
- q_text_vocab — vocabulary frequency table with cumulative coverage
  (tokenizer-planning / Zipf-audit step).
- q_text_rarity — per-document unigram-frequency quality signal (the
  rational-arithmetic twin of a CCNet-style LM perplexity filter).

Float discipline follows q_text_tfidf: rational expressions and exact
integer sums everywhere; division only at the rounded output edge, on
exactly-summed integers, so both engines divide identical operands.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from database_cloner_spark.functions.rational import (
    DEC,
    ratio,
    ratio_dec,
    ratio_dec_sql,
    ratio_sql,
)
from database_cloner_spark.llm.textprep import n_tokens, tokens
from database_cloner_spark.queries.oracle_fragments import (
    n_tokens_sql,
    tokens_sql,
)
from database_cloner_spark.registry import register
from database_cloner_spark.sources import load

# -- greedy token-budget sampling ------------------------------------------

TOKEN_BUDGET = 5_000  # per-source token budget

_ORACLE_TOKEN_BUDGET = f"""
WITH scored AS (
  SELECT doc_id, source, n_chars,
         {n_tokens_sql()} AS n_tokens
  FROM documents
),
runs AS (
  SELECT doc_id, source, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY source
                                  ORDER BY n_chars DESC, doc_id
                                  ROWS UNBOUNDED PRECEDING) - n_tokens
              AS BIGINT) AS tokens_before
  FROM scored
)
SELECT doc_id, source, n_tokens, tokens_before
FROM runs
WHERE tokens_before + n_tokens <= {TOKEN_BUDGET}
"""


@register("q_sample_token_budget", oracle=_ORACLE_TOKEN_BUDGET, tier="X")
def q_sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy per-source selection under a TOKEN_BUDGET: docs ranked by
    a quality proxy (n_chars DESC — swap in any score column), running
    token sum per source, keep while the budget holds. The mixing step
    that turns per-source weights into an actual document subset.

    Scale shape: ONE exchange on `source` and a running-sum window —
    identical to sequence packing (llm/packing.py); no global ordering,
    each source packs its budget independently. Sources far bigger than
    the budget stop contributing rows early, but the window still scans
    them — at 100 TB pre-filter with an approximate per-source quantile
    cutoff to bound the sorted span if a source dwarfs its budget."""
    docs = load(spark, sf_dir, "documents")
    n_toks = n_tokens(F.col("text"))
    base = docs.select(
        "doc_id", "source", F.col("n_chars"), n_toks.alias("n_tokens")
    )
    w = (
        W.partitionBy("source")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    before = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("tokens_before")
    return (
        base.select("doc_id", "source", "n_tokens", before)
        .filter(F.col("tokens_before") + F.col("n_tokens") <= TOKEN_BUDGET)
    )


# -- vocabulary coverage ----------------------------------------------------

VOCAB_TOP_K = 100

_ORACLE_VOCAB = f"""
WITH terms AS (
  SELECT UNNEST({tokens_sql('lower(text)')}) AS term FROM documents
),
counts AS (
  SELECT term, COUNT(*) AS n FROM terms WHERE term <> '' GROUP BY term
),
total AS (SELECT CAST(SUM(n) AS BIGINT) AS total_tokens FROM counts),
top AS (
  SELECT term, n FROM counts ORDER BY n DESC, term LIMIT {VOCAB_TOP_K}
),
cum AS (
  SELECT term, n,
         CAST(SUM(n) OVER (ORDER BY n DESC, term ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum_n
  FROM top
)
SELECT term, n, cum_n,
       -- integer-exact round-half-up (ROUND-tie portability class)
       {ratio_sql("cum_n", "total_tokens", 6)} AS coverage
FROM cum CROSS JOIN total
"""


@register("q_text_vocab", oracle=_ORACLE_VOCAB, tier="X")
def q_text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K vocabulary with cumulative corpus coverage — the Zipf
    audit behind tokenizer-vocab sizing ("how many types cover 95% of
    tokens?").

    Scale shape: term counts partial-aggregate map-side; the global
    ordering exists ONLY on the K-row result of a TakeOrderedAndProject
    (per-partition heaps), so the single-partition cumulative window
    runs over K rows, never the vocabulary. The corpus total is a
    1-row broadcast (audited BNLJ, same as q_text_tfidf's n_docs)."""
    docs = load(spark, sf_dir, "documents").select("text")
    terms = docs.select(
        F.explode(tokens(F.lower("text"))).alias("term")
    ).filter(F.col("term") != "")
    counts = terms.groupBy("term").agg(F.count("*").alias("n"))
    total = counts.agg(F.sum("n").alias("total_tokens"))
    top = counts.orderBy(F.desc("n"), F.asc("term")).limit(VOCAB_TOP_K)
    w = (
        W.orderBy(F.desc("n"), F.asc("term"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("cum_n", F.sum("n").over(w))
        .select(
            "term",
            "n",
            "cum_n",
            ratio(F.col("cum_n"), F.col("total_tokens"), 6).alias("coverage"),
        )
    )


# -- unigram-frequency rarity signal ---------------------------------------

RARE_MAX = 3  # corpus count below which a token is "rare"

_ORACLE_RARITY = f"""
WITH terms AS (
  SELECT doc_id, UNNEST({tokens_sql('lower(text)')}) AS term
  FROM documents
),
toks AS (SELECT doc_id, term FROM terms WHERE term <> ''),
counts AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term),
joined AS (
  SELECT t.doc_id, c.cnt FROM toks t JOIN counts c USING (term)
),
agg AS (
  SELECT doc_id,
         COUNT(*)::BIGINT AS n_tokens,
         CAST(SUM(CASE WHEN cnt < {RARE_MAX} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_rare,
         CAST(SUM(cnt) AS BIGINT) AS sum_cnt
  FROM joined GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_rare,
       -- integer-exact round-half-up (ROUND-tie portability class)
       {ratio_sql("n_rare", "n_tokens", 4)} AS rare_frac,
       {ratio_sql("sum_cnt", "n_tokens", 4)} AS mean_count
FROM agg
"""


@register("q_text_rarity", oracle=_ORACLE_RARITY, tier="X")
def q_text_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram-frequency signal: rare-token fraction and
    mean corpus count of the doc's tokens — the rational-arithmetic
    stand-in for a perplexity/LM quality filter (docs full of
    never-seen-elsewhere tokens are OCR noise or boilerplate-mangled;
    docs of only ultra-common tokens carry no information).

    Scale shape: one (term) aggregation for the corpus counts, joined
    back onto the exploded tokens — the count table is
    vocabulary-sized, the natural broadcast side at any corpus scale —
    then one per-doc aggregation. Integer sums only; division happens
    once per output row on exactly-summed operands, so engine float
    ordering cannot differ."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.explode(tokens(F.lower("text"))).alias("term")
    ).filter(F.col("term") != "")
    counts = toks.groupBy("term").agg(F.count("*").alias("cnt"))
    joined = toks.join(counts, "term")
    is_rare = F.when(F.col("cnt") < RARE_MAX, 1).otherwise(0)
    agg = joined.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(is_rare).alias("n_rare"),
        F.sum("cnt").alias("__sum_cnt"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_rare",
        ratio(F.col("n_rare"), F.col("n_tokens"), 4).alias("rare_frac"),
        ratio(F.col("__sum_cnt"), F.col("n_tokens"), 4).alias("mean_count"),
    )


# Total-variation distance between two ingest batches' token
# distributions — the corpus-drift alarm that needs no logarithm:
# TV = 0.5 * sum_t |p_t - q_t| = sum_t |c1*N2 - c2*N1| / (2*N1*N2),
# every intermediate an exact integer (KL/JS need libm logs, whose
# cross-engine rounding is not reproducible — the q_text_diversity
# lesson). Batches stand in as doc_id parity (deterministic at every
# sf and on the nasty twins; a real deployment keys on batch_id).
_ORACLE_TV_DIVERGENCE = f"""
WITH terms AS (
  SELECT doc_id % 2 AS batch, UNNEST({tokens_sql('lower(text)')}) AS term
  FROM documents WHERE doc_id IS NOT NULL
),
c AS (
  SELECT term,
         SUM(CASE WHEN batch = 0 THEN 1 ELSE 0 END) AS c1,
         SUM(CASE WHEN batch = 1 THEN 1 ELSE 0 END) AS c2
  FROM terms WHERE term <> '' GROUP BY term
),
tot AS (
  SELECT COUNT(*) AS n_terms,
         CAST(SUM(c1) AS HUGEINT) AS n1, CAST(SUM(c2) AS HUGEINT) AS n2
  FROM c
),
d AS (
  SELECT c.term, ABS(c.c1 * tot.n2 - c.c2 * tot.n1) AS dnum
  FROM c CROSS JOIN tot
),
agg AS (
  SELECT SUM(dnum) AS tvnum FROM d
)
SELECT CAST(tot.n_terms AS BIGINT) AS n_terms,
       CAST(tot.n1 AS BIGINT) AS tokens_a,
       CAST(tot.n2 AS BIGINT) AS tokens_b,
       {ratio_dec_sql("agg.tvnum", "2 * tot.n1 * tot.n2", 9, signed=False)}
         AS tv_distance,
       (SELECT term FROM d ORDER BY dnum DESC, term DESC LIMIT 1)
         AS drift_term
FROM tot, agg
WHERE tot.n1 > 0 AND tot.n2 > 0
"""


@register("q_text_tv_divergence", oracle=_ORACLE_TV_DIVERGENCE, tier="X")
def q_text_tv_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total-variation distance between the token distributions of two
    ingest batches (doc_id parity as the batch key) — the corpus-drift
    alarm a pre-training pipeline checks before mixing a new crawl into
    an old one. TV is deliberately the drift metric instead of KL/JS:
    TV = sum |c1*N2 - c2*N1| / (2*N1*N2) stays in exact integer
    arithmetic until ONE rational rounding, while KL/JS would hang
    bit-parity on libm logs (the q_text_diversity lesson). Shape: one
    token explode feeds a two-phase (term, conditional-counts)
    aggregate; the |.| terms and their sum are exact decimals in a
    second two-phase 1-row aggregate, so the exchange after the term
    count carries vocabulary-bounded rows and the final exchange one
    row. The single most-drifted term rides the same aggregate as
    MAX(struct(dnum, term)) — ties break to the LARGEST term,
    deterministic on both engines. An empty batch yields zero rows
    (TV undefined), identically on both sides."""
    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    terms = docs.select(
        (F.col("doc_id") % 2).alias("batch"),
        F.explode(tokens(F.lower("text"))).alias("term"),
    ).filter(F.col("term") != "")
    # the term-count table feeds BOTH the totals frame and the per-term
    # distance pass — lazily checkpoint it or AQE re-plans the whole
    # tokenize+explode+count pipeline once per consumer (the
    # q_graph_triangles lesson; the plan guard pins ONE explode)
    c = terms.groupBy("term").agg(
        F.sum(F.when(F.col("batch") == 0, 1).otherwise(0))
        .cast(DEC)
        .alias("c1"),
        F.sum(F.when(F.col("batch") == 1, 1).otherwise(0))
        .cast(DEC)
        .alias("c2"),
    ).localCheckpoint(eager=False)
    tot = c.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
    )
    d = c.crossJoin(F.broadcast(tot)).select(
        "term",
        "n_terms",
        "n1",
        "n2",
        F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1")).alias(
            "dnum"
        ),
    )
    # keyless final agg: n_terms/n1/n2 are per-row constants after the
    # crossJoin, so MAX carries them without a grouped sort/exchange
    agg = d.agg(
        F.max("n_terms").alias("n_terms"),
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.sum("dnum").alias("tvnum"),
        F.max(F.struct(F.col("dnum"), F.col("term"))).alias("m"),
    )
    return agg.filter((F.col("n1") > 0) & (F.col("n2") > 0)).select(
        F.col("n_terms").cast("long").alias("n_terms"),
        F.col("n1").cast("long").alias("tokens_a"),
        F.col("n2").cast("long").alias("tokens_b"),
        ratio_dec(
            F.col("tvnum"),
            F.lit(2).cast(DEC) * F.col("n1") * F.col("n2"),
            9,
            signed=False,
        ).alias("tv_distance"),
        F.col("m.term").alias("drift_term"),
    )


# Novel-bigram rate of an ingest batch: what fraction of batch B's
# bigram TYPES were never seen in batch A? The freshness metric next to
# q_text_tv_divergence's drift metric — drift says the mix changed,
# novelty says how much genuinely new phrase material arrived. Pure
# set arithmetic on exact integer counts; ppm by floor division.
_ORACLE_TEXT_NOVELTY = f"""
WITH toks AS (
  SELECT doc_id % 2 AS batch, {tokens_sql('lower(text)')} AS ts
  FROM documents WHERE doc_id IS NOT NULL
),
bg AS (
  SELECT batch,
         UNNEST([ts[i] || ' ' || ts[i + 1]
                 for i in range(1, len(ts))]) AS b
  FROM toks WHERE len(ts) >= 2
),
c AS (
  SELECT b,
         MAX(CASE WHEN batch = 0 THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN batch = 1 THEN 1 ELSE 0 END) AS in_b
  FROM bg GROUP BY b
),
s AS (
  SELECT CAST(SUM(in_a) AS BIGINT) AS n_a,
         CAST(SUM(in_b) AS BIGINT) AS n_b,
         CAST(SUM(CASE WHEN in_b = 1 AND in_a = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_novel
  FROM c
)
SELECT n_a AS n_bigrams_a, n_b AS n_bigrams_b, n_novel,
       CAST(n_novel * 1000000 // n_b AS BIGINT) AS novelty_ppm
FROM s WHERE n_b > 0
"""


@register("q_text_novelty", oracle=_ORACLE_TEXT_NOVELTY, tier="X")
def q_text_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novel-bigram rate of an ingest batch (doc_id parity as the batch
    key, matching q_text_tv_divergence): the share of batch B's
    distinct bigrams never seen in batch A — TV drift says the MIX
    changed; novelty says how much genuinely NEW phrase material
    arrived (a recrawl of known pages scores near zero, a new domain
    scores high — the dedup-adjacent freshness gate). Shape: one
    bigram explode (adjacent-token zip_with, map-side, never leaving
    the doc) into a two-phase per-bigram presence aggregate — the
    exchange carries bigram-type-cardinality rows of two booleans —
    then a 1-row two-phase count. Set counts are exact integers; the
    rate is exact floor-ppm. An empty batch B yields zero rows on both
    engines (rate undefined)."""
    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    toks = docs.select(
        (F.col("doc_id") % 2).alias("batch"),
        tokens(F.lower("text")).alias("ts"),
    ).filter(F.size("ts") >= 2)
    bg = toks.select(
        "batch",
        F.explode(
            F.expr(
                "zip_with(slice(ts, 1, size(ts) - 1), "
                "slice(ts, 2, size(ts) - 1), "
                "(a, b) -> concat(a, ' ', b))"
            )
        ).alias("b"),
    )
    c = bg.groupBy("b").agg(
        F.max(F.when(F.col("batch") == 0, 1).otherwise(0)).alias("in_a"),
        F.max(F.when(F.col("batch") == 1, 1).otherwise(0)).alias("in_b"),
    )
    s = c.agg(
        F.sum("in_a").cast("long").alias("n_bigrams_a"),
        F.sum("in_b").cast("long").alias("n_bigrams_b"),
        F.sum(
            F.when((F.col("in_b") == 1) & (F.col("in_a") == 0), 1)
            .otherwise(0)
        ).cast("long").alias("n_novel"),
    )
    return s.filter(F.col("n_bigrams_b") > 0).select(
        "n_bigrams_a",
        "n_bigrams_b",
        "n_novel",
        F.expr("(n_novel * 1000000L) div n_bigrams_b").cast("long").alias(
            "novelty_ppm"
        ),
    )


# Vocabulary-tail census per language: hapax/dis legomena rates and
# type-token ratio — the Zipf-tail health check of a corpus slice (an
# OCR-noisy or dedup-starved slice shows a bloated hapax share; a
# boilerplate-flooded one collapses TTR). Pure integer arithmetic:
# two stacked counts plus exact floor(ppm) ratios — no logarithm, so no
# libm cross-engine drift (the TV-divergence lesson applied to the
# Zipf audit).
_ORACLE_HAPAX = f"""
WITH terms AS (
  SELECT lang, UNNEST({tokens_sql('lower(text)')}) AS term
  FROM documents
),
c AS (
  SELECT lang, term, COUNT(*)::BIGINT AS n
  FROM terms WHERE term <> '' GROUP BY lang, term
)
SELECT lang,
       CAST(SUM(n) AS BIGINT) AS n_tokens,
       COUNT(*)::BIGINT AS vocab,
       CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis_legomena,
       CAST((SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1000000)
         // COUNT(*) AS BIGINT) AS hapax_ppm,
       CAST((COUNT(*) * 1000000) // CAST(SUM(n) AS BIGINT) AS BIGINT)
         AS ttr_ppm
FROM c GROUP BY lang
"""


@register("q_text_hapax", oracle=_ORACLE_HAPAX, tier="X")
def q_text_hapax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language hapax/dis-legomena census with type-token ratio:
    how much of each language's vocabulary occurs exactly once or
    twice, and how many types per million tokens. The corpus-health
    reading: hapax share far above the language's usual band means
    OCR noise, mojibake, or under-deduplication is minting junk types;
    a collapsing TTR means boilerplate is flooding the slice. Companion
    of q_text_vocab (head coverage) — this key audits the TAIL.

    Scale shape: two stacked two-phase counts — (lang, term) counts
    partial-aggregate map-side (the exchange carries one row per
    distinct type per language, vocabulary-bounded, never
    corpus-bounded), then a lang-keyed fold of that vocabulary table
    into 4 counters. Ratios are exact integer floor(ppm) (`div`/`//`
    agree bit-for-bit); NULL lang rides as its own group on both
    engines. No logarithms anywhere — Zipf-tail health without libm
    (the q_text_tv_divergence discipline)."""
    docs = load(spark, sf_dir, "documents").select("lang", "text")
    terms = docs.select(
        "lang", F.explode(tokens(F.lower("text"))).alias("term")
    ).filter(F.col("term") != "")
    c = terms.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("n"))
    agg = c.groupBy("lang").agg(
        F.sum("n").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias("hapax"),
        F.sum(F.when(F.col("n") == 2, 1).otherwise(0)).alias("dis_legomena"),
    )
    return agg.select(
        "lang",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("vocab").cast("long").alias("vocab"),
        F.col("hapax").cast("long").alias("hapax"),
        F.col("dis_legomena").cast("long").alias("dis_legomena"),
        F.expr("(hapax * 1000000L) div vocab").cast("long").alias("hapax_ppm"),
        F.expr("(vocab * 1000000L) div n_tokens").cast("long").alias("ttr_ppm"),
    )


def _readability_oracle() -> str:
    from database_cloner_spark.queries.oracle_fragments import WS_CLASS

    return f"""
WITH m AS (
  SELECT doc_id,
         CAST(length(regexp_replace(text, '{WS_CLASS}', '', 'g'))
              AS BIGINT) AS n_chars_vis,
         CAST(len({tokens_sql()}) AS BIGINT) AS n_words,
         CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
              AS BIGINT) AS n_sentences
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id, n_chars_vis, n_words, n_sentences,
       4.71 * (CAST(n_chars_vis AS DOUBLE) / CAST(n_words AS DOUBLE))
         + 0.5 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
         - 21.43 AS ari
FROM m WHERE n_words > 0
"""


_ORACLE_READABILITY = _readability_oracle()


@register("q_text_readability", oracle=_ORACLE_READABILITY, tier="X")
def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automated Readability Index per document — the grade-level
    quality signal a curation pipeline uses alongside q_text_quality's
    heuristics (very low ARI = fragments/boilerplate, absurdly high =
    run-on OCR soup). Chosen over Flesch-Kincaid deliberately: ARI
    needs no syllable counting and NO logarithm — it is pure arithmetic
    over three exact integers (visible chars, words, sentence marks),
    so the score doubles are bit-identical cross-engine with zero
    output rounding (the no-libm discipline): both engines parse the
    same 4.71/0.5/21.43 literals and evaluate the same expression tree
    over identical integer-derived operands. Sentences = runs of
    [.!?] with a floor of 1 (headline-style docs count as one
    sentence); chars = length after stripping the shared WS_CLASS;
    words = the shared tokenizer's count. Map-only: zero exchanges,
    scan-to-project, trivially scale-linear."""
    from database_cloner_spark.llm.textprep import WS_CLASS

    docs = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    n_chars_vis = F.length(
        F.regexp_replace(F.col("text"), WS_CLASS, "")
    ).cast("long")
    n_words = F.size(tokens(F.col("text"))).cast("long")
    n_sentences = F.greatest(
        F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")), F.lit(1)
    ).cast("long")
    m = docs.select(
        "doc_id",
        n_chars_vis.alias("n_chars_vis"),
        n_words.alias("n_words"),
        n_sentences.alias("n_sentences"),
    ).filter(F.col("n_words") > 0)
    ari = (
        F.lit(4.71)
        * (F.col("n_chars_vis").cast("double") / F.col("n_words").cast("double"))
        + F.lit(0.5)
        * (F.col("n_words").cast("double") / F.col("n_sentences").cast("double"))
        - F.lit(21.43)
    )
    return m.select(
        "doc_id", "n_chars_vis", "n_words", "n_sentences", ari.alias("ari")
    )


# Per-source text-encoding health audit: how many documents carry raw
# ASCII control characters (anything below 0x20 except tab/LF/CR — the
# signature of binary garbage or charset-mangled ingest) or the Unicode
# replacement character U+FFFD (the decoder already SAW broken bytes
# and papered over them), plus the total control-char volume and an
# exact floor-ppm affected-doc rate. The feed gate a crawl pipeline
# reads per source before admitting a batch — mojibake clusters by
# upstream, so per-source rates localize the broken crawler.
_CTRL_RE = r"[\x00-\x08\x0B\x0C\x0E-\x1F]"
_REPL_CHAR = "�"

_ORACLE_ENCODING_AUDIT = f"""
WITH d AS (
  SELECT source,
         COALESCE(text, '') AS t
  FROM documents
),
m AS (
  SELECT source,
         length(t) - length(regexp_replace(t, '{_CTRL_RE}', '', 'g'))
           AS n_ctrl,
         CASE WHEN strpos(t, chr(65533)) > 0 THEN 1 ELSE 0 END AS has_repl
  FROM d
)
SELECT source,
       COUNT(*)::BIGINT AS n_docs,
       CAST(COALESCE(SUM(CASE WHEN n_ctrl > 0 THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_ctrl_docs,
       CAST(COALESCE(SUM(has_repl), 0) AS BIGINT) AS n_repl_docs,
       CAST(COALESCE(SUM(n_ctrl), 0) AS BIGINT) AS n_ctrl_chars,
       CAST((SUM(CASE WHEN n_ctrl > 0 OR has_repl = 1 THEN 1 ELSE 0 END)
             * 1000000) // COUNT(*) AS BIGINT) AS affected_ppm
FROM m GROUP BY source
"""


@register("q_text_encoding_audit", oracle=_ORACLE_ENCODING_AUDIT, tier="X")
def q_text_encoding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source encoding-health census: documents carrying raw
    control characters (below 0x20 minus tab/LF/CR) or U+FFFD
    replacement characters, total control-char volume, exact floor-ppm
    affected rate. Shape: ONE scan, per-row char counting in codegen
    (length minus length-after-regexp_replace — both engines count
    CHARACTERS), then a two-phase aggregate whose exchange carries one
    partial row per source (source cardinality, tiny). Zero joins.
    length()/strpos() are codepoint-based on BOTH engines, so CJK and
    emoji never skew the counts (adversarial-docs suite)."""
    d = load(spark, sf_dir, "documents").select(
        "source", F.coalesce(F.col("text"), F.lit("")).alias("t")
    )
    n_ctrl = F.length("t") - F.length(
        F.regexp_replace("t", _CTRL_RE, "")
    )
    has_repl = F.when(
        F.instr(F.col("t"), _REPL_CHAR) > 0, F.lit(1)
    ).otherwise(F.lit(0))
    m = d.select(
        "source", n_ctrl.alias("n_ctrl"), has_repl.alias("has_repl")
    )
    return m.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(
            F.sum(F.when(F.col("n_ctrl") > 0, 1).otherwise(0)), F.lit(0)
        ).cast("long").alias("n_ctrl_docs"),
        F.coalesce(F.sum("has_repl"), F.lit(0)).cast("long").alias(
            "n_repl_docs"
        ),
        F.coalesce(F.sum("n_ctrl"), F.lit(0)).cast("long").alias(
            "n_ctrl_chars"
        ),
        F.expr(
            "(sum(CASE WHEN n_ctrl > 0 OR has_repl = 1 THEN 1 ELSE 0 END)"
            " * 1000000L) div count(1)"
        ).cast("long").alias("affected_ppm"),
    )
