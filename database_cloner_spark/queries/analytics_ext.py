"""Distribution stats, upsert/merge, and corpus relevance ([X] tier).

Three capability gaps a 100 TB deployment hits early:
- percentile profiling of a corpus (exact, not approx — the approx
  variant q_agg_approx_distinct's cousin `approx_percentile` trades
  away oracle-checkability; both belong in the library);
- key-based upsert (the reference's clone is always a full overwrite,
  clone_databases.sh:817-818 `--drop`; an incremental refresh needs
  merge-by-key semantics — Spark without a lakehouse format expresses
  SCD-1 as a full-outer join with changed-side precedence);
- TF-IDF-style term relevance over documents (the training-data
  pipeline's classic keyword extractor).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from database_cloner_spark.functions import ranks
from database_cloner_spark.functions.rational import (
    DEC,
    pearson,
    pearson_sql,
    ratio,
    ratio_dec,
    ratio_dec_sql,
    ratio_sql,
)
from database_cloner_spark.registry import register
from database_cloner_spark.sources import load


_ORACLE_PERCENTILE = """
SELECT lang,
       ROUND(quantile_cont(n_chars, 0.50), 3) AS p50,
       ROUND(quantile_cont(n_chars, 0.90), 3) AS p90,
       ROUND(quantile_cont(n_chars, 0.99), 3) AS p99,
       COUNT(*) AS n_docs
FROM documents GROUP BY lang
"""


@register("q_agg_percentile", oracle=_ORACLE_PERCENTILE, tier="X")
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles of document length per
    language. Exact percentile sorts within each group — fine for
    per-group profiling where groups fit a reducer; for a global
    percentile over 100 TB use `approx_percentile` (t-digest, mergeable
    map-side, bounded error) instead."""
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.round(F.percentile("n_chars", F.lit(0.50)), 3).alias("p50"),
        F.round(F.percentile("n_chars", F.lit(0.90)), 3).alias("p90"),
        F.round(F.percentile("n_chars", F.lit(0.99)), 3).alias("p99"),
        F.count("*").alias("n_docs"),
    )


_ORACLE_MERGE = """
WITH updates AS (
  SELECT o_orderkey, ROUND(o_totalprice * 2, 2) AS o_totalprice
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT -1 * o_orderkey AS o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice
  FROM orders WHERE o_orderkey % 100 = 0
)
SELECT COALESCE(u.o_orderkey, b.o_orderkey) AS o_orderkey,
       COALESCE(u.o_totalprice, ROUND(b.o_totalprice, 2)) AS o_totalprice,
       (u.o_orderkey IS NOT NULL) AS from_update
FROM (SELECT o_orderkey, o_totalprice FROM orders) b
FULL OUTER JOIN updates u ON b.o_orderkey = u.o_orderkey
"""


@register("q_merge_upsert", oracle=_ORACLE_MERGE, tier="X")
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-1 upsert (MERGE INTO without a lakehouse format): updates win
    over base rows, unmatched updates are inserts. One shuffle on the
    merge key for both sides; at scale, bucket the base table on the key
    so only the (small) update side shuffles. The update set here is a
    deterministic slice of orders: 10% price-bumped, 1% re-keyed as
    inserts — simulating an incremental clone refresh (the reference
    only supports full overwrite, clone_databases.sh:817-818)."""
    base = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    # *2 not *1.1: doubling a double is binary-exact, so the rounded
    # value never sits on a .xx5 boundary where Spark (BigDecimal
    # HALF_UP on the shortest decimal repr) and DuckDB (raw-double
    # round) disagree.
    bumped = base.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey", F.round(F.col("o_totalprice") * 2, 2).alias("o_totalprice")
    )
    inserts = base.filter(F.col("o_orderkey") % 100 == 0).select(
        (F.col("o_orderkey") * -1).alias("o_orderkey"),
        F.round("o_totalprice", 2).alias("o_totalprice"),
    )
    updates = bumped.unionByName(inserts)
    b = base.select(
        F.col("o_orderkey").alias("b_key"), F.round("o_totalprice", 2).alias("b_price")
    )
    u = updates.select(
        F.col("o_orderkey").alias("u_key"), F.col("o_totalprice").alias("u_price")
    )
    return b.join(u, b.b_key == u.u_key, "full_outer").select(
        F.coalesce("u_key", "b_key").alias("o_orderkey"),
        F.coalesce("u_price", "b_price").alias("o_totalprice"),
        F.col("u_key").isNotNull().alias("from_update"),
    )


# Rational idf (N+1)/(df+1) instead of log-idf: identical bit-for-bit in
# any engine (no libm), so ranking ties resolve the same way everywhere.
# Swap in log() at production — ranking semantics are unchanged.
_ORACLE_TFIDF = f"""
WITH terms AS (
  SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM terms
  WHERE term <> '' GROUP BY doc_id, term
),
df AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term
),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df, n.n_docs,
         tf.tf * (n.n_docs + 1.0) / (df.df + 1.0) AS score
  FROM tf JOIN df USING (term) CROSS JOIN n
),
ranked AS (
  -- integer-exact round-half-up of tf*(N+1)/(df+1): ROUND on the
  -- computed double can split 4th-decimal ties differently per engine
  SELECT doc_id, term,
         {ratio_sql("tf*(n_docs+1)", "df+1", 4)} AS tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term ASC) AS rn
  FROM scored
)
SELECT doc_id, term, tfidf FROM ranked WHERE rn <= 3
"""


@register("q_text_tfidf", oracle=_ORACLE_TFIDF, tier="X")
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document. Three aggregations sharing the
    (doc_id, term) shuffle: term frequency, document frequency (joined
    back on term — at 100 TB the df table is vocabulary-sized, usually
    broadcastable), corpus size (scalar, cross-joined). Per-doc top-3 is
    a rank-limit window: WindowGroupLimit keeps per-partition heaps of 3
    before the final shuffle, so no full sort materializes."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    terms = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            "n_docs",
            (F.col("tf") * (F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))).alias(
                "score"
            ),
        )
    )
    order = [F.desc("score"), F.asc("term")]
    return ranks.top(scored, ["doc_id"], order, 3).select(
        "doc_id",
        "term",
        # rank on the raw double (identical operands both engines);
        # OUTPUT via integer-exact rounding (functions/rational.ratio)
        ratio(
            F.col("tf") * (F.col("n_docs") + 1), F.col("df") + 1, 4
        ).alias("tfidf"),
    )


# Fixed query-term set for the BM25 key (mid-frequency corpus terms).
# Both the builder and the oracle are GENERATED from the term tuple
# (tests sweep a second term set so term-selection luck can't mask a
# break — r7 verdict #8); terms must be identifier-safe (they name the
# tf_/df_ columns) and are embedded as SQL literals.
_BM25_TERMS = ("hash", "merge", "vector")


def _bm25_oracle(terms: tuple) -> str:
    """DuckDB oracle for the BM25 query over `terms`. Rational BM25 idf
    (N - df + 0.5)/(df + 0.5) — the classic Robertson idf minus the
    log: no libm call, so both engines compute identical doubles (same
    trade as q_text_tfidf; swap log() in at production, ranking is
    unchanged per-term). The per-term scores sum in a FIXED written
    order (the tuple order): float addition is not associative, so a
    SUM() over an engine-ordered group would drift."""
    assert all(t.isidentifier() for t in terms), terms
    tfs = ",\n".join(
        f"         CAST(SUM(CASE WHEN term = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS tf_{t}"
        for t in terms
    )
    dfs = ",\n".join(
        f"         CAST(SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{t}"
        for t in terms
    )
    scores = "\n    + ".join(
        f"""(CASE WHEN tf_{t} > 0 THEN
       ((CAST(n_docs AS DOUBLE) - CAST(df_{t} AS DOUBLE) + 0.5) / (CAST(df_{t} AS DOUBLE) + 0.5))
       * (CAST(tf_{t} AS DOUBLE) * 2.2)
       / (CAST(tf_{t} AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
     ELSE 0.0 END)"""
        for t in terms
    )
    anyterm = " OR ".join(f"tf_{t} > 0" for t in terms)
    return f"""
WITH tok AS (
  SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS term
  FROM documents
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS dl,
{tfs}
  FROM tok WHERE term <> '' GROUP BY doc_id
),
stats AS (
  SELECT CAST(SUM(dl) AS BIGINT) AS total_tokens,
{dfs}
  FROM per_doc
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id,
    {scores} AS bm25
  FROM per_doc, stats, n
  WHERE {anyterm}
),
ranked AS (
  SELECT doc_id, bm25,
         row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rn
  FROM scored
)
SELECT doc_id, bm25 FROM ranked WHERE rn <= 10
"""


_ORACLE_BM25 = _bm25_oracle(_BM25_TERMS)


def _bm25_term_score(term: str):
    tf = F.col(f"tf_{term}").cast("double")
    df_ = F.col(f"df_{term}").cast("double")
    n_docs = F.col("n_docs").cast("double")
    avgdl = F.col("total_tokens").cast("double") / n_docs
    idf = (n_docs - df_ + F.lit(0.5)) / (df_ + F.lit(0.5))
    norm = F.lit(1.0) - F.lit(0.75) + F.lit(0.75) * (F.col("dl").cast("double") / avgdl)
    score = idf * (tf * F.lit(2.2)) / (tf + F.lit(1.2) * norm)
    return F.when(F.col(f"tf_{term}") > 0, score).otherwise(F.lit(0.0))


@register("q_text_bm25", oracle=_ORACLE_BM25, tier="X")
def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (k1=1.2, b=0.75): top-10 documents for a
    fixed 3-term query — the ranked-search primitive a corpus pipeline
    uses for targeted curation (tfidf's length-normalized, saturating
    successor). Spark-first shape: doc length AND all per-term
    frequencies come out of ONE doc_id aggregation (conditional sums —
    no per-term join, no exploded (doc,term) shuffle survives); the
    corpus stats (total tokens, per-term df, N) collapse to two 1-row
    broadcasts; scoring is a map-side expression over only the docs
    that contain a query term; the final top-10 is
    TakeOrderedAndProject. At 100 TB: one shuffle of token counts per
    doc, everything after is broadcast — the inverted-index build is
    q_text_tfidf's job, this is the query-time path. Rational idf and
    fixed-order score summation keep the doubles engine-identical (see
    _bm25_oracle's note)."""
    return _bm25_build(spark, sf_dir, _BM25_TERMS)


def _bm25_build(spark: SparkSession, sf_dir: str, terms: tuple) -> DataFrame:
    """Parameterized BM25 builder (tests sweep a second term set against
    _bm25_oracle(terms) — r7 verdict #8's term-selection-luck probe)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    aggs = [F.count(F.lit(1)).alias("dl")] + [
        F.sum(F.when(F.col("term") == t, 1).otherwise(0)).cast("long").alias(f"tf_{t}")
        for t in terms
    ]
    per_doc = tok.groupBy("doc_id").agg(*aggs)
    stats = per_doc.agg(
        F.sum("dl").cast("long").alias("total_tokens"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0))
            .cast("long")
            .alias(f"df_{t}")
            for t in terms
        ],
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    anyterm = F.lit(False)
    for t in terms:
        anyterm = anyterm | (F.col(f"tf_{t}") > 0)
    cand = per_doc.filter(anyterm)
    score = F.lit(0.0)
    for t in terms:  # fixed written order == the oracle's literal order
        score = score + _bm25_term_score(t)
    scored = (
        cand.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(n))
        .select("doc_id", score.alias("bm25"))
    )
    return scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(10)


# Patterns restricted to syntax with identical semantics in Java regex
# (Spark, executor-side) and RE2 (DuckDB oracle): character classes,
# bounded repetition, \d, \b. No lookarounds/backrefs (RE2 lacks them).
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_LONG_DIGITS_RE = "\\b\\d{9,}\\b"

_ORACLE_PII = f"""
WITH tainted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0
              THEN text || ' contact user' || doc_id ||
                   '@example.com or call 190055501' || (doc_id % 10)
              ELSE text END AS text
  FROM documents
),
scrubbed AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(text, '{_EMAIL_RE}', '[EMAIL]', 'g'),
           '{_LONG_DIGITS_RE}', '[NUMBER]', 'g') AS clean_text,
         len(regexp_extract_all(text, '{_EMAIL_RE}'))
         + len(regexp_extract_all(text, '{_LONG_DIGITS_RE}')) AS n_redactions
  FROM tainted
)
SELECT doc_id, clean_text, n_redactions FROM scrubbed
"""


@register("q_text_pii_scrub", oracle=_ORACLE_PII, tier="X")
def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over documents (emails, long digit runs) — the
    standard scrub pass before a corpus becomes training data. A
    deterministic 20% slice is first tainted with synthetic PII so the
    operator's effect is visible and oracle-checked. Pure map-side
    regexp expressions in codegen — no shuffle, no Python; patterns use
    only the Java-regex/RE2 common subset so engine and oracle agree."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    tainted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or call 190055501"),
                (F.col("doc_id") % 10).cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    n_red = F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), F.lit(0))) + F.size(
        F.regexp_extract_all("text", F.lit(_LONG_DIGITS_RE), F.lit(0))
    )
    clean = F.regexp_replace(
        F.regexp_replace("text", _EMAIL_RE, "[EMAIL]"), _LONG_DIGITS_RE, "[NUMBER]"
    )
    return tainted.select(
        "doc_id", clean.alias("clean_text"), n_red.alias("n_redactions")
    )


# Winsorization: clamp per-group outliers to the [p05, p95] band before
# computing robust statistics — standard pre-training corpus hygiene
# (one pathological 10 MB doc otherwise dominates a source's mean).
_ORACLE_WINSORIZE = f"""
WITH cuts AS (
  SELECT lang,
         quantile_cont(n_chars, 0.05) AS lo,
         quantile_cont(n_chars, 0.95) AS hi
  FROM documents GROUP BY lang
)
SELECT d.lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN d.n_chars < c.lo OR d.n_chars > c.hi THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clamped,
       {ratio_sql("CAST(SUM(d.n_chars) AS BIGINT)", "COUNT(*)", 3)} AS mean_raw,
       ROUND(AVG(LEAST(GREATEST(d.n_chars::DOUBLE, c.lo), c.hi)), 3)
         AS mean_winsorized
FROM documents d JOIN cuts c USING (lang)
GROUP BY d.lang
"""


@register("q_agg_winsorize", oracle=_ORACLE_WINSORIZE, tier="X")
def q_agg_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language winsorized length stats: clamp n_chars to the
    group's [p05, p95], report raw vs clamped means and the clamp
    count. Two passes: per-group cuts (one small agg, rows = #groups)
    are BROADCAST back onto the corpus, so the clamp itself is a
    map-side expression; no corpus re-shuffle beyond the final
    per-group agg."""
    docs = load(spark, sf_dir, "documents")
    cuts = docs.groupBy("lang").agg(
        F.percentile("n_chars", F.lit(0.05)).alias("lo"),
        F.percentile("n_chars", F.lit(0.95)).alias("hi"),
    )
    clamped = F.least(
        F.greatest(F.col("n_chars").cast("double"), F.col("lo")), F.col("hi")
    )
    return (
        docs.join(F.broadcast(cuts), "lang")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                ((F.col("n_chars") < F.col("lo")) | (F.col("n_chars") > F.col("hi")))
                .cast("long")
            ).alias("n_clamped"),
            # integer-exact rounding for the int ratio; the winsorized
            # mean mixes quantile doubles and keeps plain ROUND (its
            # operands are identical on both engines by construction)
            ratio(F.sum("n_chars"), F.count("*"), 3).alias(
                "mean_raw"
            ),
            F.round(F.avg(clamped), 3).alias("mean_winsorized"),
        )
    )


# Ordered-funnel analysis: view -> click after it -> purchase after that.
# Each stage's cutoff depends on the previous stage's result, so the
# funnel is two user-keyed join rounds — every join and agg shares ONE
# partitioning on user_id (no re-shuffle between stages under AQE).
_ORACLE_FUNNEL = f"""
WITH v AS (
  SELECT user_id, MIN(epoch_us(ts)) AS v_us FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS c_us
  FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND epoch_us(e.ts) >= v.v_us
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS p_us
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= c.c_us
  GROUP BY e.user_id
)
SELECT (SELECT COUNT(*) FROM v) AS n_view,
       (SELECT COUNT(*) FROM c) AS n_click_after_view,
       (SELECT COUNT(*) FROM p) AS n_purchase_after_click,
       {ratio_sql("(SELECT COUNT(*) FROM p)::BIGINT",
                  "(SELECT COUNT(*) FROM v)::BIGINT", 4)} AS view_to_purchase
"""


@register("q_funnel", oracle=_ORACLE_FUNNEL, tier="X")
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: users with a view, a click at-or-after
    their first view, and a purchase at-or-after that first click.
    Stage cutoffs chain through two user-keyed joins; all stages hash
    on user_id so the funnel costs one logical partitioning."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("v_us"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("us") >= F.col("v_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("c_us"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("us") >= F.col("c_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("p_us"))
    )
    nv = v.agg(F.count("*").alias("n_view"))
    nc = c.agg(F.count("*").alias("n_click_after_view"))
    np_ = p.agg(F.count("*").alias("n_purchase_after_click"))
    return (
        nv.crossJoin(nc)
        .crossJoin(np_)
        .select(
            "n_view",
            "n_click_after_view",
            "n_purchase_after_click",
            ratio(
                F.col("n_purchase_after_click"), F.col("n_view"), 4
            ).alias("view_to_purchase"),
        )
    )


# Shared dense-grid CTE prefix for the two time-series keys. Every CTE
# filters BOTH ts and event_type NULLs, mirroring the builders, which
# derive bounds/types/counts from ONE both-filtered frame — an
# asymmetric filter would shift the grid when the global min/max ts sits
# on a NULL-type row (review r6).
_TS_DENSE_CTES = """
WITH ev AS (
  SELECT ts, event_type FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
),
bounds AS (
  SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
  FROM ev
),
grid AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 hour)) AS h FROM bounds
),
types AS (
  SELECT DISTINCT event_type FROM ev
),
actual AS (
  SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS n
  FROM ev GROUP BY 1, 2
),
dense AS (
  SELECT g.h, t.event_type, a.n
  FROM grid g CROSS JOIN types t
  LEFT JOIN actual a ON a.h = g.h AND a.event_type = t.event_type
)
"""


def _events_hourly_dense(spark, sf_dir):
    """(h, event_type, n) over the dense hourly grid — n NULL where no
    events landed. The single source of the grid shape both time-series
    keys share: a 1-row min/max agg -> sequence() grid (span-bounded,
    never data-sized), broadcast type dim, LEFT join to the two-phase
    count."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("h")
    )
    types = ev.select("event_type").distinct()
    actual = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    return grid.crossJoin(F.broadcast(types)).join(
        actual, ["h", "event_type"], "left"
    )


_ORACLE_TS_GAPFILL = _TS_DENSE_CTES + """
SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
       event_type,
       CAST(COALESCE(n, 0) AS BIGINT)   AS n
FROM dense
"""


@register("q_ts_gapfill", oracle=_ORACLE_TS_GAPFILL, tier="X")
def q_ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample with gap filling: hourly event counts per
    type over the FULL observed range, quiet hours emitted as explicit
    zeros — the dense grid every monitoring rollup and training-curve
    join needs (a groupBy alone silently drops empty buckets, which
    reads as missing data downstream). Scale shape: the heavy work is
    the ordinary two-phase count; the grid is generated from a 1-row
    min/max aggregate via `sequence()` (span-bounded: hours x types,
    never data-sized), cross-joined against the tiny type dimension and
    LEFT-joined to the aggregated counts — AQE broadcasts the grid
    side. The dimensions are derived, not hardcoded, so the same plan
    serves any span."""
    dense = _events_hourly_dense(spark, sf_dir)
    return dense.select(
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type",
        F.coalesce("n", F.lit(0).cast("long")).alias("n"),
    )


_ORACLE_TS_INTERPOLATE = _TS_DENSE_CTES.rstrip() + f""",
carried AS (
  SELECT h, event_type, n,
    last_value(n IGNORE NULLS) OVER
      (PARTITION BY event_type ORDER BY h
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_n,
    last_value(CASE WHEN n IS NOT NULL THEN h END IGNORE NULLS) OVER
      (PARTITION BY event_type ORDER BY h
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_h,
    first_value(n IGNORE NULLS) OVER
      (PARTITION BY event_type ORDER BY h
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_n,
    first_value(CASE WHEN n IS NOT NULL THEN h END IGNORE NULLS) OVER
      (PARTITION BY event_type ORDER BY h
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_h
  FROM dense
)
SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
       event_type,
       CASE
         WHEN n IS NOT NULL THEN CAST(n AS DOUBLE)
         WHEN prev_n IS NULL OR next_n IS NULL THEN NULL
         ELSE {ratio_sql(
             "prev_n * (date_diff('hour', prev_h, next_h)"
             " - date_diff('hour', prev_h, h))"
             " + next_n * date_diff('hour', prev_h, h)",
             "date_diff('hour', prev_h, next_h)",
             4,
         )}
       END AS filled,
       (n IS NULL AND prev_n IS NOT NULL AND next_n IS NOT NULL)
         AS is_interpolated
FROM carried
"""


@register("q_ts_interpolate", oracle=_ORACLE_TS_INTERPOLATE, tier="X")
def q_ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over time-series gaps — the hypertable
    companion to q_ts_gapfill: where gap-fill writes explicit zeros,
    this estimates the missing hourly count from its nearest observed
    neighbors, weighted by hour distance (series edges with no neighbor
    on one side stay NULL — extrapolation is a lie). Shape: the dense
    grid (span-bounded, from a 1-row min/max agg), then per-type carry
    windows — last/first non-null value AND its hour — which are ONE
    shuffle on event_type; the interpolated value is integer-exact
    (counts × hour-weights through rational.ratio, never a rounded
    double), so every filled cell hash-matches the DuckDB oracle."""
    dense = _events_hourly_dense(spark, sf_dir)
    # Both carries are RUNNING frames (unboundedPreceding..currentRow):
    # "next" uses a DESCENDING running carry instead of the textbook
    # first_value over (currentRow..unboundedFollowing) — Spark
    # evaluates an ignorenulls lookup over an unbounded-FOLLOWING frame
    # by rescanning forward from every row, O(n²) per partition
    # (measured: a 190k-hour series hung for minutes; the reversed
    # running form is O(n) and produced the identical result).
    w_prev = (
        W.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_next = (
        W.partitionBy("event_type")
        .orderBy(F.desc("h"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    h_if_obs = F.when(F.col("n").isNotNull(), F.col("h"))
    carried = dense.select(
        "h",
        "event_type",
        "n",
        F.last("n", ignorenulls=True).over(w_prev).alias("prev_n"),
        F.last(h_if_obs, ignorenulls=True).over(w_prev).alias("prev_h"),
        F.last("n", ignorenulls=True).over(w_next).alias("next_n"),
        F.last(h_if_obs, ignorenulls=True).over(w_next).alias("next_h"),
    )
    m = F.expr("timestampdiff(HOUR, prev_h, next_h)")
    k = F.expr("timestampdiff(HOUR, prev_h, h)")
    interp = ratio(
        F.col("prev_n") * (m - k) + F.col("next_n") * k, m, 4
    )
    filled = (
        F.when(F.col("n").isNotNull(), F.col("n").cast("double"))
        .when(F.col("prev_n").isNull() | F.col("next_n").isNull(), F.lit(None))
        .otherwise(interp)
    )
    return carried.select(
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type",
        filled.alias("filled"),
        (
            F.col("n").isNull()
            & F.col("prev_n").isNotNull()
            & F.col("next_n").isNotNull()
        ).alias("is_interpolated"),
    )


_ORACLE_TS_OHLC = """
WITH ev AS (
  SELECT date_trunc('hour', ts) AS h, ts, value
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
),
ranked AS (
  SELECT h, value,
         row_number() OVER (PARTITION BY h ORDER BY ts, value) AS rn_open,
         row_number() OVER (PARTITION BY h ORDER BY ts DESC, value DESC) AS rn_close
  FROM ev
)
SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
       MAX(CASE WHEN rn_open = 1 THEN value END)  AS open,
       MAX(value)                                  AS high,
       MIN(value)                                  AS low,
       MAX(CASE WHEN rn_close = 1 THEN value END) AS close,
       COUNT(*)                                    AS n
FROM ranked
GROUP BY h
"""


@register("q_ts_downsample_ohlc", oracle=_ORACLE_TS_OHLC, tier="X")
def q_ts_downsample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series downsample to hourly OHLC bars (the hypertable
    continuous-aggregate shape: open/high/low/close/count per bucket).
    Spark-first: open and close are `min(struct(ts, value)).value` /
    `max(struct(ts, value)).value` — ONE two-phase aggregate, no window,
    no self-join; the struct comparison is lexicographic on (ts, value)
    so duplicate-timestamp ties break deterministically on BOTH engines
    (the oracle mirrors it with a (ts, value)-ordered row_number — an
    arg_min(value, ts) would be tie-nondeterministic). Doubles pass
    through verbatim (no rounding: raw fixture values are exact on both
    sides). At 100 TB this is the rollup that turns an events firehose
    into a queryable bar table: partial states are 5 scalars per
    bucket, shuffle volume ~ n_buckets, not n_rows."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    pair = F.struct(F.col("ts"), F.col("value"))
    return (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(
            F.min(pair).getField("value").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(pair).getField("value").alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "open",
            "high",
            "low",
            "close",
            "n",
        )
    )


# Exact LOWER median by rank, not quantile_cont/percentile: linear
# interpolation is (lo + (hi-lo)*f) on one engine and potentially
# (lo+hi)/2-shaped on another — a last-ulp divergence that a downstream
# threshold comparison can amplify into a flipped outlier count. The
# rank-at-(n+1)//2 median IS a data value, bit-identical everywhere.
_ORACLE_ANOMALY_MAD = """
WITH ev AS (
  SELECT event_type, value FROM events
  WHERE event_type IS NOT NULL AND value IS NOT NULL
),
r AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         COUNT(*)     OVER (PARTITION BY event_type) AS cnt
  FROM ev
),
m AS (
  SELECT event_type, value,
         MAX(CASE WHEN rn = (cnt + 1) // 2 THEN value END)
           OVER (PARTITION BY event_type) AS med
  FROM r
),
d AS (
  SELECT event_type, value, med, ABS(value - med) AS dev FROM m
),
dr AS (
  SELECT event_type, value, med, dev,
         row_number() OVER (PARTITION BY event_type ORDER BY dev) AS rn2,
         COUNT(*)     OVER (PARTITION BY event_type) AS cnt2
  FROM d
),
dm AS (
  SELECT event_type, med, dev,
         MAX(CASE WHEN rn2 = (cnt2 + 1) // 2 THEN dev END)
           OVER (PARTITION BY event_type) AS mad
  FROM dr
)
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CASE WHEN dev > 3.0 * 1.4826 * mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       MAX(med) AS median_value,
       MAX(mad) AS mad
FROM dm GROUP BY event_type
"""


@register("q_anomaly_mad", oracle=_ORACLE_ANOMALY_MAD, tier="X")
def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group anomaly detection: flag values whose absolute
    deviation from the group median exceeds 3 sigma-equivalents of the
    MAD (median absolute deviation x 1.4826, the normal-consistency
    constant) — the outlier detector that, unlike mean/stddev z-scores,
    a few extreme points cannot drag.

    Scale shape (r8 rebuild, closing the r7 scale-killer): event_type
    has a HANDFUL of distinct values, so any total-order sort
    partitioned by it puts multi-TB groups on single tasks at 100 TB.
    Instead both medians are functions/ranks.py picks at rank
    (n+1) div 2 over the (event_type, value) count table: one
    event_type exchange for the windows, with the dev re-aggregation
    and the final groupBy riding the same partitioning (their keys
    contain event_type, so no further exchange). dev = |value - med|
    is computed once per DISTINCT value (weighted by its count), the
    identical IEEE subtraction the per-row form did."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    )
    counts = ev.groupBy("event_type", "value").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    cum, total = ranks.running("cnt", ["event_type"], "value")
    c = counts.select(
        "event_type", "value", "cnt", cum.alias("cum"), total.alias("total")
    )
    # lower median = rank (total+1) div 2 (== row_number (n+1) div 2)
    half = F.expr("(total + 1) div 2")
    med = ranks.pick(F.col("value"), F.col("cum") >= half, ["event_type"])
    d = c.select(
        "event_type",
        "cnt",
        "total",
        med.alias("med"),
        F.abs(F.col("value") - med).alias("dev"),
    )
    # several values can share one deviation magnitude: re-aggregate the
    # weights per (event_type, dev) — already co-located, no exchange
    dd = d.groupBy("event_type", "dev").agg(
        F.sum("cnt").alias("wcnt"),
        F.max("total").alias("total"),
        F.max("med").alias("med"),
    )
    cumd = ranks.running("wcnt", ["event_type"], "dev")[0]
    dc = dd.select("event_type", "dev", "wcnt", "total", "med", cumd.alias("cumd"))
    mad = ranks.pick(F.col("dev"), F.col("cumd") >= half, ["event_type"])
    dm = dc.select("event_type", "wcnt", "total", "med", "dev", mad.alias("mad"))
    return dm.groupBy("event_type").agg(
        F.max("total").alias("n"),
        F.sum(
            F.when(
                F.col("dev") > F.lit(3.0) * F.lit(1.4826) * F.col("mad"),
                F.col("wcnt"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("n_outliers"),
        F.max("med").alias("median_value"),
        F.max("mad").alias("mad"),
    )


# OLS from exact integer sufficient statistics. Doubles summed in
# engine-dependent order diverge in the last ulp (Spark's partial-agg
# combine order is nondeterministic; DuckDB's differs again), so the
# naive regr_slope/corr would hash-mismatch. Instead every input is
# made integral per row (days since epoch; floor-cents — FLOOR is pure
# IEEE, unlike ROUND whose half-way rule differs between the engines,
# see q_merge_upsert), the five sums accumulate exactly (decimal(38,0)
# on Spark, HUGEINT on DuckDB — integer addition is order-independent).
#
# The outputs then go through RATIONAL ROUNDING, never a raw int->double
# cast: the r7 premise "equal integers cast to equal doubles" is FALSE
# above 2^53 — DuckDB's CAST(HUGEINT AS DOUBLE) rounds the hi/lo 64-bit
# words separately (two roundings), so e.g. deny=21154864837852735588
# casts to ...733e19 in DuckDB where the correctly-rounded double
# (Python / Java BigDecimal / Spark decimal->double) is ...738e19 — a
# 1-ulp r2 divergence that broke parity at sf0.001 (r7 judge repro).
# Each ratio is instead rounded half-away-from-zero at d digits in
# exact integer arithmetic (functions/rational.ratio_dec and its mirror
# ratio_dec_sql: sign(N) times the half-up quotient of |N| by D), the
# quotient a truncating integral division (Spark `div` and DuckDB `//`
# both truncate toward zero, verified identical for signed operands);
# the small quotient (<< 2^53) then casts exactly on both engines.
# intercept uses the exact rational identity
# (sy - slope*sx)/n == (sy*sxx - sx*sxy) / (n*sxx - sx^2), and r2 is
# the product of two independently-rounded factors (num/denx at 8
# digits, num/deny at 12) because 10^d * num^2 would overflow both
# decimal(38,0) and HUGEINT; one IEEE multiply of two exact k/10^d
# doubles is correctly rounded and identical on both engines.
def _regression_oracle(group_col: str) -> str:
    """DuckDB oracle for the per-group OLS, parameterized on the group
    column (tests sweep a second key — o_orderstatus — so grouping luck
    can't mask a break; r7 verdict #8)."""
    assert group_col.isidentifier(), group_col
    return f"""
WITH pts AS (
  SELECT {group_col} AS priority,
         datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS x,
         CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS y
  FROM orders
  WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
),
s AS (
  SELECT priority, COUNT(*) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
  FROM pts GROUP BY priority
),
d AS (
  SELECT priority, n,
         n * sxy - sx * sy AS num,
         n * sxx - sx * sx AS denx,
         n * syy - sy * sy AS deny,
         sy * sxx - sx * sxy AS inum
  FROM s
  WHERE n * sxx - sx * sx <> 0 AND n * syy - sy * sy <> 0
)
SELECT priority, n,
       {ratio_dec_sql("num", "denx", 6)} AS slope_cents_per_day,
       {ratio_dec_sql("inum", "denx", 4)} AS intercept_cents,
       ({ratio_dec_sql("num", "denx", 8, signed=False)}
        * {ratio_dec_sql("num", "deny", 12, signed=False)}) AS r2
FROM d
"""


_ORACLE_REGRESSION = _regression_oracle("o_orderpriority")


@register("q_stats_regression", oracle=_ORACLE_REGRESSION, tier="X")
def q_stats_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary least squares (price-drift trend per order
    priority): slope / intercept / r² of order value in floor-cents
    against order date in days. Spark-first shape: the regression is
    ONE two-phase hash aggregate over five sufficient statistics
    (n, Σx, Σy, Σxy, Σx², Σy²) — partial states combine map-side, the
    exchange ships 6 scalars per group, and the closed-form OLS solve
    is a per-group scalar expression after the agg. This is the
    canonical aggregate-of-sufficient-statistics pattern that scales to
    100 TB where a window/self-join formulation would not; Spark's own
    regr_slope/regr_r2 build the same partials but accumulate in
    non-portable double order (see _ORACLE_REGRESSION's note), so the
    sums here are exact decimal(38,0) integers and the three outputs
    are RATIONALLY ROUNDED via ratio_dec (slope@6, intercept@4, r2 =
    product of 8- and 12-digit factors) — no >2^53 integer is ever
    cast to double raw, which is what broke r7's parity (DuckDB's
    HUGEINT->DOUBLE double-rounds above 2^53). The datediff epoch and
    floor-cents scaling are the public fixed-point trick; at a scale
    where 10^12*|num| threatens 38 digits (~sf100 for this fixture
    shape, ANSI raises loudly), shift the epoch per partition or drop
    the r2 factor digits."""
    return _regression_build(spark, sf_dir, "o_orderpriority")


def _regression_build(
    spark: SparkSession, sf_dir: str, group_col: str
) -> DataFrame:
    """Parameterized OLS builder (tests sweep a second group key against
    _regression_oracle(group_col) — r7 verdict #8's grouping-luck probe)."""
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull() & F.col("o_totalprice").isNotNull()
    )
    pts = o.select(
        F.col(group_col).alias("priority"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date"))
        .cast(DEC)
        .alias("x"),
        F.floor(F.col("o_totalprice") * 100).cast(DEC).alias("y"),
    )
    s = pts.groupBy("priority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n_d = F.col("n").cast(DEC)
    d = s.select(
        "priority",
        "n",
        (n_d * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
        (n_d * F.col("sxx") - F.col("sx") * F.col("sx")).alias("denx"),
        (n_d * F.col("syy") - F.col("sy") * F.col("sy")).alias("deny"),
        (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")).alias("inum"),
    )
    # zero-variance groups (n=1, or a constant x / constant y) have no
    # defined trend — exclude them on the exact integer denominators
    # (ANSI Spark raises on /0 where DuckDB would NULL: same filter
    # both sides keeps the outputs identical AND meaningful); the
    # surviving denominators are > 0 by Cauchy-Schwarz, as ratio_dec needs
    d = d.filter((F.col("denx") != 0) & (F.col("deny") != 0))
    return d.select(
        "priority",
        "n",
        ratio_dec(F.col("num"), F.col("denx"), 6).alias("slope_cents_per_day"),
        ratio_dec(F.col("inum"), F.col("denx"), 4).alias("intercept_cents"),
        (
            ratio_dec(F.col("num"), F.col("denx"), 8, signed=False)
            * ratio_dec(F.col("num"), F.col("deny"), 12, signed=False)
        ).alias("r2"),
    )


_ORACLE_RETENTION = """
WITH w AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
c AS (
  SELECT user_id, MIN(wk) AS cohort FROM w GROUP BY user_id
)
SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week,
       CAST(datediff('day', cohort, wk) // 7 AS BIGINT) AS week_offset,
       COUNT(*) AS n_users
FROM w JOIN c USING (user_id)
GROUP BY cohort, wk
"""


@register("q_retention_cohort", oracle=_ORACLE_RETENTION, tier="X")
def q_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-active week,
    counted in every later week they return (the growth-analytics
    staple). Shape: ONE shuffle on user_id — `collect_set(week)` per
    user (bounded state: weeks-per-user is calendar-bounded, ~520 rows
    for a decade, regardless of event volume), cohort = array_min
    map-side, re-explode, count per (cohort, week). The naive
    formulation (distinct -> per-user MIN -> rejoin) was rejected by
    plan audit: its distinct partitions on (user, week), which does NOT
    satisfy the user-only join, so at a scale where the cohort table
    outgrows broadcast it pays a third exchange — this form never
    joins at all. Each (user, week) appears once after the explode, so
    the final COUNT(*) counts users with no COUNT(DISTINCT) expansion;
    week offsets are exact integers (both engines truncate to Monday,
    so day deltas are multiples of 7 — `div 7`, never float division)."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    per_user = (
        ev.select("user_id", F.date_trunc("week", F.col("ts")).alias("wk"))
        .groupBy("user_id")
        .agg(F.collect_set("wk").alias("wks"))
    )
    return (
        per_user.select(
            F.array_min("wks").alias("cohort"), F.explode("wks").alias("wk")
        )
        .groupBy("cohort", "wk")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
            F.expr("datediff(wk, cohort) div 7").cast("long").alias("week_offset"),
            "n_users",
        )
    )


# Welch one-vs-rest t-test per event type. Everything up to the final
# divide/sqrt is exact integer arithmetic (fixed-point 1e-4 values,
# decimal(38,0) <-> HUGEINT sums); the mean difference and the two
# variance-over-n terms are rationally rounded at 1e-8 (ratio_dec — no
# >2^53 raw casts, see _ORACLE_REGRESSION), and the final
# t = dmean / sqrt(va + vb) is a fixed shape of correctly-rounded IEEE
# ops (+, /, sqrt) over identical doubles — bit-identical cross-engine
# with NO output rounding needed.
_ORACLE_TTEST = f"""
WITH pts AS (
  SELECT event_type, CAST(FLOOR(value * 10000) AS BIGINT) AS y
  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL AND isfinite(value)
),
g AS (
  SELECT event_type, COUNT(*) AS n, SUM(y) AS s,
         SUM(CAST(y AS HUGEINT) * y) AS q
  FROM pts GROUP BY event_type
),
tot AS (SELECT SUM(n) AS tn, SUM(s) AS ts, SUM(q) AS tq FROM g),
d AS (
  SELECT event_type, n, s, q,
         tn - n AS n2, ts - s AS s2, tq - q AS q2
  FROM g, tot
),
r AS (
  SELECT event_type, n, n2,
         {ratio_dec_sql("s * n2 - s2 * n", "n * n2", 8)} AS dmean,
         {ratio_dec_sql("q * n - s * s", "n * n * (n - 1)", 8, signed=False)} AS va,
         {ratio_dec_sql("q2 * n2 - s2 * s2", "n2 * n2 * (n2 - 1)", 8, signed=False)}
           AS vb
  FROM d WHERE n >= 2 AND n2 >= 2
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       dmean / 10000.0 AS mean_diff,
       dmean / sqrt(va + vb) AS t_stat
FROM r WHERE va + vb > 0
"""


@register("q_stats_ttest", oracle=_ORACLE_TTEST, tier="X")
def q_stats_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-statistic, one event type vs the rest
    of the stream — the A/B-shaped drift detector (does this segment's
    metric differ from everything else?) run for every segment at once.
    Spark-first shape: ONE two-phase hash aggregate builds per-group
    exact sufficient statistics (n, Σy, Σy² in decimal(38,0) over
    1e-4-fixed-point values); the complement ("rest") statistics are
    TOTAL minus GROUP, where the total comes from a global window over
    the 5-row group table (aggregated input — no second scan, no join,
    no crossJoin/BNLJ). The t pieces are rationally rounded at 1e-8
    (ratio_dec: dmean = (s·n2 - s2·n)/(n·n2), va = (q·n - s²)/(n²(n-1)),
    same for the rest) and t = dmean/sqrt(va+vb) is correctly-rounded
    IEEE ops on identical doubles — cross-engine bit-identical without
    any output rounding. Degenerate groups (n < 2 on either side, zero
    pooled variance) are filtered on EXACT/rounded values identically
    both sides. Domain: |2·10^8·(q·n - s²)| < 10^38 holds to ~sf100 for
    this value scale (ANSI raises loudly beyond)."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
        & ~F.isnan("value") & (F.abs("value") < F.lit(float("inf")))
    )
    y = F.floor(F.col("value") * 10000).cast(DEC)
    g = ev.select("event_type", y.alias("y")).groupBy("event_type").agg(
        F.count(F.lit(1)).cast(DEC).alias("n"),
        F.sum("y").alias("s"),
        F.sum(F.col("y") * F.col("y")).alias("q"),
    )
    w_all = W.partitionBy(F.lit(0))
    d = g.select(
        "event_type",
        "n",
        "s",
        "q",
        (F.sum("n").over(w_all) - F.col("n")).alias("n2"),
        (F.sum("s").over(w_all) - F.col("s")).alias("s2"),
        (F.sum("q").over(w_all) - F.col("q")).alias("q2"),
    ).filter((F.col("n") >= 2) & (F.col("n2") >= 2))
    dmean = ratio_dec(
        F.col("s") * F.col("n2") - F.col("s2") * F.col("n"),
        F.col("n") * F.col("n2"),
        8,
    )
    va = ratio_dec(
        F.col("q") * F.col("n") - F.col("s") * F.col("s"),
        F.col("n") * F.col("n") * (F.col("n") - 1),
        8,
        signed=False,
    )
    vb = ratio_dec(
        F.col("q2") * F.col("n2") - F.col("s2") * F.col("s2"),
        F.col("n2") * F.col("n2") * (F.col("n2") - 1),
        8,
        signed=False,
    )
    r = d.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        dmean.alias("dmean"),
        va.alias("va"),
        vb.alias("vb"),
    ).filter(F.col("va") + F.col("vb") > 0)
    return r.select(
        "event_type",
        "n",
        (F.col("dmean") / F.lit(10000.0)).alias("mean_diff"),
        (F.col("dmean") / F.sqrt(F.col("va") + F.col("vb"))).alias("t_stat"),
    )


# Lag-1 autocorrelation of metric values per user: Pearson r between
# consecutive (by ts, event_id) values of one user's stream — the
# session-dynamics profiler (is this user's metric trending or i.i.d.?).
_ORACLE_AUTOCORR = f"""
WITH pts AS (
  SELECT user_id, CAST(FLOOR(value * 10000) AS BIGINT) AS y, ts, event_id
  FROM events
  WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
    AND isfinite(value)
),
pairs AS (
  SELECT user_id,
         lag(y) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS x,
         y
  FROM pts
),
s AS (
  SELECT user_id, COUNT(*) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM pairs WHERE x IS NOT NULL GROUP BY user_id
),
d AS (
  SELECT user_id, n,
         n * sxy - sx * sy AS num,
         n * sxx - sx * sx AS denx,
         n * syy - sy * sy AS deny
  FROM s WHERE n * sxx - sx * sx <> 0 AND n * syy - sy * sy <> 0
)
SELECT user_id, CAST(n AS BIGINT) AS n_pairs,
       {pearson_sql("num", "denx", "deny")}
         AS r_lag1
FROM d
"""


@register("q_ts_autocorr", oracle=_ORACLE_AUTOCORR, tier="X")
def q_ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lag-1 autocorrelation: Pearson r between consecutive
    metric values in each user's (ts, event_id)-ordered stream. Shape:
    ONE user_id shuffle serves both the lag window (user_id is a HIGH-
    cardinality key — groups stay task-sized, unlike the event_type
    windows the low-card guard forbids) and the following two-phase
    sufficient-statistics aggregate (n, Σx, Σy, Σxy, Σx², Σy² as exact
    decimal(38,0) over 1e-4 fixed-point values — the q_stats_regression
    machinery pointed at a self-lagged series). r = sign(num) ·
    sqrt(rr(num/denx, 8) · rr(num/deny, 12)): rationally rounded
    factors, then one correctly-rounded IEEE multiply+sqrt — bit-
    identical cross-engine, no output rounding. Degenerate series
    (n < 2 pairs, constant x or y) are excluded on the exact integer
    denominators identically both sides."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
        & ~F.isnan("value") & (F.abs("value") < F.lit(float("inf")))
        & F.col("ts").isNotNull()
    )
    y = F.floor(F.col("value") * 10000).cast(DEC)
    w = W.partitionBy("user_id").orderBy(
        F.asc_nulls_last("ts"), F.asc_nulls_last("event_id")
    )
    pairs = ev.select(
        "user_id", y.alias("y"), F.lag(y).over(w).alias("x")
    ).filter(F.col("x").isNotNull())
    s = pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).cast(DEC).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    d = s.select(
        "user_id",
        F.col("n").cast("long").alias("n_pairs"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("denx"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).alias("deny"),
    ).filter((F.col("denx") != 0) & (F.col("deny") != 0))
    return d.select(
        "user_id",
        "n_pairs",
        pearson(F.col("num"), F.col("denx"), F.col("deny")).alias("r_lag1"),
    )


# Chi-squared independence of (lang, source) — corpus-drift detection:
# does document language depend on crawl source? chi2 = sum over the
# FULL lang x source grid (observed AND structurally-zero cells) of
# (O*N - r*c)^2 / (N*r*c) — exact integers throughout; each cell's
# contribution is rationally rounded to an INTEGER multiple of 1e-8 and
# the integers are summed (order-independent, unlike summing the
# rounded doubles, whose last-ulp total would depend on engine
# reduction order); one division by 1e8 at the end.
_ORACLE_CHI2 = """
WITH c AS (
  SELECT lang, source, COUNT(*)::BIGINT AS o
  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
  GROUP BY lang, source
),
r AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS rt FROM c GROUP BY lang),
s AS (SELECT source, CAST(SUM(o) AS BIGINT) AS ct FROM c GROUP BY source),
tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM c),
grid AS (
  SELECT r.lang, s.source, r.rt, s.ct, t.n,
         COALESCE(c.o, 0) AS o
  FROM r CROSS JOIN s CROSS JOIN tot t
  LEFT JOIN c ON c.lang = r.lang AND c.source = s.source
),
cell AS (
  SELECT ((200000000 * ((CAST(o AS HUGEINT) * n - CAST(rt AS HUGEINT) * ct)
                        * (CAST(o AS HUGEINT) * n - CAST(rt AS HUGEINT) * ct))
           + CAST(n AS HUGEINT) * rt * ct)
          // (2 * CAST(n AS HUGEINT) * rt * ct)) AS q
  FROM grid
)
SELECT (SELECT CAST(SUM(q) AS BIGINT) FROM cell) / 100000000.0 AS chi2,
       CAST(((SELECT COUNT(*) FROM r) - 1)
            * ((SELECT COUNT(*) FROM s) - 1) AS BIGINT) AS dof,
       (SELECT n FROM tot) AS n
"""


@register("q_stats_chi2", oracle=_ORACLE_CHI2, tier="X")
def q_stats_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared test of independence between two categorical columns
    (document language x crawl source) — the corpus-drift check a
    training pipeline runs to catch a source whose language mix shifted.
    Shape: the ONLY data-sized pass is the two-phase groupBy(lang,
    source) count; margins, the grand total, and the full contingency
    grid (including structurally-zero cells, which classic chi2
    requires) derive from that tiny count table — the grid is a
    bounded-domain dim x dim crossJoin (audited BNLJ) plus a broadcast
    left join back to the counts. Each cell's (O*N - r*c)^2/(N*r*c) is
    exact decimal(38,0) arithmetic rationally rounded to an integer
    multiple of 1e-8; the INTEGERS are summed (order-free) and divided
    once, so the statistic is bit-identical cross-engine with no float
    reduction anywhere (see _ORACLE_CHI2's note)."""
    docs = load(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull() & F.col("source").isNotNull()
    )
    c = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast(DEC).alias("o")
    )
    r = c.groupBy("lang").agg(F.sum("o").cast(DEC).alias("rt"))
    s = c.groupBy("source").agg(F.sum("o").cast(DEC).alias("ct"))
    tot = c.agg(F.sum("o").cast(DEC).alias("n"))
    grid = (
        r.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(tot))
        .join(F.broadcast(c), ["lang", "source"], "left")
        .select(
            "rt", "ct", "n", F.coalesce(F.col("o"), F.lit(0).cast(DEC)).alias("o")
        )
    )
    dev = F.col("o") * F.col("n") - F.col("rt") * F.col("ct")
    den = F.col("n") * F.col("rt") * F.col("ct")
    a = F.lit(200000000).cast(DEC) * (dev * dev) + den
    b = F.lit(2).cast(DEC) * den
    q = F.call_function("div", a, b)
    # same silent-wrap guard as ratio_dec: a cell contribution is bounded
    # by N, so q <= 1e8*N wraps int64 around N ~ 9.2e10 rows — verify
    # the quotient exactly and fail loudly there instead of corrupting
    # the statistic (the long SUM over cells already raises under ANSI)
    q = F.when(q.cast(DEC) * b == a - (a % b), q).otherwise(
        F.raise_error(
            F.lit(
                "q_stats_chi2: cell quotient overflows int64 "
                "(decimal div wraps silently) — reduce the 1e-8 scale"
            )
        )
    )
    cells = grid.select(q.alias("q"))
    nr = r.agg(F.count(F.lit(1)).alias("nr"))
    ns = s.agg(F.count(F.lit(1)).alias("ns"))
    return (
        cells.agg(F.sum("q").alias("sq"))
        .crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(ns))
        .crossJoin(F.broadcast(tot))
        .select(
            (F.col("sq") / F.lit(100000000.0)).alias("chi2"),
            ((F.col("nr") - 1) * (F.col("ns") - 1)).cast("long").alias("dof"),
            F.col("n").cast("long").alias("n"),
        )
    )


# EWMA with alpha = 1/2: acc = (acc + x)/2 folded over the user's
# (ts, event_id)-ordered value stream. The recurrence is evaluated in
# the SAME sequential order by both engines (Spark `aggregate` HOF over
# a sort_array'd list; DuckDB list_reduce over list(... ORDER BY)), and
# +,/2 are correctly-rounded IEEE ops — so the resulting double is
# bit-identical cross-engine even where the running sum rounds (term
# spread past 53 bits), with no libm anywhere. alpha=1/2 is the dyadic
# smoothing choice: halving is exact scaling, so early terms decay
# without introducing representation error of their own.
_ORACLE_EWMA = """
WITH pts AS (
  SELECT user_id, value, ts, event_id
  FROM events
  WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
    AND event_id IS NOT NULL
),
l AS (
  SELECT user_id,
         COUNT(*)::BIGINT AS n_events,
         list(value ORDER BY ts, event_id) AS vs
  FROM pts GROUP BY user_id
)
SELECT user_id, n_events,
       list_reduce(CAST(vs AS DOUBLE[]), (acc, x) -> (acc + x) / 2.0)
         AS ewma
FROM l
"""


@register("q_ts_ewma", oracle=_ORACLE_EWMA, tier="X")
def q_ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average (alpha = 1/2) of
    the metric stream's final state — the smoothed "where is this
    user's metric now" profile. A recurrence (y_t depends on y_{t-1})
    is the one shape windows cannot express without O(n^2) frames;
    Spark-first answer: ONE user_id shuffle collects each user's
    (ts, event_id, value) structs, sort_array orders them in-partition
    (lexicographic struct compare — deterministic event_id tie-break),
    and a JVM-side `aggregate` HOF folds (acc + x)/2 sequentially —
    per-user state is that user's events (the same calendar/user-bounded
    state argument as q_retention_cohort), no Python, no UDF. The fold
    order is pinned identically in both engines, so the result double
    is bit-exact with zero output rounding (see _ORACLE_EWMA). At
    100 TB swap sort_array+fold for applyInPandasWithState only if a
    single user's history outgrows a task — nothing else changes.
    event_id is the ts tiebreaker in the struct sort, where Spark puts
    a NULL FIRST and the oracle's list(ORDER BY) puts it LAST — NULL
    event_ids are filtered on BOTH sides (the q_ts_holt posture) so
    the fold order stays bit-identical."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_id").isNotNull()
    )
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sort_array(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("evs"),
    )
    vs = F.expr("transform(evs, e -> e.value)")
    ewma = F.expr(
        "aggregate(slice(__vs, 2, size(__vs) - 1), __vs[0], "
        "(acc, x) -> (acc + x) / 2.0D)"
    )
    return (
        per_user.select("user_id", "n_events", vs.alias("__vs"))
        .select("user_id", "n_events", ewma.alias("ewma"))
    )


# Pairwise Pearson correlation of the event types' hourly activity
# series — the metric-covariation profile (which segments move
# together?). Counts are exact integers, so the sufficient statistics
# are exact; r = sign(num) * sqrt(rr(num/denx) * rr(num/deny)) exactly
# as q_ts_autocorr.
_ORACLE_CORR_MATRIX = f"""
WITH h AS (
  SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*)::BIGINT AS c
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
  GROUP BY event_type, hr
),
p AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         a.c AS x, b.c AS y
  FROM h a JOIN h b ON a.hr = b.hr AND a.event_type < b.event_type
),
s AS (
  SELECT type_a, type_b, COUNT(*) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM p GROUP BY type_a, type_b
),
d AS (
  SELECT type_a, type_b, n,
         n * sxy - sx * sy AS num,
         n * sxx - sx * sx AS denx,
         n * syy - sy * sy AS deny
  FROM s WHERE n * sxx - sx * sx <> 0 AND n * syy - sy * sy <> 0
)
SELECT type_a, type_b, CAST(n AS BIGINT) AS n_hours,
       {pearson_sql("num", "denx", "deny")}
         AS pearson_r
FROM d
"""


@register("q_stats_corr_matrix", oracle=_ORACLE_CORR_MATRIX, tier="X")
def q_stats_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix of the event types' hourly
    activity series (co-present hours) — do clicks move with views?
    does the error rate track purchases? The heavy pass is ONE
    two-phase `groupBy(type, hour)` count; the pair join, sufficient-
    statistics aggregate, and the closed-form r all operate on that
    hours x types count table (tiny at any event volume — time is
    calendar-bounded), so the operator's cost is the count shuffle and
    nothing else grows with data size. Counts are exact integers →
    exact decimal sufficient statistics → r through the same
    rationally-rounded-factors + IEEE sqrt pipeline as q_ts_autocorr:
    bit-identical cross-engine, no output rounding."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    )
    # checkpoint the (tiny, calendar-bounded) count table: both pair-
    # join sides read it, and without the barrier each side re-scans
    # and re-counts the full events table
    h = (
        ev.groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("hr"))
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    a = h.select(
        F.col("event_type").alias("type_a"),
        F.col("hr"),
        F.col("c").cast(DEC).alias("x"),
    )
    b = h.select(
        F.col("event_type").alias("type_b"),
        F.col("hr"),
        F.col("c").cast(DEC).alias("y"),
    )
    p = a.join(b, "hr").filter(F.col("type_a") < F.col("type_b"))
    s = p.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).cast(DEC).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    d = s.select(
        "type_a",
        "type_b",
        F.col("n").cast("long").alias("n_hours"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("denx"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).alias("deny"),
    ).filter((F.col("denx") != 0) & (F.col("deny") != 0))
    return d.select(
        "type_a",
        "type_b",
        "n_hours",
        pearson(F.col("num"), F.col("denx"), F.col("deny")).alias(
            "pearson_r"
        ),
    )


# Rolling OLS slope over each user's trailing 8 events: windowed exact
# integer sufficient sums -> the same closed form / rational rounding as
# q_stats_regression, per row. x is epoch seconds rebased by a FIXED
# literal offset (1.7e9) purely to shrink magnitudes — exactness does
# not depend on it, the cancellation n*Sxy - Sx*Sy is exact either way.
_ORACLE_ROLLING_SLOPE = f"""
WITH pts AS (
  SELECT event_id, user_id, ts,
         epoch_us(ts) // 1000000 - 1700000000 AS x,
         CAST(FLOOR(value * 100) AS BIGINT) AS y
  FROM events
  WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
    AND isfinite(value)
),
w AS (
  SELECT event_id, user_id,
         COUNT(*) OVER win AS k,
         SUM(x) OVER win AS sx, SUM(y) OVER win AS sy,
         SUM(CAST(x AS HUGEINT) * y) OVER win AS sxy,
         SUM(CAST(x AS HUGEINT) * x) OVER win AS sxx
  FROM pts
  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
),
d AS (
  SELECT event_id, user_id, CAST(k AS BIGINT) AS n_window,
         k * sxy - sx * sy AS num,
         k * sxx - sx * sx AS denx
  FROM w
)
SELECT event_id, user_id, n_window,
       CASE WHEN denx <> 0 THEN {ratio_dec_sql("num", "denx", 6)} END
         AS slope_cents_per_sec
FROM d
"""


@register("q_win_rolling_slope", oracle=_ORACLE_ROLLING_SLOPE, tier="X")
def q_win_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling per-entity trend: the OLS slope of metric value over the
    user's trailing 8 events, emitted PER EVENT — the continuous
    "is this entity drifting right now" signal (q_stats_regression's
    closed form composed with window frames instead of a groupBy).
    Shape: ONE user_id shuffle (high-cardinality key); the five
    sufficient sums are bounded-frame window aggregates — O(1) state
    per row, each sum exact decimal(38,0) over integer fixed-point
    inputs — and the slope is the usual ratio_dec rational rounding,
    NULL where the frame has no x-variance (single event or identical
    timestamps: the CASE guards the zero denominator identically on
    both engines, and CASE short-circuits so the division never
    evaluates). At 100 TB this is the per-row scoring pass a feature
    pipeline materializes: no join, no second shuffle, state bounded by
    the frame, never by history."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
        & ~F.isnan("value") & (F.abs("value") < F.lit(float("inf")))
        & F.col("ts").isNotNull()
    )
    x = (F.unix_micros(F.col("ts")) / F.lit(1000000)).cast("long") - F.lit(
        1700000000
    )
    pts = ev.select(
        "event_id",
        "user_id",
        "ts",
        x.cast(DEC).alias("x"),
        F.floor(F.col("value") * 100).cast(DEC).alias("y"),
    )
    win = (
        W.partitionBy("user_id")
        .orderBy(F.asc_nulls_last("ts"), F.asc_nulls_last("event_id"))
        .rowsBetween(-7, W.currentRow)
    )
    w = pts.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(win).cast(DEC).alias("k"),
        F.sum("x").over(win).alias("sx"),
        F.sum("y").over(win).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(win).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(win).alias("sxx"),
    )
    d = w.select(
        "event_id",
        "user_id",
        F.col("k").cast("long").alias("n_window"),
        (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
        (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("denx"),
    )
    return d.select(
        "event_id",
        "user_id",
        "n_window",
        F.when(
            F.col("denx") != 0, ratio_dec(F.col("num"), F.col("denx"), 6)
        ).alias("slope_cents_per_sec"),
    )


# Higher central moments from exact integer power sums (floor-cents —
# the coarser 1e2 fixed point keeps n^3 * sum(y^4) inside decimal(38,0)
# to ~sf1, where ANSI raises loudly):
#   m2 = (n*Q2 - S^2)/n^2
#   m3 = (n^2*Q3 - 3n*S*Q2 + 2*S^3)/n^3
#   m4 = (n^3*Q4 - 4n^2*S*Q3 + 6n*S^2*Q2 - 3*S^4)/n^4
# each rationally rounded; skew = m3/(m2*sqrt(m2)) and excess kurtosis
# m4/m2^2 - 3 are then correctly-rounded IEEE chains on identical
# doubles. Groups whose rounded m2 is 0 (constant-to-the-cent values)
# are filtered on the ROUNDED value identically on both engines.
_ORACLE_MOMENTS = f"""
WITH pts AS (
  SELECT event_type, CAST(FLOOR(value * 100) AS BIGINT) AS y
  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL AND isfinite(value)
),
g AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(y) AS s,
         SUM(CAST(y AS HUGEINT) * y) AS q2,
         SUM(CAST(y AS HUGEINT) * y * y) AS q3,
         SUM(CAST(y AS HUGEINT) * y * y * y) AS q4
  FROM pts GROUP BY event_type
),
m AS (
  SELECT event_type, CAST(n AS BIGINT) AS n,
         {ratio_dec_sql("n * q2 - s * s", "n * n", 6)} AS m2,
         {ratio_dec_sql("n * n * q3 - 3 * n * s * q2 + 2 * s * s * s",
                  "n * n * n", 2)} AS m3,
         {ratio_dec_sql("n * n * n * q4 - 4 * n * n * s * q3"
                  " + 6 * n * s * s * q2 - 3 * s * s * s * s",
                  "n * n * n * n", 0)} AS m4
  FROM g WHERE n >= 2
)
SELECT event_type, n,
       m3 / (m2 * sqrt(m2)) AS skewness,
       m4 / (m2 * m2) - 3.0 AS kurtosis_excess
FROM m WHERE m2 > 0
"""


@register("q_stats_moments", oracle=_ORACLE_MOMENTS, tier="X")
def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group skewness and excess kurtosis — the distribution-shape
    profile (is the metric heavy-tailed? lopsided?) that decides
    between mean/stddev and median/MAD monitoring. Spark's native
    skewness()/kurtosis() accumulate doubles in partial-agg order
    (non-portable, like regr_*); here the ONE two-phase aggregate ships
    five exact decimal(38,0) power sums (n, Σy..Σy⁴ over floor-cents),
    the central moments come out of the standard raw-to-central
    expansion as rationally-rounded doubles (ratio_dec; see
    _ORACLE_MOMENTS for the digit choices and the ~sf1 ANSI-loud
    domain), and skew/kurtosis are correctly-rounded IEEE chains —
    bit-identical cross-engine, no output rounding. Zero-variance-to-
    the-cent groups are excluded on the rounded m2 identically both
    sides."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
        & ~F.isnan("value") & (F.abs("value") < F.lit(float("inf")))
    )
    y = F.floor(F.col("value") * 100).cast(DEC)
    g = ev.select("event_type", y.alias("y")).groupBy("event_type").agg(
        F.count(F.lit(1)).cast(DEC).alias("n"),
        F.sum("y").alias("s"),
        F.sum(F.col("y") * F.col("y")).alias("q2"),
        F.sum(F.col("y") * F.col("y") * F.col("y")).alias("q3"),
        F.sum(F.col("y") * F.col("y") * F.col("y") * F.col("y")).alias("q4"),
    ).filter(F.col("n") >= 2)
    n, s = F.col("n"), F.col("s")
    m2 = ratio_dec(n * F.col("q2") - s * s, n * n, 6)
    m3 = ratio_dec(
        n * n * F.col("q3") - F.lit(3).cast(DEC) * n * s * F.col("q2")
        + F.lit(2).cast(DEC) * s * s * s,
        n * n * n,
        2,
    )
    m4 = ratio_dec(
        n * n * n * F.col("q4")
        - F.lit(4).cast(DEC) * n * n * s * F.col("q3")
        + F.lit(6).cast(DEC) * n * s * s * F.col("q2")
        - F.lit(3).cast(DEC) * s * s * s * s,
        n * n * n * n,
        0,
    )
    m = g.select(
        "event_type",
        n.cast("long").alias("n"),
        m2.alias("m2"),
        m3.alias("m3"),
        m4.alias("m4"),
    ).filter(F.col("m2") > 0)
    return m.select(
        "event_type",
        "n",
        (F.col("m3") / (F.col("m2") * F.sqrt(F.col("m2")))).alias("skewness"),
        (F.col("m4") / (F.col("m2") * F.col("m2")) - F.lit(3.0)).alias(
            "kurtosis_excess"
        ),
    )


# Lead/lag structure between the click and purchase hourly series: same
# hourly-count machinery as q_stats_corr_matrix, but series B is shifted
# by 0-3 hours before the Pearson solve — "do purchases follow clicks,
# and at what delay?". Both series are densified onto the full hour
# spine (missing hour = 0 events, a real observation for correlation
# purposes) so the lag pairing is positional in calendar time, not in
# observed-row order.
_ORACLE_CROSSCORR = f"""
WITH h AS (
  SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*)::BIGINT AS c
  FROM events
  WHERE event_type IN ('click', 'purchase') AND ts IS NOT NULL
  GROUP BY event_type, hr
),
bounds AS (SELECT MIN(hr) AS mn, MAX(hr) AS mx FROM h),
spine AS (
  SELECT UNNEST(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hr FROM bounds
),
a AS (
  SELECT epoch_us(s.hr) AS us, COALESCE(h.c, 0) AS c FROM spine s
  LEFT JOIN (SELECT hr, c FROM h WHERE event_type = 'click') h
    ON h.hr = s.hr
),
b AS (
  SELECT epoch_us(s.hr) AS us, COALESCE(h.c, 0) AS c FROM spine s
  LEFT JOIN (SELECT hr, c FROM h WHERE event_type = 'purchase') h
    ON h.hr = s.hr
),
al AS (
  -- materialize the shifted key BEFORE the join: DuckDB will not derive
  -- a hash key from `b.us = a.us + l.lag * k` (mixed-relation LHS) and
  -- nested-loops 4x|spine| x |spine| instead -- a 130-year adversarial
  -- span turns that into ~1.8e12 comparisons and an 80 GB temp spill.
  -- As a plain column = column equality it hash-joins in O(n).
  SELECT l.lag, a.us + l.lag * 3600000000 AS us_shift, a.c AS x
  FROM (VALUES (0), (1), (2), (3)) AS l(lag)
  CROSS JOIN a
),
p AS (
  SELECT al.lag, al.x, b.c AS y
  FROM al JOIN b ON b.us = al.us_shift
),
s AS (
  SELECT lag, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM p GROUP BY lag
),
d AS (
  SELECT lag, n,
         n * sxy - sx * sy AS num,
         n * sxx - sx * sx AS denx,
         n * syy - sy * sy AS deny
  FROM s WHERE n * sxx - sx * sx <> 0 AND n * syy - sy * sy <> 0
)
SELECT CAST(lag AS BIGINT) AS lag_hours, CAST(n AS BIGINT) AS n_hours,
       {pearson_sql("num", "denx", "deny")}
         AS pearson_r
FROM d
"""


@register("q_ts_crosscorr", oracle=_ORACLE_CROSSCORR, tier="X")
def q_ts_crosscorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation of the click and purchase hourly series
    (lags 0-3h): does purchase volume track click volume, and at what
    delay? The funnel-latency diagnostic next to q_funnel's per-user
    view. Shape: the ONLY data-sized pass is the two-phase
    groupBy(type, hour) count (same as q_stats_corr_matrix — the count
    table is calendar-bounded and tiny at any event volume). Both
    series densify onto the full hour spine (missing hour = count 0 —
    a real zero observation, so lag pairing is positional in calendar
    time) built by exploding ONE sequence() from the 1-row min/max
    bounds frame; the 4-row lag dim crossJoins the spine (audited
    BNLJ) and series B joins on the exact epoch-microsecond shifted
    key — an equi-join, never a non-equi time comparison. Counts are
    exact integers -> exact decimal sufficient statistics -> the shared
    pearson rational-rounding pipeline: bit-identical cross-engine."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
        & F.col("ts").isNotNull()
    )
    # both spine bounds and the two series read this tiny count table;
    # checkpoint so AQE re-planning cannot re-count events per consumer
    h = (
        ev.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    bounds = h.agg(F.min("hr").alias("mn"), F.max("hr").alias("mx"))
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("mn"), F.col("mx"), F.expr("INTERVAL 1 HOUR"))
        ).alias("hr")
    )

    def dense(etype: str, val: str) -> DataFrame:
        side = h.filter(F.col("event_type") == etype).select("hr", "c")
        return spine.join(side, "hr", "left").select(
            F.unix_micros(F.col("hr")).alias(f"us_{val}"),
            F.coalesce(F.col("c"), F.lit(0)).cast(DEC).alias(val),
        )

    a = dense("click", "x")
    b = dense("purchase", "y")
    lags = spark.range(1).select(
        F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("lag")
    )
    p = lags.crossJoin(a).join(
        b,
        F.col("us_y")
        == F.col("us_x") + F.col("lag").cast("long") * F.lit(3600000000),
    )
    s = p.groupBy("lag").agg(
        F.count(F.lit(1)).cast(DEC).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    d = s.select(
        F.col("lag").cast("long").alias("lag_hours"),
        F.col("n").cast("long").alias("n_hours"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("denx"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).alias("deny"),
    ).filter((F.col("denx") != 0) & (F.col("deny") != 0))
    return d.select(
        "lag_hours",
        "n_hours",
        pearson(F.col("num"), F.col("denx"), F.col("deny")).alias(
            "pearson_r"
        ),
    )


# CUSUM changepoint: the k maximizing |n*P_k - k*T| is the hour where
# the cumulative count deviates most from the constant-rate line — the
# classic single-changepoint estimate. n*P_k - k*T = n^2 * (P_k/k·... )
# stays an exact integer (counts), so the argmax is an exact integer
# comparison on both engines; only the reported magnitude |T_k|/n is
# (rationally) rounded.
_ORACLE_CHANGEPOINT = f"""
WITH h AS (
  SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*)::BIGINT AS c
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
  GROUP BY event_type, hr
),
t AS (
  SELECT event_type, hr,
         SUM(CAST(c AS HUGEINT)) OVER (PARTITION BY event_type ORDER BY hr
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pk,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hr)
              AS HUGEINT) AS k,
         SUM(CAST(c AS HUGEINT)) OVER (PARTITION BY event_type) AS tot,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM h
),
d AS (
  SELECT event_type, hr, n, (n * pk - k * tot) AS tk
  FROM t
),
r AS (
  SELECT event_type, hr, n, tk, ABS(tk) AS a,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY ABS(tk) DESC, hr) AS rn
  FROM d
)
SELECT event_type, strftime(hr, '%Y-%m-%d %H:%M:%S') AS cp_hr,
       CAST(n AS BIGINT) AS n_hours,
       {ratio_dec_sql("a", "n", 6, signed=False)} AS cusum_max,
       CASE WHEN tk < 0 THEN -1 WHEN tk > 0 THEN 1 ELSE 0 END AS cusum_sign
FROM r WHERE rn = 1
"""


@register("q_ts_changepoint", oracle=_ORACLE_CHANGEPOINT, tier="X")
def q_ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-changepoint detection per event type (CUSUM argmax): the
    hour where the cumulative event count deviates most from the
    constant-rate line — "when did the error rate shift?". For hourly
    count c_k (k = 1..n ordered hours), the statistic is
    T_k = n*P_k - k*T (P_k prefix sum, T total): an EXACT integer, so
    the argmax is an exact comparison on both engines with an
    earliest-hour tie-break; only the reported magnitude |T_k|/n is
    rationally rounded (6 digits), and cusum_sign tells a rate DROP
    (-1, cumulative running below the line) from a rate RISE (+1).
    Shape: the cumulative windows (functions/ranks.py) and the argmax
    ride the (type, hour) count table, never raw rows. sign
    convention: T_k < 0 means the prefix mean runs below the overall
    mean up to k."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    )
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count(F.lit(1)).alias("c"))
    pk, tot = ranks.running(F.col("c").cast(DEC), ["event_type"], "hr")
    k = F.row_number().over(ranks.cumulative(["event_type"], "hr"))
    t = h.select(
        "event_type",
        "hr",
        pk.alias("pk"),
        k.cast(DEC).alias("k"),
        tot.alias("tot"),
        F.count(F.lit(1)).over(ranks.whole(["event_type"])).alias("n"),
    )
    d = t.select(
        "event_type",
        "hr",
        "n",
        (
            F.col("n").cast(DEC) * F.col("pk") - F.col("k") * F.col("tot")
        ).alias("tk"),
    )
    r = ranks.top(
        d.select("event_type", "hr", "n", "tk", F.abs(F.col("tk")).alias("a")),
        ["event_type"],
        [F.desc(F.abs(F.col("tk"))), F.asc("hr")],
    )
    return r.select(
        "event_type",
        F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("cp_hr"),
        F.col("n").cast("long").alias("n_hours"),
        ratio_dec(F.col("a"), F.col("n").cast(DEC), 6, signed=False).alias(
            "cusum_max"
        ),
        F.when(F.col("tk") < 0, -1)
        .when(F.col("tk") > 0, 1)
        .otherwise(0)
        .alias("cusum_sign"),
    )


# Bigram PMI collocations. PMI = log p(xy)/(p(x)p(y)); ranking by the
# RATIO c_xy*N/(c_x*c_y) is order-equivalent (log is monotone), so —
# the q_text_tfidf/q_text_bm25 trade — the log stays out and every
# output is a rationally-rounded exact-integer ratio: bit-identical
# cross-engine, no libm call whose last ulp differs by platform.
_ORACLE_TEXT_PMI = f"""
WITH toks AS (
  SELECT doc_id,
         UNNEST(string_split(lower(text), ' ')) AS w,
         generate_subscripts(string_split(lower(text), ' '), 1) AS pos
  FROM documents WHERE text IS NOT NULL
),
ft AS (SELECT doc_id, w, pos FROM toks WHERE w <> ''),
big AS (
  SELECT LAG(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1, w AS w2
  FROM ft
),
bc AS (
  SELECT w1, w2, COUNT(*)::HUGEINT AS cxy
  FROM big WHERE w1 IS NOT NULL
  GROUP BY w1, w2 HAVING COUNT(*) >= 5
),
uni AS (SELECT w, COUNT(*)::HUGEINT AS cw FROM ft GROUP BY w),
tot AS (SELECT SUM(cw)::HUGEINT AS nt FROM uni),
j AS (
  SELECT b.w1, b.w2, b.cxy, u1.cw AS cx, u2.cw AS cy, t.nt
  FROM bc b
  JOIN uni u1 ON u1.w = b.w1
  JOIN uni u2 ON u2.w = b.w2
  CROSS JOIN tot t
)
SELECT w1, w2, CAST(cxy AS BIGINT) AS n_pairs,
       {ratio_dec_sql("cxy * nt", "cx * cy", 9, signed=False)} AS pmi_ratio
FROM j
ORDER BY pmi_ratio DESC, w1, w2
LIMIT 20
"""


@register("q_text_pmi", oracle=_ORACLE_TEXT_PMI, tier="X")
def q_text_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigram collocations by pointwise mutual information —
    the phrase-mining pass a tokenizer-training pipeline runs to decide
    which adjacent-word pairs deserve a merged vocabulary entry
    (min support 5 pairs). Ranks by the exact-integer PMI ratio
    c_xy*N/(c_x*c_y) (log-free — order-equivalent to PMI, see
    _ORACLE_TEXT_PMI). Shape: ONE data-sized token explode feeds (a)
    the bigram pairing — a lag window partitioned by doc_id, a
    HIGH-cardinality key, adjacency never leaves the doc's partition —
    and (b) the unigram two-phase count; bigram counts (support-
    filtered, so the table shrinks before any join) then equi-join the
    unigram counts on w1 and w2 — at this SF AQE broadcasts the vocab
    side, at 100 TB they become plain shuffle joins on high-cardinality
    word keys; the 1-row corpus total crossJoins broadcast (audited
    BNLJ); the final cut is TakeOrderedAndProject on the deterministic
    (rounded ratio DESC, w1, w2) key — identical doubles both engines,
    so the top-20 cut cannot straddle differently."""
    docs = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), " ")).alias("pos", "w"),
    ).filter(F.col("w") != "")
    wlag = W.partitionBy("doc_id").orderBy("pos")
    big = toks.select(
        F.lag("w").over(wlag).alias("w1"), F.col("w").alias("w2")
    ).filter(F.col("w1").isNotNull())
    bc = (
        big.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast(DEC).alias("cxy"))
        .filter(F.col("cxy") >= 5)
    )
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).cast(DEC).alias("cw"))
    tot = uni.agg(F.sum("cw").cast(DEC).alias("nt"))
    j = (
        bc.join(
            uni.select(F.col("w").alias("w1"), F.col("cw").alias("cx")), "w1"
        )
        .join(
            uni.select(F.col("w").alias("w2"), F.col("cw").alias("cy")), "w2"
        )
        .crossJoin(F.broadcast(tot))
    )
    out = j.select(
        "w1",
        "w2",
        F.col("cxy").cast("long").alias("n_pairs"),
        ratio_dec(
            F.col("cxy") * F.col("nt"),
            F.col("cx") * F.col("cy"),
            9,
            signed=False,
        ).alias("pmi_ratio"),
    )
    return out.orderBy(F.desc("pmi_ratio"), "w1", "w2").limit(20)


# Hour-of-day seasonality profile: the diurnal shape of each event
# stream. All shares are integer-exact ppm (floor division of exact
# counts — `div` and `//` agree bit-for-bit), the peak flag is a
# deterministic argmax (count DESC, hour ASC), and the windows run over
# the aggregated (type x 24h) count table — the low-cardinality-window
# guard's admissible shape, never a raw-row sort.
_ORACLE_SEASONALITY = """
WITH c AS (
  SELECT event_type, CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hod,
         COUNT(*) AS cnt
  FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL
  GROUP BY event_type, hod
)
SELECT event_type, hod, CAST(cnt AS BIGINT) AS cnt,
       CAST(cnt * 1000000 // SUM(cnt) OVER (PARTITION BY event_type)
            AS BIGINT) AS share_ppm,
       CAST(CASE WHEN row_number() OVER (
              PARTITION BY event_type ORDER BY cnt DESC, hod ASC) = 1
            THEN 1 ELSE 0 END AS BIGINT) AS is_peak
FROM c
"""


@register("q_ts_seasonality", oracle=_ORACLE_SEASONALITY, tier="X")
def q_ts_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality per event type: count, share of the
    type's traffic (ppm), and a deterministic peak-hour flag — the
    diurnal profile that decides when a 100 TB pipeline schedules its
    heavy batch windows. Shape: the ONLY data-sized pass is the
    two-phase groupBy(type, hour(ts)).count() — the exchange carries at
    most |types| x 24 partial states regardless of event volume. Both
    windows (type total for the share, argmax rank for the peak) run
    over that aggregated table, which is the admissible input shape for
    a domain-key-partitioned window (tests/test_plans.py low-card
    guard). share_ppm is floor((cnt * 1e6) / total) in exact integer
    arithmetic on both engines; the peak tie (two hours with the same
    count) breaks to the earlier hour."""
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    )
    c = ev.groupBy(
        "event_type", F.hour("ts").cast("long").alias("hod")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    by_type = W.partitionBy("event_type")
    rnk = W.partitionBy("event_type").orderBy(F.desc("cnt"), F.asc("hod"))
    return c.select(
        "event_type",
        "hod",
        "cnt",
        F.expr(
            "(cnt * 1000000L) div sum(cnt) over (partition by event_type)"
        ).cast("long").alias("share_ppm"),
        F.when(F.row_number().over(rnk) == 1, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("is_peak"),
    )


# Day-over-day rate of change per event stream, over OBSERVED days (a
# gap is reported via gap_days, not imputed — q_ts_gapfill owns
# densification). Everything is exact integer arithmetic: counts,
# count deltas, calendar-day differences.
_ORACLE_RATE_OF_CHANGE = """
WITH d AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
  GROUP BY event_type, day
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day_s,
       CAST(cnt AS BIGINT) AS cnt,
       CAST(lag(cnt) OVER w AS BIGINT) AS prev_cnt,
       CAST(cnt - lag(cnt) OVER w AS BIGINT) AS delta,
       CAST(date_diff('day', lag(day) OVER w, day) AS BIGINT) AS gap_days
FROM d
WINDOW w AS (PARTITION BY event_type ORDER BY day)
"""


@register("q_ts_rate_of_change", oracle=_ORACLE_RATE_OF_CHANGE, tier="X")
def q_ts_rate_of_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day volume change per event type: daily count, previous
    observed day's count, absolute delta, and the calendar gap to that
    previous day — the trend/regression monitor a pipeline reads before
    blaming a code change for a count shift. Shape: the ONLY data-sized
    pass is the two-phase groupBy(type, day) count (exchange bounded by
    types x days in the span, not event volume); the lag window rides
    that AGGREGATED calendar-bounded table after one event_type
    exchange (the low-card-guard-admissible shape). First observed day
    per type has NULL prev/delta/gap on both engines. All outputs are
    exact integers or rendered dates — nothing to round."""
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    )
    d = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = W.partitionBy("event_type").orderBy("day")
    return d.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day_s"),
        "cnt",
        F.lag("cnt").over(w).alias("prev_cnt"),
        (F.col("cnt") - F.lag("cnt").over(w)).alias("delta"),
        F.datediff(F.col("day"), F.lag("day").over(w)).cast("long").alias(
            "gap_days"
        ),
    )


# First-order Markov transition matrix over per-user event sequences.
# Sequence order is pinned (ts, event_id) so duplicate timestamps — the
# adversarial fixture's favorite — order identically on both engines.
# Probabilities are exact-integer ppm via floor division.
_ORACLE_MARKOV = """
WITH s AS (
  SELECT user_id, event_type, ts, event_id
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
    AND event_type IS NOT NULL AND event_id IS NOT NULL
),
p AS (
  SELECT lag(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS from_type,
         event_type AS to_type
  FROM s
),
c AS (
  SELECT from_type, to_type, COUNT(*) AS n
  FROM p WHERE from_type IS NOT NULL
  GROUP BY from_type, to_type
)
SELECT from_type, to_type, CAST(n AS BIGINT) AS n_transitions,
       CAST(n * 1000000 // SUM(n) OVER (PARTITION BY from_type)
            AS BIGINT) AS p_ppm
FROM c
"""


@register("q_events_markov", oracle=_ORACLE_MARKOV, tier="X")
def q_events_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user event streams:
    P(next event type | current type) — the sequence model a funnel
    summarizes away, and the behavioral fingerprint that flags bot
    traffic (near-deterministic rows) in a training-data source audit.
    Shape: ONE user_id shuffle feeds the lag window (HIGH-cardinality
    key — raw-row windows are fine here, per the windows-tier rule),
    then the (from, to) pair count is an ordinary two-phase aggregate
    whose exchange carries at most |types|² states; the row-probability
    window rides that aggregated table. Sequence order pins ties by
    (ts, event_id) so duplicate timestamps order identically on both
    engines; probabilities are exact-integer ppm floor divisions —
    nothing to round."""
    from pyspark.sql import Window as W

    s = load(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("event_id").isNotNull()
    )
    seq = W.partitionBy("user_id").orderBy("ts", "event_id")
    p = s.select(
        F.lag("event_type").over(seq).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).filter(F.col("from_type").isNotNull())
    c = p.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    return c.select(
        "from_type",
        "to_type",
        F.col("n").cast("long").alias("n_transitions"),
        F.expr(
            "(n * 1000000L) div sum(n) over (partition by from_type)"
        ).cast("long").alias("p_ppm"),
    )


# Exact two-sample Kolmogorov-Smirnov per hour-of-day: D is the max
# ECDF gap between the click and purchase value distributions. The
# whole statistic lives in exact integer arithmetic until one rational
# rounding: D's numerator |cum1*n2 - cum2*n1| and denominator n1*n2
# are exact decimal products of counts, and the argmax is an exact
# comparison (ties break to the smallest value).
_ORACLE_KS = f"""
WITH e AS (
  SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hod, event_type,
         value + 0.0 AS v
  FROM events
  WHERE event_type IN ('click', 'purchase')
    AND value IS NOT NULL AND ts IS NOT NULL
),
c AS (
  SELECT hod, v,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c2
  FROM e GROUP BY hod, v
),
w AS (
  SELECT hod, v,
         SUM(c1) OVER (PARTITION BY hod ORDER BY v) AS cum1,
         SUM(c2) OVER (PARTITION BY hod ORDER BY v) AS cum2,
         SUM(c1) OVER (PARTITION BY hod) AS n1,
         SUM(c2) OVER (PARTITION BY hod) AS n2
  FROM c
),
d AS (
  SELECT hod, v, n1, n2,
         ABS(CAST(cum1 AS HUGEINT) * n2 - CAST(cum2 AS HUGEINT) * n1)
           AS dnum
  FROM w WHERE n1 > 0 AND n2 > 0
),
best AS (
  SELECT hod, v, n1, n2, dnum,
         row_number() OVER (PARTITION BY hod
                            ORDER BY dnum DESC, v ASC) AS rk
  FROM d
)
SELECT hod, CAST(n1 AS BIGINT) AS n_click, CAST(n2 AS BIGINT) AS n_purchase,
       {ratio_dec_sql("dnum", "CAST(n1 AS HUGEINT) * n2", 9, signed=False)}
         AS d_stat,
       v + 0.0 AS d_at_value
FROM best WHERE rk = 1
"""


@register("q_stats_ks", oracle=_ORACLE_KS, tier="X")
def q_stats_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov statistic per hour-of-day:
    does the click value distribution drift from the purchase value
    distribution, and when? (The distribution-shift alarm for a
    training-data source; chi2 compares categories, KS compares
    continuous shapes.) Shape: the two ECDFs are functions/ranks.py
    running sums over the (hod, value) conditional count table. D's
    numerator |cum1*n2 - cum2*n1| stays an exact decimal integer, so
    the argmax is an exact comparison (value ties break low via
    MAX(struct(dnum, -v))), and ONE rational rounding (ratio_dec, 9
    digits) produces the bit-identical double. Hours with either sample
    empty are omitted (D is undefined), identically on both engines."""
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
        & F.col("value").isNotNull()
        & F.col("ts").isNotNull()
    ).select(
        F.hour("ts").cast("long").alias("hod"),
        "event_type",
        (F.col("value") + F.lit(0.0)).alias("v"),
    )
    c = e.groupBy("hod", "v").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast(DEC)
        .alias("c1"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast(DEC)
        .alias("c2"),
    )
    cum1, n1 = ranks.running("c1", ["hod"], "v")
    cum2, n2 = ranks.running("c2", ["hod"], "v")
    w = c.select(
        "hod",
        "v",
        cum1.alias("cum1"),
        cum2.alias("cum2"),
        n1.alias("n1"),
        n2.alias("n2"),
    )
    d = w.filter((F.col("n1") > 0) & (F.col("n2") > 0)).select(
        "hod",
        "n1",
        "n2",
        F.abs(
            F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1")
        ).alias("dnum"),
        (-F.col("v")).alias("negv"),
    )
    best = d.groupBy("hod").agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.max(F.struct(F.col("dnum"), F.col("negv"))).alias("m"),
    )
    return best.select(
        "hod",
        F.col("n1").cast("long").alias("n_click"),
        F.col("n2").cast("long").alias("n_purchase"),
        ratio_dec(
            F.col("m.dnum"), F.col("n1") * F.col("n2"), 9, signed=False
        ).alias("d_stat"),
        (-F.col("m.negv") + F.lit(0.0)).alias("d_at_value"),
    )


# Exact Gini coefficient from the (group, value) count table: for a
# value v with count c at inclusive cumulative rank cum, its occupants
# hold ranks (cum-c+1 .. cum), so 2*sum(i*x) over the run is
# v*c*(2*cum - c + 1) — every term an exact integer in cents.
# G = (2*sum(i*x) - (n+1)*sum(x)) / (n*sum(x)), one rational rounding.
_ORACLE_GINI = f"""
WITH cts AS (
  SELECT o_orderpriority AS prio,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
  WHERE o_orderpriority IS NOT NULL
    AND o_totalprice IS NOT NULL
    AND o_totalprice > 0 AND o_totalprice < 9.0e16
),
c AS (
  SELECT prio, cents, COUNT(*) AS cnt FROM cts GROUP BY prio, cents
),
w AS (
  SELECT prio, cents, cnt,
         SUM(cnt) OVER (PARTITION BY prio ORDER BY cents) AS cum,
         SUM(cnt) OVER (PARTITION BY prio) AS n,
         SUM(CAST(cents AS HUGEINT) * cnt) OVER (PARTITION BY prio) AS sx
  FROM c
),
t AS (
  SELECT prio, MAX(n) AS n, MAX(sx) AS sx,
         SUM(CAST(cents AS HUGEINT) * cnt * (2 * cum - cnt + 1)) AS tsum
  FROM w GROUP BY prio
)
SELECT prio, CAST(n AS BIGINT) AS n,
       {ratio_dec_sql("(tsum - (n + 1) * sx)", "CAST(n AS HUGEINT) * sx", 9, signed=False)}
         AS gini
FROM t WHERE sx > 0
"""


@register("q_agg_gini", oracle=_ORACLE_GINI, tier="X")
def q_agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Gini coefficient of order totals per priority class — the
    spend-concentration measure (0 = all orders equal, ->1 = one order
    dominates) that tells a sampling strategy whether value-weighted
    selection will collapse onto a few records. Shape: money enters the
    integer domain as cents (round(x*100) — see q_dq_benford), and
    ranks are a functions/ranks.py running count over the (prio,
    cents) count table: a value run occupying ranks (cum-c+1..cum)
    contributes v*c*(2*cum-c+1) to 2*sum(rank*x) as ONE exact decimal
    term — no per-row rank explosion, value cardinality bounds
    everything.
    G = (2*sum(i*x) - (n+1)*sum(x)) / (n*sum(x)) with a single
    rational rounding; numerator is provably >= 0 (Chebyshev sum
    inequality), so the unsigned form cannot hide a sign."""
    cts = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isNotNull()
        & F.col("o_totalprice").isNotNull()
        & (F.col("o_totalprice") > 0)
        # domain bound: cents must fit int64 — past it Spark's ANSI
        # cast and DuckDB's CAST both hard-error; the bound degrades
        # the absurd row instead of killing the job, identically
        & (F.col("o_totalprice") < 9.0e16)
    ).select(
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    c = cts.groupBy("prio", "cents").agg(F.count(F.lit(1)).alias("cnt"))
    cum, n = ranks.running("cnt", ["prio"], "cents")
    sx = F.sum(F.col("cents").cast(DEC) * F.col("cnt"))
    w = c.select(
        "prio",
        F.col("cents").cast(DEC).alias("cents_d"),
        F.col("cnt").cast(DEC).alias("cnt_d"),
        cum.cast(DEC).alias("cum"),
        n.cast(DEC).alias("n"),
        sx.over(ranks.whole(["prio"])).alias("sx"),
    )
    term = F.col("cents_d") * F.col("cnt_d") * (
        F.lit(2).cast(DEC) * F.col("cum") - F.col("cnt_d") + F.lit(1)
    )
    # sx = 0 (every total in the group rounds to 0 cents — legal under
    # the > 0 filter) makes den = 0, and ratio_dec requires den > 0: drop
    # the degenerate group on both engines (oracle: WHERE sx > 0)
    t = w.groupBy("prio").agg(
        F.max("n").alias("n"),
        F.max("sx").alias("sx"),
        F.sum(term).alias("tsum"),
    ).filter(F.col("sx") > 0)
    num = F.col("tsum") - (F.col("n") + F.lit(1)) * F.col("sx")
    den = F.col("n") * F.col("sx")
    return t.select(
        "prio",
        F.col("n").cast("long").alias("n"),
        ratio_dec(num, den, 9, signed=False).alias("gini"),
    )


# Peak 60-minute rolling count per event type — burst detection. The
# rolling sum is a RANGE frame over integer epoch-minutes of the
# aggregated per-minute count table, so sparse minutes cost nothing and
# the frame is calendar-correct across gaps (a ROWS frame would be
# wrong on sparse series). Everything is exact integers; the peak
# minute reconstructs from the epoch-minute key.
_ORACLE_TS_BURST = """
WITH m AS (
  SELECT event_type, date_trunc('minute', ts) AS mn, COUNT(*) AS cnt
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
  GROUP BY event_type, mn
),
r AS (
  SELECT event_type, epoch_us(mn) // 60000000 AS em, cnt FROM m
),
w AS (
  SELECT event_type, em,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY em
                        RANGE BETWEEN 59 PRECEDING AND CURRENT ROW)
           AS roll,
         COUNT(*) OVER (PARTITION BY event_type) AS n_minutes
  FROM r
),
best AS (
  SELECT event_type, em, roll, n_minutes,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY roll DESC, em ASC) AS rk
  FROM w
)
SELECT event_type, CAST(n_minutes AS BIGINT) AS n_active_minutes,
       CAST(roll AS BIGINT) AS peak_count,
       strftime(make_timestamp(em * 60000000), '%Y-%m-%d %H:%M:%S')
         AS peak_minute
FROM best WHERE rk = 1
"""


@register("q_ts_burst", oracle=_ORACLE_TS_BURST, tier="X")
def q_ts_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection: the peak 60-minute rolling event count per type
    and the minute it ends — the rate-limit/abuse signal and the
    capacity number a 100 TB ingest is provisioned against. Shape: the
    only data-sized pass is the two-phase (type, minute) count (the
    exchange ships calendar-bounded partials); the rolling sum is a
    RANGE frame over integer epoch-minutes of that AGGREGATED table —
    range frames stay calendar-correct across sparse gaps where a ROWS
    frame silently widens, and observed-minute cardinality (not event
    volume) bounds the window input (the low-card-guard-admissible
    shape). Peak pick = MAX(struct(roll, -em)): exact integers, ties
    break to the earliest minute; the minute renders from the epoch
    key, so no timestamp rides the aggregate."""
    from pyspark.sql import Window as W

    m = load(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    ).groupBy(
        "event_type", F.date_trunc("minute", F.col("ts")).alias("mn")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    r = m.select(
        "event_type",
        F.expr("unix_micros(mn) div 60000000").alias("em"),
        "cnt",
    )
    by_type = W.partitionBy("event_type")
    w_roll = by_type.orderBy("em").rangeBetween(-59, 0)
    w = r.select(
        "event_type",
        "em",
        F.sum("cnt").over(w_roll).alias("roll"),
        F.count(F.lit(1)).over(by_type).alias("n_minutes"),
    )
    best = w.groupBy("event_type").agg(
        F.max("n_minutes").alias("n_active_minutes"),
        F.max(F.struct(F.col("roll"), (-F.col("em")).alias("nem"))).alias(
            "m"
        ),
    )
    return best.select(
        "event_type",
        F.col("n_active_minutes").cast("long"),
        F.col("m.roll").cast("long").alias("peak_count"),
        F.date_format(
            F.timestamp_micros(-F.col("m.nem") * F.lit(60000000)),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("peak_minute"),
    )


# Mann-Whitney rank-sum per weekday: location-shift companion of
# q_stats_ks (KS sees shape, MWU sees median shift). Midranks for a
# tied value run occupying positions (cumprev+1 .. cumprev+c) average
# to cumprev + (c+1)/2, so DOUBLED rank sums stay exact integers:
# 2*R1 = sum c1*(2*cumprev + c + 1). The common-language effect size
# P(click > purchase) + 0.5*P(tie) = U1/(n1*n2) then needs ONE
# rational rounding. Weekday key: Spark weekday(ts) == DuckDB
# isodow(ts)-1 (0 = Monday) — Spark's dayofweek() and DuckDB's dow()
# disagree on Sunday's index, so neither is used.
_ORACLE_MANNWHITNEY = f"""
WITH e AS (
  SELECT CAST(isodow(ts) - 1 AS BIGINT) AS dow, event_type,
         value + 0.0 AS v
  FROM events
  WHERE event_type IN ('click', 'purchase')
    AND value IS NOT NULL AND ts IS NOT NULL
),
c AS (
  SELECT dow, v,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c2
  FROM e GROUP BY dow, v
),
w AS (
  SELECT dow, v, c1, c2,
         SUM(c1 + c2) OVER (PARTITION BY dow ORDER BY v)
           - (c1 + c2) AS cumprev,
         SUM(c1) OVER (PARTITION BY dow) AS n1,
         SUM(c2) OVER (PARTITION BY dow) AS n2
  FROM c
),
s AS (
  SELECT dow, n1, n2,
         SUM(CAST(c1 AS HUGEINT)
             * (2 * cumprev + (c1 + c2) + 1)) AS r1x2
  FROM w WHERE n1 > 0 AND n2 > 0
  GROUP BY dow, n1, n2
)
SELECT dow, CAST(n1 AS BIGINT) AS n_click, CAST(n2 AS BIGINT) AS n_purchase,
       {{cles}} AS cles
FROM s
"""


def _mwu_oracle() -> str:
    return _ORACLE_MANNWHITNEY.format(
        cles=ratio_dec_sql(
            "(r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1))",
            "2 * CAST(n1 AS HUGEINT) * n2",
            9,
            signed=False,
        )
    )


@register("q_stats_mannwhitney", oracle=_mwu_oracle(), tier="X")
def q_stats_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U per weekday as the common-language effect size
    P(click value > purchase value) + 0.5 P(tie) — the location-shift
    alarm beside q_stats_ks's shape alarm (a medians-apart drift that
    KS smears, MWU pins). Shape: as KS, a functions/ranks.py running
    count over the (dow, value) conditional count table. Tied values
    fold as whole runs: doubled midrank sums
    2*R1 = sum c1*(2*cumprev + run + 1) stay exact integers, so
    U1/(n1*n2) is ONE rational rounding. Weekday = Spark weekday(ts)
    == DuckDB isodow(ts)-1 (0 = Monday); Spark dayofweek() and DuckDB
    dow() index Sunday differently and are both avoided. Weekdays
    missing either sample are omitted identically."""
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
        & F.col("value").isNotNull()
        & F.col("ts").isNotNull()
    ).select(
        F.weekday("ts").cast("long").alias("dow"),
        "event_type",
        (F.col("value") + F.lit(0.0)).alias("v"),
    )
    c = e.groupBy("dow", "v").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast(DEC)
        .alias("c1"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast(DEC)
        .alias("c2"),
    )
    run = F.col("c1") + F.col("c2")
    cum_run = ranks.running(run, ["dow"], "v")[0]
    by_dow = ranks.whole(["dow"])
    w = c.select(
        "dow",
        "c1",
        "c2",
        (cum_run - run).alias("cumprev"),
        F.sum("c1").over(by_dow).alias("n1"),
        F.sum("c2").over(by_dow).alias("n2"),
    )
    s = (
        w.filter((F.col("n1") > 0) & (F.col("n2") > 0))
        .groupBy("dow", "n1", "n2")
        .agg(
            F.sum(
                F.col("c1")
                * (
                    F.lit(2).cast(DEC) * F.col("cumprev")
                    + (F.col("c1") + F.col("c2"))
                    + F.lit(1)
                )
            ).alias("r1x2")
        )
    )
    return s.select(
        "dow",
        F.col("n1").cast("long").alias("n_click"),
        F.col("n2").cast("long").alias("n_purchase"),
        ratio_dec(
            F.col("r1x2") - F.col("n1") * (F.col("n1") + F.lit(1)),
            F.lit(2).cast(DEC) * F.col("n1") * F.col("n2"),
            9,
            signed=False,
        ).alias("cles"),
    )


# Spearman rank correlation of the click vs purchase hourly series:
# Pearson on midranks. Doubled midranks stay exact integers —
# midrank2 = 2*min_rank + tie_count - 1 (a tie run at positions
# p..p+c-1 averages p + (c-1)/2) — so the whole statistic is exact
# integer sufficient statistics into the shared pearson rational
# rounding. Pearson (q_stats_corr_matrix) sees linear co-movement;
# Spearman sees any monotone relation and shrugs at outlier hours.
_ORACLE_SPEARMAN = f"""
WITH h AS (
  SELECT date_trunc('hour', ts) AS hr,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
  FROM events
  WHERE event_type IN ('click', 'purchase') AND ts IS NOT NULL
  GROUP BY hr
),
r AS (
  SELECT CAST(2 * rank() OVER (ORDER BY x)
              + COUNT(*) OVER (PARTITION BY x) - 1 AS HUGEINT) AS rx,
         CAST(2 * rank() OVER (ORDER BY y)
              + COUNT(*) OVER (PARTITION BY y) - 1 AS HUGEINT) AS ry
  FROM h
),
s AS (
  SELECT COUNT(*) AS n, SUM(rx) AS sx, SUM(ry) AS sy,
         SUM(rx * ry) AS sxy, SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy
  FROM r
),
d AS (
  SELECT n,
         n * sxy - sx * sy AS num,
         n * sxx - sx * sx AS denx,
         n * syy - sy * sy AS deny
  FROM s
  WHERE n * sxx - sx * sx <> 0 AND n * syy - sy * sy <> 0
)
SELECT CAST(n AS BIGINT) AS n_hours,
       {pearson_sql("num", "denx", "deny")}
         AS spearman_rho
FROM d
"""


@register("q_stats_spearman", oracle=_ORACLE_SPEARMAN, tier="X")
def q_stats_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of the click vs purchase hourly
    volumes — the monotone-association companion of
    q_stats_corr_matrix's Pearson (a few viral hours dominate a
    Pearson; ranks shrug them off). Shape: the only data-sized pass is
    the two-phase hourly conditional count (calendar-bounded exchange);
    the rank windows ride that AGGREGATED hours table (global order
    over observed hours — admissible because the input is aggregated,
    span-bounded, and tiny at any event volume). Ties fold exactly:
    doubled midranks 2*min_rank + ties - 1 are exact integers, so the
    sufficient statistics are exact decimals into the shared
    pearson rational-rounding pipeline — bit-identical
    cross-engine, no libm beyond one sqrt of identical doubles."""
    from pyspark.sql import Window as W

    h = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
        & F.col("ts").isNotNull()
    ).groupBy(F.date_trunc("hour", F.col("ts")).alias("hr")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .alias("y"),
    )

    def midrank2(col: str):
        return (
            F.lit(2) * F.rank().over(W.orderBy(col))
            + F.count(F.lit(1)).over(W.partitionBy(col))
            - F.lit(1)
        ).cast(DEC)

    r = h.select(
        midrank2("x").alias("rx"),
        midrank2("y").alias("ry"),
    )
    s = r.agg(
        F.count(F.lit(1)).cast(DEC).alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
    )
    d = s.select(
        F.col("n").cast("long").alias("n_hours"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias(
            "denx"
        ),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).alias(
            "deny"
        ),
    ).filter((F.col("denx") != 0) & (F.col("deny") != 0))
    return d.select(
        "n_hours",
        pearson(F.col("num"), F.col("denx"), F.col("deny")).alias(
            "spearman_rho"
        ),
    )


# Market-basket co-occurrence of event types within user sessions:
# support and lift per unordered type pair. Sessions are
# q_win_sessionize's gap rule; a session's "basket" is its distinct
# type set (bounded by |types|, so per-session state is tiny). Lift
# = P(ab)/(P(a)P(b)) = n_ab*N / (n_a*n_b) stays an exact integer ratio
# into one rational rounding. The engine generates pairs JOIN-FREE with
# a sorted-array HOF (each basket emits its own C(k,2) pairs map-side);
# the oracle self-joins the exploded baskets — the clearest SQL spec.
_ORACLE_COOCCURRENCE = f"""
WITH flagged AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > {{gap}}
              OR (epoch_us(ts) - lag(epoch_us(ts)) OVER w) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
    AND event_type IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, event_type,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_idx
  FROM flagged
),
ex AS (
  SELECT DISTINCT user_id, session_idx, event_type AS t FROM sess
),
n AS (SELECT CAST(COUNT(DISTINCT (user_id, session_idx)) AS HUGEINT)
        AS n_sessions FROM ex),
ta AS (SELECT t, CAST(COUNT(*) AS HUGEINT) AS n_t FROM ex GROUP BY t),
pr AS (
  SELECT e1.t AS type_a, e2.t AS type_b, CAST(COUNT(*) AS HUGEINT) AS n_ab
  FROM ex e1 JOIN ex e2 USING (user_id, session_idx)
  WHERE e1.t < e2.t
  GROUP BY e1.t, e2.t
)
SELECT pr.type_a, pr.type_b, CAST(pr.n_ab AS BIGINT) AS n_sessions_both,
       CAST(pr.n_ab * 1000000 // n.n_sessions AS BIGINT) AS support_ppm,
       {{lift}} AS lift
FROM pr
JOIN ta a ON a.t = pr.type_a
JOIN ta b ON b.t = pr.type_b
CROSS JOIN n
"""


def _cooccurrence_oracle() -> str:
    from database_cloner_spark.queries.windows import SESSION_GAP_US

    return _ORACLE_COOCCURRENCE.format(
        gap=SESSION_GAP_US,
        lift=ratio_dec_sql(
            "(pr.n_ab * n.n_sessions)", "(a.n_t * b.n_t)", 6, signed=False
        ),
    )


@register("q_events_cooccurrence", oracle=_cooccurrence_oracle(), tier="X")
def q_events_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-level co-occurrence (market-basket) of event types:
    which behaviors happen TOGETHER in one sitting, measured as support
    (share of sessions containing both, ppm) and lift
    (P(ab)/(P(a)P(b))) — the association signal behind "users who do X
    in a session also do Y". Shape: sessionization is ONE user_id
    shuffle (windows.session_index); each session reduces to its
    DISTINCT type set (state bounded by |types|, never events); pair
    generation is JOIN-FREE — a sorted-set HOF emits each basket's
    C(k,2) pairs map-side (k <= |types|, so fan-out is bounded by the
    domain, not the data; the oracle self-joins exploded baskets as the
    readable spec); pair counts two-phase into a <= |types|^2 exchange.
    Type totals and the session count broadcast back (audited BNLJ for
    the 1-row N). Lift = n_ab*N/(n_a*n_b) is exact integers into
    ratio_dec; support is exact floor-ppm."""
    from database_cloner_spark.queries.windows import session_index

    ev = load(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
    )
    sess = ev.select(
        "user_id", "event_type", session_index().alias("session_idx")
    )
    baskets = sess.groupBy("user_id", "session_idx").agg(
        F.sort_array(F.collect_set("event_type")).alias("types")
    ).localCheckpoint(eager=False)
    n = baskets.agg(F.count(F.lit(1)).cast(DEC).alias("n_sessions"))
    # checkpointed: ta joins BOTH pair sides — without it each side
    # re-runs the explode+agg over the basket table
    ta = baskets.select(F.explode("types").alias("t")).groupBy("t").agg(
        F.count(F.lit(1)).cast(DEC).alias("n_t")
    ).localCheckpoint(eager=False)
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(types, (x, i) -> "
                "transform(slice(types, i + 2, size(types) - i - 1), "
                "y -> struct(x AS type_a, y AS type_b))))"
            )
        ).alias("p")
    ).select("p.type_a", "p.type_b")
    pr = pairs.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).cast(DEC).alias("n_ab")
    )
    joined = (
        pr.join(
            F.broadcast(ta.select(F.col("t").alias("type_a"),
                                  F.col("n_t").alias("n_a"))),
            "type_a",
        )
        .join(
            F.broadcast(ta.select(F.col("t").alias("type_b"),
                                  F.col("n_t").alias("n_b"))),
            "type_b",
        )
        .crossJoin(F.broadcast(n))
    )
    return joined.select(
        "type_a",
        "type_b",
        F.col("n_ab").cast("long").alias("n_sessions_both"),
        F.expr(
            "cast((cast(n_ab AS decimal(38,0)) * 1000000) div n_sessions"
            " AS long)"
        ).alias("support_ppm"),
        ratio_dec(
            F.col("n_ab") * F.col("n_sessions"),
            F.col("n_a") * F.col("n_b"),
            6,
            signed=False,
        ).alias("lift"),
    )


# Holt's linear (level + trend) smoothing with dyadic alpha = beta =
# 1/2, folded over each user's (ts, event_id)-ordered value stream:
#   l_t = (l_{t-1} + b_{t-1} + x_t) / 2        l_0 = x_0
#   b_t = (b_{t-1} + (l_t - l_{t-1})) / 2      b_0 = 0
# Every step is +, -, /2 — correctly-rounded IEEE ops evaluated in the
# SAME sequential order by both engines, so level/trend/forecast are
# bit-identical cross-engine with zero output rounding (the q_ts_ewma
# discipline extended to a 2-component recurrence state). The oracle is
# a RECURSIVE CTE, not list_reduce: DuckDB v1.0's list_reduce mutates a
# struct accumulator FIELD-BY-FIELD in pack order, so a later field's
# expression reads the EARLIER field's already-updated value (measured:
# b came out 0.6875 where the recurrence gives 1.125) — engine-private
# sequencing this oracle must not depend on. The recursive join key is
# projected as next_rn INSIDE the CTE (SCALE.md pitfall 10: DuckDB
# derives no hash key from a mixed-relation r.rn + 1 equality).
_ORACLE_TS_HOLT = """
WITH RECURSIVE pts AS (
  SELECT user_id, CAST(value AS DOUBLE) AS x,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM events
  WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
    AND event_id IS NOT NULL
),
rec AS (
  SELECT user_id, rn, rn + 1 AS next_rn, n,
         x AS l, CAST(0.0 AS DOUBLE) AS b
  FROM pts WHERE rn = 1
  UNION ALL
  SELECT p.user_id, p.rn, p.rn + 1 AS next_rn, p.n,
         (r.l + r.b + p.x) / 2.0 AS l,
         (r.b + ((r.l + r.b + p.x) / 2.0 - r.l)) / 2.0 AS b
  FROM rec r JOIN pts p ON p.user_id = r.user_id AND p.rn = r.next_rn
)
SELECT user_id, CAST(n AS BIGINT) AS n_events,
       l AS level, b AS trend, l + b AS forecast_1
FROM rec WHERE rn = n
"""


@register("q_ts_holt", oracle=_ORACLE_TS_HOLT, tier="X")
def q_ts_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Holt linear smoothing (level + trend, alpha = beta =
    1/2) of the metric stream, with the one-step-ahead forecast
    level + trend — the trend-aware upgrade of q_ts_ewma's flat
    smoothing ("where is this metric heading", not just "where is it").
    A coupled two-component recurrence is exactly what windows cannot
    express without O(n^2) frames; Spark-first answer: ONE user_id
    shuffle collects each user's (ts, event_id, value) structs,
    sort_array orders them in-partition, and a JVM `aggregate` HOF
    folds a named_struct(level, trend) accumulator sequentially — no
    Python, per-user state bounded by that user's history (the
    q_ts_ewma state argument). Dyadic 1/2 coefficients keep every step
    an exact-scaling IEEE op, and the DuckDB oracle replays the fold in
    the same order (a recursive CTE — see _ORACLE_TS_HOLT's note on why
    list_reduce's in-place struct mutation is unusable), so the doubles
    are bit-identical cross-engine — no libm, no output rounding. At 100 TB
    swap the fold for applyInPandasWithState only if one user's history
    outgrows a task. event_id is the ts tiebreaker inside the sorted
    struct, and Spark's struct sort puts a NULL event_id FIRST while
    the oracle's ROW_NUMBER ORDER BY puts it LAST — so NULL event_ids
    are filtered on BOTH sides (the q_win_running_distinct posture) to
    keep the fold order, hence the level/trend doubles, bit-identical."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_id").isNotNull()
    )
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sort_array(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("evs"),
    )
    vs = F.expr("transform(evs, e -> CAST(e.value AS DOUBLE))")
    st = F.expr(
        "aggregate(slice(__vs, 2, size(__vs) - 1), "
        "named_struct('l', __vs[0], 'b', CAST(0.0 AS DOUBLE)), "
        "(acc, x) -> named_struct("
        "'l', (acc.l + acc.b + x) / 2.0D, "
        "'b', (acc.b + ((acc.l + acc.b + x) / 2.0D - acc.l)) / 2.0D))"
    )
    return (
        per_user.select("user_id", "n_events", vs.alias("__vs"))
        .select("user_id", "n_events", st.alias("__st"))
        .select(
            "user_id",
            "n_events",
            F.col("__st.l").alias("level"),
            F.col("__st.b").alias("trend"),
            (F.col("__st.l") + F.col("__st.b")).alias("forecast_1"),
        )
    )


# Last-touch marketing attribution: each purchase is attributed to the
# user's latest click at-or-before it iff that click happened within
# the attribution window (1 hour), else counted organic. The carry is
# the q_join_asof union-form (one user_id shuffle, running max of click
# time — never a per-key range join); time math is exact epoch micros;
# only the final per-bucket revenue sum touches doubles, rounded at the
# 2-decimal edge like every revenue key.
_ATTR_WINDOW_US = 3_600_000_000  # 1 hour

_ORACLE_ATTRIBUTION = f"""
WITH ev AS (
  SELECT user_id, event_type, value,
         epoch_us(ts) AS us, event_id
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
    AND event_type IN ('click', 'purchase')
),
carried AS (
  SELECT user_id, event_type, value, us,
         MAX(CASE WHEN event_type = 'click' THEN us END)
           OVER (PARTITION BY user_id ORDER BY us, event_id NULLS LAST
                 ROWS UNBOUNDED PRECEDING) AS last_click_us
  FROM ev
)
SELECT CASE WHEN last_click_us IS NOT NULL
             AND us - last_click_us <= {_ATTR_WINDOW_US}
            THEN 'attributed' ELSE 'organic' END AS attribution,
       COUNT(*)::BIGINT AS n_purchases,
       ROUND(SUM(COALESCE(value, 0.0)), 2) AS total_value
FROM carried
WHERE event_type = 'purchase'
GROUP BY 1
"""


@register("q_events_attribution", oracle=_ORACLE_ATTRIBUTION, tier="X")
def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution split: purchases whose user clicked
    within the last hour are 'attributed', the rest 'organic' — with
    per-bucket purchase counts and revenue. The composite a marketing
    pipeline runs hourly, built on the q_join_asof union-carry shape:
    clicks and purchases interleave in ONE scan, ONE user_id shuffle
    orders them by (ts, event_id) with event_id pinned asc_nulls_last
    on both engines (Spark defaults NULLS FIRST, DuckDB LAST — the
    q_win_dist divergence class), and a running MAX carries the latest
    click's epoch-micros forward — no join, no per-key range probe, no
    second exchange until the 2-row bucket fold. The window delta is
    exact integer micros; doubles appear only in the final revenue SUM,
    rounded at 2 decimals on identical operands (the q_join_multiway
    revenue discipline)."""
    ev = (
        load(spark, sf_dir, "events")
        .filter(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("event_type").isin("click", "purchase")
        )
        .select(
            "user_id",
            "event_type",
            "value",
            F.unix_micros("ts").alias("us"),
            "event_id",
        )
    )
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("us").asc(), F.col("event_id").asc_nulls_last())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = ev.select(
        "event_type",
        "value",
        "us",
        F.max(
            F.when(F.col("event_type") == "click", F.col("us"))
        ).over(w).alias("last_click_us"),
    )
    purchases = carried.filter(F.col("event_type") == "purchase")
    attribution = F.when(
        F.col("last_click_us").isNotNull()
        & (F.col("us") - F.col("last_click_us") <= F.lit(_ATTR_WINDOW_US)),
        F.lit("attributed"),
    ).otherwise(F.lit("organic"))
    return (
        purchases.select(attribution.alias("attribution"), "value")
        .groupBy("attribution")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 2).alias(
                "total_value"
            ),
        )
    )


# RFM segmentation: per user, recency (exact whole days from the
# corpus' newest purchase), frequency (purchase count), monetary
# (revenue, rounded once at the edge); each dimension scored into
# quintiles by a GLOBAL ntile over the USER-level table (already
# aggregated — user-cardinality rows, never raw events), then the
# classic segment census. Total orders everywhere (ties broken by
# user_id) or the two engines could bucket tied users differently.
_ORACLE_RFM = """
WITH p AS (
  SELECT user_id, epoch_us(ts) AS us, COALESCE(value, 0.0) AS v
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
    AND event_type = 'purchase'
),
mx AS (SELECT MAX(us) AS gmax FROM p),
u AS (
  SELECT user_id,
         CAST((mx.gmax - MAX(us)) // 86400000000 AS BIGINT) AS recency_days,
         COUNT(*)::BIGINT AS frequency,
         ROUND(SUM(v), 2) AS monetary
  FROM p CROSS JOIN mx
  GROUP BY user_id, mx.gmax
),
scored AS (
  SELECT user_id, recency_days, frequency, monetary,
         NTILE(5) OVER (ORDER BY recency_days ASC, user_id) AS r_score,
         NTILE(5) OVER (ORDER BY frequency DESC, user_id) AS f_score,
         NTILE(5) OVER (ORDER BY monetary DESC, user_id) AS m_score
  FROM u
)
SELECT CAST(r_score AS BIGINT) AS r_score,
       CAST(f_score AS BIGINT) AS f_score,
       CAST(m_score AS BIGINT) AS m_score,
       COUNT(*)::BIGINT AS n_users,
       ROUND(SUM(monetary), 2) AS segment_value
FROM scored
GROUP BY r_score, f_score, m_score
"""


@register("q_events_rfm", oracle=_ORACLE_RFM, tier="X")
def q_events_rfm(
    spark: SparkSession, sf_dir: str, approx_cutpoints: bool = False
) -> DataFrame:
    """RFM segmentation census: users scored 1-5 on purchase recency,
    frequency, and monetary value, then counted per (r, f, m) cell —
    the classic lifecycle-marketing cube. Scale shape: ONE two-phase
    purchase aggregation collapses events to a USER-level table first
    (map-side partials; the exchange carries users, not events); the
    corpus max-timestamp is a 1-row broadcast; the three ntile windows
    run over that ALREADY-AGGREGATED user table (satisfying the
    low-card-window rule: global-order windows only ride aggregated
    inputs), and the final census is a second small fold. Honest scale
    bound: exact quintile ASSIGNMENT is inherently a global rank, so
    each ntile is a single-task sort of the USER table — fine to ~1e8
    users; past that pass approx_cutpoints=True: percentile_approx
    quintile cutpoints (constant-size t-digest shuffle, no global
    sort), broadcast once, score by comparison — only the scorer
    changes, the census is untouched (the q_dq_profile exact/HLL
    precedent; parity-tested cell-for-cell on tie-free fixtures and
    plan-checked sort-free, tests/test_scale_modes.py). The
    registered/oracled form stays exact ntile. Recency is exact integer
    days (floor micros div); revenue doubles round once at each edge
    on identically-summed operands; every ntile order is total via the
    user_id tie-break (row-position assignment would otherwise bucket
    tied users engine-differently)."""
    p = (
        load(spark, sf_dir, "events")
        .filter(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & (F.col("event_type") == "purchase")
        )
        .select(
            "user_id",
            F.unix_micros("ts").alias("us"),
            F.coalesce(F.col("value"), F.lit(0.0)).alias("v"),
        )
    )
    mx = p.agg(F.max("us").alias("gmax"))
    u = (
        p.groupBy("user_id")
        .agg(
            F.max("us").alias("last_us"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum("v"), 2).alias("monetary"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "user_id",
            F.expr("(gmax - last_us) div 86400000000").cast("long").alias(
                "recency_days"
            ),
            F.col("frequency").cast("long").alias("frequency"),
            "monetary",
        )
    )
    if approx_cutpoints:
        # The 100 TB scorer: one global agg computes the 4 quintile
        # cutpoints per dimension (t-digest partials — constant-size
        # shuffle, NO global sort), broadcast as a 1-row frame; each
        # user scores by comparing against the cutpoint arrays.
        # percentile_approx(k/5) lands on the LAST member of ntile
        # bucket k (verified: n=10 -> [2,4,6,8], n=15 -> [3,6,9,12]),
        # so on tie-free inputs with n % 5 == 0 the assignment matches
        # ntile EXACTLY (tests/test_scale_modes.py); with heavy value
        # ties the buckets become value-consistent (all tied users
        # share a score) instead of ntile's equal-size tie-splitting —
        # the correct trade at 1e9 users, where a single-task global
        # sort per dimension is the thing being removed.
        acc = 10000
        qs = [x / 5.0 for x in (1, 2, 3, 4)]
        cut = F.broadcast(
            u.agg(
                F.percentile_approx("recency_days", qs, acc).alias("rc"),
                F.percentile_approx("frequency", qs, acc).alias("fc"),
                F.percentile_approx("monetary", qs, acc).alias("mc"),
            )
        )

        def below(cuts: str, v: str):
            return F.size(
                F.filter(F.col(cuts), lambda x: x < F.col(v))
            ).cast("int")

        scored = u.crossJoin(cut).select(
            "monetary",
            (F.lit(1) + below("rc", "recency_days")).alias("r_score"),
            (F.lit(5) - below("fc", "frequency")).alias("f_score"),
            (F.lit(5) - below("mc", "monetary")).alias("m_score"),
        )
    else:
        scored = u.select(
            "monetary",
            F.ntile(5)
            .over(W.orderBy(F.asc("recency_days"), F.asc("user_id")))
            .alias("r_score"),
            F.ntile(5)
            .over(W.orderBy(F.desc("frequency"), F.asc("user_id")))
            .alias("f_score"),
            F.ntile(5)
            .over(W.orderBy(F.desc("monetary"), F.asc("user_id")))
            .alias("m_score"),
        )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.round(F.sum("monetary"), 2).alias("segment_value"),
    ).select(
        F.col("r_score").cast("long").alias("r_score"),
        F.col("f_score").cast("long").alias("f_score"),
        F.col("m_score").cast("long").alias("m_score"),
        "n_users",
        "segment_value",
    )


# DAU/MAU stickiness: per calendar month, the exact monthly-active-user
# count, the mean daily-active-user count (exact rational: sum of the
# month's daily distinct counts over its active-day count, floored at
# ppm after x1e6), and stickiness = avg_dau/mau in exact floor(ppm) —
# sum(dau) * 1e6 div (n_days * mau). The product-health ratio read off
# every activity dashboard, expressed entirely in integer arithmetic.
_ORACLE_DAU_MAU = """
WITH e AS (
  SELECT user_id,
         CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(date_trunc('month', ts) AS DATE) AS m
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
dau AS (
  SELECT m, d, COUNT(DISTINCT user_id) AS dau FROM e GROUP BY m, d
),
mau AS (
  SELECT m, COUNT(DISTINCT user_id) AS mau FROM e GROUP BY m
)
SELECT CAST(dau.m AS VARCHAR) AS month,
       COUNT(*)::BIGINT AS n_active_days,
       CAST(MAX(mau.mau) AS BIGINT) AS mau,
       CAST((SUM(dau.dau) * 1000000) // COUNT(*) AS BIGINT) AS avg_dau_ppm,
       CAST((SUM(dau.dau) * 1000000) // (COUNT(*) * MAX(mau.mau))
            AS BIGINT) AS stickiness_ppm
FROM dau JOIN mau USING (m)
GROUP BY dau.m
"""


@register("q_events_dau_mau", oracle=_ORACLE_DAU_MAU, tier="X")
def q_events_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per calendar month: exact monthly actives,
    average daily actives (in 1e-6 users — exact rational, no float
    mean), and the stickiness ratio avg_dau/mau in exact floor(ppm) —
    the canonical engagement-health metric. Scale shape: day- and
    month-grain DISTINCT user counts are two two-phase aggregations
    over the same scan (grain keys carry the calendar, partial
    aggregation dedups (grain, user) map-side because a user's events
    cluster in time); the month join is calendar-bounded (one row per
    month per side — broadcastable forever); the final fold is
    month-cardinality. All-integer arithmetic: sum(dau)*1e6 div n_days
    and div (n_days*mau) — `div` and `//` agree bit-for-bit. UTC
    session timezone pins date_trunc identically on both engines."""
    e = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(
            "user_id",
            F.date_trunc("day", "ts").cast("date").alias("d"),
            F.date_trunc("month", "ts").cast("date").alias("m"),
        )
    )
    dau = e.groupBy("m", "d").agg(F.count_distinct("user_id").alias("dau"))
    mau = e.groupBy("m").agg(F.count_distinct("user_id").alias("mau"))
    j = dau.join(F.broadcast(mau), "m")
    return j.groupBy("m").agg(
        F.count(F.lit(1)).cast("long").alias("n_active_days"),
        F.max("mau").cast("long").alias("mau"),
        F.expr("(sum(dau) * 1000000L) div count(1)").cast("long").alias(
            "avg_dau_ppm"
        ),
        F.expr("(sum(dau) * 1000000L) div (count(1) * max(mau))")
        .cast("long")
        .alias("stickiness_ppm"),
    ).select(
        F.col("m").cast("string").alias("month"),
        "n_active_days",
        "mau",
        "avg_dau_ppm",
        "stickiness_ppm",
    )


# Top user-journey trigrams: the 20 most common 3-step event-type paths
# across all users, with exact floor-ppm share of all observed paths —
# the sequence-mining census behind funnel design (q_funnel assumes the
# path; this key DISCOVERS which paths exist) and the first artifact a
# bot-traffic audit reads (scripted clients walk near-deterministic
# trigrams). Sequence order pins ties by (ts, event_id), NULL
# event_ids filtered on both engines (the q_events_markov posture).
_ORACLE_EVENTS_PATHS = """
WITH s AS (
  SELECT user_id, event_type, ts, event_id
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
    AND event_type IS NOT NULL AND event_id IS NOT NULL
),
p AS (
  SELECT lag(event_type, 2) OVER w AS step1,
         lag(event_type, 1) OVER w AS step2,
         event_type AS step3
  FROM s
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
c AS (
  SELECT step1, step2, step3, COUNT(*) AS n
  FROM p WHERE step1 IS NOT NULL
  GROUP BY step1, step2, step3
),
t AS (SELECT SUM(n) AS total FROM c)
SELECT step1, step2, step3,
       CAST(n AS BIGINT) AS n_paths,
       CAST((n * 1000000) // total AS BIGINT) AS share_ppm
FROM c CROSS JOIN t
ORDER BY n DESC, step1, step2, step3
LIMIT 20
"""


@register("q_events_paths", oracle=_ORACLE_EVENTS_PATHS, tier="X")
def q_events_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 3-step user-journey paths with exact floor-ppm share —
    q_events_markov's first-order transitions widened to trigrams (the
    census that DISCOVERS funnel paths instead of assuming them).
    Shape: ONE user_id shuffle feeds both lag windows (high-cardinality
    key, raw-row windows allowed per the windows-tier rule); the path
    count is a two-phase aggregate whose exchange carries <= |types|^3
    states; the total is a 1-row broadcast over that count table; the
    final top-20 plans TakeOrderedAndProject over count-table-sized
    input — per-partition heaps of 20, no global sort materializes.
    All-integer ppm arithmetic; the (n desc, path asc) order is total,
    so the LIMIT is deterministic cross-engine."""
    s = load(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("event_id").isNotNull()
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    p = s.select(
        F.lag("event_type", 2).over(w).alias("step1"),
        F.lag("event_type", 1).over(w).alias("step2"),
        F.col("event_type").alias("step3"),
    ).filter(F.col("step1").isNotNull())
    c = p.groupBy("step1", "step2", "step3").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").alias("total"))
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "step1",
            "step2",
            "step3",
            F.col("n").cast("long").alias("n_paths"),
            F.expr("(n * 1000000L) div total").cast("long").alias("share_ppm"),
        )
        .orderBy(
            F.desc("n_paths"), F.asc("step1"), F.asc("step2"), F.asc("step3")
        )
        .limit(20)
    )


# Monthly growth accounting: every active user classified per month as
# new (first month ever), retained (active the previous calendar
# month), or resurrected (active before, but not last month), plus the
# forward churn count (active now, absent next calendar month — the
# corpus' last month churns everyone, the standard growth-accounting
# edge). The product-health decomposition behind every "MAU grew —
# but from WHERE" question; complements q_events_dau_mau (how much
# activity) and q_retention_cohort (fixed-cohort decay) with flows.
_ORACLE_EVENTS_LIFECYCLE = """
WITH am AS (
  SELECT DISTINCT user_id, CAST(date_trunc('month', ts) AS DATE) AS m
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
seq AS (
  SELECT user_id, m,
         lag(m)  OVER (PARTITION BY user_id ORDER BY m) AS prev_m,
         lead(m) OVER (PARTITION BY user_id ORDER BY m) AS next_m
  FROM am
)
SELECT CAST(m AS VARCHAR) AS month,
       COUNT(*)::BIGINT AS n_active,
       CAST(SUM(CASE WHEN prev_m IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_new,
       CAST(SUM(CASE WHEN prev_m = m - INTERVAL 1 MONTH THEN 1 ELSE 0 END)
            AS BIGINT) AS n_retained,
       CAST(SUM(CASE WHEN prev_m IS NOT NULL
                      AND prev_m < m - INTERVAL 1 MONTH THEN 1 ELSE 0 END)
            AS BIGINT) AS n_resurrected,
       CAST(SUM(CASE WHEN next_m IS NULL
                      OR next_m > m + INTERVAL 1 MONTH THEN 1 ELSE 0 END)
            AS BIGINT) AS n_churn_next
FROM seq GROUP BY m
"""


@register("q_events_lifecycle", oracle=_ORACLE_EVENTS_LIFECYCLE, tier="X")
def q_events_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly growth accounting: per calendar month, active users
    split into new / retained / resurrected, plus forward churn (the
    month's actives missing next month). Shape: the (user, month)
    distinct collapses events two-phase (map-side dedup — a user's
    events cluster in time); lag+lead share ONE user_id window sort
    over the month-grain table (rows = user-months, far below events);
    the census fold's exchange carries one row per month. Calendar
    arithmetic (add_months / INTERVAL 1 MONTH) is exact and identical
    cross-engine; all outputs are integers."""
    am = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(
            "user_id", F.date_trunc("month", "ts").cast("date").alias("m")
        )
        .distinct()
    )
    w = W.partitionBy("user_id").orderBy("m")
    seq = am.select(
        "m",
        F.lag("m").over(w).alias("prev_m"),
        F.lead("m").over(w).alias("next_m"),
    )
    return seq.groupBy("m").agg(
        F.count(F.lit(1)).cast("long").alias("n_active"),
        F.sum(F.when(F.col("prev_m").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_new"),
        F.sum(
            F.when(F.col("prev_m") == F.add_months(F.col("m"), -1), 1)
            .otherwise(0)
        ).cast("long").alias("n_retained"),
        F.sum(
            F.when(
                F.col("prev_m").isNotNull()
                & (F.col("prev_m") < F.add_months(F.col("m"), -1)),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_resurrected"),
        F.sum(
            F.when(
                F.col("next_m").isNull()
                | (F.col("next_m") > F.add_months(F.col("m"), 1)),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_churn_next"),
    ).select(
        F.col("m").cast("string").alias("month"),
        "n_active",
        "n_new",
        "n_retained",
        "n_resurrected",
        "n_churn_next",
    )


# Revenue-concentration (Pareto) audit over purchase value: how many
# top users cover 50/80/90% of total revenue, and the exact top-decile
# revenue share — the "whale census" a monetization review reads
# before trusting any average. ALL-integer: per-event cents floored
# once (FLOOR(v*100) — per-event, so no association-order drift), user
# sums and cumulative sums exact BIGINT, threshold compares as cross-
# multiplication (cum*10 >= total*8), share as floor ppm.
_ORACLE_EVENTS_PARETO = """
WITH p AS (
  SELECT user_id,
         CASE WHEN NOT isnan(COALESCE(value, 0.0))
                 AND abs(COALESCE(value, 0.0)) <= 1e15
            THEN CAST(FLOOR(COALESCE(value, 0.0) * 100) AS BIGINT)
            ELSE 0 END AS cents
  FROM events
  WHERE user_id IS NOT NULL AND event_type = 'purchase'
),
u AS (
  SELECT user_id, SUM(cents) AS cents FROM p GROUP BY user_id
),
r AS (
  SELECT cents,
         ROW_NUMBER() OVER (ORDER BY cents DESC, user_id) AS rk,
         SUM(cents) OVER (ORDER BY cents DESC, user_id
                          ROWS UNBOUNDED PRECEDING) AS cum,
         COUNT(*) OVER () AS n,
         SUM(cents) OVER () AS total
  FROM u
)
SELECT CAST(MAX(n) AS BIGINT) AS n_users,
       CAST(MAX(total) AS BIGINT) AS total_cents,
       CAST(SUM(CASE WHEN cum * 2 < total * 1 THEN 1 ELSE 0 END) + 1
            AS BIGINT) AS users_p50,
       CAST(SUM(CASE WHEN cum * 10 < total * 8 THEN 1 ELSE 0 END) + 1
            AS BIGINT) AS users_p80,
       CAST(SUM(CASE WHEN cum * 10 < total * 9 THEN 1 ELSE 0 END) + 1
            AS BIGINT) AS users_p90,
       CAST((SUM(CASE WHEN rk <= (n + 9) // 10 THEN cents ELSE 0 END)
             * 1000000) // MAX(total) AS BIGINT) AS top_decile_ppm
FROM r
"""


@register("q_events_pareto", oracle=_ORACLE_EVENTS_PARETO, tier="X")
def q_events_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration audit: users covering 50/80/90% of
    purchase revenue and the top-decile share. Shape: purchases
    collapse to a USER-level cents table first (two-phase, exchange
    carries users); the rank/cumulative windows ride that aggregated
    table in ONE global sort (the q_events_rfm scale posture — fine to
    ~1e8 users; past that, approx_percentile cutpoints on cents give
    the same census within sketch error); the final fold is one row.
    Integer-exact end to end: cents floored per EVENT (never on a
    summed double), cross-multiplied thresholds, floor-ppm share."""
    p = (
        load(spark, sf_dir, "events")
        .filter(
            F.col("user_id").isNotNull()
            & (F.col("event_type") == "purchase")
        )
        .select(
            "user_id",
            # Finite-and-bounded guard BEFORE floor: a NaN/Infinity
            # value degrades to zero cents instead of poisoning sums —
            # and the guard must come FIRST because Spark's floor(double)
            # RETURNS LONG and silently saturates at +-Long.MAX on
            # non-finite input (a later try_cast never sees the double;
            # measured: floor(inf) = 9223372036854775807, which then
            # overflows the first downstream addition under ANSI).
            F.expr(
                "CASE WHEN NOT isnan(coalesce(value, 0.0))"
                " AND abs(coalesce(value, 0.0)) <= 1e15"
                " THEN floor(coalesce(value, 0.0) * 100)"
                " ELSE 0L END"
            ).alias("cents"),
        )
    )
    u = p.groupBy("user_id").agg(F.sum("cents").alias("cents"))
    order = W.orderBy(F.desc("cents"), F.asc("user_id"))
    r = u.select(
        "cents",
        F.row_number().over(order).alias("rk"),
        F.sum("cents")
        .over(order.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("cum"),
        F.count(F.lit(1)).over(
            W.orderBy(F.lit(1)).rowsBetween(
                W.unboundedPreceding, W.unboundedFollowing
            )
        ).alias("n"),
        F.sum("cents").over(
            W.orderBy(F.lit(1)).rowsBetween(
                W.unboundedPreceding, W.unboundedFollowing
            )
        ).alias("total"),
    )
    return r.agg(
        F.max("n").cast("long").alias("n_users"),
        F.max("total").cast("long").alias("total_cents"),
        (F.sum(F.when(F.col("cum") * 2 < F.col("total"), 1).otherwise(0)) + 1)
        .cast("long")
        .alias("users_p50"),
        (
            F.sum(
                F.when(F.col("cum") * 10 < F.col("total") * 8, 1).otherwise(0)
            )
            + 1
        ).cast("long").alias("users_p80"),
        (
            F.sum(
                F.when(F.col("cum") * 10 < F.col("total") * 9, 1).otherwise(0)
            )
            + 1
        ).cast("long").alias("users_p90"),
        F.expr(
            "(sum(CASE WHEN rk <= (n + 9) div 10 THEN cents ELSE 0 END)"
            " * 1000000L) div max(total)"
        ).cast("long").alias("top_decile_ppm"),
    )


# Cohort lifetime value: users grouped by FIRST-purchase month, then
# per (cohort, month-age) the buyer count, period revenue, and the
# running cumulative revenue — the LTV curve a monetization model is
# fit against, and the composite q_retention_cohort (presence decay)
# upgrades to dollars. ALL integer: per-event cents flooring (the
# q_events_pareto discipline), month ages as exact calendar diffs,
# cumulative sums over the cohort-cardinality census table.
_ORACLE_EVENTS_LTV = """
WITH p AS (
  SELECT user_id,
         CAST(date_trunc('month', ts) AS DATE) AS m,
         CASE WHEN NOT isnan(COALESCE(value, 0.0))
                 AND abs(COALESCE(value, 0.0)) <= 1e15
            THEN CAST(FLOOR(COALESCE(value, 0.0) * 100) AS BIGINT)
            ELSE 0 END AS cents
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
    AND event_type = 'purchase'
),
um AS (
  SELECT user_id, m, SUM(cents) AS cents FROM p GROUP BY user_id, m
),
c AS (
  SELECT user_id, m, cents,
         MIN(m) OVER (PARTITION BY user_id) AS cohort_m
  FROM um
),
census AS (
  SELECT cohort_m, datediff('month', cohort_m, m) AS age_months,
         COUNT(*) AS n_buyers, SUM(cents) AS revenue_cents
  FROM c GROUP BY cohort_m, datediff('month', cohort_m, m)
)
SELECT CAST(cohort_m AS VARCHAR) AS cohort_month,
       CAST(age_months AS BIGINT) AS age_months,
       CAST(n_buyers AS BIGINT) AS n_buyers,
       CAST(revenue_cents AS BIGINT) AS revenue_cents,
       CAST(SUM(revenue_cents) OVER (PARTITION BY cohort_m
                                     ORDER BY age_months
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_revenue_cents
FROM census
"""


@register("q_events_ltv", oracle=_ORACLE_EVENTS_LTV, tier="X")
def q_events_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curve: per first-purchase-month cohort and month age,
    buyers, period revenue, and cumulative revenue — q_retention_cohort
    upgraded from presence to dollars. Shape: purchases collapse
    two-phase to a (user, month) cents table; the cohort anchor is a
    per-user window MIN on that table (the same single user_id
    exchange); the census fold's exchange carries (cohort, age) rows,
    and the cumulative window rides the cohort-cardinality census —
    calendar-bounded, never user-sized. Integer cents floored per
    EVENT; exact month diffs; no doubles anywhere."""
    p = (
        load(spark, sf_dir, "events")
        .filter(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & (F.col("event_type") == "purchase")
        )
        .select(
            "user_id",
            F.date_trunc("month", "ts").cast("date").alias("m"),
            # Finite-and-bounded guard BEFORE floor: a NaN/Infinity
            # value degrades to zero cents instead of poisoning sums —
            # and the guard must come FIRST because Spark's floor(double)
            # RETURNS LONG and silently saturates at +-Long.MAX on
            # non-finite input (a later try_cast never sees the double;
            # measured: floor(inf) = 9223372036854775807, which then
            # overflows the first downstream addition under ANSI).
            F.expr(
                "CASE WHEN NOT isnan(coalesce(value, 0.0))"
                " AND abs(coalesce(value, 0.0)) <= 1e15"
                " THEN floor(coalesce(value, 0.0) * 100)"
                " ELSE 0L END"
            ).alias("cents"),
        )
    )
    um = p.groupBy("user_id", "m").agg(F.sum("cents").alias("cents"))
    c = um.select(
        "m",
        "cents",
        F.min("m").over(W.partitionBy("user_id")).alias("cohort_m"),
    )
    age = (
        (F.year("m") - F.year("cohort_m")) * 12
        + (F.month("m") - F.month("cohort_m"))
    ).cast("long")
    census = c.groupBy("cohort_m", age.alias("age_months")).agg(
        F.count(F.lit(1)).cast("long").alias("n_buyers"),
        F.sum("cents").cast("long").alias("revenue_cents"),
    )
    wcum = (
        W.partitionBy("cohort_m")
        .orderBy("age_months")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return census.select(
        F.col("cohort_m").cast("string").alias("cohort_month"),
        "age_months",
        "n_buyers",
        "revenue_cents",
        F.sum("revenue_cents").over(wcum).cast("long").alias(
            "cum_revenue_cents"
        ),
    )


# Weekly activity heatmap: event counts and distinct actives per
# (day-of-week, hour-of-day) cell — the seasonality fingerprint every
# ops dashboard opens with, and the input a traffic-shaping scheduler
# bins by. DOW convention pinned cross-engine: Spark dayofweek() is
# 1=Sunday..7, DuckDB's is 0=Sunday..6, so the engine subtracts 1 —
# calendar-true for ALL dates (epoch-arithmetic mod tricks break on
# pre-1970 timestamps where integer div/mod semantics differ).
_ORACLE_EVENTS_DOW_HOUR = """
SELECT CAST(dayofweek(ts) AS BIGINT) AS dow,
       CAST(hour(ts) AS BIGINT) AS hour,
       COUNT(*)::BIGINT AS n_events,
       COUNT(DISTINCT user_id)::BIGINT AS n_users
FROM events
WHERE ts IS NOT NULL
GROUP BY 1, 2
"""


@register("q_events_dow_hour", oracle=_ORACLE_EVENTS_DOW_HOUR, tier="X")
def q_events_dow_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week x hour-of-day activity heatmap (event count +
    distinct actives per cell). Shape: ONE scan into one two-phase
    aggregate — the 168-cell domain bounds the exchange; the distinct-
    user state dedups (cell, user) map-side because a user's events
    cluster in time. UTC session pins hour() identically; dow is
    Spark dayofweek()-1 == DuckDB dayofweek() (0=Sunday), exact on any
    calendar date. NULL-user rows still count as events; NULL ts rows
    have no cell and are excluded on both engines."""
    e = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return (
        e.select(
            (F.dayofweek("ts") - 1).cast("long").alias("dow"),
            F.hour("ts").cast("long").alias("hour"),
            "user_id",
        )
        .groupBy("dow", "hour")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.count_distinct("user_id").cast("long").alias("n_users"),
        )
    )
