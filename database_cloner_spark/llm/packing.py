"""Sequence packing: lay documents end-to-end into fixed-size training
contexts (the concat-and-chunk step every pre-training pipeline runs
between curation and tokenized-shard writing).

Semantics: documents are ordered by a deterministic multiplicative hash
(a reproducible stand-in for the epoch shuffle), token counts are
cumulatively summed, and each doc is assigned the context chunk its
first token lands in: pack = floor(start / ctx_len), offset = start %
ctx_len, where start = cumsum - n_tokens.

100 TB story: a single global running sum would serialize the corpus
through one ordering — instead the corpus is hash-sharded into
`n_shards` independent packing streams (window partitioned BY shard),
so every shard packs in parallel and pack ids are namespaced by shard.
This mirrors real tokenizer-shard layouts (one output file per shard);
shard count scales with the cluster, and the per-shard window is the
only ordered structure. The hash is the same overflow-safe Knuth
multiplicative scheme as the sampling tier (doc_id * 2654435761 mod
2^32 stays far below int64 overflow for any realistic id space).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from database_cloner_spark.llm.textprep import n_tokens as _n_tokens

KNUTH = 2654435761
HASH_MOD = 4294967296  # 2^32
PACK_NS = 1_000_000  # pack-id namespace stride per shard


def _knuth_hash(col):
    """(doc_id · KNUTH) mod 2^32 for EVERY int64 id. The naive product
    overflows int64 past |id| ≈ 3.47e9 (Spark ANSI and DuckDB both
    raise — and hash-derived ids span the full int64 range), so the
    multiply is split 16/16: with x = pmod(id, 2^32) = a·2^16 + b,
    K·x mod 2^32 = (K·b + (K·a mod 2^16)·2^16) mod 2^32 — every term
    ≤ ~1.8e14, far inside int64. Bit-identical to the old direct form
    for every id where it didn't overflow (same congruence, same
    range), so fixture hashes and the DuckDB oracle replay are
    unchanged (tests: extreme-id probe, r10)."""
    x = F.pmod(col, F.lit(HASH_MOD))
    a = F.call_function("div", x, F.lit(65536))
    b = x % 65536
    return F.pmod(
        F.lit(KNUTH) * b + F.pmod(F.lit(KNUTH) * a, F.lit(65536)) * 65536,
        F.lit(HASH_MOD),
    )


def pack_sequences(
    docs: DataFrame,
    ctx_len: int = 512,
    n_shards: int = 8,
) -> DataFrame:
    """Assign every doc its (pack_id, offset) in the packed token
    stream: shard-parallel greedy concatenation, deterministic under
    retries (hash order, no monotonically_increasing_id)."""
    h = _knuth_hash(F.col("doc_id"))
    # standard tokenizer (textprep.tokens), NULL text -> 0 tokens
    n_toks = _n_tokens(F.col("text"))
    base = docs.select(
        "doc_id",
        n_toks.alias("n_tokens"),
        h.alias("__h"),
        F.pmod(h, F.lit(n_shards)).alias("shard"),
    )
    w = (
        W.partitionBy("shard")
        .orderBy("__h")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("__start")
    return (
        base.select("doc_id", "n_tokens", "shard", start)
        .select(
            "doc_id",
            "n_tokens",
            "shard",
            (
                F.col("shard") * PACK_NS
                + F.floor(F.col("__start") / ctx_len)
            ).alias("pack_id"),
            F.pmod(F.col("__start"), F.lit(ctx_len)).alias("offset"),
        )
    )


def pack_bins(
    docs: DataFrame,
    ctx_len: int = 512,
    n_shards: int = 8,
) -> DataFrame:
    """Whole-document bin packing: first-fit-decreasing into bins of
    `ctx_len` tokens, per hash shard — the NO-TRUNCATION complement of
    pack_sequences (which concat-and-chunks, splitting documents across
    context boundaries; fine for pre-training, wrong for SFT/eval
    payloads where a document must stay contiguous).

    Shape: same Knuth hash shards as pack_sequences; within a shard the
    packing is a sequential greedy algorithm (bin state), which no
    window function expresses — this is exactly the applyInPandas case:
    one Arrow batch per shard, deterministic order (n_tokens desc,
    doc_id asc), FFD assignment. Docs longer than ctx_len get a
    dedicated bin and `oversize=true` (the caller decides: split, drop,
    or long-context shard).

    100 TB story: shards are the parallel unit and the per-shard doc
    count is the knob — FFD here is O(d^2/shard) worst case (linear
    scan over open bins), so size shards to ~10^4-10^5 docs (shard
    count scales freely; bin ids are namespaced by shard). FFD
    guarantees n_bins <= (11*OPT + 6)/9 per shard — property-tested
    against the ceil(total/ctx) lower bound in tests/test_llm.py.

    Output: (doc_id, n_tokens, shard, bin_id, bin_used, oversize) —
    bin_used is the bin's total token count (same value on every member
    row), bin_id = shard * PACK_NS + dense local index.
    """
    from collections.abc import Iterator  # noqa: F401

    import pandas as pd

    h = _knuth_hash(F.col("doc_id"))
    # standard tokenizer (textprep.tokens), NULL text -> 0 tokens
    n_toks = _n_tokens(F.col("text"))
    base = docs.select(
        "doc_id",
        n_toks.alias("n_tokens"),
        F.pmod(h, F.lit(n_shards)).cast("int").alias("shard"),
    )

    schema = (
        "doc_id long, n_tokens long, shard int, bin_id long, "
        "bin_used long, oversize boolean"
    )

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True]
        ).reset_index(drop=True)
        shard = int(pdf["shard"].iloc[0])
        remaining: list[int] = []  # capacity left per open bin
        used: list[int] = []  # tokens placed per bin
        assign: list[int] = []
        oversize: list[bool] = []
        for n in pdf["n_tokens"]:
            n = int(n)
            if n > ctx_len:
                assign.append(len(remaining))
                # dedicated, never joined: -1 sentinel so even a
                # zero-token doc (rem >= n would hold at rem == n == 0)
                # cannot first-fit into an oversize bin
                remaining.append(-1)
                used.append(n)
                oversize.append(True)
                continue
            for i, rem in enumerate(remaining):  # first fit
                if rem >= n:
                    assign.append(i)
                    remaining[i] = rem - n
                    used[i] += n
                    break
            else:
                assign.append(len(remaining))
                remaining.append(ctx_len - n)
                used.append(n)
            oversize.append(False)
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_tokens": pdf["n_tokens"],
                "shard": shard,
                "bin_id": [shard * PACK_NS + a for a in assign],
                "bin_used": [used[a] for a in assign],
                "oversize": oversize,
            }
        )

    return base.groupBy("shard").applyInPandas(pack, schema=schema)
