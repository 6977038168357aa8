"""Ground-truth tests for the hash-based LLM operators (no SQL oracle):
MinHash-LSH recall/precision vs exact Jaccard, SimHash properties, IVF
recall vs brute force, multimodal plumbing."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from database_cloner_spark.llm import dedup, similarity
from database_cloner_spark.llm.multimodal import (
    assets_from_documents,
    fake_features,
    frame_sample_plan,
)
from database_cloner_spark.llm.text import language_id
from database_cloner_spark.sources import load

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return load(spark, SF, "documents")


def test_roundn_ratio_exact_past_double_precision(spark):
    """rational.ratio must equal exact integer round-half-up even when
    2*10^d*num exceeds 2^53 (corpus-sum consumers get there at 100 TB).
    The old floor-of-double path returns ...376 where exact arithmetic
    says ...367 for num=1e16, d=2 — this pins the SQL `div` fix."""
    from database_cloner_spark.functions.rational import ratio

    cases = [  # (num, den, digits)
        (10_000_000_000_000_000, 3, 2),       # past 2^53 after 2*10^d*num
        (6690, 8000, 4),                      # the historical .83625 tie
        (1, 3, 4),
        (2, 3, 4),
        (7, 2, 0),                            # x.5 tie rounds up
        (9_007_199_254_740_993, 7, 0),        # 2^53+1 numerator (in int64 domain)
    ]
    rows = spark.createDataFrame(
        [(n, d, i) for i, (n, d, _) in enumerate(cases)], "num long, den long, i int"
    )
    for i, (n, d, digits) in enumerate(cases):
        got = (
            rows.filter(F.col("i") == i)
            .select(ratio(F.col("num"), F.col("den"), digits).alias("r"))
            .collect()[0]["r"]
        )
        scale = 10 ** digits
        exact = (2 * scale * n + d) // (2 * d)  # python ints are exact
        # engine path: exact long quotient, cast to double, IEEE-divide
        # by 10^d (both Spark and DuckDB do exactly this — float(exact)
        # models the long->double cast; python's bare exact/scale would
        # instead divide as exact rationals and differ past 2^53)
        assert got == float(exact) / scale, (n, d, digits, got, exact)


def test_minhash_lsh_recall_and_precision(spark):
    exact = {
        (r.doc_a, r.doc_b) for r in dedup.shingle_jaccard_pairs(_docs(spark)).collect()
    }
    lsh = {(r.doc_a, r.doc_b) for r in dedup.minhash_lsh_pairs(_docs(spark)).collect()}
    assert exact, "corpus should contain planted near-dups"
    # Precision is exact-by-construction (candidates verified with true
    # Jaccard); recall bounded by the banding probability.
    assert lsh <= exact
    assert len(lsh) / len(exact) >= 0.9


def test_simhash_identical_and_distinct(spark):
    docs = _docs(spark).limit(50)
    # identical text (replayed under a new id) => hamming 0 pair found
    dup = docs.filter(F.col("doc_id") == 0).select(
        (F.col("doc_id") + 9000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    with_dup = docs.unionByName(dup)
    pairs = dedup.simhash_pairs(with_dup, max_hamming=0).collect()
    assert any((r.doc_a, r.doc_b) == (0, 9000) for r in pairs)


def test_embedding_neardup_symmetric_bounds(spark):
    embs = load(spark, SF, "embeddings")
    rows = dedup.embedding_neardup_pairs(embs, threshold=0.35).collect()
    for r in rows:
        assert r.vec_a < r.vec_b
        assert 0.35 <= r.cosine <= 1.0


@pytest.mark.parametrize(
    "emb_dir",
    ["/root/testdata/sf0.001", "/root/testdata/sf0.1"],
    ids=["sf0.001", "sf0.1"],
)
def test_bucketed_embedding_neardup_recall(spark, emb_dir):
    """Recall floor pinned on TWO differently-shaped distributions
    (r8 VERDICT item 8, the commit-237696f second-fixture discipline):
    the 500-vector engineered fixture AND the 2000-vector sf0.1 table
    (measured 0.777 there — 4137 exact pairs, 3216 bucketed)."""
    embs = load(spark, emb_dir, "embeddings")
    exact = {
        (r.vec_a, r.vec_b): r.cosine
        for r in dedup.embedding_neardup_pairs(embs).collect()
    }
    bucketed = {
        (r.vec_a, r.vec_b): r.cosine
        for r in dedup.embedding_neardup_bucketed(embs).collect()
    }
    assert exact, "corpus should contain semantic near-dups"
    # within-cell pairs are scored exactly -> perfect precision, and
    # every reported cosine matches the brute-force value
    assert set(bucketed) <= set(exact)
    for pair, cos in bucketed.items():
        assert cos == exact[pair]
    # The fixtures' near-dups are all weak (cos 0.35-0.45; no true dups),
    # the hardest case for cell-sharing — 0.7 is the measured floor at
    # nprobe=3/16 cells on BOTH shapes. True dups (cos >= 0.9) bucket
    # near-perfectly.
    assert len(bucketed) / len(exact) >= 0.7, (
        f"bucketed recall too low: {len(bucketed)}/{len(exact)}"
    )


def test_pandas_cosine_topk_matches_exact(spark):
    from database_cloner_spark.functions.vector import cosine_topk_pandas

    embs = load(spark, SF, "embeddings")
    probe_df = similarity.probe_vector(embs)
    exact = similarity.brute_force_topk(embs, probe_df, k=10).collect()
    probe = embs.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    fast = cosine_topk_pandas(embs, list(probe), k=10).collect()
    assert [r.vec_id for r in fast] == [r.vec_id for r in exact]
    for f, e in zip(fast, exact):
        assert abs(f.cosine - e.cosine) <= 1e-4


def test_multi_probe_topk_matches_single_probe(spark):
    """Each probe's slice of the batched op must equal the dedicated
    single-probe brute force — same vec_ids, same cosines (identical
    fold-order expression, only the ranking operator differs)."""
    embs = load(spark, SF, "embeddings")
    multi = similarity.multi_probe_topk(embs, n_probes=3, k=5).collect()
    for pid in range(3):
        got = [
            (r.vec_id, r.cosine)
            for r in sorted(
                (r for r in multi if r.probe_id == pid),
                key=lambda r: r.rn,
            )
        ]
        want = [
            (r.vec_id, r.cosine)
            for r in similarity.brute_force_topk(
                embs, similarity.probe_vector(embs, probe_id=pid), k=5
            ).collect()
        ]
        assert got == want, (pid, got, want)


def test_ivf_recall_vs_brute_force(spark):
    embs = load(spark, SF, "embeddings")
    probe = similarity.probe_vector(embs)
    brute = [r.vec_id for r in similarity.brute_force_topk(embs, probe, k=10).collect()]
    ivf = [r.vec_id for r in similarity.ivf_topk(embs, probe, k=10).collect()]
    overlap = len(set(brute) & set(ivf))
    assert overlap >= 7, f"IVF recall@10 too low: {overlap}/10"
    # the probe itself (cosine 1.0) must always be found: it lives in the
    # cell whose centroid it is
    assert brute[0] == 0 and ivf[0] == 0


def test_ivf_kmeans_recall_and_balance(spark):
    """The Lloyd-refined IVF variant (q_sim_ivf_kmeans_topk) must hold
    the same recall floor as the seeded variant AND actually balance
    cells: the max cell population after 2 iterations must not exceed
    the seeded assignment's max (balance is the scale story — worst-case
    cell scan is the IVF cost bound)."""
    embs = load(spark, SF, "embeddings")
    probe = similarity.probe_vector(embs)
    brute = [r.vec_id for r in similarity.brute_force_topk(embs, probe, k=10).collect()]
    cents = similarity.kmeans_centroids(embs, n_cells=16, iters=2)
    refined = [
        r.vec_id
        for r in similarity.ivf_topk(embs, probe, k=10, centroids=cents).collect()
    ]
    overlap = len(set(brute) & set(refined))
    assert overlap >= 7, f"kmeans-IVF recall@10 too low: {overlap}/10"

    def max_cell(c):
        sizes = (
            similarity.ivf_assign(embs, 16, centroids=c)
            .groupBy("cell_id")
            .count()
            .collect()
        )
        return max(r["count"] for r in sizes)

    assert max_cell(cents) <= max_cell(similarity.seed_centroids(embs, 16))


def test_langid_deterministic_and_total(spark):
    a = language_id(_docs(spark)).collect()
    b = language_id(_docs(spark)).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == _docs(spark).count()  # every doc classified
    langs = {r.predicted_lang for r in a}
    assert langs <= {"de", "en", "es", "fr", "zh"}


def test_langid_short_docs_contribute_no_trigrams(spark):
    """Sub-3-char docs have no trigrams: they must contribute nothing
    to the profiles and come back with NULL predicted_lang — NOT
    fabricate junk grams via the descending sequence(1, 0) (the
    short-doc bug class, tests/test_adversarial_docs.py), and NOT be
    silently dropped (every input doc_id appears exactly once — the
    fingerprints() restore contract). Long docs classify unchanged."""
    docs = spark.createDataFrame(
        [
            (0, "ab", "en", "s"),
            (1, "", "en", "s"),
            (2, "the quick brown fox jumps over the dog", "en", "s"),
            (3, "the lazy dog sleeps under the brown tree", "en", "s"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    out = {r.doc_id: r for r in language_id(docs).collect()}
    assert set(out) == {0, 1, 2, 3}
    assert out[0].predicted_lang is None and out[1].predicted_lang is None
    assert out[2].predicted_lang == "en" and out[3].predicted_lang == "en"


def test_multimodal_assets_and_features(spark):
    assets = assets_from_documents(_docs(spark))
    r = assets.filter(F.col("asset_id") == 0).collect()[0]
    assert r.media_type == "image"
    assert isinstance(r.payload, (bytes, bytearray))
    assert r.meta.n_bytes == len(r.payload)
    assert len(r.meta.magic) == 8  # 4 bytes hex

    feats = fake_features(assets).collect()
    assert len(feats) == assets.count()
    assert all(len(f.features) == 8 for f in feats)
    # deterministic across runs
    feats2 = fake_features(assets_from_documents(_docs(spark))).collect()
    assert {f.asset_id: f.features for f in feats} == {
        f.asset_id: f.features for f in feats2
    }


def test_resize_images_plumbing(spark):
    from database_cloner_spark.llm.multimodal import resize_images

    assets = assets_from_documents(_docs(spark))
    out = resize_images(assets, target_bytes=128).collect()
    n_images = assets.filter(F.col("media_type") == "image").count()
    assert len(out) == n_images  # non-images pruned before the UDF
    for r in out:
        assert len(r.payload) == 128
        assert r.orig_bytes > 0


def test_frame_sample_plan(spark):
    assets = assets_from_documents(_docs(spark))
    plan = frame_sample_plan(assets, every_n_bytes=64).collect()
    assert plan  # videos exist (doc_id % 3 == 2)
    for r in plan:
        assert r.frame_offsets[0] == 0
        assert all(o % 64 == 0 for o in r.frame_offsets)
        assert len(r.frame_offsets) == r.n_bytes // 64 + 1


def test_frame_sample_exploded_matches_plan(spark):
    """The registered all-scalar form is exactly posexplode of the
    library plan: same assets, offsets in order, dense frame_idx."""
    from database_cloner_spark.llm.multimodal import frame_sample_exploded

    assets = assets_from_documents(_docs(spark))
    plan = {r.asset_id: list(r.frame_offsets) for r in frame_sample_plan(assets).collect()}
    got: dict = {}
    for r in frame_sample_exploded(assets).collect():
        got.setdefault(r.asset_id, []).append((r.frame_idx, r.frame_offset))
    assert set(got) == set(plan)
    for aid, pairs in got.items():
        pairs.sort()
        assert [o for _, o in pairs] == plan[aid]
        assert [i for i, _ in pairs] == list(range(len(plan[aid])))
    dtypes = dict(frame_sample_exploded(assets).dtypes)
    assert all(
        not t.startswith(("array", "struct", "map")) for t in dtypes.values()
    ), dtypes


def test_minhash_band_bucket_cap(spark, sf_dir):
    """A generous cap changes nothing; a cap of 1 kills every candidate
    (any candidate pair implies a bucket of >= 2)."""
    from database_cloner_spark.llm import dedup
    from database_cloner_spark.sources import load

    docs = load(spark, sf_dir, "documents")
    uncapped = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(docs).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(docs, max_band_bucket=10_000).collect()
    }
    assert capped == uncapped
    assert dedup.minhash_lsh_pairs(docs, max_band_bucket=1).count() == 0


def test_minhash_cap_survives_boilerplate_skew(spark):
    """VERDICT r3 #7 — skew-stress the hot-bucket cap: a boilerplate
    template repeated 100x puts ~100 docs in EVERY band bucket (identical
    text ⇒ identical signature). With a cap of 50, the mega-group must be
    dropped wholesale (bounding candidates: an uncapped run emits
    100·99/2 pairs from one reducer's bucket — the 100 TB blowup shape),
    while recall on unrelated genuine near-dups is unchanged."""
    template = (
        "the quick brown fox jumps over the lazy dog again and again "
        "every single day of the week without fail" * 2
    )
    boiler = [(i, template) for i in range(100)]
    near_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near_b = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    unique = [
        (1000 + i, f"unique document number {i} with words w{i} x{i} y{i} z{i}")
        for i in range(20)
    ]
    docs = spark.createDataFrame(
        boiler + [(2000, near_a), (2001, near_b)] + unique, ["doc_id", "text"]
    )

    uncapped = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.4).collect()
    }
    capped = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(
            docs, threshold=0.4, max_band_bucket=50
        ).collect()
    }
    # sanity: uncapped DOES blow up on the boilerplate group (k^2 shape)
    boiler_uncapped = {p for p in uncapped if p[0] < 100 and p[1] < 100}
    assert len(boiler_uncapped) == 100 * 99 // 2
    # cap drops the over-bound group wholesale...
    assert not any(x < 100 and y < 100 for x, y in capped)
    # ...bounding total candidates far below the k^2 blowup...
    assert len(capped) < 100
    # ...and recall on the non-boilerplate near-dup pair is unchanged
    assert (2000, 2001) in uncapped and (2000, 2001) in capped


def test_shingle_df_cap(spark, sf_dir):
    """Hot-shingle document-frequency cap: a generous cap changes
    nothing (no shingle's df can exceed the corpus size); a cap of 1
    drops every shared shingle, so no pair retains any intersection."""
    from database_cloner_spark.llm import dedup
    from database_cloner_spark.sources import load

    docs = load(spark, sf_dir, "documents")
    uncapped = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup.shingle_jaccard_pairs(docs).collect()
    }
    assert uncapped, "corpus should contain planted near-dups"
    capped = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup.shingle_jaccard_pairs(docs, max_shingle_df=10_000).collect()
    }
    assert capped == uncapped
    assert dedup.shingle_jaccard_pairs(docs, max_shingle_df=1).count() == 0


def test_containment_detects_doc_inside_doc_jaccard_misses(spark):
    """The containment op's reason to exist: a small doc fully quoted
    inside a much larger one scores containment 1.0 in the contained
    direction while its Jaccard (~ small/large) stays far below any
    useful near-dup threshold."""
    quoted = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} w{i + 1} pad{i}" for i in range(0, 120, 2))
    rows = [
        (0, quoted),
        (1, f"{filler} {quoted} {filler} extra tail tokens here"),
        (2, "totally unrelated text about completely different things"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cont = {
        (r.doc_a, r.doc_b): (r.cont_a, r.cont_b)
        for r in dedup.shingle_containment_pairs(docs, threshold=0.6).collect()
    }
    assert (0, 1) in cont and cont[(0, 1)][0] == 1.0, cont
    assert cont[(0, 1)][1] < 0.6
    assert all(2 not in pair for pair in cont)
    jac = {
        (r.doc_a, r.doc_b)
        for r in dedup.shingle_jaccard_pairs(docs, threshold=0.4).collect()
    }
    assert (0, 1) not in jac  # symmetric Jaccard dilutes the quote


def test_containment_df_cap_and_fixture_pairs(spark, sf_dir):
    """Fixture truncation-dups surface as containment ~1.0 pairs; the
    generous df cap changes nothing (same guarantee as
    test_shingle_df_cap) and a cap of 1 drops every pair."""
    docs = load(spark, sf_dir, "documents")
    uncapped = {
        (r.doc_a, r.doc_b, r.cont_a, r.cont_b)
        for r in dedup.shingle_containment_pairs(docs).collect()
    }
    assert uncapped, "corpus should contain planted containment dups"
    capped = {
        (r.doc_a, r.doc_b, r.cont_a, r.cont_b)
        for r in dedup.shingle_containment_pairs(
            docs, max_shingle_df=10_000
        ).collect()
    }
    assert capped == uncapped
    assert (
        dedup.shingle_containment_pairs(docs, max_shingle_df=1).count() == 0
    )


def test_canonical_survivor_prefers_quality_over_min_id(spark):
    """The canonical policy must pick the highest-quality cluster
    member even when a lower doc_id exists: doc 0 and doc 1 are
    near-dups, doc 1 has the richer vocabulary (higher diversity term
    in the quality score), so doc 1 survives — the opposite of
    q_dedup_apply's min-id rule."""
    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (0, f"{base} {base} {base}"),                # repetitive copy
        (1, f"{base} iota kappa lambda mu nu xi"),   # diverse near-dup
        (2, "unrelated text entirely different subject matter here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.cluster_id: (r.survivor_id, r.n_members)
        for r in dedup.canonical_survivors(docs, threshold=0.3).collect()
    }
    assert out == {0: (1, 2)}, out


def test_shingles_short_docs_yield_empty_not_crash(spark):
    """ADVICE r1: inputs with fewer than n tokens must produce an empty
    shingle array, not INVALID_PARAMETER_VALUE.START."""
    from database_cloner_spark.llm.textprep import shingles_of_tokens, tokens

    df = spark.createDataFrame(
        [(1, "one two"), (2, ""), (3, "a b c d")], "doc_id bigint, text string"
    ).select("doc_id", tokens(F.col("text")).alias("toks"))
    rows = {r.doc_id: r.sh for r in df.select("doc_id", shingles_of_tokens(F.col("toks"), 3).alias("sh")).collect()}
    assert rows[1] == [] and rows[2] == []
    assert rows[3] == ["a b c", "b c d"]


def test_kmeans_refined_centroids_valid_and_balancing(spark):
    """Lloyd's refinement: schema-compatible with the seed, deterministic,
    and IVF search over the refined cells still answers probes correctly
    (the probe's own vector, cosine 1.0, must rank first)."""
    embs = load(spark, SF, "embeddings")
    seed = similarity.seed_centroids(embs, n_cells=8)
    refined = similarity.kmeans_centroids(embs, n_cells=8, iters=2)
    assert refined.columns == seed.columns
    rows = refined.collect()
    assert len(rows) == 8
    dim = len(seed.collect()[0].centroid)
    assert all(len(r.centroid) == dim for r in rows)
    # deterministic across recomputation
    again = {r.cell_id: r.centroid for r in similarity.kmeans_centroids(embs, 8, 2).collect()}
    assert {r.cell_id: r.centroid for r in rows} == again

    # Refinement must not break the IVF search path.
    probe = similarity.probe_vector(embs)
    got = similarity.ivf_topk(embs, probe, k=5, n_cells=8, nprobe=3, centroids=refined).collect()
    assert got[0].vec_id == 0 and got[0].cosine == 1.0

    # Balance: refined cells stay in the same ballpark as the seed (the
    # synthetic fixture is near-uniform, so Lloyd's has little to fix —
    # strict improvement isn't guaranteed point-wise; what matters is
    # that refinement never degenerates cells).
    from pyspark.sql import functions as FF
    def cell_sizes(cents):
        return [
            r.n
            for r in similarity.ivf_assign(embs, 8, centroids=cents)
            .groupBy("cell_id").agg(FF.count("*").alias("n")).collect()
        ]
    ref_sizes, seed_sizes = cell_sizes(refined), cell_sizes(seed)
    assert sum(ref_sizes) == sum(seed_sizes)  # every vector still assigned
    assert len(ref_sizes) == 8  # no empty cells after refinement
    assert max(ref_sizes) <= int(max(seed_sizes) * 1.25) + 1


def test_connected_components_path_graph(spark):
    """A 40-node path (diameter 39): every node must end in the single
    min-labeled cluster. A scheme that moves the min one hop per round
    under a 25-round cap leaves the 14 far nodes wrong."""
    n = 40
    pairs = spark.createDataFrame(
        [(10 + i, 11 + i) for i in range(n - 1)],
        ["doc_a", "doc_b"],
    )
    got = {
        (r.doc_id, r.cluster_id)
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == {(v, 10) for v in range(10, 10 + n)}


def test_connected_components_multiple_components(spark):
    """Disjoint components keep distinct min labels; cluster_id is
    always a member of the component and <= every member."""
    pairs = spark.createDataFrame(
        [(5, 3), (3, 9), (20, 21), (40, 41), (41, 40)],
        ["doc_a", "doc_b"],
    )
    rows = dedup.connected_components(pairs).collect()
    got = {(r.doc_id, r.cluster_id) for r in rows}
    assert got == {
        (3, 3), (5, 3), (9, 3),
        (20, 20), (21, 20),
        (40, 40), (41, 40),
    }
    doc_ids = {r.doc_id for r in rows}
    assert all(r.cluster_id in doc_ids and r.cluster_id <= r.doc_id for r in rows)


def test_cc_star_multiple_components_and_shapes(spark):
    """Disjoint components, a triangle, reversed/duplicate pairs: the
    star rounds must close the cycle 5-3-9-5 onto one min label."""
    pairs = spark.createDataFrame(
        [(5, 3), (3, 9), (9, 5), (20, 21), (40, 41), (41, 40)],
        ["doc_a", "doc_b"],
    )
    got = {
        (r.doc_id, r.cluster_id)
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == {
        (3, 3), (5, 3), (9, 3),
        (20, 20), (21, 20),
        (40, 40), (41, 40),
    }


def test_cc_star_path_graph_within_log_rounds(spark):
    """The point of the star scheme: a 64-node path (diameter 63) must
    fully converge inside a 12-round budget — a scheme that moves the
    min ONE hop per round provably cannot label the far end correctly
    under it. Guards against a refactor quietly degrading the star
    rounds back to O(diameter)."""
    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["doc_a", "doc_b"]
    )
    got = {
        (r.doc_id, r.cluster_id)
        for r in dedup.connected_components(pairs, max_iter=12).collect()
    }
    assert got == {(v, 0) for v in range(n)}


def test_segment_dedup_removes_boilerplate_keeps_unique(spark):
    """A segment shared by two docs is cut from both; unique segments
    survive verbatim and in order; a fully-boilerplate doc comes back
    with empty clean_text rather than disappearing."""
    from database_cloner_spark.llm.text import segment_dedup

    boiler = " ".join(f"b{i}" for i in range(8))
    u1 = " ".join(f"x{i}" for i in range(8))
    u2 = " ".join(f"y{i}" for i in range(8))
    docs = spark.createDataFrame(
        [
            (1, f"{boiler} {u1}"),
            (2, f"{boiler} {u2}"),
            (3, boiler),
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: (r.clean_text, r.n_kept) for r in segment_dedup(docs).collect()}
    assert got == {1: (u1, 1), 2: (u2, 1), 3: ("", 0)}


def test_segment_dedup_short_and_ragged_docs(spark):
    """Docs shorter than one segment width and ragged tails are kept
    whole when unique; ordering of multi-segment survivors is stable."""
    from database_cloner_spark.llm.text import segment_dedup

    s1 = " ".join(f"a{i}" for i in range(8))
    s2 = " ".join(f"c{i}" for i in range(8))
    tail = "t0 t1 t2"
    docs = spark.createDataFrame(
        [(1, f"{s1} {s2} {tail}"), (2, "solo")],
        ["doc_id", "text"],
    )
    got = {r.doc_id: (r.clean_text, r.n_kept) for r in segment_dedup(docs).collect()}
    assert got == {1: (f"{s1} {s2} {tail}", 3), 2: ("solo", 1)}


def test_benchmark_contamination_counts_distinct_shared(spark):
    """n_shared counts distinct shared shingles; pairs below min_shared
    are excluded; the benchmark side is broadcast in the plan."""
    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),  # shares 2 shingles w/ bench 100
            (2, "alpha beta gamma zeta eta"),       # shares 1 shingle -> excluded
            (3, "one two three four five"),         # shares none
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zzz")], ["doc_id", "text"]
    )
    out = dedup.benchmark_contamination(train, bench, min_shared=2)
    assert "BroadcastHashJoin" in out._jdf.queryExecution().executedPlan().toString()
    got = {(r.train_id, r.bench_id): r.n_shared for r in out.collect()}
    assert got == {(1, 100): 3}


def test_pack_sequences_invariants(spark, sf_dir):
    """Per shard, docs laid end-to-end in hash order: each start equals
    the previous start + previous length, offsets stay below ctx_len,
    and pack ids never skip backwards."""
    from database_cloner_spark.llm.packing import HASH_MOD, KNUTH, PACK_NS, pack_sequences

    docs = load(spark, sf_dir, "documents")
    rows = pack_sequences(docs, ctx_len=512, n_shards=8).collect()
    assert len(rows) == docs.count()
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    assert len(by_shard) > 1  # sharding actually splits the corpus
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: (r.doc_id * KNUTH) % HASH_MOD)
        start = 0
        for r in rs:
            assert r.pack_id == shard * PACK_NS + start // 512
            assert r.offset == start % 512
            start += r.n_tokens


def test_repetition_scores_literals(spark):
    """Degenerate looping text scores high; all-distinct text scores 0;
    docs shorter than the gram width don't crash and report 0."""
    from database_cloner_spark.llm.text import repetition_scores

    docs = spark.createDataFrame(
        [
            (1, "a a a a a"),
            (2, "v w x y z"),
            (3, "hi"),
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in repetition_scores(docs).collect()}
    assert got[1].dup_token_frac == 0.8
    assert got[1].dup_ngram_frac == round(2 / 3, 4)
    assert got[1].is_repetitive
    assert got[2].dup_token_frac == 0.0 and got[2].dup_ngram_frac == 0.0
    assert not got[2].is_repetitive
    assert got[3].dup_ngram_frac == 0.0 and not got[3].is_repetitive


def test_pq_codeword_vectors_encode_to_themselves(spark, sf_dir):
    """With unrefined (seeded) codebooks, vector k < 16 IS codeword k in
    every subspace: its ADC self-distance is exactly 0 and it ranks
    first against its own probe."""
    embs = load(spark, sf_dir, "embeddings")
    cb = similarity.pq_codebooks(embs, iters=0)
    codes = similarity.pq_encode(embs, cb)
    row = codes.filter(F.col("vec_id") == 3).head()
    assert row.codes == [3] * 8
    top = similarity.pq_adc_topk(codes, cb, similarity.probe_vector(embs, 0)).head()
    assert top.vec_id == 0 and top.adc_dist == 0.0


@pytest.mark.parametrize(
    "emb_dir,floor",
    [("/root/testdata/sf0.001", 6), ("/root/testdata/sf0.1", 5)],
    ids=["sf0.001", "sf0.1"],
)
def test_pq_topk_recall_floor(spark, emb_dir, floor):
    """The deployed PQ pipeline (ADC shortlist 5x + exact rerank) must
    recover most of the exact top-10 even on random vectors (PQ's worst
    case), on BOTH fixture shapes (second-distribution discipline,
    r8 VERDICT item 8). Floors sit under the measured values (8/10 on
    the engineered fixture, 6/10 on the 2000-vector sf0.1 table) with
    ulp-tie headroom; the pipeline itself is deterministic."""
    embs = load(spark, emb_dir, "embeddings")
    probe = similarity.probe_vector(embs)
    got = {r.vec_id for r in similarity.pq_topk(embs, probe).collect()}
    exact = {r.vec_id for r in similarity.brute_force_topk(embs, probe).collect()}
    assert len(got & exact) >= floor
    assert len(got) == 10


@pytest.mark.parametrize(
    "emb_dir,floor",
    [("/root/testdata/sf0.001", 4), ("/root/testdata/sf0.1", 5)],
    ids=["sf0.001", "sf0.1"],
)
def test_ivfpq_recall_floor(spark, emb_dir, floor):
    """The composed IVF-PQ pipeline must recover a usable share of the
    exact top-10 even on random vectors with half the cells pruned —
    pinned on both fixture shapes (measured 7/10 at sf0.1)."""
    embs = load(spark, emb_dir, "embeddings")
    probe = similarity.probe_vector(embs)
    got = {r.vec_id for r in similarity.ivfpq_topk(embs, probe).collect()}
    exact = {r.vec_id for r in similarity.brute_force_topk(embs, probe).collect()}
    assert len(got) == 10
    assert len(got & exact) >= floor


def test_chunk_documents_windows_and_tail(spark):
    """Chunks start every `stride` tokens, the final partial window is
    kept, and short docs yield exactly one whole-doc chunk."""
    from database_cloner_spark.llm.text import chunk_documents

    t40 = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame([(1, t40), (2, "a b c")], ["doc_id", "text"])
    rows = chunk_documents(docs, chunk_tokens=32, stride=16).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_id)
    # 40 tokens, 32-window/16-stride: windows at 0 and 16 (the tail).
    assert [r.n_tokens for r in c1] == [32, 24]
    assert c1[0].chunk_text.startswith("w0 ") and c1[1].chunk_text.startswith("w16 ")
    assert c1[1].chunk_text.endswith("w39")
    assert [(r.chunk_id, r.n_tokens, r.chunk_text) for r in by_doc[2]] == [(0, 3, "a b c")]


def test_pack_bins_invariants(spark, sf_dir):
    """FFD bin packing (q_pack_bins): every doc exactly once; no bin
    over capacity except dedicated oversize bins; FFD quality bound
    n_bins <= (11*OPT + 6)/9 per shard vs the volume lower bound;
    deterministic across runs."""
    import math
    from collections import defaultdict

    from database_cloner_spark.llm.packing import PACK_NS, pack_bins
    from database_cloner_spark.sources import load

    docs = load(spark, sf_dir, "documents")
    ctx = 128  # small ctx so bins actually fill at sf0.001
    out = pack_bins(docs, ctx_len=ctx).collect()

    assert len(out) == docs.count()
    assert len({r.doc_id for r in out}) == len(out)  # each doc once

    fill = defaultdict(int)
    members = defaultdict(list)
    for r in out:
        fill[r.bin_id] += r.n_tokens
        members[r.bin_id].append(r)
        assert r.bin_id // PACK_NS == r.shard  # namespaced per shard
    for b, total in fill.items():
        rows = members[b]
        assert total == rows[0].bin_used
        if total > ctx:  # only a dedicated oversize bin may exceed
            assert len(rows) == 1 and rows[0].oversize
        else:
            assert not any(r.oversize for r in rows)

    # FFD guarantee per shard, oversize bins excluded on both sides
    by_shard = defaultdict(list)
    for r in out:
        if not r.oversize:
            by_shard[r.shard].append(r)
    for shard, rows in by_shard.items():
        n_bins = len({r.bin_id for r in rows})
        opt_lb = max(1, math.ceil(sum(r.n_tokens for r in rows) / ctx))
        assert n_bins <= (11 * opt_lb + 6) / 9, (shard, n_bins, opt_lb)

    again = pack_bins(docs, ctx_len=ctx).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_pandas_cosine_topk_keeps_unscorable_rows(spark):
    """ADVICE r4: with fewer than k scorable vectors, the pandas path
    must match the exact HOF path row-for-row — unscorable vectors
    (NULL / dim-mismatch / zero norm) surface as NULL-cosine rows that
    fill the LIMIT k, ranked last, not silently dropped."""
    from database_cloner_spark.functions.vector import cosine_topk_pandas
    from database_cloner_spark.llm import similarity

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.5, 0.5, 0.0]),
        (2, None),              # NULL vector
        (3, [0.0, 0.0, 0.0]),   # zero norm
        (4, [1.0, 0.0]),        # dim mismatch vs probe
        (5, [0.0, 1.0, 0.0]),
    ]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    probe = embs.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("probe")
    )
    exact = similarity.brute_force_topk(embs, probe, k=6).collect()
    fast = cosine_topk_pandas(embs, [1.0, 0.0, 0.0], k=6).collect()
    assert len(fast) == len(exact) == 6
    assert [r.vec_id for r in fast] == [r.vec_id for r in exact]
    for f, e in zip(fast, exact):
        assert (f.cosine is None) == (e.cosine is None)
        if f.cosine is not None:
            assert abs(f.cosine - e.cosine) <= 1e-4


def test_pack_bins_zero_token_doc_never_joins_oversize_bin(spark):
    """ADVICE r4 (latent): a zero-token doc (NULL text) used to
    first-fit into a dedicated oversize bin (remaining == 0 satisfies
    rem >= n at n == 0). With the -1 sentinel it must land in a normal
    bin; every oversize bin keeps exactly one member."""
    from database_cloner_spark.llm.packing import pack_bins

    rows = [
        (1, "tok " * 600),  # oversize at ctx 512
        (2, None),          # zero tokens
        (3, "tok " * 700),  # oversize
        (4, ""),            # zero tokens
        (5, "a b c"),       # small normal doc
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = pack_bins(docs, ctx_len=512, n_shards=1).collect()
    by_bin: dict[int, list] = {}
    for r in out:
        by_bin.setdefault(r.bin_id, []).append(r)
    for members in by_bin.values():
        if any(m.oversize for m in members):
            assert len(members) == 1, members
    zero_bins = {r.bin_id for r in out if r.n_tokens == 0}
    oversize_bins = {r.bin_id for r in out if r.oversize}
    assert not (zero_bins & oversize_bins)


def test_ed1_uncapped_posting_guard_fires_loudly(spark, monkeypatch):
    """ADVICE r6: the registered q_dedup_names_ed1 runs UNCAPPED
    (max_df=None) for oracle parity, so a hot variant (many identical
    names) fans one reducer row into O(b^2) pairs with no bound. The
    in-plan raise_error guard must fail LOUDLY on such a fixture instead
    of silently melting one reducer — and stay silent on healthy data."""
    import pytest

    from database_cloner_spark.llm import dedup

    hot = spark.createDataFrame(
        [(i, "aaaa") for i in range(12)], "k long, s string"
    )
    monkeypatch.setattr(dedup, "_UNCAPPED_POSTING_GUARD", 5)
    with pytest.raises(Exception, match="uncapped posting list"):
        dedup.edit_distance1_pairs(hot, "k", "s", max_df=None).count()
    monkeypatch.undo()
    # healthy data (posting lists under the real guard) is untouched:
    # 3 identical names -> 3 distinct pairs at distance 0
    assert dedup.edit_distance1_pairs(
        hot.limit(3), "k", "s", max_df=None
    ).count() == 3
    # capped path never hits the guard branch at all
    assert dedup.edit_distance1_pairs(hot, "k", "s", max_df=5).count() == 0


def test_cos_pairs_in_group_edge_semantics():
    """Pure-pandas pin of the r13 vectorized cosine-pair evaluator
    (llm/dedup._cos_pairs_in_group): replicates the JVM pair join's
    edge rules — NaN cosines SURVIVE (Spark NaN-greatest >=), a zero
    denominator is try_divide NULL (dropped), NULL-element rows fold
    to NULL (dropped, via the JVM-computed has_null flag), mixed-dim
    pairs fold to NULL (dropped), and only vec_a < vec_b pairs emit."""
    import math

    import pandas as pd

    from database_cloner_spark.llm.dedup import _cos_pairs_in_group

    fn = _cos_pairs_in_group(0.35)
    rows = pd.DataFrame(
        {
            #  1,2: identical unit vectors  -> cosine 1.0 survives
            #  3: NaN element               -> NaN cosine vs 1/2: kept
            #  4: zero vector               -> den 0 -> dropped
            #  5: dim-3 vector              -> mixed-dim vs all: dropped
            #  6: has_null                  -> dropped entirely
            "vec_id": [1, 2, 3, 4, 5, 6],
            "v": [
                [1.0, 0.0],
                [1.0, 0.0],
                [float("nan"), 1.0],
                [0.0, 0.0],
                [1.0, 0.0, 0.0],
                [1.0, 0.0],
            ],
            "has_null": [False] * 5 + [True],
            "role": ["b"] * 6,
        }
    )
    out = fn(rows)
    got = {
        (int(a), int(b)): c
        for a, b, c in zip(out["vec_a"], out["vec_b"], out["cosine"])
    }
    assert set(got) == {(1, 2), (1, 3), (2, 3), (3, 4)}
    assert got[(1, 2)] == 1.0
    # NaN survives against BOTH unit vectors and the zero vector
    # ((3,4): den = nan*0 = nan != 0, cos nan)
    assert all(math.isnan(got[k]) for k in [(1, 3), (2, 3), (3, 4)])


def test_cos_pairs_in_group_huge_and_dense_survivors():
    """r14 hardening of the vectorized evaluator (ADVICE r13):
    (a) huge-magnitude rows (where the sequential fold could overflow
    to ±Inf while the differently-ordered BLAS pre-score stays finite)
    must be routed to the exact path, never pruned — pinned against a
    pure-python sequential-fold reference; (b) a collapsed cell where
    EVERY pair survives (worst survivor density) emits all pairs with
    the exact fold under the sub-chunked path."""
    import numpy as np
    import pandas as pd

    from database_cloner_spark.llm.dedup import _cos_pairs_in_group

    fn = _cos_pairs_in_group(0.35)

    def seq_cosine(x, y):
        dot = 0.0
        nx = 0.0
        ny = 0.0
        for a, b in zip(x, y):
            dot += a * b
            nx += a * a
            ny += b * b
        den = nx**0.5 * ny**0.5
        return float("nan") if den != den or dot != dot else (
            None if den == 0 else dot / den
        )

    # (a) huge magnitudes: |element| ~ 1e170 -> products ~1e340 overflow
    big = [1e170, -1e170] * 32
    rows = pd.DataFrame(
        {
            "vec_id": [1, 2, 3],
            "v": [big, big, [1.0] * 64],
            "has_null": [False] * 3,
            "role": ["b"] * 3,
        }
    )
    with np.errstate(over="ignore", invalid="ignore"):  # the overflow is the point
        out = fn(rows)
    got = {
        (int(a), int(b)): c
        for a, b, c in zip(out["vec_a"], out["vec_b"], out["cosine"])
    }
    # the sequential reference decides each pair's fate
    import math

    for pair, (x, y) in {
        (1, 2): (big, big),
        (1, 3): (big, [1.0] * 64),
        (2, 3): (big, [1.0] * 64),
    }.items():
        ref = seq_cosine(x, y)
        if ref is None or (not math.isnan(ref) and ref < 0.35):
            assert pair not in got, pair
        else:
            assert pair in got, pair
            if math.isnan(ref):
                assert math.isnan(got[pair])
            else:
                assert got[pair] == ref

    # (b) collapsed cell: 200 identical vectors, all 19900 pairs survive
    n = 200
    vec = [0.5] * 64
    dense = pd.DataFrame(
        {
            "vec_id": list(range(n)),
            "v": [vec] * n,
            "has_null": [False] * n,
            "role": ["b"] * n,
        }
    )
    out2 = fn(dense)
    assert len(out2) == n * (n - 1) // 2
    assert np.all(out2["cosine"].to_numpy() == 1.0)


def test_curate_stopword_regex_equals_hof_count(spark):
    """r14: q_curate_corpus counts stopword tokens with one
    regexp_count over the normalized text instead of the per-token
    filter(isin) HOF. Pin exact equivalence on adversarial token
    layouts: consecutive stopwords, stopword-prefixed words (android,
    oft), stopwords at both ends, empty text, single stopword, and a
    stopword-free doc."""
    from pyspark.sql import functions as F

    from database_cloner_spark.llm.text import STOPWORDS

    rows = [
        ("the a of and in",),          # all stopwords, consecutive
        ("a a a a",),                  # repeated single-char stopword
        ("android oft theory inn",),   # stopword-prefixed non-matches
        ("the android the",),          # stopwords at both ends
        ("",),                         # empty -> split gives ['']
        ("in",),                       # single stopword, no spaces
        ("quick brown fox",),          # none
        ("of course of course of",),   # interleaved
    ]
    df = spark.createDataFrame(rows, "norm_text string")
    toks = F.split(F.col("norm_text"), " ")
    hof = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    sw_re = "(?<=^| )(" + "|".join(STOPWORDS) + ")(?= |$)"
    rx = F.regexp_count("norm_text", F.lit(sw_re))
    bad = df.select("norm_text", hof.alias("h"), rx.alias("r")).filter(
        F.col("h") != F.col("r")
    )
    assert bad.count() == 0, bad.collect()
