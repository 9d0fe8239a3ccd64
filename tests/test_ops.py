"""Training-data ops: text features, dedup (exact/minhash/simhash),
similarity search (brute force + LSH), multimodal plumbing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from smcchecker_spark import imagecodec as ic
from smcchecker_spark.ops import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base + " extra"),  # near dup of 0
        (3, "el perro y el gato de la casa que los una"),
        (4, "completely different content about spark query engines and joins"),
        (5, "THE  quick   brown fox jumps over the lazy dog again and again today"),  # ws/case dup of 0
        (6, ""),
        (7, None),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_text_features(spark, docs):
    feats = {r["doc_id"]: r for r in text.text_features(docs).collect()}
    assert feats[0]["n_tokens"] == 13
    assert feats[6]["n_tokens"] == 0 and feats[7]["n_tokens"] == 0
    assert feats[0]["lang_pred"] == "en"
    assert feats[3]["lang_pred"] == "es"
    assert feats[4]["quality"] > 0
    # fingerprint normalizes case + whitespace
    assert feats[0]["fingerprint"] == feats[5]["fingerprint"]
    assert feats[0]["fingerprint"] != feats[2]["fingerprint"]


def test_repetition_features(spark):
    rows = [
        (1, "spam spam spam spam"),          # one token repeated 4×
        (2, "a b c d"),                      # all distinct
        (3, "go stop go stop go stop"),      # looped bigram
        (4, ""),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in text.repetition_features(df).collect()}
    assert got[1]["dup_word_frac"] == 0.75 and got[1]["top_word_frac"] == 1.0
    assert got[2]["dup_word_frac"] == 0.0 and got[2]["top_word_frac"] == 0.25
    # "go stop" ×3 among 5 bigrams: 3 distinct bigrams → (5-3)/5
    assert got[3]["dup_bigram_frac"] == 0.6
    assert got[4]["dup_word_frac"] == 0.0 and got[4]["top_word_frac"] == 0.0
    assert got[5]["n_tokens"] == 0 and got[5]["dup_bigram_frac"] == 0.0


def test_repetition_features_single_scan(spark):
    df = spark.createDataFrame([(1, "a b a")], "doc_id long, text string")
    plan = (
        text.repetition_features(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_exact_dedup(spark, docs):
    groups = dedup.exact_duplicates(docs, "doc_id")
    got = {r["doc_id"]: r["group_size"] for r in groups.collect()}
    assert got == {0: 3, 1: 3, 5: 3}


def test_minhash_lsh_near_dups(spark, docs):
    pairs = dedup.ngram_jaccard_dedup(
        docs, "doc_id", threshold=0.5, num_hashes=32, bands=16
    )
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    # dup/near-dup cluster {0,1,2,5} found, unrelated docs absent
    assert (0, 1) in got and got[(0, 1)] == 1.0
    assert (0, 2) in got and 0.5 <= got[(0, 2)] < 1.0
    assert not any(3 in p or 4 in p for p in got)


def test_minhash_est_vs_exact(spark, docs):
    cand = dedup.minhash_candidate_pairs(docs, "doc_id", num_hashes=64, bands=32)
    exact = dedup.exact_jaccard_pairs(docs, cand.select("id_a", "id_b"), "doc_id")
    j = {(r["id_a"], r["id_b"]): r["jaccard"] for r in exact.collect()}
    est = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in cand.collect()}
    for p, jac in j.items():
        assert est[p] == pytest.approx(jac, abs=0.25)


def test_minhash_hot_bucket_path_identical_pairs(spark, docs):
    """The chunked broadcast-join path for oversized LSH buckets must
    produce exactly the pairs the in-array fast path produces — forcing
    hot_bucket=2 routes (nearly) every bucket through the hot path."""
    kw = dict(num_hashes=32, bands=16, with_est=False)
    fast = dedup.minhash_candidate_pairs(docs, "doc_id", hot_bucket=256, **kw)
    hot = dedup.minhash_candidate_pairs(docs, "doc_id", hot_bucket=2, **kw)
    fast_set = {(r["id_a"], r["id_b"]) for r in fast.collect()}
    hot_set = {(r["id_a"], r["id_b"]) for r in hot.collect()}
    assert fast_set == hot_set and fast_set


def test_minhash_hot_bucket_complete_quadratic(spark):
    """A planted boilerplate cluster (30 identical docs → one 30-member
    bucket in every band) paired through chunks of 8 must yield all
    30·29/2 pairs exactly once."""
    rows = [(i, "same boilerplate text repeated across the corpus daily")
            for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.minhash_candidate_pairs(
        df, "doc_id", num_hashes=32, bands=16, with_est=False, hot_bucket=8
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert len(pairs) == len(got) == 30 * 29 // 2
    assert got == {(a, b) for a in range(30) for b in range(a + 1, 30)}


def test_simhash_hot_bucket_path_identical_pairs(spark, docs):
    """Forcing hot_bucket=2 routes (nearly) every chunk bucket through
    the chunked broadcast-join path — results must match the fast path."""
    fast = dedup.simhash_near_dups(docs, "doc_id", max_hamming=3, hot_bucket=256)
    hot = dedup.simhash_near_dups(docs, "doc_id", max_hamming=3, hot_bucket=2)
    f = {(r["id_a"], r["id_b"], r["hamming"]) for r in fast.collect()}
    h = {(r["id_a"], r["id_b"], r["hamming"]) for r in hot.collect()}
    assert f == h and f


def test_simhash_planted_hot_bucket_complete(spark):
    """30 identical docs → identical simhash → a 30-member bucket in
    every chunk; paired through chunks of 8 this must yield all 30·29/2
    hamming-0 pairs exactly once (the unguarded self-join this replaces
    would have run one O(m²) task per bucket)."""
    rows = [(i, "same boilerplate text repeated across the corpus daily")
            for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.simhash_near_dups(
        df, "doc_id", max_hamming=0, hot_bucket=8
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert len(pairs) == len(got) == 30 * 29 // 2
    assert all(r["hamming"] == 0 for r in pairs)


def test_connected_components_clusters_and_chains(spark):
    """Large-star/small-star must label every node with its component
    min — including a 12-node path graph, which forces several rounds
    (naive one-hop propagation would need 11)."""
    chain = [(i, i + 1) for i in range(100, 111)]
    pairs = chain + [(1, 2), (2, 3), (7, 8), (50, 40)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {r["id"]: r["component"]
           for r in dedup.connected_components(df).collect()}
    expect = {i: 100 for i in range(100, 112)}
    expect.update({1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 40: 40, 50: 40})
    assert got == expect


def test_resolve_duplicates_keeps_canonical(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in [1, 2, 3, 7, 8, 9]],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(2, 3), (8, 7)], "id_a long, id_b long")
    kept = sorted(
        r["doc_id"]
        for r in dedup.resolve_duplicates(docs, pairs, "doc_id").collect()
    )
    # 3 and 8 collapse into their component minima (2, 7); 1 and 9
    # appear in no pair and pass through
    assert kept == [1, 2, 7, 9]


def test_resolve_duplicates_keep_by_quality(spark):
    docs = spark.createDataFrame(
        [(1, "a", 5.0), (2, "b", 1.0), (3, "c", 9.0),   # cluster {2,3}
         (7, "d", None), (8, "e", 2.0),                  # cluster {7,8}
         (4, "f", 0.0)],                                 # untouched
        "doc_id long, text string, q double",
    )
    pairs = spark.createDataFrame([(2, 3), (7, 8)], "id_a long, id_b long")
    kept = sorted(
        r["doc_id"]
        for r in dedup.resolve_duplicates(
            docs, pairs, "doc_id", keep_by="q"
        ).collect()
    )
    # argmax(q): 3 beats 2; NULL q loses, so 8 beats 7; 1/4 untouched
    assert kept == [1, 3, 4, 8]

    # tie → smallest id wins
    tied = spark.createDataFrame(
        [(5, "x", 1.0), (6, "y", 1.0)], "doc_id long, text string, q double"
    )
    tpairs = spark.createDataFrame([(5, 6)], "id_a long, id_b long")
    kept2 = [
        r["doc_id"]
        for r in dedup.resolve_duplicates(tied, tpairs, "doc_id", keep_by="q").collect()
    ]
    assert kept2 == [5]


def test_simhash_near_dups(spark, docs):
    pairs = dedup.simhash_near_dups(docs, "doc_id", max_hamming=3)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 1) in got  # identical text → hamming 0
    assert not any(4 in p for p in got)


def test_simhash_md5_mode_matches_reference(spark, docs):
    """md5 token-hash mode: the stored fingerprint must equal an
    independent pure-Python simhash (tokenize → md5-first-8-bytes →
    ±1 bit votes → sign), and an unknown hash name fails fast."""
    import hashlib

    got = {r["id"]: r["simhash"]
           for r in dedup.simhash(docs, "doc_id", token_hash="md5").collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}

    def ref(txt):
        votes = [0] * 64
        for t in str(txt or "").lower().split():
            hv = int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big")
            for i in range(64):
                votes[i] += 1 if (hv >> i) & 1 else -1
        fp = sum(1 << i for i in range(64) if votes[i] > 0)
        return fp - (1 << 64) if fp >= (1 << 63) else fp

    assert got == {i: ref(t) for i, t in texts.items()}
    with pytest.raises(ValueError, match="token_hash"):
        dedup.simhash(docs, "doc_id", token_hash="sha1")


def test_phash_near_dups_real_images(spark):
    """Image near-dedup over REAL stored phashes: lossy re-encodes of an
    image land within the Hamming gate; distinct images never pair.
    Result must equal the brute-force all-pairs answer exactly
    (pigeonhole: max_hamming=3 < chunks=4)."""
    from smcchecker_spark import imagecodec as ic

    rng = np.random.default_rng(31)
    rows = []
    for i in range(24):
        arr = rng.integers(0, 256, (24, 24, 3), dtype=np.uint8)
        rows.append((i * 10, ic.phash64(arr)))
        if i < 5:  # plant a near-dup: lossy roundtrip moves phash <= 2 bits
            lossy = ic.decode_fake_lossy(ic.encode_fake_lossy(arr))
            rows.append((i * 10 + 1, ic.phash64(lossy)))
    df = spark.createDataFrame(rows, "image_id long, phash long")
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.phash_near_dups(df, max_hamming=3).collect()
    }
    brute = set()
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            d = ic.hamming64(rows[i][1], rows[j][1])
            if d <= 3:
                a, b = sorted((rows[i][0], rows[j][0]))
                brute.add((a, b, d))
    assert got == brute
    planted = {(i * 10, i * 10 + 1) for i in range(5)}
    assert planted <= {(a, b) for a, b, _ in got}


def test_hamming_near_dups_rejects_lossy_banding():
    import pytest as _pt

    with _pt.raises(ValueError, match="pigeonhole"):
        dedup.hamming_near_dups(None, max_hamming=4, chunks=4)


def test_compound_banding_exact_recall(spark):
    """chunks - max_hamming >= 2 switches to compound bands (combos of
    chunks-h chunks, 32-bit keys at the (4,2) default). Recall must
    stay EXACT vs brute force across every (chunks, h) regime, and the
    banding projection must emit C(chunks, chunks-h) structs."""
    rng = np.random.default_rng(77)
    base = rng.integers(-(2**63), 2**63 - 1, 40, dtype=np.int64)
    rows = [(int(i), int(h)) for i, h in enumerate(base)]
    nid = 1000
    for i in range(8):  # plant near-dups at exact budget h=2
        h = int(base[i]) & (2**64 - 1)  # unsigned view for bit math
        for b in rng.choice(64, 2, replace=False):
            h ^= 1 << int(b)
        if h >= 2**63:  # wrap back to signed int64
            h -= 2**64
        rows.append((nid + i, h))
    df = spark.createDataFrame(rows, "id long, hash long")

    def brute(h):
        out = set()
        for i in range(len(rows)):
            for j in range(i + 1, len(rows)):
                d = bin((rows[i][1] ^ rows[j][1]) & (2**64 - 1)).count("1")
                if d <= h:
                    out.add((*sorted((rows[i][0], rows[j][0])), d))
        return out

    for chunks, h in ((4, 2), (4, 1), (8, 2), (4, 3), (2, 1)):
        got = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in dedup.hamming_near_dups(
                df, id_col="id", hash_col="hash",
                max_hamming=h, chunks=chunks,
            ).collect()
        }
        assert got == brute(h), (chunks, h)


def test_combo_band_structs_count_and_width(spark):
    """C(chunks, band) entries; band values concatenate the selected
    chunks LSB-first so equal-combo equality == chunkwise equality."""
    from math import comb

    df = spark.createDataFrame([(0x0123456789ABCDEF,)], "h long")
    for chunks, band in ((4, 1), (4, 2), (4, 3), (8, 6)):
        row = df.select(
            dedup.combo_band_structs(F.col("h"), chunks, band).alias("b")
        ).collect()[0]["b"]
        assert len(row) == comb(chunks, band)
        assert len({e["chunk"] for e in row}) == len(row)


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(42)
    base = rng.standard_normal((20, 8))
    rows = [(i, [float(x) for x in base[i]]) for i in range(20)]
    # 20 = 0 + tiny noise (near-dup); 21 = exact copy of 1
    rows.append((20, [float(x) for x in base[0] + rng.normal(0, 0.01, 8)]))
    rows.append((21, [float(x) for x in base[1]]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()


def test_brute_force_topk(spark, vectors):
    queries = vectors.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = similarity.brute_force_topk(vectors, queries, k=3, vec_col="embedding")
    rows = sorted(top.collect(), key=lambda r: r["rank"])
    assert rows[0]["neighbor_id"] == 0 and rows[0]["score"] == pytest.approx(1.0)
    assert rows[1]["neighbor_id"] == 20  # the planted near-dup


def test_lsh_topk_finds_self_and_neardup(spark, vectors):
    queries = vectors.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = similarity.lsh_topk(
        vectors, queries, k=3, dim=8, n_planes=4, vec_col="embedding"
    )
    ids = [r["neighbor_id"] for r in sorted(top.collect(), key=lambda r: r["rank"])]
    assert ids[0] == 0 and 20 in ids  # near-identical vectors share buckets


def test_brute_force_topk_partial_matches_plain(spark, vectors):
    """Map-side-reduced top-k must reproduce the plain form exactly
    (same rounded scores, same ranks) — including with tiny partitions
    (repartition(7) forces many partial heaps + the final rank merge)."""
    queries = vectors.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    plain = similarity.brute_force_topk(
        vectors, queries, k=4, vec_col="embedding"
    )
    part = similarity.brute_force_topk_partial(
        vectors.repartition(7), queries, k=4, vec_col="embedding"
    )
    p = {(r["query_id"], r["neighbor_id"], r["score"], r["rank"])
         for r in plain.collect()}
    q = {(r["query_id"], r["neighbor_id"], r["score"], r["rank"])
         for r in part.collect()}
    assert p == q and len(p) == 12


def test_brute_force_topk_partial_tie_break_parity(spark):
    """Regression (review): the per-partition prune must keep the SAME
    rows the final (rounded score desc, id asc) rank keeps — duplicate
    embeddings competing for the last k slots used to be dropped
    arbitrarily by the unrounded argpartition. 8 identical vectors
    spread across partitions + k=3 forces the boundary-tie path."""
    base = [1.0, 0.0, 0.0, 0.0]
    rows = [(i, base) for i in range(8)]  # all ties at score 1.0
    rows += [(100 + i, [0.0, 1.0, 0.0, 0.0]) for i in range(4)]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(5)
    queries = spark.createDataFrame(
        [(0, base)], "query_id long, embedding array<double>"
    )
    plain = similarity.brute_force_topk(corpus, queries, k=3, vec_col="embedding")
    part = similarity.brute_force_topk_partial(corpus, queries, k=3, vec_col="embedding")
    p = [(r["neighbor_id"], r["rank"]) for r in plain.orderBy("rank").collect()]
    q = [(r["neighbor_id"], r["rank"]) for r in part.orderBy("rank").collect()]
    assert p == q == [(0, 1), (1, 2), (2, 3)]


def test_brute_force_topk_partial_empty_queries(spark, vectors):
    empty_q = vectors.filter(F.col("vec_id") < 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.brute_force_topk_partial(vectors, empty_q, k=3, vec_col="embedding")
    assert out.count() == 0


def test_lsh_multiprobe_exhaustive_equals_brute_force(spark, vectors):
    """probe_hamming = n_planes probes every bucket → exact = brute force
    (this is the oracle mode lsh_topk_exhaustive uses); probe_hamming=1
    finds at least everything the plain single-bucket probe finds."""
    queries = vectors.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    kw = dict(k=5, dim=8, n_planes=4, vec_col="embedding")
    exact = similarity.brute_force_topk(vectors, queries, k=5, vec_col="embedding")
    full = similarity.lsh_topk(vectors, queries, probe_hamming=4, **kw)
    e = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in exact.collect()}
    f = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in full.collect()}
    assert e == f
    plain = similarity.lsh_topk(vectors, queries, **kw)
    probe1 = similarity.lsh_topk(vectors, queries, probe_hamming=1, **kw)
    p0 = {(r["query_id"], r["neighbor_id"]) for r in plain.collect()}
    p1 = {(r["query_id"], r["neighbor_id"]) for r in probe1.collect()}
    # multi-probe widens the candidate slice: every self-match still found
    assert all((q, q) in p1 for q in range(3))
    assert len(p1) >= len(p0 & p1)


def test_ivf_topk_recall(spark, vectors):
    """IVF top-k with full probing is exact; partial probing finds the
    self-match and most true neighbors."""
    centroids = similarity.train_centroids(
        vectors, "vec_id", "embedding", k=4, sample=64
    )
    queries = vectors.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.brute_force_topk(vectors, queries, k=5, id_col="vec_id")
    full = similarity.ivf_topk(
        vectors, queries, centroids, k=5, n_probe=4, id_col="vec_id"
    )
    e = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in exact.collect()}
    f = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in full.collect()}
    assert e == f  # probing every cell == brute force
    part = similarity.ivf_topk(
        vectors, queries, centroids, k=5, n_probe=1, id_col="vec_id"
    )
    got = {(r["query_id"], r["neighbor_id"]) for r in part.collect()}
    assert all((q, q) in got for q in range(3))  # self-match always found
    recall = len(got & {(a, b) for a, b, _ in e}) / len(e)
    assert recall >= 0.5


def test_embedding_near_dups(spark, vectors):
    pairs = similarity.embedding_near_dups(
        vectors, threshold=0.99, dim=8, n_planes=4
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 20) in got and (1, 21) in got
    assert all(a in (0, 1) or b in (20, 21) for a, b in got)


def test_embedding_hot_bucket_path_identical_pairs(spark, vectors):
    kw = dict(threshold=0.99, dim=8, n_planes=4)
    fast = similarity.embedding_near_dups(vectors, hot_bucket=256, **kw)
    hot = similarity.embedding_near_dups(vectors, hot_bucket=2, **kw)
    f = {(r["id_a"], r["id_b"], r["cosine"]) for r in fast.collect()}
    h = {(r["id_a"], r["id_b"], r["cosine"]) for r in hot.collect()}
    assert f == h and f


def test_embedding_multiband_recall_and_dedup(spark, vectors):
    """n_bands > 1: recall is a superset of any single band (more
    independent plane sets can only add candidate buckets), pairs are
    deduplicated across bands, and cosine values are unchanged."""
    kw = dict(threshold=0.99, dim=8, n_planes=4)
    one = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in similarity.embedding_near_dups(vectors, **kw).collect()
    }
    multi_rows = similarity.embedding_near_dups(
        vectors, n_bands=4, **kw
    ).collect()
    multi = {(r["id_a"], r["id_b"], r["cosine"]) for r in multi_rows}
    assert len(multi_rows) == len(multi)  # deduped across bands
    assert one <= multi
    assert (0, 20) in {(a, b) for a, b, _ in multi}


def test_embedding_planted_hot_bucket_complete(spark):
    """30 near-identical vectors share every hyperplane sign → ONE
    30-member bucket; chunked pairing (hot_bucket=8) must emit all
    30·29/2 pairs exactly once, each with cosine ≈ 1."""
    rng = np.random.default_rng(7)
    base = rng.standard_normal(8)
    rows = [
        (i, [float(x) for x in base + rng.normal(0, 1e-4, 8)])
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = similarity.embedding_near_dups(
        df, threshold=0.99, dim=8, n_planes=4, hot_bucket=8
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert len(pairs) == len(got) == 30 * 29 // 2
    assert all(r["cosine"] >= 0.99 for r in pairs)


#: (vec_id, bucket under seed 42, bucket under seed 42 + 7919) for
#: lsh_signature with embedding_neardup's two 14-plane bands; ids 0-11
#: are default_rng(2024) 64-d vectors, 100-103 the edge rows built in
#: _lsh_pin_rows. Computed with the per-coordinate literal builder.
_LSH_PIN = [
    (0, 593, 8036), (1, 5585, 5573), (2, 9664, 11752), (3, 13342, 2326),
    (4, 5993, 16369), (5, 7376, 5952), (6, 10068, 14405), (7, 14864, 2670),
    (8, 9215, 3532), (9, 8942, 6662), (10, 7595, 5558), (11, 10250, 10840),
    (100, 0, 0), (101, 0, 0), (102, 16383, 16383), (103, 0, 0),
]


def _lsh_pin_rows():
    rng = np.random.default_rng(2024)
    rows = [(i, [float(x) for x in rng.standard_normal(64)]) for i in range(12)]
    v = [float(x) for x in rng.standard_normal(64)]
    return rows + [
        (100, None),                              # null vector
        (101, v[:5] + [None] + v[6:]),            # null element
        (102, v[:7] + [float("nan")] + v[8:]),    # NaN: every dot is NaN
        (103, v[:63]),                            # one element short
    ]


def test_lsh_signature_bucket_pin(spark):
    """Bucket ids of embedding_neardup's two bands stay what they were,
    edge rows included: NULL dots give 0 bits, NaN dots 1 bits."""
    df = spark.createDataFrame(
        _lsh_pin_rows(), "vec_id long, embedding array<double>"
    )
    sig = {
        s: similarity.lsh_signature(
            F.col("embedding"), similarity._hyperplanes(64, 14, s)
        )
        for s in (42, 42 + 7919)
    }
    got = df.select(
        "vec_id", sig[42].alias("b0"), sig[42 + 7919].alias("b1")
    ).collect()
    assert sorted(tuple(r) for r in got) == _LSH_PIN


def test_lsh_signature_planes_bit_exact(spark):
    """The plane constants in the optimized plan equal _hyperplanes'
    doubles bit for bit (Spark prints doubles in round-trip form)."""
    import re
    import struct

    planes = similarity._hyperplanes(64, 14, 42 + 7919)
    df = spark.createDataFrame([([1.0] * 64,)], "embedding array<double>")
    q = df.select(similarity.lsh_signature(F.col("embedding"), planes))
    plan = q._jdf.queryExecution().optimizedPlan().toString()
    num = r"-?\d+\.\d+(?:E-?\d+)?"
    got = [
        [float(x) for x in m.split(",")]
        for m in re.findall(rf"\[({num}(?:,{num})*)\]", plan)
    ]
    assert len(got) == len(planes)
    assert [struct.pack("<d", x) for r in got for x in r] == [
        struct.pack("<d", x) for r in planes for x in r
    ]


def test_lsh_signature_build_jvm_calls(spark, monkeypatch):
    """Building one 14x64 signature crosses into the JVM a bounded number
    of times: the plane matrix is one constant, not one Column per
    coordinate (that builder made 5,920 calls)."""
    from py4j.clientserver import ClientServerConnection

    planes = similarity._hyperplanes(64, 14, 42)
    calls = []
    send = ClientServerConnection.send_command

    def counting(self, *args, **kwargs):
        calls.append(1)
        return send(self, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    similarity.lsh_signature(F.col("embedding"), planes)
    monkeypatch.undo()
    assert 0 < len(calls) <= 500


@pytest.fixture(scope="module")
def image_df(spark):
    rng = np.random.default_rng(3)
    rows = []
    for i in range(6):
        arr = rng.integers(0, 256, (12, 16, 3), dtype=np.uint8)
        rows.append((i, ic.encode_png(arr)))
    rows.append((6, b"not an image"))
    return spark.createDataFrame(rows, "id long, bytes binary").cache()


def test_multimodal_meta_and_features(spark, image_df):
    out = multimodal.with_image_features(
        multimodal.with_image_meta(image_df)
    ).collect()
    by_id = {r["id"]: r for r in out}
    assert by_id[0]["img_meta"]["ok"] and by_id[0]["img_meta"]["w"] == 16
    assert by_id[0]["img_meta"]["n_pixels"] == 192
    assert 0 <= by_id[0]["img_feat"]["mean_r"] <= 255
    assert by_id[6]["img_meta"]["ok"] is False


def test_multimodal_resize(spark, image_df):
    resized = image_df.withColumn(
        "small", multimodal.image_resize_udf(8, 8)(F.col("bytes"))
    ).collect()
    ok = [r for r in resized if r["id"] == 0][0]
    arr, fmt = ic.decode_image(bytes(ok["small"]))
    assert arr.shape == (8, 8, 3) and fmt == "png"
    bad = [r for r in resized if r["id"] == 6][0]
    assert bad["small"] is None


def test_audio_non_wav_flagged_without_fake(spark):
    # without the fake fallback, a non-WAV payload is honestly not-ok
    df = spark.createDataFrame(
        [(0, b"\x01\x02\x03\x04mp3ish")], "id long, audio binary"
    )
    out = df.select(
        multimodal.audio_meta_udf(deterministic_fake=False)(
            F.col("audio")
        ).alias("m")
    ).collect()[0]["m"]
    assert out["ok"] is False and out["n_samples"] is None


def test_audio_real_wav(spark):
    """WAV decode is REAL (wavcodec): stereo 16-bit PCM through the
    engine UDF reports the true rate/sample count/RMS; truncated WAV is
    flagged, not crashed."""
    from smcchecker_spark import wavcodec

    t = np.linspace(0, 1, 800)
    samples = np.stack(
        [np.sin(t * 50) * 9000, np.cos(t * 30) * 4000], axis=1
    ).astype(np.int16)
    wav = wavcodec.encode_wav(samples, sample_rate=8000)
    dec, rate = wavcodec.decode_wav(wav)
    assert rate == 8000 and np.array_equal(dec, samples)  # exact roundtrip
    df = spark.createDataFrame(
        [(0, wav), (1, wav[:20]), (2, None)], "id long, audio binary"
    )
    out = {
        r["id"]: r["m"]
        for r in df.select(
            "id",
            multimodal.audio_meta_udf()(F.col("audio")).alias("m"),
        ).collect()
    }
    assert out[0]["ok"] and out[0]["n_samples"] == 800
    assert out[0]["sample_rate"] == 8000 and out[0]["rms"] > 1000
    assert out[1]["ok"] is False and out[2]["ok"] is False


def test_avi_hostile_nesting_and_corruption():
    """The RIFF walk is iterative: a hostile AVI with thousands of nested
    LISTs must raise nothing worse than ValueError (never RecursionError),
    and structurally corrupt chunks must raise ValueError."""
    import struct

    from smcchecker_spark import avicodec

    inner = b"00dc" + struct.pack("<I", 4) + b"ABCD"
    body = inner
    for _ in range(5000):
        body = b"LIST" + struct.pack("<I", 4 + len(body)) + b"nest" + body
    avi = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"AVI " + body
    assert avicodec.demux_avi_mjpeg(avi) == [b"ABCD"]

    with pytest.raises(ValueError, match="truncated AVI chunk"):
        avicodec.demux_avi_mjpeg(
            b"RIFF" + struct.pack("<I", 100) + b"AVI "
            + b"00dc" + struct.pack("<I", 999) + b"xx"
        )
    with pytest.raises(ValueError, match="LIST shorter than kind"):
        avicodec.demux_avi_mjpeg(
            b"RIFF" + struct.pack("<I", 12) + b"AVI "
            + b"LIST" + struct.pack("<I", 2) + b"xx"
        )
    # a LIST whose declared size overruns its parent must not be walked
    with pytest.raises(ValueError, match="truncated AVI chunk"):
        avicodec.demux_avi_mjpeg(
            b"RIFF" + struct.pack("<I", 16) + b"AVI "
            + b"LIST" + struct.pack("<I", 4000) + b"movi" + inner
        )


def test_video_real_avi_mjpeg(spark):
    """AVI-MJPEG demux is REAL (avicodec + jpegcodec): frames come back
    as PNGs of the JPEG-decoded pixels; a corrupt frame is skipped while
    the rest of the video survives."""
    from smcchecker_spark import avicodec, jpegcodec

    rng = np.random.default_rng(5)
    frames_px = [
        rng.integers(0, 256, (16, 16, 3), dtype=np.uint8) for _ in range(5)
    ]
    jpegs = [jpegcodec.encode_jpeg(f, quality=98) for f in frames_px]
    avi = avicodec.encode_avi_mjpeg(jpegs, 16, 16, fps=10)
    assert avicodec.sniff_avi(avi)
    assert [len(f) for f in avicodec.demux_avi_mjpeg(avi)] == [
        len(j) for j in jpegs
    ]
    # corrupt frame 2 in a second video
    bad_jpegs = list(jpegs)
    bad_jpegs[2] = b"\xff\xd8\xffgarbage"
    avi_bad = avicodec.encode_avi_mjpeg(bad_jpegs, 16, 16, fps=10)
    df = spark.createDataFrame(
        [("good", avi), ("bad", avi_bad), ("junk", b"RIFFxxxxAVI ")],
        "video_id string, video_bytes binary",
    )
    out = multimodal.video_frame_sample(df, every_n=2).collect()
    got = {(r["video_id"], r["frame_idx"]) for r in out}
    assert got == {("good", 0), ("good", 2), ("good", 4),
                   ("bad", 0), ("bad", 4)}  # bad frame 2 skipped
    for r in out:
        arr, fmt = ic.decode_image(bytes(r["frame_png"]))
        assert fmt == "png"
        src = frames_px[r["frame_idx"]]
        # MJPEG frames are lossy: compare via PSNR, not equality
        assert ic.psnr(src, arr) >= 40.0


def test_audio_fake_pcm(spark):
    pcm = (np.sin(np.linspace(0, 100, 1600)) * 10000).astype("<i2").tobytes()
    df = spark.createDataFrame([(0, pcm), (1, None)], "id long, audio binary")
    out = {
        r["id"]: r["m"]
        for r in df.select(
            "id", multimodal.audio_meta_udf(deterministic_fake=True)(F.col("audio")).alias("m")
        ).collect()
    }
    assert out[0]["ok"] and out[0]["n_samples"] == 1600
    assert out[0]["rms"] > 1000
    assert out[1]["ok"] is False


def test_video_fake_demux(spark):
    """FVID demux: one row explodes to every_n-sampled frame rows whose
    PNG payloads decode back to the original frames."""
    rng = np.random.default_rng(3)
    vids = {
        f"v{k}": [
            rng.integers(0, 256, (6, 5, 3), dtype=np.uint8) for _ in range(7)
        ]
        for k in range(3)
    }
    rows = [(vid, multimodal.encode_fake_video(frames)) for vid, frames in vids.items()]
    rows.append(("corrupt", b"notavideo"))
    df = spark.createDataFrame(rows, "video_id string, video_bytes binary")
    out = multimodal.video_frame_sample(
        df, every_n=3, deterministic_fake=True
    ).collect()
    got = {(r["video_id"], r["frame_idx"]) for r in out}
    assert got == {(f"v{k}", i) for k in range(3) for i in (0, 3, 6)}
    for r in out:
        arr, fmt = ic.decode_image(bytes(r["frame_png"]))
        assert fmt == "png"
        assert np.array_equal(arr, vids[r["video_id"]][r["frame_idx"]])


@pytest.mark.parametrize("seed", [7, 99])
@pytest.mark.parametrize("driver_max_edges", [500_000, 0])
def test_connected_components_random_graph_vs_union_find(
    spark, seed, driver_max_edges
):
    """Seeded random sparse graphs (mix of clusters, chains, isolated
    pairs) checked against a plain union-find oracle — BOTH execution
    paths (driver-side union-find for bounded slivers, and the
    distributed large/small-star loop forced via driver_max_edges=0)
    must produce identical min-id labels."""
    rng = np.random.default_rng(seed)
    n = 200
    edges = [(int(a), int(b))
             for a, b in rng.integers(0, n, size=(150, 2)) if a != b]

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {v for e in edges for v in e}
    want = {v: find(v) for v in touched}

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["component"]
           for r in dedup.connected_components(
               df, driver_max_edges=driver_max_edges
           ).collect()}
    assert got == want


@pytest.mark.parametrize("driver_max_edges", [500_000, 0])
def test_connected_components_string_ids(spark, driver_max_edges):
    """input_hint ids are strings (image_id) — the algorithm needs only a
    total order, never a numeric cast (ANSI cast of 'img-…' would throw).
    Both execution paths."""
    pairs = spark.createDataFrame(
        [("img-b", "img-a"), ("img-b", "img-c"), ("img-x", "img-y")],
        "id_a string, id_b string",
    )
    got = {r["id"]: r["component"]
           for r in dedup.connected_components(
               pairs, driver_max_edges=driver_max_edges
           ).collect()}
    assert got == {"img-a": "img-a", "img-b": "img-a", "img-c": "img-a",
                   "img-x": "img-x", "img-y": "img-x"}


def test_connected_components_driver_path_is_one_bounded_collect(
    spark, spark_jobs
):
    """A sliver under ``driver_max_edges`` is labeled by the driver after
    ONE bounded collect: no checkpoint and no separate count (which
    together started 5 jobs for this 4-pair graph)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (7, 8)], "id_a long, id_b long"
    )
    with spark_jobs("test_cc_bounded_collect") as jobs:
        comp = dedup.connected_components(pairs)
    assert len(jobs) <= 2, jobs
    assert sorted(comp.collect()) == [
        (1, 1), (2, 1), (3, 1), (7, 7), (8, 7)
    ]


def _ids(df):
    return {r["vec_id"] for r in df.select("vec_id").collect()}


def test_semantic_dedup_min_id(spark, vectors):
    """k=1 (exhaustive cell) with the deterministic min-id keep rule:
    planted dups (0,20) and (1,21) collapse to 0 and 1; the 18 distinct
    base vectors (max mutual cosine 0.78 on this seed) pass through."""
    out = similarity.semantic_dedup(
        vectors, k=1, vec_col="embedding", threshold=0.95
    )
    assert _ids(out) == set(range(20))


def test_semantic_dedup_monotone_in_k(spark, vectors):
    """Cells PARTITION the corpus, so the k-cell edge set ⊆ the
    single-cell edge set, components only get finer, and a coarse
    component's min survives in its finer sub-component: survivors are
    monotone — every k=1 survivor also survives at k>1."""
    s1 = _ids(
        similarity.semantic_dedup(
            vectors, k=1, vec_col="embedding", threshold=0.95
        )
    )
    s4 = _ids(
        similarity.semantic_dedup(
            vectors, k=4, vec_col="embedding", threshold=0.95
        )
    )
    assert s1 <= s4


def test_semantic_dedup_far_from_centroid_keep_rule(spark):
    """Paper keep rule: within a dup cluster, keep the member LEAST
    similar to its assigned centroid. Explicit e1 centroid; a=2·e1
    (cent_cos 1.0) pairs with b=e1+0.2·e2 (cent_cos≈0.98); c=e2 is no
    one's dup. far_from_centroid keeps b despite a's smaller id — the
    min_id rule on the same input keeps a instead."""
    e = [
        (0, [2.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.2, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(e, "vec_id long, embedding array<double>")
    centroids = np.array([[1.0, 0.0, 0.0, 0.0]])
    far = similarity.semantic_dedup(
        df, centroids=centroids, vec_col="embedding",
        threshold=0.95, keep="far_from_centroid",
    )
    assert _ids(far) == {1, 2}
    near = similarity.semantic_dedup(
        df, centroids=centroids, vec_col="embedding", threshold=0.95
    )
    assert _ids(near) == {0, 2}
    with pytest.raises(ValueError):
        similarity.semantic_dedup(
            df, centroids=centroids, vec_col="embedding", keep="best"
        )


def test_semantic_dup_pairs_hot_cell_complete(spark):
    """A cell is the hot-bucket case by construction (~n/k members):
    with hot_bucket=8 forcing the chunked broadcast path, a 30-member
    near-identical cell must yield all 30·29/2 pairs exactly once."""
    rng = np.random.default_rng(7)
    base = rng.standard_normal(8)
    rows = [
        (i, [float(x) for x in base + rng.normal(0, 1e-4, 8)])
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    centroids = np.stack([base / np.linalg.norm(base), -base / np.linalg.norm(base)])
    pairs = similarity.semantic_dup_pairs(
        df, centroids, vec_col="embedding", threshold=0.99, hot_bucket=8
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert len(pairs) == len(got) == 30 * 29 // 2
    assert all(r["cosine"] >= 0.99 for r in pairs)


# ---------------------------------------------------------------------------
# ops/text.py unigram_lm / lm_score
# ---------------------------------------------------------------------------


def test_unigram_lm_hand_computed(spark):
    import math

    df = spark.createDataFrame(
        [(0, "a a b"), (1, "a c")], "doc_id long, text string"
    )
    m = {r["token"]: r for r in text.unigram_lm(df).collect()}
    # total=5, V=3, denom = 5 + 1*(3+1) = 9
    assert m["a"]["tf"] == 3
    assert m["a"]["logp"] == round(math.log(4 / 9), 9)
    assert m["b"]["logp"] == round(math.log(2 / 9), 9)
    assert m["a"]["oov_logp"] == round(math.log(1 / 9), 9)


def test_lm_score_oov_and_ranking(spark):
    import math

    train = spark.createDataFrame(
        [(0, "the cat sat on the mat"), (1, "the dog sat on the rug")],
        "doc_id long, text string",
    )
    model = text.unigram_lm(train)
    score = spark.createDataFrame(
        [(10, "the cat sat"), (11, "zzz qqq xxx"), (12, "")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in text.lm_score(score, model, "doc_id").collect()}
    assert set(got) == {10, 11}  # empty doc emits no row
    assert got[10]["avg_neg_logp"] < got[11]["avg_neg_logp"]  # junk ranks worse
    # doc 11 is ALL OOV: avg == -oov_logp exactly
    oov = model.select("oov_logp").first()[0]
    assert got[11]["avg_neg_logp"] == round(-oov, 6)
    assert got[11]["n_scored"] == 3


def test_lm_score_broadcast_parity_and_min_tf(spark):
    train = spark.createDataFrame(
        [(0, "x x y z"), (1, "x w")], "doc_id long, text string"
    )
    model = text.unigram_lm(train, min_tf=2)  # only "x" survives
    assert [r["token"] for r in model.collect()] == ["x"]
    score = spark.createDataFrame([(5, "x y w")], "doc_id long, text string")
    a = text.lm_score(score, model, "doc_id").collect()
    b = text.lm_score(score, model, "doc_id", broadcast_model=False).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    # pruned tokens (y, w) score exactly like unseen ones: denom uses FULL vocab
    import math

    # total=6, V=4, denom=11; x: ln(4/11), oov: ln(1/11)
    row = a[0]
    want = -(math.log(4 / 11) * 1 + math.log(1 / 11) * 2) / 3
    assert abs(row["avg_neg_logp"] - want) < 1e-5


def test_bigram_counts_hand_computed(spark):
    df = spark.createDataFrame(
        [(0, "a b a b c"), (1, "A b"), (2, "solo"), (3, "")],
        "doc_id long, text string",
    )
    got = {(r["token_a"], r["token_b"]): r["tf"]
           for r in text.bigram_counts(df).collect()}
    # doc0: (a,b),(b,a),(a,b),(b,c); doc1 lowercased: (a,b); docs 2,3 none
    assert got == {("a", "b"): 3, ("b", "a"): 1, ("b", "c"): 1}
    top = text.bigram_counts(df, top_n=2).collect()
    assert [(r["token_a"], r["token_b"]) for r in top] == [("a", "b"), ("b", "a")]
    assert {tuple(r)[:2] for r in text.bigram_counts(df, min_tf=2).collect()} == {("a", "b")}


def test_bigram_lm_score_hand_computed(spark):
    import math

    train = spark.createDataFrame(
        [(0, "a b a b"), (1, "b c")], "doc_id long, text string"
    )
    score = spark.createDataFrame(
        [(10, "a b"), (11, "b a"), (12, "zz"), (13, "")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in text.bigram_lm_score(
        score, train, "doc_id", lam=0.7
    ).collect()}
    # train: T=6 tokens, V=3 (a,b,c); uni tf: a=2,b=3,c=1
    # bigrams: (a,b)x2, (b,a)x1, (b,c)x1; ctx: a->2, b->2
    T, V, al = 6, 3, 1.0
    du = T + al * (V + 1)
    def pu(tf): return (tf + al) / du
    def pb(c_ab, ctx): return (c_ab + al) / (ctx + al * (V + 1))
    # doc 10 "a b": first ln(pu(a)); then ln(.7*pb(2,ctx=2)+.3*pu(b))
    want10 = -(math.log(pu(2)) + math.log(0.7 * pb(2, 2) + 0.3 * pu(3))) / 2
    assert abs(got[10]["avg_neg_logp"] - want10) < 1e-6
    # doc 11 "b a": pair (b,a) seen once, ctx(b)=2
    want11 = -(math.log(pu(3)) + math.log(0.7 * pb(1, 2) + 0.3 * pu(2))) / 2
    assert abs(got[11]["avg_neg_logp"] - want11) < 1e-6
    # doc 12: single OOV token -> unigram floor only, n=1
    assert got[12]["n_scored"] == 1
    assert abs(got[12]["avg_neg_logp"] + math.log(pu(0))) < 1e-6
    assert 13 not in got  # empty doc
    # word-salad ranks worse than fluent under the bigram factor
    fluent = spark.createDataFrame([(20, "a b a b")], "doc_id long, text string")
    salad = spark.createDataFrame([(21, "b b a a")], "doc_id long, text string")
    f = text.bigram_lm_score(fluent, train, "doc_id").first()["avg_neg_logp"]
    s = text.bigram_lm_score(salad, train, "doc_id").first()["avg_neg_logp"]
    assert f < s


def test_transcode_images(spark):
    """Format normalization: every decodable payload re-encodes to the
    target with refreshed (bytes, fmt, w, h, phash); undecodable ones are
    flagged, never dropped; the refreshed metadata validates clean."""
    import numpy as np

    from smcchecker_spark import fixtures, imagecodec as icod
    from smcchecker_spark import jpegcodec as jc
    from smcchecker_spark import webpcodec as wc
    from smcchecker_spark.ops import multimodal

    # scalar invariants per source format, checked off-Spark first
    rng = np.random.default_rng(3)
    arr = rng.integers(0, 256, (12, 17, 3), dtype=np.uint8)
    for payload in (
        icod.encode_png(arr),
        icod.encode_fake_lossy(arr),
        jc.encode_jpeg(arr, quality=98),
        wc.encode_webp(arr),
    ):
        src = icod.decode_image(payload)[0]
        for target, codec_dec in (
            ("png", icod.decode_png),
            ("webp", wc.decode_webp),
        ):
            udf_like = None  # exercised through Spark below; here: codecs
            if target == "png":
                new = icod.encode_png(src)
            else:
                new = wc.encode_webp(src)
            assert np.array_equal(codec_dec(new), src)  # lossless targets

    df = fixtures.generate_images(spark, n_rows=400, n_parts=4, seed=42)
    out = multimodal.transcode_images(df, target="png").cache()
    flags = [fixtures.expected_flags(i) for i in range(400)]
    n_err_exp = sum(1 for f in flags if f["truncated"] or f["bitflip"])
    rows = out.collect()
    errs = [r for r in rows if r["transcode_err"] is not None]
    assert len(errs) == n_err_exp
    assert all(r["bytes"] is None and r["fmt"] is None for r in errs)
    oks = [r for r in rows if r["transcode_err"] is None]
    assert all(r["fmt"] == "png" for r in oks)
    # refreshed metadata is self-consistent: decode agrees with stored
    # dims/fmt (checked driver-side), and the FULL consistency gate —
    # including phash — passes IN THE ENGINE. phash must be recomputed
    # worker-side, not here: BLAS accumulation order differs between the
    # driver and Spark workers, flipping tie bits (luma() docstring).
    for r in oks[:20]:
        arr2, fmt2 = icod.decode_image(bytes(r["bytes"]))
        assert fmt2 == "png"
        assert (arr2.shape[1], arr2.shape[0]) == (r["w"], r["h"])
    from smcchecker_spark.compile import compile_suite
    from smcchecker_spark.constraints import Suite
    from smcchecker_spark.image import ImageConsistent

    suite = Suite("post", "images", [ImageConsistent()])
    v = compile_suite(
        out.filter(out["transcode_err"].isNull()),
        suite,
        row_id_col="image_id",
        part_id_col="part_id",
    )
    assert v.count() == 0
    out.unpersist()


def test_transcode_lossy_target_phash_consistent(spark):
    """JPEG target: stored phash comes from a re-decode of the NEW
    payload, so consistency validation over the transcoded table agrees
    even though the pixels changed."""
    import numpy as np

    from smcchecker_spark import imagecodec as icod
    from smcchecker_spark.ops import multimodal

    rng = np.random.default_rng(4)
    rows = [
        (f"t{i}", icod.encode_png(
            rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
        ))
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    out = multimodal.transcode_images(df, target="jpeg", quality=90)
    collected = out.collect()
    for r in collected:
        assert r["transcode_err"] is None and r["fmt"] == "jpeg"
        arr, fmt = icod.decode_image(bytes(r["bytes"]))
        assert fmt == "jpeg"
        assert (arr.shape[1], arr.shape[0]) == (r["w"], r["h"])
    # phash recompute == stored must hold worker-side (see BLAS tie-bit
    # note in test_transcode_images) — assert through the engine gate
    from smcchecker_spark.compile import compile_suite
    from smcchecker_spark.constraints import Suite
    from smcchecker_spark.image import ImageConsistent

    suite = Suite("post", "images", [ImageConsistent()])
    v = compile_suite(
        out.withColumn("part_id", F.lit(0)),
        suite,
        row_id_col="image_id",
        part_id_col="part_id",
    )
    assert v.count() == 0


def test_audio_feature_vector_analytic_signals():
    """audio_feature_vector against signals with known answers: a pure
    tone's centroid/peak/rolloff sit at its frequency, zcr at 2f/rate,
    full-scale rms at 1/sqrt(2); silence is all-zero; white noise has a
    flat spectrum whose centroid is ~nyquist/2."""
    rate = 8000
    n = rate  # 1 second
    t = np.arange(n) / rate
    tone = (np.sin(2 * np.pi * 1000 * t) * 32767).astype(np.int16)
    dur, rms, zcr, cen, roll, peak = multimodal.audio_feature_vector(tone, rate)
    assert abs(dur - 1.0) < 1e-9
    assert abs(rms - 1 / np.sqrt(2)) < 0.01
    assert abs(zcr - 2 * 1000 / rate) < 0.01
    assert abs(peak - 1000) < 2.0       # within one bin
    assert abs(cen - 1000) < 25.0       # leakage skews slightly
    assert abs(roll - 1000) < 25.0

    silent = np.zeros(4000, dtype=np.int16)
    dur, rms, zcr, cen, roll, peak = multimodal.audio_feature_vector(silent, rate)
    assert (rms, zcr, cen, roll, peak) == (0.0, 0.0, 0.0, 0.0, 0.0)
    assert abs(dur - 0.5) < 1e-9

    # stereo mean-mix: L = -R cancels to silence
    l = (np.sin(2 * np.pi * 500 * t) * 20000).astype(np.int16)
    st = np.stack([l, -l], axis=1)
    _, rms, _, cen, _, _ = multimodal.audio_feature_vector(st, rate)
    assert rms < 1e-4 and cen == 0.0

    noise = (np.random.default_rng(7).integers(-20000, 20000, n)).astype(np.int16)
    _, _, _, cen, roll, _ = multimodal.audio_feature_vector(noise, rate)
    assert abs(cen - rate / 4) < rate * 0.03   # flat spectrum -> nyquist/2
    assert roll > rate * 0.3                   # energy spread wide


def test_audio_features_udf_end_to_end(spark):
    """The Arrow UDF path: real WAV rows get features, garbage and
    truncated payloads fail their row with an error string."""
    from smcchecker_spark import wavcodec

    rate = 8000
    t = np.arange(rate) / rate
    tone = (np.sin(2 * np.pi * 440 * t) * 30000).astype(np.int16)
    wav = wavcodec.encode_wav(tone, sample_rate=rate)
    df = spark.createDataFrame(
        [(0, wav), (1, b"\x00" * 40), (2, wav[:30]), (3, None)],
        "id long, bytes binary",
    )
    out = {
        r["id"]: r["audio_feat"]
        for r in multimodal.with_audio_features(df).collect()
    }
    assert out[0]["ok"] and out[0]["sample_rate"] == rate
    assert abs(out[0]["peak_hz"] - 440) < 2.0
    assert abs(out[0]["zcr"] - 2 * 440 / rate) < 0.01
    assert not out[1]["ok"] and out[1]["err"] == "not a WAV payload"
    assert not out[2]["ok"] and "WAV" in out[2]["err"]
    assert not out[3]["ok"]


def test_majority_phash_votes_bits():
    # 3 voters: bit set where >=2 agree; ties (2-of-4) set the bit
    assert multimodal.majority_phash([0b1100, 0b1010, 0b1001]) == 0b1000
    assert multimodal.majority_phash([0b1, 0b0]) == 0b1  # tie -> set
    assert multimodal.majority_phash([7]) == 7
    # sign bit roundtrips through the int64 output
    top = 1 << 63
    got = multimodal.majority_phash([top, top, 0])
    assert got == -(1 << 63)
    with pytest.raises(ValueError):
        multimodal.majority_phash([])


def test_video_fingerprint_dedups_reencodes(spark):
    """A re-encoded video's majority phash stays within a few Hamming
    bits of the original (frame hashes wobble, the vote absorbs it);
    an unrelated video is far; corrupt payloads fail their row."""
    from smcchecker_spark import avicodec, jpegcodec

    rng = np.random.default_rng(11)
    # structured frames (noise phashes are degenerate under re-encode)
    y, x = np.mgrid[0:32, 0:32]
    frames_px = [
        np.clip(
            np.stack([(x * 7 + y * 3 + 40 * k) % 256] * 3, -1)
            + rng.integers(0, 16, (32, 32, 3)),
            0, 255,
        ).astype(np.uint8)
        for k in range(8)
    ]
    other_px = [
        rng.integers(0, 256, (32, 32, 3), dtype=np.uint8) for _ in range(8)
    ]

    def avi(frames, q):
        return avicodec.encode_avi_mjpeg(
            [jpegcodec.encode_jpeg(f, quality=q) for f in frames], 32, 32
        )

    df = spark.createDataFrame(
        [
            ("orig", avi(frames_px, 95)),
            ("reenc", avi(frames_px, 80)),   # lossy re-encode
            ("other", avi(other_px, 95)),
            ("junk", b"not a video"),
        ],
        "video_id string, video_bytes binary",
    )
    out = {
        r["video_id"]: r
        for r in multimodal.video_fingerprint(df, every_n=2).collect()
    }
    assert out["orig"]["ok"] and out["orig"]["n_sampled"] == 4
    assert len(out["orig"]["frame_phashes"]) == 4
    assert not out["junk"]["ok"] and out["junk"]["err"]

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    near = ham(out["orig"]["video_phash"], out["reenc"]["video_phash"])
    far = ham(out["orig"]["video_phash"], out["other"]["video_phash"])
    assert near <= 6, near
    assert far >= 16, far


def test_image_quality_vector_analytic():
    """Quality features against constructions with known behavior."""
    rng = np.random.default_rng(9)
    noisy = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    # box-blur the noise: same content, interior contrast crushed
    f = noisy.astype(np.float64)
    blurred = f.copy()
    for _ in range(4):
        blurred[1:-1, 1:-1] = (
            blurred[:-2, 1:-1] + blurred[2:, 1:-1]
            + blurred[1:-1, :-2] + blurred[1:-1, 2:]
            + blurred[1:-1, 1:-1]
        ) / 5.0
    blurred = np.clip(blurred, 0, 255).astype(np.uint8)
    b_sharp, _, _, _ = multimodal.image_quality_vector(noisy)
    b_soft, _, _, _ = multimodal.image_quality_vector(blurred)
    assert b_sharp > 4 * b_soft > 0

    solid = np.full((16, 16, 3), 77, np.uint8)
    blur, lm, ls, cf = multimodal.image_quality_vector(solid)
    assert blur == 0.0 and ls == 0.0 and cf == 0.0
    assert abs(lm - 77.0) < 1e-9

    gray = np.repeat(
        rng.integers(0, 256, (20, 20, 1), dtype=np.uint8), 3, axis=2
    )
    colorful = rng.integers(0, 256, (20, 20, 3), dtype=np.uint8)
    _, _, _, cf_gray = multimodal.image_quality_vector(gray)
    _, _, _, cf_col = multimodal.image_quality_vector(colorful)
    assert cf_gray < 1e-9 < 20 < cf_col

    # sub-3x3: no Laplacian interior, defined as 0
    tiny = rng.integers(0, 256, (2, 5, 3), dtype=np.uint8)
    assert multimodal.image_quality_vector(tiny)[0] == 0.0


def test_image_quality_udf_end_to_end(spark):
    rng = np.random.default_rng(10)
    arr = rng.integers(0, 256, (24, 24, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [(0, ic.encode_png(arr)), (1, b"garbage")], "id long, bytes binary"
    )
    out = {
        r["id"]: r["img_quality"]
        for r in multimodal.with_image_quality(df).collect()
    }
    blur, lm, ls, cf = multimodal.image_quality_vector(arr)
    assert out[0]["ok"] and abs(out[0]["blur"] - round(blur, 4)) < 1e-9
    assert abs(out[0]["colorfulness"] - round(cf, 4)) < 1e-9
    assert not out[1]["ok"] and out[1]["err"]


def test_train_centroids_full_matches_numpy(spark, vectors):
    """The distributed Lloyd's loop (one aggregation per iteration)
    reproduces the numpy reference exactly: same init (k lowest-id
    vectors normalized), same argmax tie rule, same empty-cell
    keep-old update."""
    k, iters = 4, 3
    C = similarity.train_centroids_full(
        vectors, k=k, iters=iters
    )
    rows = vectors.orderBy("vec_id").collect()
    X = np.array([list(r["embedding"]) for r in rows])
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    Cr = Xn[:k].copy()
    for _ in range(iters):
        a = np.argmax(Xn @ Cr.T, axis=1)
        C2 = Cr.copy()
        for c in range(k):
            m = Xn[a == c]
            if len(m):
                C2[c] = m.mean(axis=0)
        C2 /= np.maximum(np.linalg.norm(C2, axis=1, keepdims=True), 1e-12)
        Cr = C2
    assert np.abs(C - Cr).max() < 1e-9
    # assignments agree too, and the near-dup pairs co-cluster
    got = {
        r["vec_id"]: r["cell"]
        for r in similarity.assign_cells(vectors, C).collect()
    }
    ref = np.argmax(Xn @ Cr.T, axis=1)
    assert all(got[i] == ref[i] for i in range(len(ref)))
    assert got[20] == got[0] and got[21] == got[1]


def test_train_centroids_full_feeds_ivf(spark, vectors):
    """Full-corpus centroids drop into ivf_topk unchanged; probing all
    cells stays exact."""
    C = similarity.train_centroids_full(vectors, k=4, iters=2)
    queries = vectors.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.brute_force_topk(vectors, queries, k=3, id_col="vec_id")
    full = similarity.ivf_topk(
        vectors, queries, C, k=3, n_probe=4, id_col="vec_id"
    )
    e = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in exact.collect()}
    f = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in full.collect()}
    assert e == f


def test_train_centroids_full_needs_k_vectors(spark):
    few = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="at least k"):
        similarity.train_centroids_full(few, k=5, iters=1)
