"""Deduplication operators for web-scale corpora.

Four families, all shuffle-disciplined for 10^12-row inputs:

- **exact**: hash-groupBy on a normalized fingerprint — one shuffle on
  the hash, map-side partial agg.
- **MinHash + LSH**: shingle → k min-hashes (one Arrow-batched UDF:
  FNV-1a base hash, splitmix64-seeded variants) → band → bucket-join. Only candidate pairs inside a bucket are compared; the
  banding (b bands × r rows) tunes the Jaccard threshold s ≈ (1/b)^(1/r).
- **SimHash**: 64-bit sign-of-weighted-sum fingerprint via one Arrow
  batch UDF (numpy bit math), near-dups = Hamming ≤ d within LSH-style
  chunk buckets (pigeonhole: d bit flips can't touch all d+1 chunks).
- **embedding cosine**: exact pair cosine over candidate buckets from
  random-hyperplane signatures (see similarity.py).

Each pairing step has one implementation here, shared by every near-dup
op in ``ops/`` (and the streaming gates through them): one banding
projection for 64-bit fingerprints (:func:`combo_band_structs`), one
bucket grouping (:func:`group_members`), one chunk-block join
(:func:`_chunk_block_join`) serving both the self shape (in-corpus
pairing, SemDeDup cells) and the one-sided shape (the incremental
new × old probes), and one candidate-pair attach
(:func:`attach_pair_values`).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from smcchecker_spark.ops import text as T
from smcchecker_spark.tables import local_frame


def exact_duplicates(
    df: DataFrame, id_col: str, text_col: str = "text"
) -> DataFrame:
    """Rows belonging to exact-duplicate groups (normalized text).
    Output: (id, fingerprint, group_size) for every member of a group
    with size > 1 — the pandas ``duplicated(keep=False)`` semantics at
    scale. Window-count formulation: ONE scan + ONE shuffle on the md5
    fingerprint (the groupBy-sizes + join-back alternative scans the
    corpus twice and shuffles it again for the join; the window's extra
    per-partition sort is on the already-shuffled fingerprint key)."""
    # empty/null docs are excluded — at corpus scale they would form one
    # pathological group (and a hot key in the shuffle)
    from pyspark.sql import Window

    fp = (
        df.filter(T.token_count(F.col(text_col)) > 0)
        .select(F.col(id_col), T.fingerprint(F.col(text_col)).alias("fingerprint"))
    )
    w = Window.partitionBy("fingerprint")
    return (
        fp.withColumn("group_size", F.count(F.lit(1)).over(w))
        .filter(F.col("group_size") > 1)
        .select(id_col, "fingerprint", "group_size")
    )


_SHINGLE_CACHE: dict[int, object] = {}


def _shingles_udf(k: int):
    """Arrow-batched k-word shingle extraction: the distinct k-word
    shingles of a doc's whitespace tokens; docs with < k tokens yield one
    short shingle; empty/null docs yield [''].

    Why a UDF here when shingling is expressible as Column lambdas:
    Spark's higher-order functions (transform/sequence/slice) run
    INTERPRETED — no whole-stage codegen — and profiling showed the
    expression form is ~20x slower per row than this batched Python.
    """
    if k not in _SHINGLE_CACHE:

        @pandas_udf("array<string>")
        def shingles(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
            for s in batches:
                out = []
                for txt in s.values:
                    toks = str(txt).split() if txt is not None else []
                    if not toks:
                        out.append([""])
                        continue
                    n = max(len(toks) - k, 0) + 1
                    out.append(
                        list(dict.fromkeys(
                            " ".join(toks[i : i + k]) for i in range(n)
                        ))
                    )
                yield pd.Series(out, dtype=object)

        _SHINGLE_CACHE[k] = shingles
    return _SHINGLE_CACHE[k]


# public alias — the canonical Arrow-batched shingler, shared by the
# Jaccard verify stage here and ops/contamination.py's corpus pass
shingles_udf = _shingles_udf


_SIG_UDF_CACHE: dict[tuple, object] = {}

# splitmix64 finalizer constants (public-domain PRNG mix)
_MIX_C1 = np.uint64(0xBF58476D1CE4E5B9)
_MIX_C2 = np.uint64(0x94D049BB133111EB)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = (x ^ (x >> np.uint64(30))) * _MIX_C1
    x = (x ^ (x >> np.uint64(27))) * _MIX_C2
    return x ^ (x >> np.uint64(31))


def _minhash_sig_udf(num_hashes: int, shingle_k: int):
    """One Arrow-batched UDF computing the full signature: shingle →
    base FNV-1a hash (cached per distinct shingle) → ``num_hashes``
    splitmix64-seeded variants → column-wise min. All numpy uint64
    (wrapping) arithmetic — no interpreted HOF expressions, no
    per-component re-hash of the shingle string."""
    key = (num_hashes, shingle_k)
    if key not in _SIG_UDF_CACHE:
        rng = np.random.default_rng(0xC0FFEE)
        seeds = rng.integers(0, 2**64, num_hashes, dtype=np.uint64)

        @pandas_udf("array<long>")
        def sig_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
            cache: dict[str, np.uint64] = {}
            err = np.seterr(over="ignore")
            try:
                for s in batches:
                    out = []
                    for txt in s.values:
                        toks = str(txt).split() if txt is not None else []
                        if toks:
                            n = max(len(toks) - shingle_k, 0) + 1
                            shingles = {
                                " ".join(toks[i : i + shingle_k]) for i in range(n)
                            }
                        else:
                            shingles = {""}
                        base = np.empty(len(shingles), dtype=np.uint64)
                        for j, sh in enumerate(shingles):
                            h = cache.get(sh)
                            if h is None:
                                h = np.uint64(hash64_py(sh))
                                cache[sh] = h
                            base[j] = h
                        # (n_shingles, num_hashes) seeded variants → min
                        mixed = _splitmix64(base[:, None] ^ seeds[None, :])
                        out.append(mixed.min(axis=0).astype(np.int64))
                    yield pd.Series(out, dtype=object)
            finally:
                np.seterr(**err)

        _SIG_UDF_CACHE[key] = sig_udf
    return _SIG_UDF_CACHE[key]


def _ensure_parallelism(df: DataFrame, min_parallelism: int | None) -> DataFrame:
    """Repartition iff the input has fewer partitions than requested —
    a no-op at corpus scale (file splits >> cores), load-bearing for
    small single-file inputs where a CPU-heavy UDF stage would otherwise
    run in ONE task."""
    if min_parallelism and df.rdd.getNumPartitions() < min_parallelism:
        return df.repartition(min_parallelism)
    return df


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_k: int = 3,
    min_parallelism: int | None = None,
) -> DataFrame:
    """(id, sig): the pipeline-path signature computation, fused into one
    Arrow-batched UDF (see ``_minhash_sig_udf``) — the package's one
    MinHash implementation: a standard minhash over distinct
    word-k-shingles."""
    df = _ensure_parallelism(df, min_parallelism)
    return df.select(
        F.col(id_col).alias("id"),
        _minhash_sig_udf(num_hashes, shingle_k)(F.col(text_col)).alias("sig"),
    )


def group_members(
    members: DataFrame, key_cols: list[str], member_col: str = "m"
) -> DataFrame:
    """(key_cols..., ms): each bucket's members as one SORTED array —
    the one bucket grouping behind every pairing here. NULL bucket keys
    are filtered BEFORE the aggregate — load-bearing for plan reuse, not
    just semantics: the hot-branch join of :func:`bucketed_pairs` pushes
    isnotnull(key) below the aggregate on its lineage copy, which
    de-canonicalizes it from the small branch's copy and makes Spark run
    the scan (+ any upstream signature UDF) once PER BRANCH. Filtering
    here keeps every consumer canonically identical, so ReuseExchange
    collapses them onto ONE shuffle (locked by tests/test_plans.py).
    Null bucket keys can't pair meaningfully anyway."""
    for k in key_cols:
        members = members.filter(F.col(k).isNotNull())
    return members.groupBy(*key_cols).agg(
        F.array_sort(F.collect_list(member_col)).alias("ms")
    )


def _chunk_block_join(
    grouped: DataFrame,
    key_cols: list[str],
    chunk: int,
    build: DataFrame | None = None,
) -> DataFrame:
    """Chunked join of collected buckets (:func:`group_members` rows):
    each sorted member array is sliced into ``chunk``-sized arrays, and
    the output rows are (ci, cj, ca, cb) chunk-index/chunk-array block
    pairs within each bucket. The probe side repartitions on (keys, ci)
    — one bucket's O(m²) pairing spreads across tasks — and the build
    side broadcasts only the chunk arrays, so a block row holds at most
    chunk² pairs. Two shapes:

    - ``build=None``: the SELF join, ci ≤ cj. Chunks slice a SORTED
      array, so the cross-block pairs with a < b enumerate each bucket
      pair exactly once (``bucketed_pairs`` hot path, the blocked numpy
      scorer of ``similarity.semantic_dup_pairs``).
    - ``build`` given: the ONE-SIDED join — every chunk of ``grouped``
      meets every chunk of ``build`` in its bucket (the incremental
      new × old probes: index on the probe side, batch broadcast)."""

    def chunked(g: DataFrame) -> DataFrame:
        last = F.ceil(F.size("ms") / F.lit(chunk)).cast("int") - 1
        return g.select(
            *key_cols,
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), last),
                    lambda i: F.slice("ms", i * chunk + 1, chunk),
                )
            ).alias("ci", "ca"),
        )

    left = chunked(grouped)
    right = left if build is None else chunked(build)
    right = F.broadcast(
        right.select(
            *[F.col(k).alias(f"{k}__r") for k in key_cols],
            F.col("ci").alias("cj"),
            F.col("ca").alias("cb"),
        )
    )
    cond = [F.col(k) == F.col(f"{k}__r") for k in key_cols]
    if build is None:
        cond.append(F.col("ci") <= F.col("cj"))
    return left.repartition(*key_cols, "ci").join(right, cond)


def _block_pairs(xs: str, ys: str) -> Column:
    """``array<struct<a, b>>``: the member pairs (a from ``xs``, b from
    ``ys``) with a < b (struct order = id order) of one collected bucket
    or one self-join block of :func:`_chunk_block_join`. xs == ys gives
    the strict upper triangle; sorted disjoint xs < ys pass whole."""
    return F.flatten(
        F.transform(
            F.col(xs),
            lambda a: F.filter(
                F.transform(
                    F.col(ys), lambda b: F.struct(a.alias("a"), b.alias("b"))
                ),
                lambda p: p["a"] < p["b"],
            ),
        )
    )


def bucketed_pairs(
    members: DataFrame,
    key_cols: list[str],
    member_col: str = "m",
    hot_bucket: int = 256,
    dedup_pairs: bool = True,
) -> DataFrame:
    """Skew-guarded all-pairs within buckets — the shared pairing stage
    behind MinHash-LSH banding, SimHash chunk blocking, and hyperplane
    embedding buckets.

    Input: one row per (bucket-key, member), where ``member_col`` is a
    STRUCT whose FIRST field is a unique ordering id (callers must not
    pass duplicate ids — a duplicated id makes pair identity ambiguous).
    Output: (a, b) struct pairs with a < b (struct order = id order),
    deduplicated across buckets.

    Skew discipline (the part that matters at 10^12 rows): a bucket's
    pairing is O(m²), and boilerplate corpora have hot buckets. Buckets
    with ≤ ``hot_bucket`` members pair inside their collected array
    (fast path — at most ~hot_bucket²/2 structs per row). Larger buckets
    are split into sorted ``hot_bucket``-sized chunks and paired
    chunk×chunk through the broadcast self-join of
    :func:`_chunk_block_join`: the chunk table carries only the member
    structs, and repartitioning the probe side spreads one bucket's
    quadratic pairing across tasks instead of one row/one task. Chunks
    slice a SORTED member array, so cross-chunk pairs satisfy a < b by
    construction and no pair is produced twice within a bucket. Every
    member of every bucket is paired — nothing is capped.

    ``dedup_pairs=False`` skips the final cross-bucket ``dropDuplicates``
    — which is a SHUFFLE of every pair struct. A pair can repeat only
    when one row lives in several buckets (LSH bands, simhash chunks);
    when the bucket keys PARTITION the rows (SemDeDup k-means cells,
    any groupBy-style blocking) each pair forms exactly once and the
    dedup would re-shuffle P >> n rows — carrying the member payloads —
    for nothing. Callers whose members carry fat payloads (vectors)
    should also filter/score pairs in the projection right after this
    returns, while the pairs are still pre-shuffle.
    """
    grouped = group_members(members, key_cols, member_col).filter(
        F.size("ms") > 1
    )
    small = grouped.filter(F.size("ms") <= hot_bucket)
    hot = grouped.filter(F.size("ms") > hot_bucket)

    small_pairs = small.select(
        F.explode(_block_pairs("ms", "ms")).alias("p")
    ).select("p.a", "p.b")

    hot_pairs = (
        _chunk_block_join(hot, key_cols, hot_bucket)
        .select(F.explode(_block_pairs("ca", "cb")).alias("p"))
        .select("p.a", "p.b")
    )
    out = small_pairs.unionByName(hot_pairs)
    if not dedup_pairs:
        return out
    # members are deterministic per id, so struct-level dedup == id-level
    return out.dropDuplicates(["a", "b"])


def banded_rows(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, band, bucket) LSH band rows from an (id, sig) signature
    table: each band's ``num_hashes/bands`` signature components hash to
    one 64-bit bucket id (xxhash64). Ids ONLY — the signature array is
    never replicated per band, so downstream bucket shuffles move 3
    longs per (doc, band). Shared by the in-corpus pairing
    (:func:`minhash_candidate_pairs`) and the persisted incremental
    index (:mod:`smcchecker_spark.ops.incremental`), which must band
    identically for old and new docs to collide."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    return sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.element_at("sig", b * rows_per_band + r + 1)
                                for r in range(rows_per_band)
                            ]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def attach_pair_values(
    pairs: DataFrame, values: DataFrame, value_col: str
) -> DataFrame:
    """(id_a, id_b, vs): the candidate-pair attach behind est-Jaccard,
    exact shingle-Jaccard and pair cosine. Pairs are melted to
    (id_a, id_b, id) and BROADCAST (candidates << corpus after blocking,
    and a materialized candidate table carries no size stats), joined
    ONCE on ``id`` against ``values`` (id, value_col), and regrouped:
    ``vs`` holds both members' values in no set order, so scores must
    be symmetric. A pair with a member missing from ``values`` is
    dropped (inner-join semantics). ``values`` ids must be unique and
    ``pairs`` duplicate-free — a duplicate collects >2 values and drops
    the pair. Callers prune ``values`` to candidate ids themselves."""
    melted = F.broadcast(
        pairs.select(
            "id_a", "id_b", F.explode(F.array("id_a", "id_b")).alias("id")
        )
    )
    return (
        melted.join(values, "id")
        .groupBy("id_a", "id_b")
        .agg(F.collect_list(value_col).alias("vs"))
        .filter(F.size("vs") == 2)
    )


def pair_est_jaccard(
    pairs: DataFrame, sigs: DataFrame, num_hashes: int
) -> DataFrame:
    """est_jaccard = fraction of matching signature components, attached
    to (id_a, id_b) candidate pairs from a PRUNED (id, sig) table that
    covers (at least) the candidate ids."""
    matches = F.size(
        F.filter(
            F.zip_with(
                F.element_at("vs", 1),
                F.element_at("vs", 2),
                lambda x, y: x == y,
            ),
            lambda v: v,
        )
    )
    return attach_pair_values(pairs, sigs, "sig").select(
        "id_a",
        "id_b",
        F.round(matches / F.lit(num_hashes), 6).alias("est_jaccard"),
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    min_parallelism: int | None = None,
    with_est: bool = True,
    hot_bucket: int = 256,
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b[, est_jaccard]) via banding.

    Shape: explode ``bands`` (band, bucket, id) rows per signature — ids
    ONLY, never the signature array, so the bucket shuffle moves 3 longs
    per (doc, band) instead of replicating the ``num_hashes``-long sig
    ``bands`` times — groupBy-collect the member ids of each bucket,
    generate in-bucket ordered pairs with higher-order array
    expressions, dedupe pairs found in multiple bands. ONE scan of the
    corpus and ONE evaluation of the signature UDF (a banded self-join
    would scan + re-sign the corpus twice).

    Skew: in-bucket pairing routes through ``bucketed_pairs`` — the
    shared hot-bucket-chunked, broadcast-spread O(m²) guard (see its
    docstring). ``hot_bucket`` passes through.

    ``with_est=True`` additionally scores est_jaccard = fraction of
    matching signature components: the candidate set is materialized
    (``localCheckpoint``) and the signature UDF re-runs over candidate
    docs ONLY (broadcast semi-join prune) — one full-corpus signature
    pass for blocking plus one candidates-only pass for scoring, never
    two corpus passes. Callers that re-verify exactly anyway
    (``ngram_jaccard_dedup``) pass False and skip that whole stage.
    Doc ids must be unique (pair identity is (id_a, id_b)).
    """
    assert num_hashes % bands == 0
    sig = minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_k, min_parallelism
    )
    banded = banded_rows(sig, num_hashes, bands).select(
        F.struct(F.col("id")).alias("m"), "band", "bucket"
    )

    pairs = bucketed_pairs(
        banded, ["band", "bucket"], hot_bucket=hot_bucket
    ).select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    if not with_est:
        return pairs

    # est attach: materialize the (tiny) candidate set so the melt-join
    # below doesn't re-run the whole blocking stage, then prune the
    # re-signature pass to candidate docs only (broadcast semi-join, like
    # exact_jaccard_pairs) — the full-corpus signature UDF runs ONCE; the
    # second pass touches candidates << corpus
    pairs = pairs.localCheckpoint(eager=True)
    cand_ids = F.broadcast(
        pairs.select(F.explode(F.array("id_a", "id_b")).alias("cid")).distinct()
    )
    pruned = df.join(cand_ids, F.col(id_col) == F.col("cid"), "left_semi")
    sig2 = minhash_signatures(
        pruned, id_col, text_col, num_hashes, shingle_k, min_parallelism
    )
    return pair_est_jaccard(pairs, sig2, num_hashes)


def exact_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_k: int = 3,
    min_parallelism: int | None = None,
) -> DataFrame:
    """Exact shingle-Jaccard for given (id_a, id_b) candidate pairs —
    the verification stage after LSH blocking. The shingle UDF runs only
    on rows that appear in some candidate pair (BROADCAST semi-join
    prune: candidates << corpus after blocking, so at corpus scale this
    turns a full-table Arrow pass into a sliver; without the hint the
    prune plans as a sort-merge that shuffles the whole corpus), and the
    shingle table is referenced ONCE (:func:`attach_pair_values`).
    ``pairs`` is referenced twice (prune + attach) — materialize it
    first if it is expensive to recompute (the ``ngram_jaccard_dedup``
    path checkpoints it).

    ``pairs`` is deduplicated on entry (cheap — candidates are tiny
    after blocking): a duplicated (id_a, id_b) row would otherwise make
    the regroup collect >2 shingle sets and silently DROP the pair.
    Doc ids in ``df`` must be unique for the same reason."""
    pairs = pairs.dropDuplicates(["id_a", "id_b"])
    cand_ids = F.broadcast(
        pairs.select(F.explode(F.array("id_a", "id_b")).alias("id")).distinct()
    )
    sh = (
        _ensure_parallelism(df, min_parallelism)
        .join(cand_ids, F.col(id_col) == cand_ids["id"], "left_semi")
        .select(
            F.col(id_col).alias("id"),
            _shingles_udf(shingle_k)(F.col(text_col)).alias("sh"),
        )
    )
    sh_a = F.element_at("vs", 1)
    sh_b = F.element_at("vs", 2)
    inter = F.size(F.array_intersect(sh_a, sh_b))
    union = F.size(F.array_union(sh_a, sh_b))
    return attach_pair_values(pairs, sh, "sh").select(
        "id_a",
        "id_b",
        F.round(inter / F.greatest(union, F.lit(1)), 6).alias("jaccard"),
    )


def ngram_jaccard_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    min_parallelism: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs: MinHash-LSH blocking → exact Jaccard ≥ τ.

    ``min_parallelism``: opt-in repartition before the UDF stages for
    small/single-file inputs (no-op when file splits already exceed it).
    Deliberately NOT defaulted to defaultParallelism: the right value is
    the number of PHYSICAL cores available to Python workers, which Spark
    cannot know (oversubscribed vCPUs make more workers slower).

    The candidate set is materialized (``localCheckpoint``) before
    verification: the verify stage references it twice (once to prune
    the shingle UDF to candidate docs, once to score), and without the
    checkpoint Spark would re-run the whole blocking stage — signature
    UDF included — per reference. Candidates are tiny after blocking
    (that is the point of LSH), so this is exactly the "persist the
    candidate table between stages" step a corpus-scale pipeline does.
    """
    cand = minhash_candidate_pairs(
        df, id_col, text_col, num_hashes, bands,
        min_parallelism=min_parallelism, with_est=False,
    ).localCheckpoint(eager=True)
    exact = exact_jaccard_pairs(
        df, cand, id_col, text_col, min_parallelism=min_parallelism,
    )
    return exact.filter(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_SIMHASH_CACHE: dict[str, object] = {}


def _simhash_udf(token_hash: str = "fnv"):
    if token_hash not in _TOKEN_HASHES:
        raise ValueError(
            f"unknown token_hash {token_hash!r}; expected one of "
            f"{sorted(_TOKEN_HASHES)}"
        )
    if token_hash not in _SIMHASH_CACHE:
        tok_hash = _TOKEN_HASHES[token_hash]

        @pandas_udf("long")
        def simhash64(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
            # 64-bit simhash: per token, a deterministic 64-bit hash votes
            # +1/-1 on each bit; fingerprint = sign bits of the vote sum.
            # Vectorized: per doc, all token-hash bit matrices at once;
            # token→±1-bit-row cache persists across rows AND batches
            # (corpus vocabularies are heavy-tailed, so the cache hit rate
            # is high; the hash runs once per distinct token).
            shifts = np.arange(64, dtype=np.uint64)
            bit_cache: dict[str, np.ndarray] = {}

            def bit_row(tok: str) -> np.ndarray:
                row = bit_cache.get(tok)
                if row is None:
                    hv = np.uint64(tok_hash(tok))
                    bits = ((hv >> shifts) & np.uint64(1)).astype(np.int64)
                    row = 2 * bits - 1  # ±1 votes
                    bit_cache[tok] = row
                return row

            for s in batches:
                out = np.zeros(len(s), dtype=np.int64)
                for i, txt in enumerate(s.values):
                    toks = str(txt or "").lower().split()
                    if not toks:
                        continue
                    votes = np.sum([bit_row(t) for t in toks], axis=0)
                    fp = np.uint64(0)
                    pos = np.nonzero(votes > 0)[0].astype(np.uint64)
                    for b in pos:
                        fp |= np.uint64(1) << b
                    out[i] = np.int64(fp)
                yield pd.Series(out)

        _SIMHASH_CACHE[token_hash] = simhash64
    return _SIMHASH_CACHE[token_hash]


def hash64_py(s: str) -> int:
    """Deterministic 64-bit FNV-1a (python hash() is salted per process —
    useless on executors)."""
    h = 0xCBF29CE484222325
    for ch in s.encode("utf-8"):
        h ^= ch
        h = (h * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def md5_hash64_py(s: str) -> int:
    """First 8 bytes (big-endian) of md5 — slower than FNV-1a but
    computable bit-identically in ANSI SQL (``md5()`` + hex parse), which
    makes the md5-mode simhash fingerprint exactly oracle-checkable."""
    import hashlib

    return int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big")


_TOKEN_HASHES = {"fnv": hash64_py, "md5": md5_hash64_py}


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    min_parallelism: int | None = None,
    token_hash: str = "fnv",
) -> DataFrame:
    """64-bit simhash fingerprints. ``token_hash``: ``"fnv"`` (default,
    fastest) or ``"md5"`` (first 8 bytes of md5 — identical in SQL
    engines, so downstream results are value-oracle-checkable)."""
    return _ensure_parallelism(df, min_parallelism).select(
        F.col(id_col).alias("id"),
        _simhash_udf(token_hash)(F.col(text_col)).alias("simhash"),
    )


def check_pigeonhole(max_hamming: int, chunks: int) -> None:
    """Exact-recall precondition for chunk banding: ``max_hamming`` bit
    flips cannot touch all ``chunks`` chunks only when chunks > max_hamming."""
    assert 64 % chunks == 0
    if max_hamming >= chunks:
        raise ValueError(
            f"max_hamming={max_hamming} needs chunks > max_hamming for "
            f"exact recall (pigeonhole); got chunks={chunks}"
        )


def combo_band_structs(
    h: Column, chunks: int, band_chunks: int
) -> Column:
    """``array<struct<chunk:int, val:long>>`` — one entry per
    combination of ``band_chunks`` of the fingerprint's ``chunks``
    (64/chunks)-bit chunk values, val = their concatenation, chunk =
    combination index. The ONE banding projection behind every
    pigeonhole-blocked Hamming search (:func:`hamming_near_dups`, the
    persisted phash index in ``ops.incremental``, and
    ``contamination.phash_overlap``), so chunk/width/mask derivation and
    shiftright sign handling cannot diverge between them.
    ``band_chunks=1`` is single-chunk banding: entry c is chunk c.

    WHY (the 10^12-row part): single-chunk banding keys on 64/chunks
    bits. At chunks=4 that is a 16-bit key space — 65k buckets per
    chunk id — which SATURATES around 10^7 rows: bucket population
    grows linearly with corpus size, so candidate pairs grow
    QUADRATICALLY (measured: 35x time for 10x rows at sf1). Pigeonhole
    generalizes: ≤ h flipped bits damage ≤ h chunks, so a qualifying
    pair agrees on ≥ chunks-h chunks — i.e. on at least one FULL
    combination of (chunks-h) chunks. Banding on every such
    combination keeps recall exact while the key space widens to
    (chunks-h)·(64/chunks) bits: 32 bits at h=2/chunks=4 (6 bands),
    42+ bits at h=2/chunks=8 (15 bands of 6 chunks... C(8,6)=28).
    Cost is C(chunks, chunks-h) band rows per fingerprint instead of
    ``chunks`` — a constant-factor shuffle increase that buys
    collapse of in-bucket quadratic pairing."""
    from itertools import combinations

    assert 64 % chunks == 0
    width = 64 // chunks
    mask = (1 << width) - 1
    vals = [
        F.shiftright(h, c * width).bitwiseAND(F.lit(mask))
        for c in range(chunks)
    ]
    entries = []
    for ci, combo in enumerate(combinations(range(chunks), band_chunks)):
        v = F.lit(0).cast("long")
        for j, c in enumerate(combo):
            v = v.bitwiseOR(
                F.shiftleft(vals[c].cast("long"), j * width)
            )
        entries.append(
            F.struct(F.lit(ci).alias("chunk"), v.alias("val"))
        )
    return F.array(*entries)


def hamming_near_dups(
    sigs: DataFrame,
    id_col: str = "id",
    hash_col: str = "hash",
    max_hamming: int = 3,
    chunks: int = 4,
    hot_bucket: int = 256,
) -> DataFrame:
    """Pairs with Hamming distance ≤ ``max_hamming`` between stored
    64-bit fingerprints → (id_a, id_b, hamming), blocked on
    (64/chunks)-bit chunks (pigeonhole: ≤ chunks-1 flipped bits leave
    ≥ 1 chunk identical, so recall is EXACT while pairing runs per
    (chunk_id, chunk_value) bucket instead of a cross join). In-bucket
    pairing routes through ``bucketed_pairs``: a popular chunk value
    (boilerplate corpora, flat/black images sharing a phash chunk)
    becomes a chunked broadcast self-join spread across tasks, never
    one O(m²) task. The 8-byte fingerprint rides inside the member
    struct, so Hamming distance is computed at pair time from the
    struct fields — no signature re-join, and the whole op is native
    Column expressions (no Python UDF). Ids must be unique.

    When chunks - max_hamming ≥ 2 the banding upgrades itself to
    COMPOUND bands (:func:`combo_band_structs`): every combination of
    chunks-max_hamming chunks forms one band key, so the key space is
    e.g. 32 bits instead of 16 at the (4, 2) default — single-chunk
    16-bit buckets saturate around 10^7 fingerprints and make
    candidate pairs grow quadratically; compound bands keep them
    linear. Recall stays exact by the same pigeonhole argument."""
    check_pigeonhole(max_hamming, chunks)
    sh = sigs.select(
        F.col(id_col).alias("id"), F.col(hash_col).cast("long").alias("h")
    )
    bands = combo_band_structs(F.col("h"), chunks, chunks - max_hamming)
    chunked = sh.select(
        # id FIRST: struct order (= pair order a < b) is id order
        F.struct(F.col("id"), F.col("h")).alias("m"),
        F.explode(bands).alias("cc"),
    ).select("m", "cc.chunk", "cc.val")
    pairs = bucketed_pairs(
        chunked, ["chunk", "val"], hot_bucket=hot_bucket
    ).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.bit_count(F.col("a.h").bitwiseXOR(F.col("b.h"))).alias("hamming"),
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


def phash_near_dups(
    df: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    max_hamming: int = 3,
    chunks: int = 4,
    hot_bucket: int = 256,
) -> DataFrame:
    """IMAGE near-duplicates by stored perceptual hash: pairs whose
    phash Hamming distance is ≤ ``max_hamming`` (re-encodes, mild
    quantization — imagecodec's lossy roundtrip moves phash ≤ 2 bits;
    see tests/test_image.py). The validation engine's decode UDF already
    materialized phash once per image (image.py decode facts), so
    near-dedup over 10^12 images never touches payload bytes again:
    it is pure chunk-blocked shuffle + skew-guarded in-bucket pairing
    via :func:`hamming_near_dups` — no UDF, no decode, broadcastable
    verify. Feed the output to :func:`connected_components` /
    :func:`resolve_duplicates` exactly like the text pair ops."""
    return hamming_near_dups(
        df, id_col, phash_col, max_hamming, chunks, hot_bucket
    )


def simhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = 3,
    chunks: int = 4,
    min_parallelism: int | None = None,
    hot_bucket: int = 256,
    token_hash: str = "fnv",
) -> DataFrame:
    """Pairs with simhash Hamming distance ≤ d — ONE simhash-UDF pass,
    then the shared chunk-blocked pairing (:func:`hamming_near_dups`,
    q.v. for the skew discipline). Doc ids must be unique."""
    sh = simhash(
        df, id_col, text_col,
        min_parallelism=min_parallelism, token_hash=token_hash,
    )
    return hamming_near_dups(
        sh, "id", "simhash", max_hamming, chunks, hot_bucket
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    driver_max_edges: int = 500_000,
) -> DataFrame:
    """Connected components over near-dup pairs: (id, component) where
    component = the smallest id in the component. The step AFTER pair
    finding — a dup CLUSTER {A,B,C} found as pairs (A,B),(B,C) must
    collapse to one canonical doc, not two independent pair-removals.

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): converges in
    O(log²) rounds on any graph (near-dup graphs are usually
    shallow — 2-3 rounds), vs O(diameter) for naive label propagation
    which adversarial chain-shaped dup graphs can push to thousands.

    Each half-round is ONE groupBy-min + ONE equi-join on the node id —
    no collect_list of neighbor sets, so a hub node with millions of
    neighbors is just a hot groupBy key (partial agg absorbs it) and a
    skewed join key (AQE splits it), never a single giant row. Iteration
    state is localCheckpointed every round: each star references its
    input several times, so without a materialization barrier the plan
    (and recomputation) grows geometrically per round. Convergence =
    (count, hash-checksum) of the edge set stable across a round;
    ``max_iter`` exhaustion raises rather than returning wrong labels.

    Only ids appearing in ``pairs`` are returned; isolated docs are
    trivially their own component.

    Hybrid execution (round 5): the edge set is ALREADY a bounded
    sliver — it's the verified near-dup pairs, orders of magnitude
    smaller than the corpus — and ONE bounded collect of at most
    ``driver_max_edges`` + 1 edges tells which regime it is in (no
    checkpoint, no separate count). At or below ``driver_max_edges``
    (default 500k edges ≈ a few MB of id pairs) the component labels
    come from a driver-side union-find: identical labels (component =
    min id — the star-forest fixpoint computes exactly this), zero of
    the ~15 tiny shuffle stages the iterative loop schedules (measured
    ~1.5-2 s of pure stage overhead on an 821-edge graph). Web-crawl
    dup graphs past the bound (billions of edges at 10^12 rows) take
    the distributed large/small-star path unchanged — the driver path
    is the small-regime fast lane, not a scale ceiling. Equivalence is
    property-tested against the distributed path on random graphs.
    """

    def star(edges: DataFrame, large: bool) -> DataFrame:
        # large-star operates on the symmetrized neighbor relation and
        # re-points strictly-larger neighbors at the local min; small-star
        # orients every edge larger→smaller first, so mins.mv < u always
        if large:
            nbr = edges.union(
                edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
        else:
            nbr = edges.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
        mins = nbr.groupBy("u").agg(F.min("v").alias("mv"))
        m = F.least("mv", "u")
        joined = nbr.join(mins, "u")
        if large:
            out = joined.filter(F.col("v") > F.col("u")).select(
                F.col("v").alias("u"), m.alias("v")
            )
        else:
            # every neighbor (all ≤ u) plus u itself re-points at the min
            out = (
                joined.filter(F.col("v") != F.col("mv"))
                .select(F.col("v").alias("u"), F.col("mv").alias("v"))
                .union(mins.select("u", F.col("mv").alias("v")))
            )
        return out.filter(F.col("u") != F.col("v")).distinct()

    def fingerprint(edges: DataFrame) -> tuple:
        # bit_xor, not sum: order-independent and cannot overflow (ANSI
        # mode makes a long-sum checksum throw)
        row = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    edges = (
        pairs.select(
            # native id type throughout — the algorithm only needs a total
            # order (min/least/greatest), so string image_ids work as-is
            F.col(id_a).alias("u"),
            F.col(id_b).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # ONE bounded collect decides the path: a full sliver fits the
    # driver; one row past the bound means the distributed loop
    rows = edges.limit(driver_max_edges + 1).collect()
    if len(rows) <= driver_max_edges:
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in rows:
            u, v = r["u"], r["v"]
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru != rv:
                # min-id root so labels match the star-forest fixpoint
                # without a second normalization pass
                if rv < ru:
                    ru, rv = rv, ru
                parent[rv] = ru
        out = [(x, find(x)) for x in parent]
        utype = edges.schema["u"].dataType
        from pyspark.sql.types import StructField, StructType

        return local_frame(
            edges.sparkSession,
            out,
            StructType(
                [
                    StructField("id", utype, False),
                    StructField("component", utype, False),
                ]
            ),
        )
    edges = edges.localCheckpoint(eager=True)
    fp = fingerprint(edges)
    for _ in range(max_iter):
        # ONE large/small round per checkpoint: each star() references its
        # input ~3× (symmetrize union + groupBy + join-back), so stacking
        # two unmaterialized rounds per checkpoint makes the physical plan
        # reference `edges` ~9× and recompute the inner round's exchanges —
        # measured 5× slower than materializing every round. The extra
        # fingerprint action per round is cheap: it aggregates the
        # just-checkpointed RDD, not the star dataflow.
        new_edges = star(star(edges, large=True), large=False).localCheckpoint(
            eager=True
        )
        new_fp = fingerprint(new_edges)
        edges = new_edges
        if new_fp == fp:
            break
        fp = new_fp
    else:
        # silently-wrong labels downstream (resolve_duplicates would keep
        # several "canonical" rows per cluster) are worse than failing
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    # at the fixpoint the edge set is a star forest: u → component root
    comp = edges.select(F.col("u").alias("id"), F.col("v").alias("component"))
    roots = (
        edges.select(F.col("v").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    return (
        comp.unionByName(roots)
        .groupBy("id")
        .agg(F.min("component").alias("component"))
    )


def resolve_duplicates(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
    keep_by: str | None = None,
    broadcast_components: bool = True,
) -> DataFrame:
    """Keep one canonical row per near-dup component; rows in no pair
    pass through untouched. ``components`` holds only dup-cluster
    members — (id, component) longs bounded by the dup-pair count — so
    by default it attaches through a BROADCAST left join (map-only for
    the corpus: no corpus-side sort or shuffle, mirroring
    ``leakage_safe_split``). For pathologically dup-heavy corpora
    (a web crawl can be 30%+ duplicates, where comp stops being
    broadcast-scale) set ``broadcast_components=False`` to fall back to
    a shuffle join that AQE demotes to broadcast when comp turns out
    small. The corpus is scanned once either way.

    Canonical selection: smallest id by default; with ``keep_by`` the
    component member with the GREATEST value of that column wins (ties
    break by smallest id) — the quality-aware policy real pipelines
    want ("keep the longest/highest-scoring duplicate"). The argmax
    window runs over cluster MEMBERS only (the tiny comp join), never
    the corpus; NULL quality loses to any value."""
    from pyspark.sql import Window

    comp = connected_components(pairs, id_a, id_b)
    if broadcast_components:
        comp = F.broadcast(comp)
    joined = df.join(
        comp, df[id_col] == comp["id"], "left"
    )
    if keep_by is None:
        return joined.filter(
            comp["component"].isNull() | (comp["component"] == df[id_col])
        ).drop(comp["id"]).drop(comp["component"])
    members = df.join(comp, df[id_col] == comp["id"], "inner")
    w = Window.partitionBy("component").orderBy(
        F.desc_nulls_last(keep_by), F.asc(df[id_col])
    )
    # one row per component — strictly smaller than comp, so it follows
    # the same broadcast policy
    winners = (
        members.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(df[id_col].alias("__win"))
    )
    if broadcast_components:
        winners = F.broadcast(winners)
    out = joined.join(winners, df[id_col] == F.col("__win"), "left")
    return (
        out.filter(comp["component"].isNull() | F.col("__win").isNotNull())
        .drop(comp["id"]).drop(comp["component"]).drop("__win")
    )


def image_near_dups(
    df: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    max_hamming: int = 3,
    chunks: int = 4,
    hot_bucket: int = 256,
) -> DataFrame:
    """IMAGE near-duplicates for tables WITHOUT a stored phash column:
    ONE Arrow-batched decode pass (image.py's decode-facts UDF — the
    same kernel the validation suite runs, batched and buffer-capped)
    computes phash64 per payload, then the stored-phash path takes over
    (:func:`hamming_near_dups`): chunk-blocked banding, skew-guarded
    in-bucket pairing, exact pigeonhole recall — payload bytes are
    never read again after the signature pass. Undecodable payloads are
    excluded from pairing (they have no perceptual content; the
    validation suite is where they get flagged)."""
    from smcchecker_spark.image import decode_facts_udf

    facts = decode_facts_udf()(F.col(bytes_col))
    sigs = (
        df.select(F.col(id_col), facts.alias("__f"))
        .where(F.col("__f.ok"))
        .select(id_col, F.col("__f.phash").alias("__phash"))
    )
    return hamming_near_dups(
        sigs, id_col, "__phash", max_hamming, chunks, hot_bucket
    )
