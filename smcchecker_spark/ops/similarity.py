"""Similarity search over embedding columns (array<float>).

Two tiers, mirroring how ANN is actually deployed on Spark:

- **brute-force cosine top-k** — the exactness baseline: broadcast the
  (small) query set against the corpus, JVM-side dot products via
  ``zip_with`` + ``aggregate``, per-query top-k via window rank. One
  corpus scan regardless of query count; no corpus shuffle.
- **random-hyperplane LSH** — the scale path: a deterministic R-plane
  signature buckets the corpus (computed once, storable); queries probe
  their bucket (+ optional multi-probe) so each query touches a small
  corpus slice. Recall < 1 by construction; the baseline quantifies it.
"""

from __future__ import annotations

import json
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from smcchecker_spark.ops.dedup import (
    _chunk_block_join,
    attach_pair_values,
    bucketed_pairs,
    connected_components,
    group_members,
    resolve_duplicates,
)


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (
        F.greatest(l2_norm(a), F.lit(1e-12)) * F.greatest(l2_norm(b), F.lit(1e-12))
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k per query. Queries are broadcast (they are the
    small side by assumption); ties broken by neighbor id for determinism.
    Output: (query_id, neighbor_id, score, rank)."""
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    scored = c.crossJoin(q).select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit signature vs fixed hyperplanes → a long bucket id.

    The plane matrix is ONE constant: an ``array<array<double>>`` parsed
    from a JSON string literal (shortest-repr floats round-trip exactly)
    that the optimizer folds. One ``transform`` maps each plane to its
    sign bit and one ``aggregate`` folds the bits, first plane most
    significant (``acc * 2 + bit`` from a long 0), so building a
    signature costs a handful of JVM calls whatever the plane count. A
    NULL dot product (NULL vector, NULL element, short vector) is bit 0;
    NaN sorts above every number in Spark, so it is bit 1."""
    consts = F.from_json(F.lit(json.dumps(planes)), "array<array<double>>")
    bits = F.transform(
        consts, lambda p: F.when(dot(vec, p) >= 0, 1).otherwise(0)
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, b: acc * 2 + b)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int = 64,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    probe_hamming: int = 0,
) -> DataFrame:
    """Approximate top-k: equi-join on the hyperplane bucket, exact cosine
    + rank inside the bucket. 2^n_planes buckets → each query scans
    ~corpus/2^n_planes rows. Deterministic planes (seeded) so the bucket
    assignment is stable across runs/resume.

    ``probe_hamming``: multi-probe LSH — each query additionally probes
    every bucket within Hamming distance h of its own signature (the
    query side explodes to sum_{i<=h} C(n_planes, i) buckets; the CORPUS
    side is untouched, so cost scales with the probe count, not the
    corpus). Recall rises toward 1 as h grows; ``h = n_planes`` probes
    ALL buckets and is EXACT (= brute force) — the oracle mode. Each
    (query, neighbor) still joins at most once (probe buckets are
    distinct per query; a corpus row lives in one bucket), so no dedup
    shuffle is needed."""
    planes = _hyperplanes(dim, n_planes, seed)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        lsh_signature(F.col(vec_col), planes).alias("bucket"),
    )
    qsel = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        lsh_signature(F.col(vec_col), planes).alias("bucket"),
    )
    if probe_hamming > 0:
        import itertools

        masks = [0]
        for h in range(1, min(probe_hamming, n_planes) + 1):
            for combo in itertools.combinations(range(n_planes), h):
                masks.append(sum(1 << b for b in combo))
        qsel = qsel.withColumn(
            "bucket",
            F.explode(
                F.array(
                    *[
                        F.col("bucket").bitwiseXOR(F.lit(m).cast("long"))
                        for m in masks
                    ]
                )
            ),
        )
    q = F.broadcast(qsel)
    scored = c.join(q, "bucket").select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def brute_force_topk_partial(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k with MAP-SIDE reduction — the scale path next
    to ``brute_force_topk`` (which stays as the simplest-possible oracle
    formulation).

    The plain form shuffles |corpus| × |queries| scored rows into the
    per-query rank exchange. Here each corpus partition computes scores
    against the (small, collected) query matrix as ONE numpy GEMM per
    Arrow batch and keeps only its local top-k per query, so the rank
    exchange receives ≤ k × |queries| rows PER PARTITION — at 10^12
    corpus rows that's the difference between shuffling the corpus and
    shuffling kilobytes. Scores are rounded to 6 (like the plain form)
    before the final rank; ties broken by neighbor id.

    Output: (query_id, neighbor_id, score, rank) — same contract as
    ``brute_force_topk``.
    """
    from pyspark.sql import types as T

    q_rows = queries.select(query_id_col, vec_col).collect()
    qids = [r[0] for r in q_rows]
    nq = len(qids)

    out_schema = T.StructType(
        [
            T.StructField(
                "query_id", queries.schema[query_id_col].dataType
            ),
            T.StructField("neighbor_id", corpus.schema[id_col].dataType),
            T.StructField("score", T.DoubleType()),
        ]
    )
    if nq == 0:
        # np.linalg.norm(axis=1) on a 0-row query matrix raises; the
        # plain form returns empty here, so must the partial form
        return corpus.sparkSession.createDataFrame(
            [], out_schema.add("rank", T.IntegerType())
        )
    Q = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    QT = Qn.T.copy()  # dim × nq

    def partition_topk(batches):
        # per-query running candidates: (neighbor ids, scores), pruned to
        # k after every batch so partition-local state is O(nq × k)
        cids = [np.empty(0, dtype=object) for _ in range(nq)]
        cscores = [np.empty(0, dtype=np.float64) for _ in range(nq)]
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            Xn = X / np.maximum(
                np.linalg.norm(X, axis=1, keepdims=True), 1e-12
            )
            S = Xn @ QT  # one GEMM: batch × nq cosines
            ids = np.asarray(pdf[id_col].values, dtype=object)
            for j in range(nq):
                s = np.concatenate([cscores[j], S[:, j]])
                i = np.concatenate([cids[j], ids])
                if len(s) > k:
                    # prune by the SAME total order as the final rank —
                    # (rounded score desc, neighbor id asc) — or the
                    # partition can discard a row the plain form keeps.
                    # argpartition on rounded scores finds the k-th
                    # boundary in O(m); only the boundary tie group
                    # needs the id sort (usually tiny)
                    r = np.round(s, 6)
                    kth = r[np.argpartition(-r, k - 1)[k - 1]]
                    above = r > kth
                    m = int(above.sum())
                    at = np.flatnonzero(r == kth)
                    take = sorted(at.tolist(), key=lambda t: i[t])[: k - m]
                    keep = np.concatenate(
                        [np.flatnonzero(above), np.asarray(take, dtype=np.int64)]
                    )
                    s, i = s[keep], i[keep]
                cscores[j], cids[j] = s, i
        if not any(len(s) for s in cscores):
            return
        rows = {
            "query_id": np.concatenate(
                [np.repeat(qids[j], len(cids[j])) for j in range(nq)]
            ),
            "neighbor_id": np.concatenate(cids),
            "score": np.round(np.concatenate(cscores), 6),
        }
        yield pd.DataFrame(rows)

    local = corpus.mapInPandas(partition_topk, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return local.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path
# ---------------------------------------------------------------------------


def train_centroids(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    sample: int = 2048,
    iters: int = 10,
) -> np.ndarray:
    """Deterministic driver-side spherical k-means on an id-ordered sample
    (k × dim float64, L2-normalized rows). The sample is tiny relative to
    the corpus — training cost is O(sample · k · iters) on the driver;
    at 10^12 rows you train once and persist the centroids."""
    rows = (
        df.orderBy(id_col).limit(sample).select(vec_col).collect()
    )
    X = np.array([list(r[0]) for r in rows], dtype=np.float64)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    C = X[:k].copy()
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for c in range(k):
            members = X[assign == c]
            if len(members):
                C[c] = members.mean(axis=0)
        C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    return C


def train_centroids_full(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    iters: int = 4,
) -> np.ndarray:
    """Distributed spherical k-means (Lloyd's) over the FULL corpus —
    the scale path next to the driver-side sampled ``train_centroids``
    (which is fine for IVF coarse cells but trains on 2k vectors; this
    trains on all of them when cluster quality matters, e.g. semantic
    mixture analysis or cluster-balanced sampling).

    Each iteration is ONE job, no per-row driver traffic: the Arrow
    argmax assignment (the same ``_cell_udf`` used at probe time), a
    ``posexplode`` to (cell, pos, value), and a map-side-combined
    sum/count per (cell, pos) — the shuffle carries P·k·d partials,
    never corpus rows — then a k·d-row collect updates centroids on
    the driver (k·d scalars, corpus-size-independent). Vectors are
    L2-normalized once into a cached narrow projection; assignment is
    by dot product (≡ cosine on normalized data); empty cells keep
    their previous centroid. Deterministic: init = the k lowest-id
    vectors normalized, ties broken toward the lower cell index (the
    np.argmax convention ``_cell_udf`` shares)."""
    rows = df.orderBy(id_col).limit(k).select(vec_col).collect()
    if len(rows) < k:
        raise ValueError(f"need at least k={k} vectors, got {len(rows)}")
    C = np.array([list(r[0]) for r in rows], dtype=np.float64)
    C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    d = C.shape[1]

    vd = F.col(vec_col).cast("array<double>")
    nrm = F.greatest(l2_norm(vd), F.lit(1e-12))
    proj = df.select(
        F.transform(vd, lambda x: x / nrm).alias("_vn")
    ).cache()
    try:
        for _ in range(iters):
            cell = _cell_udf(C)
            parts = (
                proj.select(cell(F.col("_vn")).alias("cell"), "_vn")
                .select("cell", F.posexplode("_vn").alias("pos", "x"))
                .groupBy("cell", "pos")
                .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
                .collect()
            )
            sums = np.zeros((k, d))
            counts = np.zeros(k)
            for r in parts:
                sums[r["cell"], r["pos"]] = r["s"]
                counts[r["cell"]] = r["n"]
            nonempty = counts > 0
            C2 = C.copy()
            C2[nonempty] = sums[nonempty] / counts[nonempty, None]
            C2 /= np.maximum(
                np.linalg.norm(C2, axis=1, keepdims=True), 1e-12
            )
            C = C2
    finally:
        proj.unpersist()
    return C


def assign_cells(
    df: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell) for every vector — map-only Arrow argmax against the
    broadcast centroid matrix (assignment is scale-invariant in the
    vector, so raw embeddings work). The building block for
    cluster-balanced sampling / mixture reporting over a trained
    ``train_centroids_full`` model."""
    cell = _cell_udf(centroids)
    return df.select(
        F.col(id_col), cell(F.col(vec_col)).cast("int").alias("cell")
    )


def _cell_udf(centroids: np.ndarray):
    C = centroids.T.copy()  # dim × k

    @pandas_udf("int")
    def cell(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            X = np.array([list(v) for v in s.values], dtype=np.float64)
            X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
            yield pd.Series(np.argmax(X @ C, axis=1).astype(np.int32))

    return cell


def _probe_udf(centroids: np.ndarray, n_probe: int):
    """``array<int>``: each vector's ``n_probe`` nearest cells (nearest
    first) — the query-side probe list of :func:`ivf_topk` and
    :func:`ivf_search`. Queries are the small side, so this runs on a
    sliver."""
    C = centroids.T.copy()  # dim × k

    @pandas_udf("array<int>")
    def probes(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            X = np.array([list(v) for v in s.values], dtype=np.float64)
            X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
            order = np.argsort(-(X @ C), axis=1)[:, :n_probe]
            yield pd.Series([row.astype("int32").tolist() for row in order])

    return probes


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF ANN top-k: corpus rows live in their nearest-centroid cell
    (computed once — storable as a partition column at scale); each query
    probes its ``n_probe`` closest cells, exact cosine + rank inside the
    probed slice. Recall grows with n_probe (n_probe = k_cells → exact).

    Output: (query_id, neighbor_id, score, rank)."""
    cell = _cell_udf(centroids)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        cell(F.col(vec_col)).alias("cell"),
    )
    # per-query probe list: n_probe nearest centroids, computed driver-free
    probes = _probe_udf(centroids, min(n_probe, centroids.shape[0]))
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            F.explode(probes(F.col(vec_col))).alias("cell"),
        )
    )
    scored = c.join(q, "cell").select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("score"),
    )
    # no dedup needed: a corpus row lives in exactly ONE cell and a query's
    # probe list is distinct cells, so each (query, neighbor) pair joins at
    # most once — skipping dropDuplicates saves a full shuffle before the
    # per-query ranking exchange
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def embedding_near_dups(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int = 8,
    seed: int = 42,
    hot_bucket: int = 256,
    n_bands: int = 1,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ τ, LSH-bucketed
    (near-identical vectors share a bucket with probability
    (1−θ/π)^n_planes, per band).

    Scale rule (the 10^12-row part): the bucket key space is
    2^n_planes per band, so bucket population — and with it the
    in-bucket quadratic pairing — grows linearly with corpus size once
    n ≫ 2^n_planes. Size n_planes ≈ log2(n) − 8 (≈ 256 rows/bucket)
    and recover the recall that longer signatures cost with
    ``n_bands`` independent plane sets (recall 1−(1−p^r)^b): at 10^9
    vectors, n_planes=22 / n_bands=8 keeps both the shuffle and the
    pairing linear. The (8, 1) default preserves the historical
    single-band semantics.

    Pairing routes through ``dedup.bucketed_pairs`` with ids ONLY — the
    bucket shuffle moves (bucket, id), never the vectors, and a hot
    bucket (many near-identical embeddings — exactly the near-dup case)
    becomes a chunked broadcast self-join spread across tasks instead of
    one O(m²) task. Vectors attach afterwards through
    :func:`pair_cosine`. Vector ids must be unique."""
    sig_cols = [
        lsh_signature(
            F.col(vec_col), _hyperplanes(dim, n_planes, seed + 7919 * b)
        ).alias(f"__sig{b}")
        for b in range(n_bands)
    ]
    member = F.struct(F.col(id_col).alias("id")).alias("m")
    if n_bands == 1:
        bucketed = df.select(member, sig_cols[0].alias("bucket"))
    else:
        # one row per (band, signature): bands are independent plane
        # sets, so the bucket key carries the band index; cross-band
        # duplicate pairs are dropped by bucketed_pairs' dedup
        bucketed = df.select(member, F.array(*sig_cols).alias("__sigs"))             .select(
                "m",
                F.posexplode("__sigs").alias("__band", "__sig"),
            ).select(
                "m",
                F.struct(
                    F.col("__band"), F.col("__sig")
                ).alias("bucket"),
            )
    pairs = (
        bucketed_pairs(bucketed, ["bucket"], hot_bucket=hot_bucket)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .localCheckpoint(eager=True)
    )
    return pair_cosine(df, pairs, id_col, vec_col).filter(
        F.col("cosine") >= threshold
    )


def pair_cosine(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine for candidate (id_a, id_b) pairs — the candidates-only
    vector attach shared by ``embedding_near_dups`` and
    ``semantic_dedup``: broadcast semi-join prune, then
    ``dedup.attach_pair_values`` (melt → ONE join → regroup).
    Candidates << corpus after blocking, so the re-read touches a
    sliver, and cosine is symmetric in the two collected vectors. ``df``
    ids must be unique; duplicate candidate pairs are collapsed at
    entry. Output: (id_a, id_b, cosine) with cosine rounded to 6 dp."""
    pairs = pairs.dropDuplicates(["id_a", "id_b"])
    cand_ids = F.broadcast(
        pairs.select(F.explode(F.array("id_a", "id_b")).alias("cid")).distinct()
    )
    vecs = df.join(cand_ids, F.col(id_col) == F.col("cid"), "left_semi").select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    )
    return attach_pair_values(pairs, vecs, "vec").select(
        "id_a",
        "id_b",
        F.round(
            cosine(F.element_at("vs", 1), F.element_at("vs", 2)), 6
        ).alias("cosine"),
    )


def semantic_dup_pairs(
    df: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    hot_bucket: int = 256,
) -> DataFrame:
    """Within-cluster semantic-duplicate pairs (SemDeDup blocking stage,
    Abbas et al. 2023, arXiv:2303.09540): rows are assigned to their
    nearest spherical-k-means centroid (ONE Arrow UDF pass — at 10^12
    rows the cell id is computed once and stored as a partition column),
    then candidate pairs form WITHIN cells only and exact cosine ≥ τ
    keeps true semantic dups.

    Scale discipline: a cell holds ~n/k rows, so within-cell pairing is
    the hot-bucket case BY CONSTRUCTION — every cell routes through
    ``dedup.bucketed_pairs``'s chunked broadcast self-join, which spreads
    one cell's O(m²) pairing across tasks. Choose
    k ≈ n / target_cell_size (the paper uses cells of a few thousand).

    Unlike ``embedding_near_dups`` (sparse LSH candidates → ids-only
    shuffle + sliver re-attach), SemDeDup scores EVERY within-cell pair:
    P ≈ Σ m_i²/2 >> n, so the execution shape is different in two ways:

    - **Blocked GEMM scoring.** Cells are collected sorted, sliced into
      ``hot_bucket``-sized chunks, and chunk×chunk block pairs join via
      ``dedup._chunk_block_join`` (probe repartitioned on (cell, chunk)
      — one cell's O(m²) spreads across tasks; build side broadcast).
      Each block row scores as ONE numpy matrix product inside an
      Arrow-batched ``mapInPandas`` — 10⁴–10⁵ cosines per BLAS call
      instead of one interpreted expression per pair (measured 6.8 s →
      sub-second at 2,300×64; the gap is the GEMM:interpreted-HOF ratio
      and grows with cell density).
    - **Pre-shuffle thresholding, no pair dedup.** Cells PARTITION the
      rows, so each pair forms in exactly one cell — no cross-bucket
      dedup shuffle is needed, and the ≥ τ filter runs inside the
      scoring UDF: only surviving pairs (a sliver) ever leave the stage.

    Misses cross-cell dup pairs by design — recall is quantified by the
    k=1 (single-cell) regime, which is exhaustive and exactly
    oracle-checkable (scores are np.float64 dot/norm ratios rounded to
    6 dp — same arithmetic the SQL oracle folds to at these magnitudes).
    Output: (id_a, id_b, cosine). Ids must be unique."""
    from pyspark.sql import types as T

    cell = _cell_udf(centroids)
    members = df.select(
        # id FIRST: struct order = id order, so the sorted member
        # array gives a < b across and within chunks by construction
        F.struct(
            F.col(id_col).alias("id"), F.col(vec_col).alias("v")
        ).alias("m"),
        cell(F.col(vec_col)).alias("bucket"),
    )
    grouped = group_members(members, ["bucket"]).filter(F.size("ms") > 1)
    blocks = _chunk_block_join(grouped, ["bucket"], hot_bucket).select(
        "ci", "cj", "ca", "cb"
    )

    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def score_blocks(batches):
        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for ci, cj, ca, cb in zip(
                pdf["ci"].values, pdf["cj"].values,
                pdf["ca"].values, pdf["cb"].values,
            ):
                A = np.array([list(m["v"]) for m in ca], dtype=np.float64)
                B = (
                    A
                    if ci == cj
                    else np.array(
                        [list(m["v"]) for m in cb], dtype=np.float64
                    )
                )
                na = np.maximum(np.linalg.norm(A, axis=1), 1e-12)
                nb = (
                    na
                    if ci == cj
                    else np.maximum(np.linalg.norm(B, axis=1), 1e-12)
                )
                S = np.round((A @ B.T) / np.outer(na, nb), 6)
                mask = S >= threshold
                if ci == cj:
                    # strict upper triangle: a < b within the sorted chunk
                    mask &= np.triu(np.ones_like(mask, dtype=bool), k=1)
                ia, ib = np.nonzero(mask)
                if not len(ia):
                    continue
                ids_a = [ca[i]["id"] for i in ia]
                ids_b = (
                    [ca[j]["id"] for j in ib]
                    if ci == cj
                    else [cb[j]["id"] for j in ib]
                )
                out_a.extend(ids_a)
                out_b.extend(ids_b)
                out_c.extend(S[ia, ib])
            if out_a:
                yield pd.DataFrame(
                    {"id_a": out_a, "id_b": out_b, "cosine": out_c}
                )

    return blocks.mapInPandas(score_blocks, out_schema)


def _cell_score_udf(centroids: np.ndarray):
    """Cosine of each row's vector to its ASSIGNED (nearest) centroid —
    the SemDeDup keep-rule score."""
    C = centroids.T.copy()  # dim × k

    @pandas_udf("double")
    def score(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            X = np.array([list(v) for v in s.values], dtype=np.float64)
            X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
            yield pd.Series(np.max(X @ C, axis=1))

    return score


def semantic_dedup(
    df: DataFrame,
    centroids: np.ndarray | None = None,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    hot_bucket: int = 256,
    keep: str = "min_id",
    seed_sample: int = 2048,
) -> DataFrame:
    """SemDeDup end-to-end: within-cluster cosine pairs → connected
    components (a dup CLUSTER collapses to one survivor, not pairwise
    removals) → keep one canonical row per component; rows in no pair
    pass through untouched.

    ``keep``:
      - ``"min_id"`` — deterministic smallest-id canonical (matches
        ``dedup.resolve_duplicates``; exactly SQL-oracle-checkable).
      - ``"far_from_centroid"`` — the paper's rule: keep the member with
        the LOWEST cosine to its assigned centroid (retains the least
        prototypical example), id-ascending tie-break. Scoring touches
        only dup-cluster members (a sliver), one Arrow UDF pass.

    Cells partition the corpus, so the k-cell edge set is a SUBSET of
    the single-cell (exhaustive) edge set: survivors are monotone in k —
    every k=1 survivor also survives at k>1 (pytest-locked property)."""
    if centroids is None:
        centroids = train_centroids(
            df, id_col, vec_col, k=k, sample=seed_sample
        )
    edges = semantic_dup_pairs(
        df,
        centroids,
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
        hot_bucket=hot_bucket,
    )
    if keep == "min_id":
        return resolve_duplicates(df, edges, id_col)
    if keep != "far_from_centroid":
        raise ValueError(f"unknown keep rule: {keep!r}")
    comp = connected_components(edges)
    members = df.join(
        comp, df[id_col] == comp["id"], "left_semi"
    ).select(
        F.col(id_col).alias("id"),
        _cell_score_udf(centroids)(F.col(vec_col)).alias("cent_cos"),
    )
    w = Window.partitionBy("component").orderBy(
        F.asc("cent_cos"), F.asc("id")
    )
    keepers = (
        comp.join(members, "id")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("id")
    )
    drop = comp.select("id").exceptAll(keepers)
    return df.join(drop, df[id_col] == drop["id"], "left_anti")


# ---------------------------------------------------------------------------
# IVF index persistence: build once, probe many
# ---------------------------------------------------------------------------


def save_ivf_index(
    corpus: DataFrame,
    centroids: np.ndarray,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist an IVF index: ``{path}/centroids`` (k tiny rows) and
    ``{path}/corpus`` with the cell assignment materialized AND used as
    the hive partition column. That layout is the point of the index:
    a search probing ``n_probe`` of ``k`` cells filters on the partition
    column, so the scan reads ONLY the probed cells' files
    (PartitionFilters — plan-asserted in tests) instead of re-scoring
    the corpus. Assignment runs once here; searches never run the cell
    UDF over the corpus again. Iceberg spelling: identical, with `cell`
    as a partition transform."""
    spark = corpus.sparkSession
    spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(centroids)],
        "cell int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    cell = _cell_udf(centroids)
    (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("c_vec"),
            cell(F.col(vec_col)).alias("cell"),
        )
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/corpus")
    )


def load_ivf_centroids(spark, path: str) -> np.ndarray:
    rows = spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    return np.array([list(r["centroid"]) for r in rows], dtype=np.float64)


def ivf_search(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Search a persisted IVF index (:func:`save_ivf_index`): assign each
    query its ``n_probe`` nearest centroids (queries are the small side —
    one tiny Arrow pass), PRUNE the corpus scan to the union of probed
    cells via a partition-column isin (files of unprobed cells are never
    opened), then exact cosine + per-query rank inside the probed slice —
    identical results to :func:`ivf_topk` with the same centroids.

    The probed-cell union is collected from the query side (bounded by
    k_cells, never by corpus or query count)."""
    centroids = load_ivf_centroids(spark, path)
    probes = _probe_udf(centroids, min(n_probe, centroids.shape[0]))
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(probes(F.col(vec_col))).alias("cell"),
    ).localCheckpoint(eager=True)  # referenced twice: cell union + join
    cells = sorted({r["cell"] for r in q.select("cell").distinct().collect()})
    corpus = spark.read.parquet(f"{path}/corpus").filter(
        F.col("cell").isin(cells)
    )
    scored = corpus.join(F.broadcast(q), "cell").select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
