"""Int8 embedding quantization — storage-scale path for vector columns.

At 10^12 rows a float32 embedding column dominates the table (64 dims ×
4 B = 256 B/row ≈ 256 TB); symmetric per-row int8 quantization cuts it
4× with a bounded, per-row-reconstructible error. Everything here is a
pure native Column expression (``transform``/``aggregate`` higher-order
functions — JVM-side, no Python stage, fused into whatever projection
writes the table), and the arithmetic is deliberately portable
(max/abs/round/divide) so an ANSI-SQL oracle reproduces every quantized
value bit-for-bit.

Scheme: per-row symmetric scale ``s = max(|v_i|) / 127`` (guarded by
``eps`` for all-zero vectors), ``q_i = round(v_i / s)`` ∈ [-127, 127],
dequantized ``v̂_i = q_i · s``. Properties:

- reconstruction error per element ≤ s/2 (locked by tests);
- scoring without dequantizing a second table pass: cosine of two
  quantized rows = (q_a·q_b) / (|q_a||q_b|) — scales cancel in cosine,
  so int-dot scoring needs only the int8 arrays;
- deterministic: function of the row alone — stable under re-runs,
  resume, repartition (same contract as ops/sample.py).

Reference scope: the reference checker has no vector surface; this is
the beyond-reference training-pipeline layer (brief: embeddings as
first-class columns).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: int8 symmetric range — q values land in [-127, 127] (−128 unused so
#: the scheme is symmetric and |q| ≤ 127 always holds)
QMAX = 127


def quant_scale(vec: Column, eps: float = 1e-12) -> Column:
    """Per-row symmetric scale: max(|v_i|)/127, floored at ``eps`` so an
    all-zero (or empty) vector quantizes to zeros instead of dividing by
    zero. NULL vectors pass through as NULL."""
    mx = F.aggregate(
        vec, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    )
    return F.greatest(mx / F.lit(float(QMAX)), F.lit(eps))


def quantize_expr(vec: Column, scale: Column) -> Column:
    """array<tinyint> of round(v_i / scale). With ``scale`` from
    :func:`quant_scale`, every value is in [-127, 127] by construction."""
    return F.transform(
        vec, lambda x: F.round(x / scale).cast("tinyint")
    )


def max_abs_error_expr(vec: Column, q: Column, scale: Column) -> Column:
    """max_i |v_i − q_i·s| — the per-row reconstruction error (≤ s/2)."""
    return F.aggregate(
        F.zip_with(
            vec, q, lambda v, qq: F.abs(v - qq.cast("double") * scale)
        ),
        F.lit(0.0),
        lambda acc, e: F.greatest(acc, e),
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    q_col: str = "q",
    scale_col: str = "q_scale",
    eps: float = 1e-12,
) -> DataFrame:
    """Add ``q`` (array<tinyint>) + ``q_scale`` (double) columns — the
    storage form. Map-only: at 10^12 rows this rides the table's write
    projection; no shuffle, no UDF."""
    s = quant_scale(F.col(vec_col), eps)
    return df.withColumn(scale_col, s).withColumn(
        q_col, quantize_expr(F.col(vec_col), F.col(scale_col))
    )


def int_dot(qa: Column, qb: Column) -> Column:
    """Integer dot product of two quantized rows (as long — 64 dims of
    |q| ≤ 127 caps at ~10^6, far inside int64)."""
    return F.aggregate(
        F.zip_with(qa, qb, lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def quantized_cosine(qa: Column, qb: Column) -> Column:
    """Cosine from the int8 arrays alone — the per-row scales cancel, so
    scoring quantized tables never touches the float column or the
    scales. Guarded for zero vectors like similarity.cosine."""
    num = int_dot(qa, qb).cast("double")
    na = F.sqrt(int_dot(qa, qa).cast("double"))
    nb = F.sqrt(int_dot(qb, qb).cast("double"))
    return num / (
        F.greatest(na, F.lit(1e-12)) * F.greatest(nb, F.lit(1e-12))
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    q_col: str = "q",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k over QUANTIZED tables — the similarity-search
    path once the float column is dropped for storage. Same plan shape
    as ``similarity.brute_force_topk`` (broadcast queries, per-query
    rank window, neighbor-id tie-break), but the score is built from
    INTEGER dot products: exact, engine-independent arithmetic, so
    unlike the float path the whole search — scores included — is
    reproducible bit-for-bit in an ANSI-SQL oracle.
    Output: (query_id, neighbor_id, score, rank)."""
    from pyspark.sql import Window

    qs = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(q_col).alias("qq"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(q_col).alias("cq")
    )
    scored = c.crossJoin(qs).select(
        "query_id",
        "neighbor_id",
        F.round(quantized_cosine(F.col("qq"), F.col("cq")), 6).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
