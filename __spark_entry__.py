"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (the engine's fused constraint
suite over a deterministically-dirtied ``documents`` table) at sf0.001.
``queries()`` exposes one callable per implemented operator family from
SURVEY.md §2 (+ the data-pipeline ops); ``oracle_sql()`` gives the
DuckDB-equivalent ANSI SQL for every SQL-expressible one.

Column-name/alias parity between the Spark and SQL sides is load-bearing:
the driver sorts columns by name before value-hashing.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from smcchecker_spark import clean, stats
from smcchecker_spark.constraints import (
    InLookup,
    IntRange,
    MaxLength,
    NotNull,
    Range,
    Regex,
    Suite,
    Unique,
    ValidationContext,
)
from smcchecker_spark.compile import compile_suite
from smcchecker_spark.image import (
    AspectRatioRange,
    BytesPerPixelRange,
    MinResolution,
)
from smcchecker_spark.vector import VectorFinite, VectorNormRange, VectorShape
from smcchecker_spark.ops import contamination, dedup, pack, sessions, similarity
from smcchecker_spark.ops import asof as asof_ops
from smcchecker_spark.ops import incremental as inc_ops
from smcchecker_spark.ops import sample as sample_ops
from smcchecker_spark.ops import text as text_ops
from smcchecker_spark.ops import urls as url_ops

SF_SMOKE = "/root/testdata/sf0.001"


#: inferred table schemas, keyed by (path, st_mtime_ns, st_size)
_SCHEMAS: dict[tuple[str, int, int], StructType] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one registry table. Inferring a parquet schema runs a Spark
    job (the footer read), so a table's first read memoizes the inferred
    ``StructType`` under ``(path, st_mtime_ns, st_size)`` and later reads
    pass it in: no job. A rewritten file changes the key and is inferred
    again; a path ``os.stat`` cannot see (an object-store URI) is read
    without the memo."""
    path = f"{sf_dir}/{name}.parquet"
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    key = (path, st.st_mtime_ns, st.st_size)
    if key not in _SCHEMAS:
        _SCHEMAS[key] = spark.read.parquet(path).schema
    return spark.read.schema(_SCHEMAS[key]).parquet(path)


# ---------------------------------------------------------------------------
# Flagship: the constraint engine on a deterministically-dirtied documents
# table. Violations are planted with pure SQL-expressible transforms so a
# DuckDB oracle reproduces the engine's violation rows bit-for-bit.
# ---------------------------------------------------------------------------

_LU_SOURCES = [f"src{i}" for i in range(19)]  # src19 intentionally missing


def _dirty_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 11 == 3, F.lit(None))
        .otherwise(F.col("text"))
        .alias("text"),
        F.when(F.col("doc_id") % 13 == 4, F.lit("xx"))
        .otherwise(F.col("lang"))
        .alias("lang"),
        "source",
        "n_chars",
    )
    dirty = base.unionByName(base.filter(F.col("doc_id") % 17 == 5))
    return dirty.withColumn("part_id", (F.col("doc_id") % 8).cast("int"))


def q_engine_suite_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    dirty = _dirty_documents(spark, sf_dir)
    suite = Suite(
        name="documents_core",
        table="documents",
        constraints=[
            NotNull("text"),
            MaxLength("text", max_length=500),
            Regex("lang", pattern="^(en|es|de|fr|zh)$"),
            Range("n_chars", lo=0.0, hi=520.0),
            Unique(["doc_id"]),
            InLookup("source", lookup="lu_source", lookup_key="src"),
        ],
    )
    ctx = ValidationContext(
        lookups={
            "lu_source": spark.createDataFrame(
                [(s,) for s in _LU_SOURCES], "src string"
            )
        }
    )
    return compile_suite(
        dirty, suite, ctx, row_id_col="doc_id", part_id_col="part_id"
    )


_ENGINE_SUITE_ORACLE = """
WITH base AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 3 THEN NULL ELSE text END AS text,
         CASE WHEN doc_id % 13 = 4 THEN 'xx' ELSE lang END AS lang,
         source, n_chars
  FROM documents
),
d AS (
  SELECT *, CAST(doc_id % 8 AS INT) AS part_id FROM (
    SELECT * FROM base UNION ALL SELECT * FROM base WHERE doc_id % 17 = 5
  )
)
SELECT 'documents' AS "table", CAST(doc_id AS VARCHAR) AS row_id,
       'text' AS columns, 'Missing Required Data' AS error_type,
       TRUE AS is_core_error,
       'There is an empty value here, but the column text requires a value in all rows' AS error_message,
       'notnull_text' AS check_name, 'error' AS severity, part_id
FROM d WHERE text IS NULL OR text = '' OR lower(text) = 'nan'
UNION ALL
SELECT 'documents', CAST(doc_id AS VARCHAR), 'text', 'Value too long', TRUE,
       'The value is too long for column text, which allows a maximum length of 500',
       'maxlength_text', 'error', part_id
FROM d WHERE text IS NOT NULL AND length(text) > 500
UNION ALL
SELECT 'documents', CAST(doc_id AS VARCHAR), 'lang', 'Invalid Format', TRUE,
       'The column lang must match the pattern ^(en|es|de|fr|zh)$',
       'regex_lang', 'error', part_id
FROM d WHERE lang IS NOT NULL AND NOT regexp_matches(lang, '^(en|es|de|fr|zh)$')
UNION ALL
SELECT 'documents', CAST(doc_id AS VARCHAR), 'n_chars', 'Value out of range', TRUE,
       'The column n_chars allows values from 0.0 to 520.0',
       'range_n_chars', 'error', part_id
FROM d WHERE TRY_CAST(n_chars AS DOUBLE) IS NOT NULL
         AND NOT (n_chars BETWEEN 0 AND 520)
UNION ALL
SELECT 'documents', CAST(doc_id AS VARCHAR), 'doc_id', 'Duplicated Rows', TRUE,
       'You have duplicated rows based on the primary key fields doc_id',
       'unique_doc_id', 'error', part_id
FROM d WHERE doc_id IN (SELECT doc_id FROM d GROUP BY doc_id HAVING count(*) > 1)
UNION ALL
SELECT 'documents', CAST(doc_id AS VARCHAR), 'source', 'Lookup List Fail', TRUE,
       'This value you entered (' || source || ') did not match the lookup list lu_source',
       'inlookup_source_lu_source', 'error', part_id
FROM d WHERE source IS NOT NULL AND source NOT IN ({lu})
""".format(lu=", ".join(f"'{s}'" for s in _LU_SOURCES))


def q_messages_per_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row '; '-joined violation messages (reference A2 semantics,
    proj/utils/generic.py:42-46), over the flagship suite's violations."""
    v = q_engine_suite_documents(spark, sf_dir)
    return v.groupBy("table", "row_id").agg(
        F.array_join(F.array_sort(F.collect_list("error_message")), "; ").alias(
            "error_message"
        )
    )


_MESSAGES_ORACLE = (
    "WITH v AS (" + _ENGINE_SUITE_ORACLE + ")\n"
    'SELECT "table", row_id,\n'
    "       string_agg(error_message, '; ' ORDER BY error_message) AS error_message\n"
    'FROM v GROUP BY "table", row_id'
)


def q_pq_encode_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode (ops/pq.py): int8 vectors → m=8
    code indices against deterministic closed-form INTEGER codebooks
    (16x compression over the int8 form; 4-bit codes). All distances
    are exact int64, so the per-subspace argmin — tie → lowest code —
    is reproduced bit-for-bit by the DuckDB oracle from the same
    codebook formula. Codes surface as CSV (scalar-output contract).
    Trained-codebook quality is covered by the rows-only sibling
    ``pq_trained_recon`` and tests/test_pq.py."""
    from smcchecker_spark.ops import pq, quant

    emb = _t(spark, sf_dir, "embeddings")
    q = quant.quantize_embeddings(emb).select(
        "vec_id", F.col("q").cast("array<int>").alias("q")
    )
    enc = pq.pq_encode(q, pq.formula_codebooks())
    return enc.select(
        "vec_id",
        F.concat_ws(
            ",", F.transform("pq_codes", lambda c: c.cast("string"))
        ).alias("codes_csv"),
    )


# the oracle rebuilds int8 quantization (the proven _QUANTIZE_ORACLE
# expression), expands the (subspace j, code c, dim d) grid, computes
# exact integer squared distances against the formula codebook
# cb = (j*29 + c*5 + d*11) % 31 - 15, and takes the per-(vec, j)
# argmin with the same lowest-code tie rule
_PQ_ENCODE_ORACLE = """
WITH s AS (
  SELECT vec_id, embedding,
         greatest(
           list_max(list_transform(embedding,
                                   x -> abs(CAST(x AS DOUBLE)))) / 127.0,
           1e-12) AS sc
  FROM embeddings
),
q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) / sc)
                                  AS BIGINT)) AS qv
  FROM s
),
grid AS (
  SELECT q.vec_id, j.range AS j, c.range AS c,
         SUM( (qv[CAST(j.range*8 + d.range + 1 AS INT)]
               - ((j.range*29 + c.range*5 + d.range*11) % 31 - 15))
            * (qv[CAST(j.range*8 + d.range + 1 AS INT)]
               - ((j.range*29 + c.range*5 + d.range*11) % 31 - 15)) )
           AS dist
  FROM q, range(8) j, range(16) c, range(8) d
  GROUP BY q.vec_id, j.range, c.range
),
best AS (
  SELECT vec_id, j, c,
         ROW_NUMBER() OVER (PARTITION BY vec_id, j
                            ORDER BY dist ASC, c ASC) AS rn
  FROM grid
)
SELECT vec_id,
       string_agg(CAST(c AS VARCHAR), ',' ORDER BY j) AS codes_csv
FROM best WHERE rn = 1
GROUP BY vec_id
"""


def q_pq_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k (ops/pq.py): the query's m×k
    integer LUT folds into the scan projection as literals and each
    row costs m table picks — one corpus scan, NO Python stage in
    scoring (plan-asserted in tests/test_pq.py), no vector
    reconstruction. Query = the int8 form of corpus row vec_id=7
    (bounded single-row collect; the oracle reuses it by subquery).
    Exact integer ADC ⇒ value-checked ranks."""
    from smcchecker_spark.ops import pq, quant

    emb = _t(spark, sf_dir, "embeddings")
    q = quant.quantize_embeddings(emb).select(
        "vec_id", F.col("q").cast("array<int>").alias("q")
    )
    import numpy as np

    books = pq.formula_codebooks()
    enc = pq.pq_encode(q, books)
    query_q = np.array(
        q.filter(F.col("vec_id") == 7).first()["q"], dtype=np.int64
    )
    return pq.pq_topk_partial(enc, query_q, books, k=10)


_PQ_TOPK_ORACLE = """
WITH s AS (
  SELECT vec_id, embedding,
         greatest(
           list_max(list_transform(embedding,
                                   x -> abs(CAST(x AS DOUBLE)))) / 127.0,
           1e-12) AS sc
  FROM embeddings
),
q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) / sc)
                                  AS BIGINT)) AS qv
  FROM s
),
grid AS (
  SELECT q.vec_id, j.range AS j, c.range AS c,
         SUM( (qv[CAST(j.range*8 + d.range + 1 AS INT)]
               - ((j.range*29 + c.range*5 + d.range*11) % 31 - 15))
            * (qv[CAST(j.range*8 + d.range + 1 AS INT)]
               - ((j.range*29 + c.range*5 + d.range*11) % 31 - 15)) )
           AS dist
  FROM q, range(8) j, range(16) c, range(8) d
  GROUP BY q.vec_id, j.range, c.range
),
best AS (
  SELECT vec_id, j, c AS code,
         ROW_NUMBER() OVER (PARTITION BY vec_id, j
                            ORDER BY dist ASC, c ASC) AS rn
  FROM grid
),
qq AS (SELECT qv FROM q WHERE vec_id = 7),
lut AS (
  SELECT j.range AS j, c.range AS c,
         SUM( ((SELECT qv FROM qq)[CAST(j.range*8 + d.range + 1 AS INT)]
               - ((j.range*29 + c.range*5 + d.range*11) % 31 - 15))
            * ((SELECT qv FROM qq)[CAST(j.range*8 + d.range + 1 AS INT)]
               - ((j.range*29 + c.range*5 + d.range*11) % 31 - 15)) )
           AS d2
  FROM range(8) j, range(16) c, range(8) d
  GROUP BY j.range, c.range
),
scored AS (
  SELECT b.vec_id AS neighbor_id, SUM(l.d2) AS adc_dist
  FROM (SELECT vec_id, j, code FROM best WHERE rn = 1) b
  JOIN lut l ON l.j = b.j AND l.c = b.code
  GROUP BY b.vec_id
),
ranked AS (
  SELECT neighbor_id, adc_dist,
         ROW_NUMBER() OVER (ORDER BY adc_dist ASC, neighbor_id ASC)
           AS rank
  FROM scored
)
SELECT neighbor_id, CAST(adc_dist AS BIGINT) AS adc_dist,
       CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10
"""


def q_ivfpq_topk_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (ops/pq.py ivfpq_encode/ivfpq_topk — the FAISS-IVFADC
    layout: coarse cell for source-level pruning + 4-bit codes for
    scoring, float vectors dropped from the search path). Probing ALL
    cells makes the result provably identical to exact PQ top-k over
    the whole index, so the k-means cell assignment cannot perturb the
    value-checked answer — the same exhaustive-regime trick as
    ``ivf_topk_exhaustive``. The pruned regime's subset/recall behavior
    is locked by tests/test_pq.py."""
    import numpy as np

    from smcchecker_spark.ops import pq, quant, similarity

    emb = _t(spark, sf_dir, "embeddings")
    q = quant.quantize_embeddings(emb).select(
        "vec_id", "embedding", F.col("q").cast("array<int>").alias("q")
    )
    cents = similarity.train_centroids(q, k=8, sample=256)
    books = pq.formula_codebooks()
    index = pq.ivfpq_encode(q, cents, books)
    row = q.filter(F.col("vec_id") == 7).first()
    return pq.ivfpq_topk(
        index,
        np.array(row["embedding"], dtype=np.float64),
        np.array(row["q"], dtype=np.int64),
        cents,
        books,
        k=10,
        n_probe=8,
    )


def q_pq_trained_recon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ trained-codebook pipeline in its EXACT regime: iters=0 makes
    train_pq_codebooks' k-means init (the 16 lowest-vec_id sampled
    rows' subvectors, rounded to ints — already ints here) the
    codebook, so the whole train → encode → reconstruction-error chain
    is SQL-expressible and value-checked: the oracle rebuilds the same
    sample-init codebooks from the table and re-derives every argmin
    and squared error in int64. The 10-iteration Lloyd's path shares
    all of this machinery and is locked by tests/test_pq.py (it is not
    SQL-expressible, so it stays out of the driver window)."""
    from smcchecker_spark.ops import pq, quant

    emb = _t(spark, sf_dir, "embeddings")
    q = quant.quantize_embeddings(emb).select(
        "vec_id", F.col("q").cast("array<int>").alias("q")
    )
    books = pq.train_pq_codebooks(q, sample=512, iters=0)
    enc = pq.pq_encode(q, books)
    err = pq.reconstruction_error(enc, books)
    return err.agg(
        F.count("*").alias("n_rows"),
        F.sum("pq_sq_err").alias("total_sq_err"),
        F.max("pq_sq_err").alias("max_sq_err"),
    )


_PQ_TRAINED_RECON_ORACLE = """
WITH s AS (
  SELECT vec_id, embedding,
         greatest(
           list_max(list_transform(embedding,
                                   x -> abs(CAST(x AS DOUBLE)))) / 127.0,
           1e-12) AS sc
  FROM embeddings
),
q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) / sc)
                                  AS BIGINT)) AS qv
  FROM s
),
cb AS (
  SELECT j.range AS j, init.c AS c, d.range AS d,
         init.qv[CAST(j.range*8 + d.range + 1 AS INT)] AS val
  FROM range(8) j,
       (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c, qv
        FROM q ORDER BY vec_id LIMIT 16) init,
       range(8) d
),
dist AS (
  SELECT q.vec_id, cb.j, cb.c,
         SUM( (q.qv[CAST(cb.j*8 + cb.d + 1 AS INT)] - cb.val)
            * (q.qv[CAST(cb.j*8 + cb.d + 1 AS INT)] - cb.val) ) AS d2
  FROM q, cb
  GROUP BY q.vec_id, cb.j, cb.c
),
best AS (
  SELECT vec_id, j, d2,
         ROW_NUMBER() OVER (PARTITION BY vec_id, j
                            ORDER BY d2 ASC, c ASC) AS rn
  FROM dist
),
rowerr AS (
  SELECT vec_id, SUM(d2) AS sq_err FROM best WHERE rn = 1 GROUP BY vec_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(sq_err) AS BIGINT) AS total_sq_err,
       CAST(MAX(sq_err) AS BIGINT) AS max_sq_err
FROM rowerr
"""


def q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric embedding quantization (ops/quant.py): the 4x
    storage path for vector columns, pure Column HOFs (no Python stage,
    map-only). Scale surfaces as integer micro-units (bit-safe compare)
    and the per-row reconstruction bound |v − q·s| ≤ s/2 as a boolean
    the oracle expects TRUE — quantized values themselves are
    value-checked element-for-element. The quantized vector surfaces as
    a CSV string (``q_csv``) rather than a raw array: the driver's
    canonicalizer sorts every output column through pandas and dies on
    unhashable list cells, so registry outputs must be scalar-typed
    (enforced by tests/test_entry.py)."""
    from smcchecker_spark.ops import quant

    emb = _t(spark, sf_dir, "embeddings")
    q = quant.quantize_embeddings(emb)
    err = quant.max_abs_error_expr(
        F.col("embedding"), F.col("q"), F.col("q_scale")
    )
    return q.select(
        "vec_id",
        F.concat_ws(
            ",", F.transform("q", lambda x: x.cast("int").cast("string"))
        ).alias("q_csv"),
        F.round(F.col("q_scale") * 1e6).cast("long").alias("scale_micro"),
        (err <= F.col("q_scale") / 2 + 1e-12).alias("err_ok"),
    )


_QUANTIZE_ORACLE = """
WITH s AS (
  SELECT vec_id, embedding,
         greatest(
           list_max(list_transform(embedding,
                                   x -> abs(CAST(x AS DOUBLE)))) / 127.0,
           1e-12) AS sc
  FROM embeddings
)
SELECT vec_id,
       array_to_string(
         list_transform(embedding,
                        x -> CAST(CAST(round(CAST(x AS DOUBLE) / sc) AS INT)
                                  AS VARCHAR)), ',') AS q_csv,
       CAST(round(sc * 1000000) AS BIGINT) AS scale_micro,
       TRUE AS err_ok
FROM s
"""


def q_union_evolution_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift union (tables.union_with_evolution): three
    historical exports of ``events`` with drifted schemas — narrowed
    user_id (int), float value, dropped/extra columns — align by
    explicit widening (int→bigint, float→double), NULL-fill missing
    columns, and tag provenance. Map-only, zero shuffles."""
    from smcchecker_spark import tables

    ev = _t(spark, sf_dir, "events")
    v2024 = ev.filter(F.col("event_id") % 3 == 0).select(
        "event_id",
        F.col("user_id").cast("int").alias("user_id"),
        "event_type",
        "value",
    )
    v2025 = ev.filter(F.col("event_id") % 3 == 1).select(
        "event_id",
        "user_id",
        "event_type",
        F.col("value").cast("float").alias("value"),
        "ts",
    )
    vendor = ev.filter(F.col("event_id") % 3 == 2).select(
        "event_id", "event_type", "props"
    )
    return tables.union_with_evolution(
        {"a2024": v2024, "b2025": v2025, "vendor": vendor}
    )


_UNION_EVOLUTION_ORACLE = """
SELECT 'a2024' AS source, event_id,
       CAST(CAST(user_id AS INTEGER) AS BIGINT) AS user_id, event_type,
       value, CAST(NULL AS TIMESTAMP) AS ts, CAST(NULL AS VARCHAR) AS props
FROM events WHERE event_id % 3 = 0
UNION ALL
SELECT 'b2025', event_id, user_id, event_type,
       CAST(CAST(value AS REAL) AS DOUBLE), ts, NULL
FROM events WHERE event_id % 3 = 1
UNION ALL
SELECT 'vendor', event_id, NULL, event_type, NULL, NULL, props
FROM events WHERE event_id % 3 = 2
"""


def q_heavy_hitters_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key diagnostic (skew.heavy_hitters): top-5 event_type values
    with corpus share — the decision input for salted_repartition /
    hot-bucket guards. Map-side partial counts + TakeOrderedAndProject
    (no global sort, no unpartitioned window)."""
    from smcchecker_spark import skew

    return skew.heavy_hitters(_t(spark, sf_dir, "events"), "event_type", top=5)


_HEAVY_HITTERS_ORACLE = """
WITH c AS (
  SELECT coalesce(CAST(event_type AS VARCHAR), 'NULL') AS value,
         count(*) AS n
  FROM events GROUP BY 1
), t AS (SELECT count(*) AS tot FROM events)
SELECT value, n, round(CAST(n AS DOUBLE) / tot, 6) AS share
FROM c, t
ORDER BY n DESC, value ASC
LIMIT 5
"""


def q_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over int8-QUANTIZED vectors
    (ops/quant.py quantized_topk): the search path once the float
    column is dropped for storage. Integer dot products make the whole
    search — scores included — bit-for-bit reproducible in SQL, unlike
    the float-cosine path (which needs 6-dp rounding tolerance)."""
    from smcchecker_spark.ops import quant

    emb = _t(spark, sf_dir, "embeddings")
    qc = quant.quantize_embeddings(emb)
    queries = qc.filter(F.col("vec_id").isin([1, 2, 3])).select(
        F.col("vec_id").alias("query_id"), "q"
    )
    return quant.quantized_topk(qc, queries, k=5)


def _gen_quantized_topk_oracle(dim: int = 64) -> str:
    num = " + ".join(f"a.q[{i}] * b.q[{i}]" for i in range(1, dim + 1))
    na = " + ".join(f"a.q[{i}] * a.q[{i}]" for i in range(1, dim + 1))
    nb = " + ".join(f"b.q[{i}] * b.q[{i}]" for i in range(1, dim + 1))
    return f"""
WITH s AS (
  SELECT vec_id,
         greatest(
           list_max(list_transform(embedding,
                                    x -> abs(CAST(x AS DOUBLE)))) / 127.0,
           1e-12) AS sc,
         embedding
  FROM embeddings
),
qt AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) / sc) AS BIGINT))
           AS q
  FROM s
),
scored AS (
  SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
         round(CAST(({num}) AS DOUBLE) /
               (greatest(sqrt(CAST(({na}) AS DOUBLE)), 1e-12) *
                greatest(sqrt(CAST(({nb}) AS DOUBLE)), 1e-12)), 6) AS score
  FROM qt a CROSS JOIN (SELECT * FROM qt WHERE vec_id IN (1, 2, 3)) b
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


_QUANTIZED_TOPK_ORACLE = _gen_quantized_topk_oracle()


def q_engine_monotonic_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key sequence-consistency (MonotonicWithin): event ``value``
    must not decrease per user in event_id (ingest) order — the
    reference timeseries datasets' order checks as a declarative window
    constraint (ONE shuffle on the key hash). The raw events table has
    naturally non-monotone values, so the violation set is large and
    fully determined by the data — no planting needed."""
    from smcchecker_spark.constraints import MonotonicWithin

    ev = _t(spark, sf_dir, "events").withColumn(
        "part_id", (F.col("event_id") % 8).cast("int")
    )
    suite = Suite(
        name="events_seq",
        table="events",
        constraints=[
            MonotonicWithin("value", keys=["user_id"], order_by="event_id"),
        ],
    )
    return compile_suite(
        ev, suite, row_id_col="event_id", part_id_col="part_id"
    )


_ENGINE_MONOTONIC_ORACLE = """
WITH w AS (
  SELECT event_id, CAST(event_id % 8 AS INT) AS part_id, value,
         lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS prev
  FROM events
)
SELECT 'events' AS "table", CAST(event_id AS VARCHAR) AS row_id,
       'value' AS columns, 'Logic Error' AS error_type,
       FALSE AS is_core_error,
       'The value in value must not decrease within each (user_id) group when ordered by event_id' AS error_message,
       'monotonic_value_by_user_id' AS check_name, 'error' AS severity,
       part_id
FROM w WHERE value IS NOT NULL AND prev IS NOT NULL AND value < prev
"""


def q_fd_discovery_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency DISCOVERY (stats.suggest_fds, exact mode):
    profile which key -> value dependencies hold over the data — the
    stats-feed-the-checks loop for FunctionalDep. lhs -> rhs holds iff
    ndv(lhs) == ndv((lhs, rhs)); a derived country (pure function of
    user_id) holds, event_type does not. ONE aggregation pass for every
    candidate; exact countDistinct here (sketch mode for 10^12 rows is
    approx=True)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        (F.col("user_id") % 7).alias("country"),
        "event_type",
    )
    return stats.suggest_fds(
        ev,
        determinants=["user_id", "country"],
        dependents=["country", "event_type"],
        approx=False,
    )


_FD_DISCOVERY_ORACLE = """
WITH e AS (
  SELECT user_id, user_id % 7 AS country, event_type FROM events
)
SELECT 'user_id' AS determinant, 'country' AS dependent,
       COUNT(DISTINCT user_id) AS ndv_lhs,
       COUNT(DISTINCT (user_id, country)) AS ndv_pair,
       COUNT(DISTINCT (user_id, country)) = COUNT(DISTINCT user_id) AS holds
FROM e
UNION ALL
SELECT 'user_id', 'event_type',
       COUNT(DISTINCT user_id),
       COUNT(DISTINCT (user_id, event_type)),
       COUNT(DISTINCT (user_id, event_type)) = COUNT(DISTINCT user_id)
FROM e
UNION ALL
SELECT 'country', 'event_type',
       COUNT(DISTINCT country),
       COUNT(DISTINCT (country, event_type)),
       COUNT(DISTINCT (country, event_type)) = COUNT(DISTINCT country)
FROM e
"""


def q_engine_json_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payload validation (JsonShape): the events
    ``props`` JSON column must parse and carry the ``k`` key. Two
    deterministic corruptions are planted — a malformed prefix
    (event_id % 19 == 2; Spark's JSON reader tolerates TRAILING garbage) and a wrong-key object (event_id % 23 == 3) —
    so both failure modes appear. Native JSON expressions fused into
    the single-scan row pass; no UDF."""
    from smcchecker_spark.constraints import JsonShape

    ev = (
        _t(spark, sf_dir, "events")
        .withColumn("part_id", (F.col("event_id") % 8).cast("int"))
        .withColumn(
            "props",
            F.when(
                F.col("event_id") % 19 == 2, F.concat(F.lit("x"), "props")
            )
            .when(F.col("event_id") % 23 == 3, F.lit('{"other": 1}'))
            .otherwise(F.col("props")),
        )
    )
    suite = Suite(
        name="events_json",
        table="events",
        constraints=[JsonShape("props", required_keys=("k",))],
    )
    return compile_suite(
        ev, suite, row_id_col="event_id", part_id_col="part_id"
    )


_ENGINE_JSON_ORACLE = """
WITH e AS (
  SELECT event_id, CAST(event_id % 8 AS INT) AS part_id,
         CASE WHEN event_id % 19 = 2 THEN 'x' || props
              WHEN event_id % 23 = 3 THEN '{"other": 1}'
              ELSE props END AS props
  FROM events
)
SELECT 'events' AS "table", CAST(event_id AS VARCHAR) AS row_id,
       'props' AS columns, 'Invalid Format' AS error_type,
       TRUE AS is_core_error,
       'The column props must be valid JSON containing keys: k' AS error_message,
       'jsonshape_props' AS check_name, 'error' AS severity, part_id
FROM e
WHERE props IS NOT NULL
  AND (NOT json_valid(props) OR json_extract(props, '$.k') IS NULL)
"""


def q_engine_fd_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency consistency (FunctionalDep): each user_id
    must map to exactly ONE derived country code — two ingest batches
    disagreeing about the same key is the drift this catches. The
    country is a pure function of user_id (user_id % 7) corrupted on a
    deterministic row slice (event_id % 131 == 5 adds 1), so every user
    touched by the corruption becomes an inconsistent group and ALL of
    that group's rows flag. ONE shuffle on the key hash + a join-back
    carrying only inconsistent keys (AQE broadcasts it)."""
    from smcchecker_spark.constraints import FunctionalDep

    ev = (
        _t(spark, sf_dir, "events")
        .withColumn("part_id", (F.col("event_id") % 8).cast("int"))
        .withColumn(
            "country",
            F.when(
                F.col("event_id") % 131 == 5, F.col("user_id") % 7 + 1
            ).otherwise(F.col("user_id") % 7),
        )
    )
    suite = Suite(
        name="events_fd",
        table="events",
        constraints=[FunctionalDep(keys=["user_id"], depends=["country"])],
    )
    return compile_suite(
        ev, suite, row_id_col="event_id", part_id_col="part_id"
    )


_ENGINE_FD_ORACLE = """
WITH e AS (
  SELECT event_id, CAST(event_id % 8 AS INT) AS part_id, user_id,
         CASE WHEN event_id % 131 = 5 THEN user_id % 7 + 1
              ELSE user_id % 7 END AS country
  FROM events
),
bad AS (
  SELECT user_id FROM e GROUP BY user_id HAVING COUNT(DISTINCT country) > 1
)
SELECT 'events' AS "table", CAST(event_id AS VARCHAR) AS row_id,
       'country' AS columns, 'Logic Error' AS error_type,
       FALSE AS is_core_error,
       'The value of (country) must be constant within each (user_id) group' AS error_message,
       'fd_user_id__country' AS check_name, 'error' AS severity, part_id
FROM e JOIN bad USING (user_id)
"""


def q_engine_conditional_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional (row-scoped) constraints via ``OnlyWhen``: a check
    applies only where a SQL condition holds — the reference's filtered
    badrows masks (proj/custom/example.py:45-50) as declarative data.
    Compiled into the SAME fused single-scan row pass (zero extra
    passes); NULL conditions = not applicable = pass."""
    from smcchecker_spark.constraints import OnlyWhen

    dirty = _dirty_documents(spark, sf_dir)
    suite = Suite(
        name="documents_conditional",
        table="documents",
        constraints=[
            OnlyWhen("lang = 'en'", NotNull("text")),
            OnlyWhen("source = 'web'", Regex("lang", pattern="^(en|es|de|fr|zh)$")),
        ],
    )
    return compile_suite(
        dirty, suite, row_id_col="doc_id", part_id_col="part_id"
    )


_ENGINE_CONDITIONAL_ORACLE = """
WITH base AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 3 THEN NULL ELSE text END AS text,
         CASE WHEN doc_id % 13 = 4 THEN 'xx' ELSE lang END AS lang,
         source, n_chars
  FROM documents
),
d AS (
  SELECT *, CAST(doc_id % 8 AS INT) AS part_id FROM (
    SELECT * FROM base UNION ALL SELECT * FROM base WHERE doc_id % 17 = 5
  )
)
SELECT 'documents' AS "table", CAST(doc_id AS VARCHAR) AS row_id,
       'text' AS columns, 'Missing Required Data' AS error_type,
       TRUE AS is_core_error,
       'There is an empty value here, but the column text requires a value in all rows (rule applies when lang = ''en'')' AS error_message,
       'when_notnull_text' AS check_name, 'error' AS severity, part_id
FROM d WHERE (lang = 'en') AND (text IS NULL OR text = '' OR lower(text) = 'nan')
UNION ALL
SELECT 'documents', CAST(doc_id AS VARCHAR), 'lang', 'Invalid Format', TRUE,
       'The column lang must match the pattern ^(en|es|de|fr|zh)$ (rule applies when source = ''web'')',
       'when_regex_lang', 'error', part_id
FROM d WHERE (source = 'web')
         AND lang IS NOT NULL AND NOT regexp_matches(lang, '^(en|es|de|fr|zh)$')
"""


def q_violations_sampled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-check violation sampling (run.sample_violations): bounded
    stored sample per check with EXACT counts kept — at 10^12 rows the
    violations sink must not become a second copy of the table. One
    tiny count aggregate fixes deterministic md5 keep-rates; the filter
    is map-only (no shuffle of the violations), reproducible here in
    SQL bit-for-bit."""
    from smcchecker_spark.run import sample_violations

    v = q_engine_suite_documents(spark, sf_dir).persist()
    sampled, _counts = sample_violations(v, per_check=40, salt="bench")
    return sampled


_VIOLATIONS_SAMPLED_ORACLE = (
    "WITH v AS (" + _ENGINE_SUITE_ORACLE + """),
c AS (SELECT check_name, count(*) AS n FROM v GROUP BY check_name),
s AS (SELECT v.*, least(1.0, 40.0 / c.n) AS rate
      FROM v JOIN c USING (check_name))
SELECT "table", row_id, columns, error_type, is_core_error, error_message,
       check_name, severity, part_id
FROM s
WHERE (('0x' || substr(md5('bench' || check_name || '|' || row_id), 1, 15))::BIGINT
       % 1000000) < CAST(trunc(rate * 1000000) AS BIGINT)
"""
)


def _dirty_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministically corrupt the embeddings table with SQL-expressible
    transforms: truncated vectors (shape), EMPTY vectors (shape + the
    norm-0.0 edge -- DuckDB's list_sum([]) is NULL, so the oracle
    coalesces to match the engine's 0.0 fold), 40x mis-scaled vectors
    (norm), NaN first element (finiteness), duplicated vec_ids
    (uniqueness)."""
    emb = _t(spark, sf_dir, "embeddings")
    c = F.col("embedding")
    vid = F.col("vec_id")
    base = emb.select(
        "vec_id",
        F.when(vid % 23 == 1, F.slice(c, 1, 63))
        .when(vid % 41 == 5, F.slice(c, 1, 0))
        .when(
            vid % 29 == 2,
            F.transform(c, lambda x: x * F.lit(40.0).cast("float")),
        )
        .when(
            vid % 31 == 3,
            F.concat(
                F.array(F.lit(float("nan")).cast("float")),
                F.slice(c, 2, 63),
            ),
        )
        .otherwise(c)
        .alias("embedding"),
        "label",
    )
    dirty = base.unionByName(base.filter(vid % 37 == 4))
    return dirty.withColumn("part_id", (F.col("vec_id") % 8).cast("int"))


def q_engine_embedding_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The constraint engine over an array<float> embedding column:
    VectorShape / VectorFinite / VectorNormRange (vector.py) fused into
    the same single row-pass as scalar checks, plus Unique — the
    embedding-corpus analogue of the flagship documents suite."""
    dirty = _dirty_embeddings(spark, sf_dir)
    suite = Suite(
        name="embeddings_core",
        table="embeddings",
        constraints=[
            VectorShape("embedding", dim=64),
            VectorFinite("embedding"),
            VectorNormRange("embedding", lo=0.5, hi=8.0),
            Unique(["vec_id"]),
        ],
    )
    return compile_suite(
        dirty, suite, row_id_col="vec_id", part_id_col="part_id"
    )


_EMBEDDING_SUITE_ORACLE = """
WITH base AS (
  SELECT vec_id,
         CASE WHEN vec_id % 23 = 1 THEN embedding[1:63]
              WHEN vec_id % 41 = 5 THEN embedding[1:0]
              WHEN vec_id % 29 = 2 THEN list_transform(embedding, x -> x * CAST(40.0 AS FLOAT))
              WHEN vec_id % 31 = 3 THEN list_concat([CAST('nan' AS FLOAT)], embedding[2:])
              ELSE embedding END AS embedding,
         label
  FROM embeddings
),
d AS (
  SELECT *, CAST(vec_id % 8 AS INT) AS part_id FROM (
    SELECT * FROM base UNION ALL SELECT * FROM base WHERE vec_id % 37 = 4
  )
),
normed AS (
  SELECT *, sqrt(coalesce(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)), 0.0)) AS l2
  FROM d
)
SELECT 'embeddings' AS "table", CAST(vec_id AS VARCHAR) AS row_id,
       'embedding' AS columns, 'Invalid Vector Shape' AS error_type,
       TRUE AS is_core_error,
       'The vector column embedding must have exactly 64 elements' AS error_message,
       'vectorshape_embedding' AS check_name, 'error' AS severity, part_id
FROM d WHERE embedding IS NOT NULL AND len(embedding) <> 64
UNION ALL
SELECT 'embeddings', CAST(vec_id AS VARCHAR), 'embedding', 'Non-finite Value',
       TRUE,
       'The vector column embedding contains a NaN, infinite, or NULL element',
       'vectorfinite_embedding', 'error', part_id
FROM d WHERE embedding IS NOT NULL
         AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) > 0
UNION ALL
SELECT 'embeddings', CAST(vec_id AS VARCHAR), 'embedding', 'Value out of range',
       TRUE,
       'The vector column embedding must have an L2 norm between 0.5 and 8.0',
       'vectornormrange_embedding', 'error', part_id
FROM normed WHERE embedding IS NOT NULL AND NOT isnan(l2)
              AND NOT (l2 BETWEEN 0.5 AND 8.0)
UNION ALL
SELECT 'embeddings', CAST(vec_id AS VARCHAR), 'vec_id', 'Duplicated Rows',
       TRUE,
       'You have duplicated rows based on the primary key fields vec_id',
       'unique_vec_id', 'error', part_id
FROM d WHERE vec_id IN (SELECT vec_id FROM d GROUP BY vec_id HAVING count(*) > 1)
"""


def q_engine_image_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-free image-policy gates (image.py: MinResolution /
    AspectRatioRange / BytesPerPixelRange) over metadata columns derived
    deterministically from events — pure-JVM fused pass, value-oracled.
    The same constraints run against real generated image payloads in
    tests/test_image_policy.py; here the arithmetic is what's verified."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        (F.col("event_id") % 5000).cast("int").alias("w"),
        ((F.col("event_id") * 7) % 3000).cast("int").alias("h"),
        ((F.col("event_id") * 13) % 40000).cast("int").alias("n_bytes"),
    ).withColumn("part_id", (F.col("event_id") % 8).cast("int"))
    suite = Suite(
        name="images_policy",
        table="events_images",
        constraints=[
            MinResolution("w", h_col="h", min_w=64, min_h=64),
            AspectRatioRange(
                "w", h_col="h", lo=0.5, hi=2.0,
                severity="warning", is_core=False,
            ),
            BytesPerPixelRange(
                "n_bytes", w_col="w", h_col="h", lo=0.01, hi=2.0,
                length_is_column=True,
            ),
        ],
    )
    return compile_suite(ev, suite, row_id_col="event_id", part_id_col="part_id")


_IMAGE_POLICY_ORACLE = """
WITH d AS (
  SELECT event_id,
         CAST(event_id % 5000 AS INT) AS w,
         CAST((event_id * 7) % 3000 AS INT) AS h,
         CAST((event_id * 13) % 40000 AS INT) AS n_bytes,
         CAST(event_id % 8 AS INT) AS part_id
  FROM events
)
SELECT 'events_images' AS "table", CAST(event_id AS VARCHAR) AS row_id,
       'w,h' AS columns, 'Image Policy Violation' AS error_type,
       TRUE AS is_core_error,
       'Image dimensions below the minimum resolution 64x64' AS error_message,
       'minresolution_w_h' AS check_name, 'error' AS severity, part_id
FROM d WHERE w < 64 OR h < 64
UNION ALL
SELECT 'events_images', CAST(event_id AS VARCHAR), 'w,h',
       'Image Policy Violation', FALSE,
       'Image aspect ratio (w/h) outside the allowed range [0.5, 2.0]',
       'aspectratio_w_h', 'warning', part_id
FROM d WHERE h > 0
         AND (CAST(w AS DOUBLE) < 0.5 * h OR CAST(w AS DOUBLE) > 2.0 * h)
UNION ALL
SELECT 'events_images', CAST(event_id AS VARCHAR), 'n_bytes,w,h',
       'Image Policy Violation', TRUE,
       'Image payload size per pixel outside the allowed range [0.01, 2.0] bytes/pixel',
       'bytesperpixel_n_bytes', 'error', part_id
FROM d WHERE CAST(w AS DOUBLE) * h > 0
         AND (n_bytes < 0.01 * (CAST(w AS DOUBLE) * h)
              OR n_bytes > 2.0 * (CAST(w AS DOUBLE) * h))
"""


def q_engine_intrange_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IntRange with the whole-column parse gate (all p_size values parse →
    the gate passes → out-of-[1,40] sizes violate)."""
    part = _t(spark, sf_dir, "part").withColumn(
        "part_id", (F.col("p_partkey") % 4).cast("int")
    )
    suite = Suite(
        name="part_core",
        table="part",
        constraints=[IntRange("p_size", lo=1, hi=40)],
    )
    return compile_suite(part, suite, row_id_col="p_partkey", part_id_col="part_id")


_INTRANGE_ORACLE = """
SELECT 'part' AS "table", CAST(p_partkey AS VARCHAR) AS row_id,
       'p_size' AS columns, 'Value out of range' AS error_type,
       TRUE AS is_core_error,
       'The column p_size allows integer values from 1 to 40' AS error_message,
       'intrange_p_size' AS check_name, 'error' AS severity,
       CAST(p_partkey % 4 AS INT) AS part_id
FROM part WHERE p_size IS NOT NULL AND p_size NOT BETWEEN 1 AND 40
"""


def q_engine_dtype_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dtype checks (int + timestamp coercion, reference convert_dtype
    semantics) on deterministically-dirtied string columns."""
    from smcchecker_spark.constraints import Dtype

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 2, F.lit("abc"))
        .when(F.col("o_orderkey") % 7 == 3, F.lit("12.5"))
        .otherwise(F.col("o_orderkey").cast("string"))
        .alias("val"),
        F.when(F.col("o_orderkey") % 5 == 1, F.lit("not-a-date"))
        .otherwise(F.lit("1998-01-02"))
        .alias("val_ts"),
    ).withColumn("part_id", (F.col("o_orderkey") % 4).cast("int"))
    suite = Suite(
        name="orders_dtype",
        table="orders",
        constraints=[Dtype("val", dtype="int"), Dtype("val_ts", dtype="timestamp")],
    )
    return compile_suite(orders, suite, row_id_col="o_orderkey", part_id_col="part_id")


_DTYPE_ORACLE = """
WITH d AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 2 THEN 'abc'
              WHEN o_orderkey % 7 = 3 THEN '12.5'
              ELSE CAST(o_orderkey AS VARCHAR) END AS val,
         CASE WHEN o_orderkey % 5 = 1 THEN 'not-a-date'
              ELSE '1998-01-02' END AS val_ts,
         CAST(o_orderkey % 4 AS INT) AS part_id
  FROM orders
)
SELECT 'orders' AS "table", CAST(o_orderkey AS VARCHAR) AS row_id,
       'val' AS columns, 'Invalid Datatype' AS error_type, TRUE AS is_core_error,
       'The value here is not valid for the datatype "int"' AS error_message,
       'dtype_val' AS check_name, 'error' AS severity, part_id
FROM d WHERE val IS NOT NULL AND NOT regexp_matches(trim(val), '^[+-]?\\d+$')
UNION ALL
SELECT 'orders', CAST(o_orderkey AS VARCHAR), 'val_ts', 'Invalid Datatype', TRUE,
       'The value here is not valid for the datatype "timestamp"',
       'dtype_val_ts', 'error', part_id
FROM d WHERE val_ts IS NOT NULL AND TRY_CAST(val_ts AS TIMESTAMP) IS NULL
         AND NOT regexp_matches(trim(val_ts),
             '^\\d{4}-\\d{1,2}-\\d{1,2}\\s*(\\d{1,2}:\\d{1,2}:\\d{2}(\\.\\d+)?)?$')
"""


def q_engine_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RobustOutliers (median/MAD robust z-score, data-derived bounds)
    over events.value with planted unit-mixup outliers (value x1000 on
    ~1% of rows). Two column-pruned agg passes + 1-row broadcasts; the
    oracle re-derives median, MAD, and the 3.5-scaled cut in SQL."""
    from smcchecker_spark.constraints import RobustOutliers

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 97 == 0, F.col("value") * 1000)
        .otherwise(F.col("value"))
        .alias("val"),
    ).withColumn("part_id", (F.col("event_id") % 4).cast("int"))
    suite = Suite(
        name="events_outliers",
        table="events",
        constraints=[RobustOutliers("val", k=3.5)],
    )
    return compile_suite(ev, suite, row_id_col="event_id", part_id_col="part_id")


_ROBUST_OUTLIERS_ORACLE = """
WITH d AS (
  SELECT event_id,
         CASE WHEN event_id % 97 = 0 THEN value * 1000 ELSE value END AS val,
         CAST(event_id % 4 AS INT) AS part_id
  FROM events
),
m AS (SELECT median(val) AS med FROM d),
s AS (SELECT median(abs(val - med)) AS mad FROM d, m)
SELECT 'events' AS "table", CAST(event_id AS VARCHAR) AS row_id,
       'val' AS columns, 'Value out of range' AS error_type,
       FALSE AS is_core_error,
       'The value in val is more than 3.5 scaled median-absolute-deviations from the column median'
         AS error_message,
       'robustoutliers_val' AS check_name, 'error' AS severity, part_id
FROM d, m, s
WHERE val IS NOT NULL AND mad > 0 AND abs(val - med) > 3.5 * 1.4826 * mad
"""


def q_engine_outliers_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RobustOutliers with per-GROUP bounds (keys=event_type): each
    source's own median/MAD sets its cut — the mixed-unit-corpora case
    where one global cut over/under-flags every source. |groups|-row
    broadcast joins, same two-agg-pass shape as the global form."""
    from smcchecker_spark.constraints import RobustOutliers

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 97 == 0, F.col("value") * 1000)
        .otherwise(F.col("value"))
        .alias("val"),
    ).withColumn("part_id", (F.col("event_id") % 4).cast("int"))
    suite = Suite(
        name="events_outliers_by",
        table="events",
        constraints=[RobustOutliers("val", k=3.5, keys=["event_type"])],
    )
    return compile_suite(ev, suite, row_id_col="event_id", part_id_col="part_id")


_OUTLIERS_PER_KEY_ORACLE = """
WITH d AS (
  SELECT event_id, event_type,
         CASE WHEN event_id % 97 = 0 THEN value * 1000 ELSE value END AS val,
         CAST(event_id % 4 AS INT) AS part_id
  FROM events
),
m AS (SELECT event_type, median(val) AS med FROM d GROUP BY event_type),
s AS (SELECT d.event_type, median(abs(d.val - m.med)) AS mad
      FROM d JOIN m USING (event_type) GROUP BY d.event_type)
SELECT 'events' AS "table", CAST(event_id AS VARCHAR) AS row_id,
       'val' AS columns, 'Value out of range' AS error_type,
       FALSE AS is_core_error,
       'The value in val is more than 3.5 scaled median-absolute-deviations from the column median within its (event_type) group'
         AS error_message,
       'robustoutliers_val_by_event_type' AS check_name, 'error' AS severity,
       part_id
FROM d JOIN m USING (event_type) JOIN s USING (event_type)
WHERE val IS NOT NULL AND mad > 0 AND abs(val - med) > 3.5 * 1.4826 * mad
"""


def q_engine_precision_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision (error) + Scale (warning) with the reference's exact
    digit-count semantics (leading-zero drop via int(frac), trailing-zero
    trim, fraction auto-pass for precision; proj/core/functions.py:77-166)
    — the oracle re-derives the digit math in SQL on the rendered string."""
    from smcchecker_spark.constraints import Precision, Scale

    li = _t(spark, sf_dir, "lineitem").withColumns(
        {
            "part_id": (F.col("l_orderkey") % 4).cast("int"),
            "rid": F.concat_ws("-", "l_orderkey", "l_linenumber"),
        }
    )
    suite = Suite(
        name="li_digits",
        table="lineitem",
        constraints=[
            Precision("l_extendedprice", precision=6),
            Scale("l_extendedprice", scale=1),
        ],
    )
    return compile_suite(li, suite, row_id_col="rid", part_id_col="part_id")


_PRECISION_ORACLE = r"""
WITH d AS (
  SELECT l_orderkey || '-' || l_linenumber AS rid, l_extendedprice AS x,
         lower(trim(CAST(l_extendedprice AS VARCHAR))) AS s,
         CAST(l_orderkey % 4 AS INT) AS part_id
  FROM lineitem
),
digits AS (
  SELECT *,
         CASE WHEN abs(x) >= 1 THEN CAST(floor(log10(abs(x))) + 1 AS INT)
              ELSE 1 END AS left_d,
         CASE WHEN contains(s, 'e-') THEN
                TRY_CAST(regexp_extract(s, 'e-0*(\d+)$', 1) AS INT)
                + length(regexp_extract(s, '\.(\d+)e-', 1))
              WHEN contains(s, 'e') THEN 0
              ELSE length(regexp_replace(regexp_replace(
                     regexp_extract(s, '\.(\d+)$', 1), '^0+', ''), '0+$', ''))
         END AS right_d
  FROM d
)
SELECT 'lineitem' AS "table", rid AS row_id,
       'l_extendedprice' AS columns, 'Value too long' AS error_type,
       TRUE AS is_core_error,
       'The column l_extendedprice allows a maximum of 6 significant digits' AS error_message,
       'precision_l_extendedprice' AS check_name, 'error' AS severity, part_id
FROM digits
WHERE x IS NOT NULL AND NOT isnan(x) AND NOT (abs(x) > 0 AND abs(x) < 1)
  AND left_d + right_d > 6
UNION ALL
SELECT 'lineitem', rid, 'l_extendedprice',
       'Value too long', TRUE,
       'The column l_extendedprice allows a maximum of 1 digits after the decimal point',
       'scale_l_extendedprice', 'warning', part_id
FROM digits
WHERE x IS NOT NULL AND NOT isnan(x) AND right_d > 1
"""


def q_engine_custom_gated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom-tier gating (reference: custom checks run only when core
    produced zero errors, proj/main.py:279 — generalized to partition
    granularity): core NotNull violations are planted ONLY in partition 3,
    so the custom Range check runs on every partition except 3."""
    from smcchecker_spark.run import ValidationRunner

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 8 == 3, F.lit(None))
        .otherwise(F.col("text"))
        .alias("text"),
        "n_chars",
    ).withColumn("part_id", (F.col("doc_id") % 8).cast("int"))
    suite = Suite(
        name="docs_gated",
        table="documents",
        constraints=[NotNull("text")],
        custom_constraints=[Range("n_chars", lo=0.0, hi=400.0, is_core=False)],
    )
    runner = ValidationRunner(suite, row_id_col="doc_id", part_id_col="part_id")
    return runner.run(docs).violations


_CUSTOM_GATED_ORACLE = """
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 8 = 3 THEN NULL ELSE text END AS text,
         n_chars, CAST(doc_id % 8 AS INT) AS part_id
  FROM documents
)
SELECT 'documents' AS "table", CAST(doc_id AS VARCHAR) AS row_id,
       'text' AS columns, 'Missing Required Data' AS error_type,
       TRUE AS is_core_error,
       'There is an empty value here, but the column text requires a value in all rows' AS error_message,
       'notnull_text' AS check_name, 'error' AS severity, part_id
FROM d WHERE text IS NULL OR text = '' OR lower(text) = 'nan'
UNION ALL
SELECT 'documents', CAST(doc_id AS VARCHAR), 'n_chars', 'Value out of range',
       FALSE,
       'The column n_chars allows values from 0.0 to 400.0',
       'range_n_chars', 'error', part_id
FROM d WHERE part_id <> 3 AND n_chars IS NOT NULL
         AND NOT (n_chars BETWEEN 0 AND 400)
"""


def q_engine_dup_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NotInExisting (dup-vs-production, proj/core/dupes.py:55-135): the
    'existing snapshot' is every third order key, so those incoming rows
    are flagged as already-loaded duplicates (LEFT SEMI join)."""
    from smcchecker_spark.constraints import NotInExisting

    orders = _t(spark, sf_dir, "orders").withColumn(
        "part_id", (F.col("o_orderkey") % 4).cast("int")
    )
    existing = orders.filter(F.col("o_orderkey") % 3 == 0).select("o_orderkey")
    suite = Suite(
        name="orders_dup",
        table="orders",
        constraints=[NotInExisting(["o_orderkey"], existing="prod_orders")],
    )
    ctx = ValidationContext(existing={"prod_orders": existing})
    return compile_suite(
        orders, suite, ctx, row_id_col="o_orderkey", part_id_col="part_id"
    )


_DUP_PROD_ORACLE = """
SELECT 'orders' AS "table", CAST(o_orderkey AS VARCHAR) AS row_id,
       'o_orderkey' AS columns, 'Duplicate' AS error_type, TRUE AS is_core_error,
       'This record already exists in the database (matched on o_orderkey)' AS error_message,
       'notinexisting_o_orderkey' AS check_name, 'error' AS severity,
       CAST(o_orderkey % 4 AS INT) AS part_id
FROM orders WHERE o_orderkey % 3 = 0
"""


def q_engine_subset_logic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SubsetOf (the reference's checkLogic row-containment, with TRUE
    tuple semantics — proj/custom/functions.py:36-66): every order's
    o_custkey must exist in a customer table that is missing every fifth
    key, so orders referencing those keys violate (LEFT ANTI join)."""
    from smcchecker_spark.constraints import SubsetOf

    orders = _t(spark, sf_dir, "orders").withColumn(
        "part_id", (F.col("o_orderkey") % 4).cast("int")
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 5 != 0)
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    suite = Suite(
        name="orders_logic",
        table="orders",
        constraints=[SubsetOf(["o_custkey"], other="customers", is_core=True)],
    )
    ctx = ValidationContext(existing={"customers": cust})
    return compile_suite(
        orders, suite, ctx, row_id_col="o_orderkey", part_id_col="part_id"
    )


_SUBSET_ORACLE = """
SELECT 'orders' AS "table", CAST(o_orderkey AS VARCHAR) AS row_id,
       'o_custkey' AS columns, 'Logic Error' AS error_type, TRUE AS is_core_error,
       'Each record must have a matching record in customers (matched on o_custkey)' AS error_message,
       'subsetof_o_custkey_customers' AS check_name, 'error' AS severity,
       CAST(o_orderkey % 4 AS INT) AS part_id
FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey % 5 <> 0 AND c.c_custkey = o.o_custkey)
"""


def q_tdigest_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed t-digest sketch of events.value (partial per Arrow
    batch → driver merge); returns the estimated quantiles. Approximate
    by design → rows-only check."""
    from smcchecker_spark.package import ensure_shipped

    ensure_shipped(spark)
    td = stats.tdigest_sketch(_t(spark, sf_dir, "events"), "value")
    qs = [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    return spark.createDataFrame(
        [(q, float(round(td.quantile(q), 2))) for q in qs], "q double, est double"
    )


def q_tdigest_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME distributed t-digest pipeline (per-batch partial sketch →
    serialized centroid bytes → driver merge → quantile) run in its EXACT
    regime: with delta=100000 the k-scale width between adjacent
    singleton centroids is 2*delta/(pi*n) > 1 for any n < ~63k, so
    ``_compress`` never merges and the digest is exactly the sorted
    multiset with unit weights. Its quantile then reduces to midpoint
    interpolation over sorted values (positions (i-0.5)/n) — a
    deterministic, SQL-expressible function, turning the sketch pipeline
    into a value-oracle-checkable query (the delta=100 variant above
    stays rows-only). Subset: event_id % 97 == 0 (~1% of events — ~100
    rows at sf0.01, ~1k at sf0.1, far below the exactness bound)."""
    from smcchecker_spark.package import ensure_shipped

    ensure_shipped(spark)
    ev = _t(spark, sf_dir, "events").filter((F.col("event_id") % 97) == 0)
    td = stats.tdigest_sketch(ev, "value", delta=100_000)
    qs = [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    return spark.createDataFrame(
        [(q, float(round(td.quantile(q), 6))) for q in qs], "q double, est double"
    )


# midpoint-interpolation quantile: np.interp(q*n, [0.5,...,n-0.5], sorted)
_TDIGEST_EXACT_ORACLE = """
WITH vals AS (
  SELECT value AS v, ROW_NUMBER() OVER (ORDER BY value) AS i,
         COUNT(*) OVER () AS n
  FROM events WHERE event_id % 97 = 0 AND value IS NOT NULL
),
qs AS (SELECT UNNEST([0.1, 0.25, 0.5, 0.75, 0.9, 0.99]) AS q),
tgt AS (
  SELECT CAST(q AS DOUBLE) AS q, CAST(q AS DOUBLE) * n AS t, n
  FROM qs, (SELECT MAX(n) AS n FROM vals)
)
SELECT tgt.q,
  ROUND(CASE
    WHEN tgt.t <= 0.5 THEN (SELECT v FROM vals WHERE i = 1)
    WHEN tgt.t >= tgt.n - 0.5 THEN (SELECT v FROM vals WHERE i = tgt.n)
    ELSE (
      SELECT lo.v + (tgt.t - (lo.i - 0.5)) * (hi.v - lo.v)
      FROM vals lo JOIN vals hi ON hi.i = lo.i + 1
      WHERE lo.i = CAST(FLOOR(tgt.t + 0.5) AS BIGINT)
    )
  END, 6) AS est
FROM tgt
"""


def q_clean_fix_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preprocess stage (C1 trim + C2 case-fix-vs-lookup): dirtied source
    values are restored to the lookup's canonical spelling."""
    docs = _t(spark, sf_dir, "documents")
    dirty = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, F.upper(F.col("source")))
        .when(F.col("doc_id") % 5 == 1, F.concat(F.lit("  "), F.col("source"), F.lit("  ")))
        .otherwise(F.col("source"))
        .alias("source"),
    )
    lu = docs.select("source").distinct()
    cleaned = clean.clean_data(dirty, case_fix_lookups={"source": (lu, "source")})
    return cleaned.select("doc_id", "source")


_CLEAN_ORACLE = "SELECT doc_id, source FROM documents"


# ---------------------------------------------------------------------------
# Relational operator coverage (SURVEY.md §2.3-§2.8) on the TPC-H-ish tables
# ---------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc), 2).alias("sum_disc_price"),
            F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_PRICING_ORACLE = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def q_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way star join (J5 analogue): fact shuffles on the join keys,
    dimension tables broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    dims = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "r_name")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(dims), orders.o_custkey == dims.c_custkey)
        .groupBy("r_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_REVENUE_ORACLE = """
SELECT r_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name
"""

def q_phab_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PHAB-parity flagship ETL (reference proj/utils/phab.py:111-188,
    proj/utils/sql/field.sql:1-48): the 11-13 relation star join —
    fact chain + broadcast lookup fan, a per-sample group-concat
    ("personnel") attached to every result row, two branches (field /
    habitat) that rename/assign constants and UNION ALL, then a LEFT
    join to a derived geometry table. Re-expressed Spark-first over the
    driver tables:

    - fact spine: lineitem ⋈ orders (the FieldResult ⋈ FieldCollection
      analogue — the ONE non-broadcast join; at production scale both
      sides shuffle on orderkey and everything downstream reuses it)
    - broadcast dims: customer, nation, region (customer geo chain =
      Project→ParentProject lookups), part (Analyte/Fraction/Method
      lookups), supplier (+ its own nation/region aliases = Matrix/
      Unit lookups) — 8 broadcast relation instances
    - personnel analogue: per-order sorted group-concat of distinct
      return flags via a window over the join's own orderkey
      partitioning (no extra shuffle — reference joins a groupby'd
      Personnel_Entry at phab.py:108)
    - field branch = even line numbers (real depth/calibration cols);
      habitat branch = odd line numbers with the reference's constant
      assigns (collectiondepth=-88, unitcollectiondepth='',
      calibrationdate=1950-01-01 — phab.py:161); UNION ALL
    - geometry: customer⋈nation⋈region derived table, LEFT-joined on
      stationcode (phab.py:179-186 rename actual_latitude/longitude)

    The reference joins each branch's fact separately; here the spine
    joins ONCE and branches as post-join slices — identical rows,
    half the shuffles (the Spark-first rewrite PLANS.md documents)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    snation = nation.select(
        F.col("n_nationkey").alias("sn_nationkey"),
        F.col("n_name").alias("sn_name"),
        F.col("n_regionkey").alias("sn_regionkey"),
    )
    sregion = region.select(
        F.col("r_regionkey").alias("sr_regionkey"),
        F.col("r_name").alias("sr_name"),
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(snation), supp.s_nationkey == F.col("sn_nationkey"))
        .join(
            F.broadcast(sregion), F.col("sn_regionkey") == F.col("sr_regionkey")
        )
        .withColumn(
            "personnelcode",
            F.concat_ws(
                ", ",
                F.sort_array(
                    F.collect_set("l_returnflag").over(
                        Window.partitionBy("l_orderkey")
                    )
                ),
            ),
        )
    )
    shared = [
        F.col("c_name").alias("stationcode"),
        F.col("o_orderdate").alias("sampledate"),
        F.col("c_mktsegment").alias("sampleagencycode"),
        F.col("o_orderstatus").alias("eventcode"),
        F.col("o_orderpriority").alias("protocolcode"),
        F.col("n_name").alias("projectcode"),
        F.col("r_name").alias("parentprojectcode"),
        F.col("l_linenumber").alias("locationcode"),
        F.col("l_shipdate").alias("collectiontime"),
        F.col("l_returnflag").alias("collectionmethodcode"),
        F.col("s_name").alias("collectiondevicedescr"),
        F.col("l_linenumber").alias("replicate"),
        F.col("p_name").alias("analytename"),
        F.col("p_brand").alias("fractionname"),
        F.col("p_type").alias("methodname"),
        F.col("sn_name").alias("matrixname"),
        F.col("sr_name").alias("unitdescr"),
        # exact integer micro-units (price-cents × discount-basis-points
        # complement) — double round() tie-breaks diverge across engines
        (
            F.round(F.col("l_extendedprice") * 100).cast("long")
            * (100 - F.round(F.col("l_discount") * 100).cast("long"))
        ).alias("result"),
        F.col("l_linestatus").alias("resqualcode"),
        F.col("personnelcode"),
    ]
    field = joined.filter(F.col("l_linenumber") % 2 == 0).select(
        *shared,
        F.col("l_quantity").alias("collectiondepth"),
        F.lit("kg").alias("unitcollectiondepth"),
        F.col("o_orderdate").alias("calibrationdate"),
        F.lit("").alias("variableresult"),
    )
    habitat = joined.filter(F.col("l_linenumber") % 2 == 1).select(
        *shared,
        F.lit(-88.0).alias("collectiondepth"),
        F.lit("").alias("unitcollectiondepth"),
        F.lit("1950-01-01 00:00:00").cast("timestamp").alias(
            "calibrationdate"
        ),
        F.concat(F.lit("hab:"), F.col("l_linestatus")).alias(
            "variableresult"
        ),
    )
    geom = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            F.col("c_name").alias("stationcode"),
            F.round(F.col("c_acctbal") / 100.0, 4).alias("actual_latitude"),
            (F.col("c_custkey") % 360 - 180).cast("double").alias(
                "actual_longitude"
            ),
            F.col("r_name").alias("datum"),
        )
    )
    return field.unionByName(habitat).join(
        F.broadcast(geom), "stationcode", "left"
    )


_PHAB_STAR_ORACLE = """
WITH personnel AS (
  SELECT l_orderkey AS pk_orderkey,
         string_agg(DISTINCT l_returnflag, ', ' ORDER BY l_returnflag)
           AS personnelcode
  FROM lineitem GROUP BY l_orderkey
),
joined AS (
  SELECT c_name AS stationcode, o_orderdate AS sampledate,
         c_mktsegment AS sampleagencycode, o_orderstatus AS eventcode,
         o_orderpriority AS protocolcode, n.n_name AS projectcode,
         r.r_name AS parentprojectcode, l_linenumber AS locationcode,
         l_shipdate AS collectiontime, l_returnflag AS collectionmethodcode,
         s_name AS collectiondevicedescr, l_linenumber AS replicate,
         p_name AS analytename, p_brand AS fractionname,
         p_type AS methodname, sn.n_name AS matrixname,
         sr.r_name AS unitdescr,
         CAST(round(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS result,
         l_linestatus AS resqualcode, personnelcode,
         l_linenumber, l_quantity, o_orderdate, l_linestatus
  FROM lineitem
  JOIN orders    ON l_orderkey = o_orderkey
  JOIN customer  ON o_custkey = c_custkey
  JOIN nation n  ON c_nationkey = n.n_nationkey
  JOIN region r  ON n.n_regionkey = r.r_regionkey
  JOIN part      ON l_partkey = p_partkey
  JOIN supplier  ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  JOIN region sr ON sn.n_regionkey = sr.r_regionkey
  JOIN personnel ON l_orderkey = pk_orderkey
),
phab AS (
  SELECT stationcode, sampledate, sampleagencycode, eventcode,
         protocolcode, projectcode, parentprojectcode, locationcode,
         collectiontime, collectionmethodcode, collectiondevicedescr,
         replicate, analytename, fractionname, methodname, matrixname,
         unitdescr, result, resqualcode, personnelcode,
         l_quantity AS collectiondepth, 'kg' AS unitcollectiondepth,
         o_orderdate AS calibrationdate, '' AS variableresult
  FROM joined WHERE l_linenumber % 2 = 0
  UNION ALL
  SELECT stationcode, sampledate, sampleagencycode, eventcode,
         protocolcode, projectcode, parentprojectcode, locationcode,
         collectiontime, collectionmethodcode, collectiondevicedescr,
         replicate, analytename, fractionname, methodname, matrixname,
         unitdescr, result, resqualcode, personnelcode,
         -88.0 AS collectiondepth, '' AS unitcollectiondepth,
         TIMESTAMP '1950-01-01 00:00:00' AS calibrationdate,
         'hab:' || l_linestatus AS variableresult
  FROM joined WHERE l_linenumber % 2 = 1
),
geom AS (
  SELECT c_name AS stationcode,
         round(c_acctbal / 100.0, 4) AS actual_latitude,
         CAST(c_custkey % 360 - 180 AS DOUBLE) AS actual_longitude,
         r_name AS datum
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
)
SELECT phab.*, actual_latitude, actual_longitude, datum
FROM phab LEFT JOIN geom USING (stationcode)
"""


_EVENT_LU = ["click", "purchase", "signup", "view"]


def q_lookup_anti_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lookup-RI as a broadcast LEFT ANTI join (J1): event types outside
    the lookup list."""
    ev = _t(spark, sf_dir, "events")
    lu = F.broadcast(
        spark.createDataFrame([(v,) for v in _EVENT_LU], "etype string")
    )
    return (
        ev.filter(F.col("event_type").isNotNull())
        .join(lu, ev.event_type == lu.etype, "left_anti")
        .select("event_id", "event_type")
    )


_LOOKUP_ANTI_ORACLE = """
SELECT event_id, event_type FROM events
WHERE event_type IS NOT NULL
  AND event_type NOT IN ('click', 'purchase', 'signup', 'view')
"""


def q_semi_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (J2 shape): orders having a 1998+ shipment."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp")
    )
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .select("o_orderkey", F.round("o_totalprice", 2).alias("total"))
    )


_SEMI_ORACLE = """
SELECT o_orderkey, round(o_totalprice, 2) AS total FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o.o_orderkey
                AND l_shipdate >= TIMESTAMP '1998-01-01')
"""


def q_window_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "o_orderpriority",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total"),
            "rank",
        )
    )


_TOPK_ORACLE = """
SELECT o_orderpriority, o_orderkey, round(o_totalprice, 2) AS total,
       CAST(row_number() OVER (PARTITION BY o_orderpriority
                               ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rank
FROM orders QUALIFY rank <= 5
"""


def q_group_concat_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-concat (A2 semantics: sorted '; '-joined values per group)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.array_join(F.array_sort(F.collect_set("source")), "; ").alias("sources"),
    )


_GROUP_CONCAT_ORACLE = """
SELECT lang, count(*) AS n_docs,
       string_agg(DISTINCT source, '; ' ORDER BY source) AS sources
FROM documents GROUP BY lang
"""


def q_union_distinct_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(F.col("event_type").alias("val"))
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("val")
    )
    return ev.unionByName(orders).distinct()


_UNION_ORACLE = """
SELECT event_type AS val FROM events
UNION
SELECT o_orderpriority FROM orders
"""


# ---------------------------------------------------------------------------
# Column stats / histograms / drift (engine stats surface)
# ---------------------------------------------------------------------------

_STAT_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q_stats_exact_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats.column_stats_exact(_t(spark, sf_dir, "lineitem"), _STAT_COLS)


_STATS_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS "column", count(*) AS n_rows,
       count(*) FILTER (WHERE {c} IS NULL) AS null_count,
       CAST(min({c}) AS DOUBLE) AS min_val, CAST(max({c}) AS DOUBLE) AS max_val,
       count(DISTINCT {c}) AS ndv FROM lineitem"""
    for c in _STAT_COLS
)


def q_column_stats_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL/quantile-sketch stats (the 10^12-row path) — approximate by
    design, so no SQL oracle (rows-only check)."""
    return stats.column_stats(
        _t(spark, sf_dir, "lineitem"), ["l_quantity", "l_extendedprice"]
    ).drop("quantiles")


_SMALLNDV_COLS = ["l_discount", "l_tax", "l_returnflag", "l_linestatus"]


def q_column_stats_smallndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME approximate column_stats path (HLL++ ndv sketch) over
    columns whose cardinality (2-11) is small enough that the sketch is
    exact at every test SF — turning the sketch pipeline into an
    oracle-checkable query (the high-NDV variant above stays rows-only).
    Quantiles dropped: the GK sketch has no exactness threshold to
    exploit."""
    return stats.column_stats(
        _t(spark, sf_dir, "lineitem"), _SMALLNDV_COLS
    ).drop("quantiles")


_SMALLNDV_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS "column", count(*) AS n_rows,
  count(*) FILTER (WHERE {c} IS NULL OR CAST({c} AS VARCHAR)=''
                   OR lower(CAST({c} AS VARCHAR))='nan') AS null_count,
  CAST(count(*) FILTER (WHERE {c} IS NULL OR CAST({c} AS VARCHAR)=''
                   OR lower(CAST({c} AS VARCHAR))='nan') AS DOUBLE)/count(*)
      AS null_rate,
  CAST(min({c}) AS VARCHAR) AS min, CAST(max({c}) AS VARCHAR) AS max,
  count(DISTINCT {c}) AS approx_ndv FROM lineitem"""
    for c in _SMALLNDV_COLS
)


def q_hll_ndv_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable per-partition HLL sketches (stats.partition_hll_sketches
    → merged_ndv): the NDV path that works WITHOUT rescans — per-partition
    sketch rows are stored with checkpoint metrics; global NDV is a union
    over |partitions| binary rows. Oracle contract: the merged estimate
    must land within the sketch's rsd of the EXACT ndv — the query emits
    (column, ndv_exact, est_within_rsd); the oracle computes ndv_exact in
    SQL and expects est_within_rsd = TRUE. The estimate itself is not
    SQL-expressible (DataSketches binary format); its merge-consistency
    is pytest-locked (tests/test_stats.py)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "part_id", (F.col("event_id") % 8).cast("int")
    )
    cols = ["event_type", "user_id"]
    sk = stats.partition_hll_sketches(ev, "part_id", cols, lg_k=14)
    est = stats.merged_ndv(sk)
    exact = ev.agg(
        *[F.count_distinct(F.col(c)).alias(c) for c in cols]
    ).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"), F.col(c).alias("ndv_exact")
                    )
                    for c in cols
                ]
            )
        ).alias("s")
    ).select("s.*")
    return exact.join(est, "column").select(
        "column",
        "ndv_exact",
        (
            F.abs(F.col("ndv_est") - F.col("ndv_exact"))
            / F.col("ndv_exact")
            <= 0.05
        ).alias("est_within_rsd"),
    )


_HLL_NDV_ORACLE = """
SELECT 'event_type' AS "column", count(DISTINCT event_type) AS ndv_exact,
       TRUE AS est_within_rsd
FROM events
UNION ALL
SELECT 'user_id', count(DISTINCT user_id), TRUE FROM events
"""


def q_histogram_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats.histogram(_t(spark, sf_dir, "events"), "value", 0.0, 500.0, 20)


_HISTOGRAM_ORACLE = """
SELECT CAST(CASE WHEN value < 0 THEN 0
                 WHEN value >= 500 THEN 21
                 ELSE floor((value - 0.0) / 25.0) + 1 END AS INT) AS bucket,
       count(*) AS count
FROM events WHERE value IS NOT NULL GROUP BY 1
"""


def q_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift between even/odd event halves, fully as DataFrame ops."""
    ev = _t(spark, sf_dir, "events")
    cur = stats.histogram(ev.filter(F.col("event_id") % 2 == 0), "value", 0.0, 500.0, 20)
    base = stats.histogram(ev.filter(F.col("event_id") % 2 == 1), "value", 0.0, 500.0, 20)
    j = stats._joined_probs(cur, base, eps=1e-6)
    return j.agg(
        F.round(
            F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))), 6
        ).alias("psi")
    )


_PSI_ORACLE = """
WITH ev AS (
  SELECT event_id,
         CAST(CASE WHEN value < 0 THEN 0
                   WHEN value >= 500 THEN 21
                   ELSE floor((value - 0.0) / 25.0) + 1 END AS INT) AS bucket
  FROM events WHERE value IS NOT NULL
),
cur AS (SELECT bucket, count(*) AS c_cnt FROM ev WHERE event_id % 2 = 0 GROUP BY 1),
base AS (SELECT bucket, count(*) AS b_cnt FROM ev WHERE event_id % 2 = 1 GROUP BY 1),
j AS (
  SELECT coalesce(c.bucket, b.bucket) AS bucket,
         coalesce(c_cnt, 0) AS c_cnt, coalesce(b_cnt, 0) AS b_cnt
  FROM cur c FULL OUTER JOIN base b ON c.bucket = b.bucket
),
probs AS (
  SELECT c_cnt / (SELECT sum(c_cnt) FROM j) + 1e-6 AS p,
         b_cnt / (SELECT sum(b_cnt) FROM j) + 1e-6 AS q
  FROM j
)
SELECT round(sum((p - q) * ln(p / q)), 6) AS psi FROM probs
"""


# ---------------------------------------------------------------------------
# Text analysis / dedup / similarity (data-pipeline ops)
# ---------------------------------------------------------------------------


def q_audit_load_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load-path audit columns (reference objectid/submissionid/
    created_date/login_*, proj/load.py:91-103) — deterministic content
    ids so retried/resumed appends are idempotent."""
    from smcchecker_spark.run import with_audit_columns

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    out = with_audit_columns(
        docs,
        run_id="run42",
        row_id_col="doc_id",
        login_info={"agency": "smc"},
        created_at="2026-01-02 03:04:05",
    )
    return out.select(
        "doc_id", "objectid", "submissionid", "created_date", "login_agency"
    )


_AUDIT_ORACLE = """
SELECT doc_id,
       md5('run42' || '|' || CAST(doc_id AS VARCHAR)) AS objectid,
       'run42' AS submissionid,
       TIMESTAMP '2026-01-02 03:04:05' AS created_date,
       'smc' AS login_agency
FROM documents
"""


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned two-sample KS statistic between the even/odd event halves,
    entirely as DataFrame ops (sorted-array CDF fold over the joined
    bucket histograms — no window, see stats.ks_expr)."""
    ev = _t(spark, sf_dir, "events")
    cur = stats.histogram(ev.filter(F.col("event_id") % 2 == 0), "value", 0.0, 500.0, 20)
    base = stats.histogram(ev.filter(F.col("event_id") % 2 == 1), "value", 0.0, 500.0, 20)
    return stats._hist_array(cur, base).select(
        F.round(stats.ks_expr(), 6).alias("ks")
    )


_KS_ORACLE = """
WITH ev AS (
  SELECT event_id,
         CAST(CASE WHEN value < 0 THEN 0
                   WHEN value >= 500 THEN 21
                   ELSE floor((value - 0.0) / 25.0) + 1 END AS INT) AS bucket
  FROM events WHERE value IS NOT NULL
),
cur AS (SELECT bucket, count(*) AS c_cnt FROM ev WHERE event_id % 2 = 0 GROUP BY 1),
base AS (SELECT bucket, count(*) AS b_cnt FROM ev WHERE event_id % 2 = 1 GROUP BY 1),
j AS (
  SELECT coalesce(c.bucket, b.bucket) AS bucket,
         coalesce(c_cnt, 0) AS c_cnt, coalesce(b_cnt, 0) AS b_cnt
  FROM cur c FULL OUTER JOIN base b ON c.bucket = b.bucket
),
probs AS (
  SELECT bucket,
         c_cnt / (SELECT sum(c_cnt) FROM j) AS p,
         b_cnt / (SELECT sum(b_cnt) FROM j) AS q
  FROM j
),
cdf AS (
  SELECT abs(sum(p) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
           - sum(q) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)) AS d
  FROM probs
)
SELECT round(max(d), 6) AS ks FROM cdf
"""


def q_salted_count_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted count per event_type (north rule: salted
    repartitioning to defuse hot-key skew — event_type is low-cardinality
    so every key is hot). The wide exchange sees ≤ salt_buckets rows per
    key; the oracle is the plain GROUP BY count."""
    from smcchecker_spark import skew

    ev = _t(spark, sf_dir, "events")
    return skew.salted_count(
        ev, ["event_type"], row_id_col="event_id", salt_buckets=16
    ).withColumnsRenamed({"count": "n_events"})


_SALTED_COUNT_ORACLE = """
SELECT event_type, count(*) AS n_events FROM events GROUP BY event_type
"""


def q_drift_check_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drift CONSTRAINT path (north-star: KS/PSI drift checks emit
    violation rows): current = value*1.3 vs baseline = value → PSI over
    threshold → one table-level violation row."""
    ev = _t(spark, sf_dir, "events")
    shifted = ev.withColumn("value", F.col("value") * 1.5)
    spec = stats.DriftSpec(
        column="value", metric="psi", threshold=0.1, lo=0.0, hi=500.0, bins=20
    )
    v, _ = stats.drift_violations(shifted, ev, [spec], table="events")
    return v


_DRIFT_CHECK_ORACLE = """
WITH cur AS (
  SELECT CAST(CASE WHEN value * 1.5 < 0 THEN 0
                   WHEN value * 1.5 >= 500 THEN 21
                   ELSE floor((value * 1.5 - 0.0) / 25.0) + 1 END AS INT) AS bucket,
         count(*) AS c_cnt
  FROM events WHERE value * 1.5 IS NOT NULL GROUP BY 1
),
base AS (
  SELECT CAST(CASE WHEN value < 0 THEN 0
                   WHEN value >= 500 THEN 21
                   ELSE floor((value - 0.0) / 25.0) + 1 END AS INT) AS bucket,
         count(*) AS b_cnt
  FROM events WHERE value IS NOT NULL GROUP BY 1
),
j AS (
  SELECT coalesce(c.bucket, b.bucket) AS bucket,
         coalesce(c_cnt, 0) AS c_cnt, coalesce(b_cnt, 0) AS b_cnt
  FROM cur c FULL OUTER JOIN base b ON c.bucket = b.bucket
),
probs AS (
  SELECT c_cnt / (SELECT sum(c_cnt) FROM j) + 1e-6 AS p,
         b_cnt / (SELECT sum(b_cnt) FROM j) + 1e-6 AS q
  FROM j
),
psi AS (SELECT sum((p - q) * ln(p / q)) AS v FROM probs)
SELECT 'events' AS "table", '__TABLE__' AS row_id, 'value' AS columns,
       'Distribution Drift' AS error_type, TRUE AS is_core_error,
       'Column value drifted from baseline: psi=' || printf('%.4f', v)
         || ' > 0.1' AS error_message,
       'drift_psi_value' AS check_name, 'error' AS severity,
       CAST(-1 AS INT) AS part_id
FROM psi WHERE v > 0.1
"""


def q_metrics_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats.metrics_drift over two metrics snapshots of the documents
    table (current = deterministically-dirtied lang/source): the
    sketch-rows-only first-line drift check the checkpointed per-
    partition metrics feed. ndv here is exact countDistinct so a DuckDB
    oracle reproduces the op bit-for-bit (the HLL variant is the 10^12-
    row path, covered rows-only via column_stats_approx)."""
    docs = _t(spark, sf_dir, "documents")

    def exact_metrics(d: DataFrame) -> DataFrame:
        g = d.groupBy((F.col("doc_id") % 7).cast("bigint").alias("part_id")).agg(
            *[
                a
                for c in ("lang", "source")
                for a in (
                    (
                        F.sum(
                            (F.col(c).isNull() | (F.col(c) == "")).cast("long")
                        )
                        / F.count(F.lit(1))
                    ).alias(f"{c}_nr"),
                    F.count_distinct(F.col(c)).alias(f"{c}_ndv"),
                )
            ]
        )
        per = [
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"{c}_nr").alias("null_rate"),
                F.col(f"{c}_ndv").alias("approx_ndv"),
            )
            for c in ("lang", "source")
        ]
        return g.select(
            "part_id", F.explode(F.array(*per)).alias("s")
        ).select("part_id", "s.*")

    current_src = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 4 == 1, F.lit(None))
        .otherwise(F.col("lang"))
        .alias("lang"),
        F.when(
            F.col("doc_id") % 6 == 2,
            F.concat(F.col("source"), (F.col("doc_id") % 3).cast("string")),
        )
        .otherwise(F.col("source"))
        .alias("source"),
    )
    return stats.metrics_drift(
        exact_metrics(current_src),
        exact_metrics(docs),
        max_null_rate_delta=0.1,
        max_ndv_ratio=1.5,
    )


_METRICS_DRIFT_ORACLE = """
WITH cur_src AS (
  SELECT doc_id % 7 AS part_id,
         CASE WHEN doc_id % 4 = 1 THEN NULL ELSE lang END AS lang,
         CASE WHEN doc_id % 6 = 2 THEN source || CAST(doc_id % 3 AS VARCHAR)
              ELSE source END AS source
  FROM documents
),
base_src AS (SELECT doc_id % 7 AS part_id, lang, source FROM documents),
cur AS (
  SELECT part_id, 'lang' AS "column",
         sum(CASE WHEN lang IS NULL OR lang = '' THEN 1 ELSE 0 END) / count(*) AS c_nr,
         count(DISTINCT lang) AS c_ndv
  FROM cur_src GROUP BY part_id
  UNION ALL
  SELECT part_id, 'source',
         sum(CASE WHEN source IS NULL OR source = '' THEN 1 ELSE 0 END) / count(*),
         count(DISTINCT source)
  FROM cur_src GROUP BY part_id
),
base AS (
  SELECT part_id, 'lang' AS "column",
         sum(CASE WHEN lang IS NULL OR lang = '' THEN 1 ELSE 0 END) / count(*) AS b_nr,
         count(DISTINCT lang) AS b_ndv
  FROM base_src GROUP BY part_id
  UNION ALL
  SELECT part_id, 'source',
         sum(CASE WHEN source IS NULL OR source = '' THEN 1 ELSE 0 END) / count(*),
         count(DISTINCT source)
  FROM base_src GROUP BY part_id
)
SELECT cur.part_id, cur."column",
       round(abs(c_nr - b_nr), 6) AS null_rate_delta,
       round(CASE WHEN b_ndv > 0 AND c_ndv > 0
                  THEN greatest(c_ndv / CAST(b_ndv AS DOUBLE),
                                b_ndv / CAST(c_ndv AS DOUBLE))
                  WHEN b_ndv = c_ndv THEN 1.0
                  ELSE 1e308 * 10 END, 6) AS ndv_ratio,
       (abs(c_nr - b_nr) > 0.1 OR
        CASE WHEN b_ndv > 0 AND c_ndv > 0
             THEN greatest(c_ndv / CAST(b_ndv AS DOUBLE),
                           b_ndv / CAST(c_ndv AS DOUBLE))
             WHEN b_ndv = c_ndv THEN 1.0
             ELSE 1e308 * 10 END > 1.5) AS drifted
FROM cur JOIN base ON cur.part_id = base.part_id AND cur."column" = base."column"
"""


def q_text_features_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    c = F.col("text")
    return docs.select(
        "doc_id",
        text_ops.token_count(c).alias("n_tokens"),
        text_ops.bpe_ish_token_count(c).alias("n_tokens_bpe"),
        text_ops.fingerprint(c).alias("fingerprint"),
        F.round(text_ops.mean_word_length(c), 6).alias("mean_wlen"),
        F.round(text_ops.punct_ratio(c), 6).alias("punct_ratio"),
        F.round(text_ops.stopword_ratio(c), 6).alias("stopword_ratio"),
        text_ops.quality_score(c).alias("quality"),
        text_ops.lang_id(c).alias("lang_pred"),
    )


_TEXT_ORACLE = r"""
WITH lp AS (
  SELECT doc_id,
         toks,
         list_aggregate([
           struct_pack(hits := len(list_intersect(toks, ['der','die','und','ist','das','ein'])), lang := 'de'),
           struct_pack(hits := len(list_intersect(toks, ['the','and','of','to','is','with'])), lang := 'en'),
           struct_pack(hits := len(list_intersect(toks, ['el','la','de','que','los','una'])), lang := 'es'),
           struct_pack(hits := len(list_intersect(toks, ['le','la','les','des','est','une'])), lang := 'fr')
         ], 'max') AS best
  FROM (SELECT doc_id,
               list_distinct(regexp_split_to_array(trim(lower(coalesce(text, ''))), '\s+')) AS toks
        FROM documents)
)
SELECT documents.doc_id,
       CAST(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS INT) AS n_tokens,
       CAST(len(regexp_extract_all(coalesce(text, ''), '[A-Za-z]{1,4}|\d|[^\sA-Za-z\d]')) AS INT)
           AS n_tokens_bpe,
       md5(lower(trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')))) AS fingerprint,
       round(length(regexp_replace(trim(coalesce(text, '')), '\s', '', 'g')) /
             greatest(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\s+')) END, 1), 6) AS mean_wlen,
       round(length(regexp_replace(coalesce(text, ''), '[^!-/:-@\[-`{-~]', '', 'g')) /
             greatest(length(coalesce(text, '')), 1), 6) AS punct_ratio,
       round(len(list_intersect(lp.toks,
             ['and','das','de','der','des','die','ein','el','est','is','ist','la',
              'le','les','los','of','que','the','to','una','und','une','with'])) /
             greatest(len(lp.toks), 1), 6) AS stopword_ratio,
       round(least(length(coalesce(text, '')) / 200.0, 1.0) *
             (CASE WHEN length(coalesce(text, '')) > 10000 THEN 0.5 ELSE 1.0 END) *
             greatest(0.0, 1.0 -
               (length(regexp_replace(coalesce(text, ''), '[^!-/:-@\[-`{-~]', '', 'g')) /
                greatest(length(coalesce(text, '')), 1)) * 4) *
             (CASE WHEN (length(regexp_replace(trim(coalesce(text, '')), '\s', '', 'g')) /
                         greatest(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END, 1))
                        BETWEEN 3 AND 10
                   THEN 1.0 ELSE 0.5 END), 6) AS quality,
       CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END AS lang_pred
FROM documents JOIN lp ON documents.doc_id = lp.doc_id
"""


def q_lm_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality scoring (ops/text.py unigram_lm + lm_score),
    the CCNet recipe's cheap stand-in: train Laplace-smoothed token
    log-probs on the corpus (min_tf=2 prunes hapaxes so the OOV floor is
    exercised), score every doc by count-weighted negative
    log-likelihood. One token agg + one compressed (doc,token,cnt)
    broadcast-join pass."""
    docs = _t(spark, sf_dir, "documents")
    model = text_ops.unigram_lm(docs, "text", min_tf=2)
    return text_ops.lm_score(docs, model, "doc_id", "text")


_LM_QUALITY_ORACLE = r"""
WITH tk AS (
  SELECT doc_id, lower(u.t) AS token
  FROM documents, UNNEST(regexp_split_to_array(trim(text), '\s+')) AS u(t)
  WHERE trim(coalesce(text, '')) <> ''
),
counts AS (SELECT token, count(*) AS tf FROM tk GROUP BY token),
st AS (SELECT CAST(sum(tf) AS DOUBLE) AS total, CAST(count(*) AS DOUBLE) AS v
       FROM counts),
model AS (
  SELECT token, round(ln((tf + 1.0) / (total + (v + 1))), 9) AS logp
  FROM counts, st WHERE tf >= 2),
floor_p AS (SELECT round(ln(1.0 / (total + (v + 1))), 9) AS oov FROM st),
occ AS (SELECT doc_id, token, count(*) AS cnt FROM tk GROUP BY doc_id, token)
SELECT occ.doc_id,
       CAST(sum(cnt) AS BIGINT) AS n_scored,
       round(-sum(cnt * coalesce(model.logp, floor_p.oov)) / sum(cnt), 6)
         AS avg_neg_logp
FROM occ LEFT JOIN model USING (token), floor_p
GROUP BY occ.doc_id
"""


def q_winsorize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type winsorization (clean.winsorize_numeric): event values
    clamped to their event_type's [p05, p95] band — the repair-side
    partner of RobustOutliers for pipelines that tame heavy tails
    instead of dropping rows. ONE aggregation for the bound pairs +
    a |types|-row broadcast join back; the fact table never shuffles.
    The __winsorized indicator keeps the repair auditable."""
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    out = clean.winsorize_numeric(
        ev, ["value"], p_lo=0.05, p_hi=0.95, per_key=["event_type"]
    )
    return out.select(
        "event_id",
        "event_type",
        F.round("value", 6).alias("value"),
        "value__winsorized",
    )


_WINSORIZE_ORACLE = """
WITH b AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS lo,
         quantile_cont(value, 0.95) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type,
       round(CASE WHEN e.value < b.lo THEN b.lo
                  WHEN e.value > b.hi THEN b.hi
                  ELSE e.value END, 6) AS value,
       COALESCE(e.value IS NOT NULL AND (e.value < b.lo OR e.value > b.hi),
                FALSE) AS value__winsorized
FROM events e LEFT JOIN b USING (event_type)
"""


def q_impute_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median imputation per source (clean.impute_numeric): value is
    NULLed on ~8% of rows, then filled with its event_type's median;
    the __imputed indicator keeps the repair auditable. One
    aggregation + |keys|-row broadcast join."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 13 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("val"),
    )
    return clean.impute_numeric(
        ev, ["val"], strategy="median", per_key=["event_type"]
    ).select("event_id", "event_type", "val", "val__imputed")


_IMPUTE_ORACLE = """
WITH d AS (
  SELECT event_id, event_type,
         CASE WHEN event_id % 13 = 0 THEN NULL ELSE value END AS val
  FROM events
),
m AS (SELECT event_type, median(val) AS med FROM d GROUP BY event_type)
SELECT d.event_id, d.event_type,
       coalesce(d.val, m.med) AS val,
       (d.val IS NULL AND m.med IS NOT NULL) AS val__imputed
FROM d LEFT JOIN m USING (event_type)
"""


def q_impute_mode_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical mode imputation (clean.impute_categorical): the
    event_type NULLed on ~6% of rows refills with the global mode
    (tie → smallest value, deterministic). min_by over (−count, value)
    — no window over raw rows — then a 1-row broadcast."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 17 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("event_type"))
        .alias("et"),
    )
    return clean.impute_categorical(ev, ["et"]).select(
        "event_id", "et", "et__imputed"
    )


_IMPUTE_MODE_ORACLE = """
WITH d AS (
  SELECT event_id,
         CASE WHEN event_id % 17 = 0 THEN NULL ELSE event_type END AS et
  FROM events
),
m AS (
  SELECT et AS fill FROM (
    SELECT et, count(*) AS n FROM d WHERE et IS NOT NULL GROUP BY et
  ) ORDER BY n DESC, et LIMIT 1
)
SELECT d.event_id, coalesce(d.et, m.fill) AS et,
       (d.et IS NULL AND m.fill IS NOT NULL) AS et__imputed
FROM d, m
"""


def q_rank_normalize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source percentile normalization (ops/sample.py
    rank_normalize): inclusive within-key CDF of value per event_type —
    computed over DISTINCT (key, score) counts (skew-robust: hot
    sources flow through a hash join, never a per-row window sort).
    Oracle: SQL cume_dist(), which is definitionally the same CDF."""
    ev = _t(spark, sf_dir, "events")
    return sample_ops.rank_normalize(
        ev, ["event_type"], "value"
    ).select("event_id", "event_type", "value", "score_pct")


_RANK_NORMALIZE_ORACLE = """
WITH nn AS (
  SELECT event_id,
         round(cume_dist() OVER (PARTITION BY event_type ORDER BY value), 9)
           AS p
  FROM events WHERE value IS NOT NULL
)
SELECT e.event_id, e.event_type, e.value, nn.p AS score_pct
FROM events e LEFT JOIN nn USING (event_id)
"""


def q_pca_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA over the embeddings table (ops/pca.py): one moment-partials
    Arrow pass (corpus never shuffles), driver eigh, map-only GEMM
    projection — here at FULL rank (k=d=64), where projection norms²
    must equal centered input norms² exactly (rotation invariance).
    The oracle re-derives per-dimension means and centered norms in SQL
    — a true VALUE check of centering + orthonormality + completeness;
    the eigen directions themselves are pytest-locked against numpy
    (not SQL-expressible)."""
    from smcchecker_spark.ops import pca as pca_ops

    emb = _t(spark, sf_dir, "embeddings")
    model = pca_ops.fit_pca(emb, "embedding", k=64)
    proj = pca_ops.project_pca(emb, model, "embedding", round_dp=None)
    norm2 = F.aggregate(
        "pca", F.lit(0.0), lambda acc, x: acc + x * x
    )
    return proj.select("vec_id", F.round(norm2, 5).alias("norm2"))


_PCA_ORACLE = """
WITH e AS (
  SELECT vec_id, CAST(embedding[g.i + 1] AS DOUBLE) AS x, g.i AS i
  FROM embeddings, UNNEST(range(0, len(embedding))) AS g(i)
),
mu AS (SELECT i, avg(x) AS m FROM e GROUP BY i)
SELECT e.vec_id,
       round(sum((e.x - mu.m) * (e.x - mu.m)), 5) AS norm2
FROM e JOIN mu USING (i)
GROUP BY e.vec_id
"""


def q_bigram_counts_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-token pair table (ops/text.py bigram_counts) — the BPE
    merge-frequency / collocation table: zip_with pair formation inside
    the array (no self-join), one explode + one map-side-combined
    aggregation, deterministic top-300 by (tf desc, token_a, token_b)
    via TakeOrderedAndProject."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.bigram_counts(docs, "text", min_tf=2, top_n=300)


_BIGRAM_ORACLE = r"""
WITH tk AS (
  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS t
  FROM documents WHERE trim(coalesce(text, '')) <> ''
),
p AS (
  SELECT t[i+1] AS token_a, t[i+2] AS token_b
  FROM tk, UNNEST(range(0, len(t) - 1)) AS g(i)
  WHERE len(t) >= 2
)
SELECT token_a, token_b, count(*) AS tf FROM p
GROUP BY token_a, token_b HAVING count(*) >= 2
ORDER BY tf DESC, token_a, token_b LIMIT 300
"""


def q_bigram_lm_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram LM scoring (ops/text.py bigram_lm_score,
    lam=0.7): context-sensitive NLL — catches word-salad the unigram
    score misses. Train + score on documents; compressed (doc, prev, w)
    occurrence counts on BOTH engines, probabilities re-derived in SQL."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.bigram_lm_score(docs, docs, "doc_id", lam=0.7)


_BIGRAM_LM_ORACLE = r"""
WITH tk AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
  FROM documents WHERE trim(coalesce(text, '')) <> ''
),
uni AS (
  SELECT tok AS token, count(*) AS tf
  FROM (SELECT unnest(t) AS tok FROM tk) GROUP BY 1
),
tot AS (SELECT CAST(sum(tf) AS DOUBLE) AS T, CAST(count(*) AS DOUBLE) AS V
        FROM uni),
bi AS (
  SELECT t[i+1] AS a, t[i+2] AS b, count(*) AS c
  FROM tk, UNNEST(range(0, len(t) - 1)) AS g(i)
  WHERE len(t) >= 2 GROUP BY 1, 2
),
ctx AS (SELECT a, sum(c) AS ctx FROM bi GROUP BY a),
pos AS (
  SELECT doc_id, t[g.i + 1] AS w,
         CASE WHEN g.i = 0 THEN NULL ELSE t[g.i] END AS prev
  FROM tk, UNNEST(range(0, len(t))) AS g(i)
),
occ AS (SELECT doc_id, prev, w, count(*) AS cnt FROM pos GROUP BY 1, 2, 3),
terms AS (
  SELECT o.doc_id, o.cnt,
    CASE WHEN o.prev IS NULL
      THEN ln((coalesce(u.tf, 0) + 1.0) / (tot.T + tot.V + 1))
      ELSE ln(0.7 * ((coalesce(b.c, 0) + 1.0)
                     / (coalesce(cx.ctx, 0) + tot.V + 1))
              + 0.3 * ((coalesce(u.tf, 0) + 1.0) / (tot.T + tot.V + 1)))
    END AS lp
  FROM occ o
  LEFT JOIN uni u ON u.token = o.w
  LEFT JOIN bi b ON b.a = o.prev AND b.b = o.w
  LEFT JOIN ctx cx ON cx.a = o.prev, tot
)
SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_scored,
       round(-sum(cnt * lp) / sum(cnt), 6) AS avg_neg_logp
FROM terms GROUP BY doc_id
"""


def q_budget_select_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy corpus selection under a token budget (ops/sample.py
    select_within_budget): rank by (n_chars desc, doc_id asc), keep docs
    while the inclusive token running-total stays <= 15k. Two-pass
    distributed prefix sum — no single-partition sort; ranges whose
    offset exceeds the budget are pruned before the window."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "n_tokens", text_ops.token_count(F.col("text"))
    )
    return sample_ops.select_within_budget(
        docs, "n_chars", "n_tokens", 15_000, "doc_id", num_ranges=8
    ).select("doc_id", "n_chars", "cum_size")


_BUDGET_SELECT_ORACLE = r"""
WITH t AS (
  SELECT doc_id, n_chars,
         CASE WHEN trim(coalesce(text, '')) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, n_chars,
         CAST(SUM(n_tokens) OVER (ORDER BY n_chars DESC, doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_size
  FROM t
)
SELECT doc_id, n_chars, cum_size FROM c WHERE cum_size <= 15000
"""


def q_vocab_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary (ops/text.py vocabulary): token -> (tf, df,
    smoothed IDF), min_df=2, deterministic top-1000 by (tf desc, token
    asc). One explode -> one map-side-combined aggregation; n_docs rides
    a 1-row broadcast; top-N plans as TakeOrderedAndProject."""
    return text_ops.vocabulary(
        _t(spark, sf_dir, "documents"),
        id_col="doc_id",
        min_df=2,
        top_n=1000,
    )


_VOCAB_ORACLE = r"""
WITH tok AS (
  SELECT doc_id, lower(t.tok) AS token
  FROM documents, UNNEST(regexp_split_to_array(trim(text), '\s+')) AS t(tok)
  WHERE trim(coalesce(text, '')) <> ''
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
v AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS tf,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM tok GROUP BY token
)
SELECT token, tf, df,
       CAST(ROUND(LN((n.n_docs + 1) / (v.df + 1)) + 1, 9) AS DOUBLE) AS idf
FROM v, n
WHERE df >= 2
ORDER BY tf DESC, token
LIMIT 1000
"""


def _docs_with_planted_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    copies = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    return docs.unionByName(copies)


def q_exact_dups_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_duplicates(
        _docs_with_planted_dups(spark, sf_dir), "doc_id", "text"
    )


_EXACT_DUP_ORACLE = r"""
WITH u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
),
fp AS (
  SELECT doc_id,
         md5(lower(trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')))) AS fingerprint
  FROM u WHERE trim(coalesce(text, '')) <> ''
)
SELECT doc_id, fingerprint, group_size FROM fp
JOIN (SELECT fingerprint, count(*) AS group_size FROM fp
      GROUP BY 1 HAVING count(*) > 1) USING (fingerprint)
"""


def q_dedup_substrings_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-span dedup (ops/substrings.py — the Lee et al.
    2107.06499 operator, distributed as fixed-window hashing): every
    8-token window whose exact text recurs anywhere in the corpus,
    minus the globally (doc_id, pos)-first occurrence per distinct
    text, merged into maximal per-doc token spans. The documents
    generator's phrase reuse yields a natural non-trivial dup
    structure (~1k duplicated windows at sf0.01). Fully value-checked:
    the oracle re-derives windows, keeper ranking, and the island
    merge in SQL — hash prefilter vs text-keyed oracle can't diverge
    because text equality decides on both sides."""
    from smcchecker_spark.ops import substrings

    docs = _t(spark, sf_dir, "documents")
    return substrings.duplicate_substring_spans(
        docs, id_col="doc_id", text_col="text", window=8
    ).orderBy("doc_id", "span_start")


_DEDUP_SUBSTRINGS_ORACLE = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
  FROM documents WHERE trim(coalesce(text, '')) <> ''
),
w AS (
  SELECT doc_id, CAST(u.i AS INT) AS pos,
         array_to_string(
           list_slice(toks, CAST(u.i + 1 AS INT), CAST(u.i + 8 AS INT)),
           ' ') AS wtext
  FROM t, UNNEST(range(len(toks) - 7)) AS u(i)
  WHERE len(toks) >= 8
),
g AS (
  SELECT doc_id, pos,
         ROW_NUMBER() OVER (PARTITION BY wtext ORDER BY doc_id, pos) AS rk,
         COUNT(*) OVER (PARTITION BY wtext) AS cnt
  FROM w
),
dropped AS (SELECT DISTINCT doc_id, pos FROM g WHERE cnt >= 2 AND rk >= 2),
m AS (
  SELECT doc_id, pos,
         MAX(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS prev_max
  FROM dropped
),
isl AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN prev_max IS NULL OR pos > prev_max
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM m
)
SELECT doc_id, CAST(MIN(pos) AS INT) AS span_start,
       CAST(MAX(pos) + 8 AS INT) AS span_end
FROM isl GROUP BY doc_id, island
ORDER BY doc_id, span_start
"""


def q_dedup_substrings_long_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-length near-exact passage dedup (ops/substrings.py
    long_duplicate_spans — seed-and-extend, the round-4 verdict's
    Lee et al. ≥min_len-maximal-span gap): docs ≥60 tokens with
    doc_id % 3 == 0 get a planted copy (id+200000) whose every 7th
    token is mutated — a passage that provably carries ZERO exact
    8-token windows (the fixed-W op finds nothing for these pairs,
    locked in tests/test_substrings.py) yet chains densely at
    seed_window=4 on one alignment diagonal. Fully deterministic: the
    oracle re-derives seeds (by window TEXT — hashing only prunes),
    pair diagonals, LAG-gap chaining, the length/seed-count filters,
    b-side projection, and the interval merge in SQL."""
    from smcchecker_spark.ops import substrings

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = text_ops.tokens(F.col("text"))
    copies = (
        docs.filter((F.size(toks) >= 60) & (F.col("doc_id") % 3 == 0))
        .select(
            (F.col("doc_id") + 200000).alias("doc_id"),
            F.concat_ws(
                " ",
                F.transform(
                    toks,
                    lambda t, i: F.when(
                        i % 7 == 0,
                        F.concat(F.lit("mut"), i.cast("string")),
                    ).otherwise(t),
                ),
            ).alias("text"),
        )
    )
    return substrings.long_duplicate_spans(
        docs.unionByName(copies),
        id_col="doc_id",
        text_col="text",
        seed_window=4,
        min_len=40,
        max_gap=8,
        min_seeds=8,
    ).orderBy("doc_id", "span_start")


_DEDUP_SUBSTRINGS_LONG_ORACLE = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
  FROM documents WHERE trim(coalesce(text, '')) <> ''
),
mut AS (
  SELECT doc_id + 200000 AS doc_id,
         string_agg(
           CASE WHEN u.i % 7 = 0 THEN 'mut' || CAST(u.i AS VARCHAR)
                ELSE toks[CAST(u.i + 1 AS INT)] END,
           ' ' ORDER BY u.i) AS text
  FROM t, UNNEST(range(len(toks))) AS u(i)
  WHERE len(toks) >= 60 AND doc_id % 3 = 0
  GROUP BY doc_id
),
corpus AS (
  SELECT doc_id, toks FROM t
  UNION ALL
  SELECT doc_id, string_split_regex(trim(text), '\s+') FROM mut
),
w AS (
  SELECT doc_id, CAST(u.i AS INT) AS pos,
         array_to_string(
           list_slice(toks, CAST(u.i + 1 AS INT), CAST(u.i + 4 AS INT)),
           ' ') AS wtext
  FROM corpus, UNNEST(range(len(toks) - 3)) AS u(i)
  WHERE len(toks) >= 4
),
keep AS (
  SELECT wtext FROM w GROUP BY wtext
  HAVING COUNT(*) BETWEEN 2 AND 64
),
p AS (
  SELECT w1.doc_id AS id_a, w1.pos AS pos_a,
         w2.doc_id AS id_b, w2.pos AS pos_b,
         w1.pos - w2.pos AS diag
  FROM w w1
  JOIN w w2 ON w1.wtext = w2.wtext
           AND (w1.doc_id, w1.pos) < (w2.doc_id, w2.pos)
  JOIN keep k ON w1.wtext = k.wtext
),
c AS (
  SELECT id_a, id_b, diag, pos_a,
         CASE WHEN LAG(pos_a) OVER ch IS NULL
                OR pos_a - LAG(pos_a) OVER ch > 12
              THEN 1 ELSE 0 END AS newc
  FROM p
  WINDOW ch AS (PARTITION BY id_a, id_b, diag ORDER BY pos_a)
),
chains AS (
  SELECT id_a, id_b, diag, pos_a,
         SUM(newc) OVER (PARTITION BY id_a, id_b, diag ORDER BY pos_a)
           AS chain
  FROM c
),
spans AS (
  SELECT id_b AS doc_id,
         MIN(pos_a) - diag AS span_start,
         MAX(pos_a) + 4 - diag AS span_end
  FROM chains
  GROUP BY id_a, id_b, diag, chain
  HAVING MAX(pos_a) + 4 - MIN(pos_a) >= 40 AND COUNT(*) >= 8
),
ds AS (SELECT DISTINCT doc_id, span_start, span_end FROM spans),
m AS (
  SELECT doc_id, span_start, span_end,
         MAX(span_end) OVER (PARTITION BY doc_id ORDER BY span_start,
                             span_end ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS prev_max
  FROM ds
),
isl AS (
  SELECT doc_id, span_start, span_end,
         SUM(CASE WHEN prev_max IS NULL OR span_start > prev_max
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY span_start, span_end)
           AS island
  FROM m
)
SELECT doc_id, CAST(MIN(span_start) AS INT) AS span_start,
       CAST(MAX(span_end) AS INT) AS span_end
FROM isl GROUP BY doc_id, island
ORDER BY doc_id, span_start
"""


def q_minhash_neardup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH blocking → exact shingle-Jaccard ≥ 0.8. The oracle is
    the TRUE all-pairs answer (exact Jaccard over word-3-shingles); 16
    bands × 2 rows makes the LSH candidate-recall ≥ 1-1e-7 at s=0.8, so
    blocking misses nothing the exact verify would keep.

    min_parallelism targets PHYSICAL cores (session.physical_parallelism,
    ~8 here), not defaultParallelism: the sf-test table is 2 file splits
    (UDF underparallelized without it), but 32 oversubscribed Python
    workers measured ~10× slower than 8. At corpus scale file splits >>
    cores and the repartition is a no-op."""
    from smcchecker_spark.session import physical_parallelism

    return dedup.ngram_jaccard_dedup(
        _docs_with_planted_dups(spark, sf_dir),
        "doc_id",
        "text",
        threshold=0.8,
        num_hashes=32,
        bands=16,
        min_parallelism=physical_parallelism(),
    )


def q_incremental_neardup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: the ``documents`` corpus' MinHash band
    index is built ONCE (ops/incremental.py save_minhash_index — the
    'accepted production corpus' artifact, reference analogue
    proj/core_checks duplicate-vs-production), then the planted ingest
    batch (doc_id+100000 copies) probes the STORED index: new x new +
    new x old candidates only, exact shingle-Jaccard >= 0.8 verify.
    old x old is never enumerated. Oracle: true all-pairs Jaccard
    restricted to pairs touching the batch (id_b >= 100000 — batch ids
    are the only ids in that range); 16 bands x 2 rows makes LSH recall
    ~1 at s=0.8, so blocking misses nothing the verify would keep."""
    import tempfile

    from smcchecker_spark.session import physical_parallelism

    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    path = tempfile.mkdtemp(prefix="mh_index_")
    par = physical_parallelism()
    inc_ops.save_minhash_index(
        docs, path, "doc_id", "text",
        num_hashes=32, bands=16, min_parallelism=par,
    )
    return inc_ops.incremental_ngram_dedup(
        new, docs, path, "doc_id", threshold=0.8, min_parallelism=par
    )


_INCREMENTAL_ORACLE = r"""
WITH u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
),
tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM u
       WHERE trim(coalesce(text, '')) <> ''),
sh AS (SELECT doc_id,
          list_distinct([array_to_string(t[i+1:i+3], ' ')
                         for i in range(0, greatest(len(t)-3, 0)+1)]) AS s
       FROM tk),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
               greatest(len(list_distinct(list_concat(a.s, b.s))), 1), 6) AS jaccard
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
SELECT * FROM p WHERE jaccard >= 0.8 AND id_b >= 100000
"""


_MINHASH_ORACLE = r"""
WITH u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
),
tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM u
       WHERE trim(coalesce(text, '')) <> ''),
sh AS (SELECT doc_id,
          list_distinct([array_to_string(t[i+1:i+3], ' ')
                         for i in range(0, greatest(len(t)-3, 0)+1)]) AS s
       FROM tk),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
               greatest(len(list_distinct(list_concat(a.s, b.s))), 1), 6) AS jaccard
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
SELECT * FROM p WHERE jaccard >= 0.8
"""


def q_neardup_components_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-cluster resolution: connected components (alternating
    large-star/small-star, iterative) over the MinHash-verified near-dup
    pairs — (id, component-min). Oracle: recursive-CTE transitive
    closure over the same true all-pairs Jaccard≥0.8 graph."""
    from smcchecker_spark.session import physical_parallelism

    pairs = dedup.ngram_jaccard_dedup(
        _docs_with_planted_dups(spark, sf_dir),
        "doc_id",
        "text",
        threshold=0.8,
        num_hashes=32,
        bands=16,
        min_parallelism=physical_parallelism(),
    )
    return dedup.connected_components(pairs)


_NEARDUP_COMPONENTS_ORACLE = r"""
WITH RECURSIVE u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
),
tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM u
       WHERE trim(coalesce(text, '')) <> ''),
sh AS (SELECT doc_id,
          list_distinct([array_to_string(t[i+1:i+3], ' ')
                         for i in range(0, greatest(len(t)-3, 0)+1)]) AS s
       FROM tk),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        greatest(len(list_distinct(list_concat(a.s, b.s))), 1) >= 0.8),
sym AS (SELECT id_a AS a, id_b AS b FROM p
        UNION SELECT id_b, id_a FROM p),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a
)
SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a
"""


def q_dedup_resolve_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup removal: LSH blocking → exact verify →
    connected components → keep the component-min canonical row.
    Returns the surviving doc_ids; oracle = everything except non-min
    members of the transitive-closure components."""
    from smcchecker_spark.session import physical_parallelism

    docs = _docs_with_planted_dups(spark, sf_dir)
    pairs = dedup.ngram_jaccard_dedup(
        docs,
        "doc_id",
        "text",
        threshold=0.8,
        num_hashes=32,
        bands=16,
        min_parallelism=physical_parallelism(),
    )
    return dedup.resolve_duplicates(docs, pairs, "doc_id").select("doc_id")


_DEDUP_RESOLVE_ORACLE = r"""
WITH RECURSIVE u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
),
tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM u
       WHERE trim(coalesce(text, '')) <> ''),
sh AS (SELECT doc_id,
          list_distinct([array_to_string(t[i+1:i+3], ' ')
                         for i in range(0, greatest(len(t)-3, 0)+1)]) AS s
       FROM tk),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        greatest(len(list_distinct(list_concat(a.s, b.s))), 1) >= 0.8),
sym AS (SELECT id_a AS a, id_b AS b FROM p
        UNION SELECT id_b, id_a FROM p),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a
),
comp AS (SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a)
SELECT u.doc_id FROM u LEFT JOIN comp c ON u.doc_id = c.id
WHERE c.id IS NULL OR c.component = u.doc_id
"""


def q_simhash_neardup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dups (Hamming <= 3, chunk-blocked — exact by
    pigeonhole) in the FNV-1a production hash mode. r4: value-checked —
    FNV-1a is a per-byte fold that DuckDB reproduces bit-exactly
    (hex-decoded UTF-8 bytes + HUGEINT mul-mod-2^64 list_reduce), so
    the oracle brute-forces the same fingerprints and all-pairs
    Hamming; md5 mode keeps its own oracle next door."""
    from smcchecker_spark.package import ensure_shipped

    ensure_shipped(spark)
    from smcchecker_spark.session import physical_parallelism

    return dedup.simhash_near_dups(
        _docs_with_planted_dups(spark, sf_dir), "doc_id", "text", max_hamming=3,
        min_parallelism=physical_parallelism(),
    )


def q_simhash_neardup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dups in md5 token-hash mode — the SAME pipeline as
    ``simhash_neardup_docs`` (one Arrow fingerprint pass, pigeonhole
    chunk banding, skew-guarded bucket pairing) but with the per-token
    hash = first 8 bytes of md5, which DuckDB computes bit-identically
    (``md5()`` + hex parse). The whole operator — tokenization, ±1 bit
    votes, sign fingerprint, Hamming ≤ 3 pairing — is therefore a TRUE
    value oracle vs a brute-force all-pairs ``bit_count(xor())`` in SQL;
    the FNV production sibling stays rows-only purely because its hash
    isn't SQL-expressible, not because the dataflow differs."""
    from smcchecker_spark.package import ensure_shipped

    ensure_shipped(spark)
    from smcchecker_spark.session import physical_parallelism

    return dedup.simhash_near_dups(
        _docs_with_planted_dups(spark, sf_dir), "doc_id", "text", max_hamming=3,
        min_parallelism=physical_parallelism(), token_hash="md5",
    )


_SIMHASH_EXACT_ORACLE = """
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
),
d AS (SELECT doc_id, lower(coalesce(text, '')) AS txt FROM base),
tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(txt), '\\s+')) AS tok
  FROM d
),
-- per-token 64-bit hash = first 8 bytes of md5, big-endian (identical
-- to the Arrow UDF's md5 mode); '' from splitting empty text is not a
-- token (python str.split() drops it)
h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS hv
  FROM tok WHERE tok <> ''
),
votes AS (
  SELECT doc_id, i,
         SUM(CASE WHEN (hv >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM h CROSS JOIN (SELECT unnest(range(64)) AS i) b
  GROUP BY doc_id, i
),
fp AS (
  SELECT doc_id,
         SUM(CASE WHEN v > 0 THEN (1::UBIGINT << i)
                  ELSE 0::UBIGINT END)::UBIGINT AS f
  FROM votes GROUP BY doc_id
),
-- docs with no tokens fingerprint to 0
allfp AS (
  SELECT d.doc_id, coalesce(f, 0::UBIGINT) AS f
  FROM d LEFT JOIN fp USING (doc_id)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.f, b.f)) AS INT) AS hamming
FROM allfp a JOIN allfp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.f, b.f)) <= 3
"""

# FNV-1a production-mode oracle (r4): identical vote/sign/pairing SQL,
# with the per-token hash swapped for a bit-exact FNV-1a fold — UTF-8
# bytes via hex(encode(tok)), offset basis prepended, (h XOR b) * prime
# mod 2^64 in HUGEINT per byte (prototype-verified == dedup.hash64_py).
_SIMHASH_FNV_ORACLE = _SIMHASH_EXACT_ORACLE.replace(
    """-- per-token 64-bit hash = first 8 bytes of md5, big-endian (identical
-- to the Arrow UDF's md5 mode); '' from splitting empty text is not a
-- token (python str.split() drops it)
h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS hv
  FROM tok WHERE tok <> ''
),""",
    """-- per-token 64-bit hash = FNV-1a over UTF-8 bytes (identical to
-- dedup.hash64_py); '' from splitting empty text is not a token
h AS (
  SELECT doc_id,
         list_reduce(
           list_concat([14695981039346656037::UBIGINT],
             list_transform(range(octet_length(encode(tok))),
               i -> ('0x' || substr(hex(encode(tok)),
                                    CAST(2 * i + 1 AS INT), 2))::UBIGINT)),
           (h, b) -> CAST((CAST(xor(h, b) AS HUGEINT) * 1099511628211)
                          % 18446744073709551616 AS UBIGINT)
         ) AS hv
  FROM tok WHERE tok <> ''
),""",
)
assert "FNV-1a" in _SIMHASH_FNV_ORACLE and "md5(tok)" not in \
    _SIMHASH_FNV_ORACLE  # replacement must not silently no-op


# Derived deterministic "phash" for the image-near-dedup oracle: pure
# xor/shift bitwise mixing of event_id — identical semantics in Spark
# and DuckDB. Shift inputs are MASKED below the sign bit (x & (2^42-1)
# before <<21, x & (2^20-1) before <<42): DuckDB's << throws a signed-
# overflow exception once event_id >= 2^21, while Spark's shiftleft
# silently wraps — the masks keep both engines defined AND bit-identical
# for every 64-bit id (and equal to the unmasked form for id < 2^20).
# 3× bit replication (x ^ x<<21 ^ x<<42)
# puts every pair of distinct non-planted ids ≥ 3 bits apart; rows with
# event_id % 100 < 6 instead share their block's base hash with ONE low
# bit flipped, so within-block pairs sit at Hamming 2 — planted
# near-dups the banding must find (plus a handful of deterministic
# incidental pairs, which both engines compute identically).
def _mix_spark(b: str) -> str:
    """x ^ (masked x)<<21 ^ (masked x)<<42 — see the comment above."""
    return (f"{b} ^ shiftleft(({b}) & 4398046511103, 21)"
            f" ^ shiftleft(({b}) & 1048575, 42)")


def _mix_duck(b: str) -> str:
    """The same mix in DuckDB spelling (xor() calls, checked <<)."""
    return (f"xor(xor({b}, (({b}) & 4398046511103) << 21),"
            f" (({b}) & 1048575) << 42)")


_PHASH_MIX_SPARK = (
    "CASE WHEN event_id % 100 < 6 THEN "
    f"{_mix_spark('event_id - event_id % 100')} "
    "^ shiftleft(1, cast(event_id % 100 AS int)) "
    f"ELSE {_mix_spark('event_id')} END"
)


def q_phash_neardup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE near-dedup path: pairs with stored-phash Hamming distance
    <= 2 via ops.dedup.phash_near_dups (chunk-blocked banding, exact by
    pigeonhole, zero UDFs — near-dedup of 10^12 validated images never
    re-reads payload bytes). Testdata has no image table, so a
    deterministic bitwise mix of event_id stands in for the stored
    phash column and DuckDB brute-forces the same pairs as the value
    oracle; the REAL stored-phash path over actual encoded images is
    exercised in tests/test_dedup.py."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", F.expr(_PHASH_MIX_SPARK).alias("phash")
    )
    return dedup.phash_near_dups(
        ev, id_col="event_id", phash_col="phash", max_hamming=2
    )


_PHASH_NEARDUP_ORACLE = """
WITH p AS (
  SELECT event_id AS id,
         CASE WHEN event_id % 100 < 6 THEN
           xor(__MIXBASE__, 1 << CAST(event_id % 100 AS INT))
         ELSE __MIXID__
         END AS phash
  FROM events
)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
FROM p a JOIN p b ON a.id < b.id
WHERE bit_count(xor(a.phash, b.phash)) <= 2
"""
_PHASH_NEARDUP_ORACLE = _PHASH_NEARDUP_ORACLE.replace(
    "__MIXBASE__", _mix_duck("event_id - event_id % 100")
).replace("__MIXID__", _mix_duck("event_id"))


def q_phash_dedup_resolve_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end IMAGE near-dup removal: banded stored-phash pairing →
    connected components → keep the component-min canonical image; rows
    in no pair pass through. Same derived-fingerprint trick as
    ``phash_neardup_events`` so the survivor set is value-checked
    against a recursive-CTE transitive closure in DuckDB."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", F.expr(_PHASH_MIX_SPARK).alias("phash")
    )
    pairs = dedup.phash_near_dups(
        ev, id_col="event_id", phash_col="phash", max_hamming=2
    )
    return dedup.resolve_duplicates(ev, pairs, "event_id").select("event_id")


_PHASH_RESOLVE_ORACLE = """
WITH RECURSIVE ph AS (
  SELECT event_id AS id,
         CASE WHEN event_id % 100 < 6 THEN
           xor(__MIXBASE__, 1 << CAST(event_id % 100 AS INT))
         ELSE __MIXID__
         END AS phash
  FROM events
),
p AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM ph a JOIN ph b ON a.id < b.id
  WHERE bit_count(xor(a.phash, b.phash)) <= 2
),
sym AS (SELECT id_a AS a, id_b AS b FROM p
        UNION SELECT id_b, id_a FROM p),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a
),
comp AS (SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a)
SELECT e.event_id FROM events e LEFT JOIN comp c ON e.event_id = c.id
WHERE c.id IS NULL OR c.component = e.event_id
"""
_PHASH_RESOLVE_ORACLE = _PHASH_RESOLVE_ORACLE.replace(
    "__MIXBASE__", _mix_duck("event_id - event_id % 100")
).replace("__MIXID__", _mix_duck("event_id"))


def _emb_double(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )


def q_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb_double(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.brute_force_topk(
        emb, queries, k=10, id_col="vec_id", vec_col="embedding"
    ).select("query_id", "neighbor_id", "rank")


_TOPK_COSINE_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
s AS (
  SELECT query_id, e.vec_id AS neighbor_id,
         list_dot_product(qv, v) /
         (greatest(sqrt(list_dot_product(qv, qv)), 1e-12) *
          greatest(sqrt(list_dot_product(v, v)), 1e-12)) AS score
  FROM e CROSS JOIN q
)
SELECT query_id, neighbor_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id) AS INT) AS rank
FROM s QUALIFY rank <= 10
"""


def q_lsh_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN (the scale path). Approximate in
    RECALL, but fully deterministic: the planes come from a fixed seed,
    so the bucket partition — and therefore the exact result set — is a
    pure function of the data. The oracle (r4) bakes the same plane
    constants into SQL and re-derives signatures, bucket-equijoin, and
    within-bucket ranking, making this a VALUE-checked row (the
    recall-vs-brute-force property stays pytest-locked)."""
    emb = _emb_double(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.lsh_topk(
        emb, queries, k=10, dim=64, n_planes=6, id_col="vec_id", vec_col="embedding"
    ).select("query_id", "neighbor_id", "rank")


def _lsh_topk_oracle() -> str:
    """SQL oracle for q_lsh_topk_embeddings: the seeded hyperplanes are
    deterministic module data, so their float values are baked into the
    query as literals (full repr precision — DuckDB parses them back to
    the identical doubles). Signature = fold of sign bits, bucket
    equijoin, round(cosine,6)-then-id ranking — the exact lsh_topk
    semantics."""
    from smcchecker_spark.ops.similarity import _hyperplanes

    planes = _hyperplanes(64, 6, 42)
    rows = ", ".join(
        "({}, [{}]::DOUBLE[])".format(
            j, ", ".join(repr(float(x)) for x in p)
        )
        for j, p in enumerate(planes)
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
pl(j, p) AS (SELECT * FROM (VALUES {rows})),
sig AS (
  SELECT e.vec_id,
         CAST(SUM(CASE WHEN list_dot_product(e.v, pl.p) >= 0
                       THEN 1 ELSE 0 END * (1 << (5 - pl.j)))
              AS BIGINT) AS bucket
  FROM e, pl GROUP BY e.vec_id
),
q AS (
  SELECT e.vec_id AS query_id, e.v AS qv, sig.bucket
  FROM e JOIN sig USING (vec_id) WHERE e.vec_id < 8
),
s AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round(list_dot_product(q.qv, e.v) /
               (greatest(sqrt(list_dot_product(q.qv, q.qv)), 1e-12) *
                greatest(sqrt(list_dot_product(e.v, e.v)), 1e-12)), 6)
           AS score
  FROM q JOIN sig cs ON cs.bucket = q.bucket
       JOIN e ON e.vec_id = cs.vec_id
)
SELECT query_id, neighbor_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id) AS INT)
         AS rank
FROM s QUALIFY rank <= 10
"""


def q_topk_cosine_partial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-side-reduced exact top-k (per-partition GEMM + running heap,
    only k×|queries| rows per partition reach the rank shuffle) — the
    scale path; value-oracled by the same brute-force SQL as the plain
    form since both are exact."""
    from smcchecker_spark.package import ensure_shipped

    ensure_shipped(spark)
    emb = _emb_double(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.brute_force_topk_partial(
        emb, queries, k=10, id_col="vec_id", vec_col="embedding"
    ).select("query_id", "neighbor_id", "rank")


def q_lsh_topk_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH with probe_hamming = n_planes: every query probes
    ALL 2^6 buckets, so the result is exact and the brute-force cosine
    SQL is a true value oracle for the whole LSH machinery (signature
    exprs, bucket join, multi-probe explode, in-bucket scoring, rank).
    The approximate probe_hamming=0 variant stays rows-only next to
    this — same trick as ivf_topk_exhaustive."""
    emb = _emb_double(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.lsh_topk(
        emb, queries, k=10, dim=64, n_planes=6, id_col="vec_id",
        vec_col="embedding", probe_hamming=6,
    ).select("query_id", "neighbor_id", "rank")


def q_ivf_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (coarse-quantizer cells + n_probe=4 pruned search) — the
    second scale path next to hyperplane LSH. r4: centroids come from
    the deterministic one-Lloyd-iteration full-corpus regime (the
    _KMEANS_ORACLE construction at k=16), so the PRUNED search path —
    cell assignment, per-query 4-cell probe list, within-probe scoring
    and ranking — is a pure function of the data and fully
    value-checked (recall-vs-exhaustive stays pytest-locked; the
    all-cells probe has its own brute-force oracle above)."""
    from smcchecker_spark.package import ensure_shipped

    ensure_shipped(spark)
    emb = _emb_double(spark, sf_dir)
    centroids = similarity.train_centroids_full(
        emb, "vec_id", "embedding", k=16, iters=1
    )
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.ivf_topk(
        emb, queries, centroids, k=10, n_probe=4, id_col="vec_id"
    ).select("query_id", "neighbor_id", "rank")


_IVF_TOPK_PRUNED_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
en AS (
  SELECT vec_id, v,
         list_transform(v, x -> x / greatest(sqrt(list_dot_product(v, v)),
                                             1e-12)) AS vn
  FROM e
),
c0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, vn AS cv
  FROM (SELECT vec_id, vn FROM en ORDER BY vec_id LIMIT 16)
),
a0 AS (
  SELECT vec_id, cell FROM (
    SELECT en.vec_id, c0.cell,
           ROW_NUMBER() OVER (
             PARTITION BY en.vec_id
             ORDER BY list_dot_product(en.vn, c0.cv) DESC, c0.cell ASC
           ) AS rn
    FROM en, c0
  ) WHERE rn = 1
),
m1 AS (
  SELECT a0.cell, d.range AS pos,
         AVG(en.vn[CAST(d.range + 1 AS INT)]) AS mv
  FROM en JOIN a0 USING (vec_id), range(64) d
  GROUP BY a0.cell, d.range
),
cm AS (SELECT cell, list(mv ORDER BY pos) AS l FROM m1 GROUP BY cell),
c1 AS (
  SELECT c0.cell,
         COALESCE(
           list_transform(cm.l,
                          x -> x / greatest(sqrt(list_dot_product(cm.l,
                                                                  cm.l)),
                                            1e-12)),
           c0.cv) AS cv
  FROM c0 LEFT JOIN cm ON c0.cell = cm.cell
),
cells AS (
  SELECT vec_id, cell FROM (
    SELECT en.vec_id, c1.cell,
           ROW_NUMBER() OVER (
             PARTITION BY en.vec_id
             ORDER BY list_dot_product(en.vn, c1.cv) DESC, c1.cell ASC
           ) AS rn
    FROM en, c1
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, v, vn FROM en WHERE vec_id < 8),
probe AS (
  SELECT query_id, cell FROM (
    SELECT q.query_id, c1.cell,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY list_dot_product(q.vn, c1.cv) DESC, c1.cell ASC
           ) AS rn
    FROM q, c1
  ) WHERE rn <= 4
),
s AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round(list_dot_product(q.v, e.v) /
               (greatest(sqrt(list_dot_product(q.v, q.v)), 1e-12) *
                greatest(sqrt(list_dot_product(e.v, e.v)), 1e-12)), 6)
           AS score
  FROM probe p JOIN q USING (query_id)
       JOIN cells ce ON ce.cell = p.cell
       JOIN e ON e.vec_id = ce.vec_id
)
SELECT query_id, neighbor_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id) AS INT)
         AS rank
FROM s QUALIFY rank <= 10
"""


def q_ivf_topk_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN probing ALL cells (n_probe = k_cells) — exact by
    construction, so the brute-force cosine top-k SQL is a true value
    oracle for the whole IVF machinery (cell assignment UDF, probe-list
    UDF, per-cell scoring, ranking). The approximate n_probe=4 variant
    stays rows-only next to this."""
    from smcchecker_spark.package import ensure_shipped

    ensure_shipped(spark)
    emb = _emb_double(spark, sf_dir)
    centroids = similarity.train_centroids(emb, "vec_id", "embedding", k=16)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.ivf_topk(
        emb, queries, centroids, k=10, n_probe=16, id_col="vec_id"
    ).select("query_id", "neighbor_id", "rank")


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted exact copies must pair; near-orthogonal noise must not.
    n_planes=14 / n_bands=2 is the similarity.embedding_near_dups
    scale rule (≈ n/2^14 rows per bucket per band — sub-linear
    candidate growth), and CANNOT change this query's result set:
    identical vectors co-bucket under every plane set (recall of exact
    copies is 1 at any n_planes), and raising n_planes only shrinks
    the candidate set the cosine ≥ 0.95 filter already prunes."""
    emb = _emb_double(spark, sf_dir)
    copies = emb.filter(F.col("vec_id") % 10 == 0).withColumn(
        "vec_id", F.col("vec_id") + 100000
    )
    return similarity.embedding_near_dups(
        emb.unionByName(copies),
        id_col="vec_id",
        vec_col="embedding",
        threshold=0.95,
        dim=64,
        n_planes=14,
        n_bands=2,
    )


_EMB_NEARDUP_ORACLE = """
SELECT vec_id AS id_a, vec_id + 100000 AS id_b, CAST(1.0 AS DOUBLE) AS cosine
FROM embeddings WHERE vec_id % 10 = 0
"""


def _semdedup_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted semantic-dup structure over ``embeddings``: exact copies at
    vec_id − 100000 for vec_id%10==0 (their component min is the PLANTED
    id, so the original is the row that gets dropped — survivors are
    non-trivial), and 0.9·v + 0.1·v_next mixes at vec_id + 200000 for
    vec_id%20==0 (cosine ≈ 0.994 to both v and its copy — a 3-member
    chain the closure must collapse). Every transform is reproduced
    verbatim in the DuckDB oracle."""
    emb = _emb_double(spark, sf_dir)
    copies = emb.filter(F.col("vec_id") % 10 == 0).withColumn(
        "vec_id", F.col("vec_id") - 100000
    )
    nxt = emb.select(
        (F.col("vec_id") - 1).alias("vec_id"), F.col("embedding").alias("nv")
    )
    mixes = (
        emb.filter(F.col("vec_id") % 20 == 0)
        .join(nxt, "vec_id")
        .select(
            (F.col("vec_id") + 200000).alias("vec_id"),
            F.zip_with(
                "embedding", "nv", lambda x, y: 0.9 * x + 0.1 * y
            ).alias("embedding"),
        )
    )
    return emb.unionByName(copies).unionByName(mixes)


def q_semdedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (within-cluster semantic dedup) in the EXHAUSTIVE k=1
    regime: one cell = all-pairs cosine, so the full pipeline (centroid
    assignment UDF, skew-guarded chunked pairing — a single cell is the
    hot-bucket case by construction — candidates-only cosine, connected
    components, min-id resolve) is value-checked against a brute-force
    recursive-CTE closure in DuckDB. The clustered k>1 variant stays
    rows-only next to this (k-means cells aren't SQL-expressible)."""
    from smcchecker_spark.package import ensure_shipped

    ensure_shipped(spark)
    base = _semdedup_base(spark, sf_dir)
    return similarity.semantic_dedup(
        base, k=1, id_col="vec_id", vec_col="embedding", threshold=0.95
    ).select("vec_id")


_SEMDEDUP_ORACLE = """
WITH RECURSIVE base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id - 100000, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id % 10 = 0
  UNION ALL
  SELECT e.vec_id + 200000,
         list_transform(CAST(e.embedding AS DOUBLE[]),
                        (x, i) -> 0.9 * x + 0.1 * CAST(n.embedding AS DOUBLE[])[i]) AS v
  FROM embeddings e JOIN embeddings n ON n.vec_id = e.vec_id + 1
  WHERE e.vec_id % 20 = 0
),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM base a JOIN base b ON a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.v, b.v) >= 0.95
),
sym AS (SELECT id_a AS a, id_b AS b FROM p
        UNION SELECT id_b, id_a FROM p),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a
),
comp AS (SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a)
SELECT b.vec_id FROM base b LEFT JOIN comp c ON b.vec_id = c.id
WHERE c.id IS NULL OR c.component = b.vec_id
"""


def q_semdedup_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup at its deployment shape — k=8 spherical-k-means cells,
    paper keep-rule (drop the cluster members MOST similar to their
    centroid, keep the least prototypical one, id-ascending ties).
    Centroids come from the deterministic distributed-k-means regime
    (``train_centroids_full`` k=8, ONE Lloyd iteration from the
    lowest-8-id init — the exact construction ``_KMEANS_ORACLE``
    re-derives in SQL), so the WHOLE clustered pipeline is
    value-checked: cell assignment, within-cell pairing, closure, and
    the centroid-cosine keep rule are all reproduced by the oracle.
    The k-monotonicity property (k=1 survivors ⊆ k>1 survivors) stays
    pytest-locked.

    Perf (round-5 fix for the r4 1.18× regression): the augmented base
    (union + blend join) is derived ONCE behind an eager
    localCheckpoint and re-sized to ~512 vectors/partition (capped at
    session parallelism) before the training + dedup passes — the r4
    regime re-derived it per pass and ran every Arrow stage over 32
    sliver partitions on ~8 physical cores. At corpus scale the
    row-count target yields ≥ cores partitions and the coalesce is a
    no-op; locally it turns 32 slivers into a few full Arrow batches.
    Measured sf0.1 steady-state: 4.4 s → 3.3 s (below the r3 3.76 s
    baseline)."""
    from smcchecker_spark.package import ensure_shipped

    ensure_shipped(spark)
    base = _semdedup_base(spark, sf_dir).localCheckpoint()
    n_rows = base.count()  # post-checkpoint: a cached-partition count
    target = max(
        1, min(spark.sparkContext.defaultParallelism, -(-n_rows // 512))
    )
    if target < base.rdd.getNumPartitions():
        base = base.coalesce(target)
    cents = similarity.train_centroids_full(
        base, id_col="vec_id", vec_col="embedding", k=8, iters=1
    )
    return similarity.semantic_dedup(
        base,
        centroids=cents,
        k=8,
        id_col="vec_id",
        vec_col="embedding",
        threshold=0.95,
        keep="far_from_centroid",
    ).select("vec_id")


# Clustered-SemDeDup oracle: the augmented base and closure of the k=1
# oracle, plus the one-Lloyd-iteration centroid derivation of
# _KMEANS_ORACLE (lowest-8-id normalized init -> assign -> normalized
# mean -> final assignment), within-cell pairing only, and the
# far-from-centroid keep rule (min cent_cos, id-ascending ties).
_SEMDEDUP_CLUSTERED_ORACLE = """
WITH RECURSIVE base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id - 100000, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id % 10 = 0
  UNION ALL
  SELECT e.vec_id + 200000,
         list_transform(CAST(e.embedding AS DOUBLE[]),
                        (x, i) -> 0.9 * x + 0.1 * CAST(n.embedding AS DOUBLE[])[i]) AS v
  FROM embeddings e JOIN embeddings n ON n.vec_id = e.vec_id + 1
  WHERE e.vec_id % 20 = 0
),
en AS (
  SELECT vec_id, v,
         list_transform(v, x -> x / greatest(sqrt(list_dot_product(v, v)),
                                             1e-12)) AS vn
  FROM base
),
c0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, vn AS cv
  FROM (SELECT vec_id, vn FROM en ORDER BY vec_id LIMIT 8)
),
a0 AS (
  SELECT vec_id, cell FROM (
    SELECT en.vec_id, c0.cell,
           ROW_NUMBER() OVER (
             PARTITION BY en.vec_id
             ORDER BY list_dot_product(en.vn, c0.cv) DESC, c0.cell ASC
           ) AS rn
    FROM en, c0
  ) WHERE rn = 1
),
m1 AS (
  SELECT a0.cell, d.range AS pos,
         AVG(en.vn[CAST(d.range + 1 AS INT)]) AS mv
  FROM en JOIN a0 USING (vec_id), range(64) d
  GROUP BY a0.cell, d.range
),
cm AS (SELECT cell, list(mv ORDER BY pos) AS l FROM m1 GROUP BY cell),
c1 AS (
  SELECT c0.cell,
         COALESCE(
           list_transform(cm.l,
                          x -> x / greatest(sqrt(list_dot_product(cm.l,
                                                                  cm.l)),
                                            1e-12)),
           c0.cv) AS cv
  FROM c0 LEFT JOIN cm ON c0.cell = cm.cell
),
a1 AS (
  SELECT vec_id, cell FROM (
    SELECT en.vec_id, c1.cell,
           ROW_NUMBER() OVER (
             PARTITION BY en.vec_id
             ORDER BY list_dot_product(en.vn, c1.cv) DESC, c1.cell ASC
           ) AS rn
    FROM en, c1
  ) WHERE rn = 1
),
cc AS (
  SELECT en.vec_id, MAX(list_dot_product(en.vn, c1.cv)) AS cent_cos
  FROM en, c1 GROUP BY en.vec_id
),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM en a JOIN a1 aa ON a.vec_id = aa.vec_id
       JOIN a1 ab ON ab.cell = aa.cell
       JOIN en b ON b.vec_id = ab.vec_id AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.v, b.v) >= 0.95
),
sym AS (SELECT id_a AS a, id_b AS b FROM p
        UNION SELECT id_b, id_a FROM p),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a
),
comp AS (SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a),
keepers AS (
  SELECT id FROM (
    SELECT comp.id,
           ROW_NUMBER() OVER (
             PARTITION BY comp.component
             ORDER BY cc.cent_cos ASC, comp.id ASC
           ) AS rk
    FROM comp JOIN cc ON cc.vec_id = comp.id
  ) WHERE rk = 1
)
SELECT b.vec_id FROM base b LEFT JOIN comp c ON b.vec_id = c.id
WHERE c.id IS NULL OR c.id IN (SELECT id FROM keepers)
"""


def q_engine_caption_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FieldEquals — the north star's caption-equality parity check as a
    row constraint: documents joined with a reference copy whose caption
    (here: ``lang``) is deterministically tampered, null-safely compared."""
    from smcchecker_spark.constraints import FieldEquals

    docs = _t(spark, sf_dir, "documents")
    ref = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 9 == 7, F.concat(F.col("lang"), F.lit("!")))
        .when(F.col("doc_id") % 9 == 2, F.lit(None))
        .otherwise(F.col("lang"))
        .alias("ref_lang"),
    )
    joined = docs.select("doc_id", "lang").join(ref, "doc_id").withColumn(
        "part_id", (F.col("doc_id") % 4).cast("int")
    )
    suite = Suite(
        name="docs_parity",
        table="documents",
        constraints=[FieldEquals("lang", reference_col="ref_lang")],
    )
    return compile_suite(joined, suite, row_id_col="doc_id", part_id_col="part_id")


_CAPTION_PARITY_ORACLE = """
WITH j AS (
  SELECT doc_id, lang,
         CASE WHEN doc_id % 9 = 7 THEN lang || '!'
              WHEN doc_id % 9 = 2 THEN NULL
              ELSE lang END AS ref_lang,
         CAST(doc_id % 4 AS INT) AS part_id
  FROM documents
)
SELECT 'documents' AS "table", CAST(doc_id AS VARCHAR) AS row_id,
       'lang,ref_lang' AS columns, 'Parity Mismatch' AS error_type,
       TRUE AS is_core_error,
       'The value in lang (' || coalesce(lang, 'NULL')
         || ') does not match the reference column ref_lang ('
         || coalesce(ref_lang, 'NULL') || ')' AS error_message,
       'fieldequals_lang_ref_lang' AS check_name, 'error' AS severity, part_id
FROM j WHERE lang IS DISTINCT FROM ref_lang
"""


def q_images_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full image+caption constraint suite (incl. the Arrow decode UDF) on
    the deterministic synthetic fixture — ROW-LEVEL (row_id, check_name)
    violation rows, value-checked against the planted-rule oracle
    (expected_flags is a modular function of the row index, so the
    exact violation SET — not just its size — is SQL-derivable; a
    decode regression that flags the right number of wrong rows still
    breaks the match)."""
    from smcchecker_spark import fixtures
    from smcchecker_spark.image import ImageConsistent
    from smcchecker_spark.package import ensure_shipped

    ensure_shipped(spark)
    # materialize the generator output once: the suite's union branches
    # (row pass + Unique agg + Unique join-back) would otherwise each
    # re-run the mapInPandas fixture generator
    df = fixtures.generate_images(
        spark, n_rows=2000, n_parts=8, seed=42
    ).localCheckpoint()
    suite = Suite(
        name="images_core",
        table="images",
        constraints=[
            NotNull("caption"),
            MaxLength("caption", max_length=256),
            Unique(["image_id"]),
            InLookup("fmt", lookup="lu_fmt", lookup_key="fmt"),
            ImageConsistent(),
        ],
    )
    ctx = ValidationContext(lookups={"lu_fmt": fixtures.lu_fmt(spark)})
    v = compile_suite(df, suite, ctx, row_id_col="image_id", part_id_col="part_id")
    return v.select("row_id", "check_name").orderBy("row_id", "check_name")


def q_jpeg_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full constraint suite over REAL baseline JFIF JPEG payloads
    (smcchecker_spark/jpegcodec.py — from-scratch DCT + Annex-K Huffman
    codec; fixtures.generate_jpeg_images plants dup/truncation/bitflip/
    w-off/phash-off/caption violations). Proves the engine's lossy path
    on actual JPEG bitstreams, not the FAKE-LOSSY stand-in. ROW-LEVEL:
    the oracle derives the exact planted (row_id, check_name) violation
    set from the fixture's modular index rules — no decode on the
    oracle side, real decode on ours; goldens also locked by
    tests/test_jpeg.py."""
    from smcchecker_spark import fixtures
    from smcchecker_spark.image import ImageConsistent
    from smcchecker_spark.package import ensure_shipped

    ensure_shipped(spark)
    df = fixtures.generate_jpeg_images(
        spark, n_rows=600, n_parts=8, seed=7
    ).localCheckpoint()
    suite = Suite(
        name="images_jpeg",
        table="images",
        constraints=[
            NotNull("caption"),
            Unique(["image_id"]),
            ImageConsistent(),
        ],
    )
    v = compile_suite(df, suite, row_id_col="image_id", part_id_col="part_id")
    return v.select("row_id", "check_name").orderBy("row_id", "check_name")


def q_webp_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint suite over REAL lossless WebP (VP8L) payloads
    (smcchecker_spark/webpcodec.py — from-scratch prefix-code/LZ77/
    transform codec; fixtures.generate_webp_images plants the same
    violation classes as the JPEG fixture). ROW-LEVEL violation rows,
    value-checked against the planted-rule oracle (same derivation as
    jpeg_validate); goldens also locked by tests/test_webp.py."""
    from smcchecker_spark import fixtures
    from smcchecker_spark.image import ImageConsistent
    from smcchecker_spark.package import ensure_shipped

    ensure_shipped(spark)
    df = fixtures.generate_webp_images(
        spark, n_rows=400, n_parts=8, seed=11
    ).localCheckpoint()
    suite = Suite(
        name="images_webp",
        table="images",
        constraints=[
            NotNull("caption"),
            Unique(["image_id"]),
            ImageConsistent(),
        ],
    )
    v = compile_suite(df, suite, row_id_col="image_id", part_id_col="part_id")
    return v.select("row_id", "check_name").orderBy("row_id", "check_name")


def q_transcode_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format-normalization curation stage (ops/multimodal.py
    transcode_images): the mixed png/fake-lossy fixture — including its
    planted truncated/bitflipped payloads — is transcoded to canonical
    PNG in ONE map-only Arrow stage, then the REFRESHED metadata is
    re-validated with ImageConsistent. Returns (n_ok, n_err,
    n_post_violations): undecodable inputs are flagged (never silently
    dropped) and every successfully transcoded row must validate clean —
    the self-consistency invariant a normalization stage owes its
    downstream. Value-checked: the oracle derives (n_ok, n_err) from
    the planted corruption rules and pins n_post_violations = 0; exact
    counts also locked by tests/test_ops.py."""
    from smcchecker_spark import fixtures
    from smcchecker_spark.image import ImageConsistent
    from smcchecker_spark.ops import multimodal
    from smcchecker_spark.package import ensure_shipped

    ensure_shipped(spark)
    df = fixtures.generate_images(
        spark, n_rows=2000, n_parts=8, seed=42
    ).localCheckpoint()
    out = multimodal.transcode_images(df, target="png").localCheckpoint()
    ok = out.filter(F.col("transcode_err").isNull())
    suite = Suite(
        name="post_transcode",
        table="images",
        constraints=[ImageConsistent()],
    )
    v = compile_suite(ok, suite, row_id_col="image_id", part_id_col="part_id")
    counts = out.agg(
        F.count(F.when(F.col("transcode_err").isNull(), 1)).alias("n_ok"),
        F.count(F.col("transcode_err")).alias("n_err"),
    )
    return counts.crossJoin(
        v.agg(F.count(F.lit(1)).alias("n_post_violations"))
    )


def q_jpeg_psnr_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star decoded-pixel parity on REAL lossy bitstreams:
    (real JPEG q98, lossless PNG of the same pixels) pairs through the
    PsnrAtLeast(40 dB) gate. Every 11th pair is re-encoded at q30 —
    below the gate on noise pixels — so the violation set is non-empty
    and index-computable: the oracle derives the EXACT planted set
    (i % 11 == 3) in SQL, making the whole decode → PSNR → gate chain
    value-checked (a codec or PSNR regression flags extra/missing
    rows and the match breaks). Goldens also locked by
    tests/test_jpeg.py."""
    from smcchecker_spark.image import PsnrAtLeast
    from smcchecker_spark.package import ensure_shipped

    ensure_shipped(spark)

    def gen(batches):
        import numpy as np
        import pandas as pd

        from smcchecker_spark import imagecodec as ic
        from smcchecker_spark import jpegcodec as jc

        for pdf in batches:
            rows = []
            for i in pdf["id"].tolist():
                rng = np.random.default_rng(9_000_017 + int(i))
                h = int(rng.integers(8, 33))
                w = int(rng.integers(8, 33))
                arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
                quality = 30 if i % 11 == 3 else 98
                rows.append(
                    {
                        "image_id": f"pair{i:09d}",
                        "bytes": jc.encode_jpeg(arr, quality=quality),
                        "ref_bytes": ic.encode_png(arr),
                        "part_id": int(i) % 4,
                    }
                )
            yield pd.DataFrame(rows)

    pairs = spark.range(0, 300, numPartitions=8).mapInPandas(
        gen,
        "image_id string, bytes binary, ref_bytes binary, part_id int",
    )
    suite = Suite(
        name="jpeg_psnr",
        table="images",
        constraints=[PsnrAtLeast("bytes", reference_col="ref_bytes")],
    )
    v = compile_suite(pairs, suite, row_id_col="image_id", part_id_col="part_id")
    return v.select("row_id", "check_name").orderBy("row_id")


# Planted-violation oracles for the codec/engine fixture queries: the
# fixtures plant every violation class as a pure modular function of
# the row index (fixtures.expected_flags / expected_jpeg_flags), so the
# EXPECTED per-check outcomes are SQL-derivable with no image decode —
# the same epistemics as the engine_* planted-violation oracles. The
# engine side must decode real bitstreams, compare metadata, count and
# group; a codec / phash / suite regression flags extra or missing rows
# and the value match breaks. (The decode itself is additionally
# interop-locked by tests/vectors against javax.imageio.)

# Row-level planted-violation oracle shared by every codec fixture that
# uses the expected_jpeg_flags / expected_wav_flags / expected_avi_flags
# modular rules (identical moduli by design — fixtures.py): emits the
# EXACT (row_id, check_name) violation set. A dup pair (row i dups row
# i-1's id) yields two identical unique_* rows — one per offending
# physical row, matching the engine's per-row violation granularity.
_CODEC_VALIDATE_ORACLE_T = """
WITH fl AS (
  SELECT i,
         CASE WHEN i % 89 = 1 AND i > 0
              THEN '{pre}' || lpad(CAST(i - 1 AS VARCHAR), 9, '0')
              ELSE '{pre}' || lpad(CAST(i AS VARCHAR), 9, '0') END AS row_id,
         (i % 31 = 5) AS caption_empty,
         (i % 89 = 1 AND i > 0) AS dup,
         (i % 89 = 0 AND i + 1 < {n}) AS dup_target,
         ((i % 41 = 3) OR (i % 41 = 17) OR (i % 37 = 5) OR (i % 43 = 7))
           AS payload_bad
  FROM range({n}) t(i)
)
SELECT row_id, check_name FROM (
  SELECT row_id, '{consistent}' AS check_name FROM fl WHERE payload_bad
  UNION ALL
  SELECT row_id, 'notnull_caption' FROM fl WHERE caption_empty
  UNION ALL
  SELECT row_id, 'unique_{idcol}' FROM fl WHERE dup
  UNION ALL
  SELECT row_id, 'unique_{idcol}' FROM fl WHERE dup_target
) ORDER BY row_id, check_name
"""

_JPEG_VALIDATE_ORACLE = _CODEC_VALIDATE_ORACLE_T.format(
    pre="jpg", n=600, consistent="imageconsistent_bytes", idcol="image_id"
)

_WEBP_VALIDATE_ORACLE = _CODEC_VALIDATE_ORACLE_T.format(
    pre="wbp", n=400, consistent="imageconsistent_bytes", idcol="image_id"
)

_JPEG_PROG_VALIDATE_ORACLE = _CODEC_VALIDATE_ORACLE_T.format(
    pre="jpg", n=400, consistent="imageconsistent_bytes", idcol="image_id"
)

_JPEG_PSNR_GATE_ORACLE = """
SELECT 'pair' || lpad(CAST(i AS VARCHAR), 9, '0') AS row_id,
       'psnr_bytes_ref_bytes' AS check_name
FROM range(300) t(i)
WHERE i % 11 = 3
ORDER BY row_id
"""

_IMAGES_VALIDATE_ORACLE = """
WITH fl AS (
  SELECT i,
         CASE WHEN i % 101 = 1 AND i > 0
              THEN 'img' || lpad(CAST(i - 1 AS VARCHAR), 12, '0')
              ELSE 'img' || lpad(CAST(i AS VARCHAR), 12, '0') END AS row_id,
         (i % 37 IN (5, 7)) AS caption_empty,
         (i % 37 = 13) AS caption_long,
         (i % 101 = 1 AND i > 0) AS dup,
         (i % 101 = 0 AND i + 1 < 2000) AS dup_target,
         (i % 43 IN (7, 9, 21)) AS fmt_bad,
         ((i % 53 IN (3, 17)) OR (i % 47 IN (5, 23)) OR (i % 59 = 19)
          OR (i % 43 IN (7, 9, 21))) AS img_bad
  FROM range(2000) t(i)
)
SELECT row_id, check_name FROM (
  SELECT row_id, 'imageconsistent_bytes' AS check_name FROM fl WHERE img_bad
  UNION ALL
  SELECT row_id, 'inlookup_fmt_lu_fmt' FROM fl WHERE fmt_bad
  UNION ALL
  SELECT row_id, 'maxlength_caption' FROM fl WHERE caption_long
  UNION ALL
  SELECT row_id, 'notnull_caption' FROM fl WHERE caption_empty
  UNION ALL
  SELECT row_id, 'unique_image_id' FROM fl WHERE dup
  UNION ALL
  SELECT row_id, 'unique_image_id' FROM fl WHERE dup_target
) ORDER BY row_id, check_name
"""

_TRANSCODE_ORACLE = """
WITH fl AS (
  SELECT i, (i % 53 IN (3, 17)) AS undecodable FROM range(2000) t(i)
)
SELECT CAST(count(*) FILTER (WHERE NOT undecodable) AS BIGINT) AS n_ok,
       CAST(count(*) FILTER (WHERE undecodable) AS BIGINT) AS n_err,
       CAST(0 AS BIGINT) AS n_post_violations
FROM fl
"""


# ---------------------------------------------------------------------------
# Training-data pipeline: deterministic sampling / splits, repetition
# quality, decontamination, sequence packing
# ---------------------------------------------------------------------------


def q_det_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split by content hash — stable under
    re-runs, resume, and repartitioning (ops/sample.py). Map-only."""
    docs = _t(spark, sf_dir, "documents")
    return sample_ops.det_split(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select("doc_id", "split")


_DET_SPLIT_ORACLE = """
SELECT doc_id,
       CASE WHEN (('0x' || substr(md5('split' || doc_id::VARCHAR), 1, 15))::BIGINT
                  % 1000000) < 100000 THEN 'test'
            WHEN (('0x' || substr(md5('split' || doc_id::VARCHAR), 1, 15))::BIGINT
                  % 1000000) < 900000 THEN 'train'
            ELSE 'val' END AS split
FROM documents
"""


def q_leakage_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split (ops/sample.py
    leakage_safe_split): near-dup clusters (LSH → exact verify ≥ 0.8 →
    connected components) hash on their canonical min id, so no cluster
    straddles splits; unpaired docs hash on their own id. Oracle:
    recursive-CTE closure → canonical id → the same md5 bucket CASE."""
    from smcchecker_spark.session import physical_parallelism

    docs = _docs_with_planted_dups(spark, sf_dir)
    pairs = dedup.ngram_jaccard_dedup(
        docs,
        "doc_id",
        "text",
        threshold=0.8,
        num_hashes=32,
        bands=16,
        min_parallelism=physical_parallelism(),
    ).select("id_a", "id_b")
    return sample_ops.leakage_safe_split(
        docs, "doc_id", pairs, {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select("doc_id", "split")


_LEAKAGE_SPLIT_ORACLE = r"""
WITH RECURSIVE u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
),
tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM u
       WHERE trim(coalesce(text, '')) <> ''),
sh AS (SELECT doc_id,
          list_distinct([array_to_string(t[i+1:i+3], ' ')
                         for i in range(0, greatest(len(t)-3, 0)+1)]) AS s
       FROM tk),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        greatest(len(list_distinct(list_concat(a.s, b.s))), 1) >= 0.8),
sym AS (SELECT id_a AS a, id_b AS b FROM p
        UNION SELECT id_b, id_a FROM p),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a
),
comp AS (SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a),
canon AS (
  SELECT u.doc_id, coalesce(comp.component, u.doc_id) AS c
  FROM u LEFT JOIN comp ON u.doc_id = comp.id
)
SELECT doc_id,
       CASE WHEN (('0x' || substr(md5('split' || c::VARCHAR), 1, 15))::BIGINT
                  % 1000000) < 100000 THEN 'test'
            WHEN (('0x' || substr(md5('split' || c::VARCHAR), 1, 15))::BIGINT
                  % 1000000) < 900000 THEN 'train'
            ELSE 'val' END AS split
FROM canon
"""


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: overlapping 40-token windows stepping
    every 32 tokens (ops/text.py chunk_documents) — map-only 1→k
    explode, pure Column HOFs, no Python stage, no shuffle."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.chunk_documents(
        docs, "doc_id", chunk_tokens=40, overlap_tokens=8
    )


_CHUNK_ORACLE = """
WITH t AS (
  SELECT doc_id,
         CASE WHEN text IS NULL OR trim(text) = '' THEN []::VARCHAR[]
              ELSE string_split_regex(trim(text), '\\s+') END AS toks
  FROM documents
), c AS (
  SELECT doc_id, toks,
         GREATEST(CAST(CEIL(GREATEST(len(toks) - 8, 0) / 32.0) AS INT), 1)
           AS n_chunks
  FROM t WHERE len(toks) > 0
)
SELECT doc_id,
       CAST(s AS INT) AS chunk_id,
       array_to_string(toks[s*32+1 : s*32+40], ' ') AS chunk_text,
       CAST(len(toks[s*32+1 : s*32+40]) AS INT) AS chunk_tokens
FROM c, UNNEST(range(0, c.n_chunks)) AS g(s)
"""


def q_cap_per_source_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain balancing: at most 10 documents per source, selected by
    the deterministic (hash_bucket, id) order; small sources pass
    wholesale without a sort (ops/sample.py cap_per_key)."""
    docs = _t(spark, sf_dir, "documents")
    return sample_ops.cap_per_key(docs, "doc_id", "source", cap=10).select(
        "doc_id", "source"
    )


_CAP_PER_KEY_ORACLE = """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY (('0x' || substr(md5('cap' || doc_id::VARCHAR), 1, 15))::BIGINT
                     % 1000000), doc_id
         ) AS rn
  FROM documents
) t WHERE rn <= 10
"""


def q_mix_budget_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix sampling: per-language deterministic sample sized so
    each language contributes ~share×budget characters (ops/sample.py
    budget_mix_sample: one tiny groupBy + a map-only filter)."""
    docs = _t(spark, sf_dir, "documents")
    return sample_ops.budget_mix_sample(
        docs,
        "doc_id",
        "lang",
        "n_chars",
        {"en": 0.5, "de": 0.2, "fr": 0.2, "zh": 0.1},
        budget=30000.0,
    )


_MIX_BUDGET_ORACLE = """
WITH totals AS (SELECT lang, sum(n_chars) AS t FROM documents GROUP BY 1),
shares(lang, share) AS (VALUES ('en', 0.5), ('de', 0.2), ('fr', 0.2), ('zh', 0.1)),
fr AS (SELECT lang, least(1.0, (share * 30000.0) / t) AS f
       FROM totals JOIN shares USING (lang))
SELECT d.* FROM documents d LEFT JOIN fr USING (lang)
WHERE (('0x' || substr(md5('mix' || doc_id::VARCHAR), 1, 15))::BIGINT % 1000000)
      < coalesce(CAST(trunc(f * 1000000) AS BIGINT), 0)
"""


def q_repetition_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-doc repetition metrics, one fused projection
    (ops/text.py repetition_features): dup-word / dup-bigram fractions
    and top-word share."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return text_ops.repetition_features(docs).drop("text")


_REPETITION_ORACLE = r"""
WITH tkarr AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
  FROM documents WHERE trim(coalesce(text, '')) <> ''
),
wc AS (
  SELECT doc_id, sum(cnt) AS n, count(*) AS nd, max(cnt) AS top
  FROM (SELECT doc_id, w, count(*) AS cnt
        FROM (SELECT doc_id, unnest(t) AS w FROM tkarr) GROUP BY 1, 2)
  GROUP BY 1
),
bgc AS (
  SELECT doc_id, sum(cnt) AS n, count(*) AS nd
  FROM (SELECT doc_id, g, count(*) AS cnt
        FROM (SELECT doc_id,
                     unnest([array_to_string(t[i+1:i+2], ' ')
                             for i in range(0, greatest(len(t)-2, 0)+1)]) AS g
              FROM tkarr) GROUP BY 1, 2)
  GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(wc.n, 0) AS INT) AS n_tokens,
       round(coalesce((wc.n - wc.nd) / greatest(wc.n, 1), 0), 6) AS dup_word_frac,
       round(coalesce((bgc.n - bgc.nd) / greatest(bgc.n, 1), 0), 6) AS dup_bigram_frac,
       round(coalesce(wc.top / greatest(wc.n, 1), 0), 6) AS top_word_frac
FROM documents d
LEFT JOIN wc ON d.doc_id = wc.doc_id
LEFT JOIN bgc ON d.doc_id = bgc.doc_id
"""


def _bench_docs(docs: DataFrame) -> DataFrame:
    """Deterministic stand-in benchmark/eval set: every 13th document."""
    return docs.filter(F.col("doc_id") % 13 == 0)


def q_contamination_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination scores: per-doc word-3-shingle overlap
    against the benchmark set (ops/contamination.py — one corpus scan,
    broadcast benchmark shingles)."""
    docs = _t(spark, sf_dir, "documents")
    return contamination.shingle_overlap(docs, _bench_docs(docs), "doc_id")


_CONTAMINATION_ORACLE = r"""
WITH tk AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
  FROM documents WHERE trim(coalesce(text, '')) <> ''
),
sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(t[i+1:i+3], ' ')
                        for i in range(0, greatest(len(t)-3, 0)+1)]) AS s
  FROM tk
),
ex AS (SELECT doc_id, unnest(s) AS s FROM sh),
bsh AS (SELECT DISTINCT s FROM ex WHERE doc_id % 13 = 0 AND s <> ''),
hits AS (SELECT ex.doc_id, count(*) AS n FROM ex JOIN bsh USING (s) GROUP BY 1),
base AS (
  SELECT d.doc_id, coalesce(len(sh.s), 1) AS n_shingles
  FROM documents d LEFT JOIN sh ON d.doc_id = sh.doc_id
)
SELECT base.doc_id AS id,
       CAST(n_shingles AS INT) AS n_shingles,
       CAST(coalesce(hits.n, 0) AS INT) AS n_hits,
       round(coalesce(hits.n, 0) / greatest(n_shingles, 1), 6) AS overlap
FROM base LEFT JOIN hits ON base.doc_id = hits.doc_id
"""


def q_decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end decontamination: corpus minus every doc sharing any
    word-3-shingle with the benchmark set."""
    docs = _t(spark, sf_dir, "documents")
    return contamination.decontaminate(docs, _bench_docs(docs), "doc_id")


_DECONTAMINATE_ORACLE = r"""
WITH tk AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
  FROM documents WHERE trim(coalesce(text, '')) <> ''
),
ex AS (
  SELECT doc_id,
         unnest(list_distinct([array_to_string(t[i+1:i+3], ' ')
                               for i in range(0, greatest(len(t)-3, 0)+1)])) AS s
  FROM tk
),
bsh AS (SELECT DISTINCT s FROM ex WHERE doc_id % 13 = 0 AND s <> ''),
bad AS (SELECT DISTINCT ex.doc_id FROM ex JOIN bsh USING (s))
SELECT * FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM bad)
"""


def q_scrub_pii_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (clean.scrub_pii): deterministically plant an email
    / phone / IPv4 into documents, then redact with typed placeholders
    and per-kind counts — one fused map-only projection."""
    docs = _t(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 1,
                F.concat(F.lit(" reach user"), F.col("doc_id").cast("string"),
                         F.lit("@mail.example.com")),
            )
            .when(
                F.col("doc_id") % 7 == 2,
                F.concat(F.lit(" call +1 555-000-"),
                         F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")),
            )
            .when(F.col("doc_id") % 7 == 3, F.lit(" host 10.1.2.3 up"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    return clean.scrub_pii(planted)


_SCRUB_PII_ORACLE = r"""
WITH planted AS (
  SELECT doc_id,
         coalesce(text, '') ||
         CASE WHEN doc_id % 7 = 1
                THEN ' reach user' || doc_id::VARCHAR || '@mail.example.com'
              WHEN doc_id % 7 = 2
                THEN ' call +1 555-000-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
              WHEN doc_id % 7 = 3 THEN ' host 10.1.2.3 up'
              ELSE '' END AS t
  FROM documents
),
s1 AS (SELECT doc_id,
              CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
              regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<email>', 'g') AS t
       FROM planted),
s2 AS (SELECT doc_id, n_email,
              CAST(len(regexp_extract_all(t, '\b(\d{1,3}\.){3}\d{1,3}\b')) AS INT) AS n_ipv4,
              regexp_replace(t, '\b(\d{1,3}\.){3}\d{1,3}\b', '<ipv4>', 'g') AS t
       FROM s1),
s3 AS (SELECT doc_id, n_email, n_ipv4,
              CAST(len(regexp_extract_all(t, '__PHONE__')) AS INT) AS n_phone,
              regexp_replace(t, '__PHONE__', '<phone>', 'g') AS t
       FROM s2)
SELECT doc_id, t AS text, n_email, n_ipv4, n_phone FROM s3
"""
# single-source the phone pattern from the engine (clean.PII_PATTERNS)
_SCRUB_PII_ORACLE = _SCRUB_PII_ORACLE.replace("__PHONE__", clean.PII_PATTERNS["phone"])


def q_pack_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: concatenate-then-chop bin assignment by global
    prefix sum over doc_id order — distributed two-pass prefix sum, no
    single-partition window (ops/pack.py)."""
    docs = _t(spark, sf_dir, "documents")
    return pack.pack_sequences(
        docs, "doc_id", "n_chars", capacity=4096, num_ranges=8
    ).select("doc_id", "bin_id", "bin_offset")


_PACK_ORACLE = """
SELECT doc_id,
       CAST(coalesce(sum(n_chars) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 4096
            AS BIGINT) AS bin_id,
       CAST(coalesce(sum(n_chars) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS bin_offset
FROM documents
"""


def q_shard_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard assembly (ops/shards.py): rows grouped into
    ~8 KiB byte-budget shards in deterministic md5 order — the
    WebDataset-style export layout. Assignment = floor(exclusive
    prefix sum / target) over (md5 key, doc_id) order, computed with
    the shared two-pass distributed prefix sum (no single-partition
    window); the oracle re-derives the md5 key, the order, the running
    byte offsets, and the shard ids verbatim."""
    from smcchecker_spark.ops import shards

    docs = _t(spark, sf_dir, "documents")
    return shards.assign_shards(
        docs, "n_chars", target_bytes=8192, salt="shard",
        offset_col="shard_offset", num_ranges=8,
    ).select("doc_id", "shard_id", "shard_offset")


_SHARD_ORACLE = """
WITH keyed AS (
  SELECT doc_id, n_chars,
         ('0x' || substr(md5('shard' || doc_id::VARCHAR), 1, 15))::UBIGINT
           AS k
  FROM documents
)
SELECT doc_id,
       CAST(coalesce(sum(n_chars) OVER (ORDER BY k, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 8192
            AS BIGINT) AS shard_id,
       CAST(coalesce(sum(n_chars) OVER (ORDER BY k, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS shard_offset
FROM keyed
"""


def q_image_batches_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-ratio bucketing + deterministic training-batch assembly
    (ops/batching.py): nearest-AR bucket via exact integer fixed-point
    argmin (map-only), then per-bucket batch numbering by the two-pass
    distributed prefix count — no per-bucket single-task window. Image
    dims derive deterministically from event_id (64·(1+id%13) ×
    64·(1+(id div 7)%13)); every step — bucket argmin incl. tie rule,
    md5 shuffle key, rank, div/mod — is reproduced verbatim in the
    DuckDB oracle, making the whole operator value-checked."""
    from smcchecker_spark.ops import batching

    ev = _t(spark, sf_dir, "events")
    imgs = ev.select(
        F.col("event_id").alias("image_id"),
        (64 * (1 + F.col("event_id") % 13)).cast("int").alias("w"),
        (64 * (1 + F.expr("event_id div 7") % 13)).cast("int").alias("h"),
    )
    return batching.image_batches(
        imgs, batch_size=64, num_ranges=8
    ).select(
        "image_id", "w", "h", "bucket_id", "bucket_w", "bucket_h",
        "batch_id", "idx_in_batch",
    )


# Bucket list = batching.generate_aspect_buckets() defaults, pinned as
# literals (tests assert the pin); dist = |w/h − bw/bh| in 2^-20 fixed
# point, exact integer arithmetic — identical in both engines.
_IMAGE_BATCHES_ORACLE = """
WITH img AS (
  SELECT event_id AS image_id,
         CAST(64 * (1 + event_id % 13) AS INT) AS w,
         CAST(64 * (1 + (event_id // 7) % 13) AS INT) AS h
  FROM events
),
b(bucket_id, bw, bh) AS (VALUES
  (0,256,832), (1,256,896), (2,256,960), (3,256,1024), (4,320,704),
  (5,320,768), (6,384,640), (7,448,576), (8,512,512), (9,576,448),
  (10,640,384), (11,704,320), (12,768,320), (13,832,256), (14,896,256),
  (15,960,256), (16,1024,256)
),
d AS (
  SELECT image_id, w, h, bucket_id, bw, bh,
         (abs(CAST(w AS BIGINT) * bh - CAST(h AS BIGINT) * bw)
          * 1048576) // bh AS dist,
         row_number() OVER (PARTITION BY image_id
                            ORDER BY (abs(CAST(w AS BIGINT) * bh
                                          - CAST(h AS BIGINT) * bw)
                                      * 1048576) // bh, bucket_id) AS rn
  FROM img CROSS JOIN b
),
keyed AS (
  SELECT image_id, w, h, bucket_id, bw, bh,
         ('0x' || substr(md5('batch' || image_id::VARCHAR), 1, 15))::UBIGINT
           AS k
  FROM d WHERE rn = 1
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY bucket_id
                               ORDER BY k, image_id) - 1 AS idx
  FROM keyed
)
SELECT image_id, w, h, CAST(bucket_id AS INT) AS bucket_id,
       CAST(bw AS INT) AS bucket_w, CAST(bh AS INT) AS bucket_h,
       CAST(idx // 64 AS BIGINT) AS batch_id,
       CAST(idx % 64 AS INT) AS idx_in_batch
FROM ranked
"""


def q_curate_images_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END image+caption curation — the composed flagship for the
    north-rule payload: synthesized image metadata (dims/fmt/caption/
    block-shared phash from event columns) → ENGINE policy gate
    (MinResolution 128x128 + AspectRatioRange [0.5, 2] + fmt Regex, one
    fused compile_suite pass; flagged ids drop via broadcast anti-join)
    → caption requirement → cross-modal flags (boilerplate caption /
    conflicting image, broadcast slivers) → exact-phash dup resolve
    (min-id per shared image) → aspect-ratio-bucketed training-batch
    assembly (distributed prefix count). Every stage is independently
    oracle-checked elsewhere; this value-checks the COMPOSITION."""
    from smcchecker_spark.constraints import Regex
    from smcchecker_spark.image import AspectRatioRange, MinResolution
    from smcchecker_spark.ops import batching, crossmodal

    ev = _t(spark, sf_dir, "events")
    imgs = ev.select(
        F.col("event_id").alias("image_id"),
        (64 * (1 + F.col("event_id") % 13)).cast("int").alias("w"),
        (64 * (1 + F.expr("event_id div 7") % 13)).cast("int").alias("h"),
        F.when(F.col("event_id") % 29 == 0, F.lit("bmp"))
        .when(F.col("event_id") % 3 == 0, F.lit("png"))
        .when(F.col("event_id") % 3 == 1, F.lit("jpeg"))
        .otherwise(F.lit("webp"))
        .alias("fmt"),
        F.col("props").alias("caption"),
        F.expr(_mix_spark("event_id - event_id % 20")).alias("phash"),
    ).withColumn("part_id", (F.col("image_id") % 4).cast("int"))
    suite = Suite(
        name="img_curate",
        table="images",
        constraints=[
            MinResolution("w", min_w=128, min_h=128),
            AspectRatioRange("w", lo=0.5, hi=2.0),
            Regex("fmt", pattern="^(png|jpeg|webp)$"),
        ],
    )
    bad = (
        compile_suite(imgs, suite, row_id_col="image_id")
        .select(F.col("row_id").cast("long").alias("image_id"))
        .distinct()
    )
    ok = imgs.join(F.broadcast(bad), "image_id", "left_anti").filter(
        F.col("caption").isNotNull()
    )
    flags = crossmodal.flag_crossmodal(
        ok, "image_id", max_phashes_per_caption=80, max_captions_per_phash=15
    )
    keep = flags.filter(
        ~F.col("boilerplate_caption") & ~F.col("conflicting_image")
    ).select("image_id")
    ok2 = ok.join(F.broadcast(keep), "image_id", "left_semi")
    w = Window.partitionBy("phash")
    canon = (
        ok2.withColumn("__mn", F.min("image_id").over(w))
        .filter(F.col("image_id") == F.col("__mn"))
        .drop("__mn", "part_id")
    )
    return batching.image_batches(canon, batch_size=32, num_ranges=8).select(
        "image_id", "w", "h", "fmt", "bucket_id", "bucket_w", "bucket_h",
        "batch_id", "idx_in_batch",
    )


_CURATE_IMAGES_ORACLE_RAW = """
WITH img AS (
  SELECT event_id AS image_id,
         CAST(64 * (1 + event_id % 13) AS INT) AS w,
         CAST(64 * (1 + (event_id // 7) % 13) AS INT) AS h,
         CASE WHEN event_id % 29 = 0 THEN 'bmp'
              WHEN event_id % 3 = 0 THEN 'png'
              WHEN event_id % 3 = 1 THEN 'jpeg'
              ELSE 'webp' END AS fmt,
         props AS caption,
         __MIXBLK__ AS phash
  FROM events
),
ok AS (
  SELECT * FROM img
  WHERE NOT (w < 128 OR h < 128)
    AND NOT (w < 0.5 * h OR w > 2.0 * h)
    AND regexp_matches(fmt, '^(png|jpeg|webp)$')
    AND caption IS NOT NULL
),
pair AS (
  SELECT md5(regexp_replace(lower(trim(caption)), '\\s+', ' ', 'g')) AS cfp,
         phash
  FROM ok GROUP BY 1, 2
),
bad_caps AS (SELECT cfp FROM pair GROUP BY cfp HAVING count(*) > 80),
bad_imgs AS (SELECT phash FROM pair GROUP BY phash HAVING count(*) > 15),
ok2 AS (
  SELECT * FROM ok
  WHERE md5(regexp_replace(lower(trim(caption)), '\\s+', ' ', 'g'))
          NOT IN (SELECT cfp FROM bad_caps)
    AND phash NOT IN (SELECT phash FROM bad_imgs)
),
canon AS (
  SELECT * FROM (
    SELECT *, min(image_id) OVER (PARTITION BY phash) AS mn FROM ok2
  ) WHERE image_id = mn
),
b(bucket_id, bw, bh) AS (VALUES
  (0,256,832), (1,256,896), (2,256,960), (3,256,1024), (4,320,704),
  (5,320,768), (6,384,640), (7,448,576), (8,512,512), (9,576,448),
  (10,640,384), (11,704,320), (12,768,320), (13,832,256), (14,896,256),
  (15,960,256), (16,1024,256)
),
d AS (
  SELECT image_id, w, h, fmt, bucket_id, bw, bh,
         row_number() OVER (PARTITION BY image_id
                            ORDER BY (abs(CAST(w AS BIGINT) * bh
                                          - CAST(h AS BIGINT) * bw)
                                      * 1048576) // bh, bucket_id) AS rn
  FROM canon CROSS JOIN b
),
keyed AS (
  SELECT image_id, w, h, fmt, bucket_id, bw, bh,
         ('0x' || substr(md5('batch' || image_id::VARCHAR), 1, 15))::UBIGINT
           AS k
  FROM d WHERE rn = 1
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY bucket_id
                               ORDER BY k, image_id) - 1 AS idx
  FROM keyed
)
SELECT image_id, w, h, fmt, CAST(bucket_id AS INT) AS bucket_id,
       CAST(bw AS INT) AS bucket_w, CAST(bh AS INT) AS bucket_h,
       CAST(idx // 32 AS BIGINT) AS batch_id,
       CAST(idx % 32 AS INT) AS idx_in_batch
FROM ranked
"""
_CURATE_IMAGES_ORACLE = _CURATE_IMAGES_ORACLE_RAW.replace(
    "__MIXBLK__", _mix_duck("event_id - event_id % 20")
)


def q_incremental_phash_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IMAGE near-dup vs a persisted phash chunk-band index
    (ops/incremental.py save_phash_index / incremental_phash_pairs) —
    the image twin of the MinHash probe: the accepted corpus' banded
    fingerprints are stored once; the ingest batch (a 1-bit-perturbed
    1% slice under new ids) probes only the chunk buckets it hashes
    into. Exact recall by pigeonhole (Hamming ≤ 3, 4 chunks); old x old
    never re-pairs. Oracle: brute-force bit_count(xor) over new x all."""
    import tempfile

    from smcchecker_spark.ops import incremental as inc2

    mix = _mix_spark("event_id")
    ev = _t(spark, sf_dir, "events")
    old = ev.select("event_id", F.expr(mix).alias("phash"))
    new = ev.filter("event_id % 101 = 0").select(
        (F.col("event_id") + 1000000).alias("event_id"),
        F.expr(
            f"{mix} ^ shiftleft(1, cast(event_id % 3 as int))"
        ).alias("phash"),
    )
    path = tempfile.mkdtemp(prefix="ph_index_")
    inc2.save_phash_index(old, path, "event_id", "phash", chunks=4, max_hamming=3)
    return inc2.incremental_phash_pairs(new, path, "event_id", "phash")


_INCREMENTAL_PHASH_ORACLE_RAW = """
WITH old AS (SELECT event_id, __MIX__ AS phash FROM events),
new AS (
  SELECT event_id + 1000000 AS event_id,
         xor(__MIX__, (1::BIGINT << CAST(event_id % 3 AS INT))) AS phash
  FROM events WHERE event_id % 101 = 0
),
u AS (SELECT * FROM old UNION ALL SELECT * FROM new),
p AS (
  SELECT a.event_id AS id_a, b.event_id AS id_b,
         bit_count(xor(a.phash, b.phash)) AS hamming
  FROM u a JOIN u b ON a.event_id < b.event_id
  WHERE (a.event_id >= 1000000 OR b.event_id >= 1000000)
)
SELECT id_a, id_b, CAST(hamming AS INT) AS hamming
FROM p WHERE hamming <= 3
"""
_INCREMENTAL_PHASH_ORACLE = _INCREMENTAL_PHASH_ORACLE_RAW.replace(
    "__MIX__", _mix_duck("event_id")
)


def q_image_decontaminate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual benchmark decontamination (contamination.phash_overlap):
    corpus images whose phash lands within 3 bits of ANY benchmark
    image. Benchmark bands broadcast; the corpus makes one map-only
    pass, shuffling nothing but the flagged-id rollup. Derived-
    fingerprint trick (same as phash_neardup_events): a bitwise mix of
    event_id stands in for phash, the benchmark is a 1-bit-perturbed 1%
    slice, and DuckDB brute-forces the same flags; the real-payload path
    is exercised in tests/test_image_policy.py."""
    mix = _mix_spark("event_id")
    ev = _t(spark, sf_dir, "events")
    corpus = ev.select("event_id", F.expr(mix).alias("phash"))
    bench = ev.filter("event_id % 101 = 0").select(
        F.expr(f"{mix} ^ shiftleft(1, cast(event_id % 3 as int))").alias(
            "phash"
        )
    )
    return contamination.phash_overlap(
        corpus, bench, id_col="event_id", max_hamming=3
    )


_IMAGE_DECONTAM_ORACLE = """
WITH c AS (
  SELECT event_id, __MIXID__ AS phash
  FROM events
),
b AS (
  SELECT xor(__MIXID__, 1 << CAST(event_id % 3 AS INT)) AS phash
  FROM events WHERE event_id % 101 = 0
)
SELECT c.event_id,
       CAST(min(bit_count(xor(c.phash, b.phash))) AS INT) AS min_hamming
FROM c JOIN b ON bit_count(xor(c.phash, b.phash)) <= 3
GROUP BY c.event_id
"""
_IMAGE_DECONTAM_ORACLE = _IMAGE_DECONTAM_ORACLE.replace(
    "__MIXID__", _mix_duck("event_id")
)


def q_snapshot_diff_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-revalidation scope (tables.snapshot_diff): partition-
    level content diff between two snapshots of the events table — one
    column-pruned fingerprint scan per snapshot (md5-derived row hash,
    xor/sum/count trio), a |partitions|-row shuffle each, and a tiny
    full-outer join. Perturbations: part 3 loses its event_id%7==0 rows
    (changed), part 5 doubles value (changed), part 11 is dropped
    (removed), part 2 is copied to a new part 16 (added). The DuckDB
    oracle decides the same statuses by EXACT per-partition multiset
    comparison (sorted md5 lists) — a stronger check than the
    fingerprint, so a fingerprint that ever went blind here would
    hash-mismatch."""
    from smcchecker_spark import tables as tbl

    ev = _t(spark, sf_dir, "events").withColumn(
        "part_id", (F.col("event_id") % 16).cast("int")
    )
    part = F.col("part_id")
    cur = (
        ev.filter(~((part == 3) & (F.col("event_id") % 7 == 0)))
        .withColumn(
            "value",
            F.when(part == 5, F.col("value") * 2).otherwise(F.col("value")),
        )
        .filter(part != 11)
        .unionByName(
            ev.filter(part == 2).withColumn("part_id", F.lit(16).cast("int"))
        )
    )
    return tbl.snapshot_diff(cur, ev, "part_id")


_SNAPSHOT_DIFF_ORACLE = """
WITH ev AS (
  SELECT event_id, ts, user_id, event_type, value, props,
         CAST(event_id % 16 AS INT) AS part_id
  FROM events
),
cur AS (
  SELECT event_id, ts, user_id, event_type,
         CASE WHEN part_id = 5 THEN value * 2 ELSE value END AS value,
         props, part_id
  FROM ev
  WHERE NOT (part_id = 3 AND event_id % 7 = 0) AND part_id <> 11
  UNION ALL
  SELECT event_id, ts, user_id, event_type, value, props, CAST(16 AS INT)
  FROM ev WHERE part_id = 2
),
bf AS (
  SELECT part_id AS part, count(*) AS n,
         list_sort(list(md5(concat_ws(chr(31),
           coalesce(event_id::VARCHAR, 'N'), coalesce(ts::VARCHAR, 'N'),
           coalesce(user_id::VARCHAR, 'N'), coalesce(event_type, 'N'),
           coalesce(value::VARCHAR, 'N'), coalesce(props, 'N'))))) AS hs
  FROM ev GROUP BY part_id
),
cf AS (
  SELECT part_id AS part, count(*) AS n,
         list_sort(list(md5(concat_ws(chr(31),
           coalesce(event_id::VARCHAR, 'N'), coalesce(ts::VARCHAR, 'N'),
           coalesce(user_id::VARCHAR, 'N'), coalesce(event_type, 'N'),
           coalesce(value::VARCHAR, 'N'), coalesce(props, 'N'))))) AS hs
  FROM cur GROUP BY part_id
)
SELECT coalesce(cf.part, bf.part) AS part,
       CASE WHEN bf.part IS NULL THEN 'added'
            WHEN cf.part IS NULL THEN 'removed'
            WHEN cf.n <> bf.n OR cf.hs <> bf.hs THEN 'changed'
            ELSE 'unchanged' END AS status,
       coalesce(cf.n, 0) AS n_rows_current,
       coalesce(bf.n, 0) AS n_rows_baseline
FROM cf FULL OUTER JOIN bf ON cf.part = bf.part
"""


def q_audio_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint suite over REAL WAV payloads (smcchecker_spark/
    audio.py AudioConsistent over the from-scratch wavcodec —
    the audio-modality twin of images_validate): planted dup/
    truncation/bitflip/metadata-off/caption violations, per-check
    counts value-checked against the planted-rule oracle."""
    from smcchecker_spark import fixtures
    from smcchecker_spark.audio import AudioConsistent
    from smcchecker_spark.package import ensure_shipped

    ensure_shipped(spark)
    df = fixtures.generate_wav_rows(
        spark, n_rows=500, n_parts=8, seed=13
    ).localCheckpoint()
    suite = Suite(
        name="audio_core",
        table="audio",
        constraints=[
            NotNull("caption"),
            Unique(["audio_id"]),
            AudioConsistent(),
        ],
    )
    v = compile_suite(df, suite, row_id_col="audio_id", part_id_col="part_id")
    return v.select("row_id", "check_name").orderBy("row_id", "check_name")


_AUDIO_VALIDATE_ORACLE = _CODEC_VALIDATE_ORACLE_T.format(
    pre="wav", n=500, consistent="audioconsistent_bytes", idcol="audio_id"
)


def q_video_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint suite over REAL AVI-MJPEG containers
    (smcchecker_spark/video.py VideoConsistent — demux via avicodec,
    first-frame decode via jpegcodec): planted dup/truncation/bitflip/
    metadata-off/caption violations, per-check counts value-checked
    against the planted-rule oracle. Completes the modality triple:
    images_validate / audio_validate / video_validate."""
    from smcchecker_spark import fixtures
    from smcchecker_spark.package import ensure_shipped
    from smcchecker_spark.video import VideoConsistent

    ensure_shipped(spark)
    df = fixtures.generate_avi_rows(
        spark, n_rows=300, n_parts=8, seed=17
    ).localCheckpoint()
    suite = Suite(
        name="video_core",
        table="video",
        constraints=[
            NotNull("caption"),
            Unique(["video_id"]),
            VideoConsistent(),
        ],
    )
    v = compile_suite(df, suite, row_id_col="video_id", part_id_col="part_id")
    return v.select("row_id", "check_name").orderBy("row_id", "check_name")


_VIDEO_VALIDATE_ORACLE = _CODEC_VALIDATE_ORACLE_T.format(
    pre="avi", n=300, consistent="videoconsistent_bytes", idcol="video_id"
)


def q_audio_features_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real audio DSP through the engine (ops/multimodal.py
    audio_features_udf over the from-scratch wavcodec): a deterministic
    pure-tone WAV per sampled event id (f = 200 + (id % 37)·20 Hz, one
    second at 16 kHz — integer cycle counts, so the rfft concentrates
    at exactly bin f and peak_hz == f float-exact). The oracle derives
    (ok, n_samples, sample_rate, duration_s, peak_hz) from the planted
    frequencies with no decode — the Spark side must build the RIFF
    container, decode it back, and run the spectral pass; an encode,
    decode, mixing, or FFT-plumbing regression breaks the value match.
    Float features with engine-specific arithmetic (rms/zcr/centroid)
    are exercised by tests, not hashed here."""
    from smcchecker_spark.package import ensure_shipped
    from smcchecker_spark.ops import multimodal

    ensure_shipped(spark)
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 199 == 0)

    def gen(batches):
        import numpy as np
        import pandas as pd

        from smcchecker_spark import wavcodec

        rate = 16000
        t = np.arange(rate) / rate
        for pdf in batches:
            rows = []
            for i in pdf["event_id"].tolist():
                f = 200 + (int(i) % 37) * 20
                tone = (np.sin(2 * np.pi * f * t) * 28000).astype(np.int16)
                rows.append((int(i), wavcodec.encode_wav(tone, sample_rate=rate)))
            yield pd.DataFrame(rows, columns=["event_id", "bytes"])

    wavs = ev.select("event_id").mapInPandas(
        gen, "event_id bigint, bytes binary"
    )
    out = multimodal.with_audio_features(wavs)
    return out.select(
        "event_id",
        F.col("audio_feat.ok").alias("ok"),
        F.col("audio_feat.n_samples").alias("n_samples"),
        F.col("audio_feat.sample_rate").alias("sample_rate"),
        F.col("audio_feat.duration_s").alias("duration_s"),
        F.col("audio_feat.peak_hz").alias("peak_hz"),
    ).orderBy("event_id")


_AUDIO_FEATURES_ORACLE = """
SELECT event_id,
       TRUE AS ok,
       CAST(16000 AS BIGINT) AS n_samples,
       16000 AS sample_rate,
       CAST(1.0 AS DOUBLE) AS duration_s,
       CAST(200 + (event_id % 37) * 20 AS DOUBLE) AS peak_hz
FROM events
WHERE event_id % 199 = 0
ORDER BY event_id
"""


def q_video_neardup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup end-to-end (ops/multimodal.py video_fingerprint →
    ops/dedup.py hamming_near_dups): deterministic AVI-MJPEG clips per
    sampled event id; every id with (id/199) % 10 == 1 is a LOSSY
    RE-ENCODE (q78 vs q92) of the previous clip, so the planted
    near-dup pairs are index-derivable while the engine must demux
    both containers, JPEG-decode the frames, majority-vote the
    fingerprints, and band-join them. A codec, phash, vote, or pairing
    regression breaks the value match (re-encodes land within a few
    Hamming bits; unrelated 64-bit fingerprints sit ~32 apart)."""
    from smcchecker_spark.package import ensure_shipped
    from smcchecker_spark.ops import dedup, multimodal

    ensure_shipped(spark)
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 199 == 0)

    def gen(batches):
        import numpy as np
        import pandas as pd

        from smcchecker_spark import avicodec, jpegcodec

        for pdf in batches:
            rows = []
            for i in pdf["event_id"].tolist():
                k = int(i) // 199
                src = k - 1 if k % 10 == 1 else k
                rng = np.random.default_rng(4_700_003 + src)
                jpegs = []
                q = 78 if k % 10 == 1 else 92
                for j in range(5):
                    # random LOW-FREQUENCY content (4x4 blocks upsampled
                    # 8x): phash-distinct across sources — a brightness-
                    # shifted gradient is NOT (DCT AC signs ignore
                    # constant offsets) — and robust under the q78
                    # re-encode, so planted pairs stay within the
                    # Hamming gate while unrelated clips sit ~32 apart
                    base = rng.integers(0, 256, (4, 4, 3), dtype=np.uint8)
                    fr = np.repeat(np.repeat(base, 8, 0), 8, 1)
                    jpegs.append(jpegcodec.encode_jpeg(fr, quality=q))
                rows.append(
                    (str(int(i)), avicodec.encode_avi_mjpeg(jpegs, 32, 32))
                )
            yield pd.DataFrame(rows, columns=["video_id", "video_bytes"])

    vids = ev.select("event_id").mapInPandas(
        gen, "video_id string, video_bytes binary"
    )
    # materialize once: the banded pairing consumes the fingerprints
    # from several branches, which would otherwise each re-run the
    # clip-generation + demux + decode UDF chain
    fp = (
        multimodal.video_fingerprint(vids, every_n=1)
        .filter("ok")
        .select("video_id", "video_phash")
        .localCheckpoint()
    )
    pairs = dedup.hamming_near_dups(
        fp, id_col="video_id", hash_col="video_phash",
        max_hamming=6, chunks=8,
    )
    a = F.col("id_a").cast("long")
    b = F.col("id_b").cast("long")
    # the pairing orders STRING ids; normalize to numeric (lo, hi)
    return pairs.select(
        F.least(a, b).alias("id_a"), F.greatest(a, b).alias("id_b")
    ).orderBy("id_a", "id_b")


_VIDEO_NEARDUP_ORACLE = """
WITH sampled AS (
  SELECT event_id, event_id // 199 AS k FROM events WHERE event_id % 199 = 0
)
SELECT CAST(least(a.event_id, b.event_id) AS BIGINT) AS id_a,
       CAST(greatest(a.event_id, b.event_id) AS BIGINT) AS id_b
FROM sampled a JOIN sampled b ON a.k % 10 = 1 AND b.k = a.k - 1
ORDER BY id_a, id_b
"""


def q_crossmodal_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal pair curation (ops/crossmodal.py): per-row
    boilerplate-caption / conflicting-image flags over an image+caption
    stand-in — props as the caption, a block-shared derived phash
    (event_id - event_id % 20 mixed) so 20 rows share each "image".
    ONE corpus scan feeds a (caption_fp, phash) pair agg that both
    rollups aggregate; flags attach through two broadcast joins of the
    flagged slivers (no corpus shuffle on the attach)."""
    from smcchecker_spark.ops import crossmodal

    ev = _t(spark, sf_dir, "events")
    df = ev.select(
        "event_id",
        F.col("props").alias("caption"),
        F.expr(_mix_spark("event_id - event_id % 20")).alias("phash"),
    )
    return crossmodal.flag_crossmodal(
        df, "event_id",
        max_phashes_per_caption=80, max_captions_per_phash=15,
    )


_CROSSMODAL_ORACLE = """
WITH d AS (
  SELECT event_id, props AS caption, __MIXBLK__ AS phash
  FROM events WHERE props IS NOT NULL
),
pair AS (
  SELECT md5(regexp_replace(lower(trim(caption)), '\\s+', ' ', 'g')) AS cfp,
         phash
  FROM d GROUP BY 1, 2
),
bad_caps AS (SELECT cfp FROM pair GROUP BY cfp HAVING count(*) > 80),
bad_imgs AS (SELECT phash FROM pair GROUP BY phash HAVING count(*) > 15)
SELECT d.event_id,
       md5(regexp_replace(lower(trim(d.caption)), '\\s+', ' ', 'g'))
         IN (SELECT cfp FROM bad_caps) AS boilerplate_caption,
       d.phash IN (SELECT phash FROM bad_imgs) AS conflicting_image
FROM d
"""
_CROSSMODAL_ORACLE = _CROSSMODAL_ORACLE.replace(
    "__MIXBLK__", _mix_duck("event_id - event_id % 20")
)


def q_cat_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical drift (stats.categorical_drift): per-value PSI +
    Jensen–Shannon terms between the odd-id slice (with ~9% of rows
    remapped to a brand-new 'burst' category — the JS-bounded case
    where PSI explodes) and the even-id baseline. One value count per
    side, full-outer value join, 1-row broadcast totals."""
    ev = _t(spark, sf_dir, "events")
    cur = ev.filter(F.col("event_id") % 2 == 1).select(
        F.when(F.col("event_id") % 11 == 0, F.lit("burst"))
        .otherwise(F.col("event_type"))
        .alias("event_type")
    )
    base = ev.filter(F.col("event_id") % 2 == 0).select("event_type")
    return stats.categorical_drift(cur, base, "event_type")


_CAT_DRIFT_ORACLE = """
WITH c AS (
  SELECT coalesce(CASE WHEN event_id % 11 = 0 THEN 'burst'
                       ELSE event_type END, 'NULL') AS value,
         count(*) AS n
  FROM events WHERE event_id % 2 = 1 GROUP BY 1
),
b AS (
  SELECT coalesce(event_type, 'NULL') AS value, count(*) AS n
  FROM events WHERE event_id % 2 = 0 GROUP BY 1
),
ct AS (SELECT coalesce(sum(n), 0) AS t FROM c),
bt AS (SELECT coalesce(sum(n), 0) AS t FROM b),
j AS (
  SELECT value, coalesce(c.n, 0) AS cn, coalesce(b.n, 0) AS bn
  FROM c FULL OUTER JOIN b USING (value)
),
pq AS (
  SELECT value,
         cn / CAST(greatest(ct.t, 1) AS DOUBLE) + 1e-6 AS p,
         bn / CAST(greatest(bt.t, 1) AS DOUBLE) + 1e-6 AS q
  FROM j, ct, bt
)
SELECT value, round(p, 9) AS p, round(q, 9) AS q,
       round((p - q) * ln(p / q), 9) AS psi_term,
       round((p * ln(2 * p / (p + q)) + q * ln(2 * q / (p + q))) / 2, 9)
         AS js_term
FROM pq
"""


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-column drift (stats.embedding_drift): centroid cosine
    distance + mean-norm shift between a planted-drift snapshot (element
    0 shifted +0.2 on odd vec_ids — an encoder-skew stand-in) and the
    original. One aggregate pass per snapshot; the 64 per-dim avg
    aggregates map-side combine like any agg."""
    emb = _t(spark, sf_dir, "embeddings")
    c = F.col("embedding")
    cur = emb.select(
        F.when(
            F.col("vec_id") % 2 == 1,
            F.concat(
                F.array(c[0] + F.lit(0.2).cast("float")),
                F.slice(c, 2, 63),
            ),
        )
        .otherwise(c)
        .alias("embedding"),
    )
    out = stats.embedding_drift(cur, emb, dim=64)
    return out.select(
        F.round("mean_cosine_distance", 6).alias("mean_cosine_distance"),
        F.round("norm_shift", 6).alias("norm_shift"),
    )


_EDRIFT_D = 64
_EDRIFT_NORM = (
    "avg(sqrt(coalesce(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*x)), 0.0)))"
)
_EMBEDDING_DRIFT_ORACLE = f"""
WITH cur AS (
  SELECT CASE WHEN vec_id % 2 = 1
              THEN list_concat([embedding[1] + CAST(0.2 AS FLOAT)], embedding[2:])
              ELSE embedding END AS embedding
  FROM embeddings
),
a AS (SELECT {", ".join(f"avg(CAST(embedding[{i+1}] AS DOUBLE)) AS a{i}" for i in range(_EDRIFT_D))},
             {_EDRIFT_NORM} AS norm_a FROM cur),
b AS (SELECT {", ".join(f"avg(CAST(embedding[{i+1}] AS DOUBLE)) AS b{i}" for i in range(_EDRIFT_D))},
             {_EDRIFT_NORM} AS norm_b FROM embeddings)
SELECT round(1 - ({" + ".join(f"a{i}*b{i}" for i in range(_EDRIFT_D))})
             / (sqrt({" + ".join(f"a{i}*a{i}" for i in range(_EDRIFT_D))})
                * sqrt({" + ".join(f"b{i}*b{i}" for i in range(_EDRIFT_D))})), 6)
           AS mean_cosine_distance,
       round(norm_a - norm_b, 6) AS norm_shift
FROM a, b
"""


def q_except_intersect_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set-ops: EXCEPT ALL and INTERSECT ALL between two
    overlapping doc-id multisets (duplicates planted on one side so the
    ALL semantics — per-occurrence, not per-value — are exercised)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    a = docs.filter(F.col("doc_id") % 3 != 0)
    a = a.unionByName(a.filter(F.col("doc_id") % 5 == 1))  # planted dups
    b = docs.filter(F.col("doc_id") % 2 != 0)
    return (
        a.exceptAll(b).withColumn("op", F.lit("except"))
        .unionByName(a.intersectAll(b).withColumn("op", F.lit("intersect")))
    )


_EXCEPT_INTERSECT_ORACLE = """
WITH a AS (
  SELECT doc_id FROM documents WHERE doc_id % 3 <> 0
  UNION ALL
  SELECT doc_id FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 5 = 1
),
b AS (SELECT doc_id FROM documents WHERE doc_id % 2 <> 0)
SELECT doc_id, 'except' AS op FROM (SELECT doc_id FROM a EXCEPT ALL SELECT doc_id FROM b)
UNION ALL
SELECT doc_id, 'intersect' FROM (SELECT doc_id FROM a INTERSECT ALL SELECT doc_id FROM b)
"""


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_dataset_card_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus datasheet (ops/report.py dataset_card): size, composition,
    exact-dup rate, token budget — every metric from ONE aggregation
    over the planted-dups corpus, all exact and SQL-reproducible."""
    from smcchecker_spark.ops import report

    return report.dataset_card(_docs_with_planted_dups(spark, sf_dir))


_DATASET_CARD_ORACLE = r"""
WITH u AS (
  SELECT * FROM documents
  UNION ALL
  SELECT doc_id + 100000, text, lang, source, n_chars
  FROM documents WHERE doc_id % 10 = 0
),
m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         CAST(COUNT(DISTINCT source) AS DOUBLE) AS n_sources,
         CAST(COUNT(DISTINCT lang) AS DOUBLE) AS n_langs,
         CAST(SUM(CASE WHEN trim(coalesce(text,'')) = '' THEN 1 ELSE 0 END)
              AS DOUBLE) AS n_empty,
         COUNT(CASE WHEN trim(coalesce(text,'')) <> '' THEN 1 END) AS n_ne,
         COUNT(DISTINCT CASE WHEN trim(coalesce(text,'')) <> '' THEN
           md5(lower(trim(regexp_replace(coalesce(text,''), '\s+', ' ', 'g'))))
         END) AS n_fp,
         CAST(SUM(CASE WHEN trim(coalesce(text,'')) = '' THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END)
              AS DOUBLE) AS total_tokens,
         CAST(ROUND(AVG(CASE WHEN trim(coalesce(text,'')) = '' THEN 0
                        ELSE len(string_split_regex(trim(text), '\s+')) END), 6)
              AS DOUBLE) AS mean_tokens,
         CAST(ROUND(AVG(len(coalesce(text,''))), 6) AS DOUBLE) AS mean_chars
  FROM u
)
SELECT t.u['metric'] AS metric, t.u['value'] AS value FROM m, UNNEST([
  {'metric': 'n_docs',         'value': m.n_docs},
  {'metric': 'n_sources',      'value': m.n_sources},
  {'metric': 'n_langs',        'value': m.n_langs},
  {'metric': 'n_empty',        'value': m.n_empty},
  {'metric': 'exact_dup_rate', 'value': CAST(ROUND((m.n_ne - m.n_fp) /
                                        GREATEST(m.n_ne, 1), 6) AS DOUBLE)},
  {'metric': 'total_tokens',   'value': m.total_tokens},
  {'metric': 'mean_tokens',    'value': m.mean_tokens},
  {'metric': 'mean_chars',     'value': m.mean_chars}
]) AS t(u)
"""


def q_pivot_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event counts as columns — groupBy().pivot() with
    an EXPLICIT value list (deterministic schema, and Spark skips the
    extra distinct-values scan a bare pivot needs)."""
    ev = _t(spark, sf_dir, "events")
    out = ev.groupBy("user_id").pivot("event_type", _EVENT_TYPES).count()
    return out.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}")
                     for t in _EVENT_TYPES]
    )


_PIVOT_ORACLE = """
SELECT user_id,
       COUNT(*) FILTER (event_type = 'click')    AS n_click,
       COUNT(*) FILTER (event_type = 'error')    AS n_error,
       COUNT(*) FILTER (event_type = 'purchase') AS n_purchase,
       COUNT(*) FILTER (event_type = 'signup')   AS n_signup,
       COUNT(*) FILTER (event_type = 'view')     AS n_view
FROM events GROUP BY user_id
"""


def q_unpivot_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt: three numeric lineitem measures to long form
    (order, measure, value) — DataFrame.unpivot (Spark's melt), the
    shape column-stats and drift pipelines consume."""
    li = _t(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure", "value",
    )


_UNPIVOT_ORACLE = """
SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
       l_quantity AS value FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
"""


def q_dedup_resolve_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup resolution: same LSH→verify→components
    pipeline as dedup_resolve_docs, but the kept row per cluster is the
    argmax of a quality column (synthetic qual = doc_id % 97; ties →
    min id) instead of the smallest id — resolve_duplicates(keep_by=…).
    The winner window runs over cluster members only."""
    from smcchecker_spark.session import physical_parallelism

    docs = _docs_with_planted_dups(spark, sf_dir).withColumn(
        "qual", (F.col("doc_id") % 97).cast("long")
    )
    pairs = dedup.ngram_jaccard_dedup(
        docs, "doc_id", "text", threshold=0.8, num_hashes=32, bands=16,
        min_parallelism=physical_parallelism(),
    )
    return dedup.resolve_duplicates(
        docs, pairs, "doc_id", keep_by="qual"
    ).select("doc_id")


# same transitive-closure components as _DEDUP_RESOLVE_ORACLE; winner =
# argmax(doc_id % 97), tie min doc_id
_DEDUP_RESOLVE_QUALITY_ORACLE = r"""
WITH RECURSIVE u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
),
tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM u
       WHERE trim(coalesce(text, '')) <> ''),
sh AS (SELECT doc_id,
          list_distinct([array_to_string(t[i+1:i+3], ' ')
                         for i in range(0, greatest(len(t)-3, 0)+1)]) AS s
       FROM tk),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        greatest(len(list_distinct(list_concat(a.s, b.s))), 1) >= 0.8),
sym AS (SELECT id_a AS a, id_b AS b FROM p
        UNION SELECT id_b, id_a FROM p),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a
),
comp AS (SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a),
win AS (
  SELECT id FROM (
    SELECT c.id, ROW_NUMBER() OVER (
      PARTITION BY c.component ORDER BY (c.id % 97) DESC, c.id
    ) AS rn
    FROM comp c
  ) t WHERE rn = 1
)
SELECT u.doc_id FROM u LEFT JOIN comp c ON u.doc_id = c.id
WHERE c.id IS NULL OR u.doc_id IN (SELECT id FROM win)
"""


def q_skew_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salt-replicated equi-join (skew.replicated_skew_join): every
    event joins its type's average — event_type has ~5 values over 10k+
    rows, the all-hot-keys shape; results are bit-identical to the
    plain join, so the SQL oracle is exact."""
    from smcchecker_spark import skew

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    dim = ev.groupBy("event_type").agg(
        F.round(F.avg("value"), 6).alias("avg_value")
    )
    out = skew.replicated_skew_join(
        ev, dim, "event_type", "event_id", salt_buckets=8
    )
    return out.select(
        "event_id", "event_type",
        (F.col("value") > F.col("avg_value")).alias("above_avg"),
    )


_SKEW_JOIN_ORACLE = """
SELECT e.event_id, e.event_type, e.value > d.avg_value AS above_avg
FROM events e
JOIN (SELECT event_type, ROUND(AVG(value), 6) AS avg_value
      FROM events GROUP BY event_type) d
  ON e.event_type = d.event_type
"""


def q_row_diff_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CDC between two deterministic snapshot views of events
    (tables.row_diff): keys + one xxhash64 per row move through the
    full-outer join — payloads never shuffle."""
    from smcchecker_spark import tables as tbl

    ev = _t(spark, sf_dir, "events")
    old = ev.filter(F.col("event_id") % 5 != 0)
    new = ev.filter(F.col("event_id") % 3 != 0).withColumn(
        "value",
        F.when(F.col("event_id") % 7 == 0, F.col("value") + 1).otherwise(
            F.col("value")
        ),
    )
    return tbl.row_diff(old, new, ["event_id"])


_ROW_DIFF_ORACLE = """
WITH o AS (SELECT * FROM events WHERE event_id % 5 <> 0),
     n AS (SELECT event_id,
                  CASE WHEN event_id % 7 = 0 THEN value + 1 ELSE value END AS value
           FROM events WHERE event_id % 3 <> 0)
SELECT COALESCE(o.event_id, n.event_id) AS event_id,
       CASE WHEN o.event_id IS NULL THEN 'insert'
            WHEN n.event_id IS NULL THEN 'delete'
            ELSE 'update' END AS change
FROM o FULL OUTER JOIN n ON o.event_id = n.event_id
WHERE o.event_id IS NULL OR n.event_id IS NULL
   OR o.value IS DISTINCT FROM n.value
"""


def q_topk_per_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe exact top-k per key (ops/topk.py): top-3 events per
    user by value — map-side candidate reduction, then the window ranks
    only k×partitions candidates per key."""
    from smcchecker_spark.ops.topk import topk_per_key

    ev = _t(spark, sf_dir, "events")
    return topk_per_key(
        ev.select("event_id", "user_id", "value"), "user_id", "value",
        "event_id", k=3,
    )


_TOPK_PER_KEY_ORACLE = """
SELECT event_id, user_id, value, rank FROM (
  SELECT event_id, user_id, value,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY user_id
           ORDER BY value DESC NULLS LAST, event_id
         ) AS INT) AS rank
  FROM events
) t WHERE rank <= 3
"""


def q_expectations_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-level expectations (stats.check_expectations): seven bounds (incl. a p95 percentile)
    evaluated in ONE aggregation over one scan — the snapshot-quality
    gate that complements the row-level suite."""
    li = _t(spark, sf_dir, "lineitem")
    return stats.check_expectations(
        li,
        [
            stats.Expectation("row_count", lo=1000),
            stats.Expectation("null_rate", "l_quantity", hi=0.5),
            stats.Expectation("ndv", "l_returnflag", lo=2, hi=3),
            stats.Expectation("min", "l_discount", lo=0.0),
            stats.Expectation("max", "l_tax", hi=0.05),
            stats.Expectation("mean", "l_quantity", lo=20.0, hi=30.0),
            stats.Expectation("p95", "l_extendedprice", hi=90000.0),
        ],
    )


_EXPECTATIONS_ORACLE = """
WITH a AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS row_count,
         CAST(AVG(CASE WHEN l_quantity IS NULL THEN 1.0 ELSE 0.0 END) AS DOUBLE)
           AS nr_quantity,
         CAST(COUNT(DISTINCT l_returnflag) AS DOUBLE) AS ndv_flag,
         CAST(MIN(l_discount) AS DOUBLE) AS min_disc,
         CAST(MAX(l_tax) AS DOUBLE) AS max_tax,
         CAST(AVG(l_quantity) AS DOUBLE) AS mean_qty,
         CAST(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.95) AS DOUBLE)
           AS p95_price
  FROM lineitem
)
SELECT u.check, u.value, u.lo, u.hi,
       COALESCE((u.lo IS NULL OR u.value >= u.lo)
                AND (u.hi IS NULL OR u.value <= u.hi), FALSE) AS ok
FROM a, UNNEST([
  {'check': 'row_count',            'value': a.row_count,  'lo': 1000.0, 'hi': NULL},
  {'check': 'null_rate(l_quantity)','value': a.nr_quantity,'lo': NULL,   'hi': 0.5},
  {'check': 'ndv(l_returnflag)',    'value': a.ndv_flag,   'lo': 2.0,    'hi': 3.0},
  {'check': 'min(l_discount)',      'value': a.min_disc,   'lo': 0.0,    'hi': NULL},
  {'check': 'max(l_tax)',           'value': a.max_tax,    'lo': NULL,   'hi': 0.05},
  {'check': 'mean(l_quantity)',     'value': a.mean_qty,   'lo': 20.0,   'hi': 30.0},
  {'check': 'p95(l_extendedprice)', 'value': a.p95_price,  'lo': NULL,   'hi': 90000.0}
]) AS t(u)
"""


def q_weighted_sample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted without-replacement sampling per key (A-Res priorities
    over the md5 uniform; ops/sample.py weighted_sample_per_key):
    20 events per type, selection mass proportional to value. The
    quantized priority makes the order engine-portable, so the SQL
    oracle reproduces the exact selection."""
    ev = _t(spark, sf_dir, "events")
    return sample_ops.weighted_sample_per_key(
        ev, "event_id", "event_type", "value", k=20
    ).select("event_id", "event_type")


_WEIGHTED_SAMPLE_ORACLE = """
SELECT event_id, event_type FROM (
  SELECT event_id, event_type,
         ROW_NUMBER() OVER (
           PARTITION BY event_type
           ORDER BY ROUND(
             LN((((('0x' || substr(md5('wsample' || event_id::VARCHAR), 1, 15))::BIGINT
                   % 1000000) + 0.5) / 1000000.0)) / value, 9) DESC,
             event_id
         ) AS rn
  FROM events WHERE value IS NOT NULL AND value > 0
) t WHERE rn <= 20
"""


def q_corpus_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level corpus report in ONE pass: per-(source, lang),
    per-source, and grand-total doc counts / char totals via rollup —
    Spark expands the grouping sets inside a single aggregation (one
    scan, partial aggs per level), vs three separate groupBy jobs."""
    docs = _t(spark, sf_dir, "documents")
    return docs.rollup("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


_CORPUS_ROLLUP_ORACLE = """
SELECT source, lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY ROLLUP(source, lang)
"""


def q_bloom_anti_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered anti-join (ops/bloom.py): events from users who
    never signed up. The bloom splits the corpus map-side; only the
    maybe-sliver reaches the exact join — and the result is
    bit-identical to the plain anti-join, so the SQL oracle is exact."""
    from smcchecker_spark.ops import bloom as bloom_ops

    ev = _t(spark, sf_dir, "events")
    signups = ev.filter(F.col("event_type") == "signup").select("user_id")
    return bloom_ops.prefilter_anti_join(
        ev.select("event_id", "user_id"), "user_id", signups, num_bits=1 << 14
    )


_BLOOM_ANTI_ORACLE = """
SELECT event_id, user_id FROM events e
WHERE NOT EXISTS (SELECT 1 FROM events s
                  WHERE s.event_type = 'signup' AND s.user_id = e.user_id)
"""


def q_zorder_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton z-values over two quantized dimensions (ops/layout.py) —
    the clustering key behind multi-dimensional file pruning. Pure
    codegen'd bit math; the oracle reproduces the interleave with
    integer division/modulo arithmetic."""
    from smcchecker_spark.ops import layout

    ev = _t(spark, sf_dir, "events")
    x = F.col("user_id") % 256
    y = F.col("event_id") % 256
    return ev.select("event_id", layout.zvalue([x, y], bits=8).alias("zval"))


# bit b of col j lands at output bit 2b+j — same formula as ops/layout.py
_ZORDER_ORACLE = "SELECT event_id, CAST(" + " + ".join(
    term
    for b in range(8)
    for term in (
        f"(((user_id % 256) // {1 << b}) % 2) * {1 << (2 * b)}",
        f"(((event_id % 256) // {1 << b}) % 2) * {1 << (2 * b + 1)}",
    )
) + " AS BIGINT) AS zval FROM events"


def q_asof_purchase_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time feature attachment: for every click, the user's
    most recent purchase at-or-before it (ops/asof.py — one shuffle on
    user_id, union-stream + carry-forward window, no range join). The
    right side is pre-aggregated to unique (user_id, ts) so the match is
    unambiguous and the DuckDB ASOF LEFT JOIN oracle is exact."""
    ev = _t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    right = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    return asof_ops.asof_join(left, right, "user_id", left_ts="ts").select(
        "event_id", "user_id", "asof_ts", "asof_purchase_value"
    )


def q_asof_next_purchase_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: for every click, the user's NEXT purchase
    at-or-after it (direction='forward' — strictly-after first-carry
    over the same single sort). Oracle: DuckDB ASOF LEFT JOIN with the
    inequality flipped (l.ts <= r.ts)."""
    ev = _t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    right = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    return asof_ops.asof_join(
        left, right, "user_id", left_ts="ts", direction="forward"
    ).select("event_id", "user_id", "asof_ts", "asof_purchase_value")


_ASOF_FORWARD_ORACLE = """
SELECT l.event_id, l.user_id, r.ts AS asof_ts,
       r.purchase_value AS asof_purchase_value
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') l
ASOF LEFT JOIN (SELECT user_id, ts, MAX(value) AS purchase_value
                FROM events WHERE event_type = 'purchase' GROUP BY 1, 2) r
  ON l.user_id = r.user_id AND l.ts <= r.ts
"""


_ASOF_ORACLE = """
SELECT l.event_id, l.user_id, r.ts AS asof_ts,
       r.purchase_value AS asof_purchase_value
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') l
ASOF LEFT JOIN (SELECT user_id, ts, MAX(value) AS purchase_value
                FROM events WHERE event_type = 'purchase' GROUP BY 1, 2) r
  ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the events stream (ops/sessions.py):
    per-user sessions split on >30-minute silence, rolled up to
    (user, session) stats. ONE shuffle — the rollup reuses the window's
    user partitioning. Microsecond-integer timestamps keep both engines
    exact; ties broken by event_id."""
    ev = _t(spark, sf_dir, "events")
    return sessions.session_stats(
        ev,
        key_col="user_id",
        ts_col="ts",
        gap_seconds=1800,
        tiebreak_col="event_id",
        agg_cols={"value": "sum"},
    ).select(
        "user_id",
        "session_seq",
        "n_events",
        "start_us",
        "end_us",
        "duration_us",
        F.round("sum_value", 6).alias("sum_value"),
    )


_SESSIONIZE_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events
),
lagged AS (
  SELECT *,
         CASE WHEN lag(ts_us) OVER w IS NULL
                   OR ts_us - lag(ts_us) OVER w > 1800 * 1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
),
sess AS (
  SELECT *,
         CAST(sum(new_sess) OVER (PARTITION BY user_id
                                  ORDER BY ts_us, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS session_seq
  FROM lagged
)
SELECT user_id, session_seq,
       count(*) AS n_events,
       min(ts_us) AS start_us,
       max(ts_us) AS end_us,
       max(ts_us) - min(ts_us) AS duration_us,
       round(sum(value), 6) AS sum_value
FROM sess GROUP BY user_id, session_seq
"""


def q_sliding_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window event rollup (ops/sessions.sliding_window_stats):
    1-day windows sliding every 6 hours, counts + value sums per
    event_type — the moving trend view a drift monitor reads. Native
    ``window()`` generator: each event replicated into its 4 windows
    map-side, ONE shuffle on (window, type) with partial aggregation;
    no per-key ordering, no hot-entity serialization. Microsecond
    integer window bounds keep both engines exact."""
    ev = _t(spark, sf_dir, "events")
    return sessions.sliding_window_stats(
        ev,
        ts_col="ts",
        window_seconds=86400,
        slide_seconds=21600,
        group_cols=["event_type"],
        agg_cols={"value": "sum"},
    ).select(
        "window_start_us",
        "window_end_us",
        "event_type",
        "n_events",
        F.round("sum_value", 6).alias("sum_value"),
    )


_SLIDING_WINDOW_ORACLE = """
WITH e AS (
  SELECT epoch_us(ts) AS ts_us, event_type, value
  FROM events WHERE ts IS NOT NULL
),
ex AS (
  SELECT ((ts_us // 21600000000) - k.i) * 21600000000 AS window_start_us,
         event_type, value
  FROM e, (SELECT UNNEST(range(4)) AS i) k
)
SELECT window_start_us,
       window_start_us + 86400000000 AS window_end_us,
       event_type,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_value
FROM ex
GROUP BY window_start_us, event_type
"""


def q_tfidf_keywords_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF keyword extraction (ops/text.tfidf_keywords):
    top-3 characteristic terms per doc, composed from the corpus
    vocabulary (same tokenization + smooth-IDF). One explode -> one
    (doc, token) count shuffle with map-side combine -> token-keyed IDF
    join (ids+counts only) -> per-doc top-k window. min_df=2 prunes
    hapax noise at the join."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.tfidf_keywords(
        docs, text_col="text", id_col="doc_id", k=3, min_df=2
    )


_TFIDF_KEYWORDS_ORACLE = r"""
WITH tok AS (
  SELECT doc_id, lower(t.tok) AS token
  FROM documents, UNNEST(regexp_split_to_array(trim(text), '\s+')) AS t(tok)
  WHERE trim(coalesce(text, '')) <> ''
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
v AS (
  SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM tok GROUP BY token
),
idf AS (
  SELECT token,
         CAST(ROUND(LN((n.n_docs + 1) / (v.df + 1)) + 1, 9) AS DOUBLE) AS idf
  FROM v, n WHERE v.df >= 2
),
dt AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf_doc
  FROM tok GROUP BY doc_id, token
),
s AS (
  SELECT dt.doc_id, dt.token, dt.tf_doc,
         ROUND(dt.tf_doc * idf.idf, 6) AS tfidf
  FROM dt JOIN idf USING (token)
),
r AS (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY doc_id ORDER BY tfidf DESC, token) AS INT) AS rank
  FROM s
)
SELECT doc_id, rank, token, tf_doc, tfidf FROM r WHERE rank <= 3
"""


def q_token_entropy_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token Shannon entropy + type-token ratio
    (ops/text.token_entropy) — the compression-ratio proxy quality
    signal. One explode -> map-side-combined (doc, token) count ->
    per-doc 3-scalar reduction; empty docs re-attach via a two-column
    left join."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.token_entropy(docs, id_col="doc_id")


_TOKEN_ENTROPY_ORACLE = r"""
WITH tok AS (
  SELECT doc_id, lower(t.tok) AS token
  FROM documents, UNNEST(regexp_split_to_array(trim(text), '\s+')) AS t(tok)
  WHERE trim(coalesce(text, '')) <> ''
),
dt AS (SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY doc_id, token),
pd AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_distinct,
         SUM(c * LN(c)) AS clogc
  FROM dt GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(pd.n_tokens, 0) AS n_tokens,
       COALESCE(pd.n_distinct, 0) AS n_distinct,
       CAST(COALESCE(ROUND(LN(pd.n_tokens) - pd.clogc / pd.n_tokens, 9), 0.0)
            AS DOUBLE) AS entropy,
       CAST(COALESCE(ROUND(pd.n_distinct / CAST(pd.n_tokens AS DOUBLE), 9), 0.0)
            AS DOUBLE) AS ttr
FROM documents d LEFT JOIN pd USING (doc_id)
"""


def q_boilerplate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate line removal (ops/text.
    remove_boilerplate_lines, the C4/CCNet recipe): a newsletter header
    is planted on doc_id % 3 docs and a copyright footer on doc_id % 5
    docs; any line present in >= 25 distinct docs is stripped from
    every document. Text never shuffles: the line-count pass moves
    (md5, doc) pairs only, the flagged sliver broadcasts, per-doc
    removal sets re-attach via a broadcast left join, and the rebuild
    is a native filter/array_join projection."""
    docs = _t(spark, sf_dir, "documents")
    header = "subscribe to our newsletter for weekly updates"
    footer = "copyright example corp all rights reserved"
    planted = docs.select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 3 == 0, F.lit(header + "\n")).otherwise(
                F.lit("")
            ),
            F.col("text"),
            F.when(F.col("doc_id") % 5 == 0, F.lit("\n" + footer)).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    return text_ops.remove_boilerplate_lines(
        planted, id_col="doc_id", text_col="text", min_docs=25, min_chars=4
    ).orderBy("doc_id")


_BOILERPLATE_ORACLE = r"""
WITH base AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 3 = 0
          THEN 'subscribe to our newsletter for weekly updates' || chr(10)
          ELSE '' END)
    || text ||
    (CASE WHEN doc_id % 5 = 0
          THEN chr(10) || 'copyright example corp all rights reserved'
          ELSE '' END) AS text
  FROM documents
),
lines AS (
  SELECT doc_id, i AS pos, parts[i + 1] AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS parts FROM base),
       UNNEST(range(len(parts))) AS g(i)
),
elig AS (
  SELECT doc_id, pos, line,
         CASE WHEN length(trim(line)) >= 4 THEN md5(trim(line)) END AS fp
  FROM lines
),
flagged AS (
  SELECT fp FROM elig WHERE fp IS NOT NULL
  GROUP BY fp HAVING COUNT(DISTINCT doc_id) >= 25
),
kept AS (
  SELECT doc_id, pos, line FROM elig
  WHERE fp IS NULL OR fp NOT IN (SELECT fp FROM flagged)
),
agg AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
),
tot AS (SELECT doc_id, COUNT(*) AS n_lines FROM lines GROUP BY doc_id)
SELECT b.doc_id,
       COALESCE(a.text, '') AS text,
       CAST(t.n_lines AS INT) AS n_lines,
       CAST(t.n_lines - COALESCE(a.n_kept, 0) AS INT) AS n_removed
FROM base b
LEFT JOIN agg a USING (doc_id)
JOIN tot t USING (doc_id)
ORDER BY doc_id
"""


def q_url_features_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL feature extraction + blocklist-domain flagging (ops/urls):
    deterministic synthetic URLs derived from (source, lang, doc_id) —
    ads subdomains, mixed TLDs, query strings — then scheme/host/
    registered-domain/path-depth/param-count via portable-regex native
    expressions (one map-only codegen projection) and an is_blocked
    flag from a broadcast blocklist probe (no corpus shuffle)."""
    docs = _t(spark, sf_dir, "documents")
    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            F.when(F.col("doc_id") % 7 == 0, F.lit("ads.")).otherwise(
                F.lit("www.")
            ),
            F.col("source"),
            F.when(F.col("doc_id") % 2 == 0, F.lit(".com")).otherwise(
                F.lit(".org")
            ),
            F.lit("/"),
            F.col("lang"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
            F.when(
                F.col("doc_id") % 4 == 0, F.lit("?ref=home&utm_source=feed")
            )
            .when(F.col("doc_id") % 4 == 1, F.lit("?q=spark"))
            .otherwise(F.lit("")),
        ).alias("url"),
    )
    blocklist = spark.createDataFrame(
        [("src3.com",), ("src7.org",), ("src11.com",)], ["domain"]
    )
    return url_ops.flag_blocked_domains(
        url_ops.url_features(urls, "url"), blocklist, url_col="url"
    ).orderBy("doc_id")


_URL_FEATURES_ORACLE = r"""
WITH u AS (
  SELECT doc_id,
    'https://'
    || (CASE WHEN doc_id % 7 = 0 THEN 'ads.' ELSE 'www.' END)
    || source
    || (CASE WHEN doc_id % 2 = 0 THEN '.com' ELSE '.org' END)
    || '/' || lang || '/' || CAST(doc_id AS VARCHAR)
    || (CASE WHEN doc_id % 4 = 0 THEN '?ref=home&utm_source=feed'
             WHEN doc_id % 4 = 1 THEN '?q=spark'
             ELSE '' END) AS url
  FROM documents
),
f AS (
  SELECT doc_id, url,
    regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) AS scheme,
    regexp_extract(url,
      '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)', 1) AS host,
    regexp_extract(url,
      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
    regexp_extract(url, '\?([^#]*)', 1) AS qs
  FROM u
)
SELECT doc_id, url, scheme, host,
  CASE WHEN regexp_extract(host, '([^.]+\.[^.]+)$', 1) <> ''
       THEN regexp_extract(host, '([^.]+\.[^.]+)$', 1)
       ELSE host END AS domain,
  CAST(len(list_filter(string_split(path, '/'), x -> x <> '')) AS INT)
    AS path_depth,
  CAST(CASE WHEN qs = '' THEN 0
            ELSE len(string_split(qs, '&')) END AS INT) AS n_params,
  (CASE WHEN regexp_extract(host, '([^.]+\.[^.]+)$', 1) <> ''
        THEN regexp_extract(host, '([^.]+\.[^.]+)$', 1)
        ELSE host END)
    IN ('src3.com', 'src7.org', 'src11.com') AS is_blocked
FROM f
ORDER BY doc_id
"""


def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus health report: doc count, exact-dup count/rate
    (md5 fingerprint seen >1 across the WHOLE corpus), mean length,
    language spread — the monitoring rollup a curation pipeline runs per
    ingest wave. Duplicates are planted (doc_id % 31 == 7 re-ingested)
    so the dup path is exercised.

    Scale shape: ONE text scan computes the fingerprint; everything
    after shuffles only (source, fp, count) triples (map-side combined)
    and bounded per-source rows — document text never reaches a second
    stage. Global dup detection joins per-(source,fp) counts to the
    fp-level totals, so a fingerprint hot enough to matter is already
    aggregated before the join."""
    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "source", "lang", "n_chars",
        text_ops.fingerprint(F.col("text")).alias("fp"),
    )
    d = d.unionByName(d.filter(F.col("doc_id") % 31 == 7))
    sfp = d.groupBy("source", "fp").agg(F.count(F.lit(1)).alias("c"))
    g = sfp.groupBy("fp").agg(F.sum("c").alias("gs"))
    dup = (
        sfp.join(g, "fp")
        .filter(F.col("gs") > 1)
        .groupBy("source")
        .agg(F.sum("c").alias("n_dup_docs"))
    )
    base = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("mean_chars"),
        F.countDistinct("lang").alias("n_langs"),
    )
    return base.join(dup, "source", "left").select(
        "source",
        "n_docs",
        F.coalesce(F.col("n_dup_docs"), F.lit(0)).alias("n_dup_docs"),
        F.round(
            F.coalesce(F.col("n_dup_docs"), F.lit(0))
            / F.col("n_docs").cast("double"),
            6,
        ).alias("dup_frac"),
        "mean_chars",
        "n_langs",
    )


_CORPUS_REPORT_ORACLE = r"""
WITH d0 AS (
  SELECT doc_id, source, lang, n_chars,
         md5(lower(trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')))) AS fp
  FROM documents
),
d AS (SELECT * FROM d0 UNION ALL SELECT * FROM d0 WHERE doc_id % 31 = 7),
sfp AS (SELECT source, fp, count(*) AS c FROM d GROUP BY 1, 2),
g AS (SELECT fp, sum(c) AS gs FROM sfp GROUP BY 1),
dup AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n_dup_docs
  FROM sfp JOIN g USING (fp) WHERE gs > 1 GROUP BY 1
),
base AS (
  SELECT source, count(*) AS n_docs,
         round(avg(n_chars), 6) AS mean_chars,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
  FROM d GROUP BY 1
)
SELECT base.source, n_docs,
       coalesce(n_dup_docs, 0) AS n_dup_docs,
       round(coalesce(n_dup_docs, 0) / CAST(n_docs AS DOUBLE), 6) AS dup_frac,
       mean_chars, n_langs
FROM base LEFT JOIN dup USING (source)
"""


def q_curate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END curation pipeline — the composed flagship for the
    training-data ops: corpus (with planted exact duplicates) → quality
    gate (n_tokens ≥ 5, quality ≥ 0.3) → benchmark decontamination
    (word-3-shingle overlap vs the eval holdout) → exact-dedup resolve
    (keep the min-id doc per normalized-text fingerprint) → PII scrub
    with audit counts. Every stage is independently oracle-checked
    elsewhere; this query value-checks their COMPOSITION in one
    DataFrame job (one corpus scan feeds the gate, the decontamination
    keep-filter is a broadcast anti-join, the dedup resolve is one
    window over the fingerprint shuffle, the scrub is a fused map-only
    projection on the survivors)."""
    docs = _docs_with_planted_dups(spark, sf_dir)
    c = F.col("text")
    gated = docs.select(
        "doc_id",
        "text",
        text_ops.token_count(c).alias("n_tokens"),
        text_ops.quality_score(c).alias("quality"),
    ).filter((F.col("n_tokens") >= 5) & (F.col("quality") >= 0.3))
    bench = _bench_docs(_t(spark, sf_dir, "documents"))
    decon = contamination.decontaminate(gated, bench, "doc_id")
    fp = decon.withColumn("fingerprint", text_ops.fingerprint(c))
    w = Window.partitionBy("fingerprint")
    canon = (
        fp.withColumn("keep", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("keep"))
        .drop("keep")
    )
    return clean.scrub_pii(canon, "text")


_CURATE_ORACLE = r"""
WITH u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
),
feats AS (
  SELECT doc_id, text,
    CAST(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS INT) AS n_tokens,
    round(least(length(coalesce(text, '')) / 200.0, 1.0) *
          (CASE WHEN length(coalesce(text, '')) > 10000 THEN 0.5 ELSE 1.0 END) *
          greatest(0.0, 1.0 -
            (length(regexp_replace(coalesce(text, ''), '[^!-/:-@\[-`{-~]', '', 'g')) /
             greatest(length(coalesce(text, '')), 1)) * 4) *
          (CASE WHEN (length(regexp_replace(trim(coalesce(text, '')), '\s', '', 'g')) /
                      greatest(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                               ELSE len(regexp_split_to_array(trim(text), '\s+')) END, 1))
                BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END), 6) AS quality
  FROM u
),
gated AS (SELECT * FROM feats WHERE n_tokens >= 5 AND quality >= 0.3),
gex AS (
  SELECT doc_id,
         unnest(list_distinct([array_to_string(t[i+1:i+3], ' ')
                               for i in range(0, greatest(len(t)-3, 0)+1)])) AS s
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        FROM gated WHERE trim(coalesce(text, '')) <> '')
),
bsh AS (
  SELECT DISTINCT unnest(list_distinct([array_to_string(t[i+1:i+3], ' ')
                          for i in range(0, greatest(len(t)-3, 0)+1)])) AS s
  FROM (SELECT regexp_split_to_array(trim(text), '\s+') AS t
        FROM documents WHERE doc_id % 13 = 0 AND trim(coalesce(text, '')) <> '')
),
bad AS (SELECT DISTINCT gex.doc_id FROM gex JOIN bsh USING (s) WHERE s <> ''),
decon AS (SELECT * FROM gated WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
canon AS (
  SELECT *, md5(lower(trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g'))))
            AS fingerprint
  FROM decon
  QUALIFY doc_id = min(doc_id) OVER (PARTITION BY
    md5(lower(trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')))))
),
s1 AS (SELECT doc_id, n_tokens, quality, fingerprint,
              CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
              regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<email>', 'g') AS t
       FROM canon),
s2 AS (SELECT doc_id, n_tokens, quality, fingerprint, n_email,
              CAST(len(regexp_extract_all(t, '\b(\d{1,3}\.){3}\d{1,3}\b')) AS INT) AS n_ipv4,
              regexp_replace(t, '\b(\d{1,3}\.){3}\d{1,3}\b', '<ipv4>', 'g') AS t
       FROM s1),
s3 AS (SELECT doc_id, n_tokens, quality, fingerprint, n_email, n_ipv4,
              CAST(len(regexp_extract_all(t, '__PHONE__')) AS INT) AS n_phone,
              regexp_replace(t, '__PHONE__', '<phone>', 'g') AS t
       FROM s2)
SELECT doc_id, n_tokens, quality, fingerprint, t AS text, n_email, n_ipv4, n_phone
FROM s3
"""
# single-source the phone pattern from the engine (clean.PII_PATTERNS)
_CURATE_ORACLE = _CURATE_ORACLE.replace("__PHONE__", clean.PII_PATTERNS["phone"])


# ---------------------------------------------------------------------------
# Profiling metrics: entropy / mutual information / correlation matrix
# (Deequ-style column-profile metrics; one aggregation pass each —
# see stats.column_entropy / mutual_information / correlation_matrix.)
# ---------------------------------------------------------------------------


def q_entropy_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats.column_entropy(
        _t(spark, sf_dir, "events"), ["event_type", "user_id"]
    )


_ENTROPY_ORACLE = """
WITH pairs AS (
  SELECT 'event_type' AS "column", CAST(event_type AS VARCHAR) AS value FROM events
  UNION ALL
  SELECT 'user_id' AS "column", CAST(user_id AS VARCHAR) AS value FROM events
),
c AS (
  SELECT "column", value, count(*) AS cnt
  FROM pairs WHERE value IS NOT NULL GROUP BY 1, 2
)
SELECT "column", CAST(SUM(cnt) AS BIGINT) AS n_values, COUNT(*) AS ndv,
       ROUND(LN(CAST(SUM(cnt) AS DOUBLE))
             - SUM(cnt * LN(CAST(cnt AS DOUBLE))) / SUM(cnt), 9) AS entropy
FROM c GROUP BY "column"
"""


def q_mutual_info_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn(
        "user_mod", (F.col("user_id") % 7).cast("string")
    )
    return stats.mutual_information(ev, "event_type", "user_mod")


_MUTUAL_INFO_ORACLE = """
WITH j AS (
  SELECT CAST(event_type AS VARCHAR) AS a,
         CAST(user_id % 7 AS VARCHAR) AS b, count(*) AS n_ab
  FROM events
  WHERE event_type IS NOT NULL AND user_id IS NOT NULL
  GROUP BY 1, 2
),
m AS (
  SELECT n_ab,
         SUM(n_ab) OVER (PARTITION BY a) AS n_a,
         SUM(n_ab) OVER (PARTITION BY b) AS n_b,
         SUM(n_ab) OVER () AS n
  FROM j
),
t AS (
  SELECT CAST(MAX(n) AS BIGINT) AS n_pairs,
         SUM(CAST(n_ab AS DOUBLE) / n
             * LN(CAST(n_ab AS DOUBLE) * n / (CAST(n_a AS DOUBLE) * n_b))) AS mi,
         LN(CAST(MAX(n) AS DOUBLE))
           - SUM(n_ab * LN(CAST(n_a AS DOUBLE))) / MAX(n) AS h_a,
         LN(CAST(MAX(n) AS DOUBLE))
           - SUM(n_ab * LN(CAST(n_b AS DOUBLE))) / MAX(n) AS h_b
  FROM m
)
SELECT 'event_type' AS col_a, 'user_mod' AS col_b, n_pairs,
       ROUND(mi, 9) AS mi,
       ROUND(CASE WHEN SQRT(h_a * h_b) > 0 THEN mi / SQRT(h_a * h_b) END, 9) AS nmi
FROM t
"""

_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q_corr_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats.correlation_matrix(_t(spark, sf_dir, "lineitem"), _CORR_COLS)


_CORR_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{a}' AS col_a, '{b}' AS col_b,
       count(*) FILTER (WHERE {a} IS NOT NULL AND {b} IS NOT NULL) AS n_pairs,
       ROUND(corr(CAST({a} AS DOUBLE), CAST({b} AS DOUBLE)), 6) AS "corr"
FROM lineitem"""
    for i, a in enumerate(_CORR_COLS)
    for b in _CORR_COLS[i + 1 :]
)


def q_jpeg_prog_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full constraint suite over REAL PROGRESSIVE (SOF2) JPEG payloads
    (jpegcodec.encode_jpeg_progressive — spectral-selection multi-scan
    bitstreams decoded by the progressive scan path / native
    jpegprog.c). Same planted rules and ROW-LEVEL oracle shape as
    jpeg_validate; proves the multi-scan decode path under the driver
    gate, not just pytest vectors."""
    from smcchecker_spark import fixtures
    from smcchecker_spark.image import ImageConsistent
    from smcchecker_spark.package import ensure_shipped

    ensure_shipped(spark)
    df = fixtures.generate_progressive_images(
        spark, n_rows=400, n_parts=8, seed=19
    ).localCheckpoint()
    suite = Suite(
        name="images_jpeg_prog",
        table="images",
        constraints=[
            NotNull("caption"),
            Unique(["image_id"]),
            ImageConsistent(),
        ],
    )
    v = compile_suite(df, suite, row_id_col="image_id", part_id_col="part_id")
    return v.select("row_id", "check_name").orderBy("row_id", "check_name")


def q_exif_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExifSane over the planted-EXIF JPEG fixture: corrupt APP1 TIFF
    directories, out-of-range Orientation, malformed DateTime literals
    (smcchecker_spark/exif.py — from-scratch TIFF 6.0/EXIF 2.3 parse).
    ROW-LEVEL: the oracle reproduces the fixture's first-match-wins
    modular rules as the exact planted violation-id set; goldens also
    locked by tests/test_image.py."""
    from smcchecker_spark import fixtures
    from smcchecker_spark.image import ExifSane
    from smcchecker_spark.package import ensure_shipped

    ensure_shipped(spark)
    df = fixtures.generate_exif_images(
        spark, n_rows=500, n_parts=8, seed=13
    ).localCheckpoint()
    suite = Suite(
        name="images_exif", table="images", constraints=[ExifSane()]
    )
    v = compile_suite(df, suite, row_id_col="image_id", part_id_col="part_id")
    return v.select("row_id", "check_name").orderBy("row_id", "check_name")


_EXIF_VALIDATE_ORACLE = """
SELECT 'exf' || lpad(CAST(i AS VARCHAR), 9, '0') AS row_id,
       'exifsane_bytes' AS check_name
FROM range(500) t(i)
WHERE (i % 37 = 9)
   OR (i % 37 <> 9 AND i % 29 = 6)
   OR (i % 37 <> 9 AND i % 29 <> 6 AND i % 31 = 8)
ORDER BY row_id
"""


def q_metric_anomalies_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly detection over a metric history: daily per-event_type row
    counts scored against their trailing 5-point window (z > 2) plus a
    100% relative-jump bound — stats.metric_anomalies."""
    hist = (
        _t(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return stats.metric_anomalies(
        hist,
        value_col="n",
        order_col="day",
        series_cols=["event_type"],
        window=5,
        k=2.0,
        max_rel_change=1.0,
        min_history=3,
    )


_METRIC_ANOMALIES_ORACLE = """
WITH h AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT event_type, day, n,
         COUNT(n) OVER w AS trail_n,
         AVG(n) OVER w AS m_raw,
         STDDEV_SAMP(n) OVER w AS s_raw,
         LAG(n) OVER (PARTITION BY event_type ORDER BY day) AS prev
  FROM h
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)
),
z AS (
  SELECT *,
         CASE WHEN trail_n >= 3 AND s_raw > 0
              THEN (n - m_raw) / s_raw END AS z_raw,
         CASE WHEN prev IS NOT NULL AND prev <> 0
              THEN (n - prev) / abs(CAST(prev AS DOUBLE)) END AS r_raw
  FROM s
)
SELECT event_type, day, n, trail_n,
       ROUND(m_raw, 9) AS trail_mean,
       ROUND(s_raw, 9) AS trail_std,
       ROUND(z_raw, 9) AS zscore,
       ROUND(r_raw, 9) AS rel_change,
       (COALESCE(abs(z_raw) > 2.0, FALSE)
        OR COALESCE(abs(r_raw) > 1.0, FALSE)) AS anomalous
FROM z
"""


# ---------------------------------------------------------------------------
# Distributed k-means: full-corpus Lloyd's, one aggregation per iteration
# (similarity.train_centroids_full). Exact-regime oracle: one update
# iteration + final assignment unrolled in SQL over the same
# deterministic lowest-k-ids init.
# ---------------------------------------------------------------------------


def q_kmeans_cells_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    cents = similarity.train_centroids_full(emb, k=8, iters=1)
    return similarity.assign_cells(emb, cents)


_KMEANS_ORACLE = """
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
en AS (
  SELECT vec_id,
         list_transform(v, x -> x / greatest(sqrt(list_dot_product(v, v)),
                                             1e-12)) AS v
  FROM e
),
c0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, v
  FROM (SELECT vec_id, v FROM en ORDER BY vec_id LIMIT 8)
),
a0 AS (
  SELECT vec_id, cell FROM (
    SELECT en.vec_id, c0.cell,
           ROW_NUMBER() OVER (
             PARTITION BY en.vec_id
             ORDER BY list_dot_product(en.v, c0.v) DESC, c0.cell ASC
           ) AS rn
    FROM en, c0
  ) WHERE rn = 1
),
m1 AS (
  SELECT a0.cell, d.range AS pos,
         AVG(en.v[CAST(d.range + 1 AS INT)]) AS mv
  FROM en JOIN a0 USING (vec_id), range(64) d
  GROUP BY a0.cell, d.range
),
cm AS (SELECT cell, list(mv ORDER BY pos) AS l FROM m1 GROUP BY cell),
c1 AS (
  SELECT c0.cell,
         COALESCE(
           list_transform(cm.l,
                          x -> x / greatest(sqrt(list_dot_product(cm.l,
                                                                  cm.l)),
                                            1e-12)),
           c0.v) AS v
  FROM c0 LEFT JOIN cm ON c0.cell = cm.cell
)
SELECT vec_id, CAST(cell AS INT) AS cell FROM (
  SELECT en.vec_id, c1.cell,
         ROW_NUMBER() OVER (
           PARTITION BY en.vec_id
           ORDER BY list_dot_product(en.v, c1.v) DESC, c1.cell ASC
         ) AS rn
  FROM en, c1
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Driver contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_engine_suite_documents(spark, SF_SMOKE)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry order is load-bearing: the correctness driver samples the
    FIRST 50 entries each round. Round-5 window (verdict item 5: no
    registry row older than two rounds) = the 2 round-5 additions
    (dedup_substrings_long_docs seed-and-extend, phab_star_join), the
    2 INHERENT rows-only entries re-windowed for rows-only freshness
    (tdigest_quantiles / column_stats_approx — sketch internals, no
    SQL oracle by design, value-checked exact-regime siblings green;
    the explicit allowlist lives in tests/test_entry.py), the one
    query whose plan changed this round (semdedup_clustered perf fix),
    then the 34 displaced round-2 greens (engine_precision_scale
    through bigram_counts_docs — the oldest value-checked rows in the
    registry, last confirmed r2), then the 11 oldest round-3 greens
    (pq_encode_embeddings through lsh_topk_exhaustive). After this
    window lands, every registry row is ≤2 rounds old. Entries past
    position 50 are ordered newest-green-last: the round-3 window
    remainder first, then everything the round-4 window confirmed."""
    return {
        # -- round-5 window ------------------------------------------
        # new this round (seed-and-extend long-passage dedup; the
        # PHAB-parity star join):
        "dedup_substrings_long_docs": q_dedup_substrings_long_docs,
        "phab_star_join": q_phab_star_join,
        # stale rows-only entries re-windowed for freshness (sketch
        # internals, no value oracle by design — rows-only check):
        "tdigest_quantiles": q_tdigest_quantiles,
        "column_stats_approx": q_column_stats_approx,
        # changed this round (perf fix: checkpointed+right-sized base):
        "semdedup_clustered": q_semdedup_clustered,
        # displaced round-2 greens (rows last confirmed r2 — the
        # oldest value-checked entries in the registry):
        "engine_precision_scale": q_engine_precision_scale,
        "engine_robust_outliers": q_engine_robust_outliers,
        "engine_outliers_per_key": q_engine_outliers_per_key,
        "engine_custom_gated": q_engine_custom_gated,
        "engine_dup_production": q_engine_dup_production,
        "engine_subset_logic": q_engine_subset_logic,
        "engine_embedding_suite": q_engine_embedding_suite,
        "engine_image_policy": q_engine_image_policy,
        "tdigest_exact_quantiles": q_tdigest_exact_quantiles,
        "clean_fix_case": q_clean_fix_case,
        "pricing_summary": q_pricing_summary,
        "revenue_by_region": q_revenue_by_region,
        "lookup_anti_events": q_lookup_anti_events,
        "semi_join_orders": q_semi_join_orders,
        "window_topk_orders": q_window_topk_orders,
        "group_concat_langs": q_group_concat_langs,
        "union_distinct_flags": q_union_distinct_flags,
        "stats_exact_lineitem": q_stats_exact_lineitem,
        "column_stats_smallndv": q_column_stats_smallndv,
        "hll_ndv_events": q_hll_ndv_events,
        "histogram_value": q_histogram_value,
        "psi_value_drift": q_psi_value_drift,
        "audit_load_columns": q_audit_load_columns,
        "ks_drift": q_ks_drift,
        "drift_check_events": q_drift_check_events,
        "salted_count_events": q_salted_count_events,
        "metrics_drift": q_metrics_drift,
        "text_features_docs": q_text_features_docs,
        "vocab_docs": q_vocab_docs,
        "tfidf_keywords_docs": q_tfidf_keywords_docs,
        "token_entropy_docs": q_token_entropy_docs,
        "boilerplate_docs": q_boilerplate_docs,
        "url_features_docs": q_url_features_docs,
        "bigram_counts_docs": q_bigram_counts_docs,
        # oldest round-3 greens (front of the r3 window):
        "pq_encode_embeddings": q_pq_encode_embeddings,
        "pq_topk_embeddings": q_pq_topk_embeddings,
        "ivfpq_topk_exhaustive": q_ivfpq_topk_exhaustive,
        "quantize_embeddings": q_quantize_embeddings,
        "transcode_images": q_transcode_images,
        "semdedup_embeddings": q_semdedup_embeddings,
        "incremental_neardup_docs": q_incremental_neardup_docs,
        "incremental_phash_events": q_incremental_phash_events,
        "phash_neardup_events": q_phash_neardup_events,
        "simhash_neardup_exact": q_simhash_neardup_exact,
        "lsh_topk_exhaustive": q_lsh_topk_exhaustive,
        # -- past the 50-entry window: newest-green-last -------------
        # round-3 window remainder (rows from r3):
        "pack_docs": q_pack_docs,
        "asof_purchase_events": q_asof_purchase_events,
        "curate_images_events": q_curate_images_events,
        "snapshot_diff_events": q_snapshot_diff_events,
        "crossmodal_events": q_crossmodal_events,
        "pca_embeddings": q_pca_embeddings,
        "rank_normalize_events": q_rank_normalize_events,
        "impute_events": q_impute_events,
        "winsorize_events": q_winsorize_events,
        "budget_select_docs": q_budget_select_docs,
        "lm_quality_docs": q_lm_quality_docs,
        "bigram_lm_docs": q_bigram_lm_docs,
        "det_split_docs": q_det_split_docs,
        "leakage_split_docs": q_leakage_split_docs,
        "cap_per_source_docs": q_cap_per_source_docs,
        "chunk_docs": q_chunk_docs,
        "mix_budget_docs": q_mix_budget_docs,
        "repetition_docs": q_repetition_docs,
        "contamination_docs": q_contamination_docs,
        "decontaminate_docs": q_decontaminate_docs,
        "scrub_pii_docs": q_scrub_pii_docs,
        "image_batches_events": q_image_batches_events,
        "curate_docs": q_curate_docs,
        "corpus_report": q_corpus_report,
        "sessionize_events": q_sessionize_events,
        "zorder_events": q_zorder_events,
        "bloom_anti_events": q_bloom_anti_events,
        "corpus_rollup": q_corpus_rollup,
        "weighted_sample_events": q_weighted_sample_events,
        "expectations_lineitem": q_expectations_lineitem,
        "topk_per_user_events": q_topk_per_user_events,
        "row_diff_events": q_row_diff_events,
        "skew_join_events": q_skew_join_events,
        "dedup_resolve_quality_docs": q_dedup_resolve_quality_docs,
        "pivot_user_events": q_pivot_user_events,
        "except_intersect_docs": q_except_intersect_docs,
        # refreshed in round 4 (r1/r2-front blocks + the full r4
        # window — the most recently confirmed rows):
        "shard_docs": q_shard_docs,
        "audio_validate": q_audio_validate,
        "video_validate": q_video_validate,
        "audio_features_events": q_audio_features_events,
        "video_neardup_events": q_video_neardup_events,
        "entropy_events": q_entropy_events,
        "mutual_info_events": q_mutual_info_events,
        "corr_matrix_lineitem": q_corr_matrix_lineitem,
        "kmeans_cells_embeddings": q_kmeans_cells_embeddings,
        "metric_anomalies_events": q_metric_anomalies_events,
        "exif_validate": q_exif_validate,
        "jpeg_prog_validate": q_jpeg_prog_validate,
        "jpeg_psnr_gate": q_jpeg_psnr_gate,
        "phash_dedup_resolve_events": q_phash_dedup_resolve_events,
        "dataset_card_docs": q_dataset_card_docs,
        "embedding_drift": q_embedding_drift,
        "cat_drift_events": q_cat_drift_events,
        "image_decontaminate_events": q_image_decontaminate_events,
        "asof_next_purchase_events": q_asof_next_purchase_events,
        "impute_mode_events": q_impute_mode_events,
        "topk_cosine_partial": q_topk_cosine_partial,
        "sliding_window_events": q_sliding_window_events,
        "unpivot_lineitem": q_unpivot_lineitem,
        "jpeg_validate": q_jpeg_validate,
        "webp_validate": q_webp_validate,
        "images_validate": q_images_validate,
        "pq_trained_recon": q_pq_trained_recon,
        "dedup_substrings_docs": q_dedup_substrings_docs,
        "lsh_topk_embeddings": q_lsh_topk_embeddings,
        "ivf_topk_embeddings": q_ivf_topk_embeddings,
        "simhash_neardup_docs": q_simhash_neardup_docs,
        "engine_caption_parity": q_engine_caption_parity,
        "exact_dups_docs": q_exact_dups_docs,
        "minhash_neardup_docs": q_minhash_neardup_docs,
        "neardup_components_docs": q_neardup_components_docs,
        "dedup_resolve_docs": q_dedup_resolve_docs,
        "topk_cosine": q_topk_cosine,
        "ivf_topk_exhaustive": q_ivf_topk_exhaustive,
        "embedding_neardup": q_embedding_neardup,
        "engine_suite_documents": q_engine_suite_documents,
        "engine_conditional_docs": q_engine_conditional_docs,
        "engine_monotonic_events": q_engine_monotonic_events,
        "engine_fd_events": q_engine_fd_events,
        "engine_json_events": q_engine_json_events,
        "fd_discovery_events": q_fd_discovery_events,
        "quantized_topk": q_quantized_topk,
        "heavy_hitters_events": q_heavy_hitters_events,
        "union_evolution_events": q_union_evolution_events,
        "violations_sampled_docs": q_violations_sampled_docs,
        "messages_per_row": q_messages_per_row,
        "engine_intrange_part": q_engine_intrange_part,
        "engine_dtype_orders": q_engine_dtype_orders,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "engine_suite_documents": _ENGINE_SUITE_ORACLE,
        # conditional (OnlyWhen) checks + per-check violation sampling —
        # both fully value-oracle-checked (md5 keep-rates in SQL)
        "engine_conditional_docs": _ENGINE_CONDITIONAL_ORACLE,
        "engine_monotonic_events": _ENGINE_MONOTONIC_ORACLE,
        "engine_fd_events": _ENGINE_FD_ORACLE,
        "engine_json_events": _ENGINE_JSON_ORACLE,
        "fd_discovery_events": _FD_DISCOVERY_ORACLE,
        # int8 quantization: q values element-checked; scale in integer
        # micro-units; reconstruction bound as an expected-TRUE boolean
        "pq_encode_embeddings": _PQ_ENCODE_ORACLE,
        "pq_topk_embeddings": _PQ_TOPK_ORACLE,
        # exact regime (iters=0 sample-init codebooks): train → encode →
        # reconstruction error fully re-derived in int64 SQL
        "pq_trained_recon": _PQ_TRAINED_RECON_ORACLE,
        "ivfpq_topk_exhaustive": _PQ_TOPK_ORACLE,
        "quantize_embeddings": _QUANTIZE_ORACLE,
        # int-dot scoring: the ONLY ANN path whose scores are exactly
        # SQL-reproducible (integer arithmetic; no rounding tolerance)
        "quantized_topk": _QUANTIZED_TOPK_ORACLE,
        "heavy_hitters_events": _HEAVY_HITTERS_ORACLE,
        # drifted exports realigned: widening casts + NULL fills, BY NAME
        "union_evolution_events": _UNION_EVOLUTION_ORACLE,
        "violations_sampled_docs": _VIOLATIONS_SAMPLED_ORACLE,
        "messages_per_row": _MESSAGES_ORACLE,
        "engine_intrange_part": _INTRANGE_ORACLE,
        "engine_dtype_orders": _DTYPE_ORACLE,
        "engine_precision_scale": _PRECISION_ORACLE,
        # median/MAD + 3.5-sigma-equivalent cut re-derived in SQL
        "engine_robust_outliers": _ROBUST_OUTLIERS_ORACLE,
        # per-group median/MAD cuts
        "engine_outliers_per_key": _OUTLIERS_PER_KEY_ORACLE,
        "engine_custom_gated": _CUSTOM_GATED_ORACLE,
        "engine_dup_production": _DUP_PROD_ORACLE,
        "engine_subset_logic": _SUBSET_ORACLE,
        "engine_embedding_suite": _EMBEDDING_SUITE_ORACLE,
        "engine_image_policy": _IMAGE_POLICY_ORACLE,
        "clean_fix_case": _CLEAN_ORACLE,
        "pricing_summary": _PRICING_ORACLE,
        "revenue_by_region": _REVENUE_ORACLE,
        "lookup_anti_events": _LOOKUP_ANTI_ORACLE,
        "semi_join_orders": _SEMI_ORACLE,
        "window_topk_orders": _TOPK_ORACLE,
        "group_concat_langs": _GROUP_CONCAT_ORACLE,
        "union_distinct_flags": _UNION_ORACLE,
        "stats_exact_lineitem": _STATS_ORACLE,
        "histogram_value": _HISTOGRAM_ORACLE,
        "psi_value_drift": _PSI_ORACLE,
        "audit_load_columns": _AUDIT_ORACLE,
        "ks_drift": _KS_ORACLE,
        "drift_check_events": _DRIFT_CHECK_ORACLE,
        "salted_count_events": _SALTED_COUNT_ORACLE,
        "metrics_drift": _METRICS_DRIFT_ORACLE,
        "engine_caption_parity": _CAPTION_PARITY_ORACLE,
        "text_features_docs": _TEXT_ORACLE,
        # vocabulary: explode + group; smooth-IDF quantized to 9 dp
        "vocab_docs": _VOCAB_ORACLE,
        "tfidf_keywords_docs": _TFIDF_KEYWORDS_ORACLE,
        "token_entropy_docs": _TOKEN_ENTROPY_ORACLE,
        "boilerplate_docs": _BOILERPLATE_ORACLE,
        "url_features_docs": _URL_FEATURES_ORACLE,
        # zip_with pair formation == positional UNNEST in SQL
        "bigram_counts_docs": _BIGRAM_ORACLE,
        # byte-budget shards: md5 order + prefix-sum chop, all in SQL
        "shard_docs": _SHARD_ORACLE,
        # planted-violation codec oracles: expected per-check outcomes
        # are modular functions of the row index (no decode needed on
        # the oracle side; the Spark side must decode real bitstreams)
        "jpeg_validate": _JPEG_VALIDATE_ORACLE,
        "webp_validate": _WEBP_VALIDATE_ORACLE,
        "jpeg_psnr_gate": _JPEG_PSNR_GATE_ORACLE,
        "images_validate": _IMAGES_VALIDATE_ORACLE,
        "transcode_images": _TRANSCODE_ORACLE,
        # planted-tone / planted-re-encode multimodal oracles
        "audio_features_events": _AUDIO_FEATURES_ORACLE,
        "video_neardup_events": _VIDEO_NEARDUP_ORACLE,
        "audio_validate": _AUDIO_VALIDATE_ORACLE,
        "video_validate": _VIDEO_VALIDATE_ORACLE,
        # full-rank rotation invariance: proj norms == centered norms
        "pca_embeddings": _PCA_ORACLE,
        # distinct-value CDF == cume_dist by definition
        "rank_normalize_events": _RANK_NORMALIZE_ORACLE,
        # per-key median fill + auditable indicator
        "impute_events": _IMPUTE_ORACLE,
        "winsorize_events": _WINSORIZE_ORACLE,
        # deterministic mode fill (tie -> smallest value)
        "impute_mode_events": _IMPUTE_MODE_ORACLE,
        # greedy budget selection == one global running-sum window in SQL
        "budget_select_docs": _BUDGET_SELECT_ORACLE,
        # Laplace unigram LM + count-weighted NLL, OOV floor via min_tf prune
        "lm_quality_docs": _LM_QUALITY_ORACLE,
        # interpolated bigram NLL, compressed (doc,prev,w) grouping both sides
        "bigram_lm_docs": _BIGRAM_LM_ORACLE,
        "exact_dups_docs": _EXACT_DUP_ORACLE,
        "minhash_neardup_docs": _MINHASH_ORACLE,
        # index probe + exact verify == all-pairs truth restricted to the batch
        "incremental_neardup_docs": _INCREMENTAL_ORACLE,
        "neardup_components_docs": _NEARDUP_COMPONENTS_ORACLE,
        "dedup_resolve_docs": _DEDUP_RESOLVE_ORACLE,
        "topk_cosine": _TOPK_COSINE_ORACLE,
        # the map-side-reduced form is exact too — same value oracle
        "topk_cosine_partial": _TOPK_COSINE_ORACLE,
        # exhaustive probing (n_probe = k_cells / probe_hamming = n_planes)
        # makes IVF / multi-probe LSH exact, so the brute-force top-k SQL
        # is a true value oracle for both ANN paths
        "ivf_topk_exhaustive": _TOPK_COSINE_ORACLE,
        "lsh_topk_exhaustive": _TOPK_COSINE_ORACLE,
        # r4: the PRUNED regimes are value-checked too — deterministic
        # seeded planes (baked into the SQL as literals) / deterministic
        # one-iteration k=16 centroids make the approximate result a
        # pure function of the data
        "lsh_topk_embeddings": _lsh_topk_oracle(),
        "ivf_topk_embeddings": _IVF_TOPK_PRUNED_ORACLE,
        # small-NDV columns: the HLL++ sketch is exact, so the exact-SQL
        # stats are a true value oracle for the sketch pipeline
        "column_stats_smallndv": _SMALLNDV_ORACLE,
        # mergeable HLL sketches: oracle checks exact NDV + the
        # estimate-within-rsd contract (sketch bits not SQL-expressible)
        "hll_ndv_events": _HLL_NDV_ORACLE,
        # exact-regime t-digest (delta >> n: no centroid merges, quantile
        # == midpoint interpolation) — true value oracle for the sketch
        "tdigest_exact_quantiles": _TDIGEST_EXACT_ORACLE,
        "embedding_neardup": _EMB_NEARDUP_ORACLE,
        # md5-token-hash simhash — the whole pipeline (tokenize, bit
        # votes, sign fingerprint, Hamming<=3 pairing) value-checked
        # against brute-force all-pairs bit_count(xor()); the FNV
        # sibling stays rows-only (hash not SQL-expressible)
        "simhash_neardup_exact": _SIMHASH_EXACT_ORACLE,
        # r4: production FNV-1a mode value-checked too (byte-fold FNV
        # reproduced in SQL — see _SIMHASH_FNV_ORACLE)
        "simhash_neardup_docs": _SIMHASH_FNV_ORACLE,
        # SemDeDup in the exhaustive single-cell regime — true value
        # oracle (brute-force cosine pairs + recursive-CTE closure);
        # the clustered k=8 variant is rows-only by nature
        "semdedup_embeddings": _SEMDEDUP_ORACLE,
        # clustered regime: deterministic one-iteration k-means centroids
        # (same construction as _KMEANS_ORACLE) -> cells, pairing, keep
        # rule all re-derived in SQL
        "semdedup_clustered": _SEMDEDUP_CLUSTERED_ORACLE,
        # Lee et al. substring-span dedup: windows, keeper rank, island
        # merge re-derived in SQL (text equality decides on both sides)
        "dedup_substrings_docs": _DEDUP_SUBSTRINGS_ORACLE,
        "dedup_substrings_long_docs": _DEDUP_SUBSTRINGS_LONG_ORACLE,
        "phab_star_join": _PHAB_STAR_ORACLE,
        # derived-fingerprint variant of the image phash near-dedup —
        # deterministic bitwise mix both engines compute identically,
        # so the banded pairing is brute-force value-checked
        "phash_neardup_events": _PHASH_NEARDUP_ORACLE,
        "phash_dedup_resolve_events": _PHASH_RESOLVE_ORACLE,
        "det_split_docs": _DET_SPLIT_ORACLE,
        # closure -> canonical id -> same md5 bucket CASE, cluster-atomic
        "leakage_split_docs": _LEAKAGE_SPLIT_ORACLE,
        # per-key cap: window selection over a deterministic hash order —
        # exact-mode semantics are plain ROW_NUMBER in SQL
        "cap_per_source_docs": _CAP_PER_KEY_ORACLE,
        # context-window chunking — token slices reproduced in SQL
        "chunk_docs": _CHUNK_ORACLE,
        "mix_budget_docs": _MIX_BUDGET_ORACLE,
        "repetition_docs": _REPETITION_ORACLE,
        "contamination_docs": _CONTAMINATION_ORACLE,
        "decontaminate_docs": _DECONTAMINATE_ORACLE,
        "scrub_pii_docs": _SCRUB_PII_ORACLE,
        "pack_docs": _PACK_ORACLE,
        # aspect-bucket + batch assembly — every step (integer
        # fixed-point argmin, md5 shuffle key, per-bucket rank)
        # reproduced verbatim in SQL
        "image_batches_events": _IMAGE_BATCHES_ORACLE,
        # composed end-to-end curation (gate → decontaminate → dedup →
        # scrub) — every stage's oracle fragment chained into one query
        "curate_docs": _CURATE_ORACLE,
        "corpus_report": _CORPUS_REPORT_ORACLE,
        "sessionize_events": _SESSIONIZE_ORACLE,
        "sliding_window_events": _SLIDING_WINDOW_ORACLE,
        # union-stream as-of join vs DuckDB's native ASOF LEFT JOIN
        "asof_purchase_events": _ASOF_ORACLE,
        "asof_next_purchase_events": _ASOF_FORWARD_ORACLE,
        # Morton interleave as integer arithmetic
        "zorder_events": _ZORDER_ORACLE,
        # bloom prefilter changes the plan, not the answer — exact oracle
        "bloom_anti_events": _BLOOM_ANTI_ORACLE,
        # grouping-sets expansion inside one aggregation
        "corpus_rollup": _CORPUS_ROLLUP_ORACLE,
        # A-Res weighted sampling: quantized priority + id tie-break
        "weighted_sample_events": _WEIGHTED_SAMPLE_ORACLE,
        # aggregate assertions reproduced as one SQL aggregation + UNNEST
        "expectations_lineitem": _EXPECTATIONS_ORACLE,
        # map-side-reduced top-k == plain ROW_NUMBER semantics
        "topk_per_user_events": _TOPK_PER_KEY_ORACLE,
        # hash-compare CDC == direct value-compare CDC (collision-free data)
        "row_diff_events": _ROW_DIFF_ORACLE,
        # salting changes the plan, not the join result
        "skew_join_events": _SKEW_JOIN_ORACLE,
        # quality-argmax canonical selection over the same closure
        "dedup_resolve_quality_docs": _DEDUP_RESOLVE_QUALITY_ORACLE,
        # pivot == conditional aggregation; unpivot == UNION ALL
        "pivot_user_events": _PIVOT_ORACLE,
        "except_intersect_docs": _EXCEPT_INTERSECT_ORACLE,
        # the corpus datasheet — one aggregation, all metrics exact
        "dataset_card_docs": _DATASET_CARD_ORACLE,
        "unpivot_lineitem": _UNPIVOT_ORACLE,
        "embedding_drift": _EMBEDDING_DRIFT_ORACLE,
        # per-value PSI/JS terms re-derived in SQL (new-category case)
        "cat_drift_events": _CAT_DRIFT_ORACLE,
        "image_decontaminate_events": _IMAGE_DECONTAM_ORACLE,
        # engine gate -> crossmodal -> phash resolve -> AR batches, all in SQL
        "curate_images_events": _CURATE_IMAGES_ORACLE,
        # pigeonhole-banded probe == brute-force bit_count(xor) restricted to the batch
        "incremental_phash_events": _INCREMENTAL_PHASH_ORACLE,
        "snapshot_diff_events": _SNAPSHOT_DIFF_ORACLE,
        "crossmodal_events": _CROSSMODAL_ORACLE,
        # profiling metrics: exact SQL re-derivations
        "entropy_events": _ENTROPY_ORACLE,
        "mutual_info_events": _MUTUAL_INFO_ORACLE,
        "corr_matrix_lineitem": _CORR_ORACLE,
        # one Lloyd's iteration + assignment unrolled in SQL
        "kmeans_cells_embeddings": _KMEANS_ORACLE,
        # trailing-window z-score + relative change re-derived in SQL
        "metric_anomalies_events": _METRIC_ANOMALIES_ORACLE,
        # planted first-match-wins EXIF rules re-derived over range()
        "exif_validate": _EXIF_VALIDATE_ORACLE,
        # same planted row-level oracle shape as jpeg_validate at n=400
        "jpeg_prog_validate": _JPEG_PROG_VALIDATE_ORACLE,
        # rows-only (approximate / non-SQL-expressible): column_stats_approx,
        #   lsh_topk_embeddings, simhash_neardup_docs
    }
