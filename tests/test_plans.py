"""Physical-plan shape assertions — the properties that matter at 100 TB.

Each test runs ``explain(formatted)`` (or the executed-plan string) and
asserts structural facts, not timings:

- a row-only suite compiles to ONE scan with ZERO exchanges (all checks
  evaluated in a single whole-stage-codegen'd projection), and a suite
  with join-level checks stays one path: no Union of per-check passes;
- Catalyst column pruning keeps heavy columns (``bytes``) out of the
  parquet ReadSchema when no constraint references them;
- lookup-RI joins are broadcast (no shuffle of the fact side);
- the one-pass stats aggregate is partial+final (no row shuffle — only
  per-partition partial rows cross the exchange).
"""

import os
import re
import sys

import pytest
from pyspark.sql import functions as F

from smcchecker_spark.compile import compile_suite
from smcchecker_spark.constraints import (
    InLookup,
    MaxLength,
    NotNull,
    Range,
    Suite,
    Unique,
    ValidationContext,
)
from smcchecker_spark import stats


@pytest.fixture(scope="module")
def images_parquet(spark, tmp_path_factory):
    from smcchecker_spark import fixtures

    path = str(tmp_path_factory.mktemp("plans") / "images.parquet")
    fixtures.generate_images(spark, n_rows=200, n_parts=4).write.parquet(path)
    return path


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


ROW_SUITE = Suite(
    name="row_only",
    table="images",
    constraints=[
        NotNull("caption"),
        MaxLength("caption", max_length=256),
        Range("h", lo=1, hi=4096),
    ],
)


def test_fused_row_pass_single_scan_no_exchange(spark, images_parquet):
    df = spark.read.parquet(images_parquet)
    out = compile_suite(df, ROW_SUITE, row_id_col="image_id")
    plan = _plan(out)
    assert plan.count("Exchange") == 0, plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "codegen id" in plan  # projection runs inside whole-stage codegen


def test_column_pruning_excludes_bytes(spark, images_parquet):
    """A suite with no image constraint must never deserialize ``bytes`` —
    at 10^12 rows the payload column dominates I/O."""
    df = spark.read.parquet(images_parquet)
    out = compile_suite(df, ROW_SUITE, row_id_col="image_id")
    plan = _plan(out)
    read_schema = re.search(r"ReadSchema: (.*)", plan)
    assert read_schema and "bytes" not in read_schema.group(1), plan


def test_images_suite_single_compile_path(spark, images_parquet):
    """The deployed suite (configs/images_suite.json: two row checks,
    Unique, InLookup, ImageConsistent) compiles to ONE path: the input
    scan plus Unique's key-aggregate scan, no Union of per-check passes,
    and the decode UDF in one Arrow stage."""
    from smcchecker_spark import fixtures

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "scripts"))
    from run_validation import load_suite

    suite, row_id_col, part_id_col = load_suite(
        os.path.join(root, "configs", "images_suite.json")
    )
    ctx = ValidationContext(lookups={"lu_fmt": fixtures.lu_fmt(spark)})
    out = compile_suite(spark.read.parquet(images_parquet), suite, ctx,
                        row_id_col=row_id_col, part_id_col=part_id_col)
    plan = _plan(out)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2, plan
    assert "Union" not in plan, plan
    assert len(re.findall(r"ArrowEvalPython \(\d+\)", plan)) == 1, plan


def test_lookup_join_is_broadcast(spark, images_parquet):
    from smcchecker_spark import fixtures

    df = spark.read.parquet(images_parquet)
    suite = Suite(
        name="lu",
        table="images",
        constraints=[InLookup("fmt", lookup="lu_fmt", lookup_key="fmt")],
    )
    ctx = ValidationContext(lookups={"lu_fmt": fixtures.lu_fmt(spark)})
    out = compile_suite(df, suite, ctx, row_id_col="image_id")
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan, plan
    # the fact side must not shuffle for a broadcast anti join
    assert "Exchange hashpartitioning" not in plan, plan


def test_lookup_fixture_broadcast_starts_no_python_job(
    spark, images_parquet, spark_jobs
):
    """``lu_fmt`` is a local relation: reading it starts no job, and the
    lookup broadcast's build side is a ``LocalTableScan``, not a Python
    RDD whose rows each broadcast unpickles in Python workers. (The
    broadcast exchange itself still runs one JVM job over the local
    rows.)"""
    from smcchecker_spark import fixtures

    lu = fixtures.lu_fmt(spark)
    with spark_jobs("test_lu_fmt_read") as jobs:
        rows = lu.collect()
    assert jobs == [] and len(rows) == 3
    suite = Suite(
        name="lu",
        table="images",
        constraints=[InLookup("fmt", lookup="lu_fmt", lookup_key="fmt")],
    )
    ctx = ValidationContext(lookups={"lu_fmt": lu})
    plan = _plan(compile_suite(spark.read.parquet(images_parquet), suite, ctx))
    build = plan[plan.index("BroadcastExchange"):]
    assert "LocalTableScan" in build and "ExistingRDD" not in plan, plan


def test_stats_one_pass_partial_final(spark, images_parquet):
    df = spark.read.parquet(images_parquet)
    out = stats.column_stats(df, ["w", "h", "caption"])
    plan = _plan(out)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    # partial + final hash aggregate around a single-row exchange
    assert plan.count("HashAggregate") >= 2, plan
    read_schema = re.search(r"ReadSchema: (.*)", plan)
    assert read_schema and "bytes" not in read_schema.group(1), plan


def test_unique_single_shuffle_on_keys(spark, images_parquet):
    """Uniqueness = groupBy(pk) + join-back: the only *data* exchange is
    the hash partitioning on the key (AQE turns the tiny dup-key side
    into a broadcast at runtime)."""
    df = spark.read.parquet(images_parquet)
    suite = Suite(name="u", table="images", constraints=[Unique(["image_id"])])
    out = compile_suite(df, suite, row_id_col="image_id")
    # executed plan (AQE finalizes join strategy at runtime)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_resume_filter_prunes_partitioned_source(spark, tmp_path_factory):
    """The checkpoint/resume predicate (part_id IN completed-set) must
    prune PARTITIONS at the source on a hive-partitioned layout — the
    scan's partition count drops to the selected subset, so finished
    partitions cost zero I/O on resume (Iceberg manifests behave the
    same way on a cluster)."""
    from smcchecker_spark import fixtures

    path = str(tmp_path_factory.mktemp("p") / "img_part.parquet")
    fixtures.generate_images(spark, n_rows=200, n_parts=4).write.partitionBy(
        "part_id"
    ).parquet(path)
    df = spark.read.parquet(path).filter(F.col("part_id").isin([2, 3]))
    plan = _plan(df.select("image_id"))
    m = re.search(r"PartitionFilters: \[.*part_id.*\]", plan)
    assert m, plan
    # the executed scan reads only the 2 selected hive partitions
    files = {r[0] for r in df.select(F.input_file_name()).distinct().collect()}
    assert files and all("part_id=2" in f or "part_id=3" in f for f in files)


def test_filter_pushdown_reaches_scan(spark, images_parquet):
    df = spark.read.parquet(images_parquet).filter(F.col("part_id") == 2)
    plan = _plan(df.select("image_id"))
    assert re.search(r"PushedFilters: \[.*part_id.*\]", plan), plan


def test_psi_probs_single_pass_over_inputs(spark, tmp_path_factory):
    """Regression: histogram totals must come from a window over the tiny
    joined histogram, not an agg + crossJoin that references (and thus
    recomputes) the unmaterialized join — that doubled the scans feeding
    BOTH histograms (4 scans of the source instead of 2)."""
    path = str(tmp_path_factory.mktemp("psi") / "vals.parquet")
    spark.range(2000).select(
        F.col("id"), (F.col("id") % 97).cast("double").alias("value")
    ).write.parquet(path)
    df = spark.read.parquet(path)
    cur = stats.histogram(df.filter(F.col("id") % 2 == 0), "value", 0.0, 100.0, 10)
    base = stats.histogram(df.filter(F.col("id") % 2 == 1), "value", 0.0, 100.0, 10)
    plan = _plan(stats._joined_probs(cur, base, eps=1e-6))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2, plan


def test_simhash_pairs_single_udf_pass(spark, tmp_path_factory):
    """Regression: ONE simhash-UDF pass even when the hot-bucket branch
    is live. The small/hot split union references the bucket aggregate
    three times (small, hot probe, hot build); without the explicit
    null-key filter in bucketed_pairs the hot join's pushed isnotnull
    de-canonicalizes the branches and the corpus scan + fingerprint UDF
    run once PER BRANCH. The executed plan must show one ArrowEvalPython
    and ReusedExchange for the other consumers."""
    from smcchecker_spark.ops import dedup

    path = str(tmp_path_factory.mktemp("sh") / "docs.parquet")
    spark.range(300).select(
        F.col("id").alias("doc_id"),
        # 40 groups of near-identical docs → buckets > 8 members, so the
        # hot branch (hot_bucket=8) is actually exercised
        F.concat(F.lit("text body "), (F.col("id") % 40).cast("string")).alias(
            "text"
        ),
    ).write.parquet(path)
    df = spark.read.parquet(path)
    out = dedup.simhash_near_dups(df, "doc_id", hot_bucket=8)
    out.collect()
    final = (
        out._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert len(re.findall(r"ArrowEvalPython", final)) == 1, final
    assert "ReusedExchange" in final, final


def test_phash_near_dups_no_udf_single_scan(spark, tmp_path_factory):
    """Image near-dedup over a STORED phash column must stay entirely
    JVM-side (zero Python stages — payload bytes are never re-read) and
    scan the fingerprint table once, with exchange reuse across the
    skew-split branches."""
    from smcchecker_spark.ops import dedup

    path = str(tmp_path_factory.mktemp("ph") / "imgs.parquet")
    spark.range(300).select(
        F.col("id").alias("image_id"),
        # 30 groups sharing a phash → buckets > 8, hot branch live
        (F.col("id") % 30).cast("long").alias("phash"),
    ).write.parquet(path)
    df = spark.read.parquet(path)
    out = dedup.phash_near_dups(df, hot_bucket=8)
    out.collect()
    final = (
        out._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert "ArrowEvalPython" not in final, final
    assert "BatchEvalPython" not in final, final
    assert len(re.findall(r"Scan parquet", final)) == 1, final
    assert "ReusedExchange" in final, final


def test_minhash_est_attach_prunes_resign_pass(spark, tmp_path_factory):
    """Regression (advisor): with_est=True used to re-scan the corpus and
    re-run the signature UDF over EVERY doc for the est attach. Now the
    candidate set is checkpointed and the re-sign pass is semi-join
    pruned to candidate docs: the est query plan shows exactly one
    signature UDF (over the pruned side), one parquet scan, and a
    broadcast LeftSemi prune."""
    from smcchecker_spark.ops import dedup

    path = str(tmp_path_factory.mktemp("mh") / "docs.parquet")
    spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("shared boilerplate words here "),
            (F.col("id") % 25).cast("string"),
        ).alias("text"),
    ).write.parquet(path)
    df = spark.read.parquet(path)
    est = dedup.minhash_candidate_pairs(
        df, "doc_id", num_hashes=16, bands=8, with_est=True
    )
    plan = _plan(est)
    # blocking already materialized (localCheckpoint) — the est query
    # itself re-signs only the semi-join-pruned candidate slice
    # (tree-section node, not the repeated detail header)
    assert len(re.findall(r"ArrowEvalPython \(\d+\)", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "LeftSemi" in plan, plan


def test_exact_dedup_single_scan(spark, tmp_path_factory):
    """Regression: window-count formulation — ONE scan, ONE exchange on
    the fingerprint (the groupBy-sizes + join-back form scanned twice)."""
    from smcchecker_spark.ops import dedup

    path = str(tmp_path_factory.mktemp("dd") / "docs.parquet")
    spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), (F.col("id") % 50).cast("string")).alias("text"),
    ).write.parquet(path)
    df = spark.read.parquet(path)
    plan = _plan(dedup.exact_duplicates(df, "doc_id"))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_aspect_bucket_assignment_map_only(spark, images_parquet):
    """Bucket assignment is a pure projection: zero exchanges, zero
    Python stages, one scan — the argmin compiles into literal-struct
    array_min inside whole-stage codegen."""
    from smcchecker_spark.ops import batching

    df = spark.read.parquet(images_parquet).select("image_id", "w", "h")
    p = _plan(batching.assign_aspect_bucket(df))
    assert "Exchange" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1


def test_image_batches_no_per_bucket_window(spark, images_parquet):
    """The final batch-assignment plan: the only row shuffle is the
    (bucket, range) hash exchange the P-way window needs — the offset
    attach is a broadcast join, and no window runs with a bucket-only
    (or empty) partition spec, so no bucket ever sorts in one task."""
    from smcchecker_spark.ops import batching

    df = spark.read.parquet(images_parquet).select("image_id", "w", "h")
    out = batching.image_batches(df, batch_size=16, num_ranges=4)
    p = _plan(out)
    assert "BroadcastHashJoin" in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    # exactly one row-shuffle exchange (hashpartitioning for the window);
    # broadcast exchanges don't move the corpus. In formatted explain the
    # partitioning shows up on the node's "Arguments:" line.
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1, p
    shuffles = re.findall(r"hashpartitioning\(([^)]*)\)", p)
    assert len(shuffles) == 1, p
    assert "bucket_id" in shuffles[0] and "_rid" in shuffles[0]


def test_bucketed_ri_join_never_shuffles_production(spark, tmp_path_factory):
    """The 10^12-row referential-integrity plan (tables.BucketedTable +
    NotInExisting(distinct_keys=False, null_safe=False)): the production
    snapshot scan comes out of parquet already bucket-partitioned and
    sorted — the ONLY exchange in the whole check is the incoming
    submission (a sliver); flipping either scale flag back re-shuffles
    the big side (regression-locked)."""
    from smcchecker_spark.constraints import (
        NotInExisting, Suite, ValidationContext,
    )
    from smcchecker_spark.compile import compile_suite
    from smcchecker_spark.tables import BucketedTable

    prod = BucketedTable("t_prod_ri", bucket_by=["doc_id"], n_buckets=8,
                         sort_by=["doc_id"])
    prod.overwrite(
        spark.range(5000).select(F.col("id").alias("doc_id"))
    )
    probe = spark.range(100).select(
        F.col("id").alias("doc_id"), (F.col("id") % 4).alias("part_id")
    )
    suite = Suite("t", "t", [
        NotInExisting(["doc_id"], existing="prod",
                      distinct_keys=False, null_safe=False),
    ])
    ctx = ValidationContext(existing={"prod": prod.read(spark)})
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        v = compile_suite(probe, suite, ctx, row_id_col="doc_id",
                          part_id_col="part_id")
        p = _plan(v)
        assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1, p
        assert "SortMergeJoin" in p
        # and the scale flags are load-bearing: defaults re-shuffle prod
        suite2 = Suite("t", "t", [NotInExisting(["doc_id"], existing="prod")])
        p2 = _plan(compile_suite(probe, suite2, ctx, row_id_col="doc_id",
                                 part_id_col="part_id"))
        assert len(re.findall(r"\(\d+\) Exchange\b", p2)) >= 2, p2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_prod_ri")


def test_bucketed_bucketed_join_zero_exchanges(spark):
    """Two tables bucketed on the join key with the same bucket count
    co-locate: the equi-join plans with ZERO exchanges on either side."""
    from smcchecker_spark.tables import BucketedTable

    a = BucketedTable("t_buck_a", bucket_by=["k"], n_buckets=4, sort_by=["k"])
    b = BucketedTable("t_buck_b", bucket_by=["k"], n_buckets=4, sort_by=["k"])
    a.overwrite(spark.range(2000).select(F.col("id").alias("k")))
    b.overwrite(spark.range(500).select(F.col("id").alias("k"),
                                        (F.col("id") * 2).alias("v")))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = a.read(spark).join(b.read(spark), "k")
        p = _plan(j)
        assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 0, p
        assert j.count() == 500
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_buck_a")
        spark.sql("DROP TABLE IF EXISTS t_buck_b")


def test_substring_spans_no_python_stage(spark, tmp_path_factory):
    """The Lee-et-al substring-span operator is entirely JVM-side: the
    window-hash projection, candidate grouping, exact-text confirm, and
    island merge compile to zero Python/Arrow eval stages (the hash
    phase shuffles (hash, id, pos) only — asserted indirectly: no
    Python stage means no per-window Python cost at 10^12 positions)."""
    from smcchecker_spark.ops import substrings

    path = str(tmp_path_factory.mktemp("ss") / "docs.parquet")
    spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[F.concat(F.lit("w"), ((F.col("id") + F.lit(i)) % 7)
                       .cast("string")) for i in range(12)],
        ).alias("text"),
    ).write.parquet(path)
    df = spark.read.parquet(path)
    # the full-corpus stage (window hashing → per-hash counts): one
    # scan, no Python, and the shuffle carries (h, id, pos) only
    hashes = substrings._window_hashes(df, "doc_id", "text", 8)
    hplan = _plan(
        hashes.groupBy("h").count()
    )
    assert "EvalPython" not in hplan, hplan
    assert len(re.findall(r"\(\d+\) Scan parquet", hplan)) == 1, hplan
    # end-to-end (post-candidate stages run from a checkpointed sliver)
    plan = _plan(
        substrings.duplicate_substring_spans(df, window=8)
    )
    assert "EvalPython" not in plan, plan  # no Batch/ArrowEvalPython


def test_long_substring_spans_no_python_stage(spark, tmp_path_factory):
    """Seed-and-extend long-passage dedup is JVM-side end to end: seed
    hashing, bucketed pairing, diagonal chaining, and the interval
    merge compile to zero Python/Arrow stages, and the seed shuffle
    carries (h, id, pos) only (no text columns in the exchange)."""
    from smcchecker_spark.ops import substrings

    path = str(tmp_path_factory.mktemp("ls") / "docs.parquet")
    passage = " ".join(f"p{i}" for i in range(80))
    spark.createDataFrame(
        [(1, "intro " + passage), (2, passage + " outro"),
         (3, "unrelated text entirely " * 10)],
        "doc_id long, text string",
    ).write.parquet(path)
    df = spark.read.parquet(path)
    plan = _plan(
        substrings.long_duplicate_spans(df, seed_window=4, min_len=40)
    )
    assert "EvalPython" not in plan, plan
    # pair/chain shuffles must never carry the text column
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line, line


def test_phab_star_join_plan_shape(spark):
    """The PHAB flagship star (verdict item 4): executed plan has ALL
    dimension joins broadcast (incl. the supplier-side nation/region
    aliases and the geometry LEFT join) and at most 2 shuffle
    exchanges — the per-branch personnel-concat windows on the join's
    own orderkey. Zero Python stages."""
    import __spark_entry__ as entry_mod

    df = entry_mod.q_phab_star_join(spark, "/root/testdata/sf0.001")
    assert df.count() > 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 10, plan
    shuffles = plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    )
    assert shuffles <= 2, plan
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
