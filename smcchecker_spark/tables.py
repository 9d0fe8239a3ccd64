"""Table-format seam: one adapter surface for parquet paths and Iceberg
tables, so the engine's sources/sinks (input scan, violations/verdicts
checkpoint, gated load) are format-agnostic.

North rule / input_hint name Iceberg as the production table format
(``spark.read.format("iceberg")``, gated ``writeTo().append()``, snapshot
based resume); this sandbox has no Iceberg runtime jar, so:

- ``ParquetTable`` is the fully-functional stand-in. Hive-partitioned
  parquet layouts give the SAME observable pruning behavior the engine
  relies on at scale: a partition-column predicate prunes whole
  directories at the source (``PartitionFilters`` in the scan plan,
  asserted in tests/test_plans.py + test_checkpoint.py) exactly as an
  Iceberg manifest prune would.
- ``IcebergTable`` carries the real call shapes (``spark.table``,
  ``DataFrame.writeTo(...).append()``) and fails fast with an actionable
  error when the runtime/catalog is absent — the seam a cluster
  deployment fills by adding the iceberg-spark-runtime jar and a catalog
  conf; no engine code changes.

``resume_filter`` is the §4.5 orchestration step: checkpoint table →
incomplete-partition predicate → source-level partition pruning, so a
resumed 10^12-row run reads ZERO bytes of finished partitions.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def local_frame(
    spark: SparkSession, rows: list, schema: "T.StructType | str"
) -> DataFrame:
    """A driver-built frame as a local relation: ``rows`` (tuples in
    ``schema`` order) become a ``pyarrow.Table`` with the schema's Arrow
    types, which Spark plans as ``LocalTableScan``. Reading it starts no
    job and no Python worker, where a list ``createDataFrame`` is a
    PythonRDD that unpickles its rows in Python workers on every read.
    The Arrow table is built here rather than through pandas, whose
    conversion falls back silently to the non-Arrow path."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    arrow = to_arrow_schema(schema)
    cols = [
        pa.array([r[i] for r in rows], type=f.type)
        for i, f in enumerate(arrow)
    ]
    return spark.createDataFrame(
        pa.Table.from_arrays(cols, schema=arrow), schema
    )


def write_labeled(
    df: DataFrame,
    dest: str,
    label_col: str,
    label,
    parts: list[str] | tuple = (),
    mode: str = "overwrite",
) -> None:
    """The one batch-labeled parquet writer (streaming sinks, incremental
    index appends): ``df`` lands in partition ``label_col=label`` of
    ``dest``, sub-partitioned by ``parts``. ``mode="overwrite"`` is a
    DYNAMIC-partition overwrite, replacing only the partitions this
    write produces, so a replayed batch replaces its own rows instead
    of appending them twice; ``mode="append"`` is not replay-safe."""
    (
        df.withColumn(label_col, F.lit(label))
        .write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(label_col, *parts)
        .parquet(dest)
    )


@dataclass
class ParquetTable:
    """Path-backed parquet table, optionally hive-partitioned.

    ``partition_by``: partition columns for writes. Reads of partitioned
    layouts discover the partition columns from the directory structure,
    and filters on them become ``PartitionFilters`` (directory pruning,
    zero I/O for pruned partitions).
    """

    path: str
    partition_by: list[str] = field(default_factory=list)

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path)

    def append(self, df: DataFrame) -> None:
        w = df.write.mode("append")
        if self.partition_by:
            w = w.partitionBy(*self.partition_by)
        w.parquet(self.path)

    def overwrite(self, df: DataFrame) -> None:
        w = df.write.mode("overwrite")
        if self.partition_by:
            w = w.partitionBy(*self.partition_by)
        w.parquet(self.path)


@dataclass
class IcebergTable:
    """Catalog-registered Iceberg table (``catalog.db.table``).

    Requires the iceberg-spark-runtime jar + a catalog configured via
    ``spark.sql.catalog.<name>`` — present on the production cluster,
    absent in this sandbox, hence the plan-time availability check
    (fail fast with the fix, not a deep ClassNotFoundException).
    Appends use ``writeTo().append()`` — an atomic snapshot commit, so
    the gated load's all-or-nothing property holds per table without
    the careful write ordering parquet needs.
    """

    identifier: str

    def _check(self, spark: SparkSession) -> None:
        catalog = self.identifier.split(".", 1)[0]
        if not spark.conf.get(f"spark.sql.catalog.{catalog}", None):
            raise RuntimeError(
                f"Iceberg catalog {catalog!r} is not configured. Add the "
                "iceberg-spark-runtime jar and set "
                f"spark.sql.catalog.{catalog}=org.apache.iceberg.spark."
                "SparkCatalog (plus warehouse/type confs) at submit time."
            )

    def read(self, spark: SparkSession) -> DataFrame:
        self._check(spark)
        return spark.table(self.identifier)

    def append(self, df: DataFrame) -> None:
        self._check(df.sparkSession)
        df.writeTo(self.identifier).append()

    def overwrite(self, df: DataFrame) -> None:
        self._check(df.sparkSession)
        df.writeTo(self.identifier).createOrReplace()


@dataclass
class BucketedTable:
    """Catalog table written with hash bucketing (+ optional per-bucket
    sort) on the join keys — the co-located-join layout for 10^12-row
    reference tables that can never broadcast.

    Why this exists: the RI checks (``NotInExisting``, large
    ``InLookup(broadcast_hint=False)``) join every incoming submission
    against a production snapshot. Unbucketed, EVERY validation run
    re-shuffles the full snapshot into the join's hash partitioning.
    Stored bucketed on the keys, the snapshot scan comes out of parquet
    ALREADY partitioned (and, with ``sort_by``, sorted) the way the
    sort-merge join needs it — zero exchange, zero sort on the big side,
    every run, forever. Measured plan shapes (tests/test_plans.py):
    bucketed⋈unbucketed probe = ONE exchange (the probe sliver);
    bucketed⋈bucketed (same n) = ZERO exchanges.

    Iceberg analogue on the production cluster: a ``bucket(n, key)``
    partition transform + storage-partitioned joins; this adapter is the
    session-catalog spelling of the same layout (Spark's bucketing
    metadata lives in the catalog — use a persistent metastore outside
    tests). ``n_buckets`` should be sized so one bucket's keys fit an
    executor core's task comfortably (total_rows / n_buckets ≈ 10-100M).
    """

    name: str
    bucket_by: list[str] = field(default_factory=list)
    n_buckets: int = 0
    sort_by: list[str] = field(default_factory=list)

    def _writer(self, df: DataFrame, mode: str):
        if not self.bucket_by or self.n_buckets <= 0:
            raise ValueError(
                "BucketedTable writes need bucket_by columns and a "
                f"positive n_buckets (got {self.bucket_by!r}, "
                f"{self.n_buckets})"
            )
        w = df.write.mode(mode).bucketBy(self.n_buckets, *self.bucket_by)
        if self.sort_by:
            w = w.sortBy(*self.sort_by)
        return w

    def read(self, spark: SparkSession) -> DataFrame:
        # spark.table carries the bucketing metadata into the plan; a
        # path-based parquet read of the same files would NOT
        return spark.table(self.name)

    def append(self, df: DataFrame) -> None:
        self._writer(df, "append").saveAsTable(self.name)

    def overwrite(self, df: DataFrame) -> None:
        self._writer(df, "overwrite").saveAsTable(self.name)


def as_table(sink: "str | ParquetTable | IcebergTable"):
    """Back-compat shim: plain string paths mean parquet."""
    if isinstance(sink, str):
        return ParquetTable(sink)
    return sink


def sink_for(dest: str, fmt: str = "parquet"):
    """Destination string + EXPLICIT sink format → table adapter.

    The sink format is its own decision — a production-shaped run
    validates staged parquet input and gated-appends into an Iceberg
    prod table, so the INPUT format flag must never choose the sink
    type."""
    if fmt == "iceberg":
        return IcebergTable(dest)
    if fmt == "parquet":
        return ParquetTable(dest)
    raise ValueError(f"unsupported sink format {fmt!r} (parquet|iceberg)")


# ---------------------------------------------------------------------------
# Snapshot diff → incremental revalidation
#
# The complement of crash-resume (``resume_filter``): between two
# SNAPSHOTS of a table (Iceberg snapshot ids, or two parquet drops), only
# partitions whose CONTENT changed need revalidating. At 10^12 rows the
# point is that deciding "what changed" costs one column-pruned scan per
# snapshot and shuffles |partitions| rows — never data — and the
# revalidation scope becomes a partition-column predicate the source can
# prune on.
# ---------------------------------------------------------------------------

_FP_SEP = "\x1f"
_FP_NULL = "\x00null"
_FP_PRIME = 1_000_000_007


def _row_hash(cols: list[str]):
    """Portable 60-bit content hash of a row's canonical string form —
    md5 (not xxhash64) so any SQL engine can audit the same values; NULLs
    get an explicit sentinel (concat_ws would silently collapse them)."""
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit(_FP_NULL)) for c in cols
    ]
    return F.conv(
        F.substring(F.md5(F.concat_ws(_FP_SEP, *parts)), 1, 15), 16, 10
    ).cast("long")


def partition_fingerprints(
    df: DataFrame, part_col: str = "part_id", cols: list[str] | None = None
) -> DataFrame:
    """(part, n_rows, xor_hash, sum_hash): order-independent content
    fingerprint per partition — ONE scan, map-side partial agg, a
    |partitions|-row shuffle.

    xor_hash is the bit_xor of the row hashes (commutative: row order,
    file splits, and shuffles don't matter). A pair of identical added
    rows cancels in the xor, so sum_hash (row hashes mod a prime, summed)
    and n_rows back it up; the trio is a probabilistic fingerprint, not a
    proof — same standard the engine's checkpoint checksums use.
    sum_hash stays in int64 up to ~9e9 rows per partition."""
    cols = (
        cols
        if cols is not None
        else sorted(c for c in df.columns if c != part_col)
    )
    h = _row_hash(cols)
    return df.groupBy(F.col(part_col).alias("part")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.bit_xor(h).alias("xor_hash"),
        F.sum(F.pmod(h, F.lit(_FP_PRIME))).alias("sum_hash"),
    )


def snapshot_diff(
    current: DataFrame,
    baseline: DataFrame,
    part_col: str = "part_id",
    cols: list[str] | None = None,
) -> DataFrame:
    """Partition-level diff between two table snapshots:
    (part, status, n_rows_current, n_rows_baseline) with status in
    {added, removed, changed, unchanged}. Two fingerprint scans + a
    full-outer join of two |partitions|-row tables (AQE broadcasts)."""
    cur = partition_fingerprints(current, part_col, cols)
    base = partition_fingerprints(baseline, part_col, cols).select(
        F.col("part").alias("bpart"),
        F.col("n_rows").alias("b_n_rows"),
        F.col("xor_hash").alias("b_xor"),
        F.col("sum_hash").alias("b_sum"),
    )
    j = cur.join(base, cur["part"] == base["bpart"], "full_outer")
    status = (
        F.when(F.col("bpart").isNull(), F.lit("added"))
        .when(F.col("part").isNull(), F.lit("removed"))
        .when(
            (F.col("n_rows") != F.col("b_n_rows"))
            | (F.col("xor_hash") != F.col("b_xor"))
            | (F.col("sum_hash") != F.col("b_sum")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
    )
    return j.select(
        F.coalesce(F.col("part"), F.col("bpart")).alias("part"),
        status.alias("status"),
        F.coalesce(F.col("n_rows"), F.lit(0)).alias("n_rows_current"),
        F.coalesce(F.col("b_n_rows"), F.lit(0)).alias("n_rows_baseline"),
    )


def stale_partitions(diff: DataFrame) -> set:
    """Partition ids needing revalidation (added or changed) — a bounded
    collect (|partitions|, never rows), the same legitimacy class as
    ``CheckpointStore.completed_partitions``."""
    return {
        r["part"]
        for r in diff.filter(
            F.col("status").isin("added", "changed")
        ).select("part").collect()
    }


def scope_to_partitions(
    df: DataFrame, parts: set, part_col: str = "part_id"
) -> DataFrame:
    """Restrict a scan to the given partitions — a partition-column
    ``isin`` predicate, so a hive/Iceberg-partitioned source prunes the
    rest at zero I/O (the incremental-revalidation analogue of
    ``resume_filter``). Empty set = nothing to revalidate."""
    if not parts:
        return df.filter(F.lit(False))
    return df.filter(F.col(part_col).isin(list(parts)))


def resume_filter(
    df: DataFrame, done_parts: set, part_col: str = "part_id"
) -> DataFrame:
    """Prune completed partitions from the input scan (SURVEY §4.5).

    The predicate is on the PARTITION column, so on a hive-partitioned
    parquet layout (or an Iceberg-partitioned table) it prunes at the
    source — finished partitions cost zero I/O on resume, not a scan +
    filter. Plan-asserted in tests/test_checkpoint.py.
    """
    if not done_parts:
        return df
    # NULL-safe: ~isin() is NULL (not true) for NULL partition values, so
    # a plain negated isin would silently drop NULL-part rows from every
    # resume wave — unvalidated rows passing the gate. NULL can never be
    # a completed partition id, so it always stays in the todo set (and
    # fails loudly downstream where wave grouping requires a part id).
    return df.filter(
        F.col(part_col).isNull() | ~F.col(part_col).isin(list(done_parts))
    )


# ---------------------------------------------------------------------------
# Small-file compaction (table maintenance)
# ---------------------------------------------------------------------------
#
# Long-running validation pipelines accrete small files: every checkpoint
# wave appends a few violation/metrics files per partition, and streaming
# foreachBatch sinks append per trigger. At 10^12-row scale the scan cost
# of a partition is dominated by file-open overhead once files shrink
# below a row group. Iceberg solves this with rewrite_data_files (a
# snapshot-atomic replace); the parquet stand-in below mirrors the same
# observable behavior — per-partition file census, selective rewrite,
# rename-swap — so callers code against one surface.


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath, jvm


def file_census(spark: SparkSession, path: str) -> list[dict]:
    """One dict per leaf directory (partition) under ``path``:
    {partition, n_files, bytes} counting data files only. Driver-side
    listing — bounded by partition/file counts, never rows (the same
    listing any planner does)."""
    fs, root, jvm = _hadoop_fs(spark, path)
    out: dict[str, dict] = {}
    it = fs.listFiles(root, True)  # recursive
    while it.hasNext():
        st = it.next()
        p = st.getPath()
        name = p.getName()
        if not name.endswith(".parquet") or name.startswith(("_", ".")):
            continue
        part = p.getParent().toString()
        rec = out.setdefault(
            part, {"partition": part, "n_files": 0, "bytes": 0}
        )
        rec["n_files"] += 1
        rec["bytes"] += st.getLen()
    return sorted(out.values(), key=lambda r: r["partition"])


def compact_path(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 << 20,
    min_files: int = 2,
) -> list[dict]:
    """Rewrite every leaf partition whose file count exceeds what
    ``target_file_bytes`` warrants. Returns the actions taken:
    {partition, files_before, files_after, bytes}.

    Each selected partition is read (its files only — no sibling I/O),
    coalesced to ``ceil(bytes / target)`` files, written beside the
    original, and swapped in by rename (orig → .compact_old, tmp → orig,
    delete old) — the closest a filesystem gets to Iceberg's
    snapshot-atomic rewrite_data_files; a crash between the renames
    leaves the ``.compact_old`` directory intact for manual recovery,
    never a half-written partition in place. Readers concurrent with the
    swap are NOT isolated (use the Iceberg seam for that); run
    compaction between waves, which is when the checkpoint orchestrator
    is idle anyway.

    ``min_files``: partitions with fewer files are never touched — a
    single-file partition cannot get better.
    """
    fs, _, jvm = _hadoop_fs(spark, path)
    Path = jvm.org.apache.hadoop.fs.Path
    actions = []
    for rec in file_census(spark, path):
        want = max(1, -(-rec["bytes"] // target_file_bytes))  # ceil
        if rec["n_files"] < min_files or rec["n_files"] <= want:
            continue
        part = rec["partition"]
        tmp = part + ".compact_tmp"
        old = part + ".compact_old"
        (
            spark.read.parquet(part)
            .coalesce(int(want))
            .write.mode("overwrite")
            .parquet(tmp)
        )
        if not fs.rename(Path(part), Path(old)):
            raise IOError(f"compaction swap failed renaming {part}")
        if not fs.rename(Path(tmp), Path(part)):
            # put the original back before failing
            fs.rename(Path(old), Path(part))
            raise IOError(f"compaction swap failed installing {tmp}")
        fs.delete(Path(old), True)
        after = sum(r["n_files"] for r in file_census(spark, part))
        actions.append(
            {
                "partition": part,
                "files_before": rec["n_files"],
                "files_after": after,
                "bytes": rec["bytes"],
            }
        )
    return actions


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_col: str | None = None,
) -> dict:
    """Upsert ``updates`` into a parquet table: rows whose key matches an
    existing row REPLACE it; new keys are inserted. The parquet stand-in
    for Iceberg's MERGE INTO, with the same scale discipline:

    - **partition-scoped rewrite** (``partition_col`` set, table written
      with that hive layout): only partitions whose value appears in
      ``updates`` are read (partition-pruned scan) and swapped; every
      other partition's files are untouched bytes. Keys match within
      their partition value — a row whose partition value changes is an
      INSERT in the new partition and leaves the old row in place
      (exactly the caveat Iceberg documents for static overwrite; do
      key-partition-stable CDC or delete first).
    - **whole-table rewrite** (no ``partition_col``): one anti-join +
      union + swap. Fine for metadata-sized tables; at 10^12 rows use
      the partitioned form.

    Returns {partitions_rewritten, rows_updated, rows_inserted}.
    Duplicate keys in ``updates`` are rejected — "the" new row would be
    ambiguous. Swap is rename-based like :func:`compact_path` (crash
    leaves ``.merge_old`` behind, never a half-written partition);
    concurrent readers are not isolated — the Iceberg seam is the
    snapshot-atomic path.
    """
    dup = (
        updates.groupBy(*key_cols).count().filter(F.col("count") > 1).limit(1)
    )
    if dup.count() > 0:
        raise ValueError(f"updates contain duplicate keys on {key_cols}")
    fs, _, jvm = _hadoop_fs(spark, path)
    Path = jvm.org.apache.hadoop.fs.Path

    updates = updates.localCheckpoint(eager=True)  # referenced 3x below
    target = spark.read.parquet(path)
    if partition_col is not None:
        vals = [r[0] for r in updates.select(partition_col).distinct().collect()]
        scoped = target.filter(F.col(partition_col).isin(vals))
        match_keys = list(key_cols) + [partition_col]
    else:
        vals = None
        scoped = target
        match_keys = list(key_cols)

    kept = scoped.join(updates.select(*match_keys), match_keys, "left_anti")
    n_before = scoped.count()
    n_kept = kept.count()
    n_upd = n_before - n_kept
    merged = kept.unionByName(updates.select(*scoped.columns))

    tmp = path + ".merge_tmp"
    if partition_col is not None:
        merged.write.mode("overwrite").partitionBy(partition_col).parquet(tmp)
        swapped = 0
        for v in vals:
            sub = f"{partition_col}={v}"
            src, dst = Path(f"{tmp}/{sub}"), Path(f"{path}/{sub}")
            old = Path(f"{path}/{sub}.merge_old")
            if fs.exists(dst):
                if not fs.rename(dst, old):
                    raise IOError(f"merge swap failed moving {sub} aside")
            if not fs.rename(src, dst):
                if fs.exists(old):
                    fs.rename(old, dst)
                raise IOError(f"merge swap failed installing {sub}")
            if fs.exists(old):
                fs.delete(old, True)
            swapped += 1
        fs.delete(Path(tmp), True)
    else:
        merged.write.mode("overwrite").parquet(tmp)
        old = Path(path + ".merge_old")
        if not fs.rename(Path(path), old):
            raise IOError("merge swap failed moving table aside")
        if not fs.rename(Path(tmp), Path(path)):
            fs.rename(old, Path(path))
            raise IOError("merge swap failed installing merged table")
        fs.delete(old, True)
        swapped = 1
    return {
        "partitions_rewritten": swapped,
        "rows_updated": n_upd,
        "rows_inserted": updates.count() - n_upd,
    }


def row_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Row-level CDC between two snapshots: one row per differing key
    with ``change`` ∈ {insert, delete, update} plus the key columns —
    the row-granularity complement of :func:`snapshot_diff` (partition
    fingerprints). Scope a 10^12-row diff by running snapshot_diff
    FIRST and feeding only stale partitions here (both inputs
    partition-pruned); the join then shuffles changed partitions, not
    the table.

    Rows compare by an xxhash64 over ``compare_cols`` (default: all
    non-key columns, sorted for stability) — only keys and one long per
    row move through the full-outer join, never payloads. NULL-safe:
    hashing a typed NULL is stable, so NULL→value and value→NULL count
    as updates. Keys must be unique per snapshot (it is a keyed diff).
    """
    if not key_cols:
        raise ValueError("row_diff needs at least one key column")
    compare_cols = (
        sorted(compare_cols)
        if compare_cols is not None
        else sorted(c for c in new.columns if c not in key_cols)
    )

    def side(df: DataFrame, tag: str) -> DataFrame:
        missing = [c for c in list(key_cols) + compare_cols if c not in df.columns]
        if missing:
            raise ValueError(f"{tag} snapshot lacks columns {missing}")
        return df.select(
            *key_cols,
            F.xxhash64(*[F.col(c) for c in compare_cols]).alias(f"__h_{tag}"),
        )

    o, n = side(old, "old"), side(new, "new")
    joined = o.join(n, list(key_cols), "full_outer")
    change = (
        F.when(F.col("__h_old").isNull(), F.lit("insert"))
        .when(F.col("__h_new").isNull(), F.lit("delete"))
        .when(F.col("__h_old") != F.col("__h_new"), F.lit("update"))
    )
    return (
        joined.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(*key_cols, "change")
    )


_NUM_WIDTH = {  # keyed by DataType.typeName()
    "byte": 0, "short": 1, "integer": 2, "long": 3,
    "float": 4, "double": 5,
}


def _widened(a, b):
    """Widest common type of two Spark DataTypes, or None if they are
    incompatible without data loss beyond standard numeric widening."""
    from pyspark.sql import types as T

    if a == b:
        return a
    an, bn = a.typeName(), b.typeName()
    if an == "decimal" or bn == "decimal":
        other = bn if an == "decimal" else an
        if other == "decimal" or other in _NUM_WIDTH:
            return T.DoubleType()
        return None
    if an in _NUM_WIDTH and bn in _NUM_WIDTH:
        return a if _NUM_WIDTH[an] >= _NUM_WIDTH[bn] else b
    if {an, bn} == {"date", "timestamp"}:
        return T.TimestampType()
    if {an, bn} == {"date", "timestamp_ntz"}:
        return T.TimestampNTZType()
    return None


def union_with_evolution(
    sources: "dict[str, DataFrame]",
    source_col: str | None = "source",
    cast_to_string: bool = False,
) -> DataFrame:
    """Union corpora whose schemas have drifted apart — the multi-source
    ingest reality (a crawl dump, a vendor drop, last year's export) that
    plain ``unionByName`` rejects with a deep AnalysisException.

    Column set = first-seen order across ``sources`` (dict order);
    missing columns fill NULL; conflicting types resolve by explicit
    lossless-ish widening (numeric width order tinyint→double, decimal→
    double, date→timestamp). Incompatible drift (int vs string, scalar
    vs array) raises ``ValueError`` NAMING the columns and per-source
    types — the error a data engineer can act on — unless
    ``cast_to_string=True``, which falls back to casting those columns
    to string (auditable, never throws at runtime under ANSI mode).
    ``source_col`` (set None to skip) prepends each row's provenance —
    the tag every downstream per-source health rollup keys on.

    Scale: pure per-source projections + UNION ALL — map-only, ZERO
    shuffles, no driver data movement; Catalyst pushes filters/pruning
    through the union into every source scan.

    Reference parity: the reference loads each submission against one
    fixed schema (proj/load.py); schema evolution across historical
    corpora is part of the beyond-reference table layer (Iceberg
    analogue: schema evolution + UNION of snapshots).
    """
    from pyspark.sql import types as T

    if not sources:
        raise ValueError("sources must be non-empty")
    target: dict = {}
    per_source: dict = {}
    for name, df in sources.items():
        for f in df.schema.fields:
            per_source.setdefault(f.name, {})[name] = f.dataType
            if f.name not in target:
                target[f.name] = f.dataType
            else:
                w = _widened(target[f.name], f.dataType)
                target[f.name] = w if w is not None else None
    bad = [c for c, t in target.items() if t is None]
    if bad:
        if cast_to_string:
            for c in bad:
                target[c] = T.StringType()
        else:
            detail = "; ".join(
                f"{c}: " + ", ".join(
                    f"{src}={dt.simpleString()}"
                    for src, dt in per_source[c].items()
                )
                for c in bad
            )
            raise ValueError(
                f"incompatible column types across sources ({detail}); "
                "pass cast_to_string=True to fold them to string"
            )
    out = None
    for name, df in sources.items():
        have = {f.name for f in df.schema.fields}
        cols = []
        if source_col is not None:
            cols.append(F.lit(name).alias(source_col))
        for c, t in target.items():
            cols.append(
                (F.col(c).cast(t) if c in have else F.lit(None).cast(t)).alias(c)
            )
        part = df.select(*cols)
        out = part if out is None else out.unionByName(part)
    return out


def vacuum_path(
    spark: SparkSession,
    path: str,
    dry_run: bool = False,
) -> list[str]:
    """Remove maintenance debris under ``path``: ``.compact_old`` /
    ``.compact_tmp`` directories left by a :func:`compact_path` or
    :func:`merge_upsert` crash, and Spark ``_temporary`` staging
    directories from killed writes. Returns the deleted (or, with
    ``dry_run=True``, merely listed) paths.

    Deliberately NARROW: only suffixes this module itself creates plus
    the Spark staging name are touched — live data files are
    structurally unreachable. A ``.compact_old`` is the pre-swap
    ORIGINAL of a partition whose install step crashed; vacuum deletes
    it only when the partition itself exists again (i.e. the swap
    completed or was rolled back) — an orphan whose partition is MISSING
    is restored by rename instead of deleted, finishing the crashed
    swap's rollback. Iceberg analogue: expire_snapshots +
    remove_orphan_files.

    Driver-side listing (same bounded file-count regime as
    :func:`file_census`); no data I/O."""
    fs, _, jvm = _hadoop_fs(spark, path)
    Path = jvm.org.apache.hadoop.fs.Path
    removed: list[str] = []

    def walk(p):
        for st in fs.listStatus(Path(p)):
            if not st.isDirectory():
                continue
            sp = st.getPath().toString()
            name = st.getPath().getName()
            if name.endswith(".compact_old"):
                orig = sp[: -len(".compact_old")]
                if not fs.exists(Path(orig)):
                    # crashed between the two renames: finish the
                    # rollback instead of deleting the only copy
                    if not dry_run:
                        fs.rename(Path(sp), Path(orig))
                    removed.append(f"restored:{sp}")
                    continue
                removed.append(sp)
                if not dry_run:
                    fs.delete(Path(sp), True)
            elif name.endswith(".compact_tmp") or name == "_temporary":
                removed.append(sp)
                if not dry_run:
                    fs.delete(Path(sp), True)
            else:
                walk(sp)

    walk(path)
    return removed
