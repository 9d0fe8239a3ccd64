"""A checkpoint wave's commit: after the violations write, one collect of
the wave summary feeds the metrics, sketch and verdict writes, which
project the collected rows as a local relation. These tests pin the
committed rows against the standalone stats functions, the commit's
plans and query count, the verdict timestamps, and a crash inside every
write call."""

import math
import os
from collections import Counter

import pytest
from pyspark.sql import DataFrame, DataFrameWriter
from pyspark.sql import functions as F

from smcchecker_spark import fixtures, stats
from smcchecker_spark.checkpoint import CheckpointStore, run_with_checkpoint
from smcchecker_spark.compile import VIOLATION_COLS
from smcchecker_spark.constraints import MaxLength, NotNull, Suite
from smcchecker_spark.run import ValidationRunner

METRICS = ["caption", "w", "fmt", "bytes"]


@pytest.fixture(scope="module")
def images(spark):
    return fixtures.generate_images(spark, n_rows=300, n_parts=6, seed=42).cache()


def _suite():
    return Suite(
        name="img",
        table="images",
        constraints=[NotNull("caption"), MaxLength("caption", max_length=256)],
    )


def _runner(run_id, metrics=METRICS):
    return ValidationRunner(
        _suite(), run_id=run_id, metrics_columns=metrics, metrics_sketches=True
    )


def _freeze(v):
    """A hashable, NaN-equal form of a collected value."""
    if isinstance(v, (list, tuple)):
        return tuple(_freeze(x) for x in v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return bytes(v) if isinstance(v, bytearray) else v


def _rows(df: DataFrame, drop=()) -> Counter:
    return Counter(_freeze(r) for r in df.drop(*drop).collect())


def _verdicts(df: DataFrame) -> Counter:
    return _rows(df.select("part_id", "status", "n_rows", "n_errors", "n_warnings"))


def test_committed_rows_match_standalone_stats(spark, images, tmp_path):
    """The committed verdict, metrics and sketch rows of a wave equal
    what the standalone functions compute on the same rows: verdicts
    from per-part row and violation counts, metrics from
    ``column_stats_by``, sketches from ``partition_hll_sketches``; and
    the lazy projections a direct run reads agree with them."""
    wave_df = images.filter(F.col("part_id").isin([0, 2, 5]))
    res = _runner("rows").run(wave_df)
    store = CheckpointStore(str(tmp_path / "ckpt"))
    store.write_wave("rows", 0, res)

    counts = {r["part_id"]: r["count"] for r in wave_df.groupBy("part_id").count().collect()}
    errors = Counter(
        (r["part_id"], r["severity"]) for r in res.violations.collect()
    )
    want_verdicts = Counter(
        (p, "fail" if errors[(p, "error")] else "pass", n,
         errors[(p, "error")], errors[(p, "warning")])
        for p, n in counts.items()
    )
    assert _verdicts(store.verdicts(spark, "rows")) == want_verdicts
    assert _verdicts(res.verdicts) == want_verdicts

    want_metrics = _rows(
        stats.column_stats_by(wave_df, "part_id", METRICS).withColumn(
            "run_id", F.lit("rows")
        )
    )
    assert _rows(store.metrics(spark, "rows"), drop=["wave"]) == want_metrics
    assert _rows(res.metrics) == want_metrics

    want_sketches = _rows(
        stats.partition_hll_sketches(wave_df, "part_id", METRICS)
        .withColumnsRenamed({"part": "part_id"})
        .withColumn("run_id", F.lit("rows"))
    )
    assert _rows(store.sketches(spark, "rows"), drop=["wave"]) == want_sketches
    assert _rows(res.sketches) == want_sketches
    res.violations.unpersist()


def test_commit_is_one_query_then_local_writes(spark, images, tmp_path, monkeypatch):
    """After the violations write, ``write_wave`` runs exactly one data
    query (the summary collect); the metrics, sketch and verdict writes
    plan as a ``LocalTableScan`` and scan no file."""
    src = str(tmp_path / "src")
    images.write.parquet(src)
    wave_df = spark.read.parquet(src).filter(F.col("part_id") < 3)
    res = _runner("plan").run(wave_df)
    store = CheckpointStore(str(tmp_path / "ckpt"))

    events = []
    real_parquet = DataFrameWriter.parquet

    def parquet(self, path, *a, **kw):
        plan = self._df._jdf.queryExecution().executedPlan().toString()
        table = os.path.relpath(path, store.root).split(os.sep)[0]
        events.append(("write", table, plan))
        return real_parquet(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    for action in ("collect", "count", "toPandas", "toArrow", "toLocalIterator",
                   "foreach", "foreachPartition"):
        real = getattr(type(wave_df), action)

        def recorded(self, *a, _real=real, _name=action, **kw):
            plan = self._jdf.queryExecution().executedPlan().toString()
            events.append((_name, None, plan))
            return _real(self, *a, **kw)

        monkeypatch.setattr(type(wave_df), action, recorded)
    store.write_wave("plan", 0, res)
    monkeypatch.undo()

    assert [(kind, where) for kind, where, _ in events] == [
        ("write", "violations"),
        ("collect", None),
        ("write", "metrics"),
        ("write", "sketches"),
        ("write", "verdicts"),
    ]
    assert "FileScan" in events[1][2]
    for _, where, plan in events[2:]:
        assert "LocalTableScan" in plan and "FileScan" not in plan, (where, plan)
    res.violations.unpersist()


def test_verdict_finished_at_not_before_violations_files(spark, images, tmp_path):
    """A committed verdict's ``finished_at`` is stamped at the commit, so
    it is no earlier than the violations files its wave wrote."""
    store = CheckpointStore(str(tmp_path / "ckpt"))
    run_with_checkpoint(
        ValidationRunner(_suite(), run_id="fin"), images, store,
        partitions_per_wave=3,
    )
    finished = {}
    for r in store.verdicts(spark, "fin").select(
        "wave", F.unix_micros("finished_at").alias("us")
    ).collect():
        finished[r["wave"]] = min(finished.get(r["wave"], r["us"]), r["us"])
    assert set(finished) == {0, 1}
    for wave, us in finished.items():
        vdir = store._violations_path("fin", wave)
        written = max(
            os.stat(os.path.join(d, f)).st_mtime_ns
            for d, _, fs in os.walk(vdir) for f in fs if f.endswith(".parquet")
        )
        assert us * 1000 >= written // 1000 * 1000, (wave, us, written)


def _committed(spark, store, run_id):
    return (
        _rows(store.violations(spark, run_id).select(*VIOLATION_COLS)),
        _verdicts(store.verdicts(spark, run_id)),
        _rows(store.metrics(spark, run_id), drop=["wave"]),
        _rows(store.sketches(spark, run_id), drop=["wave"]),
    )


def _partial_write(path):
    """What a crash inside a parquet write leaves: the output directory
    holding only the committer's ``_temporary/`` staging tree."""
    staged = os.path.join(path, "_temporary", "0", "_temporary", "attempt_0")
    os.makedirs(staged, exist_ok=True)
    with open(os.path.join(staged, "part-00000.snappy.parquet"), "wb") as f:
        f.write(b"PAR1")


def test_resume_after_crash_inside_first_verdict_append(spark, images, tmp_path):
    """A crash inside the first verdict append leaves the verdict
    directory holding only ``_temporary/``; the resume treats it as
    nothing committed and reaches the output of an uninterrupted run."""
    clean_store = CheckpointStore(str(tmp_path / "clean"))
    run_with_checkpoint(_runner("tmp", ["w"]), images, clean_store)

    store = CheckpointStore(str(tmp_path / "crash"))
    res = _runner("tmp", ["w"]).run(images)
    with pytest.raises(RuntimeError, match="simulated crash"):
        store.write_wave("tmp", 0, res, fail_before_commit=True)
    res.violations.unpersist()
    _partial_write(store._verdict_path("tmp"))

    assert store.committed_waves(spark, "tmp") == set()
    assert run_with_checkpoint(_runner("tmp", ["w"]), images, store) == set(range(6))
    assert _committed(spark, store, "tmp") == _committed(spark, clean_store, "tmp")


def test_crash_at_every_write_resumes_to_clean_output(spark, images, tmp_path, monkeypatch):
    """Crash-point sweep: a checkpointed run that dies inside its k-th
    parquet write (leaving that write's staging directory behind), for
    every k, resumes once to the violations, verdicts, metrics and
    sketch rows of an uninterrupted run, with one verdict per
    partition."""
    calls = {"n": 0, "crash_at": None}
    real_parquet = DataFrameWriter.parquet

    def parquet(self, path, *a, **kw):
        calls["n"] += 1
        if calls["n"] == calls["crash_at"]:
            _partial_write(path)
            raise RuntimeError(f"crash at write {calls['n']}")
        return real_parquet(self, path, *a, **kw)

    def run(store):
        return run_with_checkpoint(
            _runner("sweep", ["w", "fmt"]), images, store, partitions_per_wave=3
        )

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    clean_store = CheckpointStore(str(tmp_path / "clean"))
    run(clean_store)
    # 2 waves x (violations, metrics, sketches, verdicts): a new write in
    # the commit changes this count and must be swept too
    n_writes = calls["n"]
    assert n_writes == 8
    clean = _committed(spark, clean_store, "sweep")
    assert all(n == 1 for n in Counter(p for p, *_ in clean[1].elements()).values())
    assert sum(clean[1].values()) == 6

    for k in range(1, n_writes + 1):
        store = CheckpointStore(str(tmp_path / f"crash{k}"))
        calls.update(n=0, crash_at=k)
        with pytest.raises(RuntimeError, match=f"crash at write {k}"):
            run(store)
        calls.update(crash_at=None)
        run(store)
        assert _committed(spark, store, "sweep") == clean, k


def test_verdict_pairs_read_once_per_commit(spark, images, tmp_path, monkeypatch):
    """``completed_partitions`` and ``committed_waves`` share one read of
    the verdict rows until a commit changes the directory listing, and
    a store with no verdict directory answers without any read."""
    from pyspark.sql import DataFrameReader

    reads = []
    real = DataFrameReader.parquet

    def parquet(self, *paths, **kw):
        reads.append(paths)
        return real(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    store = CheckpointStore(str(tmp_path / "ckpt"))
    assert store.completed_partitions(spark, "memo") == set()
    assert store.committed_waves(spark, "memo") == set()
    assert reads == []

    runner = ValidationRunner(_suite(), run_id="memo")
    done = set()
    for wave, parts in enumerate([[0, 1], [2]]):
        res = runner.run(images.filter(F.col("part_id").isin(parts)))
        store.write_wave("memo", wave, res)
        res.violations.unpersist()
        done.update(parts)
        reads.clear()
        assert store.committed_waves(spark, "memo") == set(range(wave + 1))
        assert store.completed_partitions(spark, "memo") == done
        assert len(reads) == 1
