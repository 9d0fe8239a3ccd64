"""One benchmark process: set up a Spark session, warm up, run timed passes.

Run by ``run.py`` as ``python3 valbench/worker.py SPEC.json RESULT.json``
in a fresh interpreter pinned to the CPUs the spec names (the JVM and the
Python UDF workers inherit the affinity). The loop is closed with one
client: a pass starts only after the previous pass's outputs are
committed and checked.

Every call into the package is a public one. Layer time is taken around
those calls (``Bench.span``) and each pass tags its Spark jobs with
``setJobGroup``: ``p<k>.build`` while ``ValidationRunner.run`` constructs
the lazy result, ``p<k>.exec`` while outputs are computed and written
(``p<k>.<query>.build`` / ``.exec`` for registry queries), so the event
log attributes every job, task and executed plan to its pass and phase.
The benchmark's own reads of the committed outputs run as ``p<k>.check``,
which no layer metric counts.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from collections import Counter, defaultdict
from contextlib import contextmanager

REGISTRY_QUERIES = [
    "phab_star_join", "minhash_neardup_docs", "embedding_neardup",
    "semdedup_clustered",
]
CHECKPOINT_PARTS_PER_WAVE = 4
CHECKPOINT_CRASH_WAVE = 1  # crashes between its violations write and its commit
CRASH_MESSAGE = "simulated crash between violations and verdicts"
# A timed pass during which the hypervisor took more than this share of
# the machine's CPU time (a neighbour's burst on a shared host) is
# "stolen": it is kept and checked, but the end-to-end medians leave it
# out and the run makes another pass, up to the spec's max_passes and
# only while the process is younger than RERUN_BEFORE_S (a run must end
# within 180 s).
STEAL_MAX = 0.05
RERUN_BEFORE_S = 80


class Bench:
    """Spans and job groups of the current pass."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.pass_id = "warm"
        self.spans: dict[str, list[float]] = defaultdict(list)

    def group(self, phase: str) -> None:
        self.sc.setJobGroup(f"{self.pass_id}.{phase}", phase)

    @contextmanager
    def span(self, name: str, phase: str | None = None, restore: str = "exec"):
        if phase:
            self.group(phase)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans[name].append(time.perf_counter() - t0)
            if phase:
                self.group(restore)

    def start_pass(self, pass_id: str) -> None:
        self.pass_id = pass_id
        self.spans = defaultdict(list)
        self.group("exec")


def _classes(bench: Bench):
    from smcchecker_spark.checkpoint import CheckpointStore
    from smcchecker_spark.run import ValidationRunner

    class TimedRunner(ValidationRunner):
        def run(self, df, full_scope=None, shared_cache=None):
            with bench.span("compile.build", phase="build"):
                return super().run(df, full_scope=full_scope, shared_cache=shared_cache)

    class TimedStore(CheckpointStore):
        """Times the store's steps and crashes one wave once, inside
        ``write_wave`` between its violations write and its commit."""

        def __init__(self, root: str, crash_wave: int):
            super().__init__(root)
            self.crash_wave = crash_wave
            self.crashed = False

        def write_wave(self, run_id, wave, result, fail_before_commit=False):
            crash = wave == self.crash_wave and not self.crashed
            self.crashed |= crash
            with bench.span("checkpoint.write_wave"):
                super().write_wave(run_id, wave, result,
                                   fail_before_commit=fail_before_commit or crash)

        def cleanup_orphan_waves(self, spark, run_id):
            with bench.span("checkpoint.cleanup"):
                return super().cleanup_orphan_waves(spark, run_id)

        def completed_partitions(self, spark, run_id):
            with bench.span("checkpoint.completed"):
                return super().completed_partitions(spark, run_id)

    return TimedRunner, TimedStore


def _verdict_table(rows) -> dict:
    return {
        str(r["part_id"]): [r["n_rows"], r["n_errors"], r["n_warnings"]] for r in rows
    }


def _check(got_checks: dict, got_verdicts: dict, golden: dict) -> str | None:
    got_checks = {k: v for k, v in got_checks.items() if v}
    if got_checks != golden["checks"]:
        return f"violations per check {got_checks} != golden {golden['checks']}"
    if got_verdicts != golden["verdicts"]:
        return "per-partition verdicts differ from golden"
    return None


class CheckpointResume:
    """A checkpointed run that crashes inside one wave's commit, then
    resumes; one pass is both legs, in a fresh checkpoint directory."""

    def __init__(self, spark, bench, spec):
        from smcchecker_spark import fixtures
        from smcchecker_spark.constraints import ValidationContext

        from run_validation import load_suite

        self.spark, self.bench, self.spec = spark, bench, spec
        self.suite, _, _ = load_suite(os.path.join("configs", "images_suite.json"))
        self.ctx = ValidationContext(lookups={"lu_fmt": fixtures.lu_fmt(spark)})
        self.df = spark.read.parquet(spec["input"]["path"])
        self.rows = spec["input"]["rows"]
        self.TimedRunner, self.TimedStore = _classes(bench)

    def warm_up(self) -> str | None:
        """A direct run of the suite on the same input, whose violations
        are the multiset every checkpointed pass must commit; then one
        untimed checkpointed pass."""
        from smcchecker_spark.compile import VIOLATION_COLS
        from smcchecker_spark.run import ValidationRunner

        direct = ValidationRunner(self.suite, self.ctx, row_id_col="image_id",
                                  part_id_col="part_id").run(self.df)
        self.direct = Counter(
            tuple(r) for r in direct.violations.select(*VIOLATION_COLS).collect()
        )
        verdicts = _verdict_table(direct.verdicts.collect())
        direct.violations.unpersist()
        check_at = VIOLATION_COLS.index("check_name")
        got = Counter(v[check_at] for v in self.direct.elements())
        return _check(dict(got), verdicts, self.spec["goldens"]) or self.one_pass(-1)["error"]

    def one_pass(self, k: int) -> dict:
        from smcchecker_spark.checkpoint import run_with_checkpoint
        from smcchecker_spark.compile import VIOLATION_COLS

        root = os.path.join(self.spec["run_dir"], f"ckpt-{k}")
        shutil.rmtree(root, ignore_errors=True)
        store = self.TimedStore(root, CHECKPOINT_CRASH_WAVE)
        runner = self.TimedRunner(self.suite, self.ctx, row_id_col="image_id",
                                  part_id_col="part_id", run_id="bench",
                                  metrics_columns=["w", "h"])
        try:
            run_with_checkpoint(runner, self.df, store,
                                partitions_per_wave=CHECKPOINT_PARTS_PER_WAVE)
            raise AssertionError("the crashing wave did not crash")
        except RuntimeError as e:
            if str(e) != CRASH_MESSAGE:
                raise
        t_resume = time.perf_counter()
        processed = run_with_checkpoint(runner, self.df, store,
                                        partitions_per_wave=CHECKPOINT_PARTS_PER_WAVE)
        wall_end = time.perf_counter()
        self.bench.spans["checkpoint.resume"].append(wall_end - t_resume)
        self.bench.group("check")
        files = [os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs
                 if f.endswith(".parquet")]
        bytes_written = sum(os.path.getsize(f) for f in files)
        verdict_rows = store.verdicts(self.spark, "bench").collect()
        committed_leg1 = {r["part_id"] for r in verdict_rows
                          if r["wave"] < CHECKPOINT_CRASH_WAVE}
        rework = sum(r["n_rows"] for r in verdict_rows
                     if r["part_id"] in committed_leg1 & processed)
        committed = Counter(
            tuple(r) for r in
            store.violations(self.spark, "bench").select(*VIOLATION_COLS).collect()
        )
        per_part = Counter(r["part_id"] for r in verdict_rows)
        error = None
        if committed != self.direct:
            error = "committed violations differ from a direct run's"
        elif any(n != 1 for n in per_part.values()):
            error = "a partition has more than one verdict"
        elif rework:
            error = f"{rework} rows validated by both legs"
        else:
            check_at = VIOLATION_COLS.index("check_name")
            got = Counter(v[check_at] for v in committed.elements())
            error = _check(dict(got), _verdict_table(verdict_rows), self.spec["goldens"])
        shutil.rmtree(root, ignore_errors=True)
        return dict(rows=self.rows, wall_end=wall_end, error=error,
                    waves=len(self.bench.spans["checkpoint.write_wave"]),
                    bytes_written=bytes_written,
                    files_written=len(files), rework_rows=rework)


class RegistryOps:
    """Four registry queries, each built then materialized by a noop write
    (the warm-up writes parquet instead, to check values). Checked after
    the timed passes against the queries' DuckDB oracles."""

    def __init__(self, spark, bench, spec):
        import __spark_entry__ as entry

        self.spark, self.bench, self.spec = spark, bench, spec
        self.sf_dir = spec["input"]["path"]
        self.queries = {q: entry.queries()[q] for q in REGISTRY_QUERIES}
        self.rows = spec["input"]["rows"]
        self.counts: dict[int, dict] = {}  # timed pass -> rows per query

    def warm_up(self) -> str | None:
        return self.one_pass(-1)["error"]

    def one_pass(self, k: int) -> dict:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        counts = {}
        for q, fn in self.queries.items():
            with self.bench.span(f"ops.{q}.build", phase=f"{q}.build", restore=f"{q}.exec"):
                df = fn(self.spark, self.sf_dir)
            with self.bench.span(f"ops.{q}.execute"):
                obs = Observation(f"{q}_{k}")
                out = df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite")
                if k < 0:  # the warm-up keeps its rows for the oracle comparison
                    out.parquet(os.path.join(self.spec["run_dir"], "warm", q))
                else:
                    out.format("noop").save()
            counts[q] = obs.get["n"]
        wall_end = time.perf_counter()
        if k >= 0:
            self.counts[k] = counts
        return dict(rows=self.rows, wall_end=wall_end, error=None)

    def oracle_errors(self) -> dict[int, str]:
        """Pass index -> mismatch. The warm-up's rows are compared with each
        query's DuckDB oracle (row count, column names, and the multiset
        of values, EXCEPT ALL both ways, as tools/check_entry.py checks);
        every timed pass's row count must equal the oracle's."""
        import duckdb

        import __spark_entry__ as entry

        con = duckdb.connect()
        con.execute("SET TimeZone = 'UTC'")
        for t in os.listdir(self.sf_dir):
            con.execute(f"CREATE VIEW {t.split('.')[0]} AS SELECT * FROM "
                        f"'{os.path.join(self.sf_dir, t)}'")
        oracles = entry.oracle_sql()
        bad: dict[int, str] = {}
        for q in self.queries:
            warm = os.path.join(self.spec["run_dir"], "warm", q, "*.parquet")
            # DuckDB resolves `got` and `want` in the SQL below to these locals
            got = con.sql(f"SELECT * FROM read_parquet('{warm}')").arrow()
            want = con.sql(oracles[q]).arrow()
            cols = sorted(c.lower() for c in want.column_names)
            sel = ", ".join(f'"{c}"' for c in cols)
            diff = con.sql(
                f"SELECT (SELECT count(*) FROM (SELECT {sel} FROM got EXCEPT ALL "
                f"SELECT {sel} FROM want)) + (SELECT count(*) FROM (SELECT {sel} "
                f"FROM want EXCEPT ALL SELECT {sel} FROM got))"
            ).fetchone()[0]
            same = sorted(c.lower() for c in got.column_names) == cols and diff == 0
            for k, counts in self.counts.items():
                if not same:
                    bad[k] = f"{q}: values differ from the DuckDB oracle"
                elif counts[q] != want.num_rows:
                    bad[k] = f"{q}: {counts[q]} rows, oracle {want.num_rows}"
        return bad


def steal_s() -> float:
    """CPU time the hypervisor has taken from this machine's CPUs, summed
    over all of them (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def kernel_rows_per_s(path: str, min_seconds: float = 1.0) -> float:
    """``image.decode_facts_batches`` over the input's payloads in this
    plain Python process (no Spark), in Arrow-sized batches."""
    import pyarrow.parquet as pq

    from smcchecker_spark.image import decode_facts_batches
    from smcchecker_spark.session import ARROW_BATCH_ROWS

    payloads = pq.read_table(path, columns=["bytes"])["bytes"].to_pandas()
    batches = [payloads[i:i + ARROW_BATCH_ROWS]
               for i in range(0, len(payloads), ARROW_BATCH_ROWS)]
    for _ in decode_facts_batches(iter(batches[:1])):  # imports, native builds
        pass
    rows, t0 = 0, time.perf_counter()
    while rows == 0 or time.perf_counter() - t0 < min_seconds:
        for out in decode_facts_batches(iter(batches)):
            rows += len(out)
    return rows / (time.perf_counter() - t0)


WORKLOADS = {
    "checkpoint_resume": CheckpointResume,
    "registry_ops": RegistryOps,
}


def main(spec_path: str, result_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    os.sched_setaffinity(0, spec["cpus"])
    sys.path[:0] = [os.getcwd(), os.path.dirname(os.path.abspath(__file__)), "scripts"]
    if spec["task"] == "kernel":
        with open(result_path, "w") as f:
            json.dump({"kernel_rows_per_s": kernel_rows_per_s(spec["input"]["path"])}, f)
        return

    from smcchecker_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(spec["run_dir"], "spark-local"),
        "spark.driver.extraJavaOptions": spec["java_options"],
    }
    if spec["trace"]:
        os.makedirs(spec["log_dir"], exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": spec["log_dir"],
            "spark.eventLog.compress": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(f"valbench-{spec['workload']}", cores=len(spec["cpus"]), extra_conf=conf)
    result = dict(
        get_spark_s=time.perf_counter() - t0,
        affinity=len(os.sched_getaffinity(0)),
        nproc=int(subprocess.run(["nproc"], capture_output=True, text=True).stdout),
        jvm_cpus=spark._jvm.java.lang.Runtime.getRuntime().availableProcessors(),
        passes=[],
    )
    with open("/proc/meminfo") as f:
        result["mem_total_kb"] = int(f.readline().split()[1])
    try:
        if spec["task"] == "pool":
            from inputs import generate_pool

            generate_pool(spark, spec["work"])
            return
        bench = Bench(spark)
        bench.start_pass("warm")
        wl = WORKLOADS[spec["workload"]](spark, bench, spec)
        error = wl.warm_up()
        if error:
            raise RuntimeError(f"warm-up pass failed its check: {error}")
        result["setup_s"] = time.time() - spec["launched_at"]
        deadline = time.perf_counter() + spec["seconds"]
        k = clean = 0
        while (time.perf_counter() < deadline
               or (not clean and k < spec["max_passes"]
                   and time.time() - spec["launched_at"] < RERUN_BEFORE_S)):
            bench.start_pass(f"p{k}")
            steal0 = steal_s()
            t = time.perf_counter()
            try:
                p = wl.one_pass(k)
            except Exception:  # a failed pass is counted, and the loop goes on
                p = dict(rows=0, wall_end=time.perf_counter(),
                         error=traceback.format_exc(limit=3))
            wall_s = p.pop("wall_end") - t
            share = (steal_s() - steal0) / (wall_s * os.cpu_count())
            p.update(k=k, wall_s=wall_s, spans=dict(bench.spans),
                     steal_share=share, stolen=share > STEAL_MAX)
            result["passes"].append(p)
            clean += not p["stolen"]
            k += 1
        if isinstance(wl, RegistryOps):
            for k, err in wl.oracle_errors().items():
                result["passes"][k]["error"] = result["passes"][k]["error"] or err
    finally:
        spark.stop()
        with open(result_path, "w") as f:
            json.dump(result, f)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
