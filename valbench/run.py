"""Validation benchmark: throughput, set-up time and layer splits.

Usage (from the repository root):

    python3 valbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Each run builds the workload's input from ``--seed`` (cached under
``.valbench_work/``), then runs it in a fresh Spark process (``local[k]``
on k pinned CPUs): set-up, one untimed warm-up pass, then timed passes
for ``--seconds`` (at least one) in a closed loop with one client. Every
pass's outputs are checked; a pass that raises or mismatches is failed.

``--trace 0`` prints the end-to-end metrics:

- ``setup_s``: process start until the session is up, the input is
  registered and the warm-up pass is done (input generation excluded);
- ``pass_s``: median wall time of a timed pass, from its first call into
  the package until its last output is committed. A pass during which
  the hypervisor took more than 5% of the machine's CPU time (the steal
  column of /proc/stat) is left out and made again once (see
  worker.STEAL_MAX);
- ``rows_per_s``: median of input rows / pass wall time;
- ``peak_rss_mb``: peak memory of the process tree (the worker's
  interpreter, the JVM, the Python UDF workers), as the sum of
  proportional set sizes (see proctree.py).

``--trace 1`` runs the same process untraced, then once more with Spark's
event log on, and prints the per-layer metrics of the traced passes
(``<module>.<metric>``, medians over passes) and ``trace_overhead`` (1 -
traced / untraced ``rows_per_s``). A layer that does not run on a
workload reads 0. Spark's Python-worker init time is printed per pass
with the verdict of ``eventlog.plausibility``, never published as a
metric: PySpark stamps a reused worker's boot time before the worker
blocks for its next task, so the counter includes idle time and fails
the check. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

Workloads (why each is here):

- ``checkpoint_resume``: the deployed suite (configs/images_suite.json)
  plus per-partition metrics rows, on synthetic image rows written
  hive-partitioned (the layout of an Iceberg table), through
  ``run_with_checkpoint`` in waves. One wave crashes between its
  violations write and its commit, then the run resumes. Many small jobs
  with writes beside reads: per-wave fixed cost and the checkpoint store
  dominate.
- ``registry_ops``: four ``__spark_entry__`` queries over seeded stand-in
  tables: a shuffle-heavy star join, a MinHash Python UDF, and queries
  that run jobs while they are built. The only workload that runs the
  ``ops`` modules.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import proctree  # noqa: E402

WORK = ".valbench_work"
PROGRAM_FILES = [
    "smcchecker_spark/__init__.py", "__spark_entry__.py",
    "configs/images_suite.json", "scripts/run_validation.py",
]
WORKER_TIMEOUT_S = 170
# The JVM heap. get_spark defaults to max(8, cores) GB, more than the
# benchmark's inputs need; a fixed heap keeps peak RSS comparable.
DRIVER_MEM = "3g"
# The heap's shape: all of it committed at start and a fixed young
# generation, so the JVM's resident memory follows what the program keeps
# rather than when G1 chose to grow the heap (with G1's own sizing, the
# JVM's share of peak RSS ranged 1.2-2.0 GB between runs of one workload).
DRIVER_JAVA_OPTIONS = f"-Xms{DRIVER_MEM} -Xmn512m"

WORKLOADS = {
    "checkpoint_resume": dict(blocks=120, parts=8),
    "registry_ops": dict(sf=0.002),
}
# rows each registry query reads, per table (phab_star_join reads seven)
REGISTRY_READS = {
    "phab_star_join": ["lineitem", "orders", "customer", "nation", "region", "part", "supplier"],
    "minhash_neardup_docs": ["documents"],
    "embedding_neardup": ["embeddings"],
    "semdedup_clustered": ["embeddings"],
}

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("rows_per_s", "rows/s"), ("peak_rss_mb", "MB")]
LAYER_METRICS = [
    ("session.get_spark_s", "s"),
    ("compile.build_s", "s"), ("compile.build_jobs", "count"),
    ("compile.file_scans", "count"), ("compile.exchanges", "count"),
    ("run.execute_s", "s"), ("run.jobs", "count"), ("run.tasks", "count"),
    ("run.exec_run_ms", "ms"), ("run.exec_cpu_ms", "ms"), ("run.gc_ms", "ms"),
    ("run.scan_ms", "ms"), ("run.scan_bytes", "bytes"),
    ("run.shuffle_write_bytes", "bytes"), ("run.shuffle_read_bytes", "bytes"),
    ("run.spill_bytes", "bytes"), ("run.core_idle_frac", "ratio"),
    ("image.python_run_ms", "ms"), ("image.arrow_bytes_sent", "bytes"),
    ("image.arrow_bytes_returned", "bytes"), ("image.kernel_share", "ratio"),
    ("imagecodec.kernel_rows_per_s", "rows/s"),
    ("checkpoint.waves", "count"), ("checkpoint.write_wave_s", "s"),
    ("checkpoint.cleanup_s", "s"), ("checkpoint.completed_s", "s"),
    ("checkpoint.resume_s", "s"), ("checkpoint.bytes_written", "bytes"),
    ("checkpoint.files_written", "count"), ("checkpoint.rework_rows", "rows"),
] + [
    (f"ops.{q}.{m}", u)
    for q in REGISTRY_READS
    for m, u in (("build_s", "s"), ("build_jobs", "count"), ("execute_s", "s"),
                 ("shuffle_write_bytes", "bytes"), ("python_run_ms", "ms"))
] + [("trace_overhead", "ratio")]


class WorkerFailed(RuntimeError):
    pass


def _env(work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        SPARK_DRIVER_MEM=DRIVER_MEM,
        PYTHONPATH=os.pathsep.join(filter(None, [os.getcwd(), env.get("PYTHONPATH")])),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    env.pop("SPARK_GRAFT_CPUS", None)  # cores come from the pinned CPU set
    return env


def run_worker(spec: dict, run_dir: str, name: str, env: dict) -> tuple[dict, int]:
    """Run one worker process; its result and its tree's peak RSS."""
    spec_path = os.path.join(run_dir, f"{name}.spec.json")
    result_path = os.path.join(run_dir, f"{name}.result.json")
    log_path = os.path.join(run_dir, f"{name}.log")
    spec = dict(spec, run_dir=os.path.join(run_dir, name), launched_at=time.time())
    os.makedirs(spec["run_dir"], exist_ok=True)
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), spec_path, result_path],
            stdout=log, stderr=subprocess.STDOUT, env=env,
        )
        with proctree.RssSampler(proc.pid) as rss:
            try:
                proc.wait(timeout=WORKER_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        rss.stop()  # the JVM and the Python workers outlive a killed worker
    if proc.returncode != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise WorkerFailed(f"worker {name} exited with {proc.returncode}:\n{tail}")
    with open(result_path) as f:
        return json.load(f), rss.peak_bytes


def prepare_input(work: str, workload: str, seed: int, env: dict, run_dir: str) -> dict:
    """The seed's input (generated or cached) and its goldens. Pool
    generation and selection time are returned, not counted as set-up."""
    import inputs

    wl = WORKLOADS[workload]
    t0 = time.perf_counter()
    if workload == "registry_ops":
        import regdata

        path = os.path.join(work, "inputs", f"registry-sf{wl['sf']}-s{seed}")
        if not os.path.isdir(path):
            regdata.write(path + ".tmp", seed, wl["sf"])
            os.replace(path + ".tmp", path)
        os.utime(path)
        inputs.prune(os.path.dirname(path))
        counts = {t: regdata_rows(path, t) for t in set(sum(REGISTRY_READS.values(), []))}
        rows = sum(counts[t] for tabs in REGISTRY_READS.values() for t in tabs)
        return dict(input=dict(path=path, rows=rows), goldens=None,
                    fixture_s=time.perf_counter() - t0)
    if not os.path.isdir(inputs.pool_dir(work)):
        spec = dict(task="pool", workload=workload, work=work,
                    cpus=sorted(os.sched_getaffinity(0)), trace=False,
                    java_options=DRIVER_JAVA_OPTIONS)
        run_worker(spec, run_dir, "pool", env)
    inp = inputs.select(work, seed, wl["blocks"], wl["parts"])
    inputs.prune(os.path.dirname(inp["path"]))
    golden = inputs.goldens(inp)
    del inp["indices"]
    return dict(input=inp, goldens=golden, fixture_s=time.perf_counter() - t0)


def regdata_rows(path: str, table: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(os.path.join(path, f"{table}.parquet")).metadata.num_rows


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _ok_passes(res: dict) -> list[dict]:
    return [p for p in res["passes"] if not p["error"]]


def _timed_passes(res: dict) -> list[dict]:
    """The passes the end-to-end medians use: the good passes that were not
    stolen (see worker.STEAL_MAX), or the least stolen one if every one was."""
    ok = _ok_passes(res)
    return [p for p in ok if not p["stolen"]] or sorted(ok, key=lambda p: p["steal_share"])[:1]


def end_to_end(results: list[tuple[dict, int]]) -> dict:
    passes = [p for r, _ in results for p in _timed_passes(r)]
    return {
        "setup_s": _median([r["setup_s"] for r, _ in results]),
        "pass_s": _median([p["wall_s"] for p in passes]),
        "rows_per_s": _median([p["rows"] / p["wall_s"] for p in passes]),
        "peak_rss_mb": max(rss for _, rss in results) / 2**20,
    }


def pass_groups(k: int) -> set[str]:
    """Job groups of timed pass ``k``'s own work: its build and execute
    phases, per registry query too. The benchmark's output check
    (``p<k>.check``) is not the program's work and is left out."""
    phases = ("build", "exec")
    return {f"p{k}.{ph}" for ph in phases} | {
        f"p{k}.{q}.{ph}" for q in REGISTRY_READS for ph in phases
    }


def layer_metrics(workload: str, res: dict, log: eventlog.EventLog, cores: int,
                  kernel_rows_per_s: float) -> tuple[dict, list]:
    """Per-layer metrics of every traced pass, as medians over passes;
    and each pass's Python-worker init time with the plausibility
    check's verdict."""
    per_pass: list[dict] = []
    init_ms: list[tuple[float, bool]] = []
    for p in _ok_passes(res):
        k, sp = p["k"], p["spans"]
        w = log.window(pass_groups(k))
        init_ms.append((w["python_init_ms"], "python_init_ms" not in eventlog.plausibility(w)))
        build_s = sum(sp.get("compile.build", []))
        ops_build_s = sum(sum(v) for n, v in sp.items() if n.startswith("ops.") and n.endswith(".build"))
        m = dict.fromkeys((n for n, _ in LAYER_METRICS), 0.0)
        m.update({
            "session.get_spark_s": res["get_spark_s"],
            "compile.build_s": build_s,
            "compile.build_jobs": log.window({f"p{k}.build"})["jobs"],
            "run.execute_s": p["wall_s"] - build_s - ops_build_s,
            "run.jobs": w["jobs"], "run.tasks": w["tasks"],
            "run.exec_run_ms": w["exec_run_ms"], "run.exec_cpu_ms": w["exec_cpu_ms"],
            "run.gc_ms": w["gc_ms"], "run.scan_ms": w["scan_ms"],
            "run.scan_bytes": w["scan_bytes"],
            "run.shuffle_write_bytes": w["shuffle_write_bytes"],
            "run.shuffle_read_bytes": w["shuffle_read_bytes"],
            "run.spill_bytes": w["spill_bytes"],
            "run.core_idle_frac": 1 - w["exec_run_ms"] / (p["wall_s"] * 1000 * cores),
        })
        if workload == "checkpoint_resume":
            m.update({
                "compile.file_scans": w["file_scans"], "compile.exchanges": w["exchanges"],
                "image.python_run_ms": w["python_run_ms"],
                "image.arrow_bytes_sent": w["arrow_bytes_sent"],
                "image.arrow_bytes_returned": w["arrow_bytes_returned"],
                "image.kernel_share": (
                    w["python_rows"] / kernel_rows_per_s * 1000 / w["python_run_ms"]
                    if w["python_run_ms"] else 0.0),
                "imagecodec.kernel_rows_per_s": kernel_rows_per_s,
                "checkpoint.waves": p["waves"],
                "checkpoint.write_wave_s": _median(sp["checkpoint.write_wave"]),
                "checkpoint.cleanup_s": sum(sp["checkpoint.cleanup"]),
                "checkpoint.completed_s": sum(sp["checkpoint.completed"]),
                "checkpoint.resume_s": sp["checkpoint.resume"][0],
                "checkpoint.bytes_written": p["bytes_written"],
                "checkpoint.files_written": p["files_written"],
                "checkpoint.rework_rows": p["rework_rows"],
            })
        if workload == "registry_ops":
            for q in REGISTRY_READS:
                qw = log.window({f"p{k}.{q}.build", f"p{k}.{q}.exec"})
                m.update({
                    f"ops.{q}.build_s": sum(sp[f"ops.{q}.build"]),
                    f"ops.{q}.build_jobs": log.window({f"p{k}.{q}.build"})["jobs"],
                    f"ops.{q}.execute_s": sum(sp[f"ops.{q}.execute"]),
                    f"ops.{q}.shuffle_write_bytes": qw["shuffle_write_bytes"],
                    f"ops.{q}.python_run_ms": qw["python_run_ms"],
                })
        per_pass.append(m)
    return {n: _median([m[n] for m in per_pass]) for n, _ in LAYER_METRICS}, init_ms


def bench_cpus() -> list[int]:
    """The CPUs a worker is pinned to: the largest multiple of 4 of this
    process's affinity (all of it on a 4-CPU host; all of a smaller one)."""
    cpus = sorted(os.sched_getaffinity(0))
    return cpus[: len(cpus) // 4 * 4] or cpus


def _host(res: dict) -> dict:
    return {k: res[k] for k in ("affinity", "nproc", "jvm_cpus", "mem_total_kb")}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    missing = [f for f in PROGRAM_FILES if not os.path.isfile(f)]
    if missing:
        print(f"valbench: run from the repository root; missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, os.getcwd())

    work = os.path.abspath(WORK)
    run_dir = os.path.join(work, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    try:
        return run(args, work, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, work: str, run_dir: str) -> int:
    env = _env(work)
    fx = prepare_input(work, args.workload, args.seed, env, run_dir)
    cpus = bench_cpus()
    # A traced run starts two processes, so neither re-runs a stolen pass:
    # that keeps the run within the time limit.
    base = dict(task="run", workload=args.workload, work=work, seconds=args.seconds,
                input=fx["input"], goldens=fx["goldens"], cpus=cpus,
                max_passes=1 if args.trace else 2, java_options=DRIVER_JAVA_OPTIONS)

    untraced = run_worker(dict(base, trace=False), run_dir, "untraced", env)
    results = [untraced]
    e2e = end_to_end([untraced])
    init_ms: list = []
    if args.trace:
        log_dir = os.path.join(run_dir, "traced", "eventlog")
        traced = run_worker(dict(base, trace=True, log_dir=log_dir), run_dir, "traced", env)
        results.append(traced)
        kernel = 0.0
        if args.workload == "checkpoint_resume":
            kspec = dict(base, task="kernel", cpus=cpus[:1], trace=False)
            kernel = run_worker(kspec, run_dir, "kernel",
                                dict(env, OMP_NUM_THREADS="1"))[0]["kernel_rows_per_s"]
        log = eventlog.EventLog(eventlog.load(eventlog.find_log(log_dir)))
        layers, init_ms = layer_metrics(args.workload, traced[0], log, len(cpus), kernel)
        if e2e["rows_per_s"]:
            layers["trace_overhead"] = 1 - end_to_end([traced])["rows_per_s"] / e2e["rows_per_s"]
        metrics_out = {n: (layers[n], u) for n, u in LAYER_METRICS if n in layers}
    else:
        metrics_out = {n: (e2e[n], u) for n, u in END_TO_END}

    passes = [p for r, _ in results for p in r["passes"]]
    failed = [p for p in passes if p["error"]]
    tag = f"{args.workload:18s}"
    print(f"{tag} input generation (not set-up) {fx['fixture_s']:.3f} s")
    print(f"{tag} host: {_host(untraced[0])}")
    print(f"{tag} passes (wall s, steal share): "
          f"{[(round(p['wall_s'], 3), round(p['steal_share'], 3)) for p in passes]}")
    for n, (v, u) in metrics_out.items():
        print(f"{tag} {n:38s} {v:14.6g} {u}")
    if args.workload == "checkpoint_resume":
        for v, plausible in init_ms:
            verdict = "plausible" if plausible else "implausible"
            print(f"{tag} python-worker init time (not published) {v} ms: {verdict}")
    for p in failed[:3]:
        print(f"{tag} FAILED pass: {p['error']}", file=sys.stderr)
    print(json.dumps({
        "correct": not failed,
        "attempted": len(passes),
        "failed": len(failed),
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics_out.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
