"""Oracle-checked closed-loop benchmark of the engine's query surface.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

One process, one client: after set-up, the run issues the workload's op
multiset (see ``workloads.py``) in the seed's order, one op after another:
one untimed warm pass, then measured passes until ``--seconds`` have
elapsed (at least ``MIN_PASSES[workload]``).  An op
is a ``QUERIES[name](spark, sf_dir)`` builder call followed by collecting
the result to pandas.  Every collected result is compared, untimed, with
``ORACLES[name]`` run in DuckDB on the same data, by the rules of
``tools/check_oracle.py``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
loop with spans and store readouts (``tracing.py``) and reports the
per-layer metrics.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it is the
environment record.  The command exits non-zero when any op fails (raises,
exceeds ``OP_TIMEOUT_S`` or mismatches its oracle).

Everything the run writes (temp files, Spark local dirs, warehouse, the
trace file) lands under ``perfbench/out/``.  Before it exits, the run stops
the Spark JVM and every Python worker it forked, and waits for each.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: Committed copy of the seed-42 generator output at sf0.01 (1.9 MB of
#: parquet); it fits in memory many times over.
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
OUT_DIR = os.path.join(HERE, "out")
#: Set-ups per run; ``setup_s`` is their median.
SETUPS = 3
#: An op slower than this counts as failed (timed out).
OP_TIMEOUT_S = 120.0
#: Hard limit on the whole run: past it the run stops Spark and exits
#: without a result.
RUN_LIMIT_S = 170.0
#: How long the Spark JVM and its Python workers get to exit on their own
#: before they are killed.
EXIT_GRACE_S = 5.0
PR_SET_CHILD_SUBREAPER = 36


def cores() -> int:
    return len(os.sched_getaffinity(0))


def isolate(run_dir: str) -> None:
    """Point every file the run writes into ``run_dir``: Python and JVM
    temp dirs, Spark local dirs, the working directory (warehouse, Derby
    log); no bytecode caches in the checkout and no JVM perf-data file
    (HotSpot writes it under /tmp whatever the temp dir)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = None
    sys.dont_write_bytecode = True
    os.chdir(run_dir)


def adopt_orphans() -> None:
    """Make this process the reaper of everything it starts, so the Python
    workers the JVM forks stay its descendants when the JVM exits before
    them, and ``stop_processes`` can wait for each."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def descendants() -> list[int]:
    """Pids of every live or unreaped process below this one."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    found, todo = [], [os.getpid()]
    while todo:
        for child in children.get(todo.pop(), []):
            found.append(child)
            todo.append(child)
    return found


def reap() -> None:
    """Collect the exit status of every ended child, adopted ones too."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_processes(grace_s: float = EXIT_GRACE_S) -> None:
    """Stop Spark and every process started under this one, and wait until
    each has ended: the JVM exits when its stdin closes; whatever is still
    running after ``grace_s`` is killed."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.poll() is None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(grace_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + grace_s
    while True:
        reap()
        pids = descendants()
        if not pids:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def source_revision() -> dict:
    """Git revision when the checkout is a repository, and always a digest
    of the program's sources (the benchmark may run from a plain copy)."""
    digest = hashlib.sha256()
    pkg = os.path.join(ROOT, "project_bigdata_recsys_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for f in sorted(filenames):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                digest.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    digest.update(fh.read())
    rev = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            rev = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10,
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    return {"git_rev": rev, "source_sha256": digest.hexdigest()[:16]}


def start_session():
    from project_bigdata_recsys_spark.session import get_spark

    n = cores()
    spark = get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def release(spark) -> None:
    """The between-op release ``bench.py`` uses: engine-tracked persists,
    then every remaining persisted RDD (checkpoint blocks)."""
    from project_bigdata_recsys_spark.caching import release_tracked

    release_tracked()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()


def set_up(workload: str, sf_dir: str):
    """SETUPS set-ups, each a session start and the workload's shared
    tier; the first also launches the JVM.  Returns the last session and
    per-set-up timings."""
    from project_bigdata_recsys_spark.caching import release_shared

    from workloads import shared_tier

    spark, timings = None, []
    for _ in range(SETUPS):
        if spark is not None:
            release_shared()
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session()
        t1 = time.perf_counter()
        for build in shared_tier(workload):
            build(spark, sf_dir)
        t2 = time.perf_counter()
        timings.append({"start_s": t1 - t0, "shared_tier_s": t2 - t1})
    return spark, timings


def run_op(spark, fn, sf_dir: str, tracer, op_id: int, name: str) -> dict:
    """One op: builder call + collect, then the untimed-for-latency
    release.  With a tracer, spans and store readouts are recorded."""
    from tracing import now_ms

    rec = {"op": op_id, "name": name, "error": None, "pdf": None}
    if tracer is None:
        t0 = time.perf_counter()
        try:
            rec["pdf"] = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001 — a failed op is a measured outcome
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
        rec["latency_s"] = time.perf_counter() - t0
        t1 = time.perf_counter()
        release(spark)
        rec["release_s"] = time.perf_counter() - t1
        return rec
    with tracer.span("op", op=op_id, query=name) as op_span:
        df = None
        try:
            with tracer.span("queries.build") as build:
                df = fn(spark, sf_dir)
            with tracer.span("action") as action:
                rec["pdf"] = df.toPandas()
        except Exception as e:  # noqa: BLE001 — a failed op is a measured outcome
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
        rec["latency_s"] = (now_ms() - op_span["start_ms"]) / 1e3
        if rec["error"] is None:
            tracer.record_op(build, action, df)
        else:
            tracer.skip_op()
        with tracer.span("caching.release") as rel:
            release(spark)
        rec["release_s"] = (rel["end_ms"] - rel["start_ms"]) / 1e3
    tracer.totals["queries.build_ms"] += build["end_ms"] - build["start_ms"]
    return rec


def check_outputs(records: list[dict], sf_dir: str) -> None:
    """Mark every record whose collected result differs from its DuckDB
    oracle (exact, order-insensitive: ``tools/check_oracle.compare``)."""
    import duckdb

    from project_bigdata_recsys_spark.catalog import TABLES, table_path
    from project_bigdata_recsys_spark.plans.queries import ORACLES
    from tools.check_oracle import compare

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')")
    expected = {}
    for rec in records:
        if rec["error"] is not None:
            continue
        name = rec["name"]
        if name not in ORACLES:
            rec["error"] = "no oracle"
            continue
        if name not in expected:
            expected[name] = con.execute(ORACLES[name]).fetchdf()
        problems = compare(name, rec["pdf"], expected[name])
        if problems:
            rec["error"] = "oracle mismatch: " + "; ".join(problems)[:500]
    con.close()


def peak_rss_mb(spark) -> float:
    """High-water RSS of the driver JVM plus this Python process."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024


def percentile(values: list[float], q: int) -> float:
    """The q-th percentile (inclusive method) of ``values``."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def end_to_end(passes, setups, warm_s) -> dict:
    """``setup_s`` is the median session set-up plus the warm pass."""
    return {
        "setup_s": (statistics.median(sum(s.values()) for s in setups) + warm_s, "s"),
        "wall_s": (statistics.median(passes), "s"),
    }


def per_layer(records, passes, setups, warm_s, tracer, spark) -> dict:
    """Per-pass totals of the tracer's counts plus set-up and ratio
    metrics.  Counts with no source on a workload read 0."""
    n = len(passes)
    t = tracer.totals
    lat_ms = sum(r["latency_s"] for r in records) * 1e3
    wall_ms = sum(passes) * 1e3
    per_pass = {
        "catalog.load_table.calls": "count", "catalog.load_table.ms": "ms",
        "queries.build_ms": "ms", "queries.build_jobs": "count",
        "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
        "catalyst.planning_ms": "ms",
        "executor.jobs": "count", "executor.stages": "count",
        "executor.tasks": "count", "executor.run_ms": "ms",
        "executor.cpu_ms": "ms", "executor.gc_ms": "ms",
        "executor.input_mb": "MB", "executor.shuffle_read_mb": "MB",
        "executor.shuffle_write_mb": "MB", "executor.spill_mb": "MB",
        "executor.driver_gap_ms": "ms",
        "python.total_ms": "ms", "python.boot_ms": "ms", "python.init_ms": "ms",
        "python.sent_mb": "MB", "python.rows_received": "count",
        "streaming.batches": "count", "streaming.input_rows": "count",
        "streaming.trigger_ms": "ms", "streaming.add_batch_ms": "ms",
        "streaming.query_planning_ms": "ms", "streaming.wal_commit_ms": "ms",
        "streaming.commit_offsets_ms": "ms", "streaming.state_rows": "count",
        "streaming.outside_batch_ms": "ms",
        "write.files": "count", "write.dynamic_parts": "count",
        "write.output_mb": "MB", "write.task_commit_ms": "ms",
        "write.job_commit_ms": "ms",
        "caching.persists": "count",
    }
    out = {name: (t.get(name, 0.0) / n, unit) for name, unit in per_pass.items()}
    out.update({
        "session.jvm_start_s": (setups[0]["start_s"], "s"),
        "session.start_s": (statistics.median(s["start_s"] for s in setups), "s"),
        "session.warm_pass_s": (warm_s, "s"),
        "caching.shared_tier_s": (statistics.median(s["shared_tier_s"] for s in setups), "s"),
        "caching.cached_mb_peak": (t.get("caching.cached_mb_peak", 0.0), "MB"),
        "caching.release_ms": (sum(r["release_s"] for r in records) * 1e3 / n, "ms"),
        "executor.busy_ratio": (t.get("executor.run_ms", 0.0) / (lat_ms * cores()), "ratio"),
        "streaming.batch_p50_ms": (tracer.batch_p50_ms(), "ms"),
        "ops.error_rate": (sum(r["error"] is not None for r in records) / len(records), "ratio"),
        "ops.latency_p50_s": (statistics.median(r["latency_s"] for r in records), "s"),
        "ops.latency_p90_s": (percentile([r["latency_s"] for r in records], 90), "s"),
        "memory.peak_rss_mb": (peak_rss_mb(spark), "MB"),
        "trace.spans": (len(tracer.spans) / n, "count"),
        "trace.overhead_ratio": (wall_ms / (wall_ms - tracer.bookkeeping_ms), "ratio"),
    })
    return out


def measure(workload: str, seed: int, seconds: float, trace: bool,
            sf_dir: str = DATA_DIR, ops: dict | None = None) -> dict:
    """Set up, run whole passes for ``seconds``, check outputs and return
    the run record.  ``ops`` maps op names to builders; by default the
    workload's ops from ``QUERIES``."""
    from project_bigdata_recsys_spark.plans.queries import QUERIES

    from tracing import Tracer
    from workloads import MIN_PASSES, WORKLOADS, op_order

    if ops is None:
        ops = {name: QUERIES[name] for name in WORKLOADS[workload]}
    order = op_order(sorted(ops), seed)
    env = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "sf": os.path.basename(sf_dir), "nproc": cores(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_start": os.getloadavg(), "python": platform.python_version(),
        **source_revision(),
    }
    spark, setups = set_up(workload, sf_dir)
    # One warm pass first: every op's first execution in the process (code
    # generation, JIT, Python worker start) is charged to set-up, not wall.
    t_warm = time.perf_counter()
    warm = [run_op(spark, ops[name], sf_dir, None, -1, name) for name in order]
    warm_s = time.perf_counter() - t_warm
    import pyspark

    env.update(spark=pyspark.__version__,
               java=spark._jvm.java.lang.System.getProperty("java.version"))
    tracer = Tracer(spark) if trace else None
    if tracer is not None:
        tracer.install()
    records, passes = [], []
    t_start = time.perf_counter()
    try:
        while (len(passes) < MIN_PASSES[workload]
               or time.perf_counter() - t_start < seconds):
            t_pass = time.perf_counter()
            for name in order:
                records.append(run_op(spark, ops[name], sf_dir, tracer, len(records), name))
            passes.append(time.perf_counter() - t_pass)
    finally:
        if tracer is not None:
            tracer.uninstall()
    check_outputs(warm + records, sf_dir)
    for rec in warm + records:
        if rec["error"] is None and rec["latency_s"] > OP_TIMEOUT_S:
            rec["error"] = f"timed out ({rec['latency_s']:.1f}s > {OP_TIMEOUT_S}s)"
    if tracer is None:
        metrics = end_to_end(passes, setups, warm_s)
    else:
        metrics = per_layer(records, passes, setups, warm_s, tracer, spark)
    failed = sum(r["error"] is not None for r in warm + records)
    env["loadavg_end"] = os.getloadavg()
    from project_bigdata_recsys_spark.caching import release_shared

    release_shared()
    spark.stop()
    return {
        "env": env,
        "warm_ops": [{k: v for k, v in r.items() if k != "pdf"} for r in warm],
        "ops": [{k: v for k, v in r.items() if k != "pdf"} for r in records],
        "passes_s": passes,
        "setups": setups,
        "spans": tracer.spans if tracer is not None else [],
        "result": {
            "correct": failed == 0,
            "attempted": len(warm) + len(records),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        },
    }


def _watchdog() -> None:
    """Past RUN_LIMIT_S: stop every process the run started and exit
    without a result."""
    print(f"run exceeded {RUN_LIMIT_S}s; aborting", file=sys.stderr, flush=True)
    stop_processes(grace_s=1.0)
    os._exit(3)


def main(argv=None) -> int:
    sys.dont_write_bytecode = True
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    # fail before any set-up when the program is not beside the benchmark
    import project_bigdata_recsys_spark.plans.queries  # noqa: F401

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    run_dir = os.path.join(OUT_DIR, f"{tag}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    isolate(run_dir)
    adopt_orphans()
    timer = threading.Timer(RUN_LIMIT_S, _watchdog)
    timer.daemon = True
    timer.start()
    try:
        record = measure(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        timer.cancel()
        stop_processes()
        os.chdir(HERE)
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(os.path.join(OUT_DIR, f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for op in record["warm_ops"] + record["ops"]:
        if op["error"] is not None:
            print(f"FAIL {op['name']}: {op['error']}", file=sys.stderr)
    print(json.dumps({"env": record["env"]}, default=str))
    print(json.dumps(record["result"]), flush=True)
    return 0 if record["result"]["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
