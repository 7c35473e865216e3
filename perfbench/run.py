"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Starts one Spark session on
local[<cpus>], runs one workload against the program's public entry
points, checks every output against an independent reference and prints
a report; the last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end figures; with
``--trace 1`` the per-layer figures (spans, Spark event log, streaming
progress). Everything the run writes stays under ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

UNITS = {"setup_s": "s", "first_op_s": "s", "rows_per_s": "1/s", "peak_rss_mb": "MB"}

#: every per-layer figure a traced run reports; a layer the workload
#: does not touch reports 0
LAYER_UNITS = {
    "session.start_s": "s",
    "sources.load_table_s": "s",
    "sources.scan_bytes": "bytes",
    "sources.scan_task_s": "s",
    "operators.apply_batch_s": "s",
    "operators.exchanges": "count",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.shuffle_write_bytes": "bytes",
    "operators.shuffle_read_bytes": "bytes",
    "operators.executor_run_s": "s",
    "operators.executor_cpu_s": "s",
    "operators.gc_s": "s",
    "operators.python_worker_cpu_s": "s",
    "sinks.file_write_s": "s",
    "sinks.output_files": "count",
    "sinks.output_bytes": "bytes",
    "streaming.batches": "count",
    "streaming.rows_per_batch": "count",
    "streaming.latest_offset_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.wal_source.decode_task_s": "s",
    "streaming.bucketed_table.merge_s": "s",
    "streaming.bucketed_table.merge_calls": "count",
    "streaming.bucketed_table.merge_retries": "count",
    "streaming.bucketed_table.touched_buckets": "count",
    "streaming.bucketed_table.bytes_rewritten_per_byte_applied": "ratio",
    "streaming.bucketed_table.files_per_commit": "count",
    "streaming.bucketed_table.compact_s": "s",
    "streaming.bucketed_table.compact_calls": "count",
    "streaming.bucketed_table.pending_delta_files": "count",
    "streaming.bucketed_table.read_plan_s": "s",
}

#: the Spark job group of each workload's operations (set by the spans)
OP_GROUPS = {
    "snapshot_multi_table": "snapshot",
    "cdc_hotkey_delta_read": "streaming",
}

DRIVER_MEM = "3g"
RUN_LIMIT_S = 170.0

PROGRAM_FILES = ("transferia_spark/__init__.py",)


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _git_rev() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


def _source_digest() -> str:
    import gen

    paths = []
    for d, _, names in os.walk(os.path.join(ROOT, "transferia_spark")):
        paths += [os.path.join(d, n) for n in names if n.endswith(".py")]
    return gen.digest(paths)[:16]


def _event_log_layers(log_dir: str, group: str, res) -> dict:
    import instrument as tr

    log = tr.EventLog(log_dir)
    out: dict = {}
    # per transfer on snapshot, per micro-batch on CDC
    n_ops = res.info.get("transfers_traced") or res.layers.get("streaming.batches") or 1
    stages = log.stages_of(group)
    sums = log.task_sums(stages)
    out.update({
        "operators.exchanges": log.exchanges(group) / n_ops,
        "operators.jobs": log.jobs_of(group) / n_ops,
        "operators.stages": len(stages & set(log.stage_tasks)) / n_ops,
        "operators.tasks": sums["tasks"] / n_ops,
        "operators.shuffle_write_bytes": sums["shuffle_write"] / n_ops,
        "operators.shuffle_read_bytes": sums["shuffle_read"] / n_ops,
        "operators.executor_run_s": sums["run_s"] / n_ops,
        "operators.executor_cpu_s": sums["cpu_s"] / n_ops,
        "operators.gc_s": sums["gc_s"] / n_ops,
    })
    if group == "snapshot":
        scans = log.task_sums(stages, pred=lambda row: row[4] > 0)
        out["sources.scan_bytes"] = scans["input_bytes"] / n_ops
        out["sources.scan_task_s"] = scans["run_s"] / n_ops
    if group == "streaming":
        batches = max(1, res.layers.get("streaming.batches", 0))
        decode = log.stages_named(stages, ("DataSourceRDD",))
        out["streaming.wal_source.decode_task_s"] = log.task_sums(decode)["run_s"] / batches
    return out


def _stop_jvm() -> None:
    """End the JVM this process started and wait until every process
    under this one (the JVM, the Python workers) has exited."""
    import instrument as tr
    from pyspark import SparkContext

    tree = tr.process_tree()[1:]
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    _reap(tree, grace_s=20)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _reap(pids, grace_s: float) -> None:
    """Wait up to ``grace_s`` for ``pids`` to exit, then kill the rest."""
    deadline = time.time() + grace_s
    while pids and time.time() < deadline:
        pids = [p for p in pids if _alive(p)]
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _watchdog(limit_s: float) -> None:
    """A run must end inside the harness limit: past ``limit_s``, kill
    the process tree and exit without a result."""
    import threading

    import instrument as tr

    def fire():
        print(f"perfbench: run exceeded {limit_s:.0f} s, aborting", file=sys.stderr)
        kids = tr.process_tree()[1:]
        for p in kids:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
        _reap(kids, grace_s=5)
        os._exit(3)

    t = threading.Timer(limit_s, fire)
    t.daemon = True
    t.start()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in PROGRAM_FILES if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: the program is not here (missing {', '.join(missing)})",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(1, ROOT)
    import workloads as wl

    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(wl.WORKLOADS)}",
              file=sys.stderr)
        return 2

    os.chdir(ROOT)
    _watchdog(RUN_LIMIT_S - (time.perf_counter() - T_START))
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp, local, events = (os.path.join(work, d) for d in ("tmp", "local", "eventlog"))
    for d in (tmp, local, events):
        os.makedirs(d)
    cpus = _cpus()
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        # no JVM perf-data files under /tmp, for the launcher JVM either
        "SPARK_LAUNCHER_OPTS": " ".join(
            filter(None, [os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData"])),
    })
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size heap: the JVM's resident set then follows the
        # heap the run touches, not the collector's resize decisions
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -XX:-UsePerfData -Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={tmp}"),
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events,
            "spark.eventLog.compress": "false",
        })

    import pyarrow
    import pyspark

    import instrument as tr
    from transferia_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    session_start = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    tracer = tr.Tracer(spark, bool(args.trace))
    ctx = wl.Ctx(spark=spark, tracer=tracer, work=work, seed=args.seed,
                 seconds=args.seconds, session_start_s=session_start, t0=T_START)
    ctx.mark("session")
    try:
        res = wl.WORKLOADS[args.workload](ctx)
        res.e2e["peak_rss_mb"] = tr.tree_rss_mb()
        ctx.mark("workload")
    finally:
        spark.stop()
        _stop_jvm()
    ctx.mark("stopped")

    if args.trace:
        res.layers["session.start_s"] = session_start
        res.layers.update(_event_log_layers(events, OP_GROUPS[args.workload], res))
        metrics = {k: {"value": float(res.layers.get(k, 0.0)), "unit": u}
                   for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": float(res.e2e[k]), "unit": u} for k, u in UNITS.items()}

    meta = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": cpus,
        "git_rev": _git_rev(),
        "source_digest": _source_digest(),
        "input_digest": res.input_digest,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "failed_op_frac": res.failed / max(1, res.attempted),
        "e2e": res.e2e,
        "named": res.named,
        "info": res.info,
        "errors": res.errors[:20],
        "marks": ctx.marks,
    }
    for k, v in res.e2e.items():
        print(f"{k:>24} {v:14.4f} {UNITS.get(k, '')}")
    for k, (v, unit) in res.named.items():
        print(f"{k:>24} {v:14.4f} {unit}")
    print(f"{'failed_op_frac':>24} {meta['failed_op_frac']:14.4f}")
    for e in res.errors[:20]:
        print(f"error: {e}")
    print("meta: " + json.dumps(meta, default=str))
    results = os.path.join(WORK_ROOT, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{args.workload}-{args.seed}-{args.trace}.json"), "w") as f:
        json.dump({"meta": meta, "metrics": metrics}, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    attempted = max(1, res.attempted)
    print(json.dumps({
        "correct": res.failed == 0 and not res.errors,
        "attempted": attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
