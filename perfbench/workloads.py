"""The benchmark workloads.

Each workload takes a ``Ctx`` and returns a ``Result``: end-to-end
figures, per-layer figures (traced runs), the operation counts and the
run's validity notes. Timed regions cover only the program's public
entry points; input generation and correctness checks run outside them.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

import gen
import checks
import instrument as tr

SETUP_REPS = 3
#: closed loops: warm operations after the cold one that are checked but
#: not timed, so that JIT compilation and cold caches are paid before
#: the window starts
WARMUP_S = 4.0


@dataclass
class Ctx:
    spark: object
    tracer: tr.Tracer
    work: str
    seed: int
    seconds: float
    session_start_s: float
    t0: float = field(default_factory=time.perf_counter)
    marks: dict = field(default_factory=dict)

    def mark(self, name: str) -> None:
        """Wall time since the run started, per phase (run accounting)."""
        self.marks[name] = round(time.perf_counter() - self.t0, 2)


@dataclass
class Result:
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    info: dict = field(default_factory=dict)
    input_digest: str = ""
    #: the workload's figures under their workload-specific names
    named: dict = field(default_factory=dict)  # name -> (value, unit)


def tail_stat(samples: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest of p90/p95/p99/p99.9 that has at
    least 10 samples beyond it; the maximum when there are too few
    samples for any of them."""
    n = len(samples)
    best = None
    for p in (90.0, 95.0, 99.0, 99.9):
        if n * (1 - p / 100.0) >= 10:
            best = p
    s = sorted(samples)
    if best is None:
        return 100.0, s[-1]
    return best, s[min(n - 1, int(round(best / 100.0 * (n - 1))))]


def _dir_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(d, n)
                try:
                    out[p] = os.path.getsize(p)
                except OSError:
                    pass
    return out


def _closed_loop(ctx: Ctx, op, check, res: Result, op_name: str,
                 prepare=None) -> tuple[float, list[float]]:
    """One cold operation, untimed warm-up operations for ``WARMUP_S``
    (at least one), then warm operations back to back until the window
    closes (at least two). ``prepare`` runs before and the check after
    each operation, both outside the timed part; every operation is
    checked."""
    def one():
        if prepare:
            prepare()
        t0 = time.perf_counter()
        out = op()
        dt = time.perf_counter() - t0
        res.attempted += 1
        errs = check(out)
        if errs:
            res.failed += 1
            res.errors.extend(f"{op_name}: {e}" for e in errs)
        return dt

    first = one()
    end = time.perf_counter() + WARMUP_S
    one()
    while time.perf_counter() < end:
        one()
    warm = []
    end = time.perf_counter() + ctx.seconds
    while time.perf_counter() < end or len(warm) < 2:
        warm.append(one())
    return first, warm


# -- snapshot_multi_table ----------------------------------------------------------


def snapshot_multi_table(ctx: Ctx) -> Result:
    from transferia_spark.operators.base import Transformation
    from transferia_spark.plans.config import spec_from_dict
    from transferia_spark.plans.transfer import activate
    from transferia_spark.sinks.files import FileSink
    from transferia_spark.sources.files import FileSource

    res = Result()
    src = os.path.join(ctx.work, "snapshot_src")
    out = os.path.join(ctx.work, "snapshot_out")
    t0 = time.perf_counter()
    res.input_digest = gen.digest(gen.write_snapshot_inputs(ctx.seed, src))
    res.info["generate_s"] = time.perf_counter() - t0
    expected = checks.snapshot_expected(src)
    rows_per_transfer = sum(n for n, _ in expected.values())

    doc = {
        "type": "SNAPSHOT_ONLY",
        "src": {"type": "file", "params": {
            "path": src, "format": "parquet", "tables": list(gen.SNAPSHOT_TABLES)}},
        "dst": {"type": "file", "params": {"path": out, "format": "parquet"}},
        "transformation": {"transformers": [
            {"filter_rows": {"filters": [f"status < {gen.SNAPSHOT_FILTER_STATUS}"]}},
            {"mask_field": {"columns": ["label"], "salt": gen.SNAPSHOT_SALT}},
            {"convert_to_string": {"columns": ["updated"]}},
            {"rename_tables": {"mapping": gen.SNAPSHOT_RENAMES}},
        ]},
    }

    # the program's own set-up: parse the transfer spec, list the tables
    setups = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        spec = spec_from_dict(doc)
        spec.src.table_list(ctx.spark)
        setups.append(time.perf_counter() - t0)

    tracer = ctx.tracer
    tracer.wrap(FileSource, "load_table", "sources.load_table")
    tracer.wrap(Transformation, "apply_batch", "operators.apply_batch")
    tracer.wrap(FileSink, "write", "sinks.file_write")
    outputs = []

    def op():
        with tracer.job_group("snapshot"):
            return activate(ctx.spark, spec_from_dict(doc))

    def check(written):
        if tracer.enabled:
            outputs.append(_dir_files(out))
        errs = [f"activate() did not report {t}" for t in sorted(expected)
                if not any(k.split(".")[-1] == t for k in written)]
        return errs + checks.snapshot_mismatches(out, expected)

    # each transfer writes into an empty sink directory, so its check
    # reads only what that transfer wrote
    first, warm = _closed_loop(ctx, op, check, res, "transfer",
                               prepare=lambda: shutil.rmtree(out, ignore_errors=True))
    tracer.unwrap_all()
    p50 = statistics.median(warm)
    pct, tail = tail_stat(warm)
    res.e2e = {
        "setup_s": ctx.session_start_s + statistics.median(setups),
        "first_op_s": first,
        "rows_per_s": rows_per_transfer / p50,
    }
    res.named = {
        "snapshot_rows_per_s": (res.e2e["rows_per_s"], "1/s"),
        "snapshot_transfer_s_p50": (p50, "s"),
        f"snapshot_transfer_s_tail (p{pct:g})": (tail, "s"),
    }
    res.info.update({
        "transfers": res.attempted, "timed_transfers": len(warm),
        "rows_per_transfer": rows_per_transfer,
        "tail_percentile": pct, "program_setup_s": statistics.median(setups),
    })
    if tracer.enabled:
        n = res.attempted
        res.layers.update({
            "sources.load_table_s": tracer.total("sources.load_table") / n,
            "operators.apply_batch_s": tracer.total("operators.apply_batch") / n,
            "sinks.file_write_s": tracer.total("sinks.file_write") / n,
            "sinks.output_files": statistics.mean(len(o) for o in outputs),
            "sinks.output_bytes": statistics.mean(sum(o.values()) for o in outputs),
        })
        res.info["transfers_traced"] = n
    return res


# -- CDC -------------------------------------------------------------------------------


N_BUCKETS = 16
#: the backlog is two batches
MAX_EVENTS_PER_BATCH = gen.CDC_BACKLOG_EVENTS // 2
#: a bucket folds once 3 to 5 deltas are pending (the threshold is
#: staggered per bucket; the default base is 8). The warm-up and the two
#: backlog batches make three deltas, so the catch-up runs without folds
#: and folds run beside the stream from the first tail batch on
MAX_DELTAS = 3
#: the tail's first seconds, at the same offered rate, are its warm-up:
#: their events are published, committed and checked, but their lags
#: are not counted. Over them the commit interval falls from 1.5-4.5 s
#: to a steady 0.6-1.2 s as the first folds run and the code warms up
TAIL_WARMUP_S = 8.0
#: reads of the target once the stream has stopped. They run after it,
#: not beside it: the verb keeps the table's reader lease (``retention``)
#: at two manifests, and a read that spans two commits can lose a delta
#: file to a fold's clean-up (FILE_NOT_EXIST)
TARGET_READS = 3
#: limits on each phase of the verb's run: the cold first batch, the
#: catch-up, and the drain after the tail (the tail itself lasts
#: --seconds). The benchmark stops the query once every published event
#: is committed; a phase over its limit makes the run invalid.
FIRST_LIMIT_S = 40.0
CATCHUP_LIMIT_S = 30.0
DRAIN_LIMIT_S = 30.0
HEALTH_INTERVAL_S = 0.2
TRANSFER_ID = "bench"


class CommitPoller(threading.Thread):
    """Follows the streaming checkpoint: for every committed batch, the
    end LSN (from its offsets file) and the commit time (the commit
    file's modification time)."""

    def __init__(self, ckpt: str):
        super().__init__(name="commit-poller", daemon=True)
        self.ckpt = ckpt
        self.commits: list[tuple[int, int, float]] = []  # (batch, end_lsn, t)
        self.committed = 0
        self.cond = threading.Condition()
        self.stop = threading.Event()

    def _scan(self) -> None:
        try:
            names = os.listdir(os.path.join(self.ckpt, "commits"))
        except FileNotFoundError:
            return
        seen = {b for b, _, _ in self.commits}
        new = sorted(int(n) for n in names if n.isdigit() and int(n) not in seen)
        for b in new:
            try:
                t = os.stat(os.path.join(self.ckpt, "commits", str(b))).st_mtime_ns / 1e9
                with open(os.path.join(self.ckpt, "offsets", str(b))) as f:
                    lsn = int(json.loads(f.read().splitlines()[-1])["lsn"])
            except (OSError, ValueError, KeyError, IndexError):
                return  # half-written: next poll
            with self.cond:
                self.commits.append((b, lsn, t))
                self.committed = max(self.committed, lsn)
                self.cond.notify_all()

    def run(self) -> None:
        while not self.stop.is_set():
            self._scan()
            time.sleep(0.01)
        self._scan()

    def wait_for(self, lsn: int, deadline: float) -> float | None:
        """Commit time of the first commit covering ``lsn``."""
        with self.cond:
            while self.committed < lsn:
                left = deadline - time.time()
                if left <= 0 or self.stop.is_set():
                    return None
                self.cond.wait(min(left, 0.05))
            return min(t for _, e, t in self.commits if e >= lsn)


def _manifest(root: str) -> dict:
    try:
        with open(os.path.join(root, "_CURRENT")) as f:
            v = int(f.read().strip())
        with open(os.path.join(root, f"_manifest_v{v}.json")) as f:
            doc = json.load(f)
    except (OSError, ValueError):
        return {"buckets": {}, "deltas": [], "delta_buckets": {}}
    if "buckets" not in doc:
        doc = {"buckets": doc}
    return doc


def _pending_delta_files(root: str) -> int:
    doc = _manifest(root)
    n = 0
    for d in doc.get("deltas", []):
        for _, _, names in os.walk(os.path.join(root, f"_d{d}")):
            n += sum(1 for x in names if x.endswith(".parquet"))
    return n


def cdc_hotkey_delta_read(ctx: Ctx) -> Result:
    from pyspark.sql import functions as F
    from pyspark.sql.readwriter import DataFrameWriter

    import pyarrow.parquet as pq

    from transferia_spark.plans.config import spec_from_dict
    from transferia_spark.streaming import bucketed_table as bt
    from transferia_spark.tasks.replicate import run_replication

    res = Result()
    base = os.path.join(ctx.work, "cdc")
    wal = os.path.join(base, "wal")
    state, ckpt = os.path.join(base, "state"), os.path.join(base, "ckpt")
    os.makedirs(state)

    # inputs: the seed table and every WAL file of the run, staged up
    # front so the generator thread only publishes (renames) files
    t0 = time.perf_counter()
    paths, events, staged = gen.write_cdc_inputs(ctx.seed, TAIL_WARMUP_S + ctx.seconds, base)
    res.info["generate_s"] = time.perf_counter() - t0
    res.input_digest = gen.digest(paths)
    wal_bytes = [os.path.getsize(p) for p in paths[1:]]  # warm-up file first
    seed_path = paths[0]
    seed_tbl = pq.read_table(seed_path)
    staged = [(lo, hi, p, os.path.join(wal, os.path.basename(p)[:-4] + ".jsonl"))
              for lo, hi, p in staged]
    ctx.mark("inputs")

    # the program's own set-up: seed the target with overwrite (fresh
    # roots; the last one is replicated into)
    setups = []
    for i in range(SETUP_REPS):
        root = os.path.join(base, f"target{i}")
        t0 = time.perf_counter()
        bt.BucketedParquetTable(
            ctx.spark, root, keys=["k"], n_buckets=N_BUCKETS, merge_mode="delta",
        ).overwrite(ctx.spark.read.parquet(seed_path))
        setups.append(time.perf_counter() - t0)
    for i in range(SETUP_REPS - 1):
        shutil.rmtree(os.path.join(base, f"target{i}"), ignore_errors=True)
    target = os.path.join(base, f"target{SETUP_REPS - 1}")
    ctx.mark("setup")

    spec = spec_from_dict({
        "type": "INCREMENT_ONLY",
        "src": {"type": "file", "params": {"path": seed_path, "format": "parquet"}},
        "dst": {"type": "file", "params": {"path": os.path.join(base, "unused")}},
        "replication": {
            "source": {"format": "waljson", "path": wal, "schema": gen.CDC_DDL,
                       "options": {"max_events_per_batch": MAX_EVENTS_PER_BATCH}},
            "target": {"kind": "bucketed", "root": target, "keys": ["k"],
                       "n_buckets": N_BUCKETS, "merge_mode": "delta",
                       "max_deltas": MAX_DELTAS},
            "checkpoint_dir": ckpt,
            "health_interval": HEALTH_INTERVAL_S,
        },
    })

    tracer = ctx.tracer
    merges: list[dict] = []
    batches_applied = [0]
    if tracer.enabled:
        def before_merge(args):
            return _manifest(target), _dir_files(target)

        def after_merge(state_, args, out):
            m0, f0 = state_
            m1, f1 = _manifest(target), _dir_files(target)
            b0, b1 = m0.get("buckets", {}), m1.get("buckets", {})
            touched = {b for b in b1 if b0.get(b) != b1[b]}
            for d in set(map(str, m1.get("deltas", []))) - set(map(str, m0.get("deltas", []))):
                touched |= set(map(str, m1.get("delta_buckets", {}).get(d, [])))
            new = {p: s for p, s in f1.items() if p not in f0}
            merges.append({"touched": len(touched), "files": len(new),
                           "bytes": sum(new.values())})

        tracer.wrap(bt.BucketedParquetTable, "merge", "bucketed.merge",
                    group="streaming.bucketed_table.merge",
                    before=before_merge, after=after_merge)
        tracer.wrap(bt.BucketedParquetTable, "compact_buckets", "bucketed.compact",
                    group="streaming.bucketed_table.compact")
        tracer.wrap(bt.BucketedParquetTable, "compact", "bucketed.compact",
                    group="streaming.bucketed_table.compact")
        tracer.wrap(bt.BucketedCdcApplySink, "__call__", "sink.batch",
                    after=lambda s, a, o: batches_applied.__setitem__(0, batches_applied[0] + 1))
        tracer.wrap(DataFrameWriter, "parquet", "sink.write_action")
        progress = tr.progress_listener()
        ctx.spark.streams.addListener(progress)

    poller = CommitPoller(ckpt)
    phases: dict = {}
    publish: list[tuple[int, int, float]] = []  # (lo, hi, t_due) per WAL file
    lateness: list[float] = []
    backlog: list[int] = []  # uncommitted events at each tail tick
    reads: list[float] = []
    read_plans: list[float] = []
    pending: list[int] = []
    warm_end = gen.CDC_WARMUP_EVENTS
    backlog_hi = staged[0][1]

    def generator():
        try:
            run_phases()
        finally:
            # stop the verb: after the drain normally, early on a phase
            # over its limit (the verb then reports the stop as an error)
            phases["stopped"] = True
            for q in ctx.spark.streams.active:
                q.stop()

    def run_phases():
        t_call = phases["t_call"]
        while not ctx.spark.streams.active and time.time() - t_call < FIRST_LIMIT_S:
            time.sleep(0.01)
        t_warm = poller.wait_for(warm_end, t_call + FIRST_LIMIT_S)
        if t_warm is None:
            phases["aborted"] = "the first batch did not commit inside its limit"
            return
        phases["first_op_s"] = t_warm - t_call
        lo, hi, src, dst = staged[0]
        os.rename(src, dst)
        t_b = time.time()
        publish.append((lo, hi, t_b))
        t_done = poller.wait_for(backlog_hi, t_b + CATCHUP_LIMIT_S)
        if t_done is None:
            phases["aborted"] = "the backlog did not drain inside its limit"
            return
        phases["catchup_s"] = t_done - t_b
        t0 = time.time()
        for i, (lo, hi, src, dst) in enumerate(staged[1:]):
            sched = t0 + (i + 1) * gen.CDC_TICK_S
            delay = sched - time.time()
            if delay > 0:
                time.sleep(delay)
            os.rename(src, dst)
            # lags count from the schedule, so a late generator cannot
            # hide a stall (lateness is reported)
            publish.append((lo, hi, sched))
            lateness.append(time.time() - sched)
            backlog.append(hi - poller.committed)
        phases["tail_s"] = time.time() - t0
        phases["backlog_at_end"] = publish[-1][1] - poller.committed
        if poller.wait_for(publish[-1][1], time.time() + DRAIN_LIMIT_S) is None:
            phases["drain_cut"] = True

    # one continuous `replicate` verb: its first commit (the warm-up
    # file, cold JVM) is the first operation; the backlog lands right
    # after it, then the open-loop tail runs for its warm-up and then
    # for --seconds; the query is stopped once every published event is
    # committed
    gen_thread = threading.Thread(target=generator, name="wal-generator", daemon=True)
    py_cpu0 = tr.python_worker_cpu_s() if tracer.enabled else 0.0
    phases["t_call"] = time.time()
    poller.start()
    gen_thread.start()
    try:
        run_replication(ctx.spark, spec, transfer_id=TRANSFER_ID, state_dir=state,
                        max_attempts=1, retry_interval=0.0)
    except Exception as e:  # noqa: BLE001 — reported as a failed operation
        # the verb reports a query stopped from outside as "terminated
        # without an error"; that stop is the benchmark's own
        if not (phases.get("stopped") and "terminated without an error" in str(e)):
            res.errors.append(f"replicate: {type(e).__name__}: {e}")
    gen_thread.join(timeout=60)
    py_cpu = tr.python_worker_cpu_s() - py_cpu0 if tracer.enabled else 0.0
    poller.stop.set()
    poller.join(timeout=10)
    published_end = publish[-1][1] if publish else warm_end
    res.info["committed_in_window"] = poller.committed
    res.info["published_end"] = published_end
    if poller.committed < published_end and not res.errors:
        # events left after the window: drain them (untimed) so the
        # target can be checked against every published event
        run_replication(ctx.spark, spec, transfer_id=TRANSFER_ID, state_dir=state,
                        once=True, max_attempts=1)
    # a background fold the stop left running must land before the check
    for t in threading.enumerate():
        if t.name == "bucketed-compactor":
            t.join(timeout=60)
    ctx.mark("window")
    if tracer.enabled:
        ctx.spark.streams.removeListener(progress)
    tracer.unwrap_all()

    # -- reads: merge-on-read over the deltas the stream left pending;
    # each read plans the table and aggregates every row
    table = bt.BucketedParquetTable(ctx.spark, target, keys=["k"])
    read_errors = []
    for _ in range(TARGET_READS):
        if tracer.enabled:
            pending.append(_pending_delta_files(target))
        try:
            with tracer.job_group("reader"):
                t0 = time.perf_counter()
                df = table.read()
                t1 = time.perf_counter()
                df.agg(F.count(F.lit(1)), F.sum("d00")).collect()
                t2 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 — a failed read is a failed op
            read_errors.append(f"read: {type(e).__name__}: {e}")
            continue
        read_plans.append(t1 - t0)
        reads.append(t2 - t0)
    ctx.mark("reads")

    # -- correctness: the target against the fold of every published event
    expected = checks.cdc_expected(seed_tbl, wal)
    got = table.read().select(*seed_tbl.column_names).toArrow()
    errs = checks.cdc_mismatches(got, expected)
    ctx.mark("check")
    res.errors.extend(errs + read_errors)
    if "aborted" in phases:
        res.errors.append(phases["aborted"])
    # operations: every published event is one replicated operation,
    # every read of the target one more
    res.attempted = published_end + len(reads) + len(read_errors)
    res.failed = (len(errs) > 0) + len(read_errors) + ("aborted" in phases) + (
        1 if any(e.startswith("replicate:") for e in res.errors) else 0)

    # -- commit lag of each measured tail event (the tail after its
    # warm-up): from its creation (evenly over the tick its file flushes
    # at the end of) to the first commit that covers its LSN
    measured = publish[1 + gen.cdc_tail_ticks(TAIL_WARMUP_S):]
    commits = sorted(poller.commits, key=lambda c: c[1])
    step = gen.CDC_TICK_S / gen.CDC_EVENTS_PER_TICK
    lags = []
    ci = 0
    for lo, hi, t_flush in measured:
        for k, lsn in enumerate(range(lo, hi + 1)):
            while ci < len(commits) and commits[ci][1] < lsn:
                ci += 1
            if ci == len(commits):
                break  # committed only by the untimed drain
            lags.append(commits[ci][2] - (t_flush - gen.CDC_TICK_S + (k + 1) * step))
    tail_events = sum(hi - lo + 1 for lo, hi, _ in measured)
    # the run is valid when every tail event committed inside the
    # window and the backlog did not grow over the measured tail: the
    # backlog at the end stays within the peak backlog of the measured
    # tail's first half (plus two seconds of offered events: commits
    # come every 0.5-2.5 s)
    tail_backlog = backlog[gen.cdc_tail_ticks(TAIL_WARMUP_S):]
    half = len(tail_backlog) // 2
    grew = bool(half) and tail_backlog[-1] > max(tail_backlog[:half]) + 2 * gen.CDC_TAIL_RATE
    valid = (
        "aborted" not in phases and len(lags) > 0 and not grew and not phases.get("drain_cut")
        and len(lags) == tail_events
    )
    pct, tail = tail_stat(lags) if lags else (0.0, 0.0)
    res.e2e = {
        "setup_s": ctx.session_start_s + statistics.median(setups),
        "first_op_s": phases.get("first_op_s", 0.0),
        "rows_per_s": gen.CDC_BACKLOG_EVENTS / phases["catchup_s"] if "catchup_s" in phases else 0.0,
    }
    res.info.update({
        "seed_keys": gen.CDC_SEED_KEYS,
        "backlog_events": gen.CDC_BACKLOG_EVENTS,
        "offered_tail_rate": gen.CDC_TAIL_RATE,
        "catchup_s": phases.get("catchup_s"),
        "tail_s": phases.get("tail_s"),
        "tail_files": len(publish) - 1,
        "tail_warmup_s": TAIL_WARMUP_S,
        "measured_tail_files": len(measured),
        "tail_events": tail_events,
        "tail_percentile": pct,
        "lag_s": {f"p{q}": statistics.quantiles(lags, n=100)[q - 1]
                  for q in (50, 75, 90, 95, 99)} if len(lags) > 1 else {},
        "generator_late_s_p50": statistics.median(lateness) if lateness else None,
        "generator_late_s_max": max(lateness) if lateness else None,
        "backlog_at_end": phases.get("backlog_at_end"),
        "commit_times": [round(t - phases["t_call"], 2) for _, _, t in commits],
        "valid": bool(valid),
        "program_setup_s": statistics.median(setups),
    })
    res.named = {
        "cdc_catchup_rows_per_s": (res.e2e["rows_per_s"], "1/s"),
        # reported, not gated: see the README's "Steadiness"
        "cdc_commit_lag_s_p50": (statistics.median(lags) if lags else 0.0, "s"),
        f"cdc_commit_lag_s_tail (p{pct:g})": (tail, "s"),
    }
    if reads:
        rp, rt = tail_stat(reads)
        res.named.update({
            "target_read_s_p50": (statistics.median(reads), "s"),
            f"target_read_s_tail (p{rp:g})": (rt, "s"),
        })
        res.info["reads"] = len(reads)

    # collapse ratio: generated events per distinct key, per committed range
    ev_total = keys_total = 0
    prev = 0
    for _, end, _ in commits:
        if end <= prev:
            continue
        span = events[prev:end]
        ev_total += len(span)
        keys_total += len({k for _, k, _ in span})
        prev = end
    res.info["events_per_applied_row"] = ev_total / keys_total if keys_total else 0.0

    if tracer.enabled:
        res.layers.update(_cdc_layers(tracer, progress, merges, batches_applied[0],
                                      pending, read_plans, reads, wal_bytes, publish, res))
        # the waljson source decodes in the Python workers: their CPU
        # time per batch, set against the decode stages' task time
        batches = max(1, res.layers["streaming.batches"])
        res.layers["operators.python_worker_cpu_s"] = py_cpu / batches
    return res


def _cdc_layers(tracer, progress, merges, applied, pending, read_plans, reads,
                wal_bytes, publish, res) -> dict:
    rows = [b for b in progress.batches if b["rows"] > 0]
    # the per-batch phase split and the sink split of each traced run
    res.info["batches"] = [
        {"batch": b["batch"], "rows": b["rows"], **{
            k: b["ms"].get(k) for k in ("triggerExecution", "latestOffset", "queryPlanning",
                                         "getBatch", "addBatch", "walCommit", "commitOffsets")}}
        for b in rows
    ]
    res.info["sink_split_s"] = {
        "sink_total": tracer.total("sink.batch"),
        "merge_total": tracer.total("bucketed.merge"),
        "write_action": tracer.total("sink.write_action"),
        "compact_total": tracer.total("bucketed.compact"),
    }

    def phase(key):
        vals = [b["ms"].get(key, 0) for b in rows]
        return statistics.median(vals) if vals else 0.0

    # the warm-up file and every published file
    bytes_applied = sum(wal_bytes[: 1 + len(publish)])
    calls = tracer.calls("bucketed.merge")
    return {
        "streaming.batches": len(rows),
        "streaming.rows_per_batch": statistics.mean(b["rows"] for b in rows) if rows else 0.0,
        "streaming.latest_offset_ms": phase("latestOffset"),
        "streaming.query_planning_ms": phase("queryPlanning"),
        "streaming.add_batch_ms": phase("addBatch"),
        "streaming.wal_commit_ms": phase("walCommit"),
        "streaming.commit_offsets_ms": phase("commitOffsets"),
        "streaming.bucketed_table.merge_s": tracer.total("bucketed.merge") / calls if calls else 0.0,
        "streaming.bucketed_table.merge_calls": calls,
        "streaming.bucketed_table.merge_retries": max(0, calls - applied),
        "streaming.bucketed_table.touched_buckets": (
            statistics.mean(m["touched"] for m in merges) if merges else 0.0),
        "streaming.bucketed_table.bytes_rewritten_per_byte_applied": (
            sum(m["bytes"] for m in merges) / bytes_applied if bytes_applied else 0.0),
        "streaming.bucketed_table.files_per_commit": (
            statistics.mean(m["files"] for m in merges) if merges else 0.0),
        "streaming.bucketed_table.compact_s": tracer.total("bucketed.compact"),
        "streaming.bucketed_table.compact_calls": tracer.calls("bucketed.compact"),
        "streaming.bucketed_table.pending_delta_files": statistics.mean(pending) if pending else 0.0,
        "streaming.bucketed_table.read_plan_s": statistics.median(read_plans) if read_plans else 0.0,
    }


WORKLOADS = {
    "snapshot_multi_table": snapshot_multi_table,
    "cdc_hotkey_delta_read": cdc_hotkey_delta_read,
}
