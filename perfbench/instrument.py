"""Per-layer instrumentation, attached from outside the program.

Three sources, all owned by the benchmark:

- spans: timing wrappers patched around public functions of each layer
  (``Tracer.wrap``); a span also sets the Spark job group of its thread
  so the jobs it launches are attributed to the layer;
- the Spark event log (``EventLog``): task metrics, stage and job
  counts and SQL plan nodes per job group;
- a ``StreamingQueryListener`` (``ProgressLog``) for the micro-batch
  phase split.

Plus ``/proc`` readers for the process tree: resident set size and the
CPU time of the Python workers.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
from collections import defaultdict

# -- spans ---------------------------------------------------------------------


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.totals: dict[str, list] = defaultdict(lambda: [0.0, 0])  # name -> [s, calls]
        self._lock = threading.Lock()
        self._undo: list = []

    def add(self, name: str, seconds: float, calls: int = 1) -> None:
        with self._lock:
            t = self.totals[name]
            t[0] += seconds
            t[1] += calls

    @contextlib.contextmanager
    def job_group(self, group: str):
        """Attribute the Spark jobs this thread launches to ``group``."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)

    def wrap(self, owner, attr: str, name: str, group: str | None = None,
             before=None, after=None) -> None:
        """Time every call of ``owner.attr`` as span ``name``.
        ``before(args)`` runs ahead of the call and its result is passed
        to ``after(state, args, out)``; both run outside the timed part."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def timed(*args, **kwargs):
            state = before(args) if before else None
            ctx = tracer.job_group(group) if group else contextlib.nullcontext()
            with ctx:
                t0 = time.perf_counter()
                try:
                    out = orig(*args, **kwargs)
                finally:
                    tracer.add(name, time.perf_counter() - t0)
            if after:
                after(state, args, out)
            return out

        setattr(owner, attr, timed)
        self._undo.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def total(self, name: str) -> float:
        return self.totals[name][0] if name in self.totals else 0.0

    def calls(self, name: str) -> int:
        return self.totals[name][1] if name in self.totals else 0


# -- event log -----------------------------------------------------------------


def _walk_plan(node):
    yield node
    for c in node.get("children", []):
        yield from _walk_plan(c)


class EventLog:
    """Parsed Spark event log, grouped by job group."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}
        self.stage_group: dict[int, str] = {}
        self.stage_names: dict[int, str] = {}
        self.stage_tasks: dict[int, int] = {}
        self.task_rows: list[tuple] = []
        self.plans: dict[int, dict] = {}
        self.exec_group: dict[int, str] = {}
        paths = sorted(
            os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names
            if not n.startswith(("appstatus", "."))
        )
        for path in paths:
            with open(path, errors="replace") as fh:
                for line in fh:
                    try:
                        ev = json.loads(line)
                    except ValueError:
                        continue
                    self._event(ev)

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            if not group and props.get("sql.streaming.queryId"):
                group = "streaming"
            jid = ev["Job ID"]
            self.jobs[jid] = {"group": group, "stages": ev.get("Stage IDs", [])}
            for sid in ev.get("Stage IDs", []):
                self.stage_group[sid] = group
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                self.exec_group.setdefault(int(eid), group)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            self.stage_names[sid] = info.get("Stage Name", "") + " | " + " ".join(
                r.get("Name", "") for r in info.get("RDD Info", [])
            )
            self.stage_tasks[sid] = info.get("Number of Tasks", 0)
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            m = ev.get("Task Metrics") or {}
            inp = (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            sw = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            srb = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            out = m.get("Output Metrics") or {}
            self.task_rows.append((
                sid,
                m.get("Executor Run Time", 0) / 1e3,
                m.get("Executor CPU Time", 0) / 1e9,
                m.get("JVM GC Time", 0) / 1e3,
                inp, sw, srb,
                out.get("Bytes Written", 0), out.get("Records Written", 0),
            ))
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            eid = ev.get("executionId")
            if eid is not None and ev.get("sparkPlanInfo"):
                # the adaptive updates replace the plan: keep the last one
                self.plans[int(eid)] = ev["sparkPlanInfo"]

    def stages_of(self, group_prefix: str) -> set[int]:
        return {s for s, g in self.stage_group.items() if g.startswith(group_prefix)}

    def jobs_of(self, group_prefix: str) -> int:
        return sum(1 for j in self.jobs.values() if j["group"].startswith(group_prefix))

    def task_sums(self, stages: set[int], pred=None) -> dict:
        keys = ("run_s", "cpu_s", "gc_s", "input_bytes", "shuffle_write", "shuffle_read",
                "output_bytes", "output_records")
        out = dict.fromkeys(keys, 0.0)
        out["tasks"] = 0
        for row in self.task_rows:
            if row[0] not in stages or (pred and not pred(row)):
                continue
            out["tasks"] += 1
            for k, v in zip(keys, row[1:]):
                out[k] += v
        return out

    def exchanges(self, group_prefix: str) -> int:
        n = 0
        for eid, plan in self.plans.items():
            if not self.exec_group.get(eid, "").startswith(group_prefix):
                continue
            n += sum(
                1 for node in _walk_plan(plan)
                if node.get("nodeName") in ("Exchange", "BroadcastExchange")
            )
        return n

    def stages_named(self, stages: set[int], needles) -> set[int]:
        return {s for s in stages if any(n in self.stage_names.get(s, "") for n in needles)}


# -- streaming progress ----------------------------------------------------------


def progress_listener():
    """A StreamingQueryListener that keeps each progress event's batch
    id, input rows and phase durations."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.batches: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            with self._lock:
                self.batches.append({
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "ms": dict(p.durationMs),
                })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressLog()


# -- process tree --------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            kids[int(fields[1])].append(int(d))
        except (OSError, IndexError, ValueError):
            continue
    return kids


def process_tree(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb() -> float:
    """Sum over the process tree (this process, the JVM, the Python
    workers) of each process's peak resident set size."""
    return sum(_status_kb(p, "VmHWM:") for p in process_tree()) / 1024.0


def python_worker_cpu_s() -> float:
    """User+system CPU of the Python worker processes (every python
    process in the tree other than this one), reaped children
    included."""
    tck = os.sysconf("SC_CLK_TCK")
    me = os.getpid()
    total = 0
    for p in process_tree():
        if p == me:
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                raw = f.read()
            comm = raw[raw.index("(") + 1: raw.rindex(")")]
            if not comm.startswith("python"):
                continue
            fields = raw.rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])
        except (OSError, ValueError):
            continue
    return total / tck
