"""Measurement plumbing: spans, /proc sampling and the Spark event-log fold.

Spans are recorded by the runner around each call it makes into the program
(the program itself is not instrumented). The event log, with the
StreamingQueryListener events Spark writes into it, attributes Spark's own
work to the benchmark operation that caused it.
"""

from __future__ import annotations

import json
import os
import threading
from pathlib import Path


class Spans:
    """In-memory span list: (name, start, end, parent, op id); written once at exit.
    A disabled recorder keeps nothing, so untraced runs pay no bookkeeping."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.rows: list[dict] = []
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float, op: str | None, parent: str | None = None) -> None:
        if self.enabled:
            with self._lock:
                self.rows.append({"name": name, "start": start, "end": end, "parent": parent, "op": op})

    def write(self, path: Path, **extra) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": self.rows, **extra}))


# -- /proc -------------------------------------------------------------------


def _proc_stat(pid: int) -> tuple[str, int, int, int] | None:
    """(comm, ppid, own ticks, reaped-children ticks) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            s = f.read()
    except OSError:
        return None
    comm = s[s.index("(") + 1 : s.rindex(")")]
    rest = s[s.rindex(")") + 2 :].split()
    return comm, int(rest[1]), int(rest[11]) + int(rest[12]), int(rest[13]) + int(rest[14])


def process_tree(root: int) -> dict[int, tuple[str, int, int, int]]:
    stats = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            st = _proc_stat(int(p))
            if st is not None:
                stats[int(p)] = st
    kids: dict[int, list[int]] = {}
    for pid, st in stats.items():
        kids.setdefault(st[1], []).append(pid)
    tree, stack = {}, [root]
    while stack:
        pid = stack.pop()
        if pid in stats:
            tree[pid] = stats[pid]
            stack.extend(kids.get(pid, []))
    return tree


def _kind(pid: int, root: int, comm: str) -> str:
    return "driver" if pid == root else "jvm" if comm == "java" else "pyworker"


def cpu_by_kind(root: int) -> dict[str, int]:
    """CPU ticks of the driver (this process), the JVM and the Python
    workers (every other descendant). Reaped workers are counted through
    their parent's children ticks."""
    out = {"driver": 0, "jvm": 0, "pyworker": 0}
    for pid, (comm, _ppid, own, reaped) in process_tree(root).items():
        kind = _kind(pid, root, comm)
        out[kind] += own + (reaped if kind == "pyworker" else 0)
    return out


def tree_pids(root: int) -> list[int]:
    return [p for p in process_tree(root) if p != root]


class RssSampler:
    """Peak memory of the whole process tree (driver, JVM, Python workers),
    sampled on a background thread. Each process counts its proportional
    set size, so pages forked workers share are not counted once per worker."""

    def __init__(self, root: int, enabled: bool = True, interval: float = 0.2):
        self.root, self.enabled, self.interval = root, enabled, interval
        self.peak_bytes = 0
        self.peak_by_kind: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        by_kind: dict[str, int] = {}
        for pid, (comm, *_rest) in process_tree(self.root).items():
            try:
                with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as f:
                    pss_kb = next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
            except (OSError, StopIteration):
                continue
            k = _kind(pid, self.root, comm)
            by_kind[k] = by_kind.get(k, 0) + pss_kb * 1024
        total = sum(by_kind.values())
        if total > self.peak_bytes:
            self.peak_bytes, self.peak_by_kind = total, by_kind

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        if self.enabled:
            self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        if self.enabled:
            self._stop.set()
            self._thread.join(timeout=5)
            self._sample()


def dir_usage(path: Path) -> tuple[int, int]:
    """(entries directly under path, bytes of every file below it)."""
    if not path.is_dir():
        return 0, 0
    n_bytes = 0
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            try:
                n_bytes += os.lstat(os.path.join(dirpath, fn)).st_size
            except OSError:
                continue
    return len(os.listdir(path)), n_bytes


def file_inodes(path: Path) -> dict[int, int]:
    """inode -> size for every file below path (hard links count once)."""
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            try:
                st = os.lstat(os.path.join(dirpath, fn))
            except OSError:
                continue
            out[st.st_ino] = st.st_size
    return out


# -- event log fold ------------------------------------------------------------


def _plan_metrics(node: dict, out: dict[int, str]) -> None:
    for m in node.get("metrics", []):
        out[int(m["accumulatorId"])] = m["name"]
    for child in node.get("children", []):
        _plan_metrics(child, out)


def _epoch(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def fold_event_log(log_dir: Path, windows: dict[str, tuple[float, float]]):
    """Fold Spark's (uncompressed) event log into per-operation counters.

    windows maps each timed operation id (also its job group) to its
    wall-clock (start, end). Jobs a streaming query starts carry the query's
    runId as their group instead; the log's StreamingQueryListener
    QueryStartedEvent places that runId in the operation running at the
    time. Returns (counters, progress, queries): op id -> {jobs, stages,
    tasks, single_task_stages, first_job_ts, queue_ms, run_ms, cpu_ns,
    gc_ms, shuffle_read, shuffle_write, spill, bytes_read, files_read,
    py_time_ms, py_bytes_sent}; op id -> its QueryProgressEvent progress
    dicts; op id -> the names of the streaming queries it started."""

    def order(f: Path):  # a rolled log is <app dir>/events_<n>_<app>, n from 1
        parts = f.name.split("_")
        return str(f.parent), int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0

    events = []
    files = [f for f in log_dir.rglob("*") if f.is_file() and not f.name.startswith("appstatus")]
    for f in sorted(files, key=order):
        with open(f, encoding="utf-8", errors="replace") as fh:
            for line in fh:
                try:
                    events.append(json.loads(line))
                except ValueError:
                    continue  # a torn last line of a log still being written
    run_op: dict[str, str] = {}
    queries: dict[str, list[str]] = {}
    progress: dict[str, list[dict]] = {}
    for e in events:
        if e.get("Event", "").endswith("StreamingQueryListener$QueryStartedEvent"):
            t = _epoch(e["timestamp"])
            for op, (w0, w1) in windows.items():
                if w0 <= t <= w1:
                    run_op[e["runId"]] = op
                    queries.setdefault(op, []).append(e.get("name"))
                    break

    def job_group_to_op(g):
        g = run_op.get(g, g)
        return g if g in windows else None

    stage_op: dict[int, str] = {}
    exec_op: dict[int, str] = {}
    driver_updates: list[dict] = []
    accum_name: dict[int, str] = {}
    stage_tasks: dict[int, int] = {}
    stage_submit: dict[int, int] = {}
    stage_first_launch: dict[int, int] = {}
    per: dict[str, dict[str, float]] = {}

    def bucket(op: str) -> dict[str, float]:
        return per.setdefault(op, {})

    def add(op: str, key: str, v: float) -> None:
        b = bucket(op)
        b[key] = b.get(key, 0) + v

    sql_metrics = {
        "time to run Python workers": "py_time_ms",
        "data sent to Python workers": "py_bytes_sent",
        "number of files read": "files_read",
    }

    def metric(op: str, name: str, v: float) -> None:
        if name in sql_metrics:
            add(op, sql_metrics[name], v)

    for e in events:
        kind = e.get("Event", "")
        if kind.endswith("StreamingQueryListener$QueryProgressEvent"):
            p = e.get("progress", {})
            op = run_op.get(p.get("runId"))
            if op is not None:
                progress.setdefault(op, []).append(p)
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            op = job_group_to_op(props.get("spark.jobGroup.id"))
            if op is None:
                continue
            add(op, "jobs", 1)
            first = bucket(op).get("first_job_ts")
            ts = e.get("Submission Time", 0)
            bucket(op)["first_job_ts"] = ts if first is None else min(first, ts)
            for sid in e.get("Stage IDs", []):
                stage_op[sid] = op
            if "spark.sql.execution.id" in props:
                exec_op[int(props["spark.sql.execution.id"])] = op
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            _plan_metrics(e.get("sparkPlanInfo", {}), accum_name)
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_metrics(e.get("sparkPlanInfo", {}), accum_name)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            driver_updates.append(e)  # posted before the execution's first job
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            stage_tasks[info["Stage ID"]] = info.get("Number of Tasks", 0)
            if info.get("Submission Time"):
                stage_submit[info["Stage ID"]] = info["Submission Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            op = stage_op.get(info["Stage ID"])
            if op is None:
                continue
            add(op, "stages", 1)
            n = info.get("Number of Tasks", stage_tasks.get(info["Stage ID"], 0))
            add(op, "tasks", n)
            if n == 1:
                add(op, "single_task_stages", 1)
            sub = stage_submit.get(info["Stage ID"]) or info.get("Submission Time")
            first = stage_first_launch.get(info["Stage ID"])
            if sub and first:
                add(op, "queue_ms", max(0, first - sub))
        elif kind == "SparkListenerTaskStart":
            sid = e.get("Stage ID")
            launch = e.get("Task Info", {}).get("Launch Time")
            if launch and (sid not in stage_first_launch or launch < stage_first_launch[sid]):
                stage_first_launch[sid] = launch
        elif kind == "SparkListenerTaskEnd":
            op = stage_op.get(e.get("Stage ID"))
            if op is None:
                continue
            m = e.get("Task Metrics") or {}
            add(op, "run_ms", m.get("Executor Run Time", 0))
            add(op, "cpu_ns", m.get("Executor CPU Time", 0))
            add(op, "gc_ms", m.get("JVM GC Time", 0))
            sr = m.get("Shuffle Read Metrics") or {}
            add(op, "shuffle_read", sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0))
            add(op, "shuffle_write", (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
            add(op, "spill", m.get("Disk Bytes Spilled", 0))
            add(op, "bytes_read", (m.get("Input Metrics") or {}).get("Bytes Read", 0))
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                name = acc.get("Name") or accum_name.get(int(acc.get("ID", -1)), "")
                try:
                    v = float(acc.get("Update", 0))
                except (TypeError, ValueError):
                    continue
                metric(op, name, v)
    for e in driver_updates:
        op = exec_op.get(int(e.get("executionId", -1)))
        for acc_id, v in e.get("accumUpdates", []) if op is not None else ():
            name = accum_name.get(int(acc_id))
            if name:
                metric(op, name, v)
    return per, progress, queries
