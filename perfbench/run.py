#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (batch_suite, stream_chains or interactive_mixed, see
README.md) through the program's public entry points only: build_session,
QuerySpec.spark plus a noop-sink action, Engine.sql, ddl.Catalog and
KVTable. It generates its data, checks every output against DuckDB or an
in-memory model, and prints one JSON object as its last stdout line. With
--trace 0 that object holds the end-to-end metrics; with --trace 1 the
per-layer metrics of BENCHMARK.json. The runner's scratch lives in a per-run
directory under perfbench/.work; the program keeps its streaming checkpoints
where its defaults put them (/dev/shm when writable). Both are removed at
exit.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import itertools
import json
import os
import shutil
import signal
import sys
import tempfile
import threading
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
SHM = Path("/dev/shm")
FIXTURES = ROOT / "tests" / "fixtures"

sys.path.insert(0, str(HERE))
import ops  # noqa: E402
import tracing  # noqa: E402

WORKLOADS = ("batch_suite", "stream_chains", "interactive_mixed")
SCALE = 0.01
# bench.py's contention budgets (SPARK_GRAFT_STEAL_BUDGET / _FOREIGN_BUDGET defaults)
STEAL_BUDGET, FOREIGN_BUDGET = 2.0, 5.0


def _load_repo_module(name: str, rel: str):
    """Import a repo script that is not a package module (tools/, bench.py).
    sys.path is restored afterwards: these scripts prepend their own paths."""
    saved = list(sys.path)
    try:
        spec = importlib.util.spec_from_file_location(name, ROOT / rel)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod
    finally:
        sys.path[:] = saved


# -- data ----------------------------------------------------------------------


def dataset(scale: float) -> str:
    """The seeded tables at `scale`, generated once per checkout by
    tools/gen_sf.py (region/nation, which it copies, are written here)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = WORK / "data" / f"sf{scale}"
    if (out / "DONE").is_file():
        return str(out)
    tmp = WORK / "data" / f".tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "src").mkdir(parents=True)
    pq.write_table(
        pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        tmp / "src" / "region.parquet",
    )
    pq.write_table(
        pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        tmp / "src" / "nation.parquet",
    )
    gen_sf = _load_repo_module("gen_sf", "tools/gen_sf.py")
    with contextlib.redirect_stdout(sys.stderr):
        gen_sf.generate(str(tmp / "sf"), scale, str(tmp / "src"))
    (tmp / "sf" / "DONE").write_text("ok")
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp / "sf", out)
    shutil.rmtree(tmp, ignore_errors=True)
    return str(out)


class Oracle:
    """DuckDB over the same parquet, normalized as tools/check_oracle.py does."""

    def __init__(self, sf_dir: str):
        import duckdb

        from templatedb_spark.catalog import SF_TABLES

        self.normalize = _load_repo_module("check_oracle", "tools/check_oracle.py").normalize
        self.con = duckdb.connect()
        for t in SF_TABLES:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def expect(self, sql: str) -> tuple[list[str], list[tuple]]:
        pdf = self.con.sql(sql).df()
        return sorted(pdf.columns), self.normalize(pdf)

    def mismatch(self, pdf, expected) -> str | None:
        """None if the pandas frame equals the expected (columns, rows)."""
        cols, rows = expected
        if sorted(pdf.columns) != cols:
            return f"columns {sorted(pdf.columns)} != {cols}"
        got = self.normalize(pdf)
        if len(got) != len(rows):
            return f"{len(got)} rows != {len(rows)}"
        if got != rows:
            return "values differ"
        return None


# -- the run -------------------------------------------------------------------


@dataclass
class Sample:
    op: str
    kind: str
    name: str
    start: float
    end: float
    ok: bool
    parts: dict[str, float] = field(default_factory=dict)
    pass_no: int = 0

    @property
    def secs(self) -> float:
        return self.end - self.start


class Run:
    def __init__(self, args):
        self.workload, self.seed, self.seconds, self.traced = (
            args.workload, args.seed, args.seconds, bool(args.trace)
        )
        self.scale = args.scale or SCALE
        self.nproc = len(os.sched_getaffinity(0))
        self.dir = WORK / f"run-{os.getpid()}-{time.time_ns()}"
        self.spans = tracing.Spans(self.traced)
        self.tally = ops.Tally()
        self.setup: dict[str, float] = {}
        self.wall0 = 0.0  # time.time() - time.perf_counter()
        self.spark = None
        for sub in ("tmp", "kv", "eventlog", "local"):
            (self.dir / sub).mkdir(parents=True)
        # the program's own defaults, whatever the caller's environment holds
        for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
            del os.environ[k]
        # Temporary files go under the run dir. Streaming checkpoints stay
        # where the program puts them: /dev/shm when it is writable, else
        # TMPDIR. What this run adds to /dev/shm is removed at exit.
        os.environ["TMPDIR"] = str(self.dir / "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = str(self.dir / "local")
        self.scratch = [self.dir / "tmp"] + ([SHM] if os.access(SHM, os.W_OK) else [])
        self.shm_before = set(os.listdir(SHM)) if SHM in self.scratch else set()
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        )
        tempfile.tempdir = None
        os.chdir(self.dir)
        sys.path.insert(0, str(ROOT))

    # -- bookkeeping
    def check(self, label: str, problem: str | None) -> bool:
        if problem is not None:
            print(f"perfbench: FAIL {label}: {problem}", file=sys.stderr)
        return self.tally.check(label, problem)

    def phase(self, key: str, fn):
        t0 = time.perf_counter()
        w0 = time.time()
        out = fn()
        self.setup[key] = time.perf_counter() - t0
        self.spans.add(key, w0, time.time(), op=None, parent="setup")
        return out

    def start_session(self) -> None:
        from templatedb_spark.session import EngineConfig, build_session

        extra = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.dir / 'tmp'}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced:
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(self.dir / "eventlog"),
                "spark.eventLog.compress": "false",
            })
        self.spark = build_session(EngineConfig(master=f"local[{self.nproc}]", extra=extra))
        self.spark.sparkContext.setLogLevel("ERROR")

    def run_op(self, op_id: str, kind: str, name: str, fn) -> Sample:
        """Time one operation from outside. fn(parts) runs the program calls,
        records sub-call durations into parts, and returns None or a check:
        a callable that returns a problem string (wrong answer) or None.
        Only fn is timed; an exception in either is a failed operation."""
        if self.traced:
            self.spark.sparkContext.setJobGroup(op_id, name, interruptOnCancel=False)
        parts: dict[str, float] = {}
        w0 = time.time()
        t0 = time.perf_counter()
        check, problem = _attempt(lambda: fn(parts))
        t1 = time.perf_counter()
        if check is not None:
            answer, error = _attempt(check)
            problem = error or answer
        self.spans.add(name, w0, w0 + (t1 - t0), op=op_id, parent=kind)
        s = Sample(op_id, kind, name, t0, t1, problem is None, parts)
        self.check(f"{kind} {name}", problem)
        return s

    def closed_loop(self, stream, clients: int, execute, deadline: bool = True) -> list:
        """`clients` threads each run the next item of `stream` ((pass, item)
        pairs) until the stream ends or, with a deadline, until the pass
        running at the deadline is finished: every run times complete
        passes. Returns (pass, execute(item)) pairs."""
        lock = threading.Lock()
        stop_at = time.perf_counter() + self.seconds if deadline else float("inf")
        state = {"last_pass": -1, "done": False}
        out: list = []

        def take():
            with lock:
                if state["done"]:
                    return None
                p, item = next(stream, (None, None))
                if p is None or (p > state["last_pass"] and time.perf_counter() >= stop_at):
                    state["done"] = True
                    return None
                state["last_pass"] = p
                return p, item

        def client() -> None:
            while (taken := take()) is not None:
                result = execute(taken[1])
                with lock:
                    out.append((taken[0], result))

        threads = [threading.Thread(target=client, name=f"client-{i}", daemon=True) for i in range(clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return out

    # -- results
    def end_to_end(self, timed: list[Sample], clients: int) -> dict[str, tuple[float, str]]:
        lat = [s.secs for s in timed if s.ok]
        busy = sum(s.secs for s in timed)
        return {
            "setup_s": (sum(self.setup.values()), "s"),
            # closed-loop throughput by Little's law: clients / mean latency.
            # Unlike completions / wall time it does not count the idle drain
            # at the end of the window.
            "ops_per_s": (clients * len(timed) / busy if busy else 0.0, "1/s"),
            "op_p50_s": (ops.median(lat), "s"),
        }

    @staticmethod
    def op_tail(timed: list[Sample]) -> float:
        """The tail latency of each pass (the highest percentile with ten
        samples beyond it), median over passes: the percentile does not
        depend on how many passes the host's speed fits in the window."""
        by_pass: dict[int, list[float]] = {}
        for s in timed:
            if s.ok:
                by_pass.setdefault(s.pass_no, []).append(s.secs)
        return ops.median([ops.tail(xs) for xs in by_pass.values()])


# -- spec workloads ----------------------------------------------------------


def _numbered(pairs) -> list[Sample]:
    for p, s in pairs:
        s.pass_no = p
    return [s for _p, s in pairs]


def _first_line(e: BaseException) -> str:
    s = str(e)
    return f"{type(e).__name__}: {s.splitlines()[0][:200] if s else ''}"


def _attempt(fn):
    """(fn(), None), or (None, the error) when fn raises: a failed
    operation is counted and the run goes on."""
    try:
        return fn(), None
    except Exception as e:
        traceback.print_exc(file=sys.stderr)
        return None, _first_line(e)


class SpecWorkload:
    """batch_suite (nproc clients) and stream_chains (one client): each op is
    QuerySpec.spark(spark, sf_dir) followed by a noop-sink action.

    An untimed warm pass runs every spec once on the same clients,
    collecting its result and comparing it with DuckDB."""

    def __init__(self, run: Run):
        self.run = run
        self.chains = run.workload == "stream_chains"
        self.clients = 1 if self.chains else run.nproc
        self.seq = itertools.count(1)

    def setup(self) -> None:
        from templatedb_spark.suite import all_specs

        run = self.run
        self.sf = dataset(run.scale)
        self.specs = specs = run.phase("catalog.register_s", all_specs)
        self.names = ops.chain_subset(specs) if self.chains else ops.batch_subset(
            {n: s.spark.__module__ for n, s in specs.items()}
        )
        self.oracle = Oracle(self.sf)
        self.expected = {n: self.oracle.expect(specs[n].oracle) for n in self.names}
        run.phase("session.build_s", run.start_session)

        def verify(name: str) -> None:
            run.spark.sparkContext.setJobGroup(f"warm:{name}", name)
            try:
                pdf = specs[name].spark(run.spark, self.sf).toPandas()
                problem = self.oracle.mismatch(pdf, self.expected[name])
            except Exception as e:  # counted as a failure, the run goes on
                problem = _first_line(e)
            run.check(f"verify {name}", problem)

        run.phase("warm.pass_s", lambda: run.closed_loop(
            ((0, n) for n in self.names), self.clients, verify, deadline=False
        ))

    def execute(self, name: str) -> Sample:
        run, spec = self.run, self.specs[name]
        before = [tracing.dir_usage(p) for p in run.scratch] if self.chains and run.traced else None
        op_id = f"op{next(self.seq)}"  # next() on a count is atomic in CPython

        def fn(parts):
            t0 = time.perf_counter()
            df = spec.spark(run.spark, self.sf)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            parts["build"], parts["action"] = t1 - t0, time.perf_counter() - t1
            return None

        s = run.run_op(op_id, "spec", name, fn)
        if before is not None:
            after = [tracing.dir_usage(p) for p in run.scratch]
            s.parts["leftover_dirs"] = sum(a[0] - b[0] for a, b in zip(after, before))
            s.parts["leftover_bytes"] = sum(a[1] - b[1] for a, b in zip(after, before))
        return s

    def timed(self) -> list[Sample]:
        stream = ops.passes(self.names, self.run.seed)
        return _numbered(self.run.closed_loop(stream, self.clients, self.execute))


# -- interactive_mixed ---------------------------------------------------------


class Interactive:
    """interactive_mixed: one client, a seeded mix of Engine.sql SELECTs,
    ddl.Catalog statements and KVTable operations. Each answer is checked
    against DuckDB or the in-memory models after its clock stops."""

    def __init__(self, run: Run):
        self.run = run
        self.model = ops.KVModel()
        self.ddl_tables: list[str] = []
        self.kv_user_bytes = 0
        self.kv_written_bytes = 0
        self.space_amp: list[float] = []
        self.live_versions: list[int] = []
        self.seq = 0
        self.clients = 1

    def setup(self) -> None:
        from templatedb_spark.ddl import Catalog
        from templatedb_spark.engine import Engine
        from templatedb_spark.kv import KVTable

        run = self.run
        sf = dataset(run.scale)
        oracle = Oracle(sf)
        self.oracle = oracle
        self.expected = {
            (t, i): oracle.expect((duck or sql).format(fixtures=FIXTURES, **p))
            for t, (sql, duck, params) in ops.SQL_TEMPLATES.items()
            for i, p in enumerate(params)
        }
        run.phase("session.build_s", run.start_session)

        def register():
            self.catalog = Catalog(run.spark)
            self.engine = Engine(run.spark, base_dir=str(FIXTURES), catalog=self.catalog)
            self.engine.register_parquet_dir(sf)

        run.phase("catalog.register_s", register)
        self.kv_dir = run.dir / "kv" / "table"

        def preload():
            self.kv = KVTable(run.spark, str(self.kv_dir), layout="hash")
            for batch in ops.preload_batches(run.seed):
                self.model.commit(self.kv.write_batch(puts=batch), batch)

        run.phase("kv.preload_s", preload)
        n_params = {t: len(p) for t, (_s, _d, p) in ops.SQL_TEMPLATES.items()}
        self.stream = ops.interactive_ops(run.seed, n_params)
        warm = ops.warm_ops(run.seed, n_params)
        run.phase("warm.pass_s", lambda: [self.execute(op, timed=False) for op in warm])

    def _kv_write_bytes(self, fn):
        """Run a KV mutation; in traced runs also count the bytes of the
        files it created (hard-linked clones are not new bytes)."""
        if not self.run.traced:
            return fn()
        before = tracing.file_inodes(self.kv_dir)
        out = fn()
        after = tracing.file_inodes(self.kv_dir)
        self.kv_written_bytes += sum(sz for ino, sz in after.items() if ino not in before)
        return out

    def execute(self, op: dict, timed: bool = True) -> Sample:
        run, kind = self.run, op["kind"]
        self.seq += 1
        op_id = f"{'op' if timed else 'warm'}{self.seq}"
        model = self.model

        def sql(parts):
            spark_sql, _duck, params = ops.SQL_TEMPLATES[op["template"]]
            t0 = time.perf_counter()
            df = self.engine.sql(spark_sql.format(**params[op["param"]]))
            t1 = time.perf_counter()
            pdf = df.toPandas()
            parts["sql_call"], parts["action"] = t1 - t0, time.perf_counter() - t1
            return lambda: self.oracle.mismatch(pdf, self.expected[(op["template"], op["param"])])

        def kv_get(parts):
            got = self.kv.get(op["key"])

            def check():
                want = model.live.get(op["key"])
                return None if got == want else f"get {op['key']}: {got!r} != {want!r}"
            return check

        def kv_write(parts):
            v = self._kv_write_bytes(lambda: self.kv.write_batch(puts=op["puts"]))

            def check():
                model.commit(v, op["puts"])
                self.kv_user_bytes += sum(len(k) + len(x) for k, x in op["puts"].items())
            return check

        def kv_delete(parts):
            v = self._kv_write_bytes(lambda: self.kv.delete(op["key"]))

            def check():
                model.commit(v, deletes=[op["key"]])
                self.kv_user_bytes += len(op["key"])
            return check

        def kv_scan(parts):
            rows = self.kv.scan(op["start"], op["end"]).collect()

            def check():
                got = [(r.key, r.value) for r in rows]
                return None if got == model.scan(op["start"], op["end"]) else "scan differs from model"
            return check

        def kv_snapshot(parts):
            v = model.older_version(op["back"])
            rows = self.kv.snapshot(as_of=v).collect()

            def check():
                got = sorted((r.key, r.value) for r in rows)
                return None if got == sorted(model.history[v].items()) else f"snapshot@{v} differs"
            return check

        def kv_compact(parts):
            self._kv_write_bytes(lambda: self.kv.compact_range(op["start"], op["end"]))
            return lambda: model.compacted(self.kv.latest_version())

        def ddl_create(parts):
            name = f"t{len(self.ddl_tables)}"
            cols = ", ".join(f"{c} {t}" for c, t in ops.DDL_COLUMNS)
            self.catalog.create_table(f"CREATE TABLE {name} ({cols})")
            self.ddl_tables.append(name)

        def ddl_insert(parts):
            n = self.catalog.insert(self.ddl_tables[-1], op["rows"])
            return lambda: None if n == len(op["rows"]) else f"inserted {n} of {len(op['rows'])}"

        def ddl_describe(parts):
            got = self.catalog.describe(self.ddl_tables[-1])

            def check():
                want = [(c.lower(), t.lower()) for c, t in ops.DDL_COLUMNS]
                return None if got == want else f"describe {got} != {want}"
            return check

        fn = {
            "sql": sql, "kv_get": kv_get, "kv_write": kv_write, "kv_delete": kv_delete,
            "kv_scan": kv_scan, "kv_snapshot": kv_snapshot, "kv_compact": kv_compact,
            "ddl_create": ddl_create, "ddl_insert": ddl_insert, "ddl_describe": ddl_describe,
        }[kind]
        s = run.run_op(op_id, kind, op.get("template", kind), fn)
        if run.traced and kind.startswith("kv_") and kind != "kv_get":
            on_disk = tracing.dir_usage(self.kv_dir)[1]
            self.space_amp.append(on_disk / max(1, model.live_bytes()))
            self.live_versions.append(sum(1 for p in self.kv_dir.glob("version=*")))
        return s

    def timed(self) -> list[Sample]:
        self.kv_user_bytes = self.kv_written_bytes = 0  # count timed ops only
        self.space_amp, self.live_versions = [], []
        return _numbered(self.run.closed_loop(self.stream, 1, self.execute))


# -- per-layer metrics -----------------------------------------------------------


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(run: Run, work, timed: list[Sample], cpu: dict, host: dict, folded: dict,
              progress: dict, rss: tracing.RssSampler) -> dict[str, tuple[float, str]]:
    """Every per-layer metric of BENCHMARK.json. Per-operation values are
    means over the timed operations; a layer the workload does not use
    reads 0."""
    inter = work if isinstance(work, Interactive) else None
    m: dict[str, tuple[float, str]] = {}
    n = max(1, len(timed))
    for k in ("session.build_s", "catalog.register_s", "kv.preload_s", "warm.pass_s"):
        m[k] = (run.setup.get(k, 0.0), "s")

    spec_ops = [s for s in timed if s.kind == "spec"]
    m["operators.build_s"] = (_mean(s.parts.get("build", 0) for s in spec_ops), "s/op")
    m["operators.action_s"] = (_mean(s.parts.get("action", 0) for s in spec_ops), "s/op")
    specs = getattr(work, "specs", {})
    for mod in ops.MODULES:
        walls = [s.secs for s in spec_ops if ops.module_label(specs[s.name].spark.__module__) == mod]
        m[f"operators.{mod}.wall_s"] = (_mean(walls), "s/op")

    def fsum(key: str) -> float:
        return sum(folded.get(s.op, {}).get(key, 0) for s in timed) / n

    first_delays = [
        folded[s.op]["first_job_ts"] / 1000.0 - (run.wall0 + s.start)
        for s in timed if "first_job_ts" in folded.get(s.op, {})
    ]
    m.update({
        "sched.jobs": (fsum("jobs"), "count/op"),
        "sched.stages": (fsum("stages"), "count/op"),
        "sched.tasks": (fsum("tasks"), "count/op"),
        "sched.single_task_stages": (fsum("single_task_stages"), "count/op"),
        "sched.first_job_delay_s": (_mean(max(0.0, d) for d in first_delays), "s/op"),
        "sched.queue_s": (fsum("queue_ms") / 1000.0, "s/op"),
        "exec.run_s": (fsum("run_ms") / 1000.0, "s/op"),
        "exec.cpu_s": (fsum("cpu_ns") / 1e9, "s/op"),
        "exec.gc_s": (fsum("gc_ms") / 1000.0, "s/op"),
        "shuffle.read_bytes": (fsum("shuffle_read"), "bytes/op"),
        "shuffle.write_bytes": (fsum("shuffle_write"), "bytes/op"),
        "spill.bytes": (fsum("spill"), "bytes/op"),
        "scan.files_read": (fsum("files_read"), "count/op"),
        "scan.bytes_read": (fsum("bytes_read"), "bytes/op"),
        "pyworker.time_s": (fsum("py_time_ms") / 1000.0, "s/op"),
        "pyworker.bytes_sent": (fsum("py_bytes_sent"), "bytes/op"),
    })
    tick = os.sysconf("SC_CLK_TCK")
    for kind in ("driver", "jvm", "pyworker"):
        m[f"proc.{kind}_cpu_s"] = (cpu.get(kind, 0) / tick / n, "s/op")

    # streaming: one progress list per drain op
    chain_ops = [s for s in spec_ops if ops.is_chain(s.name)]
    for chain in ops.CHAINS:
        m[f"streaming.{chain}.drain_s"] = (
            _mean(s.parts["build"] for s in chain_ops if s.name == chain and "build" in s.parts), "s/op"
        )
    prog = [p for s in chain_ops for p in progress.get(s.op, [])]
    nc = max(1, len(chain_ops))

    def dur(key: str) -> float:
        return sum(p.get("durationMs", {}).get(key, 0) for p in prog) / 1000.0 / nc

    last_state = {}
    for p in prog:  # the state size a query ended with: its last progress
        last_state[p.get("runId")] = p.get("stateOperators", [])
    m.update({
        "streaming.triggers": (len(prog) / nc, "count/op"),
        "streaming.trigger_s": (dur("triggerExecution"), "s/op"),
        "streaming.add_batch_s": (dur("addBatch"), "s/op"),
        "streaming.planning_s": (dur("queryPlanning"), "s/op"),
        "streaming.wal_commit_s": (dur("walCommit") + dur("commitOffsets"), "s/op"),
        "streaming.state_commit_s": (
            sum(o.get("commitTimeMs", 0) for p in prog for o in p.get("stateOperators", [])) / 1000.0 / nc,
            "s/op",
        ),
        "streaming.state_rows": (
            sum(o.get("numRowsTotal", 0) for ops_ in last_state.values() for o in ops_) / nc, "count/op"
        ),
        "streaming.state_bytes": (
            sum(o.get("memoryUsedBytes", 0) for ops_ in last_state.values() for o in ops_) / nc, "bytes/op"
        ),
        "streaming.leftover_dirs": (_mean(s.parts.get("leftover_dirs", 0) for s in chain_ops), "count/op"),
        "streaming.leftover_bytes": (_mean(s.parts.get("leftover_bytes", 0) for s in chain_ops), "bytes/op"),
    })

    def kind_secs(kind: str) -> list[float]:
        return [s.secs for s in timed if s.kind == kind and s.ok]

    gets = [s for s in timed if s.kind == "kv_get"]
    sql_ops = [s for s in timed if s.kind == "sql" and "sql_call" in s.parts]
    m.update({
        "kv.get_s": (_mean(kind_secs("kv_get")), "s/op"),
        "kv.files_read_per_get": (_mean(folded.get(s.op, {}).get("files_read", 0) for s in gets), "count/op"),
        "kv.write_batch_s": (_mean(kind_secs("kv_write")), "s/op"),
        "kv.delete_s": (_mean(kind_secs("kv_delete")), "s/op"),
        "kv.write_amp": (
            inter.kv_written_bytes / inter.kv_user_bytes if inter and inter.kv_user_bytes else 0.0, "ratio"
        ),
        "kv.scan_s": (_mean(kind_secs("kv_scan")), "s/op"),
        "kv.snapshot_s": (_mean(kind_secs("kv_snapshot")), "s/op"),
        "kv.compact_range_s": (_mean(kind_secs("kv_compact")), "s/op"),
        "kv.live_versions": (_mean(inter.live_versions) if inter else 0.0, "count"),
        "engine.sql_call_s": (_mean(s.parts["sql_call"] for s in sql_ops), "s/op"),
        "engine.action_s": (_mean(s.parts["action"] for s in sql_ops), "s/op"),
        "ddl.create_s": (_mean(kind_secs("ddl_create")), "s/op"),
        "ddl.insert_s": (_mean(kind_secs("ddl_insert")), "s/op"),
        "ddl.describe_s": (_mean(kind_secs("ddl_describe")), "s/op"),
        "sql_p50_s": (ops.median(kind_secs("sql")), "s"),
        "sql_tail_s": (ops.tail(kind_secs("sql")), "s"),
        "kv_get_p50_s": (ops.median(kind_secs("kv_get")), "s"),
        "kv_get_tail_s": (ops.tail(kind_secs("kv_get")), "s"),
        "kv_write_p50_s": (ops.median(kind_secs("kv_write")), "s"),
        "kv_scan_p50_s": (ops.median(kind_secs("kv_scan")), "s"),
        "kv_space_amp": (ops.median(inter.space_amp) if inter and inter.space_amp else 0.0, "ratio"),
    })
    m["mem.peak_mb"] = (rss.peak_bytes / 2**20, "MB")
    for kind in ("driver", "jvm", "pyworker"):
        m[f"mem.{kind}_peak_mb"] = (rss.peak_by_kind.get(kind, 0) / 2**20, "MB")
    m.update({
        "host.steal_pct": (host.get("steal_pct") or 0.0, "%"),
        "host.foreign_cpu_pct": (host.get("foreign_cpu_pct") or 0.0, "%"),
        "host.load1_before": (host.get("load1_before") or 0.0, "load"),
        "trace.ops_per_s": (run.end_to_end(timed, work.clients)["ops_per_s"][0], "1/s"),
        "op_tail_s": (run.op_tail(timed), "s"),
    })
    return m


# -- main --------------------------------------------------------------------------


def _load1() -> float | None:
    try:
        with open("/proc/loadavg", encoding="ascii") as f:
            return float(f.read().split()[0])
    except OSError:
        return None


def _fs_type(path: Path) -> str:
    """Filesystem type of the mount holding path (tmpfs vs a disk)."""
    best, fstype = "", "unknown"
    try:
        with open("/proc/mounts", encoding="ascii", errors="replace") as f:
            for line in f:
                _dev, mnt, typ = line.split()[:3]
                if f"{path}/".startswith(mnt.rstrip("/") + "/") and len(mnt) > len(best):
                    best, fstype = mnt, typ
    except OSError:
        pass
    return fstype


def _stop(run: Run) -> None:
    """Stop Spark, the JVM and every Python worker, and wait for each."""
    if run.spark is None:
        return
    from pyspark import SparkContext

    pids = tracing.tree_pids(os.getpid())
    run.spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        with contextlib.suppress(Exception):
            proc.wait(timeout=30)
    deadline = time.time() + 20
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.1)
        with contextlib.suppress(ChildProcessError):
            os.waitpid(-1, os.WNOHANG)
    for p in pids:
        if os.path.exists(f"/proc/{p}"):
            with contextlib.suppress(ProcessLookupError, PermissionError):
                os.kill(p, 9)
    run.spark = None


def execute(run: Run) -> dict:
    bench = _load_repo_module("bench", "bench.py")
    host = {"load1_before": _load1(), "scratch_fs": _fs_type(run.dir),
            "ckpt_fs": _fs_type(run.scratch[-1])}
    work = Interactive(run) if run.workload == "interactive_mixed" else SpecWorkload(run)
    with tracing.RssSampler(os.getpid(), enabled=run.traced) as rss:
        work.setup()
        me = os.getpid()
        cpu0, tree0, kinds0 = bench._cpu_counters(), bench._tree_cpu_ticks(me), tracing.cpu_by_kind(me)
        run.wall0 = time.time() - time.perf_counter()
        timed = work.timed()
        cpu1, tree1, kinds1 = bench._cpu_counters(), bench._tree_cpu_ticks(me), tracing.cpu_by_kind(me)
    if cpu0 and cpu1 and cpu1[1] > cpu0[1]:
        host["steal_pct"] = round(100.0 * (cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1]), 2)
    host["foreign_cpu_pct"] = bench.foreign_cpu_pct(cpu0, cpu1, tree0, tree1)
    host["verdict"] = bench.contention_verdict(
        host.get("steal_pct"), host["foreign_cpu_pct"], STEAL_BUDGET, FOREIGN_BUDGET
    )
    metrics = run.end_to_end(timed, work.clients)
    _stop(run)
    if run.traced:
        windows = {s.op: (run.wall0 + s.start, run.wall0 + s.end) for s in timed}
        folded, progress, queries = tracing.fold_event_log(run.dir / "eventlog", windows)
        cpu = {k: kinds1[k] - kinds0.get(k, 0) for k in kinds1}
        metrics = per_layer(run, work, timed, cpu, host, folded, progress, rss)
        run.spans.write(WORK / "out" / f"{run.workload}-seed{run.seed}.trace.json", queries=queries)
    lat = [s.secs for s in timed if s.ok]
    info = {
        "workload": run.workload, "seed": run.seed, "traced": run.traced, "clients": work.clients,
        "ops": len(timed), "tail_quantile": ops.tail_quantile(len(lat)), "host": host,
        "peak_mb_by_kind": {k: round(v / 2**20) for k, v in rss.peak_by_kind.items()},
        "errors": run.tally.errors,
    }
    print(f"perfbench: {json.dumps(info)}", file=sys.stderr)
    if host["verdict"]:
        print(f"perfbench: DIRTY RUN ({host['verdict']}); numbers kept, not retried", file=sys.stderr)
    return {
        "correct": run.tally.failed == 0,
        "attempted": max(1, run.tally.attempted),
        "failed": run.tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, help="data scale override (the smoke test uses 0.001)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in ("templatedb_spark/__init__.py", "bench.py", "tools/gen_sf.py",
                           "tools/check_oracle.py") if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: not a full checkout, missing {missing}", file=sys.stderr)
        return 2
    run = Run(args)
    # a terminated run still stops Spark and removes its scratch (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = execute(run)
    finally:
        with contextlib.suppress(Exception):
            _stop(run)
        os.chdir(ROOT)
        shutil.rmtree(run.dir, ignore_errors=True)
        left = [run.dir] if run.dir.exists() else []
        if SHM in run.scratch:
            for name in set(os.listdir(SHM)) - run.shm_before:
                shutil.rmtree(SHM / name, ignore_errors=True)
            left += sorted(set(os.listdir(SHM)) - run.shm_before)
        if left:
            print(f"perfbench: scratch not removed: {left}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
