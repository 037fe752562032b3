"""Seeded operation streams, the in-memory KV model and the statistics rules.

Everything here is plain Python with no Spark import, so the benchmark's own
tests exercise it without a JVM. The same seed always yields the same
operation stream; the program under test only ever sees the generated
operations.
"""

from __future__ import annotations

import hashlib
import itertools
import math
import random
import threading
from collections.abc import Iterator

# -- spec selection ----------------------------------------------------------

# The gated streaming chains: spec names that drain a stream inside spec.spark().
CHAIN_PREFIX = "stream_"
CHAIN_EXTRA = ("kv_compact_range_state", "kv_range_layout_scan", "pyds_stream_source")
# The spec-registering modules (QuerySpec.spark.__module__, shortened by
# module_label); per-layer metric names are derived from them.
MODULES = (
    "analytics", "relational", "curation", "pipeline", "profiling", "similarity", "tpch",
    "tpch2", "dedup", "textstats", "multimodal", "scale", "collections",
    "functions.grouped", "sources.pyds",
)
# batch_suite runs this many specs of every registering module, so each
# module's per-layer wall time is measured and one pass stays a few seconds.
SPECS_PER_MODULE = 1
# Left out of batch_suite: 4.8 s per call at sf0.01 on 4 cores, more than all
# other selected specs together, and ~21 s under four clients. With it one
# spec set the whole workload's time and its run outgrew the per-run budget.
BATCH_LEFT_OUT = ("dedup_embedding_lsh_cosine",)


def is_chain(name: str) -> bool:
    return name.startswith(CHAIN_PREFIX) or name in CHAIN_EXTRA


def module_label(module: str) -> str:
    """'templatedb_spark.operators.tpch2' -> 'tpch2';
    'templatedb_spark.functions.grouped' -> 'functions.grouped'."""
    parts = module.split(".")[1:]
    return parts[-1] if parts and parts[0] == "operators" else ".".join(parts)


def _name_rank(name: str) -> str:
    return hashlib.sha1(name.encode()).hexdigest()


def batch_subset(spec_modules: dict[str, str]) -> list[str]:
    """The fixed batch_suite spec set: per module, the SPECS_PER_MODULE
    non-chain specs whose name hashes lowest. Independent of the seed, so
    every run times the same work; the seed only orders it."""
    by_module: dict[str, list[str]] = {}
    for name, mod in spec_modules.items():
        if not is_chain(name) and name not in BATCH_LEFT_OUT:
            by_module.setdefault(module_label(mod), []).append(name)
    chosen: list[str] = []
    for names in by_module.values():
        chosen += sorted(names, key=_name_rank)[:SPECS_PER_MODULE]
    return sorted(chosen)


# The stream_chains set: JVM-state chains of about a second per drain. All
# 15 gated chains took ~75 s per run (a verified warm pass plus one timed
# pass) on a 4-core host, beyond the per-run time budget. Left out:
# stream_sessionize_closed and stream_neardup_* (5.8-6.5 s per drain each,
# Python-stateful; the Python-worker path is measured by batch_suite's
# pandas-UDF, UDTF and Python-data-source specs), the KV chains (KV
# compaction and layouts are measured by interactive_mixed), and chains
# whose mechanism a kept chain shares.
CHAINS = (
    "stream_cdc_kv_state",          # CDC upserts into KV-backed state
    "stream_dedup_ingest",          # dropDuplicatesWithinWatermark state
    "stream_interval_join_clicks",  # stream-stream interval join state
    "stream_window_late",           # event-time windows, watermark, late rows
)
CHAINS_LEFT_OUT = (
    "kv_compact_range_state", "kv_range_layout_scan", "pyds_stream_source", "stream_cms_tokens",
    "stream_hll_users", "stream_mv_join", "stream_mv_join_wide", "stream_neardup_pairs",
    "stream_neardup_reps", "stream_sessionize_closed", "stream_static_enrich",
)


def chain_subset(spec_names) -> list[str]:
    """CHAINS, checked against the registry: every registered chain is
    either timed or deliberately left out."""
    registered = {n for n in spec_names if is_chain(n)}
    known = set(CHAINS) | set(CHAINS_LEFT_OUT)
    if registered != known:
        raise ValueError(f"chain registry changed: {sorted(registered ^ known)}")
    return list(CHAINS)


def passes(names: list[str], seed: int) -> Iterator[tuple[int, str]]:
    """Endless (pass number, name) stream: every pass is a fresh seeded
    permutation of the same names."""
    for p in itertools.count():
        order = sorted(names)
        random.Random(f"{seed}:{p}").shuffle(order)
        for name in order:
            yield p, name


# -- interactive_mixed -------------------------------------------------------

# The KV traffic is YCSB's core workload B (Cooper et al., "Benchmarking Cloud
# Serving Systems with YCSB", SoCC 2010; workloads/workloadb of the YCSB
# distribution): recordcount=1000, readproportion=0.95 against
# updateproportion=0.05, requestdistribution=zipfian with the generator's
# constant 0.99 over a scrambled key order, and fieldlength=100 (one field:
# a KVTable value is one string). A YCSB update writes one record, so a
# kv_write is a one-key write_batch. A range scan takes workload E's length,
# uniform in 1..maxscanlength=100, from a Zipfian start key.
N_KV_KEYS = 1000
ZIPF_S = 0.99
VALUE_BYTES = 100
MAX_SCAN_LENGTH = 100
KV_PRELOAD_BATCHES = 2
# Compaction is leveled, as in the LevelDB-style store the program
# re-expresses: LevelDB compacts level 0 once it holds kL0_CompactionTrigger
# = 4 files (db/dbformat.h), the trigger KVTable's auto_compact_every maps
# to live versions. A round therefore holds the 3 commits that take the
# compacted base to 4 versions, and compact_range runs right after the last
# of them, over the key range they touched, as a level-0 compaction takes
# the key range of its files.
L0_COMPACTION_TRIGGER = 4
MUTATIONS = L0_COMPACTION_TRIGGER - 1
MUTATING = ("kv_write", "kv_delete")

DDL_COLUMNS = (("id", "INT"), ("name", "VARCHAR"), ("score", "DOUBLE"), ("flag", "TINYINT UNSIGNED"))

_MONEY = "CAST(SUM(CAST({col} AS DECIMAL(18,2))) AS DOUBLE)"

# Reference-dialect SELECTs run through Engine.sql: name -> (Spark text,
# DuckDB text or None when identical, parameter sets). The DuckDB text must
# return the same rows; {fixtures} is the CSV fixture directory, which
# Engine.sql resolves read_csv paths against by itself.
SQL_TEMPLATES: dict[str, tuple[str, str | None, list[dict]]] = {
    "where_alias": (
        "SELECT o_orderkey, o_totalprice / 1000 AS k FROM orders WHERE k > {x} "
        "ORDER BY o_orderkey LIMIT 50",
        None,
        [{"x": x} for x in (100, 250, 400, 490)],
    ),
    "qualify": (
        "SELECT c_nationkey, c_custkey, c_acctbal FROM customer WHERE c_mktsegment = '{seg}' "
        "QUALIFY row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) <= {k}",
        None,
        [{"seg": s, "k": k} for s in ("BUILDING", "MACHINERY") for k in (1, 3)],
    ),
    "join_agg": (
        "SELECT n.n_name AS nation, COUNT(*) AS customers, "
        + _MONEY.format(col="c.c_acctbal")
        + " AS balance FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey "
        "WHERE n.n_regionkey = {r} GROUP BY n.n_name ORDER BY nation",
        None,
        [{"r": r} for r in range(5)],
    ),
    "aggregate": (
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
        + _MONEY.format(col="l_quantity")
        + " AS qty, MAX(l_extendedprice) AS top FROM lineitem WHERE l_shipdate < DATE '{d}' "
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
        None,
        [{"d": d} for d in ("1996-01-01", "1997-06-01", "1999-01-01", "2000-06-01")],
    ),
    "order_limit": (
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderpriority = '{p}' "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 20",
        None,
        [{"p": p} for p in ("1-URGENT", "3-MEDIUM", "5-LOW")],
    ),
    "read_csv": (
        "SELECT e.first_name, e.salary, d.department_name "
        "FROM read_csv('employee.csv', header=>true) e "
        "JOIN read_csv('department.csv', header=>true) d ON e.department_id = d.id "
        "WHERE e.salary > {s} ORDER BY e.first_name",
        "SELECT e.first_name, e.salary, d.department_name "
        "FROM read_csv('{fixtures}/employee.csv', header=true) e "
        "JOIN read_csv('{fixtures}/department.csv', header=true) d ON e.department_id = d.id "
        "WHERE e.salary > {s} ORDER BY e.first_name",
        [{"s": s} for s in (0, 10500, 11800)],
    ),
}


# One interactive round: a seeded shuffle of exactly this multiset, so every
# run times the same mix at the same table history whatever the seed. The
# KV gets and mutations are workload B's 95:5 over one compaction cycle; one
# of the mutations is a delete, which YCSB does not issue. The rest is not
# taken from any source or trace (unverified): one SELECT per SQL template,
# one statement per DDL kind, one scan and one snapshot per round.
ROUND = (
    ("kv_get", 19 * MUTATIONS),
    ("kv_write", MUTATIONS - 1),
    ("kv_delete", 1),
    ("kv_scan", 1),
    ("kv_snapshot", 1),
    ("sql", len(SQL_TEMPLATES)),
    ("ddl_create", 1),
    ("ddl_insert", 1),
    ("ddl_describe", 1),
    ("kv_compact", 1),
)
OP_KINDS = tuple(k for k, _ in ROUND)


def kv_key(i: int) -> str:
    return f"k{i:05d}"


def kv_value(text: str) -> str:
    """A value of VALUE_BYTES characters, distinct per text."""
    return text.ljust(VALUE_BYTES, ".")


def preload_batches(seed: int) -> list[dict[str, str]]:
    """The KV pre-load: every key once, split into KV_PRELOAD_BATCHES batches."""
    per = N_KV_KEYS // KV_PRELOAD_BATCHES
    return [
        {kv_key(i): kv_value(f"base-{seed}-{i}") for i in range(b * per, (b + 1) * per)}
        for b in range(KV_PRELOAD_BATCHES)
    ]


class _Zipf:
    """Zipf(ZIPF_S)-skewed key picker; the hot keys are a seeded permutation."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.keys = list(range(N_KV_KEYS))
        rng.shuffle(self.keys)
        self.cum = list(itertools.accumulate(1.0 / (r + 1) ** ZIPF_S for r in range(N_KV_KEYS)))

    def index(self) -> int:
        return self.keys[self.rng.choices(range(N_KV_KEYS), cum_weights=self.cum)[0]]


def interactive_ops(seed: int, n_sql_params: dict[str, int]) -> Iterator[tuple[int, dict]]:
    """Endless seeded (round, operation) stream for interactive_mixed.

    n_sql_params maps each SQL template name to its number of parameter
    sets. Ops that refer to state (the newest DDL table, an older KV
    version) carry only a relative reference, resolved when they run."""
    rng = random.Random(seed)
    zipf = _Zipf(random.Random(f"{seed}:zipf"))
    for r in itertools.count():
        kinds = [k for k, n in ROUND for _ in range(n) if k != "kv_compact"]
        rng.shuffle(kinds)
        last = max(i for i, k in enumerate(kinds) if k in MUTATING)
        kinds.insert(last + 1, "kv_compact")
        sql = sorted(n_sql_params)
        rng.shuffle(sql)
        touched: list[int] = []
        for i, kind in enumerate(kinds):
            op: dict = {"kind": kind}
            if kind == "sql":
                t = sql.pop()
                op.update(template=t, param=rng.randrange(n_sql_params[t]))
            elif kind == "kv_get":
                op["key"] = kv_key(zipf.index())
            elif kind in MUTATING:
                touched.append(zipf.index())
                key = kv_key(touched[-1])
                if kind == "kv_delete":
                    op["key"] = key
                else:
                    op["puts"] = {key: kv_value(f"v-{seed}-{r}-{i}")}
            elif kind == "kv_scan":
                lo = zipf.index()
                op.update(start=kv_key(lo), end=kv_key(lo + rng.randint(1, MAX_SCAN_LENGTH)))
            elif kind == "kv_compact":
                op.update(start=kv_key(min(touched)), end=kv_key(max(touched) + 1))
            elif kind == "kv_snapshot":
                op["back"] = rng.randint(1, MUTATIONS)
            elif kind == "ddl_insert":
                op["rows"] = [
                    (rng.randrange(1000), f"n{rng.randrange(100)}", round(rng.uniform(0, 100), 2),
                     rng.randrange(256))
                    for _ in range(rng.randint(4, 16))
                ]
            yield r, op


def warm_ops(seed: int, n_sql_params: dict[str, int]) -> list[dict]:
    """One operation of every kind, DDL create first and compaction last,
    drawn from a stream the timed run never uses. The compaction covers
    every key, the range the pre-load wrote."""
    first: dict[str, dict] = {}
    for _r, op in interactive_ops(-1 - seed, n_sql_params):
        first.setdefault(op["kind"], op)
        if len(first) == len(OP_KINDS):
            break
    first["kv_compact"] = {"kind": "kv_compact", "start": kv_key(0), "end": kv_key(N_KV_KEYS)}
    order = ["ddl_create"] + [k for k in OP_KINDS if k not in ("ddl_create", "kv_compact")] + ["kv_compact"]
    return [first[k] for k in order]


class KVModel:
    """The expected KV contents: live map plus the full map at every version
    since the last compaction (compaction renumbers history, so older
    versions stop being readable)."""

    def __init__(self) -> None:
        self.live: dict[str, str] = {}
        self.history: dict[int, dict[str, str]] = {}

    def commit(self, version: int, puts: dict[str, str] | None = None, deletes=()) -> None:
        self.live.update(puts or {})
        for k in deletes:
            self.live.pop(k, None)
        self.history[version] = dict(self.live)

    def compacted(self, version: int) -> None:
        self.history = {version: dict(self.live)}

    def older_version(self, back: int) -> int:
        versions = sorted(self.history)
        return versions[max(0, len(versions) - 1 - back)]

    def scan(self, start: str, end: str, version: int | None = None) -> list[tuple[str, str]]:
        m = self.live if version is None else self.history[version]
        return sorted((k, v) for k, v in m.items() if start <= k < end)

    def live_bytes(self) -> int:
        return sum(len(k.encode()) + len(v.encode()) for k, v in self.live.items())


# -- correctness tally ---------------------------------------------------------


class Tally:
    """Attempted and failed operations of a run. A failure is an error or a
    wrong answer; check() takes the problem found (None when correct)."""

    def __init__(self) -> None:
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self._lock = threading.Lock()

    def check(self, label: str, problem: str | None) -> bool:
        with self._lock:
            self.attempted += 1
            if problem is not None:
                self.failed += 1
                if len(self.errors) < 20:
                    self.errors.append(f"{label}: {problem}")
        return problem is None


# -- statistics --------------------------------------------------------------

TAIL_LADDER = (0.99, 0.95, 0.9, 0.75, 0.5)


def _rank(q: float, n: int) -> int:
    """Nearest rank (1-based) of quantile q among n sorted samples."""
    return max(1, math.ceil(q * n - 1e-9))


def tail_quantile(n: int) -> float:
    """The highest percentile of TAIL_LADDER with at least ten samples
    beyond it; 1.0 (the maximum) when the sample supports none."""
    for q in TAIL_LADDER:
        if n - _rank(q, n) >= 10:
            return q
    return 1.0


def quantile(values, q: float) -> float:
    """Nearest-rank quantile (q=1.0 is the maximum)."""
    xs = sorted(values)
    return xs[min(len(xs), _rank(q, len(xs))) - 1] if xs else 0.0


def tail(values) -> float:
    return quantile(values, tail_quantile(len(values)))


def median(values) -> float:
    """The middle value; the mean of the two middle ones for an even count,
    so a small sample of unlike operations (a pass of 4 chains) does not
    report a single one of them."""
    xs = sorted(values)
    n = len(xs)
    return (xs[(n - 1) // 2] + xs[n // 2]) / 2 if xs else 0.0
