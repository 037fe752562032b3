"""The benchmark's own tests: python -m pytest perfbench -q

The smoke tests start Spark (a few minutes in all); the rest are pure Python.
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import ops  # noqa: E402

BENCH = json.loads((HERE.parent / "BENCHMARK.json").read_text())
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _first(stream, n):
    return [next(stream) for _ in range(n)]


def test_interactive_stream_is_deterministic():
    params = {t: len(p) for t, (_s, _d, p) in ops.SQL_TEMPLATES.items()}
    a = _first(ops.interactive_ops(7, params), 300)
    assert a == _first(ops.interactive_ops(7, params), 300)
    assert a != _first(ops.interactive_ops(8, params), 300)
    # every round is the same multiset of kinds, one SELECT per SQL template
    per_round = sum(n for _k, n in ops.ROUND)
    for r in range(300 // per_round):
        ops_r = [op for q, op in a if q == r]
        kinds = [op["kind"] for op in ops_r]
        assert sorted(kinds) == sorted(k for k, n in ops.ROUND for _ in range(n))
        assert sorted(op["template"] for op in ops_r if op["kind"] == "sql") == sorted(params)
        # compaction right after the cycle's last commit, over the keys it touched
        c = kinds.index("kv_compact")
        assert kinds[c - 1] in ops.MUTATING and not set(kinds[c:]) & set(ops.MUTATING)
        touched = [op.get("key") or next(iter(op["puts"])) for op in ops_r if op["kind"] in ops.MUTATING]
        assert len(touched) == ops.MUTATIONS == ops.L0_COMPACTION_TRIGGER - 1
        assert ops_r[c]["start"] == min(touched) and all(k < ops_r[c]["end"] for k in touched)
        assert all(len(v) == ops.VALUE_BYTES for op in ops_r if op["kind"] == "kv_write" for v in op["puts"].values())
    assert [op["kind"] for op in ops.warm_ops(7, params)][0] == "ddl_create"
    assert ops.warm_ops(7, params) == ops.warm_ops(7, params)
    assert ops.preload_batches(7) == ops.preload_batches(7)


def test_passes_are_seeded_permutations():
    names = [f"s{i}" for i in range(20)]
    a, b = _first(ops.passes(names, 3), 60), _first(ops.passes(names, 3), 60)
    assert a == b
    assert a != _first(ops.passes(names, 4), 60)
    for p in range(3):
        assert sorted(n for q, n in a if q == p) == sorted(names)


def test_batch_subset_is_fixed_and_covers_every_module():
    mods = {f"spec{i}": f"templatedb_spark.operators.m{i % 5}" for i in range(40)}
    mods["stream_x"] = "templatedb_spark.streaming.gate"
    chosen = ops.batch_subset(mods)
    assert chosen == ops.batch_subset(dict(reversed(list(mods.items()))))
    assert len(chosen) == 5 * ops.SPECS_PER_MODULE and "stream_x" not in chosen


def test_registry_matches_the_benchmark_sets():
    from templatedb_spark.suite import all_specs

    specs = all_specs()
    assert ops.chain_subset(specs) == list(ops.CHAINS)
    assert set(ops.BATCH_LEFT_OUT) <= set(specs)
    labels = {ops.module_label(s.spark.__module__) for n, s in specs.items() if not ops.is_chain(n)}
    assert labels == set(ops.MODULES)


def test_percentile_rule():
    assert ops.tail_quantile(1000) == 0.99
    assert ops.tail_quantile(200) == 0.95
    assert ops.tail_quantile(199) == 0.9
    assert ops.tail_quantile(100) == 0.9
    assert ops.tail_quantile(40) == 0.75
    assert ops.tail_quantile(20) == 0.5
    assert ops.tail_quantile(19) == 1.0
    xs = list(range(1, 101))
    assert ops.quantile(xs, 0.5) == 50
    assert ops.quantile(xs, 0.9) == 90
    assert ops.tail(xs) == 90  # 10 samples (91..100) lie beyond it
    assert ops.tail([3.0, 1.0, 2.0]) == 3.0
    assert ops.median([]) == 0.0
    assert ops.median([4.0, 1.0, 2.0]) == 2.0 and ops.median([4.0, 1.0, 2.0, 3.0]) == 2.5


def test_end_to_end_metrics():
    import run

    r = run.Run.__new__(run.Run)  # no scratch, no session: only the arithmetic
    r.setup = {"session.build_s": 1.0, "warm.pass_s": 2.0}
    samples = [
        run.Sample(f"op{i}", "spec", "x", 0.0, float(i % 20 + 1), True, pass_no=i // 20) for i in range(60)
    ]
    m = r.end_to_end(samples, 4)
    assert m["setup_s"] == (3.0, "s")
    assert m["ops_per_s"] == (4 / 10.5, "1/s")  # clients / mean latency
    assert m["op_p50_s"] == (10.5, "s")
    assert run.Run.op_tail(samples) == 10.0  # 20 samples per pass support only p50
    samples += [run.Sample("op99", "spec", "x", 0.0, 99.0, True, pass_no=3)]
    assert run.Run.op_tail(samples) == 10.0  # median over passes: 10, 10, 10 and 99


def test_kv_model_versions():
    m = ops.KVModel()
    m.commit(1, {"a": "1", "b": "2"})
    m.commit(2, {"a": "3"})
    m.commit(3, deletes=["b"])
    assert m.history[1] == {"a": "1", "b": "2"} and m.live == {"a": "3"}
    assert m.older_version(1) == 2 and m.older_version(9) == 1
    assert m.scan("a", "c", version=1) == [("a", "1"), ("b", "2")]
    m.compacted(4)
    assert m.history == {4: {"a": "3"}}


def test_wrong_answer_counts_as_failure():
    import run

    oracle = run.Oracle(run.dataset(0.001))
    expected = oracle.expect("SELECT r_regionkey AS k, r_name AS n FROM region")
    tally = ops.Tally()
    good = pd.DataFrame({"k": [0, 1, 2, 3, 4], "n": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    assert tally.check("right", oracle.mismatch(good, expected))
    wrong = good.assign(n=["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE-EAST"])
    assert not tally.check("wrong value", oracle.mismatch(wrong, expected))
    assert not tally.check("missing row", oracle.mismatch(good.head(4), expected))
    assert not tally.check("renamed column", oracle.mismatch(good.rename(columns={"n": "m"}), expected))
    assert (tally.attempted, tally.failed) == (4, 3)


def test_benchmark_json_names():
    import run

    workloads = [w["name"] for w in BENCH["workloads"]]
    names = [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]] + workloads
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) for n in names)
    assert set(workloads) == set(run.WORKLOADS)


@pytest.mark.parametrize("workload", ["batch_suite", "stream_chains", "interactive_mixed"])
@pytest.mark.parametrize("traced", [0, 1])
def test_smoke_run(workload, traced):
    """A short run at sf0.001 passes its own correctness checks and emits
    exactly the metric names BENCHMARK.json declares."""
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(traced), "--scale", "0.001"],
        cwd=HERE.parent, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, p.stderr[-3000:]
    declared = BENCH["per_layer"] if traced else BENCH["end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {m["name"]: m["unit"] for m in declared}
    assert not list((HERE / ".work").glob("run-*")), "scratch left behind"
