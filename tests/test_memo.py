"""The session memo registry (templatedb_spark/memo.py): one build per key
under concurrency, nothing stored when a build raises, rebuild when the data
under sf_dir changes, and `release` freeing every memoized intermediate."""

from __future__ import annotations

import os
import shutil
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq
import pytest

from templatedb_spark import memo as memo_mod
from templatedb_spark.memo import memo, release
from tests.conftest import SF_SMALL


def _persistent_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _checkpoint_rdd_id(df) -> int:
    return df._jdf.queryExecution().analyzed().rdd().id()


def test_one_build_per_key_under_concurrency(spark, tmp_path):
    calls = []
    start = threading.Barrier(8, timeout=30)

    def build():
        calls.append(1)
        time.sleep(0.3)
        return object()

    def call(_):
        start.wait()
        return memo(spark, str(tmp_path), "slow", build)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as ex:
            got = [f.result(timeout=60) for f in [ex.submit(call, i) for i in range(8)]]
    finally:
        sys.setswitchinterval(interval)
    assert len(calls) == 1
    assert all(g is got[0] for g in got)


def test_nested_memos_with_different_keys_do_not_deadlock(spark, tmp_path):
    d = str(tmp_path)
    outer = memo(spark, d, "outer", lambda: memo(spark, d, "inner", lambda: 41) + 1)
    assert outer == 42


def test_raising_build_stores_nothing(spark, tmp_path):
    d = str(tmp_path)

    def boom():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        memo(spark, d, "flaky", boom)
    calls = []
    assert memo(spark, d, "flaky", lambda: calls.append(1) or 7) == 7
    assert calls == [1]


def test_data_change_rebuilds_and_releases_old_value(spark, tmp_path):
    from templatedb_spark.suite import table

    dirs = [str(tmp_path / "a"), str(tmp_path / "b")]
    for d in dirs:
        shutil.copytree(SF_SMALL, d, copy_function=shutil.copyfile)

    def orders(d):
        return memo(spark, d, "orders", lambda: table(spark, d, "orders").localCheckpoint(eager=True))

    old_a, old_b = orders(dirs[0]), orders(dirs[1])
    n_rows = old_a.count()
    old_id = _checkpoint_rdd_id(old_a)
    assert old_id in _persistent_ids(spark)

    path = f"{dirs[0]}/orders.parquet"
    t = pq.read_table(path)
    pq.write_table(t.slice(0, t.num_rows // 2), path)

    new_a = orders(dirs[0])
    assert new_a is not old_a
    assert new_a.count() == n_rows // 2
    assert old_id not in _persistent_ids(spark)
    assert orders(dirs[0]) is new_a
    assert orders(dirs[1]) is old_b  # untouched dir hits


def test_release_frees_every_memoized_intermediate(spark):
    from templatedb_spark.operators.curation import _bpe_state
    from templatedb_spark.operators.pipeline import (
        _bm25_ranked_memo,
        cluster_labels,
        funnel_pair_graph,
    )
    from templatedb_spark.operators.scale import partitioned_orders_path

    release(spark)  # start from an empty registry: earlier tests share the session
    before = _persistent_ids(spark)
    funnel_pair_graph(spark, SF_SMALL)
    cluster_labels(spark, SF_SMALL)
    _bm25_ranked_memo(spark, SF_SMALL)
    _bpe_state(spark, SF_SMALL)
    layout = partitioned_orders_path(spark, SF_SMALL)
    assert os.path.isdir(layout)
    assert _persistent_ids(spark) - before

    release(spark)
    assert _persistent_ids(spark) <= before
    assert not os.path.exists(layout)
    assert not memo_mod._entries
