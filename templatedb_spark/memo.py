"""One session-scoped registry for the intermediates several queries share.

`memo(spark, sf_dir, key, build)` returns the value `build()` made for
(applicationId, sf_dir, key), building it at most once:

- each key has its own lock, so concurrent callers of one key wait for a
  single build while unrelated keys build in parallel; nested memos with
  different keys (cluster_labels -> funnel_pair_graph -> _funnel_parts)
  cannot deadlock;
- a `build` that raises stores nothing, and the next call builds again;
- an entry carries a fingerprint of sf_dir's listing (name, size, mtime of
  each entry); when the data under sf_dir changes, the old value is released
  and rebuilt instead of being served stale.

`release(spark)` frees every entry, then clears Spark's cache. How a value
is freed follows its type: a DataFrame drops its localCheckpoint blocks and
its cache, a Broadcast is unpersisted, a str is a scratch dir from
`result_dir` and is removed, a tuple has each element released; scalars
need nothing.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
from collections.abc import Callable
from typing import Any

from pyspark import Broadcast
from pyspark.sql import DataFrame, SparkSession

_entries: dict[tuple, tuple[tuple, Any]] = {}
_locks: dict[tuple, threading.Lock] = {}
_guard = threading.Lock()


def _fingerprint(sf_dir: str) -> tuple:
    try:
        with os.scandir(sf_dir) as it:
            stats = [(e.name, e.stat()) for e in it]
    except OSError:
        return ()  # not a local dir: the key alone decides
    return tuple(sorted((name, st.st_size, st.st_mtime_ns) for name, st in stats))


def memo(spark: SparkSession, sf_dir: str, key, build: Callable[[], Any]) -> Any:
    """The value `build()` made for (applicationId, sf_dir, key), built at
    most once while sf_dir's files stay unchanged."""
    k = (spark.sparkContext.applicationId, sf_dir, key)
    fp = _fingerprint(sf_dir)
    with _guard:
        lock = _locks.setdefault(k, threading.Lock())
    with lock:
        entry = _entries.get(k)
        if entry is not None and entry[0] == fp:
            return entry[1]
        if entry is not None:
            _entries.pop(k, None)
            _release_value(entry[1])
        value = build()
        _entries[k] = (fp, value)
        return value


def release(spark: SparkSession) -> None:
    """Free every memoized value, then clear Spark's cache."""
    with _guard:
        values = [v for _, v in _entries.values()]
        _entries.clear()
    for v in values:
        _release_value(v)
    spark.catalog.clearCache()


def _release_value(v: Any) -> None:
    if isinstance(v, tuple):
        for x in v:
            _release_value(x)
    elif isinstance(v, str):
        shutil.rmtree(v, ignore_errors=True)
    elif isinstance(v, (DataFrame, Broadcast)):
        if isinstance(v, DataFrame):
            unpersist_local_checkpoint(v)
        try:
            v.unpersist()
        except Exception:
            pass  # a stopped SparkContext at teardown is fine


def unpersist_local_checkpoint(df: DataFrame) -> None:
    """Release the executor blocks behind a localCheckpoint'd DataFrame.

    `Dataset.localCheckpoint` rewrites the plan to a LogicalRDD over the
    materialized RDD; that RDD (not anything clearCache sees) holds the
    storage. Reach it through the analyzed plan root and unpersist. A no-op
    for non-checkpoint plans or if the JVM refuses -- eviction must never
    throw."""
    try:
        node = df._jdf.queryExecution().analyzed()
        if node.getClass().getSimpleName() == "LogicalRDD":
            node.rdd().unpersist(False)
    except Exception:
        pass


def result_dir(prefix: str) -> str:
    """A scratch dir that must outlive the call that made it (a lazy
    DataFrame still reads it); removed at process exit, or earlier by
    `release` when it is a memo value."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d
