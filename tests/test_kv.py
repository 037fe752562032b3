"""KV layer: put/get/delete/write_batch/scan/snapshot/compact parity
(reference: src/storage_engine/src/db_trait.rs:13-47 — semantics, not LSM)."""

from __future__ import annotations

import tempfile
from pathlib import Path

import pytest

from templatedb_spark.kv import KVTable, MergeKVTable


@pytest.fixture(params=["lsm", "merge"])
def kv(spark, request):
    cls = KVTable if request.param == "lsm" else MergeKVTable
    with tempfile.TemporaryDirectory() as d:
        yield cls(spark, d)


def test_put_get(kv):
    kv.put("a", "1")
    kv.put("b", "2")
    assert kv.get("a") == "1"
    assert kv.get("b") == "2"
    assert kv.get("missing") is None


def test_overwrite_latest_wins(kv):
    kv.put("k", "old")
    kv.put("k", "new")
    assert kv.get("k") == "new"


def test_delete_tombstone(kv):
    kv.put("k", "v")
    kv.delete("k")
    assert kv.get("k") is None


def test_write_batch_atomic_version(kv):
    v = kv.write_batch(puts={"x": "1", "y": "2"}, deletes=[])
    v2 = kv.write_batch(puts={"z": "3"}, deletes=["x"])
    assert v2 == v + 1
    assert kv.get("x") is None
    assert kv.get("y") == "2"
    assert kv.get("z") == "3"


def test_snapshot_mvcc_read(kv):
    v1 = kv.put("k", "first")
    kv.put("k", "second")
    kv.delete("k")
    # snapshot pinned at v1 still sees the original value (MVCC)
    assert kv.get("k", as_of=v1) == "first"
    assert kv.get("k") is None


def test_ordered_scan_range(kv):
    kv.write_batch(puts={"b": "2", "a": "1", "d": "4", "c": "3"})
    keys = [r.key for r in kv.scan().collect()]
    assert keys == ["a", "b", "c", "d"]  # ordered iter (db_iter.rs)
    keys = [r.key for r in kv.scan(start="b", end="d").collect()]
    assert keys == ["b", "c"]  # [start, end)


def test_compact_preserves_state(kv):
    kv.put("a", "1")
    kv.put("a", "2")
    kv.put("b", "3")
    kv.delete("b")
    kv.compact()
    assert kv.get("a") == "2"
    assert kv.get("b") is None
    assert len(kv._versions()) == 1  # history collapsed


def test_approximate_size(kv):
    kv.write_batch(puts={f"k{i}": str(i) for i in range(10)})
    assert kv.approximate_size() == 10
    assert kv.approximate_size(start="k0", end="k5") == 5


def test_bucket_fn_jvm_python_parity(spark):
    """The write path buckets with F.crc32 (JVM); the point-read path picks
    its directory with zlib.crc32 (Python). They MUST agree or point reads
    silently miss keys."""
    from pyspark.sql import functions as F

    from templatedb_spark.kv import _KV_BUCKETS, _bucket_col, bucket_of

    keys = [f"user:{i}" for i in range(50)] + ["", "ünïcode-ключ", "a" * 500]
    df = spark.createDataFrame([(k,) for k in keys], "key string").withColumn(
        "b", _bucket_col()
    )
    jvm = {r.key: r.b for r in df.collect()}
    for k in keys:
        assert jvm[k] == bucket_of(k), k
        assert 0 <= jvm[k] < _KV_BUCKETS


def test_point_read_scans_single_bucket(kv):
    """VERDICT r2 item 5: get() must not merge the full snapshot — the plan
    may only touch the key's own bucket directory (1/16 of the files)."""
    from templatedb_spark.kv import bucket_of

    kv.write_batch(puts={f"k{i}": str(i) for i in range(64)})
    kv.write_batch(puts={f"k{i}": str(i * 10) for i in range(0, 64, 2)})
    key = "k3"
    df = kv._point_read_df(key)
    files = df.inputFiles()
    assert files, "point read found no files"
    want = f"bucket={bucket_of(key)}/"
    assert all(want in f for f in files), (want, files)
    # and multiple buckets exist on disk, so the pruning is real
    import glob

    buckets = {f.split("bucket=")[1].split("/")[0] for f in glob.glob(f"{kv.path}/version=*/bucket=*")}
    assert len(buckets) > 4
    assert kv.get("k4") == "40"  # overwritten by the even-keys batch
    assert kv.get("k3") == "3"  # odd key untouched by batch 2


def test_same_key_put_and_delete_in_one_batch(kv):
    """Delete-wins contract (WriteBatch sequential apply: puts then deletes):
    deterministic and identical across both backends."""
    kv.put("k", "old")
    kv.write_batch(puts={"k": "new", "other": "x"}, deletes=["k"])
    assert kv.get("k") is None
    assert kv.get("other") == "x"


# ---------------------------------------------------------------------------
# Manifest (round 4): version discovery via MANIFEST edit log, not dir walk
# (reference: manager/version_set.rs:178, version_edit.rs:117)
# ---------------------------------------------------------------------------
def _raw_version(path, v, rows):
    """Write a delta version directly with pyarrow (no Spark job) and return
    its bucket set — lets tests build THOUSANDS of versions in milliseconds."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from templatedb_spark.kv import bucket_of

    buckets = {}
    for key, value, op in rows:
        buckets.setdefault(bucket_of(key), []).append((key, value, op, v))
    import os

    for b, rws in buckets.items():
        d = f"{path}/version={v}/bucket={b}"
        os.makedirs(d, exist_ok=True)
        t = pa.table(
            {
                "key": pa.array([r[0] for r in rws], pa.string()),
                "value": pa.array([r[1] for r in rws], pa.string()),
                "op": pa.array([r[2] for r in rws], pa.string()),
                "version": pa.array([r[3] for r in rws], pa.int64()),
            }
        )
        pq.write_table(t, f"{d}/part-0.parquet")
    return sorted(buckets)


def test_thousand_versions_point_read(spark):
    """1000 versions: point read must be correct and do O(1) metadata — the
    manifest is read once; no per-version directory stat happens (the round-3
    glob was O(versions) per read)."""
    import json
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        kv = KVTable(spark, d)
        with open(kv._manifest, "w", encoding="utf-8") as mf:
            for v in range(1000):
                rows = [("k", str(v), "put"), (f"side{v % 7}", "x", "put")]
                buckets = _raw_version(d, v, rows)
                mf.write(json.dumps({"op": "add", "v": v, "buckets": buckets}) + "\n")
        assert kv.latest_version() == 999
        assert kv.get("k") == "999"
        assert kv.get("k", as_of=500) == "500"
        # tombstone in a later raw version shadows
        buckets = _raw_version(d, 1000, [("k", None, "del")])
        kv._append_manifest({"op": "add", "v": 1000, "buckets": buckets})
        assert kv.get("k") is None
        assert kv.get("k", as_of=999) == "999"


def test_manifest_is_commit_point(kv):
    """A delta directory with no manifest line (crash before commit) is
    invisible — the manifest append IS the commit."""
    kv.put("a", "1")
    v_orphan = kv.latest_version() + 1
    _raw_version(kv.path, v_orphan, [("a", "ghost", "put")])
    assert kv.get("a") == "1"
    assert kv.latest_version() < v_orphan


def test_manifest_recovery_from_directories(kv):
    """Deleting the MANIFEST falls back to a one-time directory scan that
    rewrites it (pre-manifest tables / lost-manifest recovery)."""
    import os

    kv.put("a", "1")
    kv.put("b", "2")
    os.remove(kv._manifest)
    assert kv.get("a") == "1"
    assert kv._manifest.exists()  # recovered and persisted
    assert kv.get("b") == "2"


def test_compact_rewrites_manifest_snapshot(kv):
    kv.put("a", "1")
    kv.put("b", "2")
    kv.delete("a")
    v = kv.compact()
    state = kv._load_manifest()
    assert set(state) == {v}
    assert kv.get("b") == "2"
    assert kv.get("a") is None


def test_orphan_version_collision_self_heals(kv):
    """Crash window: delta dir written, manifest line not. The next batch
    re-derives the same version number and must CLEAR the uncommitted orphan
    instead of failing errorifexists forever (round-4 review finding)."""
    kv.put("a", "1")
    v_orphan = kv.latest_version() + 1
    _raw_version(kv.path, v_orphan, [("ghost", "g", "put")])
    v2 = kv.put("b", "2")  # reuses v_orphan's number
    assert v2 == v_orphan
    assert kv.get("b") == "2"
    assert kv.get("ghost") is None  # the orphan's contents are gone
    assert kv.get("a") == "1"


def test_torn_manifest_tail_skipped_and_repaired(kv):
    """A truncated final manifest line (crash mid-append) must not brick the
    table: reads skip it, and the next commit starts on a fresh line."""
    kv.put("a", "1")
    with open(kv._manifest, "a", encoding="utf-8") as f:
        f.write('{"op":"add","v":99,"buck')  # torn, no newline
    assert kv.get("a") == "1"  # replay skips the torn record
    assert kv.latest_version() == 0
    kv.put("b", "2")  # append must repair the newline first
    assert kv.get("b") == "2"
    assert kv.get("a") == "1"
    state = kv._load_manifest()
    assert 99 not in state


def test_recovery_skips_uncommitted_dirs(spark):
    """Lost MANIFEST + a version dir without _SUCCESS (half-written batch):
    recovery must not resurrect the torn batch."""
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        kv = KVTable(spark, d)
        kv.put("a", "1")  # real spark write -> _SUCCESS present
        _raw_version(d, 7, [("torn", "x", "put")])  # no _SUCCESS
        os.remove(kv._manifest)
        assert kv.get("a") == "1"  # recovered from _SUCCESS-marked dir
        assert kv.get("torn") is None
        assert 7 not in kv._load_manifest()


def test_write_batch_df_distributed_contract(kv):
    """DataFrame-native batch API (round 4): same semantics as write_batch —
    puts land, 'del' rows tombstone, an empty batch commits no version —
    with zero driver materialization on the write path."""
    spark = kv.spark
    kv.put("keep", "k0")
    v0 = kv.latest_version()
    changes = spark.createDataFrame(
        [("a", "1", "put"), ("b", "2", "put"), ("keep", None, "del")],
        "key string, value string, op string",
    )
    v1 = kv.write_batch_df(changes)
    assert v1 == v0 + 1
    assert kv.get("a") == "1"
    assert kv.get("b") == "2"
    assert kv.get("keep") is None
    assert kv.get("keep", as_of=v0) == "k0"  # MVCC preserved
    # empty batch: no new version
    empty = spark.createDataFrame([], "key string, value string, op string")
    assert kv.write_batch_df(empty) == v1
    assert kv.latest_version() == v1


def test_write_batches_df_concurrent_commits_match_sequential(spark):
    """write_batches_df (r11: concurrent version writes for independent
    batches) must leave EXACTLY the state sequential write_batch_df calls
    would: same version numbering, same merged snapshot, same MVCC reads,
    empty batches skipped without a commit. Run on both layouts."""
    for layout in ("hash", "range"):
        with tempfile.TemporaryDirectory() as d:
            kv = KVTable(spark, d, layout=layout)
            kv.put("seed", "s0")
            batches = [
                spark.createDataFrame(
                    [(f"k{i}_{j}", f"v{i}", "put") for j in range(3)]
                    + ([("seed", None, "del")] if i == 1 else []),
                    "key string, value string, op string",
                )
                for i in range(3)
            ]
            # middle insert: an EMPTY batch whose version number is skipped
            empty = spark.createDataFrame([], "key string, value string, op string")
            vs = kv.write_batches_df(batches[:1] + [empty] + batches[1:])
            assert vs == [1, 3, 4], (layout, vs)  # version 2 skipped (empty)
            assert kv.latest_version() == 4
            got = {r.key: r.value for r in kv.snapshot().collect()}
            want = {f"k{i}_{j}": f"v{i}" for i in range(3) for j in range(3)}
            assert got == want, layout  # seed deleted by batch 1's tombstone
            assert kv.get("seed", as_of=1) == "s0"  # MVCC preserved
            assert kv.get("seed") is None


def test_recovery_skips_success_only_dirs_above_committed_marker(spark):
    """The r5 ADVICE crash window: a batch whose parquet job FINISHED
    (_SUCCESS present) but which crashed before its manifest append is
    uncommitted — and must STAY invisible even when the MANIFEST itself is
    lost. The COMMITTED high-water marker (bumped after every manifest
    commit) lets recovery tell committed dirs from merely-written ones;
    the orphan is QUARANTINED (renamed under quarantine/, bytes preserved —
    r5 ADVICE: a stale marker under manifest loss could otherwise silently
    destroy an acknowledged commit) so its version number is reusable."""
    import os
    import tempfile

    from pathlib import Path

    with tempfile.TemporaryDirectory() as d:
        kv = KVTable(spark, d)
        kv.put("a", "1")  # committed: manifest line + marker
        v_orphan = kv.latest_version() + 1
        _raw_version(d, v_orphan, [("ghost", "g", "put")])
        # simulate the Hadoop commit finishing: _SUCCESS lands, manifest not
        Path(f"{d}/version={v_orphan}/_SUCCESS").touch()
        os.remove(kv._manifest)  # lose the manifest AFTER the crash
        assert kv.get("a") == "1"  # consistent prefix restored
        assert kv.get("ghost") is None  # uncommitted batch stays invisible
        assert v_orphan not in kv._load_manifest()
        assert not Path(f"{d}/version={v_orphan}").exists()  # moved aside
        # ...but the bytes survive for inspection/recovery (quarantine, not delete)
        assert (Path(d) / "quarantine" / f"version={v_orphan}" / "_SUCCESS").exists()
        # the number is reusable: the next real commit takes it over
        v2 = kv.put("b", "2")
        assert v2 == v_orphan
        assert kv.get("b") == "2"


def test_recovery_without_marker_keeps_legacy_behavior(spark):
    """Pre-marker tables (no COMMITTED file): recovery still trusts every
    _SUCCESS dir — the documented best-effort legacy path."""
    import os
    import tempfile

    from pathlib import Path

    with tempfile.TemporaryDirectory() as d:
        kv = KVTable(spark, d)
        kv.put("a", "1")
        os.remove(kv._manifest)
        os.remove(kv._committed_marker)  # legacy layout
        assert kv.get("a") == "1"


def test_committed_marker_is_monotone(kv):
    kv.put("a", "1")
    kv.put("b", "2")
    m1 = kv._read_committed_marker()
    assert m1 == kv.latest_version()
    kv.compact()
    assert kv._read_committed_marker() >= m1


def test_concurrent_puts_on_one_handle_are_serialized(spark):
    """A KVTable handle is thread-safe (RocksDB-handle contract): concurrent
    put()s must allocate distinct versions and lose no write — without the
    write lock two threads allocate the same version and _clear_orphan each
    other's in-flight delta directory."""
    import tempfile
    from concurrent.futures import ThreadPoolExecutor

    with tempfile.TemporaryDirectory() as d:
        kv = KVTable(spark, d)
        with ThreadPoolExecutor(max_workers=8) as pool:
            versions = list(
                pool.map(lambda i: kv.put(f"k{i}", f"v{i}"), range(16))
            )
        assert sorted(versions) == list(range(versions and min(versions), min(versions) + 16))  # distinct, gap-free
        for i in range(16):
            assert kv.get(f"k{i}") == f"v{i}"


def test_auto_compaction_threshold_trigger(spark):
    """auto_compact_every=N: a commit that leaves >=N live versions triggers
    compact() inside the same write lock — the semantic twin of the
    reference's leveled trigger (level-0 file count schedules compaction,
    db_impl/mod.rs:950-975). Live-version count stays bounded under a write
    burst, and reads see the same merged state after every trigger."""
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        kv = KVTable(spark, d, auto_compact_every=4)
        for i in range(10):
            kv.put(f"k{i % 3}", f"v{i}")
            assert len(kv._versions()) < 4 + 1  # never grows past the trigger
        # state is the merged latest-wins view
        assert kv.get("k0") == "v9"
        assert kv.get("k1") == "v7"
        assert kv.get("k2") == "v8"
        # history collapsed: snapshot reads open one base + recent deltas only
        assert len(kv._versions()) <= 4


def test_two_session_writer_contention(spark):
    """Cross-HANDLE contention: two KVTable handles on the same table dir,
    each bound to a DIFFERENT SparkSession (spark.newSession() — separate
    session state, shared JVM), hammer interleaved batches from threads.
    The flock layer in _locked serializes the version-allocate/write/commit
    critical section across handles, so versions are distinct and no write
    is lost — the two-writer race the handle-level RLock alone cannot see."""
    import tempfile
    from concurrent.futures import ThreadPoolExecutor

    s2 = spark.newSession()
    with tempfile.TemporaryDirectory() as d:
        h1, h2 = KVTable(spark, d), KVTable(s2, d)

        def writer(args):
            i, handle = args
            return handle.write_batch(puts={f"k{i}": f"v{i}", "shared": f"s{i}"})

        jobs = [(i, h1 if i % 2 == 0 else h2) for i in range(12)]
        with ThreadPoolExecutor(max_workers=6) as pool:
            versions = list(pool.map(writer, jobs))
        assert len(set(versions)) == 12  # no version collision across handles
        # every non-contended key survives, readable from BOTH handles
        for i in range(12):
            assert h1.get(f"k{i}") == f"v{i}"
            assert h2.get(f"k{i}") == f"v{i}"
        # the contended key holds the value of the HIGHEST committed version
        last = max(range(12), key=lambda i: versions[i])
        assert h1.get("shared") == f"s{last}"


def test_cross_process_writer_contention(spark):
    """Cross-PROCESS contention: a subprocess with its own JVM+SparkSession
    writes batches to the same table dir while this process writes too. The
    flock in _locked is an OS-level lock, so it serializes version
    allocation across processes — no collisions, no lost writes. (The
    two-SparkSession test above shares one JVM; this is the real two-process
    case, closest to two jobs on one shared filesystem.)"""
    import subprocess
    import sys
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        code = f"""
import sys
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession
from templatedb_spark.kv import KVTable
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "2").getOrCreate())
kv = KVTable(spark, {d!r})
for i in range(4):
    kv.write_batch(puts={{f"sub{{i}}": f"s{{i}}"}})
spark.stop()
print("SUBPROC DONE")
"""
        proc = subprocess.Popen(
            [sys.executable, "-c", code],
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            text=True,
        )
        kv = KVTable(spark, d)
        import time

        for i in range(6):
            kv.write_batch(puts={f"main{i}": f"m{i}"})
            time.sleep(0.3)  # interleave with the subprocess's cadence
        out, _ = proc.communicate(timeout=180)
        assert "SUBPROC DONE" in out
        # every write from BOTH processes is visible; versions are distinct
        # (manifest add-lines are unique) and nothing was lost
        for i in range(6):
            assert kv.get(f"main{i}") == f"m{i}"
        for i in range(4):
            assert kv.get(f"sub{i}") == f"s{i}"
        versions = list(kv._load_manifest())
        assert len(versions) == len(set(versions)) == 10


# ---------------------------------------------------------------------------
# compact_range(start, end) — keyed-subrange compaction parity (reference
# db_impl/template_impl.rs:180-194), round 7. In-range history collapses to
# one base; out-of-range keys keep their delta history (and its shadowing
# order). MergeKVTable's versions are already whole merged states, so its
# compact_range degenerates to compact() — both backends must preserve state.
# ---------------------------------------------------------------------------
def test_compact_range_preserves_state(kv):
    kv.write_batch(puts={"a": "1", "b": "1", "m": "1", "z": "1"})
    kv.write_batch(puts={"b": "2"}, deletes=["m"])
    kv.write_batch(puts={"c": "3", "z": "9"})
    v = kv.compact_range("a", "n")  # [a, n): a, b, c, m
    assert v >= 0
    assert kv.get("a") == "1"
    assert kv.get("b") == "2"
    assert kv.get("c") == "3"
    assert kv.get("m") is None  # tombstone elided, not resurrected
    assert kv.get("z") == "9"  # out-of-range untouched
    assert [r.key for r in kv.scan().collect()] == ["a", "b", "c", "z"]


def test_compact_range_collapses_only_in_range_history(spark):
    with tempfile.TemporaryDirectory() as d:
        kv = KVTable(spark, d)
        for i in range(4):
            kv.write_batch(puts={"in1": f"i{i}", "out1": f"o{i}"})
        n_before = len(kv._versions())
        assert n_before == 4
        kv.compact_range("in", "io")  # only in1 is in range
        # out-of-range history survives version-per-version (rewritten under
        # fresh numbers); in-range history is one merged base
        versions = kv._load_manifest()
        assert len(versions) == 5  # 1 base + 4 rewritten history versions
        assert kv.get("in1") == "i3"
        assert kv.get("out1") == "o3"
        # the in-range key now resolves from exactly one version: deleting
        # every history version that still holds out1 must not affect in1
        import shutil as _sh

        base_v = min(versions)
        for v in versions:
            if v != base_v:
                _sh.rmtree(f"{d}/version={v}", ignore_errors=True)
        from templatedb_spark.kv import bucket_of

        assert (
            kv._delta_paths(bucket=bucket_of("in1"))[0].startswith(f"{d}/version={base_v}")
        )


def test_compact_range_open_bounds(spark):
    with tempfile.TemporaryDirectory() as d:
        kv = KVTable(spark, d)
        kv.write_batch(puts={"a": "1", "k": "2", "z": "3"})
        kv.write_batch(puts={"k": "2b"})
        kv.compact_range(start="k")  # [k, +inf)
        assert kv.get("a") == "1" and kv.get("k") == "2b" and kv.get("z") == "3"
        kv.compact_range(end="b")  # (-inf, b)
        assert kv.get("a") == "1" and kv.get("k") == "2b" and kv.get("z") == "3"
        # no bounds at all == compact(): history fully collapses
        kv.compact_range()
        assert len(kv._versions()) == 1
        assert [r.key for r in kv.scan().collect()] == ["a", "k", "z"]


def test_compact_range_empty_in_range_set(kv):
    kv.write_batch(puts={"x": "1"})
    kv.delete("x")
    v = kv.compact_range("a", "zz")
    assert v >= -1
    assert kv.get("x") is None
    assert kv.scan().count() == 0


# ---------------------------------------------------------------------------
# Lease-file fallback (round 7): when flock is unavailable (NFS-style
# filesystems), the writer mutex degrades to an O_EXCL lease with TTL
# takeover instead of degrading to nothing.
# ---------------------------------------------------------------------------
def _break_flock(monkeypatch):
    import fcntl

    def boom(*a, **k):
        raise OSError("flock unsupported on this filesystem")

    monkeypatch.setattr(fcntl, "flock", boom)


def test_lease_fallback_acquire_release(spark, monkeypatch):
    import os

    _break_flock(monkeypatch)
    with tempfile.TemporaryDirectory() as d:
        kv = KVTable(spark, d)
        kv.put("a", "1")  # mutator path: lease taken and released around it
        assert not os.path.exists(os.path.join(d, ".lease"))
        assert kv.get("a") == "1"
        # the lease is held for the duration of the outermost mutator
        kv._acquire_flock()
        try:
            assert kv._lease_held and os.path.exists(os.path.join(d, ".lease"))
        finally:
            kv._release_flock()
        assert not os.path.exists(os.path.join(d, ".lease"))


def test_lease_stale_takeover(spark, monkeypatch):
    import os
    import time

    _break_flock(monkeypatch)
    with tempfile.TemporaryDirectory() as d:
        kv = KVTable(spark, d)
        # a crashed holder's lease, older than the TTL
        lease = os.path.join(d, ".lease")
        with open(lease, "w", encoding="ascii") as f:
            f.write("99999 0\n")
        old = time.time() - KVTable._LEASE_TTL - 5
        os.utime(lease, (old, old))
        kv.put("k", "v")  # must take over instead of waiting forever
        assert kv.get("k") == "v"
        assert not os.path.exists(lease)


def test_lease_serializes_two_handles(spark, monkeypatch):
    import threading

    _break_flock(monkeypatch)
    with tempfile.TemporaryDirectory() as d:
        kv1 = KVTable(spark, d)
        kv2 = KVTable(spark, d)
        errs = []

        def writer(kv, tag):
            try:
                for i in range(3):
                    kv.write_batch(puts={f"{tag}{i}": str(i)})
            except Exception as e:  # pragma: no cover - failure reporting
                errs.append(e)

        t1 = threading.Thread(target=writer, args=(kv1, "a"))
        t2 = threading.Thread(target=writer, args=(kv2, "b"))
        t1.start(); t2.start(); t1.join(120); t2.join(120)
        assert not errs
        versions = list(kv1._load_manifest())
        assert len(versions) == len(set(versions)) == 6
        for i in range(3):
            assert kv1.get(f"a{i}") == str(i)
            assert kv1.get(f"b{i}") == str(i)


# ---------------------------------------------------------------------------
# Round-7 session 2: compaction FLOOR marker (the r7 'double failure'
# residual — lost MANIFEST mid-cleanup must not resurrect retired versions)
# and per-version key-range metadata (LSM smallest/largest parity: version
# pruning for scans/points, hardlink-clone instead of rewrite in
# compact_range for versions outside the compacted range).
# ---------------------------------------------------------------------------
def test_floor_quarantines_retired_versions_after_manifest_loss(kv):
    """Simulate: compact() published its snapshot + FLOOR, crashed before the
    old dirs' rmtree finished, and then the MANIFEST was lost. Recovery must
    quarantine the retired leftover (it sits below the floor) instead of
    splicing pre-compaction history back under the merged base."""
    import os
    import shutil

    kv.put("a", "old")
    kv.put("a", "new")
    kv.delete("b")  # KVTable: tombstone that compaction elides
    stale = os.path.join(kv.path, "_stale_copy")
    shutil.copytree(os.path.join(kv.path, "version=0"), stale)
    kv.compact()
    # crash window: one retired dir survived the cleanup...
    shutil.copytree(stale, os.path.join(kv.path, "version=0"))
    shutil.rmtree(stale)
    # ...and the manifest is lost
    os.remove(str(kv._manifest))
    reopened = type(kv)(kv.spark, kv.path)
    assert reopened.get("a") == "new"  # not resurrected to "old"
    state = reopened._load_manifest()
    assert 0 not in state  # the retired version is not live
    qdir = os.path.join(kv.path, "quarantine")
    assert os.path.isdir(qdir) and any(
        n.startswith("version=0") for n in os.listdir(qdir)
    )


def test_floor_marker_monotonic(spark):
    with tempfile.TemporaryDirectory() as d:
        kv = KVTable(spark, d)
        kv._bump_floor(5)
        kv._bump_floor(3)  # regression attempt ignored
        assert kv._read_floor() == 5
        kv._bump_floor(9)
        assert kv._read_floor() == 9


def test_compact_range_clones_nonintersecting_versions(spark):
    """A version whose recorded key range misses [start, end) must be
    HARDLINK-cloned, not rewritten: its parquet part files keep their exact
    names (a Spark rewrite would mint fresh job-UUID names), and its
    manifest kmin/kmax carry over verbatim."""
    import glob
    import os

    with tempfile.TemporaryDirectory() as d:
        kv = KVTable(spark, d)
        kv.write_batch(puts={"x1": "1", "z1": "2"})  # v0: entirely out of range
        kv.write_batch(puts={"a1": "3", "b1": "4"})  # v1: entirely in range
        kv.write_batch(puts={"a2": "5", "y1": "6"})  # v2: straddles → rewrite
        before = {
            os.path.basename(p)
            for p in glob.glob(os.path.join(d, "version=0", "bucket=*", "*.parquet"))
        }
        assert before
        old_meta = kv._load_manifest()[0]
        assert old_meta["kmin"] == "x1" and old_meta["kmax"] == "z1"
        kv.compact_range("a", "n")
        state = kv._load_manifest()
        # find the cloned successor of v0 by its carried-over key range
        clones = [v for v, m in state.items() if m.get("kmin") == "x1"]
        assert len(clones) == 1
        cv = clones[0]
        after = {
            os.path.basename(p)
            for p in glob.glob(
                os.path.join(d, f"version={cv}", "bucket=*", "*.parquet")
            )
        }
        assert after == before  # same part files → cloned, not rewritten
        assert state[cv]["kmax"] == "z1"
        # semantics intact across clone + rewrite + merged base
        for k, val in {"x1": "1", "z1": "2", "a1": "3", "b1": "4", "a2": "5", "y1": "6"}.items():
            assert kv.get(k) == val


def test_version_pruning_by_key_range(spark):
    """Range metadata prunes whole versions out of range scans and point
    reads before any file is opened (the LSM smallest/largest skip)."""
    with tempfile.TemporaryDirectory() as d:
        kv = KVTable(spark, d)
        kv.write_batch(puts={"a1": "1", "c1": "2"})  # v0: [a1, c1]
        kv.write_batch(puts={"x1": "3", "z1": "4"})  # v1: [x1, z1]
        # scan of the low range must only open v0's files
        low = kv._delta_paths(start="a", end="d")
        assert low and all("version=0" in p for p in low)
        high = kv._delta_paths(start="x", end="zz")
        assert high and all("version=1" in p for p in high)
        # point read: the other version's range excludes the key entirely
        from templatedb_spark.kv import bucket_of

        pt = kv._delta_paths(bucket=bucket_of("a1"), start="a1", end="a1\x00")
        assert pt == [f"{d}/version=0/bucket={bucket_of('a1')}"]
        # results are still exact
        assert [r.key for r in kv.scan("a", "d").collect()] == ["a1", "c1"]
        assert kv.get("x1") == "3"


def test_recovered_manifest_degrades_to_unknown_ranges(spark):
    """Recovery can't know key ranges (they lived in the lost manifest):
    records come back range-less and every consumer treats that as
    intersects-everything — reads stay exact, pruning is simply lost."""
    import os

    with tempfile.TemporaryDirectory() as d:
        kv = KVTable(spark, d)
        kv.write_batch(puts={"a1": "1"})
        kv.write_batch(puts={"z1": "2"})
        os.remove(str(kv._manifest))
        kv2 = KVTable(spark, d)
        state = kv2._load_manifest()
        assert all(m["kmin"] is None and m["kmax"] is None for m in state.values())
        # no pruning: both versions considered for any range...
        assert len({p.split("/bucket=")[0] for p in kv2._delta_paths(start="a", end="b")}) == 2
        # ...and the data is still exact
        assert kv2.get("a1") == "1" and kv2.get("z1") == "2"


# ---------------------------------------------------------------------------
# Range layout (round 8): range-partitioned, key-sorted buckets with
# per-bucket key ranges in the manifest — the LSM's sorted SSTable run
# (reference: sstable/table_builder.rs sorted blocks; manager/version_edit.rs
# FileMetaData smallest/largest). Hash layout cannot prune buckets for a key
# RANGE; range layout prunes both point reads and range scans/compactions at
# bucket granularity.
# ---------------------------------------------------------------------------
@pytest.fixture(params=["lsm", "merge"])
def kv_range(spark, request):
    cls = KVTable if request.param == "lsm" else MergeKVTable
    with tempfile.TemporaryDirectory() as d:
        yield cls(spark, d, layout="range")


def test_range_layout_core_semantics(kv_range):
    """Full put/get/delete/batch/MVCC/scan/compact contract is layout-
    independent — the layout only changes the physical bucketing."""
    kv = kv_range
    v1 = kv.put("k", "first")
    kv.put("k", "second")
    kv.write_batch(puts={"b": "2", "a": "1", "d": "4"}, deletes=[])
    kv.delete("d")
    assert kv.get("k") == "second"
    assert kv.get("k", as_of=v1) == "first"
    assert kv.get("d") is None
    assert [r.key for r in kv.scan(start="a", end="c").collect()] == ["a", "b"]
    kv.compact()
    assert kv.get("k") == "second"
    assert kv.get("a") == "1"
    assert kv.get("d") is None
    assert len(kv._versions()) == 1


def test_range_layout_marker_pins_layout(spark):
    """LAYOUT marker: written on first range use, adopted on reopen,
    conflicting explicit layout refused; hash tables never gain the file."""
    import os

    with tempfile.TemporaryDirectory() as d:
        kv = KVTable(spark, d, layout="range")
        kv.put("a", "1")
        assert (Path(d) / "LAYOUT").read_text().strip() == "range"
        reopened = KVTable(spark, d)  # no explicit layout: adopts marker
        assert reopened.layout == "range"
        assert reopened.get("a") == "1"
        with pytest.raises(ValueError, match="layout"):
            KVTable(spark, d, layout="hash")
    with tempfile.TemporaryDirectory() as d:
        kv = KVTable(spark, d)  # default hash
        kv.put("a", "1")
        assert kv.layout == "hash"
        assert not os.path.exists(os.path.join(d, "LAYOUT"))
    with pytest.raises(ValueError, match="layout must be"):
        KVTable(spark, "/tmp/never-created-kv", layout="zorder")


def test_range_layout_buckets_sorted_and_disjoint(spark):
    """Each bucket is a key-sorted run and the manifest's per-bucket ranges
    are pairwise disjoint — the range-partitioned SSTable invariant that
    makes bucket pruning sound."""
    import pyarrow.parquet as pq

    with tempfile.TemporaryDirectory() as d:
        kv = KVTable(spark, d, layout="range")
        v = kv.write_batch(puts={f"k{i:03d}": str(i) for i in range(200)})
        meta = kv._load_manifest()[v]
        branges = meta["bucket_ranges"]
        assert len(branges) > 4  # really spread over multiple buckets
        spans = sorted(branges.values())
        for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
            assert hi1 < lo2, "bucket ranges overlap"
        assert meta["kmin"] == "k000" and meta["kmax"] == "k199"
        for b, (lo, hi) in branges.items():
            files = sorted(Path(f"{d}/version={v}/bucket={b}").glob("*.parquet"))
            keys = []
            for fp in files:
                keys.extend(pq.read_table(fp, columns=["key"])["key"].to_pylist())
            assert keys == sorted(keys), "bucket not key-sorted"
            assert keys and keys[0] == lo and keys[-1] == hi


def test_range_layout_scan_prunes_buckets(spark):
    """A subrange scan opens only the buckets whose recorded range
    intersects it — hash layout must touch every bucket for the same scan."""
    with tempfile.TemporaryDirectory() as d:
        kv = KVTable(spark, d, layout="range")
        kv.write_batch(puts={f"k{i:03d}": str(i) for i in range(200)})
        all_paths = kv._delta_paths(None)
        pruned = kv._delta_paths(None, start="k050", end="k060")
        assert len(pruned) < len(all_paths)
        got = [r.key for r in kv.scan(start="k050", end="k060").collect()]
        assert got == [f"k{i:03d}" for i in range(50, 60)]
        # the scan's physical read touches only the pruned buckets
        df = kv.snapshot(key_range=("k050", "k060"))
        assert set(df.inputFiles()) <= {
            f"file://{p}/{f.name}" if not f.name.startswith("file:") else f.name
            for p in pruned
            for f in Path(p).glob("*.parquet")
        } | {f"file:{p}/{f.name}" for p in pruned for f in Path(p).glob("*.parquet")}


def test_range_layout_point_read_prunes(spark):
    """Point reads locate the key's bucket through the manifest ranges (no
    hash function involved) and open exactly the covering bucket(s)."""
    with tempfile.TemporaryDirectory() as d:
        kv = KVTable(spark, d, layout="range")
        v = kv.write_batch(puts={f"k{i:03d}": str(i) for i in range(200)})
        paths = kv._delta_paths(None, start="k123", end="k123\x00")
        assert len(paths) == 1  # disjoint ranges → exactly one covering bucket
        assert kv.get("k123") == "123"
        assert kv.get("nope") is None
        # version-level pruning still composes: a later far-away batch is
        # skipped entirely when reading a key outside its range
        kv.write_batch(puts={"zzz": "far"})
        paths2 = kv._delta_paths(None, start="k123", end="k123\x00")
        assert [p for p in paths2 if f"version={v + 1}" in p] == []


def test_range_layout_compact_range_clones_untouched_buckets(spark):
    """compact_range on a range-layout table rewrites ONLY the buckets whose
    recorded range intersects [start, end); every other bucket of the same
    version is hardlink-cloned (identical part filenames — no Spark job
    touched it). Hash layout must rewrite all buckets (a key range maps to
    every hash bucket)."""
    with tempfile.TemporaryDirectory() as d:
        kv = KVTable(spark, d, layout="range")
        v1 = kv.write_batch(puts={f"k{i:03d}": "old" for i in range(200)})
        kv.write_batch(puts={f"k{i:03d}": "new" for i in range(40, 60)})
        meta1 = kv._load_manifest()[v1]
        touched = {
            b
            for b, rng in meta1["bucket_ranges"].items()
            if not (rng[1] < "k040" or rng[0] >= "k060")
        }
        untouched = set(meta1["buckets"]) - touched
        assert untouched, "need at least one non-intersecting bucket"
        before = {
            b: sorted(
                f.name for f in Path(f"{d}/version={v1}/bucket={b}").glob("*.parquet")
            )
            for b in untouched
        }
        kv.compact_range("k040", "k060")
        state = kv._load_manifest()
        # v1's renumbered successor still carries every original bucket id;
        # untouched buckets kept their exact part files (clone, not rewrite)
        succ = [
            v
            for v, m in state.items()
            if set(m["buckets"]) == set(meta1["buckets"])
            and (m.get("kmin"), m.get("kmax")) == (meta1["kmin"], meta1["kmax"])
        ]
        assert len(succ) == 1
        sv = succ[0]
        for b in untouched:
            after = sorted(
                f.name
                for f in Path(f"{d}/version={sv}/bucket={b}").glob("*.parquet")
            )
            assert after == before[b], "untouched bucket was rewritten"
        # and the merged state is exactly right
        assert kv.get("k045") == "new"
        assert kv.get("k100") == "old"
        assert kv.scan().count() == 200


def test_range_layout_merge_table_prunes(spark):
    """MergeKVTable under range layout: point get and key_range snapshot go
    through the manifest's per-bucket ranges."""
    with tempfile.TemporaryDirectory() as d:
        kv = MergeKVTable(spark, d, layout="range")
        kv.write_batch(puts={f"k{i:03d}": str(i) for i in range(200)})
        kv.write_batch(puts={"k050": "updated"}, deletes=["k051"])
        assert kv.get("k050") == "updated"
        assert kv.get("k051") is None
        assert kv.get("k199") == "199"
        v = kv.latest_version()
        meta = kv._load_manifest()[v]
        if meta.get("bucket_ranges"):
            sub = kv._version_bucket_paths(v, meta, "k000", "k010")
            assert len(sub) < len(meta["buckets"])
        # snapshot(key_range) prunes as a SUPERSET guarantee; scan applies
        # the exact row filter on top of the pruned read
        got = [r.key for r in kv.scan(start="k049", end="k054").collect()]
        assert got == ["k049", "k050", "k052", "k053"]


# -- exactly-once tagged writes (round 9) -----------------------------------


def test_tagged_write_skips_replay(kv):
    """write_batch_df(tag=...): a second call with the SAME tag is a replayed
    micro-batch — it must return the existing version and leave both the
    version count and the state untouched (both backends)."""
    spark = kv.spark
    df1 = spark.createDataFrame(
        [("a", "1", "put"), ("b", "2", "put")], "key string, value string, op string"
    )
    v1 = kv.write_batch_df(df1, tag="q:b0")
    # replay delivers equivalent content under the same tag
    v_replay = kv.write_batch_df(df1, tag="q:b0")
    assert v_replay == v1
    assert kv.latest_version() == v1
    # a DIFFERENT tag is a new batch, not a replay
    df2 = spark.createDataFrame(
        [("b", None, "del"), ("c", "3", "put")], "key string, value string, op string"
    )
    v2 = kv.write_batch_df(df2, tag="q:b1")
    assert v2 == v1 + 1
    assert kv.write_batch_df(df2, tag="q:b1") == v2  # replay of b1 too
    assert kv.latest_version() == v2
    assert {(r.key, r.value) for r in kv.snapshot().collect()} == {
        ("a", "1"),
        ("c", "3"),
    }
    assert kv.has_tag("q:b0") and kv.has_tag("q:b1") and not kv.has_tag("q:b2")


def test_tag_survives_manifest_snapshot(spark):
    """Tags are part of the manifest record, so a snapshot rewrite (what
    compact_range/recovery emit) must preserve the tags of versions it
    keeps — otherwise a replay after any maintenance re-applies."""
    with tempfile.TemporaryDirectory() as d:
        kv = KVTable(spark, d)
        df = spark.createDataFrame([("a", "1", "put")], "key string, value string, op string")
        kv.write_batch_df(df, tag="q:b0")
        state = kv._load_manifest()
        kv._write_manifest_snapshot(state)
        assert kv.has_tag("q:b0")


def test_cdc_full_redrain_is_noop(spark, tmp_path):
    """End-to-end exactly-once: drain the same staged feed TWICE with the
    same query name (checkpointless availableNow restart = every batch is a
    replay). The second drain must add zero versions and leave the state
    bit-identical."""
    import shutil

    from templatedb_spark.streaming.cdc import changes_from_events, stream_cdc_to_kv
    from templatedb_spark.streaming.events import read_events_stream
    from templatedb_spark.streaming.gate import _stage_events
    from tests.conftest import SF_SMALL

    stage = tmp_path / "stage"
    stage.mkdir()
    _stage_events(SF_SMALL, 3)(str(stage))
    kv_dir = tmp_path / "kv"
    kv = KVTable(spark, str(kv_dir))
    stream_cdc_to_kv(
        changes_from_events(read_events_stream(spark, str(stage))), kv, "redrain_q"
    )
    v_first = kv.latest_version()
    state_first = sorted((r.key, r.value) for r in kv.snapshot().collect())
    assert len(kv._load_manifest()) == 3 and state_first  # one version per batch

    stream_cdc_to_kv(
        changes_from_events(read_events_stream(spark, str(stage))), kv, "redrain_q"
    )
    assert kv.latest_version() == v_first  # zero new versions
    assert sorted((r.key, r.value) for r in kv.snapshot().collect()) == state_first
    shutil.rmtree(stage, ignore_errors=True)


def test_cms_redrain_does_not_double_count(spark, tmp_path):
    """The CMS gate's sketch is a SUM monoid — the one case where a replayed
    micro-batch CORRUPTS state rather than wasting a version. Re-drain the
    same staged feed with the same query name against the same KV: the
    sketch must be bit-identical (tags recognized), and stripping the tags
    WOULD have doubled it (asserted by summing the partials)."""
    import pyarrow.parquet as pq

    from templatedb_spark.streaming.drain import stage_slices
    from tests.conftest import SF_SMALL

    stage = tmp_path / "stage"
    stage.mkdir()
    docs = pq.read_table(f"{SF_SMALL}/documents.parquet", columns=["doc_id", "text"])
    stage_slices(docs, str(stage), 3, ["doc_id"])

    # run the gate once, capturing its KV via a monkeypatched tempdir? No —
    # drive the apply path directly with a fixed qname, the same calls the
    # foreachBatch makes, using real micro-batch frames from the staged files
    import pyarrow.parquet as pq

    kv = KVTable(spark, str(tmp_path / "kv"))
    from pyspark.sql import functions as F

    from templatedb_spark.functions.hashing import h32
    from templatedb_spark.operators.dedup import tokens_col
    from templatedb_spark.operators.textstats import _CMS_D, _CMS_W

    def apply(batch_path, batch_id):
        pdf = pq.read_table(batch_path).to_pandas()
        bdf = spark.createDataFrame(pdf)
        cells = (
            bdf.select(F.explode(tokens_col(F.col("text"))).alias("tok"))
            .select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(j).alias("j"),
                                (
                                    h32(F.concat(F.lit(f"cms{j}:"), F.col("tok")))
                                    % _CMS_W
                                ).alias("b"),
                            )
                            for j in range(_CMS_D)
                        ]
                    )
                ).alias("jb")
            )
            .groupBy(F.col("jb.j").alias("j"), F.col("jb.b").alias("b"))
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
        partial = {(r.j, r.b): r.cnt for r in cells.collect()}
        cur = {r.key: int(r.value) for r in kv.snapshot().collect()}
        rows = [
            (f"{j}:{b:03d}", str(cur.get(f"{j}:{b:03d}", 0) + cnt), "put")
            for (j, b), cnt in sorted(partial.items())
        ]
        kv.write_batch_df(
            spark.createDataFrame(rows, "key string, value string, op string"),
            tag=f"cmsq:b{batch_id}",
        )
        return partial

    parts = sorted(str(p) for p in stage.glob("part-*.parquet"))
    totals: dict = {}
    for i, p in enumerate(parts):
        for cell, cnt in apply(p, i).items():
            totals[cell] = totals.get(cell, 0) + cnt
    first = {r.key: int(r.value) for r in kv.snapshot().collect()}
    assert first == {f"{j}:{b:03d}": c for (j, b), c in totals.items()}

    # replay EVERY batch (restart without checkpoint): tags must no-op
    for i, p in enumerate(parts):
        apply(p, i)
    assert {r.key: int(r.value) for r in kv.snapshot().collect()} == first


def test_cdc_checkpoint_restart_continues(spark, tmp_path):
    """Durable-progress contract: a CDC drain with a checkpoint, restarted
    after new files arrive, must (a) never re-read drained files, (b) apply
    exactly one KV version per NEW micro-batch with batch ids (and tags)
    continuing from the checkpoint, and (c) land the same final state as a
    single whole-feed drain. A third restart with no new data applies
    nothing."""
    import shutil

    from templatedb_spark.streaming.cdc import changes_from_events, stream_cdc_to_kv
    from templatedb_spark.streaming.events import read_events_stream
    from templatedb_spark.streaming.gate import _stage_events
    from tests.conftest import SF_SMALL

    full = tmp_path / "full"
    full.mkdir()
    _stage_events(SF_SMALL, 3)(str(full))

    stage = tmp_path / "stage"
    stage.mkdir()
    ckpt = str(tmp_path / "ckpt")
    shutil.copy(full / "part-0.parquet", stage / "part-0.parquet")
    kv = KVTable(spark, str(tmp_path / "kv"))
    stream_cdc_to_kv(
        changes_from_events(read_events_stream(spark, str(stage))),
        kv, "ckpt_q", checkpoint_dir=ckpt,
    )
    assert len(kv._load_manifest()) == 1

    import os
    import time

    now = time.time()
    for i in (1, 2):  # new files arrive; restart the query
        dst = stage / f"part-{i}.parquet"
        shutil.copy(full / f"part-{i}.parquet", dst)
        # pin ascending mtimes: the file source orders new files by mtime,
        # and two fast copies under suite load can collide or invert —
        # flipping batch order and with it every last-writer-wins outcome
        os.utime(dst, (now + i, now + i))
    stream_cdc_to_kv(
        changes_from_events(read_events_stream(spark, str(stage))),
        kv, "ckpt_q", checkpoint_dir=ckpt,
    )
    manifest = kv._load_manifest()
    assert len(manifest) == 3  # exactly one version per new micro-batch
    tags = sorted(m.get("tag") for m in manifest.values())
    assert tags == ["ckpt_q:b0", "ckpt_q:b1", "ckpt_q:b2"]  # ids continued

    # reference: one whole-feed drain into a fresh KV
    ref = KVTable(spark, str(tmp_path / "kv_ref"))
    stream_cdc_to_kv(
        changes_from_events(read_events_stream(spark, str(full))), ref, "ref_q"
    )
    got = sorted((r.key, r.value) for r in kv.snapshot().collect())
    want = sorted((r.key, r.value) for r in ref.snapshot().collect())
    assert got == want and got

    # restart with nothing new: zero versions added
    stream_cdc_to_kv(
        changes_from_events(read_events_stream(spark, str(stage))),
        kv, "ckpt_q", checkpoint_dir=ckpt,
    )
    assert len(kv._load_manifest()) == 3
