"""One availableNow drain: the scratch lifecycle every gated streaming chain
shares (streaming/gate.py, sources/pyds.py).

`drain(...)` owns, for one call:

- the staging dir and the micro-batch files written into it;
- a unique query name (memory-sink view names and KV exactly-once tags
  derive from it, so two drains in one process never collide);
- the session the stream runs on, picked by a named partition policy;
- the checkpoint dir, on the tier `checkpoint_base` picks;
- deleting the stage and checkpoint dirs the moment the block exits, on
  success or failure.

Checkpoints are written, read within the same call and discarded: they have
no durability requirement, so on a local master they sit on tmpfs when it is
writable (measured r11: per-trigger state-commit fsyncs of 80-870 ms on
disk; the interval-join drain 3.6-4.2 s -> 2.8 s on /dev/shm). A non-local
master has no per-host tmpfs every executor can reach, so it needs the
deployment path in SPARK_GRAFT_STREAM_CKPT.

Dirs the returned DataFrame still reads after the drain (KV roots, a file
sink) come from `result_dir` and are removed at process exit -- the one
lifetime the harness cannot bound.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable, Iterator, Sequence
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

CKPT_ENV = "SPARK_GRAFT_STREAM_CKPT"
SHM = "/dev/shm"
# part i gets mtime _MTIME0 + i: the file source picks parts up in that order
_MTIME0 = 1_700_000_000


def checkpoint_base(master: str) -> str:
    """Where checkpoint dirs go: SPARK_GRAFT_STREAM_CKPT when set; else, on
    a local master, /dev/shm when writable and TMPDIR otherwise. Any other
    master without the variable raises instead of writing per-host tmpfs."""
    base = os.environ.get(CKPT_ENV, "")
    if base:
        return base
    if not master.startswith("local"):
        raise ValueError(
            f"streaming checkpoints on master {master!r} need storage every "
            f"host can reach: set {CKPT_ENV} to such a path"
        )
    return SHM if os.access(SHM, os.W_OK) else tempfile.gettempdir()


def shuffle_partitions(policy: str, ambient: int, staged_bytes: int, cores: int) -> int:
    """Shuffle-partition count of a drain's session under a cloning policy.

    - jvm_state: every JVM state-store instance (one per shuffle partition)
      pays per-trigger open/snapshot/commit I/O however few rows it holds, so
      micro-batch-sized chains shrink to staged bytes / 32 MB (the bench
      session's own per-partition rule), clamped to [2, ambient] with ambient
      winning below 2. Floor 2, not 1 or 4 (r11 paired A/B at sf0.1): it keeps
      cross-task overlap while halving the store count.
    - python_state: bound by serial per-group Python calls inside each state
      partition, so more partitions mean more concurrent Python workers:
      double the ambient count, never below ambient, capped at the core count
      (r11 at sf0.1: 16 beat ambient 8 by 10-20 %, 32 lost again).
    """
    if policy == "jvm_state":
        return min(ambient, max(2, staged_bytes // (32 << 20)))
    if policy == "python_state":
        return min(2 * ambient, max(ambient, cores))
    raise ValueError(f"unknown partition policy {policy!r}")


def write_parts(parts: Sequence[pa.Table], out_dir: str) -> None:
    """Write part i to out_dir/part-i.parquet with an mtime that forces the
    file-source pickup order."""
    for i, part in enumerate(parts):
        p = f"{out_dir}/part-{i}.parquet"
        pq.write_table(part, p)
        os.utime(p, (_MTIME0 + i, _MTIME0 + i))


def stage_slices(
    table: pa.Table,
    out_dir: str,
    n: int,
    order: Sequence[str],
    filter: pc.Expression | None = None,
) -> None:
    """Stage `table` (optionally filtered) as n equal slices in ascending
    `order`. Pure pyarrow, so the staged files keep the source's physical
    types (events ts ships as TIMESTAMP(NANOS) or (MICROS))."""
    if filter is not None:
        table = table.filter(filter)
    table = table.take(pc.sort_indices(table, sort_keys=[(c, "ascending") for c in order]))
    step = (table.num_rows + n - 1) // n
    write_parts([table.slice(i * step, step) for i in range(n)], out_dir)


def result_dir(prefix: str) -> str:
    """A dir the returned DataFrame still reads once the drain is over;
    removed at process exit."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


@dataclass
class Drain:
    session: SparkSession
    name: str
    stage: str
    ckpt: str

    def run(
        self, stream: DataFrame, sink: str | Callable = "memory", path: str | None = None
    ) -> DataFrame | None:
        """Drain `stream` in append mode with availableNow into `sink`: a
        writeStream format name or a foreachBatch function. Returns the
        memory sink's table, else None."""
        w = stream.writeStream
        w = w.foreachBatch(sink) if callable(sink) else w.format(sink)
        if path is not None:
            w = w.option("path", path)
        q = (
            w.queryName(self.name)
            .option("checkpointLocation", self.ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return self.session.table(self.name) if sink == "memory" else None


@contextmanager
def drain(
    spark: SparkSession,
    label: str,
    policy: str = "ambient",
    stage: Callable[[str], None] | None = None,
) -> Iterator[Drain]:
    """One drain's scratch: `stage(dir)` writes the micro-batches, then the
    session is picked by `policy` (see shuffle_partitions) -- ambient runs on
    `spark` itself, the other two on a clone, which isolates conf and temp
    views from queries planning concurrently on `spark`. Stage and checkpoint
    dirs are deleted when the block exits."""
    base = checkpoint_base(spark.sparkContext.master)
    with tempfile.TemporaryDirectory(
        prefix=f"{label}_stage_", ignore_cleanup_errors=True
    ) as stage_dir, tempfile.TemporaryDirectory(
        prefix=f"{label}_ckpt_", dir=base, ignore_cleanup_errors=True
    ) as ckpt:
        if stage is not None:
            stage(stage_dir)
        session = spark
        if policy != "ambient":
            staged = sum(f.stat().st_size for f in Path(stage_dir).glob("*.parquet"))
            n = shuffle_partitions(
                policy,
                int(spark.conf.get("spark.sql.shuffle.partitions", "8")),
                staged,
                spark.sparkContext.defaultParallelism,
            )
            session = spark.newSession()
            session.conf.set("spark.sql.shuffle.partitions", str(n))
            session.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        yield Drain(session, f"gate_{label}_{uuid.uuid4().hex[:12]}", stage_dir, ckpt)
