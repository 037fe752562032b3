"""The drain harness (streaming/drain.py): no scratch outlives its drain,
a failing drain still cleans up, and the partition and checkpoint-tier
rules hold."""

from __future__ import annotations

import os
import tempfile

import pytest

from templatedb_spark.streaming.drain import (
    CKPT_ENV,
    SHM,
    checkpoint_base,
    drain,
    shuffle_partitions,
)
from tests.conftest import SF_SMALL


def test_gated_drains_leave_only_result_dirs(spark, tmp_path, monkeypatch):
    """Each gate's stage and checkpoint dirs are gone once its spec returns;
    only the dir the returned DataFrame still reads (the enrich file sink)
    remains."""
    from templatedb_spark.sources.pyds import pyds_stream_source
    from templatedb_spark.streaming import gate

    tmp, ckpt = tmp_path / "tmp", tmp_path / "ckpt"
    tmp.mkdir()
    ckpt.mkdir()
    monkeypatch.setenv("TMPDIR", str(tmp))
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    monkeypatch.setenv(CKPT_ENV, str(ckpt))
    for spec in (
        gate.stream_window_late,
        gate.stream_dedup_ingest_gate,
        gate.stream_neardup_pairs_gate,
        gate.stream_static_enrich,
        pyds_stream_source,
    ):
        assert spec(spark, SF_SMALL).collect(), spec.__name__
    assert os.listdir(ckpt) == []
    left = os.listdir(tmp)
    assert len(left) == 1 and left[0].startswith("enrich_sink_"), left


def test_failing_drain_removes_its_dirs_and_reraises(spark):
    from pyspark.errors import StreamingQueryException

    from templatedb_spark.streaming.events import read_events_stream
    from templatedb_spark.streaming.gate import _stage_events

    def boom(batch_df, batch_id):
        raise RuntimeError("boom in foreachBatch")

    seen = {}
    with pytest.raises(StreamingQueryException, match="boom in foreachBatch"):
        with drain(spark, "failing", "jvm_state", _stage_events(SF_SMALL)) as d:
            seen.update(stage=d.stage, ckpt=d.ckpt)
            assert os.listdir(d.stage)  # the stager ran
            d.run(read_events_stream(d.session, d.stage), boom)
    assert seen and not any(os.path.exists(p) for p in seen.values())


def test_partition_policies():
    mb, gb = 1 << 20, 1 << 30
    assert shuffle_partitions("jvm_state", 8, mb, 4) == 2
    assert shuffle_partitions("jvm_state", 1, mb, 4) == 1
    assert shuffle_partitions("jvm_state", 200, 10 * gb, 4) == 200
    assert shuffle_partitions("python_state", 4, 0, 4) == 4
    assert shuffle_partitions("python_state", 8, 0, 32) == 16
    assert shuffle_partitions("python_state", 8, 0, 4) == 8
    with pytest.raises(ValueError, match="partition policy"):
        shuffle_partitions("jvm", 8, mb, 4)


def test_checkpoint_tier_follows_master(monkeypatch):
    monkeypatch.delenv(CKPT_ENV, raising=False)
    assert checkpoint_base("local[4]") in (SHM, tempfile.gettempdir())
    with pytest.raises(ValueError, match=CKPT_ENV):
        checkpoint_base("spark://head:7077")
    monkeypatch.setenv(CKPT_ENV, "/mnt/shared/ckpt")
    assert checkpoint_base("spark://head:7077") == "/mnt/shared/ckpt"
