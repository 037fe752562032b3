"""Oracle-gated streaming specs: the Structured Streaming tier under the
DuckDB oracle. Every chain runs a REAL availableNow drain inside the spec
callable: stage an input as ordered micro-batch parquet files, drain them
through the streaming operator under test, return the drained result. The
scratch lifecycle (staging, query name, session policy, checkpoint,
cleanup) is `streaming/drain.py`'s; this module holds each chain's
operator, sink and oracle.

`stream_cdc_kv_state` is the template: the events feed drains through
`streaming/cdc.py`'s foreachBatch query (maxFilesPerTrigger=1 → genuine
micro-batches), each applied to a KVTable as one atomic MVCC version.
Because micro-batches arrive in feed order and application is atomic, the
final state must equal the net-effect compaction of the WHOLE feed — which
is exactly what the oracle SQL computes on the raw events table. A
divergence in watermarking, batch boundaries, KV versioning, or the
delete-shadows contract shows up as a hash mismatch.

Float note: kv stores `event_type|value` with Python str(value) (shortest
roundtrip repr); casting back to DOUBLE is exact, so the oracle compares the
original doubles, not formatted strings.
"""

from __future__ import annotations

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from templatedb_spark.streaming.cdc import CDC_KEY_OFFSET
from templatedb_spark.streaming.drain import drain, result_dir, stage_slices, write_parts
from templatedb_spark.suite import QuerySpec, register

# Default trigger count: 2 is the semantic minimum for a cross-batch state
# contract (one batch boundary); chains needing a second boundary stage 3.
# The replay fuzz randomizes 1-5 batch decompositions per operator, so
# multi-boundary behaviour stays under test there.
_N_MICROBATCHES = 2
_EVENT_ORDER = ("ts", "event_id")


def _stage_events(sf_dir: str, n: int = _N_MICROBATCHES):
    """Stager: the events feed as n (ts, event_id)-ordered micro-batches."""
    return lambda out: stage_slices(
        pq.read_table(f"{sf_dir}/events.parquet"), out, n, _EVENT_ORDER
    )


def _orders_stream(session: SparkSession, sf_dir: str, stage: str) -> DataFrame:
    schema = session.read.parquet(f"{sf_dir}/orders.parquet").schema
    return session.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)


def _kv_state(snap: DataFrame) -> DataFrame:
    """KV rows `key -> event_type|value` back to the CDC oracle's columns."""
    parts = F.split(F.col("value"), r"\|", 2)
    return snap.select(
        F.col("key").cast("long").alias("key"),
        parts.getItem(0).alias("event_type"),
        parts.getItem(1).cast("double").alias("value"),
    )


def stream_cdc_kv_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from templatedb_spark.kv import KVTable
    from templatedb_spark.streaming.cdc import changes_from_events, stream_cdc_to_kv
    from templatedb_spark.streaming.events import read_events_stream

    # auto_compact_every=N_MICROBATCHES puts threshold-driven compaction (the
    # reference's leveled trigger, db_impl/mod.rs:950-975) under this oracle:
    # the final batch's commit reaches the threshold and compacts inside the
    # same write lock, so the audited state is read from the compacted base —
    # any auto-compaction bug (lost delta, wrong merge order) hash-mismatches.
    kv = KVTable(spark, result_dir("cdc_kv_"), auto_compact_every=_N_MICROBATCHES)
    with drain(spark, "cdc", "jvm_state", _stage_events(sf_dir)) as d:
        stream = changes_from_events(read_events_stream(d.session, d.stage))
        stream_cdc_to_kv(stream, kv, d.name, checkpoint_dir=d.ckpt)
    return _kv_state(kv.snapshot())


_STREAM_CDC_ORACLE = f"""
WITH changes AS (
  SELECT user_id + {CDC_KEY_OFFSET} AS key, ts, event_id, event_type, value
  FROM events
),
latest AS (
  SELECT key, event_type, value FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY key ORDER BY ts DESC, event_id DESC) AS rn
    FROM changes
  ) WHERE rn = 1
)
SELECT key::BIGINT AS key, event_type, value::DOUBLE AS value
FROM latest WHERE event_type <> 'error'
"""

register(
    QuerySpec(
        "stream_cdc_kv_state",
        stream_cdc_kv_state,
        _STREAM_CDC_ORACLE,
        "Structured Streaming CDC (2 micro-batches, foreachBatch -> KV MVCC, cross-batch version ordering) vs whole-feed compaction oracle",
    )
)


# ---------------------------------------------------------------------------
# The CUSTOM STATEFUL operator (applyInPandasWithState gap-sessionization,
# streaming/stateful.py). The stream drains 3 micro-batches, emitting
# sessions AS THEY CLOSE; each user's final session stays open in the state
# store. The oracle is therefore the batch sessionization SQL minus every
# user's last session — divergence in state carry-over, gap logic, or emit
# timing hash-mismatches. Python-bound, so it runs on the python_state
# partition policy (streaming/drain.py).
# ---------------------------------------------------------------------------
def stream_sessionize_closed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from templatedb_spark.streaming.events import read_events_stream
    from templatedb_spark.streaming.stateful import stream_sessionize

    # explicit 3: the carry-then-close chain — a session extended across
    # boundary 1 must CLOSE across boundary 2; 2 batches can only prove
    # extend-and-close within the same successor batch
    with drain(spark, "sessions", "python_state", _stage_events(sf_dir, 3)) as d:
        t = d.run(stream_sessionize(read_events_stream(d.session, d.stage)))
    return t.select(
        F.col("user_id").cast("long").alias("user_id"),
        "session_start",
        "session_end",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("session_value").cast("double").alias("session_value"),
    )


# Batch sessionization (same text as the `sessionize` spec's oracle) minus
# each user's final — still-open — session.
_STREAM_SESSIONIZE_ORACLE = """
WITH g AS (
  SELECT user_id, event_id, ts, value,
         epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS gap_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
s AS (
  SELECT *, SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM g
),
agg AS (
  SELECT user_id, session_seq,
         COUNT(*)::BIGINT AS n_events,
         STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
         STRFTIME(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
         ROUND(SUM(value), 2) AS session_value
  FROM s GROUP BY user_id, session_seq
),
mx AS (SELECT user_id, MAX(session_seq) AS mx FROM agg GROUP BY user_id)
SELECT a.user_id::BIGINT AS user_id, a.session_start, a.session_end,
       a.n_events, a.session_value::DOUBLE AS session_value
FROM agg a JOIN mx USING (user_id)
WHERE a.session_seq < mx.mx
"""

register(
    QuerySpec(
        "stream_sessionize_closed",
        stream_sessionize_closed,
        _STREAM_SESSIONIZE_ORACLE,
        "applyInPandasWithState sessionization over 3 micro-batches (state spans batches) vs batch-minus-open-sessions oracle",
    )
)


# ---------------------------------------------------------------------------
# STREAM-STREAM interval join: both-side watermarks, cross-batch state
# retention, interval condition pruning. A click in batch 1 matching an
# error in batch 2 exercises exactly the state carry-over a real funnel join
# depends on. Determinism argument: inner-join matches emit immediately; a
# click needed by a future error satisfies click_ts >= err_ts - 30min >
# watermark (1 h delay > the 30 min lookback, and batches are ts-ordered),
# so no needed state is ever evicted — the drained result provably equals
# the batch interval join, which is the oracle. The final per-error rollup
# runs as BATCH over the sink table (the join is the audited subject).
# ---------------------------------------------------------------------------
def stream_interval_join_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from templatedb_spark.streaming.events import (
        read_events_stream,
        stream_stream_interval_join,
    )

    # 2 micro-batches: join state has no carry-over → carry-over → close
    # chain — one boundary already exercises the full cross-batch contract
    with drain(spark, "ssjoin", "jvm_state", _stage_events(sf_dir, 2)) as d:
        # skip the trailing NO-DATA micro-batch: an INNER symmetric-hash join
        # emits every match eagerly inside the data batches; the extra batch
        # only advances the watermark and evicts state, which this one-shot
        # drain discards anyway (measured r11: ~0.6-0.7 s of a ~2.9 s
        # drain). Append-mode AGG chains like stream_window_late MUST keep
        # no-data batches: their final windows only emit when the watermark
        # advances past them.
        d.session.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
        t = d.run(stream_stream_interval_join(read_events_stream(d.session, d.stage)))
    return t.groupBy(F.col("e_user").alias("user_id"), "error_id").agg(
        F.count(F.lit(1)).alias("n_recent_clicks")
    )


_STREAM_INTERVAL_JOIN_ORACLE = """
SELECT a.user_id, a.event_id AS error_id, COUNT(*) AS n_recent_clicks
FROM events a JOIN events b
  ON a.user_id = b.user_id AND b.event_type = 'click' AND a.event_type = 'error'
 AND b.ts >= a.ts - INTERVAL 30 MINUTE AND b.ts <= a.ts
GROUP BY a.user_id, a.event_id
"""

register(
    QuerySpec(
        "stream_interval_join_clicks",
        stream_interval_join_clicks,
        _STREAM_INTERVAL_JOIN_ORACLE,
        "stream-stream interval join (both-side watermarks, 2 micro-batches, cross-batch join state) vs batch range-join oracle",
    )
)


# ---------------------------------------------------------------------------
# The streaming NEAR-DUP operator (streaming/neardup.py). Documents drain as
# 2 doc_id-ordered micro-batches through the per-band applyInPandasWithState
# pair matcher; a batch-2 doc colliding with a batch-1 doc's signature
# exercises exactly the cross-batch band state the operator exists for.
# Determinism argument: signatures are row-local projections, per-band
# matching is all-pairs within the bucket regardless of arrival order, and
# the emitted (doc_a, doc_b) is sorted — so the DISTINCT pair set equals the
# batch banded self-join over the staged slice, i.e. the dedup_minhash_lsh
# oracle re-rooted on it. Verified at sf0.01: the slice's one near-dup pair
# (120, 332) straddles the batch-1/batch-2 boundary (split at doc_id 248),
# so a green row PROVES the cross-batch state carry-over. Both near-dup
# chains stay on the ambient session: lowering their partition count
# serializes the Python side.
# ---------------------------------------------------------------------------
_NEARDUP_SLICE_MOD = 4  # gate corpus slice: doc_id % 4 == 0
# the stager selects the slice with bit_wise_and(doc_id, MOD-1) == 0 (pyarrow
# has no modulo kernel), which equals the oracle's doc_id % MOD = 0 ONLY for
# powers of two — changing the constant to e.g. 5 would silently stage a
# different slice than the oracle filters (ADVICE r6)
assert _NEARDUP_SLICE_MOD & (_NEARDUP_SLICE_MOD - 1) == 0, (
    "_NEARDUP_SLICE_MOD must be a power of two: the pyarrow stager uses a "
    "bitmask while the oracle uses modulo"
)


def _neardup_gate(spark: SparkSession, sf_dir: str, mode: str) -> DataFrame:
    """Drain the doc_id % 4 == 0 slice (oracle restricted identically: one
    quarter of the corpus exercises the band state fully while the
    md5-signature volume stays off the suite's critical path)."""
    from templatedb_spark.streaming.neardup import (
        read_documents_stream,
        stream_neardup_pairs,
    )

    def stage(out: str) -> None:
        mask = pc.equal(pc.bit_wise_and(pc.field("doc_id"), _NEARDUP_SLICE_MOD - 1), 0)
        stage_slices(pq.read_table(f"{sf_dir}/documents.parquet"), out, 2, ["doc_id"], mask)

    with drain(spark, f"neardup_{mode}", "ambient", stage) as d:
        t = d.run(stream_neardup_pairs(read_documents_stream(d.session, d.stage), mode=mode))
    # a pair found via several shared bands repeats with the SAME match
    # count — distinct() collapses it (the operator's documented contract)
    return t.select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
        F.col("matches").cast("long").alias("matches"),
    ).distinct()


def stream_neardup_pairs_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _neardup_gate(spark, sf_dir, "exact")


def _neardup_oracle(election: bool = False) -> str:
    """The batch dedup_minhash_lsh oracle's CTE chain re-rooted on the staged
    doc_id % 4 == 0 slice. With `election`, its all-pairs cand/est tail is
    replaced by the representative election: per (band, mh) bucket the
    representative is MIN(doc_id), pairs are (rep, member)."""
    # lazy import keeps gate.py importable without the dedup module loaded
    from templatedb_spark.operators.dedup import _MINHASH_CTES, _MINHASH_MATCH_MIN

    ctes = _MINHASH_CTES.replace("FROM documents", "FROM docs_slice")
    if election:
        head, _, _ = ctes.partition("cand AS")  # keep sh/hs/perms/sig
        ctes = head + """rep AS (SELECT i, mh, MIN(doc_id) AS rep_doc FROM sig GROUP BY i, mh),
cand AS (SELECT DISTINCT r.rep_doc AS doc_a, s.doc_id AS doc_b
         FROM sig s JOIN rep r ON s.i = r.i AND s.mh = r.mh AND s.doc_id > r.rep_doc),
est AS (SELECT c.doc_a, c.doc_b,
               SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS matches
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.doc_a
        JOIN sig sb ON sb.doc_id = c.doc_b AND sa.i = sb.i
        GROUP BY 1, 2)"""
    return f"""
WITH docs_slice AS (
  SELECT * FROM documents WHERE doc_id % {_NEARDUP_SLICE_MOD} = 0
),
{ctes}
SELECT doc_a, doc_b, matches::BIGINT AS matches
FROM est WHERE matches >= {_MINHASH_MATCH_MIN}
"""


register(
    QuerySpec(
        "stream_neardup_pairs",
        stream_neardup_pairs_gate,
        _neardup_oracle(),
        "streaming minhash near-dup (per-band applyInPandasWithState, 2 micro-batches, cross-batch band state) vs batch banded-join oracle",
    )
)


# ---------------------------------------------------------------------------
# The BOUNDED-STATE production mode of the streaming near-dup operator —
# representative election (mode="representatives"). Each band bucket keeps
# exactly ONE resident (the first arrival — semantic_dedup's earliest-wins
# election applied online); later arrivals are scored against the
# representative only and never enter state, so per-band state grows with
# DISTINCT buckets, not docs. Determinism argument: the stage is
# doc_id-ordered across AND within micro-batches (the operator sorts
# arrivals per group), so a bucket's representative is provably its MIN
# doc_id — exactly what the oracle elects in SQL. The emitted pair set is
# therefore {(rep, d): d in bucket, matches(sig_rep, sig_d) >= 8} DISTINCT.
# The same 2-batch staging as the exact twin keeps the cross-batch proof:
# at sf0.01 the mode's one emitted pair is (120, 332) with the stage split
# at doc_id 248|252 — rep 120 is elected in batch 1, its match arrives in
# batch 2.
# ---------------------------------------------------------------------------
def stream_neardup_reps_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _neardup_gate(spark, sf_dir, "representatives")


register(
    QuerySpec(
        "stream_neardup_reps",
        stream_neardup_reps_gate,
        _neardup_oracle(election=True),
        "bounded-state streaming near-dup (representative election, 1 resident/bucket, 2 micro-batches) vs batch earliest-wins election oracle",
    )
)


# ---------------------------------------------------------------------------
# The two KV compaction chains. The CDC feed is written as THREE
# disjoint-key atomic versions (key % 3 routing — each key's full history
# lands in one version, so the multi-version merge is exact regardless of
# apply order), then compact_range("145", "155") collapses the in-range
# keys' history into one base while out-of-range keys keep theirs.
#
# kv_compact_range_state: the merged state after a keyed-subrange
# compaction equals the whole-feed net-effect compaction — the SAME oracle
# as the streaming CDC gate. Any compact_range bug (key leaking across the
# range boundary, tombstone resurrection, lost out-of-range history,
# manifest mis-publish) hash-mismatches.
#
# kv_range_layout_scan: the same feed on layout="range" — every version is
# written as key-sorted, range-disjoint buckets whose smallest/largest are
# recorded in the manifest (the LSM's sorted SSTable run + FileMetaData,
# reference: src/storage_engine/src/sstable/table_builder.rs,
# src/storage_engine/src/manager/version_edit.rs), so BOTH the compaction and
# the final range scan prune at bucket granularity. The scan window
# (142..152) straddles the compaction boundary (145): its result merges the
# in-range compacted base, rewritten out-of-range history, AND
# hardlink-cloned untouched buckets — a pruning bug on any of the three
# hash-mismatches.
# ---------------------------------------------------------------------------
def _compacted_kv(spark: SparkSession, sf_dir: str, layout: str):
    from templatedb_spark.kv import KVTable
    from templatedb_spark.streaming.cdc import (
        changes_from_events,
        compact_net_effect,
        kv_value_col,
    )
    from templatedb_spark.suite import table

    kv = KVTable(spark, result_dir(f"{layout}_kv_"), layout=layout)
    feed = changes_from_events(table(spark, sf_dir, "events"))
    # Per-key compaction commutes with disjoint-key routing, so the whole-feed
    # net effect is computed ONCE and cached; the three versions each read
    # the (one row per key) cached relation instead of re-windowing the feed.
    net_all = compact_net_effect(feed).select(
        "key",
        F.when(F.col("event_type") != "error", kv_value_col()).alias("value"),
        F.when(F.col("event_type") == "error", F.lit("del"))
        .otherwise(F.lit("put"))
        .alias("op"),
    ).cache()
    try:
        # count() materializes the cache AND gives the exact per-version row
        # count, so each version writes at a width matched to its size
        # (kv._write_version_df n_rows_hint); the disjoint-key versions'
        # write jobs run concurrently (kv.write_batches_df) — wall = the
        # slowest write instead of the sum of three commit latencies
        per_version = (net_all.count() + 2) // 3
        kv.write_batches_df(
            [
                net_all.filter(F.col("key") % 3 == i).select(
                    F.col("key").cast("string").alias("key"), "value", "op"
                )
                for i in range(3)
            ],
            n_rows_hint=per_version,
        )
    finally:
        net_all.unpersist()
    kv.compact_range("145", "155")  # lexicographic: keys 1450-1549
    return kv


def kv_compact_range_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _kv_state(_compacted_kv(spark, sf_dir, "hash").snapshot())


register(
    QuerySpec(
        "kv_compact_range_state",
        kv_compact_range_state,
        _STREAM_CDC_ORACLE,
        "keyed-subrange compaction under the oracle: 3 disjoint-key KV versions, compact_range over a key subrange, state == whole-feed net-effect compaction",
    )
)


def kv_range_layout_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    kv = _compacted_kv(spark, sf_dir, "range")
    return _kv_state(kv.scan(start="142", end="152"))  # straddles the 1450 boundary


# the CDC net-effect state restricted to the scan window
_KV_RANGE_SCAN_ORACLE = (
    _STREAM_CDC_ORACLE + "  AND key::VARCHAR >= '142' AND key::VARCHAR < '152'\n"
)

register(
    QuerySpec(
        "kv_range_layout_scan",
        kv_range_layout_scan,
        _KV_RANGE_SCAN_ORACLE,
        "range-layout KV: sorted range-disjoint buckets + manifest key ranges; subrange compaction then a bucket-pruned scan straddling the compaction boundary == net-effect state restricted to the scan range",
    )
)


# ---------------------------------------------------------------------------
# Bounded-state streaming EXACT dedup on ingest — Spark's native
# dropDuplicatesWithinWatermark (streaming/ingest.py), whose state is bounded
# by the watermark horizon instead of the corpus. The synthetic corpus has
# no exact twins, so the stager deterministically injects them: every
# doc_id % 50 == 0 gains a verbatim clone (+10000) and every doc_id % 70 == 0
# a whitespace variant (+20000, ' ' -> '  ' — same fingerprint after
# normalization, which puts the Spark-vs-DuckDB normalization parity itself
# under the gate). Batch routing is by rank within fingerprint group (i-th
# copy -> micro-batch i), so EVERY duplicate pair straddles a micro-batch
# boundary by construction. The oracle reconstructs the same augmented
# corpus in SQL and elects min(doc_id) per fingerprint; any admitted
# duplicate is a row-count mismatch, any wrong survivor a hash mismatch.
# ---------------------------------------------------------------------------
def _stage_ingest(sf_dir: str, out_dir: str, n_batches: int = 2) -> None:
    """Augment documents with the dup tiers and stage each fingerprint's
    i-th copy into micro-batch i (the normalization here only decides
    ROUTING; the audited fingerprint parity is Spark-vs-DuckDB)."""
    import pandas as pd
    import pyarrow as pa

    df = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
    ).to_pandas()
    clones = df[df.doc_id % 50 == 0].copy()
    clones["doc_id"] += 10_000
    ws = df[df.doc_id % 70 == 0].copy()
    ws["doc_id"] += 20_000
    ws["text"] = ws["text"].str.replace(" ", "  ", regex=False)
    aug = (
        pd.concat([df, clones, ws], ignore_index=True)
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    norm = aug["text"].str.lower().str.replace(r"\s+", " ", regex=True)
    aug["batch_idx"] = aug.groupby(norm).cumcount().clip(upper=n_batches - 1)
    write_parts(
        [
            pa.Table.from_pandas(
                aug[aug.batch_idx == i][["doc_id", "text", "batch_idx"]],
                preserve_index=False,
            )
            for i in range(n_batches)
        ],
        out_dir,
    )


def stream_dedup_ingest_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from templatedb_spark.streaming.ingest import stream_dedup_ingest
    from templatedb_spark.streaming.neardup import read_documents_stream

    with drain(spark, "ingest", "jvm_state", lambda out: _stage_ingest(sf_dir, out)) as d:
        # dropDuplicatesWithinWatermark emits every FIRST-SEEN row eagerly in
        # its data batch; the trailing no-data batch only evicts state this
        # one-shot drain discards (~0.2 s of a ~1.1 s drain, r11) — same
        # argument as the interval-join gate; sink rows unchanged
        d.session.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
        return d.run(stream_dedup_ingest(read_documents_stream(d.session, d.stage)))


_INGEST_DEDUP_ORACLE = r"""
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000, text FROM documents WHERE doc_id % 50 = 0
  UNION ALL
  SELECT doc_id + 20000, replace(text, ' ', '  ') FROM documents WHERE doc_id % 70 = 0
)
SELECT MIN(doc_id)::BIGINT AS doc_id,
       md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint
FROM aug GROUP BY 2
"""

register(
    QuerySpec(
        "stream_dedup_ingest",
        stream_dedup_ingest_gate,
        _INGEST_DEDUP_ORACLE,
        "bounded-state streaming exact dedup on ingest (native dropDuplicatesWithinWatermark, 2 micro-batches, every fingerprint has at least one cross-boundary dup pair; triple-copy fingerprints place copies 2 and 3 within one batch) vs batch min-doc_id election oracle",
    )
)


# ---------------------------------------------------------------------------
# WATERMARKED EVENT-TIME WINDOW AGGREGATION with a provably dropped late
# row — the canonical append-mode tumbling window. Two contracts are under
# the oracle at once:
#
#   1. **Append-mode emission**: a window is emitted exactly once, when the
#      watermark passes its end. After the availableNow drain the final
#      watermark is max(ts) - 10min, so the sink holds precisely the windows
#      with window_end <= max(ts) - 10min. The oracle applies the same cutoff
#      in SQL. (Boundary safety: verified at sf0.001/0.01/0.1/sf1 that no
#      hour-aligned window end coincides with the cutoff instant, so <= vs <
#      eviction semantics cannot flip a window across engines.)
#   2. **Late-data drop**: the stager moves the globally EARLIEST event (min
#      (ts, event_id)) from micro-batch 1 to the END of micro-batch 3. When
#      batch 3 runs, the watermark is already maxTs(batches 1-2) - 10min —
#      ~20 days past that row's window — so the row MUST be discarded. The
#      oracle excludes exactly that one row; an engine that fails to drop it
#      (or drops anything else) hash-mismatches on that window's aggregates.
#
# Aggregates are integer-exact (count, sum(user_id), min/max(event_id)) so
# the comparison is bit-deterministic regardless of partition order. The
# batch twin is `events_rollup`.
# ---------------------------------------------------------------------------
def _stage_late(sf_dir: str, out_dir: str, n_batches: int = 3) -> None:
    """ts-ordered split of events, with the globally earliest row moved from
    batch 1 to the tail of the last batch — the deterministic late straggler.

    3 batches, NOT the 2-trigger default: the watermark used to filter batch
    k's input is computed from stats through batch k-2 (a straggler at the
    tail of batch 1 of 2 SURVIVES), so the provably-dropped straggler needs
    at least 3 batches: wm(batch 2) = max_ts(batch 0) - 10min."""
    import pyarrow as pa

    t = pq.read_table(f"{sf_dir}/events.parquet")
    t = t.take(pc.sort_indices(t, sort_keys=[(c, "ascending") for c in _EVENT_ORDER]))
    late, rest = t.slice(0, 1), t.slice(1)
    step = (rest.num_rows + n_batches - 1) // n_batches
    parts = [rest.slice(i * step, step) for i in range(n_batches)]
    parts[-1] = pa.concat_tables([parts[-1], late])
    write_parts(parts, out_dir)


def stream_window_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    from templatedb_spark.streaming.events import read_events_stream, windowed_exact_rollup

    with drain(spark, "winlate", "jvm_state", lambda out: _stage_late(sf_dir, out)) as d:
        return d.run(windowed_exact_rollup(read_events_stream(d.session, d.stage)))


_STREAM_WINDOW_LATE_ORACLE = """
WITH ordered AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY ts ASC, event_id ASC) AS rn FROM events
),
kept AS (SELECT * FROM ordered WHERE rn > 1),
mx AS (SELECT MAX(ts) AS mxts FROM events)
SELECT STRFTIME(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*)::BIGINT AS n_events,
       SUM(user_id)::BIGINT AS sum_uid,
       MIN(event_id)::BIGINT AS min_eid,
       MAX(event_id)::BIGINT AS max_eid
FROM kept, mx
WHERE time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR <= mxts - INTERVAL 10 MINUTE
GROUP BY 1, 2
"""

register(
    QuerySpec(
        "stream_window_late",
        stream_window_late,
        _STREAM_WINDOW_LATE_ORACLE,
        "append-mode watermarked tumbling-window agg (3 micro-batches — watermark stats lag 2 batches, so the provably-dropped straggler needs batch index 2) vs batch closed-window oracle",
    )
)


# ---------------------------------------------------------------------------
# STREAM-STATIC broadcast enrichment — the third join shape Structured
# Streaming supports: every micro-batch of the event stream joins a STATIC
# dimension (customer) that Spark re-resolves and broadcasts per trigger.
# The dim is small and broadcast, the stream never shuffles on the join key,
# and no join state accumulates (matches are complete within each
# micro-batch by definition). The drained rows are rolled up as BATCH per
# (mktsegment, event_type); the oracle is the same inner join + rollup over
# the whole feed. A divergence in per-batch dim resolution, join semantics,
# or row loss across triggers is a count/hash mismatch.
# ---------------------------------------------------------------------------
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from templatedb_spark.streaming.events import read_events_stream
    from templatedb_spark.suite import table

    # parquet FILE sink, not memory: enriched rows are corpus-sized (1:1 with
    # the stream), so the sink must stay off the driver — the memory sink
    # OOMed the sf10 engine probe at 10M rows. The rollup then reads the
    # committed files as batch.
    sink = result_dir("enrich_sink_")
    with drain(spark, "enrich", "jvm_state", _stage_events(sf_dir)) as d:
        # the static dim must come from the SAME session as the stream side
        dim = F.broadcast(
            table(d.session, sf_dir, "customer").select(
                F.col("c_custkey").alias("user_id"), "c_mktsegment", "c_nationkey"
            )
        )
        enriched = (
            read_events_stream(d.session, d.stage)
            .join(dim, "user_id")  # stream-static inner join, broadcast per trigger
            .select("event_id", "user_id", "event_type", "c_mktsegment", "c_nationkey")
        )
        d.run(enriched, "parquet", path=sink)
    return (
        spark.read.parquet(sink)
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.sum("c_nationkey").cast("long").alias("sum_nation"),
            F.min("event_id").cast("long").alias("min_eid"),
            F.max("event_id").cast("long").alias("max_eid"),
        )
    )


_STREAM_ENRICH_ORACLE = """
SELECT c.c_mktsegment, e.event_type,
       COUNT(*)::BIGINT AS n_events,
       COUNT(DISTINCT e.user_id)::BIGINT AS n_users,
       SUM(c.c_nationkey)::BIGINT AS sum_nation,
       MIN(e.event_id)::BIGINT AS min_eid,
       MAX(e.event_id)::BIGINT AS max_eid
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""

register(
    QuerySpec(
        "stream_static_enrich",
        stream_static_enrich,
        _STREAM_ENRICH_ORACLE,
        "stream-static broadcast enrichment (2 micro-batches, dim re-broadcast per trigger, no join state) vs batch inner-join rollup oracle",
    )
)


# ---------------------------------------------------------------------------
# MERGEABLE-SKETCH STREAMING STATE — the deterministic HyperLogLog register
# vector maintained across micro-batches: a BOUNDED commutative monoid (64
# registers merged by elementwise max). Each micro-batch computes its
# partial register vector distributed (the same hll_partial_registers the
# batch spec uses), and foreachBatch folds it into a KV-persisted vector
# under an exactly-once batch tag. Because max-merge is associative and
# commutative and the register derivation is md5-deterministic, the drained
# vector must be BIT-IDENTICAL to the batch spec's — so the oracle is the
# batch HLL oracle itself. A wrong merge, a lost batch, or a double-applied
# replay flips the registers_fp hash. Driver state is 64 longs per trigger.
# ---------------------------------------------------------------------------
def _hll_apply(spark, kv, cache: dict, qname: str, batch_df, batch_id: int) -> None:
    """Per-trigger HLL max-merge into KV under an exactly-once tag — the
    committed-state cache re-reads the KV only on (re)start; the tag check
    FIRST keeps a replayed batch from touching the cache. Module-level so
    the replay fuzz (tests/test_streaming_replay_fuzz.py) drives the exact
    sink code the gate runs."""
    from templatedb_spark.operators.textstats import hll_partial_registers

    if kv.has_tag(f"{qname}:b{batch_id}"):
        return  # replayed batch: already committed, cache untouched
    u = batch_df.select(F.col("user_id").cast("string").alias("u"))
    partial = {r.reg: r.m for r in hll_partial_registers(u).collect()}
    if not partial:
        return
    if cache["cur"] is None:
        cache["cur"] = {int(r.key): int(r.value) for r in kv.snapshot().collect()}
    cur = cache["cur"]
    bumps = {reg: m for reg, m in partial.items() if m > cur.get(reg, -1)}
    if not bumps:
        return
    rows = [(f"{reg:02d}", str(m), "put") for reg, m in sorted(bumps.items())]
    from templatedb_spark.kv import local_df

    kv.write_batch_df(
        local_df(spark, rows, "key string, value string, op string"),
        tag=f"{qname}:b{batch_id}",
        n_rows_hint=len(rows),
    )
    cur.update(bumps)


def stream_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from templatedb_spark.kv import KVTable
    from templatedb_spark.operators.textstats import hll_fill_registers, hll_finalize
    from templatedb_spark.streaming.events import read_events_stream
    from templatedb_spark.suite import table

    kv = KVTable(spark, result_dir("hll_kv_"))
    cache: dict = {"cur": None}  # committed-state cache: see _hll_apply
    # 2 triggers = the semantic minimum for a cross-batch merge (batch 1
    # max-merges into batch 0's committed registers)
    with drain(spark, "hll", "jvm_state", _stage_events(sf_dir, 2)) as d:
        d.run(
            read_events_stream(d.session, d.stage),
            lambda bdf, bid: _hll_apply(spark, kv, cache, d.name, bdf, bid),
        )
    regs = kv.snapshot().select(
        F.col("key").cast("long").alias("reg"),
        F.col("value").cast("long").alias("m"),
    )
    truth = (
        table(spark, sf_dir, "events")
        .agg(F.countDistinct("user_id").cast("long").alias("n_true"))
    )
    return hll_finalize(hll_fill_registers(spark, regs), truth)


def _stream_hll_oracle() -> str:
    from templatedb_spark.operators.textstats import _hll_oracle

    return _hll_oracle()


register(
    QuerySpec(
        "stream_hll_users",
        stream_hll_users,
        _stream_hll_oracle(),
        "mergeable-sketch streaming state: per-micro-batch HLL partial registers max-merged into KV under exactly-once tags vs the batch sketch oracle (bit-identical registers_fp)",
    )
)


# ---------------------------------------------------------------------------
# COUNTER-SKETCH STREAMING STATE (Count-Min over the document token stream),
# the companion to stream_hll_users with the opposite algebra: HLL registers
# merge by MAX (idempotent — a replayed merge is harmless), CMS cells merge
# by SUM (NOT idempotent — a replayed micro-batch double-counts and corrupts
# every estimate). So this gate is the end-to-end proof that the KV's
# exactly-once batch tags are load-bearing: each of 2 micro-batches sums its
# 4x8-cell partial sketch into the KV under a (query, batch_id) tag, then
# the top-20 heavy hitters are estimated from the merged sketch. The oracle
# is the batch CMS oracle verbatim. Driver state per trigger: 32 cells.
# ---------------------------------------------------------------------------
def _cms_cell_structs():
    from templatedb_spark.functions.hashing import h32
    from templatedb_spark.operators.textstats import _CMS_D, _CMS_W

    return F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                (h32(F.concat(F.lit(f"cms{j}:"), F.col("tok"))) % _CMS_W).alias(
                    "b"
                ),
            )
            for j in range(_CMS_D)
        ]
    )


def _cms_apply(spark, kv, cache: dict, qname: str, batch_df, batch_id: int) -> None:
    """Per-trigger CMS SUM-merge into KV under an exactly-once tag. On this
    SUM monoid a replayed batch that touched the cache would double-count —
    the tag check FIRST is what correctness rests on. Module-level so the
    replay fuzz drives the exact sink code the gate runs."""
    from templatedb_spark.operators.dedup import tokens_col

    if kv.has_tag(f"{qname}:b{batch_id}"):
        return  # replayed batch: already committed, cache untouched
    # tf FIRST, cells second: aggregating to term frequencies before the
    # d-way cell explode keeps the explode at vocab size instead of
    # token-instance size (at sf10 that is ~thousands of rows ×4 vs
    # ~20M instances ×4 per batch — the same order the batch spec uses)
    tf_b = (
        batch_df.select(F.explode(tokens_col(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    cells = (
        tf_b.select("n", F.explode(_cms_cell_structs()).alias("jb"))
        .groupBy(F.col("jb.j").alias("j"), F.col("jb.b").alias("b"))
        .agg(F.sum("n").cast("long").alias("cnt"))
    )
    partial = {(r.j, r.b): r.cnt for r in cells.collect()}  # <= d*w rows
    if not partial:
        return
    if cache["cur"] is None:  # <= d*w rows, once per (re)start
        cache["cur"] = {r.key: int(r.value) for r in kv.snapshot().collect()}
    cur = cache["cur"]
    merged = {
        f"{j}:{b:03d}": cur.get(f"{j}:{b:03d}", 0) + cnt
        for (j, b), cnt in sorted(partial.items())
    }
    from templatedb_spark.kv import local_df

    kv.write_batch_df(
        local_df(
            spark,
            [(k, str(v), "put") for k, v in merged.items()],
            "key string, value string, op string",
        ),
        tag=f"{qname}:b{batch_id}",  # SUM-merge: the tag IS correctness
        n_rows_hint=len(merged),
    )
    cur.update(merged)


def stream_cms_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from templatedb_spark.kv import KVTable
    from templatedb_spark.operators.dedup import tokenized
    from templatedb_spark.operators.textstats import _CMS_K
    from templatedb_spark.streaming.neardup import read_documents_stream

    kv = KVTable(spark, result_dir("cms_kv_"))
    cache: dict = {"cur": None}  # committed-state cache: see _cms_apply

    def stage(out: str) -> None:  # the full corpus, doc_id-ordered
        docs = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
        stage_slices(docs, out, 2, ["doc_id"])

    # 2 triggers: minimum that proves the SUM-merge reads committed state
    # (and that a replayed tag cannot double-count)
    with drain(spark, "cms", "jvm_state", stage) as d:
        d.run(
            read_documents_stream(d.session, d.stage),
            lambda bdf, bid: _cms_apply(spark, kv, cache, d.name, bdf, bid),
        )
    sketch = kv.snapshot().select(
        F.split(F.col("key"), ":").getItem(0).cast("int").alias("j"),
        F.split(F.col("key"), ":").getItem(1).cast("int").alias("b"),
        F.col("value").cast("long").alias("cnt"),
    )
    # candidate selection is the exact top-K over the full corpus (same as
    # the batch spec) — the streamed, audited artifact is the sketch itself.
    # Reuse the suite-wide CACHED tokenized relation (operators/dedup) so
    # this pass costs a cache read, not a third full-corpus tokenization.
    tok = tokenized(spark, sf_dir).select(F.explode("t").alias("tok"))
    tf = tok.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("n"))
    cand = tf.orderBy(F.col("n").desc(), F.col("tok").asc()).limit(_CMS_K)
    cand_b = cand.select(
        F.col("tok").alias("ctok"),
        F.col("n").alias("true_n"),
        F.explode(_cms_cell_structs()).alias("jb"),
    ).select("ctok", "true_n", F.col("jb.j").alias("j"), F.col("jb.b").alias("b"))
    est = (
        cand_b.join(F.broadcast(sketch), ["j", "b"])
        .groupBy("ctok", "true_n")
        .agg(F.min("cnt").cast("long").alias("cms_n"))
    )
    return est.select(
        F.col("ctok").alias("tok"),
        "true_n",
        "cms_n",
        (F.col("cms_n") - F.col("true_n")).cast("long").alias("overestimate"),
    )


def _stream_cms_oracle() -> str:
    from templatedb_spark.operators.textstats import _cms_oracle

    return _cms_oracle()


register(
    QuerySpec(
        "stream_cms_tokens",
        stream_cms_tokens,
        _stream_cms_oracle(),
        "counter-sketch streaming state: per-micro-batch Count-Min partials SUM-merged into KV under exactly-once tags (non-idempotent monoid - the tag IS correctness) vs the batch CMS oracle",
    )
)


# ---------------------------------------------------------------------------
# STREAMING MATERIALIZED JOIN VIEW. A materialized rollup over orders JOIN
# customer is maintained INCREMENTALLY from an order stream: each
# micro-batch dA contributes dA ⋈ B (B static, broadcast per trigger — no
# stream shuffle, no join state), the delta rollup SUM-merges into the
# KV-persisted view state under an exactly-once batch tag, and the final
# state must equal the full-recompute oracle (the same SQL as the batch
# mv_join_delta spec). A replayed or lost batch, a wrong delta term, or a
# float-unsafe merge all flip the hash. Money sums are exact: per-batch
# rollups are DECIMAL(12,2), the merge accumulates in Python Decimal, and
# only the final output casts to DOUBLE. Driver state per trigger is
# O(view group cardinality) (15 rows here); a view keyed wider than the
# driver uses the fully distributed merge of stream_mv_join_wide below.
# ---------------------------------------------------------------------------
def _stage_orders(sf_dir: str):
    """Stager: orders as 2 o_orderkey-ordered micro-batches (the arriving
    fact deltas). 2 triggers: the cross-batch delta merge is proven by batch
    1 summing into batch 0's committed view."""
    return lambda out: stage_slices(
        pq.read_table(f"{sf_dir}/orders.parquet"), out, 2, ["o_orderkey"]
    )


def _mv_view(kv, key2: str, key2_type: str) -> DataFrame:
    """The view's KV rows `c_mktsegment|key2 -> n|revenue` as output columns."""
    parts = F.split(F.col("key"), r"\|", 2)
    vals = F.split(F.col("value"), r"\|", 2)
    return kv.snapshot().select(
        parts.getItem(0).alias("c_mktsegment"),
        parts.getItem(1).cast(key2_type).alias(key2),
        vals.getItem(0).cast("long").alias("n_orders"),
        vals.getItem(1).cast("decimal(38,2)").cast("double").alias("revenue"),
    )


def stream_mv_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from decimal import Decimal

    from templatedb_spark.kv import KVTable, local_df
    from templatedb_spark.suite import table

    kv = KVTable(spark, result_dir("mvj_kv_"))
    dim = F.broadcast(
        table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    # committed-state cache (see the HLL/CMS gates): KV re-read only on
    # (re)start; tag check first so a replay can never reach the cache
    cache: dict = {"cur": None}

    def apply_batch(batch_df, batch_id: int, qname: str) -> None:
        if kv.has_tag(f"{qname}:b{batch_id}"):
            return  # replayed batch: already committed, cache untouched
        delta = (
            batch_df.join(dim, batch_df.o_custkey == dim.c_custkey)
            .groupBy("c_mktsegment", "o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias("rev"),
            )
        )
        part = {
            (r.c_mktsegment, r.o_orderstatus): (r.n, Decimal(str(r.rev)))
            for r in delta.collect()  # bounded by the view's group count
        }
        if not part:
            return
        if cache["cur"] is None:  # bounded by the view's group count
            cache["cur"] = {}
            for r in kv.snapshot().collect():
                n_s, rev_s = r.value.split("|", 1)
                cache["cur"][tuple(r.key.split("|", 1))] = (int(n_s), Decimal(rev_s))
        cur = cache["cur"]
        rows = []
        for key, (dn, drev) in sorted(part.items()):
            n0, rev0 = cur.get(key, (0, Decimal("0")))
            cur[key] = (n0 + dn, rev0 + drev)
            rows.append((f"{key[0]}|{key[1]}", f"{cur[key][0]}|{cur[key][1]}", "put"))
        kv.write_batch_df(
            local_df(spark, rows, "key string, value string, op string"),
            tag=f"{qname}:b{batch_id}",  # SUM-merge: replay would double-count
            n_rows_hint=len(rows),
        )

    with drain(spark, "mvj", "ambient", _stage_orders(sf_dir)) as d:
        d.run(
            _orders_stream(d.session, sf_dir, d.stage),
            lambda bdf, bid: apply_batch(bdf, bid, d.name),
        )
    return _mv_view(kv, "o_orderstatus", "string")


_STREAM_MV_JOIN_ORACLE = """
SELECT c.c_mktsegment, o.o_orderstatus,
       COUNT(*)::BIGINT AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1, 2
"""

register(
    QuerySpec(
        "stream_mv_join",
        stream_mv_join,
        _STREAM_MV_JOIN_ORACLE,
        "streaming materialized JOIN view: per-trigger dA broadcast-join + DECIMAL-exact delta rollup SUM-merged into KV under exactly-once tags vs full-recompute oracle",
    )
)


# ---------------------------------------------------------------------------
# WIDE-KEY streaming materialized JOIN view — the FULLY DISTRIBUTED merge
# for views keyed wider than the driver. The view is keyed by
# (c_mktsegment, o_custkey) — every customer, not 15 rollup groups — so the
# per-trigger merge must never collect: each micro-batch's delta rollup
# LEFT-JOINs the KV snapshot on the view key (executor-side merge-on-read),
# sums counts as BIGINT and revenue as DECIMAL(38,2), and the merged rows
# flow shuffle→parquet through write_batch_df under an exactly-once batch
# tag. Driver state per trigger: ZERO rows. A replayed batch would
# double-count, so the tag is correctness, not hygiene; and the
# o_orderkey-ordered 2-way split puts nearly every custkey in BOTH batches,
# so a merge that failed to read prior state flips the hash.
# ---------------------------------------------------------------------------
def _mvjw_apply(kv, dim: DataFrame, batch_df: DataFrame, tag: str) -> None:
    """One micro-batch of the wide-key view: broadcast-join the delta, roll it
    up exactly, LEFT-JOIN the pre-batch KV snapshot on the view key, and
    commit the merged rows through the distributed sink under `tag`. No row
    ever touches the driver; a replayed tag is a recognized no-op."""
    if kv.has_tag(tag):
        return  # replayed micro-batch: already committed
    delta = (
        batch_df.join(dim, batch_df.o_custkey == dim.c_custkey)
        .groupBy("c_mktsegment", "o_custkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("dn"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
            .cast("decimal(38,2)")
            .alias("drev"),
        )
    )
    # distributed read-merge: snapshot() resolves its version paths NOW
    # (before this batch's version commits), so the plan below reads
    # exactly the pre-batch state — no self-read window.
    kparts = F.split(F.col("key"), r"\|", 2)
    vparts = F.split(F.col("value"), r"\|", 2)
    cur = kv.snapshot().select(
        kparts.getItem(0).alias("c_mktsegment"),
        kparts.getItem(1).cast("long").alias("o_custkey"),
        vparts.getItem(0).cast("long").alias("n0"),
        vparts.getItem(1).cast("decimal(38,2)").alias("rev0"),
    )
    merged = delta.join(cur, ["c_mktsegment", "o_custkey"], "left").select(
        F.concat_ws("|", "c_mktsegment", "o_custkey").alias("key"),
        F.concat_ws(
            "|",
            (F.coalesce(F.col("n0"), F.lit(0)) + F.col("dn")).cast("string"),
            (
                F.coalesce(F.col("rev0"), F.lit(0).cast("decimal(38,2)"))
                + F.col("drev")
            ).cast("decimal(38,2)").cast("string"),
        ).alias("value"),
        F.lit("put").alias("op"),
    )
    kv.write_batch_df(merged, tag=tag)  # executor-side shuffle→write


def stream_mv_join_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    from templatedb_spark.kv import KVTable
    from templatedb_spark.suite import table

    kv = KVTable(spark, result_dir("mvjw_kv_"))
    with drain(spark, "mvjw", "jvm_state", _stage_orders(sf_dir)) as d:
        # stream + dim + batch plans all live in the state-store-sized clone
        dim = F.broadcast(
            table(d.session, sf_dir, "customer").select("c_custkey", "c_mktsegment")
        )
        d.run(
            _orders_stream(d.session, sf_dir, d.stage),
            lambda bdf, bid: _mvjw_apply(kv, dim, bdf, f"{d.name}:b{bid}"),
        )
    return _mv_view(kv, "o_custkey", "long")


_STREAM_MV_JOIN_WIDE_ORACLE = """
SELECT c.c_mktsegment, o.o_custkey,
       COUNT(*)::BIGINT AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1, 2
"""

register(
    QuerySpec(
        "stream_mv_join_wide",
        stream_mv_join_wide,
        _STREAM_MV_JOIN_WIDE_ORACLE,
        "wide-key streaming materialized JOIN view: per-customer state maintained by a fully distributed per-trigger read-merge (delta LEFT JOIN snapshot -> write_batch_df, zero driver rows) under exactly-once tags",
    )
)
