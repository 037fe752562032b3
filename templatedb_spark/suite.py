"""Query suite registry: every operator from SURVEY.md §2 (plus the LLM-pipeline
extension tier) is declared as a QuerySpec pairing

  - a Spark implementation   (spark, sf_dir) -> DataFrame
  - a DuckDB oracle SQL text (or None for non-SQL-expressible ops)

The driver's correctness gate runs both at sf0.01 and hash-compares values, so the
conventions below are load-bearing:

- **Identical column aliases** on both sides (driver sorts columns by name).
- **Explicit output types**: BIGINT for counts/ints (`.cast("long")` / `::BIGINT`),
  DOUBLE for measures. Money aggregates go through DECIMAL first (exact, order-
  independent — also the right answer at 100 TB where float sum order is
  nondeterministic across partitions) then cast to DOUBLE.
- **Deterministic LIMIT**: every LIMIT is preceded by a total ORDER BY.
- Cross-engine hashes come from functions.hashing (md5-derived, bit-identical).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, None → rows-only check
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(spec: QuerySpec) -> QuerySpec:
    if spec.name in _REGISTRY:
        raise ValueError(f"duplicate query spec: {spec.name}")
    _REGISTRY[spec.name] = spec
    return spec


def _driver_latest_audit() -> dict[str, int]:
    """Latest driver-audit round per spec name.

    The driver's correctness gate checks queries() in dict order and caps the
    number of entries it records per round (round 1 stopped at 50 of 80), so
    registration order decides what gets hard evidence. We read the prior
    rounds' CORRECTNESS_r*.json artifacts and record each spec's LATEST
    audited round; all_specs() then fronts (never-audited, changed-this-
    round, oldest-audit) in that order — the 50/round cap thereby rotates
    the whole ~218-spec registry every ~4 rounds, so no green row's
    evidentiary value decays more than 4 rounds as refactors touch shared
    helpers (VERDICT r7 #2's age-out discipline).
    """
    import json
    import re
    from pathlib import Path

    latest: dict[str, int] = {}
    root = Path(__file__).resolve().parents[1]
    for artifact in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", artifact.name)
        rnd = int(m.group(1)) if m else 0
        try:
            for name in json.loads(artifact.read_text()):
                latest[name] = max(latest.get(name, 0), rnd)
        except Exception:
            continue  # a malformed artifact never breaks spec listing
    return latest


def all_specs() -> dict[str, QuerySpec]:
    # import for side effects: each module registers its specs
    from templatedb_spark.operators import (  # noqa: F401
        relational,
        dedup,
        similarity,
        textstats,
        multimodal,
        analytics,
        collections,
        profiling,
        tpch,
        tpch2,
        pipeline,
        curation,
        scale,
    )
    from templatedb_spark.functions import grouped  # noqa: F401
    from templatedb_spark.sources import pyds  # noqa: F401
    from templatedb_spark.streaming import gate  # noqa: F401

    latest_audit = _driver_latest_audit()
    covered = set(latest_audit)
    # Specs whose semantics, output schema, or oracle changed THIS round:
    # prior-round audit rows no longer vouch for them, so they re-enter the
    # front of the driver's capped audit window as if never covered. Rounds
    # roll: once the driver's artifact for the changing round has recorded
    # them (r5's changed set is fully present in CORRECTNESS_r05.json), the
    # subtraction is retired — keeping it would burn audit slots re-checking
    # rows the changing round already vouched for.
    # (Builder-session churn sets r6..r10 — the rank/graph-oracle, KV-layout,
    # CDC-idempotency, 2-trigger-minimum, and IVF-cap refactors — are all
    # fully recorded in CORRECTNESS_r06/r07.json: retired. Keeping a retired
    # subtraction burns audit slots re-checking rows the changing round
    # already vouched for.)
    # (Driver-round-8 churn — woe_iv_segment, the ANN-oracle funnels, the
    # 3->2 trigger cuts, the _hll/_cms extraction, the cumsum rewrites — is
    # fully recorded in CORRECTNESS_r08.json: retired.)
    # (Driver-round-9 churn — dedup_levenshtein's SymSpell retarget and the
    # KV chains' shared-compaction restructure — is fully recorded in
    # CORRECTNESS_r09.json: retired.)
    # (Driver-round-10 churn — the re-oracled ANN nprobe ladder — is fully
    # recorded in CORRECTNESS_r10.json: retired.)
    # (Round-11 churn — the r10 rewrites that missed the r10 sample,
    # the percentile/LM/KV-write rewrites and the 8 gates moved onto the
    # state-store-sized session — is fully recorded in CORRECTNESS_r11.json:
    # retired.)
    # Current fronting: the drain-harness restructure rewrote the lifecycle
    # (staging, session policy, checkpoint, cleanup) of all 14 gated
    # streaming chains and of pyds_stream_source. Retire once a CORRECTNESS
    # artifact records them.
    changed_now = {
        "stream_cdc_kv_state", "stream_sessionize_closed",
        "stream_interval_join_clicks", "stream_neardup_pairs",
        "stream_neardup_reps", "kv_compact_range_state",
        "kv_range_layout_scan", "stream_dedup_ingest", "stream_window_late",
        "stream_static_enrich", "stream_hll_users", "stream_cms_tokens",
        "stream_mv_join", "stream_mv_join_wide", "pyds_stream_source",
    }
    covered -= changed_now
    # Front order (VERDICT r7 #2): never-audited / changed-this-round specs
    # first (covered-subtractions above put changed specs back in this tier),
    # then covered specs by OLDEST latest-audit round — so the driver's
    # 50/round cap re-audits the stalest evidence each round and the whole
    # registry rotates every ~ceil(218/50) = 5 rounds. Registration order
    # breaks ties (python sort is stable). (The round-2 "never audited"
    # priority list is retired — all eleven have driver rows; age-based
    # rotation now covers that concern generally.)
    ordered = sorted(
        _REGISTRY.items(),
        key=lambda kv: (
            kv[0] in covered,
            latest_audit.get(kv[0], 0) if kv[0] in covered else 0,
        ),
    )
    return dict(ordered)


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to a session-timezone TIMESTAMP.

    The driver has shipped the column as both TIMESTAMP(NANOS) (read as long
    under spark.sql.legacy.parquet.nanosAsLong) and plain TIMESTAMP(MICROS)
    (read natively as TIMESTAMP_NTZ), so adapt on the observed type.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    if isinstance(df.schema["ts"].dataType, LongType):
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def fused_topk(df: DataFrame, order, k: int, rank_col: str) -> DataFrame:
    """Distributed deterministic top-k with rank numbers 1..k.

    `row_number() OVER (ORDER BY ...)` with no PARTITION BY is the classic
    scale-killer: Spark executes the unpartitioned window as a full global
    sort into ONE task, so the whole scored relation (billions of rows at
    100 TB) funnels through a single executor. Instead: `orderBy(...).
    limit(k)` first — Catalyst fuses that to TakeOrderedAndProject
    (per-partition size-k heaps, then a k·numPartitions merge) — and only
    then number the ≤k survivors with the window. `order` must be a TOTAL
    order (include a tiebreaker column) so the prefilter keeps exactly the
    rows the window would rank 1..k; with that, results are bit-identical
    to the naive global window and the oracles stay unchanged.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    order = list(order)
    pruned = df.orderBy(*order).limit(k)
    return pruned.withColumn(
        rank_col, F.row_number().over(Window.orderBy(*order)).cast("long")
    )


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Spread a narrow scan across the cluster before CPU-heavy per-row work.

    The shipped parquet inputs are single-row-group files, so Spark's file
    splitting yields ONE scan task no matter how small maxPartitionBytes is —
    and every expensive per-row derivation (tokenize+shingle explode, edit-
    distance variant expansion, vector kernels) serializes on one core
    (measured r10: dedup_levenshtein's keygen stage = 3.3 s of CPU in 1 task
    on local[32]). Round-robin repartition to the session's default
    parallelism is the guide §2.5 fix ("input skew: one huge unsplittable
    file — repartition immediately after the read"): the shuffled bytes are
    the small base rows, paid once, and the heavy map work downstream fans
    out. Scale-adaptive: when the source already has >= defaultParallelism
    partitions (any real-scale table), this is a NO-OP — it never shrinks
    and never reshuffles an already-parallel scan.
    """
    sc = df.sparkSession.sparkContext
    n = min_partitions or sc.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


def input_bytes(sf_dir: str, table_name: str) -> int:
    """Physical byte size of a table's backing parquet, file OR directory.

    The scale-tier guards (distributed percentiles, pareto sweep, ANN
    kernel) key off this size. At real scale Spark tables are parquet
    DIRECTORIES whose own stat().st_size is ~4 KB — a bare stat() would
    classify a huge table as 'small' and take exactly the one-task-per-group
    plan the guard exists to avoid (ADVICE r10, medium). Directories sum
    their member files; an unreadable path is assumed to be at scale."""
    from pathlib import Path

    p = Path(sf_dir.rstrip("/"), f"{table_name}.parquet")
    try:
        if p.is_dir():
            return sum(f.stat().st_size for f in p.rglob("*") if f.is_file())
        return p.stat().st_size
    except OSError:
        return 1 << 60  # unknown layout → assume scale


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # Tolerate TIMESTAMP(NANOS) variants of the file (see normalize_events_ts).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalize_events_ts(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
