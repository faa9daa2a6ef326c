"""Declared queries — Part B9: Structured Streaming (SURVEY.md §2 B9,
§7 Phase 4).

Each query replays the events table through a file-source stream
(streaming/replay.py) and runs to a bounded final state with
Trigger.AvailableNow. Because the replay is bounded, the final state
equals the batch answer — so these streaming queries get REAL DuckDB
oracles (the batch-equivalent SQL), not just rows-only checks. That is
the Structured Streaming correctness argument (prefix-integrity,
SIGMOD'18 — PAPERS.md) turned into a test.

Reference mapping: tumbling hourly ≙ D3 hourly sorted sets
(update-contributor-scores.js:28-30,131); streaming dedup ≙ the Lua
dedup log with its 300 s TTL (insert-events-into-db.lua:36-39);
foreachBatch sink ≙ the batched pipeline writes (:137-144); checkpoint
restart ≙ the hour-exists idempotence scan (:195-204).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.timeutil import ts_string
from ..scratch import scratch_dir
from ..sources.tables import load_table
from ..streaming.replay import (
    events_replay_dir,
    events_replay_dir_by_type,
    events_replay_dir_with_dupes,
    read_event_stream,
    run_bounded,
    run_foreach_batch_to_parquet,
    run_until_input_rows,
)
from .catalog import query

_TS_FMT_SQL = "'%Y-%m-%d %H:%M:%S.%f'"
_HOUR_SQL = "strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')"


@query(
    "stream_tumbling_hourly",
    oracle=f"""
    SELECT {_HOUR_SQL} AS hour_start, user_id, count(*) AS cnt
    FROM events GROUP BY 1, 2
    """,
    tags=("streaming", "partB9"),
)
def stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 as a stream: tumbling 1-hour event-time windows × user —
    the hourly contributor scores, incrementally maintained by the
    micro-batch engine instead of per-record ZINCRBY.

    Deliberately NO watermark: complete output mode retains all window
    state and the docs define watermarks as having no effect there, so
    a watermark would be dead config — and its bookkeeping (plus the
    trailing watermark-advancing no-data batch) measurably taxes the
    bounded replay. The watermark-driven append-mode semantics (late
    drop, state eviction, closed-window emission) are covered by
    stream_sliding_late / stream_session_window / stream_dedup_
    watermark and the late-data pytest.

    shuffle_partitions=16, not run_bounded's small-state default of 4:
    this aggregation's state is one row per (hour, user) — ~95k keys at
    sf0.1, the LARGEST state of the replay demos — so the per-partition
    state-store fixed cost is already amortized and parallelism wins
    (measured ~1.5 s at 4 → ~1.0 s at 16; 32 regresses to ~1.5 s as
    store-commit overhead takes back over). The general rule the
    run_bounded docstring states — size partitions to state volume —
    applied, not overridden."""
    src = events_replay_dir(spark, sf_dir)
    ev = read_event_stream(spark, src)
    # Projection INSIDE the streaming plan: the complete-mode memory
    # sink materializes every output row on the driver, and a
    # formatted-string hour is one flat column where the window struct
    # is two nested timestamps — projecting before the sink shrinks
    # what the driver holds and re-serves (measured ~1.35 s → ~1.05 s
    # at sf0.1's ~95k result rows).
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "hour_start"
            ),
            "user_id",
            "cnt",
        )
    )
    return run_bounded(
        agg, "complete", "tumbling_hourly", shuffle_partitions=16
    )


@query(
    "stream_rate_source",
    oracle="""
    SELECT CAST(r.range % 10 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(r.range) AS BIGINT) AS total
    FROM range(0, 5000) r GROUP BY 1
    """,
    tags=("streaming", "partB1"),
)
def stream_rate_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1 rate streaming source — the Spark-native analog of the
    reference's synthetic polling ingest loop (insert-events.js:8-34),
    which fabricates a steady event stream against no upstream.

    Uses ``rate-micro-batch`` (not ``rate``): it emits a fixed
    `rowsPerBatch` with deterministic monotonically-increasing values
    per micro-batch regardless of wall clock, so a bounded run is
    reproducible. The demo consumes exactly the first 5 000 values —
    two micro-batches (the `value < 5000` filter makes later batches
    no-ops) — and aggregates
    them into 10 modulo buckets under complete mode, and stops once the
    engine's progress telemetry reports both tracked batches committed —
    the oracle is the same aggregate over ``range(0, 5000)``. The
    source itself is unbounded; boundedness is imposed by the filter +
    stop condition (run_until_input_rows — the engine's own progress
    telemetry, not wall-clock sink polling: batches 0+1 carry exactly
    the 5 000 tracked values at 2 500 rowsPerBatch, so the
    complete-mode sink is final once reported input reaches n_total),
    which is how any rate-based soak test terminates."""
    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 2500)
        .option("startTimestamp", 0)
        .option("advanceMillisPerBatch", 1000)
        .option("numPartitions", 4)
        .load()
    )
    n_total = 5000
    shaped = (
        stream.filter(F.col("value") < n_total)
        .groupBy((F.col("value") % 10).cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum("value").cast("bigint").alias("total"),
        )
    )
    return run_until_input_rows(shaped, n_total, "rate")


@query(
    "stream_python_source",
    oracle="""
    SELECT CASE (i % 5) WHEN 0 THEN 'purchase' WHEN 1 THEN 'signup'
                        WHEN 2 THEN 'view' WHEN 3 THEN 'click'
                        ELSE 'error' END AS event_type,
           count(*)::BIGINT AS cnt,
           CAST(SUM(CAST(CAST(i % 1000 AS DOUBLE) / 10.0
                         AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM range(0, 5000) r(i) GROUP BY 1
    """,
    tags=("streaming", "partB1", "pysource"),
)
def stream_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING face of the custom Python data source
    (sources/pysource.py), on its PARTITIONED `DataSourceStreamReader`
    — the executor-side scale shape: the driver plans offsets only and
    the rows are generated inside executor tasks, aggregated under
    complete mode. The batch face holds the `scan_python_source` slot;
    this key gives the stream reader its own driver row — same
    determinism contract, so the same `range(0, n)` oracle re-derives
    the final state. Value sums go through DECIMAL(18,2) (exact,
    association-order-free) per the repo's determinism rules.

    The CONTRAST this key used to measure the hard way: its first
    implementation rode the `SimpleDataSourceStreamReader` face, whose
    engine wrapper prefetches every row THROUGH THE DRIVER — fine for
    the offset-model pytests that still pin it via
    `.option("reader", "simple")`, but a driver bottleneck shape at
    any scale (3.77 s here vs ~1.8 s for every other streaming key; a
    production source must implement the partitioned face, as this one
    now does by default — see the reader class docstrings for the full
    design note).

    Termination follows the stream_rate_source pattern
    (run_until_input_rows): the run stops on the engine's own progress
    telemetry once all n tracked rows are committed (one micro-batch —
    a static finite source is wholly available at start).
    `sf_dir` is unused: the source IS the data."""
    from ..sources.pysource import register_synthetic_source

    register_synthetic_source(spark)
    n_total = 5000
    stream = (
        spark.readStream.format("synthetic_events")
        .option("n", n_total)
        .option("num_partitions", 4)
        .load()
    )
    shaped = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_value"),
    )
    return run_until_input_rows(shaped, n_total, "pysrc")


@query(
    "stream_sliding_counts",
    oracle=f"""
    WITH contrib AS (
      SELECT {_HOUR_SQL} AS win_start, event_type FROM events
      UNION ALL
      SELECT strftime(date_trunc('hour', ts) - INTERVAL 1 HOUR,
                      '%Y-%m-%d %H:%M:%S'), event_type FROM events
    )
    SELECT win_start, event_type, count(*) AS cnt
    FROM contrib GROUP BY 1, 2
    """,
    tags=("streaming", "partB9"),
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (2 h length, 1 h slide) counts per event type:
    each event lands in exactly two windows — the oracle materializes
    that two-window contribution explicitly."""
    src = events_replay_dir(spark, sf_dir)
    ev = read_event_stream(spark, src)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    out = run_bounded(agg, "complete", "sliding_counts")
    return out.select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "event_type",
        "cnt",
    )


@query(
    "stream_session_windows",
    oracle=f"""
    WITH o AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sess
      FROM o
    )
    SELECT user_id,
           strftime(min(ts), {_TS_FMT_SQL}) AS sess_start,
           strftime(max(ts) + INTERVAL 30 MINUTE, {_TS_FMT_SQL}) AS sess_end,
           count(*) AS cnt
    FROM s GROUP BY user_id, sess
    """,
    tags=("streaming", "partB9"),
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap —
    stateful merging session aggregation. The oracle rebuilds sessions
    with the classic lag/cumsum SQL; Spark's session end is
    last-event + gap (end-exclusive), mirrored by the >= break."""
    src = events_replay_dir(spark, sf_dir)
    ev = read_event_stream(spark, src)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    out = run_bounded(agg, "complete", "session_windows")
    return out.select(
        "user_id",
        ts_string(F.col("w.start")).alias("sess_start"),
        ts_string(F.col("w.end")).alias("sess_end"),
        "cnt",
    )


@query(
    "stream_dedup_watermark",
    oracle="SELECT event_id, event_type FROM events",
    tags=("streaming", "partB9"),
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 as a stream: the replay source carries injected duplicates
    (every 7th event twice); dropDuplicatesWithinWatermark keeps the
    first arrival per event_id — the Lua GET-then-SET dedup with the
    300 s TTL as watermark horizon (insert-events-into-db.lua:8-11,39).
    The oracle is simply the original duplicate-free table.

    no_data_batches=False: dedup emits each kept row in the data batch
    itself; the watermark only EVICTS state, so the trailing watermark-
    advancing empty micro-batch cannot change the sink — skipping it
    drops one full batch of fixed cost from the bounded replay (the
    eviction path itself is exercised by the state-eviction pytest).

    shuffle_partitions=8: dedup state is one entry per event_id (~100k
    keys at sf0.1) — large enough that 4 partitions serialize the
    stateful stage (measured ~1.1 s), small enough that 32 pays more
    in per-partition store commits than it gains (~1.1 s again); 8 is
    the measured knee (~0.86 s). Same sizing rule run_bounded
    documents, applied to this key's state volume."""
    dup_dir = events_replay_dir_with_dupes(spark, sf_dir)
    ev = read_event_stream(spark, dup_dir)
    deduped = (
        ev.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "event_type")
    )
    return run_bounded(
        deduped,
        "append",
        "dedup_watermark",
        shuffle_partitions=8,
        no_data_batches=False,
    )


@query(
    "stream_interval_join",
    oracle="""
    SELECT p.event_id AS purchase_id, v.event_id AS view_id
    FROM events p JOIN events v
      ON p.user_id = v.user_id
     AND v.ts >= p.ts AND v.ts <= p.ts + INTERVAL 30 MINUTE
    WHERE p.event_type = 'purchase' AND v.event_type = 'view'
    """,
    tags=("streaming", "partB9", "join"),
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9 stream-stream join: two live streams (purchases and views,
    each landing in its own per-topic replay directory — the real
    ingest layout, so each side parses only its own rows) correlated
    by the watermarked event-time interval join (streaming/joins.py interval_join_streams) — each
    purchase pairs with every view by the same user within the 30
    minutes after it. State per side is bounded by rate × (interval +
    watermark delay) and evicted by the global min-across-inputs
    watermark; both inputs shuffle once on the join key, exactly the
    exchange the batch equi-join plans.

    Bounded AvailableNow replay drives every watermark past every row,
    so no pairing is lost to late-arrival eviction and the final sink
    equals the batch interval join — which is the oracle verbatim (the
    `join_interval` key already proves DuckDB expresses the predicate).
    Reference analog: the Lua GET-then-SET self-correlation within a
    TTL (insert-events-into-db.lua:8-11,36-39), generalized to two
    streams."""
    from ..streaming.joins import interval_join_streams

    left = read_event_stream(
        spark, events_replay_dir_by_type(spark, sf_dir, "purchase")
    )
    right = read_event_stream(
        spark, events_replay_dir_by_type(spark, sf_dir, "view")
    )
    joined = interval_join_streams(
        left,
        right,
        key="user_id",
        watermark="10 minutes",
        lower="0 seconds",
        upper="30 minutes",
    ).select(
        F.col("event_id").alias("purchase_id"),
        F.col("event_id_r").alias("view_id"),
    )
    return run_bounded(joined, "append", "interval_join")


@query(
    "stream_interval_join_outer",
    oracle="""
    WITH p AS (
      SELECT event_id AS pid, user_id AS pu, ts AS pts
      FROM events WHERE event_type = 'purchase'
    ),
    v AS (
      SELECT event_id AS vid, user_id AS vu, ts AS vts
      FROM events WHERE event_type = 'view'
    ),
    j AS (
      SELECT p.pid, p.pts, v.vid
      FROM p LEFT JOIN v
        ON p.pu = v.vu
       AND v.vts >= p.pts AND v.vts <= p.pts + INTERVAL 30 MINUTE
    )
    SELECT pid AS purchase_id, vid AS view_id FROM j
    WHERE vid IS NOT NULL
       OR pts + INTERVAL 30 MINUTE <
          least((SELECT max(pts) FROM p), (SELECT max(vts) FROM v))
          - INTERVAL 10 MINUTE
    """,
    tags=("streaming", "partB9", "join"),
)
def stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The left-outer stream-stream interval join, with its exact
    tail-boundary semantics IN the oracle: inner pairs equal the batch
    join in full; a null-extended row appears for an unmatched purchase
    only once the engine can PROVE no view can still arrive — the
    purchase's whole interval below the final GLOBAL watermark, which
    under Spark's default multipleWatermarkPolicy=min is
    min(max purchase ts, max view ts) − delay in a bounded replay (a
    lagging input holds the global mark back), NOT the view side's
    watermark alone. The oracle's WHERE clause is that decidability
    predicate verbatim — the subtle outer-join-over-unbounded-streams
    semantics (SIGMOD'18 model) pinned by a value hash, not just a
    pytest. Unmatched purchases inside the (delay + upper) tail leave
    the replay with their verdict pending and are correctly ABSENT
    from both sides of the comparison."""
    from ..streaming.joins import interval_join_streams

    left = read_event_stream(
        spark, events_replay_dir_by_type(spark, sf_dir, "purchase")
    )
    right = read_event_stream(
        spark, events_replay_dir_by_type(spark, sf_dir, "view")
    )
    joined = interval_join_streams(
        left,
        right,
        key="user_id",
        watermark="10 minutes",
        lower="0 seconds",
        upper="30 minutes",
        how="leftOuter",
    ).select(
        F.col("event_id").alias("purchase_id"),
        F.col("event_id_r").alias("view_id"),
    )
    return run_bounded(joined, "append", "interval_join_outer")


@query(
    "stream_foreach_batch_hourly",
    oracle=f"""
    SELECT {_HOUR_SQL} AS hour_start, event_type, count(*) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
    tags=("streaming", "partB9"),
)
def stream_foreach_batch_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'write to a store' sink: stream → foreachBatch → parquet
    append (the reference's batched pipeline.exec(),
    update-contributor-scores.js:137-144), then an hourly rollup over
    the landed data. The value sum goes through DECIMAL(18,2) — exact,
    association-order-free — per the repo's determinism rules."""
    src = events_replay_dir(spark, sf_dir)
    out_dir = tempfile.mkdtemp(prefix="geetl_fb_sink_")
    ckpt = tempfile.mkdtemp(prefix="geetl_fb_ckpt_")
    try:
        ev = read_event_stream(spark, src)
        run_foreach_batch_to_parquet(ev, out_dir, ckpt)
        landed = spark.read.parquet(out_dir)
        return (
            landed.groupBy(
                F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                    "hour_start"
                ),
                "event_type",
            )
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("total_value"),
            )
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def _retx_replay_dir(spark: SparkSession, sf_dir: str) -> str:
    """Replay dir where every event appears twice: the original
    (arrival 0) and a retransmitted copy with a mutated payload
    (arrival 1, value+100). Shared fixture for both stateful-dedup
    variants; idempotent scratch-dir contract as replay.py."""
    src = scratch_dir(sf_dir, "stream_src_retx")
    if not os.path.exists(os.path.join(src, "_SUCCESS")):
        ev = load_table(spark, sf_dir, "events").select(
            "event_id",
            F.expr("unix_micros(ts)").alias("ts_us"),
            "user_id",
            "event_type",
            "value",
        )
        first = ev.withColumn("arrival", F.lit(0))
        retx = first.withColumn("value", F.col("value") + 100.0).withColumn(
            "arrival", F.lit(1)
        )
        first.unionByName(retx).repartition(8).write.mode("overwrite").json(src)
    return src


@query(
    "stream_stateful_dedup_ttl",
    oracle="SELECT event_id, value FROM events",
    tags=("streaming", "partB9", "stateful"),
)
def stream_stateful_dedup_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 as a CUSTOM stateful operator: first-insert-wins dedup with a
    processing-time TTL via applyInPandasWithState
    (streaming/stateful.py) — the faithful analog of the reference's
    Redis event-log `SET ... EX 300` (insert-events-into-db.lua:36-39),
    where dropDuplicatesWithinWatermark is the event-time builtin.

    The replay carries every event twice: the original (arrival 0) and
    a retransmitted copy with a mutated payload (arrival 1, value+100).
    First-wins must return exactly the originals — which is the oracle.
    Original and copy carry the same event time, so each duplicate is
    always inside its key's event-time TTL horizon and the final state
    equals batch first-wins dedup.
    """
    from ..streaming.stateful import dedup_first_wins_ttl

    src = _retx_replay_dir(spark, sf_dir)
    schema = (
        "event_id long, ts_us long, user_id long, event_type string, "
        "value double, arrival int"
    )
    stream = (
        spark.readStream.schema(schema)
        .json(src)
        .select(
            "event_id",
            F.timestamp_micros(F.col("ts_us")).alias("ts"),
            "user_id",
            "event_type",
            "value",
            "arrival",
        )
    )
    deduped = dedup_first_wins_ttl(stream, ttl_seconds=300)
    # shuffle_partitions=None: unlike the JVM-stateful streams (where
    # fewer partitions just means fewer state-store open/commit cycles),
    # applyInPandasWithState does per-key work in Python workers —
    # partition count IS the Arrow-worker parallelism, and pinning it
    # low serializes the Python stage (measured ~8× slower at 4).
    out = run_bounded(deduped, "update", "stateful_dedup", shuffle_partitions=None)
    return out.select("event_id", "value")
