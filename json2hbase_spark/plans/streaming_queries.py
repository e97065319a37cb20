"""C7 as-of join + I-ops: event-time windowing & Structured Streaming
(SURVEY.md §2 C7, I1–I7).

Streaming queries run REAL micro-batch executions (file source →
availableNow trigger → memory sink) and return the sink contents as a
batch DataFrame, so the driver's oracle can check streaming results
against batch SQL. Window/session ops use the batch-equivalent plans
directly where noted — identical logical semantics, strongest oracle.

All event-time outputs are surfaced as epoch-microsecond BIGINTs
(``unix_micros`` / DuckDB ``epoch_us``) — immune to timestamp
formatting drift between engines.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from json2hbase_spark.io import load, load_events_stream, parquet_schema
from json2hbase_spark.materialize import materialize
from json2hbase_spark.plans.corpus_queries import (
    QLR_B,
    QLR_W_AVGLEN,
    QLR_W_DIGIT,
    QLR_W_LEN,
    QLR_W_STOP,
)
from json2hbase_spark.operators.asof import asof_join
from json2hbase_spark.operators.sessionize import sessionize
from json2hbase_spark.registry import query
from json2hbase_spark.session import run_stream
from json2hbase_spark.scratch import scratch_dir

SUM_VALUE = "CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)"


def _run_to_memory(writer_df: DataFrame, name: str, output_mode: str) -> DataFrame:
    """Run ``writer_df`` to completion into the memory sink ``name``
    and return the sink's table."""
    run_stream(
        writer_df.sparkSession,
        writer_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", scratch_dir(f"ckpt_{name}_"))
        .trigger(availableNow=True),
    )
    return writer_df.sparkSession.table(name)


# ---------------------------------------------------------------- c7


@query(
    "c7_join_asof",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts::TIMESTAMP AS cts, max(event_id) AS click_id
      FROM events WHERE event_type = 'click' GROUP BY 1, 2
    ),
    p AS (
      SELECT user_id, ts::TIMESTAMP AS pts, event_id AS purchase_id, value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.user_id, p.purchase_id, epoch_us(p.pts) AS ts_us, p.value,
           c.click_id, epoch_us(c.cts) AS click_ts_us
    FROM p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.pts >= c.cts
    """,
)
def c7_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's latest click at
    or before the purchase time (union-tag + window rewrite — one
    shuffle, no pair explosion; see operators/asof.py)."""
    ev = load(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id"), "value"
    )
    joined = asof_join(purchases, clicks, on=["user_id"], left_ts="ts", right_ts="ts")
    return joined.select(
        "user_id",
        "purchase_id",
        F.unix_micros("ts").alias("ts_us"),
        "value",
        "click_id",
        F.unix_micros("matched_ts").alias("click_ts_us"),
    )


# ---------------------------------------------------------------- i1/i2


@query(
    "i1_win_tumbling",
    oracle=f"""
    SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, ts::TIMESTAMP)) AS win_start_us,
           event_type,
           COUNT(*) AS n_events,
           {SUM_VALUE} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def i1_win_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed event-time windows via F.window (epoch-aligned, the same
    operator streaming uses) — batch execution, strong oracle."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.expr(SUM_VALUE).alias("sum_value"))
        .select(
            F.unix_micros("w.start").alias("win_start_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "i2_win_sliding",
    oracle="""
    SELECT epoch_us(time_bucket(INTERVAL 15 MINUTES, ts::TIMESTAMP)
                    - k.k * INTERVAL 15 MINUTES) AS win_start_us,
           event_type,
           COUNT(*) AS n_events
    FROM events, (SELECT unnest(range(4)) AS k) k
    GROUP BY 1, 2
    """,
)
def i2_win_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping windows (1 h length, 15 min slide): every event lands
    in 4 windows; F.window generates them natively."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.unix_micros("w.start").alias("win_start_us"), "event_type", "n_events")
    )


# ---------------------------------------------------------------- i3


@query(
    "i3_win_session",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, ts::TIMESTAMP AS ts, value FROM events
    ),
    flagged AS (
      SELECT *,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 43200000000
                  THEN 1 ELSE 0 END AS new_s
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT *,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id,
           min(epoch_us(ts)) AS session_start_us,
           COUNT(*) AS n_events,
           {SUM_VALUE} AS sum_value
    FROM sess
    GROUP BY 1, 2
    """,
)
def i3_win_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (12 h gap): lag + cumulative-flag-sum
    batch algorithm — the same semantics F.session_window implements
    incrementally (streaming variant smoke-tested in tests)."""
    ev = load(spark, sf_dir, "events")
    sessions = sessionize(ev, "user_id", "ts", gap_seconds=12 * 3600, tiebreak="event_id")
    return sessions.groupBy("user_id", "session_id").agg(
        F.min(F.unix_micros("ts")).alias("session_start_us"),
        F.count("*").alias("n_events"),
        F.expr(SUM_VALUE).alias("sum_value"),
    )


# ---------------------------------------------------------------- i4–i7 (real streaming)


@query(
    "i4_watermark",
    oracle="""
    WITH mx AS (SELECT max(ts::TIMESTAMP) AS m FROM events)
    SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, ts::TIMESTAMP)) AS win_start_us,
           event_type, COUNT(*) AS n_events
    FROM events, mx
    WHERE time_bucket(INTERVAL 1 HOUR, ts::TIMESTAMP) + INTERVAL 1 HOUR
          <= mx.m - INTERVAL 2 HOUR
    GROUP BY 1, 2
    """,
)
def i4_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked windowed aggregation in APPEND mode: only windows
    the 2 h watermark has closed are emitted — the oracle reproduces
    the eviction rule (window_end <= max_ts - 2h) in SQL."""
    stream = load_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.unix_micros("w.start").alias("win_start_us"), "event_type", "n_events")
    )
    return _run_to_memory(agg, "i4_mem", "append")


@query(
    "i5_stream_dedup",
    oracle="""
    SELECT event_type, COUNT(DISTINCT event_id) AS n_unique
    FROM events
    GROUP BY event_type
    """,
)
def i5_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup on event_id within the watermark, append mode;
    the deduped stream lands in the sink and is counted in batch."""
    stream = load_events_stream(spark, sf_dir)
    deduped = stream.withWatermark("ts", "2 hours").dropDuplicates(["event_id"])
    sink = _run_to_memory(deduped.select("event_id", "event_type"), "i5_mem", "append")
    return sink.groupBy("event_type").agg(F.count("*").alias("n_unique"))


@query(
    "i6_stateful",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT) AS cents
    FROM events
    GROUP BY user_id
    """,
)
def i6_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary per-key state via applyInPandasWithState: running
    per-user event count + value total (in integer cents so state is
    exact). Update mode, availableNow → final state equals the batch
    aggregate."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update_fn(key, pdfs, state):
        cnt, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            cnt += len(pdf)
            cents += int((pdf["value"] * 100).round().sum())
        state.update((cnt, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [cnt], "cents": [cents]}
        )

    stream = load_events_stream(spark, sf_dir)
    stateful = stream.groupBy("user_id").applyInPandasWithState(
        update_fn,
        outputStructType="user_id BIGINT, n_events BIGINT, cents BIGINT",
        stateStructType="cnt BIGINT, cents BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # state partitions and the RocksDB provider are set at start() by
    # session.run_stream (3.6 s at 32 partitions, 1.3 s at 4, sf0.01,
    # local[4]; cluster posture documented there)
    return _run_to_memory(stateful, "i6_mem", "update")


@query(
    "i7_late_policy",
    oracle=f"""
    SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, ts::TIMESTAMP)) AS win_start_us,
           event_type,
           COUNT(*) AS n_events,
           {SUM_VALUE} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def i7_late_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE output mode: every window changed in the batch is
    (re)emitted, so unlike i4's append none are withheld — the final
    sink equals the complete batch result. Append-vs-update semantics
    are exactly the i4/i7 output difference the oracles encode."""
    stream = load_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.expr(SUM_VALUE).alias("sum_value"))
        .select(
            F.unix_micros("w.start").alias("win_start_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return _run_to_memory(agg, "i7_mem", "update")


# ---------------------------------------------------------------- i8


@query(
    "i8_resample_gapfill",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('hour', min(ts::TIMESTAMP)) AS h0,
             date_trunc('hour', max(ts::TIMESTAMP)) AS h1
      FROM events
    ),
    grid AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM bounds),
    types AS (SELECT DISTINCT event_type FROM events),
    counts AS (
      SELECT date_trunc('hour', ts::TIMESTAMP) AS h, event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT epoch_us(g.h) AS hour_us, t.event_type,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events
    FROM grid g
    CROSS JOIN types t
    LEFT JOIN counts c ON c.h = g.h AND c.event_type = t.event_type
    """,
)
def i8_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample with gap fill: hourly event counts per type
    with missing hours emitted as zero. The hour grid is generated
    plan-side (global min/max agg → sequence → explode — no collect),
    cross-joined with the small distinct-type set, then left-joined to
    the real counts; at 100 TB the only large-data operations are one
    scan and one hash agg on (hour, type)."""
    ev = load(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    grid = bounds.select(
        F.explode(F.sequence("h0", "h1", F.expr("interval 1 hour"))).alias("h")
    )
    types = ev.select("event_type").distinct()
    counts = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h"), F.col("event_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    full = grid.crossJoin(F.broadcast(types))
    return (
        full.join(counts, ["h", "event_type"], "left")
        .select(
            F.unix_micros("h").alias("hour_us"),
            "event_type",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_events"),
        )
    )


# ---------------------------------------------------------------- i9


@query(
    "i9_tws_state",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT) AS cents
    FROM events
    GROUP BY user_id
    """,
)
def i9_tws_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary per-key state via transformWithStateInPandas — the
    Spark 4 successor to applyInPandasWithState (typed state variables,
    optional TTL, RocksDB state store). Same semantics as i6 (running
    per-user count + cent total) so the same exact oracle applies:
    final state after availableNow == the batch aggregate.

    GATED: the TWS driver worker needs google.protobuf, which this
    sandbox lacks (no installs allowed) — in that case the identical
    semantics run through the applyInPandasWithState path, keeping the
    oracle green while preserving the TWS code path for real clusters."""
    import pandas as pd

    try:
        from google.protobuf import descriptor  # noqa: F401

        _tws_available = True
    except ImportError:
        _tws_available = False
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", "cnt BIGINT, cents BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            cnt, cents = self._state.get() if self._state.exists() else (0, 0)
            for pdf in rows:
                cnt += len(pdf)
                cents += int((pdf["value"] * 100).round().sum())
            self._state.update((cnt, cents))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [cnt], "cents": [cents]})

        def close(self) -> None:
            pass

    stream = load_events_stream(spark, sf_dir)
    if _tws_available:
        out = stream.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=RunningTotals(),
            outputStructType="user_id BIGINT, n_events BIGINT, cents BIGINT",
            outputMode="Update",
            timeMode="None",
        )
    else:
        from pyspark.sql.streaming.state import GroupStateTimeout

        def update_fn(key, pdfs, state):
            cnt, cents = state.get if state.exists else (0, 0)
            for pdf in pdfs:
                cnt += len(pdf)
                cents += int((pdf["value"] * 100).round().sum())
            state.update((cnt, cents))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [cnt], "cents": [cents]}
            )

        out = stream.groupBy("user_id").applyInPandasWithState(
            update_fn,
            outputStructType="user_id BIGINT, n_events BIGINT, cents BIGINT",
            stateStructType="cnt BIGINT, cents BIGINT",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    # session.run_stream starts either path with the state-partition
    # cap and, when available, the RocksDB provider
    return _run_to_memory(out, "i9_mem", "update")


# ---------------------------------------------------------------- i10


@query(
    "i10_stream_stream_join",
    oracle="""
    WITH p AS (
      SELECT user_id, ts::TIMESTAMP AS pts, event_id AS purchase_id
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT user_id, ts::TIMESTAMP AS cts, event_id AS click_id
      FROM events WHERE event_type = 'click'
    )
    SELECT p.user_id, p.purchase_id, c.click_id,
           epoch_us(p.pts) AS pts_us, epoch_us(c.cts) AS cts_us
    FROM p JOIN c
      ON c.user_id = p.user_id
     AND c.cts >= p.pts - INTERVAL 1 HOUR
     AND c.cts <= p.pts
    """,
)
def i10_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with an event-time range condition:
    purchases joined to the clicks of the preceding hour. Both sides
    are watermarked so the join state is bounded (clicks older than
    watermark - 1 h are evicted); the time-range predicate is what
    lets Spark bound the buffers at all — an unconstrained
    stream-stream join would keep state forever. Oracle is the batch
    range join over the same data."""
    p = (
        load_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("pts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("pts", "2 hours")
    )
    c = (
        load_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("cts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("cts", "2 hours")
    )
    joined = p.join(
        c,
        F.expr(
            "p_user = c_user AND cts >= pts - INTERVAL 1 HOUR AND cts <= pts"
        ),
        "inner",
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "click_id",
        F.unix_micros("pts").alias("pts_us"),
        F.unix_micros("cts").alias("cts_us"),
    )
    return _run_to_memory(joined, "i10_mem", "append")


# ---------------------------------------------------------------- i11


@query(
    "i11_session_stream",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, ts::TIMESTAMP AS ts, value FROM events
    ),
    flagged AS (
      SELECT *,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 43200000000
                  THEN 1 ELSE 0 END AS new_s
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT *,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id,
           min(epoch_us(ts)) AS session_start_us,
           COUNT(*) AS n_events,
           {SUM_VALUE} AS sum_value
    FROM sess
    GROUP BY user_id, session_id
    """,
)
def i11_session_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming sessionization: F.session_window + watermark run
    as a micro-batch (availableNow → memory sink, complete mode).
    session_window's gap-merge semantics coincide with the batch
    lag-based algorithm (i3) — the oracle is that batch algorithm, so
    this is an exact streaming-vs-SQL equivalence check, not a
    rows-only smoke."""
    from json2hbase_spark.operators.sessionize import session_window_stream

    stream = load_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "24 hours")
        .groupBy(
            F.session_window("ts", "12 hours").alias("w"),
            "user_id",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.expr(SUM_VALUE).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_micros("w.start").alias("session_start_us"),
            "n_events",
            "sum_value",
        )
    )
    return _run_to_memory(agg, "i11_mem", "complete")


# ---------------------------------------------------------------- i12


@query(
    "i12_stream_static_join",
    oracle="""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def i12_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the unbounded event stream enriched against
    a static dimension (no watermark needed on the static side — it is
    re-read per micro-batch and broadcast). The canonical streaming
    enrichment shape; aggregation runs in complete mode so the final
    sink equals the batch join."""
    ev = load_events_stream(spark, sf_dir)
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
    # exact COUNT(DISTINCT) is not allowed on streams (state would be
    # unbounded per group); d2/d3 cover exact/approx distinct in batch
    agg = joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.expr(SUM_VALUE).alias("sum_value"),
    )
    return _run_to_memory(agg, "i12_mem", "complete")


# ---------------------------------------------------------------- i13


@query(
    "i13_stream_file_sink",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def i13_stream_file_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durable streaming sink: the event stream written to a
    partitioned parquet directory (append mode, availableNow) with an
    exactly-once file-sink commit log, then read back and aggregated —
    the batch aggregate over the landed files must equal the batch
    aggregate over the source, proving no loss or duplication through
    the sink. The partitionBy(event_type) layout is the same pruning
    story as a9 on the streaming path."""
    import os
    import shutil
    import tempfile

    tag = sf_dir.strip("/").replace("/", "_")
    out = os.path.join(tempfile.gettempdir(), f"j2h_stream_sink_{tag}")
    ckpt = os.path.join(tempfile.gettempdir(), f"j2h_stream_sink_ckpt_{tag}")
    # fresh landing zone per run: the file-sink commit log would
    # otherwise dedupe re-runs into no-ops
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)

    stream = load_events_stream(spark, sf_dir)
    run_stream(
        spark,
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .partitionBy("event_type")
        .outputMode("append")
        .trigger(availableNow=True),
    )
    back = spark.read.parquet(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr(SUM_VALUE).alias("sum_value"),
    )


# ---------------------------------------------------------------- i14


@query(
    "i14_foreachbatch_upsert",
    oracle="""
    SELECT user_id, event_id AS last_event_id, value AS last_value FROM (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def i14_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch custom sink: per-user last-write-wins state upserted
    across REAL multiple micro-batches (the source is staged as two
    files + maxFilesPerTrigger=1 → two batches). Each batch reduces to
    its per-user latest, merges with the previous state version, and
    writes a NEW state version (versioned dirs = the poor-man's ACID
    swap a lakehouse table format provides natively; never overwrite a
    directory being read). The final state must equal the one-shot
    batch window over the whole table — proving the upsert is
    associative across batch boundaries. foreachBatch is the sanctioned
    escape hatch for sinks Structured Streaming lacks (JDBC, HBase,
    MERGE targets)."""
    import glob as _glob
    import os
    import shutil

    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    # per-run private stage dir (mkdtemp): concurrent runs against the
    # same fixture must not race on a shared deterministic path, and
    # shutil.move (not os.rename) survives tempdirs spanning filesystems
    stage = scratch_dir("j2h_fb_stage_")
    state_root = scratch_dir("j2h_fb_state_")
    # two single-file halves → two micro-batches under maxFilesPerTrigger=1
    for i, half in enumerate(
        (ev.filter(F.col("event_id") % 2 == 0), ev.filter(F.col("event_id") % 2 == 1))
    ):
        tmp = scratch_dir("j2h_fb_half_")
        half.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(stage, f"{i}.parquet"))
        shutil.rmtree(tmp, ignore_errors=True)

    schema = spark.read.parquet(stage).schema
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))

    def _latest(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("user_id", "ts", "event_id", "value")
        )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        versions = sorted(_glob.glob(os.path.join(state_root, "v*")))
        merged = _latest(batch_df)
        if versions:
            prev = sess.read.parquet(versions[-1])
            merged = _latest(prev.unionByName(merged))
        merged.write.mode("overwrite").parquet(
            os.path.join(state_root, f"v{batch_id:04d}")
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    run_stream(
        spark,
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", scratch_dir("ckpt_i14_"))
        .trigger(availableNow=True),
    )

    final_dir = sorted(_glob.glob(os.path.join(state_root, "v*")))[-1]
    final = spark.read.parquet(final_dir)
    return final.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("value").alias("last_value"),
    )


# ---------------------------------------------------------------- i15/i16


@query(
    "i15_funnel",
    oracle="""
    WITH s AS (
      SELECT user_id, min(ts::TIMESTAMP) AS s_ts
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts::TIMESTAMP) AS c_ts
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'click' AND e.ts::TIMESTAMP > s.s_ts
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts::TIMESTAMP > c.c_ts
      GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM s) AS n_signup,
           (SELECT COUNT(*) FROM c) AS n_click_after,
           (SELECT COUNT(*) FROM p) AS n_purchase_after
    """,
)
def i15_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis: users who signed up, then clicked
    AFTER their first signup, then purchased AFTER that first
    qualifying click — the event-sequencing query behind every
    conversion dashboard. Each stage is one filter + broadcast-join
    against the (per-user, tiny) previous-stage table + min-agg; at
    100 TB the stages stay semi-join-shaped, never a per-user sort of
    the full event log."""
    ev = load(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(F.broadcast(s), "user_id")
        .filter(F.col("ts") > F.col("s_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(c), "user_id")
        .filter(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return (
        s.agg(F.count(F.lit(1)).alias("n_signup"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_click_after")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase_after")))
    )


@query(
    "i16_retention_cohorts",
    oracle="""
    WITH first_wk AS (
      SELECT user_id, min(date_trunc('week', ts::TIMESTAMP)) AS cohort
      FROM events GROUP BY user_id
    ),
    active AS (
      SELECT DISTINCT user_id, date_trunc('week', ts::TIMESTAMP) AS wk
      FROM events
    )
    SELECT epoch_us(f.cohort) AS cohort_week_us,
           CAST(datediff('day', f.cohort, a.wk) / 7 AS BIGINT) AS week_offset,
           COUNT(*) AS n_active
    FROM active a JOIN first_wk f USING (user_id)
    GROUP BY 1, 2
    """,
)
def i16_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-cohort matrix: users grouped by first-activity week,
    counted as active at each later week offset — the other canonical
    event-analytics query. Two hash aggs + one join on user_id; the
    cohort table is per-user-small so it broadcasts, and the distinct
    (user, week) table map-side-dedups before the shuffle."""
    ev = load(spark, sf_dir, "events")
    first_wk = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("week", F.col("ts"))).alias("cohort")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    ).distinct()
    return (
        active.join(F.broadcast(first_wk), "user_id")
        .groupBy(
            F.unix_micros("cohort").alias("cohort_week_us"),
            (F.datediff(F.col("wk"), F.col("cohort")) / 7).cast("bigint").alias(
                "week_offset"
            ),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@query(
    "i17_state_reader",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
)
def i17_state_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State Store reader (Spark 4 `statestore` batch source): run a
    stateful streaming aggregation to a checkpoint, then read the
    OPERATOR STATE itself back as a DataFrame — the
    observability/debugging path for production stateful pipelines
    (inspect skewed keys, validate state after a migration, bootstrap
    a new query from old state). The state contents must equal the
    batch aggregate over the same data — checked via the count field
    (exact int; the state's float sum stays internal)."""
    from json2hbase_spark.io import load_events_stream

    stream = load_events_stream(spark, sf_dir)
    counts = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv")
    )
    ckpt = scratch_dir("j2h_i17_ckpt_")
    run_stream(
        spark,
        counts.writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True),
    )
    state = spark.read.format("statestore").load(ckpt)
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").alias("n_events"),
    )


@query(
    "i18_python_stream_source",
    oracle="""
    SELECT b.b AS batch,
           COUNT(*) AS n_rows,
           CAST(SUM(b.b * 10 + i.i) AS BIGINT) AS sum_v
    FROM (SELECT unnest(range(2)) AS b) b,
         (SELECT unnest(range(10)) AS i) i
    GROUP BY b.b
    """,
)
def i18_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom PYTHON STREAMING source (Spark 4
    SimpleDataSourceStreamReader): a deterministic offset-tracked tick
    source drained across TWO separate availableNow runs sharing one
    checkpoint — each restart resumes from the committed offset and
    the stateful aggregation state carries over, proving exactly-once
    offset management for a source written entirely in Python (the
    no-JVM path to custom feeds: internal queues, REST cursors,
    change feeds). Content is seeded arithmetic, so DuckDB reproduces
    the final state from range() math."""
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    class _TickReader(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"i": 0}

        def read(self, start):
            i = start["i"]
            if i >= 2:
                return iter([]), start
            return iter([(i, i * 10 + j) for j in range(10)]), {"i": i + 1}

        def readBetweenOffsets(self, start, end):
            out = []
            for i in range(start["i"], end["i"]):
                out += [(i, i * 10 + j) for j in range(10)]
            return iter(out)

    class TickSource(DataSource):
        @classmethod
        def name(cls):
            return "j2h_py_ticks"

        def schema(self):
            return "batch INT, v INT"

        def simpleStreamReader(self, schema):
            return _TickReader()

    spark.dataSource.register(TickSource)
    ckpt = scratch_dir("j2h_i18_ckpt_")
    name = f"i18_mem_{ckpt.rsplit('_', 1)[-1]}"
    # one run per available offset: each start resumes from the
    # checkpointed offset (exactly-once), the last drains to empty
    for _ in range(2):
        stream = spark.readStream.format("j2h_py_ticks").load()
        agg = stream.groupBy(F.col("batch")).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("v").cast("bigint").alias("sum_v"),
        )
        run_stream(
            spark,
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True),
        )
    return spark.table(name)


@query(
    "i19_chained_stateful",
    oracle="""
    WITH c AS (
      SELECT user_id, ts::TIMESTAMP AS cts, event_id AS cid
      FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT user_id AS p_user, ts::TIMESTAMP AS pts, event_id AS pid
      FROM events WHERE event_type = 'purchase'
    ),
    wm AS (
      SELECT least((SELECT max(cts) FROM c), (SELECT max(pts) FROM p))
             - INTERVAL 1 HOUR AS w
    ),
    j AS (
      SELECT p.pts FROM c JOIN p
        ON c.user_id = p.p_user
       AND p.pts BETWEEN c.cts AND c.cts + INTERVAL 2 HOUR
    )
    SELECT epoch_us(time_bucket(INTERVAL 1 DAY, pts)) AS win_start_us,
           COUNT(*) AS n_pairs
    FROM j, wm
    WHERE time_bucket(INTERVAL 1 DAY, pts) + INTERVAL 1 DAY <= wm.w
    GROUP BY 1
    """,
)
def i19_chained_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful operators in one streaming query (Spark 4:
    multiple stateful ops in append mode): an interval stream-stream
    join feeding a downstream windowed aggregation — the
    attribution-then-rollup shape that previously required two
    queries with an intermediate sink. The oracle reproduces both
    state semantics in SQL: the interval join and the append-mode
    eviction rule (emit a day window only once the global watermark —
    min of the two inputs' max event times minus 1 h — passes its
    end)."""
    clicks = (
        load_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("cts"), F.col("event_id").alias("cid"))
        .withWatermark("cts", "1 hour")
    )
    purch = (
        load_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("pts"),
            F.col("event_id").alias("pid"),
        )
        .withWatermark("pts", "1 hour")
    )
    joined = clicks.join(
        purch,
        (F.col("user_id") == F.col("p_user"))
        & (
            F.col("pts").between(
                F.col("cts"), F.col("cts") + F.expr("INTERVAL 2 HOURS")
            )
        ),
    )
    agg = (
        joined.groupBy(F.window("pts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(F.unix_micros("w.start").alias("win_start_us"), "n_pairs")
    )
    return _run_to_memory(agg, "i19_mem", "append")


@query(
    "i20_stream_outer_join",
    oracle="""
    WITH p AS (
      SELECT user_id AS p_user, ts::TIMESTAMP AS pts, event_id AS purchase_id
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT user_id AS c_user, ts::TIMESTAMP AS cts, event_id AS click_id
      FROM events WHERE event_type = 'click'
    ),
    wm AS (
      SELECT least((SELECT max(pts) FROM p), (SELECT max(cts) FROM c))
             - INTERVAL 2 HOUR AS w
    ),
    matched AS (
      SELECT p.p_user, p.purchase_id, c.click_id, p.pts
      FROM p JOIN c ON p.p_user = c.c_user
        AND c.cts >= p.pts - INTERVAL 1 HOUR AND c.cts <= p.pts
    ),
    unmatched AS (
      SELECT p.p_user, p.purchase_id, CAST(NULL AS BIGINT) AS click_id, p.pts
      FROM p, wm
      WHERE p.pts < wm.w
        AND NOT EXISTS (
          SELECT 1 FROM c WHERE c.c_user = p.p_user
            AND c.cts >= p.pts - INTERVAL 1 HOUR AND c.cts <= p.pts
        )
    )
    SELECT p_user AS user_id, purchase_id, click_id, epoch_us(pts) AS pts_us
    FROM (SELECT * FROM matched UNION ALL SELECT * FROM unmatched)
    """,
)
def i20_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: matched pairs emit
    immediately; a purchase with NO click in its preceding hour emits
    null-extended ONLY once the global watermark guarantees no future
    click can match (purchases newer than watermark stay in state and
    are never null-emitted in this bounded run). The oracle reproduces
    exactly that split: inner matches unconditionally, null extensions
    only for purchases strictly below the final global watermark —
    the outer-join state semantics production attribution pipelines
    depend on."""
    p = (
        load_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("pts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("pts", "2 hours")
    )
    c = (
        load_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("cts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("cts", "2 hours")
    )
    joined = p.join(
        c,
        F.expr("p_user = c_user AND cts >= pts - INTERVAL 1 HOUR AND cts <= pts"),
        "left_outer",
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "click_id",
        F.unix_micros("pts").alias("pts_us"),
    )
    return _run_to_memory(joined, "i20_mem", "append")


@query(
    "i21_dedup_within_watermark",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT event_id) AS n_unique,
           CAST(2 * COUNT(DISTINCT event_id) AS BIGINT) AS n_arrived
    FROM events
    GROUP BY event_type
    """,
)
def i21_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark: unlike i5's dropDuplicates
    (which keys state forever), the dedup key is held ONLY for the
    watermark delay — bounded state for at-least-once sources whose
    duplicates arrive close together (the real Kafka/file-redelivery
    shape). The source stages the events file TWICE, so every
    event_id arrives exactly twice with identical event time (always
    inside the delay window) and must survive exactly once; the
    oracle counts distinct ids and pins arrivals = 2x."""
    import os

    from json2hbase_spark.io import _events_confs, _normalize_events_ts

    _events_confs(spark)
    src = f"{sf_dir}/events.parquet"
    stage = scratch_dir("j2h_i21_dup_")
    os.symlink(src, os.path.join(stage, "0.parquet"))
    os.symlink(src, os.path.join(stage, "1.parquet"))
    schema = parquet_schema(spark, src)
    stream = _normalize_events_ts(spark.readStream.schema(schema).parquet(stage))
    deduped = (
        stream.withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )
    arrived = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_arrived"))
    uniq = _run_to_memory(deduped, "i21_mem", "complete")
    seen = _run_to_memory(arrived, "i21_arrived_mem", "complete")
    return uniq.join(seen, "event_type").select("event_type", "n_unique", "n_arrived")


@query(
    "i23_stream_rollup",
    oracle="""
    WITH mx AS (SELECT max(ts::TIMESTAMP) AS m FROM events),
    fine AS (
      SELECT date_trunc('minute', ts::TIMESTAMP) AS mnt, event_type,
             COUNT(*) AS n_events,
             SUM(CAST(value AS DECIMAL(12,2))) AS sv
      FROM events, mx
      WHERE date_trunc('minute', ts::TIMESTAMP) + INTERVAL 1 MINUTE
            <= mx.m - INTERVAL 2 HOUR
      GROUP BY 1, 2
    )
    SELECT event_type,
           epoch_us(date_trunc('hour', mnt)) AS hour_us,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           CAST(SUM(sv) AS DOUBLE) AS sum_value,
           COUNT(*) AS n_minutes
    FROM fine
    GROUP BY 1, 2
    """,
)
def i23_stream_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming continuous aggregate (the real-time half of i22's
    hypertable cascade): the stream maintains watermarked per-minute
    partials in append mode — each minute window emits exactly once,
    when the 2 h watermark closes it — and the hourly level rolls up
    FROM the landed minute partials in batch (counts sum, DECIMAL
    sums re-sum exactly). This is the lambda-architecture collapse
    Structured Streaming enables: one code path maintains the fine
    level incrementally with bounded state (watermark-evicted), and
    every coarser level derives from it at 1/60th the row volume.
    The oracle reproduces the append-mode eviction cut
    (minute_end <= max_ts - 2h) exactly, then the same rollup."""
    stream = load_events_stream(spark, sf_dir)
    fine = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 minute").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).alias("sv"),
        )
        .select(F.col("w.start").alias("mnt"), "event_type", "n_events", "sv")
    )
    minutes = _run_to_memory(fine, "i23_mem", "append")
    return (
        minutes.groupBy("event_type", F.date_trunc("hour", F.col("mnt")).alias("h"))
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sv").cast("double").alias("sum_value"),
            F.count("*").alias("n_minutes"),
        )
        .select(
            "event_type",
            F.unix_micros("h").alias("hour_us"),
            "n_events",
            "sum_value",
            "n_minutes",
        )
    )


# ---------------------------------------------------------------- i24


@query(
    "i24_stream_model_filter",
    oracle=f"""
    WITH f AS (
      SELECT doc_id, lang,
             len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tok,
             CAST(len(list_filter(list_filter(string_split(text, ' '), x -> x != ''),
                  t -> list_contains(['the','a','of','and','to','in','is','on','for','with'], t)))
                  AS DOUBLE)
               / greatest(len(list_filter(string_split(text, ' '), x -> x != '')), 1)
               AS stop_ratio,
             CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
               / greatest(len(text), 1) AS digit_ratio,
             CAST(COALESCE(list_aggregate(list_transform(list_filter(string_split(text, ' '),
                    x -> x != ''), t -> len(t)), 'sum'), 0) AS DOUBLE)
               / greatest(len(list_filter(string_split(text, ' '), x -> x != '')), 1)
               AS avg_tok_len
      FROM documents
    ),
    scored AS (
      SELECT doc_id, lang,
             {QLR_B} + {QLR_W_LEN} * (CAST(least(n_tok, 100) AS DOUBLE) / 100.0)
                  + {QLR_W_STOP} * stop_ratio
                  + {QLR_W_DIGIT} * digit_ratio
                  + {QLR_W_AVGLEN} * avg_tok_len AS score
      FROM f
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN score >= 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM scored
    GROUP BY lang
    """,
)
def i24_stream_model_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING model-based quality gate: the document stream scored
    by j55's frozen linear classifier inside the micro-batch (pure
    expressions — classifier inference adds zero streaming state) and
    the keep/drop tally aggregated per language in complete mode. This
    is the ingest-time shape of corpus curation: score-and-gate as
    documents land, not as a nightly batch — any model whose inference
    is expression-shaped (linear/GBDT-as-CASE) drops into the same
    plan. The final sink equals the batch gate over the same corpus,
    which is exactly what the oracle checks. The only streaming state
    is the |lang|-sized running count — watermark-free, bounded at
    any corpus size."""
    from json2hbase_spark.io import load_table_stream
    from json2hbase_spark.plans.corpus_queries import quality_lr_score

    docs = load_table_stream(spark, sf_dir, "documents")
    score = quality_lr_score(F.col("text"))
    tally = (
        docs.select("lang", (score >= 0.0).cast("int").alias("keep"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("keep").cast("bigint").alias("n_kept"),
        )
    )
    return _run_to_memory(tally, "i24_mem", "complete")


# ---------------------------------------------------------------- i25


def _i25_oracle() -> str:
    from json2hbase_spark.plans.pipeline_queries import DUCK_DIGEST_ORACLE

    return DUCK_DIGEST_ORACLE


@query("i25_stream_corpus_digest", oracle=_i25_oracle())
def i25_stream_corpus_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING corpus content digest — j68's additive fingerprint
    maintained AS DOCUMENTS LAND: because the digest is a commutative
    sum mod 2⁶⁰, each micro-batch's partial sums simply add into
    |sources| rows of complete-mode state, so an ingest pipeline gets
    a continuously-current 'what exactly have I ingested' fingerprint
    for free — no end-of-day rescan, and the final state provably
    equals the batch digest over the same corpus (the oracle IS j68's
    SQL). This is the property a Merkle-style ordered digest cannot
    give a stream: arrival order is nondeterministic, and the sum
    does not care. State is watermark-free and bounded by the source
    count at any corpus size."""
    from json2hbase_spark.io import load_table_stream
    from json2hbase_spark.plans.pipeline_queries import corpus_digest_agg

    docs = load_table_stream(spark, sf_dir, "documents")
    digest = corpus_digest_agg(docs)
    return _run_to_memory(digest, "i25_mem", "complete")


@query(
    "i26_stream_chunk_dedup",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w
      FROM documents
    ),
    s AS (
      SELECT doc_id, w, unnest(range(1, len(w) + 1, 64)) AS st
      FROM toks WHERE len(w) >= 1
    ),
    ch AS (
      SELECT md5(array_to_string(list_slice(w, st, least(st + 63, len(w))), ' '))
        AS chunk_hash
      FROM s
    )
    SELECT CAST(COUNT(DISTINCT chunk_hash) AS BIGINT) AS n_unique_chunks,
           CAST(2 * COUNT(*) AS BIGINT) AS n_arrived_chunks
    FROM ch
    """,
)
def i26_stream_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SUB-document dedup — j102's chunk granularity inside
    a stream: arriving docs explode into 64-token chunk hashes in the
    micro-batch (stateless map), and dropDuplicates on the 16-byte
    hash keeps exactly the first arrival of every chunk. The source
    stages the documents file TWICE (at-least-once redelivery), so
    every chunk arrives exactly twice and must survive once — the
    oracle pins unique = distinct chunks, arrived = 2×. This is the
    streaming ingest front of a dedup store: doc-level streaming dedup
    (i5/i21) misses the copied SECTION inside a fresh doc; chunk-level
    state catches it at the granularity training examples are cut.

    Plan/scale: the explode is stateless per micro-batch; only the
    16-byte hash enters the dedup state store (keyed state, hash-
    partitioned across executors — state size = unique chunks, the
    same cardinality a batch dedup would shuffle). In production the
    state store is RocksDB with changelog checkpointing; bounded-state
    variants use dropDuplicatesWithinWatermark (i21) when re-delivery
    is time-local, or the j65 Bloom front when approximate suffices."""
    import os

    from json2hbase_spark.operators.text import whitespace_tokens

    src = f"{sf_dir}/documents.parquet"
    stage = scratch_dir("j2h_i26_dup_")
    os.symlink(src, os.path.join(stage, "0.parquet"))
    os.symlink(src, os.path.join(stage, "1.parquet"))
    schema = parquet_schema(spark, src)
    stream = spark.readStream.schema(schema).parquet(stage)
    toks = stream.select(whitespace_tokens(F.col("text")).alias("w")).filter(
        F.size("w") >= 1
    )
    st = F.explode(F.sequence(F.lit(1), F.size("w"), F.lit(64))).alias("st")
    chunks = toks.select("w", st).select(
        F.md5(F.concat_ws(" ", F.slice(F.col("w"), F.col("st"), 64))).alias(
            "chunk_hash"
        )
    )
    deduped = chunks.dropDuplicates(["chunk_hash"]).agg(
        F.count(F.lit(1)).alias("n_unique_chunks")
    )
    arrived = chunks.agg(F.count(F.lit(1)).alias("n_arrived_chunks"))
    uniq = _run_to_memory(deduped, "i26_mem", "complete")
    seen = _run_to_memory(arrived, "i26_arrived_mem", "complete")
    return uniq.crossJoin(seen).select(
        F.col("n_unique_chunks").cast("bigint").alias("n_unique_chunks"),
        F.col("n_arrived_chunks").cast("bigint").alias("n_arrived_chunks"),
    )


# ---------------------------------------------------------------- i27


@query(
    "i27_stream_scd2_maintain",
    oracle="""
    WITH chg AS (
      SELECT o_custkey AS custkey, o_orderpriority AS priority,
             o_orderdate::TIMESTAMP AS ts, o_orderkey,
             lag(o_orderpriority) OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey)
               AS prev_priority
      FROM orders
    ),
    starts AS (
      SELECT custkey, priority, ts, o_orderkey
      FROM chg
      WHERE prev_priority IS NULL OR priority != prev_priority
    ),
    vers AS (
      SELECT custkey, priority,
             row_number() OVER (PARTITION BY custkey
                                ORDER BY ts, o_orderkey) AS version,
             CAST(CAST(ts AS DATE) AS VARCHAR) AS eff_from,
             CAST(CAST(lead(ts) OVER (PARTITION BY custkey
                                      ORDER BY ts, o_orderkey) AS DATE)
                  AS VARCHAR) AS eff_to
      FROM starts
    )
    SELECT custkey, priority, CAST(version AS BIGINT) AS version,
           eff_from, eff_to,
           (eff_to IS NULL) AS is_current
    FROM vers
    """,
)
def i27_stream_scd2_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD2 maintenance — b12's history build kept current
    across REAL micro-batches via foreachBatch merge (the b12/c18
    warehouse pair's missing streaming leg): the change log arrives as
    three in-order time slices (maxFilesPerTrigger=1 → three batches),
    and each batch merges into the versioned history incrementally —
    new rows compare against the key's OPEN version's value (exactly
    the lag-collapse, because in an in-order stream the open version's
    value always equals the last raw row's), accepted changes close
    the open version ([eff_from, eff_to) gets its upper bound) and
    append new versions numbered from the key's previous max. Only
    AFFECTED keys' open rows are touched per batch; the closed history
    is carried forward untouched. The final history must hash-equal
    b12's one-shot batch build over the whole table — proving the
    merge is associative across batch boundaries.

    In-order is the contract (the staging cuts slice on ts, so rows
    with equal ts never straddle a batch and per-key (ts, o_orderkey)
    order is preserved); out-of-order change feeds need the
    c18-style affected-key REBUILD instead — collapsed state is lossy
    for retroactive inserts, documented here rather than silently
    wrong. State versions are swap-by-directory (i14's poor-man's
    ACID); at 100 TB this is a MERGE into a key-partitioned lakehouse
    table, and each batch's cost is O(batch + affected keys), not
    O(history).

    Plan per batch: one shuffle on custkey serves lag + row_number +
    lead over the batch slice (b12's exchange reuse at batch grain);
    the open-version lookup and the carry-forward filter are key
    joins against the state table. The staging min/max collect is the
    harness (slice boundaries), not the operator plan."""
    import glob as _glob
    import os
    import shutil

    from pyspark.sql import Window

    orders = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("ts"),
        "o_orderkey",
    )
    # --- staging harness: three in-order time slices, one file each
    b = orders.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    lo, hi = b["lo"], b["hi"]
    span = hi - lo
    cut1, cut2 = lo + span / 3, lo + 2 * span / 3
    stage = scratch_dir("j2h_i27_stage_")
    slices = (
        orders.filter(F.col("ts") < F.lit(cut1)),
        orders.filter((F.col("ts") >= F.lit(cut1)) & (F.col("ts") < F.lit(cut2))),
        orders.filter(F.col("ts") >= F.lit(cut2)),
    )
    for i, sl in enumerate(slices):
        tmp = scratch_dir("j2h_i27_half_")
        sl.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(stage, f"{i}.parquet"))
        shutil.rmtree(tmp, ignore_errors=True)

    state_root = scratch_dir("j2h_i27_state_")
    from json2hbase_spark.scratch import LAST_STAGED

    LAST_STAGED["i27_stream_scd2_maintain"] = state_root
    w = Window.partitionBy("custkey").orderBy("ts", "o_orderkey")

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        versions = sorted(_glob.glob(os.path.join(state_root, "v*")))
        state = sess.read.parquet(versions[-1]) if versions else None
        chg = batch_df.withColumn("prev", F.lag("priority").over(w))
        if state is not None:
            open_v = state.filter("is_current").select(
                "custkey",
                F.col("priority").alias("open_priority"),
                F.col("version").alias("open_version"),
            )
            chg = chg.join(open_v, "custkey", "left")
        else:
            chg = chg.withColumn(
                "open_priority", F.lit(None).cast("string")
            ).withColumn("open_version", F.lit(None).cast("bigint"))
        starts = chg.filter(
            (
                F.col("prev").isNull()
                & (
                    F.col("open_priority").isNull()
                    | (F.col("priority") != F.col("open_priority"))
                )
            )
            | (F.col("prev").isNotNull() & (F.col("priority") != F.col("prev")))
        )
        new_vers = starts.select(
            "custkey",
            "priority",
            (F.coalesce("open_version", F.lit(0)) + F.row_number().over(w))
            .cast("bigint")
            .alias("version"),
            F.col("ts").cast("date").cast("string").alias("eff_from"),
            F.lead("ts").over(w).cast("date").cast("string").alias("eff_to"),
        ).withColumn("is_current", F.col("eff_to").isNull())
        firsts = (
            starts.groupBy("custkey")
            .agg(F.min(F.struct("ts", "o_orderkey")).alias("s"))
            .select("custkey", F.col("s.ts").alias("first_ts"))
        )
        if state is not None:
            closed = (
                state.filter("is_current")
                .join(firsts, "custkey")
                .select(
                    "custkey",
                    "priority",
                    "version",
                    "eff_from",
                    F.col("first_ts").cast("date").cast("string").alias("eff_to"),
                    F.lit(False).alias("is_current"),
                )
            )
            kept = (
                state.join(firsts, "custkey", "left")
                .filter(~(F.col("is_current") & F.col("first_ts").isNotNull()))
                .drop("first_ts")
            )
            new_state = kept.unionByName(closed).unionByName(new_vers)
        else:
            new_state = new_vers
        new_state.write.mode("overwrite").parquet(
            os.path.join(state_root, f"v{batch_id:04d}")
        )

    schema = spark.read.parquet(stage).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)
    )
    run_stream(
        spark,
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", scratch_dir("ckpt_i27_"))
        .trigger(availableNow=True),
    )

    final_dir = sorted(_glob.glob(os.path.join(state_root, "v*")))[-1]
    return spark.read.parquet(final_dir).select(
        "custkey", "priority", "version", "eff_from", "eff_to", "is_current"
    )


# ---------------------------------------------------------------- i28


@query(
    "i28_stream_contamination_gate",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), x -> x != '') AS w
      FROM documents
    ),
    pos AS (
      SELECT doc_id, lang, i.i AS i,
             md5(array_to_string(list_slice(w, i.i, i.i + 7), ' ')) AS g
      FROM toks,
           LATERAL (SELECT unnest(range(1, len(w) - 6)) AS i) i
      WHERE len(w) >= 8
    ),
    bench AS (SELECT DISTINCT g FROM pos WHERE doc_id < 10),
    quarantined AS (
      SELECT DISTINCT p.doc_id FROM pos p JOIN bench b ON b.g = p.g
      WHERE p.doc_id >= 10
    )
    SELECT t.lang,
           CAST(COUNT(DISTINCT t.doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT q.doc_id) AS BIGINT) AS n_quarantined
    FROM toks t LEFT JOIN quarantined q ON q.doc_id = t.doc_id
    WHERE t.doc_id >= 10
    GROUP BY t.lang
    """,
)
def i28_stream_contamination_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING decontamination gate — j23/j111's benchmark-overlap
    test at ingest time: the (static, tiny) benchmark 8-token-gram
    set broadcasts against the arriving document stream, any doc
    sharing a gram is quarantined, and the per-lang pass/quarantine
    tally lands in complete mode. This is where decontamination
    belongs in a production pipeline — on the way IN, so a benchmark
    leak never reaches the training corpus — and the final sink must
    equal the batch computation over the same corpus (the oracle).

    Plan: the stream side explodes grams per micro-batch (stateless),
    a stream-static LEFT SEMI join against the broadcast benchmark
    grams flags hits, dropDuplicates on doc_id bounds the keyed state
    by QUARANTINED docs only (benchmark hits, ≈0 in a healthy
    corpus — not corpus-sized like naive stream dedup), and the two
    complete-mode tallies (|lang| rows each) join batch-side after
    the run. At 100 TB the benchmark set stays a broadcast literal of
    the eval suite, the stream side is scan-shaped."""
    from json2hbase_spark.io import load_table_stream
    from json2hbase_spark.operators.text import whitespace_tokens

    CONTAM_GRAM, BENCH_CUT = 8, 10
    # static side: benchmark grams from the at-rest corpus slice
    bench_docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id") < BENCH_CUT
    )
    bw = bench_docs.select(whitespace_tokens(F.col("text")).alias("w")).filter(
        F.size("w") >= CONTAM_GRAM
    )
    bench = (
        bw.select(
            F.explode(
                F.sequence(F.lit(1), F.size("w") - CONTAM_GRAM + 1)
            ).alias("i"),
            "w",
        )
        .select(
            F.md5(F.concat_ws(" ", F.slice("w", F.col("i"), CONTAM_GRAM))).alias("g")
        )
        .distinct()
    )

    stream = load_table_stream(spark, sf_dir, "documents").filter(
        F.col("doc_id") >= BENCH_CUT
    )
    sw = stream.select(
        "doc_id", "lang", whitespace_tokens(F.col("text")).alias("w")
    )
    grams = (
        sw.filter(F.size("w") >= CONTAM_GRAM)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.size("w") - CONTAM_GRAM + 1)
            ).alias("i"),
            "w",
        )
        .select(
            "doc_id",
            F.md5(F.concat_ws(" ", F.slice("w", F.col("i"), CONTAM_GRAM))).alias("g"),
        )
    )
    q_docs = (
        grams.join(F.broadcast(bench), "g", "left_semi")
        .dropDuplicates(["doc_id"])
        .select("doc_id")
    )
    all_tally = sw.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    all_docs = _run_to_memory(all_tally, "i28_all_mem", "complete")
    qd = _run_to_memory(q_docs, "i28_q_mem", "append")
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") >= BENCH_CUT)
    ql = (
        docs.join(qd, "doc_id", "left_semi")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_quarantined"))
    )
    return all_docs.join(ql, "lang", "left").select(
        "lang",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.coalesce("n_quarantined", F.lit(0)).cast("bigint").alias("n_quarantined"),
    )


# ---------------------------------------------------------------- i29


@query(
    "i29_stream_mixture_monitor",
    oracle="""
    WITH t AS (
      SELECT source,
             len(list_filter(string_split(text, ' '), x -> x != '')) AS tokens
      FROM documents
    ),
    s AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(tokens) AS BIGINT) AS n_tokens
      FROM t GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM s)
    SELECT s.source, s.n_docs, s.n_tokens,
           round(CAST(s.n_tokens AS DOUBLE) / tot.total, 4) AS token_share
    FROM s, tot
    """,
)
def i29_stream_mixture_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING source-mixture monitor — the live dashboard number a
    managed ingest watches: per-source doc and TOKEN tallies
    accumulated in complete mode as documents arrive, with each
    source's share of the total token stream. A source whose share
    drifts from the designed mixture (j19/j61's targets) is the
    earliest signal of an upstream crawler change — and it shows up
    here micro-batches before any quality metric moves. The final
    tally must equal the batch computation (the oracle).

    Plan: stateless per-batch token counts into a complete-mode
    |sources|-row aggregate (watermark-free, state bounded by the
    source domain); the share division runs batch-side on the final
    |sources|-row table against its own 1-row total — no second
    streaming query, no corpus-sized state."""
    from json2hbase_spark.io import load_table_stream
    from json2hbase_spark.operators.text import whitespace_tokens

    stream = load_table_stream(spark, sf_dir, "documents")
    tally = (
        stream.select(
            "source", F.size(whitespace_tokens(F.col("text"))).alias("tokens")
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tokens").alias("n_tokens"),
        )
    )
    s = _run_to_memory(tally, "i29_mem", "complete")
    tot = s.agg(F.sum("n_tokens").alias("total"))
    return (
        s.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.round(
                F.col("n_tokens").cast("double") / F.col("total"), 4
            ).alias("token_share"),
        )
    )


# ---------------------------------------------------------------- i30


def _i30_oracle() -> str:
    # identical oracle to batch j113 — the stream/batch equivalence
    # contract: the accumulated complete-mode tally must hash-match
    # the one-pass batch computation.
    from json2hbase_spark import registry as _registry
    from json2hbase_spark.plans import audit_queries  # noqa: F401 — registers j113

    return _registry.ORACLES["j113_quality_threshold_sweep"]


@query("i30_stream_threshold_sweep", oracle=None)
def i30_stream_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING quality-gate threshold sweep — j113's calibration
    table maintained LIVE as documents arrive: for every candidate
    gate threshold, the surviving doc count, surviving token budget,
    and survivor mean quality accumulate in complete mode per
    micro-batch, so the operator answering "what does each gate
    setting cost in tokens?" is current mid-ingest instead of
    requiring a batch pass over the corpus so far. The final tally
    must equal batch j113 exactly (same oracle SQL) — the
    stream/batch equivalence contract of i25/i29.

    Plan: a stateless per-doc scoring map (the j12 formula, rounded
    to 4 then summed as exact DECIMAL(18,4) — functions/exact.py's
    convention, so the accumulated mean is order-free and bit-equal
    to batch), fanned out ×|thresholds|+1 by an in-expression literal
    explode (the +1 is a thr=-1 sentinel lane carrying the corpus
    totals through the SAME aggregation, so no second streaming
    query); complete-mode state is |thresholds|+1 rows regardless of
    corpus size. The fraction divisions run batch-side on the final
    tiny table. At 100 TB of stream: per-batch work is scan-bound,
    the shuffle carries |thresholds|+1 partial rows per partition."""
    from json2hbase_spark.io import load_table_stream
    from json2hbase_spark.operators.text import quality_features, quality_score
    from json2hbase_spark.plans.audit_queries import GATE_THRESHOLDS

    stream = load_table_stream(spark, sf_dir, "documents")
    feats = quality_features(F.col("text"))
    quality = quality_score(feats)
    f = stream.select(
        feats["n_tokens"].cast("bigint").alias("n_tok"), quality.alias("quality")
    )
    thr = F.explode(
        F.array(*[F.lit(float(t)) for t in [-1.0, *GATE_THRESHOLDS]])
    ).alias("thr")
    sweep = f.select("n_tok", "quality", thr).filter(
        (F.col("thr") == -1.0) | (F.col("quality") >= F.col("thr"))
    )
    tally = sweep.groupBy("thr").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.sum(F.col("quality").cast("decimal(18,4)")).alias("q_sum"),
    )
    s = _run_to_memory(tally, "i30_mem", "complete")
    tot = s.filter(F.col("thr") == -1.0).select(
        F.col("n_docs").alias("tot_docs"), F.col("n_tokens").alias("tot_tokens")
    )
    return (
        s.filter(F.col("thr") != -1.0)
        .crossJoin(F.broadcast(tot))
        .select(
            "thr",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.round(F.col("q_sum").cast("double") / F.col("n_docs"), 4).alias(
                "mean_quality"
            ),
            F.round(F.col("n_docs").cast("double") / F.col("tot_docs"), 4).alias(
                "doc_frac"
            ),
            F.round(F.col("n_tokens").cast("double") / F.col("tot_tokens"), 4).alias(
                "token_frac"
            ),
        )
    )


from json2hbase_spark import registry as _registry_mod  # noqa: E402

_registry_mod.ORACLES["i30_stream_threshold_sweep"] = _i30_oracle()


# ---------------------------------------------------------------- i31


def _i31_oracle() -> str:
    # identical oracle to batch j115 — the stream/batch equivalence
    # contract for the live padding bill.
    from json2hbase_spark import registry as _registry
    from json2hbase_spark.plans import audit_queries  # noqa: F401 — registers j115

    return _registry.ORACLES["j115_packing_waste"]


@query("i31_stream_packing_monitor", oracle=None)
def i31_stream_packing_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING packing-waste monitor — j115's concat-vs-boundaries
    padding bill maintained LIVE per language as documents arrive:
    the three additive ingredients (doc count, real tokens, boundary
    sequence count Σceil(tok/SEQ_LEN)) accumulate in complete mode;
    the derived columns (concat sequences, boundary waste, waste
    ratio) are arithmetic over the final |langs|-row table. An ingest
    whose waste ratio drifts up is filling with short docs — visible
    here micro-batches before a packing job runs. Tally ≡ batch j115
    (same oracle SQL), the i25/i29/i30 equivalence contract.

    Plan: stateless per-doc token counts into a complete-mode
    |langs|-row aggregate (watermark-free, domain-bounded state);
    every accumulated column is an integer sum, so the stream total
    is exactly the batch total regardless of batch boundaries; the
    one float (waste ratio) is derived batch-side at the end."""
    from json2hbase_spark.io import load_table_stream
    from json2hbase_spark.operators.text import whitespace_tokens
    from json2hbase_spark.plans.audit_queries import SEQ_LEN

    stream = load_table_stream(spark, sf_dir, "documents")
    t = stream.select(
        "lang", F.size(whitespace_tokens(F.col("text"))).alias("tokens")
    )
    per_doc_seqs = F.ceil(F.col("tokens").cast("double") / SEQ_LEN).cast("bigint")
    tally = t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tokens").alias("total_tokens"),
        F.sum(per_doc_seqs).alias("boundary_sequences"),
    )
    g = _run_to_memory(tally, "i31_mem", "complete")
    boundary_waste = (
        F.col("boundary_sequences") * SEQ_LEN - F.col("total_tokens")
    ).cast("bigint")
    return g.select(
        "lang",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("total_tokens").cast("bigint").alias("total_tokens"),
        F.ceil(F.col("total_tokens").cast("double") / SEQ_LEN)
        .cast("bigint")
        .alias("concat_sequences"),
        F.col("boundary_sequences").cast("bigint").alias("boundary_sequences"),
        boundary_waste.alias("boundary_waste"),
        F.round(
            boundary_waste.cast("double")
            / (F.col("boundary_sequences") * SEQ_LEN),
            4,
        ).alias("waste_ratio"),
    )


_registry_mod.ORACLES["i31_stream_packing_monitor"] = _i31_oracle()


# ---------------------------------------------------------------- i32


def _i32_oracle() -> str:
    # identical oracle to batch j123 — the stream/batch equivalence
    # contract for the live coverage report.
    from json2hbase_spark import registry as _registry
    from json2hbase_spark.plans import selection_queries  # noqa: F401 — registers j123

    return _registry.ORACLES["j123_coreset_coverage"]


@query("i32_stream_coreset_monitor", oracle=None)
def i32_stream_coreset_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING coreset coverage monitor — j123 maintained LIVE: the
    exemplar set is fixed (j120's batch traversal over the reference
    corpus), and arriving embeddings are assigned to their nearest
    exemplar per micro-batch; per-center occupancy, worst-case cell
    distance and distance sum accumulate in complete mode. A cell
    whose max distance starts climbing means NEW data is drifting
    away from every chosen exemplar — the earliest "the coreset no
    longer covers the stream" signal, visible micro-batches before
    any batch re-selection runs. Final tally ≡ batch j123 (same
    oracle SQL) — the i25/i29/i30/i31 equivalence contract.

    Plan: the K centers collapse to ONE array-of-structs literal-like
    broadcast row (ordered by center_order, so the HOF argmin's
    strict-less fold reproduces j123's lowest-center tie rule); the
    per-row assignment is a stateless nested HOF fold (distance
    zip_with inside the argmin aggregate — no UDF, no per-doc state);
    complete-mode state is K rows regardless of stream length. At
    100 TB of stream: scan-bound per batch, one K-row exchange."""
    from json2hbase_spark.io import load_table_stream
    from json2hbase_spark.plans.selection_queries import KC_SCALE, _kcenter_traverse

    _, centers = _kcenter_traverse(spark, sf_dir)
    cent_row = centers.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("center_order").alias("o"), F.col("q").alias("cq")))
        ).alias("cs")
    )
    stream = load_table_stream(spark, sf_dir, "embeddings")
    q = F.transform(
        "embedding", lambda x: F.floor(x.cast("double") * KC_SCALE).cast("long")
    )
    dist = lambda c: F.aggregate(  # noqa: E731 — exact integer sq-dist
        F.zip_with(F.col("q"), c["cq"], lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    best = F.aggregate(
        F.col("cs"),
        F.struct(
            F.lit(None).cast("long").alias("d"), F.lit(-1).cast("int").alias("o")
        ),
        lambda acc, c: F.when(
            acc["d"].isNull() | (dist(c) < acc["d"]),
            F.struct(dist(c).alias("d"), c["o"].alias("o")),
        ).otherwise(acc),
    )
    assigned = (
        stream.select(q.alias("q"))
        .crossJoin(F.broadcast(cent_row))
        .select(best.alias("b"))
        .select(F.col("b.o").alias("center_order"), F.col("b.d").alias("d"))
    )
    tally = assigned.groupBy("center_order").agg(
        F.count(F.lit(1)).alias("n_assigned"),
        F.max("d").alias("max_sq_dist"),
        F.sum("d").alias("sum_sq_dist"),
    )
    g = _run_to_memory(tally, "i32_mem", "complete")
    return g.select(
        "center_order",
        F.col("n_assigned").cast("bigint").alias("n_assigned"),
        F.col("max_sq_dist").cast("bigint").alias("max_sq_dist"),
        F.col("sum_sq_dist").cast("bigint").alias("sum_sq_dist"),
        F.round(
            F.col("sum_sq_dist").cast("double") / F.col("n_assigned"), 4
        ).alias("mean_sq_dist"),
    )


_registry_mod.ORACLES["i32_stream_coreset_monitor"] = _i32_oracle()


# ---------------------------------------------------------------- i33


def _i33_oracle() -> str:
    """Batch twin of the streaming near-dup gate: the identical
    md5-family MinHash banding (j48's Carter-Wegman (h1 + k·h2) mod P
    over two 48-bit md5 base hashes) computed per-row with HOF folds
    on both sides, band-bucket candidates, exact-Jaccard confirm."""
    from json2hbase_spark.plans.corpus_queries import (
        MD5MH_BANDS,
        MD5MH_K,
        MD5MH_P,
        _duck_md5_base,
    )

    rows = MD5MH_K // MD5MH_BANDS
    mins_hof = ",\n         ".join(
        f"list_min(list_transform(range(1, len(h1s) + 1),"
        f" i -> (h1s[i] + {k} * h2s[i]) % {MD5MH_P})) AS m{k}"
        for k in range(MD5MH_K)
    )
    band_selects = "\n      UNION ALL ".join(
        f"SELECT doc_id, side, {b} AS band, concat_ws(','"
        + "".join(f", m{b * rows + r}" for r in range(rows))
        + ") AS bv FROM mins"
        for b in range(MD5MH_BANDS)
    )
    jacc = (
        "CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)"
        " / (len(sa.shingles) + len(sb.shingles)"
        " - len(list_intersect(sa.shingles, sb.shingles)))"
    )
    return f"""
    WITH normed AS (
      SELECT doc_id, source, doc_id % 2 = 0 AS is_corpus,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
      FROM documents
    ),
    sh AS MATERIALIZED (
      SELECT doc_id, source, is_corpus,
             list_distinct(list_transform(range(1, greatest(len(norm) - 7, 0) + 1),
                                          i -> substr(norm, i, 8))) AS shingles
      FROM normed WHERE len(norm) >= 8
    ),
    hs AS MATERIALIZED (
      SELECT doc_id, is_corpus,
             list_transform(shingles, s -> {_duck_md5_base("s", "a:")}) AS h1s,
             list_transform(shingles, s -> {_duck_md5_base("s", "b:")}) AS h2s
      FROM sh
    ),
    mins AS MATERIALIZED (
      SELECT doc_id, CASE WHEN is_corpus THEN 'c' ELSE 's' END AS side,
             {mins_hof}
      FROM hs
    ),
    bands AS MATERIALIZED (
      {band_selects}
    ),
    cand AS (
      SELECT DISTINCT s.doc_id AS stream_doc, c.doc_id AS corpus_doc
      FROM bands s JOIN bands c
        ON s.side = 's' AND c.side = 'c' AND s.band = c.band AND s.bv = c.bv
    ),
    quarantined AS (
      SELECT DISTINCT cd.stream_doc AS doc_id
      FROM cand cd
      JOIN sh sa ON sa.doc_id = cd.stream_doc
      JOIN sh sb ON sb.doc_id = cd.corpus_doc
      WHERE {jacc} >= 0.5
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(q.doc_id) AS BIGINT) AS n_quarantined
    FROM (SELECT doc_id, source FROM documents WHERE doc_id % 2 = 1) d
    LEFT JOIN quarantined q ON q.doc_id = d.doc_id
    GROUP BY d.source
    """


def _md5_minhash_bands_hof(df: DataFrame):
    """Per-row (no explode/groupBy) md5-family MinHash banding —
    j48's exact hash family re-expressed as stateless HOF folds so it
    runs on an UNBOUNDED stream: two md5 base hashes per shingle
    (h1s/h2s arrays), the k-th signature min as one zip_with +
    array_min per hash function, bands as a 4-struct explode.
    Returns (df_with_shingles, bands) where bands has
    (doc_id, band, bv). Input must carry doc_id + a ``shingles``
    array column."""
    from json2hbase_spark.plans.corpus_queries import (
        MD5MH_BANDS,
        MD5MH_K,
        MD5MH_P,
        _md5_base_col,
    )

    rows = MD5MH_K // MD5MH_BANDS
    hs = df.select(
        "*",
        F.transform("shingles", lambda s: _md5_base_col(s, "a:")).alias("h1s"),
        F.transform("shingles", lambda s: _md5_base_col(s, "b:")).alias("h2s"),
    )
    def _kth_min(k: int):
        return F.array_min(
            F.zip_with("h1s", "h2s", lambda a, b: (a + F.lit(k) * b) % MD5MH_P)
        ).alias(f"m{k}")

    mins = hs.select("*", *[_kth_min(k) for k in range(MD5MH_K)])
    bands = mins.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",", *[F.col(f"m{b * rows + r}") for r in range(rows)]
                        ).alias("bv"),
                    )
                    for b in range(MD5MH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bv")
    return mins, bands


@query("i33_stream_neardup_gate", oracle=_i33_oracle())
def i33_stream_neardup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING near-duplicate gate — the ingest-time complement of
    i26's exact-chunk and i28's gram gates, and the op a production
    crawler actually runs: every ARRIVING document is MinHash-banded
    (j48's fully hash-checked md5 Carter-Wegman family) against the
    STATIC corpus band index; band-bucket positives are confirmed
    with exact Jaccard (≥ 0.5) against the matched corpus shingle
    sets, and confirmed near-dups are quarantined before they ever
    reach the training corpus. Per-source pass/quarantine tallies
    accumulate in complete mode; the final sink must equal the batch
    banding computation over the same corpus (the oracle — the
    i25/i28/i29 stream≡batch equivalence contract). Corpus = even
    doc_ids (already ingested), stream = odd doc_ids (arriving).

    Plan: the signature is computed PER ROW with stateless HOF folds
    (two md5 base hashes per shingle, zip_with + array_min per hash
    function) instead of j48's explode + wide min-agg — the batch
    shape needs a corpus-keyed aggregation, the stream shape must not
    hold per-doc state; same family, same values, hash-checked. The
    static band index and corpus shingle sets broadcast into
    stream-static equi-joins (band/bv first — candidates only — then
    the shingle fetch + Jaccard confirm on positives only); sink
    state is QUARANTINED doc ids only (band-confirmed near-dups, ≈0
    in a healthy crawl), never corpus-sized. At 100 TB
    the band index is the small invariant (bands × corpus-dup
    clusters); arriving data is scan-shaped, and the confirm join
    touches only band positives — exactly the batch j48 cost model
    applied incrementally."""
    from json2hbase_spark.io import load_table_stream, widen
    from json2hbase_spark.operators.dedup import char_shingles, jaccard, normalize_text

    docs = load(spark, sf_dir, "documents")
    corpus = (
        widen(docs.filter(F.col("doc_id") % 2 == 0))
        .select(
            "doc_id",
            normalize_text(F.col("text")).alias("norm"),
        )
        .filter(F.length("norm") >= 8)
        .select("doc_id", char_shingles(F.col("norm"), 8).alias("shingles"))
    )
    # one materialization of the full signature table (shingles +
    # md5 base arrays + 16 mins): bands and the shingle lookup both
    # derive from it — without the cut each would re-evaluate the
    # whole md5 HOF chain (the j48 lesson, and widen() because the
    # single-file fixture scan is one task)
    corpus_sh, _ = _md5_minhash_bands_hof(corpus)
    corpus_mins = materialize(corpus_sh)
    from json2hbase_spark.plans.corpus_queries import MD5MH_BANDS, MD5MH_K

    _rows = MD5MH_K // MD5MH_BANDS
    static_bands = corpus_mins.select(
        F.col("doc_id").alias("corpus_doc"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",", *[F.col(f"m{b * _rows + r}") for r in range(_rows)]
                        ).alias("bv"),
                    )
                    for b in range(MD5MH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("corpus_doc", "bb.band", "bb.bv")
    static_sh = corpus_mins.select(
        F.col("doc_id").alias("corpus_doc"), F.col("shingles").alias("sh_c")
    )

    stream = load_table_stream(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 2 == 1
    )
    hits_dir = scratch_dir("i33_q_")
    tally_dir = scratch_dir("i33_tally_")

    def both_sinks(batch: DataFrame, _bid: int) -> None:
        # ONE source pass feeds both sinks (round 13, i40's posture —
        # VERDICT r12 #6's fix applied to the same two-replay shape
        # here): the former two-query run replayed the source through
        # the micro-batch engine twice (append quarantine + complete
        # tally). Each micro-batch now persists its SIGNATURE table
        # once — the md5/minhash HOF chain runs once per batch instead
        # of once per consumer (band probe + shingle confirm both ride
        # the cache) — and the per-source tally reads the raw batch.
        # Per-batch tallies sum associatively to the identical
        # complete-mode result; cross-batch duplicate quarantine rows
        # are collapsed by the left_semi consumer below, exactly the
        # guarantee the old stream-level dropDuplicates state bought.
        # The repartition keeps the old per-batch fan-out: the
        # single-file fixture arrives as ONE source split, which would
        # run the whole hash chain on one core; on a real multi-file
        # crawl feed this is a cheap rebalance.
        arriving = (
            batch.repartition(spark.sparkContext.defaultParallelism)
            .select("doc_id", normalize_text(F.col("text")).alias("norm"))
            .filter(F.length("norm") >= 8)
            .select("doc_id", char_shingles(F.col("norm"), 8).alias("shingles"))
        )
        arr_sh, arr_bands = _md5_minhash_bands_hof(arriving)
        arr_sh.persist()
        try:
            cand = arr_bands.join(F.broadcast(static_bands), ["band", "bv"]).select(
                "doc_id", "corpus_doc"
            )
            confirm = cand.join(
                arr_sh.select("doc_id", F.col("shingles").alias("sh_s")), "doc_id"
            ).join(F.broadcast(static_sh), "corpus_doc")
            (
                confirm.withColumn("jacc", jaccard(F.col("sh_s"), F.col("sh_c")))
                .filter(F.col("jacc") >= 0.5)
                .select("doc_id")
                .dropDuplicates(["doc_id"])
                .write.mode("append")
                .parquet(hits_dir)
            )
            (
                batch.groupBy("source")
                .agg(F.count(F.lit(1)).alias("n_b"))
                .write.mode("append")
                .parquet(tally_dir)
            )
        finally:
            arr_sh.unpersist()

    run_stream(
        spark,
        stream.writeStream.foreachBatch(both_sinks)
        .option("checkpointLocation", scratch_dir("ckpt_i33_"))
        .trigger(availableNow=True),
    )
    qd = spark.read.parquet(hits_dir)
    odd_docs = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "source")
    ql = (
        odd_docs.join(qd, "doc_id", "left_semi")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_quarantined"))
    )
    tally = (
        spark.read.parquet(tally_dir)
        .groupBy("source")
        .agg(F.sum("n_b").alias("n_docs"))
    )
    return tally.join(ql, "source", "left").select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.coalesce("n_quarantined", F.lit(0)).cast("bigint").alias(
            "n_quarantined"
        ),
    )


# ---------------------------------------------------------------- i34


def _i34_oracle() -> str:
    from json2hbase_spark.plans.vector_queries import _duck_pq_codebook_oracle

    return _duck_pq_codebook_oracle()


@query("i34_stream_pq_encode", oracle=_i34_oracle())
def i34_stream_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING product-quantization encoder — the ingest-time form
    of j129 and the vector-family completion of the i-monitor suite
    (i32 assigns to k-center exemplars; this assigns to trained PQ
    codebooks): the codebooks are trained ONCE on the reference
    corpus (j129's bit-exact grouped Lloyd), and every ARRIVING
    embedding is encoded per micro-batch — each of its {PQ_M}
    subvectors mapped to its nearest codebook centroid — exactly what
    a 100 TB vector-store ingest path does so raw floats never land
    in the index. Per-(subspace, code) occupancy and quantization
    distortion accumulate in complete mode; a cell whose live
    mean_dist climbs above its training-time value means the arriving
    distribution has drifted off the codebooks — the retrain signal,
    visible micro-batches before any batch audit. Final tally ≡ batch
    j129 (same oracle SQL) — the i25/i29–i33 stream≡batch
    equivalence contract.

    Plan: the trained codebooks collapse to {PQ_M} broadcast rows
    (sub, ordered centroid array); each arriving vector explodes to
    its {PQ_M} subvectors STATELESSLY, joins the static codebook row,
    and the argmin is a per-row HOF fold (strict-less keeps the
    lowest cluster on ties — j129's min(struct) rule) — no per-vector
    stream state anywhere; complete-mode state is the {PQ_M}×{PQ_K}
    tally regardless of stream length. Distortions cross as
    floor(d·1e9+0.5) BIGINTs (order-free sums). At 100 TB of stream:
    scan-bound per batch, one 64-row exchange."""
    from json2hbase_spark.io import load_table_stream
    from json2hbase_spark.plans.vector_queries import (
        PQ_DIST_SCALE,
        PQ_K,
        PQ_M,
        PQ_SUBDIM,
        _pq_train,
    )

    _, cents, _ = _pq_train(spark, sf_dir)
    cb = cents.groupBy("sub").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("cluster").alias("cl"), F.col("ce").alias("ce")))
        ).alias("cbs")
    )
    stream = load_table_stream(spark, sf_dir, "embeddings")
    subrows = stream.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("sub"),
                        F.transform(
                            F.slice("embedding", s * PQ_SUBDIM + 1, PQ_SUBDIM),
                            lambda x: x.cast("double"),
                        ).alias("sv"),
                    )
                    for s in range(PQ_M)
                ]
            )
        ).alias("ss")
    ).select("ss.sub", "ss.sv")
    dist = lambda c: F.aggregate(  # noqa: E731 — sequential double fold
        F.zip_with(F.col("sv"), c["ce"], lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    best = F.aggregate(
        F.col("cbs"),
        F.struct(
            F.lit(None).cast("double").alias("d"), F.lit(-1).cast("int").alias("cl")
        ),
        lambda acc, c: F.when(
            acc["d"].isNull() | (dist(c) < acc["d"]),
            F.struct(dist(c).alias("d"), c["cl"].alias("cl")),
        ).otherwise(acc),
    )
    assigned = (
        subrows.join(F.broadcast(cb), "sub")
        .select("sub", best.alias("b"))
        .select(
            "sub",
            F.col("b.cl").alias("cluster"),
            F.floor(F.col("b.d") * PQ_DIST_SCALE + 0.5).cast("long").alias("qd"),
        )
    )
    tally = assigned.groupBy("sub", "cluster").agg(
        F.count(F.lit(1)).alias("n_assigned"),
        F.sum("qd").alias("sum_qdist"),
    )
    g = _run_to_memory(tally, "i34_mem", "complete")
    return g.select(
        F.col("sub").cast("int").alias("sub"),
        F.col("cluster").cast("int").alias("cluster"),
        F.col("n_assigned").cast("bigint").alias("n_assigned"),
        F.col("sum_qdist").cast("bigint").alias("sum_qdist"),
        F.round(
            F.col("sum_qdist").cast("double")
            / (F.col("n_assigned") * PQ_DIST_SCALE),
            6,
        ).alias("mean_dist"),
    )


# ---------------------------------------------------------------- i35

OOV_VOCAB_K = 16  # fixed ingest vocabulary: top-K types (fixture |V| = 31)


def _i35_oracle() -> str:
    return f"""
    WITH toks AS (
      SELECT source, unnest(list_filter(string_split(text, ' '), x -> x != ''))
               AS token
      FROM documents
    ),
    vocab AS (
      SELECT token FROM (
        SELECT token, row_number() OVER (ORDER BY COUNT(*) DESC, token) AS rnk
        FROM toks GROUP BY token
      ) WHERE rnk <= {OOV_VOCAB_K}
    )
    SELECT t.source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           round(CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS oov_rate
    FROM toks t LEFT JOIN vocab v ON v.token = t.token
    GROUP BY t.source
    """


@query("i35_stream_oov_monitor", oracle=_i35_oracle())
def i35_stream_oov_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING out-of-vocabulary monitor — j135's tokenizer-budget
    decision watched LIVE at ingest: the vocabulary is fixed (top-
    {OOV_VOCAB_K} types of the reference corpus, j135's frequency
    ranking at one K), and every arriving document's tokens are
    checked against it; per-source token and OOV tallies accumulate
    in complete mode. A source whose live oov_rate climbs above its
    training-time value is drifting off the tokenizer — new jargon,
    a new language, or a crawler bug — THE signal that the vocab
    (and everything downstream of tokenization) needs a refresh,
    visible micro-batches before any batch audit. Final tally ≡ the
    batch computation (same oracle — the i25/i29–i34 stream≡batch
    equivalence contract).

    Plan: the vocabulary broadcasts as a {OOV_VOCAB_K}-row static
    side into a stream-static left join on the stateless token
    explode (no per-doc state); complete-mode state is |sources|
    rows regardless of stream length. At 100 TB of stream:
    scan-shaped per batch, one |sources|-row exchange."""
    from json2hbase_spark.io import load_table_stream, widen
    from json2hbase_spark.operators.text import whitespace_tokens

    docs = load(spark, sf_dir, "documents")
    cnt = (
        widen(docs)
        .select(F.explode(whitespace_tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("c"))
    )
    # top-K via TakeOrderedAndProject (per-partition top-K + a K-row
    # merge — no global sort, no single-partition exchange), batch-side
    vocab = (
        cnt.orderBy(F.desc("c"), F.asc("token"))
        .limit(OOV_VOCAB_K)
        .select("token", F.lit(1).alias("_inv"))
    )
    stream = load_table_stream(spark, sf_dir, "documents")
    toks = stream.select(
        "source", F.explode(whitespace_tokens(F.col("text"))).alias("token")
    )
    flagged = toks.join(F.broadcast(vocab), "token", "left")
    tally = flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("_inv").isNull(), 1).otherwise(0)).alias("n_oov"),
    )
    g = _run_to_memory(tally, "i35_mem", "complete")
    return g.select(
        "source",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_oov").cast("bigint").alias("n_oov"),
        F.round(F.col("n_oov").cast("double") / F.col("n_tokens"), 6).alias(
            "oov_rate"
        ),
    )


# ---------------------------------------------------------------- i36


def _i36_oracle() -> str:
    from json2hbase_spark.plans.selection_queries import (
        COV_SCALE,
        POWER_ITERS,
        _duck_power_parts,
    )
    from json2hbase_spark.plans.vector_queries import ENERGY_DECILES

    last = POWER_ITERS
    parts = _duck_power_parts()
    parts.append(
        f"""evl AS (
      SELECT list(e.v * sgn.sg ORDER BY e.dim) AS v
      FROM v{last} e, sgn GROUP BY sgn.sg
    ),
    vvw AS (SELECT CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT)
              AS vv FROM evl),
    dots AS (
      SELECT vec_id,
             CAST(list_sum(list_transform(range(1, 65),
                    i -> q[i] * evl.v[i])) AS BIGINT) AS qv,
             CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS qq
      FROM (SELECT vec_id,
                   list_transform(embedding,
                                  x -> CAST(floor(CAST(x AS DOUBLE) * {COV_SCALE})
                                            AS BIGINT)) AS q
            FROM embeddings), evl
    ),
    en AS (
      SELECT CASE WHEN qq = 0 THEN 0.0
                  ELSE (CAST(qv AS DOUBLE) * CAST(qv AS DOUBLE))
                       / (CAST(qq AS DOUBLE) * CAST(t.vv AS DOUBLE))
             END AS e
      FROM dots, vvw t
    )
    SELECT CAST(least(CAST(floor(e * {ENERGY_DECILES}) AS BIGINT),
                      {ENERGY_DECILES - 1}) AS INT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CAST(floor(e * 1000000) AS BIGINT)) AS BIGINT) AS sum_qe,
           round(CAST(SUM(CAST(floor(e * 1000000) AS BIGINT)) AS DOUBLE)
                 / (COUNT(*) * 1000000), 6) AS mean_energy
    FROM en GROUP BY 1"""
    )
    return "WITH " + ",\n    ".join(parts)


@query("i36_stream_energy_monitor", oracle=_i36_oracle())
def i36_stream_energy_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING common-axis energy monitor — j133's per-vector audit
    watched LIVE at ingest (completing this round's streaming-twin
    set: i34 ↔ j129, i35 ↔ j135, i36 ↔ j133): the top principal axis
    is pinned batch-side (j121's accelerated power iteration over the
    reference corpus), and every ARRIVING embedding's common-axis
    energy share lands in its decile bucket; per-decile counts and
    quantized energy sums accumulate in complete mode. Mass shifting
    toward decile 9 means arriving vectors are increasingly
    boilerplate-axis — similarity scores are inflating and j128's
    whitening (or a re-fit of the axis) is due; mass shifting to
    decile 0 means the pinned axis no longer describes the stream.
    Final tally ≡ the batch histogram (same oracle — the i25/i29–i35
    stream≡batch equivalence contract).

    Plan: eigvec + its norm collapse to ONE broadcast row (i32's
    shape); the energy is a stateless per-row HOF fold (exact int64
    dots, one double ratio of exactly-representable ints — both
    engines floor the identical double); complete-mode state is ≤
    {10} rows at any stream length. At 100 TB of stream: scan-bound
    per batch, one 10-row exchange."""
    from json2hbase_spark.io import load_table_stream
    from json2hbase_spark.plans.selection_queries import COV_SCALE, _power_eigvec
    from json2hbase_spark.plans.vector_queries import ENERGY_DECILES

    v_signed, _ = _power_eigvec(spark, sf_dir)
    ev_row = (
        v_signed.agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "v"))), lambda x: x["v"]
            ).alias("v")
        )
        .select(
            "v",
            F.aggregate(
                F.zip_with("v", "v", lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("vv"),
        )
    )
    stream = load_table_stream(spark, sf_dir, "embeddings")
    fold = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    q = F.transform(
        "embedding", lambda x: F.floor(x.cast("double") * COV_SCALE).cast("long")
    )
    dots = (
        stream.select(q.alias("q"))
        .crossJoin(F.broadcast(ev_row))
        .select(
            fold(F.zip_with("q", "v", lambda a, b: a * b)).alias("qv"),
            fold(F.zip_with("q", "q", lambda a, b: a * b)).alias("qq"),
            "vv",
        )
    )
    energy = F.when(F.col("qq") == 0, F.lit(0.0)).otherwise(
        (F.col("qv").cast("double") * F.col("qv").cast("double"))
        / (F.col("qq").cast("double") * F.col("vv").cast("double"))
    )
    binned = dots.select(
        F.least(
            F.floor(energy * ENERGY_DECILES).cast("long"),
            F.lit(ENERGY_DECILES - 1).cast("long"),
        )
        .cast("int")
        .alias("decile"),
        F.floor(energy * 1000000).cast("long").alias("qe"),
    )
    tally = binned.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("qe").alias("sum_qe"),
    )
    g = _run_to_memory(tally, "i36_mem", "complete")
    return g.select(
        "decile",
        F.col("n_vecs").cast("bigint").alias("n_vecs"),
        F.col("sum_qe").cast("bigint").alias("sum_qe"),
        F.round(
            F.col("sum_qe").cast("double") / (F.col("n_vecs") * 1000000), 6
        ).alias("mean_energy"),
    )


# ---------------------------------------------------------------- i37


def _i37_oracle() -> str:
    from json2hbase_spark.plans.selection_queries import _DUCK_J97_COV

    return _DUCK_J97_COV


@query("i37_stream_cov_monitor", oracle=_i37_oracle())
def i37_stream_cov_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING covariance maintenance — j144's incremental merge as
    a LIVE accumulator (the i-twin VERDICT r10 #8 asks for): arriving
    embeddings pair-explode into j97's quantized terms and the
    (i, j)-keyed complete-mode state carries (n, Σqiqj, Σqi, Σqj) —
    exactly the additive artifact j144 merges in batch, maintained
    per micro-batch instead. The final tally derives cov_num/cov with
    j97's formula and must equal the batch covariance BIT-FOR-BIT
    (same oracle as j97 — the i25/i29–i36 stream≡batch equivalence
    contract). At 100 TB of stream this is the covariance the
    whitening chain (j121/j127/j128) reads WITHOUT a corpus rescan:
    state is d(d+1)/2 rows (2,080 at d=64) regardless of stream
    length, and each micro-batch's work is the same map-side
    combinable pair agg j97 pays once.

    Exactness: identical integer terms (order-free BIGINT sums —
    micro-batch boundaries are just another summation order); the
    float cov divides/rounds once at read time. Plan: stateless
    pair explode (d(d+1)/2 rows per vector, codegen'd) into ONE
    (i, j)-keyed streaming agg; the memory-sink read derives the two
    final columns."""
    from json2hbase_spark.io import load_table_stream
    from json2hbase_spark.plans.selection_queries import COV_SCALE

    stream = load_table_stream(spark, sf_dir, "embeddings")
    q = F.transform(
        "embedding", lambda x: F.floor(x.cast("double") * COV_SCALE).cast("long")
    )
    p1 = stream.select(q.alias("q")).select("q", F.posexplode("q").alias("i", "qi"))
    p2 = p1.select("i", "qi", F.posexplode("q").alias("j", "qj")).filter(
        F.col("j") >= F.col("i")
    )
    terms = p2.groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("qi") * F.col("qj")).alias("sxy"),
        F.sum("qi").alias("sx"),
        F.sum("qj").alias("sy"),
    )
    g = _run_to_memory(terms, "i37_mem", "complete")
    cov_num = (
        F.col("n").cast("bigint") * F.col("sxy").cast("bigint")
        - F.col("sx").cast("bigint") * F.col("sy").cast("bigint")
    )
    return g.select(
        F.col("i").cast("int").alias("i"),
        F.col("j").cast("int").alias("j"),
        cov_num.alias("cov_num"),
        F.round(
            cov_num.cast("double")
            / (
                F.col("n").cast("double")
                * F.col("n").cast("double")
                * COV_SCALE
                * COV_SCALE
            ),
            6,
        ).alias("cov"),
    )


# ---------------------------------------------------------------- i38


def _i38_oracle() -> str:
    from json2hbase_spark.plans.curation_queries import _DUCK_J149_UNIMAX

    return _DUCK_J149_UNIMAX


@query("i38_stream_unimax_monitor", oracle=_i38_oracle())
def i38_stream_unimax_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING UNIMAX re-planner — j149 watched live: per-language
    token tallies accumulate in complete mode as documents arrive,
    and the closed-form water-filling (j149's exact integer
    arithmetic, shared helper) re-derives the allocation from the
    ≤|langs|-row tally at every read — the mixture planner that
    tracks an ingest INSTEAD of waiting for the corpus to close. A
    language flipping capped→uncapped as its share of arrivals drops
    is the signal to re-balance samplers mid-crawl. Final answer ≡
    j149's batch allocation (same oracle — the stream≡batch
    contract).

    Plan: stateless per-row token count into ONE lang-keyed complete
    state (|langs| rows at any stream length); all allocation math
    runs on the tally at read time (broadcast theta rank join,
    j149's shape). At 100 TB of stream: scan-bound per batch, a
    |langs|-row exchange."""
    from json2hbase_spark.io import load_table_stream
    from json2hbase_spark.operators.text import whitespace_tokens
    from json2hbase_spark.plans.curation_queries import _unimax_from_tokens

    stream = load_table_stream(spark, sf_dir, "documents")
    tally = (
        stream.select("lang", F.size(whitespace_tokens(F.col("text"))).alias("nt"))
        .groupBy("lang")
        .agg(F.sum("nt").alias("tokens"))
    )
    lt = _run_to_memory(tally, "i38_mem", "complete").select(
        "lang", F.col("tokens").cast("bigint").alias("tokens")
    )
    return _unimax_from_tokens(lt)


# ---------------------------------------------------------------- i39


def _i39_oracle() -> str:
    from json2hbase_spark.plans.curation_queries import _duck_c4_oracle

    return _duck_c4_oracle()


@query("i39_stream_c4_gate", oracle=_i39_oracle())
def i39_stream_c4_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING C4 gate — j150's line-cleaning report maintained
    LIVE at ingest: every arriving doc's lines are synthesized,
    judged, and page-ruled STATELESSLY inside the micro-batch (the
    C4 rules are per-document — no cross-doc state), and the
    per-source survival tally accumulates in complete mode. The gate
    report a crawl pipeline publishes continuously instead of after
    the crawl closes; final tally ≡ j150's batch report (same
    oracle — the stream≡batch contract).

    Plan: stateless per-row line HOFs (j150's codegen'd shapes, no
    explode) into ONE source-keyed complete-mode agg — |sources|
    state rows at any stream length; scan-bound per batch."""
    from json2hbase_spark.io import load_table_stream
    from json2hbase_spark.operators.text import whitespace_tokens
    from json2hbase_spark.plans.curation_queries import (
        C4_LINE_WORDS,
        C4_MIN_SENT,
        _C4_JS,
        _C4_LOREM,
    )

    stream = load_table_stream(spark, sf_dir, "documents")
    w = whitespace_tokens(F.col("text"))
    base = stream.select("doc_id", "source", w.alias("w")).filter(F.size("w") >= 1)
    chunk = F.transform(
        F.sequence(F.lit(0), F.expr("(size(w) + 7) div 8 - 1")),
        lambda ci: F.concat(
            F.array_join(F.slice(F.col("w"), ci.cast("int") * 8 + 1, 8), " "),
            F.when((F.col("doc_id") + ci) % 5 != 0, F.lit(".")).otherwise(F.lit("")),
        ),
    )
    extra = F.filter(
        F.array(
            F.when(F.col("doc_id") % 7 == 0, F.lit(_C4_LOREM)),
            F.when(F.col("doc_id") % 5 == 0, F.lit(_C4_JS)),
            F.lit("ok."),
        ),
        lambda x: x.isNotNull(),
    )
    lined = base.select("doc_id", "source", F.concat(chunk, extra).alias("lines"))
    wc = lambda l: F.size(F.filter(F.split(l, " "), lambda t: t != ""))  # noqa: E731
    kept = lambda l: (  # noqa: E731
        l.endswith(".") & (wc(l) >= C4_LINE_WORDS) & ~l.contains("javascript")
    )
    kept_lines = F.filter(F.col("lines"), kept)
    perdoc = lined.select(
        "source",
        F.size("lines").cast("bigint").alias("lines_total"),
        F.size(kept_lines).cast("bigint").alias("lines_kept"),
        F.coalesce(
            F.aggregate(
                F.transform(kept_lines, wc),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("tok_kept"),
        (
            F.size(F.filter(F.col("lines"), lambda l: l.contains("lorem ipsum"))) > 0
        ).alias("has_lorem"),
    ).withColumn(
        "doc_kept", ~F.col("has_lorem") & (F.col("lines_kept") >= C4_MIN_SENT)
    )
    tally = perdoc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("doc_kept"), 1).otherwise(0)).alias("n_docs_kept"),
        F.sum(F.when(F.col("has_lorem"), 1).otherwise(0)).alias("n_lorem_docs"),
        F.sum(
            F.when(~F.col("has_lorem") & (F.col("lines_kept") < C4_MIN_SENT), 1)
            .otherwise(0)
        ).alias("n_thin_docs"),
        F.sum("lines_total").alias("lines_total"),
        F.sum("lines_kept").alias("lines_kept"),
        F.sum(F.when(F.col("doc_kept"), F.col("tok_kept")).otherwise(0)).alias(
            "tokens_kept"
        ),
    )
    g = _run_to_memory(tally, "i39_mem", "complete")
    return g.select(
        "source",
        *[
            F.col(c).cast("bigint").alias(c)
            for c in (
                "n_docs",
                "n_docs_kept",
                "n_lorem_docs",
                "n_thin_docs",
                "lines_total",
                "lines_kept",
                "tokens_kept",
            )
        ],
    )


# ---------------------------------------------------------------- i40


def _i40_oracle() -> str:
    from json2hbase_spark.plans.corpus_queries import EXSUB_W

    return f"""
    WITH toks AS (
      SELECT doc_id, source,
             list_filter(string_split(text, ' '), x -> x != '') AS w
      FROM documents
    ),
    grams AS (
      SELECT doc_id, pos,
             array_to_string(list_slice(w, pos + 1, pos + {EXSUB_W}), ' ') AS g
      FROM (SELECT doc_id, w,
                   unnest(range(0, greatest(len(w) - {EXSUB_W - 1}, 0))) AS pos
            FROM toks)
    ),
    cidx AS (SELECT DISTINCT g FROM grams WHERE doc_id % 2 = 0),
    bhits AS (
      SELECT b.doc_id, b.pos FROM grams b JOIN cidx USING (g)
      WHERE b.doc_id % 2 = 1
    ),
    covered AS (
      SELECT DISTINCT doc_id, pos + o.off AS idx
      FROM bhits, (SELECT unnest(range(1, {EXSUB_W + 1})) AS off) o
    ),
    perdoc AS (SELECT doc_id, COUNT(*) AS n_cov FROM covered GROUP BY doc_id)
    SELECT t.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN p.n_cov > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged,
           CAST(SUM(COALESCE(p.n_cov, 0)) AS BIGINT) AS tokens_covered
    FROM (SELECT doc_id, source FROM toks WHERE doc_id % 2 = 1) t
    LEFT JOIN perdoc p ON p.doc_id = t.doc_id
    GROUP BY t.source
    """


@query("i40_stream_exsub_gate", oracle=_i40_oracle())
def i40_stream_exsub_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING exact-substring gate — j152/j153 live (round 12; the
    i-twin the grain ladder was missing, i33's posture at the token
    grain): every ARRIVING document (odd doc_ids) is 50-gram
    fingerprinted per micro-batch and probed against the STATIC
    corpus gram index (even doc_ids — in production the persisted
    index j153 maintains); gram hits land in an append sink, and the
    per-source report — docs seen, docs carrying any duplicated
    extent, and the total tokens those extents cover — accumulates as
    the crawl runs. Final ≡ the batch computation over the same
    corpus (the i25/i28/i33 stream≡batch contract, same oracle).

    Plan: the index is ONE materialized distinct-hash table that
    broadcasts into a stream-static equi join (8-byte keys; gram
    strings never leave the executor that hashed them); arriving work
    is scan-shaped per micro-batch (repartition → in-row gram HOFs →
    posexplode → hashed probe), sink state = gram HITS only (≈0 in a
    healthy crawl, duplicated extents in a contaminated one) plus a
    |sources|-row per-batch tally — corpus-length-independent. ONE
    foreachBatch sink maintains both (round 13, VERDICT r12 #6): the
    former two-query posture (append gate + complete tally) replayed
    the whole source through the micro-batch engine twice; now each
    micro-batch persists once and feeds both the gate probe and the
    per-source count, whose per-batch rows sum associatively to the
    identical complete tally (the i14 merge posture). At 100 TB the
    index is the big invariant; sharding it turns the broadcast into
    a bucketed join, same contract."""
    from json2hbase_spark.io import load_table_stream, widen
    from json2hbase_spark.operators.text import whitespace_tokens
    from json2hbase_spark.plans.corpus_queries import EXSUB_W, word_ngrams

    docs = load(spark, sf_dir, "documents")
    corpus = (
        widen(docs.filter(F.col("doc_id") % 2 == 0))
        .select("doc_id", whitespace_tokens(F.col("text")).alias("w"))
        .filter(F.size("w") >= EXSUB_W)
        .select(F.explode(word_ngrams(F.col("w"), EXSUB_W)).alias("g"))
        .select(F.xxhash64("g").alias("gk"))
        .distinct()
    )
    cidx = materialize(corpus)

    stream = load_table_stream(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 2 == 1
    )
    hits_dir = scratch_dir("i40_hits_")
    tally_dir = scratch_dir("i40_tally_")

    def both_sinks(batch: DataFrame, _bid: int) -> None:
        # one source pass feeds both sinks: persist the micro-batch,
        # derive gate hits AND the per-source tally from the same
        # in-memory rows, drop it
        batch.persist()
        try:
            (
                batch.repartition(spark.sparkContext.defaultParallelism)
                .select("doc_id", whitespace_tokens(F.col("text")).alias("w"))
                .filter(F.size("w") >= EXSUB_W)
                .select(
                    "doc_id",
                    F.posexplode(word_ngrams(F.col("w"), EXSUB_W)).alias(
                        "pos0", "g"
                    ),
                )
                .select("doc_id", "pos0", F.xxhash64("g").alias("gk"))
                .join(cidx, "gk")
                .select("doc_id", "pos0")
                .write.mode("append")
                .parquet(hits_dir)
            )
            (
                batch.groupBy("source")
                .agg(F.count(F.lit(1)).alias("n_b"))
                .write.mode("append")
                .parquet(tally_dir)
            )
        finally:
            batch.unpersist()

    run_stream(
        spark,
        stream.writeStream.foreachBatch(both_sinks)
        .option("checkpointLocation", scratch_dir("ckpt_i40_"))
        .trigger(availableNow=True),
    )
    hd = spark.read.parquet(hits_dir)
    perdoc = (
        hd.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos0") + 1, F.col("pos0") + EXSUB_W)
            ).alias("idx"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_cov"))
    )
    odd_docs = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "source")
    per_source = (
        odd_docs.join(perdoc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.sum(F.when(F.col("n_cov") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_flagged"),
            F.sum(F.coalesce("n_cov", F.lit(0))).cast("bigint").alias(
                "tokens_covered"
            ),
        )
    )
    tally = (
        spark.read.parquet(tally_dir)
        .groupBy("source")
        .agg(F.sum("n_b").alias("n_docs"))
    )
    return tally.join(per_source, "source").select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        "n_flagged",
        "tokens_covered",
    )


# ---------------------------------------------------------------- i41


def _i41_oracle() -> str:
    # importing the module registers j156 and its oracle (no cycle:
    # audit_queries never imports streaming_queries)
    import json2hbase_spark.plans.audit_queries  # noqa: F401
    from json2hbase_spark.registry import ORACLES

    return ORACLES["j156_k_anonymity"]


@query("i41_stream_k_anonymity", oracle=_i41_oracle())
def i41_stream_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING k-anonymity monitor — j156 watched live (round 12;
    the privacy twin of i38's mixture re-planner): every arriving
    document lands in its (lang, source, length-bucket)
    quasi-identifier class, class sizes accumulate in complete mode,
    and the per-source k-anonymity report is re-derived from the
    bounded class tally at every read. The ingest-time floor a
    release pipeline watches: a NEW quasi-identifier class appears
    with size 1 the moment its first document arrives, so the
    monitor flags the k=1 exposure DURING the crawl instead of at
    release review. Final ≡ j156's batch audit (same oracle — the
    stream≡batch contract).

    Plan: stateless per-row bucket derivation into ONE
    (source, lang, bucket)-keyed complete state (≤ |sources|·|langs|·
    |buckets| rows at any stream length — corpus-independent); the
    per-source re-agg runs on the tally at read time. Scan-bound per
    batch."""
    from json2hbase_spark.io import load_table_stream
    from json2hbase_spark.plans.audit_queries import KANON_BUCKET, KANON_K

    stream = load_table_stream(spark, sf_dir, "documents")
    tally = (
        stream.select(
            "source",
            "lang",
            F.expr(f"n_chars div {KANON_BUCKET}").alias("bucket"),
        )
        .groupBy("source", "lang", "bucket")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    qi = _run_to_memory(tally, "i41_mem", "complete")
    return qi.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.min("sz").cast("bigint").alias("k_anonymity"),
        F.sum(F.when(F.col("sz") < KANON_K, 1).otherwise(0))
        .cast("bigint")
        .alias("n_small_groups"),
        F.sum(F.when(F.col("sz") < KANON_K, F.col("sz")).otherwise(0))
        .cast("bigint")
        .alias("n_docs_at_risk"),
    )
