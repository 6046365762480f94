"""Structured Streaming surface (SURVEY.md §2.10).

The reference is a pure value library with no streaming semantics;
this is the engine-side demo mandated by the survey: tile assignment
is STATELESS (the encode UDF + parent() Column work unchanged on a
stream), and per-tile tumbling-window aggregation uses watermarked
event time — late rows beyond the watermark are dropped by Spark's
standard semantics, no custom state store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s2spark import columns as CC
from s2spark.udfs import s2_cell_id

EVENTS_SCHEMA = ("event_id long, ts timestamp, user_id long, "
                 "event_type string, value double, props string")

WATERMARK = "30 minutes"       # late-data horizon of the tile windows
SESSION_GAP = "30 minutes"     # inactivity gap that closes a session
USER_SKETCH_LG_K = 12          # HLL lgConfigK of the per-tile user sketch
DEDUP_WATERMARK = "1 hour"     # replay horizon of the streaming dedup
STATEFUL_TILE_LEVEL = 2        # tile level of the running totals


def geo_events(events: DataFrame, level: int = 8) -> DataFrame:
    """derive deterministic lat/lng for the demo (events carry no geo)
    and assign tiles — identical expression tree works for batch and
    stream (the point of the demo)."""
    lat = ((F.col("event_id") * F.lit(7) + F.col("user_id")) % F.lit(170)
           - F.lit(85) + F.col("value") / F.lit(1000.0))
    lng = (F.col("event_id") % F.lit(360) - F.lit(180))
    df = events.withColumn("lat", lat).withColumn("lng", lng.cast("double"))
    df = df.withColumn("cell_id", s2_cell_id("lat", "lng"))
    return df.withColumn("tile_id", CC.parent("cell_id", level)) \
        .withColumn("tile_token", CC.token("tile_id"))


def read_events_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    return spark.readStream.schema(EVENTS_SCHEMA).parquet(events_dir)


def read_events_per_file(spark: SparkSession, events_dir: str) -> DataFrame:
    """the events stream one input FILE per micro-batch, so state must
    carry across batches."""
    return spark.readStream.schema(EVENTS_SCHEMA) \
        .option("maxFilesPerTrigger", "1").parquet(events_dir)


def run_to_memory(stream: DataFrame, name: str, mode: str) -> DataFrame:
    """drain ``stream`` (availableNow) into the memory sink ``name`` in
    output ``mode``; returns the sink table.

    TEST-ONLY runner (ADVICE r5): outputMode('complete') keeps every
    window ever seen in the memory sink, so total state grows with the
    window count even though per-group state is bounded. A production
    deployment should use append/update mode so the watermark actually
    evicts closed windows."""
    q = stream.writeStream.format("memory").queryName(name) \
        .outputMode(mode).trigger(availableNow=True).start()
    q.awaitTermination()
    return stream.sparkSession.table(name)


def windowed_tile_counts(events: DataFrame) -> DataFrame:
    """per-(window, tile) event counts with late-data watermark; works
    on both a batch and a streaming DataFrame."""
    df = geo_events(events)
    if df.isStreaming:
        df = df.withWatermark("ts", WATERMARK)
    return df.groupBy(F.window("ts", "10 minutes").start.alias("win_start"),
                      "tile_token") \
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 2).alias("sum_value"))


def user_sessions(events: DataFrame) -> DataFrame:
    """SESSION WINDOWS (SURVEY §2.10): per-user sessions that merge
    events within ``SESSION_GAP`` of each other — Spark's native
    ``session_window`` on both batch and streaming DataFrames, the
    streaming twin of the batch gaps-and-islands query
    (``__spark_entry__._q_event_sessions``, DuckDB-oracled). Output:
    (user_id, start_ts, end_ts, n_events, sum_value); ``end_ts`` is
    last event + gap per session_window semantics."""
    df = events
    if df.isStreaming:
        df = df.withWatermark("ts", SESSION_GAP)
    return df.groupBy(F.session_window("ts", SESSION_GAP).alias("sw"),
                      "user_id") \
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 2).alias("sum_value")) \
        .select("user_id", F.col("sw.start").alias("start_ts"),
                F.col("sw.end").alias("end_ts"), "n_events",
                "sum_value")


def windowed_tile_user_sketch(events: DataFrame) -> DataFrame:
    """per-(window, tile) APPROXIMATE distinct users via HLL sketches
    — the streaming twin of ``sketches.tile_distinct_rollup`` (r5):
    ``hll_sketch_agg`` is a mergeable typed aggregate, so it runs
    inside a watermarked streaming aggregation with bounded state
    (2^USER_SKETCH_LG_K registers per open (window, tile) group) where an exact
    count_distinct would need unbounded per-group key state. HLL
    register maxima are order- and partitioning-independent, so the
    stream result is bit-equal to the batch run (pinned in
    tests/test_streaming.py), and the batch run is error-gated
    against exact count_distinct."""
    df = geo_events(events)
    if df.isStreaming:
        df = df.withWatermark("ts", WATERMARK)
    return df.groupBy(F.window("ts", "10 minutes").start.alias("win_start"),
                      "tile_token") \
        .agg(F.count("*").alias("n_events"),
             F.hll_sketch_estimate(
                 F.hll_sketch_agg("user_id", F.lit(USER_SKETCH_LG_K)))
             .cast("long").alias("user_est"))


def dedup_events_stream(events: DataFrame) -> DataFrame:
    """STREAMING exact dedup (the training-pipeline ingest guard):
    drop replayed/duplicate event_ids arriving within the
    ``DEDUP_WATERMARK`` horizon via ``dropDuplicatesWithinWatermark``
    — bounded state (keys older than the watermark are evicted),
    exactly-once output per key inside the horizon. On a batch DataFrame it degrades to
    plain ``dropDuplicates`` (the stream≡batch test twin)."""
    if events.isStreaming:
        return events.withWatermark("ts", DEDUP_WATERMARK) \
            .dropDuplicatesWithinWatermark(["event_id"])
    return events.dropDuplicates(["event_id"])


CORRELATE_WINDOW_MIN = 5   # pair events within +-5 minutes


def correlated_event_pairs(events: DataFrame) -> DataFrame:
    """STREAM-STREAM interval self-JOIN (SURVEY §2.10 widened in r4):
    pairs of events by the same user within ``CORRELATE_WINDOW_MIN``
    minutes of each other — the sessionless correlation primitive (click→
    purchase attribution, retry detection, co-occurring signals).

    On a streaming DataFrame both sides carry event-time watermarks
    and the join condition bounds ``ts2`` to a closed interval around
    ``ts1``, which is exactly what Spark requires to run a
    stream-stream inner join with BOUNDED state: each side's rows are
    dropped from the join state once the watermark passes their
    interval. On batch the identical expression tree plans as a hash
    equi-join on user_id with a BETWEEN residual — the stream≡batch
    twin (DuckDB-oracled via ``event_pairs``). Output (user_id, e1,
    e2) with e1 < e2, each qualifying pair exactly once.
    """
    iv = F.expr(f"INTERVAL {CORRELATE_WINDOW_MIN} MINUTES")
    a = events.select("user_id", F.col("event_id").alias("e1"),
                      F.col("ts").alias("ts1"))
    b = events.select(F.col("user_id").alias("user_id_b"),
                      F.col("event_id").alias("e2"),
                      F.col("ts").alias("ts2"))
    if events.isStreaming:
        a = a.withWatermark("ts1", f"{CORRELATE_WINDOW_MIN} minutes")
        b = b.withWatermark("ts2", f"{CORRELATE_WINDOW_MIN} minutes")
    else:
        # batch twin: both sides shuffle on user_id either way, but a
        # shuffled-hash build skips the two per-partition sorts the
        # default sort-merge pays (r6 A/B: 0.97 -> 0.64 s at sf0.1);
        # per-partition build side = one user-id hash slice, the same
        # scale envelope as the SMJ partition
        b = b.hint("shuffle_hash")
    cond = ((a["user_id"] == b["user_id_b"])
            & (F.col("e1") < F.col("e2"))
            & (F.col("ts2") >= F.col("ts1") - iv)
            & (F.col("ts2") <= F.col("ts1") + iv))
    return a.join(b, cond).select("user_id", "e1", "e2")


def streaming_pip_counts(events: DataFrame, covering_rows: list,
                         params_by_region: dict) -> DataFrame:
    """STREAM-STATIC spatial join: streaming points against the static
    covering (map-side interval-stab PIP — the same plan as batch,
    which is the point: the one ``mapInPandas`` pass doing encode,
    stab and exact verify runs unchanged per micro-batch, with the
    covering index in its closure). Output: per-region event counts.
    Works on batch DataFrames too (the stream≡batch test)."""
    from s2spark import joins as J

    df = geo_events(events)
    matched = J.pip_join_broadcast(
        df.select(F.col("event_id").alias("point_id"), "lat", "lng",
                  "value"),
        covering_rows, params_by_region, extra_cols=("value",))
    return matched.groupBy("region_id") \
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 2).alias("sum_value"))


STATEFUL_OUT_SCHEMA = ("tile_token string, n_events long, "
                       "sum_value double, n_batches int")
STATEFUL_STATE_SCHEMA = "n long, s double, b int"


def stateful_tile_totals(events: DataFrame) -> DataFrame:
    """CUSTOM STATEFUL streaming operator (SURVEY §2.10 /
    applyInPandasWithState): running per-tile (level
    ``STATEFUL_TILE_LEVEL``) event totals whose state
    persists ACROSS micro-batches — the pattern Spark's built-in
    windowed aggs can't express when the state transition is
    arbitrary code. Each update emits the tile's cumulative
    (n_events, sum_value) plus how many micro-batches touched it
    (``n_batches`` > 1 proves cross-batch state survival in tests).
    """
    import pandas as pd  # noqa: PLC0415 — worker-side import
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    df = geo_events(events, level=STATEFUL_TILE_LEVEL)

    def _update(key, pdfs, state: GroupState):
        n, s, b = state.get if state.exists else (0, 0.0, 0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        b += 1
        state.update((n, s, b))
        yield pd.DataFrame({"tile_token": [key[0]], "n_events": [n],
                            "sum_value": [s], "n_batches": [b]})

    return df.groupBy("tile_token").applyInPandasWithState(
        _update, STATEFUL_OUT_SCHEMA, STATEFUL_STATE_SCHEMA,
        "update", GroupStateTimeout.NoTimeout)

