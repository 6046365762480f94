"""Streaming ≡ batch equivalence for the tile-window pipeline
(SURVEY.md §2.10): the same expression tree on readStream produces
the same aggregates as the batch run."""

import os
import shutil

from s2spark import streaming as ST


def test_stream_matches_batch(spark, sf_dir, tmp_path):
    src = f"{sf_dir}/events.parquet"
    stream_dir = str(tmp_path / "events_stream")
    os.makedirs(stream_dir)
    shutil.copy(src, os.path.join(stream_dir, "part-0.parquet"))

    batch = ST.windowed_tile_counts(spark.read.parquet(src))
    expected = sorted(tuple(r) for r in batch.collect())

    got_df = ST.run_to_memory(
        ST.windowed_tile_counts(ST.read_events_stream(spark, stream_dir)),
        "tc_test", "complete")
    got = sorted(tuple(r) for r in got_df.collect())
    assert len(got) > 0
    assert got == expected


def test_stateless_tile_assignment_on_stream(spark, sf_dir, tmp_path):
    stream_dir = str(tmp_path / "ev2")
    os.makedirs(stream_dir)
    shutil.copy(f"{sf_dir}/events.parquet",
                os.path.join(stream_dir, "part-0.parquet"))
    stream = ST.geo_events(ST.read_events_stream(spark, stream_dir))
    rows = ST.run_to_memory(stream.select("event_id", "tile_token"),
                            "tiles_test", "append").collect()
    n_batch = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert len(rows) == n_batch
    assert all(r["tile_token"] for r in rows)


def test_stateful_operator_state_survives_micro_batches(spark, sf_dir,
                                                        tmp_path):
    """applyInPandasWithState running totals: split the input into 3
    files, one micro-batch each; the final running total per tile must
    equal the batch groupBy over ALL files, and tiles seen in several
    batches must report n_batches > 1 (state actually carried)."""
    import pyspark.sql.functions as F

    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream_dir = str(tmp_path / "ev3")
    os.makedirs(stream_dir)
    n = src.count()
    rows = src.collect()
    third = (n + 2) // 3
    for k in range(3):
        part = spark.createDataFrame(rows[k * third:(k + 1) * third],
                                     schema=src.schema)
        part.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"stage{k}"))
        import glob
        import shutil as sh
        f = glob.glob(str(tmp_path / f"stage{k}" / "*.parquet"))[0]
        sh.copy(f, os.path.join(stream_dir, f"part-{k}.parquet"))

    sink = ST.run_to_memory(
        ST.stateful_tile_totals(ST.read_events_per_file(spark, stream_dir)),
        "tt_test", "update")
    # update-mode sink: the LAST row per tile is the running total
    from pyspark.sql import Window
    w = Window.partitionBy("tile_token").orderBy(
        F.desc("n_batches"), F.desc("n_events"))
    final = sink.withColumn("rk", F.row_number().over(w)) \
        .where(F.col("rk") == 1).drop("rk")
    got = {r["tile_token"]: (r["n_events"], round(r["sum_value"], 4))
           for r in final.collect()}
    exp_df = ST.geo_events(src, level=2).groupBy("tile_token") \
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
    exp = {r["tile_token"]: (r["n"], round(r["s"], 4))
           for r in exp_df.collect()}
    assert set(got) == set(exp)
    for t in exp:
        assert got[t][0] == exp[t][0]
        assert abs(got[t][1] - exp[t][1]) < 1e-6 * max(1.0, abs(exp[t][1]))
    multi = [r for r in final.collect() if r["n_batches"] > 1]
    assert multi, "no tile spanned micro-batches — state never carried"


def test_stream_static_pip_join(spark, sf_dir, tmp_path):
    """stream-static spatial join: streaming points x static covering
    covering — per-region counts from the stream must equal the batch
    run of the SAME pipeline (the map-side encode + stab + verify pass
    runs unchanged per micro-batch)."""
    from s2spark import fixtures as FX
    from s2spark import joins as J

    cov_rows = J.compute_coverings(FX.region_objects())
    params = FX.region_params()
    src = f"{sf_dir}/events.parquet"
    stream_dir = str(tmp_path / "ev4")
    os.makedirs(stream_dir)
    shutil.copy(src, os.path.join(stream_dir, "part-0.parquet"))

    batch = ST.streaming_pip_counts(spark.read.parquet(src),
                                    cov_rows, params)
    expected = sorted(tuple(r) for r in batch.collect())
    assert expected, "fixture regions must catch some events"

    stream = ST.read_events_stream(spark, stream_dir)
    got = sorted(tuple(r) for r in ST.run_to_memory(
        ST.streaming_pip_counts(stream, cov_rows, params),
        "pip_stream_test", "complete").collect())
    assert got == expected


def test_session_windows_stream_matches_batch_and_islands(spark, sf_dir,
                                                          tmp_path):
    """three-way session equivalence: (1) session_window on the STREAM
    == session_window on the BATCH; (2) session_window == the
    gaps-and-islands window-function query (the DuckDB-oracled batch
    twin), with session_window's end = last event + gap."""
    import datetime

    import pyspark.sql.functions as F

    src = f"{sf_dir}/events.parquet"
    stream_dir = str(tmp_path / "ev_sess")
    os.makedirs(stream_dir)
    shutil.copy(src, os.path.join(stream_dir, "part-0.parquet"))

    batch = ST.user_sessions(spark.read.parquet(src))
    expected = sorted(tuple(r) for r in batch.collect())
    got_df = ST.run_to_memory(
        ST.user_sessions(ST.read_events_stream(spark, stream_dir)),
        "us_test", "complete")
    got = sorted(tuple(r) for r in got_df.collect())
    assert len(got) > 0
    assert got == expected

    import __spark_entry__ as E
    isl = E.queries()["event_sessions"](spark, sf_dir)
    gap = datetime.timedelta(minutes=E.SESSION_GAP_MIN)
    isl_set = sorted(
        (r["user_id"], r["start_ts"], r["end_ts"] + gap,
         r["n_events"], r["sum_value"])
        for r in isl.collect())
    assert isl_set == expected


def test_session_exact_gap_boundary(spark, tmp_path):
    """an event at EXACTLY last + gap stays in the SAME session in
    BOTH twins: Spark's session_window MERGES touching windows
    (empirically — the [t, t+gap) window of the new event starts at
    the previous window's end and the two coalesce), so the
    gaps-and-islands flag correctly uses strictly > gap. Pinned with
    synthetic data so the three-way equivalence no longer depends on
    the sf fixture having no exact-gap pairs (ADVICE r3)."""
    import datetime

    import __spark_entry__ as E

    t0 = datetime.datetime(2024, 1, 1, 10, 0, 0)
    m = datetime.timedelta(minutes=1)
    rows = [
        # user 1: second event exactly GAP later -> windows touch and
        # MERGE -> ONE session
        (1, t0, 1, "a", 1.0, "{}"),
        (2, t0 + E.SESSION_GAP_MIN * m, 1, "a", 2.0, "{}"),
        # user 2: second event one minute PAST the gap -> TWO sessions
        (3, t0, 2, "a", 3.0, "{}"),
        (4, t0 + (E.SESSION_GAP_MIN + 1) * m, 2, "a", 4.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double, props string")
    sf_dir = str(tmp_path / "boundary_sf")
    os.makedirs(sf_dir)
    df.coalesce(1).write.parquet(f"{sf_dir}/events.parquet")

    isl = {(r["user_id"], r["session_id"]): r["n_events"]
           for r in E.queries()["event_sessions"](spark, sf_dir).collect()}
    assert isl == {(1, 1): 2, (2, 1): 1, (2, 2): 1}

    sw = sorted((r["user_id"], r["n_events"]) for r in ST.user_sessions(
        spark.read.parquet(f"{sf_dir}/events.parquet")).collect())
    assert sw == [(1, 2), (2, 1), (2, 1)]


def test_stream_dedup_drops_replayed_events(spark, sf_dir, tmp_path):
    """duplicate event_ids split across micro-batches (a replayed
    file) are dropped by dropDuplicatesWithinWatermark: the sink holds
    exactly the batch-distinct rows."""
    src = spark.read.parquet(f"{sf_dir}/events.parquet").limit(2000)
    stream_dir = str(tmp_path / "ev_dup")
    os.makedirs(stream_dir)
    one = src.coalesce(1)
    one.write.mode("overwrite").parquet(str(tmp_path / "d0"))
    import glob
    import shutil as sh
    f = glob.glob(str(tmp_path / "d0" / "*.parquet"))[0]
    # same file twice = full replay in a later micro-batch
    sh.copy(f, os.path.join(stream_dir, "part-0.parquet"))
    sh.copy(f, os.path.join(stream_dir, "part-1.parquet"))

    stream = ST.read_events_per_file(spark, stream_dir)
    sink = ST.run_to_memory(ST.dedup_events_stream(stream).select("event_id"),
                            "dd_test", "append")
    got = sorted(r["event_id"] for r in sink.collect())
    exp = sorted(r["event_id"]
                 for r in ST.dedup_events_stream(src).select("event_id")
                 .collect())
    assert got == exp
    assert len(got) == src.select("event_id").distinct().count()


def test_stream_stream_interval_join_matches_batch(spark, sf_dir,
                                                   tmp_path):
    """STREAM-STREAM interval self-join ≡ batch: same-user event pairs
    within ±5 min, computed by the bounded-state streaming join, must
    equal the batch hash-join + BETWEEN twin (the DuckDB-oracled
    event_pairs query)."""
    src = f"{sf_dir}/events.parquet"
    stream_dir = str(tmp_path / "ev_pairs")
    os.makedirs(stream_dir)
    shutil.copy(src, os.path.join(stream_dir, "part-0.parquet"))

    batch = ST.correlated_event_pairs(spark.read.parquet(src))
    expected = sorted(tuple(r) for r in batch.collect())
    assert len(expected) > 0

    got_df = ST.run_to_memory(
        ST.correlated_event_pairs(ST.read_events_stream(spark, stream_dir)),
        "ep_test", "append")
    got = sorted(tuple(r) for r in got_df.collect())
    assert got == expected


def test_stream_stream_join_across_micro_batches(spark, sf_dir,
                                                 tmp_path):
    """the stream-stream join must also be exact when the input
    arrives over SEVERAL micro-batches (maxFilesPerTrigger=1): rows
    from batch k join rows from earlier batches out of the join state,
    proving the state store actually holds the watermark horizon."""
    import glob
    import shutil as sh

    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream_dir = str(tmp_path / "ev_pairs_mb")
    os.makedirs(stream_dir)
    rows = src.orderBy("ts").collect()
    third = (len(rows) + 2) // 3
    for k in range(3):
        part = spark.createDataFrame(rows[k * third:(k + 1) * third],
                                     schema=src.schema)
        part.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"pstage{k}"))
        f = glob.glob(str(tmp_path / f"pstage{k}" / "*.parquet"))[0]
        sh.copy(f, os.path.join(stream_dir, f"part-{k}.parquet"))

    batch = ST.correlated_event_pairs(spark.read.parquet(
        f"{sf_dir}/events.parquet"))
    expected = sorted(tuple(r) for r in batch.collect())
    assert expected

    stream = ST.read_events_per_file(spark, stream_dir)
    got = sorted(tuple(r) for r in ST.run_to_memory(
        ST.correlated_event_pairs(stream), "ep_mb_test", "append").collect())
    assert got == expected


def test_json_props_extraction_on_stream(spark, sf_dir, tmp_path):
    """semi-structured extraction is stream-safe: the same from_json
    expression tree + per-type aggregate on readStream (complete
    mode) equals the batch/DuckDB-oracled event_props query."""
    import __spark_entry__ as E
    import pyspark.sql.functions as F

    src = f"{sf_dir}/events.parquet"
    stream_dir = str(tmp_path / "ev_props")
    os.makedirs(stream_dir)
    shutil.copy(src, os.path.join(stream_dir, "part-0.parquet"))

    expected = sorted(tuple(r) for r in
                      E.queries()["event_props"](spark, sf_dir).collect())

    stream = ST.read_events_stream(spark, stream_dir)
    k = F.from_json("props", "k INT")["k"].cast("long")
    agg = stream.select("event_type", k.alias("k")) \
        .groupBy("event_type") \
        .agg(F.count("*").alias("n_events"),
             F.sum(F.col("k").isNull().cast("long")).alias("n_null_k"),
             F.sum("k").alias("sum_k"),
             F.min("k").alias("min_k"),
             F.max("k").alias("max_k"))
    got = sorted(tuple(r) for r in
                 ST.run_to_memory(agg, "props_test", "complete").collect())
    assert got == expected


def test_stream_user_sketch_matches_batch_and_gates_exact(
        spark, sf_dir, tmp_path):
    """r5 HLL streaming twin: the stream run must be BIT-EQUAL to the
    batch run (HLL register maxima are order/partitioning
    independent), and the batch estimates must track exact
    count_distinct within the USER_SKETCH_LG_K=12 error bound."""
    import pyspark.sql.functions as F

    src = f"{sf_dir}/events.parquet"
    stream_dir = str(tmp_path / "ev_sketch")
    os.makedirs(stream_dir)
    shutil.copy(src, os.path.join(stream_dir, "part-0.parquet"))

    batch = ST.windowed_tile_user_sketch(spark.read.parquet(src))
    expected = sorted(tuple(r) for r in batch.collect())
    got_df = ST.run_to_memory(
        ST.windowed_tile_user_sketch(ST.read_events_stream(spark, stream_dir)),
        "tus_test", "complete")
    got = sorted(tuple(r) for r in got_df.collect())
    assert len(got) > 0
    assert got == expected

    exact = ST.geo_events(spark.read.parquet(src)) \
        .groupBy(F.window("ts", "10 minutes").start.alias("win_start"),
                 "tile_token") \
        .agg(F.count_distinct("user_id").alias("user_exact"))
    e = {(r["win_start"], r["tile_token"]): r["user_exact"]
         for r in exact.collect()}
    for win, tok, _, est in expected:
        ex = e[(win, tok)]
        assert abs(est - ex) <= max(1, 0.05 * ex), (tok, est, ex)
