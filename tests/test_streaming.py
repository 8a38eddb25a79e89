"""STREAM parity class: streaming result over a finite replayed input
must equal the batch query on the same input (SURVEY.md §2 legend)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nibbledb_spark.engine import TimeSeriesEngine
from nibbledb_spark.sources.registry import points_from_events
from nibbledb_spark.streaming.ingest import (
    StreamingIngest,
    session_windows,
    windowed_counts,
)

SF = "/root/testdata/sf0.001"


def _sorted_rows(df):
    return sorted(
        (r["series"], r["ts"], r["value"]) for r in df.select("series", "ts", "value").collect()
    )


@pytest.fixture(scope="module")
def batch_points(spark):
    return points_from_events(spark, SF).cache()


def test_streaming_ingest_converges_to_batch(spark, tmp_path, batch_points):
    eng = TimeSeriesEngine(spark, str(tmp_path / "store"), num_buckets=4)
    ingest = StreamingIngest(eng, str(tmp_path / "ckpt"))
    q = ingest.start_replay(SF)
    ingest.sync()
    assert not q.isActive  # availableNow drains then stops
    assert _sorted_rows(eng.points()) == _sorted_rows(batch_points)


def test_streaming_ingest_with_dedup(spark, tmp_path):
    # replay the same source twice WITH the opt-in dedup: second pass may
    # re-append (new checkpoint) but within-stream dedup keeps one copy
    eng = TimeSeriesEngine(spark, str(tmp_path / "store"), num_buckets=4)
    ingest = StreamingIngest(eng, str(tmp_path / "ckpt"))
    ingest.start_replay(SF, dedup=True)
    ingest.sync()
    n = eng.points().count()
    distinct_n = (
        points_from_events(eng.spark, SF)
        .dropDuplicates(["series", "ts", "value"])
        .count()
    )
    assert n == distinct_n


def test_windowed_counts_stream_equals_batch(spark, tmp_path, batch_points):
    # batch side: the same plan applied to the static frame
    batch = {
        (r["series"], r["window_start_us"]): (r["n"], r["sum_value"])
        for r in windowed_counts(batch_points, "6 hours").collect()
    }

    # streaming side: replay through a memory sink in complete mode
    from nibbledb_spark.streaming.ingest import EVENTS_SCHEMA, events_to_points

    stream = events_to_points(
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(SF)
    )
    agg = windowed_counts(stream, "6 hours")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_conv")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r["series"], r["window_start_us"]): (r["n"], r["sum_value"])
        for r in spark.sql("SELECT * FROM win_conv").collect()
    }
    assert streamed == batch


def test_session_windows_batch_shape(spark, batch_points):
    out = session_windows(batch_points, "1 hour")
    row = out.first()
    assert row["session_end_us"] > row["session_start_us"]
    assert out.agg(F.sum("n")).collect()[0][0] == batch_points.count()


def test_stateful_series_stats_converges(spark, tmp_path, batch_points):
    """Custom stateful operator (applyInPandasWithState): final per-series
    state after an availableNow replay equals the batch recurrence."""
    from nibbledb_spark.streaming.ingest import (
        EVENTS_SCHEMA,
        events_to_points,
        series_stats_batch,
        stateful_series_stats,
    )

    stream = events_to_points(
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(SF)
    )
    q = (
        stateful_series_stats(stream, alpha=0.2)
        .writeStream.format("memory")
        .queryName("series_stats")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        r["series"]: r.asDict()
        for r in spark.sql(
            # newest state row per series (update mode re-emits on change)
            """SELECT * FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY series ORDER BY n DESC) rn
                 FROM series_stats) WHERE rn = 1"""
        ).collect()
    }
    pdf = batch_points.toPandas()
    for series, grp in pdf.groupby("series"):
        want = series_stats_batch(grp, alpha=0.2)
        have = got[series]
        for k in ("n", "total", "vmin", "vmax", "last_ts"):
            assert have[k] == pytest.approx(want[k]), (series, k)
        assert have["ewma"] == pytest.approx(want["ewma"], rel=1e-12), series


def test_replay_restart_is_exactly_once(spark, tmp_path, batch_points):
    """Exactly-once ingest: re-running the replay against the SAME
    checkpoint appends nothing (the sink's micro-batch epochs are
    already committed), so restarts never duplicate points."""
    eng = TimeSeriesEngine(spark, str(tmp_path / "store"), num_buckets=4)
    ingest = StreamingIngest(eng, str(tmp_path / "ckpt"))
    ingest.start_replay(SF)
    ingest.sync()
    n1 = eng.points().count()
    assert n1 == batch_points.count()
    ingest2 = StreamingIngest(eng, str(tmp_path / "ckpt"))  # same checkpoint
    ingest2.start_replay(SF)
    ingest2.sync()
    assert eng.points().count() == n1  # no duplicates on restart


def test_watermark_drops_late_data_but_default_keeps_it(spark, tmp_path):
    """Late-data policy (SURVEY.md §7.3): with an explicit watermark,
    points older than the lateness bound arriving in a later micro-batch
    are DROPPED from the windowed aggregation; the no-watermark default
    (reference semantics: arbitrarily late accepted, src/timeseries.re:
    119-156) keeps them."""
    import os
    import time as _time

    from pyspark.sql import functions as F

    from nibbledb_spark.schema import POINT_SCHEMA
    from nibbledb_spark.streaming.ingest import windowed_counts

    hour_us = 3_600_000_000
    t0 = 1_700_000_000_000_000
    fresh = [("s", t0 + 10 * hour_us + i, None, 1.0) for i in range(3)]
    late = [("s", t0 + i, None, 1.0) for i in range(2)]  # 10h late

    def run(watermark, name):
        # two explicitly-sequenced micro-batches: fresh data first (sets
        # the watermark), then the late file
        src = str(tmp_path / f"drop_{name}")
        os.makedirs(src)
        spark.createDataFrame(fresh, POINT_SCHEMA).coalesce(1).write.parquet(
            f"{src}/f1.parquet"
        )
        stream = spark.readStream.schema(POINT_SCHEMA).parquet(src + "/*")
        q = (
            windowed_counts(stream, "1 hour", watermark=watermark)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .start()
        )
        try:
            q.processAllAvailable()  # batch 1: advances watermark
            spark.createDataFrame(late, POINT_SCHEMA).coalesce(1).write.parquet(
                f"{src}/f2.parquet"
            )
            q.processAllAvailable()  # batch 2: late rows vs watermark
        finally:
            q.stop()
        return {
            r["window_start_us"]: r["n"]
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        }

    late_win = t0 - (t0 % hour_us)
    fresh_win = (t0 + 10 * hour_us) - ((t0 + 10 * hour_us) % hour_us)

    strict = run("30 minutes", "wm_strict")
    assert late_win not in strict  # late window dropped
    assert strict[fresh_win] == 3

    lenient = run(None, "wm_default")
    assert lenient[late_win] == 2  # late points kept (reference semantics)
    assert lenient[fresh_win] == 3


def test_interval_join_stream_equals_batch(spark, tmp_path):
    """Stream-stream interval join: two watermarked file streams (errors
    and clicks split from the same events replay) joined on user within
    +/-30 min must produce exactly the batch join's pairs."""
    from nibbledb_spark.streaming.ingest import EVENTS_SCHEMA, interval_join_streams

    def keyed(df):
        from nibbledb_spark.sources.registry import event_ts_us

        return df.select(
            "user_id",
            event_ts_us(df).alias("ts"),
            "event_type",
            "value",
        )

    raw = keyed(
        spark.read.schema(EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(SF)
    )
    batch = sorted(
        tuple(r)
        for r in interval_join_streams(
            raw.where(F.col("event_type") == "error"),
            raw.where(F.col("event_type") == "click"),
            key="user_id",
            tolerance="30 minutes",
        ).collect()
    )

    sraw = keyed(
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(SF)
    )
    joined = interval_join_streams(
        sraw.where(F.col("event_type") == "error"),
        sraw.where(F.col("event_type") == "click"),
        key="user_id",
        tolerance="30 minutes",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_conv")
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = sorted(
        tuple(r) for r in spark.sql("SELECT * FROM ssj_conv").collect()
    )
    assert streamed == batch and len(batch) > 0


def test_streaming_ingest_maintains_rollup(spark, tmp_path):
    """The foreachBatch sink goes through append_points, so a
    rollup-enabled store gets its continuous aggregate maintained
    per micro-batch; after the availableNow drain the rollup must be
    bit-identical to a recompute from the ingested points."""
    from nibbledb_spark.streaming.ingest import StreamingIngest

    eng = TimeSeriesEngine(spark, str(tmp_path / "store"), num_buckets=4)
    eng.enable_rollup(3_600_000_000)
    ing = StreamingIngest(eng, str(tmp_path / "ckpt"))
    ing.start_replay(SF, max_files_per_trigger=1)
    ing.sync()

    got = {
        (r["series"], r["bucket_us"]): (r["n"], r["value_sum"])
        for r in eng.rollup().collect()
    }
    every = eng.rollup_every_us
    want = {
        (r["series"], r["bucket_us"]): (r["n"], r["value_sum"])
        for r in eng._rollup_partials(eng.points(), eng.rollup_every_us)
        .selectExpr(
            "series",
            "bucket_us",
            "n",
            "CAST(sum_scaled AS DOUBLE) / 1e6 AS value_sum",
        )
        .collect()
    }
    assert got == want and len(got) > 0
    assert sum(n for n, _ in got.values()) == eng.length()


def test_interval_join_louter_stream_converges(spark, tmp_path):
    """LEFT OUTER stream-stream interval join: matched pairs equal the
    batch join exactly; null-extensions equal the batch join on the
    WATERMARK-SETTLED prefix (rows whose eviction time the final
    watermark passed). Rows within watermark + tolerance of the end of
    the replay legitimately stay in state — Spark emits their
    null-extended form on the next trigger, not at termination — so
    the tail is excluded on BOTH sides rather than pretending the
    streaming semantics are batch semantics."""
    from nibbledb_spark.streaming.ingest import EVENTS_SCHEMA, interval_join_streams

    def keyed(df):
        from nibbledb_spark.sources.registry import event_ts_us

        return df.select(
            "user_id",
            event_ts_us(df).alias("ts"),
            "event_type",
            "value",
        )

    raw = keyed(
        spark.read.schema(EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(SF)
    )
    kwargs = dict(key="user_id", tolerance="30 minutes", how="left_outer")
    batch = interval_join_streams(
        raw.where(F.col("event_type") == "error"),
        raw.where(F.col("event_type") == "click"),
        **kwargs,
    ).collect()

    sraw = keyed(
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(SF)
    )
    joined = interval_join_streams(
        sraw.where(F.col("event_type") == "error"),
        sraw.where(F.col("event_type") == "click"),
        **kwargs,
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_louter_conv")
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj_lo"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = spark.sql("SELECT * FROM ssj_louter_conv").collect()

    # settled cutoff. The global watermark is the MIN across both
    # watermarked branches' max event time, minus the 10 min delay
    # (a sparse branch gates the whole join — at this SF the last
    # error event IS the error branch's max, so its own
    # null-extension can never emit). On top of that, Spark's derived
    # LEFT-STATE watermark subtracts the tolerance again for the
    # both-direction range condition, so null-extensions settle only
    # past delay + 2 * tolerance of the gating branch's max (measured:
    # unemitted rows hug that horizon); +1 min slack
    wm_base = min(
        raw.where(F.col("event_type") == "error").agg(F.max("ts")).collect()[0][0],
        raw.where(F.col("event_type") == "click").agg(F.max("ts")).collect()[0][0],
    )
    cutoff = wm_base - (10 + 30 + 30 + 1) * 60 * 1_000_000

    def settled(rows):
        return sorted(tuple(r) for r in rows if r["l_ts"] < cutoff)

    assert settled(streamed) == settled(batch)
    assert len(settled(batch)) > 0
    # matched pairs are emitted eagerly regardless of the watermark:
    # every batch match must appear streamed, even past the cutoff
    batch_matched = sorted(tuple(r) for r in batch if r["r_ts"] is not None)
    streamed_matched = sorted(tuple(r) for r in streamed if r["r_ts"] is not None)
    assert streamed_matched == batch_matched


def test_interval_join_fouter_stream_converges(spark, tmp_path):
    """FULL OUTER stream-stream interval join: matched pairs equal the
    batch join exactly; null-extensions in BOTH directions (unmatched
    errors AND unmatched clicks) equal the batch join on the
    watermark-settled prefix. Also pins the coalesce(k, rk) key emit:
    every left-null-extended row (unmatched click) must carry its real
    user_id, never NULL."""
    from nibbledb_spark.streaming.ingest import EVENTS_SCHEMA, interval_join_streams

    def keyed(df):
        from nibbledb_spark.sources.registry import event_ts_us

        return df.select(
            "user_id",
            event_ts_us(df).alias("ts"),
            "event_type",
            "value",
        )

    raw = keyed(
        spark.read.schema(EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(SF)
    )
    kwargs = dict(key="user_id", tolerance="30 minutes", how="full_outer")
    batch = interval_join_streams(
        raw.where(F.col("event_type") == "error"),
        raw.where(F.col("event_type") == "click"),
        **kwargs,
    ).collect()

    sraw = keyed(
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(SF)
    )
    joined = interval_join_streams(
        sraw.where(F.col("event_type") == "error"),
        sraw.where(F.col("event_type") == "click"),
        **kwargs,
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_fouter_conv")
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj_fo"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = spark.sql("SELECT * FROM ssj_fouter_conv").collect()

    # no NULL keys anywhere: unmatched RIGHT rows must surface rk
    assert all(r["user_id"] is not None for r in streamed)
    assert all(r["user_id"] is not None for r in batch)

    # same settled horizon as the louter test (delay + 2x tolerance off
    # the gating branch's max, +1 min slack); a row's own event time is
    # l_ts for right-null extensions, r_ts for left-null extensions,
    # and the later of the two for matches
    wm_base = min(
        raw.where(F.col("event_type") == "error").agg(F.max("ts")).collect()[0][0],
        raw.where(F.col("event_type") == "click").agg(F.max("ts")).collect()[0][0],
    )
    cutoff = wm_base - (10 + 30 + 30 + 1) * 60 * 1_000_000

    def own_ts(r):
        if r["r_ts"] is None:
            return r["l_ts"]
        if r["l_ts"] is None:
            return r["r_ts"]
        return max(r["l_ts"], r["r_ts"])

    def norm(r):
        # None-safe sort key: null-extended rows carry None in ts/value
        # slots, and tuple comparison would hit None < int
        return tuple((v is None, v) for v in tuple(r))

    def settled(rows):
        return sorted((norm(r) for r in rows if own_ts(r) < cutoff))

    assert settled(streamed) == settled(batch)
    assert len(settled(batch)) > 0
    # both null-extension directions must be present in the settled set
    settled_batch = [r for r in batch if own_ts(r) < cutoff]
    assert any(r["r_ts"] is None for r in settled_batch), "no unmatched errors"
    assert any(r["l_ts"] is None for r in settled_batch), "no unmatched clicks"
    # matched pairs emit eagerly regardless of the watermark
    batch_matched = sorted(
        norm(r) for r in batch if r["r_ts"] is not None and r["l_ts"] is not None
    )
    streamed_matched = sorted(
        norm(r)
        for r in streamed
        if r["r_ts"] is not None and r["l_ts"] is not None
    )
    assert streamed_matched == batch_matched


def test_ingest_out_of_order_replay_never_drops(spark, tmp_path):
    """Reference late-data contract THROUGH THE REAL INGEST (round-12
    verdict task 8; src/timeseries.re:119-156 accepts arbitrarily late
    points): replay micro-batches in REVERSED chronological order —
    each batch 10h older than the previous — and the store must
    converge to exactly the batch state: nothing dropped, nothing
    reordered, and the continuous-aggregate rollup's OLD buckets
    updated by the late batches, bit-identical to a recompute."""
    import datetime
    import json
    import os

    from nibbledb_spark.streaming.ingest import EVENTS_SCHEMA

    base = datetime.datetime(2023, 11, 14, 22, 13, 20)
    hour = datetime.timedelta(hours=1)

    def events(batch_i):
        # batch 0 is the NEWEST; each later-arriving batch is 10h older
        t = base + (20 - 10 * batch_i) * hour
        return [
            (batch_i * 10 + j, t + j * hour / 6, 7, "reads", float(j), json.dumps({"b": str(batch_i)}))
            for j in range(4)
        ]

    src = str(tmp_path / "ooo_src")
    os.makedirs(src)
    eng = TimeSeriesEngine(spark, str(tmp_path / "ooo_store"), num_buckets=4)
    eng.enable_rollup(3_600_000_000)
    ing = StreamingIngest(eng, str(tmp_path / "ooo_ckpt"))

    all_rows = []
    for i in range(3):
        rows = events(i)
        all_rows += rows
        # the file source doesn't recurse into .write.parquet's output
        # DIRECTORY — stage each batch and surface its single part-file
        # as a flat bN.parquet, the SF events.parquet layout
        stage = str(tmp_path / f"ooo_stage_{i}")
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.parquet(stage)
        part = next(
            f for f in os.listdir(stage) if f.endswith(".parquet")
        )
        import shutil

        shutil.copy(os.path.join(stage, part), f"{src}/b{i}.parquet")
    # one file per micro-batch: copy order = mod-time order, so the
    # replay sees newest data first and batches 2-3 arrive 10h/20h late
    ing.start_replay(src, glob="b*.parquet", max_files_per_trigger=1)
    ing.sync()

    assert eng.length() == len(all_rows)  # every late point landed
    got = _sorted_rows(eng.points())
    from nibbledb_spark.streaming.ingest import events_to_points

    want = _sorted_rows(
        events_to_points(spark.createDataFrame(all_rows, EVENTS_SCHEMA))
    )
    assert got == want  # reversed arrival converges to batch exactly

    # late batches must have UPDATED the rollup's old buckets, not been
    # fenced out: the maintained rollup equals a from-scratch recompute
    got_r = {
        (r["series"], r["bucket_us"]): (r["n"], r["value_sum"])
        for r in eng.rollup().collect()
    }
    want_r = {
        (r["series"], r["bucket_us"]): (r["n"], r["value_sum"])
        for r in eng._rollup_partials(eng.points(), eng.rollup_every_us)
        .selectExpr(
            "series", "bucket_us", "n",
            "CAST(sum_scaled AS DOUBLE) / 1e6 AS value_sum",
        )
        .collect()
    }
    assert got_r == want_r and len(got_r) >= 3


def test_watermark_drop_horizon_is_the_window_end(spark, tmp_path):
    """The watermarked rollup's DOCUMENTED drop horizon (round-12
    verdict task 8): with watermark W, a late row is kept iff its
    window END is above max_event_time - W — late-but-within-horizon
    rows still update their (old) window; only rows beyond it drop.
    Complements test_watermark_drops_late_data_but_default_keeps_it,
    which pins the drop side and the no-watermark default."""
    import os

    from nibbledb_spark.schema import POINT_SCHEMA

    hour_us = 3_600_000_000
    t0 = 1_700_000_000_000_000
    fresh = [("s", t0 + 10 * hour_us + i, None, 1.0) for i in range(3)]
    within = [("s", t0 + 8 * hour_us + 30 * 60_000_000, None, 1.0)]  # 1.5h late
    beyond = [("s", t0 + 1 * hour_us + 1, None, 1.0)]  # 9h late

    src = str(tmp_path / "hz_src")
    os.makedirs(src)
    spark.createDataFrame(fresh, POINT_SCHEMA).coalesce(1).write.parquet(
        f"{src}/f1.parquet"
    )
    stream = spark.readStream.schema(POINT_SCHEMA).parquet(src + "/*")
    q = (
        windowed_counts(stream, "1 hour", watermark="2 hours")
        .writeStream.format("memory")
        .queryName("wm_horizon")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "hz_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()  # watermark -> (t0 + 10h) - 2h = t0 + 8h
        spark.createDataFrame(within + beyond, POINT_SCHEMA).coalesce(1).write.parquet(
            f"{src}/f2.parquet"
        )
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["window_start_us"]: r["n"]
        for r in spark.sql("SELECT * FROM wm_horizon").collect()
    }

    def win(x):  # tumbling windows align to the EPOCH, not to t0
        return x - (x % hour_us)

    # within horizon: the 1.5h-late row's window ends ABOVE the
    # (t0+10h)-2h watermark -> kept, its old window updated
    assert got[win(t0 + 8 * hour_us + 30 * 60_000_000)] == 1
    # beyond horizon: a 9h-late row's window ended long before -> dropped
    assert win(t0 + 1 * hour_us + 1) not in got
    assert got[win(t0 + 10 * hour_us)] == 3


def test_dedup_within_watermark_bounds_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark ingest (the bounded-state dedup —
    exact streaming dedup keeps every key forever, the 100 TB killer).
    Pinned contract (probed batch by batch via state metrics):

    - a duplicate whose key is still in state is SUPPRESSED;
    - state is EVICTED once the watermark passes event_time + delay;
    - any row (duplicate or new) arriving with event_time + delay
      BEHIND the watermark is dropped by the operator's watermark
      filter — the trade that bounds state: this mode surrenders the
      reference's accept-arbitrarily-late contract (the default
      ingest + batch dedup own that tail);
    - the watermark from batch N's data takes effect in batch N+1.
    """
    import datetime
    import json
    import os
    import shutil

    from nibbledb_spark.streaming.ingest import EVENTS_SCHEMA

    base = datetime.datetime(2024, 3, 1, 12, 0, 0)
    mins = datetime.timedelta(minutes=1)

    def ev(eid, t, val):
        return (eid, t, 7, "reads", float(val), json.dumps({}))

    batches = [
        # originals; effective wm in batch 1 -> (12:30) - 1h = 11:30
        [ev(1, base, 1.0), ev(2, base + 30 * mins, 2.0)],
        # dup of A: key in state -> suppressed. C (22:00) advances the
        # wm that batch 2 will run under to 21:00
        [ev(4, base, 1.0), ev(3, base + 600 * mins, 3.0)],
        # wm now 21:00: A and B expire from state (event + 1h < wm)
        [ev(6, base + 601 * mins, 5.0)],
        # re-delivery of B: state gone, but 12:30 + 1h is far behind
        # the watermark -> dropped by the operator's wm filter
        [ev(5, base + 30 * mins, 2.0)],
    ]

    src = str(tmp_path / "ddw_src")
    os.makedirs(src)
    eng = TimeSeriesEngine(spark, str(tmp_path / "ddw_store"), num_buckets=2)
    ing = StreamingIngest(eng, str(tmp_path / "ddw_ckpt"))
    for i, rows in enumerate(batches):
        stage = str(tmp_path / f"ddw_stage_{i}")
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        shutil.copy(os.path.join(stage, part), f"{src}/b{i}.parquet")
    ing.start_replay(
        src, glob="b*.parquet", max_files_per_trigger=1, dedup_within="1 hour"
    )
    ing.sync()

    per_val = {
        r["value"]: r["n"]
        for r in eng.points().groupBy("value").agg(F.count("*").alias("n")).collect()
    }
    assert per_val[1.0] == 1  # within-horizon duplicate suppressed
    assert per_val[2.0] == 1  # behind-horizon re-delivery dropped
    assert per_val[3.0] == 1 and per_val[5.0] == 1
    assert eng.length() == 4

    # the state actually SHRANK (bounded-state evidence): batch 2's
    # progress reports the two expired originals removed
    removed = [
        (p["stateOperators"][0]["numRowsRemoved"] if p["stateOperators"] else 0)
        for p in ing._query.recentProgress
    ]
    assert sum(removed) >= 2, removed

    # exact-dedup and bounded-dedup are mutually exclusive knobs
    import pytest

    with pytest.raises(ValueError, match="mutually exclusive"):
        StreamingIngest(eng, str(tmp_path / "x")).start_replay(
            src, dedup=True, dedup_within="1 hour"
        )


def test_micro_batch_tuning_never_raises_session_partitions(spark):
    """The micro-batch partition floor is clamped to the session setting:
    a session running 2 shuffle partitions keeps at most 2 inside the
    block (a floor of 4 would raise it), and both confs restore on exit."""
    from nibbledb_spark.session import micro_batch_tuning

    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    }
    conf.set("spark.sql.shuffle.partitions", "2")
    try:
        with micro_batch_tuning(spark, 10):
            assert int(conf.get("spark.sql.shuffle.partitions")) <= 2
            assert conf.get("spark.sql.adaptive.enabled") == "false"
        assert conf.get("spark.sql.shuffle.partitions") == "2"
        assert conf.get("spark.sql.adaptive.enabled") == saved[
            "spark.sql.adaptive.enabled"
        ]
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def _gate_and_batch(spark, gate, path):
    """Build ``gate``'s index at ``path``; return its sink factory
    (``on_pass`` -> sink) and a 4-row batch of which ids 11 and 13 pass."""
    from nibbledb_spark.operators import dedup, similarity

    if gate == "lsh":
        base = "the quick brown fox jumps over the lazy dog again and again"
        novel = "a brand new document describing winnowing fingerprints nicely"
        dedup.build_lsh_index(
            spark.createDataFrame([(1, base)], "doc_id long, text string"), path
        )
        batch = spark.createDataFrame(
            [(10, base + " tail"), (11, novel), (12, novel + " extra"),
             (13, "unrelated fresh text about parquet row group statistics")],
            "doc_id long, text string",
        )
        return (
            lambda on_pass: dedup.lsh_dedup_gate(spark, path, threshold=0.6, on_pass=on_pass),
            batch,
        )

    def vec(d, jitter=0.0):
        v = [0.0] * 8
        v[d], v[(d + 1) % 8] = 1.0, jitter
        return v

    schema = "vec_id long, embedding array<double>"
    seed = spark.createDataFrame([(0, vec(0)), (1, vec(4))], schema)
    similarity.build_ivf_index(
        seed, path,
        centroids=seed.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")),
    )
    batch = spark.createDataFrame(
        [(10, vec(0, 0.05)), (11, vec(1)), (12, vec(1, 0.05)), (13, vec(5))], schema
    )
    return (
        lambda on_pass: similarity.semdedup_gate(spark, path, eps=0.8, on_pass=on_pass),
        batch,
    )


_TUNED = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")


@pytest.mark.parametrize("gate", ["lsh", "semdedup"])
def test_gate_in_a_stream_tunes_the_batch_session(spark, tmp_path, caplog, gate):
    """Through a real ``writeStream.foreachBatch`` (whose batches carry
    the query's own cloned session) a gate passes the same ids as a
    direct call; ``on_pass`` runs under that session's own AQE and
    shuffle-partition confs, the outer session's confs are never
    touched, and the sink logs one DEBUG line for the batch."""
    import logging

    make_sink, batch = _gate_and_batch(spark, gate, str(tmp_path / "idx_direct"))
    direct: list[int] = []
    make_sink(lambda s, _: direct.extend(r[0] for r in s.collect()))(batch, 0)

    make_sink, batch = _gate_and_batch(spark, gate, str(tmp_path / "idx_stream"))
    drop = str(tmp_path / "drop")
    batch.coalesce(1).write.parquet(drop)
    confs = {k: spark.conf.get(k) for k in _TUNED}
    seen: list[tuple] = []

    def on_pass(surv, batch_id):
        seen.append((
            batch_id,
            sorted(r[0] for r in surv.collect()),
            {k: surv.sparkSession.conf.get(k) for k in _TUNED},
            {k: spark.conf.get(k) for k in _TUNED},
        ))

    caplog.set_level(logging.DEBUG, logger="nibbledb_spark.gate")
    q = (
        spark.readStream.schema(batch.schema).parquet(drop)
        .writeStream.foreachBatch(make_sink(on_pass))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    assert sorted(direct) == [11, 13]
    assert seen == [(0, [11, 13], confs, confs)]
    assert [
        r.getMessage() for r in caplog.records if r.name == "nibbledb_spark.gate"
    ] == ["batch_id=0 rows_in=4 survivors=2"]


@pytest.mark.parametrize("gate", ["lsh", "semdedup"])
def test_gate_on_pass_failure_restores_confs_and_caches(spark, tmp_path, gate):
    """An ``on_pass`` that raises: the error reaches the caller, the
    session's tuned confs are back to their own values, and every
    per-batch frame the sink persisted is released."""
    make_sink, batch = _gate_and_batch(spark, gate, str(tmp_path / "idx"))

    def on_pass(surv, batch_id):
        raise RuntimeError("commit failed")

    sink = make_sink(on_pass)
    confs = {k: spark.conf.get(k) for k in _TUNED}
    n_persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(RuntimeError, match="commit failed"):
        sink(batch, 0)
    assert {k: spark.conf.get(k) for k in _TUNED} == confs
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == n_persisted
