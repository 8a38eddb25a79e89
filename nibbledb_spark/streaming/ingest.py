"""Streaming ingest: the Spark-native replacement for the reference's
write buffer + flush machinery (SURVEY.md §3.1; reference src/membuf.re,
src/timeseries.re:158-168).

Mapping:

- per-series FIFO buffer + size-triggered spill  ->  micro-batches
  (``maxFilesPerTrigger`` / trigger interval control batch sizing)
- explicit ``/ctl/ts/sync`` flush (A5)           ->  ``availableNow``
  drain / ``processAllAvailable()``
- overlap-merge compaction on spill (A4)         ->  engine.compact()
  scheduled job; read results are invariant either way
- late data: the reference accepts arbitrarily late points
  (src/timeseries.re:119-156) — therefore the ingest path uses NO
  watermark by default; windowed aggregations accept one explicitly.

The sink is ``foreachBatch`` -> ``TimeSeriesEngine.append_points`` —
the same bucket-partitioned store batch writes use, so batch and
streaming ingest converge to identical state (the STREAM parity class
convergence tests pin this).

The micro-batch model and the batch/streaming plan-equivalence this
module leans on are the Structured Streaming design (SIGMOD 2018,
PAPERS.md) — the convergence tests are exactly its prefix-consistency
guarantee exercised end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from nibbledb_spark.engine import TimeSeriesEngine
from nibbledb_spark.operators.timeseries import scaled_long
from nibbledb_spark.sources.registry import events_to_points

# raw event schema of the driver's events table (ts is TIMESTAMP(MICROS)
# isAdjustedToUTC=false in the parquet => TIMESTAMP_NTZ). NOTE: streaming
# replay supports only this current µs-NTZ vintage — a legacy INT64-ns
# events.parquet (read batch-side via nanosAsLong, see sources/registry.py
# event_ts_us) would fail this fixed schema at the stream read; replay such
# files by batch-loading once and re-writing, or swap ts to LongType here.
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampNTZType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


class StreamingIngest:
    """File-source streaming ingest into a TimeSeriesEngine store."""

    def __init__(self, engine: TimeSeriesEngine, checkpoint_dir: str) -> None:
        self.engine = engine
        self.checkpoint_dir = checkpoint_dir
        self._query: StreamingQuery | None = None

    def start_replay(
        self,
        source_dir: str,
        *,
        glob: str = "events.parquet",
        max_files_per_trigger: int | None = None,
        dedup: bool = False,
        dedup_within: str | None = None,
    ) -> StreamingQuery:
        """Replay parquet files through the streaming path (availableNow:
        process everything then stop — the A5 'sync' semantics).

        ``dedup=True`` enables streaming exact dedup on
        (series, ts, value) — the opt-in extension; the reference never
        deduplicates (quirk Q6), so default is off. Exact dedup keeps
        EVERY key ever seen in state — correct, but state grows with
        the stream forever (the 100 TB killer). ``dedup_within`` (an
        interval string, e.g. ``"1 hour"``) switches to
        ``dropDuplicatesWithinWatermark``: state entries are EVICTED
        once the watermark passes ``event_time + delay``, so state is
        bounded by the delay window. THE TRADE (probed batch-by-batch,
        pinned in test_dedup_within_watermark_bounds_state): the
        operator also DROPS any arriving row — duplicate or not —
        whose ``event_time + delay`` is already behind the watermark
        (it could never be dedup-protected, so Spark rejects it), so
        this mode surrenders the reference's accept-arbitrarily-late
        contract in exchange for bounded state. Watermark advancement
        from batch N's data takes effect in batch N+1. Use on
        transports where re-delivery and disorder are bounded
        (Kafka-style); pair with the engine's batch dedup + default
        ingest for the arbitrarily-late tail.
        """
        if dedup and dedup_within is not None:
            raise ValueError("dedup and dedup_within are mutually exclusive")
        spark: SparkSession = self.engine.spark
        reader = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("pathGlobFilter", glob)
        )
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        stream = events_to_points(reader.parquet(source_dir))
        if dedup:
            stream = stream.dropDuplicates(["series", "ts", "value"])
        elif dedup_within is not None:
            stream = (
                stream.withColumn("__ts", F.timestamp_micros(F.col("ts")))
                .withWatermark("__ts", dedup_within)
                .dropDuplicatesWithinWatermark(["series", "ts", "value"])
                .drop("__ts")
            )

        def sink(batch_df: DataFrame, epoch_id: int) -> None:
            self.engine.append_points(batch_df)

        self._query = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        return self._query

    def sync(self, timeout_s: float | None = None) -> None:
        """A5: drain everything in flight (GET /ctl/ts/sync analogue)."""
        if self._query is not None:
            self._query.awaitTermination(timeout_s)


def windowed_counts(
    points: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling/sliding window aggregation over a points stream (or a
    batch DataFrame — same plan, which is what the convergence tests
    exploit). Emits (series, window_start_us, n, sum_value).

    ``watermark`` bounds state for true streaming; None matches the
    reference's accept-arbitrarily-late semantics.
    """
    ts_ts = F.timestamp_micros(F.col("ts"))
    df = points.withColumn("__ts", ts_ts)
    if watermark is not None:
        df = df.withWatermark("__ts", watermark)
    win = F.window(F.col("__ts"), window, slide) if slide else F.window(F.col("__ts"), window)
    return (
        df.groupBy(F.col("series"), win.alias("w"))
        .agg(
            F.count("*").alias("n"),
            # scaled-long sum: exact, order-independent, codegen fast path
            (
                F.sum(scaled_long(F.col("value"), 6))
                .cast("double")
                / F.lit(1e6)
            ).alias("sum_value"),
        )
        .select(
            "series",
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "n",
            "sum_value",
        )
    )


def session_windows(
    points: DataFrame, gap: str = "30 minutes", watermark: str | None = None
) -> DataFrame:
    """Session windows per series keyed by activity gaps."""
    df = points.withColumn("__ts", F.timestamp_micros(F.col("ts")))
    if watermark is not None:
        df = df.withWatermark("__ts", watermark)
    return (
        df.groupBy(F.col("series"), F.session_window(F.col("__ts"), gap).alias("w"))
        .agg(F.count("*").alias("n"))
        .select(
            "series",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n",
        )
    )


# ---------------------------------------------------------------------------
# custom stateful operator (applyInPandasWithState)
# ---------------------------------------------------------------------------

SERIES_STATS_SCHEMA = (
    "series string, n long, total double, vmin double, vmax double, "
    "last_ts long, ewma double"
)
_STATE_SCHEMA = (
    "n long, total double, vmin double, vmax double, last_ts long, ewma double"
)


def stateful_series_stats(points: DataFrame, *, alpha: float = 0.2) -> DataFrame:
    """Per-series running profile as a custom stateful streaming operator
    (`applyInPandasWithState`): count, sum, min, max, newest ts, and an
    exponentially-weighted moving average over the time-ordered values.

    This is the extension analogue of the reference's per-series
    in-memory state (the membuf disk-range cache, SURVEY.md A35,
    src/membufq.re) — but as managed, checkpointed streaming state that
    survives restarts and scales out by the group key. State per series
    is O(1); the shuffle is one exchange on `series`. Each micro-batch
    is processed in ts order, so the EWMA is deterministic whenever
    batch boundaries respect time order (the replay path's availableNow
    single batch trivially does).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdf_iter, state):
        import pandas as pd

        (series,) = key
        if state.exists:
            n, total, vmin, vmax, last_ts, ewma = state.get
        else:
            n, total, vmin, vmax, last_ts, ewma = 0, 0.0, None, None, None, None
        for pdf in pdf_iter:
            pdf = pdf.sort_values(["ts", "value"])
            vals = pdf["value"].to_numpy()
            ts = pdf["ts"].to_numpy()
            if len(vals) == 0:
                continue
            n += len(vals)
            total += float(vals.sum())
            bmin, bmax = float(vals.min()), float(vals.max())
            vmin = bmin if vmin is None else min(vmin, bmin)
            vmax = bmax if vmax is None else max(vmax, bmax)
            last_ts = int(ts[-1]) if last_ts is None else max(last_ts, int(ts[-1]))
            for v in vals:  # O(batch) scalar recurrence — inherently serial
                ewma = float(v) if ewma is None else alpha * float(v) + (1 - alpha) * ewma
        state.update((n, total, vmin, vmax, last_ts, ewma))
        yield pd.DataFrame(
            [
                {
                    "series": series,
                    "n": n,
                    "total": total,
                    "vmin": vmin,
                    "vmax": vmax,
                    "last_ts": last_ts,
                    "ewma": ewma,
                }
            ]
        )

    return points.groupBy("series").applyInPandasWithState(
        update,
        SERIES_STATS_SCHEMA,
        _STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def series_stats_batch(pdf, alpha: float = 0.2):
    """The batch oracle for stateful_series_stats: identical recurrence
    over a pandas frame of one series, time-ordered."""
    pdf = pdf.sort_values(["ts", "value"])
    ewma = None
    for v in pdf["value"]:
        ewma = float(v) if ewma is None else alpha * float(v) + (1 - alpha) * ewma
    return {
        "n": len(pdf),
        "total": float(pdf["value"].sum()),
        "vmin": float(pdf["value"].min()),
        "vmax": float(pdf["value"].max()),
        "last_ts": int(pdf["ts"].max()),
        "ewma": ewma,
    }


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str = "series",
    ts_col: str = "ts",
    value_col: str = "value",
    tolerance: str = "2 minutes",
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream event-time interval join: every (l, r) pair with
    equal ``key`` and ``|r.ts - l.ts| <= tolerance`` (ts in epoch µs).

    ``how``: "inner" (default) or the watermark-gated outer flavors
    ("left_outer"/"right_outer"/"full_outer"). Outer rows null-extend
    exactly as in batch, with the documented streaming caveat: a
    null-extension is emitted only once the watermark passes the row's
    eviction time, so unmatched rows within watermark + tolerance of
    the end of an availableNow replay remain in state (they emit on
    the next trigger) — the convergence test compares the watermark-
    settled prefix for this reason.

    The state-boundedness contract Spark requires of stream-stream
    joins is exactly this shape: BOTH sides watermarked and the join
    condition range-bounding event time in both directions, so rows
    older than watermark + tolerance are evicted from join state
    instead of accumulating forever. On batch frames the watermarks are
    no-ops and the identical plan runs as an equi-key hash join with a
    range residual — the declared query + SQL oracle pin that path, the
    true-streaming convergence test pins this one
    (tests/test_streaming.py).

    Scale shape: the only shuffle is the hash exchange on ``key``;
    per-key state is bounded by rate x (watermark + tolerance), and a
    hot key is AQE-skew-splittable because the condition is an
    equi-join with residual, not a pure theta join.
    """
    l = left.select(
        F.col(key).alias("k"),
        F.col(ts_col).alias("l_ts"),
        F.col(value_col).alias("l_value"),
        F.timestamp_micros(F.col(ts_col)).alias("__lt"),
    )
    r = right.select(
        F.col(key).alias("rk"),
        F.col(ts_col).alias("r_ts"),
        F.col(value_col).alias("r_value"),
        F.timestamp_micros(F.col(ts_col)).alias("__rt"),
    )
    if l.isStreaming:
        l = l.withWatermark("__lt", watermark)
    if r.isStreaming:
        r = r.withWatermark("__rt", watermark)
    tol = F.expr(f"INTERVAL {tolerance}")
    return (
        l.join(
            r,
            (F.col("k") == F.col("rk"))
            & (F.col("__rt") >= F.col("__lt") - tol)
            & (F.col("__rt") <= F.col("__lt") + tol),
            how,
        )
        .select(
            # coalesce: under right/full outer, unmatched RIGHT rows have
            # a NULL left key but a known rk — emit the real key
            # (round-6 ADVICE; no-op for inner/left_outer where k is
            # never null).
            F.coalesce(F.col("k"), F.col("rk")).alias(key),
            "l_ts", "l_value", "r_ts", "r_value",
        )
    )
