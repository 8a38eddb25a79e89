"""Declared query registry: every operator surfaced to the driver.

Each entry pairs a Spark DataFrame builder ``(spark, sf_dir) -> DataFrame``
with an equivalent ANSI-SQL string for the DuckDB oracle. Column names
are aliased identically on both sides (the driver sorts columns by name
before hashing). Registered via the ``@declared`` decorator; consumed by
``__spark_entry__``.

Float-parity policy (SURVEY.md §2 parity classes):
- EXACT queries emit only ints/strings/exactly-representable doubles.
- FLOAT aggregate sums use scaled-long arithmetic so both engines compute
  the identical exact value regardless of summation order, on the codegen
  fast path: ``CAST(SUM(FLOOR(x * 10^s + 0.5)::BIGINT) AS DOUBLE) / 10^s``
  (sound because the measures are decimal-quantized; see _ssum).
- Order-insensitive: the driver hash ignores row order, so ORDER BY is
  cosmetic; ties only matter where they change row *selection*
  (top-n / limit), and every such query carries a unique-key tiebreak.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nibbledb_spark.operators import timeseries as ts_ops
from nibbledb_spark.sources.registry import event_ts_us, points_from_events

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}
# Operators that can never hash-match a SQL oracle (HLL/GK sketches,
# Lloyd k-means) live here instead of the driver-facing registry: each
# has a driver-green `*_bound` sibling in QUERIES whose oracle asserts
# zero bound violations, and its own pytest pins. Keeping them out of
# QUERIES means every driver slot goes to a hash-matchable name
# (round-5 verdict #5).
PYTEST_ONLY_QUERIES: dict[str, QueryFn] = {}


def declared(name: str, sql: str | None = None, *, pytest_only: bool = False):
    def wrap(fn: QueryFn) -> QueryFn:
        # duplicate names SILENTLY SHADOW in a dict registry — a second
        # @declared("x") would hide the first's (verified!) query and the
        # driver would hash-check the impostor under the old name.
        # Round-9 self-incident: a re-declared funnel query shadowed the
        # established one for two harness runs before a name count
        # caught it. Fail at import instead.
        if name in QUERIES or name in PYTEST_ONLY_QUERIES:
            raise ValueError(f"duplicate declared query name: {name}")
        # ... and stacking two @declared decorators on ONE def binds both
        # names to the same builder while the def the second name was
        # meant for goes unregistered (round-10 incident:
        # fingerprint_winnowing silently served winnow_near_dup_pairs'
        # plan, 103 vs 10105 rows). The def's own name IS the declared
        # name by project convention, so a mismatch here can only mean a
        # stacked/misplaced decorator. Fail at import.
        if fn.__name__ != name:
            raise ValueError(
                f"@declared({name!r}) placed on def {fn.__name__!r}: "
                "decorator stacking or a misnamed builder — each declared "
                "name must decorate a def of the same name"
            )
        if pytest_only:
            assert sql is None, f"{name}: pytest_only queries carry no oracle"
            PYTEST_ONLY_QUERIES[name] = fn
        else:
            QUERIES[name] = fn
            if sql is not None:
                ORACLE[name] = sql
        return fn

    return wrap


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # external harnesses run these in a plain session; load_table sets the
    # nanos-timestamp conf there too and reuses one analyzed relation per
    # (session, dir, table) — repeated calls skip re-listing + footer reads
    from nibbledb_spark.sources.registry import load_table

    return load_table(spark, name, sf_dir)


# --- exact-parity fast sums -------------------------------------------------
# Money/measure columns in the testdata are decimal-quantized (<= 6 dp), so
# SUM(FLOOR(x * 10^s + 0.5)::BIGINT) / 10^s is (a) exact and order-
# independent, (b) identical on Spark and DuckDB, and (c) a plain long sum
# (~4x faster than DECIMAL aggregation, which leaves the codegen fast path).
# The column form is ts_ops.scaled_long.


def _ssum(col, scale: int):
    m = float(10**scale)
    return F.sum(ts_ops.scaled_long(col, scale)).cast("double") / F.lit(m)


def _ssum_sql(expr: str, scale: int) -> str:
    m = 10**scale
    return f"CAST(SUM(CAST(FLOOR(({expr}) * {m} + 0.5) AS BIGINT)) AS DOUBLE) / {m}"


# Pearson r from the six exact-integer sufficient statistics
# (n, sx, sy, sxy, sx2, sy2). ONE definition per engine so the
# "identical IEEE expression tree on both sides" invariant lives in
# exactly two strings that must mirror each other — consumers
# (corr_quantity_price, ts_corr_pairs) cannot drift independently.
_PEARSON_R_SQL = """(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / NULLIF(SQRT(CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * SQRT(CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 0)"""


def _pearson_r():
    """Column-side twin of _PEARSON_R_SQL (same operation order).

    NULLIF guards the zero denominator (constant series / single shared
    bucket): without it, parity rests on BOTH engines mapping x/0.0 to
    NULL — true on Spark (non-ANSI Divide) and DuckDB 1.0, but DuckDB
    >= 1.1 defaults ieee_floating_point_ops=true (Inf/NaN), which would
    silently break hash parity on degenerate inputs. With the guard the
    degenerate case is NULL on both engines under every setting, and
    non-degenerate values are bit-identical to the unguarded form."""
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sx2, sy2 = F.col("sx2").cast("double"), F.col("sy2").cast("double")
    return (nd * sxy - sx * sy) / F.nullif(
        F.sqrt(nd * sx2 - sx * sx) * F.sqrt(nd * sy2 - sy * sy), F.lit(0.0)
    )


# ---------------------------------------------------------------------------
# Part A — the reference's time-series surface, on events-as-points
# (series = event_type, ts = epoch µs, tag = parsed props, value)
# ---------------------------------------------------------------------------

# DuckDB-side points view; tag lookup inlined as json_extract_string.
_POINTS_CTE = """
WITH points AS (
  SELECT event_type AS series,
         epoch_us(ts) AS ts,
         json_extract_string(props, '$.k') AS tag_k,
         value
  FROM events
)
"""

# epoch µs bounds used by the scan queries (events span 2024-01)
_SINCE = 1_705_708_800_000_000  # 2024-01-20
_FROM = 1_704_844_800_000_000  # 2024-01-10
_TO = 1_705_276_800_000_000  # 2024-01-15


@declared(
    "ts_last_n",
    _POINTS_CTE
    + """
SELECT series, ts, value FROM (
  SELECT series, ts, value,
         ROW_NUMBER() OVER (PARTITION BY series ORDER BY ts DESC, value DESC) AS rn
  FROM points
) WHERE rn <= 3
""",
)
def ts_last_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: newest n per series (per-series limit, quirk Q4)."""
    pts = points_from_events(spark, sf_dir)
    return ts_ops.last_n(pts, (), 3).select("series", "ts", "value")


@declared(
    "ts_first_n",
    _POINTS_CTE
    + """
SELECT series, ts, value FROM (
  SELECT series, ts, value,
         ROW_NUMBER() OVER (PARTITION BY series ORDER BY ts ASC, value ASC) AS rn
  FROM points
) WHERE rn <= 2
""",
)
def ts_first_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: oldest n per series."""
    pts = points_from_events(spark, sf_dir)
    return ts_ops.first_n(pts, (), 2).select("series", "ts", "value")


@declared(
    "ts_latest",
    _POINTS_CTE
    + """
SELECT series, ts, value FROM (
  SELECT series, ts, value,
         ROW_NUMBER() OVER (PARTITION BY series ORDER BY ts DESC, value DESC) AS rn
  FROM points
) WHERE rn = 1
""",
)
def ts_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: latest point per series."""
    pts = points_from_events(spark, sf_dir)
    return ts_ops.latest(pts, ()).select("series", "ts", "value")


@declared(
    "ts_since",
    _POINTS_CTE + f"SELECT series, ts, value FROM points WHERE ts >= {_SINCE}",
)
def ts_since(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: ts >= from, inclusive."""
    pts = points_from_events(spark, sf_dir)
    return ts_ops.since(pts, (), _SINCE).select("series", "ts", "value")


@declared(
    "ts_range",
    _POINTS_CTE
    + f"SELECT series, ts, value FROM points WHERE ts BETWEEN {_FROM} AND {_TO}",
)
def ts_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: both bounds inclusive."""
    pts = points_from_events(spark, sf_dir)
    return ts_ops.time_range(pts, (), _FROM, _TO).select("series", "ts", "value")


@declared(
    "ts_tag_equals",
    _POINTS_CTE + "SELECT series, ts, value FROM points WHERE tag_k = '42'",
)
def ts_tag_equals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13: tag equality; missing tag drops the point."""
    pts = points_from_events(spark, sf_dir)
    return ts_ops.tag_filter(pts, ["k"], ["42"]).select("series", "ts", "value")


@declared(
    "ts_tag_contains",
    _POINTS_CTE + "SELECT series, ts, value FROM points WHERE tag_k LIKE '%9%'",
)
def ts_tag_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14: literal substring match on the tag value."""
    pts = points_from_events(spark, sf_dir)
    return ts_ops.tag_filter(pts, ["k"], ["9"], mode="contains").select(
        "series", "ts", "value"
    )


@declared(
    "ts_tag_compound_or",
    _POINTS_CTE + "SELECT series, ts, value FROM points WHERE tag_k IN ('42', '69')",
)
def ts_tag_compound_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15: repeated tag name => OR of values."""
    pts = points_from_events(spark, sf_dir)
    return ts_ops.tag_filter(pts, ["k", "k"], ["42", "69"]).select(
        "series", "ts", "value"
    )


@declared(
    "ts_agg_exact",
    _POINTS_CTE
    + """
SELECT series,
       CAST(COUNT(value) AS DOUBLE) AS count,
       MAX(value) AS max,
       MIN(value) AS min
FROM points GROUP BY series
""",
)
def ts_agg_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17-A19 per series (count as float — quirk Q8)."""
    pts = points_from_events(spark, sf_dir)
    return pts.groupBy("series").agg(
        F.count("value").cast("double").alias("count"),
        F.max("value").alias("max"),
        F.min("value").alias("min"),
    )


@declared(
    "ts_agg_float",
    _POINTS_CTE
    + """
SELECT series,
       CAST(SUM(CAST(FLOOR((value) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000 AS sum,
       CAST(SUM(CAST(FLOOR((value) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000 / COUNT(value) AS mean,
       ROUND(STDDEV_POP(value), 6) AS sd,
       QUANTILE_CONT(value, 0.5) AS median
FROM points GROUP BY series
""",
)
def ts_agg_float(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16/A20/A21/A22 per series; sums via DECIMAL for order-independent
    exactness, sd rounded, median exact."""
    pts = points_from_events(spark, sf_dir)
    dec_sum = _ssum(F.col("value"), 6)
    return pts.groupBy("series").agg(
        dec_sum.alias("sum"),
        (dec_sum / F.count("value")).alias("mean"),
        F.round(F.stddev_pop("value"), 6).alias("sd"),
        F.expr("percentile(value, 0.5)").alias("median"),
    )


@declared(
    "ts_filtered_agg",
    _POINTS_CTE
    + """
SELECT CAST(SUM(CAST(FLOOR((value) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000 AS sum
FROM points WHERE tag_k = '42'
""",
)
def ts_filtered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A23 documented semantics: tag equality then aggregate."""
    pts = points_from_events(spark, sf_dir)
    sel = ts_ops.tag_filter(pts, ["k"], ["42"])
    return sel.agg(
        F.coalesce(_ssum(F.col("value"), 6), F.lit(0.0)).alias("sum")
    )


@declared(
    "ts_length",
    _POINTS_CTE
    + "SELECT COUNT(*) AS length FROM points WHERE series IN ('click', 'view')",
)
def ts_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A27: total point count over listed series."""
    pts = points_from_events(spark, sf_dir)
    return ts_ops.length(pts, ["click", "view"])


@declared("ts_names", _POINTS_CTE + "SELECT DISTINCT series FROM points")
def ts_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A30: distinct series names."""
    pts = points_from_events(spark, sf_dir)
    return ts_ops.series_names(pts)


@declared(
    "ts_ewma",
    _POINTS_CTE
    + """
, p AS (
  SELECT series, ts, value,
         CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS x,
         ROW_NUMBER() OVER (PARTITION BY series
                            ORDER BY ts ASC, value ASC) AS rn
  FROM points
),
f AS (
  SELECT a.series, a.ts, a.value,
         CAST(SUM(b.x << (b.rn - a.rn + LEAST(a.rn, 20) - 1)) AS BIGINT) AS num,
         (CAST(1 AS BIGINT) << LEAST(a.rn, 20)) - 1 AS den
  FROM p a JOIN p b
    ON b.series = a.series AND b.rn BETWEEN a.rn - 19 AND a.rn
  GROUP BY a.series, a.ts, a.value, a.rn
)
SELECT series, ts, value,
       CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 1000000 AS ewma
FROM f
""",
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series EWMA smoothing (operators/timeseries.py ewma): α=1/2
    halving weights over the last 20 observations — engine-exact
    because frame weights are the integer powers 2^i (the weighted sum
    is Σ x_scaled << i, exact longs, no float pow) and the denominator
    2^m − 1 renormalizes short series heads; the oracle restates the
    same shifts over a self-window join. The one double is the final
    mirrored divide pair."""
    from nibbledb_spark.operators.timeseries import ewma

    pts = points_from_events(spark, sf_dir).select("series", "ts", "value")
    return ewma(pts, window=20)


@declared(
    "ts_delta",
    _POINTS_CTE
    + """
, o AS (
  SELECT series, ts, value,
         lag(value) OVER w AS pv, lag(ts) OVER w AS pt
  FROM points WINDOW w AS (PARTITION BY series ORDER BY ts ASC, value ASC)
)
SELECT series, ts, value - pv AS delta, ts - pt AS elapsed_us
FROM o WHERE pv IS NOT NULL
""",
)
def ts_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series counter deltas (lag window; tsdb extension)."""
    from nibbledb_spark.operators.timeseries import delta

    pts = points_from_events(spark, sf_dir).select("series", "ts", "value")
    return delta(pts)


@declared(
    "ts_quantiles",
    _POINTS_CTE
    + """
SELECT series,
       QUANTILE_CONT(value, 0.25) AS p25,
       QUANTILE_CONT(value, 0.5) AS p50,
       QUANTILE_CONT(value, 0.75) AS p75,
       QUANTILE_CONT(value, 0.95) AS p95
FROM points GROUP BY series
""",
)
def ts_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-series quantile summary (single sort-based aggregate;
    percentile() is exact interpolated, matching QUANTILE_CONT)."""
    pts = points_from_events(spark, sf_dir)
    return pts.groupBy("series").agg(
        F.expr("percentile(value, 0.25)").alias("p25"),
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.75)").alias("p75"),
        F.expr("percentile(value, 0.95)").alias("p95"),
    )


# APPROX class: no oracle (sketch output is engine-specific); the driver
# records a rows-only check and pytest pins the error bound against the
# exact variant (tests/test_extensions.py::test_approx_quantiles_bound).
@declared("ts_quantiles_approx", pytest_only=True)
def ts_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB path for per-series quantiles: approx_percentile's
    sketch keeps fixed memory per group, where exact percentile()
    buffers every value of a series on one executor — a memory cliff
    for a billion-point series. Same output shape as ts_quantiles."""
    pts = points_from_events(spark, sf_dir)
    q = F.expr(
        "approx_percentile(value, array(0.25D, 0.5D, 0.75D, 0.95D), 10000)"
    )
    return (
        pts.groupBy("series")
        .agg(q.alias("q"))
        .select(
            "series",
            F.col("q")[0].alias("p25"),
            F.col("q")[1].alias("p50"),
            F.col("q")[2].alias("p75"),
            F.col("q")[3].alias("p95"),
        )
    )


@declared(
    "ts_quantiles_approx_bound",
    "SELECT event_type AS series, CAST(0 AS BIGINT) AS n_outside_bound "
    "FROM events GROUP BY 1 ORDER BY 1",
)
def ts_quantiles_approx_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable bound assertion for ts_quantiles_approx (round-4
    verdict #2): the GK-sketch output can't hash-match across engines,
    but ``|approx_p - exact_p| <= 5% of the series' spread`` can — both
    sides of the comparison run in ONE Spark plan (exact percentile +
    min/max in one agg, the sketch in another, joined on series) and
    the per-series violation count's oracle is the constant 0. One row
    per series keeps the check data-derived (series names must match
    too), mirroring tests/test_extensions.py::test_approx_quantiles_bound."""
    pts = points_from_events(spark, sf_dir)
    exact = pts.groupBy("series").agg(
        F.expr("percentile(value, 0.25)").alias("e25"),
        F.expr("percentile(value, 0.5)").alias("e50"),
        F.expr("percentile(value, 0.75)").alias("e75"),
        F.expr("percentile(value, 0.95)").alias("e95"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
    )
    approx = pts.groupBy("series").agg(
        F.expr(
            "approx_percentile(value, array(0.25D, 0.5D, 0.75D, 0.95D), 10000)"
        ).alias("q")
    )
    spread = F.when(F.col("hi") > F.col("lo"), F.col("hi") - F.col("lo")).otherwise(
        F.lit(1.0)
    )
    viol = None
    for i, e in enumerate(("e25", "e50", "e75", "e95")):
        v = (F.abs(F.col("q")[i] - F.col(e)) > F.lit(0.05) * spread).cast("long")
        viol = v if viol is None else viol + v
    return (
        exact.join(approx, "series")
        .select("series", viol.alias("n_outside_bound"))
        .orderBy("series")
    )


@declared(
    "interval_overlap_series_days",
    _POINTS_CTE
    + f"""
, iv AS (
  SELECT series, CAST(ts // 86400000000 AS BIGINT) AS day,
         MIN(ts) AS t_min, MAX(ts) AS t_max
  FROM points GROUP BY 1, 2
)
SELECT a.series AS series1, a.day AS day1, b.series AS series2, b.day AS day2
FROM iv a JOIN iv b
  ON a.t_min <= b.t_max AND b.t_min <= a.t_max
 AND (a.series < b.series OR (a.series = b.series AND a.day < b.day))
""",
)
def interval_overlap_series_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlap join over per-(series, day) activity intervals — the
    reference's shard-overlap predicate as a bucket-blocked join."""
    from nibbledb_spark.operators.asof import interval_join

    pts = points_from_events(spark, sf_dir)
    iv = pts.groupBy(
        "series", (F.col("ts") / 86_400_000_000).cast("long").alias("day")
    ).agg(F.min("ts").alias("t_min"), F.max("ts").alias("t_max"))
    a = iv.select(
        F.col("series").alias("series1"), F.col("day").alias("day1"),
        F.col("t_min").alias("t_min"), F.col("t_max").alias("t_max"),
    )
    b = iv.select(
        F.col("series").alias("series2"), F.col("day").alias("day2"),
        F.col("t_min").alias("t_min2"), F.col("t_max").alias("t_max2"),
    )
    out = interval_join(
        a, b,
        left_bounds=("t_min", "t_max"),
        right_bounds=("t_min2", "t_max2"),
    )
    return out.where(
        (F.col("series1") < F.col("series2"))
        | ((F.col("series1") == F.col("series2")) & (F.col("day1") < F.col("day2")))
    ).select("series1", "day1", "series2", "day2")


_RESAMPLE_US = 3_600_000_000  # 1 hour


@declared(
    "ts_resample_linear",
    _POINTS_CTE
    + f"""
, agg AS (
  SELECT series, ts - (ts % {_RESAMPLE_US}) AS bucket_us,
         CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000 / COUNT(*) AS v,
         COUNT(*) AS n
  FROM points GROUP BY 1, 2
),
rng AS (SELECT series, MIN(bucket_us) AS lo, MAX(bucket_us) AS hi FROM agg GROUP BY 1),
grid AS (SELECT series, unnest(generate_series(lo, hi, {_RESAMPLE_US})) AS bucket_us FROM rng),
j AS (
  SELECT g.series, g.bucket_us, a.v, COALESCE(a.n, 0) AS n FROM grid g
  LEFT JOIN agg a ON a.series = g.series AND a.bucket_us = g.bucket_us
),
f AS (
  SELECT series, bucket_us, v, n,
         last_value(v IGNORE NULLS) OVER (PARTITION BY series ORDER BY bucket_us
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
         last_value(CASE WHEN v IS NOT NULL THEN bucket_us END IGNORE NULLS)
           OVER (PARTITION BY series ORDER BY bucket_us
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_b,
         first_value(v IGNORE NULLS) OVER (PARTITION BY series ORDER BY bucket_us
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
         first_value(CASE WHEN v IS NOT NULL THEN bucket_us END IGNORE NULLS)
           OVER (PARTITION BY series ORDER BY bucket_us
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_b
  FROM j
)
SELECT series, bucket_us,
       CASE WHEN v IS NOT NULL THEN v
            ELSE prev_v + (next_v - prev_v)
                 * (CAST(bucket_us - prev_b AS DOUBLE) / CAST(next_b - prev_b AS DOUBLE))
       END AS value,
       n
FROM f
""",
)
def ts_resample_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample to 1h buckets (exact scaled-long means) with linear
    interpolation across empty buckets — the tsdb downsample/gap-fill
    extension (one hash agg + one window shuffle, no Python)."""
    from nibbledb_spark.operators.timeseries import resample

    pts = points_from_events(spark, sf_dir).select("series", "ts", "value")
    return resample(pts, _RESAMPLE_US, fill="linear")


@declared(
    "ts_resample_locf",
    _POINTS_CTE
    + f"""
, agg AS (
  SELECT series, ts - (ts % {_RESAMPLE_US}) AS bucket_us,
         CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000 / COUNT(*) AS v,
         COUNT(*) AS n
  FROM points GROUP BY 1, 2
),
rng AS (SELECT series, MIN(bucket_us) AS lo, MAX(bucket_us) AS hi FROM agg GROUP BY 1),
grid AS (SELECT series, unnest(generate_series(lo, hi, {_RESAMPLE_US})) AS bucket_us FROM rng),
j AS (
  SELECT g.series, g.bucket_us, a.v, COALESCE(a.n, 0) AS n FROM grid g
  LEFT JOIN agg a ON a.series = g.series AND a.bucket_us = g.bucket_us
)
SELECT series, bucket_us,
       COALESCE(v, last_value(v IGNORE NULLS) OVER (
         PARTITION BY series ORDER BY bucket_us
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS value,
       n
FROM j
""",
)
def ts_resample_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample to 1h buckets with last-observation-carried-forward
    gap fill — the staircase interpolation mode every tsdb exposes
    alongside linear (same single-shuffle window plan)."""
    from nibbledb_spark.operators.timeseries import resample

    pts = points_from_events(spark, sf_dir).select("series", "ts", "value")
    return resample(pts, _RESAMPLE_US, fill="prev")


# ---------------------------------------------------------------------------
# Part B — relational surface (first batch)
# ---------------------------------------------------------------------------


@declared(
    "q1_pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(FLOOR((l_quantity) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS sum_qty,
       CAST(SUM(CAST(FLOOR((l_extendedprice) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS sum_base_price,
       CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000 AS sum_disc_price,
       CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000 AS sum_charge,
       CAST(SUM(CAST(FLOOR((l_quantity) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(FLOOR((l_extendedprice) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 / COUNT(*) AS avg_price,
       CAST(SUM(CAST(FLOOR((l_discount) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q1-style pricing summary. One scan, map-side
    partial hash aggregation, no shuffle beyond the 6-group exchange.

    Built as ONE parsed statement (the r15 analyzer-once pattern): the
    Column form cost ~240 py4j round trips (~0.17 s) per construction.
    Value-identical tree (the SQL parser prints ``1 + l_tax`` where the
    Column chain built ``l_tax + 1`` — IEEE addition is commutative, so
    results are bit-identical; oracle hash-matched): the scaled longs
    pre-project once, the aggregation runs
    plain long sums inside whole-stage codegen (one round per row per
    measure, not per aggregate); double literals carry the ``D`` suffix
    so they parse to DoubleType exactly as ``F.lit(100.0)`` did."""
    from nibbledb_spark.session import sql_over

    li = _t(spark, sf_dir, "lineitem")

    def scaled(expr: str, s: int) -> str:
        return f"CAST(FLOOR(({expr}) * {float(10 ** s)!r}D + 0.5D) AS BIGINT)"

    def unscale(col: str, s: int) -> str:
        return f"CAST(SUM({col}) AS DOUBLE) / {float(10 ** s)!r}D"

    q = f"""
SELECT l_returnflag, l_linestatus,
       {unscale("q_s", 2)} AS sum_qty,
       {unscale("e_s", 2)} AS sum_base_price,
       {unscale("d_s", 4)} AS sum_disc_price,
       {unscale("c_s", 6)} AS sum_charge,
       {unscale("q_s", 2)} / COUNT(*) AS avg_qty,
       {unscale("e_s", 2)} / COUNT(*) AS avg_price,
       {unscale("dc_s", 2)} / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM (
  SELECT l_returnflag, l_linestatus,
         {scaled("l_quantity", 2)} AS q_s,
         {scaled("l_extendedprice", 2)} AS e_s,
         {scaled("l_discount", 2)} AS dc_s,
         {scaled("l_extendedprice * (1 - l_discount)", 4)} AS d_s,
         {scaled("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 6)} AS c_s
  FROM {{li}}
  WHERE l_shipdate <= CAST('1998-09-02 00:00:00' AS TIMESTAMP)
)
GROUP BY l_returnflag, l_linestatus
"""
    return sql_over(spark, q, li=li)


@declared(
    "join_orders_customer",
    """
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(FLOOR((o_totalprice) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
)
def join_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast equi-join: customer is the small build side."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            _ssum(F.col("o_totalprice"), 2).alias("revenue"),
        )
    )


@declared(
    "join_anti_customers_without_orders",
    """
SELECT COUNT(*) AS n_customers
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""",
)
def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select("o_custkey")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .agg(F.count("*").alias("n_customers"))
    )


@declared(
    "top10_orders",
    """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
""",
)
def top10_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k => TakeOrderedAndProject, never a full sort."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@declared(
    "window_top3_per_customer",
    """
SELECT o_custkey, o_orderkey, rn FROM (
  SELECT o_custkey, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn <= 3
""",
)
def window_top3_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window: top-3 orders per customer."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
    )


@declared(
    "window_order_gap_days",
    """
SELECT o_custkey, o_orderkey,
       DATE_DIFF('day',
                 LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey),
                 o_orderdate) AS gap_days
FROM orders
""",
)
def window_order_gap_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window: days since the customer's previous order."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        ).alias("gap_days"),
    )


@declared(
    "date_trunc_monthly_orders",
    """
SELECT STRFTIME(o_orderdate, '%Y-%m') AS month,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(FLOOR((o_totalprice) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS revenue
FROM orders GROUP BY 1
""",
)
def date_trunc_monthly_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date functions: month bucketing (emitted as a string — engine-
    neutral rendering)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(
            F.count("*").alias("n_orders"),
            _ssum(F.col("o_totalprice"), 2).alias("revenue"),
        )
    )


@declared(
    "distinct_mktsegments",
    "SELECT DISTINCT c_mktsegment FROM customer",
)
def distinct_mktsegments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (shuffle dedup)."""
    return _t(spark, sf_dir, "customer").select("c_mktsegment").distinct()


# ---------------------------------------------------------------------------
# Part B — batch 2: full capability matrix
# ---------------------------------------------------------------------------


@declared(
    "scan_checksum",
    """
SELECT COUNT(*) AS n_rows,
       CAST(SUM(l_orderkey) AS BIGINT) AS key_sum,
       CAST(MIN(epoch_us(l_shipdate)) AS BIGINT) AS min_ship_us,
       CAST(MAX(epoch_us(l_shipdate)) AS BIGINT) AS max_ship_us
FROM lineitem
""",
)
def scan_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File source sanity: full-scan count + integer checksum."""
    li = _t(spark, sf_dir, "lineitem")
    # l_shipdate is TIMESTAMP_NTZ; session tz is pinned UTC so the cast
    # to TIMESTAMP is wall-clock-identical and epoch_us matches DuckDB
    return li.agg(
        F.count("*").alias("n_rows"),
        F.sum("l_orderkey").alias("key_sum"),
        F.unix_micros(F.min("l_shipdate").cast("timestamp")).alias("min_ship_us"),
        F.unix_micros(F.max("l_shipdate").cast("timestamp")).alias("max_ship_us"),
    )


@declared(
    "join_lineitem_orders_smj",
    """
SELECT o_orderpriority,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000 AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
)
def join_lineitem_orders_smj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-large sort-merge join (merge hint pins SMJ so the plan is
    the one a 100 TB run would pick — both sides too big to broadcast)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            _ssum(rev, 4).alias("revenue"),
        )
    )


@declared(
    "join_lineitem_part_broadcast",
    """
SELECT p_brand,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(FLOOR((l_extendedprice) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS gross
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
""",
)
def join_lineitem_part_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-dim broadcast join: part ships to every executor, no shuffle
    of the big side."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            _ssum(F.col("l_extendedprice"), 2).alias("gross"),
        )
    )


@declared(
    "join_salted_orders_customer",
    """
SELECT o.o_orderkey, c.c_name,
       CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS price_c
FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
""",
)
def join_salted_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-salted join rewrite (plans/scale.salted_join: left rows
    spread over hash lanes, right side replicated per lane), oracle-
    checked against the PLAIN join SQL — salting must never change
    results, only the task-level distribution of a hot key."""
    from nibbledb_spark.plans.scale import salted_join

    o = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    joined = salted_join(
        o, c.withColumnRenamed("c_custkey", "o_custkey"), ["o_custkey"], salt=8
    )
    return joined.select(
        "o_orderkey",
        "c_name",
        ts_ops.scaled_long(F.col("o_totalprice"), 2).alias("price_c"),
    )


@declared(
    "join_theta_nation_region",
    """
SELECT n_name, r_name FROM nation, region WHERE n_regionkey <> r_regionkey
""",
)
def join_theta_nation_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta (non-equi) join via nested-loop over two tiny dims."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return n.crossJoin(r).where(F.col("n_regionkey") != F.col("r_regionkey")).select(
        "n_name", "r_name"
    )


@declared(
    "join_outer_order_histogram",
    """
SELECT n_orders, COUNT(*) AS n_customers FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS n_orders
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
) GROUP BY n_orders
""",
)
def join_outer_order_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer join preserving order-less customers (n_orders = 0)."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .groupBy("n_orders")
        .agg(F.count("*").alias("n_customers"))
    )


@declared(
    "join_full_outer_key_coverage",
    """
SELECT
  CAST(SUM(CASE WHEN c_custkey IS NOT NULL AND o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
  CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_customer_only,
  CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orders_only
FROM (SELECT DISTINCT o_custkey FROM orders) o
FULL OUTER JOIN customer ON c_custkey = o_custkey
""",
)
def join_full_outer_key_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer join coverage summary: customers with orders, without
    orders, and (per referential integrity, zero) orphan order keys."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey").distinct()
    j = c.join(o, c.c_custkey == o.o_custkey, "full_outer")
    return j.agg(
        F.sum(
            F.when(
                F.col("c_custkey").isNotNull() & F.col("o_custkey").isNotNull(), 1
            ).otherwise(0)
        ).alias("n_both"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias(
            "n_customer_only"
        ),
        F.sum(F.when(F.col("c_custkey").isNull(), 1).otherwise(0)).alias(
            "n_orders_only"
        ),
    )


@declared(
    "join_semi_customers_with_orders",
    """
SELECT COUNT(*) AS n_customers FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""",
)
def join_semi_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select("o_custkey")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").agg(
        F.count("*").alias("n_customers")
    )


@declared(
    "range_join_shipped_90d",
    """
SELECT o_orderstatus, COUNT(*) AS n_shipped
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= o_orderdate
  AND l_shipdate < o_orderdate + INTERVAL 90 DAY
GROUP BY o_orderstatus
""",
)
def range_join_shipped_90d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: equi key + time-band predicate (hash join + band
    filter — linear in matches, never |L|x|R|)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderstatus")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .where(
            (F.col("l_shipdate") >= F.col("o_orderdate"))
            & (F.col("l_shipdate") < F.col("o_orderdate") + F.expr("INTERVAL 90 DAY"))
        )
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_shipped"))
    )


@declared(
    "asof_last_purchase_before_click",
    """
WITH clicks AS (
  SELECT user_id, epoch_us(ts) AS ts, event_id FROM events WHERE event_type = 'click'
), purchases AS (
  SELECT user_id, epoch_us(ts) AS ts FROM events WHERE event_type = 'purchase'
)
SELECT c.event_id, p.ts AS last_purchase_ts
FROM clicks c ASOF LEFT JOIN purchases p
  ON c.user_id = p.user_id AND p.ts <= c.ts
""",
)
def asof_last_purchase_before_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every click, the most recent purchase ts (<=) by
    the same user — union + last(ignoreNulls) window, one shuffle."""
    from nibbledb_spark.operators.asof import asof_join

    raw = _t(spark, sf_dir, "events")
    ts_us = event_ts_us(raw)
    clicks = raw.where(F.col("event_type") == "click").select(
        "user_id", ts_us.alias("ts"), "event_id"
    )
    purchases = raw.where(F.col("event_type") == "purchase").select(
        "user_id", ts_us.alias("ts")
    )
    joined = asof_join(
        clicks, purchases, ["user_id"], value_cols=["ts"], suffix="_p"
    )
    return joined.select("event_id", F.col("ts_p").alias("last_purchase_ts"))


@declared(
    "asof_next_purchase_after_click",
    """
WITH clicks AS (
  SELECT user_id, epoch_us(ts) AS ts, event_id FROM events WHERE event_type = 'click'
), purchases AS (
  SELECT user_id, epoch_us(ts) AS ts FROM events WHERE event_type = 'purchase'
)
SELECT c.event_id, MIN(p.ts) AS next_purchase_ts
FROM clicks c LEFT JOIN purchases p
  ON p.user_id = c.user_id AND p.ts >= c.ts
GROUP BY c.event_id
""",
)
def asof_next_purchase_after_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: for every click, the earliest purchase ts
    (>=) by the same user — the mirrored window frame of the backward
    query, same single keyed shuffle (the oracle's join-then-MIN is the
    quadratic formulation the operator avoids)."""
    from nibbledb_spark.operators.asof import asof_join

    raw = _t(spark, sf_dir, "events")
    ts_us = event_ts_us(raw)
    clicks = raw.where(F.col("event_type") == "click").select(
        "user_id", ts_us.alias("ts"), "event_id"
    )
    purchases = raw.where(F.col("event_type") == "purchase").select(
        "user_id", ts_us.alias("ts")
    )
    joined = asof_join(
        clicks,
        purchases,
        ["user_id"],
        value_cols=["ts"],
        suffix="_p",
        direction="forward",
    )
    return joined.select("event_id", F.col("ts_p").alias("next_purchase_ts"))


@declared(
    "asof_nearest_purchase_to_click",
    """
WITH clicks AS (
  SELECT user_id, epoch_us(ts) AS ts, event_id FROM events WHERE event_type = 'click'
), purchases AS (
  SELECT user_id, epoch_us(ts) AS ts FROM events WHERE event_type = 'purchase'
), pairs AS (
  SELECT c.event_id, p.ts AS pts, ABS(p.ts - c.ts) AS d
  FROM clicks c LEFT JOIN purchases p ON p.user_id = c.user_id
)
SELECT event_id, pts AS nearest_purchase_ts FROM (
  SELECT event_id, pts,
         ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY d ASC, pts ASC) AS rn
  FROM pairs
) WHERE rn = 1
""",
)
def asof_nearest_purchase_to_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join — the third direction of operators/asof.py:
    for every click, the purchase ts (same user) closest in absolute
    time, backward winning exact ties (so the oracle's tiebreak is
    `d ASC, pts ASC`: the earlier timestamp). The operator is the
    backward and forward passes composed — two frames over ONE keyed
    shuffle — where the oracle's join-then-rank formulation is the
    quadratic blowup the operator exists to avoid."""
    from nibbledb_spark.operators.asof import asof_join

    raw = _t(spark, sf_dir, "events")
    ts_us = event_ts_us(raw)
    clicks = raw.where(F.col("event_type") == "click").select(
        "user_id", ts_us.alias("ts"), "event_id"
    )
    purchases = raw.where(F.col("event_type") == "purchase").select(
        "user_id", ts_us.alias("ts")
    )
    joined = asof_join(
        clicks,
        purchases,
        ["user_id"],
        value_cols=["ts"],
        suffix="_p",
        direction="nearest",
    )
    return joined.select("event_id", F.col("ts_p").alias("nearest_purchase_ts"))


@declared(
    "rollup_customers_region_nation",
    """
SELECT r_name, n_name, COUNT(*) AS n_customers
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
""",
)
def rollup_customers_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup: (region, nation) -> (region) -> grand total."""
    c = _t(spark, sf_dir, "customer").select("c_nationkey")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.count("*").alias("n_customers"))
    )


@declared(
    "cube_orders_status_priority",
    """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def cube_orders_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cube: all 4 grouping-set combinations."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(F.count("*").alias("n"))


@declared(
    "grouping_sets_revenue",
    """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(FLOOR((l_extendedprice) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS gross
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
""",
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS through the SQL API."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(FLOOR((l_extendedprice) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS gross
        FROM gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )


@declared(
    "count_distinct_customers",
    """
SELECT COUNT(DISTINCT o_custkey) AS n_custkeys, COUNT(*) AS n_orders FROM orders
""",
)
def count_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact count-distinct (expand + two-phase agg in Spark)."""
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.countDistinct("o_custkey").alias("n_custkeys"),
        F.count("*").alias("n_orders"),
    )


@declared("approx_distinct_parts", pytest_only=True)  # sketch output: no oracle possible
def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approximate distinct; validated against the exact count with
    a 5% relative bound (tests/test_queries.py and, driver-visibly, the
    approx_distinct_parts_bound sibling), never hash-matched — the HLL++
    register layout is engine-specific."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"))


@declared(
    "approx_distinct_parts_bound",
    """
SELECT COUNT(DISTINCT l_partkey) AS n_exact_parts,
       CAST(0 AS BIGINT) AS n_outside_bound
FROM lineitem
""",
)
def approx_distinct_parts_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable bound assertion for approx_distinct_parts
    (round-4 verdict #2): the HLL estimate itself can't hash-match
    across engines, but ``|approx - exact| / exact <= 0.05`` CAN — the
    comparison runs inside one Spark plan and emits a violation count
    whose oracle is the constant 0 (plus the exact distinct count, so
    the row stays data-derived). The hash matches iff the pinned
    APPROX-class bound holds on the driver's own data."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx"),
        F.countDistinct("l_partkey").alias("exact"),
    )
    return agg.select(
        F.col("exact").alias("n_exact_parts"),
        F.when(
            F.abs(F.col("approx") - F.col("exact")).cast("double")
            / F.col("exact").cast("double")
            > 0.05,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_outside_bound"),
    )


@declared(
    "moving_avg_7d",
    """
WITH daily AS (
  SELECT event_type AS series, STRFTIME(ts, '%Y-%m-%d') AS day,
         SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) AS total
  FROM events GROUP BY 1, 2
)
SELECT series, day,
       CAST(SUM(total) OVER w AS DOUBLE) / 1000000 / COUNT(total) OVER w AS avg_7d
FROM daily
WINDOW w AS (PARTITION BY series ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
""",
)
def moving_avg_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate window frame: 7-day moving average of daily totals.
    Decimal inside the frame => association-order-independent exactness
    (DuckDB's segment-tree window sums would drift on doubles)."""
    ev = _t(spark, sf_dir, "events")
    day = F.date_format(F.timestamp_micros(event_ts_us(ev)), "yyyy-MM-dd")
    daily = (
        ev.groupBy(F.col("event_type").alias("series"), day.alias("day"))
        .agg(F.sum(ts_ops.scaled_long(F.col("value"), 6)).alias("total"))
    )
    w = Window.partitionBy("series").orderBy("day").rowsBetween(-6, 0)
    return daily.select(
        "series",
        "day",
        (
            F.sum("total").over(w).cast("double") / 1000000.0 / F.count("total").over(w)
        ).alias("avg_7d"),
    )


@declared(
    "setop_intersect",
    """
SELECT COUNT(*) AS n FROM (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
  INTERSECT
  SELECT o_custkey FROM orders
)
""",
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: building-segment customers who placed orders."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    building = c.where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("k")
    )
    ordered = o.select(F.col("o_custkey").alias("k"))
    return building.intersect(ordered).agg(F.count("*").alias("n"))


@declared(
    "setop_except",
    """
SELECT COUNT(*) AS n FROM (
  SELECT c_custkey FROM customer
  EXCEPT
  SELECT o_custkey FROM orders
)
""",
)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: customers who never ordered (set difference)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.select(F.col("c_custkey").alias("k"))
        .exceptAll(o.select(F.col("o_custkey").alias("k")).distinct())
        .agg(F.count("*").alias("n"))
    )


@declared(
    "string_funcs_part",
    """
SELECT p_partkey,
       REGEXP_EXTRACT(p_type, '^(\\w+)', 1) AS type_head,
       LOWER(p_brand) AS brand_lower,
       LENGTH(p_name) AS name_len,
       SUBSTRING(p_name, 1, 5) AS name_head,
       CONCAT(p_brand, ':', p_type) AS brand_type
FROM part WHERE p_size >= 40
""",
)
def string_funcs_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function catalog: regexp/lower/length/substr/concat."""
    p = _t(spark, sf_dir, "part")
    return p.where(F.col("p_size") >= 40).select(
        "p_partkey",
        F.regexp_extract("p_type", r"^(\w+)", 1).alias("type_head"),
        F.lower("p_brand").alias("brand_lower"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name_head"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
    )


@declared(
    "math_funcs_lineitem",
    """
SELECT l_orderkey, l_linenumber,
       ABS(l_quantity - 25) AS qty_dev,
       SQRT(l_quantity) AS qty_sqrt,
       ROUND(LN(l_extendedprice), 9) AS price_ln,
       l_discount * l_discount AS disc_sq,
       CAST(FLOOR(l_tax * 100) AS BIGINT) AS tax_pct,
       CAST(CEIL(l_quantity / 10) AS BIGINT) AS qty_decile
FROM lineitem WHERE l_orderkey < 200
""",
)
def math_funcs_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math catalog: abs/sqrt/ln/floor/ceil (sqrt is IEEE-exact; ln
    rounded to absorb last-ulp libm differences)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.where(F.col("l_orderkey") < 200).select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_quantity") - 25).alias("qty_dev"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        F.round(F.log(F.col("l_extendedprice")), 9).alias("price_ln"),
        (F.col("l_discount") * F.col("l_discount")).alias("disc_sq"),
        F.floor(F.col("l_tax") * 100).alias("tax_pct"),
        F.ceil(F.col("l_quantity") / 10).alias("qty_decile"),
    )


@declared(
    "json_map_events",
    """
SELECT event_id,
       json_extract_string(props, '$.k') AS k_str,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) >= 95
""",
)
def json_map_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON + map functions: parse props, extract, cast, filter."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return (
        ev.select(
            "event_id",
            k.alias("k_str"),
            k.cast("int").alias("k_int"),
        )
        .where(F.col("k_int") >= 95)
    )


@declared(
    "pivot_events_weekday",
    """
SELECT CAST(isodow(ts) - 1 AS INTEGER) AS weekday,
       COUNT(*) FILTER (WHERE event_type = 'click') AS click,
       COUNT(*) FILTER (WHERE event_type = 'view') AS view,
       COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase
FROM events GROUP BY 1
""",
)
def pivot_events_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: event counts by weekday x type (missing combos => 0)."""
    ev = _t(spark, sf_dir, "events")
    wd = F.weekday(F.timestamp_micros(event_ts_us(ev)))
    out = (
        ev.groupBy(wd.alias("weekday"))
        .pivot("event_type", ["click", "view", "purchase"])
        .count()
    )
    return out.select(
        "weekday",
        F.coalesce("click", F.lit(0)).alias("click"),
        F.coalesce("view", F.lit(0)).alias("view"),
        F.coalesce("purchase", F.lit(0)).alias("purchase"),
    )


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\+\d[\d()\- ]{7,}\d"


@declared(
    "text_pii_scrub",
    f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS INT) AS n_email,
       CAST(len(regexp_extract_all(text, '{_PII_IP}')) AS INT) AS n_ipv4,
       CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS INT) AS n_phone,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
           '{_PII_EMAIL}', '<EMAIL>', 'g'),
           '{_PII_IP}', '<IP>', 'g'),
           '{_PII_PHONE}', '<PHONE>', 'g')) AS scrubbed_md5
FROM documents
""",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails / IPv4s / intl phone numbers): row-local
    regexp codegen, zero shuffles — the pre-training scrub pass. The
    scrubbed bytes are pinned by md5 against the oracle's identical
    replacement chain (patterns restricted to the Java-regex/RE2
    common dialect)."""
    from nibbledb_spark.operators.text import pii_scrub

    return pii_scrub(_t(spark, sf_dir, "documents"))


@declared(
    "text_repetition",
    f"""
WITH d AS (SELECT doc_id, text FROM documents),
l AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM d),
pl AS (SELECT doc_id, line, COUNT(*) AS c FROM l GROUP BY 1, 2),
ls AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_lines,
         1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(c) AS dup_line_fraction,
         CAST(COALESCE(SUM(CASE WHEN c > 1 THEN c * len(line) END), 0) AS DOUBLE)
           / SUM(c * len(line)) AS dup_line_char_fraction
  FROM pl GROUP BY 1
),
t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM d),
tok AS (SELECT doc_id, unnest(w) AS tok FROM t),
ws AS (SELECT doc_id, CAST(SUM(len(tok)) AS DOUBLE) / COUNT(*) AS mean_word_len
       FROM tok GROUP BY 1),
bgr AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bg FROM t),
pb AS (SELECT doc_id, bg, COUNT(*) AS c FROM bgr GROUP BY 1, 2),
bs AS (SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_bigram_fraction FROM pb GROUP BY 1)
SELECT ls.doc_id, n_lines, dup_line_fraction, dup_line_char_fraction,
       top_bigram_fraction, mean_word_len
FROM ls JOIN ws ON ws.doc_id = ls.doc_id
LEFT JOIN bs ON bs.doc_id = ls.doc_id
""",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-family repetition signals (dup-line fraction, dup-line
    char fraction, top-bigram fraction, mean word length) — the
    corpus-quality filters of Rae et al. 2021 appendix A, as three
    map-side-combined keyed aggregations joined on doc id."""
    from nibbledb_spark.operators.text import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"))


@declared(
    "ts_outliers_mad",
    _POINTS_CTE
    + """
, st AS (SELECT series, MEDIAN(value) AS med, MAD(value) AS mad FROM points GROUP BY 1)
SELECT p.series, p.ts, p.value, st.med, st.mad
FROM points p JOIN st ON st.series = p.series
WHERE ABS(p.value - st.med) > 3 * st.mad
""",
)
def ts_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-series anomaly detection: points beyond 3 MADs from
    the series median. Pure codegen (exact percentile as a window
    aggregate — no Python, unlike the mad_per_series UDAF showcase);
    both window passes share one (series) shuffle. At 100 TB swap the
    exact percentile for approx_percentile exactly as ts_quantiles_approx
    documents."""
    from pyspark.sql import Window

    pts = points_from_events(spark, sf_dir).select("series", "ts", "value")
    w = Window.partitionBy("series")
    df = pts.withColumn("med", F.expr("percentile(value, 0.5)").over(w))
    df = df.withColumn(
        "mad", F.expr("percentile(abs(value - med), 0.5)").over(w)
    )
    return df.where(F.abs(F.col("value") - F.col("med")) > 3 * F.col("mad")).select(
        "series", "ts", "value", "med", "mad"
    )


@declared(
    "mad_per_series",
    _POINTS_CTE + "SELECT series, MAD(value) AS mad FROM points GROUP BY series",
)
def mad_per_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation grouped UDAF via applyInPandas (the
    Arrow-batched slow path — the only Python in the declared set)."""
    import pandas as pd

    pts = points_from_events(spark, sf_dir).select("series", "value")

    def mad(pdf: pd.DataFrame) -> pd.DataFrame:
        med = pdf["value"].median()
        return pd.DataFrame(
            {"series": [pdf["series"].iloc[0]], "mad": [(pdf["value"] - med).abs().median()]}
        )

    return pts.groupBy("series").applyInPandas(mad, schema="series string, mad double")


# ---------------------------------------------------------------------------
# Part C — LLM-data-pipeline extensions (documents / embeddings tables)
# ---------------------------------------------------------------------------

# DuckDB-side helpers mirrored from operators/text.py + operators/dedup.py.
_TOKS = "string_split_regex(text, '\\s+')"
_SHINGLES = (
    "list_distinct(list_transform(range(1, len(w)-1), i -> w[i]||' '||w[i+1]||' '||w[i+2]))"
)
_STOPWORDS_SQL = "('the','a','of','and','is','to','in','that','it','for')"

# The blended quality score (type-token ratio + stopword ratio, equal
# weights) over a token list `w` — ONE definition composed into every
# oracle that ranks or filters by quality, so a reweighting cannot
# silently diverge between them.
_QUALITY_SCORE_SQL = (
    "(CAST(len(list_distinct(w)) AS DOUBLE) / len(w)) * 0.5"
    f" + (CAST(len(list_filter(w, x -> x IN {_STOPWORDS_SQL})) AS DOUBLE)"
    " / len(w)) * 0.5"
)

from nibbledb_spark.operators.pipeline import DEFAULT_MAX_SHINGLE_DF as _MAX_SHINGLE_DF  # noqa: E402


@declared(
    "text_token_stats",
    f"""
WITH t AS (SELECT doc_id, text, {_TOKS} AS w FROM documents)
SELECT doc_id,
       len(w) AS n_tokens,
       len(list_distinct(w)) AS n_uniq_tokens,
       CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w) AS mean_token_len,
       len(regexp_extract_all(text, '''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+')) AS n_bpe_tokens
FROM t
""",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting over the documents table (JVM array expressions);
    n_bpe_tokens is the GPT-2-style pre-tokenizer subword count."""
    from nibbledb_spark.operators.text import token_stats

    return token_stats(_t(spark, sf_dir, "documents"))


@declared(
    "text_quality",
    f"""
WITH t AS (SELECT doc_id, {_TOKS} AS w FROM documents)
SELECT doc_id,
       len(w) AS n_tokens,
       CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS uniq_ratio,
       CAST(len(list_filter(w, x -> x IN {_STOPWORDS_SQL})) AS DOUBLE) / len(w) AS stopword_ratio,
       {_QUALITY_SCORE_SQL}
         AS quality_score
FROM t
""",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: type-token ratio + stopword ratio blend."""
    from nibbledb_spark.operators.text import quality_scores

    return quality_scores(_t(spark, sf_dir, "documents"))


def _lang_score_sql(lang: str) -> str:
    from nibbledb_spark.operators.text import LANG_MARKERS

    markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return f"len(list_filter(w, x -> x IN ({markers})))"


@declared(
    "text_lang_id",
    f"""
WITH t AS (SELECT doc_id, text, {_TOKS} AS w FROM documents)
SELECT doc_id,
       CASE
         WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
         WHEN {_lang_score_sql('en')} >= {_lang_score_sql('de')}
          AND {_lang_score_sql('en')} >= {_lang_score_sql('fr')}
          AND {_lang_score_sql('en')} >= {_lang_score_sql('es')} THEN 'en'
         WHEN {_lang_score_sql('de')} >= {_lang_score_sql('fr')}
          AND {_lang_score_sql('de')} >= {_lang_score_sql('es')} THEN 'de'
         WHEN {_lang_score_sql('fr')} >= {_lang_score_sql('es')} THEN 'fr'
         ELSE 'es'
       END AS lang_pred
FROM t
""",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-based language-ID heuristic (deterministic argmax)."""
    from nibbledb_spark.operators.text import lang_id

    return lang_id(_t(spark, sf_dir, "documents"))


@declared(
    "text_fingerprints",
    f"""
WITH t AS (SELECT doc_id, text, {_TOKS} AS w FROM documents)
SELECT doc_id,
       md5(text) AS exact_fp,
       md5(array_to_string(list_sort(list_distinct(w)), ' ')) AS content_fp
FROM t
""",
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact + order-invariant content fingerprints."""
    from nibbledb_spark.operators.text import fingerprints

    return fingerprints(_t(spark, sf_dir, "documents"))


@declared(
    "winnow_near_dup_pairs",
    """
WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS wt FROM documents),
kgidx AS (
  SELECT doc_id, wt,
         unnest(range(greatest(len(wt) - 2, 0))) AS i
  FROM t
),
kg AS (
  SELECT doc_id, i,
         CAST(concat('0x', substr(md5(array_to_string(wt[i+1:i+3], ' ')), 1, 10)) AS BIGINT)
           * 1048576 + (1048575 - i) AS c
  FROM kgidx
),
wins AS (
  SELECT doc_id, i,
         MIN(c) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS cmin,
         COUNT(*) OVER (PARTITION BY doc_id) AS nk
  FROM kg
),
fps AS (
  SELECT DISTINCT doc_id, cmin >> 20 AS fp
  FROM wins WHERE i <= greatest(nk - 4, 0)
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM fps GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS n_shared
  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id1, id2, CAST(n_shared AS BIGINT) AS n_shared,
       CAST(n_shared AS DOUBLE) / least(z1.sz, z2.sz) AS containment
FROM inter
JOIN sizes z1 ON z1.doc_id = id1
JOIN sizes z2 ON z2.doc_id = id2
WHERE n_shared >= 2
""",
)
def winnow_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by shared winnowing fingerprints
    (operators/dedup.py winnow_near_dup_pairs — the MOSS match step):
    the fingerprint equi-join generates candidates over a ~2/(w+1)
    density selection of the k-gram space (~40% of the shared-shingle
    join's row volume at w=4) while keeping the locality guarantee
    that every >= 6-token overlap pairs. n_shared and the sizes are
    exact integers; containment is one int/int divide — parity-safe."""
    from nibbledb_spark.operators.dedup import winnow_near_dup_pairs as op

    return op(_t(spark, sf_dir, "documents"), k=3, w=4, min_shared=2)


@declared(
    "fingerprint_winnowing",
    """
WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS wt FROM documents),
kgidx AS (
  SELECT doc_id, wt,
         unnest(range(greatest(len(wt) - 2, 0))) AS i
  FROM t
),
kg AS (
  SELECT doc_id, i,
         CAST(concat('0x', substr(md5(array_to_string(wt[i+1:i+3], ' ')), 1, 10)) AS BIGINT)
           * 1048576 + (1048575 - i) AS c
  FROM kgidx
),
wins AS (
  SELECT doc_id, i,
         MIN(c) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS cmin,
         COUNT(*) OVER (PARTITION BY doc_id) AS nk
  FROM kg
)
SELECT DISTINCT doc_id,
       CAST(1048575 - (cmin & 1048575) AS BIGINT) AS pos,
       CAST(cmin >> 20 AS BIGINT) AS fp
FROM wins WHERE i <= greatest(nk - 4, 0)
""",
)
def fingerprint_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing local fingerprints (operators/text.py
    winnow_fingerprints; Schleimer/Wilkerson/Aiken SIGMOD 2003, the
    MOSS scheme): per-window minimum of 3-gram hashes over windows of
    4, rightmost-min tie-break via the packed (hash*2^20 + inverted
    pos) BIGINT encoding — any >= 6-token match between docs is
    GUARANTEED to share a selected fingerprint, unlike stride/modulo
    sampling. Spark side is zero-exchange row-local array HOFs; the
    oracle states the same selection with a window MIN over positional
    k-gram rows. Integer-exact, so the hash/pos decode matches bit for
    bit."""
    from nibbledb_spark.operators.text import winnow_fingerprints

    return winnow_fingerprints(_t(spark, sf_dir, "documents"), k=3, w=4)


@declared(
    "dedup_exact",
    """
SELECT md5(text) AS dup_key, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM documents GROUP BY 1
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one winner per md5(text) group (hash shuffle, not
    payload shuffle)."""
    from nibbledb_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"), ["text"])


@declared(
    "dedup_content",
    f"""
WITH t AS (SELECT doc_id, {_TOKS} AS w FROM documents)
SELECT md5(array_to_string(list_sort(list_distinct(w)), ' ')) AS dup_key,
       MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM t GROUP BY 1
""",
)
def dedup_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive dedup on the content fingerprint."""
    from nibbledb_spark.operators.text import fingerprints

    docs = _t(spark, sf_dir, "documents")
    return (
        fingerprints(docs)
        .groupBy(F.col("content_fp").alias("dup_key"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


def _sig_sql(num_hashes: int = 8) -> str:
    mins = ", ".join(
        f"list_aggregate(list_transform(s, x -> md5('{j}:'||x)), 'min')"
        for j in range(num_hashes)
    )
    return f"[{mins}]"


@declared(
    "minhash_signatures",
    f"""
WITH t AS (SELECT doc_id, {_TOKS} AS w FROM documents),
sh AS (SELECT doc_id, {_SHINGLES} AS s FROM t)
SELECT doc_id, array_to_string({_sig_sql()}, ',') AS sig
FROM sh WHERE len(s) > 0
""",
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc MinHash signatures — row-oriented path (posexplode + hash
    agg, fully codegen'd; the array-HOF formulation is ~20x slower).

    The signature is emitted as ONE comma-joined string column rather than
    array<string>: the driver's pandas canonicalizer cannot sort ndarray
    cells (round-3 verdict), and a scalar column carries the identical
    information for hash-matching."""
    from nibbledb_spark.operators.dedup import minhash_rows, shingle_rows

    docs = _t(spark, sf_dir, "documents")
    sig = minhash_rows(shingle_rows(docs))
    return sig.select(
        F.col("id").alias("doc_id"),
        F.concat_ws(",", *[f"h{j}" for j in range(8)]).alias("sig"),
    )


def _lsh_pairs_sql() -> str:
    bands = ", ".join(
        f"md5(sig[{2*b+1}]||'|'||sig[{2*b+2}])" for b in range(4)
    )
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS w FROM documents),
sh AS (SELECT doc_id, {_SHINGLES} AS s FROM t),
sig AS (SELECT doc_id, s, {_sig_sql()} AS sig FROM sh),
bands AS (
  SELECT doc_id, u.b, [{bands}][u.b + 1] AS bucket
  FROM sig, (SELECT unnest([0,1,2,3]) AS b) u
),
cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM bands a JOIN bands b ON a.b = b.b AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT c.id1, c.id2,
       CAST(len(list_intersect(s1.s, s2.s)) AS DOUBLE)
         / (len(s1.s) + len(s2.s) - len(list_intersect(s1.s, s2.s))) AS jaccard
FROM cand c JOIN sh s1 ON c.id1 = s1.doc_id JOIN sh s2 ON c.id2 = s2.doc_id
WHERE CAST(len(list_intersect(s1.s, s2.s)) AS DOUBLE)
         / (len(s1.s) + len(s2.s) - len(list_intersect(s1.s, s2.s))) >= 0.8
"""


@declared("lsh_near_dup_pairs", _lsh_pairs_sql())
def lsh_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup detection: band-bucket candidates + exact
    Jaccard verify on candidates only (never all-pairs). The md5-based
    signatures make the whole pipeline deterministic, so the oracle
    replicates it exactly."""
    from nibbledb_spark.operators.dedup import near_dup_pairs_minhash_fast

    return near_dup_pairs_minhash_fast(_t(spark, sf_dir, "documents"), threshold=0.8)


@declared(
    "ngram_jaccard_pairs",
    f"""
WITH t AS (SELECT doc_id, {_TOKS} AS w FROM documents),
sh AS (SELECT doc_id, unnest({_SHINGLES}) AS s FROM t),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id1, id2,
       CAST(n_inter AS DOUBLE) / (z1.sz + z2.sz - n_inter) AS jaccard
FROM inter JOIN sizes z1 ON z1.doc_id = id1 JOIN sizes z2 ON z2.doc_id = id2
WHERE CAST(n_inter AS DOUBLE) / (z1.sz + z2.sz - n_inter) >= 0.5
""",
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trigram-Jaccard near-dup pairs; candidates come from the
    shared-shingle equi-join itself (never an all-pairs product)."""
    from nibbledb_spark.operators.dedup import ngram_jaccard_pairs as op

    return op(_t(spark, sf_dir, "documents"), threshold=0.5)


@declared(
    "ngram_containment_pairs",
    f"""
WITH t AS (SELECT doc_id, {_TOKS} AS w FROM documents),
sh AS (SELECT doc_id, unnest({_SHINGLES}) AS s FROM t),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id1, id2,
       CAST(n_inter AS DOUBLE) / least(z1.sz, z2.sz) AS containment
FROM inter JOIN sizes z1 ON z1.doc_id = id1 JOIN sizes z2 ON z2.doc_id = id2
WHERE CAST(n_inter AS DOUBLE) / least(z1.sz, z2.sz) >= 0.9
""",
)
def ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup pairs by exact trigram CONTAINMENT
    (|A ∩ B| / min(|A|, |B|), operators/dedup.py
    ngram_containment_pairs): a short document wholly quoted inside a
    long one scores 1.0 here while its Jaccard — divided by the union —
    can be arbitrarily small, so this is the subset/quote catch the
    Jaccard pass misses. Same never-all-pairs shape: candidates and the
    intersection count both come from the shared-shingle equi-join."""
    from nibbledb_spark.operators.dedup import ngram_containment_pairs as op

    return op(_t(spark, sf_dir, "documents"), threshold=0.9)


@declared(
    "ngram_novelty_scores",
    f"""
WITH t AS (SELECT doc_id, {_TOKS} AS w FROM documents),
sh AS (SELECT doc_id, unnest({_SHINGLES}) AS s FROM t),
f AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY s) AS first_id FROM sh),
per AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(COUNT(*) FILTER (doc_id = first_id) AS BIGINT) AS n_novel
  FROM f GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(per.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(per.n_novel, 0) AS BIGINT) AS n_novel,
       CASE WHEN per.n_grams > 0
            THEN CAST(per.n_novel AS DOUBLE) / per.n_grams END AS novelty
FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
""",
)
def ngram_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc trigram novelty (operators/dedup.py ngram_novelty): the
    fraction of a doc's distinct n-grams first seen (min doc id) in
    this doc — the corpus-level "how much does this doc add" signal
    between exact dedup and pairwise near-dup scoring, used for
    redundancy pruning and curriculum ordering. One exchange: first
    ownership is a min-over window on the shingle, then a per-doc
    aggregate; integer counts make the ratio engine-exact."""
    from nibbledb_spark.operators.dedup import ngram_novelty

    return ngram_novelty(_t(spark, sf_dir, "documents"))


@declared(
    "strip_frequent_tokens",
    """
WITH l AS (
  SELECT doc_id, unnest(ls) AS line, generate_subscripts(ls, 1) AS pos
  FROM (SELECT doc_id, string_split(text, ' ') AS ls FROM documents)
),
dfq AS (SELECT line, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM l GROUP BY line),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
hot AS (SELECT line FROM dfq, tot WHERE df * 10000 > 5000 * n),
kept AS (SELECT l.* FROM l ANTI JOIN hot USING (line))
SELECT d.doc_id,
       COALESCE(agg.cleaned, '') AS cleaned_text,
       CAST(t.n_total - COALESCE(agg.n_kept, 0) AS BIGINT) AS n_removed
FROM documents d
JOIN (SELECT doc_id, COUNT(*) AS n_total FROM l GROUP BY doc_id) t
  ON t.doc_id = d.doc_id
LEFT JOIN (
  SELECT doc_id, string_agg(line, ' ' ORDER BY pos) AS cleaned,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
) agg ON agg.doc_id = d.doc_id
""",
)
def strip_frequent_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-doc-frequency boilerplate removal (operators/dedup.py
    strip_frequent_lines with sep=' ': this fixture's documents are
    single-line, so the declared instance strips at token granularity —
    any token present in more than half of all documents is removed
    everywhere and each doc is rebuilt from the survivors in order;
    with the default sep it is the CCNet/RefinedWeb frequent-LINE
    boilerplate pass, pytest-pinned on a planted multi-line fixture).
    The threshold compare is integer-exact (df*10000 > 5000*corpus_n),
    so no float boundary can diverge between engines. Scale shape:
    distinct+count on the token hash, broadcast-anti of the (small by
    construction) boilerplate set, one rebuild aggregate per doc."""
    from nibbledb_spark.operators.dedup import strip_frequent_lines

    return strip_frequent_lines(
        _t(spark, sf_dir, "documents"), sep=" ", max_doc_frac=0.5
    )


# Shared near-dup transitive-closure CTE chain (trigram Jaccard >= 0.5
# pairs -> undirected edges -> recursive reachability). Composed into
# every clustering oracle so a threshold/shingle tune can't silently
# diverge between them.
_NDC_CLOSURE_CTES = f"""
WITH RECURSIVE t AS (SELECT doc_id, {_TOKS} AS w FROM documents),
sh AS (SELECT doc_id, unnest({_SHINGLES}) AS s FROM t),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id1, id2 FROM inter
  JOIN sizes z1 ON z1.doc_id = id1 JOIN sizes z2 ON z2.doc_id = id2
  WHERE CAST(n_inter AS DOUBLE) / (z1.sz + z2.sz - n_inter) >= 0.5
),
edges AS (
  SELECT id1 AS a, id2 AS b FROM pairs
  UNION
  SELECT id2 AS a, id1 AS b FROM pairs
),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id
)"""


def _pagerank_sql(iterations: int = 5, q: int = 10**9, num: int = 85, den: int = 100) -> str:
    """Unrolled fixed-iteration PageRank oracle: the operator's integer
    recurrence restated as chained CTEs (one contribution agg + one
    damped update per iteration). Everything is BIGINT until the final
    display divide, so the oracle is bit-identical to the Spark loop by
    construction — an EXACT oracle over an iterative graph algorithm."""
    ctes = [
        """pairs AS (
  SELECT DISTINCT l_suppkey AS s, o_custkey AS c
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)""",
        """edges AS (
  SELECT s * 10 + 1 AS src, c * 10 + 2 AS dst FROM pairs
  UNION ALL
  SELECT c * 10 + 2 AS src, s * 10 + 1 AS dst FROM pairs
)""",
        "nodes AS (SELECT DISTINCT src AS node FROM edges)",
        """deg AS (
  SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src
)""",
        """ed AS (
  SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d ON d.src = e.src
)""",
        f"r0 AS (SELECT node, CAST({q} AS BIGINT) AS r FROM nodes)",
    ]
    for i in range(1, iterations + 1):
        ctes.append(
            f"""c{i} AS (
  SELECT ed.dst AS node, CAST(SUM(r.r // ed.deg) AS BIGINT) AS s
  FROM ed JOIN r{i - 1} r ON r.node = ed.src GROUP BY ed.dst
)"""
        )
        ctes.append(
            f"""r{i} AS (
  SELECT n.node,
         CAST(({(den - num) * q} + {num} * COALESCE(c.s, 0)) // {den} AS BIGINT) AS r
  FROM nodes n LEFT JOIN c{i} c ON c.node = n.node
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, CAST(r AS DOUBLE) / {float(q)} AS rank "
        + f"FROM r{iterations} ORDER BY node"
    )


@declared("pagerank_trade_graph", _pagerank_sql())
def pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the supplier<->customer trade graph
    (operators/graph.py pagerank; Page et al. 1999) — the graph-quality
    ranking signal of corpus curation, run on the one real graph the
    test tables induce: distinct (supplier, customer) trading pairs
    from lineitem JOIN orders, symmetrized, with disjoint node ids
    (suppkey*10+1 / custkey*10+2). Five exact-integer iterations at
    Q=1e9, damping 85/100 — no float enters the recurrence, so an
    ITERATIVE algorithm hash-matches the oracle bit for bit. Per
    iteration: one dst-keyed contribution agg + one rank join; edges
    persist once; lineage stays O(1) via per-iteration persist."""
    from nibbledb_spark.operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem").select("l_suppkey", "l_orderkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("l_suppkey") * 10 + 1).alias("s"),
            (F.col("o_custkey") * 10 + 2).alias("c"),
        )
        .distinct()
        # The symmetrizing union references the expensive join+distinct
        # twice, and pagerank's setup (nodes distinct, degree join)
        # evaluates its edge expression ~5x — persist the SMALL distinct
        # pair set so all of those are cache reads (one lineitem-scale
        # shuffle total). Only sound together with AQE-coalesced cached
        # plans (canChangeCachedPlanOutputPartitioning, session.py):
        # with the default frozen cache layout this measured WORSE —
        # 32-partition cache, 64-partition union, every iteration
        # re-reading the blown-up layout (r15 opt).
        .persist()
    )
    edges = pairs.select(
        F.col("s").alias("src"), F.col("c").alias("dst")
    ).unionByName(pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")))
    out = pagerank(edges, iterations=5, damping=(85, 100), scale=9).orderBy(
        "node"
    )
    pairs.unpersist()  # pagerank materialized its loop frames; lineage-only now
    return out


@declared(
    "graph_triangle_count",
    """
WITH c AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c3
  FROM c e1
  JOIN c e2 ON e2.u = e1.v
  JOIN c e3 ON e3.u = e1.u AND e3.v = e2.v
),
nodes AS (SELECT u AS node FROM c UNION SELECT v FROM c),
t AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c3 FROM tri
),
g AS (SELECT node, COUNT(*) AS t FROM t GROUP BY node)
SELECT n.node, CAST(COALESCE(g.t, 0) AS BIGINT) AS n_tri
FROM nodes n LEFT JOIN g ON g.node = n.node
ORDER BY n.node
""",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts (operators/graph.py triangle_count;
    Suri & Vassilvitskii WWW'11 degree-ordered orientation) over the
    co-purchase graph: parts are adjacent when some order contains
    both. Edges come out of the per-order item set row-locally (one
    orderkey-keyed agg, sorted-array pair explode — never an
    order-level self-join shuffle); the count is exact and
    orientation-invariant, so the oracle's id-ordered 3-way join
    matches bit for bit while the operator's degree orientation keeps
    the wedge join skew-bounded at scale."""
    from nibbledb_spark.operators.graph import triangle_count

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    items = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("its")
    )
    pairs = F.expr(
        "flatten(transform(its, (x, i) -> "
        "transform(slice(its, i + 2, size(its)), y -> struct(x AS u, y AS v))))"
    )
    # no .distinct() here: triangle_count canonicalizes + dedups
    # internally — a builder-side distinct would double-shuffle the
    # 3M-pair explode for nothing (measured ~2 s at sf0.1)
    edges = items.select(F.explode(pairs).alias("p")).select(
        F.col("p.u").alias("src"), F.col("p.v").alias("dst")
    )
    return triangle_count(edges).orderBy("node")


@declared(
    "graph_khop_reach",
    """
WITH pairs AS (
  SELECT DISTINCT l_suppkey AS s, o_custkey AS c
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS (
  SELECT s * 10 + 1 AS src, c * 10 + 2 AS dst FROM pairs
  UNION ALL
  SELECT c * 10 + 2 AS src, s * 10 + 1 AS dst FROM pairs
),
r0 AS (
  SELECT DISTINCT s_suppkey * 10 + 1 AS node, CAST(0 AS BIGINT) AS hops
  FROM supplier WHERE s_suppkey < 3
),
r1 AS (
  SELECT node, MIN(hops) AS hops FROM (
    SELECT node, hops FROM r0
    UNION ALL
    SELECT e.dst, r0.hops + 1 FROM r0 JOIN edges e ON e.src = r0.node
  ) GROUP BY node
),
r2 AS (
  SELECT node, MIN(hops) AS hops FROM (
    SELECT node, hops FROM r1
    UNION ALL
    SELECT e.dst, r1.hops + 1 FROM r1 JOIN edges e ON e.src = r1.node
  ) GROUP BY node
),
r3 AS (
  SELECT node, MIN(hops) AS hops FROM (
    SELECT node, hops FROM r2
    UNION ALL
    SELECT e.dst, r2.hops + 1 FROM r2 JOIN edges e ON e.src = r2.node
  ) GROUP BY node
)
SELECT node, hops FROM r3 ORDER BY node
""",
)
def graph_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded BFS (operators/graph.py bfs_hops): minimum hop distance
    within 3 hops of a fixed seed set (suppliers 0-2, non-empty at
    every SF) over the symmetrized
    supplier<->customer trade graph (pagerank_trade_graph's node
    encoding) — the blast-radius / k-hop-neighborhood primitive. The
    operator expands only each round's frontier (min-semantics make
    re-expansion redundant); the oracle re-expands the full reached
    set per unrolled CTE round and MIN-aggregates — same fixpoint,
    hash-matched on exact integer distances."""
    from nibbledb_spark.operators.graph import bfs_hops

    li = _t(spark, sf_dir, "lineitem").select("l_suppkey", "l_orderkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("l_suppkey") * 10 + 1).alias("s"),
            (F.col("o_custkey") * 10 + 2).alias("c"),
        )
        .distinct()
    )
    edges = pairs.select(
        F.col("s").alias("src"), F.col("c").alias("dst")
    ).unionByName(pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")))
    seeds = (
        _t(spark, sf_dir, "supplier")
        .where(F.col("s_suppkey") < 3)
        .select((F.col("s_suppkey") * 10 + 1).alias("node"))
    )
    return bfs_hops(edges, seeds, 3).orderBy("node")


def _kcore_sql(k: int = 70, rounds: int = 4) -> str:
    """Unrolled fixed-round k-core peel (the pagerank oracle pattern):
    per round one degree CTE, one keep CTE, one double-semi-join edge
    CTE — identical to the operator's recurrence."""
    ctes = [
        """e0 AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)"""
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        # MATERIALIZED: every e{i}/k{i} is referenced more than once
        # downstream; without the hint DuckDB may re-evaluate the whole
        # prefix per reference and the unrolled peel goes exponential
        # (measured: the sf0.1 oracle hung >10 min; materialized it
        # runs in seconds) — the same recompute-doubling the Spark
        # side solves with lazy persists
        ctes.append(
            f"""d{i} AS MATERIALIZED (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
    SELECT u AS node FROM e{p} UNION ALL SELECT v FROM e{p}
  ) GROUP BY node
)"""
        )
        ctes.append(
            f"k{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE degree >= {k})"
        )
        ctes.append(
            f"""e{i} AS MATERIALIZED (
  SELECT e.u, e.v FROM e{p} e
  WHERE e.u IN (SELECT node FROM k{i}) AND e.v IN (SELECT node FROM k{i})
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
  SELECT u AS node FROM e{rounds} UNION ALL SELECT v FROM e{rounds}
) GROUP BY node HAVING COUNT(*) >= {k}
ORDER BY node"""
    )


@declared("graph_kcore", _kcore_sql(k=70))
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core dense-substructure filter (operators/graph.py kcore;
    Seidman 1983): four peeling rounds at k=70 over the co-purchase
    part graph — surviving nodes with their in-core degree, the
    template-family / link-farm detector of the graph family. Exact
    integer degrees; the oracle unrolls the identical peel rounds."""
    from nibbledb_spark.operators.graph import kcore

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    items = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("its")
    )
    pairs = F.expr(
        "flatten(transform(its, (x, i) -> "
        "transform(slice(its, i + 2, size(its)), y -> struct(x AS u, y AS v))))"
    )
    # no .distinct(): kcore canonicalizes + dedups internally (see
    # the triangle builder note)
    edges = items.select(F.explode(pairs).alias("p")).select(
        F.col("p.u").alias("src"), F.col("p.v").alias("dst")
    )
    return kcore(edges, 70, rounds=4).orderBy("node")


@declared(
    "graph_link_prediction",
    """
WITH pairs AS (
  SELECT DISTINCT l_suppkey AS s, o_custkey AS c
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
c AS (
  SELECT LEAST(s * 10 + 1, c * 10 + 2) AS u,
         GREATEST(s * 10 + 1, c * 10 + 2) AS v
  FROM pairs
),
sym AS (
  SELECT u AS node, v AS peer FROM c
  UNION ALL
  SELECT v AS node, u AS peer FROM c
),
deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY node),
cn AS (
  SELECT a.peer AS u, b.peer AS v, CAST(COUNT(*) AS BIGINT) AS cn
  FROM sym a JOIN sym b ON a.node = b.node AND a.peer < b.peer
  WHERE a.node % 10 = 2
  GROUP BY 1, 2
),
ne AS (
  SELECT cn.u, cn.v, cn.cn
  FROM cn LEFT JOIN c ON c.u = cn.u AND c.v = cn.v
  WHERE c.u IS NULL
)
SELECT ne.u AS node_a, ne.v AS node_b, ne.cn AS common_neighbors,
       CAST(ne.cn AS DOUBLE) / CAST(du.d + dv.d - ne.cn AS DOUBLE) AS jaccard
FROM ne
JOIN deg du ON du.node = ne.u
JOIN deg dv ON dv.node = ne.v
ORDER BY common_neighbors DESC, node_a ASC, node_b ASC LIMIT 20
""",
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural link prediction (operators/graph.py
    link_prediction_common_neighbors; Liben-Nowell & Kleinberg 2003):
    the top-20 supplier pairs of the trade graph by shared-customer
    count with the Jaccard coefficient — "which suppliers serve the
    same market". Wedges generate ONLY at customer nodes
    (``wedge_filter``, the bipartite one-sided projection): customer
    degree is small, so the wedge join is bounded by it — the
    unrestricted form OOMs on a dense graph (measured on the sf0.1
    co-purchase graph; NOTES gotcha). Scores keep full degrees;
    counts exact; jaccard one mirrored IEEE divide; k-boundary ties
    broken by the (node_a, node_b) total order."""
    from nibbledb_spark.operators.graph import link_prediction_common_neighbors

    li = _t(spark, sf_dir, "lineitem").select("l_suppkey", "l_orderkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # no .distinct(): the operator canonicalizes + dedups internally
    tp = li.join(o, li.l_orderkey == o.o_orderkey).select(
        (F.col("l_suppkey") * 10 + 1).alias("src"),
        (F.col("o_custkey") * 10 + 2).alias("dst"),
    )
    return link_prediction_common_neighbors(
        tp, k=20, wedge_filter=F.col("node") % 10 == 2
    )


@declared(
    "graph_link_prediction_ra",
    """
WITH pairs AS (
  SELECT DISTINCT l_suppkey AS s, o_custkey AS c
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
c AS (
  SELECT LEAST(s * 10 + 1, c * 10 + 2) AS u,
         GREATEST(s * 10 + 1, c * 10 + 2) AS v
  FROM pairs
),
sym AS (
  SELECT u AS node, v AS peer FROM c
  UNION ALL
  SELECT v AS node, u AS peer FROM c
),
deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY node),
wed AS (
  SELECT a.peer AS u, b.peer AS v,
         CAST(SUM(CAST(1000000000 AS BIGINT) // d.d) AS BIGINT) AS ra_scaled
  FROM sym a JOIN sym b ON a.node = b.node AND a.peer < b.peer
  JOIN deg d ON d.node = a.node
  WHERE a.node % 10 = 2
  GROUP BY 1, 2
),
ne AS (
  SELECT w.u, w.v, w.ra_scaled
  FROM wed w LEFT JOIN c ON c.u = w.u AND c.v = w.v
  WHERE c.u IS NULL
),
top AS (
  SELECT u, v, ra_scaled FROM ne
  ORDER BY ra_scaled DESC, u ASC, v ASC LIMIT 20
)
SELECT u AS node_a, v AS node_b,
       CAST(ra_scaled AS DOUBLE) / 1000000000 AS ra_score
FROM top
""",
)
def graph_link_prediction_ra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-Allocation link prediction (operators/graph.py
    link_prediction_resource_allocation; Zhou-Lü-Zhang 2009): top-20
    supplier pairs of the trade graph by hub-damped shared-customer
    mass Σ 1/deg(customer) — a customer buying from few suppliers ties
    its suppliers far more strongly than one buying from everyone
    (common_neighbors' count treats both alike). Engine-exact via the
    scaled-long reciprocal 10^9 DIV deg summed as a long (the pagerank
    playbook), which is also the ranking key; the one double is
    display-only. Wedges generate only at customer nodes (the
    bipartite containment, as in graph_link_prediction); ranking ties
    break on the (node_a, node_b) total order."""
    from nibbledb_spark.operators.graph import (
        link_prediction_resource_allocation,
    )

    li = _t(spark, sf_dir, "lineitem").select("l_suppkey", "l_orderkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    tp = li.join(o, li.l_orderkey == o.o_orderkey).select(
        (F.col("l_suppkey") * 10 + 1).alias("src"),
        (F.col("o_custkey") * 10 + 2).alias("dst"),
    )
    return link_prediction_resource_allocation(
        tp, k=20, wedge_filter=F.col("node") % 10 == 2
    )


def _lpa_sql(iterations: int = 3) -> str:
    """Unrolled fixed-iteration sync-LPA oracle (the pagerank pattern):
    per round one (node, label) count CTE, one argmax-window CTE, one
    keep-own-label left join — the operator's exact integer recurrence
    restated declaratively."""
    ctes = [
        """pairs AS (
  SELECT DISTINCT l_suppkey AS s, o_custkey AS c
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)""",
        """edges AS (
  SELECT s * 10 + 1 AS src, c * 10 + 2 AS dst FROM pairs
  UNION ALL
  SELECT c * 10 + 2 AS src, s * 10 + 1 AS dst FROM pairs
)""",
        "nodes AS (SELECT DISTINCT src AS node FROM edges)",
        "l0 AS (SELECT node, node AS label FROM nodes)",
    ]
    for i in range(1, iterations + 1):
        ctes.append(
            f"""m{i} AS (
  SELECT e.dst AS node, l.label, COUNT(*) AS c
  FROM edges e JOIN l{i - 1} l ON l.node = e.src GROUP BY 1, 2
)"""
        )
        ctes.append(
            f"""p{i} AS (
  SELECT node, label FROM (
    SELECT node, label,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn
    FROM m{i}
  ) WHERE rn = 1
)"""
        )
        ctes.append(
            f"""l{i} AS (
  SELECT l.node, COALESCE(p.label, l.label) AS label
  FROM l{i - 1} l LEFT JOIN p{i} p ON p.node = l.node
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, label FROM l{iterations} ORDER BY node"
    )


@declared("graph_label_propagation", _lpa_sql())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation communities (operators/graph.py
    label_propagation; Raghavan 2007) over the symmetrized trade graph
    — the density-based community detector, distinct from connected
    components (which would merge this whole connected graph into one
    blob): labels win LOCAL in-neighborhood majorities, ties to the
    minimum label, three fixed iterations. Exact integers + total-order
    tiebreaks end to end, so an oscillation-prone heuristic is
    bit-identical against the unrolled count/argmax/keep CTE oracle."""
    from nibbledb_spark.operators.graph import label_propagation

    li = _t(spark, sf_dir, "lineitem").select("l_suppkey", "l_orderkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("l_suppkey") * 10 + 1).alias("s"),
            (F.col("o_custkey") * 10 + 2).alias("c"),
        )
        .distinct()
    )
    edges = pairs.select(
        F.col("s").alias("src"), F.col("c").alias("dst")
    ).unionByName(pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")))
    return label_propagation(edges, iterations=3).orderBy("node")


def _hilbert_layout_sql(bits: int = 6) -> str:
    from nibbledb_spark.operators.layout import hilbert_sql

    return (
        """
WITH src AS (
  SELECT p_partkey,
         CAST(p_size AS BIGINT) % 64 AS qx,
         CAST(FLOOR(p_retailprice) AS BIGINT) % 64 AS qy
  FROM part
),
"""
        + hilbert_sql("qx", "qy", bits=bits)
        + f"""
SELECT p_partkey, qx AS grid_x, qy AS grid_y, hd{bits} AS hilbert_d
FROM r{bits}
ORDER BY p_partkey
"""
    )


@declared("hilbert_layout_index", _hilbert_layout_sql())
def hilbert_layout_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering index (operators/layout.py
    hilbert_index) over parts quantized onto a 64×64 (p_size,
    retail-price) grid — the write-order that makes file min/max stats
    selective on BOTH columns at once, and strictly tighter than the
    snapshot log's Z-order (every Hilbert unit step is a spatial unit
    step, so value ranges hit fewer files; why Delta moved its
    clustering default to Hilbert). The xy2d bit walk runs as one
    chained integer projection per bit (`append_hilbert_index`, the
    LINEAR-plan form — the single-Column form costs seconds of pure
    Catalyst analysis on its ~3^bits expression tree, measured 5.7 s
    at bits=6), no UDF, no shuffle; the oracle replays the identical
    recurrence as unrolled CTEs (the pagerank pattern on a per-row
    bit walk)."""
    from nibbledb_spark.operators.layout import append_hilbert_index

    p = _t(spark, sf_dir, "part")
    qx = (F.col("p_size").cast("long") % 64).alias("grid_x")
    qy = (F.floor(F.col("p_retailprice")).cast("long") % 64).alias("grid_y")
    base = p.select("p_partkey", qx, qy)
    return append_hilbert_index(
        base, "grid_x", "grid_y", bits=6, out_col="hilbert_d"
    ).orderBy("p_partkey")


@declared(
    "near_dup_components",
    _NDC_CLOSURE_CTES
    + """
SELECT id AS doc_id, MIN(r) AS component FROM reach GROUP BY id
""",
)
def near_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of the near-dup relation: every document
    labeled with its cluster's min doc id (hash-min label propagation;
    operators/graph.py). The oracle walks the same closure with a
    recursive CTE. This is the dedup POLICY layer — 'keep doc_id ==
    component' retains exactly one canonical doc per near-dup cluster,
    which pairwise higher-id dropping cannot guarantee on chains."""
    from nibbledb_spark.operators.dedup import near_dup_components as op

    return op(_t(spark, sf_dir, "documents"), threshold=0.5)


@declared(
    "dedup_lines_global",
    """
WITH l AS (
  SELECT doc_id, unnest(ls) AS line, generate_subscripts(ls, 1) AS pos
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents)
),
r AS (
  SELECT doc_id, pos, line,
         ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
  FROM l
)
SELECT d.doc_id,
       COALESCE(agg.cleaned, '') AS cleaned_text
FROM documents d
LEFT JOIN (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS cleaned
  FROM r WHERE rn = 1 GROUP BY doc_id
) agg ON agg.doc_id = d.doc_id
""",
)
def dedup_lines_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide line dedup (C4/RefinedWeb-style): each line survives
    only at its first (doc, position) occurrence across the corpus;
    documents are rebuilt from surviving lines. One shuffle on the line
    hash + one on the doc id."""
    from nibbledb_spark.operators.dedup import dedup_lines_global as op

    return op(_t(spark, sf_dir, "documents"))


_SUBSTRING_SPAN_CTES = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents
),
anch AS (
  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         md5(array_to_string(w[pos:pos+14], ' ')) AS h
  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 13)) AS pos FROM t)
),
hits AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, a.pos AS p1, b.pos AS p2,
         a.pos - b.pos AS diag
  FROM anch a JOIN anch b ON a.h = b.h AND a.doc_id < b.doc_id
),
flagged AS (
  SELECT d1, d2, p1, p2, diag,
         CASE WHEN lag(p1) OVER (PARTITION BY d1, d2, diag ORDER BY p1) = p1 - 1
              THEN 0 ELSE 1 END AS is_start
  FROM hits
),
runs AS (
  SELECT d1, d2, p1, p2, diag,
         sum(is_start) OVER (PARTITION BY d1, d2, diag ORDER BY p1
                             ROWS UNBOUNDED PRECEDING) AS run_id
  FROM flagged
),
spans AS (
  SELECT d1 AS doc_id1, d2 AS doc_id2,
         CAST(min(p1) AS BIGINT) AS start1,
         CAST(min(p2) AS BIGINT) AS start2,
         CAST(max(p1) - min(p1) + 15 AS BIGINT) AS len_tokens
  FROM runs
  GROUP BY d1, d2, diag, run_id
)
"""


@declared(
    "dedup_substring_spans",
    _SUBSTRING_SPAN_CTES
    + """
SELECT doc_id1, doc_id2, start1, start2, len_tokens FROM spans
""",
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup (Lee et al. 2022, the suffix-array span
    family re-expressed distributed): every maximal cross-document
    duplicate token span >= 15 tokens, found via length-15 anchor-hash
    equi-joins + diagonal run-merge windows — never a suffix array on
    the driver. Catches a duplicated paragraph EMBEDDED in otherwise
    distinct documents, which line-granular (dedup_lines_global) and
    document-granular (MinHash) dedup both miss."""
    from nibbledb_spark.operators.dedup import substring_dup_spans

    return substring_dup_spans(
        _t(spark, sf_dir, "documents"), min_tokens=15
    )


@declared(
    "dedup_substring_extent",
    _SUBSTRING_SPAN_CTES
    + r"""
, sides AS (
  SELECT DISTINCT id, s, e FROM (
    SELECT doc_id1 AS id, start1 AS s, start1 + len_tokens AS e FROM spans
    UNION ALL
    SELECT doc_id2 AS id, start2 AS s, start2 + len_tokens AS e FROM spans
  )
),
fl AS (
  SELECT id, s, e,
         CASE WHEN max(e) OVER (PARTITION BY id ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) >= s
              THEN 0 ELSE 1 END AS new_island
  FROM sides
),
isl AS (
  SELECT id, s, e,
         sum(new_island) OVER (PARTITION BY id ORDER BY s, e
                               ROWS UNBOUNDED PRECEDING) AS island
  FROM fl
),
dup AS (
  SELECT id, CAST(SUM(island_len) AS BIGINT) AS dup_tokens
  FROM (SELECT id, island, max(e) - min(s) AS island_len
        FROM isl GROUP BY id, island)
  GROUP BY id
),
base AS (
  SELECT doc_id,
         CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT b.doc_id, b.n_tokens,
       COALESCE(d.dup_tokens, 0) AS dup_tokens,
       ROUND(COALESCE(d.dup_tokens, 0) / GREATEST(b.n_tokens, 1), 6)
         AS dup_frac
FROM base b LEFT JOIN dup d ON b.doc_id = d.id
""",
)
def dedup_substring_extent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-token extent for >= 15-token exact spans
    (the corpus-QA number a span-dedup run reports): overlapping spans
    merge interval-union style (sweep windows, no self-join), so a
    token inside three partners' spans counts once. Every input doc
    returns a row (0 when clean)."""
    from nibbledb_spark.operators.dedup import substring_dup_extent

    return substring_dup_extent(
        _t(spark, sf_dir, "documents"), min_tokens=15
    )


@declared(
    "dedup_substring_scrub",
    _SUBSTRING_SPAN_CTES
    + r"""
, cuts AS (
  SELECT DISTINCT doc_id2 AS id, start2 AS s, start2 + len_tokens AS e
  FROM spans
),
toks AS (
  SELECT doc_id, CAST(pos AS BIGINT) AS pos, w[pos] AS tok
  FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS pos FROM t)
),
kept AS (
  SELECT tk.doc_id, tk.pos, tk.tok
  FROM toks tk
  WHERE NOT EXISTS (SELECT 1 FROM cuts c
                    WHERE c.id = tk.doc_id
                      AND tk.pos >= c.s AND tk.pos < c.e)
),
rebuilt AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS new_text,
         count(*) AS kept_n
  FROM kept GROUP BY doc_id
),
cutdocs AS (SELECT DISTINCT id FROM cuts)
SELECT d.doc_id,
       CASE WHEN c.id IS NULL THEN d.text
            ELSE COALESCE(r.new_text, '') END AS text,
       CAST(CASE WHEN c.id IS NULL THEN 0
                 ELSE len(string_split_regex(d.text, '\s+'))
                      - COALESCE(r.kept_n, 0) END AS BIGINT)
         AS removed_tokens
FROM documents d
LEFT JOIN cutdocs c ON d.doc_id = c.id
LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
""",
)
def dedup_substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup APPLIED (Lee et al. 2022's training-data
    transformation, not just the report): each >= 15-token duplicate
    span keeps its first occurrence corpus-wide and is cut from every
    later document, text rebuilt from surviving tokens (clean docs pass
    through byte-identical). One row per input document with the
    removed-token count."""
    from nibbledb_spark.operators.dedup import substring_scrub

    return substring_scrub(_t(spark, sf_dir, "documents"), min_tokens=15)


@declared(
    "dedup_substring_self_spans",
    r"""
WITH t AS (
  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents
),
anch AS (
  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         md5(array_to_string(w[pos:pos+2], ' ')) AS h
  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS pos FROM t)
),
hits AS (
  SELECT a.doc_id AS id, a.pos AS p1, b.pos AS p2, b.pos - a.pos AS diag
  FROM anch a JOIN anch b
    ON a.h = b.h AND a.doc_id = b.doc_id AND a.pos < b.pos
),
flagged AS (
  SELECT id, p1, p2, diag,
         CASE WHEN lag(p1) OVER (PARTITION BY id, diag ORDER BY p1) = p1 - 1
              THEN 0 ELSE 1 END AS is_start
  FROM hits
),
runs AS (
  SELECT id, p1, p2, diag,
         sum(is_start) OVER (PARTITION BY id, diag ORDER BY p1
                             ROWS UNBOUNDED PRECEDING) AS run_id
  FROM flagged
)
SELECT id AS doc_id,
       CAST(min(p1) AS BIGINT) AS start1,
       CAST(min(p2) AS BIGINT) AS start2,
       CAST(max(p1) - min(p1) + 3 AS BIGINT) AS len_tokens
FROM runs
GROUP BY id, diag, run_id
""",
)
def dedup_substring_self_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document exact repeat spans — the intra-doc half of the
    Lee et al. 2022 span family (cross-doc spans pair d1 < d2 and
    exclude these): maximal repeated token runs per document via the
    same anchor-hash + diagonal run-merge machinery, joined on
    (anchor, doc) so cross-document pairs never materialize. Declared
    at min_tokens=3 — the synthetic corpus's natural intra-doc repeat
    scale (trigram echoes); a production boilerplate pass runs 50."""
    from nibbledb_spark.operators.dedup import substring_self_spans

    return substring_self_spans(_t(spark, sf_dir, "documents"), min_tokens=3)


@declared("near_dup_components_star", ORACLE["near_dup_components"])
def near_dup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same transitive closure computed by the O(log n)
    large-star/small-star algorithm instead of hash-min — sharing the
    recursive-CTE oracle, so the driver hash-checks that both
    algorithms produce the identical clustering on real data."""
    from nibbledb_spark.operators.dedup import ngram_jaccard_pairs as pairs_op
    from nibbledb_spark.operators.graph import connected_components_star

    docs = _t(spark, sf_dir, "documents")
    pairs = pairs_op(docs, threshold=0.5)
    comp = connected_components_star(pairs, "id1", "id2")
    return docs.select(F.col("doc_id")).join(
        comp, docs["doc_id"] == comp["node"], "left"
    ).select(
        F.col("doc_id"),
        F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
    )


def _simhash_sql(bits: int = 32) -> str:
    votes = " + ".join(
        f"(CASE WHEN SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) > 0"
        f" THEN CAST({2**b} AS BIGINT) ELSE 0 END)"
        for b in range(bits)
    )
    return f"""
WITH t AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
h AS (SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS h FROM t)
SELECT doc_id, {votes} AS simhash FROM h GROUP BY doc_id
"""


@declared("simhash_docs", _simhash_sql())
def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprints (md5-derived token hashes, signed bit
    votes — single pass, engine-portable)."""
    from nibbledb_spark.operators.dedup import simhash_docs

    return simhash_docs(_t(spark, sf_dir, "documents"))


def _dot_sql(a: str, b: str, dim: int = 64) -> str:
    """Explicit left-assoc sum chain == Spark's F.aggregate left fold."""
    terms = " + ".join(
        f"(CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE))"
        for i in range(1, dim + 1)
    )
    return f"({terms})"


def _srp_sig_sql(vec: str, n_planes: int, plane_offset: int, dim: int = 64) -> str:
    """DuckDB replica of operators.similarity.srp_signature: the SAME
    deterministic hyperplanes (splitmix-mixed constants, inlined as
    literals — repr round-trips doubles exactly), the SAME left-fold dot
    order, the SAME sign test, so both engines land every vector in the
    same bucket."""
    from nibbledb_spark.operators.similarity import _hyperplane

    bits = []
    for b in range(n_planes):
        plane = _hyperplane(dim, plane_offset + b)
        terms = " + ".join(
            f"(CAST({vec}[{i + 1}] AS DOUBLE) * CAST({plane[i]!r} AS DOUBLE))"
            for i in range(dim)
        )
        bits.append(f"CASE WHEN ({terms}) > 0 THEN {2 ** b} ELSE 0 END")
    return "(" + " + ".join(bits) + ")"


@declared(
    "embed_norms",
    f"""
SELECT vec_id, len(embedding) AS dim,
       SQRT({_dot_sql('embedding', 'embedding')}) AS l2_norm
FROM embeddings
""",
)
def embed_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array functions over embeddings: dimension + L2 norm (left-fold
    double arithmetic, bit-reproducible)."""
    from nibbledb_spark.operators.similarity import l2_norm

    e = _t(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        l2_norm("embedding").alias("l2_norm"),
    )


@declared(
    "embed_cosine_topk",
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         {_dot_sql('qv', 'cv')} / (SQRT({_dot_sql('qv', 'qv')}) * SQRT({_dot_sql('cv', 'cv')})) AS cos_sim
  FROM c, q WHERE neighbor_id <> query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, cos_sim FROM ranked WHERE rank <= 3
""",
)
def embed_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact top-k cosine: broadcast queries, no corpus
    shuffle, per-partition partial top-k."""
    from nibbledb_spark.operators.similarity import cosine_topk

    e = _t(spark, sf_dir, "embeddings")
    return cosine_topk(e, e.where(F.col("vec_id") < 5), 3)


@declared(
    "mmr_diversified_topk",
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         {_dot_sql('qv', 'cv')} / (SQRT({_dot_sql('qv', 'qv')}) * SQRT({_dot_sql('cv', 'cv')})) AS rel
  FROM c, q WHERE neighbor_id <> query_id
),
pool AS (
  SELECT * FROM (
    SELECT query_id, neighbor_id, rel,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rel DESC, neighbor_id ASC) AS rnk
    FROM scored
  ) WHERE rnk <= 20
),
pv AS (SELECT p.query_id, p.neighbor_id, p.rel, c.cv FROM pool p JOIN c USING (neighbor_id)),
sims AS (
  SELECT a.query_id, a.neighbor_id AS cand, b.neighbor_id AS sel,
         {_dot_sql('a.cv', 'b.cv')} / (SQRT({_dot_sql('a.cv', 'a.cv')}) * SQRT({_dot_sql('b.cv', 'b.cv')})) AS sim
  FROM pv a JOIN pv b ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id
),
s1 AS (
  SELECT query_id, neighbor_id, 7.0 * rel AS mmr_score,
         CAST(1 AS BIGINT) AS mmr_rank, rel AS cos_sim
  FROM pool WHERE rnk = 1
),
p2 AS (
  SELECT query_id, neighbor_id, score AS mmr_score,
         CAST(2 AS BIGINT) AS mmr_rank, rel AS cos_sim
  FROM (
    SELECT p.query_id, p.neighbor_id, p.rel,
           7.0 * p.rel - 3.0 * s.sim AS score,
           ROW_NUMBER() OVER (PARTITION BY p.query_id
                              ORDER BY 7.0 * p.rel - 3.0 * s.sim DESC,
                                       p.neighbor_id ASC) AS rn
    FROM pool p
    JOIN s1 ON s1.query_id = p.query_id AND p.neighbor_id <> s1.neighbor_id
    JOIN sims s ON s.query_id = p.query_id AND s.cand = p.neighbor_id
               AND s.sel = s1.neighbor_id
  ) WHERE rn = 1
),
ms3 AS (
  SELECT s.query_id, s.cand, MAX(s.sim) AS ms
  FROM sims s
  JOIN (SELECT query_id, neighbor_id FROM s1
        UNION ALL SELECT query_id, neighbor_id FROM p2) ss
    ON ss.query_id = s.query_id AND ss.neighbor_id = s.sel
  GROUP BY 1, 2
),
p3 AS (
  SELECT query_id, neighbor_id, score AS mmr_score,
         CAST(3 AS BIGINT) AS mmr_rank, rel AS cos_sim
  FROM (
    SELECT p.query_id, p.neighbor_id, p.rel,
           7.0 * p.rel - 3.0 * m.ms AS score,
           ROW_NUMBER() OVER (PARTITION BY p.query_id
                              ORDER BY 7.0 * p.rel - 3.0 * m.ms DESC,
                                       p.neighbor_id ASC) AS rn
    FROM pool p
    JOIN s1 ON s1.query_id = p.query_id AND p.neighbor_id <> s1.neighbor_id
    JOIN p2 ON p2.query_id = p.query_id AND p.neighbor_id <> p2.neighbor_id
    JOIN ms3 m ON m.query_id = p.query_id AND m.cand = p.neighbor_id
  ) WHERE rn = 1
)
SELECT query_id, neighbor_id, mmr_rank, mmr_score, cos_sim FROM s1
UNION ALL
SELECT query_id, neighbor_id, mmr_rank, mmr_score, cos_sim FROM p2
UNION ALL
SELECT query_id, neighbor_id, mmr_rank, mmr_score, cos_sim FROM p3
""",
)
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified retrieval (operators/similarity.py mmr_topk;
    Carbonell & Goldstein SIGIR'98): top-3 per query from a 20-deep
    cosine pool with λ = 7/10 — each pick maximizes
    7·rel − 3·max-sim-to-selected, so the second and third slots avoid
    near-duplicates of the first (plain top-k burns context slots on
    them). Engine-exact: the score is a two-constant double tree the
    oracle mirrors verbatim, cosines are the left-fold dot on both
    sides, maxsim is an order-free MAX over <= 2 doubles, every argmax
    tiebreaks on neighbor id; the oracle unrolls the 3 greedy rounds
    as CTEs."""
    from nibbledb_spark.operators.similarity import mmr_topk

    e = _t(spark, sf_dir, "embeddings")
    return mmr_topk(e, e.where(F.col("vec_id") < 5), 3, pool_size=20)


from nibbledb_spark.operators.similarity import (  # noqa: E402
    _NDCG_PREFIX as _NDP,
    _NDCG_W as _NDW,
)

_NDW10 = "[" + ", ".join(str(w) for w in _NDW[:10]) + "]"
_NDP10 = "[" + ", ".join(str(p) for p in _NDP[:11]) + "]"


@declared(
    "retrieval_eval_metrics",
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS qlabel
           FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv, label AS clabel
      FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         {_dot_sql('qv', 'cv')} / (SQRT({_dot_sql('qv', 'qv')}) * SQRT({_dot_sql('cv', 'cv')})) AS cos
  FROM c, q WHERE neighbor_id <> query_id
),
run AS (
  SELECT * FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id ASC) AS rnk
    FROM scored
  ) WHERE rnk <= 10
),
rel AS (
  SELECT q.query_id, c.neighbor_id AS doc_id
  FROM q JOIN c ON c.clabel = q.qlabel AND c.neighbor_id <> q.query_id
),
nr AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_rel FROM rel GROUP BY 1),
hits AS (
  SELECT r.query_id, r.rnk
  FROM run r JOIN rel ON rel.query_id = r.query_id AND rel.doc_id = r.neighbor_id
),
pq AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS hits_at_k,
         CAST(MIN(rnk) AS BIGINT) AS first_rel_rank,
         CAST(SUM(({_NDW10})[rnk]) AS BIGINT) AS dcg_scaled
  FROM hits GROUP BY 1
)
SELECT nr.query_id, nr.n_rel,
       CAST(COALESCE(pq.hits_at_k, 0) AS BIGINT) AS hits_at_k,
       CAST(COALESCE(pq.first_rel_rank, 0) AS BIGINT) AS first_rel_rank,
       CAST(COALESCE(pq.hits_at_k, 0) AS DOUBLE) / CAST(nr.n_rel AS DOUBLE)
         AS recall_at_k,
       CASE WHEN pq.first_rel_rank IS NULL THEN 0.0
            ELSE 1.0 / CAST(pq.first_rel_rank AS DOUBLE) END AS mrr,
       CAST(COALESCE(pq.dcg_scaled, 0) AS DOUBLE)
         / CAST(({_NDP10})[LEAST(nr.n_rel, 10) + 1] AS DOUBLE) AS ndcg_at_k
FROM nr LEFT JOIN pq USING (query_id)
""",
)
def retrieval_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval evaluation harness (operators/similarity.py
    retrieval_metrics): recall@10, MRR, and nDCG@10 per query for the
    brute-force cosine run judged against same-label relevance — the
    metrics every embedding/index change in a pipeline is accepted or
    rejected by. nDCG's 1/log2(rank+1) weights are pre-quantized
    1e12-scaled long LITERALS shared verbatim with the oracle (log2
    never executes in either engine; integer DCG sums are order-free),
    IDCG is a literal prefix sum indexed by min(n_rel, 10), and each
    ratio is one mirrored IEEE divide."""
    from nibbledb_spark.operators.similarity import cosine_topk, retrieval_metrics

    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    run = cosine_topk(e, q, 10)
    qrels = (
        q.select(F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel"))
        .join(
            e.select(F.col("vec_id").alias("doc_id"), F.col("label").alias("qlabel")),
            "qlabel",
        )
        .where(F.col("doc_id") != F.col("query_id"))
        .select("query_id", "doc_id")
    )
    return retrieval_metrics(run, qrels, k=10)


@declared(
    "embed_hard_negatives",
    f"""
WITH q AS (SELECT vec_id AS query_id, label AS query_label, embedding AS qv
           FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, label AS neighbor_label, embedding AS cv
      FROM embeddings),
scored AS (
  SELECT query_id, query_label, neighbor_id, neighbor_label,
         {_dot_sql('qv', 'cv')} / (SQRT({_dot_sql('qv', 'qv')}) * SQRT({_dot_sql('cv', 'cv')})) AS cos_sim
  FROM c, q WHERE neighbor_id <> query_id AND neighbor_label <> query_label
),
ranked AS (
  SELECT query_id, query_label, neighbor_id, neighbor_label, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, query_label, neighbor_id, neighbor_label, rank, cos_sim
FROM ranked WHERE rank <= 3
""",
)
def embed_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (operators/similarity.py hard_negatives):
    per anchor, the top-3 most-similar OTHER-label vectors — the
    contrastive-training curation step. Broadcast anchors, no corpus
    shuffle; exact cosine via the same HOF fold as embed_cosine_topk."""
    from nibbledb_spark.operators.similarity import hard_negatives

    e = _t(spark, sf_dir, "embeddings")
    return hard_negatives(e, e.where(F.col("vec_id") < 5), 3)


@declared(
    "hard_negatives_indexed",
    f"""
WITH cent AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings ORDER BY vec_id LIMIT 8),
corp AS (SELECT vec_id, embedding, label FROM embeddings),
asg AS (
  SELECT id, cid FROM (
    SELECT corp.vec_id AS id, cent.cid,
           ROW_NUMBER() OVER (
             PARTITION BY corp.vec_id
             ORDER BY {_dot_sql('corp.embedding', 'cent.cvec')}
                      / (SQRT({_dot_sql('corp.embedding', 'corp.embedding')})
                         * SQRT({_dot_sql('cent.cvec', 'cent.cvec')})) DESC,
                      cent.cid ASC) AS rn
    FROM corp, cent) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, label AS query_label, embedding AS qv
      FROM embeddings WHERE vec_id < 5),
probes AS (
  SELECT query_id, query_label, qv, cid FROM (
    SELECT q.query_id, q.query_label, q.qv, cent.cid,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY {_dot_sql('q.qv', 'cent.cvec')}
                      / (SQRT({_dot_sql('q.qv', 'q.qv')})
                         * SQRT({_dot_sql('cent.cvec', 'cent.cvec')})) DESC,
                      cent.cid ASC) AS rn
    FROM q, cent) WHERE rn <= 2
),
scored AS (
  SELECT p.query_id, p.query_label, a.id AS neighbor_id, c.label AS neighbor_label,
         {_dot_sql('p.qv', 'c.embedding')}
           / (SQRT({_dot_sql('p.qv', 'p.qv')})
              * SQRT({_dot_sql('c.embedding', 'c.embedding')})) AS cos_sim
  FROM probes p JOIN asg a USING (cid) JOIN corp c ON c.vec_id = a.id
  WHERE a.id <> p.query_id AND c.label <> p.query_label
),
ranked AS (
  SELECT query_id, query_label, neighbor_id, neighbor_label, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, query_label, neighbor_id, neighbor_label, rank, cos_sim
FROM ranked WHERE rank <= 3
""",
)
def hard_negatives_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining at mining-job scale: candidates from a
    PERSISTED IVF index's pruned posting lists (nprobe=2 of 8), label
    exclusion against the narrow forward table, exact rerank — vs
    embed_hard_negatives' broadcast sweep that scores the whole corpus
    per anchor. Built here with the fixed lowest-id quantizer so the
    entire indexed path (build -> probe -> label filter -> rerank) is
    hash-matched; the kmeans-quantizer variant and the
    equals-brute-force-at-nprobe=all invariant are pytest-pinned."""
    import shutil
    import tempfile

    from nibbledb_spark.operators.similarity import (
        build_ivf_index,
        hard_negatives_indexed as _hni,
    )

    e = _t(spark, sf_dir, "embeddings")
    path = os.path.join(
        tempfile.gettempdir(),
        f"nibblehni_{os.path.basename(os.path.abspath(sf_dir))}_{os.getpid()}",
    )
    shutil.rmtree(path, ignore_errors=True)
    cents = (
        e.orderBy(F.col("vec_id").asc())
        .limit(8)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    )
    build_ivf_index(e, path, centroids=cents)
    return _hni(
        spark, path, e.where(F.col("vec_id") < 5), 3,
        e.select("vec_id", "label"), nprobe=2,
    )


@declared(
    "embed_mrl_topk_d16",
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         {_dot_sql('qv', 'cv', 16)} / (SQRT({_dot_sql('qv', 'qv', 16)}) * SQRT({_dot_sql('cv', 'cv', 16)})) AS cos_sim
  FROM c, q WHERE neighbor_id <> query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, cos_sim FROM ranked WHERE rank <= 3
""",
)
def embed_mrl_topk_d16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncated retrieval (operators/similarity.py
    mrl_topk): exact top-k cosine over the FIRST 16 of 64 components —
    the MRL funnel's cheap first stage (score at dim 16, rerank
    survivors at full width), 4x less arithmetic and a 4x smaller
    index footprint than full-width scoring. Same broadcast/no-shuffle
    shape as embed_cosine_topk; the oracle is the same left-assoc fold
    chain truncated to 16 terms."""
    from nibbledb_spark.operators.similarity import mrl_topk

    e = _t(spark, sf_dir, "embeddings")
    return mrl_topk(e, e.where(F.col("vec_id") < 5), 3, 16)


@declared(
    "embed_near_dup_pairs",
    f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200)
SELECT a.vec_id AS id1, b.vec_id AS id2,
       {_dot_sql('a.embedding', 'b.embedding')}
         / (SQRT({_dot_sql('a.embedding', 'a.embedding')})
            * SQRT({_dot_sql('b.embedding', 'b.embedding')})) AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE {_dot_sql('a.embedding', 'b.embedding')}
         / (SQRT({_dot_sql('a.embedding', 'a.embedding')})
            * SQRT({_dot_sql('b.embedding', 'b.embedding')})) >= 0.4
""",
)
def embed_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs — the EXACT BASELINE, kept as a
    declared query only as ground truth for the bucketed production
    path (embed_near_dup_pairs_bucketed runs the whole table with a
    full oracle; this runs a 200-vector slice).

    The operator is hard-capped at NEAR_DUP_EXACT_MAX_ROWS (20k): past
    that it raises instead of planning a BroadcastNestedLoop over the
    corpus, so the O(n²) plan is physically unreachable at scale
    (round-4 verdict #1; guard pinned in
    tests/test_extensions.py::test_near_dup_exact_guard)."""
    from nibbledb_spark.operators.similarity import near_dup_pairs_cosine

    e = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200)
    return near_dup_pairs_cosine(e, 0.4)


@declared(
    "srp_ann_topk",
    f"""
WITH sigs AS (
  SELECT vec_id,
         {_srp_sig_sql('embedding', 6, 0)} AS s0,
         {_srp_sig_sql('embedding', 6, 6)} AS s1
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, s0, s1 FROM sigs WHERE vec_id < 5),
cand AS (
  SELECT q.query_id, c.vec_id AS neighbor_id FROM q JOIN sigs c ON q.s0 = c.s0
  UNION
  SELECT q.query_id, c.vec_id FROM q JOIN sigs c ON q.s1 = c.s1
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         {_dot_sql('qe.embedding', 'ce.embedding')}
           / (SQRT({_dot_sql('qe.embedding', 'qe.embedding')})
              * SQRT({_dot_sql('ce.embedding', 'ce.embedding')})) AS cos_sim
  FROM cand
  JOIN embeddings qe ON qe.vec_id = cand.query_id
  JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
  WHERE cand.neighbor_id <> cand.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, cos_sim FROM ranked WHERE rank <= 3
""",
)
def srp_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via signed-random-projection buckets (scale path).

    Promoted from APPROX/rows-only to a FULL hash-matched oracle in
    round 5: nothing in the pipeline is actually engine-specific — the
    hyperplanes are fixed splitmix constants, the bucket test and the
    candidate equi-joins are set operations, and the exact-cosine
    rescoring plus (cos DESC, neighbor ASC) ranking replicate
    bit-identically in DuckDB (same trick as ivf_ann_topk /
    embed_near_dup_pairs_bucketed). The recall floors stay pinned in
    pytest; the driver now checks the *result*, not just the shape."""
    from nibbledb_spark.operators.similarity import srp_topk

    e = _t(spark, sf_dir, "embeddings")
    return srp_topk(e, e.where(F.col("vec_id") < 5), 3, dim=64)


@declared("srp_ann_topk_indexed", ORACLE["srp_ann_topk"])
def srp_ann_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED-signature form of srp_ann_topk (round-14 verdict
    task 4: the production shape — signatures computed once at build,
    probes read only the query buckets): build_srp_index with the same
    frozen splitmix hyperplanes, srp_topk_indexed probe, identical
    results to the in-memory path — so it shares srp_ann_topk's
    hash-matched oracle (the near_dup_components_star pattern: two
    algorithms, one oracle, the driver proves they agree on real
    data). The index builds in a private tempdir; the result
    materializes before cleanup (the ivfpq_rerank_indexed_bound
    discipline)."""
    import shutil
    import tempfile

    from nibbledb_spark.operators.similarity import (
        build_srp_index,
        srp_topk_indexed,
    )

    e = _t(spark, sf_dir, "embeddings")
    path = tempfile.mkdtemp(prefix="nibblesrp_")
    try:
        build_srp_index(e, path, dim=64, n_planes=6, n_tables=2)
        out = srp_topk_indexed(
            spark, path, e.where(F.col("vec_id") < 5), 3
        )
        rows = out.collect()
        return spark.createDataFrame(rows, schema=out.schema)
    finally:
        shutil.rmtree(path, ignore_errors=True)


@declared(
    "ivf_ann_topk",
    f"""
WITH cent AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings ORDER BY vec_id LIMIT 8),
corp AS (SELECT vec_id, embedding FROM embeddings),
asg AS (
  SELECT id, cid FROM (
    SELECT corp.vec_id AS id, cent.cid,
           ROW_NUMBER() OVER (
             PARTITION BY corp.vec_id
             ORDER BY {_dot_sql('corp.embedding', 'cent.cvec')}
                      / (SQRT({_dot_sql('corp.embedding', 'corp.embedding')})
                         * SQRT({_dot_sql('cent.cvec', 'cent.cvec')})) DESC,
                      cent.cid ASC) AS rn
    FROM corp, cent) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
probes AS (
  SELECT query_id, qv, cid FROM (
    SELECT q.query_id, q.qv, cent.cid,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY {_dot_sql('q.qv', 'cent.cvec')}
                      / (SQRT({_dot_sql('q.qv', 'q.qv')})
                         * SQRT({_dot_sql('cent.cvec', 'cent.cvec')})) DESC,
                      cent.cid ASC) AS rn
    FROM q, cent) WHERE rn <= 2
),
scored AS (
  SELECT p.query_id, a.id AS neighbor_id,
         {_dot_sql('p.qv', 'c.embedding')}
           / (SQRT({_dot_sql('p.qv', 'p.qv')})
              * SQRT({_dot_sql('c.embedding', 'c.embedding')})) AS cos_sim
  FROM probes p JOIN asg a USING (cid) JOIN corp c ON c.vec_id = a.id
  WHERE a.id <> p.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, cos_sim FROM ranked WHERE rank <= 3
""",
)
def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (coarse-quantized inverted lists, nprobe=2 of 8): the
    partition-pruned scale path for similarity search. Deterministic
    corpus-derived centroids make the full pipeline oracle-replicable."""
    from nibbledb_spark.operators.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    return ivf_topk(e, e.where(F.col("vec_id") < 5), 3, n_centroids=8, nprobe=2)


@declared(
    "semdedup_keep",
    f"""
WITH cent AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings ORDER BY vec_id LIMIT 8),
corp AS (SELECT vec_id, embedding FROM embeddings),
asg AS (
  SELECT id, cid FROM (
    SELECT corp.vec_id AS id, cent.cid,
           ROW_NUMBER() OVER (
             PARTITION BY corp.vec_id
             ORDER BY {_dot_sql('corp.embedding', 'cent.cvec')}
                      / (SQRT({_dot_sql('corp.embedding', 'corp.embedding')})
                         * SQRT({_dot_sql('cent.cvec', 'cent.cvec')})) DESC,
                      cent.cid ASC) AS rn
    FROM corp, cent) WHERE rn = 1
),
drops AS (
  SELECT DISTINCT a2.id
  FROM asg a1 JOIN asg a2 ON a1.cid = a2.cid AND a1.id < a2.id
  JOIN corp c1 ON c1.vec_id = a1.id
  JOIN corp c2 ON c2.vec_id = a2.id
  WHERE {_dot_sql('c1.embedding', 'c2.embedding')}
        / (SQRT({_dot_sql('c1.embedding', 'c1.embedding')})
           * SQRT({_dot_sql('c2.embedding', 'c2.embedding')})) > 0.35
)
SELECT CAST(a.id AS BIGINT) AS vec_id, CAST(a.cid AS BIGINT) AS cid
FROM asg a LEFT JOIN drops d ON a.id = d.id
WHERE d.id IS NULL
ORDER BY vec_id
""",
)
def semdedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas 2023) — embedding-space semantic dedup: IVF
    coarse-quantize the corpus (8 lowest-id centroids, the
    oracle-replicable ivf_ann_topk quantizer), then within each cluster
    drop the higher id of every cosine>0.35 pair. The kept set is the
    semantically-deduplicated corpus. Cluster assignment is a broadcast
    map-side sweep; the pair step shuffles vectors once keyed by cid
    and self-joins per cluster — quadratic in CLUSTER size only, the
    paper's scale contract (k grows with the corpus so clusters stay
    bounded). Full hash-matched oracle: assignment, pair predicate, and
    drop-set algebra all replicate bit-identically in DuckDB."""
    from nibbledb_spark.operators.similarity import semdedup

    e = _t(spark, sf_dir, "embeddings")
    return semdedup(e, 0.35, n_centroids=8).orderBy("vec_id")


def _semdedup_gate_replay_sql() -> str:
    """Unrolled 3-step replay of the embedding crawl gate (the
    lsh_gate_replay pattern with cosine/cluster semantics): centroids
    are the seed's 8 lowest ids, `good` holds every same-assigned-
    cluster cos>eps pair, and each step drops batch members paired to
    the prior index state or to a lower same-batch id."""
    cos = (
        f"{_dot_sql('c1.embedding', 'c2.embedding')}"
        f" / (SQRT({_dot_sql('c1.embedding', 'c1.embedding')})"
        f" * SQRT({_dot_sql('c2.embedding', 'c2.embedding')}))"
    )
    steps = []
    for t_ in (1, 2, 3):
        prev = "i0" if t_ == 1 else f"i{t_-1}"
        steps.append(f"""
d{t_} AS (
  SELECT DISTINCT x.id FROM (
    SELECT id1 AS id, id2 AS other FROM good WHERE id1 % 4 = {t_}
    UNION ALL
    SELECT id2, id1 FROM good WHERE id2 % 4 = {t_}) x
  WHERE x.other IN (SELECT id FROM {prev})
),
di{t_} AS (
  SELECT DISTINCT id2 AS id FROM good WHERE id1 % 4 = {t_} AND id2 % 4 = {t_}
),
s{t_} AS (
  SELECT id FROM asg WHERE id % 4 = {t_}
    AND id NOT IN (SELECT id FROM d{t_})
    AND id NOT IN (SELECT id FROM di{t_})
),
i{t_} AS (SELECT id FROM {prev} UNION SELECT id FROM s{t_})""")
    return f"""
WITH cent AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
              WHERE vec_id % 4 = 0 ORDER BY vec_id LIMIT 8),
corp AS (SELECT vec_id, embedding FROM embeddings),
asg AS MATERIALIZED (
  SELECT id, cid FROM (
    SELECT corp.vec_id AS id, cent.cid,
           ROW_NUMBER() OVER (
             PARTITION BY corp.vec_id
             ORDER BY {_dot_sql('corp.embedding', 'cent.cvec')}
                      / (SQRT({_dot_sql('corp.embedding', 'corp.embedding')})
                         * SQRT({_dot_sql('cent.cvec', 'cent.cvec')})) DESC,
                      cent.cid ASC) AS rn
    FROM corp, cent) WHERE rn = 1
),
good AS MATERIALIZED (
  SELECT a1.id AS id1, a2.id AS id2
  FROM asg a1 JOIN asg a2 ON a1.cid = a2.cid AND a1.id < a2.id
  JOIN corp c1 ON c1.vec_id = a1.id
  JOIN corp c2 ON c2.vec_id = a2.id
  WHERE {cos} > 0.35
),
i0 AS (SELECT id FROM asg WHERE id % 4 = 0),{",".join(steps)}
SELECT CAST(b.batch_id AS BIGINT) AS batch_id, CAST(b.id AS BIGINT) AS vec_id
FROM (SELECT 1 AS batch_id, id FROM s1
      UNION ALL SELECT 2, id FROM s2
      UNION ALL SELECT 3, id FROM s3) b
ORDER BY batch_id, vec_id
"""


def _gate_replay(
    spark: SparkSession, sf_dir: str, rows: DataFrame, id_col: str, gate
) -> DataFrame:
    """The K=3 ordered batch replay of a crawl gate: ``gate(seed,
    index_dir, on_pass)`` builds the gate's index over the seed rows
    (``id % 4 = 0``) and returns its foreachBatch sink; batches
    ``id % 4 = 1, 2, 3`` go through that sink in order, and ``on_pass``
    appends each batch's survivors as (batch_id, id) to a parquet sink,
    which is read back."""
    import shutil
    import tempfile

    base = os.path.join(
        tempfile.gettempdir(),
        f"nibblegate_{id_col}_{os.path.basename(os.path.abspath(sf_dir))}_{os.getpid()}",
    )
    passed = os.path.join(base, "passed")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)

    def on_pass(surv: DataFrame, batch_id: int) -> None:
        # a few hundred cached rows per batch: one part file, not one
        # per shuffle partition (32 tiny files per batch made the final
        # read re-list ~100 files)
        surv.select(
            F.lit(batch_id).cast("long").alias("batch_id"),
            F.col(id_col).cast("long").alias(id_col),
        ).coalesce(1).write.mode("append").parquet(passed)

    sink = gate(rows.where(f"{id_col} % 4 = 0"), os.path.join(base, "index"), on_pass)
    for t_ in (1, 2, 3):
        sink(rows.where(f"{id_col} % 4 = {t_}"), t_)
    return spark.read.parquet(passed).orderBy("batch_id", id_col)


@declared("semdedup_gate_replay", _semdedup_gate_replay_sql())
def semdedup_gate_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding-space crawl-loop dedup gate (semdedup_gate), made
    driver-checkable as a K=3 ordered batch replay: build a persisted
    IVF index over the seed vectors (vec_id % 4 = 0, frozen lowest-id
    quantizer), push batches 1, 2, 3 through the REAL foreachBatch
    sink — cluster-bounded probe vs the posting lists, intra-batch
    lower-id-wins drop at cosine > 0.35, survivors appended so later
    batches dedup against them — with on_pass committing each batch's
    survivors to parquet. Returns (batch_id, vec_id) of everything
    that passed; the oracle unrolls the same greedy sequence with the
    semdedup_keep pair algebra, so the stateful embedding-index growth
    is hash-matched end to end."""
    from nibbledb_spark.operators.similarity import (
        build_ivf_index,
        semdedup_gate,
    )

    def gate(seed: DataFrame, idx: str, on_pass):
        cents = (
            seed.orderBy(F.col("vec_id").asc())
            .limit(8)
            .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
        )
        build_ivf_index(seed, idx, centroids=cents)
        return semdedup_gate(spark, idx, eps=0.35, on_pass=on_pass)

    return _gate_replay(spark, sf_dir, _t(spark, sf_dir, "embeddings"), "vec_id", gate)


@declared("ivf_ann_topk_kmeans", pytest_only=True)  # recall pinned in pytest
def ivf_ann_topk_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with Lloyd-refined k-means centroids — the quality/scale
    path over ivf_ann_topk's lowest-id coarse quantizer (measured:
    mean recall@5 1.0 vs 0.865 at nprobe=1, k=12 on the clustered test
    corpus). Centroid refinement is deterministic (scaled-long means),
    so the output is stable, but Lloyd iterations are not expressible
    in one SQL statement — rows-only check; the recall floor and the
    strictly-better-than-fixed-centroids property are pytest-pinned."""
    from nibbledb_spark.operators.similarity import ivf_topk, kmeans_centroids

    e = _t(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(e, 8, n_iter=3)
    return ivf_topk(
        e, e.where(F.col("vec_id") < 5), 3, nprobe=2, centroids=cents
    )


@declared(
    "ivf_kmeans_probe_all_bound",
    """
SELECT CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 5)
            * LEAST(3, (SELECT COUNT(*) FROM embeddings) - 1) AS BIGINT)
         AS n_exact_rows,
       CAST(0 AS BIGINT) AS n_mismatched
""",
)
def ivf_kmeans_probe_all_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable correctness pin for the kmeans-IVF pipeline
    (round-4 verdict #2): Lloyd's rounds aren't expressible in one SQL
    statement, but the invariant "probing ALL inverted lists recovers
    EXACTLY the brute-force top-k" is — it holds for ANY centroid set
    iff the assignment partitions the corpus (no vector dropped or
    duplicated) and scoring/ranking are exact. Both sides run in one
    Spark plan (kmeans-IVF with nprobe=k vs cosine_topk) and the
    symmetric difference count's oracle is the constant 0; n_exact_rows
    = n_queries × min(k, corpus−1) keeps the row data-derived. The
    recall floors for the real nprobe<k setting stay pinned in pytest
    (test_kmeans_centroids_beat_fixed_init)."""
    from nibbledb_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        kmeans_centroids,
    )

    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    cents = kmeans_centroids(e, 8, n_iter=3)
    ivf = ivf_topk(e, q, 3, nprobe=8, centroids=cents)
    exact = cosine_topk(e, q, 3)
    diff = ivf.exceptAll(exact).unionByName(exact.exceptAll(ivf))
    return exact.agg(F.count(F.lit(1)).alias("n_exact_rows")).crossJoin(
        diff.agg(F.count(F.lit(1)).alias("n_mismatched"))
    )


_POOL_BOUND_SQL = """
SELECT CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 5)
            * LEAST(3, (SELECT COUNT(*) FROM embeddings) - 1) AS BIGINT)
         AS n_exact_rows,
       CAST(0 AS BIGINT) AS n_mismatched
"""


@declared("pq_rerank_full_pool_bound", _POOL_BOUND_SQL)
def pq_rerank_full_pool_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable pin for the full PQ pipeline (round-12 verdict
    task 6): k-means codebook training isn't one SQL statement, but
    the invariant "a candidate pool covering the whole corpus reranks
    to EXACTLY the brute-force top-k" is — it holds for ANY codebook
    iff candidate generation loses no id (codes -> ADC -> ranked pool)
    and the exact-cosine rerank scores and tiebreaks identically to
    cosine_topk. Both sides run in one Spark plan; the symmetric
    difference's oracle is the constant 0, n_exact_rows keeps the row
    data-derived. Realistic-pool recall (n_candidates=50, measured
    0.4-0.9 per query on the synthetic corpus — PQ's compression is
    data-dependent) stays pytest-pinned, not a declared constant."""
    from nibbledb_spark.operators.similarity import cosine_topk, pq_topk_rerank

    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    rr = pq_topk_rerank(e, q, 3, n_candidates=1_000_000)
    exact = cosine_topk(e, q, 3)
    diff = rr.exceptAll(exact).unionByName(exact.exceptAll(rr))
    return exact.agg(F.count(F.lit(1)).alias("n_exact_rows")).crossJoin(
        diff.agg(F.count(F.lit(1)).alias("n_mismatched"))
    )


@declared("ivfpq_rerank_indexed_bound", _POOL_BOUND_SQL)
def ivfpq_rerank_indexed_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable pin for the PERSISTED IVF+PQ index family
    (round-12 verdict task 6): build the index on disk (k-means coarse
    quantizer routing posting lists of PQ codes), probe ALL lists, and
    rerank a corpus-covering candidate pool with the full-vector
    table — which must reproduce brute-force top-k exactly, for any
    quantizer and any codebook (probing every list restores the global
    ADC ranking; the full pool makes the exact rerank total). Runs the
    entire indexed path: build -> centroid probe -> partition-pruned
    posting scan -> ADC -> fetch -> rerank. Pruned-probe recall and
    the by_residual variant stay pytest-pinned."""
    import shutil
    import tempfile

    from nibbledb_spark.operators.similarity import (
        build_ivfpq_index,
        cosine_topk,
        ivfpq_topk_indexed,
    )

    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    # mkdtemp gives each invocation its own directory — a fixed
    # basename+pid key raced rmtree/rebuild between two builds in the
    # same process (threaded harness, repeated driver runs) while the
    # first plan could still be reading the path, and leaked the index
    # into the OS tempdir after every run. The returned frame only
    # holds two scalar counts, so we can materialize it and clean the
    # index up before returning.
    path = tempfile.mkdtemp(prefix="nibbleivfpq_")
    try:
        build_ivfpq_index(e, path, n_centroids=8)
        iv = ivfpq_topk_indexed(
            spark, path, q, 3, nprobe=8, rerank_with=e, n_candidates=1_000_000
        )
        exact = cosine_topk(e, q, 3)
        diff = iv.exceptAll(exact).unionByName(exact.exceptAll(iv))
        out = exact.agg(F.count(F.lit(1)).alias("n_exact_rows")).crossJoin(
            diff.agg(F.count(F.lit(1)).alias("n_mismatched"))
        )
        row = out.collect()[0]
        return spark.createDataFrame([row], schema=out.schema)
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _cent_dot_sql(a: str, b: str, dim: int = 64) -> str:
    """Explicit left-assoc chain like _dot_sql, for mixed operands."""
    terms = " + ".join(
        f"(CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE))"
        for i in range(1, dim + 1)
    )
    return f"({terms})"


@declared(
    "embed_label_cohesion",
    f"""
WITH dims AS (
  SELECT label, d,
         CAST(SUM(CAST(FLOOR(CAST(embedding[d] AS DOUBLE) * 1000000000 + 0.5) AS BIGINT)) AS DOUBLE)
           / 1000000000 / COUNT(*) AS m
  FROM embeddings, (SELECT unnest(range(1, 65)) AS d)
  GROUP BY 1, 2
),
cent AS (SELECT label, list(m ORDER BY d) AS centroid FROM dims GROUP BY 1),
cos AS (
  SELECT e.label,
         {_cent_dot_sql('e.embedding', 'c.centroid')}
           / (SQRT({_cent_dot_sql('e.embedding', 'e.embedding')})
              * SQRT({_cent_dot_sql('c.centroid', 'c.centroid')})) AS c
  FROM embeddings e JOIN cent c ON e.label = c.label
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(c * 1000000000 + 0.5) AS BIGINT)) AS DOUBLE)
         / 1000000000 / COUNT(*) AS mean_cos_to_centroid,
       MIN(c) AS min_cos_to_centroid
FROM cos GROUP BY label ORDER BY label
""",
)
def embed_label_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster centroid cohesion — embedding-corpus QA: for every
    label, the mean and worst cosine of members to their own cluster
    centroid. Low cohesion flags mislabeled/drifting clusters before
    they poison dedup thresholds or ANN recall measurements.

    The plan is the two-level RE-AGGREGATION JOIN shape nothing else
    in the registry exercises: a (label, dim) hash agg builds the
    centroids (posexplode — rows, not arrays, so the shuffle is
    (labels x 64) cells), centroids re-assemble per label (tiny) and
    BROADCAST back onto the corpus for scoring, then one more keyed
    agg. The corpus itself is read once and never reshuffled — at
    100 TB the only wide exchanges carry label-keyed cells and partial
    sums. Parity: per-dim means and the mean cosine quantize through
    scaled-long sums (order-independent), the dot/norm chains are the
    fixed left-fold both engines replicate, and MIN over bit-identical
    doubles is exact."""
    e = _t(spark, sf_dir, "embeddings")
    cells = e.select("label", F.posexplode("embedding").alias("pos", "x"))
    dims = cells.groupBy("label", (F.col("pos") + 1).alias("d")).agg(
        (
            F.sum(ts_ops.scaled_long(F.col("x").cast("double"), 9))
            .cast("double")
            / F.lit(1e9)
            / F.count(F.lit(1))
        ).alias("m")
    )
    cent = dims.groupBy("label").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("d", "m"))), lambda s: s["m"]
        ).alias("centroid")
    )
    from nibbledb_spark.operators.similarity import cosine

    scored = e.join(F.broadcast(cent), "label").select(
        "label", cosine("embedding", "centroid").alias("c")
    )
    return (
        scored.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(ts_ops.scaled_long(F.col("c"), 9))
                .cast("double")
                / F.lit(1e9)
                / F.count(F.lit(1))
            ).alias("mean_cos_to_centroid"),
            F.min("c").alias("min_cos_to_centroid"),
        )
        .orderBy("label")
    )


@declared(
    "multimodal_payload_fp",
    "SELECT doc_id AS media_id, 'text' AS kind, md5(text) AS payload_fp FROM documents",
)
def multimodal_payload_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media plumbing: documents.text as an opaque binary payload
    -> md5 fingerprint (the media dedup key)."""
    from nibbledb_spark.operators.multimodal import payload_fingerprint

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("text").alias("kind"),
        F.col("text").cast("binary").alias("payload"),
    )
    return payload_fingerprint(media)


@declared(
    "multimodal_frame_sample",
    """
SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
       CAST(frame_idx * 1000 AS INT) AS frame_ts_ms
FROM (
  SELECT doc_id AS media_id,
         unnest(range(0, 1 + doc_id % 7)) AS frame_idx
  FROM documents WHERE doc_id % 3 = 0
)
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan over synthetic media metadata (every
    third doc is a 'video' of 1-7 s): the row explosion that governs
    partition sizing at scale is real; only the codec is stubbed."""
    from nibbledb_spark.operators.multimodal import frame_sample

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 3 == 0)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.struct(
            (1000 * (1 + F.col("doc_id") % 7)).cast("long").alias("duration_ms")
        ).alias("meta"),
    )
    return frame_sample(media, every_ms=1000)


# Deterministic 64-bit perceptual-hash fixture for the media-dedup
# oracle queries: the decode stage of clean_media (multimodal.py) is
# not SQL-expressible, but everything AFTER the per-item hash is plain
# relational algebra over (id, kind, hhex, hlong) rows — so these
# queries feed the REAL post-decode operators (banded_hamming_pairs /
# media_canonical_from_hashes) a hash column both engines can derive
# identically: family base = low 60 bits of md5(kind#fam) (15 hex
# chars, so the signed-long parse is overflow-safe in both engines),
# each member flips ONE deterministic bit -> intra-family hamming is
# exactly {0, 2}, far under the verify threshold 6, and the pigeonhole
# recall guarantee (hamming < bands) makes the banded join EXACT here,
# not probabilistic. Every 23rd row is an "undecodable" NULL-hash row
# pinning the corrupt-payload contract driver-visibly.
_MEDIA_HASH_CTES = """
WITH RECURSIVE m AS (
  SELECT doc_id AS media_id,
         CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
         doc_id % 83 AS fam,
         doc_id % 59 AS flip,
         doc_id % 23 = 0 AS corrupt
  FROM documents
),
hh AS (
  SELECT media_id, kind,
         CASE WHEN corrupt THEN NULL ELSE
           xor(CAST('0x' || substr(md5(kind || '#' || CAST(fam AS VARCHAR)), 1, 15) AS BIGINT),
               CAST(1 AS BIGINT) << CAST(flip AS INT))
         END AS hlong
  FROM m
),
banded AS (
  SELECT media_id, kind, hlong, b.band,
         substr(lower(lpad(to_hex(hlong), 16, '0')), b.band * 4 + 1, 4) AS val
  FROM hh, (SELECT unnest(range(0, 4)) AS band) b
  WHERE hlong IS NOT NULL
),
cand AS (
  SELECT DISTINCT a.kind, a.media_id AS id1, b.media_id AS id2,
                  a.hlong AS h1, b.hlong AS h2
  FROM banded a
  JOIN banded b ON a.kind = b.kind AND a.band = b.band AND a.val = b.val
               AND a.media_id < b.media_id
),
pairs AS (
  SELECT kind, id1, id2,
         CAST(bit_count(xor(h1, h2)) AS INT) AS hamming
  FROM cand
  WHERE bit_count(xor(h1, h2)) <= 6
)
"""

# components + canonical tail of the declared media_clean_canonicals
_MEDIA_CANON_TAIL = """,
edges AS (
  SELECT id1 AS a, id2 AS b FROM pairs
  UNION
  SELECT id2 AS a, id1 AS b FROM pairs
),
reach(id, r) AS (
  SELECT media_id, media_id FROM hh
  UNION
  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id
)
SELECT hh.media_id, hh.kind, MIN(reach.r) AS canonical_id,
       hh.media_id = MIN(reach.r) AS keep
FROM hh JOIN reach ON reach.id = hh.media_id
GROUP BY hh.media_id, hh.kind
"""


def _media_hash_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark half of _MEDIA_HASH_CTES: identical (id, kind, hhex,
    hlong) rows. conv(hex,16,10) stays in-range because the hex is 15
    chars (60 bits); the hex image is rebuilt from the long so banding
    sees the post-flip value on both engines."""
    docs = _t(spark, sf_dir, "documents")
    m = docs.select(
        F.col("doc_id").alias("id"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("image"))
        .otherwise(F.lit("audio"))
        .alias("kind"),
        (F.col("doc_id") % 83).alias("fam"),
        (F.col("doc_id") % 59).alias("flip"),
        (F.col("doc_id") % 23 == 0).alias("corrupt"),
    )
    base = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("kind"), F.lit("#"), F.col("fam").cast("string")
                ).cast("binary")
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    hlong = F.when(F.col("corrupt"), F.lit(None).cast("long")).otherwise(
        base.bitwiseXOR(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(flip AS INT))"))
    )
    return m.select("id", "kind", hlong.alias("hlong")).withColumn(
        "hhex",
        F.when(
            F.col("hlong").isNotNull(), F.lpad(F.lower(F.hex("hlong")), 16, "0")
        ),
    )


@declared(
    "media_banded_near_dup_pairs",
    _MEDIA_HASH_CTES + "SELECT kind, id1, id2, hamming FROM pairs",
)
def media_banded_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media perceptual near-dup PAIRS, driver-visible: the exact
    banded-hamming join shared by image dHash and audio
    spectral-fingerprint dedup (multimodal.banded_hamming_pairs) over
    the deterministic hash fixture. Kinds never cross-pair (the band
    key includes kind); NULL-hash rows drop; verify is JVM-side
    bit_count(XOR). The oracle replays banding as hex substrings and
    hamming as bit_count(xor()) — bit-identical integer ops."""
    from nibbledb_spark.operators.multimodal import banded_hamming_pairs

    h = _media_hash_fixture(spark, sf_dir)
    return banded_hamming_pairs(h, max_hamming=6, bands=4, by=("kind",))


@declared("media_clean_canonicals", _MEDIA_HASH_CTES + _MEDIA_CANON_TAIL)
def media_clean_canonicals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The clean_media post-decode stage end-to-end, driver-visible:
    banded pairs -> connected components -> lowest-id canonical, with
    NULL-hash (undecodable) rows passing through as keep=true
    singletons (multimodal.media_canonical_from_hashes — the exact
    production code path clean_media stages 2-3 run). The oracle walks
    the same closure with a recursive CTE, the established
    near_dup_components pattern."""
    from nibbledb_spark.operators.multimodal import media_canonical_from_hashes

    h = _media_hash_fixture(spark, sf_dir)
    return media_canonical_from_hashes(h, max_hamming=6, bands=4)


@declared(
    "video_near_dup_rollup",
    """
WITH m AS (
  SELECT doc_id AS video_id, f.f AS frame_idx,
         doc_id % 83 AS fam, doc_id % 59 AS flip,
         (doc_id % 23 = 0) AS corrupt
  FROM documents, (SELECT unnest(range(0, 3)) AS f) f
),
hh AS (
  SELECT video_id, frame_idx,
         CASE WHEN corrupt THEN NULL ELSE
           xor(CAST('0x' || substr(md5('vid#' || CAST(fam AS VARCHAR) || '#' || CAST(frame_idx AS VARCHAR)), 1, 15) AS BIGINT),
               CAST(1 AS BIGINT) << CAST(flip AS INT))
         END AS hlong
  FROM m
),
keyed AS (
  SELECT video_id * 1000000 + frame_idx AS id, hlong
  FROM hh WHERE hlong IS NOT NULL
),
banded AS (
  SELECT id, hlong, b.band,
         substr(lower(lpad(to_hex(hlong), 16, '0')), b.band * 4 + 1, 4) AS val
  FROM keyed, (SELECT unnest(range(0, 4)) AS band) b
),
cand AS (
  SELECT DISTINCT a.id AS id1, b.id AS id2, a.hlong AS h1, b.hlong AS h2
  FROM banded a JOIN banded b ON a.band = b.band AND a.val = b.val AND a.id < b.id
),
fp AS (
  SELECT id1, id2, CAST(bit_count(xor(h1, h2)) AS INT) AS hamming
  FROM cand WHERE bit_count(xor(h1, h2)) <= 6
),
vp AS (
  SELECT id1 // 1000000 AS va, id2 // 1000000 AS vb, hamming
  FROM fp WHERE id1 // 1000000 <> id2 // 1000000
)
SELECT LEAST(va, vb) AS video1, GREATEST(va, vb) AS video2,
       CAST(COUNT(*) AS BIGINT) AS n_frame_pairs, MIN(hamming) AS min_hamming
FROM vp GROUP BY 1, 2 HAVING COUNT(*) >= 2
ORDER BY video1, video2
""",
)
def video_near_dup_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup by shared near-dup keyframes, driver-visible: the
    post-decode rollup (multimodal.video_pairs_from_frame_hashes — the
    exact stage video_near_dup_pairs runs after video_keyframes +
    image_dhash) over a deterministic per-frame hash fixture: every doc
    is a 3-keyframe video, frame hashes share a family base per
    (doc_id % 83, frame_idx) with one flipped bit per doc, every 23rd
    row corrupt/NULL. Same-family videos match on >= 2 frames and pair;
    the decode halves are pytest-pinned on real in-test AVI fixtures
    (test_video_near_dup_pairs_end_to_end)."""
    from nibbledb_spark.operators.multimodal import video_pairs_from_frame_hashes

    docs = _t(spark, sf_dir, "documents")
    m = docs.select(
        F.col("doc_id").alias("video_id"),
        F.explode(F.sequence(F.lit(0), F.lit(2))).alias("frame_idx"),
        (F.col("doc_id") % 83).alias("fam"),
        (F.col("doc_id") % 59).alias("flip"),
        (F.col("doc_id") % 23 == 0).alias("corrupt"),
    )
    base = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("vid#"),
                    F.col("fam").cast("string"),
                    F.lit("#"),
                    F.col("frame_idx").cast("string"),
                ).cast("binary")
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    hlong = F.when(F.col("corrupt"), F.lit(None).cast("long")).otherwise(
        base.bitwiseXOR(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(flip AS INT))"))
    )
    hashes = m.select(
        "video_id", "frame_idx", hlong.alias("hlong")
    ).withColumn(
        "hhex",
        F.when(
            F.col("hlong").isNotNull(), F.lpad(F.lower(F.hex("hlong")), 16, "0")
        ),
    ).where(F.col("hlong").isNotNull())
    return video_pairs_from_frame_hashes(
        hashes, max_hamming=6, bands=4, min_shared_frames=2
    ).orderBy("video1", "video2")


# ---------------------------------------------------------------------------
# STREAM-class window operators, declared on the batch frame (the stream
# runs the identical plan; convergence is pinned in tests/test_streaming.py)
# ---------------------------------------------------------------------------

# clean_corpus CTE chain, shared by the clean_corpus oracle and the
# composed prep_training_mix oracle: `surv` is the survivor doc_id set
_CLEAN_CORPUS_CTES = f"""
WITH t AS (SELECT doc_id, text, {_TOKS} AS w FROM documents),
q AS (
  SELECT doc_id, len(w) AS n_tokens,
         CAST(len(list_filter(w, x -> x IN {_STOPWORDS_SQL})) AS DOUBLE) / len(w) AS stopword_ratio
  FROM t
),
l AS (
  SELECT doc_id,
       CASE
         WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
         WHEN {_lang_score_sql('en')} >= {_lang_score_sql('de')}
          AND {_lang_score_sql('en')} >= {_lang_score_sql('fr')}
          AND {_lang_score_sql('en')} >= {_lang_score_sql('es')} THEN 'en'
         WHEN {_lang_score_sql('de')} >= {_lang_score_sql('fr')}
          AND {_lang_score_sql('de')} >= {_lang_score_sql('es')} THEN 'de'
         WHEN {_lang_score_sql('fr')} >= {_lang_score_sql('es')} THEN 'fr'
         ELSE 'es'
       END AS lang_pred
  FROM t
),
keep0 AS (
  SELECT t.doc_id, t.text FROM t
  JOIN q ON q.doc_id = t.doc_id
  JOIN l ON l.doc_id = t.doc_id
  WHERE q.n_tokens >= 10 AND q.stopword_ratio >= 0.03 AND l.lang_pred = 'en'
),
ex AS (SELECT MIN(doc_id) AS doc_id FROM keep0 GROUP BY text),
sh0 AS (
  SELECT tt.doc_id, unnest({_SHINGLES}) AS s
  FROM (SELECT e.doc_id, {_TOKS} AS w FROM documents d JOIN ex e ON e.doc_id = d.doc_id) tt
),
-- stop-shingle doc-frequency cap (pipeline.DEFAULT_MAX_SHINGLE_DF):
-- hot boilerplate shingles are dropped BEFORE sizes/intersections, so
-- Jaccard is over the capped universe on both engines
sh AS (
  SELECT sh0.doc_id, sh0.s FROM sh0
  JOIN (SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) <= {_MAX_SHINGLE_DF}) hot
    ON hot.s = sh0.s
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
removed AS (
  SELECT DISTINCT id2 AS doc_id
  FROM inter JOIN sizes z1 ON z1.doc_id = id1 JOIN sizes z2 ON z2.doc_id = id2
  WHERE CAST(n_inter AS DOUBLE) / (z1.sz + z2.sz - n_inter) >= 0.5
),
surv AS (
  SELECT doc_id FROM ex WHERE doc_id NOT IN (SELECT doc_id FROM removed)
)"""


@declared(
    "clean_corpus",
    _CLEAN_CORPUS_CTES + "\nSELECT doc_id FROM surv",
)
def clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus cleaning (quality -> lang -> exact dedup ->
    near-dup removal) as ONE declarative plan, oracle-audited."""
    from nibbledb_spark.operators.pipeline import clean_corpus as op

    return op(_t(spark, sf_dir, "documents"))


# the gated variant reuses the clean_corpus CTE chain with the
# Gopher-style repetition gate joined into keep0
_GATED_CTES = _CLEAN_CORPUS_CTES.replace(
    "keep0 AS (\n  SELECT t.doc_id, t.text FROM t\n  JOIN q ON q.doc_id = t.doc_id\n  JOIN l ON l.doc_id = t.doc_id\n  WHERE q.n_tokens >= 10 AND q.stopword_ratio >= 0.03 AND l.lang_pred = 'en'\n),",
    "bgr AS (\n  SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bg FROM t\n),\npb AS (SELECT doc_id, bg, COUNT(*) AS c FROM bgr GROUP BY 1, 2),\nbs AS (\n  SELECT doc_id FROM pb GROUP BY doc_id\n  HAVING CAST(MAX(c) AS DOUBLE) / SUM(c) <= 0.08\n),\nkeep0 AS (\n  SELECT t.doc_id, t.text FROM t\n  JOIN q ON q.doc_id = t.doc_id\n  JOIN l ON l.doc_id = t.doc_id\n  JOIN bs ON bs.doc_id = t.doc_id\n  WHERE q.n_tokens >= 10 AND q.stopword_ratio >= 0.03 AND l.lang_pred = 'en'\n),",
)
assert _GATED_CTES != _CLEAN_CORPUS_CTES, "repetition-gate CTE injection failed"


@declared(
    "clean_corpus_gated",
    _GATED_CTES + "\nSELECT doc_id FROM surv",
)
def clean_corpus_gated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clean_corpus with the Gopher repetition gate on (docs whose top
    bigram covers > 8% of bigram occurrences are dropped before dedup)
    — the modern cleaning recipe end-to-end as one plan, fully
    oracle-audited including the gate."""
    from nibbledb_spark.operators.pipeline import clean_corpus as op

    return op(_t(spark, sf_dir, "documents"), max_top_bigram_fraction=0.08)


_PROFILE_COL_SQL = """
SELECT '{c}' AS column, COUNT(*) AS n,
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       COUNT(DISTINCT {c}) AS n_distinct,
       CAST(MIN({c}) AS VARCHAR) AS min_s, CAST(MAX({c}) AS VARCHAR) AS max_s
FROM documents"""


@declared(
    "profile_documents",
    " UNION ALL ".join(
        _PROFILE_COL_SQL.format(c=c)
        for c in ("doc_id", "text", "lang", "source", "n_chars")
    ),
)
def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data-quality profile of the documents table in one
    aggregation pass (count/null/exact-distinct/min/max)."""
    from nibbledb_spark.operators.profile import profile_table

    return profile_table(_t(spark, sf_dir, "documents"))


@declared(
    "window_rank_family",
    """
SELECT o_custkey, o_orderkey,
       RANK() OVER w AS rnk,
       DENSE_RANK() OVER w AS drnk,
       NTILE(4) OVER w AS quartile
FROM orders
WHERE o_custkey < 50
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
""",
)
def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank/ntile together (Part B ranking-window row),
    unique-key tiebreak for determinism."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders").where(F.col("o_custkey") < 50)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


@declared(
    "window_range_frame_30d",
    """
SELECT o_custkey, o_orderkey,
       CAST(datediff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) AS order_day,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) OVER w AS DOUBLE) / 100 AS rev_30d
FROM orders
WHERE o_custkey < 100
WINDOW w AS (PARTITION BY o_custkey ORDER BY CAST(datediff('day', DATE '1970-01-01', o_orderdate) AS BIGINT)
             RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
""",
)
def window_range_frame_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUE-range window frame (RANGE BETWEEN 29 PRECEDING): trailing
    30-day revenue per customer — the frame is bounded by the ORDER
    value (epoch day), not row position, so same-day orders share one
    frame and gaps shrink it. Completes the window-frame family next to
    the ROWS frame in moving_avg_7d. Scaled-long sums keep the frame
    aggregation order-independent on both engines."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders").where(F.col("o_custkey") < 100)
    day = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date")).cast(
        "long"
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(day)
        .rangeBetween(-29, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        day.alias("order_day"),
        (
            F.sum(ts_ops.scaled_long(F.col("o_totalprice"), 2)).over(w).cast("double") / 100
        ).alias("rev_30d"),
    )


def _views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    for t in names:
        _t(spark, sf_dir, t).createOrReplaceTempView(t)


@declared(
    "subquery_exists_big_spenders",
    """
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
""",
)
def subquery_exists_big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS through the engine's SQL surface — Catalyst
    rewrites it to a left-semi join (same plan as the DataFrame form)."""
    _views(spark, sf_dir, "customer", "orders")
    return spark.sql(
        """SELECT c_custkey, c_name FROM customer c
           WHERE EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_custkey = c.c_custkey
                           AND o.o_totalprice > 400000)"""
    )


@declared(
    "subquery_scalar_above_avg",
    """
SELECT o_orderkey, o_totalprice FROM orders
WHERE o_totalprice > 1.6 * (SELECT AVG(o_totalprice) FROM orders)
""",
)
def subquery_scalar_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery via spark.sql (single reusable
    subquery result broadcast into the filter)."""
    _views(spark, sf_dir, "orders")
    return spark.sql(
        """SELECT o_orderkey, o_totalprice FROM orders
           WHERE o_totalprice > 1.6 * (SELECT AVG(o_totalprice) FROM orders)"""
    )


@declared(
    "subquery_correlated_above_own_avg",
    """
SELECT o_custkey, o_orderkey, o_totalprice FROM orders o
WHERE o_totalprice > 1.5 * (
  SELECT AVG(o2.o_totalprice) FROM orders o2 WHERE o2.o_custkey = o.o_custkey
)
""",
)
def subquery_correlated_above_own_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: orders 1.5x above the CUSTOMER'S OWN
    average. Catalyst decorrelates this to one per-key aggregate plus an
    equi-join — O(n) with a keyed shuffle, never a per-row re-scan (the
    plan a naive nested-loop engine would run)."""
    _views(spark, sf_dir, "orders")
    return spark.sql(
        """SELECT o_custkey, o_orderkey, o_totalprice FROM orders o
           WHERE o_totalprice > 1.5 * (
             SELECT AVG(o2.o_totalprice) FROM orders o2
             WHERE o2.o_custkey = o.o_custkey
           )"""
    )


@declared(
    "unpivot_lineitem_measures",
    """
SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val
FROM lineitem WHERE l_orderkey % 100 = 0
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
FROM lineitem WHERE l_orderkey % 100 = 0
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
FROM lineitem WHERE l_orderkey % 100 = 0
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
FROM lineitem WHERE l_orderkey % 100 = 0
""",
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long unpivot (melt) of the lineitem measures — the
    inverse of pivot_events_weekday. DataFrame.unpivot stays one
    narrow projection per row inside codegen (the UNION ALL oracle
    re-scans once per measure; the Spark plan does not)."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 100 == 0)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "val",
    )


@declared(
    "simhash_near_dup_pairs",
    f"""
WITH sh AS ({_simhash_sql()}),
bands AS (
  SELECT doc_id AS id, simhash, b.band,
         (simhash // CAST(POWER(2, b.band * 8) AS BIGINT)) % 256 AS key
  FROM sh, (SELECT unnest([0,1,2,3]) AS band) b
),
cands AS (
  SELECT DISTINCT a.id AS id1, b.id AS id2, a.simhash AS h1, b.simhash AS h2
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.id < b.id
)
SELECT id1, id2, bit_count(xor(h1, h2)) AS hamming
FROM cands WHERE bit_count(xor(h1, h2)) <= 3
""",
)
def simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash band-blocked near-dup pairs, exact popcount verify."""
    from nibbledb_spark.operators.dedup import simhash_near_dup_pairs as op

    return op(_t(spark, sf_dir, "documents"))


@declared(
    "chunk_documents_64",
    f"""
WITH t AS (SELECT doc_id, {_TOKS} AS w FROM documents),
c AS (
  SELECT doc_id, w,
         unnest(range(0, CAST(CEIL(len(w) / 64.0) AS BIGINT))) AS chunk_id
  FROM t
)
SELECT doc_id, chunk_id,
       LEAST((chunk_id + 1) * 64, len(w)) - chunk_id * 64 AS n_tokens,
       array_to_string(w[chunk_id * 64 + 1 : LEAST((chunk_id + 1) * 64, len(w))], ' ') AS chunk_text
FROM c
""",
)
def chunk_documents_64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget chunking (64-token windows) — the packing step of a
    training pipeline, deterministic chunk boundaries and text."""
    from nibbledb_spark.operators.text import chunk_documents

    return chunk_documents(_t(spark, sf_dir, "documents"), max_tokens=64)


_US_HOUR = 3_600_000_000


@declared(
    "stream_tumbling_counts",
    _POINTS_CTE
    + f"""
SELECT series,
       (ts // {6 * _US_HOUR}) * {6 * _US_HOUR} AS window_start_us,
       COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR((value) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000 AS sum_value
FROM points GROUP BY 1, 2
""",
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 6h windows: F.window() vs explicit epoch-floor math."""
    from nibbledb_spark.streaming.ingest import windowed_counts

    return windowed_counts(points_from_events(spark, sf_dir), "6 hours")


@declared(
    "stream_sliding_counts",
    _POINTS_CTE
    + f"""
SELECT series, window_start_us, COUNT(*) AS n
FROM (
  SELECT series,
         (ts // {_US_HOUR}) * {_US_HOUR} - u.j * {_US_HOUR} AS window_start_us
  FROM points, (SELECT unnest([0, 1]) AS j) u
)
GROUP BY 1, 2
""",
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (2h size, 1h slide): every point lands in two
    overlapping windows."""
    pts = points_from_events(spark, sf_dir)
    return (
        pts.withColumn("__ts", F.timestamp_micros(F.col("ts")))
        .groupBy("series", F.window("__ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select("series", F.unix_micros(F.col("w.start")).alias("window_start_us"), "n")
    )


@declared(
    "stream_session_windows",
    _POINTS_CTE
    + f"""
, brk AS (
  SELECT series, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > {_US_HOUR} THEN 1 ELSE 0 END AS is_new
  FROM points
  WINDOW w AS (PARTITION BY series ORDER BY ts)
), sess AS (
  SELECT series, ts,
         SUM(is_new) OVER (PARTITION BY series ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM brk
)
SELECT series,
       MIN(ts) AS session_start_us,
       MAX(ts) + {_US_HOUR} AS session_end_us,
       COUNT(*) AS n
FROM sess GROUP BY series, sid
""",
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (1h inactivity gap): F.session_window vs the
    lag/gap-cumsum formulation."""
    from nibbledb_spark.streaming.ingest import session_windows

    return session_windows(points_from_events(spark, sf_dir), "1 hour")


@declared(
    "stream_interval_join",
    """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts, event_type, value FROM events
)
SELECT l.user_id, l.ts AS l_ts, l.value AS l_value,
       r.ts AS r_ts, r.value AS r_value
FROM e l JOIN e r
  ON r.user_id = l.user_id
 AND r.ts BETWEEN l.ts - 1800000000 AND l.ts + 1800000000
WHERE l.event_type = 'error' AND r.event_type = 'click'
""",
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (batch declaration of the identical
    plan): every error event paired with same-user click events within
    +/-30 minutes. The true-streaming path — both sides watermarked,
    join state evicted past watermark + tolerance — is convergence-
    pinned in tests/test_streaming.py."""
    from nibbledb_spark.streaming.ingest import interval_join_streams

    raw = _t(spark, sf_dir, "events")
    ev = raw.select(
        "user_id",
        event_ts_us(raw).alias("ts"),
        "event_type",
        "value",
    )
    return interval_join_streams(
        ev.where(F.col("event_type") == "error"),
        ev.where(F.col("event_type") == "click"),
        key="user_id",
        tolerance="30 minutes",
    )


@declared(
    "stream_interval_join_louter",
    """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts, event_type, value FROM events
)
SELECT l.user_id, l.ts AS l_ts, l.value AS l_value,
       r.ts AS r_ts, r.value AS r_value
FROM (SELECT * FROM e WHERE event_type = 'error') l
LEFT JOIN (SELECT * FROM e WHERE event_type = 'click') r
  ON r.user_id = l.user_id
 AND r.ts BETWEEN l.ts - 1800000000 AND l.ts + 1800000000
""",
)
def stream_interval_join_louter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join (batch declaration of the
    identical plan): every error event paired with same-user clicks
    within +/-30 minutes, errors with no such click null-extended —
    the watermark-gated outer-join class Spark supports only when both
    sides are watermarked and the condition time-bounds both
    directions (already this operator's state contract). Streaming
    convergence, including the end-of-stream null-extension caveat, is
    pinned in tests/test_streaming.py."""
    from nibbledb_spark.streaming.ingest import interval_join_streams

    raw = _t(spark, sf_dir, "events")
    ev = raw.select(
        "user_id",
        event_ts_us(raw).alias("ts"),
        "event_type",
        "value",
    )
    return interval_join_streams(
        ev.where(F.col("event_type") == "error"),
        ev.where(F.col("event_type") == "click"),
        key="user_id",
        tolerance="30 minutes",
        how="left_outer",
    )


@declared(
    "stream_interval_join_fouter",
    """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts, event_type, value FROM events
)
SELECT COALESCE(l.user_id, r.user_id) AS user_id,
       l.ts AS l_ts, l.value AS l_value,
       r.ts AS r_ts, r.value AS r_value
FROM (SELECT * FROM e WHERE event_type = 'error') l
FULL JOIN (SELECT * FROM e WHERE event_type = 'click') r
  ON r.user_id = l.user_id
 AND r.ts BETWEEN l.ts - 1800000000 AND l.ts + 1800000000
""",
)
def stream_interval_join_fouter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream interval join (batch declaration of the
    identical plan): error/click pairs within +/-30 minutes per user,
    null-extending BOTH directions — errors with no nearby click AND
    clicks with no nearby error. Unmatched right rows carry their real
    key via the coalesce(k, rk) emit (streaming/ingest.py, the round-6
    ADVICE fix this query exists to exercise). Both-direction streaming
    convergence is pinned in tests/test_streaming.py."""
    from nibbledb_spark.streaming.ingest import interval_join_streams

    raw = _t(spark, sf_dir, "events")
    ev = raw.select(
        "user_id",
        event_ts_us(raw).alias("ts"),
        "event_type",
        "value",
    )
    return interval_join_streams(
        ev.where(F.col("event_type") == "error"),
        ev.where(F.col("event_type") == "click"),
        key="user_id",
        tolerance="30 minutes",
        how="full_outer",
    )


@declared(
    "stateful_series_stats",
    f"""
WITH RECURSIVE points AS (
  SELECT event_type AS series, epoch_us(ts) AS ts, value FROM events
  WHERE value IS NOT NULL AND ts IS NOT NULL
), lastk AS (
  SELECT series, ts, value FROM (
    SELECT series, ts, value,
           ROW_NUMBER() OVER (PARTITION BY series
                              ORDER BY ts DESC, value DESC) AS rnd
    FROM points
  ) WHERE rnd <= 256
), seq AS (
  SELECT series, ts, value,
         ROW_NUMBER() OVER (PARTITION BY series ORDER BY ts, value) AS rn,
         COUNT(*) OVER (PARTITION BY series) AS cnt
  FROM lastk
), rec AS (
  SELECT series, rn, cnt, CAST(value AS DOUBLE) AS ewma
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.series, s.rn, s.cnt,
         CAST(0.2 AS DOUBLE) * s.value
           + (1 - CAST(0.2 AS DOUBLE)) * r.ewma
  FROM seq s JOIN rec r ON s.series = r.series AND s.rn = r.rn + 1
), fin AS (
  SELECT series, ewma FROM rec WHERE rn = cnt
), agg AS (
  SELECT series, CAST(COUNT(*) AS BIGINT) AS n,
         {_ssum_sql('value', 6)} AS total,
         MIN(value) AS vmin, MAX(value) AS vmax, MAX(ts) AS last_ts
  FROM seq GROUP BY series
)
SELECT agg.series, agg.n, agg.total, agg.vmin, agg.vmax, agg.last_ts, fin.ewma
FROM agg JOIN fin USING (series)
""",
)
def stateful_series_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-checkable replay of the custom stateful streaming operator
    (streaming/ingest.py stateful_series_stats, the managed-state
    analogue of the reference's per-series membuf cache — SURVEY.md A35,
    src/membufq.re): per-series count / exact scaled sum / min / max /
    newest ts / EWMA over the newest 256 points.

    The EWMA recurrence runs in IDENTICAL op order on both engines —
    ``0.2*v + (1 - 0.2)*ewma`` per step, ts-ascending — so the driver
    hash-matches it bit-exactly: Spark replays it through the same
    pandas recurrence the stateful operator uses (series_stats_batch,
    which the true-streaming convergence pytest pins against
    applyInPandasWithState), DuckDB through a recursive CTE. The
    1-CAST in the oracle matters: a bare 0.8 literal is 1 ulp away
    from the double ``1 - 0.2`` the operator computes. The 256-point
    bound keeps the oracle's recursion depth flat at any scale factor;
    ``total`` uses the registry's scaled-long convention so summation
    order can't perturb low bits. Scale shape: one keyed window + one
    applyInPandas exchange on series, state O(1) per series."""
    from nibbledb_spark.streaming.ingest import (
        SERIES_STATS_SCHEMA,
        series_stats_batch,
    )

    # NULL rows are excluded on BOTH engines before the top-256 window:
    # the oracle's SUM/MIN/MAX skip NULLs while np.floor(NaN).astype(int64)
    # is platform garbage, and a NULL would poison the EWMA recursion
    pts = (
        points_from_events(spark, sf_dir)
        .select("series", "ts", "value")
        .where(F.col("value").isNotNull() & F.col("ts").isNotNull())
    )
    w = Window.partitionBy("series").orderBy(F.desc("ts"), F.desc("value"))
    lastk = (
        pts.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= 256)
        .drop("__rn")
    )

    def replay(pdf):
        import numpy as np
        import pandas as pd

        d = series_stats_batch(pdf)
        scaled = np.floor(pdf["value"].to_numpy() * 1e6 + 0.5).astype(np.int64)
        d["total"] = float(scaled.sum()) / 1e6
        d["series"] = str(pdf["series"].iloc[0])
        return pd.DataFrame([d])

    return lastk.groupBy("series").applyInPandas(replay, SERIES_STATS_SCHEMA)


# ---------------------------------------------------------------------------
# Training-pipeline extensions round 2: deterministic sampling, sequence
# packing, vocabulary heavy hitters, eval-set decontamination
# ---------------------------------------------------------------------------

from nibbledb_spark.operators.sampling import rate_threshold as _rt  # noqa: E402

# declared mixing policy: keep all of src1, half of src2, 10% of the rest
_STRAT_RATES = {"src1": 1.0, "src2": 0.5}
_STRAT_DEFAULT = 0.10


@declared(
    "sample_stratified_sources",
    f"""
SELECT doc_id, lang, source FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
      CASE source
        WHEN 'src1' THEN '{_rt(1.0)}'
        WHEN 'src2' THEN '{_rt(0.5)}'
        ELSE '{_rt(0.10)}'
      END
""",
)
def sample_stratified_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source sampling (data mixing): md5-prefix
    threshold per stratum, a row-local predicate with no shuffle and no
    RNG — the same documents survive on every engine and every run."""
    from nibbledb_spark.operators.sampling import sample_stratified

    docs = _t(spark, sf_dir, "documents")
    return sample_stratified(
        docs, _STRAT_RATES, stratum_col="source", default_rate=_STRAT_DEFAULT
    ).select("doc_id", "lang", "source")


# DuckDB replica of operators.sketch._bucket: row-seeded md5-prefix
# bucket in [0, width). Identical text in, identical md5 hex out, and
# the first 8 hex chars fit a BIGINT, so the modulo agrees exactly.
def _cms_bucket_sql(row_expr: str, key_expr: str, width: int) -> str:
    return (
        f"CAST(CAST(concat('0x', substr(md5(concat({row_expr}, ':', "
        f"{key_expr})), 1, 8)) AS BIGINT) % {width} AS INT)"
    )


@declared(
    "cms_event_type_counts",
    f"""
WITH r4 AS (SELECT * FROM (VALUES (0), (1), (2), (3)) t(r)),
cells AS (
  SELECT r, {_cms_bucket_sql('r', 'event_type', 256)} AS bucket
  FROM events, r4
),
sketch AS (SELECT r, bucket, COUNT(*) AS cnt FROM cells GROUP BY 1, 2),
keys AS (SELECT DISTINCT event_type FROM events),
probes AS (
  SELECT event_type, r, {_cms_bucket_sql('r', 'event_type', 256)} AS bucket
  FROM keys, r4
)
SELECT p.event_type, MIN(COALESCE(s.cnt, 0)) AS est_count
FROM probes p LEFT JOIN sketch s ON p.r = s.r AND p.bucket = s.bucket
GROUP BY p.event_type
ORDER BY p.event_type
""",
)
def cms_event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch estimates for per-event-type counts: the
    fixed-space frequency sketch (operators/sketch.py) probed for the
    distinct event types.

    Promoted from APPROX/rows-only to a FULL oracle in round 5: the
    sketch's hashes are the repo-wide portable md5-prefix buckets, so
    the whole d×w cell table — and therefore every min-over-cells
    estimate — is engine-independent. The oracle rebuilds the exact
    sketch in DuckDB (4 rows × 256 buckets, same '{{r}}:{{key}}' seeds)
    and probes it identically; the CMS error bounds and mergeability
    stay pinned in pytest."""
    from nibbledb_spark.operators.sketch import cms_build, cms_estimate

    ev = _t(spark, sf_dir, "events")
    sketch = cms_build(ev, "event_type")
    keys = ev.select("event_type").distinct()
    return cms_estimate(sketch, keys, "event_type").orderBy("event_type")


@declared(
    "training_shard_manifest",
    """
WITH s AS (
  SELECT CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS INT) AS shard,
         CAST(len(string_split_regex(text, '\\s+')) AS INT) AS n_tokens
  FROM documents
)
SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
FROM s GROUP BY shard
""",
)
def training_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 8-way export sharding + per-shard manifest (docs,
    tokens) — the audit record before a training run consumes the
    shards. Hash sharding is content-independent, so balance holds in
    docs and tokens alike."""
    from nibbledb_spark.operators.pipeline import (
        assign_training_shards,
        shard_manifest,
    )

    docs = _t(spark, sf_dir, "documents")
    return shard_manifest(assign_training_shards(docs, 8)).select(
        "shard", "n_docs", F.col("n_tokens").cast("long").alias("n_tokens")
    )


@declared(
    "sample_token_budget_per_source",
    """
WITH t AS (
  SELECT doc_id, source, CAST(len(string_split_regex(text, '\\s+')) AS INT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
  FROM t
)
SELECT doc_id, source, n_tokens FROM c WHERE prior < 600
""",
)
def sample_token_budget_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget quota: deterministically fill 600 tokens per
    source ("sample N tokens per domain" — what training recipes
    specify instead of doc counts). Exclusive prefix-sum window, one
    shuffle."""
    from nibbledb_spark.operators.sampling import sample_token_budget_per_group

    docs = _t(spark, sf_dir, "documents")
    return sample_token_budget_per_group(docs, 600).select(
        "doc_id", "source", F.col("n_tokens").cast("int").alias("n_tokens")
    )


@declared(
    "sample_quota_per_source",
    """
WITH ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
         ) AS rn
  FROM documents
)
SELECT doc_id, source FROM ranked WHERE rn <= 5
""",
)
def sample_quota_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quota sampling: at most 5 docs per source, chosen by smallest key
    hash — caps any one source's contribution to a training mix."""
    from nibbledb_spark.operators.sampling import sample_quota_per_group

    docs = _t(spark, sf_dir, "documents")
    return sample_quota_per_group(docs, 5, group_col="source").select(
        "doc_id", "source"
    )


@declared(
    "pack_sequences_512",
    f"""
WITH t AS (
  SELECT doc_id, source, len({_TOKS}) AS n_tokens FROM documents
), p AS (
  SELECT doc_id, source, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS start_offset
  FROM t
)
SELECT doc_id, source, n_tokens, start_offset,
       start_offset // 512 AS pack_id,
       (start_offset + n_tokens - 1) // 512 != start_offset // 512 AS straddles
FROM p
""",
)
def pack_sequences_512(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing at a 512-token budget: one exclusive prefix-sum
    window per source gives every document its offset, pack id, and
    boundary-straddle flag in the concatenated token stream."""
    from nibbledb_spark.operators.packing import pack_sequences

    return pack_sequences(_t(spark, sf_dir, "documents"), 512)


@declared(
    "pack_ffd_bound",
    f"""
WITH t AS (SELECT doc_id, source, len({_TOKS}) AS n FROM documents)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN n > 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_oversize,
       CAST(0 AS BIGINT) AS cap_violations,
       CAST(0 AS BIGINT) AS half_fill_violations,
       CAST(0 AS BIGINT) AS offset_violations
FROM t GROUP BY source
""",
)
def pack_ffd_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-straddle FFD bin packing (operators/packing.py pack_bins_ffd),
    driver-checked APPROX-class style: the packing itself is sequential
    (not SQL-expressible), so the oracle pins its INVARIANTS instead —
    per source, token/doc/oversize conservation must match the corpus
    exactly and three violation counters must be zero: no non-oversize
    bin over the 64-token budget (cap), at most one bin at or below
    half fill (the first-fit guarantee — the padding-waste bound), and
    per-bin offsets that are contiguous (min 0, max end == fill, one
    distinct offset per doc). A wrong packing breaks one of these and
    hash-mismatches."""
    from nibbledb_spark.operators.packing import pack_bins_ffd

    budget = 64
    out = pack_bins_ffd(_t(spark, sf_dir, "documents"), budget)
    bins = out.groupBy("group", "bin_id").agg(
        F.sum("n_tokens").alias("fill"),
        F.max(F.col("oversize").cast("int")).alias("ovs"),
        F.count("*").alias("n_in_bin"),
        F.min("bin_offset").alias("min_off"),
        F.max(F.col("bin_offset") + F.col("n_tokens")).alias("max_end"),
        # zero-token docs legitimately share bin_offset == fill (they
        # occupy no space), so the one-distinct-offset-per-doc check
        # applies only to docs that consume tokens
        F.countDistinct(
            F.when(F.col("n_tokens") > 0, F.col("bin_offset"))
        ).alias("nd_off"),
        F.sum((F.col("n_tokens") > 0).cast("int")).alias("n_pos"),
    )
    bad_offsets = (
        (F.col("min_off") != 0)
        | (F.col("max_end") != F.col("fill"))
        | (F.col("nd_off") != F.col("n_pos"))
    )
    return (
        bins.groupBy("group")
        .agg(
            F.sum("n_in_bin").alias("n_docs"),
            F.sum("fill").alias("total_tokens"),
            F.sum("ovs").cast("long").alias("n_oversize"),
            F.sum(
                ((F.col("fill") > budget) & (F.col("ovs") == 0)).cast("int")
            ).alias("cap_violations"),
            F.greatest(
                F.lit(0).cast("long"),
                F.sum((F.col("fill") * 2 <= budget).cast("int")) - 1,
            ).alias("half_fill_violations"),
            F.sum(bad_offsets.cast("int")).alias("offset_violations"),
        )
        .select(
            F.col("group").alias("source"),
            "n_docs",
            "total_tokens",
            "n_oversize",
            "cap_violations",
            "half_fill_violations",
            "offset_violations",
        )
        .orderBy("source")
    )


@declared(
    "heavy_hitter_tokens",
    f"""
SELECT token, COUNT(*) AS n
FROM (SELECT unnest({_TOKS}) AS token FROM documents) t
GROUP BY token
ORDER BY n DESC, token ASC
LIMIT 20
""",
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 token frequencies (vocabulary heavy hitters):
    map-side partial counts + TakeOrderedAndProject, never a global
    sort of the vocabulary."""
    from nibbledb_spark.operators.text import heavy_hitter_tokens as op

    return op(_t(spark, sf_dir, "documents"), 20)


def _bm25_sql(terms: list[str], k1: float = 1.2, b: float = 0.75, k: int = 20) -> str:
    """BM25 oracle mirroring operators/text.py bm25_topk expression for
    expression: rational (log-free) RSJ idf, Okapi tf saturation, the
    per-term scores summed in term-list order — every double op in the
    same IEEE order as the Spark tree."""
    nterm = len(terms)
    tf_defs = ",\n       ".join(
        f"CAST(len(list_filter(w, x -> x = '{t}')) AS BIGINT) AS tf_{i}"
        for i, t in enumerate(terms)
    )
    df_defs = ",\n       ".join(
        f"CAST(SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{i}"
        for i in range(nterm)
    )
    dlr = "(CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n AS DOUBLE)))"
    scores = "\n     + ".join(
        f"(((CAST(n AS DOUBLE) - CAST(df_{i} AS DOUBLE) + 0.5)"
        f" / (CAST(df_{i} AS DOUBLE) + 0.5))"
        f" * ((CAST(tf_{i} AS DOUBLE) * {k1 + 1.0!r})"
        f" / (CAST(tf_{i} AS DOUBLE) + {k1!r} * (1.0 - {b!r} + {b!r} * {dlr}))))"
        for i in range(nterm)
    )
    any_tf = " + ".join(f"tf_{i}" for i in range(nterm))
    return f"""
WITH t AS (
  SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
       {tf_defs}
  FROM (SELECT doc_id, {_TOKS} AS w FROM documents)
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS sum_dl,
       {df_defs}
  FROM t
)
SELECT doc_id,
       {scores} AS score
FROM t CROSS JOIN s
WHERE {any_tf} > 0
ORDER BY score DESC, doc_id ASC LIMIT {k}
"""


@declared("bm25_topk", _bm25_sql(["dup", "spark", "scan"]))
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (operators/text.py bm25_topk; Robertson
    & Spärck Jones): top-20 documents for the query {dup, spark, scan}
    — one rare term (the near-dup marker, df≈5%) and two common ones,
    so idf weighting visibly drives the ranking. Engine-exact via the
    log-free rational RSJ idf (documented variant) and a fully
    mirrored IEEE expression tree; tf/dl come out of the token array
    row-locally, corpus stats are one broadcast row, top-k is
    TakeOrderedAndProject."""
    from nibbledb_spark.operators.text import bm25_topk as op

    return op(_t(spark, sf_dir, "documents"), ["dup", "spark", "scan"], k=20)


@declared(
    "collocations_lift_top20",
    f"""
WITH t AS (SELECT {_TOKS} AS w FROM documents),
ug AS (SELECT unnest(w) AS tok FROM t),
ugc AS (SELECT tok, COUNT(*) AS c FROM ug GROUP BY tok),
n AS (SELECT COUNT(*) AS n FROM ug),
bg AS (
  SELECT w[i] AS a, w[i + 1] AS b
  FROM (SELECT w, unnest(range(1, len(w))) AS i FROM t)
),
bgc AS (
  SELECT a, b, COUNT(*) AS cab FROM bg GROUP BY a, b HAVING COUNT(*) >= 5
)
SELECT a || ' ' || b AS bigram, cab,
       (CAST(cab AS DOUBLE) * CAST(n.n AS DOUBLE))
         / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)) AS lift
FROM bgc
JOIN ugc ca ON ca.tok = a
JOIN ugc cb ON cb.tok = b
CROSS JOIN n
ORDER BY lift DESC, bigram ASC LIMIT 20
""",
)
def collocations_lift_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining (operators/text.py collocations_lift): top-20
    bigrams by exact-rational lift N·c(ab)/(c(a)·c(b)) — PMI's ranking
    without PMI's log (log outputs are never engine-exact; a product
    and a divide of exact longs widened to double are). min_count=5
    blocks the hapax-pair blowup."""
    from nibbledb_spark.operators.text import collocations_lift

    return collocations_lift(_t(spark, sf_dir, "documents"), min_count=5, k=20)


@declared(
    "market_basket_lift",
    """
WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
n AS (SELECT CAST(COUNT(DISTINCT basket) AS BIGINT) AS n FROM b),
ci AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY item),
pc AS (
  SELECT a.item AS item_a, b2.item AS item_b, CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM b a JOIN b b2 ON a.basket = b2.basket AND a.item < b2.item
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
)
SELECT item_a, item_b, n_ab,
       (CAST(n_ab AS DOUBLE) * CAST(n.n AS DOUBLE))
         / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)) AS lift
FROM pc
JOIN ci ca ON ca.item = item_a
JOIN ci cb ON cb.item = item_b
CROSS JOIN n
ORDER BY lift DESC, item_a ASC, item_b ASC LIMIT 20
""",
)
def market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair affinity (operators/mining.py
    basket_pair_lift; Agrawal & Srikant VLDB'94 support counting, lift
    interest measure): top-20 part pairs by exact-rational lift over
    order baskets — the transactional sibling of
    collocations_lift_top20, counting per-basket presence instead of
    adjacent tokens. Pairs come out of each order's sorted item set
    row-locally; support >= 2 is the hapax floor; counts exact longs,
    lift one mirrored IEEE expression, ties at the k-boundary broken
    by the (item_a, item_b) total order."""
    from nibbledb_spark.operators.mining import basket_pair_lift

    li = _t(spark, sf_dir, "lineitem")
    return basket_pair_lift(
        li, basket_col="l_orderkey", item_col="l_partkey", min_count=2, k=20
    )


@declared(
    "edit_distance_near_dups",
    """
WITH p AS (
  SELECT doc_id, substr(text, 1, 120) AS pre, string_split(text, ' ')[1] AS blk
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.pre, b.pre) AS BIGINT) AS dist
FROM p a JOIN p b ON a.blk = b.blk AND a.doc_id < b.doc_id
WHERE abs(length(a.pre) - length(b.pre)) <= 8
  AND levenshtein(a.pre, b.pre) <= 8
ORDER BY id_a, id_b
""",
)
def edit_distance_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance near-dup pairs (operators/mining.py
    fuzzy_match_blocked): documents whose 120-char text prefixes are
    within Levenshtein 8, candidates blocked on the first token —
    the character-level record-linkage complement of the
    shingle/MinHash family (single-character edits that token hashing
    can't see). The free length lower bound prunes before the
    quadratic compare; Spark runs the bounded (banded-DP) levenshtein.
    Distances are exact integers on both engines."""
    from nibbledb_spark.operators.mining import fuzzy_match_blocked

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring(F.col("text"), 1, 120).alias("pre"),
        F.split(F.col("text"), " ").getItem(0).alias("blk"),
    )
    return fuzzy_match_blocked(
        d, id_col="doc_id", key_col="pre", block_cols=["blk"], max_dist=8
    ).orderBy("id_a", "id_b")


@declared(
    "decontaminate_ngrams",
    f"""
WITH ev0 AS (
  SELECT doc_id, {_TOKS} AS w FROM documents WHERE doc_id < 20
), tr0 AS (
  SELECT doc_id, {_TOKS} AS w FROM documents WHERE doc_id >= 20
), ev AS (SELECT doc_id, unnest({_SHINGLES}) AS s FROM ev0),
   tr AS (SELECT doc_id, unnest({_SHINGLES}) AS s FROM tr0)
SELECT tr.doc_id AS train_id, ev.doc_id AS eval_id, COUNT(*) AS n_shared
FROM tr JOIN ev ON tr.s = ev.s
GROUP BY 1, 2
HAVING COUNT(*) >= 3
""",
)
def decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: training docs (doc_id >= 20) sharing >= 3
    trigram shingles with any eval doc (doc_id < 20). The eval shingle
    table is broadcast, so the training corpus never shuffles."""
    from nibbledb_spark.operators.dedup import decontaminate

    docs = _t(spark, sf_dir, "documents")
    return decontaminate(
        docs.where(F.col("doc_id") >= 20),
        docs.where(F.col("doc_id") < 20),
        min_overlap=3,
    )


@declared(
    "decontaminate_semantic",
    f"""
WITH ev AS (SELECT vec_id AS eval_id, embedding AS ev FROM embeddings WHERE vec_id < 20),
tr AS (SELECT vec_id AS train_id, embedding AS tv FROM embeddings WHERE vec_id >= 20)
SELECT train_id, eval_id,
       {_dot_sql('tv', 'ev')}
         / (SQRT({_dot_sql('tv', 'tv')}) * SQRT({_dot_sql('ev', 'ev')})) AS cos_sim
FROM tr, ev
WHERE {_dot_sql('tv', 'ev')}
        / (SQRT({_dot_sql('tv', 'tv')}) * SQRT({_dot_sql('ev', 'ev')})) > 0.35
""",
)
def decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space eval decontamination: training vectors (vec_id
    >= 20) whose cosine to any eval vector (vec_id < 20) exceeds 0.35 —
    catches the paraphrased/translated benchmark leakage n-gram overlap
    misses (operators/dedup.py decontaminate_semantic). Broadcast eval
    side, map-side predicate; the corpus never shuffles."""
    from nibbledb_spark.operators.dedup import decontaminate_semantic

    e = _t(spark, sf_dir, "embeddings")
    return decontaminate_semantic(
        e.where(F.col("vec_id") >= 20), e.where(F.col("vec_id") < 20), 0.35
    )


@declared(
    "prep_training_mix",
    _CLEAN_CORPUS_CTES
    + f"""
, kept AS (
  SELECT d.doc_id, d.source, len({_TOKS.replace('text', 'd.text')}) AS n_tokens
  FROM documents d JOIN surv ON surv.doc_id = d.doc_id
  WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) <
        CASE d.source
          WHEN 'src1' THEN '{_rt(1.0)}'
          WHEN 'src2' THEN '{_rt(0.5)}'
          ELSE '{_rt(0.25)}'
        END
), p AS (
  SELECT doc_id, source, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS start_offset
  FROM kept
)
SELECT doc_id, source, n_tokens, start_offset,
       start_offset // 512 AS pack_id,
       (start_offset + n_tokens - 1) // 512 != start_offset // 512 AS straddles
FROM p
""",
)
def prep_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-prep pass as ONE plan: clean_corpus survivors ->
    deterministic stratified mixing -> per-source sequence packing, all
    hash-audited end-to-end against the composed DuckDB SQL."""
    from nibbledb_spark.operators.pipeline import prep_training_mix as op

    return op(
        _t(spark, sf_dir, "documents"),
        rates=_STRAT_RATES,
        default_rate=0.25,
    )


def _srp_sigs_select_sql(n_planes: int, n_tables: int) -> str:
    """s0..s{L-1} signature columns, one per hash table (table t uses
    plane offsets [t*b, (t+1)*b) — mirror of near_dup_pairs_srp)."""
    return ",\n         ".join(
        f"{_srp_sig_sql('embedding', n_planes, t * n_planes)} AS s{t}"
        for t in range(n_tables)
    )


def _srp_pairs_cand_sql(n_tables: int) -> str:
    """UNION of per-table self-equi-joins on the SRP signature — the
    DuckDB replica of near_dup_pairs_srp's candidate generation."""
    arms = [
        f"SELECT a.vec_id AS id1, b.vec_id AS id2\n"
        f"  FROM sigs a JOIN sigs b ON a.s{t} = b.s{t} AND a.vec_id < b.vec_id"
        for t in range(n_tables)
    ]
    return "\n  UNION\n".join(arms)


@declared(
    "embed_near_dup_pairs_srp",
    f"""
WITH sigs AS (
  SELECT vec_id,
         {_srp_sigs_select_sql(4, 8)}
  FROM embeddings WHERE vec_id < 200
),
cand AS (
  {_srp_pairs_cand_sql(8)}
)
SELECT cand.id1, cand.id2,
       {_dot_sql('e1.embedding', 'e2.embedding')}
         / (SQRT({_dot_sql('e1.embedding', 'e1.embedding')})
            * SQRT({_dot_sql('e2.embedding', 'e2.embedding')})) AS cos_sim
FROM cand
JOIN embeddings e1 ON e1.vec_id = cand.id1
JOIN embeddings e2 ON e2.vec_id = cand.id2
WHERE {_dot_sql('e1.embedding', 'e2.embedding')}
         / (SQRT({_dot_sql('e1.embedding', 'e1.embedding')})
            * SQRT({_dot_sql('e2.embedding', 'e2.embedding')})) >= 0.4
""",
)
def embed_near_dup_pairs_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-bucketed embedding near-dup pairs — the scale path for
    embed_near_dup_pairs (candidates from LSH buckets, exact cosine
    verify on candidates only).

    Promoted from APPROX/rows-only to a FULL oracle in round 5: all 8
    hash tables are replicated in DuckDB (fixed hyperplanes inlined as
    literals, identical fold order — the embed_near_dup_pairs_bucketed
    trick at L=8), so the driver hash now pins candidate generation,
    dedup, and the exact-cosine verify end to end. The subset-of-exact
    and recall properties stay pinned in pytest."""
    from nibbledb_spark.operators.similarity import near_dup_pairs_srp

    # cos 0.4 is a wide angle (θ≈66°, per-plane agreement p≈0.63): short
    # 4-bit signatures over 8 tables keep P(miss) = (1-p^4)^8 ≈ 0.25
    e = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200)
    return near_dup_pairs_srp(e, 0.4, dim=64, n_planes=4, n_tables=8)


@declared(
    "embed_near_dup_pairs_bucketed",
    f"""
WITH sigs AS (
  SELECT vec_id, embedding,
         {_srp_sig_sql('embedding', 4, 0)} AS s0,
         {_srp_sig_sql('embedding', 4, 4)} AS s1
  FROM embeddings
), cand AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2,
         a.embedding AS v1, b.embedding AS v2
  FROM sigs a JOIN sigs b ON a.s0 = b.s0 AND a.vec_id < b.vec_id
  UNION
  SELECT a.vec_id, b.vec_id, a.embedding, b.embedding
  FROM sigs a JOIN sigs b ON a.s1 = b.s1 AND a.vec_id < b.vec_id
)
SELECT id1, id2,
       {_dot_sql('v1', 'v2')}
         / (SQRT({_dot_sql('v1', 'v1')}) * SQRT({_dot_sql('v2', 'v2')})) AS cos_sim
FROM cand
WHERE {_dot_sql('v1', 'v2')}
         / (SQRT({_dot_sql('v1', 'v1')}) * SQRT({_dot_sql('v2', 'v2')})) >= 0.4
""",
)
def embed_near_dup_pairs_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via SRP buckets with a FULL hash-matched
    oracle — closing the round-3 gap where the only oracle-verified
    near-dup plan was the O(n²) self-join while the scale path was
    rows-only APPROX.

    The bucketing algorithm itself is replicated in DuckDB (fixed
    hyperplanes inlined as literals, identical fold order), the same
    trick ivf_ann_topk and lsh_near_dup_pairs use: candidates = pairs
    sharing a 4-bit SRP signature in either of 2 tables (equi-joins on
    the signature key — at 100 TB the per-bucket group size bounds the
    join; NO nested loop over the corpus), exact cosine verify on
    candidates only. Runs on the WHOLE embeddings table — the plan the
    quadratic baseline could never run at scale."""
    from nibbledb_spark.operators.similarity import near_dup_pairs_srp

    e = _t(spark, sf_dir, "embeddings")
    return near_dup_pairs_srp(e, 0.4, dim=64, n_planes=4, n_tables=2)


@declared(
    "timetravel_versions",
    f"""
SELECT CAST(0 AS INTEGER) AS version, COUNT(*) AS n_rows,
       {_ssum_sql('o_totalprice', 2)} AS total_price
FROM orders WHERE o_orderkey % 2 = 0
UNION ALL
SELECT CAST(1 AS INTEGER), COUNT(*), {_ssum_sql('o_totalprice', 2)}
FROM orders
UNION ALL
SELECT CAST(2 AS INTEGER), COUNT(*), {_ssum_sql('o_totalprice', 2)}
FROM orders WHERE NOT (o_orderstatus = 'F') OR (o_orderstatus = 'F') IS NULL
ORDER BY version
""",
)
def timetravel_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-log time travel (nibbledb_spark.snapshots): build a
    versioned table from orders (append evens -> append odds -> delete
    status-F rows), then read ALL THREE historical snapshots back and
    aggregate each. The oracle replays the same history declaratively:
    v0 = even keys, v1 = everything, v2 = everything minus status F.
    This is the engine's analogue of the reference's Irmin/Git history
    (src/shard.re:26-34) surfaced as a query: deletes never destroy
    data until vacuum, exactly like the reference's blank-don't-delete
    shard removal (src/shard.re:210-212)."""
    import shutil
    import tempfile

    from nibbledb_spark.snapshots import SnapshotLog

    orders = _t(spark, sf_dir, "orders")
    root = os.path.join(
        tempfile.gettempdir(),
        f"nibblelog_tt_{os.path.basename(os.path.abspath(sf_dir))}_{os.getpid()}",
    )
    shutil.rmtree(root, ignore_errors=True)
    log = SnapshotLog(spark, root, stats_cols=("o_orderkey",))
    log.append(orders.where("o_orderkey % 2 = 0"))
    log.append(orders.where("o_orderkey % 2 = 1"))
    log.delete_where("o_orderstatus = 'F'")
    snaps = [
        log.read(version=v)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            _ssum(F.col("o_totalprice"), 2).alias("total_price"),
        )
        .select(F.lit(v).cast("int").alias("version"), "n_rows", "total_price")
        for v in range(3)
    ]
    out = snaps[0]
    for s in snaps[1:]:
        out = out.unionByName(s)
    return out.orderBy("version")


@declared(
    "udtf_token_counts",
    """
SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS n
FROM (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
  FROM documents WHERE doc_id < 50
)
WHERE tok <> ''
GROUP BY doc_id, tok
ORDER BY doc_id, tok
""",
)
def udtf_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts via a Python UDTF (table function) —
    the UDTF leg of the UDF/UDAF/UDTF row in SURVEY.md §2 Part B.
    One UDTF call per document emits (tok, n) rows, applied with
    LATERAL so each partition streams through its own Python worker.

    Hot-path note: this is API-surface coverage, not the scale path —
    the same semantics run fully codegen'd in heavy_hitter_tokens /
    text_token_stats (explode + hash agg). A UDTF earns its keep only
    where per-row fan-out logic genuinely needs Python."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="tok string, n bigint")
    class TokenCounts:
        def eval(self, text):
            from collections import Counter

            toks = [t for t in (text or "").split(" ") if t]
            for tok, n in sorted(Counter(toks).items()):
                yield tok, n

    spark.udtf.register("nibbledb_token_counts_udtf", TokenCounts)
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    docs.createOrReplaceTempView("nibbledb_udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, s.tok, s.n
        FROM nibbledb_udtf_docs d,
             LATERAL nibbledb_token_counts_udtf(d.text) s
        ORDER BY d.doc_id, s.tok
        """
    )


@declared(
    "tfidf_pair_scores",
    f"""
WITH d AS (SELECT doc_id, {_TOKS} AS w FROM documents WHERE doc_id < 100),
t AS (SELECT doc_id, UNNEST(w) AS tok FROM d),
tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
       FROM t WHERE tok <> '' GROUP BY doc_id, tok),
dfq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok)
SELECT a.doc_id AS id1, b.doc_id AS id2,
       CAST(SUM((a.tf * b.tf * 1000000) // dfq.df) AS BIGINT) AS score
FROM tf a JOIN tf b USING (tok) JOIN dfq USING (tok)
WHERE a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
ORDER BY id1, id2
""",
)
def tfidf_pair_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-pair similarity with inverse-document-frequency term
    weighting, in EXACT integer arithmetic: each shared token adds
    floor(tf1*tf2*1e6 / df), so common tokens contribute little and the
    sum is order-independent (a float idf = ln(N/df) would be
    transcendental and summation-order-sensitive — unhashable across
    engines). Same scale shape as ngram_jaccard_pairs: the candidate
    pairs ARE the shared-token equi-join, never an all-pairs product;
    production corpora add the stop-token doc-freq cap exactly like
    clean_corpus (this synthetic vocab is too small for the cap to
    bite, so the query subsets to 100 docs instead)."""
    from nibbledb_spark.operators.text import tokens

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    toks = docs.select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    ).where(F.col("tok") != "")
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    a = tf.select(F.col("doc_id").alias("id1"), "tok", F.col("tf").alias("tf1"))
    b = tf.select(F.col("doc_id").alias("id2"), "tok", F.col("tf").alias("tf2"))
    return (
        a.join(b, "tok")
        .where(F.col("id1") < F.col("id2"))
        .join(F.broadcast(dfq), "tok")
        .groupBy("id1", "id2")
        .agg(
            F.sum(F.expr("(tf1 * tf2 * 1000000) div df")).cast("long").alias("score")
        )
        .orderBy("id1", "id2")
    )


@declared(
    "quality_percentile_by_source",
    f"""
WITH t AS (SELECT doc_id, source, {_TOKS} AS w FROM documents),
q AS (
  SELECT doc_id, source,
         {_QUALITY_SCORE_SQL}
           AS quality_score
  FROM t
)
SELECT doc_id, source, quality_score,
       PERCENT_RANK() OVER (
         PARTITION BY source ORDER BY quality_score, doc_id
       ) AS pct_in_source
FROM q
ORDER BY doc_id
""",
)
def quality_percentile_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source percentile normalization of the quality score — the
    standard trick when mixing corpora whose raw quality distributions
    differ (a median news article and a median forum post should not be
    filtered by one global threshold). percent_rank is deterministic
    under the (score, doc_id) total order; one window shuffle keyed by
    source, no joins."""
    from nibbledb_spark.operators.text import STOPWORDS, tokens

    docs = _t(spark, sf_dir, "documents")
    w = tokens("text")
    n = F.size(w)
    score = (
        (F.size(F.array_distinct(w)).cast("double") / n) * 0.5
        + (F.size(F.filter(w, lambda x: x.isin(*STOPWORDS))).cast("double") / n) * 0.5
    )
    win = Window.partitionBy("source").orderBy("quality_score", "doc_id")
    return (
        docs.select("doc_id", "source", score.alias("quality_score"))
        .withColumn("pct_in_source", F.percent_rank().over(win))
        .orderBy("doc_id")
    )


@declared(
    "histogram_order_totals",
    """
SELECT LEAST(CAST(FLOOR(o_totalprice / 30000.0) AS INTEGER), 19) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(o_totalprice) AS lo,
       MAX(o_totalprice) AS hi
FROM orders
GROUP BY 1
ORDER BY bucket
""",
)
def histogram_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals (20 x 30k buckets, top
    bucket open-ended) — one map-side-combined hash agg over a single
    scan; the bucket expression is plain floor arithmetic so it runs
    identically on both engines (DuckDB has no width_bucket)."""
    orders = _t(spark, sf_dir, "orders")
    bucket = F.least(
        F.floor(F.col("o_totalprice") / F.lit(30000.0)).cast("int"), F.lit(19)
    )
    return (
        orders.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
        .orderBy("bucket")
    )


@declared(
    "corr_quantity_price",
    f"""
WITH s AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
         CAST(SUM(CAST(FLOOR(l_extendedprice) AS BIGINT)) AS BIGINT) AS sy,
         CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(FLOOR(l_extendedprice) AS BIGINT)) AS BIGINT) AS sxy,
         CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx2,
         CAST(SUM(CAST(FLOOR(l_extendedprice) AS BIGINT) * CAST(FLOOR(l_extendedprice) AS BIGINT)) AS BIGINT) AS sy2
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       {_PEARSON_R_SQL}
         AS corr_qty_price
FROM s
ORDER BY l_returnflag
""",
)
def corr_quantity_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation per return flag WITHOUT the built-in corr():
    the six sufficient statistics accumulate as exact BIGINT sums
    (order-independent), and the r formula then runs the identical
    IEEE expression tree on both engines — so a statistic that is
    normally summation-order-noise hash-matches bit for bit. Quantity
    is integral; price enters floored to whole units to keep the
    squared sums inside int64 at scale. One map-side-combined hash agg."""
    li = _t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("long")
    y = F.floor(F.col("l_extendedprice")).cast("long")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sx2"),
        F.sum(y * y).alias("sy2"),
    )
    return s.select(
        "l_returnflag", "n", _pearson_r().alias("corr_qty_price")
    ).orderBy("l_returnflag")


@declared(
    "chunk_overlap_48_16",
    f"""
WITH t AS (SELECT doc_id, {_TOKS} AS w FROM documents WHERE doc_id < 200),
tok AS (
  SELECT doc_id, unnest(w) AS tok, generate_subscripts(w, 1) - 1 AS pos FROM t
),
x AS (
  SELECT doc_id, tok, pos,
         unnest(range(GREATEST(0, CAST(CEIL((pos - 47) / 16.0) AS BIGINT)),
                      pos // 16 + 1)) AS chunk_id
  FROM tok
)
SELECT doc_id, chunk_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       string_agg(tok, ' ' ORDER BY pos) AS chunk_text
FROM x
GROUP BY doc_id, chunk_id
ORDER BY doc_id, chunk_id
""",
)
def chunk_overlap_48_16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking, 48-token windows every 16 tokens (3x
    overlap) — the retrieval/RAG chunk shape. See
    operators/text.py chunk_documents_overlap for the scale notes."""
    from nibbledb_spark.operators.text import chunk_documents_overlap

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    return chunk_documents_overlap(docs, max_tokens=48, stride=16).orderBy(
        "doc_id", "chunk_id"
    )


@declared(
    "embed_cosine_topk_filtered",
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings
      WHERE label BETWEEN 2 AND 5),
scored AS (
  SELECT query_id, neighbor_id,
         {_dot_sql('qv', 'cv')} / (SQRT({_dot_sql('qv', 'qv')}) * SQRT({_dot_sql('cv', 'cv')})) AS cos_sim
  FROM c, q WHERE neighbor_id <> query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, cos_sim FROM ranked WHERE rank <= 3
""",
)
def embed_cosine_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search: top-k cosine restricted to a metadata
    predicate on the corpus side (label in [2, 5]). Pre-filtering is
    the Spark-native plan — the predicate pushes to the corpus scan,
    THEN the broadcast sweep scores survivors only; no post-filtering
    a larger k and hoping enough rows remain."""
    from nibbledb_spark.operators.similarity import cosine_topk

    e = _t(spark, sf_dir, "embeddings")
    return cosine_topk(
        e.where(F.col("label").between(2, 5)), e.where(F.col("vec_id") < 5), 3
    )


_RRF_K = 60
_HYBRID_QTOKS = ("join", "sort", "merge")


@declared(
    "hybrid_retrieval_rrf",
    f"""
WITH tok AS (
  SELECT doc_id, UNNEST({_TOKS}) AS tok FROM documents
),
tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
       FROM tok WHERE tok <> '' GROUP BY doc_id, tok),
dfq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
lex AS (
  SELECT tf.doc_id, CAST(SUM((tf.tf * 1000000) // dfq.df) AS BIGINT) AS lex_score
  FROM tf JOIN dfq USING (tok)
  WHERE tok IN {_HYBRID_QTOKS!r}
  GROUP BY tf.doc_id
),
lexr AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY lex_score DESC, doc_id ASC) AS lex_rank
  FROM lex
),
qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
vec AS (
  SELECT e.vec_id AS doc_id,
         {_dot_sql('e.embedding', 'qv.v')}
           / (SQRT({_dot_sql('e.embedding', 'e.embedding')}) * SQRT({_dot_sql('qv.v', 'qv.v')})) AS cos_sim
  FROM embeddings e, qv WHERE e.vec_id <> 0
),
vecr AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id ASC) AS vec_rank
  FROM vec
),
fused AS (
  SELECT COALESCE(lexr.doc_id, vecr.doc_id) AS doc_id,
         COALESCE(1.0 / ({_RRF_K} + lex_rank), 0.0)
           + COALESCE(1.0 / ({_RRF_K} + vec_rank), 0.0) AS rrf
  FROM lexr FULL OUTER JOIN vecr ON lexr.doc_id = vecr.doc_id
)
SELECT doc_id, rrf,
       ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id ASC) AS rank
FROM fused
ORDER BY rrf DESC, doc_id ASC LIMIT 10
""",
)
def hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion: a lexical leg
    (integer-exact tf-idf over the query tokens) and a vector leg
    (exact cosine to a fixed query embedding), fused as
    1/(60+rank_lex) + 1/(60+rank_vec) — rank-based fusion needs no
    score calibration between legs, and the reciprocal terms are
    single-op doubles so the fused score hash-matches. Both legs are
    independent single-pass plans; the fusion join is on doc id.

    Scale note: the global rank windows are single-partition by
    construction (WindowExec warning is expected). The lexical leg is
    already tiny (only docs containing a query token); at corpus scale
    the vector leg pre-trims with TakeOrdered (orderBy().limit(N),
    N >> k) before ranking, so the global window only ever sees N rows.
    The declared query ranks the full legs because the oracle defines
    RRF over the complete ranking."""
    from nibbledb_spark.operators.similarity import cosine

    docs = _t(spark, sf_dir, "documents")
    from nibbledb_spark.operators.text import tokens

    toks = docs.select("doc_id", F.explode(tokens("text")).alias("tok")).where(
        F.col("tok") != ""
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    lex = (
        tf.where(F.col("tok").isin(*_HYBRID_QTOKS))
        .join(F.broadcast(dfq), "tok")
        .groupBy("doc_id")
        .agg(F.sum(F.expr("(tf * 1000000) div df")).cast("long").alias("lex_score"))
    )
    wl = Window.orderBy(F.col("lex_score").desc(), F.col("doc_id").asc())
    lexr = lex.select("doc_id", F.row_number().over(wl).alias("lex_rank"))

    e = _t(spark, sf_dir, "embeddings")
    qv = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    vec = (
        e.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            cosine("embedding", "qv").alias("cos_sim"),
        )
    )
    wv = Window.orderBy(F.col("cos_sim").desc(), F.col("doc_id").asc())
    vecr = vec.select("doc_id", F.row_number().over(wv).alias("vec_rank"))

    inv = lambda r: F.coalesce(  # noqa: E731
        F.lit(1.0) / (F.lit(_RRF_K) + r), F.lit(0.0)
    )
    fused = lexr.join(vecr, "doc_id", "full_outer").select(
        "doc_id",
        (inv(F.col("lex_rank")) + inv(F.col("vec_rank"))).alias("rrf"),
    )
    wf = Window.orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
    return (
        fused.withColumn("rank", F.row_number().over(wf))
        .orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
        .limit(10)
    )


@declared(
    "setop_except_all",
    """
SELECT k, CAST(COUNT(*) AS BIGINT) AS n FROM (
  SELECT o_custkey AS k FROM orders
  EXCEPT ALL
  SELECT c_custkey FROM customer WHERE c_custkey % 3 = 0
)
GROUP BY k
ORDER BY k
""",
)
def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (bag difference, multiplicity-preserving): each order
    row survives unless cancelled by one matching customer-key row —
    the multiset semantics EXCEPT's set semantics cannot express.
    Aggregated per key so the result is order-insensitive."""
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    c = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 3 == 0)
        .select(F.col("c_custkey").alias("k"))
    )
    return (
        o.exceptAll(c)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("k")
    )


@declared(
    "rollup_grouping_id",
    """
SELECT
  CASE WHEN GROUPING(o_orderstatus) = 1 THEN NULL ELSE o_orderstatus END AS status,
  CASE WHEN GROUPING(o_orderpriority) = 1 THEN NULL ELSE o_orderpriority END AS priority,
  CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
  CAST(COUNT(*) AS BIGINT) AS n
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY gid, status, priority
""",
)
def rollup_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING() disambiguation: gid distinguishes a real
    NULL group value from a rolled-up aggregation level — the standard
    way consumers tell subtotal rows apart. (Spark's grouping_id() bit
    order matches GROUPING(a)*2 + GROUPING(b); the oracle spells the
    bits out so both engines compute the identical integer.)"""
    o = _t(spark, sf_dir, "orders")
    out = (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.when(F.expr("(gid div 2) % 2 = 1"), F.lit(None)).otherwise(
                F.col("o_orderstatus")
            ).alias("status"),
            F.when(F.expr("gid % 2 = 1"), F.lit(None)).otherwise(
                F.col("o_orderpriority")
            ).alias("priority"),
            "gid",
            "n",
        )
        .orderBy("gid", "status", "priority")
    )
    return out


@declared(
    "stringagg_mktsegment_nations",
    """
SELECT c_mktsegment,
       string_agg(DISTINCT CAST(c_nationkey AS VARCHAR), ','
                  ORDER BY CAST(c_nationkey AS VARCHAR)) AS nations,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def stringagg_mktsegment_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String aggregation with deterministic ordering: the distinct
    nation keys per market segment as one sorted comma-joined string.
    collect_set order is shuffle-dependent, so the set is array_sort'ed
    before joining — the only way a string agg can hash-match (and the
    right habit anywhere its output is compared or diffed)."""
    c = _t(spark, sf_dir, "customer")
    return (
        c.groupBy("c_mktsegment")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set(F.col("c_nationkey").cast("string"))),
                ",",
            ).alias("nations"),
            F.count(F.lit(1)).alias("n_customers"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Round-4 widening: pivot, classic multi-join analytics, sessionization,
# skew-salted join, and int8 embedding quantization.
# ---------------------------------------------------------------------------


@declared(
    "q3_shipping_priority",
    f"""
SELECT l_orderkey,
       {_ssum_sql('l_extendedprice * (1 - l_discount)', 4)} AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-01'
  AND l_shipdate > TIMESTAMP '1998-06-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
LIMIT 10
""",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): 3-way join, filtered on both
    fact sides, aggregated, global top-10 by revenue.

    The filtered customer side (one segment, two columns) is left to
    the optimizer rather than force-broadcast: customer grows with SF,
    and a hint bypasses autoBroadcastJoinThreshold entirely — at bench
    scale AQE still picks a broadcast join from runtime sizes, and at a
    scale where the dim outgrows the threshold the fallback is the
    correct shuffled join instead of a driver OOM. The orders->lineitem
    join is the big shuffle either way. Revenue is a scaled-long sum,
    so the top-10 cut compares identical exact values on both engines;
    l_orderkey is the unique tiebreak."""
    cutoff = "1998-06-01"
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(cutoff).cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(cutoff).cast("timestamp")
    )
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            _ssum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            )
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(
            F.col("revenue").desc(), F.col("o_orderdate").asc(), F.col("l_orderkey").asc()
        )
        .limit(10)
    )


@declared(
    "q5_local_supplier_volume",
    f"""
SELECT r_name, n_name,
       {_ssum_sql('l_extendedprice * (1 - l_discount)', 4)} AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
""",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): 6-way join where the
    supplier join carries an extra residual (supplier nation == customer
    nation) — the join-ordering stress test.

    Only the FIXED-size dims broadcast by hint: nation/region are 25/5
    rows at any SF. customer and supplier grow with SF (SF x 150k /
    SF x 10k rows), so their join strategy is left to the optimizer —
    a forced broadcast bypasses autoBroadcastJoinThreshold and turns
    into a driver OOM at the 100 TB scale this query is shaped for,
    while AQE already picks broadcast from runtime sizes whenever they
    actually fit. The orders<->lineitem join is the unavoidable big
    shuffle."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            _ssum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("r_name", "n_name")
    )


@declared(
    "q7_volume_shipping",
    f"""
SELECT supp_nation, cust_nation, l_year,
       {_ssum_sql('volume', 4)} AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
)
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping between two nations, by year):
    the disjunctive cross-nation predicate is the classic case where
    join order matters — pushing the nation-name filters INTO the
    supplier and customer sides first shrinks both to ~2/25 of their
    rows before any fact-table join, leaving the pair disjunction as a
    cheap residual on tiny joined columns.

    Scale shape: nation broadcasts (25 rows), the filtered supplier /
    customer sides stay optimizer-chosen (AQE broadcasts them when the
    runtime size fits), and lineitem<->orders is the one unavoidable
    big shuffle. Revenue is the scale-4 scaled-long sum (same class as
    q1's sum_disc_price) so grouping totals are bit-identical across
    engines and partitionings."""
    n = _t(spark, sf_dir, "nation")
    s = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .where(F.col("n_name").isin("NATION_1", "NATION_2"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .where(F.col("n_name").isin("NATION_1", "NATION_2"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            _ssum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@declared(
    "q10_returned_items",
    f"""
SELECT c_custkey, c_name, {_ssum_sql('l_extendedprice * (1 - l_discount)', 4)} AS revenue,
       c_acctbal, n_name
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
""",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (top returned-item customers in a quarter):
    date + returnflag filters push to both fact scans, nation
    broadcasts, and the top-20 is a TakeOrdered over the aggregated
    customer rows — never a global sort. Revenue is the scale-4
    scaled-long sum so the DESC ordering (and therefore row SELECTION
    at the LIMIT boundary) is deterministic; c_custkey breaks exact
    revenue ties on both engines."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            _ssum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            )
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


_Q18_QTY_SUM = "SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT))"


@declared(
    "q18_large_volume_customers",
    f"""
SELECT c_custkey, c_name, o_orderkey,
       STRFTIME(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS o_date,
       o_totalprice,
       CAST({_Q18_QTY_SUM} AS DOUBLE) / 100 AS total_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey HAVING {_Q18_QTY_SUM} > 25000)
GROUP BY c_custkey, c_name, o_orderkey, o_date, o_totalprice
""",
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): IN over a grouped
    HAVING subquery — the aggregate-then-semi-join plan, the one
    subquery position the existing subquery_* trio doesn't cover.
    Catalyst rewrites the IN into a left-semi join against the
    pre-aggregated big-order keys, so the fact table is filtered by a
    SMALL derived set before the customer join — at 100 TB the semi
    join's build side is only the qualifying orders, never lineitem.
    Quantity sums are scale-2 scaled-long on both engines so the
    HAVING boundary selects identical orders."""
    _views(spark, sf_dir, "customer", "orders", "lineitem")
    return spark.sql(
        """
        SELECT c_custkey, c_name, o_orderkey,
               date_format(o_orderdate, 'yyyy-MM-dd') AS o_date,
               o_totalprice,
               CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE)
                 / 100 AS total_qty
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey
            HAVING SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) > 25000)
        GROUP BY c_custkey, c_name, o_orderkey,
                 date_format(o_orderdate, 'yyyy-MM-dd'), o_totalprice
        """
    )


_Q21_SQL = """
WITH late AS (
  SELECT l.l_orderkey, l.l_suppkey,
         l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY AS is_late
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT s_suppkey, s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM (
  SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
  FROM late l1
  WHERE l1.is_late
    AND EXISTS (SELECT 1 FROM late l2
                WHERE l2.l_orderkey = l1.l_orderkey
                  AND l2.l_suppkey <> l1.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM late l3
                    WHERE l3.l_orderkey = l1.l_orderkey
                      AND l3.l_suppkey <> l1.l_suppkey
                      AND l3.is_late)
) w
JOIN supplier ON s_suppkey = w.l_suppkey
GROUP BY s_suppkey, s_name
ORDER BY s_suppkey
"""


@declared("q21_suppliers_kept_waiting", _Q21_SQL)
def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept waiting): the EXISTS +
    NOT-EXISTS pair with INEQUALITY correlation (other suppliers on the
    same order) — the classic decorrelation stress. "Late" adapts to
    this schema as shipping >90 days after the order date. Catalyst
    decorrelates both subqueries into a left-semi and a left-anti join
    on l_orderkey with the suppkey inequality as a residual; the same
    SQL text runs verbatim on DuckDB, so the oracle is the literal
    query. Scale shape: three scans of the same late CTE hash-join on
    orderkey — no correlated per-row re-execution survives planning."""
    _views(spark, sf_dir, "supplier", "orders", "lineitem")
    return spark.sql(_Q21_SQL)


# The remaining TPC-H shapes feasible on this synthetic schema. The
# testdata is TPC-H-ISH: there is NO partsupp table and lineitem/
# customer/part lack commitdate/receiptdate/shipmode/container/phone —
# so Q2/Q4/Q11/Q12/Q16/Q17/Q19/Q20/Q22 cannot be posed faithfully
# (their defining predicate columns do not exist), and Q13's
# left-join-count-distribution shape is already declared as
# join_outer_order_histogram. Q6/Q8/Q14/Q15 below complete the set.


@declared(
    "q6_forecast_revenue",
    f"""
SELECT {_ssum_sql('l_extendedprice * l_discount', 4)} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
""",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the pure scan query —
    filter on three columns, one global sum, no join. Every predicate
    reaches the parquet scan as a pushed filter (range on shipdate,
    range on discount, bound on quantity), which is the point of the
    shape: at 100 TB this is an I/O-bound scan whose row-group pruning
    does the work. Double literals compare against the same stored
    parquet doubles on both engines, so the boundary rows agree
    exactly; the sum is the usual scaled-long form."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _ssum(F.col("l_extendedprice") * F.col("l_discount"), 4).alias(
                "revenue"
            )
        )
    )


@declared(
    "q8_national_market_share",
    """
WITH base AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
         CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 10000 + 0.5)
              AS BIGINT) AS vol_s,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON n1.n_nationkey = c_nationkey
  JOIN region ON r_regionkey = n1.n_regionkey
  JOIN nation n2 ON n2.n_nationkey = s_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate < TIMESTAMP '1998-01-01'
)
SELECT o_year,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN vol_s ELSE 0 END)
            AS DOUBLE)
         / CAST(SUM(vol_s) AS DOUBLE) AS mkt_share
FROM base GROUP BY o_year ORDER BY o_year
""",
)
def q8_national_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): the deepest join tree in the
    suite — 8 relations, nation joined TWICE under different roles
    (customer's nation restricts the market region; supplier's nation
    is the share dimension). Only the fixed-size dims (nation x2,
    region) broadcast by hint; part/supplier/customer strategies are
    left to AQE for the same OOM-at-scale reason as q5. The share is a
    ratio of two conditional scaled-long sums — both engines divide
    the same exact integers, so the doubles match bit-for-bit."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type") == "STANDARD")
        .select("p_partkey")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_reg")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    vol_s = ts_ops.scaled_long(
        F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
    )
    base = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_reg") == r.r_regionkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("n2_key"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            vol_s.alias("vol_s"),
            "supp_nation",
        )
    )
    return (
        base.groupBy("o_year")
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_2", F.col("vol_s")).otherwise(
                    F.lit(0)
                )
            )
            .cast("double")
            .alias("num"),
            F.sum("vol_s").cast("double").alias("den"),
        )
        .select(
            "o_year", (F.col("num") / F.col("den")).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@declared(
    "q14_promo_revenue",
    """
SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                        THEN CAST(FLOOR((l_extendedprice * (1 - l_discount))
                                        * 10000 + 0.5) AS BIGINT)
                        ELSE 0 END) AS DOUBLE)
         / CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount))
                               * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
         AS promo_revenue_pct
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1996-02-01'
""",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promo revenue): one month of lineitem joined to part,
    conditional-over-total revenue ratio. The shipdate range pushes to
    the fact scan BEFORE the join (the month is the selective side);
    part's strategy is AQE's call. Ratio of conditional scaled-long
    sums, same exactness argument as q8."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-02-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    vol_s = ts_ops.scaled_long(
        F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .select(
            F.when(F.col("p_type") == "PROMO", vol_s).otherwise(F.lit(0)).alias(
                "promo_s"
            ),
            vol_s.alias("vol_s"),
        )
        .agg(
            (
                F.lit(100.0)
                * F.sum("promo_s").cast("double")
                / F.sum("vol_s").cast("double")
            ).alias("promo_revenue_pct")
        )
    )


@declared(
    "q15_top_supplier",
    """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 10000 + 0.5)
                  AS BIGINT)) AS total_s
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name,
       CAST(total_s AS DOUBLE) / 10000 AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_s = (SELECT MAX(total_s) FROM revenue)
ORDER BY s_suppkey
""",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): the view-plus-global-max shape. The
    quarter's per-supplier revenue aggregate is computed once and
    joined against its own scalar max — expressed as an aggregate
    cross-joined back (one row broadcast), NOT a global window, so
    nothing ever single-partitions. The max comparison happens on the
    scaled-long INTEGER (ties are exact on both engines by
    construction; the spec's 'all tied suppliers' semantics need exact
    equality, which doubles would not give)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(
            ts_ops.scaled_long(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
        ).alias("total_s")
    )
    top = rev.agg(F.max("total_s").alias("max_s"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(top), rev.total_s == F.col("max_s"))
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            (F.col("total_s").cast("double") / F.lit(10000)).alias(
                "total_revenue"
            ),
        )
        .orderBy("s_suppkey")
    )


# 6-hour inactivity gap: events span one month with median per-user gap
# ~7.3 h, so this threshold actually splits AND actually merges.
_SESSION_GAP_US = 6 * 3600 * 1_000_000


@declared(
    "sessionize_events_gaps",
    f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
), flagged AS (
  SELECT user_id, event_id, ts_us,
         CASE WHEN LAG(ts_us) OVER w IS NULL
                OR ts_us - LAG(ts_us) OVER w > {_SESSION_GAP_US}
              THEN 1 ELSE 0 END AS is_new
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
), numbered AS (
  SELECT user_id, ts_us,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_id
  FROM flagged
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
)
SELECT user_id, session_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(ts_us) AS session_start_us,
       MAX(ts_us) AS session_end_us
FROM numbered
GROUP BY user_id, session_id
""",
)
def sessionize_events_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gap > 6 h starts a new session): the
    lag + running-sum window idiom — the batch complement of the
    streaming session_window query (stream_session_windows).

    Both windows share PARTITION BY user_id ORDER BY (ts, event_id), so
    Spark plans ONE exchange + ONE sort and evaluates lag and the
    running sum in consecutive Window operators on the same sorted
    partition stream; the final groupBy re-uses the user_id hash
    partitioning (no second wide shuffle of note). event_id is the
    tiebreak for equal timestamps — without it session numbering is
    nondeterministic under shuffle order."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select("user_id", "event_id", event_ts_us(ev).alias("ts_us"))
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    flagged = e.withColumn(
        "is_new",
        F.when(
            F.lag("ts_us").over(w).isNull()
            | (F.col("ts_us") - F.lag("ts_us").over(w) > F.lit(_SESSION_GAP_US)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    numbered = flagged.withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return numbered.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_us").alias("session_start_us"),
        F.max("ts_us").alias("session_end_us"),
    )


@declared(
    "embed_quantize_int8",
    """
WITH scaled AS (
  SELECT vec_id,
         embedding,
         list_max(list_transform(embedding,
                                 x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS qscale
  FROM embeddings
)
SELECT vec_id, qscale,
       array_to_string(
         list_transform(embedding,
           x -> CAST(CAST(FLOOR(CAST(x AS DOUBLE) / qscale + 0.5) AS BIGINT)
                     AS VARCHAR)),
         ',') AS q
FROM scaled
WHERE qscale > 0
""",
)
def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/transfer
    shrink (4 bytes -> 1) that a 100 TB ANN corpus runs before
    index build; dequantize is q * qscale. Row-local (zero shuffles),
    pure array expressions. Quantized codes are emitted as one
    comma-joined string: scalar-only output per the oracle-type lint
    (arrays crash the driver's pandas canonicalizer — round-3 verdict).

    Parity: elements cast float->double (exact) before any arithmetic;
    both engines evaluate the identical expression tree (max/127.0,
    x/qscale, floor(+0.5) half-up), so doubles match bit-for-bit."""
    e = _t(spark, sf_dir, "embeddings")
    scaled = e.withColumn(
        "qscale",
        F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
        / F.lit(127.0),
    )
    return (
        scaled.filter(F.col("qscale") > 0)
        .select(
            "vec_id",
            "qscale",
            F.concat_ws(
                ",",
                F.transform(
                    "embedding",
                    lambda x: F.floor(x.cast("double") / F.col("qscale") + F.lit(0.5))
                    .cast("long")
                    .cast("string"),
                ),
            ).alias("q"),
        )
    )


@declared(
    "near_dup_keep_best",
    _NDC_CLOSURE_CTES
    + f""",
comp AS (SELECT id AS doc_id, MIN(r) AS component FROM reach GROUP BY id),
q AS (
  SELECT doc_id,
         {_QUALITY_SCORE_SQL}
           AS quality_score
  FROM t
),
ranked AS (
  SELECT c.component, c.doc_id, q.quality_score,
         ROW_NUMBER() OVER (PARTITION BY c.component
                            ORDER BY q.quality_score DESC, c.doc_id ASC) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY c.component) AS BIGINT) AS n_members
  FROM comp c JOIN q ON q.doc_id = c.doc_id
)
SELECT component, doc_id AS keep_id, quality_score, n_members
FROM ranked WHERE rn = 1
""",
)
def near_dup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-dedup canonical selection, quality-aware: per near-dup
    cluster keep the HIGHEST-quality member, not the lowest id — the
    policy production dedup actually wants (the min-id rule of
    near_dup_components can keep a boilerplate stub while discarding
    the clean copy).

    Composition, not new machinery: transitive components
    (operators/graph.py hash-min over the capped shingle-join pair
    list) joined to the deterministic quality scores (operators/
    text.py), then one row_number window per component. The component
    list is orders smaller than the corpus, so the extra join + window
    cost is bounded by the PAIR side, never a corpus reshuffle.
    Quality doubles are bit-identical across engines (same expression
    tree as text_quality), so argmax selection is deterministic;
    doc_id breaks exact ties."""
    from nibbledb_spark.operators.dedup import near_dup_components as op
    from nibbledb_spark.operators.text import quality_scores

    docs = _t(spark, sf_dir, "documents")
    comp = op(docs, threshold=0.5)
    q = quality_scores(docs).select("doc_id", "quality_score")
    joined = comp.join(q, "doc_id")
    w = Window.partitionBy("component").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc()
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_members", F.count(F.lit(1)).over(Window.partitionBy("component"))
        )
        .filter(F.col("rn") == 1)
        .select(
            "component",
            F.col("doc_id").alias("keep_id"),
            "quality_score",
            "n_members",
        )
    )


@declared(
    "schema_evolution_versions",
    """
SELECT CAST(0 AS INTEGER) AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(2 AS INTEGER) AS n_cols, CAST(NULL AS BIGINT) AS null_segments
FROM customer WHERE c_custkey < 1000
UNION ALL
SELECT CAST(1 AS INTEGER), CAST(COUNT(*) AS BIGINT), CAST(3 AS INTEGER),
       CAST((SELECT COUNT(*) FROM customer WHERE c_custkey < 1000) AS BIGINT)
FROM customer
ORDER BY version
""",
)
def schema_evolution_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-log additive schema evolution surfaced as a query: v0
    appends a 2-column slice of customer, v1 appends the REST with a
    merge_schema=True frame that carries c_mktsegment — a metadata-only
    evolution (v0's files are never rewritten). Reading v1 then shows 3
    columns with the pre-evolution rows backfilled NULL, and time
    travel to v0 shows the pre-evolution 2-column schema. The oracle
    states the same history declaratively: null_segments at the evolved
    head equals exactly the pre-evolution row count."""
    import shutil
    import tempfile

    from nibbledb_spark.snapshots import SnapshotLog

    customer = _t(spark, sf_dir, "customer")
    root = os.path.join(
        tempfile.gettempdir(),
        f"nibblelog_evo_{os.path.basename(os.path.abspath(sf_dir))}_{os.getpid()}",
    )
    shutil.rmtree(root, ignore_errors=True)
    log = SnapshotLog(spark, root, stats_cols=("c_custkey",))
    log.append(customer.where("c_custkey < 1000").select("c_custkey", "c_acctbal"))
    log.append(
        customer.where("c_custkey >= 1000").select(
            "c_custkey", "c_acctbal", "c_mktsegment"
        ),
        merge_schema=True,
    )
    rows = []
    for v in range(2):
        snap = log.read(version=v)
        n_cols = len(snap.columns)
        null_seg = (
            F.count(F.when(F.col("c_mktsegment").isNull(), 1))
            if "c_mktsegment" in snap.columns
            else F.lit(None).cast("long")
        )
        rows.append(
            snap.agg(
                F.count(F.lit(1)).alias("n_rows"), null_seg.alias("null_segments")
            ).select(
                F.lit(v).cast("int").alias("version"),
                "n_rows",
                F.lit(n_cols).cast("int").alias("n_cols"),
                "null_segments",
            )
        )
    out = rows[0]
    for s in rows[1:]:
        out = out.unionByName(s)
    return out.orderBy("version")


@declared(
    "funnel_view_click_purchase",
    """
WITH v AS (
  SELECT user_id, MIN(epoch_us(ts)) AS t1
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id AND epoch_us(e.ts) > v.t1
  WHERE e.event_type = 'click' GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id AND epoch_us(e.ts) > c.t2
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_view,
       CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_view_click,
       CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_view_click_purchase
""",
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis: users who viewed, then clicked AFTER
    their first view, then purchased AFTER that click — the sequential
    constraint (each stage strictly after the previous stage's first
    completion) is what separates a funnel from three independent
    existence counts.

    Three stage aggregates chained by equi-joins, ALL keyed on
    user_id: each stage shuffles only its own event-type slice (the
    type filter is pushed to the scan), later stages join on the same
    key, and the final counts are single-row crossJoins (the
    BroadcastNestedLoop in the plan is 1x1x1). Epoch-µs comparisons
    keep it EXACT."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select("user_id", "event_type", event_ts_us(ev).alias("ts_us"))
    v = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t1"))
    )
    c = (
        e.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts_us") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t2"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts_us") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t3"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_view_click")))
        .crossJoin(
            p.agg(F.count(F.lit(1)).alias("n_view_click_purchase"))
        )
    )


@declared(
    "cohort_weekly_retention",
    """
WITH firstw AS (
  SELECT user_id, MIN(date_trunc('week', ts)) AS cohort_week
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
)
SELECT f.cohort_week,
       CAST(datediff('day', f.cohort_week, a.week) // 7 AS BIGINT) AS week_offset,
       CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
FROM activity a JOIN firstw f ON a.user_id = f.user_id
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def cohort_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-activity week,
    counted as active per weekly offset — the standard growth-analytics
    table. Both engines truncate to the ISO Monday (Spark
    date_trunc('week'), DuckDB date_trunc('week')) and the offset is
    exact integer day-arithmetic // 7, so the output is EXACT.

    Shape: one user_id agg (first week), one distinct on
    (user_id, week), one join on user_id — the same single-key
    exchange chain as the funnel; the final (cohort, offset) agg is
    tiny (weeks x weeks)."""
    ev = _t(spark, sf_dir, "events")
    wk = F.date_trunc("week", F.col("ts"))
    e = ev.select("user_id", wk.alias("week"))
    firstw = e.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    activity = e.distinct()
    return (
        activity.join(firstw, "user_id")
        .groupBy(
            "cohort_week",
            (
                F.datediff(F.col("week"), F.col("cohort_week"))
                .cast("long")
                / F.lit(7)
            )
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )


@declared(
    "ts_rate_counter",
    _POINTS_CTE
    + """
, o AS (
  SELECT series, ts, value,
         lag(value) OVER w AS pv, lag(ts) OVER w AS pt
  FROM points WHERE value IS NOT NULL
  WINDOW w AS (PARTITION BY series ORDER BY ts ASC, value ASC)
)
SELECT series, ts,
       CASE WHEN value >= pv THEN value - pv ELSE value END AS increase,
       (CASE WHEN value >= pv THEN value - pv ELSE value END)
         * 1000000.0 / CAST(ts - pt AS DOUBLE) AS rate_per_s,
       ts - pt AS elapsed_us
FROM o WHERE pv IS NOT NULL AND ts - pt > 0
""",
)
def ts_rate_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counter-reset-aware per-second rate (PromQL rate/increase
    semantics: a decrease means the counter restarted, so the new value
    IS the increase). One window shuffle on (series, ts) — the same
    plan shape as ts_delta; division ordering identical on both
    engines, so the doubles match bit-for-bit."""
    from nibbledb_spark.operators.timeseries import rate

    pts = points_from_events(spark, sf_dir).select("series", "ts", "value")
    return rate(pts)


@declared(
    "ts_downsample_m4",
    _POINTS_CTE
    + f"""
SELECT series,
       ts - (((ts % {_RESAMPLE_US}) + {_RESAMPLE_US}) % {_RESAMPLE_US}) AS bucket_us,
       (min({{'t': ts, 'v': value}})).t AS t_first,
       (min({{'t': ts, 'v': value}})).v AS v_first,
       (max({{'t': ts, 'v': value}})).t AS t_last,
       (max({{'t': ts, 'v': value}})).v AS v_last,
       (min({{'v': value, 't': ts}})).t AS t_min,
       (min({{'v': value, 't': ts}})).v AS v_min,
       (max({{'v': value, 't': ts}})).t AS t_max,
       (max({{'v': value, 't': ts}})).v AS v_max
FROM points GROUP BY 1, 2
""",
)
def ts_downsample_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 visual downsampling (Jugel et al., VLDB 2014): per
    (series, 1h bucket) the first/last/min/max points — the pixel-exact
    line-plot reduction every tsdb dashboard path implements. A single
    hash aggregate of four struct-min/max; tie resolution is the
    lexicographic struct order, replicated exactly by DuckDB's
    struct min/max."""
    from nibbledb_spark.operators.timeseries import m4

    pts = points_from_events(spark, sf_dir).select("series", "ts", "value")
    return m4(pts, _RESAMPLE_US)


@declared(
    "ts_downsample_lttb",
    _POINTS_CTE
    + f"""
, b AS (
  SELECT series, ts - (((ts % {_RESAMPLE_US}) + {_RESAMPLE_US}) % {_RESAMPLE_US}) AS bucket_us,
         ts, value
  FROM points
),
ag AS (
  SELECT series, bucket_us,
         CAST(SUM(ts) AS DOUBLE) / COUNT(*) AS avg_t,
         CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000 / COUNT(*) AS avg_v
  FROM b GROUP BY 1, 2
),
n AS (
  SELECT series, bucket_us,
         LAG(avg_t) OVER w AS lt, LAG(avg_v) OVER w AS lv,
         LEAD(avg_t) OVER w AS rt, LEAD(avg_v) OVER w AS rv
  FROM ag WINDOW w AS (PARTITION BY series ORDER BY bucket_us)
),
s AS (
  SELECT b.series, b.bucket_us, b.ts, b.value, n.lt, n.lv, n.rt, n.rv,
         ABS((n.lt - n.rt) * (b.value - n.lv)
             - (n.lt - CAST(b.ts AS DOUBLE)) * (n.rv - n.lv)) AS area
  FROM b JOIN n ON b.series = n.series AND b.bucket_us = n.bucket_us
)
SELECT series, bucket_us, ts, value FROM (
  SELECT series, bucket_us, ts, value,
         ROW_NUMBER() OVER (PARTITION BY series, bucket_us ORDER BY
           CASE WHEN lt IS NOT NULL AND rt IS NOT NULL THEN area END DESC NULLS LAST,
           CASE WHEN rt IS NULL AND lt IS NOT NULL THEN ts END DESC NULLS LAST,
           ts ASC, value ASC) AS rn
  FROM s
) WHERE rn = 1
""",
)
def ts_downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle-area downsampling — the parallel bucket-average LTTB
    variant (operators/timeseries.py lttb; Steinarsson 2014): one
    representative point per (series, 1h bucket), chosen by largest
    triangle against the neighbor buckets' average points. Complements
    ts_downsample_m4 with the perceptual single-point-per-bucket
    reduction (M4 keeps 4). Fully oracle-matched: exact int64/scaled
    sums make the anchors identical, the area is one fixed IEEE tree,
    and the NULLS LAST ordering is written explicitly because Spark
    and DuckDB default NULL placement differently on ASC."""
    from nibbledb_spark.operators.timeseries import lttb

    pts = points_from_events(spark, sf_dir).select("series", "ts", "value")
    return lttb(pts, _RESAMPLE_US)


_NOTIN_SQL = """
SELECT s_suppkey, s_name, s_nationkey FROM supplier
WHERE s_suppkey NOT IN (
  SELECT l_suppkey FROM lineitem
  WHERE l_returnflag = 'R' AND l_shipdate >= DATE '2001-10-01')
"""


@declared("notin_suppliers_no_returns", _NOTIN_SQL)
def notin_suppliers_no_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN with a nullable subquery column — the null-aware anti
    join, a distinct Catalyst plan feature from plain anti join (a
    single NULL in the subquery empties the result, so the join must
    track null presence). Spark plans it as a broadcast hash join with
    isNullAwareAntiJoin=true (pinned in tests/test_plans.py): the
    filtered suppkey set broadcasts, the supplier scan never shuffles
    — the shape that survives a 100 TB fact side."""
    _views(spark, sf_dir, "supplier", "lineitem")
    return spark.sql(_NOTIN_SQL)


_WPS_WEIGHTS = {"src0": 4, "src1": 4, "src2": 2, "src3": 2}


@declared(
    "sample_weighted_priority",
    """
WITH u AS (
  SELECT doc_id, source,
         CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) + 1 AS DOUBLE)
           / 4503599627370496.0 AS u
  FROM documents
)
SELECT doc_id, source,
       CASE WHEN source IN ('src0', 'src1') THEN u
            WHEN source IN ('src2', 'src3') THEN u * u
            ELSE u * u * u * u END AS priority
FROM u
ORDER BY priority DESC, doc_id ASC
LIMIT 100
""",
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis A-ES):
    top-k priorities u^(1/w), ranked via the exact monotone transform
    u^(lcm/w) so no libm pow can flip a borderline selection — the
    deterministic data-mixing primitive ("oversample curated sources
    4x"). Row-local priority + one TakeOrderedAndProject; the corpus
    is scanned once and never shuffled."""
    from nibbledb_spark.operators.sampling import weighted_priority_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return weighted_priority_sample(docs, 100, _WPS_WEIGHTS)


@declared(
    "dsir_importance_weights",
    f"""
WITH pool AS (SELECT doc_id, {_TOKS} AS w FROM documents WHERE lang <> 'en'),
tgt AS (SELECT {_TOKS} AS w FROM documents WHERE lang = 'en'),
pbg AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(w[i] || ' ' || w[i+1]), 1, 8)) AS BIGINT) % 64 AS h
  FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM pool)
),
tbg AS (
  SELECT CAST(concat('0x', substr(md5(w[i] || ' ' || w[i+1]), 1, 8)) AS BIGINT) % 64 AS h
  FROM (SELECT w, unnest(range(1, len(w))) AS i FROM tgt)
),
tc AS (SELECT h, COUNT(*) AS tcnt FROM tbg GROUP BY h),
sc AS (SELECT h, COUNT(*) AS scnt FROM pbg GROUP BY h),
tt AS (SELECT COUNT(*) AS t_total FROM tbg),
st AS (SELECT COUNT(*) AS s_total FROM pbg),
ratio AS (
  SELECT sc.h,
         ((COALESCE(tc.tcnt, 0) + 1) * (st.s_total + 64) * 1000000)
           // ((sc.scnt + 1) * (tt.t_total + 64)) AS r
  FROM sc LEFT JOIN tc ON sc.h = tc.h CROSS JOIN tt CROSS JOIN st
)
SELECT p.doc_id, CAST(COUNT(*) AS BIGINT) AS n_ngrams,
       CAST(SUM(r.r) AS BIGINT) AS score_scaled,
       CAST(SUM(r.r) AS DOUBLE) / (COUNT(*) * 1000000) AS weight
FROM pbg p JOIN ratio r ON p.h = r.h
GROUP BY p.doc_id
ORDER BY doc_id
""",
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie 2023): importance weights for every
    non-English doc against the English target distribution, over
    64-bucket hashed bigrams with add-1 smoothing — integer-exact
    quantized likelihood ratios summed as longs, one IEEE division at
    the end (operators/sampling.py dsir_hashed_ngram_weights). Composes
    with sample_weighted_priority for the resample step; the shift
    property is pytest-pinned on a skewed synthetic corpus."""
    from nibbledb_spark.operators.sampling import dsir_hashed_ngram_weights

    docs = _t(spark, sf_dir, "documents")
    return dsir_hashed_ngram_weights(
        docs.where(F.col("lang") != "en"), docs.where(F.col("lang") == "en")
    ).orderBy("doc_id")


@declared(
    "dsir_resample",
    "WITH dsir AS ("
    + ORACLE["dsir_importance_weights"]
    + """)
SELECT doc_id, n_ngrams, score_scaled, weight FROM (
  SELECT *,
         CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) + 1 AS DOUBLE)
           / 4503599627370496.0 AS u
  FROM dsir
) WHERE u * 2.0 < weight
ORDER BY doc_id
""",
)
def dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full DSIR selection pass as ONE plan: hashed-bigram
    importance weights -> deterministic Bernoulli acceptance at
    p = min(1, weight/2) (operators/sampling.py
    bernoulli_importance_resample) — the resampled corpus whose
    mixture follows the English target. The oracle nests the
    dsir_importance_weights oracle verbatim as a CTE (one definition,
    no drift) and replays the same 52-bit md5 acceptance; the
    accept test is one mirrored IEEE multiply+compare, row-local on
    top of the weights plan."""
    from nibbledb_spark.operators.sampling import (
        bernoulli_importance_resample,
        dsir_hashed_ngram_weights,
    )

    docs = _t(spark, sf_dir, "documents")
    w = dsir_hashed_ngram_weights(
        docs.where(F.col("lang") != "en"), docs.where(F.col("lang") == "en")
    )
    return bernoulli_importance_resample(w).orderBy("doc_id")


@declared(
    "split_train_val_test",
    """
SELECT doc_id,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc' THEN 'train'
            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
            ELSE 'test' END AS split
FROM documents
""",
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by key hash
    (operators/sampling.py split_assign): reproducible on any engine or
    partitioning, stable under appends (a doc's split never changes
    when the corpus grows), disjoint-and-exhaustive by construction
    (chained half-open hash intervals — 'cccc' = 0.8 and 'e666' = 0.9
    of the 16-bit prefix space). Row-local projection: no shuffle."""
    from nibbledb_spark.operators.sampling import split_assign

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return split_assign(docs)


@declared(
    "corpus_shuffle_positions",
    """
SELECT doc_id, source,
       CAST(ROW_NUMBER() OVER (
         ORDER BY md5(concat('epoch0', ':', CAST(doc_id AS VARCHAR))), doc_id
       ) - 1 AS BIGINT) AS pos
FROM documents
""",
)
def corpus_shuffle_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle (operators/sampling.py
    shuffle_deterministic, round-9 verdict #6): every doc's ``pos`` is
    its 0-based rank in the (md5(salt || ':' || doc_id), doc_id) total
    order — the "shuffle the corpus identically on any cluster"
    training primitive; a new salt is a fresh per-epoch permutation.
    The oracle states the order globally (ROW_NUMBER over the full
    sort); the Spark side must reproduce it through its decomposed
    shape — hash-prefix range buckets whose cumulative counts turn
    per-bucket ranks into global positions without ever funnelling the
    corpus through one partition. The hash order is engine-portable
    (lowercase hex is lexicographic in both), so the two plans agree
    bit for bit."""
    from nibbledb_spark.operators.sampling import shuffle_deterministic

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return shuffle_deterministic(docs, key_col="doc_id", salt="epoch0")


_TEMP_MIX_CTES = """
WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY source),
s AS (
  SELECT source, n_docs,
         CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS s_scaled
  FROM c
),
d AS (
  SELECT source, n_docs, s_scaled,
         SUM(s_scaled) OVER () AS denom,
         SUM(n_docs) OVER () AS n_total
  FROM s
),
r AS (
  SELECT source, n_docs,
         CAST(s_scaled AS DOUBLE) / CAST(denom AS DOUBLE) AS mix_share,
         LEAST(
           (CAST(32768 AS DOUBLE) / 65536.0) * CAST(n_total AS DOUBLE)
             * (CAST(s_scaled AS DOUBLE) / CAST(denom AS DOUBLE))
             / CAST(n_docs AS DOUBLE),
           1.0) AS keep_rate
  FROM d
)
"""


@declared(
    "temperature_mix_rates",
    _TEMP_MIX_CTES
    + "SELECT source, n_docs, mix_share, keep_rate FROM r ORDER BY source",
)
def temperature_mix_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source keep rates for alpha = 0.5 temperature mixture
    sampling (the multilingual/multi-domain training recipe: tempered
    share n_s^0.5 / sum, keep rate realizing it under a half-corpus
    budget, capped at 1). sqrt is IEEE-correctly-rounded on both
    engines and quantizes to a scaled long BEFORE the cross-source sum,
    so the denominator is an exact integer and every downstream ratio
    is a deterministic double op (operators/sampling.py
    temperature_mix_rates)."""
    from nibbledb_spark.operators.sampling import temperature_mix_rates

    docs = _t(spark, sf_dir, "documents")
    return temperature_mix_rates(docs, budget_frac=0.5).orderBy("source")


@declared(
    "temperature_mix_selected",
    _TEMP_MIX_CTES
    + """
SELECT doc_id, t.source
FROM documents t JOIN r ON r.source = t.source
WHERE CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) AS DOUBLE)
      < keep_rate * 65536.0
""",
)
def temperature_mix_selected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The realized temperature-tempered training mix: keep a doc iff
    its 16-bit key-hash uniform falls under its source's tempered keep
    rate — deterministic membership, converging to the alpha = 0.5
    mixture. Physical shape: tiny rates frame BROADCAST onto the
    corpus, then a row-local predicate — one scan, no corpus
    shuffle."""
    from nibbledb_spark.operators.sampling import sample_temperature_mix

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return sample_temperature_mix(docs, budget_frac=0.5).select("doc_id", "source")


# hash-trick linear scorer: feature = low-32-md5-bits(token) % 1024,
# weight = (feature * 2654435761 + 12345) % 2001 - 1000 (the demo
# stand-in for a trained vector — integer-exact on both engines)
_LINEAR_SCORE_SQL = """
WITH t AS (
  SELECT doc_id AS id,
         list_filter(string_split_regex(
           replace(text, chr(11), ' '), '\\s+'), x -> x <> '') AS w
  FROM documents
),
s AS (
  SELECT id, CAST(len(w) AS BIGINT) AS n_toks,
         COALESCE(CAST(list_sum(list_transform(w, tok ->
           ((CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) % 1024)
              * 2654435761 + 12345) % 2001 - 1000)) AS BIGINT), 0) AS dot_scaled
  FROM t
)
SELECT id, n_toks, dot_scaled,
       CASE WHEN n_toks > 0
            THEN CAST(dot_scaled AS DOUBLE) / 1000.0 / CAST(n_toks AS DOUBLE)
       END AS lin_score
FROM s
"""


@declared("linear_quality_score", _LINEAR_SCORE_SQL)
def linear_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear classifier inference as a ZERO-SHUFFLE
    codegen projection (operators/text.py linear_quality_score): hashed
    token buckets -> integer weight lookup -> exact per-doc dot product,
    score = one double division. The model-based quality gate (CCNet /
    DCLM recipe) in the shape that scores 100 TB where it sits — the
    tokenize_bpe plan class. Feature hashing uses md5 low bits, not an
    engine builtin hash, so bucketing is bit-identical in DuckDB."""
    from nibbledb_spark.operators.text import linear_quality_score

    return linear_quality_score(_t(spark, sf_dir, "documents"))


@declared("linear_quality_score_weighted", _LINEAR_SCORE_SQL)
def linear_quality_score_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same scorer through the TRAINED-MODEL path: weights as a
    (feature, weight) frame, explode -> broadcast hash join -> per-doc
    agg. Declared against the SAME oracle as linear_quality_score —
    the two physical plans (zero-shuffle fold vs broadcast join + agg)
    must produce identical scores, pinning that swapping the demo
    formula for a real trained vector changes nothing semantically."""
    from nibbledb_spark.operators.text import (
        LINEAR_SCORE_FEATURES,
        demo_weight,
        linear_quality_score,
    )

    weights = spark.range(LINEAR_SCORE_FEATURES).select(
        F.col("id").alias("feature"),
        demo_weight(F.col("id")).cast("long").alias("weight"),
    )
    return linear_quality_score(_t(spark, sf_dir, "documents"), weights)


def _l2sq_sql(a: str, b: str, dim: int = 8) -> str:
    """Explicit left-assoc sum chain == Spark's _l2sq left fold."""
    terms = " + ".join(
        f"((CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE))"
        f" * (CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE)))"
        for i in range(1, dim + 1)
    )
    return f"({terms})"


@declared(
    "pq_ann_topk",
    f"""
WITH js AS (SELECT CAST(j AS INTEGER) AS j FROM generate_series(0, 7) t(j)),
cb AS (
  SELECT j, vec_id AS c, embedding[j*8+1 : j*8+8] AS cw
  FROM embeddings, js WHERE vec_id < 16
),
sub AS (
  SELECT vec_id AS id, j, embedding[j*8+1 : j*8+8] AS sv
  FROM embeddings, js
),
codes AS (
  SELECT id, j, c AS code FROM (
    SELECT sub.id, sub.j, cb.c,
           ROW_NUMBER() OVER (PARTITION BY sub.id, sub.j
                              ORDER BY {_l2sq_sql('sv', 'cw')} ASC, cb.c ASC) AS rn
    FROM sub JOIN cb USING (j)) WHERE rn = 1
),
q AS (
  SELECT vec_id AS query_id, j, embedding[j*8+1 : j*8+8] AS sv
  FROM embeddings, js WHERE vec_id < 5
),
lut AS (
  SELECT query_id, q.j, cb.c,
         CAST(FLOOR({_l2sq_sql('sv', 'cw')} * 1000000 + 0.5) AS BIGINT) AS dq
  FROM q JOIN cb USING (j)
),
scored AS (
  SELECT l.query_id, k.id AS neighbor_id, CAST(SUM(l.dq) AS BIGINT) AS dql
  FROM codes k JOIN lut l ON l.j = k.j AND l.c = k.code
  WHERE k.id <> l.query_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, rank, CAST(dql AS DOUBLE) / 1000000 AS adc_dist FROM (
  SELECT query_id, neighbor_id, dql,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY dql ASC, neighbor_id ASC) AS rank
  FROM scored) WHERE rank <= 3
""",
)
def pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (Jegou et al., TPAMI 2011): the
    compressed-domain ANN path — vectors become 8 one-byte codes, and
    scoring is 8 integer table lookups per vector. The codebook is the
    deterministic lowest-16-id convention (same as ivf_ann_topk's
    centroids), the LUT distances are quantized to scaled longs, so the
    ENTIRE approximate pipeline is exactly replicated by the DuckDB
    oracle — an exact oracle over an approximate algorithm."""
    from nibbledb_spark.operators.similarity import pq_adc_topk

    e = _t(spark, sf_dir, "embeddings")
    return pq_adc_topk(e, e.where(F.col("vec_id") < 5), 3)


@declared(
    "recursive_month_ladder",
    """
WITH RECURSIVE months(m) AS (
  SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) FROM orders
  UNION ALL
  SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months
  WHERE m < (SELECT CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) FROM orders)
)
SELECT m AS month, CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
FROM months LEFT JOIN orders ON CAST(date_trunc('month', o_orderdate) AS DATE) = m
GROUP BY m
""",
)
def recursive_month_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE through the engine's SQL surface (new in Spark 4):
    a gap-free month ladder generated by the recursion, left-joined to
    orders for dense monthly counts — empty months surface as 0 instead
    of silently vanishing, the classic report-calendar shape. The
    recursion itself is driver-cheap (one row per month, ~80 rounds);
    the order counts stay one hash aggregate over the scan.

    The stop bound rides the recursion as a COLUMN: the original
    correlated scalar subquery re-scanned orders for MAX(o_orderdate)
    on every one of the ~80 recursion rounds (measured 15.8 s at
    sf0.1; threading the bound through the anchor row reads it once —
    0.99 s, identical ladder; r15 opt)."""
    _views(spark, sf_dir, "orders")
    return spark.sql(
        """
        WITH RECURSIVE months(m, mx) AS (
          SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE),
                 CAST(date_trunc('month', MAX(o_orderdate)) AS DATE)
          FROM orders
          UNION ALL
          SELECT add_months(m, 1), mx FROM months WHERE m < mx
        )
        SELECT m AS month, COUNT(o_orderkey) AS n_orders
        FROM months LEFT JOIN orders
          ON CAST(date_trunc('month', o_orderdate) AS DATE) = m
        GROUP BY m
        """
    )


@declared(
    "restore_rollback_versions",
    """
SELECT CAST(0 AS INTEGER) AS version, CAST('append' AS VARCHAR) AS op,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM customer WHERE c_custkey < 1000
UNION ALL
SELECT CAST(1 AS INTEGER), CAST('append' AS VARCHAR), CAST(COUNT(*) AS BIGINT)
FROM customer
UNION ALL
SELECT CAST(2 AS INTEGER), CAST('delete' AS VARCHAR), CAST(COUNT(*) AS BIGINT)
FROM customer WHERE NOT (c_acctbal < 0)
UNION ALL
SELECT CAST(3 AS INTEGER), CAST('restore' AS VARCHAR), CAST(COUNT(*) AS BIGINT)
FROM customer
ORDER BY version
""",
)
def restore_rollback_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-log RESTORE surfaced as a query: append half of
    customer (v0), append the rest (v1), delete the negative balances
    (v2), then restore(1) — the head (v3) must read exactly the full v1
    state again, with the deleted rows back and the whole history still
    addressable. The oracle states each version's row count
    declaratively from the same source table; the op column comes from
    the commit log itself."""
    import shutil
    import tempfile

    from nibbledb_spark.snapshots import SnapshotLog

    customer = _t(spark, sf_dir, "customer")
    root = os.path.join(
        tempfile.gettempdir(),
        f"nibblelog_restore_{os.path.basename(os.path.abspath(sf_dir))}_{os.getpid()}",
    )
    shutil.rmtree(root, ignore_errors=True)
    log = SnapshotLog(spark, root, stats_cols=("c_custkey",))
    log.append(customer.where("c_custkey < 1000").select("c_custkey", "c_acctbal"))
    log.append(customer.where("c_custkey >= 1000").select("c_custkey", "c_acctbal"))
    log.delete_where("c_acctbal < 0")
    log.restore(1)
    ops = {h["version"]: h["op"] for h in log.history()}
    rows = []
    for v in range(4):
        rows.append(
            log.read(version=v)
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .select(
                F.lit(v).cast("int").alias("version"),
                F.lit(ops[v]).alias("op"),
                "n_rows",
            )
        )
    out = rows[0]
    for s in rows[1:]:
        out = out.unionByName(s)
    return out.orderBy("version")


# deletion-vector visibility ladder: cumulative per-version predicates
# over orders (o_orderkey < 2000 base slice). v1/v2 are DV deletes, v3 a
# rewrite delete over the DV'd files — the oracle states each version's
# surviving rows declaratively; value parity rides the scaled-long
# totalprice checksum so a position-filtering bug can't hide in counts.
_DV_BASE = "o_orderkey < 2000"
_DV_P1 = "o_totalprice < 50000"  # v1: dv delete
_DV_P2 = "o_orderkey % 7 = 0"  # v2: dv delete (stacks)
_DV_P3 = "o_totalprice > 250000"  # v3: rewrite delete (materializes)


def _dv_feed_sql() -> str:
    preds = {
        0: _DV_BASE,
        1: f"{_DV_BASE} AND NOT ({_DV_P1})",
        2: f"{_DV_BASE} AND NOT ({_DV_P1}) AND NOT ({_DV_P2})",
        3: (
            f"{_DV_BASE} AND NOT ({_DV_P1}) AND NOT ({_DV_P2})"
            f" AND NOT ({_DV_P3})"
        ),
    }
    parts = [
        f"""SELECT CAST({v} AS INTEGER) AS version,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       {_ssum_sql('o_totalprice', 2)} AS price_sum
FROM orders WHERE {p}"""
        for v, p in preds.items()
    ]
    return "\nUNION ALL\n".join(parts) + "\nORDER BY version"


@declared("dv_delete_versions", _dv_feed_sql())
def dv_delete_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETION VECTORS surfaced as a query (snapshots.py
    delete_where(mode='dv'), the Delta DV analogue): append an orders
    slice (v0), DV-delete cheap orders (v1), DV-delete every 7th key
    (v2, vectors stack), then REWRITE-delete expensive orders (v3,
    materializing the vectors it touches). Every version's count,
    key sum and scaled-long price checksum must equal the oracle's
    declarative restatement — position-filtered reads, stacked
    vectors, time travel across DV commits, and DV-over-rewrite
    interplay all hash-verified at once. v1/v2 rewrite ZERO base
    files; at 100 TB that is the difference between O(matched rows)
    and O(touched files) for small deletes."""
    import shutil
    import tempfile

    from nibbledb_spark.snapshots import SnapshotLog

    orders = _t(spark, sf_dir, "orders")
    root = os.path.join(
        tempfile.gettempdir(),
        f"nibblelog_dv_{os.path.basename(os.path.abspath(sf_dir))}_{os.getpid()}",
    )
    shutil.rmtree(root, ignore_errors=True)
    log = SnapshotLog(spark, root, stats_cols=("o_orderkey",))
    log.append(
        orders.where(_DV_BASE)
        .select("o_orderkey", "o_totalprice")
        .repartition(4),  # several files so DVs land on a subset...
        # ...which optimizeWrite would silently coalesce away (the
        # small slice fits one target-size file) — opt out so the
        # query actually exercises the mixed plain+DV'd union and
        # multi-file vector batching it claims to (round-9
        # self-review)
        optimize_write=False,
    )
    log.delete_where(_DV_P1, mode="dv")
    log.delete_where(_DV_P2, mode="dv")
    log.delete_where(_DV_P3)
    rows = []
    for v in range(4):
        rows.append(
            log.read(version=v).agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("o_orderkey").alias("key_sum"),
                _ssum(F.col("o_totalprice"), 2).alias("price_sum"),
            ).select(
                F.lit(v).cast("int").alias("version"),
                "n_rows",
                "key_sum",
                "price_sum",
            )
        )
    out = rows[0]
    for s in rows[1:]:
        out = out.unionByName(s)
    return out.orderBy("version")


# continuous-aggregate rollup: hour + day widths over the events points,
# appended in three hash-interleaved batches so every bucket's state is a
# genuine MERGE of per-append partials, read back at hour width over a
# bucket-aligned range. The auto-routing marker row carries
# aggregate_range's count — and the query RAISES unless the engine
# actually routed it to the coarsest (day) rollup, so the driver's hash
# gate is also a routing gate (round-9 verdict #1).
_ROLLUP_HOUR_US = 3_600_000_000
_ROLLUP_DAY_US = 86_400_000_000


def _rollup_reads_sql() -> str:
    return (
        _POINTS_CTE
        + f"""
, in_range AS (
  SELECT series, ts, value FROM points
  WHERE ts >= {_FROM} AND ts < {_TO}
), hourly AS (
  SELECT series,
         ts - ts % {_ROLLUP_HOUR_US} AS bucket_us,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS sum_scaled,
         MIN(value) AS value_min,
         MAX(value) AS value_max
  FROM in_range GROUP BY series, bucket_us
)
SELECT series, bucket_us, n,
       CAST(sum_scaled AS DOUBLE) / 1000000.0 AS value_sum,
       value_min, value_max,
       CAST(sum_scaled AS DOUBLE) / 1000000.0 / n AS value_mean
FROM hourly
UNION ALL
SELECT '__routed_count_day__', CAST(-1 AS BIGINT), CAST(COUNT(*) AS BIGINT),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE)
FROM in_range
ORDER BY series, bucket_us
"""
    )


@declared("rollup_hourly_reads", _rollup_reads_sql())
def rollup_hourly_reads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate rollup READ path surfaced as a query
    (engine.py enable_rollup/rollup/aggregate_range — the TimescaleDB
    continuous-aggregate analogue, reference parity for its
    materialized range aggregates): build a store with hour + day
    rollups enabled, append the events points in three hash-interleaved
    batches (so each bucket's answer merges several per-append partial
    rows — the incremental state, not a single-batch recompute), then
    read the merged hour view over a bucket-aligned window. The oracle
    restates it as a direct GROUP BY over the same points with the
    rollup's scaled-long quantization — exact because incremental
    partials merge bit-identically to a full recompute (the pinned
    engine invariant, now driver-visible). A marker row carries
    aggregate_range('count')'s answer and the query raises unless the
    engine routed it through the COARSEST aligned width (day), pinning
    the materialized-view auto-routing too. At 100 TB the read touches
    rollup partial rows (series x buckets), never raw points."""
    import shutil
    import tempfile

    from nibbledb_spark.engine import TimeSeriesEngine

    pts = points_from_events(spark, sf_dir).select("series", "ts", "value")
    root = os.path.join(
        tempfile.gettempdir(),
        f"nibbleroll_{os.path.basename(os.path.abspath(sf_dir))}_{os.getpid()}",
    )
    shutil.rmtree(root, ignore_errors=True)
    eng = TimeSeriesEngine(spark, root, num_buckets=4)
    eng.enable_rollup(_ROLLUP_HOUR_US)
    eng.enable_rollup(_ROLLUP_DAY_US)
    part = F.pmod(F.xxhash64("series", "ts"), F.lit(3))
    for i in range(3):
        eng.append_points(pts.where(part == F.lit(i)))
    r = eng.rollup(ts_from=_FROM, ts_to=_TO - 1, every_us=_ROLLUP_HOUR_US)
    routed = eng.aggregate_range((), _FROM, _TO - 1, "count")
    if (
        getattr(eng, "_last_agg_source", None) != "rollup"
        or getattr(eng, "_last_agg_width", None) != _ROLLUP_DAY_US
    ):
        raise RuntimeError(
            "aggregate_range did not auto-route to the day rollup: "
            f"source={getattr(eng, '_last_agg_source', None)} "
            f"width={getattr(eng, '_last_agg_width', None)}"
        )
    marker = spark.createDataFrame(
        [("__routed_count_day__", -1, int(routed["count"]), None, None, None, None)],
        "series string, bucket_us long, n long, value_sum double, "
        "value_min double, value_max double, value_mean double",
    )
    return r.unionByName(marker).orderBy("series", "bucket_us")


_GAP_US = 1_200_000_000  # 20 min: report any silence longer than this


@declared(
    "ts_gaps",
    _POINTS_CTE
    + f"""
, o AS (
  SELECT series, ts, lag(ts) OVER w AS pt
  FROM points WINDOW w AS (PARTITION BY series ORDER BY ts ASC, value ASC)
)
SELECT series, pt AS gap_start, ts AS gap_end, ts - pt AS gap_us
FROM o WHERE pt IS NOT NULL AND ts - pt > {_GAP_US}
""",
)
def ts_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap / absent-series detection: consecutive-point silences longer
    than the threshold, per series — the monitoring primitive behind
    "no data" alerts (PromQL absent(), Timescale gap detection). Same
    single window shuffle as ts_delta; the filter keeps only the
    offending pairs so output is tiny regardless of corpus size."""
    from pyspark.sql import Window as W

    pts = points_from_events(spark, sf_dir).select("series", "ts", "value")
    w = W.partitionBy("series").orderBy(F.col("ts").asc(), F.col("value").asc())
    pt = F.lag("ts").over(w)
    return (
        pts.select(
            "series",
            pt.alias("gap_start"),
            F.col("ts").alias("gap_end"),
            (F.col("ts") - pt).alias("gap_us"),
        )
        .where(F.col("gap_start").isNotNull() & (F.col("gap_us") > _GAP_US))
    )


@declared(
    "retention_weekly_cohorts",
    """
WITH f AS (
  SELECT user_id, MIN(date_trunc('week', ts)) AS cohort_week
  FROM events GROUP BY user_id
),
a AS (
  SELECT DISTINCT e.user_id, f.cohort_week,
         date_trunc('week', e.ts) AS activity_week
  FROM events e JOIN f ON f.user_id = e.user_id
)
SELECT epoch_us(cohort_week) AS cohort_week_us,
       CAST((epoch_us(activity_week) - epoch_us(cohort_week))
            / 604800000000 AS INT) AS week_offset,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM a
GROUP BY 1, 2
""",
)
def retention_weekly_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix — the growth-analytics staple:
    users grouped by the week of their FIRST event, counted in every
    later week they return. Both engines truncate to ISO Monday-start
    weeks; offsets are exact integer microsecond arithmetic, so the
    matrix is engine-exact. (`a` is already distinct per (user, week),
    so COUNT(*) == COUNT(DISTINCT user) without a second distinct
    aggregation.) Shape: one user-keyed agg for cohorts, a broadcast
    of the (small) cohort map back onto events, one keyed agg for the
    matrix — the corpus is read once."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("activity_week")
    )
    f = ev.groupBy("user_id").agg(F.min("activity_week").alias("cohort_week"))
    a = ev.join(F.broadcast(f), "user_id").dropDuplicates(
        ["user_id", "cohort_week", "activity_week"]
    )
    return (
        a.groupBy(
            F.unix_micros("cohort_week").alias("cohort_week_us"),
            (
                (F.unix_micros("activity_week") - F.unix_micros("cohort_week"))
                / F.lit(604800000000)
            )
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@declared(
    "window_rank_distribution",
    """
SELECT c_custkey, c_nationkey,
       CAST(ntile(4) OVER w AS INT) AS balance_quartile,
       percent_rank() OVER w AS pr,
       cume_dist() OVER w AS cd
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal ASC, c_custkey ASC)
""",
)
def window_rank_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distribution-ranking window trio nothing else in the
    registry exercises: ntile / percent_rank / cume_dist per nation
    over account balance. ntile SPLITS PEERS by underlying row order —
    engine-divergent under ties — so the window orders by
    (c_acctbal, c_custkey), a total order that makes all three
    functions deterministic; percent_rank's (rank-1)/(n-1) and
    cume_dist's k/n are then exact small-integer ratios, identical
    IEEE doubles on both engines. One partition-keyed window shuffle."""
    from pyspark.sql import Window as W

    w = W.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    return _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.ntile(4).over(w).cast("int").alias("balance_quartile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


@declared(
    "insert_feed_versions",
    """
SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 3 <> 0
UNION ALL
SELECT c_custkey, c_acctbal FROM customer WHERE NOT (c_acctbal < 0)
""",
)
def insert_feed_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INSERT-level change feed (SnapshotLog.inserts_between)
    driver-visible: append a third of customer (v0), append the rest
    (v1), delete the negative balances (v2) — the feed over (0, 2]
    must emit exactly v1's appended rows plus v2's rewritten
    survivors (the documented Delta-CDF-inserts contract: delete
    survivors RE-SURFACE as their commit's added files). The oracle
    restates both commits declaratively; multiset semantics, so the
    overlap between the two legs is intentional and hash-checked.
    Both appends coalesce to single files and the delete predicate
    hits negatives in each, so the rewritten-file set is layout-
    independent."""
    import shutil
    import tempfile

    from nibbledb_spark.snapshots import SnapshotLog

    customer = _t(spark, sf_dir, "customer")
    root = os.path.join(
        tempfile.gettempdir(),
        f"nibblelog_ifeed_{os.path.basename(os.path.abspath(sf_dir))}_{os.getpid()}",
    )
    shutil.rmtree(root, ignore_errors=True)
    log = SnapshotLog(spark, root, stats_cols=("c_custkey",))
    cols = ["c_custkey", "c_acctbal"]
    log.append(customer.where("c_custkey % 3 = 0").select(*cols))
    log.append(customer.where("c_custkey % 3 <> 0").select(*cols))
    log.delete_where("c_acctbal < 0")
    return log.inserts_between(0, 2)


_ANOM_WIN_US = 7_200_000_000  # 2 h of trailing context
_ANOM_MIN_N = 8  # need a real baseline before flagging
_ANOM_K2 = 9  # |z| > 3


@declared(
    "ts_anomaly_zscore",
    _POINTS_CTE
    + f"""
, s AS (
  SELECT series, ts, value,
         CAST(FLOOR(value * 10000 + 0.5) AS BIGINT) AS x
  FROM points
),
w AS (
  SELECT series, ts, value, x,
         COUNT(*) OVER fr AS n,
         CAST(SUM(x) OVER fr AS BIGINT) AS sx,
         CAST(SUM(x * x) OVER fr AS BIGINT) AS sx2
  FROM s
  WINDOW fr AS (PARTITION BY series ORDER BY ts
                RANGE BETWEEN {_ANOM_WIN_US} PRECEDING AND 1 PRECEDING)
)
SELECT series, ts, value,
       CAST(n AS BIGINT) AS n_ctx,
       SQRT((CAST(n * x - sx AS DOUBLE) * CAST(n * x - sx AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) AS zscore
FROM w
WHERE n >= {_ANOM_MIN_N}
  AND CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
  AND CAST(n * x - sx AS DOUBLE) * CAST(n * x - sx AS DOUBLE)
      > {_ANOM_K2} * (CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
""",
)
def ts_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection per series: flag a point when
    it sits more than 3 sigma from the mean of its own trailing 2-hour
    context (>= 8 points) — the monitoring primitive behind spike
    alerts, downstream of the reference's raw read surface.

    Parity engineering: stddev in a PREDICATE is the classic
    ulp-divergence trap (merge-order differences select different
    rows), so the test runs entirely on exact integers — values
    quantize to scaled longs, the RANGE-framed window sums x and x^2
    as longs (order-independent by construction; a RANGE frame is a
    SET, so duplicate timestamps cannot make the frame ambiguous the
    way a ROWS frame would), and the 3-sigma test
    (n*x - sx)^2 > 9 * (n*sx2 - sx^2) runs on DOUBLES built from the
    exact longs with IDENTICAL expression trees on both engines. The
    sums themselves stay well inside 2^63, but their PRODUCTS would
    blow BIGINT once windows densify (~SF1) — and Spark wraps Java
    longs silently while DuckDB raises, so the all-integer form would
    diverge exactly when the data grows (round-9 self-review).
    Deterministic regardless: exact-integer inputs, correctly-rounded
    double ops, matching trees. The reported zscore is the sqrt of
    the same ratio. Scale shape: ONE series-keyed window shuffle;
    output is only the offending points."""
    from pyspark.sql import Window as W

    pts = points_from_events(spark, sf_dir).select("series", "ts", "value")
    x = ts_ops.scaled_long(F.col("value"), 4)
    fr = (
        W.partitionBy("series")
        .orderBy("ts")
        .rangeBetween(-_ANOM_WIN_US, -1)
    )
    s = pts.withColumn("x", x).select(
        "series",
        "ts",
        "value",
        "x",
        F.count(F.lit(1)).over(fr).alias("n"),
        F.sum("x").over(fr).cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).over(fr).cast("long").alias("sx2"),
    )
    d = (F.col("n") * F.col("x") - F.col("sx")).cast("double")
    varn = F.col("n").cast("double") * F.col("sx2").cast("double") - F.col(
        "sx"
    ).cast("double") * F.col("sx").cast("double")
    return s.where(
        (F.col("n") >= _ANOM_MIN_N)
        & (varn > 0)
        & (d * d > F.lit(float(_ANOM_K2)) * varn)
    ).select(
        "series",
        "ts",
        "value",
        F.col("n").cast("long").alias("n_ctx"),
        F.sqrt((d * d) / varn).alias("zscore"),
    )


@declared(
    "lm_quality_bigram",
    """
WITH t AS (
  SELECT doc_id, source, string_split_regex(text, '\\s+') AS w FROM documents
),
bi AS (
  SELECT doc_id, source,
         unnest(list_transform(range(1, len(w)), i -> w[i])) AS w1,
         unnest(list_transform(range(1, len(w)), i -> w[i+1])) AS w2
  FROM t WHERE len(w) >= 2
),
c12 AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM bi
  WHERE source IN ('src0', 'src1', 'src2', 'src3') GROUP BY 1, 2
),
c1 AS (
  SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM bi
  WHERE source IN ('src0', 'src1', 'src2', 'src3') GROUP BY 1
),
scored AS (
  SELECT bi.doc_id,
         CASE WHEN c12.c12 IS NOT NULL AND c1.c1 IS NOT NULL
              THEN (c12.c12 * 1000000) // c1.c1
              ELSE CAST(0 AS BIGINT) END AS p
  FROM bi LEFT JOIN c12 ON bi.w1 = c12.w1 AND bi.w2 = c12.w2
          LEFT JOIN c1 ON bi.w1 = c1.w1
)
SELECT doc_id AS id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(p) AS BIGINT) AS score_sum,
       CAST(CAST(SUM(p) AS BIGINT) AS DOUBLE) / COUNT(*) AS lm_score
FROM scored GROUP BY doc_id
""",
)
def lm_quality_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (CCNet-style): bigram counts
    trained on the curated sources (src0-src3) score every document by
    mean scaled conditional probability — integer floor-division
    probabilities summed as longs, so the approximate-in-spirit
    quality model is EXACT in arithmetic and fully oracle-matched."""
    from nibbledb_spark.operators.text import lm_quality_scores

    docs = _t(spark, sf_dir, "documents")
    ref = docs.where(F.col("source").isin("src0", "src1", "src2", "src3"))
    return lm_quality_scores(docs, ref)


@declared(
    "ts_seasonal_residuals",
    _POINTS_CTE
    + """
, h AS (
  SELECT series, ts, value, CAST((ts // 3600000000) % 24 AS BIGINT) AS hod
  FROM points
),
season AS (
  SELECT series, hod,
         CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
           / 1000000 / COUNT(*) AS hod_mean,
         CAST(SUM(CAST(FLOOR(value * value * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
           / 1000000 / COUNT(*) AS hod_m2
  FROM h GROUP BY 1, 2
),
sd AS (
  SELECT series, hod, hod_mean,
         hod_m2 - hod_mean * hod_mean AS hod_var
  FROM season
)
SELECT h.series, h.ts, h.hod, h.value,
       h.value - sd.hod_mean AS resid,
       (h.value - sd.hod_mean) / SQRT(sd.hod_var) AS zscore
FROM h JOIN sd ON h.series = sd.series AND h.hod = sd.hod
WHERE sd.hod_var > 0
  AND abs((h.value - sd.hod_mean) / SQRT(sd.hod_var)) > 2.5
""",
)
def ts_seasonal_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal anomaly detection: each point scored against its
    series' hour-of-day profile (the diurnal-seasonality baseline every
    monitoring tsdb fits) — points more than 2.5 population-sd from
    their hour's mean are anomalies. Hour means use scaled-long sums
    (order-independent exact); stddev_pop matches DuckDB bit-for-bit
    (same parity class as ts_agg_float). One hash agg over (series,
    hour) + one broadcast-size join back — two exchanges total."""
    pts = points_from_events(spark, sf_dir).select("series", "ts", "value")
    # integer DIV, not double division: a double quotient that rounds
    # up across an hour boundary would misassign the hour
    hod = F.expr("(ts DIV 3600000000) % 24")
    h = pts.select("series", "ts", "value", hod.alias("hod"))
    season = h.groupBy("series", "hod").agg(
        (
            F.sum(ts_ops.scaled_long(F.col("value"), 6)).cast("double")
            / 1_000_000
            / F.count("*")
        ).alias("hod_mean"),
        (
            F.sum(ts_ops.scaled_long(F.col("value") * F.col("value"), 6)).cast("double")
            / 1_000_000
            / F.count("*")
        ).alias("hod_m2"),
    )
    sd = season.select(
        "series", "hod", "hod_mean",
        (F.col("hod_m2") - F.col("hod_mean") * F.col("hod_mean")).alias("hod_var"),
    )
    z = (F.col("value") - F.col("hod_mean")) / F.sqrt(F.col("hod_var"))
    return (
        h.join(F.broadcast(sd), ["series", "hod"])
        .where((F.col("hod_var") > 0) & (F.abs(z) > 2.5))
        .select(
            "series", "ts", "hod", "value",
            (F.col("value") - F.col("hod_mean")).alias("resid"),
            z.alias("zscore"),
        )
    )


@declared(
    "ts_autocorr_lag1",
    _POINTS_CTE
    + f"""
, x AS (
  SELECT series, ts, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS x FROM points
),
l AS (
  SELECT series, x,
         LEAD(x, 1) OVER (PARTITION BY series ORDER BY ts ASC, x ASC) AS y
  FROM x
),
p AS (
  SELECT series,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sx2,
         CAST(SUM(y * y) AS BIGINT) AS sy2
  FROM l WHERE y IS NOT NULL GROUP BY series
)
SELECT series, n,
       {_PEARSON_R_SQL}
         AS autocorr
FROM p
ORDER BY series
""",
)
def ts_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series lag-1 autocorrelation (operators/timeseries.py
    autocorr): the persistence/seasonality screen, engine-exact via
    once-quantized longs + integer pair power sums + the shared
    _pearson_r IEEE tree. One series-keyed window shuffle, then a
    map-side-combined agg to |series| rows. The oracle orders the lead
    window by (ts, value-quantized) exactly like the operator, so
    neighbor pairing is total-order deterministic."""
    pts = points_from_events(spark, sf_dir)
    return ts_ops.autocorr(pts, 1)


@declared(
    "ts_cusum_changepoints",
    _POINTS_CTE
    + """
, q AS (SELECT series, ts, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS x FROM points),
c AS (
  SELECT series, ts, x,
         CAST(ROW_NUMBER() OVER (PARTITION BY series ORDER BY ts ASC, x ASC) AS BIGINT) AS i,
         CAST(SUM(x) OVER (PARTITION BY series ORDER BY ts ASC, x ASC
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p
  FROM q
),
t AS (SELECT series, CAST(SUM(x) AS BIGINT) AS tot, CAST(COUNT(*) AS BIGINT) AS n FROM q GROUP BY 1),
d AS (
  SELECT c.series, c.ts, c.i, t.n,
         CAST(ABS(t.n * c.p - c.i * t.tot) AS BIGINT) AS ad
  FROM c JOIN t USING (series)
),
r AS (
  SELECT series, n, ts, ad,
         ROW_NUMBER() OVER (PARTITION BY series ORDER BY ad DESC, ts ASC, i ASC) AS rn
  FROM d
)
SELECT series, n, ts AS cp_ts, ad AS cusum_abs,
       CAST(ad AS DOUBLE) / CAST(n * 100 AS DOUBLE) AS magnitude
FROM r WHERE rn = 1
ORDER BY series
""",
)
def ts_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series CUSUM changepoint (Page 1954,
    operators/timeseries.py cusum_changepoint): the argmax of the
    cumulative deviation from the series mean, kept INTEGER by
    multiplying through by n (D_i = n·P_i − i·T over once-quantized
    longs) so the location statistic is engine-exact; magnitude is one
    IEEE division at the end. One series-keyed window shuffle, a
    broadcast totals join, one argmax window."""
    pts = points_from_events(spark, sf_dir)
    return ts_ops.cusum_changepoint(pts)


@declared(
    "ts_linreg_trend",
    _POINTS_CTE
    + """
, x AS (
  SELECT series,
         CAST((ts - MIN(ts) OVER (PARTITION BY series)) // 1000000 AS BIGINT) AS x,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS y
  FROM points
),
p AS (
  SELECT series,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sx2
  FROM x GROUP BY series
)
SELECT series, n,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / NULLIF(CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0)
         / 100.0 AS slope,
       (CAST(sy AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sxy AS DOUBLE))
         / NULLIF(CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0)
         / 100.0 AS intercept
FROM p
ORDER BY series
""",
)
def ts_linreg_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series OLS trend line (operators/timeseries.py
    linreg_trend): slope in value units per second of elapsed series
    time plus the fitted intercept at the series start — the linear
    drift / capacity-forecast estimator, engine-exact via integer
    elapsed-seconds regressors, once-quantized responses, int64
    sufficient statistics, and one mirrored IEEE expression tree per
    coefficient (the autocorr/cusum playbook applied to model
    fitting). One series-keyed window shuffle for the per-series MIN,
    then a map-side-combined agg to |series| rows."""
    pts = points_from_events(spark, sf_dir)
    return ts_ops.linreg_trend(pts)


@declared(
    "ts_corr_pairs",
    _POINTS_CTE
    + f"""
, b AS (
  SELECT series, ts // 3600000000 AS bucket,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           // COUNT(*) AS xm
  FROM points GROUP BY 1, 2
),
p AS (
  SELECT a.series AS series_a, c.series AS series_b,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(a.xm) AS BIGINT) AS sx, CAST(SUM(c.xm) AS BIGINT) AS sy,
         CAST(SUM(a.xm * c.xm) AS BIGINT) AS sxy,
         CAST(SUM(a.xm * a.xm) AS BIGINT) AS sx2,
         CAST(SUM(c.xm * c.xm) AS BIGINT) AS sy2
  FROM b a JOIN b c ON a.bucket = c.bucket AND a.series < c.series
  GROUP BY 1, 2
)
SELECT series_a, series_b, n,
       {_PEARSON_R_SQL}
         AS corr_ab
FROM p
ORDER BY series_a, series_b
""",
)
def ts_corr_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation between every pair of series over
    hour-aligned bucket means (cross-series co-movement, the tsdb
    `corr(metric_a, metric_b)` analytics shape).

    Exactness: the per-bucket representative is the *integer-divided
    scaled mean* ``SUM(round(value*100)) DIV COUNT(*)`` — Spark DIV and
    DuckDB // both truncate toward zero (floor only for non-negative
    sums like these; Python's // would disagree on negatives) — an
    integer both engines compute identically regardless of partition/
    merge order, whose magnitude is bounded by the value domain (~5e4),
    NOT by points-per-bucket. The pair sufficient statistics are then
    sums of int64 products bounded by buckets x 2.4e9 — int64-safe at
    any ingest rate, unlike raw per-bucket sums whose squares overflow
    past ~1e9 points/bucket. The r formula is the same IEEE expression
    tree on both engines (corr_quantity_price pattern).

    Scale: one map-side-combined hash agg to (series, bucket) — the
    only shuffle that sees row volume; the bucket-mean table is
    |series| x |buckets| (time-bounded, data-volume-independent), so
    the self-join fans out k^2/2 pairs per bucket over a tiny input.
    At k in the thousands you'd restrict to a target-pair list before
    the join (an equi-join on a broadcast pair table), not all-pairs."""
    pts = points_from_events(spark, sf_dir).select("series", "ts", "value")
    b = (
        pts.groupBy("series", F.expr("ts DIV 3600000000").alias("bucket"))
        .agg(
            F.sum(ts_ops.scaled_long(F.col("value"), 2)).alias("sv"),
            F.count(F.lit(1)).alias("nb"),
        )
        .select("series", "bucket", F.expr("sv DIV nb").alias("xm"))
    )
    a, c = b.alias("a"), b.alias("c")
    pairs = a.join(
        c,
        (F.col("a.bucket") == F.col("c.bucket"))
        & (F.col("a.series") < F.col("c.series")),
    )
    xm_a, xm_c = F.col("a.xm"), F.col("c.xm")
    p = pairs.groupBy(
        F.col("a.series").alias("series_a"), F.col("c.series").alias("series_b")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xm_a).alias("sx"),
        F.sum(xm_c).alias("sy"),
        F.sum(xm_a * xm_c).alias("sxy"),
        F.sum(xm_a * xm_a).alias("sx2"),
        F.sum(xm_c * xm_c).alias("sy2"),
    )
    return p.select(
        "series_a", "series_b", "n", _pearson_r().alias("corr_ab")
    ).orderBy("series_a", "series_b")


@declared(
    "window_ntile_quartiles",
    """
WITH s AS (
  SELECT o_custkey,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS spend_c
  FROM orders GROUP BY o_custkey
)
SELECT o_custkey,
       CAST(spend_c AS DOUBLE) / 100 AS spend,
       NTILE(4) OVER w AS quartile,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST() OVER w AS cume
FROM s
WINDOW w AS (ORDER BY spend_c DESC, o_custkey ASC)
ORDER BY o_custkey
""",
)
def window_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions — NTILE / PERCENT_RANK / CUME_DIST
    (the window subfamily rank/row_number queries don't touch) over
    customer lifetime spend.

    Determinism: spend accumulates as a scaled-long sum (exact, order-
    independent) and the window orders by (spend_c, o_custkey) — a
    unique key, so tile boundaries and every rank are forced. The
    rational outputs ((rank-1)/(n-1), pos/n) are single int/int double
    divisions, identical on both engines.

    Scale: an unpartitioned ORDER BY window is a single-ordering
    operation — fine at customer-dimension cardinality (dimensions are
    orders of magnitude under fact volume). For a fact-scale global
    quantile assignment you'd sample range boundaries first (the
    RangePartitioner trick) and broadcast them as a bucket lookup
    instead of sorting the world into one partition."""
    orders = _t(spark, sf_dir, "orders")
    s = orders.groupBy("o_custkey").agg(
        F.sum(ts_ops.scaled_long(F.col("o_totalprice"), 2)).alias("spend_c")
    )
    w = Window.orderBy(F.col("spend_c").desc(), F.col("o_custkey").asc())
    return s.select(
        "o_custkey",
        (F.col("spend_c").cast("double") / 100).alias("spend"),
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    ).orderBy("o_custkey")


@declared(
    "argmax_latest_order",
    """
SELECT o_custkey,
       MAX_BY(o_orderkey, ordk) AS latest_orderkey,
       STRFTIME(MAX_BY(CAST(o_orderdate AS DATE), ordk), '%Y-%m-%d') AS latest_date,
       MAX_BY(o_totalprice, ordk) AS latest_total
FROM (
  SELECT *,
         (CAST(o_orderdate AS DATE) - DATE '1970-01-01') * 10000000000
           + o_orderkey AS ordk
  FROM orders
) t
GROUP BY o_custkey
ORDER BY o_custkey
""",
)
def argmax_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax aggregates — MAX_BY (DuckDB arg_max) — newest order per
    customer in ONE hash aggregate, no window, no self-join: the
    aggregate family's answer to top-1-per-group (contrast
    window_top3_per_customer, which pays a per-group sort for n>1).

    Determinism: DuckDB's arg_max takes only scalar ordering keys, so
    the tiebreak is the composite BIGINT ``epoch_days * 1e10 +
    o_orderkey`` — exact while o_orderkey < 1e10 (TPC-H reaches that
    at SF ~1700; past it, widen the multiplier or switch the Spark
    side to a struct ordering key, which max_by supports natively).

    Scale: a single map-side-combined hash agg over the fact table —
    partial argmax states merge associatively, so the shuffle carries
    one row per (partition, custkey), not raw orders."""
    orders = _t(spark, sf_dir, "orders")
    ordk = F.expr(
        "datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01') * 10000000000L"
        " + o_orderkey"
    )
    return (
        orders.withColumn("ordk", ordk)
        .groupBy("o_custkey")
        .agg(
            F.expr("max_by(o_orderkey, ordk)").alias("latest_orderkey"),
            F.expr(
                "date_format(max_by(CAST(o_orderdate AS DATE), ordk), 'yyyy-MM-dd')"
            ).alias("latest_date"),
            F.expr("max_by(o_totalprice, ordk)").alias("latest_total"),
        )
        .orderBy("o_custkey")
    )


@declared(
    "bitmask_user_event_flags",
    """
WITH f AS (
  SELECT user_id,
         CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
              WHEN 'signup' THEN 4 WHEN 'purchase' THEN 8 ELSE 16 END AS flag
  FROM events
)
SELECT user_id,
       CAST(BIT_OR(flag) AS BIGINT) AS flags_any,
       CAST(BIT_AND(flag) AS BIGINT) AS flags_all,
       CAST(BIT_XOR(flag) AS BIGINT) AS flags_parity,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM f GROUP BY user_id
ORDER BY user_id
""",
)
def bitmask_user_event_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregates — BIT_OR / BIT_AND / BIT_XOR — the compact
    set-membership encoding: one bit per event kind, OR-folded into a
    per-user "which kinds has this user ever produced" mask (the
    funnel-flags idiom; AND = kinds present in EVERY event, XOR =
    parity, a cheap duplicate-detection signal).

    Determinism: bitwise folds are associative and commutative, so
    partition/merge order cannot change the result — EXACT parity with
    no scaled-arithmetic machinery needed.

    Scale: one map-side-combined hash agg; the merged state is a
    single int64 per (partition, user), so the shuffle is as small as
    a count's. The CASE mapping is explicit (not hashed) so bit
    positions are stable across engines and releases."""
    events = _t(spark, sf_dir, "events")
    flag = (
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "signup", 4)
        .when(F.col("event_type") == "purchase", 8)
        .otherwise(16)
    )
    return (
        events.select("user_id", flag.alias("flag"))
        .groupBy("user_id")
        .agg(
            F.expr("CAST(bit_or(flag) AS BIGINT)").alias("flags_any"),
            F.expr("CAST(bit_and(flag) AS BIGINT)").alias("flags_all"),
            F.expr("CAST(bit_xor(flag) AS BIGINT)").alias("flags_parity"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


@declared(
    "ts_moments_skew_kurt",
    _POINTS_CTE
    + """
, r AS (SELECT series, CAST(FLOOR(value + 0.5) AS BIGINT) AS v FROM points),
s AS (
  SELECT series, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v) AS BIGINT) AS s1,
         CAST(SUM(v * v) AS BIGINT) AS s2,
         CAST(SUM(v * v * v) AS BIGINT) AS s3,
         CAST(SUM(v * v * v * v) AS BIGINT) AS s4
  FROM r GROUP BY series
),
m AS (
  SELECT series, n,
         CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
         CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
         CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
         CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
  FROM s
),
c AS (
  SELECT series, n, mu,
         r2 - mu * mu AS m2,
         r3 - 3 * mu * r2 + 2 * mu * mu * mu AS m3,
         r4 - 4 * mu * r3 + 6 * mu * mu * r2 - 3 * mu * mu * mu * mu AS m4
  FROM m
)
SELECT series, n, mu AS mean_r,
       m3 / NULLIF(m2 * SQRT(m2), 0) AS skewness,
       m4 / NULLIF(m2 * m2, 0) - 3 AS excess_kurtosis
FROM c
ORDER BY series
""",
)
def ts_moments_skew_kurt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-moment statistics — per-series skewness and excess
    kurtosis — WITHOUT the built-in skewness()/kurtosis() (whose
    streaming-merge update order differs between engines in the last
    ulp, the stddev_pop-in-predicates lesson from NOTES.md): the four
    raw power sums accumulate as exact int64s over values rounded to
    integers (documented quantization, the FLOOR(l_extendedprice)
    trick from corr_quantity_price), and the central-moment formulas
    then run the identical IEEE tree on both engines. POWER(m2, 1.5)
    is deliberately m2 * SQRT(m2): mul and sqrt are correctly-rounded
    IEEE ops, while libm pow differs across implementations.

    Overflow bound: v <= ~500 so v^4 <= ~6e10, giving int64 headroom
    of ~1.5e8 points per series; past that, pre-aggregate per
    (series, hour) bucket means first (the ts_corr_pairs shape).

    Scale: one map-side-combined hash agg — the only shuffle — then
    row-local arithmetic on one row per series."""
    pts = points_from_events(spark, sf_dir).select("series", "value")
    v = F.floor(F.col("value") + F.lit(0.5)).cast("long")
    s = pts.select("series", v.alias("v")).groupBy("series").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("v")).alias("s1"),
        F.sum(F.col("v") * F.col("v")).alias("s2"),
        F.sum(F.col("v") * F.col("v") * F.col("v")).alias("s3"),
        F.sum(F.col("v") * F.col("v") * F.col("v") * F.col("v")).alias("s4"),
    )
    nd = F.col("n").cast("double")
    mu = F.col("s1").cast("double") / nd
    r2 = F.col("s2").cast("double") / nd
    r3 = F.col("s3").cast("double") / nd
    r4 = F.col("s4").cast("double") / nd
    m = s.select("series", "n", mu.alias("mu"), r2.alias("r2"), r3.alias("r3"), r4.alias("r4"))
    mu, r2, r3, r4 = F.col("mu"), F.col("r2"), F.col("r3"), F.col("r4")
    c = m.select(
        "series", "n", "mu",
        (r2 - mu * mu).alias("m2"),
        (r3 - F.lit(3) * mu * r2 + F.lit(2) * mu * mu * mu).alias("m3"),
        (
            r4 - F.lit(4) * mu * r3 + F.lit(6) * mu * mu * r2
            - F.lit(3) * mu * mu * mu * mu
        ).alias("m4"),
    )
    # NULLIF on the m2 denominators: a constant series has m2 = 0, and
    # x/0.0 parity across engines is setting-dependent (see _pearson_r).
    m2, m3, m4 = F.col("m2"), F.col("m3"), F.col("m4")
    return c.select(
        "series", "n", F.col("mu").alias("mean_r"),
        (m3 / F.nullif(m2 * F.sqrt(m2), F.lit(0.0))).alias("skewness"),
        (m4 / F.nullif(m2 * m2, F.lit(0.0)) - F.lit(3)).alias("excess_kurtosis"),
    ).orderBy("series")


# --- BPE merge learning + corpus tokenization (operators/bpe.py) ------------
# The oracle replays learning EXACTLY: the separator-wrapped-symbol
# encoding makes one SQL replace() call per round identical greedy merge
# application on both engines (see operators/bpe.py module docstring),
# and the per-round argmax is deterministic on integer counts with a
# (count DESC, lhs, rhs) tiebreak. K rounds unroll as K chained CTE
# blocks; w/b CTEs are MATERIALIZED so the chain evaluates once per
# level instead of inlining exponentially.

_BPE_K = 8
_BPE_SEP = "\x1f"


def _bpe_ctes(k: int) -> str:
    s, ss = _BPE_SEP, _BPE_SEP * 2
    parts = [
        f"""w0 AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
         regexp_replace(word, '(.)', '{s}\\1{s}', 'g') AS w
  -- chr(11) -> ' ': \\x0B is whitespace to Java's \\s but not RE2's;
  -- normalizing it (mirrored in operators/bpe.py) keeps word
  -- splitting engine-invariant
  FROM (SELECT unnest(string_split_regex(
          replace(replace(text, chr(11), ' '), '{s}', ''), '\\s+')) AS word
        FROM documents) t
  WHERE word <> '' GROUP BY word)"""
    ]
    for i in range(1, k + 1):
        parts.append(
            f"""p{i} AS (
  SELECT syms[i] AS lhs, syms[i + 1] AS rhs, CAST(SUM(cnt) AS BIGINT) AS pair_count
  FROM (SELECT cnt, string_split(trim(w, '{s}'), '{ss}') AS syms FROM w{i - 1}) t,
       unnest(generate_series(1, len(syms) - 1)) AS u(i)
  GROUP BY 1, 2),
b{i} AS MATERIALIZED (SELECT lhs, rhs, pair_count FROM p{i}
  ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
w{i} AS MATERIALIZED (
  SELECT cnt, replace(w, '{s}' || lhs || '{ss}' || rhs || '{s}',
                         '{s}' || lhs || rhs || '{s}') AS w
  FROM w{i - 1}, b{i})"""
        )
    return "WITH " + ",\n".join(parts)


def _bpe_learn_sql(k: int) -> str:
    union = "\n  UNION ALL\n".join(
        f"  SELECT CAST({i} AS BIGINT) AS merge_rank, lhs, rhs, pair_count FROM b{i}"
        for i in range(1, k + 1)
    )
    return f"{_bpe_ctes(k)}\nSELECT * FROM (\n{union}\n) ORDER BY merge_rank"


def _bpe_tok_cte(k: int) -> str:
    """CTE chain ending in ``tok(doc_id, toks)`` — the shared prefix of
    the tokenize and vocab-top oracles (sharing the builder, not string
    surgery on generated SQL, keeps the two from drifting)."""
    s, ss = _BPE_SEP, _BPE_SEP * 2
    # Whole-doc wrap: only \S chars wrapped, so word boundaries stay bare
    # whitespace no merge pattern can cross. The coalesce guards make a
    # round past vocabulary exhaustion a no-op (search ⟂⟂⟂ never occurs),
    # mirroring the Spark loop's early break.
    expr = (
        f"regexp_replace(replace(replace(text, chr(11), ' '), '{s}', ''),"
        f" '(\\S)', '{s}\\1{s}', 'g')"
    )
    for i in range(1, k + 1):
        expr = (
            f"replace({expr},\n"
            f"  coalesce((SELECT '{s}' || lhs || '{ss}' || rhs || '{s}' FROM b{i}), '{s}{s}{s}'),\n"
            f"  coalesce((SELECT '{s}' || lhs || rhs || '{s}' FROM b{i}), ''))"
        )
    return f"""{_bpe_ctes(k)},
tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(
           replace(replace({expr}, '{ss}', ' '), '{s}', ''), '\\s+'),
           x -> x <> '') AS toks
  FROM documents)"""


def _bpe_tokenize_sql(k: int) -> str:
    return f"""{_bpe_tok_cte(k)}
SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       array_to_string(toks, ' ') AS tok_str
FROM tok"""


@declared("bpe_learn_merges", _bpe_learn_sql(_BPE_K))
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn 8 BPE merges from the documents corpus: the corpus shuffles
    once into a persisted word-frequency table; each round is one pair
    count aggregation there plus a 1-row argmax collect (the accepted
    iterative-driver pattern, like the k-means Lloyd rounds). At scale
    the per-round cost tracks the vocabulary, never the corpus."""
    from nibbledb_spark.operators.bpe import learn_bpe_merges

    merges = learn_bpe_merges(_t(spark, sf_dir, "documents"), _BPE_K)
    return spark.createDataFrame(
        [(r, lhs, rhs, c) for r, lhs, rhs, c in merges],
        schema="merge_rank long, lhs string, rhs string, pair_count long",
    )


@declared("tokenize_bpe", _bpe_tokenize_sql(_BPE_K))
def tokenize_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize every document with the 8 learned merges applied in
    order: a single zero-shuffle codegen'd projection over the corpus
    (wrap -> 8 chained replace calls -> unwrap/split). The part that
    touches all 100 TB is embarrassingly parallel; learning cost lives
    on the small word table (see bpe_learn_merges)."""
    from nibbledb_spark.operators.bpe import apply_bpe, learn_bpe_merges

    docs = _t(spark, sf_dir, "documents")
    return apply_bpe(docs, learn_bpe_merges(docs, _BPE_K))


@declared(
    "changes_between_feed",
    f"""
SELECT CAST(1 AS BIGINT) AS change_version, 'insert' AS change_op,
       COUNT(*) AS n_rows, {_ssum_sql('o_totalprice', 2)} AS total_price
FROM orders WHERE o_orderkey % 2 = 1
UNION ALL
SELECT CAST(2 AS BIGINT), 'remove', COUNT(*), {_ssum_sql('o_totalprice', 2)}
FROM orders
UNION ALL
SELECT CAST(2 AS BIGINT), 'insert', COUNT(*), {_ssum_sql('o_totalprice', 2)}
FROM orders WHERE NOT (o_orderstatus = 'F') OR (o_orderstatus = 'F') IS NULL
ORDER BY change_version, change_op
""",
)
def changes_between_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-visible change feed (SnapshotLog.changes_between) over a
    mixed append/delete/compact window: v0 append evens, v1 append odds,
    v2 predicate-delete status-F rows, v3 compact. The feed over (0, 3]
    surfaces v1 as inserts, v2 as remove(all pre-delete rows) +
    insert(survivors) — file-granular CDF, reading only in-range commit
    files — and v3 (compact) as NOTHING, the row-preserving maintenance
    rule. The oracle replays each (version, op) cell declaratively; the
    v2 cells rely on every data file containing status-F rows, which
    optimizeWrite's one-file-per-small-append coalescing guarantees
    here."""
    import shutil
    import tempfile

    from nibbledb_spark.snapshots import SnapshotLog

    orders = _t(spark, sf_dir, "orders")
    root = os.path.join(
        tempfile.gettempdir(),
        f"nibblelog_cdf_{os.path.basename(os.path.abspath(sf_dir))}_{os.getpid()}",
    )
    shutil.rmtree(root, ignore_errors=True)
    log = SnapshotLog(spark, root, stats_cols=("o_orderkey",))
    log.append(orders.where("o_orderkey % 2 = 0"))
    log.append(orders.where("o_orderkey % 2 = 1"))
    log.delete_where("o_orderstatus = 'F'")
    log.compact()
    return (
        log.changes_between(0, 3)
        .groupBy(
            F.col("_change_version").alias("change_version"),
            F.col("_change_op").alias("change_op"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            _ssum(F.col("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("change_version", "change_op")
    )


def _lsh_incremental_sql() -> str:
    bands = ", ".join(
        f"md5(sig[{2*b+1}]||'|'||sig[{2*b+2}])" for b in range(4)
    )
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS w FROM documents),
sh AS (SELECT doc_id, {_SHINGLES} AS s FROM t),
sig AS (SELECT doc_id, s, {_sig_sql()} AS sig FROM sh),
bands AS (
  SELECT doc_id, u.b, [{bands}][u.b + 1] AS bucket
  FROM sig, (SELECT unnest([0,1,2,3]) AS b) u
),
cand AS (
  SELECT DISTINCT a.doc_id AS query_id, b.doc_id AS index_id
  FROM bands a JOIN bands b ON a.b = b.b AND a.bucket = b.bucket
  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
)
SELECT c.query_id, c.index_id,
       CAST(len(list_intersect(s1.s, s2.s)) AS DOUBLE)
         / (len(s1.s) + len(s2.s) - len(list_intersect(s1.s, s2.s))) AS jaccard
FROM cand c JOIN sh s1 ON c.query_id = s1.doc_id JOIN sh s2 ON c.index_id = s2.doc_id
WHERE CAST(len(list_intersect(s1.s, s2.s)) AS DOUBLE)
         / (len(s1.s) + len(s2.s) - len(list_intersect(s1.s, s2.s))) >= 0.8
"""


@declared("lsh_incremental_near_dups", _lsh_incremental_sql())
def lsh_incremental_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted incremental LSH dedup index (the crawl-dedup workflow):
    build the index over docs with doc_id % 5 in (1,2,3), incrementally
    add the % 5 = 4 batch with frozen parameters, then query the
    % 5 = 0 batch against it — near-dup (query, index) pairs at exact
    Jaccard >= 0.8 WITHOUT recomputing a byte of corpus-side signatures
    (operators/dedup.py build_lsh_index / lsh_index_add /
    lsh_query_near_dups; same frozen-parameter contract as the
    persisted IVF indexes). The md5-deterministic pipeline lets the
    oracle replay build+add+query as one declarative band join
    restricted to (query x indexed) pairs."""
    import shutil
    import tempfile

    from nibbledb_spark.operators.dedup import (
        build_lsh_index,
        lsh_index_add,
        lsh_query_near_dups,
    )

    docs = _t(spark, sf_dir, "documents")
    root = os.path.join(
        tempfile.gettempdir(),
        f"nibblelsh_{os.path.basename(os.path.abspath(sf_dir))}_{os.getpid()}",
    )
    shutil.rmtree(root, ignore_errors=True)
    build_lsh_index(docs.where("doc_id % 5 IN (1, 2, 3)"), root)
    lsh_index_add(spark, root, docs.where("doc_id % 5 = 4"))
    return lsh_query_near_dups(
        spark, root, docs.where("doc_id % 5 = 0"), threshold=0.8
    )


def _lsh_gate_replay_sql() -> str:
    """Unrolled 3-step declarative replay of the crawl-loop gate: the
    pagerank precedent (fixed K, one CTE block per step). Candidates
    come from TWO generators mirroring the gate's two halves — band
    collisions for the vs-index probe (lsh_query_near_dups) and
    shared-shingle pairs for the intra-batch step (ngram_jaccard_pairs,
    same-batch only) — with ONE shared exact-jaccard verify."""
    bands = ", ".join(
        f"md5(sig[{2*b+1}]||'|'||sig[{2*b+2}])" for b in range(4)
    )
    # per-step drop/survivor CTEs: batch t drops a doc when a good BAND
    # pair links it to the prior index state i{t-1}, or a good SAME-
    # BATCH pair links it to a lower id; survivors join the index.
    steps = []
    for t_ in (1, 2, 3):
        prev = "i0" if t_ == 1 else f"i{t_-1}"
        steps.append(f"""
d{t_} AS (
  SELECT DISTINCT x.doc_id FROM (
    SELECT id1 AS doc_id, id2 AS other FROM good WHERE viaband AND id1 % 4 = {t_}
    UNION ALL
    SELECT id2, id1 FROM good WHERE viaband AND id2 % 4 = {t_}) x
  WHERE x.other IN (SELECT doc_id FROM {prev})
),
di{t_} AS (
  SELECT DISTINCT id2 AS doc_id FROM good
  WHERE viash AND id1 % 4 = {t_} AND id2 % 4 = {t_}
),
s{t_} AS (
  SELECT doc_id FROM t WHERE doc_id % 4 = {t_}
    AND doc_id NOT IN (SELECT doc_id FROM d{t_})
    AND doc_id NOT IN (SELECT doc_id FROM di{t_})
),
i{t_} AS (SELECT doc_id FROM {prev} UNION SELECT doc_id FROM s{t_})""")
    step_sql = ",".join(steps)
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS w FROM documents),
sh AS (SELECT doc_id, {_SHINGLES} AS s FROM t),
sig AS (SELECT doc_id, s, {_sig_sql()} AS sig FROM sh),
bands AS (
  SELECT doc_id, u.b, [{bands}][u.b + 1] AS bucket
  FROM sig, (SELECT unnest([0,1,2,3]) AS b) u
),
cand_band AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM bands a JOIN bands b ON a.b = b.b AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
shx AS (SELECT doc_id, unnest(s) AS g FROM sh),
cand_sh AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM shx a JOIN shx b ON a.g = b.g AND a.doc_id < b.doc_id
  WHERE (a.doc_id % 4) = (b.doc_id % 4) AND (a.doc_id % 4) <> 0
),
candu AS (
  SELECT id1, id2, bool_or(viaband) AS viaband, bool_or(viash) AS viash
  FROM (SELECT id1, id2, TRUE AS viaband, FALSE AS viash FROM cand_band
        UNION ALL
        SELECT id1, id2, FALSE, TRUE FROM cand_sh)
  GROUP BY id1, id2
),
good AS (
  SELECT c.id1, c.id2, c.viaband, c.viash
  FROM candu c JOIN sh s1 ON c.id1 = s1.doc_id JOIN sh s2 ON c.id2 = s2.doc_id
  WHERE CAST(len(list_intersect(s1.s, s2.s)) AS DOUBLE)
        / (len(s1.s) + len(s2.s) - len(list_intersect(s1.s, s2.s))) >= 0.8
),
i0 AS (SELECT doc_id FROM t WHERE doc_id % 4 = 0),{step_sql}
SELECT CAST(b.batch_id AS BIGINT) AS batch_id, CAST(b.doc_id AS BIGINT) AS doc_id
FROM (SELECT 1 AS batch_id, doc_id FROM s1
      UNION ALL SELECT 2, doc_id FROM s2
      UNION ALL SELECT 3, doc_id FROM s3) b
ORDER BY batch_id, doc_id
"""


@declared("lsh_gate_replay", _lsh_gate_replay_sql())
def lsh_gate_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming crawl-loop near-dup gate (lsh_dedup_gate), made
    driver-checkable as a K=3 ordered batch replay: build a fresh LSH
    index over the seed corpus (doc_id % 4 = 0), push batches 1, 2, 3
    through the REAL foreachBatch sink in order — probe vs the index,
    intra-batch lower-id-wins drop, survivors added so LATER batches
    dedup against them — with on_pass committing each batch's
    survivors to a parquet sink (the production composition). Returns
    (batch_id, doc_id) of everything that passed. The oracle unrolls
    the same greedy sequence as three CTE steps (the pagerank
    fixed-iteration precedent), so the stateful crawl loop is
    hash-matched end to end, including the sequential index growth."""
    from nibbledb_spark.operators.dedup import build_lsh_index, lsh_dedup_gate

    def gate(seed: DataFrame, idx: str, on_pass):
        build_lsh_index(seed, idx)
        return lsh_dedup_gate(spark, idx, threshold=0.8, on_pass=on_pass)

    return _gate_replay(spark, sf_dir, _t(spark, sf_dir, "documents"), "doc_id", gate)


def _bpe_vocab_sql(k: int) -> str:
    # Reuse the tokenize CTE chain, then count token frequencies.
    return f"""{_bpe_tok_cte(k)}
SELECT token, CAST(COUNT(*) AS BIGINT) AS n
FROM (SELECT unnest(toks) AS token FROM tok)
WHERE token <> ''
GROUP BY token
ORDER BY n DESC, token ASC
LIMIT 20"""


@declared("bpe_vocab_top", _bpe_vocab_sql(_BPE_K))
def bpe_vocab_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 subword tokens after the 8 learned BPE merges — the
    learned vocabulary's head, the number a tokenizer-training run
    inspects first. Composes tokenize_bpe's zero-shuffle apply with
    one partial-agg count + TakeOrderedAndProject (the heavy_hitter
    plan class); deterministic (n DESC, token ASC) tiebreak."""
    from nibbledb_spark.operators.bpe import apply_bpe, learn_bpe_merges

    docs = _t(spark, sf_dir, "documents")
    tok = apply_bpe(docs, learn_bpe_merges(docs, _BPE_K))
    return (
        tok.select(F.explode(F.split("tok_str", " ")).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(20)
    )


def _unigram_ctes(rounds: int) -> str:
    """Shared CTE chain of the unigram-LM oracles: word table -> seed
    vocabulary -> ``rounds`` hard-EM rounds, each a Viterbi pass over
    the distinct-word table with the previous round's integer scores.
    Every per-word expression comes from the SAME dialect-switched
    generator the Spark plan uses (operators/unigram.py segment_expr /
    q_log2_expr), so the two engines run literally one recurrence."""
    from nibbledb_spark.operators.unigram import (
        MAX_PIECE,
        MAX_WORD,
        SEED_TOP,
        q_log2_expr,
        segment_expr,
    )

    seg = segment_expr("word", "m", "duck")

    def q(n: str) -> str:
        return q_log2_expr(n, "duck")

    parts = [
        f"""uw AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS BIGINT) AS cnt, word
  FROM (SELECT unnest(string_split_regex(
          replace(replace(text, chr(11), ' '), chr(31), ''), '\\s+')) AS word
        FROM documents) t
  WHERE word <> '' GROUP BY word),
ulw AS MATERIALIZED (
  SELECT cnt, word FROM uw WHERE length(word) <= {MAX_WORD}),
useed AS (
  SELECT piece, CAST(SUM(cnt) AS BIGINT) AS c
  FROM (SELECT cnt, substr(word, s, l) AS piece
        FROM ulw,
             unnest(generate_series(1, length(word))) AS su(s),
             unnest(generate_series(1, {MAX_PIECE})) AS lu(l)
        WHERE s + l - 1 <= length(word)) t
  GROUP BY piece),
uv0 AS MATERIALIZED (
  SELECT piece, c FROM (
    SELECT piece, c, ROW_NUMBER() OVER (ORDER BY c DESC, piece) AS rn
    FROM useed) t
  WHERE rn <= {SEED_TOP} OR length(piece) = 1),
us0 AS MATERIALIZED (
  SELECT map(list(piece ORDER BY piece),
             list({q('c')} - {q('t')} ORDER BY piece)) AS m
  FROM uv0, (SELECT CAST(SUM(c) AS BIGINT) AS t FROM uv0) tt)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""uu{r} AS MATERIALIZED (
  SELECT piece, CAST(SUM(cnt) AS BIGINT) AS n_uses
  FROM (SELECT cnt, unnest({seg}) AS piece FROM ulw, us{r - 1}) t
  GROUP BY piece),
us{r} AS MATERIALIZED (
  SELECT map(list(piece ORDER BY piece),
             list({q('n_uses')} - {q('t')} ORDER BY piece)) AS m
  FROM uu{r}, (SELECT CAST(SUM(n_uses) AS BIGINT) AS t FROM uu{r}) tt)"""
        )
    return "WITH " + ",\n".join(parts)


def _unigram_learn_sql(rounds: int) -> str:
    from nibbledb_spark.operators.unigram import q_log2_expr

    def q(n: str) -> str:
        return q_log2_expr(n, "duck")

    return f"""{_unigram_ctes(rounds)}
SELECT piece, n_uses, CAST({q('n_uses')} - {q('t')} AS BIGINT) AS score
FROM uu{rounds},
     (SELECT CAST(SUM(n_uses) AS BIGINT) AS t FROM uu{rounds}) tt
ORDER BY n_uses DESC, piece"""


def _unigram_tokenize_sql(rounds: int) -> str:
    from nibbledb_spark.operators.unigram import segment_expr

    # One segment fold per exploded WORD ROW, re-assembled in word
    # order — NOT a fold nested inside a per-document list
    # comprehension, which segfaults DuckDB 1.0. The Spark side keeps
    # the nested row-local form (same recurrence, same results).
    seg_w = segment_expr("w", "m", "duck")
    return f"""{_unigram_ctes(rounds)},
udw AS (
  SELECT doc_id, unnest(ws) AS w, unnest(range(1, len(ws) + 1)) AS wi
  FROM (SELECT doc_id,
          [w0 for w0 in string_split_regex(
             replace(replace(text, chr(11), ' '), chr(31), ''), '\\s+')
           if w0 <> ''] AS ws
        FROM documents) dd),
uperdoc AS (
  SELECT doc_id, flatten(list(pieces ORDER BY wi)) AS toks
  FROM (SELECT doc_id, wi, {seg_w} AS pieces FROM udw, us{rounds}) t
  GROUP BY doc_id)
SELECT d.doc_id, CAST(coalesce(len(p.toks), 0) AS BIGINT) AS n_tokens,
       coalesce(array_to_string(p.toks, ' '), '') AS tok_str
FROM documents d LEFT JOIN uperdoc p USING (doc_id)"""


@declared("unigram_learn_vocab", _unigram_learn_sql(2))
def unigram_learn_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) vocabulary learning
    (operators/unigram.py learn_unigram; Kudo 2018 hard-EM): seed with
    all substrings <= 4 chars (top-256 by frequency + every single
    char), then 2 Viterbi/re-count rounds with SCALED-LONG integer
    log2 scores (Q(n) = 1024*log2(n) by bitlen + a static 64-entry
    mantissa table — no libm in either engine, so the DP argmax is
    engine-exact). The corpus shuffles once into the distinct-word
    table; each round is a broadcast one-row score map + one
    vocab-keyed count shuffle. Returns (piece, n_uses, score)."""
    from nibbledb_spark.operators.unigram import learn_unigram

    return learn_unigram(_t(spark, sf_dir, "documents"), rounds=2)


@declared("tokenize_unigram", _unigram_tokenize_sql(2))
def tokenize_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi-tokenize every document with the learned unigram
    vocabulary (operators/unigram.py tokenize_unigram): a ZERO-SHUFFLE
    projection — the one-row piece->score map broadcasts and each
    word's best segmentation is a row-local integer-DP fold (the
    apply-side scale contract shared with tokenize_bpe: the part that
    touches all 100 TB is embarrassingly parallel). Words longer than
    16 chars or unreachable under the vocabulary pass through as one
    whole-word token."""
    from nibbledb_spark.operators.unigram import (
        learn_unigram,
        tokenize_unigram as _tok,
    )

    docs = _t(spark, sf_dir, "documents")
    return _tok(docs, learn_unigram(docs, rounds=2))


@declared(
    "clone_branch_divergence",
    f"""
SELECT 'branch' AS side, COUNT(*) AS n_rows,
       {_ssum_sql('o_totalprice', 2)} AS total_price
FROM orders WHERE o_orderkey % 2 = 0
UNION ALL
SELECT 'source', COUNT(*), {_ssum_sql('o_totalprice', 2)}
FROM orders
ORDER BY side
""",
)
def clone_branch_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shallow clone (SnapshotLog.clone — Git-branch / Delta SHALLOW
    CLONE analogue): append evens (v0), branch the table at v0
    metadata-only, then append odds to the SOURCE only. The branch
    still reads exactly the v0 snapshot through source-referencing
    file entries (zero bytes copied) while the source reads everything
    — histories fork independently. The oracle states each side
    declaratively."""
    import shutil
    import tempfile

    from nibbledb_spark.snapshots import SnapshotLog

    orders = _t(spark, sf_dir, "orders")
    base = os.path.join(
        tempfile.gettempdir(),
        f"nibblelog_clone_{os.path.basename(os.path.abspath(sf_dir))}_{os.getpid()}",
    )
    shutil.rmtree(base, ignore_errors=True)
    log = SnapshotLog(spark, os.path.join(base, "src"), stats_cols=("o_orderkey",))
    log.append(orders.where("o_orderkey % 2 = 0"))
    branch = log.clone(os.path.join(base, "branch"))
    log.append(orders.where("o_orderkey % 2 = 1"))

    def agg(df, side):
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            _ssum(F.col("o_totalprice"), 2).alias("total_price"),
        ).select(F.lit(side).alias("side"), "n_rows", "total_price")

    return agg(branch.read(), "branch").unionByName(agg(log.read(), "source")).orderBy(
        "side"
    )
