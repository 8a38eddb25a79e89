"""Time-series operators: the reference's full query surface.

Every operator from SURVEY.md §2 Part A, expressed as a declarative
plan over the canonical ``points`` schema
(series STRING, ts BIGINT µs, tag MAP<STRING,STRING>, value DOUBLE).

Design notes for scale (the 100 TB stance):

- The scans (A6-A12) are stated once, as SQL builders: the selection
  (ids and inclusive ts bounds, plus any predicates a caller adds),
  the per-series top-n and the Q5-ordered selection. ``last_n``/
  ``first_n``/``since``/``time_range`` compose them into one
  ``sql_over`` statement over a points frame; ``TimeSeriesEngine``
  composes the same builders over its store listing. One statement is
  one parse and one analysis, where a chain of DataFrame calls
  re-analyzes the whole tree at every call.
- Per-series top-n (``last_n``/``first_n``) is a window + filter —
  Catalyst executes it as a partial top-n per input partition before
  the shuffle (WindowGroupLimit since Spark 3.5), so no series ever
  materializes fully. With ids, the result is bounded by n * (distinct
  ids) (quirk Q4), which plans the final sort as one
  TakeOrderedAndProject.
- Time selections are plain predicates on ``ts`` — they reach the
  parquet scan as PushedFilters and prune row groups via min/max
  stats, which is the Spark-native equivalent of the reference's
  shard-range index (reference src/timeseries.re:555-588,
  src/index.re:92-105).
- Aggregates are JVM-side hash aggregates with map-side partial
  aggregation; no Python is ever in the hot path.
- Equal-timestamp ordering is undefined in the reference (quirk Q5,
  src/timeseries.re:319-320); we define the canonical total order
  (ts, series, value) so results are deterministic.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nibbledb_spark.session import sql_over

# --------------------------------------------------------------------------
# selection helpers
# --------------------------------------------------------------------------


def for_series(points: DataFrame, ids: Sequence[str]) -> DataFrame:
    """Multi-series union read (A33): every read op accepts a list of ids;
    in Spark the union is a single ``isin`` predicate (partition-prunable
    when the store is partitioned by series bucket)."""
    if not ids:
        return points
    if len(ids) == 1:
        return points.where(F.col("series") == ids[0])
    return points.where(F.col("series").isin(list(ids)))


def scaled_long(col: Column, scale: int) -> Column:
    """``FLOOR(col * 10^scale + 0.5)`` as a long: THE half-up scaled-long
    quantization. Sums of it are exact and order-independent on any
    partitioning, stay on the codegen long-sum path, and match the
    DuckDB oracles, which spell the same rounding in SQL."""
    return F.floor(col * F.lit(float(10**scale)) + F.lit(0.5)).cast("long")


# Spark plans ORDER BY ... LIMIT k as one TakeOrderedAndProject for k
# below this (spark.sql.execution.topKSortFallbackThreshold's default)
_TOP_K_MAX = 2**31 - 16


def sql_string(s: str) -> str:
    """Any string as a SQL string literal with nothing to escape: its
    UTF-8 bytes as a hex binary literal, cast back to string (Catalyst
    folds it to a plain literal)."""
    return f"CAST(X'{s.encode().hex()}' AS STRING)"


def _q5_sql(descending: bool) -> str:
    """Q5 canonical total order: (ts, series, value), direction per op."""
    if descending:
        return "ts DESC, series ASC, value DESC"
    return "ts ASC, series ASC, value ASC"


# --------------------------------------------------------------------------
# scans (A6-A12, A34): SQL builders, and the operators that compose them
# --------------------------------------------------------------------------


def selection_sql(
    src: str,
    cols: str,
    ids: Sequence[str] = (),
    ts_from: int | None = None,
    ts_to: int | None = None,
    *,
    where: Sequence[str] = (),
    hint: str = "",
) -> str:
    """THE selection every scan starts from, as a FROM source: ``cols``
    of ``src`` whose series is one of ``ids`` (A33; all series when
    empty) with ``ts_from <= ts <= ts_to`` (both inclusive, either
    optional), plus the caller's ``where`` predicates. ``hint`` goes on
    this SELECT itself, so it applies to the selection, not to what is
    built on top of it."""
    preds = list(where)
    if ids:
        preds.append(f"series IN ({', '.join(sql_string(s) for s in ids)})")
    if ts_from is not None:
        preds.append(f"ts >= {int(ts_from)}")
    if ts_to is not None:
        preds.append(f"ts <= {int(ts_to)}")
    if not preds and not hint:
        return src
    cond = f" WHERE {' AND '.join(preds)}" if preds else ""
    return f"(SELECT {hint}{cols} FROM {src}{cond})"


def top_n_sql(
    src: str, cols: str, n: int, ids: Sequence[str], *, descending: bool
) -> str:
    """Per-series top-n (A6/A8) over the FROM source ``src``, in Q5
    order. Quirk Q4: k distinct ids return at most n*k rows, so a LIMIT
    of n*k changes no row or order, but it plans the final sort as one
    TakeOrderedAndProject instead of a range exchange. Without ids
    (every series), for a negative n (Spark rejects a negative LIMIT)
    or past Spark's top-K threshold it is left off."""
    order = _q5_sql(descending)
    bound = n * len(set(ids))
    limit = f" LIMIT {bound}" if ids and 0 <= bound < _TOP_K_MAX else ""
    return (
        f"SELECT {cols} FROM ("
        f"SELECT {cols}, ROW_NUMBER() OVER (PARTITION BY series ORDER BY {order})"
        f" AS __rn FROM {src}) WHERE __rn <= {int(n)} ORDER BY {order}{limit}"
    )


def ordered_sql(src: str, cols: str) -> str:
    """The FROM source ``src`` in Q5 order, newest first (A10/A11)."""
    return f"SELECT {cols} FROM {src} ORDER BY {_q5_sql(descending=True)}"


def _cols(points: DataFrame) -> str:
    return ", ".join(f"`{c}`" for c in points.columns)


def _over(points: DataFrame, query: str) -> DataFrame:
    """``query`` (whose FROM source is ``{points}``) as one statement."""
    return sql_over(points.sparkSession, query, points=points)


def last_n(points: DataFrame, ids: Sequence[str], n: int) -> DataFrame:
    """A6: newest ``n`` points per series (per-series limit — quirk Q4:
    k ids return up to n*k points), globally sorted desc(ts).
    Reference: src/timeseries.re:471-478, 513-518."""
    cols = _cols(points)
    sel = selection_sql("{points}", cols, ids)
    return _over(points, top_n_sql(sel, cols, n, ids, descending=True))


def latest(points: DataFrame, ids: Sequence[str]) -> DataFrame:
    """A7: alias last/1 (reference src/timeseries.re:521-523)."""
    return last_n(points, ids, 1)


def first_n(points: DataFrame, ids: Sequence[str], n: int) -> DataFrame:
    """A8: oldest ``n`` per series, sorted asc(ts)
    (reference src/timeseries.re:525-540)."""
    cols = _cols(points)
    sel = selection_sql("{points}", cols, ids)
    return _over(points, top_n_sql(sel, cols, n, ids, descending=False))


def earliest(points: DataFrame, ids: Sequence[str]) -> DataFrame:
    """A9: alias first/1 (reference src/timeseries.re:542-544)."""
    return first_n(points, ids, 1)


def since(points: DataFrame, ids: Sequence[str], ts_from: int) -> DataFrame:
    """A10: all points with ts >= from (inclusive), sorted desc(ts).
    The predicate pushes to the parquet scan — the Spark-native form of
    the reference's shard pruning (A12, src/timeseries.re:555-588)."""
    cols = _cols(points)
    sel = selection_sql("{points}", cols, ids, ts_from)
    return _over(points, ordered_sql(sel, cols))


def time_range(
    points: DataFrame, ids: Sequence[str], ts_from: int, ts_to: int
) -> DataFrame:
    """A11: from <= ts <= to, BOTH bounds inclusive
    (reference src/timeseries.re:608-624), sorted desc(ts)."""
    cols = _cols(points)
    sel = selection_sql("{points}", cols, ids, ts_from, ts_to)
    return _over(points, ordered_sql(sel, cols))


# --------------------------------------------------------------------------
# tag filters (A13-A15)
# --------------------------------------------------------------------------


def tag_predicate(
    names: Sequence[str], values: Sequence[str], mode: str = "equals"
) -> Column:
    """Compound tag filter (A15, reference src/shard.re:129-189).

    (name, value) pairs are grouped by name: OR within the same name,
    AND across different names. ``mode``: 'equals' (string equality) or
    'contains' (literal substring, reference src/timeseries.re:490-500).
    Points missing the tag name drop out (null semantics of
    ``element_at`` on MapType give this for free).
    """
    if len(names) != len(values):
        raise ValueError("filter name/value count mismatch")  # reference: HTTP 400
    if mode not in ("equals", "contains"):
        raise ValueError(f"unknown filter mode: {mode}")

    grouped: dict[str, list[str]] = {}
    for name, value in zip(names, values):
        grouped.setdefault(name, []).append(value)

    pred: Column | None = None
    for name, vals in grouped.items():
        tagval = F.try_element_at(F.col("tag"), F.lit(name))
        if mode == "equals":
            clause = tagval.isin(vals) if len(vals) > 1 else (tagval == vals[0])
        else:
            clause = F.lit(False)
            for v in vals:
                clause = clause | tagval.contains(v)
        pred = clause if pred is None else (pred & clause)
    assert pred is not None
    return pred


def tag_filter(
    df: DataFrame, names: Sequence[str], values: Sequence[str], mode: str = "equals"
) -> DataFrame:
    """A13/A14/A15 applied to a selection."""
    return df.where(tag_predicate(names, values, mode))


# --------------------------------------------------------------------------
# aggregates (A16-A24)
# --------------------------------------------------------------------------

AGGREGATES = ("sum", "count", "max", "min", "mean", "sd", "median")


def _agg_column(name: str) -> Column:
    # stddev semantics: Oml's `sd` is population sd (biased, /n) — pinned
    # by the 3-point fixture in tests/test_aggregates.py (SURVEY A21).
    cols = {
        "sum": F.sum("value"),
        "count": F.count("value").cast("double"),  # Q8: count returned as float
        "max": F.max("value"),
        "min": F.min("value"),
        "mean": F.avg("value"),
        "sd": F.stddev_pop("value"),
        "median": F.expr("percentile(value, 0.5)"),  # exact, not approx
    }
    if name not in cols:
        raise ValueError(f"unknown aggregate: {name}")
    return cols[name].alias(name)


def aggregate(df: DataFrame, agg: str) -> DataFrame:
    """A16-A22: one scalar aggregate over the selection (union across
    series, reference src/timeseries.re:456-469). Single-row DataFrame
    with one column named after the aggregate."""
    out = df.agg(_agg_column(agg))
    if agg == "sum":
        # Q9/A24: sum over empty selection is 0 (not null)
        out = out.select(F.coalesce(F.col("sum"), F.lit(0.0)).alias("sum"))
    return out


def aggregate_result(df: DataFrame, agg: str) -> dict[str, float]:
    """A24 result shaping: `{}` for max/min/mean/sd/median on an empty
    selection; `{"sum": 0}` / `{"count": 0}` (reference
    src/timeseries.re:436-454)."""
    row = aggregate(df, agg).collect()[0]
    val = row[agg]
    if val is None:
        return {}
    return {agg: float(val)}


# --------------------------------------------------------------------------
# delete (A25-A26)
# --------------------------------------------------------------------------


def delete_predicate(
    ids: Sequence[str],
    ts_from: int,
    ts_to: int | None = None,
    tag_names: Sequence[str] | None = None,
    tag_values: Sequence[str] | None = None,
    tag_mode: str = "equals",
) -> Column:
    """Victim predicate for delete-since / delete-range, with optional
    tag filter (reference src/timeseries.re:259-303). ``delete_rows``
    applies it precisely or with the reference's timestamp-membership
    over-delete (quirk Q2)."""
    pred = F.col("ts") >= F.lit(int(ts_from))
    if ts_to is not None:
        pred = pred & (F.col("ts") <= F.lit(int(ts_to)))
    if ids:
        pred = pred & F.col("series").isin(list(ids))
    if tag_names:
        pred = pred & tag_predicate(tag_names, tag_values or [], tag_mode)
    return pred


def delete_rows(
    points: DataFrame, predicate: Column, *, membership: bool = False
) -> DataFrame:
    """The rows that survive a delete; the engine swaps them in for the
    affected buckets (Spark's parquet equivalent of the reference's
    shard rewrite). Precise by default: exactly the ``predicate`` rows
    go. ``membership`` is quirk Q2 compat mode: the reference deletes
    every point whose (series, TIMESTAMP) appears among the victims
    (src/timeseries.re:264-268), so a tag-filtered delete also kills
    same-ts points that did not match — a left_anti join on the
    victims' (series, ts)."""
    if membership:
        victims = points.where(predicate).select("series", "ts").distinct()
        return points.join(victims, ["series", "ts"], "left_anti")
    return points.where(~predicate | predicate.isNull())


# --------------------------------------------------------------------------
# metadata / introspection (A27-A32)
# --------------------------------------------------------------------------


def length(points: DataFrame, ids: Sequence[str]) -> DataFrame:
    """A27: total point count over the listed series."""
    return for_series(points, ids).agg(F.count("*").alias("length"))


def series_names(points: DataFrame) -> DataFrame:
    """A30: distinct series names, sorted
    (reference src/timeseries.re:626-637)."""
    return points.select("series").distinct().orderBy("series")


def stats(points: DataFrame) -> DataFrame:
    """A31: per-series point counts (the engine has one unified store, so
    length == length_on_disk and length_in_memory is the streaming
    in-flight count, 0 for batch)."""
    return (
        points.groupBy("series")
        .agg(F.count("*").alias("length"))
        .withColumn("length_in_memory", F.lit(0).cast("long"))
        .withColumn("length_on_disk", F.col("length"))
        .orderBy("series")
    )


# --------------------------------------------------------------------------
# resample / gap-fill / interpolate (tsdb extension; not in the reference)
# --------------------------------------------------------------------------


def resample(
    points: DataFrame,
    every_us: int,
    *,
    fill: str | None = None,
    value_scale: int = 6,
) -> DataFrame:
    """Downsample to fixed buckets of ``every_us`` µs per series
    (bucket mean), optionally filling empty buckets.

    ``fill``: None (skip empty buckets) | 'prev' (last observation
    carried forward) | 'linear' (interpolate between neighboring
    observed buckets). The bucket grid spans each series' observed
    range, so fills are always bounded by real observations.

    Scale shape: one hash aggregate on (series, bucket); the fill pass
    is two window functions over (series, bucket) — a single shuffle,
    no Python anywhere. Bucket means use scaled-long sums
    (order-independent exact, ``value_scale`` decimal digits) so
    results are reproducible on any partitioning and oracle-matchable.
    """
    m = float(10**value_scale)
    tb = (F.col("ts") - F.pmod(F.col("ts"), F.lit(every_us))).alias("bucket_us")
    agg = points.groupBy(F.col("series"), tb).agg(
        (
            F.sum(scaled_long(F.col("value"), value_scale)).cast("double")
            / m
            / F.count("*")
        ).alias("value"),
        F.count("*").alias("n"),
    )
    if fill is None:
        return agg.orderBy("series", "bucket_us")
    if fill not in ("prev", "linear"):
        raise ValueError(f"unknown fill mode: {fill}")

    rng = agg.groupBy("series").agg(
        F.min("bucket_us").alias("lo"), F.max("bucket_us").alias("hi")
    )
    grid = rng.select(
        "series",
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.lit(every_us))
        ).alias("bucket_us"),
    )
    j = grid.join(agg, ["series", "bucket_us"], "left").select(
        "series",
        "bucket_us",
        F.col("value").alias("v"),
        F.coalesce(F.col("n"), F.lit(0)).alias("n"),
    )
    w = Window.partitionBy("series").orderBy("bucket_us")
    back = w.rowsBetween(Window.unboundedPreceding, 0)
    fwd = w.rowsBetween(0, Window.unboundedFollowing)
    prev_v = F.last("v", ignorenulls=True).over(back)
    if fill == "prev":
        out_v = F.coalesce(F.col("v"), prev_v)
    else:
        obs_b = F.when(F.col("v").isNotNull(), F.col("bucket_us"))
        prev_b = F.last(obs_b, ignorenulls=True).over(back)
        next_v = F.first("v", ignorenulls=True).over(fwd)
        next_b = F.first(obs_b, ignorenulls=True).over(fwd)
        frac = (F.col("bucket_us") - prev_b).cast("double") / (
            next_b - prev_b
        ).cast("double")
        out_v = F.when(F.col("v").isNotNull(), F.col("v")).otherwise(
            prev_v + (next_v - prev_v) * frac
        )
    return j.select(
        "series", "bucket_us", out_v.alias("value"), "n"
    ).orderBy("series", "bucket_us")


def rate(points: DataFrame) -> DataFrame:
    """Counter-reset-aware per-second rate (the PromQL ``rate``/
    ``increase`` primitive every monitoring tsdb exposes; the reference
    has only raw reads, reference src/timeseries.re:456-469 stops at
    scalar aggregates).

    Per series in ts order: ``increase`` is the successive difference,
    except when the counter went DOWN — a process restart reset it to
    zero, so the whole new value counts as the increase (the standard
    monotonic-counter correction). ``rate_per_s`` normalizes by elapsed
    wall time. Same single-shuffle window shape as :func:`delta`;
    same-timestamp successor pairs (elapsed 0) are dropped rather than
    emitting an IEEE infinity, and NULL-value rows are dropped BEFORE
    the window — a NULL is a missing sample, not a counter reset (the
    ``value >= prev`` test would otherwise read NULL-comparison false
    and fabricate a reset on the next real sample)."""
    w = Window.partitionBy("series").orderBy(F.col("ts").asc(), F.col("value").asc())
    prev_v = F.lag("value").over(w)
    prev_t = F.lag("ts").over(w)
    inc = F.when(F.col("value") >= prev_v, F.col("value") - prev_v).otherwise(
        F.col("value")
    )
    elapsed = F.col("ts") - prev_t
    out = points.where(F.col("value").isNotNull()).select(
        "series",
        "ts",
        inc.alias("increase"),
        (inc * F.lit(1_000_000.0) / elapsed.cast("double")).alias("rate_per_s"),
        elapsed.alias("elapsed_us"),
    )
    return out.where(F.col("increase").isNotNull() & (F.col("elapsed_us") > 0))


def m4(points: DataFrame, every_us: int) -> DataFrame:
    """M4 visual downsampling (Jugel et al., VLDB 2014): per
    (series, time bucket) keep the first, last, minimum and maximum
    points — the four rows that make a line plot of the bucket
    pixel-exact. The classic dashboard-downsample operator (TimescaleDB
    / InfluxDB expose the same shape); emitted wide, one row per bucket.

    Ties are resolved by lexicographic struct comparison — (ts, value)
    for first/last, (value, ts) for min/max — so the selection is
    deterministic on any partitioning, and the DuckDB oracle replicates
    it with the same struct-min/max. One hash aggregate with map-side
    partials; nothing buffers a full series anywhere."""
    bucket = (F.col("ts") - F.pmod(F.col("ts"), F.lit(every_us))).alias("bucket_us")
    tv = F.struct(F.col("ts").alias("t"), F.col("value").alias("v"))
    vt = F.struct(F.col("value").alias("v"), F.col("ts").alias("t"))
    g = points.groupBy(F.col("series"), bucket).agg(
        F.min(tv).alias("f"),
        F.max(tv).alias("l"),
        F.min(vt).alias("lo"),
        F.max(vt).alias("hi"),
    )
    return g.select(
        "series",
        "bucket_us",
        F.col("f.t").alias("t_first"),
        F.col("f.v").alias("v_first"),
        F.col("l.t").alias("t_last"),
        F.col("l.v").alias("v_last"),
        F.col("lo.t").alias("t_min"),
        F.col("lo.v").alias("v_min"),
        F.col("hi.t").alias("t_max"),
        F.col("hi.v").alias("v_max"),
    )


def delta(points: DataFrame, *, per_second: bool = False) -> DataFrame:
    """Per-series successive differences (counter delta), optionally
    normalized to a per-second rate over the elapsed µs. First point of
    each series has no predecessor and is dropped. One window shuffle on
    (series, ts); ties broken by value for determinism (Q5 canonical
    order)."""
    w = Window.partitionBy("series").orderBy(F.col("ts").asc(), F.col("value").asc())
    prev_v = F.lag("value").over(w)
    prev_t = F.lag("ts").over(w)
    d = F.col("value") - prev_v
    out = points.select(
        "series",
        "ts",
        (
            (d * F.lit(1_000_000.0) / (F.col("ts") - prev_t).cast("double"))
            if per_second
            else d
        ).alias("delta"),
        (F.col("ts") - prev_t).alias("elapsed_us"),
    )
    return out.where(F.col("delta").isNotNull())


def ewma(points: DataFrame, *, window: int = 20, value_scale: int = 6) -> DataFrame:
    """Per-series exponentially weighted moving average with halving
    weights (α = 1/2), truncated to the last ``window`` observations —
    the tsdb smoothing primitive (trend lines, alert damping) in an
    ENGINE-EXACT form: within each frame the weights are the integer
    powers ``2^i`` (i = position, oldest = 0), so the weighted sum is
    ``Σ x_scaled << i`` — exact longs, no float pow, no order
    sensitivity — and the denominator is ``2^m − 1`` for the m rows
    actually in the frame (series heads are correctly renormalized,
    the pandas ``adjust=True`` convention). The one double is the
    final ``num / den / 10^scale`` divide pair, mirrored verbatim by
    a SQL oracle (lag weights restated as ``<< (rn_j − rn_i + m − 1)``
    over a self-window). Truncation at ``window=20`` discards weight
    2^-20 ≈ 1e-6 of the untruncated recurrence — at or under the
    value quantum.

    int64 headroom: |x|·10^scale · 2^window · window < 2^63 — the
    default (1e6 scale, 20 lags) is safe to |value| ≈ 4e8.

    Returns (series, ts, value, ewma). One window shuffle on
    (series, ts); ties broken by value (Q5 canonical order); the
    whole weighted fold is row-local codegen over the collected
    frame array.
    """
    if not 1 <= window <= 40:
        raise ValueError(f"window must be in 1..40: {window}")
    q = 10**value_scale
    w = (
        Window.partitionBy("series")
        .orderBy(F.col("ts").asc(), F.col("value").asc())
        .rowsBetween(-(window - 1), 0)
    )
    arr = F.collect_list(scaled_long(F.col("value"), value_scale)).over(w)
    num = F.expr(
        "aggregate(transform(_arr, (v, i) -> shiftleft(v, i)), "
        "CAST(0 AS BIGINT), (a, x) -> a + x)"
    )
    den = F.expr("shiftleft(CAST(1 AS BIGINT), size(_arr)) - 1")
    return (
        points.select("series", "ts", "value", arr.alias("_arr"))
        .select(
            "series",
            "ts",
            "value",
            (
                num.cast("double") / den.cast("double") / F.lit(float(q))
            ).alias("ewma"),
        )
    )


def autocorr(points: DataFrame, lag: int = 1, *, value_scale: int = 2) -> DataFrame:
    """Per-series lag-``k`` autocorrelation: Pearson r between the
    series and itself shifted ``lag`` observations forward in ts order
    — THE seasonality/persistence screen (flat ≈ white noise, high
    lag-1 ≈ trending/sticky, high lag-24h-worth ≈ daily cycle) run
    before fitting anything heavier.

    Exactness (the corr_quantity_price pattern, see queries.py
    _pearson_r): each value is quantized once to an exact long
    (``round(value·10^scale)``), the six pair sufficient statistics
    accumulate as order-independent int64 sums, and the final r is one
    deterministic IEEE expression tree — so a statistic that is
    normally merge-order noise is engine-exact. Pairing is total-order
    deterministic: (ts, value) ordering within a series (ties on bare
    ts would make neighbor pairing ambiguous across engines).

    Scale: one window shuffle on the series key (the same partitioning
    every per-series ts operator here reuses), then a map-side-combined
    hash agg to |series| rows. int64 bounds: |x| <= ~5e4 at scale=2, so
    sx2 stays in-range past 1e9 points per series; coarsen value_scale
    for hotter series."""
    if lag < 1:
        raise ValueError(f"lag must be >= 1: {lag}")
    x = scaled_long(F.col("value"), value_scale)
    # tie-break on the quantized x (monotone-injective in the quantized
    # value domain, so identical to ordering by value — and the same
    # column the oracle's LEAD window orders by)
    w = Window.partitionBy("series").orderBy(F.col("ts").asc(), F.col("x").asc())
    d = (
        points.select("series", "ts", "value")
        .select("series", "ts", x.alias("x"))
        .withColumn("y", F.lead("x", lag).over(w))
        .where(F.col("y").isNotNull())
    )
    s = d.groupBy("series").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
        F.sum(F.col("y") * F.col("y")).alias("sy2"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sx2, sy2 = F.col("sx2").cast("double"), F.col("sy2").cast("double")
    r = (nd * sxy - sx * sy) / F.nullif(
        F.sqrt(nd * sx2 - sx * sx) * F.sqrt(nd * sy2 - sy * sy), F.lit(0.0)
    )
    return s.select("series", "n", r.alias("autocorr")).orderBy("series")


def cusum_changepoint(points: DataFrame, *, value_scale: int = 2) -> DataFrame:
    """Per-series CUSUM changepoint screen (Page 1954): the point where
    the cumulative deviation from the series' global mean peaks — the
    standard single-changepoint location statistic (a level shift at t
    makes |Σ_{j<=i}(x_j - mean)| a tent with its apex at t; white noise
    stays near zero). Run before fitting segmented models, and as the
    drift alarm on ingest monitoring.

    Exactness (the autocorr pattern): values quantize ONCE to exact
    longs, and the deviation sum is kept INTEGER by multiplying
    through by n — D_i = n·P_i − i·T (P = prefix sum, T = total) — so
    the argmax is over exact int64s, never accumulated floats; ties
    break (ts, quantized-x) like every per-series window here. The
    reported ``magnitude`` is one IEEE division at the end:
    max|D| / (n·10^scale) = the peak cumulative deviation in original
    value units.

    Output: (series, n, cp_ts, cusum_abs, magnitude), one row per
    series. Scale: one window shuffle on the series key + a broadcast
    totals join + one argmax window over the same partitioning — no
    second shuffle. int64 bounds: n·P_i <= n²·max|x|·10^scale — at
    scale=2 and |x|<=5e4 that holds past 40M points per series;
    coarsen ``value_scale`` beyond.
    """
    x = scaled_long(F.col("value"), value_scale)
    w = Window.partitionBy("series").orderBy(F.col("ts").asc(), F.col("x").asc())
    c = (
        points.select("series", "ts", x.alias("x"))
        .withColumn("i", F.row_number().over(w).cast("long"))
        .withColumn(
            "p", F.sum("x").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
    )
    t = c.groupBy("series").agg(
        F.sum("x").alias("tot"), F.count(F.lit(1)).alias("n")
    )
    d = c.join(F.broadcast(t), "series").select(
        "series",
        "ts",
        "i",
        "n",
        F.abs(F.col("n") * F.col("p") - F.col("i") * F.col("tot")).alias("ad"),
    )
    wr = Window.partitionBy("series").orderBy(
        F.col("ad").desc(), F.col("ts").asc(), F.col("i").asc()
    )
    return (
        d.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == 1)
        .select(
            "series",
            "n",
            F.col("ts").alias("cp_ts"),
            F.col("ad").alias("cusum_abs"),
            (
                F.col("ad").cast("double")
                / (F.col("n") * F.lit(10**value_scale)).cast("double")
            ).alias("magnitude"),
        )
        .orderBy("series")
    )


def linreg_trend(
    points: DataFrame, *, value_scale: int = 2, x_unit_us: int = 1_000_000
) -> DataFrame:
    """Per-series ordinary-least-squares trend line: slope and
    intercept of value over elapsed time — the linear drift estimator
    every monitoring tsdb fits for capacity forecasting ("disk full in
    N days") and detrending before seasonal analysis.

    Exactness (the autocorr/cusum pattern): the regressor is integer
    elapsed time ``x = (ts − min(ts) per series) DIV x_unit_us`` and
    the response quantizes once to an exact long, so the five
    sufficient statistics (n, Σx, Σy, Σxy, Σx²) accumulate as
    order-independent int64 sums; slope and intercept are then one
    deterministic IEEE expression tree each —
    ``slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²)`` and
    ``intercept = (ΣyΣx² − ΣxΣxy)/(nΣx² − (Σx)²)`` — divided by
    ``10^value_scale`` back to original value units. Slope is per
    x-unit (per second at the default); intercept is the fitted value
    at the series' first timestamp. Constant-x series (all points in
    one x quantum) return NULL slope/intercept via NULLIF.

    Scale: one window shuffle on the series key (the per-series MIN is
    a window over the same partitioning every ts operator reuses),
    then a map-side-combined hash agg to |series| rows. int64 bounds:
    Σx² ≤ n·span² where span is the series duration in x-units — at
    seconds granularity that holds to ~1e6 points over a 30-day
    series; coarsen ``x_unit_us`` (minutes: 60_000_000) for longer or
    denser series, exactly like ``value_scale`` on hot values.
    """
    if x_unit_us < 1:
        raise ValueError(f"x_unit_us must be >= 1: {x_unit_us}")
    y = scaled_long(F.col("value"), value_scale)
    d = points.select("series", "ts", y.alias("y")).select(
        "series",
        F.expr(f"(ts - min(ts) OVER (PARTITION BY series)) DIV {x_unit_us}").alias(
            "x"
        ),
        "y",
    )
    s = d.groupBy("series").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sx2 = F.col("sxy").cast("double"), F.col("sx2").cast("double")
    denom = F.nullif(nd * sx2 - sx * sx, F.lit(0.0))
    m = float(10**value_scale)
    return s.select(
        "series",
        "n",
        ((nd * sxy - sx * sy) / denom / F.lit(m)).alias("slope"),
        ((sy * sx2 - sx * sxy) / denom / F.lit(m)).alias("intercept"),
    ).orderBy("series")


def lttb(points: DataFrame, every_us: int, *, value_scale: int = 6) -> DataFrame:
    """Triangle-area visual downsampling — the parallel bucket-average
    variant of LTTB (Steinarsson 2014): per (series, time bucket) keep
    the single point forming the largest triangle with the NEIGHBOR
    BUCKETS' average points. The classic LTTB anchors on the previously
    *selected* point, a sequential dependency that cannot fan out; the
    thesis' own precomputation (bucket averages as the third vertex)
    drops that chain, so every bucket scores independently — two hash
    aggregates and two windows, no recursion, the form that runs on a
    1000-executor cluster.

    Determinism / oracle parity: bucket averages use an exact int64
    ts-sum and a scaled-long value-sum, and the area expression is one
    fixed IEEE tree, so both engines score identically; ties break on
    (ts, value). Endpoint rule: a series' first non-empty bucket keeps
    its first point, the last keeps its last point (no neighbor to
    anchor on), like LTTB keeps the global endpoints.

    Overflow note: SUM(ts) per bucket is exact int64 up to ~5e3 points
    per (series, hour) at epoch-microsecond magnitudes; beyond that,
    pre-aggregate to finer buckets first or sum (ts - bucket_us).
    Returns one row per non-empty bucket: (series, bucket_us, ts,
    value)."""
    m = float(10**value_scale)
    bucket = (F.col("ts") - F.pmod(F.col("ts"), F.lit(every_us))).alias("bucket_us")
    b = points.select("series", bucket, "ts", "value")
    ag = b.groupBy("series", "bucket_us").agg(
        (F.sum("ts").cast("double") / F.count(F.lit(1))).alias("avg_t"),
        (
            F.sum(scaled_long(F.col("value"), value_scale)).cast("double")
            / F.lit(m)
            / F.count(F.lit(1))
        ).alias("avg_v"),
    )
    w = Window.partitionBy("series").orderBy("bucket_us")
    n = ag.select(
        "series",
        "bucket_us",
        F.lag("avg_t").over(w).alias("lt"),
        F.lag("avg_v").over(w).alias("lv"),
        F.lead("avg_t").over(w).alias("rt"),
        F.lead("avg_v").over(w).alias("rv"),
    )
    s = b.join(n, ["series", "bucket_us"])
    area = F.abs(
        (F.col("lt") - F.col("rt")) * (F.col("value") - F.col("lv"))
        - (F.col("lt") - F.col("ts").cast("double")) * (F.col("rv") - F.col("lv"))
    )
    interior = F.col("lt").isNotNull() & F.col("rt").isNotNull()
    last_b = F.col("rt").isNull() & F.col("lt").isNotNull()
    rn = F.row_number().over(
        Window.partitionBy("series", "bucket_us").orderBy(
            F.when(interior, area).desc_nulls_last(),  # interior: max area
            F.when(last_b, F.col("ts")).desc_nulls_last(),  # last: max ts
            F.col("ts").asc(),  # first/single bucket: min ts; also tiebreak
            F.col("value").asc(),
        )
    )
    return (
        s.withColumn("rn", rn)
        .where(F.col("rn") == 1)
        .select("series", "bucket_us", "ts", "value")
    )
