"""Semantics-pinning tests for SURVEY.md §2 Part A operators, using the
reference's own fixture data (butterflies/honeybees)."""

from __future__ import annotations

import pytest

from nibbledb_spark.operators import timeseries as ts

T0 = 1439856000000000
T1 = 1439856360000000
T2 = 1439877240000000
T3 = 1439877600000000
T4 = 1439877960000000
T5 = 1439878320000000


def rows(df):
    return [(r["series"], r["ts"], r["value"]) for r in df.collect()]


# -- scans -------------------------------------------------------------------


def test_last_n_per_series_limit(fixture_points):
    # Q4: k ids => up to n*k points (per-series limit, not global)
    out = ts.last_n(fixture_points, ["butterflies", "honeybees"], 3)
    got = rows(out)
    assert len(got) == 6
    # globally sorted desc(ts)
    assert [t for (_, t, _) in got] == sorted([t for (_, t, _) in got], reverse=True)
    assert {s for (s, _, _) in got} == {"butterflies", "honeybees"}


def test_last_n_single_series(fixture_points):
    got = rows(ts.last_n(fixture_points, ["butterflies"], 2))
    assert got == [("butterflies", T5, 7.0), ("butterflies", T4, 8.0)]


def test_latest_earliest(fixture_points):
    assert rows(ts.latest(fixture_points, ["butterflies"])) == [
        ("butterflies", T5, 7.0)
    ]
    # earliest with same-ts collision: canonical order picks min value
    assert rows(ts.earliest(fixture_points, ["butterflies"])) == [
        ("butterflies", T0, 1.0)
    ]


def test_first_n_sorted_asc(fixture_points):
    got = rows(ts.first_n(fixture_points, ["honeybees"], 3))
    assert [t for (_, t, _) in got] == [T0, T0, T1]


def test_since_inclusive(fixture_points):
    got = rows(ts.since(fixture_points, ["butterflies"], T3))
    assert [t for (_, t, _) in got] == [T5, T4, T3]  # T3 inclusive


def test_range_both_bounds_inclusive(fixture_points):
    got = rows(ts.time_range(fixture_points, ["butterflies"], T1, T4))
    assert {t for (_, t, _) in got} == {T1, T2, T3, T4}


def test_multi_series_union(fixture_points):
    got = rows(ts.since(fixture_points, ["butterflies", "honeybees"], T4))
    assert len(got) == 4  # 2 per series
    assert [t for (_, t, _) in got] == [T5, T5, T4, T4]


# -- tag filters --------------------------------------------------------------


def test_tag_equals(fixture_points):
    sel = ts.tag_filter(
        fixture_points.where("series = 'butterflies'"), ["scientist"], ["perpetua"]
    )
    assert sorted(v for (_, _, v) in rows(sel)) == [1.0, 3.0, 7.0, 8.0]


def test_tag_contains(fixture_points):
    sel = ts.tag_filter(
        fixture_points.where("series = 'butterflies'"),
        ["scientist"],
        ["lang"],
        mode="contains",
    )
    assert sorted(v for (_, _, v) in rows(sel)) == [1.0, 2.0, 11.0, 12.0]


def test_tag_or_within_name(fixture_points):
    # A15: same name repeated => OR
    sel = ts.tag_filter(
        fixture_points.where("series = 'butterflies'"),
        ["scientist", "scientist"],
        ["langstroth", "perpetua"],
    )
    assert sel.count() == 8


def test_tag_and_across_names(fixture_points):
    # A15: different names => AND
    sel = ts.tag_filter(
        fixture_points.where("series = 'butterflies'"),
        ["location", "scientist"],
        ["2", "perpetua"],
    )
    assert sorted(v for (_, _, v) in rows(sel)) == [7.0, 8.0]


def test_tag_missing_name_drops_points(fixture_points, spark):
    from nibbledb_spark.schema import POINT_SCHEMA

    extra = spark.createDataFrame([("butterflies", T0, None, 99.0)], POINT_SCHEMA)
    sel = ts.tag_filter(
        fixture_points.unionByName(extra), ["scientist"], ["perpetua"]
    )
    assert 99.0 not in {v for (_, _, v) in rows(sel)}


def test_tag_count_mismatch_rejected():
    with pytest.raises(ValueError):
        ts.tag_predicate(["a", "b"], ["1"])


# -- aggregates ----------------------------------------------------------------


def test_all_aggregates(fixture_points):
    b = fixture_points.where("series = 'butterflies'")
    assert ts.aggregate_result(b, "sum") == {"sum": 45.0}
    assert ts.aggregate_result(b, "count") == {"count": 8.0}  # Q8: float
    assert ts.aggregate_result(b, "max") == {"max": 12.0}
    assert ts.aggregate_result(b, "min") == {"min": 1.0}
    assert ts.aggregate_result(b, "mean") == {"mean": 5.625}
    med = ts.aggregate_result(b, "median")["median"]
    assert med == 5.0  # values 1,1,2,3,7,8,11,12 -> (3+7)/2
    sd = ts.aggregate_result(b, "sd")["sd"]
    assert sd == pytest.approx(4.18143, abs=1e-4)  # population sd


def test_sd_population_semantics(spark):
    # A21 fixture: [2,4,9] sample sd=3.6056, population sd=2.9439.
    # Pinned: population (Oml.Statistics.Descriptive.sd is biased /n).
    from nibbledb_spark.schema import POINT_SCHEMA

    df = spark.createDataFrame(
        [("s", 1, None, 2.0), ("s", 2, None, 4.0), ("s", 3, None, 9.0)], POINT_SCHEMA
    )
    assert ts.aggregate_result(df, "sd")["sd"] == pytest.approx(2.94392, abs=1e-5)


def test_empty_selection_shapes(fixture_points):
    # Q9/A24: {} for max/min/mean/sd/median; sum=0, count=0
    empty = fixture_points.where("series = 'nope'")
    assert ts.aggregate_result(empty, "max") == {}
    assert ts.aggregate_result(empty, "median") == {}
    assert ts.aggregate_result(empty, "sum") == {"sum": 0.0}
    assert ts.aggregate_result(empty, "count") == {"count": 0.0}


def test_union_aggregate_across_series(fixture_points):
    # A33: aggregates computed over the multi-series union
    got = ts.aggregate_result(
        ts.for_series(fixture_points, ["butterflies", "honeybees"]), "sum"
    )
    assert got == {"sum": 45.0 + 181.0}


def test_filtered_aggregate(fixture_points):
    # A23 documented semantics: true equality + aggregate
    sel = ts.tag_filter(
        ts.for_series(fixture_points, ["butterflies"]), ["scientist"], ["langstroth"]
    )
    assert ts.aggregate_result(sel, "sum") == {"sum": 26.0}


# -- delete (predicate level) ---------------------------------------------------


def test_delete_rows_precise(fixture_points):
    pred = ts.delete_predicate(["butterflies"], T4, None, ["scientist"], ["perpetua"])
    surv = ts.delete_rows(fixture_points, pred)
    assert surv.count() == 14  # drops exactly the 2 perpetua points >= T4


def test_compat_delete_membership(fixture_points, spark):
    # Q2: same-ts point NOT matching the tag filter is also deleted
    pred = ts.delete_predicate(["butterflies"], T0, T0, ["scientist"], ["perpetua"])
    surv = ts.delete_rows(fixture_points, pred, membership=True)
    victims = fixture_points.join(surv, ["series", "ts"], "left_anti")
    # both T0 butterflies points share the timestamp -> both are victims
    assert victims.where("series = 'butterflies'").count() == 2
    assert surv.count() == fixture_points.count() - 2


# -- metadata -------------------------------------------------------------------


def test_names_and_stats(fixture_points):
    assert [r["series"] for r in ts.series_names(fixture_points).collect()] == [
        "butterflies",
        "honeybees",
    ]
    st = {r["series"]: r["length"] for r in ts.stats(fixture_points).collect()}
    assert st == {"butterflies": 8, "honeybees": 8}


def test_resample_fill_modes(spark):
    from nibbledb_spark.operators import timeseries as ts_ops
    from nibbledb_spark.schema import POINT_SCHEMA

    pts = spark.createDataFrame(
        [("s", 0, None, 10.0), ("s", 25, None, 20.0), ("s", 45, None, 40.0)],
        POINT_SCHEMA,
    )
    # buckets of 10µs: observed at 0, 20, 40 -> gaps at 10, 30
    none = ts_ops.resample(pts, 10).collect()
    assert [(r["bucket_us"], r["value"], r["n"]) for r in none] == [
        (0, 10.0, 1), (20, 20.0, 1), (40, 40.0, 1),
    ]
    prev = ts_ops.resample(pts, 10, fill="prev").collect()
    assert [(r["bucket_us"], r["value"], r["n"]) for r in prev] == [
        (0, 10.0, 1), (10, 10.0, 0), (20, 20.0, 1), (30, 20.0, 0), (40, 40.0, 1),
    ]
    lin = ts_ops.resample(pts, 10, fill="linear").collect()
    assert [(r["bucket_us"], r["value"]) for r in lin] == [
        (0, 10.0), (10, 15.0), (20, 20.0), (30, 30.0), (40, 40.0),
    ]


def test_asof_join_directions(spark):
    from nibbledb_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("k", 10), ("k", 25), ("k", 40)], "k string, ts long"
    )
    right = spark.createDataFrame(
        [("k", 5, 1.0), ("k", 20, 2.0), ("k", 41, 3.0)], "k string, ts long, v double"
    )

    def vals(direction):
        out = asof_join(left, right, ["k"], direction=direction)
        return {r["ts"]: r["v_asof"] for r in out.collect()}

    assert vals("backward") == {10: 1.0, 25: 2.0, 40: 2.0}
    assert vals("forward") == {10: 2.0, 25: 3.0, 40: 3.0}
    # nearest: 10 -> 5 (d5) vs 20 (d10) => 1.0; 25 -> 20 (d5) vs 41 (d16)
    # => 2.0; 40 -> 20 (d20) vs 41 (d1) => 3.0
    assert vals("nearest") == {10: 1.0, 25: 2.0, 40: 3.0}
    # equal-ts inclusivity both directions
    eq = spark.createDataFrame([("k", 20)], "k string, ts long")
    assert asof_join(eq, right, ["k"], direction="backward").collect()[0]["v_asof"] == 2.0
    assert asof_join(eq, right, ["k"], direction="forward").collect()[0]["v_asof"] == 2.0


def test_rate_counter_reset_semantics(spark):
    """PromQL rate semantics: a counter decrease is a restart, so the
    new value is the whole increase; same-timestamp pairs drop instead
    of dividing by zero."""
    # nullable value on purpose: the canonical POINT_SCHEMA forbids NULL
    # values, but external sources (raw events, wire payloads) can carry
    # them, and rate() must not read one as a counter reset
    pts = spark.createDataFrame(
        [
            ("c", 0, 5.0),
            ("c", 5_000_000, None),   # missing sample: ignored, NOT a reset
            ("c", 10_000_000, 8.0),   # +3 over 10s (NULL row invisible)
            ("c", 20_000_000, 2.0),   # reset: increase = 2
            ("c", 20_000_000, 2.5),   # same-ts successor -> dropped
        ],
        "series string, ts long, value double",
    )
    out = {r["ts"]: r for r in ts.rate(pts).collect()}
    assert set(out) == {10_000_000, 20_000_000}
    assert out[10_000_000]["increase"] == 3.0  # not a fabricated reset of 8.0
    assert out[10_000_000]["rate_per_s"] == pytest.approx(0.3)
    assert out[20_000_000]["increase"] == 2.0  # not -6
    assert out[20_000_000]["rate_per_s"] == pytest.approx(0.2)


def test_m4_selects_extremes(spark):
    """M4: per bucket the first/last/min/max points with their real
    timestamps; ties resolved by the lexicographic struct order."""
    from nibbledb_spark.schema import POINT_SCHEMA

    pts = spark.createDataFrame(
        [
            ("m", 1_000_000, None, 4.0),
            ("m", 2_000_000, None, 9.0),   # max
            ("m", 3_000_000, None, 1.0),   # min
            ("m", 4_000_000, None, 6.0),   # last
            ("m", 60_000_000, None, 5.0),  # second bucket
        ],
        POINT_SCHEMA,
    )
    out = {r["bucket_us"]: r for r in ts.m4(pts, 60_000_000).collect()}
    b0 = out[0]
    assert (b0["t_first"], b0["v_first"]) == (1_000_000, 4.0)
    assert (b0["t_last"], b0["v_last"]) == (4_000_000, 6.0)
    assert (b0["t_min"], b0["v_min"]) == (3_000_000, 1.0)
    assert (b0["t_max"], b0["v_max"]) == (2_000_000, 9.0)
    b1 = out[60_000_000]
    assert b1["t_first"] == b1["t_last"] == 60_000_000


def test_lttb_downsample_semantics(spark):
    """lttb picks, per (series, bucket), the point with the largest
    triangle against the neighbor-bucket averages — verified against a
    brute-force numpy recomputation on a planted fixture; first/last
    buckets keep their first/last point; exactly one row per non-empty
    bucket."""
    import numpy as np

    from nibbledb_spark.operators.timeseries import lttb

    W = 100
    rows = []
    rng = np.random.default_rng(7)
    for b in range(5):  # 5 buckets, 6 points each, bucket 3 is empty
        if b == 3:
            continue
        for j in range(6):
            rows.append(("s", b * W + 10 + j * 15, float(rng.integers(-50, 50))))
    pts = spark.createDataFrame(rows, "series string, ts long, value double")
    out = {r["bucket_us"]: (r["ts"], r["value"]) for r in lttb(pts, W).collect()}
    assert set(out) == {0, 100, 200, 400}  # one row per NON-EMPTY bucket

    data = {}
    for s, t, v in rows:
        data.setdefault(t // W * W, []).append((t, v))
    avgs = {
        b: (sum(t for t, _ in ps) / len(ps), sum(v for _, v in ps) / len(ps))
        for b, ps in data.items()
    }
    order = sorted(data)
    assert out[order[0]] == data[order[0]][0]  # first bucket -> first point
    assert out[order[-1]] == data[order[-1]][-1]  # last bucket -> last point
    for i in (1, 2):  # interior buckets (neighbors = prev/next NON-EMPTY)
        b = order[i]
        (lt, lv), (rt, rv) = avgs[order[i - 1]], avgs[order[i + 1]]
        best = max(
            data[b],
            key=lambda p: (abs((lt - rt) * (p[1] - lv) - (lt - p[0]) * (rv - lv)), -p[0]),
        )
        assert out[b] == best, b


def test_autocorr_known_sequences(spark):
    """Lag-1 autocorrelation pins: a perfectly alternating series is
    exactly -1, a linear ramp is strongly positive and matches numpy's
    corrcoef of the shifted pair, a constant series is NULL (zero
    variance guard), and lag=2 on the alternating series is +1."""
    import numpy as np

    from nibbledb_spark.operators.timeseries import autocorr

    alt = [(i, 1.0 if i % 2 == 0 else 2.0) for i in range(40)]
    ramp = [(i, float(i)) for i in range(40)]
    const = [(i, 7.0) for i in range(40)]
    rows = (
        [("alt", t * 1000, v) for t, v in alt]
        + [("ramp", t * 1000, v) for t, v in ramp]
        + [("const", t * 1000, v) for t, v in const]
    )
    pts = spark.createDataFrame(rows, "series string, ts long, value double")
    out = {r["series"]: r for r in autocorr(pts, 1).collect()}
    assert out["alt"]["n"] == 39
    assert abs(out["alt"]["autocorr"] + 1.0) < 1e-12
    assert out["const"]["autocorr"] is None
    x = np.array([v for _, v in ramp])
    exp = np.corrcoef(x[:-1], x[1:])[0, 1]
    assert abs(out["ramp"]["autocorr"] - exp) < 1e-9
    out2 = {r["series"]: r for r in autocorr(pts, 2).collect()}
    assert abs(out2["alt"]["autocorr"] - 1.0) < 1e-12
    assert out2["alt"]["n"] == 38
    import pytest as _pytest

    with _pytest.raises(ValueError, match="lag"):
        autocorr(pts, 0)


def test_linreg_trend_recovers_planted_line(spark):
    """OLS trend pins: a series generated as value = a + b·seconds is
    recovered exactly (slope b, intercept a — quantization-exact since
    the planted values are 2-dp); a constant series has slope exactly 0
    and intercept equal to the constant; a single-x-quantum series
    (zero x variance) returns NULL coefficients; the x origin is the
    series' own first timestamp, so a late-starting series fits the
    same line as an epoch-aligned one."""
    from nibbledb_spark.operators.timeseries import linreg_trend

    us = 1_000_000
    line = [(i * us, 5.25 + 0.5 * i) for i in range(50)]
    late = [((i + 1000) * us, 5.25 + 0.5 * i) for i in range(50)]
    const = [(i * us, 7.75) for i in range(50)]
    onequantum = [(i, 1.0 + i) for i in range(5)]  # all ts < 1 second
    rows = (
        [("line", t, v) for t, v in line]
        + [("late", t, v) for t, v in late]
        + [("const", t, v) for t, v in const]
        + [("oneq", t, float(v)) for t, v in onequantum]
    )
    pts = spark.createDataFrame(rows, "series string, ts long, value double")
    out = {r["series"]: r for r in linreg_trend(pts).collect()}

    assert out["line"]["n"] == 50
    assert out["line"]["slope"] == pytest.approx(0.5, abs=1e-12)
    assert out["line"]["intercept"] == pytest.approx(5.25, abs=1e-12)
    # elapsed-time origin: identical fit regardless of epoch offset
    assert out["late"]["slope"] == out["line"]["slope"]
    assert out["late"]["intercept"] == out["line"]["intercept"]
    assert out["const"]["slope"] == 0.0
    assert out["const"]["intercept"] == pytest.approx(7.75, abs=1e-12)
    assert out["oneq"]["slope"] is None
    assert out["oneq"]["intercept"] is None
    with pytest.raises(ValueError, match="x_unit_us"):
        linreg_trend(pts, x_unit_us=0)


def test_cusum_changepoint_locates_planted_shift(spark):
    """CUSUM pins: a level shift at t=25 of a 60-point series puts the
    cusum apex exactly at the last pre-shift point (t=24, the classic
    tent apex); magnitude equals the numpy max |cumdev| to quantization;
    a constant series has cusum_abs == 0."""
    import numpy as np

    from nibbledb_spark.operators.timeseries import cusum_changepoint

    shift = [(i, 10.0 if i < 25 else 14.0) for i in range(60)]
    const = [(i, 3.25) for i in range(60)]
    rows = (
        [("shift", t * 1000, v) for t, v in shift]
        + [("const", t * 1000, v) for t, v in const]
    )
    pts = spark.createDataFrame(rows, "series string, ts long, value double")
    out = {r["series"]: r for r in cusum_changepoint(pts).collect()}

    assert out["const"]["cusum_abs"] == 0
    assert out["shift"]["n"] == 60
    vals = np.array([v for _, v in shift])
    cumdev = np.abs(np.cumsum(vals - vals.mean()))
    apex = int(cumdev.argmax())
    assert out["shift"]["cp_ts"] == apex * 1000
    assert out["shift"]["magnitude"] == pytest.approx(cumdev.max(), abs=1e-9)
