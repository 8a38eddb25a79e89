"""TimeSeriesEngine store tests: ingest round-trip, bucket pruning,
delete rewrite, compaction invariance, index manifest."""

from __future__ import annotations

import pytest

from nibbledb_spark.schema import ValidationError
from tests.conftest import BUTTERFLIES, HONEYBEES, run_in_job_group

WIRE_BUTTERFLIES = [
    {"timestamp": t, "tag": [{k: v} for k, v in tag.items()], "value": v_}
    for (_, t, tag, v_) in BUTTERFLIES
]


def test_write_read_roundtrip(engine):
    n = engine.write("butterflies", WIRE_BUTTERFLIES)
    assert n == 8
    assert engine.length(["butterflies"]) == 8
    got = engine.last(["butterflies"], 2).collect()
    assert [r["value"] for r in got] == [7.0, 8.0]
    assert got[0]["tag"]["scientist"] == "perpetua"


def test_single_point_and_server_ts(engine):
    engine.write("s1", {"value": 42})
    row = engine.latest(["s1"]).collect()[0]
    assert row["value"] == 42.0
    assert row["ts"] > 1_700_000_000_000_000  # server-assigned µs epoch


def test_strict_mode_rejects_reordered_fields(spark, tmp_path):
    from nibbledb_spark.engine import TimeSeriesEngine

    eng = TimeSeriesEngine(spark, str(tmp_path / "s"), strict_ingest=True)
    with pytest.raises(ValidationError):  # Q3: {value, timestamp} order rejected
        eng.write("s", {"value": 1, "timestamp": 1439856000000000})
    eng.write("s", {"timestamp": 1439856000000000, "value": 1})  # canonical order ok


def test_lenient_mode_accepts_any_order(engine):
    engine.write("s", {"value": 1, "timestamp": 1439856000000000})
    assert engine.length(["s"]) == 1


def test_unknown_key_rejected(engine):
    with pytest.raises(ValidationError):
        engine.write("s", {"value": 1, "bogus": 2})


def test_multi_series_isolation_and_names(engine):
    engine.write("butterflies", WIRE_BUTTERFLIES)
    engine.write("honeybees", [{"timestamp": t, "value": v} for (_, t, _, v) in HONEYBEES])
    assert engine.names() == ["butterflies", "honeybees"]
    assert engine.length(["butterflies"]) == 8
    assert engine.length(["butterflies", "honeybees"]) == 16
    assert engine.length() == 16
    st = {r["series"]: r["length"] for r in engine.stats().collect()}
    assert st == {"butterflies": 8, "honeybees": 8}


def test_no_dedup_on_reingest(engine):
    # Q6: re-POSTing duplicates
    engine.write("s", [{"timestamp": 1, "value": 5}])
    engine.write("s", [{"timestamp": 1, "value": 5}])
    assert engine.length(["s"]) == 2


def test_delete_range_precise(engine):
    engine.write("butterflies", WIRE_BUTTERFLIES)
    engine.delete(["butterflies"], 1439856000000000, 1439856360000000)
    assert engine.length(["butterflies"]) == 4
    remaining = {r["ts"] for r in engine.points(["butterflies"]).collect()}
    assert min(remaining) > 1439856360000000


def test_delete_tag_filtered_vs_compat(engine):
    engine.write("butterflies", WIRE_BUTTERFLIES)
    # precise: only perpetua points at T0 go
    engine.delete(
        ["butterflies"],
        1439856000000000,
        1439856000000000,
        tag_names=["scientist"],
        tag_values=["perpetua"],
    )
    assert engine.length(["butterflies"]) == 7


def test_delete_compat_membership(engine):
    engine.write("butterflies", WIRE_BUTTERFLIES)
    engine.delete(
        ["butterflies"],
        1439856000000000,
        1439856000000000,
        tag_names=["scientist"],
        tag_values=["perpetua"],
        compat_membership=True,
    )
    # Q2: the same-ts langstroth point dies too
    assert engine.length(["butterflies"]) == 6


def test_delete_does_not_touch_other_series(engine):
    engine.write("butterflies", WIRE_BUTTERFLIES)
    engine.write("honeybees", [{"timestamp": t, "value": v} for (_, t, _, v) in HONEYBEES])
    engine.delete(["butterflies"], 0)
    assert engine.length(["butterflies"]) == 0
    assert engine.length(["honeybees"]) == 8


def test_compaction_invariance(engine):
    engine.write("butterflies", WIRE_BUTTERFLIES[:4])
    engine.write("butterflies", WIRE_BUTTERFLIES[4:])
    before = sorted(
        (r["series"], r["ts"], r["value"]) for r in engine.points().collect()
    )
    engine.compact()
    after = sorted(
        (r["series"], r["ts"], r["value"]) for r in engine.points().collect()
    )
    assert before == after


def test_index_manifest(engine):
    engine.write("butterflies", WIRE_BUTTERFLIES)
    idx = engine.index(["butterflies"]).collect()
    assert engine.index_length(["butterflies"]) == len(idx)
    assert sum(r["n"] for r in idx) == 8
    assert min(r["t_min"] for r in idx) == 1439856000000000
    assert max(r["t_max"] for r in idx) == 1439878320000000


def test_compaction_file_sizing(spark, engine):
    """Appends create one file per bucket per write; compact() merges
    them, and files_per_bucket>1 splits deterministically by series hash
    (file-size bound at scale) — results invariant throughout."""
    import glob

    for i in range(4):  # 4 small appends
        engine.write("butterflies", WIRE_BUTTERFLIES[2 * i : 2 * i + 2])
    engine.write("honeybees", [{"timestamp": t, "value": v} for (_, t, _, v) in HONEYBEES])

    def n_files():
        return len(glob.glob(f"{engine.path}/bucket=*/day=*/part-*.parquet"))

    before_rows = sorted(
        (r["series"], r["ts"], r["value"]) for r in engine.points().collect()
    )
    many = n_files()
    engine.compact()
    assert n_files() < many  # small files merged (one per live bucket)
    engine.compact(files_per_bucket=2)
    assert sorted(
        (r["series"], r["ts"], r["value"]) for r in engine.points().collect()
    ) == before_rows


def test_store_bucket_count_is_sticky(spark, tmp_path):
    """Reopening a store with a different num_buckets must not silently
    prune the wrong buckets: the store's own metadata wins."""
    from nibbledb_spark.engine import TimeSeriesEngine

    path = str(tmp_path / "sticky")
    eng = TimeSeriesEngine(spark, path, num_buckets=8)
    eng.write("butterflies", WIRE_BUTTERFLIES)

    reopened = TimeSeriesEngine(spark, path, num_buckets=32)  # wrong arg
    assert reopened.num_buckets == 8  # metadata overrides
    assert reopened.length(["butterflies"]) == 8
    assert reopened.last(["butterflies"], 1).count() == 1


def test_damaged_meta_is_refused_not_reset(spark, tmp_path):
    """A truncated store meta must not reopen the store as a new one
    with the constructor's bucket count — reads would then prune to the
    wrong buckets and silently return nothing."""
    from nibbledb_spark.engine import TimeSeriesEngine

    path = str(tmp_path / "torn")
    eng = TimeSeriesEngine(spark, path, num_buckets=8)
    eng.write("butterflies", WIRE_BUTTERFLIES)
    meta = eng._meta_path()
    with open(meta) as f:
        text = f.read()
    with open(meta, "w") as f:
        f.write(text[: len(text) // 2])
    with pytest.raises(ValueError, match="unreadable store meta"):
        TimeSeriesEngine(spark, path, num_buckets=32)


def test_meta_rewrite_survives_a_failed_write(spark, tmp_path, monkeypatch):
    """A crash while rewriting the meta leaves the previous meta whole:
    it is written to a temp file and renamed into place."""
    import json

    from nibbledb_spark.engine import TimeSeriesEngine

    eng = TimeSeriesEngine(spark, str(tmp_path / "store"), num_buckets=8)
    eng.write("butterflies", WIRE_BUTTERFLIES)
    with open(eng._meta_path()) as f:
        before = f.read()

    def torn_dump(obj, f):
        f.write(json.dumps(obj)[:5])
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="disk full"):
        eng._write_meta(force=True)
    with open(eng._meta_path()) as f:
        assert f.read() == before


@pytest.mark.parametrize(
    "meta",
    [
        {"num_buckets": 8, "layout": 1},
        {"num_buckets": 8},
        {"num_buckets": 8, "layout": 2, "rollup_every_us": 3_600_000_000},
    ],
    ids=["layout1", "no_layout", "unknown_key"],
)
def test_foreign_store_meta_is_refused(spark, tmp_path, meta):
    """Only the bucket/day layout exists: a meta naming another layout
    (or none, the pre-layout convention) or a key the engine does not
    know is refused at construction, not read with the wrong
    partitioning."""
    import json
    import os

    from nibbledb_spark.engine import TimeSeriesEngine

    path = str(tmp_path / "foreign")
    os.makedirs(path)
    with open(os.path.join(path, "_nibbledb_meta.json"), "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="unsupported store meta"):
        TimeSeriesEngine(spark, path)


def test_staged_swap_crash_recovery(spark, tmp_path):
    """A crash between the two renames of the staged bucket swap parks
    the live bucket dir in trash. Engine construction must rename it
    back (the interrupted delete simply never happened) and clear the
    staging/trash remnants."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from nibbledb_spark.engine import TimeSeriesEngine, bucket_sql

    store = str(tmp_path / "store")
    eng = TimeSeriesEngine(spark, store, num_buckets=4)
    eng.write("crashy", [{"timestamp": 1000 + i, "value": float(i)} for i in range(8)])
    before = eng.length(["crashy"])
    assert before == 8

    # simulate the torn state: live bucket dir moved to trash, staging
    # left behind, live dir gone
    b = spark.range(1).select(F.expr(bucket_sql("'crashy'", eng.num_buckets))).first()[0]
    live = os.path.join(store, f"bucket={b}")
    trash = eng._trash_dir()
    os.makedirs(trash, exist_ok=True)
    shutil.move(live, os.path.join(trash, f"bucket={b}"))
    os.makedirs(eng._staging_dir(), exist_ok=True)
    assert not os.path.exists(live)  # the torn state is real

    healed = TimeSeriesEngine(spark, store)
    assert healed.length(["crashy"]) == before
    assert not os.path.exists(eng._trash_dir())
    assert not os.path.exists(eng._staging_dir())


def test_staged_swap_leaves_no_remnants(spark, tmp_path):
    """Successful delete/compact leaves no staging or trash dirs."""
    import os

    from nibbledb_spark.engine import TimeSeriesEngine

    store = str(tmp_path / "store")
    eng = TimeSeriesEngine(spark, store, num_buckets=4)
    eng.write("s1", [{"timestamp": 1000 + i, "value": float(i)} for i in range(6)])
    eng.write("s2", [{"timestamp": 2000 + i, "value": float(i)} for i in range(6)])
    eng.delete(["s1"], 1000, 1002)
    assert eng.length(["s1"]) == 3 and eng.length(["s2"]) == 6
    eng.compact()
    assert eng.length(["s1"]) == 3 and eng.length(["s2"]) == 6
    assert not os.path.exists(eng._staging_dir())
    assert not os.path.exists(eng._trash_dir())


# ---------------------------------------------------------------------------
# continuous-aggregate rollup (hypertable-rollup analogue)
# ---------------------------------------------------------------------------


def _recompute_rollup(eng):
    """Ground truth: full aggregate over the raw points, same scaled-long
    arithmetic as the maintained rollup."""
    from pyspark.sql import functions as F

    every = eng.rollup_every_us
    pts = eng.points()
    s = F.sum(F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("long"))
    return {
        (r["series"], r["bucket_us"]): (
            r["n"], r["value_sum"], r["value_min"], r["value_max"], r["value_mean"]
        )
        for r in pts.groupBy(
            "series", (F.col("ts") - F.pmod(F.col("ts"), F.lit(every))).alias("bucket_us")
        )
        .agg(
            F.count("*").alias("n"),
            (s.cast("double") / 1e6).alias("value_sum"),
            F.min("value").alias("value_min"),
            F.max("value").alias("value_max"),
            (s.cast("double") / 1e6 / F.count("*")).alias("value_mean"),
        )
        .collect()
    }


def _rollup_dict(eng, **kw):
    return {
        (r["series"], r["bucket_us"]): (
            r["n"], r["value_sum"], r["value_min"], r["value_max"], r["value_mean"]
        )
        for r in eng.rollup(**kw).collect()
    }


def test_rollup_incremental_equals_recompute(spark, tmp_path):
    """The write-time-maintained rollup must be BIT-IDENTICAL to a full
    recompute after multiple appends, after delete (rebuild), and after
    compact (consolidation) — scaled-long partials make merge order
    irrelevant."""
    from nibbledb_spark.engine import DAY_US, TimeSeriesEngine
    from nibbledb_spark.schema import POINT_SCHEMA

    eng = TimeSeriesEngine(spark, str(tmp_path / "store"), num_buckets=2)
    eng.enable_rollup(3_600_000_000)  # 1h buckets
    t0 = 1_439_856_000_000_000
    for batch in range(3):
        rows = [
            (f"s{i}", t0 + batch * DAY_US + j * 600_000_000, None, float(i + j) / 7)
            for i in range(3)
            for j in range(20)
        ]
        eng.append_points(spark.createDataFrame(rows, POINT_SCHEMA))
    assert _rollup_dict(eng) == _recompute_rollup(eng)

    # filtered read: only s1's buckets inside the window
    win = _rollup_dict(eng, ids=["s1"], ts_from=t0 + DAY_US, ts_to=t0 + 2 * DAY_US)
    assert win and all(k[0] == "s1" for k in win)
    full = _recompute_rollup(eng)
    assert all(full[k] == v for k, v in win.items())

    eng.delete(["s1"], t0, t0 + DAY_US)  # forces the derived-table rebuild
    assert _rollup_dict(eng) == _recompute_rollup(eng)

    eng.compact()  # consolidates delta rows to one per (series, bucket)
    assert _rollup_dict(eng) == _recompute_rollup(eng)
    rdir = eng._rollup_dir(eng.rollup_every_us)
    import glob as g
    n_files = len(g.glob(rdir + "/part-*.parquet"))
    df = spark.read.parquet(rdir)
    assert df.count() == df.select("series", "bucket_us").distinct().count()

    # rollup is derived data: losing the dir is repaired on next read
    import shutil
    shutil.rmtree(rdir)
    assert _rollup_dict(eng) == _recompute_rollup(eng)

    # the width survives reopen via store meta
    eng2 = TimeSeriesEngine(spark, str(tmp_path / "store"))
    assert eng2.rollup_every_us == 3_600_000_000
    assert _rollup_dict(eng2) == _recompute_rollup(eng2)


def test_aggregate_range_routes_to_rollup_when_aligned(spark, tmp_path):
    """Materialized-view routing: a bucket-aligned range aggregate is
    answered from the rollup (and matches the raw scan); unaligned
    windows, non-mergeable aggs, and rollup-disabled stores fall back."""
    from nibbledb_spark.engine import TimeSeriesEngine
    from nibbledb_spark.schema import POINT_SCHEMA

    H = 3_600_000_000
    t0 = 1_439_856_000_000_000  # hour-aligned
    eng = TimeSeriesEngine(spark, str(tmp_path / "store"), num_buckets=2)
    eng.enable_rollup(H)
    rows = [
        ("a", t0 + j * 600_000_000, None, float(j % 8) * 0.25) for j in range(36)
    ] + [("b", t0 + j * 600_000_000, None, 2.0) for j in range(36)]
    eng.append_points(spark.createDataFrame(rows, POINT_SCHEMA))

    aligned = (t0 + H, t0 + 4 * H - 1)
    for agg in ("sum", "count", "min", "max", "mean"):
        got = eng.aggregate_range(["a"], *aligned, agg)
        assert eng._last_agg_source == "rollup", agg
        want = eng.aggregate(["a"], agg, eng.range(["a"], *aligned))
        assert got == want, (agg, got, want)

    # unaligned window falls back to the raw scan and still matches
    got = eng.aggregate_range(["a"], t0 + H, t0 + 4 * H, "sum")
    assert eng._last_agg_source == "points"
    assert got == eng.aggregate(["a"], "sum", eng.range(["a"], t0 + H, t0 + 4 * H))

    # non-mergeable aggregate always scans raw
    eng.aggregate_range(["a"], *aligned, "median")
    assert eng._last_agg_source == "points"

    # empty routed selection keeps the A24 shaping
    assert eng.aggregate_range(["zz"], *aligned, "sum") == {"sum": 0.0}
    assert eng.aggregate_range(["zz"], *aligned, "mean") == {}
    assert eng._last_agg_source == "rollup"


def test_multi_width_rollup_hierarchy_and_routing(spark, tmp_path):
    """Hour + day rollups coexist; each width matches its recompute, and
    range-aggregate routing picks the COARSEST aligned width (day for a
    day-aligned window, hour for an hour-but-not-day-aligned one)."""
    from nibbledb_spark.engine import DAY_US, TimeSeriesEngine
    from nibbledb_spark.schema import POINT_SCHEMA

    H = 3_600_000_000
    t0 = 1_439_856_000_000_000  # day-aligned
    eng = TimeSeriesEngine(spark, str(tmp_path / "store"), num_buckets=2)
    eng.enable_rollup(H)
    eng.enable_rollup(DAY_US)
    rows = [
        ("a", t0 + j * 1_800_000_000, None, float(j % 5)) for j in range(96)
    ]  # 2 days at 30min cadence
    eng.append_points(spark.createDataFrame(rows, POINT_SCHEMA))

    hourly = eng.rollup(every_us=H).collect()
    daily = eng.rollup(every_us=DAY_US).collect()
    assert len(hourly) == 48 and len(daily) == 2
    assert sum(r["n"] for r in hourly) == sum(r["n"] for r in daily) == 96

    got = eng.aggregate_range(["a"], t0, t0 + 2 * DAY_US - 1, "sum")
    assert eng._last_agg_width == DAY_US
    got_h = eng.aggregate_range(["a"], t0 + H, t0 + 5 * H - 1, "sum")
    assert eng._last_agg_width == H
    raw = eng.aggregate(["a"], "sum", eng.range(["a"], t0 + H, t0 + 5 * H - 1))
    assert got_h == raw
    assert got == eng.aggregate(["a"], "sum", eng.range(["a"], t0, t0 + 2 * DAY_US - 1))

    # widths survive reopen
    eng2 = TimeSeriesEngine(spark, str(tmp_path / "store"))
    assert eng2.rollup_widths == [H, DAY_US]


def test_retention_drops_raw_keeps_rollup_aggregates(spark, tmp_path):
    """apply_retention (the drop_chunks + continuous-aggregate
    lifecycle): raw points below the cutoff disappear from every raw
    read, while bucket-aligned range aggregates over the dropped range
    keep answering EXACTLY from the rollup; the floor survives reopen;
    later deletes/compactions/rebuilds never lose the pre-floor
    aggregates (they are primary data now); the guard rails (no
    rollup, misaligned cutoff, backwards floor, lost rollup dir,
    enabling a new width post-retention) all refuse loudly."""
    import os
    import shutil

    import pytest

    from nibbledb_spark.engine import TimeSeriesEngine
    from nibbledb_spark.schema import POINT_SCHEMA

    HOUR = 3_600_000_000
    eng = TimeSeriesEngine(spark, str(tmp_path / "store"), num_buckets=2)
    rows = [
        (f"s{i}", h * HOUR + j * 600_000_000, None, float(i * 100 + h * 10 + j))
        for i in range(2)
        for h in range(4)
        for j in range(6)
    ]
    eng.append_points(spark.createDataFrame(rows, POINT_SCHEMA))

    with pytest.raises(ValueError, match="rollup"):
        eng.apply_retention(2 * HOUR)  # no rollup enabled yet

    eng.enable_rollup(HOUR)
    ids = ["s0", "s1"]
    pre_sum = eng.aggregate_range(ids, 0, 2 * HOUR - 1, "sum")
    pre_mean = eng.aggregate_range(ids, 0, 2 * HOUR - 1, "mean")
    pre_cnt = eng.aggregate_range(ids, 0, 2 * HOUR - 1, "count")
    n_total = eng.length(ids)

    with pytest.raises(ValueError, match="aligned"):
        eng.apply_retention(2 * HOUR + 5)

    eng.apply_retention(2 * HOUR)

    # raw reads only see the live range
    assert eng.length(ids) == n_total // 2
    assert eng.earliest(ids).collect()[0]["ts"] == 2 * HOUR
    assert eng.range(ids, 0, 2 * HOUR - 1).count() == 0

    # dropped-range aggregates still answer, exactly, from the rollup
    for agg, pre in (("sum", pre_sum), ("mean", pre_mean), ("count", pre_cnt)):
        assert eng.aggregate_range(ids, 0, 2 * HOUR - 1, agg) == pre
        assert eng._last_agg_source == "rollup"

    # floor survives reopen
    eng2 = TimeSeriesEngine(spark, str(tmp_path / "store"))
    assert eng2.retention_floor_us == 2 * HOUR
    assert eng2.aggregate_range(ids, 0, 2 * HOUR - 1, "sum") == pre_sum

    # a live-range delete triggers a rebuild — pre-floor rows must survive
    eng.delete(["s0"], 3 * HOUR, 4 * HOUR)
    assert eng.aggregate_range(ids, 0, 2 * HOUR - 1, "sum") == pre_sum
    eng.compact()
    assert eng.aggregate_range(ids, 0, 2 * HOUR - 1, "sum") == pre_sum

    # monotone floor; post-retention new widths refuse (nothing to
    # rebuild the dropped range from)
    with pytest.raises(ValueError, match="backwards"):
        eng.apply_retention(HOUR)
    with pytest.raises(ValueError, match="primary data"):
        eng.enable_rollup(2 * HOUR)

    # a raw fallback into the dropped range must refuse, not silently
    # aggregate over absent rows (round-11 review find): unaligned
    # window / non-mergeable agg below the floor both raise
    with pytest.raises(ValueError, match="retention floor"):
        eng.aggregate_range(ids, 0, 2 * HOUR - 2, "sum")  # unaligned end
    with pytest.raises(ValueError, match="retention floor"):
        eng.aggregate_range(ids, 0, 2 * HOUR - 1, "median")  # unmergeable
    # ...but live-range raw fallbacks still work
    assert eng.aggregate_range(ids, 2 * HOUR, 3 * HOUR - 2, "median")

    # a lost rollup dir is no longer self-healing: it held primary data
    shutil.rmtree(eng._rollup_dir(HOUR))
    with pytest.raises(ValueError, match="primary data"):
        eng.rollup_rebuild(HOUR)
    assert not os.path.exists(eng._rollup_dir(HOUR))


# ---------------------------------------------------------------------------
# one store listing per write generation
# ---------------------------------------------------------------------------


def _rows(t0, n):
    return [(t0 + i, {}, float(i)) for i in range(n)]


def test_each_store_mutation_starts_a_new_listing(spark, tmp_path):
    """The engine holds one store listing between its own writes. Every
    mutation drops it, so the read built after each one (on the same
    instance) sees the change."""
    import os
    import shutil

    from nibbledb_spark.engine import TimeSeriesEngine
    from nibbledb_spark.schema import POINT_SCHEMA

    eng = TimeSeriesEngine(spark, str(tmp_path / "store"), num_buckets=4)
    eng.append_rows("a", _rows(1000, 6))
    eng.append_rows("b", _rows(2000, 6))

    # a bucket parked in trash, as a crash between the swap's renames
    # leaves it: the read lists without it, and the heal that engine
    # construction runs puts it back
    parked = sorted(d for d in os.listdir(eng.path) if d.startswith("bucket="))[0]
    os.makedirs(eng._trash_dir())
    shutil.move(os.path.join(eng.path, parked), eng._trash_dir())
    assert eng.length() < 12
    eng._recover_staged_swap()
    assert eng.length() == 12

    eng.append_rows("b", _rows(2006, 6))
    assert eng.length() == 18
    eng.enable_rollup(1000)
    eng.append_points(
        spark.createDataFrame([("c", 3000 + i, {}, 1.0) for i in range(4)], POINT_SCHEMA)
    )
    assert eng.length() == 22
    eng.delete(["a"], 1000, 1002)
    assert eng.length() == 19
    eng.compact()  # rewrites every file: a stale listing names gone ones
    assert eng.length() == 19 and eng.length(["a"]) == 3
    eng.apply_retention(2000)  # drops the rest of "a"
    assert eng.length() == 16 and eng.length(["a"]) == 0


def test_reads_without_a_write_share_one_listing(engine):
    engine.append_rows("a", _rows(1000, 4))
    held = engine._store()
    assert engine.last(["a"], 2).count() == 2
    assert engine.length(["a"]) == 4
    assert engine._store() is held


def test_listing_begun_before_an_append_is_not_installed(spark, engine, monkeypatch):
    """A read that lists the store while an append lands (the Router's
    flush thread racing a reader) serves its own result from that
    listing but must not install it: the next read re-lists and counts
    the appended rows."""
    engine.append_rows("a", _rows(1000, 4))
    reader = type(spark.read)
    list_store = reader.parquet
    raced = []

    def list_then_append(self, *paths, **kwargs):
        df = list_store(self, *paths, **kwargs)
        if paths == (engine.path,) and not raced:
            raced.append(True)
            engine.append_rows("a", _rows(2000, 3))
        return df

    monkeypatch.setattr(reader, "parquet", list_then_append)
    assert engine.length() == 4  # listed before the append landed
    assert engine.length() == 7


def test_failed_append_still_starts_a_new_listing(spark, engine, monkeypatch):
    """An append whose write raises after its files landed still drops
    the held listing, so the next read sees what was written."""
    engine.append_rows("a", _rows(1000, 4))
    assert engine.length() == 4
    writer = type(spark.range(1).write)
    write = writer.parquet

    def write_then_fail(self, path, *args, **kwargs):
        write(self, path, *args, **kwargs)
        raise OSError("commit lost")

    monkeypatch.setattr(writer, "parquet", write_then_fail)
    with pytest.raises(OSError, match="commit lost"):
        engine.append_rows("a", _rows(2000, 3))
    monkeypatch.undo()
    assert engine.length() == 7


def test_reads_racing_appends_see_every_finished_append(engine):
    """One writer (the Router flushes under one lock) appends while
    more readers than cores re-read the store: a read that starts after
    an append returned counts its rows, however listings and appends
    interleave, and the writer reads its own write exactly."""
    import sys
    import threading

    appends, batch = 4, 3
    done = [0]  # appends finished; the writer is its only mutator
    errors: list[str] = []
    stop = threading.Event()

    def writer() -> None:
        try:
            for k in range(1, appends + 1):
                engine.append_rows("w", _rows(1000 * k, batch))
                done[0] = k
                if engine.length() != k * batch:
                    errors.append(f"writer missed its append {k}")
        except Exception as e:  # surfaced by the assertion below
            errors.append(f"writer: {e}"[:500])
        finally:
            stop.set()

    def reader(i: int) -> None:
        try:
            while not stop.is_set():
                floor = done[0] * batch
                got = engine.length()
                if got < floor:
                    errors.append(f"reader {i} read {got} rows after {floor} landed")
        except Exception as e:
            errors.append(f"reader {i}: {e}"[:500])

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=writer)]
        threads += [threading.Thread(target=reader, args=(i,)) for i in range(6)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        stop.set()
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert engine.length() == appends * batch


# ---------------------------------------------------------------------------
# bounded per-series top-n
# ---------------------------------------------------------------------------


def test_bounded_top_n_matches_the_unbounded_operators(spark, engine):
    """last/first/latest/earliest carry a limit of n * (distinct ids);
    it must change no row and no order of the unbounded operators,
    including timestamps tied across series, duplicate and unknown ids,
    ids that need quoting in SQL, n of 0, -1 and past the series
    length. since/range read the same ids with the same rows."""
    from nibbledb_spark.operators import timeseries as ts_ops

    odd = ["it's", "back\\slash", "\U0001F98B", "a%20b"]
    engine.append_rows("a", [(t, {"k": "x"}, 1.0) for t in (10, 20, 30, 40)])
    engine.append_rows("b", [(t, {"k": "y"}, v) for t, v in ((20, 1.0), (30, 2.0), (30, 1.0))])
    for i, s in enumerate(odd):
        engine.append_rows(s, [(t, None, t + i / 3) for t in (5, 7)])
    for ids in (["a", "b"], ["a", "a"], ["b", "zz"], ["zz"], odd):
        pts = engine.points(ids)
        for n in (-1, 0, 2, 50):
            assert engine.last(ids, n).collect() == ts_ops.last_n(pts, (), n).collect()
            assert engine.first(ids, n).collect() == ts_ops.first_n(pts, (), n).collect()
        assert engine.latest(ids).collect() == ts_ops.last_n(pts, (), 1).collect()
        assert engine.earliest(ids).collect() == ts_ops.first_n(pts, (), 1).collect()
        assert engine.since(ids, 7).collect() == ts_ops.since(pts, (), 7).collect()
        assert engine.range(ids, 7, 30).collect() == ts_ops.time_range(pts, (), 7, 30).collect()
    assert [r["series"] for r in engine.last(odd, 1).collect()] == sorted(odd)
    assert engine.last(["a"], -1).collect() == engine.last(["a"], 0).collect() == []


def test_reads_of_a_store_not_written_yet_are_empty(engine):
    import os

    assert not os.path.exists(engine.path)
    for df in (
        engine.last(["s"], 3),
        engine.first([], 2),
        engine.since(["s"], 0),
        engine.range(["s", "t"], 0, 10),
    ):
        assert df.columns == ["series", "ts", "tag", "value"]
        assert df.collect() == []


# ---------------------------------------------------------------------------
# float aggregates fold in one order
# ---------------------------------------------------------------------------


def test_float_aggregates_do_not_depend_on_layout_or_partitions(spark, tmp_path):
    """range/.../sum, mean and sd fold the selection in Q5 order on one
    partition, so they are bit-equal whether the points were appended
    in one chunk or three, before and after compact(), and under 1 or 4
    shuffle partitions."""
    from nibbledb_spark.engine import TimeSeriesEngine
    from nibbledb_spark.rest import Router
    from nibbledb_spark.schema import POINT_SCHEMA

    t0, step = 1_439_856_000_000_000, 300_000_000
    rows = [
        (s, t0 + j * step, {"loc": str(j % 3)}, ((j * 7919) % 1013) / 7.3 + k / 9)
        for j in range(3000)
        for k, s in enumerate(("p", "q"))
    ]
    one = TimeSeriesEngine(spark, str(tmp_path / "one"), num_buckets=4)
    one.append_points(spark.createDataFrame(rows, POINT_SCHEMA))
    three = TimeSeriesEngine(spark, str(tmp_path / "three"), num_buckets=4)
    for c in range(3):
        three.append_points(spark.createDataFrame(rows[c::3], POINT_SCHEMA))
    a, b = t0 + 17 * step, t0 + 2900 * step
    paths = [f"/ts/p,q/range/{a}/{b}/{agg}" for agg in ("sum", "mean", "sd")]

    def bodies(eng):
        router = Router(eng)
        return [router.handle("GET", p) for p in paths]

    want = bodies(one)
    assert all(status == 200 and body != "{}" for status, body in want)
    assert bodies(three) == want
    three.compact()
    assert bodies(three) == want
    conf = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        at_one = bodies(one)
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        at_four = bodies(one)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", conf)
    assert at_one == at_four == want


# ---------------------------------------------------------------------------
# day-bounded top-n and the day index
# ---------------------------------------------------------------------------


def test_day_number_is_the_writers_day(spark):
    """The driver's day of a ts names the partition the writer puts it
    in, at day edges, for negative ts and where the double quotient is
    inexact."""
    from pyspark.sql import functions as F

    from nibbledb_spark.engine import DAY_US, day_number, day_of

    edges = [0, 1, -1, DAY_US - 1, DAY_US, -DAY_US, -DAY_US - 1, 2**53 - 1, 2**53 + 1]
    edges += [k * DAY_US + d for k in (106_751_990, -106_751_991, 104_249_991) for d in (-1, 0, 1)]
    edges += [2**62 + 12345, -(2**62) - 1, 2**63 - 1, -(2**63)]
    frame = spark.createDataFrame([(t,) for t in edges], "ts long")
    got = [r[0] for r in frame.select(day_of(F.col("ts"))).collect()]
    assert got == [day_number(t) for t in edges]
    assert day_number(10**30) == day_number(2**63 - 1)  # clamped, no overflow


def test_day_bounded_top_n_matches_the_operators(spark, engine):
    """last/first read only the days an index walk says can hold the
    answer; the bodies still equal ts_ops.last_n/first_n over the points
    for n ending exactly on a day edge, equal timestamps tied across
    series at a day edge, negative ts, ids with different day spans,
    n of 0, -1 and past the series length, and buffered rows in the
    newest day (and older than the store)."""
    from nibbledb_spark.engine import DAY_US as D
    from nibbledb_spark.operators import timeseries as ts_ops

    # a: 3 points on day 0, 2 on day 1, 2 on day 2
    engine.append_rows("a", [(t, {"k": "a"}, float(i)) for i, t in enumerate((5, 6, 7, D, D + 9, 2 * D, 2 * D + 3))])
    # b: days 1-3, tied with a at the first µs of day 2
    engine.append_rows("b", [(2 * D, {"k": "b"}, 1.0), (2 * D, None, 3.0), (2 * D - 1, None, 4.0), (3 * D, None, 2.0)])
    engine.append_rows("neg", [(t, None, float(t)) for t in (-2 * D, -D - 1, -D, -1, 0)])
    buffered = [("a", 2 * D + 1, None, 8.0), ("a", 3, None, 9.0), ("b", 3 * D + 7, {"k": "z"}, 0.5)]
    store = engine.listing()
    assert engine._top_n_bound(["a"], 2, store, (), True) == [f"day >= 2"]
    assert engine._top_n_bound(["a"], 4, store, (), True) == [f"day >= 1"]
    assert engine._top_n_bound(["a", "b"], 2, store, buffered, True) == [f"day >= 2"]
    assert engine._top_n_bound(["neg"], 3, store, (), False) == [f"day <= -1"]
    assert engine._top_n_bound(["a", "zz"], 1, store, (), True) == []

    def top(rows, n):
        """ts_ops' top-n at n from its top-n at a larger n: the first n
        rows of each series, in the same order."""
        seen: dict = {}
        out = []
        for r in rows:
            seen[r["series"]] = seen.get(r["series"], 0) + 1
            if seen[r["series"]] <= n:
                out.append(r)
        return out

    cases = [(["a", "b"], ()), (["a", "b"], buffered), (["a", "a"], buffered[:2]), (["neg"], ()), (["b", "zz"], ())]
    for ids, buf in cases:
        pts = engine.points(ids)
        if buf:
            pts = pts.unionByName(engine._points_frame(buf))
        newest, oldest = ts_ops.last_n(pts, (), 50).collect(), ts_ops.first_n(pts, (), 50).collect()
        assert top(newest, 3) == ts_ops.last_n(pts, (), 3).collect()
        assert top(oldest, 3) == ts_ops.first_n(pts, (), 3).collect()
        longest = max((sum(r["series"] == s for r in newest) for s in ids), default=0)
        for n in range(-1, longest + 2):
            got = engine.last(ids, n, store=store, buffered=buf).collect()
            assert got == top(newest, n), (ids, buf, n)
            got = engine.first(ids, n, store=store, buffered=buf).collect()
            assert got == top(oldest, n), (ids, buf, n)


def test_day_index_lifecycle(spark, tmp_path):
    """The day index counts exactly the listing's rows. A store not
    written yet has the empty one, without a job; append_rows carries
    it forward; append_points, delete, compact, apply_retention and a
    crash heal drop it. After an append_points the first last builds it
    (2 jobs: index and read), the next reads it (1 job)."""
    import os
    from collections import Counter

    from nibbledb_spark.engine import DAY_US as D
    from nibbledb_spark.engine import TimeSeriesEngine, day_number
    from nibbledb_spark.schema import POINT_SCHEMA

    eng = TimeSeriesEngine(spark, str(tmp_path / "store"), num_buckets=4)

    def exact():
        counts = Counter((r["series"], day_number(r["ts"])) for r in eng.points().collect())
        out: dict = {}
        for (s, d), n in counts.items():
            out.setdefault(s, {})[d] = n
        return out

    assert run_in_job_group(spark, "index_new_store", lambda: eng._day_counts(eng.listing())) == ({}, 0)
    eng.append_rows("a", [(d * D + j, None, 1.0) for d in range(3) for j in range(4)])
    eng.append_rows("b", [(D + j, {"k": "v"}, 2.0) for j in range(3)])
    eng.append_rows("a", [(3 * D, None, 1.0)])
    assert eng._days == exact() and eng._days["a"][3] == 1

    def last_jobs(tag):
        (rows, jobs) = run_in_job_group(spark, tag, lambda: eng.last(["a"], 2).collect())
        assert [r["ts"] for r in rows] == [3 * D, 2 * D + 3]
        return jobs

    assert last_jobs("index_carried") == 1
    eng.append_points(spark.createDataFrame([("c", 4 * D, None, 1.0)], POINT_SCHEMA))
    assert eng._days is None
    assert last_jobs("index_built") == 2
    assert eng._days == exact()
    assert last_jobs("index_held") == 1

    eng.enable_rollup(D)
    for mutate in (
        lambda: eng.delete(["b"], D, D),
        lambda: eng.compact(),
        lambda: eng.apply_retention(D),
        lambda: (os.makedirs(eng._trash_dir()), eng._recover_staged_swap()),
    ):
        eng.last(["a"], 2).collect()
        assert eng._days is not None
        mutate()
        assert eng._days is None
    eng.last(["a"], 2).collect()
    assert eng._days == exact()
