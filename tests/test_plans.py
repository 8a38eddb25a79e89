"""Plan-level assertions: the physical plans are the ones a 100 TB run
needs, not just plans that happen to produce correct rows.

Covers SURVEY.md A12 (time-range pruning is the Spark-native analogue of
the reference's shard index, src/timeseries.re:555-588) plus the scale
checklist: filter/projection pushdown to the parquet scan, bucket
partition pruning, broadcast vs sort-merge join selection, map-side
partial aggregation, top-n via TakeOrderedAndProject / WindowGroupLimit,
and whole-stage codegen coverage of the hot paths."""

from __future__ import annotations

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

from nibbledb_spark.engine import bucket_sql
from nibbledb_spark.operators import timeseries as ts_ops

SF = "/root/testdata/sf0.01"


def plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def store_engine(spark, tmp_path_factory):
    """An engine with enough data to produce a multi-bucket store."""
    from nibbledb_spark.engine import TimeSeriesEngine

    eng = TimeSeriesEngine(
        spark, str(tmp_path_factory.mktemp("plans") / "store"), num_buckets=8
    )
    rows = [
        (f"s{i % 20}", 1_439_856_000_000_000 + j * 60_000_000, None, float(i * j % 97))
        for i in range(20)
        for j in range(50)
    ]
    from nibbledb_spark.schema import POINT_SCHEMA

    eng.append_points(spark.createDataFrame(rows, POINT_SCHEMA))
    return eng


def test_time_range_filter_is_pushed(store_engine):
    """A12: ts-range predicates must reach the parquet scan as
    PushedFilters so row-group min/max stats prune I/O — the engine's
    replacement for the reference's shard-range index."""
    df = store_engine.range(["s1"], 1_439_856_000_000_000, 1_439_857_000_000_000)
    p = plan(df)
    assert "PushedFilters" in p
    assert "GreaterThanOrEqual(ts" in p and "LessThanOrEqual(ts" in p
    assert "EqualTo(series,s1)" in p


def test_series_read_prunes_buckets(store_engine):
    """Reading one series must touch only its hash bucket's directory
    (partition pruning from the derived bucket predicate)."""
    df = store_engine.points(["s1"])
    p = plan(df)
    assert "PartitionFilters" in p
    b = (
        store_engine.spark.range(1)
        .select(F.expr(bucket_sql("'s1'", store_engine.num_buckets)))
        .first()[0]
    )
    assert f"bucket#" in p or f"EqualTo(bucket,{b})" in p or f"bucket IN ({b})" in p or "isnotnull(bucket" in p
    # the partition count actually read must be 1 of 8
    scanned = df.select(F.spark_partition_id()).distinct()
    assert scanned.count() <= 2


def test_series_read_builds_without_jobs(store_engine):
    """Building a series read launches no Spark job, even for ids the
    engine has never seen: bucket routing is an expression, and its
    plan carries the bucket ids as literal partition filters."""
    spark = store_engine.spark
    sc = spark.sparkContext
    ids = ["never-seen-a", "never-seen-b", "s1", "s2"]
    group = "series_read_builds_without_jobs"
    sc.setJobGroup(group, "plan-only read build")
    try:
        before = list(sc.statusTracker().getJobIdsForGroup(group))
        df = store_engine.points(ids)
        after = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert before == [] and after == []

    want = {
        r[0]
        for r in spark.createDataFrame([(i,) for i in ids], "s string")
        .select(F.expr(bucket_sql("s", store_engine.num_buckets)))
        .collect()
    }
    m = re.search(r"PartitionFilters: \[[^\]]*bucket#\d+ IN \(([\d, ]+)\)", plan(df))
    assert m, plan(df)
    assert {int(b) for b in m.group(1).split(",")} == want


def test_projection_prunes_columns(spark):
    """A 2-column projection must read a 2-column schema, not the
    16-column table."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    p = plan(li.select("l_orderkey", "l_quantity"))
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in p


def test_broadcast_join_for_small_dim(spark):
    """lineitem x part joins must broadcast the dim side, never shuffle
    the fact table."""
    from nibbledb_spark.queries import QUERIES

    p = plan(QUERIES["join_lineitem_part_broadcast"](spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_smj_for_large_large(spark):
    """The declared large-large join keeps sort-merge (no broadcast of a
    fact table)."""
    from nibbledb_spark.queries import QUERIES

    p = plan(QUERIES["join_lineitem_orders_smj"](spark, SF))
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p


def test_q1_partial_aggregation_single_shuffle(spark):
    """Flagship q1: map-side partial HashAggregate before the exchange,
    exactly one shuffle, all stages codegen'd."""
    from nibbledb_spark.queries import QUERIES

    df = QUERIES["q1_pricing_summary"](spark, SF)
    p = plan(df)
    import re

    assert len(re.findall(r"\(\d+\) HashAggregate", p)) == 2  # partial + final
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "WholeStageCodegen" in plan(df, "codegen")
    # and the shipdate filter reaches the scan
    assert "LessThanOrEqual(l_shipdate" in p


def test_top10_uses_take_ordered(spark):
    """Global top-k must be TakeOrderedAndProject (per-partition top-k +
    merge), never a global sort."""
    from nibbledb_spark.queries import QUERIES

    p = plan(QUERIES["top10_orders"](spark, SF))
    assert "TakeOrderedAndProject" in p


def test_per_series_topn_uses_window_group_limit(spark, fixture_points):
    """A6/A8: per-series top-n must run the WindowGroupLimit partial
    top-n below the shuffle (Spark 3.5+), so no series fully
    materializes on one task."""
    df = ts_ops.last_n(fixture_points, (), 2)
    p = plan(df)
    assert "WindowGroupLimit" in p


def test_engine_top_n_takes_ordered_without_range_exchange(spark, tmp_path_factory):
    """Every benchmark read shape is one Spark job through
    Router.handle, and the engine frame plans no exchange: the
    selection is read on one partition, so the per-series window, the
    Q5 sort and the tag filter + aggregate need no shuffle. last/first
    are bounded by n * (distinct ids), so their sort is one
    TakeOrderedAndProject. The store holds several files per bucket
    (three appends), which a parallel scan would spread over several
    partitions."""
    from nibbledb_spark.engine import TimeSeriesEngine
    from nibbledb_spark.rest import Router

    eng = TimeSeriesEngine(
        spark, str(tmp_path_factory.mktemp("onejob") / "store"), num_buckets=4
    )
    t0, minute = 1_439_856_000_000_000, 60_000_000
    for chunk in range(3):
        for s in ("s1", "s2"):
            eng.append_rows(
                s,
                [
                    (t0 + j * minute, {"loc": str(j % 4)}, float(j % 97) / 7)
                    for j in range(chunk * 600, (chunk + 1) * 600)
                ],
            )
    a, day = t0 + 100 * minute, 24 * 60 * minute
    since = t0 + 1500 * minute
    shapes = [
        ("/ts/s1/last/10", eng.last(["s1"], 10)),
        ("/ts/s1/last/1000", eng.last(["s1"], 1000)),
        (f"/ts/s1/range/{a}/{a + 60 * minute - 1}", eng.range(["s1"], a, a + 60 * minute - 1)),
        (
            f"/ts/s1,s2/range/{a}/{a + 7 * day}/mean",
            ts_ops.aggregate(eng.range(["s1", "s2"], a, a + 7 * day), "mean"),
        ),
        (
            "/ts/s2/last/500/filter/loc/equals/1/sd",
            ts_ops.aggregate(ts_ops.tag_filter(eng.last(["s2"], 500), ["loc"], ["1"]), "sd"),
        ),
        (f"/ts/s1/since/{since}/median", ts_ops.aggregate(eng.since(["s1"], since), "median")),
    ]
    router = Router(eng)
    sc = spark.sparkContext
    for i, (path, frame) in enumerate(shapes):
        assert "Exchange" not in plan(frame), path
        group = f"one_job_read_{i}"
        sc.setJobGroup(group, path)
        try:
            status, body = router.handle("GET", path)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert status == 200 and body not in ("[]", "{}"), (path, body)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1, path
    p = plan(eng.last(["s1", "s2"], 3))
    assert "TakeOrderedAndProject" in p and "rangepartitioning" not in p


def test_ts_agg_no_python_in_plan(spark, fixture_points):
    """Aggregates are pure JVM: no BatchEvalPython / ArrowEvalPython
    stages in any reference-surface plan."""
    df = ts_ops.aggregate(fixture_points, "median")
    p = plan(df)
    assert "EvalPython" not in p


def test_exact_dedup_partial_agg(spark):
    """Exact dedup at scale = hash aggregate with map-side partial, not
    a global distinct-sort."""
    from nibbledb_spark.queries import QUERIES

    p = plan(QUERIES["dedup_exact"](spark, SF))
    assert "HashAggregate" in p
    assert "Sort" not in p.split("AdaptiveSparkPlan")[0]


def test_new_operator_shuffle_budgets(spark):
    """Shuffle budgets of the tsdb/pipeline extensions — a regression
    here means an operator grew a shuffle it doesn't need. The points
    cache is materialized first: once built, its series-clustered
    sorted layout satisfies every series-keyed window/agg distribution,
    so the ts_* family budgets are ZERO per-query shuffles (the one
    clustering shuffle is paid at cache build and excluded from
    exchange_count by contract)."""
    from nibbledb_spark.plans.scale import exchange_count
    from nibbledb_spark.queries import QUERIES
    from nibbledb_spark.sources.registry import points_from_events

    points_from_events(spark, SF).count()  # materialize clustered cache
    budgets = {
        "ts_delta": 0,              # window rides the cache clustering
        "ts_quantiles": 0,          # agg rides the cache clustering
        "ts_resample_linear": 3,    # agg + grid join + window
        "interval_overlap_series_days": 2,  # bucket join + distinct/order
        "clean_corpus": 10,         # fused filters + dedup + shingle joins;
                                    # the stop-shingle cap's hot-set agg
                                    # subtree prints under each of its 3
                                    # broadcast uses (distinct node ids
                                    # count once; rows shuffled = distinct
                                    # shingles after map-side combine,
                                    # never the full shingle table)
    }
    for name, budget in budgets.items():
        got = exchange_count(QUERIES[name](spark, SF))
        assert got <= budget, (name, got, budget)


def test_round9_operator_shuffle_budgets(spark):
    """Physical-shape pins for the round-9 training-pipeline operators:
    the zero-shuffle claims in their docstrings are contracts, not
    prose. split_assign and the fold-path linear scorer are row-local
    projections (ZERO exchanges — the tokenize_bpe plan class);
    temperature mix touches the corpus once (the tiny rates agg) and
    applies rates via BROADCAST, never reshuffling the corpus."""
    from nibbledb_spark.plans.scale import exchange_count
    from nibbledb_spark.queries import QUERIES

    assert exchange_count(QUERIES["split_train_val_test"](spark, SF)) == 0
    assert exchange_count(QUERIES["linear_quality_score"](spark, SF)) == 0
    sel = QUERIES["temperature_mix_selected"](spark, SF)
    # rates agg (+ its window) shuffle SOURCE-count rows, never docs
    assert exchange_count(sel) <= 3
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        sel.explain("formatted")
    assert "BroadcastHashJoin" in buf.getvalue()
    # the trained-model scorer path broadcasts the weight table
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        QUERIES["linear_quality_score_weighted"](spark, SF).explain("formatted")
    assert "BroadcastHashJoin" in buf.getvalue()


def test_winnow_relational_plan_shape(spark):
    """winnow_fingerprints is the RELATIONAL winnowing plan (r15 opt):
    the md5-encode projection must appear exactly once (the array-HOF
    ancestor re-ran the whole md5 pass per window start — O(n^2) per
    doc, 232 s at sf0.1 vs 0.98 s relational), the window min must ride
    the lead() window's partitioning (one exchange on doc id), and
    every heavy stage must whole-stage-codegen (the interpreted-HOF
    penalty was the residual 8 s)."""
    from nibbledb_spark.plans.scale import exchange_count
    from nibbledb_spark.queries import QUERIES

    df = QUERIES["fingerprint_winnowing"](spark, SF)
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert physical.count("conv(") == 1, "md5 pass must be single-site"
    assert "transform(" not in physical, "array-HOF form resurfaced"
    # lead-window + distinct: the min frame shares the lead exchange
    assert exchange_count(df) <= 2, exchange_count(df)
    assert "Window" in physical


def test_day_partition_prunes_time_ranges(spark, tmp_path_factory):
    """Layout v2: ts bounds derive day-partition predicates that prune
    whole day directories BEFORE any file opens — and unlike row-group
    ts stats, that pruning survives compaction (a merged bucket file
    spans the full history; the day dirs still bound the scan to the
    window queried)."""
    from nibbledb_spark.engine import DAY_US, TimeSeriesEngine
    from nibbledb_spark.schema import POINT_SCHEMA

    eng = TimeSeriesEngine(
        spark, str(tmp_path_factory.mktemp("dayprune") / "store"), num_buckets=2
    )
    t0 = 1_439_856_000_000_000  # 00:00 UTC boundary-aligned
    rows = [
        ("s", t0 + d * DAY_US + j, None, 1.0)
        for d in range(10)
        for j in range(5)
    ]
    eng.append_points(spark.createDataFrame(rows, POINT_SCHEMA))
    eng.compact()

    df = eng.range(["s"], t0 + 3 * DAY_US, t0 + 4 * DAY_US)
    p = plan(df)
    assert "PartitionFilters" in p
    assert "day" in p.split("PartitionFilters")[1].split("]")[0]
    assert df.count() == 6  # all of day 3 (5 pts) + the day-4 boundary point

    # physical proof: only the two matching day directories are read
    # (probe points() pre-sort: input_file_name is only defined below
    # the first exchange)
    files = {
        r[0]
        for r in eng.points(
            ["s"], ts_from=t0 + 3 * DAY_US, ts_to=t0 + 4 * DAY_US
        )
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    assert 1 <= len(files) <= 2
    assert all("/day=1666" in f for f in files)  # days 16667/16668 only


def test_correlated_subquery_is_decorrelated(spark):
    """Catalyst must rewrite the correlated scalar subquery into one
    per-key aggregate + equi-join — a per-outer-row rescan would show
    up as a nested-loop join and be quadratic at scale."""
    from nibbledb_spark.queries import QUERIES

    p = plan(QUERIES["subquery_correlated_above_own_avg"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "HashAggregate" in p and "Join" in p


def test_aqe_splits_skewed_join_partitions(spark):
    """The session's AQE skew-join handling must actually fire: a join
    where 90% of the left rows share one key gets its hot partition
    split into multiple tasks (SortMergeJoin(skew=true)) instead of one
    straggler task processing 90% of the data — the runtime half of the
    skew story (the static half is plans/scale.salted_join)."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        # thresholds scaled down so the test fixture's skew qualifies
        # (prod defaults are 256MB/advisory 64MB — same ratios)
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "128KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        left = spark.range(200_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id") % 1000).alias("k"),
            # incompressible payload: a hot key of bare longs RLE-shrinks
            # below the skew threshold and hides the skew from AQE
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        right = spark.range(1000).select(F.col("id").alias("k"), F.col("id").alias("rv"))
        q = left.join(right, "k").agg(
            F.sum(F.length("pad")).alias("lp"), F.count("*").alias("n")
        )
        q.collect()  # execute so the final adaptive plan exists
        p = plan(q, "simple")
        assert "skew=true" in p, p
    finally:
        for key, val in saved.items():
            if val is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, val)


def test_stream_interval_join_is_equi_join(spark):
    """The interval join must hash on the equality key with the time
    bounds as residual — a BroadcastNestedLoopJoin here would be the
    quadratic plan the operator exists to avoid."""
    from nibbledb_spark.queries import QUERIES

    p = plan(QUERIES["stream_interval_join"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "Join" in p


def test_connected_components_round_is_keyed_shuffles(spark):
    """One hash-min round = join on node + min-aggregate: both keyed
    exchanges, nothing resembling an all-pairs expansion."""
    from nibbledb_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(4 * j + k, 4 * j + k + 1) for j in range(12) for k in range(3)],
        "src long, dst long",
    )
    out = connected_components(edges, "src", "dst")
    p = plan(out)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert out.count() == 48  # 12 chains of 4


def test_connected_components_long_diameter_no_lineage_blowup(spark):
    """A 30-hop path needs ~30 hash-min rounds. Without per-round
    lineage truncation the logical plan doubles each round and planning
    OOMs near round 20 — this pins the localCheckpoint fix by actually
    converging past that point."""
    from nibbledb_spark.operators.graph import connected_components

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "src long, dst long"
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(path, "src", "dst", max_iter=40).collect()
    }
    assert got == {i: 0 for i in range(31)}


def test_bucketed_near_dup_has_no_nested_loop(spark):
    """embed_near_dup_pairs_bucketed is the oracle-paired SCALE path for
    embedding near-dup: candidates come from equi-joins on the SRP
    signature key, so the plan must contain hash/sort-merge joins only —
    a BroadcastNestedLoopJoin or CartesianProduct over the corpus is the
    quadratic baseline this query exists to avoid."""
    from nibbledb_spark.queries import QUERIES

    p = plan(QUERIES["embed_near_dup_pairs_bucketed"](spark, SF))
    assert "NestedLoop" not in p and "CartesianProduct" not in p
    assert "HashJoin" in p or "SortMergeJoin" in p


def test_stateful_replay_single_exchange_per_stage(spark):
    """stateful_series_stats replay: one window + one applyInPandas,
    both keyed on series — the plan must not shuffle anything wider
    than the series key (no join, no cartesian)."""
    from nibbledb_spark.queries import QUERIES

    p = plan(QUERIES["stateful_series_stats"](spark, SF))
    assert "Join" not in p and "CartesianProduct" not in p
    assert "FlatMapGroupsInArrow" in p or "FlatMapGroupsInPandas" in p


def test_round4_additions_plan_shapes(spark):
    """Plan pins for the round-4 relational/pipeline additions: the
    multi-join shapes must broadcast their dims (never nested-loop),
    sessionization must share ONE exchange across both windows and the
    final aggregate, and quantization must be exchange-free."""
    from nibbledb_spark.plans.scale import exchange_count
    from nibbledb_spark.queries import QUERIES

    q3 = QUERIES["q3_shipping_priority"](spark, SF)
    p3 = plan(q3)
    assert "BroadcastHashJoin" in p3
    assert "NestedLoop" not in p3 and "CartesianProduct" not in p3
    assert exchange_count(q3) <= 3  # join + agg + top-k ordering

    q5 = QUERIES["q5_local_supplier_volume"](spark, SF)
    p5 = plan(q5)
    assert "BroadcastHashJoin" in p5
    assert "NestedLoop" not in p5 and "CartesianProduct" not in p5
    # one big join path + final agg + cosmetic order: the dims must not
    # add shuffles of their own
    assert exchange_count(q5) <= 4

    sess = QUERIES["sessionize_events_gaps"](spark, SF)
    assert exchange_count(sess) == 1  # both windows + agg share user_id

    quant = QUERIES["embed_quantize_int8"](spark, SF)
    assert exchange_count(quant) == 0  # row-local

    keep = QUERIES["near_dup_keep_best"](spark, SF)
    pk = plan(keep)
    assert "CartesianProduct" not in pk
    assert "BroadcastNestedLoop" not in pk


def test_round4_second_batch_plan_shapes(spark):
    """Plan pins for the second round-4 batch: NOT IN must become a
    NULL-AWARE broadcast anti join (not a nested loop), the weighted
    sampler must be a shuffle-free TakeOrderedAndProject, and the two
    new ts operators must each cost exactly one exchange."""
    from nibbledb_spark.plans.scale import exchange_count
    from nibbledb_spark.queries import QUERIES

    notin = QUERIES["notin_suppliers_no_returns"](spark, SF)
    pn = plan(notin, "simple")
    # trailing `true` on the BHJ = isNullAwareAntiJoin; a NULL in the
    # subquery must empty the result, and the plan must still broadcast
    assert "LeftAnti, BuildRight, true" in pn
    assert "NestedLoop" not in pn and "CartesianProduct" not in pn
    assert exchange_count(notin) <= 1  # the broadcast side only

    wps = QUERIES["sample_weighted_priority"](spark, SF)
    pw = plan(wps, "simple")
    assert "TakeOrderedAndProject" in pw
    assert exchange_count(wps) == 0  # per-partition top-k, no shuffle

    # Materialized points cache: series-clustered layout satisfies the
    # (series, bucket) agg and the series window — zero per-query
    # shuffles (round-6 cache clustering; build shuffle paid once).
    from nibbledb_spark.sources.registry import points_from_events

    points_from_events(spark, SF).count()
    m4 = QUERIES["ts_downsample_m4"](spark, SF)
    assert exchange_count(m4) == 0  # agg rides the cache clustering

    rate = QUERIES["ts_rate_counter"](spark, SF)
    assert exchange_count(rate) == 0  # window rides the cache clustering


def test_pq_plan_shape(spark):
    """PQ ADC: codebook and LUT joins must be broadcast hash joins (the
    corpus code table never shuffles to meet them) and nothing may
    nested-loop."""
    from nibbledb_spark.queries import QUERIES

    pq = QUERIES["pq_ann_topk"](spark, SF)
    p = plan(pq, "simple")
    assert "BroadcastHashJoin" in p
    assert "NestedLoop" not in p and "CartesianProduct" not in p


def test_round4_third_batch_plan_shapes(spark):
    """Plan pins for the correlation/ntile/argmax additions: the pair
    join must broadcast the tiny bucket-mean table (never nested-loop),
    argmax must be ONE map-side-combined hash agg (no window, no join),
    and the unpartitioned ntile window must sit on top of a partial
    aggregate so only customer-cardinality rows reach one partition."""
    from nibbledb_spark.plans.scale import exchange_count
    from nibbledb_spark.queries import QUERIES

    corr = QUERIES["ts_corr_pairs"](spark, SF)
    pc = plan(corr, "simple")
    assert "BroadcastHashJoin" in pc
    assert "NestedLoop" not in pc and "CartesianProduct" not in pc
    # bucket agg + broadcast side + pair agg + cosmetic order
    assert exchange_count(corr) <= 4

    am = QUERIES["argmax_latest_order"](spark, SF)
    pa = plan(am, "simple")
    assert "partial_max_by" in pa  # shuffle carries merged argmax states
    assert "Window" not in pa and "Join" not in pa
    assert exchange_count(am) <= 2  # agg + cosmetic order

    nt = QUERIES["window_ntile_quartiles"](spark, SF)
    pn = plan(nt, "simple")
    assert "partial_sum" in pn  # spend reduces before the global window
    assert exchange_count(nt) <= 2  # agg + single-partition window


def test_round4_fourth_batch_plan_shapes(spark):
    """Plan pins for the bitwise-aggregate and higher-moment queries:
    both must be single map-side-combined hash aggregates — the merged
    state per key is a handful of int64s, so the shuffle carries
    per-partition partials, never raw events/points."""
    from nibbledb_spark.plans.scale import exchange_count
    from nibbledb_spark.queries import QUERIES

    bm = QUERIES["bitmask_user_event_flags"](spark, SF)
    pb = plan(bm, "simple")
    assert "partial_bit_or" in pb
    assert "Window" not in pb and "Join" not in pb
    assert exchange_count(bm) <= 2  # agg + cosmetic order

    mo = QUERIES["ts_moments_skew_kurt"](spark, SF)
    pm = plan(mo, "simple")
    assert "partial_sum" in pm
    assert "Window" not in pm and "Join" not in pm
    assert exchange_count(mo) <= 2


def test_round5_additions_plan_shapes(spark):
    """Plan pins for the round-5 query additions.

    q7: the two-nation name filters must reach the supplier/customer
    sides as broadcast-nation hash joins BEFORE the fact joins, and
    nothing may nested-loop despite the disjunctive pair predicate
    (it runs as a residual filter, not a join condition).
    q10: both fact scans carry pushed filters (orderdate range,
    returnflag) and the top-20 is a TakeOrdered, never a global sort.
    asof_nearest: the backward+forward composition stays window-based —
    no join at all, and only the one keyed exchange (plus AQE reuse).
    """
    from nibbledb_spark.plans.scale import exchange_count
    from nibbledb_spark.queries import QUERIES

    q7 = QUERIES["q7_volume_shipping"](spark, SF)
    p7 = plan(q7, "simple")
    assert "BroadcastHashJoin" in p7
    assert "NestedLoop" not in p7 and "CartesianProduct" not in p7

    q10 = QUERIES["q10_returned_items"](spark, SF)
    p10 = plan(q10, "simple")
    assert "TakeOrderedAndProject" in p10
    assert "NestedLoop" not in p10 and "CartesianProduct" not in p10
    pf = plan(q10, "formatted")
    assert pf.count("PushedFilters: [IsNotNull") >= 2  # both fact scans filter

    near = QUERIES["asof_nearest_purchase_to_click"](spark, SF)
    pn = plan(near, "simple")
    assert "Join" not in pn  # union + windows, never a join
    assert "Window" in pn


def test_round5_bound_query_plan_shapes(spark):
    """The bound-assertion queries must keep approx and exact in ONE
    plan without degrading either side: the HLL bound is two aggregates
    over one scan (no join — a single agg computes both), and the
    quantile bound joins the two per-series aggregates with a hash or
    sort-merge join on series, never a nested loop."""
    from nibbledb_spark.queries import QUERIES

    hll = QUERIES["approx_distinct_parts_bound"](spark, SF)
    ph = plan(hll, "simple")
    assert "Join" not in ph  # one aggregate computes approx AND exact

    qb = QUERIES["ts_quantiles_approx_bound"](spark, SF)
    pq = plan(qb, "simple")
    assert "NestedLoop" not in pq and "CartesianProduct" not in pq


def test_q18_q21_plan_shapes(spark):
    """Q18's IN-over-grouped-HAVING must plan as a semi join against
    the pre-aggregated key set (never a per-row subquery or nested
    loop); Q21's EXISTS/NOT-EXISTS pair must decorrelate into semi +
    anti joins on the order key."""
    from nibbledb_spark.queries import QUERIES

    q18 = QUERIES["q18_large_volume_customers"](spark, SF)
    p18 = plan(q18, "simple")
    assert "LeftSemi" in p18
    assert "NestedLoop" not in p18 and "CartesianProduct" not in p18

    q21 = QUERIES["q21_suppliers_kept_waiting"](spark, SF)
    p21 = plan(q21, "simple")
    assert "LeftSemi" in p21 and "LeftAnti" in p21
    assert "NestedLoop" not in p21 and "CartesianProduct" not in p21


def test_lttb_plan_shape(spark):
    """ts_downsample_lttb must stay the parallel form: hash aggregates
    + windows + one hash/SMJ join back to the points — no nested loop,
    no per-series sequential structure."""
    from nibbledb_spark.queries import QUERIES

    df = QUERIES["ts_downsample_lttb"](spark, SF)
    p = plan(df, "simple")
    assert "Window" in p and "HashAggregate" in p
    assert "NestedLoop" not in p and "CartesianProduct" not in p


def test_embed_label_cohesion_plan_shape(spark):
    """The centroid re-aggregation must come back as a BROADCAST join
    onto the corpus (centroids are labels x 64 doubles — KBs at any
    scale); the corpus itself is never nested-looped."""
    from nibbledb_spark.queries import QUERIES

    df = QUERIES["embed_label_cohesion"](spark, SF)
    p = plan(df, "simple")
    assert "BroadcastHashJoin" in p
    assert "NestedLoop" not in p and "CartesianProduct" not in p


def test_round6_substring_dedup_plan_shapes(spark):
    """Exact-substring dedup (Lee et al. span family) must stay
    equi-join + window shaped: anchors pair ONLY via the hash join on
    h (no nested loop / cartesian anywhere), the diagonal merge's two
    windows share one (d1, d2, diag) sort, and the extent sweep adds
    interval-union windows without any self-join."""
    from nibbledb_spark.queries import QUERIES

    sp = QUERIES["dedup_substring_spans"](spark, SF)
    ps = plan(sp, "simple")
    assert "NestedLoop" not in ps and "CartesianProduct" not in ps
    assert "HashJoin" in ps or "SortMergeJoin" in ps
    # lag flag + running-sum run-id ride the same window ordering
    assert ps.count("Window") >= 2

    ext = QUERIES["dedup_substring_extent"](spark, SF)
    pe = plan(ext, "simple")
    assert "NestedLoop" not in pe and "CartesianProduct" not in pe


def test_round6_tpch_plan_shapes(spark):
    """Plan pins for the round-6 TPC-H completions: q6 must push every
    predicate to the parquet scan (it IS the pushed-filter query); the
    three join queries must never nested-loop and must broadcast their
    fixed-size dims; q15's scalar-max comparison must be a broadcast
    equi-join (one row), not a window or cartesian."""
    from nibbledb_spark.plans.scale import exchange_count
    from nibbledb_spark.queries import QUERIES

    q6 = QUERIES["q6_forecast_revenue"](spark, SF)
    p6 = plan(q6)
    assert "GreaterThanOrEqual(l_shipdate" in p6
    assert "LessThan(l_quantity" in p6  # all three predicates pushed
    assert exchange_count(q6) <= 1  # single global-agg exchange

    for name in (
        "q8_national_market_share",
        "q14_promo_revenue",
        "q15_top_supplier",
    ):
        p = plan(QUERIES[name](spark, SF), "simple")
        assert "BroadcastHashJoin" in p
        assert "NestedLoop" not in p and "CartesianProduct" not in p

    # q8: the two fact shuffles only (dims broadcast; year-agg reuses)
    assert exchange_count(QUERIES["q8_national_market_share"](spark, SF)) <= 3
    assert "Window" not in plan(QUERIES["q15_top_supplier"](spark, SF), "simple")


def test_exchange_count_skips_cache_on_left_branch(spark):
    """Round-6 ADVICE regression: a materialized cache sitting on a
    join's LEFT (':-') branch prints its build plan on ':  '-prefixed
    continuation columns — same leading-SPACE count as the
    InMemoryRelation line itself — so a whitespace-only indent rule
    reset the skip mid-subtree and counted the build shuffle (twice,
    under AQE's Initial/Final double print). Contract: a cached build
    plan is never part of a query's shuffle budget, on any branch."""
    from nibbledb_spark.plans.scale import exchange_count, plan_string

    base = spark.range(1000).withColumn("k", (F.col("id") % 10).cast("int"))
    cached = base.groupBy("k").count().cache()
    try:
        cached.count()  # materialize: build plan prints under the cache scan
        dim = spark.range(10).select(F.col("id").cast("int").alias("k"))
        joined = cached.join(F.broadcast(dim), "k")
        p = plan_string(joined).split("\n\n", 1)[0]
        # precondition: the cache really is the ':-' left branch and its
        # build subtree really contains an Exchange — else the test is vacuous
        assert ":- " in p and "InMemoryRelation" in p and "Exchange" in p
        assert exchange_count(joined) == 0, p
    finally:
        cached.unpersist()


def test_staged_text_scores_survive_the_optimizer(spark):
    """The staged quality/lang score projections (r15 opt,
    text.quality_lang_keep / lang_id / quality_scores / token_stats)
    must SURVIVE optimization: each interpreted size(filter(...))
    marker count evaluates once per row in a projection, not once per
    CASE comparison re-inlined into the filter. ColumnPruning +
    PushPredicateThroughNonJoin silently undid a first version of this
    staging (an unused barrier column got pruned, then the predicate
    was substituted back); the committed form taints the __n column
    with `0 * monotonically_increasing_id()`, which is value-neutral
    but pins the filter above the projection. Measured 0.84 -> 0.39 s
    per cold corpus pass at sf0.1."""
    from nibbledb_spark.operators.pipeline import clean_corpus
    from nibbledb_spark.operators.text import (
        lang_id,
        quality_lang_keep,
        quality_scores,
        token_stats,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")

    # filter form: exactly one evaluation site for the en marker count
    # in the optimized single-reference plan (the filter consumes
    # __s_* attributes, not re-inlined HOFs)
    opt = (
        quality_lang_keep(docs)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "__s_en" in opt, "staging was re-inlined by the optimizer"
    assert opt.count("(the,a,of,and,is)") == 1, opt
    # and the staging survives inside the composed pipeline too (the
    # subtree is REFERENCED multiple times there, so count per subtree)
    pipe = clean_corpus(docs)._jdf.queryExecution().optimizedPlan().toString()
    assert "__s_en" in pipe, "staging was re-inlined inside clean_corpus"

    # projection forms: CollapseProject's expensive-expression guard
    # keeps the staging without any barrier
    for df, marker in (
        (lang_id(docs), "(the,a,of,and,is)"),
        (quality_scores(docs), "(the,a,of,and,is,to,in,that,it,for)"),
    ):
        p = df._jdf.queryExecution().optimizedPlan().toString()
        assert p.count(marker) == 1, p
    p = token_stats(docs)._jdf.queryExecution().optimizedPlan().toString()
    assert p.count("split(text") == 1, p


def _plan_audit_module():
    import importlib.util
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "plan_audit.py")
    spec = importlib.util.spec_from_file_location("plan_audit", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_committed_plan_audit_is_clean():
    """The committed PLANS.md is a complete audit: no query failed to
    plan and no zero-exchange pin is breached or stale."""
    pa = _plan_audit_module()
    with open(pa.PLANS_MD) as f:
        text = f.read()
    for section in ("Failed to plan", "INVARIANT BREACH", "INVARIANT PIN STALE"):
        assert section not in text, section
    assert "| ngram_jaccard_pairs |" in text


def test_plan_audit_rejects_non_directory_without_writing(tmp_path):
    pa = _plan_audit_module()
    before = open(pa.PLANS_MD).read()
    assert pa.main(["--help"]) == 2
    assert pa.main([str(tmp_path / "missing")]) == 2
    assert pa.main([str(tmp_path), "extra"]) == 2
    assert open(pa.PLANS_MD).read() == before
