"""Benchmark harness: times the headline queries end-to-end (plan +
execute + collect) at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS].

Prints exactly ONE JSON line to stdout:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>}

All diagnostics go to stderr so the driver can parse stdout.

Usage:
  python bench.py                 # headline set, one JSON line (now with
                                  # paired DuckDB timings per query)
  python bench.py --baseline      # also time DuckDB oracles (median of 5)
                                  # and print a markdown table to stderr
  python bench.py --stress-sweep  # x1 vs x10 input-linear scaling
                                  # exponents for the FULL headline set
  python bench.py --snapshots-stress  # concurrent writers + table-age
                                  # resolution scaling for the snapshot log
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Representative cross-section of the engine: tsdb core, relational
# (scan/join/window/agg), streaming window plan, and the LLM-pipeline
# extensions. Kept to ~a dozen so a bench round stays fast.
HEADLINE = [
    "q1_pricing_summary",
    "scan_checksum",
    "join_lineitem_orders_smj",
    "join_lineitem_part_broadcast",
    "window_top3_per_customer",
    "top10_orders",
    "ts_last_n",
    "ts_range",
    "ts_agg_float",
    "stream_tumbling_counts",
    "dedup_exact",
    "lsh_near_dup_pairs",
    "ngram_jaccard_pairs",
    "embed_cosine_topk",
    "ivf_ann_topk",
    "text_quality",
    "asof_last_purchase_before_click",
    "rollup_customers_region_nation",
    "moving_avg_7d",
    "clean_corpus",
    "dedup_substring_spans",
    "q8_national_market_share",
]


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def sf_of(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def time_spark(spark, fn, runs: int = 5) -> tuple[float, float, float]:
    # Materialize through Arrow (toPandas) — the engine's result path.
    # Py4J row-at-a-time collect() was the measured bottleneck on
    # wide/tall results (ts_range 0.113s -> 0.050s, window_top3 0.178s
    # -> 0.058s at sf0.1); the DuckDB baseline mirrors with .df() so
    # both sides pay one columnar-to-pandas hop, the same channel the
    # driver's correctness compare uses. Returns (median, min, max):
    # the spread rides the JSON so a single capture carries its own
    # noise band — cross-round ratios drift ±10-20% with the host
    # (round-13 verdict #2) and a "regression" inside the recorded
    # band is weather, not a plan change.
    samples = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn(spark, SF_DIR).toPandas()
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples), min(samples), max(samples)


def scale_trend(spark) -> None:
    """Time the flagship aggregation on lineitem unioned x1/x4/x10 (same
    driver parquet read repeatedly — no synthesized data) on Spark and
    DuckDB, to show where the fixed-overhead-vs-throughput crossover
    sits. Diagnostics only (stderr)."""
    import duckdb

    import pyspark.sql.functions as F

    path = os.path.join(SF_DIR, "lineitem.parquet")
    for mult in (1, 4, 10):
        li = None
        for _ in range(mult):
            d = spark.read.parquet(path)
            li = d if li is None else li.unionAll(d)
        q = (
            li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum(F.floor(F.col("l_quantity") * 100 + 0.5).cast("long")).alias("sq"),
                F.sum(
                    F.floor(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + 0.5
                    ).cast("long")
                ).alias("sdp"),
                F.count("*").alias("n"),
            )
        )
        q.collect()  # warm
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            q.collect()
            samples.append(time.perf_counter() - t0)
        sp = statistics.median(samples)

        con = duckdb.connect()
        union = " UNION ALL ".join(
            [f"SELECT * FROM read_parquet('{path}')"] * mult
        )
        sql = f"""
        SELECT l_returnflag, l_linestatus,
               SUM(CAST(FLOOR(l_quantity*100+0.5) AS BIGINT)) AS sq,
               SUM(CAST(FLOOR(l_extendedprice*(1-l_discount)*10000+0.5) AS BIGINT)) AS sdp,
               COUNT(*) AS n
        FROM ({union}) WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY 1, 2"""
        con.execute(sql).fetchall()  # warm
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            samples.append(time.perf_counter() - t0)
        duck = statistics.median(samples)
        log(
            f"scale x{mult:<2} (~{600_000 * mult:>8,} rows): "
            f"spark {sp:.3f}s  duckdb {duck:.3f}s  ratio {sp / duck:.2f}x"
        )


def ingest_throughput(spark) -> None:
    """Replay the sf events table through the streaming ingest path and
    report points/s (BASELINE.md: context vs the reference's one-
    serialized-HTTP-request-at-a-time ceiling). Diagnostics to stderr."""
    import shutil
    import tempfile

    from nibbledb_spark.engine import TimeSeriesEngine
    from nibbledb_spark.streaming.ingest import StreamingIngest

    work = tempfile.mkdtemp(prefix="bench_ingest_")
    try:
        eng = TimeSeriesEngine(spark, os.path.join(work, "store"))
        ing = StreamingIngest(eng, os.path.join(work, "ckpt"))
        t0 = time.perf_counter()
        ing.start_replay(SF_DIR)
        ing.sync()
        dt = time.perf_counter() - t0
        n = eng.points().count()
        log(
            f"streaming ingest: {n:,} points in {dt:.2f}s = "
            f"{n / dt:,.0f} points/s (availableNow replay, incl. store write)"
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


def engine_read_bench(spark) -> None:
    """Time the reference query surface against the engine's own
    bucket-partitioned store (ingested once from the sf events table) —
    the real tsdb read path with partition pruning + row-group stats,
    rather than the per-query events->points mapping the declared
    queries use. Diagnostics to stderr."""
    import shutil
    import tempfile

    from nibbledb_spark.engine import TimeSeriesEngine
    from nibbledb_spark.sources.registry import points_from_events

    work = tempfile.mkdtemp(prefix="bench_engine_")
    try:
        eng = TimeSeriesEngine(spark, os.path.join(work, "store"))
        pts = points_from_events(spark, SF_DIR)
        t0 = time.perf_counter()
        eng.append_points(pts)
        log(f"engine store build: {time.perf_counter() - t0:.2f}s")
        series = eng.names()
        one, many = series[0], series[: min(3, len(series))]
        lo, hi = [
            (r["mn"], r["mx"])
            for r in pts.selectExpr("min(ts) AS mn", "max(ts) AS mx").collect()
        ][0]
        mid = (lo + hi) // 2
        cases = {
            "last_100": lambda: eng.last(many, 100).collect(),
            "latest": lambda: eng.latest([one]).collect(),
            "since_mid": lambda: eng.since([one], mid).count(),
            "range_mid": lambda: eng.range(many, mid, hi).count(),
            "agg_median": lambda: eng.aggregate([one], "median"),
            "length": lambda: eng.length(many),
        }
        for name, fn in cases.items():
            fn()
            samples = []
            for _ in range(5):
                t0 = time.perf_counter()
                fn()
                samples.append(time.perf_counter() - t0)
            log(f"engine {name}: {statistics.median(samples):.3f}s")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def ann_index_bench(spark) -> None:
    """IVF vs IVF+PQ persisted-index trade on the bench-SF embeddings:
    build time, query time (same nprobe), and the on-disk size of the
    posting lists — the number the PQ design exists for (codes instead
    of vectors in every probed partition). Diagnostics to stderr
    (BASELINE.md: ANN index section)."""
    import shutil
    import statistics
    import tempfile
    import time

    from pyspark.sql import functions as F

    from nibbledb_spark.operators.similarity import (
        build_ivf_index,
        build_ivfpq_index,
        ivf_topk_indexed,
        ivfpq_topk_indexed,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 16)
    work = tempfile.mkdtemp(prefix="annbench_")

    def dir_bytes(p: str) -> int:
        total = 0
        for root, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total

    try:
        for name, build, query in (
            (
                "ivf",
                lambda p: build_ivf_index(emb, p, n_centroids=16, kmeans_iters=3),
                lambda p: ivf_topk_indexed(spark, p, queries, 10, nprobe=3),
            ),
            (
                "ivfpq",
                lambda p: build_ivfpq_index(emb, p, n_centroids=16, kmeans_iters=3),
                lambda p: ivfpq_topk_indexed(spark, p, queries, 10, nprobe=3),
            ),
        ):
            path = f"{work}/{name}"
            t0 = time.perf_counter()
            build(path)
            log(f"ann {name} build: {time.perf_counter() - t0:.3f}s")
            log(f"ann {name} postings bytes: {dir_bytes(path + '/postings'):,}")
            query(path).collect()  # warm the plan
            samples = []
            for _ in range(5):
                t0 = time.perf_counter()
                query(path).collect()
                samples.append(time.perf_counter() - t0)
            log(f"ann {name} query (16 q, nprobe 3): {statistics.median(samples):.3f}s")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def snapshot_bench(spark) -> None:
    """Versioned-store operation costs on orders at the bench SF:
    append, merge upsert, predicate delete, head + time-travel reads.
    Diagnostics to stderr (BASELINE.md: snapshot-log section)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from nibbledb_spark.snapshots import SnapshotLog

    work = tempfile.mkdtemp(prefix="bench_snap_")
    try:
        orders = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
        n = orders.count()
        tbl = SnapshotLog(spark, os.path.join(work, "tbl"), stats_cols=("o_orderkey",))

        def timed(name, fn):
            t0 = time.perf_counter()
            out = fn()
            log(f"snapshot {name}: {time.perf_counter() - t0:.3f}s")
            return out

        timed(f"append {n:,} rows", lambda: tbl.append(orders))
        timed(
            "append 2nd batch",
            lambda: tbl.append(orders.where("o_orderkey % 7 = 0")),
        )
        upd = orders.where("o_orderkey % 1000 = 0").withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        )
        timed(f"merge {upd.count():,} upserts", lambda: tbl.merge(upd, ["o_orderkey"]))
        timed(
            "delete o_orderstatus='P'",
            lambda: tbl.delete_where("o_orderstatus = 'P'"),
        )
        kill = orders.where("o_orderkey % 997 = 0").select("o_orderkey")
        timed(
            f"delete_keys {kill.count():,} keys",
            lambda: tbl.delete_keys(kill, ["o_orderkey"]),
        )
        timed(
            "evolve schema (merge_schema append, 1 row)",
            lambda: tbl.append(
                orders.limit(1).withColumn("o_flag", F.lit(1).cast("long")),
                merge_schema=True,
            ),
        )
        timed(
            "zorder compact (o_orderkey, o_custkey)",
            lambda: tbl.compact(
                target_files=8, zorder_by=("o_orderkey", "o_custkey")
            ),
        )
        timed("head read count", lambda: tbl.read().count())
        timed("time-travel v0 count", lambda: tbl.read(version=0).count())
        timed(
            "stats-pruned read",
            lambda: tbl.read(bounds={"o_orderkey": (0, 1000)}).count(),
        )
        # metadata-only branch: cost must not scale with table bytes
        branch = timed(
            f"shallow clone ({n:,}-row table)",
            lambda: tbl.clone(os.path.join(work, "branch")),
        )
        timed("clone head read count", lambda: branch.read().count())
        timed(
            "changes_between full history (rows)",
            lambda: tbl.changes_between(0, tbl.latest_version()).count(),
        )
        log(f"snapshot history: {[e['op'] for e in tbl.history()]}")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def dv_tax_bench(spark) -> None:
    """Measure the deletion-vector READ tax (round-9 verdict #2): at a
    fixed data size (orders at the bench SF in 128 range files), time
    head reads with 0 / 8 / 32 / 128 DV'd files under BOTH batch
    shapes — the per-file position-only anti-join and the single
    batched path-keyed anti-join — plus the post-compact() baseline
    (vectors materialized, zero DVs). Each DV holds ONE position, so
    the numbers isolate the per-file plan overhead the
    _DV_BATCH_THRESHOLD=32 switch exists to bound, not per-row work.
    Diagnostics to stderr (BASELINE.md: DV read tax section)."""
    import shutil
    import statistics as _st
    import tempfile

    import nibbledb_spark.snapshots as snap
    from nibbledb_spark.snapshots import SnapshotLog

    work = tempfile.mkdtemp(prefix="bench_dvtax_")
    try:
        orders = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
        tbl = SnapshotLog(
            spark, os.path.join(work, "tbl"), stats_cols=("o_orderkey",)
        )
        tbl.append(
            orders.repartitionByRange(128, "o_orderkey"), optimize_write=False
        )
        files = tbl.files()
        # one key per file: each file's min o_orderkey (range files =>
        # unique ownership), so k DV'd files carry k one-row vectors
        mins = sorted(fe.stats["o_orderkey"][0] for fe in files)
        n = tbl.read().count()
        log(f"dv-tax: {len(files)} files, {n:,} rows at {SF_DIR}")
        log("| dv'd files | per-file shape (s) | batched shape (s) | default picks |")
        log("|---|---|---|---|")

        def t_read(runs: int = 3) -> float:
            s = []
            for _ in range(runs):
                t0 = time.perf_counter()
                tbl.read().toPandas()
                s.append(time.perf_counter() - t0)
            return _st.median(s)

        base = t_read()
        log(f"| 0 | {base:.3f} | {base:.3f} | (no DVs) |")
        done = 0
        default_thr = snap._DV_BATCH_THRESHOLD
        for k in (1, 2, 4, 8, 32, 128):
            k = min(k, len(files))
            new_keys = mins[done:k]
            if new_keys:
                tbl.delete_keys(
                    spark.createDataFrame(
                        [(int(x),) for x in new_keys], "o_orderkey long"
                    ),
                    ["o_orderkey"],
                    mode="dv",
                )
            done = k
            dvd = sum(1 for fe in tbl.files() if fe.dv)
            try:
                snap._DV_BATCH_THRESHOLD = 10**9
                per_file = t_read()
                snap._DV_BATCH_THRESHOLD = 0
                batched = t_read()
            finally:
                snap._DV_BATCH_THRESHOLD = default_thr
            rows_dvd = sum(fe.rows for fe in tbl.files() if fe.dv)
            picks = (
                "per-file"
                if dvd * snap._DV_PER_FILE_S
                <= snap._DV_BATCH_FIXED_S + rows_dvd * snap._DV_BATCH_ROW_S
                else "batched"
            )
            log(f"| {dvd} | {per_file:.3f} | {batched:.3f} | {picks} |")
        tbl.compact(target_files=8)
        log(f"| post-compact (0) | {t_read():.3f} |  | (materialized) |")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def stress_bench(spark) -> None:
    """xN-union stress protocol (BASELINE.md: Scale stress) for the two
    heaviest declared pipelines: replicate the sf tables with remapped
    ids so every row gains N-1 planted exact clones — the worst case
    for near-dup candidate blowup — and show cost stays bounded by the
    PAIR LIST (keep-best) / corpus-linear ADC scan (PQ), never
    quadratic in the corpus. Diagnostics to stderr."""
    import pyspark.sql.functions as F

    from nibbledb_spark.operators.dedup import near_dup_components
    from nibbledb_spark.operators.similarity import pq_adc_topk
    from nibbledb_spark.operators.text import quality_scores
    from pyspark.sql import Window

    def replicate(df, id_col, mult):
        out = None
        for kk in range(mult):
            d = df.withColumn(id_col, F.col(id_col) + F.lit(kk * 10_000_000))
            out = d if out is None else out.unionByName(d)
        return out

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    for mult in (1, 10):
        stressed = replicate(docs, "doc_id", mult)
        t0 = time.perf_counter()
        comp = near_dup_components(stressed, threshold=0.5)
        q = quality_scores(stressed).select("doc_id", "quality_score")
        joined = comp.join(q, "doc_id")
        w = Window.partitionBy("component").orderBy(
            F.col("quality_score").desc(), F.col("doc_id").asc()
        )
        out = (
            joined.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("component", F.col("doc_id").alias("keep_id"))
        )
        n = out.count()
        log(
            f"stress near_dup_keep_best x{mult:<3} ({stressed.count():>6,} docs): "
            f"{time.perf_counter() - t0:.1f}s -> {n:,} canonical clusters"
        )

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    for mult in (1, 10, 100):
        e = replicate(emb, "vec_id", mult)
        queries = emb.where(F.col("vec_id") < 5)
        df = pq_adc_topk(e, queries, 3)
        df.count()  # warm (codebook build + encode plan)
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            df.count()
            samples.append(time.perf_counter() - t0)
        log(
            f"stress pq_ann_topk x{mult:<3} ({e.count():>7,} vectors): "
            f"{statistics.median(samples):.2f}s per ADC scan (prepared)"
        )


def snapshot_stress(spark) -> None:
    """Concurrency + table-age stress for the snapshot log (round-5
    verdict #7): (a) resolution time vs commit count — checkpoints must
    keep head reads O(checkpoint_every), not O(commits); (b) N parallel
    appender threads racing a compactor — exactly-once row accounting
    must survive CAS retries, and compaction conflicts must surface as
    clean CommitConflict, never corruption. Diagnostics to stderr."""
    import shutil
    import tempfile
    import threading

    from nibbledb_spark.snapshots import CommitConflict, SnapshotLog

    work = tempfile.mkdtemp(prefix="bench_snapstress_")
    try:
        # --- (a) table-age scaling -------------------------------------
        tbl = SnapshotLog(
            spark, os.path.join(work, "age"), checkpoint_every=10
        )
        batch = spark.range(1000).selectExpr(
            "id AS k", "CAST(id % 97 AS DOUBLE) AS v"
        )
        probe_at = (10, 50, 100, 200)
        t_total0 = time.perf_counter()
        for i in range(1, max(probe_at) + 1):
            tbl.append(batch)
            if i in probe_at:
                samples = []
                for _ in range(3):
                    t0 = time.perf_counter()
                    n = tbl.read().count()
                    samples.append(time.perf_counter() - t0)
                log(
                    f"snapshot-stress age={i:>3} commits: head read "
                    f"{statistics.median(samples):.3f}s ({n:,} rows, "
                    f"{i} versions)"
                )
        log(
            f"snapshot-stress {max(probe_at)} appends took "
            f"{time.perf_counter() - t_total0:.1f}s "
            f"({max(probe_at) / (time.perf_counter() - t_total0):.1f} commits/s)"
        )
        # The age curve above is FILE-COUNT cost, not manifest cost
        # (each append leaves multiple small files); compaction is the
        # designed answer — measure the same head read after one pass.
        n_files_before = len(tbl.files())
        t0 = time.perf_counter()
        tbl.compact(target_files=8)
        t_compact = time.perf_counter() - t0
        n_files_after = len(tbl.files())
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            n = tbl.read().count()
            samples.append(time.perf_counter() - t0)
        log(
            f"snapshot-stress post-compact: {n_files_before} files -> "
            f"{n_files_after} "
            f"in {t_compact:.1f}s; head read "
            f"{statistics.median(samples):.3f}s ({n:,} rows, "
            f"{max(probe_at) + 1} versions)"
        )

        # --- (b) concurrent appenders + compactor ----------------------
        tbl2 = SnapshotLog(
            spark, os.path.join(work, "conc"), checkpoint_every=10
        )
        tbl2.append(batch)  # non-empty so the compactor has work
        n_writers, n_appends, rows_per = 4, 15, 500
        conflicts = {"compact": 0}
        errors: list[BaseException] = []

        def writer(wid: int) -> None:
            try:
                df = spark.range(rows_per).selectExpr(
                    f"id + {wid * 1_000_000} AS k",
                    "CAST(id AS DOUBLE) AS v",
                )
                for _ in range(n_appends):
                    tbl2.append(df)  # retries CommitConflict internally
            except BaseException as exc:  # surface, don't swallow
                errors.append(exc)

        stop = threading.Event()

        def compactor() -> None:
            while not stop.is_set():
                try:
                    tbl2.compact(target_files=4)
                except CommitConflict:
                    conflicts["compact"] += 1
                except BaseException as exc:
                    errors.append(exc)
                    return
                stop.wait(0.3)

        t0 = time.perf_counter()
        threads = [
            threading.Thread(target=writer, args=(w,)) for w in range(n_writers)
        ]
        ct = threading.Thread(target=compactor)
        for t in threads:
            t.start()
        ct.start()
        for t in threads:
            t.join()
        stop.set()
        ct.join()
        wall = time.perf_counter() - t0
        assert not errors, errors
        expect = 1000 + n_writers * n_appends * rows_per
        got = tbl2.read().count()
        hist = tbl2.history()
        n_compacts = sum(1 for e in hist if e["op"] == "compact")
        log(
            f"snapshot-stress concurrent: {n_writers} writers x "
            f"{n_appends} appends ({rows_per} rows each) + compactor in "
            f"{wall:.1f}s -> rows {got:,} (expected {expect:,}, "
            f"{'OK' if got == expect else 'MISMATCH'}); "
            f"{len(hist)} commits, {n_compacts} compactions landed, "
            f"{conflicts['compact']} compactor conflicts retried away"
        )
        assert got == expect, (got, expect)
        # the rebasing commit must keep the compactor LIVE under load —
        # before it, version-CAS starved every attempt (0 landed)
        assert n_compacts > 0, "compactor starved: no compaction landed"
    finally:
        shutil.rmtree(work, ignore_errors=True)


STRESS_OFFSET = 10_000_000
# Key columns offset per replica so every table's referential structure is
# preserved WITHIN a replica and replicas never cross-join. region/nation
# (25/5-row broadcast dims) stay single-copy — replicating a broadcast dim
# would change the plan class under test, not just the data volume.
STRESS_KEYS = {
    "region": (),
    "nation": (),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}


def _build_stress_dir(spark, mult: int, root: str) -> str:
    """Materialize an input-linear xN copy of the sf tables under
    ``root/x{mult}``: every keyed table unions N replicas with offset
    keys; document TEXT gets a per-replica token suffix so duplicated
    CONTENT does not multiply across replicas — pair-emitting dedup
    queries then have xN outputs (input-linear), and the sweep measures
    PLAN scaling, not the clone-cluster blowup (that worst case is
    covered separately by --stress). Reused across runs via a _DONE
    marker."""
    import pyspark.sql.functions as F

    from nibbledb_spark.sources.registry import TABLES, load_table

    out_dir = os.path.join(root, f"x{mult}")
    marker = os.path.join(out_dir, "_DONE")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for table in TABLES:
        df = load_table(spark, table, SF_DIR)
        keys = STRESS_KEYS[table]
        if mult == 1 or not keys:
            out = df
        else:
            parts = []
            for k in range(mult):
                d = df
                for c in keys:
                    d = d.withColumn(c, F.col(c) + F.lit(k * STRESS_OFFSET))
                if table == "documents" and k > 0:
                    d = d.withColumn(
                        "text",
                        F.regexp_replace("text", r"(\S+)", f"$1~r{k}"),
                    )
                parts.append(d)
            out = parts[0]
            for d in parts[1:]:
                out = out.unionByName(d)
        out.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{table}.parquet")
        )
    open(marker, "w").close()
    return out_dir


DEEP_QUERIES = (
    "lsh_near_dup_pairs",
    "ngram_jaccard_pairs",
    "dedup_substring_spans",
)

# Per-execution wall cap for paired DuckDB oracle runs at stress scales:
# a super-linear DuckDB plan at x100 must not hang the sweep. A capped
# query reports None (printed '-') — recorded as not-completing there.
DUCK_BUDGET_S = 900


def _duck_connect(sf_dir: str):
    """DuckDB connection with the 10 table views over ``sf_dir`` —
    handles both single-file parquet (the driver testdata) and
    Spark-written parquet directories (the stress replica dirs)."""
    import duckdb

    con = duckdb.connect()
    tables = (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split()
    for t in tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if not os.path.exists(p):
            continue
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def _duck_median(con, sql: str, runs: int, budget_s: int = DUCK_BUDGET_S):
    """Warm + median-of-``runs`` through the pandas channel (same
    protocol as the Spark side's toPandas). A watchdog thread interrupts
    any single execution that exceeds ``budget_s``; any failure returns
    None so the sweep continues."""
    import threading

    samples = []
    try:
        for i in range(runs + 1):  # iteration 0 is the warm run
            fired = threading.Event()

            def _interrupt():
                fired.set()
                con.interrupt()

            timer = threading.Timer(budget_s, _interrupt)
            timer.start()
            try:
                t0 = time.perf_counter()
                con.execute(sql).df()
                dt = time.perf_counter() - t0
            finally:
                timer.cancel()
                if fired.is_set():
                    # The watchdog fired as (or just after) this execution
                    # finished: the interrupt may still be pending on the
                    # shared connection and would abort the NEXT query run
                    # on it — absorb it with a throwaway statement.
                    try:
                        con.execute("SELECT 1").fetchall()
                    except Exception:  # noqa: BLE001 — absorbing the stray interrupt
                        pass
            if fired.is_set():
                # Even if the result squeaked in, it consumed the whole
                # budget — report capped, same as a true interrupt.
                raise TimeoutError(f"exceeded {budget_s}s watchdog budget")
            if i:
                samples.append(dt)
        return statistics.median(samples)
    except Exception as e:  # noqa: BLE001 — interrupt/OOM/type errors all mean "no number"
        log(f"    duckdb failed/capped: {type(e).__name__}: {str(e)[:120]}")
        return None


def _paired_duck_pass(
    dirs: dict, names: list, results: dict, label: str
) -> None:
    """Shared tail of --stress-deep / --stress-sweep: per scale, time
    each query's DuckDB oracle over the SAME replica dir (one connection
    per scale, after all Spark timing so the engines' runs never
    interleave), record duck_x{m}_s / ratio_x{m} into ``results``, then
    print the dynamic-column markdown table."""
    from nibbledb_spark.queries import ORACLE

    for mult in sorted(dirs):
        con = _duck_connect(dirs[mult])
        for name in names:
            sql = ORACLE.get(name)
            if sql is None:
                continue
            d = _duck_median(con, sql, runs=3 if mult < 100 else 2)
            if d is not None:
                results[name][f"duck_x{mult}_s"] = round(d, 4)
                results[name][f"ratio_x{mult}"] = round(
                    results[name][f"x{mult}_s"] / d, 2
                )
                log(
                    f"{label} duckdb {name} x{mult}: {d:.3f}s "
                    f"(ratio {results[name][f'ratio_x{mult}']:.2f}x)"
                )
        con.close()

    cols: list = []
    for r in results.values():
        cols += [c for c in r if c not in cols]
    log("\n| query | " + " | ".join(cols) + " |")
    log("|---|" + "---|" * len(cols))
    for name, r in results.items():
        log(
            f"| {name} | "
            + " | ".join(f"{r[c]:.3f}" if c in r else "-" for c in cols)
            + " |"
        )


def _deep_dirs(spark) -> dict[int, str]:
    """Build (or reuse via _DONE markers) the documents-only x1/x10/x100
    replica dirs under /tmp — shared by --stress-deep and --deep-extras.
    Per-replica token salting (``~rK``) keeps duplicated CONTENT from
    multiplying across replicas, so pair-emitting dedup output stays
    input-linear and the BPE vocabulary grows with the corpus (the
    honest scale shape for merge learning)."""
    import tempfile

    import pyspark.sql.functions as F

    from nibbledb_spark.sources.registry import load_table

    root = os.path.join(tempfile.gettempdir(), "nibble_stress_deep")
    dirs: dict[int, str] = {}
    for mult in (1, 10, 100):
        out_dir = os.path.join(root, f"x{mult}")
        marker = os.path.join(out_dir, "_DONE")
        dirs[mult] = out_dir
        if os.path.exists(marker):
            continue
        os.makedirs(out_dir, exist_ok=True)
        df = load_table(spark, "documents", SF_DIR)
        parts = []
        for k in range(mult):
            d = df.withColumn("doc_id", F.col("doc_id") + F.lit(k * STRESS_OFFSET))
            if k > 0:
                d = d.withColumn(
                    "text", F.regexp_replace("text", r"(\S+)", f"$1~r{k}")
                )
            parts.append(d)
        out = parts[0]
        for d in parts[1:]:
            out = out.unionByName(d)
        t0 = time.perf_counter()
        out.write.mode("overwrite").parquet(
            os.path.join(out_dir, "documents.parquet")
        )
        open(marker, "w").close()
        log(f"deep-dir build x{mult}: {time.perf_counter() - t0:.1f}s")
    return dirs


def stress_deep(spark) -> None:
    """x1 / x10 / x100 two-decade scaling for the candidate-join dedup
    trio — the three headline queries whose work is genuinely ~linear
    in candidates and whose sweep exponents sit highest (0.45-0.78 at
    x10). Replicates ONLY the documents table (these pipelines read
    nothing else), per-replica-salted like the sweep so output stays
    input-linear. Reports the per-decade exponent; both decades <= ~1
    = the plans hold through 500k docs. One JSON line to stdout."""
    import math
    import tempfile

    import pyspark.sql.functions as F

    from nibbledb_spark.queries import QUERIES
    from nibbledb_spark.sources.registry import load_table

    dirs = _deep_dirs(spark)

    results: dict[str, dict] = {}
    for name in DEEP_QUERIES:
        fn = QUERIES[name]
        per = {}
        for mult in (1, 10, 100):
            fn(spark, dirs[mult]).toPandas()  # warm
            samples = []
            for _ in range(3 if mult < 100 else 2):
                t0 = time.perf_counter()
                n = len(fn(spark, dirs[mult]).toPandas())
                samples.append(time.perf_counter() - t0)
            per[mult] = statistics.median(samples)
            log(f"stress-deep {name} x{mult}: {per[mult]:.3f}s ({n:,} rows)")
        results[name] = {
            "x1_s": round(per[1], 4),
            "x10_s": round(per[10], 4),
            "x100_s": round(per[100], 4),
            "exp_decade1": round(math.log10(per[10] / per[1]), 3),
            "exp_decade2": round(math.log10(per[100] / per[10]), 3),
        }

    # Same-sitting DuckDB oracle pass per decade (dirs hold only the
    # documents table — _duck_connect registers what exists; the trio's
    # oracles read nothing else).
    _paired_duck_pass(dirs, DEEP_QUERIES, results, "stress-deep")
    print(
        json.dumps(
            {
                "metric": "stress_deep_exponents",
                "unit": "log10 per decade",
                "queries": results,
                "sf": sf_of(SF_DIR),
            }
        )
    )


def stress_sweep(spark, mults: tuple = (1, 10)) -> None:
    """Input-linear scaling sweep over the FULL headline set (round-5
    verdict #3): per query, warm + median-of-3 at each scale, reporting
    the per-decade scaling exponent log10(t_next / t_prev) between
    consecutive mults. Exponent <= ~1 = corpus-linear or better (fixed
    per-query overhead deflates it); anything clearly above 1 needs a
    named cause. Pass --x100 for the (1, 10, 100) two-decade form —
    60M-row lineitem replicas, the full-relational-surface complement
    of --stress-deep's documents-only x100. Diagnostics to stderr; a
    one-line JSON summary to stdout.

    PAIRED: every (query, scale) cell also times the DuckDB oracle over
    the SAME replica dir in the same sitting (round-7 verdict #1) —
    x10/x100 is where Spark's fixed per-query overhead stops dominating,
    so ratio_x10/ratio_x100 are the host-invariant at-scale numbers the
    sf0.1 optics can't provide. sessionize_events_gaps (the one weak
    bench row) rides along even though it is not in the headline set."""
    import tempfile

    from nibbledb_spark.queries import ORACLE, QUERIES

    root = os.path.join(tempfile.gettempdir(), "nibble_stress_sweep")
    import math

    dirs = {}
    for mult in mults:
        t0 = time.perf_counter()
        dirs[mult] = _build_stress_dir(spark, mult, root)
        log(f"stress-sweep build x{mult}: {time.perf_counter() - t0:.1f}s")

    sweep_names = HEADLINE + ["sessionize_events_gaps"]
    results: dict[str, dict] = {}
    for name in sweep_names:
        fn = QUERIES[name]
        per_mult = {}
        for mult in mults:
            fn(spark, dirs[mult]).toPandas()  # warm plan + JIT
            samples = []
            for _ in range(3 if mult <= 10 else 2):
                t0 = time.perf_counter()
                fn(spark, dirs[mult]).toPandas()
                samples.append(time.perf_counter() - t0)
            per_mult[mult] = statistics.median(samples)
        r = {f"x{m}_s": round(per_mult[m], 4) for m in mults}
        for prev, nxt in zip(mults, mults[1:]):
            r[f"exp_x{prev}_x{nxt}"] = round(
                math.log10(per_mult[nxt] / per_mult[prev]), 3
            )
        results[name] = r
        log(
            f"stress-sweep {name}: "
            + "  ".join(f"x{m} {per_mult[m]:.3f}s" for m in mults)
        )

    # Same-sitting DuckDB pass, one connection per scale (views over the
    # replica dirs), after ALL Spark timing so neither engine's runs
    # interleave with the other's memory pressure.
    _paired_duck_pass(dirs, sweep_names, results, "stress-sweep")
    print(
        json.dumps(
            {
                "metric": "stress_sweep_exponents",
                "unit": "log10 per decade",
                "queries": results,
                "sf": sf_of(SF_DIR),
            }
        )
    )


def deep_extras(spark) -> None:
    """Round-9 verdict items #2/#3 over the deep replica dirs, paired:

    1. ``bpe_learn_merges`` at x1/x10/x100 — the round-8 row stopped at
       x10 (22.9x DuckDB) with the fixed-cost argument unmeasured at the
       scale where it bites; this either shows the crossover (DuckDB's
       in-process learn replay grows with corpus/vocab while Spark's
       per-round argmax stays flat) or records the measured ratio.
    2. Probe-only latency for the persisted incremental LSH index: build
       the index once per scale (untimed, logged), then time
       ``lsh_query_near_dups`` alone — the production claim ("query cost
       tracks the probe batch") the declared build+add+query row can't
       show. The DuckDB pair gets the same courtesy: corpus-side
       shingle/band tables materialized once untimed, probe SQL timed.
    """
    import math
    import shutil
    import tempfile

    from nibbledb_spark.operators.dedup import build_lsh_index, lsh_query_near_dups
    from nibbledb_spark.queries import ORACLE, QUERIES, _lsh_probe_sqls

    dirs = _deep_dirs(spark)
    results: dict[str, dict] = {}

    # --- 1) BPE learn, Spark side --------------------------------------
    fn = QUERIES["bpe_learn_merges"]
    per: dict[int, float] = {}
    for mult in (1, 10, 100):
        fn(spark, dirs[mult]).toPandas()  # warm
        samples = []
        for _ in range(3 if mult < 100 else 2):
            t0 = time.perf_counter()
            n = len(fn(spark, dirs[mult]).toPandas())
            samples.append(time.perf_counter() - t0)
        per[mult] = statistics.median(samples)
        log(f"deep-extras bpe_learn_merges x{mult}: {per[mult]:.3f}s ({n} merges)")
    results["bpe_learn_merges"] = {
        "x1_s": round(per[1], 4),
        "x10_s": round(per[10], 4),
        "x100_s": round(per[100], 4),
        "exp_decade1": round(math.log10(per[10] / per[1]), 3),
        "exp_decade2": round(math.log10(per[100] / per[10]), 3),
    }

    # --- 2) LSH probe-only, Spark side ----------------------------------
    # Two rows: cold (bare path — the one-shot shape, index parquet
    # re-read per probe) and WARM (round 10: lsh_open_index handle with
    # the three tables persisted once — the probe-many crawl-loop
    # shape, and the apples-to-apples pair for DuckDB's materialized
    # in-memory temp tables).
    from nibbledb_spark.operators.dedup import lsh_open_index

    idx_root = os.path.join(tempfile.gettempdir(), "nibble_deep_lshidx")
    per = {}
    per_warm = {}
    per_bucketed = {}
    rows_at: dict[int, int] = {}
    for mult in (1, 10, 100):
        docs = spark.read.parquet(os.path.join(dirs[mult], "documents.parquet"))
        idx = os.path.join(idx_root, f"x{mult}")
        if not os.path.exists(idx):
            t0 = time.perf_counter()
            build_lsh_index(docs.where("doc_id % 5 <> 0"), idx)
            log(
                f"deep-extras lsh index build x{mult}: "
                f"{time.perf_counter() - t0:.1f}s (amortized, untimed)"
            )
        probe = docs.where("doc_id % 5 = 0")
        lsh_query_near_dups(spark, idx, probe, threshold=0.8).toPandas()  # warm
        samples = []
        for _ in range(3 if mult < 100 else 2):
            t0 = time.perf_counter()
            rows_at[mult] = len(
                lsh_query_near_dups(spark, idx, probe, threshold=0.8).toPandas()
            )
            samples.append(time.perf_counter() - t0)
        per[mult] = statistics.median(samples)
        log(
            f"deep-extras lsh_probe_only x{mult}: {per[mult]:.3f}s "
            f"({rows_at[mult]:,} pairs)"
        )
        handle = lsh_open_index(spark, idx)
        try:
            lsh_query_near_dups(spark, handle, probe, threshold=0.8).toPandas()
            samples = []
            for _ in range(3 if mult < 100 else 2):
                t0 = time.perf_counter()
                n_warm = len(
                    lsh_query_near_dups(
                        spark, handle, probe, threshold=0.8
                    ).toPandas()
                )
                samples.append(time.perf_counter() - t0)
            if n_warm != rows_at[mult]:
                log(
                    f"deep-extras WARNING x{mult}: warm probe rows {n_warm} "
                    f"!= cold {rows_at[mult]}"
                )
        finally:
            handle.close()
        per_warm[mult] = statistics.median(samples)
        log(f"deep-extras lsh_probe_warm x{mult}: {per_warm[mult]:.3f}s")

        # BUCKETED band-table probe (round 12): the disk-resident
        # co-located-join shape — bands published bucketBy(band,bucket)
        # so the probe's band join needs NO corpus-side exchange even
        # when the index outgrows executor memory. Broadcast stays OFF
        # during the measurement to pin the at-scale SMJ shape (at
        # small multiples the planner would otherwise broadcast the
        # probe side and hide the exchange being measured). Build
        # (one-time rewrite) is amortized/untimed like the index build.
        from nibbledb_spark.operators.dedup import lsh_bucketize_bands

        btable = f"bench_lsh_bands_x{mult}"
        if not spark.catalog.tableExists(btable):
            # the in-memory catalog forgets tables across processes but
            # the warehouse directory survives — clear any orphan so
            # the errorifexists write can't trip over a prior run
            import shutil as _shutil

            wdir = spark.conf.get(
                "spark.sql.warehouse.dir", "spark-warehouse"
            ).replace("file:", "")
            _shutil.rmtree(os.path.join(wdir, btable.lower()), ignore_errors=True)
            t0 = time.perf_counter()
            lsh_bucketize_bands(spark, idx, btable, n_buckets=32)
            log(
                f"deep-extras lsh bucketize x{mult}: "
                f"{time.perf_counter() - t0:.1f}s (amortized, untimed)"
            )
        bcast_old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        bhandle = lsh_open_index(spark, idx, cache=False, bands_table=btable)
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            q = lsh_query_near_dups(spark, bhandle, probe, threshold=0.8)
            n_bucketed = len(q.toPandas())  # warm
            if n_bucketed != rows_at[mult]:
                log(
                    f"deep-extras WARNING x{mult}: bucketed probe rows "
                    f"{n_bucketed} != cold {rows_at[mult]}"
                )
            samples = []
            for _ in range(3 if mult < 100 else 2):
                t0 = time.perf_counter()
                len(
                    lsh_query_near_dups(
                        spark, bhandle, probe, threshold=0.8
                    ).toPandas()
                )
                samples.append(time.perf_counter() - t0)
            if mult == 1:
                from nibbledb_spark.plans.scale import exchange_count

                plain_h = lsh_open_index(spark, idx, cache=False)
                n_ex_plain = exchange_count(
                    lsh_query_near_dups(spark, plain_h, probe, threshold=0.8)
                )
                n_ex_buck = exchange_count(q)
                results["lsh_probe_bucketed_plan"] = {
                    "exchanges_plain": n_ex_plain,
                    "exchanges_bucketed": n_ex_buck,
                }
                log(
                    f"deep-extras lsh bucketed plan: exchanges "
                    f"{n_ex_plain} -> {n_ex_buck}"
                )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast_old)
        per_bucketed[mult] = statistics.median(samples)
        log(f"deep-extras lsh_probe_bucketed x{mult}: {per_bucketed[mult]:.3f}s")
    results["lsh_probe_only"] = {
        "x1_s": round(per[1], 4),
        "x10_s": round(per[10], 4),
        "x100_s": round(per[100], 4),
        "exp_decade1": round(math.log10(per[10] / per[1]), 3),
        "exp_decade2": round(math.log10(per[100] / per[10]), 3),
    }
    results["lsh_probe_warm"] = {
        "x1_s": round(per_warm[1], 4),
        "x10_s": round(per_warm[10], 4),
        "x100_s": round(per_warm[100], 4),
        "exp_decade1": round(math.log10(per_warm[10] / per_warm[1]), 3),
        "exp_decade2": round(math.log10(per_warm[100] / per_warm[10]), 3),
    }
    results["lsh_probe_bucketed"] = {
        "x1_s": round(per_bucketed[1], 4),
        "x10_s": round(per_bucketed[10], 4),
        "x100_s": round(per_bucketed[100], 4),
        "exp_decade1": round(math.log10(per_bucketed[10] / per_bucketed[1]), 3),
        "exp_decade2": round(
            math.log10(per_bucketed[100] / per_bucketed[10]), 3
        ),
    }

    # --- 3) media banded-hamming join + canonicals at scale -------------
    # (round-9 verdict #3: the one major family with no at-scale row.)
    # Hashes, not payloads — decode cost is orthogonal and
    # pytest-pinned; the family modulus scales with the corpus
    # (83 * mult) so family SIZE and pairs-per-doc stay constant and
    # the workload is input-linear by construction. The 16-bit band
    # space is fixed (that IS the algorithm), so band-bucket occupancy
    # grows with the corpus — cross-family candidates (verified away
    # JVM-side) are the expected slow quadratic tail, same as any
    # banded scheme at fixed band width.
    from nibbledb_spark.operators.multimodal import (
        banded_hamming_pairs,
        media_canonical_from_hashes,
    )
    from nibbledb_spark.queries import _media_hash_fixture

    media_rows: dict[int, int] = {}
    for label, run in (
        (
            "media_pairs_only",
            lambda h: banded_hamming_pairs(
                h, max_hamming=6, bands=4, by=("kind",)
            ),
        ),
        (
            "media_canonicals",
            lambda h: media_canonical_from_hashes(h, max_hamming=6, bands=4),
        ),
    ):
        per = {}
        for mult in (1, 10, 100):
            h = _media_hash_fixture(spark, dirs[mult], fam_mod=83 * mult)
            run(h).toPandas()  # warm
            samples = []
            for _ in range(3 if mult < 100 else 2):
                t0 = time.perf_counter()
                n = len(run(h).toPandas())
                samples.append(time.perf_counter() - t0)
            per[mult] = statistics.median(samples)
            if label == "media_pairs_only":
                media_rows[mult] = n
            log(f"deep-extras {label} x{mult}: {per[mult]:.3f}s ({n:,} rows)")
        results[label] = {
            "x1_s": round(per[1], 4),
            "x10_s": round(per[10], 4),
            "x100_s": round(per[100], 4),
            "exp_decade1": round(math.log10(per[10] / per[1]), 3),
            "exp_decade2": round(math.log10(per[100] / per[10]), 3),
        }

    # --- paired DuckDB pass (after all Spark timing) ---------------------
    setup_sql, probe_sql = _lsh_probe_sqls()
    for mult in sorted(dirs):
        con = _duck_connect(dirs[mult])
        runs = 3 if mult < 100 else 2
        d = _duck_median(con, ORACLE["bpe_learn_merges"], runs=runs)
        if d is not None:
            r = results["bpe_learn_merges"]
            r[f"duck_x{mult}_s"] = round(d, 4)
            r[f"ratio_x{mult}"] = round(r[f"x{mult}_s"] / d, 2)
            log(
                f"deep-extras duckdb bpe_learn x{mult}: {d:.3f}s "
                f"(ratio {r[f'ratio_x{mult}']:.2f}x)"
            )
        t0 = time.perf_counter()
        for stmt in setup_sql.split(";"):
            if stmt.strip():
                con.execute(stmt)
        log(
            f"deep-extras duckdb lsh index build x{mult}: "
            f"{time.perf_counter() - t0:.1f}s (amortized, untimed)"
        )
        # consistency: same pair count as the Spark probe
        n_duck = len(con.execute(probe_sql).df())
        if n_duck != rows_at[mult]:
            log(
                f"deep-extras WARNING x{mult}: duck probe rows {n_duck} "
                f"!= spark {rows_at[mult]}"
            )
        d = _duck_median(con, probe_sql, runs=runs)
        if d is not None:
            # one DuckDB probe number pairs BOTH Spark shapes: DuckDB
            # already probes materialized in-memory temp tables, i.e.
            # it is always "warm"
            for label in (
                "lsh_probe_only",
                "lsh_probe_warm",
                "lsh_probe_bucketed",
            ):
                r = results[label]
                r[f"duck_x{mult}_s"] = round(d, 4)
                r[f"ratio_x{mult}"] = round(r[f"x{mult}_s"] / d, 2)
            log(
                f"deep-extras duckdb lsh_probe x{mult}: {d:.3f}s "
                f"(cold {results['lsh_probe_only'][f'ratio_x{mult}']:.2f}x, "
                f"warm {results['lsh_probe_warm'][f'ratio_x{mult}']:.2f}x, "
                f"bucketed {results['lsh_probe_bucketed'][f'ratio_x{mult}']:.2f}x)"
            )
        from nibbledb_spark.queries import _MEDIA_CANON_TAIL, _media_hash_ctes

        m_ctes = _media_hash_ctes(83 * mult)
        m_pairs_sql = m_ctes + "SELECT kind, id1, id2, hamming FROM pairs"
        n_duck = con.execute(
            f"SELECT COUNT(*) FROM ({m_pairs_sql})"
        ).fetchone()[0]
        if n_duck != media_rows[mult]:
            log(
                f"deep-extras WARNING x{mult}: duck media pairs {n_duck} "
                f"!= spark {media_rows[mult]}"
            )
        for label, sql in (
            ("media_pairs_only", m_pairs_sql),
            ("media_canonicals", m_ctes + _MEDIA_CANON_TAIL),
        ):
            d = _duck_median(con, sql, runs=runs)
            if d is not None:
                r = results[label]
                r[f"duck_x{mult}_s"] = round(d, 4)
                r[f"ratio_x{mult}"] = round(r[f"x{mult}_s"] / d, 2)
                log(
                    f"deep-extras duckdb {label} x{mult}: {d:.3f}s "
                    f"(ratio {r[f'ratio_x{mult}']:.2f}x)"
                )
        con.close()
    shutil.rmtree(idx_root, ignore_errors=True)

    cols: list = []
    for r in results.values():
        cols += [c for c in r if c not in cols]
    log("\n| query | " + " | ".join(cols) + " |")
    log("|---|" + "---|" * len(cols))
    for name, r in results.items():
        log(
            f"| {name} | "
            + " | ".join(f"{r[c]:.3f}" if c in r else "-" for c in cols)
            + " |"
        )
    print(
        json.dumps(
            {
                "metric": "deep_extras",
                "unit": "sec",
                "queries": results,
                "sf": sf_of(SF_DIR),
            }
        )
    )


def winnow_stress(spark) -> None:
    """Round-10 verdict #7 follow-up: the winnowing-vs-shared-shingle
    candidate-volume table (BASELINE.md round-10, x1/x10) extended to
    x100 with PAIRED DuckDB numbers — the at-scale evidence for the
    ~2/(w+1) join-input density claim, the same treatment the media
    family got in r8/r10. Spark times the two pair pipelines
    (winnow_near_dup_pairs with the declared k=3/w=4/min_shared=2 vs
    ngram_jaccard_pairs at threshold 0.5 — different OUTPUT semantics,
    same candidate-join shape: this compares the join) on the salted
    replica dirs; the DuckDB pair runs each query's own ORACLE sql on
    the same parquet under the standard watchdog budget. One JSON line
    ({"metric": "winnow_stress", ...}) to stdout."""
    import math

    from nibbledb_spark.operators.dedup import (
        ngram_jaccard_pairs,
        shingle_rows,
        winnow_near_dup_pairs,
    )
    from nibbledb_spark.operators.text import winnow_fingerprints
    from nibbledb_spark.queries import ORACLE

    dirs = _deep_dirs(spark)
    mults = (1, 10, 100)
    results: dict[str, dict] = {}

    def docs_at(mult):
        return spark.read.parquet(os.path.join(dirs[mult], "documents.parquet"))

    # --- candidate-volume (join input) density ---------------------------
    # The counts are fully deterministic (md5-derived fingerprints over
    # fixed replica dirs), so a re-sit that only needs fresh TIMINGS can
    # skip this ~20-minute pass and splice the previously-logged counts:
    # WINNOW_STRESS_SKIP_DENSITY=1.
    density: dict[str, float] = {}
    skip_density = os.environ.get("WINNOW_STRESS_SKIP_DENSITY") == "1"
    for mult in mults if not skip_density else ():
        docs = docs_at(mult)
        n_win = (
            winnow_fingerprints(docs, k=3, w=4)
            .select("doc_id", "fp")
            .distinct()
            .count()
        )
        n_sh = shingle_rows(docs).count()
        density[f"x{mult}_winnow_rows"] = n_win
        density[f"x{mult}_shingle_rows"] = n_sh
        density[f"x{mult}_density"] = round(n_win / n_sh, 4)
        log(
            f"winnow-stress x{mult}: join input winnow {n_win:,} vs "
            f"shingle {n_sh:,} (density {n_win / n_sh:.2%}; theory 2/(w+1)=40%)"
        )
    if not skip_density:
        results["candidate_density"] = density

    # --- Spark timings ----------------------------------------------------
    rows_at: dict[str, dict[int, int]] = {}
    for label, run in (
        (
            "winnow_pairs",
            lambda d: winnow_near_dup_pairs(d, k=3, w=4, min_shared=2),
        ),
        ("jaccard_pairs", lambda d: ngram_jaccard_pairs(d, threshold=0.5)),
    ):
        per: dict[int, float] = {}
        rows_at[label] = {}
        for mult in mults:
            docs = docs_at(mult)
            run(docs).toPandas()  # warm
            samples = []
            for _ in range(3 if mult < 100 else 2):
                t0 = time.perf_counter()
                n = len(run(docs).toPandas())
                samples.append(time.perf_counter() - t0)
            per[mult] = statistics.median(samples)
            rows_at[label][mult] = n
            log(f"winnow-stress {label} x{mult}: {per[mult]:.3f}s ({n:,} pairs)")
        results[label] = {
            "x1_s": round(per[1], 4),
            "x10_s": round(per[10], 4),
            "x100_s": round(per[100], 4),
            "exp_decade1": round(math.log10(per[10] / per[1]), 3),
            "exp_decade2": round(math.log10(per[100] / per[10]), 3),
            "pairs_x100": rows_at[label][100],
        }

    # --- paired DuckDB pass (after all Spark timing) ----------------------
    for mult in mults:
        con = _duck_connect(dirs[mult])
        runs = 3 if mult < 100 else 2
        for label, name in (
            ("winnow_pairs", "winnow_near_dup_pairs"),
            ("jaccard_pairs", "ngram_jaccard_pairs"),
        ):
            n_duck = None
            try:
                n_duck = con.execute(
                    f"SELECT COUNT(*) FROM ({ORACLE[name]})"
                ).fetchone()[0]
            except Exception as e:  # budget/interrupt-class failures
                log(f"winnow-stress duckdb {label} x{mult} count failed: {e}")
            if n_duck is not None and n_duck != rows_at[label][mult]:
                log(
                    f"winnow-stress WARNING x{mult}: duck {label} rows "
                    f"{n_duck} != spark {rows_at[label][mult]}"
                )
            d = _duck_median(con, ORACLE[name], runs=runs)
            if d is not None:
                r = results[label]
                r[f"duck_x{mult}_s"] = round(d, 4)
                r[f"ratio_x{mult}"] = round(r[f"x{mult}_s"] / d, 2)
                log(
                    f"winnow-stress duckdb {label} x{mult}: {d:.3f}s "
                    f"(ratio {r[f'ratio_x{mult}']:.2f}x)"
                )
        con.close()

    print(
        json.dumps(
            {
                "metric": "winnow_stress",
                "unit": "sec",
                "queries": results,
                "sf": sf_of(SF_DIR),
            }
        )
    )


def main() -> int:
    from nibbledb_spark.queries import ORACLE, QUERIES
    from nibbledb_spark.session import get_spark

    baseline = "--baseline" in sys.argv
    headline = HEADLINE
    for i, arg in enumerate(sys.argv):
        # --names a,b,c: time an explicit subset instead of the headline
        # set (same warm/median-of-5 protocol; composes with --baseline
        # for a paired DuckDB table over the subset).
        if arg == "--names" and i + 1 < len(sys.argv):
            headline = [n for n in sys.argv[i + 1].split(",") if n]
    spark = get_spark("bench")

    if "--stress" in sys.argv:
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        stress_bench(spark)
        return 0

    if "--stress-deep" in sys.argv:
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        stress_deep(spark)
        return 0

    if "--winnow-stress" in sys.argv:
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        winnow_stress(spark)
        return 0

    if "--deep-extras" in sys.argv:
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        deep_extras(spark)
        return 0

    if "--stress-sweep" in sys.argv:
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        stress_sweep(spark, (1, 10, 100) if "--x100" in sys.argv else (1, 10))
        return 0

    if "--snapshots-stress" in sys.argv:
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        snapshot_stress(spark)
        return 0

    if "--snapshots" in sys.argv:
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        snapshot_bench(spark)
        return 0

    if "--dv-tax" in sys.argv:
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        dv_tax_bench(spark)
        return 0

    if "--ann-index" in sys.argv:
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        ann_index_bench(spark)
        return 0

    if "--scale-trend" in sys.argv:
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        scale_trend(spark)
        return 0

    if "--ingest" in sys.argv:
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        ingest_throughput(spark)
        return 0

    if "--engine" in sys.argv:
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        engine_read_bench(spark)
        return 0

    # Warm pass over the WHOLE headline set before any timing: JIT
    # compilation compounds across queries, so without this the set's
    # first queries are measured on a cold JVM while the last run hot
    # (measured ~1.5x order bias on q1). The DuckDB baseline is warm
    # (median-of-5 after a warm run) — this makes the comparison
    # steady-state on both sides.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for name in headline:
        QUERIES[name](spark, SF_DIR).toPandas()

    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    for name in headline:
        fn = QUERIES[name]
        fn(spark, SF_DIR).toPandas()  # warm the exact plan (codegen compile, footers)
        med, lo, hi = time_spark(spark, fn)
        timings[name] = round(med, 4)
        spread[name] = [round(lo, 4), round(hi, 4)]
        log(f"spark {name}: {med:.3f}s (min {lo:.3f} max {hi:.3f})")

    total = round(sum(timings.values()), 4)
    total_lo = round(sum(v[0] for v in spread.values()), 4)
    total_hi = round(sum(v[1] for v in spread.values()), 4)

    # Paired DuckDB timings ALWAYS ride the JSON line (round-5 verdict
    # #2): cross-round driver captures see ±15-40% host variance, so a
    # raw Spark total can't distinguish regression from a slow host.
    # duckdb_total measured in the same sitting is the normalizer —
    # ratio = value / duckdb_total is host-speed-invariant.
    duck_timings: dict[str, float] = {}
    duck_spread: dict[str, list[float]] = {}
    for name in headline:
        if name not in ORACLE:
            continue
        con = _duck_connect(SF_DIR)
        con.execute(ORACLE[name]).df()  # warm (pandas channel, like Spark)
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            con.execute(ORACLE[name]).df()
            samples.append(time.perf_counter() - t0)
        duck_timings[name] = round(statistics.median(samples), 4)
        duck_spread[name] = [
            round(min(samples), 4),
            round(max(samples), 4),
        ]
        con.close()
    duck_total = round(sum(duck_timings.values()), 4)
    duck_lo = round(sum(v[0] for v in duck_spread.values()), 4)
    duck_hi = round(sum(v[1] for v in duck_spread.values()), 4)

    # Round-14 verdict task 7: the expensive LLM-pipeline half only
    # surfaced in one-off BENCH_scale_* files, so a regression there
    # was invisible to the per-round driver capture. A fixed DEEP set
    # — the streaming-gated corpus clean and the LSH and semantic
    # dedup gate replays — rides every headline capture as separate
    # keys (NOT folded into `value`: the headline total stays
    # comparable across rounds). Median-of-3 with clearCache between
    # runs (the honest-cold protocol — these ops pin caches by
    # contract).
    DEEP = ["clean_corpus_gated", "lsh_gate_replay", "semdedup_gate_replay"]
    if headline is not HEADLINE:
        DEEP = []  # --names subset runs: skip the fixed deep set
    deep_t: dict[str, float] = {}
    deep_d: dict[str, float] = {}
    for name in DEEP:
        fn = QUERIES[name]
        spark.catalog.clearCache()
        fn(spark, SF_DIR).toPandas()  # warm (codegen, footers)
        samples = []
        for _ in range(3):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn(spark, SF_DIR).toPandas()
            samples.append(time.perf_counter() - t0)
        deep_t[name] = round(statistics.median(samples), 4)
        log(f"deep spark {name}: {deep_t[name]:.3f}s")
    for name in DEEP:
        if name not in ORACLE:
            continue
        con = _duck_connect(SF_DIR)
        con.execute(ORACLE[name]).df()  # warm
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            con.execute(ORACLE[name]).df()
            samples.append(time.perf_counter() - t0)
        deep_d[name] = round(statistics.median(samples), 4)
        con.close()
        log(f"deep duckdb {name}: {deep_d[name]:.3f}s")
    deep_ratio = {
        n: round(deep_t[n] / deep_d[n], 4)
        for n in deep_t
        if deep_d.get(n, 0) > 0
    }

    if baseline:
        rows = []
        for name in headline:
            if name not in ORACLE:
                continue
            con = _duck_connect(SF_DIR)
            samples = []
            con.execute(ORACLE[name]).df()  # warm (pandas channel, like Spark)
            for _ in range(5):
                t0 = time.perf_counter()
                con.execute(ORACLE[name]).df()
                samples.append(time.perf_counter() - t0)
            duck = statistics.median(samples)
            # prepared-statement analogue: plan built once, executed 5x —
            # isolates execution throughput from per-call planning cost
            df = QUERIES[name](spark, SF_DIR)
            df.toPandas()
            prep_samples = []
            for _ in range(5):
                t0 = time.perf_counter()
                df.toPandas()
                prep_samples.append(time.perf_counter() - t0)
            prep = statistics.median(prep_samples)
            ratio = timings[name] / duck if duck > 0 else float("inf")
            pratio = prep / duck if duck > 0 else float("inf")
            rows.append((name, duck, timings[name], prep, ratio, pratio))
            log(f"duckdb {name}: {duck:.3f}s (ratio {ratio:.2f}x, prepared {pratio:.2f}x)")
        log("\n| query | duckdb_s | spark_s | spark_prepared_s | ratio | prepared_ratio |")
        log("|---|---|---|---|---|---|")
        for name, duck, sp, prep, ratio, pratio in rows:
            log(
                f"| {name} | {duck:.3f} | {sp:.3f} | {prep:.3f} "
                f"| {ratio:.2f} | {pratio:.2f} |"
            )

    # Per-query [min, max] spreads are DIAGNOSTICS: they ride stderr as
    # their own labelled JSON line, NOT the stdout contract line. The
    # stdout line had grown past the driver's tail-capture window with
    # them inboard (round 14's BENCH json landed `parsed: null` and the
    # whole round-over-round table was lost — r15 verdict #2); the
    # aggregate value_band/duckdb_band/ratio_band keys below summarize
    # the same noise envelope in ~100 bytes.
    log(
        "SPREADS "
        + json.dumps({"spark_spread": spread, "duckdb_spread": duck_spread})
    )

    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "duckdb": duck_timings,
                "duckdb_total": duck_total,
                "ratio_vs_duckdb": round(total / duck_total, 4)
                if duck_total > 0
                else None,
                # fixed deep set (heavy LLM ops) — tracked per round,
                # excluded from `value`
                "deep": deep_t,
                "deep_duckdb": deep_d,
                "deep_ratio": deep_ratio,
                # Noise band for THIS capture: totals over the per-run
                # extremes. Cross-round ratio moves inside ratio_band
                # are host weather — both engines drift together
                # ±10-20% between sittings (round-13 verdict #2) — only
                # moves OUTSIDE it suggest a plan change. Per-query
                # spreads: the SPREADS line on stderr.
                "value_band": [total_lo, total_hi],
                "duckdb_band": [duck_lo, duck_hi],
                "ratio_band": [
                    round(total_lo / duck_hi, 4),
                    round(total_hi / duck_lo, 4),
                ]
                if duck_lo > 0
                else None,
                # Effective parallelism, echoed so the driver's scaling
                # check can verify $SPARK_GRAFT_CPUS is honored (r15
                # verdict flagged suspect_cpus_ignored as unfalsifiable
                # without this): master comes from the live context.
                "cpus": spark.sparkContext.defaultParallelism,
                "master": spark.sparkContext.master,
                "sf": sf_of(SF_DIR),
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
