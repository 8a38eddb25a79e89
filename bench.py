"""Benchmark harness: times the headline queries end-to-end (plan +
execute + collect) at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS].

The default run prints exactly ONE JSON contract line to stdout:
  {"metric": "headline_queries_total", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "duckdb": {...}, "deep": {...}, ...}
All diagnostics (per-query lines, the SPREADS line, tables) go to
stderr so a driver can parse stdout.

Modes (flags are checked before Spark starts; an unknown flag exits 2
with a usage line naming every mode on stderr):
  python bench.py                     headline set + DEEP keys, paired
                                      DuckDB timings per query
  python bench.py --baseline          also a DuckDB vs Spark (and
                                      prepared-plan) markdown table
  python bench.py --names a,b,c       time an explicit subset instead of
                                      the headline set (no DEEP keys;
                                      composes with --baseline); a
                                      pytest-only query is timed on
                                      Spark alone
  python bench.py --scale-trend       flagship aggregation on lineitem
                                      x1/x4/x10, Spark vs DuckDB
  python bench.py --ingest            streaming ingest replay, points/s
  python bench.py --snapshots         snapshot-log operation costs
  python bench.py --ann-index         IVF vs IVF+PQ persisted-index trade
  python bench.py --snapshots-stress  concurrent writers + table-age
                                      resolution scaling (snapshot log)
  python bench.py --stress-sweep [--x100]
                                      x1 vs x10 (x100) input-linear
                                      scaling exponents for the headline
                                      set, paired with DuckDB
"""

from __future__ import annotations

import argparse
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


def sample(run, runs: int, before=None) -> tuple[float, float, float]:
    """Warm ``run()`` once, then time ``runs`` calls; ``before()`` (if
    given) runs untimed ahead of the warm call and of every timed one.
    Returns (median, min, max) seconds.

    Spark queries are timed through Arrow (toPandas), the engine's
    result path: Py4J row-at-a-time collect() was the measured
    bottleneck on wide/tall results (ts_range 0.113s -> 0.050s,
    window_top3 0.178s -> 0.058s at sf0.1), and DuckDB mirrors it with
    .df() so both sides pay one columnar-to-pandas hop, the channel the
    driver's correctness compare uses. The spread rides the output so a
    single capture carries its own noise band: cross-sitting ratios
    drift +-10-20% with the host, and a "regression" inside the
    recorded band is weather, not a plan change.

    Back-to-back repeats of one query hit the generated classes its
    warm call compiled, so these samples never see classes that other
    queries evicted from the session's codegen cache: cross-query
    recompiles show in perfbench's shuffled ``declared_queries`` cycles,
    not in the contract line."""
    if before is not None:
        before()
    run()
    samples = []
    for _ in range(runs):
        if before is not None:
            before()
        t0 = time.perf_counter()
        run()
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

    def query(mult: int):
        li = None
        for _ in range(mult):
            d = spark.read.parquet(path)
            li = d if li is None else li.unionAll(d)
        return (
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

    for mult in (1, 4, 10):
        # a fresh DataFrame per call: re-running one would reuse its
        # shuffle output
        sp = sample(lambda: query(mult).collect(), 3)[0]

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
        duck = sample(lambda: con.execute(sql).fetchall(), 3)[0]
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


def ann_index_bench(spark) -> None:
    """IVF vs IVF+PQ persisted-index trade on the bench-SF embeddings:
    build time, query time (same nprobe), and the on-disk size of the
    posting lists — the number the PQ design exists for (codes instead
    of vectors in every probed partition). Diagnostics to stderr
    (BASELINE.md: ANN index section)."""
    import shutil
    import tempfile

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
            med = sample(lambda: query(path).collect(), 5)[0]
            log(f"ann {name} query (16 q, nprobe 3): {med:.3f}s")
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
    PLAN scaling, not the clone-cluster blowup. Reused across runs via
    a _DONE marker."""
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
    """Paired tail of a replica-dir sweep: per scale, time each
    query's DuckDB oracle over the SAME replica dir (one connection
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


def stress_sweep(spark, mults: tuple = (1, 10)) -> None:
    """Input-linear scaling sweep over the FULL headline set (round-5
    verdict #3): per query, warm + median-of-3 at each scale, reporting
    the per-decade scaling exponent log10(t_next / t_prev) between
    consecutive mults. Exponent <= ~1 = corpus-linear or better (fixed
    per-query overhead deflates it); anything clearly above 1 needs a
    named cause. Pass --x100 for the (1, 10, 100) two-decade form —
    60M-row lineitem replicas. Diagnostics to stderr; a one-line JSON
    summary to stdout.

    PAIRED: every (query, scale) cell also times the DuckDB oracle over
    the SAME replica dir in the same sitting (round-7 verdict #1) —
    x10/x100 is where Spark's fixed per-query overhead stops dominating,
    so ratio_x10/ratio_x100 are the host-invariant at-scale numbers the
    sf0.1 optics can't provide. sessionize_events_gaps (the one weak
    bench row) rides along even though it is not in the headline set."""
    import math
    import tempfile

    from nibbledb_spark.queries import QUERIES

    root = os.path.join(tempfile.gettempdir(), "nibble_stress_sweep")
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
            per_mult[mult] = sample(
                lambda: fn(spark, dirs[mult]).toPandas(),
                3 if mult <= 10 else 2,
            )[0]
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


# The fixed deep set rides every full headline capture as separate keys,
# NOT folded into `value` (the headline total stays comparable across
# captures): the streaming-gated corpus clean and the LSH and semantic
# dedup gate replays, the expensive LLM-pipeline half that the headline
# set alone would leave unwatched. Timed median-of-3 with clearCache
# before every run (the honest-cold protocol: these ops pin caches by
# contract).
DEEP = ("clean_corpus_gated", "lsh_gate_replay", "semdedup_gate_replay")

# One flag per diagnostic mode (module docstring); each gets a warm
# JVM and writes its report to stderr.
MODES = {
    "--scale-trend": lambda spark, args: scale_trend(spark),
    "--ingest": lambda spark, args: ingest_throughput(spark),
    "--snapshots": lambda spark, args: snapshot_bench(spark),
    "--ann-index": lambda spark, args: ann_index_bench(spark),
    "--snapshots-stress": lambda spark, args: snapshot_stress(spark),
    "--stress-sweep": lambda spark, args: stress_sweep(
        spark, (1, 10, 100) if args.x100 else (1, 10)
    ),
}


def parse_args() -> argparse.Namespace:
    """Check the flags before any Spark start: an unknown flag exits 2
    with the usage line (every mode) on stderr."""
    p = argparse.ArgumentParser(
        prog="bench.py", add_help=False, allow_abbrev=False
    )
    p.add_argument("--baseline", action="store_true")
    p.add_argument(
        "--names",
        metavar="a,b,c",
        type=lambda s: [n for n in s.split(",") if n],
    )
    p.add_argument("--x100", action="store_true")
    modes = p.add_mutually_exclusive_group()
    for flag in MODES:
        modes.add_argument(flag, dest="mode", action="store_const", const=flag)
    return p.parse_args()


def main() -> int:
    args = parse_args()

    from nibbledb_spark.queries import ORACLE, PYTEST_ONLY_QUERIES, QUERIES
    from nibbledb_spark.session import get_spark

    builders = {**QUERIES, **PYTEST_ONLY_QUERIES}
    spark = get_spark("bench")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    if args.mode:
        MODES[args.mode](spark, args)
        return 0

    headline = HEADLINE if args.names is None else args.names
    deep = DEEP if args.names is None else ()

    def spark_sample(name: str, runs: int = 5, before=None):
        return sample(
            lambda: builders[name](spark, SF_DIR).toPandas(), runs, before
        )

    def duck_sample(name: str, runs: int = 3):
        con = _duck_connect(SF_DIR)
        try:
            return sample(lambda: con.execute(ORACLE[name]).df(), runs)
        finally:
            con.close()

    # Warm pass over the WHOLE headline set before any timing: JIT
    # compilation compounds across queries, so without this the set's
    # first queries are measured on a cold JVM while the last run hot
    # (measured ~1.5x order bias on q1). The DuckDB side is warm too,
    # so the comparison is steady-state on both sides.
    for name in headline:
        builders[name](spark, SF_DIR).toPandas()

    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    for name in headline:
        med, lo, hi = spark_sample(name)
        timings[name] = round(med, 4)
        spread[name] = [round(lo, 4), round(hi, 4)]
        log(f"spark {name}: {med:.3f}s (min {lo:.3f} max {hi:.3f})")

    total = round(sum(timings.values()), 4)
    total_lo = round(sum(v[0] for v in spread.values()), 4)
    total_hi = round(sum(v[1] for v in spread.values()), 4)

    # Paired DuckDB timings ALWAYS ride the JSON line: captures on
    # different sittings see +-15-40% host variance, so a raw Spark total
    # can't tell a regression from a slow host. duckdb_total measured in
    # the same sitting is the normalizer — ratio = value / duckdb_total
    # is host-speed-invariant.
    duck_timings: dict[str, float] = {}
    duck_spread: dict[str, list[float]] = {}
    for name in headline:
        if name not in ORACLE:
            log(f"duckdb {name}: no oracle declared, Spark timing only")
            continue
        med, lo, hi = duck_sample(name)
        duck_timings[name] = round(med, 4)
        duck_spread[name] = [round(lo, 4), round(hi, 4)]
    duck_total = round(sum(duck_timings.values()), 4)
    duck_lo = round(sum(v[0] for v in duck_spread.values()), 4)
    duck_hi = round(sum(v[1] for v in duck_spread.values()), 4)

    deep_t: dict[str, float] = {}
    deep_d: dict[str, float] = {}
    for name in deep:
        deep_t[name] = round(
            spark_sample(name, 3, before=spark.catalog.clearCache)[0], 4
        )
        log(f"deep spark {name}: {deep_t[name]:.3f}s")
    for name in deep:
        if name not in ORACLE:
            continue
        deep_d[name] = round(duck_sample(name)[0], 4)
        log(f"deep duckdb {name}: {deep_d[name]:.3f}s")
    deep_ratio = {
        n: round(deep_t[n] / deep_d[n], 4)
        for n in deep_t
        if deep_d.get(n, 0) > 0
    }

    if args.baseline:
        rows = []
        for name in headline:
            if name not in ORACLE:
                continue
            duck = duck_sample(name, 5)[0]
            # prepared-statement analogue: each timed call executes a
            # DataFrame built and analysed untimed just before it, which
            # isolates execution from per-call plan construction. A fresh
            # DataFrame per call: re-running one would reuse its shuffle
            # output.
            built = {}
            prep = sample(
                lambda: built["df"].toPandas(),
                5,
                before=lambda: built.update(df=builders[name](spark, SF_DIR)),
            )[0]
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
    # their own labelled JSON line, NOT the stdout contract line, which
    # must stay inside a driver's tail-capture window (with them inboard
    # it outgrew it and a whole capture parsed as null). The aggregate
    # value_band/duckdb_band/ratio_band keys below summarize the same
    # noise envelope in ~100 bytes.
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
                # fixed deep set (heavy LLM ops), excluded from `value`
                "deep": deep_t,
                "deep_duckdb": deep_d,
                "deep_ratio": deep_ratio,
                # Noise band for THIS capture: totals over the per-run
                # extremes. Ratio moves across captures inside ratio_band
                # are host weather — both engines drift together
                # +-10-20% between sittings — only moves OUTSIDE it
                # suggest a plan change. Per-query spreads: the SPREADS
                # line on stderr.
                "value_band": [total_lo, total_hi],
                "duckdb_band": [duck_lo, duck_hi],
                "ratio_band": [
                    round(total_lo / duck_hi, 4),
                    round(total_hi / duck_lo, 4),
                ]
                if duck_lo > 0
                else None,
                # Effective parallelism, echoed so a scaling check can
                # verify $SPARK_GRAFT_CPUS is honored: master comes from
                # the live context.
                "cpus": spark.sparkContext.defaultParallelism,
                "master": spark.sparkContext.master,
                "sf": sf_of(SF_DIR),
            }
        )
    )
    return 0

if __name__ == "__main__":
    raise SystemExit(main())
