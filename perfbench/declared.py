"""declared_queries: the 22 headline queries over seed-generated tables,
one closed-loop caller, results through ``toPandas``.

The first cycle warms the session and checks every result against the
query's DuckDB oracle with the repository's canonicalisation; the timed
cycles follow, each in a seed-shuffled order.
"""

from __future__ import annotations

import os
import sys
import time

import gen
import metrics
from common import CHECKOUT, env_facts, import_program, log, spark_session, stop_spark

SF = 0.02
SMALL_SF = 0.001
SETUP_REPS = 3


def run(seed: int, seconds: float, trace: bool, root: str, small: bool) -> dict:
    log("generating tables")
    sf_dir = os.path.join(root, "data")
    gen.write_star(seed, SMALL_SF if small else SF, sf_dir)
    import_program()
    from nibbledb_spark.queries import ORACLE, QUERIES
    from nibbledb_spark.sources import registry

    # set-up: a cold session that has analysed every table; the stopped
    # sessions stay referenced so no new session reuses their id()
    setup_s, sessions = [], []
    for _ in range(SETUP_REPS):
        if sessions:
            sessions[-1].stop()
        t0 = time.perf_counter()
        spark = spark_session("perfbench-declared")
        for t in registry.TABLES:
            registry.load_table(spark, t, sf_dir).schema
        setup_s.append(time.perf_counter() - t0)
        sessions.append(spark)
    facts = env_facts(spark)
    log(f"set-up {setup_s}")

    order = gen.rng(seed, "query-order")
    failed = attempted = 0
    mismatches = []
    for q in order.permutation(metrics.HEADLINE):
        attempted += 1
        try:
            ok = matches_oracle(QUERIES[q](spark, sf_dir).toPandas(), ORACLE[q], sf_dir)
        except Exception as e:  # a query that raises is a failed operation
            print(f"perfbench: {q} raised {e!r}", file=sys.stderr)
            ok = False
        if not ok:
            failed += 1
            mismatches.append(str(q))

    log(f"oracle check done, {failed} mismatches")
    tracer = None
    if trace:
        from layers import install_queries, install_spark
        from spans import Tracer

        tracer = Tracer(spark)
        install_spark(tracer)
        install_queries(tracer)

    cycles = []
    t_start = time.perf_counter()
    c = 0
    while True:
        c += 1
        traced = bool(trace) and c % 2 == 0
        times = {}
        for q in order.permutation(metrics.HEADLINE):
            q = str(q)
            attempted += 1
            t0 = time.perf_counter()
            span = tracer.begin("query", rid=f"{c}:{q}", group=True, query=q) if traced else None
            if tracer is not None:
                tracer.enabled = traced
            try:
                QUERIES[q](spark, sf_dir).toPandas()
            except Exception as e:
                print(f"perfbench: {q} raised {e!r}", file=sys.stderr)
                failed += 1
            finally:
                if span is not None:
                    tracer.end(span)
            times[q] = time.perf_counter() - t0
        cycles.append({"traced": traced, "times": times})
        # stop when one more cycle would overrun the window by more than
        # half a cycle; a traced run needs a traced and an untraced cycle
        elapsed = time.perf_counter() - t_start
        if elapsed + elapsed / c > seconds + 0.5 * elapsed / c and (not trace or c >= 2):
            break
    log(f"{c} timed cycles done")
    if tracer is not None:
        tracer.enabled = False
        tracer.unwrap_all()
    stop_spark(spark)

    plain = [c for c in cycles if not c["traced"]]
    lat = [t * 1e3 for c in plain for t in c["times"].values()]
    e2e = metrics.end_to_end(setup_s, lat, len(lat) / sum(sum(c["times"].values()) for c in plain))
    layers = metrics.declared_layers(tracer.spans if tracer else [], cycles, failed, attempted)
    return {"attempted": attempted, "failed": failed, "e2e": e2e, "layers": layers, "env": facts,
            "checks": {"oracle_checked": len(metrics.HEADLINE), "oracle_mismatches": mismatches}}


def matches_oracle(pdf, sql: str, sf_dir: str) -> bool:
    """Row count, column names and the canonical row multiset must equal
    the DuckDB oracle's, as in the repository's oracle harness."""
    import duckdb

    sys.path.insert(0, os.path.join(CHECKOUT, "tests"))
    from oracle_harness import TABLES, canon_rows, pandas_rows

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t)}.parquet')")
        odf = con.execute(sql).df()
    finally:
        con.close()
    scols, ocols = list(pdf.columns), list(odf.columns)
    srows, orows = pandas_rows(pdf), pandas_rows(odf)
    return (
        len(srows) == len(orows)
        and sorted(scols) == sorted(ocols)
        and canon_rows(scols, srows) == canon_rows(ocols, orows)
    )
