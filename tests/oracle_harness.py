"""Local mimic of the driver's DuckDB-oracle differential check.

For each name in ``__spark_entry__.queries()``: run the Spark query at
sf0.01, run the matching ``oracle_sql()`` on DuckDB over the same
parquet tables, and compare row count + column names + an
order-insensitive multiset of stringified rows (columns sorted by name,
like the driver). Exact value match — stricter than any plausible
driver canonicalization, so passing here is the safe side.

Both sides flow through the PANDAS dtype channel the driver uses
(``DuckDBPyConnection.df()`` / ``DataFrame.toPandas()``), not
``fetchall()``/``collect()``. This matters: DuckDB renders HUGEINT
through pandas as float64 (``3010.0`` vs Spark's ``3010``), which
``fetchall()`` hides by yielding Python ints — the round-1 and round-3
verdicts both hit driver hash-fails this harness called green. Passing
here now means passing the driver's own dtype conversions.

Usage:  python tests/oracle_harness.py [--plain] [--exec-only] [name ...]

``--plain`` replicates the DRIVER's environment: a bare
``SparkSession.builder.master(local[N])`` with NONE of the engine's
builder confs (no nanosAsLong, no UTC pin, no Arrow) — every query must
set what it needs at runtime (registry.ensure_session_confs) or it fails
here exactly as it fails in CORRECTNESS_r*.json. ``--exec-only`` skips
the DuckDB compare and just proves each query runs and collects. A
named pytest-only query (``queries.PYTEST_ONLY_QUERIES``) runs rows-only.
"""

from __future__ import annotations

import math
import os
import sys
from collections import Counter

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _canon_value(v):
    import datetime

    import numpy as np
    import pandas as pd

    # container types first: pd.isna on them is elementwise, not scalar
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon_value(v[k])}" for k in sorted(v)) + "}"
    if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
        # NULL and NaN collapse in the pandas channel (nullable numeric
        # columns surface NULLs as NaN on both engines); treat them alike
        return "NULL"
    if isinstance(v, np.generic):
        v = v.item()  # numpy scalar -> python native (bool_ -> bool, etc.)
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        if v == 0.0:
            return "0"  # normalize -0.0
        # repr round-trips doubles exactly; bit-identical values match
        return repr(v)
    if isinstance(v, datetime.datetime):
        # DuckDB's .df() widens DATE to midnight datetime64; Spark's
        # toPandas keeps DateType as datetime.date. Canonicalize both to
        # the date when there is no time component so the channels agree.
        if v.tzinfo is None and v.time() == datetime.time(0, 0):
            return v.date().isoformat()
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def canon_rows(columns: list[str], rows: list[tuple]) -> Counter:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return Counter(
        "\x1f".join(_canon_value(row[i]) for i in order) for row in rows
    )


def pandas_rows(pdf) -> list[tuple]:
    """Rows out of a pandas frame — the driver's dtype channel, verbatim."""
    return list(pdf.itertuples(index=False, name=None))


def run_duckdb(sql: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    pdf = con.execute(sql).df()
    return list(pdf.columns), pandas_rows(pdf)


def compare(name: str, spark, queries, oracles, exec_only: bool = False) -> tuple[bool, str]:
    sdf = queries[name](spark, SF_DIR)
    scols = sdf.columns
    srows = pandas_rows(sdf.toPandas())
    if exec_only or name not in oracles:
        return True, f"rows-only ({len(srows)} rows{'' if name in oracles else ', no oracle declared'})"
    ocols, orows = run_duckdb(oracles[name])
    problems = []
    if len(srows) != len(orows):
        problems.append(f"row count spark={len(srows)} duckdb={len(orows)}")
    if sorted(scols) != sorted(ocols):
        problems.append(f"columns spark={sorted(scols)} duckdb={sorted(ocols)}")
    if not problems:
        sc, oc = canon_rows(scols, srows), canon_rows(ocols, orows)
        if sc != oc:
            only_s = list((sc - oc).keys())[:3]
            only_o = list((oc - sc).keys())[:3]
            problems.append(f"values differ; spark-only={only_s} duckdb-only={only_o}")
    if problems:
        return False, "; ".join(problems)
    return True, f"match ({len(srows)} rows)"


def main() -> int:
    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry

    argv = sys.argv[1:]
    plain = "--plain" in argv
    exec_only = "--exec-only" in argv
    names = [a for a in argv if not a.startswith("--")]

    if plain:
        # the driver's session: bare builder, no engine confs at all
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("oracle_harness_plain")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("WARN")
    else:
        from nibbledb_spark.session import get_spark

        spark = get_spark("oracle_harness", shuffle_partitions=8)
    from nibbledb_spark.queries import PYTEST_ONLY_QUERIES

    queries, oracles = entry.queries(), entry.oracle_sql()
    names = names or list(queries)
    # a pytest-only query is run only when named, and rows-only: it
    # declares no oracle (its accuracy is pinned in pytest)
    queries = {**queries, **PYTEST_ONLY_QUERIES}
    failed = []
    for name in names:
        try:
            ok, msg = compare(name, spark, queries, oracles, exec_only=exec_only)
        except Exception as exc:  # noqa: BLE001
            ok, msg = False, f"EXCEPTION {type(exc).__name__}: {exc}"
        # per-query isolation: several operators persist frames by
        # contract (the pagerank cache-pin); over a 200+-query sweep at
        # sf0.1 the pinned entries accumulate until a default-memory
        # bare driver fails broadcast builds (measured round 13, ~80
        # queries in) — each query must still compute from source, so
        # clearing between queries weakens nothing
        spark.catalog.clearCache()
        status = "OK  " if ok else "FAIL"
        print(f"{status} {name}: {msg}")
        if not ok:
            failed.append(name)
    print(f"\n{len(names) - len(failed)}/{len(names)} matched")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
