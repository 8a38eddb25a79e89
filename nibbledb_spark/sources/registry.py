"""Readers for the driver's testdata star schema (TESTDATA.md) and the
events->points mapping that drives the time-series surface at scale.

``events`` doubles as the nibbledb-shaped stream (FIXTURES.md §B):
series = event_type, ts = epoch µs, tag = parsed props JSON, value.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


_CONFED_SESSIONS: set[int] = set()


def ensure_session_confs(spark: SparkSession) -> None:
    """Make any plain SparkSession able to read the testdata.

    events.parquet carries a TIMESTAMP(NANOS) column, which Spark rejects
    with PARQUET_TYPE_ILLEGAL unless ``spark.sql.legacy.parquet.nanosAsLong``
    is on (runtime-settable). Sessions built via get_spark() already have it;
    external harnesses construct their own session, so set it on every load
    path rather than relying on builder confs. Memoized per session — each
    conf.set is a Py4J round-trip, and this runs on every table load.

    Only runtime confs can be set here. The codegen class cache size
    (``spark.sql.codegen.cache.maxEntries``, see session.py) is a static
    conf, so a plain, driver-built session keeps Spark's 100-entry
    default and recompiles generated code once a query mix outgrows it.
    """
    if id(spark) in _CONFED_SESSIONS:
        return
    _CONFED_SESSIONS.add(id(spark))
    for key, val in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        # DuckDB oracles treat naive timestamps as UTC; pin the session the
        # same way so epoch/cast results agree regardless of host timezone.
        ("spark.sql.session.timeZone", "UTC"),
        # Arrow batch transfer for the pandas-UDF operators (mad, stateful).
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        # Call-site capture for error context: ~3 driver round trips per
        # DataFrame method call (see session.py). Must be set before the
        # first wrapped call — pyspark memoizes the flag globally on
        # first use — which holds here: every query path loads a table
        # (and so runs this) before building expressions on it.
        ("spark.python.sql.dataFrameDebugging.enabled", "false"),
        # AQE may re-optimize cached plans (coalesce their shuffles):
        # iterative operators persist per round, and a frozen cache
        # layout multiplies every later round's task count (see
        # session.py for the pagerank measurement).
        ("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"),
    ):
        try:
            spark.conf.set(key, val)
        except Exception:
            pass  # already set via builder, or a session that forbids runtime set
    try:
        # Untouched 200-partition default in a plain session: wrong at both
        # ends of the scale. Only replace the known default — never override
        # a deliberate setting (get_spark or a user conf).
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set("spark.sql.shuffle.partitions", str(os.cpu_count() or 8))
    except Exception:
        pass


# Lazy analyzed-plan cache: spark.read.parquet re-lists the directory and
# re-reads a footer for schema inference on EVERY call — pure fixed cost
# when the same table is loaded per query invocation (the bench loop and
# the REST facade both do). DataFrames are immutable plan handles, so
# reusing one per (session, dir, table) is semantically free; nothing is
# persisted here (this caches ANALYSIS, not data). The cached relation
# snapshots the file listing, so each hit re-stats the path (one cheap
# syscall) and invalidates when the file changed — a rewritten table is
# re-analyzed instead of serving a stale/deleted file list. Keyed like
# _POINTS_CACHE below; bounded by tables x sf_dirs x live sessions
# actually touched (stopped sessions leak one lazy plan handle per table
# until process exit — same lifetime contract as _POINTS_CACHE).
_TABLE_CACHE: dict[tuple[int, str, str], tuple[tuple[int, int], DataFrame]] = {}


def _path_stamp(path: str):
    """Change stamp for a parquet table path. Single file: (mtime, size).
    Directory table (Spark-written): aggregate over the DIRECT children
    (name, mtime, size) — catches part-file rewrites, which leave the
    directory's own mtime untouched. Nested partition subdirectories
    contribute their dir entry only; a rewrite deep inside one that
    somehow preserves every intermediate mtime is not detected (matching
    the best-effort contract of mtime-based invalidation generally)."""
    try:
        st = os.stat(path)
        if not os.path.isdir(path):
            return (st.st_mtime_ns, st.st_size)
        children = []
        with os.scandir(path) as it:
            for e in it:
                cst = e.stat()
                children.append((e.name, cst.st_mtime_ns, cst.st_size))
        return (st.st_mtime_ns, tuple(sorted(children)))
    except OSError:
        return (-1, -1)


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table: {name}")
    ensure_session_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = (id(spark), os.path.abspath(sf_dir), name)
    stamp = _path_stamp(path)
    hit = _TABLE_CACHE.get(key)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    df = spark.read.parquet(path)
    _TABLE_CACHE[key] = (stamp, df)
    return df


# ---------------------------------------------------------------------------
# generic format support (SURVEY.md §2 Part B "file sources"/"sinks")
# ---------------------------------------------------------------------------
# The reference ingests/emits JSON-over-HTTP only (src/main.re:60-67); the
# engine reads and writes the canonical points table in any of Spark's
# first-class columnar/text formats. CSV cannot carry a MAP column, so the
# tag map is serialized to a JSON string on write and parsed back on read —
# lossless for string->string tags.

FORMATS = ("parquet", "orc", "json", "csv")


def write_points(df: DataFrame, path: str, fmt: str = "parquet", mode: str = "overwrite") -> None:
    """Write canonical-schema points to ``path`` in ``fmt``."""
    if fmt not in FORMATS:
        raise KeyError(f"unknown format: {fmt}")
    if fmt == "csv":
        df = df.withColumn("tag", F.to_json(F.col("tag")))
        df.write.mode(mode).option("header", "true").csv(path)
        return
    df.write.mode(mode).format(fmt).save(path)


def read_points(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Read a points dataset written by :func:`write_points` back into the
    canonical schema, whatever the on-disk format."""
    from nibbledb_spark.schema import POINT_SCHEMA

    if fmt not in FORMATS:
        raise KeyError(f"unknown format: {fmt}")
    if fmt == "csv":
        csv_schema = "series string, ts bigint, tag string, value double"
        raw = spark.read.option("header", "true").schema(csv_schema).csv(path)
        return raw.select(
            "series",
            "ts",
            F.from_json(F.col("tag"), "map<string,string>").alias("tag"),
            "value",
        )
    if fmt == "json":
        # explicit schema: no inference pass, stable types on empty input
        return spark.read.schema(POINT_SCHEMA).json(path)
    return spark.read.format(fmt).load(path).select("series", "ts", "tag", "value")


def stream_points(spark: SparkSession, path: str, fmt: str = "json") -> DataFrame:
    """Streaming file source over a drop directory of points files — the
    engine's analogue of the reference's HTTP ingest endpoint feeding the
    write buffer (SURVEY.md A1-A3). Pair with
    ``StreamingIngest.start_replay``'s foreachBatch sink."""
    from nibbledb_spark.schema import POINT_SCHEMA

    reader = spark.readStream.schema(POINT_SCHEMA)
    if fmt == "csv":
        csv_schema = "series string, ts bigint, tag string, value double"
        return (
            spark.readStream.option("header", "true")
            .schema(csv_schema)
            .csv(path)
            .select(
                "series",
                "ts",
                F.from_json(F.col("tag"), "map<string,string>").alias("tag"),
                "value",
            )
        )
    if fmt == "json":
        return reader.json(path)
    if fmt == "parquet":
        return reader.parquet(path)
    raise KeyError(f"unknown streaming format: {fmt}")


# Parsed-points cache: the whole ts surface derives from one projection of
# events (JSON props -> map). Re-running the parse per query is pure fixed
# cost, so the view is persisted once per (session, sf_dir) — the local-mode
# analogue of materializing the points table once per corpus, which is what
# a 100 TB deployment does as an ETL step anyway (the reference holds its
# points natively in its store). Entries carry the events-file stamp and
# invalidate (unpersisting the stale view) when the file changes, same
# contract as _TABLE_CACHE. An entry that ``spark.catalog.clearCache()``
# (or any uncache) took out of the cache manager is rebuilt and persisted
# again on its next use. Bounded: one entry per sf_dir actually queried.
_POINTS_CACHE: dict[tuple[int, str], tuple[object, DataFrame]] = {}


def event_ts_us(df: DataFrame):
    """Epoch-µs BIGINT expression for an events-shaped frame's ``ts``,
    across testdata vintages: INT64 ns (the legacy ``nanosAsLong`` read —
    floor-div, never a double round-trip: ns epoch > 2^53 loses precision),
    or TIMESTAMP / TIMESTAMP_NTZ at µs precision (current testdata). NTZ
    is wall-clock; the session is UTC-pinned (ensure_session_confs), so
    the cast to TIMESTAMP is epoch-exact and matches DuckDB ``epoch_us``.
    """
    # Self-sufficient: the NTZ->TIMESTAMP cast below is epoch-exact only
    # under a UTC session, so pin the confs here (memoized per session)
    # instead of relying on every caller having gone through a load path.
    ensure_session_confs(df.sparkSession)
    ts_type = dict(df.dtypes).get("ts")
    if ts_type is None:
        raise KeyError(f"events-shaped frame lacks a 'ts' column: {df.columns}")
    if ts_type == "bigint":
        # Column arithmetic bound to THIS frame (df["ts"], not a raw SQL
        # string) so resolution can't mis-bind on joined frames. Exact for
        # ns epochs > 2^53: decimal division (scale 6) then floor — a double
        # division here would round the low bits of the ns value.
        return F.floor(df["ts"].cast("decimal(38,0)") / F.lit(1000)).cast("long")
    return F.unix_micros(df["ts"].cast("timestamp"))


def events_to_points(df: DataFrame) -> DataFrame:
    """events wire shape -> canonical points: THE mapping, shared by the
    batch reader below and streaming ingest, so both store bit-identical
    points."""
    return df.select(
        F.col("event_type").alias("series"),
        event_ts_us(df).alias("ts"),
        F.from_json(F.col("props"), "map<string,string>").alias("tag"),
        F.col("value").alias("value"),
    )


def points_from_events(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, *, cached: bool = True
) -> DataFrame:
    """events.parquet -> canonical points schema.

    ts is normalized to epoch µs on read whatever the on-disk flavor —
    see :func:`event_ts_us` (the same truncation DuckDB's µs-precision
    TIMESTAMP applies at scan; FIXTURES.md timestamp caution).
    """
    key = (id(spark), os.path.abspath(sf_dir))
    stamp = _path_stamp(os.path.join(sf_dir, "events.parquet"))
    if cached:
        hit = _POINTS_CACHE.get(key)
        if hit is not None:
            # pyspark's is_cached is a python-side flag that clearCache()
            # leaves True; storageLevel asks the cache manager itself
            if hit[0] == stamp and hit[1].storageLevel != StorageLevel.NONE:
                return hit[1]
            try:  # events.parquet changed or the cache was cleared: rebuild
                hit[1].unpersist()
            except Exception:
                pass
            del _POINTS_CACHE[key]
    pts = events_to_points(load_table(spark, "events", sf_dir))
    if cached:
        # Persist CLUSTERED + SORTED on the canonical ts access path:
        # InMemoryTableScan reports its child's outputPartitioning and
        # outputOrdering, so every downstream series-keyed operator —
        # window lag/lead (delta, rate, resample, sessionless gaps),
        # groupBy(series) aggregates, last-n/first-n per series — plans
        # with ZERO Exchange and ZERO Sort above the cache scan
        # (verified: Window directly over InMemoryTableScan). One
        # shuffle at cache build replaces one shuffle+sort per query.
        # At 100 TB the same layout is the store's bucket-by-series
        # write discipline; here it is the cache's. (ts, value) matches
        # the canonical Q5 tiebreak ordering every windowed operator
        # declares, so the orderings unify across operators.
        pts = pts.repartition("series").sortWithinPartitions(
            "series", "ts", "value"
        ).persist()
        _POINTS_CACHE[key] = (stamp, pts)
    return pts
