"""SparkSession construction.

Single place to build a session tuned for the environment: local[N]
for tests/bench here, but every knob chosen to survive a real
multi-executor cluster (AQE on, sane shuffle partitioning, UTC, Arrow).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "nibbledb_spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Defaults: ``local[$SPARK_GRAFT_CPUS or *]``, shuffle partitions =
    cores (not the 200 default — wrong at both ends of the scale),
    AQE + skew-join handling on, UTC session timezone (required for
    oracle comparison against DuckDB's UTC-naive timestamps), Arrow
    enabled for the pandas-UDF slow path, and a 1024-entry codegen class
    cache, so a long-lived session serving a mixed query stream reuses
    its compiled classes instead of recompiling them.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    # Executor Python workers must be able to import this package, or every
    # pandas-UDF/mapInPandas operator dies with ModuleNotFoundError when the
    # driver script runs outside the repo directory. Local mode: export the
    # package parent on PYTHONPATH before the JVM launches. Real cluster:
    # executorEnv only helps if the path exists on the executors — ship the
    # package with --py-files / pip install there instead.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + existing if existing else "")
        )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # parallelismFirst=true (Spark's default) — round-6 reversal of
        # the round-1 "respect advisory size" setting, measured, not
        # guessed: AQE coalesces a shuffle by its MAP-OUTPUT bytes, which
        # under-predicts a join's output when the join fans out (shared-
        # shingle candidate generation explodes ~25x here). With
        # parallelismFirst=false the x10 ngram_jaccard_pairs input
        # coalesced to ~1 partition and ran 15.5 s; flipping restores the
        # cluster's parallelism floor and the same join runs 2.2 s. The
        # tiny-task overhead this was meant to avoid is bounded by
        # minPartitionSize (1 MB) and was not measurable in the headline
        # set; the fan-out serialization is 7x. At 100 TB the same logic
        # holds — advisory-sized coalescing is only safe when output
        # size tracks input size, which candidate joins violate.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Py4J call-site capture for error context costs ~3 JVM round
        # trips (incl. a conf.get) per DataFrame METHOD CALL on the
        # driver — measured 40% of plan-construction time on the
        # expression-heavy operators (clean_corpus build 0.64s -> 0.38s,
        # r15 opt). Debug-message metadata only; plans and results are
        # untouched. Scale-independent: this is driver-side Python API
        # overhead, the same on local[4] and a 1000-executor cluster.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Let AQE re-optimize (notably: coalesce the shuffles of) plans
        # that feed a persist(). With the default (false), a cached
        # frame freezes at the static shuffle-partition count and every
        # downstream reader — every ROUND of the iterative operators
        # (pagerank, kcore, BFS, CC), which persist per round — pays
        # tasks proportional to that frozen layout. Measured on
        # pagerank_trade_graph at sf0.1: persisting its edge pipeline
        # under the default blew the cache up to 2x-shuffle-partition
        # layout (8.3 -> 21 s); with this on, the same cache coalesces
        # and the query reads 6.3-8.4 s (r15 opt). Coalescing merges
        # whole hash partitions, so co-partitioning guarantees
        # (ClusteredDistribution) survive — plan pins re-audited.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        # Janino class cache sized to the session's working set, not
        # Spark's 100-entry default. One long-lived session serves a mixed
        # stream of queries (REST server, declared_queries workload), and
        # the 22 headline queries alone generate about 340 distinct
        # classes. At 100 entries every shuffled cycle of them evicted and
        # recompiled 270-300 classes (sf0.02, local[4]), and each fresh
        # class starts interpreted, not JIT-compiled. At 1024 (~3x the
        # set) warm cycles compile 0-12 classes and run 6.6-9.2 s instead
        # of 10.4-11.2 s; JVM Metaspace after 5 cycles is 168 MiB vs
        # 177 MiB. Static conf: only a builder can set it, before the
        # session exists.
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as raw int64 ns and convert explicitly.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Micro-batch scheduler-floor bypass threshold: below this many batch
# rows, a crawl-gate sink runs its per-batch plans without AQE and with
# a batch-size-derived shuffle partition count. Rationale (r16 opt,
# measured on the two gate replays at sf0.1): AQE materializes every
# shuffle/broadcast stage as its OWN job, so a 500-row micro-batch paid
# 23-39 driver scheduling round-trips per batch (semdedup: 15 jobs for
# ONE count) while every AQE benefit — size-based coalescing, skew
# splits — is moot on kilobyte inputs. Above the threshold nothing
# changes (production-size batches keep full AQE), so the bypass is
# data-size-derived, not a local-mode constant: the same gate on a
# cluster ingesting 10M-row batches never triggers it.
MICRO_BATCH_ROWS = 10_000


class micro_batch_tuning:
    """Context manager: scheduler-floor confs for a tiny micro-batch.

    ``n_rows`` at or below ``MICRO_BATCH_ROWS`` turns AQE off and sizes
    ``spark.sql.shuffle.partitions`` from the batch volume (~128 rows
    per partition, floored at 4, never above the session setting) for
    the duration of the block; larger batches are a no-op. The crawl
    gates' sink tunes the BATCH's session (in a stream, the query's
    clone, so other queries keep their confs) and runs ``on_pass``
    after the block, under the session's own confs. The previous values
    restore on exit even on failure. Results are conf-independent — AQE
    and partition counts change scheduling, never semantics.
    """

    def __init__(self, spark: SparkSession, n_rows: int):
        self.spark = spark
        self.n_rows = n_rows
        self.saved: dict[str, str] = {}

    def __enter__(self):
        if self.n_rows > MICRO_BATCH_ROWS:
            return self
        conf = self.spark.conf
        self.saved = {
            "spark.sql.adaptive.enabled": conf.get("spark.sql.adaptive.enabled"),
            "spark.sql.shuffle.partitions": conf.get("spark.sql.shuffle.partitions"),
        }
        session_parts = int(self.saved["spark.sql.shuffle.partitions"])
        parts = min(session_parts, max(4, self.n_rows // 128 + 1))
        conf.set("spark.sql.adaptive.enabled", "false")
        conf.set("spark.sql.shuffle.partitions", str(parts))
        return self

    def __exit__(self, *exc):
        for k, v in self.saved.items():
            self.spark.conf.set(k, v)
        return False


def sql_over(spark: SparkSession, query: str, **frames):
    """``spark.sql`` with ``{name}`` DataFrame substitution that does
    NOT uncache persisted inputs.

    PySpark's own ``spark.sql(q, df=...)`` formatter registers each
    DataFrame as a temp view and afterwards drops it through
    ``catalog.dropTempView``, which ALSO uncaches any cache entry whose
    plan matches the view's plan — so passing a ``.persist()``ed frame
    silently unpersists it and every consumer re-executes its build
    (measured: the capped shingle table's anti-join re-ran 4x in
    clean_corpus). Here the views are dropped through the session
    catalog directly, which only removes the name binding; the cache
    registry is untouched. The returned DataFrame is analyzed eagerly
    (classic mode), so dropping the names immediately is safe.

    The single-``spark.sql`` shape exists because classic PySpark
    re-runs the analyzer over the whole deepening tree on EVERY
    DataFrame method call — fusing a ~20-call pipeline into one parse
    + one analysis cuts its driver-side build time roughly in half
    (r15 opt, cProfile'd)."""
    import uuid

    names: dict[str, str] = {}
    jcatalog = spark._jsparkSession.sessionState().catalog()
    try:
        for key, df in frames.items():
            name = f"_nbsql_{uuid.uuid4().hex}"
            df.createOrReplaceTempView(name)
            names[key] = name
        return spark.sql(query.format(**names))
    finally:
        for name in names.values():
            jcatalog.dropTempView(name)
