"""Helpers shared by the benchmark's processes: paths, the Spark session,
environment facts and summary statistics."""

from __future__ import annotations

import math
import os
import platform
import statistics
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(BENCH_DIR)
TMP_PARENT = os.path.join(CHECKOUT, ".perfbench_tmp")
CORES = min(4, os.cpu_count() or 1)


def import_program() -> None:
    """Make the checkout's package importable; fail clearly without it."""
    if CHECKOUT not in sys.path:
        sys.path.insert(0, CHECKOUT)
    if not os.path.isfile(os.path.join(CHECKOUT, "nibbledb_spark", "__init__.py")):
        raise SystemExit("perfbench: nibbledb_spark is not in this checkout")


def child_env(root: str) -> dict[str, str]:
    """Environment for the benchmark's processes: every temp file, Spark
    scratch dir and JVM temp file lands under ``root``."""
    env = dict(os.environ)
    env.update(
        TMPDIR=root,
        SPARK_LOCAL_DIRS=root,
        SPARK_GRAFT_DRIVER_MEM="2g",
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={root} -XX:-UsePerfData",
        PYTHONPATH=os.pathsep.join(p for p in (CHECKOUT, BENCH_DIR, env.get("PYTHONPATH")) if p),
        PYTHONHASHSEED="0",
    )
    return env


def spark_session(app: str, cores: int = CORES):
    import_program()
    from nibbledb_spark import get_spark

    return get_spark(
        app,
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def env_facts(spark) -> dict:
    import pyspark

    try:
        java = spark.sparkContext._jvm.System.getProperty("java.version")
    except Exception:
        java = "unknown"
    return {
        "nproc": os.cpu_count(),
        "spark_master": spark.sparkContext.master,
        "pyspark": pyspark.__version__,
        "java": java,
        "python": platform.python_version(),
    }



def log(msg: str) -> None:
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def pct(values, q: float) -> float:
    """Percentile by linear interpolation (q in [0, 100])."""
    v = sorted(values)
    if not v:
        return float("nan")
    k = (len(v) - 1) * q / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def median(values) -> float:
    return statistics.median(values) if values else float("nan")

