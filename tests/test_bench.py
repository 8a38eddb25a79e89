"""bench.py's command line and its headline list: flags are checked
before a JVM starts, and perfbench/metrics.py's own copy of the
headline list stays equal to bench.HEADLINE."""

from __future__ import annotations

import ast
import importlib.util
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench_module():
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(ROOT, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _run_bench(*args: str) -> subprocess.CompletedProcess:
    # a SPARK_HOME with no Spark in it: any session start fails at once
    # with a traceback (exit 1) instead of running a benchmark
    env = dict(os.environ, SPARK_HOME=os.path.join(ROOT, "no-such-spark-home"))
    return subprocess.run(
        [sys.executable, "bench.py", *args],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )


def test_unknown_flag_exits_2_with_the_mode_list_and_no_jvm():
    t0 = time.perf_counter()
    out = _run_bench("--no-such-mode")
    elapsed = time.perf_counter() - t0
    assert out.returncode == 2, out.stderr
    assert out.stdout == ""
    assert "--no-such-mode" in out.stderr and "spark-submit" not in out.stderr
    for flag in _bench_module().MODES:
        assert flag in out.stderr
    assert elapsed < 30
    # control: a known mode gets past the flag check and tries to start
    # Spark, which the empty SPARK_HOME refuses
    known = _run_bench("--ingest")
    assert known.returncode == 1 and "spark-submit" in known.stderr, known.stderr[-2000:]


def test_perfbench_headline_copy_equals_bench_headline():
    path = os.path.join(ROOT, "perfbench", "metrics.py")
    tree = ast.parse(open(path).read(), path)
    copies = [
        ast.literal_eval(node.value)
        for node in tree.body
        if isinstance(node, ast.Assign)
        and any(isinstance(t, ast.Name) and t.id == "HEADLINE" for t in node.targets)
    ]
    assert len(copies) == 1
    assert list(copies[0]) == list(_bench_module().HEADLINE)
