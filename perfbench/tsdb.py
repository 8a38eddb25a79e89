"""tsdb_read and tsdb_write_mix: a REST server process, a load generator
process, and the output checks, run from one temp root."""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

import numpy as np

import gen
import metrics
from common import BENCH_DIR, child_env, log

FULL = (64, 16_000)  # series x points per series, about 1M points
SMALL = (24, 1_500)
SETUP_REPS = 3


def run(workload: str, seed: int, seconds: float, trace: bool, root: str, small: bool) -> dict:
    n_series, n_points = SMALL if small else FULL
    env = child_env(root)
    procs = []
    try:
        server = subprocess.Popen(
            [sys.executable, os.path.join(BENCH_DIR, "server.py"), "--root", root, "--trace", str(int(trace))],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, env=env, cwd=root,
        )
        procs.append(server)
        log("generating store while the server starts")
        cols = gen.store_points(seed, n_series, n_points)
        gen.write_store_chunks(cols, n_series, root, SETUP_REPS)
        server.stdin.write("go\n")
        server.stdin.flush()
        line = server.stdout.readline()
        if not line:
            raise RuntimeError("REST server exited during set-up")
        ready = json.loads(line)
        log(f"server ready, set-up {ready['setup_s']}")
        out = os.path.join(root, "loadgen_out.json")
        loadgen = subprocess.Popen(
            [sys.executable, os.path.join(BENCH_DIR, "loadgen.py"), "--port", str(ready["port"]),
             "--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace)),
             "--n-series", str(n_series), "--n-points", str(n_points), "--out", out],
            env=env, cwd=root,
        )
        procs.append(loadgen)
        if loadgen.wait(timeout=seconds + 90) != 0:
            raise RuntimeError("load generator failed")
        log("load done")
        server.stdin.write("stop\n")
        server.stdin.flush()
        server.wait(timeout=60)
        with open(out) as f:
            load = json.load(f)
        with open(os.path.join(root, "server_out.json")) as f:
            spans = json.load(f)["spans"]
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()

    log("server stopped")
    records = load["records"]
    checked, mismatched = check_reads(records, cols, n_series)
    attempted = len(records)
    failed = sum(1 for r in records if not r["ok"])
    if workload == "tsdb_write_mix":  # the length check is one more operation
        attempted += 1
        failed += bool(load["count_check"]["mismatched"])
    timed = [r for r in records if r["phase"] == 0] if trace else records
    reads = [r for r in timed if r["op"] == "read"]
    lat = [(r["done"] - r["send"]) * 1e3 for r in reads]
    e2e = metrics.end_to_end(ready["setup_s"], lat, len(reads) / load["window_s"] / (0.5 if trace else 1.0))
    layers = metrics.tsdb_layers(spans, records, load, trace)
    layers["failed_frac"] = failed / attempted
    layers.update(metrics.store_layers(os.path.join(root, "store"), n_series * n_points + load.get("acked_points", 0)))
    return {"attempted": attempted, "failed": failed, "e2e": e2e, "layers": layers, "env": ready["env"],
            "checks": {"reads_checked": checked, "reads_mismatched": mismatched,
                       "count_mismatches": load.get("count_check")}}


# -- output check: sampled read responses against the generated points ----


def check_reads(records: list[dict], cols: dict, n_series: int) -> tuple[int, int]:
    """Recompute every sampled response from the generated points; return
    how many were checked and how many differ. A differing record's ``ok``
    is cleared."""
    per = len(cols["ts"]) // n_series
    by_series = {}
    for i, s in enumerate(gen.series_names(n_series)):
        sl = slice(i * per, (i + 1) * per)
        by_series[s] = {k: v[sl] for k, v in cols.items() if k != "series"}
    bad = checked = 0
    for r in records:
        if "body" not in r:
            continue
        checked += 1
        want = expected(r["path"], by_series)
        if not same(json.loads(r["body"]), want):
            bad += 1
            r["ok"] = False
        del r["body"]
    return checked, bad


def _points(parts: list[tuple[str, dict, np.ndarray]]) -> list[dict]:
    rows = []
    for s, d, idx in parts:
        for i in idx:
            rows.append((int(d["ts"][i]), s, float(d["value"][i]), gen.TAG_DEV[d["dev"][i]], gen.TAG_LOC[d["loc"][i]]))
    rows.sort(key=lambda x: (-x[0], x[1], -x[2]))
    return [{"timestamp": t, "tag": [{"dev": dv}, {"loc": lc}], "value": v} for t, _, v, dv, lc in rows]


def expected(path: str, by_series: dict):
    p = path.strip("/").split("/")
    ids, verb, rest = p[1].split(","), p[2], p[3:]
    ids = list(dict.fromkeys(ids))
    if verb == "last":
        n = int(rest[0])
        parts = [(s, by_series[s], np.arange(len(by_series[s]["ts"]))[-n:]) for s in ids]
        xargs = rest[1:]
    elif verb == "range":
        a, b = int(rest[0]), int(rest[1])
        parts = [(s, by_series[s], np.nonzero((by_series[s]["ts"] >= a) & (by_series[s]["ts"] <= b))[0]) for s in ids]
        xargs = rest[2:]
    elif verb == "since":
        t = int(rest[0])
        parts = [(s, by_series[s], np.nonzero(by_series[s]["ts"] >= t)[0]) for s in ids]
        xargs = rest[1:]
    else:
        raise ValueError(path)
    if xargs[:1] == ["filter"]:
        loc = gen.TAG_LOC.index(xargs[3])
        parts = [(s, d, idx[d["loc"][idx] == loc]) for s, d, idx in parts]
        xargs = xargs[4:]
    if not xargs:
        return _points(parts)
    vals = np.concatenate([d["value"][idx] for _, d, idx in parts])
    agg = xargs[0]
    if len(vals) == 0:
        return {}
    fn = {"mean": np.mean, "sd": np.std, "median": np.median, "sum": np.sum, "max": np.max, "min": np.min}[agg]
    return {agg: float(fn(vals))}


def same(got, want) -> bool:
    if isinstance(want, dict):
        return (
            isinstance(got, dict)
            and got.keys() == want.keys()
            and all(math.isclose(got[k], want[k], rel_tol=1e-9, abs_tol=1e-9) for k in want)
        )
    return got == want
