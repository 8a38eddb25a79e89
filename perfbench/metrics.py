"""Metric names, units and the arithmetic that turns records and spans
into them. Every run prints every metric of its kind; a layer a workload
never enters reads 0."""

from __future__ import annotations

import math
import os
from collections import defaultdict

from common import median, pct
from spans import modal, self_times, subtree_totals

HEADLINE = (
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
)

END_TO_END = {
    "setup_s": "s",
    "read_p50_ms": "ms",
    "read_tail_ms": "ms",
    "read_rps": "1/s",
}

PER_LAYER = {
    "rest.self_ms": "ms",
    "rest.post_p50_ms": "ms",
    "rest.post_stalled_frac": "frac",
    "schema.validate_ms": "ms",
    "engine.read_build_ms": "ms",
    "engine.append_calls": "count",
    "engine.append_ms": "ms",
    "engine.points_per_append": "count",
    "engine.store_files": "count",
    "engine.store_bytes_per_point": "B",
    "operators.timeseries.aggregate_ms": "ms",
    "operators.dedup.self_ms": "ms",
    "operators.dedup.jobs_per_cycle": "count",
    "operators.similarity.self_ms": "ms",
    "operators.similarity.jobs_per_cycle": "count",
    "queries.build_ms": "ms",
    **{f"queries.{q}_ms": "ms" for q in HEADLINE},
    "sources.registry.table_cache_hit_ratio": "frac",
    "spark.build_ms": "ms",
    "spark.plan_ms": "ms",
    "spark.exec_ms": "ms",
    "spark.arrow_ms": "ms",
    **{f"spark.{w}_per_{u}": "count" for u in ("request", "append", "query") for w in ("jobs", "stages", "tasks")},
    "spark.shuffle_bytes": "B",
    "loadgen.late_p90_ms": "ms",
    "loadgen.write_p90_ms": "ms",
    "loadgen.write_p99_ms": "ms",
    "loadgen.ingest_points_per_s": "1/s",
    "trace.overhead_frac": "frac",
    "failed_frac": "frac",
}

STALL_MS = 50.0
PHASE_S = 2.5  # traced/untraced phase length of a traced tsdb run
BUILD_SPANS = ("engine.read_build", "operators.timeseries.tag_filter", "sources.registry.load_table")


def end_to_end(setup_s: list[float], lat_ms: list[float], reads_per_s: float) -> dict[str, float]:
    """The end-to-end metrics from the set-up times and read latencies.
    The tail is the mean of the slowest quarter: latencies come from a
    mixture (reads that waited on a flush, slow and fast queries), and a
    single high percentile jumps between its modes from run to run."""
    slow = sorted(lat_ms)[-max(1, math.ceil(len(lat_ms) / 4)):]
    return {
        "setup_s": median(setup_s),
        "read_p50_ms": pct(lat_ms, 50),
        "read_tail_ms": sum(slow) / len(slow),
        "read_rps": reads_per_s,
    }


def mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def request_kind(method: str, path: str) -> str:
    """Route shape of a request: ids become their count, numbers become N
    except a last/first count."""
    p = path.strip("/").split("/")
    if len(p) > 1 and p[0] == "ts":
        p[1] = f"<{len(p[1].split(','))}>"
    out = [x if not x.isdigit() or (i and p[i - 1] in ("last", "first")) else "N" for i, x in enumerate(p)]
    return method + " " + "/".join(out)


def spark_totals(spans: list[dict], roots: list[dict]) -> dict[int, dict]:
    """Per root span: jobs/stages/tasks/shuffle over its subtree, and the
    build/plan/exec/arrow split of its Spark work."""
    tot = {k: subtree_totals(spans, k) for k in ("jobs", "stages", "tasks", "shuffle_bytes")}
    by_parent = defaultdict(list)
    for s in spans:
        by_parent[s.get("parent")].append(s)
    out = {}
    for r in roots:
        build = plan = exe = arrow = 0.0
        stack = [(r, False, False)]
        while stack:  # outermost build spans; result collects outside them
            s, in_build, in_collect = stack.pop()
            is_build = s["name"] in BUILD_SPANS or s["name"].startswith("queries.")
            is_collect = s["name"] == "spark.collect"
            if is_build and not in_build:
                build += s["end"] - s["start"]
            if is_collect and not in_collect and not in_build:
                p = s.get("plan_s", 0.0)
                e = tot_exec(s, by_parent)
                plan += p
                exe += e
                arrow += max(0.0, (s["end"] - s["start"]) - p - e)
            stack.extend(
                (c, in_build or is_build, in_collect or is_collect) for c in by_parent.get(s["id"], ())
            )
        out[r["id"]] = {
            **{k: tot[k][r["id"]] for k in tot},
            "build_s": build, "plan_s": plan, "exec_s": exe, "arrow_s": arrow,
        }
    return out


def tot_exec(span: dict, by_parent) -> float:
    """Job wall time launched under a collect span, its nested groups included."""
    e = span.get("exec_s", 0.0)
    for c in by_parent.get(span["id"], ()):
        e += tot_exec(c, by_parent)
    return e


def _modal_counts(kinds: dict[str, list[dict]], prefix: str) -> dict[str, float]:
    """Mean over operation kinds of each kind's modal job/stage/task count."""
    out = {}
    for w in ("jobs", "stages", "tasks"):
        out[f"spark.{w}_per_{prefix}"] = mean(modal(int(t[w]) for t in ts) for ts in kinds.values())
    return out


def zero_layers() -> dict[str, float]:
    return {k: 0.0 for k in PER_LAYER}


def tsdb_layers(spans: list[dict], records: list[dict], load: dict, trace: bool) -> dict[str, float]:
    out = zero_layers()
    writes = [r for r in records if r["op"] == "write"]
    if writes:
        lat = [(r["done"] - r["due"]) * 1e3 for r in writes]
        out["loadgen.late_p90_ms"] = pct([(r["send"] - r["due"]) * 1e3 for r in writes], 90)
        out["loadgen.write_p90_ms"] = pct(lat, 90)
        out["loadgen.write_p99_ms"] = pct(lat, 99)
        out["loadgen.ingest_points_per_s"] = load.get("acked_points", 0) / load["window_s"]
    # per read kind, traced over untraced median latency; the median ratio.
    # The first phase is left out: the window's start is still warming up
    phases = defaultdict(lambda: ([], []))
    for r in records:
        if r["op"] == "read" and r["phase"] in (0, 1) and r["send"] >= PHASE_S:
            phases[r["kind"]][r["phase"]].append(r["done"] - r["send"])
    ratios = [median(on) / median(off) for off, on in phases.values() if on and off]
    if ratios:
        out["trace.overhead_frac"] = median(ratios) - 1.0
    if not trace:
        return out

    every = [s for s in spans if s.get("rid") is not None]
    all_roots = [s for s in every if s["name"] == "rest.handle"]
    totals = spark_totals(every, all_roots)
    # job counts from the probe set only: the same requests every run
    probes = {s["rid"] for s in all_roots if s.get("label") == "probe"}
    kinds = defaultdict(list)
    for s in all_roots:
        if s["rid"] in probes and s["method"] == "GET":
            kinds[request_kind("GET", s["path"])].append(totals[s["id"]])
    out.update(_modal_counts(kinds, "request"))
    probe_appends = [s for s in every if s["name"] == "engine.append_points" and s["rid"] in probes]
    if probe_appends:
        atot = spark_totals(every, probe_appends)
        out.update(_modal_counts({"append": [atot[s["id"]] for s in probe_appends]}, "append"))

    # timings from the traced phases of the window
    spans = [s for s in every if s["rid"] not in probes]
    selft = self_times(spans)
    roots = [s for s in spans if s["name"] == "rest.handle"]
    gets = [s for s in roots if s["method"] == "GET"]
    posts = [s for s in roots if s["method"] == "POST"]
    if gets:
        out["rest.self_ms"] = mean(selft[s["id"]] for s in gets) * 1e3
        for k in ("build", "plan", "exec", "arrow"):
            out[f"spark.{k}_ms"] = mean(totals[s["id"]][f"{k}_s"] for s in gets) * 1e3
        out["spark.shuffle_bytes"] = mean(totals[s["id"]]["shuffle_bytes"] for s in gets)
        out["engine.read_build_ms"] = (
            sum(s["end"] - s["start"] for s in spans if s["name"] == "engine.read_build") / len(gets) * 1e3
        )
    if posts:
        d = [(s["end"] - s["start"]) * 1e3 for s in posts]
        out["rest.post_p50_ms"] = median(d)
        out["rest.post_stalled_frac"] = sum(1 for x in d if x > STALL_MS) / len(d)
        val = [s for s in spans if s["name"] == "schema.validate_points"]
        out["schema.validate_ms"] = mean((s["end"] - s["start"]) * 1e3 for s in val)
    appends = [s for s in spans if s["name"] == "engine.append_points"]
    if appends:
        out["engine.append_calls"] = len(appends)
        out["engine.append_ms"] = mean((s["end"] - s["start"]) * 1e3 for s in appends)
    flushes = [s["points"] for s in spans if s["name"] == "rest.flush" and s.get("points")]
    out["engine.points_per_append"] = mean(flushes)
    aggs = [s for s in spans if s["name"] == "operators.timeseries.aggregate"]
    out["operators.timeseries.aggregate_ms"] = mean((s["end"] - s["start"]) * 1e3 for s in aggs)
    return out


def store_layers(store: str, n_points: int) -> dict[str, float]:
    files = size = 0
    for d, _, names in os.walk(store):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return {"engine.store_files": files, "engine.store_bytes_per_point": size / max(1, n_points)}


def declared_layers(spans: list[dict], cycles: list[dict], failed: int, attempted: int) -> dict[str, float]:
    """``cycles``: one dict per timed cycle, {"traced": bool, "times": {query: s}}."""
    out = zero_layers()
    out["failed_frac"] = failed / max(1, attempted)
    plain = [c for c in cycles if not c["traced"]]
    traced = [c for c in cycles if c["traced"]]
    for q in HEADLINE:
        out[f"queries.{q}_ms"] = median([c["times"][q] for c in plain]) * 1e3
    if plain and traced:
        a = sum(median([c["times"][q] for c in traced]) for q in HEADLINE)
        b = sum(median([c["times"][q] for c in plain]) for q in HEADLINE)
        out["trace.overhead_frac"] = a / b - 1.0
    spans = [s for s in spans if s.get("rid") is not None]
    if not spans:
        return out
    selft = self_times(spans)
    roots = [s for s in spans if s["name"] == "query"]
    totals = spark_totals(spans, roots)
    n = len(roots)
    for k in ("build", "plan", "exec", "arrow"):
        out[f"spark.{k}_ms"] = mean(totals[s["id"]][f"{k}_s"] for s in roots) * 1e3
    out["spark.shuffle_bytes"] = mean(totals[s["id"]]["shuffle_bytes"] for s in roots)
    kinds = defaultdict(list)
    for s in roots:
        kinds[s["query"]].append(totals[s["id"]])
    out.update(_modal_counts(kinds, "query"))
    out["queries.build_ms"] = sum(s["end"] - s["start"] for s in spans if s["name"].startswith("queries.")) / n * 1e3
    loads = [s for s in spans if s["name"] == "sources.registry.load_table"]
    out["sources.registry.table_cache_hit_ratio"] = mean(1.0 if s.get("cache_hit") else 0.0 for s in loads)
    cycle_of = {s["id"]: s["rid"].split(":")[0] for s in roots}
    n_cycles = len(set(cycle_of.values()))
    for layer in ("operators.dedup", "operators.similarity"):
        mine = [s for s in spans if s["name"].startswith(layer + ".")]
        out[f"{layer}.self_ms"] = sum(selft[s["id"]] for s in mine) / n_cycles * 1e3
        # the operators build lazily: count the jobs of the queries that
        # call into the layer
        callers = {s["rid"] for s in mine}
        per_cycle = dict.fromkeys(set(cycle_of.values()), 0)
        for r in roots:
            if r["rid"] in callers:
                per_cycle[cycle_of[r["id"]]] += totals[r["id"]]["jobs"]
        out[f"{layer}.jobs_per_cycle"] = modal(per_cycle.values())
    aggs = [s for s in spans if s["name"] == "operators.timeseries.aggregate"]
    out["operators.timeseries.aggregate_ms"] = sum((s["end"] - s["start"]) for s in aggs) / n * 1e3
    return out
