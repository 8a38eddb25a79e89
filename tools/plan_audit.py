"""Generate PLANS.md: a physical-plan audit of every declared query.

For each query in the registry, record the properties that matter at
100 TB — shuffle (Exchange) count, join strategies chosen, whether
whole-stage codegen covers the plan, whether Python appears in it, and
whether the parquet scan carries pushed filters — so plan regressions
are visible in review, not just in runtime.

Usage: python tools/plan_audit.py [sf_dir]   (writes PLANS.md)

``sf_dir`` defaults to the oracle harness's tables
(``tests/oracle_harness.py`` ``SF_DIR``) and must be a directory;
anything else exits 2 without touching PLANS.md.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.oracle_harness import SF_DIR as DEFAULT_SF_DIR  # noqa: E402

PLANS_MD = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"
)

JOIN_OPS = [
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
]

# HARD plan invariants, not just reporting: these queries are claimed
# (SURVEY.md / docstrings) to be row-local zero-exchange projections or
# scans — an Exchange appearing in one of them is a regression the audit
# must FAIL on, not a table cell a reviewer might miss. The round-10
# fingerprint_winnowing registration bug shipped exactly because the
# audit only reported its 4 surprise exchanges. Update this pin only
# with a conscious plan change, never to silence a failure.
# (fingerprint_winnowing left this set in the r15 optimization round:
# the row-local array-HOF form re-ran the whole md5 pass per window
# start — O(n^2) interpreted, 232 s at sf0.1 — and was deliberately
# re-planned as posexplode + lead + doc-keyed window, ONE Exchange,
# 0.98 s; the new shape is pinned by
# tests/test_plans.py::test_winnow_relational_plan_shape instead.)
ZERO_EXCHANGE = frozenset(
    {
        "bpe_learn_merges",  # corpus side; learning aggs are separate jobs
        "decontaminate_semantic",  # broadcast eval sweep; corpus never shuffles
        "embed_near_dup_pairs",  # broadcast sweep; corpus never shuffles
        "embed_norms",
        "embed_quantize_int8",
        "insert_feed_versions",
        "join_salted_orders_customer",  # broadcast after salting
        "join_theta_nation_region",  # broadcast NL by design
        "json_map_events",
        "linear_quality_score",
        "math_funcs_lineitem",
        "multimodal_frame_sample",
        "multimodal_payload_fp",
        "notin_suppliers_no_returns",
        "sample_stratified_sources",
        "sample_weighted_priority",
        "split_train_val_test",
        "stream_interval_join",
        "stream_interval_join_louter",
        "string_funcs_part",
        "subquery_exists_big_spenders",
        "text_fingerprints",
        "text_lang_id",
        "text_pii_scrub",
        "text_quality",
        "text_token_stats",
        "tokenize_bpe",
        "top10_orders",  # TakeOrderedAndProject, never a full sort
        "unpivot_lineitem_measures",
    }
)


def plan_of(df, mode: str) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def audit(name, fn, spark, sf_dir):
    df = fn(spark, sf_dir)
    p = plan_of(df, "formatted")
    joins = sorted(
        {op for op in JOIN_OPS if op in p},
        key=JOIN_OPS.index,
    )
    return {
        "name": name,
        "exchanges": len(re.findall(r"\(\d+\) Exchange", p)),
        "joins": "+".join(j.replace("Join", "").replace("Product", "×") for j in joins) or "-",
        "codegen": "yes" if "WholeStageCodegen" in plan_of(df, "codegen") else "NO",
        "python": "yes" if "EvalPython" in p or "ArrowEval" in p or "FlatMapGroupsInPandas" in p or "MapInPandas" in p else "-",
        "pushed": "yes" if re.search(r"PushedFilters: \[[^\]]", p) else "-",
    }


def main(argv: list[str] | None = None) -> int:
    args = sys.argv[1:] if argv is None else argv
    sf_dir = args[0] if args else DEFAULT_SF_DIR
    if len(args) > 1 or not os.path.isdir(sf_dir):
        print(
            f"usage: python tools/plan_audit.py [sf_dir] (got {args}); sf_dir "
            "must be an existing directory. PLANS.md left unchanged.",
            file=sys.stderr,
        )
        return 2
    from nibbledb_spark.queries import QUERIES
    from nibbledb_spark.session import get_spark

    spark = get_spark("plan_audit", shuffle_partitions=8)
    rows, failed = [], []
    for name in sorted(QUERIES):
        try:
            rows.append(audit(name, QUERIES[name], spark, sf_dir))
        except Exception as e:  # pragma: no cover - audit robustness
            failed.append((name, str(e).splitlines()[0][:80]))
    lines = [
        "# Physical-plan audit (auto-generated: `python tools/plan_audit.py`)",
        "",
        f"Every declared query's plan at {sf_dir}, summarized by the",
        "properties that matter at 100 TB. `exchanges` counts shuffle",
        "Exchange operators in the formatted plan (broadcast exchanges and",
        "subtree reprints excluded from runtime cost by reuse); `python`",
        "marks Arrow-batched pandas stages (the two by-design cases);",
        "`pushed` marks parquet scans with pushed filters (only queries",
        "that FILTER a scan can show one).",
        "",
        "| query | exchanges | joins | codegen | python | pushed filters |",
        "|---|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append(
            f"| {r['name']} | {r['exchanges']} | {r['joins']} | "
            f"{r['codegen']} | {r['python']} | {r['pushed']} |"
        )
    if failed:
        lines += ["", "Failed to plan:", ""] + [f"- {n}: {m}" for n, m in failed]
    breaches = [
        r["name"]
        for r in rows
        if r["name"] in ZERO_EXCHANGE and r["exchanges"] != 0
    ]
    missing_pins = ZERO_EXCHANGE - {r["name"] for r in rows} - {
        n for n, _ in failed
    }
    if breaches:
        lines += [
            "",
            "**INVARIANT BREACH** — queries pinned zero-exchange now shuffle:",
            "",
        ] + [f"- {n}" for n in breaches]
    if missing_pins:
        lines += [
            "",
            "**INVARIANT PIN STALE** — pinned names missing from registry:",
            "",
        ] + [f"- {n}" for n in sorted(missing_pins)]
    n_py = sum(1 for r in rows if r["python"] == "yes")
    n_nlj = sum(1 for r in rows if "NestedLoop" in r["joins"] or "×" in r["joins"])
    lines += [
        "",
        f"Summary: {len(rows)} queries audited; {n_py} use (Arrow-batched) Python; "
        f"{n_nlj} contain a broadcast-nested-loop join, all by design: "
        "the declared theta join, and the similarity brute-force paths "
        "where a BROADCAST query set sweeps the corpus scan (the corpus "
        "side never shuffles; the LSH/IVF variants are the scale path). "
        "The one all-pairs case, embed_near_dup_pairs, is the declared "
        "EXACT baseline and is hard-capped at 20k rows (raises past "
        "that; tests/test_extensions.py::test_near_dup_exact_guard), so "
        "its nested loop cannot run over a real corpus — "
        "embed_near_dup_pairs_bucketed is the production name. "
        "Every equi-join hashes or merges.",
        "",
    ]
    with open(PLANS_MD, "w") as f:
        f.write("\n".join(lines))
    print(
        f"PLANS.md: {len(rows)} audited, {len(failed)} failed, "
        f"{len(breaches)} zero-exchange breaches, "
        f"{len(missing_pins)} stale pins"
    )
    return 0 if not (failed or breaches or missing_pins) else 1


if __name__ == "__main__":
    raise SystemExit(main())
