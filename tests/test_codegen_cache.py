"""The session's generated-code cache holds a mixed query stream's
working set: repeating a set of declared queries reuses their compiled
classes instead of recompiling them.

This file sorts ahead of every other test that uses the shared session,
so the first pass below compiles the subset's classes afresh."""

from __future__ import annotations

from nibbledb_spark.queries import QUERIES
from tests.conftest import SF_ORACLE

# Headline queries whose first pass compiles about 170 classes at sf0.01,
# more than Spark's default 100-entry cache holds: at that size the
# passes compiled 171, 113 and 105 classes.
SUBSET = (
    "lsh_near_dup_pairs",
    "dedup_substring_spans",
    "ivf_ann_topk",
    "q8_national_market_share",
)


def test_repeated_queries_reuse_compiled_classes(spark):
    compiled = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )
    per_pass = []
    for _ in range(3):
        before = compiled.getCount()
        for name in SUBSET:
            QUERIES[name](spark, SF_ORACLE).toPandas()
        per_pass.append(compiled.getCount() - before)
    first, _, third = per_pass
    assert first > 100, f"subset no longer outgrows the default cache: {per_pass}"
    assert third * 10 < first, f"classes recompiled per pass: {per_pass}"
