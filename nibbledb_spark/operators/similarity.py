"""Embedding similarity search (SURVEY.md §2 Part C).

Two paths:

- ``cosine_topk``: brute-force exact top-k. The query set is broadcast;
  the corpus never shuffles; per-partition partial top-k feeds a final
  k-row merge. Dot products are left-fold double arithmetic
  (``F.aggregate`` over ``zip_with``) so results are bit-reproducible
  and oracle-checkable against an identically-ordered fold.
- ``srp_buckets`` / ``srp_topk``: signed-random-projection LSH — the
  scale path. Each vector gets a b-bit signature from fixed
  deterministic hyperplanes; candidates share a signature bucket, and
  exact scoring runs per-bucket only. At 100 TB the bucket join
  replaces the |Q|x|C| cross product with |Q|+|C| shuffled rows.

Pattern references (PAPERS.md; public retrieved corpus): partitioned
top-k similarity with per-partition pruning follows REPOSE (ICDE 2021)
and the streaming similarity-search partitioning of EDBT 2019; the
incremental top-k session pattern (EDBT 2020) motivates the
prepared-plan reuse measured in bench.py.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nibbledb_spark.operators.timeseries import scaled_long


# The dot/norm/cosine family accepts either Columns or SQL fragments
# (column names / array literals as text). The string path builds the
# WHOLE expression as one ``F.expr`` parse — the Column path pays ~1
# py4j driver round trip per method call, and a single cosine() is ~40
# calls (two HOF lambdas per dot), which measured as the dominant cost
# of building the similarity plans (ivf_topk construction 0.53s, ~0.2s
# of it in these helpers; r15 opt profile). Both paths produce the
# identical Catalyst tree (same functions, same casts, same 0.0 double
# init), so results and plan shape are bit-identical.


def _dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * "
        f"CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def _dot(a: Column | str, b: Column | str) -> Column:
    """Left-fold dot product in double precision (deterministic order)."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_dot_sql(a, b))
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(v: Column | str) -> Column:
    if isinstance(v, str):
        return F.expr(f"sqrt({_dot_sql(v, v)})")
    return F.sqrt(_dot(v, v))


# NEGATIVE RESULT (r16, measured, do not retry): unrolling the dot fold
# into a 64-term codegen expression ("0.0 + a[0]*b[0] + a[1]*b[1]+...",
# bit-identical by construction) made the semdedup gate replay 1.7-4x
# SLOWER (A/B same sitting: 6.5-10 s fold vs 11-40 s unrolled for three
# batches) — the generated whole-stage method for 64 element_at+cast+fma
# terms blows the JIT's effective method budget and runs as interpreted
# bytecode, worse than the HOF fold's CodegenFallback path, plus a
# multi-second first-plan janino compile. The interpreted
# aggregate/zip_with fold stays the pair-loop primitive; the cheap win
# is folding NORMS out of the pair loop (one fold per pair), which
# cosine_topk/semdedup/IVF all already do.


def _cos_sql(a: str, b: str) -> str:
    return f"{_dot_sql(a, b)} / (sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)}))"


def cosine(a: Column | str, b: Column | str) -> Column:
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_cos_sql(a, b))
    return _dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force top-k cosine neighbors per query vector.

    Returns (query_id, neighbor_id, rank, cos_sim). Self-matches are
    excluded; ties break on neighbor id for determinism.
    """
    # Norms factor OUT of the pair loop: ||q|| once per broadcast query
    # row, ||c|| once per corpus row, so each (corpus x query) pair
    # pays ONE interpreted HOF fold (the dot) instead of three — with
    # |Q| queries the per-corpus-row fold count drops from 3|Q| to
    # |Q|+1 (measured ~2.4x on the x100 eval sweep). Bit-identical to
    # cosine(): same operands, same dot/(nq*nc) IEEE tree — every
    # hash-matched oracle downstream is unaffected.
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        l2_norm(vec_col).alias("qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        l2_norm(vec_col).alias("cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (_dot("qv", "cv") / (F.col("qn") * F.col("cn"))).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def mmr_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    pool_size: int = 20,
    lam: tuple[int, int] = (7, 10),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance diversified top-``k`` (Carbonell &
    Goldstein, SIGIR 1998): greedily select results that are relevant
    to the query but DISSIMILAR to what's already selected —
    ``score(c) = λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)``. The
    standard diversification pass over a retrieval pool: a RAG /
    training-context pipeline that takes plain top-k gets near-
    duplicate passages burning the context budget; MMR spends each
    slot on new information.

    Engine-exact determinism: ``lam`` is the rational ``(num, den)``
    (λ = num/den), the score is computed as the literal double tree
    ``num·rel − (den−num)·maxsim`` (two exactly-representable integer
    constants, one subtract — an oracle mirrors it verbatim), rel and
    sim are the repo's left-fold cosine, maxsim is a MAX over <= k−1
    doubles (order-free), and every argmax tiebreaks on neighbor id.
    The first pick has an empty selected set: score = num·rel.

    Shape at scale: ONE corpus-wide stage (the brute-force or any ANN
    pool generator — here :func:`cosine_topk` with ``pool_size``);
    everything after runs on |Q|·pool rows: the pool's vectors come
    from one broadcast-pool hash join against the corpus, the
    pool×pool pairwise sims are a self-join of that tiny frame, and
    the ``k``-round greedy is k broadcast-sized argmax windows —
    per-query work is pool², never corpus². Rounds persist lazily
    (each round's selected set feeds the anti join, the max-sim join,
    AND the union — the bfs_hops recompute rule). Returns
    (query_id, neighbor_id, mmr_rank, mmr_score, cos_sim).
    """
    num, den = lam
    if not 0 < num <= den:
        raise ValueError(f"lam must be a proper positive fraction: {lam}")
    if not 1 <= k <= pool_size:
        raise ValueError(f"need 1 <= k <= pool_size: k={k}, pool={pool_size}")
    pool = cosine_topk(
        corpus, queries, pool_size, id_col=id_col, vec_col=vec_col
    ).persist()
    cv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    pv = cv.join(
        F.broadcast(pool.select("query_id", "neighbor_id", "cos_sim")),
        "neighbor_id",
    ).persist()
    a, b = pv.alias("a"), pv.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.query_id") == F.col("b.query_id"))
            & (F.col("a.neighbor_id") != F.col("b.neighbor_id")),
        )
        .select(
            F.col("a.query_id").alias("query_id"),
            F.col("a.neighbor_id").alias("cand"),
            F.col("b.neighbor_id").alias("sel"),
            cosine("a.cv", "b.cv").alias("sim"),
        )
        .persist()
    )
    w_num = F.lit(float(num))
    w_div = F.lit(float(den - num))
    sel = pool.where(F.col("rank") == 1).select(
        "query_id",
        "neighbor_id",
        (w_num * F.col("cos_sim")).alias("mmr_score"),
        F.lit(1).cast("long").alias("mmr_rank"),
        "cos_sim",
    ).persist()
    superseded: list = []
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    for r in range(2, k + 1):
        chosen = sel.select("query_id", "neighbor_id")
        cand = pool.join(chosen, ["query_id", "neighbor_id"], "left_anti")
        ms = (
            pairs.join(
                chosen.withColumnRenamed("neighbor_id", "sel"),
                ["query_id", "sel"],
            )
            .groupBy("query_id", F.col("cand").alias("neighbor_id"))
            .agg(F.max("sim").alias("ms"))
        )
        pick = (
            cand.join(ms, ["query_id", "neighbor_id"])
            .withColumn("score", w_num * F.col("cos_sim") - w_div * F.col("ms"))
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
        )
        prev = sel
        sel = sel.unionByName(
            pick.select(
                "query_id",
                "neighbor_id",
                F.col("score").alias("mmr_score"),
                F.lit(r).cast("long").alias("mmr_rank"),
                "cos_sim",
            )
        ).persist()
        superseded.append(prev)
    # one eager localCheckpoint drives the greedy chain (each round's
    # window barrier fills its predecessor's cache) AND truncates the
    # round-deep lineage: blocks are written straight from the
    # just-filled cache, so a later eviction of the final selection
    # re-reads stored blocks instead of recomputing the whole chain
    # with every superseded |Q|·r-row cache already dropped (the kcore
    # lazy-regime discipline; unpersisting inside the loop would
    # deregister caches before any job ran). Eager at call time — it
    # always was, via the former driving count().
    final = sel.localCheckpoint(eager=True)
    for old in superseded:
        old.unpersist()
    sel.unpersist()
    return final


#: nDCG position weights 1/log2(rank+1), quantized to 1e12-scaled longs
#: (exact integer sums are order-free — a double DCG sum would depend on
#: aggregation order and never hash-match), for ranks 1..20.
_NDCG_SCALE = 10**12
_NDCG_W = [
    round(_NDCG_SCALE / __import__("math").log2(i + 1)) for i in range(1, 21)
]
_NDCG_PREFIX = [0]
for _w in _NDCG_W:
    _NDCG_PREFIX.append(_NDCG_PREFIX[-1] + _w)


def retrieval_metrics(
    run: DataFrame,
    qrels: DataFrame,
    *,
    k: int = 10,
    query_col: str = "query_id",
    doc_col: str = "neighbor_id",
    rank_col: str = "rank",
    rel_doc_col: str = "doc_id",
) -> DataFrame:
    """Standard retrieval-evaluation metrics per query over a ranked
    ``run`` (query, doc, rank) and binary relevance judgments
    ``qrels`` (query, relevant doc): hits@k, recall@k (hits / n_rel),
    MRR (1 / first relevant rank), and nDCG@k — the eval harness every
    retrieval/embedding change in a data pipeline is judged by
    (TREC-style binary-relevance forms; Järvelin & Kekäläinen 2002 for
    DCG).

    Engine-exact determinism: the DCG position weights
    ``1/log2(rank+1)`` are PRE-QUANTIZED 1e12-scaled long literals
    (log2 never runs in either engine), so DCG is an exact integer sum
    — order-free on any partitioning — and IDCG is a literal prefix
    sum indexed by ``min(n_rel, k)``; the three ratios are one IEEE
    divide each, mirrored verbatim by an oracle. Queries with no
    relevant docs in the run get mrr = 0 and ndcg = 0; queries absent
    from ``qrels`` are dropped (undefined recall denominator).

    Shape at scale: one keyed equi-join run⋈qrels (the only data
    shuffle — both sides are |Q|·k / |Q|·n_rel, orders of magnitude
    under the corpus), two map-side-combined per-query aggregates, one
    broadcast-sized join to attach n_rel. ``k <= 20`` (the literal
    weight table; extend _NDCG_W for deeper cuts).
    """
    if not 1 <= k <= len(_NDCG_W):
        raise ValueError(f"k must be in 1..{len(_NDCG_W)}: {k}")
    w_arr = F.array(*[F.lit(w).cast("long") for w in _NDCG_W[:k]])
    prefix_arr = F.array(*[F.lit(p).cast("long") for p in _NDCG_PREFIX[: k + 1]])
    r = run.select(
        F.col(query_col).alias("query_id"),
        F.col(doc_col).alias("doc_id"),
        F.col(rank_col).alias("rank"),
    ).where(F.col("rank") <= k)
    rel = qrels.select(
        F.col(query_col).alias("query_id"), F.col(rel_doc_col).alias("doc_id")
    ).distinct()
    n_rel = rel.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_rel"))
    hits = r.join(rel, ["query_id", "doc_id"], "left_semi")
    per_q = hits.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("hits_at_k"),
        F.min("rank").alias("first_rel_rank"),
        F.sum(F.element_at(w_arr, F.col("rank").cast("int"))).alias("dcg_scaled"),
    )
    idcg = F.element_at(
        prefix_arr, F.least(F.col("n_rel"), F.lit(k)).cast("int") + 1
    )
    return (
        n_rel.join(per_q, "query_id", "left")
        .select(
            "query_id",
            "n_rel",
            F.coalesce("hits_at_k", F.lit(0)).cast("long").alias("hits_at_k"),
            F.coalesce("first_rel_rank", F.lit(0)).cast("long").alias("first_rel_rank"),
            (
                F.coalesce("hits_at_k", F.lit(0)).cast("double")
                / F.col("n_rel").cast("double")
            ).alias("recall_at_k"),
            F.when(
                F.col("first_rel_rank").isNull(), F.lit(0.0)
            ).otherwise(
                F.lit(1.0) / F.col("first_rel_rank").cast("double")
            ).alias("mrr"),
            (
                F.coalesce("dcg_scaled", F.lit(0)).cast("double")
                / idcg.cast("double")
            ).alias("ndcg_at_k"),
        )
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive / embedding-model training
    (the global form of DPR-style negative selection, Karpukhin et al.
    2020): per anchor, the ``k`` highest-cosine corpus vectors whose
    label DIFFERS from the anchor's — maximally confusable examples,
    the ones that actually move a contrastive loss. Same-label
    neighbors and self-matches are excluded; ties break on neighbor id.

    Returns (query_id, query_label, neighbor_id, neighbor_label, rank,
    cos_sim).

    Shape at scale: identical to :func:`cosine_topk` — the anchor set
    broadcasts, the corpus never shuffles, and the per-anchor top-k is
    a window over the scored rows (partial top-k per partition under
    AQE). For web-scale corpora mine within :func:`ivf_topk` posting
    lists first and re-score; this exact form is the recall oracle for
    that, like every other *_topk here.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        F.col(vec_col).alias("qv"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        F.col(vec_col).alias("cv"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(
            (F.col("neighbor_id") != F.col("query_id"))
            & (F.col("neighbor_label") != F.col("query_label"))
        )
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            cosine("qv", "cv").alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "query_label", "neighbor_id", "neighbor_label",
            "rank", "cos_sim",
        )
    )


def mrl_truncate(
    df: DataFrame,
    dim: int,
    *,
    vec_col: str = "embedding",
    renormalize: bool = False,
) -> DataFrame:
    """Matryoshka truncation (Kusupati et al., MRL): keep the first
    ``dim`` components of each embedding — the nesting property of
    MRL-trained models makes the prefix a usable lower-dimensional
    embedding, the standard cheap-retrieval / cheap-index trick (score
    at dim 16, rerank survivors at full width). Row-local slice, zero
    shuffles; ``renormalize=True`` rescales to unit L2 (cosine is
    scale-invariant so ranking ops don't need it; dot-product or
    quantization consumers do)."""
    if dim < 1:
        raise ValueError(f"dim must be >= 1: {dim}")
    v = F.slice(F.col(vec_col), 1, dim)
    if renormalize:
        n = F.sqrt(
            F.aggregate(
                F.transform(v, lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
        v = F.transform(v, lambda x: x.cast("double") / n)
    return df.withColumn(vec_col, v)


def mrl_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine at a Matryoshka-truncated width: the
    first-stage retrieval of the MRL funnel (truncate -> score cheap ->
    rerank survivors at full width with :func:`cosine_topk` over the
    candidate ids). Same broadcast/no-corpus-shuffle shape as
    cosine_topk with a ``dim/64`` fraction of the arithmetic."""
    return cosine_topk(
        mrl_truncate(corpus, dim, vec_col=vec_col),
        mrl_truncate(queries, dim, vec_col=vec_col),
        k,
        id_col=id_col,
        vec_col=vec_col,
    )


#: Hard ceiling for the brute-force all-pairs baseline. 20k vectors is
#: 2e8 cosine evaluations — the most a "baseline/verification" run has
#: any business doing; a real corpus must go through the bucketed path.
NEAR_DUP_EXACT_MAX_ROWS = 20_000


def near_dup_pairs_cosine(
    corpus: DataFrame,
    threshold: float,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int | None = NEAR_DUP_EXACT_MAX_ROWS,
) -> DataFrame:
    """All pairs above a cosine threshold (id1 < id2). Brute-force
    O(n²) BASELINE — for tests and for verifying the bucketed path on
    small slices, never for production corpora.

    Guarded: raises if ``corpus`` exceeds ``max_rows`` (default 20k),
    so the BroadcastNestedLoop plan physically cannot run against a
    real corpus (round-4 verdict #1). The production name with the
    same semantics is :func:`near_dup_pairs_srp`
    (candidates-from-buckets, exact cosine verify on candidates only —
    and, with enough tables, a full oracle match; see the declared
    ``embed_near_dup_pairs_bucketed``). Pass ``max_rows=None`` only
    from tests that knowingly want the quadratic plan.
    """
    if max_rows is not None:
        # limit(max_rows+1) bounds the guard's cost: the scan stops as
        # soon as the cap is provably exceeded instead of counting (and
        # re-scanning the lineage of) the whole corpus.
        n = corpus.limit(max_rows + 1).count()
        if n > max_rows:
            # n is at most max_rows+1 by construction (the limit stops the
            # scan), so report the bound, not n-as-corpus-size.
            raise ValueError(
                f"near_dup_pairs_cosine is the O(n²) exact baseline and is "
                f"capped at {max_rows} rows (corpus has more than "
                f"{max_rows}). Use near_dup_pairs_srp (SRP-bucketed "
                f"candidates + exact verify) for real corpora."
            )
    # norms factor out of the pair loop (bit-identical; r15 opt)
    a = corpus.select(
        F.col(id_col).alias("id1"),
        F.col(vec_col).alias("v1"),
        l2_norm(vec_col).alias("n1"),
    )
    b = corpus.select(
        F.col(id_col).alias("id2"),
        F.col(vec_col).alias("v2"),
        l2_norm(vec_col).alias("n2"),
    )
    return (
        a.join(b, F.col("id1") < F.col("id2"))
        .select(
            "id1",
            "id2",
            (_dot("v1", "v2") / (F.col("n1") * F.col("n2"))).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# signed-random-projection LSH (scale path)
# ---------------------------------------------------------------------------


def _hyperplane(dim: int, plane_id: int) -> list[float]:
    """Deterministic pseudo-random hyperplane (splitmix-style integer mix
    — fixed across runs/engines, no RNG state)."""
    out = []
    for i in range(dim):
        z = (plane_id * 0x9E3779B97F4A7C15 + i * 0xBF58476D1CE4E5B9) & (2**64 - 1)
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & (2**64 - 1)
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & (2**64 - 1)
        z ^= z >> 31
        out.append((z / 2**64) * 2.0 - 1.0)
    return out


def srp_signature(
    vec_col: Column | str, dim: int, n_planes: int = 8, plane_offset: int = 0
) -> Column:
    """b-bit signed-random-projection signature as an int column.

    A string ``vec_col`` builds the whole signature — every hyperplane
    array literal included — as ONE ``F.expr`` parse; the Column path
    pays ~(dim + 8) py4j round trips PER PLANE on the driver (measured
    as the bulk of srp plan construction; r15 opt). Identical tree:
    double literals print via ``repr`` (shortest round-trip form), and
    both Python ``float`` transfer and the SQL parser resolve that text
    to the same IEEE-754 bits."""
    if isinstance(vec_col, str):
        terms = ["0"]
        for b in range(n_planes):
            arr = ", ".join(
                f"{x!r}D" for x in _hyperplane(dim, plane_offset + b)
            )
            terms.append(
                f"CASE WHEN {_dot_sql(vec_col, f'array({arr})')} > 0 "
                f"THEN {2**b} ELSE 0 END"
            )
        return F.expr(" + ".join(terms))
    sig = F.lit(0)
    for b in range(n_planes):
        plane = F.array(*[F.lit(x) for x in _hyperplane(dim, plane_offset + b)])
        bit = F.when(_dot(vec_col, plane) > 0, F.lit(2**b)).otherwise(F.lit(0))
        sig = sig + bit
    return sig


def srp_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    n_tables: int = 2,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors sharing an SRP bucket
    with the query in any of ``n_tables`` independent hash tables (the
    standard LSH recall lever: P(miss) = (1 - p^b)^L). Rows-only /
    bound-checked (APPROX parity class), never hash-matched."""

    def with_sigs(df: DataFrame, idc: str, vc: str) -> DataFrame:
        cols = [F.col(id_col).alias(idc), F.col(vec_col).alias(vc)]
        for t in range(n_tables):
            sig = srp_signature(vec_col, dim, n_planes, plane_offset=t * n_planes)
            cols.append(sig.alias(f"sig{t}"))
        return df.select(*cols)

    c = with_sigs(corpus, "neighbor_id", "cv")
    q = with_sigs(queries, "query_id", "qv")
    table_hits = None
    for t in range(n_tables):
        hit = c.join(
            F.broadcast(q.withColumnRenamed(f"sig{t}", "__s")),
            F.col(f"sig{t}") == F.col("__s"),
        ).select("query_id", "neighbor_id", "qv", "cv")
        table_hits = hit if table_hits is None else table_hits.unionByName(hit)
    scored = (
        table_hits.dropDuplicates(["query_id", "neighbor_id"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cosine("qv", "cv").alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


# ---------------------------------------------------------------------------
# persisted SRP signature tables (build once, probe many)
# ---------------------------------------------------------------------------
# srp_topk recomputes EVERY corpus signature per query batch — n_tables
# x n_planes dot products over the whole corpus before a single
# candidate emerges. That query-time cost is what made SRP lose every
# cell of the r14 ANN decision table; the production shape (the
# lsh_incremental analogue) pays it ONCE: signatures + vectors persist
# as parquet partitioned by (table, signature), and a probe reads only
# the nq x n_tables matching bucket directories.


def build_srp_index(
    corpus: DataFrame,
    path: str,
    *,
    dim: int,
    n_planes: int = 6,
    n_tables: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the SRP signature tables: one row per (table, vector)
    with its bucket signature and the full vector — vectors are
    duplicated ``n_tables`` times, the standard multi-table LSH
    space-for-recall trade (IVF posting lists make the same choice).

    Layout (r15 opt): ``path/meta.json`` (dim, n_planes, n_tables —
    probes must hash with the SAME frozen planes; driver-written, no
    Spark job, the LSH-index discipline) and ``path/postings/`` as
    plain parquet CLUSTERED by (t, sig): one hash-repartition whose
    part count AQE sizes by data volume (guide §6 file sizing — no
    constant to tune at either scale), each file sorted by (t, sig) so
    row-group min/max stats carry tight bucket ranges and probes prune
    via a pushed (t, sig) filter. The previous hive
    ``t=T/sig=S/`` layout priced directory churn per bucket — 2^planes
    × tables directories of tiny files dominated the build (3.5 s of
    the 6 s sf0.1 query) and would be pathological at production plane
    counts (16 planes → 65k directories); stat-pruned row groups give
    the same probe pruning without per-bucket filesystem objects.
    """
    import json as _json

    base = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    per_table = [
        base.select(
            F.lit(t).alias("t"),
            srp_signature(
                "v", dim, n_planes, plane_offset=t * n_planes
            ).alias("sig"),
            "id",
            "v",
        )
        for t in range(n_tables)
    ]
    out = per_table[0]
    for p in per_table[1:]:
        out = out.unionByName(p)
    (
        out.repartition("t", "sig")
        .sortWithinPartitions("t", "sig")
        .write.mode("overwrite")
        .parquet(f"{path}/postings")
    )
    with open(f"{path}/meta.json", "w") as f:
        _json.dump(
            {"dim": dim, "n_planes": n_planes, "n_tables": n_tables}, f
        )


def srp_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k over a persisted SRP index: signature the QUERIES with the
    index's frozen planes (meta.json), collect their tiny (t, sig)
    bucket set (control-plane: nq × n_tables rows), and read the
    postings through that set as a PUSHED parquet filter — row-group
    min/max pruning on the (t, sig)-sorted layout skips every bucket
    outside the query set, so probe cost tracks bucket occupancy, not
    corpus size (the r15 replacement for the old hive-directory
    pruning). The broadcast bucket join then pairs candidates;
    candidates dedup across tables, self-pairs drop, exact cosine
    reranks — identical semantics to the in-memory :func:`srp_topk`
    with the same hyperparameters (pinned test)."""
    import json as _json

    with open(f"{path}/meta.json") as f:
        meta = _json.load(f)
    dim, n_planes, n_tables = meta["dim"], meta["n_planes"], meta["n_tables"]
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    per_table = [
        q.select(
            F.lit(t).alias("t"),
            srp_signature(
                "qv", dim, n_planes, plane_offset=t * n_planes
            ).alias("sig"),
            "query_id",
            "qv",
        )
        for t in range(n_tables)
    ]
    qs = per_table[0]
    for p in per_table[1:]:
        qs = qs.unionByName(p)
    buckets: dict[int, list[int]] = {}
    for r in qs.select("t", "sig").distinct().collect():
        buckets.setdefault(r["t"], []).append(r["sig"])
    pred = F.lit(False)
    for t in sorted(buckets):
        pred = pred | ((F.col("t") == t) & F.col("sig").isin(buckets[t]))
    post = spark.read.parquet(f"{path}/postings").where(pred)
    cand = (
        post.join(F.broadcast(qs), ["t", "sig"])
        .where(F.col("id") != F.col("query_id"))
        .dropDuplicates(["query_id", "id"])
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            cosine("qv", "v").alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the partition-pruned scale path
# ---------------------------------------------------------------------------
# Coarse quantizer: every corpus vector is assigned to its nearest
# centroid (the inverted list); a query scores only the lists of its
# ``nprobe`` nearest centroids, so exact scoring touches ~nprobe/K of the
# corpus instead of all of it. At 100 TB the assignment is a one-off
# broadcast-join materialization (re-usable across queries, repartitioned
# by list id), and probing is a broadcast of the (tiny) query set against
# only the probed lists. Centroids here are taken deterministically from
# the corpus (lowest ids) so results are oracle-reproducible; swap in
# sampled k-means centroids for production recall without touching the
# plan shape.


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """THE nearest-centroid assignment: (id, cid, v, vn), one row per
    distinct id — the vector's nearest (cid, cvec) centroid by cosine,
    ties to the lowest cid, with the vector and its L2 norm riding
    along so no caller re-joins the corpus or re-folds the norm.

    One broadcast cross join, then one aggregate per id:
    ``max(struct(cos, -cid, v, vn))`` picks exactly the head of
    ``ORDER BY cos DESC, cid ASC`` (max -cid is the min cid; Spark
    orders NaN greatest both ways), and its map-side partial collapses
    a partition's k candidates per vector before the one exchange. The
    vector norm folds once per vector and the centroid norm once per
    centroid on the broadcast side, so each pair pays one dot with the
    same ``dot / (vn * cvn)`` IEEE tree as :func:`cosine` —
    bit-identical. A repeated id keeps the row of its best-scoring
    vector."""
    scored = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        l2_norm(vec_col).alias("vn"),
    ).crossJoin(
        F.broadcast(
            centroids.select(
                "cid", F.col("cvec").alias("cv"), l2_norm("cvec").alias("cvn")
            )
        )
    )
    best = F.struct(
        (_dot("v", "cv") / (F.col("vn") * F.col("cvn"))).alias("cos"),
        (-F.col("cid")).alias("ncid"),
        F.col("v").alias("v"),
        F.col("vn").alias("vn"),
    )
    return (
        scored.groupBy("id")
        .agg(F.max(best).alias("b"))
        .select(
            "id",
            (-F.col("b.ncid")).alias("cid"),
            F.col("b.v").alias("v"),
            F.col("b.vn").alias("vn"),
        )
    )


def _probe_lists(q: DataFrame, cents: DataFrame, nprobe: int) -> DataFrame:
    """``q``'s rows (keyed by query_id, vector qv), each with the cid of
    one of its ``nprobe`` nearest (cid, cvec) centroids by cosine, ties
    to the lowest cid — the probe set every indexed reader scans."""
    wq = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cid").asc())
    return (
        q.crossJoin(F.broadcast(cents))
        .select(*q.columns, "cid", cosine("qv", "cvec").alias("cos"))
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= nprobe)
        .select(*q.columns, "cid")
    )


def kmeans_centroids(
    corpus: DataFrame,
    k: int,
    *,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd-refined coarse centroids for IVF.

    Init is the ``k`` lowest-id vectors (the previous, honestly-weak
    default); each of ``n_iter`` rounds assigns every vector to its
    nearest centroid (:func:`ivf_assign`) and recomputes centroids as
    the per-dimension member mean. Round cost: one broadcast assignment
    + one (cluster, dim) hash aggregate, and only k x dim mean cells
    (KBs) return to the driver to seed the next round's broadcast, the
    same driver-side metadata every KMeans implementation keeps.

    Determinism: means use scaled-long sums (order-independent at 1e-9
    resolution), init is id-ordered, ties break on cid — so the
    centroids (and everything built on them) are stable across runs and
    partitionings. A cluster that loses all members keeps its previous
    centroid.

    Returns (cid, cvec) with cid in [0, k).
    """
    spark = corpus.sparkSession
    cents = [
        [float(x) for x in r[vec_col]]
        for r in corpus.orderBy(F.col(id_col).asc()).select(vec_col).limit(k).collect()
    ]
    for _ in range(n_iter):
        cdf = spark.createDataFrame(
            [(i, c) for i, c in enumerate(cents)], "cid int, cvec array<double>"
        )
        best = ivf_assign(corpus, cdf, id_col=id_col, vec_col=vec_col)
        cells = (
            best.select("cid", F.posexplode("v").alias("dim", "val"))
            .groupBy("cid", "dim")
            .agg(
                (
                    F.sum(scaled_long(F.col("val").cast("double"), 9)).cast("double")
                    / 1e9
                    / F.count("*")
                ).alias("m")
            )
            .collect()
        )
        means: dict[int, dict[int, float]] = {}
        for r in cells:
            means.setdefault(r["cid"], {})[r["dim"]] = r["m"]
        dim = len(cents[0])
        cents = [
            [means[i][d] for d in range(dim)] if i in means else cents[i]
            for i in range(k)
        ]
    return corpus.sparkSession.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], "cid int, cvec array<double>"
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    n_centroids: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF ANN top-k: probe the ``nprobe`` nearest inverted lists per
    query, exact cosine within them. Returns
    (query_id, neighbor_id, rank, cos_sim) like :func:`cosine_topk`.

    ``centroids`` (cid, cvec) overrides the default lowest-id coarse
    quantizer — pass :func:`kmeans_centroids` output for the
    quality/scale path (the default stays oracle-replicable in SQL).

    The whole probe pipeline (assignment, query probing, candidate
    join, rerank) is ONE ``spark.sql`` call — the analyzer-once
    rationale of ``near_dup_pairs_minhash_fast`` (build 0.20 s ->
    0.10 s, plan and results identical: same broadcast joins, same
    Exchange count — r15 opt). Broadcasts that were ``F.broadcast``
    calls are ``/*+ BROADCAST(...) */`` hints.
    """
    if centroids is None:
        cent_sql = (
            f"SELECT {id_col} AS cid, {vec_col} AS cvec FROM {{corpus}} "
            f"ORDER BY {id_col} ASC LIMIT {n_centroids}"
        )
        frames = dict(corpus=corpus, queries=queries)
    else:
        cent_sql = "SELECT cid, cvec FROM {cents}"
        frames = dict(corpus=corpus, queries=queries, cents=centroids)
    q = f"""
WITH cent AS ({cent_sql}),
inv AS (
  SELECT id, cid FROM (
    SELECT id, cid,
           row_number() OVER (PARTITION BY id ORDER BY cos DESC, cid ASC) AS rn
    FROM (SELECT /*+ BROADCAST(cent) */ c.id, cent.cid,
                 {_cos_sql('c.v', 'cent.cvec')} AS cos
          FROM (SELECT {id_col} AS id, {vec_col} AS v FROM {{corpus}}) c
          CROSS JOIN cent)
  ) WHERE rn = 1),
probes AS (
  SELECT query_id, qv, cid FROM (
    SELECT query_id, qv, cid,
           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cid ASC) AS rn
    FROM (SELECT /*+ BROADCAST(cent) */ q.query_id, q.qv, cent.cid,
                 {_cos_sql('q.qv', 'cent.cvec')} AS cos
          FROM (SELECT {id_col} AS query_id, {vec_col} AS qv FROM {{queries}}) q
          CROSS JOIN cent)
  ) WHERE rn <= {nprobe}),
cand AS (
  SELECT /*+ BROADCAST(probes) */ probes.query_id, probes.qv, inv.id
  FROM inv JOIN probes USING (cid) WHERE inv.id != probes.query_id)
SELECT query_id, neighbor_id, rank, cos_sim FROM (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM (SELECT cand.query_id, cv.neighbor_id,
               {_cos_sql('cand.qv', 'cv.cv')} AS cos_sim
        FROM cand
        JOIN (SELECT {id_col} AS neighbor_id, {vec_col} AS cv FROM {{corpus}}) cv
        ON cand.id = cv.neighbor_id)
) WHERE rank <= {k}
"""
    from nibbledb_spark.session import sql_over

    return sql_over(corpus.sparkSession, q, **frames)


def semdedup(
    corpus: DataFrame,
    eps: float,
    *,
    n_centroids: int = 8,
    centroids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): embedding-space
    SEMANTIC dedup — cluster the corpus with the IVF coarse quantizer,
    then within each cluster drop every vector that has cosine
    similarity above ``eps`` to a lower-id cluster-mate. Returns the
    KEPT rows as (``id_col``, cid).

    Drop policy, deterministic and recall-biased (the same
    lower-id-wins rule as ``lsh_dedup_gate``'s intra-batch step): the
    higher id of EVERY within-cluster pair with ``cos > eps`` drops,
    even when the lower-id doc is itself dropped by a still-lower
    neighbor — so chains a~b, b~c (a!~c) keep only ``a``. That
    over-drops vs the paper's keep-one-per-group, but is expressible
    as pure set algebra (no sequential scan), replicates exactly in
    SQL, and for training-data dedup the bias is safe: every dropped
    doc has a kept semantic representative within 2·eps.

    Duplicate ids: :func:`ivf_assign` keeps one row per distinct id
    (the vector that scores best against the centroids).

    Scale shape: centroid assignment is :func:`ivf_assign` — one
    broadcast sweep and one per-id aggregate; the pair step
    shuffles vectors ONCE keyed by cid, then self-joins per cluster —
    quadratic only in CLUSTER size, never corpus all-pairs. At 100 TB
    the paper's regime applies: pick ``n_centroids`` so clusters stay
    ~50k vectors (LAION used k=50,000) and pass Lloyd-refined
    ``centroids`` (:func:`kmeans_centroids`) for balance; a skewed
    cluster is visible as one straggler task and fixable by raising k.
    The default lowest-id quantizer keeps the whole pipeline
    oracle-replicable (the ``ivf_ann_topk`` precedent).
    """
    if centroids is None:
        centroids = (
            corpus.orderBy(F.col(id_col).asc())
            .limit(n_centroids)
            .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
        )
    # the assignment (corpus x centroids + one per-id aggregate) is the
    # dominant cost and has THREE plan consumers (both self-join sides
    # + the final anti); persist it once — the ngram_jaccard
    # shingle-table contract: the returned frame pins one corpus-sized
    # cache entry for its lifetime, callers wanting it released
    # materialize and unpersist via their own handle. ||v|| rides the
    # assignment (one fold per corpus row), so every intra-cluster pair
    # below pays ONE fold (the dot) instead of three — the cosine_topk
    # norm-factoring lesson (bit-identical: same dot/(an*bn) IEEE tree).
    m = ivf_assign(corpus, centroids, id_col=id_col, vec_col=vec_col).persist()
    a, b = m.alias("a"), m.alias("b")
    drops = (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid")) & (F.col("a.id") < F.col("b.id")),
        )
        .where(
            (_dot("a.v", "b.v") / (F.col("a.vn") * F.col("b.vn"))) > eps
        )
        .select(F.col("b.id").alias("id"))
        .distinct()
    )
    return m.select("id", "cid").join(drops, "id", "left_anti").select(
        F.col("id").alias(id_col), "cid"
    )


def near_dup_pairs_srp(
    corpus: DataFrame,
    threshold: float,
    *,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    n_tables: int = 4,
) -> DataFrame:
    """SRP-bucketed near-duplicate pairs — the scale path for
    :func:`near_dup_pairs_cosine`.

    Candidates are pairs sharing an SRP signature bucket in ANY of
    ``n_tables`` hash tables; exact cosine runs on candidates only. The
    |C|² cross product becomes L self-equi-joins on a b-bit key: at
    100 TB the per-bucket group sizes (|C| / 2^b expected) bound the
    join, and the miss probability for a pair at angle θ is
    ((1 - (1-θ/π)^b))^L — tune (b, L) to the threshold. APPROX class:
    output ⊆ the exact variant, recall pinned in pytest, never
    hash-matched.
    """
    base = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    pairs = None
    for t in range(n_tables):
        sig = srp_signature("v", dim, n_planes, plane_offset=t * n_planes)
        tagged = base.select("id", "v", sig.alias("sig"))
        a = tagged.select(
            F.col("id").alias("id1"), F.col("v").alias("v1"), F.col("sig").alias("s")
        )
        b = tagged.select(
            F.col("id").alias("id2"), F.col("v").alias("v2"), F.col("sig").alias("s")
        )
        hit = a.join(b, "s").where(F.col("id1") < F.col("id2")).select(
            "id1", "id2", "v1", "v2"
        )
        pairs = hit if pairs is None else pairs.unionByName(hit)
    return (
        pairs.dropDuplicates(["id1", "id2"])
        .select(
            "id1", "id2", cosine("v1", "v2").alias("cos_sim")
        )
        .where(F.col("cos_sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# persisted IVF index (build once, query many)
# ---------------------------------------------------------------------------


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    *,
    n_centroids: int = 8,
    kmeans_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> None:
    """Materialize an IVF index: k-means centroids + inverted-list
    assignments + vectors, as parquet under ``path`` — the build-once /
    query-many shape of a production ANN deployment. The posting lists
    are PARTITIONED BY cid, so a query that probes ``nprobe`` lists
    reads only those directories (Catalyst partition pruning over the
    index, the same mechanism the points store uses for buckets).

    Index layout: ``path/centroids`` (cid, cvec — tiny, broadcast at
    query time) and ``path/postings/cid=N/`` (id, v, vn — the stored
    L2 norm, so probes never re-fold corpus-side norms).

    ``centroids`` (cid, cvec) overrides the k-means quantizer with a
    caller-supplied one — e.g. the lowest-id coarse quantizer when the
    index contents must be oracle-replicable, or centroids trained on
    a sample when the full corpus is too large for Lloyd rounds.
    """
    if centroids is not None:
        cents = centroids.select(
            F.col("cid").cast("long").alias("cid"), "cvec"
        )
    else:
        cents = kmeans_centroids(
            corpus, n_centroids, n_iter=kmeans_iters, id_col=id_col, vec_col=vec_col
        )
    # the two table writes are independent jobs (the assignment plans
    # against the in-memory cents frame, not the written parquet) —
    # overlap them (guide-§2.6, the LSH index-write pattern)
    def _cents() -> None:
        cents.write.mode("overwrite").parquet(f"{path}/centroids")

    def _postings() -> None:
        # vn (the vector's L2 norm, from ivf_assign) is corpus-side
        # state: stored ONCE here, it saves every probe batch a per-row
        # interpreted fold over the posting lists forever after (parquet
        # doubles round-trip exactly, so stored-vs-recomputed is
        # bit-identical)
        (
            ivf_assign(corpus, cents, id_col=id_col, vec_col=vec_col)
            .repartition("cid")
            .write.mode("overwrite")
            .partitionBy("cid")
            .parquet(f"{path}/postings")
        )

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        futures = [pool.submit(_cents), pool.submit(_postings)]
        errs = [f.exception() for f in futures]
    for err in errs:
        if err is not None:
            raise err


def ivf_index_add(
    spark,
    path: str,
    new_vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assignments: DataFrame | None = None,
) -> None:
    """Incremental index maintenance: assign ``new_vectors`` to the
    index's EXISTING centroids (broadcast assignment — the corpus never
    shuffles) and append them to the partitioned posting lists. The
    quantizer stays fixed, as production IVF deployments do between
    periodic retrains; queries over the index see the new vectors
    immediately and results equal a from-scratch assignment of the
    union corpus to the same centroids (pinned test). Retrain = rebuild
    with :func:`build_ivf_index` when drift warrants it.

    Duplicate ids: the postings hold one row per DISTINCT id of
    ``new_vectors`` (:func:`ivf_assign` keeps each id's best-scoring
    vector), so a batch repeating an id posts it once.

    ``assignments``: optional precomputed :func:`ivf_assign` rows
    (id, cid, v, vn) for a SUPERSET of ``new_vectors`` against THIS
    index's centroids (the crawl-gate shape — the sink already assigned
    the whole batch, so the add semi-filters those rows instead of
    re-running the assignment; it is deterministic for frozen
    centroids, so the postings are identical)."""
    if assignments is not None:
        keys = new_vectors.select(F.col(id_col).alias("id")).distinct()
        staged = assignments.select("id", "cid", "v", "vn").join(keys, "id", "semi")
    else:
        cents = spark.read.parquet(f"{path}/centroids")
        staged = ivf_assign(new_vectors, cents, id_col=id_col, vec_col=vec_col)
    (
        staged.repartition("cid")
        .write.mode("append")
        .partitionBy("cid")
        .parquet(f"{path}/postings")
    )


def ivf_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int,
    *,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k over a persisted IVF index: broadcast the stored centroids,
    pick ``nprobe`` lists per query, and scan ONLY those posting-list
    partitions (the cid filter is a partition predicate — directories
    outside the probe set are never opened). Results are identical to
    the in-memory :func:`ivf_topk` built with the same centroids
    (pinned test). The rerank pays ONE fold per candidate pair: the
    query norm is computed once per query row, the corpus norm is the
    index's stored ``vn`` (r15 opt — same operands and multiply order
    as ``cosine()``, bit-identical)."""
    cents = spark.read.parquet(f"{path}/centroids")
    post = spark.read.parquet(f"{path}/postings")

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        l2_norm(vec_col).alias("qn"),
    )
    probes = _probe_lists(q, cents, nprobe)
    cand = post.join(F.broadcast(probes), "cid").where(
        F.col("id") != F.col("query_id")
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            (_dot("qv", "v") / (F.col("qn") * F.col("vn"))).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def hard_negatives_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int,
    labels: DataFrame,
    *,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining over a persisted IVF index — the mining-job
    shape of :func:`hard_negatives`, whose broadcast brute-force sweep
    is fine for a handful of anchors but not for the millions a real
    contrastive-training run mines. Candidates come from the anchor's
    ``nprobe`` nearest posting lists (partition-pruned directory reads,
    vectors travel WITH the postings so no corpus re-read), the
    same-label/self exclusion joins the candidate set — not the corpus
    — against the narrow ``labels`` (id, label) forward table, and the
    exact-cosine rerank runs on what's left. Results with nprobe =
    n_centroids equal brute force exactly (pinned test); smaller
    nprobe trades recall for pruning like every IVF read.

    Returns (query_id, query_label, neighbor_id, neighbor_label, rank,
    cos_sim), ties on neighbor id.
    """
    cents = spark.read.parquet(f"{path}/centroids")
    post = spark.read.parquet(f"{path}/postings")

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        F.col(vec_col).alias("qv"),
        l2_norm(vec_col).alias("qn"),
    )
    probes = _probe_lists(q, cents, nprobe)
    lab = labels.select(
        F.col(id_col).alias("id"), F.col(label_col).alias("neighbor_label")
    )
    cand = (
        post.join(F.broadcast(probes), "cid")
        .where(F.col("id") != F.col("query_id"))
        .join(lab, "id")
        .where(F.col("neighbor_label") != F.col("query_label"))
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.select(
            "query_id",
            "query_label",
            F.col("id").alias("neighbor_id"),
            "neighbor_label",
            # one fold per pair: query norm from the probe row, corpus
            # norm from the index (bit-identical to cosine(), r15 opt)
            (_dot("qv", "v") / (F.col("qn") * F.col("vn"))).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "query_label", "neighbor_id", "neighbor_label",
            "rank", "cos_sim",
        )
    )


def semdedup_gate(
    spark,
    path: str,
    *,
    eps: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    on_pass=None,
):
    """``foreachBatch`` handler factory for the EMBEDDING-space
    crawl-loop dedup gate — :func:`semdedup` composed with the
    persisted IVF index the way ``lsh_dedup_gate`` composes the LSH
    probe/add halves: every micro-batch is coarse-assigned to the
    index's FROZEN centroids, compared against ITS OWN cluster's
    posting list only (the SemDeDup cluster-bounded contract — never
    batch x corpus), semantic near-dups (cosine > eps) drop, and
    survivors are appended to the posting lists so later batches dedup
    against them, then handed to ``on_pass(survivors_df, batch_id)``.

    Drop policy mirrors the LSH gate, deterministic and recall-biased:
    a batch vector with cosine > eps to ANY same-cluster indexed
    vector drops; within the batch, the HIGHER id of every
    same-cluster cos > eps pair drops (computed over the whole batch,
    so chains over-drop — safe for gating, content stays represented).

    Exactly-once: survivors are deterministic for a given (index
    state, batch), and the add anti-joins survivor ids against the
    posting lists first — so a crash-replayed batch re-adds nothing
    and ``on_pass`` re-receives the SAME survivors (make it idempotent
    by ``batch_id``). Ids are content-stable here too: a re-crawled id
    with a CHANGED vector passes the self-id exclusion and its re-add
    is dropped — content-address ids (or periodic rebuilds) if your
    crawl revisits keys.

    Scale shape per batch: assignment is :func:`ivf_assign` (one
    broadcast sweep, one per-id aggregate), whose rows also feed the
    postings append; the vs-index join reads only the probed cid
    partitions of the posting lists (partition-pruned directories);
    the intra-batch pair join is batch x batch within clusters; the add
    appends cid-keyed parquet. The id-guard join scans the postings' id
    column — the same read class as the LSH gate's sizes-table check.

    The sink is :func:`~nibbledb_spark.streaming.gate.gated_sink`:
    the drop plans and the add run tuned on the batch's own session,
    then ``on_pass`` runs under that session's own confs.

    Reserved name: the sink adds a helper column ``__in_index`` to the
    batch (the replay-guard flag; ``on_pass`` never sees it), so a
    batch frame must not carry a column of that name.
    """
    from nibbledb_spark.streaming.gate import gated_sink

    cents = spark.read.parquet(f"{path}/centroids")

    def gate(batch: DataFrame, hold):
        session = batch.sparkSession
        # the batch's coarse assignment, with (v, vn) riding along for
        # the pair cosines below and the postings append
        m = hold(ivf_assign(batch, cents, id_col=id_col, vec_col=vec_col))
        # corpus norms come from the index (computed once at build/add,
        # not re-folded per probe batch)
        post = session.read.parquet(f"{path}/postings").select(
            "cid", "id", "v", "vn"
        )
        # ONE cluster-bounded reference join covers both drop rules: an
        # INDEXED same-cluster row drops a batch vector under the
        # self-id guard (rid != id), a BATCH same-cluster row drops the
        # HIGHER id of the pair (rid < id). One join instead of two, and
        # no distincts — left_anti is set-semantics on its right side
        # already (fused r15: each of the two joins paid its own
        # broadcast + agg stages on a 500-row batch).
        ref = post.select(
            "cid", F.col("id").alias("rid"), F.col("v").alias("rv"),
            F.col("vn").alias("rvn"), F.lit(True).alias("indexed"),
        ).unionByName(
            m.select(
                "cid", F.col("id").alias("rid"), F.col("v").alias("rv"),
                F.col("vn").alias("rvn"), F.lit(False).alias("indexed"),
            )
        )
        drops = (
            m.join(ref, "cid")
            .where(
                (F.col("indexed") & (F.col("rid") != F.col("id")))
                | (~F.col("indexed") & (F.col("rid") < F.col("id")))
            )
            .where((_dot("v", "rv") / (F.col("vn") * F.col("rvn"))) > eps)
            .select(F.col("id").alias(id_col))
        )
        # the replay guard (a crash-replayed batch must not re-add ids
        # the index already holds) rides the SAME materialization as the
        # survivors: a left join against the posting ids flags
        # already-indexed rows, so the add is a cache filter instead of
        # its own postings re-read + anti-join stages (r16 opt). The
        # flag side is distinct, so an id posted twice (an add repeated
        # after it committed, or a partly committed add) cannot multiply
        # survivors. The flag is a helper column: on_pass never sees it.
        flagged = batch.join(drops, id_col, "left_anti").join(
            post.select(
                F.col("id").alias(id_col), F.lit(True).alias("__in_index")
            ).distinct(),
            id_col,
            "left",
        )

        def add(kept: DataFrame) -> None:
            ivf_index_add(
                session,
                path,
                kept.where(F.col("__in_index").isNull()).drop("__in_index"),
                id_col=id_col,
                vec_col=vec_col,
                # the gate already assigned the whole batch (m): the add
                # semi-filters those rows and writes them directly
                assignments=m,
            )

        return flagged, add

    return gated_sink(gate, on_pass)


# --------------------------------------------------------------------------
# Product quantization (PQ) — the compressed-domain ANN path
# --------------------------------------------------------------------------
#
# IVF prunes WHICH vectors are scored; PQ compresses HOW each vector is
# scored: every vector becomes m one-byte codes (one per subspace), and
# query-to-vector distance is approximated by m lookups into a tiny
# per-query table (ADC — asymmetric distance computation). At 100 TB the
# point is that the scored corpus representation shrinks ~32x (64 floats
# -> 8 codes), so the scan is memory-bandwidth-cheap and the exact
# reranking pool can be built from compressed data only. Public source:
# Jegou, Douze, Schmid, "Product Quantization for Nearest Neighbor
# Search" (TPAMI 2011).


def _l2sq(a: Column, b: Column) -> Column:
    """Left-fold squared L2 distance in double precision — the same
    deterministic fold order as :func:`_dot`, so the DuckDB oracle's
    explicit sum chain reproduces it bit for bit."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _subvectors(df: DataFrame, id_out: str, id_col: str, vec_col: str,
                m: int, dsub: int, extra: tuple[str, ...] = ()) -> DataFrame:
    """(id, *extra, j, sv): the m contiguous dsub-dim slices of each
    vector; ``extra`` columns pass through (the residual query path
    keys its LUT by (query_id, cid))."""
    subs = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                F.slice(F.col(vec_col), j * dsub + 1, dsub).alias("sv"),
            )
            for j in range(m)
        ]
    )
    return df.select(
        F.col(id_col).alias(id_out), *extra, F.explode(subs).alias("s")
    ).select(id_out, *extra, "s.j", "s.sv")


def pq_codebook(
    corpus: DataFrame,
    *,
    m: int = 8,
    dsub: int = 8,
    codewords: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sampled: bool = False,
) -> DataFrame:
    """(j, c, cw): per-subspace codebook from ``codewords`` corpus
    vectors — by default the lowest-id convention (same as
    ``ivf_topk``'s centroids), which keeps the whole PQ pipeline
    oracle-replicable; ``sampled=True`` instead draws the ``codewords``
    smallest id-hashes — a deterministic uniform sample (the
    sample_exact_k trick: TakeOrderedAndProject, per-partition top-k,
    NO global window or extra count job), which matters when the low
    ids are atypical (e.g. RESIDUAL vectors, where the cluster
    centers' own residuals are near zero and would make a degenerate
    all-zero codebook). A trained k-means codebook slots in the same
    shape."""
    if sampled:
        head = corpus.orderBy(
            F.md5(F.col(id_col).cast("string")).asc(), F.col(id_col).asc()
        ).limit(codewords)
    else:
        head = corpus.where(F.col(id_col) < codewords)
    return _subvectors(head, "c", id_col, vec_col, m, dsub).select(
        "j", F.col("c"), F.col("sv").alias("cw")
    )


def _lut_quantize(qsub: DataFrame, cb: DataFrame, mlt: float,
                  keys: tuple[str, ...]) -> DataFrame:
    """(*keys, j, c, dq): subvector-to-codeword distances quantized to
    scaled longs. The ONE definition of the quantization — the
    probe-all == global-ADC pin and the DuckDB oracle both depend on
    every PQ path computing these bits identically."""
    return qsub.join(F.broadcast(cb), "j").select(
        *keys,
        "j",
        "c",
        F.floor(_l2sq(F.col("sv"), F.col("cw")) * mlt + F.lit(0.5))
        .cast("long")
        .alias("dq"),
    )


def _pq_lut(
    queries: DataFrame, cb: DataFrame, m: int, dsub: int, mlt: float,
    id_col: str, vec_col: str,
) -> DataFrame:
    """(query_id, j, c, dq): the per-query ADC lookup table."""
    qsub = _subvectors(queries, "query_id", id_col, vec_col, m, dsub)
    return _lut_quantize(qsub, cb, mlt, ("query_id",))


def _adc_scores(ex: DataFrame, lut: DataFrame,
                keys: tuple[str, ...]) -> DataFrame:
    """(query_id, id, dql): sum of LUT lookups per candidate — the ADC
    score as an order-independent long. ``keys`` are the LUT join keys
    beyond (j, code) — ("query_id",) for raw coding, ("query_id",
    "cid") for residual coding."""
    cond = (ex["j"] == lut["j"]) & (ex["code"] == lut["c"])
    for kcol in keys:
        cond = (ex[kcol] == lut[kcol]) & cond
    return (
        ex.join(F.broadcast(lut), cond)
        .groupBy(ex["query_id"], "id")
        .agg(F.sum("dq").alias("dql"))
    )


def _write_pq_meta(path: str, by_residual: bool) -> None:
    import json as _json

    with open(os.path.join(path, "pq_meta.json"), "w") as f:
        _json.dump({"by_residual": by_residual}, f)


def _read_pq_meta(path: str) -> bool:
    """Encoding mode of a persisted PQ index. FAIL CLOSED: scoring
    residual codes with raw-query LUTs (or vice versa) returns silently
    wrong neighbors, so a missing sidecar is an error, never a default."""
    import json as _json

    mp = os.path.join(path, "pq_meta.json")
    if not os.path.exists(mp):
        raise ValueError(
            f"{mp} missing: incomplete or foreign IVFPQ index "
            "(the encoding mode cannot be guessed)"
        )
    with open(mp) as f:
        return bool(_json.load(f).get("by_residual", False))


def _residuals(vectors_with_cid: DataFrame, cents: DataFrame) -> DataFrame:
    """(id, cid, res): vector minus its assigned centroid, in doubles —
    the FAISS by_residual transform. Centroids broadcast; row-local."""
    return (
        vectors_with_cid.join(
            F.broadcast(cents.select("cid", "cvec")), "cid"
        ).select(
            "id",
            "cid",
            F.zip_with(
                "v", "cvec", lambda x, y: x.cast("double") - y.cast("double")
            ).alias("res"),
        )
    )


def _pack_codes(codes: DataFrame) -> DataFrame:
    """(id, codes): the m per-subspace codes as one j-ordered array."""
    return codes.groupBy("id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "code"))), lambda s: s["code"]
        ).alias("codes")
    )


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    *,
    m: int = 8,
    dsub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, j, code): nearest codeword per subspace (squared-L2 argmin,
    ties to the lowest code).

    Shape: the codebook (m x codewords rows) broadcasts; each corpus row
    expands to m x codewords candidates INSIDE its partition and the
    hash aggregate's map-side partial collapses them back to m rows
    before the exchange — the shuffle carries m codes per vector, never
    the candidate set or the vectors."""
    sub = _subvectors(corpus, "id", id_col, vec_col, m, dsub)
    cand = sub.join(F.broadcast(codebook), "j")
    d = _l2sq(F.col("sv"), F.col("cw"))
    return (
        cand.groupBy("id", "j")
        .agg(F.min(F.struct(d.alias("d"), F.col("c").alias("c"))).alias("best"))
        .select("id", "j", F.col("best.c").alias("code"))
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    m: int = 8,
    dsub: int = 8,
    codewords: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dist_scale: int = 6,
) -> DataFrame:
    """Approximate top-k by PQ asymmetric distance: build the per-query
    lookup table of query-subvector-to-codeword distances, then score
    every encoded vector with m table lookups and keep the k smallest.

    Returns (query_id, neighbor_id, rank, adc_dist); self-matches
    excluded, ties to the lowest neighbor id. LUT entries are quantized
    to ``dist_scale`` decimal digits and summed as longs, so the score
    is an order-independent exact integer on any partitioning — the
    float work happens only in the m x codewords LUT, computed by the
    same fold on both engines.

    Scale shape: codebook and LUT broadcast (m x codewords x |Q| rows);
    the corpus is scored via one broadcast hash join on its code table —
    no corpus shuffle until the (query, vector) partial sums — and at
    real scale ``pq_encode``'s output is what you persist (32x smaller
    than the vectors), with IVF list pruning composing in front."""
    mlt = float(10**dist_scale)
    cb = pq_codebook(
        corpus, m=m, dsub=dsub, codewords=codewords, id_col=id_col, vec_col=vec_col
    )
    codes = pq_encode(corpus, cb, m=m, dsub=dsub, id_col=id_col, vec_col=vec_col)
    lut = _pq_lut(queries, cb, m, dsub, mlt, id_col, vec_col)
    scored = (
        codes.join(
            F.broadcast(lut),
            (codes["j"] == lut["j"]) & (codes["code"] == lut["c"]),
        )
        .where(F.col("id") != F.col("query_id"))
        .groupBy("query_id", "id")
        .agg(F.sum("dq").alias("dql"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dql").asc(), F.col("id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            "rank",
            (F.col("dql").cast("double") / F.lit(mlt)).alias("adc_dist"),
        )
    )


def pq_topk_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    n_candidates: int = 50,
    m: int = 8,
    dsub: int = 8,
    codewords: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The full production PQ pipeline: ADC generates ``n_candidates``
    compressed-domain candidates per query, then ONLY those candidates'
    full vectors are fetched (a hash semi-join on id) and reranked by
    exact cosine. PQ's job is recall of the candidate pool — its
    distances cannot separate vectors that quantize to the same codes —
    and the exact rerank restores the true order over that pool.

    At 100 TB the candidate stage reads the 32x-compressed code table
    and the rerank touches |Q| x n_candidates full vectors, not the
    corpus. Returns (query_id, neighbor_id, rank, cos_sim)."""
    cand = pq_adc_topk(
        corpus,
        queries,
        n_candidates,
        m=m,
        dsub=dsub,
        codewords=codewords,
        id_col=id_col,
        vec_col=vec_col,
    ).select("query_id", "neighbor_id")
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine("qv", "cv").alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def build_ivfpq_index(
    corpus: DataFrame,
    path: str,
    *,
    n_centroids: int = 8,
    kmeans_iters: int = 3,
    m: int = 8,
    dsub: int = 8,
    codewords: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    by_residual: bool = False,
) -> None:
    """IVF+PQ index (the FAISS IVFPQ shape, Jegou et al. TPAMI 2011):
    a k-means coarse quantizer routes vectors to posting lists, and
    each posting entry stores only the vector's m PQ codes — the list
    files hold ``m`` small ints per vector instead of the vector, so
    the probed partitions are ~32x cheaper to scan than IVF's.

    Layout: ``path/centroids`` (cid, cvec), ``path/codebook``
    (j, c, cw) — both tiny, broadcast at query time — and
    ``path/postings/cid=N/`` (id, codes), plus ``path/pq_meta.json``
    recording the encoding mode. ``by_residual=False`` codes the raw
    vectors (oracle-replicable, probe-all == global ADC);
    ``by_residual=True`` is the FAISS default: each vector's RESIDUAL
    against its assigned centroid is what gets coded, so the codebook
    spends its 16 cells on within-list offsets instead of re-describing
    the coarse structure the centroid already captured — that is what
    makes ADC able to rank members of the same tight cluster (pinned:
    residual ADC recall beats raw ADC recall on the clustered fixture).
    The residual codebook uses deterministic hash sampling because the
    cluster centers' own residuals are near zero (a lowest-id codebook
    would be degenerate). Partition pruning over cid works exactly as in
    :func:`build_ivf_index`."""
    cents = kmeans_centroids(
        corpus, n_centroids, n_iter=kmeans_iters, id_col=id_col, vec_col=vec_col
    )
    cents.write.mode("overwrite").parquet(f"{path}/centroids")
    inv = ivf_assign(corpus, cents, id_col=id_col, vec_col=vec_col)
    if by_residual:
        resid = _residuals(inv, cents)
        cb = pq_codebook(
            resid, m=m, dsub=dsub, codewords=codewords,
            id_col="id", vec_col="res", sampled=True,
        )
        codes = pq_encode(resid, cb, m=m, dsub=dsub, id_col="id", vec_col="res")
    else:
        cb = pq_codebook(
            corpus, m=m, dsub=dsub, codewords=codewords,
            id_col=id_col, vec_col=vec_col,
        )
        codes = pq_encode(corpus, cb, m=m, dsub=dsub, id_col=id_col, vec_col=vec_col)
    cb.write.mode("overwrite").parquet(f"{path}/codebook")
    _write_pq_meta(path, by_residual)  # before postings: readers fail closed
    (
        inv.select("id", "cid")
        .join(_pack_codes(codes), "id")
        .repartition("cid")
        .write.mode("overwrite")
        .partitionBy("cid")
        .parquet(f"{path}/postings")
    )


def ivfpq_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int,
    *,
    nprobe: int = 2,
    rerank_with: DataFrame | None = None,
    n_candidates: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dist_scale: int = 6,
) -> DataFrame:
    """Top-k over a persisted IVF+PQ index: probe ``nprobe`` lists per
    query (cid partition pruning — unprobed directories never open),
    score ONLY the probed postings by ADC table lookups, and — when
    ``rerank_with`` supplies the full-vector table — rerank the top
    ``n_candidates`` compressed-domain candidates by exact cosine.

    Probing every list reproduces :func:`pq_adc_topk` exactly for a
    raw-coded index (pinned test), which is the oracle chain: ADC is
    hash-verified globally, and IVF only restricts which lists
    contribute. A by_residual index instead builds its lookup table
    per (query, probed list) — the LUT holds distances from the
    query's residual against THAT list's centroid, m x codewords rows
    per probe, still broadcast-sized. Returns
    (query_id, neighbor_id, rank, adc_dist), or cos_sim when reranked."""
    cents = spark.read.parquet(f"{path}/centroids")
    cb = spark.read.parquet(f"{path}/codebook")
    post = spark.read.parquet(f"{path}/postings")
    by_residual = _read_pq_meta(path)
    meta = cb.agg(
        F.countDistinct("j").alias("m"), F.first(F.size("cw")).alias("dsub")
    ).collect()[0]
    m, dsub = meta["m"], meta["dsub"]
    mlt = float(10**dist_scale)

    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    probes = _probe_lists(q, cents, nprobe)
    cand = post.join(F.broadcast(probes.select("query_id", "cid")), "cid").where(
        F.col("id") != F.col("query_id")
    )
    if by_residual:
        qres = _residuals(
            probes.withColumnRenamed("qv", "v").withColumnRenamed(
                "query_id", "id"
            ),
            cents,
        ).select(F.col("id").alias("query_id"), "cid", F.col("res"))
        qsub = _subvectors(
            qres, "query_id", "query_id", "res", m, dsub, extra=("cid",)
        )
        lut = _lut_quantize(qsub, cb, mlt, ("query_id", "cid"))
        ex = cand.select(
            "query_id", "cid", "id", F.posexplode("codes").alias("j", "code")
        )
        scored = _adc_scores(ex, lut, ("query_id", "cid"))
    else:
        lut = _pq_lut(queries, cb, m, dsub, mlt, id_col, vec_col)
        ex = cand.select(
            "query_id", "id", F.posexplode("codes").alias("j", "code")
        )
        scored = _adc_scores(ex, lut, ("query_id",))
    w = Window.partitionBy("query_id").orderBy(F.col("dql").asc(), F.col("id").asc())
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if rerank_with is None:
        return ranked.where(F.col("rank") <= k).select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            "rank",
            (F.col("dql").cast("double") / F.lit(mlt)).alias("adc_dist"),
        )
    pool = ranked.where(F.col("rank") <= n_candidates).select(
        "query_id", F.col("id").alias("neighbor_id")
    )
    c = rerank_with.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    rescored = (
        pool.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id", "neighbor_id", cosine("qv", "cv").alias("cos_sim")
        )
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        rescored.withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def ivfpq_index_add(
    spark,
    path: str,
    new_vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental IVF+PQ maintenance: encode ``new_vectors`` against
    the index's EXISTING codebook, assign them to its EXISTING
    centroids, and append code rows to the partitioned posting lists —
    both quantizers stay fixed between retrains, exactly like
    :func:`ivf_index_add`, so queries equal a from-scratch build with
    the same centroids and codebook over the union corpus (pinned
    test). Neither the old corpus nor the new vectors ever shuffle;
    the append is one broadcast assignment + one broadcast encode."""
    cents = spark.read.parquet(f"{path}/centroids")
    cb = spark.read.parquet(f"{path}/codebook")
    by_residual = _read_pq_meta(path)
    meta = cb.agg(
        F.countDistinct("j").alias("m"), F.first(F.size("cw")).alias("dsub")
    ).collect()[0]
    inv = ivf_assign(new_vectors, cents, id_col=id_col, vec_col=vec_col)
    if by_residual:
        codes = pq_encode(
            _residuals(inv, cents), cb, m=meta["m"], dsub=meta["dsub"],
            id_col="id", vec_col="res",
        )
    else:
        codes = pq_encode(
            new_vectors, cb, m=meta["m"], dsub=meta["dsub"],
            id_col=id_col, vec_col=vec_col,
        )
    (
        inv.select("id", "cid")
        .join(_pack_codes(codes), "id")
        .repartition("cid")
        .write.mode("append")
        .partitionBy("cid")
        .parquet(f"{path}/postings")
    )
