"""Deterministic sampling operators for training-data pipelines
(SURVEY.md §2 Part C extensions).

Data mixing for LLM training needs *reproducible* samples: the same
corpus and the same rates must select the same documents on every run,
on any engine, at any parallelism. All operators here therefore sample
by content-free key hashing (md5 of the stringified key), never by RNG —
no seed plumbing, no partition-order sensitivity, and the DuckDB oracle
replicates every selection bit for bit.

The hash predicate is a plain lexicographic compare on the md5 hex
prefix: lowercase hex sorts in numeric order ('0'..'9' < 'a'..'f'), so
``substr(md5(key), 1, 4) < '4000'`` keeps exactly the 25% of keys whose
first 16 hash bits fall below 0x4000. That is a row-local filter —
pushed to the scan, no shuffle, no state — which is what a sampling
stage must be at 100 TB.

The reference (jptmoore/nibbledb) has no sampling surface; this is part
of the north-star extension scope.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nibbledb_spark.operators.timeseries import scaled_long

# hex digits of md5 prefix used for rate thresholds: 4 -> 16-bit buckets,
# i.e. rate granularity 1/65536
_PREFIX_LEN = 4
_BUCKETS = 16 ** _PREFIX_LEN


def rate_threshold(rate: float) -> str:
    """Hex threshold string t such that P(md5_prefix < t) == rate (to
    1/65536 granularity). Shared by the Spark and oracle sides.

    rate 1.0 returns 'g': lexicographically after every lowercase-hex
    prefix (a 5-char '10000' would sort BEFORE most 4-char prefixes and
    silently keep ~6% of rows).
    """
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1]: {rate}")
    bucket = int(rate * _BUCKETS)
    if bucket >= _BUCKETS:
        return "g"
    return format(bucket, f"0{_PREFIX_LEN}x")


def _hash_prefix(key: Column) -> Column:
    return F.substring(F.md5(key.cast("string")), 1, _PREFIX_LEN)


def sample_uniform(
    df: DataFrame, rate: float, *, key_col: str = "doc_id"
) -> DataFrame:
    """Keep a deterministic ``rate`` fraction of rows by key hash.

    Row-local predicate: no shuffle, survives repartitioning, and the
    complement (``>= threshold``) is exactly the held-out set.
    """
    return df.where(_hash_prefix(F.col(key_col)) < rate_threshold(rate))


def sample_stratified(
    df: DataFrame,
    rates: dict[str, float],
    *,
    stratum_col: str = "source",
    key_col: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling — the data-mixing primitive
    (e.g. keep 100% of curated sources, 10% of web crawl).

    ``rates`` maps stratum value -> keep fraction; strata not listed get
    ``default_rate``. Still one row-local predicate: the stratum column
    picks the threshold via CASE, the key hash decides membership.
    """
    thr: Column = F.lit(rate_threshold(default_rate))
    for value, rate in sorted(rates.items()):
        thr = (
            F.when(F.col(stratum_col) == value, F.lit(rate_threshold(rate)))
            .otherwise(thr)
        )
    return df.where(_hash_prefix(F.col(key_col)) < thr)


def sample_exact_k(df: DataFrame, k: int, *, key_col: str = "doc_id") -> DataFrame:
    """Exactly-k uniform sample: the k smallest key hashes.

    Deterministic and engine-independent like the rate samplers, but
    with an exact cardinality. Physical plan is TakeOrderedAndProject
    (per-partition top-k, then a k-row merge on the driver side of the
    exchange) — never a global sort.
    """
    h = F.md5(F.col(key_col).cast("string"))
    return df.orderBy(h.asc(), F.col(key_col).asc()).limit(k)


def sample_quota_per_group(
    df: DataFrame,
    n: int,
    *,
    group_col: str = "source",
    key_col: str = "doc_id",
) -> DataFrame:
    """At most ``n`` rows per group, chosen by smallest key hash — quota
    sampling (cap any one source's contribution to a training mix).

    One hash-partitioned window by group; the rank filter drops
    everything past the quota before any downstream stage sees it.
    """
    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(key_col).cast("string")).asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n)
        .drop("__rn")
    )


def sample_token_budget_per_group(
    df: DataFrame,
    budget_tokens: int,
    *,
    group_col: str = "source",
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fill a TOKEN budget per group: documents are taken in hash order
    (deterministic, uniform — same ordering as the quota sampler) until
    each group's cumulative token count reaches ``budget_tokens``; the
    document that crosses the line is included, so every group reaches
    its budget ("sample N tokens per domain", the mixing primitive
    training recipes specify, rather than a doc count).

    One window per group over an exclusive prefix sum of token counts —
    a single hash-partitioned shuffle, no iteration.
    """
    n_tok = F.size(F.split(F.col(text_col), r"\s+"))
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.md5(F.col(key_col).cast("string")).asc(), F.col(key_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        df.withColumn("n_tokens", n_tok)
        .withColumn("__prior", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .where(F.col("__prior") < budget_tokens)
        .drop("__prior")
    )


def bernoulli_importance_resample(
    weighted: DataFrame,
    *,
    id_col: str = "doc_id",
    weight_col: str = "weight",
    kappa: float = 2.0,
) -> DataFrame:
    """Deterministic Bernoulli importance resampling: keep each row
    with probability ``min(1, weight/kappa)`` — the acceptance step
    that turns importance WEIGHTS (DSIR or any scorer) into a
    resampled corpus whose composition follows the target
    distribution. The paper's Gumbel-top-k draws a fixed-size sample;
    the Bernoulli form keeps expected counts proportional with one
    row-local predicate and no global ordering state — the shape that
    composes into a streaming/incremental pipeline. ``kappa`` is the
    acceptance temperature: rows at weight > kappa always survive
    (weight == kappa survives unless the row's u lands exactly on 1.0
    — u spans the half-open (0, 1] because of the +1 below, so the
    boundary is OPEN with probability 2^-52; documented rather than
    closed so the operator and the dsir_resample oracle stay the same
    strict-< expression — round-12 advice).

    Determinism (the split/temperature-mix playbook): u is the row
    key's 52-bit md5 fraction, the acceptance test ``u·kappa <
    weight`` is one IEEE multiply+compare both engines evaluate
    identically, and a row's fate never changes as the corpus grows.
    Row-local; adds zero shuffles to whatever produced the weights.
    """
    if kappa <= 0:
        raise ValueError(f"kappa must be positive: {kappa}")
    u = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 13), 16, 10)
        .cast("long")
        + F.lit(1)
    ).cast("double") / F.lit(float(1 << 52))
    return weighted.where(u * F.lit(kappa) < F.col(weight_col))


def weighted_priority_sample(
    df: DataFrame,
    k: int,
    weights: dict[str, int],
    *,
    stratum_col: str = "source",
    key_col: str = "doc_id",
    default_weight: int = 1,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, deterministic: the
    Efraimidis-Spirakis A-ES scheme (IPL 2006). Every row draws a
    uniform u from its key hash and gets priority u^(1/w); the global
    top-k priorities are the sample — inclusion odds scale with w, and
    the selection is exactly reproducible on any engine or partitioning.

    Engine-portability detail: u^(1/w) needs libm ``pow``, whose last
    ulp differs across engines and could flip a borderline top-k
    selection. Since ranking is all that matters, we rank by the
    monotone transform u^(L/w) with L = lcm(weights): the exponents are
    small integers, computed as explicit multiplication chains —
    IEEE-exact, bit-identical everywhere, and the DuckDB oracle repeats
    the same products. Weights must divide L (integers keep it exact),
    and L is capped at 64: the chains are L multiplications long, so an
    unbounded lcm (coprime weights like {97, 101}) would explode the
    Catalyst expression tree — pick weight sets from a divisor chain
    (1, 2, 4, ...), which is what mixing recipes use anyway.

    Physical shape: row-local priority expression, then one global
    TakeOrderedAndProject (per-partition top-k + k-row merge) — no full
    sort, no shuffle of the corpus. The 100 TB cost is one scan.
    """
    if k <= 0:
        raise ValueError(f"k must be positive: {k}")
    ws = set(weights.values()) | {default_weight}
    if any(w <= 0 or w != int(w) for w in ws):
        raise ValueError(f"weights must be positive integers: {sorted(ws)}")
    lcm = 1
    for w in sorted(ws):
        g, a = lcm, w
        while a:
            g, a = a, g % a
        lcm = lcm * w // g
    if lcm > 64:
        raise ValueError(
            f"lcm of weights is {lcm} (> 64): the priority chains are lcm "
            "multiplications long; use weights from a divisor chain"
        )

    # 52-bit uniform in (0, 1]: +1 keeps u > 0 so priorities never tie at 0
    u = (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 13), 16, 10)
        .cast("long")
        + F.lit(1)
    ).cast("double") / F.lit(float(1 << 52))

    def upow(e: int) -> Column:
        p = u
        for _ in range(e - 1):
            p = p * u
        return p

    prio = upow(lcm // default_weight)
    for value, w in sorted(weights.items()):
        prio = F.when(F.col(stratum_col) == value, upow(lcm // w)).otherwise(prio)
    return (
        df.withColumn("priority", prio)
        .orderBy(F.col("priority").desc(), F.col(key_col).asc())
        .limit(k)
    )


def split_assign(
    df: DataFrame,
    fractions: dict[str, float] | None = None,
    *,
    key_col: str = "doc_id",
) -> DataFrame:
    """Deterministic train/val/test assignment: every row gets a
    ``split`` label by key hash against cumulative fraction thresholds
    (1/65536 granularity, same ``rate_threshold`` machinery as
    ``sample_uniform``). The three properties a split MUST have at
    100 TB, and RNG-based splits don't: reproducible on any engine or
    partitioning, stable under re-runs and appends (a doc's split never
    changes when the corpus grows), and disjoint-and-exhaustive by
    construction (chained half-open hash intervals).

    ``fractions`` is ordered name -> fraction, default the standard
    ``{"train": .8, "val": .1, "test": .1}``; must sum to 1 (within the
    granularity). Row-local projection: no shuffle, no state.
    """
    if fractions is None:
        fractions = {"train": 0.8, "val": 0.1, "test": 0.1}
    if not fractions or any(f < 0 for f in fractions.values()):
        raise ValueError(f"fractions must be non-negative: {fractions}")
    if abs(sum(fractions.values()) - 1.0) > 1.0 / _BUCKETS:
        raise ValueError(f"fractions must sum to 1: {fractions}")
    names = list(fractions)
    cum = 0.0
    h = _hash_prefix(F.col(key_col))
    expr = F.lit(names[-1])  # last split takes the remainder interval
    uppers = []
    for name in names[:-1]:
        cum += fractions[name]
        uppers.append((name, rate_threshold(cum)))
    for name, upper in reversed(uppers):
        expr = F.when(h < F.lit(upper), F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def temperature_mix_rates(
    df: DataFrame,
    *,
    alpha_sqrt: bool = True,
    budget_frac: float = 0.5,
    group_col: str = "source",
) -> DataFrame:
    """Per-source keep rates for temperature-based mixture sampling
    (the multilingual/multi-domain training recipe: sample source s
    with probability proportional to n_s^alpha; alpha < 1 flattens the
    mix toward low-resource sources). Returns one row per source:
    ``(source, n_docs, mix_share, keep_rate)`` where ``mix_share`` is
    the alpha-tempered target share and ``keep_rate`` realizes it from
    the corpus frequencies under a total budget of ``budget_frac * N``
    docs (capped at 1: no replacement — the standard clip).

    alpha is fixed at 0.5 (``alpha_sqrt``): sqrt is IEEE
    correctly-rounded on every engine, so the tempered weights are
    bit-identical without libm pow (the weighted_priority_sample
    lesson). The sqrt weights quantize to scaled longs BEFORE the
    cross-source sum, so the denominator is an exact integer and every
    downstream ratio is a single deterministic double op.

    Scale shape: one tiny groupBy(source) agg; the rates frame is a
    handful of rows to broadcast back — the corpus is scanned once.
    """
    if not alpha_sqrt:
        raise ValueError("only alpha = 0.5 (sqrt tempering) is engine-exact")
    if not 0.0 < budget_frac <= 1.0:
        raise ValueError(f"budget_frac must be in (0, 1]: {budget_frac}")
    counts = df.groupBy(group_col).agg(F.count("*").alias("n_docs"))
    s = scaled_long(F.sqrt(F.col("n_docs").cast("double")), 6)
    w = Window.partitionBy()
    scaled = counts.withColumn("s_scaled", s).withColumn(
        "denom", F.sum("s_scaled").over(w)
    ).withColumn("n_total", F.sum("n_docs").over(w))
    bhat = F.floor(F.lit(budget_frac) * F.lit(float(_BUCKETS)) + F.lit(0.5)).cast(
        "long"
    )
    share = F.col("s_scaled").cast("double") / F.col("denom").cast("double")
    raw_rate = (
        (bhat.cast("double") / F.lit(float(_BUCKETS)))
        * F.col("n_total").cast("double")
        * share
        / F.col("n_docs").cast("double")
    )
    return scaled.select(
        group_col,
        "n_docs",
        share.alias("mix_share"),
        F.least(raw_rate, F.lit(1.0)).alias("keep_rate"),
    )


def sample_temperature_mix(
    df: DataFrame,
    *,
    budget_frac: float = 0.5,
    group_col: str = "source",
    key_col: str = "doc_id",
) -> DataFrame:
    """Select the temperature-tempered training mix: keep each doc iff
    its 16-bit key-hash uniform falls under its source's
    ``temperature_mix_rates`` keep rate. Deterministic per doc (same
    membership on every engine/run), and the realized per-source counts
    converge to the alpha = 0.5 mixture.

    Physical shape: tiny rates frame broadcast onto the corpus, then a
    row-local predicate — one scan, one broadcast, no corpus shuffle.
    """
    rates = temperature_mix_rates(
        df, budget_frac=budget_frac, group_col=group_col
    ).select(group_col, "keep_rate")
    u = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, _PREFIX_LEN), 16, 10
    ).cast("long")
    return (
        df.join(F.broadcast(rates), group_col)
        .where(u.cast("double") < F.col("keep_rate") * F.lit(float(_BUCKETS)))
        .drop("keep_rate")
    )


def shuffle_deterministic(
    df: DataFrame,
    *,
    key_col: str = "doc_id",
    salt: str = "shuffle",
    prefix_len: int = 3,
) -> DataFrame:
    """Deterministic global corpus shuffle (round-9 verdict #6): adds a
    ``pos`` column — the row's 0-based position in the total order
    ``(md5(salt || ':' || key), key)`` — so "shuffle the corpus
    identically on any cluster" becomes a sortable column instead of an
    RNG. Same reproducibility contract as :func:`split_assign`: no
    seed plumbing, no partition-order sensitivity, and a new salt is a
    fresh independent permutation (the per-epoch reshuffle).

    ``key_col`` must be unique per row (the md5 tie-break is the key
    itself, so duplicate keys would get an arbitrary relative order).

    Physical shape — the 100 TB design point: a global sort-and-number
    would funnel the corpus through one partition. Instead the first
    ``prefix_len`` hex chars of the hash form 16^prefix_len range
    buckets whose lexicographic order IS the hash order, so the global
    position decomposes into (cumulative count of earlier buckets) +
    (rank within bucket). One corpus exchange on the bucket key, a tiny
    per-bucket count aggregate windowed into offsets (16^prefix_len
    rows — driver-scale), broadcast back. md5 uniformity makes the
    buckets skew-free by construction; raise ``prefix_len`` to 4
    (65536 buckets) when a bucket must stay executor-memory sized.
    """
    if not 1 <= prefix_len <= 8:
        raise ValueError(f"prefix_len must be in [1, 8]: {prefix_len}")
    h = F.md5(
        F.concat_ws(":", F.lit(salt), F.col(key_col).cast("string")).cast("binary")
    )
    d = df.withColumn("__h", h).withColumn(
        # long, not int: 8 hex chars reach 0xFFFFFFFF > INT_MAX, and a
        # NULL from an overflowed cast would silently drop the row at
        # the inner offset join below
        "__b", F.conv(F.substring("__h", 1, prefix_len), 16, 10).cast("long")
    )
    counts = d.groupBy("__b").agg(F.count("*").alias("__n"))
    woff = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    offs = counts.select(
        "__b", F.coalesce(F.sum("__n").over(woff), F.lit(0)).alias("__off")
    )
    wb = Window.partitionBy("__b").orderBy(
        F.col("__h").asc(), F.col(key_col).asc()
    )
    return (
        d.join(F.broadcast(offs), "__b")
        .withColumn("pos", F.col("__off") + F.row_number().over(wb) - F.lit(1))
        .drop("__b", "__h", "__off")
    )


def dsir_hashed_ngram_weights(
    docs: DataFrame,
    target: DataFrame,
    *,
    n_buckets: int = 64,
    scale: int = 10**6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, arXiv:2302.03169):
    score every ``docs`` row by how much its hashed-bigram profile
    looks like ``target``'s distribution rather than ``docs``' own —
    the data-selection signal that upweights target-domain-like raw
    documents before resampling.

    Bag-of-hashed-ngrams with add-1 smoothing, made ENGINE-EXACT by
    the integer playbook instead of the paper's log-probability sums
    (logs are never parity-safe across engines): each bucket ``h``
    gets an exact-long quantized likelihood ratio

        r[h] = ((T[h]+1) * (S_tot+B) * scale) DIV ((S[h]+1) * (T_tot+B))

    (T = target bucket counts, S = source bucket counts, B smoothing
    mass) and a doc's score is the exact integer SUM of r over its
    bigram occurrences — order-free, bit-identical anywhere. The
    returned ``weight`` is that sum divided ONCE by ``n_ngrams *
    scale`` (a single IEEE division of two exact integers — the
    geometric-mean-free analogue of the paper's mean log ratio).

    Shape at scale: bigrams explode row-locally; bucket stats are two
    map-side-combined hash aggregates of at most ``n_buckets`` rows
    each; the per-doc join broadcasts the tiny ratio table, so the
    corpus shuffles only on ``id_col`` for the final per-doc sum.
    int64 headroom: max(T)·(S_tot+B)·scale must stay below 2^63 —
    at scale=1e6 and B=64 that holds past 10^8 target bigrams
    against a 10^9-bigram pool; shrink ``scale`` or raise
    ``n_buckets`` beyond that.

    Docs with fewer than two tokens have no bigrams and are omitted
    (no ngram evidence, no weight). Returns (id_col, n_ngrams,
    score_scaled, weight) with weight ~ 1.0 meaning "looks equally
    target- and source-like".
    """
    from .text import tokens

    def bg(df: DataFrame, keep_id: bool) -> DataFrame:
        pairs = F.expr(
            "transform(slice(_toks, 1, greatest(size(_toks) - 1, 0)), "
            "(t, i) -> concat(t, ' ', _toks[i + 1]))"
        )
        cols = ([F.col(id_col).alias("id")] if keep_id else []) + [
            tokens(text_col).alias("_toks")
        ]
        ex = df.select(*cols).select(
            *(["id"] if keep_id else []), F.explode(pairs).alias("ng")
        )
        h = F.conv(F.substring(F.md5(F.col("ng")), 1, 8), 16, 10).cast(
            "long"
        ) % n_buckets
        return ex.select(*(["id"] if keep_id else []), h.alias("h"))

    sbg = bg(docs, keep_id=True)
    tbg = bg(target, keep_id=False)
    tc = tbg.groupBy("h").agg(F.count("*").alias("tcnt"))
    scnt = sbg.groupBy("h").agg(F.count("*").alias("scnt"))
    # totals derive from the <=n_buckets-row aggregates — re-aggregating
    # tbg/sbg from scratch would run the corpus-wide explode+hash sweep
    # twice more per action. (sbg itself is still evaluated twice — the
    # bucket stats and the per-doc join; deliberately NOT persisted, the
    # probe-frame rule: corpus-scale bigram rows pinned in executor
    # memory with no unpersist handle cost more than the second scan.)
    tt = tc.agg(
        F.coalesce(F.sum("tcnt"), F.lit(0).cast("long")).alias("t_total")
    )
    st = scnt.agg(
        F.coalesce(F.sum("scnt"), F.lit(0).cast("long")).alias("s_total")
    )
    ratio = (
        scnt.join(tc, "h", "left")
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(st))
        .select(
            "h",
            F.expr(
                f"((coalesce(tcnt, CAST(0 AS BIGINT)) + 1)"
                f" * (s_total + {n_buckets}) * {scale})"
                f" DIV ((scnt + 1) * (t_total + {n_buckets}))"
            ).alias("r"),
        )
    )
    return (
        sbg.join(F.broadcast(ratio), "h")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_ngrams"),
            F.sum("r").alias("score_scaled"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_ngrams",
            "score_scaled",
            (
                F.col("score_scaled").cast("double")
                / (F.col("n_ngrams") * F.lit(scale)).cast("double")
            ).alias("weight"),
        )
    )
