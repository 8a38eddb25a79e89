"""Text-analysis operators for training-data pipelines (SURVEY.md §2
Part C): tokenization, quality scoring, language-ID heuristic, document
fingerprinting.

All hot paths are JVM-side array/string expressions (split / transform /
aggregate) — no Python UDFs — so they codegen and scale linearly with
executors. Every function is deterministic so results are oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# whitespace tokenization — the engine's canonical token stream
TOKEN_RE = r"\s+"

# tiny per-language marker inventories for the lang-id heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "los", "las", "y", "es"),
}
# deterministic preference order for score ties
LANG_ORDER = ("en", "de", "fr", "es")

STOPWORDS = LANG_MARKERS["en"] + ("to", "in", "that", "it", "for")


def tokens(col: Column | str) -> Column:
    """Whitespace token array."""
    return F.split(F.col(col) if isinstance(col, str) else col, TOKEN_RE)


# SQL-text twins of the hot row-local builders: one parser pass instead
# of a py4j driver round trip per Column method call (the measured
# dominant cost of constructing the text/cleaning plans; r15 opt).
# Trees are identical to the Column versions — same functions, same
# casts, same literals — so results and plan shape are unchanged.


def tokens_sql(text_frag: str) -> str:
    """SQL text of :func:`tokens` over a SQL fragment."""
    return f"split({text_frag}, '\\\\s+')"


def _in_list_sql(vals: tuple[str, ...]) -> str:
    return "(" + ", ".join(f"'{v}'" for v in vals) + ")"


# GPT-2-style pre-tokenizer approximation: contractions, space-prefixed
# letter runs, digit runs, punctuation runs. Restricted to constructs both
# Java regex (Spark) and RE2 (DuckDB oracle) support identically — no
# lookahead, ASCII classes.
BPE_ISH_RE = "'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+"


def token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document token statistics: whitespace token counts, distinct
    counts, mean token length (exact integer ratios -> deterministic
    doubles), and a BPE-ish subword count from the GPT-2-style
    pre-tokenizer regex — the cheap LLM-token-budget estimator.

    The token array is staged in a projection so the text splits once
    per row instead of once per output column (4 references;
    CollapseProject keeps the staging — see lang_id)."""
    return docs.selectExpr(
        "doc_id", text_col, f"{tokens_sql(text_col)} AS __w"
    ).select(
        "doc_id",
        F.expr("size(__w)").alias("n_tokens"),
        F.expr("size(array_distinct(__w))").alias("n_uniq_tokens"),
        F.expr(
            "CAST(aggregate(__w, 0, (acc, x) -> acc + length(x)) AS DOUBLE)"
            " / size(__w)"
        ).alias("mean_token_len"),
        F.regexp_count(F.col(text_col), F.lit(BPE_ISH_RE)).alias("n_bpe_tokens"),
    )


def quality_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality scoring: type-token ratio, stopword ratio, and a
    blended score. The formula is fixed and documented so downstream
    filters are reproducible.

    Staged: the token array, then the two ratios, are each computed
    once per row (the ratios are output both raw and inside the blended
    score; inlined they evaluated their array scans twice —
    CollapseProject keeps the staging, see lang_id)."""
    uniq_ratio = "CAST(size(array_distinct(__w)) AS DOUBLE) / size(__w)"
    stop_ratio = (
        f"CAST(size(filter(__w, x -> x IN {_in_list_sql(STOPWORDS)})) AS DOUBLE)"
        " / size(__w)"
    )
    return (
        docs.selectExpr("doc_id", f"{tokens_sql(text_col)} AS __w")
        .selectExpr(
            "doc_id",
            "size(__w) AS n_tokens",
            f"{uniq_ratio} AS uniq_ratio",
            f"{stop_ratio} AS stopword_ratio",
        )
        .selectExpr(
            "doc_id",
            "n_tokens",
            "uniq_ratio",
            "stopword_ratio",
            "uniq_ratio * 0.5D + stopword_ratio * 0.5D AS quality_score",
        )
    )


def lang_pred_sql(text_frag: str) -> str:
    """SQL text of :func:`lang_pred_col` over a SQL fragment — the
    nested CASE is built as one string and parsed once (~60 py4j round
    trips on the Column path)."""
    w = tokens_sql(text_frag)
    scores = {
        lang: f"size(filter({w}, x -> x IN {_in_list_sql(m)}))"
        for lang, m in LANG_MARKERS.items()
    }
    best = f"'{LANG_ORDER[-1]}'"
    for lang in reversed(LANG_ORDER[:-1]):
        later = [scores[o] for o in LANG_ORDER[LANG_ORDER.index(lang) + 1 :]]
        cond = " AND ".join(f"{scores[lang]} >= {o}" for o in later)
        best = f"CASE WHEN {cond} THEN '{lang}' ELSE {best} END"
    return f"CASE WHEN {text_frag} RLIKE '[一-鿿]' THEN 'zh' ELSE {best} END"


def lang_pred_col(text_col: Column | str = "text") -> Column:
    """Language prediction as a row-local Column (composable without a
    join). CJK codepoints force ``zh``; otherwise the language with the
    most marker hits wins, ties broken by the fixed LANG_ORDER.
    Deterministic by construction."""
    if isinstance(text_col, str):
        return F.expr(lang_pred_sql(text_col))
    text = text_col
    w = tokens(text)

    # NB: higher-order-function lambdas must have exactly one parameter —
    # PySpark binds a Column per named parameter (a default like
    # ``m=markers`` would silently receive the element index).
    def marker_count(markers: tuple[str, ...]) -> Column:
        return F.size(F.filter(w, lambda x: x.isin(*markers)))

    scores = {lang: marker_count(m) for lang, m in LANG_MARKERS.items()}
    has_cjk = text.rlike(r"[一-鿿]")
    best = F.lit(LANG_ORDER[-1])
    for lang in reversed(LANG_ORDER[:-1]):
        later = [scores[o] for o in LANG_ORDER[LANG_ORDER.index(lang) + 1 :]]
        cond = None
        for o in later:
            c = scores[lang] >= o
            cond = c if cond is None else (cond & c)
        best = F.when(cond, F.lit(lang)).otherwise(best)
    return F.when(has_cjk, F.lit("zh")).otherwise(best)


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word language-ID heuristic (see lang_pred_col).

    Staged form: the four marker counts are computed once per row in a
    projection below the CASE instead of once per CASE comparison (up
    to 12 interpreted ``size(filter(...))`` evaluations per non-en row
    inlined). No pushdown barrier is needed for a projection consumer:
    ``CollapseProject`` refuses to inline an alias that is referenced
    more than once by a non-cheap expression, so the staging survives
    on its own (plan-pinned in tests)."""
    score_cols = [
        f"size(filter(__w, x -> x IN {_in_list_sql(m)})) AS __s_{lang}"
        for lang, m in LANG_MARKERS.items()
    ]
    return (
        docs.selectExpr("doc_id", text_col, f"{tokens_sql(text_col)} AS __w")
        .selectExpr("doc_id", text_col, *score_cols)
        .selectExpr(
            "doc_id", f"({_lang_case_over_cols(text_col)}) AS lang_pred"
        )
    )


def _lang_case_over_cols(text_frag: str) -> str:
    """The lang-pred CASE over pre-staged ``__s_<lang>`` score columns
    (same comparison tree and tie order as :func:`lang_pred_sql`, but
    each score is a column reference instead of a re-evaluated
    ``size(filter(...))``)."""
    best = f"'{LANG_ORDER[-1]}'"
    for lang in reversed(LANG_ORDER[:-1]):
        later = LANG_ORDER[LANG_ORDER.index(lang) + 1 :]
        cond = " AND ".join(f"__s_{lang} >= __s_{o}" for o in later)
        best = f"CASE WHEN {cond} THEN '{lang}' ELSE {best} END"
    return f"CASE WHEN {text_frag} RLIKE '[一-鿿]' THEN 'zh' ELSE {best} END"


def quality_lang_keep(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 10,
    min_stopword_ratio: float = 0.03,
    lang: str = "en",
) -> DataFrame:
    """(id, text) survivors of the row-local quality + language gates —
    the staged form of ``where(size(tokens) >= k AND stopword_ratio >=
    r AND lang_pred = lang)``.

    Written as one inlined predicate, every ``size(filter(...))`` in
    the lang CASE re-evaluates per comparison and every component
    re-splits the text (the interpreted higher-order functions get no
    common-subexpression elimination): measured 0.84 s per cold corpus
    pass at sf0.1. Staging the token array, then the five marker/stop
    counts, in projections BELOW the filter evaluates each exactly once
    per row: 0.39-0.45 s, identical survivors (r15 opt; the
    intermediate form where the optimizer re-inlines the aliases but
    all references share one expression instance measured 0.63 s).

    The ``0 * monotonically_increasing_id()`` term in ``__n`` is a
    value-neutral pushdown barrier: ``PushPredicateThroughNonJoin``
    requires every project expression the predicate references to be
    deterministic, so the taint pins the filter ABOVE the staging
    projection. A plain unused nondeterministic column does NOT work —
    ``ColumnPruning`` drops it first (it is unreferenced) and the then-
    deterministic projection gets substituted back into the predicate,
    undoing the staging (verified on the optimized plan both ways; the
    surviving-staging form measured 0.39-0.45 s vs 0.63 s re-inlined).
    ``__n``'s VALUE is unchanged (+0), only its determinism marker
    flips; the trade is that no future predicate can push through this
    projection to the scan either — acceptable because the quality
    filter is the first thing the cleaning pipelines do.

    Reserved names: the staging injects ``__``-prefixed helper columns
    (``__w``, ``__n``, ``__r``, ``__s_<lang>``) into the projection —
    same contract as ``lang_id``/``quality_scores``/``token_stats``
    (ADVICE r15): input frames must not already carry columns with
    those names or the analyzer raises an ambiguous-reference error.
    The declared pipelines all feed raw (id, text) corpora.
    """
    score_cols = [
        f"size(filter(__w, x -> x IN {_in_list_sql(m)})) AS __s_{lang_}"
        for lang_, m in LANG_MARKERS.items()
    ]
    staged = docs.selectExpr(
        id_col, text_col, f"{tokens_sql(text_col)} AS __w"
    ).selectExpr(
        id_col,
        text_col,
        "size(__w) + 0 * monotonically_increasing_id() AS __n",
        f"CAST(size(filter(__w, x -> x IN {_in_list_sql(STOPWORDS)})) AS DOUBLE)"
        " / size(__w) AS __r",
        *score_cols,
    )
    return staged.where(
        f"__n >= {min_tokens} AND __r >= {min_stopword_ratio!r}D"
        f" AND ({_lang_case_over_cols(text_col)}) = '{lang}'"
    ).select(id_col, text_col)


def fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprints: exact (md5 of raw text) and content (md5 of
    the sorted distinct token set — invariant to word order/repetition).
    The content fingerprint is the key for order-insensitive exact dedup."""
    w = tokens(text_col)
    return docs.select(
        "doc_id",
        F.md5(F.col(text_col).cast("binary")).alias("exact_fp"),
        F.md5(
            F.concat_ws(" ", F.array_sort(F.array_distinct(w))).cast("binary")
        ).alias("content_fp"),
    )


#: Winnowing position-encoding base: selected fingerprints pack
#: (kgram_hash, position tie-break) into one BIGINT as
#: ``hash * 2^20 + (2^20 - 1 - pos)`` so a plain MIN picks the smallest
#: hash and, on hash ties, the RIGHTMOST position (the winnowing rule
#: that makes selections self-consistent across overlapping windows).
#: Bounds: 40-bit hash * 2^20 < 2^63 stays in BIGINT, and documents are
#: limited to 2^20 k-grams (~1M tokens) — ENFORCED with a per-row
#: assert_true in winnow_fingerprints; chunk longer docs first.
_WINNOW_POS_CAP = 1 << 20


def winnow_fingerprints(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing local fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every ``k``-token gram,
    slide a window of ``w`` consecutive hashes, and in each window
    select the minimum (rightmost on ties). The selected set carries
    the LOCALITY GUARANTEE the stride/modulo fingerprint schemes lack:
    any match of at least ``w + k - 1`` tokens between two documents
    shares at least one selected fingerprint, while only ~``2/(w+1)``
    of positions are kept. Returns (id, pos, fp) — pos is the 0-based
    k-gram index, fp the 40-bit k-gram hash.

    Shape at scale: k-grams are built RELATIONALLY — posexplode the
    token array, assemble each gram with ``lead`` over the per-doc
    position order (the shingle_rows pattern), hash-encode in a
    codegen'd projection, and take the per-window minimum with a
    ``ROWS BETWEEN CURRENT ROW AND w-1 FOLLOWING`` frame over the SAME
    window partitioning (no second exchange). One exchange on doc id
    plus the distinct — and every stage whole-stage-codegens.

    This REPLACED a zero-exchange array-HOF form, by measurement
    (r15 opt, sf0.1 corpus): the HOF form re-ran the entire md5 pass
    per window start (interpreted lambdas get no subexpression
    elimination — O(n^2) md5s per doc, 232 s); staging the hash array
    in its own projection fixed the quadratic but the interpreted
    per-element md5+conv chain still ran at ~30 µs/gram single-digit
    (8.9 s where this form is 1.9 s and DuckDB 0.9 s). The inverse of
    the Gopher-bigram negative result: HOF-vs-relational trades need
    measurement in BOTH directions. Integer-exact end to end; docs
    shorter than ``k`` tokens yield no rows; docs with fewer than ``w``
    k-grams yield the single whole-doc window (every doc with content
    gets at least one fingerprint)."""
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    if w < 1:
        raise ValueError(f"w must be >= 1: {w}")
    cap = _WINNOW_POS_CAP
    tk = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
    )
    # gram text via lead() on the per-doc position order — SQL text,
    # one parser pass per column (the shingle_rows r15 pattern)
    lead_exprs = [
        f"lead(tok, {j}) OVER (PARTITION BY id ORDER BY pos) AS t{j}"
        for j in range(1, k)
    ]
    grams = tk.selectExpr("id", "pos", "tok", *lead_exprs)
    not_null = (
        " AND ".join(f"t{j} IS NOT NULL" for j in range(1, k))
        if k > 1
        else "true"
    )
    gram_txt = ", ".join(["tok"] + [f"t{j}" for j in range(1, k)])
    enc = grams.where(not_null).selectExpr(
        "id",
        "pos",
        f"conv(substring(md5(cast(concat_ws(' ', {gram_txt}) as binary))"
        f", 1, 10), 16, 10) * CAST({cap} AS BIGINT)"
        f" + CAST({cap - 1} - pos AS BIGINT) AS enc",
    )
    sel = enc.selectExpr(
        "id",
        "pos",
        f"min(enc) OVER (PARTITION BY id ORDER BY pos"
        f" ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS m",
        "count(*) OVER (PARTITION BY id) AS nk",
    ).where(f"pos <= greatest(nk - {w}, 0)")
    # The position encoding holds for at most 2^20 k-grams; past that,
    # (cap-1-pos) goes negative and silently corrupts BOTH fp and pos
    # for the doc. Fail loudly instead: assert_true is row-local
    # (returns NULL when the bound holds, raises with the offending doc
    # id when it doesn't), and every over-cap doc has at least the
    # pos=0 selection row, so the check cannot be filtered away.
    cap_ok = F.assert_true(
        F.col("nk") <= F.lit(cap),
        F.concat(
            F.lit("winnow_fingerprints: document "),
            F.col("id").cast("string"),
            F.lit(f" exceeds {cap} k-grams; chunk longer docs first"),
        ),
    )
    return (
        sel.select("id", F.when(cap_ok.isNull(), F.col("m")).alias("m"))
        .distinct()
        .select(
            F.col("id").alias(id_col),
            (F.lit(cap - 1) - F.col("m").bitwiseAND(cap - 1)).alias("pos"),
            F.shiftright("m", 20).alias("fp"),
        )
    )


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
) -> DataFrame:
    """Top-``k`` documents by BM25 relevance to a fixed term set
    (Robertson & Spärck Jones probabilistic retrieval; the Okapi
    ``tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))`` saturation with the
    classic parameters) — the lexical-retrieval scorer that
    complements ``tfidf_pair_scores``/``hybrid_retrieval_rrf``.

    Engine-exactness variant: the term weight is the raw
    Robertson–Spärck Jones odds ratio ``(N−df+0.5)/(df+0.5)`` rather
    than its logarithm — log outputs are never engine-exact (libm
    differs in the last ulp across engines; the collocations-lift
    rule), and the raw ratio keeps each weight one IEEE divide.
    Per-term monotonicity in df is identical (rarer ⇒ heavier);
    the cross-term mixture weights rare terms harder than log-BM25 —
    a documented deviation, deterministic on any engine. A term
    missing from the corpus (df=0) safely contributes 0 everywhere
    (tf=0 zeroes its saturation numerator).

    Shape at scale: term frequencies and document length come out of
    each row's token array in ONE row-local projection (no explode,
    no vocabulary shuffle — the term list is a handful of constants);
    corpus statistics (N, Σdl, per-term df) are a single
    map-side-combined aggregate broadcast back as one row; scoring is
    a fixed expression tree summed in term-list order; the top-k is
    TakeOrderedAndProject with the id tiebreak. The narrow per-doc
    (dl, tf_i) projection PERSISTS for its two consumers (stats +
    scoring) — a handful of longs per document, orders of magnitude
    under the text it summarizes; without it the regex tokenize pass
    (which dominates) runs twice (measured ~2x end-to-end at sf0.1 —
    the DuckDB pair auto-materializes its multi-referenced CTE, this
    is the same move). One narrow cache entry stays pinned by the
    returned frame (the pagerank contract).
    """
    if not terms:
        raise ValueError("terms must be non-empty")
    if len(set(terms)) != len(terms):
        raise ValueError(f"terms must be unique: {terms}")
    w = tokens(text_col)

    def _tf(term: str):
        # NB: a `lambda x, t=t:` default would make this a 2-arg HOF
        # lambda and PySpark would bind the second arg to the ELEMENT
        # INDEX — capture the term via closure instead
        return F.size(F.filter(w, lambda x: x == F.lit(term))).cast("long")

    tf_cols = [_tf(t).alias(f"tf_{i}") for i, t in enumerate(terms)]
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(w).cast("long").alias("dl"),
        *tf_cols,
    ).persist()
    stats = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("int")).cast("long").alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )
    nd = F.col("n").cast("double")
    avgdl = F.col("sum_dl").cast("double") / nd
    dlr = F.col("dl").cast("double") / avgdl

    def term_score(i: int):
        tfd = F.col(f"tf_{i}").cast("double")
        dfd = F.col(f"df_{i}").cast("double")
        idf = (nd - dfd + F.lit(0.5)) / (dfd + F.lit(0.5))
        return idf * (
            (tfd * F.lit(k1 + 1.0))
            / (tfd + F.lit(k1) * (F.lit(1.0) - F.lit(b) + F.lit(b) * dlr))
        )

    score = term_score(0)
    for i in range(1, len(terms)):
        score = score + term_score(i)
    any_tf = F.col("tf_0")
    for i in range(1, len(terms)):
        any_tf = any_tf + F.col(f"tf_{i}")
    return (
        d.crossJoin(F.broadcast(stats))
        .where(any_tf > 0)
        .select("doc_id", score.alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def heavy_hitter_tokens(
    docs: DataFrame, k: int = 20, *, text_col: str = "text"
) -> DataFrame:
    """Top-k most frequent tokens across the corpus (vocabulary heavy
    hitters — stopword discovery, boilerplate detection, tokenizer-merge
    seeding).

    Shape at scale: posexplode-free flat explode, map-side partial count
    per token, one keyed shuffle for the final counts, then
    TakeOrderedAndProject for the top-k — never a global sort of the
    vocabulary. Ties break lexicographically for determinism.
    """
    return (
        docs.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(k)
    )


def chunk_documents(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: int = 64,
) -> DataFrame:
    """Split documents into consecutive ``max_tokens``-token chunks —
    the packing step before sequence-length-bounded training. One
    posexplode + hash aggregate on (id, chunk_id); chunk text is the
    space-joined token run, chunk boundaries are deterministic token
    indices (no Python, no re-tokenization downstream drift)."""
    toks = docs.select(
        F.col(id_col),
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
    )
    # collect_list order is undefined post-shuffle: gather (pos, tok)
    # structs and array_sort (sorts by pos, the first field) so chunk
    # text is deterministic
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "tok"))), lambda s: s["tok"]
    )
    return (
        toks.withColumn("chunk_id", (F.col("pos") / max_tokens).cast("long"))
        .groupBy(id_col, "chunk_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.concat_ws(" ", ordered).alias("chunk_text"),
        )
    )


def chunk_documents_overlap(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: int = 48,
    stride: int = 16,
) -> DataFrame:
    """Sliding-window chunking with overlap (chunk ``c`` covers token
    positions ``[c*stride, c*stride + max_tokens)``) — the RAG/retrieval
    chunking shape, where overlap preserves cross-boundary context.

    Row-oriented like :func:`chunk_documents`: each token explodes into
    the (at most ``ceil(max_tokens/stride)``) chunks containing it via
    ``sequence(c_min, c_max)``, then one hash aggregate per (id, chunk).
    Duplication factor is the overlap ratio — bounded and paid on the
    shuffle, never quadratic."""
    if not 0 < stride <= max_tokens:
        raise ValueError("need 0 < stride <= max_tokens")
    toks = docs.select(
        F.col(id_col),
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
    )
    c_min = F.greatest(
        F.lit(0),
        F.ceil((F.col("pos") - F.lit(max_tokens - 1)) / F.lit(float(stride))),
    ).cast("long")
    c_max = F.floor(F.col("pos") / F.lit(stride)).cast("long")
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "tok"))), lambda s: s["tok"]
    )
    return (
        toks.withColumn("chunk_id", F.explode(F.sequence(c_min, c_max)))
        .groupBy(id_col, "chunk_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.concat_ws(" ", ordered).alias("chunk_text"),
        )
    )


# ---------------------------------------------------------------------------
# PII scrubbing (regex redaction — a row-local map, embarrassingly parallel)
# ---------------------------------------------------------------------------

# Patterns restricted to constructs Java regex (Spark) and RE2 (DuckDB
# oracle) treat identically: no lookaround, no backrefs, ASCII classes.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d[\d()\- ]{7,}\d", "<PHONE>"),
)


def pii_scrub(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Redact emails / IPv4s / international-format phone numbers,
    returning (id, scrubbed md5, per-pattern hit counts). Pure
    regexp_replace/regexp_count codegen — zero shuffles, linear scan,
    the shape a 100 TB pre-training scrub pass needs. The md5 (not the
    scrubbed text) keeps result sets small while still pinning the
    exact output bytes against the oracle."""
    scrubbed = F.col(text_col)
    counts = []
    for name, pat, rep in PII_PATTERNS:
        counts.append(F.regexp_count(F.col(text_col), F.lit(pat)).alias(f"n_{name}"))
        scrubbed = F.regexp_replace(scrubbed, pat, rep)
    return docs.select(
        F.col(id_col), *counts, F.md5(scrubbed.cast("binary")).alias("scrubbed_md5")
    )


# ---------------------------------------------------------------------------
# repetition quality signals (the Gopher-rules family: Rae et al. 2021,
# public "Scaling Language Models" appendix A — dup-line and top-n-gram
# fractions as corpus-quality filters)
# ---------------------------------------------------------------------------


def repetition_stats(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document repetition signals: duplicate-line fraction,
    duplicate-line character fraction, top-bigram occurrence fraction,
    mean word length.

    Scale shape: three keyed aggregations over exploded rows (lines,
    tokens, bigrams), each map-side combined, joined back on the doc id
    — per-doc state is bounded by the doc itself and nothing quadratic
    forms. Bigrams come from a lead window over token positions (the
    row-oriented formulation; array HOFs evaluate interpreted)."""
    from pyspark.sql import Window

    d = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))

    lines = d.select("id", F.explode(F.split("text", "\n")).alias("line"))
    per_line = lines.groupBy("id", "line").agg(F.count("*").alias("c"))
    line_stats = per_line.groupBy("id").agg(
        F.sum("c").alias("n_lines"),
        (1.0 - F.count("*") / F.sum("c")).alias("dup_line_fraction"),
        (
            F.coalesce(
                F.sum(F.when(F.col("c") > 1, F.col("c") * F.length("line"))), F.lit(0)
            )
            / F.sum(F.col("c") * F.length("line"))
        ).alias("dup_line_char_fraction"),
    )

    toks = d.select("id", F.posexplode(tokens("text")).alias("pos", "tok"))
    word_stats = toks.groupBy("id").agg(
        (F.sum(F.length("tok")).cast("double") / F.count("*")).alias("mean_word_len")
    )

    w = Window.partitionBy("id").orderBy("pos")
    bigrams = (
        toks.withColumn("nxt", F.lead("tok").over(w))
        .where(F.col("nxt").isNotNull())
        .select("id", F.concat_ws(" ", "tok", "nxt").alias("bg"))
    )
    bg_stats = (
        bigrams.groupBy("id", "bg")
        .agg(F.count("*").alias("c"))
        .groupBy("id")
        .agg((F.max("c").cast("double") / F.sum("c")).alias("top_bigram_fraction"))
    )

    return (
        line_stats.join(word_stats, "id")
        .join(bg_stats, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_lines",
            "dup_line_fraction",
            "dup_line_char_fraction",
            "top_bigram_fraction",
            "mean_word_len",
        )
    )


def collocations_lift(
    docs: DataFrame,
    *,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 20,
) -> DataFrame:
    """Corpus-level collocation mining: top-``k`` token bigrams by LIFT
    ``N·c(ab) / (c(a)·c(b))`` — the exact-rational form of PMI (PMI is
    its log; the ranking is identical and log-free arithmetic keeps the
    result engine-exact, see NOTES.md float-parity rules). Lift ≫ 1
    marks words that co-occur far above chance: multi-word entities,
    boilerplate phrases, tokenizer-merge candidates — the standard
    phrase-mining signal (Church & Hanks 1990 association ratios).

    ``min_count`` drops rare accidental pairs (the classic PMI-loves-
    hapax failure). Ties rank by bigram text for determinism.

    Shape at scale: bigram pairs come straight out of the per-doc token
    array (row-local transform, then one explode — no window, no
    per-doc shuffle); unigram and bigram counts are map-side-combined
    hash aggregates; the two count joins shuffle on the word key (the
    vocabulary, not the corpus); the final top-k is
    TakeOrderedAndProject, never a global sort. Counts stay exact
    longs; the one double expression is a deterministic IEEE
    multiply/divide both engines evaluate identically.
    """
    toks = tokens(text_col)
    pairs = F.expr(
        "transform(slice(_toks, 1, greatest(size(_toks) - 1, 0)), "
        "(t, i) -> struct(t as a, _toks[i + 1] as b))"
    )
    bg = (
        docs.select(toks.alias("_toks"))
        .select(F.explode(pairs).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    )
    ug = docs.select(F.explode(toks).alias("tok"))
    ugc = ug.groupBy("tok").agg(F.count("*").alias("c"))
    total = ug.agg(F.count("*").alias("n"))
    bgc = (
        bg.groupBy("a", "b")
        .agg(F.count("*").alias("cab"))
        .where(F.col("cab") >= min_count)
    )
    ca = ugc.select(F.col("tok").alias("a"), F.col("c").alias("ca"))
    cb = ugc.select(F.col("tok").alias("b"), F.col("c").alias("cb"))
    lift = (F.col("cab").cast("double") * F.col("n").cast("double")) / (
        F.col("ca").cast("double") * F.col("cb").cast("double")
    )
    return (
        bgc.join(ca, "a")
        .join(cb, "b")
        .crossJoin(F.broadcast(total))
        .select(
            F.concat_ws(" ", "a", "b").alias("bigram"),
            "cab",
            lift.alias("lift"),
        )
        .orderBy(F.col("lift").desc(), F.col("bigram").asc())
        .limit(k)
    )


def lm_quality_scores(
    docs: DataFrame,
    ref: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    scale: int = 6,
) -> DataFrame:
    """CCNet-style language-model quality filtering, exact-arithmetic
    edition: score every document by the mean conditional probability
    of its token bigrams under counts trained on ``ref`` (the curated
    slice). Documents whose text looks like the reference corpus score
    high; gibberish, boilerplate, and wrong-language text score low —
    the classic model-based quality gate in LLM data pipelines
    (Wenzek et al., CCNet, LREC 2020).

    Engine-exactness: the usual formulation (mean log-prob /
    perplexity) sums libm logs, whose last ulp differs across engines
    and whose sum is order-dependent. We instead use the mean SCALED
    probability: p = (c(w1,w2) * 10^scale) DIV c(w1) — integer floor
    division, summed as longs (order-independent), divided once at the
    end. Monotone quality signal, bit-identical on any engine or
    partitioning. Unseen contexts and unseen bigrams score 0.

    Scale shape: the count model is one hash agg over the reference
    slice; scoring is two equi-joins keyed on tokens (broadcast when
    the model is small, plain shuffled hash joins otherwise) and one
    per-doc agg. No Python anywhere.

    Returns (id, n_bigrams, score_sum, lm_score); documents with fewer
    than two tokens have no bigrams and drop out (same on both
    engines).
    """
    m = 10**scale

    def bigrams(df: DataFrame, *keep: str) -> DataFrame:
        # The token array MUST materialize in its own projection before
        # the pairing lambda indexes it: split() inlined into the
        # transform re-ran per ELEMENT (two O(|text|) splits per
        # bigram — quadratic per doc, the winnow_fingerprints lesson;
        # measured 6.3 s -> 1.0 s at sf0.1, r15 opt). Indexing the
        # bound column is O(1); rows and order are identical.
        staged = df.select(*keep, tokens(F.col(text_col)).alias("__lm_toks"))
        pairs = F.when(
            F.size(F.col("__lm_toks")) >= 2,
            F.expr(
                # Spark arrays are 0-indexed in bracket syntax; the
                # sequence guard avoids the descending-sequence gotcha
                # for 1-token docs
                "transform(sequence(0, size(__lm_toks) - 2),"
                " i -> struct(__lm_toks[i] AS w1, __lm_toks[i+1] AS w2))"
            ),
        ).otherwise(F.array())
        return staged.select(*keep, F.explode(pairs).alias("b")).select(
            *keep, F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
        )

    ref_bi = bigrams(ref.select(text_col))
    c12 = ref_bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = ref_bi.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))

    doc_bi = bigrams(
        docs.select(F.col(id_col).alias("id"), text_col), "id"
    )
    p = F.when(
        F.col("c12").isNotNull() & F.col("c1").isNotNull(),
        F.expr(f"(c12 * {m}) DIV c1"),
    ).otherwise(F.lit(0).cast("long"))
    scored = (
        doc_bi.join(c12, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .select("id", p.alias("p"))
    )
    return scored.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("p").alias("score_sum"),
        (F.sum("p").cast("double") / F.count(F.lit(1))).alias("lm_score"),
    )


# --- hash-trick linear classifier inference (round 9) -----------------------

LINEAR_SCORE_FEATURES = 1024  # feature-hash buckets (2^10)
_WEIGHT_MULT = 2654435761  # Knuth multiplicative constant
_WEIGHT_MOD = 2001  # integer weights in [-1000, 1000]


def hashed_feature(tok):
    """Engine-invariant feature hash: low 32 bits of md5(token), mod
    the bucket count. Both engines parse the same 8 hex chars, so the
    bucketing is bit-identical (no Murmur/xxhash — every engine's
    builtin hash() differs)."""
    return F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long") % F.lit(
        LINEAR_SCORE_FEATURES
    )


def demo_weight(fidx):
    """Deterministic integer stand-in for a LEARNED weight vector:
    w_j = (j * 2654435761 + 12345) % 2001 - 1000, an integer in
    [-1000, 1000]. Products stay < 2^63, so both engines compute it
    exactly; a real deployment passes trained weights instead."""
    return (fidx * F.lit(_WEIGHT_MULT) + F.lit(12345)) % F.lit(_WEIGHT_MOD) - F.lit(
        1000
    )


def linear_quality_score(
    docs: DataFrame,
    weights: DataFrame | None = None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """fastText-style linear classifier INFERENCE over the corpus — the
    model-based quality gate (CCNet/DCLM recipe: train a small linear
    scorer offline, score 100 TB with it online). Features are hashed
    token buckets (the hashing trick); the score is the mean feature
    weight, i.e. a bag-of-words dot product / n_tokens.

    Two physical shapes, one semantics:

    - ``weights=None`` (the deterministic ``demo_weight`` vector): the
      weight lookup is pure arithmetic on the hash, so scoring is a
      ZERO-SHUFFLE codegen projection via an array fold — the
      tokenize_bpe shape: at 100 TB every row is scored where it
      already sits, nothing moves.
    - ``weights`` given as a (feature, weight:int) frame (a trained
      model, <= LINEAR_SCORE_FEATURES rows): explode -> BROADCAST hash
      join -> per-doc sum. One corpus-keyed agg shuffle; the model
      rides the broadcast.

    Output (id, n_toks, dot_scaled, lin_score): integer token count
    and dot product (order-independent exact sums), score = one double
    division — the scaled-long parity discipline throughout.
    """
    # \x0B is whitespace to Java's \s but not RE2's (the BPE lesson,
    # operators/bpe.py): normalize it so the token split — and
    # therefore every score — is engine-invariant
    w = tokens(F.replace(F.col(text_col), F.lit("\x0b"), F.lit(" ")))
    w = F.filter(w, lambda x: x != "")
    base = docs.select(F.col(id_col).alias("id"), w.alias("toks"))
    if weights is None:
        dot = F.aggregate(
            F.transform(F.col("toks"), lambda t: demo_weight(hashed_feature(t))),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        return base.select(
            "id",
            F.size("toks").cast("long").alias("n_toks"),
            dot.alias("dot_scaled"),
            F.when(
                F.size("toks") > 0,
                dot.cast("double")
                / F.lit(float(_WEIGHT_MOD // 2))
                / F.size("toks").cast("double"),
            ).alias("lin_score"),
        )
    exploded = base.select("id", F.explode("toks").alias("tok")).select(
        "id", hashed_feature(F.col("tok")).alias("feature")
    )
    dots = (
        exploded.join(F.broadcast(weights), "feature", "left")
        .select("id", F.coalesce(F.col("weight"), F.lit(0)).cast("long").alias("w"))
        .groupBy("id")
        .agg(F.sum("w").alias("dot"))
    )
    # left join back onto the doc universe: zero-token docs emit
    # (0, 0, NULL) exactly like the fold path — both paths are total
    return (
        base.select("id", F.size("toks").cast("long").alias("n_toks"))
        .join(dots, "id", "left")
        .select(
            "id",
            "n_toks",
            F.coalesce(F.col("dot"), F.lit(0).cast("long")).alias("dot_scaled"),
            F.when(
                F.col("n_toks") > 0,
                F.coalesce(F.col("dot"), F.lit(0).cast("long")).cast("double")
                / F.lit(float(_WEIGHT_MOD // 2))
                / F.col("n_toks").cast("double"),
            ).alias("lin_score"),
        )
    )
