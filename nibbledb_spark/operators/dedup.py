"""Deduplication operators (SURVEY.md §2 Part C): exact, MinHash+LSH,
SimHash, n-gram Jaccard.

Scale design (the 100 TB stance):

- Exact dedup hashes the dedup key and keeps one winner per hash group —
  a single shuffle on a short hash, never on the full payload.
- Near-dup never goes all-pairs: MinHash signatures are hash
  aggregates over (id, shingle) rows (codegen'd, no Python), LSH
  banding turns similarity search into an equi-join on (band, bucket),
  and the exact Jaccard verify runs only on candidate pairs. Cost is
  O(docs) + O(candidates), not O(docs²).
- All hashing is md5-based so results are engine-portable and
  deterministic (the DuckDB oracle computes the identical signatures).

The near-dup pair algorithm is written once, as SQL text composed by
``session.sql_over`` into one parse and one analysis per plan (classic
PySpark re-analyzes the whole tree at every DataFrame call). Two
definitions carry it: the shared-key overlap step
(:func:`_overlap_sql`: per-id sizes, the ``id1 < id2`` self equi-join
on a key, sizes joined back) and the LSH probe (:func:`_probe_sql`:
probe-side bands joined to a persisted index). ``ngram_jaccard_pairs``,
``ngram_containment_pairs`` and ``winnow_near_dup_pairs`` add only their
score and filter to the overlap step; ``lsh_query_near_dups`` runs the
probe; the crawl gate ``lsh_dedup_gate`` unions the probe statement
with ``ngram_jaccard_pairs``' pair statement inside the crawl gates'
shared sink (``streaming.gate.gated_sink``). The Jaccard ratio
(:func:`_jaccard_sql`), the band query (:func:`_bands_sql`) and the
stop-key cap (:func:`_drop_hot_keys`) are likewise stated once.
"""

from __future__ import annotations

import re as _re
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nibbledb_spark.operators.text import tokens

DEFAULT_SHINGLE_N = 3
DEFAULT_NUM_HASHES = 8
DEFAULT_BAND_SIZE = 2  # 8 hashes / 2 => 4 bands; catches jaccard >~ 0.5


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, key_cols: Sequence[str], id_col: str = "doc_id"
) -> DataFrame:
    """Keep the min-id row per duplicate group. Group key is the md5 of
    the concatenated key columns — the shuffle moves (hash, id) pairs,
    not payloads."""
    key = F.md5(F.concat_ws("\x1f", *key_cols).cast("binary"))
    return (
        df.groupBy(key.alias("dup_key"))
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32


def simhash_docs(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Fingerprint every document (see :func:`simhash_rows`)."""
    return simhash_rows(docs, id_col=id_col, text_col=text_col)


def simhash_rows(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Row-oriented SimHash: explode tokens -> one hash aggregate with
    ``bits`` conditional-sum votes -> sign bits. Every operator stays in
    whole-stage codegen (the interpreted F.aggregate HOF formulation
    measured ~20x slower at sf0.1 — NOTES.md). Token-less docs keep
    fingerprint 0 via the left join (explode drops them)."""
    t = docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    h = t.select(
        id_col,
        F.conv(F.substring(F.md5(F.col("tok").cast("binary")), 1, 8), 16, 10)
        .cast("long")
        .alias("h"),
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    fp = F.lit(0).cast("long")
    for b in range(bits):
        fp = fp + F.when(F.col(f"v{b}") > 0, F.lit(2**b).cast("long")).otherwise(
            F.lit(0)
        )
    sigs = h.groupBy(id_col).agg(*votes).select(id_col, fp.alias("simhash"))
    return (
        docs.select(id_col)
        .join(sigs, id_col, "left")
        .select(id_col, F.coalesce("simhash", F.lit(0).cast("long")).alias("simhash"))
    )


# ---------------------------------------------------------------------------
# shingling + MinHash + LSH (row-oriented)
# ---------------------------------------------------------------------------
# Spark's array higher-order functions (transform/aggregate lambdas) are
# evaluated INTERPRETED, outside whole-stage codegen — measured ~20x slower
# than the equivalent row pipeline at sf0.1. The row formulation below
# (posexplode -> lead window -> hash aggregate) keeps every operator inside
# codegen; it is the one MinHash-LSH definition.


def shingle_rows(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE_N,
) -> DataFrame:
    """Distinct (id, shingle) rows via posexplode + lead windows."""
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
    )
    # window + predicate + concat built as SQL text: one parser pass
    # each instead of ~6 py4j driver round trips per lead column
    # (identical WindowExpression tree — default ASC NULLS FIRST on
    # both paths; r15 opt, plan-construction profile)
    lead_cols = [
        f"lead(tok, {j}) OVER (PARTITION BY id ORDER BY pos) AS t{j}"
        for j in range(1, n)
    ]
    with_leads = toks.selectExpr("id", "tok", *lead_cols)
    not_null = " AND ".join(f"t{j} IS NOT NULL" for j in range(1, n))
    shingle = ", ".join(["tok"] + [f"t{j}" for j in range(1, n)])
    return (
        with_leads.where(not_null)
        .selectExpr("id", f"concat_ws(' ', {shingle}) AS shingle")
        .distinct()
    )


def _minhash_agg_sql(num_hashes: int) -> list[str]:
    """One min-md5 aggregate expression per hash slot (shared SQL text
    source for the Column path and the fused-SQL path)."""
    return [
        f"min(md5(cast(concat('{j}:', shingle) as binary))) AS h{j}"
        for j in range(num_hashes)
    ]


def minhash_rows(
    sh_rows: DataFrame, num_hashes: int = DEFAULT_NUM_HASHES
) -> DataFrame:
    """(id, h0..h{k-1}) wide signature via hash aggregation over shingle
    rows — one shuffle on id, codegen'd md5s."""
    aggs = [F.expr(s) for s in _minhash_agg_sql(num_hashes)]
    return sh_rows.groupBy("id").agg(*aggs)


def _bands_sql(rows: str, num_hashes: int, band_size: int) -> str:
    """The LSH band query: (id, band, bucket) rows from the MinHash
    signature of each id in the (id, shingle) relation ``rows``."""
    hashes = ", ".join(_minhash_agg_sql(num_hashes))
    structs = ", ".join(
        "struct({b} AS band, md5(cast(concat_ws('|', {cols}) as binary)) AS bucket)".format(
            b=b,
            cols=", ".join(f"h{b * band_size + i}" for i in range(band_size)),
        )
        for b in range(num_hashes // band_size)
    )
    return f"""SELECT id, bb.band, bb.bucket
FROM (SELECT id, explode(array({structs})) AS bb
      FROM (SELECT id, {hashes} FROM {rows} GROUP BY id))"""


def _band_rows(sh: DataFrame, num_hashes: int, band_size: int) -> DataFrame:
    """(id, band, bucket) LSH band rows from shingle rows: the banded
    signature table the persisted index materializes."""
    from nibbledb_spark.session import sql_over

    return sql_over(
        sh.sparkSession, _bands_sql("{sh}", num_hashes, band_size), sh=sh
    )


def _jaccard_sql(sz1: str, sz2: str) -> str:
    """Exact Jaccard of two sets from their intersection count ``inter``
    and their sizes: integer counts, one deterministic double divide."""
    return f"cast(inter AS double) / ({sz1} + {sz2} - inter)"


def _overlap_sql(rows: str, key: str) -> str:
    """The shared-key overlap step over the (id, ``key``) relation
    ``rows`` (one row per distinct (id, key)): (id1, id2, inter, sz1,
    sz2) for every id pair with id1 < id2 sharing at least one key.
    The candidates ARE the key equi-join — never an all-pairs product
    — and the intersection count falls out of the same join; the
    per-id row counts join back as the set sizes."""
    return f"""
WITH sizes AS (SELECT id, count(*) AS sz FROM {rows} GROUP BY id),
inter AS (
  SELECT id1, id2, count(*) AS inter
  FROM (SELECT id AS id1, {key} AS s FROM {rows}) s1
  JOIN (SELECT id AS id2, {key} AS s FROM {rows}) s2 USING (s)
  WHERE id1 < id2
  GROUP BY id1, id2)
SELECT id1, id2, inter, sz1, sz2
FROM inter
JOIN (SELECT id AS id1, sz AS sz1 FROM sizes) z1 USING (id1)
JOIN (SELECT id AS id2, sz AS sz2 FROM sizes) z2 USING (id2)"""


def _drop_hot_keys(rows: DataFrame, key: str, max_doc_freq: int) -> DataFrame:
    """The stop-key cap: drop every ``key`` present in more than
    ``max_doc_freq`` rows of the (id, ``key``) table ``rows`` (rows are
    distinct per (id, key), so that is its document frequency). The hot
    set is by construction the SMALL side — at corpus scale it is the
    boilerplate keys, thousands not billions — so: partial-agg (one row
    per distinct key reaches the shuffle) then broadcast ANTI join. The
    big table itself never reshuffles for the cap; a count-over-window
    formulation was measured 2x slower end-to-end in clean_corpus (it
    shuffles every ROW). Changes semantics from exact to filtered-exact:
    sizes and intersections both exclude the hot keys."""
    hot = (
        rows.groupBy(key)
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > max_doc_freq)
        .select(key)
    )
    return rows.join(F.broadcast(hot), key, "left_anti")


def near_dup_pairs_minhash_fast(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    shingle_n: int = DEFAULT_SHINGLE_N,
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
) -> DataFrame:
    """Row-oriented MinHash-LSH near-dup pipeline: candidates from
    banding, exact Jaccard by counting shared shingle ROWS per candidate
    pair (an equi-join, never an array intersect of re-built sets).

    The shingle table feeds four plan branches (signatures, sizes, and
    both sides of the intersection join); Spark recomputes unshared
    branches, so it is persisted for the life of this plan — the in-plan
    analogue of materializing the shingle table once per corpus, which
    is what a 100 TB dedup run does anyway.

    The intersection joins the shingle rows onto the band CANDIDATES
    first (not the shared-shingle join of :func:`_overlap_sql`): that
    join order is what keeps LSH sub-quadratic."""
    sh = shingle_rows(docs, id_col=id_col, text_col=text_col, n=shingle_n).persist()
    q = f"""
WITH bands AS ({_bands_sql("{sh}", num_hashes, band_size)}),
cands AS (SELECT DISTINCT a.id AS id1, b.id AS id2
          FROM bands a JOIN bands b USING (band, bucket) WHERE a.id < b.id),
sizes AS (SELECT id, count(*) AS sz FROM {{sh}} GROUP BY id),
inter AS (
  SELECT id1, id2, count(*) AS inter
  FROM cands
  JOIN (SELECT id AS id1, shingle AS s FROM {{sh}}) s1 USING (id1)
  JOIN (SELECT id AS id2, shingle AS s FROM {{sh}}) s2 USING (id2, s)
  GROUP BY id1, id2)
SELECT id1, id2, jaccard FROM (
  SELECT id1, id2, {_jaccard_sql("z1.sz1", "z2.sz2")} AS jaccard
  FROM inter
  JOIN (SELECT id AS id1, sz AS sz1 FROM sizes) z1 USING (id1)
  JOIN (SELECT id AS id2, sz AS sz2 FROM sizes) z2 USING (id2)
) WHERE jaccard >= {threshold!r}
"""
    from nibbledb_spark.session import sql_over

    return sql_over(docs.sparkSession, q, sh=sh)


# --- persisted incremental LSH index ----------------------------------------
# The crawl-dedup workflow at 100 TB: the corpus's shingle + banded
# signature tables are computed ONCE and persisted; each incoming batch
# (a) queries its near-dups against the index without recomputing a
# byte of corpus-side state, then (b) appends its own rows so the next
# batch sees it. The same frozen-parameter incremental pattern as the
# persisted IVF/IVF+PQ ANN indexes (similarity.py ivf_index_add).
#
# Publish protocol (round-10): every reader goes through manifest.json —
# the atomically-swapped list of live part files per table. An add
# stages its Spark writes, renames the part files into the live table
# dirs, then swaps the manifest ONCE; a crash at ANY point leaves the
# previous index state exactly visible (renamed-but-unmanifested files
# are inert junk: reported by validate_lsh_index, GC'd by the next
# successful add). Single writer at a time — the crawl-loop contract;
# two concurrent adds would lose one writer's manifest update. On an
# object store the manifest swap is the same one-key CAS/put commit.

_LSH_TABLES = ("bands", "shingles", "sizes")
_LSH_MANIFEST = "manifest.json"


def _lsh_part_files(table_dir: str) -> list[str]:
    import os as _os

    try:
        return sorted(
            fn
            for fn in _os.listdir(table_dir)
            if fn.startswith("part-") and not fn.endswith(".crc")
        )
    except FileNotFoundError:
        return []


def _lsh_manifest_read(path: str) -> dict[str, list[str]] | None:
    import json as _json
    import os as _os

    try:
        with open(_os.path.join(path, _LSH_MANIFEST)) as f:
            return _json.load(f)
    except FileNotFoundError:
        return None


def _lsh_manifest_write(path: str, manifest: dict[str, list[str]]) -> None:
    import json as _json
    import os as _os
    import uuid as _uuid

    tmp = _os.path.join(path, f".{_LSH_MANIFEST}.{_uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as f:
        _json.dump(manifest, f)
    _os.replace(tmp, _os.path.join(path, _LSH_MANIFEST))  # atomic swap


def _lsh_read(spark, path: str, table: str) -> DataFrame:
    """One index table as READERS must see it: through the manifest,
    so part files a torn add renamed in but never published are
    invisible. Pre-manifest (round-8 vintage) indexes fall back to the
    directory listing — their every on-disk file is live by
    definition (the old publish appended no file before its rename)."""
    import os as _os

    m = _lsh_manifest_read(path)
    if m is None:
        return spark.read.parquet(_os.path.join(path, table))
    if not m[table]:
        # An empty file list would make spark.read.parquet() raise the
        # cryptic "path not specified"; it can only mean a corrupt or
        # empty-corpus index (build_lsh_index rejects empty corpora).
        raise ValueError(
            f"LSH index at {path} lists no part files for table "
            f"{table!r} — corrupt manifest or pre-guard empty-corpus "
            f"build; rebuild the index"
        )
    return spark.read.parquet(*[_os.path.join(path, table, fn) for fn in m[table]])


def _lsh_write_tables(
    sh: DataFrame, out_dir: str, k_out: int, *, num_hashes: int, band_size: int
) -> None:
    """Write the three LSH index tables (bands / shingles / sizes) under
    ``out_dir``, OVERLAPPED from a small thread pool: the three jobs are
    independent reads of the same already-materialized shingle cache
    (callers count() it first), so the later jobs' tasks back-fill the
    earlier jobs' straggler tails instead of idling the cluster between
    three sequential ~single-digit-task writes (guide-§2.6 overlap;
    measured ~0.3s/publish at sf0.1 and strictly better on a cluster).
    Raises the first failure after all three settle (the callers' except
    path removes the whole staging dir, so partial output is moot)."""
    import os as _os
    from concurrent.futures import ThreadPoolExecutor

    def _bands() -> None:
        _band_rows(sh, num_hashes, band_size).coalesce(k_out).write.mode(
            "errorifexists"
        ).parquet(_os.path.join(out_dir, "bands"))

    def _shingles() -> None:
        sh.coalesce(k_out).write.mode("errorifexists").parquet(
            _os.path.join(out_dir, "shingles")
        )

    def _sizes() -> None:
        sh.groupBy("id").agg(F.count("*").alias("sz")).coalesce(k_out).write.mode(
            "errorifexists"
        ).parquet(_os.path.join(out_dir, "sizes"))

    with ThreadPoolExecutor(max_workers=3) as pool:
        futures = [pool.submit(f) for f in (_bands, _shingles, _sizes)]
        errs = [f.exception() for f in futures]
    for e in errs:
        if e is not None:
            raise e


def _lsh_out_parts(spark, n_shingle_rows: int) -> int:
    """Output part-file count for the LSH index tables, derived from
    DATA VOLUME (guide-§6 file sizing), not the shuffle-partition
    count: a crawl-batch add at 32 shuffle partitions was writing 32
    tiny part files PER TABLE PER BATCH (~100 files after three
    batches; every later probe re-lists and re-opens all of them —
    measured as the bulk of the add+probe cost at sf0.1, r15 opt).
    Sized at ~2M shingle rows (~128 MB raw) per file, floored at 1 and
    capped at the session's parallelism so a giant build still writes
    in parallel."""
    rows_per_file = 2_000_000
    cap = spark.sparkContext.defaultParallelism
    return max(1, min(cap, (n_shingle_rows + rows_per_file - 1) // rows_per_file))


def build_lsh_index(
    docs: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = DEFAULT_SHINGLE_N,
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
) -> None:
    """Persist the LSH dedup index for ``docs``: band rows (id, band,
    bucket), shingle rows (id, shingle) for the exact-Jaccard verify
    stage, per-id shingle counts, and the frozen parameters. All three
    tables are plain parquet — at cluster scale you would bucket bands
    by (band, bucket) and shingles by id so probe joins co-locate, but
    the table CONTENTS are already the scale design: signatures are
    never recomputed, and query cost tracks the probe batch.

    The build is ATOMIC at the directory level: everything (three
    tables + meta.json) is written into a temp sibling dir and
    rename-published to ``path`` only when complete. A crashed build
    therefore leaves no half-index behind to poison an errorifexists
    retry — the temp dir is removed on failure, and ``path`` either
    does not exist or is a complete index. (On an object store the
    same publish step is a manifest/metastore commit.)"""
    import json as _json
    import os as _os
    import shutil as _shutil
    import uuid as _uuid

    if _os.path.exists(path):
        raise FileExistsError(f"LSH index already exists: {path}")
    tmp = f"{path}.inprogress-{_uuid.uuid4().hex[:8]}"
    sh = shingle_rows(docs, id_col=id_col, text_col=text_col, n=shingle_n).persist()
    # An empty shingle table (empty corpus, or every doc shorter than
    # shingle_n) would publish tables with ZERO part files, and the
    # manifest's empty file list breaks every reader. Reject up front
    # with a usable message. The full count (not limit(1)) warms the
    # whole persist — the three writes below need every row anyway —
    # and sizes the output file count.
    n_sh = sh.count()
    if not n_sh:
        sh.unpersist()
        raise ValueError(
            "build_lsh_index: corpus yields no shingles (empty corpus or "
            f"all documents shorter than shingle_n={shingle_n}) — nothing "
            "to index"
        )
    k_out = _lsh_out_parts(docs.sparkSession, n_sh)
    try:
        try:
            _lsh_write_tables(
                sh, tmp, k_out, num_hashes=num_hashes, band_size=band_size
            )
            with open(_os.path.join(tmp, "meta.json"), "w") as f:
                _json.dump(
                    {
                        "shingle_n": shingle_n,
                        "num_hashes": num_hashes,
                        "band_size": band_size,
                    },
                    f,
                )
            _lsh_manifest_write(
                tmp,
                {t: _lsh_part_files(_os.path.join(tmp, t)) for t in _LSH_TABLES},
            )
            _os.rename(tmp, path)
        except BaseException:
            _shutil.rmtree(tmp, ignore_errors=True)
            raise
    finally:
        sh.unpersist()


def _lsh_index_meta(path: str) -> dict:
    import json as _json
    import os as _os

    with open(_os.path.join(path, "meta.json")) as f:
        return _json.load(f)


def lsh_index_add(
    spark,
    path: str,
    new_docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    on_duplicate: str = "error",
    shingles: DataFrame | None = None,
) -> None:
    """Incrementally index ``new_docs`` with the index's FROZEN
    parameters (shingle_n / num_hashes / band_size fixed at build, so
    old and new signatures stay comparable — the ivf_index_add
    contract). Appends only the new rows; corpus-side state is never
    recomputed. Equivalent to ``lsh_index_add_many(..., [new_docs])``
    — see there for the enforcement and crash-safety contract.
    ``shingles``: optional precomputed shingle rows of a SUPERSET of
    ``new_docs`` at the index's shingle_n (see lsh_index_add_many)."""
    lsh_index_add_many(
        spark,
        path,
        [new_docs],
        id_col=id_col,
        text_col=text_col,
        on_duplicate=on_duplicate,
        shingles=shingles,
    )


def lsh_index_add_many(
    spark,
    path: str,
    batches: list[DataFrame],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    on_duplicate: str = "error",
    shingles: DataFrame | None = None,
) -> None:
    """Index several crawl batches with ONE publish (round-9 verdict
    #4): a loop calling :func:`lsh_index_add` per batch pays a manifest
    swap — and before round 10, a rename fan-out window — per call;
    here the batches' band/shingle/size rows are computed together and
    the index state advances exactly once.

    Semantics match sequential per-batch adds: ids are anti-checked
    against the persisted sizes table, and with several batches also
    against EACH OTHER. ``on_duplicate='error'`` raises naming
    offenders (already-indexed ids or ids appearing in more than one
    batch); ``'skip'`` drops already-indexed ids and keeps a
    cross-batch duplicate's FIRST batch's rows — what the sequential
    loop would have done. Either way a re-add can never double shingle
    rows and silently skew Jaccard on later queries.

    Crash safety: the expensive Spark jobs write to a staging dir (the
    live tables are never written by a job); publish renames the new
    part files into the live table dirs and then swaps manifest.json
    ATOMICALLY. Readers resolve every table through the manifest, so a
    crash at any point — including between renames — leaves the
    previous index state exactly visible; renamed-but-unmanifested
    files are inert junk that ``validate_lsh_index`` reports and the
    next successful add garbage-collects. Single writer at a time (the
    crawl-loop contract)."""
    import os as _os
    import shutil as _shutil
    import uuid as _uuid

    if on_duplicate not in ("error", "skip"):
        raise ValueError(f"on_duplicate must be 'error' or 'skip': {on_duplicate}")
    batches = list(batches)
    if not batches:
        return
    meta = _lsh_index_meta(path)
    # upgrade a pre-manifest index first: its on-disk listing is all
    # live by definition, and the swap below must have a base to extend
    manifest = _lsh_manifest_read(path)
    if manifest is None:
        manifest = {
            t: _lsh_part_files(_os.path.join(path, t)) for t in _LSH_TABLES
        }
        _lsh_manifest_write(path, manifest)
    # GC junk a torn publish left behind (readers never saw it; the
    # single-writer contract makes removal safe)
    for t in _LSH_TABLES:
        live = set(manifest[t])
        for fn in _lsh_part_files(_os.path.join(path, t)):
            if fn not in live:
                _os.remove(_os.path.join(path, t, fn))

    docs = None
    for i, b in enumerate(batches):
        t = b.select(
            F.col(id_col).alias(id_col),
            F.col(text_col).alias(text_col),
            F.lit(i).alias("__batch"),
        )
        docs = t if docs is None else docs.unionByName(t)
    if len(batches) > 1:
        spans = docs.groupBy(id_col).agg(
            F.min("__batch").alias("__first"),
            F.count_distinct("__batch").alias("__nb"),
        )
        if on_duplicate == "error":
            offenders = [
                r[id_col] for r in spans.where("__nb > 1").limit(5).collect()
            ]
            if offenders:
                raise ValueError(
                    f"ids appear in more than one batch (re-add would skew "
                    f"Jaccard): {offenders}; pass on_duplicate='skip' to "
                    f"keep each id's first batch only"
                )
        else:
            docs = docs.join(
                spans.select(id_col, "__first"), id_col
            ).where(F.col("__batch") == F.col("__first"))
    docs = docs.drop("__batch")

    if shingles is not None:
        # Precomputed shingle rows of a SUPERSET of the docs (the crawl
        # gate shingles each batch once and the add's docs are that
        # batch's survivors): semi-filter to the add's ids instead of
        # re-shingling the text — identical rows, shingle_rows is a
        # deterministic per-row projection. Single-batch only: the
        # cross-batch dedup above rewrites ``docs`` in ways a shared
        # shingle table cannot mirror.
        if len(batches) > 1:
            raise ValueError(
                "lsh_index_add_many: shingles= is single-batch only"
            )
        sh = shingles.join(
            docs.select(F.col(id_col).alias("id")).distinct(), "id", "semi"
        )
    else:
        sh = shingle_rows(
            docs, id_col=id_col, text_col=text_col, n=meta["shingle_n"]
        )
    staging = _os.path.join(path, f".staging-{_uuid.uuid4().hex[:8]}")
    try:
        indexed = _lsh_read(spark, path, "sizes").select("id")
        if on_duplicate == "error":
            sh = sh.persist()
            dups = sh.select("id").distinct().join(indexed, "id", "semi")
            offenders = [r["id"] for r in dups.limit(5).collect()]
            if offenders:
                raise ValueError(
                    f"ids already indexed (re-add would skew Jaccard): "
                    f"{offenders}; pass on_duplicate='skip' to drop them"
                )
        else:
            # 'skip' drops already-indexed ids — ONE anti join on the
            # lazy chain (the distinct+semi probe set exists only to
            # NAME offenders in the error path), persisted once; the
            # old shape persisted the pre-filter table too and then
            # immediately superseded it (r15 opt).
            sh = sh.join(indexed, "id", "left_anti").persist()
        # Size the staged part files by volume, not shuffle parallelism
        # (see _lsh_out_parts); the count doubles as the persist warm.
        k_out = _lsh_out_parts(spark, sh.count())
        _lsh_write_tables(
            sh,
            staging,
            k_out,
            num_hashes=meta["num_hashes"],
            band_size=meta["band_size"],
        )
        new_files = {t: _lsh_part_files(_os.path.join(staging, t)) for t in _LSH_TABLES}
        for t in _LSH_TABLES:
            for fn in new_files[t]:
                _os.rename(
                    _os.path.join(staging, t, fn), _os.path.join(path, t, fn)
                )
        # THE publish: one atomic swap makes every new file live at once
        _lsh_manifest_write(
            path, {t: manifest[t] + new_files[t] for t in _LSH_TABLES}
        )
        _shutil.rmtree(staging, ignore_errors=True)
    except BaseException:
        # staging (minus any renamed-but-unmanifested files, which
        # readers ignore and the next add GCs) is junk
        _shutil.rmtree(staging, ignore_errors=True)
        raise
    finally:
        sh.unpersist()


def validate_lsh_index(spark, path: str) -> None:
    """Consistency check for a persisted LSH index, two layers:

    1. The three tables AS READERS SEE THEM (through the manifest)
       must agree on their id sets. Equal distinct-id counts per table
       and an equal three-way-union count imply set equality — one
       small job, no full joins. Disagreement means a corrupted or
       hand-edited index; raises RuntimeError with the cardinalities.
    2. Part files present on disk but absent from the manifest — the
       footprint of a torn add publish. Readers never see them and the
       next add garbage-collects them, but they are named here so an
       operator can tell "torn publish, state consistent" from (1)'s
       real corruption. Raises RuntimeError listing the junk.

    Pre-manifest (round-8 vintage) indexes check only (1), over the
    raw directory listings readers of that vintage use."""
    import os as _os

    counts = {}
    frames = []
    for sub in _LSH_TABLES:
        ids = _lsh_read(spark, path, sub).select("id").distinct()
        frames.append(ids)
        counts[sub] = ids.count()
    union_n = frames[0].union(frames[1]).union(frames[2]).distinct().count()
    if len(set(counts.values())) != 1 or union_n != counts["sizes"]:
        raise RuntimeError(
            f"LSH index {path} is inconsistent (partial add publish?): "
            f"distinct ids {counts}, union {union_n}. Recover by removing "
            f"the offending ids' rows or rebuilding the index."
        )
    m = _lsh_manifest_read(path)
    if m is not None:
        junk = {
            t: sorted(set(_lsh_part_files(_os.path.join(path, t))) - set(m[t]))
            for t in _LSH_TABLES
        }
        junk = {t: v for t, v in junk.items() if v}
        if junk:
            raise RuntimeError(
                f"LSH index {path} has unmanifested part files from a torn "
                f"add publish (readers ignore them; the next add "
                f"garbage-collects): {junk}"
            )


class LshIndex:
    """Open probe-many handle over a persisted LSH index (round 10):
    the three index tables resolved through the manifest ONCE and
    (by default) persisted in executor memory, so a crawl loop paying
    N probes reads the index from disk zero more times — the Spark
    analogue of the DuckDB oracle's materialized temp tables, and the
    fix for probe latency being dominated by parquet re-reads.

    The handle pins a SNAPSHOT: the manifest's file list is captured at
    open, so probes against the handle do not see later
    ``lsh_index_add`` publishes until the caller re-opens — the
    isolation a long-running probe loop wants anyway. ``close()``
    (or the context-manager exit) unpersists the cached tables."""

    def __init__(self, spark, path, meta, frames, cached):
        self.spark = spark
        self.path = path
        self.meta = meta
        self.bands, self.shingles, self.sizes = frames
        self._cached = cached

    def close(self) -> None:
        if self._cached:
            for f in (self.bands, self.shingles, self.sizes):
                f.unpersist()
            self._cached = False

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()


def lsh_bucketize_bands(
    spark, path: str, table: str, *, n_buckets: int = 32
) -> None:
    """Publish the persisted index's band table as a Spark BUCKETED
    table (``bucketBy(n_buckets, band, bucket)``, sorted the same) —
    the object-store-scale seam for the probe join: a probe keyed on
    (band, bucket) against the bucketed table needs NO corpus-side
    Exchange (and no corpus-side Sort) — only the small query side
    shuffles, into ``n_buckets`` partitions. That is the co-located
    join every crawl-loop probe wants once the index outgrows executor
    memory: the :class:`LshIndex` persist handle trades memory for the
    re-read, this trades a one-time rewrite for the shuffle itself.

    Reads the manifest-pinned snapshot of ``path``'s bands, so the
    published table is consistent even while adds race. Size
    ``n_buckets`` so each bucket file stays in the hundreds of MB at
    the target corpus (bands rows ~ num_bands x corpus)."""
    bands = _lsh_read(spark, path, "bands")
    (
        bands.write.mode("errorifexists")
        .bucketBy(n_buckets, "band", "bucket")
        .sortBy("band", "bucket")
        .saveAsTable(table)
    )


def lsh_open_index(
    spark, path: str, *, cache: bool = True, bands_table: str | None = None
) -> LshIndex:
    """Open ``path`` for probe-many querying — see :class:`LshIndex`.
    ``cache=False`` gives the snapshot pin without executor memory
    (each probe still re-reads parquet). ``bands_table`` swaps the
    band frame for a :func:`lsh_bucketize_bands` table so the probe's
    band join runs corpus-shuffle-free; the bucketed frame is never
    persisted (caching would hide the bucketed scan's partitioning
    win — it IS the disk-resident path)."""
    import os as _os

    meta = _lsh_index_meta(path)
    # Pin the snapshot by EXPLICIT file list, even for a pre-manifest
    # (round-8 vintage) index: a bare directory-scan frame resolves
    # files at action time, so a later add would leak into the open
    # handle — and a probe racing the add's rename window could read
    # torn table state. The legacy listing is all-live by definition
    # (the old publish appended no file before its rename).
    m = _lsh_manifest_read(path)
    if m is None:
        m = {t: _lsh_part_files(_os.path.join(path, t)) for t in _LSH_TABLES}
    bands_i = _LSH_TABLES.index("bands")
    frames = [
        spark.table(bands_table)
        if (bands_table is not None and i == bands_i)
        # skip even CONSTRUCTING the parquet frame being replaced: the
        # read triggers an eager file-index pass over the largest table
        else spark.read.parquet(*[_os.path.join(path, t, fn) for fn in m[t]])
        for i, t in enumerate(_LSH_TABLES)
    ]
    if bands_table is not None:
        # STALENESS GUARD: the bucketed table is a snapshot from
        # bucketize time while shingles/sizes follow the CURRENT
        # manifest — a post-bucketize lsh_index_add would make probes
        # silently blind to the added docs (candidates only come from
        # bands). bands rows are exactly n_bands per indexed doc, so
        # two cheap counts detect the drift; re-run lsh_bucketize_bands
        # after adds (or probe un-bucketed) to clear it.
        n_bands_per_doc = meta["num_hashes"] // meta["band_size"]
        n_docs = frames[_LSH_TABLES.index("sizes")].count()
        n_band_rows = frames[bands_i].count()
        if n_band_rows != n_bands_per_doc * n_docs:
            raise ValueError(
                f"lsh_open_index: bucketed band table {bands_table!r} is "
                f"stale: {n_band_rows} band rows != {n_bands_per_doc} bands "
                f"x {n_docs} indexed docs — rebuild it with "
                "lsh_bucketize_bands after index adds"
            )
    if cache:
        for i, f in enumerate(frames):
            if bands_table is not None and i == bands_i:
                continue  # the bucketed scan IS the point — never cache it
            f.persist()
    return LshIndex(spark, path, meta, tuple(frames), cache)


def lsh_query_near_dups(
    spark,
    path: str | LshIndex,
    query_docs: DataFrame,
    *,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_shingles: DataFrame | None = None,
) -> DataFrame:
    """Near-dups of ``query_docs`` against the INDEXED corpus:
    query-side shingles/bands are computed on the fly with the frozen
    parameters, candidates come from an equi-join against the persisted
    band table, and the exact-Jaccard verify joins only candidate ids'
    shingle rows. Returns (query_id, index_id, jaccard) with
    jaccard >= threshold; a query id also present in the index never
    pairs with itself. Corpus-side cost is reads, never recompute —
    and ZERO re-reads when ``path`` is an open :class:`LshIndex`
    handle (the probe-many loop's shape; a bare path re-resolves the
    manifest per call, which is what a one-shot probe wants).

    ``query_shingles``: optional precomputed ``shingle_rows`` of the
    probe batch at the index's frozen ``shingle_n`` (caller-owned
    persistence — the crawl gate computes one shingle table per batch
    and feeds probe + intra-batch + add from it)."""
    meta = path.meta if isinstance(path, LshIndex) else _lsh_index_meta(path)
    # Probe-side frames are NOT persisted: the returned frame is lazy,
    # so a persist here could never be unpersisted and each probe batch
    # in the incremental crawl workflow would pin another dead cache
    # entry for the life of the application. The three in-plan
    # consumers (bands, intersect join, sizes) recompute the shingle
    # explode — a narrow deterministic projection over the probe batch,
    # which is small by design relative to the indexed corpus. Callers
    # probing with a LARGE batch should pass persisted
    # ``query_shingles`` (or .persist() query_docs) themselves and
    # unpersist after the action.
    q_sh = (
        query_shingles
        if query_shingles is not None
        else shingle_rows(
            query_docs, id_col=id_col, text_col=text_col, n=meta["shingle_n"]
        )
    )
    from nibbledb_spark.session import sql_over

    return sql_over(
        q_sh.sparkSession,
        _probe_sql(meta, threshold),
        q_sh=q_sh,
        **_index_frames(spark, path),
    )


def _index_frames(spark, path: str | LshIndex) -> dict[str, DataFrame]:
    """The probe's corpus-side inputs: the open handle's (cached)
    frames, or the tables as the manifest lists them now."""
    if isinstance(path, LshIndex):
        return {
            "idx_bands": path.bands,
            "idx_sh": path.shingles,
            "idx_sizes": path.sizes,
        }
    return {
        "idx_bands": _lsh_read(spark, path, "bands"),
        "idx_sh": _lsh_read(spark, path, "shingles"),
        "idx_sizes": _lsh_read(spark, path, "sizes"),
    }


def _probe_sql(meta: dict, threshold: float) -> str:
    """The LSH probe statement, (query_id, index_id, jaccard) over the
    ``sql_over`` frames ``q_sh`` (probe shingle rows) and the three
    :func:`_index_frames`: band the probe side with the index's frozen
    parameters, equi-join its buckets against the persisted band
    table, and count shared shingle rows of candidate pairs only."""
    return f"""
WITH q_bands AS ({_bands_sql("{q_sh}", meta["num_hashes"], meta["band_size"])}),
cand AS (
  SELECT DISTINCT q.id AS query_id, i.id AS index_id
  FROM q_bands q JOIN {{idx_bands}} i USING (band, bucket) WHERE q.id != i.id),
inter AS (
  SELECT query_id, index_id, count(*) AS inter
  FROM cand
  JOIN (SELECT id AS query_id, shingle FROM {{q_sh}}) qs USING (query_id)
  JOIN (SELECT id AS index_id, shingle FROM {{idx_sh}}) ix USING (index_id, shingle)
  GROUP BY query_id, index_id),
q_sizes AS (SELECT id AS query_id, count(*) AS q_sz FROM {{q_sh}} GROUP BY id)
SELECT query_id, index_id, jaccard FROM (
  SELECT query_id, index_id, {_jaccard_sql("q_sz", "i_sz")} AS jaccard
  FROM inter
  JOIN q_sizes USING (query_id)
  JOIN (SELECT id AS index_id, sz AS i_sz FROM {{idx_sizes}}) iz USING (index_id)
) WHERE jaccard >= {threshold!r}
"""


def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE_N,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for every candidate pair.

    Candidate generation is the shingle equi-join itself (two docs pair
    only if they share >= 1 shingle), so the all-pairs cross product
    never materializes; the intersection count then falls out of the
    same join. ``max_doc_freq`` drops shingles present in more than
    that many documents before the join — the standard stop-shingle
    blocking cap that bounds the join's group sizes at corpus scale
    (NOTE: changes semantics from exact to filtered-exact; leave None
    for oracle-exact results).

    ``shingles`` is an optional precomputed ``shingle_rows(docs)``
    frame (the crawl-gate shape: one shingle pass per batch feeds the
    probe, the intra-batch step AND the index add). The CALLER owns its
    persistence; without it this function persists its own shingle
    table for the life of the returned plan.
    """
    sh = (
        shingles
        if shingles is not None
        else shingle_rows(docs, id_col=id_col, text_col=text_col, n=n).persist()
    )
    if max_doc_freq is not None:
        # Persist the CAPPED table as well: three consumers follow
        # (sizes + both join sides) and without this each replays the
        # anti-join probe — measured 2x on clean_corpus end-to-end.
        sh = _drop_hot_keys(sh, "shingle", max_doc_freq).persist()
    from nibbledb_spark.session import sql_over

    return sql_over(sh.sparkSession, _jaccard_pairs_sql("{sh}", threshold), sh=sh)


def _jaccard_pairs_sql(rows: str, threshold: float) -> str:
    """The exact-Jaccard pair statement over the (id, shingle) relation
    ``rows``: (id1, id2, jaccard) with jaccard >= ``threshold``."""
    return f"""
SELECT id1, id2, jaccard FROM (
  SELECT id1, id2, {_jaccard_sql("sz1", "sz2")} AS jaccard
  FROM ({_overlap_sql(rows, "shingle")})
) WHERE jaccard >= {threshold!r}
"""


def winnow_near_dup_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs by SHARED WINNOWING FINGERPRINTS — the
    MOSS match step over :func:`~nibbledb_spark.operators.text.
    winnow_fingerprints`. Two docs pair when they share at least
    ``min_shared`` selected fingerprints; the score is fingerprint
    containment ``shared / min(|F1|, |F2|)``. The winnowing guarantee
    transfers: any >= w+k-1-token overlap is represented by >= 1 shared
    fingerprint, while the join runs over a ~``2/(w+1)``-density
    selection of the k-gram space — the same candidate generation as
    the shared-shingle join at roughly 40% of its row volume (w=4),
    which is the whole point at corpus scale. ``max_doc_freq`` is the
    stop-fingerprint blocking cap (same broadcast-anti shape and the
    same exact→filtered-exact semantics note as ngram_jaccard_pairs).
    Returns (id1, id2, n_shared, containment)."""
    from nibbledb_spark.operators.text import winnow_fingerprints

    fps = (
        winnow_fingerprints(docs, id_col=id_col, text_col=text_col, k=k, w=w)
        .select(F.col(id_col).alias("id"), "fp")
        .distinct()
    )
    if max_doc_freq is not None:
        fps = _drop_hot_keys(fps, "fp", max_doc_freq)
    # Persist ONCE, after the optional stop-fingerprint filter: an
    # earlier draft persisted both the raw and the filtered frame, and
    # the raw copy stayed pinned in the filtered frame's lineage with
    # no handle left to unpersist it — doubling executor cache for the
    # three downstream consumers. The df-count branch re-derives
    # fingerprints once at materialization; cache memory is the scarcer
    # resource at corpus scale.
    fps = fps.persist()
    q = f"""
SELECT id1, id2, inter AS n_shared,
       cast(inter AS double) / least(sz1, sz2) AS containment
FROM ({_overlap_sql("{fps}", "fp")})
WHERE inter >= {min_shared!r}
"""
    from nibbledb_spark.session import sql_over

    return sql_over(fps.sparkSession, q, fps=fps)


def ngram_containment_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE_N,
    threshold: float = 0.9,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram CONTAINMENT for every candidate pair:
    ``|A ∩ B| / min(|A|, |B|)`` — the asymmetric near-dup detector.
    Jaccard divides by the union, so a short document wholly quoted
    inside a much longer one scores near zero and survives dedup;
    containment scores that pair 1.0. The standard subset/quote catch
    in training-data pipelines (and the asymmetric half of the
    substring-dedup story: this at shingle granularity, span dedup at
    token-run granularity).

    Same scale shape as :func:`ngram_jaccard_pairs`: candidates come
    from the shared-shingle equi-join itself (never an all-pairs
    product), the intersection count falls out of the same join, and
    ``max_doc_freq`` is the broadcast-anti stop-shingle cap. Integer
    counts => the ratio is one deterministic double divide."""
    sh = shingle_rows(docs, id_col=id_col, text_col=text_col, n=n)
    if max_doc_freq is not None:
        sh = _drop_hot_keys(sh, "shingle", max_doc_freq)
    # Single persist after the stop-shingle filter — see the matching
    # note in winnow_near_dup_pairs (double-persist pinned the raw
    # shingle frame in cache with no unpersist handle).
    sh = sh.persist()
    q = f"""
SELECT id1, id2, containment FROM (
  SELECT id1, id2, cast(inter AS double) / least(sz1, sz2) AS containment
  FROM ({_overlap_sql("{sh}", "shingle")})
) WHERE containment >= {threshold!r}
"""
    from nibbledb_spark.session import sql_over

    return sql_over(sh.sparkSession, q, sh=sh)


def simhash_near_dup_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash banding: fingerprints sharing any of
    ``n_bands`` contiguous bit bands become candidates (two fingerprints
    within Hamming distance < n_bands MUST share a band — pigeonhole),
    verified by exact popcount of the XOR. The band join replaces the
    all-pairs Hamming comparison, same blocking idea as MinHash-LSH."""
    band_bits = bits // n_bands
    sh = simhash_docs(docs, id_col=id_col, text_col=text_col)
    bands = sh.select(
        F.col(id_col).alias("id"),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        .alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "simhash", "bb.band", "bb.key")
    a, b = bands.alias("a"), bands.alias("b")
    cands = (
        a.join(b, ["band", "key"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.col("a.simhash").alias("h1"),
            F.col("b.simhash").alias("h2"),
        )
        .distinct()
    )
    return (
        cands.select(
            "id1",
            "id2",
            F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def decontaminate(
    train: DataFrame,
    eval_set: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE_N,
    min_overlap: int = 3,
) -> DataFrame:
    """Eval-set decontamination: flag training documents sharing >=
    ``min_overlap`` distinct n-gram shingles with any eval document.

    Returns (train_id, eval_id, n_shared) per contaminated pair — the
    audit trail a training run needs before dropping the train docs
    (``.select('train_id').distinct()`` is the kill list).

    Scale shape: the eval set is small by construction (benchmarks are
    thousands of docs, the corpus is billions), so its shingle table is
    BROADCAST and the train corpus never shuffles — contamination
    checking is a map-side join over the training scan, then one keyed
    aggregate on the (train, eval) pair.
    """
    tr = shingle_rows(train, id_col=id_col, text_col=text_col, n=n).select(
        F.col("id").alias("train_id"), "shingle"
    )
    ev = shingle_rows(eval_set, id_col=id_col, text_col=text_col, n=n).select(
        F.col("id").alias("eval_id"), "shingle"
    )
    return (
        tr.join(F.broadcast(ev), "shingle")
        .groupBy("train_id", "eval_id")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_overlap)
    )


def decontaminate_semantic(
    train: DataFrame,
    eval_set: DataFrame,
    threshold: float,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space eval-set decontamination — the SEMANTIC
    complement of :func:`decontaminate`: n-gram overlap misses
    paraphrased or translated benchmark leakage, cosine similarity
    over embeddings catches it (the SemDeDup observation applied to
    train-test contamination). Flags every training vector whose
    cosine to ANY eval vector exceeds ``threshold``.

    Returns (train_id, eval_id, cos_sim) per contaminated pair — the
    same audit-trail contract as the n-gram form
    (``.select('train_id').distinct()`` is the kill list).

    Scale shape: identical to the n-gram form — the eval set is small
    by construction, so it BROADCASTS and the training corpus never
    shuffles; the score is a map-side expression over the training
    scan with the predicate applied before anything aggregates. For
    corpora where even one broadcast sweep is too hot, route candidate
    generation through the persisted IVF index first
    (:func:`~nibbledb_spark.operators.similarity.ivf_topk_indexed`)
    and exact-verify the survivors with this operator's predicate.
    """
    from .similarity import _dot, l2_norm

    # Norms factor OUT of the pair loop (the cosine_topk r14 lesson,
    # ported r15): ||t|| once per training row, ||e|| once per broadcast
    # eval row, so each (train x eval) pair pays ONE interpreted HOF
    # fold (the dot) instead of three. Bit-identical: same operands,
    # same dot/(tn*en) IEEE tree as cosine().
    tr = train.select(
        F.col(id_col).alias("train_id"),
        F.col(vec_col).alias("tv"),
        l2_norm(vec_col).alias("tn"),
    )
    ev = eval_set.select(
        F.col(id_col).alias("eval_id"),
        F.col(vec_col).alias("ev"),
        l2_norm(vec_col).alias("en"),
    )
    return (
        tr.crossJoin(F.broadcast(ev))
        .select(
            "train_id",
            "eval_id",
            (_dot("tv", "ev") / (F.col("tn") * F.col("en"))).alias("cos_sim"),
        )
        .where(F.col("cos_sim") > threshold)
    )


def near_dup_components(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE_N,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """(id, component) for EVERY document: the transitive closure of
    the exact n-gram-Jaccard near-dup relation, labeled by the minimum
    doc id of each cluster. Docs with no near-dup are their own
    singleton component.

    This is the dedup POLICY layer the pairwise queries can't express:
    a~b and b~c place all three in one component even when a~c is below
    threshold, so "keep id == component" retains exactly one canonical
    doc per cluster (pairwise higher-id dropping can delete every
    representative of a chained cluster, or keep two docs that are
    near-dups of the same survivor).

    Scale shape: the pair join is the capped shingle equi-join
    (``ngram_jaccard_pairs``); the closure is hash-min label
    propagation, O(diameter) keyed shuffles over the PAIR list — which
    is orders smaller than the corpus (most docs have no near-dup).
    """
    from nibbledb_spark.operators.graph import connected_components

    pairs = ngram_jaccard_pairs(
        docs,
        id_col=id_col,
        text_col=text_col,
        n=n,
        threshold=threshold,
        max_doc_freq=max_doc_freq,
    )
    comp = connected_components(pairs, "id1", "id2")
    return docs.select(F.col(id_col)).join(
        comp, docs[id_col] == comp["node"], "left"
    ).select(
        F.col(id_col),
        F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
    )


def dedup_lines_global(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Corpus-wide line-level dedup (the C4/RefinedWeb-style pass):
    every line keeps only its FIRST occurrence across the whole corpus
    (ordered by (doc id, line position)); later occurrences are removed
    and each document is rebuilt from its surviving lines. Returns
    (id, cleaned_text) for every input document ('' when nothing
    survives).

    Scale shape: one keyed shuffle on the line hash (the dedup window),
    one on the doc id (the rebuild aggregate); per-group state is the
    line's occurrence list and the doc's own lines — nothing quadratic,
    no driver state. Rebuild order is pinned by array_sort over
    (pos, line) structs (collect_list order is undefined post-shuffle).
    """
    from pyspark.sql import Window

    d = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    lines = d.select(
        "id",
        F.posexplode(F.split("text", _re.escape(sep))).alias("pos", "line"),
    )
    # window keyed on md5(line): groups identical lines without hashing
    # semantics changes; rank 1 = the corpus-wide first occurrence
    w = Window.partitionBy(F.md5(F.col("line").cast("binary"))).orderBy(
        "id", "pos"
    )
    kept = lines.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    rebuilt = kept.groupBy("id").agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
        ).alias("cleaned")
    )
    return (
        d.join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("cleaned"), F.lit("")).alias("cleaned_text"),
        )
    )


_FREQ_FRAC_SCALE = 10_000  # doc-frequency fraction granularity (1/10000)


def strip_frequent_lines(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    max_doc_frac: float = 0.5,
) -> DataFrame:
    """Corpus-df boilerplate removal (the CCNet/RefinedWeb pass that
    complements :func:`dedup_lines_global`): a unit (line by default —
    ``sep`` picks the granularity, e.g. ``' '`` for corpus-frequency
    stopword stripping; always matched LITERALLY, regex metachars like
    ``'.'`` or ``'|'`` are safe) is BOILERPLATE when it appears in more
    than
    ``max_doc_frac`` of all documents; every occurrence is removed —
    not just the non-first ones — and each document is rebuilt from its
    surviving units in order. Returns (id, cleaned_text, n_removed).

    The threshold compare is integer-exact: ``max_doc_frac`` quantizes
    to 1/10000 and the keep predicate is
    ``df * 10000 <= frac_scaled * corpus_docs`` — no float boundary for
    engines to disagree on.

    Scale shape: per-unit doc-frequency is a distinct + count keyed on
    the unit hash (partial-aggregated, the hash not the text shuffles);
    the over-threshold set is by construction the SMALL side (it IS the
    boilerplate) so it broadcast-anti-joins back onto the unit rows;
    the rebuild is the same (pos, unit) array_sort aggregate as
    dedup_lines_global. Nothing quadratic, no driver state."""
    if not 0.0 <= max_doc_frac <= 1.0:
        raise ValueError(f"max_doc_frac must be in [0, 1]: {max_doc_frac}")
    # round, not truncate: int(0.57 * 10000) is 5699 under binary
    # floats, silently shifting the documented threshold one granule
    frac_scaled = round(max_doc_frac * _FREQ_FRAC_SCALE)
    d = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    # persisted: three independent consumers below (doc-frequency agg,
    # anti-joined kept scan, per-doc totals) would each replay the
    # split/posexplode/md5 corpus scan otherwise — same convention as
    # ngram_jaccard_pairs' shared shingle table
    lines = (
        d.select(
            "id",
            F.posexplode(F.split("text", _re.escape(sep))).alias(
                "pos", "line"
            ),
        )
        .withColumn("h", F.md5(F.col("line").cast("binary")))
        .persist()
    )
    corpus_n = d.agg(F.count("*").alias("__corpus_n"))
    hot = (
        lines.select("id", "h")
        .distinct()
        .groupBy("h")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(corpus_n))
        .where(
            F.col("df") * F.lit(_FREQ_FRAC_SCALE)
            > F.lit(frac_scaled) * F.col("__corpus_n")
        )
        .select("h")
    )
    kept = lines.join(F.broadcast(hot), "h", "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
        ).alias("cleaned"),
        F.count("*").alias("n_kept"),
    )
    totals = lines.groupBy("id").agg(F.count("*").alias("n_total"))
    return (
        d.join(totals, "id")
        .join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("cleaned"), F.lit("")).alias("cleaned_text"),
            (
                F.col("n_total") - F.coalesce(F.col("n_kept"), F.lit(0))
            ).alias("n_removed"),
        )
    )


def ngram_novelty(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE_N,
) -> DataFrame:
    """Per-document n-gram NOVELTY: the fraction of a doc's distinct
    n-grams whose first corpus occurrence (min doc id) is this doc —
    1.0 = entirely fresh content, 0.0 = everything already seen in an
    earlier doc. The redundancy/curriculum signal between exact dedup
    (kills only identical docs) and near-dup scoring (pairwise): a
    corpus-level "how much does this doc add" number, the deterministic
    cousin of contribution scoring. Returns
    (id, n_grams, n_novel, novelty); too-short docs (no n-grams) carry
    NULL novelty.

    Scale shape: ONE exchange — first-owner is a min-over window keyed
    on the shingle (no second join back), then a per-doc aggregate.
    Integer counts => the ratio is one deterministic double divide."""
    from pyspark.sql import Window

    sh = shingle_rows(docs, id_col=id_col, text_col=text_col, n=n)
    w = Window.partitionBy("shingle")
    f = sh.withColumn("first_id", F.min("id").over(w))
    per = f.groupBy("id").agg(
        F.count("*").alias("n_grams"),
        F.count(F.when(F.col("id") == F.col("first_id"), 1)).alias("n_novel"),
    )
    d = docs.select(F.col(id_col).alias("id"))
    return (
        d.join(per, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
            F.when(
                F.col("n_grams") > 0,
                F.col("n_novel").cast("double") / F.col("n_grams"),
            ).alias("novelty"),
        )
    )


# ---------------------------------------------------------------------------
# exact-substring (duplicate-span) dedup — Lee et al. 2022
# ---------------------------------------------------------------------------
# "Deduplicating Training Data Makes Language Models Better" finds exact
# duplicate token spans >= L across a corpus with a suffix array. A suffix
# array is a single-machine structure; the distributed re-expression is
# anchor hashing: every length-L token window is an anchor, duplicated
# spans are anchors shared across documents (an equi-join on the anchor
# hash), and a maximal duplicated span of T >= L tokens appears as
# T - L + 1 consecutive anchor hits on one (doc1, doc2) DIAGONAL
# (start1 - start2 constant) — so a lag/run-id window over each diagonal
# merges the hits back into maximal spans. Everything stays codegen'd
# and shuffle-bounded: one shuffle to build anchors (per-doc windows),
# one equi-join on the 16-byte anchor hash, one window over the hits
# (hits, not tokens — the small side by construction).
#
# The reference (jptmoore/nibbledb) has no text surface at all; this is
# part of the LLM-pipeline extension family (SURVEY.md §2 Part C).


def substring_anchor_rows(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 50,
) -> DataFrame:
    """(id, pos, h) rows: md5 over each length-``min_tokens`` token
    window, 1-based start position. posexplode + lead windows keeps the
    build inside whole-stage codegen (same measured ~20x-over-HOF reason
    as shingle_rows). Positions are 1-based to match the DuckDB oracle's
    generate_subscripts/list-slice convention."""
    k = min_tokens
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(text_col)).alias("pos0", "tok"),
    )
    # window/predicate/md5 built as SQL text: one parser pass instead of
    # ~6 py4j round trips per lead column — at the default k=50 that is
    # ~300 driver round trips (~0.15 s) per plan construction; identical
    # WindowExpression tree (r15 opt, the shingle_rows pattern)
    lead_cols = [
        f"lead(tok, {j}) OVER (PARTITION BY id ORDER BY pos0) AS t{j}"
        for j in range(1, k)
    ]
    with_leads = toks.selectExpr("id", "pos0 + 1 AS pos", "tok", *lead_cols)
    # k=1 degenerate case: no leads, so the joined predicate would be
    # the empty string and where('') raises ParseException — every
    # single-token window is an anchor then (ADVICE r15)
    not_null = " AND ".join(f"t{j} IS NOT NULL" for j in range(1, k)) or "true"
    window = ", ".join(["tok"] + [f"t{j}" for j in range(1, k)])
    return with_leads.where(not_null).selectExpr(
        "id",
        "pos",
        f"md5(CAST(concat_ws(' ', {window}) AS BINARY)) AS h",
    )


def substring_dup_spans(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 50,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """All maximal cross-document exact duplicate token spans of length
    >= ``min_tokens``: (doc_id1, doc_id2, start1, start2, len_tokens)
    with doc_id1 < doc_id2 and 1-based token offsets.

    A maximal duplicated span of T tokens between two documents yields
    exactly one output row with len_tokens = T: its T - min_tokens + 1
    anchor hits share a diagonal (start1 - start2) and are merged by a
    lag/run-id window. Catches a duplicated paragraph EMBEDDED in
    otherwise-distinct documents — the granularity dedup_lines_global
    (line-exact) and MinHash (document-level) both miss.

    Scale shape: anchors are O(total tokens) rows of (id, pos, 16-byte
    hash) — payloads never join; the self equi-join on h only pairs
    shared anchors; the merge window runs over HITS (the duplicated
    part of the corpus, small by construction). ``max_doc_freq`` drops
    anchors present in more than that many documents before the join —
    the boilerplate cap that bounds group sizes at corpus scale, same
    broadcast-anti-join shape as ngram_jaccard_pairs (None = exact,
    the oracle-checked setting).
    """
    k = min_tokens
    # persist: the anchor table feeds BOTH sides of the self-join (and
    # the doc-freq cap when enabled); without this the tokenize + lead
    # windows replay per consumer — same reason near_dup_pairs_minhash_fast
    # persists its shingle table. At corpus scale this is the "materialize
    # the anchor table once" step a production span-dedup run does anyway.
    anch = substring_anchor_rows(
        docs, id_col=id_col, text_col=text_col, min_tokens=k
    ).persist()
    if max_doc_freq is not None:
        hot = (
            anch.groupBy("h")
            .agg(F.count_distinct("id").alias("df"))
            .where(F.col("df") > max_doc_freq)
            .select("h")
        )
        anch = anch.join(F.broadcast(hot), "h", "left_anti")
    q = f"""
WITH hits AS (
  SELECT a.id AS d1, b.id AS d2, a.pos AS p1, b.pos AS p2, a.pos - b.pos AS diag
  FROM {{anch}} a JOIN {{anch}} b ON a.h = b.h AND a.id < b.id
),
flagged AS (
  SELECT d1, d2, p1, p2, diag,
         CASE WHEN lag(p1) OVER (PARTITION BY d1, d2, diag ORDER BY p1) = p1 - 1
              THEN 0 ELSE 1 END AS is_start
  FROM hits
),
runs AS (
  SELECT d1, d2, p1, p2, diag,
         sum(is_start) OVER (PARTITION BY d1, d2, diag ORDER BY p1
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
  FROM flagged
)
SELECT d1 AS doc_id1, d2 AS doc_id2,
       cast(min(p1) AS bigint) AS start1,
       cast(min(p2) AS bigint) AS start2,
       cast(max(p1) - min(p1) + {k} AS bigint) AS len_tokens
FROM runs GROUP BY d1, d2, diag, run_id
"""
    from nibbledb_spark.session import sql_over

    return sql_over(anch.sparkSession, q, anch=anch)


def substring_dup_extent(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 50,
) -> DataFrame:
    """Per-document duplicated-token extent: how many of each document's
    tokens sit inside some cross-document exact duplicate span of
    >= ``min_tokens`` tokens — the per-doc QA number a dedup run reports
    ("X% of the corpus is duplicated text", Lee et al. Table 3 analogue).

    Overlapping spans from different partners must not double-count, so
    the span set per doc is merged interval-union style: order spans by
    start, a span begins a new island when its start exceeds the running
    max end so far (classic sweep — two windows, no self-join), then the
    island lengths sum per document. Returns (doc_id, n_tokens,
    dup_tokens, dup_frac) for EVERY input document (0 when clean).
    """
    from pyspark.sql import Window

    spans = substring_dup_spans(
        docs, id_col=id_col, text_col=text_col, min_tokens=min_tokens
    )
    # fold both sides: each pair row marks a span in BOTH documents
    one_side = spans.select(
        F.col("doc_id1").alias("id"),
        F.col("start1").alias("s"),
        (F.col("start1") + F.col("len_tokens")).alias("e"),
    ).unionAll(
        spans.select(
            F.col("doc_id2").alias("id"),
            F.col("start2").alias("s"),
            (F.col("start2") + F.col("len_tokens")).alias("e"),
        )
    )
    # distinct BEFORE the sweep: duplicate (id, s, e) rows tie in the
    # ORDER BY, and the two window passes (prev-max flag, running
    # island sum) may order tied rows differently — splitting one
    # island into two. Distinct intervals make (s, e) a total order
    # per id and are sufficient for a union sweep anyway.
    one_side = one_side.distinct()
    w = Window.partitionBy("id").orderBy("s", "e")
    prev_max_end = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = one_side.withColumn(
        "new_island",
        F.when(prev_max_end >= F.col("s"), F.lit(0)).otherwise(F.lit(1)),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("new_island").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    dup = (
        islands.groupBy("id", "island")
        .agg((F.max("e") - F.min("s")).alias("island_len"))
        .groupBy("id")
        .agg(F.sum("island_len").alias("dup_tokens"))
    )
    base = docs.select(
        F.col(id_col).alias("id"),
        F.size(tokens(text_col)).cast("long").alias("n_tokens"),
    )
    return (
        base.join(dup, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long").alias(
                "dup_tokens"
            ),
            F.round(
                F.coalesce(F.col("dup_tokens"), F.lit(0))
                / F.greatest(F.col("n_tokens"), F.lit(1)),
                6,
            ).alias("dup_frac"),
        )
    )


def substring_scrub(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 50,
) -> DataFrame:
    """Apply exact-substring dedup (Lee et al. 2022's actual training-
    data transformation): every cross-document duplicate span of
    >= ``min_tokens`` tokens keeps its FIRST occurrence corpus-wide
    (lowest doc id — :func:`substring_dup_spans` emits doc_id1 <
    doc_id2, so cutting every doc_id2-side interval leaves exactly the
    earliest copy) and is removed from every later document. Returns
    one row per input document: (id, text, removed_tokens) with text
    rebuilt from the surviving tokens for cut documents and passed
    through BYTE-IDENTICAL for clean ones.

    Scale shape: the span finder's anchor-join bounds the work; the cut
    application is a hash join of docs against the per-doc interval
    list (rows = cut documents only, payload = a handful of int pairs)
    plus one array filter per CUT document — the CASE on the join miss
    short-circuits, so clean documents never pay the token scan.
    Overlapping cut intervals union naturally in the coverage test (no
    island merge needed). Cross-document occurrences only — within-doc
    repeats pair no (d1 < d2) rows and are kept, matching the declared
    spans semantics."""
    spans = substring_dup_spans(
        docs, id_col=id_col, text_col=text_col, min_tokens=min_tokens
    )
    ivs = (
        spans.select(
            F.col("doc_id2").alias("id"),
            F.col("start2").alias("s"),
            (F.col("start2") + F.col("len_tokens")).alias("e"),
        )
        .distinct()
        .groupBy("id")
        .agg(F.collect_list(F.struct("s", "e")).alias("ivs"))
    )
    toks = tokens(text_col)
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            F.col("ivs"),
            lambda iv: (iv["s"] <= i + F.lit(1)) & (i + F.lit(1) < iv["e"]),
        ),
    )
    joined = docs.join(ivs, docs[id_col] == ivs["id"], "left")
    clean = F.col("ivs").isNull()
    return joined.select(
        docs[id_col].alias(id_col),
        F.when(clean, F.col(text_col))
        .otherwise(F.concat_ws(" ", kept))
        .alias(text_col),
        F.when(clean, F.lit(0))
        .otherwise(F.size(toks) - F.size(kept))
        .cast("long")
        .alias("removed_tokens"),
    )


def substring_self_spans(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 50,
) -> DataFrame:
    """All maximal WITHIN-document exact repeat spans of length >=
    ``min_tokens`` tokens: (id, start1, start2, len_tokens) with
    start1 < start2 — the intra-document half of Lee et al. 2022's
    span dedup (boilerplate repeated inside one page), which the
    cross-document :func:`substring_dup_spans` excludes by its
    d1 < d2 pairing. Same anchor-hash semantics, DIFFERENT plan from
    the cross-doc operator: every stage here clusters on a superset
    of the document id, so after the anchor build's one exchange
    (hash-partition by id for its lead window) the remaining work is
    pure per-doc window passes — Catalyst proves hashpartitioning(id)
    satisfies the (id, h), (id, diag) and (id, diag, run_id)
    clustering requirements and plans sorts, never exchanges. The
    former anchor-hash self-join (shuffled the anchor table on both
    sides) was 2.13x DuckDB at x100 for exactly this reason — DuckDB
    runs the per-doc window plan; now so do we. A k-fold repeat still
    reports all C(k,2) occurrence pairs (each anchor row sees its
    (id, h) group's full position list and pairs with the LATER
    positions — the row-local pair explode, same trick as the
    triangle wedge enumeration), exactly like the cross-doc operator
    reports document pairs."""
    from pyspark.sql import Window

    k = min_tokens
    # single consumer — no persist; the anchor subtree streams straight
    # into the window chain within one stage pipeline
    anch = substring_anchor_rows(
        docs, id_col=id_col, text_col=text_col, min_tokens=k
    )
    # all positions of this row's anchor hash within its document
    # (whole-partition frame: no orderBy => unbounded); a singleton
    # list yields an empty later-positions filter and the explode
    # drops the row, so unique anchors (the vast majority) never
    # materialize pairs
    wh = Window.partitionBy("id", "h")
    hits = (
        anch.withColumn("ps", F.collect_list("pos").over(wh))
        .select(
            "id",
            F.col("pos").alias("p1"),
            F.explode(
                F.filter("ps", lambda x: x > F.col("pos"))
            ).alias("p2"),
        )
        .select("id", "p1", "p2", (F.col("p2") - F.col("p1")).alias("diag"))
    )
    wd = Window.partitionBy("id", "diag").orderBy("p1")
    flagged = hits.withColumn(
        "is_start",
        F.when(F.lag("p1").over(wd) == F.col("p1") - 1, F.lit(0)).otherwise(
            F.lit(1)
        ),
    )
    runs = flagged.withColumn(
        "run_id",
        F.sum("is_start").over(
            wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        runs.groupBy("id", "diag", "run_id")
        .agg(
            F.min("p1").alias("s1"),
            F.min("p2").alias("s2"),
            (F.max("p1") - F.min("p1") + F.lit(k)).alias("len_tokens"),
        )
        .select(
            F.col("id").alias(id_col),
            F.col("s1").cast("long").alias("start1"),
            F.col("s2").cast("long").alias("start2"),
            F.col("len_tokens").cast("long").alias("len_tokens"),
        )
    )


def lsh_dedup_gate(
    spark,
    path: str,
    *,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    on_pass=None,
):
    """``foreachBatch`` handler factory for the CRAWL-LOOP near-dup
    gate — the streaming composition of the persisted LSH index's
    probe and add halves: every micro-batch is probed against the
    indexed corpus, near-dups are DROPPED, and the survivors are both
    ADDED to the index (so later batches dedup against them) and handed
    to ``on_pass(survivors_df, batch_id)`` for the downstream commit.
    This is the near-dup analogue of
    ``SnapshotTable.dedup_streaming_sink`` (which gates on EXACT keys):
    the corpus-as-its-own-seen-set shape every crawl pipeline needs.

    Drop policy, deterministic and recall-biased:
    - a batch doc near-dupping ANY indexed doc (``jaccard >=
      threshold``) drops;
    - within the batch, the HIGHER id of every exact-Jaccard pair at
      the index's frozen shingle_n drops — greedy lower-id-wins, which
      can over-drop along chains (a~b, b~c, a!~c drops both b and c);
      for dedup gating that bias is safe (content stays represented);
      run pairs -> connected components offline when the exact
      one-per-cluster policy matters.

    Exactly-once: survivors are deterministic for a given (index state,
    batch), and the index add runs ``on_duplicate='skip'`` — so a
    crash-replayed batch re-adds nothing. ``on_pass`` receives the SAME
    survivors again on replay and must be idempotent by ``batch_id``
    (compose with ``SnapshotTable.append(meta={'stream_batch_id': ...})``
    or any sink carrying the micro-batch-id guard).

    Id-reuse caveat: ids are treated as CONTENT-STABLE. A re-crawled
    doc whose id already exists in the index but whose TEXT changed
    will pass the gate (the probe excludes self-id pairs) and its
    index add is then dropped by ``on_duplicate='skip'`` — so
    ``on_pass`` commits content the index never learns, and later
    batches cannot near-dup against the UPDATED text (only the
    original). Crawl pipelines that revisit URLs should make the id a
    content address (e.g. ``sha2(text)`` or url+fetch-digest) or
    rebuild the index on recrawl epochs; the gate does not attempt
    in-place index updates by design (the manifest is append-only).

    The sink is :func:`~nibbledb_spark.streaming.gate.gated_sink`:
    the drop plans and the add run tuned on the batch's own session,
    then ``on_pass`` runs under that session's own confs.

    Scale shape per batch: probe cost tracks the batch (the measured
    lsh_probe contract — corpus-side state is reads, never recompute);
    the intra-batch pair join is batch x batch through the shared-
    shingle equi-join; the add appends band/shingle/size rows for
    survivors only and publishes with one manifest swap.
    """
    from nibbledb_spark.session import sql_over
    from nibbledb_spark.streaming.gate import gated_sink

    meta = _lsh_index_meta(path)
    n = int(meta["shingle_n"])

    def gate(batch: DataFrame, hold):
        session = batch.sparkSession
        # ONE shingle pass per batch: the probe, the intra-batch pair
        # join and the index add all consume the same persisted
        # (id, shingle) table instead of each re-running the
        # tokenize+lead-window+distinct chain over the batch (3x the
        # batch's corpus pass at crawl scale; measured ~20% off the
        # per-batch wall clock at sf0.1 — r15 opt).
        batch_sh = hold(shingle_rows(batch, id_col=id_col, text_col=text_col, n=n))
        # BOTH drop rules in ONE parsed statement and ONE anti join
        # (r16 opt): the vs-index probe statement of
        # lsh_query_near_dups and the intra-batch pair statement of
        # ngram_jaccard_pairs union their drop ids — anti join of a
        # union equals two chained anti joins (left_anti is
        # set-semantics on its right side), and the statement is parsed
        # and analyzed once per batch instead of twice.
        drops = sql_over(
            session,
            f"SELECT query_id AS {id_col} FROM ({_probe_sql(meta, threshold)})\n"
            f"UNION ALL\n"
            f"SELECT id2 AS {id_col} FROM ({_jaccard_pairs_sql('{q_sh}', threshold)})",
            q_sh=batch_sh,
            **_index_frames(session, path),
        )

        def add(survivors: DataFrame) -> None:
            lsh_index_add(
                session, path, survivors,
                id_col=id_col, text_col=text_col, on_duplicate="skip",
                shingles=batch_sh,
            )

        return batch.join(drops, id_col, "left_anti"), add

    return gated_sink(gate, on_pass)
