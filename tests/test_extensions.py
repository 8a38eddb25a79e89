"""Part C extension operators: dedup / similarity / text / multimodal
invariants that the SQL oracle can't express (recall bounds, plumbing
shapes, stub behavior)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_dedup_keeps_one_per_group(spark, docs):
    from nibbledb_spark.operators.dedup import exact_dedup

    doubled = docs.unionByName(docs)  # every doc duplicated
    out = exact_dedup(doubled, ["text"])
    assert out.count() == docs.count()
    assert out.agg(F.max("n_copies")).collect()[0][0] == 2
    # keep_id is the min doc_id of each group
    assert out.agg(F.min("keep_id")).collect()[0][0] == 0


def test_minhash_identical_docs_same_signature(spark, docs):
    from nibbledb_spark.operators.dedup import (
        DEFAULT_NUM_HASHES,
        minhash_rows,
        shingle_rows,
    )

    sig = minhash_rows(shingle_rows(docs)).select(
        F.col("id").alias("doc_id"),
        F.array(*[f"h{j}" for j in range(DEFAULT_NUM_HASHES)]).alias("sig"),
    )
    a = sig.alias("a")
    b = sig.alias("b")
    same_text = (
        docs.alias("x")
        .join(docs.alias("y"), F.expr("x.text = y.text AND x.doc_id < y.doc_id"))
        .select(F.col("x.doc_id").alias("id1"), F.col("y.doc_id").alias("id2"))
    )
    mismatched = (
        same_text.join(a, F.col("id1") == F.col("a.doc_id"))
        .join(b, F.col("id2") == F.col("b.doc_id"))
        .where(F.col("a.sig") != F.col("b.sig"))
    )
    assert mismatched.count() == 0


def test_lsh_finds_planted_near_dups(spark, monkeypatch):
    # sf0.01 documents contain 25 planted pairs with 3-gram jaccard >= 0.8;
    # the deterministic md5 minhash + 4x2 banding must recover all of them —
    # and DuckDB running the declared oracle SQL (an independent statement
    # of the same signatures, bands and Jaccard) must return the identical
    # pair set, canonicalised as the oracle harness compares
    import oracle_harness as oh

    from nibbledb_spark.operators.dedup import near_dup_pairs_minhash_fast
    from nibbledb_spark.queries import ORACLE

    sf01 = "/root/testdata/sf0.01"
    monkeypatch.setattr(oh, "SF_DIR", sf01)
    docs01 = spark.read.parquet(f"{sf01}/documents.parquet")
    fast = near_dup_pairs_minhash_fast(docs01, threshold=0.8)
    fast_rows = oh.pandas_rows(fast.toPandas())
    ocols, orows = oh.run_duckdb(ORACLE["lsh_near_dup_pairs"])
    assert oh.canon_rows(fast.columns, fast_rows) == oh.canon_rows(ocols, orows)
    assert len(fast_rows) == 25


def test_simhash_near_dups_close_hamming(spark):
    from nibbledb_spark.operators.dedup import (
        near_dup_pairs_minhash_fast,
        simhash_docs,
    )

    docs01 = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    pairs = near_dup_pairs_minhash_fast(docs01, threshold=0.8)
    sh = simhash_docs(docs01)
    a = sh.withColumnRenamed("doc_id", "id1").withColumnRenamed("simhash", "h1")
    b = sh.withColumnRenamed("doc_id", "id2").withColumnRenamed("simhash", "h2")
    joined = pairs.join(a, "id1").join(b, "id2")
    ham = joined.select(
        F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))).alias("d")
    )
    # near-dup docs should agree on most simhash bits (32-bit hash)
    assert ham.agg(F.max("d")).collect()[0][0] <= 8


def test_srp_recall_against_exact(spark, embeddings):
    from nibbledb_spark.operators.similarity import cosine_topk, srp_topk

    q = embeddings.where(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(embeddings, q, 5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in srp_topk(
            embeddings, q, 5, dim=64, n_planes=3, n_tables=4
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    # random vectors: 4 tables x 3 planes probe ~40% of the corpus; the
    # planes are fixed so this recall is deterministic, not flaky
    assert recall >= 0.3
    # approx results are a subset of valid neighbors (sane ids, no self)
    assert all(qid != nid for qid, nid in approx)


def test_cosine_topk_self_excluded_and_ranked(spark, embeddings):
    from nibbledb_spark.operators.similarity import cosine_topk

    out = cosine_topk(embeddings, embeddings.where(F.col("vec_id") == 0), 3).collect()
    assert len(out) == 3
    assert [r["rank"] for r in out] == [1, 2, 3]
    sims = [r["cos_sim"] for r in out]
    assert sims == sorted(sims, reverse=True)
    assert all(r["neighbor_id"] != 0 for r in out)


def test_mrl_truncate_and_topk(spark, embeddings):
    """Matryoshka funnel invariants that hold for ANY vectors (the
    nesting/agreement property needs MRL-trained embeddings, which the
    synthetic fixture is not, so it is deliberately not asserted):
    dim=64 truncation is the identity retrieval; renormalize yields
    unit L2 without changing the cosine ranking; dim-16 top-k exactly
    matches a numpy brute-force over the 16-component prefixes."""
    import numpy as np
    import pytest as _pytest

    from nibbledb_spark.operators.similarity import (
        cosine_topk,
        mrl_topk,
        mrl_truncate,
    )

    q = embeddings.where(F.col("vec_id") < 5)

    def pairs(df):
        return {(r["query_id"], r["rank"]): r["neighbor_id"] for r in df.collect()}

    full = pairs(cosine_topk(embeddings, q, 3))
    assert pairs(mrl_topk(embeddings, q, 3, 64)) == full
    # renormalized truncation: unit norms, identical ranking
    tr = mrl_truncate(embeddings, 16, renormalize=True)
    norms = tr.select(
        F.aggregate(
            F.transform("embedding", lambda x: x * x),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("n2")
    ).agg(F.min("n2"), F.max("n2")).collect()[0]
    assert abs(norms[0] - 1.0) < 1e-9 and abs(norms[1] - 1.0) < 1e-9
    d16 = pairs(mrl_topk(embeddings, q, 3, 16))
    d16_renorm = pairs(
        cosine_topk(tr, mrl_truncate(q, 16, renormalize=True), 3)
    )
    assert d16 == d16_renorm
    # exactness: dim-16 retrieval == numpy brute force on the prefixes
    rows = embeddings.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"][:16] for r in rows], dtype=np.float64)
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    expected = {}
    for qpos in np.where(ids < 5)[0]:
        sims = unit @ unit[qpos]
        sims[qpos] = -np.inf
        # sort by (-sim, neighbor_id) to mirror the operator's tiebreak
        order = sorted(range(len(ids)), key=lambda i: (-sims[i], ids[i]))
        for rank, i in enumerate(order[:3], start=1):
            expected[(int(ids[qpos]), rank)] = int(ids[i])
    assert d16 == expected
    with _pytest.raises(ValueError, match="dim"):
        mrl_truncate(embeddings, 0)


def test_multimodal_feature_plumbing(spark, docs):
    from nibbledb_spark.operators.multimodal import (
        frame_sample,
        payload_fingerprint,
    )

    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.col("text").cast("binary").alias("payload"),
        F.struct(
            F.lit("image/fake").alias("mime"),
            F.lit(64).alias("width"),
            F.lit(64).alias("height"),
            F.lit(5000).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )
    fp = payload_fingerprint(media)
    assert fp.where(F.col("payload_fp").isNull()).count() == 0

    video = media.withColumn("kind", F.lit("video"))
    frames = frame_sample(video, every_ms=1000)
    per_doc = frames.groupBy("media_id").count().agg(F.min("count"), F.max("count"))
    lo, hi = per_doc.collect()[0]
    assert lo == hi == 5  # 5000ms / 1000ms


def test_decode_stub_raises(spark):
    from nibbledb_spark.operators.multimodal import decode_image

    # WebP stays stubbed (codec outside the stdlib — baseline JPEG got a
    # real decoder in r5); a truncated JPEG is a malformed file
    # (ValueError), not a stub; same for a partial PNG signature
    with pytest.raises(NotImplementedError):
        decode_image(b"RIFF\x00\x00\x00\x00WEBPVP8 ")
    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0jpeg")
    with pytest.raises(ValueError, match="signature"):
        decode_image(b"\x89PNG")


def test_multimodal_resize_plumbing(spark, docs):
    from nibbledb_spark.operators.multimodal import resize_images

    media = docs.limit(20).select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.col("text").cast("binary").alias("payload"),
        F.struct(
            F.lit("image/fake").alias("mime"),
            F.lit(64).alias("width"),
            F.lit(64).alias("height"),
            F.lit(0).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )
    out = resize_images(media, width=8, height=8)
    rows = out.collect()
    assert len(rows) == 20
    for r in rows:
        assert len(r["payload"]) == 8 * 8 * 3  # exact target byte size
        assert r["meta"]["width"] == 8 and r["meta"]["height"] == 8
        assert r["meta"]["mime"] == "image/fake"  # untouched metadata kept
    # deterministic per payload
    again = {r["media_id"]: bytes(r["payload"]) for r in resize_images(media, width=8, height=8).collect()}
    assert all(bytes(r["payload"]) == again[r["media_id"]] for r in rows)


def test_ivf_finds_planted_twins(spark, embeddings):
    """IVF ANN recall floor: an exact duplicate vector (cos=1) must be
    assigned to the same inverted list as its twin, so nprobe>=1 always
    surfaces it at rank 1."""
    from nibbledb_spark.operators.similarity import ivf_topk

    base = embeddings.select("vec_id", "embedding").limit(100)
    twins = base.where(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    corpus = base.unionByName(twins)
    queries = corpus.where(F.col("vec_id") >= 10_000)
    out = ivf_topk(corpus, queries, 1, n_centroids=8, nprobe=2)
    rows = {r["query_id"]: (r["neighbor_id"], r["cos_sim"]) for r in out.collect()}
    assert len(rows) == 10
    for qid, (nid, cos) in rows.items():
        assert nid == qid - 10_000, (qid, nid)
        assert cos == pytest.approx(1.0, abs=1e-12)


def test_approx_quantiles_bound(spark):
    """Scale-path quantiles (approx_percentile sketch) must track the
    exact interpolated percentile within 5% of each series' spread —
    the pinned APPROX-class error bound for ts_quantiles_approx."""
    from nibbledb_spark.queries import ts_quantiles, ts_quantiles_approx

    exact = {r["series"]: r for r in ts_quantiles(spark, SF).collect()}
    approx = {r["series"]: r for r in ts_quantiles_approx(spark, SF).collect()}
    assert set(exact) == set(approx)
    from nibbledb_spark.sources.registry import points_from_events

    spread = {
        r["series"]: (r["hi"] - r["lo"]) or 1.0
        for r in points_from_events(spark, SF)
        .groupBy("series")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .collect()
    }
    for s, ex in exact.items():
        for p in ("p25", "p50", "p75", "p95"):
            err = abs(ex[p] - approx[s][p])
            assert err <= 0.05 * spread[s], (s, p, err, spread[s])


# ---------------------------------------------------------------------------
# stop-shingle cap (skew guard for the near-dup join at corpus scale)
# ---------------------------------------------------------------------------


def _skewed_corpus(spark, n_docs: int = 50):
    """Every doc shares one boilerplate sentence (hot shingles, df=n_docs);
    each has a unique tail — except docs 0 and 1, which share a rare tail
    (the planted near-dup detectable from low-df shingles alone)."""
    boiler = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    rows = []
    for i in range(n_docs):
        tail = "kilo lima mike november oscar" if i <= 1 else f"uniq{i}a uniq{i}b uniq{i}c uniq{i}d uniq{i}e"
        rows.append((i, f"{boiler} {tail}"))
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_stop_shingle_cap_drops_hot_join_groups(spark):
    """With the cap on, boilerplate-only pairs vanish (their shared
    shingles exceed the doc-freq cap) while the planted rare-tail pair
    survives at Jaccard 1.0 over the capped universe. Uncapped, every
    pair of the 50 docs is a candidate — the quadratic blow-up the cap
    exists to prevent."""
    from nibbledb_spark.operators.dedup import ngram_jaccard_pairs

    docs = _skewed_corpus(spark)
    capped = ngram_jaccard_pairs(docs, threshold=0.99, max_doc_freq=5).collect()
    assert [(r["id1"], r["id2"]) for r in capped] == [(0, 1)]
    assert capped[0]["jaccard"] == pytest.approx(1.0)

    uncapped = ngram_jaccard_pairs(docs, threshold=0.0, max_doc_freq=None)
    # all C(50,2) pairs share >=1 (boilerplate) shingle: the candidate set
    # is quadratic in the hot-shingle doc count
    assert uncapped.count() == 50 * 49 // 2


def test_clean_corpus_default_cap_matches_exact_at_test_scale(spark):
    """DEFAULT_MAX_SHINGLE_DF=256 never binds on the sf0.001 documents
    table (no trigram appears in >256 docs), so the default-capped
    production path returns byte-identical survivors to the uncapped
    exact variant — the cap only changes results where it actually
    guards against skew."""
    from nibbledb_spark.operators.pipeline import clean_corpus
    from nibbledb_spark.queries import _t

    docs = _t(spark, SF, "documents")
    capped = [r["doc_id"] for r in clean_corpus(docs).collect()]
    exact = [r["doc_id"] for r in clean_corpus(docs, max_shingle_doc_freq=None).collect()]
    assert capped == exact and len(capped) > 0


# ---------------------------------------------------------------------------
# statistical ANN recall (VERDICT r1 item 10): aggregate recall@k >= 0.9
# over >= 100 random queries, not just planted-twin floors
# ---------------------------------------------------------------------------


def _clustered_vectors(n_clusters=20, per_cluster=100, n_queries=120, dim=64, noise=0.04):
    """Deterministic clustered corpus — the regime ANN indexes are for
    (real embedding spaces are clustered; the uniform-random table is the
    adversarial no-structure case covered by the floor tests above).
    Ids 0..n_clusters-1 ARE the cluster centers, so ivf_topk's
    lowest-ids centroid heuristic picks exactly one centroid per cluster."""
    import numpy as np

    rng = np.random.default_rng(0)
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    corpus = [centers[i].copy() for i in range(n_clusters)]
    for i in range(n_clusters * per_cluster - n_clusters):
        corpus.append(centers[i % n_clusters] + noise * rng.normal(size=dim))
    queries = [
        centers[i % n_clusters] + noise * rng.normal(size=dim)
        for i in range(n_queries)
    ]
    return np.array(corpus), np.array(queries)


def _exact_topk_numpy(corpus, queries, k):
    """Ground-truth cosine top-k on the driver (independent of any Spark
    code path under test)."""
    import numpy as np

    c = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    q = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    sims = q @ c.T
    return {
        qi + 10_000: set(np.argsort(-sims[qi])[:k].tolist())
        for qi in range(len(queries))
    }


def _mean_recall(ann_rows, truth, k):
    got: dict[int, set] = {}
    for r in ann_rows:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return sum(
        len(got.get(qid, set()) & nbrs) / k for qid, nbrs in truth.items()
    ) / len(truth)


def test_semdedup_model_equality(spark, embeddings):
    """semdedup == a numpy brute-force replica of the declared policy:
    nearest-of-8-lowest-id-centroids assignment (ties to lowest cid),
    then the higher id of every within-cluster cos>eps pair drops."""
    import numpy as np

    from nibbledb_spark.operators.similarity import semdedup

    eps = 0.35
    rows = embeddings.select("vec_id", "embedding").orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows])
    M = np.array([r["embedding"] for r in rows], dtype=np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    C = Mn[:8]  # 8 lowest-id centroids
    cid_idx = (Mn @ C.T).argmax(axis=1)  # argmax = first max = lowest cid
    expect_drop = set()
    for c in range(8):
        idx = np.where(cid_idx == c)[0]
        S = Mn[idx] @ Mn[idx].T
        a, b = np.triu_indices(len(idx), 1)
        expect_drop.update(ids[idx[np.maximum(a, b)[S[a, b] > eps]]].tolist())
    expect_keep = {(int(i), int(ids[cid_idx[k]])) for k, i in enumerate(ids) if i not in expect_drop}

    got = {(r["vec_id"], r["cid"]) for r in semdedup(embeddings, eps).collect()}
    assert got == expect_keep
    assert 0 < len(expect_drop) < len(ids)  # non-trivial at this eps


def test_semdedup_kept_set_is_eps_separated(spark, embeddings):
    """Policy invariants: (a) no two KEPT docs in the same cluster are
    closer than eps (the dedup guarantee); (b) planted exact twins
    (cos=1 to a lower-id original) always drop. Drop-cause exactness is
    covered by test_semdedup_model_equality's full-set comparison."""
    from nibbledb_spark.operators.similarity import cosine, semdedup

    eps = 0.35
    base = embeddings.select("vec_id", "embedding")
    twins = base.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    corpus = base.unionByName(twins)
    kept = semdedup(corpus, eps).cache()

    # (c) every twin (cos=1 to its lower-id original) must drop
    assert kept.where(F.col("vec_id") >= 10_000).count() == 0
    # (a) no surviving within-cluster pair above eps
    v = corpus.withColumnRenamed("vec_id", "id")
    k = kept.join(v, kept.vec_id == v.id).select("vec_id", "cid", "embedding")
    a, b = k.alias("a"), k.alias("b")
    close = (
        a.join(b, (F.col("a.cid") == F.col("b.cid")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .where(cosine(F.col("a.embedding"), F.col("b.embedding")) > eps)
        .count()
    )
    assert close == 0
    kept.unpersist()


@pytest.fixture(scope="module")
def clustered_ann(spark):
    corpus_np, queries_np = _clustered_vectors()
    schema = "vec_id int, embedding array<double>"
    corpus = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(corpus_np)], schema
    )
    queries = spark.createDataFrame(
        [(10_000 + i, v.tolist()) for i, v in enumerate(queries_np)], schema
    )
    truth = _exact_topk_numpy(corpus_np, queries_np, 5)
    return corpus, queries, truth


def test_ivf_statistical_recall(spark, clustered_ann):
    """IVF with nprobe=3 of 20 lists (15% of the corpus scored) must
    average recall@5 >= 0.9 over 120 queries."""
    from nibbledb_spark.operators.similarity import ivf_topk

    corpus, queries, truth = clustered_ann
    out = ivf_topk(corpus, queries, 5, n_centroids=20, nprobe=3).collect()
    r = _mean_recall(out, truth, 5)
    assert r >= 0.9, f"IVF mean recall@5 = {r:.3f}"


def test_srp_statistical_recall(spark, clustered_ann):
    """SRP-LSH with 8 tables x 8 planes (expected non-neighbor collision
    0.5^8 ~ 0.4% per table, so a few % of the corpus scored per query)
    must average recall@5 >= 0.9 over 120 queries. Hyperplanes are
    fixed, so the number is deterministic."""
    from nibbledb_spark.operators.similarity import srp_topk

    corpus, queries, truth = clustered_ann
    out = srp_topk(
        corpus, queries, 5, dim=64, n_planes=8, n_tables=8
    ).collect()
    r = _mean_recall(out, truth, 5)
    assert r >= 0.9, f"SRP mean recall@5 = {r:.3f}"


def test_srp_near_dup_subset_and_clustered_recall(spark, clustered_ann):
    """SRP-bucketed near-dup output is always a subset of the exact
    variant (LSH only prunes candidates); on the clustered corpus it
    must recover >= 90% of the true pairs at cos >= 0.9."""
    from nibbledb_spark.operators.similarity import (
        near_dup_pairs_cosine,
        near_dup_pairs_srp,
    )

    corpus, _, _ = clustered_ann
    sub = corpus.where(F.col("vec_id") < 400)
    exact = {
        (r["id1"], r["id2"]) for r in near_dup_pairs_cosine(sub, 0.9).collect()
    }
    approx = {
        (r["id1"], r["id2"])
        for r in near_dup_pairs_srp(sub, 0.9, dim=64, n_planes=8, n_tables=8).collect()
    }
    assert approx <= exact
    assert len(exact) > 0
    assert len(approx) / len(exact) >= 0.9


# ---------------------------------------------------------------------------
# connected components (dedup clustering)
# ---------------------------------------------------------------------------


def test_connected_components_chain_and_islands(spark):
    """A 4-chain (1-2, 2-3, 3-4) collapses to one component rooted at 1
    even though 1 and 4 share no edge — the transitivity pairwise
    dropping gets wrong; a separate pair (10, 11) and the edgeless node
    stay distinct."""
    from nibbledb_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], "src long, dst long"
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges, "src", "dst").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_max_iter_guard(spark):
    """A path graph longer than max_iter rounds must raise, not return a
    half-propagated labeling."""
    from nibbledb_spark.operators.graph import connected_components

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(path, "src", "dst", max_iter=2)


def test_near_dup_components_keep_one_per_cluster(spark):
    """End-to-end policy check on a planted chain a~b~c (a !~ c): one
    component, so 'keep id == component' keeps exactly doc a; the
    unrelated doc is its own singleton."""
    from nibbledb_spark.operators.dedup import near_dup_components

    # b overlaps heavily with both a and c; a and c share less than the
    # threshold requires (chain, not clique)
    docs = spark.createDataFrame(
        [
            (1, "alpha bravo charlie delta echo foxtrot golf hotel"),
            (2, "alpha bravo charlie delta echo foxtrot golf india"),
            (3, "charlie delta echo foxtrot golf india juliet kilo"),
            (9, "zulu yankee xray whiskey victor uniform tango sierra"),
        ],
        "doc_id long, text string",
    )
    comp = {
        r["doc_id"]: r["component"]
        for r in near_dup_components(docs, threshold=0.5).collect()
    }
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[9] == 9
    # sanity: the pairwise relation really is a chain (1~3 below threshold)
    from nibbledb_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {(r["id1"], r["id2"]) for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs == {(1, 2), (2, 3)}


def test_kmeans_centroids_beat_fixed_init(spark, clustered_ann):
    """Lloyd-refined centroids must strictly improve IVF recall where
    the lowest-id init is weak (nprobe=1, 12 lists), and never regress
    at the default setting. Determinism: scaled-long means make the
    centroids — and so both recalls — identical across runs."""
    from nibbledb_spark.operators.similarity import ivf_topk, kmeans_centroids

    corpus, queries, truth = clustered_ann
    fixed = ivf_topk(corpus, queries, 5, n_centroids=12, nprobe=1).collect()
    cents = kmeans_centroids(corpus, 12, n_iter=3)
    km = ivf_topk(corpus, queries, 5, nprobe=1, centroids=cents).collect()
    r_fixed = _mean_recall(fixed, truth, 5)
    r_km = _mean_recall(km, truth, 5)
    assert r_km >= 0.95, f"kmeans IVF recall@5 = {r_km:.3f}"
    assert r_km > r_fixed, (r_km, r_fixed)


# ---------------------------------------------------------------------------
# PII scrub + repetition signals (planted fixtures: the synthetic corpus
# contains neither PII nor newlines, so the oracle match alone is weak)
# ---------------------------------------------------------------------------


def test_pii_scrub_redacts_planted_pii(spark):
    from nibbledb_spark.operators.text import pii_scrub

    docs = spark.createDataFrame(
        [
            (1, "contact bob.smith+x@corp.example.com or +1 (44) 555-0199 now"),
            (2, "server at 10.0.42.7 responded; also 192.168.0.1 down"),
            (3, "clean text with no identifiers at all"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in pii_scrub(docs).collect()}
    assert (out[1]["n_email"], out[1]["n_phone"]) == (1, 1)
    assert out[2]["n_ipv4"] == 2
    assert (out[3]["n_email"], out[3]["n_ipv4"], out[3]["n_phone"]) == (0, 0, 0)
    # redaction changes the bytes exactly when something was found
    import hashlib

    assert out[3]["scrubbed_md5"] == hashlib.md5(
        b"clean text with no identifiers at all"
    ).hexdigest()
    assert out[1]["scrubbed_md5"] == hashlib.md5(
        b"contact <EMAIL> or <PHONE> now"
    ).hexdigest()


def test_winnow_fingerprints_guarantee_and_brute_force(spark, docs):
    """Winnowing invariants: (a) the selection equals a literal python
    reimplementation of Schleimer et al.'s algorithm (min per window,
    rightmost on hash ties) over the fixture corpus; (b) the locality
    guarantee — two docs sharing a >= w+k-1 token run share a selected
    fingerprint; (c) every doc with >= k tokens gets >= 1 fingerprint;
    (d) parameter validation."""
    import hashlib

    from nibbledb_spark.operators.text import winnow_fingerprints

    k, w = 3, 4

    def brute(text):
        toks = __import__("re").split(r"\s+", text)
        grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
        hs = [
            int(hashlib.md5(g.encode()).hexdigest()[:10], 16) for g in grams
        ]
        if not hs:
            return set()
        sel = set()
        for i in range(max(len(hs) - w, 0) + 1):
            win = hs[i : i + w]
            m = min(win)
            pos = i + max(j for j, h in enumerate(win) if h == m)
            sel.add((pos, m))
        return sel

    sample = docs.limit(50)
    got = {}
    for r in winnow_fingerprints(sample, k=k, w=w).collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["fp"]))
    for r in sample.select("doc_id", "text").collect():
        assert got.get(r["doc_id"], set()) == brute(r["text"]), r["doc_id"]
    # locality guarantee on a planted >= w+k-1 = 6-token shared run
    shared = "alpha beta gamma delta epsilon zeta"
    pair = spark.createDataFrame(
        [(1, "one two " + shared + " three"), (2, shared + " four five six")],
        "doc_id long, text string",
    )
    fps = {}
    for r in winnow_fingerprints(pair, k=k, w=w).collect():
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    assert fps[1] & fps[2], "shared 6-token run must share a fingerprint"
    assert all(len(v) >= 1 for v in fps.values())
    import pytest as _pytest

    with _pytest.raises(ValueError, match="k"):
        winnow_fingerprints(pair, k=0)
    with _pytest.raises(ValueError, match="w"):
        winnow_fingerprints(pair, w=0)


def test_winnow_fingerprints_kgram_cap_enforced(spark):
    """A document past 2^20 k-grams would make the packed
    ``hash*2^20 + (cap-1-pos)`` encoding go NEGATIVE and silently
    corrupt both fp and pos; the operator must fail loudly instead.
    The guard is a per-row assert_true on the k-gram COUNT, so the
    raise happens before any of the million k-gram hashes are computed
    (this test finishes in seconds, not minutes)."""
    from pyspark.errors import SparkRuntimeException

    from nibbledb_spark.operators.text import _WINNOW_POS_CAP, winnow_fingerprints

    import pytest as _pytest

    k = 3
    n_tokens = _WINNOW_POS_CAP + k  # => cap+1 k-grams, one past the bound
    big = spark.createDataFrame(
        [(7, " ".join(["tok"] * n_tokens))], "doc_id long, text string"
    )
    with _pytest.raises(SparkRuntimeException, match="exceeds"):
        winnow_fingerprints(big, k=k).count()
    # The bound is inclusive (n_kg <= cap): an exactly-at-cap doc is
    # valid but computing its 2^20 interpreted k-gram hashes takes
    # minutes, so the happy path is covered by the small-doc tests
    # above rather than a full at-cap run.


def test_winnow_near_dup_pairs_planted_and_capped(spark):
    """The MOSS match step: a planted heavy-overlap pair is found with
    containment near 1 for the contained doc; an unrelated doc pairs
    with nobody; min_shared filters single-fingerprint coincidences;
    the stop-fingerprint cap drops a corpus-wide boilerplate run that
    would otherwise pair everything."""
    from nibbledb_spark.operators.dedup import winnow_near_dup_pairs

    body = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, body + " unique one two three"),
            (2, body),  # wholly contained in doc 1
            (3, "totally different words with no overlap at all here"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r["id1"], r["id2"]): r
        for r in winnow_near_dup_pairs(docs, min_shared=2).collect()
    }
    assert (1, 2) in out
    assert out[(1, 2)]["containment"] == 1.0  # doc 2's fps all in doc 1
    assert not any(3 in p for p in out)
    # boilerplate cap: a shared prefix in every doc pairs everything
    # without the cap, nothing with it
    boiler = "same header line for every document in the corpus"
    bdocs = spark.createDataFrame(
        [(i, boiler + f" tail{i} x{i} y{i} z{i}") for i in range(1, 5)],
        "doc_id long, text string",
    )
    assert winnow_near_dup_pairs(bdocs, min_shared=1).count() == 6  # all pairs
    assert (
        winnow_near_dup_pairs(bdocs, min_shared=1, max_doc_freq=2).count() == 0
    )


def test_repetition_stats_flags_duplicated_content(spark):
    from nibbledb_spark.operators.text import repetition_stats

    boiler = "the same line repeated"
    docs = spark.createDataFrame(
        [
            (1, "\n".join([boiler] * 4 + ["one unique line"])),
            (2, "all lines here\nare different\nfrom each other"),
            (3, "spam spam spam spam spam spam"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    # doc 1: 5 lines, 2 distinct -> dup fraction 3/5; dup chars 4*22 of 4*22+15
    assert out[1]["n_lines"] == 5
    assert out[1]["dup_line_fraction"] == pytest.approx(3 / 5)
    assert out[1]["dup_line_char_fraction"] == pytest.approx(88 / 103)
    assert out[2]["dup_line_fraction"] == 0.0
    assert out[2]["dup_line_char_fraction"] == 0.0
    # doc 3: every bigram is "spam spam" -> fraction 1.0
    assert out[3]["top_bigram_fraction"] == pytest.approx(1.0)
    assert out[3]["mean_word_len"] == pytest.approx(4.0)


def test_star_components_long_path_few_rounds(spark):
    """A 60-hop path: hash-min would need ~60 rounds (> its max_iter);
    the star variant converges within its default 30-round budget —
    the O(log n) property that makes it the scale path for
    long-diameter graphs."""
    from nibbledb_spark.operators.graph import connected_components_star

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "src long, dst long"
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components_star(path, "src", "dst").collect()
    }
    assert got == {i: 0 for i in range(61)}


def test_ivf_assign_matches_the_window_form(spark):
    """ivf_assign's per-id aggregate picks the head of the window form
    ``ORDER BY cos DESC, cid ASC``: identical centroids tie to the lower
    cid, a NaN cosine (Spark orders NaN greatest) goes to the lowest
    cid, and a repeated id keeps one row — the vector that scores best.
    ``vn`` is ``l2_norm(v)`` bit for bit. The NaN comes from a NaN
    component: a zero vector's 0/0 raises DIVIDE_BY_ZERO under ANSI in
    both forms."""
    from pyspark.sql import Window

    from nibbledb_spark.operators.similarity import cosine, ivf_assign, l2_norm

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]), (2, [0.0, 1.0, 0.0])],
        "cid int, cvec array<double>",
    )
    corpus = spark.createDataFrame(
        [
            (1, [0.0, 2.0, 0.0]),  # cid 1 and 2 tie
            (2, [float("nan"), 1.0, 0.0]),  # NaN against every centroid
            (3, [1.0, 0.2, 0.0]),  # repeated id: this one scores 0.98 ...
            (3, [0.1, 1.0, 0.0]),  # ... this one 0.995 and wins
            (4, [1.0, 1.0, 0.0]),  # a three-way tie
            (5, [-1.0, 0.5, 0.25]),
        ],
        "vec_id long, embedding array<double>",
    )
    got = ivf_assign(corpus, cents).collect()

    w = Window.partitionBy("id").orderBy(F.col("cos").desc(), F.col("cid").asc())
    ref = (
        corpus.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
        .crossJoin(cents.select("cid", F.col("cvec").alias("cv")))
        .select("id", "cid", cosine("v", "cv").alias("cos"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("id", "cid")
    )
    assert sorted((r["id"], r["cid"]) for r in got) == sorted(
        (r["id"], r["cid"]) for r in ref.collect()
    )
    assert {r["id"]: r["cid"] for r in got} == {1: 1, 2: 0, 3: 1, 4: 0, 5: 1}
    assert [r["v"] for r in got if r["id"] == 3] == [[0.1, 1.0, 0.0]]

    norms = (
        spark.createDataFrame(got)
        .select("vn", l2_norm(F.col("v")).alias("ref"))
        .collect()
    )
    assert len(norms) == 5
    assert all(r["vn"].hex() == r["ref"].hex() for r in norms)


def test_persisted_ivf_index_roundtrip(spark, clustered_ann, tmp_path):
    """build_ivf_index -> parquet; ivf_topk_indexed over the stored
    index must equal the in-memory ivf_topk with the same k-means
    centroids, and the probe scan must partition-prune the posting
    lists (cid is a partition column)."""
    from nibbledb_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk,
        ivf_topk_indexed,
        kmeans_centroids,
    )

    corpus, queries, truth = clustered_ann
    path = str(tmp_path / "ivf")
    build_ivf_index(corpus, path, n_centroids=12, kmeans_iters=3)

    got = sorted(
        tuple(r)
        for r in ivf_topk_indexed(spark, path, queries, 5, nprobe=2).collect()
    )
    cents = kmeans_centroids(corpus, 12, n_iter=3)
    want = sorted(
        tuple(r)
        for r in ivf_topk(corpus, queries, 5, nprobe=2, centroids=cents).collect()
    )
    assert got == want and len(got) > 0

    # recall stays at the k-means level on the clustered corpus
    r = _mean_recall(
        ivf_topk_indexed(spark, path, queries, 5, nprobe=2).collect(), truth, 5
    )
    assert r >= 0.95

    # partition pruning: scanning one probed list reads only its directory
    import glob as g

    assert len(g.glob(path + "/postings/cid=*")) == 12
    one = spark.read.parquet(path + "/postings").where(F.col("cid") == 3)
    plan_str = one._jdf.queryExecution().executedPlan().toString()
    assert "cid" in plan_str
    assert one.count() > 0


def test_persisted_srp_index_roundtrip(spark, clustered_ann, tmp_path):
    """build_srp_index -> parquet; srp_topk_indexed over the stored
    signature tables must equal the in-memory srp_topk with the same
    frozen hyperplanes (round-14 verdict task 4: the production
    persisted-signature shape), and the posting layout must be
    (t, sig)-partitioned so probes prune to the query buckets."""
    from nibbledb_spark.operators.similarity import (
        build_srp_index,
        srp_topk,
        srp_topk_indexed,
    )

    corpus, queries, _ = clustered_ann
    path = str(tmp_path / "srp")
    build_srp_index(corpus, path, dim=8, n_planes=5, n_tables=3)

    got = sorted(
        tuple(r)
        for r in srp_topk_indexed(spark, path, queries, 5).collect()
    )
    want = sorted(
        tuple(r)
        for r in srp_topk(
            corpus, queries, 5, dim=8, n_planes=5, n_tables=3
        ).collect()
    )
    assert got == want and len(got) > 0

    # layout (r15): plain parquet clustered by (t, sig) — no per-bucket
    # hive directories — with driver-written meta.json; probes prune via
    # a PUSHED (t, sig) filter against the sorted row groups.
    import glob as g
    import os as _os

    assert g.glob(path + "/postings/*.parquet")
    assert not g.glob(path + "/postings/t=*")
    assert _os.path.exists(path + "/meta.json")
    probe_plan = srp_topk_indexed(
        spark, path, queries, 5
    )._jdf.queryExecution().executedPlan().toString()
    pushed = [
        ln.split("PushedFilters:", 1)[1]
        for ln in probe_plan.splitlines()
        if "PushedFilters" in ln
    ]
    # Catalyst prints a 1-element isin as EqualTo(sig,..) (clustered
    # fixtures collapse all query buckets to one sig); either form
    # proves the bucket predicate reached the parquet scan.
    assert any("sig" in p for p in pushed), probe_plan
    # every vector appears once per table
    n = corpus.count()
    assert (
        spark.read.parquet(path + "/postings").count() == 3 * n
    )


def test_dedup_lines_global_keeps_first_occurrence(spark):
    """Boilerplate shared across docs survives only in the earliest
    (doc, pos); unique lines always survive; fully-boilerplate docs
    come back empty but are never dropped."""
    from nibbledb_spark.operators.dedup import dedup_lines_global

    docs = spark.createDataFrame(
        [
            (1, "COPYRIGHT 2024\nalpha content\nCOPYRIGHT 2024"),
            (2, "COPYRIGHT 2024\nbeta content"),
            (3, "COPYRIGHT 2024"),
            (4, "gamma content"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["cleaned_text"] for r in dedup_lines_global(docs).collect()}
    # doc 1 owns the first COPYRIGHT (pos 0); its own second copy (pos 2)
    # and every later doc's copy are removed
    assert out[1] == "COPYRIGHT 2024\nalpha content"
    assert out[2] == "beta content"
    assert out[3] == ""
    assert out[4] == "gamma content"


def test_strip_frequent_lines_removes_boilerplate_everywhere(spark):
    """A line in more than max_doc_frac of docs is removed from EVERY
    doc (unlike dedup_lines_global's keep-first); rare lines survive in
    order; n_removed counts every stripped occurrence; a doc of pure
    boilerplate comes back empty but never drops."""
    from nibbledb_spark.operators.dedup import strip_frequent_lines

    docs = spark.createDataFrame(
        [
            (1, "COPYRIGHT 2024\nalpha content\nCOPYRIGHT 2024"),
            (2, "COPYRIGHT 2024\nbeta content"),
            (3, "COPYRIGHT 2024"),
            (4, "gamma content\ndelta content"),
        ],
        "doc_id long, text string",
    )
    # COPYRIGHT appears in 3/4 docs > 0.5 -> boilerplate everywhere
    out = {
        r["doc_id"]: (r["cleaned_text"], r["n_removed"])
        for r in strip_frequent_lines(docs, max_doc_frac=0.5).collect()
    }
    assert out[1] == ("alpha content", 2)  # both copies stripped
    assert out[2] == ("beta content", 1)
    assert out[3] == ("", 1)
    assert out[4] == ("gamma content\ndelta content", 0)
    # frac 1.0 keeps everything (df can never exceed the corpus)
    keep_all = strip_frequent_lines(docs, max_doc_frac=1.0)
    assert keep_all.agg(F.sum("n_removed")).collect()[0][0] == 0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_doc_frac"):
        strip_frequent_lines(docs, max_doc_frac=1.5)


def test_strip_frequent_lines_literal_sep_and_exact_threshold(spark):
    """Round-10 self-review pins: (a) ``sep`` is literal, so a regex
    metachar like '.' splits on dots — not on every character, which
    would empty the whole corpus; (b) the threshold quantizes by
    round(), not int() — int(0.6*10000) is 5999 under binary floats,
    so a unit in exactly 60% of docs would wrongly strip."""
    from nibbledb_spark.operators.dedup import strip_frequent_lines

    docs = spark.createDataFrame(
        [(1, "FOO.alpha"), (2, "FOO.beta"), (3, "gamma.delta")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["cleaned_text"], r["n_removed"])
        for r in strip_frequent_lines(
            docs, sep=".", max_doc_frac=0.5
        ).collect()
    }
    assert out[1] == ("alpha", 1)  # FOO in 2/3 docs > 0.5
    assert out[2] == ("beta", 1)
    assert out[3] == ("gamma.delta", 0)
    # exactly-at-threshold keeps: unit in 3 of 5 docs, frac 0.6
    docs5 = spark.createDataFrame(
        [(i, "COMMON\nrare%d" % i if i <= 3 else "rare%d" % i) for i in range(1, 6)],
        "doc_id long, text string",
    )
    at = strip_frequent_lines(docs5, max_doc_frac=0.6)
    assert at.agg(F.sum("n_removed")).collect()[0][0] == 0


def test_ngram_novelty_planted_fixture(spark):
    """Novelty semantics on a planted corpus: first doc 1.0, an exact
    copy 0.0, a half-copy in between, a too-short doc NULL with zero
    counts — and first-ownership goes to the MIN doc id."""
    from nibbledb_spark.operators.dedup import ngram_novelty

    fresh = "alpha beta gamma delta epsilon zeta eta theta"
    other = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [
            (1, fresh),
            (2, fresh),  # exact copy: nothing novel
            (3, fresh + " " + other),  # half old, half new (plus seam)
            (4, "tiny doc"),  # < n tokens: no shingles
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in ngram_novelty(docs).collect()}
    assert out[1]["novelty"] == 1.0
    assert out[2]["novelty"] == 0.0 and out[2]["n_grams"] == out[1]["n_grams"]
    assert 0.0 < out[3]["novelty"] < 1.0
    assert out[4]["n_grams"] == 0 and out[4]["novelty"] is None


def test_containment_catches_subset_jaccard_misses(spark):
    """The asymmetric case containment exists for: a short doc wholly
    quoted inside a much longer one. Containment scores it 1.0;
    trigram Jaccard stays under 0.5 because the union is dominated by
    the long doc."""
    from nibbledb_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "the quick brown fox jumps over the lazy dog tonight"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, quote), (2, filler + " " + quote + " " + filler.upper())],
        "doc_id long, text string",
    )
    cont = ngram_containment_pairs(docs, threshold=0.9).collect()
    assert [(r["id1"], r["id2"], r["containment"]) for r in cont] == [(1, 2, 1.0)]
    jac = ngram_jaccard_pairs(docs, threshold=0.5).collect()
    assert jac == [], "Jaccard must miss the subset pair"


def test_substring_spans_find_embedded_paragraph(spark):
    """The round-5 verdict's acceptance case: a >= min_tokens paragraph
    duplicated INSIDE two otherwise-unique documents, phrased so the
    line granularity differs (the shared tokens sit on different lines
    in each doc). dedup_lines_global must MISS it (no identical line),
    substring_dup_spans must report exactly the maximal span."""
    from nibbledb_spark.operators.dedup import (
        dedup_lines_global,
        substring_dup_extent,
        substring_dup_spans,
    )

    para = " ".join(f"shared{i}" for i in range(20))  # 20-token paragraph
    docs = spark.createDataFrame(
        [
            # doc 1: paragraph split across two lines after token 7
            (1, "intro one two\n" + " ".join(para.split()[:7]) + "\n"
                + " ".join(para.split()[7:]) + "\nunique tail alpha"),
            # doc 2: same paragraph on a single line, different context
            (2, "different opening words here\n" + para + "\nomega closing"),
            (3, "totally unrelated content entirely"),
        ],
        "doc_id long, text string",
    )
    # line dedup sees no identical line -> every doc survives unchanged
    cleaned = {
        r["doc_id"]: r["cleaned_text"]
        for r in dedup_lines_global(docs).collect()
    }
    assert "shared0" in cleaned[1] and "shared0" in cleaned[2]
    # span dedup finds the embedded paragraph as ONE maximal 20-token span
    spans = substring_dup_spans(docs, min_tokens=15).collect()
    assert len(spans) == 1
    s = spans[0]
    assert (s["doc_id1"], s["doc_id2"], s["len_tokens"]) == (1, 2, 20)
    # offsets: doc 1 tokens: intro one two (3) -> para starts at 4 (1-based)
    # doc 2: different opening words here (4) -> para starts at 5
    assert (s["start1"], s["start2"]) == (4, 5)
    # extent: 20 of each doc's tokens are duplicated; doc 3 clean
    ext = {r["doc_id"]: r for r in substring_dup_extent(docs, min_tokens=15).collect()}
    assert ext[1]["dup_tokens"] == 20 and ext[2]["dup_tokens"] == 20
    assert ext[3]["dup_tokens"] == 0 and ext[3]["dup_frac"] == 0.0


def test_substring_spans_merge_overlapping_partners(spark):
    """Interval-union semantics: one doc sharing overlapping spans with
    two different partners counts overlapping tokens once, and two
    separate spans within one doc pair merge only when adjacent runs
    actually touch."""
    from nibbledb_spark.operators.dedup import substring_dup_extent

    block = " ".join(f"w{i}" for i in range(30))  # tokens w0..w29
    head = " ".join(f"w{i}" for i in range(20))  # w0..w19 (prefix)
    tail = " ".join(f"w{i}" for i in range(10, 30))  # w10..w29 (suffix)
    docs = spark.createDataFrame(
        [
            (1, block),  # whole block
            (2, head + " endA unique1"),  # shares w0..w19 with doc 1
            (3, "startB uniq2 " + tail),  # shares w10..w29 with doc 1
        ],
        "doc_id long, text string",
    )
    ext = {r["doc_id"]: r for r in substring_dup_extent(docs, min_tokens=15).collect()}
    # doc 1: [1,21) from doc2 and [11,31) from doc3 union to all 30 tokens
    assert ext[1]["dup_tokens"] == 30
    assert ext[2]["dup_tokens"] == 20
    assert ext[3]["dup_tokens"] == 20


def test_clean_corpus_repetition_gate_subset(spark):
    """Gated survivors are a strict subset of the ungated run at sf0.01
    (the gate binds there), and every dropped-by-gate doc really
    exceeds the top-bigram threshold."""
    from nibbledb_spark.operators.pipeline import clean_corpus
    from nibbledb_spark.operators.text import repetition_stats
    from nibbledb_spark.queries import _t

    docs = _t(spark, "/root/testdata/sf0.01", "documents")
    plain = {r["doc_id"] for r in clean_corpus(docs).collect()}
    gated = {r["doc_id"] for r in clean_corpus(docs, max_top_bigram_fraction=0.08).collect()}
    assert gated < plain
    over = {
        r["doc_id"]
        for r in repetition_stats(docs).collect()
        if r["top_bigram_fraction"] is not None and r["top_bigram_fraction"] > 0.08
    }
    assert (plain - gated) <= over


# ---------------------------------------------------------------------------
# Count-Min sketch (fixed-space frequency counting)
# ---------------------------------------------------------------------------


def test_cms_bounds_and_mergeability(spark):
    """CMS guarantees: estimates never undercount, overcount is bounded
    by N/width for every probed key on this data, and a sketch built on
    the whole frame equals the cellwise sum of per-half sketches (the
    property that makes it distributable)."""
    from nibbledb_spark.operators.sketch import cms_build, cms_estimate

    ev = spark.read.parquet(f"{SF}/events.parquet")
    n = ev.count()
    true = {r["event_type"]: r["c"] for r in ev.groupBy("event_type").agg(F.count("*").alias("c")).collect()}
    sketch = cms_build(ev, "event_type")
    est = {
        r["event_type"]: r["est_count"]
        for r in cms_estimate(sketch, ev.select("event_type").distinct(), "event_type").collect()
    }
    assert set(est) == set(true)
    for k, t in true.items():
        assert est[k] >= t, (k, est[k], t)
        assert est[k] <= t + n / 256 * 2, (k, est[k], t)

    # mergeability: sum of half-sketches == whole-frame sketch
    h1 = cms_build(ev.where(F.col("event_id") % 2 == 0), "event_type")
    h2 = cms_build(ev.where(F.col("event_id") % 2 == 1), "event_type")
    merged = (
        h1.unionByName(h2)
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    a = sorted(tuple(r) for r in merged.collect())
    b = sorted(tuple(r) for r in sketch.collect())
    assert a == b


# ---------------------------------------------------------------------------
# real image decode path (PPM/P6 — pure numpy, no codec libs)
# ---------------------------------------------------------------------------


def _ppm(w, h, rgb):
    """Binary PPM payload with constant color (r, g, b)."""
    header = f"P6\n# test\n{w} {h}\n255\n".encode()
    return header + bytes(rgb) * (w * h)


def test_ppm_decode_resize_and_features(spark):
    from nibbledb_spark.operators.multimodal import (
        decode_image,
        image_stats_features,
        resize_image,
    )

    arr = decode_image(_ppm(4, 3, (10, 200, 30)))
    assert arr.shape == (3, 4, 3)
    assert arr[0, 0].tolist() == [10, 200, 30]
    small = resize_image(arr, 2, 2)
    assert small.shape == (2, 2, 3)
    rows = [
        (1, "image", bytearray(_ppm(8, 8, (255, 0, 0))), None),
        (2, "image", bytearray(_ppm(4, 4, (0, 0, 0))), None),
        (3, "image", bytearray(b"\x89PNG not decodable"), None),
    ]
    from nibbledb_spark.operators.multimodal import MEDIA_SCHEMA

    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in image_stats_features(media).collect()}
    f1 = out[1]["feature"]
    assert out[1]["decoded"] and out[2]["decoded"]
    # constant red image: means (1, 0, 0), stds 0, luminance cells 1/3
    assert abs(f1[0] - 1.0) < 1e-6 and abs(f1[1]) < 1e-6 and abs(f1[2]) < 1e-6
    assert all(abs(x) < 1e-6 for x in f1[3:6])
    assert all(abs(c - (255 / 3) / 255) < 1e-6 for c in f1[6:])
    # black image: all zeros
    assert all(abs(x) < 1e-6 for x in out[2]["feature"])
    # corrupt payload: kept, flagged, null feature — batch survives
    assert out[3]["decoded"] is False and out[3]["feature"] is None


def _bmp(w, h, rgb, top_down=False):
    """Uncompressed 24-bit BI_RGB BMP with constant color (r, g, b)."""
    import struct

    r, g, b = rgb
    stride = (w * 3 + 3) & ~3
    row = bytes((b, g, r)) * w + b"\x00" * (stride - w * 3)
    pixels = row * h
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, (-h if top_down else h), 1, 24, 0,
        len(pixels), 2835, 2835, 0, 0,
    )
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(pixels), 0, 0, 14 + 40)
    return header + info + pixels


def test_bmp_decode_and_features(spark):
    """24-bit BMP decodes for real: bottom-up and top-down row order,
    4-byte row padding (w=3 forces it), BGR->RGB swap; palette/compressed
    BMPs hit the codec-absence seam; pipeline features match PPM's for
    the same pixels."""
    import pytest as _pytest

    from nibbledb_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_image,
        image_stats_features,
    )

    arr = decode_image(_bmp(3, 2, (10, 200, 30)))
    assert arr.shape == (2, 3, 3)
    assert arr[0, 0].tolist() == [10, 200, 30]
    assert (decode_image(_bmp(3, 2, (10, 200, 30), top_down=True)) == arr).all()
    import struct as _struct

    eight_bpp = bytearray(_bmp(3, 2, (1, 2, 3)))
    eight_bpp[28:30] = _struct.pack("<H", 8)
    with _pytest.raises(NotImplementedError):
        decode_image(bytes(eight_bpp))
    rows = [
        (1, "image", bytearray(_bmp(8, 8, (255, 0, 0))), None),
        (2, "image", bytearray(_ppm(8, 8, (255, 0, 0))), None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in image_stats_features(media).collect()}
    assert out[1]["decoded"] and out[2]["decoded"]
    assert out[1]["feature"] == out[2]["feature"]  # same pixels, same features


def _wav(freq_hz, rate=8000, seconds=0.5, amp=0.5, channels=1):
    """16-bit PCM WAV with a pure sine tone."""
    import math
    import struct

    n = int(rate * seconds)
    samples = b"".join(
        struct.pack(
            "<" + "h" * channels,
            *([int(amp * 32767 * math.sin(2 * math.pi * freq_hz * i / rate))] * channels),
        )
        for i in range(n)
    )
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * 2 * channels, 2 * channels, 16)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(samples)) + samples
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_wav_decode_and_audio_features(spark):
    from nibbledb_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        audio_stats_features,
        decode_audio,
    )

    samples, rate = decode_audio(_wav(440))
    assert rate == 8000 and samples.shape == (4000, 1)
    assert abs(abs(samples).max() - 0.5) < 0.01
    rows = [
        (1, "audio", bytearray(_wav(440)), None),
        (2, "audio", bytearray(_wav(40, amp=0.9)), None),
        (3, "audio", bytearray(b"ID3 not a wav"), None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in audio_stats_features(media).collect()}
    # sine RMS = amp / sqrt(2); zcr scales with frequency
    assert abs(out[1]["rms"] - 0.5 / 2**0.5) < 0.01
    assert abs(out[2]["rms"] - 0.9 / 2**0.5) < 0.01
    assert out[1]["zero_cross_rate"] > out[2]["zero_cross_rate"] * 5
    assert abs(out[1]["duration_s"] - 0.5) < 1e-9
    assert out[3]["decoded"] is False and out[3]["rms"] is None


def test_ivf_index_incremental_add(spark, tmp_path):
    """Index built on part of the corpus + ivf_index_add of the rest ==
    assigning the full corpus to the same (frozen) centroids: queries
    see the added vectors immediately, with identical results."""
    from nibbledb_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_add,
        ivf_topk,
        ivf_topk_indexed,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    old = e.where("vec_id < 400")
    new = e.where("vec_id >= 400")
    path = str(tmp_path / "ivf")
    build_ivf_index(old, path, n_centroids=8, kmeans_iters=2)
    ivf_index_add(spark, path, new)
    queries = e.where("vec_id < 5")
    got = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in ivf_topk_indexed(spark, path, queries, 5, nprobe=2).collect()
    )
    # expected: in-memory IVF over the FULL corpus with the index's own
    # frozen centroids
    cents = spark.read.parquet(f"{path}/centroids")
    want = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in ivf_topk(e, queries, 5, nprobe=2, centroids=cents).collect()
    )
    assert got == want
    # added vectors are actually reachable (some neighbor from the new half)
    assert any(nid >= 400 for (_, _, nid) in got) or len(got) == 25


def test_media_features_survive_null_and_degenerate_payloads(spark):
    """Corrupt-payload policy under the nasty cases: NULL payload,
    empty-data WAV, zero-rate WAV — flagged rows, not failed batches."""
    import struct

    from nibbledb_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        audio_stats_features,
        image_stats_features,
    )

    def wav_raw(rate, data):
        fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
        c = b"fmt " + struct.pack("<I", len(fmt)) + fmt
        c += b"data" + struct.pack("<I", len(data)) + data
        return b"RIFF" + struct.pack("<I", 4 + len(c)) + b"WAVE" + c

    rows = [
        (1, "audio", None, None),  # NULL payload
        (2, "audio", bytearray(wav_raw(8000, b"")), None),  # empty data
        (3, "audio", bytearray(wav_raw(0, b"\x00\x01" * 8)), None),  # rate 0
        (4, "audio", bytearray(_wav(440)), None),  # one good row
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in audio_stats_features(media).collect()}
    assert [out[i]["decoded"] for i in (1, 2, 3, 4)] == [False, False, False, True]
    img = spark.createDataFrame(
        [(1, "image", None, None), (2, "image", bytearray(_ppm(2, 2, (9, 9, 9))), None)],
        MEDIA_SCHEMA,
    )
    iout = {r["media_id"]: r for r in image_stats_features(img).collect()}
    assert iout[1]["decoded"] is False and iout[2]["decoded"] is True


def test_hostile_image_headers_flagged_not_fatal(spark):
    """Corrupt payloads with plausible magics but hostile dimensions
    (w=h=2^31-1 would overflow C ssize_t in frombuffer) must be flagged
    like any corrupt file, never kill the Arrow batch."""
    import struct

    from nibbledb_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        image_stats_features,
    )

    huge_bmp = bytearray(_bmp(2, 2, (1, 2, 3)))
    huge_bmp[18:26] = struct.pack("<ii", 2**31 - 1, 2**31 - 1)
    huge_ppm = b"P6\n2147483647 2147483647\n255\n" + b"\x00" * 12
    rows = [
        (1, "image", huge_bmp, None),
        (2, "image", bytearray(huge_ppm), None),
        (3, "image", bytearray(_bmp(2, 2, (9, 9, 9))), None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in image_stats_features(media).collect()}
    assert out[1]["decoded"] is False and out[1]["feature"] is None
    assert out[2]["decoded"] is False and out[2]["feature"] is None
    assert out[3]["decoded"] is True  # the healthy payload still decodes


def test_pq_adc_cluster_purity(spark, clustered_ann):
    """PQ ADC with a 16-codeword lowest-id codebook cannot separate
    vectors that quantize to the same codes, but it MUST land queries in
    the right cluster: every top-5 ADC result should belong to the
    query's own cluster (ids 0..19 are the cluster centers; member i
    belongs to cluster (i-20) % 20)."""
    from nibbledb_spark.operators.similarity import pq_adc_topk

    corpus, queries, _ = clustered_ann
    out = pq_adc_topk(corpus, queries, 5).collect()

    def cluster(i: int) -> int:
        return i if i < 20 else (i - 20) % 20

    ok = sum(
        1 for r in out if cluster(r["neighbor_id"]) == (r["query_id"] - 10_000) % 20
    )
    assert ok / len(out) >= 0.95, f"ADC own-cluster purity {ok / len(out):.3f}"


def test_pq_rerank_recall(spark, clustered_ann):
    """The full PQ pipeline (ADC candidates -> exact cosine rerank) must
    average recall@5 >= 0.95 with a 100-candidate pool (~5% of the
    corpus fetched per query). 50 candidates is KNOWN-insufficient here
    (~0.63): each cluster's ~100 members tie in the compressed domain,
    so the pool must cover a full tie group — that's the documented PQ
    contract, candidates-not-order."""
    from nibbledb_spark.operators.similarity import pq_topk_rerank

    corpus, queries, truth = clustered_ann
    out = pq_topk_rerank(corpus, queries, 5, n_candidates=100).collect()
    r = _mean_recall(out, truth, 5)
    assert r >= 0.95, f"PQ+rerank mean recall@5 = {r:.3f}"


def test_ivfpq_index_roundtrip(spark, clustered_ann, tmp_path):
    """IVF+PQ persisted index: probing EVERY list must reproduce the
    global ADC ranking exactly (IVF only restricts which lists
    contribute), the compressed-domain path must keep cluster-level
    recall at modest nprobe once reranked, and the posting lists must
    be partitioned for cid pruning and hold codes, not vectors."""
    from nibbledb_spark.operators.similarity import (
        build_ivfpq_index,
        ivfpq_topk_indexed,
        pq_adc_topk,
    )

    corpus, queries, truth = clustered_ann
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(corpus, path, n_centroids=12, kmeans_iters=3)

    # probe-all == global ADC, row for row
    got = sorted(
        tuple(r)
        for r in ivfpq_topk_indexed(spark, path, queries, 5, nprobe=12).collect()
    )
    want = sorted(tuple(r) for r in pq_adc_topk(corpus, queries, 5).collect())
    assert got == want and len(got) > 0

    # rerank restores true order over the candidate pool
    r = _mean_recall(
        ivfpq_topk_indexed(
            spark, path, queries, 5, nprobe=3, rerank_with=corpus, n_candidates=100
        ).collect(),
        truth,
        5,
    )
    assert r >= 0.95, f"IVFPQ+rerank mean recall@5 = {r:.3f}"

    # layout: partitioned lists of codes only (no vector column)
    import glob as g

    assert len(g.glob(path + "/postings/cid=*")) == 12
    post = spark.read.parquet(path + "/postings")
    assert set(post.columns) == {"id", "codes", "cid"}
    row = post.limit(1).collect()[0]
    assert len(row["codes"]) == 8


def test_ivfpq_index_incremental_add(spark, clustered_ann, tmp_path):
    """ivfpq_index_add with the frozen centroids+codebook must make the
    grown index answer exactly like global ADC over the union corpus:
    the codebook is the lowest-16-id convention and ids 0..15 live in
    the old half, so pq_adc_topk(union) uses the identical codebook —
    deterministic quantizers make arrival order invisible."""
    from nibbledb_spark.operators.similarity import (
        build_ivfpq_index,
        ivfpq_index_add,
        ivfpq_topk_indexed,
        pq_adc_topk,
    )

    corpus, queries, _ = clustered_ann
    old = corpus.where(F.col("vec_id") < 1500)
    new = corpus.where(F.col("vec_id") >= 1500)

    grown = str(tmp_path / "grown")
    build_ivfpq_index(old, grown, n_centroids=12, kmeans_iters=3)
    ivfpq_index_add(spark, grown, new)

    q5 = queries.limit(20)
    got = sorted(
        tuple(r) for r in ivfpq_topk_indexed(spark, grown, q5, 5, nprobe=12).collect()
    )
    want = sorted(tuple(r) for r in pq_adc_topk(corpus, q5, 5).collect())
    assert got == want and len(got) == 100


def _png_pack(img_pass, depth):
    """Pack one (sub-)image's pixels into PNG scanline bytes at any
    legal depth: straight bytes at 8, big-endian pairs at 16 (low byte
    arbitrary — the decoder's 8-bit view drops it), MSB-first bit
    packing below 8 (single channel only)."""
    import numpy as np

    ph, pw, ch = img_pass.shape
    if depth == 8:
        return img_pass.reshape(ph, pw * ch)
    if depth == 16:
        out = np.zeros((ph, pw * ch * 2), np.uint8)
        out[:, 0::2] = img_pass.reshape(ph, -1)
        out[:, 1::2] = 0x5A
        return out
    assert ch == 1
    bits = (
        (img_pass[:, :, 0:1] >> np.arange(depth - 1, -1, -1)) & 1
    ).astype(np.uint8).reshape(ph, pw * depth)
    pad = (-bits.shape[1]) % 8
    if pad:
        bits = np.pad(bits, ((0, 0), (0, pad)))
    return np.packbits(bits, axis=1)


def _png_filter_pass(rows, bpp, filter_type):
    """Forward-filter one (sub-)image's packed scanline bytes
    (encoder side); ``bpp`` is the filter delta distance in bytes."""
    import numpy as np

    h, stride = rows.shape
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        line = rows[y].astype(np.int32)
        raw.append(filter_type)
        if filter_type == 0:
            flt = line
        elif filter_type == 1:
            a = np.concatenate([np.zeros(bpp, np.int32), line[:-bpp]]) if stride > bpp else np.zeros(stride, np.int32)
            flt = (line - a) & 0xFF
        elif filter_type == 2:
            flt = (line - prev) & 0xFF
        elif filter_type == 3:
            a = np.concatenate([np.zeros(bpp, np.int32), line[:-bpp]]) if stride > bpp else np.zeros(stride, np.int32)
            flt = (line - ((a + prev) >> 1)) & 0xFF
        else:  # Paeth
            flt = np.empty(stride, np.int32)
            for i in range(stride):
                a = int(line[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                flt[i] = (line[i] - pred) & 0xFF
        raw.extend(flt.astype(np.uint8).tobytes())
        prev = line
    return bytes(raw)


_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _png_bytes(img, ctype, filter_type, interlace=0, palette=None, depth=8):
    """Spec-correct PNG encoder for the decode tests: every scanline
    uses ``filter_type`` (applying the filter forward so the decoder
    must invert it); proper chunk CRCs; one IDAT; optional Adam7
    interlacing (each pass packed + filtered independently), a PLTE
    chunk for palette images (ctype 3, img is (h, w, 1) indices), and
    any legal bit depth."""
    import struct
    import zlib

    h, w, ch = img.shape
    bpp = max(1, ch * depth // 8)

    def pass_bytes(sub):
        return _png_filter_pass(_png_pack(sub, depth), bpp, filter_type)

    if interlace == 0:
        raw = pass_bytes(img)
    else:
        raw = b"".join(
            pass_bytes(img[y0::dy, x0::dx])
            for x0, y0, dx, dy in _ADAM7
            if img[y0::dy, x0::dx].size
        )

    def chunk(typ, data):
        body = typ + data
        return struct.pack(">I", len(data)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF
        )

    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if palette is not None:
        out += chunk(b"PLTE", bytes(palette.reshape(-1)))
    return out + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")


def test_png_decode_all_filters_and_color_types(spark):
    """The pure-stdlib PNG decoder must invert every scanline filter
    (None/Sub/Up/Average/Paeth) exactly, expand grayscale, drop alpha,
    and flag hostile payloads instead of crashing."""
    import numpy as np

    from nibbledb_spark.operators.multimodal import decode_image

    rng = np.random.default_rng(7)
    rgb = rng.integers(0, 256, size=(7, 13, 3), dtype=np.uint8)
    for f in range(5):
        got = decode_image(_png_bytes(rgb, 2, f))
        assert np.array_equal(got, rgb), f"filter {f} round-trip"

    gray = rng.integers(0, 256, size=(5, 9, 1), dtype=np.uint8)
    got = decode_image(_png_bytes(gray, 0, 4))
    assert got.shape == (5, 9, 3)
    assert np.array_equal(got[:, :, 0], gray[:, :, 0])

    rgba = rng.integers(0, 256, size=(4, 6, 4), dtype=np.uint8)
    got = decode_image(_png_bytes(rgba, 6, 3))
    assert np.array_equal(got, rgba[:, :, :3])

    import pytest as _pytest

    with _pytest.raises(ValueError, match="truncated|size mismatch|corrupt"):
        decode_image(_png_bytes(rgb, 2, 0)[:-20])
    with _pytest.raises(ValueError, match="signature"):
        decode_image(b"\x89PNGxxxx")


def test_png_features_through_mapinpandas(spark):
    """PNG payloads flow through the same Arrow-batched feature seam as
    PPM/BMP: real pixel statistics come back for decodable media."""
    import numpy as np

    from nibbledb_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        image_stats_features,
    )

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)
    rows = [
        (1, "image", bytearray(_png_bytes(img, 2, 4)),
         ("image/png", 8, 8, None)),
        (2, "image", bytearray(b"\x89PNG\r\n\x1a\ngarbage"),
         ("image/png", 0, 0, None)),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in image_stats_features(media).collect()}
    ok = out[1]
    assert ok["decoded"] is True
    assert abs(ok["feature"][0] - float(img[:, :, 0].mean()) / 255.0) < 1e-6
    assert out[2]["decoded"] is False and out[2]["feature"] is None


def test_ivfpq_residual_beats_raw_adc(spark, clustered_ann, tmp_path):
    """by_residual coding (the FAISS default) must beat raw coding at
    matched PQ geometry in compressed-domain-only recall: coding the
    residual spends the codebook on within-list offsets instead of
    re-describing the coarse structure the centroid already captured.
    Geometry m=16/dsub=4/K=64 (finer than the raw-path default — 16
    codewords cannot quantize an 8-dim residual at all, measured
    0.133). All numbers are deterministic (no RNG anywhere)."""
    from nibbledb_spark.operators.similarity import (
        build_ivfpq_index,
        ivfpq_index_add,
        ivfpq_topk_indexed,
    )

    corpus, queries, truth = clustered_ann
    geom = dict(n_centroids=12, kmeans_iters=3, m=16, dsub=4, codewords=64)

    raw = str(tmp_path / "raw")
    build_ivfpq_index(corpus, raw, by_residual=False, **geom)
    r_raw = _mean_recall(
        ivfpq_topk_indexed(spark, raw, queries, 5, nprobe=3).collect(), truth, 5
    )

    res = str(tmp_path / "res")
    build_ivfpq_index(corpus, res, by_residual=True, **geom)
    r_res = _mean_recall(
        ivfpq_topk_indexed(spark, res, queries, 5, nprobe=3).collect(), truth, 5
    )
    assert r_res >= r_raw + 0.05, f"residual {r_res:.3f} vs raw {r_raw:.3f}"
    assert r_res >= 0.40, f"residual ADC recall@5 = {r_res:.3f}"

    # rerank on top of the residual candidates restores full recall
    r_rr = _mean_recall(
        ivfpq_topk_indexed(
            spark, res, queries, 5, nprobe=3, rerank_with=corpus, n_candidates=100
        ).collect(),
        truth,
        5,
    )
    assert r_rr >= 0.95

    # incremental add keeps the residual encoding: grown index answers
    # with full coverage and the added vectors are findable
    import pyspark.sql.functions as _F

    grown = str(tmp_path / "grown")
    build_ivfpq_index(corpus.where(_F.col("vec_id") < 1500), grown,
                      by_residual=True, **geom)
    ivfpq_index_add(spark, grown, corpus.where(_F.col("vec_id") >= 1500))
    out = ivfpq_topk_indexed(spark, grown, queries, 5, nprobe=12).collect()
    assert len(out) == 5 * 120
    assert any(r["neighbor_id"] >= 1500 for r in out)


def test_png_bomb_bounded_and_flagged(spark):
    """A PNG declaring small dimensions but carrying a huge inflate
    payload must come back as a flagged ValueError (bounded inflate),
    never a MemoryError that kills the batch."""
    import struct
    import zlib

    import pytest as _pytest

    from nibbledb_spark.operators.multimodal import decode_image

    def chunk(typ, data):
        body = typ + data
        return struct.pack(">I", len(data)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF
        )

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)  # claims 2x2 RGB
    bomb = zlib.compress(b"\x00" * 50_000_000)  # inflates to 50 MB
    payload = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", bomb) + chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="size mismatch"):
        decode_image(payload)


def test_ivfpq_meta_fails_closed(spark, clustered_ann, tmp_path):
    """An IVFPQ index without its pq_meta.json sidecar must refuse to
    answer: guessing the encoding mode would silently return garbage
    neighbors for the mode it guesses wrong."""
    import os as _os

    import pytest as _pytest

    from nibbledb_spark.operators.similarity import (
        build_ivfpq_index,
        ivfpq_topk_indexed,
    )

    corpus, queries, _ = clustered_ann
    path = str(tmp_path / "nomtea")
    build_ivfpq_index(corpus, path, n_centroids=4, kmeans_iters=1)
    _os.remove(_os.path.join(path, "pq_meta.json"))
    with _pytest.raises(ValueError, match="pq_meta"):
        ivfpq_topk_indexed(spark, path, queries.limit(2), 3, nprobe=2)


def test_lm_quality_scores_separate_fluent_from_gibberish(spark):
    """The bigram quality model must score reference-like text above
    token-salad: the fluent doc reuses the reference's bigrams, the
    gibberish doc has none of them."""
    from nibbledb_spark.operators.text import lm_quality_scores

    ref = spark.createDataFrame(
        [(100 + i, "the cat sat on the mat and the dog sat on the rug")
         for i in range(5)],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the rug"),          # fluent: known bigrams
            (2, "rug the on mat cat sat dog the"),  # same words, salad
            (3, "zx qv wk jj pp"),                  # unseen vocabulary
        ],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in lm_quality_scores(docs, ref).collect()}
    assert out[1]["lm_score"] > out[2]["lm_score"] >= out[3]["lm_score"]
    assert out[3]["lm_score"] == 0.0
    assert out[1]["n_bigrams"] == 5


def test_near_dup_exact_guard(spark):
    """The O(n²) exact baseline must REFUSE corpora above its row cap —
    the round-4 verdict's last scale-killer. The guard fires before any
    join is planned; max_rows=None is the explicit test-only escape
    hatch (still returns the quadratic plan)."""
    import pytest as _pytest

    from nibbledb_spark.operators.similarity import (
        NEAR_DUP_EXACT_MAX_ROWS,
        near_dup_pairs_cosine,
    )

    big = spark.range(NEAR_DUP_EXACT_MAX_ROWS + 1).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    with _pytest.raises(ValueError, match="O\\(n²\\) exact baseline"):
        near_dup_pairs_cosine(big, 0.9)
    # tiny corpora pass through the guard unchanged
    small = big.where(F.col("vec_id") < 3)
    assert near_dup_pairs_cosine(small, 0.9).count() == 3


# ---------------------------------------------------------------------------
# baseline JPEG decode (pure stdlib+numpy huffman/IDCT — completes the
# multimodal codec story the same way PNG did in r4)
# ---------------------------------------------------------------------------

# ITU T.81 Annex K typical huffman tables (public spec constants); used
# by the test encoder for both luma and chroma.
_JDC_COUNTS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JDC_SYMS = list(range(12))
_JAC_COUNTS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125]
_JAC_SYMS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _jpeg_bytes(rgb, subsample=False, restart_interval=0):
    """Spec-correct baseline JFIF encoder for the decode tests: forward
    orthonormal DCT, all-ones quant tables (so the only loss is DCT
    coefficient rounding), Annex K huffman tables, optional 4:2:0
    chroma subsampling and restart intervals, proper byte stuffing."""
    import struct

    import numpy as np

    h, w, _ = rgb.shape
    r = rgb[:, :, 0].astype(np.float64)
    g = rgb[:, :, 1].astype(np.float64)
    b = rgb[:, :, 2].astype(np.float64)
    planes = [
        0.299 * r + 0.587 * g + 0.114 * b,
        128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b,
        128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b,
    ]
    hs = [2, 1, 1] if subsample else [1, 1, 1]
    vs = [2, 1, 1] if subsample else [1, 1, 1]
    hmax, vmax = max(hs), max(vs)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    if subsample:
        # average 2x2 for chroma (after edge-padding to even dims)
        for i in (1, 2):
            p = planes[i]
            pe = np.pad(p, ((0, p.shape[0] % 2), (0, p.shape[1] % 2)), mode="edge")
            planes[i] = 0.25 * (pe[0::2, 0::2] + pe[1::2, 0::2] + pe[0::2, 1::2] + pe[1::2, 1::2])
    # pad every plane to its full block grid by edge replication
    for i in range(3):
        p = planes[i]
        th, tw = mcuy * vs[i] * 8, mcux * hs[i] * 8
        planes[i] = np.pad(p, ((0, th - p.shape[0]), (0, tw - p.shape[1])), mode="edge")

    M = 0.5 * np.cos(
        (2 * np.arange(8)[None, :] + 1) * np.arange(8)[:, None] * np.pi / 16
    )
    M[0] /= np.sqrt(2.0)
    zz = __import__(
        "nibbledb_spark.operators.multimodal", fromlist=["_JPEG_ZIGZAG"]
    )._JPEG_ZIGZAG

    def hufflut(counts, syms):
        lut, code, k = {}, 0, 0
        for ln in range(1, 17):
            for _ in range(counts[ln - 1]):
                lut[syms[k]] = (ln, code)
                k += 1
                code += 1
            code <<= 1
        return lut

    dcl, acl = hufflut(_JDC_COUNTS, _JDC_SYMS), hufflut(_JAC_COUNTS, _JAC_SYMS)
    bits: list[int] = []

    def put(ln, code):
        for i in range(ln - 1, -1, -1):
            bits.append((code >> i) & 1)

    def put_mag(v):
        s = int(v).bit_length() if v > 0 else int(-v).bit_length()
        if v < 0:
            v = v + (1 << s) - 1
        put(s, v)
        return s

    def encode_block(blk, pred):
        S = M @ (blk - 128.0) @ M.T
        q = np.round(S).astype(int)
        zig = q.reshape(-1)[zz]
        diff = int(zig[0]) - pred
        if diff == 0:
            put(*dcl[0])
        else:
            s = int(abs(diff)).bit_length()
            put(*dcl[s])
            put_mag(diff)
        run = 0
        for k in range(1, 64):
            v = int(zig[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                put(*acl[0xF0])
                run -= 16
            s = int(abs(v)).bit_length()
            put(*acl[(run << 4) | s])
            put_mag(v)
            run = 0
        if run:
            put(*acl[0x00])
        return int(zig[0])

    def flush_scan():
        while len(bits) % 8:
            bits.append(1)
        out = bytearray()
        for i in range(0, len(bits), 8):
            byte = 0
            for bit in bits[i : i + 8]:
                byte = (byte << 1) | bit
            out.append(byte)
            if byte == 0xFF:
                out.append(0)
        bits.clear()
        return bytes(out)

    scan = bytearray()
    preds = [0, 0, 0]
    rst = 0
    for mi in range(mcux * mcuy):
        if restart_interval and mi and mi % restart_interval == 0:
            scan += flush_scan()
            scan += bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) % 8
            preds = [0, 0, 0]
        my, mx = divmod(mi, mcux)
        for ci in range(3):
            p = planes[ci]
            for v in range(vs[ci]):
                for hh in range(hs[ci]):
                    by, bx = my * vs[ci] + v, mx * hs[ci] + hh
                    blk = p[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                    preds[ci] = encode_block(blk, preds[ci])
    scan += flush_scan()

    def seg(marker, body):
        return b"\xff" + bytes([marker]) + struct.pack(">H", len(body) + 2) + body

    out = b"\xff\xd8"
    out += seg(0xDB, bytes([0]) + bytes([1] * 64))
    out += seg(
        0xC0,
        bytes([8])
        + struct.pack(">HHB", h, w, 3)
        + b"".join(
            bytes([cid, (hs[i] << 4) | vs[i], 0]) for i, cid in enumerate((1, 2, 3))
        ),
    )
    out += seg(0xC4, bytes([0x00]) + bytes(_JDC_COUNTS) + bytes(_JDC_SYMS))
    out += seg(0xC4, bytes([0x10]) + bytes(_JAC_COUNTS) + bytes(_JAC_SYMS))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    out += seg(
        0xDA, bytes([3]) + b"".join(bytes([cid, 0x00]) for cid in (1, 2, 3)) + bytes([0, 63, 0])
    )
    return out + bytes(scan) + b"\xff\xd9"


def test_jpeg_decode_444_round_trip(spark):
    """Baseline 4:4:4 JPEG with all-ones quant tables must reconstruct
    within DCT-rounding tolerance (a few counts per channel after two
    colorspace hops), across a non-multiple-of-8 size."""
    import numpy as np

    from nibbledb_spark.operators.multimodal import decode_image

    rng = np.random.default_rng(23)
    # smooth image: low-frequency content keeps quantized-coefficient
    # rounding from amplifying through the IDCT
    base = rng.integers(40, 216, size=(3, 4, 3))
    rgb = np.repeat(np.repeat(base, 7, axis=0), 5, axis=1).astype(np.uint8)  # 21x20
    got = decode_image(_jpeg_bytes(rgb))
    assert got.shape == rgb.shape and got.dtype == np.uint8
    err = np.abs(got.astype(int) - rgb.astype(int)).max()
    assert err <= 4, f"max abs error {err}"


def test_jpeg_fill_bytes_before_markers(spark):
    """T.81 B.1.1.2: markers may be preceded by any number of 0xFF fill
    bytes. Inject fill padding before every non-SOI marker; the decode
    must be byte-identical to the unpadded payload's (round-5 ADVICE)."""
    import numpy as np

    from nibbledb_spark.operators.multimodal import decode_image

    rng = np.random.default_rng(31)
    base = rng.integers(40, 216, size=(2, 2, 3))
    rgb = np.repeat(np.repeat(base, 8, axis=0), 8, axis=1).astype(np.uint8)
    plain = _jpeg_bytes(rgb)
    # rebuild the stream with 1-3 fill bytes ahead of each marker after SOI;
    # stop padding at SOS (0xDA) — past it 0xFF bytes belong to entropy data
    padded = bytearray(plain[:2])
    pos = 2
    while pos + 2 <= len(plain):
        assert plain[pos] == 0xFF
        m = plain[pos + 1]
        padded += b"\xff" * (1 + (m % 3))
        if m == 0xDA:
            padded += plain[pos:]
            break
        ln = int.from_bytes(plain[pos + 2 : pos + 4], "big")
        padded += plain[pos : pos + 2 + ln]
        pos += 2 + ln
    got_plain = decode_image(plain)
    got_padded = decode_image(bytes(padded))
    assert np.array_equal(got_plain, got_padded)


def test_jpeg_decode_420_and_restart(spark):
    """4:2:0 chroma subsampling (2x2 MCUs, 4Y+Cb+Cr interleave) and
    restart intervals (DC predictor reset, byte-aligned RSTn) both
    decode; gray-content chroma loss is nil so tolerance stays tight."""
    import numpy as np

    from nibbledb_spark.operators.multimodal import decode_image

    rng = np.random.default_rng(29)
    lum = rng.integers(30, 226, size=(5, 6, 1))
    rgb = np.repeat(np.repeat(np.repeat(lum, 7, axis=0), 6, axis=1), 3, axis=2).astype(
        np.uint8
    )  # 35x36 gray-valued RGB
    for ri in (0, 2):
        got = decode_image(_jpeg_bytes(rgb, subsample=True, restart_interval=ri))
        assert got.shape == rgb.shape
        err = np.abs(got.astype(int) - rgb.astype(int)).max()
        assert err <= 4, f"ri={ri} max abs error {err}"


def test_jpeg_decode_flags_hostile_payloads(spark):
    """Corrupt JPEG payloads are flagged as ValueError (the Arrow-batch
    contract: one bad file must not kill the batch); genuinely
    unsupported coding processes raise NotImplementedError at the
    documented codec seam."""
    import struct

    import numpy as np
    import pytest as _pytest

    from nibbledb_spark.operators.multimodal import decode_image

    rgb = np.full((8, 8, 3), 90, dtype=np.uint8)
    good = _jpeg_bytes(rgb)
    with _pytest.raises(ValueError, match="truncated|corrupt"):
        decode_image(good[:-12])
    with _pytest.raises(ValueError):
        decode_image(good[:2] + b"\x00\x00" + good[2:])
    # a baseline stream RELABELED as progressive (SOF2) is malformed —
    # its interleaved Ss=0/Se=63 scan is illegal in a progressive frame
    prog = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with _pytest.raises(ValueError, match="progressive DC scan"):
        decode_image(prog)
    # arithmetic-coded SOF stays at the NotImplementedError codec seam
    arith = good.replace(b"\xff\xc0", b"\xff\xc9", 1)
    with _pytest.raises(NotImplementedError, match="non-huffman"):
        decode_image(arith)
    # hostile dims: SOF claims 40000x40000
    i = good.index(b"\xff\xc0")
    bad_dims = (
        good[: i + 5] + struct.pack(">HH", 40000, 40000) + good[i + 9 :]
    )
    with _pytest.raises(ValueError, match="dimensions"):
        decode_image(bad_dims)


def test_jpeg_features_through_mapinpandas(spark):
    """JPEG payloads flow through the same Arrow-batched feature seam
    as PPM/BMP/PNG — real pixel statistics for decodable media, a
    flagged row (not a crash) for the corrupt one."""
    import numpy as np

    from nibbledb_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        image_stats_features,
    )

    img = np.full((16, 16, 3), 200, dtype=np.uint8)
    rows = [
        (1, "image", bytearray(_jpeg_bytes(img)), ("image/jpeg", 16, 16, None)),
        (2, "image", bytearray(b"\xff\xd8\xff\xe0garbage"), ("image/jpeg", 0, 0, None)),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in image_stats_features(media).collect()}
    assert out[1]["feature"] is not None
    # mean of a flat-200 image, /255-normalized like every feature
    assert abs(out[1]["feature"][0] - 200.0 / 255.0) < 3.0 / 255.0
    assert out[2]["feature"] is None


def _jpeg_progressive_bytes(rgb, restart_interval=0):
    """Spec-correct PROGRESSIVE JFIF encoder (T.81 G.1.2) for the
    decode tests: 4:4:4, all-ones quant (loss = DCT rounding only, so
    progressive and baseline decode IDENTICALLY), successive
    approximation Al=1 -> Al=0 on both DC and AC, spectral selection
    (bands 1-5 and 6-63), EOB-run accumulation with buffered correction
    bits, optional restart intervals. DC scans use the Annex K table;
    AC scans use a complete-minus-one 8-bit table (symbols 0x00-0xFE)
    so every EOBn/ZRL/(r,s) symbol is codable."""
    import struct

    import numpy as np

    h, w, _ = rgb.shape
    r_ = rgb[:, :, 0].astype(np.float64)
    g = rgb[:, :, 1].astype(np.float64)
    b = rgb[:, :, 2].astype(np.float64)
    planes = [
        0.299 * r_ + 0.587 * g + 0.114 * b,
        128.0 - 0.168736 * r_ - 0.331264 * g + 0.5 * b,
        128.0 + 0.5 * r_ - 0.418688 * g - 0.081312 * b,
    ]
    bw8, bh8 = -(-w // 8), -(-h // 8)
    M = 0.5 * np.cos(
        (2 * np.arange(8)[None, :] + 1) * np.arange(8)[:, None] * np.pi / 16
    )
    M[0] /= np.sqrt(2.0)
    zz = __import__(
        "nibbledb_spark.operators.multimodal", fromlist=["_JPEG_ZIGZAG"]
    )._JPEG_ZIGZAG

    coefs = []  # per component: (bh8, bw8, 64) int, zigzag order
    for p in planes:
        p = np.pad(p, ((0, bh8 * 8 - h), (0, bw8 * 8 - w)), mode="edge")
        arr = np.zeros((bh8, bw8, 64), dtype=int)
        for by in range(bh8):
            for bx in range(bw8):
                S = M @ (p[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0) @ M.T
                arr[by, bx] = np.round(S).reshape(-1)[zz]
        coefs.append(arr)

    # --- huffman tables ----------------------------------------------------
    def hufflut(counts, syms):
        lut, code, k = {}, 0, 0
        for ln in range(1, 17):
            for _ in range(counts[ln - 1]):
                lut[syms[k]] = (ln, code)
                k += 1
                code += 1
            code <<= 1
        return lut

    AC8_COUNTS = [0, 0, 0, 0, 0, 0, 0, 255, 0, 0, 0, 0, 0, 0, 0, 0]
    AC8_SYMS = list(range(255))
    dcl = hufflut(_JDC_COUNTS, _JDC_SYMS)
    acl = hufflut(AC8_COUNTS, AC8_SYMS)

    bits: list[int] = []
    out = bytearray()

    def put(ln, code):
        for i in range(ln - 1, -1, -1):
            bits.append((code >> i) & 1)

    def put_raw(v, n):
        for i in range(n - 1, -1, -1):
            bits.append((v >> i) & 1)

    def flush_bits():
        while len(bits) % 8:
            bits.append(1)
        for i in range(0, len(bits), 8):
            byte = 0
            for bit in bits[i : i + 8]:
                byte = (byte << 1) | bit
            out.append(byte)
            if byte == 0xFF:
                out.append(0)
        bits.clear()

    def seg(marker, body):
        return b"\xff" + bytes([marker]) + struct.pack(">H", len(body) + 2) + body

    # --- frame + table headers --------------------------------------------
    out += b"\xff\xd8"
    out += seg(0xDB, bytes([0]) + bytes([1] * 64))
    out += seg(
        0xC2,  # SOF2: progressive
        bytes([8])
        + struct.pack(">HHB", h, w, 3)
        + b"".join(bytes([cid, 0x11, 0]) for cid in (1, 2, 3)),
    )
    out += seg(0xC4, bytes([0x00]) + bytes(_JDC_COUNTS) + bytes(_JDC_SYMS))
    out += seg(0xC4, bytes([0x10]) + bytes(AC8_COUNTS) + bytes(AC8_SYMS))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))

    def sos_header(comp_ids, ss, se, ah, al):
        body = bytes([len(comp_ids)])
        for cid in comp_ids:
            body += bytes([cid, 0x00])  # DC table 0, AC table 0
        body += bytes([ss, se, (ah << 4) | al])
        return seg(0xDA, body)

    rstn = [0]

    def emit_restart():
        flush_bits()
        out.append(0xFF)
        out.append(0xD0 + rstn[0])
        rstn[0] = (rstn[0] + 1) % 8

    # --- DC scans (interleaved, all components) ----------------------------
    def dc_scan(ah, al):
        out.extend(sos_header((1, 2, 3), 0, 0, ah, al))
        pred = [0, 0, 0]
        for mi in range(bh8 * bw8):
            if restart_interval and mi and mi % restart_interval == 0:
                emit_restart()
                pred = [0, 0, 0]
            my, mx = divmod(mi, bw8)
            for ci in range(3):
                dc = int(coefs[ci][my, mx, 0])
                if ah == 0:
                    t = dc >> al  # arithmetic shift per G.1.2.1
                    diff = t - pred[ci]
                    pred[ci] = t
                    if diff == 0:
                        put(*dcl[0])
                    else:
                        s = int(abs(diff)).bit_length()
                        put(*dcl[s])
                        put_raw(diff if diff > 0 else diff + (1 << s) - 1, s)
                else:
                    bits.append((dc >> al) & 1)
        flush_bits()

    # --- AC scans (non-interleaved, one component) --------------------------
    def ac_first_scan(ci, ss, se, al):
        out.extend(sos_header((ci + 1,), ss, se, 0, al))
        arr = coefs[ci]
        eobrun = [0]

        def flush_eobrun():
            if eobrun[0]:
                nbits = eobrun[0].bit_length() - 1
                put(*acl[nbits << 4])
                put_raw(eobrun[0] - (1 << nbits), nbits)
                eobrun[0] = 0

        for bi in range(bh8 * bw8):
            if restart_interval and bi and bi % restart_interval == 0:
                flush_eobrun()
                emit_restart()
            by, bx = divmod(bi, bw8)
            blk = arr[by, bx]
            # point transform toward zero (G.1.2.2)
            t = [
                (abs(int(blk[k])) >> al) * (1 if blk[k] > 0 else -1)
                for k in range(ss, se + 1)
            ]
            nz = [i for i, v in enumerate(t) if v != 0]
            if not nz:
                eobrun[0] += 1
                if eobrun[0] == 0x7FFF:
                    flush_eobrun()
                continue
            flush_eobrun()
            run = 0
            for i in range(nz[-1] + 1):
                v = t[i]
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    put(*acl[0xF0])
                    run -= 16
                s = int(abs(v)).bit_length()
                put(*acl[(run << 4) | s])
                put_raw(v if v > 0 else v + (1 << s) - 1, s)
                run = 0
            if nz[-1] < se - ss:
                eobrun[0] += 1
                if eobrun[0] == 0x7FFF:
                    flush_eobrun()
        flush_eobrun()
        flush_bits()

    def ac_refine_scan(ci, ss, se, al):
        """G.1.2.3 / libjpeg encode_mcu_AC_refine: newly-nonzero coefs
        emit (r,1)+sign, history coefs buffer correction bits that ride
        after the next emitted symbol (ZRL or EOBn)."""
        out.extend(sos_header((ci + 1,), ss, se, al + 1, al))
        arr = coefs[ci]
        eobrun = [0]
        pending: list[int] = []  # correction bits owed after next EOBn

        def flush_eobrun():
            if eobrun[0]:
                nbits = eobrun[0].bit_length() - 1
                put(*acl[nbits << 4])
                put_raw(eobrun[0] - (1 << nbits), nbits)
                bits.extend(pending)
                pending.clear()
                eobrun[0] = 0

        for bi in range(bh8 * bw8):
            if restart_interval and bi and bi % restart_interval == 0:
                flush_eobrun()
                emit_restart()
            by, bx = divmod(bi, bw8)
            blk = arr[by, bx]
            absv = [abs(int(blk[k])) >> al for k in range(ss, se + 1)]
            # EOB position: after the last NEW ±1 at this level
            eobpos = -1
            for i, v in enumerate(absv):
                if v == 1:
                    eobpos = i
            run = 0
            br: list[int] = []  # correction bits since last emitted symbol
            for i, v in enumerate(absv):
                if v == 0:
                    run += 1
                    continue
                while run > 15 and i <= eobpos:
                    flush_eobrun()
                    put(*acl[0xF0])
                    run -= 16
                    bits.extend(br)
                    br.clear()
                if v > 1:  # history-nonzero: one correction bit
                    br.append(v & 1)
                    continue
                # v == 1: newly nonzero at this level
                flush_eobrun()
                put(*acl[(run << 4) | 1])
                bits.append(1 if blk[ss + i] > 0 else 0)
                bits.extend(br)
                br.clear()
                run = 0
            if run > 0 or br:
                eobrun[0] += 1
                pending.extend(br)
                if eobrun[0] == 0x7FFF:
                    flush_eobrun()
        flush_eobrun()
        flush_bits()

    # scan script: DC SA first+refine, then per-component spectral bands
    # with SA first (Al=1) and refinement (Al=0)
    dc_scan(0, 1)
    dc_scan(1, 0)
    for ci in range(3):
        ac_first_scan(ci, 1, 5, 1)
        ac_first_scan(ci, 6, 63, 1)
    for ci in range(3):
        ac_refine_scan(ci, 1, 5, 0)
        ac_refine_scan(ci, 6, 63, 0)
    out += b"\xff\xd9"
    return bytes(out)


def test_jpeg_progressive_equals_baseline(spark):
    """Progressive decode must produce EXACTLY the pixels of the
    baseline decode of the same quantized coefficients — successive
    approximation (DC and AC), spectral selection, and EOB-run
    correction bits reconstruct the full-precision coefficients, so
    after identical dequant+IDCT the outputs are byte-identical."""
    import numpy as np

    from nibbledb_spark.operators.multimodal import decode_image

    rng = np.random.default_rng(31)
    base = rng.integers(20, 236, size=(4, 3, 3))
    rgb = np.repeat(np.repeat(base, 6, axis=0), 7, axis=1).astype(np.uint8)  # 24x21
    seq = decode_image(_jpeg_bytes(rgb))
    for ri in (0, 2):
        prog = decode_image(_jpeg_progressive_bytes(rgb, restart_interval=ri))
        assert np.array_equal(prog, seq), f"ri={ri}"
    err = np.abs(seq.astype(int) - rgb.astype(int)).max()
    assert err <= 4  # and both are still faithful to the source


def test_jpeg_progressive_sparse_and_flat(spark):
    """Degenerate progressive content: flat blocks (pure EOB runs
    spanning many blocks) and a single hot pixel (long zero runs + ZRL
    in refinement) both reconstruct exactly."""
    import numpy as np

    from nibbledb_spark.operators.multimodal import decode_image

    flat = np.full((24, 16, 3), 77, dtype=np.uint8)
    assert np.array_equal(
        decode_image(_jpeg_progressive_bytes(flat)), decode_image(_jpeg_bytes(flat))
    )
    hot = np.full((16, 16, 3), 50, dtype=np.uint8)
    hot[3, 11] = [250, 40, 160]
    assert np.array_equal(
        decode_image(_jpeg_progressive_bytes(hot)), decode_image(_jpeg_bytes(hot))
    )


def test_wav_g711_decode(spark):
    """G.711 companded WAV (format 6 A-law / 7 mu-law) decodes through
    the same chunk walk as linear PCM: encode a sine with the CCITT
    reference compressors here, decode with the engine, and require the
    expanded samples to track the 16-bit original within the segment
    quantization error (<= 1/64 full scale at these amplitudes), with
    sign preserved everywhere."""
    import struct

    import numpy as np

    from nibbledb_spark.operators.multimodal import decode_audio

    def ulaw_encode(x):  # CCITT linear2ulaw
        BIAS, CLIP = 0x84, 32635
        sign = 0x80 if x < 0 else 0
        x = min(abs(int(x)), CLIP) + BIAS
        exponent = x.bit_length() - 8
        mantissa = (x >> (exponent + 3)) & 0x0F
        return ~(sign | (exponent << 4) | mantissa) & 0xFF

    def alaw_encode(x):  # CCITT linear2alaw (sign bit 1 = positive)
        x = int(x)
        mask = 0xD5 if x >= 0 else 0x55
        x = abs(x) >> 3  # 16 -> 13 bit
        if x >= 0x1000:
            x = 0xFFF
        if x >= 0x20:
            seg = x.bit_length() - 5  # seg_end = 0x1F,0x3F,...,0xFFF
            mantissa = (x >> (seg if seg >= 2 else 1)) & 0x0F
            code = (seg << 4) | mantissa
        else:
            code = x >> 1
        return (code ^ mask) & 0xFF

    n, rate = 256, 8000
    t = np.arange(n)
    pcm = (20000 * np.sin(2 * np.pi * 13 * t / n)).astype(np.int16)

    def wav(fmt_code, frames: bytes, bits):
        fmt = struct.pack("<HHIIHH", fmt_code, 1, rate, rate * bits // 8, bits // 8, bits)
        return (
            b"RIFF" + struct.pack("<I", 20 + len(fmt) + len(frames)) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(frames)) + frames
        )

    for code, enc in ((7, ulaw_encode), (6, alaw_encode)):
        frames = bytes(enc(v) for v in pcm)
        samples, got_rate = decode_audio(wav(code, frames, 8))
        assert got_rate == rate and samples.shape == (n, 1)
        err = np.abs(samples[:, 0] - pcm.astype(np.float64) / 32768.0)
        assert err.max() <= 1 / 64, (code, err.max())
        big = np.abs(pcm) > 2000
        assert (np.sign(samples[big, 0]) == np.sign(pcm[big])).all(), code


def test_png_adam7_and_palette(spark):
    """Adam7-interlaced PNGs (all five filters, per-pass filtering) and
    palette PNGs (PLTE mapping, incl. interlaced-palette combined) must
    decode pixel-exactly; out-of-range palette indices are flagged."""
    import numpy as np

    from nibbledb_spark.operators.multimodal import decode_image

    rng = np.random.default_rng(41)
    rgb = rng.integers(0, 256, size=(13, 11, 3), dtype=np.uint8)
    for f in range(5):
        got = decode_image(_png_bytes(rgb, 2, f, interlace=1))
        assert np.array_equal(got, rgb), f"adam7 filter {f}"
    # sizes below one full pass block (every pass-empty branch)
    tiny = rng.integers(0, 256, size=(3, 2, 3), dtype=np.uint8)
    assert np.array_equal(decode_image(_png_bytes(tiny, 2, 4, interlace=1)), tiny)

    palette = rng.integers(0, 256, size=(17, 3), dtype=np.uint8)
    idx = rng.integers(0, 17, size=(9, 14, 1), dtype=np.uint8)
    for il in (0, 1):
        got = decode_image(_png_bytes(idx, 3, 3, interlace=il, palette=palette))
        assert np.array_equal(got, palette[idx[:, :, 0]]), f"palette il={il}"

    import pytest as _pytest

    bad = idx.copy()
    bad[0, 0, 0] = 200  # beyond the 17-entry palette
    with _pytest.raises(ValueError, match="palette index"):
        decode_image(_png_bytes(bad, 3, 0, palette=palette))


def test_png_depths(spark):
    """Non-8-bit depths decode across the whole legality matrix:
    16-bit gray/RGB/RGBA keep the high byte; 1/2/4-bit gray expands to
    the full 8-bit range; 1/2/4-bit palette maps through PLTE — all
    with the filters and (for the sub-byte cases) Adam7 interlacing in
    play, where per-pass strides are the part that can silently go
    wrong."""
    import numpy as np

    from nibbledb_spark.operators.multimodal import decode_image

    rng = np.random.default_rng(43)
    # 16-bit: decoder keeps the high byte (our encoder's low byte is junk)
    rgb = rng.integers(0, 256, size=(6, 9, 3), dtype=np.uint8)
    got = decode_image(_png_bytes(rgb, 2, 4, depth=16))
    assert np.array_equal(got, rgb)
    gray16 = rng.integers(0, 256, size=(5, 7, 1), dtype=np.uint8)
    got = decode_image(_png_bytes(gray16, 0, 2, depth=16))
    assert np.array_equal(got[:, :, 0], gray16[:, :, 0])

    # sub-byte grayscale: value expansion 1->255, 2->85, 4->17
    for d in (1, 2, 4):
        lv = rng.integers(0, 1 << d, size=(9, 13, 1), dtype=np.uint8)
        for il in (0, 1):
            got = decode_image(_png_bytes(lv, 0, 1 if il == 0 else 4, interlace=il, depth=d))
            want = (lv[:, :, 0] * (255 // ((1 << d) - 1))).astype(np.uint8)
            assert np.array_equal(got[:, :, 0], want), (d, il)

    # sub-byte palette
    palette = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, size=(7, 10, 1), dtype=np.uint8)
    for d in (4, 2, 1):
        sub = np.minimum(idx, (1 << d) - 1)
        got = decode_image(_png_bytes(sub, 3, 3, palette=palette, depth=d))
        assert np.array_equal(got, palette[sub[:, :, 0]]), d

    # illegal depth/ctype combos are flagged, not decoded: take a legal
    # 4-bit gray file and patch IHDR's color type to truecolor (byte 25;
    # CRCs are transport-checked, not re-verified here)
    import pytest as _pytest

    legal = bytearray(_png_bytes(lv, 0, 0, depth=4))
    legal[25] = 2
    with _pytest.raises(ValueError, match="invalid PNG depth"):
        decode_image(bytes(legal))


def test_wav_g711_exhaustive_error_bound(spark):
    """EXHAUSTIVE G.711 check: every int16 value encode->decodes within
    the companding law's segment quantization error (half the segment
    step, bounded by (|x|+132)/8 for mu-law and (|x|+256)/8 for A-law's
    coarser 13-bit domain) with sign preserved outside the dead zone.
    65536 values is cheap and leaves no segment boundary untested."""
    import numpy as np

    from nibbledb_spark.operators.multimodal import (
        _g711_alaw_to_linear,
        _g711_ulaw_to_linear,
    )

    def ulaw_encode(x):
        BIAS, CLIP = 0x84, 32635
        sign = 0x80 if x < 0 else 0
        x = min(abs(int(x)), CLIP) + BIAS
        exponent = x.bit_length() - 8
        mantissa = (x >> (exponent + 3)) & 0x0F
        return ~(sign | (exponent << 4) | mantissa) & 0xFF

    def alaw_encode(x):
        x = int(x)
        mask = 0xD5 if x >= 0 else 0x55
        x = abs(x) >> 3
        if x >= 0x1000:
            x = 0xFFF
        if x >= 0x20:
            seg = x.bit_length() - 5
            mantissa = (x >> (seg if seg >= 2 else 1)) & 0x0F
            code = (seg << 4) | mantissa
        else:
            code = x >> 1
        return (code ^ mask) & 0xFF

    xs = np.arange(-32768, 32768, dtype=np.int64)
    for name, enc, dec, slack in (
        ("ulaw", ulaw_encode, _g711_ulaw_to_linear, 132),
        ("alaw", alaw_encode, _g711_alaw_to_linear, 256),
    ):
        codes = np.frombuffer(
            bytes(enc(int(v)) for v in xs), dtype=np.uint8
        )
        got = dec(codes).astype(np.int64)
        err = np.abs(got - xs)
        bound = (np.abs(xs) + slack) // 8 + 8
        bad = np.where(err > bound)[0]
        assert bad.size == 0, (name, xs[bad[:5]], got[bad[:5]])
        big = np.abs(xs) > 512
        assert (np.sign(got[big]) == np.sign(xs[big])).all(), name


def test_decoder_fuzz_never_escapes_contract(spark):
    """Deterministic mutation fuzz over every codec: flip/insert/trim
    bytes of VALID payloads and feed raw noise; decode must either
    succeed or raise an exception the Arrow-batch seams catch
    (ValueError / NotImplementedError / TypeError / IndexError /
    ZeroDivisionError / OverflowError / struct.error) — never anything
    that would kill a 10 GB task (MemoryError, SystemError, hangs)."""
    import struct as _struct

    import numpy as np

    from nibbledb_spark.operators.multimodal import decode_audio, decode_image

    CATCH = (
        NotImplementedError,
        ValueError,
        TypeError,
        ZeroDivisionError,
        IndexError,
        OverflowError,
        _struct.error,
    )
    rng = np.random.default_rng(97)
    img = rng.integers(0, 256, size=(9, 8, 3), dtype=np.uint8)
    seeds = {
        "jpeg": _jpeg_bytes(img),
        "jpeg_prog": _jpeg_progressive_bytes(img),
        "png": _png_bytes(img, 2, 4),
        "png_adam7": _png_bytes(img, 2, 2, interlace=1),
    }

    def fuzz_one(payload, decode):
        b = bytearray(payload)
        op = rng.integers(0, 4)
        if op == 0 and len(b) > 4:  # flip bytes
            for _ in range(int(rng.integers(1, 6))):
                b[int(rng.integers(0, len(b)))] = int(rng.integers(0, 256))
        elif op == 1:  # truncate
            b = b[: int(rng.integers(2, len(b)))]
        elif op == 2:  # insert garbage
            i = int(rng.integers(0, len(b)))
            b = b[:i] + bytes(rng.integers(0, 256, size=7, dtype=np.uint8)) + b[i:]
        else:  # pure noise with a valid magic prefix
            keep = int(rng.integers(2, 12))
            b = b[:keep] + bytes(rng.integers(0, 256, size=64, dtype=np.uint8))
        try:
            decode(bytes(b))
        except CATCH:
            pass  # flagged, as the seam requires

    for name, payload in seeds.items():
        for _ in range(150):
            fuzz_one(payload, decode_image)

    # audio: a valid G.711 wav mutated the same way
    pcm = (3000 * np.sin(np.arange(64))).astype(np.int16)
    fmt = _struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    frames = pcm.tobytes()
    wav = (
        b"RIFF" + _struct.pack("<I", 20 + len(fmt) + len(frames)) + b"WAVE"
        + b"fmt " + _struct.pack("<I", len(fmt)) + fmt
        + b"data" + _struct.pack("<I", len(frames)) + frames
    )
    for _ in range(150):
        fuzz_one(wav, decode_audio)


def test_substring_scrub_keeps_first_occurrence(spark):
    """Applying span dedup: the earliest doc keeps the duplicated
    paragraph, every later doc loses exactly those tokens, clean docs
    pass through byte-identical (whitespace untouched)."""
    from nibbledb_spark.operators.dedup import substring_scrub

    para = " ".join(f"shared{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            (1, "intro one two " + para + " unique tail alpha"),
            (2, "different opening words here " + para + " omega closing"),
            (3, "totally   unrelated\tcontent entirely"),  # odd whitespace
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in substring_scrub(docs, min_tokens=15).collect()}
    # doc 1 (lowest id) keeps its copy, nothing removed
    assert out[1]["removed_tokens"] == 0
    assert "shared0" in out[1]["text"]
    # doc 2 loses exactly the 20 duplicated tokens; its own context stays
    assert out[2]["removed_tokens"] == 20
    assert "shared0" not in out[2]["text"] and "shared19" not in out[2]["text"]
    assert out[2]["text"] == "different opening words here omega closing"
    # clean doc passes through byte-identical (tabs / runs preserved)
    assert out[3]["text"] == "totally   unrelated\tcontent entirely"
    assert out[3]["removed_tokens"] == 0


def test_substring_scrub_chain_keeps_only_earliest(spark):
    """A span shared by three documents survives only in the earliest
    one: both later docs are cut (pairwise spans cover every later
    occurrence, not just the adjacent pair)."""
    from nibbledb_spark.operators.dedup import substring_scrub

    para = " ".join(f"p{i}" for i in range(16))
    docs = spark.createDataFrame(
        [(i, f"ctx{i}a ctx{i}b " + para + f" end{i}") for i in (1, 2, 3)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in substring_scrub(docs, min_tokens=15).collect()}
    assert out[1]["removed_tokens"] == 0 and "p0" in out[1]["text"]
    for d in (2, 3):
        assert out[d]["removed_tokens"] == 16
        assert "p0" not in out[d]["text"]
        assert out[d]["text"] == f"ctx{d}a ctx{d}b end{d}"


def test_substring_self_spans_intra_doc_repeat(spark):
    """Intra-doc half of the span family: a paragraph repeated inside
    ONE document is invisible to cross-doc spans (no d1 < d2 pair) but
    must be reported by substring_self_spans as one maximal span pair;
    a triple repeat reports all three occurrence pairs."""
    from nibbledb_spark.operators.dedup import (
        substring_dup_spans,
        substring_self_spans,
    )

    para = " ".join(f"b{i}" for i in range(16))
    tri = " ".join(f"c{i}" for i in range(16))  # distinct from para:
    # docs 1 and 3 must not share text, or cross-doc spans would exist
    docs = spark.createDataFrame(
        [
            (1, "head one two " + para + " mid three " + para + " tail"),
            (2, "clean document with no internal repetition at all"),
            (3, "x " + tri + " y " + tri + " z " + tri + " w"),
        ],
        "doc_id long, text string",
    )
    assert substring_dup_spans(docs, min_tokens=15).count() == 0
    out = substring_self_spans(docs, min_tokens=15).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: tokens head,one,two (3) -> first para at 4..19, "mid three"
    # -> second para at 22..37: one pair, len 16
    assert len(by_doc[1]) == 1
    s = by_doc[1][0]
    assert (s["start1"], s["start2"], s["len_tokens"]) == (4, 22, 16)
    assert 2 not in by_doc
    # doc 3: three occurrences -> C(3,2) = 3 pairs, each len 16
    assert len(by_doc[3]) == 3
    assert all(r["len_tokens"] == 16 for r in by_doc[3])


# --- BPE merge learning + tokenization (operators/bpe.py) -------------------


class TestBPE:
    def test_merge_application_is_exact_greedy(self, spark):
        """One replace() call per round == greedy left-to-right
        non-overlapping merge: the A==A run case takes every other pair
        in the run (leftmost first), the alternating case merges every
        disjoint site in one pass."""
        from nibbledb_spark.operators.bpe import SEP, _merge_expr

        def wrap(symbols):
            return SEP + (SEP + SEP).join(symbols) + SEP

        df = spark.createDataFrame(
            [(wrap(list("aaaaa")),), (wrap(list("abab")),), (wrap(list("xay")),)],
            "w string",
        )
        out = {
            r["w"]
            for r in df.select(_merge_expr(F.col("w"), "a", "a").alias("w")).collect()
        }
        assert wrap(["aa", "aa", "a"]) in out  # run of 5: every-other rule
        out2 = {
            r["w"]
            for r in df.select(_merge_expr(F.col("w"), "a", "b").alias("w")).collect()
        }
        assert wrap(["ab", "ab"]) in out2  # disjoint sites both merge
        assert wrap(list("xay")) in out2  # no site: unchanged

    def test_learn_merges_deterministic_counts(self, spark):
        """Known tiny corpus: pair counts are exact integers and the
        (count DESC, lhs, rhs) tiebreak is deterministic."""
        from nibbledb_spark.operators.bpe import learn_bpe_merges

        docs = spark.createDataFrame(
            [(1, "abab abab cd"), (2, "abab cd cd")], "doc_id long, text string"
        )
        merges = learn_bpe_merges(docs, 3)
        # 'abab' x3 + 'cd' x3: pairs (a,b) 6, (b,a) 3, (c,d) 3, then after
        # merging (a,b): (ab,ab) 3 ties (c,d) 3 -> 'ab' < 'c' wins.
        assert merges[0] == (1, "a", "b", 6)
        assert merges[1] == (2, "ab", "ab", 3)
        assert merges[2] == (3, "c", "d", 3)

    def test_tokenize_reconstructs_text(self, spark):
        """Token concatenation per doc == the doc's non-whitespace
        characters, in order — merges never lose or reorder content."""
        from nibbledb_spark.operators.bpe import apply_bpe, learn_bpe_merges

        docs = spark.read.parquet(f"{SF}/documents.parquet").limit(30)
        merges = learn_bpe_merges(docs, 4)
        assert len(merges) == 4
        out = apply_bpe(docs, merges).collect()
        orig = {r["doc_id"]: r["text"] for r in docs.collect()}
        assert len(out) == 30
        for r in out:
            squashed = "".join(orig[r["doc_id"]].split())
            assert r["tok_str"].replace(" ", "") == squashed
            assert r["n_tokens"] == len(r["tok_str"].split())

    def test_vertical_tab_is_engine_invariant(self, spark):
        """\\x0B is whitespace to Java's \\s but NOT to RE2's: without
        normalization a doc containing it word-splits differently on
        the two engines and breaks the oracle hash. Pin that both the
        Spark operators and the DuckDB oracle expression treat \\x0B as
        a word boundary, identically."""
        import duckdb

        from nibbledb_spark.operators.bpe import apply_bpe, word_table

        text = "foo\x0bbar baz\x0b\x0bqux"
        docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
        spark_words = sorted(
            r["w"].replace("\x1f", "") for r in word_table(docs).collect()
        )
        assert spark_words == ["bar", "baz", "foo", "qux"]
        duck_words = sorted(
            r[0]
            for r in duckdb.sql(
                "SELECT unnest(string_split_regex("
                "  replace(replace(?, chr(11), ' '), chr(31), ''), '\\s+'))",
                params=[text],
            ).fetchall()
        )
        assert duck_words == spark_words
        # tokenize side: \x0B never fuses into a token
        out = apply_bpe(docs, [(1, "b", "a", 2)]).collect()[0]
        assert "\x0b" not in out["tok_str"]
        # \x0B acted as a word boundary: (b,a) merged inside words but
        # nothing fused across the \x0B seams
        assert out["tok_str"].replace(" ", "") == "foobarbazqux"
        assert "ba" in out["tok_str"].split()

    def test_bpe_merge_artifact_roundtrip(self, spark, tmp_path):
        """Saved merges reload identically and tokenize identically —
        the train-once / apply-many contract."""
        from nibbledb_spark.operators.bpe import (
            apply_bpe,
            learn_bpe_merges,
            load_bpe_merges,
            save_bpe_merges,
        )

        docs = spark.read.parquet(f"{SF}/documents.parquet").limit(40)
        merges = learn_bpe_merges(docs, 3)
        p = str(tmp_path / "merges.json")
        save_bpe_merges(merges, p)
        loaded = load_bpe_merges(p)
        assert loaded == merges
        a = sorted(map(tuple, apply_bpe(docs, merges).collect()))
        b = sorted(map(tuple, apply_bpe(docs, loaded).collect()))
        assert a == b

    def test_tokenize_plan_is_zero_shuffle(self, spark):
        """The corpus-touching apply path is a pure projection: no
        Exchange anywhere in the plan (learning happens on the word
        table in separate jobs; the merges enter the plan as literals)."""
        from nibbledb_spark.operators.bpe import apply_bpe
        from nibbledb_spark.plans.scale import exchange_count

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        tok = apply_bpe(docs, [(1, "e", "r", 0), (2, "o", "r", 0)])
        assert exchange_count(tok) == 0


# --- persisted incremental LSH index (operators/dedup.py) -------------------


class TestLshIndex:
    def test_query_against_own_index_equals_full_pipeline(self, spark, docs, tmp_path):
        """Querying the corpus against its own index reproduces the
        in-plan MinHash-LSH pipeline exactly (both orientations of each
        pair, self-pairs excluded)."""
        from nibbledb_spark.operators.dedup import (
            build_lsh_index,
            lsh_query_near_dups,
            near_dup_pairs_minhash_fast,
        )

        path = str(tmp_path / "idx")
        build_lsh_index(docs, path)
        got = {
            (r["query_id"], r["index_id"], round(r["jaccard"], 12))
            for r in lsh_query_near_dups(spark, path, docs, threshold=0.5).collect()
        }
        want = set()
        for r in near_dup_pairs_minhash_fast(docs, threshold=0.5).collect():
            j = round(r["jaccard"], 12)
            want.add((r["id1"], r["id2"], j))
            want.add((r["id2"], r["id1"], j))
        assert got == want and len(want) > 0

    def test_add_equals_rebuild(self, spark, docs, tmp_path):
        """Frozen-parameter incremental add: index(old) + add(new) answers
        queries identically to index(old + new) built from scratch."""
        from nibbledb_spark.operators.dedup import (
            build_lsh_index,
            lsh_index_add,
            lsh_query_near_dups,
        )

        old = docs.where("doc_id % 3 != 0")
        new = docs.where("doc_id % 3 = 0 AND doc_id % 2 = 0")
        probe = docs.where("doc_id % 3 = 0 AND doc_id % 2 = 1")

        grown = str(tmp_path / "grown")
        build_lsh_index(old, grown)
        lsh_index_add(spark, grown, new)

        rebuilt = str(tmp_path / "rebuilt")
        build_lsh_index(old.unionByName(new), rebuilt)

        def q(path):
            return {
                (r["query_id"], r["index_id"], round(r["jaccard"], 12))
                for r in lsh_query_near_dups(
                    spark, path, probe, threshold=0.5
                ).collect()
            }

        res = q(grown)
        assert res == q(rebuilt)
        assert len(res) > 0

    def test_duplicate_add_enforced(self, spark, docs, tmp_path):
        """The ids-must-be-new contract is enforced, not documented:
        re-adding an indexed id raises (naming offenders) and leaves
        the index untouched; on_duplicate='skip' drops them so query
        results equal the no-op add."""
        import pytest as _pytest

        from nibbledb_spark.operators.dedup import (
            build_lsh_index,
            lsh_index_add,
            lsh_query_near_dups,
            validate_lsh_index,
        )

        path = str(tmp_path / "idx")
        indexed = docs.where("doc_id % 2 = 0")
        probe = docs.where("doc_id % 2 = 1")
        build_lsh_index(indexed, path)

        def q():
            return {
                (r["query_id"], r["index_id"], round(r["jaccard"], 12))
                for r in lsh_query_near_dups(
                    spark, path, probe, threshold=0.5
                ).collect()
            }

        before = q()
        with _pytest.raises(ValueError, match="already indexed"):
            lsh_index_add(spark, path, indexed.limit(3))
        assert q() == before, "failed add must not mutate the index"
        # a mixed batch with skip: only the genuinely-new ids land
        mixed = indexed.limit(2).unionByName(probe.limit(2))
        lsh_index_add(spark, path, mixed, on_duplicate="skip")
        validate_lsh_index(spark, path)
        sizes = spark.read.parquet(path + "/sizes")
        n_probe_added = probe.limit(2).count()
        assert sizes.groupBy("id").count().where("count > 1").count() == 0
        assert sizes.count() == indexed.count() + n_probe_added

    def test_build_failure_leaves_no_partial_index(self, spark, docs, tmp_path, monkeypatch):
        """A crashed build removes its temp dir and never publishes, so
        an errorifexists retry succeeds (the ADVICE failure mode: a
        partial index poisoning every retry)."""
        import os

        import pytest as _pytest

        import nibbledb_spark.operators.dedup as dd

        path = str(tmp_path / "idx")
        real = dd._band_rows
        monkeypatch.setattr(
            dd, "_band_rows", lambda *a, **k: (_ for _ in ()).throw(RuntimeError("boom"))
        )
        with _pytest.raises(RuntimeError, match="boom"):
            dd.build_lsh_index(docs, path)
        assert not os.path.exists(path)
        assert not [p for p in os.listdir(tmp_path) if "inprogress" in p]
        monkeypatch.setattr(dd, "_band_rows", real)
        dd.build_lsh_index(docs, path)  # retry succeeds
        dd.validate_lsh_index(spark, path)
        with _pytest.raises(FileExistsError):
            dd.build_lsh_index(docs, path)

    def test_build_rejects_empty_corpus(self, spark, tmp_path):
        """An empty corpus (or one where every doc is shorter than
        shingle_n) would publish tables with ZERO part files; the
        manifest's empty file list then breaks every reader with the
        cryptic 'path not specified'. Build must refuse up front, and
        a hand-corrupted empty manifest list must fail with a usable
        message naming the table."""
        import json
        import os

        import pytest as _pytest

        import nibbledb_spark.operators.dedup as dd

        empty = spark.createDataFrame([], "doc_id long, text string")
        with _pytest.raises(ValueError, match="no shingles"):
            dd.build_lsh_index(empty, str(tmp_path / "idx_empty"))
        assert not os.path.exists(str(tmp_path / "idx_empty"))

        short = spark.createDataFrame(
            [(1, "just two")], "doc_id long, text string"
        )
        with _pytest.raises(ValueError, match="no shingles"):
            dd.build_lsh_index(short, str(tmp_path / "idx_short"))

        # reader-side guard: corrupt an otherwise-healthy manifest
        docs = spark.createDataFrame(
            [(i, f"alpha beta gamma delta epsilon tail{i}") for i in range(6)],
            "doc_id long, text string",
        )
        path = str(tmp_path / "idx_ok")
        dd.build_lsh_index(docs, path)
        mpath = os.path.join(path, dd._LSH_MANIFEST)
        m = json.load(open(mpath))
        m["bands"] = []
        json.dump(m, open(mpath, "w"))
        with _pytest.raises(ValueError, match="bands"):
            dd._lsh_read(spark, path, "bands")

    def test_validate_detects_partial_publish(self, spark, docs, tmp_path):
        """A torn add publish (files renamed in, manifest never swapped)
        is INVISIBLE to readers — queries return the pre-add state —
        and validate_lsh_index names the unmanifested junk so an
        operator can tell a torn publish from real corruption."""
        import pytest as _pytest

        from nibbledb_spark.operators.dedup import (
            build_lsh_index,
            lsh_query_near_dups,
            validate_lsh_index,
        )

        path = str(tmp_path / "idx")
        build_lsh_index(docs, path)
        validate_lsh_index(spark, path)  # healthy

        def q():
            return {
                (r["query_id"], r["index_id"], round(r["jaccard"], 12))
                for r in lsh_query_near_dups(
                    spark, path, docs, threshold=0.5
                ).collect()
            }

        before = q()
        # simulate the torn add: a bands part file lands on disk but the
        # manifest swap never happened
        spark.createDataFrame(
            [(999999, 0, "deadbeef")], "id long, band int, bucket string"
        ).write.mode("append").parquet(path + "/bands")
        assert q() == before, "unmanifested junk must be reader-invisible"
        with _pytest.raises(RuntimeError, match="unmanifested"):
            validate_lsh_index(spark, path)

    def test_add_many_single_publish_equals_rebuild(self, spark, docs, tmp_path):
        """The round-9 verdict #4 contract: N staged batches through ONE
        add_many publish == N sequential adds == from-scratch build, and
        the index validates after each."""
        from nibbledb_spark.operators.dedup import (
            build_lsh_index,
            lsh_index_add,
            lsh_index_add_many,
            lsh_query_near_dups,
            validate_lsh_index,
        )

        old = docs.where("doc_id % 4 = 0")
        b1 = docs.where("doc_id % 4 = 1")
        b2 = docs.where("doc_id % 4 = 2")
        probe = docs.where("doc_id % 4 = 3")

        bulk = str(tmp_path / "bulk")
        build_lsh_index(old, bulk)
        lsh_index_add_many(spark, bulk, [b1, b2])
        validate_lsh_index(spark, bulk)

        seq = str(tmp_path / "seq")
        build_lsh_index(old, seq)
        lsh_index_add(spark, seq, b1)
        lsh_index_add(spark, seq, b2)
        validate_lsh_index(spark, seq)

        rebuilt = str(tmp_path / "rebuilt")
        build_lsh_index(old.unionByName(b1).unionByName(b2), rebuilt)

        def q(path):
            return {
                (r["query_id"], r["index_id"], round(r["jaccard"], 12))
                for r in lsh_query_near_dups(
                    spark, path, probe, threshold=0.5
                ).collect()
            }

        res = q(bulk)
        assert res == q(seq) == q(rebuilt)
        assert len(res) > 0

    def test_add_many_cross_batch_duplicates(self, spark, docs, tmp_path):
        """Cross-batch duplicate ids: 'error' raises naming offenders
        before any state changes; 'skip' keeps the FIRST batch's rows —
        exactly what the sequential per-batch loop would do."""
        import pytest as _pytest

        from nibbledb_spark.operators.dedup import (
            build_lsh_index,
            lsh_index_add_many,
            lsh_query_near_dups,
            validate_lsh_index,
        )

        old = docs.where("doc_id % 4 = 0")
        b1 = docs.where("doc_id % 4 = 1")
        b2 = docs.where("doc_id % 4 = 2").unionByName(b1.limit(2))
        path = str(tmp_path / "idx")
        build_lsh_index(old, path)

        def q():
            return {
                (r["query_id"], r["index_id"], round(r["jaccard"], 12))
                for r in lsh_query_near_dups(
                    spark, path, docs.where("doc_id % 4 = 3"), threshold=0.5
                ).collect()
            }

        before = q()
        with _pytest.raises(ValueError, match="more than one batch"):
            lsh_index_add_many(spark, path, [b1, b2])
        assert q() == before, "failed add_many must not mutate the index"
        lsh_index_add_many(spark, path, [b1, b2], on_duplicate="skip")
        validate_lsh_index(spark, path)
        sizes = spark.read.parquet(path + "/sizes")
        assert sizes.groupBy("id").count().where("count > 1").count() == 0

    def test_open_index_probe_equals_path_probe_and_pins_snapshot(
        self, spark, docs, tmp_path
    ):
        """lsh_open_index: probes through the handle equal bare-path
        probes; the handle pins the at-open snapshot (a later add is
        invisible until re-open); close() releases the cache."""
        from nibbledb_spark.operators.dedup import (
            build_lsh_index,
            lsh_index_add,
            lsh_open_index,
            lsh_query_near_dups,
        )

        old = docs.where("doc_id % 3 != 0")
        new = docs.where("doc_id % 3 = 0")
        path = str(tmp_path / "idx")
        build_lsh_index(old, path)

        def q(target):
            return {
                (r["query_id"], r["index_id"], round(r["jaccard"], 12))
                for r in lsh_query_near_dups(
                    spark, target, docs, threshold=0.5
                ).collect()
            }

        with lsh_open_index(spark, path) as idx:
            before = q(path)
            assert q(idx) == before
            lsh_index_add(spark, path, new)
            after = q(path)
            assert after > before  # the add landed for path probes...
            assert q(idx) == before  # ...but the handle pins its snapshot
        reopened = lsh_open_index(spark, path, cache=False)
        assert q(reopened) == after

    def test_open_index_pins_legacy_premanifest_index(
        self, spark, docs, tmp_path
    ):
        """A pre-manifest (round-8 vintage) index must still pin its
        at-open snapshot (round-10 self-review): the fallback used to
        return a directory-scan frame that resolved files at action
        time, leaking later adds into the open handle."""
        import os as _os

        from nibbledb_spark.operators.dedup import (
            _LSH_MANIFEST,
            build_lsh_index,
            lsh_index_add,
            lsh_open_index,
            lsh_query_near_dups,
        )

        old = docs.where("doc_id % 3 != 0")
        new = docs.where("doc_id % 3 = 0")
        path = str(tmp_path / "idx")
        build_lsh_index(old, path)
        _os.remove(_os.path.join(path, _LSH_MANIFEST))  # age the index

        def q(target):
            return {
                (r["query_id"], r["index_id"])
                for r in lsh_query_near_dups(
                    spark, target, docs, threshold=0.5
                ).collect()
            }

        with lsh_open_index(spark, path, cache=False) as idx:
            before = q(idx)
            lsh_index_add(spark, path, new)  # re-manifests and extends
            assert q(path) > before
            assert q(idx) == before  # the legacy handle stays pinned

    def test_torn_publish_invisible_then_healed(
        self, spark, docs, tmp_path, monkeypatch
    ):
        """Crash BETWEEN the part-file renames and the manifest swap:
        readers still see the pre-add state, validate names the junk,
        and the retry GCs it and succeeds — the full recovery story."""
        import os

        import pytest as _pytest

        import nibbledb_spark.operators.dedup as dd

        old = docs.where("doc_id % 3 != 0")
        new = docs.where("doc_id % 3 = 0")
        path = str(tmp_path / "idx")
        dd.build_lsh_index(old, path)

        def q():
            return {
                (r["query_id"], r["index_id"])
                for r in dd.lsh_query_near_dups(
                    spark, path, docs, threshold=0.5
                ).collect()
            }

        before = q()
        real_write = dd._lsh_manifest_write
        monkeypatch.setattr(
            dd,
            "_lsh_manifest_write",
            lambda *a, **k: (_ for _ in ()).throw(OSError("disk gone")),
        )
        with _pytest.raises(OSError, match="disk gone"):
            dd.lsh_index_add(spark, path, new)
        # junk landed (renames happened) but readers are unaffected
        junk = [
            fn
            for fn in os.listdir(os.path.join(path, "bands"))
            if fn.startswith("part-")
            and fn not in dd._lsh_manifest_read(path)["bands"]
        ]
        assert junk, "the torn publish should have left unmanifested files"
        assert q() == before
        with _pytest.raises(RuntimeError, match="unmanifested"):
            dd.validate_lsh_index(spark, path)
        # retry heals: junk GC'd, add lands, index validates
        monkeypatch.setattr(dd, "_lsh_manifest_write", real_write)
        dd.lsh_index_add(spark, path, new)
        dd.validate_lsh_index(spark, path)
        after = q()
        assert after > before

    def test_query_cost_reads_not_recompute(self, spark, docs, tmp_path):
        """The query plan scans the persisted band/shingle/size parquet —
        corpus-side signatures are never recomputed (no corpus text scan
        in the plan; only the probe batch's)."""
        import contextlib
        import io

        from nibbledb_spark.operators.dedup import (
            build_lsh_index,
            lsh_query_near_dups,
        )

        path = str(tmp_path / "idx")
        build_lsh_index(docs.where("doc_id >= 50"), path)
        plan_df = lsh_query_near_dups(
            spark, path, docs.where("doc_id < 50"), threshold=0.5
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            plan_df.explain("formatted")
        plan = buf.getvalue()
        for sub in ("bands", "shingles", "sizes"):
            assert f"idx/{sub}" in plan or f"idx%2F{sub}" in plan, sub


# --- perceptual-hash image dedup (multimodal.py image_dhash) ----------------


def _ppm_pattern(w, h, fn):
    """Binary PPM whose pixel (x, y) is the grayscale value fn(x, y)."""
    header = f"P6\n{w} {h}\n255\n".encode()
    body = bytearray()
    for y in range(h):
        for x in range(w):
            v = fn(x, y) & 0xFF
            body += bytes((v, v, v))
    return header + bytes(body)


def _hamming_pairs(fp, hex_col, long_col, *, max_hamming=6, bands=4):
    """(id1, id2, hamming) near-dup pairs of a fingerprint frame
    (``image_dhash`` or ``audio_fingerprint`` output) through the shared
    banded join, composed the way ``clean_media`` composes it."""
    from nibbledb_spark.operators.multimodal import banded_hamming_pairs

    h = fp.where(F.col("decoded")).select(
        F.col("media_id").alias("id"),
        F.col(hex_col).alias("hhex"),
        F.col(long_col).alias("hlong"),
    )
    return banded_hamming_pairs(h, max_hamming=max_hamming, bands=bands)


class TestImageDhash:
    def test_dhash_deterministic_and_upscale_invariant(self, spark):
        """dHash is a pure function of pixels, and an exact 2x
        block-upscale pools to the same cell means -> identical hash —
        the re-encode/resize robustness the fingerprint exists for."""
        from nibbledb_spark.operators.multimodal import image_dhash

        grad = _ppm_pattern(18, 16, lambda x, y: x * 13 + y * 5)
        grad2x = _ppm_pattern(36, 32, lambda x, y: (x // 2) * 13 + (y // 2) * 5)
        media = spark.createDataFrame(
            [(1, "image", bytearray(grad)), (2, "image", bytearray(grad)),
             (3, "image", bytearray(grad2x))],
            "media_id long, kind string, payload binary",
        )
        rows = {r["media_id"]: r for r in image_dhash(media).collect()}
        assert rows[1]["decoded"] and rows[1]["dhash"] == rows[2]["dhash"]
        assert rows[1]["dhash"] == rows[3]["dhash"], "2x block upscale must pool equal"
        assert len(rows[1]["dhash"]) == 16
        assert int(rows[1]["dhash"], 16) & ((1 << 64) - 1) == rows[1][
            "dhash_long"
        ] & ((1 << 64) - 1)

    def test_near_dup_pairs_hamming_and_recall_contract(self, spark):
        """A small local edit (few gradient bits flip) pairs within the
        hamming budget — GUARANTEED found below the pigeonhole bound —
        while a structurally different image does not pair; undecodable
        payloads are excluded, never fatal."""
        from nibbledb_spark.operators.multimodal import image_dhash

        base = lambda x, y: x * 13 + y * 5  # noqa: E731
        # perturb one pooled cell's luminance: flips at most the 2
        # gradient bits adjacent to that cell (< bands=4 -> guaranteed)
        edited = lambda x, y: base(x, y) + (120 if (x < 2 and y < 2) else 0)  # noqa: E731
        other = lambda x, y: 255 * ((x + y) % 2)  # noqa: E731  checkerboard
        media = spark.createDataFrame(
            [
                (1, "image", bytearray(_ppm_pattern(18, 16, base))),
                (2, "image", bytearray(_ppm_pattern(18, 16, edited))),
                (3, "image", bytearray(_ppm_pattern(18, 16, other))),
                (4, "image", bytearray(b"not an image")),
            ],
            "media_id long, kind string, payload binary",
        )
        hams = {r["media_id"]: r for r in image_dhash(media).collect()}
        assert not hams[4]["decoded"] and hams[4]["dhash"] is None
        pairs = {
            (r["id1"], r["id2"]): r["hamming"]
            for r in _hamming_pairs(
                image_dhash(media), "dhash", "dhash_long", max_hamming=3
            ).collect()
        }
        assert (1, 2) in pairs and 0 < pairs[(1, 2)] <= 3
        assert (1, 3) not in pairs and (2, 3) not in pairs
        assert not any(4 in p for p in pairs)

    def test_band_validation(self, spark):
        from nibbledb_spark.operators.multimodal import image_dhash

        media = spark.createDataFrame(
            [], "media_id long, kind string, payload binary"
        )
        with pytest.raises(ValueError, match="bands"):
            _hamming_pairs(image_dhash(media), "dhash", "dhash_long", bands=5)

    def test_tiny_images_flagged_not_hashed(self, spark):
        """Images below the 8x9 pooling grid must be FLAGGED, not
        hashed: zero-width cells make numpy emit inf/nan (a warning,
        not an exception), so without the guard every tiny image got
        the same content-independent hash and two unrelated 4x4
        thumbnails became a hamming-0 'near-dup' pair."""
        from nibbledb_spark.operators.multimodal import image_dhash

        media = spark.createDataFrame(
            [
                (1, "image", bytearray(_ppm_pattern(4, 4, lambda x, y: 0))),
                (2, "image", bytearray(_ppm_pattern(4, 4, lambda x, y: 255))),
                (3, "image", bytearray(_ppm_pattern(9, 8, lambda x, y: x * 29))),
            ],
            "media_id long, kind string, payload binary",
        )
        rows = {r["media_id"]: r for r in image_dhash(media).collect()}
        assert not rows[1]["decoded"] and rows[1]["dhash"] is None
        assert not rows[2]["decoded"] and rows[2]["dhash"] is None
        assert rows[3]["decoded"], "9x8 is exactly the grid — must hash"
        pairs = _hamming_pairs(
            image_dhash(media), "dhash", "dhash_long", max_hamming=6
        ).collect()
        assert pairs == [], "tiny images must never pair with anything"


# --- spectral audio fingerprint dedup (multimodal.py audio_fingerprint) -----


def _wav_seq(freqs, rate=8000, frame_n=800, amp=0.5):
    """16-bit PCM WAV: one sine tone per fingerprint frame (len(freqs)
    frames of frame_n samples), loud/quiet alternation via amp per tone."""
    import math
    import struct

    body = bytearray()
    for f, a in freqs:
        for i in range(frame_n):
            v = int(a * amp * 32767 * math.sin(2 * math.pi * f * i / rate))
            body += struct.pack("<h", v)
    samples = bytes(body)
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(samples)) + samples
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


class TestAudioFingerprint:
    def test_fingerprint_near_dup_and_discriminative(self, spark):
        """A bit-identical copy fingerprints identically; a re-levelled
        (half-amplitude, requantized) copy lands within the hamming
        budget (signal-band gradients survive, noise-floor bands may
        flip) and pairs; a reversed tone sequence does not pair;
        corrupt payloads are excluded, never fatal."""
        from nibbledb_spark.operators.multimodal import audio_fingerprint

        seq = [(200, 1.0), (1600, 0.2), (400, 1.0), (3200, 0.1), (250, 0.9),
               (1200, 0.3), (300, 1.0), (2800, 0.15), (500, 0.8)]
        media = spark.createDataFrame(
            [
                (1, "audio", bytearray(_wav_seq(seq))),
                (2, "audio", bytearray(_wav_seq([(f, a * 0.5) for f, a in seq]))),
                (3, "audio", bytearray(_wav_seq(list(reversed(seq))))),
                (4, "audio", bytearray(b"not audio")),
                (5, "audio", bytearray(_wav_seq(seq))),  # bit-identical copy
            ],
            "media_id long, kind string, payload binary",
        )
        rows = {r["media_id"]: r for r in audio_fingerprint(media).collect()}
        assert rows[1]["decoded"] and len(rows[1]["afp"]) == 16
        assert rows[1]["afp"] == rows[5]["afp"], "identical audio, identical fp"
        assert rows[1]["afp"] != rows[3]["afp"]
        assert not rows[4]["decoded"] and rows[4]["afp"] is None
        pairs = {
            (r["id1"], r["id2"]): r["hamming"]
            for r in _hamming_pairs(
                audio_fingerprint(media), "afp", "afp_long", max_hamming=8
            ).collect()
        }
        assert pairs.get((1, 5)) == 0
        assert (1, 2) in pairs and 0 < pairs[(1, 2)] <= 8, "re-levelled near-dup"
        assert (1, 3) not in pairs and (2, 3) not in pairs
        assert not any(4 in p for p in pairs)

    def test_fingerprint_geometry_validation(self, spark):
        from nibbledb_spark.operators.multimodal import audio_fingerprint

        media = spark.createDataFrame(
            [], "media_id long, kind string, payload binary"
        )
        with pytest.raises(ValueError, match="must be 64"):
            audio_fingerprint(media, n_frames=10, n_bands=8)
        # a clip too short for 9 frames is flagged, not fatal
        from nibbledb_spark.operators.multimodal import audio_fingerprint as afp

        tiny = spark.createDataFrame(
            [(1, "audio", bytearray(_wav_seq([(440, 1.0)], frame_n=8)))],
            "media_id long, kind string, payload binary",
        )
        r = afp(tiny).collect()[0]
        assert not r["decoded"] and r["afp"] is None


def test_cross_format_media_dedup_one_family(spark):
    """The SAME picture stored as PPM, BMP, GIF, and TIFF-LZW decodes
    pixel-identical through four different codec paths, hashes to ONE
    dHash, and clean_media collapses all four into a single canonical
    family (lowest id survives) while a different picture in a fifth
    format stays its own canonical — cross-format dedup is exactly
    what the decoder breadth buys the pipeline."""
    import numpy as np

    from nibbledb_spark.operators.multimodal import clean_media, decode_image

    w, h = 18, 16
    idx = np.fromfunction(
        lambda y, x: ((x // 3) ^ (y // 2)) & 1, (h, w), dtype=np.int64
    ).astype(np.uint8)
    pal = [(0, 0, 0), (255, 255, 255)]
    rgb = np.array(pal, np.uint8)[idx]
    gray = rgb[:, :, 0]

    ppm = _ppm_pattern(w, h, lambda x, y: 255 * (((x // 3) ^ (y // 2)) & 1))

    # array-valued 24-bit BMP (the shared _bmp helper is solid-color):
    # bottom-up BGR rows padded to 4 bytes
    import struct

    stride = (w * 3 + 3) & ~3
    body = b"".join(
        rgb[y, :, ::-1].tobytes() + b"\x00" * (stride - w * 3)
        for y in range(h - 1, -1, -1)
    )
    bmp = (
        struct.pack("<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
        + body
    )
    gif = _gif_bytes([idx], pal)
    tif = _tiff_bytes(gray, compression=5, predictor=2)
    other = _ppm_pattern(w, h, lambda x, y: (x * 29 + y * 63) & 0xFF)

    # all four decode byte-identical
    for payload in (ppm, bmp, gif, tif):
        assert np.array_equal(decode_image(payload), rgb)

    media = spark.createDataFrame(
        [
            (1, "image", bytearray(ppm)),
            (2, "image", bytearray(bmp)),
            (3, "image", bytearray(gif)),
            (4, "image", bytearray(tif)),
            (5, "image", bytearray(other)),
        ],
        "media_id long, kind string, payload binary",
    )
    out = {
        r["media_id"]: (r["canonical_id"], r["keep"])
        for r in clean_media(media, image_max_hamming=3).collect()
    }
    assert out == {
        1: (1, True),
        2: (1, False),
        3: (1, False),
        4: (1, False),
        5: (5, True),
    }


class TestCleanMedia:
    def test_composed_media_dedup_pipeline(self, spark):
        """clean_media: byte-identical copies collapse exactly, image
        and audio near-dups cluster per kind (never cross-kind), each
        cluster keeps its lowest id, corrupt payloads survive as
        singletons — one row back per input row."""
        from nibbledb_spark.operators.multimodal import clean_media

        base = lambda x, y: x * 13 + y * 5  # noqa: E731
        edited = lambda x, y: base(x, y) + (120 if (x < 2 and y < 2) else 0)  # noqa: E731
        other = lambda x, y: 255 * ((x + y) % 2)  # noqa: E731
        seq = [(200, 1.0), (1600, 0.2), (400, 1.0), (3200, 0.1), (250, 0.9),
               (1200, 0.3), (300, 1.0), (2800, 0.15), (500, 0.8)]
        media = spark.createDataFrame(
            [
                (1, "image", bytearray(_ppm_pattern(18, 16, base))),
                (2, "image", bytearray(_ppm_pattern(18, 16, base))),  # exact dup
                (3, "image", bytearray(_ppm_pattern(18, 16, edited))),  # near-dup
                (4, "image", bytearray(_ppm_pattern(18, 16, other))),
                (10, "audio", bytearray(_wav_seq(seq))),
                (11, "audio", bytearray(_wav_seq([(f, a * 0.5) for f, a in seq]))),
                (12, "audio", bytearray(_wav_seq(list(reversed(seq))))),
                (20, "image", bytearray(b"corrupt")),
                # fetch failures: md5(NULL) is NULL, which matches no
                # equi-join key — without the explicit pass-through these
                # rows vanished from the output entirely
                (21, "image", None),
                (22, "audio", None),
            ],
            "media_id long, kind string, payload binary",
        )
        out = {
            r["media_id"]: (r["canonical_id"], r["keep"])
            for r in clean_media(media, image_max_hamming=3, audio_max_hamming=8).collect()
        }
        assert len(out) == 10  # one row per input row, NULL payloads included
        assert out[1] == (1, True)
        assert out[2] == (1, False)  # exact dup resolves through survivor 1
        assert out[3] == (1, False)  # perceptual near-dup joins 1's cluster
        assert out[4] == (4, True)
        assert out[10] == (10, True)
        assert out[11] == (10, False)  # re-levelled audio joins 10's cluster
        assert out[12] == (12, True)
        assert out[20] == (20, True)  # corrupt: exact-dedupable singleton
        assert out[21] == (21, True)  # NULL payloads: singletons, never
        assert out[22] == (22, True)  # duplicates of each other

    def test_media_canonical_from_hashes_stage(self, spark):
        """The oracle-able post-decode stage in isolation
        (media_canonical_from_hashes — what the declared
        media_clean_canonicals query runs): per-kind thresholds are a
        post-filter on ONE shared banded join, kinds never cross-pair
        even on identical hashes, NULL-hash rows are keep=true
        singletons, and a kind absent from the threshold map never
        pairs."""
        from nibbledb_spark.operators.multimodal import (
            banded_hamming_pairs,
            media_canonical_from_hashes,
        )

        def row(i, kind, v):
            return (i, kind, f"{v:016x}", v - (1 << 64) if v >= (1 << 63) else v)

        h = spark.createDataFrame(
            [
                row(1, "image", 0xAAAA0000AAAA0000),
                row(2, "image", 0xAAAA0000AAAA0001),  # hamming 1 from 1
                row(3, "image", 0xAAAA0000AAAA000F),  # hamming 4 from 1
                row(4, "audio", 0xAAAA0000AAAA0000),  # same hash, other kind
                row(5, "audio", 0xAAAA0000AAAA0003),  # hamming 2 from 4
                (6, "image", None, None),  # undecodable
                row(7, "video", 0xAAAA0000AAAA0000),  # no declared threshold
            ],
            "id long, kind string, hhex string, hlong long",
        )
        out = {
            r["media_id"]: (r["kind"], r["canonical_id"], r["keep"])
            for r in media_canonical_from_hashes(
                h, max_hamming={"image": 2, "audio": 2}, bands=4
            ).collect()
        }
        assert len(out) == 7
        assert out[1] == ("image", 1, True)
        assert out[2] == ("image", 1, False)  # within image threshold
        assert out[3] == ("image", 3, True)  # hamming 4 > image threshold 2
        assert out[4] == ("audio", 4, True)  # never cross-pairs with 1
        assert out[5] == ("audio", 4, False)
        assert out[6] == ("image", 6, True)  # NULL hash: singleton
        assert out[7] == ("video", 7, True)  # unmapped kind never pairs

        # int threshold applies uniformly; by-groups keep kinds apart
        pairs = {
            (r["id1"], r["id2"]): (r["kind"], r["hamming"])
            for r in banded_hamming_pairs(
                h, max_hamming=6, bands=4, by=("kind",)
            ).collect()
        }
        assert pairs[(1, 2)] == ("image", 1)
        assert pairs[(1, 3)] == ("image", 4)
        assert pairs[(4, 5)] == ("audio", 2)
        assert (1, 4) not in pairs and not any(6 in p or 7 in p for p in pairs)


def test_clean_ingest_sink_gates_dedups_exactly_once(spark, tmp_path):
    """Streaming quality-gated ingest (pipeline.clean_ingest_sink):
    below-threshold docs never commit, duplicate texts keep their
    first-committed copy (even across batches, under different ids),
    and a crash-replayed batch commits nothing."""
    from pyspark.sql import functions as F

    from nibbledb_spark.operators.pipeline import clean_ingest_sink
    from nibbledb_spark.operators.text import linear_quality_score
    from nibbledb_spark.snapshots import SnapshotLog

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .where("doc_id < 40")
    )
    passing = {
        r["id"]
        for r in linear_quality_score(docs).where("lin_score >= 0.0").collect()
    }
    assert passing and len(passing) < 40, "need both classes for the test"

    log = SnapshotLog(spark, str(tmp_path / "tbl"))
    sink = clean_ingest_sink(log, min_quality=0.0)
    b1 = docs.where("doc_id % 2 = 0")
    # batch 2: the odd docs plus RE-KEYED copies of the even texts —
    # the copies must dedup against batch 1's commits, not re-enter
    b2 = docs.where("doc_id % 2 = 1").unionByName(
        docs.where("doc_id % 2 = 0").withColumn(
            "doc_id", F.col("doc_id") + 10_000
        )
    )
    sink(b1, 0)
    n_after_b1 = log.read().count()
    assert n_after_b1 == len({d for d in passing if d % 2 == 0})
    sink(b2, 1)
    sink(b2, 1)  # crash replay: must be a no-op
    got = {r["doc_id"] for r in log.read().collect()}
    assert got == passing, "gate + cross-batch text dedup = passing originals"
    # every committed row passed the gate; no re-keyed copy survived
    assert not any(d >= 10_000 for d in got)
    # zero-token docs score NULL and are DROPPED by default (explicit
    # policy, not NULL-comparison accident); keep_empty=True admits them
    empty = spark.createDataFrame([(77_777, "")], "doc_id long, text string")
    sink(empty, 2)
    assert 77_777 not in {r["doc_id"] for r in log.read().collect()}
    lax = clean_ingest_sink(log, min_quality=0.0, keep_empty=True, stream_id="lax")
    lax(empty, 0)
    assert 77_777 in {r["doc_id"] for r in log.read().collect()}


def _avi_mjpeg_bytes(
    frames, *, scale=1, rate=10, width=16, height=16, handler=b"MJPG",
    wrap_rec=False, fourcc=b"00dc", audio_first=False,
):
    """Minimal spec-correct AVI 1.0 writer for the container tests:
    RIFF(AVI (hdrl(avih, strl(strh, strf)), movi(frames))). ``strh``
    carries the canonical dwScale/dwRate clock; ``avih`` carries a
    deliberately DIFFERENT µs/frame so tests prove the parser prefers
    the stream clock. ``wrap_rec`` nests the frame chunks inside a
    'rec ' LIST (interleaved-file layout some muxers emit)."""
    import struct

    def chunk(cc, data):
        return cc + struct.pack("<I", len(data)) + data + (b"\0" * (len(data) & 1))

    def lst(ltype, data):
        return chunk(b"LIST", ltype + data)

    usec = 1_000_000 * scale // rate
    avih = struct.pack(
        "<10I", usec + 7, 0, 0, 0, len(frames), 0, 1, 0, width, height
    ) + b"\0" * 16
    strh = (
        b"vids" + handler
        + struct.pack("<IHH6I", 0, 0, 0, 0, scale, rate, 0, len(frames), 0)
        + struct.pack("<II", 0, 0) + struct.pack("<4H", 0, 0, width, height)
    )
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, width, height, 1, 24, handler, 0, 0, 0, 0, 0
    )
    strls = lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf))
    if audio_first:
        # an auds stream listed BEFORE the video one: video becomes
        # stream 1, its movi chunks '01dc'
        astrh = (
            b"audsPCM " + struct.pack("<IHH6I", 0, 0, 0, 0, 1, 8000, 0, 0, 0)
            + struct.pack("<II", 0, 0) + struct.pack("<4H", 0, 0, 0, 0)
        )
        astrf = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        strls = lst(b"strl", chunk(b"strh", astrh) + chunk(b"strf", astrf)) + strls
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + strls)
    body = b"".join(chunk(fourcc, f) for f in frames)
    if wrap_rec:
        body = lst(b"rec ", body)
    movi = lst(b"movi", body)
    return b"RIFF" + struct.pack("<I", 4 + len(hdrl) + len(movi)) + b"AVI " + hdrl + movi


def _gif_lzw_encode(indices, min_code_size):
    """Spec-correct GIF LZW encoder (variable width, clear/EOI, 4096
    cap, width bump synchronized with the decoder's add-then-widen) —
    exists so the decoder tests exercise REAL compressed streams with
    dictionary growth, not just literal runs."""
    clear = 1 << min_code_size
    eoi = clear + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code_size + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    prev = b""
    for px in bytes(indices):
        cur = prev + bytes([px])
        if cur in table:
            prev = cur
            continue
        emit(table[prev])
        if next_code < 4096:
            table[cur] = next_code
            next_code += 1
            # the encoder sits one dictionary-add AHEAD of the decoder
            # at emission time, so it widens one code later than the
            # decoder's add-then-widen (giflib "late change")
            if next_code - 1 == (1 << width) and width < 12:
                width += 1
        prev = bytes([px])
    if prev:
        emit(table[prev])
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_bytes(
    frames,
    palette,
    *,
    screen=None,
    delays_cs=None,
    rects=None,
    transparent=None,
    disposals=None,
    interlace=False,
    local_palettes=None,
    min_code_size=None,
    version=b"GIF89a",
):
    """Minimal spec-correct GIF writer for the decoder tests: global
    palette, optional per-frame GCE (delay/transparency/disposal),
    sub-rectangle frames, interlace, local color tables."""
    import struct

    import numpy as np

    n_entries = 1
    while (1 << n_entries) < len(palette):
        n_entries += 1
    pal = bytes(
        c for rgb in (list(palette) + [(0, 0, 0)] * ((1 << n_entries) - len(palette)))
        for c in rgb
    )
    h0, w0 = frames[0].shape if screen is None else screen
    out = bytearray(version)
    out += struct.pack("<HH", w0, h0)
    out += bytes([0x80 | (n_entries - 1), 0, 0])
    out += pal
    mcs = min_code_size if min_code_size is not None else max(2, n_entries)
    for i, fr in enumerate(frames):
        fh, fw = fr.shape
        left, top = (0, 0) if rects is None else rects[i]
        gce_needed = delays_cs or transparent is not None or disposals
        if gce_needed:
            delay = delays_cs[i] if delays_cs else 0
            disp = disposals[i] if disposals else 0
            tflag = 1 if transparent is not None else 0
            out += bytes([0x21, 0xF9, 4, (disp << 2) | tflag])
            out += struct.pack("<H", delay)
            out += bytes([transparent or 0, 0])
        lflags = 0x40 if interlace else 0
        lpal = local_palettes[i] if local_palettes else None
        if lpal is not None:
            ln = 1
            while (1 << ln) < len(lpal):
                ln += 1
            lflags |= 0x80 | (ln - 1)
        out += bytes([0x2C]) + struct.pack("<HHHH", left, top, fw, fh)
        out += bytes([lflags])
        if lpal is not None:
            out += bytes(
                c
                for rgb in (list(lpal) + [(0, 0, 0)] * ((1 << ln) - len(lpal)))
                for c in rgb
            )
        data = fr
        if interlace:
            order = np.concatenate(
                [np.arange(s, fh, st) for s, st in ((0, 8), (4, 8), (2, 4), (1, 2))]
            )
            data = fr[order]
        lzw = _gif_lzw_encode(data.tobytes(), mcs)
        out += bytes([mcs])
        for off in range(0, len(lzw), 255):
            blockb = lzw[off : off + 255]
            out += bytes([len(blockb)]) + blockb
        out += b"\0"
    out += b"\x3b"
    return bytes(out)


def test_decode_gif_full_matrix():
    """GIF decode pins: a compressed frame with real dictionary growth
    round-trips pixel-exact through the in-test spec LZW encoder;
    interlaced frames come back in display order; an animation with
    sub-rectangle frames, transparency, and disposal 2 composites
    exactly as a viewer would (transparent pixels keep the prior
    canvas; restore-background clears the rect); local palettes
    override the global one; delays clamp (0 -> 100 ms) and timestamps
    accumulate; decode_image returns the first composited frame;
    malformed payloads raise ValueError."""
    import numpy as np

    from nibbledb_spark.operators.multimodal import decode_gif, decode_image

    # deterministic 64x64 indexed frame over a 4-color palette --
    # repeating structure drives real LZW dictionary growth
    pal4 = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (250, 250, 250)]
    idx = np.fromfunction(
        lambda y, x: ((x // 3) + (y // 5)) % 4, (64, 64), dtype=np.int64
    ).astype(np.uint8)
    g = decode_gif(_gif_bytes([idx], pal4))
    assert (g["width"], g["height"]) == (64, 64)
    exp = np.array(pal4, np.uint8)[idx]
    assert np.array_equal(g["frames"][0], exp)
    assert g["delays_ms"] == [100]  # no GCE -> browser clamp
    assert g["ts_ms"] == [0]

    gi = decode_gif(_gif_bytes([idx], pal4, interlace=True))
    assert np.array_equal(gi["frames"][0], exp)

    # animation: full red frame, then a 4x4 patch at (2,1) where color
    # 0 is transparent (keeps red), color 1 paints green; disposal 2
    # then clears the patch to background for frame 3
    f0 = np.zeros((8, 8), np.uint8)
    patch = np.zeros((4, 4), np.uint8)
    patch[::2] = 1
    f2 = np.full((8, 8), 2, np.uint8)
    anim = _gif_bytes(
        [f0, patch, f2],
        pal4,
        screen=(8, 8),
        rects=[(0, 0), (1, 2), (0, 0)],
        delays_cs=[5, 0, 20],
        transparent=0,
        disposals=[0, 2, 0],
    )
    ga = decode_gif(anim)
    assert ga["delays_ms"] == [50, 100, 200]
    assert ga["ts_ms"] == [0, 50, 150]
    c0 = np.zeros((8, 8, 3), np.uint8)  # idx0 transparent on black canvas
    assert np.array_equal(ga["frames"][0], c0)
    c1 = c0.copy()
    c1[2:6, 1:5][patch == 1] = pal4[1]
    assert np.array_equal(ga["frames"][1], c1)
    c2 = np.array(pal4, np.uint8)[f2]
    assert np.array_equal(ga["frames"][2], c2)
    assert np.array_equal(decode_image(anim), c0)

    # local palette overrides global
    lp = decode_gif(
        _gif_bytes([np.zeros((2, 2), np.uint8)], pal4,
                   local_palettes=[[(9, 9, 9), (1, 1, 1)]])
    )
    assert np.array_equal(lp["frames"][0], np.full((2, 2, 3), 9, np.uint8))

    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_gif(b"NOTAGIF")
    with _pytest.raises(ValueError):
        decode_gif(_gif_bytes([idx], pal4)[:-20])  # truncated data
    # pixel index beyond the (2-entry) color table
    bad = _gif_bytes([np.full((2, 2), 3, np.uint8)], [(0, 0, 0), (1, 1, 1)],
                     min_code_size=2)
    with _pytest.raises(ValueError, match="color table"):
        decode_gif(bad)
    # frame rect outside the logical screen
    with _pytest.raises(ValueError, match="rectangle"):
        decode_gif(_gif_bytes([patch], pal4, screen=(3, 3)))


def test_video_keyframes_gif_animation(spark):
    """Animated GIFs ride the video keyframe path: frames sample on
    the per-frame variable-delay clock, emitted payloads are PPM
    images that decode back pixel-exact, luminance matches, corrupt
    GIFs flag one row, and a GIF still pairs with its AVI sibling in
    the downstream dhash space (container-agnostic near-dup)."""
    import numpy as np

    from nibbledb_spark.operators.multimodal import (
        decode_gif,
        decode_image,
        video_keyframes,
    )

    pal = [(0, 0, 0), (255, 255, 255), (200, 10, 10), (10, 200, 10)]
    rng = np.random.RandomState(7)
    frames = [
        rng.randint(0, 4, (16, 16)).astype(np.uint8) for _ in range(4)
    ]
    # delays: 30cs, 30cs, 5cs, 35cs -> starts at 0/300/600/650 ms
    gif = _gif_bytes(frames, pal, delays_cs=[30, 30, 5, 35])
    rows = [(1, "video", bytearray(gif), None),
            (2, "video", bytearray(b"GIF89a" + b"\x00" * 4), None)]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary, meta string"
    )
    out = video_keyframes(media, every_ms=500).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["media_id"], []).append(r)
    # targets 0,500 ms -> frames showing: idx0 (t=0), idx1 (300<=500<600)
    g1 = sorted(by_id[1], key=lambda r: r["frame_idx"])
    assert [(r["frame_idx"], r["frame_ts_ms"]) for r in g1] == [(0, 0), (1, 300)]
    composited = decode_gif(gif)["frames"]
    for r in g1:
        arr = decode_image(bytes(r["frame"]))
        assert np.array_equal(arr, composited[r["frame_idx"]])
        assert r["decoded"] and (r["width"], r["height"]) == (16, 16)
        exp_lum = np.float32(
            composited[r["frame_idx"]].astype(np.float64).mean(axis=2).mean() / 255.0
        )
        assert r["lum_mean"] == exp_lum
    assert len(by_id[2]) == 1 and by_id[2][0]["decoded"] is False


def _tiff_lzw_encode(data):
    """TIFF-flavor LZW encoder (MSB-first, 9-bit start, 4096 cap,
    EARLY change: the encoder widens when next_code reaches 2^width —
    one code earlier than the GIF encoder, mirroring the decoder's
    len == 2^width − 1 rule)."""
    clear, eoi = 256, 257
    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    out = bytearray()
    acc = nbits = 0

    def emit(code):
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8
            acc &= (1 << nbits) - 1

    emit(clear)
    prev = b""
    for px in bytes(data):
        cur = prev + bytes([px])
        if cur in table:
            prev = cur
            continue
        emit(table[prev])
        if next_code < 4096:
            table[cur] = next_code
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = bytes([px])
    if prev:
        emit(table[prev])
    emit(eoi)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _packbits_encode(data):
    """Literal-run PackBits encoder (127-byte literal chunks — valid,
    if suboptimal, PackBits) with one repeat run thrown in when a
    long repeat exists, so both decoder branches exercise."""
    out = bytearray()
    i = 0
    data = bytes(data)
    while i < len(data):
        # emit a repeat run if >= 3 identical bytes ahead
        run = 1
        while run < 128 and i + run < len(data) and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out += bytes([256 - (run - 1), data[i]])
            i += run
            continue
        j = min(len(data), i + 127)
        out += bytes([j - i - 1]) + data[i:j]
        i = j
    return bytes(out)


def _tiff_bytes(
    arr, *, big_endian=False, compression=1, predictor=1,
    rows_per_strip=None, photometric=None,
):
    """Minimal spec-correct TIFF 6.0 writer for the decoder tests:
    single IFD, strip-organized, gray or RGB, none/LZW/PackBits."""
    import numpy as np
    import struct

    bo = ">" if big_endian else "<"
    h, w = arr.shape[:2]
    spp = 1 if arr.ndim == 2 else arr.shape[2]
    photo = photometric if photometric is not None else (1 if spp == 1 else 2)
    rps = rows_per_strip or h
    flat = arr.reshape(h, w * spp) if spp else arr
    if predictor == 2:
        enc = arr.astype(np.int16)
        enc = np.concatenate(
            [enc[:, :1], (enc[:, 1:] - enc[:, :-1]) % 256], axis=1
        ).astype(np.uint8)
        flat = enc.reshape(h, w * spp)
    strips = []
    for s0 in range(0, h, rps):
        chunk = flat[s0 : s0 + rps].tobytes()
        if compression == 5:
            chunk = _tiff_lzw_encode(chunk)
        elif compression == 32773:
            chunk = _packbits_encode(chunk)
        strips.append(chunk)

    entries = []  # (tag, type, count, value_or_bytes)

    def short(tag, *vals):
        entries.append((tag, 3, len(vals), vals))

    def long_(tag, *vals):
        entries.append((tag, 4, len(vals), vals))

    short(256, w)
    short(257, h)
    short(258, *([8] * spp))
    short(259, compression)
    short(262, photo)
    short(277, spp)
    short(278, rps)
    short(317, predictor)
    # layout: header(8) + ifd + out-of-line values + strip data
    n = len(entries) + 2  # + offsets + counts
    ifd_size = 2 + n * 12 + 4
    # reserve: out-of-line area computed in two passes
    def build(strip_off_base):
        offs, pos = [], strip_off_base
        for sdata in strips:
            offs.append(pos)
            pos += len(sdata)
        all_entries = entries + [
            (273, 4, len(strips), tuple(offs)),
            (279, 4, len(strips), tuple(len(s) for s in strips)),
        ]
        all_entries.sort(key=lambda e: e[0])
        out_of_line = bytearray()
        ool_base = 8 + ifd_size
        ifd = struct.pack(bo + "H", len(all_entries))
        tsz = {3: 2, 4: 4}
        tfmt = {3: "H", 4: "I"}
        for tag, typ, cnt, vals in all_entries:
            ifd += struct.pack(bo + "HHI", tag, typ, cnt)
            payload_bytes = b"".join(
                struct.pack(bo + tfmt[typ], v) for v in vals
            )
            if len(payload_bytes) <= 4:
                ifd += payload_bytes + b"\0" * (4 - len(payload_bytes))
            else:
                ifd += struct.pack(bo + "I", ool_base + len(out_of_line))
                out_of_line += payload_bytes
        ifd += struct.pack(bo + "I", 0)  # next IFD
        return ifd, bytes(out_of_line)

    # pass 1 to size out-of-line, pass 2 with final strip offsets
    ifd1, ool1 = build(0)
    strip_base = 8 + ifd_size + len(ool1)
    ifd2, ool2 = build(strip_base)
    header = (b"MM" if big_endian else b"II") + struct.pack(bo + "HI", 42, 8)
    return header + ifd2 + ool2 + b"".join(strips)


def test_decode_tiff_matrix():
    """TIFF decode pins: gray and RGB round-trip pixel-exact through
    the in-test spec writer across {none, LZW (early-change),
    PackBits} x {predictor 1, 2} x {little, big endian} x multi-strip;
    WhiteIsZero inverts; tiled/palette/deep files raise the documented
    NotImplementedError seams; malformed files raise ValueError;
    decode_image dispatches on both byte-order magics."""
    import numpy as np

    from nibbledb_spark.operators.multimodal import decode_image, decode_tiff

    rng = np.random.RandomState(5)
    rgb = rng.randint(0, 256, (21, 17, 3)).astype(np.uint8)
    gray = rng.randint(0, 256, (21, 17)).astype(np.uint8)
    gray_rgb = np.repeat(gray[:, :, None], 3, axis=2)

    for be in (False, True):
        for comp in (1, 5, 32773):
            for pred in (1, 2):
                for rps in (None, 5):
                    t = _tiff_bytes(
                        rgb, big_endian=be, compression=comp,
                        predictor=pred, rows_per_strip=rps,
                    )
                    assert np.array_equal(decode_tiff(t), rgb), (be, comp, pred, rps)
                    g = _tiff_bytes(
                        gray, big_endian=be, compression=comp,
                        predictor=pred, rows_per_strip=rps,
                    )
                    assert np.array_equal(decode_tiff(g), gray_rgb)

    inv = _tiff_bytes(gray, photometric=0)  # WhiteIsZero
    assert np.array_equal(decode_tiff(inv), 255 - gray_rgb)
    assert np.array_equal(decode_image(_tiff_bytes(rgb)), rgb)
    assert np.array_equal(decode_image(_tiff_bytes(rgb, big_endian=True)), rgb)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_tiff(b"II\x2b\x00rest")  # BigTIFF magic
    with _pytest.raises(ValueError):
        decode_tiff(_tiff_bytes(rgb)[:40])
    lzw = _tiff_bytes(rgb, compression=5)
    with _pytest.raises(ValueError):
        decode_tiff(lzw[: len(lzw) // 2])  # truncated strip data
    # a tiled file: patch tag 273 -> 322 (TileOffsets)
    import struct as _struct

    t = bytearray(_tiff_bytes(rgb))
    n = _struct.unpack("<H", t[8:10])[0]
    for i in range(n):
        e = 10 + i * 12
        if _struct.unpack("<H", t[e : e + 2])[0] == 273:
            t[e : e + 2] = _struct.pack("<H", 322)
    with _pytest.raises(NotImplementedError, match="tile"):
        decode_tiff(bytes(t))


def test_parse_avi_container_walk():
    """parse_avi: MJPEG frames come back in order with the strh clock
    (NOT the decoy avih µs/frame); rec-nested movi layouts parse; odd
    frame sizes keep word alignment; non-MJPEG video codecs raise the
    documented NotImplementedError seam; malformed containers raise
    ValueError."""
    from nibbledb_spark.operators.multimodal import parse_avi

    frames = [b"\xff\xd8frame%d\xff\xd9" % i for i in range(5)]
    frames[2] += b"!"  # odd length -> exercises the pad byte
    for wrap in (False, True):
        avi = parse_avi(
            _avi_mjpeg_bytes(frames, scale=1, rate=10, wrap_rec=wrap)
        )
        assert avi["frames"] == frames
        assert avi["usec_per_frame"] == 100_000  # strh 10fps, not avih+7
        assert (avi["width"], avi["height"]) == (16, 16)
    # 00db (uncompressed-flagged) chunks still collect as stream-0 video
    assert parse_avi(_avi_mjpeg_bytes(frames, fourcc=b"00db"))["frames"] == frames
    with pytest.raises(NotImplementedError, match="XVID"):
        parse_avi(_avi_mjpeg_bytes(frames, handler=b"XVID"))
    with pytest.raises(ValueError):
        parse_avi(b"RIFF\x04\x00\x00\x00AVI ")  # no streams
    with pytest.raises(ValueError):
        parse_avi(b"not an avi at all")
    truncated = _avi_mjpeg_bytes(frames)[:-9]
    with pytest.raises(ValueError):
        parse_avi(truncated)
    # streams are numbered by strl ORDER: with an auds stream listed
    # first, the video stream's movi chunks are '01dc' — the walk must
    # follow the ordinal, not assume stream 00 (round-11 review find)
    af = parse_avi(
        _avi_mjpeg_bytes(frames, fourcc=b"01dc", audio_first=True)
    )
    assert af["frames"] == frames and af["usec_per_frame"] == 100_000
    # ...and stream-00 chunks in that file would be the AUDIO stream
    assert parse_avi(
        _avi_mjpeg_bytes(frames, fourcc=b"00wb", audio_first=True)
    )["frames"] == []


def test_video_keyframes_mjpeg_end_to_end(spark):
    """The real video path (round-10 verdict #8): MJPEG-in-AVI payloads
    -> container walk -> stream-clock frame sampling -> REAL JPEG decode
    of each sampled frame. Sampled indices/timestamps follow the strh
    clock; decoded dims and luminance match decoding the same JPEG
    standalone; emitted frame bytes are themselves valid image payloads;
    corrupt containers and inter-frame codecs flag one row instead of
    failing the task; a single bad frame flags just itself."""
    import numpy as np
    import pandas as pd

    from nibbledb_spark.operators.multimodal import (
        decode_image,
        parse_avi,
        video_keyframes,
    )

    rng = np.random.RandomState(11)
    jpegs = [
        _jpeg_bytes(rng.randint(0, 256, (16, 16, 3)).astype(np.uint8))
        for _ in range(10)
    ]
    good = _avi_mjpeg_bytes(jpegs, scale=1, rate=10)  # 10 fps, 1s of video
    one_bad = _avi_mjpeg_bytes(
        jpegs[:3] + [b"\xff\xd8 not really a jpeg"] + jpegs[4:], scale=1, rate=10
    )
    media = spark.createDataFrame(
        [
            (1, "video", bytearray(good), None),
            (2, "video", bytearray(one_bad), None),
            (3, "video", bytearray(b"garbage, not RIFF"), None),
            (4, "video", bytearray(_avi_mjpeg_bytes(jpegs, handler=b"XVID")), None),
            (5, "image", bytearray(jpegs[0]), None),  # non-video rows drop
        ],
        "media_id long, kind string, payload binary, "
        "meta struct<mime:string,width:int,height:int,duration_ms:bigint>",
    )

    out = video_keyframes(media, every_ms=300).toPandas()
    by_id = {mid: g for mid, g in out.groupby("media_id")}
    assert set(by_id) == {1, 2, 3, 4}

    g1 = by_id[1].sort_values("frame_idx")
    # 300ms steps on a 100ms/frame clock -> frames 0,3,6,9 at 0/300/600/900
    assert list(g1["frame_idx"]) == [0, 3, 6, 9]
    assert list(g1["frame_ts_ms"]) == [0, 300, 600, 900]
    assert g1["decoded"].all()
    assert set(zip(g1["width"], g1["height"])) == {(16, 16)}
    # decode parity with the standalone image path, frame bytes intact
    row = g1.iloc[1]
    assert bytes(row["frame"]) == jpegs[3]
    arr = decode_image(jpegs[3]).astype(np.float64)
    assert abs(row["lum_mean"] - arr.mean(axis=2).mean() / 255.0) < 1e-6

    # finer-than-clock sampling dedupes to every frame exactly once
    all_frames = video_keyframes(
        media.where(F.col("media_id") == 1), every_ms=50
    ).toPandas()
    assert list(all_frames["frame_idx"]) == list(range(10))

    g2 = by_id[2].sort_values("frame_idx")
    assert list(g2["frame_idx"]) == [0, 3, 6, 9]
    assert list(g2["decoded"]) == [True, False, True, True]  # only frame 3 flags

    for mid in (3, 4):  # corrupt container / inter-frame codec: one flagged row
        g = by_id[mid]
        assert len(g) == 1 and not g["decoded"].iloc[0]
        assert g["frame"].iloc[0] is None and pd.isna(g["frame_idx"].iloc[0])

    # emitted frames feed the existing image operators unchanged
    assert parse_avi(good)["frames"][0] == jpegs[0]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="every_ms"):
        video_keyframes(media, every_ms=0)


def test_collocations_lift_planted_phrase(spark):
    """A planted always-together pair tops the ranking with the exact
    closed-form lift; a pair that co-occurs at chance scores ~1 and
    ranks below; min_count suppresses rare accidental pairs."""
    from nibbledb_spark.operators.text import collocations_lift

    rows = [(i, "new york " + ("a b " * 5).strip()) for i in range(6)]
    rows += [(100 + i, "b a c new c york a c b") for i in range(2)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = collocations_lift(docs, min_count=5, k=30).collect()
    got = {r["bigram"]: r for r in out}
    assert out[0]["bigram"] == "new york"
    # closed form: N tokens total, c(new)=c(york)=8? no — 6+2 each = 8
    n_total = sum(len(r[1].split()) for r in rows)
    exp = (6 * n_total) / (8 * 8)
    assert abs(got["new york"]["lift"] - exp) < 1e-12
    assert got["new york"]["cab"] == 6
    # rare pair 'c york' (2 occurrences) filtered by min_count=5
    assert "c york" not in got


def test_hard_negatives_label_contract(spark):
    """Every mined negative has a different label than its anchor, self
    never appears, ranks are dense by descending cosine, and the result
    equals a numpy brute-force over the same vectors."""
    import numpy as np

    from nibbledb_spark.operators.similarity import hard_negatives

    rng = np.random.RandomState(3)
    vecs = rng.randn(30, 8).astype("float32")
    labels = [i % 3 for i in range(30)]
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]], labels[i]) for i in range(30)],
        "vec_id long, embedding array<float>, label int",
    )
    out = hard_negatives(df, df.where("vec_id < 4"), 5).collect()
    by_q: dict[int, list] = {}
    for r in out:
        assert r["neighbor_label"] != r["query_label"]
        assert r["neighbor_id"] != r["query_id"]
        by_q.setdefault(r["query_id"], []).append(r)
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norm @ norm.T
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, 6))
        cand = [
            (-(sims[q, j]), j)
            for j in range(30)
            if j != q and labels[j] != labels[q]
        ]
        cand.sort()
        assert [r["neighbor_id"] for r in rows] == [j for _, j in cand[:5]]
        for r, (negs, j) in zip(rows, cand[:5]):
            assert abs(r["cos_sim"] - sims[q, j]) < 1e-5


def test_wav_24bit_float32_and_extensible_decode():
    """Round-11 WAV depth-matrix extension: 24-bit PCM (sign-extended
    vectorized triple-widen), IEEE float32 (format 3), and
    WAVE_FORMAT_EXTENSIBLE wrappers all decode to the same normalized
    samples as the 16-bit path on the same waveform; unknown compressed
    formats still raise."""
    import struct

    import numpy as np

    from nibbledb_spark.operators.multimodal import decode_audio

    def wav(fmt_tag, bits, data, rate=8000, channels=1, extensible=False):
        if extensible:
            sub = struct.pack("<H", fmt_tag) + b"\x00\x00" + b"\x10\x00\x80\x00\x00\xaa\x00\x38\x9b\x71"
            fmt = struct.pack(
                "<HHIIHH", 0xFFFE, channels, rate,
                rate * channels * bits // 8, channels * bits // 8, bits,
            ) + struct.pack("<H", 22) + struct.pack("<H", bits) + struct.pack("<I", 0) + sub
        else:
            fmt = struct.pack(
                "<HHIIHH", fmt_tag, channels, rate,
                rate * channels * bits // 8, channels * bits // 8, bits,
            )
        c = b"fmt " + struct.pack("<I", len(fmt)) + fmt
        c += b"data" + struct.pack("<I", len(data)) + data
        return b"RIFF" + struct.pack("<I", 4 + len(c)) + b"WAVE" + c

    t = np.arange(64) / 8000.0
    ref = 0.5 * np.sin(2 * np.pi * 440 * t)

    s16 = (ref * 32767).astype("<i2")
    got16, rate = decode_audio(wav(1, 16, s16.tobytes()))
    assert rate == 8000 and got16.shape == (64, 1)

    i24 = np.round(ref * 8388607).astype(np.int32)
    b24 = np.zeros((64, 3), np.uint8)
    b24[:, 0] = i24 & 0xFF
    b24[:, 1] = (i24 >> 8) & 0xFF
    b24[:, 2] = (i24 >> 16) & 0xFF
    got24, _ = decode_audio(wav(1, 24, b24.tobytes()))
    assert np.allclose(got24[:, 0], ref, atol=2e-7)  # 24-bit quantization
    # negative samples round-trip (sign extension is the failure mode)
    assert (got24[:, 0] < 0).any()

    f32 = ref.astype("<f4")
    gotf, _ = decode_audio(wav(3, 32, f32.tobytes()))
    assert np.allclose(gotf[:, 0], ref, atol=1e-7)

    # EXTENSIBLE wrappers resolve to their SubFormat codec
    gote, _ = decode_audio(wav(1, 16, s16.tobytes(), extensible=True))
    assert np.array_equal(gote, got16)
    gotef, _ = decode_audio(wav(3, 32, f32.tobytes(), extensible=True))
    assert np.array_equal(gotef, gotf)

    with pytest.raises(NotImplementedError):  # MP3 format tag
        decode_audio(wav(0x0055, 16, s16.tobytes()))
    with pytest.raises(ValueError):  # 24-bit payload not length%3
        decode_audio(wav(1, 24, b24.tobytes()[:-1]))


def test_pagerank_integer_recurrence_and_structure(spark):
    """The distributed integer PageRank equals a sequential replay of
    the exact same recurrence (longs, DIV, damping rational) node for
    node; structurally, the hub of a symmetrized star outranks the
    leaves, all leaves tie, and a disconnected symmetric pair holds the
    2-cycle fixpoint rank 1.0; determinism across runs; float-free
    guard: results are identical under a different shuffle-partition
    count (partitioning cannot perturb integer sums)."""
    from nibbledb_spark.operators.graph import pagerank

    star = [(0, i) for i in range(1, 6)] + [(i, 0) for i in range(1, 6)]
    pair = [(10, 11), (11, 10)]
    edges = spark.createDataFrame(star + pair, "src long, dst long")
    out = {r["node"]: r["rank"] for r in pagerank(edges, iterations=5).collect()}

    # sequential replay of the identical integer recurrence
    q, num, den = 10**9, 85, 100
    nodes = sorted({s for s, _ in star + pair} | {d for _, d in star + pair})
    deg: dict[int, int] = {}
    for s, _ in star + pair:
        deg[s] = deg.get(s, 0) + 1
    r = {n: q for n in nodes}
    for _ in range(5):
        s_in = {n: 0 for n in nodes}
        for a, b in star + pair:
            s_in[b] += r[a] // deg[a]
        r = {n: ((den - num) * q + num * s_in[n]) // den for n in nodes}
    for n in nodes:
        assert out[n] == r[n] / q, (n, out[n], r[n] / q)

    assert out[0] > out[1]  # hub beats leaves
    assert len({out[i] for i in range(1, 6)}) == 1  # leaves tie
    assert out[10] == out[11] == 1.0  # isolated 2-cycle fixpoint

    again = {r2["node"]: r2["rank"] for r2 in pagerank(edges, iterations=5).collect()}
    assert again == out
    import pytest as _pytest

    with _pytest.raises(ValueError, match="iterations"):
        pagerank(edges, iterations=0)
    with _pytest.raises(ValueError, match="damping"):
        pagerank(edges, damping=(100, 100))

    repart = spark.createDataFrame(star + pair, "src long, dst long").repartition(7)
    outp = {r2["node"]: r2["rank"] for r2 in pagerank(repart, iterations=5).collect()}
    assert outp == out


def test_triangle_count_structures_and_canonicalization(spark):
    """Triangle counts pin to hand-checked structures: K4 gives every
    node 3 triangles, a 4-cycle gives zero everywhere, a triangle with
    a pendant counts 1 on the triangle and 0 on the pendant; feeding
    the same graph with duplicated, reversed, and self-loop edges
    changes nothing (canonicalization); a brute-force itertools count
    on a deterministic graph agrees exactly."""
    import itertools

    from nibbledb_spark.operators.graph import triangle_count

    k4 = [(a, b) for a, b in itertools.combinations(range(4), 2)]
    out = {r["node"]: r["n_tri"] for r in triangle_count(
        spark.createDataFrame(k4, "src long, dst long")).collect()}
    assert out == {0: 3, 1: 3, 2: 3, 3: 3}

    square = [(0, 1), (1, 2), (2, 3), (3, 0)]
    out = {r["node"]: r["n_tri"] for r in triangle_count(
        spark.createDataFrame(square, "src long, dst long")).collect()}
    assert out == {0: 0, 1: 0, 2: 0, 3: 0}

    tri_pendant = [(0, 1), (1, 2), (2, 0), (2, 3)]
    messy = tri_pendant + [(1, 0), (2, 1), (0, 0), (2, 0), (3, 2)]
    out_clean = {r["node"]: r["n_tri"] for r in triangle_count(
        spark.createDataFrame(tri_pendant, "src long, dst long")).collect()}
    out_messy = {r["node"]: r["n_tri"] for r in triangle_count(
        spark.createDataFrame(messy, "src long, dst long")).collect()}
    assert out_clean == {0: 1, 1: 1, 2: 1, 3: 0}
    assert out_messy == out_clean

    # deterministic pseudo-random graph vs brute force
    n = 12
    edges = [
        (a, b)
        for a, b in itertools.combinations(range(n), 2)
        if (a * 7 + b * 13) % 3 == 0
    ]
    eset = set(edges)
    brute = {v: 0 for v in range(n)}
    for a, b, c in itertools.combinations(range(n), 3):
        if (a, b) in eset and (b, c) in eset and (a, c) in eset:
            brute[a] += 1
            brute[b] += 1
            brute[c] += 1
    out = {r["node"]: r["n_tri"] for r in triangle_count(
        spark.createDataFrame(edges, "src long, dst long")).collect()}
    touched = {v for e in edges for v in e}
    assert out == {v: brute[v] for v in touched}


def test_kcore_peeling_hand_graphs(spark):
    """k-core pins: a K4 with a pendant chain peels to exactly the K4
    at k=3 (the chain cascades away only across MULTIPLE rounds — one
    round is not enough, pinning the iteration); a cycle IS its own
    2-core; a tree has an empty 2-core after enough rounds; K4 nodes
    report in-core degree 3; fixed rounds short of convergence leave
    the documented prefix; guards raise."""
    import itertools

    from nibbledb_spark.operators.graph import kcore

    k4 = [(a, b) for a, b in itertools.combinations(range(4), 2)]
    chain = [(3, 4), (4, 5), (5, 6)]  # pendant path off node 3
    g = spark.createDataFrame(k4 + chain, "src long, dst long")

    out = {r["node"]: r["degree"] for r in kcore(g, 3, rounds=3).collect()}
    assert out == {0: 3, 1: 3, 2: 3, 3: 3}

    # one round peels only the chain TAIL (node 6; 5 then fails the
    # final degree filter); node 4 still stands and falls only in
    # later rounds — the iteration is load-bearing
    partial = {r["node"] for r in kcore(g, 2, rounds=1).collect()}
    assert 4 in partial and 5 not in partial and 6 not in partial
    full = {r["node"] for r in kcore(g, 2, rounds=3).collect()}
    assert full == {0, 1, 2, 3}

    cycle = [(i, (i + 1) % 6) for i in range(6)]
    c = spark.createDataFrame(cycle, "src long, dst long")
    assert {r["node"] for r in kcore(c, 2, rounds=2).collect()} == set(range(6))

    tree = [(0, 1), (0, 2), (1, 3), (1, 4)]
    t = spark.createDataFrame(tree, "src long, dst long")
    assert kcore(t, 2, rounds=3).count() == 0

    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must"):
        kcore(g, 0, rounds=1)
    with _pytest.raises(ValueError, match="rounds"):
        kcore(g, 2, rounds=0)


def test_link_prediction_common_neighbors_hand_graph(spark):
    """Link prediction pins to a hand graph: in a path a-b-c the open
    pair (a,c) scores cn=1 with jaccard 1/(1+1-1)=1.0... (deg a=1,
    deg c=1); adjacent pairs never appear (anti join); a square
    surfaces both diagonals with cn=2; ranking is (cn desc, ids) and
    k truncates; duplicate/reversed input edges change nothing."""
    from nibbledb_spark.operators.graph import link_prediction_common_neighbors

    path = [(1, 2), (2, 3)]
    out = link_prediction_common_neighbors(
        spark.createDataFrame(path, "src long, dst long"), k=10
    ).collect()
    assert [(r["node_a"], r["node_b"], r["common_neighbors"], r["jaccard"])
            for r in out] == [(1, 3, 1, 1.0)]

    square = [(0, 1), (1, 2), (2, 3), (3, 0), (1, 0), (0, 0)]  # + noise
    out = link_prediction_common_neighbors(
        spark.createDataFrame(square, "src long, dst long"), k=10
    ).collect()
    got = [(r["node_a"], r["node_b"], r["common_neighbors"]) for r in out]
    assert got == [(0, 2, 2), (1, 3, 2)]  # the two diagonals, id-ordered
    assert all(r["jaccard"] == 2 / (2 + 2 - 2) for r in out)

    top1 = link_prediction_common_neighbors(
        spark.createDataFrame(square, "src long, dst long"), k=1
    ).collect()
    assert [(r["node_a"], r["node_b"]) for r in top1] == [(0, 2)]


def test_label_propagation_communities_and_determinism(spark):
    """Sync LPA pins: the distributed run equals a sequential Python
    replay of the identical recurrence (in-neighbor majority, min-label
    ties, keep-own when isolated) round for round on a two-clique +
    bridge graph; both cliques converge internally to their min label
    (communities CC cannot produce — the graph is one component);
    results are partitioning-invariant; iterations=0 raises."""
    import itertools

    from nibbledb_spark.operators.graph import label_propagation

    c1 = list(itertools.permutations(range(5), 2))
    c2 = list(itertools.permutations(range(10, 15), 2))
    bridge = [(4, 10), (10, 4)]
    e = c1 + c2 + bridge

    def replay(k):
        nodes = sorted({s for s, _ in e} | {d for _, d in e})
        lab = {n: n for n in nodes}
        for _ in range(k):
            cnt: dict = {}
            for s, d in e:
                cnt.setdefault(d, {}).setdefault(lab[s], 0)
                cnt[d][lab[s]] += 1
            lab = {
                n: (
                    min(
                        (l for l, c in cnt[n].items()
                         if c == max(cnt[n].values()))
                    )
                    if n in cnt
                    else lab[n]
                )
                for n in nodes
            }
        return lab

    edges = spark.createDataFrame(e, "src long, dst long")
    for k in (1, 2, 3):
        out = {
            r["node"]: r["label"]
            for r in label_propagation(edges, iterations=k).collect()
        }
        assert out == replay(k), k

    final = {
        r["node"]: r["label"]
        for r in label_propagation(edges, iterations=3).collect()
    }
    assert all(final[n] == 0 for n in range(5))  # clique 1 -> min label 0
    assert all(final[n] == 10 for n in range(11, 15))  # clique 2 -> 10

    repart = spark.createDataFrame(e, "src long, dst long").repartition(7)
    again = {
        r["node"]: r["label"]
        for r in label_propagation(repart, iterations=3).collect()
    }
    assert again == final

    import pytest as _pytest

    with _pytest.raises(ValueError, match="iterations"):
        label_propagation(edges, iterations=0)


def test_bfs_hops_distances_and_direction(spark):
    """Bounded BFS pins: a symmetrized path graph from seed 0 yields
    hop i at node i and omits nodes past the bound; two seeds take the
    MIN distance; direction is respected on a one-way edge; hops=0
    returns exactly the (deduplicated) seeds; an isolated seed
    early-exits; negative hops raises."""
    import pytest as _pytest

    from nibbledb_spark.operators.graph import bfs_hops

    path = [(i, i + 1) for i in range(5)]
    sym = path + [(b, a) for a, b in path]
    edges = spark.createDataFrame(sym, "src long, dst long")

    seeds = spark.createDataFrame([(0,)], "node long")
    out = {r["node"]: r["hops"] for r in bfs_hops(edges, seeds, 3).collect()}
    assert out == {0: 0, 1: 1, 2: 2, 3: 3}

    two = spark.createDataFrame([(0,), (5,)], "node long")
    out = {r["node"]: r["hops"] for r in bfs_hops(edges, two, 3).collect()}
    assert out == {0: 0, 1: 1, 2: 2, 3: 2, 4: 1, 5: 0}

    directed = spark.createDataFrame([(0, 1)], "src long, dst long")
    s1 = spark.createDataFrame([(1,)], "node long")
    out = {r["node"]: r["hops"] for r in bfs_hops(directed, s1, 2).collect()}
    assert out == {1: 0}

    dup_seeds = spark.createDataFrame([(2,), (2,)], "node long")
    out = bfs_hops(edges, dup_seeds, 0).collect()
    assert [(r["node"], r["hops"]) for r in out] == [(2, 0)]

    iso = spark.createDataFrame([(99,)], "node long")
    out = {r["node"]: r["hops"] for r in bfs_hops(edges, iso, 10).collect()}
    assert out == {99: 0}

    with _pytest.raises(ValueError, match="hops"):
        bfs_hops(edges, seeds, -1)


def test_hilbert_index_reference_and_unit_step_locality(spark):
    """Hilbert index pins: on the full 16x16 grid (bits=4) the Spark
    expression equals a sequential Python xy2d replay point for point,
    the 256 indices are a permutation of 0..255 (space-filling
    bijection), and consecutive indices are ALWAYS spatial unit steps
    (|dx|+|dy| == 1 — the locality property Z-order lacks: the same
    grid in Z-order takes jumps up to 15); bits out of range raises."""
    import pytest as _pytest

    from nibbledb_spark.operators.layout import hilbert_index

    def xy2d(order, x, y):
        d = 0
        s = order // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x = s - 1 - x
                    y = s - 1 - y
                x, y = y, x
            s //= 2
        return d

    pts = [(x, y) for x in range(16) for y in range(16)]
    df = spark.createDataFrame(pts, "x long, y long")
    from pyspark.sql import functions as SF

    out = df.select(
        "x", "y", hilbert_index(SF.col("x"), SF.col("y"), bits=4).alias("d")
    ).collect()
    got = {(r["x"], r["y"]): r["d"] for r in out}
    assert got == {(x, y): xy2d(16, x, y) for x, y in pts}
    assert sorted(got.values()) == list(range(256))

    by_d = {d: xy for xy, d in got.items()}
    for d in range(255):
        (x0, y0), (x1, y1) = by_d[d], by_d[d + 1]
        assert abs(x1 - x0) + abs(y1 - y0) == 1, d

    # Z-order on the same grid: interleave bits -- max step is a jump
    def z(x, y):
        out = 0
        for i in range(4):
            out |= ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
        return out

    zd = {z(x, y): (x, y) for x, y in pts}
    zmax = max(
        abs(zd[d + 1][0] - zd[d][0]) + abs(zd[d + 1][1] - zd[d][1])
        for d in range(255)
    )
    assert zmax > 1  # the locality gap hilbert closes

    with _pytest.raises(ValueError, match="bits"):
        hilbert_index(SF.col("x"), SF.col("y"), bits=0)

    # the linear-plan chained-projection form is value-identical to the
    # Column form (and is the one compact() uses at bits=8)
    from nibbledb_spark.operators.layout import append_hilbert_index

    app = append_hilbert_index(df, "x", "y", bits=4, out_col="d").collect()
    assert {(r["x"], r["y"]): r["d"] for r in app} == got
    with _pytest.raises(ValueError, match="bits"):
        append_hilbert_index(df, "x", "y", bits=0)


def test_bm25_topk_matches_reference_and_ranks_rare_terms(spark):
    """BM25 pins: scores equal a sequential Python replay of the exact
    same rational-idf Okapi formula on a hand corpus; a doc containing
    the RARE query term outranks docs with only the common term
    (idf weighting); a term absent from the corpus contributes zero
    (identical scores with and without it); docs with no query term
    are absent; guards raise on empty/duplicate term lists."""
    import pytest as _pytest

    from nibbledb_spark.operators.text import bm25_topk

    corpus = [
        (0, "rare common common filler"),
        (1, "common filler filler filler filler"),
        (2, "common common filler filler"),
        (3, "nothing here at all"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    terms = ["rare", "common"]
    out = {r["doc_id"]: r["score"] for r in bm25_topk(docs, terms, k=10).collect()}

    # sequential replay, same arithmetic order
    k1, b = 1.2, 0.75
    toks = {i: t.split(" ") for i, t in corpus}
    n = len(corpus)
    dls = {i: len(w) for i, w in toks.items()}
    avgdl = float(sum(dls.values())) / float(n)
    df = {t: sum(1 for w in toks.values() if t in w) for t in terms}
    exp = {}
    for i, w in toks.items():
        s = 0.0
        for t in terms:
            tf = float(w.count(t))
            idf = (float(n) - float(df[t]) + 0.5) / (float(df[t]) + 0.5)
            term = idf * ((tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * (float(dls[i]) / avgdl))))
            s = s + term
        if any(t in w for t in terms):
            exp[i] = s
    assert out == exp  # bit-exact, not approx
    assert 3 not in out
    assert out[0] > out[2] > out[1]  # rare term dominates; tf breaks the rest

    with_ghost = {
        r["doc_id"]: r["score"]
        for r in bm25_topk(docs, ["rare", "common", "ghostterm"], k=10).collect()
    }
    assert with_ghost == out

    with _pytest.raises(ValueError, match="non-empty"):
        bm25_topk(docs, [])
    with _pytest.raises(ValueError, match="unique"):
        bm25_topk(docs, ["a", "a"])


def test_basket_pair_lift_hand_counts(spark):
    """Market-basket lift pins to hand arithmetic: over baskets
    {x,y},{x,y},{x,z},{y,z} the pair (x,y) has lift 2·4/(3·3) and
    outranks (x,z)/(y,z) at 1·4/(3·2); equal-lift ties order by item
    names; min_count=2 keeps only the repeated pair; duplicate
    (basket, item) rows collapse before counting; k truncates."""
    from nibbledb_spark.operators.mining import basket_pair_lift

    rows = [
        (1, "x"), (1, "y"),
        (2, "x"), (2, "y"), (2, "y"),  # dup presence collapses
        (3, "x"), (3, "z"),
        (4, "y"), (4, "z"),
    ]
    tx = spark.createDataFrame(rows, "b long, i string")
    out = basket_pair_lift(
        tx, basket_col="b", item_col="i", min_count=1, k=10
    ).collect()
    got = [(r["item_a"], r["item_b"], r["n_ab"], r["lift"]) for r in out]
    assert got[0] == ("x", "y", 2, 2 * 4 / (3 * 3))
    assert got[1] == ("x", "z", 1, 1 * 4 / (3 * 2))
    assert got[2] == ("y", "z", 1, 1 * 4 / (3 * 2))
    assert len(got) == 3

    out2 = basket_pair_lift(
        tx, basket_col="b", item_col="i", min_count=2, k=10
    ).collect()
    assert [(r["item_a"], r["item_b"]) for r in out2] == [("x", "y")]

    out3 = basket_pair_lift(tx, basket_col="b", item_col="i", min_count=1, k=2)
    assert out3.count() == 2


def test_fuzzy_match_blocked_semantics(spark):
    """Blocked fuzzy matching pins: a typo pair inside one block
    surfaces with its exact edit distance; a near pair in DIFFERENT
    blocks is never compared (blocking bounds recall — documented);
    pairs beyond max_dist drop; a match whose lengths differ by less
    than max_dist survives the length prefilter; max_dist=0 degrades
    to exact-dup detection within blocks; guards raise."""
    import pytest as _pytest

    from nibbledb_spark.operators.mining import fuzzy_match_blocked

    rows = [
        (1, "smith", "s"),
        (2, "smyth", "s"),
        (3, "smithers", "s"),
        (4, "smith", "j"),   # near id 1 but other block: never compared
        (5, "zzzzzzzz", "s"),
        (6, "smith", "s"),   # exact dup of 1
    ]
    df = spark.createDataFrame(rows, "id long, name string, blk string")
    out = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in fuzzy_match_blocked(
            df, id_col="id", key_col="name", block_cols=["blk"], max_dist=3
        ).collect()
    }
    assert out[(1, 2)] == 1       # smith ~ smyth
    assert out[(1, 3)] == 3       # smith ~ smithers (insert 3, lengths differ 3)
    assert out[(1, 6)] == 0
    assert out[(2, 6)] == 1
    assert (1, 4) not in out and (4, 6) not in out  # cross-block unseen
    assert all(5 not in p for p in out)  # beyond max_dist

    exact = fuzzy_match_blocked(
        df, id_col="id", key_col="name", block_cols=["blk"], max_dist=0
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in exact} == {(1, 6)}

    with _pytest.raises(ValueError, match="max_dist"):
        fuzzy_match_blocked(
            df, id_col="id", key_col="name", block_cols=["blk"], max_dist=-1
        )
    with _pytest.raises(ValueError, match="block_cols"):
        fuzzy_match_blocked(
            df, id_col="id", key_col="name", block_cols=[], max_dist=1
        )


def test_lsh_dedup_gate_crawl_loop(spark, tmp_path):
    """The streaming crawl-loop near-dup gate: batch docs near-dupping
    the INDEX drop; within a batch the higher id of a near-dup pair
    drops; survivors join the index so LATER batches dedup against
    them; a crash-replayed batch re-adds nothing and re-emits the same
    survivors (downstream idempotence by batch_id); the index stays
    validate-clean throughout."""
    import json
    import os

    from nibbledb_spark.operators.dedup import (
        build_lsh_index,
        lsh_dedup_gate,
        lsh_query_near_dups,
        ngram_jaccard_pairs,
        validate_lsh_index,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    other = "completely different content about distributed query engines"
    docs = spark.createDataFrame(
        [(1, base), (2, other)], "doc_id long, text string"
    )
    path = str(tmp_path / "idx")
    build_lsh_index(docs, path)

    emitted: dict[int, list[int]] = {}

    def on_pass(survivors, batch_id):
        emitted.setdefault(batch_id, []).extend(
            sorted(r["doc_id"] for r in survivors.collect())
        )

    sink = lsh_dedup_gate(spark, path, threshold=0.6, on_pass=on_pass)

    novel_a = "a brand new document describing winnowing fingerprints nicely"
    b1 = spark.createDataFrame(
        [
            (10, base + " tail"),        # near-dups indexed doc 1 -> drop
            (11, novel_a),               # novel -> survive
            (12, novel_a + " extra"),    # near-dups 11 in-batch -> drop
            (13, "unrelated fresh text about parquet row group statistics"),
        ],
        "doc_id long, text string",
    )
    # composition contract: the gate drops exactly the probe hits of
    # lsh_query_near_dups plus the higher ids of ngram_jaccard_pairs
    # at the index's shingle_n — evaluated before the sink grows the index
    with open(os.path.join(path, "meta.json")) as f:
        shingle_n = json.load(f)["shingle_n"]
    probe_ids = {
        r["query_id"]
        for r in lsh_query_near_dups(spark, path, b1, threshold=0.6).collect()
    }
    pair_ids = {
        r["id2"]
        for r in ngram_jaccard_pairs(b1, n=shingle_n, threshold=0.6).collect()
    }
    assert probe_ids and pair_ids
    sink(b1, 0)
    assert emitted[0] == [11, 13]
    assert {10, 11, 12, 13} - set(emitted[0]) == probe_ids | pair_ids
    validate_lsh_index(spark, path)

    # later batch dedups against batch-1 SURVIVORS, now in the index
    b2 = spark.createDataFrame(
        [(20, novel_a + " also"), (21, "yet another wholly novel page")],
        "doc_id long, text string",
    )
    sink(b2, 1)
    assert emitted[1] == [21]

    # crash-replay of batch 1: same survivors re-emitted (downstream
    # guards by batch_id), index unchanged (skip add), still valid
    emitted.clear()
    sink(b1, 0)
    assert emitted[0] == [11, 13]
    validate_lsh_index(spark, path)


def test_hard_negatives_indexed_probe_all_equals_brute_force(spark, embeddings, tmp_path):
    """The IVF-indexed miner with nprobe = n_centroids (no pruning, and
    the DEFAULT kmeans quantizer) must equal the brute-force sweep
    exactly — the probe-all invariant that holds for ANY centroid set;
    and at nprobe=2 results are a subset with the label constraint
    exact."""
    from nibbledb_spark.operators.similarity import (
        build_ivf_index,
        hard_negatives,
        hard_negatives_indexed,
    )

    path = str(tmp_path / "hni")
    build_ivf_index(embeddings, path, n_centroids=8)
    anchors = embeddings.where(F.col("vec_id") < 5)
    labels = embeddings.select("vec_id", "label")

    full = hard_negatives_indexed(spark, path, anchors, 3, labels, nprobe=8)
    brute = hard_negatives(embeddings, anchors, 3)
    assert full.exceptAll(brute).count() == 0
    assert brute.exceptAll(full).count() == 0

    pruned = hard_negatives_indexed(spark, path, anchors, 3, labels, nprobe=2).collect()
    assert len(pruned) == 15  # 5 anchors x k=3 — lists are dense enough
    lab = {r["vec_id"]: r["label"] for r in labels.collect()}
    for r in pruned:
        assert r["neighbor_label"] != r["query_label"]
        assert r["neighbor_label"] == lab[r["neighbor_id"]]
        assert r["neighbor_id"] != r["query_id"]


def test_video_near_dup_pairs_end_to_end(spark):
    """The full video dedup composition over REAL in-test AVI files:
    a re-encoded + re-levelled copy of the same footage pairs with the
    original (>=2 matching keyframes, small hamming); distinct footage
    pairs with nothing; a corrupt container contributes nothing."""
    import numpy as np

    from nibbledb_spark.operators.multimodal import video_near_dup_pairs

    def frame(f, base):
        # smooth directional gradients — dHash-stable structure
        y, x = np.mgrid[0:16, 0:16]
        arr = (base + x * 9 + y * 4 + f * 30) % 220
        return np.stack([arr, arr, arr], axis=2).astype(np.uint8)

    footage_a = [frame(f, 0) for f in range(3)]
    footage_b = [frame(f, 111) + 20 for f in range(3)]  # different footage
    relevel = [np.clip(fr.astype(np.int16) + 12, 0, 255).astype(np.uint8) for fr in footage_a]

    # rate=1 fps so every_ms=1000 samples every frame
    v1 = _avi_mjpeg_bytes([_jpeg_bytes(fr) for fr in footage_a], rate=1)
    v2 = _avi_mjpeg_bytes(
        [_jpeg_bytes(fr, restart_interval=2) for fr in relevel],
        rate=1, wrap_rec=True,  # re-encoded, re-levelled, rewrapped container
    )
    v3 = _avi_mjpeg_bytes([_jpeg_bytes(fr) for fr in footage_b], rate=1)
    media = spark.createDataFrame(
        [
            (1, "video", bytearray(v1)),
            (2, "video", bytearray(v2)),
            (3, "video", bytearray(v3)),
            (4, "video", bytearray(b"not an avi")),  # corrupt container
        ],
        "media_id long, kind string, payload binary",
    )
    out = video_near_dup_pairs(media, every_ms=1000, min_shared_frames=2).collect()
    assert [(r["video1"], r["video2"]) for r in out] == [(1, 2)]
    assert out[0]["n_frame_pairs"] >= 2
    assert out[0]["min_hamming"] <= 6


def test_semdedup_gate_replay_idempotent_and_cross_batch(spark, tmp_path):
    """semdedup_gate pins: a batch vector near an INDEXED one (same
    cluster, cos > eps) drops; survivors join the index so a LATER
    batch near-dup of a survivor also drops; replaying a batch re-adds
    nothing (posting count stable) and re-emits the same survivors."""
    import numpy as np

    from nibbledb_spark.operators.similarity import build_ivf_index, semdedup_gate

    def vec(d, jitter=0.0):
        v = np.zeros(8)
        v[d] = 1.0
        v[(d + 1) % 8] = jitter
        return [float(x) for x in v / np.linalg.norm(v)]

    schema = "vec_id long, embedding array<double>"
    # seed: two orthogonal anchors (clusters 0 and 1)
    seed = spark.createDataFrame([(0, vec(0)), (1, vec(4))], schema)
    idx = str(tmp_path / "sdidx")
    cents = seed.select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    build_ivf_index(seed, idx, centroids=cents)

    passed: list[tuple[int, frozenset]] = []

    def on_pass(surv, batch_id):
        passed.append((batch_id, frozenset(r["vec_id"] for r in surv.collect())))

    sink = semdedup_gate(spark, idx, eps=0.8, on_pass=on_pass)

    # batch 1: 10 ~ seed 0 (drops vs index); 11 novel; 12 ~ 11 with a
    # higher id (intra-batch drop); 13 novel in the other cluster
    b1 = spark.createDataFrame(
        [(10, vec(0, 0.05)), (11, vec(1)), (12, vec(1, 0.05)), (13, vec(5))],
        schema,
    )
    sink(b1, 1)
    assert passed[-1] == (1, frozenset({11, 13}))
    post = spark.read.parquet(f"{idx}/postings")
    n_after_b1 = post.count()
    assert {r["id"] for r in post.collect()} == {0, 1, 11, 13}

    sink(b1, 1)  # crash replay: same survivors, no index growth
    assert passed[-1] == (1, frozenset({11, 13}))
    assert spark.read.parquet(f"{idx}/postings").count() == n_after_b1

    # batch 2: 20 ~ survivor 11 (drops vs the GROWN index); 21 novel
    b2 = spark.createDataFrame([(20, vec(1, 0.1)), (21, vec(2))], schema)
    sink(b2, 2)
    assert passed[-1] == (2, frozenset({21}))
    assert {r["id"] for r in spark.read.parquet(f"{idx}/postings").collect()} == {
        0, 1, 11, 13, 21,
    }


def test_semdedup_gate_posting_id_twice_passes_survivor_once(spark, tmp_path):
    """The replay guard's flag side is distinct: an id posted twice (an
    add repeated after a crash that committed it) must not multiply
    that id's survivor row on its replay."""
    from nibbledb_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_add,
        semdedup_gate,
    )

    def vec(d):
        return [1.0 if i == d else 0.0 for i in range(8)]

    schema = "vec_id long, embedding array<double>"
    seed = spark.createDataFrame([(0, vec(0)), (1, vec(4))], schema)
    idx = str(tmp_path / "sdidx")
    build_ivf_index(
        seed,
        idx,
        centroids=seed.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")),
    )
    for _ in range(2):
        ivf_index_add(spark, idx, spark.createDataFrame([(11, vec(1))], schema))
    post = spark.read.parquet(f"{idx}/postings")
    assert post.where("id = 11").count() == 2

    passed: list[int] = []
    sink = semdedup_gate(
        spark, idx, eps=0.8, on_pass=lambda surv, _: passed.extend(r["vec_id"] for r in surv.collect())
    )
    sink(spark.createDataFrame([(11, vec(1)), (13, vec(5))], schema), 1)
    assert sorted(passed) == [11, 13]
    assert spark.read.parquet(f"{idx}/postings").count() == post.count() + 1  # 13 only


def test_gif_out_of_table_index_on_transparent_pixels_decodes():
    """Real-world GIFs carry out-of-table indices on TRANSPARENT pixels
    (the palette is never consulted for them; browsers/giflib render
    such files fine) — the decoder must composite them instead of
    flagging decode failure. Only a LOOKED-UP index beyond the table is
    corruption (round-12 advice)."""
    import numpy as np
    import pytest

    from nibbledb_spark.operators.multimodal import decode_gif

    pal = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 9, 9)]
    # index 5 is beyond the 4-entry table; min_code_size=3 makes it a
    # legal LZW literal
    fr = np.array([[1, 5], [2, 5]], np.uint8)
    out = decode_gif(_gif_bytes([fr], pal, transparent=5, min_code_size=3))
    frame = out["frames"][0]
    assert frame[0, 0].tolist() == [0, 255, 0]
    assert frame[1, 0].tolist() == [0, 0, 255]
    # transparent pixels keep the black initial canvas
    assert frame[0, 1].tolist() == [0, 0, 0]
    assert frame[1, 1].tolist() == [0, 0, 0]
    # the same index NOT marked transparent IS corruption
    with pytest.raises(ValueError, match="beyond color table"):
        decode_gif(_gif_bytes([fr], pal, transparent=1, min_code_size=3))


# --- unigram-LM tokenizer (round-13 verdict task 5) -------------------


def _py_q(n: int) -> int:
    """Literal reimplementation of q_log2_expr: LOG_SCALE*log2(n) via
    bitlen + the static 64-entry mantissa table."""
    from nibbledb_spark.operators.unigram import LOG_SCALE, MANT

    bl = n.bit_length()
    return LOG_SCALE * (bl - 1) + MANT[(n * 64) // (1 << (bl - 1)) - 64]


def _py_segment(
    word: str, scores: dict, max_piece: int = None, max_word: int = None
) -> list:
    """Literal Viterbi with the engine tie-break (backward pass picks
    the SHORTEST matching last piece)."""
    from nibbledb_spark.operators.unigram import MAX_PIECE, MAX_WORD

    max_piece = MAX_PIECE if max_piece is None else max_piece
    max_word = MAX_WORD if max_word is None else max_word
    if len(word) > max_word:
        return [word]
    dp = [0] + [None] * len(word)
    for i in range(1, len(word) + 1):
        cands = [
            dp[i - d] + scores[word[i - d:i]]
            for d in range(1, min(max_piece, i) + 1)
            if dp[i - d] is not None and word[i - d:i] in scores
        ]
        dp[i] = max(cands) if cands else None
    if dp[len(word)] is None:
        return [word]
    pieces, pos = [], len(word)
    while pos > 0:
        for d in range(1, min(max_piece, pos) + 1):
            piece = word[pos - d:pos]
            if (
                dp[pos - d] is not None
                and piece in scores
                and dp[pos - d] + scores[piece] == dp[pos]
            ):
                pieces.append(piece)
                pos -= d
                break
    return list(reversed(pieces))


def _py_learn(
    texts: list,
    rounds: int = 2,
    vocab_size: int = None,
    max_piece: int = None,
    max_word: int = None,
    seed_top: int = None,
) -> dict:
    """Literal hard-EM unigram learn; returns {piece: (n_uses, score)}
    after the final round (and after the prune + re-estimate pass when
    ``vocab_size`` is set)."""
    from collections import Counter

    from nibbledb_spark.operators.unigram import (
        MAX_PIECE,
        MAX_WORD,
        SEED_TOP,
    )

    max_piece = MAX_PIECE if max_piece is None else max_piece
    max_word = MAX_WORD if max_word is None else max_word
    seed_top = SEED_TOP if seed_top is None else seed_top
    words = Counter()
    for t in texts:
        for w in t.replace("\x0b", " ").replace("\x1f", "").split():
            words[w] += 1
    lw = {w: c for w, c in words.items() if len(w) <= max_word}
    seeds = Counter()
    for w, c in lw.items():
        for s in range(len(w)):
            for e in range(s + 1, min(len(w), s + max_piece) + 1):
                seeds[w[s:e]] += c
    ranked = sorted(seeds.items(), key=lambda kv: (-kv[1], kv[0]))
    vocab = {
        p: c
        for i, (p, c) in enumerate(ranked)
        if i < seed_top or len(p) == 1
    }
    total = sum(vocab.values())
    scores = {p: _py_q(c) - _py_q(total) for p, c in vocab.items()}

    def em_pass(scores: dict) -> Counter:
        usage = Counter()
        for w, c in lw.items():
            for piece in _py_segment(w, scores, max_piece, max_word):
                usage[piece] += c
        return usage

    usage = None
    for _ in range(rounds):
        usage = em_pass(scores)
        total = sum(usage.values())
        scores = {p: _py_q(c) - _py_q(total) for p, c in usage.items()}
    if vocab_size is not None:
        alpha = {ch for w in lw for ch in w}
        kept = {c: usage.get(c, 1) for c in alpha}
        multi = sorted(
            ((p, c) for p, c in usage.items() if len(p) > 1),
            key=lambda kv: (-kv[1], kv[0]),
        )
        budget = max(vocab_size - len(alpha), 0)
        kept.update(dict(multi[:budget]))
        total = sum(kept.values())
        scores = {p: _py_q(c) - _py_q(total) for p, c in kept.items()}
        usage = em_pass(scores)
        total = sum(usage.values())
        scores = {p: _py_q(c) - _py_q(total) for p, c in usage.items()}
    return {p: (usage[p], scores[p]) for p in usage}


def test_unigram_matches_literal_python(spark):
    """learn_unigram + tokenize_unigram vs the literal dict-based
    reimplementation above: same vocabulary, same usage counts, same
    integer scores, same segmentation of every document — including
    the >MAX_WORD whole-word fallback and a tie-broken word."""
    from nibbledb_spark.operators.unigram import (
        learn_unigram,
        tokenize_unigram,
    )

    texts = [
        "the cat sat on the mat",
        "the cats sat on mats",
        "a mat the cat a hat that",
        "supercalifragilistic expialidocious again again",
        "banana bandana cabana banana",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    v = learn_unigram(docs)
    got = {r["piece"]: (r["n_uses"], r["score"]) for r in v.collect()}
    assert got == _py_learn(texts)

    scores = {p: s for p, (_, s) in _py_learn(texts).items()}
    tok = {
        r["doc_id"]: (r["n_tokens"], r["tok_str"])
        for r in tokenize_unigram(docs, v).collect()
    }
    for i, t in enumerate(texts):
        pieces = [p for w in t.split() for p in _py_segment(w, scores)]
        assert tok[i] == (len(pieces), " ".join(pieces)), (i, tok[i], pieces)
    # the long word passed through unsegmented
    assert "supercalifragilistic" in tok[3][1].split()


def test_unigram_foreign_vocab_fallback(spark):
    """Applying a vocabulary that cannot reach a word's end emits the
    whole word as one token (the foreign-corpus guard), while covered
    words still segment."""
    from nibbledb_spark.operators.unigram import (
        learn_unigram,
        tokenize_unigram,
    )

    train = spark.createDataFrame(
        [(0, "aa ab aa ab aa")], "doc_id long, text string"
    )
    v = learn_unigram(train)
    apply_docs = spark.createDataFrame(
        [(0, "aa zz aab")], "doc_id long, text string"
    )
    out = tokenize_unigram(apply_docs, v).collect()[0]
    toks = out["tok_str"].split()
    assert "zz" in toks  # no z in vocab -> unreachable -> whole word
    assert out["n_tokens"] == len(toks)


def test_unigram_vocab_size_prune(spark):
    """``vocab_size`` prune-to-target (round-14 verdict task 5): single
    chars always survive, multi-char pieces rank (n_uses DESC, piece)
    into the remaining budget, counts/scores describe the re-estimated
    FINAL vocabulary — pinned piece-for-piece against the literal
    Python model, with every document still segmentable."""
    from nibbledb_spark.operators.unigram import (
        learn_unigram,
        tokenize_unigram,
    )

    texts = [
        "the cat sat on the mat",
        "the cats sat on mats",
        "a mat the cat a hat that",
        "banana bandana cabana banana",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    alphabet = {ch for t in texts for w in t.split() for ch in w}
    for vs in (1, 14, 40):
        v = learn_unigram(docs, vocab_size=vs)
        got = {r["piece"]: (r["n_uses"], r["score"]) for r in v.collect()}
        want = _py_learn(texts, vocab_size=vs)
        assert got == want, vs
        # never over target unless the alphabet floor alone exceeds it
        assert len(got) <= max(vs, len(alphabet)), (vs, len(got))
    # the tightest target (chars only) still tokenizes everything
    v1 = learn_unigram(docs, vocab_size=1)
    tok = tokenize_unigram(docs, v1).collect()
    assert all(r["n_tokens"] > 0 for r in tok)
    # chars-only vocab => every token is one char
    joined = " ".join(r["tok_str"] for r in tok)
    assert all(len(t) == 1 for t in joined.split())


def test_unigram_custom_params_match_literal(spark):
    """rounds / max_piece / max_word / seed_top thread through learn
    AND apply identically to the literal model (the hyperparameters
    were module constants before round 15)."""
    from nibbledb_spark.operators.unigram import (
        learn_unigram,
        tokenize_unigram,
    )

    texts = [
        "the cat sat on the mat",
        "supercalifragilistic expialidocious again again",
        "banana bandana cabana banana",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    kw = dict(rounds=3, max_piece=3, max_word=8, seed_top=32)
    v = learn_unigram(docs, **kw)
    got = {r["piece"]: (r["n_uses"], r["score"]) for r in v.collect()}
    want = _py_learn(texts, **kw)
    assert got == want
    assert all(len(p) <= 3 for p in got)
    scores = {p: s for p, (_, s) in want.items()}
    tok = {
        r["doc_id"]: (r["n_tokens"], r["tok_str"])
        for r in tokenize_unigram(
            docs, v, max_piece=3, max_word=8
        ).collect()
    }
    for i, t in enumerate(texts):
        pieces = [
            p for w in t.split() for p in _py_segment(w, scores, 3, 8)
        ]
        assert tok[i] == (len(pieces), " ".join(pieces)), i
    # max_word=8: the 20-char word passes through whole
    assert "supercalifragilistic" in tok[1][1].split()


def test_unigram_q_log2_is_monotone_and_bounded():
    """Q(n) must be monotone nondecreasing (DP correctness depends on
    larger counts never scoring lower) and within 1 unit of true
    1024*log2(n) at the table granularity."""
    import math

    ns = list(range(1, 2000)) + [10**6, 10**9, 2**40]
    qs = [_py_q(n) for n in ns]
    assert all(a <= b for a, b in zip(qs, qs[1:])), "Q not monotone"
    # worst case = mantissa truncation: 1024*log2(1 + 1/64) ~ 22.3,
    # plus the table's 0.5 rounding
    for n in ns:
        true = 1024 * math.log2(n)
        assert abs(_py_q(n) - true) <= 23, (n, _py_q(n), true)


# --- boilerplate-skew dedup stress pins (round-13 verdict task 7) ------


def test_max_doc_freq_cap_bounds_candidates_and_keeps_real_pairs(spark):
    """A boilerplate line in 50% of docs makes its shingles pair-count
    quadratic in the corpus; the max_doc_freq stop-shingle cap must
    (a) bound every surviving shingle's doc frequency — candidate join
    volume is then sum C(df<=cap, 2), corpus-linear — (b) keep pairs
    related by GENUINE shared content, and (c) drop pairs related ONLY
    through the boilerplate (the documented recall trade: those are
    exactly the matches a dedup pass should not make)."""
    from nibbledb_spark.operators.dedup import (
        ngram_jaccard_pairs,
        shingle_rows,
    )

    boiler = "subscribe to our newsletter for updates and offers today"
    rows = []
    # 40 docs: evens carry the boilerplate; docs 0/2 share a real near-
    # dup body; docs 1/3 are boilerplate-free with distinct bodies
    body = "quick brown foxes jump over lazy dogs near riverbank willow"
    for i in range(40):
        text = f"unique marker {i} token{i} filler{i} pad{i} end{i}"
        if i in (0, 2):
            text = body + f" tail {i}"
        if i % 2 == 0:
            text = boiler + " " + text
        rows.append((i, text))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped_sh = shingle_rows(docs)
    # (a) with the cap, no surviving shingle's df exceeds it
    from pyspark.sql import functions as F

    uncapped_df = (
        capped_sh.groupBy("shingle").agg(F.count("*").alias("df"))
    )
    assert uncapped_df.agg(F.max("df")).collect()[0][0] >= 20  # skew real
    capped = ngram_jaccard_pairs(docs, threshold=0.05, max_doc_freq=5)
    uncapped = ngram_jaccard_pairs(docs, threshold=0.05)

    cp = {(r["id1"], r["id2"]) for r in capped.collect()}
    up = {(r["id1"], r["id2"]) for r in uncapped.collect()}
    # (b) the genuine near-dup pair survives the cap
    assert (0, 2) in cp
    # (c) boilerplate-only pairs exist uncapped, none survive capped
    boiler_only = {
        (a, b) for (a, b) in up if a % 2 == 0 and b % 2 == 0 and (a, b) != (0, 2)
    }
    assert boiler_only, "fixture must create boilerplate-only pairs"
    assert not (boiler_only & cp), (
        "cap must drop pairs related only through the 50%-df line"
    )
    # candidate volume: sum C(df,2) uncapped vs capped — the number the
    # bench records; capped must be far below the skewed uncapped sum
    def cand_volume(max_df=None):
        df = uncapped_df
        if max_df is not None:
            df = df.where(F.col("df") <= max_df)
        return df.agg(
            F.sum(F.col("df") * (F.col("df") - 1) / 2).alias("v")
        ).collect()[0][0] or 0

    assert cand_volume(5) * 10 < cand_volume(None)


def test_strip_frequent_lines_is_the_remediation_path(spark):
    """strip_frequent_lines removes the 50%-df boilerplate WORD units
    up front, so an uncapped jaccard over the cleaned text no longer
    pairs docs through boilerplate — the rewrite-side alternative to
    the query-side max_doc_freq cap."""
    from pyspark.sql import functions as F

    from nibbledb_spark.operators.dedup import strip_frequent_lines

    boiler = "subscribefoo newsletterbar offersbaz"
    rows = [
        (i, (boiler + " " if i % 2 == 0 else "") + f"unique{i} body{i}")
        for i in range(20)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cleaned = strip_frequent_lines(
        docs, sep=" ", max_doc_frac=0.4
    )
    out = {r["doc_id"]: r for r in cleaned.collect()}
    for i in range(20):
        toks = out[i]["cleaned_text"].split()
        assert f"unique{i}" in toks and f"body{i}" in toks
        assert not any(t.startswith("subscribefoo") for t in toks)
        assert out[i]["n_removed"] == (3 if i % 2 == 0 else 0)
