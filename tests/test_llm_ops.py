"""Tests for the LLM-pipeline operator suite: MinHash-LSH, SimHash,
ANN similarity search, text analysis, multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    """documents plus planted near-duplicates with known overlap."""
    from pyspec_spark.tables import table

    d = table(spark, SF, "documents").select("doc_id", "text")
    base = d.where("doc_id < 40")
    # planted dups: copy text with a small edit, ids offset by 100000
    edited = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra tail token")).alias("text"),
    )
    return base.unionByName(edited)


def test_minhash_finds_planted_dups(spark, docs_with_dups):
    from pyspec_spark.operators.dedup import minhash_neardup

    pairs = minhash_neardup(docs_with_dups, threshold=0.5).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    planted = {(i, i + 100000) for i in range(40)}
    hits = sum(1 for p in planted if p in found)
    # MinHash is probabilistic: expect the vast majority of planted pairs
    assert hits >= 35, f"only {hits}/40 planted near-dups found"
    # est_jaccard should be high for planted pairs
    est = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in pairs}
    vals = [est[p] for p in planted if p in est]
    assert np.mean(vals) > 0.7


def test_minhash_finds_corpus_neardups(spark):
    """The synthetic corpus plants real near-dups (e.g. 8/12 at Jaccard
    0.987, 0/50 at 0.952 — verified with exact shingle sets); MinHash at
    threshold 0.8 must surface them and nothing wildly dissimilar."""
    from pyspec_spark.operators.dedup import minhash_neardup
    from pyspec_spark.tables import table

    d = table(spark, SF, "documents").select("doc_id", "text").where("doc_id < 60")
    pairs = minhash_neardup(d, threshold=0.8).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (8, 12) in found and (0, 50) in found
    # every reported pair must be a true near-dup by exact Jaccard
    texts = {r["doc_id"]: r["text"] for r in d.collect()}

    def jac(a, b, k=2):
        def sh(t):
            toks = t.split(" ")
            return {
                " ".join(toks[i : i + k]) for i in range(max(len(toks) - k + 1, 1))
            }

        A, B = sh(texts[a]), sh(texts[b])
        return len(A & B) / len(A | B)

    for a, b in found:
        assert jac(a, b) >= 0.5, f"false positive pair ({a},{b})"


def test_simhash_neardup(spark, docs_with_dups):
    from pyspec_spark.operators.dedup import simhash_neardup

    pairs = simhash_neardup(docs_with_dups, max_hamming=8).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    planted = {(i, i + 100000) for i in range(40)}
    hits = sum(1 for p in planted if p in found)
    assert hits >= 30, f"only {hits}/40 planted pairs within hamming 8"


def test_simhash_neardup64(spark, docs_with_dups):
    """The 64-bit/16-bit-band scale variant (SCALING.md documents why
    this is the corpus-scale path) honors its pigeonhole recall
    GUARANTEE: every pair within hamming 3 shares one of the 4 16-bit
    bands exactly, so every such planted pair MUST be found; pairs at
    hamming 4..8 are found only when a band happens to survive."""
    from pyspec_spark.operators.dedup import simhash, simhash_neardup64

    sig = {r["id"]: r["simhash"] for r in simhash(docs_with_dups).collect()}
    planted = {(i, i + 100000) for i in range(40)}
    guaranteed = {
        (a, b)
        for a, b in planted
        if bin((sig[a] ^ sig[b]) & ((1 << 64) - 1)).count("1") <= 3
    }
    pairs = simhash_neardup64(docs_with_dups, max_hamming=8).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert guaranteed <= found, f"missed guaranteed pairs: {guaranteed - found}"
    assert len(guaranteed) >= 10  # the planted edit is small: many land <= 3
    # every reported pair is verified at hamming <= 8
    assert all(r["hamming"] <= 8 for r in pairs)


def test_q_simhash_neardup64_declared_recall(spark):
    """The DECLARED corpus-scale query (driver contract entry): stable
    schema, deterministic output, and recall on a planted near-dup —
    a testdata doc re-appended with one token appended lands within
    hamming 3 of its source and must be reported."""
    from pyspec_spark.operators.dedup import simhash, simhash_neardup64
    from pyspec_spark.queries.llm_advanced import q_simhash_neardup64
    from pyspec_spark.tables import table

    out = q_simhash_neardup64(spark, "/root/testdata/sf0.001")
    assert out.columns == ["id_a", "id_b", "hamming"]
    rows1 = out.collect()
    rows2 = q_simhash_neardup64(spark, "/root/testdata/sf0.001").collect()
    assert rows1 == rows2, "declared query must be deterministic"
    assert all(r["hamming"] <= 3 for r in rows1)
    # planted recall on real corpus text: doc 0's text + one extra token
    d = table(spark, "/root/testdata/sf0.001", "documents").select("doc_id", "text")
    base = d.orderBy("doc_id").first()
    import pyspark.sql.functions as F  # noqa: N812

    planted = d.unionByName(
        spark.createDataFrame(
            [(999999, base["text"] + " extra")], "doc_id LONG, text STRING"
        ).select(F.col("doc_id"), F.col("text"))
    )
    sig = {r["id"]: r["simhash"] for r in simhash(planted).collect()}
    ham = bin((sig[base["doc_id"]] ^ sig[999999]) & ((1 << 64) - 1)).count("1")
    found = {
        (r["id_a"], r["id_b"])
        for r in simhash_neardup64(planted, max_hamming=3).collect()
    }
    if ham <= 3:  # pigeonhole guarantee applies
        assert (base["doc_id"], 999999) in found
    else:  # tiny edit still must not blow past hamming 8
        assert ham <= 8


def test_simhash_deterministic(spark, docs_with_dups):
    from pyspec_spark.operators.dedup import simhash

    a = {r["id"]: r["simhash"] for r in simhash(docs_with_dups).collect()}
    b = {r["id"]: r["simhash"] for r in simhash(docs_with_dups).collect()}
    assert a == b


@pytest.fixture(scope="module")
def emb(spark):
    from pyspec_spark.tables import table

    return table(spark, SF, "embeddings").cache()


def test_cosine_topk_exact(spark, emb):
    """Brute-force Spark top-k equals a local numpy reference."""
    from pyspec_spark.operators.similarity import cosine_topk

    rows = emb.collect()
    X = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
    ids = np.array([r["vec_id"] for r in rows])
    q = X[0]
    cos = (X @ q) / (np.linalg.norm(X, axis=1) * np.linalg.norm(q))
    order = np.lexsort((ids, -cos))[:10]
    want = [(int(ids[i]), float(cos[i])) for i in order]
    got = [(r["vec_id"], r["score"]) for r in cosine_topk(emb, q, k=10).collect()]
    assert [g[0] for g in got] == [w[0] for w in want]
    np.testing.assert_allclose([g[1] for g in got], [w[1] for w in want], rtol=1e-9)


def test_lsh_topk_recall(spark, emb):
    """ANN recall@10 vs brute force (random-hyperplane LSH)."""
    from pyspec_spark.operators.similarity import cosine_topk, lsh_topk

    q = list(emb.first()["embedding"])
    exact = [r["vec_id"] for r in cosine_topk(emb, q, k=10).collect()]
    approx = [r["vec_id"] for r in lsh_topk(emb, q, k=10, max_hamming=6).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5, f"recall {recall}"
    assert approx[0] == exact[0]  # the query's own vector must be found


def test_ivf_topk(spark, emb):
    from pyspec_spark.operators.similarity import (
        cosine_topk,
        ivf_assign,
        ivf_topk,
        train_centroids,
    )

    C = train_centroids(emb, n_cells=8, sample=500)
    assigned = ivf_assign(emb, C).cache()
    # every vector lands in exactly one valid cell
    cells = assigned.groupBy("cell").count().collect()
    assert sum(r["count"] for r in cells) == emb.count()
    assert all(0 <= r["cell"] < 8 for r in cells)
    q = list(emb.first()["embedding"])
    exact = [r["vec_id"] for r in cosine_topk(emb, q, k=5).collect()]
    got = [r["vec_id"] for r in ivf_topk(assigned, C, q, k=5, n_probe=4).collect()]
    assert got[0] == exact[0]
    assert len(set(exact) & set(got)) >= 3


def test_lsh_topk_df_matches_driver_variant(spark, emb):
    """The in-plan probe (lsh_topk_df) must return exactly what the
    driver-side-vector variant returns for the same query row."""
    from pyspark.sql import functions as F

    from pyspec_spark.operators.similarity import lsh_topk, lsh_topk_df

    first = emb.orderBy("vec_id").first()
    q = list(first["embedding"])
    qdf = emb.where(F.col("vec_id") == first["vec_id"]).select("embedding")
    a = [(r["vec_id"], round(r["score"], 9))
         for r in lsh_topk(emb, q, k=10, max_hamming=6).collect()]
    b = [(r["vec_id"], round(r["score"], 9))
         for r in lsh_topk_df(emb, qdf, k=10, max_hamming=6,
                              dim=len(q)).collect()]
    assert a == b


def test_ivf_df_pipeline_recall_and_empty(spark, emb):
    """Fully in-plan IVF (train/assign/probe/re-rank in one plan):
    valid cells, recall vs brute force, and empty-input safety."""
    from pyspark.sql import functions as F

    from pyspec_spark.operators.similarity import (
        cosine_topk,
        ivf_assign_df,
        ivf_topk_df,
        train_centroids_df,
    )

    cents = train_centroids_df(emb, n_cells=8, sample=500)
    assigned = ivf_assign_df(emb, cents).cache()
    cells = assigned.groupBy("cell").count().collect()
    assert sum(r["count"] for r in cells) == emb.count()
    assert all(0 <= r["cell"] < 8 for r in cells)
    first = emb.orderBy("vec_id").first()
    qdf = emb.where(F.col("vec_id") == first["vec_id"]).select("embedding")
    exact = [r["vec_id"] for r in cosine_topk(emb, list(first["embedding"]), k=5).collect()]
    got = [r["vec_id"]
           for r in ivf_topk_df(assigned, cents, qdf, k=5, n_probe=4).collect()]
    assert got[0] == exact[0]
    assert len(set(exact) & set(got)) >= 3
    # empty corpus: empty model, empty top-k, schema intact
    empty = emb.where(F.lit(False))
    cents0 = train_centroids_df(empty, n_cells=8, sample=500)
    out = ivf_topk_df(ivf_assign_df(empty, cents0), cents0,
                      empty.select("embedding"), k=5)
    assert out.columns == ["vec_id", "score"] and out.count() == 0


def test_text_ops(spark):
    from pyspec_spark.operators.text import (
        char_ngram_profile,
        fingerprint,
        lang_id,
        quality_score,
        token_counts,
    )
    from pyspec_spark.tables import table

    d = table(spark, SF, "documents")
    tc = token_counts(d)
    r = tc.where("doc_id = 0").collect()[0]
    assert r["n_bpe_tokens"] >= r["n_ws_tokens"] > 0
    fp = fingerprint(d)
    # deterministic + sensitive to content; winnowing guarantee: docs
    # sharing a long token run share a fingerprint (planted dups do)
    a = {(x["doc_id"], x["fp"]) for x in fp.collect()}
    b = {(x["doc_id"], x["fp"]) for x in fingerprint(d).collect()}
    assert a == b and len(a) > 0
    n_docs = d.count()
    assert len({f for _, f in a}) > n_docs  # more distinct fps than docs
    q = quality_score(d)
    row = q.where("doc_id = 1").collect()[0]
    assert 0.0 <= row["quality"] <= 1.0
    profiles = char_ngram_profile(d.limit(200))
    assert set(profiles) == {"de", "en", "es", "fr", "zh"}
    pred = lang_id(d.limit(20), profiles)
    out = pred.select("doc_id", "lang", "lang_pred").collect()
    assert all(r["lang_pred"] in profiles for r in out)


def test_multimodal_plumbing(spark):
    from pyspec_spark.operators.multimodal import (
        decode_frame,
        extract_features,
        make_fake_media,
    )

    media = make_fake_media(spark, n=8, frames=4)
    feats = extract_features(media, sample_every=2).collect()
    # images: 1 frame sampled; videos (4 frames, every 2): 2 frames
    per_media = {}
    for r in feats:
        per_media.setdefault(r["media_id"], []).append(r)
    for mid, rows in per_media.items():
        assert len(rows) == (2 if mid % 2 else 1)
        assert all(len(r["features"]) == 6 for r in rows)
    # deterministic decode
    f1 = decode_frame("fake-rgb8", b"\x01" * 32, 16, 12, 0)
    f2 = decode_frame("fake-rgb8", b"\x01" * 32, 16, 12, 0)
    np.testing.assert_array_equal(f1, f2)
    # mp4 (r6): MJPEG samples decode for real (tests/test_mp4.py); a
    # truncated container is a demux ValueError, and only non-MJPEG
    # sample codecs keep the NotImplementedError boundary
    with pytest.raises(ValueError):
        decode_frame("mp4", b"\x00\x00\x00\x18ftypmp42", 4, 4, 0)
    from pyspec_spark.operators.mp4 import make_minimal_mp4

    with pytest.raises(NotImplementedError):
        # non-MJPEG sample codec: the contract error, decided from stsd
        decode_frame("mp4", make_minimal_mp4(codec="avc1"), 64, 48, 0)
    # jpeg is now a real decoder: truncated bytes are a ValueError, not
    # a stub boundary
    with pytest.raises(ValueError):
        decode_frame("jpeg", b"\xff\xd8\xff", 4, 4, 0)


def test_connected_components_star_matches_minlabel(spark):
    """The large-star/small-star variant must produce exactly the same
    (node, component-min) labeling as min-label propagation on random
    graphs (both in their converged regime)."""
    import random

    from pyspec_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(7)
    for trial in range(3):
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(40 + 10 * trial)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        df = spark.createDataFrame(edges, "src LONG, dst LONG")
        a = {
            (r["node"], r["component"])
            for r in connected_components(df).collect()
        }
        b = {
            (r["node"], r["component"])
            for r in connected_components_star(df).collect()
        }
        assert a == b, f"trial {trial}: star != min-label"


def test_connected_components_star_logarithmic_on_chain(spark):
    """On a 300-node path graph min-label needs ~300 rounds (1 hop per
    round); the star variant must converge to ONE component well inside
    its 30-round budget — the O(log d) claim, demonstrated."""
    from pyspec_spark.operators.dedup import connected_components_star

    n = 300
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src LONG, dst LONG"
    )
    rows = connected_components_star(df, max_iter=30).collect()
    labels = {r["node"]: r["component"] for r in rows}
    assert set(labels) == set(range(n))
    assert set(labels.values()) == {0}


# ---------------------------------------------------------------------------
# connected_components (dedup clustering)
# ---------------------------------------------------------------------------
def test_connected_components_chain_and_islands(spark):
    from pyspec_spark.operators.dedup import connected_components

    # chain 1-2-3-4 (diameter 3: exercises multi-round propagation),
    # island {10,11}, self-contained pair {20,21} + bridge 21-22
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "src bigint, dst bigint",
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_checkpoint_dir(spark, tmp_path):
    """With ``checkpoint_dir`` set, both CC variants run on reliable
    checkpoint() instead of localCheckpoint — same results on the same
    planted graph, and the directory actually receives checkpoint data
    (proving the reliable path was taken).  This is the callable form
    of the docstring's 'at 100 TB run with reliable checkpointing'."""
    import os

    from pyspec_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "src bigint, dst bigint",
    )
    expect = {
        r["node"]: r["component"] for r in connected_components(edges).collect()
    }
    for fn, sub in [
        (connected_components, "minlabel"),
        (connected_components_star, "star"),
    ]:
        ckdir = str(tmp_path / sub)
        got = {
            r["node"]: r["component"]
            for r in fn(edges, checkpoint_dir=ckdir).collect()
        }
        assert got == expect, sub
        written = [
            os.path.join(dp, f)
            for dp, _, fs in os.walk(ckdir)
            for f in fs
        ]
        assert written, f"{sub}: no reliable checkpoint data written to {ckdir}"


def test_connected_components_empty_edges(spark):
    from pyspec_spark.operators.dedup import connected_components

    edges = spark.createDataFrame([], "src bigint, dst bigint")
    assert connected_components(edges).collect() == []


def test_dedup_clusters_labels_are_component_minimum(spark):
    from pyspec_spark.queries.llm import jaccard_pairs

    import pyspec_spark.queries as _q  # noqa: F401  (registrations)
    from pyspec_spark import registry

    builder = getattr(
        registry.QUERIES["q_dedup_clusters"], "__wrapped__",
        registry.QUERIES["q_dedup_clusters"],
    )
    sf = "/root/testdata/sf0.001"
    labels = {r["doc_id"]: r["cluster_id"] for r in builder(spark, sf).collect()}
    edges = [(r["doc_a"], r["doc_b"]) for r in jaccard_pairs(spark, sf).collect()]
    # every edge endpoint is labeled, endpoints agree, label <= both ids
    for a, b in edges:
        assert labels[a] == labels[b] <= min(a, b)
    # every label is itself a member of its cluster
    assert all(labels[c] == c for c in set(labels.values()))


def test_minhash_subk_docs_have_no_shingles(spark):
    """Docs with fewer than k tokens produce NO shingles and NO
    signature (ADVICE r1: the old concat_ws path fabricated a truncated
    shingle, diverging from the oracle's NULL-propagating concat)."""
    from pyspec_spark.operators.dedup import minhash_neardup, minhash_signatures

    d = spark.createDataFrame(
        [(1, "single"), (2, "single"), (3, "two tokens here"), (4, "two tokens here")],
        "doc_id INT, text STRING",
    )
    sigs = minhash_signatures(d).collect()
    assert {r["id"] for r in sigs} == {3, 4}, "sub-k docs must be dropped"
    pairs = minhash_neardup(d, threshold=0.5).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) not in found
    assert (3, 4) in found


def test_lsh_candidates_rejects_indivisible_bands(spark):
    from pyspec_spark.operators.dedup import lsh_candidates, minhash_signatures

    d = spark.createDataFrame([(1, "a b c")], "doc_id INT, text STRING")
    sigs = minhash_signatures(d)
    with pytest.raises(ValueError, match="divisible"):
        lsh_candidates(sigs, bands=7, n_hashes=64)


def test_lsh_candidates_empty_input(spark):
    from pyspec_spark.operators.dedup import lsh_candidates, minhash_signatures

    d = spark.createDataFrame([], "doc_id INT, text STRING")
    assert lsh_candidates(minhash_signatures(d)).count() == 0


def test_lsh_candidates_rejects_width_mismatch(spark):
    """ADVICE r2: a signature width that disagrees with n_hashes must
    raise at runtime, not band a prefix (narrow) or hash md5('') for
    every band (wide — which would make every pair a candidate)."""
    from pyspec_spark.operators.dedup import lsh_candidates, minhash_signatures

    d = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d")], "doc_id INT, text STRING"
    )
    sigs = minhash_signatures(d, n_hashes=128)
    # default n_hashes=64 != real width 128 -> raise_error fires per row
    # (AQE may wrap the SparkRuntimeException in a stage-materialization
    # error, so match on the message, not the exception class)
    with pytest.raises(Exception, match="signature width"):
        lsh_candidates(sigs).collect()
    # too-wide n_hashes (slice past the end) must also raise, not emit ''
    with pytest.raises(Exception, match="signature width"):
        lsh_candidates(minhash_signatures(d, n_hashes=64), n_hashes=128).collect()
    # matching width still works
    assert lsh_candidates(sigs, n_hashes=128).count() == 1


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters (r4)
# ---------------------------------------------------------------------------
def test_cms_overcounts_never_undercounts(spark):
    """CMS point estimates are exact counts plus non-negative collision
    mass: est >= exact for every probe, and the sketch row count is
    bounded by its geometry (d*w), not the vocabulary."""
    from pyspec_spark.operators.text import count_min_sketch
    from pyspec_spark.queries.llm_advanced import (
        _CMS_D,
        _CMS_W,
        q_heavy_hitters_cms,
    )
    from pyspark.sql import functions as F

    rows = q_heavy_hitters_cms.__wrapped__(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 20
    assert all(r["est_cnt"] >= r["exact_cnt"] for r in rows)
    ex = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(F.explode(F.split("text", " ")).alias("term"))
    )
    sk = count_min_sketch(ex, d=_CMS_D, w=_CMS_W)
    assert sk.count() <= _CMS_D * _CMS_W


def test_cms_exact_when_no_collisions(spark):
    """A vocabulary far smaller than w: with high probability every term
    has at least one collision-free row, so est == exact for all."""
    from pyspec_spark.operators.text import cms_estimate, count_min_sketch
    from pyspark.sql import functions as F

    data = [(t,) for t in ["a", "b", "c"] * 7 + ["d"] * 5]
    occ = spark.createDataFrame(data, "term string")
    sk = count_min_sketch(occ, d=4, w=4096)
    probes = occ.groupBy("term").agg(F.count("*").alias("exact_cnt"))
    got = {
        r["term"]: (r["exact_cnt"], r["est_cnt"])
        for r in cms_estimate(sk, probes, d=4, w=4096).collect()
    }
    assert got == {"a": (7, 7), "b": (7, 7), "c": (7, 7), "d": (5, 5)}


def test_dedup_keep_best_one_per_cluster(spark):
    """q_dedup_keep_best keeps exactly one member per cluster, and it
    is a true member with the maximal (rounded) unique-token ratio."""
    from pyspec_spark.queries.llm import q_dedup_clusters, q_dedup_keep_best

    clusters = q_dedup_clusters.__wrapped__(spark, SF).collect()
    by_cluster = {}
    for r in clusters:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["doc_id"])
    kept = q_dedup_keep_best.__wrapped__(spark, SF).collect()
    assert {r["cluster_id"] for r in kept} == set(by_cluster)
    assert len(kept) == len(by_cluster)
    texts = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }

    def ratio(doc):
        toks = texts[doc].split(" ")
        return round(len(set(toks)) / len(toks), 6)

    for r in kept:
        members = by_cluster[r["cluster_id"]]
        assert r["kept_doc"] in members
        assert r["n_members"] == len(members)
        best = max(ratio(m) for m in members)
        assert ratio(r["kept_doc"]) == best == r["kept_uniq_ratio"]


def test_connected_components_match_union_find_reference(spark):
    """Both CC variants against an INDEPENDENT local union-find (with
    path compression) on random graphs — not just against each other,
    which would let a shared systematic error pass."""
    import random

    from pyspec_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(101)
    for trial in range(2):
        n = 80
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(50 + 25 * trial)
        ]
        edges = [(a, b) for a, b in edges if a != b]

        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {v for e in edges for v in e}
        # canonical label = min node of each component (the operators'
        # contract); restrict to nodes that appear in edges
        want = {}
        comp_min = {}
        for v in sorted(touched):
            comp_min.setdefault(find(v), v)
        for v in touched:
            want[v] = comp_min[find(v)]

        df = spark.createDataFrame(edges, "src LONG, dst LONG")
        for fn in (connected_components, connected_components_star):
            got = {r["node"]: r["component"] for r in fn(df).collect()}
            assert got == want, f"trial {trial}: {fn.__name__} != union-find"


def test_connected_components_self_loops_and_dup_edges(spark):
    """Self-loops and duplicate/reversed edges are harmless noise in a
    near-dup pair stream; both variants must ignore them."""
    from pyspec_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    edges = spark.createDataFrame(
        [(1, 1), (1, 2), (2, 1), (1, 2), (3, 3), (3, 4)],
        "src bigint, dst bigint",
    )
    want = {1: 1, 2: 1, 3: 3, 4: 3}
    for fn in (connected_components, connected_components_star):
        got = {r["node"]: r["component"] for r in fn(edges).collect()}
        assert got == want, fn.__name__


# ---------------------------------------------------------------------------
# Product quantization (r5) — the memory-bounded ANN tier.
# ---------------------------------------------------------------------------
def test_pq_encode_codes_valid_and_self_consistent(spark, emb):
    """Every vector gets M codes in [0, K); a vector that IS a codeword
    source encodes its own subvectors at distance 0 (so each subspace
    code of vector j < K with the deterministic first-K codebook is j
    unless another codeword ties at 0 — impossible for distinct rows)."""
    from pyspec_spark.operators.similarity import (
        pq_codebooks_firstk_df,
        pq_encode_df,
    )

    m, subd, k = 4, 16, 16
    cb = pq_codebooks_firstk_df(emb, m=m, subd=subd, k=k)
    codes = pq_encode_df(emb, cb, m=m, subd=subd).cache()
    rows = codes.collect()
    assert len(rows) == emb.count()
    for r in rows:
        for mi in range(m):
            assert 0 <= r[f"code{mi}"] < k
    own = {r["vec_id"]: r for r in rows if r["vec_id"] < k}
    for j, r in own.items():
        for mi in range(m):
            assert r[f"code{mi}"] == j, (j, mi, r)


def test_pq_adc_underestimates_nothing_for_codewords(spark, emb):
    """ADC distance of a codeword-source vector to itself as query is 0
    (all M lookups hit exact codewords), so vec 0 must rank first."""
    from pyspark.sql import functions as F

    from pyspec_spark.operators.similarity import (
        pq_adc_topk_df,
        pq_codebooks_firstk_df,
        pq_encode_df,
    )

    cb = pq_codebooks_firstk_df(emb, m=4, subd=16, k=16)
    codes = pq_encode_df(emb, cb, m=4, subd=16)
    qdf = emb.where(F.col("vec_id") == 0).select("embedding")
    top = pq_adc_topk_df(codes, cb, qdf, m=4, subd=16, k=3).collect()
    assert top[0]["vec_id"] == 0
    assert top[0]["adc_dist"] == 0.0


def test_pq_rerank_recall_vs_brute_force(spark, emb):
    """ADC shortlist + exact re-rank (the production shape): recall@10
    >= 0.5 vs exact cosine, and scores on the overlap are exact (the
    re-rank uses full-precision vectors, so overlapped ids carry the
    same cosine as brute force)."""
    from pyspark.sql import functions as F

    from pyspec_spark.operators.similarity import (
        cosine_topk,
        pq_codebooks_trained_df,
        pq_encode_df,
        pq_rerank_topk_df,
    )

    first = emb.orderBy("vec_id").first()
    q = list(first["embedding"])
    qdf = emb.where(F.col("vec_id") == first["vec_id"]).select("embedding")
    cb = pq_codebooks_trained_df(emb, m=8, subd=8, k=16, sample=500)
    codes = pq_encode_df(emb, cb, m=8, subd=8)
    got = pq_rerank_topk_df(
        emb, codes, cb, qdf, m=8, subd=8, k=10, shortlist=100
    ).collect()
    exact = {r["vec_id"]: r["score"] for r in cosine_topk(emb, q, k=10).collect()}
    approx = {r["vec_id"]: r["score"] for r in got}
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5, f"recall {recall}"
    assert got[0]["vec_id"] == first["vec_id"]  # query finds itself
    for vid in set(exact) & set(approx):
        assert abs(exact[vid] - approx[vid]) < 1e-9


def test_pq_encode_plan_is_shuffle_free(spark, emb):
    """The encode stage must stay map-only: broadcast codebook + per-row
    array_min argmin, no Exchange between the scan and the code columns
    (the SQL-oracle formulation needs a groupBy per subspace — the
    DataFrame plan must not)."""
    from pyspec_spark.operators.similarity import (
        pq_codebooks_firstk_df,
        pq_encode_df,
    )

    cb = pq_codebooks_firstk_df(emb, m=4, subd=16, k=16)
    codes = pq_encode_df(emb, cb, m=4, subd=16)
    plan = codes._jdf.queryExecution().executedPlan().toString()
    # the only exchange allowed is the codebook's own single-row
    # aggregation feeding the broadcast — never a shuffle of emb rows
    import re

    exchanges = [
        ln for ln in plan.splitlines() if re.search(r"\bExchange\b", ln)
    ]
    for ln in exchanges:
        assert "SinglePartition" in ln or "broadcast" in ln.lower(), plan


# ---------------------------------------------------------------------------
# Exact duplicated-substring spans (r5, Lee et al. 2022 keep-first).
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def span_docs(spark):
    # docs 1 and 2 share the exact 6-token run "alpha beta gamma delta
    # epsilon zeta" (two overlapping 5-grams); doc 3 is clean; doc 4 is
    # shorter than one gram; doc 5 repeats the shared run INTERNALLY.
    return spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta unique one two"),
            (2, "prefix words alpha beta gamma delta epsilon zeta suffix"),
            (3, "totally different content with no overlap at all here"),
            (4, "short doc"),
            (5, "alpha beta gamma delta epsilon zeta pad alpha beta gamma delta epsilon zeta"),
        ],
        "doc_id long, text string",
    )


def test_duplicated_span_stats_golden(spark, span_docs):
    """Hand-derivable coverage: two overlapping 5-grams merge to a
    6-token interval (5 + min(5, 1)); clean/short docs report zero."""
    from pyspec_spark.operators.text import duplicated_span_stats

    got = {
        r["doc_id"]: (
            r["n_tokens"], r["dup_ngrams"], r["dup_cover"], r["dup_frac"]
        )
        for r in duplicated_span_stats(span_docs, n=5).collect()
    }
    assert got[1] == (9, 2, 6, round(6 / 9, 6))
    assert got[2] == (9, 2, 6, round(6 / 9, 6))
    assert got[3] == (9, 0, 0, 0.0)
    assert got[4] == (2, 0, 0, 0.0)
    # doc 5: both copies of the run are cross-doc duplicated -> 4
    # gram occurrences (2 per copy), two disjoint 6-token
    # intervals = 12
    assert got[5] == (13, 4, 12, round(12 / 13, 6))


def test_remove_duplicated_spans_keep_first(spark, span_docs):
    """The lowest (doc_id, start) occurrence survives; every other
    copy's tokens are excised — including the second INTERNAL copy in
    doc 5 (the keep-one policy), while non-duplicated text is
    untouched."""
    from pyspec_spark.operators.text import remove_duplicated_spans

    got = {
        r["doc_id"]: (r["clean_text"], r["removed_tokens"])
        for r in remove_duplicated_spans(span_docs, n=5).collect()
    }
    assert got[1] == (
        "alpha beta gamma delta epsilon zeta unique one two",
        0,
    )  # keeper: doc 1 holds the min (doc_id, start)
    assert got[2] == ("prefix words suffix", 6)
    assert got[3][1] == 0
    assert got[4] == ("short doc", 0)
    assert got[5] == ("pad", 12)  # both copies lose to doc 1's keeper


def test_remove_duplicated_spans_noop_on_unique_corpus(spark):
    """A corpus with no cross-doc n-gram repeats passes through
    verbatim (text equality, zero removed)."""
    from pyspec_spark.operators.text import remove_duplicated_spans

    docs = spark.createDataFrame(
        [
            (0, "zero cold winter nights bring quiet snow"),
            (1, "one bright summer day follows heavy rain"),
            (2, "two old ships sailed past rocky cliffs"),
            (3, "three green hills rise beyond the valley"),
        ],
        "doc_id long, text string",
    )
    rows = remove_duplicated_spans(docs, n=5).collect()
    orig = {r["doc_id"]: r["text"] for r in docs.collect()}
    for r in rows:
        assert r["clean_text"] == orig[r["doc_id"]]
        assert r["removed_tokens"] == 0


def test_feature_hash_embed_unit_norm_and_determinism(spark):
    """Every doc vector is unit-L2 (or all-zero), dims are dense
    0..dim-1, and the embedding is a pure function of the text —
    identical docs get identical vectors."""
    from pyspec_spark.operators.text import feature_hash_embed

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),
            (3, "completely different words here now"),
        ],
        "doc_id long, text string",
    )
    rows = feature_hash_embed(docs, dim=8).collect()
    by_doc: dict[int, dict[int, float]] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], {})[r["dim"]] = r["fh_val"]
    for d, vec in by_doc.items():
        assert sorted(vec) == list(range(8))
        n2 = sum(v * v for v in vec.values())
        assert abs(n2 - 1.0) < 1e-4 or n2 == 0.0, (d, n2)
    assert by_doc[1] == by_doc[2]
    assert by_doc[1] != by_doc[3]


def test_ivfpq_topk_recall(spark, emb):
    """IVFADC composite (IVF cell pruning + PQ ADC shortlist + exact
    re-rank): recall@10 vs brute force, query finds itself first, and
    re-ranked scores are exact on the overlap."""
    from pyspec_spark.operators.similarity import (
        cosine_topk,
        ivfpq_topk_df,
        pq_codebooks_trained_df,
        train_centroids_df,
    )

    first = emb.orderBy("vec_id").first()
    q = list(first["embedding"])
    qdf = emb.where(F.col("vec_id") == first["vec_id"]).select("embedding")
    cents = train_centroids_df(emb, n_cells=8, sample=500)
    cb = pq_codebooks_trained_df(emb, m=8, subd=8, k=16, sample=500)
    got = ivfpq_topk_df(
        emb, cents, cb, qdf, m=8, subd=8, k=10, n_probe=4, shortlist=100
    ).collect()
    exact = {r["vec_id"]: r["score"] for r in cosine_topk(emb, q, k=10).collect()}
    approx = {r["vec_id"]: r["score"] for r in got}
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5, f"recall {recall}"
    assert got[0]["vec_id"] == first["vec_id"]
    for vid in set(exact) & set(approx):
        assert abs(exact[vid] - approx[vid]) < 1e-9


def test_knn_join_exact_matches_numpy(spark, emb):
    """The exact k-NN join equals a local numpy reference for every
    query row (ids and scores)."""
    from pyspec_spark.operators.similarity import knn_join_exact

    rows = emb.collect()
    X = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
    ids = np.array([r["vec_id"] for r in rows])
    q = emb.where(F.col("vec_id") < 5)
    got = knn_join_exact(emb, q, k=3).collect()
    for qid in range(5):
        qi = list(ids).index(qid)
        cos = (X @ X[qi]) / (np.linalg.norm(X, axis=1) * np.linalg.norm(X[qi]))
        mask = ids != qid
        order = np.lexsort((ids[mask], -cos[mask]))[:3]
        want = [int(ids[mask][i]) for i in order]
        mine = [r["vec_id"] for r in sorted(
            (r for r in got if r["qid"] == qid), key=lambda r: r["rk"])]
        assert mine == want, (qid, mine, want)


def test_knn_join_lsh_planted_neardup_recall(spark, emb):
    """The banded LSH join's documented regime: perturbed copies of 20
    corpus vectors must find their source as the nearest neighbor in
    >= 16/20 cases (pigeonhole guarantees hamming <= 1; small
    perturbations occasionally land at hamming > max_hamming)."""
    from pyspark.sql import types as T

    from pyspec_spark.operators.similarity import knn_join_lsh

    rows = emb.where(F.col("vec_id") < 20).collect()
    rng = np.random.default_rng(7)
    pert = [
        (
            int(r["vec_id"]) + 100000,
            [float(v) + float(e)
             for v, e in zip(r["embedding"], rng.normal(0, 0.01, 64))],
        )
        for r in rows
    ]
    pdf = spark.createDataFrame(
        pert,
        T.StructType([
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]),
    )
    corpus = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    ).unionByName(pdf)
    got = knn_join_lsh(corpus, pdf, k=1, max_hamming=2).collect()
    hits = sum(
        1 for r in got if r["rk"] == 1 and r["vec_id"] == r["qid"] - 100000
    )
    assert hits >= 16, f"planted NN found only {hits}/20"


def test_mmr_rerank_greedy_replicates_and_diversifies(spark):
    """q_mmr_rerank semantics: rank-1 is the pure-relevance argmax, the
    pick set is a shortlist subset, every later mmr score is <= its rel
    (the diversity penalty only subtracts), and a pure-python greedy
    over the collected shortlist replicates the full selection order."""
    from pyspec_spark.operators.similarity import _round6, _seq_cos
    from pyspec_spark.queries.llm_advanced import (
        _MMR_K,
        _MMR_LAM,
        _MMR_N,
        q_mmr_rerank,
    )
    from pyspec_spark.tables import table

    got = [
        (r["rank"], r["vec_id"], r["rel"], r["mmr"])
        for r in q_mmr_rerank.__wrapped__(spark, SF).collect()
    ]
    assert [r[0] for r in got] == list(range(1, _MMR_K + 1))

    emb = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in table(spark, SF, "embeddings").collect()
    }
    qv = emb[0]
    scored = sorted(
        ((_round6(_seq_cos(v, qv)), vid) for vid, v in emb.items() if vid != 0),
        key=lambda t: (-t[0], t[1]),
    )
    shortlist = [(vid, rel, emb[vid]) for rel, vid in scored[:_MMR_N]]
    assert {r[1] for r in got} <= {c[0] for c in shortlist}

    sel = []
    remaining = list(shortlist)
    for rank in range(1, _MMR_K + 1):
        if rank == 1:
            best = min(remaining, key=lambda c: (-c[1], c[0]))
            best_score = best[1]
        else:
            def key(c):
                maxsim = max(_round6(_seq_cos(c[2], s[2])) for s in sel)
                return _round6(_MMR_LAM * c[1] - (1 - _MMR_LAM) * maxsim)
            best = min(remaining, key=lambda c: (-key(c), c[0]))
            best_score = key(best)
        sel.append(best)
        remaining = [c for c in remaining if c[0] != best[0]]
        want = (rank, best[0], best[1], best_score)
        assert got[rank - 1] == want, (got[rank - 1], want)

    for rank, _vid, rel, mmr in got[1:]:
        assert mmr <= rel + 1e-12
    # diversification is real on this data: the MMR order differs from
    # the pure-relevance order
    assert [r[1] for r in got] != [c[0] for c in shortlist[:_MMR_K]]


def test_mmr_sql_twin_matches_pandas_form(spark):
    """mmr_rerank_sql (unrolled Catalyst greedy) returns bit-identical
    rows to the declared applyInPandas form — two independent
    implementations plus the DuckDB recursive-CTE oracle all agree."""
    from pyspec_spark.operators.similarity import mmr_rerank_sql
    from pyspec_spark.queries.llm_advanced import (
        _MMR_K,
        _MMR_LAM,
        _MMR_N,
        q_mmr_rerank,
    )
    from pyspec_spark.tables import table

    e = table(spark, SF, "embeddings")
    q = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    dot = F.aggregate(
        F.zip_with(
            "embedding", "qv", lambda a, b: a.cast("double") * b.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(c, lambda a: a.cast("double") * a.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    sl = (
        e.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                dot / (norm(F.col("embedding")) * norm(F.col("qv"))), 6
            ).alias("rel"),
            F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
        )
        .orderBy(F.desc("rel"), "vec_id")
        .limit(_MMR_N)
    )
    a = [tuple(r) for r in mmr_rerank_sql(sl, k=_MMR_K, lam=_MMR_LAM).collect()]
    b = [tuple(r) for r in q_mmr_rerank.__wrapped__(spark, SF).collect()]
    assert a == b


def test_source_overlap_properties(spark):
    """q_source_overlap: unordered pairs (src_a < src_b), every count
    >= 1, and a planted verbatim copy across two synthetic sources is
    counted with exactly its n-gram count."""
    from pyspec_spark import registry
    from pyspec_spark.queries.llm import _OVL_N, q_source_overlap

    registry.load_all()
    rows = q_source_overlap.__wrapped__(spark, "/root/testdata/sf0.01").collect()
    assert rows
    assert all(r["src_a"] < r["src_b"] for r in rows)
    assert all(r["n_shared_grams"] >= 1 for r in rows)

    # synthetic: one 20-token text shared verbatim by A and B, one
    # unrelated text in C -> exactly one pair (A, B) with 20-N+1 grams
    toks = " ".join(f"w{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            (1, toks, "A", "en", len(toks)),
            (2, toks, "B", "en", len(toks)),
            (3, " ".join(f"z{i}" for i in range(20)), "C", "en", 99),
        ],
        ["doc_id", "text", "source", "lang", "n_chars"],
    )
    import pyspec_spark.queries.llm as L

    orig = L.table
    try:
        L.table = lambda s, sf, name: docs
        got = q_source_overlap.__wrapped__(spark, "ignored").collect()
    finally:
        L.table = orig
    assert [(r["src_a"], r["src_b"], r["n_shared_grams"]) for r in got] == [
        ("A", "B", 20 - _OVL_N + 1)
    ]


def test_filter_attribution_consistent_with_gopher_flags(spark):
    """Per-rule totals replicate a pandas recount of q_gopher_rules'
    emitted metrics; solo kills never exceed total kills."""
    from pyspec_spark.queries.quality import (
        _ATTR_RULES,
        q_filter_attribution,
        q_gopher_rules,
    )

    g = q_gopher_rules.__wrapped__(spark, SF).toPandas()
    flags = {
        "words": ~g["n_words"].between(50, 100_000),
        "mwl": ~g["mean_word_len"].between(3.0, 10.0),
        "bullet": g["bullet_ratio"] > 0.9,
        "ellipsis": g["ellipsis_ratio"] > 0.3,
        "alpha": g["frac_alpha_words"] < 0.8,
        "stops": g["n_stopwords_present"] < 2,
        "symbol": g["symbol_word_ratio"] > 0.1,
    }
    n_fails = sum(flags[r].astype(int) for r in _ATTR_RULES)
    rows = {
        r["rule"]: r
        for r in q_filter_attribution.__wrapped__(spark, SF).collect()
    }
    assert set(rows) == set(_ATTR_RULES)
    for rule in _ATTR_RULES:
        want_failed = int(flags[rule].sum())
        want_solo = int((flags[rule] & (n_fails == 1)).sum())
        assert rows[rule]["n_failed"] == want_failed
        assert rows[rule]["n_solo_failed"] == want_solo
        assert 0 <= rows[rule]["n_solo_failed"] <= rows[rule]["n_failed"]
        assert rows[rule]["frac_failed"] == pytest.approx(
            want_failed / len(g), abs=1e-6
        )


def test_hard_negatives_cross_label_and_ranked(spark):
    """Every mined negative carries a label different from its anchor's;
    scores are non-increasing within an anchor and rk is dense 1..k."""
    from pyspec_spark.queries.llm_advanced import _HN_K, _HN_Q, q_hard_negatives
    from pyspec_spark.tables import table

    rows = q_hard_negatives.__wrapped__(spark, SF).collect()
    labels = {
        r["vec_id"]: r["label"]
        for r in table(spark, SF, "embeddings").select("vec_id", "label").collect()
    }
    per_anchor: dict[int, list] = {}
    for r in rows:
        per_anchor.setdefault(r["anchor_id"], []).append(r)
    assert set(per_anchor) == set(range(_HN_Q))
    for aid, rs in per_anchor.items():
        rs.sort(key=lambda r: r["rk"])
        assert [r["rk"] for r in rs] == list(range(1, _HN_K + 1))
        assert all(labels[r["neg_id"]] != labels[aid] for r in rs)
        scores = [r["score"] for r in rs]
        assert scores == sorted(scores, reverse=True)
        assert all(-1.0 <= s <= 1.0 for s in scores)


def test_url_filter_canonicalization_and_blocklist(spark):
    """Canonical URLs are lowercase, www-stripped, utm-free; the ads
    suffix family and the exact-blocklist domains are fully blocked;
    every other domain is fully kept."""
    from pyspec_spark.queries.curation import q_url_filter

    rows = {r["domain"]: r for r in q_url_filter.__wrapped__(spark, SF).collect()}
    assert "ads.example" in rows
    ads = rows["ads.example"]
    assert ads["n_kept"] == 0 and ads["n_blocked"] == ads["n_urls"] > 0
    for d in ("domain3.example", "domain7.example"):
        assert rows[d]["n_kept"] == 0 and rows[d]["n_blocked"] > 0
    for d, r in rows.items():
        if d == "ads.example" or d in ("domain3.example", "domain7.example"):
            continue
        assert r["n_blocked"] == 0 and r["n_kept"] == r["n_urls"]
        s = r["sample_kept"]
        assert s is not None and s == s.lower()
        assert "utm_" not in s and not s.startswith("www.")
    assert sum(r["n_urls"] for r in rows.values()) == 500


def test_sem_decontam_flags_exactly_the_planted_set(spark):
    """Only the 8 planted sources (vec 16+13j, whose 1-decimal
    quantization is bench item j) cross the 0.9 gate; each matches
    exactly its own bench item with near-1 similarity, and the
    orthogonal background never flags."""
    from pyspec_spark.queries.curation import (
        _SEMDECON_B,
        _SEMDECON_STRIDE,
        q_sem_decontam,
    )

    rows = q_sem_decontam.__wrapped__(spark, SF).collect()
    assert [r["vec_id"] for r in rows] == [
        16 + _SEMDECON_STRIDE * j for j in range(_SEMDECON_B)
    ]
    for j, r in enumerate(rows):
        assert r["bench_id"] == j          # attribution is self, not a neighbor
        assert r["n_hits"] == 1
        assert 0.95 <= r["score"] <= 1.0   # quantized self-cosine


def test_soft_dedup_weight_invariants(spark):
    """weight = n_sh/sum_df is 1 exactly for all-unique-content docs,
    <1 whenever any shingle is shared, and dup_heavy iff mean df >= 2;
    the weighting must find real sharing in the corpus (non-vacuous)."""
    from pyspec_spark.queries.curation import q_soft_dedup

    rows = q_soft_dedup.__wrapped__(spark, SF).collect()
    assert len(rows) > 0
    n_shared = 0
    for r in rows:
        assert r["n_sh"] <= r["sum_df"]
        assert 0.0 < r["weight"] <= 1.0
        assert (r["weight"] == 1.0) == (r["n_sh"] == r["sum_df"])
        assert r["dup_heavy"] == (r["sum_df"] >= 2 * r["n_sh"])
        n_shared += r["weight"] < 1.0
    assert n_shared > 0


def test_split_leakage_finds_the_planted_straddler(spark):
    """The audit reports every near-dup cluster with its per-split
    member counts; at sf0.001 cluster 56 genuinely straddles the
    boundary (its two members hash to different splits) and must be
    flagged, while counts always reconcile."""
    from pyspec_spark.queries.llm import q_split_leakage

    rows = q_split_leakage.__wrapped__(spark, SF).collect()
    assert len(rows) >= 10
    by_id = {r["cluster_id"]: r for r in rows}
    for r in rows:
        assert r["n_train"] + r["n_val"] + r["n_test"] == r["n_members"]
        n_splits = sum(1 for c in ("n_train", "n_val", "n_test") if r[c] > 0)
        assert r["leaky"] == (n_splits >= 2)
    assert by_id[56]["leaky"]
    assert sum(1 for r in rows if r["leaky"]) >= 1


def test_decontam_report_screen_agreement_invariants(spark):
    """Bloom has no false negatives, so every exact-flagged doc is also
    bloom-flagged with bloom >= exact containment; the semantic screen
    fires on the planted quantized paraphrases, which the n-gram
    screens never flag (disjoint by construction at sf0.001); and
    n_methods counts the non-null scores."""
    from pyspec_spark.queries.curation import q_decontam_report

    rows = q_decontam_report.__wrapped__(spark, SF).collect()
    assert rows
    n_sem = n_exact = 0
    for r in rows:
        got = sum(
            1 for c in ("exact_cont", "bloom_cont", "sem_cos")
            if r[c] is not None
        )
        assert r["n_methods"] == got >= 1
        if r["exact_cont"] is not None:
            n_exact += 1
            assert r["bloom_cont"] is not None
            assert r["bloom_cont"] >= r["exact_cont"]
        if r["sem_cos"] is not None:
            n_sem += 1
    assert n_exact >= 1 and n_sem == 8


def test_bitext_mine_margin_matches_numpy_recompute(spark):
    """One row per source anchor, and the (cos, margin, argmax) of the
    returned best pair matches an independent numpy recompute of the
    Artetxe & Schwenk ratio margin on the same micro-unit quantization."""
    import numpy as np

    from pyspec_spark.queries.llm_advanced import _BT_K, _BT_SRC, q_bitext_mine
    from pyspec_spark.tables import table

    rows = {r["src_id"]: r for r in q_bitext_mine.__wrapped__(spark, SF).collect()}
    assert set(rows) == set(range(0, _BT_SRC, 2))

    emb = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in table(spark, SF, "embeddings").collect()
    }
    src_ids = sorted(v for v in emb if v < _BT_SRC and v % 2 == 0)
    tgt_ids = sorted(v for v in emb if v % 2 == 1)

    def micro(x: float) -> int:  # HALF_UP micro-units, the _fixed6 basis
        s = x * 1e6
        return int(np.floor(s + 0.5)) if s >= 0 else -int(np.floor(0.5 - s))

    c = {
        (s, t): micro(
            float(
                emb[s] @ emb[t]
                / (np.sqrt(emb[s] @ emb[s]) * np.sqrt(emb[t] @ emb[t]))
            )
        )
        for s in src_ids
        for t in tgt_ids
    }
    den_x = {
        s: sum(sorted((c[(s, t)] for t in tgt_ids), reverse=True)[:_BT_K])
        for s in src_ids
    }
    den_y = {
        t: sum(sorted((c[(s, t)] for s in src_ids), reverse=True)[:_BT_K])
        for t in tgt_ids
    }
    for s in src_ids:
        best = None
        for t in tgt_ids:
            den = den_x[s] + den_y[t]
            m = round(2 * _BT_K * c[(s, t)] / den, 6) if den > 0 else 0.0
            key = (-m, t)
            if best is None or key < best[0]:
                best = (key, t, m)
        _, t_star, m_star = best
        assert rows[s]["tgt_id"] == t_star
        assert rows[s]["margin"] == pytest.approx(m_star, abs=2e-6)
        assert rows[s]["cos_sim"] == pytest.approx(c[(s, t_star)] / 1e6, abs=1e-9)


def test_split_repair_quarantines_leaky_clusters(spark):
    """Every cluster ends in ONE repaired split = its most restrictive
    represented original (test > val > train); non-leaky clusters never
    move; the sf0.001 planted straddler actually moves members."""
    from collections import defaultdict

    from pyspec_spark.queries.llm import q_split_leakage, q_split_repair

    rep = q_split_repair.__wrapped__(spark, SF).collect()
    leak = {
        r["cluster_id"]: r
        for r in q_split_leakage.__wrapped__(spark, SF).collect()
    }
    by_cluster = defaultdict(list)
    for r in rep:
        by_cluster[r["cluster_id"]].append(r)
    assert set(by_cluster) == set(leak)
    rank = {"train": 0, "val": 1, "test": 2}
    moved_any = False
    for cid, rs in by_cluster.items():
        assert len(rs) == leak[cid]["n_members"]
        want = max((r["split"] for r in rs), key=rank.get)
        assert {r["repaired"] for r in rs} == {want}
        for r in rs:
            assert r["moved"] == (r["split"] != want)
            moved_any |= r["moved"]
        if not leak[cid]["leaky"]:
            assert not any(r["moved"] for r in rs)
    assert moved_any  # the planted straddler forces at least one move


def test_dedup_tau_sweep_monotone_and_anchored_to_neardup(spark):
    """n_pairs is non-increasing in the threshold, and the count at
    t = 52 (tau = 0.8125, the first level above the 0.8 production
    threshold) is consistent with q_minhash_neardup's own pair count
    (whose est >= 0.8 equals n64 >= 52 at 1/64 resolution)."""
    from pyspec_spark.queries.llm_advanced import (
        q_dedup_tau_sweep,
        q_minhash_neardup,
    )

    rows = sorted(
        q_dedup_tau_sweep.__wrapped__(spark, SF).collect(),
        key=lambda r: r["t"],
    )
    assert [r["t"] for r in rows] == list(range(32, 65))
    counts = [r["n_pairs"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    prod = len(q_minhash_neardup.__wrapped__(spark, SF).collect())
    at_080 = next(r["n_pairs"] for r in rows if r["t"] == 52)
    assert at_080 == prod


def test_bitext_mine_lsh_planted_translation_recall(spark, emb):
    """bitext_mine_lsh (the corpus x corpus scale path): 8 'source
    language' vectors are small perturbations of 8 target vectors (a
    true translation pair is near-identical in the aligned space); the
    banded-LSH shortlist + ratio margin must mine the planted partner
    as the best match for >= 6/8 sources, with margin > 1 (closer than
    the typical neighborhood) on every hit.  Also pins the shortlist
    semantics: on identical candidates the exact and LSH margins agree."""
    from pyspark.sql import types as T

    from pyspec_spark.operators.similarity import bitext_mine_lsh

    rows = emb.where(F.col("vec_id") < 8).collect()
    rng = np.random.default_rng(11)
    src_rows = [
        (
            int(r["vec_id"]) + 500000,
            [float(v) + float(e)
             for v, e in zip(r["embedding"], rng.normal(0, 0.01, 64))],
        )
        for r in rows
    ]
    src = spark.createDataFrame(
        src_rows,
        T.StructType([
            T.StructField("src_id", T.LongType()),
            T.StructField("se", T.ArrayType(T.DoubleType())),
        ]),
    )
    tgt = emb.where(F.col("vec_id") < 200).select(
        F.col("vec_id").alias("tgt_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("te"),
    )
    got = bitext_mine_lsh(src, tgt, k=4, max_hamming=4).collect()
    hits = [r for r in got if r["tgt_id"] == r["src_id"] - 500000]
    assert len(hits) >= 6, f"planted partner mined only {len(hits)}/8"
    assert all(r["margin"] > 1.0 for r in hits)


def test_sharded_postings_decode_equals_flat_index(spark):
    """The doc-id-range shard mitigation must be lossless: decoding the
    sharded postings reproduces exactly the (term, doc_id, tf) set of
    the flat q_inverted_index postings, and no (term, shard) group
    exceeds shard_size entries (the skew bound that IS the point)."""
    from pyspec_spark.operators.text import decode_postings, sharded_postings
    from pyspec_spark.queries.text_ranking import _tf, q_inverted_index

    sf = "/root/testdata/sf0.001"
    tf = _tf(spark, sf)
    shard_size = 64
    sharded = sharded_postings(tf, shard_size).cache()
    flat = q_inverted_index.__wrapped__(spark, sf)

    got = {
        (r["term"], r["doc_id"], r["tf"])
        for r in decode_postings(sharded, shard_size=shard_size).collect()
    }
    want = {
        (r["term"], r["doc_id"], r["tf"])
        for r in decode_postings(flat).collect()
    }
    assert got == want and len(want) > 0
    # the skew bound: every group holds at most shard_size postings
    assert sharded.agg(F.max("df_shard")).collect()[0][0] <= shard_size
    # shards really split the worst term
    worst = (
        sharded.groupBy("term")
        .count()
        .orderBy(F.desc("count"))
        .first()
    )
    assert worst["count"] > 1


def test_source_overlap_sketch_matches_exact_at_fixture_scale(spark):
    """Theta-sketch source overlap (r11): below the sketch's k=4096
    retained-hash capacity a theta sketch is in EXACT mode, so at
    fixture scale every per-source distinct-gram estimate and every
    pairwise intersection estimate must EQUAL the exact answer — and
    the pair table must cover all unordered source pairs (the exact
    query emits only pairs with >=1 shared gram; the sketch face emits
    the full matrix, overlap 0 included)."""
    from pyspec_spark.queries.llm import (
        _OVL_N,
        q_source_overlap,
        q_source_overlap_sketch,
    )
    from pyspec_spark.tables import table as t

    sk = {
        (r["src_a"], r["src_b"]): (
            r["est_shared_grams"], r["est_a"], r["est_b"]
        )
        for r in q_source_overlap_sketch.__wrapped__(spark, SF).collect()
    }
    exact_pairs = {
        (r["src_a"], r["src_b"]): r["n_shared_grams"]
        for r in q_source_overlap.__wrapped__(spark, SF).collect()
    }
    # exact distinct grams per source, straight from the corpus
    n = _OVL_N
    d = t(spark, SF, "documents").select(
        "source", F.split("text", " ").alias("w")
    )
    grams = d.select(
        "source",
        F.explode(
            F.when(
                F.size("w") >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size("w") - n + 1),
                    lambda i: F.md5(
                        F.concat_ws(" ", F.slice("w", i, n)).cast("binary")
                    ),
                ),
            ).otherwise(F.array())
        ).alias("h"),
    )
    exact_d = {
        r["source"]: r["d"]
        for r in grams.groupBy("source")
        .agg(F.countDistinct("h").alias("d"))
        .collect()
    }
    srcs = sorted(exact_d)
    assert set(sk) == {
        (a, b) for i, a in enumerate(srcs) for b in srcs[i + 1 :]
    }
    for (a, b), (shared, ea, eb) in sk.items():
        capacity_exact = exact_d[a] < 4096 and exact_d[b] < 4096
        assert capacity_exact  # the fixture premise this test relies on
        assert (ea, eb) == (exact_d[a], exact_d[b]), (a, b)
        assert shared == exact_pairs.get((a, b), 0), (a, b)
