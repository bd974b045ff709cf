"""Maintained RAG index over the document lake — the end-to-end
retrieval-ingestion lifecycle (L5h, r13).

Reference loci (SURVEY.md §0 policy): absent from `stuwilkins/pyspec`
[H] — north-star: every RAG deployment runs this exact pipeline —
documents land in a governed table, get chunked into overlapping token
windows, embedded, and indexed for vector search; new documents must
EXTEND the index, deleted documents must LEAVE it, and an auditor must
be able to prove index and corpus agree.  This module is deliberately
a COMPOSITION of already-verified pieces, not new machinery:

- corpus: the snapshot lake (S6b) with CDC (`lake_diff`, S6c);
- chunking: `chunk_tokens` (L13b — oracle-checked boundary math);
- embedding: `feature_hash_vectors` (L6+ hashing trick — the
  deterministic stand-in for a model embedder; swap the embed fn for
  a Pandas-UDF model scorer in production, the plumbing is identical);
- index: the PQ-coded maintained vector lake (L5e —
  `build_pq_lake` / `delete_vectors_pq` / `pq_lookup`), frozen
  codebooks per the ST11 contract.

Chunk key: vec_id = doc_id * 2^20 + chunk_id (both ranges guarded at
write) — deterministic from content, so DELETE propagation can
re-derive a doc's chunk keys from the OLD snapshot without any
auxiliary mapping table.

Incremental contract (the L46d/extend discipline): `extend_rag_index`
consumes exactly the lake's committed delta (CDC between the covered
version in the marker and the current version); updates are
delete+insert (a doc's chunk COUNT may change); the frozen codebook
means extend == a fresh build at the new version USING THE ORIGINAL
CODEBOOKS (pinned by test) — retraining is the existing
reindex/publish lifecycle, not a silent side effect of ingestion.

Scale posture: chunking/embedding/encoding are map-side; appends and
CoW deletes keep the vector lake's own postures (cell-partitioned,
bloom-equipped, OCC commits); the auditor is two distinct-key scans
plus an anti-join each way.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_RAG_MARKER = "_rag_version.json"
_CHUNK_BITS = 20  # vec_id = doc_id << 20 | chunk_id


def _marker_path(index_root: str) -> str:
    return os.path.join(index_root, _RAG_MARKER)


def read_rag_marker(index_root: str) -> dict | None:
    p = _marker_path(index_root)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _write_marker(index_root: str, payload: dict) -> None:
    from pyspec_spark.lake import write_replace

    os.makedirs(index_root, exist_ok=True)
    write_replace(_marker_path(index_root), json.dumps(payload))


def chunk_vec_id() -> F.Column:
    """The composite chunk key as a Column over (doc_id, chunk_id)."""
    return (
        F.col("doc_id") * F.lit(1 << _CHUNK_BITS) + F.col("chunk_id")
    ).cast("long")


def _chunk_vectors(
    docs: DataFrame, dim: int, chunk: int, stride: int
) -> DataFrame:
    """(vec_id, embedding) for every chunk of every doc — the
    deterministic chunk->hash-embed front-end.  Guards the key ranges
    LOUDLY (a silently wrapped key would alias two chunks)."""
    from pyspec_spark.operators.text import chunk_tokens, feature_hash_vectors

    chunks = chunk_tokens(docs, chunk=chunk, stride=stride)
    bad = chunks.where(
        (F.col("chunk_id") >= F.lit(1 << _CHUNK_BITS))
        | (F.col("doc_id") < 0)
        | (F.col("doc_id") >= F.lit(1 << (63 - _CHUNK_BITS)))
    )
    if bad.limit(1).count() > 0:
        raise ValueError(
            "chunk key out of range: doc_id must be in [0, 2^43) and "
            f"chunk_id < 2^{_CHUNK_BITS}"
        )
    keyed = chunks.select(
        chunk_vec_id().alias("doc_id"),  # feature-hash id_col
        F.col("chunk_text").alias("text"),
    )
    return feature_hash_vectors(keyed, dim=dim).select(
        F.col("doc_id").alias("vec_id"), F.col("v").alias("embedding")
    )


def build_rag_index(
    spark: SparkSession,
    corpus_root: str,
    index_root: str,
    *,
    dim: int = 64,
    chunk: int = 32,
    stride: int = 24,
    m: int = 4,
    subd: int = 16,
    pq_k: int = 16,
    ivf_k: int = 8,
    version: int | None = None,
) -> dict:
    """Index version 0: chunk + embed the lake snapshot, train the
    deterministic first-K models, build the PQ pair, record the marker
    (corpus root, covered version, geometry).  Refuses an existing
    marker — extend or choose a new root."""
    from pyspec_spark.lake import lake_read, latest_version
    from pyspec_spark.operators.similarity import pq_codebooks_firstk_df
    from pyspec_spark.streaming.vectors import build_pq_lake

    if dim != m * subd:
        raise ValueError(f"dim must equal m*subd ({m}*{subd})")
    if read_rag_marker(index_root) is not None:
        raise ValueError(
            f"{index_root} already holds a RAG index — extend_rag_index "
            "or choose a new root"
        )
    v = latest_version(corpus_root) if version is None else version
    docs = lake_read(spark, corpus_root, version=v)
    vecs = _chunk_vectors(docs, dim, chunk, stride).persist()
    try:
        cb_rows = sorted(
            (int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in vecs.orderBy("vec_id").limit(ivf_k).collect()
        )
        pq = pq_codebooks_firstk_df(vecs, m=m, subd=subd, k=pq_k).collect()[0]
        cb = [pq[f"cb{mi}"] for mi in range(m)]
        build_pq_lake(spark, index_root, vecs, cb_rows, cb, m=m, subd=subd)
        n = vecs.count()
    finally:
        vecs.unpersist()
    _write_marker(
        index_root,
        {
            "corpus_root": os.path.abspath(corpus_root),
            "version": v,
            "dim": dim,
            "chunk": chunk,
            "stride": stride,
            "m": m,
            "subd": subd,
            "fetch_buckets": 8,
            "n_vectors": n,
        },
    )
    return {"version": v, "n_vectors": n}


def extend_rag_index(
    spark: SparkSession, corpus_root: str, index_root: str
) -> dict:
    """Consume the corpus lake's committed delta since the covered
    version: inserts chunk+embed+encode under the FROZEN models and
    append; deletes (and the delete half of updates) re-derive the
    doc's chunk keys from the OLD snapshot and CoW-delete them from
    both tables; updates then re-insert under the new content.  The
    marker advances to the new covered version."""
    from pyspec_spark.lake import lake_append, lake_diff, lake_read, latest_version
    from pyspec_spark.operators.similarity import pq_encode_df
    from pyspec_spark.streaming.vectors import (
        _CODES_DIR,
        _VB_COL,
        _VECS_DIR,
        _pq_cb_df,
        assign_cells,
        delete_vectors_pq,
        load_centroids,
        load_pq_codebooks,
    )

    mk = read_rag_marker(index_root)
    if mk is None:
        raise ValueError(f"no RAG marker under {index_root} — build first")
    v0 = int(mk["version"])
    v1 = latest_version(corpus_root)
    if v1 == v0:
        return {"version": v0, "inserted": 0, "deleted": 0}
    diff = lake_diff(spark, corpus_root, v0, v1, "doc_id").persist()
    try:
        del_ids = diff.where(
            F.col("change").isin("delete", "update")
        ).select("doc_id")
        ins_ids = diff.where(
            F.col("change").isin("insert", "update")
        ).select("doc_id")

        n_deleted = 0
        if del_ids.limit(1).count() > 0:
            from pyspec_spark.operators.text import chunk_tokens

            old_docs = lake_read(spark, corpus_root, version=v0).join(
                del_ids, "doc_id", "left_semi"
            )
            old_keys = (
                chunk_tokens(
                    old_docs, chunk=int(mk["chunk"]), stride=int(mk["stride"])
                )
                .select(chunk_vec_id().alias("vec_id"))
                .persist()
            )
            n_deleted = old_keys.count()
            delete_vectors_pq(spark, index_root, old_keys)
            old_keys.unpersist()

        n_inserted = 0
        if ins_ids.limit(1).count() > 0:
            new_docs = lake_read(spark, corpus_root, version=v1).join(
                ins_ids, "doc_id", "left_semi"
            )
            vecs = _chunk_vectors(
                new_docs, int(mk["dim"]), int(mk["chunk"]), int(mk["stride"])
            )
            # frozen coarse quantizer: (cids, matrix) -> codebook rows
            cids, mat = load_centroids(index_root)
            cb_rows = [
                (int(c), [float(x) for x in mat[i]])
                for i, c in enumerate(cids)
            ]
            m, subd, cb = load_pq_codebooks(index_root)
            cb_df = _pq_cb_df(spark, cb)
            assigned = assign_cells(vecs, cb_rows).persist()
            try:
                n_inserted = assigned.count()
                codes = pq_encode_df(
                    assigned, cb_df, m=m, subd=subd, keep_cols=("cid",)
                )
                lake_append(
                    spark,
                    os.path.join(index_root, _CODES_DIR),
                    codes,
                    partition_col="cid",
                    bloom_cols=["vec_id"],
                )
                fetch_buckets = int(mk.get("fetch_buckets", 8))
                vrows = assigned.select(
                    "vec_id", "embedding", "cid"
                ).withColumn(
                    _VB_COL,
                    F.pmod("vec_id", F.lit(int(fetch_buckets))).cast("int"),
                )
                lake_append(
                    spark,
                    os.path.join(index_root, _VECS_DIR),
                    vrows,
                    partition_col="cid",
                    bloom_cols=["vec_id"],
                )
            finally:
                assigned.unpersist()
    finally:
        diff.unpersist()

    mk["version"] = v1
    mk["n_vectors"] = int(mk.get("n_vectors", 0)) + n_inserted - n_deleted
    _write_marker(index_root, mk)
    return {"version": v1, "inserted": n_inserted, "deleted": n_deleted}


def rag_index_consistent(
    spark: SparkSession, corpus_root: str, index_root: str
) -> dict:
    """The auditor: re-derive the expected chunk-key set from the
    COVERED corpus snapshot and compare against the DISTINCT vec_ids
    actually present in each member table.  Zero missing + zero extra
    in both tables = index and corpus agree.  Also reports a pair
    mismatch (codes vs vecs diverging — a torn extension)."""
    from pyspec_spark.lake import lake_read
    from pyspec_spark.operators.text import chunk_tokens
    from pyspec_spark.streaming.vectors import _CODES_DIR, _VECS_DIR

    mk = read_rag_marker(index_root)
    if mk is None:
        raise ValueError(f"no RAG marker under {index_root}")
    docs = lake_read(spark, corpus_root, version=int(mk["version"]))
    expected = (
        chunk_tokens(docs, chunk=int(mk["chunk"]), stride=int(mk["stride"]))
        .select(chunk_vec_id().alias("vec_id"))
        .distinct()
        .persist()
    )
    try:
        out: dict = {"version": int(mk["version"])}
        sets = {}
        for name, sub in (("codes", _CODES_DIR), ("vecs", _VECS_DIR)):
            actual = (
                lake_read(spark, os.path.join(index_root, sub))
                .select("vec_id")
                .distinct()
                .persist()
            )
            try:
                missing = expected.join(actual, "vec_id", "left_anti").count()
                extra = actual.join(expected, "vec_id", "left_anti").count()
                n = actual.count()
            finally:
                actual.unpersist()
            out[name] = {"missing": missing, "extra": extra, "n": n}
            sets[name] = n
        out["pair_mismatch"] = sets["codes"] != sets["vecs"]
        out["consistent"] = (
            not out["pair_mismatch"]
            and all(
                out[t]["missing"] == 0 and out[t]["extra"] == 0
                for t in ("codes", "vecs")
            )
        )
        return out
    finally:
        expected.unpersist()
