"""Streaming vector-index ingestion (SURVEY.md §2 ST11, r7).

The production shape of "keep the ANN index fresh": embedding batches
land continuously (new crawl shards get embedded upstream), and each
micro-batch is assigned to its nearest frozen IVF centroid and appended
to a CELL-PARTITIONED snapshot lake.  Queries then probe only the
nprobe nearest cells — the manifest's per-file stats prune every other
cell's files before Spark opens anything, so lookup cost scales with
the probed fraction, not the corpus.

Design choices, and why they hold at 100 TB:

- **Frozen centroids.** The k x d centroid table is trained offline
  (q_kmeans2 / the IVF training sample) and treated as immutable index
  metadata — the standard IVF contract (FAISS-style): assignment drift
  from a moving codebook would silently invalidate every previously
  written cell.  Re-training = build a NEW index root, swap atomically.
  The table is tiny (k*d doubles), broadcast per batch, and persisted
  next to the manifest so the lookup path shares the exact same cells.
- **Exactly-once via the manifest watermark.** Appends go through
  lake_append_stream: the committed manifest carries
  stream_commits[query_name] = batch_id, so a restarted stream (or a
  racing replica) can never double-ingest a batch — the same guarantee
  the curation lake uses, re-verified here by the kill-and-restart
  test.
- **Map-only assignment.** The codebook is collected once per stream
  and folded into each batch's plan as literals; the per-vector argmin
  is array_min over k (dist, cid) structs — zero shuffle per batch, no
  state operator — the index IS the lake layout.
- **Cell-pruned lookup.** ivf_lookup ranks centroids driver-side
  (numpy over index metadata, not a Spark job), then scans only the
  nprobe winning cells via lake_scan's stats pruning (each cell file
  has cid min == max == cid) and re-ranks by exact cosine.  nprobe = k
  degrades gracefully to brute force over the whole lake.
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspec_spark.lake import (
    current_root,
    publish_root,
    root_history,
    vacuum_roots,
    write_new,
)

_CENTROIDS_FILE = "centroids.json"


def _sqdist(e_col, c_col):
    """JVM squared L2 distance of two array columns."""
    return F.aggregate(
        F.zip_with(
            e_col,
            c_col,
            lambda a, b: (a.cast("double") - b.cast("double"))
            * (a.cast("double") - b.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _codebook_rows(cents) -> list[tuple[int, list[float]]]:
    """Normalize a codebook to a sorted [(cid, vector)] list.  Accepts
    either a (cid, c) DataFrame (collected ONCE — callers on a hot path
    should do this themselves and pass the list) or an already-collected
    list."""
    if isinstance(cents, list):
        return sorted((int(c), [float(x) for x in v]) for c, v in cents)
    return sorted(
        (int(r["cid"]), [float(x) for x in r["c"]]) for r in cents.collect()
    )


# Above this k the literal-inlined plan gets expensive to ANALYZE (k*d
# expression nodes per batch); the broadcast-row form costs one tiny
# broadcast instead and keeps the plan O(1) in k.  Both are map-side.
# Measured (SCALING.md r8c, 20k x 64-dim batch, local[32], build+run):
# inline 2.1/20.9/91.1 s at k=8/256/1024 vs broadcast 1.1/2.4/8.5 s —
# the expression-tree analysis dominates well before k=64, so the
# threshold stays at the tiny-codebook end where the two are within
# noise and the inline plan is simplest to gate.
_INLINE_MAX_K = 8


def assign_cells(
    batch: DataFrame,
    cents,
    inline_max_k: int | None = None,
    keep_cols: tuple = (),
) -> DataFrame:
    """Nearest-centroid assignment, fully MAP-SIDE, two plan shapes:

    - k <= inline_max_k (default 8): the codebook folds into the plan
      as literals; per-vector argmin = array_min over k (dist, cid)
      structs — zero shuffle, zero join.
    - k > inline_max_k (r8): the codebook aggregates into ONE row
      holding an array<struct<cid, c>> which broadcast-crossJoins onto
      the batch; the argmin is array_min over a transform of that
      array.  Still ZERO shuffle of the batch (a 1-row broadcast is a
      metadata-sized exchange) and the plan stays O(1) in k — the
      shuffling crossJoin+groupBy form the r7 docstring named as the
      fallback is never needed.

    Both shapes use the identical (dist, cid) lexicographic argmin
    (deterministic lowest-cid tiebreak) and are equality-tested against
    each other.  ``cents`` is a (cid, c) DataFrame or a pre-collected
    [(cid, vector)] list.  Returns (vec_id, embedding, cid[, *keep]) —
    ``keep_cols`` (r12) rides metadata columns (labels, timestamps)
    through the assignment so a labeled ingest can cluster its cells
    at rest (the L5d second key)."""
    rows = _codebook_rows(cents)
    keep = list(keep_cols)
    limit = _INLINE_MAX_K if inline_max_k is None else inline_max_k
    if len(rows) <= limit:
        structs = []
        for cid, c in rows:
            clit = F.array(*[F.lit(x) for x in c])
            structs.append(
                F.struct(
                    _sqdist(F.col("embedding"), clit).alias("dist"),
                    F.lit(int(cid)).alias("cid"),
                )
            )
        best = F.array_min(F.array(*structs))
        return batch.select(
            "vec_id", "embedding", best.getField("cid").alias("cid"), *keep
        )
    spark = batch.sparkSession
    cb = spark.createDataFrame(
        [(rows,)], "cb ARRAY<STRUCT<cid: INT, c: ARRAY<DOUBLE>>>"
    )
    best = F.array_min(
        F.transform(
            F.col("cb"),
            lambda s: F.struct(
                _sqdist(F.col("embedding"), s.getField("c")).alias("dist"),
                s.getField("cid").alias("cid"),
            ),
        )
    )
    return batch.crossJoin(F.broadcast(cb)).select(
        "vec_id", "embedding", best.getField("cid").alias("cid"), *keep
    )


def save_centroids(root: str, cents) -> None:
    """Persist the frozen codebook next to the manifests (index
    metadata — k x d doubles, bounded by construction).  WRITE-ONCE:
    the frozen-codebook contract (module docstring) is enforced here —
    a restart passing a DIFFERENT codebook for the same root raises
    instead of silently stranding every already-written cell under a
    stale layout; re-training means a new index root."""
    rows = _codebook_rows(cents)
    payload = {"cids": [c for c, _ in rows], "c": [v for _, v in rows]}
    if _write_once(os.path.join(root, _CENTROIDS_FILE), payload):
        raise ValueError(
            f"index root {root} was built with a different codebook; "
            "re-training requires a NEW index root (frozen-centroid "
            "contract)"
        )


def _write_once(path: str, payload: dict) -> bool:
    """Publish a write-once metadata file with write_new; True when
    the path already holds a DIFFERENT payload (the caller raises).  A
    crash mid-write leaves only a temp file, never truncated JSON."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    try:
        write_new(path, json.dumps(payload))
        return False
    except FileExistsError:
        with open(path) as f:
            return json.load(f) != payload


def load_centroids(root: str) -> tuple[list[int], np.ndarray]:
    with open(os.path.join(root, _CENTROIDS_FILE)) as f:
        d = json.load(f)
    return d["cids"], np.asarray(d["c"], dtype=np.float64)


def index_to_lake(
    stream: DataFrame,
    spark: SparkSession,
    root: str,
    cents: DataFrame,
    checkpoint: str | None = None,
    query_name: str = "vec_index",
    cluster_col: str | None = None,
) -> None:
    """Ingest an embedding stream into a cid-partitioned snapshot lake,
    exactly once per batch (manifest watermark).  Blocks until the
    availableNow trigger drains.

    ``cluster_col`` (r12, the L5d streaming face): a metadata column
    of the stream (labels, languages) rides through the assignment
    (assign_cells keep_cols) and the lake splits each cell's files one
    per value, so filtered lookups against the STREAMED index prune at
    the file level exactly like the batch-built one."""
    from pyspec_spark.lake import lake_append_stream

    codebook = _codebook_rows(cents)  # ONE collect, reused every batch
    save_centroids(root, codebook)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        assigned = assign_cells(
            batch_df, codebook,
            keep_cols=(cluster_col,) if cluster_col else (),
        )
        lake_append_stream(
            spark, root, assigned, "cid", query_name, batch_id,
            cluster_col=cluster_col,
        )

    writer = stream.writeStream.foreachBatch(sink).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()


def ivf_lookup(
    spark: SparkSession,
    root: str,
    query_vec,
    k: int = 5,
    nprobe: int = 2,
    where: list | None = None,
) -> DataFrame:
    """Top-k by exact cosine over the nprobe cells nearest the query.
    Centroid ranking runs driver-side on index metadata (k x d — not a
    Spark job); only the probed cells' files are opened (manifest
    stats pruning on cid).

    ``where`` (r12, L5d) is a list of lake_scan predicates composed
    with the cell probe — PRE-filtering semantics: the predicate
    restricts the candidate set BEFORE the top-k, so a selective
    filter still returns k true matches (post-filtering a vector top-k
    under-returns, the classic filtered-ANN wrong answer).  When the
    lake was built with ``cluster_col`` on the filter column, the
    predicate prunes at the FILE level inside each probed cell (one
    file per (cid, value) — footer stats are points), so a filtered
    lookup opens only the matching slice of the probed cells."""
    from pyspec_spark.lake import lake_scan, latest_version

    cids, C = load_centroids(root)
    q = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.sqrt(q @ q))
    if qn == 0.0:
        raise ValueError("zero query vector has no nearest neighbors")
    order = np.argsort(((C - q) ** 2).sum(axis=1), kind="stable")
    probe = [cids[i] for i in order[: max(1, nprobe)]]

    # resolve the snapshot ONCE: per-cell scans each re-reading
    # latest_version would tear across a concurrent commit (cell A at
    # v, cell B at v+1 — a mixed-snapshot top-k)
    v = latest_version(root)
    parts = [
        lake_scan(
            spark, root,
            [("cid", "=", cid)] + list(where or []),
            version=v,
        )
        for cid in probe
    ]
    cand = parts[0]
    for p in parts[1:]:
        cand = cand.unionByName(p)

    qlit = F.array(*[F.lit(float(x)) for x in q])
    dot = F.aggregate(
        F.zip_with(
            F.col("embedding"), qlit, lambda a, b: a.cast("double") * b
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = F.sqrt(
        F.aggregate(
            F.transform(
                F.col("embedding"), lambda a: a.cast("double") * a.cast("double")
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    # zero-norm stored vectors score NaN through the division, and
    # Spark sorts NaN ABOVE every double — pin them to -inf instead so
    # they can never top a lookup
    score = F.when(
        nrm > 0, dot / (nrm * F.lit(qn))
    ).otherwise(F.lit(float("-inf")))
    return (
        cand.select("vec_id", "cid", score.alias("score"))
        .orderBy(F.desc("score"), "vec_id")
        .limit(k)
    )


def delete_vectors(
    spark: SparkSession,
    root: str,
    vec_ids: DataFrame,
) -> int:
    """Remove vectors from a built IVF index (r10 — the curation-
    deletion symmetry: the engine's own pipeline drops documents
    (dedup losers, quality fails, split repair), and their embeddings
    must leave the index too, without a retrain).

    Copy-on-write via lake_delete, the opposite design from the term
    index's merge-on-read tombstones (operators/text.py) — and the
    right one HERE: a cell file is a flat row set re-rankable by any
    reader, so rewriting the touched cells keeps ivf_lookup entirely
    filter-free (no per-row tombstone join on the query path, which
    serves online lookups), while the term index's value-encoded
    posting shards make rewrite expensive and probe-time filtering
    cheap.  Cost scales with the TOUCHED cells only: lake_delete
    semi-joins the ids to find affected cids, carries every other
    cell's files by reference, and rewrites just the survivors.

    The pre-delete snapshot stays readable (lake version pinning)
    until lake_vacuum — the audit-trail window a right-to-be-forgotten
    pipeline wants, with vacuum as the actual forget step.  The frozen
    codebook is untouched: deletion never moves a centroid, so all
    remaining assignments stay valid (cells may thin out; re-balance
    is reindex + publish, the existing lifecycle).  Returns the new
    snapshot version."""
    from pyspec_spark.lake import lake_delete

    return lake_delete(
        spark, root, vec_ids.select("vec_id"), key="vec_id",
        partition_col="cid", bloom_cols=["vec_id"],
    )


# ---------------------------------------------------------------------------
# Re-train + atomic swap — the other half of the frozen-codebook
# contract the module docstring prescribes: assignment drift from a
# moving codebook silently invalidates every written cell, so
# re-training builds a NEW index root and PUBLISHES it through the
# CURRENT-pointer lifecycle in lake.py (publish_root and siblings; a
# root is any directory holding a codebook).
# ---------------------------------------------------------------------------
def _is_vector_root(root: str) -> bool:
    return os.path.exists(os.path.join(root, _CENTROIDS_FILE))


def publish_index(base: str, root: str) -> None:
    """Atomically point base/CURRENT at a built index root (which must
    hold a codebook) and append it to base/HISTORY."""
    publish_root(base, root, _is_vector_root, "codebook-bearing index")


current_index = current_root
index_history = root_history


def vacuum_indexes(
    base: str, keep: int = 1, retention_seconds: float = 3600.0
) -> list[str]:
    """Reclaim superseded and aged orphan index roots under ``base``
    (lake.vacuum_roots); returns the deleted root paths."""
    return vacuum_roots(base, _is_vector_root, keep, retention_seconds)


def reindex(
    spark: SparkSession,
    old_root: str,
    new_root: str,
    new_cents,
) -> int:
    """Rebuild an index under a NEW codebook: batch-read the old lake's
    current snapshot, re-assign every vector map-side against the new
    frozen centroids, and commit the cid-partitioned layout into
    ``new_root`` (one lake version).  Returns the committed version.
    The caller publishes with publish_index when ready — readers of the
    old root are never disturbed (separate manifests, separate files).

    100 TB posture: ONE scan of the stored vectors + the partitioned
    write — the same cost as the original ingest; assignment stays
    map-side (broadcast-row codebook above the inline threshold)."""
    from pyspec_spark.lake import lake_append, lake_read

    codebook = _codebook_rows(new_cents)
    save_centroids(new_root, codebook)
    vecs = lake_read(spark, old_root).select("vec_id", "embedding")
    assigned = assign_cells(vecs, codebook)
    return lake_append(spark, new_root, assigned, partition_col="cid")


# ---------------------------------------------------------------------------
# L5e (r13) — PQ-coded maintained vector lake: the production IVFADC
# layout (Jégou et al. 2011 §IV) composed with the snapshot-lake index
# lifecycle above.  SCALING r12a proved bytes-opened is the bill at
# scale; until now the maintained lake stored RAW float vectors and
# every probed cell's full vectors were read per lookup.  The PQ lake
# splits the at-rest layout in two sibling tables under one root:
#
# - ``root/codes``  — cid-partitioned (vec_id, cid, code0..code{m-1});
#   the HOT path.  An ADC lookup scans only the probed cells' code
#   files: d*4/m-times smaller than the vectors (64 floats -> 4 bytes
#   of codes at the default geometry).
# - ``root/vecs``   — cid-partitioned raw vectors, CLUSTERED by a
#   fetch bucket (vb = vec_id % fetch_buckets) with vec_id blooms; the
#   COLD path, read only to exact-re-rank the ADC shortlist.  The
#   shortlist fetch goes through lake_scan_in (bloom + point-stats
#   pruning per id), so raw-vector bytes are bounded by the
#   SHORTLIST's bloom matches, never the probed cells' population.
#
# Both models (IVF centroids, PQ codebooks) are frozen write-once
# index metadata persisted next to the manifests — the same contract
# as save_centroids; re-training is a new root + publish_index.
# Deletes (ST11c) apply copy-on-write to BOTH tables in lockstep;
# cluster_col (S6e) composes on the codes table so a filtered lookup
# prunes code files inside each probed cell.
# ---------------------------------------------------------------------------
_PQ_FILE = "pq_codebooks.json"
_CODES_DIR = "codes"
_VECS_DIR = "vecs"
_VB_COL = "vb"


def save_pq_codebooks(root: str, m: int, subd: int, cb) -> None:
    """Persist the frozen per-subspace PQ codebooks (m lists of K
    codewords, each ``subd`` doubles) next to the centroids.  WRITE-
    ONCE like save_centroids: codes at rest are only decodable against
    the codebooks that produced them, so a restart with different
    codebooks must raise, never silently strand the cells."""
    payload = {
        "m": int(m),
        "subd": int(subd),
        "cb": [[[float(x) for x in w] for w in sub] for sub in cb],
    }
    if _write_once(os.path.join(root, _PQ_FILE), payload):
        raise ValueError(
            f"index root {root} was built with different PQ "
            "codebooks; re-training requires a NEW index root "
            "(frozen-codebook contract)"
        )


def load_pq_codebooks(root: str) -> tuple[int, int, list]:
    with open(os.path.join(root, _PQ_FILE)) as f:
        d = json.load(f)
    return d["m"], d["subd"], d["cb"]


def _pq_cb_df(spark: SparkSession, cb) -> DataFrame:
    """Reconstruct the 1-row codebook frame pq_encode_df/ADC expect
    from the persisted nested lists (JSON round-trips doubles exactly,
    so the rebuilt plan is bit-identical to the build-time one)."""
    schema = ", ".join(
        f"cb{mi} ARRAY<ARRAY<DOUBLE>>" for mi in range(len(cb))
    )
    return spark.createDataFrame([tuple(cb)], schema)


def _micro_sqdist(a, b) -> int:
    """Integer micro-unit squared distance (per-element ROUND(t*1e6)
    then an order-free integer sum) — the exact driver-side replay of
    the oracle's probe chain; squares are non-negative so HALF_UP is
    the simple +0.5 floor."""
    tot = 0
    for x, y in zip(a, b):
        t = (float(x) - float(y)) * (float(x) - float(y)) * 1e6
        tot += int(t + 0.5)
    return tot


def probe_cells(root: str, query_vec, nprobe: int) -> list[int]:
    """Rank the frozen centroids against the query driver-side (index
    metadata, not a Spark job) in integer micro-units with the
    lowest-cid tiebreak; return the nprobe winning cids."""
    cids, C = load_centroids(root)
    q = [float(x) for x in query_vec]
    scored = sorted(
        (_micro_sqdist([float(v) for v in C[i]], q), int(cids[i]))
        for i in range(len(cids))
    )
    return [cid for _, cid in scored[: max(1, nprobe)]]


def build_pq_lake(
    spark: SparkSession,
    root: str,
    emb: DataFrame,
    cents,
    cb,
    m: int = 4,
    subd: int = 16,
    fetch_buckets: int = 8,
    cluster_col: str | None = None,
) -> tuple[int, int]:
    """Batch build of the PQ index pair: assign cells map-side, encode
    map-side (broadcast codebook argmin — no shuffle), commit codes
    and raw vectors as two lockstep snapshots.  ``cluster_col`` (a
    metadata column of ``emb``) clusters the CODES files inside each
    cell so filtered lookups prune at the file level (S6e).  Returns
    (codes_version, vecs_version)."""
    from pyspec_spark.lake import lake_append
    from pyspec_spark.operators.similarity import pq_encode_df

    codebook = _codebook_rows(cents)
    save_centroids(root, codebook)
    save_pq_codebooks(root, m, subd, cb)
    cb_df = _pq_cb_df(spark, cb)
    keep = (cluster_col,) if cluster_col else ()
    assigned = assign_cells(emb, codebook, keep_cols=keep)
    codes = pq_encode_df(
        assigned, cb_df, m=m, subd=subd, keep_cols=("cid",) + keep
    )
    v1 = lake_append(
        spark, os.path.join(root, _CODES_DIR), codes,
        partition_col="cid", bloom_cols=["vec_id"], cluster_col=cluster_col,
    )
    vecs = assigned.select("vec_id", "embedding", "cid").withColumn(
        _VB_COL, F.pmod("vec_id", F.lit(int(fetch_buckets))).cast("int")
    )
    v2 = lake_append(
        spark, os.path.join(root, _VECS_DIR), vecs,
        partition_col="cid", bloom_cols=["vec_id"], cluster_col=_VB_COL,
    )
    return v1, v2


def index_to_lake_pq(
    stream: DataFrame,
    spark: SparkSession,
    root: str,
    cents,
    cb,
    m: int = 4,
    subd: int = 16,
    checkpoint: str | None = None,
    query_name: str = "vec_index_pq",
    fetch_buckets: int = 8,
    cluster_col: str | None = None,
) -> None:
    """Streaming twin of build_pq_lake: each micro-batch is assigned,
    encoded, and appended to BOTH tables exactly once (per-table
    manifest watermark — a crash between the two appends replays the
    batch, the codes table skips at its watermark, the vecs table
    commits; the pair re-converges without double rows).  Blocks until
    the availableNow trigger drains."""
    from pyspec_spark.lake import lake_append_stream
    from pyspec_spark.operators.similarity import pq_encode_df

    codebook = _codebook_rows(cents)
    save_centroids(root, codebook)
    save_pq_codebooks(root, m, subd, cb)
    cb_df = _pq_cb_df(spark, cb)
    codes_root = os.path.join(root, _CODES_DIR)
    vecs_root = os.path.join(root, _VECS_DIR)
    keep = (cluster_col,) if cluster_col else ()

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        assigned = assign_cells(batch_df, codebook, keep_cols=keep)
        codes = pq_encode_df(
            assigned, cb_df, m=m, subd=subd, keep_cols=("cid",) + keep
        )
        lake_append_stream(
            spark, codes_root, codes, "cid", query_name, batch_id,
            bloom_cols=["vec_id"], cluster_col=cluster_col,
        )
        vecs = assigned.select("vec_id", "embedding", "cid").withColumn(
            _VB_COL, F.pmod("vec_id", F.lit(int(fetch_buckets))).cast("int")
        )
        lake_append_stream(
            spark, vecs_root, vecs, "cid", query_name, batch_id,
            bloom_cols=["vec_id"], cluster_col=_VB_COL,
        )

    writer = stream.writeStream.foreachBatch(sink).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()


def delete_vectors_pq(
    spark: SparkSession, root: str, vec_ids: DataFrame
) -> tuple[int, int]:
    """ST11c over the PQ pair: copy-on-write delete from BOTH tables
    (codes first — a reader between the two commits can shortlist a
    just-deleted id, but the fetch re-applies the id filter against
    the vecs snapshot it reads, so the row vanishes from results as
    soon as the second commit lands; no torn state survives).  The
    clustered layouts (cluster_col on codes, the vb fetch bucket on
    vecs) are preserved by lake_delete's rewrite.  Returns the two new
    versions."""
    from pyspec_spark.lake import lake_delete

    ids = vec_ids.select("vec_id")
    v1 = lake_delete(
        spark, os.path.join(root, _CODES_DIR), ids, key="vec_id",
        partition_col="cid", bloom_cols=["vec_id"],
    )
    v2 = lake_delete(
        spark, os.path.join(root, _VECS_DIR), ids, key="vec_id",
        partition_col="cid", bloom_cols=["vec_id"],
    )
    return v1, v2


def reindex_pq(
    spark: SparkSession,
    old_root: str,
    new_root: str,
    new_cents,
    new_cb,
    m: int = 4,
    subd: int = 16,
    fetch_buckets: int = 8,
    cluster_col: str | None = None,
) -> tuple[int, int]:
    """Re-train the PQ pair under NEW frozen models (centroids and/or
    codebooks): batch-read the old pair's CURRENT raw vectors (the
    codes are derived data — never read for a retrain), re-assign and
    re-encode map-side, commit a fresh pair under ``new_root``.  The
    caller publishes with publish_index; readers of the old root are
    never disturbed, and vacuum_indexes reclaims it once superseded —
    the same lifecycle as the raw IVF index (reindex).  Cost: ONE scan
    of the stored vectors + the two partitioned writes — the same as
    the original ingest."""
    from pyspec_spark.lake import lake_read

    vecs = lake_read(spark, os.path.join(old_root, _VECS_DIR)).select(
        "vec_id", "embedding"
    )
    return build_pq_lake(
        spark, new_root, vecs, new_cents, new_cb, m=m, subd=subd,
        fetch_buckets=fetch_buckets, cluster_col=cluster_col,
    )


def pq_lookup(
    spark: SparkSession,
    root: str,
    query_vec,
    k: int = 10,
    nprobe: int = 2,
    shortlist: int = 64,
    where: list | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """IVFADC serve over the maintained PQ lake: probe nprobe cells
    driver-side, ADC-score ONLY the probed cells' code files (LUT =
    one broadcast row built from the persisted codebooks — the scan
    never touches a float vector), take the ``shortlist`` best by
    (rounded ADC, vec_id), then exact-re-rank in integer micro-unit
    dot products reading raw vectors for the SHORTLIST ONLY
    (lake_scan_in: vec_id blooms + vb point stats bound the files
    opened by the shortlist, not the cells).

    ``where`` composes extra codes-table predicates with the cell
    probe — PRE-filtering semantics (L5d): candidates are restricted
    BEFORE the shortlist, so a selective filter still returns k true
    matches; on a cluster_col codes table the predicate prunes files
    inside each probed cell.

    n_cand (the pre-filter witness) is a 1-row count aggregate
    broadcast-cross-joined (never a global window).  The shortlist
    collect is bounded by ``shortlist`` by construction — the k-row
    codebook-bootstrap class, not a corpus read.  Returns
    (vec_id, cid, dot_micro, n_cand) — deterministic under the _VIX
    micro-unit discipline, replayable in SQL."""
    from pyspec_spark.functions.determinism import _fixed6
    from pyspec_spark.lake import lake_scan, lake_scan_in, latest_version
    from pyspec_spark.operators.similarity import _pq_subdist

    m, subd, cb = load_pq_codebooks(root)
    q = [float(x) for x in query_vec]
    probe = probe_cells(root, q, nprobe)
    codes_root = os.path.join(root, _CODES_DIR)
    vecs_root = os.path.join(root, _VECS_DIR)

    vc = latest_version(codes_root)
    parts = [
        lake_scan(
            spark, codes_root, [("cid", "=", cid)] + list(where or []),
            version=vc,
        )
        for cid in probe
    ]
    cand = parts[0]
    for p in parts[1:]:
        cand = cand.unionByName(p)

    qlit = F.array(*[F.lit(x) for x in q])
    cb_df = _pq_cb_df(spark, cb)

    def lut_fn(off):
        def fn(c):
            return _pq_subdist(qlit, c, off, subd)

        return fn

    lut_row = cb_df.select(
        *[
            F.transform(F.col(f"cb{mi}"), lut_fn(mi * subd)).alias(
                f"lut{mi}"
            )
            for mi in range(m)
        ]
    )
    adc = None
    for mi in range(m):
        t = F.element_at(F.col(f"lut{mi}"), F.col(f"code{mi}") + 1)
        adc = t if adc is None else adc + t
    adc = F.round(adc, round_digits)

    n_cand = cand.agg(F.count("*").alias("n_cand"))
    short = (
        cand.crossJoin(F.broadcast(lut_row))
        .select("vec_id", "cid", adc.alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(shortlist)
    )
    rows = short.collect()  # bounded by `shortlist` by construction
    if not rows:
        return spark.createDataFrame(
            [], "vec_id BIGINT, cid INT, dot_micro BIGINT, n_cand BIGINT"
        )
    ids = [int(r["vec_id"]) for r in rows]

    fetched = lake_scan_in(
        spark, vecs_root, [("vec_id", ids), ("cid", probe)]
    )
    dot_micro = F.aggregate(
        F.zip_with("embedding", qlit, lambda a, b: a.cast("double") * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + _fixed6(x),
    )
    return (
        fetched.select(
            "vec_id", F.col("cid").cast("int").alias("cid"),
            dot_micro.alias("dot_micro"),
        )
        .crossJoin(F.broadcast(n_cand))
        .orderBy(F.desc("dot_micro"), "vec_id")
        .limit(k)
    )


def pq_batch_lookup(
    spark: SparkSession,
    root: str,
    queries: list,
    k: int = 10,
    nprobe: int = 2,
    shortlist: int = 32,
    where: list | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """Batch IVFADC serve (the L40i batch-retrieval shape for vectors):
    MANY query vectors answered in ONE pass over the lake — the
    offline-retrieval / hard-negative-mining access pattern, where a
    per-query loop would re-open the same cell files |queries| times.

    ``queries`` is a bounded [(qid, vector)] list (the input IS the
    batch — collected by the caller, like every probe vector in the
    repo).  Plan shape, all qid-keyed and scale-safe:

    - probe per query driver-side (index metadata); the UNION of
      probed cells is scanned ONCE; a broadcast (qid, cid) pair table
      fans candidate rows out to the queries probing their cell — a
      row in a cell probed by q queries is scored q times, never
      re-read;
    - per-query LUTs ride ONE broadcast table (qid, lut0..lut{m-1});
      ADC is the same fixed-order element_at sum;
    - per-query shortlist via a qid-PARTITIONED row_number window
      (hash-partitioned — the global-funnel window this module bans
      has a partition key here);
    - one bloom-pruned fetch of the UNION of shortlists
      (lake_scan_in), then the exact micro-unit re-rank and a
      qid-partitioned top-k.

    Returns (qid, vec_id, cid, dot_micro, n_cand) with n_cand the
    per-qid candidate count (the pre-filter witness, computed as a
    qid-keyed aggregate — bounded by |queries| rows)."""
    from pyspark.sql import Window
    from pyspec_spark.functions.determinism import _fixed6
    from pyspec_spark.lake import lake_scan, lake_scan_in, latest_version
    from pyspec_spark.operators.similarity import _pq_subdist

    m, subd, cb = load_pq_codebooks(root)
    qlist = [(int(qid), [float(x) for x in vec]) for qid, vec in queries]
    if not qlist:
        return spark.createDataFrame(
            [],
            "qid BIGINT, vec_id BIGINT, cid INT, dot_micro BIGINT, "
            "n_cand BIGINT",
        )
    codes_root = os.path.join(root, _CODES_DIR)
    vecs_root = os.path.join(root, _VECS_DIR)

    probe_of = {
        qid: probe_cells(root, vec, nprobe) for qid, vec in qlist
    }
    union_cells = sorted({c for p in probe_of.values() for c in p})
    vc = latest_version(codes_root)
    parts = [
        lake_scan(
            spark, codes_root, [("cid", "=", cid)] + list(where or []),
            version=vc,
        )
        for cid in union_cells
    ]
    cells = parts[0]
    for p in parts[1:]:
        cells = cells.unionByName(p)

    # fan candidate rows out to the queries probing their cell
    pairs = spark.createDataFrame(
        [(qid, cid) for qid, cs in probe_of.items() for cid in cs],
        "qid BIGINT, cid INT",
    )
    cand = cells.join(F.broadcast(pairs), "cid")

    # one LUT row per query, computed in ONE plan node: the (qid, qv)
    # table crossJoins the broadcast codebook and the per-subspace
    # chains run over the qv COLUMN — a per-query union loop would
    # build O(|queries|) plan nodes for the same values
    cb_df = _pq_cb_df(spark, cb)
    qv_df = spark.createDataFrame(
        [(qid, vec) for qid, vec in qlist],
        "qid BIGINT, qv ARRAY<DOUBLE>",
    )

    def lut_fn(off):
        def fn(c):
            return _pq_subdist(F.col("qv"), c, off, subd)

        return fn

    lut_rows = qv_df.crossJoin(F.broadcast(cb_df)).select(
        "qid",
        *[
            F.transform(F.col(f"cb{mi}"), lut_fn(mi * subd)).alias(
                f"lut{mi}"
            )
            for mi in range(m)
        ],
    )

    adc = None
    for mi in range(m):
        t = F.element_at(F.col(f"lut{mi}"), F.col(f"code{mi}") + 1)
        adc = t if adc is None else adc + t
    adc = F.round(adc, round_digits)

    n_cand = cand.groupBy("qid").agg(F.count("*").alias("n_cand"))
    w = Window.partitionBy("qid").orderBy("adc_dist", "vec_id")
    short = (
        cand.join(F.broadcast(lut_rows), "qid")
        .select("qid", "vec_id", "cid", adc.alias("adc_dist"))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= shortlist)
        .drop("_rn", "adc_dist")
    )
    srows = short.collect()  # bounded: |queries| * shortlist
    if not srows:
        return spark.createDataFrame(
            [],
            "qid BIGINT, vec_id BIGINT, cid INT, dot_micro BIGINT, "
            "n_cand BIGINT",
        )
    ids = sorted({int(r["vec_id"]) for r in srows})
    fetched = lake_scan_in(
        spark, vecs_root, [("vec_id", ids), ("cid", union_cells)]
    ).select("vec_id", "embedding")

    pick = spark.createDataFrame(
        [(int(r["qid"]), int(r["vec_id"]), int(r["cid"])) for r in srows],
        "qid BIGINT, vec_id BIGINT, cid INT",
    )
    qv_rows = qv_df

    dot_micro = F.aggregate(
        F.zip_with("embedding", F.col("qv"), lambda a, b: a.cast("double") * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + _fixed6(x),
    )
    wk = Window.partitionBy("qid").orderBy(
        F.desc("dot_micro"), "vec_id"
    )
    return (
        fetched.join(F.broadcast(pick), "vec_id")
        .join(F.broadcast(qv_rows), "qid")
        .select(
            "qid", "vec_id", F.col("cid").cast("int").alias("cid"),
            dot_micro.alias("dot_micro"),
        )
        .withColumn("_rn", F.row_number().over(wk))
        .where(F.col("_rn") <= k)
        .drop("_rn")
        .join(F.broadcast(n_cand), "qid")
        .select("qid", "vec_id", "cid", "dot_micro", "n_cand")
        .orderBy("qid", F.desc("dot_micro"), "vec_id")
    )
