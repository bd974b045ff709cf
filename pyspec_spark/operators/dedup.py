"""Near-duplicate detection operators — SURVEY.md §2.12 L1/L2 and the
north-star training-data-pipeline brief (MinHash+LSH, SimHash).

All signature computation stays JVM-side via higher-order functions over
the token/shingle arrays.  The hash basis is ``md5`` (salted by
concatenation): md5 hex strings are bit-identical across engines (DuckDB
produces the same digests), which makes the FULL MinHash-LSH pipeline —
signatures, band buckets, candidate pairs, estimated Jaccard —
deterministic and oracle-checkable, not just unit-testable.  Min over
hex strings is a valid uniform min-hash (lexicographic order on a
uniformly-distributed digest is a uniform random order of shingles).
No Python in the hot path.  The only shuffles are the band-bucket join
(MinHash) / band-prefix join (SimHash), which is the textbook
inverted-index LSH plan:

  shingle -> n minhashes (map-only) -> explode b bands -> groupBy
  (band, hash) buckets -> within-bucket pairs -> verify.

Scale notes: band buckets are the skew risk (a degenerate band value
collecting millions of docs); `max_bucket` caps verification fan-out the
same way the Jaccard query caps shingle document-frequency.  Verification
of candidates re-estimates similarity from the full signatures (cheap,
already materialized) rather than re-reading text.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspec_spark.tables import input_bytes


def tokenize(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("_toks", F.split(F.col(text_col), " "))


def shingles(df: DataFrame, text_col: str = "text", k: int = 2) -> DataFrame:
    """Distinct token k-gram shingles as an array column (map-only).

    A document with fewer than ``k`` tokens has NO k-shingles: the guard
    emits an empty array rather than a truncated partial shingle (which
    concat_ws would otherwise fabricate by skipping the out-of-bounds
    null tokens) — keeping Spark and the DuckDB oracle replay identical
    for sub-k documents.

    Built as a zip_with chain over k aligned slices, NEVER as
    ``element_at(toks, i + j)`` inside a transform lambda: Catalyst
    inlines the ``split()`` expression into every element_at reference,
    re-parsing the text once per shingle position per lambda — the
    quality.py/text.py HOF trap.  The zip_with form references the
    split a constant 2(k-1)+1 times, keeping the build linear (this
    single change plus the aggregation-side signature rewrite took the
    full minhash cold re-execution from ~150 s to seconds at sf0.1).
    When size(toks) >= k every slice has exactly size-k+1 elements, so
    zip_with never pads; the guard covers the rest.

    r13: the chain is emitted as ONE parsed-SQL expression (the
    queries/curation._replicate_copies plan-construction note) — the
    former per-Column construction was ~30 py4j round-trips per
    consumer at ~0.4-0.65 ms each; same operators, same values."""
    toks = f"split({text_col}, ' ')"
    n_sh = f"greatest(size({toks}) - {k - 1}, 1)"
    sh = f"slice({toks}, 1, {n_sh})"
    for j in range(1, k):
        sh = (
            f"zip_with({sh}, slice({toks}, {j + 1}, {n_sh}),"
            " (a, b) -> concat_ws(' ', a, b))"
        )
    guarded = (
        f"CASE WHEN size({toks}) >= {k} THEN array_distinct({sh})"
        " ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    return df.withColumn("_shingles", F.expr(guarded))


# Broadcast budget for the distinct-shingle hash table.  The table's
# built size is ~n_hashes * 48 bytes per DISTINCT shingle (64 boxed
# 32-hex-char UTF8Strings per row), so it is VOCABULARY-bounded, not
# corpus-bounded — but vocabulary grows with corpus bytes (Heaps), and
# an explicit broadcast() hint is exempt from AQE demotion, so past
# some input size the hint must be dropped, not demoted at runtime.
# The gate is driver-side and job-free: tables.input_bytes (the frame's
# input file sizes) vs this threshold, with an unestimable input
# (remote, in-memory) taking the shuffled arm.  4 MB of compressed
# parquet gives ~7x headroom over the bench corpus (594 KB -> 931
# distinct shingles -> ~2.9 MB built table) while even an adversarial
# all-unique-token corpus at the threshold stays bounded (~4 MB/6
# B/token * 3.1 KB/row ~ low GB, never the 100 TB regime); real
# corpora flip to the shuffled-hash arm long before the table could
# approach executor memory.  The non-broadcast arm pins the BUILD SIDE
# via a SHUFFLE_HASH hint on the hash table — left to its estimates
# the planner inverted the join (broadcast the corpus-sized pair side,
# serializing the downstream aggregation onto one AQE-coalesced task;
# measured 10.6 s at sf0.1) — and stays a shingle-keyed equi-join
# whose skew AQE splits.
_BCAST_HASHES_MAX_INPUT_BYTES = 4 * 1024 * 1024


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 64,
    shingle_k: int = 2,
) -> DataFrame:
    """(id, sig ARRAY<STRING>[n_hashes]) via explode + n_hashes min
    aggregates — one shuffle of per-doc partial signatures.

    sig[i] = min over shingles of md5(shingle || '#' || i); the salt is
    folded in by concatenation.  md5 hex digests are engine-portable, so
    the signatures (and everything derived from them) hash-match DuckDB.

    Shape rationale: the obvious map-only form —
    transform(sequence(0, n-1), i -> array_min(transform(shingles, s ->
    md5(...)))) — re-evaluates the entire shingle build once per salt
    (Catalyst inlines the array expression into the outer lambda), and
    the nested lambdas run interpreted, not codegen: measured ~150 s
    for a full re-execution at sf0.1.  Exploding the shingles through a
    Generate barrier and taking n_hashes min() aggregates keeps every
    md5 in whole-stage codegen and evaluates the shingle build once per
    document: ~1 s for the same work.  The groupBy(id) shuffle carries
    only map-side partial signatures (n_docs x n_hashes x 32 hex chars
    per partition), far below corpus bytes — scale-safe.

    Hashes are computed once per DISTINCT shingle (optimization guide
    §1.2 "don't compute things you throw away"): the salted digests
    are a function of the shingle alone, and at sf0.1 the 256 477
    (doc, shingle) pairs cover only 931 distinct shingles.  The hashes
    are attached back to the pairs by an equi-join on the shingle
    before the per-doc min aggregation, so every md5 input — and every
    signature — is the same as in the per-pair form.  The hash table
    costs one aggregation exchange of the (shingle) partials.

    The join strategy is size-gated on the input's estimated on-disk
    bytes (`_BCAST_HASHES_MAX_INPUT_BYTES` — rationale and
    measurements above): small file inputs pin ``broadcast(hashed)``
    (an unhinted plan inverts the join, see the constant's note);
    large, remote or in-memory inputs pin the hash table as the
    SHUFFLE_HASH build side of a shingle-keyed equi-join — no
    driver/executor broadcast of a vocabulary-sized table, and AQE
    splits hot-shingle skew (a hot shingle is bounded by its document
    frequency, the same quantity the Jaccard path caps).  Both arms
    are the same equi-join on the same inputs, so results cannot move.
    """
    with_sh = shingles(df, text_col, shingle_k)
    # Sub-k-token docs have no shingles and therefore no signature: the
    # plain (inner) explode drops them so they can never surface as
    # degenerate near-dup pairs.
    ex = with_sh.selectExpr(f"{id_col} AS id", "explode(_shingles) AS _sh")
    # The three n_hashes-wide expression groups are built as parsed SQL
    # strings (F.expr), not per-element Column calls: each F.md5/F.min/
    # F.col round-trips the py4j socket (~0.7 ms), so the builder spent
    # ~0.9 s of DRIVER time per plan construction on ~450 round-trips —
    # time the bench's cold re-execution pays on every rebuild.  The
    # parser yields the identical analyzed expressions (md5's implicit
    # binary cast included), so plans and results are unchanged; the
    # construction is 3 round-trips + 64 for the aggregate list.
    hashed = ex.select("_sh").distinct().select(
        "_sh",
        F.expr(
            "array({})".format(
                ",".join(
                    f"md5(concat(_sh, '#{i}'))" for i in range(n_hashes)
                )
            )
        ).alias("_hs"),
    )
    sig = F.expr(
        "array({}) AS sig".format(
            ",".join(f"min(_hs[{i}])" for i in range(n_hashes))
        )
    )
    nbytes = input_bytes(df)
    small = nbytes is not None and nbytes <= _BCAST_HASHES_MAX_INPUT_BYTES
    build = F.broadcast(hashed) if small else hashed.hint("SHUFFLE_HASH")
    return ex.join(build, "_sh").groupBy("id").agg(sig)


def band_hashes_from_sigs(
    sigs: DataFrame, bands: int, n_hashes: int, id_col: str = "id"
) -> DataFrame:
    """(id, band, band_hash) from a signature-array table — THE single
    definition of the banding scheme: band b's hash =
    md5(concat_ws(',', sig[b*r+1 .. b*r+r])), r = n_hashes/bands.
    Shared by lsh_candidates, the declared q_neardup_owner, and (as the
    value-equality target of its twin test) the streaming
    band_hashes_stateless — one spelling, no drift (r6 review)."""
    r = n_hashes // bands
    # r13: one parsed-SQL generator expression (same plan, fewer py4j
    # round-trips — see minhash_signatures' note)
    return sigs.selectExpr(
        f"{id_col} AS id",
        f"posexplode(transform(sequence(0, {bands - 1}),"
        f" b -> md5(concat_ws(',', slice(sig, b * {r} + 1, {r})))))"
        " AS (band, band_hash)",
    )


def lsh_candidates(
    sigs: DataFrame, bands: int = 16, max_bucket: int = 1000, n_hashes: int = 64
) -> DataFrame:
    """Candidate pairs from banded LSH over the signatures.

    rows_per_band = n_hashes / bands; a pair is a candidate if any band's
    sub-signature hashes equal.  `max_bucket` drops degenerate buckets
    (hot-key mitigation at scale).  `n_hashes` must match the signature
    width and divide evenly into `bands` — taking it as a parameter keeps
    plan construction job-free (no driver-side first() probe).  A runtime
    guard raises on any row whose signature width differs from `n_hashes`:
    without it, a narrower real signature would band only a prefix, and a
    wider `n_hashes` would slice past the array end, making every band
    hash md5('') — i.e. every doc pair a candidate.
    """
    if n_hashes % bands != 0:
        raise ValueError(
            f"n_hashes={n_hashes} must be divisible by bands={bands}; "
            "a remainder would silently drop trailing signature positions"
        )
    r = n_hashes // bands
    # r13 (second pass): guard as one parsed expression (same CASE/
    # raise_error tree; see minhash_signatures' note)
    sigs = sigs.withColumn(
        "sig",
        F.expr(
            f"CASE WHEN size(sig) = {n_hashes} THEN sig"
            " ELSE raise_error(concat('lsh_candidates: signature width ',"
            f" CAST(size(sig) AS STRING), ' != n_hashes={n_hashes}')) END"
        ),
    )
    banded = band_hashes_from_sigs(sigs, bands, n_hashes)
    sized = banded.groupBy("band", "band_hash").agg(
        F.expr("collect_list(id)").alias("ids"), F.count("*").alias("n")
    )
    ok = sized.where(f"n > 1 AND n <= {max_bucket}")
    a = ok.selectExpr("band", "band_hash", "explode(ids) AS id_a")
    b = ok.selectExpr("band", "band_hash", "explode(ids) AS id_b")
    return (
        a.join(b, ["band", "band_hash"])
        .where("id_a < id_b")
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_neardup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 2,
    threshold: float = 0.5,
    pre_partition: int | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup: candidates + signature-estimated
    Jaccard >= threshold.  Output: (id_a, id_b, est_jaccard).

    ``pre_partition``: optional repartition(n, id_col) of the raw text
    before signature computation.  The md5 work happens in the scan
    stage's map side; a single-file local input gives it one task.  Set
    to local parallelism when the input has fewer partitions than
    cores (the declared query does); leave None on a real cluster,
    where the corpus scan already has ample partitions and an up-front
    full-text shuffle would be pure cost."""
    if pre_partition:
        df = df.repartition(pre_partition, id_col)
    # Tracked persist: the signature table feeds three consumers
    # (candidates + both verify join sides).  The tag is unique per
    # call, so track_persist's one-frame-per-name eviction never fires
    # here: every call's frame stays cached until a caller drains the
    # registry with release_persisted().
    from pyspec_spark.registry import PERSIST_SEQ, track_persist

    sigs = track_persist(
        df.sparkSession,
        f"minhash_neardup#sigs#{next(PERSIST_SEQ)}",
        minhash_signatures(df, id_col, text_col, n_hashes, shingle_k),
    )
    cand = lsh_candidates(sigs, bands, n_hashes=n_hashes)
    sa = sigs.selectExpr("id AS id_a", "sig AS sig_a")
    sb = sigs.selectExpr("id AS id_b", "sig AS sig_b")
    est = (
        "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), m -> m))"
        f" / {n_hashes}"
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .selectExpr("id_a", "id_b", f"round({est}, 6) AS est_jaccard")
        .where(f"est_jaccard >= {threshold}D")
    )


def simhash32(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """32-bit SimHash per doc, entirely JVM-side and engine-portable.

    Token hash = first 8 hex chars of md5 (a uniform 32-bit value); bit
    b of the signature = majority vote of bit b over the doc's token
    hashes.  The md5 basis makes the signature — and the band blocking +
    hamming verification built on it — bit-identical in DuckDB, i.e. the
    whole near-dup pipeline is oracle-checkable.  The 64-bit xxhash64
    pandas-UDF variant (`simhash`) remains available for collision
    headroom at corpus scale.  All arithmetic stays below 2^32, so the
    double-precision intermediates (pow/floor) are exact."""
    # Explode tokens and take the per-bit majority with 32 conditional
    # sum() aggregates — fully whole-stage-codegen, and the token-hash
    # expression is evaluated exactly once per token.  (The earlier
    # array-HOF form referenced the _th32 hash array from 33 lambda
    # positions; Catalyst inlines the array build into each reference,
    # re-hashing every token 33x per row, and HOF lambdas run
    # interpreted — the same trap fixed in minhash_signatures.)
    # split() always yields >= 1 element for non-null text, so no doc
    # is lost by the explode; the groupBy(id) shuffle carries only
    # per-doc partial bit counts (33 longs per doc per partition).
    toks = F.split(F.col(text_col), " ")
    h = F.conv(F.substring(F.md5(F.col("_tok")), 1, 8), 16, 10).cast("long")
    ex = df.select(F.col(id_col).alias("id"), F.explode(toks).alias("_tok"))
    sums = [
        F.sum(
            (F.col("_h").bitwiseAND(F.lit(1 << b)) != 0).cast("int")
        ).alias(f"_b{b}")
        for b in range(32)
    ]
    agg = (
        ex.select("id", h.alias("_h"))
        .groupBy("id")
        .agg(F.count("*").alias("_n"), *sums)
    )
    bit_terms = [
        F.when(
            F.lit(2) * F.col(f"_b{b}") > F.col("_n"),
            F.lit(1 << b).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for b in range(32)
    ]
    sig = sum(bit_terms[1:], bit_terms[0])
    return agg.select("id", sig.alias("simhash"))


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """64-bit SimHash per doc: per-bit majority vote over token hashes.

    Vectorized numpy pandas-UDF (per-row bit unpacking is the rare case
    where Python beats a 64-way HOF expression tree)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    toks_hashed = tokenize(df, text_col).withColumn(
        "_th", F.transform("_toks", lambda t: F.xxhash64(t))
    )

    @pandas_udf(LongType())
    def sim(hashes: pd.Series) -> pd.Series:
        out = np.empty(len(hashes), dtype=np.int64)
        for i, hs in enumerate(hashes):
            if hs is None or len(hs) == 0:
                out[i] = 0
                continue
            arr = np.asarray(hs, dtype=np.int64).astype(np.uint64)
            bitmat = (arr[:, None] >> np.arange(bits, dtype=np.uint64)[None, :]) & 1
            votes = bitmat.sum(axis=0) * 2 > len(arr)
            out[i] = np.int64(
                np.bitwise_or.reduce(
                    (votes.astype(np.uint64) << np.arange(bits, dtype=np.uint64))
                ).astype(np.uint64).view(np.int64)
            )
        return pd.Series(out)

    return toks_hashed.select(F.col(id_col).alias("id"), sim("_th").alias("simhash"))


def simhash_neardup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket: int = 1000,
    pre_partition: int | None = None,
) -> DataFrame:
    """SimHash near-dup over the 32-bit md5 signature: band blocking
    (4 x 8-bit bands: by pigeonhole, two docs within hamming distance 3
    share at least one exact band — a recall *guarantee* up to hamming
    3), then exact hamming verification via bit_count(xor).  Fully
    deterministic and cross-engine reproducible -> oracle-checked.

    `max_bucket` drops degenerate band buckets (a band value collecting
    thousands of docs means quadratic candidate fan-out — the hot-key
    mitigation at corpus scale, same policy as the MinHash LSH join).
    `pre_partition`: see minhash_neardup — local-parallelism knob for
    few-partition inputs; leave None on a real cluster."""
    if pre_partition:
        df = df.repartition(pre_partition, id_col)
    # Tracked persist: 3 consumers (banding + both verify sides); see
    # minhash_neardup's note.
    from pyspec_spark.registry import PERSIST_SEQ, track_persist

    sh = track_persist(
        df.sparkSession,
        f"simhash_neardup#sh#{next(PERSIST_SEQ)}",
        simhash32(df, id_col, text_col),
    )
    banded = sh.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("simhash", 8 * b).bitwiseAND(F.lit(0xFF))
                    for b in range(4)
                ]
            )
        ).alias("band", "band_val"),
    )
    sized = banded.groupBy("band", "band_val").agg(
        F.collect_list("id").alias("ids"), F.count("*").alias("n")
    )
    ok = sized.where((F.col("n") > 1) & (F.col("n") <= max_bucket))
    a = ok.select("band", "band_val", F.explode("ids").alias("id_a"))
    b = ok.select("band", "band_val", F.explode("ids").alias("id_b"))
    cand = (
        a.join(b, ["band", "band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    ha = sh.select(F.col("id").alias("id_a"), F.col("simhash").alias("h_a"))
    hb = sh.select(F.col("id").alias("id_b"), F.col("simhash").alias("h_b"))
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        cand.join(ha, "id_a")
        .join(hb, "id_b")
        .select("id_a", "id_b", ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def simhash_neardup64(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket: int = 1000,
    pre_partition: int | None = None,
) -> DataFrame:
    """Corpus-scale SimHash near-dup: 64-bit signature (pandas-UDF
    majority vote), 4 x 16-bit band blocking — 65 536 values per band,
    so bucket occupancy stays O(corpus/65k) where the 32-bit variant's
    256-value bands saturate past ~10^5 docs (measured in SCALING.md).
    Same pigeonhole recall guarantee to hamming 3, same bucket cap and
    bit_count(xor) verification; engine-specific hash basis -> verified
    by pytest (planted dups + scaling probe), not a DuckDB oracle."""
    if pre_partition:
        df = df.repartition(pre_partition, id_col)
    # Tracked persist: 3 consumers; see minhash_neardup's note.
    from pyspec_spark.registry import PERSIST_SEQ, track_persist

    sh = track_persist(
        df.sparkSession,
        f"simhash_neardup64#sh#{next(PERSIST_SEQ)}",
        simhash(df, id_col, text_col),
    )
    banded = sh.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("simhash", 16 * b).bitwiseAND(
                        F.lit(0xFFFF)
                    )
                    for b in range(4)
                ]
            )
        ).alias("band", "band_val"),
    )
    sized = banded.groupBy("band", "band_val").agg(
        F.collect_list("id").alias("ids"), F.count("*").alias("n")
    )
    ok = sized.where((F.col("n") > 1) & (F.col("n") <= max_bucket))
    a = ok.select("band", "band_val", F.explode("ids").alias("id_a"))
    b = ok.select("band", "band_val", F.explode("ids").alias("id_b"))
    cand = (
        a.join(b, ["band", "band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    ha = sh.select(F.col("id").alias("id_a"), F.col("simhash").alias("h_a"))
    hb = sh.select(F.col("id").alias("id_b"), F.col("simhash").alias("h_b"))
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        cand.join(ha, "id_a")
        .join(hb, "id_b")
        .select("id_a", "id_b", ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def _cc_checkpointer(edges: DataFrame, checkpoint_dir: str | None):
    """Checkpoint strategy for the iterative CC loops: localCheckpoint
    (executor-local blocks, fast, lost on executor death) by default;
    with ``checkpoint_dir`` set, reliable ``checkpoint()`` into that
    directory (HDFS/object-store path on a real cluster) — the 100 TB
    posture, where a lost executor must not restart the whole loop.

    NOTE: ``setCheckpointDir`` is a SparkContext-GLOBAL mutation — it
    redirects reliable checkpoints for every consumer of the session
    until changed again (Spark offers no per-DataFrame target, and no
    clean "unset").  Callers sharing the session with other checkpoint
    users should pass the session-wide directory here rather than a
    private one; ``sc.getCheckpointDir()`` reads the current value for
    callers that want to restore it afterwards."""
    if checkpoint_dir is None:
        return lambda df: df.localCheckpoint(eager=True)
    sc = edges.sparkSession.sparkContext
    sc.setCheckpointDir(checkpoint_dir)
    return lambda df: df.checkpoint(eager=True)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over an undirected edge list by iterative
    min-label propagation: every node's label converges to the smallest
    node id reachable from it.  Returns ``(node, component)``.

    This is the clustering step a dedup pipeline runs AFTER pair
    generation (MinHash/SimHash/Jaccard emit pairs; keeping one doc per
    *component* needs transitive closure — A~B, B~C must collapse even
    when A~C was never emitted as a pair).

    Execution model (the standard Spark iterative pattern, GraphX-style):
    each round is one join + keyed min-aggregation, materialized eagerly
    with the convergence check; checkpointing truncates lineage so
    round N's plan doesn't embed rounds 1..N-1.  Rounds needed = graph
    diameter; near-dup components are shallow (dups of a common source),
    so this terminates in a handful of rounds.  At 100 TB scale pass
    ``checkpoint_dir`` (an HDFS/object-store path) to switch from
    localCheckpoint to reliable checkpointing; for adversarial
    chain-shaped graphs use `connected_components_star` below
    (O(log diameter) rounds).
    """
    ckpt = _cc_checkpointer(edges, checkpoint_dir)
    adj = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    adj = adj.union(adj.select(F.col("b").alias("a"), F.col("a").alias("b")))
    adj = ckpt(adj)

    labels = ckpt(
        adj.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(max_iter):
        nbr_min = (
            adj.join(labels, adj["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("label").alias("nbr_min"))
        )
        stepped = ckpt(
            labels.join(nbr_min, labels["node"] == nbr_min["a"], "left")
            .select(
                "node",
                F.col("label").alias("old_label"),
                F.least(
                    F.col("label"), F.coalesce("nbr_min", F.col("label"))
                ).alias("label"),
            )
        )
        changed = stepped.where(F.col("label") < F.col("old_label")).count()
        labels = stepped.select("node", "label")
        if changed == 0:
            break
    return labels.select(F.col("node"), F.col("label").alias("component"))


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014) — O(log diameter) rounds where min-label propagation
    needs O(diameter).  The scale path for adversarial chain-shaped
    graphs; near-dup graphs are shallow, so `connected_components` is
    usually enough (and cheaper per round).

    Each round operates on an edge set that converges to a star forest
    (every node points at its component minimum):
    - large-star: for every node u, connect every strictly-larger
      neighbor v > u to m = min(u, neighbors(u)) — keeps edges from the
      'large' side pointing at the local minimum;
    - small-star: connect every neighbor v <= u (and u) to m.
    Convergence = the edge multiset stops changing (checked via a
    count of changed pairs, one job per round, same policy as the
    min-label loop).  Returns ``(node, component)``.
    """
    # undirected closure, as (u, v) pairs both ways
    ckpt = _cc_checkpointer(edges, checkpoint_dir)
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    e = ckpt(
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )

    def star(cur: DataFrame, large: bool) -> DataFrame:
        nbrs = cur.groupBy("u").agg(F.min("v").alias("mn"))
        m = nbrs.select(
            "u", F.least(F.col("u"), F.col("mn")).alias("m")
        )
        joined = cur.join(m, "u")
        if large:
            moved = joined.where(F.col("v") > F.col("u"))
        else:
            moved = joined.where(F.col("v") <= F.col("u")).unionByName(
                m.select(F.col("u"), F.col("u").alias("v"), F.col("m"))
            )
        out = (
            moved.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # keep both directions so neighbor minima see every edge
        return ckpt(
            out.union(out.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .distinct()
        )

    cur = e
    for _ in range(max_iter):
        nxt = star(star(cur, large=True), large=False)
        # true fixpoint check: the edge COUNT stays at ~|V|-1 for the
        # whole run while the forest flattens, so count-stability is NOT
        # convergence — compare the edge sets (one except-job per round,
        # and rounds are O(log diameter))
        if nxt.exceptAll(cur).isEmpty() and cur.exceptAll(nxt).isEmpty():
            cur = nxt
            break
        cur = nxt
    # cur is (u -> component rep) both directions; keep the u > v side
    # (each non-root points at its root = component min), add roots
    comp = cur.where(F.col("u") > F.col("v")).select(
        F.col("u").alias("node"), F.col("v").alias("component")
    )
    roots = comp.select(F.col("component").alias("node")).distinct().select(
        "node", F.col("node").alias("component")
    )
    return comp.unionByName(roots).distinct()


# ---------------------------------------------------------------------------
# L2g — exact fuzzy (edit-distance) token join via deletion
# neighborhoods (SymSpell banding; Garbe's public symmetric-delete
# algorithm).  The banding theorem: if lev(a, b) <= t then the
# deletion neighborhoods D_<=t(a) and D_<=t(b) intersect — every
# single edit (insert / delete / substitute) on one side is absorbed
# by deleting at most one character from each side, so an equi-join on
# shared deletion variants has GUARANTEED recall at threshold t.
# Candidates are then verified with the exact levenshtein (JVM-side
# built-in), making the whole operator EXACT — unlike MinHash/SimHash
# above, which trade recall for speed.
#
# Scale posture (100 TB): the neighborhood explode is map-only and
# bounded (<= 1 + L variants per token at t=1, O(L^2) at t=2, L <= 20
# after the length filter); the only shuffle is the equi-join on the
# variant string — an inverted-index join keyed by variant, never an
# all-pairs product (plan-gated in tests).  Short variants are the
# skew risk (deleting from length-3 tokens pools many sources onto one
# bucket); the |len(a)-len(b)| <= t predicate prunes candidates before
# the levenshtein verify, and vocabulary tokens are distinct-ed before
# the explode so bucket size is bounded by vocabulary density, not
# corpus frequency.
# ---------------------------------------------------------------------------
def _delete_one_arr(col):
    """Array of every single-character deletion of a string column."""
    return F.when(
        F.length(col) > 0,
        F.transform(
            F.sequence(F.lit(0), F.length(col) - 1),
            lambda i: F.concat(
                F.substring(col, F.lit(1), i),
                F.substring(col, i + F.lit(2), F.length(col)),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def deletion_neighborhood(
    df: DataFrame, token_col: str = "token", max_deletes: int = 1
) -> DataFrame:
    """Distinct ``(variant, token)`` pairs where ``variant`` is the token
    itself or any string reachable by deleting up to ``max_deletes``
    characters (SymSpell index rows).  Map-only explode; distinct-ed so
    the downstream join is keyed on unique (variant, token)."""
    if max_deletes not in (1, 2):
        raise ValueError("max_deletes must be 1 or 2")
    base = df.select(F.col(token_col).alias("token"))
    w = F.col("token")
    d1 = _delete_one_arr(w)
    variants = F.concat(F.array(w), d1)
    if max_deletes == 2:
        d2 = F.flatten(F.transform(d1, lambda v: _delete_one_arr(v)))
        variants = F.concat(variants, d2)
    return (
        base.withColumn("_variants", variants)
        .select(F.explode("_variants").alias("variant"), "token")
        .distinct()
    )


def fuzzy_token_matches(
    left: DataFrame,
    right: DataFrame,
    tau: int = 1,
    left_col: str = "token",
    right_col: str = "token",
) -> DataFrame:
    """Exact edit-distance join: all ``(tok_a, tok_b, dist)`` with
    ``tok_a`` from ``left``, ``tok_b`` from ``right`` and
    ``levenshtein(tok_a, tok_b) <= tau`` (tau in {1, 2}).

    Recall is guaranteed by the deletion-neighborhood banding theorem;
    precision by the exact verify.  The join is an inverted-index
    equi-join on the variant string — no cartesian product at any
    vocabulary size.
    """
    lv = deletion_neighborhood(
        left.select(F.col(left_col).alias("token")), max_deletes=tau
    ).withColumnRenamed("token", "tok_a")
    rv = deletion_neighborhood(
        right.select(F.col(right_col).alias("token")), max_deletes=tau
    ).withColumnRenamed("token", "tok_b")
    cand = (
        lv.join(rv, "variant")
        .select("tok_a", "tok_b")
        .where(
            F.abs(F.length("tok_a") - F.length("tok_b")) <= F.lit(tau)
        )
        .distinct()
    )
    return cand.select(
        "tok_a",
        "tok_b",
        F.levenshtein("tok_a", "tok_b").alias("dist"),
    ).where(F.col("dist") <= F.lit(tau))
