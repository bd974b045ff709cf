"""Incremental corpus curation over Structured Streaming — SURVEY.md
§2.10/§2.12.

A training-data pipeline rarely sees its corpus at once: crawl output
lands in batches.  Every map-only curation stage (quality signals,
gating, PII scrub) is stateless, so the SAME column expressions run
unchanged over a file-source stream — this module wires them together
and the twin test (tests/test_streaming.py) asserts stream-end
equality with the batch path on the same documents.

Scale notes: stateless map-only streaming keeps zero state rows; the
file source paces ingestion via maxFilesPerTrigger; output mode is
append (each doc decided exactly once, independent of every other
doc).  Anything keyed (dedup against history) would need state — that
family lives in streaming/stateful.py; the curation stages here are
deliberately the stateless prefix of the pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DOC_SCHEMA = (
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
)


def read_document_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = 1
) -> DataFrame:
    """File-source stream over parquet chunks of documents (crawl
    batches landing in a directory)."""
    reader = spark.readStream.schema(DOC_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


def curate(docs: DataFrame, min_quality: float = 0.5) -> DataFrame:
    """Stateless curation prefix: quality signals -> gate -> PII scrub.

    Batch-or-streaming (same code path, like streaming/events.py ops):
    quality_score is pure column arithmetic, the gate is a filter, and
    the scrub reuses q_pii_scrub's Java∩RE2 redaction patterns."""
    from pyspec_spark.operators.text import quality_score
    from pyspec_spark.queries.quality import _PII_ANY

    scored = quality_score(docs)
    gated = scored.where(F.col("quality") >= min_quality)
    clean = F.regexp_replace(F.col("text"), _PII_ANY, "<PII>")
    return gated.select(
        "doc_id",
        "lang",
        "source",
        "quality",
        "uniq_token_ratio",
        clean.alias("clean_text"),
    )


def dedup_stream(docs: DataFrame) -> DataFrame:
    """Cross-batch exact dedup by content hash — the stateful stage of
    incremental ingestion: a doc seen in ANY earlier micro-batch is
    dropped, state = one md5 per distinct text ever seen.  Without a
    watermark the state grows with distinct content (the correct
    semantics for corpus dedup — a dup is a dup forever); bound it in
    deployments with dropDuplicatesWithinWatermark + an ingest-time
    column when re-crawl windows allow forgetting."""
    hashed = docs.withColumn("text_md5", F.md5("text"))
    return hashed.dropDuplicates(["text_md5"])


def hash_embed_stream(docs: DataFrame, dim: int = 16) -> DataFrame:
    """Streaming feature-hash embedding state: the per-(doc_id,
    bucket) signed counts of `operators/text.py feature_hash_embed`,
    expressed as a streaming aggregation.  Because the bucket sums are
    plain SUMs, the state is MERGEABLE — each micro-batch folds its
    tokens into the running (doc_id, dim) counts, so embeddings stay
    current as crawl chunks land, without re-reading history.

    Returns the un-normalized (doc_id, dim, raw) state (run with
    outputMode('update'/'complete')); the normalize + dense expansion
    is a stateless map over the final state, applied by the consumer —
    splitting there keeps the streaming state integer-exact.  The twin
    test asserts stream-end equality with the batch operator.

    The bucket/sign/sum core is `operators/text.py fh_bucket_sums` —
    the SAME expression object the batch operator aggregates, so the
    md5 salts and modulo cannot drift between the twins."""
    from pyspec_spark.operators.text import fh_bucket_sums

    return fh_bucket_sums(docs, dim)


def band_hashes_stateless(
    docs: DataFrame, n_hashes: int = 16, bands: int = 4, shingle_k: int = 2
) -> DataFrame:
    """(doc_id, band, band_hash) computed MAP-ONLY — the streaming-safe
    twin of operators/dedup's minhash_signatures + banding.

    Identical hash basis (sig[i] = min md5(shingle || '#i'), band =
    md5(concat_ws(',', sub-signature))) so values equal the batch
    operators' exactly; the per-doc min runs as an array_min HOF
    instead of the batch explode+agg because a streaming groupBy ahead
    of keyed state would be two stateful operators in one query.  The
    HOF form evaluates interpreted (the measured dedup.py tradeoff) —
    right for micro-batch increments, wrong for a full-corpus backfill:
    backfill through the batch operator, then stream increments."""
    from pyspec_spark.operators.dedup import shingles

    if n_hashes % bands != 0:
        raise ValueError(f"n_hashes={n_hashes} not divisible by bands={bands}")
    r = n_hashes // bands
    sh = shingles(docs, "text", shingle_k).where(F.size("_shingles") > 0)

    def sig(i: int):
        return F.array_min(
            F.transform(
                "_shingles", lambda s: F.md5(F.concat(s, F.lit(f"#{i}")))
            )
        )

    def band(b: int):
        return F.md5(F.concat_ws(",", *[sig(b * r + i) for i in range(r)]))

    banded = sh.select(
        "doc_id",
        F.posexplode(F.array(*[band(b) for b in range(bands)])).alias(
            "band", "band_hash"
        ),
    )
    return banded


_NEARDUP_STATE = "owner LONG"
_NEARDUP_OUT = (
    "doc_id LONG, owner_id LONG, band INT, band_hash STRING"
)


def neardup_stream(
    docs: DataFrame,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 2,
    ttl_minutes: float | None = None,
) -> DataFrame:
    """Cross-batch NEAR-duplicate suppression over a document stream:
    MinHash-banded LSH with keyed state per (band, band_hash)
    bucket — the incremental-ingestion complement of dedup_stream's
    exact-hash dedup.

    State per bucket = the first (minimum) doc_id that ever claimed it;
    a later doc sharing ANY band bucket with an earlier doc emits a
    (doc_id, owner_id) candidate row.  State is ONE int64 per distinct
    band hash — at 100 TB that is bands × n_docs rows of 8 bytes,
    mergeable and far below corpus bytes; no signature matrix and no
    pairwise anything is ever held.  Semantics twin: on an id-ordered
    replay this equals the batch rule "doc is a candidate iff it shares
    a band bucket with a smaller doc_id" (groupBy(band, band_hash) →
    min(doc_id) owner), which the stream-twin test asserts exactly.
    Candidates are LSH-grade (est-Jaccard verification is the batch
    operator's second stage; run it in foreachBatch against the owner
    set when precision matters).

    ``ttl_minutes`` bounds the state for INFINITE streams: with no TTL
    the bucket count grows with the corpus forever (fine for a bounded
    backfill, wrong for a perpetual crawl); with a TTL, a bucket idle
    for that long is EVICTED on a processing-time timeout and a later
    duplicate of a forgotten document is no longer flagged — the
    standard sliding-horizon dedup trade (state = only the buckets
    touched within the horizon).  Eviction happens on the timeout
    callback; a bucket that keeps receiving docs keeps re-arming.

    Driver caveat (measured): with a TTL, do NOT use
    ``trigger(availableNow=True)`` — pending processing-time timeouts
    keep generating data-less micro-batches and the query never
    self-terminates.  For bounded drives use ``processAllAvailable()``
    then ``stop()``; expired buckets are evicted during any data batch
    (keys with data take precedence, idle keys fire hasTimedOut)."""
    from typing import Any, Iterator as _Iter

    import pandas as _pd
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    banded = band_hashes_stateless(docs, n_hashes, bands, shingle_k)

    def update(
        key: tuple[Any, ...],
        pdfs: _Iter[_pd.DataFrame],
        state: GroupState,
    ) -> _Iter[_pd.DataFrame]:
        if ttl_minutes is not None and state.hasTimedOut:
            state.remove()  # horizon passed with no traffic: forget
            return
        batch: set[int] = set()
        for pdf in pdfs:
            batch.update(int(x) for x in pdf["doc_id"])
        prev = state.get[0] if state.exists else None
        # owner = global minimum ever seen for this bucket.  If a
        # SMALLER doc_id arrives after the bucket was claimed
        # (out-of-order replay), ownership TRANSFERS: the newcomer is
        # kept and the displaced former owner is emitted as the dup —
        # the append-mode correction for late-arriving information.
        # Flagging the newcomer instead would never re-flag the old
        # owner.
        seen = batch | ({prev} if prev is not None else set())
        owner = min(seen)
        if owner != prev:
            state.update((owner,))
        if ttl_minutes is not None:
            # re-arm the horizon on every touch (data resets the clock)
            state.setTimeoutDuration(int(ttl_minutes * 60_000))
        if prev is None or owner != prev:
            dups = sorted(seen - {owner})
        else:  # owner unchanged: prev was kept long ago, only the
            dups = sorted(batch - {prev})  # newcomers are dups
        if not dups:
            return
        yield _pd.DataFrame(
            {
                "doc_id": dups,
                "owner_id": [owner] * len(dups),
                "band": [int(key[0])] * len(dups),
                "band_hash": [key[1]] * len(dups),
            }
        )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_minutes is not None
        else GroupStateTimeout.NoTimeout
    )
    return (
        banded.groupBy("band", "band_hash")
        .applyInPandasWithState(
            update,
            outputStructType=_NEARDUP_OUT,
            stateStructType=_NEARDUP_STATE,
            outputMode="append",
            timeoutConf=timeout,
        )
    )


def curate_to_lake(
    stream: DataFrame,
    spark: SparkSession,
    target_dir: str,
    min_quality: float = 0.5,
    checkpoint: str | None = None,
) -> None:
    """The production WRITE path of incremental curation: each
    micro-batch that curates to at least one row is one
    ``lake.lake_upsert`` into a lang-partitioned manifest lake at
    ``target_dir``, keyed by doc_id.  A batch that curates to nothing
    publishes no version.

    Every batch is an atomic snapshot commit: a concurrent reader sees
    the previous version or the new one, never a half-written
    partition.  Only the langs a batch touches are rewritten, each as
    one file (the stager splits files by partition value), so the live
    table holds one file per lang and needs no compaction pass; every
    other lang's files carry over by reference.  Re-delivered doc_ids
    (crawl re-fetches) UPDATE in place rather than duplicating — the
    exactly-once-per-key semantics an append sink cannot give.

    Readers use ``lake.lake_read`` (the directory holds every version's
    files, so a plain parquet read of it is wrong).  Old versions stay
    readable until vacuumed; ``lake.lake_vacuum`` retention is the
    caller's to run.  Runs with availableNow and blocks until drained."""
    from pyspec_spark.lake import lake_upsert

    curated = curate(stream, min_quality=min_quality)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # an upsert of an empty frame would still commit a version
        if not batch_df.isEmpty():
            lake_upsert(spark, target_dir, batch_df, "doc_id", "lang")

    writer = curated.writeStream.foreachBatch(sink).outputMode("update")
    if checkpoint:
        # with a checkpoint, a re-run of the same source processes ONLY
        # files that arrived since the last run: ingested batches are
        # never replayed into the lake (the upsert would make a replay
        # idempotent per key, but a daily run must not re-curate the
        # whole crawl)
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()


def index_stream_to_buckets(
    stream: DataFrame,
    spark: SparkSession,
    inc_path: str,
    shard_size: int,
    checkpoint: str | None = None,
    n_buckets: int | None = None,
) -> None:
    """Streaming face of incremental index maintenance (L40d, the
    ST9 pattern): each micro-batch of NEW documents is
    tokenized, folded to (doc_id, term, tf) — one groupBy over the
    BATCH, never the corpus — sharded (doc-range shards, gaps relative
    to the shard base) and written term-bucketed under
    ``{inc_path}/batch={batch_id}`` with mode=overwrite.

    Exactly-once across kill-and-restart: the checkpoint guarantees a
    committed batch is never reprocessed, and a batch REPLAYED after a
    crash between the write and the checkpoint commit overwrites its
    own batch-scoped root — idempotent, which a bare append into
    shared bucket dirs is not (the replay would duplicate that batch's
    postings; this is why increments land batch-scoped rather than
    through append_term_index directly).  Same doc-id contract as
    append_term_index: batches carry disjoint, monotone ingestion ids.

    Readers union base + increments (operators/text.
    read_streamed_index) and decode unchanged — rows decode per-row,
    so a term's postings split across base and any number of batch
    roots need no merge.  Periodic compact_streamed_index folds
    everything into one fresh root, so the batch roots do not pile up
    as small files."""
    from pyspec_spark.operators.text import (
        TERM_INDEX_BUCKETS,
        _term_bucket_col,
        sharded_postings,
    )

    nb = n_buckets or TERM_INDEX_BUCKETS

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        tf = (
            batch_df.select(
                "doc_id", F.explode(F.split("text", " ")).alias("term")
            )
            .groupBy("doc_id", "term")
            .agg(F.count("*").alias("tf"))
        )
        (
            sharded_postings(tf, shard_size)
            .withColumn("tb", _term_bucket_col(F.col("term"), nb))
            .repartition(F.col("tb"))
            .write.partitionBy("tb")
            .mode("overwrite")
            .parquet(f"{inc_path}/batch={batch_id}")
        )

    writer = stream.writeStream.foreachBatch(sink).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()


def bloom_screen_stream(
    docs: DataFrame, bloom_arr: DataFrame, min_containment: float = 0.6
) -> DataFrame:
    """Benchmark-decontamination screening over a document stream:
    per-doc Bloom containment against a PRE-BUILT densified
    filter (operators/bloom.bloom_to_array output — built once from
    the static benchmark corpus, exactly the deployment shape: the
    benchmark never streams).

    Stateless: membership runs inside a filter() lambda over each
    document's shingle array (operators/bloom.bloom_contains — the
    SAME expression the batch query q_bloom_decontam uses, so the hash
    family cannot drift between twins), and the filter row arrives via
    a stream-static join on a constant-true condition.  Zero state
    rows, append mode, each doc decided exactly once."""
    from pyspec_spark.operators.bloom import bloom_contains
    from pyspec_spark.queries.quality import _bigrams, _toks

    sh = docs.select(
        "doc_id", F.array_distinct(_bigrams(_toks())).alias("shingles")
    ).where(F.size("shingles") > 0)
    probed = sh.join(F.broadcast(bloom_arr), F.lit(True), "inner")
    n_hit = F.size(
        F.filter("shingles", lambda s: bloom_contains(F.col("words"), s))
    ).cast("long")
    return (
        probed.select(
            "doc_id",
            F.size("shingles").cast("long").alias("n_sh"),
            n_hit.alias("n_hit"),
        )
        .withColumn(
            "containment",
            F.round(F.col("n_hit").cast("double") / F.col("n_sh"), 6),
        )
        .where(F.col("containment") >= min_containment)
    )


def ingest_jsonl_stream(
    spark: SparkSession,
    src_dir: str,
    schema: str,
    land_path: str,
    checkpoint: str,
    mode: str = "PERMISSIVE",
    max_files_per_trigger: int | None = None,
) -> None:
    """Streaming face of S8 (sources/textlines.py): continuous JSONL
    ingestion from a drop directory — the shape a live corpus feed
    actually has (files keep arriving; nobody re-lists the world).

    readStream's file source discovers NEW files per micro-batch under
    the same explicit-schema + malformed-policy contract as the batch
    reader (PERMISSIVE routes each bad line's raw text into the
    quarantine column riding the row stream).  Each batch LANDS
    columnar under ``{land_path}/batch={batch_id}`` with
    mode=overwrite — the index_stream_to_buckets idempotency shape: a
    batch replayed after a crash between write and checkpoint-commit
    overwrites its own scoped dir instead of duplicating rows, and the
    one parsing pass per line is preserved (downstream, including the
    quarantine audit, reads the landed parquet — the q_jsonl_roundtrip
    design).  ``batch=`` doubles as a partition column: per-batch
    lineage for free.

    ``checkpoint`` is REQUIRED, not optional: batch-scoped overwrite
    only gives idempotency when batch ids are stable across runs,
    which is the checkpoint's job — a checkpoint-less re-drain would
    reprocess everything as batch 0, overwrite only that dir, and
    leave the prior run's higher batch dirs as silent duplicates.

    ``max_files_per_trigger`` bounds batch size (ingest pacing);
    availableNow drains everything discoverable and stops — callers
    wanting a long-lived stream swap the trigger."""
    from pyspec_spark.sources.textlines import CORRUPT_COL, permissive_schema

    if not checkpoint:
        raise ValueError(
            "ingest_jsonl_stream: a checkpoint location is required — "
            "without it batch ids restart at 0 on every run and stale "
            "batch= dirs from prior runs silently duplicate rows"
        )
    full = permissive_schema(schema) if mode.upper() == "PERMISSIVE" else schema
    reader = (
        spark.readStream.schema(full)
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.json(src_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            f"{land_path}/batch={batch_id}"
        )

    q = (
        stream.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def maintained_index_stream(
    stream: DataFrame,
    spark: SparkSession,
    inc_path: str,
    shard_size: int,
    checkpoint: str | None = None,
    n_buckets: int | None = None,
) -> None:
    """SERVABLE streaming face of the maintained index (L40j, the
    index_stream_to_buckets pattern): each micro-batch lands
    postings AND its documents' length norms + 1-row stats — all
    batch-scoped under ``{inc_path}/batch={batch_id}`` with
    mode=overwrite, so a batch replayed after a crash between the write
    and the checkpoint commit overwrites ITSELF (idempotent, the same
    reason the postings are batch-scoped rather than appended into
    shared dirs; write_norms' append mode is the BATCH facade's
    discipline and would double-count on replay here).

    Readers: read_streamed_index (postings — underscore norm dirs are
    invisible to its recursive listing) + read_streamed_norms (the
    batch=*/ _norms union).  compact_streamed_maintained folds
    everything into one fresh root the FAST serving path accepts
    (markers, block-max, re-counted stats) — at which point the
    increments retire, same as compact_streamed_index."""
    from pyspec_spark.operators.text import TERM_INDEX_BUCKETS

    nb = n_buckets or TERM_INDEX_BUCKETS

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        maintained_index_batch(
            batch_df, batch_id, inc_path, shard_size, n_buckets=nb
        )

    writer = stream.writeStream.foreachBatch(sink).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()


def maintained_index_batch(
    batch_df: DataFrame,
    batch_id: int,
    inc_path: str,
    shard_size: int,
    n_buckets: int | None = None,
) -> None:
    """ONE micro-batch landing of the maintained stream index —
    postings + batch-scoped norms + stats under
    ``{inc_path}/batch={batch_id}``, all mode=overwrite so a crash
    REPLAY of the same batch overwrites itself (idempotence is pinned
    in test_streaming.py against this exact function — the stream face
    above routes through it, so the tested path IS the served path)."""
    from pyspec_spark.operators.text import (
        TERM_INDEX_BUCKETS,
        _term_bucket_col,
        sharded_postings,
    )

    nb = n_buckets or TERM_INDEX_BUCKETS
    root = f"{inc_path}/batch={batch_id}"
    tf = (
        batch_df.select(
            "doc_id", F.explode(F.split("text", " ")).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    (
        sharded_postings(tf, shard_size)
        .withColumn("tb", _term_bucket_col(F.col("term"), nb))
        .repartition(F.col("tb"))
        .write.partitionBy("tb")
        .mode("overwrite")
        .parquet(root)
    )
    dl = batch_df.select(
        F.col("doc_id").cast("long"),
        F.size(F.split("text", " ")).cast("long").alias("dl"),
    ).persist()
    try:
        (
            dl.withColumn(
                "nb", (F.col("doc_id") / F.lit(shard_size)).cast("long")
            )
            .repartition(F.col("nb"))
            .write.partitionBy("nb")
            .mode("overwrite")
            .parquet(f"{root}/_norms")
        )
        (
            dl.agg(
                F.count("*").alias("n_docs"),
                F.coalesce(F.sum("dl"), F.lit(0))
                .cast("long")
                .alias("sum_dl"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{root}/_norms_stats")
        )
    finally:
        dl.unpersist()
