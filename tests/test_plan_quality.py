"""Plan-quality gate (the 100 TB posture, enforced): pushdown, pruning,
broadcast selection, top-k physical operator, partial aggregation, and
shuffle counts for the headline queries.  A regression that silently
de-optimizes a plan fails here even while results stay correct."""

from __future__ import annotations

import re

import pytest

from pyspec_spark import registry
from pyspec_spark.plans import (
    count_exchanges,
    has_broadcast_join,
    has_partial_aggregate,
    has_take_ordered,
    physical_plan,
    pushed_filters,
    read_schemas,
)

SF = "/root/testdata/sf0.001"

registry.load_all()


def _plan(spark, name):
    # Bypass the registry's prepared-plan cache: a cached DataFrame that
    # an earlier test already executed carries the AQE-finalized plan,
    # whose explain text differs from the as-built plan this gate checks.
    # Also drop CacheManager entries: queries that .cache() an interior
    # table (pagerank edges, semdedup members, copurchase items) would
    # otherwise plan against InMemoryRelation when an earlier test (the
    # declared-queries sweep) already ran them, and the printed cached
    # child subtree shifts the exchange/scan counts these gates pin.
    spark.catalog.clearCache()
    builder = getattr(registry.QUERIES[name], "__wrapped__", registry.QUERIES[name])
    return physical_plan(builder(spark, SF))


def test_pricing_summary_plan(spark):
    p = _plan(spark, "q_pricing_summary")
    # date predicate reaches the parquet scan
    assert any("l_shipdate" in f for f in pushed_filters(p))
    # column pruning: only the 7 needed columns are read (of 16)
    (cols,) = read_schemas(p)
    assert len(cols) == 7 and "l_comment" not in cols
    # partial->final agg, exactly one shuffle
    assert has_partial_aggregate(p)
    assert count_exchanges(p) == 1


def test_projection_prunes_scan(spark):
    p = _plan(spark, "q_project")
    for cols in read_schemas(p):
        assert len(cols) <= 5, f"unpruned scan: {cols}"
        assert "l_comment" not in cols


def test_scan_select_pushes_key(spark):
    p = _plan(spark, "q_scan_select")
    assert any("EqualTo" in f or "l_orderkey" in f for f in pushed_filters(p))


def test_broadcast_join_is_broadcast(spark):
    p = _plan(spark, "q_join_bcast")
    assert has_broadcast_join(p)


def test_5way_join_broadcasts_dims(spark):
    p = _plan(spark, "q_join_5way")
    assert has_broadcast_join(p)
    # the only shuffles allowed: final aggregation (+ at most the big
    # fact join pre-AQE); dims must NOT shuffle
    assert count_exchanges(p) <= 3


def test_topk_compiles_to_take_ordered(spark):
    p = _plan(spark, "q_topk")
    assert has_take_ordered(p)


def test_grid3d_single_shuffle(spark):
    p = _plan(spark, "q_grid3d")
    assert has_partial_aggregate(p)
    assert count_exchanges(p) == 1


def test_events_tumbling_single_shuffle(spark):
    p = _plan(spark, "q_events_tumbling")
    assert count_exchanges(p) == 1


def test_dedup_docs_single_shuffle(spark):
    p = _plan(spark, "q_dedup_docs")
    assert has_partial_aggregate(p)
    assert count_exchanges(p) == 1


@pytest.mark.parametrize(
    "name", ["q_norm", "q_filter_pred", "q_math_funcs", "q_html_extract"]
)
def test_maponly_queries_have_no_shuffle(spark, name):
    p = _plan(spark, name)
    assert count_exchanges(p) == 0, f"{name} should be map-only"


def test_pii_scrub_widens_narrow_scan_only(spark):
    """q_pii_scrub is logically map-only, but _widen_if_narrow inserts
    ONE round-robin exchange when (and only when) the scan yields fewer
    partitions than the session parallelism — the local single-row-group
    corpus hits that branch (regex work must not run on one core).  A
    wide input must come back untouched: the production plan (scan
    tasks >= cores) stays zero-exchange."""
    from pyspec_spark.queries.quality import _widen_if_narrow

    p = _plan(spark, "q_pii_scrub")
    assert count_exchanges(p) == 1
    assert "roundrobin" in p.lower()

    cores = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 10_000, 1, cores).selectExpr(
        "id AS doc_id", "'text ' || id AS text"
    )
    assert _widen_if_narrow(spark, wide) is wide


def test_rollup_cascade_shuffles_once_per_level(spark):
    """minute -> hour -> day: one exchange per aggregation level and
    nothing else; every level has map-side partial aggregation so the
    shuffle carries <= |buckets x keys| rows per input partition."""
    p = _plan(spark, "q_events_rollup")
    assert has_partial_aggregate(p)
    assert count_exchanges(p) == 3


def test_asof_lag_single_shuffle(spark):
    """The as-of/lag window: exactly one shuffle (partitionBy user)."""
    p = _plan(spark, "q_asof_lag")
    assert count_exchanges(p) == 1


def test_window_rank_single_shuffle(spark):
    """All three rank windows share one (partitionBy, orderBy) shuffle."""
    p = _plan(spark, "q_window_rank")
    assert count_exchanges(p) == 1


def test_pricing_summary_stays_in_codegen(spark):
    """The fixed-point HALF_UP aggregation must compile into whole-stage
    codegen, and the per-row hot path (partial aggregation) must use the
    arithmetic FLOOR form, never the per-row BigDecimal round()."""
    from pyspec_spark.plans import simple_plan

    builder = getattr(
        registry.QUERIES["q_pricing_summary"], "__wrapped__",
        registry.QUERIES["q_pricing_summary"],
    )
    df = builder(spark, SF)
    sp = simple_plan(df)
    partials = [ln for ln in sp.splitlines() if "partial_sum" in ln]
    assert partials
    assert all("FLOOR" in ln for ln in partials)
    assert all("round(" not in ln for ln in partials)
    # codegen spans only materialize in the AQE-final executed plan,
    # marked with *(n) stage stars
    executed = physical_plan(df, executed=True)
    assert "*(" in executed


def test_funnel_single_scan_two_exchanges(spark):
    """The sequential funnel is ONE scan of events (not one per stage)
    and ONE user-keyed shuffle + the final global agg: all four stage
    windows and the per-user reduction share partitionBy(user_id)."""
    p = _plan(spark, "q_funnel")
    assert count_exchanges(p) <= 2
    assert len(read_schemas(p)) == 1  # events scanned exactly once


def test_pivot_two_phase_aggregation(spark):
    """Pivot with explicit values: Spark's two-phase plan (pre-reduce on
    (group, pivot) then pivot-final) and nothing more — no value-
    discovery job, no extra shuffles."""
    p = _plan(spark, "q_pivot")
    assert has_partial_aggregate(p)
    assert count_exchanges(p) <= 2


def test_samplers_stay_streaming(spark):
    """Hash-band sampling is a rowwise predicate + one aggregation
    shuffle; stratified sampling is one window shuffle.  Neither may
    grow extra exchanges, and both must prune the scan."""
    p = _plan(spark, "q_hash_sample")
    assert count_exchanges(p) == 1
    (cols,) = read_schemas(p)
    assert len(cols) == 3

    p = _plan(spark, "q_sample_stratified")
    assert count_exchanges(p) == 1
    (cols,) = read_schemas(p)
    assert len(cols) == 3


def test_corr_single_aggregation_pass(spark):
    """All five moment sums reduce in one partial+final aggregation."""
    p = _plan(spark, "q_corr")
    assert has_partial_aggregate(p)
    assert count_exchanges(p) == 1


def test_window_range_single_shuffle(spark):
    """Both range-frame windows share one (partition, order) shuffle."""
    p = _plan(spark, "q_window_range")
    assert count_exchanges(p) == 1


def test_gap_fill_bounded_exchanges(spark):
    """Daily agg + per-user lattice + LOCF window: the lattice join and
    the window reuse the user-keyed distribution (<= 2 exchanges)."""
    p = _plan(spark, "q_gap_fill")
    assert count_exchanges(p) <= 2


def test_lang_id_broadcasts_profile(spark):
    """The trained trigram profile (n_langs x 50 rows) must reach the
    classification join as a broadcast — a shuffle join against the
    exploded test-trigram stream would shuffle the whole corpus."""
    p = _plan(spark, "q_lang_id")
    assert has_broadcast_join(p)


def test_ngram_freq_take_ordered(spark):
    """Top-20 bigrams must compile to TakeOrderedAndProject (never a
    global sort of the full n-gram distribution)."""
    p = _plan(spark, "q_ngram_freq")
    assert has_take_ordered(p)
    assert has_partial_aggregate(p)


def test_minhash_no_cartesian(spark):
    """Candidate generation must be the band-bucket equi-join; any
    cartesian/nested-loop product over documents means LSH blocking
    fell out of the plan."""
    p = _plan(spark, "q_minhash_neardup")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_fingerprint_no_shuffle(spark):
    """Winnowing is map-side: split -> gram md5 -> sliding min ->
    explode, with zero exchanges."""
    p = _plan(spark, "q_fingerprint")
    assert count_exchanges(p) == 0


def test_mad_outliers_broadcasts_stats(spark):
    """The 5-row per-segment median/MAD tables must broadcast back onto
    customer (never shuffle the fact side for a stats join)."""
    p = _plan(spark, "q_mad_outliers")
    assert has_broadcast_join(p)


def test_repetition_single_exchange(spark):
    """Per-doc repetition signals: exactly ONE exchange (the up-front
    repartition("doc_id") of the raw documents) — both downstream
    groupBys are satisfied by that partitioning, and the plan carries
    no interpreted aggregate() HOF (the round-3 2x-perf trap).  Only
    the two needed columns leave the scan."""
    p = _plan(spark, "q_repetition")
    assert count_exchanges(p) == 1
    assert "aggregate(" not in p, "interpreted HOF aggregate crept back in"
    (cols,) = read_schemas(p)
    assert "text" in cols and len(cols) <= 2


def test_quality_gate_single_aggregation(spark):
    """Score map-side, gate, aggregate once: one partial+final shuffle,
    no second scan of documents."""
    p = _plan(spark, "q_quality_gate")
    assert has_partial_aggregate(p)
    assert count_exchanges(p) == 1
    assert len(read_schemas(p)) == 1


def test_pmi_broadcasts_unigrams_and_takes_ordered(spark):
    """The unigram count table (vocab-sized) must broadcast onto the
    bigram side, and top-20 must compile to TakeOrderedAndProject."""
    p = _plan(spark, "q_pmi_bigrams")
    assert has_broadcast_join(p)
    assert has_take_ordered(p)


def test_decontaminate_broadcasts_benchmark(spark):
    """The benchmark shingle set must broadcast onto the corpus side —
    shuffling the exploded corpus shingles against a tiny benchmark
    table would be the wrong plan at any scale."""
    p = _plan(spark, "q_decontaminate")
    assert has_broadcast_join(p)
    assert "CartesianProduct" not in p


def test_token_budget_one_window_shuffle(spark):
    """Hash-ordered cumsum + aggregation: the source-keyed window and
    the final per-source agg are the only exchanges."""
    p = _plan(spark, "q_token_budget")
    assert count_exchanges(p) <= 2


def test_unigram_logprob_broadcasts_vocab(spark):
    """The trained unigram table must broadcast onto the exploded token
    stream: shuffling the corpus tokens against a vocab-sized table is
    the wrong plan at any scale."""
    p = _plan(spark, "q_unigram_logprob")
    assert has_broadcast_join(p)
    assert has_partial_aggregate(p)


def test_embed_quant_single_aggregation(spark):
    """Quantization error is map-side HOF arithmetic + one bounded-key
    aggregation: exactly one exchange."""
    p = _plan(spark, "q_embed_quant")
    assert has_partial_aggregate(p)
    assert count_exchanges(p) == 1


def test_bloom_decontam_probe_is_map_side(spark):
    """The filter builds ONCE (3 bounded benchmark-side exchanges:
    bench distinct, word bit_or, densify) and probes via a broadcast
    of the single densified row; the only corpus-side exchange is the
    per-doc count aggregation (map-side partials).  A k-way join
    formulation re-plans the filter build k times (measured 16 scans /
    7 exchanges); a filter()-lambda zero-shuffle formulation drops to
    3 exchanges but runs the hash chain interpreted — measured 1285 ms
    vs 122 ms at sf0.1 (note in queries/curation.py).  This gate pins
    the single-build + one-corpus-shuffle shape."""
    p = _plan(spark, "q_bloom_decontam")
    # +1 exchange r13: the conditional tables.fanout spread of the
    # sub-split local scan (no-op at real scale) sits under the
    # shingle build
    assert count_exchanges(p) <= 5
    assert "CartesianProduct" not in p
    # bench pass + corpus pass only (each scan node appears twice in
    # formatted explain output: tree line + detail section)
    assert p.count("Scan parquet") == 4


def test_nb_classify_broadcasts_model(spark):
    """Model state (vocab x class grid, priors, scalars) broadcasts
    onto the corpus-sized token streams; exchange count is bounded by
    the model-side aggregations, not corpus fan-out."""
    p = _plan(spark, "q_nb_classify")
    assert has_broadcast_join(p)
    assert count_exchanges(p) <= 12
    assert "CartesianProduct" not in p


def test_split_assign_single_shuffle(spark):
    """Hash-split assignment is map-side; the only exchange is the
    strata-bounded aggregation."""
    p = _plan(spark, "q_split_assign")
    assert count_exchanges(p) == 1
    assert has_partial_aggregate(p)


def test_mix_temperature_bounded_exchanges(spark):
    """Source agg + 1-row normalizer (broadcast back): at most 3
    exchanges, none corpus-keyed beyond the first."""
    p = _plan(spark, "q_mix_temperature")
    assert count_exchanges(p) <= 3


def test_semdedup_cluster_scoped_no_cartesian(spark):
    """The pair scan must be a cid-keyed equi-join (cluster-scoped
    quadratic, the SemDeDup contract), never a global cartesian; the
    k-means model chain broadcasts its centroids."""
    p = _plan(spark, "q_semdedup")
    assert "CartesianProduct" not in p
    assert has_broadcast_join(p)
    assert count_exchanges(p) <= 10


def test_bigram_backoff_broadcasts_model(spark):
    """Bigram/unigram count tables and the scalars broadcast onto the
    held-out bigram stream; exchanges are the train counts + per-doc
    mean, not corpus-sized model joins."""
    p = _plan(spark, "q_bigram_backoff")
    assert has_broadcast_join(p)
    assert count_exchanges(p) <= 8
    assert "CartesianProduct" not in p


def test_event_transitions_bounded_exchanges(spark):
    """One user-keyed window pass + types²-bounded aggregations; the
    per-source totals broadcast back."""
    p = _plan(spark, "q_event_transitions")
    assert count_exchanges(p) <= 5
    assert has_broadcast_join(p)


def test_rfm_windows_over_customer_table_only(spark):
    """The three ntile dimensions rank the |customers|-sized stats
    table via ntile_exact's range-bucketed two-level windows — every
    window is PARTITIONED by the range bucket (never a global sort
    funnel), and no cartesian appears.  (Exchange counts are not
    pinned here: the per-dimension persisted rank frames reprint their
    cached subtrees in explain text, which would double-count.)"""
    p = _plan(spark, "q_rfm")
    assert "hashpartitioning(_bucket" in p, p[:3000]
    assert "CartesianProduct" not in p


def test_curation_pipeline_composed_shape(spark):
    """The four composed stages keep their individual postures: the
    benchmark set broadcasts (semi-join side), no cartesian appears,
    and the whole pipeline stays at <=5 exchanges (exact-dedup groupBy,
    decontam corpus aggs, budget window, final accounting)."""
    p = _plan(spark, "q_curation_pipeline")
    assert has_broadcast_join(p)
    assert "CartesianProduct" not in p
    # <=6 r13: +1 for the conditional tables.fanout spread of the
    # sub-split local scan (no-op at real scale)
    assert count_exchanges(p) <= 6


def test_copurchase_topk_before_model_joins(spark):
    """TakeOrdered must run on the raw pair counts; the lift/support
    model joins happen on the 20 surviving rows only (broadcast), not
    on every distinct pair — measured 1.7 s -> 0.6 s at sf0.1."""
    p = _plan(spark, "q_copurchase")
    assert has_take_ordered(p)
    assert count_exchanges(p) <= 6
    assert "CartesianProduct" not in p


def test_pagerank_bounded_exchanges_no_cartesian(spark):
    """Two unrolled iterations: shuffle count is fixed by K up front
    (edge distinct + degree + per-iter join/agg + top-k), never
    data-dependent; N joins back as a broadcast 1-row aggregate."""
    p = _plan(spark, "q_pagerank")
    assert count_exchanges(p) <= 14
    assert "CartesianProduct" not in p


def test_building_declared_queries_runs_zero_jobs(spark):
    """Plan construction must be driver-side only: no declared query may
    trigger a Spark job (collect/first/count) while being BUILT.  Probe
    vectors, trained models, and profiles all ride in-plan (ADVICE r2:
    the ANN queries' first() probes were the last offenders).

    Documented exemptions: q_dedup_clusters, q_dedup_keep_best,
    q_split_leakage and q_split_repair run iterative min-label
    propagation (the
    connected-components fixpoint) whose per-round convergence count()
    and eager lineage checkpoints ARE execution by design (VERDICT r2
    calls this legitimate) — an iterative algorithm cannot be a single
    lazy plan.  The job count of that operator is bounded separately
    (test_dedup_clusters_job_count_bounded).
    """
    EXEMPT_ITERATIVE = {
        "q_dedup_clusters",
        "q_dedup_keep_best",
        "q_split_leakage",
        "q_split_repair",  # same CC fixpoint as q_split_leakage
        # materializing round-trips BY DESIGN: the lake write / the
        # availableNow stream drain they verify IS execution
        "q_lake_roundtrip",
        "q_stream_tumbling_rt",
        "q_spec_roundtrip",  # the fixture-synthesis collect IS the point
        "q_spec_udtf_roundtrip",  # same fixture collect, UDTF surface
        "q_lake_diff",  # two lake commits by design (the CDC fixture)
        "q_vector_index_roundtrip",  # availableNow ingest drain (ST11)
        "q_stream_late_drop",  # availableNow drain (ST4 lateness policy)
        "q_index_bucket_lookup",  # materializes the bucketed index (r9)
        "q_index_incremental",  # base write + incremental append (r9)
        "q_index_delete",  # index write + tombstone delete (r10, L40e)
        "q_phrase_lookup",  # positional index write + probe (r10, L40f)
        "q_proximity_lookup",  # positional index write + probe (r10)
        "q_index_topk_and",  # index + block-max sidecar write (r10, L40g)
        "q_index_topk_or",  # index + block-max sidecar write (r10, L40g)
        "q_jsonl_roundtrip",  # JSONL stage + landed parse (r10, S8)
        "q_csv_roundtrip",  # CSV stage + landed parse (r10, S9)
        "q_proximity_rerank",  # positional index + norms write (r10, L40h)
        "q_vector_delete",  # index build + CoW delete (r10, ST11c)
        "q_ann_lake_filtered",  # build + delete + filtered serve (r12, L5d)
        "q_batch_retrieval",  # index build + batch scoring (r10, L40i)
        "q_rollup_incremental",  # rollup build + two merges (r10, ST8b)
        "q_index_maintained_topk",  # build+append+delete+serve (r11, L40j)
        "q_lake_evolution",  # rename/retype lifecycle commits (r11)
        # r13: the PQ pair builds both tables, deletes, and the ADC
        # shortlist is a bounded collect by design (L5e).  NOT exempt:
        # q_video_phash_dedup (driver-side mux fixture + lazy
        # mapInPandas — builds with zero jobs) and the L46d mix pair.
        "q_ann_lake_pq",
        "q_ann_lake_pq_batch",  # shares the L5e fixture + batch probes
    }
    from pyspec_spark.tables import load

    # Warm the table cache first: the FIRST spark.read.parquet of a
    # table may run a one-off footer/schema-read job, which is source
    # registration cost, not query-build cost — the gate measures the
    # latter.
    load(spark, SF)
    tracker = spark.sparkContext.statusTracker()

    def job_ids():
        return set(tracker.getJobIdsForGroup(None))

    before = job_ids()
    for name in sorted(registry.QUERIES):
        if name in EXEMPT_ITERATIVE:
            continue
        builder = getattr(
            registry.QUERIES[name], "__wrapped__", registry.QUERIES[name]
        )
        builder(spark, SF)
        new = job_ids() - before
        assert not new, f"{name} ran Spark job(s) {sorted(new)} at plan build"


def test_dedup_clusters_job_count_bounded(spark):
    """Chaos-test the zero-jobs gate's exemption boundary (VERDICT r3
    item 5): q_dedup_clusters IS allowed to run jobs while building
    (iterative min-label propagation), but the count must stay bounded
    by the loop structure — ~3 jobs per round (eager checkpoint +
    convergence count) x max_iter=25 rounds plus setup and the final
    collect.  A regression that adds a job per edge or per node would
    blow well past this."""
    from pyspec_spark.tables import load

    load(spark, SF)  # source-registration jobs don't count
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    builder = getattr(
        registry.QUERIES["q_dedup_clusters"],
        "__wrapped__",
        registry.QUERIES["q_dedup_clusters"],
    )
    rows = builder(spark, SF).collect()
    assert rows  # the sf0.01 pair graph is non-empty
    ran = len(set(tracker.getJobIdsForGroup(None)) - before)
    bound = 25 * 3 + 6
    assert ran <= bound, f"CC loop ran {ran} jobs (bound {bound})"


def test_chunk_docs_maponly(spark):
    """Chunking is explode + substring — zero exchanges."""
    p = _plan(spark, "q_chunk_docs")
    assert count_exchanges(p) == 0, p[:1500]


def test_seq_pack_single_exchange(spark):
    """Sequence packing is one source-keyed window: exactly one
    exchange, no join."""
    p = _plan(spark, "q_seq_pack")
    assert count_exchanges(p) == 1, p[:1500]
    assert "Window" in p


def test_bm25_take_ordered_and_pushed_term_filter(spark):
    """BM25 top-20 compiles to TakeOrderedAndProject and the query-term
    IN-filter sits below the big (doc, term) aggregation — the shuffle
    carries query-term postings only, not the whole inverted index."""
    p = _plan(spark, "q_bm25_topk")
    assert has_take_ordered(p)
    assert has_partial_aggregate(p)
    assert "IN (spark,hash,window)" in p, "query-term filter not in plan"


def test_neardup_owner_plan(spark):
    """Owner rule: the codegen signature path (no interpreted HOF
    minhash), bucket owners joined back without a cartesian, and the
    final per-doc aggregation — bounded exchanges."""
    p = _plan(spark, "q_neardup_owner")
    assert "CartesianProduct" not in p
    assert "Generate" in p  # explode-based signature path (codegen)
    # banded self-alignment is an equi-join on (band, band_hash)
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


def test_dsir_weights_plan(spark):
    """DSIR: m-row ratio tables broadcast (never shuffled onto the
    corpus), top-k via TakeOrderedAndProject, no cartesian beyond the
    1-row totals broadcast."""
    p = _plan(spark, "q_dsir_weights")
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p  # lr table onto the gram stream
    assert "CartesianProduct" not in p  # totals join is BroadcastNestedLoop on 1 row


def test_ppl_gate_broadcast_models_single_tercile_sort(spark):
    """q_ppl_gate keeps the bigram-LM posture (vocabulary-bounded
    broadcast model tables, no cartesian) and adds exactly one window
    function (the per-lang NTILE) — the tercile label must not add
    corpus-sized joins beyond the doc_id lang join."""
    p = _plan(spark, "q_ppl_gate")
    assert has_broadcast_join(p)
    assert "CartesianProduct" not in p
    # formatted plans print each node twice (tree + detail section)
    assert p.count("Window") == 2
    # bigram chain (<=8, its own gate) + lang join + ntile sort + final agg
    assert count_exchanges(p) <= 12


def test_mmr_rerank_shortlist_topk_and_single_pandas_group(spark):
    """q_mmr_rerank's corpus work is the rel scan into a TakeOrdered
    top-20; the embedding cast attaches via a broadcast join of that
    20-row shortlist (never a shuffle of the table), and the greedy is
    exactly one grouped-pandas node."""
    p = _plan(spark, "q_mmr_rerank")
    assert has_take_ordered(p)
    assert has_broadcast_join(p)
    assert "CartesianProduct" not in p.replace(
        "BroadcastNestedLoopJoin", ""
    )  # the 1-row query-vector crossJoin plans as BNLJ, not cartesian
    assert p.count("FlatMapGroupsInPandas") == 2  # tree + detail


def test_token_entropy_single_exchange(spark):
    """q_token_entropy's one up-front doc_id repartition satisfies the
    (doc_id, tok) count, the per-doc window, and the final per-doc agg —
    exactly ONE exchange touches the exploded corpus."""
    p = _plan(spark, "q_token_entropy")
    assert count_exchanges(p) == 1
    assert has_partial_aggregate(p)
    assert "CartesianProduct" not in p


def test_source_kl_no_vocab_broadcast_hint_and_shared_explode(spark):
    """q_source_kl must NOT hint a broadcast of the vocabulary-sized
    token-distribution table (tot) — at web-scale vocab that broadcast
    is a driver OOM; only the source-bounded ns and the 1-row big_n
    carry hints (2 total).  The corpus explode materializes ONCE via
    cache() and is shared by all three consumers."""
    spark.catalog.clearCache()
    builder = getattr(
        registry.QUERIES["q_source_kl"], "__wrapped__", registry.QUERIES["q_source_kl"]
    )
    df = builder(spark, SF)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 2  # ns + big_n, never tot
    p = physical_plan(df)
    assert "InMemoryRelation" in p  # st cached: one corpus explode
    assert "CartesianProduct" not in p
    spark.catalog.clearCache()


def test_source_overlap_single_corpus_shuffle(spark):
    """q_source_overlap's corpus-sized shuffle is exactly ONE (gram-hash
    groupBy with bounded collect_set); the pair expansion is map-side
    and the pair aggregation + presentation sort shuffle only
    |sources|²-bounded rows."""
    p = _plan(spark, "q_source_overlap")
    # gram agg + pair agg + sort, +1 r13: the conditional
    # tables.fanout spread of the sub-split local scan (no-op at real
    # scale) under the gram build
    assert count_exchanges(p) == 4
    assert "CartesianProduct" not in p
    assert "Join" not in p  # set-expansion form, never a self-join


def test_filter_attribution_no_inherited_sort(spark):
    """q_filter_attribution composes on the UNSORTED gopher metric
    table: one map-only scan into the rule expansion, one 7-key
    aggregation, one presentation sort — a corpus-wide doc_id sort
    inherited from q_gopher_rules would double the shuffles."""
    p = _plan(spark, "q_filter_attribution")
    assert count_exchanges(p) == 2
    assert has_partial_aggregate(p)
    assert "CartesianProduct" not in p


def test_hard_negatives_window_group_limit_pushdown(spark):
    """q_hard_negatives: anchors broadcast (never a corpus shuffle for
    the join), and the rank window carries a WindowGroupLimit pushdown —
    each map partition forwards at most k rows per anchor into the
    exchange, so the shuffle is |anchors|·k·partitions, not the scored
    corpus."""
    p = _plan(spark, "q_hard_negatives")
    assert "BroadcastNestedLoopJoin" in p  # label != label anchor join
    assert "CartesianProduct" not in p
    assert "WindowGroupLimit" in p


def test_source_scorecard_single_scan_no_join(spark):
    """q_source_scorecard composes dedup + quality stats over ONE
    corpus scan — the text hash and source ride the metric projection,
    so no join back to the corpus appears; shuffles are the per-source
    distinct-expand (2) plus the presentation sort."""
    p = _plan(spark, "q_source_scorecard")
    assert "Join" not in p
    assert count_exchanges(p) == 3
    assert has_partial_aggregate(p)


def test_sem_decontam_broadcast_mapside_gate(spark):
    """q_sem_decontam: the bench table broadcasts onto one corpus scan
    and the cosine threshold runs map-side, so the only shuffles are
    the contaminated-rows argmax (partial+final) and the presentation
    sort — no sort-merge join, no rank window over the corpus."""
    p = _plan(spark, "q_sem_decontam")
    assert has_broadcast_join(p)
    assert "SortMergeJoin" not in p
    assert "Window" not in p
    assert has_partial_aggregate(p)
    assert count_exchanges(p) <= 3


def test_soft_dedup_no_vocab_broadcast_hint(spark):
    """q_soft_dedup must not HINT a broadcast of the vocabulary-sized
    shingle-df table (the q_source_kl lesson) — at sf0.001 the
    optimizer still picks broadcast from its own size estimate, which
    is fine because that choice reverts to a shuffle join as the
    estimate grows; a hard-coded hint would not.  Gate the logical plan
    for the absence of the hint, and the physical plan for bounded
    shuffles + partial aggregation."""
    spark.catalog.clearCache()
    q = registry.QUERIES["q_soft_dedup"]
    builder = getattr(q, "__wrapped__", q)
    df = builder(spark, SF)
    logical = df._jdf.queryExecution().logical().toString()
    assert "ResolvedHint" not in logical and "hint" not in logical.lower()
    p = physical_plan(df)
    assert has_partial_aggregate(p)
    assert count_exchanges(p) <= 4


def test_token_fertility_single_shuffle(spark):
    """q_token_fertility: map-only per-doc counts into one |langs|-key
    partial+final agg; only (lang, text) read from the corpus."""
    p = _plan(spark, "q_token_fertility")
    assert has_partial_aggregate(p)
    assert count_exchanges(p) == 2  # lang agg + presentation sort
    for cols in read_schemas(p):
        assert set(cols) <= {"lang", "text"}


def test_gate_sweep_single_corpus_scan(spark):
    """q_gate_sweep: the denominators come from a window over the
    20-row aggregate, NOT a totals self-join — the corpus is scanned
    exactly once (the join form measurably re-scanned it; Spark does
    not dedup the shared subtree across join branches here)."""
    p = _plan(spark, "q_gate_sweep")
    assert has_partial_aggregate(p)
    assert len(read_schemas(p)) == 1  # corpus scanned exactly once
    assert "Join" not in p


def test_image_phash_banded_no_cartesian(spark):
    """q_image_phash_dedup: candidates come from the 8-bit band
    equi-join (guaranteed recall at tau=7 by pigeonhole), never an
    all-pairs comparison."""
    p = _plan(spark, "q_image_phash_dedup")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_audio_fp_hash_equijoin_no_cartesian(spark):
    """q_audio_fp_dedup: candidate pairs come from the landmark-hash
    equi-join (the MinHash-band posture), never an all-pairs clip
    comparison."""
    p = _plan(spark, "q_audio_fp_dedup")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_bitext_mine_broadcast_anchors_and_grouplimit(spark):
    """q_bitext_mine: the bounded anchor set broadcasts onto ONE
    target-side scan (BroadcastNestedLoopJoin, never CartesianProduct);
    the margin windows reuse one exchange per partitioning key (src,
    tgt, final argmax) plus the presentation sort = 4 exchanges total,
    and the final argmax carries the WindowGroupLimit pushdown so each
    map partition forwards one row per anchor."""
    p = _plan(spark, "q_bitext_mine")
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p
    assert "WindowGroupLimit" in p
    assert count_exchanges(p) == 4


def test_inverted_index_shared_term_partitioning(spark):
    """q_inverted_index: ONE corpus scan; the gap window and the final
    per-term aggregation share the hash partitioning on term, so only
    three exchanges exist — the (doc,term) aggregation (partial+final),
    the term window (reused by the groupBy), and the presentation
    sort."""
    p = _plan(spark, "q_inverted_index")
    assert len(read_schemas(p)) == 1
    assert count_exchanges(p) == 3
    assert has_partial_aggregate(p)
    assert "Join" not in p


def test_linreg_stats_single_global_aggregate(spark):
    """q_linreg_stats: map-only feature extraction feeding ONE
    partial/final global aggregate — the exchange carries a single row
    per map partition; no join, no window, one corpus scan."""
    p = _plan(spark, "q_linreg_stats")
    assert len(read_schemas(p)) == 1
    assert count_exchanges(p) == 1
    assert has_partial_aggregate(p)
    assert "Join" not in p and "Window" not in p


def test_badword_filter_map_only(spark):
    """q_badword_filter: the blocklist is a plan literal and the gate
    is one map-only codegen projection — no join, no aggregation, the
    only exchange is the presentation sort."""
    p = _plan(spark, "q_badword_filter")
    assert "Join" not in p and "Aggregate" not in p.replace("AdaptiveSparkPlan", "")
    assert count_exchanges(p) == 1


def test_index_lookup_broadcasts_decoded_side(spark):
    """q_index_lookup: the decoded posting rows (bounded by the probed
    terms' df) broadcast onto the documents scan — never a sort-merge
    join of the corpus against the lookup."""
    p = _plan(spark, "q_index_lookup")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert count_exchanges(p) <= 4


def test_split_repair_post_cc_window_only(spark):
    """q_split_repair: the repair itself is ONE cluster-keyed window
    over CC output plus the presentation sort — the split is closed-form
    on doc_id, so no join back to the corpus exists (the CC fixpoint
    runs as its own checkpointed jobs before this plan)."""
    p = _plan(spark, "q_split_repair")
    assert "Join" not in p
    assert count_exchanges(p) <= 2
    assert "Window" in p


def test_epoch_alloc_one_row_broadcasts_no_smj(spark):
    """q_epoch_alloc: the budget total and the weight normalizer are
    1-row broadcast aggregates onto the |sources|-row mix table — never
    a sort-merge join or a cartesian of anything corpus-sized."""
    p = _plan(spark, "q_epoch_alloc")
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p  # the 1-row totals
    assert count_exchanges(p) <= 7


def test_proto_prune_broadcast_centroids_no_smj(spark):
    """q_proto_prune: inherits q_kmeans2's broadcast-centroid shape —
    the member-to-centroid join broadcasts the k-row table and the rank
    is a window over cluster keys; no sort-merge join, no cartesian."""
    p = _plan(spark, "q_proto_prune")
    assert has_broadcast_join(p)
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    assert "Window" in p


def test_drop_audit_no_smj_no_cartesian(spark):
    """q_drop_audit: stage flags attach as broadcast-able left joins of
    vanishing-fraction tables; no sort-merge join of corpus-sized sides,
    no cartesian."""
    p = _plan(spark, "q_drop_audit")
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    assert has_broadcast_join(p)


def test_dedup_tau_sweep_no_cartesian(spark):
    """q_dedup_tau_sweep: the sweep is a map-side <=33-level explode +
    33-key agg ON TOP OF the banded candidate set — no cartesian
    anywhere (the signature joins are the near-dup query's own gated
    shape)."""
    p = _plan(spark, "q_dedup_tau_sweep")
    assert "CartesianProduct" not in p
    assert has_partial_aggregate(p)


def test_triangles_cached_edges_no_cartesian(spark):
    """q_triangles: the edge list is cached once and every self-join
    alias reads the InMemoryRelation (without the cache the as-built
    plan re-ran the whole jaccard pipeline per alias — 72 scans); the
    wedge/closure joins are equi-joins, never cartesian."""
    p = _plan(spark, "q_triangles")
    assert "InMemoryTableScan" in p
    assert "CartesianProduct" not in p


def test_view_purchase_join_equi_key_with_range_residual(spark):
    """q_view_purchase_join: the join carries user_id as a true equi-key
    (hash-joinable) with the time range as residual condition — never a
    nested-loop/cartesian over the event pairs; filters on event_type
    push below the join."""
    p = _plan(spark, "q_view_purchase_join")
    assert has_broadcast_join(p) or "SortMergeJoin" in p  # keyed join
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_twap_shares_user_partitioning(spark):
    """q_twap: the lead window and the per-user aggregation share the
    hash partitioning on user_id — two exchanges total (window +
    presentation sort), one scan, partial aggregation present."""
    p = _plan(spark, "q_twap")
    assert len(read_schemas(p)) == 1
    assert count_exchanges(p) == 2
    assert has_partial_aggregate(p)
    assert "Join" not in p


def test_ohlc_single_shuffle(spark):
    """q_ohlc: open/close ride as struct MIN/MAX inside the same
    partial-aggregated (bucket, type) aggregation as high/low — one
    exchange plus the presentation sort, no window pass."""
    p = _plan(spark, "q_ohlc")
    assert has_partial_aggregate(p)
    assert count_exchanges(p) == 2
    assert "Window" not in p and "Join" not in p


def test_value_outliers_two_shuffles(spark):
    """q_value_outliers: one user-keyed stats aggregation joined back
    on the same key, flag map-side — the join must be keyed (never
    nested-loop) and exchanges bounded."""
    p = _plan(spark, "q_value_outliers")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert has_partial_aggregate(p)
    assert count_exchanges(p) <= 4


def test_user_growth_corpus_shuffle_only_for_first_seen(spark):
    """q_user_growth: the only corpus-sized shuffle is the per-user
    MIN(day); the daily rollup and the running sum run on |days| rows
    (the single-partition window is fine BECAUSE the corpus never
    enters it)."""
    p = _plan(spark, "q_user_growth")
    assert has_partial_aggregate(p)
    assert "Join" not in p
    assert count_exchanges(p) <= 4


def test_gap_percentiles_type_keyed_windows(spark):
    """q_gap_percentiles: the lag and CUME_DIST windows and the final
    aggregation all key on event_type; no join, bounded exchanges."""
    p = _plan(spark, "q_gap_percentiles")
    assert "Join" not in p
    assert has_partial_aggregate(p)
    assert count_exchanges(p) <= 4


def test_bitext_mine_lsh_plan_no_nested_loop(spark):
    """q_bitext_mine_lsh exists to REPLACE the exact path's broadcast
    nested-loop scan: candidates must come from the banded equi-join —
    no cartesian, no BroadcastNestedLoopJoin anywhere in the plan."""
    p = _plan(spark, "q_bitext_mine_lsh")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # the band candidate join is a hash/merge EQUI-join of the two
    # exploded signature sides (broadcast at test scale is fine — it is
    # still keyed on (b, band))
    assert any(
        j in p
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )


def test_triangles_degree_orientation_plan_no_cartesian(spark):
    """The degree-oriented chain join stays equi-join-only too."""
    from pyspec_spark.queries.graph import triangle_memberships

    df = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "a LONG, b LONG")
    p = physical_plan(triangle_memberships(df, orient="degree"))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_train_order_window_is_bucket_partitioned(spark):
    """L45's whole point: the corpus-sized ranking window must be
    PARTITIONED (256 md5-prefix buckets), never the naive global
    ROW_NUMBER's single-partition funnel.  The only SinglePartition
    window allowed in this plan is the 256-row bucket-offset prefix
    sum."""
    plan = _plan(spark, "q_train_order")
    assert "hashpartitioning(_bucket" in plan, plan[:2000]


@pytest.mark.parametrize(
    "name",
    [
        "q_train_mix",
        "q_train_mix_curated",
        "q_train_mix_delta",
        "q_train_mix_curriculum",
    ],
)
def test_train_mix_window_is_bucket_partitioned(spark, name):
    """L46/L46b/L46d/L46f: the replicated-stream ranking window must be
    partitioned by the 256 md5-prefix buckets exactly like L45 —
    neither replication, the curation front-end, the delta extension,
    nor the curriculum tiering may smuggle the naive single-funnel
    ROW_NUMBER back in (the curriculum generalizes the bucket key to
    (tier, _bucket) — still a hash exchange).  The only SinglePartition
    exchanges allowed are the bounded bucket-offset prefix sum, 1-row
    aggregate shapes, and (curated only) the L44 audit's per-source
    budget-cumsum window, which is source-keyed (hashpartitioning),
    never SinglePartition."""
    plan = _plan(spark, name)
    assert re.search(r"hashpartitioning\((tier#\d+L?, )?_bucket", plan), (
        plan[:2000]
    )
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "SinglePartition" in ln:
            ctx = "\n".join(lines[max(0, i - 8) : i + 1])
            assert (
                "_bucket" in ctx
                or "partial_sum(_n" in ctx
                or "Keys: []" in ctx
            ), ctx


def test_train_order_positions_are_a_permutation(spark):
    """pos must be exactly 0..n-1 (no gaps/dupes across the
    bucket-offset splice) and follow the seeded md5 order."""
    from pyspark.sql import functions as F

    from pyspec_spark import registry

    df = registry.QUERIES["q_train_order"].__wrapped__(spark, SF)
    n, mn, mx, d = df.agg(
        F.count("*"), F.min("pos"), F.max("pos"), F.countDistinct("pos")
    ).collect()[0]
    assert (mn, mx, d) == (0, n - 1, n)
    rows = df.orderBy("pos").limit(5).collect()
    import hashlib

    keys = [
        hashlib.md5(f"r10s{r.doc_id}".encode()).hexdigest() for r in rows
    ]
    assert keys == sorted(keys)  # the order really is the seeded key order


def test_batch_retrieval_fanout_is_broadcast(spark):
    """L40i batch retrieval: the (query_id, term) workload fan-out and
    the idf/stats joins must all be BROADCAST — the decoded posting
    stream (the corpus-proportional side) may shuffle only for the
    (query_id, doc_id) aggregation and the per-query top-k window,
    never for the fan-out itself.  One decode shared across queries is
    the whole point of the batch plan; a shuffle fan-out would re-pay
    it per query at 100 TB."""
    p = _plan(spark, "q_batch_retrieval")
    assert has_broadcast_join(p)
    # exchange inventory (all of them, so a regression is visible):
    # decode cumsum window (1) + three BOUNDED metadata aggs riding
    # broadcast arms — per-term df sum, the 1-row norm stats, idf
    # (3) + the (query_id, doc_id) aggregation (1) + the per-query
    # top-k window (1) = 6.  A 7th exchange means the workload fan-out
    # or the idf/stats join regressed from broadcast to shuffle.
    assert count_exchanges(p) <= 6, p
    # the workload table itself must ride a broadcast arm
    assert "BroadcastExchange" in p and "ExistingRDD" in p


def test_ntile_no_single_partition_window(spark):
    """W6: NTILE must never be the global-window Exchange
    SinglePartition funnel over the CORPUS (the shape SCALING r10d
    measured as one-core-bound) — ntile_exact ranks per range-bucket
    and derives the quartile closed-form.  The only SinglePartition
    allowed: the ≤256-row bucket-count prefix sum and 1-row total
    (the global_order_index precedent) — every such exchange's input
    must be the bucket metadata, never customer rows.

    r13: global_rank_index freezes the ranked frame with a tracked
    persist (range-boundary sampling is row-order-dependent, so the
    offsets and output subtrees must read ONE materialization); the
    range exchange + per-bucket window shape is asserted on the
    operator's unfrozen twin (freeze=False, introspection-only),
    while the SinglePartition scan below runs on the PRODUCTION
    plan."""
    from pyspark.sql import functions as F

    from pyspec_spark.operators.ordering import global_rank_index

    twin = global_rank_index(
        spark.range(100).select(F.col("id"), (F.col("id") % 5).alias("v")),
        [F.col("v"), F.col("id")],
        freeze=False,
    )
    tp = twin._sc._jvm.PythonSQLUtils.explainString(
        twin._jdf.queryExecution(), "formatted"
    )
    assert "rangepartitioning" in tp.lower(), tp[:3000]
    assert "hashpartitioning(_bucket" in tp, tp[:3000]
    p = _plan(spark, "q_ntile")
    lines = p.splitlines()
    for i, ln in enumerate(lines):
        if "SinglePartition" in ln:
            ctx = "\n".join(lines[max(0, i - 8) : i + 1])
            # "Keys: []" = a GLOBAL aggregate's final exchange (one row
            # per upstream partition — bounded by construction)
            assert (
                "_bucket" in ctx
                or "partial_sum(_n" in ctx
                or "Keys: []" in ctx
            ), ctx


def test_rfm_no_single_partition_window(spark):
    """R15/E5: all three NTILE(5) dimensions run through ntile_exact —
    previously THREE global windows funneled every customer through one
    reducer.  The only SinglePartition exchanges allowed are the 1-row
    partial->final global max(last_order) aggregate (one row per
    upstream partition — bounded); every SinglePartition occurrence
    must be that shape, never a Window's required distribution."""
    p = _plan(spark, "q_rfm")
    lines = p.splitlines()
    hits = [i for i, ln in enumerate(lines) if "SinglePartition" in ln]
    assert hits, "expected the bounded metadata exchanges"
    for i in hits:
        ctx = "\n".join(lines[max(0, i - 8) : i + 1])
        # bounded shapes only: the 1-row global max(last_order), the
        # ≤256-row bucket prefix sums, or the 1-row bucket totals
        # ("Keys: []" = a global aggregate's final exchange — one row
        # per upstream partition, bounded by construction)
        assert (
            "partial_max" in ctx
            or "_bucket" in ctx
            or "partial_sum(_n" in ctx
            or "Keys: []" in ctx
        ), ctx


def test_vix_probe_no_single_partition_window(spark, tmp_path):
    """ST11 (r12): the _VIX lookup leg must attach n_cand as a
    broadcast 1-row count aggregate, never `count(*) over ()` — with
    nprobe of k cells probed the candidate set is corpus-fraction-sized
    (~nprobe*n/k rows), and a global window would funnel all of it
    through one Exchange SinglePartition BEFORE the TakeOrdered top-k.
    Allowed SinglePartition shapes: only the 1-row aggregate's final
    exchange ("Keys: []" — one row per upstream partition, bounded by
    construction)."""
    from pyspark.sql import functions as F

    from pyspec_spark.lake import lake_append
    from pyspec_spark.queries.lake_queries import _vix_probe_score
    from pyspec_spark.streaming.vectors import assign_cells, save_centroids
    from pyspec_spark.tables import table

    root = str(tmp_path / "vix_gate_lake")
    emb = table(spark, SF, "embeddings").select("vec_id", "embedding")
    cents = emb.where("vec_id < 4").select(
        F.col("vec_id").cast("int").alias("cid"),
        F.transform("embedding", lambda x: x.cast("double")).alias("c"),
    )
    save_centroids(root, cents)
    lake_append(spark, root, assign_cells(emb, cents), "cid")
    qv = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]

    p = physical_plan(_vix_probe_score(spark, root, qv))
    assert has_take_ordered(p), p[:3000]
    assert "Window" not in p, p[:3000]
    lines = p.splitlines()
    for i, ln in enumerate(lines):
        if "SinglePartition" in ln:
            ctx = "\n".join(lines[max(0, i - 8) : i + 1])
            assert "Keys: []" in ctx, ctx


def test_pq_lookup_serve_plan_gate(spark, tmp_path):
    """L5e (r13): the PQ-lake serve's returned plan must be a
    TakeOrdered over the bloom-pruned fetch with n_cand as the 1-row
    broadcast aggregate — no Window, no SinglePartition exchange
    except the bounded "Keys: []" aggregate shape (the _VIX gate,
    applied to the IVFADC tail)."""
    from pyspark.sql import functions as F

    from pyspec_spark.operators.similarity import pq_codebooks_firstk_df
    from pyspec_spark.streaming.vectors import build_pq_lake, pq_lookup
    from pyspec_spark.tables import table

    emb = table(spark, SF, "embeddings").select("vec_id", "embedding")
    cb_rows = sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.where(F.col("vec_id") < 8).collect()
    )
    pq = pq_codebooks_firstk_df(emb, m=4, subd=16, k=16).collect()[0]
    cb = [pq[f"cb{mi}"] for mi in range(4)]
    root = str(tmp_path / "pq_gate_lake")
    build_pq_lake(spark, root, emb, cb_rows, cb, m=4, subd=16)

    p = physical_plan(
        pq_lookup(spark, root, cb_rows[0][1], k=5, nprobe=2, shortlist=16)
    )
    assert has_take_ordered(p), p[:3000]
    assert "Window" not in p, p[:3000]
    lines = p.splitlines()
    for i, ln in enumerate(lines):
        if "SinglePartition" in ln:
            ctx = "\n".join(lines[max(0, i - 8) : i + 1])
            assert "Keys: []" in ctx, ctx


def test_ntile_exact_matches_sql_ntile_semantics(spark):
    """Closed-form remainder distribution == F.ntile for every (n, k)
    shape class: n % k == 0, n % k != 0, n < k, n == 1 — pinned
    against Spark's own NTILE on a single-partition toy frame."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pyspec_spark.operators.ordering import ntile_exact

    for n, k in [(12, 4), (13, 4), (3, 5), (1, 3), (100, 7)]:
        df = spark.range(n).select(F.col("id"))
        want = {
            r["id"]: r["b"]
            for r in df.select(
                "id", F.ntile(k).over(Window.orderBy("id")).alias("b")
            ).collect()
        }
        got = {
            r["id"]: r["b"]
            for r in ntile_exact(df, [F.col("id")], k, "b").collect()
        }
        assert got == want, (n, k)


def test_ann_filtered_pushes_predicate_and_takeordered(spark):
    """L5c filtered vector search: the metadata predicate must reach
    the parquet scan (pre-filtering — distance arithmetic runs over
    the filtered fraction only, and post-filtering a top-k' would be
    the classic filtered-ANN wrong answer), the probe vector must
    broadcast, and top-k must compile to TakeOrdered."""
    p = _plan(spark, "q_ann_filtered")
    assert any("label" in f for f in pushed_filters(p)), p[:2000]
    assert has_broadcast_join(p)
    assert has_take_ordered(p)


def test_minhash_hash_table_arm_follows_input_size(spark):
    """The minhash join arm comes from tables.input_bytes.  A small
    file input broadcasts the distinct-shingle hash table; an input the
    file list cannot size (createDataFrame lists no files) takes the
    fail-safe SHUFFLE_HASH arm, never an unbounded broadcast.
    Plan-only: no job runs."""
    from pyspec_spark.operators.dedup import minhash_signatures
    from pyspec_spark.tables import input_bytes

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id long, text string"
    )
    assert input_bytes(docs) is None
    p = physical_plan(minhash_signatures(docs, n_hashes=4))
    assert "ShuffledHashJoin" in p and "BroadcastHashJoin" not in p
    assert "BroadcastHashJoin" in _plan(spark, "q_minhash_neardup")


def test_input_bytes_sizes_local_files_only(tmp_path):
    """Spark-free: percent-encoded local URIs are unquoted and summed;
    a remote input or an empty file list reads as None ("big")."""
    from urllib.parse import quote

    from pyspec_spark.tables import input_bytes

    class _Frame:
        def __init__(self, uris):
            self._uris = uris

        def inputFiles(self):
            return self._uris

    f = tmp_path / "part 0%.parquet"
    f.write_bytes(b"x" * 10)
    uri = "file://" + quote(str(f))
    assert input_bytes(_Frame([uri, uri])) == 20
    assert input_bytes(_Frame([uri, "s3a://bucket/key.parquet"])) is None
    assert input_bytes(_Frame([])) is None
