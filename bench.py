#!/usr/bin/env python
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Method per BASELINE.md: session reused, untimed warmup pass, then warm =
BEST-OF-3 repeat collects (r5: one warm sample made floor-class deltas
scheduler-noise-bound); fixed SparkSession startup excluded from
per-query numbers and reported separately under "startup_sec".

Two timings per query (VERDICT r2 item 3 — BENCH carries both so the
2x-bound discussion doesn't depend on shuffle-stage reuse):
- warm: repeat-collect of the cached DataFrame (prepared-statement
  model; analyzed-plan + completed-shuffle-stage reuse both active, as
  in an interactive session — matches how the DuckDB baseline was run);
- cold_reexec: the plan is REBUILT (fresh RDD/shuffle ids, so no stage
  reuse) and consumed via the noop sink — every scan, shuffle, and
  aggregation re-executes.  spark.catalog.clearCache() runs before
  every cold run: queries that .cache() an intermediate (the minhash/
  simhash signature tables) would otherwise serve blocks materialized
  during the warm passes via CacheManager's analyzed-plan match, and
  the dominant signature scan would never re-execute (round-3 ADVICE).

Per-query DuckDB oracle timings (queries_oracle_ms) are re-measured in
the same process against the same parquet dir using each query's
declared oracle SQL (BASELINE.md protocol: default threads, warm =
second run), so ratio-vs-baseline is computable from this one JSON
line without cross-referencing BASELINE.md prose.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q_pricing_summary",
    "q_join_5way",
    "q_topk",
    "q_window_rank",
    "q_grid3d",
    "q_events_tumbling",
    "q_events_rollup",
    "q_dedup_docs",
    "q_arr_l2",
    "q_tfidf_topk",
    "q_funnel",
    "q_lang_id",
    "q_minhash_neardup",
    "q_ngram_freq",
    # round 3: corpus-quality family (baselines in BASELINE.md §round 3)
    "q_repetition",
    "q_quality_gate",
    "q_decontaminate",
    # round 4: sketch + retrieval families
    "q_heavy_hitters_cms",
    "q_bm25_topk",
    # round 5: exact duplicated-substring coverage (Lee et al. 2022)
    "q_substr_dup_spans",
    # round 5b: curation + graph family (baselines in BASELINE.md §5b)
    "q_bloom_decontam",
    "q_nb_classify",
    "q_html_extract",
    "q_pagerank",
    "q_semdedup",
    "q_bigram_backoff",
    "q_curation_pipeline",
    # round 6: streaming-face owner rule + DSIR data selection
    "q_neardup_owner",
    "q_dsir_weights",
    # round 6b: CCNet perplexity terciles + MMR diversification
    "q_ppl_gate",
    "q_mmr_rerank",
    # round 7: cross-source duplication matrix, Gopher filter
    # attribution, embedding hard-negative mining (baselines in
    # BASELINE.md §round 7)
    "q_source_overlap",
    "q_filter_attribution",
    "q_hard_negatives",
    "q_source_scorecard",
    # round 7b: dedup-reweighting + decontamination + tuning tables
    "q_soft_dedup",
    "q_sem_decontam",
    "q_token_fertility",
    "q_gate_sweep",
    # round 7c: bitext mining, inverted index, sufficient-stats probe
    "q_bitext_mine",
    "q_inverted_index",
    "q_linreg_stats",
    "q_badword_filter",
    # round 7d: audit/tuning/graph/stream-join faces
    "q_drop_audit",
    "q_dedup_tau_sweep",
    "q_triangles",
    "q_view_purchase_join",
    # round 12: the materialized training mix (L46) — replication +
    # seeded global shuffle + shard coordinates; the oracle pays a
    # corpus-sized single-funnel ROW_NUMBER — and its curated
    # composition (L46b: drop-audit survivors -> kept-mass allocation
    # -> replication -> order)
    "q_train_mix",
    "q_train_mix_curated",
    # round 13: the versioned-mix delta extension (L46d) — two
    # broadcast allocations + order-free base count + version-seeded
    # rank over the delta; the oracle pays both allocation CTE chains
    # plus the single-funnel ROW_NUMBER
    "q_train_mix_delta",
]

# Retrieval-serving tracker (r11, VERDICT r10 item 7): the serving
# family's builds are bounded round-trips one-off-timed in BASELINE
# §10b and deliberately kept OUT of the headline set (the §8b rule) —
# but their warm serve paths would drift invisibly without a
# round-over-round number.  Tracked warm-repeat only (the build runs
# once in the untimed warmup; warm = best-of-3 repeat collects of the
# prepared plan, the same discipline as the headliners), emitted as
# the `serving` block so BENCH_r{N}.json diffs across rounds.
SERVING = [
    "q_index_topk_and",
    "q_index_topk_or",
    "q_proximity_rerank",
    "q_batch_retrieval",
    "q_phrase_lookup",
    "q_proximity_lookup",
    "q_index_maintained_topk",
    "q_ann_lake_filtered",  # r12: filtered serve via the maintained lake
    "q_ann_lake_pq",  # r13: IVFADC serve via the PQ-coded lake pair
    "q_ann_lake_pq_batch",  # r13: 3-query batch serve, one cell pass
]


def summary_line(summary: dict, limit: int = 1950) -> str:
    """The summary as one JSON line that fits the driver's ~2000-char
    tail window: over ``limit``, it sheds the serving dict, then the
    per-query seconds (the worst-5 ratios stay)."""
    summary = dict(summary)
    line = json.dumps(summary, separators=(",", ":"))
    for keys in (("serving",), ("queries", "queries_unit")):
        if len(line) < limit:
            break
        for k in keys:
            summary.pop(k, None)
        line = json.dumps(summary, separators=(",", ":"))
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0

    t0 = time.time()
    from pyspec_spark import registry
    from pyspec_spark.session import get_spark

    registry.load_all()
    spark = get_spark("pyspec_spark_bench")
    spark.range(1).count()  # force JVM+session init
    startup = time.time() - t0

    names = [n for n in HEADLINE if n in registry.QUERIES]
    # Full untimed warmup pass: BASELINE.md's DuckDB numbers are warm
    # (second run); a fresh JVM pays JIT + codegen compilation on its
    # first executions, which is startup cost, not query cost.
    for name in names:
        registry.QUERIES[name](spark, sf_dir).collect()
    # Warm = BEST-OF-3 repeat collects (r4 VERDICT item 3): a single
    # warm sample put floor-class queries (sub-90 ms) at the mercy of
    # scheduler noise — r4's apparent q_window_rank/q_events_tumbling
    # "regressions" were unreadable.  min-of-3 makes round-over-round
    # deltas meaningful.
    times: dict[str, float] = {}
    for name in names:
        fn = registry.QUERIES[name]
        best = float("inf")
        for _ in range(3):
            t = time.time()
            fn(spark, sf_dir).collect()
            best = min(best, time.time() - t)
        times[name] = round(best, 3)

    # Serving tracker: warm-repeat only.  The first (untimed) call
    # builds the index/tmp-root fixture and caches the prepared plan;
    # the timed repeats re-execute the SERVE path over the built
    # artifacts — the number that must not drift round-over-round.
    serving: dict[str, float] = {}
    for name in [n for n in SERVING if n in registry.QUERIES]:
        fn = registry.QUERIES[name]
        fn(spark, sf_dir).collect()  # build + plan-cache, untimed
        best = float("inf")
        for _ in range(3):
            t = time.time()
            fn(spark, sf_dir).collect()
            best = min(best, time.time() - t)
        serving[name] = round(best, 3)

    # Cold full re-execution: rebuild the plan (bypassing the registry's
    # prepared-plan cache, so RDD/shuffle ids are fresh and no completed
    # stage can be reused) and drive it through the noop sink.  JIT is
    # already hot from the passes above — this isolates real recompute
    # cost, not JVM warmup.
    cold: dict[str, float] = {}
    for name in names:
        builder = getattr(
            registry.QUERIES[name], "__wrapped__", registry.QUERIES[name]
        )
        best = float("inf")
        for _ in range(2):  # best-of-2: damps scheduler noise, each run
            # Drop every cached relation first: CacheManager matches the
            # rebuilt (semantically identical) analyzed plan and would
            # serve warm-pass blocks for queries that .cache() interior
            # results, silently skipping their dominant stage.
            spark.catalog.clearCache()
            t = time.time()  # is still a full rebuild + re-execution
            builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t)
        cold[name] = round(best, 3)

    # Drain tracked persisted inputs (r13): builders that persist an
    # intermediate register it with the registry; measurements are done,
    # so release the executor memory before the oracle pass.
    registry.release_persisted()

    # DuckDB oracle rerun (BASELINE.md protocol): same parquet views,
    # default threads, warm = second run; None for rows-only queries.
    oracle_ms: dict[str, float | None] = {}
    try:
        from pyspec_spark.oracle import duckdb_connect

        con = duckdb_connect(sf_dir)
        for name in names:
            sql = registry.ORACLES.get(name)
            if sql is None:
                oracle_ms[name] = None
                continue
            best = float("inf")
            for i in range(3):
                t = time.time()
                con.execute(sql).fetchdf()
                if i > 0:  # first run is the warmup, min of runs 2-3
                    best = min(best, time.time() - t)
            oracle_ms[name] = round(best * 1000, 1)
    except Exception as e:  # noqa: BLE001 — bench must still emit JSON
        oracle_ms = {n: None for n in names}
        oracle_ms["_error"] = str(e)[:200]  # type: ignore[assignment]

    total = round(sum(times.values()), 3)
    payload = {
        "metric": "headline_suite_warm_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "queries_cold_reexec": cold,
        "serving": serving,
        "queries_oracle_ms": oracle_ms,
        "cold_reexec_total": round(sum(cold.values()), 3),
        "sf": sf,
        "startup_sec": round(startup, 2),
        "n_queries": len(times),
        "methodology": (
            "warm = best-of-3 repeat collects (plan+shuffle-"
            "stage reuse); cold_reexec = rebuilt plan, caches "
            "cleared, noop sink, every stage re-executed, "
            "best-of-2; oracle_ms = DuckDB warm best-of-2 "
            "after warmup of the declared oracle SQL, same dir"
        ),
    }
    # Durable full copy first (round 5's stdout JSON line was truncated
    # by the driver's tail capture — the in-repo file is the evidence of
    # record; stdout remains the driver contract).  Round number = one
    # past the newest recorded BENCH_r{N}.json, since the driver writes
    # that file only AFTER this script runs.
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        import re

        rounds = [
            int(m.group(1))
            for f in os.listdir(here)
            if (m := re.fullmatch(r"BENCH_r(\d+)\.json", f))
        ]
        full_name = f"BENCH_full_r{max(rounds, default=0) + 1:02d}.json"
        with open(os.path.join(here, full_name), "w") as fh:
            json.dump(payload, fh, indent=1)
            fh.write("\n")
    except OSError:
        pass  # read-only checkout: stdout line still carries everything
    sys.stdout.flush()
    print(json.dumps(payload, separators=(",", ":")), flush=True)
    # The driver captures only a ~2000-char stdout tail; the full line
    # above exceeds it, so a compact summary is emitted as the LAST
    # line.  r14 measurement-bug fix (VERDICT r13 item 2): the r13
    # summary trimmed `queries` to the 5 WORST warm-vs-oracle RATIOS —
    # rotating membership + ratio units made the driver's
    # round-over-round diff report phantom drops and compare ratios
    # against seconds.  `queries` is now the FIXED-membership warm
    # SECONDS dict for all headline queries (same names every round,
    # same unit as `value`), and the worst-5 ratios keep flowing under
    # their own key (`worst5_warm_ratio_vs_duckdb` — the r13-era
    # numbers stay comparable there).  Full detail still lives in
    # BENCH_full_r{N}.json.
    ratios = {
        n: round(times[n] / (oracle_ms.get(n) / 1000.0), 2)
        for n in times
        if isinstance(oracle_ms.get(n), (int, float)) and oracle_ms[n] > 0
    }
    worst5 = dict(sorted(ratios.items(), key=lambda kv: -kv[1])[:5])
    summary = {
        "metric": "headline_suite_warm_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "queries_unit": "sec",
        "worst5_warm_ratio_vs_duckdb": worst5,
        "cold_reexec_total": payload["cold_reexec_total"],
        "median_warm_ratio": (
            round(sorted(ratios.values())[len(ratios) // 2], 3) if ratios else None
        ),
        "serving": serving,
        "sf": sf,
        "n_queries": len(times),
        "full": "BENCH_full_r{N}.json in-repo has per-query detail",
    }
    print(summary_line(summary), flush=True)


if __name__ == "__main__":
    main()
