"""Text-analysis operators — the north-star training-data brief
(language ID, quality scoring, token counting, fingerprinting).

Scale notes: profile training collects only a tiny per-language model to
the driver (bounded by n_langs x n_features) and broadcasts it back as
literals inside a vectorized pandas UDF; classification itself is
map-only.  Fingerprints/token counts are pure JVM expressions.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspec_spark.lake import (
    current_root,
    publish_root,
    root_history,
    vacuum_roots,
    write_new,
    write_replace,
)

# BPE-ish pretokenizer: word pieces OR single non-space symbols (the
# regex shape GPT-style BPE vocabularies use for pretokenization)
BPE_ISH = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + BPE-ish regex tokens per document."""
    return df.withColumns(
        {
            "n_ws_tokens": F.size(F.split(F.col(text_col), r"\s+")),
            "n_bpe_tokens": F.size(
                F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH), F.lit(0))
            ),
        }
    )


def fingerprint(
    df: DataFrame, text_col: str = "text", k: int = 4, window: int = 8
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer–Wilkerson–Aiken, the
    MOSS scheme): md5-hash every token `k`-gram, keep the minimum hash
    of each sliding window of `window` consecutive k-grams, emit the
    distinct selected hashes as the document's fingerprint set — one
    output row per (doc, `fp`).

    Guarantee: two documents sharing a run of >= window + k - 1 tokens
    share at least one fingerprint.  Entirely map-side (higher-order
    expressions; the only explode is of the already-winnowed set, ~1/w
    of the grams), and md5 makes the selection bit-identical in DuckDB
    -> oracle-checkable."""
    toks = F.split(F.col(text_col), " ")
    n_grams = F.greatest(F.size(toks) - (k - 1), F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n_grams, F.lit(1))),
        lambda i: F.md5(F.array_join(F.slice(toks, i, k), " ")),
    )
    # MATERIALIZE the gram-hash array as a projected column before the
    # winnowing pass.  Referencing the `grams` expression object inside
    # the window lambda would inline the whole md5 computation into the
    # lambda body and re-evaluate EVERY gram at EVERY window position —
    # measured 85.8 s vs 0.25 s at sf0.1 (quadratic md5 count).  The
    # explode below is a Generate barrier, so Catalyst cannot collapse
    # this projection back into the lambda.
    n = F.size(F.col("_grams"))
    fps = F.when(
        n >= window,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(window), F.greatest(n, F.lit(window))),
                lambda j: F.array_min(
                    F.slice(F.col("_grams"), j - (window - 1), window)
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.withColumn("_grams", grams)
        .withColumn("fp", F.explode(fps))
        .drop("_grams")
    )


def char_ngram_profile(
    df: DataFrame, lang_col: str = "lang", text_col: str = "text", n_top: int = 50
) -> dict[str, list[str]]:
    """Train per-language character-trigram rank profiles (the classic
    Cavnar-Trenkle n-gram language-ID scheme).  Returns {lang: [top
    trigrams in rank order]} — a tiny driver-side model."""
    tri = df.select(
        F.col(lang_col).alias("lang"),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length(text_col) - 2, F.lit(1))),
                lambda i: F.col(text_col).substr(i, F.lit(3)),
            )
        ).alias("tri"),
    )
    counts = tri.groupBy("lang", "tri").count()
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(F.desc("count"), "tri")
    top = counts.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= n_top)
    profiles: dict[str, list[str]] = {}
    for r in top.orderBy("lang", "rk").collect():
        profiles.setdefault(r["lang"], []).append(r["tri"])
    return profiles


def lang_id(
    df: DataFrame, profiles: dict[str, list[str]], text_col: str = "text"
) -> DataFrame:
    """Classify by out-of-place distance between the document's trigram
    ranks and each language profile (vectorized pandas UDF; profiles are
    broadcast inside the closure)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    langs = sorted(profiles)
    rank_maps = {
        lang: {t: i for i, t in enumerate(profiles[lang])} for lang in langs
    }
    n_top = max(len(v) for v in profiles.values())

    @pandas_udf(StringType())
    def classify(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if not t:
                out.append(langs[0])
                continue
            from collections import Counter

            tris = Counter(t[i : i + 3] for i in range(max(len(t) - 2, 1)))
            doc_rank = [g for g, _ in sorted(tris.items(), key=lambda kv: (-kv[1], kv[0]))[:n_top]]
            best, best_d = langs[0], float("inf")
            for lang in langs:
                rm = rank_maps[lang]
                d = sum(
                    abs(i - rm[g]) if g in rm else n_top
                    for i, g in enumerate(doc_rank)
                )
                if d < best_d:
                    best, best_d = lang, d
            out.append(best)
        return pd.Series(out)

    return df.withColumn("lang_pred", classify(F.col(text_col)))


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite quality heuristics (length, token diversity, symbol
    ratio) — map-only JVM expressions."""
    toks = F.split(F.col(text_col), r"\s+")
    n_tok = F.size(toks)
    uniq_ratio = F.size(F.array_distinct(toks)) / n_tok
    sym_ratio = (
        F.length(F.regexp_replace(F.col(text_col), r"[A-Za-z0-9\s]", ""))
        / F.length(text_col)
    )
    length_ok = (F.length(text_col) >= 50) & (F.length(text_col) <= 100_000)
    score = (
        F.when(length_ok, 0.4).otherwise(0.0)
        + uniq_ratio * 0.4
        + (1.0 - F.least(sym_ratio * 5.0, F.lit(1.0))) * 0.2
    )
    return df.withColumns(
        {
            "uniq_token_ratio": F.round(uniq_ratio, 6),
            "symbol_ratio": F.round(sym_ratio, 6),
            "quality": F.round(score, 6),
        }
    )


def _cms_bucket(term, j: int, w: int):
    """Row j's bucket for a term: first 8 md5 hex chars (salted by
    concatenation, same engine-portable basis as the minhash/simhash
    family) -> uniform 32-bit int -> % w.  Exact in both engines."""
    h = F.conv(
        F.substring(F.md5(F.concat(term, F.lit(f"#cms{j}"))), 1, 8), 16, 10
    ).cast("long")
    return (h % w).cast("int")


def _cms_bucket_sql(term: str, j: int, w: int) -> str:
    """Parsed-SQL face of :func:`_cms_bucket` — same operators, same
    values, one py4j round trip however many hash rows (r13
    plan-construction note in queries/curation._replicate_copies)."""
    return (
        f"CAST(CAST(conv(substring(md5(concat({term}, '#cms{j}')),"
        f" 1, 8), 16, 10) AS BIGINT) % {w} AS INT)"
    )


def count_min_sketch(
    occurrences: DataFrame,
    term_col: str = "term",
    d: int = 4,
    w: int = 1024,
) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) of a term
    occurrence stream: d independent hash rows of w counters.

    Returns (j, bucket, cnt) with at most d*w rows — the 100 TB point:
    the aggregation's OUTPUT is bounded by the sketch geometry, not by
    the vocabulary, so a trillion-token corpus with a billion-term
    vocabulary still shuffles at most d*w partial counters per map
    task (vs. a per-term groupBy whose map-side combine state and
    shuffle keyspace grow with the vocabulary).  Estimates only
    over-count (collisions add), never under-count.
    """
    # r13: the d salted hash expressions as ONE parsed-SQL projection
    # (1:1 transliteration of the former per-Column chain; see
    # queries/curation._replicate_copies' plan-construction note).
    arr = ", ".join(_cms_bucket_sql(term_col, j, w) for j in range(d))
    return (
        occurrences.selectExpr(f"posexplode(array({arr})) AS (j, bucket)")
        .groupBy("j", "bucket")
        .count()
        .withColumnRenamed("count", "cnt")
    )


def cms_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    term_col: str = "term",
    d: int = 4,
    w: int = 1024,
) -> DataFrame:
    """Point-query the sketch for each probe term: est = min over the d
    rows of that row's bucket counter.  Probes are tiny (heavy-hitter
    candidates) -> broadcast against the (<= d*w)-row sketch; no
    shuffle of anything corpus-sized."""
    arr = ", ".join(_cms_bucket_sql(term_col, j, w) for j in range(d))
    pb = probes.selectExpr("*", f"posexplode(array({arr})) AS (j, bucket)")
    keep = [c for c in probes.columns]
    return (
        F.broadcast(pb)
        .join(sketch, ["j", "bucket"])
        .groupBy(*keep)
        .agg(F.min("cnt").alias("est_cnt"))
    )


def compression_ratio(
    df: DataFrame, text_col: str = "text", level: int = 6
) -> DataFrame:
    """Per-doc zlib compression ratio — the classic cheap quality/
    repetitiveness signal (highly repetitive or templated text
    compresses far below natural prose; near-random noise compresses
    above it).  Deterministic: zlib at a fixed level is bit-stable for
    a given input, so ratios are exactly reproducible.

    Arrow-batched pandas UDF (zlib has no SQL equivalent — this is a
    legitimate Python-side op, vectorized per batch); map-only, so it
    runs where the scan runs at any scale."""
    import zlib

    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    schema = StructType(
        df.schema.fields
        + [
            StructField("raw_len", IntegerType()),
            StructField("comp_len", IntegerType()),
            StructField("compress_ratio", DoubleType()),
        ]
    )

    def run(batches):
        for pdf in batches:
            raw = pdf[text_col].astype(str).str.encode("utf-8")
            raw_len = raw.str.len()
            comp_len = raw.map(lambda b: len(zlib.compress(b, level)))
            out = pdf.copy()
            out["raw_len"] = raw_len.astype("int32")
            out["comp_len"] = comp_len.astype("int32")
            out["compress_ratio"] = (
                comp_len / raw_len.clip(lower=1)
            ).round(6)
            yield out

    return df.mapInPandas(run, schema)


# ---------------------------------------------------------------------------
# Stage-0 web extraction: HTML payload -> visible text.  Declarative
# regexp/replace chain (stays in whole-stage codegen; the same chain
# replays verbatim in DuckDB with the 'g' flag).  Covers the failure
# modes that break naive tag-stripping: script/style bodies must go
# BEFORE the generic tag strip (their content is not visible text and
# may contain raw '<'), and '&amp;' must decode LAST or double-encoded
# entities ('&amp;lt;') would decode twice.  Entity subset is the HTML
# named set that survives ASCII corpora plus the numeric apostrophe;
# a full HTML5 entity table would be a broadcast lookup join, same
# plan shape.  Map-only: parallelizes per scan task at any scale.
#
# Documented regex-trade limits (pinned in test_graph_html.py):
# extraction is SINGLE-PASS by contract — entity decoding reveals
# encoded markup, so a re-run would strip it; a bare '< ... >'
# comparison span is consumed by the generic tag regex; a '>' inside a
# quoted attribute value terminates the tag early.  A conformant HTML5
# tokenizer needs a stateful parser — the declarative chain trades
# those corner cases for whole-stage codegen throughput.
# ---------------------------------------------------------------------------
_HTML_ENTITIES = [
    # &nbsp; is folded into _HTML_STRIP (it decodes to whitespace, so the
    # strip pass can absorb it into the same collapsed run); the rest
    # decode to non-space characters, so no re-collapse is needed after.
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&copy;", "©"),
    ("&amp;", "&"),  # keep last — see module comment
]

# ONE fused strip pass (round-6 perf fix, same recipe as the round-4 PII
# single-alternation collapse): script block | style block | generic tag
# | &nbsp; | whitespace, with a `+` wrapper so an adjacent RUN of any mix
# collapses to a single space in the same pass — this subsumes the old
# separate `\s+` collapse.  Left-to-right scan preserves the old
# pass-ordering semantics: at a `<script` position the block alternative
# is tried before the generic tag, exactly like running the block strip
# first.  3 regex passes + 1 collapse + 7 literal replaces → 1 regex
# pass + 6 literal replaces.  Quantifiers are POSSESSIVE (*+, ++): none
# of these subpatterns can ever benefit from giving characters back
# ([^>] can't match '>', the outer run has no continuation), so
# possessive == greedy semantically, but it stops java.util.regex from
# keeping backtracking state — measured 436 → ~220 ms warm at sf0.1
# (BASELINE.md §round 6).  The DuckDB oracle mirror keeps the plain
# greedy spelling: RE2 is non-backtracking by construction and rejects
# possessive syntax.
#
# r13: the three tag alternatives share the '<' prefix, so it is
# FACTORED out — java.util.regex tries the alternation at every input
# position, and at a non-'<' position the engine now fails 3 branches
# ('<', '&nbsp;', '\s') instead of 5 before declaring no-match.  The
# try order inside the '<' group is unchanged (script block before
# style before generic tag), so precedence — and therefore every match
# — is identical to the unfactored spelling (asserted equal over the
# full sf0.1 corpus; ~20% off the strip pass's wall).
_HTML_STRIP = (
    r"(?is)(?:<(?:script[^>]*+>.*?</script>|style[^>]*+>.*?</style>"
    r"|[^>]++>)|&nbsp;|\s)++"
)


def html_to_text(col):
    """Visible text of an HTML string column (see block comment)."""
    s = F.regexp_replace(col, _HTML_STRIP, " ")
    for ent, rep in _HTML_ENTITIES:
        s = F.replace(s, F.lit(ent), F.lit(rep))
    return F.trim(s)


# ---------------------------------------------------------------------------
# Exact duplicated-substring analysis (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better"): doc-level MinHash/SimHash
# cannot see a boilerplate paragraph shared by otherwise-distinct pages.
# The distributed reformulation of the paper's suffix-array pass: emit
# every n-token gram with its start position, find grams occurring in
# >= min_docs distinct docs (one shuffle on the gram), and fold each
# doc's duplicated starts into merged-interval coverage WITHOUT joining
# back to tokens (interval-union length over the sorted starts — pure
# array math).  At 100 TB: gram emission is map-side explode, the
# deciding shuffle is one groupBy(gram) with map-side partial counts,
# and coverage is a per-doc aggregate; nothing is quadratic and no
# suffix array is materialized.
# ---------------------------------------------------------------------------
def _ngrams_with_pos(toks: DataFrame, n: int) -> DataFrame:
    """(doc_id, start, g): every n-token gram of the `t` array column
    with its 1-based start.  Docs shorter than n emit nothing (the
    WHEN guard also keeps F.sequence from descending when n_tokens-n+1
    < 1 — sequence's default step is -1 for start > stop)."""
    # r13 (second pass): one parsed-SQL generator projection (1:1
    # transliteration of the former Column chain; see
    # queries/curation._replicate_copies' plan-construction note)
    gram_arr = (
        f"CASE WHEN n_tokens >= {n}"
        f" THEN transform(sequence(1, n_tokens - {n} + 1),"
        f" i -> named_struct('start', i, 'g', concat_ws(' ', slice(t, i, {n}))))"
        " ELSE array() END"
    )
    return toks.selectExpr("doc_id", f"explode({gram_arr}) AS sg").selectExpr(
        "doc_id", "sg.start AS start", "sg.g AS g"
    )


def _interval_cover(ss_col, n: int):
    """Union length of intervals [s, s+n-1] over the SORTED start array:
    n for the first + min(n, gap) per successive start."""
    tail_sum = F.when(
        F.size(ss_col) >= 2,
        F.aggregate(
            F.transform(
                F.sequence(F.lit(1), F.size(ss_col) - 1),
                lambda i: F.least(
                    F.lit(n),
                    F.element_at(ss_col, i + 1) - F.element_at(ss_col, i),
                ).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    ).otherwise(F.lit(0).cast("long"))
    return (F.lit(n).cast("long") + tail_sum)


def _interval_cover_sql(ss: str, n: int) -> str:
    """Parsed-SQL face of :func:`_interval_cover` (same tree, one py4j
    round trip)."""
    tail = (
        f"CASE WHEN size({ss}) >= 2"
        f" THEN aggregate(transform(sequence(1, size({ss}) - 1),"
        f" i -> CAST(least({n}, element_at({ss}, i + 1)"
        f" - element_at({ss}, i)) AS BIGINT)),"
        " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        " ELSE CAST(0 AS BIGINT) END"
    )
    return f"(CAST({n} AS BIGINT) + {tail})"


def duplicated_span_stats(
    df: DataFrame,
    n: int = 5,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc stats of token spans whose exact n-gram occurs in
    >= min_docs distinct documents: (doc_id, n_tokens, dup_ngrams,
    dup_cover, dup_frac).  dup_cover is the merged-interval token count
    — the fraction every curation stack thresholds on before dropping
    or cleaning a page."""
    # projections/filters/coverage as parsed SQL (same plan as the
    # Column-chain spelling, ~700 fewer py4j round trips)
    toks = df.selectExpr(
        f"{id_col} AS doc_id", f"split({text_col}, ' ') AS t"
    ).selectExpr("*", "size(t) AS n_tokens")
    base = toks.select("doc_id", "n_tokens")
    grams = _ngrams_with_pos(toks, n)
    dup = (
        grams.groupBy("g")
        .agg(F.expr("COUNT(DISTINCT doc_id)").alias("nd"))
        .where(f"nd >= {min_docs}")
        .select("g")
    )
    per = (
        grams.join(dup, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("dup_ngrams"),
            F.expr("sort_array(collect_list(start))").alias("ss"),
        )
        .selectExpr(
            "doc_id",
            "dup_ngrams",
            f"{_interval_cover_sql('ss', n)} AS dup_cover",
        )
    )
    return (
        base.join(per, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "n_tokens",
            "coalesce(dup_ngrams, 0) AS dup_ngrams",
            "coalesce(dup_cover, CAST(0 AS BIGINT)) AS dup_cover",
            "round(coalesce(dup_cover, CAST(0 AS BIGINT))"
            " / n_tokens, 6) AS dup_frac",
        )
    )


def remove_duplicated_spans(
    df: DataFrame,
    n: int = 5,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep-first exact substring dedup: for every cross-doc duplicated
    n-gram, the occurrence at the lowest (doc_id, start) is the keeper;
    all other occurrences' token spans are excised from the text (a doc
    that repeats the gram internally keeps only its first copy even in
    the keeper doc — the Lee et al. keep-one policy).  Output:
    (doc_id, clean_text, n_tokens, removed_tokens).

    Plan: gram shuffle -> per-gram keeper via MIN(struct(doc_id,start))
    (one aggregation, no self-join) -> per-doc removable-start arrays ->
    map-side token filter with an index lambda.  The token filter is
    O(tokens x removable_starts) per doc — bounded because removable
    starts per doc are capped by n_tokens/1, and in practice tiny."""
    toks = df.select(
        F.col(id_col).alias("doc_id"), F.split(text_col, " ").alias("t")
    ).withColumn("n_tokens", F.size("t"))
    grams = _ngrams_with_pos(toks, n)
    keeper = (
        grams.groupBy("g")
        .agg(
            F.countDistinct("doc_id").alias("nd"),
            F.min(F.struct("doc_id", "start")).alias("keep"),
        )
        .where(F.col("nd") >= min_docs)
        .select("g", "keep")
    )
    removable = (
        grams.join(keeper, "g")
        .where(
            (F.col("doc_id") != F.col("keep.doc_id"))
            | (F.col("start") != F.col("keep.start"))
        )
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("start")).alias("rs"))
    )

    def not_covered(tok, i):
        # i is 0-based; token position p = i+1 is covered iff some
        # removable start s satisfies s <= p <= s+n-1
        p = i + 1
        return ~F.exists(
            F.col("rs"), lambda s: (s <= p) & (p <= s + F.lit(n) - 1)
        )

    removed = F.when(F.size("rs") == 0, F.lit(0).cast("long")).otherwise(
        _interval_cover(F.col("rs"), n)
    )
    return (
        toks.join(removable, "doc_id", "left")
        .withColumn("rs", F.coalesce("rs", F.array().cast("array<int>")))
        .select(
            "doc_id",
            F.concat_ws(" ", F.filter("t", not_covered)).alias("clean_text"),
            "n_tokens",
            removed.alias("removed_tokens"),
        )
    )


def feature_hash_embed(
    df: DataFrame,
    dim: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Feature-hashing document embeddings (Weinberger et al. 2009,
    the 'hashing trick'): every token is folded into one of `dim`
    buckets by md5, with an independent md5-derived ±1 sign to make
    collisions unbiased; the doc vector is the signed occurrence count
    per bucket, L2-normalized.  The cheapest corpus featurizer there
    is — no vocabulary, no training pass — and the md5 basis makes it
    bit-identical in DuckDB (oracle-checkable), unlike a learned
    embedding.

    Determinism: bucket sums and the squared-norm accumulate as exact
    BIGINTs (no float-order dependence); the only floating ops are one
    sqrt and one division per value (both IEEE-exact per input), then
    ROUND(.,6).

    Output: dense (doc_id, dim, fh_val) rows — docs x dim of them;
    missing buckets materialize as 0 inside the per-doc fold (a
    sequence/transform over the collected bucket map — no lattice
    join).  Scale: TWO exchanges total — groupBy(doc_id, bucket) with
    key cardinality bounded by docs x dim, then one per-doc fold of
    <= dim rows that also accumulates the exact BIGINT squared norm;
    the dense expansion is a map-side posexplode.  Consumers that want
    the whole vector per doc should use `feature_hash_vectors` (the
    pre-explode frame) instead of re-aggregating these rows."""
    dense = feature_hash_vectors(df, dim, text_col, id_col).select(
        "doc_id",
        F.posexplode("v").alias("dim0", "fh_val"),
    )
    return dense.select(
        "doc_id", F.col("dim0").cast("int").alias("dim"), "fh_val"
    )


def fh_bucket_sums(
    df: DataFrame,
    dim: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The mergeable core of the hashing trick: per-(doc_id, bucket)
    signed token counts — ONE definition shared by the batch operator
    (`feature_hash_vectors`) and the streaming aggregation
    (`streaming/corpus.py hash_embed_stream`), so the md5 salts,
    substring width, and modulo can never drift between the twins."""
    ex = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(text_col, " ")).alias("tok"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.concat("tok", F.lit("#fh"))), 1, 8), 16, 10)
        .cast("long")
        % dim
    ).cast("int")
    sign = F.when(
        F.conv(F.substring(F.md5(F.concat("tok", F.lit("#sg"))), 1, 8), 16, 10)
        .cast("long")
        % 2
        == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))
    return (
        ex.select("doc_id", bucket.alias("dim"), sign.alias("s"))
        .groupBy("doc_id", "dim")
        .agg(F.sum("s").alias("raw"))
    )


def feature_hash_vectors(
    df: DataFrame,
    dim: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc DENSE hash-embedding vectors: (doc_id, v ARRAY<DOUBLE>
    of length `dim`, rounded normalized values).  This is the
    pre-explode frame — similarity/topic consumers join or score on it
    directly without re-aggregating exploded rows (one exchange saved
    per consumer vs groupBy-collect_list over `feature_hash_embed`'s
    output)."""
    per = fh_bucket_sums(df, dim, text_col, id_col)
    doc = per.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("dim", "raw"))).alias("mp"),
        F.sum(F.col("raw") * F.col("raw")).alias("n2i"),
    )
    raw_vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: F.coalesce(
            F.element_at("mp", d.cast("int")), F.lit(0).cast("long")
        ),
    )
    n2 = F.sqrt(F.col("n2i").cast("double"))
    return doc.select(
        "doc_id",
        F.transform(
            raw_vec,
            lambda r: F.round(
                F.when(n2 > 0, r.cast("double") / n2).otherwise(F.lit(0.0)), 6
            ),
        ).alias("v"),
    )


# ---------------------------------------------------------------------------
# Term-bucketed inverted-index layout (r8) — the write-once production
# layout q_index_lookup's docstring named as prose: the index lands
# hive-partitioned by a STABLE md5-derived term bucket, so a probe for
# terms T opens only T's buckets' directories (path-level pruning — no
# full-index scan, no manifest needed).  md5 rather than F.hash because
# the probe side computes the same bucket DRIVER-side in plain Python
# (hashlib) to build the directory list; Murmur3 has no stdlib twin.
# Bucket count is fixed at write time — size it to the vocabulary and
# target cluster, not the toy test value.
# ---------------------------------------------------------------------------
TERM_INDEX_BUCKETS = 64


def _term_bucket_col(term_col, n_buckets: int):
    return F.pmod(
        F.conv(F.substring(F.md5(term_col), 1, 8), 16, 10).cast("long"),
        F.lit(n_buckets),
    )


def term_bucket_of(term: str, n_buckets: int = TERM_INDEX_BUCKETS) -> int:
    """Driver-side twin of _term_bucket_col (same md5-prefix math)."""
    import hashlib

    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:8], 16) % n_buckets


def write_term_index(
    idx: DataFrame,
    path: str,
    n_buckets: int = TERM_INDEX_BUCKETS,
    mode: str = "overwrite",
) -> None:
    """Materialize an inverted index (term, df, cf, postings — the
    q_inverted_index shape; or the sharded (term, shard, …) shape)
    partitioned by term bucket.  One round-robin repartition on the
    bucket key groups each bucket's vocabulary rows into its own files;
    at 100 TB the write cost IS the index build's own shuffle — this
    adds a bounded re-bucketing of vocabulary-sized rows, never a
    corpus pass.

    ``mode="append"`` lands NEW rows into the existing bucket dirs —
    the incremental-maintenance path (r9): with the sharded layout,
    an increment over a fresh doc-id range writes only its own
    (term, shard) rows and the reader's shard-order concatenation
    replays the merged posting lists with no rebuild (see
    append_term_index)."""
    (
        idx.withColumn("tb", _term_bucket_col(F.col("term"), n_buckets))
        .repartition(F.col("tb"))
        .write.partitionBy("tb")
        .mode(mode)
        .parquet(path)
    )


def append_term_index(
    tf_delta: DataFrame,
    path: str,
    shard_size: int,
    n_buckets: int = TERM_INDEX_BUCKETS,
) -> None:
    """Incremental index maintenance (r9): fold a NEW batch of
    documents into an existing SHARDED term index without rebuilding
    it.  ``tf_delta`` is the (doc_id, term, tf) table of the new docs
    only.  Correctness contract: the delta's doc ids are DISJOINT
    from the base's (monotone ingestion ids — the natural shape of an
    append-only corpus).  Shard boundaries need no alignment: a shard
    split across the base write and an increment decodes correctly
    because every row's gaps are relative to the SHARD base and
    decode_postings windows per stored row.  Duplicate (term, shard)
    rows are therefore legal; verify_term_shards surfaces them for
    readers doing per-shard df/cf accounting (sum across rows).
    Cost: one groupBy over the DELTA (not the corpus) + a
    vocabulary-sized bucketed append.

    Every append also bumps the ``_maint`` postings sequence marker
    (r11, L40j): an index that SERVES BM25 carries a ``_norms``
    sidecar, and a postings append without a matching norms append
    would silently exclude the new documents from top-k at the dl
    inner join — the marker makes assert_norms_current fail loudly
    instead.  Indexes that never serve (the pure lookup family)
    carry the marker harmlessly; nothing reads it.

    Concurrency (r12): the append runs INSIDE a maintenance
    transaction — an os.link CAS on the target postings seq taken
    BEFORE any file lands (_begin_maint_txn), so two appends racing
    from the same base can never interleave postings files: the loser
    raises IndexConflict having written nothing, re-reads, retries."""
    base = _begin_maint_txn(path)
    write_term_index(
        sharded_postings(tf_delta, shard_size), path,
        n_buckets=n_buckets, mode="append",
    )
    _commit_maint_txn(path, base)


def verify_term_shards(idx: DataFrame) -> DataFrame:
    """Audit a sharded index: the (term, shard) keys stored as more
    than one row.  Decode handles them (per-row cumsum windows), but
    per-shard df/cf consumers must SUM across rows — this shows where."""
    return (
        idx.groupBy("term", "shard")
        .count()
        .where(F.col("count") > 1)
        .select("term", "shard", F.col("count").alias("n_rows"))
    )


_TERM_INDEX_SCHEMA = "term STRING, df BIGINT, cf BIGINT, postings STRING"


def _existing_paths(spark, candidates: list[str]) -> list[str]:
    """Existence-filter candidate paths through the Hadoop FileSystem
    API, so probes work on whatever store the index lives on
    (HDFS/object storage at scale, not just the local FS), with a
    plain os.path fallback if the JVM gateway is unavailable.  The
    ONE copy of this logic — every bucket/sidecar probe routes here."""
    try:
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        out = []
        for p in candidates:
            hp = jvm.org.apache.hadoop.fs.Path(p)
            if hp.getFileSystem(conf).exists(hp):
                out.append(p)
        return out
    except Exception:  # pragma: no cover — connect-mode / no gateway
        import os

        return [p for p in candidates if os.path.isdir(p)]


def probe_term_index(
    spark,
    path: str,
    terms: list[str],
    n_buckets: int = TERM_INDEX_BUCKETS,
    empty_schema: str | None = None,
) -> DataFrame:
    """Read ONLY the probed terms' buckets (directory list computed
    driver-side from the md5 twin) and filter to the exact terms —
    lookup cost scales with |probed buckets|, not vocabulary size.

    Bucket dirs that don't exist are skipped (a bucket with no
    vocabulary rows writes no directory — and an index over an EMPTY
    corpus writes none at all, in which case the probe returns an
    empty frame in the flat index schema instead of dying on
    PATH_NOT_FOUND).  Existence goes through the Hadoop FileSystem
    API so the probe works on whatever store the index lives on
    (HDFS/object storage at scale, not just the local FS), with a
    plain os.path fallback if the JVM gateway is unavailable."""
    buckets = sorted({term_bucket_of(t, n_buckets) for t in terms})
    paths = _existing_paths(spark, [f"{path}/tb={b}" for b in buckets])
    if not paths:
        return spark.createDataFrame([], empty_schema or _TERM_INDEX_SCHEMA)
    df = spark.read.parquet(*paths)
    return df.where(F.col("term").isin(*terms))


def sharded_postings(tf: DataFrame, shard_size: int) -> DataFrame:
    """Posting-list sharding by doc-id range (r8) — the stopword-skew
    mitigation the q_inverted_index docstring named as prose: a term
    with df ~ n_docs produces ONE monster (term) group whose sort +
    collect_list stalls its reducer; grouping on (term, doc_id DIV
    shard_size) caps every group at shard_size entries, and shards of
    one term land on different reducers.  Gaps are delta-encoded WITHIN
    the shard from the shard's base doc_id (gap_0 = doc_id - base), so
    a reader reconstructs absolute ids from (shard, base) alone and
    concatenating shards in shard order replays the full posting list.

    Input: the (doc_id, term, tf) table; output one row per
    (term, shard): df_shard, cf_shard, postings."""
    from pyspark.sql import Window

    shard = (F.col("doc_id") / F.lit(shard_size)).cast("long").alias("shard")
    w = Window.partitionBy("term", "shard").orderBy("doc_id")
    g = (
        tf.select("term", "doc_id", "tf", shard)
        .withColumn(
            "gap",
            F.col("doc_id")
            - F.coalesce(
                F.lag("doc_id").over(w), F.col("shard") * F.lit(shard_size)
            ),
        )
        .withColumn("entry", F.concat_ws(":", F.col("gap"), F.col("tf")))
    )
    return g.groupBy("term", "shard").agg(
        F.count("*").alias("df_shard"),
        F.sum("tf").alias("cf_shard"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "entry"))),
                lambda s: s.getField("entry"),
            ),
            ",",
        ).alias("postings"),
    )


def decode_postings(
    idx: DataFrame, base_col=None, shard_size: int | None = None
) -> DataFrame:
    """Invert the delta encoding: (term[, shard], postings) ->
    (term, doc_id, tf) rows.  For the sharded layout pass shard_size;
    for the flat q_inverted_index layout the base is 0.

    The cumulative-gap window partitions by a PER-ROW uid, not just
    (term, shard): every stored row's gaps are relative to its own
    shard base (sharded_postings' first gap = doc_id − shard·size),
    so rows decode independently — which is what makes incremental
    appends composable: a boundary shard split across a base write
    and a later increment decodes correctly with no merge step (r9,
    append_term_index)."""
    from pyspark.sql import Window

    base = (
        (F.col("shard") * F.lit(shard_size)).cast("long")
        if shard_size is not None
        else F.lit(0).cast("long")
    )
    part = ["term", "shard"] if shard_size is not None else ["term"]
    x = idx.withColumn("_row", F.monotonically_increasing_id()).select(
        *part,
        "_row",
        base.alias("base"),
        F.posexplode(F.split("postings", ",")).alias("pos", "entry"),
    ).select(
        *part,
        "_row",
        "base",
        "pos",
        F.split("entry", ":").getItem(0).cast("long").alias("gap"),
        F.split("entry", ":").getItem(1).cast("long").alias("tf"),
    )
    w = Window.partitionBy(*part, "_row").orderBy("pos")
    return x.select(
        "term",
        (F.col("base") + F.sum("gap").over(w)).alias("doc_id"),
        "tf",
    )


# ---------------------------------------------------------------------------
# Block-max sidecar (r10, L40g) — the impact/skip statistic of
# block-max retrieval (Ding & Suel, "Faster top-k document retrieval
# using block-max indexes", SIGIR 2011 — public literature): one
# (term, shard, max_tf) row per posting shard, written under
# ``root/_blockmax`` so partition discovery and every existing reader
# of the bucket layout never see it (the _tombstones precedent —
# underscore-prefixed dirs are hidden from Hadoop/Spark listings).
# max_tf bounds the BM25 term contribution of ANY document in the
# shard: part(tf, dl) = idf·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) is
# increasing in tf and decreasing in dl, so
# part ≤ idf·max_tf·(k1+1)/(max_tf + k1·(1−b)).  Because shards are
# DOC-RANGE partitions (doc d lives in shard d÷size for every term it
# appears in), per-shard bounds sum to a per-DOCUMENT score bound —
# the skip argument is exact per doc, with none of classical WAND's
# pointer-alignment machinery.
#
# The sidecar derives map-side from the stored row (array_max over the
# entry tfs — no explode, no window, no join); it rides the index
# build's own write and is a vocabulary-of-shards-sized table.
# compact_term_index writes a NEW root and does not carry sidecars —
# re-derive with write_block_max(read(dest), dest) after compaction,
# same as the tombstone dir (which compaction retires by design).
# ---------------------------------------------------------------------------
_BLOCKMAX_DIR = "_blockmax"


def _entry_tf(entry_col):
    # entry layouts: "gap:tf" (sharded_postings) and
    # "gap:tf:p0.p1..." (positional_postings) — tf is field 1 in both
    return F.split(entry_col, ":").getItem(1).cast("long")


def write_block_max(
    idx: DataFrame, path: str, n_buckets: int = TERM_INDEX_BUCKETS
) -> None:
    """Derive and write the block-max sidecar for a SHARDED index
    (flat single-row-per-term layouts gain nothing from skipping).
    ``idx`` is the sharded frame (term, shard, …, postings); appends
    compose — run it over each increment's rows exactly as
    append_term_index lands them and the sidecar stays in sync
    (duplicate (term, shard) sidecar rows are legal; consumers take
    MAX, mirroring decode's per-row independence)."""
    bm = idx.select(
        "term",
        "shard",
        F.array_max(
            F.transform(F.split("postings", ","), _entry_tf)
        ).alias("max_tf"),
    )
    (
        bm.withColumn("tb", _term_bucket_col(F.col("term"), n_buckets))
        .repartition(F.col("tb"))
        .write.partitionBy("tb")
        .mode("append")
        .parquet(f"{path}/{_BLOCKMAX_DIR}")
    )


_NORMS_DIR = "_norms"
_NORMS_STATS_DIR = "_norms_stats"


def write_norms(dl: DataFrame, path: str, shard_size: int | None = None) -> None:
    """Write the per-document length norms sidecar under the index
    root (``_norms`` — hidden like ``_tombstones``/``_blockmax``).
    BM25's length normalization needs every candidate's dl and the
    corpus (n_docs, avgdl); storing them WITH the index is what makes
    serving corpus-scan-free — the production shape (Lucene norms).
    ``dl`` is (doc_id, dl); appends compose for incremental builds
    (disjoint doc-id ranges, the append_term_index contract).

    With ``shard_size`` the norms are PARTITIONED by doc-range bucket
    (nb = doc_id ÷ shard_size — the posting shards' own granularity),
    so a query whose candidate doc ranges are known reads only those
    buckets (probe_norms), never the corpus-length table.

    The collection statistics (n_docs, sum_dl) land as a 1-row
    ``_norms_stats`` sidecar: serving must not pay a corpus-length
    aggregate per query for two numbers the build already knows.
    Appends compose here too — readers SUM across rows (exact bigint
    sums, so avgdl = sum/count is reproducible to the last bit).
    ``dl`` is persisted for the call's duration: the norms write and
    the stats aggregate would otherwise each re-run its upstream
    lineage (typically a full corpus tokenize — the dominant build
    cost paid twice).  Reading the just-written sidecar back is NOT
    an alternative under appends: the stats row must cover THIS
    increment's rows only, and a read-back sees prior appends too."""
    dl = dl.select(
        F.col("doc_id").cast("long"), F.col("dl").cast("long")
    ).persist()
    try:  # r14: the norms write moved inside — a failing first write
        # previously left dl persisted for the session
        if shard_size is not None:
            (
                dl.withColumn(
                    "nb", (F.col("doc_id") / F.lit(shard_size)).cast("long")
                )
                .repartition(F.col("nb"))
                .write.partitionBy("nb")
                .mode("append")
                .parquet(f"{path}/{_NORMS_DIR}")
            )
        else:
            dl.write.mode("append").parquet(f"{path}/{_NORMS_DIR}")
        (
            dl.agg(
                F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(f"{path}/{_NORMS_STATS_DIR}")
        )
    finally:
        dl.unpersist()
    # norms land AFTER postings by contract: recording "norms cover
    # every postings batch so far" here makes the lockstep automatic
    # for every caller (r11, L40j — see assert_norms_current)
    mark_norms_current(path)


def read_norms(spark, path: str) -> DataFrame:
    """The index's (doc_id, dl) norms table (bucket column dropped —
    callers join on doc_id).  An EMPTY-corpus build writes the sidecar
    dir with no data files (the partitioned writer emits nothing for
    zero rows), which reads as an empty frame here; a MISSING dir
    still fails loudly — silently falling back to a corpus scan would
    defeat the reason the sidecar exists."""
    from pyspark.errors import AnalysisException

    try:
        return (
            spark.read.parquet(f"{path}/{_NORMS_DIR}")
            .select("doc_id", "dl")
        )
    except AnalysisException as e:
        if "UNABLE_TO_INFER_SCHEMA" not in str(e):
            raise
        # no data files: legal ONLY for an empty-corpus build — the
        # stats sidecar arbitrates (n_docs == 0).  A crashed partial
        # write on a real corpus must stay loud, not serve an empty
        # dl table that silently drops every candidate.
        try:
            n = (
                spark.read.parquet(f"{path}/{_NORMS_STATS_DIR}")
                .agg(F.sum("n_docs"))
                .collect()[0][0]
            )
        except Exception:
            n = None
        if n == 0:
            return spark.createDataFrame([], "doc_id BIGINT, dl BIGINT")
        raise ValueError(
            f"read_norms: {path}/{_NORMS_DIR} has no data files but the "
            f"stats sidecar records n_docs={n!r} — partial/corrupt norms "
            "write"
        ) from e


def read_norm_stats_raw(spark, path: str) -> DataFrame:
    """The exact 1-row (n_docs, sum_dl) bigint totals off the
    ``_norms_stats`` sidecar — for callers doing EXACT arithmetic on
    them (maintained serving subtracts the tombstoned contribution
    before dividing; reconstructing sum_dl from the divided avgdl
    would round-trip through a double and drift off the rebuild)."""
    return spark.read.parquet(f"{path}/{_NORMS_STATS_DIR}").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("sum_dl").cast("long").alias("sum_dl"),
    )


def read_norm_stats(spark, path: str) -> DataFrame:
    """The 1-row collection statistics (n_docs, avgdl) off the
    ``_norms_stats`` sidecar — summed across append rows (exact
    bigint), divided once.  The per-query corpus aggregate this
    replaces was the last corpus-length operation in the serving
    path."""
    return (
        spark.read.parquet(f"{path}/{_NORMS_STATS_DIR}")
        .agg(
            F.sum("n_docs").alias("n_docs"), F.sum("sum_dl").alias("sum_dl")
        )
        .select(
            "n_docs",
            (F.col("sum_dl").cast("double") / F.col("n_docs")).alias("avgdl"),
        )
    )


def probe_norms(spark, path: str, shards: list[int]) -> DataFrame:
    """Bucket-pruned norms read: only the ``nb=`` dirs of the given
    doc-range shard ids (the probe_term_index directory math on the
    norms sidecar).  The caller supplies a BOUNDED shard list — e.g.
    the rarest term's shards, whose count is capped by df(rarest) ÷
    shard_size.

    An empty shard list reads nothing (empty frame — the empty-corpus
    path).  A NON-empty list whose buckets are missing raises: every
    posting shard implies documents in that doc range, so its norm
    bucket must exist — an unbucketed sidecar (write_norms without
    shard_size) or a partial write must fail LOUDLY here, never
    silently drop every candidate at the dl join (the degraded-
    sidecar wrong-answer class)."""
    want = sorted(set(shards))
    if not want:
        return spark.createDataFrame([], "doc_id BIGINT, dl BIGINT")
    paths = _existing_paths(
        spark, [f"{path}/{_NORMS_DIR}/nb={s}" for s in want]
    )
    if len(paths) < len(want):
        got = {p.rsplit("nb=", 1)[1] for p in paths}
        missing = [s for s in want if str(s) not in got]
        raise FileNotFoundError(
            f"probe_norms: norm buckets missing under {path}: {missing!r} "
            "— sidecar not bucketed (write_norms needs shard_size) or a "
            "partial write"
        )
    return spark.read.parquet(*paths).select("doc_id", "dl")


def probe_block_max(
    spark,
    path: str,
    terms: list[str],
    n_buckets: int = TERM_INDEX_BUCKETS,
) -> DataFrame:
    """Bucket-pruned sidecar probe (probe_term_index's directory math
    against ``_blockmax``): returns (term, shard, max_tf) for the
    probed terms, MAX-merged across duplicate rows so incremental
    appends never double-count.  Missing sidecar → empty frame (the
    caller's skip plan degrades to decode-everything, never to wrong
    answers)."""
    buckets = sorted({term_bucket_of(t, n_buckets) for t in terms})
    paths = _existing_paths(
        spark, [f"{path}/{_BLOCKMAX_DIR}/tb={b}" for b in buckets]
    )
    if not paths:
        return spark.createDataFrame(
            [], "term STRING, shard BIGINT, max_tf BIGINT"
        )
    return (
        spark.read.parquet(*paths)
        .where(F.col("term").isin(*terms))
        .groupBy("term", "shard")
        .agg(F.max("max_tf").alias("max_tf"))
    )


# ---------------------------------------------------------------------------
# Term-index publish lifecycle: compact_term_index and
# compact_streamed_index build NEW roots by contract, so a long-lived
# index swaps base/CURRENT between them and reclaims superseded roots
# through the CURRENT-pointer lifecycle in lake.py (publish_root and
# siblings — the one the IVF vector index uses).
# ---------------------------------------------------------------------------
def _looks_like_term_index(root: str) -> bool:
    """tb= bucket dirs, or the _SUCCESS of an empty-corpus write."""
    import os

    if not os.path.isdir(root):
        return False
    return any(
        n.startswith("tb=") or n == "_SUCCESS" for n in os.listdir(root)
    )


def publish_term_index(base: str, root: str) -> None:
    """Atomically point base/CURRENT at a built term-index root and
    append it to base/HISTORY."""
    publish_root(base, root, _looks_like_term_index, "term-index")


current_term_index = current_root
term_index_history = root_history


def vacuum_term_indexes(
    base: str, keep: int = 1, retention_seconds: float = 3600.0
) -> list[str]:
    """Reclaim superseded and aged orphan term-index roots under
    ``base`` (lake.vacuum_roots); returns the deleted root paths."""
    return vacuum_roots(
        base, _looks_like_term_index, keep, retention_seconds
    )


# ---------------------------------------------------------------------------
# Streamed increments (r10) — the read/compact half of the streaming
# index face (streaming/corpus.index_stream_to_buckets writes them).
# Each micro-batch lands its sharded+bucketed rows under
# {inc_path}/batch={batch_id} with mode=overwrite, which is what makes
# a foreachBatch REPLAY after a crash idempotent: a bare append into
# the base bucket dirs would double the replayed batch's postings (the
# crash-between-append-and-checkpoint window), while overwriting the
# batch's own scoped root converges to the same bytes.  Readers union
# the base with the increments at read time (rows decode per-row — the
# L40d rule — so no merge step exists to get wrong); compaction folds
# everything into one new root, after which the increments can be
# retired.
# ---------------------------------------------------------------------------
_SHARDED_COLS = ["term", "shard", "df_shard", "cf_shard", "postings"]


def _has_parquet(path: str) -> bool:
    import glob as _glob
    import os as _os

    return bool(
        _glob.glob(_os.path.join(path, "**", "*.parquet"), recursive=True)
    )


def read_streamed_index(spark, inc_path: str, base_path: str | None = None):
    """Union view of a streamed index: the optional batch-built base
    plus every committed stream increment ({inc}/batch=N roots).
    Read-time only — no files move; empty roots (a stream that has not
    delivered yet, or an all-empty batch) contribute nothing."""
    parts = []
    if base_path is not None and _has_parquet(base_path):
        parts.append(spark.read.parquet(base_path).select(*_SHARDED_COLS))
    if _has_parquet(inc_path):
        parts.append(spark.read.parquet(inc_path).select(*_SHARDED_COLS))
    if not parts:
        return spark.createDataFrame(
            [], "term STRING, shard BIGINT, df_shard BIGINT, "
            "cf_shard BIGINT, postings STRING"
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def compact_streamed_index(
    spark,
    inc_path: str,
    dest: str,
    base_path: str | None = None,
    n_buckets: int = TERM_INDEX_BUCKETS,
) -> None:
    """Fold a streamed index (base + batch increments) into ONE fresh
    bucketed root — the same new-root discipline as compact_term_index
    (readers of the live roots are never disturbed; the caller repoints
    then retires the increments)."""
    import os

    if os.path.abspath(dest) in (
        os.path.abspath(inc_path),
        os.path.abspath(base_path) if base_path else None,
    ):
        raise ValueError("compact_streamed_index requires a NEW dest root")
    write_term_index(
        read_streamed_index(spark, inc_path, base_path), dest,
        n_buckets=n_buckets,
    )


# ---------------------------------------------------------------------------
# Positional postings + phrase matching (r10, L40f) — the inverted
# index stores df/cf/tf but not WHERE each term occurs, so phrase and
# proximity retrieval (standard in every production index) were
# inexpressible.  Positions ride inside each posting entry, gap
# delta-encoded with the same discipline the doc-ids already use
# (position gaps are small and skewed; absolute positions are not):
# entry = "docgap:tf:pgap1|pgap2|…".  A phrase query decodes only the
# phrase terms' postings (bucket-pruned like every probe), shifts each
# term's position set left by its phrase offset, and intersects — an
# in-plan array intersection per candidate doc, never a corpus scan.
# ---------------------------------------------------------------------------
def positional_postings(tok: DataFrame, shard_size: int) -> DataFrame:
    """(doc_id, term, pos) occurrence rows -> one row per (term, shard)
    in the sharded layout (write_term_index-compatible): df_shard,
    cf_shard, postings where each entry is 'docgap:tf:pg1|pg2|…' —
    doc gaps relative to the shard base (the sharded_postings rule, so
    incremental appends stay composable) and position gaps relative to
    the previous position within the doc (first gap = the absolute
    first position).  Shuffle shape: ONE (term, doc_id) aggregation
    (map-side combined) + the shard window/aggregation pair sharing a
    (term, shard) partitioning — identical posture to
    sharded_postings, positions add bytes but no exchanges."""
    from pyspark.sql import Window

    per_doc = tok.groupBy("term", "doc_id").agg(
        F.count("*").alias("tf"),
        F.array_sort(F.collect_list(F.col("pos").cast("long"))).alias("ps"),
    )
    pgaps = F.transform(
        "ps",
        lambda x, i: F.when(i == 0, x).otherwise(
            x - F.element_at("ps", i)  # 1-based i == the previous element
        ),
    )
    shard = (F.col("doc_id") / F.lit(shard_size)).cast("long").alias("shard")
    w = Window.partitionBy("term", "shard").orderBy("doc_id")
    g = (
        per_doc.select(
            "term",
            "doc_id",
            "tf",
            shard,
            F.array_join(pgaps, "|").alias("pstr"),
        )
        .withColumn(
            "gap",
            F.col("doc_id")
            - F.coalesce(
                F.lag("doc_id").over(w), F.col("shard") * F.lit(shard_size)
            ),
        )
        .withColumn(
            "entry", F.concat_ws(":", F.col("gap"), F.col("tf"), F.col("pstr"))
        )
    )
    return g.groupBy("term", "shard").agg(
        F.count("*").alias("df_shard"),
        F.sum("tf").alias("cf_shard"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "entry"))),
                lambda s: s.getField("entry"),
            ),
            ",",
        ).alias("postings"),
    )


_POSITIONAL_SCHEMA = (
    "term STRING, shard BIGINT, df_shard BIGINT, cf_shard BIGINT, "
    "postings STRING"
)


def decode_positional(idx: DataFrame, shard_size: int) -> DataFrame:
    """Invert positional_postings: (term, shard, postings) ->
    (term, doc_id, tf, positions ARRAY<BIGINT> absolute, sorted).
    Doc ids window per stored ROW (the decode_postings rule — rows
    from base writes and later appends decode independently);
    positions un-gap with an in-plan array fold, term-local."""
    from pyspark.sql import Window

    base = (F.col("shard") * F.lit(shard_size)).cast("long")
    x = idx.withColumn("_row", F.monotonically_increasing_id()).select(
        "term",
        "shard",
        "_row",
        base.alias("base"),
        F.posexplode(F.split("postings", ",")).alias("pos", "entry"),
    ).select(
        "term",
        "shard",
        "_row",
        "base",
        "pos",
        F.split("entry", ":").getItem(0).cast("long").alias("gap"),
        F.split("entry", ":").getItem(1).cast("long").alias("tf"),
        F.transform(
            F.split(F.split("entry", ":").getItem(2), r"\|"),
            lambda s: s.cast("long"),
        ).alias("pgaps"),
    )
    positions = F.aggregate(
        "pgaps",
        F.array().cast("array<bigint>"),
        lambda acc, g: F.concat(
            acc,
            F.array(
                F.when(F.size(acc) == 0, g).otherwise(
                    F.element_at(acc, F.size(acc)) + g
                )
            ),
        ),
    )
    w = Window.partitionBy("term", "shard", "_row").orderBy("pos")
    return x.select(
        "term",
        (F.col("base") + F.sum("gap").over(w)).alias("doc_id"),
        "tf",
        positions.alias("positions"),
    )


def phrase_match(decoded: DataFrame, phrase: list[str]) -> DataFrame:
    """Exact phrase retrieval over decoded positional postings
    ((term, doc_id, positions) rows): docs where phrase[0] at p,
    phrase[1] at p+1, … all hold, with the occurrence count.
    Each term's position set is shifted left by its phrase offset and
    the sets intersected — overlapping and repeated-term phrases
    ("table table table" has two "table table" occurrences) count
    correctly because positions within a doc are distinct.  The joins
    are per-candidate-doc on already-probed terms — tiny frames, no
    corpus shuffle."""
    if not phrase:
        raise ValueError("phrase_match: empty phrase")
    out = None
    for i, t in enumerate(phrase):
        # NOTE: the shift lambda must stay SINGLE-parameter — F.transform
        # dispatches on the lambda's arity, and a `lambda p, off=i` form
        # would receive the ARRAY INDEX as `off` (silent wrong results)
        off = F.lit(i)
        part = decoded.where(F.col("term") == t).select(
            "doc_id",
            F.transform("positions", lambda p: p - off).alias(f"_s{i}"),
        )
        out = part if out is None else out.join(part, "doc_id")
    starts = F.col("_s0")
    for i in range(1, len(phrase)):
        starts = F.array_intersect(starts, F.col(f"_s{i}"))
    return (
        out.select("doc_id", F.size(starts).alias("n_occ"))
        .where(F.col("n_occ") > 0)
    )


def proximity_match(
    decoded: DataFrame, term_a: str, term_b: str, window: int
) -> DataFrame:
    """Proximity retrieval over decoded positional postings: docs where
    ``term_a`` and ``term_b`` co-occur within ``window`` tokens, with
    the count of a-positions that have a b-neighbor (n_near) and the
    minimum absolute distance (min_dist) — the standard proximity
    signals a ranker consumes.  Per-candidate-doc array math (positions
    arrays are term-local tf lists, tiny); same probe posture as
    phrase_match."""
    a = decoded.where(F.col("term") == term_a).select(
        "doc_id", F.col("positions").alias("_pa")
    )
    b = decoded.where(F.col("term") == term_b).select(
        "doc_id", F.col("positions").alias("_pb")
    )
    near = F.size(
        F.filter(
            "_pa",
            lambda pa: F.exists(
                "_pb", lambda pb: F.abs(pb - pa) <= F.lit(window)
            ),
        )
    )
    min_dist = F.array_min(
        F.flatten(
            F.transform(
                "_pa",
                lambda pa: F.transform("_pb", lambda pb: F.abs(pb - pa)),
            )
        )
    )
    return (
        a.join(b, "doc_id")
        .select("doc_id", near.alias("n_near"), min_dist.alias("min_dist"))
        .where(F.col("n_near") > 0)
    )


# ---------------------------------------------------------------------------
# Index document DELETION (r10, L40e) — tombstones + merge-on-compact.
# The engine's own curation output deletes documents (dedup losers,
# quality fails, split-leakage repair); without this, removing them
# from a built index meant a full rebuild, defeating the r9
# incremental story.  Production design (the Lucene liveDocs shape):
# deletes append tiny doc-id tombstone rows under the index root; the
# READ path decodes postings as usual and anti-joins the broadcast
# tombstone set (no index row is ever rewritten at delete time); the
# COMPACT pass physically drops tombstoned postings by decode ->
# filter -> re-encode, after which delete+compact equals a
# from-scratch rebuild over the post-delete corpus EXACTLY (pytested).
#
# 100 TB posture: a delete costs one bounded write of the doc-id
# delta — never a corpus or index scan; reads pay one broadcast
# anti-join whose build side is the tombstone set (bounded by deletes
# since the last compact, the quantity compaction exists to cap).
# The `_tombstones` name is load-bearing: Hadoop/Spark ignore
# underscore-prefixed dirs during partition discovery, so the bucket
# layout and its readers never see it.
# ---------------------------------------------------------------------------
_TOMBSTONE_DIR = "_tombstones"


def delete_term_index(doc_ids: DataFrame, path: str) -> None:
    """Mark documents deleted: append their ids as tombstone rows
    under ``path``.  ``doc_ids`` needs a ``doc_id`` column; duplicates
    (re-deleting an already-deleted doc) are harmless — the read path
    is an anti-join and compaction drops them with everything else."""
    (
        doc_ids.select(F.col("doc_id").cast("long"))
        .coalesce(1)
        .write.mode("append")
        .parquet(f"{path}/{_TOMBSTONE_DIR}")
    )


def read_tombstones(spark, path: str) -> DataFrame:
    """The index's tombstone set (empty frame when none exist).
    Existence goes through the Hadoop FS API (object-storage-safe,
    the probe_term_index precedent)."""
    p = f"{path}/{_TOMBSTONE_DIR}"
    if not _existing_paths(spark, [p]):
        return spark.createDataFrame([], "doc_id BIGINT")
    return spark.read.parquet(p)


def apply_tombstones(decoded: DataFrame, tombstones: DataFrame) -> DataFrame:
    """Filter decoded postings to live documents: one broadcast
    anti-join on doc_id (the build side is the tombstone set — bounded
    by deletes since the last compact, never corpus-sized)."""
    return decoded.join(
        F.broadcast(tombstones.select("doc_id")), "doc_id", "left_anti"
    )


def compact_term_index(
    spark,
    path: str,
    dest: str,
    n_buckets: int = TERM_INDEX_BUCKETS,
    shard_size: int | None = None,
    positional: bool = False,
) -> None:
    """Maintenance pass for an incrementally-appended index: every
    append_term_index lands new files in the bucket dirs, so a
    long-lived index accumulates small files.  Rewrite the full index
    into ``dest`` with one file-per-bucket-partition layout.  ``dest``
    must be a NEW root: readers of ``path`` are never disturbed, and
    the caller swaps atomically (the publish_index pattern) or just
    repoints — the same new-root discipline as IVF reindex.

    Without tombstones this is ONE scan + the bucketed write — row
    content untouched, duplicate (term, shard) rows preserved verbatim
    since decode handles them.  With tombstones present (r10,
    delete_term_index) the pass MERGES them: decode -> anti-join the
    tombstone set -> re-encode with sharded_postings, so the output
    holds no trace of deleted docs and no tombstone dir — it equals a
    from-scratch rebuild over the post-delete corpus exactly.  That
    path needs the sharded layout's ``shard_size`` (the flat layout
    has no delete story; rebuild it instead).  A POSITIONAL index
    (positional_postings entries, r10) purges through
    decode_positional + re-encode with ``positional=True``; the purge
    refuses to run plain decode over positional entries — that would
    silently DROP the positions (detected by the third entry field)."""
    import os

    if os.path.abspath(dest) == os.path.abspath(path):
        raise ValueError("compact_term_index requires a NEW dest root")
    idx = spark.read.parquet(path).drop("tb")
    tombs = read_tombstones(spark, path)
    if not tombs.isEmpty():
        if shard_size is None:
            raise ValueError(
                "compact_term_index: tombstone purge needs the sharded "
                "layout's shard_size"
            )
        if not positional and bool(
            idx.where(F.col("postings").rlike("^[0-9]+:[0-9]+:")).take(1)
        ):
            raise ValueError(
                "compact_term_index: positional entries detected — pass "
                "positional=True or the purge would drop the positions"
            )
        if positional:
            live = apply_tombstones(
                decode_positional(
                    idx.select("term", "shard", "postings"),
                    shard_size=shard_size,
                ),
                tombs,
            )
            tok = live.select(
                "term", "doc_id", F.explode("positions").alias("pos")
            )
            idx = positional_postings(tok, shard_size)
        else:
            live = apply_tombstones(
                decode_postings(
                    idx.select("term", "shard", "postings"),
                    shard_size=shard_size,
                ),
                tombs,
            )
            idx = sharded_postings(live, shard_size)
    write_term_index(idx, dest, n_buckets=n_buckets)


# ---------------------------------------------------------------------------
# Maintained-index lifecycle (r11, L40j) — the integration seam between
# index MAINTENANCE (append_term_index / delete_term_index /
# compact_term_index, r9-r10) and retrieval SERVING (the _norms /
# _blockmax sidecars + BM25 top-k, r10).  Before this, the sidecars'
# refresh was a comment-level convention, and the failure mode was
# silent and wrong: _score_decoded inner-joins doc lengths from
# _norms, so serving an index whose postings were appended WITHOUT a
# matching norms append quietly EXCLUDES every new document from
# top-k (the dl join drops them) — no error, no hint.
#
# The mechanism is a pair of monotone sequence markers under
# ``root/_maint`` (hidden dir, the _tombstones/_blockmax precedent):
#
# - ``postings.json``  {"seq": k} — bumped by EVERY postings append
#   (append_term_index does it unconditionally, so even callers that
#   bypass the facade advance it);
# - ``norms.json``     {"seq": k} — set to the postings seq by
#   write_norms (norms are appended AFTER postings by contract).
#
# Serving gates on norms.seq == postings.seq (assert_norms_current,
# called by the shared retrieval plumbing): a postings append whose
# norms never landed makes every subsequent serve FAIL LOUDLY with
# the repair instruction, never silently drop documents.  Indexes
# that predate the markers (or never carry norms — the pure lookup
# family) have no postings.json and pass the gate unchanged.
#
# Marker writes are lake.write_replace (readers resolve either the
# old or the new marker, never a partial file).  Single-writer maintenance is the
# assumed regime, exactly as for append_term_index itself (disjoint
# doc-id ranges = one ingestion pipeline).
#
# The facade functions keep the three artifacts in lockstep:
# build_maintained_index / append_maintained_index land postings +
# _blockmax + _norms(+stats) + markers in one call;
# compact_maintained_index purges tombstones into a NEW root
# (compact_term_index), purges the norms the same way, rewrites the
# stats row from the surviving norms, re-derives _blockmax, and
# writes fresh matched markers — after it, the root is
# indistinguishable from a from-scratch build over the live corpus.
# ---------------------------------------------------------------------------
_MAINT_DIR = "_maint"


def _maint_marker_path(path: str, name: str) -> str:
    import os

    return os.path.join(path, _MAINT_DIR, f"{name}.json")


def read_maint_seq(path: str, name: str) -> int | None:
    """The named maintenance sequence marker (None = never written —
    a legacy or sidecar-less index)."""
    import json
    import os

    p = _maint_marker_path(path, name)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return int(json.load(f)["seq"])


def _write_maint_seq(path: str, name: str, seq: int) -> None:
    import json
    import os

    os.makedirs(os.path.join(path, _MAINT_DIR), exist_ok=True)
    write_replace(_maint_marker_path(path, name), json.dumps({"seq": seq}))


class IndexConflict(RuntimeError):
    """Another maintenance transaction owns (or already published) the
    postings sequence this writer tried to advance to.  Retryable: the
    loser re-reads the index state and re-derives its delta against
    the new base — exactly the lake's LakeConflict / the rollup's
    base_version discipline, brought to index maintenance."""


def _begin_maint_txn(path: str) -> int:
    """Open the maintenance transaction targeting seq base+1 via a
    lake.write_new CAS on ``_maint/txn-<base+1>.lock`` (the lake's
    manifest discipline).  Two writers reading the same base race for
    one link; the loser raises IndexConflict BEFORE writing anything —
    index data files are directory-visible the moment they land, so
    conflicts must be detected at transaction START, not publish time.
    The lock file persists as the transaction record (the manifest
    precedent; the next writer targets the next seq).  A writer that
    CRASHES mid-transaction leaves its lock in place and the index
    potentially carrying a partial append — the repair for both is
    compact_maintained_index into a fresh root, which this lock forces
    loudly instead of letting a second writer interleave with the
    wreckage."""
    import os
    import uuid

    base = read_maint_seq(path, "postings") or 0
    os.makedirs(os.path.join(path, _MAINT_DIR), exist_ok=True)
    lock = os.path.join(path, _MAINT_DIR, f"txn-{base + 1}.lock")
    try:
        write_new(lock, uuid.uuid4().hex)
    except FileExistsError:
        raise IndexConflict(
            f"postings seq {base + 1} under {path} is owned by another "
            "maintenance transaction (or a crashed one — see "
            f"{lock}); re-read the index state and retry against the "
            "new base"
        ) from None
    return base


def _commit_maint_txn(path: str, base: int) -> int:
    """Publish the transaction opened by _begin_maint_txn: advance the
    postings marker to exactly base+1 (the txn lock guarantees no
    other writer advanced it in between)."""
    _write_maint_seq(path, "postings", base + 1)
    return base + 1


def assert_no_open_maint_txn(path: str) -> None:
    """Refuse when a maintenance transaction is OPEN on ``path``: the
    lock for seq+1 exists but the marker has not advanced — either a
    writer is mid-flight (its postings files are landing file-by-file
    and any read now is torn) or a writer CRASHED mid-transaction (the
    root may carry a partial append).  Readers that snapshot the whole
    index (compaction) must check this BEFORE and AFTER their reads:
    the seq-unchanged check alone cannot see a writer that began before
    the reader and commits after it.  A crashed transaction is repaired
    by REBUILDING from the corpus (build_maintained_index into a fresh
    root) — never by compacting the wreckage, which would bake the
    partial append in."""
    import os

    seq = read_maint_seq(path, "postings")
    if seq is None:
        return
    lock = os.path.join(path, _MAINT_DIR, f"txn-{seq + 1}.lock")
    if os.path.exists(lock):
        raise IndexConflict(
            f"a maintenance transaction is open on {path} (txn seq "
            f"{seq + 1} locked, marker at {seq}) — a writer is "
            "mid-flight, or crashed leaving a partial append; wait for "
            "it to publish, or if crashed, rebuild from the corpus "
            "(build_maintained_index into a fresh root)"
        )


def bump_postings_seq(path: str) -> int:
    """Advance the postings marker as a one-shot CAS transaction
    (begin + commit): concurrent bumpers from the same base conflict
    instead of both publishing the same seq (the lost-update race)."""
    base = _begin_maint_txn(path)
    return _commit_maint_txn(path, base)


def mark_norms_current(path: str) -> None:
    """Record that the norms sidecar covers every postings batch
    landed so far (norms append AFTER postings by contract)."""
    _write_maint_seq(path, "norms", read_maint_seq(path, "postings") or 0)


def assert_norms_current(path: str) -> None:
    """The loud-failure gate on the stale-norms wrong-answer class:
    refuse to serve when postings batches landed after the last norms
    append — the dl inner join would silently exclude every document
    of those batches from top-k.  No postings marker (an index built
    before the markers existed, or one that never serves BM25) passes
    unchanged."""
    p = read_maint_seq(path, "postings")
    if p is None:
        return
    n = read_maint_seq(path, "norms")
    if n is None or n < p:
        raise RuntimeError(
            f"stale norms sidecar under {path}: postings seq {p} > norms "
            f"seq {n!r} — an append landed postings without doc lengths, "
            "so BM25 serving would silently drop the appended documents. "
            "Append the delta's norms (write_norms / "
            "append_maintained_index) or rebuild via "
            "compact_maintained_index."
        )


def build_maintained_index(
    spark,
    tf: DataFrame,
    dl: DataFrame,
    path: str,
    shard_size: int,
    n_buckets: int = TERM_INDEX_BUCKETS,
) -> None:
    """Base build of a SERVABLE index: sharded postings + _blockmax +
    _norms(+stats), markers in lockstep.  ``tf`` is (doc_id, term,
    tf); ``dl`` is (doc_id, dl) for the same documents.  The sharded
    frame is persisted across its two consumers (index write, then
    block-max derivation) so the corpus groupBy runs once.  Runs as a
    maintenance transaction (r12): a racing builder/appender raises
    IndexConflict before writing anything."""
    base = _begin_maint_txn(path)
    sharded = sharded_postings(tf, shard_size).persist()
    try:
        write_term_index(sharded, path, n_buckets=n_buckets)
        _commit_maint_txn(path, base)
        write_block_max(sharded, path, n_buckets=n_buckets)
    finally:
        sharded.unpersist()
    # write_norms records the lockstep marker itself
    write_norms(dl, path, shard_size=shard_size)


def append_maintained_index(
    spark,
    tf_delta: DataFrame,
    dl_delta: DataFrame,
    path: str,
    shard_size: int,
    n_buckets: int = TERM_INDEX_BUCKETS,
) -> None:
    """Incremental maintenance that keeps the index SERVABLE: the
    postings append (append_term_index's disjoint-doc-id contract),
    the delta's block-max rows, the delta's norms + stats row, and
    the markers — one call, nothing left stale.  Cost: two bounded
    passes over the DELTA (the sharded groupBy feeding postings +
    blockmax, and the norms write), never the corpus.  Runs as a
    maintenance transaction (r12): an append racing another append or
    compaction of the same root raises IndexConflict before writing
    anything and retries against the new base — two concurrent
    maintainers (one ingestion pipeline plus one compactor) can no
    longer interleave postings and markers silently."""
    base = _begin_maint_txn(path)
    sharded = sharded_postings(tf_delta, shard_size).persist()
    try:
        write_term_index(sharded, path, n_buckets=n_buckets, mode="append")
        _commit_maint_txn(path, base)
        write_block_max(sharded, path, n_buckets=n_buckets)
    finally:
        sharded.unpersist()
    # write_norms records the lockstep marker itself
    write_norms(dl_delta, path, shard_size=shard_size)


def deleted_corpus_stats(spark, path: str, shard_size: int) -> DataFrame:
    """1-row (n_deleted, dl_deleted) — the tombstoned documents'
    contribution to the collection statistics, so maintained serving
    can correct (n_docs, avgdl) to the LIVE corpus exactly (exact
    bigint subtraction; a from-scratch rebuild over the survivors
    computes the same numbers to the last bit).  Bounded: tombstone
    ids resolve to ≤ |tombstones| norm buckets, read via the
    probe_norms directory math, inner-joined to the (bounded,
    broadcast) tombstone set."""
    tombs = read_tombstones(spark, path)
    shard_ids = sorted(
        r[0]
        for r in tombs.select(
            (F.col("doc_id") / F.lit(shard_size)).cast("long")
        )
        .distinct()
        .collect()
    )
    # GHOST tombstones (a doc_id never ingested — re-deletes, stale
    # worklists) map to norm buckets that legitimately don't exist;
    # delete_term_index documents deletes as harmless anti-join
    # inputs, so a ghost must contribute zero here, not crash
    # probe_norms' partial-write guard.  Real tombstoned docs always
    # have their bucket (assert_norms_current holds upstream), so
    # filtering to existing dirs drops only ghosts.
    existing = _existing_paths(
        spark, [f"{path}/{_NORMS_DIR}/nb={sh}" for sh in shard_ids]
    )
    have = {int(p.rsplit("nb=", 1)[1]) for p in existing}
    dead = probe_norms(
        spark, path, [sh for sh in shard_ids if sh in have]
    ).join(
        F.broadcast(tombs.select("doc_id").distinct()), "doc_id"
    )
    return dead.agg(
        F.count("*").alias("n_deleted"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("dl_deleted"),
    )


def compact_maintained_index(
    spark,
    path: str,
    dest: str,
    shard_size: int,
    n_buckets: int = TERM_INDEX_BUCKETS,
    positional: bool = False,
) -> None:
    """Compaction that refreshes EVERY serving artifact, not just the
    postings: purge tombstones into ``dest`` (compact_term_index),
    re-derive _blockmax from the compacted rows, rewrite _norms with
    the tombstoned docs anti-joined out and the stats row re-counted
    from the survivors, and write fresh matched markers.  ``dest``
    equals a from-scratch maintained build over the live corpus —
    the same no-drift contract compact_term_index already pins for
    the postings alone.

    Concurrency (r12): ``dest`` is a private fresh root, so the race
    here is on the READ side — an append or delete landing on ``path``
    mid-compaction would leave ``dest`` silently missing it.  The
    source's postings seq and tombstone file listing are captured at
    start and re-checked after the last source read; a move raises
    IndexConflict (commit-time CAS semantics: the caller discards the
    half-built dest and retries — nothing under ``path`` was
    touched).  An OPEN transaction (lock held, marker not advanced —
    a mid-flight or crashed appender whose files are partially
    visible) is refused at BOTH ends: the seq-unchanged check alone
    cannot see a writer that began before this compaction and commits
    after it.

    The norms TAIL window (r13): build/append commit the postings seq
    BEFORE write_norms lands the doc lengths, so an appender can be
    between its postings commit and its last norms file when this
    compaction starts — assert_no_open_maint_txn passes (its marker
    already advanced past its lock's seq, so no transaction is OPEN)
    and the final seq recheck passes once the appender finishes, yet
    the norms read here would be torn: the half-built dest silently
    bakes in partial doc lengths.  assert_norms_current at START
    closes it:
    mark_norms_current is the LAST step of write_norms, so
    norms==postings at start proves every committed batch's norms are
    fully on disk, and any writer committing after this point moves
    the postings seq and is caught by the existing end recheck."""
    import glob as _glob
    import shutil as _shutil

    assert_no_open_maint_txn(path)
    assert_norms_current(path)
    base_seq = read_maint_seq(path, "postings")
    base_tombs = sorted(_glob.glob(f"{path}/{_TOMBSTONE_DIR}/*.parquet"))

    compact_term_index(
        spark, path, dest,
        n_buckets=n_buckets, shard_size=shard_size, positional=positional,
    )
    write_block_max(
        spark.read.parquet(dest).drop("tb"), dest, n_buckets=n_buckets
    )
    live_dl = apply_tombstones(
        read_norms(spark, path), read_tombstones(spark, path)
    )
    # stage the norms BEFORE publishing dest's markers: write_norms is
    # the last SOURCE read, so the conflict check must follow it
    write_norms(live_dl, dest, shard_size=shard_size)
    assert_no_open_maint_txn(path)
    if (
        read_maint_seq(path, "postings") != base_seq
        or sorted(_glob.glob(f"{path}/{_TOMBSTONE_DIR}/*.parquet"))
        != base_tombs
    ):
        # delete the half-built dest BEFORE raising (r13): it carries
        # postings + blockmax + norms but no postings marker, and the
        # serving gates pass a marker-less root unchanged (the legacy
        # pre-marker pass-through) — an abandoned dest must never be
        # servable by accident
        _shutil.rmtree(dest, ignore_errors=True)
        raise IndexConflict(
            f"source index {path} changed during compaction into "
            f"{dest} (postings seq or tombstones moved) — {dest} has "
            "been deleted; retry against the new state"
        )
    _write_maint_seq(dest, "postings", 1)
    # re-pin the norms marker to the published postings seq
    mark_norms_current(dest)


def read_streamed_norms(spark, inc_path: str, base_path: str | None = None):
    """Union view of a streamed MAINTAINED index's norms: the optional
    batch-built base's ``_norms`` plus every committed increment's
    batch-scoped ``batch=N/_norms`` (streaming/corpus.py
    maintained_index_stream).  Underscore dirs are hidden from the
    postings readers' recursive listing, so the two views never bleed
    into each other; here they are pathed explicitly."""
    import glob as _glob

    parts = []
    if base_path is not None and _has_parquet(f"{base_path}/{_NORMS_DIR}"):
        parts.append(read_norms(spark, base_path))
    inc = sorted(_glob.glob(f"{inc_path}/batch=*/{_NORMS_DIR}"))
    # one read per batch root (bounded by batches-since-compaction):
    # a single multi-path read trips Spark's partition discovery —
    # each root's nb= dirs hang off a DIFFERENT base path
    # (CONFLICTING_DIRECTORY_STRUCTURES)
    for p in inc:
        if _has_parquet(p):
            parts.append(spark.read.parquet(p).select("doc_id", "dl"))
    if not parts:
        return spark.createDataFrame([], "doc_id BIGINT, dl BIGINT")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def compact_streamed_maintained(
    spark,
    inc_path: str,
    dest: str,
    shard_size: int,
    base_path: str | None = None,
    n_buckets: int = TERM_INDEX_BUCKETS,
) -> None:
    """Fold a streamed MAINTAINED index (base + batch increments, each
    carrying batch-scoped norms) into ONE fresh SERVABLE root: postings
    compacted (compact_streamed_index), the norms union rewritten
    bucketed with a fresh stats row, lockstep markers set — the fast
    serving path (assert_norms_current + read_norms) accepts ``dest``
    exactly as it accepts a batch build_maintained_index root.

    Concurrency (r12): same read-side check as
    compact_maintained_index — a micro-batch landing under
    ``inc_path`` mid-fold would be silently missing from ``dest``, so
    the RECURSIVE FILE listing under batch=* (not just the dir names —
    an in-flight batch's directory exists at both ends while its files
    land in between) is captured at start and re-verified after the
    last source read; a move raises IndexConflict (the private dest is
    deleted, retry after the stream quiesces).  When ``base_path`` is
    given it is a source too (compact_streamed_index reads its
    postings + tombstones, read_streamed_norms its norms), so its
    postings/norms seqs and recursive file listing are captured and
    re-verified the same way (r13) — maintenance landing on the BASE
    index mid-fold was previously undetected."""
    import glob as _glob
    import shutil as _shutil

    def _batch_files():
        return sorted(
            _glob.glob(f"{inc_path}/batch=*/**/*", recursive=True)
        )

    def _base_state():
        if base_path is None:
            return None
        # seqs by VALUE (os.replace keeps the marker's name stable, so
        # a file listing alone cannot see a seq bump) + the recursive
        # listing (tombstones/norms/postings land as NEW files)
        return (
            read_maint_seq(base_path, "postings"),
            read_maint_seq(base_path, "norms"),
            sorted(_glob.glob(f"{base_path}/**/*", recursive=True)),
        )

    base_batches = _batch_files()
    base_base = _base_state()

    compact_streamed_index(
        spark, inc_path, dest, base_path=base_path, n_buckets=n_buckets
    )
    write_block_max(
        spark.read.parquet(dest).drop("tb"), dest, n_buckets=n_buckets
    )
    # write_norms recounts (n_docs, sum_dl) from the union; it is the
    # last SOURCE read, so the conflict check must follow it
    write_norms(
        read_streamed_norms(spark, inc_path, base_path),
        dest,
        shard_size=shard_size,
    )
    if _batch_files() != base_batches or _base_state() != base_base:
        # same poison discipline as compact_maintained_index: a dest
        # without its postings marker would pass the legacy serving
        # gates, so it must not survive the conflict
        _shutil.rmtree(dest, ignore_errors=True)
        raise IndexConflict(
            f"streamed index {inc_path} (or its base {base_path}) "
            f"changed during the fold into {dest} — {dest} has been "
            "deleted; retry after the stream and base maintenance "
            "quiesce"
        )
    _write_maint_seq(dest, "postings", 1)
    mark_norms_current(dest)


def chunk_tokens(
    df: DataFrame,
    chunk: int = 32,
    stride: int = 24,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Overlapping token-window chunking (L13b) — the RAG/embedding
    ingestion front-end.  Chunk i of a doc covers tokens
    [i*stride+1 .. i*stride+chunk] (1-based, clamped);
    n_chunks = 1 + ceil(max(n - chunk, 0) / stride), so every token
    lands in >= 1 chunk, short docs produce exactly one chunk, and the
    last window is allowed short (no snap-back heuristic — the
    boundary arithmetic is exact integer math, oracle-checked by
    q_doc_chunks).  Map-only: split + bounded sequence explode +
    slices; zero shuffle."""
    t = df.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("toks"),
        F.size(F.split(F.col(text_col), " ")).alias("n"),
    )
    num = F.greatest(F.col("n") - chunk, F.lit(0))
    nc = (
        F.lit(1)
        + (
            (num + stride - 1 - F.pmod(num + stride - 1, F.lit(stride)))
            / stride
        ).cast("int")
    )
    c = t.withColumn(
        "chunk_id", F.explode(F.sequence(F.lit(0), nc - 1))
    ).withColumn("chunk_id", F.col("chunk_id").cast("int"))
    sl = F.slice(F.col("toks"), F.col("chunk_id") * stride + 1, F.lit(chunk))
    return c.select(
        "doc_id",
        "chunk_id",
        (F.col("chunk_id") * stride).cast("int").alias("chunk_start"),
        F.size(sl).cast("int").alias("n_tokens"),
        F.array_join(sl, " ").alias("chunk_text"),
    )
