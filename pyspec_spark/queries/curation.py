"""Corpus curation round 5b — the pipeline stages between dedup and
training: Bloom-filter decontamination (L14), in-plan Naive Bayes
domain/language classification (L15), deterministic train/val/test
splitting and temperature-weighted source mixing (L16), and stage-0
HTML -> text extraction over in-plan synthesized pages (L17).

Reference loci (SURVEY.md §0 policy): none of these exist in
`stuwilkins/pyspec` — north-star training-data-pipeline surface.
Public algorithm sources: Bloom 1970 (CACM 13(7)) for the filter;
multinomial Naive Bayes with Laplace smoothing (standard form, e.g.
Manning/Raghavan/Schütze IR ch.13); temperature-based mixture weighting
p_s ∝ tokens_s^alpha as used in multilingual corpus sampling.

Determinism (SURVEY.md §5.3): all hash decisions are md5-derived
(identical hex both engines); every ln()/sqrt() result is snapped to
fixed-point micro-units through the sign-split floor idiom BEFORE any
sum, so scores are exact integers and order-independent; argmax ties
break lexicographically; token sums cast to BIGINT.

Scale notes (100 TB posture):
- q_bloom_decontam: the filter is a CONSTANT-SIZE broadcast (bits/32
  words) however large the benchmark set grows — the exact
  q_decontaminate broadcast grows with the benchmark.  Probe = codegen
  explode + element_at/bitmask against the one broadcast filter row;
  the single corpus shuffle carries map-side partially-aggregated
  per-doc counts (see the in-function note on the measured
  HOF-lambda-vs-codegen tradeoff).  FPR = (1-e^(-kn/m))^k, no false
  negatives.
- q_nb_classify: model state (class priors + vocab x class log-probs)
  is vocabulary-bounded, never corpus-bounded; it broadcasts onto the
  test token stream.  Corpus-sized shuffles: train token count, test
  doc-term count, per-doc score aggregation — all keyed, no skew
  (keys are (lang, token) / (doc_id, token) / (doc_id, lang)).
- q_split_assign / q_mix_temperature: map-side hash assignment + one
  bounded aggregation; output is strata-bounded (langs x splits,
  sources), so these run at any scale with one shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspec_spark.functions.determinism import _fixed6
from pyspec_spark.operators.bloom import (
    BLOOM_BITS,
    bloom_build,
    bloom_probe,
    bloom_to_array,
)
from pyspec_spark.registry import PERSIST_SEQ as _PERSIST_SEQ
from pyspec_spark.registry import query
from pyspec_spark.tables import table


def _toks():
    return F.split("text", " ")


def _hash_mod100(col: Column, salt: str) -> Column:
    """``('0x'||substr(md5(v||salt),1,8))::BIGINT % 100`` — the house
    md5-bucket idiom (identical in DuckDB), bucket in [0, 100)."""
    h = F.md5(F.concat(col.cast("string"), F.lit(salt)).cast("binary"))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 100


def _hash_mod100_sql(expr: str, salt: str) -> str:
    """Parsed-SQL face of :func:`_hash_mod100` — same operators, same
    values, one py4j round trip (r13 plan-construction note in
    `_replicate_copies`)."""
    return (
        f"CAST(conv(substring(md5(CAST(CAST({expr} AS STRING) || '{salt}'"
        " AS BINARY)), 1, 8), 16, 10) AS BIGINT) % 100"
    )


# ---------------------------------------------------------------------------
# L14 — Bloom-filter decontamination.  Same benchmark definition and
# shingle basis as q_decontaminate (doc_id < 10, distinct token
# bigrams) so the two paths are directly comparable: Bloom containment
# >= exact containment per doc (no false negatives; FPR tested).
# The oracle rebuilds the identical filter bit-for-bit in SQL.
# ---------------------------------------------------------------------------
_BENCH_MAX_ID = 10  # = quality._BENCH_MAX_ID (same benchmark slice)
_BLOOM_MIN = 0.6

_SHINGLES_CTE = """
sh AS (
  SELECT doc_id,
         CASE WHEN len(string_split(text, ' ')) >= 2
              THEN list_distinct(list_transform(
                  range(1, len(string_split(text, ' '))),
                  i -> string_split(text, ' ')[i] || ' ' ||
                       string_split(text, ' ')[i + 1]))
              ELSE [] END AS shingles
  FROM documents
)
"""

_BLOOM_POS = (
    "(('0x' || substr(md5(shingle || '#b{i}'), 1, 8))::BIGINT % {bits})"
)

_BLOOM_ORACLE = f"""
WITH {_SHINGLES_CTE},
bench AS (
  SELECT DISTINCT unnest(shingles) AS shingle FROM sh
  WHERE doc_id < {_BENCH_MAX_ID}
),
pos AS (
  SELECT {_BLOOM_POS.format(i=0, bits=BLOOM_BITS)} AS p FROM bench
  UNION ALL
  SELECT {_BLOOM_POS.format(i=1, bits=BLOOM_BITS)} FROM bench
  UNION ALL
  SELECT {_BLOOM_POS.format(i=2, bits=BLOOM_BITS)} FROM bench
),
bloom AS (
  SELECT p // 32 AS word_idx,
         BIT_OR(1::BIGINT << CAST(p % 32 AS INT)) AS bits
  FROM pos GROUP BY 1
),
corpus AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh
  WHERE doc_id >= {_BENCH_MAX_ID} AND len(shingles) > 0
),
probe AS (
  SELECT doc_id, shingle,
         {_BLOOM_POS.format(i=0, bits=BLOOM_BITS)} AS p0,
         {_BLOOM_POS.format(i=1, bits=BLOOM_BITS)} AS p1,
         {_BLOOM_POS.format(i=2, bits=BLOOM_BITS)} AS p2
  FROM corpus
),
hit AS (
  SELECT pr.doc_id,
         ((COALESCE(b0.bits, 0) & (1::BIGINT << CAST(pr.p0 % 32 AS INT))) != 0
          AND (COALESCE(b1.bits, 0) & (1::BIGINT << CAST(pr.p1 % 32 AS INT))) != 0
          AND (COALESCE(b2.bits, 0) & (1::BIGINT << CAST(pr.p2 % 32 AS INT))) != 0
         ) AS is_hit
  FROM probe pr
  LEFT JOIN bloom b0 ON b0.word_idx = pr.p0 // 32
  LEFT JOIN bloom b1 ON b1.word_idx = pr.p1 // 32
  LEFT JOIN bloom b2 ON b2.word_idx = pr.p2 // 32
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_sh,
       CAST(COUNT(CASE WHEN is_hit THEN 1 END) AS BIGINT) AS n_hit,
       ROUND(COUNT(CASE WHEN is_hit THEN 1 END) * 1.0 / COUNT(*), 6)
         AS containment
FROM hit
GROUP BY doc_id
HAVING ROUND(COUNT(CASE WHEN is_hit THEN 1 END) * 1.0 / COUNT(*), 6)
       >= {_BLOOM_MIN}
"""


def _shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingles array) — distinct token bigrams, [] below 2
    tokens.  REUSES quality._bigrams (the q_decontaminate basis), so
    the exact path, the Bloom path, and the streaming screen can never
    drift onto different shingle definitions."""
    from pyspec_spark.queries.quality import _bigrams_sql
    from pyspec_spark.tables import fanout

    # r13 (guide §2): fanout BELOW the shingle projection — the single
    # test parquet file is one scan split, so the zip_with shingle
    # build (the expensive part of every consumer's first stage) ran
    # on one core.  All four consumers aggregate order-insensitively
    # (counts, integer sums, bit_or, broadcast-join probes), so the
    # partitioning cannot change any value; at real scale fanout
    # no-ops (see tables.fanout).
    return fanout(table(spark, sf_dir, "documents"), "doc_id").selectExpr(
        "doc_id", f"array_distinct({_bigrams_sql()}) AS shingles"
    )


@query("q_bloom_decontam", oracle=_BLOOM_ORACLE)
def q_bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingled(spark, sf_dir)
    bench = (
        sh.where(f"doc_id < {_BENCH_MAX_ID}")
        .selectExpr("explode(shingles) AS shingle")
        .distinct()
    )
    bloom = bloom_to_array(bloom_build(bench))
    corpus = sh.where(
        f"doc_id >= {_BENCH_MAX_ID} AND size(shingles) > 0"
    ).selectExpr("doc_id", "explode(shingles) AS shingle")
    # Explode + codegen probe + partial-agg counts, NOT the "zero
    # shuffle" filter()-lambda form: higher-order-function lambdas
    # evaluate the md5/conv hash chain on Catalyst's interpreted path,
    # measured 1285 ms vs 122 ms for this form at sf0.1 — the per-doc
    # count shuffle the explode form pays is map-side partial
    # aggregation (bytes per doc), while the lambda form's per-element
    # interpretation cost scales with every shingle in the corpus.
    # The lambda form (operators/bloom.bloom_contains inside filter())
    # remains the STREAMING face, where statelessness is the
    # constraint — streaming/corpus.bloom_screen_stream.
    probed = bloom_probe(corpus, bloom)
    return (
        probed.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_sh"),
            F.expr("count_if(is_hit)").alias("n_hit"),
        )
        .selectExpr(
            "*",
            "round(CAST(n_hit AS DOUBLE) / n_sh, 6) AS containment",
        )
        .where(f"containment >= {_BLOOM_MIN}D")
    )


# ---------------------------------------------------------------------------
# L15 — multinomial Naive Bayes language classifier, trained AND scored
# in one declarative plan.  Train split = md5 bucket < 60; Laplace
# smoothing over the train vocabulary; unseen test tokens drop out of
# the score identically in both engines (inner join with the vocab
# grid).  Scores are exact integer micro-units (sum of tc * logp6 +
# prior6), so the argmax is order-independent; ties break on lang asc.
# Output: the confusion matrix (true lang x predicted lang, counts).
# ---------------------------------------------------------------------------
_NB_TRAIN_PCT = 60

_NB_F6 = (
    "CASE WHEN {x} * 1e6 >= 0 THEN FLOOR({x} * 1e6 + 0.5) "
    "ELSE -FLOOR(0.5 - {x} * 1e6) END"
)

_NB_ORACLE = f"""
WITH d AS (
  SELECT doc_id, lang, text,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#nb'), 1, 8))::BIGINT
           % 100 AS b
  FROM documents
),
tr_tok AS (
  SELECT lang, unnest(string_split(text, ' ')) AS tok
  FROM d WHERE b < {_NB_TRAIN_PCT}
),
tc AS (SELECT lang, tok, COUNT(*) AS c FROM tr_tok GROUP BY lang, tok),
cls AS (SELECT lang, SUM(c) AS n_tok FROM tc GROUP BY lang),
voc AS (SELECT DISTINCT tok FROM tc),
v AS (SELECT COUNT(*) AS v FROM voc),
pri AS (
  SELECT lang, COUNT(*) AS n_docs FROM d WHERE b < {_NB_TRAIN_PCT}
  GROUP BY lang
),
n_tr AS (SELECT COUNT(*) AS n FROM d WHERE b < {_NB_TRAIN_PCT}),
grid AS (
  SELECT voc.tok, cls.lang,
         CAST({_NB_F6.format(
             x="LN((COALESCE(tc.c, 0) + 1.0) / (cls.n_tok + v.v))"
         )} AS BIGINT) AS logp6
  FROM voc CROSS JOIN cls CROSS JOIN v
  LEFT JOIN tc ON tc.tok = voc.tok AND tc.lang = cls.lang
),
prior AS (
  SELECT pri.lang,
         CAST({_NB_F6.format(
             x="LN(CAST(pri.n_docs AS DOUBLE) / n_tr.n)"
         )} AS BIGINT) AS prior6
  FROM pri, n_tr
),
te_tok AS (
  SELECT doc_id, tok, COUNT(*) AS tcnt FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
    FROM d WHERE b >= {_NB_TRAIN_PCT}
  ) GROUP BY doc_id, tok
),
scores AS (
  SELECT t.doc_id, g.lang, SUM(t.tcnt * g.logp6) AS s6
  FROM te_tok t JOIN grid g ON g.tok = t.tok
  GROUP BY t.doc_id, g.lang
),
pred AS (
  SELECT s.doc_id, s.lang AS pred_lang,
         ROW_NUMBER() OVER (PARTITION BY s.doc_id
                            ORDER BY s.s6 + p.prior6 DESC, s.lang) AS rk
  FROM scores s JOIN prior p ON p.lang = s.lang
)
SELECT d.lang AS true_lang, p.pred_lang, CAST(COUNT(*) AS BIGINT) AS n
FROM pred p JOIN d ON d.doc_id = p.doc_id
WHERE p.rk = 1
GROUP BY d.lang, p.pred_lang
"""


@query("q_nb_classify", oracle=_NB_ORACLE)
def q_nb_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspec_spark.tables import fanout

    d = table(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "lang",
        "text",
        f"{_hash_mod100_sql('doc_id', '#nb')} AS b",
    )
    train = d.where(F.col("b") < _NB_TRAIN_PCT)
    test = d.where(F.col("b") >= _NB_TRAIN_PCT)

    # r13 (guide §2): ONLY the two tokenize/explode branches ran
    # single-core below the one-split scan; fanout those (integer
    # counts — order-safe; no-op at scale).  The doc-count branches
    # (pri/n_tr/final join) stay on the raw scan so the tiny input is
    # not re-exchanged where there is no expensive map stage above it.
    tr_tok = fanout(train, "doc_id").selectExpr(
        "lang", "explode(split(text, ' ')) AS tok"
    )
    # r13 optimization (guide §1.2/§5): the model grid references this
    # (lang, tok) count table four ways (cls, voc, v, the left join) —
    # unpersisted, the train-split tokenize + explode + groupBy ran
    # once per reference (16 document scans in the as-built plan).
    # Vocabulary-sized; one persist = one train pass per build.
    from pyspec_spark.registry import track_persist

    tc = track_persist(
        spark,
        f"q_nb_classify#tc#{next(_PERSIST_SEQ)}",
        tr_tok.groupBy("lang", "tok").agg(F.count("*").alias("c")),
    )
    cls = tc.groupBy("lang").agg(F.sum("c").alias("n_tok"))
    voc = tc.select("tok").distinct()
    v = voc.agg(F.count("*").alias("v"))
    pri = train.groupBy("lang").agg(F.count("*").alias("n_docs"))
    n_tr = train.agg(F.count("*").alias("n"))

    # r13: log-prob expressions as parsed SQL (the _replicate_copies
    # plan-construction note; _fixed6 == _fixed6_sql, F.log == ln,
    # 1.0D/0 literals pin the former lit types)
    from pyspec_spark.functions.determinism import _fixed6_sql

    grid = (
        voc.crossJoin(F.broadcast(cls))
        .crossJoin(F.broadcast(v))
        .join(F.broadcast(tc), ["tok", "lang"], "left")
        .selectExpr(
            "tok",
            "lang",
            _fixed6_sql("ln((COALESCE(c, 0) + 1.0D) / (n_tok + v))")
            + " AS logp6",
        )
    )
    prior = pri.crossJoin(F.broadcast(n_tr)).selectExpr(
        "lang",
        _fixed6_sql("ln(CAST(n_docs AS DOUBLE) / n)") + " AS prior6",
    )

    te_tok = (
        fanout(test, "doc_id")
        .selectExpr("doc_id", "explode(split(text, ' ')) AS tok")
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tcnt"))
    )
    scores = (
        te_tok.join(F.broadcast(grid), "tok")
        .groupBy("doc_id", "lang")
        .agg(F.expr("SUM(tcnt * logp6)").alias("s6"))
    )
    pred = (
        scores.join(F.broadcast(prior), "lang")
        .selectExpr(
            "*",
            "row_number() OVER (PARTITION BY doc_id"
            " ORDER BY (s6 + prior6) DESC, lang) AS rk",
        )
        .where(F.col("rk") == 1)
        .select("doc_id", F.col("lang").alias("pred_lang"))
    )
    return (
        pred.join(d.select("doc_id", "lang"), "doc_id")
        .groupBy(F.col("lang").alias("true_lang"), "pred_lang")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# L17 — stage-0 HTML -> text extraction (the first operator a web-crawl
# pipeline runs).  The documents table is plain text, so the query
# synthesizes a deterministic HTML page around each document IN-PLAN
# (script + style blocks, per-token paragraph tags, an entity-bearing
# footer — the same wrap in both engines) and then runs the real
# extraction operator (operators/text.html_to_text) over it.  The
# oracle replays wrap AND extraction, so the entire regex/entity chain
# is value-checked; the round-trip property (extract(wrap(text))
# reconstructs the text plus the fixed chrome) is pytest-pinned.
# Map-only — no shuffle at any scale.
# ---------------------------------------------------------------------------
_HTML_PRE = (
    '<html><head><script type="text/javascript">'
    "if (1 &amp;&amp; 2) { x < 3; }</script>"
    "<style>p { color: #fff; }</style></head><body><h1>Doc</h1><p>"
)
_HTML_SEP = "&nbsp;</p> <p>"
_HTML_POST = (
    '</p><div class="footer">&quot;cite&#39; &copy; 2026 '
    "&lt;corp&gt;</div></body></html>"
)

_HTML_ORACLE = f"""
WITH w AS (
  SELECT doc_id,
         '{_HTML_PRE}' || replace(text, ' ', '{_HTML_SEP}')
           || '{_HTML_POST}' AS html
  FROM documents
),
s1 AS (
  -- mirrors operators/text._HTML_STRIP: ONE fused alternation pass
  -- (script|style|tag|&nbsp;|whitespace)+ -> ' ', then the non-space
  -- entity decodes with &amp; last (no re-collapse needed after)
  SELECT doc_id, html,
         regexp_replace(html,
             '(?is)(?:<script[^>]*>.*?</script>|<style[^>]*>.*?</style>|<[^>]+>|&nbsp;|\\s)+',
             ' ', 'g') AS t
  FROM w
),
s4 AS (
  SELECT doc_id, html,
         trim(replace(replace(replace(replace(replace(replace(t,
             '&lt;', '<'), '&gt;', '>'),
             '&quot;', '"'), '&#39;', chr(39)), '&copy;', '©'),
             '&amp;', '&')) AS t
  FROM s1
)
SELECT doc_id,
       CAST(length(html) AS BIGINT) AS n_chars_html,
       CAST(length(t) AS BIGINT) AS n_chars_text,
       md5(t) AS text_md5
FROM s4
"""


@query("q_html_extract", oracle=_HTML_ORACLE)
def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspec_spark.operators.text import html_to_text

    d = table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit(_HTML_PRE),
        F.replace(F.col("text"), F.lit(" "), F.lit(_HTML_SEP)),
        F.lit(_HTML_POST),
    )
    w = d.select("doc_id", html.alias("html"))
    t = html_to_text(F.col("html"))
    return w.select(
        "doc_id",
        F.length("html").cast("long").alias("n_chars_html"),
        F.length(t).cast("long").alias("n_chars_text"),
        F.md5(t.cast("binary")).alias("text_md5"),
    )


# ---------------------------------------------------------------------------
# L16a — deterministic train/val/test split with stratified accounting.
# Split = md5 bucket of doc_id (96/2/2): content-keyed, so every
# engine, run, and partition layout assigns the same documents to the
# same split — the property TABLESAMPLE cannot give.  Output is the
# (lang x split) accounting table a mixing stage consumes.
# ---------------------------------------------------------------------------
_SPLIT_ORACLE = """
WITH a AS (
  SELECT lang,
         CASE WHEN b < 96 THEN 'train' WHEN b < 98 THEN 'val'
              ELSE 'test' END AS split,
         len(string_split(text, ' ')) AS n_tokens
  FROM (
    SELECT lang, text,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#split'), 1, 8))
             ::BIGINT % 100 AS b
    FROM documents
  )
)
SELECT lang, split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
FROM a GROUP BY lang, split
"""


@query("q_split_assign", oracle=_SPLIT_ORACLE)
def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    b = _hash_mod100(F.col("doc_id"), "#split")
    split = (
        F.when(b < 96, "train").when(b < 98, "val").otherwise("test")
    )
    return (
        d.select(
            "lang",
            split.alias("split"),
            F.size(_toks()).alias("n_tokens"),
        )
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# L16b — temperature-weighted source mixing: p_s ∝ tokens_s^alpha with
# alpha = 0.5 (sqrt — IEEE-exact in both engines, unlike pow(x, 0.3)).
# The weight sum goes through the exact DECIMAL path so the normalizer
# is order-independent; one source-keyed aggregation + a 1-row
# broadcast total.
# ---------------------------------------------------------------------------
_MIX_ORACLE = """
WITH s AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
w AS (
  SELECT source, n_docs, n_tokens,
         ROUND(SQRT(CAST(n_tokens AS DOUBLE)), 6) AS weight
  FROM s
),
tot AS (
  SELECT CAST(SUM(CAST(weight AS DECIMAL(18,6))) AS DOUBLE) AS tw FROM w
)
SELECT source, n_docs, n_tokens, weight,
       ROUND(weight / tw, 6) AS mix_p
FROM w, tot
"""


@query("q_mix_temperature", oracle=_MIX_ORACLE)
def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspec_spark.registry import track_persist
    from pyspec_spark.tables import fanout

    # r13 (guide §2): the corpus tokenize under this aggregate — the
    # mix family's one corpus pass after the persist below — ran
    # single-core below the one-split scan; fanout first (integer
    # count/sum — order-safe; no-op at scale).
    d = fanout(table(spark, sf_dir, "documents"), "doc_id")
    s = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(_toks())).alias("n_tokens"),
    )
    # r13 optimization (guide §1.2/§5): `w`/`tot` and the final select
    # all re-derive this |sources|-row aggregate — unpersisted, the
    # corpus tokenize+groupBy executes once per reference (and twice
    # more per q_epoch_alloc layer: q_train_mix's plan showed 10
    # document scans).  One tiny persist = one corpus pass per build.
    s = track_persist(spark, f"q_mix_temperature#{next(_PERSIST_SEQ)}", s)
    # r13 (second pass): weight/total/mix_p as parsed SQL (1:1
    # transliteration of the former Column chain)
    w = s.selectExpr(
        "*", "round(sqrt(CAST(n_tokens AS DOUBLE)), 6) AS weight"
    )
    tot = w.agg(
        F.expr(
            "CAST(SUM(CAST(weight AS DECIMAL(18,6))) AS DOUBLE)"
        ).alias("tw")
    )
    return w.crossJoin(F.broadcast(tot)).selectExpr(
        "source",
        "n_docs",
        "n_tokens",
        "weight",
        "round(weight / tw, 6) AS mix_p",
    )


# ---------------------------------------------------------------------------
# L21 — the COMPOSED curation pipeline as ONE declared query: exact
# dedup (keep min doc_id per md5) -> quality gate (token count /
# dup-token fraction / chars-per-token, the e2e-test thresholds) ->
# exact benchmark decontamination (containment >= 0.6 against the
# doc_id < 10 slice) -> per-source token budget (hash-ordered cumsum
# cutoff) -> per-source survivor accounting.  Every stage is already a
# declared operator; this query is the end-to-end composition with the
# END-TO-END result oracle-checked (the iterative near-dup CC stage
# lives in q_dedup_clusters/q_dedup_keep_best — recursive, composed in
# tests/test_e2e_curation.py instead).
# Scale: each stage keeps its own posture (one md5 groupBy; map-only
# gate; broadcast bench semi-join; one source-keyed window) — no stage
# introduces a new shuffle class.
# ---------------------------------------------------------------------------
_PIPE_BUDGET = 3000
# quality-gate thresholds shared by the pipeline (L21) and the per-doc
# drop audit (L44) — oracle AND Spark faces interpolate these, so a
# tweak cannot silently diverge the two declarations
_GATE_TOK_MIN, _GATE_TOK_MAX = 20, 1000
_GATE_DUP_MAX = 0.6
_GATE_CPT_MIN, _GATE_CPT_MAX = 3.0, 12.0
_CONTAM_MIN = 0.6

_PIPELINE_ORACLE = f"""
WITH keep_exact AS (
  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
),
d1 AS (
  SELECT d.doc_id, d.source, d.text,
         len(string_split(d.text, ' ')) AS n_tokens
  FROM documents d JOIN keep_exact USING (doc_id)
),
gated AS (
  SELECT doc_id, source, text, n_tokens FROM d1
  WHERE n_tokens BETWEEN {_GATE_TOK_MIN} AND {_GATE_TOK_MAX}
    AND 1.0 - len(list_distinct(string_split(text, ' '))) * 1.0 / n_tokens
        <= {_GATE_DUP_MAX}
    AND length(text) * 1.0 / n_tokens BETWEEN {_GATE_CPT_MIN} AND {_GATE_CPT_MAX}
),
{_SHINGLES_CTE.strip()},
bench AS (
  SELECT DISTINCT unnest(shingles) AS shingle FROM sh
  WHERE doc_id < {_BENCH_MAX_ID}
),
corpus AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh
  WHERE doc_id >= {_BENCH_MAX_ID} AND len(shingles) > 0
),
hits AS (
  SELECT c.doc_id, COUNT(*) AS n_hit
  FROM corpus c JOIN bench USING (shingle) GROUP BY c.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM corpus GROUP BY doc_id),
flagged AS (
  SELECT s.doc_id FROM sizes s LEFT JOIN hits h USING (doc_id)
  WHERE ROUND(COALESCE(h.n_hit, 0) * 1.0 / s.n_sh, 6) >= {_CONTAM_MIN}
),
d4 AS (
  SELECT g.* FROM gated g LEFT JOIN flagged f USING (doc_id)
  WHERE f.doc_id IS NULL
),
c AS (
  SELECT source, doc_id, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source
                             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM d4
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens_kept
FROM c WHERE cum <= {_PIPE_BUDGET}
GROUP BY source
"""


@query("q_curation_pipeline", oracle=_PIPELINE_ORACLE)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    keep_exact = (
        d.groupBy(F.expr("md5(CAST(text AS BINARY))").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    # r13: gate expressions as parsed SQL (the _replicate_copies
    # plan-construction note; 'D' suffixes pin the former lit(float)s)
    d1 = d.join(keep_exact, "doc_id").selectExpr(
        "doc_id", "source", "text", "size(split(text, ' ')) AS n_tokens"
    )
    gated = d1.where(
        F.expr(
            f"(n_tokens BETWEEN {_GATE_TOK_MIN} AND {_GATE_TOK_MAX})"
            " AND ((1.0D - CAST(size(array_distinct(split(text, ' ')))"
            f" AS DOUBLE) / n_tokens) <= {_GATE_DUP_MAX!r}D)"
            " AND ((CAST(length(text) AS DOUBLE) / n_tokens)"
            f" BETWEEN {_GATE_CPT_MIN!r}D AND {_GATE_CPT_MAX!r}D)"
        )
    )
    sh = _shingled(spark, sf_dir)
    bench = (
        sh.where(f"doc_id < {_BENCH_MAX_ID}")
        .selectExpr("explode(shingles) AS shingle")
        .distinct()
    )
    corpus = sh.where(
        f"doc_id >= {_BENCH_MAX_ID} AND size(shingles) > 0"
    ).selectExpr("doc_id", "explode(shingles) AS shingle")
    hits = (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit"))
    )
    sizes = corpus.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    flagged = (
        sizes.join(hits, "doc_id", "left")
        .where(
            "round(CAST(coalesce(n_hit, 0) AS DOUBLE) / n_sh, 6)"
            f" >= {_CONTAM_MIN}D"
        )
        .select("doc_id")
    )
    d4 = gated.join(flagged, "doc_id", "left_anti")
    kept = d4.selectExpr(
        "*",
        "SUM(n_tokens) OVER (PARTITION BY source"
        " ORDER BY md5(CAST(CAST(doc_id AS STRING) AS BINARY)), doc_id"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum",
    ).where(f"cum <= {_PIPE_BUDGET}")
    return kept.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.expr("SUM(n_tokens)").alias("tokens_kept"),
    )


# ---------------------------------------------------------------------------
# L22 (r6) — DSIR importance weighting (Xie et al. 2023, "Data
# Selection for Language Models via Importance Resampling"): the
# standard hashed-ngram data-selection method.  Features = unigrams +
# token bigrams hashed into m=256 buckets (house md5 idiom); fit
# Laplace-smoothed bag-of-buckets distributions for the TARGET slice
# (doc_id < 50 — the "high-quality target" stand-in, same slice
# convention as the decontamination family) and the RAW pool (the
# rest); each raw doc's importance log-weight is
#   sum over gram instances of [ln p_target(bucket) - ln p_raw(bucket)]
# and selection takes the top-k by weight (the deterministic variant of
# the paper's Gumbel resampling).  At 100 TB: the bucket tables are
# m-row broadcasts, gram hashing is map-only, and the per-doc weight is
# one groupBy(doc_id) of integer micro-units (the _fixed6 exact-sum
# discipline, q_unigram_logprob's proven pattern) — one shuffle total.
# ---------------------------------------------------------------------------
_DSIR_TARGET_MAX = 50
_DSIR_M = 256
_DSIR_TOPK = 20

_DSIR_ORACLE = f"""
WITH g AS (
  SELECT doc_id, unnest(
           string_split(text, ' ') ||
           CASE WHEN len(string_split(text, ' ')) >= 2
                THEN list_transform(
                    range(1, len(string_split(text, ' '))),
                    i -> string_split(text, ' ')[i] || ' ' ||
                         string_split(text, ' ')[i + 1])
                ELSE [] END) AS gram
  FROM documents
),
b AS (
  SELECT doc_id,
         ('0x' || substr(md5(gram || '#dsir'), 1, 8))::BIGINT % {_DSIR_M} AS bucket
  FROM g
),
tc AS (
  SELECT bucket, COUNT(*) AS c FROM b WHERE doc_id < {_DSIR_TARGET_MAX} GROUP BY 1
),
rc AS (
  SELECT bucket, COUNT(*) AS c FROM b WHERE doc_id >= {_DSIR_TARGET_MAX} GROUP BY 1
),
tot AS (
  SELECT (SELECT COALESCE(SUM(c), 0) FROM tc) AS t,
         (SELECT COALESCE(SUM(c), 0) FROM rc) AS r
),
lr AS (
  SELECT m.bucket,
         CAST(ROUND(ln((COALESCE(tc.c, 0) + 1.0) / (tot.t + {_DSIR_M})) * 1e6) AS BIGINT)
         - CAST(ROUND(ln((COALESCE(rc.c, 0) + 1.0) / (tot.r + {_DSIR_M})) * 1e6) AS BIGINT)
           AS lr_micro
  FROM (SELECT unnest(range({_DSIR_M})) AS bucket) m
  LEFT JOIN tc USING (bucket) LEFT JOIN rc USING (bucket), tot
),
w AS (
  SELECT b.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_grams,
         SUM(lr.lr_micro) AS w_micro
  FROM b JOIN lr USING (bucket)
  WHERE b.doc_id >= {_DSIR_TARGET_MAX}
  GROUP BY 1
)
SELECT doc_id, n_grams,
       ROUND(w_micro / 1e6, 6) AS dsir_logweight
FROM w
ORDER BY w_micro DESC, doc_id
LIMIT {_DSIR_TOPK}
"""


@query("q_dsir_weights", oracle=_DSIR_ORACLE)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspec_spark.queries.quality import _bigrams_sql

    d = table(spark, sf_dir, "documents")
    # r13: gram explode + bucket hash as parsed SQL (the
    # _replicate_copies plan-construction note; operators unchanged)
    grams = d.selectExpr(
        "doc_id",
        f"explode(concat(split(text, ' '), {_bigrams_sql()})) AS gram",
    )
    b = grams.selectExpr(
        "doc_id",
        "CAST(conv(substring(md5(CAST(gram || '#dsir' AS BINARY)),"
        f" 1, 8), 16, 10) AS BIGINT) % {_DSIR_M} AS bucket",
    )
    # r13 optimization (guide §2.3 "aggregate before you shuffle",
    # §1.2): target and rest counts in ONE grouped pass — the as-built
    # plan computed tc, rc, tot's two branches, and both broadcast
    # model sides as SEPARATE aggregations, re-running the corpus
    # tokenize + bigram explode + md5 beneath each (10 document scans
    # in plans/r13/q_dsir_weights_before.txt).  COUNT(*) of each
    # filtered branch == SUM of its membership flag, so every
    # downstream value (including the +1.0 smoothing over coalesced
    # zeros) is unchanged.  The |buckets|-row result is persisted:
    # tot, lr, and the final join all read it, leaving exactly TWO
    # corpus passes per build (model count + the scoring join).
    from pyspec_spark.registry import PERSIST_SEQ, track_persist

    tgt = f"doc_id < {_DSIR_TARGET_MAX}"
    bc = track_persist(
        spark,
        f"q_dsir_weights#bc#{next(PERSIST_SEQ)}",
        b.groupBy("bucket").agg(
            F.expr(
                f"CAST(SUM(CASE WHEN {tgt} THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("tc"),
            F.expr(
                f"CAST(SUM(CASE WHEN NOT ({tgt}) THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("rc"),
        ),
    )
    tot = bc.agg(
        F.expr("coalesce(SUM(tc), 0)").alias("t"),
        F.expr("coalesce(SUM(rc), 0)").alias("r"),
    )
    from pyspec_spark.functions.determinism import _fixed6_sql

    buckets = spark.range(_DSIR_M).selectExpr("id AS bucket")
    lr = (
        buckets.join(F.broadcast(bc), "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "bucket",
            _fixed6_sql(f"ln((COALESCE(tc, 0) + 1.0D) / (t + {_DSIR_M}))")
            + " - "
            + _fixed6_sql(f"ln((COALESCE(rc, 0) + 1.0D) / (r + {_DSIR_M}))")
            + " AS lr_micro",
        )
    )
    w = (
        b.where(f"doc_id >= {_DSIR_TARGET_MAX}")
        .join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_grams"),
            F.expr("SUM(lr_micro)").alias("w_micro"),
        )
    )
    return (
        w.orderBy(F.desc("w_micro"), "doc_id")
        .limit(_DSIR_TOPK)
        .selectExpr(
            "doc_id",
            "n_grams",
            "round(w_micro / 1e6, 6) AS dsir_logweight",
        )
    )


# ---------------------------------------------------------------------------
# URL canonicalization + domain blocklist (r7) — the first filter every
# crawl pipeline runs (C4/RefinedWeb drop blocklisted domains before
# any text is even fetched): canonicalize (strip fragment, lowercase
# host, drop the www. prefix, remove utm_* tracking params), derive the
# registrable domain, and gate against an exact + suffix blocklist.
# The documents table carries no URL column, so the URL face is
# synthesized IN-PLAN as a closed-form function of doc_id (the
# q_video_metadata pattern) — messy-on-purpose: mixed-case hosts, www.
# prefixes, tracking params, fragments, and an ads subdomain family.
#
# Per-domain accounting comes out (kept/blocked counts + a sample
# canonical URL), so the oracle pins the whole canonicalize→gate→agg
# chain.  All map-only string expressions in whole-stage codegen; ONE
# shuffle on the bounded domain key.  At 100 TB the blocklist is a
# broadcast table (here a literal IN/suffix predicate — same plan
# shape).
# ---------------------------------------------------------------------------
_URL_BLOCK_EXACT = ("domain3.example", "domain7.example")
_URL_BLOCK_SUFFIX = ".ads.example"

_URL_ORACLE = f"""
WITH u AS (
  SELECT doc_id,
         'https://' ||
         CASE WHEN doc_id % 4 = 0 THEN 'WWW.' ELSE '' END ||
         CASE WHEN doc_id % 11 = 0 THEN 'track' || (doc_id % 3) || '.ads.example'
              ELSE 'Domain' || (doc_id % 10) || '.example' END ||
         '/path/' || doc_id ||
         CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed&id=' || doc_id
              ELSE '?id=' || doc_id END ||
         CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END AS url
  FROM documents
),
c AS (
  SELECT doc_id,
         regexp_replace(lower(split_part(split_part(regexp_replace(url, '#.*$', ''),
                        '://', 2), '/', 1)), '^www\\.', '') AS host,
         array_to_string(list_filter(string_split(
             split_part(regexp_replace(url, '#.*$', ''), '?', 2), '&'),
             x -> NOT x LIKE 'utm_%'), '&') AS clean_query
  FROM u
),
g AS (
  SELECT doc_id, host,
         CASE WHEN len(string_split(host, '.')) > 2
              THEN array_to_string(string_split(host, '.')[-2:], '.')
              ELSE host END AS domain,
         (host IN {_URL_BLOCK_EXACT}
          OR host LIKE '%{_URL_BLOCK_SUFFIX}') AS blocked,
         clean_query
  FROM c
)
SELECT domain,
       COUNT(*) AS n_urls,
       CAST(SUM(CAST(blocked AS INT)) AS BIGINT) AS n_blocked,
       CAST(SUM(CAST(NOT blocked AS INT)) AS BIGINT) AS n_kept,
       MIN(CASE WHEN NOT blocked THEN host || '?' || clean_query END)
         AS sample_kept
FROM g
GROUP BY domain
ORDER BY domain
"""


@query("q_url_filter", oracle=_URL_ORACLE)
def q_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("doc_id")
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 4 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.lit("track"), (F.col("doc_id") % 3).cast("string"),
                F.lit(".ads.example"),
            ),
        ).otherwise(
            F.concat(
                F.lit("Domain"), (F.col("doc_id") % 10).cast("string"),
                F.lit(".example"),
            )
        ),
        F.lit("/path/"), F.col("doc_id").cast("string"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit("?utm_source=feed&id="), F.col("doc_id").cast("string")),
        ).otherwise(F.concat(F.lit("?id="), F.col("doc_id").cast("string"))),
        F.when(F.col("doc_id") % 7 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    defrag = F.regexp_replace(url, "#.*$", "")
    host = F.regexp_replace(
        F.lower(F.split_part(F.split_part(defrag, F.lit("://"), F.lit(2)),
                             F.lit("/"), F.lit(1))),
        r"^www\.", "",
    )
    clean_query = F.array_join(
        F.filter(
            F.split(F.split_part(defrag, F.lit("?"), F.lit(2)), "&"),
            lambda x: ~x.startswith("utm_"),
        ),
        "&",
    )
    parts = F.split(host, r"\.")
    domain = F.when(
        F.size(parts) > 2,
        F.concat_ws(".", F.slice(parts, -2, 2)),
    ).otherwise(host)
    blocked = host.isin(*_URL_BLOCK_EXACT) | host.endswith(_URL_BLOCK_SUFFIX)
    g = d.select(
        domain.alias("domain"),
        blocked.alias("blocked"),
        host.alias("host"),
        clean_query.alias("clean_query"),
    )
    return (
        g.groupBy("domain")
        .agg(
            F.count("*").alias("n_urls"),
            F.sum(F.col("blocked").cast("int")).alias("n_blocked"),
            F.sum((~F.col("blocked")).cast("int")).alias("n_kept"),
            F.min(
                F.when(
                    ~F.col("blocked"),
                    F.concat(F.col("host"), F.lit("?"), F.col("clean_query")),
                )
            ).alias("sample_kept"),
        )
        .orderBy("domain")
    )


# ---------------------------------------------------------------------------
# L31 — semantic decontamination (r7): embedding-space test-set
# contamination screening, the vector complement of q_bloom_decontam's
# n-gram screen.  N-gram decontamination misses paraphrases; the
# GPT-4-era practice (and the SemDeDup/embedding-similarity literature)
# is to ALSO flag training docs whose embedding is near-identical to a
# benchmark item.  The testdata embeddings are near-orthogonal
# (max cross-cosine ~0.49 at every SF), so contamination is PLANTED in
# closed form: bench item j is the 1-decimal quantization of corpus
# vector 16+13j — the "benchmark lightly paraphrased into the crawl"
# scenario (quantized self-cosine ~0.978 vs <=0.5 background, so the
# 0.9 gate has a ~2x margin on both sides and the oracle pins the
# whole cosine+argmax chain at 6 dp).
#
# Plan shape / 100 TB posture: the bench table is 8 rows broadcast onto
# ONE corpus scan; the cosine + threshold filter run map-side, so the
# only shuffle (the per-vec argmax groupBy) carries CONTAMINATED rows
# only — at web scale that is ~0 rows, making this a map-only pass in
# practice.  No top-k window: unlike q_knn_join / q_hard_negatives the
# gate is absolute (a doc matching ANY bench item is dropped), which is
# why the aggregation is argmax-over-hits, not rank.
# ---------------------------------------------------------------------------
_SEMDECON_B = 8          # bench items
_SEMDECON_STRIDE = 13    # planted source vec_id = 16 + 13*j
_SEMDECON_TAU = 0.9

_SEMDECON_ORACLE = f"""
WITH b AS (
  SELECT CAST((vec_id - 16) // {_SEMDECON_STRIDE} AS BIGINT) AS bench_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> ROUND(x, 1)) AS be
  FROM embeddings
  WHERE vec_id >= 16 AND vec_id < 16 + {_SEMDECON_B * _SEMDECON_STRIDE}
    AND (vec_id - 16) % {_SEMDECON_STRIDE} = 0
),
s AS (
  SELECT e.vec_id, b.bench_id,
         ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), b.be),
               6) AS score
  FROM embeddings e, b
),
hit AS (SELECT * FROM s WHERE score >= {_SEMDECON_TAU}),
r AS (
  SELECT vec_id, bench_id, score,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY score DESC, bench_id DESC) AS rk,
         COUNT(*) OVER (PARTITION BY vec_id) AS n_hits
  FROM hit
)
SELECT vec_id, bench_id, score, CAST(n_hits AS BIGINT) AS n_hits
FROM r WHERE rk = 1
ORDER BY vec_id
"""


@query("q_sem_decontam", oracle=_SEMDECON_ORACLE)
def q_sem_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspec_spark.operators.similarity import _dot_sql, _norm_sql

    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = [16 + _SEMDECON_STRIDE * j for j in range(_SEMDECON_B)]
    # r13 (second pass): bench projection + 64-dim cosine as parsed SQL
    # (the exact SQL faces of _dot_cols/_norm_expr; former Column chain
    # cost ~500 py4j round trips per build — see the _replicate_copies
    # plan-construction note).
    bench = e.where(F.col("vec_id").isin(planted)).selectExpr(
        f"CAST((vec_id - 16) / {_SEMDECON_STRIDE} AS BIGINT) AS bench_id",
        "transform(CAST(embedding AS ARRAY<DOUBLE>),"
        " x -> round(x, 1)) AS be",
    )
    ed = "CAST(embedding AS ARRAY<DOUBLE>)"
    cos = (
        f"round(({_dot_sql(ed, 'be')})"
        f" / (({_norm_sql(ed)}) * ({_norm_sql('be')})), 6)"
    )
    hits = (
        e.join(F.broadcast(bench))
        .selectExpr("vec_id", "bench_id", f"{cos} AS score")
        .where(f"score >= {_SEMDECON_TAU}D")
    )
    return (
        hits.groupBy("vec_id")
        .agg(
            F.max(F.struct("score", "bench_id")).alias("top"),
            F.count("*").alias("n_hits"),
        )
        .select(
            "vec_id",
            F.col("top.bench_id").alias("bench_id"),
            F.col("top.score").alias("score"),
            "n_hits",
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# L32 — soft deduplication (r7): duplication-aware REWEIGHTING instead
# of removal (SoftDeDup, Xue et al. ACL 2024 direction: dropping
# near-dups discards signal — down-weight "common" documents so the
# sampler sees each piece of content ~once in expectation).  Commonness
# here = mean document-frequency of the doc's distinct shingles (the
# same bigram basis as q_bloom_decontam / q_decontaminate, so the
# exact, Bloom, and soft screens can never drift apart); sampling
# weight = 1/mean_df = n_sh/sum_df as ONE bigint/bigint double
# division under the terminal ROUND (no ln/exp — libm differs across
# engines).  A doc of entirely unique content keeps weight 1; a doc
# whose every shingle appears in k docs is down-weighted to ~1/k —
# exactly the multiplicity correction exact dedup applies, but
# continuous and paraphrase-tolerant.
#
# 100 TB posture: the standard two-shuffle term-stat shape (explode →
# df groupBy(shingle) → join back → per-doc agg), identical scaling to
# TF-IDF (L9); no broadcast of the shingle-frequency table (it is
# vocabulary-sized — the q_source_kl lesson).
# ---------------------------------------------------------------------------
_SOFT_DEDUP_ORACLE = f"""
WITH {_SHINGLES_CTE},
ex AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh
  WHERE len(shingles) > 0
),
df AS (
  SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df FROM ex GROUP BY shingle
),
d AS (
  SELECT ex.doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh,
         CAST(SUM(df.df) AS BIGINT) AS sum_df
  FROM ex JOIN df USING (shingle) GROUP BY ex.doc_id
)
SELECT doc_id, n_sh, sum_df,
       ROUND(CAST(n_sh AS DOUBLE) / sum_df, 6) AS weight,
       (sum_df >= 2 * n_sh) AS dup_heavy
FROM d
ORDER BY doc_id
"""


@query("q_soft_dedup", oracle=_SOFT_DEDUP_ORACLE)
def q_soft_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 (second pass): projections/aggregates as parsed SQL (1:1
    # transliteration of the former Column chain)
    ex = (
        _shingled(spark, sf_dir)
        .where("size(shingles) > 0")
        .selectExpr("doc_id", "explode(shingles) AS shingle")
    )
    df = ex.groupBy("shingle").agg(F.count("*").alias("df"))
    d = (
        ex.join(df, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_sh"),
            F.expr("SUM(df)").alias("sum_df"),
        )
    )
    return d.selectExpr(
        "doc_id",
        "n_sh",
        "sum_df",
        "round(CAST(n_sh AS DOUBLE) / sum_df, 6) AS weight",
        "(sum_df >= 2 * n_sh) AS dup_heavy",
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# L36 — unified decontamination report (r7): the three screens —
# exact n-gram (L3 q_decontaminate), Bloom n-gram (L14, the streaming-
# friendly superset), and semantic/embedding (L31, the paraphrase
# catcher) — full-outer-joined into ONE per-document audit table with
# method attribution.  This is the artifact a data audit actually
# ships: which docs each screen flags, where the screens agree, and
# the two invariants that make the composition self-checking (Bloom
# has no false negatives, so every exact-flagged doc must carry a
# bloom score >= its exact score; the semantic screen fires on planted
# paraphrases the n-gram screens cannot see).
#
# Oracle = the three ALREADY-REGISTERED oracle SQLs spliced as
# subqueries (registry.ORACLES — quality loads before curation, and
# both local screens register earlier in this module), so the report's
# oracle can never drift from its constituents'.  Plan: three bounded
# result legs (each already shuffle-minimal) full-joined on doc_id —
# at web scale each leg is ~0 rows, so the joins are trivial.
# ---------------------------------------------------------------------------
from pyspec_spark.registry import ORACLES as _ORACLES

_DECON_REPORT_ORACLE = f"""
WITH ex AS (
  SELECT doc_id, containment AS exact_cont
  FROM ({_ORACLES["q_decontaminate"]})
),
bl AS (
  SELECT doc_id, containment AS bloom_cont
  FROM ({_ORACLES["q_bloom_decontam"]})
),
se AS (
  SELECT vec_id AS doc_id, score AS sem_cos
  FROM ({_ORACLES["q_sem_decontam"]})
)
SELECT COALESCE(ex.doc_id, bl.doc_id, se.doc_id) AS doc_id,
       exact_cont, bloom_cont, sem_cos,
       (CAST(ex.doc_id IS NOT NULL AS INT)
        + CAST(bl.doc_id IS NOT NULL AS INT)
        + CAST(se.doc_id IS NOT NULL AS INT)) AS n_methods
FROM ex
FULL JOIN bl ON ex.doc_id = bl.doc_id
FULL JOIN se ON COALESCE(ex.doc_id, bl.doc_id) = se.doc_id
ORDER BY doc_id
"""


@query("q_decontam_report", oracle=_DECON_REPORT_ORACLE)
def q_decontam_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspec_spark.queries.quality import q_decontaminate

    ex = q_decontaminate(spark, sf_dir).select(
        "doc_id", F.col("containment").alias("exact_cont")
    )
    bl = q_bloom_decontam(spark, sf_dir).select(
        "doc_id", F.col("containment").alias("bloom_cont")
    )
    se = q_sem_decontam(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), F.col("score").alias("sem_cos")
    )
    return (
        ex.join(bl, "doc_id", "full")
        .join(se, "doc_id", "full")
        .select(
            "doc_id",
            "exact_cont",
            "bloom_cont",
            "sem_cos",
            (
                F.col("exact_cont").isNotNull().cast("int")
                + F.col("bloom_cont").isNotNull().cast("int")
                + F.col("sem_cos").isNotNull().cast("int")
            ).alias("n_methods"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# L16c — epoch allocation under a token budget (r7): the
# data-constrained mixing knob (Muennighoff et al. 2023: when the
# budget exceeds the corpus, sources REPEAT — but repeating past ~4-8
# epochs stops helping, so allocations cap and the unmet budget is
# reported, not silently eaten).  Budget B = 4x total corpus tokens
# (scale-relative, so the semantics hold at every sf); desired_s =
# B * mix_p_s (the L16b temperature weights, oracle-spliced so the two
# declarations cannot drift); epochs_s = desired/tokens_s capped at
# R_MAX = 8; effective tokens = min(desired, R_MAX * tokens_s).
#
# Determinism: every float is derived by the SAME single-expression
# arithmetic on identical operands in both engines (mix_p is already
# 6-dp pinned; B and token counts are exact bigints; one multiply/one
# divide under a terminal ROUND).  Plan: the L16b aggregation + one
# 1-row broadcast total — no new corpus pass.
# ---------------------------------------------------------------------------
_EPOCH_RMAX = 8


def _epoch_alloc_oracle() -> str:
    from pyspec_spark.registry import ORACLES

    return f"""
WITH mix AS ({ORACLES["q_mix_temperature"]}),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM mix)
SELECT source, n_tokens, mix_p,
       ROUND(LEAST(CAST(4 * t AS DOUBLE) * mix_p / n_tokens,
                   CAST({_EPOCH_RMAX} AS DOUBLE)), 6) AS epochs,
       CAST(ROUND(LEAST(CAST(4 * t AS DOUBLE) * mix_p,
                        CAST({_EPOCH_RMAX} * n_tokens AS DOUBLE)))
            AS BIGINT) AS eff_tokens,
       CAST(4 * t AS DOUBLE) * mix_p / n_tokens > {_EPOCH_RMAX} AS capped
FROM mix, tot
ORDER BY source
"""


@query("q_epoch_alloc", oracle=_epoch_alloc_oracle())
def q_epoch_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    mix = q_mix_temperature.__wrapped__(spark, sf_dir)
    # r13 (second pass): allocation arithmetic as parsed SQL (1:1
    # transliteration; int constants stay bare, former float lits 'D')
    tot = mix.agg(F.expr("CAST(SUM(n_tokens) AS BIGINT)").alias("t"))
    b = "CAST(4 * t AS DOUBLE)"
    raw = f"{b} * mix_p / n_tokens"
    return (
        mix.crossJoin(F.broadcast(tot))
        .selectExpr(
            "source",
            "n_tokens",
            "mix_p",
            f"round(least({raw}, {float(_EPOCH_RMAX)!r}D), 6) AS epochs",
            f"CAST(round(least({b} * mix_p,"
            f" CAST({_EPOCH_RMAX} * n_tokens AS DOUBLE)), 0)"
            " AS BIGINT) AS eff_tokens",
            f"({raw} > {_EPOCH_RMAX}) AS capped",
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# L44 — per-document drop audit (r7): the "why was my document
# dropped" lineage through the SAME stages as q_curation_pipeline
# (shared CTE fragments and thresholds — the constants are module-level
# f-string inputs, so the two declarations cannot drift): exact-dup
# loser -> quality-gate fail -> benchmark contamination -> token-budget
# cutoff, each flagged INDEPENDENTLY per doc, plus the pipeline-order
# verdict (first failing stage, else 'kept').  The pipeline query
# reports per-source survivor totals; this is its per-doc audit face,
# and the two must agree exactly — the pytest pins
# SUM(n_tokens WHERE verdict='kept') per source == tokens_kept.
#
# 100 TB posture: identical stage postures to q_curation_pipeline (the
# audit adds only left joins of per-doc flag tables that are each a
# vanishing corpus fraction, and the final doc-keyed presentation
# sort).
# ---------------------------------------------------------------------------
_DROP_AUDIT_ORACLE = f"""
WITH ks AS (
  SELECT md5(text) AS h, MIN(doc_id) AS keeper
  FROM documents GROUP BY md5(text)
),
base AS (
  SELECT d.doc_id, d.source,
         len(string_split(d.text, ' ')) AS n_tokens,
         (d.doc_id <> k.keeper) AS is_dup,
         NOT (len(string_split(d.text, ' ')) BETWEEN {_GATE_TOK_MIN} AND {_GATE_TOK_MAX}
              AND 1.0 - len(list_distinct(string_split(d.text, ' '))) * 1.0
                  / len(string_split(d.text, ' ')) <= {_GATE_DUP_MAX}
              AND length(d.text) * 1.0 / len(string_split(d.text, ' '))
                  BETWEEN {_GATE_CPT_MIN} AND {_GATE_CPT_MAX}) AS quality_fail
  FROM documents d JOIN ks k ON md5(d.text) = k.h
),
{_SHINGLES_CTE.strip()},
bench AS (
  SELECT DISTINCT unnest(shingles) AS shingle FROM sh
  WHERE doc_id < {_BENCH_MAX_ID}
),
corpus AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh
  WHERE doc_id >= {_BENCH_MAX_ID} AND len(shingles) > 0
),
hits AS (
  SELECT c.doc_id, COUNT(*) AS n_hit
  FROM corpus c JOIN bench USING (shingle) GROUP BY c.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM corpus GROUP BY doc_id),
flagged AS (
  SELECT s.doc_id, TRUE AS contaminated
  FROM sizes s LEFT JOIN hits h USING (doc_id)
  WHERE ROUND(COALESCE(h.n_hit, 0) * 1.0 / s.n_sh, 6) >= {_CONTAM_MIN}
),
d4 AS (
  SELECT b.doc_id, b.source, b.n_tokens
  FROM base b LEFT JOIN flagged f USING (doc_id)
  WHERE NOT b.is_dup AND NOT b.quality_fail AND f.doc_id IS NULL
),
ob AS (
  SELECT doc_id,
         SUM(n_tokens) OVER (PARTITION BY source
                             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                             ROWS UNBOUNDED PRECEDING) > {_PIPE_BUDGET}
           AS over_budget
  FROM d4
)
SELECT b.doc_id, b.source, b.n_tokens, b.is_dup, b.quality_fail,
       COALESCE(f.contaminated, FALSE) AS contaminated,
       COALESCE(ob.over_budget, FALSE) AS over_budget,
       CASE WHEN b.is_dup THEN 'dup'
            WHEN b.quality_fail THEN 'quality'
            WHEN COALESCE(f.contaminated, FALSE) THEN 'contaminated'
            WHEN COALESCE(ob.over_budget, FALSE) THEN 'budget'
            ELSE 'kept' END AS verdict
FROM base b
LEFT JOIN flagged f USING (doc_id)
LEFT JOIN ob USING (doc_id)
ORDER BY doc_id
"""


@query("q_drop_audit", oracle=_DROP_AUDIT_ORACLE)
def q_drop_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    keeper = (
        d.groupBy(F.expr("md5(CAST(text AS BINARY))").alias("h"))
        .agg(F.min("doc_id").alias("keeper"))
    )
    # r13: quality expressions as ONE parsed-SQL projection (see
    # _replicate_copies' plan-construction note; 'D' suffixes pin the
    # former lit(float) operands to DoubleType — same operators, same
    # values, oracle hash-green at both SFs)
    _nt = "size(split(text, ' '))"
    quality_fail = (
        f"NOT(({_nt} BETWEEN {_GATE_TOK_MIN} AND {_GATE_TOK_MAX})"
        f" AND ((1.0D - CAST(size(array_distinct(split(text, ' ')))"
        f" AS DOUBLE) / {_nt}) <= {_GATE_DUP_MAX!r}D)"
        f" AND ((CAST(length(text) AS DOUBLE) / {_nt})"
        f" BETWEEN {_GATE_CPT_MIN!r}D AND {_GATE_CPT_MAX!r}D))"
    )
    from pyspec_spark.registry import track_persist

    # r13 optimization (guide §1.2/§5): `base` feeds the budget window
    # (via d4) AND the final three-way join — unpersisted, the keeper
    # aggregation + join + quality expressions executed once per
    # branch (the as-built plan carried 10 document scans).  The frame
    # is corpus-narrow metadata (id, source, token count, two flags);
    # persisted MEMORY_AND_DISK-style by Spark's default for exactly
    # one corpus pass per build.
    base = track_persist(
        spark,
        f"q_drop_audit#base#{next(_PERSIST_SEQ)}",
        d.selectExpr("*", "md5(CAST(text AS BINARY)) AS h")
        .join(keeper, "h")
        .selectExpr(
            "doc_id",
            "source",
            f"{_nt} AS n_tokens",
            "(doc_id != keeper) AS is_dup",
            f"{quality_fail} AS quality_fail",
        ),
    )
    sh = _shingled(spark, sf_dir)
    bench = (
        sh.where(f"doc_id < {_BENCH_MAX_ID}")
        .selectExpr("explode(shingles) AS shingle")
        .distinct()
    )
    corpus = sh.where(
        f"doc_id >= {_BENCH_MAX_ID} AND size(shingles) > 0"
    ).selectExpr("doc_id", "explode(shingles) AS shingle")
    # r13 optimization (guide §2.3 "aggregate before you shuffle",
    # §1.2): hit and size counts in ONE pass over the exploded shingle
    # stream — a left join against the broadcast bench set with a hit
    # flag replaces the former inner-join-count + separate size count,
    # which each re-ran the corpus shingle explode.  COUNT(*) of the
    # inner join == SUM(hit flag) of the left join, so `flagged` is
    # row-identical; the tiny result is persisted because both d4 and
    # the final join consume it.
    flagged = track_persist(
        spark,
        f"q_drop_audit#flagged#{next(_PERSIST_SEQ)}",
        corpus.join(
            F.broadcast(bench.selectExpr("*", "1 AS _hit")), "shingle", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_sh"),
            F.expr("SUM(coalesce(_hit, 0))").alias("n_hit"),
        )
        .where(
            f"round(CAST(n_hit AS DOUBLE) / n_sh, 6) >= {_CONTAM_MIN}D"
        )
        .selectExpr("doc_id", "true AS contaminated"),
    )
    d4 = (
        base.join(flagged, "doc_id", "left_anti")
        .where("NOT is_dup AND NOT quality_fail")
        .select("doc_id", "source", "n_tokens")
    )
    ob = d4.selectExpr(
        "doc_id",
        "(SUM(n_tokens) OVER (PARTITION BY source"
        " ORDER BY md5(CAST(CAST(doc_id AS STRING) AS BINARY)), doc_id"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        f" > {_PIPE_BUDGET}) AS over_budget",
    )
    # verdict references the RAW left-join columns: CASE WHEN NULL is
    # not-taken, exactly like the former coalesce-to-false — ONE
    # projection, so CollapseProject keeps the pre-r13 plan shape
    return (
        base.join(flagged, "doc_id", "left")
        .join(ob, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "source",
            "n_tokens",
            "is_dup",
            "quality_fail",
            "COALESCE(contaminated, false) AS contaminated",
            "COALESCE(over_budget, false) AS over_budget",
            "CASE WHEN is_dup THEN 'dup'"
            " WHEN quality_fail THEN 'quality'"
            " WHEN contaminated THEN 'contaminated'"
            " WHEN over_budget THEN 'budget'"
            " ELSE 'kept' END AS verdict",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# L45 training-order materialization (r10) — the seeded GLOBAL SHUFFLE
# every training run consumes its mix through, done the way it scales:
# the naive ROW_NUMBER() OVER (ORDER BY md5(seed||id)) is a
# single-partition window (the whole corpus through one reducer); the
# engine's operators/ordering.global_order_index computes the SAME
# exact positions via the two-level rank — 256 md5-first-byte buckets
# (hex-prefix order is monotone in the key order, so bucket-major
# equals global order by construction), per-bucket windows in
# parallel, bucket offsets from a 256-row prefix sum.  The oracle IS
# the naive formulation in DuckDB, so the scalable plan must
# reproduce the single-funnel semantics row-for-row; the plan gate
# pins that the corpus-sized window is hash-partitioned (the 256-row
# offsets window is the only single-partition one).  shard /
# pos_in_shard are the fixed-size dataloader coordinates
# (write_train_shards materializes shard=K/ dirs a loader reads
# partition-pruned, in order).
# ---------------------------------------------------------------------------
_TORDER_SEED = "r10s"
_TORDER_SHARD = 256

_TRAIN_ORDER_ORACLE = f"""
WITH k AS (
  SELECT doc_id, md5('{_TORDER_SEED}' || CAST(doc_id AS VARCHAR)) AS key
  FROM documents
),
r AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY key, doc_id) - 1 AS BIGINT) AS pos
  FROM k
)
SELECT doc_id, pos,
       CAST(pos // {_TORDER_SHARD} AS BIGINT) AS shard,
       CAST(pos % {_TORDER_SHARD} AS BIGINT) AS pos_in_shard
FROM r
ORDER BY doc_id
"""


@query("q_train_order", oracle=_TRAIN_ORDER_ORACLE)
def q_train_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspec_spark.operators.ordering import (
        assign_train_shards,
        global_order_index,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id")
    ordered = global_order_index(docs, "doc_id", seed=_TORDER_SEED)
    return (
        assign_train_shards(ordered, _TORDER_SHARD)
        .selectExpr(
            "doc_id",
            "pos",
            "CAST(shard AS BIGINT) AS shard",
            "CAST(pos_in_shard AS BIGINT) AS pos_in_shard",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# L46 — the training mix MATERIALIZED end-to-end (r12): the artifact a
# training run actually consumes, composed from the declared halves
# that existed since r7/r10 but never met — per-source epoch counts
# (q_epoch_alloc, L16c) -> deterministic per-document replication
# including the FRACTIONAL last epoch -> seeded global shuffle over the
# REPLICATED stream (L45's two-level rank, replica in the shuffle key
# so copies scatter) -> fixed-size dataloader shards.
#
# Fractional-epoch semantics (where repeat-handling bugs live): a
# source allocated e epochs replicates each of its documents
# floor(e) times plus ONE more with probability frac(e), the draw
# content-keyed (md5(doc_id || '#epoch')) so every engine, run, and
# partition layout draws identically and DuckDB replays it exactly.
# All threshold arithmetic is INTEGER in micro-epochs: epochs is
# 6-dp-pinned upstream, so round(epochs*1e6) is exact in both engines
# (the operand sits within 1e-9 of an integer — no tie-mode exposure),
# and the draw compares bigint % 1e6 against bigint, never
# double < double.
#
# 100 TB posture: the allocation table is |sources| rows (broadcast);
# replication is a map-side explode (each row carries its own copy
# count — no join back, no skew: a doc at 8 epochs emits 8 rows from
# one task); the global order is global_order_index's 256-bucket
# two-level rank over the replicated stream — the replica index is
# INSIDE the md5 order key, so the copies of a hot document land in
# different buckets and different shards (the property epoch-level
# interleaving needs); shards are a map-side pos//shard_size.  No
# corpus-sized single-partition window anywhere (plan-gated, the L45
# gate family).
# ---------------------------------------------------------------------------
_TMIX_SEED = "r12mix"
_TMIX_SHARD = 256
_TMIX_MICRO = 1_000_000


def _train_mix_oracle() -> str:
    return f"""
WITH alloc AS ({_epoch_alloc_oracle()}),
rep AS (
  SELECT d.doc_id, d.source,
         CAST(ROUND(a.epochs * {_TMIX_MICRO}) AS BIGINT) // {_TMIX_MICRO}
         + CASE WHEN ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '#epoch'), 1, 8))::BIGINT
                     % {_TMIX_MICRO}
                  < CAST(ROUND(a.epochs * {_TMIX_MICRO}) AS BIGINT) % {_TMIX_MICRO}
                THEN 1 ELSE 0 END AS n_copies
  FROM documents d JOIN alloc a USING (source)
),
copies AS (
  SELECT doc_id, source,
         CAST(unnest(range(1, n_copies + 1)) AS INT) AS replica
  FROM rep
),
k AS (
  SELECT doc_id, source, replica,
         CAST(doc_id AS VARCHAR) || '#' || CAST(replica AS VARCHAR) AS rid
  FROM copies
),
o AS (
  SELECT doc_id, source, replica,
         CAST(ROW_NUMBER() OVER (ORDER BY md5('{_TMIX_SEED}' || rid), rid) - 1
              AS BIGINT) AS pos
  FROM k
)
SELECT doc_id, replica, source, pos,
       CAST(pos // {_TMIX_SHARD} AS BIGINT) AS shard,
       CAST(pos % {_TMIX_SHARD} AS BIGINT) AS pos_in_shard
FROM o
ORDER BY pos
"""


def _alloc_micro_over(docs_tok: DataFrame) -> DataFrame:
    """(source, _em) micro-epoch allocation over an arbitrary per-doc
    (source, n_tokens) corpus slice — the L16b/L16c arithmetic (sqrt
    temperature weight, exact decimal weight total, 4x-token budget,
    RMAX cap, 6-dp pins) parameterized by the input frame, so the
    versioned mix (L46d) computes its base and full allocations, and
    the curated mix its kept-mass allocation, from ONE definition.
    Broadcast-sized output (|sources| rows)."""
    from pyspec_spark.registry import track_persist

    s = docs_tok.groupBy("source").agg(
        F.expr("CAST(SUM(n_tokens) AS BIGINT)").alias("n_tokens")
    )
    # r13 optimization (guide §1.2/§5): the chain below references this
    # |sources|-row aggregate four times (twt, mix, tot, alloc) and
    # without a persist EACH reference re-executes the corpus-sized
    # groupBy + tokenize beneath it (measured: q_train_mix's as-built
    # plan carried 10 parquet scans of documents).  Persisting the
    # tiny aggregate makes the corpus pass run once per build; the
    # sequence tag keeps simultaneous allocations (the L46d delta
    # builds base + full in one plan) from evicting each other, and
    # the registry drains every tracked frame via release_persisted().
    s = track_persist(
        docs_tok.sparkSession, f"_alloc_micro#{next(_PERSIST_SEQ)}", s
    )
    # r13: expression trees as parsed SQL strings (one py4j round-trip
    # per statement — see _replicate_copies); same operators, same
    # results (oracle hash-green at both SFs).
    w = s.selectExpr(
        "*", "round(sqrt(CAST(n_tokens AS DOUBLE)), 6) AS weight"
    )
    twt = w.selectExpr(
        "CAST(SUM(CAST(weight AS DECIMAL(18,6))) AS DOUBLE) AS tw"
    )
    mix = w.crossJoin(F.broadcast(twt)).selectExpr(
        "source", "n_tokens", "round(weight / tw, 6) AS mix_p"
    )
    tot = mix.selectExpr("CAST(SUM(n_tokens) AS BIGINT) AS t")
    return mix.crossJoin(F.broadcast(tot)).selectExpr(
        "source",
        "CAST(round(round(least(CAST(4 * t AS DOUBLE) * mix_p / n_tokens,"
        f" CAST({_EPOCH_RMAX} AS DOUBLE)), 6) * {_TMIX_MICRO}, 0)"
        " AS BIGINT) AS _em",
    )


def _replicate_copies(
    docs: DataFrame,
    alloc_micro: DataFrame,
    salt: str,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Fractional-epoch replication off a broadcast (source, _em)
    micro-epoch allocation: each doc emits _em//1e6 copies plus one
    more when its content-keyed md5 draw lands under _em%1e6 (integer
    compares only — no double threshold).  Map-side explode: each row
    carries its own copy count, no join-back, no skew.  Returns
    (doc_id, source, replica, _rid) with _rid = 'doc_id#replica', the
    order key the seeded shuffle hashes so copies scatter.

    r13 (guide §7.3 analog — plan-construction cost): the expression
    trees are built as parsed SQL strings (the minhash-family
    precedent, commit e8a2dde).  Per-Column py4j round-trips cost
    ~0.4-0.65 ms EACH on this box and the three mix builders pay this
    helper twice per cold re-exec; one selectExpr per statement is one
    round-trip however wide the expression.  The SQL forms are the
    function-by-function transliteration of the former Column chain
    (conv/substring/md5/pmod/sequence/CASE — same Catalyst operators,
    bit-identical results; oracle hash-green at both SFs)."""
    m = _TMIX_MICRO
    draw = (
        f"CAST(conv(substring(md5(CAST(CAST(doc_id AS STRING) || "
        f"'{salt}' AS BINARY)), 1, 8), 16, 10) AS BIGINT) % {m}"
    )
    n_copies = (
        f"CAST(CAST((_em - pmod(_em, {m})) / {m} AS BIGINT)"
        f" + CAST({draw} < pmod(_em, {m}) AS BIGINT) AS INT)"
    )
    rep = docs.join(F.broadcast(alloc_micro), "source").selectExpr(
        "doc_id", "source", *extra_cols, f"{n_copies} AS n_copies"
    )
    copies = rep.selectExpr(
        "doc_id",
        "source",
        *extra_cols,
        "explode(CASE WHEN n_copies >= 1 THEN sequence(1, n_copies)"
        " ELSE CAST(array() AS ARRAY<INT>) END) AS replica",
    )
    return copies.selectExpr(
        "*",
        "concat(CAST(doc_id AS STRING), '#', CAST(replica AS STRING))"
        " AS _rid",
    )


def _replicate_order_shard(
    docs: DataFrame, alloc_micro: DataFrame, salt: str, seed: str
) -> DataFrame:
    """The shared L46 tail — ONE definition so the draw, tie-break,
    and shard discipline cannot drift between the declared mixes
    (q_train_mix / q_train_mix_curated / the L46d delta extension
    differ only in input frame, salt+seed, and position offset):
    fractional-epoch replication (_replicate_copies), the seeded
    two-level global order over the REPLICATED stream (replica index
    inside the md5 order key so copies scatter), then fixed-size shard
    coordinates."""
    from pyspec_spark.operators.ordering import (
        assign_train_shards,
        global_order_index,
    )

    keyed = _replicate_copies(docs, alloc_micro, salt)
    ordered = global_order_index(keyed, "_rid", seed=seed)
    return (
        assign_train_shards(ordered, _TMIX_SHARD)
        .selectExpr(
            "doc_id",
            "replica",
            "source",
            "pos",
            "CAST(shard AS BIGINT) AS shard",
            "CAST(pos_in_shard AS BIGINT) AS pos_in_shard",
        )
        .orderBy("pos")
    )


@query("q_train_mix", oracle=_train_mix_oracle())
def q_train_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    alloc = q_epoch_alloc.__wrapped__(spark, sf_dir).selectExpr(
        "source",
        f"CAST(round(epochs * {_TMIX_MICRO}, 0) AS BIGINT) AS _em",
    )
    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    return _replicate_order_shard(d, alloc, "#epoch", _TMIX_SEED)


# ---------------------------------------------------------------------------
# L46b — the CURATED training mix (r12): the composition a real run
# executes end-to-end — curation verdicts (L44 drop audit: dedup loser
# / quality fail / contamination / token budget) -> temperature mixing
# (L16b arithmetic) and epoch allocation (L16c) computed over the KEPT
# token masses, not the raw corpus -> fractional-epoch replication ->
# seeded global shuffle -> shard coordinates.  q_train_mix (L46)
# proves the mix machinery; this query proves it COMPOSES with the
# curation front-end: every constant and rounding step is shared
# module-level with the L44/L16 declarations, so the two cannot drift,
# and the oracle splices the full audit CTE so DuckDB replays
# curation -> allocation -> replication -> order in one statement.
#
# The draw salt and order seed differ from L46 deliberately: the two
# declared mixes must not share randomness (a bug canceling between
# them would hash-match both).
#
# 100 TB posture: the audit stages keep their L44 postures; everything
# downstream of `kept` is the L46 shape (broadcast |sources| alloc,
# map-side explode, 256-bucket two-level rank — plan-gated).
# ---------------------------------------------------------------------------
_TMIXC_SEED = "r12mixc"
_TMIXC_SALT = "#epochk"


def _train_mix_curated_oracle() -> str:
    return f"""
WITH kept AS (
  SELECT doc_id, source, n_tokens
  FROM ({_DROP_AUDIT_ORACLE}) WHERE verdict = 'kept'
),
s AS (
  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
  FROM kept GROUP BY source
),
w AS (
  SELECT source, n_tokens,
         ROUND(SQRT(CAST(n_tokens AS DOUBLE)), 6) AS weight
  FROM s
),
twt AS (
  SELECT CAST(SUM(CAST(weight AS DECIMAL(18,6))) AS DOUBLE) AS tw FROM w
),
mix AS (
  SELECT source, n_tokens, ROUND(weight / tw, 6) AS mix_p FROM w, twt
),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM mix),
alloc AS (
  SELECT source,
         CAST(ROUND(ROUND(LEAST(CAST(4 * t AS DOUBLE) * mix_p / n_tokens,
                                CAST({_EPOCH_RMAX} AS DOUBLE)), 6)
                    * {_TMIX_MICRO}) AS BIGINT) AS em
  FROM mix, tot
),
rep AS (
  SELECT k.doc_id, k.source,
         a.em // {_TMIX_MICRO}
         + CASE WHEN ('0x' || substr(md5(CAST(k.doc_id AS VARCHAR)
                                         || '{_TMIXC_SALT}'), 1, 8))::BIGINT
                     % {_TMIX_MICRO} < a.em % {_TMIX_MICRO}
                THEN 1 ELSE 0 END AS n_copies
  FROM kept k JOIN alloc a USING (source)
),
copies AS (
  SELECT doc_id, source,
         CAST(unnest(range(1, n_copies + 1)) AS INT) AS replica
  FROM rep
),
k2 AS (
  SELECT doc_id, source, replica,
         CAST(doc_id AS VARCHAR) || '#' || CAST(replica AS VARCHAR) AS rid
  FROM copies
),
o AS (
  SELECT doc_id, source, replica,
         CAST(ROW_NUMBER() OVER (ORDER BY md5('{_TMIXC_SEED}' || rid), rid)
              - 1 AS BIGINT) AS pos
  FROM k2
)
SELECT doc_id, replica, source, pos,
       CAST(pos // {_TMIX_SHARD} AS BIGINT) AS shard,
       CAST(pos % {_TMIX_SHARD} AS BIGINT) AS pos_in_shard
FROM o
ORDER BY pos
"""


@query("q_train_mix_curated", oracle=_train_mix_curated_oracle())
def q_train_mix_curated(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspec_spark.registry import track_persist

    audit = q_drop_audit.__wrapped__(spark, sf_dir)
    # kept feeds TWO plan branches (the kept-mass allocation aggregate
    # and the replication join) — persist, or the entire multi-stage
    # audit lineage (dedup window, quality gate, contamination join,
    # budget cumsum) executes twice per run (lazy: no job at build).
    # TRACKED (r13, ADVICE): no post-action unpersist hook exists on a
    # returned plan, so the registry bounds the cache to one frame per
    # query name and harnesses drain it via release_persisted().
    kept = track_persist(
        spark,
        "q_train_mix_curated",
        audit.where("verdict = 'kept'").select(
            "doc_id", "source", "n_tokens"
        ),
    )
    alloc = _alloc_micro_over(kept)
    return _replicate_order_shard(kept, alloc, _TMIXC_SALT, _TMIXC_SEED)


# ---------------------------------------------------------------------------
# L46c — per-shard mix accounting (r12): the sanity table a training
# run logs before consuming the shards — per shard: document count,
# distinct sources, and the source-distribution entropy.  This is the
# CHECK on the global shuffle's actual job: if the seeded order mixes
# well, every shard's source distribution approximates the global mix
# and the entropy column is flat near ln(|sources|); a broken shuffle
# (copies clumping, bucket-major leakage) shows up as low-entropy
# shards long before a loss curve does.
#
# Determinism: entropy terms are ROUND(p*LN(p), 6) per (shard, source)
# FIRST, then summed under DECIMAL(18,6) (exact, order-independent),
# then negated/rounded — the mix_p discipline; p itself is one double
# division of exact bigints.  Plan: the mix's shard coordinates are
# map-side on the two-level rank, the stats are two shard-keyed
# aggregations + a shard-keyed join — no global window, nothing
# corpus-funneled.
# ---------------------------------------------------------------------------
def _mix_shard_stats_oracle() -> str:
    return f"""
WITH mix AS ({_train_mix_oracle()}),
per AS (
  SELECT shard, source, CAST(COUNT(*) AS BIGINT) AS n_src
  FROM mix GROUP BY shard, source
),
tot AS (
  SELECT shard, CAST(SUM(n_src) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_sources
  FROM per GROUP BY shard
),
terms AS (
  SELECT p.shard,
         ROUND((CAST(p.n_src AS DOUBLE) / t.n_docs)
               * LN(CAST(p.n_src AS DOUBLE) / t.n_docs), 6) AS term
  FROM per p JOIN tot t USING (shard)
)
SELECT t.shard, t.n_docs, t.n_sources,
       ROUND(-CAST(SUM(CAST(term AS DECIMAL(18,6))) AS DOUBLE), 6)
         AS entropy
FROM tot t JOIN terms USING (shard)
GROUP BY t.shard, t.n_docs, t.n_sources
ORDER BY t.shard
"""


@query("q_mix_shard_stats", oracle=_mix_shard_stats_oracle())
def q_mix_shard_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    mix = q_train_mix.__wrapped__(spark, sf_dir)
    per = mix.groupBy("shard", "source").agg(
        F.count("*").cast("bigint").alias("n_src")
    )
    tot = per.groupBy("shard").agg(
        F.sum("n_src").cast("bigint").alias("n_docs"),
        F.count("*").cast("bigint").alias("n_sources"),
    )
    p = F.col("n_src").cast("double") / F.col("n_docs")
    terms = per.join(tot, "shard").select(
        "shard",
        "n_docs",
        "n_sources",
        F.round(p * F.log(p), 6).alias("term"),
    )
    return (
        terms.groupBy("shard", "n_docs", "n_sources")
        .agg(
            F.round(
                -F.sum(F.col("term").cast("decimal(18,6)")).cast("double"),
                6,
            ).alias("entropy")
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# L46d — VERSIONED / INCREMENTAL training mix (r13): every other
# maintained artifact has a delta path (rollup ST8b, term index
# L40d/e, vector lake ST11/ST11c) — the mix was rebuild-only, so a
# corpus delta reshuffled the shard set wholesale and a resumable
# training run lost its dataset version.  The versioned contract:
#
# - mix VERSION v+1 = version v's rows UNCHANGED (byte-identical
#   shard files — pinned in tests/test_mix_delta.py) + an EXTENSION:
#   the delta docs replicated under the NEW allocation (computed over
#   the full post-delta corpus — "the same allocation discipline"),
#   ordered among THEMSELVES by the two-level rank under a seed that
#   carries the version, positioned AFTER the consumed history
#   (pos = |version v| + delta-rank), filling the tail of the last
#   partial shard and then new shards.
# - history is never re-replicated: sources whose epoch counts moved
#   between the two allocations are REPORTED (q_mix_alloc_drift), not
#   silently reshuffled — the operator decides when drift warrants a
#   full mix rebuild (a new mix lineage), exactly like index retrain.
#
# q_train_mix_delta returns the EXTENSION rows; the oracle replays
# both allocations (base corpus for the offset, full corpus for the
# delta's epochs), the base replication COUNT (the offset needs no
# base ordering — position count is order-free), the delta
# replication, and the version-seeded rank in one statement.  The
# delta split is doc_id % 4 == 3 (a late-landing crawl slice).
#
# 100 TB posture: both allocations are |sources|-row broadcasts; the
# base pass is a map-side replicate + count (no ordering, no
# shuffle beyond one agg); the extension pays the L46 machinery over
# the DELTA only — incremental cost ∝ delta, never corpus.
# ---------------------------------------------------------------------------
_TMIXD_MOD, _TMIXD_RESID = 4, 3
_TMIXD_SEED = "r13mixd#v2"  # the order seed CARRIES the version


def _alloc_micro_sql(docs_cte: str, tag: str) -> str:
    """The L16b/L16c allocation as CTE text over an arbitrary per-doc
    (doc_id, source, n_tok) CTE — the SQL face of _alloc_micro_over,
    emitted twice (base + full) by the L46d oracles."""
    return f"""s{tag} AS (
  SELECT source, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
  FROM {docs_cte} GROUP BY source
),
w{tag} AS (
  SELECT source, n_tokens,
         ROUND(SQRT(CAST(n_tokens AS DOUBLE)), 6) AS weight
  FROM s{tag}
),
x{tag} AS (
  SELECT CAST(SUM(CAST(weight AS DECIMAL(18,6))) AS DOUBLE) AS tw
  FROM w{tag}
),
m{tag} AS (
  SELECT source, n_tokens, ROUND(weight / tw, 6) AS mix_p
  FROM w{tag}, x{tag}
),
t{tag} AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM m{tag}),
a{tag} AS (
  SELECT source,
         CAST(ROUND(ROUND(LEAST(CAST(4 * t AS DOUBLE) * mix_p / n_tokens,
                                CAST({_EPOCH_RMAX} AS DOUBLE)), 6)
                    * {_TMIX_MICRO}) AS BIGINT) AS _em
  FROM m{tag}, t{tag}
)"""


_TMIXD_DRAW = (
    "('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '#epoch'), 1, 8))"
    f"::BIGINT % {_TMIX_MICRO}"
)


def _train_mix_delta_oracle() -> str:
    return f"""
WITH dall AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok
  FROM documents
),
dbase AS (SELECT * FROM dall WHERE doc_id % {_TMIXD_MOD} <> {_TMIXD_RESID}),
ddelta AS (SELECT * FROM dall WHERE doc_id % {_TMIXD_MOD} = {_TMIXD_RESID}),
{_alloc_micro_sql('dbase', '1')},
{_alloc_micro_sql('dall', '2')},
nbase AS (
  SELECT CAST(COALESCE(SUM(
           a._em // {_TMIX_MICRO}
           + CASE WHEN {_TMIXD_DRAW} < a._em % {_TMIX_MICRO}
                  THEN 1 ELSE 0 END), 0) AS BIGINT) AS nb
  FROM dbase d JOIN a1 a USING (source)
),
rep AS (
  SELECT d.doc_id, d.source,
         a._em // {_TMIX_MICRO}
         + CASE WHEN {_TMIXD_DRAW} < a._em % {_TMIX_MICRO}
                THEN 1 ELSE 0 END AS n_copies
  FROM ddelta d JOIN a2 a USING (source)
),
copies AS (
  SELECT doc_id, source,
         CAST(unnest(range(1, n_copies + 1)) AS INT) AS replica
  FROM rep
),
k2 AS (
  SELECT doc_id, source, replica,
         CAST(doc_id AS VARCHAR) || '#' || CAST(replica AS VARCHAR) AS rid
  FROM copies
),
o AS (
  SELECT doc_id, source, replica,
         CAST(ROW_NUMBER() OVER (ORDER BY md5('{_TMIXD_SEED}' || rid), rid)
              - 1 AS BIGINT) AS dpos
  FROM k2
)
SELECT doc_id, replica, source,
       CAST(dpos + nb AS BIGINT) AS pos,
       CAST((dpos + nb) // {_TMIX_SHARD} AS BIGINT) AS shard,
       CAST((dpos + nb) % {_TMIX_SHARD} AS BIGINT) AS pos_in_shard
FROM o, nbase
ORDER BY pos
"""


@query("q_train_mix_delta", oracle=_train_mix_delta_oracle())
def q_train_mix_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspec_spark.operators.ordering import global_order_index

    d = table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(_toks()).alias("n_tokens")
    )
    split = F.pmod("doc_id", F.lit(_TMIXD_MOD))
    base = d.where(split != _TMIXD_RESID)
    delta = d.where(split == _TMIXD_RESID)

    # the offset: |version v| = the base corpus's replicated row count
    # under ITS OWN allocation — order-free (one map-side explode +
    # 1-row count; no base ordering work is ever redone)
    nb = _replicate_copies(base, _alloc_micro_over(base), "#epoch").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("_nb")
    )

    # the extension: delta docs under the FULL-corpus allocation,
    # version-seeded two-level rank among themselves
    keyed = _replicate_copies(delta, _alloc_micro_over(d), "#epoch")
    ordered = global_order_index(keyed, "_rid", seed=_TMIXD_SEED)
    # r13 (second pass): offset/shard arithmetic as parsed SQL (the
    # exact faces of the former gpos/_idiv/pmod Column chain)
    gpos = "CAST(pos + _nb AS BIGINT)"
    return (
        ordered.crossJoin(F.broadcast(nb))
        .selectExpr(
            "doc_id",
            "replica",
            "source",
            f"{gpos} AS pos",
            f"CAST((({gpos}) - pmod({gpos}, {_TMIX_SHARD}))"
            f" / {_TMIX_SHARD} AS BIGINT) AS shard",
            f"CAST(pmod({gpos}, {_TMIX_SHARD}) AS BIGINT) AS pos_in_shard",
        )
        .orderBy("pos")
    )


def _mix_alloc_drift_oracle() -> str:
    return f"""
WITH dall AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok
  FROM documents
),
dbase AS (SELECT * FROM dall WHERE doc_id % {_TMIXD_MOD} <> {_TMIXD_RESID}),
{_alloc_micro_sql('dbase', '1')},
{_alloc_micro_sql('dall', '2')}
SELECT COALESCE(b.source, f.source) AS source,
       CAST(COALESCE(b._em, 0) AS BIGINT) AS em_base,
       CAST(COALESCE(f._em, 0) AS BIGINT) AS em_full,
       CAST(COALESCE(f._em, 0) - COALESCE(b._em, 0) AS BIGINT)
         AS drift_micro,
       b.source IS NULL AS is_new
FROM a1 b FULL OUTER JOIN a2 f ON b.source = f.source
ORDER BY source
"""


@query("q_mix_alloc_drift", oracle=_mix_alloc_drift_oracle())
def q_mix_alloc_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The L46d drift report: per source, the micro-epoch allocation
    before and after the delta landed, the signed drift, and whether
    the source is NEW in the delta — what the operator reads to decide
    between extending the mix (history under the old epochs is close
    enough) and cutting a fresh mix lineage.  Two broadcast-sized
    allocations full-outer-joined; no corpus-sized work."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(_toks()).alias("n_tokens")
    )
    base = d.where(F.pmod("doc_id", F.lit(_TMIXD_MOD)) != _TMIXD_RESID)
    a1 = _alloc_micro_over(base).withColumnRenamed("_em", "em_base")
    a2 = _alloc_micro_over(d).withColumnRenamed("_em", "em_full")
    j = a1.join(a2, "source", "full_outer")
    eb = F.coalesce("em_base", F.lit(0)).cast("bigint")
    ef = F.coalesce("em_full", F.lit(0)).cast("bigint")
    return j.select(
        "source",
        eb.alias("em_base"),
        ef.alias("em_full"),
        (ef - eb).alias("drift_micro"),
        F.col("em_base").isNull().alias("is_new"),
    ).orderBy("source")


def train_mix_epoch(
    docs: DataFrame,
    alloc_micro: DataFrame,
    salt: str,
    seed: str,
    epoch: int,
) -> DataFrame:
    """The per-epoch re-shuffle face (L46 consumption, r13): epoch e
    of a training run is the SAME replicated multiset (identical
    allocation, identical salt -> identical fractional draws — the
    replication is never re-drawn) re-ordered under seed‖e.  Epoch 0
    IS the declared mix order (seed unchanged, so epoch-0 ==
    q_train_mix exactly — pinned in tests/test_mix_delta.py); later
    epochs are distinct permutations of the same multiset with the
    same shard-size layout.  Cost per epoch = one two-level rank +
    shard write; the replication explode re-runs map-side (cheaper
    than storing an extra copy of the multiset)."""
    eseed = seed if epoch == 0 else f"{seed}#e{int(epoch)}"
    return _replicate_order_shard(docs, alloc_micro, salt, eseed)


# ---------------------------------------------------------------------------
# L46d lake composition: the mix as a MAINTAINED ARTIFACT of the
# corpus lake.  q_train_mix_delta proves the delta semantics against a
# modulo split; in production the delta is whatever COMMITS landed on
# the snapshot lake, detected by the lake's own CDC (S6c lake_diff) —
# these two faces wire them together, with a version marker making the
# mix a resumable artifact: _mix_version.json records which lake
# version the materialized order covers, extend advances it
# exactly-once (lake.write_replace), and anything but pure inserts refuses
# LOUDLY (a mutated or deleted history doc cannot be patched into an
# already-consumed order — that is a new mix lineage, the same
# rebuild-vs-extend decision q_mix_alloc_drift informs).
# ---------------------------------------------------------------------------
_MIX_MARKER = "_mix_version.json"


def _read_mix_marker(path: str) -> dict | None:
    import json as _json
    import os as _os

    p = _os.path.join(path, _MIX_MARKER)
    if not _os.path.exists(p):
        return None
    with open(p) as f:
        return _json.load(f)


def _write_mix_marker(path: str, payload: dict) -> None:
    import json as _json
    import os as _os

    from pyspec_spark.lake import write_replace

    _os.makedirs(path, exist_ok=True)
    write_replace(_os.path.join(path, _MIX_MARKER), _json.dumps(payload))


def _lake_corpus(spark: SparkSession, root: str, version: int) -> DataFrame:
    """(doc_id, source, n_tokens) off a lake snapshot of a documents-
    shaped table — the allocation/replication input."""
    from pyspec_spark.lake import lake_read

    return lake_read(spark, root, version=version).select(
        "doc_id", "source", F.size(_toks()).alias("n_tokens")
    )


def materialize_mix_from_lake(
    spark: SparkSession,
    root: str,
    path: str,
    version: int | None = None,
    salt: str = "#epoch",
    seed_base: str = "lakemix",
    shard_size: int = _TMIX_SHARD,
) -> int:
    """Mix version 0: the full L46 pipeline over the lake snapshot,
    sharded to ``path``, marker recording (lake root, covered lake
    version, salt, seed_base, row count).  Returns the mix row count."""
    from pyspec_spark.lake import latest_version
    from pyspec_spark.operators.ordering import write_train_shards

    if _read_mix_marker(path) is not None:
        raise ValueError(
            f"{path} already holds a materialized mix — extend it "
            "(extend_mix_from_lake) or choose a new path"
        )
    v = latest_version(root) if version is None else version
    corpus = _lake_corpus(spark, root, v)
    mix = _replicate_order_shard(
        corpus, _alloc_micro_over(corpus), salt, f"{seed_base}#v{v}"
    )
    write_train_shards(
        mix.drop("shard", "pos_in_shard"), path, shard_size
    )
    n = spark.read.parquet(path).count()
    _write_mix_marker(
        path,
        {
            "root": root, "lake_version": v, "salt": salt,
            "seed_base": seed_base, "shard_size": shard_size, "rows": n,
        },
    )
    return n


def extend_mix_from_lake(
    spark: SparkSession,
    root: str,
    path: str,
    version: int | None = None,
) -> int:
    """Advance the materialized mix to a newer lake version: CDC the
    covered→target commits (lake_diff on doc_id), REFUSE unless every
    change is an insert, replicate the inserted docs under the
    allocation recomputed over the TARGET snapshot (the L46d
    discipline), rank them under the version-carrying seed, append via
    extend_train_shards (history files untouched), and advance the
    marker.  Returns the number of appended rows (0 when the lake has
    not moved).  The drift report for the operator's rebuild-or-extend
    call is _alloc_micro_over at the two versions — the
    q_mix_alloc_drift shape over lake snapshots."""
    from pyspec_spark.lake import lake_diff, latest_version, write_new
    from pyspec_spark.operators.ordering import (
        extend_train_shards,
        global_order_index,
    )

    m = _read_mix_marker(path)
    if m is None:
        raise ValueError(
            f"{path} holds no materialized mix — materialize_mix_from_lake "
            "first"
        )
    v_from = int(m["lake_version"])
    v_to = latest_version(root) if version is None else version
    if v_to == v_from:
        return 0
    if v_to < v_from:
        raise ValueError(
            f"mix at {path} covers lake version {v_from} > target {v_to}"
        )

    # one extension per target version, CAS-guarded (the index/lake
    # maintenance discipline): two concurrent extenders would BOTH
    # append the delta's rows — the loser must fail BEFORE writing.
    # The lock releases on successful publish; a crashed extender
    # leaves it in place and blocks LOUDLY (repair: inspect the shard
    # dirs against the marker, then remove the lock).
    import os as _os
    import uuid as _uuid

    lock = _os.path.join(path, f".mix-txn-v{v_to}.lock")
    try:
        write_new(lock, _uuid.uuid4().hex)
    except FileExistsError:
        raise ValueError(
            f"mix extension to lake version {v_to} under {path} is "
            f"owned by another extender (or a crashed one — see "
            f"{lock}); retry after it publishes or repair"
        ) from None

    try:
        return _extend_mix_locked(spark, root, path, m, v_from, v_to)
    finally:
        # released on publish AND on refusal/error — only a process
        # CRASH leaves the lock (the loud-block semantics above)
        try:
            _os.unlink(lock)
        except FileNotFoundError:
            pass


def _extend_mix_locked(
    spark: SparkSession, root: str, path: str, m: dict,
    v_from: int, v_to: int,
) -> int:
    from pyspec_spark.lake import lake_diff
    from pyspec_spark.operators.ordering import (
        extend_train_shards,
        global_order_index,
    )

    changes = lake_diff(spark, root, v_from, v_to, key="doc_id")
    bad = (
        changes.where(F.col("change") != "insert")
        .select("doc_id", "change")
        .limit(5)
        .collect()
    )
    if bad:
        raise ValueError(
            f"lake {root} v{v_from}->v{v_to} carries non-insert changes "
            f"({[(r['doc_id'], r['change']) for r in bad]}…) — a mutated "
            "or deleted history doc cannot be patched into an already-"
            "consumed order; cut a new mix lineage (materialize into a "
            "fresh path) instead"
        )
    inserted = changes.select("doc_id")
    corpus_to = _lake_corpus(spark, root, v_to)
    delta = corpus_to.join(inserted, "doc_id")

    # offset = the marker's consumed row count (recorded at
    # materialize/extend time from the written shards) — NOT a base
    # recompute: this is what makes extend fully corpus-independent
    # (SCALING r13b measured the honest-recompute arm growing at
    # ~0.15 s/M docs; the marker read is O(1))
    keyed = _replicate_copies(
        delta, _alloc_micro_over(corpus_to), m["salt"]
    )
    ordered = global_order_index(
        keyed, "_rid", seed=f"{m['seed_base']}#v{v_to}"
    )
    gpos = (F.col("pos") + F.lit(int(m["rows"]))).cast("long")
    ext = ordered.select(
        "doc_id", "replica", "source", gpos.alias("pos")
    ).persist()  # two consumers: the count and the shard write
    try:
        n_ext = ext.count()
        if n_ext:
            extend_train_shards(ext, path, int(m["shard_size"]))
    finally:
        ext.unpersist()
    _write_mix_marker(
        path,
        {**m, "lake_version": v_to, "rows": int(m["rows"]) + n_ext},
    )
    return n_ext


def mix_drift_from_lake(
    spark: SparkSession, root: str, path: str, version: int | None = None
) -> DataFrame:
    """The q_mix_alloc_drift shape over the REAL lake artifact: per
    source, the micro-epoch allocation at the mix's covered lake
    version vs the target version, the signed drift, and is_new — what
    the operator reads before choosing extend_mix_from_lake (drift
    small) or a fresh materialize_mix_from_lake lineage (drift large).
    Two broadcast-sized allocations full-outer-joined; no corpus-sized
    work beyond the two token-mass aggregations."""
    from pyspec_spark.lake import latest_version

    m = _read_mix_marker(path)
    if m is None:
        raise ValueError(f"{path} holds no materialized mix")
    v_from = int(m["lake_version"])
    v_to = latest_version(root) if version is None else version
    a1 = _alloc_micro_over(
        _lake_corpus(spark, root, v_from)
    ).withColumnRenamed("_em", "em_base")
    a2 = _alloc_micro_over(
        _lake_corpus(spark, root, v_to)
    ).withColumnRenamed("_em", "em_full")
    j = a1.join(a2, "source", "full_outer")
    eb = F.coalesce("em_base", F.lit(0)).cast("bigint")
    ef = F.coalesce("em_full", F.lit(0)).cast("bigint")
    return j.select(
        "source",
        eb.alias("em_base"),
        ef.alias("em_full"),
        (ef - eb).alias("drift_micro"),
        F.col("em_base").isNull().alias("is_new"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# L46f — CURRICULUM-ordered training mix (r13): ascending-difficulty
# blocks, each internally a seeded pseudo-random permutation — the
# ordering face of curriculum learning (Bengio et al. 2009, public
# knowledge) over the SAME replicated multiset as q_train_mix.  The
# difficulty proxy here is document length (n_chars quartile tiers via
# an exact integer division against the corpus max — a 1-row broadcast
# aggregate); any per-doc difficulty column plugs into the same
# tier_col machinery.
#
# Deliberate sharing vs deliberate independence: the replication salt
# IS q_train_mix's ("#epoch") — the curriculum is BY DESIGN a
# reordering of the standard mix, and the multiset-equality pytest
# pins exactly that; the ORDER seed is independent (r13cur), so the
# two declared orders share no randomness.
#
# Scale posture: tiering is map-side after a 1-row max broadcast;
# ordering is the L46 two-level rank with buckets generalized to
# (tier, bucket) pairs — offsets prefix-sum over <= 4x256 rows, every
# corpus-sized window hash-partitioned (the shared plan gate covers
# this query too).
# ---------------------------------------------------------------------------
_TMIXCUR_SEED = "r13cur"
_TMIXCUR_TIERS = 4


def _train_mix_curriculum_oracle() -> str:
    return f"""
WITH alloc AS ({_epoch_alloc_oracle()}),
mx AS (SELECT MAX(n_chars) AS mx FROM documents),
rep AS (
  SELECT d.doc_id, d.source,
         (d.n_chars * {_TMIXCUR_TIERS}) // (mx.mx + 1) AS tier,
         CAST(ROUND(a.epochs * {_TMIX_MICRO}) AS BIGINT) // {_TMIX_MICRO}
         + CASE WHEN ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '#epoch'), 1, 8))::BIGINT
                     % {_TMIX_MICRO}
                  < CAST(ROUND(a.epochs * {_TMIX_MICRO}) AS BIGINT) % {_TMIX_MICRO}
                THEN 1 ELSE 0 END AS n_copies
  FROM documents d JOIN alloc a USING (source) CROSS JOIN mx
),
copies AS (
  SELECT doc_id, source, tier,
         CAST(unnest(range(1, n_copies + 1)) AS INT) AS replica
  FROM rep
),
k AS (
  SELECT doc_id, source, tier, replica,
         CAST(doc_id AS VARCHAR) || '#' || CAST(replica AS VARCHAR) AS rid
  FROM copies
),
o AS (
  SELECT doc_id, source, tier, replica,
         CAST(ROW_NUMBER() OVER (
           ORDER BY tier, md5('{_TMIXCUR_SEED}' || rid), rid) - 1
              AS BIGINT) AS pos
  FROM k
)
SELECT doc_id, replica, source, CAST(tier AS INT) AS tier, pos,
       CAST(pos // {_TMIX_SHARD} AS BIGINT) AS shard,
       CAST(pos % {_TMIX_SHARD} AS BIGINT) AS pos_in_shard
FROM o
ORDER BY pos
"""


@query("q_train_mix_curriculum", oracle=_train_mix_curriculum_oracle())
def q_train_mix_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspec_spark.operators.ordering import (
        assign_train_shards,
        global_order_index,
    )

    alloc = q_epoch_alloc.__wrapped__(spark, sf_dir).select(
        "source",
        (F.round(F.col("epochs") * _TMIX_MICRO, 0).cast("bigint")).alias(
            "_em"
        ),
    )
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    mx = d.agg(F.max("n_chars").alias("_mx"))
    scaled = F.col("n_chars") * _TMIXCUR_TIERS
    denom = F.col("_mx") + 1
    tiered = (
        d.crossJoin(F.broadcast(mx))
        .withColumn(
            "tier",
            ((scaled - F.pmod(scaled, denom)) / denom).cast("int"),
        )
        .select("doc_id", "source", "tier")
    )
    keyed = _replicate_copies(tiered, alloc, "#epoch", extra_cols=("tier",))
    ordered = global_order_index(
        keyed, "_rid", seed=_TMIXCUR_SEED, tier_col="tier"
    )
    return (
        assign_train_shards(ordered, _TMIX_SHARD)
        .selectExpr(
            "doc_id",
            "replica",
            "source",
            "CAST(tier AS INT) AS tier",
            "pos",
            "CAST(shard AS BIGINT) AS shard",
            "CAST(pos_in_shard AS BIGINT) AS pos_in_shard",
        )
        .orderBy("pos")
    )


# ---------------------------------------------------------------------------
# L13c — length-grouped batching (r13): the padding-efficiency face of
# training-data loading (public knowledge: length-grouped / bucketed
# batching as in fairseq & HF Trainer's LengthGroupedSampler) — docs
# sorted by token length descending, cut into fixed-size batches, so
# each batch pads to its own max instead of the corpus max; the
# per-batch padding table is what the efficiency review reads.
#
# The exact global rank by (n_tokens DESC, doc_id) is the histogram
# two-level rank (the ntile_exact/L45 discipline, with the LENGTH
# HISTOGRAM as the bucket table): per-length counts (one groupBy,
# |distinct lengths| rows), a prefix-sum window over that bounded
# table (single partition over |lengths| rows — constant), within-
# length ROW_NUMBER hash-partitioned by the length key, position =
# offset + rank.  No corpus-wide window funnel anywhere.
# ---------------------------------------------------------------------------
_LB_BATCH = 16

_LENGTH_BATCHES_ORACLE = f"""
WITH d AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents
),
o AS (
  SELECT doc_id, n,
         (ROW_NUMBER() OVER (ORDER BY n DESC, doc_id) - 1)
           // {_LB_BATCH} AS batch_id
  FROM d
)
SELECT CAST(batch_id AS BIGINT) AS batch_id,
       CAST(COUNT(*) AS INT) AS n_docs,
       CAST(MAX(n) AS INT) AS max_tokens,
       CAST(SUM(n) AS BIGINT) AS sum_tokens,
       CAST(COUNT(*) * MAX(n) - SUM(n) AS BIGINT) AS padding
FROM o
GROUP BY batch_id
ORDER BY batch_id
"""


@query("q_length_batches", oracle=_LENGTH_BATCHES_ORACLE)
def q_length_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.size(_toks()).alias("n")
    )
    counts = d.groupBy("n").agg(F.count("*").alias("_c"))
    w_off = Window.orderBy(F.desc("n")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "n", F.coalesce(F.sum("_c").over(w_off), F.lit(0)).alias("_off")
    )
    w_in = Window.partitionBy("n").orderBy("doc_id")
    pos = F.col("_off") + F.row_number().over(w_in) - 1
    batched = (
        d.join(F.broadcast(offsets), "n")
        .withColumn("batch_id", (pos - F.pmod(pos, F.lit(_LB_BATCH))) / _LB_BATCH)
        .withColumn("batch_id", F.col("batch_id").cast("long"))
    )
    return (
        batched.groupBy("batch_id")
        .agg(
            F.count("*").cast("int").alias("n_docs"),
            F.max("n").cast("int").alias("max_tokens"),
            F.sum("n").cast("bigint").alias("sum_tokens"),
            (F.count("*") * F.max("n") - F.sum("n"))
            .cast("bigint")
            .alias("padding"),
        )
        .orderBy("batch_id")
    )
