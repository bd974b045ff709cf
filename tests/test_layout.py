"""Physical-layout tools for the 100 TB posture: bucketed co-located
joins (no shuffle exchange) and salted skew joins (hot keys spread over
many reducers) — asserted on plans AND on result equivalence."""

from __future__ import annotations

import pytest

from pyspec_spark.operators.joins import salted_join
from pyspec_spark.plans import count_exchanges, physical_plan
from pyspark.sql import functions as F

from pyspec_spark.sinks import write_bucketed
from pyspec_spark.tables import table

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def no_broadcast(spark):
    """Force shuffle-join planning so the bucketing/salting effect is
    visible (broadcast would hide the exchange at toy scale)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_has_no_exchange(spark, tmp_path_factory, no_broadcast):
    base = tmp_path_factory.mktemp("bucketed")
    li = table(spark, SF, "lineitem").select("l_orderkey", "l_extendedprice")
    od = table(spark, SF, "orders").select("o_orderkey", "o_custkey")
    write_bucketed(
        li, "li_bucketed", ["l_orderkey"], 4,
        path=str(base / "li"), sort_by=["l_orderkey"],
    )
    write_bucketed(
        od, "od_bucketed", ["o_orderkey"], 4,
        path=str(base / "od"), sort_by=["o_orderkey"],
    )
    try:
        a = spark.table("li_bucketed")
        b = spark.table("od_bucketed")
        j = a.join(b, a.l_orderkey == b.o_orderkey)
        plan = physical_plan(j)
        # bucket-to-bucket: no shuffle, and sortBy removed the sorts too
        assert count_exchanges(plan) == 0, plan
        assert "SortMergeJoin" in plan
        # result equivalence vs the plain (shuffled) join
        expected = li.join(od, li.l_orderkey == od.o_orderkey).count()
        assert j.count() == expected
        # groupBy on the bucket key also skips its exchange
        g = a.groupBy("l_orderkey").count()
        assert count_exchanges(physical_plan(g)) == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS li_bucketed")
        spark.sql("DROP TABLE IF EXISTS od_bucketed")


def test_salted_join_matches_plain_join(spark, no_broadcast):
    li = table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    od = table(spark, SF, "orders").select("o_orderkey", "o_custkey")
    plain = li.join(od, li.l_orderkey == od.o_orderkey)
    salted = salted_join(li, od, "l_orderkey", "o_orderkey", n_salts=8)
    assert salted.count() == plain.count()
    # exact multiset equivalence on an aggregate
    p = plain.groupBy("o_custkey").count().orderBy("o_custkey").collect()
    s = salted.groupBy("o_custkey").count().orderBy("o_custkey").collect()
    assert p == s


def test_salted_left_join_keeps_unmatched(spark, no_broadcast):
    li = table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    # dim restricted to half the keys -> left join must keep the rest
    od = (
        table(spark, SF, "orders")
        .where("o_orderkey % 2 = 0")
        .select("o_orderkey", "o_custkey")
    )
    plain = li.join(od, li.l_orderkey == od.o_orderkey, "left")
    salted = salted_join(li, od, "l_orderkey", "o_orderkey", n_salts=4, how="left")
    assert salted.count() == plain.count()
    assert (
        salted.where("o_custkey IS NULL").count()
        == plain.where("o_custkey IS NULL").count()
    )


def test_rollup_cascade_levels_consistent(spark):
    """Every cascade level must equal the direct aggregation of raw data
    at that resolution, and row counts must be conserved upward."""
    from pyspark.sql import functions as F

    from pyspec_spark.functions.determinism import _fixed6
    from pyspec_spark.operators.rollup import rollup_cascade
    from pyspec_spark.tables import table as t

    e = t(spark, SF, "events")
    cascade = rollup_cascade(e, "ts", ["event_type"], "value")
    total = e.count()
    for lv in ("minute", "hour", "day"):
        df = cascade[lv]
        assert df.agg(F.sum("n")).collect()[0][0] == total
        direct = (
            e.groupBy(F.date_trunc(lv, "ts").alias("bucket"), "event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(_fixed6(F.col("value"))).alias("sum_micro"),
                F.min("value").alias("min_v"),
                F.max("value").alias("max_v"),
            )
        )
        merged = df.orderBy("bucket", "event_type").collect()
        want = direct.orderBy("bucket", "event_type").collect()
        assert merged == want, f"cascade level {lv} diverges from direct agg"


def test_ivf_partitioned_layout_prunes(spark, tmp_path_factory):
    """The IVF at-rest claim, verified: writing the assigned vectors
    partitionBy('cell') and probing a cell subset must plan partition
    filters on `cell` (probe = partition pruning, reading n_probe of
    n_cells directories) — and the probed read returns exactly the
    probed cells' rows."""
    from pyspark.sql import functions as F

    from pyspec_spark.operators.similarity import (
        ivf_assign_df,
        train_centroids_df,
    )

    base = str(tmp_path_factory.mktemp("ivf_at_rest"))
    emb = table(spark, SF, "embeddings")
    cents = train_centroids_df(emb, n_cells=8, sample=500)
    assigned = ivf_assign_df(emb, cents)
    assigned.write.mode("overwrite").partitionBy("cell").parquet(base)

    at_rest = spark.read.parquet(base)
    probe = at_rest.where(F.col("cell").isin(0, 1))
    plan = physical_plan(probe)
    # partition pruning is visible as PartitionFilters on the scan
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any("cell" in ln for ln in pf), plan[:2000]
    want = {r["vec_id"] for r in assigned.where(F.col("cell").isin(0, 1)).collect()}
    got = {r["vec_id"] for r in probe.collect()}
    assert got == want and got  # non-trivial probe
    # full corpus preserved across the layout round-trip
    assert at_rest.count() == emb.count()


def test_zorder_layout_clusters_2d_ranges(spark, tmp_path_factory):
    """write_zordered's claim, verified: a 2-D range predicate's rows
    concentrate in FEW files under z-order (tight per-file z ranges ->
    parquet min/max skipping), but spread across ~ALL files when the
    table is clustered by x alone.  Also checks the predicate is pushed
    to the scan and the layout round-trips the full table."""
    from pyspark.sql import functions as F

    from pyspec_spark.sinks import write_zordered, zorder_value

    # x/y from keys with real spread at sf0.001 (l_suppkey has only 10
    # distinct values there, which would make any y-predicate vacuous)
    li = table(spark, SF, "lineitem").select(
        "l_orderkey", "l_linenumber",
        (F.col("l_orderkey") % 256).alias("x"),
        (F.col("l_partkey") % 256).alias("y"),
    )
    zbase = str(tmp_path_factory.mktemp("zorder"))
    write_zordered(li, zbase, "x", "y", bits=8, n_files=64)
    xbase = str(tmp_path_factory.mktemp("xsorted"))
    li.repartitionByRange(64, "x").sortWithinPartitions("x").write.mode(
        "overwrite"
    ).parquet(xbase)

    pred = (F.col("x") < 64) & (F.col("y") < 64)  # aligned quadrant

    def files_with_matches(base):
        return (
            spark.read.parquet(base)
            .where(pred)
            .select(F.input_file_name().alias("f"))
            .distinct()
            .count()
        )

    z_files = files_with_matches(zbase)
    x_files = files_with_matches(xbase)
    # the aligned quadrant (x<64, y<64, bits=8) is ONE contiguous
    # z-range [0, 4096) holding ~8.7% of rows (measured) -> ~6 of 64
    # z-range files (+ sampled-boundary slack).  The x-only sort prunes
    # x (~26% of rows -> ~17 files) but each of those files holds all y
    # values, so y selectivity prunes nothing further — the 2-D
    # advantage z-order exists for.
    assert z_files <= 9, f"z-order spread quadrant over {z_files} files"
    assert x_files >= 12, f"x-sort unexpectedly clustered y too ({x_files})"
    assert z_files < x_files, (z_files, x_files)
    # predicate reaches the scan
    plan = physical_plan(spark.read.parquet(zbase).where(pred))
    assert "PushedFilters" in plan and "x" in plan
    # round-trip completeness + z matches the column expression
    at_rest = spark.read.parquet(zbase)
    assert at_rest.count() == li.count()
    bad = at_rest.where(
        F.col("z") != zorder_value("x", "y", bits=8)
    ).count()
    assert bad == 0


def test_zorder_value_bijective_and_matches_reference(spark):
    """The Morton key is a bijection on [0, 2^bits)^2 (no two cells
    collide) and equals an independent per-bit numpy reference."""
    import numpy as np
    from pyspark.sql import functions as F

    from pyspec_spark.sinks import zorder_value

    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    rows = grid.select("x", "y", zorder_value("x", "y", bits=6).alias("z")).collect()
    zs = {r["z"] for r in rows}
    assert len(zs) == 64 * 64
    assert min(zs) == 0 and max(zs) == 64 * 64 - 1

    def ref(x, y):
        return sum(
            (((x >> b) & 1) << (2 * b)) | (((y >> b) & 1) << (2 * b + 1))
            for b in range(6)
        )

    for r in rows[:500]:
        assert r["z"] == ref(r["x"], r["y"])


# ---------------------------------------------------------------------------
# sinks.merge_upsert: the in-place hive-directory upsert.
# ---------------------------------------------------------------------------
def test_merge_upsert_rewrites_only_touched_partitions(spark, tmp_path):
    """Semantics: updated keys replaced, new keys inserted, untouched
    rows intact — AND untouched partitions' files are bit-identical
    (same paths, same mtimes): the dynamic-overwrite pruning is real,
    not a full-table rewrite."""
    import glob
    import os

    from pyspec_spark.sinks import merge_upsert

    tgt = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, i % 4, f"v{i}") for i in range(40)], "k long, p int, val string"
    )
    base.repartition("p").write.partitionBy("p").parquet(tgt)

    def files_with_mtime():
        return {
            f: os.path.getmtime(f)
            for f in glob.glob(os.path.join(tgt, "**", "*.parquet"),
                               recursive=True)
        }

    before = files_with_mtime()
    # updates touch partitions 0 and 1 only: k=0 updated, k=100 new
    updates = spark.createDataFrame(
        [(0, 0, "UPDATED"), (100, 1, "NEW")], "k long, p int, val string"
    )
    merge_upsert(spark, tgt, updates, key="k", partition_col="p")

    rows = {r["k"]: r for r in spark.read.parquet(tgt).collect()}
    assert rows[0]["val"] == "UPDATED"
    assert rows[100]["val"] == "NEW" and rows[100]["p"] == 1
    assert len(rows) == 41
    assert rows[2]["val"] == "v2"  # untouched partition intact

    after = files_with_mtime()
    untouched_before = {f: m for f, m in before.items()
                        if "/p=2/" in f or "/p=3/" in f}
    untouched_after = {f: m for f, m in after.items()
                       if "/p=2/" in f or "/p=3/" in f}
    assert untouched_before == untouched_after, "p=2/p=3 were rewritten"


def test_term_bucketed_index_prunes_and_roundtrips(spark, tmp_path):
    """write_term_index + probe_term_index (r8): the probe must (a)
    return exactly the index rows of the probed terms, (b) open only
    the probed buckets' directories — path-level pruning, the
    production lookup the q_index_lookup docstring promises."""
    import os

    from pyspark.sql import functions as F

    from pyspec_spark.operators.text import (
        probe_term_index,
        term_bucket_of,
        write_term_index,
    )
    from pyspec_spark.queries.text_ranking import q_inverted_index

    idx = q_inverted_index.__wrapped__(spark, "/root/testdata/sf0.001")
    root = str(tmp_path / "tidx")
    write_term_index(idx, root, n_buckets=16)
    n_dirs = sum(1 for d in os.listdir(root) if d.startswith("tb="))
    assert n_dirs > 2  # vocabulary actually spreads over buckets

    terms = ["data", "spark"]
    got = {
        r["term"]: (r["df"], r["cf"], r["postings"])
        for r in probe_term_index(spark, root, terms, n_buckets=16).collect()
    }
    want = {
        r["term"]: (r["df"], r["cf"], r["postings"])
        for r in idx.where(F.col("term").isin(*terms)).collect()
    }
    assert got == want and set(got) == set(terms)

    probe = probe_term_index(spark, root, terms, n_buckets=16)
    touched = {
        seg
        for f in probe.inputFiles()
        for seg in f.split("/")
        if seg.startswith("tb=")
    }
    want_buckets = {f"tb={term_bucket_of(t, 16)}" for t in terms}
    assert touched == want_buckets  # nothing outside the probed buckets
    assert len(touched) < n_dirs


def test_term_bucket_python_twin_matches_spark_expr(spark):
    """probe_term_index prunes directories computed by the PYTHON md5
    twin; if it ever diverged from the Spark write-side expression, a
    probe would silently miss its term's files.  Pin them equal over an
    adversarial vocabulary (unicode, empties, md5-hex-looking strings)."""
    from pyspark.sql import functions as F

    from pyspec_spark.operators.text import _term_bucket_col, term_bucket_of

    terms = [
        "", "a", "data", "spark", "ü", "日本語", "x" * 200,
        "0123456789abcdef", "term with spaces", "UPPER", "üñïçødé-mix",
    ] + [f"t{i}" for i in range(50)]
    df = spark.createDataFrame([(t,) for t in terms], "term STRING")
    got = {
        r["term"]: r["b"]
        for r in df.select(
            "term", _term_bucket_col(F.col("term"), 64).alias("b")
        ).collect()
    }
    for t in terms:
        assert got[t] == term_bucket_of(t, 64), t


def test_index_bucket_lookup_query_opens_only_probed_dirs(spark):
    """The files-opened gate for q_index_bucket_lookup (r9): the
    query's own probe — the declared _BUCKET_TERMS over the default
    64-bucket layout — must touch only the probed tb= directories."""
    import os

    from pyspec_spark.operators.text import (
        probe_term_index,
        term_bucket_of,
        write_term_index,
    )
    from pyspec_spark.queries.text_ranking import (
        _BUCKET_TERMS,
        q_inverted_index,
    )

    idx = q_inverted_index.__wrapped__(spark, "/root/testdata/sf0.001")
    import tempfile

    root = tempfile.mkdtemp(prefix="tidx_gate_")
    write_term_index(idx, root)
    n_dirs = sum(1 for d in os.listdir(root) if d.startswith("tb="))
    probe = probe_term_index(spark, root, list(_BUCKET_TERMS))
    touched = {
        seg
        for f in probe.inputFiles()
        for seg in f.split("/")
        if seg.startswith("tb=")
    }
    want = {f"tb={term_bucket_of(t)}" for t in _BUCKET_TERMS}
    assert touched <= want  # nothing outside the probed buckets
    assert n_dirs > len(want)  # pruning is real: most dirs untouched
    import shutil

    shutil.rmtree(root, ignore_errors=True)


def test_incremental_index_append_equals_full_rebuild(spark, tmp_path):
    """append_term_index (r9): base write + delta append must decode to
    exactly the full corpus's (term, doc_id, tf) set — INCLUDING a
    boundary shard split across the two writes (the split point is not
    a shard multiple), which verify_term_shards surfaces as legal
    duplicate (term, shard) rows and per-row decode windows handle
    without a merge step."""
    from pyspark.sql import functions as F

    from pyspec_spark.operators.text import (
        append_term_index,
        decode_postings,
        sharded_postings,
        verify_term_shards,
        write_term_index,
    )
    from pyspec_spark.queries.text_ranking import _tf

    tf = _tf(spark, "/root/testdata/sf0.001").cache()
    split, shard = 130, 100  # 130 is not a multiple of 100: split shard 1
    root = str(tmp_path / "incidx")
    write_term_index(
        sharded_postings(tf.where(F.col("doc_id") < split), shard), root
    )
    append_term_index(tf.where(F.col("doc_id") >= split), root, shard)
    full = spark.read.parquet(root)
    # the boundary shard really is split (duplicates exist and are legal)
    assert verify_term_shards(full).count() > 0
    dec = decode_postings(
        full.select("term", "shard", "postings"), shard_size=shard
    )
    got = {(r["term"], r["doc_id"], r["tf"]) for r in dec.collect()}
    want = {(r["term"], r["doc_id"], r["tf"]) for r in tf.collect()}
    assert got == want
    tf.unpersist()


def test_incremental_index_property_random_splits(spark, tmp_path):
    """Property pin for append_term_index: for RANDOM corpora and
    RANDOM split points (including shard-boundary and off-boundary
    splits, empty base, empty delta), base write + append always
    decodes to exactly the direct (term, doc_id, tf) set."""
    import random

    from pyspark.sql import functions as F

    from pyspec_spark.operators.text import (
        append_term_index,
        decode_postings,
        sharded_postings,
        write_term_index,
    )

    rng = random.Random(17)
    vocab = [f"t{i}" for i in range(12)]
    for trial in range(4):
        n_docs = rng.randint(1, 60)
        shard = rng.choice([3, 7, 10])
        split = rng.choice([0, shard, rng.randint(0, n_docs)])
        rows = []
        for d in range(n_docs):
            for t in rng.sample(vocab, rng.randint(1, 5)):
                rows.append((d, t, rng.randint(1, 4)))
        tf = spark.createDataFrame(rows, "doc_id BIGINT, term STRING, tf BIGINT")
        root = str(tmp_path / f"p{trial}")
        write_term_index(
            sharded_postings(tf.where(F.col("doc_id") < split), shard), root
        )
        append_term_index(tf.where(F.col("doc_id") >= split), root, shard)
        dec = decode_postings(
            spark.read.parquet(root).select("term", "shard", "postings"),
            shard_size=shard,
        )
        got = {(r["term"], r["doc_id"], r["tf"]) for r in dec.collect()}
        want = {(t, d, c) for d, t, c in rows}
        assert got == want, (trial, n_docs, shard, split)


def test_compact_term_index_preserves_content_and_shrinks_files(spark, tmp_path):
    """compact_term_index (r9): after several appends the bucket dirs
    hold many small files; compaction into a new root must decode to
    the identical (term, doc_id, tf) set with fewer files, leaving the
    source root untouched."""
    import glob as g

    from pyspark.sql import functions as F

    from pyspec_spark.operators.text import (
        append_term_index,
        compact_term_index,
        decode_postings,
        sharded_postings,
        write_term_index,
    )
    from pyspec_spark.queries.text_ranking import _tf

    tf = _tf(spark, "/root/testdata/sf0.001").cache()
    shard = 100
    root = str(tmp_path / "idx")
    write_term_index(sharded_postings(tf.where("doc_id < 100"), shard), root)
    for lo, hi in ((100, 200), (200, 300), (300, 10**9)):
        append_term_index(
            tf.where(f"doc_id >= {lo} AND doc_id < {hi}"), root, shard
        )
    dest = str(tmp_path / "idx_c")
    compact_term_index(spark, root, dest)
    n_src = len(g.glob(f"{root}/tb=*/*.parquet"))
    n_dst = len(g.glob(f"{dest}/tb=*/*.parquet"))
    assert n_dst < n_src  # the point of the pass

    def decoded(p):
        return {
            (r["term"], r["doc_id"], r["tf"])
            for r in decode_postings(
                spark.read.parquet(p).select("term", "shard", "postings"),
                shard_size=shard,
            ).collect()
        }

    want = {(r["term"], r["doc_id"], r["tf"]) for r in tf.collect()}
    assert decoded(dest) == want
    assert decoded(root) == want  # source untouched
    with pytest.raises(ValueError, match="NEW dest"):
        compact_term_index(spark, root, root)
    tf.unpersist()


def test_index_delete_tombstone_read_path_and_compact_purge(spark, tmp_path):
    """delete_term_index (r10, L40e): (a) the tombstoned READ path
    (decode + broadcast anti-join) equals the post-delete corpus
    exactly; (b) compact_term_index with tombstones physically purges
    them — its output rows equal a FROM-SCRATCH rebuild over the
    surviving docs row-for-row (df/cf recomputed, no tombstone dir,
    no trace of deleted ids); (c) the source root is untouched."""
    import os

    from pyspark.sql import functions as F

    from pyspec_spark.operators.text import (
        append_term_index,
        apply_tombstones,
        compact_term_index,
        decode_postings,
        delete_term_index,
        read_tombstones,
        sharded_postings,
        write_term_index,
    )
    from pyspec_spark.queries.text_ranking import _tf

    tf = _tf(spark, "/root/testdata/sf0.001").cache()
    shard = 100
    root = str(tmp_path / "delidx")
    write_term_index(sharded_postings(tf.where("doc_id < 130"), shard), root)
    append_term_index(tf.where("doc_id >= 130"), root, shard)
    delete_term_index(
        tf.where("doc_id % 3 = 1").select("doc_id").distinct(), root
    )
    # re-deleting a subset is harmless (anti-join ignores duplicates)
    delete_term_index(
        tf.where("doc_id % 6 = 1").select("doc_id").distinct(), root
    )

    live_tf = tf.where("doc_id % 3 <> 1")
    want = {(r["term"], r["doc_id"], r["tf"]) for r in live_tf.collect()}

    dec = decode_postings(
        spark.read.parquet(root).select("term", "shard", "postings"),
        shard_size=shard,
    )
    got_read = {
        (r["term"], r["doc_id"], r["tf"])
        for r in apply_tombstones(dec, read_tombstones(spark, root)).collect()
    }
    assert got_read == want

    # compact with tombstones requires the sharded layout's shard_size
    with pytest.raises(ValueError, match="shard_size"):
        compact_term_index(spark, root, str(tmp_path / "nope"))

    dest = str(tmp_path / "delidx_c")
    compact_term_index(spark, root, dest, shard_size=shard)
    assert not os.path.isdir(os.path.join(dest, "_tombstones"))

    # row-for-row equality with a from-scratch rebuild of the survivors
    rebuild = str(tmp_path / "delidx_r")
    write_term_index(sharded_postings(live_tf, shard), rebuild)

    def rows(p):
        return {
            (r["term"], r["shard"], r["df_shard"], r["cf_shard"], r["postings"])
            for r in spark.read.parquet(p).collect()
        }

    assert rows(dest) == rows(rebuild)
    # source root untouched: tombstoned read still works there
    assert {
        (r["term"], r["doc_id"], r["tf"])
        for r in apply_tombstones(
            decode_postings(
                spark.read.parquet(root).select("term", "shard", "postings"),
                shard_size=shard,
            ),
            read_tombstones(spark, root),
        ).collect()
    } == want
    tf.unpersist()


def test_tombstones_invisible_to_bucket_probe(spark, tmp_path):
    """The `_tombstones` dir must never leak into the bucketed read
    path: partition discovery ignores underscore dirs, the probe opens
    only probed tb= dirs, and an index with zero deletes (or an empty
    tombstone write) compacts through the verbatim path."""
    from pyspec_spark.operators.text import (
        compact_term_index,
        delete_term_index,
        probe_term_index,
        read_tombstones,
        sharded_postings,
        term_bucket_of,
        write_term_index,
    )
    from pyspec_spark.queries.text_ranking import _tf

    tf = _tf(spark, "/root/testdata/sf0.001")
    root = str(tmp_path / "tvidx")
    write_term_index(sharded_postings(tf, 100), root)
    delete_term_index(tf.where("doc_id < 5").select("doc_id").distinct(), root)
    terms = ["data", "spark"]
    probe = probe_term_index(
        spark, root, terms,
        empty_schema="term STRING, shard BIGINT, df_shard BIGINT, "
        "cf_shard BIGINT, postings STRING",
    )
    touched = {
        seg
        for f in probe.inputFiles()
        for seg in f.split("/")
        if seg.startswith("tb=") or seg == "_tombstones"
    }
    assert touched == {f"tb={term_bucket_of(t)}" for t in terms}

    # empty delete set -> read_tombstones empty -> verbatim compact path
    root2 = str(tmp_path / "tvidx2")
    write_term_index(sharded_postings(tf.where("doc_id < 20"), 100), root2)
    delete_term_index(tf.where("doc_id < 0").select("doc_id"), root2)
    assert read_tombstones(spark, root2).isEmpty()
    compact_term_index(spark, root2, str(tmp_path / "tvidx2_c"))  # no raise


def test_positional_postings_roundtrip_and_append(spark, tmp_path):
    """positional_postings/decode_positional (r10, L40f): decode must
    reproduce the exact (term, doc_id, tf, positions) truth of a direct
    aggregation — including through a base-write + append split at a
    non-shard-multiple (the L40d composability rule: rows decode
    per-row, so boundary shards need no merge)."""
    from pyspark.sql import functions as F

    from pyspec_spark.operators.text import (
        _POSITIONAL_SCHEMA,
        decode_positional,
        positional_postings,
        write_term_index,
    )
    from pyspec_spark.tables import table

    docs = table(spark, "/root/testdata/sf0.001", "documents")
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("p0", "term")
    ).select("doc_id", "term", (F.col("p0") + 1).alias("pos")).cache()
    want = {
        (r["term"], r["doc_id"], r["tf"], tuple(r["ps"]))
        for r in tok.groupBy("term", "doc_id")
        .agg(
            F.count("*").alias("tf"),
            F.array_sort(F.collect_list(F.col("pos").cast("long"))).alias("ps"),
        )
        .collect()
    }
    shard = 100
    root = str(tmp_path / "posidx")
    write_term_index(
        positional_postings(tok.where("doc_id < 130"), shard), root
    )
    write_term_index(
        positional_postings(tok.where("doc_id >= 130"), shard),
        root,
        mode="append",
    )
    dec = decode_positional(
        spark.read.parquet(root).select("term", "shard", "postings"),
        shard_size=shard,
    )
    got = {
        (r["term"], r["doc_id"], r["tf"], tuple(r["positions"]))
        for r in dec.collect()
    }
    assert got == want
    tok.unpersist()


def test_phrase_match_overlaps_repeats_and_multiterm(spark):
    """phrase_match correctness pins: overlapping occurrences count
    ('a b a b' has two 'a b'), repeated-term phrases shift-intersect
    correctly ('a a' matches only true adjacency — the F.transform
    arity trap this test would catch), and 3-term phrases compose."""
    from pyspark.sql import functions as F

    from pyspec_spark.operators.text import (
        decode_positional,
        phrase_match,
        positional_postings,
    )

    docs = spark.createDataFrame(
        [(0, "a b a b c"), (1, "b a b a b"), (2, "c c a b"), (3, "a a a")],
        "doc_id BIGINT, text STRING",
    )
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("p0", "term")
    ).select("doc_id", "term", (F.col("p0") + 1).alias("pos"))
    dec = decode_positional(
        positional_postings(tok, 2).select("term", "shard", "postings"), 2
    )

    def got(phrase):
        return sorted(tuple(r) for r in phrase_match(dec, phrase).collect())

    assert got(["a", "b"]) == [(0, 2), (1, 2), (2, 1)]
    assert got(["a", "a"]) == [(3, 2)]          # 'a a a' overlaps twice
    assert got(["b", "a", "b"]) == [(0, 1), (1, 2)]
    assert got(["c", "a", "b"]) == [(2, 1)]
    assert got(["b", "c", "a"]) == []
    with pytest.raises(ValueError, match="empty phrase"):
        phrase_match(dec, [])


def test_phrase_lookup_query_opens_only_phrase_buckets(spark):
    """FS gate for q_phrase_lookup (r10): the probe for the declared
    phrase terms must open only their tb= directories — positional
    entries change the payload, never the pruning."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from pyspec_spark.operators.text import (
        _POSITIONAL_SCHEMA,
        positional_postings,
        probe_term_index,
        term_bucket_of,
        write_term_index,
    )
    from pyspec_spark.queries.text_ranking import _PHRASE
    from pyspec_spark.tables import table

    docs = table(spark, "/root/testdata/sf0.001", "documents")
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("p0", "term")
    ).select("doc_id", "term", (F.col("p0") + 1).alias("pos"))
    root = tempfile.mkdtemp(prefix="posidx_gate_")
    try:
        import os

        write_term_index(positional_postings(tok, 64), root)
        n_dirs = sum(1 for d in os.listdir(root) if d.startswith("tb="))
        probe = probe_term_index(
            spark, root, sorted(set(_PHRASE)), empty_schema=_POSITIONAL_SCHEMA
        )
        touched = {
            seg
            for f in probe.inputFiles()
            for seg in f.split("/")
            if seg.startswith("tb=")
        }
        want = {f"tb={term_bucket_of(t)}" for t in _PHRASE}
        assert touched <= want
        assert n_dirs > len(want)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_proximity_match_counts_and_min_dist(spark):
    """proximity_match (r10): n_near counts anchor positions with a
    neighbor inside the window (not pairs), min_dist is the global
    minimum pair distance, and docs with no near pair are dropped."""
    from pyspark.sql import functions as F

    from pyspec_spark.operators.text import (
        decode_positional,
        positional_postings,
        proximity_match,
    )

    docs = spark.createDataFrame(
        [
            (0, "a x x b a"),     # a@{1,5}, b@4: |4-1|=3, |4-5|=1
            (1, "a x x x x b"),   # a@1, b@6: dist 5 — outside window 3
            (2, "b a b"),         # a@2, b@{1,3}: both dist 1
            (3, "a a"),           # no b at all
        ],
        "doc_id BIGINT, text STRING",
    )
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("p0", "term")
    ).select("doc_id", "term", (F.col("p0") + 1).alias("pos"))
    dec = decode_positional(
        positional_postings(tok, 2).select("term", "shard", "postings"), 2
    )
    got = {
        r["doc_id"]: (r["n_near"], r["min_dist"])
        for r in proximity_match(dec, "a", "b", 3).collect()
    }
    assert got == {0: (2, 1), 2: (1, 1)}


def test_apply_tombstones_plan_is_broadcast_anti_join(spark):
    """The tombstoned read path must stay a BROADCAST LeftAnti join —
    a shuffled anti-join would re-shuffle corpus-sized decoded postings
    on every read (the exact cost tombstones exist to avoid)."""
    from pyspark.sql import functions as F

    from pyspec_spark.operators.text import apply_tombstones

    decoded = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.lit("t").alias("term"),
        F.lit(1).alias("tf"),
    )
    tombs = spark.range(10).select(F.col("id").alias("doc_id"))
    from pyspec_spark.plans import physical_plan

    plan = physical_plan(apply_tombstones(decoded, tombs))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_tombstones_compose_with_positional_phrase(spark, tmp_path):
    """Deletion composes with the positional index: tombstoned docs
    vanish from phrase results through the same broadcast anti-join
    (read-path composition), compact(positional=True) physically
    purges them with positions intact — equal to a positional rebuild
    of the survivors row-for-row — and the purge REFUSES to run in
    plain mode over positional entries (it would silently drop the
    positions)."""
    from pyspark.sql import functions as F

    from pyspec_spark.operators.text import (
        apply_tombstones,
        decode_positional,
        delete_term_index,
        phrase_match,
        positional_postings,
        read_tombstones,
        write_term_index,
    )

    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "a b"), (2, "x a b"), (3, "b a")],
        "doc_id BIGINT, text STRING",
    )
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("p0", "term")
    ).select("doc_id", "term", (F.col("p0") + 1).alias("pos"))
    root = str(tmp_path / "posdel")
    write_term_index(positional_postings(tok, 2), root)
    delete_term_index(
        spark.createDataFrame([(1,)], "doc_id BIGINT"), root
    )
    dec = apply_tombstones(
        decode_positional(
            spark.read.parquet(root).select("term", "shard", "postings"), 2
        ),
        read_tombstones(spark, root),
    )
    got = sorted(tuple(r) for r in phrase_match(dec, ["a", "b"]).collect())
    assert got == [(0, 1), (2, 1)]  # doc 1 tombstoned out

    # plain-mode purge over positional entries must refuse, not corrupt
    from pyspec_spark.operators.text import compact_term_index

    with pytest.raises(ValueError, match="positional"):
        compact_term_index(
            spark, root, str(tmp_path / "posdel_bad"), shard_size=2
        )

    # positional purge == positional rebuild of the survivors
    dest = str(tmp_path / "posdel_c")
    compact_term_index(
        spark, root, dest, shard_size=2, positional=True
    )
    rebuild = str(tmp_path / "posdel_r")
    write_term_index(
        positional_postings(tok.where("doc_id <> 1"), 2), rebuild
    )

    def rows(p):
        return {
            (r["term"], r["shard"], r["df_shard"], r["cf_shard"], r["postings"])
            for r in spark.read.parquet(p).collect()
        }

    assert rows(dest) == rows(rebuild)
    import os

    assert not os.path.isdir(os.path.join(dest, "_tombstones"))


def test_term_index_publish_swap_and_vacuum(spark, tmp_path):
    """publish_term_index / vacuum_term_indexes (r10): the pointer
    swaps atomically between built roots, vacuum reclaims superseded
    history but never CURRENT, aged unpublished orphans go while fresh
    ones stay (in-flight-rebuild retention), a re-resolving reader is
    unaffected and a pinned reader fails loudly."""
    import os
    import time

    from pyspark.sql import functions as F

    from pyspec_spark.operators.text import (
        compact_term_index,
        current_term_index,
        decode_postings,
        publish_term_index,
        sharded_postings,
        term_index_history,
        vacuum_term_indexes,
        write_term_index,
    )

    tf = spark.createDataFrame(
        [(d, f"t{d % 3}", 1) for d in range(30)],
        "doc_id BIGINT, term STRING, tf BIGINT",
    )
    base = str(tmp_path / "pub")
    os.makedirs(base)
    r1 = os.path.join(base, "v1")
    write_term_index(sharded_postings(tf, 10), r1)
    with pytest.raises(ValueError, match="not a term-index root"):
        publish_term_index(base, str(tmp_path / "nowhere"))
    publish_term_index(base, r1)
    assert current_term_index(base) == os.path.abspath(r1)

    # compact into a new root, publish: pointer swaps, history grows
    r2 = os.path.join(base, "v2")
    compact_term_index(spark, r1, r2)
    publish_term_index(base, r2)
    assert current_term_index(base) == os.path.abspath(r2)
    assert term_index_history(base) == [os.path.abspath(r1), os.path.abspath(r2)]

    # an aged orphan root (abandoned rebuild) and a fresh one
    r_orphan = os.path.join(base, "vX")
    write_term_index(sharded_postings(tf.where("doc_id < 5"), 10), r_orphan)
    old = time.time() - 7200
    os.utime(r_orphan, (old, old))
    r_fresh = os.path.join(base, "vY")
    write_term_index(sharded_postings(tf.where("doc_id < 5"), 10), r_fresh)

    removed = vacuum_term_indexes(base, keep=1, retention_seconds=3600)
    assert set(removed) == {os.path.abspath(r1), os.path.abspath(r_orphan)}
    assert os.path.isdir(r2) and os.path.isdir(r_fresh)
    assert term_index_history(base) == [os.path.abspath(r2)]

    # re-resolving reader: unaffected
    dec = decode_postings(
        spark.read.parquet(current_term_index(base)).select(
            "term", "shard", "postings"
        ),
        shard_size=10,
    )
    assert dec.count() == 30
    # pinned reader on the reclaimed root: loud failure, never silent
    with pytest.raises(Exception):
        spark.read.parquet(r1).collect()

    # CURRENT survives even keep=0-ish abuse (clamped to >= 1)
    vacuum_term_indexes(base, keep=0)
    assert os.path.isdir(current_term_index(base))


# ---------------------------------------------------------------------------
# L40g block-max top-k retrieval (r10) — skip gates on an adversarially
# SKEWED synthetic corpus (the shipped testdata is df-uniform, so the
# skip is invisible there; correctness there is the oracle's job).
# Corpus shape: 224 docs / shard_size 32 → 7 shards; 'dup' lives ONLY
# in docs 40..49 (shard 1) with heavy 'filter'/'spark' counts, so the
# rare-term seed dominates the top-k and the block-max bounds drop
# every other shard.
# ---------------------------------------------------------------------------
_TOPK_SYNTH_SHARD = 32


def _topk_synth_docs(spark, tmp_path):
    rows = []
    for i in range(224):
        toks = ["filter"] * (i % 3 + 1) + ["spark"] * ((i * 7) % 4 + 1)
        toks += ["pad"] * (i % 5 + 1)
        if 40 <= i < 50:
            toks += ["dup"] * (i % 2 + 1) + ["filter"] * 8 + ["spark"] * 8
        rows.append((i, " ".join(toks)))
    sf = str(tmp_path / "synth_sf")
    spark.createDataFrame(rows, "doc_id BIGINT, text STRING").coalesce(
        1
    ).write.parquet(f"{sf}/documents.parquet")
    return sf


def _topk_oracle_rows(sf: str, name: str):
    import duckdb

    from pyspec_spark import registry

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    return con.execute(registry.ORACLES[name]).fetchall()


def test_blockmax_sidecar_hidden_and_max_merged(spark, tmp_path):
    """The _blockmax sidecar must (a) stay invisible to every existing
    reader of the bucket layout, (b) reproduce the per-(term, shard)
    max tf exactly, and (c) MAX-merge duplicate rows from incremental
    appends instead of double-counting."""
    from pyspark.sql import functions as F

    from pyspec_spark.operators.text import (
        decode_postings,
        probe_block_max,
        sharded_postings,
        write_block_max,
        write_term_index,
    )

    sf = _topk_synth_docs(spark, tmp_path)
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    root = str(tmp_path / "bm_idx")
    base = tf.where("doc_id < 100")
    delta = tf.where("doc_id >= 100")
    sh_base = sharded_postings(base, _TOPK_SYNTH_SHARD)
    sh_delta = sharded_postings(delta, _TOPK_SYNTH_SHARD)
    write_term_index(sh_base, root, n_buckets=16)
    write_block_max(sh_base, root, n_buckets=16)
    write_term_index(sh_delta, root, n_buckets=16, mode="append")
    write_block_max(sh_delta, root, n_buckets=16)

    # (a) invisible: the main read sees only the sharded columns
    main = spark.read.parquet(root)
    assert sorted(c for c in main.columns if c != "tb") == [
        "cf_shard",
        "df_shard",
        "postings",
        "shard",
        "term",
    ]
    assert "max_tf" not in main.columns

    # (b)+(c): probe equals brute force off the decoded postings
    terms = ["dup", "filter", "spark", "pad"]
    got = {
        (r["term"], r["shard"]): r["max_tf"]
        for r in probe_block_max(spark, root, terms, n_buckets=16).collect()
    }
    want = {
        (r["term"], r["shard"]): r["mx"]
        for r in decode_postings(
            main.where(F.col("term").isin(*terms)).select(
                "term", "shard", "postings"
            ),
            shard_size=_TOPK_SYNTH_SHARD,
        )
        .withColumn(
            "shard",
            (F.col("doc_id") / _TOPK_SYNTH_SHARD).cast("long"),
        )
        .groupBy("term", "shard")
        .agg(F.max("tf").alias("mx"))
        .collect()
    }
    assert got == want


def test_topk_and_conjunctive_skip_and_exact(spark, tmp_path):
    """q_index_topk_and on the skewed corpus: (gate 1) the rare term's
    shard set — which bounds EVERYTHING decoded — is a strict subset
    of the layout's shards; (gate 2) the result equals the registered
    DuckDB oracle run over the same synthetic corpus (exactness under
    skew, where a wrong skip would actually change the answer)."""
    from pyspark.sql import functions as F

    from pyspec_spark.operators.text import probe_term_index
    from pyspec_spark.queries import text_ranking as tr

    sf = _topk_synth_docs(spark, tmp_path)
    got = [
        (r["doc_id"], r["bm25"])
        for r in tr.q_index_topk_and.__wrapped__(spark, sf).collect()
    ]
    want = [(int(d), float(b)) for d, b in _topk_oracle_rows(sf, "q_index_topk_and")]
    assert got == want and len(got) == 10
    assert {d for d, _ in got} == set(range(40, 50))  # the dup docs

    # skip gate: recompute the candidate shard set the query derives
    # over a fresh index, to inspect the shard structure directly
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    from pyspec_spark.operators.text import sharded_postings, write_term_index

    idx_root = str(tmp_path / "and_idx")
    write_term_index(sharded_postings(tf, tr._TOPK_SHARD), idx_root)
    probed = probe_term_index(
        spark, idx_root, list(tr._TOPK_TERMS), empty_schema=tr._SHARDED_SCHEMA
    )
    rare_shards = {
        r["shard"] for r in probed.where("term = 'dup'").select("shard").collect()
    }
    all_shards = {r["shard"] for r in probed.select("shard").distinct().collect()}
    assert rare_shards == {0}  # docs 40..49, shard_size 64 → shard 0
    assert len(all_shards) == 4  # 224 docs / 64
    # the conjunctive plan decodes only rare_shards of EVERY term:
    kept = probed.join(
        spark.createDataFrame(
            [(s,) for s in rare_shards], "shard BIGINT"
        ),
        "shard",
        "left_semi",
    )
    assert kept.count() == 3  # one row per term in shard 0
    # full probe: dup 1 shard + filter/spark 4 shards each = 9 rows —
    # the conjunctive plan decodes 3 of 9
    assert probed.count() == 9


def test_topk_or_blockmax_bound_drops_shards(spark, tmp_path):
    """q_index_topk_or on the skewed corpus: the θ seeded from the
    rare docs exceeds every other shard's block-max bound, so phase 2
    decodes NOTHING extra — and the result still equals the oracle
    (the docs the bound skipped really cannot place)."""
    from pyspark.sql import functions as F

    from pyspec_spark.operators.text import (
        probe_block_max,
        sharded_postings,
        write_block_max,
        write_term_index,
    )
    from pyspec_spark.queries import text_ranking as tr

    sf = _topk_synth_docs(spark, tmp_path)
    got = [
        (r["doc_id"], r["bm25"])
        for r in tr.q_index_topk_or.__wrapped__(spark, sf).collect()
    ]
    want = [(int(d), float(b)) for d, b in _topk_oracle_rows(sf, "q_index_topk_or")]
    assert got == want and len(got) == 10
    assert {d for d, _ in got} == set(range(40, 50))  # seed dominates

    # bound gate: every non-rare shard's Σ ub sits below θ = 10th seed
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    dl = docs.select("doc_id", F.size(F.split("text", " ")).alias("dl"))
    n_docs, avgdl = dl.agg(F.count("*"), F.avg("dl")).collect()[0]
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    idx_root = str(tmp_path / "or_idx")
    sh = sharded_postings(tf, tr._TOPK_SHARD)
    write_term_index(sh, idx_root)
    write_block_max(sh, idx_root)
    theta = min(b for _, b in want)
    import math

    dfs = {
        r["term"]: r["df"]
        for r in tf.where(F.col("term").isin(*tr._TOPK_TERMS))
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
        .collect()
    }
    k1, b = tr._BM25_K1, tr._BM25_B
    tot_ub: dict[int, float] = {}
    for r in probe_block_max(spark, idx_root, list(tr._TOPK_TERMS)).collect():
        if r["term"] == "dup":
            continue
        idf = round(
            math.log(
                1.0
                + (n_docs - dfs[r["term"]] + 0.5) / (dfs[r["term"]] + 0.5)
            ),
            6,
        )
        ub = idf * r["max_tf"] * (k1 + 1.0) / (r["max_tf"] + k1 * (1.0 - b))
        tot_ub[r["shard"]] = tot_ub.get(r["shard"], 0.0) + ub
    # every shard outside the rare term's (shard 0) sums below θ —
    # phase 2 keeps NOTHING, the skip is total on this corpus ('dup'
    # idf ≈ 3.06 vs ubiquitous-term idf ≈ 0.002)
    non_rare = {s for s in tot_ub if s != 0}
    assert non_rare == {1, 2, 3}
    assert all(tot_ub[s] < theta - tr._BM_MARGIN for s in non_rare)


def test_topk_serving_is_corpus_scan_free(spark):
    """The L40g retrieval plans must read ONLY index artifacts: doc
    lengths and corpus stats come from the _norms sidecar written at
    build, never from a documents scan at query time (at 100 TB a
    per-query corpus column scan would dwarf the probe).  inputFiles()
    enumerates every file the RETURNED plan scans — pin that no
    documents.parquet appears and that norms + bucket dirs do."""
    from pyspec_spark.queries import text_ranking as tr

    for q in (
        tr.q_index_topk_and,
        tr.q_index_topk_or,
        tr.q_proximity_rerank,
        tr.q_batch_retrieval,
    ):
        df = q.__wrapped__(spark, SF)
        files = df.inputFiles()
        assert files, q.__query_name__
        assert not any("documents.parquet" in f for f in files), files
        assert any("_norms" in f for f in files)
        assert any("/tb=" in f for f in files)


def test_topk_or_degrades_safely_without_blockmax_sidecar(
    spark, tmp_path, monkeypatch
):
    """probe_block_max's contract: a missing/empty sidecar costs
    decode work, never correctness.  Force the sidecar probe to come
    back EMPTY (a failed sidecar write, or a compacted root whose
    sidecar was not re-derived) — phase 2 must then keep every
    unknown-bound shard and the result must still equal the oracle,
    not silently drop every non-rare-shard document."""
    import pyspec_spark.operators.text as text_ops
    from pyspec_spark.queries import text_ranking as tr

    sf = _topk_synth_docs(spark, tmp_path)
    want = [(int(d), float(b)) for d, b in _topk_oracle_rows(sf, "q_index_topk_or")]

    real = text_ops.probe_block_max

    def empty_probe(spark_, path, terms, n_buckets=text_ops.TERM_INDEX_BUCKETS):
        df = real(spark_, path, terms, n_buckets)
        return df.where("1 = 0")  # schema-correct, zero rows

    monkeypatch.setattr(text_ops, "probe_block_max", empty_probe)
    got = [
        (r["doc_id"], r["bm25"])
        for r in tr.q_index_topk_or.__wrapped__(spark, sf).collect()
    ]
    assert got == want


def test_train_shards_layout_replays_order_partition_pruned(spark, tmp_path):
    """write_train_shards (L45): shard=K dirs on disk, a dataloader
    reading ONE shard gets exactly its fixed-size slice of the seeded
    global order (partition-pruned read), and concatenating shards in
    (shard, pos_in_shard) order replays the full permutation."""
    import os

    from pyspark.sql import functions as F

    from pyspec_spark.operators.ordering import (
        global_order_index,
        write_train_shards,
    )

    docs = spark.range(1000).select(F.col("id").alias("doc_id"))
    ordered = global_order_index(docs, "doc_id", seed="t")
    base = str(tmp_path / "shards")
    write_train_shards(ordered, base, shard_size=128)

    dirs = sorted(d for d in os.listdir(base) if d.startswith("shard="))
    assert len(dirs) == 8  # ceil(1000/128)

    at_rest = spark.read.parquet(base)
    one = at_rest.where("shard = 3")
    # partition pruning visible on the scan
    from pyspec_spark.plans import physical_plan

    plan = physical_plan(one)
    assert any(
        "PartitionFilters" in ln and "shard" in ln
        for ln in plan.splitlines()
    ), plan[:1500]
    got = [r.doc_id for r in one.orderBy("pos_in_shard").collect()]
    want = [
        r.doc_id
        for r in ordered.orderBy("pos").collect()[3 * 128 : 4 * 128]
    ]
    assert got == want and len(got) == 128
    # full replay across shards
    allg = [
        r.doc_id
        for r in at_rest.orderBy("shard", "pos_in_shard").collect()
    ]
    assert allg == [r.doc_id for r in ordered.orderBy("pos").collect()]


def test_topk_and_norms_read_is_bucket_pruned(spark, tmp_path):
    """The r10 serving refinement: doc lengths come from the _norms
    sidecar bucketed at posting-shard granularity, and the conjunctive
    query probes ONLY the rare term's norm buckets — on the skewed
    corpus ('dup' docs 40..49, shard size 64) that is nb=0 alone, out
    of 4 norm buckets on disk.  Also pins the _norms_stats sidecar:
    serving runs no corpus-length aggregate (stats files, not the dl
    table, feed n_docs/avgdl)."""
    import os

    from pyspec_spark.queries import text_ranking as tr

    sf = _topk_synth_docs(spark, tmp_path)
    df = tr.q_index_topk_and.__wrapped__(spark, sf)
    files = df.inputFiles()
    norm_dirs = {
        seg
        for f in files
        if "_norms/" in f
        for seg in f.split("/")
        if seg.startswith("nb=")
    }
    assert norm_dirs == {"nb=0"}, norm_dirs
    assert any("_norms_stats" in f for f in files)
    # the layout really has more buckets than the probe touched
    root = next(f.split("/_norms/")[0] for f in files if "_norms/" in f)
    root = root.replace("file:", "")
    on_disk = {
        d for d in os.listdir(os.path.join(root, "_norms"))
        if d.startswith("nb=")
    }
    assert len(on_disk) == 4 and "nb=0" in on_disk


def test_upsert_rollup_touched_buckets_only_and_idempotent_state(spark, tmp_path):
    """ST8b incremental rollup maintenance: (1) merging deltas into the
    maintained table equals a from-scratch rebuild exactly (the
    mergeability contract — exact n/sum_micro/min/max); (2) a delta
    touching ONE bucket rewrites only that bucket's files — every other
    bucket's manifest entries carry across versions by reference; (3)
    an upsert whose delta hits existing keys REPLACES (combines), never
    duplicates rows."""
    from pyspark.sql import functions as F

    from pyspec_spark.lake import _load_manifest, latest_version
    from pyspec_spark.operators.rollup import (
        _rollup_partial,
        read_rollup,
        upsert_rollup,
    )
    from pyspec_spark.tables import table as t

    e = t(spark, SF, "events")
    root = str(tmp_path / "roll")
    upsert_rollup(
        spark, root, e.where(F.col("event_id") % 3 != 0),
        "ts", ["event_type"], "value", level="day",
    )
    v1 = latest_version(root)

    # (2) a single-bucket late delta: pick the earliest day
    day0 = e.agg(F.min(F.date_trunc("day", "ts"))).collect()[0][0]
    delta = e.where(
        (F.col("event_id") % 3 == 0)
        & (F.date_trunc("day", "ts") == F.lit(day0))
    )
    assert delta.count() > 0
    v2 = upsert_rollup(
        spark, root, delta, "ts", ["event_type"], "value", level="day"
    )
    f1 = {x["path"]: x["partition"] for x in _load_manifest(root, v1)["files"]}
    f2 = {x["path"]: x["partition"] for x in _load_manifest(root, v2)["files"]}
    pb0 = day0.strftime("%Y-%m-%d %H:%M:%S")
    for path, part in f1.items():
        if part != pb0:
            assert path in f2, f"untouched bucket {part} was rewritten"
    assert any(part == pb0 for part in f2.values())
    for path, part in f2.items():
        if part == pb0:
            assert path not in f1, "touched bucket must get NEW files"

    # finish maintenance with the remaining late rows, all buckets
    rest = e.where(
        (F.col("event_id") % 3 == 0)
        & (F.date_trunc("day", "ts") != F.lit(day0))
    )
    upsert_rollup(spark, root, rest, "ts", ["event_type"], "value", level="day")

    # (1) + (3): maintained state equals the from-scratch partials —
    # same rows, no duplicates, exact values
    got = read_rollup(spark, root, ["event_type"])
    want = _rollup_partial(e, "ts", ["event_type"], "value", "day")
    from pyspec_spark.operators.rollup import finalize

    want_f = finalize(want.drop("rk", "pb"), ["event_type"])
    assert (
        got.orderBy("bucket", "event_type").collect()
        == want_f.orderBy("bucket", "event_type").collect()
    )


def test_upsert_rollup_null_keys_and_null_ts_do_not_collide(spark, tmp_path):
    """Review-pass regression (r10): concat_ws silently SKIPS null
    components, so without the \\x00 sentinel the distinct key tuples
    (NULL, 'x') and ('x', NULL) would collide into one rk and double-
    merge, and a NULL-ts bucket would defeat the pb equality scan
    (NULL = NULL is never true) — a second NULL-bucket delta would
    REPLACE the first's partials instead of merging.  Pins: distinct
    null-bearing groups stay distinct, the null bucket MERGES across
    two deltas, and mixed null/non-null buckets in one delta don't
    crash the driver-side sort."""
    from pyspark.sql import functions as F

    from pyspec_spark.lake import lake_read
    from pyspec_spark.operators.rollup import upsert_rollup

    root = str(tmp_path / "roll_null")
    rows = [
        ("2024-01-01 10:00:00", "x", None, 1.0),
        ("2024-01-01 11:00:00", None, "x", 2.0),
        (None, "x", None, 4.0),   # null ts -> the null bucket
    ]
    df = spark.createDataFrame(
        rows, "ts_s STRING, a STRING, b STRING, v DOUBLE"
    ).select(F.to_timestamp("ts_s").alias("ts"), "a", "b", "v")
    upsert_rollup(spark, root, df, "ts", ["a", "b"], "v", level="day")
    # second delta: same groups again, including the null bucket and a
    # non-null bucket in the SAME delta (the mixed-sort crash case)
    upsert_rollup(spark, root, df, "ts", ["a", "b"], "v", level="day")

    got = {
        (r["a"], r["b"], r["bucket"] is None): (r["n"], r["sum_micro"])
        for r in lake_read(spark, root).collect()
    }
    # three DISTINCT groups, each merged to n=2 (never collided, never
    # replaced)
    assert got == {
        ("x", None, False): (2, 2_000_000),
        (None, "x", False): (2, 4_000_000),
        ("x", None, True): (2, 8_000_000),
    }


def test_upsert_rollup_distinct_sketch_merges_exactly(spark, tmp_path):
    """ST8b + HLL: a rollup maintained with distinct_col carries a
    mergeable distinct sketch per group (the incremental-DAU statistic
    a COUNT(DISTINCT) rollup cannot maintain — distinct is not
    sum-mergeable).  Maintained ESTIMATES must equal a from-scratch
    rollup's (HLL registers max-merge), including when deltas overlap
    in users (the case naive per-delta distinct-count addition gets
    wrong), and equal the EXACT distinct count at this cardinality."""
    from pyspark.sql import functions as F

    from pyspec_spark.operators.rollup import read_rollup, upsert_rollup
    from pyspec_spark.tables import table as t

    e = t(spark, SF, "events")
    inc = str(tmp_path / "inc")
    one = str(tmp_path / "one")
    # overlapping thirds: users appear in multiple deltas, so a
    # sum-of-per-delta-distincts would overcount
    for pred in ("event_id % 3 != 0", "event_id % 3 != 1", "event_id % 3 != 2"):
        upsert_rollup(
            spark, inc, e.where(pred), "ts", ["event_type"], "value",
            level="day", distinct_col="user_id",
        )
    upsert_rollup(
        spark, one, e, "ts", ["event_type"], "value",
        level="day", distinct_col="user_id",
    )
    cols = ["bucket", "event_type", "n_distinct"]
    got = {
        (r["bucket"], r["event_type"]): r["n_distinct"]
        for r in read_rollup(spark, inc, ["event_type"]).collect()
    }
    want = {
        (r["bucket"], r["event_type"]): r["n_distinct"]
        for r in read_rollup(spark, one, ["event_type"]).collect()
    }
    assert got == want and got
    # at fixture cardinality the estimate is the exact distinct count
    exact = {
        (r["bucket"], r["event_type"]): r["d"]
        for r in e.groupBy(
            F.date_trunc("day", "ts").alias("bucket"), "event_type"
        )
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    assert got == exact
    # the n/sum path is unaffected: overlapping deltas triple-count by
    # construction there (each row lands in exactly two deltas), so n
    # per group must be exactly 2x the true count
    n_inc = {
        (r["bucket"], r["event_type"]): r["n"]
        for r in read_rollup(spark, inc, ["event_type"]).collect()
    }
    n_one = {
        (r["bucket"], r["event_type"]): r["n"]
        for r in read_rollup(spark, one, ["event_type"]).collect()
    }
    assert n_inc == {k: 2 * v for k, v in n_one.items()}


# ---------------------------------------------------------------------------
# Maintained-index lifecycle (r11, L40j): the lockstep markers, the
# stale-norms loud-failure gate, and compaction refreshing every
# serving artifact.
# ---------------------------------------------------------------------------
def _maint_tf_dl(spark):
    from pyspec_spark.tables import table

    docs = table(spark, SF, "documents")
    tf = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dl = docs.select("doc_id", F.size(F.split("text", " ")).alias("dl"))
    return tf, dl


def test_stale_norms_serve_fails_loudly(spark, tmp_path):
    """THE wrong-answer trap this round closes: postings appended
    without norms must make serving RAISE (the dl inner join would
    silently exclude every appended doc from top-k).  Appending the
    delta's norms afterwards repairs the gate."""
    from pyspec_spark.operators.text import (
        append_term_index,
        assert_norms_current,
        build_maintained_index,
        read_maint_seq,
        write_norms,
    )

    tf, dl = _maint_tf_dl(spark)
    gen = F.col("doc_id") % 4 == 3
    root = str(tmp_path / "maint")
    build_maintained_index(
        spark, tf.where(~gen), dl.where(~gen), root, 64
    )
    assert_norms_current(root)  # fresh build serves
    assert read_maint_seq(root, "postings") == 1
    # the bypass: postings-only append (the raw r9 API)
    append_term_index(tf.where(gen), root, 64)
    assert read_maint_seq(root, "postings") == 2
    with pytest.raises(RuntimeError, match="stale norms"):
        assert_norms_current(root)
    # and the serving queries' shared plumbing gates on it too
    from pyspec_spark.queries.text_ranking import _topk_index_parts

    with pytest.raises(RuntimeError, match="stale norms"):
        _topk_index_parts(spark, root, terms=("dup",))
    # repair: land the delta's norms — lockstep restored
    write_norms(dl.where(gen), root, shard_size=64)
    assert_norms_current(root)


def test_legacy_index_without_markers_passes_gate(spark, tmp_path):
    """Back-compat: an index built through the raw writers before the
    markers existed (no _maint dir) must serve unchanged."""
    from pyspec_spark.operators.text import (
        assert_norms_current,
        sharded_postings,
        write_norms,
        write_term_index,
    )

    tf, dl = _maint_tf_dl(spark)
    root = str(tmp_path / "legacy")
    write_term_index(sharded_postings(tf, 64), root)
    write_norms(dl, root, shard_size=64)
    import shutil

    shutil.rmtree(f"{root}/_maint")  # simulate a pre-marker index
    assert_norms_current(root)


def test_maintained_append_serves_appended_docs(spark, tmp_path):
    """End-to-end: after append_maintained_index, serving must SEE the
    appended generation — scored results equal a from-scratch
    maintained build over the full corpus (the no-drift contract)."""
    from pyspec_spark.operators.text import (
        append_maintained_index,
        build_maintained_index,
        decode_postings,
        probe_norms,
        probe_term_index,
        read_norm_stats,
    )
    from pyspec_spark.queries.text_ranking import (
        _SHARDED_SCHEMA,
        _score_decoded,
        _topk_index_parts,
    )

    tf, dl = _maint_tf_dl(spark)
    gen = F.col("doc_id") % 4 == 3

    def serve(root):
        probed, _d, _r, idf, _dl, stats = _topk_index_parts(
            spark, root, terms=("dup", "filter"),
            empty_schema=_SHARDED_SCHEMA,
        )
        decoded = decode_postings(
            probed.select("term", "shard", "postings"), shard_size=64
        )
        shard_ids = sorted(
            r["shard"] for r in probed.select("shard").distinct().collect()
        )
        dlp = probe_norms(spark, root, shard_ids)
        return sorted(
            tuple(r)
            for r in _score_decoded(decoded, idf, dlp, stats).collect()
        )

    r_maint = str(tmp_path / "maint")
    build_maintained_index(
        spark, tf.where(~gen), dl.where(~gen), r_maint, 64
    )
    append_maintained_index(
        spark, tf.where(gen), dl.where(gen), r_maint, 64
    )
    r_scratch = str(tmp_path / "scratch")
    build_maintained_index(spark, tf, dl, r_scratch, 64)
    got, want = serve(r_maint), serve(r_scratch)
    assert got == want and len(got) > 0
    # stats sidecar composes exactly across the append
    sm = read_norm_stats(spark, r_maint).collect()[0]
    ss = read_norm_stats(spark, r_scratch).collect()[0]
    assert (sm["n_docs"], sm["avgdl"]) == (ss["n_docs"], ss["avgdl"])


def test_compact_maintained_refreshes_all_serving_artifacts(
    spark, tmp_path
):
    """compact_maintained_index purges tombstones from postings AND
    norms, rewrites the stats row from survivors, re-derives blockmax,
    and resets matched markers — the compacted root must be
    indistinguishable (stats, norms rows, served scores) from a
    from-scratch maintained build over the live corpus."""
    from pyspec_spark.operators.text import (
        build_maintained_index,
        compact_maintained_index,
        delete_term_index,
        probe_block_max,
        read_maint_seq,
        read_norm_stats_raw,
        read_norms,
        read_tombstones,
    )

    tf, dl = _maint_tf_dl(spark)
    root = str(tmp_path / "maint")
    build_maintained_index(spark, tf, dl, root, 64)
    dead = dl.where("doc_id % 5 = 2").select("doc_id")
    delete_term_index(dead, root)
    dest = str(tmp_path / "compacted")
    compact_maintained_index(spark, root, dest, 64)

    live = F.col("doc_id") % 5 != 2
    scratch = str(tmp_path / "scratch")
    build_maintained_index(
        spark, tf.where(live), dl.where(live), scratch, 64
    )
    # tombstones gone, markers matched
    assert read_tombstones(spark, dest).isEmpty()
    assert read_maint_seq(dest, "postings") == read_maint_seq(
        dest, "norms"
    )
    # norms rows == survivors' rows exactly
    a = sorted(tuple(r) for r in read_norms(spark, dest).collect())
    b = sorted(tuple(r) for r in read_norms(spark, scratch).collect())
    assert a == b and len(a) > 0
    # exact stats equality
    assert (
        read_norm_stats_raw(spark, dest).collect()
        == read_norm_stats_raw(spark, scratch).collect()
    )
    # blockmax sidecar re-derived over the purged rows: bounds for a
    # probed term agree with the from-scratch sidecar
    bm_d = {
        (r["term"], r["shard"]): r["max_tf"]
        for r in probe_block_max(spark, dest, ["dup"]).collect()
    }
    bm_s = {
        (r["term"], r["shard"]): r["max_tf"]
        for r in probe_block_max(spark, scratch, ["dup"]).collect()
    }
    assert bm_d == bm_s and len(bm_d) > 0


def test_upsert_rollup_quantile_sketch_merges_exactly(spark, tmp_path):
    """ST8c + KLL (r11): a rollup maintained with quantile_col carries
    a mergeable quantile sketch per group, so the continuous aggregate
    serves incremental p50/p95 — the other telemetry statistic a
    sum-mergeable table cannot maintain (exact percentiles are not
    mergeable; KLL sketches are).  Maintained estimates must equal a
    from-scratch rollup's (merge determinism at this scale: per-group
    counts sit below the sketch's k=200 buffer, so the sketch holds
    every value and compaction never randomizes), and both must honor
    the KLL rank-error contract against EXACT percentiles."""
    from pyspark.sql import functions as F

    from pyspec_spark.operators.rollup import read_rollup, upsert_rollup
    from pyspec_spark.tables import table as t

    e = t(spark, SF, "events")
    inc = str(tmp_path / "inc")
    one = str(tmp_path / "one")
    # disjoint thirds — the deltas PARTITION the table, so the rollup
    # totals equal one-shot totals and sketches merge across commits
    preds = [
        "event_id % 3 = 0", "event_id % 3 = 1", "event_id % 3 = 2",
    ]
    for pred in preds:
        upsert_rollup(
            spark, inc, e.where(pred), "ts", ["event_type"], "value",
            level="day", quantile_col="value",
        )
    upsert_rollup(
        spark, one, e, "ts", ["event_type"], "value",
        level="day", quantile_col="value",
    )
    got = {
        (r["bucket"], r["event_type"]): (r["p50"], r["p95"])
        for r in read_rollup(spark, inc, ["event_type"]).collect()
    }
    want = {
        (r["bucket"], r["event_type"]): (r["p50"], r["p95"])
        for r in read_rollup(spark, one, ["event_type"]).collect()
    }
    assert got == want and got
    # rank-error contract vs EXACT percentiles: KLL k=200 guarantees
    # ~1.65% normalized rank error w.h.p.; assert each estimate's true
    # rank is within 5% of its target rank (slack over the bound)
    vals = {
        (r["bucket"], r["event_type"]): sorted(r["vs"])
        for r in e.groupBy(
            F.date_trunc("day", "ts").alias("bucket"), "event_type"
        )
        .agg(F.collect_list("value").alias("vs"))
        .collect()
    }
    for key, (p50, p95) in got.items():
        vs = vals[key]
        n = len(vs)
        for q, est in ((0.5, p50), (0.95, p95)):
            rank = sum(1 for v in vs if v <= est) / n
            assert abs(rank - q) <= max(0.05, 1.5 / n), (key, q, rank)
    # groups small enough to stay uncompacted: the estimate must be an
    # ACTUAL member value (the sketch stores values, never interpolates)
    for key, (p50, _) in got.items():
        assert p50 in vals[key], key


def test_deleted_index_fast_serve_fails_loudly(spark, tmp_path):
    """The OTHER silent-wrong class in serving (r11): the fast top-k
    path (_topk_index_parts) does not tombstone-filter, so serving an
    index with pending deletes must RAISE — deleted documents would
    otherwise reappear in top-k with stale collection stats.  The
    maintained serve path and compaction are the sanctioned routes."""
    from pyspec_spark.operators.text import (
        build_maintained_index,
        delete_term_index,
    )
    from pyspec_spark.queries.text_ranking import _topk_index_parts

    tf, dl = _maint_tf_dl(spark)
    root = str(tmp_path / "maint")
    build_maintained_index(spark, tf, dl, root, 64)
    _topk_index_parts(spark, root, terms=("dup",))  # clean root serves
    delete_term_index(
        dl.where("doc_id % 5 = 2").select("doc_id"), root
    )
    with pytest.raises(RuntimeError, match="tombstones present"):
        _topk_index_parts(spark, root, terms=("dup",))


def test_index_maintenance_race_loser_conflicts_and_retries(
    spark, tmp_path, monkeypatch
):
    """The r12 optimistic-concurrency contract for index maintenance
    (the lake-CAS/rollup-base_version discipline brought to the term
    index): while one maintenance transaction is mid-flight, a second
    writer targeting the same base must raise IndexConflict BEFORE
    writing any file (index data files are directory-visible the
    moment they land, so the CAS is taken at transaction START); its
    retry after the winner publishes must land cleanly, and the final
    index must serve exactly like a from-scratch build over all three
    generations — never an interleave."""
    import pyspec_spark.operators.text as tx
    from pyspec_spark.operators.text import (
        IndexConflict,
        append_maintained_index,
        build_maintained_index,
        read_maint_seq,
    )

    tf, dl = _maint_tf_dl(spark)
    g = F.col("doc_id") % 3

    root = str(tmp_path / "maint_race")
    build_maintained_index(spark, tf.where(g == 0), dl.where(g == 0),
                           root, 64)

    real_write = tx.write_term_index
    state = {"armed": True, "conflicts": 0}

    def racing_write(sharded, path, n_buckets=tx.TERM_INDEX_BUCKETS,
                     mode="overwrite"):
        # first append-mode write (writer A, gen1, already holding the
        # txn lock): writer B attempts gen2 inside the window — it must
        # conflict at BEGIN, leaving zero files behind
        if state["armed"] and mode == "append":
            state["armed"] = False
            seq_before = read_maint_seq(root, "postings")
            try:
                append_maintained_index(
                    spark, tf.where(g == 2), dl.where(g == 2), root, 64
                )
            except IndexConflict:
                state["conflicts"] += 1
            assert read_maint_seq(root, "postings") == seq_before
        return real_write(sharded, path, n_buckets=n_buckets, mode=mode)

    monkeypatch.setattr(tx, "write_term_index", racing_write)
    append_maintained_index(spark, tf.where(g == 1), dl.where(g == 1),
                            root, 64)
    monkeypatch.setattr(tx, "write_term_index", real_write)
    assert state["conflicts"] == 1

    # the loser retries against the published base and lands
    append_maintained_index(spark, tf.where(g == 2), dl.where(g == 2),
                            root, 64)
    assert read_maint_seq(root, "postings") == 3
    assert read_maint_seq(root, "norms") == 3

    # final state == from-scratch over the full corpus
    from pyspec_spark.operators.text import (
        decode_postings,
        probe_norms,
    )
    from pyspec_spark.queries.text_ranking import (
        _SHARDED_SCHEMA,
        _score_decoded,
        _topk_index_parts,
    )

    def serve(r):
        probed, _d, _r, idf, _dl, stats = _topk_index_parts(
            spark, r, terms=("dup", "filter"),
            empty_schema=_SHARDED_SCHEMA,
        )
        decoded = decode_postings(
            probed.select("term", "shard", "postings"), shard_size=64
        )
        shard_ids = sorted(
            x["shard"] for x in probed.select("shard").distinct().collect()
        )
        return sorted(
            tuple(r_)
            for r_ in _score_decoded(
                decoded, idf, probe_norms(spark, r, shard_ids), stats
            ).collect()
        )

    scratch = str(tmp_path / "maint_scratch")
    build_maintained_index(spark, tf, dl, scratch, 64)
    got, want = serve(root), serve(scratch)
    assert got == want and len(got) > 0


def test_compaction_conflicts_when_source_moves_midway(
    spark, tmp_path, monkeypatch
):
    """compact_maintained_index's read-side race: an append landing on
    the SOURCE mid-compaction must raise IndexConflict (the half-built
    dest would silently miss the appended docs); the retry against the
    settled source equals a from-scratch build over the live corpus."""
    import shutil

    import pyspec_spark.operators.text as tx
    from pyspec_spark.operators.text import (
        IndexConflict,
        append_maintained_index,
        build_maintained_index,
        compact_maintained_index,
        delete_term_index,
        read_norm_stats,
    )

    tf, dl = _maint_tf_dl(spark)
    gen = F.col("doc_id") % 4 == 3

    root = str(tmp_path / "cmp_src")
    build_maintained_index(spark, tf.where(~gen), dl.where(~gen), root, 64)
    delete_term_index(
        spark.range(0, 1000, 13).select(F.col("id").alias("doc_id")), root
    )

    real_bm = tx.write_block_max
    state = {"armed": True}

    def racing_bm(*a, **kw):
        if state["armed"]:
            state["armed"] = False
            append_maintained_index(
                spark, tf.where(gen), dl.where(gen), root, 64
            )
        return real_bm(*a, **kw)

    monkeypatch.setattr(tx, "write_block_max", racing_bm)
    dest = str(tmp_path / "cmp_dest")
    import pytest as _pytest

    with _pytest.raises(IndexConflict):
        compact_maintained_index(spark, root, dest, 64)
    monkeypatch.setattr(tx, "write_block_max", real_bm)
    shutil.rmtree(dest, ignore_errors=True)

    # retry against the settled source: compacted == scratch over live
    dest2 = str(tmp_path / "cmp_dest2")
    compact_maintained_index(spark, root, dest2, 64)
    live = F.col("doc_id") % 13 != 0
    scratch = str(tmp_path / "cmp_scratch")
    build_maintained_index(
        spark, tf.where(live), dl.where(live), scratch, 64
    )
    sc, sd = (
        read_norm_stats(spark, p).collect()[0] for p in (scratch, dest2)
    )
    assert (sc["n_docs"], sc["avgdl"]) == (sd["n_docs"], sd["avgdl"])


def test_compaction_refuses_open_maintenance_transaction(
    spark, tmp_path
):
    """The in-flight-writer window (r12 review): an appender that has
    TAKEN the txn lock but not yet published is mid-write — its
    postings files are landing one task at a time, so any compaction
    snapshot now is torn, and the seq-unchanged check alone cannot see
    a writer that began before the compaction and commits after it.
    compact_maintained_index must refuse at start AND at end while the
    lock is open, and proceed once the writer publishes."""
    import pytest as _pytest

    import pyspec_spark.operators.text as tx
    from pyspec_spark.operators.text import (
        IndexConflict,
        build_maintained_index,
        compact_maintained_index,
    )

    tf, dl = _maint_tf_dl(spark)
    root = str(tmp_path / "open_txn_src")
    build_maintained_index(spark, tf, dl, root, 64)

    # simulate the mid-flight appender: lock taken, marker not advanced
    base = tx._begin_maint_txn(root)
    dest = str(tmp_path / "open_txn_dest")
    with _pytest.raises(IndexConflict, match="open"):
        compact_maintained_index(spark, root, dest, 64)

    # writer publishes -> compaction proceeds
    tx._commit_maint_txn(root, base)
    tx.mark_norms_current(root)
    import shutil

    shutil.rmtree(dest, ignore_errors=True)
    compact_maintained_index(spark, root, str(tmp_path / "ok_dest"), 64)


def test_read_train_shards_replays_order_partition_pruned(
    spark, tmp_path
):
    """The dataloader face (r12): read_train_shards returns the exact
    seeded order — full read == the ordered permutation; a worker's
    shard-list read opens ONLY its shard=K dirs (PartitionFilters) and
    returns exactly its contiguous slice."""
    from pyspec_spark.operators.ordering import (
        global_order_index,
        read_train_shards,
        write_train_shards,
    )
    from pyspec_spark.plans import physical_plan

    docs = spark.range(1000).select(F.col("id").alias("doc_id"))
    ordered = global_order_index(docs, "doc_id", seed="rt")
    base = str(tmp_path / "rt_shards")
    write_train_shards(ordered, base, shard_size=128)
    want = [r.doc_id for r in ordered.orderBy("pos").collect()]

    got_all = [r.doc_id for r in read_train_shards(spark, base).collect()]
    assert got_all == want

    one = read_train_shards(spark, base, shards=[2, 5])
    plan = physical_plan(one)
    assert any(
        "PartitionFilters" in ln and "shard" in ln
        for ln in plan.splitlines()
    ), plan[:1500]
    got = [r.doc_id for r in one.collect()]
    assert got == want[2 * 128 : 3 * 128] + want[5 * 128 : 6 * 128]


def test_compaction_refuses_norms_tail_window(spark, tmp_path):
    """The r13 ADVICE window: build/append commit the postings seq
    BEFORE write_norms, so an appender can be between its postings
    commit and its last norms file when a compaction starts — no open
    transaction (its marker already advanced), and the end seq-recheck
    passes once it finishes, yet the norms read mid-fold is torn.
    compact_maintained_index must refuse at START whenever norms lag
    postings (mark_norms_current is write_norms' LAST step, so
    norms==postings proves completeness), and proceed once the
    appender's norms land."""
    import os

    import pytest as _pytest

    import pyspec_spark.operators.text as tx
    from pyspec_spark.operators.text import (
        build_maintained_index,
        compact_maintained_index,
    )

    tf, dl = _maint_tf_dl(spark)
    root = str(tmp_path / "tail_src")
    build_maintained_index(spark, tf, dl, root, 64)

    # simulate the appender's committed-postings / in-flight-norms
    # state: seq advances (begin+commit), norms marker stays behind
    base = tx._begin_maint_txn(root)
    tx._commit_maint_txn(root, base)

    dest = str(tmp_path / "tail_dest")
    with _pytest.raises(RuntimeError, match="stale norms"):
        compact_maintained_index(spark, root, dest, 64)
    # refused at START: nothing was staged under dest
    assert not os.path.exists(dest)

    # the appender's write_norms completes (marker re-pinned) ->
    # compaction proceeds cleanly
    tx.mark_norms_current(root)
    compact_maintained_index(spark, root, dest, 64)
    tx.assert_norms_current(dest)


def test_compaction_conflict_deletes_half_built_dest(
    spark, tmp_path, monkeypatch
):
    """The r13 ADVICE poison rule: a dest abandoned by IndexConflict
    carries postings+blockmax+norms but no postings marker, and
    assert_norms_current passes marker-less roots (the legacy
    pass-through) — so compact_maintained_index must DELETE dest
    before raising, leaving nothing a reader could serve."""
    import os

    import pytest as _pytest

    import pyspec_spark.operators.text as tx
    from pyspec_spark.operators.text import (
        IndexConflict,
        append_maintained_index,
        build_maintained_index,
        compact_maintained_index,
    )

    tf, dl = _maint_tf_dl(spark)
    gen = F.col("doc_id") % 4 == 3
    root = str(tmp_path / "poison_src")
    build_maintained_index(spark, tf.where(~gen), dl.where(~gen), root, 64)

    real_bm = tx.write_block_max
    state = {"armed": True}

    def racing_bm(*a, **kw):
        if state["armed"]:
            state["armed"] = False
            append_maintained_index(
                spark, tf.where(gen), dl.where(gen), root, 64
            )
        return real_bm(*a, **kw)

    monkeypatch.setattr(tx, "write_block_max", racing_bm)
    dest = str(tmp_path / "poison_dest")
    with _pytest.raises(IndexConflict):
        compact_maintained_index(spark, root, dest, 64)
    assert not os.path.exists(dest)


def test_streamed_fold_conflicts_when_base_moves(
    spark, tmp_path, monkeypatch
):
    """The r13 ADVICE gap: compact_streamed_maintained's conflict
    check listed only inc_path batch files, but the optional BASE root
    is a source too (postings via compact_streamed_index, norms via
    read_streamed_norms) — maintenance landing on the base mid-fold
    was silently missed.  Now the base's seqs + file listing are
    captured and re-verified; a mid-fold append raises IndexConflict
    and the half-built dest is deleted."""
    import os

    import pytest as _pytest

    import pyspec_spark.operators.text as tx
    from pyspec_spark.operators.text import (
        IndexConflict,
        append_maintained_index,
        build_maintained_index,
        compact_streamed_maintained,
    )

    tf, dl = _maint_tf_dl(spark)
    gen = F.col("doc_id") % 4 == 3
    base_root = str(tmp_path / "fold_base")
    build_maintained_index(
        spark, tf.where(~gen), dl.where(~gen), base_root, 64
    )
    inc = str(tmp_path / "fold_inc")  # no batches yet — base-only fold
    os.makedirs(inc, exist_ok=True)

    real_bm = tx.write_block_max
    state = {"armed": True}

    def racing_bm(*a, **kw):
        if state["armed"]:
            state["armed"] = False
            append_maintained_index(
                spark, tf.where(gen), dl.where(gen), base_root, 64
            )
        return real_bm(*a, **kw)

    monkeypatch.setattr(tx, "write_block_max", racing_bm)
    dest = str(tmp_path / "fold_dest")
    with _pytest.raises(IndexConflict):
        compact_streamed_maintained(
            spark, inc, dest, 64, base_path=base_root
        )
    assert not os.path.exists(dest)
    monkeypatch.setattr(tx, "write_block_max", real_bm)

    # retry against the settled base lands and serves the full corpus
    dest2 = str(tmp_path / "fold_dest2")
    compact_streamed_maintained(spark, inc, dest2, 64, base_path=base_root)
    tx.assert_norms_current(dest2)
    from pyspec_spark.operators.text import read_norm_stats

    scratch = str(tmp_path / "fold_scratch")
    build_maintained_index(spark, tf, dl, scratch, 64)
    s1 = read_norm_stats(spark, dest2).collect()[0]
    s2 = read_norm_stats(spark, scratch).collect()[0]
    assert (s1["n_docs"], s1["avgdl"]) == (s2["n_docs"], s2["avgdl"])
