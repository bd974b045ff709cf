"""Snapshot lake (pyspec_spark/lake.py): manifest-versioned parquet —
time travel, file-reference carry-over on upsert/delete, optimistic
commit conflict, vacuum reclamation."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pyspec_spark.lake import (
    LakeConflict,
    lake_append,
    lake_compact,
    lake_delete,
    lake_history,
    lake_overwrite,
    lake_read,
    lake_upsert,
    lake_vacuum,
    latest_version,
)


def _docs(spark, lo, hi, tag="a"):
    return (
        spark.range(lo, hi)
        .select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit(f"text-{tag}-"), F.col("id")).alias("text"),
            (F.col("id") % 3).cast("int").alias("part"),
        )
    )


def _rows(df):
    return sorted((r["doc_id"], r["text"], r["part"]) for r in df.collect())


def test_append_versions_and_time_travel(spark, tmp_path):
    root = str(tmp_path / "t")
    v1 = lake_append(spark, root, _docs(spark, 0, 10), "part")
    v2 = lake_append(spark, root, _docs(spark, 10, 15), "part")
    assert (v1, v2) == (1, 2)
    assert latest_version(root) == 2
    assert lake_read(spark, root).count() == 15
    assert lake_read(spark, root, version=1).count() == 10
    assert _rows(lake_read(spark, root, version=1)) == _rows(
        _docs(spark, 0, 10)
    )
    ops = [h["op"] for h in lake_history(root)]
    assert ops == ["append", "append"]


def test_upsert_rewrites_only_touched_partitions(spark, tmp_path):
    root = str(tmp_path / "t")
    lake_upsert(spark, root, _docs(spark, 0, 30), "doc_id", "part")
    m1_files = {
        (e["path"], e["partition"])
        for e in __import__("pyspec_spark.lake", fromlist=["_load_manifest"])
        ._load_manifest(root, 1)["files"]
    }
    # update rows only in partition 0 (doc_id % 3 == 0)
    upd = _docs(spark, 0, 30, tag="new").where("part = 0")
    lake_upsert(spark, root, upd, "doc_id", "part")
    from pyspec_spark.lake import _load_manifest

    m2_files = {
        (e["path"], e["partition"]) for e in _load_manifest(root, 2)["files"]
    }
    # untouched partitions carry over the SAME file paths by reference
    for path, part in m1_files:
        if part in ("1", "2"):
            assert (path, part) in m2_files
        else:
            assert (path, part) not in m2_files
    got = lake_read(spark, root)
    assert got.where("part = 0").where("text like 'text-new-%'").count() == 10
    assert got.where("part != 0").where("text like 'text-a-%'").count() == 20
    # pre-upsert snapshot unchanged
    assert (
        lake_read(spark, root, version=1)
        .where("text like 'text-new-%'")
        .count()
        == 0
    )


def test_upsert_adds_new_keys(spark, tmp_path):
    root = str(tmp_path / "t")
    lake_append(spark, root, _docs(spark, 0, 10), "part")
    lake_upsert(spark, root, _docs(spark, 5, 20, tag="u"), "doc_id", "part")
    got = lake_read(spark, root)
    assert got.count() == 20
    assert got.where("text like 'text-u-%'").count() == 15


def test_delete_and_emptied_partition(spark, tmp_path, monkeypatch):
    import pyspec_spark.lake as lake_mod

    root = str(tmp_path / "t")
    lake_append(spark, root, _docs(spark, 0, 30), "part")

    def paths(v, part):
        return {
            e["path"]
            for e in lake_mod._load_manifest(root, v)["files"]
            if e["partition"] == part
        }

    # delete every row of partition 1 plus one row of partition 2
    keys = spark.createDataFrame(
        [(i,) for i in range(30) if i % 3 == 1] + [(2,)], ["doc_id"]
    )
    v = lake_delete(spark, root, keys, "doc_id", "part")
    assert v == 2
    got = lake_read(spark, root)
    assert got.where("part = 1").count() == 0
    assert got.count() == 30 - 10 - 1
    assert not paths(2, "1")  # the emptied partition has no files
    # the untouched partition carries over by reference
    assert paths(2, "0") == paths(1, "0")
    # time travel still sees everything
    assert lake_read(spark, root, version=1).count() == 30

    # delete keys carrying the partition column take the direct path:
    # one read (the touched files' survivors), no discovery scan
    reads = []
    real_read_files = lake_mod._read_files

    def spy(spark_, root_, m, entries):
        reads.append({e["partition"] for e in entries})
        return real_read_files(spark_, root_, m, entries)

    monkeypatch.setattr(lake_mod, "_read_files", spy)
    keyed = spark.createDataFrame([(3, 0)], "doc_id long, part int")
    assert lake_delete(spark, root, keyed, "doc_id", "part") == 3
    assert reads == [{"0"}]
    assert paths(3, "2") == paths(2, "2")
    monkeypatch.undo()
    got = lake_read(spark, root)
    assert got.count() == 30 - 10 - 1 - 1
    assert got.where("doc_id = 3").count() == 0

    # keys found nowhere return the parent version and commit nothing
    missing = spark.createDataFrame([(999,)], ["doc_id"])
    assert lake_delete(spark, root, missing, "doc_id", "part") == 3
    assert latest_version(root) == 3


def test_commit_conflict_raises_and_leaves_table_intact(spark, tmp_path):
    """Two writers read base version 1 and race for version 2: the
    second link MUST fail (stale-base merge = lost update), and the
    loser's staged files must stay invisible and vacuumable."""
    root = str(tmp_path / "t")
    lake_append(spark, root, _docs(spark, 0, 6), "part")
    from pyspec_spark.lake import (
        _commit,
        _load_manifest,
        _stage_files,
        latest_version,
    )

    base = latest_version(root)
    old = _load_manifest(root, base)["files"]
    # writer A stages and wins version 2
    files_a = _stage_files(spark, root, _docs(spark, 6, 8, tag="A"), "part")
    # writer B also staged against base 1
    files_b = _stage_files(spark, root, _docs(spark, 8, 9, tag="B"), "part")
    assert _commit(root, "append", old + files_a, "part", base) == 2
    with pytest.raises(LakeConflict):
        _commit(root, "append", old + files_b, "part", base)
    # winner's rows visible, loser's rows not
    got = lake_read(spark, root)
    assert got.where("text like 'text-A-%'").count() == 2
    assert got.where("text like 'text-B-%'").count() == 0
    # loser's orphaned staging files are reclaimed by vacuum (explicit
    # zero retention: we KNOW no writer is in flight here)
    assert lake_vacuum(root, keep_versions=2, retention_seconds=0) > 0
    assert lake_read(spark, root).count() == 8


def test_compact_then_vacuum(spark, tmp_path):
    root = str(tmp_path / "t")
    for lo in range(0, 30, 10):  # three commits -> many small files
        lake_append(spark, root, _docs(spark, lo, lo + 10), "part")
    before = _rows(lake_read(spark, root))
    v = lake_compact(spark, root, "part")
    assert _rows(lake_read(spark, root)) == before
    from pyspec_spark.lake import _load_manifest

    assert len(_load_manifest(root, v)["files"]) == 3  # one per partition
    removed = lake_vacuum(root, keep_versions=1)
    assert removed > 0
    # latest still reads; expired versions are gone
    assert _rows(lake_read(spark, root)) == before
    with pytest.raises(FileNotFoundError):
        lake_read(spark, root, version=1)
    # orphans from an aborted commit are reclaimed too — but only past
    # the retention window: a fresh orphan is indistinguishable from a
    # concurrent writer's in-flight staging, so default vacuum keeps it
    from pyspec_spark.lake import _stage_files

    _stage_files(spark, root, _docs(spark, 0, 5), "part")
    assert lake_vacuum(root, keep_versions=1) == 0  # within retention
    assert lake_vacuum(root, keep_versions=1, retention_seconds=0) > 0
    assert _rows(lake_read(spark, root)) == before


def test_unpartitioned_lake(spark, tmp_path):
    root = str(tmp_path / "t")
    lake_overwrite(spark, root, _docs(spark, 0, 8))
    lake_overwrite(spark, root, _docs(spark, 0, 4, tag="b"))
    assert lake_read(spark, root).count() == 4
    assert lake_read(spark, root, version=1).count() == 8


def test_stream_append_exactly_once_on_redelivery(spark, tmp_path):
    """foreachBatch redelivery (same query, same batch id) must be a
    no-op — including after an interleaved maintenance commit, which
    must carry the stream watermark forward."""
    from pyspec_spark.lake import (
        lake_append_stream,
        lake_last_batch,
    )

    root = str(tmp_path / "t")
    assert lake_append_stream(
        spark, root, _docs(spark, 0, 10), "part", "curate", 0
    ) == 1
    assert lake_last_batch(root, "curate") == 0
    # redelivery of batch 0 -> skipped
    assert (
        lake_append_stream(
            spark, root, _docs(spark, 0, 10), "part", "curate", 0
        )
        is None
    )
    assert lake_read(spark, root).count() == 10
    # next batch lands
    assert lake_append_stream(
        spark, root, _docs(spark, 10, 14), "part", "curate", 1
    ) == 2
    assert lake_read(spark, root).count() == 14
    # maintenance commit between batches carries the watermark
    lake_compact(spark, root, "part")
    assert lake_last_batch(root, "curate") == 1
    assert (
        lake_append_stream(
            spark, root, _docs(spark, 10, 14), "part", "curate", 1
        )
        is None
    )
    assert lake_read(spark, root).count() == 14
    # an independent query name has its own watermark
    assert lake_append_stream(
        spark, root, _docs(spark, 100, 102, tag="z"), "part", "other", 0
    ) is not None
    assert lake_last_batch(root, "other") == 0
    assert lake_last_batch(root, "curate") == 1


def test_streaming_lake_sink_end_to_end(spark, tmp_path):
    """Real readStream -> foreachBatch(lake sink): the lake ends equal
    to the batch result, across a second availableNow pass that
    redelivers nothing new."""
    import pandas as pd

    from pyspec_spark.lake import lake_foreach_batch

    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        pd.DataFrame(
            {
                "doc_id": range(i * 5, i * 5 + 5),
                "text": [f"t{j}" for j in range(i * 5, i * 5 + 5)],
                "part": [j % 2 for j in range(i * 5, i * 5 + 5)],
            }
        ).to_parquet(src / f"chunk{i}.parquet")
    root = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id BIGINT, text STRING, part BIGINT"

    def run_pass():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            stream.writeStream.trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .foreachBatch(
                lake_foreach_batch(
                    root,
                    "part",
                    "e2e",
                    transform=lambda d: d.where(F.col("doc_id") % 5 != 4),
                )
            )
            .start()
        )
        q.awaitTermination(120)

    run_pass()
    got = sorted(r["doc_id"] for r in lake_read(spark, root).collect())
    assert got == [i for i in range(15) if i % 5 != 4]
    # second pass over the same source: checkpoint says nothing new
    run_pass()
    assert sorted(
        r["doc_id"] for r in lake_read(spark, root).collect()
    ) == got


def test_data_skipping_prunes_files_and_stays_correct(spark, tmp_path):
    """lake_scan prunes files by footer min/max; results always equal
    the unskipped filter (residual predicate applied)."""
    from pyspec_spark.lake import (
        lake_scan,
        lake_scan_file_counts,
    )

    root = str(tmp_path / "t")
    # three commits with DISJOINT doc_id ranges -> range predicates can
    # drop whole commits' files
    for lo in (0, 1000, 2000):
        lake_append(spark, root, _docs(spark, lo, lo + 100), "part")

    kept, total = lake_scan_file_counts(root, [("doc_id", "<", 100)])
    assert total >= 3 and kept < total
    got = sorted(
        r["doc_id"]
        for r in lake_scan(spark, root, [("doc_id", "<", 100)]).collect()
    )
    assert got == list(range(0, 100))

    # equality predicate inside the middle range
    kept2, _ = lake_scan_file_counts(root, [("doc_id", "=", 1005)])
    assert kept2 < total
    rows = lake_scan(spark, root, [("doc_id", "=", 1005)]).collect()
    assert [r["doc_id"] for r in rows] == [1005]

    # string-column predicate: stats exist for text too
    kept3, _ = lake_scan_file_counts(root, [("text", ">=", "text-a-2")])
    assert kept3 <= total

    # predicate matching NOTHING still returns a well-formed empty df
    empty = lake_scan(spark, root, [("doc_id", ">", 10_000_000)])
    assert empty.count() == 0
    assert "doc_id" in empty.columns

    # conjunctions prune harder than either predicate alone
    both, _ = lake_scan_file_counts(
        root, [("doc_id", ">=", 1000), ("doc_id", "<", 1100)]
    )
    assert both <= kept2 or both < total

    # correctness guard: a column WITHOUT stats never prunes
    from pyspec_spark.lake import _file_may_match

    assert _file_may_match({"stats": {}}, [("doc_id", "=", 5)])


def test_zorder_compact_makes_2d_skipping_effective(spark, tmp_path):
    """After plain appends, a 2-D range predicate prunes ~no files;
    after lake_compact_zorder the same predicate keeps a strict subset
    — and results are identical before/after (layout-only change)."""
    from pyspec_spark.lake import lake_compact_zorder, lake_scan, lake_scan_file_counts

    root = str(tmp_path / "t")
    # 64x64 grid scattered across 8 random-ish insertion-order files
    grid = (
        spark.range(4096)
        .select(
            (F.col("id") % 64).alias("gx"),
            (F.col("id") / 64).cast("long").alias("gy"),
            # shuffle insertion order so plain files span the domain
            F.hash("id").alias("h"),
        )
        .orderBy("h")
        .drop("h")
        .repartition(8)
    )
    lake_append(spark, root, grid)
    pred = [("gx", ">=", 0), ("gx", "<", 8), ("gy", ">=", 0), ("gy", "<", 8)]
    kept_before, total_before = lake_scan_file_counts(root, pred)
    want = sorted(
        (r["gx"], r["gy"]) for r in lake_scan(spark, root, pred).collect()
    )
    assert len(want) == 64
    assert kept_before == total_before  # scattered layout: nothing prunes

    lake_compact_zorder(spark, root, "gx", "gy", n_files=8, bits=6)
    kept_after, total_after = lake_scan_file_counts(root, pred)
    assert total_after >= 4
    assert kept_after < total_after, (kept_after, total_after)
    got = sorted(
        (r["gx"], r["gy"]) for r in lake_scan(spark, root, pred).collect()
    )
    assert got == want


def test_schema_evolution_add_column(spark, tmp_path):
    """Add-column appends merge on read (old rows NULL), also in scans
    that skip down to old files; drops and retypes are refused at
    commit time; a rewrite op resets the mixed flag so homogeneous
    reads skip footer merging."""
    from pyspec_spark.lake import _load_manifest, lake_compact

    root = str(tmp_path / "t")
    lake_append(spark, root, _docs(spark, 0, 6), "part")
    evolved = _docs(spark, 6, 10).withColumn("score", F.lit(0.5))
    lake_append(spark, root, evolved, "part")
    assert _load_manifest(root, 2)["schema_mixed"] is True

    got = lake_read(spark, root)
    assert "score" in got.columns
    assert got.where(F.col("score").isNull()).count() == 6
    assert got.where(F.col("score") == 0.5).count() == 4
    # time travel returns the pre-evolution schema exactly
    assert "score" not in lake_read(spark, root, version=1).columns
    # scans that skip down to pre-evolution files keep the table schema
    from pyspec_spark.lake import lake_scan, lake_scan_in

    for scan, n in (
        (lake_scan(spark, root, [("doc_id", "<", 6)]), 6),
        (lake_scan_in(spark, root, [("doc_id", [0, 1])]), 2),
    ):
        assert scan.dtypes == got.dtypes
        rows = scan.collect()
        assert len(rows) == n and all(r["score"] is None for r in rows)

    # dropping a column is refused
    with pytest.raises(ValueError, match="add-column only"):
        lake_append(spark, root, _docs(spark, 10, 12), "part")
    # retyping is refused
    bad = evolved.withColumn("score", F.lit("high"))
    with pytest.raises(ValueError, match="type change"):
        lake_append(spark, root, bad, "part")

    # full rewrite resets schema_mixed; all files now carry the column
    v = lake_compact(spark, root, "part")
    assert _load_manifest(root, v)["schema_mixed"] is False
    got2 = lake_read(spark, root)
    assert got2.where(F.col("score").isNull()).count() == 6
    assert sorted(got2.columns) == sorted(got.columns)

    # replacing one partition with an added column records the wider
    # schema and marks the carried-over partitions as mixed
    from pyspec_spark.lake import lake_replace_partitions

    wider = got2.where("part = 0").withColumn("rank", F.lit(1))
    v = lake_replace_partitions(spark, root, {"0"}, wider, "part")
    m = _load_manifest(root, v)
    assert "rank" in m["schema"] and m["schema_mixed"] is True
    assert lake_read(spark, root).where(F.col("rank").isNull()).count() == 6


def test_upsert_and_delete_after_zorder_compaction(spark, tmp_path):
    """Files written by lake_compact_zorder carry partition=None; a
    row-level upsert/delete must treat them as touched (rewrite), not
    skip them — the r6 failure mode was duplicate keys after upsert and
    a silent no-op delete."""
    from pyspec_spark.lake import lake_compact_zorder

    root = str(tmp_path / "t")
    lake_append(spark, root, _docs(spark, 0, 30), "part")
    lake_compact_zorder(spark, root, "doc_id", "part", n_files=2)

    upd = _docs(spark, 5, 8, tag="new")
    lake_upsert(spark, root, upd, "doc_id", "part")
    got = lake_read(spark, root)
    assert got.count() == 30  # no duplicate keys
    texts = {
        r["doc_id"]: r["text"]
        for r in got.where(F.col("doc_id").between(5, 7)).collect()
    }
    assert all(t.startswith("text-new-") for t in texts.values())

    v = lake_delete(
        spark, root, spark.range(3).selectExpr("id AS doc_id"), "doc_id", "part"
    )
    assert v == latest_version(root)
    assert lake_read(spark, root).count() == 27
    assert lake_read(spark, root).where("doc_id < 3").count() == 0


def test_upsert_partition_col_mismatch_refused(spark, tmp_path):
    root = str(tmp_path / "t")
    lake_append(spark, root, _docs(spark, 0, 10), "part")
    upd = _docs(spark, 0, 2).withColumn("lang", F.lit("en"))
    with pytest.raises(ValueError, match="partition_col"):
        lake_upsert(spark, root, upd, "doc_id", "lang")


def test_boolean_partition_values_match_hive_dirs(spark, tmp_path):
    """Partition comparison must use Spark's cast('string') rendering
    ('true'), not Python str() ('True') — a mismatch made upsert skip
    every affected file and append duplicates."""
    root = str(tmp_path / "t")
    base = spark.range(10).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 2 == 0).alias("flag"),
        F.lit("old").alias("text"),
    )
    lake_append(spark, root, base, "flag")
    upd = spark.range(2).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 2 == 0).alias("flag"),
        F.lit("new").alias("text"),
    )
    lake_upsert(spark, root, upd, "doc_id", "flag")
    got = lake_read(spark, root)
    assert got.count() == 10
    assert got.where("text = 'new'").count() == 2
    # delete through the same rendering
    lake_delete(
        spark, root, spark.range(4).selectExpr("id AS doc_id"), "doc_id", "flag"
    )
    assert lake_read(spark, root).count() == 6


def test_upsert_refuses_schema_drop_and_retype(spark, tmp_path):
    """lake_upsert enforces the same add-column-only commit contract as
    lake_append — a drop/retype upsert would poison the live files."""
    root = str(tmp_path / "t")
    lake_append(spark, root, _docs(spark, 0, 10), "part")
    with pytest.raises(ValueError, match="add-column"):
        lake_upsert(
            spark,
            root,
            _docs(spark, 0, 2).drop("text"),
            "doc_id",
            "part",
        )
    with pytest.raises(ValueError, match="type change"):
        lake_upsert(
            spark,
            root,
            _docs(spark, 0, 2).withColumn("text", F.lit(1)),
            "doc_id",
            "part",
        )
    # add-column upsert is allowed; untouched rows read NULL
    upd = _docs(spark, 0, 2, tag="new").withColumn("score", F.lit(0.5))
    lake_upsert(spark, root, upd, "doc_id", "part")
    got = lake_read(spark, root)
    assert "score" in got.columns
    assert got.where("score IS NOT NULL").count() == 2
    assert got.count() == 10


def test_concurrent_commit_race_single_winner(spark, tmp_path):
    """Two threads staging against the SAME base version: exactly one
    manifest link wins, the loser raises LakeConflict, and after a
    zero-retention vacuum the loser's staged files are gone while the
    winner's table reads intact."""
    import threading

    from pyspec_spark.lake import _commit, _stage_files

    root = str(tmp_path / "t")
    lake_append(spark, root, _docs(spark, 0, 10), "part")
    base = latest_version(root)

    # stage both writers' files first (the slow part, outside the race)
    staged = [
        _stage_files(spark, root, _docs(spark, 100 + i, 105 + i, tag=f"w{i}"), "part")
        for i in range(2)
    ]
    old = __import__("pyspec_spark.lake", fromlist=["_load_manifest"])._load_manifest(
        root, base
    )["files"]

    results: list = [None, None]
    barrier = threading.Barrier(2)

    def attempt(i):
        barrier.wait()
        try:
            results[i] = _commit(
                root, "append", old + staged[i], "part", base
            )
        except LakeConflict as e:
            results[i] = e

    ts = [threading.Thread(target=attempt, args=(i,)) for i in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    wins = [r for r in results if isinstance(r, int)]
    losses = [r for r in results if isinstance(r, LakeConflict)]
    assert len(wins) == 1 and len(losses) == 1
    assert wins[0] == base + 1 == latest_version(root)
    assert lake_read(spark, root).count() == 15
    # loser's staged files are orphans; vacuum reclaims them and the
    # winner's version still reads byte-for-byte
    before = _rows(lake_read(spark, root))
    assert lake_vacuum(root, keep_versions=1, retention_seconds=0) > 0
    assert _rows(lake_read(spark, root)) == before


def test_time_travel_to_vacuumed_version_raises_cleanly(spark, tmp_path):
    root = str(tmp_path / "t")
    lake_append(spark, root, _docs(spark, 0, 10), "part")
    lake_overwrite(spark, root, _docs(spark, 0, 5, tag="b"), "part")
    lake_vacuum(root, keep_versions=1, retention_seconds=0)
    # the manifest for v1 is gone -> clean FileNotFoundError, and the
    # kept version is unaffected
    with pytest.raises(FileNotFoundError):
        lake_read(spark, root, version=1)
    assert lake_read(spark, root).count() == 5


def test_change_layout_migration_path(spark, tmp_path):
    """lake_change_layout re-partitions the table as a commit: the old
    partition_col is refused by row ops afterwards, the new one works,
    and time travel still reads the pre-migration layout."""
    from pyspec_spark.lake import lake_change_layout

    root = str(tmp_path / "t")
    base = _docs(spark, 0, 30).withColumn(
        "region", (F.col("doc_id") % 2).cast("int")
    )
    lake_append(spark, root, base, "part")
    v = lake_change_layout(spark, root, "region")
    assert v == latest_version(root)
    assert lake_read(spark, root).count() == 30

    upd = base.where("doc_id < 3").withColumn("text", F.lit("migrated"))
    with pytest.raises(ValueError, match="partition_col"):
        lake_upsert(spark, root, upd, "doc_id", "part")
    lake_upsert(spark, root, upd, "doc_id", "region")
    got = lake_read(spark, root)
    assert got.count() == 30
    assert got.where("text = 'migrated'").count() == 3
    # the pre-migration snapshot still reads with its own layout
    assert lake_read(spark, root, version=1).count() == 30


def test_bloom_skipping_point_lookup_on_hash_distributed_key(spark, tmp_path):
    """A hash-distributed key spans the full domain in EVERY file, so
    [min, max] keeps all files for `key = X`; the opt-in per-file Bloom
    prunes to (nearly) one file and stays exactly correct — including
    on absent keys and on string columns.  Floats never prune."""
    from pyspec_spark.lake import lake_scan, lake_scan_file_counts

    root = str(tmp_path / "bloomlake")
    # ids 0..799 scattered round-robin across 8 files: every file's
    # [min, max] covers ~[i, 792+i] so range stats cannot isolate a key
    df = (
        spark.range(0, 800)
        .select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("u-"), F.col("id")).alias("url"),
            (F.col("id") * 0.5).alias("score"),
        )
        .repartition(8)  # round-robin: every file spans ~the full id range
    )
    lake_append(spark, root, df, bloom_cols=["doc_id", "url", "score"])

    # min/max alone keeps every file (the bloom-free control): rebuild
    # the counts with blooms stripped from the manifest entries
    import json as _json

    from pyspec_spark.lake import _file_may_match, _load_manifest, latest_version

    m = _load_manifest(root, latest_version(root))
    assert len(m["files"]) == 8, [e["path"] for e in m["files"]]
    stripped = [
        {k: v for k, v in e.items() if k != "bloom"} for e in m["files"]
    ]
    pred = [("doc_id", "=", 367)]
    assert sum(1 for e in stripped if _file_may_match(e, pred)) == 8

    # bloom prunes to ~1 file (allow FP slack) and the scan is exact
    kept, total = lake_scan_file_counts(root, pred)
    assert total == 8 and kept <= 2
    got = lake_scan(spark, root, pred).collect()
    assert [r["doc_id"] for r in got] == [367]

    # absent key: every file says "definitely not" -> 0 files, 0 rows
    kept_absent, _ = lake_scan_file_counts(root, [("doc_id", "=", 99999)])
    assert kept_absent <= 1  # FP slack; overwhelmingly 0
    assert lake_scan(spark, root, [("doc_id", "=", 99999)]).count() == 0

    # string column equality prunes the same way
    kept_s, _ = lake_scan_file_counts(root, [("url", "=", "u-42")])
    assert kept_s <= 2
    assert [r["doc_id"] for r in lake_scan(spark, root, [("url", "=", "u-42")]).collect()] == [42]

    # float column: _bloom_canon refuses, so no bloom is ever BUILT for
    # it (min/max range stats may still legitimately prune) — and the
    # scan stays exact either way
    assert all("score" not in e.get("bloom", {}) for e in m["files"])
    assert [r["doc_id"] for r in lake_scan(spark, root, [("score", "=", 0.5)]).collect()] == [1]

    # manifest stays valid JSON with blooms embedded
    raw = _json.dumps(m)
    assert "bloom" in raw


def test_compact_rebuilds_blooms_and_stream_append_carries_them(
    spark, tmp_path
):
    """bloom_cols on lake_append_stream attaches blooms to streamed
    files, and lake_compact(bloom_cols=...) refreshes them on the merged
    files — point lookups keep pruning across the maintenance pass."""
    from pyspec_spark.lake import (
        _load_manifest,
        lake_append_stream,
        lake_compact,
        lake_scan,
        lake_scan_file_counts,
        latest_version,
    )

    root = str(tmp_path / "bloomstream")
    for b in range(3):
        df = (
            spark.range(b * 100, (b + 1) * 100)
            .select(
                F.col("id").alias("doc_id"),
                (F.col("id") % 2).cast("int").alias("part"),
            )
            .repartition(2)
        )
        lake_append_stream(
            spark, root, df, None, "blm", b, bloom_cols=["doc_id"]
        )
    m = _load_manifest(root, latest_version(root))
    assert all("doc_id" in e.get("bloom", {}) for e in m["files"])
    kept, total = lake_scan_file_counts(root, [("doc_id", "=", 137)])
    assert total == 6 and kept <= 2
    assert [r["doc_id"] for r in lake_scan(spark, root, [("doc_id", "=", 137)]).collect()] == [137]

    lake_compact(spark, root, bloom_cols=["doc_id"])
    m2 = _load_manifest(root, latest_version(root))
    assert len(m2["files"]) == 1  # unpartitioned: one file
    assert all("doc_id" in e.get("bloom", {}) for e in m2["files"])
    assert [r["doc_id"] for r in lake_scan(spark, root, [("doc_id", "=", 137)]).collect()] == [137]
    assert lake_scan(spark, root, [("doc_id", "=", 7777)]).count() == 0


def test_lake_diff_classifies_insert_delete_update(spark, tmp_path):
    """lake_diff between two versions reports exactly the changed keys
    with the right class; unchanged keys are absent; the diff of a
    version against itself is empty."""
    from pyspec_spark.lake import lake_diff, lake_overwrite

    root = str(tmp_path / "cdc")
    v1 = lake_overwrite(spark, root, _docs(spark, 0, 20), "part")
    changed = (
        _docs(spark, 0, 20)
        .where("doc_id % 4 != 0")  # delete multiples of 4
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit("!"))
            ).otherwise(F.col("text")),  # update multiples of 3
        )
        .unionByName(_docs(spark, 100, 103))  # insert 3 new keys
    )
    v2 = lake_overwrite(spark, root, changed, "part")
    got = {
        (r["doc_id"], r["change"])
        for r in lake_diff(spark, root, v1, v2, "doc_id").collect()
    }
    want = set()
    for i in range(20):
        if i % 4 == 0:
            want.add((i, "delete"))
        elif i % 3 == 0:
            want.add((i, "update"))
    want |= {(i, "insert") for i in range(100, 103)}
    assert got == want
    assert lake_diff(spark, root, v2, v2, "doc_id").count() == 0


def test_escaped_partition_values_match_hive_dirs(spark, tmp_path):
    """Partition values Spark percent-escapes in the hive dir (':' in
    every timestamp rendering, '/', '%') must still match the raw
    cast('string') value at upsert/delete time: the manifest records
    the UNESCAPED value, so touched-file matching can't silently no-op
    (delete) or append duplicates (upsert)."""
    root = str(tmp_path / "t")
    base = spark.range(12).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("k:"), (F.col("id") % 3).cast("string"), F.lit("/x%y")
        ).alias("bucket"),
        F.lit("old").alias("text"),
    )
    lake_append(spark, root, base, "bucket")
    from pyspec_spark.lake import _load_manifest

    m = _load_manifest(root, 1)
    parts = {e["partition"] for e in m["files"]}
    assert parts == {"k:0/x%y", "k:1/x%y", "k:2/x%y"}  # raw, not escaped
    upd = spark.range(3).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("k:"), (F.col("id") % 3).cast("string"), F.lit("/x%y")
        ).alias("bucket"),
        F.lit("new").alias("text"),
    )
    lake_upsert(spark, root, upd, "doc_id", "bucket")
    got = lake_read(spark, root)
    assert got.count() == 12  # no duplicate keys appended
    assert got.where("text = 'new'").count() == 3
    lake_delete(
        spark,
        root,
        spark.range(6).selectExpr("id AS doc_id"),
        "doc_id",
        "bucket",
    )
    assert lake_read(spark, root).count() == 6  # delete actually fired


def test_timestamp_partition_roundtrip_upsert_delete(spark, tmp_path):
    """Timestamps always contain ':' — the exact silent-skip class the
    escaping fix closes."""
    root = str(tmp_path / "t")
    base = spark.range(8).select(
        F.col("id").alias("doc_id"),
        F.to_timestamp(
            F.concat(F.lit("2024-01-0"), (F.col("id") % 2 + 1).cast("string"),
                     F.lit(" 10:30:00"))
        ).alias("day"),
        F.lit("old").alias("text"),
    )
    lake_append(spark, root, base, "day")
    upd = base.where("doc_id < 2").withColumn("text", F.lit("new"))
    lake_upsert(spark, root, upd, "doc_id", "day")
    got = lake_read(spark, root)
    assert got.count() == 8
    assert got.where("text = 'new'").count() == 2
    lake_delete(
        spark, root, spark.range(4).selectExpr("id AS doc_id"), "doc_id", "day"
    )
    assert lake_read(spark, root).count() == 4


def test_null_partition_values_always_touched(spark, tmp_path):
    """Null partition rows land under __HIVE_DEFAULT_PARTITION__; the
    manifest records them as partition=None so row-level ops always
    rewrite those files instead of silently no-oping / duplicating."""
    root = str(tmp_path / "t")
    base = spark.range(10).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, (F.col("id") % 3).cast("string"))
        .otherwise(F.lit(None))
        .alias("part"),
        F.lit("old").alias("text"),
    )
    lake_append(spark, root, base, "part")
    from pyspec_spark.lake import _load_manifest

    parts = {e["partition"] for e in _load_manifest(root, 1)["files"]}
    assert None in parts
    assert "__HIVE_DEFAULT_PARTITION__" not in parts
    # upsert a null-partition key: must replace, not duplicate
    upd = base.where("doc_id = 1").withColumn("text", F.lit("new"))
    lake_upsert(spark, root, upd, "doc_id", "part")
    got = lake_read(spark, root)
    assert got.count() == 10
    assert got.where("text = 'new'").count() == 1
    # delete a null-partition key: must actually remove it
    lake_delete(
        spark,
        root,
        spark.range(3, 4).selectExpr("id AS doc_id"),
        "doc_id",
        "part",
    )
    assert lake_read(spark, root).count() == 9


def test_lake_diff_duplicate_keys_no_cross_product(spark, tmp_path):
    """Duplicate keys reduce to one multiset fingerprint per key: the
    full-outer join stays 1:1 (no cross-product row blowup), a changed
    duplicate-row multiset classifies as 'update', and an identical
    multiset is absent from the diff."""
    from pyspec_spark.lake import lake_diff, lake_overwrite

    root = str(tmp_path / "cdc")
    v1_df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "x"), (2, "x"), (3, "z")],
        "doc_id INT, text STRING",
    )
    v1 = lake_overwrite(spark, root, v1_df, partition_col=None)
    v2_df = spark.createDataFrame(
        # key 1 unchanged (same multiset, different row order)
        # key 2: one copy dropped -> update; key 3 deleted; key 4 inserted
        [(1, "b"), (1, "a"), (2, "x"), (4, "q")],
        "doc_id INT, text STRING",
    )
    v2 = lake_overwrite(spark, root, v2_df, partition_col=None)
    rows = lake_diff(spark, root, v1, v2, "doc_id").collect()
    assert len(rows) == len({r["doc_id"] for r in rows})  # one row per key
    got = {(r["doc_id"], r["change"]) for r in rows}
    assert got == {(2, "update"), (3, "delete"), (4, "insert")}


def test_lake_diff_empty_versions_key_schema(spark, tmp_path):
    """Both-versions-empty diff derives the key type from the recorded
    manifest schema instead of hardcoding BIGINT."""
    from pyspec_spark.lake import lake_diff, lake_overwrite

    root = str(tmp_path / "cdc")
    empty = spark.createDataFrame([], "name STRING, n INT")
    v1 = lake_overwrite(spark, root, empty, partition_col=None)
    v2 = lake_overwrite(spark, root, empty, partition_col=None)
    out = lake_diff(spark, root, v1, v2, "name")
    assert out.count() == 0
    assert dict(out.dtypes)["name"] == "string"


def test_vacuum_race_with_in_flight_writer(spark, tmp_path):
    """Writer×vacuum race, both arms deterministic:
    (a) a vacuum with a sane retention window running MID-STAGE must
        leave the concurrent writer's staged-but-unlinked files alone,
        so its subsequent commit reads back intact with zero dangling
        file refs;
    (b) a zero-retention vacuum (operator error) may reclaim the
        in-flight staging, and the writer's later commit then fails
        CLEANLY at read time (missing-file error), never silently."""
    import threading

    from pyspec_spark.lake import _commit, _load_manifest, _stage_files

    root = str(tmp_path / "t")
    lake_append(spark, root, _docs(spark, 0, 10), "part")
    base = latest_version(root)
    old = _load_manifest(root, base)["files"]

    # (a) stage, vacuum mid-stage with retention, then commit
    staged = _stage_files(spark, root, _docs(spark, 100, 110, tag="w"), "part")
    staged_paths = [os.path.join(root, e["path"]) for e in staged]
    barrier = threading.Barrier(2)
    vac_removed: list = [None]

    def vac():
        barrier.wait()
        vac_removed[0] = lake_vacuum(
            root, keep_versions=1, retention_seconds=3600
        )

    t = threading.Thread(target=vac)
    t.start()
    barrier.wait()
    t.join()
    assert all(os.path.exists(p) for p in staged_paths)  # survived vacuum
    v2 = _commit(root, "append", old + staged, "part", base)
    got = lake_read(spark, root, version=v2)
    assert got.count() == 20
    # no dangling refs: every manifest entry resolves on disk
    for e in _load_manifest(root, v2)["files"]:
        assert os.path.exists(os.path.join(root, e["path"]))

    # (b) zero-retention vacuum mid-stage reclaims the staging; the
    # commit itself links, but the read fails loudly, not silently
    staged2 = _stage_files(spark, root, _docs(spark, 200, 205, tag="x"), "part")
    lake_vacuum(root, keep_versions=1, retention_seconds=0)
    assert not any(
        os.path.exists(os.path.join(root, e["path"])) for e in staged2
    )
    v3 = _commit(root, "append", _load_manifest(root, v2)["files"] + staged2,
                 "part", v2)
    with pytest.raises(FileNotFoundError):
        lake_read(spark, root, version=v3)


def test_lake_random_op_sequences_match_model(spark, tmp_path):
    """Model-based check: random sequences of keyed lake ops must keep
    lake_read() equal to a plain dict model at every step.  Partition
    values include hive-escaped characters (':' — the r8 fix class) and
    NULLs (the __HIVE_DEFAULT_PARTITION__ sentinel), so every row-level
    op crosses both seams; compaction and zero-retention vacuum are
    interleaved as the no-op-on-content maintenance passes they must
    be."""
    import random

    from pyspec_spark.lake import _load_manifest

    rng = random.Random(20260815)

    def part_of(k):
        return None if k % 7 == 0 else f"p:{k % 3}"

    def df_of(items):
        return spark.createDataFrame(
            [(k, part_of(k), t) for k, t in sorted(items.items())],
            "doc_id LONG, part STRING, text STRING",
        )

    def read_back(root):
        return {
            r["doc_id"]: (r["part"], r["text"])
            for r in lake_read(spark, root).collect()
        }

    for seq in range(2):
        root = str(tmp_path / f"t{seq}")
        model = {k: f"v0-{k}" for k in range(0, 30)}
        lake_append(spark, root, df_of(model), "part")
        next_key = 100 * (seq + 1)
        for step in range(8):
            op = rng.choice(["upsert", "delete", "append", "compact", "vacuum"])
            if op == "upsert":
                ks = rng.sample(sorted(model), k=min(5, len(model)))
                ks += [next_key, next_key + 1]
                next_key += 2
                upd = {k: f"s{step}-{k}" for k in ks}
                lake_upsert(spark, root, df_of(upd), "doc_id", "part")
                model.update(upd)
            elif op == "delete":
                ks = rng.sample(sorted(model), k=min(4, len(model)))
                ks.append(99999)  # missing key: must no-op silently
                lake_delete(
                    spark,
                    root,
                    spark.createDataFrame([(k,) for k in ks], "doc_id LONG"),
                    "doc_id",
                    "part",
                )
                for k in ks:
                    model.pop(k, None)
            elif op == "append":
                fresh = {next_key + i: f"a{step}-{i}" for i in range(3)}
                next_key += 3
                lake_append(spark, root, df_of(fresh), "part")
                model.update(fresh)
            elif op == "compact":
                lake_compact(spark, root, "part")
            else:
                lake_vacuum(root, keep_versions=1, retention_seconds=0)
            got = read_back(root)
            want = {k: (part_of(k), t) for k, t in model.items()}
            assert got == want, f"seq {seq} step {step} op {op} diverged"
        # every file the final manifest references exists on disk
        import os as _os

        v = latest_version(root)
        for e in _load_manifest(root, v)["files"]:
            assert _os.path.exists(_os.path.join(root, e["path"]))


def test_replace_partitions_carries_by_reference_and_refuses_partitionless(
    spark, tmp_path
):
    """lake_replace_partitions (r10): replaces exactly the named
    partitions' contents, carries every other partition's files by
    reference (same paths across versions), records a stream watermark
    atomically when given one — and REFUSES a table holding
    partition-less files (z-order compaction output can contain any
    partition's rows; dropping it would lose the rows the caller's
    replacement frame never read)."""
    import pytest

    from pyspec_spark.lake import (
        _load_manifest,
        lake_append,
        lake_compact_zorder,
        lake_last_batch,
        lake_read,
        lake_replace_partitions,
        latest_version,
    )

    root = str(tmp_path / "rp")
    df = spark.createDataFrame(
        [(i, f"p{i % 3}", i * 10) for i in range(30)],
        "k BIGINT, part STRING, v BIGINT",
    )
    v1 = lake_append(spark, root, df, partition_col="part")

    repl = spark.createDataFrame(
        [(100, "p1", 1), (101, "p1", 2)], "k BIGINT, part STRING, v BIGINT"
    )
    v2 = lake_replace_partitions(
        spark, root, {"p1"}, repl, partition_col="part",
        stream_commit=("rp_stream", 7),
    )
    assert v2 == v1 + 1
    assert lake_last_batch(root, "rp_stream") == 7
    got = {(r["k"], r["part"]) for r in lake_read(spark, root).collect()}
    assert {k for k, p in got if p == "p1"} == {100, 101}
    assert len([1 for _, p in got if p == "p0"]) == 10  # untouched
    f1 = {e["path"] for e in _load_manifest(root, v1)["files"]
          if e["partition"] != "p1"}
    f2 = {e["path"] for e in _load_manifest(root, v2)["files"]
          if e["partition"] != "p1"}
    assert f1 == f2  # carried by reference, not rewritten

    # a z-order compaction writes partition-less files -> refuse loudly
    lake_compact_zorder(spark, root, "k", "v")
    with pytest.raises(ValueError, match="partition-less"):
        lake_replace_partitions(
            spark, root, {"p1"}, repl, partition_col="part"
        )


# ---------------------------------------------------------------------------
# Column-id mapping: rename / widen-retype evolution (r11)
# ---------------------------------------------------------------------------
def _evo_df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).cast("int").alias("val"),
        F.concat(F.lit("s"), F.col("id")).alias("s"),
        (F.col("id") % 2).cast("string").alias("p"),
    )


def test_rename_is_metadata_only_and_time_travel_correct(spark, tmp_path):
    import pyspec_spark.lake as lk

    root = str(tmp_path / "evo")
    lk.lake_append(spark, root, _evo_df(spark, 0, 10), partition_col="p")
    files_v1 = {e["path"] for e in lk._load_manifest(root, 1)["files"]}
    v2 = lk.lake_rename_column(root, "val", "amount")
    m2 = lk._load_manifest(root, v2)
    # metadata-only: every data file carried by reference
    assert {e["path"] for e in m2["files"]} == files_v1
    got = lk.lake_read(spark, root)
    assert "amount" in got.columns and "val" not in got.columns
    assert got.agg(F.sum("amount")).collect()[0][0] == sum(
        i * 10 for i in range(10)
    )
    # time travel: version 1 still reads under its historical name
    old = lk.lake_read(spark, root, version=1)
    assert "val" in old.columns and "amount" not in old.columns


def test_retype_widens_at_read_time_and_appends_new_era(spark, tmp_path):
    import pyspec_spark.lake as lk

    root = str(tmp_path / "evo")
    lk.lake_append(spark, root, _evo_df(spark, 0, 10), partition_col="p")
    lk.lake_rename_column(root, "val", "amount")
    lk.lake_retype_column(root, "amount", "bigint")
    got = lk.lake_read(spark, root)
    assert dict(got.dtypes)["amount"] == "bigint"
    # append the new era (logical names, widened type)
    delta = _evo_df(spark, 10, 15).withColumnsRenamed(
        {"val": "amount"}
    ).withColumn("amount", F.col("amount").cast("bigint"))
    lk.lake_append(spark, root, delta, partition_col="p")
    got = lk.lake_read(spark, root)
    assert got.count() == 15
    assert got.agg(F.sum("amount")).collect()[0][0] == sum(
        i * 10 for i in range(15)
    )
    # both eras present in the manifest, each self-describing
    m = lk._load_manifest(root, lk.latest_version(root))
    sids = {e["sid"] for e in m["files"]}
    assert len(sids) == 2
    eras = m["schemas"]
    assert {eras[str(s)]["val"] for s in sids} == {"int", "bigint"}
    # an append still writing the OLD type is refused, not coerced
    stale = _evo_df(spark, 15, 16).withColumnsRenamed({"val": "amount"})
    with pytest.raises(ValueError, match="type change refused"):
        lk.lake_append(spark, root, stale, partition_col="p")


def test_mapped_scan_prunes_and_filters_on_logical_names(spark, tmp_path):
    import pyspec_spark.lake as lk

    root = str(tmp_path / "evo")
    lk.lake_append(spark, root, _evo_df(spark, 0, 10), partition_col="p")
    lk.lake_rename_column(root, "val", "amount")
    lk.lake_retype_column(root, "amount", "bigint")
    lk.lake_append(
        spark, root,
        _evo_df(spark, 100, 110)
        .withColumnsRenamed({"val": "amount"})
        .withColumn("amount", F.col("amount").cast("bigint")),
        partition_col="p",
    )
    # footer stats live under the PHYSICAL name; the logical predicate
    # must still skip the old era's files entirely
    kept, total = lk.lake_scan_file_counts(root, [("amount", ">=", 1000)])
    assert kept < total
    rows = lk.lake_scan(spark, root, [("amount", ">=", 1000)]).collect()
    assert sorted(r["k"] for r in rows) == list(range(100, 110))
    assert all(r["amount"] >= 1000 for r in rows)


def test_cdc_across_rename_and_retype_shows_no_spurious_changes(
    spark, tmp_path
):
    import pyspec_spark.lake as lk

    root = str(tmp_path / "evo")
    lk.lake_append(spark, root, _evo_df(spark, 0, 10), partition_col="p")
    lk.lake_rename_column(root, "val", "amount")
    lk.lake_retype_column(root, "amount", "bigint")
    v_new = lk.lake_append(
        spark, root,
        _evo_df(spark, 10, 12)
        .withColumnsRenamed({"val": "amount"})
        .withColumn("amount", F.col("amount").cast("bigint")),
        partition_col="p",
    )
    diff = {
        r["k"]: r["change"]
        for r in lk.lake_diff(spark, root, 1, v_new, "k").collect()
    }
    # the rename + widen alone change NOTHING; only the appended keys
    assert diff == {10: "insert", 11: "insert"}


def test_mapped_row_ops_splice_logical_and_compact_materializes(
    spark, tmp_path
):
    """Row-level ops on a MAPPED table (r11): touched files read
    through the mapping, survivors splice with logical rows, rewrites
    land physical in the current era — upsert replaces by key, delete
    removes by key, and the mapping survives every commit."""
    import pyspec_spark.lake as lk

    root = str(tmp_path / "evo")
    lk.lake_append(spark, root, _evo_df(spark, 0, 10), partition_col="p")
    lk.lake_rename_column(root, "val", "amount")
    upd = (
        _evo_df(spark, 0, 1)
        .withColumnsRenamed({"val": "amount"})
        .withColumn("amount", F.lit(-5).cast("int"))
    )
    lk.lake_upsert(spark, root, upd, key="k", partition_col="p")
    got = lk.lake_read(spark, root)
    assert got.where("k = 0").collect()[0]["amount"] == -5
    assert got.count() == 10
    lk.lake_delete(
        spark, root, upd.select("k"), key="k", partition_col="p"
    )
    got = lk.lake_read(spark, root)
    assert got.count() == 9 and got.where("k = 0").count() == 0
    repl = (
        _evo_df(spark, 100, 102)
        .withColumnsRenamed({"val": "amount"})
        .where("p = '0'")
    )
    lk.lake_replace_partitions(spark, root, {"0"}, repl, partition_col="p")
    got = lk.lake_read(spark, root)
    assert sorted(
        r["k"] for r in got.where("p = '0'").collect()
    ) == [100]
    # mapping intact through all three commits
    m = lk._load_manifest(root, lk.latest_version(root))
    assert any(c["name"] == "amount" for c in m["columns"])
    # guard rails on the evolution ops themselves
    with pytest.raises(ValueError, match="partition column"):
        lk.lake_rename_column(root, "p", "part")
    with pytest.raises(ValueError, match="lossless"):
        lk.lake_retype_column(root, "amount", "string")
    with pytest.raises(ValueError, match="already exists"):
        lk.lake_rename_column(root, "amount", "s")
    # compact = the sanctioned materialization: mapping gone, logical
    # names now physical, reads identical, row ops legal again
    before = sorted(
        tuple(r) for r in lk.lake_read(spark, root).collect()
    )
    lk.lake_compact(spark, root, partition_col="p")
    m = lk._load_manifest(root, lk.latest_version(root))
    assert "columns" not in m
    after = sorted(tuple(r) for r in lk.lake_read(spark, root).collect())
    assert after == before
    lk.lake_upsert(spark, root, upd, key="k", partition_col="p")


def test_mapped_add_column_append_composes(spark, tmp_path):
    import pyspec_spark.lake as lk

    root = str(tmp_path / "evo")
    lk.lake_append(spark, root, _evo_df(spark, 0, 5), partition_col="p")
    lk.lake_rename_column(root, "val", "amount")
    plus = (
        _evo_df(spark, 5, 8)
        .withColumnsRenamed({"val": "amount"})
        .withColumn("extra", F.lit("x"))
    )
    lk.lake_append(spark, root, plus, partition_col="p")
    got = lk.lake_read(spark, root)
    assert "extra" in got.columns
    assert got.where(F.col("extra").isNull()).count() == 5
    assert got.where(F.col("extra") == "x").count() == 3
    # the new column's id extends the mapping
    m = lk._load_manifest(root, lk.latest_version(root))
    ids = [c["id"] for c in m["columns"]]
    assert len(ids) == len(set(ids)) == 5


def test_drop_column_metadata_only_and_readd_never_leaks_old_bytes(
    spark, tmp_path
):
    """lake_drop_column completes the evolution triple: metadata-only
    (files carried by reference; old versions still show the column via
    time travel), and RE-ADDING a column under the dropped name gets a
    fresh id + disambiguated physical name, so old-era bytes can never
    leak into the new column (the zombie-column class)."""
    import pyspec_spark.lake as lk

    root = str(tmp_path / "evo")
    lk.lake_append(spark, root, _evo_df(spark, 0, 6), partition_col="p")
    files_v1 = {e["path"] for e in lk._load_manifest(root, 1)["files"]}
    v2 = lk.lake_drop_column(root, "val")
    m2 = lk._load_manifest(root, v2)
    assert {e["path"] for e in m2["files"]} == files_v1  # metadata-only
    got = lk.lake_read(spark, root)
    assert "val" not in got.columns and got.count() == 6
    # time travel: v1 still reads the dropped column's bytes
    assert lk.lake_read(spark, root, version=1).agg(
        F.sum("val")
    ).collect()[0][0] == sum(i * 10 for i in range(6))
    # drop alone = zero CDC changes (values by key are untouched)
    assert lk.lake_diff(spark, root, 1, v2, "k").count() == 0
    # re-add "val" with DIFFERENT values: must read only the new rows'
    # values, NULL for pre-re-add rows — never the old era's bytes
    plus = spark.range(6, 9).select(
        F.col("id").alias("k"),
        F.lit(-1).cast("int").alias("val"),
        F.concat(F.lit("s"), F.col("id")).alias("s"),
        (F.col("id") % 2).cast("string").alias("p"),
    )
    lk.lake_append(spark, root, plus, partition_col="p")
    got = lk.lake_read(spark, root)
    assert got.where("val = -1").count() == 3
    assert got.where("val IS NULL").count() == 6  # old rows: no zombie
    m = lk._load_manifest(root, lk.latest_version(root))
    readd = next(c for c in m["columns"] if c["name"] == "val")
    assert readd["physical"] != "val"  # disambiguated physical name
    # guard rails
    with pytest.raises(ValueError, match="partition column"):
        lk.lake_drop_column(root, "p")
    with pytest.raises(ValueError, match="no column"):
        lk.lake_drop_column(root, "nope")


def test_column_mapping_model_based_random_lifecycle(spark, tmp_path):
    """Model-based check of the evolution lifecycle: a seeded random
    sequence of {append, rename, drop, widen-retype, upsert, delete}
    against a plain Python dict model — after every step the mapped
    read must equal
    the model exactly (values by key, NULLs for pre-add rows, dropped
    columns absent, historical bytes never leaking into re-added
    names).  Ten seeds x ~8 ops each; deterministic (seeded RNG, no
    wall-clock)."""
    import random

    import pyspec_spark.lake as lk

    for seed in range(10):
        rng = random.Random(seed)
        root = str(tmp_path / f"model_{seed}")
        # model: {k: {col: value}}; logical schema: {col: type}
        model: dict[int, dict] = {}
        schema = {"k": "bigint", "v": "int", "p": "string"}
        pending_adds: dict[str, str] = {}  # land with the next append
        next_k = 0
        next_col = 0

        def append(n):
            nonlocal next_k
            schema.update(pending_adds)
            pending_adds.clear()
            rows = []
            for _ in range(n):
                row = {"k": next_k, "p": str(next_k % 2)}
                for c, t in schema.items():
                    if c in ("k", "p"):
                        continue
                    row[c] = (
                        next_k * 7 if t in ("int", "bigint") else f"x{next_k}"
                    )
                rows.append(row)
                model[next_k] = dict(row)
                next_k += 1
            ddl = ", ".join(f"{c} {t}" for c, t in schema.items())
            df = spark.createDataFrame(
                [tuple(r.get(c) for c in schema) for r in rows], ddl
            )
            lk.lake_append(spark, root, df, partition_col="p")
            # model: existing rows lack any newly-added column → None
            for k in model:
                for c in schema:
                    model[k].setdefault(c, None)

        def evolve(fn, *args):
            # the documented lifecycle: mapping init refuses on a
            # mixed-schema table (an un-compacted add-column
            # evolution) — compact, then retry
            try:
                fn(root, *args)
            except ValueError as e:
                if "mixed-schema" not in str(e):
                    raise
                lk.lake_compact(spark, root, partition_col="p")
                fn(root, *args)

        append(rng.randint(1, 4))
        for _ in range(8):
            op = rng.choice(
                ["append", "rename", "drop", "add", "retype",
                 "upsert", "delete"]
            )
            mutable = [c for c in schema if c not in ("k", "p")]
            if op == "append":
                append(rng.randint(1, 3))
            elif op == "rename" and mutable:
                old = rng.choice(mutable)
                new = f"r{next_col}"
                next_col += 1
                evolve(lk.lake_rename_column, old, new)
                schema[new] = schema.pop(old)
                for r in model.values():
                    r[new] = r.pop(old)
            elif op == "drop" and len(mutable) >= 1 and len(schema) > 2:
                c = rng.choice(mutable)
                evolve(lk.lake_drop_column, c)
                del schema[c]
                for r in model.values():
                    r.pop(c, None)
            elif op == "add":
                c = f"a{next_col}"
                next_col += 1
                pending_adds[c] = "int"  # lands with the NEXT append
            elif op == "retype" and mutable:
                ints = [c for c in mutable if schema[c] == "int"]
                if ints:
                    c = rng.choice(ints)
                    evolve(lk.lake_retype_column, c, "bigint")
                    schema[c] = "bigint"
            elif op == "upsert" and model:
                kk = rng.choice(sorted(model))
                row = {"k": kk, "p": str(kk % 2)}
                for c, t in schema.items():
                    if c in ("k", "p"):
                        continue
                    row[c] = (
                        -kk - 1 if t in ("int", "bigint") else f"u{kk}"
                    )
                ddl = ", ".join(f"{c} {t}" for c, t in schema.items())
                df = spark.createDataFrame(
                    [tuple(row.get(c) for c in schema)], ddl
                )
                lk.lake_upsert(
                    spark, root, df, key="k", partition_col="p"
                )
                model[kk] = dict(row)
            elif op == "delete" and len(model) > 1:
                kk = rng.choice(sorted(model))
                df = spark.createDataFrame([(kk,)], "k bigint")
                lk.lake_delete(
                    spark, root, df, key="k", partition_col="p"
                )
                del model[kk]

            got = {
                r["k"]: {c: r[c] for c in schema if c != "k"}
                for r in lk.lake_read(spark, root).collect()
            }
            want = {
                k: {c: r.get(c) for c in schema if c != "k"}
                for k, r in model.items()
            }
            assert got == want, (seed, op)


def test_mapped_append_blooms_renamed_column_still_prunes(spark, tmp_path):
    """Review fix r11: bloom_cols arrive in LOGICAL names; after a
    rename the physical frame carries the old name, so without the
    logical->physical translation the bloom harvest silently skipped
    the column and equality skipping quietly stopped pruning new
    files.  Pin: blooms recorded under the physical name, and a
    logical-name lake_scan equality predicate prunes below the
    min/max-only control."""
    import pyspec_spark.lake as lk

    root = str(tmp_path / "evo")
    # hash-distributed key so min/max stats cannot prune (the bloom
    # test's precondition): every file spans the full md5 range
    base = spark.range(0, 4000).select(
        F.col("id").alias("k"),
        F.md5(F.col("id").cast("string")).alias("val"),
        (F.col("id") % 8).cast("string").alias("p"),
    )
    lk.lake_append(spark, root, base, partition_col="p")
    lk.lake_rename_column(root, "val", "h")
    delta = spark.range(4000, 8000).select(
        F.col("id").alias("k"),
        F.md5(F.col("id").cast("string")).alias("h"),
        (F.col("id") % 8).cast("string").alias("p"),
    )
    lk.lake_append(spark, root, delta, partition_col="p", bloom_cols=["h"])
    m = lk._load_manifest(root, lk.latest_version(root))
    new_entries = [e for e in m["files"] if "bloom" in e]
    assert new_entries, "delta files must carry blooms"
    assert all("val" in e["bloom"] for e in new_entries)  # physical name
    # a value known to live in exactly one delta file: logical-name
    # scan must keep fewer files than the manifest total
    import hashlib

    probe = hashlib.md5(b"5123").hexdigest()
    kept, total = lk.lake_scan_file_counts(root, [("h", "=", probe)])
    assert kept < total
    rows = lk.lake_scan(spark, root, [("h", "=", probe)]).collect()
    assert [r["k"] for r in rows] == [5123]


def test_mapped_zorder_materializes_mapping(spark, tmp_path):
    """Full-rewrite layout ops stage from the MAPPED logical view, so
    z-order compaction on a renamed table materializes the mapping
    (cleared from the manifest) with content intact."""
    import pyspec_spark.lake as lk

    root = str(tmp_path / "evo")
    lk.lake_append(spark, root, _evo_df(spark, 0, 50), partition_col="p")
    lk.lake_rename_column(root, "val", "amount")
    before = sorted(tuple(r) for r in lk.lake_read(spark, root).collect())
    lk.lake_compact_zorder(spark, root, "k", "amount")
    m = lk._load_manifest(root, lk.latest_version(root))
    assert "columns" not in m
    after = sorted(tuple(r) for r in lk.lake_read(spark, root).collect())
    assert after == before


# ---------------------------------------------------------------------------
# cluster_col (r12): the second at-rest key — one file per
# (partition, cluster) value, exact file pruning on the cluster column
# ---------------------------------------------------------------------------
def _labeled(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("int").alias("part"),
        (F.col("id") % 4).cast("int").alias("label"),
        F.concat(F.lit("t"), F.col("id")).alias("text"),
    )


def test_clustered_append_splits_files_and_prunes_exactly(spark, tmp_path):
    """A cluster_col append writes one file per (partition, cluster)
    value — every file's footer [min, max] on the cluster column is a
    point — and lake_scan with a cluster predicate keeps exactly the
    matching files (1/|labels| of each partition)."""
    from pyspec_spark.lake import lake_scan, lake_scan_file_counts

    root = str(tmp_path / "clake")
    lake_append(spark, root, _labeled(spark, 0, 240), "part",
                cluster_col="label")
    import json as _json
    import glob as _glob

    mf = sorted(_glob.glob(os.path.join(root, "_manifests", "*.json")))[-1]
    man = _json.load(open(mf))
    assert man["cluster_col"] == "label"
    assert len(man["files"]) == 12  # 3 parts x 4 labels
    for e in man["files"]:
        lo, hi = e["stats"]["label"]
        assert lo == hi  # point stats: the file holds ONE label

    kept, total = lake_scan_file_counts(root, [("label", "=", 2)])
    assert (kept, total) == (3, 12)  # one file per partition
    got = sorted(
        r["doc_id"]
        for r in lake_scan(spark, root, [("label", "=", 2)]).collect()
    )
    assert got == [i for i in range(240) if i % 4 == 2]


def test_clustered_layout_survives_append_delete_compact(spark, tmp_path):
    """The clustered layout is a TABLE property: a later append WITHOUT
    cluster_col, a row-level delete's rewrite, and a compact all keep
    one-label-per-file stats; lake_scan pruning stays exact after each."""
    import glob as _glob
    import json as _json

    from pyspec_spark.lake import lake_scan_file_counts

    def point_stats():
        mf = sorted(
            _glob.glob(os.path.join(root, "_manifests", "*.json"))
        )[-1]
        man = _json.load(open(mf))
        return all(
            e["stats"]["label"][0] == e["stats"]["label"][1]
            for e in man["files"]
        )

    root = str(tmp_path / "clake2")
    lake_append(spark, root, _labeled(spark, 0, 120), "part",
                cluster_col="label")
    # plain append inherits the clustering
    lake_append(spark, root, _labeled(spark, 120, 240), "part")
    assert point_stats()
    # row-level delete rewrites touched partitions WITH the clustering
    lake_delete(
        spark, root,
        spark.range(0, 240, 7).select(F.col("id").alias("doc_id")),
        key="doc_id", partition_col="part",
    )
    assert point_stats()
    survivors = [i for i in range(240) if i % 7 != 0]
    want_l2 = sorted(i for i in survivors if i % 4 == 2)
    from pyspec_spark.lake import lake_scan

    got = sorted(
        r["doc_id"]
        for r in lake_scan(spark, root, [("label", "=", 2)]).collect()
    )
    assert got == want_l2
    # compact keeps the clustering
    lake_compact(spark, root, "part")
    assert point_stats()
    kept, total = lake_scan_file_counts(root, [("label", "=", 2)])
    assert kept * 4 == total
    got = sorted(
        r["doc_id"]
        for r in lake_scan(spark, root, [("label", "=", 2)]).collect()
    )
    assert got == want_l2


def test_clustered_layout_composes_with_column_mapping(spark, tmp_path):
    """Renaming the cluster column (r11 column mapping) keeps the
    clustered layout: the manifest's cluster_col follows the rename,
    later appends still split one-file-per-value under the PHYSICAL
    name, and lake_scan prunes on the NEW logical name."""
    import glob as _glob
    import json as _json

    from pyspec_spark.lake import (
        lake_rename_column,
        lake_scan,
        lake_scan_file_counts,
    )

    root = str(tmp_path / "clake3")
    lake_append(spark, root, _labeled(spark, 0, 120), "part",
                cluster_col="label")
    lake_rename_column(root, "label", "category")
    mf = sorted(_glob.glob(os.path.join(root, "_manifests", "*.json")))[-1]
    assert _json.load(open(mf))["cluster_col"] == "category"

    # append through the mapping: logical 'category', physical 'label'
    lake_append(
        spark, root,
        _labeled(spark, 120, 240).withColumnRenamed("label", "category"),
        "part",
    )
    mf = sorted(_glob.glob(os.path.join(root, "_manifests", "*.json")))[-1]
    man = _json.load(open(mf))
    for e in man["files"]:
        lo, hi = e["stats"]["label"]  # physical name in footers
        assert lo == hi
    kept, total = lake_scan_file_counts(root, [("category", "=", 1)])
    assert kept * 4 == total
    got = sorted(
        r["doc_id"]
        for r in lake_scan(spark, root, [("category", "=", 1)]).collect()
    )
    assert got == [i for i in range(240) if i % 4 == 1]


def test_cdc_on_clustered_table_shows_only_real_changes(spark, tmp_path):
    """S6e x S6c: a row-level delete on a clustered table rewrites the
    touched partitions' files (one per (part, label)), but lake_diff
    must report exactly the deleted keys — file-layout churn from the
    cluster split is not a row change."""
    from pyspec_spark.lake import lake_diff

    root = str(tmp_path / "clake_cdc")
    lake_append(spark, root, _labeled(spark, 0, 120), "part",
                cluster_col="label")
    v1 = latest_version(root)
    lake_delete(
        spark, root,
        spark.range(0, 120, 11).select(F.col("id").alias("doc_id")),
        key="doc_id", partition_col="part",
    )
    v2 = latest_version(root)
    diff = lake_diff(spark, root, v1, v2, "doc_id").collect()
    assert sorted(r["doc_id"] for r in diff) == list(range(0, 120, 11))
    assert {r["change"] for r in diff} == {"delete"}


def test_stream_retry_refuses_schema_narrowing(spark, tmp_path, monkeypatch):
    """r12 review: a concurrent ADD-COLUMN append landing between a
    stream batch's staging and its LakeConflict retry must make the
    retry raise the add-column-only error — never silently commit the
    batch's narrower schema over the widened one (which would let a
    later column-less append pass the evolution check)."""
    import pytest as _pytest

    import pyspec_spark.lake as lk

    root = str(tmp_path / "narrow_lake")
    base = spark.range(10).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("int").alias("part"),
    )
    lk.lake_append(spark, root, base, "part")
    lk.lake_append_stream(spark, root, base, "part", "nstream", 0)

    wide = base.withColumn("extra", F.lit(1))
    real_commit = lk._commit
    state = {"raced": False}

    def racing_commit(*a, **kw):
        # first stream_append commit: inject the widening append inside
        # the window, then run the original -> genuine LakeConflict
        if a[1] == "stream_append" and not state["raced"]:
            state["raced"] = True
            lk.lake_append(spark, root, wide, "part")
        return real_commit(*a, **kw)

    monkeypatch.setattr(lk, "_commit", racing_commit)
    with _pytest.raises(ValueError, match="missing"):
        lk.lake_append_stream(spark, root, base, "part", "nstream", 1)
    monkeypatch.setattr(lk, "_commit", real_commit)
    assert state["raced"]
    # the recorded schema kept the widened column
    m = lk._load_manifest(root, lk.latest_version(root))
    assert "extra" in m["schema"]
    # a batch CARRYING the new column commits cleanly
    lk.lake_append_stream(spark, root, wide, "part", "nstream", 1)
    assert lk.lake_last_batch(root, "nstream") == 1


def test_cluster_col_model_based_random_lifecycle(spark, tmp_path):
    """Model-based check of the clustered layout (S6e): a seeded
    random sequence of {append, delete, upsert, compact, rename} on a
    cluster_col table against a plain dict model — after every step
    (1) the read equals the model, (2) every live data file's footer
    stats on the (possibly renamed) cluster column are a POINT, and
    (3) a cluster-predicate scan returns exactly the model's matching
    rows while keeping only matching files.  Five seeds x ~7 ops;
    deterministic."""
    import glob as _glob
    import json as _json
    import random

    import pyspec_spark.lake as lk

    for seed in range(5):
        rng = random.Random(100 + seed)
        root = str(tmp_path / f"cmodel_{seed}")
        model: dict[int, tuple] = {}  # k -> (part, label)
        next_k = 0
        cluster_name = "label"

        def df_of(rows):
            return spark.createDataFrame(
                [(k, p, lb) for k, (p, lb) in rows],
                "doc_id BIGINT, part INT, " + cluster_name + " INT",
            )

        def append(n):
            nonlocal next_k
            rows = []
            for _ in range(n):
                v = (next_k % 3, next_k % 4)
                model[next_k] = v
                rows.append((next_k, v))
                next_k += 1
            lk.lake_append(
                spark, root, df_of(rows), "part",
                cluster_col=cluster_name if lk.latest_version(root) is None
                else None,  # inherit after the first commit
            )

        def check():
            got = sorted(
                (r["doc_id"], (r["part"], r[cluster_name]))
                for r in lk.lake_read(spark, root).collect()
            )
            assert got == sorted(model.items()), (seed, cluster_name)
            mf = sorted(
                _glob.glob(os.path.join(root, "_manifests", "*.json"))
            )[-1]
            man = _json.load(open(mf))
            assert man["cluster_col"] == cluster_name
            phys = "label"  # physical never moves
            for e in man["files"]:
                st = e["stats"].get(phys)
                assert st is not None and st[0] == st[1], (seed, e)
            want = sorted(
                k for k, (_p, lb) in model.items() if lb == 2
            )
            hits = sorted(
                r["doc_id"]
                for r in lk.lake_scan(
                    spark, root, [(cluster_name, "=", 2)]
                ).collect()
            )
            assert hits == want, (seed, cluster_name)

        append(rng.randint(4, 8))
        check()
        for _ in range(7):
            op = rng.choice(
                ["append", "delete", "upsert", "compact", "rename"]
            )
            if op == "append":
                append(rng.randint(2, 5))
            elif op == "delete" and len(model) > 3:
                # never empty the table (an empty version refuses read
                # by documented contract — not what this model checks)
                ks = rng.sample(sorted(model), 3)
                lk.lake_delete(
                    spark, root,
                    spark.createDataFrame(
                        [(k,) for k in ks], "doc_id BIGINT"
                    ),
                    key="doc_id", partition_col="part",
                )
                for k in ks:
                    model.pop(k)
            elif op == "upsert" and model:
                ks = rng.sample(sorted(model), min(2, len(model)))
                rows = []
                for k in ks:
                    v = (model[k][0], (model[k][1] + 1) % 4)
                    model[k] = v
                    rows.append((k, v))
                lk.lake_upsert(
                    spark, root, df_of(rows), key="doc_id",
                    partition_col="part",
                )
            elif op == "compact":
                lk.lake_compact(spark, root, "part")
            elif op == "rename":
                new = f"label_{rng.randint(0, 999)}"
                try:
                    lk.lake_rename_column(root, cluster_name, new)
                except ValueError as e:
                    if "mixed-schema" not in str(e):
                        raise
                    lk.lake_compact(spark, root, "part")
                    lk.lake_rename_column(root, cluster_name, new)
                cluster_name = new
            check()


# ---------------------------------------------------------------------------
# Named tags (r13): immutable refs that pin snapshots against vacuum —
# the governance handle for "the snapshot this model trained on".
# ---------------------------------------------------------------------------
def test_tag_read_and_vacuum_safety(spark, tmp_path):
    from pyspec_spark.lake import (
        lake_drop_tag,
        lake_tag,
        lake_tags,
        lake_vacuum,
    )

    root = str(tmp_path / "t")
    lake_append(spark, root, _docs(spark, 0, 10), "part")
    lake_tag(root, "train-v1")  # pins v1
    lake_append(spark, root, _docs(spark, 10, 20), "part")
    lake_append(spark, root, _docs(spark, 20, 30), "part")
    assert lake_tags(root) == {"train-v1": 1}
    assert _rows(lake_read(spark, root, tag="train-v1")) == _rows(
        _docs(spark, 0, 10)
    )
    # vacuum keeps ONLY the newest version... plus the tagged one
    lake_vacuum(root, keep_versions=1, retention_seconds=0.0)
    assert lake_read(spark, root).count() == 30
    assert lake_read(spark, root, tag="train-v1").count() == 10
    # the untagged middle version is gone
    with pytest.raises(FileNotFoundError):
        lake_read(spark, root, version=2)
    # dropping the tag releases the pin: the next vacuum reclaims v1
    lake_drop_tag(root, "train-v1")
    lake_vacuum(root, keep_versions=1, retention_seconds=0.0)
    with pytest.raises(FileNotFoundError):
        lake_read(spark, root, tag="train-v1")
    assert lake_read(spark, root).count() == 30


def test_tag_refuses_silent_move_and_bad_targets(spark, tmp_path):
    from pyspec_spark.lake import lake_tag, resolve_tag

    root = str(tmp_path / "t")
    lake_append(spark, root, _docs(spark, 0, 5), "part")
    lake_append(spark, root, _docs(spark, 5, 9), "part")
    lake_tag(root, "rel", version=1)
    with pytest.raises(FileExistsError):
        lake_tag(root, "rel", version=2)
    lake_tag(root, "rel", version=2, replace=True)
    assert resolve_tag(root, "rel") == 2
    with pytest.raises(ValueError):
        lake_tag(root, "nope", version=99)
    with pytest.raises(ValueError):
        lake_tag(root, "../escape", version=1)
    with pytest.raises(ValueError):
        lake_read(spark, root, version=1, tag="rel")


def test_restore_makes_history_current_again(spark, tmp_path):
    """RESTORE commits a NEW version pointing at the target's files —
    linear history, no data copied, bad commits still inspectable."""
    from pyspec_spark.lake import lake_history, lake_restore, lake_tag

    root = str(tmp_path / "t")
    lake_append(spark, root, _docs(spark, 0, 10), "part")
    lake_tag(root, "good")
    lake_append(spark, root, _docs(spark, 10, 40, tag="bad"), "part")
    assert lake_read(spark, root).count() == 40
    v = lake_restore(root, tag="good")
    assert v == 3
    assert _rows(lake_read(spark, root)) == _rows(_docs(spark, 0, 10))
    # the bad commit is still inspectable between the two
    assert lake_read(spark, root, version=2).count() == 40
    ops = [h["op"] for h in lake_history(root)]
    assert ops == ["append", "append", "restore(1)"]
    # and life continues on top of the restore
    lake_append(spark, root, _docs(spark, 50, 55), "part")
    assert lake_read(spark, root).count() == 15


def test_restore_refuses_vacuumed_target(spark, tmp_path):
    from pyspec_spark.lake import lake_restore, lake_vacuum

    root = str(tmp_path / "t")
    lake_append(spark, root, _docs(spark, 0, 10), "part")
    lake_append(spark, root, _docs(spark, 10, 20), "part")
    lake_vacuum(root, keep_versions=1, retention_seconds=0.0)
    with pytest.raises((FileNotFoundError, ValueError)):
        lake_restore(root, version=1)


def test_restore_preserves_schema_era(spark, tmp_path):
    """Restoring across a rename evolution restores the OLD era's
    logical names correctly (the column mapping travels with the
    target manifest, not the parent's)."""
    from pyspec_spark.lake import lake_rename_column, lake_restore

    root = str(tmp_path / "t")
    lake_append(spark, root, _docs(spark, 0, 6), "part")
    lake_rename_column(root, "text", "body")
    assert "body" in lake_read(spark, root).columns
    lake_restore(root, version=1)
    cols = lake_read(spark, root).columns
    assert "text" in cols and "body" not in cols


# ---------------------------------------------------------------------------
# Read plans take their schema from the manifest.
# ---------------------------------------------------------------------------
def test_building_lake_reads_runs_zero_jobs(spark, tmp_path):
    """Building a read plan opens no data file: the schema comes from
    the manifest, so no footer-inference job runs for a plain table,
    an add-column (schema_mixed) table or a renamed (mapped) one."""
    from pyspec_spark.lake import lake_rename_column, lake_scan, lake_scan_in

    plain, mixed, mapped = (str(tmp_path / n) for n in ("p", "x", "m"))
    for root in (plain, mixed, mapped):
        lake_append(spark, root, _docs(spark, 0, 6), "part")
    lake_append(
        spark, mixed, _docs(spark, 6, 9).withColumn("score", F.lit(0.5)), "part"
    )
    lake_rename_column(mapped, "text", "body")
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    built = {
        root: [
            lake_read(spark, root),
            lake_scan(spark, root, [("doc_id", "<", 3)]),
            lake_scan(spark, root, [("doc_id", ">", 99)]),  # empty kept
            lake_scan_in(spark, root, [("doc_id", [1, 2])]),
        ]
        for root in (plain, mixed, mapped)
    }
    assert not set(tracker.getJobIdsForGroup(None)) - before
    cols = {
        plain: ["doc_id", "text", "part"],
        mixed: ["doc_id", "text", "part", "score"],
        mapped: ["doc_id", "body", "part"],
    }
    for root, dfs in built.items():
        assert all(df.columns == cols[root] for df in dfs)


def test_struct_column_reads_through_footer_fallback(spark, tmp_path):
    """A struct type string cannot be a read schema (its field names are
    unquoted), so such a table keeps the footer read, merged across an
    add-column evolution: it reads back equal to its input, NULL where
    the added column is missing."""
    from pyspec_spark.lake import _ddl, _load_manifest

    def rows(lo, hi):
        return _docs(spark, lo, hi).withColumn(
            "st", F.struct(F.col("doc_id").alias("a b"), F.col("text"))
        )

    root = str(tmp_path / "t")
    lake_append(spark, root, rows(0, 6), "part")
    lake_append(spark, root, rows(6, 9).withColumn("n", F.lit(7)), "part")
    m = _load_manifest(root, 2)
    assert m["schema_mixed"] and _ddl(m["schema"]) is None
    got = lake_read(spark, root)
    assert got.columns == ["doc_id", "text", "part", "st", "n"]
    assert sorted(
        (r["doc_id"], r["st"]["a b"], r["st"]["text"], r["n"])
        for r in got.collect()
    ) == [(i, i, f"text-a-{i}", 7 if i >= 6 else None) for i in range(9)]


def test_compaction_stages_with_one_exchange(spark, tmp_path, monkeypatch):
    """lake_compact and lake_change_layout shuffle once: _stage_files'
    repartition by the hive column is the only exchange of the staged
    plan, and each partition value still lands in one file."""
    from pyspark.sql.readwriter import DataFrameWriter

    from pyspec_spark.lake import _load_manifest, lake_change_layout
    from pyspec_spark.plans import count_exchanges

    root = str(tmp_path / "t")
    lake_append(spark, root, _docs(spark, 0, 6), "part")
    lake_append(spark, root, _docs(spark, 6, 12), "part")
    plans = []
    write = DataFrameWriter.parquet

    def spy(self, *args, **kwargs):
        plans.append(self._df._jdf.queryExecution().executedPlan().toString())
        return write(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    v = lake_compact(spark, root, "part")
    assert len(_load_manifest(root, v)["files"]) == 3
    v = lake_change_layout(spark, root, "part")
    assert len(_load_manifest(root, v)["files"]) == 3
    assert [count_exchanges(p) for p in plans] == [1, 1]
    assert _rows(lake_read(spark, root)) == _rows(_docs(spark, 0, 12))


# ---------------------------------------------------------------------------
# The publish primitives (Spark-free: plain files, milliseconds).
# ---------------------------------------------------------------------------
def _no_tmp_left(d):
    return not [n for n in os.listdir(d) if n.startswith(".tmp-")]


def test_write_new_refuses_existing_target(tmp_path):
    from pyspec_spark.lake import write_new

    p = str(tmp_path / "v.json")
    write_new(p, "first")
    with pytest.raises(FileExistsError):
        write_new(p, "second")
    assert open(p).read() == "first"
    assert _no_tmp_left(tmp_path)


def test_write_replace_overwrites(tmp_path):
    from pyspec_spark.lake import write_replace

    p = str(tmp_path / "CURRENT")
    write_replace(p, "old")
    write_replace(p, "new")
    assert open(p).read() == "new"
    assert _no_tmp_left(tmp_path)


def test_racing_writers_one_cas_winner_and_whole_replaces(tmp_path):
    """Sixteen threads race on one name: exactly one write_new wins and
    the target keeps its bytes; concurrent write_replace calls never
    fail (each has its own temp file) and leave one writer's whole
    payload."""
    import sys
    import threading

    from pyspec_spark.lake import write_new, write_replace

    new_p, rep_p = str(tmp_path / "lock"), str(tmp_path / "marker.json")
    wins, errors = [], []
    barrier = threading.Barrier(16)

    def worker(i):
        barrier.wait()
        try:
            write_new(new_p, f"owner-{i}")
            wins.append(i)
        except FileExistsError:
            pass
        try:
            write_replace(rep_p, f"payload-{i}" * 100)
        except Exception as e:  # any failure is the bug under test
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(wins) == 1 and open(new_p).read() == f"owner-{wins[0]}"
    assert not errors
    body = open(rep_p).read()
    assert body in {f"payload-{i}" * 100 for i in range(16)}
    assert _no_tmp_left(tmp_path)


def test_commit_conflict_is_a_failed_write_new(tmp_path):
    """_commit's LakeConflict is write_new's FileExistsError: the loser
    leaves the winner's manifest byte-identical and no temp file."""
    from pyspec_spark.lake import _commit, _manifest_path

    root = str(tmp_path / "t")
    assert _commit(root, "append", [], None, None) == 1
    won = open(_manifest_path(root, 1)).read()
    with pytest.raises(LakeConflict):
        _commit(root, "append", [], None, None)
    assert open(_manifest_path(root, 1)).read() == won
    assert _no_tmp_left(os.path.dirname(_manifest_path(root, 1)))


def test_lake_tag_is_a_cas_unless_replace(tmp_path):
    from pyspec_spark.lake import _commit, lake_tag, resolve_tag

    root = str(tmp_path / "t")
    _commit(root, "append", [], None, None)
    _commit(root, "append", [], None, 1)
    assert lake_tag(root, "rel", version=1) == 1
    with pytest.raises(FileExistsError, match="v1"):
        lake_tag(root, "rel", version=2)
    assert resolve_tag(root, "rel") == 1
    lake_tag(root, "rel", version=2, replace=True)
    assert resolve_tag(root, "rel") == 2
    assert _no_tmp_left(os.path.join(root, "_tags"))


def test_save_centroids_is_write_once(tmp_path):
    from pyspec_spark.streaming.vectors import load_centroids, save_centroids

    root = str(tmp_path / "idx")
    cents = [(0, [0.0, 1.0]), (1, [2.0, 3.0])]
    save_centroids(root, cents)
    save_centroids(root, cents)  # same codebook: a restart, accepted
    with pytest.raises(ValueError, match="different codebook"):
        save_centroids(root, [(0, [0.0, 1.5]), (1, [2.0, 3.0])])
    assert load_centroids(root)[0] == [0, 1]
    assert _no_tmp_left(root)


def test_atomic_publish_lives_only_in_lake_primitives():
    """os.replace( / os.link( appear in the package only inside
    lake.write_new and lake.write_replace: every other module publishes
    through them, so a hand-rolled publish cannot come back."""
    import ast
    import re

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "pyspec_spark",
    )
    lake_py = os.path.join(pkg, "lake.py")
    tree = ast.parse(open(lake_py).read())
    allowed = {
        (lake_py, ln)
        for node in tree.body
        if isinstance(node, ast.FunctionDef)
        and node.name in ("write_new", "write_replace")
        for ln in range(node.lineno, node.end_lineno + 1)
    }
    hits = []
    for dirpath, _, names in os.walk(pkg):
        for name in names:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            for ln, line in enumerate(open(path), 1):
                if re.search(r"os\.(replace|link)\(", line):
                    hits.append((path, ln))
    assert len(hits) == 2
    assert set(hits) <= allowed, sorted(set(hits) - allowed)


def test_in_place_hive_rewrites_live_only_in_sinks():
    """Only sinks.py calls merge_upsert or sets partitionOverwriteMode:
    every other versioned write in the package is a lake commit, so an
    in-place directory rewrite cannot come back beside the lake."""
    import ast

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "pyspec_spark",
    )
    hits = []
    for dirpath, _, names in os.walk(pkg):
        for name in names:
            path = os.path.join(dirpath, name)
            if not name.endswith(".py") or path == os.path.join(pkg, "sinks.py"):
                continue
            for node in ast.walk(ast.parse(open(path).read())):
                if not isinstance(node, ast.Call):
                    continue
                callee = getattr(node.func, "id", None) or getattr(
                    node.func, "attr", None
                )
                # a conf.set / .config / writer .option keyed by the mode
                sets_mode = any(
                    isinstance(a, ast.Constant)
                    and isinstance(a.value, str)
                    and "partitionOverwriteMode" in a.value
                    for a in node.args
                )
                if callee == "merge_upsert" or sets_mode:
                    hits.append((os.path.relpath(path, pkg), node.lineno))
    assert not hits, hits


def test_column_mapping_lives_only_in_read_and_stage_helpers():
    """The column mapping is known in two places: ``_read_files`` is the
    only caller of ``_read_mapped`` and ``_stage`` the only caller of
    ``_stage_mapped_append``, so no lake op forks on it; the per-op
    readers and the latest-manifest schema check are gone."""
    import ast

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "pyspec_spark",
    )
    callers: dict[str, list[str]] = {}
    defined: set[str] = set()
    for dirpath, _, names in os.walk(pkg):
        for name in names:
            if not name.endswith(".py"):
                continue
            src = open(os.path.join(dirpath, name)).read()
            if not any(n in src for n in ("_read_", "_stage", "_check_schema")):
                continue
            for fn in ast.walk(ast.parse(src)):
                if not isinstance(fn, ast.FunctionDef):
                    continue
                defined.add(fn.name)
                for node in ast.walk(fn):
                    if isinstance(node, ast.Call) and isinstance(
                        node.func, (ast.Name, ast.Attribute)
                    ):
                        callee = getattr(node.func, "id", None) or node.func.attr
                        callers.setdefault(callee, []).append(fn.name)
    assert callers["_read_mapped"] == ["_read_files"]
    assert callers["_stage_mapped_append"] == ["_stage"]
    assert not {"_check_schema_evolution", "_read_entries"} & defined


def test_parquet_reads_live_only_in_one_helper():
    """Every parquet read in lake.py goes through ``_parquet``, the one
    place that turns the manifest's schema into the read schema, so no
    op can bring back a footer-inference read of its own."""
    import ast

    lake_py = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "pyspec_spark",
        "lake.py",
    )

    def chain(node):
        while isinstance(node, (ast.Attribute, ast.Call)):
            if isinstance(node, ast.Attribute):
                yield node.attr
                node = node.value
            else:
                node = node.func

    reads = {}
    for fn in ast.walk(ast.parse(open(lake_py).read())):
        if not isinstance(fn, ast.FunctionDef):
            continue
        for node in ast.walk(fn):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "parquet"
                and "write" not in chain(node.func.value)
            ):
                reads.setdefault(fn.name, []).append(node.lineno)
    assert set(reads) == {"_parquet"}, reads


def _file_blooms_per_value(path, cols):
    """The per-value Bloom build that ``_file_blooms`` vectorizes, kept
    verbatim as the reference its manifests must stay byte-identical to."""
    import base64

    import pyarrow.parquet as pq

    from pyspec_spark.lake import _BLOOM_MAX_BITS, _bloom_canon, _bloom_probes

    out = {}
    for c in cols:
        try:
            vals = set(pq.read_table(path, columns=[c]).column(c).to_pylist())
        except Exception:
            continue
        canon = [b for b in (_bloom_canon(v) for v in vals) if b is not None]
        if not canon:
            continue
        m = min(_BLOOM_MAX_BITS, max(64, 10 * len(canon)))
        bits = bytearray((m + 7) // 8)
        for b in canon:
            for idx in _bloom_probes(b, m):
                bits[idx >> 3] |= 1 << (idx & 7)
        out[c] = {"m": m, "b64": base64.b64encode(bytes(bits)).decode()}
    return out


def test_vectorized_blooms_equal_per_value_build(tmp_path):
    """Spark-free: the vectorized Bloom build gives the same dict as the
    per-value loop for ints, strings, dictionary strings, nulls, bools,
    floats, an all-null column and a column the file lacks."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspec_spark.lake import _bloom_may_contain, _file_blooms

    rng = random.Random(7)
    n = 3000
    ints = [rng.randrange(-(10**12), 10**12) if i % 17 else None for i in range(n)]
    strs = [f"doc-{rng.randrange(900)}-é" if i % 13 else None for i in range(n)]
    table = pa.table({
        "i": pa.array(ints, pa.int64()),
        "u8": pa.array([i % 200 for i in range(n)], pa.uint8()),
        "s": pa.array(strs, pa.string()),
        "d": pa.array(strs, pa.string()).dictionary_encode(),
        "b": pa.array([i % 3 == 0 for i in range(n)]),
        "f": pa.array([i / 7 for i in range(n)]),
        "z": pa.array([None] * n, pa.int32()),
    })
    path = str(tmp_path / "part.parquet")
    pq.write_table(table, path)
    cols = ["i", "u8", "s", "d", "b", "f", "z", "missing"]
    got = _file_blooms(path, cols)
    assert got == _file_blooms_per_value(path, cols)
    assert sorted(got) == ["d", "i", "s", "u8"]
    assert all(_bloom_may_contain(got["i"], v) for v in ints if v is not None)
    assert all(_bloom_may_contain(got["s"], v) for v in strs if v is not None)
