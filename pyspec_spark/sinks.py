"""Sinks — SURVEY.md §2.1 S6.

The reference's "sinks" are matplotlib plots and numpy dumps of grids /
fit tables (`pyspec/spec.py` SpecPlot, `pyspec/ccd/plotter.py` [M]); the
engine equivalent is columnar persistence of result tables.  Parquet,
partitioned by the natural query key, so downstream reads prune:

- grids partition by the outermost voxel axis (`gx`) — a cut query
  (`WHERE gx = k`, §2 A5) then touches one directory;
- fit tables partition by scan/group key;
- generic `write_result` keeps explicit control of layout + mode.

Scale notes: partition count = distinct values of the partition column —
keep it the coarse axis (hundreds of dirs), never a high-cardinality key
(millions of tiny files is the classic parquet-lake failure).  Writers
coalesce small outputs so local runs don't emit one file per shuffle
partition.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_result(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    coalesce: int | None = None,
) -> None:
    """Persist a result table as parquet with optional partitioning.
    Pass ``coalesce=1`` for small summary outputs so local runs don't
    emit one file per shuffle partition; leave None for large results
    (the write parallelism then follows the plan's partitioning)."""
    out = df.coalesce(coalesce) if coalesce else df
    w = out.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_grid(grid: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Persist a gridder output (gx, gy, gz, n, mean_i, stderr_i ...)
    partitioned by the outer axis for cut-query pruning."""
    grid.write.mode(mode).partitionBy("gx").parquet(path)


def read_grid(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_fits(fits: DataFrame, path: str, group_col: str, mode: str = "overwrite") -> None:
    """Persist a fit-record table partitioned by the grouping key."""
    fits.write.mode(mode).partitionBy(group_col).parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_keys: list[str],
    n_buckets: int,
    path: str | None = None,
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a table hash-bucketed (and optionally sorted) by its join
    key — the co-located-join layout for the 100 TB posture.

    Two tables bucketed by the same key with the same bucket count join
    bucket-to-bucket with NO shuffle exchange (and, when ``sort_by``
    matches the key, no sort either): the classic pattern for a fact
    table joined repeatedly on the same key (lineitem⨝orders on
    orderkey, frames⨝scan-metadata on scan_number — SURVEY.md §2 J2).
    A `groupBy` on the bucket key likewise skips its exchange.  Bucket
    count is fixed at write time — size it to the target cluster
    (e.g. 2-4x total cores), not the toy test value.

    Bucketing metadata lives in the session catalog (``saveAsTable``);
    pass ``path`` to keep the files in an external location.
    """
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_keys)
    if sort_by:
        w = w.sortBy(*sort_by)
    if path:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table_name)


def zorder_value(x, y, bits: int = 16):
    """Morton / Z-order interleave of two non-negative ints as a column
    expression (public technique: Morton 1966; the clustering key
    behind Delta/Iceberg Z-ORDER layouts).  Unrolled shift-mask terms —
    a plain codegen expression, no HOF lambdas, identical arithmetic in
    DuckDB for oracle replay.

    Why it matters at 100 TB: sorting a table by z(x, y) makes files
    CONTIGUOUS in both x and y simultaneously, so a 2-D range predicate
    touches few files (parquet min/max stats skip the rest) — where a
    sort by x alone clusters only x.  See write_zordered + the layout
    test."""
    from pyspark.sql import functions as F

    x = F.col(x) if isinstance(x, str) else x
    y = F.col(y) if isinstance(y, str) else y
    z = F.lit(0).cast("long")
    for b in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftrightunsigned(x.cast("long"), b).bitwiseAND(1), 2 * b)
            + F.shiftleft(
                F.shiftrightunsigned(y.cast("long"), b).bitwiseAND(1), 2 * b + 1
            )
        )
    return z


def write_zordered(
    df,
    path: str,
    x: str,
    y: str,
    bits: int = 16,
    n_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Persist z-order-clustered parquet: rows range-partitioned and
    sorted by the interleaved key, so each output file covers a compact
    z-range (tight min/max stats on `z` -> file skipping for 2-D range
    predicates expressed as z-ranges)."""
    out = (
        df.withColumn("z", zorder_value(x, y, bits))
        .repartitionByRange(n_files, "z")
        .sortWithinPartitions("z")
    )
    out.write.mode(mode).parquet(path)


@contextmanager
def _dynamic_overwrite(spark: SparkSession):
    """Scoped spark.sql.sources.partitionOverwriteMode=dynamic (saved
    and restored) — shared by merge_upsert and compact_small_files."""
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def merge_upsert(
    spark: SparkSession,
    target_dir: str,
    updates: DataFrame,
    key: str,
    partition_col: str,
) -> None:
    """Hive-style MERGE (upsert) into a partitioned parquet directory
    WITHOUT a table format: rows in `updates` replace target rows with
    the same `key`; new keys append — and ONLY the partitions that
    contain updated keys are rewritten.

    How the pruning works: the update set's distinct partition values
    select which target partitions participate (partition-pruned read);
    the merged result is written with
    ``spark.sql.sources.partitionOverwriteMode=dynamic``, which
    replaces exactly the partitions present in the written DataFrame
    and leaves every other partition's files untouched (verified by
    file-identity test).  At 100 TB this turns an upsert of k
    partitions from a full-table rewrite into O(k) partition rewrites —
    the plain-parquet equivalent of a table format's MERGE, minus
    row-level deletes.

    Caveats (documented, not hidden): no ACID — a crash mid-write can
    leave the overwritten partitions partially rewritten (a table
    format or a staging-dir swap adds atomicity); updates whose key
    MOVES to a different partition value upsert into the new partition
    but do not delete the old row (key+partition should be stable, the
    normal layout discipline)."""
    # Materialize updates ONCE: its lineage is consumed by three jobs
    # (partition collect, anti-join, final write).  Without the persist
    # a non-deterministic lineage (sample/limit/now()) could emit a row
    # at write time whose partition was NOT in the collected list —
    # dynamic overwrite would then replace that partition with only the
    # update rows, deleting its history.
    updates = updates.persist()
    try:
        parts = [
            r[0] for r in updates.select(partition_col).distinct().collect()
        ]
        if not parts:
            return
        target = spark.read.parquet(target_dir).where(
            F.col(partition_col).isin(parts)
        )
        kept = target.join(updates.select(key), key, "left_anti")
        merged = kept.unionByName(updates.select(*kept.columns))
        with _dynamic_overwrite(spark):
            (
                merged.repartition(partition_col)
                .write.mode("overwrite")
                .partitionBy(partition_col)
                .parquet(target_dir)
            )
    finally:
        updates.unpersist()


def merge_delete(
    spark: SparkSession,
    target_dir: str,
    delete_keys: DataFrame,
    key: str,
    partition_col: str,
) -> int:
    """Row-level DELETE from a partitioned parquet directory — the
    right-to-be-forgotten pass merge_upsert does not cover.  Rows whose
    ``key`` appears in ``delete_keys`` are removed; only partitions
    actually containing such keys are rewritten.  Returns the number of
    partitions rewritten or removed.

    Partition discovery: if ``delete_keys`` carries ``partition_col``,
    those values prune directly (zero extra scans — the caller knew the
    layout).  Otherwise one column-pruned scan of (key, partition) over
    the target locates affected partitions — unavoidable without a
    key→partition index, and still reads two columns, not the table.

    A partition whose every row is deleted needs special handling:
    dynamic partition overwrite only replaces partitions PRESENT in the
    written DataFrame, so an emptied partition would silently keep its
    old files.  Those directories are removed explicitly (local-FS
    guard, same policy as compact_small_files).  Same no-ACID caveat as
    merge_upsert."""
    import shutil as _shutil

    # Fail-fast BEFORE any mutation (same up-front policy as
    # compact_small_files): a guard at the emptied-partition step would
    # fire after partitions had already been rewritten — a half-applied
    # delete on object storage.
    if "://" in target_dir and not target_dir.startswith("file://"):
        raise ValueError(
            f"merge_delete is local-filesystem only, got {target_dir} — "
            "on object storage use a table format's DELETE"
        )
    delete_keys = delete_keys.persist()
    try:
        if partition_col in delete_keys.columns:
            parts = [
                r[0]
                for r in delete_keys.select(partition_col).distinct().collect()
            ]
        else:
            parts = [
                r[0]
                for r in spark.read.parquet(target_dir)
                .select(key, partition_col)
                .join(delete_keys.select(key), key, "left_semi")
                .select(partition_col)
                .distinct()
                .collect()
            ]
        if not parts:
            return 0
        target = spark.read.parquet(target_dir).where(
            F.col(partition_col).isin(parts)
        )
        kept = target.join(
            delete_keys.select(key), key, "left_anti"
        ).persist()
        try:
            kept_parts = {
                r[0] for r in kept.select(partition_col).distinct().collect()
            }
            with _dynamic_overwrite(spark):
                (
                    kept.repartition(partition_col)
                    .write.mode("overwrite")
                    .partitionBy(partition_col)
                    .parquet(target_dir)
                )
        finally:
            kept.unpersist()
        emptied = [p for p in parts if p not in kept_parts]
        if emptied:
            for p in emptied:
                d = os.path.join(
                    target_dir.removeprefix("file://"),
                    f"{partition_col}={p}",
                )
                if os.path.isdir(d):
                    _shutil.rmtree(d)
        return len(parts)
    finally:
        delete_keys.unpersist()


def compact_small_files(
    spark: SparkSession,
    target_dir: str,
    partition_col: str | None = None,
    files_per_partition: int = 1,
) -> int:
    """Small-file compaction — the maintenance pass every long-running
    parquet lake needs (each streaming micro-batch / incremental merge
    leaves small files; scan cost grows with file COUNT, not bytes).
    Rewrites the directory so each partition holds AT MOST
    `files_per_partition` files (a hash-salt spreads each partition's
    rows over that many write tasks; hash collisions can merge some).
    Returns the file count before compaction.

    LOCAL-FILESYSTEM ONLY (explicitly guarded): the file census and the
    unpartitioned staging swap use local-FS primitives.  A lake on
    object storage wants a table format's rewrite action instead; this
    operator exists for the local/NFS layouts the rest of sinks.py
    writes.  Same dynamic-overwrite caveats as merge_upsert."""
    import glob as _glob
    import os as _os

    if "://" in target_dir and not target_dir.startswith("file://"):
        raise ValueError(
            f"compact_small_files is local-filesystem only, got {target_dir}"
        )
    before = len(
        _glob.glob(
            _os.path.join(target_dir, "**", "*.parquet"), recursive=True
        )
    )
    df = spark.read.parquet(target_dir)
    if partition_col is None:
        df.coalesce(files_per_partition).write.mode("overwrite").parquet(
            target_dir + "__compact"
        )
        # swap order keeps a complete copy on disk at every instant:
        # a crash leaves either <dir>.old or <dir>__compact recoverable
        import shutil as _shutil

        _os.rename(target_dir, target_dir + ".old")
        _os.rename(target_dir + "__compact", target_dir)
        _shutil.rmtree(target_dir + ".old")
    else:
        n_parts = df.select(partition_col).distinct().count()
        salt = F.pmod(
            F.hash(*[F.col(c) for c in df.columns]), F.lit(files_per_partition)
        )
        with _dynamic_overwrite(spark):
            (
                df.withColumn("_salt", salt)
                .repartition(
                    max(n_parts * files_per_partition, 1),
                    F.col(partition_col),
                    F.col("_salt"),
                )
                .drop("_salt")
                .write.mode("overwrite")
                .partitionBy(partition_col)
                .parquet(target_dir)
            )
    return before
