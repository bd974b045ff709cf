"""Snapshot lake — manifest-versioned parquet tables (time travel,
ACID-ish commits, file-level partition pruning).

Every versioned write in the engine — appends, upserts, deletes,
compaction, layout changes, streaming sinks such as
``streaming/corpus.curate_to_lake`` — is a commit here.  An in-place
rewrite of a parquet directory (dynamic partition overwrite) mutates
what readers are reading, so a crash mid-write can leave half-rewritten
partitions and there is no way to read yesterday's table; the engine's
one such rewrite is ``sinks.merge_upsert``, for callers that want a
plain hive directory.  This module is the table-format recipe (the public
Iceberg/Delta core idea, re-expressed minimally):

- **Data files are immutable.**  Every commit writes NEW parquet files
  under ``<root>/data/c{version}-{uuid}/`` and never touches existing
  ones.
- **A manifest is the table.**  ``<root>/_manifests/v{N}.json`` lists
  the live files (relative paths) plus each file's partition value.
  Readers resolve a manifest — the default is the latest — so reads
  are snapshot-isolated for free and ``version=N`` is time travel.
- **Commit = one atomic link.**  The manifest is written to a temp
  name and published with ``os.link`` (fails with EEXIST if another
  writer took the version) — optimistic concurrency on any POSIX
  filesystem.  A crash before the link leaves only orphan data files,
  which ``lake_vacuum`` reclaims; the table is never half-visible.
- **Partition pruning moves to the manifest.**  Files record their
  partition value (the write duplicates the partition column into a
  ``_pc`` hive directory, so the ORIGINAL column stays in the data and
  no path inference is needed on read).  Upsert/delete rewrite only
  the files whose partition is affected — the merge_upsert O(k)
  property, now with old versions intact.
- **One reader, one stager.**  ``_read_files`` is the only way
  manifest entries become a DataFrame, and ``_stage`` is the only way a
  write op stages its new files and the schema fields it commits.  They
  are the only places that know the column mapping (rename/retype
  eras) and the add-column merge, so every op reads and writes a
  mapped or mixed-schema table the same way.  Each op reads its parent
  manifest once and passes it to both.

At 100 TB this is exactly the metadata/data split that makes object-
store lakes workable: planning reads one small JSON (file listing +
partition values — no directory walks), and a read plan takes its
schema from that manifest (``_parquet``), so building it opens no
data file and, up to Spark's parallel-listing threshold of files,
starts no Spark job.  Data files are written once
and cached aggressively, and maintenance (vacuum) is a pure metadata
diff.  The local-FS ``os.link`` commit generalizes to any store with
a conditional-put primitive.

**The one publish protocol.**  Every file the engine publishes for a
concurrent reader — lake manifests and tags, the index CURRENT
pointers and their HISTORY, the term-index maintenance markers and
transaction locks, the RAG and training-mix markers, the frozen
vector codebooks — goes through the two primitives below, and no
other module calls ``os.link`` or ``os.replace``:

- ``write_new(path, text)``: write a ``.tmp-<uuid>`` file beside the
  target, ``os.link`` it into place, unlink the temp.  Raises
  ``FileExistsError`` if the target exists (compare-and-swap: one
  winner per name, the loser's bytes never land).
- ``write_replace(path, text)``: the same temp file, then
  ``os.replace`` (last writer wins; a reader sees the old bytes or
  the new, never a partial file).

The dot-prefixed temp name keeps it out of every ``*.json`` / ``v*``
glob and of Spark's file listing, and the uuid keeps two concurrent
writers off one temp.  The CURRENT-pointer lifecycle shared by the
vector and term indexes (``publish_root`` / ``current_root`` /
``root_history`` / ``vacuum_roots``) is built on the same primitives.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import urllib.parse
import uuid
from collections.abc import Callable
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"
_PC = "_pc"  # hive layout column (duplicate of the partition column)
_CC = "_cc"  # hive layout column (duplicate of the cluster column)


class LakeConflict(RuntimeError):
    """Another writer committed this version first — retry on latest."""


# "base_version not supplied" sentinel for the writers below — distinct
# from an explicit None, which means "I read an EMPTY table at
# transaction start" (so the commit must be version 1, and any
# interleaved first commit trips LakeConflict instead of silently
# serializing on top of data the caller never saw).
_UNSET = object()


def _write_tmp(path: str, text: str) -> str:
    tmp = os.path.join(os.path.dirname(path), f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        f.write(text)
    return tmp


def write_new(path: str, text: str) -> None:
    """Publish ``text`` at ``path`` only if nothing is there yet (the
    CAS of the module docstring).  Raises FileExistsError, leaving the
    existing file untouched, when another writer got there first."""
    tmp = _write_tmp(path, text)
    try:
        os.link(tmp, path)
    finally:
        os.unlink(tmp)


def write_replace(path: str, text: str) -> None:
    """Atomically publish ``text`` at ``path``, replacing any previous
    file: a concurrent reader sees the old bytes or the new ones."""
    tmp = _write_tmp(path, text)
    try:
        os.replace(tmp, path)
    except BaseException:
        os.unlink(tmp)
        raise


# ---------------------------------------------------------------------------
# CURRENT-pointer lifecycle over built roots (the vector and term
# indexes).  A builder writes a NEW root by contract; ``publish_root``
# points base/CURRENT at it with one write_replace, so a concurrent
# reader resolves either the old root or the new one, never a partial
# pointer.  HISTORY is appended AFTER the swap, so CURRENT stays
# authoritative if the append is lost to a crash.  Readers that
# re-resolve CURRENT per query are never affected by vacuum; a reader
# pinned to a reclaimed root fails LOUDLY on its next scan (missing
# files), never silently.  ``is_root`` is the caller's root-shape
# check (a codebook file, a term-index bucket layout).
# ---------------------------------------------------------------------------
_POINTER_FILE = "CURRENT"
_HISTORY_FILE = "HISTORY"


def publish_root(
    base: str, root: str, is_root: Callable[[str], bool], kind: str
) -> None:
    """Atomically point base/CURRENT at a built ``root`` and record it
    in base/HISTORY.  Refuses a path ``is_root`` rejects: publishing a
    half-built or mistyped root would break every re-resolving reader
    at once."""
    if not is_root(root):
        raise ValueError(f"{root} is not a {kind} root")
    os.makedirs(base, exist_ok=True)
    write_replace(os.path.join(base, _POINTER_FILE), os.path.abspath(root))
    with open(os.path.join(base, _HISTORY_FILE), "a") as f:
        f.write(os.path.abspath(root) + "\n")


def current_root(base: str) -> str:
    """Resolve the published root (re-resolve per query — the vacuum
    retention contract)."""
    with open(os.path.join(base, _POINTER_FILE)) as f:
        return f.read().strip()


def root_history(base: str) -> list[str]:
    """Ordered distinct publish history (oldest first; re-publishing an
    old root moves it to newest)."""
    path = os.path.join(base, _HISTORY_FILE)
    if not os.path.exists(path):
        return []
    with open(path) as f:
        raw = [ln.strip() for ln in f if ln.strip()]
    out: list[str] = []
    for r in raw:
        if r in out:
            out.remove(r)
        out.append(r)
    return out


def vacuum_roots(
    base: str,
    is_root: Callable[[str], bool],
    keep: int = 1,
    retention_seconds: float = 3600.0,
) -> list[str]:
    """Root GC under ``base``.  Deletes:

    - **superseded roots**: HISTORY entries older than the newest
      ``keep`` — committed history, reclaimed regardless of age (the
      lake_vacuum expired-manifest rule).  The CURRENT root is never
      deleted, whatever ``keep`` says.
    - **orphan roots**: directories under ``base/`` that ``is_root``
      accepts but were never published — only when older than
      ``retention_seconds``: a root a CONCURRENT rebuild is still
      writing looks identical to an abort-orphan, and deleting it
      would break the builder's upcoming publish.

    Readers must re-resolve CURRENT at least every
    ``retention_seconds``.  Rewrites HISTORY to the kept entries and
    returns the deleted root paths."""
    import time

    try:
        current = os.path.abspath(current_root(base))
    except FileNotFoundError:
        current = None
    hist = root_history(base)
    keep_roots = set(hist[-max(keep, 1):])
    if current:
        keep_roots.add(current)
    removed: list[str] = []
    for r in hist:
        if r not in keep_roots and os.path.isdir(r):
            shutil.rmtree(r, ignore_errors=True)
            removed.append(r)
    now = time.time()
    known = set(hist) | keep_roots
    for name in sorted(os.listdir(base)):
        p = os.path.abspath(os.path.join(base, name))
        if not os.path.isdir(p) or p in known or not is_root(p):
            continue
        try:
            if now - os.path.getmtime(p) < retention_seconds:
                continue  # possibly an in-flight rebuild
        except OSError:
            continue
        shutil.rmtree(p, ignore_errors=True)
        removed.append(p)
    kept = [r for r in hist if r in keep_roots]
    write_replace(
        os.path.join(base, _HISTORY_FILE), "".join(r + "\n" for r in kept)
    )
    return removed


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(root, _MANIFEST_DIR, f"v{version:08d}.json")


def _versions(root: str) -> list[int]:
    pat = os.path.join(root, _MANIFEST_DIR, "v*.json")
    return sorted(int(os.path.basename(p)[1:-5]) for p in glob.glob(pat))


def latest_version(root: str) -> int | None:
    vs = _versions(root)
    return vs[-1] if vs else None


def _load_manifest(root: str, version: int) -> dict:
    with open(_manifest_path(root, version)) as f:
        return json.load(f)


def _parent(root: str, base_version=_UNSET) -> tuple[int | None, dict]:
    """(parent version, parent manifest) of a write op: the pinned
    ``base_version`` or else the latest.  An empty table is
    ``(None, {"files": []})``, so callers need no empty-table branch."""
    prev = latest_version(root) if base_version is _UNSET else base_version
    return prev, _load_manifest(root, prev) if prev is not None else {"files": []}


def lake_history(root: str) -> list[dict]:
    """All manifests oldest-first (version, op, ts, n_files)."""
    out = []
    for v in _versions(root):
        m = _load_manifest(root, v)
        out.append(
            {
                "version": m["version"],
                "op": m["op"],
                "ts": m["ts"],
                "n_files": len(m["files"]),
            }
        )
    return out


def _commit(
    root: str,
    op: str,
    files: list[dict],
    partition_col,
    parent: int | None,
    stream_commit: tuple[str, int] | None = None,
    schema: dict | None = None,
    retains_parent: bool = True,
    columns=_UNSET,
    schemas=_UNSET,
    cluster_col=_UNSET,
    schema_mixed=_UNSET,
) -> int:
    """Publish the manifest for version parent+1.  ``parent`` is the
    version the caller READ ITS BASE STATE from (captured at
    transaction start) — committing exactly parent+1 makes the link an
    optimistic-concurrency check: if another writer published that
    version since, the link fails with LakeConflict instead of
    silently serializing a merge computed against a stale base (a lost
    update).  The loser's staged data files become orphans, which
    lake_vacuum reclaims.

    The parent manifest is read once, here, for everything the commit
    carries forward.  There is no manifest cache: a published version
    is immutable, but a root can be deleted and rebuilt in one process,
    and the parent reads an op makes (its own plus this one) cost about
    a millisecond of ops that take hundreds."""
    os.makedirs(os.path.join(root, _MANIFEST_DIR), exist_ok=True)
    version = 1 if parent is None else parent + 1
    pm = _load_manifest(root, parent) if parent is not None else {}
    # stream_commits carries forward through EVERY commit (append,
    # upsert, compact, ...) so the exactly-once batch watermark of a
    # streaming writer survives interleaved maintenance commits
    carried = dict(pm.get("stream_commits", {}))
    if stream_commit is not None:
        qname, batch_id = stream_commit
        carried[qname] = batch_id
    # schema_mixed: do the LIVE files span more than one writer schema?
    # True only while parent files carry over across an add-column
    # evolution; a full rewrite (overwrite/compact) resets it.  Reads
    # take the recorded schema either way; the flag gates mergeSchema
    # only on _parquet's footer fallback, and _ensure_mapping (and
    # older readers of the same root) still rely on it.
    mixed = False if schema_mixed is _UNSET else bool(schema_mixed)
    if schema_mixed is _UNSET and retains_parent and parent is not None:
        mixed = bool(pm.get("schema_mixed")) or (
            schema is not None
            and pm.get("schema") is not None
            and pm["schema"] != schema
        )
        # the column-id mapping (rename/retype) rides every commit
        # that carries parent files forward — a writer unaware of the
        # mapping must not silently revert logical names.  Full-rewrite
        # commits (retains_parent=False) stage from the MAPPED logical
        # view, so dropping the mapping there is the materialization,
        # not a loss.
        if columns is _UNSET:
            columns = pm.get("columns")
        if schemas is _UNSET:
            schemas = pm.get("schemas")
    # the cluster col is a LAYOUT property like partition_col:
    # inherit from the parent unless the caller explicitly changes it,
    # so row-level ops and plain appends preserve the clustered layout
    # without every call site repeating it
    if cluster_col is _UNSET:
        cluster_col = pm.get("cluster_col")
    if columns is _UNSET:
        columns = None
    if schemas is _UNSET:
        schemas = None
    manifest = {
        "version": version,
        "parent": parent,
        "op": op,
        "ts": datetime.now(timezone.utc).isoformat(),
        "partition_col": partition_col,
        "cluster_col": cluster_col,
        "stream_commits": carried,
        "schema": schema,
        "schema_mixed": mixed,
        "files": files,
    }
    if columns:
        manifest["columns"] = columns
        manifest["schemas"] = schemas or {}
    try:
        write_new(_manifest_path(root, version), json.dumps(manifest))
    except FileExistsError:
        raise LakeConflict(
            f"version {version} already committed under {root}"
        ) from None
    return version


def _stage_files(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    partition_col: str | None,
    bloom_cols: list[str] | None = None,
    cluster_col: str | None = None,
) -> list[dict]:
    """Write df as immutable files under a fresh commit dir; return the
    manifest file entries (relative path + partition value string).

    ``cluster_col`` is the SECOND at-rest key: the write splits
    each partition's files one-per-cluster-value (a second hive level
    the manifest does NOT treat as the partition), so every data file
    holds exactly one cluster value and its footer [min, max] on that
    column is a point — lake_scan's stats pruning on the cluster
    column becomes EXACT file skipping, the "second partition key"
    a filtered index probe wants.  Only sensible for bounded-
    cardinality columns (labels, languages, shard classes): file count
    is |partitions| x |cluster values|."""
    stage_rel = os.path.join(_DATA_DIR, f"c-{uuid.uuid4().hex[:12]}")
    stage = os.path.join(root, stage_rel)
    dirs, parts = [], []
    if partition_col is not None:
        # duplicate the partition column into the hive dir so the
        # original column SURVIVES in the data files (reads never need
        # path inference; the dir exists purely to split files cleanly
        # per partition value for manifest-level pruning)
        df = df.withColumn(_PC, F.col(partition_col).cast("string"))
        dirs.append(_PC)
        parts.append(F.col(_PC))
    if cluster_col is not None:
        df = df.withColumn(_CC, F.col(cluster_col).cast("string"))
        dirs.append(_CC)
        parts.append(F.col(_CC))
    if dirs:
        df.repartition(*parts).write.partitionBy(*dirs).parquet(stage)
    else:
        df.write.parquet(stage)
    entries = []
    for p in sorted(
        glob.glob(os.path.join(stage, "**", "*.parquet"), recursive=True)
    ):
        rel = os.path.relpath(p, root)
        part = None
        for seg in rel.split(os.sep):
            if seg.startswith(_PC + "="):
                # Spark hive-escapes path-hostile chars as %XX in the
                # dir segment (':' in every timestamp, '/', '%', ...).
                # The manifest must record the RAW cast('string') value
                # or _spark_part_strings' touched-file matching silently
                # misses these files (delete no-ops, upsert duplicates).
                # '%' itself is escaped, so unquote is an exact inverse.
                part = urllib.parse.unquote(seg[len(_PC) + 1 :])
                if part == "__HIVE_DEFAULT_PARTITION__":
                    # null partition value: record as None so row-level
                    # ops always treat the file as touched (a null key
                    # can never appear in a parts set)
                    part = None
        entry = {"path": rel, "partition": part, "stats": _footer_stats(p)}
        if bloom_cols:
            bl = _file_blooms(p, bloom_cols)
            if bl:
                entry["bloom"] = bl
        entries.append(entry)
    return entries


def _stage(
    spark: SparkSession,
    root: str,
    m: dict,
    df: DataFrame,
    partition_col: str | None,
    bloom_cols: list[str] | None,
    cluster_col: str | None,
) -> tuple[list[dict], dict]:
    """Stage ``df`` as a commit on top of manifest ``m``: returns the new
    file entries and the schema fields for ``_commit`` (``schema``, plus
    ``columns`` and ``schemas`` on a column-mapped table, whose files
    stage under physical names in the current era)."""
    if m.get("columns"):
        entries, columns, schemas = _stage_mapped_append(
            spark, root, m, df, partition_col, bloom_cols, cluster_col
        )
        schema = {c["name"]: c["type"] for c in columns}
        return entries, {"schema": schema, "columns": columns, "schemas": schemas}
    entries = _stage_files(
        spark, root, df, partition_col, bloom_cols=bloom_cols,
        cluster_col=cluster_col,
    )
    return entries, {"schema": _schema_fields(df)}


# Stats columns are harvested from the parquet FOOTER the file itself
# already carries (pyarrow metadata read — local, no Spark job, no
# second data pass), so data skipping costs nothing at write time.
def _footer_stats(path: str) -> dict:
    """Per-column [min, max] from the parquet row-group footers —
    JSON-serializable scalars only; columns without usable stats are
    simply absent (skipping then never prunes on them)."""
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
    except Exception:
        return {}
    mins: dict = {}
    maxs: dict = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            st = col.statistics
            name = col.path_in_schema
            if (
                st is None
                or not st.has_min_max
                or "." in name  # nested leaves: skip
            ):
                continue
            lo, hi = st.min, st.max
            if isinstance(lo, bytes) or isinstance(hi, bytes):
                continue
            if hasattr(lo, "isoformat"):
                lo, hi = lo.isoformat(), hi.isoformat()
            if not isinstance(lo, (int, float, str)):
                continue
            mins[name] = lo if name not in mins else min(mins[name], lo)
            maxs[name] = hi if name not in maxs else max(maxs[name], hi)
    return {c: [mins[c], maxs[c]] for c in mins}


# Per-file Bloom filters: the point-lookup complement of [min, max].
# Footer ranges prune range predicates, but a hash-distributed key
# (doc_id written in arrival order, uuids, content hashes) spans the
# whole domain in EVERY file, so min/max keeps 100% of files for
# `key = X`.  A small per-file Bloom over the exact values answers
# "definitely not here" for equality predicates — the same design as
# Parquet's optional column-level bloom and Delta/Iceberg file skipping.
# Skipping is engine-internal: a false positive only costs an extra
# file read; correctness always comes from the residual filter.
_BLOOM_K = 7  # hash probes; with m = 10 bits/value, FP ~ 1%
_BLOOM_MAX_BITS = 1 << 20  # 128 KiB cap per (file, column) in manifest


def _bloom_canon(v) -> bytes | None:
    """Canonical bytes for a bloom value — int/str only (floats drift
    across repr paths; other types are refused so they never prune)."""
    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, int):
        return b"i" + str(v).encode()
    if isinstance(v, str):
        return b"s" + v.encode()
    return None


def _bloom_probes(data: bytes, m: int) -> list[int]:
    import hashlib

    d = hashlib.md5(data).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:], "little") | 1
    return [(h1 + i * h2) % m for i in range(_BLOOM_K)]


def _file_blooms(path: str, cols: list[str]) -> dict:
    """Build {col: {"m": bits, "b64": ...}} from a parquet file's actual
    values (one columnar read per requested column — a write-time cost
    the caller opted into, unlike the free footer stats).

    Vectorized form of ``_bloom_probes`` over the distinct values:
    ``(h1 % m + i * (h2 % m)) % m`` equals ``(h1 + i * h2) % m``, so the
    bits are identical to probing each value in turn."""
    import base64
    import hashlib

    try:
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
    except Exception:
        return {}
    out: dict = {}
    for c in cols:
        # one columnar read PER COLUMN, each under its own guard: a
        # column absent from this file (schema evolution, caller typo)
        # must not kill the blooms of the columns that DO exist —
        # pq.read_table raises on any missing name in the batch form
        try:
            col = pq.read_table(path, columns=[c]).column(c)
        except Exception:
            continue
        if pa.types.is_dictionary(col.type):
            col = col.cast(col.type.value_type)
        t = col.type
        if pa.types.is_integer(t):
            tag = b"i"
        elif pa.types.is_string(t) or pa.types.is_large_string(t):
            tag = b"s"
        else:
            continue  # _bloom_canon refuses every other type
        vals = pc.unique(col).drop_null().cast(pa.string()).to_pylist()
        if not vals:
            continue
        m = min(_BLOOM_MAX_BITS, max(64, 10 * len(vals)))
        d = np.frombuffer(
            b"".join(hashlib.md5(tag + v.encode()).digest() for v in vals), "<u8"
        ).reshape(-1, 2)
        h1, h2 = d[:, 0] % m, (d[:, 1] | 1) % m
        idx = (h1[:, None] + np.arange(_BLOOM_K, dtype=np.uint64) * h2[:, None]) % m
        bits = np.zeros(m, bool)
        bits[idx.ravel()] = True
        packed = np.packbits(bits, bitorder="little").tobytes()
        out[c] = {"m": m, "b64": base64.b64encode(packed).decode()}
    return out


def _bloom_may_contain(bloom: dict, value) -> bool:
    import base64

    data = _bloom_canon(value)
    if data is None:
        return True  # unprunable type -> never prune
    bits = base64.b64decode(bloom["b64"])
    return all(
        bits[idx >> 3] & (1 << (idx & 7))
        for idx in _bloom_probes(data, bloom["m"])
    )


def lake_append(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    partition_col: str | None = None,
    bloom_cols: list[str] | None = None,
    stream_commit: tuple[str, int] | None = None,
    base_version=_UNSET,
    cluster_col: str | None = None,
) -> int:
    """Append df as a new snapshot (previous files + new files).
    Add-column schema evolution allowed; drops/retypes refused.
    ``bloom_cols`` opts the new files into per-file Bloom filters for
    equality skipping (int/string columns).  ``stream_commit`` records
    a (query_name, batch_id) exactly-once watermark atomically with
    the data (callers must check lake_last_batch themselves — this is
    the low-level write; lake_append_stream is the checked wrapper).
    ``base_version`` (optional) pins the transaction's base: pass the
    version you captured at transaction start (None = table was empty)
    and the commit links parent=base, so an interleaved commit raises
    LakeConflict instead of silently serializing on a base you never
    read.  ``cluster_col`` opts the new files into the second
    at-rest key (one file per (partition, cluster) value — see
    _stage_files); once set it is a TABLE layout property: later
    appends and row-level rewrites preserve it without repeating it."""
    prev, m = _parent(root, base_version)
    _check_schema_fields(m.get("schema"), df)
    cl = cluster_col if cluster_col is not None else m.get("cluster_col")
    new, fields = _stage(spark, root, m, df, partition_col, bloom_cols, cl)
    return _commit(
        root, "append", m["files"] + new, partition_col, prev,
        stream_commit=stream_commit, cluster_col=cl, **fields,
    )


def lake_overwrite(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    partition_col: str | None = None,
    bloom_cols: list[str] | None = None,
    cluster_col: str | None = None,
) -> int:
    """Replace the table contents (old files stay readable via time
    travel until vacuumed).  The layout is the caller's to define —
    ``cluster_col`` is NOT inherited (an overwrite without it ends a
    clustered layout)."""
    prev = latest_version(root)
    new = _stage_files(
        spark, root, df, partition_col, bloom_cols=bloom_cols,
        cluster_col=cluster_col,
    )
    return _commit(
        root, "overwrite", new, partition_col, prev,
        schema=_schema_fields(df), retains_parent=False,
        cluster_col=cluster_col,
    )


def lake_read(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    tag: str | None = None,
) -> DataFrame:
    """Read a snapshot (default: latest).  Plans from the manifest's
    explicit file list — no directory walk, no partition inference.
    ``tag`` resolves a named ref (lake_tag) — mutually exclusive with
    ``version``."""
    if tag is not None:
        if version is not None:
            raise ValueError("pass version OR tag, not both")
        version = resolve_tag(root, tag)
    v = latest_version(root) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no committed version under {root}")
    m = _load_manifest(root, v)
    paths = [os.path.join(root, e["path"]) for e in m["files"]]
    missing = [p for p in paths if not os.path.exists(p)]
    if missing:
        raise FileNotFoundError(
            f"version {v} references vacuumed files, e.g. {missing[0]}"
        )
    return _read_files(spark, root, m, m["files"])


def _read_files(
    spark: SparkSession, root: str, m: dict, entries: list[dict]
) -> DataFrame:
    """The one way entries of manifest ``m`` become a DataFrame, with
    ``m``'s logical schema whichever of its files they are.  A mapped
    table reads through its column mapping (``_read_mapped``).
    Otherwise this is a ``_parquet`` read of the listed files with the
    recorded schema, so a recorded column that none of the entries
    holds reads as a typed NULL, the rule ``_read_mapped`` applies to
    eras."""
    if not entries:
        raise ValueError(f"version {m['version']} of {root} is empty")
    if m.get("columns"):
        return _read_mapped(spark, root, m, entries)
    paths = [os.path.join(root, e["path"]) for e in entries]
    return _parquet(
        spark, paths, m.get("schema"), merge=bool(m.get("schema_mixed"))
    )


# Type atoms whose ``simpleString`` is also their exact DDL, inside any
# array<>/map<> nesting; decimal(p,s) is folded to "decimal" first.
_DDL_ATOMS = frozenset({
    "boolean", "tinyint", "smallint", "int", "bigint", "float", "double",
    "decimal", "string", "binary", "date", "timestamp", "timestamp_ntz",
})
_DECIMAL = re.compile(r"decimal\(\d+,\d+\)")
_TYPE_SPLIT = re.compile(r"array<|map<|[<>,]")


def _ddl(fields: dict | None) -> str | None:
    """``fields`` ({name: simpleString}) as a read schema, or None when
    a type string cannot say its type exactly."""
    if not fields:
        return None
    for t in fields.values():
        atoms = _TYPE_SPLIT.split(_DECIMAL.sub("decimal", t))
        if not all(a in _DDL_ATOMS for a in atoms if a):
            return None
    return ", ".join(
        "`{}` {}".format(n.replace("`", "``"), t) for n, t in fields.items()
    )


def _parquet(
    spark: SparkSession, paths: list[str], fields: dict | None,
    merge: bool = False,
) -> DataFrame:
    """The one parquet read of data files, with the schema the manifest
    recorded for them (``fields``, {name: type}): building the read
    infers nothing from the files, the columns come in recorded order,
    and a recorded column a file lacks (an add-column evolution) reads
    as NULL.  It starts no Spark job unless ``paths`` outnumber
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32 by
    default), above which Spark lists them with one.

    It falls back to inferring the schema from the file footers, with
    ``merge`` (the manifest is ``schema_mixed``) merging every footer
    and projecting to ``fields``, when the record cannot be rendered as
    an exact read schema:

    - no recorded schema (a manifest older than schema tracking);
    - a ``struct<`` type: ``simpleString`` leaves nested field names
      unquoted, so a name with a space, comma or colon misparses;
    - a user-defined type: Python UDTs render as ``"udt"`` (ML vectors
      as ``"vector"``), which names no storage type;
    - ``char(n)`` / ``varchar(n)``: Spark refuses them in a read schema
      (``UNSUPPORTED_CHAR_OR_VARCHAR_AS_STRING``), while the footer
      read keeps them;
    - any other type not built from ``_DDL_ATOMS`` (intervals, variant,
      collated strings), which no test pins to a rendering."""
    ddl = _ddl(fields)
    if ddl is not None:
        return spark.read.schema(ddl).parquet(*paths)
    if not merge:
        return spark.read.parquet(*paths)
    df = spark.read.option("mergeSchema", "true").parquet(*paths)
    have, fields = df.columns, fields or {}
    return df.select(
        *[
            F.col(c) if c in have else F.lit(None).cast(t).alias(c)
            for c, t in fields.items()
        ],
        *[c for c in have if c not in fields],
    )


def _spark_part_strings(df: DataFrame, partition_col: str) -> set[str]:
    """Distinct partition values rendered by the SAME cast('string')
    Spark applies when writing the _pc hive directory — Python str() of
    a collected value disagrees for booleans ('True' vs 'true'),
    timestamps and decimals, which would silently skip affected files."""
    return {
        r[0]
        for r in df.select(F.col(partition_col).cast("string"))
        .distinct()
        .collect()
        if r[0] is not None
    }


def _split_touched(
    old: list[dict], parts: set[str], manifest: dict, partition_col: str
) -> tuple[list[dict], list[dict]]:
    """(touched, kept) file entries for a row-level rewrite.  Entries
    with partition=None (written by lake_compact_zorder or an
    unpartitioned append) can hold ANY key, so they are always touched
    — otherwise an upsert would append duplicates next to them and a
    delete would silently no-op.  A partition_col mismatch with the
    manifest means the caller's pruning axis doesn't exist in the
    layout: refuse rather than guess."""
    prior = manifest.get("partition_col")
    if prior is not None and prior != partition_col:
        raise ValueError(
            f"partition_col {partition_col!r} does not match the "
            f"table layout {prior!r} (version {manifest['version']})"
        )
    touched = [
        e for e in old if e["partition"] is None or e["partition"] in parts
    ]
    kept = [
        e
        for e in old
        if e["partition"] is not None and e["partition"] not in parts
    ]
    return touched, kept


def lake_upsert(
    spark: SparkSession,
    root: str,
    updates: DataFrame,
    key: str,
    partition_col: str,
    bloom_cols: list[str] | None = None,
    stream_commit: tuple[str, int] | None = None,
    base_version=_UNSET,
) -> int:
    """MERGE (upsert) as a snapshot commit: rows in `updates` replace
    same-key rows; new keys append.  Only files whose partition value
    appears in `updates` are rewritten (files without a recorded
    partition — e.g. after z-order compaction — are always rewritten) —
    every other file is carried into the new manifest BY REFERENCE
    (zero data movement), and the previous version remains readable.
    Schema evolution follows the add-column-only commit contract.
    ``base_version`` pins the transaction base (see lake_append): an
    interleaved commit then raises LakeConflict at publish time rather
    than silently merging against state the caller never read."""
    prev, m = _parent(root, base_version)
    _check_schema_fields(m.get("schema"), updates)
    updates = updates.persist()
    try:
        parts = _spark_part_strings(updates, partition_col)
        touched, kept = _split_touched(m["files"], parts, m, partition_col)
        merged = updates
        if touched:
            survivors = _read_files(spark, root, m, touched).join(
                updates.select(key), key, "left_anti"
            )
            # missing-on-either-side columns fill with NULL: updates may
            # ADD columns (evolution); it may not drop any (checked above)
            merged = survivors.unionByName(
                updates, allowMissingColumns=True
            )
        new, fields = _stage(
            spark, root, m, merged, partition_col, bloom_cols,
            m.get("cluster_col"),
        )
        return _commit(
            root, "upsert", kept + new, partition_col, prev,
            retains_parent=bool(kept), stream_commit=stream_commit,
            **fields,
        )
    finally:
        updates.unpersist()


def lake_replace_partitions(
    spark: SparkSession,
    root: str,
    parts: set[str],
    df: DataFrame,
    partition_col: str,
    bloom_cols: list[str] | None = None,
    stream_commit: tuple[str, int] | None = None,
    base_version=_UNSET,
) -> int:
    """Replace the full contents of the named partitions with ``df``
    (whose rows must all belong to those partitions), carrying every
    other partition's files by reference — the primitive for callers
    that have ALREADY read the affected partitions and computed their
    replacement (upsert_rollup's merge): lake_upsert would re-read the
    touched files a second time for its survivors anti-join, which is
    pure waste when the caller's df is the complete new content.
    Read-modify-write callers MUST pass ``base_version`` (the version
    their read pinned): the commit then links parent=base, so a commit
    landing inside the read→replace window raises LakeConflict instead
    of silently publishing a merge computed against a stale base (the
    lost-update race)."""
    prev, m = _parent(root, base_version)
    _check_schema_fields(m.get("schema"), df)
    touched, kept = _split_touched(m["files"], parts, m, partition_col)
    if any(e["partition"] is None for e in touched):
        # a partition-less file (z-order compaction output) can hold
        # rows of ANY partition; dropping it here would lose the rows
        # the caller's df did not read.  Compaction-aware callers must
        # go through lake_upsert's read-and-anti-join path instead.
        raise ValueError(
            "lake_replace_partitions on a table with partition-less "
            "files — use lake_upsert (its survivors re-read covers them)"
        )
    new, fields = _stage(
        spark, root, m, df, partition_col, bloom_cols, m.get("cluster_col")
    )
    return _commit(
        root, "replace_partitions", kept + new, partition_col, prev,
        retains_parent=bool(kept), stream_commit=stream_commit, **fields,
    )


def lake_delete(
    spark: SparkSession,
    root: str,
    delete_keys: DataFrame,
    key: str,
    partition_col: str,
    bloom_cols: list[str] | None = None,
) -> int:
    """Row-level DELETE as a snapshot commit.  Files in unaffected
    partitions carry over by reference; affected partitions are
    rewritten without the deleted keys (a fully-emptied partition
    simply contributes no files).  The pre-delete version stays
    readable until vacuumed — the audit trail a right-to-be-forgotten
    pipeline wants DURING the retention window, with vacuum as the
    actual forget step."""
    delete_keys = delete_keys.persist()
    try:
        prev, m = _parent(root)
        if prev is None:
            return 0
        keys = delete_keys.select(key)
        if partition_col in delete_keys.columns:
            parts = _spark_part_strings(delete_keys, partition_col)
        else:
            cur = _read_files(spark, root, m, m["files"])
            parts = _spark_part_strings(
                cur.select(key, partition_col).join(keys, key, "left_semi"),
                partition_col,
            )
        touched, kept = _split_touched(m["files"], parts, m, partition_col)
        if not touched:
            return prev
        survivors = _read_files(spark, root, m, touched).join(
            keys, key, "left_anti"
        )
        new, fields = _stage(
            spark, root, m, survivors, partition_col, bloom_cols,
            m.get("cluster_col"),
        )
        return _commit(
            root, "delete", kept + new, partition_col, prev,
            retains_parent=bool(kept), **fields,
        )
    finally:
        delete_keys.unpersist()


def lake_compact(
    spark: SparkSession,
    root: str,
    partition_col: str | None = None,
    bloom_cols: list[str] | None = None,
) -> int:
    """Rewrite the current snapshot into one file per partition (the
    small-file maintenance pass) as a COMMIT: readers of older versions
    keep their file lists; nothing is deleted until vacuum.  Pass
    ``bloom_cols`` to (re)build per-file equality blooms on the merged
    files — compaction is the natural time to refresh them, since the
    small pre-compaction files' blooms die with their entries."""
    prev = latest_version(root)
    cl = _load_manifest(root, prev).get("cluster_col") if prev else None
    cur = lake_read(spark, root, version=prev)
    # _stage_files' own repartition by the hive columns is the one
    # shuffle; with none, one task writes the single output file
    staged = cur if partition_col or cl else cur.coalesce(1)
    new = _stage_files(spark, root, staged, partition_col,
                       bloom_cols=bloom_cols, cluster_col=cl)
    return _commit(
        root, "compact", new, partition_col, prev,
        schema=_schema_fields(cur), retains_parent=False,
    )


def lake_change_layout(
    spark: SparkSession, root: str, partition_col: str | None
) -> int:
    """Migrate the table to a different partition layout (or to
    unpartitioned with None) as a snapshot commit — the sanctioned path
    when lake_upsert/lake_delete refuse a partition_col that doesn't
    match the manifest.  Full rewrite of the CURRENT snapshot only;
    older versions keep their original layout and stay time-travelable
    until vacuumed."""
    prev = latest_version(root)
    cur = lake_read(spark, root, version=prev)
    new = _stage_files(spark, root, cur, partition_col)
    # a layout migration REDEFINES the at-rest keys: the new files are
    # not cluster-split, so the inherited cluster_col must not survive
    # to claim a layout the files don't have
    return _commit(
        root, "change_layout", new, partition_col, prev,
        schema=_schema_fields(cur), retains_parent=False,
        cluster_col=None,
    )


def lake_restore(
    root: str, version: int | None = None, tag: str | None = None
) -> int:
    """RESTORE (Delta-style, public knowledge): make a historical
    snapshot current again by committing a NEW version whose manifest
    is the target's file list verbatim — history stays linear and
    append-only (the bad commits remain inspectable between the two),
    no data is copied (files are shared by reference, exactly like an
    unaffected-partition carry-over), and the restore itself is an
    optimistic commit (a concurrent writer landing first raises
    LakeConflict instead of silently resurrecting on a moved base).
    The target's schema era (column mapping), layout properties
    (partition/cluster col) and schema_mixed flag travel with it —
    restoring across an evolution restores the OLD era correctly.
    The restored-FROM version must still be readable (not vacuumed).
    Returns the new version."""
    if tag is not None:
        if version is not None:
            raise ValueError("pass version OR tag, not both")
        version = resolve_tag(root, tag)
    prev = latest_version(root)
    if prev is None:
        raise FileNotFoundError(f"no committed version under {root}")
    if version is None or version not in set(_versions(root)):
        raise ValueError(f"version {version!r} not committed under {root}")
    t = _load_manifest(root, version)
    missing = [
        e["path"]
        for e in t["files"]
        if not os.path.exists(os.path.join(root, e["path"]))
    ]
    if missing:
        raise FileNotFoundError(
            f"version {version} references vacuumed files, "
            f"e.g. {missing[0]}"
        )
    return _commit(
        root,
        f"restore({version})",
        t["files"],
        t.get("partition_col"),
        prev,
        schema=t.get("schema"),
        retains_parent=False,
        columns=t.get("columns") or None,
        schemas=t.get("schemas") or None,
        cluster_col=t.get("cluster_col"),
        schema_mixed=t.get("schema_mixed", False),
    )


_TAGS_DIR = "_tags"


def _tag_path(root: str, name: str) -> str:
    if not name or "/" in name or "\\" in name or name.startswith("."):
        raise ValueError(f"invalid tag name: {name!r}")
    return os.path.join(root, _TAGS_DIR, f"{name}.json")


def lake_tag(
    root: str, name: str, version: int | None = None, replace: bool = False
) -> int:
    """Pin a named, immutable ref to a snapshot version (the Iceberg
    tag concept, public knowledge) — ``lake_read(tag=...)`` resolves
    it, and ``lake_vacuum`` treats every tagged version as live, so a
    tag is the governance handle for "the snapshot this model was
    trained on" surviving retention.  Refuses to move an existing tag
    unless ``replace=True`` (tags are refs a consumer relies on;
    silent re-pointing is the lost-update of governance).  Returns the
    pinned version."""
    v = latest_version(root) if version is None else int(version)
    if v is None or v not in set(_versions(root)):
        raise ValueError(f"version {version!r} not committed under {root}")
    p = _tag_path(root, name)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    text = json.dumps(
        {"version": v, "created": datetime.now(timezone.utc).isoformat()}
    )
    if replace:
        write_replace(p, text)
        return v
    try:
        write_new(p, text)
    except FileExistsError:
        raise FileExistsError(
            f"tag {name!r} exists (-> v{resolve_tag(root, name)}); "
            "pass replace=True to move it"
        ) from None
    return v


def lake_tags(root: str) -> dict[str, int]:
    """All tags as {name: version}."""
    out: dict[str, int] = {}
    for p in glob.glob(os.path.join(root, _TAGS_DIR, "*.json")):
        out[os.path.splitext(os.path.basename(p))[0]] = json.load(
            open(p)
        )["version"]
    return out


def lake_drop_tag(root: str, name: str) -> None:
    """Remove a tag (its version becomes vacuumable again if outside
    the keep window)."""
    os.unlink(_tag_path(root, name))


def resolve_tag(root: str, name: str) -> int:
    p = _tag_path(root, name)
    if not os.path.exists(p):
        raise FileNotFoundError(f"no tag {name!r} under {root}")
    return int(json.load(open(p))["version"])


def lake_vacuum(
    root: str, keep_versions: int = 1, retention_seconds: float = 3600.0
) -> int:
    """Delete data files referenced ONLY by manifests older than the
    newest `keep_versions`, then drop those manifests.  Returns the
    number of files removed.  Also reclaims orphan files from aborted
    commits (staged but never referenced by any manifest) — but only
    orphans older than `retention_seconds`: a file a CONCURRENT writer
    has staged but not yet linked looks identical to an abort-orphan,
    and deleting it would let that writer publish a manifest pointing
    at vanished data (the table formats' vacuum-retention rule).
    Files that WERE referenced by a now-expired manifest are committed
    history, not possibly-in-flight staging, so they are reclaimed
    regardless of age.

    TAGGED versions (lake_tag) are live regardless of age: their
    manifests stay and their files are never reclaimed — retention
    answers "how much history", tags answer "which snapshots are
    load-bearing", and the second must win or a routine vacuum
    silently breaks the ref a training run recorded."""
    import time

    vs = _versions(root)
    if not vs:
        return 0
    keep = set(vs[-max(keep_versions, 1):])
    keep |= {v for v in lake_tags(root).values() if v in set(vs)}
    live: set[str] = set()
    expired_refs: set[str] = set()
    for v in vs:
        for e in _load_manifest(root, v)["files"]:
            rel = os.path.normpath(e["path"])
            (live if v in keep else expired_refs).add(rel)
    expired_refs -= live
    removed = 0
    now = time.time()
    data_root = os.path.join(root, _DATA_DIR)
    for p in glob.glob(
        os.path.join(data_root, "**", "*.parquet"), recursive=True
    ):
        rel = os.path.normpath(os.path.relpath(p, root))
        if rel in live:
            continue
        if rel not in expired_refs:  # true orphan: maybe in-flight staging
            try:
                if now - os.path.getmtime(p) < retention_seconds:
                    continue
            except OSError:
                continue
        os.unlink(p)
        removed += 1
    # prune commit dirs that no longer hold any data file (only write
    # markers like _SUCCESS / .crc remain) and expired manifests; a
    # young empty dir may be a concurrent writer mid-stage (parquet
    # parts still under _temporary/) — leave it until past retention
    for d in glob.glob(os.path.join(data_root, "c-*")):
        if not glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True):
            try:
                if now - os.path.getmtime(d) < retention_seconds:
                    continue
            except OSError:
                continue
            shutil.rmtree(d)
    for v in vs:
        if v not in keep:
            os.unlink(_manifest_path(root, v))
    return removed


# ---------------------------------------------------------------------------
# Exactly-once Structured Streaming sink.  foreachBatch is at-least-
# once: after a crash between "sink wrote" and "checkpoint advanced",
# the same (query, batch_id) is REDELIVERED.  A plain parquet-append
# sink duplicates that batch; the snapshot lake fixes it the table-
# format way — the committed manifest records, per named query, the
# highest batch id it contains, and a redelivered batch is a no-op.
# The check and the data commit are the SAME atomic manifest link, so
# there is no window where data landed but the watermark didn't.
# ---------------------------------------------------------------------------
def lake_last_batch(root: str, query_name: str) -> int | None:
    v = latest_version(root)
    if v is None:
        return None
    return _load_manifest(root, v).get("stream_commits", {}).get(query_name)


def _translate_stream_batch(m: dict, df: DataFrame) -> DataFrame:
    """Re-aim a micro-batch written against a STALE logical schema at
    the CURRENT column mapping: a rename/retype commit landing
    between micro-batches must not silently fork the stream's data.

    - A batch column that is no longer a logical name but IS the
      physical name of a mapped column is the pre-rename name of that
      column (physical names never move): rename it to the current
      logical name.  Without this, _stage_mapped_append would treat it
      as a NEW column — the zombie guard would disambiguate its
      physical name and the renamed column would read NULL for every
      streamed row (a silent fork).
    - A batch column narrower than the current recorded type (the
      pre-retype width) casts up when the widening is lossless (the
      lake_retype_column contract), so the new files land in the
      CURRENT era; anything lossy raises loudly — stop the stream and
      restart it against the current schema.
    """
    cols = m["columns"]
    logical = {c["name"] for c in cols}
    by_phys = {c["physical"]: c for c in cols}
    renames = {}
    for f in df.schema.fields:
        if f.name in logical:
            continue
        hit = by_phys.get(f.name)
        if hit is not None:
            if hit["name"] in df.columns:
                raise ValueError(
                    f"ambiguous stream batch for {m.get('version')}: both "
                    f"the stale name {f.name!r} and the current name "
                    f"{hit['name']!r} are present"
                )
            renames[f.name] = hit["name"]
    if renames:
        df = df.withColumnsRenamed(renames)
    cur_type = {c["name"]: c["type"] for c in cols}
    for f in df.schema.fields:
        want = cur_type.get(f.name)
        have = f.dataType.simpleString()
        if want and want != have:
            if (have, want) not in _WIDEN_OK:
                raise ValueError(
                    f"stream batch column {f.name!r} is {have} but the "
                    f"table now records {want} — not a lossless widening. "
                    "Stop the stream and restart it against the current "
                    "schema."
                )
            df = df.withColumn(f.name, F.col(f.name).cast(want))
    return df


def lake_append_stream(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    partition_col: str | None,
    query_name: str,
    batch_id: int,
    max_retries: int = 5,
    bloom_cols: list[str] | None = None,
    cluster_col: str | None = None,
) -> int | None:
    """Idempotent append: commits df together with the watermark
    ``stream_commits[query_name] = batch_id``; a batch at or below the
    recorded watermark is skipped (returns None).  LakeConflict from a
    CONCURRENT writer retries on the fresh base — safe for appends,
    whose manifest delta is independent of the base contents — and
    re-checks the watermark each attempt so a racing replica of the
    same stream can't double-commit the batch either.

    Mapped tables: a schema-evolution commit (rename / widen-
    retype) landing between micro-batches is handled per batch —
    the batch translates onto the CURRENT mapping
    (_translate_stream_batch), stages under physical names, and stamps
    the current era; a mapping that moves between staging and the
    commit retry re-stages against the new mapping.

    ``cluster_col``: explicit value sets the clustered layout on
    the table's FIRST commit (a streaming-built lake has no earlier
    manifest to inherit from); thereafter the manifest's recorded
    layout wins, exactly like lake_append."""
    staged: list[dict] | None = None
    staged_on = None
    for _ in range(max_retries):
        prev, m = _parent(root)
        last = m.get("stream_commits", {}).get(query_name)
        if last is not None and batch_id <= last:
            return None
        cl = m.get("cluster_col") if prev is not None else cluster_col
        out = _translate_stream_batch(m, df) if m.get("columns") else df
        # every attempt validates against its PINNED base m: a commit
        # racing in between must neither reject a batch that resolves
        # through the LakeConflict retry, nor (a concurrent add-column
        # append) be narrowed back out of the recorded schema
        _check_schema_fields(m.get("schema"), out)
        if staged is None or staged_on != (m.get("columns"), cl):
            # first attempt, or the mapping or the clustered layout
            # moved since staging: the staged files would carry the
            # wrong era/physical layout or re-record a stale layout
            staged_on = (m.get("columns"), cl)
            staged, fields = _stage(
                spark, root, m, out, partition_col, bloom_cols, cl
            )
        try:
            return _commit(
                root, "stream_append", m["files"] + staged, partition_col,
                prev, stream_commit=(query_name, batch_id), cluster_col=cl,
                **fields,
            )
        except LakeConflict:
            continue
    raise LakeConflict(
        f"could not commit batch {batch_id} of {query_name} after "
        f"{max_retries} conflicts"
    )


def lake_foreach_batch(
    root: str,
    partition_col: str | None,
    query_name: str,
    transform=None,
):
    """Build the function to pass to ``writeStream.foreachBatch``:
    optionally applies ``transform(df)`` (the per-batch curation
    logic), then commits exactly-once via lake_append_stream."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        out = transform(batch_df) if transform is not None else batch_df
        lake_append_stream(
            batch_df.sparkSession,
            root,
            out,
            partition_col,
            query_name,
            int(batch_id),
        )

    return _sink


# ---------------------------------------------------------------------------
# Data skipping: prune files from the manifest by footer stats BEFORE
# Spark ever sees them.  Parquet readers already skip ROW GROUPS via
# footer stats, but only after opening every file — at 100 TB the win
# is not opening 99% of the files at all (and on object storage, not
# issuing the GETs).  The residual filter is always applied to the
# scan, so correctness never depends on the stats being present.
# ---------------------------------------------------------------------------
_OPS = {
    "=": lambda lo, hi, v: lo <= v <= hi,
    ">=": lambda lo, hi, v: hi >= v,
    "<=": lambda lo, hi, v: lo <= v,
    ">": lambda lo, hi, v: hi > v,
    "<": lambda lo, hi, v: lo < v,
}


def _file_may_match(entry: dict, where: list[tuple]) -> bool:
    for col, op, val in where:
        if op == "=":
            bl = entry.get("bloom", {}).get(col)
            if bl is not None and not _bloom_may_contain(bl, val):
                return False
        st = entry.get("stats", {}).get(col)
        if st is None:
            continue  # no stats -> cannot prune on this predicate
        lo, hi = st
        try:
            if not _OPS[op](lo, hi, val):
                return False
        except TypeError:  # mixed types -> refuse to prune
            continue
    return True


def lake_scan(
    spark: SparkSession,
    root: str,
    where: list[tuple],
    version: int | None = None,
) -> DataFrame:
    """Read a snapshot with file-level data skipping.  ``where`` is a
    list of (column, op, value) with op in =, <, <=, >, >= — ANDed.
    Files whose footer [min, max] cannot satisfy every predicate are
    dropped from the plan; the predicates are then applied as normal
    filters (Spark still row-group-skips inside surviving files)."""
    v = latest_version(root) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no committed version under {root}")
    m = _load_manifest(root, v)
    phys_where = _phys_where(m, where)
    kept = [e for e in m["files"] if _file_may_match(e, phys_where)]
    df = _read_files(spark, root, m, kept or m["files"])
    df = df.where(_pred_column(df, where))
    return df if kept else df.limit(0)


def lake_scan_in(
    spark: SparkSession,
    root: str,
    where_in: list[tuple],
    version: int | None = None,
) -> DataFrame:
    """Batched point-lookup scan (the PQ re-rank fetch): read a
    snapshot keeping only files that may hold ANY of each predicate's
    values.  ``where_in`` is a list of (column, values) pairs, ANDed
    across pairs, OR-semantics within a pair's value list — a file
    survives when, for EVERY pair, at least one value passes that
    file's bloom + footer [min, max] check.  The IN predicates are
    then applied as normal row filters.

    This is the lake's fetch-by-id face: with bloom_cols on the key
    and a bounded value list (an ANN shortlist, a worklist of doc
    ids), files opened are bounded by the values' bloom matches —
    never the partition's full file set.  An empty value list in any
    pair selects nothing (vacuous IN)."""
    v = latest_version(root) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no committed version under {root}")
    m = _load_manifest(root, v)
    phys_in = _phys_where(m, where_in)

    def may_match(entry: dict) -> bool:
        return all(
            any(_file_may_match(entry, [(pc, "=", val)]) for val in values)
            for pc, values in phys_in
        )

    empty_in = any(not list(vals) for _, vals in where_in)
    kept = [] if empty_in else [e for e in m["files"] if may_match(e)]
    cond = F.lit(True)
    for col, values in where_in:
        cond = cond & F.col(col).isin(list(values))
    df = _read_files(spark, root, m, kept or m["files"]).where(cond)
    return df if kept else df.limit(0)


def lake_scan_file_counts(
    root: str, where: list[tuple], version: int | None = None
) -> tuple[int, int]:
    """(files kept, files total) for a predicate — the observable the
    skipping tests and any cost estimator want."""
    v = latest_version(root) if version is None else version
    m = _load_manifest(root, v)
    where = _phys_where(m, where)
    kept = sum(1 for e in m["files"] if _file_may_match(e, where))
    return kept, len(m["files"])


def _phys_where(m: dict, where: list[tuple]) -> list[tuple]:
    """Predicates with their leading column name translated logical →
    physical: a mapped table's footer stats and blooms are recorded
    under physical names (the row filters stay logical, on the mapped
    read)."""
    if not m.get("columns"):
        return where
    l2p = {c["name"]: c["physical"] for c in m["columns"]}
    return [(l2p.get(p[0], p[0]), *p[1:]) for p in where]


def _pred_column(df: DataFrame, where: list[tuple]):
    cond = F.lit(True)
    for col, op, val in where:
        c = F.col(col)
        cond = cond & {
            "=": c == val,
            ">=": c >= val,
            "<=": c <= val,
            ">": c > val,
            "<": c < val,
        }[op]
    return cond


def lake_compact_zorder(
    spark: SparkSession,
    root: str,
    x: str,
    y: str,
    n_files: int = 8,
    bits: int = 16,
) -> int:
    """Compaction that CLUSTERS: rewrite the current snapshot range-
    partitioned and sorted by the Morton interleave z(x, y) (the
    sinks.py zorder_value expression), as a snapshot commit.

    This is what makes lake_scan's data skipping bite on TWO columns
    at once: after a plain append, every file's [min, max] on x and y
    spans most of the domain (skipping prunes ~nothing); after z-order
    compaction each file covers a compact z-rectangle, so its x and y
    footer ranges are tight and a 2-D range predicate keeps only the
    intersecting files — the published reason table formats pair
    Z-ORDER with file stats.  Unpartitioned layout (the z-sort replaces
    hive partitioning as the pruning axis); time travel to the
    pre-compaction layout keeps working."""
    from pyspec_spark.sinks import zorder_value

    prev = latest_version(root)
    cur = lake_read(spark, root, version=prev)
    clustered = (
        cur.withColumn("_z", zorder_value(x, y, bits))
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )
    # one file per range partition: maxRecordsPerFile unset, each write
    # task emits a single sorted file with tight x/y footer stats
    new = _stage_files(spark, root, clustered, None)
    return _commit(
        root, "compact_zorder", new, None, prev,
        schema=_schema_fields(clustered), retains_parent=False,
        cluster_col=None,  # the z-sort replaces per-value clustering
    )


# ---------------------------------------------------------------------------
# Schema evolution (add-column).  The manifest records each commit's
# writer schema and reads use it as their read schema, so old files
# simply lack the new column and read as NULL, whichever files a scan
# keeps.  Parquet schema merging (mergeSchema reads every footer) is
# only _parquet's fallback for a schema it cannot render, and only
# when the live files actually disagree (``schema_mixed``);
# time travel to a pre-evolution version returns the old schema
# exactly.  Column REMOVAL or type narrowing is refused — at 100 TB a
# silent incompatible append is a corpus-wide poisoning, so the check
# is at commit time, against the parent manifest the op read, not at
# read time.
# ---------------------------------------------------------------------------
def _schema_fields(df: DataFrame) -> dict:
    return {f.name: f.dataType.simpleString() for f in df.schema.fields}


def _check_schema_fields(old: dict | None, df: DataFrame) -> None:
    """The add-column-only contract against the schema of the parent
    manifest the op read — the base it stages for, not whatever is
    latest at call time (a commit landing in between raises
    LakeConflict at publish)."""
    if old is None:
        return
    new = _schema_fields(df)
    dropped = [c for c in old if c not in new]
    if dropped:
        raise ValueError(
            f"schema evolution is add-column only; missing {dropped} "
            f"(write NULLs explicitly to keep a column)"
        )
    changed = [c for c in old if new[c] != old[c]]
    if changed:
        raise ValueError(
            f"column type change refused: "
            f"{[(c, old[c], new[c]) for c in changed]}"
        )


def lake_diff(
    spark: SparkSession,
    root: str,
    v_from: int,
    v_to: int,
    key: str,
) -> DataFrame:
    """Change-data capture between two committed versions: one row per
    changed key with change in {'insert', 'delete', 'update'} —
    unchanged keys are absent.  The table-format capability (Delta CDF
    / Iceberg changelog) re-expressed over the manifest pair: both
    snapshots plan from their own explicit file lists, so the diff
    reads exactly two versions' files and nothing else.

    Rows are compared by a fingerprint over every non-key column
    (md5 of the canonical JSON struct) — engine-internal, both sides
    computed by the same Spark build, so no cross-engine caveat.
    Duplicate keys are well-defined: each side is reduced to ONE
    multiset fingerprint per key (md5 over the sorted row fingerprints,
    which folds multiplicity in), so the full-outer join stays 1:1 and
    a key whose duplicate-row multiset changed classifies as 'update'.

    100 TB posture: one full-outer join keyed on `key`; with both
    versions written partition-aligned the join co-locates, and at rest
    the usual CDC optimization (diff only partitions whose file sets
    differ between the manifests) drops untouched partitions before the
    join — the manifest comparison is a pure metadata step."""
    def read_or_empty(v):
        try:
            return lake_read(spark, root, version=v)
        except ValueError:
            return None  # committed-but-empty version = empty relation

    a = read_or_empty(v_from)
    b = read_or_empty(v_to)
    # column-mapped versions (rename/retype): align the FROM side
    # to the TO side's logical names and types BY COLUMN ID, so a pure
    # rename or a widen retype shows zero spurious changes — the whole
    # point of id indirection.  Only when both manifests carry
    # mappings; name-based comparison (below) is otherwise correct.
    ca = _load_manifest(root, v_from).get("columns")
    cb = _load_manifest(root, v_to).get("columns")
    if a is not None and cb:
        if ca:
            by_id = {c["id"]: c for c in ca}
            sel = [
                F.col(by_id[c["id"]]["name"])
                .cast(c["type"])
                .alias(c["name"])
                for c in cb
                if c["id"] in by_id
            ]
        else:
            # the FROM version predates the mapping: its column names
            # ARE the physical names (renames never change physical),
            # so physical-name matching is the id lookup
            sel = [
                F.col(c["physical"]).cast(c["type"]).alias(c["name"])
                for c in cb
                if c["physical"] in a.columns
            ]
        if sel:
            a = a.select(*sel)
    if a is None and b is None:
        # derive the key's type from the recorded manifest schema (a
        # hardcoded BIGINT would return a wrong-schema frame for string
        # or date keys)
        key_type = "BIGINT"
        for v in (v_to, v_from):
            sch = _load_manifest(root, v).get("schema") or {}
            if key in sch:
                key_type = sch[key]
                break
        return spark.createDataFrame([], f"{key} {key_type}, change STRING")
    if a is None:
        a = b.limit(0)
    if b is None:
        b = a.limit(0)

    def fp(df: DataFrame, side: str) -> DataFrame:
        cols = [c for c in sorted(df.columns) if c != key]
        row_fp = F.md5(
            F.to_json(F.struct(*[F.col(c) for c in cols])).cast("binary")
        )
        # one multiset fingerprint per key: sorted row fps folded into
        # a single md5 — duplicate keys can't cross-product the join
        return (
            df.select(F.col(key), row_fp.alias("rfp"))
            .groupBy(key)
            .agg(
                F.md5(
                    F.concat_ws(",", F.array_sort(F.collect_list("rfp")))
                    .cast("binary")
                ).alias(f"fp_{side}")
            )
        )

    j = fp(a, "a").join(fp(b, "b"), key, "full_outer")
    change = (
        F.when(F.col("fp_a").isNull(), "insert")
        .when(F.col("fp_b").isNull(), "delete")
        .when(F.col("fp_a") != F.col("fp_b"), "update")
    )
    return (
        j.withColumn("change", change)
        .where(F.col("change").isNotNull())
        .select(key, "change")
    )


# ---------------------------------------------------------------------------
# Column-id mapping: RENAME and widen-RETYPE as metadata-only commits
# — the Iceberg-style id indirection the add-column-only contract
# lacked.  Every logical column gets a stable id and a FIXED physical
# name (the name it was first written under — renames never rewrite
# data); the manifest records the mapping plus a per-file schema ERA
# (``sid`` → the physical types the file was written with), so a widen
# retype is a read-time cast of older eras, never a table rewrite.
#
# Rules of the road:
# - two helpers are the only places that know the mapping: _read_files
#   (the one way manifest entries become a DataFrame) and _stage (the
#   one way a write op stages files and its commit's schema fields);
#   every op goes through them, so no op has a mapped branch of its own;
# - the mapping initializes lazily on the first rename/retype (ids =
#   current ordinals, physical = current names, every live file
#   stamped era 0); unmapped tables behave exactly as before;
# - mapped READS project each era physical→logical with casts and
#   union the eras — one narrow select per era, each read with its
#   era's recorded physical schema, no mergeSchema;
# - staging translates logical→physical and stamps the current era
#   (allocating a new era after a retype), so row-level rewrites splice
#   the caller's logical rows with survivors read in the logical view;
# - the mapping rides every retains_parent commit (_commit carries it
#   like stream_commits); every FULL-REWRITE op (compact / overwrite /
#   z-order / change_layout) stages from the mapped logical view, so
#   it MATERIALIZES the mapping and clears it — lake_compact is the
#   sanctioned "make it physical" pass;
# - the partition column can be neither renamed nor retyped (its
#   string rendering is baked into directory names and manifests).
#
# Time travel is era-correct by construction: version v reads with
# MANIFEST v's mapping, so historical logical names stay historical.
# CDC (lake_diff) aligns the two versions BY COLUMN ID, so a pure
# rename or widen shows zero spurious changes.
# ---------------------------------------------------------------------------
_WIDEN_OK = {
    ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
    ("smallint", "int"), ("smallint", "bigint"),
    ("int", "bigint"),
    ("float", "double"),
}


def _ensure_mapping(root: str, prev: int) -> dict:
    """Manifest ``prev`` with an initialized column mapping (lazy init:
    ids = ordinals, physical = current names, all live files era 0).
    Mixed-schema tables (an un-compacted add-column evolution) refuse:
    era 0 must describe every live file's physical schema."""
    m = _load_manifest(root, prev)
    if m.get("columns"):
        return m
    if m.get("schema_mixed"):
        raise ValueError(
            "column mapping on a mixed-schema table: live files span an "
            "add-column evolution, so one era cannot describe them — "
            "lake_compact first"
        )
    if not m.get("schema"):
        raise ValueError(
            "column mapping needs a recorded schema (this table predates "
            "schema tracking) — lake_compact first"
        )
    cols = [
        {"id": i, "name": n, "physical": n, "type": t}
        for i, (n, t) in enumerate(m["schema"].items())
    ]
    m = dict(m)
    m["columns"] = cols
    m["schemas"] = {"0": {c["physical"]: c["type"] for c in cols}}
    m["files"] = [dict(e, sid=0) for e in m["files"]]
    return m


def lake_rename_column(root: str, old: str, new: str) -> int:
    """Rename a column as a METADATA-ONLY commit: every data file is
    carried by reference, the logical name changes in the mapping, the
    physical name in the files never does.  Old versions still read
    under their historical names (time travel is era-correct)."""
    prev = latest_version(root)
    if prev is None:
        raise FileNotFoundError(f"no committed version under {root}")
    m = _ensure_mapping(root, prev)
    names = [c["name"] for c in m["columns"]]
    if old not in names:
        raise ValueError(f"no column {old!r} (have {names})")
    if new in names:
        raise ValueError(f"column {new!r} already exists")
    if old == m.get("partition_col"):
        raise ValueError(
            "the partition column cannot be renamed: its value strings "
            "are baked into directory names and manifest partitions — "
            "lake_change_layout to a different column first"
        )
    cols = [
        dict(c, name=new) if c["name"] == old else c for c in m["columns"]
    ]
    # the cluster col is recorded by LOGICAL name: follow the rename or
    # later clustered rewrites would look up a name that no longer exists
    kw = {}
    if old == m.get("cluster_col"):
        kw["cluster_col"] = new
    return _commit(
        root, "rename_column", m["files"], m.get("partition_col"), prev,
        schema={c["name"]: c["type"] for c in cols},
        columns=cols, schemas=m.get("schemas"), **kw,
    )


def lake_retype_column(root: str, name: str, new_type: str) -> int:
    """Widen a column's type as a METADATA-ONLY commit: existing files
    keep their physical type (their era records it; reads cast), new
    appends must write the new type and land in a fresh era.  Only
    lossless widenings are allowed (int→bigint, float→double, ...) —
    anything else genuinely needs a rewrite, and refusing here beats a
    silently lossy cast."""
    prev = latest_version(root)
    if prev is None:
        raise FileNotFoundError(f"no committed version under {root}")
    m = _ensure_mapping(root, prev)
    target = next((c for c in m["columns"] if c["name"] == name), None)
    if target is None:
        raise ValueError(
            f"no column {name!r} (have {[c['name'] for c in m['columns']]})"
        )
    if name == m.get("partition_col"):
        raise ValueError("the partition column cannot be retyped")
    if target["type"] == new_type:
        return prev
    if (target["type"], new_type) not in _WIDEN_OK:
        raise ValueError(
            f"retype {target['type']} -> {new_type} is not a lossless "
            f"widening {sorted(_WIDEN_OK)}; rewrite the table "
            "(lake_overwrite) for anything lossy"
        )
    cols = [
        dict(c, type=new_type) if c["name"] == name else c
        for c in m["columns"]
    ]
    return _commit(
        root, "retype_column", m["files"], m.get("partition_col"), prev,
        schema={c["name"]: c["type"] for c in cols},
        columns=cols, schemas=m.get("schemas"),
    )


def _read_mapped(
    spark: SparkSession, root: str, m: dict, entries: list[dict]
) -> DataFrame:
    """Project file entries through the manifest's column mapping:
    group by schema era, read each era with its recorded physical
    schema (``m["schemas"][sid]``), select physical →
    logical (cast to the CURRENT logical type; columns a file's era
    predates read as typed NULLs), union the eras."""
    mapping = m["columns"]
    schemas = m.get("schemas") or {}
    by_sid: dict[int, list[dict]] = {}
    for e in entries:
        if "sid" not in e:
            raise ValueError(
                f"mapped table {root} has a file without a schema era: "
                f"{e['path']} — manifest corruption"
            )
        by_sid.setdefault(e["sid"], []).append(e)
    out = None
    for sid, es in sorted(by_sid.items()):
        phys = schemas.get(str(sid))
        if phys is None:
            raise ValueError(f"unknown schema era {sid} under {root}")
        paths = [os.path.join(root, e["path"]) for e in es]
        df = _parquet(spark, paths, phys)
        proj = [
            (
                F.col(c["physical"]).cast(c["type"])
                if c["physical"] in phys
                else F.lit(None).cast(c["type"])
            ).alias(c["name"])
            for c in mapping
        ]
        part = df.select(*proj)
        out = part if out is None else out.unionByName(part)
    return out



def _stage_mapped_append(
    spark: SparkSession,
    root: str,
    m: dict,
    df: DataFrame,
    partition_col: str | None,
    bloom_cols: list[str] | None,
    cluster_col: str | None = None,
):
    """Stage an append against a column-mapped table: translate the
    caller's LOGICAL column names to the fixed physical names, extend
    the mapping for genuinely new columns (add-column evolution keeps
    working: a new column's physical name IS its logical name at
    birth), allocate/reuse the schema era matching the write's physical
    types, and stamp the new entries with it."""
    columns = [dict(c) for c in m["columns"]]
    known = {c["name"] for c in columns}
    next_id = max((c["id"] for c in columns), default=-1) + 1
    # zombie guard: a NEW column's physical name must not collide with
    # any physical name recorded in ANY era (e.g. a column dropped and
    # re-added under the same name) — otherwise _read_mapped would
    # project the OLD era's bytes into the new column
    taken = {c["physical"] for c in columns}
    for era in (m.get("schemas") or {}).values():
        taken |= set(era)
    for f in df.schema.fields:
        if f.name not in known:
            phys = f.name
            if phys in taken:
                phys = f"{f.name}__c{next_id}"
            columns.append(
                {
                    "id": next_id,
                    "name": f.name,
                    "physical": phys,
                    "type": f.dataType.simpleString(),
                }
            )
            taken.add(phys)
            next_id += 1
    renames = {
        c["name"]: c["physical"] for c in columns if c["name"] != c["physical"]
    }
    df_phys = df.withColumnsRenamed(renames) if renames else df
    # blooms are built from the PHYSICAL frame: translate the caller's
    # logical bloom_cols or the per-column harvest silently skips a
    # renamed column and equality skipping quietly stops pruning
    if bloom_cols:
        bloom_cols = [renames.get(c, c) for c in bloom_cols]
    phys_schema = {
        c["physical"]: c["type"]
        for c in columns
        if c["name"] in {f.name for f in df.schema.fields}
    }
    schemas = dict(m.get("schemas") or {})
    sid = next(
        (int(k) for k, v in schemas.items() if v == phys_schema), None
    )
    if sid is None:
        sid = max((int(k) for k in schemas), default=-1) + 1
        schemas[str(sid)] = phys_schema
    # the cluster col is recorded under its LOGICAL name; the physical
    # frame needs the physical name or the split silently stops
    cl_phys = renames.get(cluster_col, cluster_col) if cluster_col else None
    entries = [
        dict(e, sid=sid)
        for e in _stage_files(
            spark, root, df_phys, partition_col, bloom_cols=bloom_cols,
            cluster_col=cl_phys,
        )
    ]
    return entries, columns, schemas


def lake_drop_column(root: str, name: str) -> int:
    """Drop a column as a METADATA-ONLY commit: the mapping entry goes
    away, every data file is carried by reference (the physical bytes
    stay — old versions still read the column via time travel; vacuum
    of superseded versions is the actual forget step, same story as
    lake_delete).  Re-adding a column with the SAME name later is safe:
    the new column gets a fresh id and — because the old physical name
    may still exist inside old-era files — a DISAMBIGUATED physical
    name (_stage_mapped_append's zombie guard), so old bytes can never
    leak into the new column."""
    prev = latest_version(root)
    if prev is None:
        raise FileNotFoundError(f"no committed version under {root}")
    m = _ensure_mapping(root, prev)
    if name == m.get("partition_col"):
        raise ValueError("the partition column cannot be dropped")
    cols = [c for c in m["columns"] if c["name"] != name]
    if len(cols) == len(m["columns"]):
        raise ValueError(
            f"no column {name!r} (have {[c['name'] for c in m['columns']]})"
        )
    if not cols:
        raise ValueError("cannot drop the last column")
    # dropping the cluster col ends the clustered layout (files stay
    # split by the old physical values; new writes stop splitting)
    kw = {}
    if name == m.get("cluster_col"):
        kw["cluster_col"] = None
    return _commit(
        root, "drop_column", m["files"], m.get("partition_col"), prev,
        schema={c["name"]: c["type"] for c in cols},
        columns=cols, schemas=m.get("schemas"), **kw,
    )
