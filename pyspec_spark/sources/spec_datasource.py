"""SPEC file Python DataSource (Spark 4 DataSource API) — SURVEY.md §2
S1/S2, §4.3 item 1.

The reference's only optimization is its scan index: `pyspec/spec.py`
`SpecDataFile.index()` records each scan's byte offset so `sf[n]` parses
one block.  Distributed translation: **one input partition per scan
block**, and a `scans` read option that keeps only the listed scan
numbers' partitions — the same byte-skipping, executor-side.

Usage:
    spark.dataSource.register(SpecDataSource)
    pts   = spark.read.format("specfile").option("path", f).load()
    scans = (spark.read.format("specfile").option("path", f)
                  .option("table", "scans").load())
    two   = read_spec(spark, f, scans=[3, 4])   # prunes to 2 blocks/file

Two logical tables (FIXTURES.md B1 schemas):
  points: file, scan_number, point_index, values MAP<STRING,DOUBLE>,
          mca ARRAY<DOUBLE>
  scans:  file, scan_number, command, ts TIMESTAMP, count_time, monitor,
          hkl ARRAY<DOUBLE>, ub ARRAY<DOUBLE>, wavelength,
          motors MAP<STRING,DOUBLE>, columns ARRAY<STRING>,
          n_points_declared INT, aborted BOOLEAN

Pruning is by option, never by filter pushdown: Spark caches a loaded
frame's planned read and reuses it for every query over that frame, so a
reader whose partitions depended on the pushed predicates of the first
query would answer later queries from the wrong blocks.  Partitions here
are a pure function of the options.  A `scan_number` predicate on an
unpruned frame is still correct; it filters rows after a full parse.

Scale notes: the driver-side index pass reads only `#S` line offsets
(regex scan over bytes, no block parse).  Each executor task reads just
the file header and its own [start, end) byte range.  At 100 TB (many
files x many scans) the partition list is file-metadata-sized, and
pruning keeps point queries O(one block).  A planned read is a snapshot
of the scan index: appended scans (pyspec `reload`) are seen by a new
load().
"""

from __future__ import annotations

import datetime
import glob as globmod
import os
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

POINTS_SCHEMA = StructType(
    [
        StructField("file", StringType()),
        StructField("scan_number", IntegerType()),
        StructField("point_index", IntegerType()),
        StructField("values", MapType(StringType(), DoubleType())),
        StructField("mca", ArrayType(DoubleType()), nullable=True),
    ]
)

SCANS_SCHEMA = StructType(
    [
        StructField("file", StringType()),
        StructField("scan_number", IntegerType()),
        StructField("command", StringType()),
        StructField("ts", TimestampType(), nullable=True),
        StructField("count_time", DoubleType(), nullable=True),
        StructField("monitor", DoubleType(), nullable=True),
        StructField("hkl", ArrayType(DoubleType()), nullable=True),
        StructField("ub", ArrayType(DoubleType()), nullable=True),
        StructField("wavelength", DoubleType(), nullable=True),
        StructField("motors", MapType(StringType(), DoubleType())),
        StructField("columns", ArrayType(StringType())),
        StructField("n_points_declared", IntegerType(), nullable=True),
        StructField("aborted", BooleanType()),
    ]
)


class _ScanPartition(InputPartition):
    """One scan block: byte offsets of the header end and the block."""

    def __init__(self, path: str, header_end: int, start: int, end: int):
        self.path = path
        self.header_end = header_end
        self.start = start
        self.end = end


def _resolve_paths(path_opt: str) -> list[str]:
    paths: list[str] = []
    for p in path_opt.split(","):
        p = p.strip()
        if not p:
            continue
        if os.path.isdir(p):
            paths.extend(sorted(globmod.glob(os.path.join(p, "*"))))
        else:
            paths.extend(sorted(globmod.glob(p)) or [p])
    return [p for p in paths if os.path.isfile(p)]


def _scan_rows(
    table: str, path: str, motor_names: list[str], block: str
) -> Iterator[tuple]:
    """Parse one scan block's text into rows of the requested logical
    table (shared by the batch partition reader and the streaming tail
    reader)."""
    from pyspec_spark.sources.spec_format import parse_scan_block

    scan = parse_scan_block(block, motor_names)
    fname = os.path.basename(path)

    if table == "scans":
        # tz-aware UTC pairs with parse_spec_date's timegm: the
        # round-trip is host-timezone independent (ADVICE r1)
        ts = (
            datetime.datetime.fromtimestamp(scan.ts, tz=datetime.timezone.utc)
            if scan.ts is not None
            else None
        )
        yield (
            fname,
            scan.scan_number,
            scan.command,
            ts,
            scan.count_time,
            scan.monitor,
            scan.hkl,
            scan.ub,
            scan.wavelength,
            scan.motors,
            scan.columns,
            scan.n_points_declared,
            scan.aborted,
        )
        return

    cols = scan.columns
    for i, row in enumerate(scan.data):
        values = dict(zip(cols, row))
        yield (fname, scan.scan_number, i, values, scan.mca[i])


class SpecDataSourceReader(DataSourceReader):
    """Batch reader: one partition per scan block, pruned by the optional
    ``scans`` option (comma-separated scan numbers).

    The partition list depends on the options and the file bytes only,
    so Spark may reuse one planned read for every query over a loaded
    frame.  Offsets are bytes; every boundary falls just after a newline
    or at the header's final newline, so decoding the header and one
    block separately yields the same text as decoding the whole file."""

    def __init__(self, options: dict, table: str):
        self.table = table
        self.path = options.get("path")
        if not self.path:
            raise ValueError("specfile source requires .option('path', ...)")
        scans = options.get("scans")
        self._scan_filter: set[int] | None = (
            None if scans is None else {int(s) for s in scans.split(",") if s.strip()}
        )

    # -- partition planning: the scan index, one partition per block -------
    def partitions(self):
        from pyspec_spark.sources.spec_format import header_end, index_scans

        parts: list[_ScanPartition] = []
        for path in _resolve_paths(self.path):
            with open(path, "rb") as fh:
                data = fh.read()
            head = header_end(data)
            for scan_number, start, end in index_scans(data):
                if self._scan_filter is None or scan_number in self._scan_filter:
                    parts.append(_ScanPartition(path, head, start, end))
        if not parts:
            # full pruning (no listed scan exists): Spark calls read(None)
            # when the partition list is empty, so return one sentinel
            # partition that yields nothing instead
            return [_ScanPartition("", 0, 0, 0)]
        return parts

    # -- per-partition read: the header and ONE scan block ------------------
    def read(self, partition: _ScanPartition) -> Iterator[tuple]:
        from pyspec_spark.sources.spec_format import parse_file_header

        if partition is None or not partition.path:  # pruned-empty sentinel
            return
        with open(partition.path, "rb") as fh:
            head = fh.read(partition.header_end)
            fh.seek(partition.start)
            block = fh.read(partition.end - partition.start)
        motor_names = parse_file_header(head.decode("utf-8", "replace")).motor_names
        yield from _scan_rows(
            self.table, partition.path, motor_names, block.decode("utf-8", "replace")
        )


class SpecSimpleStreamReader(SimpleDataSourceStreamReader):
    """Tail a live SPEC file: the reference's ``reload`` pattern
    (pyspec appends new `#S` scan blocks to the open file between
    polls; `SpecDataFile.reload()` re-indexes manually) expressed as a
    real Structured Streaming source — SURVEY §2 S1×S7.

    Offset model (JSON dict, one entry per file):
        {"files": {path: {"size": bytes_at_last_poll, "emitted": k,
                          "tail_end": e}}}
    where ``emitted`` counts scans already produced, in index order,
    and ``tail_end`` is the byte offset where the last emitted scan
    ended at emission time.

    Completeness rule: a scan block is emitted when it is BOUNDED (a
    later `#S` exists, so pyspec has moved on) — except the trailing
    scan, which may still be receiving points; it is emitted only once
    the file is QUIESCENT (size unchanged since the previous poll).
    Quiescence is a heuristic, so the reader VERIFIES it after the
    fact: if a later poll finds bytes appended to an already-emitted
    scan (the acquisition was merely slower than the trigger interval),
    it raises instead of silently dropping those points — lengthen the
    trigger interval or pre-bound the scan.  With that guard, every
    emitted block is final, and replay (``readBetweenOffsets``) clamps
    the last block to the recorded ``tail_end``, so recovery re-parses
    exactly the originally-emitted bytes even if the file has since
    grown.

    Scale posture: a SimpleDataSourceStreamReader reads on the driver
    by design — correct here because the per-trigger volume is one
    beamline's append rate (KB/s), not corpus-sized; the rows then
    distribute to executors for the downstream plan.  Truncation of a
    tracked file raises rather than silently re-emitting (append-only
    violation = corruption)."""

    def __init__(self, options: dict, table: str):
        self.options = options
        self.table = table
        self.path = options.get("path")
        if not self.path:
            raise ValueError("specfile source requires .option('path', ...)")

    def initialOffset(self) -> dict:  # noqa: N802 (API name)
        return {"files": {}}

    def _poll(self, start: dict):
        """Index every resolved file; return (rows, next_offset)."""
        from pyspec_spark.sources.spec_format import index_scans, parse_file_header

        prev = start.get("files", {})
        # carry forward state for files a transient glob/NFS hiccup hid
        # this poll — dropping it would reset `emitted` and re-emit
        # every scan as duplicates when the file reappears
        nxt: dict[str, dict] = dict(prev)
        rows: list[tuple] = []
        for path in _resolve_paths(self.path):
            with open(path, encoding="utf-8", errors="replace") as fh:
                text = fh.read()
            size = len(text)
            st = prev.get(path, {"size": -1, "emitted": 0, "tail_end": 0})
            if size < st["size"]:
                raise ValueError(
                    f"specfile stream: {path} shrank ({st['size']} -> "
                    f"{size} bytes); SPEC files are append-only"
                )
            idx = index_scans(text)
            emitted = st["emitted"]
            if emitted > len(idx):
                raise ValueError(
                    f"specfile stream: {path} lost scans "
                    f"({st['emitted']} emitted, {len(idx)} present)"
                )
            # verify the quiescence heuristic retroactively: content may
            # never land inside a scan that was already emitted.  The
            # emitted block's extent may legally grow by WHITESPACE
            # (the newline separating it from a later-appended #S
            # belongs to the earlier block); anything non-blank there
            # means the acquisition outpaced the trigger interval and
            # points were silently lost — raise instead.
            st_tail = st.get("tail_end")
            if emitted and idx and st_tail is not None:
                cur_end = idx[emitted - 1][2]
                if cur_end > st_tail and text[st_tail:cur_end].strip():
                    raise ValueError(
                        f"specfile stream: {path} appended points to an "
                        f"already-emitted scan (quiescence window too "
                        f"short for the acquisition rate); lengthen the "
                        f"trigger interval"
                    )
            # bounded scans: everything before the trailing block
            upto = max(emitted, len(idx) - 1)
            # trailing scan: only when the file is quiescent
            if size == st["size"] and idx:
                upto = len(idx)
            motor_names = parse_file_header(text).motor_names
            for scan_number, s, e in idx[emitted:upto]:
                rows.extend(_scan_rows(self.table, path, motor_names, text[s:e]))
            tail_end = idx[upto - 1][2] if upto else 0
            nxt[path] = {"size": size, "emitted": upto, "tail_end": tail_end}
        return rows, {"files": nxt}

    def read(self, start: dict):
        rows, nxt = self._poll(start)
        return iter(rows), nxt

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        """Deterministic replay for recovery: re-parse exactly the
        index ranges [start.emitted, end.emitted) per file, clamping
        the final block to the byte extent recorded at emission time
        (``tail_end``) so a file that has since grown replays the
        originally-emitted bytes, not the longer present-day scan."""
        from pyspec_spark.sources.spec_format import index_scans, parse_file_header

        s_files = start.get("files", {})
        for path, e_st in end.get("files", {}).items():
            lo = s_files.get(path, {}).get("emitted", 0)
            hi = e_st["emitted"]
            if hi <= lo:
                continue
            with open(path, encoding="utf-8", errors="replace") as fh:
                text = fh.read()
            idx = index_scans(text)
            motor_names = parse_file_header(text).motor_names
            tail_end = e_st.get("tail_end")
            for i, (scan_number, s, e) in enumerate(idx[lo:hi], start=lo):
                if i == hi - 1 and tail_end is not None:
                    e = min(e, tail_end)
                yield from _scan_rows(self.table, path, motor_names, text[s:e])


class SpecDataSource(DataSource):
    """spark.read.format("specfile") — SPEC scan files as DataFrames.
    Also streamable: spark.readStream.format("specfile") tails appended
    scans (SpecSimpleStreamReader)."""

    @classmethod
    def name(cls) -> str:
        return "specfile"

    def schema(self):
        table = self.options.get("table", "points")
        return SCANS_SCHEMA if table == "scans" else POINTS_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return SpecDataSourceReader(self.options, self.options.get("table", "points"))

    def simpleStreamReader(self, schema):  # noqa: N802 (API name)
        return SpecSimpleStreamReader(
            self.options, self.options.get("table", "points")
        )


def register(spark) -> None:
    spark.dataSource.register(SpecDataSource)


def read_spec(spark, path: str, table: str = "points", scans=None):
    """The front door for specfile reads: registers the source and, when
    ``scans`` lists scan numbers, plans only those scans' blocks."""
    register(spark)
    r = spark.read.format("specfile").option("path", path).option("table", table)
    if scans is not None:
        r = r.option("scans", ",".join(str(n) for n in sorted(set(scans))))
    return r.load()
