"""SPEC files as two Spark tables — SURVEY.md §2 S1/S2, §4.3 item 1.

Batch reads are a plan of built-in Spark expressions; no Python worker
starts:

    pts   = read_spec(spark, f)                   # one row per data point
    scans = read_spec(spark, f, "scans")          # one row per scan block
    two   = read_spec(spark, f, scans=[3, 4])     # only those scans' blocks

`spark.read.text(files, wholetext=True)` gives one row per file.  The
text splits into scan blocks before every `#S <digit>` line (the
boundary of `spec_format.index_scans`, pyspec's `SpecDataFile.index()`);
a `scans` list filters the blocks by scan number before any of their
lines is parsed, and the kept blocks are parsed by the rules of
`spec_format.parse_scan_block`, written as Java regex and higher-order
array functions.  `spec_format` stays the one Python parser: it serves
the streaming reader below and the UDTF, and the tests use it as the
oracle for this plan.

Two logical tables (FIXTURES.md B1 schemas):
  points: file, scan_number, point_index, values MAP<STRING,DOUBLE>,
          mca ARRAY<DOUBLE>
  scans:  file, scan_number, command, ts TIMESTAMP, count_time, monitor,
          hkl ARRAY<DOUBLE>, ub ARRAY<DOUBLE>, wavelength,
          motors MAP<STRING,DOUBLE>, columns ARRAY<STRING>,
          n_points_declared INT, aborted BOOLEAN

The trade: one task per file, since wholetext never splits a file (the
Python reader this replaced ran one task per scan block).  Many files
spread over the cores; one file is one task and must stay under 2 GB.
A loaded frame is a snapshot: its text is cut to the file size Spark
listed at load, so scans appended later are seen by a new read (pyspec
`reload`).  Where the parse differs from spec_format:
  - a directory lists no name starting with `_` or `.`, as in every
    Spark file source, and naming such a file raises ValueError
    (Spark would read it as empty);
  - numbers take ASCII digits only (Python's int() and float() also
    take other Unicode digits);
  - a value spec_format raises on (an MCA, `#G` or `#P` value that is
    no float) is null here;
  - a `#D` leap second (:60, :61) is a null timestamp; Python rolls it
    over into the next minute.

`spark.readStream.format("specfile")` is the streaming source: it tails
appended scans with the Python parser (SpecSimpleStreamReader).
"""

from __future__ import annotations

import datetime
import glob as globmod
import os
from typing import Iterator

from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
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


def _hidden(path: str) -> bool:
    """A name Spark's file sources skip even when it is named
    explicitly: a leading `.`, a leading `_` without `=`, or a
    `._COPYING_` suffix."""
    name = os.path.basename(path)
    return (
        name.startswith(".")
        or (name.startswith("_") and "=" not in name)
        or name.endswith("._COPYING_")
    )


def _resolve_paths(path_opt: str) -> list[str]:
    paths: list[str] = []
    for p in path_opt.split(","):
        p = p.strip()
        if not p:
            continue
        if os.path.isdir(p):
            # a directory lists what Spark lists: `_SUCCESS` and other
            # hidden names are not data
            found = sorted(globmod.glob(os.path.join(p, "*")))
            paths.extend(q for q in found if not _hidden(q))
        else:
            paths.extend(sorted(globmod.glob(p)) or [p])
    return [p for p in paths if os.path.isfile(p)]


def _scan_rows(
    table: str, path: str, motor_names: list[str], block: str
) -> Iterator[tuple]:
    """Parse one scan block's text into rows of the requested logical
    table with spec_format (the streaming tail reader's rows)."""
    from pyspec_spark.sources.spec_format import parse_scan_block

    scan = parse_scan_block(block, motor_names)
    fname = os.path.basename(path)

    if table == "scans":
        # tz-aware UTC pairs with parse_spec_date's timegm: the
        # round-trip is host-timezone independent
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
    """spark.readStream.format("specfile"): tails appended scans
    (SpecSimpleStreamReader).  Batch reads go through ``read_spec``."""

    @classmethod
    def name(cls) -> str:
        return "specfile"

    def schema(self):
        table = self.options.get("table", "points")
        return SCANS_SCHEMA if table == "scans" else POINTS_SCHEMA

    def simpleStreamReader(self, schema):  # noqa: N802 (API name)
        return SpecSimpleStreamReader(
            self.options, self.options.get("table", "points")
        )


def register(spark) -> None:
    spark.dataSource.register(SpecDataSource)


# -- batch reads: spec_format's parse as built-in expressions ---------------
# Java regex for Python's str.splitlines() breaks and str.isspace() spaces
_BREAKS = r"\n\x0b\x0c\x1c-\x1e\x85\u2028\u2029"
_LB = rf"(?:\r\n|[\r{_BREAKS}])"
_WS = r"[\s\x1c-\x1f\x85\xa0\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000]"
_HWS = r"[\t \x1f\xa0\u1680\u2000-\u200a\u202f\u205f\u3000]"  # within a line
_LINE = rf"[^\r{_BREAKS}]*"
# One item per line, except that an `@A` line and the lines its trailing
# backslashes continue are one item: parse_scan_block's MCA state machine.
_ITEM = (
    rf"(?:^|(?<=[{_BREAKS}])|(?<=\r)(?!\n))"
    rf"(?:{_HWS}*@A(?:{_LINE}\\{_HWS}*{_LB})*{_LINE}|{_LINE})"
)
_D = r"\d(?:_?\d)*"  # int() and float() digits (ASCII only)
_INT = rf"^[+-]?{_D}$"
_FLOAT = (
    rf"(?i)^[+-]?(?:(?:{_D}(?:\.(?:{_D})?)?|\.{_D})(?:e[+-]?{_D})?"
    r"|inf(?:inity)?|nan)$"
)
# time.strptime's "%a %b %d %H:%M:%S %Y" and "%Y-%m-%d %H:%M:%S"
_HMS = rf"(3[01]|[12]\d|0?[1-9]){_WS}+(2[0-3]|[01]?\d):([0-5]?\d):(6[01]|[0-5]?\d)"
_CTIME = (
    rf"(?i)^(?:mon|tue|wed|thu|fri|sat|sun){_WS}+"
    rf"(jan|feb|mar|apr|may|jun|jul|aug|sep|oct|nov|dec){_WS}+{_HMS}{_WS}+(\d{{4}})$"
)
_ISO = rf"^(\d{{4}})-(1[0-2]|0?[1-9])-{_HMS}$"
_ASCAN = ("ascan", "dscan", "a2scan", "d2scan", "th2th")


def _rec(**fields):
    """A struct built inside a lambda, where aliases are dropped."""
    return F.named_struct(*(x for k, c in fields.items() for x in (F.lit(k), c)))


def _strip(s):
    return F.regexp_replace(s, rf"^{_WS}+|{_WS}+$", "")


def _tokens(s):  # str.split()
    return F.filter(F.split(s, rf"{_WS}+"), lambda t: t != "")


def _float(t):  # float(t), null where Python raises
    return F.when(t.rlike(_FLOAT), F.translate(t, "_", "").try_cast("double"))


def _floats(s):
    return F.transform(_tokens(s), _float)


def _rest(s):  # stripped[2:], the text after a two-character tag
    return F.substring(s, 3, 1 << 30)


def _last(arr, pred):
    return F.try_element_at(F.filter(arr, pred), F.lit(-1))


def _labels(s):  # spec_format.split_labels
    s = _strip(s)
    sep2 = F.filter(F.split(s, f"{_WS}{{2,}}"), lambda t: t != "")
    return F.when(s.rlike(f"{_WS}{{2}}"), sep2).otherwise(_tokens(s))


def _indexed(lines, tag, parse):
    """`#O<i>`/`#P<i>` lines as a dict {i: values}, concatenated by i."""
    ents = F.transform(
        F.filter(lines, lambda s: s.rlike(rf"^{tag}\d+{_WS}")),
        lambda s: _rec(
            i=F.regexp_extract(s, rf"^{tag}(\d+)", 1).try_cast("int"),
            v=parse(F.regexp_extract(s, rf"(?s)^{tag}\d+{_WS}(.*)", 1)),
        ),
    )

    def replaced(e, j):  # a later line has the same index
        return F.exists(F.slice(ents, j + 2, F.size(ents)), lambda o: o.i == e.i)

    last = F.filter(ents, lambda e, j: ~replaced(e, j))
    return F.flatten(F.transform(F.array_sort(last), lambda e: e.v))


def _dict(keys, vals):
    """dict(zip(keys, vals)): cut to the shorter; a repeated key keeps
    its first position and its last value."""
    n = F.least(F.size(keys), F.size(vals))
    k, v = F.slice(keys, 1, n), F.slice(vals, 1, n)
    uk = F.array_distinct(k)

    def last(x):
        return F.element_at(v, (n + 1 - F.array_position(F.reverse(k), x)).cast("int"))

    return F.map_from_arrays(
        uk, F.when(F.size(uk) == n, v).otherwise(F.transform(uk, last))
    )


def _spec_date(s):  # spec_format.parse_spec_date, as a UTC timestamp
    def parse(pat, to, fmt):
        norm = F.concat(F.regexp_replace(s, pat, to), F.lit(" +0000"))
        return F.when(s.rlike(pat), F.try_to_timestamp(norm, F.lit(fmt + " Z")))

    return F.coalesce(
        parse(_CTIME, "$1 $2 $3:$4:$5 $6", "MMM d H:m:s yyyy"),
        parse(_ISO, "$1-$2-$3 $4:$5:$6", "y-M-d H:m:s"),
    )


def read_spec(spark, path: str, table: str = "points", scans=None):
    """The batch front door: the ``points`` or ``scans`` table of the
    SPEC files ``path`` names (a file, directory, glob or comma list).
    ``scans`` keeps only the listed scan numbers' blocks, before any of
    their lines is parsed."""
    paths = _resolve_paths(path)
    hidden = [p for p in paths if _hidden(p)]
    if hidden:
        raise ValueError(
            f"{hidden[0]}: Spark's file sources skip names starting with "
            "'_' or '.', so this file would read as empty; rename it"
        )
    if not paths:
        schema = SCANS_SCHEMA if table == "scans" else POINTS_SCHEMA
        return spark.createDataFrame([], schema)
    literal = ["".join("\\" + c if c in "{}[]*?\\" else c for c in p) for p in paths]
    name = F.replace("_metadata.file_name", F.lit("+"), F.lit("%2B"))
    # wholetext reads the live file: cut it to the size listed at load,
    # so that a loaded frame stays a snapshot
    size = "substring(cast(value as binary), 1, _metadata.file_size)"
    files = spark.read.text(literal, wholetext=True).select(
        F.url_decode(name).alias("file"),
        F.expr(f"cast({size} as string)").alias("text"),
    )
    motors = []
    if table == "scans":  # once per file, not once per block
        header = F.split(F.substring_index("text", "\n#S ", 1), _LB)
        files = files.select("*", _indexed(header, "#O", _labels).alias("motor_names"))
        motors = ["motor_names"]
    blocks = files.select(
        "file", *motors, F.explode(F.split("text", r"\n(?=#S \d)")).alias("block")
    ).where(F.col("block").rlike(r"^#S \d"))  # the header is no block
    if scans is not None:
        num = F.regexp_extract("block", r"^#S (\d+)", 1).try_cast("int")
        blocks = blocks.where(num.isin(sorted(set(scans))))
    items = blocks.select(
        "file", *motors, F.regexp_extract_all("block", F.lit(_ITEM), 0).alias("items")
    )
    head, s_line = F.try_element_at("items", F.lit(1)), rf"(?s)^#S{_WS}+(\d+){_WS}+(.*)"
    bad = F.raise_error(F.concat(F.lit("not a scan block: "), F.substring(head, 1, 60)))
    parsed = items.select(
        "file",
        *motors,
        F.when(head.rlike(s_line), F.regexp_extract(head, s_line, 1).try_cast("int"))
        .otherwise(bad)
        .alias("scan_number"),
        _strip(F.regexp_extract(head, s_line, 2)).alias("command"),
        F.transform("items", _strip).alias("lines"),
    )
    lines = F.col("lines")
    last_l = _last(lines, lambda s: s.startswith("#L"))
    columns = F.coalesce(_labels(_rest(last_l)), F.array().cast("array<string>"))
    if table == "scans":
        return _scans(parsed.withColumn("columns", columns))

    def event(s):  # a data row or an MCA group; other lines are no event
        mca = F.regexp_replace(_rest(s), rf"\\+{_HWS}*(?:{_LB}|$)", " ")
        return F.when(s.startswith("@A"), _rec(mca=F.lit(True), v=_floats(mca))).when(
            (s != "") & ~s.startswith("#"), _rec(mca=F.lit(False), v=_floats(s))
        )

    events = F.filter(
        F.transform(lines, event),
        lambda e: e.isNotNull() & (e.mca | F.forall(e.v, lambda x: x.isNotNull())),
    )
    ev = parsed.select(
        "file", "scan_number", columns.alias("columns"), events.alias("ev")
    )

    def point(e, j):  # a point's MCA is the MCA group right after it
        nxt = F.try_element_at("ev", j + 2)
        return _rec(d=~e.mca, row=e.v, mca=F.when(nxt.mca, nxt.v))

    rows = F.filter(F.transform("ev", point), lambda r: r.d)
    return ev.select("file", "scan_number", "columns", F.posexplode(rows)).select(
        "file",
        "scan_number",
        F.col("pos").alias("point_index"),
        _dict(F.col("columns"), F.col("col.row")).alias("values"),
        F.col("col.mca").alias("mca"),
    )


def _scans(parsed):
    """The scans table from the parsed blocks' `#` lines."""
    ctl = parsed.select(
        "*",
        F.filter("lines", lambda s: s.startswith("#")).alias("ctl"),
        _tokens(F.col("command")).alias("cmd"),
    )

    def tagged(tag, value):
        return F.transform(F.filter("ctl", lambda s: s.startswith(tag)), value)

    geo = tagged("#G", lambda s: _rec(
        i=F.regexp_extract(s, r"^#G(\d+)" + _WS, 1).try_cast("int"),
        v=_floats(F.regexp_replace(s, r"^#G\d+", "")),
    ))
    def first(s):
        return _float(F.try_element_at(_tokens(_rest(s)), F.lit(1)))

    fields = ctl.select(
        "*",
        _strip(_rest(_last("ctl", lambda s: s.startswith("#D")))).alias("date"),
        _last(tagged("#T", first), lambda x: x.isNotNull()).alias("count_time"),
        _last(tagged("#M", first), lambda x: x.isNotNull()).alias("monitor"),
        _last(geo, lambda g: (g.i == 3) & (F.size(g.v) >= 9)).v.alias("ub"),
        _last(geo, lambda g: (g.i == 4) & (F.size(g.v) > 0)).v.alias("g4"),
        _last(
            tagged("#Q", lambda s: _floats(_rest(s))),
            lambda v: F.forall(v, lambda x: x.isNotNull()),
        ).alias("hkl"),
        F.try_element_at("cmd", F.lit(-2)).alias("n_pts"),
        _indexed(F.col("ctl"), "#P", _floats).alias("positions"),
    )
    n_pts, cmd = F.col("n_pts"), F.col("cmd")
    ascan = (F.size(cmd) >= 5) & F.try_element_at(cmd, F.lit(1)).isin(*_ASCAN)
    declared = F.translate(n_pts, "_", "").try_cast("int") + 1
    return fields.select(
        "file",
        "scan_number",
        "command",
        _spec_date(F.col("date")).alias("ts"),
        "count_time",
        "monitor",
        F.slice("hkl", 1, 3).alias("hkl"),
        F.slice("ub", 1, 9).alias("ub"),
        F.try_element_at("g4", F.lit(1)).alias("wavelength"),
        _dict(F.col("motor_names"), F.col("positions")).alias("motors"),
        "columns",
        F.when(ascan & n_pts.rlike(_INT), declared).alias("n_points_declared"),
        F.exists("ctl", lambda s: s.startswith("#C") & F.lower(s).contains("abort"))
        .alias("aborted"),
    )
