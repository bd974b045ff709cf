"""SPEC data-file format: index + parse primitives.

The SPEC instrument-control program (Certified Scientific Software)
writes append-only text files: a file header block, then one block per
*scan*.  Public format, control lines:

  #F name        file name            #S n command    scan start
  #E epoch       file epoch           #D date         scan date
  #O<i> names    motor names (file)   #P<i> values    motor positions
  #T t (unit)    count time           #M m (unit)     monitor count
  #G0..#G4       geometry (UB on #G3, wavelength first on #G4)
  #Q h k l       HKL at scan start    #N ncols        column count
  #L names       column labels        #C comment      (aborted scans)
  @A v v v \\    MCA spectrum, continuation lines end with backslash

Reference behavior modeled: `pyspec/spec.py` `SpecDataFile.index()` (one
sequential pass recording scan byte offsets; the only optimization in
the reference engine) and `SpecScan.__init__` (control-line parse +
float64 data matrix).  SURVEY.md §0 citation policy applies: public-repo
paths, no line numbers.

This module is pure Python and I/O-free at parse time (it operates on
a scan block's text).  It serves the streaming source and the UDTF, and
is the oracle that `read_spec`'s built-in-expression parse is tested
against.
"""

from __future__ import annotations

import calendar
import re
import time
from dataclasses import dataclass, field

_SEP2 = re.compile(r"\s{2,}")


def split_labels(s: str) -> list[str]:
    """SPEC separates #O/#L labels by 2+ spaces when labels contain
    single spaces; fall back to whitespace split otherwise."""
    s = s.strip()
    if not s:
        return []
    if _SEP2.search(s):
        return [t for t in _SEP2.split(s) if t]
    return s.split()


def parse_spec_date(s: str) -> float | None:
    """`#D Thu Feb 24 14:05:35 2011` -> epoch seconds, interpreting the
    wall-clock time as UTC (`calendar.timegm`, not `time.mktime`) so the
    result is host-timezone independent and DST-unambiguous; pairs with
    `datetime.fromtimestamp(ts, tz=timezone.utc)` on read-back."""
    s = s.strip()
    for fmt in ("%a %b %d %H:%M:%S %Y", "%Y-%m-%d %H:%M:%S"):
        try:
            return float(calendar.timegm(time.strptime(s, fmt)))
        except ValueError:
            continue
    return None


@dataclass
class FileHeader:
    name: str | None = None
    epoch: float | None = None
    motor_names: list[str] = field(default_factory=list)


@dataclass
class Scan:
    scan_number: int
    command: str
    ts: float | None = None              # epoch seconds
    count_time: float | None = None
    monitor: float | None = None
    hkl: list[float] | None = None
    ub: list[float] | None = None        # 9 floats from #G3
    wavelength: float | None = None      # first float of #G4
    motors: dict[str, float] = field(default_factory=dict)
    columns: list[str] = field(default_factory=list)
    n_cols_declared: int | None = None   # from #N
    n_points_declared: int | None = None  # from the scan command (ascan family)
    aborted: bool = False
    data: list[list[float]] = field(default_factory=list)   # rows x columns
    mca: list[list[float] | None] = field(default_factory=list)  # per point


_SCAN_START = re.compile(r"(?m)^#S (\d+)")


def index_scans(text: str) -> list[tuple[int, int, int]]:
    """One sequential pass over the file: [(scan_number, start, end)].

    `start` is the offset of the `#S` line; `end` the offset one past the
    block (next `#S` or EOF).  Mirrors SpecDataFile.index().
    """
    starts = [(int(m.group(1)), m.start()) for m in _SCAN_START.finditer(text)]
    ends = [start for _, start in starts[1:]] + [len(text)]
    return [(num, start, end) for (num, start), end in zip(starts, ends)]


def parse_file_header(text: str) -> FileHeader:
    """Parse the header block: the text up to the first newline that
    is followed by `#S ` (all of it when there is none)."""
    hdr = FileHeader()
    stop = text.find("\n#S ")
    block = text if stop < 0 else text[:stop]
    motor_lines: dict[int, list[str]] = {}
    for line in block.splitlines():
        if line.startswith("#F"):
            hdr.name = line[2:].strip()
        elif line.startswith("#E"):
            try:
                hdr.epoch = float(line[2:].strip())
            except ValueError:
                pass
        elif line.startswith("#O"):
            m = re.match(r"#O(\d+)\s(.*)", line)
            if m:
                motor_lines[int(m.group(1))] = split_labels(m.group(2))
    for i in sorted(motor_lines):
        hdr.motor_names.extend(motor_lines[i])
    return hdr


def parse_scan_block(block: str, motor_names: list[str]) -> Scan:
    """Parse one scan's text block (from its #S line to the next)."""
    lines = block.splitlines()
    m = re.match(r"#S\s+(\d+)\s+(.*)", lines[0])
    if not m:
        raise ValueError(f"not a scan block: {lines[0][:60]!r}")
    scan = Scan(scan_number=int(m.group(1)), command=m.group(2).strip())
    # ascan-family commands declare `... <start> <stop> <intervals> <time>`
    # -> intervals+1 points (pyspec SpecScan convention)
    toks = scan.command.split()
    if toks and toks[0] in ("ascan", "dscan", "a2scan", "d2scan", "th2th") and len(toks) >= 5:
        try:
            scan.n_points_declared = int(toks[-2]) + 1
        except ValueError:
            pass

    positions: dict[int, list[float]] = {}
    data_rows: list[list[float]] = []
    mca_rows: list[list[float] | None] = []
    pending_mca: list[float] | None = None
    in_continuation = False

    def flush_mca() -> None:
        nonlocal pending_mca
        if pending_mca is not None:
            # attach to the most recent data point
            while len(mca_rows) < len(data_rows):
                mca_rows.append(None)
            if mca_rows and mca_rows[-1] is None and len(mca_rows) == len(data_rows):
                mca_rows[-1] = pending_mca
            pending_mca = None

    for line in lines[1:]:
        stripped = line.strip()
        if in_continuation:
            vals = stripped.rstrip("\\").split()
            assert pending_mca is not None
            pending_mca.extend(float(v) for v in vals)
            in_continuation = stripped.endswith("\\")
            if not in_continuation:
                flush_mca()
            continue
        if not stripped:
            continue
        if stripped.startswith("@A"):
            body = stripped[2:].strip()
            in_continuation = body.endswith("\\")
            pending_mca = [float(v) for v in body.rstrip("\\").split()]
            if not in_continuation:
                flush_mca()
            continue
        if stripped.startswith("#"):
            tag = stripped[:2]
            rest = stripped[2:]
            if tag == "#D":
                scan.ts = parse_spec_date(rest)
            elif tag == "#T":
                try:
                    scan.count_time = float(rest.split()[0])
                except (ValueError, IndexError):
                    pass
            elif tag == "#M":
                try:
                    scan.monitor = float(rest.split()[0])
                except (ValueError, IndexError):
                    pass
            elif tag == "#G":
                gm = re.match(r"#G(\d+)\s+(.*)", stripped)
                if gm:
                    gi = int(gm.group(1))
                    vals = [float(v) for v in gm.group(2).split()]
                    if gi == 3 and len(vals) >= 9:
                        scan.ub = vals[:9]
                    elif gi == 4 and vals:
                        scan.wavelength = vals[0]
            elif tag == "#Q":
                try:
                    scan.hkl = [float(v) for v in rest.split()][:3]
                except ValueError:
                    pass
            elif tag == "#P":
                pm = re.match(r"#P(\d+)\s+(.*)", stripped)
                if pm:
                    positions[int(pm.group(1))] = [
                        float(v) for v in pm.group(2).split()
                    ]
            elif tag == "#N":
                try:
                    scan.n_cols_declared = int(rest.split()[0])
                except (ValueError, IndexError):
                    pass
            elif tag == "#L":
                scan.columns = split_labels(stripped[2:])
            elif tag == "#C":
                if "abort" in stripped.lower():
                    scan.aborted = True
            continue
        # data row
        try:
            row = [float(v) for v in stripped.split()]
        except ValueError:
            continue
        if row:
            data_rows.append(row)
            mca_rows.append(None)

    flush_mca()
    flat_positions: list[float] = []
    for i in sorted(positions):
        flat_positions.extend(positions[i])
    scan.motors = dict(zip(motor_names, flat_positions))
    scan.data = data_rows
    while len(mca_rows) < len(data_rows):
        mca_rows.append(None)
    scan.mca = mca_rows[: len(data_rows)]
    return scan
