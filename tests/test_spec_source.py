"""Golden + behavior tests for the SPEC DataSource (SURVEY.md §2 S1/S2,
§5.2 layer 2).  Fixtures: synthetic SPEC files per FIXTURES.md B1."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.fixtures import MOTORS_0, MOTORS_1, SPEC_COLUMNS, make_spec_dir


@pytest.fixture(scope="module")
def spec_dir(tmp_path_factory):
    base = tmp_path_factory.mktemp("spec_files")
    truths = make_spec_dir(str(base))
    return str(base), truths


@pytest.fixture(scope="module")
def registered(spark):
    from pyspec_spark.sources.spec_datasource import register

    register(spark)
    return spark


def _points(spark, path, table="points", scans=None):
    from pyspec_spark.sources.spec_datasource import read_spec

    if scans is not None:
        scans = [int(s) for s in scans.split(",")]
    return read_spec(spark, path, table, scans)


def test_point_counts_match_truth(registered, spec_dir):
    spark = registered
    base, truths = spec_dir
    df = _points(spark, base)
    got = {
        (r["file"], r["scan_number"]): r["n"]
        for r in df.groupBy("file", "scan_number").count().withColumnRenamed("count", "n").collect()
    }
    for t in truths:
        fname = t["file"]
        for n, s in t["scans"].items():
            expected = s["n_points"]
            if fname == "exp0.spec" and n == 19:
                expected += t["dup_19"]["n_points"]
            assert got[(fname, n)] == expected, (fname, n)


def test_values_map_and_columns(registered, spec_dir):
    spark = registered
    base, truths = spec_dir
    row = (
        _points(spark, base)
        .where("file = 'exp1.spec' AND scan_number = 2 AND point_index = 0")
        .collect()[0]
    )
    assert set(row["values"].keys()) == set(SPEC_COLUMNS)
    assert row["values"]["Monitor"] > 9e4


def test_scan_metadata(registered, spec_dir):
    spark = registered
    base, truths = spec_dir
    scans = _points(spark, base, table="scans")
    r = {s["scan_number"]: s for s in scans.where("file = 'exp0.spec'").collect()}
    truth = truths[0]["scans"]
    # UB, wavelength, motors, monitor
    assert r[3]["wavelength"] == pytest.approx(1.5405)
    assert list(r[3]["ub"]) == pytest.approx(truth[3]["ub"])
    assert r[3]["monitor"] == pytest.approx(truth[3]["monitor"], rel=1e-6)
    assert r[4]["monitor"] is None  # even scans have no #M
    m = r[5]["motors"]
    assert set(m.keys()) == set(MOTORS_0 + MOTORS_1)
    for k, v in truth[5]["motors"].items():
        assert m[k] == pytest.approx(v, abs=1e-4)
    # aborted quirk
    assert r[13]["aborted"] is True
    assert r[13]["n_points_declared"] == 41
    # alt-columns quirk
    assert list(r[21]["columns"]) == truth[21]["columns"]
    # command + date
    assert r[1]["command"].startswith("ascan th")
    assert r[1]["ts"] is not None and r[1]["ts"].year == 2011


def test_mca_attached(registered, spec_dir):
    spark = registered
    base, _ = spec_dir
    rows = (
        _points(spark, base)
        .where("file = 'exp0.spec' AND scan_number = 7 AND mca IS NOT NULL")
        .collect()
    )
    assert len(rows) == 2  # two points carry spectra
    assert all(len(r["mca"]) == 1024 for r in rows)


def test_duplicate_scan_number_kept(registered, spec_dir):
    spark = registered
    base, _ = spec_dir
    scans = _points(spark, base, table="scans")
    dups = scans.where("file = 'exp0.spec' AND scan_number = 19").collect()
    assert len(dups) == 2


def test_scans_option_prunes_partitions(registered, spec_dir):
    """The ``scans`` argument keeps exactly the listed scans' blocks
    (the distributed twin of pyspec's byte-offset index)."""
    from pyspec_spark.sources.spec_datasource import read_spec

    spark = registered
    base, _ = spec_dir
    assert _points(spark, base, scans="5").count() == 3 * 81
    assert read_spec(spark, base, scans=[5, 2]).count() == 3 * 2 * 81
    # no listed scan exists: an empty result, not an error
    assert _points(spark, base, scans="9999").collect() == []
    # a range predicate on an unpruned frame is filtered after the parse
    # (no pushdown); its count must still be exact
    got = _points(spark, base).where("scan_number >= 10 AND scan_number < 12")
    assert {r["scan_number"] for r in got.select("scan_number").collect()} == {10, 11}
    assert got.count() == 3 * (41 + 81)


def test_filtered_query_leaves_frame_unpruned(registered, spec_dir):
    """Spark reuses a loaded frame's planned read across queries, so a
    filtered count must not shrink a later unfiltered count of the same
    frame (a reader that pruned on pushed filters answered 3 x 81)."""
    from pyspec_spark.sources.spec_datasource import read_spec

    spark = registered
    base, _ = spec_dir
    pts = read_spec(spark, base)
    full = pts.count()
    assert pts.where(F.col("scan_number") == 5).count() == 3 * 81
    assert pts.count() == full


def test_union_of_filtered_branches_keeps_both_scans(registered, spec_dir):
    """Two differently-filtered branches of one read_spec frame share
    its planned read; their union must return both scans."""
    from pyspec_spark.sources.spec_datasource import read_spec

    spark = registered
    base, _ = spec_dir
    r = read_spec(spark, base)
    u = r.where(F.col("scan_number") == 3).union(r.where(F.col("scan_number") == 5))
    got = u.groupBy("scan_number").count().collect()
    assert {row["scan_number"]: row["count"] for row in got} == {3: 3 * 11, 5: 3 * 81}


# One file holding every parser quirk, and one file without a header.
_QUIRKS = (
    b"#F quirks.spec\r\n#E 1\r\n#D Thu Feb  4 10:00:00 2011\r\n"
    b"#O0 th  tth\tchi\n#O1 mu\n#O0 th  tth\n\n"
    b"#S 1 ascan th 0 1 4 1\n#D Thu Feb  4 10:00:00 2011\n"
    b"#T bad\n#T 1 (Seconds)\n#T oops\n#M 1000 (Monitor)\n"
    b"#G3 1 0 0 0 1 0 0 0 1\n#G3 1 2\n#G4 1.5405 0 0\n#Q 1 2 3 4\n#Q x\n"
    b"#P0 1 2\n#P1 4\n#P0 5 6\n#N 3\r#L a  b  a\n"
    b"1 2 3\n@A 1 2 \\\n3 4 \\\n  5\n"          # MCA chain on point 0
    b"4\t5 6\t\n@A 9 \\\n\n@A 7 8\n"            # blank line ends the chain
    b"x y z\n1d 2 3\n0x1p3 1 1\n"               # not Python floats
    b"1e3 -inf nan\n1_000 +2. .5\n"
    b"7 8 \\\n9 10 11\n#C note \\\n@A 42\n"      # only @A lines continue
    b"1\xc2\xa02\x0c3 4\n#C Scan aborted after 3 points.\r\n\n"
    b"#S 2 dscan x 0 1 2 1\r\n#D 2011-02-04 10:00:00\r\n#S foo bar\r\n"
    b"#S  3 two spaces\r\n1 2\r\n3 4\r\n\n"      # no #L
    b"#S 1 a2scan a 0 1 b 0 1 1_0 1\n#C bad \xff\xfe bytes\n"
    b"#D Sat Feb 29 10:00:00 2011\n#D Mon February 1 10:00:00 2011\n"
    b"#L a  b\n5 6\n\n"
    b"#S 3 timescan \xff\n#D thu FEB 4 9:5:3 2011\n#G0 0\n#Q\n#L a\n"
)
_NO_HEADER = b"#S 1 ascan th 0 1 1 1\n#O0 zz\n#P0 7\n#L a  b\n1 2\n"


def _canon(v):
    """Comparable form of a row value: NaN-safe, timezone-free."""
    import datetime
    import math

    if isinstance(v, float) and math.isnan(v):
        return "nan"
    if isinstance(v, datetime.datetime):
        return v.timestamp()
    if isinstance(v, dict):
        return sorted((k, _canon(x)) for k, x in v.items())
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    return v


def test_native_parse_matches_spec_format(registered, tmp_path):
    """read_spec's built-in-expression parse equals the Python parser
    (spec_format through `_scan_rows`, the streaming reader's rows) on:
    MCA chains, CRLF/CR/form-feed breaks, tabs, non-float rows, duplicate
    labels, no #L, non-numbered #S lines, no header, a one-digit #D day,
    an impossible date, aborted and duplicate scans, invalid UTF-8, and
    a file name with glob and URL characters.  A hidden file name is
    refused, not read as empty."""
    from pyspec_spark.sources.spec_datasource import _scan_rows, read_spec
    from pyspec_spark.sources.spec_format import index_scans, parse_file_header

    # glob and URL characters in a name must reach `file` unchanged
    files = (("quirks [1] a+b%20.spec", _QUIRKS), ("bare.spec", _NO_HEADER))
    for name, raw in files:
        (tmp_path / name).write_bytes(raw)
    for table in ("points", "scans"):
        want = []
        for name, raw in files:
            text = raw.decode("utf-8", errors="replace")
            motors = parse_file_header(text).motor_names
            for _, s, e in index_scans(text):
                want += _scan_rows(table, name, motors, text[s:e])
        got = read_spec(registered, str(tmp_path), table).collect()
        canon = [sorted(repr(_canon(tuple(r))) for r in rows) for rows in (got, want)]
        assert canon[0] == canon[1]
        assert len(want) == (5 if table == "scans" else 11)
    bad = tmp_path / "bad" / "nocmd.spec"
    bad.parent.mkdir()
    bad.write_text("#S 1 ascan\n1 2\n#S 2\n3 4\n")
    with pytest.raises(Exception, match="not a scan block"):
        read_spec(registered, str(bad)).collect()
    assert len(read_spec(registered, str(bad), scans=[1]).collect()) == 1
    # Spark skips `_`/`.` names even when named: naming one (or globbing
    # it) raises instead of reading empty; a directory listing skips it
    (bad.parent / "_hidden.spec").write_text("#S 1 ascan\n1 2\n")
    for named in ("_hidden.spec", "*.spec"):
        with pytest.raises(ValueError, match="_hidden.spec"):
            read_spec(registered, str(bad.parent / named))
    assert len(read_spec(registered, str(bad.parent), scans=[1]).collect()) == 1


def test_batch_reads_plan_no_python_node(registered, spec_dir):
    """The batch tables are built-in expressions end to end: no node of
    their executed plans starts a Python worker, and planning them runs
    no Spark job."""
    import re

    from pyspec_spark.api import SpecDataFile
    from pyspec_spark.sources.spec_datasource import read_spec

    spark = registered
    base, _ = spec_dir
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    frames = [
        read_spec(spark, base),
        read_spec(spark, base, "scans", scans=[5]),
        SpecDataFile(spark, base)[5].wide("Theta", "Detector"),
    ]
    plans = [f._jdf.queryExecution().executedPlan().toString() for f in frames]
    assert set(tracker.getJobIdsForGroup(None)) == before
    for plan in plans:
        assert "FileScan text" in plan
        assert not re.search(r"Python|Pandas|Arrow", plan), plan


def test_non_ascii_bytes_parse_like_whole_file(registered, tmp_path):
    """With multi-byte and invalid UTF-8 before and inside scan blocks,
    the rows equal a parse of the whole decoded file."""
    from pyspec_spark.sources.spec_datasource import read_spec
    from pyspec_spark.sources.spec_format import (
        index_scans,
        parse_file_header,
        parse_scan_block,
    )

    raw = (
        "#F ü.spec\n#E 1\n#C Grüße, µ-Probe — ok\n#O0 th  tth\n\n"
        "#S 1 ascan th 0 1 1 1\n#P0 1.5 2.5\n#C Détecteur réglé ✓\n"
        "#N 2\n#L a  b\n1 2\n3 4\n\n"
        "#S 2 ascan th 0 1 2 1\n#P0 3 4\n#C naïve — ζ\n#N 2\n#L a  b\n"
        "5 6\n7 8\n9 10\n"
    ).encode() + b"#C bad \xff\xfe bytes\n"
    f = tmp_path / "utf8.spec"
    f.write_bytes(raw)
    text = raw.decode("utf-8", errors="replace")
    motors = parse_file_header(text).motor_names
    assert motors == ["th", "tth"]
    for table in ("points", "scans"):
        want = []
        for _, s, e in index_scans(text):
            scan = parse_scan_block(text[s:e], motors)
            if table == "scans":
                want.append((scan.scan_number, scan.command, scan.motors))
            else:
                want += [(scan.scan_number, i, dict(zip(scan.columns, row)))
                         for i, row in enumerate(scan.data)]
        got = read_spec(registered, str(f), table).collect()
        if table == "scans":
            got = [(r[1], r[2], r[9]) for r in got]
        else:
            got = [(r[1], r[2], r[3]) for r in got]
        assert got == want and len(want) == (2 if table == "scans" else 5)


def test_reload_append_pattern(registered, spec_dir, tmp_path):
    """pyspec `reload`: re-running load() after append sees new scans."""
    import shutil

    spark = registered
    base, _ = spec_dir
    f = tmp_path / "grow.spec"
    shutil.copyfile(f"{base}/exp2.spec", f)
    n0 = _points(spark, str(f), table="scans").count()
    with open(f"{base}/exp2.spec") as src, open(f, "a") as dst:
        text = src.read()
        block = text[text.rindex("#S ") :].replace("#S 25", "#S 26")
        dst.write("\n" + block)
    n1 = _points(spark, str(f), table="scans").count()
    assert n1 == n0 + 1


# ---------------------------------------------------------------------------
# Streaming tail (r5): the reference's `reload` loop as a real
# Structured Streaming source (SpecSimpleStreamReader, SURVEY §2 S1xS7)
# ---------------------------------------------------------------------------
def _scan_block(src_text: str, new_number: int) -> str:
    """Clone the last #S block of a fixture file under a new number."""
    block = src_text[src_text.rindex("#S ") :]
    old = block.split()[1]
    return "\n" + block.replace(f"#S {old}", f"#S {new_number}")


def test_stream_tails_appended_scans(registered, spec_dir, tmp_path):
    """Streamed scans == batch re-read at every quiescent point, across
    a mid-stream append; the trailing scan is held until the file goes
    quiescent, then emitted exactly once."""
    import shutil
    import time as _time

    spark = registered
    base, _ = spec_dir
    f = str(tmp_path / "live.spec")
    shutil.copyfile(f"{base}/exp2.spec", f)
    src_text = open(f"{base}/exp2.spec").read()

    q = (
        spark.readStream.format("specfile")
        .option("path", f)
        .option("table", "scans")
        .load()
        .writeStream.format("memory")
        .queryName("spec_live")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        batch0 = _points(spark, f, table="scans").count()
        got0 = spark.sql("SELECT count(*) c FROM spec_live").first()["c"]
        assert got0 == batch0  # trailing scan emitted after quiescence

        # append two scans mid-stream (the pyspec reload pattern)
        with open(f, "a") as dst:
            dst.write(_scan_block(src_text, 26))
        q.processAllAvailable()
        with open(f, "a") as dst:
            dst.write(_scan_block(src_text, 27))
        q.processAllAvailable()
        # one more microbatch cycle for the quiescent trailing block
        deadline = _time.time() + 30
        want = batch0 + 2
        while _time.time() < deadline:
            q.processAllAvailable()
            if (
                spark.sql("SELECT count(*) c FROM spec_live").first()["c"]
                == want
            ):
                break
            _time.sleep(0.2)
        rows = spark.sql(
            "SELECT scan_number, count(*) n FROM spec_live "
            "GROUP BY scan_number"
        ).collect()
        streamed = {r["scan_number"]: r["n"] for r in rows}
        batch = {
            r["scan_number"]: r["n"]
            for r in _points(spark, f, table="scans")
            .groupBy("scan_number")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert streamed == batch
    finally:
        q.stop()


def test_stream_reader_replay_and_truncation_guard(spec_dir, tmp_path):
    """Unit-level offset semantics: readBetweenOffsets replays exactly
    the rows read() produced between two offsets, and a shrinking file
    (append-only violation) raises."""
    import shutil

    import pytest as _pytest

    from pyspec_spark.sources.spec_datasource import SpecSimpleStreamReader

    base, _ = spec_dir
    f = str(tmp_path / "replay.spec")
    shutil.copyfile(f"{base}/exp2.spec", f)

    r = SpecSimpleStreamReader({"path": f}, "points")
    o0 = r.initialOffset()
    rows1, o1 = r.read(o0)
    rows1 = list(rows1)
    rows2, o2 = r.read(o1)  # quiescent: trailing scan arrives
    rows2 = list(rows2)
    assert rows2  # the held-back trailing scan
    replay = list(r.readBetweenOffsets(o0, o2))
    assert replay == rows1 + rows2
    # a third poll with no growth yields nothing and a stable offset
    rows3, o3 = r.read(o2)
    assert list(rows3) == [] and o3 == o2

    # truncation: append-only violation must raise, not re-emit
    text = open(f).read()
    with open(f, "w") as fh:
        fh.write(text[: len(text) // 2])
    with _pytest.raises(ValueError, match="append-only"):
        r.read(o2)


def test_stream_normalization_prefix_matches_batch(
    registered, spec_dir, tmp_path
):
    """ST9-style composition: the getYE normalization prefix
    (streaming/spec.py) over the live tail equals the batch read
    through the SAME transformation — one code path, two runtimes."""
    import shutil

    from pyspec_spark.streaming.spec import normalized, read_spec_stream

    spark = registered
    base, _ = spec_dir
    f = str(tmp_path / "norm.spec")
    shutil.copyfile(f"{base}/exp2.spec", f)
    src_text = open(f"{base}/exp2.spec").read()

    q = (
        normalized(read_spec_stream(spark, f))
        .writeStream.format("memory")
        .queryName("spec_norm")
        .option("checkpointLocation", str(tmp_path / "ckpt_norm"))
        .start()
    )
    try:
        q.processAllAvailable()
        with open(f, "a") as dst:
            dst.write(
                "\n"
                + src_text[src_text.rindex("#S ") :].replace("#S 25", "#S 26")
            )
        q.processAllAvailable()
        q.processAllAvailable()  # quiescent poll releases the tail scan
        got = {
            (r["scan_number"], r["point_index"]): (r["norm"], r["norm_err"])
            for r in spark.sql("SELECT * FROM spec_norm").collect()
        }
        want = {
            (r["scan_number"], r["point_index"]): (r["norm"], r["norm_err"])
            for r in normalized(_points(spark, f)).collect()
        }
        assert got == want and len(want) > 0
    finally:
        q.stop()


def test_stream_poll_detects_points_into_emitted_scan(spec_dir, tmp_path):
    """The quiescence heuristic is VERIFIED retroactively: if the
    trailing scan was emitted (file quiescent for one poll) and data
    points later land in that same scan — acquisition slower than the
    trigger interval — the reader must raise, never silently drop the
    points.  Whitespace-only extent growth (the newline before a newly
    appended #S) stays legal."""
    import shutil

    import pytest as _pytest

    from pyspec_spark.sources.spec_datasource import SpecSimpleStreamReader

    base, _ = spec_dir
    f = str(tmp_path / "slow.spec")
    shutil.copyfile(f"{base}/exp2.spec", f)
    src_text = open(f"{base}/exp2.spec").read()

    r = SpecSimpleStreamReader({"path": f, "table": "points"}, "points")
    _, off1 = r._poll(r.initialOffset())     # sees file, not quiescent
    rows2, off2 = r._poll(off1)              # quiescent -> trailing emitted
    assert rows2, "trailing scan should emit on the quiescent poll"

    # legal: append a NEW scan (leading newline grows the old block by
    # whitespace only)
    with open(f, "a") as dst:
        dst.write(_scan_block(src_text, 30))
    rows3, off3 = r._poll(off2)
    # not quiescent yet -> nothing emitted, but no error either
    _, off4 = r._poll(off3)                  # quiescent -> scan 30 emits

    # violation: data points appended INTO the (already emitted)
    # trailing scan
    with open(f, "a") as dst:
        dst.write("1.25 1 1 1 0 1 100000 4242\n")
    with _pytest.raises(ValueError, match="already-emitted"):
        r._poll(off4)


def test_stream_poll_keeps_state_for_vanished_files(spec_dir, tmp_path):
    """A file transiently missing from the glob must keep its emitted
    counter in the offset — reappearing must NOT re-emit old scans."""
    import os
    import shutil

    from pyspec_spark.sources.spec_datasource import SpecSimpleStreamReader

    base, _ = spec_dir
    d = tmp_path / "dir"
    d.mkdir()
    f = str(d / "a.spec")
    shutil.copyfile(f"{base}/exp2.spec", f)

    r = SpecSimpleStreamReader({"path": str(d), "table": "points"}, "points")
    _, off1 = r._poll(r.initialOffset())
    rows2, off2 = r._poll(off1)              # quiescent -> all scans emitted
    n_emitted = off2["files"][f]["emitted"]
    assert n_emitted > 0

    hidden = str(tmp_path / "a.spec.tmp")    # outside the globbed dir
    os.rename(f, hidden)                     # transient disappearance
    rows3, off3 = r._poll(off2)
    assert rows3 == []
    assert off3["files"][f]["emitted"] == n_emitted  # state carried

    os.rename(hidden, f)                     # file comes back
    rows4, off4 = r._poll(off3)
    assert rows4 == []                       # nothing re-emitted
    assert off4["files"][f]["emitted"] == n_emitted
