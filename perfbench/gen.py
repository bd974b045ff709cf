"""Seeded input generators for the benchmark.

Everything the benchmark feeds the engine is made here from ``--seed``:
the same seed gives byte-identical inputs, and a different seed gives
inputs of the same size and shape with different values, so run-to-run
spread measures the engine, not the data volume.

- ``make_tables``: the ten-table star schema the declared queries read
  (``pyspec_spark.tables.TABLES``), with the column names, types and
  value domains of the engine's test data, at a chosen scale factor.
- ``make_spec``: SPEC text files with the quirks the source parser must
  handle (MCA continuation lines, an aborted scan, a duplicate scan
  number, a scan with a different ``#L`` set), plus the generator's
  ground truth as parquet for the DuckDB twin.
- ``make_lake_slices``: a keyed table of lineitem-like rows plus the
  append and upsert slices the lake workload writes.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _write(df: pd.DataFrame, path: str, schema: pa.Schema) -> None:
    pq.write_table(
        pa.Table.from_pandas(df, schema=schema, preserve_index=False), path
    )


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    span = int((hi - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(out: str, seed: int, sf: float = 0.01) -> dict[str, int]:
    """Write the star schema under ``out``; returns rows per table."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(
        pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}),
        f"{out}/region.parquet",
        pa.schema([("r_regionkey", i32), ("r_name", s)]),
    )
    nk = np.arange(25, dtype=np.int32)
    _write(
        pd.DataFrame({
            "n_nationkey": nk,
            "n_name": [f"NATION_{k}" for k in nk],
            "n_regionkey": (nk % 5).astype(np.int32),
        }),
        f"{out}/nation.parquet",
        pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]),
    )
    ck = np.arange(n_cust)
    _write(
        pd.DataFrame({
            "c_custkey": ck,
            "c_name": [f"Customer#{k:09d}" for k in ck],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }),
        f"{out}/customer.parquet",
        pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                   ("c_acctbal", f64), ("c_mktsegment", s)]),
    )
    sk = np.arange(n_supp)
    _write(
        pd.DataFrame({
            "s_suppkey": sk,
            "s_name": [f"Supplier#{k:09d}" for k in sk],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        f"{out}/supplier.parquet",
        pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                   ("s_acctbal", f64)]),
    )
    pk = np.arange(n_part)
    _write(
        pd.DataFrame({
            "p_partkey": pk,
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (pk % 1000) / 10, 2),
        }),
        f"{out}/part.parquet",
        pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s),
                   ("p_type", s), ("p_size", i32), ("p_retailprice", f64)]),
    )
    _write(
        pd.DataFrame({
            "o_orderkey": np.arange(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }),
        f"{out}/orders.parquet",
        pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                   ("o_totalprice", f64), ("o_orderdate", ts),
                   ("o_orderpriority", s)]),
    )
    _write(
        lineitem_frame(rng, n_li, n_ord, n_part, n_supp),
        f"{out}/lineitem.parquet",
        LINEITEM_SCHEMA,
    )
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev))
    _write(
        pd.DataFrame({
            "event_id": np.arange(n_ev),
            "ts": t0 + offs.astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(150, n_cust // 10), n_ev),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }),
        f"{out}/events.parquet",
        pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64),
                   ("event_type", s), ("value", f64), ("props", s)]),
    )
    texts: list[str] = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(rng.choice(WORDS, k)))
    _write(
        pd.DataFrame({
            "doc_id": np.arange(n_doc),
            "text": texts,
            "lang": rng.choice(LANGS, n_doc),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }),
        f"{out}/documents.parquet",
        pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s),
                   ("n_chars", i64)]),
    )
    v = rng.standard_normal((n_vec, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(
        pd.DataFrame({
            "vec_id": np.arange(n_vec),
            "embedding": list(v),
            "label": rng.integers(0, 10, n_vec).astype(np.int32),
        }),
        f"{out}/embeddings.parquet",
        pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                   ("label", i32)]),
    )
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_li, "events": n_ev, "documents": n_doc, "embeddings": n_vec,
    }


LINEITEM_SCHEMA = pa.schema([
    ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
    ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
    ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
    ("l_tax", pa.float64()), ("l_returnflag", pa.string()),
    ("l_linestatus", pa.string()), ("l_shipdate", pa.timestamp("us")),
])


def lineitem_frame(rng, n, n_ord, n_part, n_supp) -> pd.DataFrame:
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n),
        "l_partkey": rng.integers(0, n_part, n),
        "l_suppkey": rng.integers(0, n_supp, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
        "l_discount": np.round(rng.uniform(0, 0.1, n), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _days(rng, n, "1995-01-02", "2001-11-04"),
    })


# ---------------------------------------------------------------------------
# Lake workload inputs
# ---------------------------------------------------------------------------
LAKE_SCHEMA = pa.schema([
    ("row_id", pa.int64()), ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
    ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
    ("l_returnflag", pa.string()), ("l_shipyear", pa.int32()),
])


def _lake_rows(rng, ids: np.ndarray, years: np.ndarray | None = None) -> pd.DataFrame:
    li = lineitem_frame(rng, len(ids), 5_000, 2_000, 100)
    if years is None:
        years = li.l_shipdate.dt.year.to_numpy()
    return pd.DataFrame({
        "row_id": ids.astype(np.int64),
        "l_orderkey": li.l_orderkey.to_numpy(),
        "l_partkey": li.l_partkey.to_numpy(),
        "l_quantity": li.l_quantity.to_numpy(),
        "l_extendedprice": li.l_extendedprice.to_numpy(),
        "l_returnflag": li.l_returnflag.to_numpy(),
        "l_shipyear": np.asarray(years, dtype=np.int32),
    })


def make_lake_slices(
    out: str, seed: int, base_rows: int, n_append: int, append_rows: int,
    n_upsert: int, upsert_rows: int,
) -> dict:
    """Write the base table and the slices one lake pass writes.

    Appends carry fresh row ids.  Each upsert slice replaces existing
    rows of ONE ship year (so a partition-aware writer rewrites one
    partition of seven) and adds a fifth as many new rows of that year.
    Returns the slice file names in write order, also saved as
    ``slices.json``."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed + 7)
    base = _lake_rows(rng, np.arange(base_rows))
    _write(base, f"{out}/base.parquet", LAKE_SCHEMA)
    next_id = base_rows
    appends = []
    for i in range(n_append):
        ids = np.arange(next_id, next_id + append_rows)
        next_id += append_rows
        appends.append(f"append{i}.parquet")
        _write(_lake_rows(rng, ids), f"{out}/{appends[-1]}", LAKE_SCHEMA)
    upserts = []
    for i in range(n_upsert):
        year = int(rng.choice(np.unique(base.l_shipyear)))
        pool = base.row_id[base.l_shipyear == year].to_numpy()
        n_old = min(len(pool), upsert_rows - upsert_rows // 5)
        old_ids = rng.choice(pool, n_old, replace=False)
        new_ids = np.arange(next_id, next_id + upsert_rows // 5)
        next_id += len(new_ids)
        ids = np.concatenate([old_ids, new_ids])
        upserts.append(f"upsert{i}.parquet")
        _write(
            _lake_rows(rng, ids, np.full(len(ids), year)),
            f"{out}/{upserts[-1]}", LAKE_SCHEMA,
        )
    out_names = {"base": "base.parquet", "appends": appends, "upserts": upserts}
    with open(f"{out}/slices.json", "w") as fh:
        json.dump(out_names, fh)
    return out_names


# ---------------------------------------------------------------------------
# SPEC files
# ---------------------------------------------------------------------------
MOTORS_0 = ["Theta", "TwoTheta", "Chi", "Phi"]
MOTORS_1 = ["Mu", "Gamma", "Sample_X", "Sample_Y"]
SPEC_COLUMNS = ["Theta", "H", "K", "L", "Epoch", "Seconds", "Monitor", "Detector"]
ALT_COLUMNS = ["Theta", "Detector2", "Monitor", "Detector"]
ALL_COLUMNS = SPEC_COLUMNS + ["Detector2"]
MCA_SCAN, ABORTED_SCAN, DUP_SCAN, ALT_SCAN = 3, 5, 7, 9


def _g(v: float) -> float:
    """The value a reader parses back from the ``%.6g`` text."""
    return float(f"{v:.6g}")


def make_spec(out: str, seed: int, n_files: int, n_scans: int) -> dict:
    """Write ``n_files`` SPEC files of ``n_scans`` scans each under
    ``out/spec`` and their ground truth as ``out/spec_points.parquet``
    (one row per point, one column per counter, null where a scan lacks
    the counter) and ``out/spec_scans.parquet`` (one row per scan
    block).  File 0 carries one instance of each quirk."""
    sdir = os.path.join(out, "spec")
    os.makedirs(sdir, exist_ok=True)
    points: list[dict] = []
    scans: list[dict] = []
    files = []
    for fi in range(n_files):
        rng = np.random.default_rng(seed * 1000 + fi)
        name = f"exp{fi}.spec"
        files.append(name)
        lines = [f"#F {name}", "#E 1300000000", "#D Thu Feb 24 14:05:35 2011",
                 "#O0 " + "  ".join(MOTORS_0), "#O1 " + "  ".join(MOTORS_1), ""]
        block = 0

        def emit(n: int, npts: int, aborted=False, mca=False, alt=False):
            nonlocal block
            a = 1000 + 100 * n + float(rng.integers(0, 50))
            mu, sig = 5.0 + 0.1 * n, 0.5
            monitor = 1e5 * (1 + 0.01 * rng.standard_normal())
            lines.append(f"#S {n} ascan th {mu - 1:.4f} {mu + 1:.4f} {npts - 1} 1")
            lines.append(f"#D Thu Feb 24 {14 + n % 8}:{n % 60:02d}:35 2011")
            lines.append("#T 1 (Seconds)")
            if n % 2 == 1:
                lines.append(f"#M {monitor:.1f} (Monitor)")
            lines.append("#G0 0 0 0 0")
            lines.append("#G1 1.54 1.54 1.54 90 90 90")
            lines.append("#G2 0 0 0")
            ub = np.round(np.eye(3).flatten() * (1 + 0.01 * n), 6)
            lines.append("#G3 " + " ".join(f"{v:.6f}" for v in ub))
            lines.append("#G4 1.5405 0 0")
            lines.append(f"#Q {0.1 * n:.4f} 0.0000 {1.0 + 0.01 * n:.4f}")
            p0 = np.round(rng.uniform(-10, 10, 4), 4)
            p1 = np.round(rng.uniform(-10, 10, 4), 4)
            lines.append("#P0 " + " ".join(f"{v:.4f}" for v in p0))
            lines.append("#P1 " + " ".join(f"{v:.4f}" for v in p1))
            cols = ALT_COLUMNS if alt else SPEC_COLUMNS
            lines.append(f"#N {len(cols)}")
            lines.append("#L " + "  ".join(cols))
            n_emit = npts // 3 if aborted else npts
            th = np.linspace(mu - 1, mu + 1, npts)
            for i in range(n_emit):
                det = float(np.round(
                    a * np.exp(-((th[i] - mu) ** 2) / (2 * sig**2)) + 100
                    + rng.poisson(10)
                ))
                if alt:
                    row = [th[i], det / 2, monitor, det]
                else:
                    row = [th[i], 0.1 * n, 0.0, 1.0 + 0.01 * n,
                           1300000000 + i, 1.0, monitor, det]
                lines.append(" ".join(f"{v:.6g}" for v in row))
                rec = {c: None for c in ALL_COLUMNS}
                rec.update({c: _g(v) for c, v in zip(cols, row)})
                points.append({"file": name, "scan_number": n, "block": block,
                               "point_index": i, **rec})
                if mca and i < 2:
                    spec = rng.integers(0, 1000, 1024)
                    for ci in range(0, 1024, 16):
                        pre = "@A " if ci == 0 else ""
                        suf = " \\" if ci < 1008 else ""
                        lines.append(pre + " ".join(str(int(v)) for v in spec[ci:ci + 16]) + suf)
            if aborted:
                lines.append(
                    "#C Thu Feb 24 14:20:00 2011.  Scan aborted after %d points." % n_emit
                )
            lines.append("")
            motors = dict(zip(MOTORS_0 + MOTORS_1, [float(v) for v in list(p0) + list(p1)]))
            scans.append({
                "file": name, "scan_number": n, "block": block,
                "columns": json.dumps(cols), "n_points": n_emit,
                "n_points_declared": npts, "aborted": aborted,
                "motors": json.dumps(motors),
            })
            block += 1

        for n in range(1, n_scans + 1):
            quirk = fi == 0
            if quirk and n == MCA_SCAN:
                emit(n, 11, mca=True)
            elif quirk and n == ABORTED_SCAN:
                emit(n, 41, aborted=True)
            elif quirk and n == ALT_SCAN:
                emit(n, 11, alt=True)
            else:
                emit(n, [11, 41, 81][n % 3])
            if quirk and n == DUP_SCAN:
                emit(n, 11)
        with open(os.path.join(sdir, name), "w") as fh:
            fh.write("\n".join(lines))
    pts = pd.DataFrame(points)
    for c in ALL_COLUMNS:
        pts[c] = pts[c].astype("float64")
    pts.to_parquet(os.path.join(out, "spec_points.parquet"), index=False)
    pd.DataFrame(scans).to_parquet(os.path.join(out, "spec_scans.parquet"), index=False)
    return {"dir": sdir, "files": files, "n_scans": n_scans}
