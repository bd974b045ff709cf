"""User-facing SpecDataFile facade — the reference's primary API shape
over the Spark engine (SURVEY.md §1 D1-D3, §3.1 E1).

The reference idioms and their equivalents here:

    pyspec                              pyspec_spark
    -----------------------------       ---------------------------------
    sf = SpecDataFile(fname)            sf = SpecDataFile(spark, fname)
    sf[12]                              sf[12]            (SpecScanFrame)
    sf[[34, 35, 36]]                    sf[[34, 35, 36]]  (concatenated)
    scan.Detector, scan.values[...]     scan.wide() / scan.col("Detector")
    scan.motors['th']                   scan.meta()['motors']['th']
    setMode('bin')                      sf[[...]].binned()
    sf.reload()                         sf.reload()

Everything returns DataFrames (lazy plans of built-in expressions over
the files' text, `read_spec`) except the per-scan metadata lookup,
which collects one row.  `sf[n]` keeps only scan n's blocks before
their lines are parsed: the equivalent of the reference's byte-offset
seek.

A handle is a snapshot of its files, as in pyspec: it memoizes one
loaded frame per (table, scans) and one SpecScanFrame per scan
selection, and each frame reads the bytes its files held when it was
loaded.  Scans appended after that are seen through `sf.reload()`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspec_spark.sources.spec_datasource import read_spec


class SpecScanFrame:
    """One scan (or a concatenation of scans) as DataFrames.

    `df` is the long points table (file, scan_number, point_index,
    values MAP, mca); `wide()` pivots the values map into one DOUBLE
    column per counter using the scan's `#L` column list."""

    def __init__(self, parent: "SpecDataFile", scan_numbers: list[int]):
        self._parent = parent
        self.scan_numbers = list(scan_numbers)

    @property
    def df(self) -> DataFrame:
        return self._parent._read("points", self.scan_numbers)

    # -- metadata ----------------------------------------------------------
    def meta(self) -> dict:
        """Per-scan header metadata (motors, UB, wavelength, command...).
        O(scans-requested) collect of the scans table — the analog of
        pyspec's parsed header attributes."""
        rows = self._parent._read("scans", self.scan_numbers).collect()
        if not rows:
            raise KeyError(f"scan(s) {self.scan_numbers} not found")
        if len(self.scan_numbers) == 1 and len(rows) == 1:
            return rows[0].asDict(recursive=True)
        return {r["scan_number"]: r.asDict(recursive=True) for r in rows}

    def columns(self) -> list[str]:
        """Union of the `#L` column lists of the member scans, in first-
        seen order (scans in one file usually share columns; a
        concatenation across differing `#L` sets unions them, missing
        counters read as null — SURVEY §1.2 schema-union policy).
        Memoized: the metadata collect runs once per frame."""
        cached = self.__dict__.get("_columns_cache")
        if cached is not None:
            return cached
        metas = (
            self._parent._read("scans", self.scan_numbers)
            .select("columns")
            .collect()
        )
        out: list[str] = []
        for r in metas:
            for c in r["columns"]:
                if c not in out:
                    out.append(c)
        self.__dict__["_columns_cache"] = out
        return out

    # -- data --------------------------------------------------------------
    def wide(self, *cols: str) -> DataFrame:
        """Points with one DOUBLE column per counter (`scan.values` as a
        relation).  Missing counters are null."""
        names = list(cols) or self.columns()
        sel = [F.col("file"), F.col("scan_number"), F.col("point_index")] + [
            F.element_at(F.col("values"), c).alias(c) for c in names
        ]
        return self.df.select(*sel)

    def col(self, name: str) -> DataFrame:
        """One counter as (scan_number, point_index, value) — the
        `scan.Detector` idiom."""
        return self.df.select(
            "scan_number",
            "point_index",
            F.element_at(F.col("values"), name).alias(name),
        )

    def __getattr__(self, name: str) -> DataFrame:
        """`scan.Detector` attribute access — like the reference API,
        an unknown counter RAISES instead of silently yielding an
        all-null column (a typo such as scan.Detecotr is an error, not
        an empty result).  Costs one memoized metadata
        lookup; use `.col(name)` to bypass the check for dynamic
        counters known to exist only in some member scans."""
        if name.startswith("_") or name in ("df", "scan_numbers"):
            raise AttributeError(name)
        known = self.columns()
        if name not in known:
            raise AttributeError(
                f"counter {name!r} is not in any member scan's #L list; "
                f"available: {known}"
            )
        return self.col(name)

    def binned(self) -> DataFrame:
        """pyspec `setMode('bin')`: repeated scans averaged point-by-
        point — groupBy(point_index) mean of every counter."""
        names = self.columns()
        aggs = [
            F.avg(F.element_at(F.col("values"), c)).alias(c) for c in names
        ] + [F.count("*").alias("n_scans")]
        return self.df.groupBy("point_index").agg(*aggs).orderBy("point_index")

    def normalized(self, counter: str, monitor: str = "Monitor") -> DataFrame:
        """Monitor normalization with the zero-guard and Poisson error
        (SURVEY §2 P3-P5): value/monitor, err = sqrt(value)/monitor."""
        v = F.element_at(F.col("values"), counter)
        m = F.nullif(F.element_at(F.col("values"), monitor), F.lit(0.0))
        return self.df.select(
            "scan_number",
            "point_index",
            (v / m).alias(counter),
            (F.sqrt(v) / m).alias(f"{counter}_err"),
        )

    def plot(
        self,
        counter: str,
        x: str | None = None,
        monitor: str | None = None,
        width: int = 480,
        height: int = 320,
    ) -> bytes:
        """SpecPlot analog (SURVEY §2 S6): PNG bytes of ``counter``
        vs the scan's first `#L` column (the scanned motor, the
        reference's default x) or an explicit ``x``, with Poisson error
        bars; ``monitor=`` normalizes y and its error first (the
        `norm=` option).  Rendering is operators/plotting.py — pure
        numpy + the in-repo PNG encoder; the Spark job that feeds it is
        the already-reduced scan table."""
        from pyspec_spark.operators.plotting import render_scan_png

        cols = self.columns()
        if counter not in cols:
            raise ValueError(f"counter {counter!r} not in {cols}")
        x = x or cols[0]
        if x not in cols:
            raise ValueError(f"x column {x!r} not in {cols}")
        xv = F.element_at(F.col("values"), x)
        yv = F.element_at(F.col("values"), counter)
        if monitor is not None:
            m = F.nullif(F.element_at(F.col("values"), monitor), F.lit(0.0))
            y, e = yv / m, F.sqrt(yv) / m
        else:
            y, e = yv, F.sqrt(yv)
        df = self.df.select(
            xv.alias("_x"), y.alias("_y"), e.alias("_e")
        )
        return render_scan_png(
            df, "_x", "_y", yerr="_e", width=width, height=height
        )


class SpecDataFile:
    """Open one or more SPEC files.

    `path` accepts a file, a directory, a glob, or a comma-separated
    list (`read_spec`'s path)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._frames: dict[tuple, DataFrame] = {}
        self._scan_frames: dict[tuple, SpecScanFrame] = {}

    def _read(self, table: str, scans: list[int] | None = None) -> DataFrame:
        key = (table, None if scans is None else tuple(sorted(set(scans))))
        if key not in self._frames:
            self._frames[key] = read_spec(self.spark, self.path, table, scans)
        return self._frames[key]

    def points(self) -> DataFrame:
        return self._read("points")

    def scans(self) -> DataFrame:
        return self._read("scans")

    def reload(self) -> "SpecDataFile":
        """Re-index appended files (pyspec `reload`): this handle keeps
        its snapshot; the returned handle plans fresh reads that see the
        new scans.  Streaming ingestion of the same append pattern lives
        in `streaming/spec.py`."""
        return SpecDataFile(self.spark, self.path)

    def __getitem__(self, n: int | list[int]) -> SpecScanFrame:
        key = (n,) if isinstance(n, int) else tuple(n)
        if key not in self._scan_frames:
            self._scan_frames[key] = SpecScanFrame(self, list(key))
        return self._scan_frames[key]
