"""The three workloads.  Each op is a call into one of the engine's public
functions, paired with a DuckDB twin that computes the same answer.

- ``cold_build``: each op rebuilds its plan with the registry's
  ``__wrapped__`` builder after ``clearCache()`` and
  ``release_persisted()``, then runs it through the noop sink; plan
  building, Catalyst and full stage re-execution do the work, fetch
  does none.
- ``lake_rw``: lake appends, upserts, reads, scans and compaction beside
  ``sinks.merge_upsert`` on a plain partitioned table; the commit and
  parquet-writer paths do the work, the declared queries do none.
- ``spec_scans``: the ``api.SpecDataFile`` facade over generated SPEC
  files; the Python DataSource parse and ``api.py`` do the work.
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil

import pandas as pd
import pyarrow.parquet as pq

import gen
from core import Ctx, NoTrace, Op, Workload

HERE = os.path.dirname(os.path.abspath(__file__))
SF = 0.01  # star-schema scale: lineitem 60k rows


def frozen() -> dict:
    """The frozen twin SQL, DuckDB settings and op lists."""
    with open(os.path.join(HERE, "twins.json")) as fh:
        return json.load(fh)


def _issues(res) -> list[str]:
    return [] if res.ok else [str(res)]


def _fetch(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    rows = cur.fetchall()
    return [d[0] for d in cur.description], rows


def _canon(names: list[str], rows) -> list[tuple]:
    """Rows as tuples in sorted-column order, floats rounded to 6
    places, sorted: an order-insensitive form for equality checks."""
    idx = sorted(range(len(names)), key=lambda i: names[i])
    out = []
    for r in rows:
        out.append(tuple(
            round(r[i], 6) if isinstance(r[i], float) else r[i] for i in idx
        ))
    return sorted(out, key=repr)


def _spark_canon(rows) -> list[tuple]:
    names = list(rows[0].__fields__) if rows else []
    return _canon(names, rows)


def _same(res, twin) -> bool:
    names, trows = twin
    if not res and not trows:
        return True
    return _spark_canon(res) == _canon(names, trows)


def _round_frames(*dfs: pd.DataFrame) -> list[pd.DataFrame]:
    return [df.round(6) for df in dfs]


# ---------------------------------------------------------------------------
class ColdBuild(Workload):
    name = "cold_build"
    star_schema = True
    ref_s = 0.15

    def inputs(self, data: str, seed: int) -> None:
        gen.make_tables(data, seed, SF)

    def prepare(self, ctx: Ctx) -> list[Op]:
        reg, oracle = ctx.engine["registry"], ctx.engine["oracle"]
        spark, con, data = ctx.spark, ctx.con, ctx.data

        def drain():
            spark.catalog.clearCache()
            reg.release_persisted()

        ops = []
        for name, sql in frozen()["cold_build"].items():
            build = reg.QUERIES[name].__wrapped__

            def run(t, build=build, name=name):
                with t.span("queries.build", "queries.build_ms"):
                    n0 = t.py4j_calls
                    df = build(spark, data)
                    t.record(name, "queries.py4j_calls", t.py4j_calls - n0)
                if t.on:
                    with t.span("catalyst.plan", "catalyst.plan_ms"):
                        df._jdf.queryExecution().executedPlan()
                    t.record(name, "exec.python_nodes", t.python_nodes(df))
                with t.span("exec.noop_write"):
                    df.write.format("noop").mode("overwrite").save()

            def check(build=build, name=name, sql=sql):
                drain()
                return _issues(oracle.compare_frames(
                    name, build(spark, data).toPandas(), con.execute(sql).fetchdf()
                ))

            # The op fetches nothing, so the twin fetches to Arrow, not
            # to Python rows.
            ops.append(Op(
                name, run, lambda sql=sql: con.execute(sql).arrow(),
                check=check, before=drain,
            ))
        return ops


# ---------------------------------------------------------------------------
PART = "l_shipyear"
BLOOM = ["l_orderkey"]
LAKE_SIZES = dict(base_rows=20_000, n_append=2, append_rows=2_000,
                  n_upsert=2, upsert_rows=1_000)


def _du(path: str) -> int:
    return sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(p)
    )


def _twin_write(con, query: str, tdir: str, tag: str) -> None:
    """The twin's write path: DuckDB computes the rows, pyarrow writes
    them as a hive-partitioned parquet dataset.  (DuckDB's own COPY
    syncs each file, and on ext4 unlinking a synced file then costs
    ~36 ms, which made twin compaction swing between runs.)"""
    pq.write_to_dataset(con.execute(query).arrow(), tdir, partition_cols=[PART],
                        basename_template=f"{tag}-{{i}}.parquet")


def _twin_upsert(con, tdir: str, path: str, tag: str) -> None:
    years = [r[0] for r in con.execute(
        f"SELECT DISTINCT {PART} FROM read_parquet('{path}')").fetchall()]
    old = [f for y in years for f in glob.glob(f"{tdir}/{PART}={y}/*.parquet")]
    _twin_rewrite(con, tdir, path, tag, old)


def _twin_rewrite(con, tdir, path, tag, old=None) -> None:
    """Rewrite ``old`` files (default: all) of a hive-partitioned twin
    table, replacing rows whose row_id is in ``path``."""
    if old is None:
        old = glob.glob(f"{tdir}/**/*.parquet", recursive=True)
    parts = []
    if old:
        src = ", ".join(f"'{f}'" for f in old)
        keep = f"SELECT * FROM read_parquet([{src}], hive_partitioning = 1)"
        if path:
            keep += f" WHERE row_id NOT IN (SELECT row_id FROM read_parquet('{path}'))"
        parts.append(keep)
    if path:
        parts.append(f"SELECT * FROM read_parquet('{path}')")
    _twin_write(con, " UNION ALL BY NAME ".join(parts), tdir, tag)
    for f in old:
        os.remove(f)


def _truth_agg(model: pd.DataFrame) -> list[tuple]:
    g = model.groupby(PART).agg(
        n=("row_id", "size"), qty=("l_quantity", "sum"), max_id=("row_id", "max")
    ).reset_index()
    return _canon(list(g.columns), g.itertuples(index=False, name=None))


def _upsert(model: pd.DataFrame, upd: pd.DataFrame) -> pd.DataFrame:
    return pd.concat(
        [model[~model.row_id.isin(upd.row_id)], upd], ignore_index=True
    )


class LakeRW(Workload):
    """Writes beside reads on a seeded lineitem-slice table.  Every pass
    starts from a copy of the same base tables and runs the same op
    order (shuffled once by the seed, compaction last), so every pass
    leaves the same bytes on disk whatever the machine's speed."""

    name = "lake_rw"
    ref_s = 0.06

    def inputs(self, data: str, seed: int) -> None:
        gen.make_lake_slices(data, seed, **LAKE_SIZES)

    def prepare(self, ctx: Ctx) -> list[Op]:
        lake, sinks = ctx.engine["lake"], ctx.engine["sinks"]
        from pyspark.sql import functions as F

        spark, con, data, st = ctx.spark, ctx.con, ctx.data, ctx.state
        with open(os.path.join(data, "slices.json")) as fh:
            sl = json.load(fh)
        base = os.path.join(data, sl["base"])
        broot = os.path.join(data, "roots")
        lake.lake_overwrite(spark, f"{broot}/lake", spark.read.parquet(base),
                            partition_col=PART, bloom_cols=BLOOM)
        sinks.write_result(spark.read.parquet(base), f"{broot}/plain",
                           partition_by=[PART])
        for t in ("tlake", "tplain"):
            _twin_write(con, f"SELECT * FROM read_parquet('{base}')",
                        f"{broot}/{t}", "b")
        model = pd.read_parquet(base)
        rng = random.Random(ctx.seed)
        keys = rng.sample(sorted(set(model.l_orderkey.tolist())), 2)
        st.update(broot=broot, base_model=model, seq=0, bytes=None,
                  user_bytes=2 * os.path.getsize(base))

        def cur(k):
            return st["roots"][k]

        def tag():
            st["seq"] += 1
            return f"c{st['seq']}"

        def spark_read():
            return (lake.lake_read(spark, cur("lake")).groupBy(PART)
                    .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("qty"),
                         F.max("row_id").alias("max_id")))

        ops = []
        for path in sl["appends"]:
            path = os.path.join(data, path)
            rows = pd.read_parquet(path)

            def run(t, path=path):
                with t.span("lake.append", "lake.append_ms"):
                    lake.lake_append(spark, cur("lake"), spark.read.parquet(path),
                                     partition_col=PART, bloom_cols=BLOOM)

            def twin(path=path):
                _twin_write(con, f"SELECT * FROM read_parquet('{path}')",
                            cur("tlake"), tag())

            def after(r, w, rows=rows, path=path):
                st["lake_model"] = pd.concat([st["lake_model"], rows], ignore_index=True)
                st["written"] += os.path.getsize(path)
                return True

            ops.append(Op("lake_append", run, twin, after=after, twin_reps=1))
        for path in sl["upserts"]:
            path = os.path.join(data, path)
            rows = pd.read_parquet(path)

            def run(t, path=path):
                with t.span("lake.upsert", "lake.upsert_ms"):
                    lake.lake_upsert(spark, cur("lake"), spark.read.parquet(path),
                                     key="row_id", partition_col=PART,
                                     bloom_cols=BLOOM)

            def after(r, w, rows=rows, path=path):
                st["lake_model"] = _upsert(st["lake_model"], rows)
                st["written"] += os.path.getsize(path)
                return True

            ops.append(Op("lake_upsert", run,
                          lambda path=path: _twin_upsert(con, cur("tlake"), path, tag()),
                          after=after, twin_reps=1))

            def run_m(t, path=path):
                with t.span("sinks.merge_upsert", "sinks.merge_ms"):
                    sinks.merge_upsert(spark, cur("plain"), spark.read.parquet(path),
                                       key="row_id", partition_col=PART)

            def after_m(r, w, rows=rows, path=path):
                st["plain_model"] = _upsert(st["plain_model"], rows)
                st["written"] += os.path.getsize(path)
                return True

            ops.append(Op("sinks_merge_upsert", run_m,
                          lambda path=path: _twin_upsert(con, cur("tplain"), path, tag()),
                          after=after_m, twin_reps=1))

        def check_read():
            return _issues(ctx.engine["oracle"].compare_frames(
                "lake_read", spark_read().toPandas(),
                con.execute(_read_sql(cur("tlake"))).fetchdf(),
            ))

        for _ in range(2):
            ops.append(Op(
                "lake_read", lambda t: spark_read().collect(),
                lambda: _fetch(con, _read_sql(cur("tlake"))),
                after=lambda r, w: (
                    _same(r, w) and _spark_canon(r) == _truth_agg(st["lake_model"])
                ),
                check=check_read,
            ))
        for key in keys:
            where = [("l_orderkey", "=", key)]
            sql = (f"SELECT * FROM read_parquet('{{}}/**/*.parquet', "
                   f"hive_partitioning = 1) WHERE l_orderkey = {key}")

            def run(t, where=where):
                with t.span("lake.scan"):
                    return lake.lake_scan(spark, cur("lake"), where).collect()

            def after(r, w, key=key):
                m = st["lake_model"]
                want = sorted(m.row_id[m.l_orderkey == key].tolist())
                return _same(r, w) and sorted(x["row_id"] for x in r) == want

            def check(where=where, sql=sql):
                return _issues(ctx.engine["oracle"].compare_frames(
                    "lake_scan",
                    lake.lake_scan(spark, cur("lake"), where).toPandas(),
                    con.execute(sql.format(cur("tlake"))).fetchdf(),
                ))

            ops.append(Op("lake_scan", run,
                          lambda sql=sql: _fetch(con, sql.format(cur("tlake"))),
                          after=after, check=check))
        st["scan_where"] = [[("l_orderkey", "=", k)] for k in keys]

        def run_c(t):
            with t.span("lake.compact", "lake.compact_ms"):
                lake.lake_compact(spark, cur("lake"), partition_col=PART,
                                  bloom_cols=BLOOM)
            with t.span("lake.vacuum", "lake.vacuum_ms"):
                lake.lake_vacuum(cur("lake"), keep_versions=1)

        ops.append(Op("lake_compact_vacuum", run_c,
                      lambda: _twin_rewrite(con, cur("tlake"), None, tag()),
                      twin_reps=1))
        return ops

    def order(self, ops, rng, k):
        if "perm" not in self.__dict__:
            body = list(ops[:-1])
            random.Random(rng.random()).shuffle(body)
            self.perm = body + ops[-1:]
        return self.perm

    def pass_begin(self, ctx: Ctx, k: int) -> None:
        st = ctx.state
        pdir = os.path.join(ctx.run_dir, "lake", f"p{k}")
        shutil.rmtree(pdir, ignore_errors=True)
        shutil.copytree(st["broot"], pdir)
        st["roots"] = {t: os.path.join(pdir, t)
                       for t in ("lake", "plain", "tlake", "tplain")}
        st["lake_model"] = st["base_model"].copy()
        st["plain_model"] = st["base_model"].copy()
        st["written"] = st["user_bytes"]

    def pass_end(self, ctx: Ctx, k: int) -> list[str]:
        lake = ctx.engine["lake"]
        from pyspark.sql import functions as F

        st, spark, r = ctx.state, ctx.spark, ctx.state["roots"]
        issues = []
        for label, df, model in (
            ("lake", lake.lake_read(spark, r["lake"]), st["lake_model"]),
            ("plain table", spark.read.parquet(r["plain"]), st["plain_model"]),
        ):
            got = df.groupBy(PART).agg(
                F.count("*").alias("n"), F.sum("l_quantity").alias("qty"),
                F.max("row_id").alias("max_id"),
            ).collect()
            if _spark_canon(got) != _truth_agg(model):
                issues.append(f"{label} contents differ from the generator's truth")
        if k == 0:
            mdir = os.path.join(r["lake"], "_manifests")
            st["bytes"] = {
                "bytes_per_user_byte":
                    (_du(r["lake"]) + _du(r["plain"])) / st["written"],
                "lake.bytes_written": _du(r["lake"]),
                "sinks.bytes_written": _du(r["plain"]),
                "lake.manifest_bytes": _du(mdir),
                "lake.files_live": lake.lake_scan_file_counts(r["lake"], [])[1],
                "lake.files_scanned_per_read": sum(
                    lake.lake_scan_file_counts(r["lake"], w)[0]
                    for w in st["scan_where"]
                ) / len(st["scan_where"]),
            }
        shutil.rmtree(os.path.dirname(r["lake"]), ignore_errors=True)
        return issues

    def layer_metrics(self, ctx: Ctx) -> dict[str, float]:
        return ctx.state["bytes"] or {}


def _read_sql(tdir: str) -> str:
    return (
        f"SELECT {PART}, count(*) AS n, sum(l_quantity) AS qty, "
        f"max(row_id) AS max_id FROM read_parquet('{tdir}/**/*.parquet', "
        f"hive_partitioning = 1) GROUP BY {PART}"
    )


# ---------------------------------------------------------------------------
SPEC_FILES, SPEC_SCANS = 2, 12  # quirks sit in scans 3-9 of file 0


class SpecScans(Workload):
    """The SpecDataFile facade over generated SPEC files.  The twin is
    DuckDB parsing the same SPEC text (``SPEC_MACROS``); every op type is
    also checked once against the generator's ground truth."""

    name = "spec_scans"
    ref_s = 0.04

    def inputs(self, data: str, seed: int) -> None:
        gen.make_spec(data, seed, SPEC_FILES, SPEC_SCANS)

    def prepare(self, ctx: Ctx) -> list[Op]:
        api, oracle = ctx.engine["api"], ctx.engine["oracle"]
        from pyspark.sql import functions as F

        spark, con, data = ctx.spark, ctx.con, ctx.data
        for macro in SPEC_MACROS:
            con.execute(macro)
        con.execute(f"CREATE OR REPLACE VIEW spec_truth AS SELECT * FROM "
                    f"read_parquet('{data}/spec_points.parquet')")
        truth = pd.read_parquet(f"{data}/spec_scans.parquet")
        path = {f: os.path.join(data, "spec", f) for f in truth.file.unique()}
        sfs = {f: api.SpecDataFile(spark, p) for f, p in sorted(path.items())}
        ctx.state["sfs"] = sfs

        def cols(f, scans):
            out: list[str] = []
            rows = truth[(truth.file == f) & truth.scan_number.isin(scans)]
            for c in rows["columns"]:
                for name in json.loads(c):
                    if name not in out:
                        out.append(name)
            return out

        def q(names):
            return ", ".join(f'"{c}"' for c in names)

        def frame_op(name, f, make, query):
            twin_sql = query.format(src=f"spec_txt('{path[f]}', '{f}')")
            truth_sql = query.format(
                src=f"(SELECT * FROM spec_truth WHERE file = '{f}')")

            def run(t):
                with t.span("sources.read", "sources.read_ms"):
                    return make().collect()

            def check():
                got = make().toPandas()
                issues = []
                for label, sql in (("twin", twin_sql), ("truth", truth_sql)):
                    a, b = _round_frames(got, con.execute(sql).fetchdf())
                    issues += _issues(oracle.compare_frames(f"{name} vs {label}", a, b))
                return issues

            return Op(name, run, lambda: _fetch(con, twin_sql), after=_same,
                      check=check)

        # Fixed targets, so every seed runs the same shapes and only the
        # values change; file 0 holds one instance of each parser quirk.
        f0, f1 = "exp0.spec", "exp1.spec"
        dup, alt = gen.DUP_SCAN, gen.ALT_SCAN
        trio = [gen.MCA_SCAN, gen.ABORTED_SCAN, gen.ABORTED_SCAN + 1]
        avgs = ", ".join(f'avg("{c}") AS "{c}"' for c in cols(f0, trio))
        ops = [
            frame_op(
                "spec_wide", f0, lambda: sfs[f0][dup].wide(),
                f"SELECT file, scan_number, point_index, {q(cols(f0, [dup]))} "
                f"FROM {{src}} WHERE scan_number = {dup}",
            ),
            frame_op(
                "spec_normalized", f0, lambda: sfs[f0][alt].normalized("Detector"),
                'SELECT scan_number, point_index, "Detector" / NULLIF("Monitor", 0) '
                'AS "Detector", sqrt("Detector") / NULLIF("Monitor", 0) AS '
                f'"Detector_err" FROM {{src}} WHERE scan_number = {alt}',
            ),
            frame_op(
                "spec_binned", f0, lambda: sfs[f0][trio].binned(),
                f"SELECT point_index, {avgs}, count(*) AS n_scans FROM {{src}} "
                f"WHERE scan_number IN ({', '.join(map(str, trio))}) "
                f"GROUP BY point_index",
            ),
            frame_op(
                "spec_file_agg", f0,
                lambda: sfs[f0].points().groupBy("scan_number").agg(
                    F.count("*").alias("n"),
                    F.sum(F.element_at("values", "Detector")).alias("det"),
                    F.max("point_index").alias("last"),
                ),
                'SELECT scan_number, count(*) AS n, sum("Detector") AS det, '
                "max(point_index) AS last FROM {src} GROUP BY scan_number",
            ),
        ]
        meta_sql = (f"SELECT scan_number, n_points_declared, aborted, columns "
                    f"FROM spec_txt_scans('{path[f1]}') WHERE scan_number = 4")
        want = truth[(truth.file == f1) & (truth.scan_number == 4)].iloc[0]

        def run_meta(t):
            with t.span("api.meta", "api.meta_ms"):
                m = sfs[f1][4].meta()
            return [(m["scan_number"], m["n_points_declared"], m["aborted"],
                     m["columns"])]

        def meta_agrees(r, w):
            names, rows = w
            return _canon(names, r) == _canon(names, rows)

        def meta_truth():
            (n, declared, aborted, columns), = run_meta(NoTrace())
            ok = (declared == want.n_points_declared and aborted == want.aborted
                  and columns == json.loads(want["columns"]))
            return [] if ok else [f"spec_meta: scan 4 of {f1} differs from truth"]

        ops.append(Op("spec_meta", run_meta, lambda: _fetch(con, meta_sql),
                      after=meta_agrees, check=meta_truth))
        return ops

    def layer_metrics(self, ctx: Ctx) -> dict[str, float]:
        sf = next(iter(ctx.state["sfs"].values()))
        return {"sources.partitions": sf.points().rdd.getNumPartitions()}


# DuckDB's own parse of the SPEC text: one line per row, grouped into
# scan blocks at each ``#S``; data rows are the lines that are not
# comments, not ``@A`` MCA lines and not MCA continuations (a line ending
# in a backslash, or the line after one).
_COUNTERS = ", ".join(
    f"TRY_CAST(vals[list_position(cols, '{c}')] AS DOUBLE) AS \"{c}\""
    for c in gen.ALL_COLUMNS
)
SPEC_MACROS = [
    """CREATE OR REPLACE MACRO spec_lines(path) AS TABLE
  SELECT ln, line, sum(CAST(starts_with(line, '#S ') AS INTEGER))
           OVER (ORDER BY ln) AS blk,
         coalesce(lag(line) OVER (ORDER BY ln), '') AS prev
  FROM (SELECT row_number() OVER () AS ln, line FROM read_csv(path,
        delim = '\t', header = false, columns = {'line': 'VARCHAR'},
        quote = '', escape = '', auto_detect = false))""",
    f"""CREATE OR REPLACE MACRO spec_txt(path, fname) AS TABLE
  WITH t AS (SELECT * FROM spec_lines(path)),
  s AS (SELECT blk, CAST(string_split(line, ' ')[2] AS INTEGER) AS scan_number
        FROM t WHERE starts_with(line, '#S ')),
  l AS (SELECT blk, string_split(trim(substr(line, 4)), '  ') AS cols
        FROM t WHERE starts_with(line, '#L ')),
  p AS (SELECT blk, row_number() OVER (PARTITION BY blk ORDER BY ln) - 1
               AS point_index, string_split(trim(line), ' ') AS vals
        FROM t WHERE blk > 0 AND trim(line) <> ''
          AND NOT starts_with(line, '#') AND NOT starts_with(line, '@')
          AND NOT ends_with(line, '\\') AND NOT ends_with(prev, '\\'))
  SELECT fname AS file, s.scan_number, p.blk - 1 AS block,
         CAST(p.point_index AS INTEGER) AS point_index, {_COUNTERS}
  FROM p JOIN s USING (blk) JOIN l USING (blk)""",
    """CREATE OR REPLACE MACRO spec_txt_scans(path) AS TABLE
  SELECT CAST(string_split(max(line) FILTER (WHERE starts_with(line, '#S ')),
                           ' ')[2] AS INTEGER) AS scan_number,
         CAST(list_extract(string_split(
              max(line) FILTER (WHERE starts_with(line, '#S ')), ' '), -2)
              AS INTEGER) + 1 AS n_points_declared,
         coalesce(bool_or(starts_with(line, '#C ')
                          AND contains(lower(line), 'abort')), false) AS aborted,
         string_split(trim(substr(
              max(line) FILTER (WHERE starts_with(line, '#L ')), 4)), '  ')
              AS columns
  FROM spec_lines(path) WHERE blk > 0 GROUP BY blk""",
]


WORKLOADS = {w.name: w for w in (ColdBuild, LakeRW, SpecScans)}
