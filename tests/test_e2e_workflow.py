"""End-to-end reference-user workflow: the complete pyspec session a
beamline user runs — `SpecDataFile(fn)` → pick scans → normalize by
monitor → fit a peak → grid in (H,K,L) → dense export — chained through
the engine's operators on synthetic SPEC files with known ground truth.
This is the "a user of the reference could switch" proof in one test.

Reference path (public stuwilkins/pyspec, SURVEY.md §3 E1-E3):
SpecDataFile/SpecScan (`pyspec/spec.py`) → `getYE` normalization →
`fit(x, y, funcs=[...]).go()` (`pyspec/fit.py`) → `grid3d`
(`src/ctrans.c`) → gridData/gridOccu/gridStdErr arrays."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspec_spark.operators.fitting import fit_groups
from pyspec_spark.operators.gridder import GridSpec, grid3d, to_dense
from tests.fixtures import make_spec_dir


@pytest.fixture(scope="module")
def spec_session(spark, tmp_path_factory):
    from pyspec_spark.sources.spec_datasource import read_spec

    base = str(tmp_path_factory.mktemp("e2e_spec"))
    truths = make_spec_dir(base, n_files=1)
    points = read_spec(spark, base)
    return points, truths[0]


def test_full_reference_workflow(spark, spec_session):
    points, truth = spec_session
    # E1: scan selection — full-length gaussian scans, skipping the
    # quirk fixtures (MCA scan 7, aborted 13, duplicate 19, alt-cols 21)
    scans = sorted(
        n
        for n, t in truth["scans"].items()
        if t["n_points"] == 81 and n not in (7, 13, 19, 21)
    )
    assert len(scans) >= 5
    sel = points.where(F.col("scan_number").isin(scans))

    # P3/P4: monitor normalization + Poisson error, straight off the
    # values map the DataSource emits
    v = F.col("values")
    norm = sel.select(
        "scan_number",
        v["Theta"].alias("x"),
        (v["Detector"] / v["Monitor"]).alias("y"),
        (F.sqrt(v["Detector"]) / v["Monitor"]).alias("e"),
        v["H"].alias("h"),
        v["K"].alias("k"),
        v["L"].alias("l"),
        v["Detector"].alias("intensity"),
    )
    assert norm.where(F.col("y").isNull()).count() == 0

    # X4: distributed per-scan fit; constant baseline + gaussian peak.
    # p layout for ["constant","gauss"]: [c, amp, mu, sigma]
    fits = fit_groups(
        norm, ["constant", "gauss"], key="scan_number", x="x", y="y", e="e"
    )
    got = {int(r["series_id"]): r for r in fits.collect()}
    assert set(got) == set(scans)
    for n in scans:
        r = got[n]
        assert r["converged"], f"scan {n} did not converge"
        mu_fit = r["p"][2]
        mu_true = truth["scans"][n]["peak"]["mu"]
        assert abs(mu_fit - mu_true) < 0.02, (n, mu_fit, mu_true)

    # A4: grid the selected scans in (H,K,L).  Fixture geometry puts each
    # scan at a distinct constant (H, K, L) -> exactly one voxel per scan
    # with occupancy == the scan's point count.
    spec = GridSpec(mins=(0.0, -0.5, 0.9), maxs=(2.6, 0.5, 1.3), sizes=(26, 1, 40))
    voxels = grid3d(norm, spec, cols=("h", "k", "l"), val="intensity")
    vox_rows = voxels.collect()
    assert len(vox_rows) == len(scans)
    assert {int(r["n"]) for r in vox_rows} == {81}

    # D7 export: dense gridData/gridOccu/gridStdErr arrays at the end
    data, occu, stderr = to_dense(voxels, spec)
    assert int(occu.sum()) == 81 * len(scans)
    assert (occu > 0).sum() == len(scans)
    assert float(data[occu > 0].min()) > 0.0
