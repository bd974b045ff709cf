"""SpecDataFile facade (pyspec_spark/api.py): the reference's user API
shape — sf[n], concatenation, bin mode, counter access, normalization —
over the specfile DataSource, against the synthetic fixture files.

Fixture ground truth (tests/fixtures.py make_spec_file): scan n's Theta
column is linspace(mu-1, mu+1, npts) with mu = 5 + 0.1n, npts cycling
[11, 41, 81] by n % 3 — closed-form, so facade outputs are checked
against values the facade never computed."""

from __future__ import annotations

import os

import numpy as np
import pytest

from tests.fixtures import make_spec_file


@pytest.fixture(scope="module")
def spec_dir(tmp_path_factory):
    base = str(tmp_path_factory.mktemp("specapi"))
    truth = make_spec_file(os.path.join(base, "exp0.dat"), 0)
    return base, truth


def _theta(n: int) -> np.ndarray:
    mu = 5.0 + 0.1 * n
    npts = [11, 41, 81][n % 3]
    # fixture prints %.6g
    return np.array([float(f"{v:.6g}") for v in np.linspace(mu - 1, mu + 1, npts)])


def test_scan_fetch_columns_and_theta(spark, spec_dir):
    from pyspec_spark.api import SpecDataFile

    base, truth = spec_dir
    sf = SpecDataFile(spark, os.path.join(base, "exp0.dat"))
    scan = sf[3]
    t = truth["scans"][3]
    assert scan.columns() == t["columns"]
    wide = scan.wide().orderBy("point_index").collect()
    assert len(wide) == t["n_points"]
    np.testing.assert_allclose(
        [r["Theta"] for r in wide], _theta(3), rtol=1e-6
    )


def test_counter_attribute_access(spark, spec_dir):
    from pyspec_spark.api import SpecDataFile

    base, truth = spec_dir
    sf = SpecDataFile(spark, os.path.join(base, "exp0.dat"))
    wide = {r["point_index"]: r["Detector"]
            for r in sf[3].wide("Detector").collect()}
    rows = sf[3].col("Detector").collect()
    assert {r["point_index"]: r["Detector"] for r in rows} == wide
    # __getattr__ sugar resolves like scan.Detector
    rows2 = sf[3].Detector.collect()
    assert {r["point_index"]: r["Detector"] for r in rows2} == wide
    assert len(wide) == truth["scans"][3]["n_points"]
    # a misspelled counter raises like the reference API (round-3
    # ADVICE: no silent all-null DataFrame), and the error names the
    # available counters
    with pytest.raises(AttributeError, match="Detecotr"):
        sf[3].Detecotr
    # .col() stays unchecked for dynamic/partial counters
    assert sf[3].col("Detecotr").collect()[0]["Detecotr"] is None


def test_concatenate_and_bin_modes(spark, spec_dir):
    from pyspec_spark.api import SpecDataFile

    base, truth = spec_dir
    sf = SpecDataFile(spark, os.path.join(base, "exp0.dat"))
    a, b = 3, 6  # both 11-point scans (n % 3 == 0)
    na, nb = truth["scans"][a]["n_points"], truth["scans"][b]["n_points"]
    assert na == nb == 11
    concat = sf[[a, b]]
    assert concat.df.count() == na + nb
    binned = {r["point_index"]: r for r in concat.binned().collect()}
    want = (_theta(a) + _theta(b)) / 2  # point-wise mean of the Thetas
    for p in range(11):
        assert binned[p]["Theta"] == pytest.approx(want[p], rel=1e-6)
        assert binned[p]["n_scans"] == 2


def test_meta_and_motors(spark, spec_dir):
    from pyspec_spark.api import SpecDataFile

    base, truth = spec_dir
    sf = SpecDataFile(spark, os.path.join(base, "exp0.dat"))
    m = sf[3].meta()
    assert m["scan_number"] == 3
    assert m["command"].startswith("ascan")
    for name, v in truth["scans"][3]["motors"].items():
        assert m["motors"][name] == pytest.approx(v, abs=1e-4)
    assert m["wavelength"] == pytest.approx(1.5405)
    with pytest.raises(KeyError):
        sf[99999].meta()


def test_aborted_scan_and_multi_meta(spark, spec_dir):
    from pyspec_spark.api import SpecDataFile

    base, truth = spec_dir
    sf = SpecDataFile(spark, os.path.join(base, "exp0.dat"))
    metas = sf[[3, 13]].meta()
    assert metas[13]["aborted"] is True
    assert metas[3]["aborted"] is False
    # aborted scan still yields its emitted points
    assert sf[13].df.count() == truth["scans"][13]["n_points"]


def test_normalized_guard(spark, spec_dir):
    from pyspec_spark.api import SpecDataFile

    base, truth = spec_dir
    sf = SpecDataFile(spark, os.path.join(base, "exp0.dat"))
    wide = {
        r["point_index"]: r
        for r in sf[3].wide("Detector", "Monitor").collect()
    }
    rows = sf[3].normalized("Detector", "Monitor").collect()
    assert len(rows) == len(wide)
    for r in rows:
        d = wide[r["point_index"]]["Detector"]
        mo = wide[r["point_index"]]["Monitor"]
        if mo == 0:
            assert r["Detector"] is None
        else:
            assert r["Detector"] == pytest.approx(d / mo, rel=1e-9)
            assert r["Detector_err"] == pytest.approx(
                float(np.sqrt(d)) / mo, rel=1e-9
            )


def test_scan_fetch_returns_only_requested(spark, spec_dir):
    from pyspec_spark.api import SpecDataFile

    base, truth = spec_dir
    sf = SpecDataFile(spark, os.path.join(base, "exp0.dat"))
    got = sf[3].df.collect()
    assert {r["scan_number"] for r in got} == {3}
    assert len(got) == truth["scans"][3]["n_points"]


def test_union_across_differing_columns(spark, spec_dir):
    """Scan 21 has an alternate #L set: concatenating it with a normal
    scan unions the column lists; counters absent from a member scan
    read as null (SURVEY §1.2)."""
    from pyspec_spark.api import SpecDataFile

    base, truth = spec_dir
    sf = SpecDataFile(spark, os.path.join(base, "exp0.dat"))
    both = sf[[3, 21]]
    cols = both.columns()
    for c in truth["scans"][3]["columns"]:
        assert c in cols
    for c in truth["scans"][21]["columns"]:
        assert c in cols
    wide = both.wide().collect()
    only_normal = set(truth["scans"][3]["columns"]) - set(
        truth["scans"][21]["columns"]
    )
    assert only_normal, "fixture should have non-shared columns"
    c = next(iter(only_normal))
    by_scan = {}
    for r in wide:
        by_scan.setdefault(r["scan_number"], []).append(r[c])
    assert all(v is None for v in by_scan[21])
    assert all(v is not None for v in by_scan[3])


def test_scan_plot_png(spark, spec_dir):
    """SpecPlot analog (r6): scan.plot(counter) yields a decodable PNG
    with the data ink present; monitor normalization and explicit-x
    paths render too; unknown counters refuse."""
    import pytest as _pytest

    from pyspec_spark.api import SpecDataFile
    from pyspec_spark.operators.codecs import decode_frame_at

    base, truth = spec_dir
    sf = SpecDataFile(spark, os.path.join(base, "exp0.dat"))
    scan = sf[3]
    png = scan.plot("Detector", width=320, height=240)
    img = decode_frame_at("png", png, 0)
    assert img.shape == (240, 320, 3)
    blue = (img[:, :, 2] > 150) & (img[:, :, 0] < 100)
    assert blue.sum() > 10  # data marks
    # deterministic
    assert scan.plot("Detector", width=320, height=240) == png
    # monitor-normalized and explicit-x variants render
    cols = scan.columns()
    assert scan.plot("Detector", monitor="Monitor") != png
    assert isinstance(scan.plot("Detector", x=cols[0]), bytes)
    with _pytest.raises(ValueError, match="not in"):
        scan.plot("Detecotr")


def test_handle_is_a_snapshot_until_reload(spark, spec_dir, tmp_path):
    """A handle keeps the scan index its frames were planned with, as
    pyspec's SpecDataFile keeps its index: an appended scan is invisible
    to the same handle and visible through reload()."""
    import shutil

    from pyspec_spark.api import SpecDataFile

    base, truth = spec_dir
    f = tmp_path / "grow.dat"
    shutil.copyfile(os.path.join(base, "exp0.dat"), f)
    sf = SpecDataFile(spark, str(f))
    assert sf[3] is sf[3] and sf.points() is sf.points()
    n0 = sf.points().count()
    text = f.read_text()
    block = text[text.rindex("#S "):]
    old = block.split()[1]
    with open(f, "a") as dst:
        dst.write("\n" + block.replace(f"#S {old}", "#S 99999"))
    assert sf.points().count() == n0
    fresh = sf.reload()
    assert fresh.points().count() > n0
    assert fresh[99999].meta()["scan_number"] == 99999
