"""SPEC scan-block explosion as a Python UDTF — SURVEY.md §2.11 UD4.

The alternative surface to `read_spec` (S1): a table function that
takes raw SPEC text (one scan block per input row, e.g. a column of
blocks from any source) and lateral-explodes it into scan points.  It
runs the Python parser (`spec_format.parse_scan_block`) in a Python
worker, where `read_spec` parses files with built-in expressions —
useful when SPEC blocks arrive embedded in another table rather than as
files.

Usage:
    from pyspec_spark.sources.spec_udtf import register_spec_udtf
    register_spec_udtf(spark)
    spark.sql(\"\"\"
        SELECT s.*
        FROM blocks, LATERAL spec_points(block_text) s
    \"\"\")
"""

from __future__ import annotations

from pyspark.sql.functions import udtf


@udtf(
    returnType=(
        "scan_number int, command string, point int, "
        "values map<string,double>, mca array<double>"
    )
)
class SpecPointsUDTF:
    """Explode one SPEC scan block (text) into scan-point rows."""

    def eval(self, block_text: str):  # noqa: D102
        if not block_text or not block_text.lstrip().startswith("#S"):
            return
        from pyspec_spark.sources.spec_format import parse_scan_block

        scan = parse_scan_block(block_text, [])
        for i, row in enumerate(scan.data):
            yield (
                scan.scan_number,
                scan.command,
                i,
                dict(zip(scan.columns, row)),
                scan.mca[i],
            )


def register_spec_udtf(spark) -> None:
    spark.udtf.register("spec_points", SpecPointsUDTF)
