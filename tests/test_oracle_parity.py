"""Replicates the driver's DuckDB-oracle comparison for every
registered query at the small scale factor. This is the primary
correctness gate during development (SURVEY.md §5.1): each case
executes its query once on each engine."""

from __future__ import annotations

import pytest

from data_framework_spark.oracle import compare, diff_sample
from data_framework_spark.registry import QUERIES

_DUCK_INTEGRAL = {
    "TINYINT", "SMALLINT", "INTEGER", "BIGINT",
    "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",
}
_DUCK_FLOATING = {"FLOAT", "DOUBLE"}
_SPARK_INTEGRAL = {"byte", "short", "int", "long"}
_SPARK_FLOATING = {"float", "double"}


def _type_problems(report: dict) -> list[str]:
    """The driver fetches oracle results via pandas/Arrow, where DuckDB
    HUGEINT (e.g. an uncast window sum over BIGINT) canonicalizes to
    float64 and fails the type-sensitive digest even when values match
    (round-3 pack_sequences red row). So no oracle column may be
    HUGEINT, and each column's integral/floating class must agree with
    the Spark schema's."""
    problems = []
    for col, dt in report["duck_types"].items():
        if "HUGEINT" in dt:
            problems.append(f"{col}: oracle emits {dt}")
            continue
        st = report["spark_types"].get(col)
        if (st in _SPARK_INTEGRAL and dt in _DUCK_FLOATING) or (
            st in _SPARK_FLOATING and dt in _DUCK_INTEGRAL
        ):
            problems.append(f"{col}: spark {st} vs oracle {dt}")
    return problems


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_oracle_parity(spark, sf_dir, name):
    report = compare(spark, sf_dir, name)
    # a 0-row result can hash-match while verifying nothing
    assert report["spark_rows"] > 0, report
    if report["mode"] == "rows_only":
        return
    problems = _type_problems(report)
    assert not problems, (problems, report)
    if not report["ok"]:
        report["diff"] = diff_sample(spark, sf_dir, name)
    assert report["ok"], report
