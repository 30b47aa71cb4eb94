"""Differential test: every registered query vs its DuckDB oracle.

Mirrors the driver's CORRECTNESS gate. Runs at sf0.001 by default
(fast). ``ORACLE_SF`` picks another fixture, either as a bare scale
(``ORACLE_SF=0.01`` reads the ``sf0.01`` directory next to the sf0.001
fixture) or as a directory path; a directory that does not exist fails
collection with a message naming it.
"""

from __future__ import annotations

import os

import pytest

from realtime_event_streaming_spark.registry import load_all

from .conftest import SF_SMOKE
from .oracle import compare, duck_connection


def _sf_dir(value: str | None) -> str:
    """A bare scale ``0.01`` names the ``sf0.01`` directory beside the
    sf0.001 fixture; anything else is a directory path. Unset is the
    sf0.001 fixture."""
    if value is None:
        return SF_SMOKE
    try:
        float(value)
    except ValueError:
        path = value
    else:
        path = os.path.join(os.path.dirname(SF_SMOKE), f"sf{value}")
    if not os.path.isdir(path):
        raise pytest.UsageError(
            f"ORACLE_SF={value!r}: fixture directory {path} does not exist"
        )
    return path


SF_DIR = _sf_dir(os.environ.get("ORACLE_SF"))

_REG = load_all()
_NAMES = sorted(_REG)


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", _NAMES)
def test_query_matches_oracle(spark, duck, name):
    q = _REG[name]
    df = q.spark_fn(spark, SF_DIR)
    # Registry convention: output columns are double/bigint/string —
    # never raw DECIMAL. Spark and DuckDB infer different precisions
    # for the same decimal literal expression (benford r7: DECIMAL(4,4)
    # vs DECIMAL(5,4)) and the driver's value-hash is precision-
    # sensitive, so a raw decimal output is a latent red row even when
    # the values are bit-identical.
    decimal_cols = [c for c, t in df.dtypes if t.startswith("decimal")]
    assert not decimal_cols, (
        f"{name}: raw DECIMAL output column(s) {decimal_cols} — cast "
        f"to DOUBLE (driver hash is decimal-precision-sensitive)"
    )
    if q.oracle is None:
        # Weaker rows-only check, like the driver's.
        assert df.count() >= 0
        return
    problems = compare(name, df, duck, q.oracle)
    assert not problems, "\n".join(problems)


def test_decimal_precision_divergence_is_caught(spark, duck):
    """Regression for the one red driver row of rounds 3-7
    (benford_digit_census, CORRECTNESS_r07): Spark types a decimal-
    literal CASE ladder DECIMAL(4,4) while DuckDB types the same
    expression DECIMAL(5,4); values are bit-identical but the driver's
    precision-sensitive value-hash diverges. The round-7 local gate
    collapsed both to one coarse "decimal" class and stayed green while
    the driver went red. This pins that the gate now fails the way the
    driver fails on the UNFIXED shape."""
    unfixed = (
        "SELECT CASE WHEN digit = 1 THEN 0.3010 ELSE 0.0458 END "
        "AS benford_frac FROM (SELECT 1 AS digit)"
    )
    sdf = spark.sql(unfixed)
    assert sdf.dtypes[0][1].startswith("decimal"), "shape precondition"
    from .oracle import type_mismatches

    problems = type_mismatches("benford_unfixed", sdf, duck, unfixed)
    assert problems, (
        "local gate must flag the decimal-precision divergence the "
        "driver hashes differently"
    )
    assert "decimal" in problems[0]
