"""Oracle-parity tests: every registered query has an oracle and must
match DuckDB **exactly** (bitwise on doubles) at sf0.01 — the same
bar the driver's value-hash applies. This is the primary correctness
gate; per-operator unit tests live in their own files."""

from __future__ import annotations

import pytest

from iot_sparkstreaming_spark.queries.registry import load_all

from tests.conftest import SF_DIR_ORACLE, assert_matches_oracle_exact

REGISTRY = load_all()
ORACLE_QUERIES = sorted(n for n, q in REGISTRY.items() if q.oracle is not None)


def test_every_query_has_an_oracle():
    missing = sorted(n for n, q in REGISTRY.items() if q.oracle is None)
    assert not missing, f"registered queries without a DuckDB oracle: {missing}"


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, duck, name):
    q = REGISTRY[name]
    df = q.spark(spark, SF_DIR_ORACLE)
    assert_matches_oracle_exact(df, duck(SF_DIR_ORACLE), q.oracle)


#: DuckDB output types whose Python repr is identical to the repr of the
#: corresponding Spark value — the driver's value-hash compares REPRS, so
#: any other type (HUGEINT from an uncast SUM of integers, DECIMAL, …) can
#: hash-mismatch on the driver even when every value is equal (exactly how
#: q12_shipping_modes went red in round 4 while passing locally).
HASH_SAFE_DUCK_TYPES = {
    "BIGINT", "INTEGER", "DOUBLE", "VARCHAR", "BOOLEAN", "TIMESTAMP", "DATE",
}


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_output_types_hash_safe(duck, name):
    q = REGISTRY[name]
    rows = duck(SF_DIR_ORACLE).execute(f"DESCRIBE ({q.oracle})").fetchall()
    offenders = [
        (cname, ctype)
        for cname, ctype, *_ in rows
        if ctype.split("(")[0] not in HASH_SAFE_DUCK_TYPES
    ]
    assert not offenders, (
        f"{name}: oracle columns {offenders} have repr-unsafe DuckDB types; "
        "wrap them in explicit CASTs (e.g. CAST(SUM(...) AS BIGINT))"
    )
