"""Mirror of the driver's correctness gate at sf0.001 (fast smoke).

Every ``queries()`` entry runs on Spark; oracle-backed ones compare
against DuckDB order-insensitively with exact values.
"""

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from conftest import fast_window  # noqa: E402


def _norm(df):
    df = df.copy()
    df.columns = [c.lower() for c in df.columns]
    df = df[sorted(df.columns)]
    for c in df.columns:
        if str(df[c].dtype).startswith(("datetime", "object")):
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).lower().startswith(("int", "uint")):
            df[c] = df[c].astype("int64")
        elif str(df[c].dtype).startswith(("float", "Float")):
            df[c] = df[c].astype(float)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


QUERIES = sorted(entrymod.queries())

# Fast default tier (r12): the full 303-key value gate is ~1/3 of the
# suite's wall time and outgrew the driver's verify window.  By
# default keep (a) the CURRENT 50-key correctness window plus the keys
# its last rotation moved out (conftest.fast_window) and (b) a deterministic
# md5-based ~1/4 sample of the rest, so every operator family keeps
# value coverage in every default run.  The full gate runs with
# SPARK_GRAFT_FULL_TESTS=1 (builder's verify recipe, once per round).
_WINDOW = fast_window()


def _fast_tier(name: str) -> bool:
    import hashlib

    if name in _WINDOW:
        return True
    return int(hashlib.md5(name.encode()).hexdigest(), 16) % 4 == 0


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=[] if _fast_tier(n) else [pytest.mark.slow])
        for n in QUERIES
    ],
)
def test_query_matches_oracle(spark, duck, sf_dir, name):
    fn = entrymod.queries()[name]
    sdf = fn(spark, sf_dir).toPandas()
    oracles = entrymod.oracle_sql()
    if name not in oracles:
        assert len(sdf) >= 0  # rows-only contract
        return
    # Tripwire for the failure mode that burned rounds 3 AND 4: DuckDB
    # SUM(BIGINT) returns HUGEINT, which the driver's hasher types
    # differently from Spark's bigint even when values are identical.
    # The local gate normalizes dtypes, so an uncast aggregate passes
    # here and fails only at the driver — catch it from the bound plan
    # types before any normalization.
    rel = duck.sql(oracles[name])
    bad = [
        (c, str(t))
        for c, t in zip(rel.columns, rel.types)
        if "HUGEINT" in str(t).upper() or "INT128" in str(t).upper()
    ]
    assert not bad, (
        f"{name}: oracle emits HUGEINT column(s) {bad} — the driver's "
        "hash compare will mismatch Spark's bigint; CAST(... AS BIGINT) "
        "in the oracle SQL"
    )
    odf = duck.execute(oracles[name]).fetchdf()
    a, b = _norm(sdf), _norm(odf)
    assert list(a.columns) == list(b.columns)
    assert len(a) == len(b)
    for c in a.columns:
        for i, (x, y) in enumerate(zip(a[c], b[c])):
            if isinstance(x, float) and isinstance(y, float):
                assert (math.isnan(x) and math.isnan(y)) or x == y, (
                    f"{name}.{c}[{i}]: {x!r} != {y!r}"
                )
            else:
                assert x == y, f"{name}.{c}[{i}]: {x!r} != {y!r}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) == 9
