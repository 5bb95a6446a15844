"""The oracle correctness gate at sf0.001.

Every ``queries()`` entry runs on Spark and is compared against its
DuckDB twin order-insensitively with exact values, through the same
normalize/compare routine as ``tools/check_correctness.py``.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from tools.check_correctness import (  # noqa: E402
    _normalize,
    _values_match,
    hugeint_columns,
)

QUERIES = sorted(entrymod.queries())


@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_oracle(spark, duck, sf_dir, name):
    fn = entrymod.queries()[name]
    sdf = fn(spark, sf_dir).toPandas()
    oracles = entrymod.oracle_sql()
    if name not in oracles:
        assert len(sdf) >= 0  # rows-only contract
        return
    # HUGEINT tripwire: checked on the bound plan types, before the
    # dtype normalization below would hide it.
    bad = hugeint_columns(duck.sql(oracles[name]))
    assert not bad, (
        f"{name}: oracle emits HUGEINT column(s) {bad} — a hash compare "
        "will mismatch Spark's bigint; CAST(... AS BIGINT) in the oracle SQL"
    )
    odf = duck.execute(oracles[name]).fetchdf()
    ok, msg = _values_match(_normalize(sdf), _normalize(odf))
    assert ok, f"{name}.{msg}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) == 9
