"""The oracle correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB at the given sf dir, then compares row count, column names,
and order-insensitive values (columns sorted by name, rows sorted).
``tests/test_correctness_gate.py`` runs the same compare at sf0.001.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

import __spark_entry__ as entrymod
from locopy_spark.session import get_spark
from locopy_spark.sources.tables import CORE_TABLES


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df.columns = [c.lower() for c in df.columns]
    df = df[sorted(df.columns)]
    for c in df.columns:
        if str(df[c].dtype).startswith(("datetime", "object")):
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith(("float", "Float")):
            df[c] = df[c].astype(float)
        elif str(df[c].dtype).lower().startswith(("int", "uint")):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def hugeint_columns(rel) -> list[tuple[str, str]]:
    """(column, type) pairs of a DuckDB relation typed HUGEINT.

    DuckDB SUM(BIGINT) returns HUGEINT, which a hash compare types
    differently from Spark's bigint even when the values are equal;
    normalization hides it, so check the bound plan types first and
    CAST(... AS BIGINT) in the oracle SQL.
    """
    return [
        (c, str(t))
        for c, t in zip(rel.columns, rel.types)
        if "HUGEINT" in str(t).upper() or "INT128" in str(t).upper()
    ]


def _values_match(a: pd.DataFrame, b: pd.DataFrame) -> tuple[bool, str]:
    if list(a.columns) != list(b.columns):
        return False, f"columns differ: {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return False, f"row counts differ: {len(a)} vs {len(b)}"
    for c in a.columns:
        av, bv = a[c].tolist(), b[c].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            if isinstance(x, float) and isinstance(y, float):
                if math.isnan(x) and math.isnan(y):
                    continue
                if x != y:
                    return False, f"{c}[{i}]: {x!r} != {y!r} (diff {abs(x - y)})"
            elif x != y:
                return False, f"{c}[{i}]: {x!r} != {y!r}"
    return True, "ok"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="check_correctness")
    con = duckdb.connect()
    for t in CORE_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows (no oracle)")
            continue
        try:
            bad = hugeint_columns(con.sql(oracles[name]))
            if bad:
                failures.append(name)
                print(f"FAIL  {name}: oracle emits HUGEINT column(s) {bad}")
                continue
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        ok, msg = _values_match(_normalize(sdf), _normalize(odf))
        status = "ok   " if ok else "FAIL "
        if not ok:
            failures.append(name)
        print(f"{status} {name}: {len(sdf)} rows vs {len(odf)} — {msg}")
    spark.stop()
    if failures:
        print("FAILURES:", failures)
        return 1
    print("all queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
