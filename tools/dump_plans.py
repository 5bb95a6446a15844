"""Dump ``explain("formatted")`` for declared queries without running
them (guide §7.2): plan-only, no jobs besides what plan analysis needs.

Usage:
  python tools/dump_plans.py --out DIR [--suffix _after] key [key ...]

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
Writes <out>/<key><suffix>.txt per key.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from locopy_spark.session import get_spark


def main() -> int:
    args = sys.argv[1:]
    if "--out" not in args:
        print(__doc__, file=sys.stderr)
        return 2
    i = args.index("--out")
    out_dir = args[i + 1]
    args = args[:i] + args[i + 2:]
    suffix = ""
    if "--suffix" in args:
        i = args.index("--suffix")
        suffix = args[i + 1]
        args = args[:i] + args[i + 2:]
    os.makedirs(out_dir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="locopy_dump_plans")
    qs = entrymod.queries()
    for key in args:
        df = qs[key](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{key}{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(path)
        spark.catalog.clearCache()
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
