"""The benchmark's own smoke test.

Checks that BENCHMARK.json names the metrics run.py prints, then runs
every workload briefly at sf0.001 and asserts that

* the untraced run prints every end-to-end metric with its unit, all
  ops pass (fail ratio 0) and ``correct`` is true;
* the traced run, with one expected value planted wrong, prints every
  per-layer metric with its unit and reports the failure (fail ratio
  above 0, ``correct`` false).

Run from the repository root:  python3 perfbench/smoke.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import E2E, PER_LAYER, WORKLOAD_NAMES  # noqa: E402


def bench(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--sf", "0.001", "--etl-rows", "3000", *extra]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, f"{cmd} exited {out.returncode}:\n{out.stderr[-3000:]}"
    return json.loads(out.stdout.strip().splitlines()[-1])


def expect_metrics(res: dict, want: dict) -> None:
    got = res["metrics"]
    assert set(got) == set(want), f"metric names differ: {sorted(set(got) ^ set(want))}"
    for name, unit in want.items():
        assert got[name]["unit"] == unit, f"{name}: unit {got[name]['unit']} != {unit}"
        assert isinstance(got[name]["value"], (int, float)), f"{name}: no value"


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOAD_NAMES)
    for key, want in (("end_to_end", E2E), ("per_layer", PER_LAYER)):
        got = {m["name"]: m["unit"] for m in spec[key]}
        assert got == want, f"BENCHMARK.json {key} differs from run.py"
    for wl in WORKLOAD_NAMES:
        res = bench(wl, 0)
        expect_metrics(res, E2E)
        assert res["attempted"] >= 1 and res["failed"] == 0 and res["correct"], res
        assert res["metrics"]["ok_ratio"]["value"] == 1.0, res
        print(f"ok   {wl}: untraced run, fail_ratio 0")

        res = bench(wl, 1, "--plant-wrong")
        expect_metrics(res, PER_LAYER)
        assert res["failed"] > 0 and not res["correct"], res
        print(f"ok   {wl}: traced run, planted wrong value caught "
              f"(fail_ratio {res['failed'] / res['attempted']:.3f})")
    print("smoke test passed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
