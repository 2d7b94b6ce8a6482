"""Smoke test of the benchmark itself, at sf0.001 input sizes.

Run from the root of a source checkout:

    python3 perfbench/smoke.py

For every workload in BENCHMARK.json it runs ``run.py`` with one set-up
and one timed cycle, untraced and traced, and asserts that the result
line is correct and carries every declared metric with its unit. It then
plants one wrong answer per workload and asserts the output checks count
it. Exits non-zero on the first failed assertion.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SCALE = "0.01"  # of the sf0.1 sizes: sf0.001


def _run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "0.1", "--trace", str(trace),
           "--scale", SCALE, "--setups", "1", *extra]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise AssertionError(f"{workload} trace={trace}: exit code {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def _check_metrics(res: dict, declared: list[dict], what: str) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, what
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want, f"{what}: metrics {sorted(set(got) ^ set(want))} differ"
    assert res["attempted"] >= 1, what


def main() -> int:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    for w in bench["workloads"]:
        name = w["name"]
        for trace, declared in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            res = _run(name, trace)
            what = f"{name} trace={trace}"
            _check_metrics(res, declared, what)
            assert res["correct"] and res["failed"] == 0, f"{what}: {res}"
            print(f"ok  {what}: {res['attempted']} operations", flush=True)
        res = _run(name, 0, "--plant-wrong")
        assert res["failed"] >= 1 and not res["correct"], f"{name}: planted answer passed"
        print(f"ok  {name}: planted wrong answer counted ({res['failed']} failed)", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
