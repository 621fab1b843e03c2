"""Self-test of the benchmark at its tiny size.

    python3 perfbench/selftest.py

For every workload, a tiny untraced run must print every end-to-end metric
of BENCHMARK.json with its unit and pass its output checks, and a tiny
traced run must print every per-layer metric.  A wire_io run told to expect
a wrong checksum must report its scans as failed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def _run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--size", "tiny", *extra]
    out = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True,
                         timeout=600)
    if out.returncode != 0:
        raise AssertionError(f"{cmd} exited {out.returncode}:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def _check_metrics(result: dict, spec: list[dict], what: str) -> None:
    got = result["metrics"]
    want = {m["name"]: m["unit"] for m in spec}
    if set(got) != set(want):
        raise AssertionError(f"{what}: metrics {sorted(got)} != {sorted(want)}")
    for name, unit in want.items():
        m = got[name]
        if m["unit"] != unit or not isinstance(m["value"], (int, float)):
            raise AssertionError(f"{what}: {name} = {m}, expected unit {unit}")


def main() -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in bench["workloads"]:
        name = w["name"]
        res = _run(name, 0)
        _check_metrics(res, bench["end_to_end"], f"{name} --trace 0")
        if not res["correct"] or res["failed"]:
            raise AssertionError(f"{name}: outputs failed their checks: {res}")
        _check_metrics(_run(name, 1), bench["per_layer"], f"{name} --trace 1")
        print(f"ok  {name}: every metric printed with its unit", flush=True)
    res = _run("wire_io", 0, "--corrupt-expected")
    if res["correct"] or res["failed"] < 4:
        raise AssertionError(f"a wrong expected checksum went unnoticed: {res}")
    print(f"ok  wire_io: a wrong checksum fails {res['failed']}/{res['attempted']}"
          " operations")
    return 0


if __name__ == "__main__":
    sys.exit(main())
