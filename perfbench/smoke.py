"""Smoke test of the benchmark at tiny size.

    python3 perfbench/smoke.py

Runs every workload at ``--size tiny`` with ``--corrupt`` (every second
operation's output, the first included, is damaged before its check),
once untraced and once traced, and asserts that

* the result line carries exactly the metrics BENCHMARK.json names for
  that mode, each with its unit, and each is also printed as
  ``name = value unit``;
* every corrupted output is counted as failed, and no other.

Exits 0 when all assertions hold.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload: str, trace: int) -> tuple[list[str], dict]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--size", "tiny", "--corrupt"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise AssertionError(f"{' '.join(cmd)} exited {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for w in spec["workloads"]:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            lines, res = run(w["name"], trace)
            want = {m["name"]: m["unit"] for m in spec[group]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, f"{w['name']} trace={trace}: metric names/units differ: {set(got) ^ set(want)}"
            printed = {ln.split(" = ")[0]: ln.rsplit(" ", 1)[1] for ln in lines if " = " in ln}
            missing = [k for k, u in want.items() if printed.get(k) != u]
            assert not missing, f"{w['name']} trace={trace}: not printed with unit: {missing}"
            corrupted = (res["attempted"] + 1) // 2
            assert res["attempted"] >= 1 and res["failed"] == corrupted, (
                f"{w['name']} trace={trace}: {res['failed']} failed of {res['attempted']}, "
                f"expected the {corrupted} corrupted"
            )
            assert res["correct"] is False
            print(f"ok {w['name']} trace={trace}: {len(got)} metrics, "
                  f"{res['failed']}/{res['attempted']} corrupted outputs caught")
    return 0


if __name__ == "__main__":
    sys.exit(main())
