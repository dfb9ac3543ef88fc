"""Self-check of the benchmark's own code.

    python3 perfbench/selfcheck.py

Runs each workload once untraced and once traced at scale factor 0.001
with a one-second budget (one pass each) and asserts that

- the result line has exactly ``correct``, ``attempted``, ``failed`` and
  ``metrics``;
- every metric BENCHMARK.json names is present with its unit (end-to-end
  metrics untraced, per-layer metrics traced), and no other;
- ``wrong_results == 0`` and ``failed_frac == 0``.

Exits 1 on the first failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", workload, "--seed", "1", "--seconds", "1",
           "--trace", str(trace), "--scale", "0.001"]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                          timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"selfcheck: {workload} trace={trace} exited "
                         f"{proc.returncode}")
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


def expect(ok: bool, what: str) -> None:
    if not ok:
        raise SystemExit(f"selfcheck: {what}")


def check(workload: str, trace: int, spec: dict) -> None:
    report, result = run(workload, trace)
    where = f"{workload} trace={trace}"
    expect(set(result) == {"correct", "attempted", "failed", "metrics"},
           f"{where}: result keys {sorted(result)}")
    want = {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    expect(got == want, f"{where}: metrics/units {got} != {want}")
    expect(all(isinstance(v["value"], (int, float))
               for v in result["metrics"].values()),
           f"{where}: non-numeric metric value")
    expect(report["health"]["wrong_results"]["value"] == 0,
           f"{where}: wrong results {report['wrong_queries']}")
    expect(report["health"]["failed_frac"]["value"] == 0,
           f"{where}: failed attempts")
    print(f"selfcheck: {workload} trace={trace} ok "
          f"({len(got)} metrics, {result['attempted']} attempts)")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for w in spec["workloads"]:
        for trace in (0, 1):
            check(w["name"], trace, spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())
