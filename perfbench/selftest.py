"""Tiny-size self-test of the benchmark itself.

    python3 perfbench/selftest.py [workload ...]

For each workload (default: all), runs ``run.py`` at 1% input size
untraced and traced and checks that the last stdout line is a result
object naming every metric of BENCHMARK.json with its unit and no
failed op. Then runs one workload against a deliberately corrupted
reference and checks that every op counts as failed. Exits non-zero on
the first violation.
"""
from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), "--scale", "0.01", *extra]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=600)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"FAIL {workload} trace={trace}: "
                         f"exit {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def _check(res: dict, expected: dict, label: str) -> None:
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"FAIL {label}: result keys {sorted(res)}")
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != expected:
        raise SystemExit(f"FAIL {label}: metrics/units differ: "
                         f"{sorted(set(got.items()) ^ set(expected.items()))}")
    for k, v in res["metrics"].items():
        if not isinstance(v["value"], (int, float)):
            raise SystemExit(f"FAIL {label}: {k} = {v['value']!r}")
    if res["attempted"] < 1 or res["failed"] or not res["correct"]:
        raise SystemExit(f"FAIL {label}: attempted={res['attempted']} "
                         f"failed={res['failed']} correct={res['correct']}")
    print(f"ok   {label}: {res['attempted']} ops", flush=True)


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = argv or [w["name"] for w in spec["workloads"]]
    for trace, section in ((0, "end_to_end"), (1, "per_layer")):
        expected = {e["name"]: e["unit"] for e in spec[section]}
        for name in names:
            _check(_run(name, trace), expected, f"{name} trace={trace}")
    bad = _run(names[0], 0, "--corrupt-reference")
    if not (bad["failed"] == bad["attempted"] and not bad["correct"]):
        raise SystemExit(f"FAIL corrupted reference not detected: {bad}")
    print(f"ok   {names[0]} corrupted reference: "
          f"{bad['failed']}/{bad['attempted']} ops failed", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
