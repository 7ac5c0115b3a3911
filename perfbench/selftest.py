"""Tiny-size self-test of the benchmark.

    python3 perfbench/selftest.py [workload ...]

Runs every workload (default: all four, ``image_ingest`` included) at 1% of
its fact-table size, untraced and traced. Each run must exit 0 and end with
a result line that carries every metric BENCHMARK.json names, each with its
unit; the untraced line must read ``ok_frac`` 1.0 and ``correct`` true.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check_one(spec: dict, workload: str, trace: int) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "0.01"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        return [f"exit {p.returncode}: {p.stderr[-2000:]}"]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    errs = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"result keys {sorted(res)}")
    want = spec["per_layer"] if trace else spec["end_to_end"]
    for m in want:
        got = res["metrics"].get(m["name"])
        if got is None or got.get("unit") != m["unit"] or not isinstance(got.get("value"), float):
            errs.append(f"metric {m['name']}: {got}")
    if set(res["metrics"]) != {m["name"] for m in want}:
        errs.append(f"extra metrics {sorted(set(res['metrics']) - {m['name'] for m in want})}")
    if not res["correct"] or res["failed"] or res["attempted"] < 1:
        errs.append(f"correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")
    if not trace and res["metrics"]["ok_frac"]["value"] != 1.0:
        errs.append(f"ok_frac {res['metrics']['ok_frac']['value']}")
    return errs


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = argv or ["assign_uniform", "assign_skewed", "zone_build", "image_ingest"]
    bad = 0
    for w in names:
        for trace in (0, 1):
            errs = check_one(spec, w, trace)
            print(f"{w} trace={trace}: {'ok' if not errs else 'FAIL'}")
            for e in errs:
                print(f"  {e}")
            bad += bool(errs)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
