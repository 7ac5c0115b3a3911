"""cosmospark benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload assign_uniform --seed 1 --seconds 10 --trace 0

Run from the root of a cosmospark checkout. ``--trace 0`` prints the
end-to-end metrics of BENCHMARK.json; ``--trace 1`` runs the traced
variant and prints the per-layer metrics, writing its spans under
``.perfbench_work/traces/``. The last stdout line is the result JSON;
the line before it records the host probes, driver heap and run details.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _become_subreaper() -> None:
    """Have orphaned descendants (a PySpark daemon whose JVM has exited)
    reparent to this process rather than to init, so they stay in its
    tree, to be stopped and reaped before it exits."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    if ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print(f"prctl(PR_SET_CHILD_SUBREAPER): errno {ctypes.get_errno()}", file=sys.stderr)


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stop_processes() -> None:
    """Stop the Spark JVM this process launched and every process under
    it, and wait until each has ended."""
    import host

    try:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()
            gw.proc.wait(timeout=60)
    except Exception as e:  # shutting down: report, then fall through to the kill below
        print(f"gateway shutdown: {e!r}", file=sys.stderr)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.time() + 20
        while time.time() < deadline:
            _reap()
            left = [p for p in host.tree()[1:] if _state(p) not in "ZX"]
            if not left:
                return
            for p in left:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            time.sleep(0.1)
    print(f"processes still running: {left}", file=sys.stderr)


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            s = fh.read()
        return s[s.rindex(")") + 2]
    except OSError:
        return "X"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="fact-table size factor (self-test)")
    a = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "cosmospark")) or not os.path.exists(spec_path):
        print(f"needs the cosmospark package and BENCHMARK.json under {ROOT}", file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    sys.path[:0] = [HERE, ROOT]
    # Python workers import the engine from this checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

    import host
    import workloads

    _become_subreaper()

    if a.workload not in workloads.WORKLOADS:
        print(f"unknown workload {a.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    run = workloads.Run(a.workload, a.seed, a.seconds, bool(a.trace), ROOT, a.scale)
    phases = {"start": time.perf_counter()}
    probes = host.probes()
    phases["probes"] = time.perf_counter()
    os.makedirs(run.work, exist_ok=True)
    try:
        workloads.WORKLOADS[a.workload](run)
        phases["workload"] = time.perf_counter()
    finally:
        _stop_processes()
        shutil.rmtree(run.work, ignore_errors=True)
    phases["stop"] = time.perf_counter()
    run.info["phase_end_s"] = {k: v - T0 for k, v in phases.items()}

    attempted = sum(x for x, _ in run.checks)
    failed = sum(f for _, f in run.checks)
    run.metrics["ok_frac"] = 1.0 - failed / attempted if attempted else 0.0
    if run.traced:
        traces = os.path.join(ROOT, ".perfbench_work", "traces")
        os.makedirs(traces, exist_ok=True)
        run.tracer.dump(os.path.join(traces, f"{a.workload}-s{a.seed}-{os.getpid()}.json"))
        # a layer the workload does not exercise reads 0
        names = spec["per_layer"]
        got = {**{m["name"]: 0.0 for m in names}, **run.layers}
    else:
        names, got = spec["end_to_end"], run.metrics
    metrics = {m["name"]: {"value": float(got[m["name"]]), "unit": m["unit"]} for m in names}
    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, **run.info,
        "host": probes, "checks": run.checks,
    }
    print(json.dumps({"run": record}, default=float))
    print(json.dumps({
        "correct": attempted > 0 and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
