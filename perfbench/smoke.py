"""The benchmark's own test: every workload on tiny inputs.

    python3 perfbench/smoke.py [workload ...]

Run from the repository root. Each workload runs once untraced and twice
traced with the same seed, on ``--tiny`` inputs. The smoke test checks that
the last line of standard output is the result object with exactly
``correct``, ``attempted``, ``failed`` and ``metrics``; that every check
passed; that every metric BENCHMARK.json declares is present and finite;
that the trace file holds spans, a per-layer table and per-request job
counts; and that the per-request job counts repeat exactly. Exits 0 when
all of it holds.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

SEED = 7


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise AssertionError(f"{workload} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(lines[-1])


def _check_result(res: dict, names: list[str], where: str) -> None:
    if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
        raise AssertionError(f"{where}: result keys {sorted(res)}")
    if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
        raise AssertionError(f"{where}: correct={res['correct']} failed={res['failed']}")
    missing = [n for n in names if n not in res["metrics"]]
    if missing:
        raise AssertionError(f"{where}: missing metrics {missing}")
    for n in names:
        v = res["metrics"][n]["value"]
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            raise AssertionError(f"{where}: {n} = {v!r}")


def main(argv: list[str]) -> int:
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    e2e = [m["name"] for m in bench["end_to_end"]]
    layers = [m["name"] for m in bench["per_layer"]]
    from perfbench.run import WORKLOADS

    for wl in argv or WORKLOADS:
        _check_result(_run(wl, 0), e2e, f"{wl} untraced")
        jobs = []
        for i in range(2):
            _check_result(_run(wl, 1), layers, f"{wl} traced #{i + 1}")
            with open(os.path.join(".perfbench", f"trace-{wl}-{SEED}.json")) as fh:
                trace = json.load(fh)
            if not trace["spans"] or not trace["per_layer"] or not trace["request_jobs"]:
                raise AssertionError(f"{wl}: trace file lacks spans, layers or job counts")
            jobs.append(trace["request_jobs"])
        if jobs[0] != jobs[1]:
            diff = {k: (jobs[0].get(k), jobs[1].get(k)) for k in jobs[0] if jobs[0].get(k) != jobs[1].get(k)}
            raise AssertionError(f"{wl}: per-request job counts differ between traced runs: {diff}")
        print(f"ok {wl}: {len(jobs[0])} requests, job counts repeat exactly")
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.getcwd())
    sys.exit(main(sys.argv[1:]))
