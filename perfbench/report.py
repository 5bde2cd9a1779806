"""Traced result: per-layer numbers for every step of every workload.

    python3 perfbench/report.py [--out perfbench/results/traced.json]

Run from the root of a checkout. For each workload it makes one untraced
run (``--trace 0``) and one traced run (``--trace 1``) with seed ``SEED``
and BENCHMARK.json's ``run_seconds``, then writes one JSON file holding, per workload:

- ``end_to_end``: the untraced run's metrics;
- ``per_layer``: the traced run's metrics that are not 0;
- ``self_s``: median self time per span name over the warm passes (a
  span's duration minus the time its child spans cover);
- ``tracing_overhead_s``: traced ``pass_s`` minus untraced ``pass_s``,
  also as a share of the untraced ``pass_s``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SEED = 7


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=200,
    )
    if r.returncode != 0:
        raise SystemExit(f"{workload} trace={trace}: exit {r.returncode}\n{r.stderr[-3000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def self_times(spans: list[dict]) -> dict[str, float]:
    """Median self time per span path (``pass/step/phase``) over warm passes."""
    by_id = {s["id"]: s for s in spans}
    covered: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            covered[s["parent"]] = covered.get(s["parent"], 0.0) + s["end"] - s["start"]

    samples: dict[str, list[float]] = {}
    for s in spans:
        if s["kind"] in ("run", "setup", "prepare"):
            continue
        names, anc = [], s
        while anc["kind"] != "pass":
            names.append(anc["name"])
            anc = by_id[anc["parent"]]
        if anc["name"] == "pass0":
            continue  # the cold pass
        path = "/".join(["pass"] + names[::-1])
        samples.setdefault(path, []).append(s["end"] - s["start"] - covered.get(s["id"], 0.0))
    return {p: statistics.median(v) for p, v in samples.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=os.path.join(HERE, "results", "traced.json"))
    args = ap.parse_args(argv)
    sys.path.insert(0, HERE)
    from metrics import STEPS

    with open("BENCHMARK.json") as f:
        seconds = json.load(f)["run_seconds"]
    report = {"seed": SEED, "seconds": seconds, "cores": len(os.sched_getaffinity(0)),
              "workloads": {}}
    for wl in STEPS:
        plain = _run(wl, SEED, seconds, 0)
        traced = _run(wl, SEED, seconds, 1)
        with open(os.path.join(".perfbench", "traces", f"{wl}-s{SEED}.json")) as f:
            spans = json.load(f)["spans"]
        untraced_pass = plain["metrics"]["pass_s"]["value"]
        overhead = traced["metrics"]["trace.pass_s"]["value"] - untraced_pass
        report["workloads"][wl] = {
            "correct": plain["correct"] and traced["correct"],
            "end_to_end": {k: v["value"] for k, v in plain["metrics"].items()},
            "per_layer": {k: v["value"] for k, v in traced["metrics"].items() if v["value"]},
            "self_s": self_times(spans),
            "tracing_overhead_s": overhead,
            "tracing_overhead_share": overhead / untraced_pass,
        }
        print(f"{wl}: pass_s {untraced_pass:.3f} untraced, overhead {overhead:+.3f} s",
              flush=True)
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
