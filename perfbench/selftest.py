"""The benchmark's own test.

    python3 perfbench/selftest.py [--out perfbench/results/determinism.json]

Run from the root of a checkout. It checks, in order:

1. BENCHMARK.json lists exactly the metrics of ``metrics.py``, with the
   same units and directions.
2. ``run.py`` exits non-zero and prints no result in a directory that
   holds only BENCHMARK.json and the benchmark (no engine package).
3. A step whose expected oracle digest is wrong counts as failed, and the
   same step with the right digest does not.
4. Counters repeat: two fresh sessions each run every workload for
   ``PASSES`` traced passes (the same seed), and the jobs, stages,
   tasks, py4j commands and shuffle bytes of every step at every pass are
   compared between them. A counter that differs is reported with both
   sessions' values, not as deterministic. The cold pass and the spread
   across warm passes are reported too, so a counter that settles after
   warm-up (or grows with the pass number) shows as such.

Exits non-zero when any of 1-3 fails or a counter declared deterministic
in ``metrics.DETERMINISTIC`` differs between the sessions.
"""

from __future__ import annotations

import argparse
import copy
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
PASSES = 4  # cold + warm passes per workload and session
COUNTERS = ("jobs", "stages", "tasks", "py4j", "shuffle_write_bytes", "shuffle_read_bytes")


def check_catalog(root: str) -> None:
    from metrics import END_TO_END, PER_LAYER

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = [(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]]
    layer = [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]]
    if e2e != [tuple(m) for m in END_TO_END] or layer != [tuple(m) for m in PER_LAYER]:
        raise SystemExit("BENCHMARK.json metrics differ from metrics.py")
    print("ok: BENCHMARK.json matches metrics.py")


def check_refuses_without_package(root: str) -> None:
    bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(root, ".perfbench"))
    try:
        shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        r = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "corpus_dedup",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180,
        )
    finally:
        shutil.rmtree(bare)
    if r.returncode == 0 or '"correct"' in r.stdout:
        raise SystemExit(f"run.py without the package: exit {r.returncode}, {r.stdout!r}")
    print(f"ok: without the package run.py exits {r.returncode} and prints no result")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=os.path.join(HERE, "results", "determinism.json"))
    ap.add_argument("--session", help=argparse.SUPPRESS)  # internal: one session's counters
    args = ap.parse_args(argv)
    root = os.getcwd()
    sys.path[:0] = [root, HERE]
    if args.session:
        return _session(args, root)
    os.makedirs(os.path.join(root, ".perfbench"), exist_ok=True)
    check_catalog(root)
    check_refuses_without_package(root)
    sessions = []
    for i in range(2):
        out = os.path.join(root, ".perfbench", f"selftest-session{i}.json")
        r = subprocess.run([sys.executable, __file__, "--session", out], timeout=900)
        if r.returncode != 0:
            raise SystemExit(f"session {i} exited {r.returncode}")
        with open(out) as f:
            sessions.append(json.load(f))
    return _compare(args, root, sessions)


def _compare(args, root: str, sessions: list[dict]) -> int:
    """Counters of the same step at the same pass, in two sessions."""
    from metrics import DETERMINISTIC

    ok = all(s["ok"] for s in sessions)
    a, b = (s["counters"] for s in sessions)
    report = {}
    for step, passes in a.items():
        across = {c: [[p[c] for p in passes], [p[c] for p in b[step]]] for c in COUNTERS
                  if [p[c] for p in passes] != [p[c] for p in b[step]]}
        within = {c: [p[c] for p in passes[1:]] for c in COUNTERS
                  if len({p[c] for p in passes[1:]}) > 1}
        report[step] = {"cold": passes[0], "warm": passes[1],
                        "differs_across_sessions": across,
                        "varies_across_warm_passes": within}
        for c in across:
            if c in DETERMINISTIC:
                print(f"FAIL: {step}.{c} differs between sessions: {across[c]}")
                ok = False
    repeat = [c for c in COUNTERS
              if not any(c in r["differs_across_sessions"] for r in report.values())]
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump({"passes": PASSES, "deterministic": list(DETERMINISTIC),
                   "repeated_in_every_step": repeat, "steps": report}, f, indent=1)
    print(f"{'ok' if ok else 'FAIL'}: {len(report)} steps x {PASSES} passes in two "
          f"sessions; repeated exactly: {', '.join(repeat) or 'none'}; "
          f"written to {os.path.relpath(args.out, root)}")
    return 0 if ok else 1


def _session(args, root: str) -> int:
    """One Spark session: the wrong-digest check, then every workload's
    passes; writes the per-step counters of every pass to ``--session``."""
    import run

    data = run.ensure_data(os.path.join(root, ".perfbench"))
    base = tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(root, ".perfbench"))
    os.environ.update(run.worker_env(base))
    work_root = os.path.join(base, "run")
    os.makedirs(work_root)
    os.chdir(work_root)  # the session's warehouse lands in the work dir
    try:
        ok, counters = _session_checks(root, data, work_root)
    finally:
        os.chdir(root)
        shutil.rmtree(base, ignore_errors=True)
    with open(args.session, "w") as f:
        json.dump({"ok": ok, "counters": counters}, f)
    return 0


def _session_checks(root: str, data: str, work_root: str):
    import workloads
    from metrics import STEPS
    from run import load_oracles
    from spans import Tracer
    from worker import Run

    from glue_job_to_write_structured_data_on_s3_full_code_spark.session import get_spark

    spark = get_spark("perfbench-selftest")
    state = os.path.join(root, ".perfbench")
    tracer = Tracer(spark, True)
    ok = True

    def digests(workload: str) -> dict:
        with open(load_oracles(state, data, workload)) as f:
            return json.load(f)

    # a wrong expected digest fails the step; the right one passes
    step = workloads.WORKLOADS["corpus_dedup"].steps[1]
    good = digests("corpus_dedup")
    bad = copy.deepcopy(good)
    bad[step.name]["hash"] = "0" * 64
    for oracles, want in ((good, 0), (bad, 1)):
        ctx = workloads.Ctx(spark, data, os.path.join(work_root, f"hash-{want}"), 1, oracles)
        r = Run(ctx, workloads.Workload([step]), tracer, None)
        r.one_pass(0)
        if (r.attempted, r.failed) != (1, want):
            print(f"FAIL: {step.name} with {'wrong' if want else 'right'} digest: "
                  f"{r.failed} of {r.attempted} failed")
            ok = False
    if ok:
        print(f"ok: {step.name} fails on a wrong digest and passes on the right one")

    counters = {}
    for name in STEPS:
        wl = workloads.WORKLOADS[name]
        ctx = workloads.Ctx(spark, data, os.path.join(work_root, name), 1,
                            digests(name))
        wl.prepare(ctx)
        r = Run(ctx, wl, tracer, None)
        passes = [r.one_pass(p) for p in range(PASSES)]
        if r.failed:
            print(f"FAIL: {name}: {r.errors}")
            ok = False
        for i, step in enumerate(wl.steps):
            counters[step.name] = [
                {c: p["steps"][i]["construct"][c] + p["steps"][i]["action"][c]
                 for c in COUNTERS}
                for p in passes
            ]
    spark.stop()
    return ok, counters


if __name__ == "__main__":
    sys.exit(main())
