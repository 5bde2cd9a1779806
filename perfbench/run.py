"""Benchmark of the engine's public entry points.

    python3 perfbench/run.py --workload prospect_etl --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One run generates the input tables and
computes their DuckDB oracle digests (both once per checkout, cached under
``.perfbench/``, in this process, so in no metric), then starts
``worker.py`` in a fresh process on ``local[<cores>]`` with its own
working directory as warehouse and its own ``SPARK_LOCAL_DIRS``. The
worker sets up, runs one cold pass and a fixed number of warm passes
(``worker.WARM_PASSES``), and checks every step's output after every pass
against the oracle digests. ``--seconds`` is accepted as the benchmark
command's interface requires, but does not set the pass count: a run's
samples must not depend on how fast the host is.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` (steps that raised or wrote a wrong output) and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
ones with ``--trace 1`` (see ``metrics.py``). A traced run also writes
its spans to ``.perfbench/traces/``. The exit code is non-zero, with no
result printed, when the run itself cannot complete (no engine package,
worker crash, timeout).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PKG = "glue_job_to_write_structured_data_on_s3_full_code_spark"
SF = 0.1  # input scale: the row counts of the sf0.1 fixture
DRIVER_MEM = "1g"
TIME_LIMIT_S = 170  # a run must end within 180 s


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def ensure_data(state: str) -> str:
    """The generated tables, written once per checkout."""
    import datagen

    path = os.path.join(state, f"data-sf{SF}-v{datagen.GENERATOR_VERSION}")
    if not os.path.isdir(path):
        tmp = f"{path}.tmp{os.getpid()}"
        datagen.write(SF, tmp)
        os.replace(tmp, path)
    return path


def load_oracles(state: str, data: str, workload: str) -> str:
    """Path of the oracle digests for the workload's checks: computed with
    DuckDB once per input and oracle SQL text, then read from the cache."""
    from canon import oracle_digests
    from metrics import ORACLES

    from glue_job_to_write_structured_data_on_s3_full_code_spark.registry import (
        ORACLES as SQL,
    )

    sql = {n: SQL[n] for n in ORACLES[workload]}
    key = hashlib.sha256(json.dumps([data, sql], sort_keys=True).encode()).hexdigest()
    path = os.path.join(state, f"oracles-{workload}-{key[:16]}.json")
    if not os.path.exists(path):
        with open(f"{path}.tmp", "w") as f:
            json.dump(oracle_digests(data, sql), f)
        os.replace(f"{path}.tmp", path)
    return path


def worker_env(work: str) -> dict[str, str]:
    """Environment of a benchmark session: all cores, a driver heap well
    below physical memory, and every scratch file (Spark's local dirs, the
    JVM's and Python's temp files) inside ``work``. ``-XX:-UsePerfData``
    stops the JVM writing its perf-counter file under /tmp."""
    tmp = os.path.join(work, "tmp")
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_SUBMIT_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
    }


def _group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[2]) == pgid:
                        return True
            except (OSError, ValueError, IndexError):
                continue
    return False


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop the worker's process group (worker, JVM, Python daemons) and
    wait until every member has ended. A worker that exited has already
    stopped Spark, so what is left of its group is killed outright."""
    signals = [signal.SIGKILL] if proc.poll() is not None else [signal.SIGTERM, signal.SIGKILL]
    for sig in signals:
        if proc.poll() is not None and not _group_alive(proc.pid):
            return
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + 10
        while time.monotonic() < end and (proc.poll() is None or _group_alive(proc.pid)):
            time.sleep(0.1)


def main(argv=None) -> int:
    started = time.monotonic()
    # a terminated run still stops its worker group and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PKG, "__init__.py")):
        _log(f"no {PKG} package under {root}; run from the root of a checkout")
        return 2
    sys.path[:0] = [root, HERE]
    from metrics import STEPS

    if args.workload not in STEPS:
        _log(f"unknown workload {args.workload!r}; choose from {sorted(STEPS)}")
        return 2

    state = os.path.join(root, ".perfbench")
    data = ensure_data(state)
    oracles = load_oracles(state, data, args.workload)
    work = os.path.join(state, "work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    run_dir = os.path.join(work, "run")  # warehouse, outputs, stores, index
    os.makedirs(run_dir)
    out = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--trace", str(args.trace),
        "--data", data, "--oracles", oracles, "--work", run_dir, "--out", out,
    ]
    if args.trace:
        os.makedirs(os.path.join(state, "traces"), exist_ok=True)
        cmd += ["--spans", os.path.join(
            state, "traces", f"{args.workload}-s{args.seed}.json")]
    env = dict(os.environ, **worker_env(work),
               PYTHONPATH=os.pathsep.join([root, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p]))
    log_path = os.path.join(work, "worker.log")
    try:
        with open(log_path, "w") as log:
            cmd += ["--spawned-at", repr(time.time())]
            proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=log,
                                    start_new_session=True)
            try:
                code = proc.wait(timeout=max(TIME_LIMIT_S - (time.monotonic() - started), 1))
            except subprocess.TimeoutExpired:
                code = None
            finally:
                _stop_group(proc)
        if code != 0 or not os.path.exists(out):
            with open(log_path, errors="replace") as f:
                tail = f.read()[-4000:]
            _log(f"worker {'timed out' if code is None else f'exited {code}'}:\n{tail}")
            return 1
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for err in res["errors"]:
        print(f"FAILED {err}")
    passes = res["passes"]
    print(f"{args.workload} seed={args.seed}: 1 cold + {len(passes) - 1} warm passes, "
          + ", ".join(f"{p['pass_s']:.3f}s" for p in passes))
    print(json.dumps(res["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
