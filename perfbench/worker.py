"""One benchmark run, in its own process: set-up, one cold pass, then
``WARM_PASSES`` warm passes in a closed loop (a pass starts when the
previous one has finished and been checked). The pass count is fixed, so
every run of every version takes the same number of samples whatever the
host's speed. Started by ``run.py``, which passes the time it spawned this
process, so ``setup_s`` covers interpreter start, the package import,
``get_spark`` and a first trivial job. Writes its metrics as JSON to
``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

import pyarrow as pa

from metrics import END_TO_END, PER_LAYER, STEPS
from spans import Tracer

MB = 1e6
#: warm passes per run; one is what fits the evaluation's time budget
WARM_PASSES = 1


# -- the process tree (this interpreter, the JVM, Python daemons) ----------

def _tree(root: int) -> list[int]:
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            continue  # exited meanwhile
    return pids


def tree_cpu_s() -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    ticks = 0
    for pid in _tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


class PeakRss:
    """Samples the tree's summed proportional resident set (PSS: a page
    shared by k processes counts 1/k in each, so forked Python workers
    are not counted twice) every ``interval`` seconds on a daemon thread,
    and once more at :meth:`pause` and :meth:`stop`, and keeps the largest
    sum. Reading PSS walks a process's page tables (~8 ms for the JVM), so
    the interval is long; the JVM rarely returns heap pages, so its peak
    persists until the next sample. No sample is taken between
    :meth:`pause` and :meth:`resume` (the output checks)."""

    def __init__(self, interval: float = 1.0):
        self.peak = 0
        self._paused = False
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, args=(interval,), daemon=True)
        self._thread.start()

    def _loop(self, interval: float) -> None:
        while not self._stop.wait(interval):
            with self._lock:
                if not self._paused:
                    self._sample()

    def pause(self) -> None:
        with self._lock:
            self._sample()
            self._paused = True

    def resume(self) -> None:
        with self._lock:
            self._paused = False

    def _sample(self) -> None:
        total = 0
        for pid in _tree(os.getpid()):
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        self.peak = max(self.peak, total)

    def stop(self) -> int:
        self._stop.set()
        self._thread.join()
        if not self._paused:
            self._sample()
        return self.peak


def files(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every file under ``root``."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) created or rewritten between two :func:`files` calls."""
    new = [v[0] for p, v in after.items() if before.get(p) != v]
    return sum(new), len(new)


# -- one run ---------------------------------------------------------------

class Run:
    """Runs passes of one workload and counts attempted and failed steps.
    The output checks run with ``rss`` (a :class:`PeakRss`) paused."""

    def __init__(self, ctx, workload, tracer, run_span: dict, rss: PeakRss | None = None):
        self.ctx, self.wl, self.tr, self.run_span, self.rss = ctx, workload, tracer, run_span, rss
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def step(self, step, p: int, parent: dict) -> dict:
        ctx, tr = self.ctx, self.tr
        out = ctx.path("out", f"p{p}", step.name)
        rec = {"step": step.name, "construct_s": 0.0, "action_s": 0.0,
               "out": out, "result": None, "error": None}
        traced_index = tr.enabled and step.layer == "index_store"
        idx_before = files(ctx.path("index")) if traced_index else None
        span = tr.span(step.name, "step", parent, time.perf_counter())
        phases = []
        try:
            with tr.phase(f"pb:{p}:{step.name}:construct") as c:
                phases.append(c)
                result = step.call(ctx, p)
            with tr.phase(f"pb:{p}:{step.name}:action") as a:
                phases.append(a)
                if hasattr(result, "write"):
                    result.write.mode("overwrite").parquet(out)
            rec["result"] = None if hasattr(result, "write") else result
        except Exception as e:  # a failing step is counted, the run goes on
            rec["error"] = f"{type(e).__name__}: {e}"
            traceback.print_exc()
        span["end"] = time.perf_counter()
        for kind, ph in zip(("construct_s", "action_s"), phases):
            rec[kind] = ph.seconds
        if not tr.enabled:
            return rec
        for kind, ph in zip(("construct", "action"), phases):
            jobs = tr.jobs(ph.group)
            rec[kind] = {**jobs, "py4j": ph.py4j}
            name = f"index_store.{step.name}" if traced_index and kind == "construct" else kind
            tr.span(name, kind, span, ph.start, ph.end, job_ids=jobs["job_ids"], py4j=ph.py4j)
        for kind in ("construct", "action")[len(phases):]:
            rec[kind] = {**tr.no_jobs(), "py4j": 0}
        if traced_index:
            rec["index_written"] = written(idx_before, files(ctx.path("index")))
        return rec

    def one_pass(self, p: int) -> dict:
        ctx, tr = self.ctx, self.tr
        self.wl.before_pass(ctx, p)
        before = files(ctx.work)
        cpu0 = tree_cpu_s()
        span = tr.span(f"pass{p}", "pass", self.run_span, time.perf_counter())
        recs = [self.step(s, p, span) for s in self.wl.steps]
        span["end"] = time.perf_counter()
        cpu = tree_cpu_s() - cpu0
        nbytes, nfiles = written(before, files(ctx.work))
        tr.group("pb:check")
        if self.rss:
            self.rss.pause()
        for step, rec in zip(self.wl.steps, recs):
            self.attempted += 1
            err = rec["error"]
            if err is None:
                try:
                    step.check(ctx, p, rec["result"], rec["out"])
                except Exception as e:  # wrong or unreadable output
                    err = f"check: {type(e).__name__}: {e}"
                    traceback.print_exc()
            if err is not None:
                self.failed += 1
                self.errors.append(f"pass {p} {step.name}: {err}")
        shutil.rmtree(ctx.path("out", f"p{p}"), ignore_errors=True)
        if self.rss:
            pa.default_memory_pool().release_unused()  # the checks' parquet reads
            self.rss.resume()
        return {"pass_s": span["end"] - span["start"], "cpu_s": cpu,
                "written_bytes": nbytes, "written_files": nfiles, "steps": recs}


_PROBES = {"gen_index_probe_accreted", "gen_index_probe_compacted"}


def pass_layers(p: dict, cores: int) -> dict:
    """Per-layer totals of one traced pass."""
    recs = p["steps"]

    def tot(key, names=None, kinds=("construct", "action")):
        return sum(r[k][key] for r in recs for k in kinds
                   if names is None or r["step"] in names)

    def wall(*names):
        return sum(r["construct_s"] + r["action_s"] for r in recs if r["step"] in names)

    construct = sum(r["construct_s"] for r in recs)
    action = sum(r["action_s"] for r in recs)
    out = {
        "plans.construct_s": construct,
        "plans.py4j_calls": tot("py4j", kinds=("construct",)),
        "plans.eager_jobs": tot("jobs", kinds=("construct",)),
        "plans.share": construct / p["pass_s"],
        "operators.action_s": action,
        "operators.jobs": tot("jobs"),
        "operators.stages": tot("stages"),
        "operators.tasks": tot("tasks"),
        "operators.run_s": tot("run_ms") / 1e3,
        "operators.cpu_s": tot("cpu_ns") / 1e9,
        "operators.gc_s": tot("gc_ms") / 1e3,
        "operators.slot_busy": tot("run_ms") / 1e3 / (cores * (construct + action)),
        "operators.shuffle_write_mb": tot("shuffle_write_bytes") / MB,
        "operators.shuffle_read_mb": tot("shuffle_read_bytes") / MB,
        "operators.spill_mb": tot("spill_bytes") / MB,
        "sources.input_mb": tot("input_bytes") / MB,
        "sources.input_rows": tot("input_rows"),
        "sources.output_mb": tot("output_bytes") / MB,
        "sources.output_files": p["written_files"],
        "sources.output_rows": tot("output_rows"),
        "sources.bytes_per_row": tot("output_bytes") / max(tot("output_rows"), 1),
        "jobs.structuring_s": wall("structuring_job"),
        "jobs.structuring_jobs": tot("jobs", {"structuring_job"}),
        "jobs.outbound_s": wall("outbound_pipeline"),
        "jobs.outbound_jobs": tot("jobs", {"outbound_pipeline"}),
        "index_store.append_s": wall("gen_index_append"),
        "index_store.probe_s": wall(*_PROBES),
        "index_store.compact_s": wall("gen_index_compact"),
        "index_store.rollback_s": wall("gen_index_rollback"),
        "index_store.written_mb": sum(r.get("index_written", (0, 0))[0] for r in recs) / MB,
        "index_store.files_written": sum(r.get("index_written", (0, 0))[1] for r in recs),
        "index_store.probe_input_mb": tot("input_bytes", _PROBES) / MB,
        "trace.pass_s": p["pass_s"],
    }
    for r in recs:
        pre = f"step.{r['step']}."
        out[pre + "construct_s"] = r["construct_s"]
        out[pre + "action_s"] = r["action_s"]
        out[pre + "jobs"] = r["construct"]["jobs"] + r["action"]["jobs"]
        out[pre + "py4j_calls"] = r["construct"]["py4j"] + r["action"]["py4j"]
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(STEPS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--oracles", required=True, help="oracle digests (JSON)")
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans", default=None)
    args = ap.parse_args(argv)

    t0 = time.perf_counter()
    import workloads  # imports the engine package
    from glue_job_to_write_structured_data_on_s3_full_code_spark.session import get_spark

    t1 = time.perf_counter()
    rss = PeakRss()
    spark = get_spark(f"perfbench-{args.workload}")
    t2 = time.perf_counter()
    spark.range(1).count()  # the sentinel: a fixed no-op job
    t3 = time.perf_counter()
    setup_s = time.time() - args.spawned_at
    session = {"session.import_s": t1 - t0, "session.get_spark_s": t2 - t1,
               "session.sentinel_s": t3 - t2}

    tracer = Tracer(spark, bool(args.trace))
    run_span = tracer.span("run", "run", None, t0)
    tracer.span("setup", "setup", run_span, t0, t3)
    with open(args.oracles) as f:
        oracles = json.load(f)
    ctx = workloads.Ctx(spark, args.data, args.work, args.seed, oracles)
    wl = workloads.WORKLOADS[args.workload]
    tracer.group("pb:prepare")
    t = time.perf_counter()
    wl.prepare(ctx)
    tracer.span("prepare", "prepare", run_span, t, time.perf_counter())

    run = Run(ctx, wl, tracer, run_span, rss)
    passes = [run.one_pass(p) for p in range(1 + WARM_PASSES)]

    tracer.group("pb:sentinel")
    t = time.perf_counter()
    spark.range(1).count()
    session["session.sentinel_end_s"] = time.perf_counter() - t
    peak = rss.stop()
    cores = spark.sparkContext.defaultParallelism
    run_span["end"] = time.perf_counter()
    spark.stop()

    warm = passes[1:]
    if args.trace:
        per_pass = [pass_layers(p, cores) for p in warm]
        metrics = {name: 0.0 for name, _, _ in PER_LAYER}
        metrics.update(session)
        metrics.update({k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]})
        metrics["trace.first_pass_s"] = passes[0]["pass_s"]
        metrics["jobs.catalog_partitions"] = ctx.state.get("partitions", 0)
        metrics["error_rate"] = run.failed / run.attempted
        units = {n: u for n, u, _ in PER_LAYER}
        if args.spans:
            tracer.dump(args.spans, {"workload": args.workload, "seed": args.seed})
    else:
        metrics = {
            "setup_s": setup_s,
            "pass_s": statistics.median(p["pass_s"] for p in warm),
            "cpu_s": statistics.median(p["cpu_s"] for p in warm),
            "peak_rss_mb": peak / MB,
            "written_mb": statistics.median(p["written_bytes"] for p in warm) / MB,
        }
        units = {n: u for n, u, _, _ in END_TO_END}
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    with open(args.out, "w") as f:
        json.dump({"result": result, "errors": run.errors,
                   "passes": [{k: v for k, v in p.items() if k != "steps"} for p in passes]},
                  f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
