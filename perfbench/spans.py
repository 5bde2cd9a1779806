"""Per-layer measurement from outside the package: spans, py4j commands
and Spark's own status store.

Nothing here patches the engine. The benchmark tags every step phase with
a Spark job group, counts the py4j commands the main thread sends while a
phase runs, and after the step reads the jobs of each group and their
stages from ``SparkContext.statusStore``. Spans are kept in memory and
written once, when the run ends.

With tracing off (:class:`Tracer` ``enabled=False``) only the phase wall
times are taken: no job groups, no py4j counting, no status-store reads.
"""

from __future__ import annotations

import json
import threading
import time

from py4j.protocol import Py4JJavaError

#: StageData accessors summed over every stage a step's jobs completed.
_STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "run_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "input_rows": "inputRecords",
    "output_bytes": "outputBytes",
    "output_rows": "outputRecords",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled",
}
#: py4j's garbage-collection detach ("m"emory "d"elete) is sent by a
#: finalizer thread whenever Python drops a Java reference, so its count
#: follows the Python GC, not the work. It is never counted.
_GC_DETACH = "m\nd\n"


class Py4jCounter:
    """Counts py4j commands sent by the main thread while ``on``."""

    def __init__(self, client):
        self.n = 0
        self.on = False
        self._main = threading.get_ident()
        send = client.send_command

        def counted(command, *args, **kwargs):
            if (
                self.on
                and threading.get_ident() == self._main
                and not command.startswith(_GC_DETACH)
            ):
                self.n += 1
            return send(command, *args, **kwargs)

        client.send_command = counted


class Tracer:
    """Spans, job groups and per-group job and stage totals of one session."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._sc = spark.sparkContext
        self._seq = 0
        #: stages already attributed to a group: a later job that reuses a
        #: stage's shuffle output lists it too, still marked COMPLETE
        self._counted: set[int] = set()
        if enabled:
            self._jsc = self._sc._jsc.sc()
            self.py4j = Py4jCounter(self._sc._gateway._gateway_client)

    # -- spans ------------------------------------------------------------
    def span(self, name: str, kind: str, parent: dict | None, start: float,
             end: float = 0.0, **attrs) -> dict:
        """Open a span; the caller sets ``end`` when it finishes. Spans are
        kept only when tracing is enabled."""
        self._seq += 1
        s = {"id": self._seq, "parent": parent and parent["id"], "name": name,
             "kind": kind, "start": start, "end": end, **attrs}
        if self.enabled:
            self.spans.append(s)
        return s

    def dump(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.spans}, f)

    # -- step phases --------------------------------------------------------
    def group(self, name: str) -> None:
        """Tag the jobs the main thread starts from now on."""
        if self.enabled:
            self._sc.setJobGroup(name, name)

    def phase(self, group: str):
        """Context manager timing one phase; counts py4j when enabled."""
        return _Phase(self, group)

    def jobs(self, group: str) -> dict:
        """Job ids and summed completed-stage metrics of one job group."""
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        job_ids = sorted(tracker.getJobIdsForGroup(group))
        stage_ids: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = self.no_jobs()
        store = self._jsc.statusStore()
        for s in sorted(stage_ids - self._counted):
            try:
                sd = store.lastStageAttempt(s)
            except Py4JJavaError:
                continue  # an old reused stage the store has already evicted
            if sd.status().toString() != "COMPLETE":
                continue  # skipped (reused shuffle output) or failed
            self._counted.add(s)
            out["stages"] += 1
            for k, acc in _STAGE_FIELDS.items():
                out[k] += int(getattr(sd, acc)())
        out["job_ids"] = job_ids
        out["jobs"] = len(job_ids)
        return out

    @staticmethod
    def no_jobs() -> dict:
        return {**{k: 0 for k in _STAGE_FIELDS}, "stages": 0, "jobs": 0, "job_ids": []}


class _Phase:
    def __init__(self, tracer: Tracer, group: str):
        self.t, self.group = tracer, group
        self.py4j = 0

    def __enter__(self):
        t = self.t
        t.group(self.group)
        if t.enabled:
            t.py4j.n, t.py4j.on = 0, True
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.end = time.perf_counter()
        if self.t.enabled:
            self.t.py4j.on = False
            self.py4j = self.t.py4j.n
        return False

    @property
    def seconds(self) -> float:
        return self.end - self.start
