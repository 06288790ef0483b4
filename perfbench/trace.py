"""In-memory spans plus per-job Spark metrics for the traced run.

A span is (name, start, end, parent, request id) recorded around a call
into one of the engine's public functions.  Each span also records the
half-open range of Spark job ids started inside it (the DAG scheduler's job
counter is read at both ends; the benchmark drives one operation at a time,
so every job in the range belongs to the span, including jobs the engine
submits from its own worker threads).  After each request the listener bus
is drained and the in-process status store is read for those jobs: tasks,
executor run/CPU/GC time, shuffle and input volume, records in and out.

With tracing off every method is a no-op, so the end-to-end run pays
nothing but a flag test per call.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, enabled: bool = False):
        self.spark = spark
        self.on = enabled
        self.spans: list[dict] = []
        self.jobs: dict[int, dict] = {}
        self._stack: list[int] = []
        self._req: int | None = None
        self._jsc = spark.sparkContext._jsc.sc()

    def _next_job(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    @contextmanager
    def span(self, name: str, **attrs):
        """Record one span; ``attrs`` (and keys the body adds to the
        yielded dict) are kept with it."""
        if not self.on:
            yield attrs
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "req": self._req,
            "j0": self._next_job(),
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield attrs
        finally:
            rec["j1"] = self._next_job()
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def request(self, name: str, req: int, **attrs):
        """Root span of one operation: its own Spark job group, and its
        jobs' metrics harvested from the status store when it ends."""
        if not self.on:
            yield attrs
            return
        sc = self.spark.sparkContext
        self._req = req
        root = len(self.spans)
        sc.setJobGroup(f"perfbench-{req}", name)
        try:
            with self.span(name, **attrs) as a:
                yield a
        finally:
            sc.setJobGroup("perfbench-idle", "idle")
            self._req = None
            self._harvest(self.spans[root])

    def _harvest(self, root: dict) -> None:
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        for jid in range(root["j0"], root["j1"]):
            job = store.job(jid)
            stages = job.stageIds()
            rec = {
                "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "shuffle_w": 0,
                "input_b": 0, "input_rec": 0, "output_rec": 0, "scan_stages": 0,
                "submit_ms": job.submissionTime().get().getTime(),
                "end_ms": job.completionTime().get().getTime(),
            }
            for k in range(stages.size()):
                st = store.lastStageAttempt(stages.apply(k))
                if st.status().toString() == "SKIPPED":
                    continue
                rec["tasks"] += st.numTasks()
                rec["run_ms"] += st.executorRunTime()
                rec["cpu_ns"] += st.executorCpuTime()
                rec["gc_ms"] += st.jvmGcTime()
                rec["shuffle_w"] += st.shuffleWriteBytes()
                rec["input_b"] += st.inputBytes()
                rec["input_rec"] += st.inputRecords()
                rec["output_rec"] += st.outputRecords()
                rec["scan_stages"] += 1 if st.inputBytes() > 0 else 0
            self.jobs[jid] = rec

    # --- derived figures -------------------------------------------------

    def roots(self) -> list[dict]:
        return [s for s in self.spans if s["parent"] is None]

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def job_sum(self, spans: list[dict], key: str) -> float:
        return sum(self.jobs[j][key] for s in spans for j in range(s["j0"], s["j1"]) if j in self.jobs)

    def job_count(self, spans: list[dict]) -> int:
        return sum(s["j1"] - s["j0"] for s in spans)

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part its children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[i]
        return out

    def driver_gap_s(self, root: dict) -> float:
        """Wall time of ``root`` during which none of its Spark jobs ran."""
        ivs = sorted(
            (self.jobs[j]["submit_ms"], self.jobs[j]["end_ms"])
            for j in range(root["j0"], root["j1"]) if j in self.jobs
        )
        busy, cur_lo, cur_hi = 0, None, None
        for lo, hi in ivs:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    busy += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            busy += cur_hi - cur_lo
        return max(0.0, (root["end"] - root["start"]) - busy / 1000.0)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"spans": self.spans, "jobs": self.jobs}, fh, default=str)
