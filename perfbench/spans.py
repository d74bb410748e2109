"""Spans and Spark-side layer metrics for the traced benchmark run.

A span wraps one call into a product layer. Each span runs its jobs under
its own Spark job group, so after the span ends the jobs and stages it
caused are read back from the status tracker and the status store (both
work with the UI off). Catalyst phase times come from
``QueryExecution.tracker()``. Spans stay in memory until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import contextlib
import json
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

CATALYST_PHASES = ("analysis", "optimization", "planning")


class Tracer:
    def __init__(self, spark: SparkSession, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        gw = self.sc._gateway
        self._store = self.sc._jsc.sc().statusStore()
        self._no_status = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run": self.run_id,
            "group": f"{self.run_id}/{len(self.spans)}/{name}",
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    @staticmethod
    def wall(rec: dict) -> float:
        return rec["end"] - rec["start"]

    def jobs(self, rec: dict) -> dict:
        """Job time and stage metrics of the jobs run under ``rec``'s group."""
        tracker = self.sc.statusTracker()
        job_s, stage_ids = 0.0, set()
        for jid in tracker.getJobIdsForGroup(rec["group"]):
            job = self._store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                job_s += (done.get().getTime() - sub.get().getTime()) / 1000
            stage_ids.update(tracker.getJobInfo(jid).stageIds)
        out = {
            "exec_s": job_s,
            "stages": 0,
            "tasks": 0,
            "cpu_s": 0.0,
            "gc_s": 0.0,
            "shuffle_write_mb": 0.0,
            "spill_mb": 0.0,
        }
        for sid in stage_ids:
            for st in self._stage_attempts(sid):
                if st.status().toString() != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                out["spill_mb"] += st.diskBytesSpilled() / 2**20
        return out

    def _stage_attempts(self, stage_id: int) -> list:
        seq = self._store.stageData(
            stage_id, False, self._no_status, False, self._no_quantiles
        )
        return [seq.apply(i) for i in range(seq.size())]

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as fh:
            for rec in self.spans:
                fh.write(json.dumps({k: rec[k] for k in ("id", "name", "parent", "run", "start", "end")}) + "\n")


def catalyst_ms(df: DataFrame) -> dict[str, float]:
    """Catalyst phase times of ``df``'s own QueryExecution; forces
    optimization and planning if they have not run yet."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for p in CATALYST_PHASES:
        opt = phases.get(p)
        out[p] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def plan_kb(df: DataFrame) -> float:
    return len(df._jdf.queryExecution().optimizedPlan().toString()) / 1024


@contextlib.contextmanager
def capture_checkpoints(cls: type):
    """Record every frame of class ``cls`` that the product materializes
    with ``localCheckpoint`` inside the block (their Catalyst times are
    read afterwards; the product returns only the checkpointed copies)."""
    seen: list[DataFrame] = []
    original = cls.localCheckpoint

    def recording(self, *args, **kwargs):
        seen.append(self)
        return original(self, *args, **kwargs)

    cls.localCheckpoint = recording
    try:
        yield seen
    finally:
        cls.localCheckpoint = original
