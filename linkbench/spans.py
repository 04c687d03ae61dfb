"""Spans around the benchmark's calls into the package's layers.

A span is one call into a layer's public function: name
(``<layer>.<function>``), start, end, parent and run id. Spans are kept
in memory and written out once, when the run ends. Each span tags the
Spark jobs it starts with its own job group; ``finish()`` reads every
group's stage metrics from the status store after the last span, so no
bookkeeping runs inside a timed region. Jobs are charged to the
innermost open span and a stage to the first span that ran it, so
summing spans never counts a stage twice.

A disabled tracer (the untraced run) opens no spans and tags no jobs.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

STAGE_FIELDS = (
    "stages", "tasks", "failed_tasks", "executor_run_s", "gc_s",
    "shuffle_write_mb", "shuffle_read_mb", "fetch_wait_s", "spill_mb", "result_mb",
)
MB = 1024.0 * 1024.0


def zero_stages() -> dict:
    return {f: 0 if f in ("stages", "tasks", "failed_tasks") else 0.0 for f in STAGE_FIELDS}


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool, cores: int):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.cores = cores
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._counted_stages: set[int] = set()
        self.missing_jobs = 0

    @contextmanager
    def span(self, name: str):
        """Open a span; the yielded record takes counts (``rec["counts"]``)
        and, once closed, holds ``start`` and ``end``."""
        if not self.enabled:
            yield {"counts": {}}
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"{self.run_id}:{len(self.spans)}",
            "name": name,
            "layer": name.split(".", 1)[0],
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        sc.setJobGroup(rec["id"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent["id"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def finish(self) -> None:
        """Read each span's stage metrics; call once, after the last span."""
        if not self.enabled:
            return
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        for rec in self.spans:
            rec["stages"] = self._stage_metrics(jsc.statusStore(), rec["id"])

    def _stage_metrics(self, store, group: str) -> dict:
        tracker = self.spark.sparkContext.statusTracker()
        out = zero_stages()
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:  # evicted from the status store
                self.missing_jobs += 1
                continue
            for sid in info.stageIds:
                if sid in self._counted_stages:
                    continue
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # skipped stage: never attempted
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                self._counted_stages.add(sid)
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["failed_tasks"] += sd.numFailedTasks()
                out["executor_run_s"] += sd.executorRunTime() / 1000.0
                out["gc_s"] += sd.jvmGcTime() / 1000.0
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                out["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
                out["fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1000.0
                out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
                out["result_mb"] += sd.resultSize() / MB
        return out

    def self_time(self, rec: dict) -> float:
        """Span duration minus the part its child spans cover."""
        kids = [s for s in self.spans if s["parent"] == rec["id"]]
        return (rec["end"] - rec["start"]) - sum(k["end"] - k["start"] for k in kids)

    def layer_table(self) -> dict:
        """Per layer: calls, self seconds, stage-metric sums, busy ratio."""
        table: dict[str, dict] = {}
        for rec in self.spans:
            row = table.setdefault(rec["layer"], {"calls": 0, "self_s": 0.0, **zero_stages()})
            row["calls"] += 1
            row["self_s"] += self.self_time(rec)
            for f in STAGE_FIELDS:
                row[f] += rec["stages"][f]
        for row in table.values():
            wall = row["self_s"] * self.cores
            row["busy_ratio"] = row["executor_run_s"] / wall if wall > 0 else 0.0
        return table

    def median_self(self, name: str) -> float:
        """Median self time of the spans called ``name``."""
        vals = [self.self_time(s) for s in self.spans if s["name"] == name]
        return statistics.median(vals) if vals else 0.0

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0, "self_s": self.self_time(s)}
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "missing_jobs": self.missing_jobs,
                       "spans": spans, "layers": self.layer_table(), **extra}, fh, indent=1)


def format_table(table: dict) -> list[str]:
    cols = ("calls", "self_s", "stages", "tasks", "executor_run_s", "gc_s",
            "shuffle_write_mb", "shuffle_read_mb", "fetch_wait_s", "spill_mb",
            "result_mb", "busy_ratio")
    lines = ["layer        " + " ".join(f"{c:>16}" for c in cols)]
    for layer, row in sorted(table.items(), key=lambda kv: -kv[1]["self_s"]):
        cells = []
        for c in cols:
            v = row[c]
            cells.append(f"{v:>16d}" if isinstance(v, int) else f"{v:>16.4f}")
        lines.append(f"{layer:<12} " + " ".join(cells))
    return lines
