"""Spans recorded around the harness's calls into the package, and
Spark counters read from the application status store.

Spans live in memory (name, start, end, parent, pass id) and are written
out once when the run ends.  A span's self time is its duration minus
the time its child spans cover; spans are opened on one thread, so the
children of a span never overlap and their durations simply add up.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager


class Tracer:
    """Records spans when enabled; a disabled tracer only runs the body."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []
        self.pass_id: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._open[-1] if self._open else None,
            "pass": self.pass_id,
        }
        self.spans.append(rec)
        self._open.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def totals(self) -> dict[str, tuple[float, float]]:
        """{span name: (summed duration, summed self time)}."""
        child_time = [0.0] * len(self.spans)
        for rec in self.spans:
            if rec["parent"] is not None:
                child_time[rec["parent"]] += rec["end"] - rec["start"]
        out: dict[str, tuple[float, float]] = {}
        for i, rec in enumerate(self.spans):
            dur = rec["end"] - rec["start"]
            total, self_t = out.get(rec["name"], (0.0, 0.0))
            out[rec["name"]] = (total + dur, self_t + dur - child_time[i])
        return out

    def self_by_layer(self) -> dict[str, float]:
        """Self time summed per layer (the span name up to its first dot)."""
        out: dict[str, float] = {}
        for name, (_, self_t) in self.totals().items():
            layer = name.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + self_t
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_TOTAL_RE = re.compile(r"^([0-9.,]+) ?([A-Za-z]+)")


def _metric_value(text: str, units: dict) -> float:
    """Total of a formatted SQL metric: either 'total (min, med, max ...)\\n
    4.3 s (...)' or a bare '4.3 s'."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _TOTAL_RE.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * units.get(m.group(2), 0.0)


class SparkStatus:
    """Reads counters from Spark's status stores (kept with the UI off)."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext._jsc.sc()

    def _drain(self) -> None:
        # listener events arrive asynchronously; wait for the bus to empty
        self.sc.listenerBus().waitUntilEmpty()

    def mark(self) -> tuple[int, int, int]:
        """Highest job, stage and SQL execution ids seen so far."""
        self._drain()
        store = self.sc.statusStore()
        jobs = store.jobsList(None)
        stages = self._stages(store)
        execs = self.spark._jsparkSession.sharedState().statusStore().executionsList()
        return (
            max([jobs.apply(i).jobId() for i in range(jobs.size())], default=-1),
            max([stages.apply(i).stageId() for i in range(stages.size())], default=-1),
            max(
                [execs.apply(i).executionId() for i in range(execs.size())], default=-1
            ),
        )

    @staticmethod
    def _stages(store):
        return store.stageList(
            None, False, False, getattr(store, "stageList$default$4")(), None
        )

    def counters_since(self, mark: tuple[int, int, int]) -> dict[str, float]:
        """Job, stage and task counters of everything run after ``mark``."""
        self._drain()
        store = self.sc.statusStore()
        jobs = store.jobsList(None)
        n_jobs = sum(1 for i in range(jobs.size()) if jobs.apply(i).jobId() > mark[0])
        out = {
            "jobs": float(n_jobs),
            "stages": 0.0,
            "tasks": 0.0,
            "shuffle_write_bytes": 0.0,
            "shuffle_read_bytes": 0.0,
            "spill_bytes": 0.0,
            "executor_run_s": 0.0,
            "executor_cpu_s": 0.0,
            "gc_s": 0.0,
        }
        stages = self._stages(store)
        for i in range(stages.size()):
            st = stages.apply(i)
            if st.stageId() <= mark[1]:
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
        return out

    def python_boundary_since(self, mark: tuple[int, int, int]) -> dict[str, float]:
        """Bytes sent to Python workers and time spent running them, summed
        over every SQL execution after ``mark`` (the Arrow boundary)."""
        self._drain()
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        sent = run = 0.0
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            if eid <= mark[2]:
                continue
            values = sql.executionMetrics(eid)
            nodes = sql.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                metrics = nodes.apply(j).metrics()
                for k in range(metrics.size()):
                    pm = metrics.apply(k)
                    v = values.get(pm.accumulatorId())
                    if v.isEmpty():
                        continue
                    if pm.name() == "data sent to Python workers":
                        sent += _metric_value(v.get(), _SIZE_UNITS)
                    elif pm.name() == "time to run Python workers":
                        run += _metric_value(v.get(), _TIME_UNITS)
        return {"bytes_to_python": sent, "python_time_s": run}

    def persisted_rdds(self) -> int:
        return int(self.sc.getPersistentRDDs().size())

    def release_persisted(self) -> None:
        """Unpersist every cached table and persisted RDD, so one pass
        cannot leave state that speeds up or slows down the next."""
        self.spark.catalog.clearCache()
        rdds = self.sc.getPersistentRDDs().values().toList()
        for i in range(rdds.size()):
            rdds.apply(i).unpersist(True)

    def jvm_peak_rss_mb(self) -> float:
        """Peak resident set of the driver JVM (VmHWM)."""
        pid = self.spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0
