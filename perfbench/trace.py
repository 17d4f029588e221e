"""Spans and per-layer counters for the traced run.

Spans are recorded in memory around the benchmark's own calls into each
layer (name, start, end, parent, operation id) and written out when the
run ends.  Counters come from Spark's own bookkeeping: the job-group
status tracker (jobs a builder starts), the query planning tracker
(Catalyst phases), the status REST API (task metrics per stage) and the
SQL REST API (Python-worker metrics of ``mapInArrow`` nodes).

With tracing off every method is a no-op, so the untraced run pays
nothing but a branch.
"""

from __future__ import annotations

import contextlib
import json
import re
import time
import urllib.request
from collections import defaultdict

# Python-worker SQL metrics (Spark's PythonSQLMetrics names).
_PY_METRICS = {
    "time to start Python workers": "pyworker.boot_ms",
    "time to initialize Python workers": "pyworker.init_ms",
    "time to run Python workers": "pyworker.run_ms",
    "data sent to Python workers": "pyworker.sent_mb",
    "data returned from Python workers": "pyworker.returned_mb",
}
_UNITS = {
    "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6, "min": 6e4,
    "B": 1 / 2**20, "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10, "TiB": 2**20,
}
_TOTAL = re.compile(r"([-\d.,]+)\s*([A-Za-z]+)?")


def _metric_value(text: str) -> float:
    """First quantity of a SQL-UI metric string, in ms or MiB."""
    line = text.strip().splitlines()[-1] if "\n" in text else text
    m = _TOTAL.search(line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2) or "", 1.0)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        self._spark = None
        self._seen_sql = -1

    # -- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        idx = len(self.spans)
        self.spans.append(
            {"name": name, "start": time.perf_counter() - self._t0,
             "end": None, "parent": parent, "op": op}
        )
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter() - self._t0

    def add(self, key: str, value: float) -> None:
        if self.enabled:
            self.counts[key] += value

    def self_times(self) -> dict[str, float]:
        """Per layer: span time minus the time its child spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["name"]] += s["end"] - s["start"] - child[i]
        return dict(out)

    def dump(self, path) -> None:
        if self.enabled:
            path.write_text(json.dumps({"spans": self.spans}, indent=0))

    # -- Spark-side counters -------------------------------------------
    def attach(self, spark) -> None:
        if self.enabled:
            self._spark = spark
            self._seen_sql = self._last_sql_id()

    def _rest(self, path: str):
        sc = self._spark.sparkContext
        try:
            sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 - older buses lack the no-arg form
            time.sleep(0.2)
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=10) as resp:
            return json.load(resp)

    def group(self, name: str) -> None:
        if self.enabled:
            self._spark.sparkContext.setJobGroup(name, name)

    def jobs_in(self, group: str) -> list[int]:
        if not self.enabled:
            return []
        return list(self._spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    def record_catalyst(self, df) -> None:
        """Force the plan and read its QueryPlanningTracker phases."""
        if not self.enabled:
            return
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            if opt.isDefined():
                self.counts[f"catalyst.{phase}_ms"] += opt.get().durationMs()

    def record_jobs(self, job_ids: list[int]) -> None:
        """Task-metric totals of the stages these jobs ran."""
        if not self.enabled or not job_ids:
            return
        wanted = set(job_ids)
        stage_ids = set()
        for job in self._rest("jobs"):
            if job["jobId"] in wanted:
                stage_ids.update(job.get("stageIds", []))
        self.counts["exec.jobs"] += len(wanted)
        mb = 2.0**20
        for st in self._rest("stages"):
            if st["stageId"] not in stage_ids or st.get("status") == "SKIPPED":
                continue
            c = self.counts
            c["exec.tasks"] += st.get("numCompleteTasks", 0) + st.get("numFailedTasks", 0)
            c["exec.failed_tasks"] += st.get("numFailedTasks", 0)
            c["exec.cpu_ms"] += st.get("executorCpuTime", 0) / 1e6
            c["exec.gc_ms"] += st.get("jvmGcTime", 0)
            c["exec.shuffle_mb"] += (
                st.get("shuffleReadBytes", 0) + st.get("shuffleWriteBytes", 0)
            ) / mb
            c["exec.fetch_wait_ms"] += st.get("shuffleFetchWaitTime", 0)
            c["exec.spill_mb"] += (
                st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
            ) / mb
            c["exec.result_mb"] += st.get("resultSize", 0) / mb

    def _last_sql_id(self) -> int:
        execs = self._rest("sql?details=false&planDescription=false&length=100000")
        return max((e["id"] for e in execs), default=-1)

    def record_pyworkers(self) -> None:
        """Python-worker metrics of SQL executions since the last call."""
        if not self.enabled:
            return
        execs = self._rest("sql?details=true&planDescription=false&length=100000")
        for e in execs:
            if e["id"] <= self._seen_sql:
                continue
            self._seen_sql = max(self._seen_sql, e["id"])
            for node in e.get("nodes", []):
                for m in node.get("metrics", []):
                    key = _PY_METRICS.get(m.get("name"))
                    if key:
                        self.counts[key] += _metric_value(m.get("value", ""))
