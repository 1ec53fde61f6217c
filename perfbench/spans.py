"""Spans around the benchmark's calls into the ``osmgraft`` layers.

A span records its name, start, end, parent span and pass id, and runs
its Spark jobs under a job group of its own.  After a pass, outside its
timing, :meth:`Tracer.collect` waits for Spark's listener bus to drain
and reads for every new span the jobs, stages and failed tasks of its
group from ``sparkContext.statusTracker()``, and from the SQL status
store the Python-worker time and the ``ArrowEvalPython`` row count of
the SQL executions those jobs belong to.  Spans stay in memory and are
written out as JSON when the run ends.  With ``enabled=False`` a span
is a bare ``yield`` and nothing is read.
"""

from __future__ import annotations

import contextlib
import re
import time

# layers whose operators run Python workers (Arrow UDFs, mapInArrow,
# mapInPandas, applyInPandas)
PYTHON_LAYERS = ("join", "dedup", "similarity")
_NODE = re.compile(r'label="<b>([^<]+)</b>(.*?)"')
_PY_TIME = re.compile(r"time to run Python workers(?::| total \([^<]*\)<br>)\s*([^<(]+)")
_ROWS = re.compile(r"number of output rows: ([\d,]+)")
_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def parse_metric(text: str | None) -> float:
    """SQL metric display value -> number (seconds for times):
    ``'976'``, ``'1,024'``, ``'431 ms'``, ``'3.4 s'``."""
    if not text:
        return 0.0
    m = re.match(r"\s*([-\d.,]+)\s*([a-zA-Z]*)", text.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._collected = 0
        self._next_exec = 0

    def _set_group(self, rec: dict | None) -> None:
        sc = self.spark.sparkContext
        if rec is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"perfbench-span-{rec['id']}", rec["name"])

    @contextlib.contextmanager
    def span(self, name: str, pass_id: int):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": name.split(".", 1)[0],
            "pass": pass_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def collect(self) -> None:
        """Fill in the Spark-side counts of every span not yet read."""
        if not self.enabled or self._collected == len(self.spans):
            return
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        st = sc.statusTracker()
        owner = {}
        for rec in self.spans[self._collected:]:
            jobs = st.getJobIdsForGroup(f"perfbench-span-{rec['id']}")
            stages = set()
            for j in jobs:
                owner[int(j)] = rec
                info = st.getJobInfo(j)
                if info is not None:
                    stages.update(int(s) for s in info.stageIds)
            failed = 0
            for s in stages:
                si = st.getStageInfo(s)
                if si is not None:
                    failed += si.numFailedTasks
            rec.update(jobs=len(jobs), stages=len(stages), tasks_failed=failed,
                       python_s=0.0, python_rows=0)
        self._collected = len(self.spans)
        self._read_sql_store(owner)

    def _read_sql_store(self, owner: dict) -> None:
        """Python-worker time and refine rows of the SQL executions run
        by spans whose layer calls Python (plan graph as one DOT string
        per execution: one py4j call instead of one per metric)."""
        conv = self.spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
        store = self.spark._jsparkSession.sharedState().statusStore()
        while True:
            found = store.execution(self._next_exec)
            if not found.isDefined():
                break
            eid = self._next_exec
            self._next_exec += 1
            jobs = [int(j) for j in conv.asJava(found.get().jobs()).keySet()]
            rec = next((owner[j] for j in jobs if j in owner), None)
            if rec is None or rec["layer"] not in PYTHON_LAYERS:
                continue
            dot = store.planGraph(eid).makeDotFile(store.executionMetrics(eid))
            for name, label in _NODE.findall(dot):
                py = _PY_TIME.search(label)
                if py:
                    rec["python_s"] += parse_metric(py.group(1))
                    rows = _ROWS.search(label)
                    if name == "ArrowEvalPython" and rows:
                        rec["python_rows"] += int(parse_metric(rows.group(1)))


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, last = 0.0, s["start"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], last), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                last = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out
