"""In-memory spans around the benchmark's calls into each engine layer.

A span records name, layer, start, end, parent and the operation it
belongs to. Spans the engine timestamps itself (Spark jobs, Catalyst
phases) are added after the fact from the engine's own clocks. Nothing
is written until ``Tracer.write`` at the end of a run.

``NullTracer`` is the untraced mode: same call sites, no bookkeeping.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        yield {}

    def begin_op(self, name: str) -> None:
        pass

    def end_op(self) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: int | None = None
        self._op_count = 0
        # perf_counter and epoch clocks sampled together, so engine
        # timestamps (epoch ms) land on the same axis as our spans
        self._epoch0 = time.time()
        self._perf0 = time.perf_counter()

    def epoch_ms_to_perf(self, ms: float) -> float:
        return ms / 1000.0 - self._epoch0 + self._perf0

    def _add(self, name, layer, start, end, parent, attrs, op=None) -> dict:
        s = {"id": len(self.spans), "op": self._op if op is None else op, "parent": parent,
             "name": name,
             "layer": layer, "start": start, "end": end, "attrs": dict(attrs)}
        self.spans.append(s)
        return s

    def begin_op(self, name: str) -> None:
        self._op = self._op_count
        self._op_count += 1
        self._stack.append(self._add(name, "bench", time.perf_counter(), None, None, {})["id"])

    def end_op(self) -> None:
        sid = self._stack.pop()
        self.spans[sid]["end"] = time.perf_counter()
        self._op = None

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = self._add(name, layer, time.perf_counter(), None, parent, attrs)
        self._stack.append(s["id"])
        try:
            yield s["attrs"]
        finally:
            self._stack.pop()
            s["end"] = time.perf_counter()

    def add_child(self, parent: dict, name: str, layer: str, start: float, end: float, **attrs) -> dict:
        return self._add(name, layer, start, end, parent["id"], attrs, op=parent["op"])

    def op_spans(self, op: int) -> list[dict]:
        return [s for s in self.spans if s["op"] == op]

    def last_op(self) -> int:
        return self._op_count - 1

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        clipped = [(max(a, s["start"]), min(b, s["end"])) for a, b in kids.get(s["id"], [])]
        covered = union_length([(a, b) for a, b in clipped if b > a])
        out[s["id"]] = max(0.0, s["end"] - s["start"] - covered)
    return out


def self_time_by_layer(spans: list[dict]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
    return out


# --- Spark-side probes --------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
}
_VALUE_RE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")

# SQL-metric display names of the Python-runner metrics (PythonSQLMetrics)
PYTHON_METRICS = {
    "time to run Python workers": "python.udf_s",
    "time to start Python workers": "python.boot_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}


def parse_sql_metric(text: str | None) -> float:
    """Value of a status-store SQL metric string: '1,234', '2.4 s',
    '25.8 MiB', or 'total (min, med, max ...)\\n25.8 MiB (...)'."""
    if not text:
        return 0.0
    line = text.strip().splitlines()[-1]
    m = _VALUE_RE.match(line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return v * _UNITS.get(unit, 1.0) if unit else v


def _seq(scala_seq) -> list:
    out, it = [], scala_seq.iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() if opt.isDefined() else None


class SparkProbe:
    """Reads what one operation did from Spark's status stores: its jobs
    (by job group), their stages, and the SQL metrics of the SQL
    executions it started."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> int:
        return self._sql.executionsCount()

    def settle(self) -> None:
        self._bus.waitUntilEmpty(30_000)

    def jobs(self, group: str) -> list[dict]:
        out = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            jd = self._store.job(jid)
            stages = []
            for sid in _seq(jd.stageIds()):
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Exception:  # stage never registered with the store
                    continue
                stages.append({
                    "status": sd.status().toString(),
                    "tasks": sd.numTasks(),
                    "failed_tasks": sd.numFailedTasks(),
                    "run_s": sd.executorRunTime() / 1e3,
                    "cpu_s": sd.executorCpuTime() / 1e9,
                    "shuffle_read_bytes": sd.shuffleReadBytes(),
                    "shuffle_write_bytes": sd.shuffleWriteBytes(),
                    "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                })
            out.append({"id": jid, "submit_ms": _opt_ms(jd.submissionTime()),
                        "end_ms": _opt_ms(jd.completionTime()), "stages": stages})
        return out

    def python_metrics(self, since: int) -> dict[str, float]:
        """Python-runner SQL metrics summed over every SQL execution
        started since ``since``, read from each execution's final plan
        graph (AQE query stages included), one count per accumulator."""
        out = {v: 0.0 for v in PYTHON_METRICS.values()}
        out["python.rows_returned"] = 0.0
        n = self._sql.executionsCount()
        for ex in (_seq(self._sql.executionsList(since, n - since)) if n > since else []):
            eid = ex.executionId()
            values = self._sql.executionMetrics(eid)
            seen = set()

            def value(m):
                v = values.get(m.accumulatorId())
                return parse_sql_metric(v.get() if v.isDefined() else None)

            for node in _seq(self._sql.planGraph(eid).allNodes()):
                metrics = _seq(node.metrics())
                if not any(m.name() in PYTHON_METRICS for m in metrics):
                    continue
                for m in metrics:
                    if m.accumulatorId() in seen:
                        continue
                    seen.add(m.accumulatorId())
                    if m.name() in PYTHON_METRICS:
                        out[PYTHON_METRICS[m.name()]] += value(m)
                    elif m.name() == "number of output rows":
                        out["python.rows_returned"] += value(m)
        return out

    @staticmethod
    def phases(df) -> dict[str, tuple[float, float]]:
        """Catalyst phase (start_ms, end_ms) from the QueryPlanningTracker."""
        out = {}
        it = df._jdf.queryExecution().tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            out[kv._1()] = (kv._2().startTimeMs(), kv._2().endTimeMs())
        return out

    def persisted_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()
