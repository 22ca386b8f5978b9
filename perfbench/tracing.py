"""Spans around the benchmark's calls into the engine, and the reader of
Spark's status store that splits each span's engine work by layer.

A span is (name, start, end, parent, job id, Spark job group). Spans live
in memory and are written out once, at the end of the run. Each span sets
its own job group, so every Spark job it triggers can be attributed to it
afterwards through ``statusStore().jobsList``; per-stage executor metrics
come from ``statusStore().stageList`` (called with its full five-argument
signature, which py4j needs) and per-operator SQL metrics from the SQL
status store's ``planGraph`` + ``executionMetrics``. Both stores are filled
with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import contextlib
import json
import re
import statistics
import time
from dataclasses import asdict, dataclass
from pathlib import Path


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    job: int | None
    group: str
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op
    and no job group is set, so untraced runs pay nothing."""

    def __init__(self, sc, enabled: bool) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._job: int | None = None

    @contextlib.contextmanager
    def job(self, job_id: int, name: str):
        self._job = job_id
        with self.span(name) as s:
            yield s
        self._job = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.sid if parent else None, self._job, f"pb-{len(self.spans)}", 0.0)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc._jsc.clearJobGroup()

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.sid]

    def self_time(self, s: Span) -> float:
        """Duration minus the part of it covered by child spans (children
        run one after another on the driver thread, so they never overlap)."""
        return s.dur - sum(c.dur for c in self.children(s))

    def descendants(self, s: Span) -> list[Span]:
        out, todo = [], [s]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children(cur))
        return out

    def dump(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": [asdict(s) for s in self.spans], **extra}, indent=1))


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_UDF = re.compile(r"\b([A-Za-z_]\w*_udf)\(")
_NUM = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_sql_metric(text: str | None) -> float:
    """Total of a formatted SQL metric: '3.1 MiB', '100,000', '9 ms', or the
    'total (min, med, max ...)\\n<total> (...)' form of multi-task metrics."""
    if not text:
        return 0.0
    line = text.split("\n")[1] if text.startswith("total") and "\n" in text else text
    m = _NUM.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class StatusStoreReader:
    """Engine metrics per job group, read once after the traced jobs."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._gateway = sc._gateway
        self._jvm = sc._jvm

    def jobs_by_group(self) -> dict[str, tuple[set[int], set[int]]]:
        """job group → (job ids, stage ids)."""
        out: dict[str, tuple[set[int], set[int]]] = {}
        for j in _seq(self._store.jobsList(None)):
            g = j.jobGroup()
            if not g.isDefined():
                continue
            jobs, stages = out.setdefault(g.get(), (set(), set()))
            jobs.add(j.jobId())
            stages.update(int(x) for x in _seq(j.stageIds()))
        return out

    def stages(self) -> dict[int, dict]:
        quantiles = self._gateway.new_array(self._jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        # stageList(statuses, details, withSummaries, unsortedQuantiles, taskStatus)
        out = {}
        for s in _seq(self._store.stageList(None, False, True, quantiles, None)):
            dist = s.taskMetricsDistributions()
            med = mx = 0.0
            if dist.isDefined():
                rt = _seq(dist.get().executorRunTime())
                med, mx = float(rt[0]), float(rt[1])
            out[s.stageId()] = {
                "tasks": s.numTasks(),
                "run_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1e3,
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                "input_bytes": s.inputBytes(),
                "task_med_ms": med,
                "task_max_ms": mx,
            }
        return out

    def sql_metrics(self, job_ids: set[int]) -> dict[str, float]:
        """Per-operator SQL metrics over the executions that ran any of
        ``job_ids``: the sum keyed '<operator>|<metric>', the largest single
        operator's value keyed 'max:<operator>|<metric>', and the number of
        Exchange operators in those executions' final plans."""
        out: dict[str, float] = {"exchanges": 0.0}
        for e in _seq(self._sql.executionsList()):
            jobs = {int(x) for x in _seq(e.jobs().keys().toSeq())}
            if not jobs & job_ids:
                continue
            eid = e.executionId()
            values = self._sql.executionMetrics(eid)
            for node in _seq(self._sql.planGraph(eid).allNodes()):
                name = node.name()
                if name.endswith("Exchange") and not name.startswith("Broadcast"):
                    out["exchanges"] += 1
                # a Python-UDF operator's metrics are also kept per UDF name
                names = [name] + [f"{name}:{u}" for u in sorted(set(_UDF.findall(node.desc())))] if "EvalPython" in name else [name]
                for m in _seq(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        val = parse_sql_metric(v.get())
                        for n in names:
                            key = f"{n}|{m.name()}"
                            out[key] = out.get(key, 0.0) + val
                            out["max:" + key] = max(out.get("max:" + key, 0.0), val)
        return out


def engine_split(reader: StatusStoreReader, groups: dict, stages: dict, span_groups: list[str]) -> tuple[dict, dict]:
    """Engine-layer numbers for the Spark work of a set of spans →
    (layer metrics, raw SQL metrics as ``sql_metrics`` returns them)."""
    job_ids: set[int] = set()
    stage_ids: set[int] = set()
    for g in span_groups:
        if g in groups:
            job_ids |= groups[g][0]
            stage_ids |= groups[g][1]
    st = [stages[i] for i in stage_ids if i in stages]
    heavy = max(st, key=lambda s: s["run_s"], default=None)
    sql = reader.sql_metrics(job_ids)

    def sql_sum(metric: str) -> float:
        return sum(v for k, v in sql.items() if k.endswith("|" + metric) and not k.startswith("max:"))

    return {
        "spark.jobs": float(len(job_ids)),
        "exec.run_s": sum(s["run_s"] for s in st),
        "exec.cpu_s": sum(s["cpu_s"] for s in st),
        "exec.gc_s": sum(s["gc_s"] for s in st),
        "exec.tasks": float(sum(s["tasks"] for s in st)),
        "exec.task_skew": (heavy["task_max_ms"] / heavy["task_med_ms"]) if heavy and heavy["task_med_ms"] > 0 else 1.0,
        "exchange.shuffle_write_bytes": float(sum(s["shuffle_write_bytes"] for s in st)),
        "exchange.shuffle_read_bytes": float(sum(s["shuffle_read_bytes"] for s in st)),
        "exchange.spill_bytes": float(sum(s["spill_bytes"] for s in st)),
        "pyboundary.bytes_sent": sql_sum("data sent to Python workers"),
        "pyboundary.bytes_returned": sql_sum("data returned from Python workers"),
        "scan.files": sql_sum("number of files read"),
        "scan.bytes": sql_sum("size of files read") or float(sum(s["input_bytes"] for s in st)),
        "queries.exchanges": sql["exchanges"],
    }, sql


def median_dict(rows: list[dict[str, float]]) -> dict[str, float]:
    keys = {k for r in rows for k in r}
    return {k: statistics.median(r.get(k, 0.0) for r in rows) for k in keys}
