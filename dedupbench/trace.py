"""Spans around the benchmark's calls into each engine layer.

A span is a wall-clock interval with a Spark job group of its own. The
traced pass runs every layer call inside a span and materialises the
layer's output there, so the jobs a layer causes carry its group.
After the pass, ``Tracer.store_data`` drains the listener bus and reads
per-stage counters from Spark's in-process status store over py4j;
``Tracer.rest_data`` reads the same records from the REST API, and the
traced run checks that both give identical totals.

Attribution rules:
  * a stage belongs to the lowest-numbered job that lists it (the job
    that submitted it); attempts whose status is SKIPPED never ran;
  * a span's counters cover its own job group and its descendants';
  * ``self_s`` is the span's wall time minus its children's.
"""

from __future__ import annotations

import glob
import json
import os
import pstats
import shutil
import statistics
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "dedupbench-span-"


@dataclass
class Span:
    layer: str
    group: str
    parent: "Span | None"
    start: float = 0.0
    end: float = 0.0
    udf_s: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)
    children: list["Span"] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall - sum(c.wall for c in self.children)

    def groups(self) -> set[str]:
        out = {self.group}
        for c in self.children:
            out |= c.groups()
        return out

    def add(self, **counts: float) -> None:
        for k, v in counts.items():
            self.counts[k] = self.counts.get(k, 0) + v

    def record(self) -> dict:
        return {"name": self.layer, "start": self.start, "end": self.end,
                "parent": self.parent.group if self.parent else None,
                "group": self.group, "self_s": self.self_s,
                "udf_s": self.udf_s, **self.counts}


@dataclass
class StageRow:
    run_ms: int          # sum of task executor run time
    cpu_ns: int
    gc_ms: int
    shuffle_write: int   # bytes
    spill: int           # memory + disk bytes spilled
    input_bytes: int
    output_bytes: int
    output_records: int


@dataclass
class StageData:
    """Stage records of the traced job groups, from one source."""
    job_group: dict[int, str]             # job id -> group
    owner: dict[int, int]                 # stage id -> submitting job
    ran: dict[int, list[StageRow]]        # stage id -> attempts that ran
    task_ms: dict[int, list[int]] = field(default_factory=dict)

    def totals(self, groups: set[str]) -> dict[str, float]:
        jobs = {j for j, g in self.job_group.items() if g in groups}
        mine = [s for s, j in self.owner.items() if j in jobs and s in self.ran]
        rows = [r for s in mine for r in self.ran[s]]
        return {
            "jobs": len(jobs),
            "stages": len(mine),
            "run_ms": sum(r.run_ms for r in rows),
            "cpu_ns": sum(r.cpu_ns for r in rows),
            "gc_ms": sum(r.gc_ms for r in rows),
            "shuffle_write": sum(r.shuffle_write for r in rows),
            "spill": sum(r.spill for r in rows),
            "input_bytes": sum(r.input_bytes for r in rows),
            "output_bytes": sum(r.output_bytes for r in rows),
            "output_records": sum(r.output_records for r in rows),
        }

    def tasks(self, groups: set[str]) -> list[int]:
        jobs = {j for j, g in self.job_group.items() if g in groups}
        return [t for s, j in self.owner.items() if j in jobs
                for t in self.task_ms.get(s, ())]


def _owners(job_stages: dict[int, list[int]]) -> dict[int, int]:
    owner: dict[int, int] = {}
    for jid in sorted(job_stages):
        for sid in job_stages[jid]:
            owner.setdefault(sid, jid)
    return owner


def materialize(df):
    """Cache ``df`` and compute it now, inside the current span.
    Returns (df, row count)."""
    df = df.cache()
    return df, df.count()


class Tracer:
    def __init__(self, spark, profile_dir: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.profile_dir = profile_dir
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _udf_total(self) -> float:
        """Cumulative Python UDF time (s) recorded by the session's perf
        profiler, read back through its public dump."""
        shutil.rmtree(self.profile_dir, ignore_errors=True)
        self.spark.profile.dump(self.profile_dir, type="perf")
        return sum(pstats.Stats(p).total_tt for p in
                   glob.glob(os.path.join(self.profile_dir, "*.pstats")))

    @contextmanager
    def span(self, layer: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(layer, f"{GROUP_PREFIX}{len(self.spans)}-{layer}", parent)
        self.spans.append(s)
        if parent:
            parent.children.append(s)
        self._stack.append(s)
        udf0 = self._udf_total()
        self.sc.setJobGroup(s.group, layer)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent.group, parent.layer)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            s.udf_s = self._udf_total() - udf0

    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def store_data(self) -> StageData:
        """Stage and task records of the traced groups, read from the
        status store through py4j."""
        self._drain()
        jvm = self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        job_group: dict[int, str] = {}
        job_stages: dict[int, list[int]] = {}
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup()
            if not g.isDefined() or not str(g.get()).startswith(GROUP_PREFIX):
                continue
            job_group[j.jobId()] = str(g.get())
            ids = j.stageIds()
            job_stages[j.jobId()] = [ids.apply(k) for k in range(ids.size())]
        data = StageData(job_group, _owners(job_stages), {}, {})
        empty = jvm.java.util.ArrayList()
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        for sid in data.owner:
            attempts = store.stageData(sid, False, empty, False, no_quantiles)
            for a in range(attempts.size()):
                d = attempts.apply(a)
                if str(d.status()) == "SKIPPED":
                    continue
                data.ran.setdefault(sid, []).append(StageRow(
                    d.executorRunTime(), d.executorCpuTime(), d.jvmGcTime(),
                    d.shuffleWriteBytes(),
                    d.memoryBytesSpilled() + d.diskBytesSpilled(),
                    d.inputBytes(), d.outputBytes(), d.outputRecords()))
                tl = store.taskList(sid, d.attemptId(), 1_000_000)
                for t in range(tl.size()):
                    m = tl.apply(t).taskMetrics()
                    if m.isDefined():
                        data.task_ms.setdefault(sid, []).append(
                            m.get().executorRunTime())
        return data

    def rest_data(self) -> StageData:
        """The same stage records from the REST API (needs the UI on)."""
        self._drain()
        base = (f"{self.sc.uiWebUrl}/api/v1/applications/"
                f"{self.sc.applicationId}")
        job_group, job_stages = {}, {}
        for j in _get_json(f"{base}/jobs"):
            if j.get("jobGroup", "").startswith(GROUP_PREFIX):
                job_group[j["jobId"]] = j["jobGroup"]
                job_stages[j["jobId"]] = j["stageIds"]
        data = StageData(job_group, _owners(job_stages), {})
        for st in _get_json(f"{base}/stages"):
            if st["stageId"] not in data.owner or st["status"] == "SKIPPED":
                continue
            data.ran.setdefault(st["stageId"], []).append(StageRow(
                st["executorRunTime"], st["executorCpuTime"],
                st["jvmGcTime"], st["shuffleWriteBytes"],
                st["memoryBytesSpilled"] + st["diskBytesSpilled"],
                st["inputBytes"], st["outputBytes"], st["outputRecords"]))
        return data


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def layer_counters(spans: list[Span], data: StageData,
                   slots: int) -> dict[str, float]:
    """Counters of one layer: the union of its spans (disjoint in time)."""
    groups: set[str] = set()
    for s in spans:
        groups |= s.groups()
    t = data.totals(groups)
    wall = sum(s.wall for s in spans)
    task_ms = data.tasks(groups)
    median = statistics.median(task_ms) if task_ms else 0
    out = {
        "s": wall,
        "self_s": sum(s.self_s for s in spans),
        "jobs": t["jobs"],
        "stages": t["stages"],
        "executor_cpu_s": t["cpu_ns"] / 1e9,
        "gc_s": t["gc_ms"] / 1e3,
        "shuffle_write_mb": t["shuffle_write"] / 2 ** 20,
        "spill_mb": t["spill"] / 2 ** 20,
        "read_mb": t["input_bytes"] / 2 ** 20,
        "rows_written": t["output_records"],
        "bytes_written_mb": t["output_bytes"] / 2 ** 20,
        "slot_idle_share": (1 - t["run_ms"] / 1e3 / (wall * slots)
                            if wall > 0 else 0.0),
        "task_skew": max(task_ms) / max(median, 1) if task_ms else 0.0,
        "udf_s": sum(s.udf_s for s in spans),
    }
    for s in spans:
        for k, v in s.counts.items():
            out[k] = out.get(k, 0) + v
    return out


def rest_mismatches(spans: list[Span], store: StageData,
                    rest: StageData) -> list[str]:
    """Layers whose store totals differ from the REST API's."""
    out = []
    layers = sorted({s.layer for s in spans})
    for layer in layers:
        groups: set[str] = set()
        for s in spans:
            if s.layer == layer:
                groups |= s.groups()
        a, b = store.totals(groups), rest.totals(groups)
        for k in ("jobs", "stages", "shuffle_write", "run_ms", "cpu_ns"):
            if a[k] != b[k]:
                out.append(f"{layer}.{k}: store {a[k]} != rest {b[k]}")
    return out
