"""Spans around every call the benchmark makes into a layer.

A span records its name, start, end, parent span and run id, plus the
counts taken at the same boundary. Each span runs its calls under its
own Spark job group, so after the run the jobs, stages, executor time,
rows scanned and shuffle bytes of every span are read back from the
status store. Spans stay in memory and are written out once, at the end.

With tracing off, ``span`` yields a throwaway dict and touches nothing,
so the untraced loop pays only a function call per boundary.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, run_id: str) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._stage_cache: dict[int, dict] = {}

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {"attrs": {}}
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "groups": [f"{self.run_id}-{sid}"],
            "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["groups"][0], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]]
                self.sc.setJobGroup(outer["groups"][0], outer["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    @staticmethod
    def add_group(rec: dict, group: str) -> None:
        """Count the jobs of another job group (a streaming query runs its
        batches under its run id) as this span's own."""
        if "groups" in rec:
            rec["groups"].append(group)

    # ------------------------------------------------------ after the run

    def resolve(self) -> None:
        """Attach Spark counts to every span: first its own jobs, then the
        inclusive totals over its children."""
        if not self.spans:
            return
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            jobs = sorted(
                {j for g in rec["groups"] for j in tracker.getJobIdsForGroup(g)}
            )
            own = _zero()
            own["jobs"] = len(jobs)
            stages: set[int] = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages.update(int(s) for s in list(info.stageIds))
            for s in stages:
                st = self._stage(s)
                own["stages"] += 1
                for k in ("stages_skipped", "cpu_ms", "run_ms", "input_rows",
                          "shuffle_read_bytes", "shuffle_write_bytes"):
                    own[k] += st[k]
            rec["own"] = own
        for rec in reversed(self.spans):  # children come after parents
            inc = rec.setdefault("inc", _zero())
            for k, v in rec["own"].items():
                inc[k] += v
            if rec["parent"] is not None:
                pinc = self.spans[rec["parent"]].setdefault("inc", _zero())
                for k, v in inc.items():
                    pinc[k] += v

    def _stage(self, sid: int) -> dict:
        from py4j.protocol import Py4JJavaError

        if sid in self._stage_cache:
            return self._stage_cache[sid]
        jvm, gw = self.sc._jvm, self.sc._gateway
        store = self.sc._jsc.sc().statusStore()
        out = _zero()
        try:
            data = store.stageData(
                sid, False, jvm.java.util.ArrayList(), False, gw.new_array(jvm.double, 0)
            )
        except Py4JJavaError:  # no longer in the status store
            data = None
        if data is not None and data.size() > 0:
            sd = data.apply(data.size() - 1)  # latest attempt
            out["stages_skipped"] = int(sd.status().toString() == "SKIPPED")
            out["cpu_ms"] = sd.executorCpuTime() / 1e6
            out["run_ms"] = float(sd.executorRunTime())
            out["input_rows"] = int(sd.inputRecords())
            out["shuffle_read_bytes"] = int(sd.shuffleReadBytes())
            out["shuffle_write_bytes"] = int(sd.shuffleWriteBytes())
        self._stage_cache[sid] = out
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _zero() -> dict:
    return {
        "jobs": 0,
        "stages": 0,
        "stages_skipped": 0,
        "cpu_ms": 0.0,
        "run_ms": 0.0,
        "input_rows": 0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
    }


def dur_ms(rec: dict) -> float:
    return (rec["end"] - rec["start"]) * 1000.0


def self_times(spans: list[dict]) -> dict[str, float]:
    """Milliseconds per layer (the span name's first component) that no
    child span covers."""
    child_ms: dict[int, float] = {}
    for rec in spans:
        if rec["parent"] is not None:
            child_ms[rec["parent"]] = child_ms.get(rec["parent"], 0.0) + dur_ms(rec)
    out: dict[str, float] = {}
    for rec in spans:
        layer = rec["name"].split(".")[0]
        out[layer] = out.get(layer, 0.0) + dur_ms(rec) - child_ms.get(rec["id"], 0.0)
    return out
