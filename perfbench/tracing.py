"""Spans around the calls the benchmark makes into each layer, and the
Spark job/stage counters behind them.

Spans are always recorded (a ``time.time()`` pair per layer call). Only a
traced run tags Spark jobs: each span sets the ``spark.jobGroup.id`` local
property to ``<pass id>|<span name>``, and after every pass the run reads
the jobs and stages of that pass from the JVM ``AppStatusStore``. Reading
after each pass keeps the store's retention (1000 jobs/stages by default)
from dropping early entries of a long run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"


def duration(span: dict) -> float:
    return span["end"] - span["start"]


class Tracer:
    """In-memory spans of one run, plus the Spark jobs and stages of each
    traced pass."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.pass_id: str | None = None
        self._sc = spark.sparkContext
        self._stack: list[int] = []
        self._jobs: dict[str, list[dict]] = {}  # pass id -> its jobs
        self._stages: dict[int, dict] = {}  # stage id -> last attempt
        self._mapper = None

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "pass": self.pass_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if self.enabled:
            self._sc.setLocalProperty(_GROUP, f"{self.pass_id}|{name}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.enabled:
                parent = self.spans[self._stack[-1]] if self._stack else None
                self._sc.setLocalProperty(
                    _GROUP, f"{self.pass_id}|{parent['name']}" if parent else None
                )

    # ------------------------------------------------------ status store
    def _to_json(self, obj) -> list[dict]:
        if self._mapper is None:
            jvm = self._sc._jvm
            self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
            scala = jvm.com.fasterxml.jackson.module.scala
            self._mapper.registerModule(
                getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$")
            )
        return json.loads(self._mapper.writeValueAsString(obj))

    def read_store(self, pass_id: str) -> None:
        """Copy the jobs of ``pass_id`` and every retained stage out of
        the status store (no Spark job is run)."""
        if not self.enabled:
            return
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jvm = self._sc._jvm
        empty = jvm.java.util.ArrayList
        jobs = self._to_json(store.jobsList(empty()))
        prefix = f"{pass_id}|"
        self._jobs[pass_id] = [
            j for j in jobs if (j.get("jobGroup") or "").startswith(prefix)
        ]
        no_quantiles = self._sc._gateway.new_array(jvm.double, 0)
        for st in self._to_json(
            store.stageList(empty(), False, False, no_quantiles, empty())
        ):
            if st["status"] != "SKIPPED":
                self._stages[st["stageId"]] = st

    def layer_metrics(self, pass_id: str, span_ids: list[int]) -> dict:
        """Counters of the spans ``span_ids`` (and their children) within
        one pass. ``driver_s`` is span wall time minus the union of the
        job intervals inside it."""
        spans = [self.spans[i] for i in span_ids]
        groups = {f"{pass_id}|{s['name']}" for s in self._subtree(span_ids)}
        jobs = [j for j in self._jobs.get(pass_id, []) if j["jobGroup"] in groups]
        wall = sum(map(duration, spans))
        busy = 0.0
        for s in spans:
            busy += _union_s(
                [(j["submissionTime"] / 1e3, j["completionTime"] / 1e3) for j in jobs
                 if j.get("submissionTime") and j.get("completionTime")],
                s["start"], s["end"],
            )
        stage_ids = {sid for j in jobs for sid in j["stageIds"]}
        stages = [self._stages[i] for i in stage_ids if i in self._stages]
        mb = 1e-6
        return {
            "wall_s": wall,
            "driver_s": wall - busy,
            "jobs": len(jobs),
            "stages": sum(j["numCompletedStages"] + j["numFailedStages"] for j in jobs),
            "stages_skipped": sum(j["numSkippedStages"] for j in jobs),
            "tasks": sum(
                j["numCompletedTasks"] + j["numFailedTasks"] + j["numKilledTasks"]
                for j in jobs
            ),
            "failed_tasks": sum(j["numFailedTasks"] for j in jobs),
            "executor_run_s": sum(st["executorRunTime"] for st in stages) / 1e3,
            "shuffle_write_mb": sum(st["shuffleWriteBytes"] for st in stages) * mb,
            "spill_mb": sum(st["diskBytesSpilled"] for st in stages) * mb,
            "result_mb": sum(st["resultSize"] for st in stages) * mb,
        }

    def _subtree(self, span_ids: list[int]) -> list[dict]:
        ids = set(span_ids)
        for s in self.spans[min(span_ids):]:  # children follow their parent
            if s["parent"] in ids:
                ids.add(s["id"])
        return [self.spans[i] for i in sorted(ids)]

    def spans_of(self, pass_id: str, name: str) -> list[int]:
        return [s["id"] for s in self.spans if s["pass"] == pass_id and s["name"] == name]

    def children_of(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def dump(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.spans, "jobs": self._jobs}, f)


def _union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
