"""Spans around the benchmark's calls into the engine, plus Spark's own
counters for each span.

A span records ``name``, ``start``, ``end`` (epoch seconds) and ``parent``
(the id of the span open when it began). Spans are kept in memory. When a
session's work is done, :meth:`Tracer.harvest` reads that session's status
store once -- jobs, stages and SQL executions, serialized to JSON inside
the JVM -- and attributes each job and SQL execution to every span whose
interval contains it. The benchmark's top-level calls run one at a time,
so containment in time is attribution; a call that runs several jobs at
once (``refresh_tier``) is one span and its executions overlap inside it.

Counters attached to a span:

- ``jobs``, ``sql_execs``, ``tasks`` (completed tasks of the jobs' stages);
- ``shuffle_read_bytes``, ``shuffle_write_bytes``, ``spill_bytes``;
- ``py_sent_bytes``, ``py_returned_bytes``, ``py_run_s`` and ``py_ops``
  (Python operator nodes that received data), read from the SQL metrics
  ``data sent to / returned from Python workers`` and ``time to run Python
  workers``. ``time to initialize Python workers`` is left out: it counts
  time since a reused worker started, not work done for the span;
- ``files_read`` (the scans' ``number of files read``);
- ``sql_wall_s`` (summed execution walls), ``sql_union_s`` (their union)
  and ``driver_s = wall_s - sql_union_s``, the span's time outside any SQL
  execution. For sequential work the union equals the sum.

The status store formats SQL metrics for display (``583.9 KiB``,
``1.2 s``), so those counters carry three or four significant digits;
job, stage and task counts and the stage byte counters are exact.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

# Jobs and executions are stamped in whole milliseconds by the JVM.
_CLOCK_SLACK_S = 0.002

_SIZE_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}

_SQL_METRICS = {
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_returned_bytes",
    "time to run Python workers": "py_run_s",
    "number of files read": "files_read",
}

COUNTERS = (
    "jobs", "sql_execs", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "py_sent_bytes", "py_returned_bytes", "py_run_s",
    "py_ops", "files_read", "sql_wall_s", "sql_union_s", "driver_s",
)


def parse_metric(text: str | None) -> float:
    """Total of one SQL metric in the status store's display form:
    ``'1,049'``, ``'583.9 KiB'``, ``'869 ms'``, or a multi-line
    ``'total (min, med, max ...)\\n583.9 KiB (...)'``. Sizes come back in
    bytes and durations in seconds."""
    if not text:
        return 0.0
    line = text.split("\n")[-1] if text.startswith("total") else text
    parts = line.split(" (")[0].split()
    value = float(parts[0].replace(",", ""))
    if len(parts) == 1:
        return value
    unit = parts[1]
    if unit in _SIZE_UNITS:
        return value * _SIZE_UNITS[unit]
    if unit in _TIME_UNITS:
        return value * _TIME_UNITS[unit]
    raise ValueError(f"unknown SQL metric unit in {text!r}")


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


class Tracer:
    """Span recorder. With ``enabled`` false, spans are still timed (the
    benchmark reads its walls from them) but the status store is never
    read, so an untraced run does no tracing work."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_unharvested = 0
        self.harvest_s = 0.0
        self.problems: list[str] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans) + 1,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["wall_s"] = rec["end"] - rec["start"]
            self._stack.pop()

    def harvest(self, spark) -> None:
        """Attach status-store counters to the spans closed since the last
        harvest. Call before the session stops: the store dies with it."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        jobs, stages, execs = _read_status_store(spark)
        pending = [
            s for s in self.spans[self._next_unharvested:] if s["end"] is not None
        ]
        for span in pending:
            self._attach(span, jobs, stages, execs)
        self._next_unharvested = len(self.spans)
        self._self_times()
        self.harvest_s += time.perf_counter() - t0

    def _attach(self, span, jobs, stages, execs) -> None:
        lo = span["start"] - _CLOCK_SLACK_S
        hi = span["end"] + _CLOCK_SLACK_S
        c = dict.fromkeys(COUNTERS, 0)
        inside_jobs = [j for j in jobs if lo <= j["start"] and j["end"] <= hi]
        stage_ids = {sid for j in inside_jobs for sid in j["stages"]}
        for sid in stage_ids:
            st = stages.get(sid)
            if st is None:
                continue
            c["tasks"] += st["tasks"]
            c["shuffle_read_bytes"] += st["shuffle_read_bytes"]
            c["shuffle_write_bytes"] += st["shuffle_write_bytes"]
            c["spill_bytes"] += st["spill_bytes"]
        c["jobs"] = len(inside_jobs)
        intervals = []
        for e in execs:
            if e["end"] is None:
                continue
            if lo <= e["start"] and e["end"] <= hi:
                intervals.append((e["start"], e["end"]))
                for key in ("py_sent_bytes", "py_returned_bytes", "py_run_s",
                            "py_ops", "files_read"):
                    c[key] += e[key]
            elif (min(e["end"], span["end"]) - max(e["start"], span["start"])
                  > _CLOCK_SLACK_S):
                # an execution that leaks across the span boundary means
                # the call returned before its work finished
                self.problems.append(
                    f"span {span['name']}#{span['id']}: SQL execution "
                    f"{e['id']} straddles the span boundary"
                )
        c["sql_execs"] = len(intervals)
        c["sql_wall_s"] = sum(end - start for start, end in intervals)
        c["sql_union_s"] = _union_length(intervals)
        c["driver_s"] = span["wall_s"] - c["sql_union_s"]
        # the identity the layer split rests on: SQL time plus driver time
        # is the span's wall, with no SQL time outside the span
        if c["driver_s"] < -_CLOCK_SLACK_S:
            self.problems.append(
                f"span {span['name']}#{span['id']}: SQL time "
                f"{c['sql_union_s']:.3f}s exceeds wall {span['wall_s']:.3f}s"
            )
        span.update(c)

    def _self_times(self) -> None:
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        for s in self.spans:
            if s["end"] is not None:
                s["self_s"] = s["wall_s"] - _union_length(children.get(s["id"], []))

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "problems": self.problems}, fh)


def _read_status_store(spark):
    """(jobs, {stage_id: stage}, executions) of the live session, read in
    three JVM calls. Waits for the listener bus first so the store holds
    every event posted so far."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jvm = sc._jvm
    jsc.listenerBus().waitUntilEmpty()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(
        getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"),
        "MODULE$",
    )
    mapper.registerModule(scala_module)
    store = jsc.statusStore()
    no_quantiles = sc._gateway.new_array(jvm.double, 0)

    jobs = []
    for j in json.loads(mapper.writeValueAsString(store.jobsList(None))):
        if j.get("submissionTime") is None or j.get("completionTime") is None:
            continue
        jobs.append({
            "id": j["jobId"],
            "start": j["submissionTime"] / 1000.0,
            "end": j["completionTime"] / 1000.0,
            "stages": j["stageIds"],
        })

    stages = {}
    raw_stages = json.loads(mapper.writeValueAsString(
        store.stageList(None, False, False, no_quantiles, None)
    ))
    for st in raw_stages:
        if st["status"] != "COMPLETE":
            continue
        prev = stages.get(st["stageId"])
        if prev is not None and prev["attempt"] > st["attemptId"]:
            continue
        stages[st["stageId"]] = {
            "attempt": st["attemptId"],
            "tasks": st["numCompleteTasks"],
            "shuffle_read_bytes": st["shuffleReadBytes"],
            "shuffle_write_bytes": st["shuffleWriteBytes"],
            "spill_bytes": st["memoryBytesSpilled"] + st["diskBytesSpilled"],
        }

    sql_store = spark._jsparkSession.sharedState().statusStore()
    execs = []
    for e in json.loads(mapper.writeValueAsString(sql_store.executionsList())):
        values = e.get("metricValues") or {}
        rec = {
            "id": e["executionId"],
            "start": e["submissionTime"] / 1000.0,
            "end": (e["completionTime"] / 1000.0
                    if e.get("completionTime") is not None else None),
            "py_sent_bytes": 0.0, "py_returned_bytes": 0.0, "py_run_s": 0.0,
            "py_ops": 0, "files_read": 0.0,
        }
        seen = set()  # adaptive plan updates list a metric more than once
        for m in e.get("metrics") or []:
            key = _SQL_METRICS.get(m["name"])
            if key is None or m["accumulatorId"] in seen:
                continue
            seen.add(m["accumulatorId"])
            value = parse_metric(values.get(str(m["accumulatorId"])))
            rec[key] += value
            if key == "py_sent_bytes" and value > 0:
                rec["py_ops"] += 1
        execs.append(rec)
    return jobs, stages, execs
