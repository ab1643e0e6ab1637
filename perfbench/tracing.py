"""Spans for the traced run, and their join with Spark's event log.

A :class:`Tracer` records spans around the benchmark's calls into the
package (name, layer, start, end, parent, run id), keeps them in memory,
and tags every Spark job launched inside a span with a job group equal
to the span id.

After the session stops (which flushes the event log),
:func:`span_tables` charges every job's task CPU, GC, shuffle and spill
to the innermost span that caused it, and :func:`layer_sums` sums spans
into layers.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time

MB = 1024.0 * 1024.0


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        # seconds spent in the tracer's own bookkeeping (job-group calls
        # into the JVM included)
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        t0 = time.perf_counter()
        parent = self.stack[-1] if self.stack else None
        rec = {
            "id": f"{self.run_id}/{len(self.spans)}",
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self.stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            rec["end"] = time.time()
            self.stack.pop()
            if self.stack:
                self.sc.setJobGroup(self.stack[-1]["id"], self.stack[-1]["name"])
            else:
                self.sc._jsc.clearJobGroup()
            self.overhead_s += time.perf_counter() - t1

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans}, fh, indent=1)


_EVENTS = ('"SparkListenerJobStart"', '"SparkListenerStageCompleted"', '"SparkListenerTaskEnd"')


def read_eventlog(log_dir: str, app_id: str) -> tuple[dict, dict]:
    """(jobs, stages) of application ``app_id`` from its event log under
    ``log_dir`` (a single file, or Spark 4's rolling ``eventlog_v2_*``
    directory of ``events_*`` files)."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    files = sorted(
        f for f in glob.glob(os.path.join(log_dir, "**", f"*{app_id}*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith((".", "appstatus"))
    )
    for fn in files:
        with open(fn) as fh:
            for line in fh:
                # the event name leads each line; skip the rest unparsed,
                # above all the SQL events that carry whole plans
                if not any(k in line[:64] for k in _EVENTS):
                    continue
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submit_ms": ev["Submission Time"],
                        "stages": list(ev["Stage IDs"]),
                    }
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], _new_stage())
                    st["name"] = info.get("Stage Name", "")
                    if info.get("Submission Time") and info.get("Completion Time"):
                        st["wall_ms"] = info["Completion Time"] - info["Submission Time"]
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    st = stages.setdefault(ev["Stage ID"], _new_stage())
                    st["cpu_ns"] += m.get("Executor CPU Time", 0)
                    st["gc_ms"] += m.get("JVM GC Time", 0)
                    st["shuffle_write_b"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    st["spill_b"] += m.get("Disk Bytes Spilled", 0)
    return jobs, stages


def _new_stage() -> dict:
    return {"name": "", "wall_ms": 0, "cpu_ns": 0, "gc_ms": 0,
            "shuffle_write_b": 0, "spill_b": 0}


def attribute_jobs(spans: list[dict], jobs: dict) -> dict:
    """job id -> span id. The job group names the span directly;
    otherwise the innermost span open at the job's submission time."""
    by_id = {s["id"]: s for s in spans}
    out = {}
    for jid, job in jobs.items():
        g = job["group"]
        if g in by_id:
            out[jid] = g
        else:
            t = job["submit_ms"] / 1000.0
            open_spans = [s for s in spans if s["start"] <= t <= (s["end"] or t)]
            out[jid] = max(open_spans, key=lambda s: s["start"])["id"] if open_spans else None
    return out


def span_tables(spans: list[dict], jobs: dict, stages: dict) -> dict:
    """Per-span self time plus the Spark work attributed to it."""
    child_time: dict[str, float] = {}
    for s in spans:
        if s["parent"]:
            child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
    def row(self_s: float) -> dict:
        return {"self_s": self_s, "jobs": 0, "task_cpu_s": 0.0, "gc_s": 0.0,
                "shuffle_mb": 0.0, "spill_mb": 0.0, "stage_names": []}

    table = {
        s["id"]: row(s["end"] - s["start"] - child_time.get(s["id"], 0.0)) for s in spans
    }
    table[None] = row(0.0)  # jobs launched outside every span
    for jid, sid in attribute_jobs(spans, jobs).items():
        r = table[sid]
        r["jobs"] += 1
        for stid in jobs[jid]["stages"]:
            st = stages.get(stid)
            if st is None:
                continue  # skipped stage: its shuffle output was reused
            r["task_cpu_s"] += st["cpu_ns"] / 1e9
            r["gc_s"] += st["gc_ms"] / 1000.0
            r["shuffle_mb"] += st["shuffle_write_b"] / MB
            r["spill_mb"] += st["spill_b"] / MB
            r["stage_names"].append((st["name"], st["wall_ms"] / 1000.0))
    return table


def layer_sums(spans: list[dict], table: dict) -> dict[str, dict]:
    """Sum span rows into their layers (self time and Spark work)."""
    out: dict[str, dict] = {}
    for s in spans:
        row = table[s["id"]]
        agg = out.setdefault(
            s["layer"],
            {"self_s": 0.0, "jobs": 0, "task_cpu_s": 0.0, "gc_s": 0.0, "shuffle_mb": 0.0},
        )
        for k in agg:
            agg[k] += row[k]
    return out
