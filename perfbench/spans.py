"""Spans around calls into the engine, and the per-layer table.

``Tracer.span(name)`` records (id, name, parent, start, end) in memory
and tags every Spark job the call submits with the job group
``name#id``. A traced run enables Spark's event log for the benchmark's
own session; ``fold`` reads it back after the session stops and
attributes each job to its span by job group (jobs of a streaming
query carry the query's own group and go to the innermost span that was
open when they were submitted).
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        group = f"{name}#{sid}"
        parent = stack[-1] if stack else None
        self.sc.setJobGroup(group, name, interruptOnCancel=True)
        stack.append((sid, group, name))
        # wall clock, as in the event log that ``fold`` lines spans up with
        start = time.time()
        try:
            yield group
        finally:
            end = time.time()
            stack.pop()
            if stack:
                self.sc.setJobGroup(stack[-1][1], stack[-1][2], True)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append({"id": sid, "name": name, "group": group,
                                   "parent": parent and parent[0],
                                   "start": start, "end": end})

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps(sorted(self.spans, key=lambda s: s["id"])))


def _writes(plan: dict) -> bool:
    return ("InsertInto" in plan["nodeName"]
            or any(_writes(c) for c in plan.get("children", [])))


def _plan_metric_names(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for c in plan.get("children", []):
        _plan_metric_names(c, out)


def load_events(log_dir: Path) -> dict:
    """Jobs, stage metrics, SQL executions and task failures from the
    (uncompressed, single-file) event log of the session."""
    jobs, stage_of, stages, execs, names = {}, {}, {}, {}, {}
    driver = {}
    failures = 0
    for f in sorted(p for p in log_dir.iterdir() if p.is_file()):
        for line in f.open():
            e = json.loads(line)
            kind = e["Event"].rsplit(".", 1)[-1]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                ex = props.get("spark.sql.execution.id")
                jobs[e["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": e["Submission Time"] / 1000, "end": None,
                    "exec": int(ex) if ex is not None else None,
                    "metrics": {}}
                for s in e.get("Stage IDs", []):
                    stage_of.setdefault(s, e["Job ID"])
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                acc: dict = {}
                for a in info.get("Accumulables", []):
                    try:
                        acc[a["Name"]] = acc.get(a["Name"], 0) + float(a["Value"])
                    except (KeyError, TypeError, ValueError):
                        pass
                stages[info["Stage ID"]] = acc
            elif kind == "SparkListenerTaskEnd":
                if e.get("Task End Reason", {}).get("Reason") != "Success":
                    failures += 1
            elif kind == "SparkListenerSQLExecutionStart":
                plan = e["sparkPlanInfo"]
                _plan_metric_names(plan, names)
                execs[e["executionId"]] = {
                    "group": e.get("jobGroupId"), "start": e["time"] / 1000,
                    "end": None, "write": _writes(plan)}
            elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
                _plan_metric_names(e["sparkPlanInfo"], names)
            elif kind == "SparkListenerSQLExecutionEnd":
                if e["executionId"] in execs:
                    execs[e["executionId"]]["end"] = e["time"] / 1000
            elif kind == "SparkListenerDriverAccumUpdates":
                d = driver.setdefault(e["executionId"], {})
                for acc_id, v in e["accumUpdates"]:
                    d[acc_id] = d.get(acc_id, 0) + v
    for ex, d in driver.items():
        if ex in execs:
            execs[ex]["driver"] = {names.get(k, str(k)): v for k, v in d.items()}
    for sid, acc in stages.items():
        job = jobs.get(stage_of.get(sid))
        if job is not None:
            for k, v in acc.items():
                job["metrics"][k] = job["metrics"].get(k, 0) + v
    return {"jobs": jobs, "execs": execs, "task_failures": failures}


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def fold(spans: list[dict], ev: dict) -> dict[int, dict]:
    """Per span: its jobs (its own and its descendants'), the span time
    covered by them, driver-only time, and summed stage/SQL metrics."""
    by_group = {s["group"]: s for s in spans}
    children: dict = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s["id"])
    own: dict[int, list] = {s["id"]: [] for s in spans}
    for jid, job in ev["jobs"].items():
        s = by_group.get(job["group"])
        if s is None:
            inside = [x for x in spans if x["start"] <= job["start"] <= x["end"]]
            s = max(inside, key=lambda x: x["start"]) if inside else None
        if s is not None:
            own[s["id"]].append(jid)
    exec_span = {}
    for ex, info in ev["execs"].items():
        s = by_group.get(info["group"])
        if s is not None:
            exec_span.setdefault(s["id"], []).append(ex)

    def subtree(sid):
        out = [sid]
        for c in children.get(sid, []):
            out += subtree(c)
        return out

    table = {}
    for s in spans:
        ids = subtree(s["id"])
        jids = [j for i in ids for j in own[i]]
        ivs = []
        metrics: dict = {}
        for j in jids:
            job = ev["jobs"][j]
            end = job["end"] if job["end"] is not None else s["end"]
            ivs.append((max(job["start"], s["start"]), min(end, s["end"])))
            for k, v in job["metrics"].items():
                metrics[k] = metrics.get(k, 0) + v
        for i in ids:
            for ex in exec_span.get(i, []):
                for k, v in ev["execs"][ex].get("driver", {}).items():
                    metrics[k] = metrics.get(k, 0) + v
        dur = s["end"] - s["start"]
        covered = _union([iv for iv in ivs if iv[1] > iv[0]])
        table[s["id"]] = {"name": s["name"], "dur_s": dur, "jobs": jids,
                          "covered_s": covered,
                          "driver_only_s": max(dur - covered, 0.0),
                          "metrics": metrics}
    for s in spans:  # self time: minus the children's spans
        kids = [x for x in spans if x["parent"] == s["id"]]
        table[s["id"]]["self_s"] = table[s["id"]]["dur_s"] - _union(
            [(k["start"], k["end"]) for k in kids])
    return table


def split_by_writes(span: dict, ev: dict, row: dict) -> dict[str, float]:
    """Split one span's job time at the ends of its first two write
    executions: jobs up to the first write's end, jobs up to the
    second's, and the rest; plus the time no job covered. The four
    parts sum to the span by construction."""
    writes = sorted((x["end"] or span["end"]) for x in ev["execs"].values()
                    if x["write"] and x["group"] == span["group"])
    cuts = (writes + [span["end"], span["end"]])[:2]
    phases: list[list] = [[], [], []]
    for j in row["jobs"]:
        job = ev["jobs"][j]
        end = job["end"] if job["end"] is not None else span["end"]
        k = 0 if job["start"] < cuts[0] else 1 if job["start"] < cuts[1] else 2
        phases[k].append((max(job["start"], span["start"]), min(end, span["end"])))
    out = [_union([iv for iv in p if iv[1] > iv[0]]) for p in phases]
    return {"first_write_s": out[0], "second_write_s": out[1],
            "after_writes_s": out[2], "driver_only_s": row["driver_only_s"]}
