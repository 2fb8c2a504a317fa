"""Per-layer figures from a Spark event log.

Jobs are attributed to layers by their job description (the tracer sets
``setJobDescription(<layer>)``, e.g. ``duplicates`` or
``datapipe.dedup.ngram``, around each wrapped call). For
every description this module sums tasks, failed tasks, shuffle write,
spill and input bytes, takes the task skew of its heaviest stage, the
share of task slots left idle while its jobs ran, and the output rows
of the largest join in its SQL plans (the equi-join candidates).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from collections import defaultdict

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))
from analyze_eventlog import _open_log  # noqa: E402

JOIN_NODES = ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin", "BroadcastNestedLoopJoin")
MB = 1 << 20


def _plan_join_accums(info: dict, out: set) -> None:
    if info.get("nodeName", "").startswith(JOIN_NODES):
        for m in info.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(m["accumulatorId"])
    for child in info.get("children", []):
        _plan_join_accums(child, out)


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0)


def layer_stats(path: str, slots: int, since_ms: int = 0) -> dict[str, dict]:
    """{job description: figures} for one application's event log,
    counting only jobs submitted at or after ``since_ms`` (epoch ms)."""
    jobs: dict[int, dict] = {}
    stage_desc: dict[int, str] = {}
    exec_desc: dict[int, str] = {}
    exec_joins: dict[int, set] = defaultdict(set)
    tasks: dict[int, list] = defaultdict(list)  # stage -> [duration ms]
    accum: dict[int, int] = defaultdict(int)
    per = defaultdict(lambda: defaultdict(float))

    with _open_log(path) as f:
        for line in f:
            try:
                e = json.loads(line)
            except json.JSONDecodeError:
                continue
            ev = e.get("Event", "")
            if ev == "SparkListenerJobStart":
                if e["Submission Time"] < since_ms:
                    continue
                props = e.get("Properties") or {}
                desc = props.get("spark.job.description") or "(none)"
                jobs[e["Job ID"]] = {"desc": desc, "start": e["Submission Time"], "end": None}
                for sid in e.get("Stage IDs", []):
                    stage_desc[sid] = desc
                if "spark.sql.execution.id" in props:
                    exec_desc.setdefault(int(props["spark.sql.execution.id"]), desc)
            elif ev == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif ev.endswith("SQLExecutionStart") or ev.endswith("SQLAdaptiveExecutionUpdate"):
                _plan_join_accums(e.get("sparkPlanInfo") or {}, exec_joins[e["executionId"]])
            elif ev == "SparkListenerTaskEnd":
                if e["Stage ID"] not in stage_desc:
                    continue
                desc = stage_desc[e["Stage ID"]]
                ti = e["Task Info"]
                tm = e.get("Task Metrics") or {}
                p = per[desc]
                p["tasks"] += 1
                ok = (e.get("Task End Reason") or {}).get("Reason") == "Success" and not ti.get("Failed")
                p["failed_tasks"] += 0 if ok else 1
                dur = ti["Finish Time"] - ti["Launch Time"]
                p["task_ms"] += dur
                tasks[e["Stage ID"]].append(dur)
                p["shuffle_write_b"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                p["spill_b"] += tm.get("Disk Bytes Spilled", 0)
                p["input_b"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                if ok:
                    for a in ti.get("Accumulables") or []:
                        try:
                            accum[a["ID"]] += int(float(a.get("Update", 0)))
                        except (TypeError, ValueError):
                            pass

    spans = defaultdict(list)
    for j in jobs.values():
        if j["end"] is not None:
            spans[j["desc"]].append((j["start"], j["end"]))
    heaviest: dict[str, list] = {}
    for sid, durs in tasks.items():
        desc = stage_desc[sid]
        if sum(durs) > sum(heaviest.get(desc, [])):
            heaviest[desc] = durs
    candidates = defaultdict(int)
    for eid, ids in exec_joins.items():
        desc = exec_desc.get(eid)
        if desc is not None and ids:
            candidates[desc] = max(candidates[desc], max(accum.get(i, 0) for i in ids))

    out = {}
    for desc in set(per) | set(spans):
        p = per[desc]
        busy_ms = _union_ms(spans[desc])
        durs = heaviest.get(desc) or [0]
        med = statistics.median(durs)
        out[desc] = {
            "jobs": len(spans[desc]),
            "tasks": int(p["tasks"]),
            "failed_tasks": int(p["failed_tasks"]),
            "shuffle_write_mb": p["shuffle_write_b"] / MB,
            "spill_mb": p["spill_b"] / MB,
            "input_mb": p["input_b"] / MB,
            "task_skew": max(durs) / med if med > 0 else 1.0,
            "slot_idle_frac": 1.0 - p["task_ms"] / (slots * busy_ms) if busy_ms else 0.0,
            "candidates": candidates.get(desc, 0),
        }
    return out


def rollup(stats: dict[str, dict], prefix: str) -> dict:
    """Sum the additive figures of every description under ``prefix``."""
    keys = ("jobs", "tasks", "failed_tasks", "shuffle_write_mb", "spill_mb", "input_mb", "candidates")
    tot = dict.fromkeys(keys, 0)
    for desc, s in stats.items():
        if desc == prefix or desc.startswith(prefix + "."):
            for k in keys:
                tot[k] += s[k]
    return tot
