"""Spans around calls into the program's layers, and the Spark task
metrics charged to them.

A span is opened around each call into a layer's public function:
either by the benchmark itself (``Tracer.span``) or by a wrapper that
``Tracer.patch`` installs in place of the function in every module of
the package that holds a reference to it. The program is not edited;
the wrappers are removed again by ``Tracer.unpatch``.

While a span is open its thread's Spark job group is the span's id, so
every job the call submits (AQE and broadcast sub-jobs inherit the
group) can be charged to it from the event log once the session has
stopped (``rollup``). Spans are held in memory; the caller writes them
out when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import json
import os
import statistics
import sys
import threading
import time
from contextlib import contextmanager

PACKAGE = "tabular_data_semantics_py_spark"

# span name -> "module:function" of the public function it wraps. The
# span name is the defining module's last component plus the function.
LAYER_FUNCTIONS = {
    "session.get_spark": "session:get_spark",
    "pipeline.run_pipeline": "plans.pipeline:run_pipeline",
    "csv_cells.parse_cells": "sources.csv_cells:parse_cells",
    "closure.build_closure": "operators.closure:build_closure",
    "candidates.generate_candidates": "operators.candidates:generate_candidates",
    "types_cascade.build_entity_types": "operators.types_cascade:build_entity_types",
    "annotate.cea": "operators.annotate:cea",
    "annotate.cta": "operators.annotate:cta",
    "annotate.cpa": "operators.annotate:cpa",
    "emit.emit_triples": "operators.emit:emit_triples",
    "emit.build_rows_present": "operators.emit:build_rows_present",
    "barriers.parquet_barrier": "barriers:parquet_barrier",
    "dedup.minhash_lsh_pairs": "operators.dedup:minhash_lsh_pairs",
    "dedup.simhash_pairs": "operators.dedup:simhash_pairs",
    "dedup.near_dup_canonicalize": "operators.dedup:near_dup_canonicalize",
    "similarity.srp_lsh_pairs": "operators.similarity:srp_lsh_pairs",
    "similarity.cosine_pairs_blocked": "operators.similarity:cosine_pairs_blocked",
    "components.connected_components": "operators.components:connected_components",
    "temporal.asof_join": "operators.temporal:asof_join",
    "temporal.range_agg": "operators.temporal:range_agg",
    "temporal.sessionize": "operators.temporal:sessionize",
}

# the spans whose metrics the benchmark reports (emit.build_rows_present
# is traced only so that the jobs it runs on a pipeline pool thread are
# not left without a job group)
REPORTED_SPANS = [n for n in LAYER_FUNCTIONS if n != "emit.build_rows_present"]

SPAN_FIELDS = ("s", "jobs", "task_s", "shuffle_mb", "spill_mb", "task_skew",
               "failed_tasks", "rows_out")

_GROUP = "spark.jobGroup.id"


def _active_sc():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


class Tracer:
    """Collects spans for one run. ``enabled`` False turns every
    wrapper into a plain call, so an untraced pass can run in the same
    process."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = True
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._anchor: int | None = None
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, anchor: bool = False):
        """Open a span; yields its record. ``anchor``: spans opened on
        other threads while this one is open (the pipeline's stage
        pool) become its children."""
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else self._anchor
        rec = {"id": sid, "name": name, "parent": parent, "run": self.run_id,
               "thread": threading.get_ident(), "group": f"{name}#{sid}",
               "start": time.time(), "end": None, "attrs": {}}
        sc = _active_sc()
        prev_group = sc.getLocalProperty(_GROUP) if sc is not None else None
        if sc is not None:
            sc.setLocalProperty(_GROUP, rec["group"])
        stack.append(sid)
        prev_anchor = self._anchor
        if anchor:
            self._anchor = sid
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if anchor:
                self._anchor = prev_anchor
            sc = sc or _active_sc()
            if sc is not None and sc._jsc is not None:
                sc.setLocalProperty(_GROUP, prev_group)
            with self._lock:
                self.spans.append(rec)

    def _wrap(self, name: str, fn):
        takes_stats = "stats" in inspect.signature(fn).parameters

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name) as rec:
                if takes_stats and kwargs.get("stats") is None:
                    kwargs["stats"] = rec["attrs"]
                return fn(*args, **kwargs)

        traced.__wrapped_by_tracer__ = True
        return traced

    def patch(self) -> None:
        """Replace every reference to each layer function inside the
        package's loaded modules with a span-opening wrapper."""
        for name, spec in LAYER_FUNCTIONS.items():
            modname, fn_name = spec.split(":")
            orig = getattr(importlib.import_module(f"{PACKAGE}.{modname}"), fn_name)
            wrapper = self._wrap(name, orig)
            for mod in list(sys.modules.values()):
                if not getattr(mod, "__name__", "").startswith(PACKAGE):
                    continue
                for attr, val in list(vars(mod).items()):
                    if val is orig:
                        setattr(mod, attr, wrapper)
                        self._patches.append((mod, attr, orig))

    def unpatch(self) -> None:
        for mod, attr, orig in reversed(self._patches):
            setattr(mod, attr, orig)
        self._patches.clear()


# ---------------------------------------------------------------------
# event log


def read_eventlog(evt_dir: str) -> tuple[dict, list[dict]]:
    """→ (jobs, tasks) from the uncompressed event log(s) in
    ``evt_dir``. jobs: id → {start, end, group, desc}; tasks carry the
    job id and times in epoch seconds."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for fn in sorted(os.listdir(evt_dir)):
        if fn.startswith("."):
            continue
        with open(os.path.join(evt_dir, fn)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "start": ev["Submission Time"] / 1000,
                        "end": None,
                        "group": props.get(_GROUP),
                        "desc": props.get("spark.job.description") or "",
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    if jid is None:
                        continue
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    tasks.append({
                        "job": jid,
                        "stage": ev["Stage ID"],
                        "s": (info.get("Finish Time", 0)
                              - info.get("Launch Time", 0)) / 1000,
                        "failed": bool(info.get("Failed")) or reason != "Success",
                        "shuffle_write": (m.get("Shuffle Write Metrics") or {})
                        .get("Shuffle Bytes Written", 0),
                        "spill": m.get("Disk Bytes Spilled", 0),
                        "rows_written": (m.get("Output Metrics") or {})
                        .get("Records Written", 0),
                    })
    for j in jobs.values():
        if j["end"] is None:
            j["end"] = j["start"]
    return jobs, tasks


def union_length(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    cur_s = cur_e = None
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


def _clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def _task_stats(tasks: list[dict]) -> dict:
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["s"])
    skew = 1.0
    if by_stage:
        heaviest = max(by_stage.values(), key=sum)
        med = statistics.median(heaviest)
        if med > 0:
            skew = max(heaviest) / med
    return {
        "task_s": sum(t["s"] for t in tasks),
        "shuffle_mb": sum(t["shuffle_write"] for t in tasks) / 1e6,
        "spill_mb": sum(t["spill"] for t in tasks) / 1e6,
        "task_skew": skew,
        "failed_tasks": sum(1 for t in tasks if t["failed"]),
        "rows_out": sum(t["rows_written"] for t in tasks),
    }


def rollup(spans: list[dict], jobs: dict, tasks: list[dict]) -> dict:
    """Per span: self time ``s`` (duration minus the part its child
    spans cover) and, inclusive of its child spans, the jobs its calls
    submitted with their task time, shuffle write, disk spill, skew of
    the heaviest stage (max / median task time), failed tasks and rows
    written. Spans of one name are summed (``task_skew``: max)."""
    children: dict[int, list[dict]] = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append(sp)
    subtree_groups: dict[int, set[str]] = {}

    def groups_of(sp) -> set[str]:
        if sp["id"] not in subtree_groups:
            g = {sp["group"]}
            for c in children.get(sp["id"], []):
                g |= groups_of(c)
            subtree_groups[sp["id"]] = g
        return subtree_groups[sp["id"]]

    tasks_by_job: dict[int, list[dict]] = {}
    for t in tasks:
        tasks_by_job.setdefault(t["job"], []).append(t)
    jobs_by_group: dict[str, list[int]] = {}
    for jid, j in jobs.items():
        jobs_by_group.setdefault(j["group"], []).append(jid)

    out: dict[str, dict] = {}
    for sp in spans:
        lo, hi = sp["start"], sp["end"]
        kids = _clip([(c["start"], c["end"]) for c in children.get(sp["id"], [])],
                     lo, hi)
        own_jobs = [jid for g in groups_of(sp) for jid in jobs_by_group.get(g, [])]
        st = _task_stats([t for jid in own_jobs for t in tasks_by_job.get(jid, [])])
        agg = out.setdefault(sp["name"], {k: 0.0 for k in SPAN_FIELDS} | {"calls": 0})
        agg["calls"] += 1
        agg["s"] += (hi - lo) - union_length(kids)
        agg["jobs"] += len(own_jobs)
        for k in ("task_s", "shuffle_mb", "spill_mb", "failed_tasks", "rows_out"):
            agg[k] += st[k]
        agg["task_skew"] = max(agg["task_skew"], st["task_skew"])
        for k, v in sp["attrs"].items():
            if isinstance(v, (int, float)):
                agg[k] = agg.get(k, 0) + v
    return out


def window_stats(jobs: dict, tasks: list[dict], lo: float, hi: float) -> dict:
    """Jobs submitted in [lo, hi]: count, task time, and the driver gap
    — the window's wall time not covered by any of those jobs."""
    ids = [jid for jid, j in jobs.items() if lo <= j["start"] <= hi]
    covered = union_length(_clip([(jobs[i]["start"], jobs[i]["end"]) for i in ids],
                                 lo, hi))
    idset = set(ids)
    return {
        "wall_s": hi - lo,
        "jobs": len(ids),
        "task_s": sum(t["s"] for t in tasks if t["job"] in idset),
        "driver_gap_s": (hi - lo) - covered,
    }


def stage_stats(jobs: dict, tasks: list[dict], lo: float, hi: float) -> dict:
    """Per ``tds:<stage>`` job description (the pipeline's own stage
    labels), for jobs submitted in [lo, hi]: jobs and task seconds."""
    out: dict[str, dict] = {}
    task_s: dict[int, float] = {}
    for t in tasks:
        task_s[t["job"]] = task_s.get(t["job"], 0.0) + t["s"]
    for jid, j in jobs.items():
        if not (lo <= j["start"] <= hi) or not j["desc"].startswith("tds:"):
            continue
        rec = out.setdefault(j["desc"][4:], {"jobs": 0, "task_s": 0.0})
        rec["jobs"] += 1
        rec["task_s"] += task_s.get(jid, 0.0)
    return out
