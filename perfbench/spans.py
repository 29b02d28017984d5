"""Per-layer tracing from the benchmark's own files.

``Tracer.install`` replaces public functions of the engine's modules with
wrappers that record a span per call (name, parent, start, end). The
engine imports these functions inside its methods at call time, so
replacing the module attribute reaches every call without editing the
engine. Spans that may run Spark jobs also set the ``perfbench.span``
local property to their id, so each job in the Spark event log names the
innermost span that submitted it. ``spark_metrics`` joins the event log
with the spans after the session stops.

Spans are kept in memory; nothing is written until the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

SPAN_KEY = "perfbench.span"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        # [id, name, parent_id, t0, t1]; epoch seconds so spans line
        # up with the event log's millisecond timestamps
        self.spans: list[list] = []
        self.stack: list[int] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.overhead_s = 0.0  # the tracer's own bookkeeping
        self._undo: list[tuple] = []

    @contextmanager
    def span(self, name: str, tag: bool = True):
        o0 = time.perf_counter()
        sid = len(self.spans)
        rec = [sid, name, self.stack[-1] if self.stack else None, 0.0, 0.0]
        self.spans.append(rec)
        self.stack.append(sid)
        if tag:
            self.sc.setLocalProperty(SPAN_KEY, str(sid))
        self.overhead_s += time.perf_counter() - o0
        rec[3] = time.time()
        try:
            yield rec
        finally:
            rec[4] = time.time()
            o1 = time.perf_counter()
            self.stack.pop()
            if tag:
                self.sc.setLocalProperty(
                    SPAN_KEY, str(self.stack[-1]) if self.stack else None
                )
            self.overhead_s += time.perf_counter() - o1

    def wrap(self, owner, attr: str, name: str, tag: bool = True, after=None):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name, tag):
                out = orig(*args, **kwargs)
            if after is not None:
                o0 = time.perf_counter()
                after(args, kwargs, out)
                self.overhead_s += time.perf_counter() - o0
            return out

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        from component_delta_lake_writer_spark import datadir, runner
        from component_delta_lake_writer_spark.sinks import (
            deletion_vectors,
            delta_log,
            unit_stats,
        )
        from component_delta_lake_writer_spark.sinks.managed_table import (
            ManagedTable,
        )

        c = self.counters

        def count_files(args, kwargs, out):
            c["unit_stats.files"] += len(out.get("_files") or {}) or len(
                unit_stats.list_parquet_files(kwargs.get("unit_dir") or args[0])
            )

        def count_prune(args, kwargs, out):
            units = kwargs.get("units", args[1] if len(args) > 1 else [])
            c["prune.considered"] += len(units)
            c["prune.kept"] += len(out)

        def count_overlap(args, kwargs, out):
            c["prune.considered"] += 1
            c["prune.kept"] += bool(out)

        def count_log_entry(args, kwargs, out):
            data = os.path.join(kwargs["table_path"], kwargs["data_dir_name"])
            for key, units in (
                ("files_added", kwargs.get("new_units") or []),
                ("files_removed", kwargs.get("removed_units") or []),
            ):
                for u in units:
                    c[f"managed_table.{key}"] += len(
                        unit_stats.list_parquet_files(os.path.join(data, u))
                    )

        def count_checkpoint(args, kwargs, out):
            c["delta_log.checkpoints"] += 1

        def count_dv(args, kwargs, out):
            # the file ends at the last descriptor's <size><data><crc>
            if out:
                c["deletion_vectors.bytes"] += max(
                    d["offset"] + 4 + d["sizeInBytes"] + 4 for d in out.values()
                )

        self.wrap(datadir, "bind_job", "datadir.bind_job")
        self.wrap(runner, "plan_table_scan", "runner.plan_table_scan")
        for m in ("write", "upsert", "read", "read_where", "optimize", "vacuum"):
            self.wrap(ManagedTable, m, f"managed_table.{m}")
        self.wrap(ManagedTable, "latest_commit", "managed_table.latest_commit", tag=False)
        self.wrap(unit_stats, "collect_unit_stats", "unit_stats.collect_unit_stats",
                  after=count_files)
        self.wrap(unit_stats, "prune_units", "unit_stats.prune_units", tag=False,
                  after=count_prune)
        self.wrap(unit_stats, "unit_overlaps_key_bounds",
                  "unit_stats.unit_overlaps_key_bounds", tag=False, after=count_overlap)
        self.wrap(delta_log, "write_delta_log_entry", "delta_log.write_delta_log_entry",
                  after=count_log_entry)
        self.wrap(delta_log, "write_checkpoint", "delta_log.write_checkpoint",
                  after=count_checkpoint)
        self.wrap(delta_log, "read_delta_table", "delta_log.read_delta_table")
        self.wrap(deletion_vectors, "write_dv_file", "deletion_vectors.write_dv_file",
                  after=count_dv)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # ---------- span arithmetic ----------

    def self_times(self) -> dict[int, float]:
        """Span wall time minus the wall time of its direct children
        (children of one span never overlap: spans come from one thread)."""
        out = {s[0]: s[4] - s[3] for s in self.spans}
        for s in self.spans:
            if s[2] is not None:
                out[s[2]] -= s[4] - s[3]
        return out

    def root_of(self, sid: int) -> int:
        while self.spans[sid][2] is not None:
            sid = self.spans[sid][2]
        return sid


def _union(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals; empty ones (a job clipped to a
    span it does not overlap) count for nothing."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        start = max(a, end)
        if b > start:
            total += b - start
            end = b
    return total


def read_event_log(path: str) -> dict[int, dict]:
    """Jobs from a Spark event log: interval, span tag, and the summed
    metrics of their tasks."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                tag = (ev.get("Properties") or {}).get(SPAN_KEY)
                jobs[jid] = {
                    "t0": ev["Submission Time"] / 1000.0,
                    "t1": None,
                    "span": int(tag) if tag is not None else None,
                    "tasks": 0, "task_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0,
                }
                for st in ev.get("Stage IDs") or []:
                    stage_job.setdefault(st, jid)
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(ev["Job ID"])
                if job is not None:
                    job["t1"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev.get("Stage ID")))
                m = ev.get("Task Metrics") or {}
                if job is None or not m:
                    continue
                job["tasks"] += 1
                job["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                job["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                job["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
    return {k: j for k, j in jobs.items() if j["t1"] is not None}


def spark_metrics(
    tracer: Tracer, jobs: dict[int, dict], top_prefix: str, cores: int
) -> dict[str, float]:
    """Spark substrate metrics for the top-level spans whose name starts
    with ``top_prefix`` (the timed operations), per operation kind and in
    total, plus self time split into job time and driver time for every
    engine span."""
    spans = tracer.spans
    self_t = tracer.self_times()
    by_root: dict[int, list[dict]] = defaultdict(list)
    by_span: dict[int, list[dict]] = defaultdict(list)
    for j in jobs.values():
        if j["span"] is not None and j["span"] < len(spans):
            by_span[j["span"]].append(j)
            by_root[tracer.root_of(j["span"])].append(j)

    out: dict[str, float] = defaultdict(float)
    tops = [s for s in spans if s[2] is None and s[1].startswith(top_prefix)]
    wall_total = 0.0
    for s in tops:
        sid, name, _p, t0, t1 = s
        wall = t1 - t0
        js = by_root.get(sid, [])
        job_s = _union([(max(j["t0"], t0), min(j["t1"], t1)) for j in js])
        wall_total += wall
        out[f"{name}.n"] += 1
        out[f"{name}.wall_s"] += wall
        out[f"{name}.spark.jobs"] += len(js)
        out[f"{name}.spark.task_s"] += sum(j["task_s"] for j in js)
        out[f"{name}.driver.self_s"] += max(0.0, wall - job_s)
        out["spark.jobs"] += len(js)
        out["spark.tasks"] += sum(j["tasks"] for j in js)
        out["spark.task_s"] += sum(j["task_s"] for j in js)
        out["spark.gc_s"] += sum(j["gc_s"] for j in js)
        out["spark.shuffle_bytes"] += sum(j["shuffle_bytes"] for j in js)
        out["driver.self_s"] += max(0.0, wall - job_s)
    out["spark.core_busy_ratio"] = (
        out["spark.task_s"] / (wall_total * cores) if wall_total else 0.0
    )
    # job time the top-level spans cover, over the job time in their
    # window that is not the benchmark's own (untimed "phase." spans,
    # such as the correctness gate between two operations)
    if tops:
        lo, hi = min(s[3] for s in tops), max(s[4] for s in tops)
        root_name = {
            jid: spans[tracer.root_of(j["span"])][1]
            for jid, j in jobs.items() if j["span"] is not None
        }
        inside = [
            ((j["t0"], j["t1"]), root_name.get(jid, ""))
            for jid, j in jobs.items()
            if j["t0"] >= lo and j["t1"] <= hi
            and not root_name.get(jid, "").startswith("phase.")
        ]
        all_s = _union([iv for iv, _root in inside])
        out["trace.job_coverage"] = (
            _union([iv for iv, root in inside if root.startswith(top_prefix)]) / all_s
            if all_s else 1.0
        )
    # engine spans: self time = jobs tagged with the span + driver time.
    # Spans under an untimed top-level span are keyed "<top>/<span>".
    for s in spans:
        sid, name = s[0], s[1]
        root = tracer.root_of(sid)
        if root == sid:
            continue
        if not spans[root][1].startswith(top_prefix):
            name = f"{spans[root][1]}/{name}"
        own = by_span.get(sid, [])
        job_s = _union([(max(j["t0"], s[3]), min(j["t1"], s[4])) for j in own])
        out[f"{name}.calls"] += 1
        out[f"{name}.self_s"] += self_t[sid]
        out[f"{name}.total_s"] += s[4] - s[3]
        out[f"{name}.jobs_s"] += job_s
        out[f"{name}.driver_s"] += max(0.0, self_t[sid] - job_s)
    return dict(out)
