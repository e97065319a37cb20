"""Per-layer ledger for a traced run.

Every layer is measured from outside, by timing calls into its public
functions or by reading what Spark itself records:

- wrappers around ``io.load``, the two stream loaders,
  ``materialize.materialize``, ``flatten.kv_flatten`` and
  ``hbase.write_hbase_emulated`` count calls and time;
- jobs and stages come from the local UI REST API and are attributed
  to an op by time window (submitted inside the op's window; a job
  submitted before the returned DataFrame existed is an eager job).
  A job group would miss the jobs of stream threads, and the UI keeps
  only the last 1000 stages, so the ledger reads right after each op;
- micro-batch timings and state sizes come from a
  ``StreamingQueryListener`` and are attributed by trigger timestamp;
- Catalyst time is the analysis, optimization and planning phases of
  the returned plan, read from its ``QueryPlanningTracker``.
"""

from __future__ import annotations

import importlib
import json
import sys
import time
import urllib.parse
import urllib.request
from collections import defaultdict
from datetime import datetime, timezone

WRAPPED = (
    ("json2hbase_spark.io", "load", "io.load"),
    ("json2hbase_spark.io", "load_events_stream", "io.stream_source"),
    ("json2hbase_spark.io", "load_table_stream", "io.stream_source"),
    ("json2hbase_spark.materialize", "materialize", "materialize"),
    ("json2hbase_spark.operators.flatten", "kv_flatten", "flatten.build"),
    ("json2hbase_spark.operators.hbase", "write_hbase_emulated", "hbase.write"),
)
CATALYST_PHASES = ("analysis", "optimization", "planning")
_EPS = 0.005  # REST timestamps have millisecond resolution


def _rest_time(s: str) -> float:
    """'2026-01-01T10:00:00.123GMT' (UI REST) -> epoch seconds."""
    return datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f").replace(tzinfo=timezone.utc).timestamp()


def _iso_time(s: str) -> float:
    """'2026-01-01T10:00:00.123Z' (stream progress) -> epoch seconds."""
    return _rest_time(s.rstrip("Z"))


def install_wrappers(totals: dict) -> None:
    """Replace each wrapped function, in its module and in every module
    that imported it by name, with a timing wrapper feeding ``totals``."""
    for mod_name, attr, key in WRAPPED:
        mod = importlib.import_module(mod_name)
        orig = getattr(mod, attr)
        if getattr(orig, "__wrapped_by_ledger__", False):
            continue

        def wrapper(*a, __orig=orig, __key=key, **k):
            t0 = time.perf_counter()
            try:
                return __orig(*a, **k)
            finally:
                totals[__key + "_s"] += time.perf_counter() - t0
                totals[__key + "_calls"] += 1

        wrapper.__wrapped_by_ledger__ = True
        for m in list(sys.modules.values()):
            if getattr(m, "__dict__", {}).get(attr) is orig:
                setattr(m, attr, wrapper)


def catalyst_seconds(df) -> float:
    """Force the returned plan through planning and read its phase times."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total_ms = 0
    for name in CATALYST_PHASES:
        opt = phases.get(name)
        if opt.isDefined():
            total_ms += opt.get().durationMs()
    return total_ms / 1000.0


def _stream_listener_class():
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamListener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[tuple] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.progress.append((
                _iso_time(p.timestamp),
                str(p.runId),
                p.batchId,
                dict(p.durationMs),
                [(s.numRowsTotal, s.memoryUsedBytes) for s in p.stateOperators],
            ))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return StreamListener


class Ledger:
    """Collects one row of layer counters per op of a traced run."""

    def __init__(self):
        self.totals: dict = defaultdict(float)
        install_wrappers(self.totals)
        self.listener = None

    def attach(self, spark) -> None:
        """Point the ledger at a (re)started session."""
        self.spark = spark
        sc = spark.sparkContext
        port = urllib.parse.urlparse(sc.uiWebUrl).port
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self.listener = _stream_listener_class()()
        spark.streams.addListener(self.listener)

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def _drain(self) -> None:
        """Wait until Spark's listener bus (UI store and stream listener)
        has seen every event posted so far."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def snapshot(self) -> dict:
        return dict(self.totals)

    def op_row(self, rec: dict, before: dict) -> dict:
        """Layer counters for one finished op. ``rec`` carries the op's
        epoch window (t0, t1), the end of its build (build_end) and its
        build/final durations."""
        self._drain()
        t0, t1, b_end = rec["t0"] - _EPS, rec["t1"] + _EPS, rec["build_end"] + _EPS
        jobs = [j for j in self._get("/jobs") if "submissionTime" in j and t0 <= _rest_time(j["submissionTime"]) <= t1]
        stages = [
            s for s in self._get("/stages")
            if s.get("status") in ("COMPLETE", "FAILED") and "submissionTime" in s
            and t0 <= _rest_time(s["submissionTime"]) <= t1
        ]
        row = {
            "spark.jobs": len(jobs),
            "plans.eager_jobs": sum(1 for j in jobs if _rest_time(j["submissionTime"]) <= b_end),
            "spark.stages": len(stages),
            "spark.tasks": sum(s["numTasks"] for s in stages),
            "spark.failed_tasks": sum(s["numFailedTasks"] for s in stages),
            "executor.run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "executor.cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "executor.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "shuffle.read_bytes": sum(s["shuffleReadBytes"] for s in stages),
            "shuffle.write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "spill.bytes": sum(s["diskBytesSpilled"] for s in stages),
            "output.bytes": sum(s["outputBytes"] for s in stages),
            "driver.gap_s": _gap(rec["t0"], rec["t1"], stages),
        }
        for key in ("io.load", "io.stream_source", "materialize", "flatten.build", "hbase.write"):
            for suffix in ("_s", "_calls"):
                row[key + suffix] = self.totals[key + suffix] - before.get(key + suffix, 0.0)
        return row

    def stream_rows(self, recs: list[dict]) -> list[dict]:
        """Micro-batch counters per op, matched by trigger timestamp."""
        self._drain()
        rows = []
        for rec in recs:
            prog = [p for p in self.listener.progress if rec["t0"] - _EPS <= p[0] <= rec["t1"] + _EPS]
            last_by_run: dict = {}
            for p in sorted(prog, key=lambda p: p[2]):
                last_by_run[p[1]] = p[4]
            trig = sum(p[3].get("triggerExecution", 0) for p in prog)
            rows.append({
                "stream.batches": len(prog),
                "stream.trigger_ms": trig,
                "stream.add_batch_ms": sum(p[3].get("addBatch", 0) for p in prog),
                "stream.planning_ms": sum(p[3].get("queryPlanning", 0) for p in prog),
                "stream.commit_ms": sum(p[3].get("walCommit", 0) + p[3].get("commitOffsets", 0) for p in prog),
                "stream.overhead_s": rec["build_s"] - trig / 1e3 if prog else 0.0,
                "stream.state_rows": sum(r for ops in last_by_run.values() for r, _ in ops),
                "stream.state_bytes": sum(b for ops in last_by_run.values() for _, b in ops),
            })
        return rows


def _gap(t0: float, t1: float, stages: list[dict]) -> float:
    """Seconds of [t0, t1] during which no stage was running."""
    spans = sorted(
        (max(t0, _rest_time(s["submissionTime"])), min(t1, _rest_time(s.get("completionTime", s["submissionTime"]))))
        for s in stages
    )
    busy, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in spans:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                busy += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        busy += cur_hi - cur_lo
    return max(0.0, (t1 - t0) - busy)


def pass_metrics(rows: list[dict]) -> dict:
    """Per-pass sums of op rows, plus the ratios built from them."""
    tot: dict = defaultdict(float)
    for r in rows:
        for k, v in r.items():
            if not isinstance(v, str):
                tot[k] += v
    wall = tot["op_s"]
    out = {
        "plans.build_s": tot["build_s"],
        "plans.build_share": tot["build_s"] / wall,
        "exec.final_s": tot["final_s"],
        "catalyst.plan_s": tot["catalyst_s"],
        "io.load_calls": tot["io.load_calls"],
        "io.load_s": tot["io.load_s"],
        "io.stream_source_s": tot["io.stream_source_s"],
        "materialize.calls": tot["materialize_calls"],
        "materialize.s": tot["materialize_s"],
        "flatten.build_s": tot["flatten.build_s"],
        "hbase.write_s": tot["hbase.write_s"],
        "hbase.cells": tot["hbase.cells"],
        "hbase.cells_per_s": tot["hbase.cells"] / tot["hbase.write_s"] if tot["hbase.write_s"] else 0.0,
        "driver.gap_share": tot["driver.gap_s"] / wall,
        "executor.cpu_share": tot["executor.cpu_s"] / tot["executor.run_s"] if tot["executor.run_s"] else 0.0,
    }
    for k in (
        "spark.jobs", "plans.eager_jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
        "executor.run_s", "executor.cpu_s", "executor.gc_s", "shuffle.read_bytes",
        "shuffle.write_bytes", "spill.bytes", "output.bytes", "driver.gap_s",
        "stream.batches", "stream.trigger_ms", "stream.add_batch_ms", "stream.planning_ms",
        "stream.commit_ms", "stream.overhead_s", "stream.state_rows", "stream.state_bytes",
    ):
        out[k] = tot[k]
    return out
