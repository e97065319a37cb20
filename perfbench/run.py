"""Closed-loop benchmark of the json2hbase_spark engine.

One driver process, one client, one op at a time, on
``local[<cores>]`` with ``SPARK_GRAFT_CPUS=<cores>``. Run it from the
root of a checkout::

    python3 perfbench/run.py --workload hbase_ingest --seed 1 --seconds 10 --trace 0

A run sets up once: imports, session start, one untimed warm-up pass
that also keeps its outputs, and ``SETTLE_PASSES`` more untimed
passes. ``setup_s`` is the time from process start to the first timed
op, less the time the benchmark spends making its own inputs. Every
end-to-end time is net of the vCPU time the hypervisor stole (see
``net_of_steal``). The run then times passes over the workload's ops for
``--seconds`` (at least ``MIN_PASSES``) and last checks the warm-up
outputs, outside every timed region. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and the metrics
(end-to-end ones with ``--trace 0``, per-layer ones with
``--trace 1``). The line before it holds the run's metadata. Every
path it writes is under the checkout.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks of all vCPUs so far, from ``/proc/stat``.
    Stolen ticks are those in which a runnable vCPU waited for the
    hypervisor to run it."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    # user nice system idle iowait irq softirq steal
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


def net_of_steal(seconds: float, ticks0: tuple[int, int], ticks1: tuple[int, int]) -> float:
    """``seconds`` less the share of it the hypervisor stole: the time
    the same work takes on an idle host, if stolen ticks fall evenly on
    the runnable vCPUs."""
    busy, stolen = (b - a for a, b in zip(ticks0, ticks1))
    return seconds * busy / (busy + stolen) if busy + stolen else seconds


TICKS_PROCESS = cpu_ticks()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# The passes right after the cold one still run 20-50 % slower while
# the JVM compiles; SETTLE_PASSES more untimed passes (part of setup)
# let that pass before timing.
SETTLE_PASSES = 1
MIN_PASSES = 2
# Peak RSS is recorded in the metadata only: the JVM heap grows with GC
# timing, and the same workload read 2.8-3.7 GB from run to run.
END_TO_END = {"setup_s": "s", "wall_s": "s", "query_geomean_s": "s", "ok_frac": "ratio"}
PER_LAYER = {
    "session.start_s": "s", "session.warm_s": "s",
    "plans.build_s": "s", "plans.build_share": "ratio", "plans.eager_jobs": "count",
    "materialize.calls": "count", "materialize.s": "s",
    "io.load_calls": "count", "io.load_s": "s", "io.stream_source_s": "s",
    "catalyst.plan_s": "s", "exec.final_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "driver.gap_s": "s", "driver.gap_share": "ratio",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.cpu_share": "ratio",
    "executor.gc_s": "s",
    "shuffle.read_bytes": "bytes", "shuffle.write_bytes": "bytes",
    "spill.bytes": "bytes", "output.bytes": "bytes",
    "flatten.build_s": "s", "hbase.write_s": "s", "hbase.cells": "count",
    "hbase.cells_per_s": "1/s",
    "stream.batches": "count", "stream.trigger_ms": "ms", "stream.add_batch_ms": "ms",
    "stream.planning_ms": "ms", "stream.commit_ms": "ms", "stream.overhead_s": "s",
    "stream.state_rows": "count", "stream.state_bytes": "bytes",
    "trace.wall_s": "s",
}
# per-op medians recorded in a traced run's metadata
OP_LEDGER_KEYS = (
    "op_s", "build_s", "catalyst_s", "spark.jobs", "plans.eager_jobs", "spark.stages",
    "spark.tasks", "materialize_calls", "driver.gap_s", "executor.cpu_s",
)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str, cpus: int) -> None:
    """Pin the core count and keep every temp path, the JVM's included,
    inside ``work``; put the checkout on the Python workers' path."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote('-Djava.io.tmpdir=' + tmp)} pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def host_burn() -> float:
    """Best of three single-core spins: a host-speed record, not a metric."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(2_000_000):
            x += i * i
        best = min(best, time.perf_counter() - t0)
    return best


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def descendants(pid: int) -> set[int]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                kids[ppid].append(int(d))
            except (OSError, IndexError, ValueError):
                pass
    out, todo = set(), [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


class Runner:
    def __init__(self, workload, trace):
        self.w = workload
        self.ledger = trace
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.problems: dict[str, str] = {}

    def start_session(self):
        from json2hbase_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        dt = time.perf_counter() - t0
        if self.ledger is not None:
            self.ledger.attach(self.spark)
        return dt

    def _fail(self, name: str, why: str) -> None:
        self.failed += 1
        self.problems.setdefault(name, why)

    def warm_pass(self) -> dict:
        """One untimed pass; returns op name -> output to check."""
        from json2hbase_spark.materialize import cleanup_materialized

        out = {}
        for op in self.w.order():
            self.attempted += 1
            try:
                out[op.name] = self.w.collect(self.spark, op, op.build(self.spark))
            except Exception:
                self._fail(op.name, "warm-up raised: " + traceback.format_exc(limit=3))
            cleanup_materialized()
        return out

    def timed_op(self, op) -> dict:
        from ledger import catalyst_seconds

        rec = {"name": op.name, "catalyst_s": 0.0}
        p1, probe = None, 0.0
        ticks0 = cpu_ticks()
        rec["t0"] = time.time()
        p0 = time.perf_counter()
        try:
            df = op.build(self.spark)
            p1 = time.perf_counter()
            rec["build_end"] = time.time()
            if self.ledger is not None:
                rec["catalyst_s"] = catalyst_seconds(df)
                probe = time.perf_counter() - p1
            op.final(self.spark, df)
        except Exception:
            rec["error"] = traceback.format_exc(limit=3)
            if p1 is None:
                p1 = time.perf_counter()
                rec["build_end"] = time.time()
        p2 = time.perf_counter()
        rec["t1"] = time.time()
        rec["build_s"] = p1 - p0
        rec["final_s"] = p2 - p1 - probe
        rec["op_s"] = rec["build_s"] + rec["final_s"]
        rec["net_s"] = net_of_steal(rec["op_s"], ticks0, cpu_ticks())
        return rec

    def run_pass(self):
        """One pass over the ops in the seeded order: the pass time, the
        op records and, in a traced run, the op ledger rows."""
        from json2hbase_spark.materialize import cleanup_materialized

        pass_s, pass_rows, pass_recs = 0.0, [], []
        for op in self.w.order():
            before = self.ledger.snapshot() if self.ledger is not None else None
            rec = self.timed_op(op)
            self.attempted += 1
            if "error" in rec:
                self._fail(op.name, "raised: " + rec["error"])
            else:
                why = self.w.after_op(op)
                if why:
                    self._fail(op.name, why)
            cleanup_materialized()
            pass_s += rec["op_s"]
            pass_recs.append(rec)
            if self.ledger is not None:
                row = self.ledger.op_row(rec, before)
                row.update({k: rec[k] for k in ("name", "op_s", "build_s", "final_s", "catalyst_s")})
                row["hbase.cells"] = getattr(self.w, "expected_cells", {}).get(op.name, 0)
                pass_rows.append(row)
        return pass_s, pass_recs, pass_rows

    def measure(self, seconds: float):
        """Timed passes for about ``seconds``, at least ``MIN_PASSES``:
        the op records and, in a traced run, the ledger rows of each."""
        recs, rows = [], []
        t_start = time.perf_counter()
        while True:
            pass_s, pass_recs, pass_rows = self.run_pass()
            recs.append(pass_recs)
            rows.append(pass_rows)
            elapsed = time.perf_counter() - t_start
            if len(recs) >= MIN_PASSES and elapsed + pass_s > seconds:
                break
        if self.ledger is not None:
            for pass_rows, pass_recs in zip(rows, recs):
                for row, srow in zip(pass_rows, self.ledger.stream_rows(pass_recs)):
                    row.update(srow)
        return recs, rows

    def shutdown(self) -> None:
        """Stop Spark, the gateway JVM and every process under it."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception:
                pass
        if gw is None or getattr(gw, "proc", None) is None:
            return
        proc = gw.proc
        kids = descendants(proc.pid)
        try:
            gw.shutdown()
        except Exception:
            pass
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
        deadline = time.time() + 10
        while kids and time.time() < deadline:
            kids = {p for p in kids if os.path.exists(f"/proc/{p}")}
            time.sleep(0.05)
        for p in kids:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


def main(argv=None) -> int:
    args = parse_args(argv)
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    os.makedirs(work)
    runner = None
    try:
        prepare_env(work, cpus)
        sys.path[:0] = [HERE, ROOT]
        try:
            import json2hbase_spark  # noqa: F401
            import pyspark
            from json2hbase_spark import registry

            registry.load_all_query_modules()
        except ImportError as exc:
            print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
            return 2
        import fixtures
        import workloads
        from ledger import Ledger, pass_metrics

        if args.workload not in workloads.WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
            return 2
        t0 = time.perf_counter()
        fixture_dir = fixtures.ensure(os.path.join(ROOT, ".perfbench_data", f"fixtures-s{fixtures.FIXTURE_SEED}"))
        w = workloads.WORKLOADS[args.workload](args.seed, fixture_dir, work)
        inputs_s = time.perf_counter() - t0
        runner = Runner(w, Ledger() if args.trace else None)

        start_s = runner.start_session()
        t0 = time.perf_counter()
        outputs = runner.warm_pass()
        for _ in range(SETTLE_PASSES):
            runner.run_pass()
        warm_s = time.perf_counter() - t0
        raw_setup_s = time.perf_counter() - T_PROCESS - inputs_s
        ticks0 = cpu_ticks()
        setup_s = net_of_steal(raw_setup_s, TICKS_PROCESS, ticks0)

        recs, rows = runner.measure(args.seconds)
        ticks1 = cpu_ticks()
        steal_share = 1.0 - net_of_steal(1.0, ticks0, ticks1)
        raw_passes = [sum(r["op_s"] for r in p) for p in recs]
        passes = [sum(r["net_s"] for r in p) for p in recs]
        op_times = defaultdict(list)
        for rec in (r for p in recs for r in p):
            op_times[rec["name"]].append(rec["net_s"])
        t0 = time.perf_counter()
        for name, why in w.check(outputs).items():
            runner._fail(name, "check: " + why)
        check_s = time.perf_counter() - t0
        burn = host_burn()
        spark = runner.spark
        jvm_pid = spark.sparkContext._gateway.proc.pid
        peak_mb = (vm_hwm_kb(jvm_pid) + vm_hwm_kb(os.getpid())) / 1024.0
        op_medians = {n: statistics.median(ts) for n, ts in op_times.items()}
        if args.trace:
            per_pass = [pass_metrics(r) for r in rows]
            values = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
            values["session.start_s"] = start_s
            values["session.warm_s"] = warm_s
            values["trace.wall_s"] = statistics.median(passes)
            metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}
            op_ledger = defaultdict(lambda: defaultdict(list))
            for row in (r for pass_rows in rows for r in pass_rows):
                for k in OP_LEDGER_KEYS:
                    op_ledger[row["name"]][k].append(row[k])
            op_ledger = {n: {k: statistics.median(v) for k, v in d.items()} for n, d in op_ledger.items()}
        else:
            values = {
                "setup_s": setup_s,
                "wall_s": statistics.median(passes),
                "query_geomean_s": workloads.geomean(op_medians.values()),
                "ok_frac": 1.0 - runner.failed / runner.attempted,
            }
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        meta = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "nproc": cpus, "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "passes": len(passes), "pass_s": passes, "raw_pass_s": raw_passes,
            "steal_share": steal_share, "setup_s": setup_s, "raw_setup_s": raw_setup_s,
            "inputs_s": inputs_s, "session_start_s": start_s, "warm_s": warm_s, "check_s": check_s,
            "op_median_s": op_medians, "peak_rss_mb": peak_mb, "host_burn_s": burn,
            "spark": pyspark.__version__, "python": sys.version.split()[0],
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "problems": runner.problems,
        }
        if args.trace:
            meta["op_ledger"] = op_ledger
        print(json.dumps({"meta": meta}))
        print(json.dumps({
            "correct": runner.failed == 0,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        if runner is not None:
            runner.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
