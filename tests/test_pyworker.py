"""The engine's Python daemon (``json2hbase_spark.pyworker``): reused
workers skip the per-task import-cache flush unless something
importable changed, imports added mid-session still resolve, and the
daemon starts from any working directory."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile
from collections import defaultdict
from pathlib import Path

from pyspark.sql import functions as F

REPO = Path(__file__).resolve().parents[1]
TASKS = 8  # single-partition jobs; idle workers are reused in turn


def _flush_probe(import_name: str | None = None):
    """UDF returning ``pid:flushes[:value]``. The first call in a
    worker wraps ``importlib.invalidate_caches`` with a counter (the
    count covers flushes since then); ``import_name`` is imported and
    its ``VALUE`` returned."""

    def probe(_):
        import importlib
        import os

        if not hasattr(importlib, "_probe_flushes"):
            importlib._probe_flushes = 0
            flush = importlib.invalidate_caches

            def counting():
                importlib._probe_flushes += 1
                flush()

            importlib.invalidate_caches = counting
        out = f"{os.getpid()}:{importlib._probe_flushes}"
        if import_name:
            out += f":{importlib.import_module(import_name).VALUE}"
        return out

    return F.udf(probe)


def _run_tasks(spark, import_name: str | None = None) -> list[list[str]]:
    probe = _flush_probe(import_name)
    df = spark.range(1, numPartitions=1)
    return [
        df.select(probe("id").alias("r")).first()["r"].split(":")
        for _ in range(TASKS)
    ]


def _by_pid(readings: list[list[str]]) -> dict[str, list[int]]:
    out = defaultdict(list)
    for pid, flushes, *_ in readings:
        out[pid].append(int(flushes))
    return out


def test_reused_worker_does_not_flush_per_task(spark):
    per_pid = _by_pid(_run_tasks(spark))
    reused = {pid: c for pid, c in per_pid.items() if len(c) > 1}
    assert reused, per_pid
    # the stock worker flushes once per task: 0, 1, 2, ...
    for counts in reused.values():
        assert counts == [counts[0]] * len(counts), per_pid


def _flushes_after_adding(spark, path: str, module: str) -> None:
    before = _by_pid(_run_tasks(spark))
    spark.sparkContext.addPyFile(path)
    after = _run_tasks(spark, module)
    assert all(value == module for *_, value in after), after
    moved = [
        pid for pid, counts in _by_pid(after).items()
        if pid in before and counts[0] > before[pid][-1]
    ]
    assert moved, (before, after)


def test_zip_added_mid_session_imports_and_flushes(spark, tmp_path):
    module = "pyworker_probe_zipped"
    path = tmp_path / "probe_mods.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{module}.py", f"VALUE = {module!r}\n")
    _flushes_after_adding(spark, str(path), module)


def test_py_added_mid_session_imports_and_flushes(spark, tmp_path):
    module = "pyworker_probe_plain"
    path = tmp_path / f"{module}.py"
    path.write_text(f"VALUE = {module!r}\n")
    _flushes_after_adding(spark, str(path), module)


def test_install_falls_back_to_the_stock_worker(monkeypatch):
    from pyspark import worker, worker_util

    from json2hbase_spark import pyworker

    stock = worker.setup_spark_files
    monkeypatch.setattr(worker, "setup_spark_files", stock)  # restored after
    monkeypatch.delattr(worker_util, "add_path")
    pyworker._install()
    assert worker.setup_spark_files is stock
    monkeypatch.undo()
    monkeypatch.setattr(worker, "setup_spark_files", stock)
    pyworker._install()
    assert worker.setup_spark_files is not stock


UDF_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from json2hbase_spark.session import get_spark

spark = get_spark("pyworker_import_guard", master="local[1]")
row = spark.range(3, numPartitions=1).select(
    F.sum(F.udf(lambda x: x * 2, "long")("id")).alias("s")
).first()
print("UDF_SUM", row["s"])
spark.stop()
"""


def test_daemon_starts_outside_the_repo_without_pythonpath(tmp_path):
    """The daemon module is imported by name in a fresh interpreter:
    it must resolve through the session's executor PYTHONPATH, not
    through the working directory or the caller's environment."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", UDF_SCRIPT.format(repo=str(REPO))],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "UDF_SUM 6" in proc.stdout, proc.stderr[-3000:]
