from __future__ import annotations

import itertools
import sys
from pathlib import Path

import pytest
from py4j.protocol import MEMORY_COMMAND_NAME

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

# job-group ids must not repeat within the session: the status tracker
# keeps the jobs of every group it has seen
_JOB_GROUPS = itertools.count()


@pytest.fixture(scope="session")
def spark():
    from json2hbase_spark.session import get_spark

    spark = get_spark("json2hbase_tests", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn()`` and returns the number of Spark
    jobs it launched: a counter, unmoved by host speed. Jobs are
    tagged with a job group; the listener bus is drained before the
    status tracker is read, since it records jobs asynchronously."""
    sc = spark.sparkContext

    def run(fn) -> int:
        group = f"count_jobs_{next(_JOB_GROUPS)}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture
def round_trips(spark):
    """``round_trips(fn)`` calls ``fn()`` and returns the number of
    Py4J commands it sent: a plan-build cost that host speed cannot
    move. Memory commands are skipped: they release Python proxies of
    earlier, unrelated objects whenever the garbage collector runs."""
    client = spark.sparkContext._gateway._gateway_client

    def run(fn) -> int:
        send = client.send_command
        sent = []

        def counting(command, *a, **k):
            if not command.startswith(MEMORY_COMMAND_NAME):
                sent.append(command)
            return send(command, *a, **k)

        client.send_command = counting
        try:
            fn()
        finally:
            del client.send_command
        return len(sent)

    return run


@pytest.fixture
def broadcast_off(spark):
    """Runs the test with ``spark.sql.autoBroadcastJoinThreshold=-1``
    and restores the session's value after it: ``materialize`` then
    hints no table, so joins against materialized tables plan
    sort-merge, the path of tables too large to broadcast."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, before)


@pytest.fixture
def reliable_checkpoint(spark, tmp_path):
    """Runs the test with the SparkContext's checkpoint dir at
    ``tmp_path`` and restores "no dir" after it: ``materialize`` then
    writes a reliable checkpoint, the path of a deployment that sets
    ``spark.checkpoint.dir``. Without the restore, every later test
    would take that path too."""
    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path))
    try:
        yield tmp_path
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
