"""Isolated per-query profile — the BASELINE.md adjudication protocol.

    python tools/isolated_profile.py q1 [q2 ...] [--runs 10] [--sf DIR]

For each named query: warm once at sf0.001 (codegen/JIT), then N tight
runs at the target SF with the noop sink, printing every run plus
min/median and the ledger's layers record of the fastest run. Each run
goes through bench.py's ``run_query``, so it is timed, cleaned up and
counted exactly as a bench query is. A genuine plan regression
reproduces its time across all N runs on an idle host; a host stall
shows up as a divergent outlier set with unchanged counters.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bench import Ledger, run_query  # noqa: E402
from json2hbase_spark import registry  # noqa: E402
from json2hbase_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    registry.load_all_query_modules()
    ledger = Ledger()
    spark = get_spark("json2hbase_profile")
    spark.sparkContext.setLogLevel("ERROR")
    ledger.attach(spark)
    warm_dir = os.path.join(os.path.dirname(args.sf.rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_dir):
        warm_dir = args.sf

    out: dict[str, dict] = {}
    for name in args.queries:
        run_query(spark, ledger, name, warm_dir)
        results = [run_query(spark, ledger, name, args.sf) for _ in range(args.runs)]
        runs = [t for t, _ in results]
        out[name] = {
            "runs": runs,
            "min": min(runs),
            "median": round(statistics.median(runs), 3),
            "layers": min(results, key=lambda r: r[0])[1],
        }
        print(f"# {name}: runs={runs} min={min(runs)} median={out[name]['median']}", file=sys.stderr)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
