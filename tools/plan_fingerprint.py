"""Plan-shape fingerprints for EVERY registered query.

    python tools/plan_fingerprint.py              # regenerate snapshot
    python tools/plan_fingerprint.py --check      # diff vs snapshot (CI)

PLANS.md audits the 54 headline plans in depth; this tool pins the
OTHER two hundred with a cheap signature so a silent plan-shape
regression (a broadcast turning into a sort-merge join, a new
cartesian, a Python eval sneaking into a native pipeline, a lost
exchange reuse) fails CI instead of surfacing as a bench delta two
rounds later. The signature counts the operators that matter for the
100 TB story:

    BHJ / SMJ / BNLJ / cartesian — join strategy mix
    exchanges, single-partition exchanges — shuffle structure
    windows, sorts, global sorts — ordering machinery
    python evals (BatchEvalPython / ArrowEval / MapInArrow /
    FlatMapGroupsInPandas...) — rows leaving the JVM

Snapshot lives in plans_fingerprint.json (committed). The check mode
allows ADDITIVE changes (new queries) and fails on any changed
signature, printing both sides. Fingerprints are computed against the
sf0.001 fixture — planning only; queries that execute eagerly during
plan construction (writes, materialize()) run at the smallest scale.
Fixture regeneration can legitimately flip a size-based join choice:
re-run without --check to refresh, and let the diff in git review
carry the story.
"""

from __future__ import annotations

import argparse
import json
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SNAPSHOT = REPO / "plans_fingerprint.json"
SF = "/root/testdata/sf0.001"

MARKERS = {
    "bhj": r"BroadcastHashJoin",
    "smj": r"SortMergeJoin",
    "bnlj": r"BroadcastNestedLoopJoin",
    "cartesian": r"CartesianProduct",
    "exchange": r"Exchange ",
    "single_part": r"Exchange SinglePartition",
    "window": r"\bWindow \[",
    "sort": r"\bSort \[",
    "global_sort": r"\bSort \[[^\]]*\], true",
    "py_eval": r"BatchEvalPython|ArrowEvalPython|MapInArrow|MapInPandas"
    r"|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|PythonMapInArrow",
    "generate": r"\bGenerate\b",
    # the four plan-audit hygiene categories, CI-enforced against the
    # justified sets in tools/plan_audit.py (tests/test_plan_fingerprint.py):
    "row_py_eval": r"BatchEvalPython|PythonUDTF",
    "range_part": r"rangepartitioning",
}


def fingerprint(plan: str) -> dict[str, int]:
    from tools.plan_audit import _nonscalar_singlepart

    fp = {k: len(re.findall(rx, plan)) for k, rx in MARKERS.items()}
    fp["single_part_nonscalar"] = _nonscalar_singlepart(plan)
    return fp


def compute_all() -> dict[str, dict[str, int]]:
    from json2hbase_spark import registry
    from json2hbase_spark.materialize import cleanup_materialized
    from json2hbase_spark.session import get_spark

    registry.load_all_query_modules()
    spark = get_spark("plan_fingerprint")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, dict[str, int]] = {}

    def one(name: str) -> dict[str, int]:
        try:
            df = registry.QUERIES[name](spark, SF)
            plan = df._jdf.queryExecution().executedPlan().toString()
            return fingerprint(plan)
        except Exception as exc:  # noqa: BLE001 — record, keep going
            print(f"# fingerprint error {name}: {exc}", file=sys.stderr)
            return {"error": 1}

    # Round 14 (guide §2.6 — overlap independent driver work): plan
    # construction is dominated by py4j/JVM planning plus the eager
    # materialize legs some queries execute while BUILDING their
    # DataFrame; both release the GIL, so a small thread pool cuts
    # the 336-query sweep ~4x (233 s -> ~60 s in the test session).
    # The session-memo chains build their bounded artifacts as local
    # relations from the memo's rows on the compute path AND the memo
    # path (json2hbase_spark.memo), so a consumer planning before or
    # after its definer fingerprints the same. What can race is shared
    # session state: a query that sets a session conf while it plans
    # changes what other threads plan (observed: c15's broadcast
    # threshold of -1 turned c11's, c13's and c14's broadcast joins
    # into sort-merge joins until c15 planned in a session of its
    # own). So: threaded sweep first, then
    # re-run SEQUENTIALLY any query whose signature disagrees with
    # the committed snapshot (or is new/errored) — a transient race
    # re-resolves to the canonical plan, a genuine drift reproduces
    # and is reported. All-green runs stay fast; a mass drift
    # degrades to the sequential sweep, which is today's behavior.
    from concurrent.futures import ThreadPoolExecutor

    names = sorted(registry.QUERIES)
    with ThreadPoolExecutor(max_workers=8) as pool:
        for name, fp in zip(names, pool.map(one, names)):
            out[name] = fp
    cleanup_materialized()
    snap = json.loads(SNAPSHOT.read_text()) if SNAPSHOT.exists() else {}
    replanned = [n for n in names if out[n] != snap.get(n)]
    for name in replanned:
        out[name] = one(name)
        cleanup_materialized()
    print(
        f"# {len(replanned)} queries re-planned sequentially: "
        + (", ".join(replanned) or "none"),
        file=sys.stderr,
    )
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--check", action="store_true")
    args = ap.parse_args()

    current = compute_all()
    if not args.check:
        SNAPSHOT.write_text(json.dumps(current, indent=1, sort_keys=True) + "\n")
        print(f"wrote {SNAPSHOT.name} ({len(current)} queries)")
        return

    snap = json.loads(SNAPSHOT.read_text())
    changed = []
    for name, fp in current.items():
        if name in snap and snap[name] != fp:
            changed.append((name, snap[name], fp))
    removed = sorted(set(snap) - set(current))
    for name, old, new in changed:
        delta = {
            k: (old.get(k, 0), new.get(k, 0))
            for k in set(old) | set(new)
            if old.get(k, 0) != new.get(k, 0)
        }
        print(f"CHANGED  {name}: {delta}")
    for name in removed:
        print(f"REMOVED  {name} (in snapshot, not registered)")
    new_q = sorted(set(current) - set(snap))
    if new_q:
        print(f"# {len(new_q)} new queries not in snapshot (additive, ok): "
              + ", ".join(new_q))
    if changed or removed:
        print(f"{len(changed)} changed, {len(removed)} removed — "
              "regenerate with `python tools/plan_fingerprint.py` if intended")
        sys.exit(1)
    print(f"{len(current)} fingerprints match snapshot")


if __name__ == "__main__":
    main()
