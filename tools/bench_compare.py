"""Diff a bench run against the frozen per-query medians in BASELINE.md.

    python tools/bench_compare.py [--bench bench_full.json] [--factor 2.0]

Parses every `| name | seconds |` cell from BASELINE.md (later tables
override earlier ones, so each query's LATEST freeze wins), compares
the given bench run, and prints queries exceeding `factor` x their
frozen median plus queries with no freeze row at all. Exit code 1 if
any query exceeds the factor or failed — usable as a pre-commit check
after perf-sensitive changes. SLOW and DIVERGENT lines carry the
query's snapshot join mix and, for a record that has them, its
``layers`` counters from the bench run. This is the per-query
companion to the driver's single-number BENCH_r{N}.json: it answers
"WHICH plan regressed", not just "did the total move".
"""

from __future__ import annotations

import argparse
import json
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def frozen_medians() -> dict[str, float]:
    txt = (REPO / "BASELINE.md").read_text()
    out: dict[str, float] = {}
    # later occurrences override: BASELINE.md appends newer freeze tables
    for name, sec in re.findall(r"\| ([a-z]\d+[a-z]?_\w+) \| ([0-9.]+) ", txt):
        out[name] = float(sec)
    return out


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--bench", default=str(REPO / "bench_full.json"))
    ap.add_argument("--factor", type=float, default=2.0)
    args = ap.parse_args(argv)

    payload = json.loads(Path(args.bench).read_text())
    bench = payload["queries"]
    layers = payload.get("layers", {})
    frozen = frozen_medians()

    # join-strategy context for flagged queries: the committed plan
    # fingerprint records each query's BHJ/SMJ mix, so a DIVERGENT or
    # SLOW row can be read against "did the join strategy drift?"
    # without re-planning (the fingerprint CI test catches the drift
    # itself; this makes the bench report self-contained).
    try:
        snap = json.loads((REPO / "plans_fingerprint.json").read_text())
    except OSError:
        snap = {}

    def context(name: str) -> str:
        """The plan's join mix and the run's ledger counters: a slow
        run with the same counters as before points at the host, one
        with more jobs or shuffle bytes at the plan."""
        out = ""
        fp = snap.get(name)
        if fp:
            out += (
                f" [snapshot joins: bhj={fp.get('bhj', 0)} smj={fp.get('smj', 0)}"
                f" exch={fp.get('exchange', 0)}]"
            )
        if name in layers:
            out += " [layers " + " ".join(f"{k}={v}" for k, v in layers[name].items()) + "]"
        return out

    # bench.py keeps the minimum of a query's reruns, which can mask a
    # genuine intermittent cost (recurring spill): surface any rerun
    # set whose runs diverge by more than the gate factor
    for name, runs in sorted(payload.get("reruns", {}).items()):
        if len(runs) >= 2 and min(runs) > 0 and max(runs) / min(runs) > args.factor:
            print(
                f"DIVERGENT  {name}: reruns {runs} differ x{max(runs) / min(runs):.1f}"
                " — investigate if it recurs across benches" + context(name)
            )

    slow, unfrozen, failed = [], [], []
    for name, t in sorted(bench.items()):
        if t < 0:
            failed.append(name)  # bench.py records errors as -1.0
            continue
        f = frozen.get(name)
        if f is None:
            unfrozen.append((name, t))
        elif t > args.factor * f and t > 1.0:  # ignore sub-second jitter
            slow.append((name, t, f, t / f))

    for name in failed:
        print(f"FAIL  {name}: bench run errored (-1.0 in bench_full.json)")
    for name, t, f, r in sorted(slow, key=lambda x: -x[3]):
        print(f"SLOW  {name}: {t:.2f}s vs frozen {f}s  (x{r:.1f})" + context(name))
    for name, t in unfrozen:
        print(f"NOFREEZE  {name}: {t:.2f}s (add a median row to BASELINE.md)")
    n = len(bench)
    print(f"{n - len(slow) - len(unfrozen) - len(failed)} within {args.factor}x "
          f"of freeze, {len(slow)} over, {len(failed)} failed, "
          f"{len(unfrozen)} unfrozen")
    sys.exit(1 if slow or failed else 0)


if __name__ == "__main__":
    main()
