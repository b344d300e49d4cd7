"""Compare two sets of benchmark runs (or check one set for steadiness).

    python3 perfbench/compare.py runs/a            # one set: spreads
    python3 perfbench/compare.py runs/a runs/b     # two sets: agreement

A set is a directory of ``<workload>__seed<n>.json`` result lines, as
``runset.py`` writes them. For every workload × metric the tool prints
the run count, first quartile, median and third quartile
(``statistics.quantiles(values, n=4)``) and the spread — the
interquartile distance as a share of the median. For an end-to-end
metric of BENCHMARK.json it also judges:

- steady: the spread is below a third of the metric's bound (the
  benchmark's own target) and within the bound;
- agree (two sets): the second median is not worse than the first by
  more than the bound, and not better by more than the bound either.

Per-layer metrics (traced runs) are listed without a verdict. Given one
untraced and one traced set, it also prints the tracing overhead: the
traced median of ``trace.query_geomean_ms`` against the untraced median
of ``query_geomean_ms``. Exit code
1 when any run failed its correctness check or any judged metric is
outside its bound.
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

from stats import quartiles

ROOT = Path(__file__).resolve().parent.parent


def load_set(path: str) -> tuple[dict, list[str]]:
    """workload → metric → [values]; plus a list of problems found."""
    values: dict = defaultdict(lambda: defaultdict(list))
    problems = []
    files = sorted(Path(path).glob("*__seed*.json"))
    if not files:
        problems.append(f"{path}: no result files")
    for f in files:
        workload = f.name.split("__", 1)[0]
        res = json.loads(f.read_text())
        if not res["correct"] or res["failed"]:
            problems.append(f"{f.name}: {res['failed']} of {res['attempted']} ops failed")
        for name, m in res["metrics"].items():
            values[workload][name].append(m["value"])
    return values, problems


def worse_by(a: float, b: float, better: str) -> float:
    """How much worse ``b`` is than ``a``, as a share of ``a``."""
    change = (b - a) / abs(a)
    return change if better == "lower" else -change


def report(sets: list[str]) -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    loaded = [load_set(s) for s in sets]
    bad = 0
    for _, problems in loaded:
        for p in problems:
            print(f"FAILED {p}")
            bad += 1
    first = loaded[0][0]
    for workload in sorted(first):
        print(f"\n== {workload}")
        for metric in sorted(first[workload]):
            spec = bounds.get(metric)
            cells, medians = [], []
            for values, _ in loaded:
                vals = values.get(workload, {}).get(metric, [])
                if len(vals) < 2:
                    cells.append(f"n={len(vals)}")
                    medians.append(None)
                    continue
                q1, q2, q3 = quartiles(vals)
                sp = (q3 - q1) / abs(q2) if q2 else float("inf")
                verdict = ""
                if spec:
                    if sp > spec["bound"]:
                        verdict, bad = " OUT", bad + 1
                    else:
                        verdict = " steady" if sp < spec["bound"] / 3 else " wide"
                cells.append(f"n={len(vals)} q1={q1:.6g} med={q2:.6g} q3={q3:.6g} spread={sp:.3f}{verdict}")
                medians.append(q2)
            line = f"  {metric:40s} " + " | ".join(cells)
            if spec:
                line += f"  (bound {spec['bound']}, {spec['better']} is better)"
                if len(medians) == 2 and None not in medians and medians[0]:
                    w = worse_by(medians[0], medians[1], spec["better"])
                    ok = abs(w) <= spec["bound"]
                    bad += not ok
                    line += f"  second {'worse' if w > 0 else 'better'} by {abs(w):.3f}: " + (
                        "agree" if ok else "DISAGREE")
            print(line)
        overhead = tracing_overhead([values.get(workload, {}) for values, _ in loaded])
        if overhead is not None:
            print(f"  tracing overhead: traced geometric-mean latency {overhead:+.1%} against untraced")
    return 1 if bad else 0


def tracing_overhead(sets: list[dict]) -> float | None:
    """Traced over untraced median latency, minus 1, when one set is
    traced and the other is not."""
    untraced = [s["query_geomean_ms"] for s in sets if s.get("query_geomean_ms")]
    traced = [s["trace.query_geomean_ms"] for s in sets if s.get("trace.query_geomean_ms")]
    if len(untraced) != 1 or len(traced) != 1:
        return None
    return statistics.median(traced[0]) / statistics.median(untraced[0]) - 1


def main(argv=None) -> int:
    args = sys.argv[1:] if argv is None else argv
    if len(args) not in (1, 2):
        print(__doc__, file=sys.stderr)
        return 2
    return report(args)


if __name__ == "__main__":
    sys.exit(main())
