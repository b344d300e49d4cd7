"""Run the benchmark over several seeds and keep each run's result.

    python3 perfbench/runset.py --out runs/a --runs 10 --seed-base 100 \
        [--workload window_mix ...] [--trace 0]

Runs one ``run.py`` process at a time (the benchmark assumes the
machine to itself), each with the ``run_seconds`` from BENCHMARK.json,
and writes ``<workload>__seed<n>.json`` (the result line) and
``.log`` (the full output) under ``--out``. Compare two such
directories with ``compare.py``.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main(argv=None) -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed-base", type=int, default=1)
    ap.add_argument("--workload", action="append", choices=names)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    out = Path(args.out)
    out.mkdir(parents=True, exist_ok=True)
    failed = 0
    for name in args.workload or names:
        for i in range(args.runs):
            seed = args.seed_base + i
            cmd = [*bench["command"], "--workload", name, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            stem = out / f"{name}__seed{seed}"
            stem.with_suffix(".log").write_text(proc.stdout + proc.stderr[-20000:])
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{name} seed {seed}: exit {proc.returncode}", file=sys.stderr)
                failed += 1
                continue
            stem.with_suffix(".json").write_text(lines[-1] + "\n")
            print(f"{name} seed {seed}: {lines[-1]}", flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
