"""Run two sets of benchmark runs of the same code and compare them.

    python3 perfbench/compare.py --workload catalog_queries --runs 10

Each set runs the workload ``--runs`` times, each time with another seed
(set 1 uses seeds ``--first-seed`` onwards, set 2 the next ``--runs`` seeds),
for the ``run_seconds`` in BENCHMARK.json. For every end-to-end metric it
prints each set's median and spread (inter-quartile distance as a share of
the median) and how much worse set 2's median is than set 1's, next to the
metric's bound. It also prints
each set's share of failed operations and its host-speed loop range. The raw
results go to ``.perfbench_out/compare_<workload>.json``. Run from the root
of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench.stats import spread, worse_by  # noqa: E402


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, dict]:
    """(info, result) of one run of perfbench/run.py."""
    proc = subprocess.run(
        [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"run failed (exit {proc.returncode}): {proc.stderr[-2000:]}")
    return json.loads(lines[-2])["info"], json.loads(lines[-1])


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args(argv)
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m for m in bench["end_to_end"]}

    sets = []
    for s in range(2):
        runs = []
        for i in range(args.runs):
            seed = args.first_seed + s * args.runs + i
            t0 = time.monotonic()
            info, res = run_once(args.workload, seed, bench["run_seconds"])
            runs.append({"seed": seed, "wall_s": time.monotonic() - t0, "info": info, "result": res})
            vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
            print(f"set {s + 1} seed {seed}: {vals}", file=sys.stderr, flush=True)
        sets.append(runs)
    os.makedirs(ROOT / ".perfbench_out", exist_ok=True)
    (ROOT / ".perfbench_out" / f"compare_{args.workload}.json").write_text(json.dumps(sets, indent=1))

    print(f"{args.workload}: 2 sets of {args.runs} runs, {bench['run_seconds']} s each")
    for name, m in bounds.items():
        cols = []
        meds = []
        for runs in sets:
            vals = [r["result"]["metrics"][name]["value"] for r in runs]
            meds.append(statistics.median(vals))
            sp = spread(vals) if len(vals) >= 2 else 0.0
            cols.append(f"median {meds[-1]:.4g} spread {sp:.3f}")
        w = worse_by(meds[0], meds[1], m["better"])
        print(f"  {name:13s} bound {m['bound']:.2f} | " + " | ".join(cols)
              + f" | set 2 worse by {w:+.3f} ({'ok' if w <= m['bound'] else 'OVER'})")
    for i, runs in enumerate(sets):
        att = sum(r["result"]["attempted"] for r in runs)
        fail = sum(r["result"]["failed"] for r in runs)
        loops = [x for r in runs for x in r["info"]["host_loop_s"].values()]
        wall = [r["wall_s"] for r in runs]
        print(f"  set {i + 1}: failed {fail}/{att}, correct {all(r['result']['correct'] for r in runs)},"
              f" host loop {min(loops):.3f}-{max(loops):.3f} s,"
              f" run wall median {statistics.median(wall):.1f} s (max {max(wall):.1f} s)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
