"""Run-to-run spread of the benchmark: runs ``run.py`` once per seed and
workload, then prints each end-to-end metric's median, quartiles and
spread (quartile distance over median) against a third of its bound.
With ``--traced`` every seed is also run with ``--trace 1`` and the
tracing overhead (traced CPU time over untraced CPU time, minus one) is
printed.

    python3 perfbench/spread.py --seeds 1-10 [--workloads kg_build] [--traced]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    """One benchmark process; its result with ``process_s``, the process's
    wall time, added."""
    t0 = time.perf_counter()
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=os.path.dirname(HERE), stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL, text=True, check=True, timeout=180)
    res = json.loads(out.stdout.strip().splitlines()[-1])
    res["process_s"] = time.perf_counter() - t0
    return res


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    sys.path.insert(0, HERE)
    from run import END_TO_END, RUN_SECONDS, WORKLOADS
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10", type=_seeds)
    ap.add_argument("--workloads", nargs="*", default=list(WORKLOADS))
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()
    bounds = {n: b for n, _, _, b in END_TO_END}
    ok = True
    for w in args.workloads:
        runs, traced = [], []
        for s in args.seeds:
            r = run_once(w, s, RUN_SECONDS, 0)
            runs.append(r)
            print(f"{w} seed {s}: correct={r['correct']} failed={r['failed']}/"
                  f"{r['attempted']} process {r['process_s']:.1f}s " + " ".join(
                      f"{n}={m['value']:.4g}" for n, m in r["metrics"].items()),
                  flush=True)
            if args.traced:
                t = run_once(w, s, RUN_SECONDS, 1)
                traced.append(t["metrics"]["trace.cpu_s"]["value"]
                              / r["metrics"]["cpu_s"]["value"] - 1)
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in runs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            spread = (q3 - q1) / med if med else float("inf")
            good = name == "setup_s" or spread <= bound / 3
            ok &= good
            print(f"  {w} {name:30s} median {med:12.5g}  q1 {q1:12.5g}  "
                  f"q3 {q3:12.5g}  spread {spread:7.4f}  bound/3 {bound / 3:.4f}"
                  f"{'' if good else '  <-- too wide'}")
        if traced:
            print(f"  {w} tracing overhead: median {statistics.median(traced):+.4f} "
                  f"(per seed: {', '.join(f'{x:+.3f}' for x in traced)})")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
