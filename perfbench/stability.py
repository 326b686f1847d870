"""Run-to-run spread of the end-to-end metrics, as the acceptance check
computes it: for each workload, one run per seed; for each metric, the
distance between the first and third quartile of the values as a share
of their median (statistics.quantiles(values, n=4)).

    python3 perfbench/stability.py --runs 10 [--workloads upsert_stream]

Run from the repository root. Prints one line per run (with the CPU
time the host took from the machine meanwhile), then one line per
(workload, metric) with median, spread, bound and whether the spread is
under a third of the bound, and writes the values to .bench_build/stability-<time>.json.
"""

import argparse
import json
import pathlib
import re
import statistics
import subprocess
import sys
import time


def main():
    root = pathlib.Path.cwd()
    bench = json.loads((root / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values = {}
    failures = []
    for w in a.workloads.split(","):
        for seed in range(a.first_seed, a.first_seed + a.runs):
            cmd = bench["command"] + ["--workload", w, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            t0 = time.monotonic()
            r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, text=True)
            wall = time.monotonic() - t0
            last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else "{}"
            res = json.loads(last)
            ok = r.returncode == 0 and res.get("correct") and res.get("failed") == 0
            # CPU time the host took during the run (run.py reports it): a
            # few seconds is normal, tens of seconds slows the whole run
            steal = re.search(r" steal=(\S+)s ", r.stdout)
            print(f"{w} seed={seed} exit={r.returncode} wall={wall:.1f}s "
                  f"steal={steal.group(1) if steal else '?'}s correct={res.get('correct')} "
                  f"failed={res.get('failed')}/{res.get('attempted')} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in res.get("metrics", {}).items()),
                  flush=True)
            if not ok:
                failures.append((w, seed))
            for k, v in res.get("metrics", {}).items():
                values.setdefault(w, {}).setdefault(k, []).append(v["value"])
            values.setdefault(w, {}).setdefault("_wall_s", []).append(wall)
    print()
    worst = 0.0
    for w, ms in values.items():
        for k, xs in ms.items():
            if k.startswith("_") or len(xs) < 4:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            b = bounds.get(k)
            if k != "setup_s":
                worst = max(worst, spread / b)
            print(f"{w:14s} {k:12s} median={med:<12.5g} spread={spread:6.3f} bound={b} "
                  f"{'ok' if spread < b / 3 else 'WIDE'}")
        print(f"{w:14s} run wall median={statistics.median(ms['_wall_s']):.1f}s "
              f"max={max(ms['_wall_s']):.1f}s")
    out = root / ".bench_build" / f"stability-{time.strftime('%Y%m%dT%H%M%S')}.json"
    out.write_text(json.dumps({"values": values, "failures": failures}, indent=1))
    print(f"worst spread/bound (setup_s excluded): {worst:.3f}; failures: {failures}; {out}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
