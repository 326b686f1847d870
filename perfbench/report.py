"""Per-layer report of one workload: one untraced and two traced runs at
the same seed.

    python3 perfbench/report.py --workload upsert_stream [--seed 1]

Run from the repository root. Prints (and saves under .bench_build/) a
markdown report with every per-layer metric of both traced runs, whether
it repeated exactly, the end-to-end metrics traced vs untraced (the
difference is the tracing overhead), and how the write operations' wall
time splits into Spark jobs per module, driver time, and sampled time
per module.
"""

import argparse
import json
import pathlib
import re
import subprocess
import sys


def one_run(root, bench, workload, seed, trace):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, text=True).stdout
    m = re.search(r"record=(\S+)", out)
    if not m:
        raise SystemExit(f"no run record in output:\n{out}")
    rec = json.loads((root / m.group(1)).read_text())
    if not rec["result"]:
        raise SystemExit(f"run failed: {m.group(1)}")
    return rec


def main():
    root = pathlib.Path.cwd()
    bench = json.loads((root / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()

    plain = one_run(root, bench, a.workload, a.seed, 0)["result"]
    t1 = one_run(root, bench, a.workload, a.seed, 1)["result"]
    t2 = one_run(root, bench, a.workload, a.seed, 1)["result"]
    lines = [f"# perfbench report: {a.workload}, seed {a.seed}", "",
             f"gates: untraced correct={plain['correct']} failed={plain['failed']}/"
             f"{plain['attempted']}; traced correct={t1['correct']}/{t2['correct']}", "",
             "## End to end, untraced vs traced (tracing overhead)", "",
             "| metric | untraced | traced | overhead |", "|---|---|---|---|"]
    for k, m in plain["e2e"].items():
        u, t = m["value"], t1["e2e"][k]["value"]
        lines.append(f"| {k} ({m['unit']}) | {u:.6g} | {t:.6g} | {(t - u) / u:+.1%} |")
    lines += ["", "## Per layer (traced runs 1 and 2)", "",
              "| metric | unit | run 1 | run 2 | repeats exactly |", "|---|---|---|---|---|"]
    for m in bench["per_layer"]:
        k = m["name"]
        v1, v2 = t1["layers"][k]["value"], t2["layers"][k]["value"]
        if v1 == 0 and v2 == 0:
            continue
        lines.append(f"| {k} | {m['unit']} | {v1:.6g} | {v2:.6g} | {'yes' if v1 == v2 else 'no'} |")
    lay = t1["layers"]
    wall = lay["flush.wall_ms_mean"]["value"]
    if wall > 0:
        parts = {k: lay[k]["value"] for k in
                 ("wh.job_ms_per_flush", "streaming.job_ms_per_flush", "wh.driver_ms_per_flush")}
        lines += ["", "## Where a write operation's wall time goes (traced run 1)", "",
                  f"mean wall {wall:.1f} ms = " +
                  " + ".join(f"{k} {v:.1f}" for k, v in parts.items()) +
                  f" = {sum(parts.values()):.1f} ms (jobs are sequential on the client thread)",
                  "", "sampled time per module: " + ", ".join(
                      f"{k.split('.')[1].removesuffix('_ms_per_op')} {lay[k]['value']:.1f} ms"
                      for k in lay if k.startswith("time.") and lay[k]["value"] > 0) +
                  f"; accounted share {lay['flush.accounted_share']['value']:.3f}"]
    lines += ["", "Layer metrics that read 0 in both traced runs (layers this workload "
              "does not exercise) are omitted."]
    text = "\n".join(lines) + "\n"
    out = root / ".bench_build" / f"report-{a.workload}-s{a.seed}.md"
    out.write_text(text)
    print(text)
    print(f"saved {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
