"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload upsert_stream --seed 1 --seconds 30 --trace 0

Run from the repository root. The first run compiles the program (see
build.py). Each run then starts one JVM directly on the compiled
classpath, gives it a fresh directory under .bench_build/runs for its
table, checkpoint, Spark scratch space and temp files, enforces a hard
deadline on it, and removes the directory afterwards. The last stdout
line is {"correct", "attempted", "failed", "metrics"}: end-to-end
metrics with --trace 0, per-layer metrics with --trace 1. The full
record, with provenance, is kept under .bench_build/results.
"""

import argparse
import json
import math
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import threading
import time
import uuid

sys.dont_write_bytecode = True
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("upsert_stream", "curation_1x")
# Past this the child is killed and the run recorded as failed; it
# stays under the 180 s a run may take once the build is done.
DEADLINE_S = 170
# Spark 4 on JDK 17 outside spark-submit needs these (the same list
# build.sbt passes to forked tests).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cores():
    return len(os.sched_getaffinity(0))


def heap_gb(n):
    return min(8, max(4, n))


def cpu_steal_s():
    """Seconds of CPU time the host took from this machine's CPUs since
    boot (the steal column of /proc/stat); None where not reported."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def git_rev(root):
    if not (root / ".git").exists():
        return None
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=10)
        return r.stdout.strip() or None if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_child(cmd, cwd, log_path, deadline_s):
    """Run the measuring JVM in its own process group. Its output is
    drained on a separate thread so the deadline is enforced by wait(),
    never by a blocking read; past the deadline the whole group is
    killed and reaped. Returns (exit code or None on timeout, seconds)."""
    t0 = time.monotonic()
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE,
                                stderr=log, start_new_session=True)

        def drain():
            for line in proc.stdout:
                log.write(line)

        def stop(signum, _frame):
            # the child runs in its own session: take it down with us
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(128 + signum)

        handlers = {s: signal.signal(s, stop)
                    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP)}
        reader = threading.Thread(target=drain, daemon=True)
        reader.start()
        try:
            code = proc.wait(timeout=deadline_s)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            reader.join(timeout=10)
            for s, h in handlers.items():
                signal.signal(s, h)
    return code, time.monotonic() - t0


def finite(v):
    return isinstance(v, (int, float)) and not isinstance(v, bool) and math.isfinite(v)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("selftest",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-expected", action="store_true",
                    help="curation_1x: record the outputs' hashes as the expected values")
    a = ap.parse_args(argv)

    root = pathlib.Path.cwd()
    bench = root / "perfbench"
    if not (root / "src" / "main" / "scala").is_dir() or not (root / "build.sbt").is_file():
        print("perfbench: run from the root of a graft checkout", file=sys.stderr)
        return 2
    load_before = os.getloadavg()
    classes, jars, stamp = build.build(root)

    bdir = root / build.BUILD_DIR
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{uuid.uuid4().hex[:6]}"
    run_dir = bdir / "runs" / run_id
    (run_dir / "tmp").mkdir(parents=True)
    n = cores()
    heap = heap_gb(n)
    out = run_dir / "result.json"
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{heap}g", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
            "-cp", f"{classes}:{jars}/*", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(n), "--run-dir", str(run_dir),
            "--data-dir", str(bench / "data"),
            "--expected", str(bench / "expected" / "curation_1x.tsv"),
            "--out", str(out), "--write-expected", "1" if a.write_expected else "0"])
    log_path = bdir / "logs" / f"{run_id}.log"
    log_path.parent.mkdir(exist_ok=True)
    steal_before = cpu_steal_s()
    try:
        code, wall = run_child(cmd, run_dir, log_path, DEADLINE_S)
        child = json.loads(out.read_text()) if code == 0 and out.is_file() else None
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    load_after = os.getloadavg()
    steal_after = cpu_steal_s()
    steal = None if None in (steal_before, steal_after) else round(steal_after - steal_before, 2)

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "git_rev": git_rev(root), "source_sha256": stamp, "nproc": n, "heap_gb": heap,
        "loadavg_before": load_before, "loadavg_after": load_after, "cpu_steal_s": steal,
        "child_exit": code, "child_wall_s": round(wall, 3), "log": str(log_path.relative_to(root)),
        "result": child,
    }
    results = bdir / "results"
    results.mkdir(exist_ok=True)
    (results / f"{run_id}.json").write_text(json.dumps(record, indent=1))
    print(f"perfbench: {a.workload} seed={a.seed} trace={a.trace} rev={record['git_rev']} "
          f"src={stamp[:12]} nproc={n} heap={heap}g loadavg={load_before[0]:.2f}->"
          f"{load_after[0]:.2f} steal={steal}s child_wall={wall:.1f}s record=.bench_build/results/{run_id}.json")

    if child is None:
        why = "deadline passed, killed" if code is None else f"exit code {code}"
        print(f"perfbench: run failed ({why}); see {log_path}", file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1
    if a.workload == "selftest":
        print(json.dumps({k: child[k] for k in ("correct", "attempted", "failed")} |
                         {"metrics": {}, "info": child["info"]}))
        return 0 if child["correct"] else 1
    metrics = child["layers"] if a.trace else child["e2e"]
    bad = [k for k, m in metrics.items() if not finite(m["value"]) or
           (not a.trace and m["value"] <= 0)]
    if bad:
        print(f"perfbench: metrics without a measured value: {bad}", file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": child["attempted"],
                          "failed": max(1, child["failed"]), "metrics": {}}))
        return 1
    print(json.dumps({"correct": child["correct"], "attempted": child["attempted"],
                      "failed": child["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
