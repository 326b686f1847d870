"""Build file of the benchmark: compiles the program (src/main) and the
harness (perfbench/src) with the Scala compiler shipped among the Spark
jars, straight into .bench_build/classes. No sbt, so no build-tool
start-up or global caches; a stamp over every source skips rebuilds.

    python3 perfbench/build.py        # from the repository root
"""

import fcntl
import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


def spark_jars(root):
    """Directory of the Spark jars: $SPARK_HOME/jars, else the
    unmanagedBase that build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and (pathlib.Path(home) / "jars").is_dir():
        return pathlib.Path(home) / "jars"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  (root / "build.sbt").read_text())
    if not m or not pathlib.Path(m.group(1)).is_dir():
        raise SystemExit("perfbench: cannot locate the Spark jars "
                         "(set SPARK_HOME or unmanagedBase in build.sbt)")
    return pathlib.Path(m.group(1))


def _sources(root):
    main = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((root / "perfbench" / "src").rglob("*.scala"))
    resources = sorted(p for p in (root / "src" / "main" / "resources").rglob("*")
                       if p.is_file())
    return main + bench, resources


def _stamp(root, files):
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(root)).encode())
        h.update(b"\0")
        h.update(p.read_bytes())
    return h.hexdigest()


def build(root, log=sys.stderr):
    """Compile if any source changed; returns (classes dir, jars dir,
    source stamp)."""
    root = pathlib.Path(root)
    if not (root / "src" / "main" / "scala").is_dir():
        raise SystemExit("perfbench: no src/main/scala here; run from the repository root")
    jars = spark_jars(root)
    bdir = root / BUILD_DIR
    bdir.mkdir(exist_ok=True)
    classes = bdir / "classes"
    sources, resources = _sources(root)
    stamp = _stamp(root, sources + resources)
    with open(bdir / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = bdir / "classes.stamp"
        if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
            return classes, jars, stamp
        if classes.exists():
            shutil.rmtree(classes)
        classes.mkdir()
        argfile = bdir / "sources.txt"
        argfile.write_text("\n".join(str(p) for p in sources) + "\n")
        print(f"perfbench: compiling {len(sources)} sources", file=log, flush=True)
        cp = f"{jars}/*"
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={bdir}",
             "-cp", cp, "scala.tools.nsc.Main",
             "-nowarn", "-d", str(classes), "-classpath", cp, f"@{argfile}"],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            print(r.stdout[-4000:], file=log)
            raise SystemExit(f"perfbench: compilation failed ({r.returncode})")
        res_root = root / "src" / "main" / "resources"
        for p in resources:
            dst = classes / p.relative_to(res_root)
            dst.parent.mkdir(parents=True, exist_ok=True)
            shutil.copyfile(p, dst)
        stamp_file.write_text(stamp)
        return classes, jars, stamp


if __name__ == "__main__":
    c, _, s = build(pathlib.Path.cwd())
    print(f"{c} {s[:12]}")
