"""Build file of the CDC benchmark.

Compiles the program (src/main/scala) together with the benchmark's own
sources (cdcbench/src) with the Scala compiler that ships with the Spark
jars the program builds against (build.sbt's unmanagedBase), into
<out>/classes. A stamp over every source file skips the compile when
nothing changed. Returns the runtime class path.

    python3 cdcbench/build.py        # build from the repository root
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_SRC = Path("cdcbench/src")
MAIN_SRC = Path("src/main/scala")
RESOURCES = Path("src/main/resources")


def spark_jars(root):
    """The jar directory build.sbt compiles against."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (root / "build.sbt").read_text())
    if m:
        return Path(m.group(1))
    if "SPARK_HOME" not in os.environ:
        raise SystemExit("cdcbench: build.sbt names no unmanagedBase and SPARK_HOME is unset")
    return Path(os.environ["SPARK_HOME"]) / "jars"


def sources(root):
    return sorted(p for d in (MAIN_SRC, BENCH_SRC) for p in (root / d).rglob("*.scala"))


def stamp(root, files):
    h = hashlib.sha256()
    for p in files + sorted((root / RESOURCES).rglob("*")) + [root / "build.sbt"]:
        if p.is_file():
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build(root, out):
    root, out = Path(root), Path(out)
    if not (root / MAIN_SRC).is_dir() or not (root / "build.sbt").is_file():
        raise SystemExit("cdcbench: run from the repository root (no src/main/scala or build.sbt here)")
    jars = spark_jars(root)
    files = sources(root)
    want = stamp(root, files)
    classes = out / "classes"
    stamp_file = out / "stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == want:
        return classpath(root, classes, jars)
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = out / "scalac.args"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}",
           "-cp", f"{jars}/*", "scala.tools.nsc.Main", "-nowarn",
           "-d", str(tmp), "-classpath", f"{jars}/*", f"@{argfile}"]
    print(f"cdcbench: compiling {len(files)} sources", file=sys.stderr)
    res = subprocess.run(cmd, cwd=root)
    argfile.unlink()
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("cdcbench: compile failed")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(want)
    return classpath(root, classes, jars)


def classpath(root, classes, jars):
    return os.pathsep.join([str(classes), str(root / RESOURCES), f"{jars}/*"])


if __name__ == "__main__":
    print(build(Path.cwd(), Path.cwd() / ".bench_build" / "cdcbench"))
