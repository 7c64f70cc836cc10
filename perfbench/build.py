#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
harness (perfbench/src) with the Scala compiler that ships in Spark's jars
directory, into .bench_build/perfbench/classes-<source hash>/.

    python3 perfbench/build.py        # prints the classes directory

A build whose sources are unchanged is reused. It compiles against the
Spark jars the sbt build names (build.sbt's unmanagedBase), or against
$SPARK_HOME/jars when that is set; nothing is downloaded.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "perfbench"


def spark_jars():
    if "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      sbt.read_text() if sbt.exists() else "")
        if not m:
            raise SystemExit("build: no SPARK_HOME and no unmanagedBase in build.sbt")
        jars = Path(m.group(1))
    if not glob.glob(str(jars / "scala-compiler-*.jar")):
        raise SystemExit(f"build: no Scala compiler under {jars}")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def sources():
    engine = sorted(ROOT.glob("src/main/scala/**/*.scala"))
    harness = sorted(ROOT.glob("perfbench/src/**/*.scala"))
    if not engine:
        raise SystemExit("build: no engine sources under src/main/scala")
    if not harness:
        raise SystemExit("build: no harness sources under perfbench/src")
    return engine + harness


def ensure_built():
    """Return the classes directory, compiling first if sources changed."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update(" ".join(sorted(os.path.basename(j) for j in glob.glob(str(jars / "*.jar")))).encode())
    classes = OUT / f"classes-{h.hexdigest()[:16]}"
    if (classes / "BUILD_OK").exists():
        return classes
    OUT.mkdir(parents=True, exist_ok=True)
    for old in OUT.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp = OUT / "classes.partial"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = str(jars / "*")
    cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"]
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    (tmp / "BUILD_OK").write_text("ok\n")
    tmp.rename(classes)
    return classes


if __name__ == "__main__":
    print(ensure_built())
