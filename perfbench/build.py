#!/usr/bin/env python3
"""Build file of the benchmark package: compiles graft's main sources
together with the benchmark harness (perfbench/harness/*.scala) into one
class directory, with the Scala compiler that ships among Spark's jars.

Usage: python3 perfbench/build.py      (prints the class directory)

The output lives under .perfbench/build/<hash of every source>, so an
unchanged tree is compiled once and a changed one is never run stale.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD_DIR = ROOT / ".perfbench" / "build"


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"perfbench: no program sources at {main.relative_to(ROOT)}")
    files = sorted(main.rglob("*.scala")) + sorted((HERE / "harness").glob("*.scala"))
    return files


def classpath():
    """Spark's jars, from SPARK_HOME or else where the program's own build
    (build.sbt's unmanagedBase) takes them."""
    if "SPARK_HOME" in os.environ:
        return str(Path(os.environ["SPARK_HOME"]) / "jars" / "*")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME; build.sbt names no unmanagedBase")
    return str(Path(m.group(1)) / "*")


def build():
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = BUILD_DIR / h.hexdigest()[:16]
    if (out / "DONE").exists():
        return out
    BUILD_DIR.mkdir(parents=True, exist_ok=True)
    tmp = Path(tempfile.mkdtemp(prefix="tmp-", dir=BUILD_DIR))
    try:
        cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", classpath(),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp)] + [str(f) for f in files]
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-8000:])
            raise SystemExit("perfbench: compilation failed")
        (tmp / "DONE").write_text("ok\n")
        if out.exists():
            shutil.rmtree(out)
        tmp.rename(out)
    finally:
        if tmp.exists():
            shutil.rmtree(tmp)
    return out


if __name__ == "__main__":
    print(build())
