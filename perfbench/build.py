"""Build file of the benchmark: compiles the engine (`src/main/scala`)
and the benchmark harness (`perfbench/src`) with the Scala compiler
that ships among the repository's Spark jars, into `<out>/classes`.

The output directory is `$CARGO_TARGET_DIR` when set, else
`.bench_build`, relative to the checkout root. A content hash of every
source file skips the compile when nothing changed.

Usage: python3 perfbench/build.py
"""
import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def out_dir():
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_jars():
    """The jar directory the repository's own build compiles against
    (`unmanagedBase` in build.sbt); it also ships the Scala compiler."""
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if not m:
        sys.exit("build: build.sbt names no unmanagedBase jar directory")
    jars = Path(m.group(1))
    if not list(jars.glob("scala-compiler-*.jar")):
        sys.exit(f"build: no Scala compiler among the jars in {jars}")
    return jars


def sources():
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not engine:
        sys.exit("build: no engine sources under src/main/scala")
    return engine + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))


def ensure():
    """Returns the classpath of the built benchmark, compiling if needed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    out = out_dir()
    out.mkdir(parents=True, exist_ok=True)
    classes = out / "classes"
    with open(out / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if (classes / ".stamp").exists() and (classes / ".stamp").read_text() == stamp:
            return f"{classes}:{jars}/*"
        tmp = out / "classes.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir()
        cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
               "-nowarn", "-d", str(tmp), "-classpath", f"{jars}/*"] + [str(p) for p in srcs]
        rc = subprocess.run(cmd, stdout=sys.stderr).returncode
        if rc != 0:
            sys.exit(f"build: scalac failed with exit code {rc}")
        (tmp / ".stamp").write_text(stamp)
        shutil.rmtree(classes, ignore_errors=True)
        tmp.rename(classes)
    return f"{classes}:{jars}/*"


if __name__ == "__main__":
    print(ensure())
