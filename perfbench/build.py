#!/usr/bin/env python3
"""Build the benchmark: compile the engine (src/main/scala) together with
the benchmark sources (perfbench/src) into .bench_build/classes with the
Scala compiler that ships in Spark's jars directory.

    python3 perfbench/build.py        # from the repository root

A stamp over every source file skips the compile when nothing changed.
Exits non-zero when the engine sources are missing or do not compile.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]


def spark_jars() -> Path:
    """Spark's jars directory: $SPARK_HOME/jars, else the first one beside
    a spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        Path(d).resolve().parent for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and (Path(d) / "spark-submit").is_file()]
    for home in homes:
        if home and (Path(home) / "jars").is_dir():
            return Path(home) / "jars"
    raise SystemExit("perfbench: no Spark jars directory (set SPARK_HOME)")


def sources() -> list:
    files = []
    for d in SOURCE_DIRS:
        if not d.is_dir():
            raise SystemExit(f"perfbench: missing source directory {d.relative_to(ROOT)}")
        files += sorted(p for p in d.rglob("*.scala") if p.is_file())
    return files


def digest(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build() -> tuple:
    """Compile if needed; returns (classes dir, source digest)."""
    files = sources()
    stamp = digest(files)
    classes = OUT / "classes"
    stamp_file = OUT / "stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp and classes.is_dir():
        return classes, stamp
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    cp = str(spark_jars() / "*")
    args_file = OUT / "sources.txt"
    args_file.write_text("\n".join(str(f) for f in files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", str(classes), f"@{args_file}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("perfbench: compile failed")
    stamp_file.write_text(stamp)
    return classes, stamp


if __name__ == "__main__":
    out, stamp = build()
    print(f"built {out.relative_to(ROOT)} (sources {stamp})")
