"""Build file of the benchmark: compiles the program's sources together
with the harness (`perfbench/src`) into one class directory, with the
Scala compiler and Spark jars of the installed Spark distribution.

    python3 perfbench/build.py        # from the repository root

The build is skipped when a class directory stamped with the same source
hash exists.
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build" / "perfbench"
CLASSES = BUILD / "classes"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars" if home else None
    if not jars or not any(jars.glob("spark-core_*.jar")):
        raise SystemExit("perfbench: no Spark distribution found (set SPARK_HOME)")
    return jars


def sources():
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        raise SystemExit(f"perfbench: program sources missing under {program}")
    files = sorted(program.rglob("*.scala")) + sorted((ROOT / "perfbench" / "src").glob("*.scala"))
    return files


def classpath():
    return f"{CLASSES}{os.pathsep}{spark_jars()}/*"


def build():
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = BUILD / "classes.stamp"
    if CLASSES.is_dir() and stamp.exists() and stamp.read_text() == h.hexdigest():
        return
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", f"{spark_jars()}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp)] + [str(f) for f in files]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("perfbench: compilation failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    stamp.write_text(h.hexdigest())


if __name__ == "__main__":
    build()
