"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark harness (perfbench/harness) with the Scala compiler that ships in
Spark's jars directory, into .bench_build/<source hash>/classes.

A build is reused while no source file changes. Usage:
    python3 perfbench/build.py        # prints the classes directory
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"


def spark_jars() -> Path:
    """Spark's jars: the engine's classpath and the Scala compiler."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise SystemExit("build: set SPARK_HOME to the Spark installation")
    return Path(home) / "jars"


def sources() -> list:
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not engine:
        raise SystemExit(f"build: no engine sources under {ROOT}/src/main/scala")
    return engine + sorted((ROOT / "perfbench" / "harness").glob("*.scala"))


def source_hash() -> str:
    """Hash of every source file the build compiles (path and content)."""
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    return h.hexdigest()[:16]


def build() -> Path:
    srcs = sources()
    out = BUILD / source_hash()
    classes = out / "classes"
    BUILD.mkdir(exist_ok=True)
    with open(BUILD / "lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if (out / "OK").exists():
            return classes
        shutil.rmtree(out, ignore_errors=True)
        classes.mkdir(parents=True)
        args = out / "sources.txt"
        args.write_text("\n".join(str(f) for f in srcs))
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{spark_jars()}/*",
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
               "-d", str(classes), f"@{args}"]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True)
        if r.returncode != 0:
            shutil.rmtree(out, ignore_errors=True)
            raise SystemExit("build: scalac failed\n" + r.stdout[-4000:])
        (out / "OK").write_text("")
        return classes


if __name__ == "__main__":
    print(build())
    sys.exit(0)
