"""Build file of the benchmark package: compiles the engine (src/main/scala)
and the benchmark (perfbench/src) with the Scala compiler that ships with
Spark, into .bench_build/perfbench/classes at the checkout root.

The build is skipped when a stamp over every source file, the compiler
options and the Spark jar names matches the last build.

    python3 perfbench/build.py      # build (or confirm up to date), print the classpath
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = ROOT / "perfbench" / "src"
OUT = ROOT / ".bench_build" / "perfbench"
SCALAC_OPTS = ["-nowarn", "-release", "17"]


def spark_jars() -> pathlib.Path:
    """$SPARK_HOME/jars, else the jars next to the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = pathlib.Path(shutil.which("spark-submit")).resolve().parent.parent
    jars = pathlib.Path(home or ".") / "jars"
    if not home or not jars.is_dir():
        sys.exit(f"perfbench: no Spark jars found (set SPARK_HOME); looked in {jars}")
    return jars


def sources() -> list:
    if not ENGINE_SRC.is_dir():
        sys.exit(f"perfbench: engine sources missing ({ENGINE_SRC.relative_to(ROOT)}); "
                 "run from a full checkout of the repository")
    found = sorted(ENGINE_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not found:
        sys.exit("perfbench: no Scala sources found")
    return found


def stamp(files: list, jars: pathlib.Path) -> str:
    h = hashlib.sha256()
    h.update(" ".join(SCALAC_OPTS).encode())
    h.update("\n".join(sorted(p.name for p in jars.glob("*.jar"))).encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build() -> str:
    """Compile if stale; return the runtime classpath."""
    jars = spark_jars()
    files = sources()
    classes = OUT / "classes"
    classpath = f"{classes}{os.pathsep}{jars}/*"
    want = stamp(files, jars)
    stamp_file = OUT / "stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == want:
        return classpath
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    print(f"perfbench: compiling {len(files)} Scala files", file=sys.stderr, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           *SCALAC_OPTS, "-d", str(tmp), "-classpath", f"{jars}/*", f"@{argfile}"]
    result = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if result.returncode != 0:
        sys.exit(f"perfbench: compilation failed (exit {result.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(want)
    return classpath


if __name__ == "__main__":
    print(build())
