"""Build file of the benchmark package.

Compiles the engine's sources (src/main/scala) together with the
benchmark's own Scala sources (perfbench/scala) into
<checkout>/.bench_build/classes, using the Scala compiler that ships in
Spark's jars directory. A stamp of the source contents skips the compile
when nothing changed.

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def java():
    home = os.environ.get("JAVA_HOME")
    exe = pathlib.Path(home) / "bin" / "java" if home else None
    if exe and exe.is_file():
        return str(exe)
    found = shutil.which("java")
    if not found:
        fail("no java on PATH and no JAVA_HOME")
    return found


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(pathlib.Path(os.environ["SPARK_HOME"]) / "jars")
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(pathlib.Path(submit).resolve().parent.parent / "jars")
    for c in candidates:
        if any(c.glob("spark-sql_*.jar")) and any(c.glob("scala-compiler-*.jar")):
            return c
    fail("no Spark jars directory with a Scala compiler (set SPARK_HOME)")


def sources():
    engine = ROOT / "src" / "main" / "scala"
    bench = ROOT / "perfbench" / "scala"
    if not engine.is_dir():
        fail(f"engine sources not found: {engine.relative_to(ROOT)}")
    found = sorted(engine.rglob("*.scala")) + sorted(bench.rglob("*.scala"))
    if not found:
        fail("no Scala sources to build")
    return found


def build():
    """Returns the classes directory, compiling first if sources changed."""
    srcs = sources()
    jars = spark_jars()
    digest = hashlib.sha256()
    for f in srcs:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    digest = digest.hexdigest()
    classes = OUT / "classes"
    stamp = OUT / "classes.stamp"
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == digest:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in srcs) + "\n")
    cp = f"{jars}/*"
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", str(classes), f"@{argfile}"]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    rc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode
    if rc != 0:
        shutil.rmtree(classes, ignore_errors=True)
        fail(f"compile failed (exit {rc})")
    stamp.write_text(digest)
    return classes


if __name__ == "__main__":
    print(build())
