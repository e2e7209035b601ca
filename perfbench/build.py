"""Build file of the benchmark: compiles graft's main sources and the
harness in perfbench/src into one class directory with the Scala
compiler that ships with Spark (no sbt, so the build writes nothing
outside the build directory).

    python3 perfbench/build.py [CLASSES_DIR]   # default .bench_build/classes

Spark's jars are taken from $SPARK_HOME/jars, else from the
`unmanagedBase` the repo's build.sbt names. The class directory is
reused while no source file changes."""
import hashlib
import os
import re
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise SystemExit("perfbench: no Spark jars (set SPARK_HOME)")


def sources():
    graft = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not graft:
        raise SystemExit("perfbench: graft sources not found under src/main/scala")
    return graft + sorted((HERE / "src").rglob("*.scala"))


def build(build_dir):
    """Compiles when needed; returns the classpath for running."""
    jars = spark_jars()
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    key = digest.hexdigest()[:16]
    classes = Path(build_dir) / f"classes-{key}"
    cp = f"{classes}{os.pathsep}{jars}/*"
    if (classes / ".done").exists():
        return cp, key
    classes.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(classes)] + [str(p) for p in srcs]
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout + r.stderr)
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    (classes / ".done").write_text(key)
    return cp, key


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else ROOT / ".bench_build" / "classes")[0])
