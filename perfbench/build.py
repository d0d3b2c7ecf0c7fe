"""Build file of the benchmark: compiles the program's main sources and the
benchmark harness with the Scala compiler that ships with Spark.

The program is built from the checkout's own sources into
`.bench_build/classes`. A stamp over every source file's path and bytes
(plus the jar list) decides whether the previous build can be reused, so
only the first run in a checkout pays for compilation.

Run directly to build: `python3 perfbench/build.py`.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
BUILD_DIR = Path(".bench_build")

# What spark-submit would inject on JDK 17
# (org.apache.spark.launcher.JavaModuleOptions); the root build.sbt carries
# the same list for `sbt run`.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_MODULE_OPTS = [o for p in ADD_OPENS for o in ("--add-opens", f"{p}=ALL-UNNAMED")]


class BuildError(RuntimeError):
    pass


def jars_dir(root: Path) -> Path:
    """The Spark jar directory the root build declares as `unmanagedBase`."""
    build_sbt = root / "build.sbt"
    if not build_sbt.is_file():
        raise BuildError(f"no build.sbt in {root.resolve()}: not a checkout of the program")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', build_sbt.read_text())
    if m:
        d = Path(m.group(1))
    elif os.environ.get("SPARK_HOME"):
        d = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        raise BuildError("build.sbt declares no unmanagedBase and SPARK_HOME is unset")
    if not any(d.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler jar in {d}")
    return d


def sources(root: Path) -> list:
    main = root / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError(f"no program sources under {main}")
    files = sorted(main.rglob("*.scala")) + sorted((BENCH_DIR / "harness").glob("*.scala"))
    return files


def build(root: Path = Path(".")) -> str:
    """Compile if the sources changed; return the JVM classpath."""
    root = root.resolve()
    jars = jars_dir(root)
    srcs = sources(root)
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    h.update("\n".join(sorted(p.name for p in jars.glob("*.jar"))).encode())
    stamp = h.hexdigest()
    build_dir = root / BUILD_DIR
    classes = build_dir / "classes"
    stamp_file = build_dir / "classes.stamp"
    cp = f"{classes}{os.pathsep}{jars}/*"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp
    staging = build_dir / "classes.new"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    argfile = build_dir / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", str(staging),
           "-cp", f"{jars}/*", f"@{argfile}"]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=840)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + (r.stdout + r.stderr)[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    staging.rename(classes)
    stamp_file.write_text(stamp)
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(str(e))
