"""Build file of the benchmark: compiles the engine's main sources together
with the benchmark's own Scala sources into one class directory, next to a
copy of the engine's resources (its data-source registrations).

The Scala compiler and the Spark jars come from the jar directory the
engine's build.sbt declares (`unmanagedBase := file(...)`). Output goes under `.bench_build/` at the checkout root,
keyed by a hash of every source file, so an unchanged tree is not rebuilt.

    python3 perfbench/build.py        # prints the class directory
"""

import hashlib
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
ENGINE_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = BENCH / "src" / "main" / "scala"
BUILD_DIR = ROOT / ".bench_build" / "perfbench"

# JDK 17 module opens Spark needs outside spark-submit (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def jar_dir():
    """The directory of Spark (and Scala) jars the engine compiles against."""
    build_sbt = ROOT / "build.sbt"
    m = build_sbt.is_file() and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                                          build_sbt.read_text())
    if not m or not Path(m.group(1)).is_dir():
        raise BuildError(f"{build_sbt} declares no existing unmanagedBase jar directory")
    return Path(m.group(1))


def sources():
    if not ENGINE_SRC.is_dir():
        raise BuildError(f"engine sources missing: {ENGINE_SRC}")
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not any(f.is_relative_to(BENCH_SRC) for f in files):
        raise BuildError(f"benchmark sources missing: {BENCH_SRC}")
    resources = sorted(f for f in ENGINE_RES.rglob("*") if f.is_file())
    return files, resources


def ensure_built():
    """Compiles if needed and returns (class directory, jar directory)."""
    jars = jar_dir()
    files, resources = sources()
    h = hashlib.sha256()
    for f in files + resources:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update("\n".join(sorted(p.name for p in jars.glob("*.jar"))).encode())
    out = BUILD_DIR / h.hexdigest()[:16]
    if (out / "classes").is_dir():
        return out / "classes", jars
    if BUILD_DIR.exists():
        shutil.rmtree(BUILD_DIR)
    tmp = out / "tmp"
    classes = out / "classes.partial"
    classes.mkdir(parents=True)
    tmp.mkdir()
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", cp, "-d", str(classes)]
    cmd += [str(f) for f in files]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    for f in resources:
        dest = classes / f.relative_to(ENGINE_RES)
        dest.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(f, dest)
    classes.rename(out / "classes")
    shutil.rmtree(tmp)
    return out / "classes", jars


if __name__ == "__main__":
    try:
        print(ensure_built()[0])
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(2)
