"""Build file of the benchmark package.

Compiles the engine sources (`src/main/scala` at the repository root) and
the benchmark's own sources (`perfbench/src`) into one class directory with
the Scala compiler that ships among the Spark jars. No sbt, no network: the
jar directory is `$SPARK_HOME/jars`, or the `unmanagedBase` the root
`build.sbt` names. A stamp of the sources' hash skips unchanged rebuilds.

    python3 perfbench/build.py      # prints the run classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
OUT = ROOT / ".bench_build"


def jar_dir() -> Path:
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise SystemExit("perfbench: no Spark jar directory (set SPARK_HOME)")


def sources() -> list:
    if not ENGINE_SRC.is_dir():
        raise SystemExit(f"perfbench: engine sources not found under {ENGINE_SRC}")
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    if not files:
        raise SystemExit("perfbench: no Scala sources")
    return files


def build() -> str:
    """Compile if the sources changed; return the run classpath."""
    jars = jar_dir()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    classes = OUT / "classes"
    stamp_file = OUT / "classes.stamp"
    if not (stamp_file.is_file() and stamp_file.read_text() == stamp and classes.is_dir()):
        tmp = OUT / "classes.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
        cmd = ["java", "-Xmx2g", "-Xss4m", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
               "-usejavacp", "-nowarn", "-d", str(tmp)] + [str(f) for f in srcs]
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=850)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise SystemExit(f"perfbench: compile failed ({r.returncode})")
        shutil.rmtree(classes, ignore_errors=True)
        tmp.rename(classes)
        stamp_file.write_text(stamp)
    return f"{classes}{os.pathsep}{jars}/*"


if __name__ == "__main__":
    print(build())
