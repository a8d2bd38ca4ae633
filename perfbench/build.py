#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program's main sources (src/main/scala) together with the
harness (perfbench/src) into perfbench/.build/classes with the Scala
compiler that ships in the Spark distribution, and copies the program's
resources. A stamp of every input's content skips the compile when nothing
changed.

Usage: python3 perfbench/build.py
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
BUILD = BENCH / ".build"
CLASSES = BUILD / "classes"
STAMP = BUILD / "stamp"


def sbt_unmanaged_base():
    """The jar directory build.sbt names as `unmanagedBase`, if any."""
    sbt = ROOT / "build.sbt"
    if sbt.exists():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            return m.group(1)
    return None


def spark_jars() -> Path:
    """The Spark jar directory the program builds against: SPARK_JARS_DIR,
    then $SPARK_HOME/jars, then build.sbt's unmanagedBase."""
    for cand in (os.environ.get("SPARK_JARS_DIR"),
                 os.environ.get("SPARK_HOME") and os.path.join(os.environ["SPARK_HOME"], "jars"),
                 sbt_unmanaged_base()):
        if cand and any(Path(cand).glob("scala-compiler-*.jar")):
            return Path(cand)
    raise SystemExit("perfbench: no Spark jar directory with a Scala compiler (set SPARK_JARS_DIR)")


def inputs():
    main = ROOT / "src" / "main"
    if not (main / "scala").is_dir():
        raise SystemExit(f"perfbench: program sources not found under {main}")
    sources = sorted(p for d in (main / "scala", BENCH / "src")
                     for p in d.rglob("*.scala"))
    resources = sorted(p for p in (main / "resources").rglob("*") if p.is_file()) \
        if (main / "resources").is_dir() else []
    return sources, resources


def digest(files) -> str:
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def source_digest() -> str:
    sources, resources = inputs()
    return digest(sources + resources)


def build(quiet: bool = False) -> Path:
    sources, resources = inputs()
    stamp = digest(sources + resources)
    if STAMP.exists() and STAMP.read_text() == stamp and CLASSES.is_dir():
        return CLASSES
    jars = spark_jars()
    if CLASSES.exists():
        shutil.rmtree(CLASSES)
    CLASSES.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in sources) + "\n")
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={BUILD}", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-deprecation:false", "-d", str(CLASSES), "-classpath", cp,
           f"@{argfile}"]
    if not quiet:
        print(f"perfbench: compiling {len(sources)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    for p in resources:
        dst = CLASSES / p.relative_to(ROOT / "src" / "main" / "resources")
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dst)
    STAMP.write_text(stamp)
    return CLASSES


if __name__ == "__main__":
    print(build())
