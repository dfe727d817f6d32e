"""Build file of the benchmark: compiles the engine (src/main) together with
the benchmark's own JVM sources (perfbench/scala) with the Scala compiler
that ships among the Spark jars, then records the query workload's ops
and their DuckDB oracle SQL.

Output goes to .bench_build/classes-<source digest>/ in the checkout, so
an unchanged tree is compiled once. Usage: python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"


def _spark_jars():
    """The jar directory build.sbt compiles against, else $SPARK_HOME/jars."""
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  sbt.read_text()) if sbt.is_file() else None
    return Path(m.group(1)) if m else \
        Path(os.environ.get("SPARK_HOME", "")) / "jars"


SPARK_JARS = _spark_jars()

# Spark on JDK 17 needs these outside spark-submit (build.sbt uses the same).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


class BuildError(Exception):
    pass


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError(f"no engine sources under {main}")
    files = sorted(main.rglob("*.scala")) + sorted(
        (ROOT / "perfbench" / "scala").rglob("*.scala"))
    res = ROOT / "src" / "main" / "resources"
    resources = sorted(p for p in res.rglob("*") if p.is_file()) \
        if res.is_dir() else []
    return files, resources


def classpath(classes):
    return f"{classes}{os.pathsep}{SPARK_JARS}/*"


def build():
    """Returns the classes directory, compiling if the sources changed."""
    files, resources = sources()
    if not any(SPARK_JARS.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler among {SPARK_JARS}")
    h = hashlib.sha256()
    for f in files + resources:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = BUILD / f"classes-{h.hexdigest()[:16]}"
    if (out / "oracle_ops.json").is_file():
        return out
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    # An explicit classpath: scalac's default "." would read the checkout's
    # directories as packages.
    jars = os.pathsep.join(str(j) for j in sorted(SPARK_JARS.glob("*.jar")))
    argfile = BUILD / "scalac.args"
    argfile.write_text("\n".join(
        ["-classpath", jars, "-nowarn", "-d", str(out)] +
        [str(f) for f in files]))
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", f"{SPARK_JARS}/*",
         "scala.tools.nsc.Main", f"@{argfile}"],
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BuildError("scalac failed")
    res = ROOT / "src" / "main" / "resources"
    for f in resources:
        dst = out / f.relative_to(res)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(f, dst)
    tmp = out / "oracle_ops.json.tmp"
    r = subprocess.run(
        ["java", *ADD_OPENS, "-cp", classpath(out), "perfbench.Main",
         "--dump", str(tmp)], stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BuildError("oracle dump failed")
    tmp.rename(out / "oracle_ops.json")
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build: {e}")
