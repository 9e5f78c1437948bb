#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/src) with the
Scala compiler that ships in the Spark distribution, into
.bench_build/classes-<digest of the sources>. Run from the repository root:

    python3 perfbench/build.py        # prints the classes directory

A build whose sources are unchanged is reused.
"""
import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys

BUILD_DIR = pathlib.Path(".bench_build")
PROGRAM_SRC = pathlib.Path("src/main/scala")
BENCH_SRC = pathlib.Path(__file__).resolve().parent / "src"


def spark_jars() -> pathlib.Path:
    """The Spark jar directory: $SPARK_HOME/jars, else the program's
    build.sbt `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and (pathlib.Path(home) / "jars").is_dir():
        return pathlib.Path(home) / "jars"
    sbt = pathlib.Path("build.sbt")
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and pathlib.Path(m.group(1)).is_dir():
            return pathlib.Path(m.group(1))
    sys.exit("perfbench: no Spark jars found (set SPARK_HOME)")


def sources() -> list:
    prog = sorted(PROGRAM_SRC.rglob("*.scala"))
    if not prog:
        sys.exit("perfbench: no program sources under src/main/scala; run from the repository root")
    return prog + sorted(BENCH_SRC.rglob("*.scala"))


def build() -> pathlib.Path:
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(str(s).encode())
        h.update(s.read_bytes())
    out = BUILD_DIR / f"classes-{h.hexdigest()[:16]}"
    if (out / ".ok").exists():
        return out
    tmp = BUILD_DIR / f"tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    cp = str(spark_jars() / "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit("perfbench: compilation failed")
    argfile.unlink()
    (tmp / ".ok").write_text("")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    for old in BUILD_DIR.glob("classes-*"):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out


if __name__ == "__main__":
    print(build())
