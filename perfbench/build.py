#!/usr/bin/env python3
"""Build file of the benchmark package.

    python3 perfbench/build.py [BUILD_DIR]

Compiles the engine (src/main/scala) and then the benchmark's JVM program
(perfbench/src) with the Scala 2.13 compiler that ships among the Spark jars
-- the directory build.sbt names as its unmanaged classpath -- so the
benchmark needs neither sbt nor an edit of build.sbt.
Output goes to BUILD_DIR (default: $CARGO_TARGET_DIR or .bench_build):
engine/ and bench/ class directories, each rebuilt only when a hash of its
sources changes. Prints the runtime classpath as its last line.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def spark_jars() -> str:
    """The Spark jars directory: build.sbt's `unmanagedBase`."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if not m:
        sys.exit("build: build.sbt names no unmanagedBase")
    return m.group(1)


def sources(root: Path) -> list[Path]:
    return sorted(p for p in root.rglob("*.scala") if p.is_file())


def digest(files: list[Path], extra: str) -> str:
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def compile_once(name: str, srcs: list[Path], out: Path, jars: str, classpath: str) -> None:
    stamp = out.parent / f"{name}.stamp"
    want = digest(srcs, classpath)
    if out.is_dir() and stamp.is_file() and stamp.read_text() == want:
        return
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    argfile = out.parent / f"{name}.sources"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(out)]
    if classpath:
        cmd += ["-classpath", classpath]
    cmd.append(f"@{argfile}")
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-20000:])
        sys.exit(f"build: compiling {name} failed")
    stamp.write_text(want)


def build(build_dir: Path) -> str:
    engine_src = ROOT / "src" / "main" / "scala"
    if not engine_src.is_dir():
        sys.exit("build: engine sources (src/main/scala) not found")
    jars = spark_jars()
    if not Path(jars).is_dir():
        sys.exit(f"build: Spark jars directory {jars} not found")
    engine, bench = build_dir / "engine", build_dir / "bench"
    compile_once("engine", sources(engine_src), engine, jars, "")
    compile_once("bench", sources(HERE / "src"), bench, jars, str(engine))
    resources = ROOT / "src" / "main" / "resources"
    return os.pathsep.join([str(bench), str(engine), str(resources), f"{jars}/*"])


if __name__ == "__main__":
    d = Path(sys.argv[1] if len(sys.argv) > 1 else os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    print(build(d.resolve()))
