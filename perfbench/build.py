#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources and the
benchmark harness with the Scala compiler that ships in Spark's jars,
into .bench_build/ at the repository root. A build is skipped when the
sources have not changed since the last one.

    python3 perfbench/build.py [--tests]

--tests also compiles perfbench/test/ (the harness's own tests).
"""
import contextlib
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build"


def spark_jars() -> Path:
    """The jars of the Spark install: $SPARK_HOME, else the one whose
    spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = str(Path(submit).resolve().parent.parent)
    jars = Path(home or ".") / "jars"
    if not jars.is_dir():
        sys.exit(f"build: Spark jars not found under {jars} (set SPARK_HOME)")
    return jars


def sources(d: Path) -> list:
    if not d.is_dir():
        sys.exit(f"build: source directory {d} is missing")
    found = sorted(d.rglob("*.scala"))
    if not found:
        sys.exit(f"build: no Scala sources under {d}")
    return found


def stamp(files: list, extra: str = "") -> str:
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def scalac(files: list, dest: Path, classpath: list) -> None:
    jars = spark_jars()
    tmp = dest.with_name(dest.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = ":".join([str(p) for p in classpath] + sorted(str(j) for j in jars.glob("*.jar")))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-classpath", cp]
    cmd += [str(f) for f in files]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(f"build: scalac failed ({r.returncode}) for {dest.name}")
    shutil.rmtree(dest, ignore_errors=True)
    tmp.rename(dest)


def target(name: str, files: list, classpath: list, key: str) -> Path:
    dest = OUT / name
    st = OUT / f"{name}.stamp"
    if dest.is_dir() and st.exists() and st.read_text() == key:
        return dest
    print(f"build: compiling {name} ({len(files)} files)", file=sys.stderr)
    scalac(files, dest, classpath)
    st.write_text(key)
    return dest


@contextlib.contextmanager
def locked():
    """Hold the build lock, so concurrent runs build only once."""
    OUT.mkdir(exist_ok=True)
    with open(OUT / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        yield


def key() -> str:
    """The stamps of the current graft and harness builds."""
    return (OUT / "graft.stamp").read_text() + (OUT / "harness.stamp").read_text()


def ensure(tests: bool = False) -> list:
    """Compile what changed; return the class directories, harness first."""
    with locked():
        graft_src = sources(ROOT / "src" / "main" / "scala")
        harness_src = sources(BENCH / "src")
        gkey = stamp(graft_src)
        graft = target("graft", graft_src, [], gkey)
        hkey = stamp(harness_src, gkey)
        harness = target("harness", harness_src, [graft], hkey)
        dirs = [harness, graft]
        if tests:
            test_src = sources(BENCH / "test")
            dirs.insert(0, target("tests", test_src, [harness, graft],
                                  stamp(test_src, hkey)))
        return dirs


if __name__ == "__main__":
    ensure("--tests" in sys.argv[1:])
