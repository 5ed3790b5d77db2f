#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload session|board \\
        --seed N --seconds S --trace 0|1

Builds graft and the harness if needed (build.py), then runs the
workload in a fresh JVM with a fixed heap. With --trace 0 the result
carries the end-to-end metrics; with --trace 1 the per-layer metrics
of a traced run. The board's tables do not depend on the seed: they are
written once per build into .bench_build/board-data/, in a JVM of their
own, and read by every board run. A line of host stamps (steal seconds, 1-minute load
average, CPU calibration time) is printed before the result; the stamps
never adjust a metric. Everything is written under .bench_build/ in the
repository root, and the run's working directory is removed afterwards.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("session", "board")
HEAP = "3g"
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def steal_seconds() -> float:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def calibration_seconds() -> float:
    """Time of a fixed CPU-bound loop: how fast this host runs right now."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def threads() -> int:
    """Spark task threads: two, so the JIT, GC and driver threads have
    cores of their own on a four-core host instead of queueing behind
    the tasks; the small stores here are no faster with four."""
    return max(1, min(2, len(os.sched_getaffinity(0))))


def jvm_command(classes: list, work: Path, args: list) -> list:
    """The JVM that runs perfbench.Main with `args`, writing only under
    the fresh directory `work`."""
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    jars = build.spark_jars()
    return (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            + [f"-Dlog4j2.configurationFile={build.BENCH / 'log4j2.properties'}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               f"-Dspark.local.dir={work / 'spark'}",
               f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
               f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dderby.system.home={work}",
               "-cp", ":".join([str(c) for c in classes] + [f"{jars}/*"]),
               "perfbench.Main", "--work", str(work), "--threads", str(threads())]
            + args)


def run_jvm(cmd: list, work: Path) -> tuple:
    """Run `cmd` in `work`; return (exit code, or None on timeout; its
    stdout). On a timeout, or when this runner is itself stopped, the
    JVM's process group is killed and waited for."""
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        return None, ""
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def board_data(classes: list) -> Path:
    """The board's tables, written by graft.DataGen once per build."""
    dest = build.OUT / "board-data"
    stamp = build.OUT / "board-data.stamp"
    with build.locked():
        key = build.key()
        if dest.is_dir() and stamp.exists() and stamp.read_text() == key:
            return dest
        print("run: writing the board's tables", file=sys.stderr)
        work = build.OUT / "run" / f"board-data-{os.getpid()}"
        shutil.rmtree(dest, ignore_errors=True)
        try:
            code, _ = run_jvm(jvm_command(classes, work, ["--workload", "board-data"]), work)
            if code != 0:
                sys.exit(f"run: writing the board's tables failed (exit {code})")
            (work / "board").rename(dest)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        stamp.write_text(key)
        return dest


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a SIGTERM unwinds through the finally blocks that stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    classes = build.ensure()
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)]
    if a.workload == "board":
        args += ["--data", str(board_data(classes)),
                 "--oracle", str(build.BENCH / "board_oracle.tsv")]
    work = build.OUT / "run" / f"{a.workload}-{os.getpid()}"
    cmd = jvm_command(classes, work, args)

    host = {"loadavg": loadavg(), "calib_s": calibration_seconds()}
    steal0 = steal_seconds()
    try:
        code, out = run_jvm(cmd, work)
    finally:
        host["steal_s"] = steal_seconds() - steal0
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("RESULT ")]
    if code != 0 or not lines:
        why = "did not finish in %d s" % JVM_TIMEOUT_S if code is None else f"failed (exit {code})"
        print(f"run: {a.workload} {why}", file=sys.stderr)
        return 1
    res = json.loads(lines[-1][len("RESULT "):])
    print(json.dumps({"host": host, "detail": res["detail"]}))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
