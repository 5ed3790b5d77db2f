#!/usr/bin/env python3
"""Run the harness's own tests (perfbench/test/): generator stability
and import counts, metric maths, and the shared digest.

    python3 perfbench/test.py
"""
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import run  # noqa: E402


def main() -> int:
    classes = build.ensure(tests=True)
    work = build.OUT / "selftest"
    cmd = run.jvm_command(classes, work, [])
    main_at = cmd.index("perfbench.Main")
    cmd = cmd[:main_at] + [f"-Dperfbench.work={work}", "perfbench.SelfTest"]
    code = subprocess.run(cmd, cwd=work).returncode
    # the oracle digests must agree with Digest.scala on the same rows
    import oracle  # noqa: E402
    rows = [(3, "x", 1.5), (None, "y", 3.0), (7, "zé", -0.0)]
    if oracle.digest(["b", "a", "c"], rows) != (3, "51154af497789d94"):
        print("FAIL oracle.py digest differs from the pinned value")
        code = code or 1
    return code


if __name__ == "__main__":
    sys.exit(main())
