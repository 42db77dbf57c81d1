"""One-command repo validation — the verify recipe, executable.

Runs, in order:
  1. tools/check_workflow.py (CI workflow static lint)
  2. pytest tests/ (full suite)
  3. vanilla-session oracle sweep at sf0.01 (the driver's gate)
  4. vanilla-session oracle sweep at sf0.1 (10x scale check)
  5. bench.py (headline timings JSON)

Prints one PASS/FAIL line per stage and exits non-zero on the first
failure. Stages 2-4 can be skipped for a quick check:

    python tools/validate.py            # everything (~15 min)
    python tools/validate.py --quick    # pytest + sf0.01 sweep only
    python tools/validate.py --sf1      # everything + bench at the
                                        # generated sf1 scale point
                                        # (tools/make_bigsf.py runs
                                        # first if .benchdata/sf1 is
                                        # missing)
"""

from __future__ import annotations

import os
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

STAGES_FULL = (
    ("workflow-lint", [sys.executable, "tools/check_workflow.py"]),
    ("pytest", [sys.executable, "-m", "pytest", "tests/", "-q"]),
    ("sweep-sf0.01", [sys.executable, "tools/sweep.py", "/root/testdata/sf0.01"]),
    ("sweep-sf0.1", [sys.executable, "tools/sweep.py", "/root/testdata/sf0.1"]),
    ("bench", [sys.executable, "bench.py"]),
)


def main() -> int:
    quick = "--quick" in sys.argv
    stages = list(STAGES_FULL[:3] if quick else STAGES_FULL)
    if "--sf1" in sys.argv and not quick:
        sf1 = str(ROOT / ".benchdata" / "sf1")
        if not os.path.exists(f"{sf1}/lineitem.parquet"):
            stages.append(("make-sf1", [sys.executable, "tools/make_bigsf.py"]))
        stages.append(
            ("bench-sf1", [sys.executable, "bench.py"])
        )  # env set below
    for name, cmd in stages:
        t0 = time.time()
        env = dict(os.environ)
        if name == "bench-sf1":
            env["SPARK_GRAFT_SF_DIR"] = sf1
        r = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT, env=env)
        wall = time.time() - t0
        tail = (r.stdout or r.stderr).strip().splitlines()[-1:] or [""]
        ok = r.returncode == 0 and (
            name != "sweep-sf0.01" and name != "sweep-sf0.1"
            or " fail=0 " in r.stdout
        )
        print(f"{'PASS' if ok else 'FAIL'} {name} ({wall:.0f}s): {tail[0][:160]}")
        if not ok:
            print(r.stdout[-2000:], file=sys.stderr)
            return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
