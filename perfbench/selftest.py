"""Tiny-size self-test of the benchmark: every workload end to end, with
its correctness check, from a working directory outside the checkout root.

For each workload it makes two runs of ``run.py --tiny``:

    as is                  must report correct, no failures, every metric
    --perturb-reference    the reference is changed slightly; the check
                           must then report failures

and after every run no process the run started may be left.

Usage:
    python3 perfbench/selftest.py [workload ...]

Exits non-zero on the first violated expectation.  Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from harness import WORK_ROOT, adopt_orphans, children_by_parent  # noqa: E402
from run import declared  # noqa: E402


def run(workload: str, trace: int, perturb: bool, cwd: Path) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "2", "--trace", str(trace), "--tiny"]
    if perturb:
        cmd.append("--perturb-reference")
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"FAIL {workload}: exit code {p.returncode}")
    # orphans of the run are re-parented here (adopt_orphans)
    left = children_by_parent().get(os.getpid(), [])
    if left:
        raise SystemExit(f"FAIL {workload}: processes left running: {left}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> int:
    adopt_orphans()
    spec = declared()
    cwd = WORK_ROOT / "selftest-cwd"
    cwd.mkdir(parents=True, exist_ok=True)
    for w in sys.argv[1:] or spec["workloads"]:
        for trace, names in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            res = run(w, trace, False, cwd)
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                raise SystemExit(f"FAIL {w}: {res['failed']} of {res['attempted']} failed")
            if set(res["metrics"]) != set(names):
                raise SystemExit(f"FAIL {w}: metrics {sorted(res['metrics'])}")
            if trace == 0 and not all(m["value"] > 0 for m in res["metrics"].values()):
                raise SystemExit(f"FAIL {w}: an end-to-end metric is not positive")
        print(f"ok   {w}: correct, {res['attempted']} operations", flush=True)
        res = run(w, 0, True, cwd)
        if res["correct"] or not res["failed"]:
            raise SystemExit(f"FAIL {w}: a perturbed reference went unnoticed")
        print(f"ok   {w}: perturbed reference caught ({res['failed']} failures)", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
