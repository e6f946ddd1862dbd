"""Benchmark entry point: run one workload from a seed, check its outputs
and print one JSON result line.

    python3 perfbench/run.py --workload sse_landing --seed 1 --seconds 18 --trace 0

Workloads: sse_landing, stream_stateful, batch_analytics (see
perfbench/README.md).  With ``--trace 0`` the result carries the
end-to-end metrics; with ``--trace 1`` it carries the per-layer metrics
and the spans are written to ``.bench_work/traces/``.  The last stdout
line is ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np  # noqa: E402

from harness import (  # noqa: E402
    ROOT, WORK_ROOT, MemoryPeak, Tracer, adopt_orphans, nproc, prepare_env, stop_descendants,
)


def declared() -> dict:
    """Workload names and metric units as BENCHMARK.json declares them."""
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    return {
        "workloads": [w["name"] for w in spec["workloads"]],
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def overhead_ratio(history: Path, traced_latency: float) -> float:
    """Traced latency_p50_s over the median of the untraced runs of the same
    workload in this checkout, minus 1; 0.0 when no untraced run is recorded."""
    try:
        with open(history) as f:
            past = [json.loads(line)["latency_p50_s"] for line in f]
    except FileNotFoundError:
        return 0.0
    return traced_latency / float(np.median(past)) - 1 if past else 0.0


def run_workload(name: str, seed: int, seconds: int, tracer: Tracer, work: Path,
                 mem: MemoryPeak, tiny: bool, perturb: bool) -> dict:
    if name == "sse_landing":
        import wl_landing as wl
    elif name == "stream_stateful":
        import wl_stream as wl
    else:
        import wl_analytics as wl
    return wl.run(seed, seconds, tracer, work, mem, tiny=tiny, perturb=perturb)


def main() -> int:
    if not (ROOT / "kafka_connect_sse_spark").is_dir() or not (ROOT / "tools").is_dir():
        print(f"perfbench: no kafka_connect_sse_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    spec = declared()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=spec["workloads"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="shrink every input to seconds-long self-test size")
    ap.add_argument("--perturb-reference", action="store_true",
                    help="change the reference slightly; the check must then fail")
    a = ap.parse_args()

    # every process the run starts is stopped and waited for before it
    # exits, on every path: errors, and SIGTERM too
    adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = WORK_ROOT / f"{a.workload}-s{a.seed}-p{os.getpid()}"
    prepare_env(work)
    tracer = Tracer(bool(a.trace))
    print(f"# perfbench {a.workload} seed={a.seed} seconds={a.seconds} "
          f"trace={a.trace} nproc={nproc()}", file=sys.stderr, flush=True)
    t0 = time.perf_counter()
    try:
        with MemoryPeak() as mem:
            res = run_workload(a.workload, a.seed, a.seconds, tracer, work, mem,
                               a.tiny, a.perturb_reference)
    finally:
        killed = stop_descendants()
        if killed:
            print(f"# signalled processes that outlived the run: {killed}",
                  file=sys.stderr, flush=True)
        shutil.rmtree(work, ignore_errors=True)
    print(f"# done in {time.perf_counter() - t0:.1f}s", file=sys.stderr, flush=True)

    attempted, failed = int(res["attempted"]), int(res["failed"])
    history = WORK_ROOT / "results" / f"{a.workload}.jsonl"
    if a.trace:
        layers = dict.fromkeys(spec["per_layer"], 0.0)
        layers.update(res["layers"])
        layers["failed_ratio"] = failed / max(attempted, 1)
        layers["trace.spans"] = len(tracer.spans)
        layers["trace.span_cost_s"] = tracer.span_cost_s()
        layers["trace.overhead_ratio"] = overhead_ratio(history, res["latency_p50_s"])
        metrics = {k: {"value": float(layers[k]), "unit": u}
                   for k, u in spec["per_layer"].items()}
        tracer.dump(WORK_ROOT / "traces" / f"{a.workload}-seed{a.seed}.json")
    else:
        values = {
            "setup_s": res["setup_s"],
            "peak_rss_mb": mem.peak_mb,
            "throughput_per_s": res["throughput_per_s"],
            "latency_p50_s": res["latency_p50_s"],
            "latency_tail_s": res["latency_tail_s"],
        }
        metrics = {k: {"value": float(values[k]), "unit": u}
                   for k, u in spec["end_to_end"].items()}
        if not a.tiny and not a.perturb_reference:
            history.parent.mkdir(parents=True, exist_ok=True)
            with open(history, "a") as f:
                f.write(json.dumps(values) + "\n")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
