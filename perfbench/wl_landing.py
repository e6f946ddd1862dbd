"""sse_landing: seeded SSE events over loopback into
``streaming.landing.land_sse_to_parquet`` with its default trigger.

The load generator (``ssegen.py``) is a separate process.  After the
warm-up events have landed, two measured phases use the one landing query:

    burst   60k events sent unpaced: distinct events committed per second
            from the first send to the commit holding the last event
    paced   2000 events/s open loop for PACED_SHARE of --seconds:
            latency from each event's due time (its creation stamp) to the
            commit of the micro-batch that made it durable

Commit times are the modification times of the sink's
``_spark_metadata/<batchId>`` log entries; each landed file is mapped to
the batch whose log entry first lists it.  Progress arrives through a
listener, so no Spark job runs while the phases are timed.
"""

from __future__ import annotations

import json
import queue
import subprocess
import sys
import threading
import time
from collections import Counter
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

from harness import ROOT, pct, progress_listener, start_spark

# (warm-up events, burst events, paced events/s); the burst stays below the
# reader's 100k-event buffer, so nothing is shed
SIZES = {"full": (2_000, 60_000, 2_000.0), "tiny": (500, 3_000, 500.0)}
PACED_SHARE = 0.6
LAND_TIMEOUT_S = 60


class GeneratorProcess:
    """The ssegen.py child: commands on stdin, JSON reports on stdout."""

    def __init__(self, work: Path, seed: int, sizes: tuple, paced_seconds: float,
                 record: bool):
        self.types_path = work / "types.json"
        self.record_path = work / "sent.bin" if record else None
        warmup, burst, rate = sizes
        cmd = [sys.executable, str(ROOT / "perfbench" / "ssegen.py"),
               "--seed", str(seed), "--warmup", str(warmup),
               "--burst", str(burst), "--rate", str(rate),
               "--paced-seconds", str(paced_seconds),
               "--types", str(self.types_path)]
        if record:
            cmd += ["--record", str(self.record_path)]
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE,
                                     stdout=subprocess.PIPE, text=True)
        self.reports: queue.Queue[dict] = queue.Queue()
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()
        ready = self.expect("ready")
        self.port, self.n_events = ready["port"], ready["events"]
        self.extra_connections = 0

    def _read(self) -> None:
        for line in self.proc.stdout:
            self.reports.put(json.loads(line))
        self.reports.put({"event": "eof"})

    def expect(self, event: str, timeout: float = 60) -> dict:
        rep = self.reports.get(timeout=timeout)
        if rep["event"] != event:
            raise RuntimeError(f"generator: expected {event}, got {rep}")
        return rep

    def send(self, cmd: str) -> None:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.send("stop")
                self.proc.stdin.close()
            except BrokenPipeError:
                pass
        try:
            self.proc.wait(20)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self._reader.join(5)
        while not self.reports.empty():
            rep = self.reports.get()
            if rep["event"] == "stopped":
                self.extra_connections = rep["extra_connections"]

    def types(self) -> list[str]:
        with open(self.types_path) as f:
            return json.load(f)


def committed_batches(out_dir: Path) -> list[tuple[int, float, list[str]]]:
    """(batchId, commit wall time, files first listed by it) per batch."""
    meta = out_dir / "_spark_metadata"
    entries = {}
    for f in meta.iterdir():
        stem = f.name.split(".")[0]
        if stem.isdigit():
            entries[int(stem)] = f
    seen, out = set(), []
    for bid in sorted(entries):
        f = entries[bid]
        with open(f) as fh:
            lines = fh.read().splitlines()[1:]
        paths = [json.loads(x)["path"] for x in lines if x.strip()]
        new = [p for p in paths if p not in seen]
        seen.update(new)
        out.append((bid, f.stat().st_mtime, new))
    return out


def read_landed(batches) -> dict:
    """Landed rows as arrays, each tagged with its batch's commit time."""
    ids, events, ts, data, commit = [], [], [], [], []
    for _bid, t_commit, files in batches:
        for p in files:
            tbl = pq.read_table(p.removeprefix("file:"), columns=["event", "id", "data", "ts"])
            ids.append(np.array(tbl["id"].to_pylist(), dtype=np.int64))
            events += tbl["event"].to_pylist()
            # Spark writes INT96 timestamps, which arrive as nanoseconds
            ts.append(tbl["ts"].to_numpy().astype("datetime64[us]").astype(np.int64) / 1e6)
            data += tbl["data"].to_pylist()
            commit.append(np.full(tbl.num_rows, t_commit))
    cat = (lambda xs: np.concatenate(xs)) if ids else (lambda xs: np.zeros(0))
    return {"id": cat(ids), "event": events, "ts": cat(ts), "data": data,
            "commit": cat(commit)}


def parse_rate(record_path: Path, repeats: int = 3) -> float:
    """Offline replay of the run's exact bytes through the wire parser,
    in the 8 KiB chunks the SSE client reads: dispatched events per second."""
    from kafka_connect_sse_spark.sources.sse_wire import SSEParser, iter_sse_lines

    raw = record_path.read_bytes()
    chunks = [raw[i:i + 8192] for i in range(0, len(raw), 8192)]
    rates = []
    for _ in range(repeats):
        parser, n = SSEParser(), 0
        t0 = time.perf_counter()
        for line in iter_sse_lines(iter(chunks)):
            if parser.feed_line(line.rstrip("\r")) is not None:
                n += 1
        rates.append(n / (time.perf_counter() - t0))
    return float(np.median(rates))


class Landing:
    """One set-up: session, generator, landing query, warm-up landed."""

    def __init__(self, tracer, work: Path, seed: int, sizes: tuple,
                 paced_seconds: float, record: bool, mem):
        from kafka_connect_sse_spark.streaming.landing import land_sse_to_parquet

        work.mkdir(parents=True, exist_ok=True)
        self.spark, self.t_session, self.t_load = start_spark(tracer)
        self.listener = progress_listener()
        self.spark.streams.addListener(self.listener)
        with tracer.span("generator.start") as t_gen:
            self.gen = GeneratorProcess(work, seed, sizes, paced_seconds, record)
        self.t_inputs = t_gen.elapsed
        mem.exclude.add(self.gen.proc.pid)
        self.out = work / "landed"
        with tracer.span("landing.start"):
            self.query = land_sse_to_parquet(
                self.spark, f"http://127.0.0.1:{self.gen.port}/recentchange",
                str(self.out), str(work / "checkpoint"))
        self.gen.expect("connected")
        self.phases = {}
        with tracer.span("warmup") as t_warm:
            self.phase("warmup")
        self.t_warmup = t_warm.elapsed

    def phase(self, name: str) -> None:
        self.gen.send(name)
        rep = self.gen.expect("phase", timeout=LAND_TIMEOUT_S)
        self.phases[name] = rep
        if not self.listener.wait_rows(self.query.id, rep["hi"], LAND_TIMEOUT_S):
            raise TimeoutError(f"{name}: {self.listener.rows(self.query.id)} of "
                               f"{rep['hi']} events landed in {LAND_TIMEOUT_S}s")


def run(seed: int, seconds: int, tracer, work: Path, mem, tiny=False, perturb=False) -> dict:
    sizes = SIZES["tiny" if tiny else "full"]
    n_burst = sizes[1]
    with tracer.span("setup") as setup:
        land = Landing(tracer, work, seed, sizes, PACED_SHARE * seconds,
                       tracer.enabled, mem)
    n_warm = land.listener.rows(land.query.id)
    warm_last = max(p["batchId"] for p in land.listener.progress(land.query.id))

    with tracer.span("burst"):
        land.phase("burst")
    with tracer.span("paced"):
        land.phase("paced")
    land.query.stop()
    prog = [p for p in land.listener.progress(land.query.id) if p["batchId"] > warm_last]
    land.gen.close()
    types = land.gen.types()
    sent = land.gen.n_events
    if perturb:  # claim one event more than was sent
        sent += 1
        types.append("edit")

    with tracer.span("check"):
        batches = committed_batches(land.out)
        rows = read_landed(batches)
        ids = rows["id"]
        distinct = np.unique(ids)
        expected = np.arange(sent)
        missing = np.setdiff1d(expected, distinct).size
        unexpected = np.setdiff1d(distinct, expected).size
        failed = missing + unexpected + (len(ids) - distinct.size)
        if Counter(rows["event"]) != Counter(types):
            failed += 1
        if failed:
            print(f"# sse_landing: {missing} missing, {unexpected} unexpected, "
                  f"{len(ids) - distinct.size} duplicate ids", file=sys.stderr, flush=True)

    burst, paced = land.phases["burst"], land.phases["paced"]
    last_burst = ids == burst["hi"] - 1
    burst_s = float(rows["commit"][last_burst].max()) - burst["t0"]
    in_paced = ids >= paced["lo"]
    stamps = np.array([float(d[-18:-1]) for d, p in zip(rows["data"], in_paced) if p])
    latency = rows["commit"][in_paced] - stamps
    lag = rows["ts"][in_paced] - stamps
    data_prog = [p for p in prog if p["numInputRows"] > 0]
    # Spark reports durations in whole milliseconds; the few-ms phases are
    # given as means, whose median would read the same on every run
    dur = lambda k: [p["durationMs"].get(k, 0) / 1000 for p in data_prog]  # noqa: E731
    commit = [a + b for a, b in zip(dur("walCommit"), dur("commitOffsets"))]
    measured_files = [f for b in batches if b[0] > warm_last for f in b[2]]
    layers = {
        "session.get_spark_s": land.t_session,
        "registry.load_all_s": land.t_load,
        "setup.inputs_s": land.t_inputs,
        "setup.warmup_s": land.t_warmup,
        "sse.latest_offset_s_mean": float(np.mean(dur("latestOffset"))),
        "sse.rows_per_batch_p50": pct([p["numInputRows"] for p in data_prog], 50),
        "sse.receive_lag_p50_s": pct(lag, 50),
        "sse.receive_lag_p99_s": pct(lag, 99),
        "sse.events_dropped": missing,
        "landing.add_batch_s_p50": pct(dur("addBatch"), 50),
        "landing.commit_s_p50": pct(commit, 50),
        "landing.batches": len(data_prog),
        "landing.bytes_written": sum(
            Path(f.removeprefix("file:")).stat().st_size for f in measured_files),
        "generator.lateness_p99_s": paced["lateness_p99_s"],
        "microbatch.query_planning_s_mean": float(np.mean(dur("queryPlanning"))),
        "microbatch.trigger_s_p50": pct(dur("triggerExecution"), 50),
        "landing_events_per_s": n_burst / burst_s,
        "landing_latency_p50_s": pct(latency, 50),
        "landing_latency_p99_s": pct(latency, 99),
    }
    if land.gen.record_path is not None:
        with tracer.span("sse_wire.replay"):
            layers["sse_wire.parse_events_per_s"] = parse_rate(land.gen.record_path)
    land.spark.stop()
    print(f"# sse_landing: warm-up {n_warm} events, burst {n_burst} in "
          f"{burst_s:.2f}s, paced {in_paced.sum()} events, generator late p99 "
          f"{paced['lateness_p99_s'] * 1e3:.1f} ms, {land.gen.extra_connections} extra "
          "subscription(s) given heartbeats only", file=sys.stderr, flush=True)
    return {
        "setup_s": setup.elapsed,
        "throughput_per_s": n_burst / burst_s,
        "latency_p50_s": pct(latency, 50),
        "latency_tail_s": pct(latency, 99),
        "attempted": sent,
        "failed": failed,
        "layers": layers,
    }
