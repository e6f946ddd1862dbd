"""stream_stateful: three watermarked stateful shapes over an event-time
ordered file stream, one slice per micro-batch, closed loop.

Input: the ``events`` table from ``tools/gen_fixture.py`` (same per-user
density as its sf1 tier, time axis compressed 30x so a slice spans about
two hours), cut into slices in event-time order.  A share of events is
moved back in time by less than any watermark delay (out of order but on
time); a smaller share is moved back three days, beyond every watermark,
and the reference excludes exactly those.  A final sentinel slice far in
the future advances every watermark so all real state is emitted.

Shapes (default state store, the session's shuffle partitions):
    session           30-min session window per user, 10-min watermark
    outer_join        purchase LEFT OUTER JOIN click within the hour before,
                      30-min watermarks on both sides
    chained_distinct  dropDuplicates(hour, user) -> hourly window count,
                      1-day watermark

Each shape's final output is compared with a DuckDB computation over the
same slices.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import import_tool, pct, progress_listener, start_spark

ROWS_PER_SLICE = {"full": 2000, "tiny": 300}
SLICES_PER_SECOND = 1.2  # measured slices per shape per second of --seconds
WARMUP_SLICES = 3
TIME_COMPRESSION = 30
JITTER_US = 120 * 10**6  # < the smallest watermark delay (10 min)
LATE_US = 3 * 86_400 * 10**6  # > the largest watermark delay (1 day)
JITTER_SHARE = 0.05
LATE_SHARE = 0.003
SENTINEL_GAP_US = 10 * 86_400 * 10**6
SHAPES = ("session", "outer_join", "chained_distinct")


def make_slices(work: Path, seed: int, seconds: int, per_slice: int) -> dict:
    """Write the measured and warm-up slice directories; return them with
    what the reference needs (the late ids and how many each shape drops)."""
    gf = import_tool("gen_fixture")
    n_slices = max(3, round(SLICES_PER_SECOND * seconds))
    n = n_slices * per_slice
    raw = work / "raw"
    raw.mkdir(parents=True, exist_ok=True)
    gf.gen_events(str(raw), n, max(n * 15_000 // 1_000_000, 1), seed)
    t = pq.read_table(raw / "events.parquet")
    rng = np.random.default_rng(seed)
    base = gf.EPOCH_2024
    ts = t["ts"].cast(pa.int64()).to_numpy()
    ts = base + (ts - base) // TIME_COMPRESSION
    jitter = rng.random(n) < JITTER_SHARE
    ts = ts - np.where(jitter, rng.integers(0, JITTER_US, n), 0)
    # late rows only from the third slice on, so a watermark exists
    late = (rng.random(n) < LATE_SHARE) & (np.arange(n) >= 2 * per_slice)
    ts = np.where(late, ts - LATE_US, ts)
    t = t.set_column(1, "ts", pa.array(ts, pa.timestamp("us", tz="UTC")))

    src, warm = work / "slices", work / "warm"
    for d in (src, warm):
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
    for i in range(n_slices):
        part = t.slice(i * per_slice, per_slice)
        pq.write_table(part, src / f"part-{i:05d}.parquet")
        if i < WARMUP_SLICES:
            pq.write_table(part, warm / f"part-{i:05d}.parquet")
    sentinel_ts = int(ts.max()) + SENTINEL_GAP_US
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([-1, -2], pa.int64()),
                "ts": pa.array([sentinel_ts, sentinel_ts], pa.timestamp("us", tz="UTC")),
                "user_id": pa.array([-1, -2], pa.int64()),
                "event_type": ["purchase", "click"],
                "value": [0.0, 0.0],
                "props": ['{"k": 0}', '{"k": 0}'],
            },
            schema=t.schema,
        ),
        src / f"part-{n_slices:05d}.parquet",
    )
    # the file source orders by modification time, which can tie at the
    # filesystem's clock granularity; space the slices one second apart
    t_first = time.time() - n_slices - 10
    for d in (src, warm):
        for i, f in enumerate(sorted(d.iterdir())):
            os.utime(f, (t_first + i, t_first + i))
    late_ids = t["event_id"].to_numpy()[late]
    types = t["event_type"].to_numpy(zero_copy_only=False)[late]
    return {
        "src": src,
        "warm": warm,
        "late_ids": late_ids,
        "late_expected": {
            "session": int(late.sum()),
            "outer_join": int(np.isin(types, ["purchase", "click"]).sum()),
            "chained_distinct": int(late.sum()),
        },
    }


def shape(name: str, sdf):
    from pyspark.sql import functions as F

    if name == "session":
        return (
            sdf.withWatermark("ts", "10 minutes")
            .groupBy(F.session_window("ts", "30 minutes"), "user_id")
            .agg(F.count("*").alias("n_events"))
            .select("user_id", "n_events")
        )
    if name == "chained_distinct":
        dd = (
            sdf.withColumn("hour_b", F.date_trunc("hour", F.col("ts")))
            .withWatermark("ts", "1 day")
            .dropDuplicates(["hour_b", "user_id"])
        )
        return (
            dd.groupBy(F.window("ts", "1 hour"))
            .agg(F.count("*").alias("n_users"))
            .select(F.col("window.start").alias("win_start"), "n_users")
        )
    purchases = (
        sdf.filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"), "user_id",
                F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "30 minutes")
    )
    clicks = (
        sdf.filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user_id"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "30 minutes")
    )
    return purchases.join(
        clicks,
        F.expr("user_id = c_user_id AND c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts <= p_ts"),
        "leftOuter",
    ).select("purchase_id", "click_id", "user_id")


REFERENCE_SQL = {
    "session": """
        WITH g AS (
            SELECT user_id, ts,
                   CASE WHEN ts - lag(ts) OVER w < INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_s
            FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        s AS (
            SELECT user_id, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS sid FROM g)
        SELECT user_id, count(*) AS n_events FROM s GROUP BY user_id, sid""",
    "outer_join": """
        SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
        FROM ev p LEFT JOIN ev c
          ON c.event_type = 'click' AND c.user_id = p.user_id
         AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
        WHERE p.event_type = 'purchase'""",
    "chained_distinct": """
        SELECT epoch_us(date_trunc('hour', ts)) AS win_start,
               count(DISTINCT user_id) AS n_users
        FROM ev GROUP BY 1""",
}


def reference_rows(inputs: dict, name: str) -> list[tuple]:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        con.register("late", pa.table({"event_id": inputs["late_ids"]}))
        con.execute(
            f"CREATE VIEW ev AS SELECT * FROM read_parquet('{inputs['src']}/*.parquet') "
            "WHERE event_id >= 0 AND event_id NOT IN (SELECT event_id FROM late)"
        )
        return con.execute(REFERENCE_SQL[name]).fetchall()
    finally:
        con.close()


def output_rows(spark, table: str, name: str) -> list[tuple]:
    from pyspark.sql import functions as F

    df = spark.table(table)
    if name == "chained_distinct":
        df = df.select(F.unix_micros("win_start").alias("win_start"), "n_users")
    return [tuple(r) for r in df.collect()]


def mismatches(got: list[tuple], want: list[tuple]) -> int:
    """Size of the multiset symmetric difference."""
    from collections import Counter

    g, w = Counter(got), Counter(want)
    return sum(((g - w) + (w - g)).values())


class StreamRun:
    """Runs one shape over a slice directory to completion (availableNow)."""

    def __init__(self, spark, listener, work: Path):
        self.spark, self.listener, self.work = spark, listener, work
        from pyspark.sql.types import (DoubleType, LongType, StringType,
                                       StructField, StructType, TimestampType)

        self.schema = StructType([
            StructField("event_id", LongType()), StructField("ts", TimestampType()),
            StructField("user_id", LongType()), StructField("event_type", StringType()),
            StructField("value", DoubleType()), StructField("props", StringType()),
        ])

    def run(self, name: str, src: Path, tag: str):
        sdf = (
            self.spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )
        table = f"perfbench_{name}_{tag}"
        t0 = time.perf_counter()
        q = (
            shape(name, sdf).writeStream.format("memory").queryName(table)
            .outputMode("append")
            .option("checkpointLocation", str(self.work / "ckpt" / table))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(170)
        wall = time.perf_counter() - t0
        if q.isActive:
            q.stop()
            raise TimeoutError(f"{name} did not finish")
        if q.exception() is not None:
            raise RuntimeError(f"{name} failed: {q.exception()}")
        # progress of the final batch may trail termination slightly
        deadline = time.monotonic() + 5
        while time.monotonic() < deadline:
            if any(p["batchId"] == q.lastProgress["batchId"]
                   for p in self.listener.progress(q.id)):
                break
            time.sleep(0.02)
        return q.id, table, wall


def run(seed: int, seconds: int, tracer, work: Path, mem, tiny=False, perturb=False) -> dict:
    with tracer.span("setup") as setup:
        spark, t_session, t_load = start_spark(tracer)
        listener = progress_listener()
        spark.streams.addListener(listener)
        with tracer.span("inputs.slices") as t_inputs:
            inputs = make_slices(work / "in", seed, seconds,
                                 ROWS_PER_SLICE["tiny" if tiny else "full"])
        runner = StreamRun(spark, listener, work)
        with tracer.span("warmup") as t_warm:
            for name in SHAPES:
                runner.run(name, inputs["warm"], "warm")

    per_shape, batch_s, rows, wall = {}, [], 0, 0.0
    planning = []
    failed = 0
    for name in SHAPES:
        with tracer.span("queries.run", shape=name):
            qid, table, w = runner.run(name, inputs["src"], "run")
        prog = [p for p in listener.progress(qid) if p["numInputRows"] > 0]
        wall += w
        rows += sum(p["numInputRows"] for p in prog)
        durs = [p["durationMs"]["triggerExecution"] / 1000 for p in prog]
        batch_s += durs
        planning += [p["durationMs"].get("queryPlanning", 0) / 1000 for p in prog]
        allp = listener.progress(qid)
        ops = [p.get("stateOperators", []) for p in allp]
        dropped = sum(o.get("numRowsDroppedByWatermark", 0) for op in ops for o in op)
        per_shape[name] = {
            "batch_p50_s": pct(durs, 50),
            "state_rows_peak": max((sum(o["numRowsTotal"] for o in op) for op in ops), default=0),
            "state_memory_bytes_peak": max(
                (sum(o["memoryUsedBytes"] for o in op) for op in ops), default=0),
            "state_commit_ms_p50": pct(
                [sum(o.get("commitTimeMs", 0) for o in op) for op in ops if op], 50),
            "rows_dropped_late": dropped,
        }
        with tracer.span("check", shape=name):
            got = output_rows(spark, table, name)
            want = reference_rows(inputs, name)[int(perturb):]
            bad = mismatches(got, want)
            if dropped != inputs["late_expected"][name]:
                bad += abs(dropped - inputs["late_expected"][name])
        if bad:
            print(f"# stream_stateful {name}: {bad} rows differ from the reference "
                  f"({len(got)} vs {len(want)} rows, {dropped} dropped late)",
                  file=sys.stderr, flush=True)
        failed += bad

    spark.stop()
    layers = {
        "session.get_spark_s": t_session,
        "registry.load_all_s": t_load,
        "setup.inputs_s": t_inputs.elapsed,
        "setup.warmup_s": t_warm.elapsed,
        "microbatch.query_planning_s_mean": float(np.mean(planning)),
        "microbatch.trigger_s_p50": pct(batch_s, 50),
        "stream_rows_per_s": rows / wall,
        "stream_batch_p50_s": pct(batch_s, 50),
        "stream_batch_p90_s": pct(batch_s, 90),
    }
    for name, m in per_shape.items():
        for k, v in m.items():
            layers[f"queries.{name}.{k}"] = v
    return {
        "setup_s": setup.elapsed,
        "throughput_per_s": rows / wall,
        "latency_p50_s": pct(batch_s, 50),
        "latency_tail_s": pct(batch_s, 90),
        "attempted": rows,
        "failed": failed,
        "layers": layers,
    }
