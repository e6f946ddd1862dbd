"""batch_analytics: one client, closed loop, passes over a fixed mix of
registered operators on a seeded fixture from ``tools/gen_fixture.py``.

Each query is timed in two parts: ``build`` is the registered function
call (it includes any eager work the operator does), ``execute`` is one
full-column no-op write (``write.format("noop")``), which forces every
output column exactly once.  ``count()`` would let Catalyst prune the
expressions being measured, and a following ``collect()`` would run the
plan twice.

The warm-up pass collects each result instead and compares it with
the operator's DuckDB oracle under ``tools/check_correctness.py``'s
canonicalization (sorted columns, column-wise ``astype(str)``, sorted rows).
"""

from __future__ import annotations

import sys
import time
from collections import defaultdict
from pathlib import Path

import numpy as np

from harness import gen_fixture, import_tool, start_spark

SF = {"full": 0.1, "tiny": 0.01}
MIN_PASSES = 3

# (registered operator, module it lives in): one or two of the heaviest
# per operator module, every one with a DuckDB oracle
MIX = (
    ("q_agg_groupby", "aggregates"),
    ("q_agg_count_distinct", "aggregates"),
    ("q_join_multiway", "joins"),
    ("q_join_inner_shuffle", "joins"),
    ("q_win_ranking", "windows"),
    ("q_fn_json", "functions.scalar"),
    ("x_dedup_near_minhash", "dedup"),
    ("x_dedup_exact_hash", "dedup"),
    ("x_sim_topk_cosine", "similarity"),
    ("x_text_stats", "text"),
    ("x_corpus_prep", "pipeline"),
    ("u_pandas_udf", "udfs"),
)


def run_pass(spark, queries, sf_dir: str, tracer, failed: set, collect: bool = False):
    """One pass of the mix: per query (name, module, build_s, execute_s)
    and, when ``collect``, the pandas result instead of a no-op write.
    A query that raises is added to ``failed`` and left out from then on."""
    timings, results = [], {}
    for name, module in MIX:
        if name in failed:
            continue
        try:
            with tracer.span(f"{module}.build", query=name) as b:
                df = queries[name](spark, sf_dir)
            with tracer.span(f"{module}.execute", query=name) as e:
                if collect:
                    results[name] = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 — an erroring query is a failed operation
            print(f"# batch_analytics: {name} raised {exc!r}", file=sys.stderr,
                  flush=True)
            failed.add(name)
            continue
        timings.append((name, module, b.elapsed, e.elapsed))
    return timings, results


def check(results: dict, sf_dir: Path, oracles: dict, perturb: bool) -> list[str]:
    """Names of queries whose result differs from their DuckDB oracle."""
    import duckdb

    from kafka_connect_sse_spark.io import TABLES

    canon = import_tool("check_correctness").canon
    con = duckdb.connect()
    bad = []
    try:
        con.execute("SET TimeZone='UTC'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for name, got in results.items():
            want = con.execute(oracles[name]).df().iloc[int(perturb):]
            if canon(got)[2] != canon(want)[2]:
                bad.append(name)
    finally:
        con.close()
    return bad


def run(seed: int, seconds: int, tracer, work: Path, mem, tiny=False, perturb=False) -> dict:
    from kafka_connect_sse_spark import registry

    sf_dir = work / "fixture"
    with tracer.span("setup") as setup:
        spark, t_session, t_load = start_spark(tracer)
        with tracer.span("inputs.fixture") as t_inputs:
            gen_fixture(SF["tiny" if tiny else "full"], seed, sf_dir)
        queries = registry.queries()
        failed: set[str] = set()
        with tracer.span("warmup") as t_warm:
            _, results = run_pass(spark, queries, str(sf_dir), tracer, failed, collect=True)

    with tracer.span("check"):
        bad = check(results, sf_dir, registry.oracle_sql(), perturb)
    if bad:
        print(f"# batch_analytics: differs from the oracle: {' '.join(bad)}",
              file=sys.stderr, flush=True)
    failed.update(bad)

    passes = []
    t0 = time.perf_counter()
    while len(passes) < (1 if tiny else MIN_PASSES) or time.perf_counter() - t0 < seconds:
        with tracer.span("pass", n=len(passes)) as p:
            timings, _ = run_pass(spark, queries, str(sf_dir), tracer, failed)
        passes.append((p.elapsed, timings))
    measured = time.perf_counter() - t0
    spark.stop()

    pass_s = [p[0] for p in passes]
    # a typical pass: each query's median over the passes, summed, so one
    # query's collection pause does not move the whole pass
    per_query = defaultdict(list)
    for _, timings in passes:
        for name, _module, b, e in timings:
            per_query[name].append(b + e)
    typical_pass = sum(float(np.median(v)) for v in per_query.values())
    per_module = defaultdict(lambda: defaultdict(list))
    for _, timings in passes:
        sums = defaultdict(lambda: [0.0, 0.0])
        for _name, module, b, e in timings:
            sums[module][0] += b
            sums[module][1] += e
        for module, (b, e) in sums.items():
            per_module[module]["build_s"].append(b)
            per_module[module]["execute_s"].append(e)
    layers = {
        "session.get_spark_s": t_session,
        "registry.load_all_s": t_load,
        "setup.inputs_s": t_inputs.elapsed,
        "setup.warmup_s": t_warm.elapsed,
        "analytics_pass_s": typical_pass,
    }
    for module, phases in per_module.items():
        for phase, values in phases.items():
            layers[f"{module}.{phase}"] = float(np.median(values))
    n_queries = sum(len(t) for _, t in passes)
    return {
        "setup_s": setup.elapsed,
        "throughput_per_s": n_queries / measured,
        "latency_p50_s": typical_pass,
        "latency_tail_s": max(pass_s),
        "attempted": n_queries + len(MIX),
        "failed": len(failed),
        "layers": layers,
    }
