"""parquet_analytics: the 18 headline registry queries over generated
star-schema parquet, closed loop, one client, noop sink.

Exercises the ``queries/`` + ``extensions/`` Catalyst plans and bypasses
the NATS source, codec, broker and wire entirely — the control workload
for source-side changes. Every query's result is hash-compared against
its registered DuckDB oracle during the cold (warm-up) sweep.
"""

from __future__ import annotations

import os
import time

from perfbench import data
from perfbench.common import median
from perfbench.oracle import same_rows
from perfbench.workloads import Outcome

# Pinned here, not read from bench.py, so a change to the repo's own
# harness cannot silently change this workload. name -> family.
QUERIES = {
    "q1_pricing_summary": "tpch",
    "q3_shipping_priority": "tpch",
    "q5_local_supplier_volume": "tpch",
    "q6_forecast_revenue": "tpch",
    "q10_returned_items": "tpch",
    "agg_function_battery": "aggregates",
    "agg_rollup": "aggregates",
    "window_ranking": "windows",
    "window_frames_rows": "windows",
    "join_inner_equi": "joins",
    "fn_date_bin_bucketing": "functions_scalar",
    "fn_string_battery": "functions_scalar",
    "dedup_exact": "dedup",
    "dedup_minhash_lsh": "dedup",
    "dedup_simhash": "dedup",
    "sim_bruteforce_topk": "similarity",
    "text_token_stats": "text",
    "text_fingerprint": "text",
}
FAMILIES = sorted(set(QUERIES.values()))
SIZES = {"full": 60_000, "tiny": 3_000}


def _stage_totals(spark) -> dict:
    """(stageId, attempt) -> (executor cpu s, shuffle write bytes, tasks)
    from the Spark status store."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    stages = store.stageList(
        None, False, False, sc._gateway.new_array(spark._jvm.double, 0), spark._jvm.java.util.ArrayList()
    )
    out, it = {}, stages.iterator()
    while it.hasNext():
        s = it.next()
        out[(s.stageId(), s.attemptId())] = (
            s.executorCpuTime() / 1e9,
            float(s.shuffleWriteBytes()),
            float(s.numCompleteTasks()),
        )
    return out


def _sweep(spark, queries, sf_dir, tr) -> tuple[dict, dict]:
    """One noop-sink pass over the pinned queries: per-query wall seconds
    and, when traced, per-family status-store totals."""
    from datafusion_nats_spark.registry import release_caches

    walls: dict[str, float] = {}
    fam = {f: [0.0, 0.0, 0.0] for f in FAMILIES}
    for name, family in QUERIES.items():
        before = _stage_totals(spark) if tr.enabled else None
        df = queries[name](spark, sf_dir)
        t0 = time.perf_counter()
        with tr.span(f"analytics.{family}", query=name):
            df.write.format("noop").mode("overwrite").save()
        walls[name] = time.perf_counter() - t0
        release_caches(spark)
        if tr.enabled:
            for key, vals in _stage_totals(spark).items():
                if key not in before:
                    fam[family] = [a + b for a, b in zip(fam[family], vals)]
    return walls, fam


def run(ctx) -> Outcome:
    import duckdb

    from datafusion_nats_spark.registry import all_oracles, all_queries, release_caches

    out = Outcome()
    spark, tr = ctx.spark, ctx.tracer
    traced = tr.enabled
    tr.enabled = False  # spans and status-store reads only in the traced sweep
    sf_dir = os.path.join(ctx.rundir.data, "sf")

    # -- set-up: fixture tables (repeated, median kept), then a cold sweep
    tables, reps = None, []
    for i in range(ctx.setup_reps):
        t0 = time.perf_counter()
        tables = data.star_schema(ctx.seed, SIZES[ctx.size])
        data.write_star_schema(tables, f"{sf_dir}{i}")
        reps.append(time.perf_counter() - t0)
    sf_dir = f"{sf_dir}{ctx.setup_reps - 1}"
    queries = all_queries()
    t0 = time.perf_counter()
    _sweep(spark, queries, sf_dir, tr)
    cold_s = time.perf_counter() - t0
    out.setup_s = median(reps) + cold_s

    # -- timed: whole warm sweeps until the time is spent
    samples: dict[str, list[float]] = {n: [] for n in QUERIES}
    deadline = time.perf_counter() + ctx.seconds
    while not samples["q1_pricing_summary"] or time.perf_counter() < deadline:
        for name, secs in _sweep(spark, queries, sf_dir, tr)[0].items():
            samples[name].append(secs)
    meds = {n: median(ts) for n, ts in samples.items()}
    total = sum(meds.values())
    n_exec = sum(len(ts) for ts in samples.values())
    out.e2e["analytics.total_s"] = (total, "s", n_exec)
    out.generic = {
        "throughput_per_s": (len(QUERIES) / total, "1/s", n_exec),
        "latency_p50_ms": (median(meds.values()) * 1e3, "ms", n_exec),
        "latency_tail_ms": (max(meds.values()) * 1e3, "ms", n_exec),
    }
    if traced:  # one more sweep with spans on, attributed per family
        tr.enabled = True
        walls, fam = _sweep(spark, queries, sf_dir, tr)
        out.traced_generic = {
            "throughput_per_s": len(QUERIES) / sum(walls.values()),
            "latency_p50_ms": median(walls.values()) * 1e3,
            "latency_tail_ms": max(walls.values()) * 1e3,
        }
        for f in FAMILIES:
            out.layers[f"analytics.{f}.wall_s"] = sum(
                w for n, w in walls.items() if QUERIES[n] == f
            )
            cpu, shuffle, tasks = fam[f]
            out.layers[f"analytics.{f}.executor_cpu_s"] = cpu
            out.layers[f"analytics.{f}.shuffle_bytes"] = shuffle
            out.layers[f"analytics.{f}.tasks"] = tasks

    # -- correctness: every query's rows hash-match its DuckDB oracle
    t_verify = time.perf_counter()
    oracles = all_oracles()
    con = duckdb.connect()
    for name in tables:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")
    for name in QUERIES:
        df = queries[name](spark, sf_dir)
        rows = [tuple(r) for r in df.collect()]
        release_caches(spark)
        cur = con.execute(oracles[name])
        ok = same_rows(df.columns, rows, [d[0] for d in cur.description], cur.fetchall())
        out.check(ok, f"{name}: result differs from its DuckDB oracle")
    con.close()
    out.info["verify_s"] = time.perf_counter() - t_verify

    out.info.update(
        rows_lineitem=SIZES[ctx.size],
        sweeps=len(samples["q1_pricing_summary"]),
        fixture_s=median(reps),
        cold_sweep_s=cold_s,
        tail="slowest query's warm median",
        per_query_median_s={n: round(v, 4) for n, v in meds.items()},
    )
    return out
