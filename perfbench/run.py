"""Engine benchmark: one command, four workloads, correctness-checked.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Workloads: stream_live, replay_sql, jetstream_roundtrip, parquet_analytics
(why each exists: perfbench/README.md). Inputs are generated from --seed.
The last stdout line is one JSON object {correct, attempted, failed,
metrics}: with --trace 0 the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics. The line before it is the full record
(the workload's own metric names with units and sample counts, validity
stamps, per-query detail). A failed correctness check exits 1.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = ("stream_live", "replay_sql", "jetstream_roundtrip", "parquet_analytics")
STEAL_LIMIT = 0.05  # a run that lost more CPU than this to other guests is flagged
E2E_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
}


def _stream_phase_layers() -> list[tuple[str, str, str]]:
    out = []
    for phase, more_epochs in (("catchup", "lower"), ("live", "higher")):
        for m in (
            "trigger_ms_p50",
            "add_batch_ms_p50",
            "latest_offset_ms_p50",
            "query_planning_ms_p50",
            "wal_commit_ms_p50",
            "commit_offsets_ms_p50",
        ):
            out.append((f"stream.{phase}.{m}", "ms", "lower"))
        out.append((f"stream.{phase}.epochs", "count", more_epochs))
        fewer = "higher" if more_epochs == "lower" else "lower"
        out.append((f"stream.{phase}.rows_per_epoch_p50", "count", fewer))
    return out


# Every per-layer metric of BENCHMARK.json, in its order: (name, unit,
# better). A workload reports 0 for a layer it does not exercise.
LAYERS: list[tuple[str, str, str]] = [
    ("session.start_s", "s", "lower"),
    ("broker.publish_us", "us", "lower"),
    ("broker.size_ms", "ms", "lower"),
    ("broker.list_subjects_ms", "ms", "lower"),
    ("broker.fetch_ms_per_100k", "ms", "lower"),
    ("codec.parse_line_us", "us", "lower"),
    ("codec.arrow_decode_ms_per_100k", "ms", "lower"),
    ("codec.rows_rejected", "count", "lower"),
    ("source.batch_plan_ms", "ms", "lower"),
    ("source.batch_read_ms_per_100k", "ms", "lower"),
    ("source.partitions", "count", "higher"),
    ("source.stream_latest_offset_ms", "ms", "lower"),
    ("source.rows_read_per_row_returned", "ratio", "lower"),
    *_stream_phase_layers(),
    ("stream.state_rows", "count", "lower"),
    ("stream.state_memory_bytes", "bytes", "lower"),
    ("gen.late_p99_ms", "ms", "lower"),
    ("wire.connect_ms", "ms", "lower"),
    ("wire.publish_ms", "ms", "lower"),
    ("wire.request_ms", "ms", "lower"),
    ("wire.get_range_ms_per_msg", "ms", "lower"),
    ("context.register_ms", "ms", "lower"),
    ("context.sql_analyze_ms", "ms", "lower"),
    ("trace.overhead.throughput_per_s", "1/s", "higher"),
    ("trace.overhead.latency_p50_ms", "ms", "lower"),
    ("trace.overhead.latency_tail_ms", "ms", "lower"),
]
ANALYTICS_UNITS = {"wall_s": "s", "executor_cpu_s": "s", "shuffle_bytes": "bytes", "tasks": "count"}


def layer_unit(name: str) -> str:
    for n, unit, _ in LAYERS:
        if n == name:
            return unit
    return ANALYTICS_UNITS[name.rsplit(".", 1)[1]]  # parquet_analytics' own


class Ctx:
    def __init__(self, args, rundir, tracer, spark) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.size = args.size
        self.setup_reps = 3
        self.rundir = rundir
        self.tracer = tracer
        self.spark = spark


def run_one(args) -> int:
    from datafusion_nats_spark.session import get_spark
    from perfbench import common
    from perfbench.trace import Tracer

    workload = importlib.import_module(f"perfbench.workloads.{args.workload}")
    start_stamp = common.stamp()
    rundir = common.RunDir()
    tracer = Tracer(bool(args.trace))
    outcome = None
    try:
        with common.PeakRss() as rss:
            t0 = time.perf_counter()
            with tracer.span("session.start"):
                spark = get_spark(f"perfbench-{args.workload}")
            session_s = time.perf_counter() - t0
            gateway = spark.sparkContext._gateway
            jvm_proc = getattr(gateway, "proc", None)
            try:
                outcome = workload.run(Ctx(args, rundir, tracer, spark))
            finally:
                spark.stop()
                gateway.shutdown()
                if jvm_proc is not None:
                    jvm_proc.stdin.close()
                    jvm_proc.wait(timeout=60)
    finally:
        rundir.remove()
    end_stamp = common.stamp()

    e2e = {
        "setup_s": (session_s + outcome.setup_s, "s", 1),
        "peak_rss_mb": (rss.mb, "MB", rss.samples),
        **outcome.e2e,
        "ops_failed_frac": (outcome.failed / max(1, outcome.attempted), "fraction", outcome.attempted),
    }
    generic = {"setup_s": e2e["setup_s"], "peak_rss_mb": e2e["peak_rss_mb"], **outcome.generic}
    layers = {n: 0.0 for n, _, _ in LAYERS}
    layers.update(outcome.layers)
    layers["session.start_s"] = session_s
    # tracing overhead: the timed phase run again with spans on, minus untraced
    for m, v in outcome.traced_generic.items():
        layers[f"trace.overhead.{m}"] = v - generic[m][0]
    finite = all(common.finite(v[0]) for v in generic.values())
    correct = outcome.failed == 0 and outcome.attempted > 0 and finite
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": common.CORES,
        "stamp_start": start_stamp,
        "stamp_end": end_stamp,
        "cpu_steal_share": common.steal_share(start_stamp, end_stamp),
        "host_contended": common.steal_share(start_stamp, end_stamp) > STEAL_LIMIT,
        "gen_late_p99_ms": outcome.info.get("gen_late_p99_ms"),
        "generator_fell_behind": outcome.info.get("generator_fell_behind", False),
        "metrics": {k: common.metric(*v) for k, v in e2e.items()},
        "contract_metrics": {k: common.metric(*v) for k, v in generic.items()},
        "info": outcome.info,
        "errors": outcome.errors,
    }
    if args.trace:
        path = os.path.join(
            ROOT, ".perfbench_traces", f"{args.workload}-{args.seed}-{tracer.run_id}.jsonl"
        )
        tracer.write(path)
        record["span_file"] = os.path.relpath(path, ROOT)
        record["layers"] = layers
        metrics = {n: {"value": float(v), "unit": layer_unit(n)} for n, v in layers.items()}
    else:
        metrics = {m: {"value": float(generic[m][0]), "unit": E2E_UNITS[m]} for m in E2E_UNITS}
    print(json.dumps({"record": record}))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": outcome.attempted,
                "failed": outcome.failed,
                "metrics": metrics,
            }
        )
    )
    for err in outcome.errors[:20]:
        common.log(f"CHECK FAILED: {err}")
    return 0 if correct else 1


def run_all(args) -> int:
    """Every workload in turn (each in its own process), then the
    end-to-end metrics of all of them together."""
    merged, attempted, failed, rc = {}, 0, 0, 0
    for w in WORKLOADS:
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", w,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--size", args.size,
        ]
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
        sys.stderr.write(proc.stderr[-4000:])
        lines = proc.stdout.strip().splitlines()
        if len(lines) < 2:
            print(json.dumps({"workload": w, "error": f"exit {proc.returncode}"}))
            rc = 1
            continue
        record = json.loads(lines[-2])["record"]
        last = json.loads(lines[-1])
        attempted += last["attempted"]
        failed += last["failed"]
        rc = rc or proc.returncode
        print(json.dumps({"record": record}))
        for name, m in record["metrics"].items():
            if name in ("setup_s", "peak_rss_mb", "ops_failed_frac"):
                name = f"{w}.{name}"
            merged[name] = m
    merged["ops_failed_frac"] = {
        "value": failed / max(1, attempted), "unit": "fraction", "samples": attempted,
    }
    for name in sorted(merged):
        m = merged[name]
        print(f"{name:42s} {m['value']:>14.4f} {m['unit']:<9s} n={m['samples']}", file=sys.stderr)
    print(json.dumps({"correct": rc == 0 and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": merged}))
    return rc


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    args = p.parse_args(argv)
    # fail fast, before any set-up, when the engine is not next to us
    import datafusion_nats_spark  # noqa: F401

    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
