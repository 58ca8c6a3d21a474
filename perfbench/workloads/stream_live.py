"""stream_live: open-loop event stream through a stateful streaming query.

One generator thread publishes CSV events (seeded Zipf keys) to three
``memory://`` subjects. One ``ev.*`` wildcard ``readStream`` query keeps
a per-key count and publishes it back to NATS through the ``nats``
stream sink (complete mode: the sink refuses update mode). The query
gets the README's scale-path reader options. After its first data epoch
(the warm-up, part of set-up) two phases are timed:

- catch-up: a backlog burst is published and drained; fetch + Arrow
  decode + aggregation dominate;
- live: events are published at a fixed rate well below catch-up
  capacity; each event's latency runs from its scheduled publish time to
  the end of the epoch that admitted it (per-epoch fixed cost dominates).

Correctness: the last count the sink published for every key must equal
the generator's ledger.
"""

from __future__ import annotations

import ast
import datetime as dt
import json
import os
import time
from collections import Counter

import numpy as np

from perfbench import data
from perfbench.common import CORES, log, median, percentile
from perfbench.workloads import Outcome

URL = "memory://perfbench-stream"
SUBJECTS = ("ev.a", "ev.b", "ev.c")
OUT_SUBJECT = "out.counts"
SIZES = {
    # backlog events per burst, live rate (events/s), distinct keys
    "full": {"backlog": 150_000, "rate": 2_000, "keys": 1_000},
    "tiny": {"backlog": 600, "rate": 100, "keys": 50},
}
LATE_LIMIT_MS = 100.0  # generator p99 lateness above this flags the run
DURATIONS = {
    "trigger_ms_p50": "triggerExecution",
    "add_batch_ms_p50": "addBatch",
    "latest_offset_ms_p50": "latestOffset",
    "query_planning_ms_p50": "queryPlanning",
    "wal_commit_ms_p50": "walCommit",
    "commit_offsets_ms_p50": "commitOffsets",
}


def _offsets(raw) -> dict[str, int]:
    """Source offsets as reported by progress events: a Python-repr dict."""
    if raw is None:
        return {}
    if isinstance(raw, str):
        raw = ast.literal_eval(raw)
    return dict(raw.get("offsets", {}))


def _epoch_end(p: dict) -> float:
    ts = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    start = ts.replace(tzinfo=dt.timezone.utc).timestamp()
    return start + p["durationMs"]["triggerExecution"] / 1e3


class Stream:
    """The query under test, the broker it reads, the ledger of events
    published per key, and each live event's due time by (subject, offset)."""

    def __init__(self, sctx, checkpoint: str, tracer) -> None:
        from pyspark.sql import functions as F

        from datafusion_nats_spark.sources.broker import get_broker

        self.broker = get_broker(URL)
        self.tracer = tracer
        self.ledger: Counter = Counter()
        self.sizes = {s: 0 for s in SUBJECTS}
        self.due: dict[tuple[str, int], float] = {}
        self.epochs: dict[int, dict] = {}
        events = sctx.stream_nats_table(
            "ev.*",
            data.EVENT_SCHEMA,
            url=URL,
            ingest="executor",
            decode="arrow",
            maxMessagesPerBatch=0,
            numPartitions=CORES,
        )
        counts = events.groupBy("k").agg(F.count(F.lit(1)).cast("int").alias("n"))
        self.writer = (
            counts.writeStream.format("nats")
            .option("url", URL)
            .option("subject", OUT_SUBJECT)
            .option("checkpointLocation", checkpoint)
            .outputMode("complete")
        )
        self.query = None

    def start(self) -> None:
        """Start (or restart from the checkpoint) the query."""
        self.query = self.writer.start()

    def stop(self) -> None:
        if self.query is not None:
            self.poll()
            self.query.stop()
            self.query = None

    def publish(self, i: int, key: int, line: bytes, due: float | None = None) -> None:
        s = SUBJECTS[i % len(SUBJECTS)]
        with self.tracer.span("broker.publish"):
            self.broker.publish(s, line)
        if due is not None:
            self.due[(s, self.sizes[s])] = due
        self.sizes[s] += 1
        self.ledger[key] += 1

    def poll(self) -> None:
        """Record the epochs executed since the last poll. Reads the JVM's
        progress ring newest-first and stops at the first epoch already
        seen: a handful of py4j calls, where ``query.recentProgress``
        converts every retained progress field by field and would load the
        driver it is measuring."""
        if self.query is None:
            return
        if self.query.exception() is not None:
            raise RuntimeError(f"streaming query failed: {self.query.exception()}")
        ring = self.query._jsq.recentProgress()
        seen = self.last_batch()
        for i in range(len(ring) - 1, -1, -1):
            jp = ring[i]
            if jp.batchId() <= seen:
                break
            p = json.loads(jp.json())
            if "addBatch" in p.get("durationMs", {}):  # skip no-data progress
                self.epochs[p["batchId"]] = p

    def drain(self, timeout_s: float) -> bool:
        """Wait until the query has committed everything published."""
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            self.poll()
            if self.epochs:
                got = _offsets(self.epochs[max(self.epochs)]["sources"][0]["endOffset"])
                if all(got.get(s, 0) >= n for s, n in self.sizes.items()):
                    return True
            time.sleep(0.1)
        return False

    def epochs_after(self, batch_id: int) -> list[dict]:
        return [self.epochs[b] for b in sorted(self.epochs) if b > batch_id]

    def last_batch(self) -> int:
        return max(self.epochs) if self.epochs else -1


def _phase_layers(epochs: list[dict], phase: str) -> dict:
    out = {}
    for name, key in DURATIONS.items():
        vals = [p["durationMs"].get(key, 0) for p in epochs]
        out[f"stream.{phase}.{name}"] = median(vals) if vals else 0.0
    out[f"stream.{phase}.epochs"] = len(epochs)
    rows = [p["numInputRows"] for p in epochs]
    out[f"stream.{phase}.rows_per_epoch_p50"] = median(rows) if rows else 0.0
    return out


def _timed(ctx, st: Stream, out: Outcome, salt: int) -> dict:
    """Catch-up then live; returns the phase figures. Enters with the
    query stopped and leaves it stopped."""
    size = SIZES[ctx.size]
    # catch-up: the backlog arrives while the consumer is down and is
    # drained after its restart; drain time is the catch-up epochs' summed
    # trigger time (the restart itself is query start-up, not draining)
    keys, lines = data.event_lines(ctx.seed, salt, size["backlog"], size["keys"])
    for i, (k, line) in enumerate(zip(keys, lines)):
        st.publish(i, k, line)
    before = st.last_batch()
    st.start()
    out.check(st.drain(150), "catch-up backlog not drained")
    catchup = st.epochs_after(before)
    catchup_s = sum(p["durationMs"]["triggerExecution"] for p in catchup) / 1e3

    # live: fixed-rate open loop, event i due at t0 + i/rate
    n_live = max(1, int(size["rate"] * ctx.seconds))
    keys, lines = data.event_lines(ctx.seed, salt + 1, n_live, size["keys"])
    before = st.last_batch()
    late: list[float] = []
    t0 = time.time() + 0.05
    next_poll = t0
    for i, (k, line) in enumerate(zip(keys, lines)):
        due = t0 + i / size["rate"]
        now = time.time()
        if now >= next_poll:  # keep the progress ring from overflowing
            st.poll()
            next_poll = now + 0.5
            now = time.time()
        if due > now:
            time.sleep(due - now)
        st.publish(i, k, line, due)
        late.append(max(0.0, time.time() - due))
    out.check(st.drain(60), "live events not drained")
    st.stop()
    live = st.epochs_after(before)

    lat = []
    for p in live:
        end = _epoch_end(p)
        a = _offsets(p["sources"][0]["startOffset"])
        b = _offsets(p["sources"][0]["endOffset"])
        for s in SUBJECTS:
            for off in range(a.get(s, 0), b.get(s, 0)):
                due = st.due.pop((s, off), None)
                if due is not None:
                    lat.append(end - due)
    out.check(len(lat) == n_live, f"{n_live - len(lat)} live events not attributed to an epoch")
    lat_ms = np.asarray(lat) * 1e3
    return {
        "catchup_rows_per_s": size["backlog"] / catchup_s,
        "catchup_epochs": catchup,
        "latency_p50_ms": percentile(lat_ms, 50),
        "latency_p99_ms": percentile(lat_ms, 99),
        "n_live": n_live,
        "live_epochs": live,
        "late_p99_ms": percentile(late, 99) * 1e3,
    }


def run(ctx) -> Outcome:
    from datafusion_nats_spark.context import SessionContext

    out = Outcome()
    tr = ctx.tracer
    traced = tr.enabled
    sctx = SessionContext(ctx.spark)

    # -- set-up: start the query and let its first data epoch finish
    t0 = time.perf_counter()
    st = Stream(sctx, os.path.join(ctx.rundir.checkpoints, "main"), tr)
    try:
        st.start()
        for i in range(len(SUBJECTS)):
            st.publish(i, i, f"{i},0.0,2024-01-01 00:00:00,warm,true,2024-01-01".encode())
        out.check(st.drain(150), "warm-up epoch did not complete")
        out.setup_s = time.perf_counter() - t0
        st.stop()

        tr.enabled = False
        res = _timed(ctx, st, out, salt=10)
        if traced:
            tr.enabled = True
            traced_res = _timed(ctx, st, out, salt=20)
    finally:
        st.stop()

    # -- correctness: the sink's last count per key equals the ledger
    emitted: dict[int, int] = {}
    for line in st.broker.fetch(OUT_SUBJECT, 0):
        k, n = line.decode().split(",")
        emitted[int(k)] = int(n)
    bad = sum(1 for k in set(st.ledger) | set(emitted) if st.ledger.get(k) != emitted.get(k))
    out.check(bad == 0, f"{bad} keys whose final count differs from the ledger")

    late_p99 = res["late_p99_ms"]
    out.info.update(
        gen_late_p99_ms=late_p99,
        generator_fell_behind=late_p99 > LATE_LIMIT_MS,
        backlog_events=SIZES[ctx.size]["backlog"],
        live_events=res["n_live"],
        live_rate_per_s=SIZES[ctx.size]["rate"],
        catchup_epochs=len(res["catchup_epochs"]),
        live_epochs=len(res["live_epochs"]),
        live_trigger_ms=[p["durationMs"]["triggerExecution"] for p in res["live_epochs"]],
        catchup_trigger_ms=[p["durationMs"]["triggerExecution"] for p in res["catchup_epochs"]],
        tail="p99 per live event",
    )
    if late_p99 > LATE_LIMIT_MS:
        log(f"generator fell behind: p99 lateness {late_p99:.1f} ms > {LATE_LIMIT_MS} ms")
    n_ep = len(res["catchup_epochs"])
    out.e2e["stream.catchup_rows_per_s"] = (res["catchup_rows_per_s"], "rows/s", n_ep)
    out.e2e["stream.latency_p50_ms"] = (res["latency_p50_ms"], "ms", res["n_live"])
    out.e2e["stream.latency_p99_ms"] = (res["latency_p99_ms"], "ms", res["n_live"])
    out.generic = {
        "throughput_per_s": out.e2e["stream.catchup_rows_per_s"],
        "latency_p50_ms": out.e2e["stream.latency_p50_ms"],
        "latency_tail_ms": out.e2e["stream.latency_p99_ms"],
    }

    if traced:
        out.traced_generic = {
            "throughput_per_s": traced_res["catchup_rows_per_s"],
            "latency_p50_ms": traced_res["latency_p50_ms"],
            "latency_tail_ms": traced_res["latency_p99_ms"],
        }
        out.layers.update(_phase_layers(traced_res["catchup_epochs"], "catchup"))
        out.layers.update(_phase_layers(traced_res["live_epochs"], "live"))
        state = traced_res["live_epochs"][-1].get("stateOperators") or [{}]
        out.layers["stream.state_rows"] = state[0].get("numRowsTotal", 0)
        out.layers["stream.state_memory_bytes"] = state[0].get("memoryUsedBytes", 0)
        out.layers["gen.late_p99_ms"] = traced_res["late_p99_ms"]
        out.layers["broker.publish_us"] = median(tr.self_times()["broker.publish"]) * 1e6
        out.layers.update(probe_stream_layers(tr, st.broker))
    return out


def probe_stream_layers(tr, broker) -> dict:
    """In-process calls into the broker, codec and stream reader on this
    workload's final log, each under its own span."""
    from pyspark.sql import types as T

    from datafusion_nats_spark.codec import decode_payloads_arrow_indexed
    from datafusion_nats_spark.sources.nats_source import NatsStreamReader

    for _ in range(5):
        with tr.span("broker.size"):
            for s in SUBJECTS:
                broker.size(s)
        with tr.span("broker.list_subjects"):
            broker.list_subjects()
    payloads = []
    with tr.span("broker.fetch"):
        for s in SUBJECTS:
            payloads.extend(broker.fetch(s, 0))
    schema = T._parse_datatype_string(data.EVENT_SCHEMA)
    with tr.span("codec.decode_payloads_arrow"):
        table, _ = decode_payloads_arrow_indexed(payloads, schema, "permissive-skip")
    opts = {"url": URL, "subject": "ev.*", "maxMessagesPerBatch": "0",
            "ingest": "executor", "decode": "arrow"}
    for _ in range(5):
        reader = NatsStreamReader(schema, opts)
        with tr.span("source.stream_latest_offset"):
            reader.latestOffset()
    st = tr.self_times()
    per100k = 1e5 / max(1, len(payloads))
    return {
        "broker.size_ms": median(st["broker.size"]) * 1e3,
        "broker.list_subjects_ms": median(st["broker.list_subjects"]) * 1e3,
        "broker.fetch_ms_per_100k": st["broker.fetch"][0] * 1e3 * per100k,
        "codec.arrow_decode_ms_per_100k": st["codec.decode_payloads_arrow"][0] * 1e3 * per100k,
        "codec.rows_rejected": len(payloads) - table.num_rows,
        "source.stream_latest_offset_ms": median(st["source.stream_latest_offset"]) * 1e3,
    }
