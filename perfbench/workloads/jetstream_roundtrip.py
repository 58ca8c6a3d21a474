"""jetstream_roundtrip: acked publishes and read-back over the NATS wire.

A ``MiniNatsServer(jetstream=True)`` runs in its own process on an
ephemeral loopback port as fixed infrastructure. Closed loop, one
client, in rounds until the time is spent: publish a block of CSV rows
through ``JetStreamBroker.publish`` (each acked), then read exactly that
block back with ``spark.read.format("nats")`` and ``transport=jetstream``
(offset-bounded). This is the only workload on ``sources/nats_wire.py``,
the reference's network transport. The rows read back must equal the
published payloads, in order.
"""

from __future__ import annotations

import datetime as dt
import subprocess
import sys
import time

import numpy as np

from perfbench.common import ROOT, median, percentile, rows_read_per_row_returned
from perfbench.workloads import Outcome

SUBJECT = "js.rt"
SCHEMA = "seq INT, name STRING, amount DOUBLE, ts TIMESTAMP"
SIZES = {"full": 30, "tiny": 3}  # rows per round


class Server:
    """The JetStream server child process."""

    def __init__(self) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.js_server"],
            cwd=ROOT,
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        self.url = self.proc.stdout.readline().strip()
        if not self.url.startswith("nats://"):
            self.stop()
            raise RuntimeError("JetStream server did not start")

    def stop(self) -> None:
        """Idempotent: EOF on its stdin ends the server; wait for it."""
        self.proc.stdin.close()
        self.proc.wait(timeout=30)
        self.proc.stdout.close()


def _rows(seed: int, start: int, n: int) -> list[tuple]:
    rng = np.random.default_rng([seed, 5, start])
    base = dt.datetime(2025, 7, 25, 15, 42, 35)
    return [
        (
            start + i,
            f"name{int(rng.integers(0, 10_000))}",
            float(np.round(rng.uniform(0, 1000), 5)),
            base + dt.timedelta(seconds=int(rng.integers(0, 10**7))),
        )
        for i in range(n)
    ]


def _line(row: tuple) -> bytes:
    seq, name, amount, ts = row
    return f"{seq},{name},{amount!r},{ts:%Y-%m-%d %H:%M:%S}".encode()


def run(ctx) -> Outcome:
    from datafusion_nats_spark.context import SessionContext
    from datafusion_nats_spark.sources.broker import JetStreamBroker
    from datafusion_nats_spark.sources.nats_wire import NatsWireError

    out = Outcome()
    tr = ctx.tracer
    traced = tr.enabled
    sctx = SessionContext(ctx.spark)
    block = SIZES[ctx.size]

    # -- set-up: server start (repeated, median kept), then one warm round
    reps, servers = [], []
    try:
        for _ in range(ctx.setup_reps):
            t0 = time.perf_counter()
            servers.append(Server())
            reps.append(time.perf_counter() - t0)
        for s in servers[:-1]:
            s.stop()
        server = servers[-1]
        broker = JetStreamBroker(server.url)
        published = 0

        def round_trip(n: int) -> tuple[list[float], float]:
            nonlocal published
            pub, rows = [], []
            for row in _rows(ctx.seed, published, n):
                t = time.perf_counter()
                try:
                    with tr.span("broker.publish"):
                        broker.publish(SUBJECT, _line(row))  # raises unless acked
                except NatsWireError as e:
                    out.check(False, f"publish of row {row[0]} not acked: {e}")
                    continue
                pub.append(time.perf_counter() - t)
                rows.append(row)
            out.attempted += len(rows)  # the acked publishes
            t = time.perf_counter()
            with tr.span("spark.read_jetstream"):
                got = [
                    tuple(r)
                    for r in sctx.spark.read.format("nats")
                    .schema(SCHEMA)
                    .option("url", server.url)
                    .option("subject", SUBJECT)
                    .option("transport", "jetstream")
                    .option("startingOffset", published)
                    .option("endingOffset", published + len(rows))
                    .load()
                    .collect()
                ]
            read_s = time.perf_counter() - t
            out.check(got == rows, f"rows {published}..{published + len(rows)} read back differ")
            published += len(rows)
            return pub, read_s

        t0 = time.perf_counter()
        round_trip(block)
        out.setup_s = median(reps) + time.perf_counter() - t0

        def timed() -> dict:
            pub, reads = [], []
            deadline = time.perf_counter() + ctx.seconds
            while not reads or time.perf_counter() < deadline:
                p, r = round_trip(block)
                pub.extend(p)
                reads.append(r)
            return {
                "publish_msgs_per_s": len(pub) / sum(pub),
                "scan_rows_per_s": len(pub) / sum(reads),
                "p50_ms": percentile(pub, 50) * 1e3,
                "p80_ms": percentile(pub, 80) * 1e3,
                "n_pub": len(pub),
                "n_read": len(reads),
            }

        tr.enabled = False
        res = timed()
        if traced:
            tr.enabled = True
            tres = timed()
            out.traced_generic = {
                "throughput_per_s": tres["scan_rows_per_s"],
                "latency_p50_ms": tres["p50_ms"],
                "latency_tail_ms": tres["p80_ms"],
            }
            out.layers.update(probe_wire_layers(tr, broker, server.url, published))
            out.layers.update(probe_batch_layers(tr, sctx, broker, server.url, min(published, 20)))
    finally:
        for s in servers:
            s.stop()

    out.e2e["jetstream.publish_msgs_per_s"] = (res["publish_msgs_per_s"], "msgs/s", res["n_pub"])
    out.e2e["jetstream.scan_rows_per_s"] = (res["scan_rows_per_s"], "rows/s", res["n_read"])
    out.generic = {
        "throughput_per_s": out.e2e["jetstream.scan_rows_per_s"],
        "latency_p50_ms": (res["p50_ms"], "ms", res["n_pub"]),
        "latency_tail_ms": (res["p80_ms"], "ms", res["n_pub"]),
    }
    out.info.update(
        rows_per_round=block,
        published=published,
        tail="p80 per acked publish",
    )
    return out


def probe_wire_layers(tr, broker, url: str, n_msgs: int) -> dict:
    """In-process calls into the wire client and the JetStream broker on
    this workload's stream, each under its own span."""
    from datafusion_nats_spark.sources.nats_wire import JetStreamWireClient, MiniNatsClient

    name = broker.stream_name(SUBJECT)
    wire = JetStreamWireClient(url)
    reps = 5
    for _ in range(reps):
        c = MiniNatsClient(url)
        with tr.span("wire.connect"):
            c.connect()
        with tr.span("wire.request"):
            c.request(f"$JS.API.STREAM.INFO.{name}", b"")
        c.close()
        with tr.span("wire.publish"):
            wire.publish(SUBJECT, b"0,probe,0.0,2025-07-25 15:42:35")
        with tr.span("broker.size"):
            broker.size(SUBJECT)
        with tr.span("broker.list_subjects"):
            broker.list_subjects()
    n = min(n_msgs, 20)
    with tr.span("wire.get_range"):
        wire.get_range(name, 1, n)
    with tr.span("broker.fetch"):
        broker.fetch(SUBJECT, 0, n)
    st = tr.self_times()
    return {
        "wire.connect_ms": median(st["wire.connect"]) * 1e3,
        "wire.request_ms": median(st["wire.request"]) * 1e3,
        "wire.publish_ms": median(st["wire.publish"]) * 1e3,
        "wire.get_range_ms_per_msg": st["wire.get_range"][0] * 1e3 / n,
        "broker.publish_us": median(st["broker.publish"]) * 1e6,
        "broker.size_ms": median(st["broker.size"]) * 1e3,
        "broker.list_subjects_ms": median(st["broker.list_subjects"]) * 1e3,
        "broker.fetch_ms_per_100k": st["broker.fetch"][0] * 1e3 * 1e5 / n,
    }


def probe_batch_layers(tr, sctx, broker, url: str, n: int) -> dict:
    """The batch read path (context, batch reader, row codec) on this
    workload's first ``n`` messages, each call under its own span."""
    from pyspark.sql import types as T

    from datafusion_nats_spark.codec import CsvCodec
    from datafusion_nats_spark.sources.nats_source import NatsBatchReader

    with tr.span("context.register_nats_table"):
        sctx.register_nats_table(
            "js_rt", SUBJECT, schema=SCHEMA, url=url, transport="jetstream", endingOffset=n
        )
    with tr.span("context.sql"):
        full = sctx.sql("SELECT * FROM js_rt")
    full.collect()
    with tr.span("context.sql"):
        limited = sctx.sql("SELECT * FROM js_rt LIMIT 3")
    limited.collect()
    schema = T._parse_datatype_string(SCHEMA)
    reader = NatsBatchReader(
        schema, {"url": url, "subject": SUBJECT, "transport": "jetstream", "endingOffset": str(n)}
    )
    with tr.span("source.batch_plan"):
        parts = reader.partitions()
    with tr.span("source.batch_read"):
        n_read = sum(1 for p in parts for _ in reader.read(p))
    codec = CsvCodec(schema)
    lines = [p.decode() for p in broker.fetch(SUBJECT, 0, n)]
    with tr.span("codec.parse_line"):
        for line in lines:
            codec.parse_line(line)
    st = tr.self_times()
    return {
        "context.register_ms": st["context.register_nats_table"][0] * 1e3,
        "context.sql_analyze_ms": median(st["context.sql"]) * 1e3,
        "source.rows_read_per_row_returned": rows_read_per_row_returned(full, limited, 3),
        "source.batch_plan_ms": st["source.batch_plan"][0] * 1e3,
        "source.batch_read_ms_per_100k": st["source.batch_read"][0] * 1e3 * 1e5 / n,
        "source.partitions": len(parts),
        "codec.parse_line_us": st["codec.parse_line"][0] / len(lines) * 1e6,
        "codec.rows_rejected": n - n_read,
    }
