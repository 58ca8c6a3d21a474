"""replay_sql: SQL over a replayed NATS backlog, closed loop, one client.

Generated lineitem rows (seven wire-legal columns, seed-shuffled) are
published to three ``memory://`` subjects before timing and registered
with ``SessionContext.register_nats_table`` using only url, subject and
schema — the defaults a user gets: driver ingest, one partition, row
decode through ``CsvCodec.parse_line``. A fixed statement set is then
repeated: a TPC-H Q1-shaped full-scan aggregate, a Q6-shaped selective
filter, the reference golden flow ``SELECT * ... LIMIT 3`` and a join to
parquet ``orders``. Every result is checked against DuckDB over the same
generated rows.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa

from perfbench import data
from perfbench.common import median, rows_read_per_row_returned
from perfbench.oracle import close_rows
from perfbench.workloads import Outcome

URL = "memory://perfbench-replay"
SUBJECTS = ("lineitem.p0", "lineitem.p1", "lineitem.p2")
SIZES = {"full": 8_000, "tiny": 300}

STATEMENTS = {
    "q1_scan_agg": """
        SELECT l_returnflag, l_linestatus,
               sum(l_quantity) AS sum_qty,
               sum(l_extendedprice) AS sum_base_price,
               sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
               avg(l_quantity) AS avg_qty,
               avg(l_discount) AS avg_disc,
               count(*) AS count_order
        FROM lineitem_nats
        WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus""",
    "q6_filter": """
        SELECT sum(l_extendedprice * l_discount) AS revenue, count(*) AS n
        FROM lineitem_nats
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24""",
    "golden_limit3": "SELECT * FROM lineitem_nats LIMIT 3",
    # the hint pins the plan a user would pick for a small dimension table;
    # unhinted, AQE re-plans the join at run time and its cost wanders
    "join_orders": """
        SELECT /*+ BROADCAST(orders) */
               o_orderpriority, count(*) AS n, sum(l_extendedprice) AS revenue
        FROM lineitem_nats JOIN orders ON l_orderkey = o_orderkey
        WHERE l_discount >= 0.05
        GROUP BY o_orderpriority""",
}
ORDERED = {"golden_limit3"}
FULL_SCANS = ("q1_scan_agg", "q6_filter", "join_orders")  # each reads the whole backlog


def _publish_backlog(broker, rows) -> None:
    for i, row in enumerate(rows):
        broker.publish(SUBJECTS[i % len(SUBJECTS)], data.encode_csv(row))


def _expected(rows, orders_path) -> dict[str, list[tuple]]:
    """DuckDB over the same generated rows. The LIMIT 3 golden answer is
    publish order: the first three rows of the first subject."""
    import duckdb

    cols = list(zip(*rows))
    li = pa.table(
        {
            name: pa.array(cols[i], pa.timestamp("us") if name == "l_shipdate" else None)
            for i, name in enumerate(data.LINEITEM_WIRE_COLUMNS)
        }
    )
    con = duckdb.connect()
    con.register("lineitem_nats", li)
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{orders_path}'")
    out = {n: con.execute(sql).fetchall() for n, sql in STATEMENTS.items() if n not in ORDERED}
    con.close()
    first = rows[0 :: len(SUBJECTS)]
    out["golden_limit3"] = [tuple(r) for r in first[:3]]
    return out


def run(ctx) -> Outcome:
    from datafusion_nats_spark.context import SessionContext
    from datafusion_nats_spark.sources.broker import get_broker

    out = Outcome()
    tr = ctx.tracer
    traced = tr.enabled
    n_rows = SIZES[ctx.size]
    sctx = SessionContext(ctx.spark)

    # -- set-up: generate, publish (repeated, median kept), register, warm
    star = data.star_schema(ctx.seed, n_rows)
    rows = data.lineitem_wire_rows(star["lineitem"], ctx.seed)
    orders_path = os.path.join(ctx.rundir.data, "orders.parquet")
    data.write_star_schema({"orders": star["orders"]}, ctx.rundir.data)
    expected = _expected(rows, orders_path)
    reps = []
    for rep in range(ctx.setup_reps):  # the last rep publishes the broker the queries read
        url = URL if rep == ctx.setup_reps - 1 else f"{URL}-rep{rep}"
        t0 = time.perf_counter()
        with tr.span("broker.publish_backlog"):
            _publish_backlog(get_broker(url), rows)
        reps.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    with tr.span("context.register_nats_table"):
        sctx.register_nats_table(
            "lineitem_nats", "lineitem.*", schema=data.LINEITEM_WIRE_SCHEMA, url=URL
        )
    sctx.register_parquet("orders", orders_path)

    def execute(name: str) -> tuple[float, object, list]:
        t = time.perf_counter()
        with tr.span("context.sql", statement=name):
            df = sctx.sql(STATEMENTS[name])
        with tr.span("spark.collect", statement=name):
            got = [tuple(r) for r in df.collect()]
        return time.perf_counter() - t, df, got

    def checked(name: str) -> float | None:
        """Run one statement; its seconds, or None when it errors or its
        result differs from DuckDB (either counts as a failed op)."""
        try:
            secs, _, got = execute(name)
        except Exception as e:  # a statement error is a failed op, not a crash
            out.check(False, f"{name}: {type(e).__name__}: {e}")
            return None
        ok = close_rows(got, expected[name], ordered=name in ORDERED)
        return secs if out.check(ok, f"{name}: result differs from DuckDB") else None

    for name in STATEMENTS:  # warm-up round, checked too
        checked(name)
    out.setup_s = median(reps) + time.perf_counter() - t0

    # -- timed: whole rounds of the statement set until the time is spent
    def timed() -> tuple[dict, int, float]:
        samples: dict[str, list[float]] = {n: [] for n in STATEMENTS}
        deadline = time.perf_counter() + ctx.seconds
        rounds = 0
        while rounds == 0 or time.perf_counter() < deadline:
            for name in STATEMENTS:
                secs = checked(name)
                if secs is not None:
                    samples[name].append(secs)
            rounds += 1
        if not all(samples.values()):
            raise RuntimeError("a statement failed in every round")
        meds = {n: median(ts) for n, ts in samples.items()}
        scans = [t for n in FULL_SCANS for t in samples[n]]
        pooled = [t for ts in samples.values() for t in ts]
        out.info["samples_s"] = {n: [round(t, 3) for t in ts] for n, ts in samples.items()}
        return meds, pooled, n_rows * len(scans) / sum(scans)

    tr.enabled = False
    meds, pooled, scan_rate = timed()
    n_exec = len(pooled)
    rounds = n_exec // len(STATEMENTS)
    out.e2e["replay.scan_rows_per_s"] = (scan_rate, "rows/s", rounds * len(FULL_SCANS))
    out.e2e["replay.query_p50_s"] = (median(pooled), "s", n_exec)
    out.generic = {
        "throughput_per_s": out.e2e["replay.scan_rows_per_s"],
        "latency_p50_ms": (median(pooled) * 1e3, "ms", n_exec),
        "latency_tail_ms": (max(meds.values()) * 1e3, "ms", n_exec),
    }
    out.info.update(
        backlog_rows=n_rows,
        rounds=rounds,
        tail="slowest statement's median",
        per_statement_median_s={n: round(v, 4) for n, v in meds.items()},
    )

    if traced:
        tr.enabled = True
        tmeds, tpooled, tscan_rate = timed()
        out.traced_generic = {
            "throughput_per_s": tscan_rate,
            "latency_p50_ms": median(tpooled) * 1e3,
            "latency_tail_ms": max(tmeds.values()) * 1e3,
        }
        # useful work on LIMIT 3: rows the reader shipped (bytes received
        # from the Python reader, in full-scan rows) per row returned
        out.layers["source.rows_read_per_row_returned"] = rows_read_per_row_returned(
            execute("q1_scan_agg")[1], execute("golden_limit3")[1], 3
        )
        st = tr.self_times()
        out.layers["broker.publish_us"] = median(st["broker.publish_backlog"]) / n_rows * 1e6
        out.layers["context.register_ms"] = st["context.register_nats_table"][0] * 1e3
        out.layers["context.sql_analyze_ms"] = median(st["context.sql"]) * 1e3
        out.layers.update(probe_batch_layers(tr, get_broker(URL), n_rows))
    return out


def probe_batch_layers(tr, broker, n_rows: int) -> dict:
    """In-process calls into the broker, codec and batch reader on this
    workload's backlog, each under its own span."""
    from datafusion_nats_spark.codec import CsvCodec
    from datafusion_nats_spark.sources.nats_source import NatsBatchReader
    from pyspark.sql import types as T

    schema = T._parse_datatype_string(data.LINEITEM_WIRE_SCHEMA)
    opts = {"url": URL, "subject": "lineitem.*"}
    payloads = []
    with tr.span("broker.fetch"):
        for s in SUBJECTS:
            payloads.extend(broker.fetch(s, 0))
    codec = CsvCodec(schema)
    lines = [p.decode() for p in payloads]
    with tr.span("codec.parse_line"):
        for line in lines:
            codec.parse_line(line)
    reader = NatsBatchReader(schema, opts)
    with tr.span("source.batch_plan"):
        parts = reader.partitions()
    with tr.span("source.batch_read"):
        n_read = sum(1 for p in parts for _ in reader.read(p))
    st = tr.self_times()
    per100k = 1e5 / max(1, n_rows)
    return {
        "broker.fetch_ms_per_100k": st["broker.fetch"][0] * 1e3 * per100k,
        "codec.parse_line_us": st["codec.parse_line"][0] / max(1, len(lines)) * 1e6,
        "codec.rows_rejected": len(payloads) - n_read,
        "source.batch_plan_ms": st["source.batch_plan"][0] * 1e3,
        "source.batch_read_ms_per_100k": st["source.batch_read"][0] * 1e3 * per100k,
        "source.partitions": len(parts),
    }
