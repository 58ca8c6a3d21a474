"""End-to-end tests for the NATS source — the golden fixtures of the
reference (FIXTURES.md §A1): publish `1,apple / 2,banana / 3,orange`,
run the reference's two SQL queries, expect exact rows.

Ordering lesson applied (SURVEY §5.3): the in-memory broker retains its
log, so publish-then-read is deterministic — unlike the reference's own
integration test, which races a non-replayable broker."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from datafusion_nats_spark.sources import get_broker, register

KV_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("name", T.StringType(), False),
    ]
)

GOLDEN = [b"1,apple", b"2,banana", b"3,orange"]


@pytest.fixture()
def broker():
    b = get_broker("memory://test")
    b.clear()
    yield b
    b.clear()


def _read(spark, subject, **opts):
    reader = (
        spark.read.format("nats")
        .schema(KV_SCHEMA)
        .option("url", "memory://test")
        .option("subject", subject)
    )
    for k, v in opts.items():
        reader = reader.option(k, v)
    return reader.load()


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register(spark)


def test_golden_select_star_limit3(spark, broker):
    # reference: examples/simple_query.rs:77  (SELECT * FROM nats_table limit 3)
    for payload in GOLDEN:
        broker.publish("fruits", payload)
    df = _read(spark, "fruits")
    df.createOrReplaceTempView("nats_table")
    rows = spark.sql("SELECT * FROM nats_table LIMIT 3").collect()
    assert [(r.id, r.name) for r in rows] == [(1, "apple"), (2, "banana"), (3, "orange")]


def test_golden_projection_limit(spark, broker):
    # reference: tests/integration_test.rs:53 (SELECT id, name FROM nats_table limit 3)
    for payload in GOLDEN + [b"4,plum", b"5,mango"]:
        broker.publish("fruits", payload)
    df = _read(spark, "fruits")
    df.createOrReplaceTempView("nats_table")
    rows = spark.sql("SELECT id, name FROM nats_table limit 3").collect()
    assert len(rows) == 3
    assert [(r.id, r.name) for r in rows] == [(1, "apple"), (2, "banana"), (3, "orange")]


def test_max_messages_bounds_consumption(spark, broker):
    for i in range(10):
        broker.publish("bounded", f"{i},item{i}".encode())
    df = _read(spark, "bounded", maxMessages="4")
    assert df.count() == 4


def test_multi_partition_read(spark, broker):
    for i in range(100):
        broker.publish("wide", f"{i},item{i}".encode())
    df = _read(spark, "wide", numPartitions="8")
    assert df.rdd.getNumPartitions() == 8
    assert df.count() == 100
    assert sorted(r.id for r in df.collect()) == list(range(100))


def test_failfast_mode_raises(spark, broker):
    broker.publish("bad", b"1,ok")
    broker.publish("bad", b"oops")  # arity 1 != 2
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    with pytest.raises((Py4JJavaError, PySparkException, Exception)):
        _read(spark, "bad").collect()


@pytest.mark.parametrize("decode", [None, "arrow"])
def test_permissive_skip_mode(spark, broker, decode):
    broker.publish("mixed", b"1,ok")
    broker.publish("mixed", b"nope")  # bad arity — skipped
    broker.publish("mixed", b"x,bad-int")  # bad int — skipped
    broker.publish("mixed", b"2,fine")
    opts = {"decode": decode} if decode else {}
    rows = _read(spark, "mixed", mode="permissive-skip", **opts).collect()
    assert [(r.id, r.name) for r in rows] == [(1, "ok"), (2, "fine")]


def test_all_six_types_roundtrip(spark, broker):
    import datetime

    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType(), False),
            T.StructField("name", T.StringType(), False),
            T.StructField("active", T.BooleanType(), False),
            T.StructField("amount", T.DoubleType(), False),
            T.StructField("created_at", T.TimestampType(), False),
            T.StructField("date", T.DateType(), False),
        ]
    )
    # golden payload: reference csv_test.rs:134
    broker.publish("alltypes", b"42,John Doe,true,3.14159,2025-07-25 15:42:35,2025-07-25")
    row = (
        spark.read.format("nats")
        .schema(schema)
        .option("url", "memory://test")
        .option("subject", "alltypes")
        .load()
        .collect()[0]
    )
    assert row.id == 42 and row.name == "John Doe" and row.active is True
    assert row.amount == 3.14159
    assert row.created_at == datetime.datetime(2025, 7, 25, 15, 42, 35)
    assert row.date == datetime.date(2025, 7, 25)


def test_streaming_microbatches(spark, broker):
    for payload in GOLDEN:
        broker.publish("stream", payload)
    q = (
        spark.readStream.format("nats")
        .schema(KV_SCHEMA)
        .option("url", "memory://test")
        .option("subject", "stream")
        .option("maxMessagesPerBatch", "2")  # force multiple micro-batches
        .load()
        .writeStream.format("memory")
        .queryName("nats_stream_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # late publishes picked up by subsequent triggers
        broker.publish("stream", b"4,plum")
        broker.publish("stream", b"5,mango")
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM nats_stream_out ORDER BY id").collect()
        assert [(r.id, r.name) for r in rows] == [
            (1, "apple"),
            (2, "banana"),
            (3, "orange"),
            (4, "plum"),
            (5, "mango"),
        ]
    finally:
        q.stop()


def test_streaming_aggregation(spark, broker):
    for i in range(20):
        broker.publish("agg", f"{i % 3},val{i}".encode())
    q = (
        spark.readStream.format("nats")
        .schema(KV_SCHEMA)
        .option("url", "memory://test")
        .option("subject", "agg")
        .load()
        .groupBy("id")
        .count()
        .writeStream.format("memory")
        .queryName("nats_agg_out")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = {r.id: r["count"] for r in spark.sql("SELECT * FROM nats_agg_out").collect()}
        assert rows == {0: 7, 1: 7, 2: 6}
    finally:
        q.stop()


def test_write_then_read_roundtrip(spark, broker):
    df = spark.createDataFrame([(10, "alpha"), (11, "beta")], KV_SCHEMA)
    (
        df.write.format("nats")
        .option("url", "memory://test")
        .option("subject", "sink")
        .mode("append")
        .save()
    )
    rows = _read(spark, "sink").collect()
    assert sorted((r.id, r.name) for r in rows) == [(10, "alpha"), (11, "beta")]


def test_write_executor_publish_roundtrip(spark, broker):
    """publishFrom=executor: tasks publish their partitions directly —
    the cluster-scale sink placement (no driver NIC bottleneck). Both
    rows arrive; driver-side commit has nothing left to publish."""
    df = spark.createDataFrame(
        [(20, "gamma"), (21, "delta"), (22, "epsilon")], KV_SCHEMA
    ).repartition(3)
    (
        df.write.format("nats")
        .option("url", "memory://test")
        .option("subject", "sink_exec")
        .option("publishFrom", "executor")
        .mode("append")
        .save()
    )
    rows = _read(spark, "sink_exec").collect()
    assert sorted((r.id, r.name) for r in rows) == [
        (20, "gamma"),
        (21, "delta"),
        (22, "epsilon"),
    ]


def test_schema_required(spark, broker):
    with pytest.raises(Exception):
        spark.read.format("nats").option("subject", "x").load().collect()


def test_filter_pushdown_applies(spark, broker):
    for i in range(20):
        broker.publish("pushf", f"{i},item{i}".encode())
    df = _read(spark, "pushf", pushdown="true").filter(
        "id >= 5 AND id < 10 AND name LIKE 'item%'"
    )
    rows = sorted(r.id for r in df.collect())
    assert rows == [5, 6, 7, 8, 9]


def test_filter_pushdown_correct_with_residual(spark, broker):
    for i in range(10):
        broker.publish("pushr", f"{i},x{i % 3}".encode())
    # modulo is not pushable -> stays as a residual Spark filter; results
    # must still be exact
    df = _read(spark, "pushr", pushdown="true").filter("id > 2 AND id % 2 = 0")
    assert sorted(r.id for r in df.collect()) == [4, 6, 8]


def test_no_pushdown_by_default(spark, broker):
    broker.publish("plain", b"1,a")
    df = _read(spark, "plain").filter("id = 1")
    assert [(r.id, r.name) for r in df.collect()] == [(1, "a")]


def test_vectorized_read_matches_row_path(spark, broker):
    """Arrow-batched raw read + JVM decode == per-row Python codec."""
    from datafusion_nats_spark.sources.nats_source import read_nats

    payloads = [f"{i},item{i}".encode() for i in range(50)] + [
        b"oops",  # bad arity — dropped by both permissive paths
        b"x,bad-int",
    ]
    for p in payloads:
        broker.publish("vec", p)
    opts = dict(url="memory://test", subject="vec")
    row_path = read_nats(spark, KV_SCHEMA, mode="permissive-skip", **opts)
    vec_path = read_nats(spark, KV_SCHEMA, vectorized=True, **opts)
    assert sorted(map(tuple, vec_path.collect())) == sorted(map(tuple, row_path.collect()))
    assert vec_path.count() == 50


def test_executor_ingest_batch_matches_driver_ingest(spark, broker):
    """ingest=executor: partitions carry only offset ranges; each task
    range-reads the replayable log itself (queue-group/JetStream shape)."""
    for i in range(100):
        broker.publish("exeing", f"{i},item{i}".encode())
    df = _read(spark, "exeing", ingest="executor", numPartitions="8")
    assert df.rdd.getNumPartitions() == 8
    assert sorted(r.id for r in df.collect()) == list(range(100))
    driver_df = _read(spark, "exeing", numPartitions="8")
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, driver_df.collect()))


def test_executor_ingest_respects_max_messages(spark, broker):
    for i in range(30):
        broker.publish("exemax", f"{i},item{i}".encode())
    df = _read(spark, "exemax", ingest="executor", maxMessages="7")
    assert sorted(r.id for r in df.collect()) == list(range(7))


def test_executor_ingest_preserves_order_within_partition(spark, broker):
    """Arrival order is the reference's only ordering guarantee (FIXTURES
    C7) — contiguous offset ranges preserve it within each partition."""
    for i in range(40):
        broker.publish("exeord", f"{i},item{i}".encode())
    df = _read(spark, "exeord", ingest="executor", numPartitions="4")
    per_part = df.rdd.mapPartitions(lambda it: [[r.id for r in it]]).collect()
    for chunk in per_part:
        assert chunk == sorted(chunk)
    assert sorted(x for chunk in per_part for x in chunk) == list(range(40))


def test_executor_ingest_streaming(spark, broker):
    for payload in GOLDEN:
        broker.publish("exestream", payload)
    q = (
        spark.readStream.format("nats")
        .schema(KV_SCHEMA)
        .option("url", "memory://test")
        .option("subject", "exestream")
        .option("ingest", "executor")
        .option("numPartitions", "2")
        .option("maxMessagesPerBatch", "2")
        .load()
        .writeStream.format("memory")
        .queryName("nats_exe_stream_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        broker.publish("exestream", b"4,plum")
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM nats_exe_stream_out ORDER BY id").collect()
        assert [(r.id, r.name) for r in rows] == [
            (1, "apple"),
            (2, "banana"),
            (3, "orange"),
            (4, "plum"),
        ]
    finally:
        q.stop()


def test_executor_ingest_rejects_core_nats_transport(spark, broker):
    """Core NATS is non-replayable — executors can't range-read it."""
    broker.publish("exerej", b"1,a")
    with pytest.raises(Exception):
        _read(spark, "exerej", ingest="executor", transport="nats").collect()


def test_infer_schema_from_subject(spark, broker):
    """inferSchema=true samples the subject log and types the columns —
    the reference's unimplemented roadmap item (README.md:17)."""
    broker.publish("infer", b"1,apple,3.5,true,2024-01-01 10:00:00,2024-01-01")
    broker.publish("infer", b"2,banana,2.25,false,2024-01-02 11:30:00,2024-01-02")
    df = (
        spark.read.format("nats")
        .option("url", "memory://test")
        .option("subject", "infer")
        .option("inferSchema", "true")
        .load()
    )
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "int", "string", "double", "boolean", "timestamp", "date"]
    rows = sorted(df.collect(), key=lambda r: r.c0)
    assert rows[0].c0 == 1 and rows[0].c1 == "apple" and rows[0].c3 is True


def test_infer_schema_with_column_names_and_promotion(spark, broker):
    """columnNames renames inferred columns; mixed int/double promotes."""
    broker.publish("infer2", b"1,x")
    broker.publish("infer2", b"2.5,y")
    df = (
        spark.read.format("nats")
        .option("url", "memory://test")
        .option("subject", "infer2")
        .option("inferSchema", "true")
        .option("columnNames", "score,name")
        .load()
    )
    assert df.columns == ["score", "name"]
    assert dict(df.dtypes)["score"] == "double"
    assert sorted(r.score for r in df.collect()) == [1.0, 2.5]


def test_multi_subject_read(spark, broker):
    """Comma-separated subjects read as one table (subject order, then
    log order) — one-table-over-many-subjects, which the reference's
    one-subject-per-table binding can't express."""
    broker.publish("multi_a", b"1,apple")
    broker.publish("multi_a", b"2,banana")
    broker.publish("multi_b", b"3,orange")
    df = _read(spark, "multi_a, multi_b")
    assert sorted((r.id, r.name) for r in df.collect()) == [
        (1, "apple"), (2, "banana"), (3, "orange")]


def test_multi_subject_executor_ingest(spark, broker):
    for i in range(10):
        broker.publish(f"ms_{i % 2}", f"{i},item{i}".encode())
    df = _read(spark, "ms_0,ms_1", ingest="executor", numPartitions="2")
    assert sorted(r.id for r in df.collect()) == list(range(10))


def test_multi_subject_streaming_reads_both_logs(spark, broker):
    """Round 6 flipped the old 'one literal subject per query' rejection
    into support: comma-separated subject lists stream through ONE query
    with composite per-subject offsets (semantics pinned in
    test_streaming_semantics.py; this is the source-level smoke)."""
    broker.publish("ms_s", b"1,a")
    broker.publish("ms_other", b"2,b")
    q = (
        spark.readStream.format("nats")
        .schema(KV_SCHEMA)
        .option("url", "memory://test")
        .option("subject", "ms_s,ms_other")
        .load()
        .writeStream.format("memory")
        .queryName("ms_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT id, name FROM ms_out").collect()
        assert sorted((r.id, r.name) for r in rows) == [(1, "a"), (2, "b")]
    finally:
        q.stop()


@pytest.mark.parametrize("decode", [None, "arrow"])
def test_dlq_mode_routes_bad_messages(spark, broker, decode):
    """mode=dlq: malformed messages land on a dead-letter subject instead
    of being dropped (permissive-skip) or failing the query (failfast) —
    the production-grade form of the reference's log-and-continue error
    path (executor.rs:140-145). Both the row path and the vectorized
    decode=arrow path route identically."""
    broker.publish("dlqsrc", b"1,ok")
    broker.publish("dlqsrc", b"oops")          # bad arity
    broker.publish("dlqsrc", b"x,bad-int")     # bad int
    broker.publish("dlqsrc", b"2,fine")
    opts = {"decode": decode} if decode else {}
    df = _read(spark, "dlqsrc", mode="dlq", **opts)
    assert sorted((r.id, r.name) for r in df.collect()) == [(1, "ok"), (2, "fine")]
    dead = broker.fetch("dlqsrc.dlq", 0)
    assert sorted(dead) == [b"oops", b"x,bad-int"]
    # the DLQ subject is itself readable (raw payloads preserved verbatim)
    broker.clear("dlqsrc.dlq")


def test_dlq_custom_subject(spark, broker):
    broker.publish("dlqsrc2", b"nope")
    broker.publish("dlqsrc2", b"7,good")
    df = _read(spark, "dlqsrc2", mode="dlq", dlqSubject="graveyard")
    assert [(r.id, r.name) for r in df.collect()] == [(7, "good")]
    assert broker.fetch("graveyard", 0) == [b"nope"]
    broker.clear("graveyard")


def test_streaming_write_to_nats(spark, broker):
    """writeStream.format('nats'): a NATS→transform→NATS streaming
    pipeline; the sink publishes per committed epoch (driver-side commit
    after all tasks succeed), and the result is readable back through the
    batch source."""
    for payload in GOLDEN:
        broker.publish("pipe_in", payload)
    q = (
        spark.readStream.format("nats")
        .schema(KV_SCHEMA)
        .option("url", "memory://test")
        .option("subject", "pipe_in")
        .load()
        .selectExpr("id * 10 AS id", "upper(name) AS name")
        .writeStream.format("nats")
        .option("url", "memory://test")
        .option("subject", "pipe_out")
        .option("checkpointLocation", f"/tmp/nats_sw_ckpt_{id(spark)}")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        broker.publish("pipe_in", b"4,plum")
        q.processAllAvailable()
    finally:
        q.stop()
    rows = _read(spark, "pipe_out").collect()
    assert sorted((r.id, r.name) for r in rows) == [
        (10, "APPLE"), (20, "BANANA"), (30, "ORANGE"), (40, "PLUM")]
    import shutil
    shutil.rmtree(f"/tmp/nats_sw_ckpt_{id(spark)}", ignore_errors=True)


def test_offset_range_read(spark, broker):
    """startingOffset/endingOffset: Kafka-style bounded slice of the
    replayable log — re-read any historical window, which core NATS
    (at-most-once, no replay) fundamentally cannot do."""
    for i in range(20):
        broker.publish("slice", f"{i},item{i}".encode())
    df = _read(spark, "slice", startingOffset="5", endingOffset="12")
    assert sorted(r.id for r in df.collect()) == list(range(5, 12))
    # executor-ingest path honors the same slice
    df2 = _read(spark, "slice", startingOffset="5", endingOffset="12",
                ingest="executor", numPartitions="3")
    assert sorted(r.id for r in df2.collect()) == list(range(5, 12))


def test_offset_range_with_max_messages(spark, broker):
    for i in range(20):
        broker.publish("slice2", f"{i},item{i}".encode())
    df = _read(spark, "slice2", startingOffset="10", maxMessages="4")
    assert sorted(r.id for r in df.collect()) == [10, 11, 12, 13]
    df2 = _read(spark, "slice2", startingOffset="10", maxMessages="4",
                ingest="executor", numPartitions="2")
    assert sorted(r.id for r in df2.collect()) == [10, 11, 12, 13]


def test_vectorized_streaming_matches_row_streaming(spark, broker):
    """Streaming raw-Arrow read + JVM decode == per-row streaming codec."""
    from datafusion_nats_spark.sources.nats_source import read_nats_stream

    payloads = [f"{i},item{i}".encode() for i in range(40)] + [b"junk"]
    for p in payloads:
        broker.publish("vstream", p)

    def drain(df, name):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return sorted(map(tuple, spark.table(name).collect()))

    opts = dict(url="memory://test", subject="vstream", maxMessagesPerBatch="16")
    row = drain(
        read_nats_stream(spark, KV_SCHEMA, mode="permissive-skip", **opts), "vs_row"
    )
    vec = drain(read_nats_stream(spark, KV_SCHEMA, vectorized=True, **opts), "vs_vec")
    assert row == vec
    assert len(vec) == 40


def test_executor_ingest_stream_restart_resumes(spark, broker, tmp_path):
    """Executor-ingest streaming + checkpoint restart: offset-range
    partitions replay exactly from the committed offset."""
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def run_once():
        q = (
            spark.readStream.format("nats")
            .schema(KV_SCHEMA)
            .option("url", "memory://test")
            .option("subject", "exeresume")
            .option("ingest", "executor")
            .option("numPartitions", "2")
            .load()
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)

    for i in range(6):
        broker.publish("exeresume", f"{i},first".encode())
    run_once()
    for i in range(6, 9):
        broker.publish("exeresume", f"{i},second".encode())
    run_once()
    rows = spark.read.parquet(out_dir).collect()
    assert sorted(r.id for r in rows) == list(range(9))
    assert sum(1 for r in rows if r.name == "second") == 3


def test_max_bytes_per_batch_admission(spark, broker):
    # 6 equal-size payloads; a byte budget of exactly two payloads per
    # trigger must admit 2 messages per micro-batch -> 3 non-empty batches.
    payloads = [f"{i},xxxxxxxx".encode() for i in range(1, 7)]
    assert len({len(p) for p in payloads}) == 1
    for p in payloads:
        broker.publish("bytecap", p)
    q = (
        spark.readStream.format("nats")
        .schema(KV_SCHEMA)
        .option("url", "memory://test")
        .option("subject", "bytecap")
        .option("maxBytesPerBatch", str(2 * len(payloads[0])))
        .load()
        .writeStream.format("memory")
        .queryName("bytecap_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT id FROM bytecap_out ORDER BY id").collect()
        assert [r.id for r in rows] == [1, 2, 3, 4, 5, 6]
        sizes = [p["numInputRows"] for p in q.recentProgress if p["numInputRows"]]
        assert sizes == [2, 2, 2]
    finally:
        q.stop()


def test_max_bytes_oversized_message_still_progresses(spark, broker):
    # A single message larger than the byte budget must still be admitted
    # (alone) -- otherwise the stream would stall forever.
    broker.publish("bigmsg", b"1," + b"a" * 100)
    broker.publish("bigmsg", b"2," + b"b" * 100)
    q = (
        spark.readStream.format("nats")
        .schema(KV_SCHEMA)
        .option("url", "memory://test")
        .option("subject", "bigmsg")
        .option("maxBytesPerBatch", "10")
        .load()
        .writeStream.format("memory")
        .queryName("bigmsg_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT id FROM bigmsg_out ORDER BY id").collect()
        assert [r.id for r in rows] == [1, 2]
        sizes = [p["numInputRows"] for p in q.recentProgress if p["numInputRows"]]
        assert sizes == [1, 1]
    finally:
        q.stop()


def test_subject_matches_semantics():
    from datafusion_nats_spark.sources.broker import subject_matches

    assert subject_matches("orders.*", "orders.us")
    assert not subject_matches("orders.*", "orders")
    assert not subject_matches("orders.*", "orders.us.west")
    assert subject_matches("orders.>", "orders.us")
    assert subject_matches("orders.>", "orders.us.west")
    assert not subject_matches("orders.>", "orders")
    assert not subject_matches("orders.>.x", "orders.a.x")  # '>' must be last
    assert subject_matches("a.*.c", "a.b.c")
    assert not subject_matches("a.*.c", "a.b.d")


def test_wildcard_subject_batch_read(spark, broker):
    broker.publish("orders.us", b"1,us-a")
    broker.publish("orders.eu", b"2,eu-a")
    broker.publish("orders.us.west", b"3,west-a")
    broker.publish("billing.us", b"4,bill-a")
    star = _read(spark, "orders.*").collect()
    assert sorted((r.id, r.name) for r in star) == [(1, "us-a"), (2, "eu-a")]
    deep = _read(spark, "orders.>").collect()
    assert sorted((r.id, r.name) for r in deep) == [
        (1, "us-a"),
        (2, "eu-a"),
        (3, "west-a"),
    ]


def test_wildcard_subject_executor_ingest(spark, broker):
    for i in range(1, 5):
        broker.publish(f"m.part{i % 2}", f"{i},v{i}".encode())
    rows = _read(spark, "m.*", ingest="executor", numPartitions="2").collect()
    assert sorted(r.id for r in rows) == [1, 2, 3, 4]


@pytest.mark.parametrize("decode", [None, "arrow"])
def test_metadata_columns_batch(spark, broker, decode):
    import pyspark.sql.types as T

    broker.publish("meta.a", b"1,x")
    broker.publish("meta.a", b"2,y")
    broker.publish("meta.b", b"3,z")
    schema = T.StructType(
        KV_SCHEMA.fields
        + [
            T.StructField("_subject", T.StringType()),
            T.StructField("_offset", T.LongType()),
        ]
    )
    reader = (
        spark.read.format("nats")
        .schema(schema)
        .option("url", "memory://test")
        .option("subject", "meta.a,meta.b")
        .option("includeMetadata", "true")
    )
    if decode:
        reader = reader.option("decode", decode)
    rows = reader.load().collect()
    got = sorted((r.id, r._subject, r._offset) for r in rows)
    assert got == [(1, "meta.a", 0), (2, "meta.a", 1), (3, "meta.b", 0)]


@pytest.mark.parametrize("decode", [None, "arrow"])
def test_metadata_columns_executor_ingest_offsets(spark, broker, decode):
    import pyspark.sql.types as T

    for i in range(6):
        broker.publish("meta.ex", f"{i},v{i}".encode())
    schema = T.StructType(
        KV_SCHEMA.fields
        + [
            T.StructField("_subject", T.StringType()),
            T.StructField("_offset", T.LongType()),
        ]
    )
    reader = (
        spark.read.format("nats")
        .schema(schema)
        .option("url", "memory://test")
        .option("subject", "meta.ex")
        .option("includeMetadata", "true")
        .option("ingest", "executor")
        .option("numPartitions", "3")
    )
    if decode:
        reader = reader.option("decode", decode)
    rows = reader.load().collect()
    assert sorted((r.id, r._offset) for r in rows) == [(i, i) for i in range(6)]
    assert {r._subject for r in rows} == {"meta.ex"}


@pytest.mark.parametrize("decode", [None, "arrow"])
def test_metadata_offsets_stay_correct_under_error_skips(spark, broker, decode):
    """When malformed messages are dropped (permissive-skip), the
    surviving rows keep their ORIGINAL log offsets — the pairing happens
    before the skip on both the row and the vectorized arrow path."""
    import pyspark.sql.types as T

    broker.publish("meta.skip", b"0,a")
    broker.publish("meta.skip", b"broken")       # offset 1 — dropped
    broker.publish("meta.skip", b"2,c")
    broker.publish("meta.skip", b"x,bad-int")    # offset 3 — dropped
    broker.publish("meta.skip", b"4,e")
    schema = T.StructType(
        KV_SCHEMA.fields
        + [
            T.StructField("_subject", T.StringType()),
            T.StructField("_offset", T.LongType()),
        ]
    )
    reader = (
        spark.read.format("nats")
        .schema(schema)
        .option("url", "memory://test")
        .option("subject", "meta.skip")
        .option("includeMetadata", "true")
        .option("mode", "permissive-skip")
    )
    if decode:
        reader = reader.option("decode", decode)
    rows = reader.load().collect()
    assert sorted((r.id, r._offset) for r in rows) == [(0, 0), (2, 2), (4, 4)]


def test_metadata_requires_trailing_meta_fields(spark, broker):
    broker.publish("meta.bad", b"1,x")
    with pytest.raises(Exception, match="includeMetadata"):
        _read(spark, "meta.bad", includeMetadata="true").collect()


def test_streaming_reader_option_validation():
    from datafusion_nats_spark.codec import CodecError
    from datafusion_nats_spark.sources.nats_source import NatsStreamReader

    # wildcard subjects are ACCEPTED since round 6 (composite offsets);
    # the reader flags itself multi and starts from an empty offset map
    r = NatsStreamReader(KV_SCHEMA, {"url": "memory://test", "subject": "w.*"})
    assert r._multi and r.initialOffset() == {"offsets": {}}
    single = NatsStreamReader(KV_SCHEMA, {"url": "memory://test", "subject": "w.a"})
    # single literal subject keeps the legacy checkpoint-compatible shape
    assert not single._multi and single.initialOffset() == {"offset": 0}
    with pytest.raises(CodecError, match="includeMetadata"):
        NatsStreamReader(
            KV_SCHEMA,
            {"url": "memory://test", "subject": "w.a", "includemetadata": "true"},
        )


def test_subject_column_routed_write_then_wildcard_read(spark, broker):
    """Per-row subject routing on the sink (Kafka topic-column analogue),
    round-tripped through a wildcard read with provenance metadata."""
    import pyspark.sql.types as T

    df = spark.createDataFrame(
        [(1, "a", "route.us"), (2, "b", "route.eu"), (3, "c", "route.us")],
        T.StructType(KV_SCHEMA.fields + [T.StructField("route", T.StringType())]),
    )
    (
        df.write.format("nats")
        .option("url", "memory://test")
        .option("subjectColumn", "route")
        .mode("append")
        .save()
    )
    schema = T.StructType(
        KV_SCHEMA.fields
        + [
            T.StructField("_subject", T.StringType()),
            T.StructField("_offset", T.LongType()),
        ]
    )
    rows = (
        spark.read.format("nats")
        .schema(schema)
        .option("url", "memory://test")
        .option("subject", "route.*")
        .option("includeMetadata", "true")
        .load()
        .collect()
    )
    got = sorted((r.id, r.name, r._subject, r._offset) for r in rows)
    assert got == [
        (1, "a", "route.us", 0),
        (2, "b", "route.eu", 0),
        (3, "c", "route.us", 1),
    ]


def test_streaming_curation_loop_nats_to_nats(spark, broker, tmp_path):
    """Flagship end-to-end loop: documents stream in over NATS, each
    micro-batch is CURATED in-flight (quality gate: >= 4 tokens; exact
    dedup within and across batches via a seen-keys log), survivors
    publish to an output subject, and the output subject reads back with
    exactly the curated corpus. The reference can only SELECT from its
    stream (SURVEY §3.1); this is the full ingest→transform→re-publish
    loop with the mandated curation operators in the hot path."""
    from pyspark.sql import types as T

    doc_schema = T.StructType(
        [
            T.StructField("doc_id", T.IntegerType(), False),
            T.StructField("text", T.StringType(), False),
        ]
    )
    seen_dir = str(tmp_path / "seen_keys")
    spark.createDataFrame([], "ck string").write.parquet(seen_dir + "0")
    state = {"ver": 0}

    def curate(batch_df, epoch_id):
        from pyspark.sql import functions as F

        if batch_df.isEmpty():
            return
        sp = batch_df.sparkSession
        quality = batch_df.filter(
            F.size(F.split(F.trim(F.col("text")), r"\s+")) >= 4
        )
        keyed = quality.withColumn(
            "ck",
            F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")),
        )
        # within-batch dedup (keep min doc_id), then cross-batch anti-join
        from pyspark.sql import Window as W

        wk = W.partitionBy("ck").orderBy("doc_id")
        first = keyed.withColumn("rn", F.row_number().over(wk)).filter(
            F.col("rn") == 1
        )
        seen = sp.read.parquet(seen_dir + str(state["ver"]))
        fresh = first.join(seen, "ck", "left_anti")
        (
            fresh.selectExpr("doc_id", "text")
            .write.format("nats")
            .mode("append")
            .option("url", "memory://test")
            .option("subject", "curated_out")
            .save()
        )
        seen.unionByName(fresh.select("ck")).write.mode("overwrite").parquet(
            seen_dir + str(state["ver"] + 1)
        )
        state["ver"] += 1

    msgs = [
        b"1,alpha beta gamma delta",      # keeps
        b"2,too short",                   # quality-dropped (2 tokens)
        b"3,alpha beta gamma delta",      # dup of 1 (same batch or later)
        b"4,epsilon zeta eta theta",      # keeps
        b"5,epsilon zeta eta theta",      # dup of 4 across batches
        b"6,iota kappa lambda mu nu",     # keeps
    ]
    for p in msgs:
        broker.publish("curate_in", p)

    q = (
        spark.readStream.format("nats")
        .schema(doc_schema)
        .option("url", "memory://test")
        .option("subject", "curate_in")
        .option("maxMessagesPerBatch", "2")
        .load()
        .writeStream.foreachBatch(curate)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    out = (
        spark.read.format("nats")
        .schema(doc_schema)
        .option("url", "memory://test")
        .option("subject", "curated_out")
        .load()
    )
    got = sorted(r.doc_id for r in out.collect())
    assert got == [1, 4, 6]
    broker.clear("curated_out")


# ---------------------------------------------------------------------------
# decode=arrow: vectorized TYPED source decode (batch + streaming)
# ---------------------------------------------------------------------------

TYPED_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("price", T.DoubleType(), False),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("d", T.DateType(), False),
    ]
)

TYPED_ROWS = [
    b"1,1.5,true,apple,2024-01-01 10:00:00,2024-01-01",
    b"2,2.25,0,banana,2024-01-02 11:30:00,2024-01-02",
    b"3,-0.5,TRUE,orange,2024-01-03 23:59:59,2024-01-03",
]


def test_batch_decode_arrow_matches_row_path(spark, broker):
    """decode=arrow yields Arrow RecordBatches with the TYPED schema at
    the source — same rows as the per-row codec over all six types."""
    for p in TYPED_ROWS:
        broker.publish("arrow.batch", p)
    base = dict(url="memory://test", subject="arrow.batch")

    def rd(**opts):
        r = spark.read.format("nats").schema(TYPED_SCHEMA)
        for k, v in {**base, **opts}.items():
            r = r.option(k, v)
        return sorted(r.load().collect())

    assert rd(decode="arrow") == rd()
    assert rd(decode="arrow", numPartitions="2") == rd()


def test_decode_arrow_permissive_skip_all_types(spark, broker):
    """decode=arrow + mode=permissive-skip: per-row validity masks drop
    exactly the malformed messages across every field type, keeping the
    rest of the batch."""
    broker.publish("arrow.ps", TYPED_ROWS[0])
    broker.publish("arrow.ps", b"1,1.5,maybe,apple,2024-01-01 10:00:00,2024-01-01")  # bool
    broker.publish("arrow.ps", TYPED_ROWS[1])
    broker.publish("arrow.ps", b"1,1.5,true,apple,2024-13-01 10:00:00,2024-01-01")  # month 13
    broker.publish("arrow.ps", b"1,1.5,true,apple,2024-01-01 10:00:00\n")  # embedded newline
    broker.publish("arrow.ps", TYPED_ROWS[2])
    df = (
        spark.read.format("nats")
        .schema(TYPED_SCHEMA)
        .option("url", "memory://test")
        .option("subject", "arrow.ps")
        .option("decode", "arrow")
        .option("mode", "permissive-skip")
        .load()
    )
    assert sorted(r.id for r in df.collect()) == [1, 2, 3]


def test_decode_arrow_failfast_surfaces_parse_error(spark, broker):
    broker.publish("arrow.bad", b"1,1.5,true,apple,2024-01-01 10:00:00,2024-01-01")
    broker.publish("arrow.bad", b"not,a,valid,row")
    df = (
        spark.read.format("nats")
        .schema(TYPED_SCHEMA)
        .option("url", "memory://test")
        .option("subject", "arrow.bad")
        .option("decode", "arrow")
        .load()
    )
    with pytest.raises(Exception):
        df.collect()


def test_decode_arrow_pushdown_filters_in_compute_kernels(spark, broker):
    """pushdown=true + decode=arrow: supported filters are CONSUMED by
    the source and applied as pyarrow.compute masks on the decoded
    table — vectorized source-side pushdown, same results as
    engine-side evaluation."""
    for p in TYPED_ROWS:
        broker.publish("arrow.pd", p)
    df = (
        spark.read.format("nats")
        .schema(TYPED_SCHEMA)
        .option("url", "memory://test")
        .option("subject", "arrow.pd")
        .option("decode", "arrow")
        .option("pushdown", "true")
        .load()
        .filter("id >= 2")
        .filter("name LIKE '%an%'")  # StringContains
    )
    assert sorted(r.name for r in df.collect()) == ["banana", "orange"]
    # unit-level: the reader consumes every supported filter (none yielded
    # back), exactly like the row path
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, StringContains

    from datafusion_nats_spark.sources.nats_source import NatsPushdownBatchReader

    r = NatsPushdownBatchReader(
        TYPED_SCHEMA,
        {"url": "memory://test", "subject": "arrow.pd", "decode": "arrow", "pushdown": "true"},
    )
    leftover = list(
        r.pushFilters(
            [GreaterThanOrEqual(("id",), 2), StringContains(("name",), "an"), EqualTo(("ok",), True)]
        )
    )
    assert leftover == [] and len(r._pushed) == 3
    rows = [t for p in r.partitions() for b in r.read(p) for t in b.to_pylist()]
    # ok=True ∧ id>=2 ∧ contains 'an': banana fails ok (row value '0'),
    # apple fails id — only orange survives
    assert sorted(t["name"] for t in rows) == ["orange"]


def test_streaming_decode_arrow_matches_row_streaming(spark, broker, tmp_path):
    """The streaming reader's decode=arrow path: same micro-batch rows as
    the typed row path, but ingested as ready-typed Arrow batches."""
    for p in TYPED_ROWS:
        broker.publish("arrow.stream", p)

    def drain(decode):
        reader = (
            spark.readStream.format("nats")
            .schema(TYPED_SCHEMA)
            .option("url", "memory://test")
            .option("subject", "arrow.stream")
            .option("maxMessagesPerBatch", "2")
        )
        if decode:
            reader = reader.option("decode", decode)
        name = f"arrow_stream_{decode or 'row'}"
        q = (
            reader.load()
            .writeStream.format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        return sorted(spark.sql(f"SELECT * FROM {name}").collect())

    assert drain("arrow") == drain(None)


def test_decode_raw_pushdown_filters_applied(spark, broker):
    """Self-review regression: pushdown=true + decode=raw accepted the
    pushed filters but the raw read path never applied them — Spark
    strips the Filter node once the source claims a filter, so
    unfiltered lines surfaced as FINAL results. The raw path must apply
    the filters on its single 'value' column."""
    for i in range(10):
        broker.publish("raw.pd", f"{'a' if i % 2 == 0 else 'b'}{i}".encode())
    df = (
        spark.read.format("nats")
        .schema("value string")
        .option("url", "memory://test")
        .option("subject", "raw.pd")
        .option("decode", "raw")
        .option("pushdown", "true")
        .load()
        .filter("value LIKE 'a%'")
    )
    got = sorted(r.value for r in df.collect())
    assert got == ["a0", "a2", "a4", "a6", "a8"], got
    # unit-level: the pushed filter really is consumed and applied inside
    # the reader (not re-checked by Spark)
    from pyspark.sql.datasource import StringStartsWith

    from datafusion_nats_spark.sources.nats_source import NatsPushdownBatchReader
    from pyspark.sql import types as T

    r = NatsPushdownBatchReader(
        T.StructType([T.StructField("value", T.StringType(), False)]),
        {"url": "memory://test", "subject": "raw.pd", "decode": "raw", "pushdown": "true"},
    )
    leftover = list(r.pushFilters([StringStartsWith(("value",), "a")]))
    assert leftover == [] and len(r._pushed) == 1
    rows = [t["value"] for p in r.partitions() for b in r.read(p) for t in b.to_pylist()]
    assert sorted(rows) == ["a0", "a2", "a4", "a6", "a8"]


def test_decode_raw_respects_declared_column_name(spark, broker):
    """Self-review regression: the raw path hard-coded its Arrow column
    as 'value', so a filter pushed on '.schema("line string")' probed a
    column the emitted table doesn't have. The raw batches (and pushed
    filters) must use the DECLARED single-column name; a multi-column or
    non-string raw schema is rejected loudly."""
    broker.publish("raw.named", b"alpha")
    broker.publish("raw.named", b"beta")
    df = (
        spark.read.format("nats")
        .schema("line string")
        .option("url", "memory://test")
        .option("subject", "raw.named")
        .option("decode", "raw")
        .option("pushdown", "true")
        .load()
        .filter("line LIKE 'a%'")
    )
    assert [r.line for r in df.collect()] == ["alpha"]
    import pytest
    from datafusion_nats_spark.codec import CodecError
    from datafusion_nats_spark.sources.nats_source import NatsBatchReader
    from pyspark.sql import types as T

    with pytest.raises(CodecError, match="single string"):
        NatsBatchReader(
            T.StructType(
                [
                    T.StructField("a", T.StringType(), False),
                    T.StructField("b", T.StringType(), False),
                ]
            ),
            {"url": "memory://test", "subject": "raw.named", "decode": "raw"},
        )
    with pytest.raises(CodecError, match="single string"):
        NatsBatchReader(
            T.StructType([T.StructField("a", T.IntegerType(), False)]),
            {"url": "memory://test", "subject": "raw.named", "decode": "raw"},
        )


# -- the nats stream sink: a driver-side foreachBatch publish ----------------

ALL_TYPES = "i INT, d DOUBLE, s STRING, b BOOLEAN, ts TIMESTAMP, day DATE"
ALL_TYPES_LINES = [
    b"42,3.14159,John Doe,true,2025-07-25 15:42:35,2025-07-25",
    b"-7,-0.5,x,false,1999-12-31 23:59:59,2000-02-29",
    b"0,1000000.25,tail space ,true,1970-01-01 00:00:00,1970-01-01",
]


def _stream_in(spark, subject, schema=KV_SCHEMA):
    return (
        spark.readStream.format("nats")
        .schema(schema)
        .option("url", "memory://test")
        .option("subject", subject)
        .load()
    )


def _drive(q, *publishes):
    """Run ``q`` over what is published, then over each later batch of
    publishes (one epoch per batch); always stops it."""
    try:
        q.processAllAvailable()
        for publish in publishes:
            publish()
            q.processAllAvailable()
    finally:
        q.stop()


def test_stream_sink_wire_types_match_batch_writer(spark, broker, tmp_path):
    """Every wire type the codec supports publishes the same bytes through
    writeStream.format('nats') as through write.format('nats'); BIGINT is
    not a wire type, and both sinks refuse it."""
    from datafusion_nats_spark.codec import SchemaValidationError

    for line in ALL_TYPES_LINES:
        broker.publish("types_in", line)
    _drive(
        _stream_in(spark, "types_in", ALL_TYPES)
        .writeStream.format("nats")
        .option("url", "memory://test")
        .option("subject", "types_stream")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    (
        spark.read.format("nats").schema(ALL_TYPES)
        .option("url", "memory://test").option("subject", "types_in").load()
        .write.format("nats")
        .option("url", "memory://test").option("subject", "types_batch")
        .mode("append").save()
    )
    streamed = broker.fetch("types_stream", 0)
    assert sorted(streamed) == sorted(broker.fetch("types_batch", 0))
    assert sorted(streamed) == sorted(ALL_TYPES_LINES)

    wide = _stream_in(spark, "types_in", ALL_TYPES).selectExpr("CAST(i AS BIGINT) AS i")
    with pytest.raises(SchemaValidationError, match="bigint"):
        wide.writeStream.format("nats").option("subject", "never").start()
    with pytest.raises(Exception, match="bigint"):
        spark.range(1).write.format("nats").option("url", "memory://test").option(
            "subject", "never").mode("append").save()
    assert broker.fetch("never", 0) == []


def test_stream_sink_renders_timestamps_in_session_time_zone(spark, broker, tmp_path):
    from pyspark.sql import functions as F

    broker.publish("tz_in", b"0,epoch")
    prior = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")  # UTC+9, no DST
    try:
        q = (
            _stream_in(spark, "tz_in")
            .select("id", F.timestamp_seconds("id").alias("at"))
            .writeStream.format("nats")
            .option("url", "memory://test")
            .option("subject", "tz_out")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", prior)
    _drive(q)
    assert broker.fetch("tz_out", 0) == [b"0,1970-01-01 09:00:00"]


@pytest.mark.parametrize("mode", ["complete", "update"])
def test_stream_sink_output_modes_last_wins_counts(spark, broker, tmp_path, mode):
    """Per-key counts through the nats sink: reading the published lines
    back, the last line per key equals the true count. update mode
    republishes only the keys an epoch changed."""
    from collections import Counter

    from pyspark.sql import functions as F

    first = [b"1,a", b"2,b", b"3,a", b"4,c"]
    second = [b"5,a", b"6,d"]
    for p in first:
        broker.publish("modes_in", p)
    q = (
        _stream_in(spark, "modes_in")
        .groupBy("name")
        .agg(F.count(F.lit(1)).cast("int").alias("n"))
        .writeStream.format("nats")
        .option("url", "memory://test")
        .option("subject", "modes_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode(mode)
        .start()
    )
    _drive(q, lambda: [broker.publish("modes_in", p) for p in second])
    lines = [line.decode().split(",") for line in broker.fetch("modes_out", 0)]
    assert dict(lines) == {"a": "3", "b": "1", "c": "1", "d": "1"}
    second_epoch = sorted(k for k, _ in lines[3:])
    assert second_epoch == (["a", "b", "c", "d"] if mode == "complete" else ["a", "d"])
    assert Counter(k for k, _ in lines[:3]) == Counter("abc")


@pytest.mark.parametrize("bad", [None, "a,b", ""], ids=["null", "comma", "empty"])
def test_stream_sink_unencodable_value_fails_whole_epoch(spark, broker, tmp_path, bad):
    """A NULL, a comma or an empty string fails the query with CodecError,
    and the epoch holding it publishes none of its rows."""
    from pyspark.sql import functions as F

    broker.publish("bad_in", b"1,fine")
    q = (
        _stream_in(spark, "bad_in")
        .select(
            "id",
            F.when(F.col("name") == "bad", F.lit(bad).cast("string"))
            .otherwise(F.col("name"))
            .alias("name"),
        )
        .writeStream.format("nats")
        .option("url", "memory://test")
        .option("subject", "bad_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    with pytest.raises(Exception, match="CodecError"):
        _drive(q, lambda: [broker.publish("bad_in", p) for p in (b"2,ok", b"3,bad", b"4,ok")])
    assert broker.fetch("bad_out", 0) == [b"1,fine"]


@pytest.mark.parametrize("via", ["option", "options", "start"])
def test_stream_sink_options_reach_sink_every_way(spark, broker, tmp_path, via):
    broker.publish("opt_in", b"1,x")
    ck = str(tmp_path / "ck")
    out = f"opt_out_{via}"
    w = _stream_in(spark, "opt_in").writeStream
    if via == "option":
        q = (w.format("nats").option("URL", "memory://test").option("subject", out)
             .option("checkpointLocation", ck).start())
    elif via == "options":
        q = w.format("nats").options(url="memory://test", subject=out,
                                     checkpointLocation=ck).start()
    else:
        q = w.start(format="nats", url="memory://test", subject=out,
                    checkpointLocation=ck)
    _drive(q)
    assert broker.fetch(out, 0) == [b"1,x"]


def test_stream_sink_runs_as_foreach_batch_and_register_is_idempotent(
    spark, broker, tmp_path
):
    """The nats sink must run on the driver-side foreachBatch path, not on
    the per-epoch Python DataSourceStreamWriter path (~0.7 s per epoch
    more, PERFORMANCE.md). A second register() installs nothing more: a
    double wrapper would publish every line twice."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    start = DataStreamWriter.start
    register(spark)
    assert DataStreamWriter.start is start
    broker.publish("once_in", b"1,x")
    q = (
        _stream_in(spark, "once_in")
        .writeStream.format("nats")
        .option("url", "memory://test")
        .option("subject", "once_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert "ForeachBatchSink" in q.lastProgress["sink"]["description"]
    finally:
        q.stop()
    assert broker.fetch("once_out", 0) == [b"1,x"]


def test_other_stream_sinks_untouched(spark, broker, tmp_path):
    """memory, noop and a user foreachBatch behave as without the nats
    wrapper — also a foreachBatch set after format('nats'), which
    replaces the nats sink as it does in Spark."""
    broker.publish("other_in", b"1,x")
    broker.publish("other_in", b"2,y")
    _drive(_stream_in(spark, "other_in").writeStream.format("memory")
           .queryName("other_mem").start())
    assert sorted(tuple(r) for r in spark.table("other_mem").collect()) == [(1, "x"), (2, "y")]

    noop = _stream_in(spark, "other_in").writeStream.format("noop").option(
        "checkpointLocation", str(tmp_path / "noop")).start()
    try:
        noop.processAllAvailable()
        assert noop.lastProgress["numInputRows"] == 2
        assert "ForeachBatchSink" not in noop.lastProgress["sink"]["description"]
    finally:
        noop.stop()

    seen = []
    _drive(
        _stream_in(spark, "other_in")
        .writeStream.format("nats")
        .option("url", "memory://test")
        .option("subject", "other_out")
        .foreachBatch(lambda df, _: seen.extend(tuple(r) for r in df.collect()))
        .option("checkpointLocation", str(tmp_path / "feb"))
        .start()
    )
    assert sorted(seen) == [(1, "x"), (2, "y")]
    assert broker.fetch("other_out", 0) == []
