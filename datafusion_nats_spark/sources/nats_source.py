"""NATS subject ⇄ Spark table, via the PySpark Python Data Source API.

The reference exposes one NATS subject as one SQL table through a
DataFusion ``TableProvider`` + streaming ``ExecutionPlan``
(reference: src/data_source.rs:19-71, src/executor.rs:17-174). The Spark
re-expression:

- **batch** (``spark.read.format("nats")``) — a bounded drain of the
  subject (``maxMessages``/``timeoutMs``), reproducing the reference's
  LIMIT-terminated query UX (``SELECT … LIMIT 3`` then the scan stops —
  reference: executor.rs:132-138, done right: we count *emitted* rows,
  not buffer occupancy, avoiding the limit>batch_size hang of SURVEY §4.1);
- **streaming** (``spark.readStream.format("nats")``) — a
  ``DataSourceStreamReader`` whose offsets index into a driver-side
  message log: the analogue of the reference's spawned consumer task
  feeding an mpsc channel (reference: executor.rs:74-163), with Spark's
  micro-batch trigger playing the role of the (dead, SURVEY §4.1)
  batch-timeout and ``maxMessagesPerBatch`` the role of
  ``batch_size=1000`` (reference: src/batch_buffer.rs:24).

Decode is the reference-exact CSV codec (one message = one row,
``datafusion_nats_spark.codec``). Error modes (reference A10 semantics):
``mode=failfast`` (default — a bad message fails the query, like the
reference surfacing parse errors into the result stream),
``mode=permissive-skip`` (log-and-continue), or ``mode=dlq``
(malformed messages re-published to a dead-letter subject,
``dlqSubject``, default ``<subject>.dlq``).

Scale design (100 TB / 1000-executor): two ingest shapes, selected by
``.option("ingest", ...)``:

- ``ingest=driver`` (default) — ``numPartitions`` splits the drained
  slice into k ``InputPartition``s whose payload bytes travel inside the
  partition objects (driver prefetch). The honest shape for *core* NATS:
  a non-replayable broker cannot be re-read from executors.
- ``ingest=executor`` — partitions carry only ``[start, end)`` offsets
  (``NatsOffsetRangePartition``); every Spark task range-reads its slice
  of the replayable subject log itself, so N executors ingest in
  parallel and the driver only plans ranges — the JetStream
  durable-consumer / queue-group model (SURVEY §7.3), structurally the
  same split contract as Kafka's (topic, partition, offsets). Works for
  both the bounded batch read and per-trigger micro-batch streaming.

Sinks: ``df.write.format("nats")`` is a Python ``DataSourceWriter``.
``df.writeStream.format("nats")`` runs as a driver-side ``foreachBatch``
once :func:`register` has run: each epoch is collected and published by
:class:`NatsStreamWriter` after the epoch's job succeeds. Every output
mode (append, complete, update) is accepted.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from datafusion_nats_spark.codec import CodecError, CsvCodec, ParseError


@dataclass
class NatsPartition(InputPartition):
    payloads: list[bytes]


@dataclass
class NatsMetaPartition(InputPartition):
    """Driver-prefetch partition carrying (subject, offset, payload)
    triples — used when ``includeMetadata=true`` so each row can expose
    its provenance (_subject, _offset) like Kafka's topic/offset
    metadata columns."""

    records: list  # of (subject, offset, payload)


@dataclass
class NatsOffsetRangePartition(InputPartition):
    """Executor-side-ingest partition: carries only ``[start, end)`` log
    offsets, never payload bytes. Each Spark task opens the replayable
    subject log itself and reads its own slice — the JetStream
    durable-consumer / queue-group shape (one group member per partition;
    the upgrade path SURVEY §7.3 calls for), where the reference is pinned
    to a single non-replayable subscription (Partitioning::
    UnknownPartitioning(1), reference: src/data_source.rs:59).

    At 100 TB this is the difference between the driver funneling every
    byte (driver-prefetch path) and N executors ingesting in parallel
    with the driver only planning offset ranges — the same contract as
    Kafka's (topic, partition, start, end) input splits.
    """

    url: str
    subject: str
    start: int
    end: int


def _split_offset_ranges(url: str, subject: str, start: int, end: int, k: int):
    """[start, end) → k contiguous offset-range partitions (order-preserving
    within each partition, FIXTURES C7)."""
    total = end - start
    if total <= 0:
        return []
    k = max(1, min(k, total))
    size = (total + k - 1) // k
    return [
        NatsOffsetRangePartition(url=url, subject=subject, start=s, end=min(s + size, end))
        for s in range(start, end, size)
    ]


@dataclass
class NatsCommitMessage(WriterCommitMessage):
    lines: list[bytes]


def _split_round_robin_contiguous(items: list[bytes], k: int) -> list[list[bytes]]:
    """Contiguous chunks (preserves publish order within each partition —
    arrival order is the reference's only ordering guarantee, FIXTURES C7)."""
    if k <= 1 or len(items) <= 1:
        return [items]
    size = (len(items) + k - 1) // k
    return [items[i : i + size] for i in range(0, len(items), size)]


class _OptionsMixin:
    """Option access. Spark lower-cases data source option keys, so all
    lookups normalize to lowercase."""

    def _opt(self, key: str, default: str | None = None) -> str | None:
        return self.options.get(key.lower(), default)

    @property
    def url(self) -> str:
        return self._opt("url", "memory://default")

    @property
    def subject(self) -> str:
        subject = self._opt("subject")
        if not subject:
            raise CodecError("option 'subject' is required for the nats source")
        return subject

    @property
    def subjects(self) -> list[str]:
        """Comma-separated subject list (one table over several subjects —
        the Kafka subscribe-many analogue; the reference is pinned to one
        subject per table, reference: data_source.rs:20-26)."""
        return [s.strip() for s in self.subject.split(",") if s.strip()]

    def resolved_subjects(self) -> list[str]:
        """Subjects with NATS wildcards expanded against the broker's known
        subjects ('*' = one token, '>' = one-or-more trailing tokens) —
        the subscription semantics of a real NATS server, resolved at
        planning time over the replayable log."""
        subs = self.subjects
        if not any("*" in s or ">" in s for s in subs):
            return subs
        if not self.replayable:
            raise CodecError(
                "wildcard subjects require a replayable transport (a live "
                "core-NATS drain subscribes to the pattern directly)"
            )
        from datafusion_nats_spark.sources.broker import get_broker, subject_matches

        broker = get_broker(self.url)
        if not hasattr(broker, "list_subjects"):
            raise CodecError(
                "wildcard expansion needs a subject-enumerable backend "
                "(the local log and JetStream both are; core-NATS drains "
                "subscribe to the pattern directly)"
            )
        known = broker.list_subjects()
        out: list[str] = []
        for s in subs:
            if "*" in s or ">" in s:
                out.extend(k for k in known if subject_matches(s, k))
            else:
                out.append(s)
        return list(dict.fromkeys(out))  # dedupe, keep order

    @property
    def include_metadata(self) -> bool:
        return (self._opt("includemetadata", "false") or "").lower() == "true"

    @property
    def transport(self) -> str:
        """Defaults by URL scheme: a ``nats://`` URL is a live core-NATS
        drain (the reference's one and only transport — at-most-once
        subscribe, src/executor.rs:94), a ``memory://`` URL the local
        replayable log. ``transport=jetstream`` opts a nats:// URL into
        the durable offset-range contract instead."""
        default = "nats" if self.url.startswith("nats://") else "memory"
        t = self._opt("transport", default)
        if t not in ("memory", "nats", "jetstream"):
            raise CodecError(f"unknown transport: {t}")
        return t

    @property
    def replayable(self) -> bool:
        """``memory`` and ``jetstream`` share the offset-addressable
        (replayable) contract — every range consumer works on either;
        the backing store is picked by URL scheme (``memory://`` file
        log vs ``nats://`` JetStream, see broker.get_broker). ``nats``
        is the core-NATS at-most-once drain (no offsets, no replay)."""
        return self.transport in ("memory", "jetstream")

    @property
    def mode(self) -> str:
        mode = self._opt("mode", "failfast")
        if mode not in ("failfast", "permissive-skip", "dlq"):
            raise CodecError(f"unknown mode: {mode}")
        return mode

    @property
    def dlq_subject(self) -> str:
        return self._opt("dlqsubject", f"{self.subjects[0]}.dlq")

    def _dlq_publisher(self):
        """Per-task dead-letter publisher (mode=dlq): malformed messages are
        re-published to a DLQ subject instead of being silently dropped —
        the production upgrade of the reference's log-and-continue error
        path (reference: executor.rs:140-145). Works from executor tasks:
        the file-backed log uses O_APPEND atomic single-line writes."""
        if self.mode != "dlq":
            return None
        if not self.replayable:
            raise CodecError("mode=dlq requires a replayable transport")
        from datafusion_nats_spark.sources.broker import get_broker

        broker = get_broker(self.url)
        subject = self.dlq_subject
        return lambda payload: broker.publish(subject, payload)

    @property
    def num_partitions(self) -> int:
        return int(self._opt("numpartitions", "1"))

    def _decode_arrow(self, payloads: list[bytes]):
        """Shared decode=arrow dispatch (batch and streaming readers).
        All three error modes compose with the vectorized path: per-row
        verdicts come from the codec's validity masks, and mode=dlq routes
        malformed payloads through the same publisher as the row path."""
        from datafusion_nats_spark.codec import decode_payloads_arrow

        yield from decode_payloads_arrow(
            payloads, self.codec.schema, self.mode, self._dlq_publisher()
        )

    @property
    def ingest(self) -> str:
        ingest = self._opt("ingest", "driver")
        if ingest not in ("driver", "executor"):
            raise CodecError(f"unknown ingest mode: {ingest}")
        return ingest


def _raw_line_field(schema: T.StructType) -> str:
    """decode=raw's contract: the declared schema is ONE string column
    (the raw line; typed decode happens downstream via decode_lines).
    Returns that column's name — the raw Arrow batches and the pushed-
    filter evaluation must both use the DECLARED name, not a hard-coded
    'value' (a filter pushed on '.schema("line string")' would otherwise
    probe a column the emitted table doesn't have)."""
    if len(schema.fields) != 1 or not isinstance(schema.fields[0].dataType, T.StringType):
        raise CodecError(
            "decode=raw emits the undecoded line as a single string "
            f"column; declare e.g. 'value string' (got {schema.simpleString()})"
        )
    return schema.fields[0].name


def _decode(payloads: list[bytes], codec: CsvCodec, mode: str, dlq=None):
    for payload in payloads:
        # Reference uses from_utf8_lossy (executor.rs:109) — replicate.
        line = payload.decode("utf-8", errors="replace")
        try:
            yield codec.parse_line(line)
        except ParseError:
            if mode == "failfast":
                raise
            if dlq is not None:
                dlq(payload)  # mode=dlq: route, don't drop
            # permissive-skip / dlq: keep consuming
            continue


class NatsBatchReader(DataSourceReader, _OptionsMixin):
    """Bounded subject drain (reference LIMIT-UX, §3.1)."""

    META_FIELDS = (("_subject", T.StringType()), ("_offset", T.LongType()))

    def __init__(self, schema: T.StructType, options: dict) -> None:
        self.options = {k.lower(): v for k, v in options.items()}
        data_schema = schema
        if self.include_metadata:
            if self._opt("decode") == "raw":
                raise CodecError(
                    "includeMetadata composes with the typed decode paths "
                    "(row or arrow); the raw path defers ALL decoding to "
                    "JVM expressions and carries no per-message pairing"
                )
            names = [f.name for f in schema.fields]
            want = [n for n, _ in self.META_FIELDS]
            if names[-len(want) :] != want:
                raise CodecError(
                    "includeMetadata=true requires the declared schema to end "
                    f"with {want} (Kafka-style provenance columns)"
                )
            data_schema = T.StructType(schema.fields[: -len(want)])
        if self._opt("decode") == "raw":
            self.codec = None
            self._raw_col = _raw_line_field(data_schema)
        else:
            self.codec = CsvCodec(data_schema)
        self._field_index = {f.name: i for i, f in enumerate(schema.fields)}
        self._pushed: list = []

    def _row_passes(self, row: tuple) -> bool:
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            IsNotNull,
            IsNull,
            LessThan,
            LessThanOrEqual,
            StringContains,
            StringEndsWith,
            StringStartsWith,
        )

        for f in self._pushed:
            v = row[self._field_index[f.attribute[0]]]
            if isinstance(f, EqualTo):
                ok = v == f.value
            elif isinstance(f, GreaterThan):
                ok = v > f.value
            elif isinstance(f, GreaterThanOrEqual):
                ok = v >= f.value
            elif isinstance(f, LessThan):
                ok = v < f.value
            elif isinstance(f, LessThanOrEqual):
                ok = v <= f.value
            elif isinstance(f, IsNull):
                ok = v is None
            elif isinstance(f, IsNotNull):
                ok = v is not None
            elif isinstance(f, StringContains):
                ok = isinstance(v, str) and f.value in v
            elif isinstance(f, StringStartsWith):
                ok = isinstance(v, str) and v.startswith(f.value)
            elif isinstance(f, StringEndsWith):
                ok = isinstance(v, str) and v.endswith(f.value)
            else:  # pragma: no cover - pushFilters only admits the above
                ok = True
            if not ok:
                return False
        return True

    @property
    def offset_range(self) -> tuple[int, int | None]:
        """Kafka-style bounded slice of the replayable log:
        ``startingOffset`` (default 0) / ``endingOffset`` (exclusive,
        default end-of-log), per subject."""
        start = int(self._opt("startingoffset", "0"))
        end_opt = self._opt("endingoffset")
        end = int(end_opt) if end_opt is not None else None
        if start < 0 or (end is not None and end < start):
            raise CodecError(f"invalid offset range [{start}, {end})")
        return start, end

    def _fetch_payloads(self) -> list[bytes]:
        max_messages = int(self._opt("maxmessages", "0")) or None
        if self.replayable:
            from datafusion_nats_spark.sources.broker import get_broker

            broker = get_broker(self.url)
            start, end = self.offset_range
            log: list[bytes] = []
            for subject in self.resolved_subjects():  # subject order, then log order
                log.extend(broker.fetch(subject, start, end))
            return log[:max_messages] if max_messages else log
        if self.transport == "nats":
            from datafusion_nats_spark.sources.broker import fetch_from_nats

            if len(self.subjects) > 1:
                raise CodecError(
                    "multi-subject reads need the replayable transport; core "
                    "NATS drains one subscription per query"
                )
            return fetch_from_nats(
                self.url,
                self.subject,
                max_messages or 10_000,
                int(self._opt("timeoutms", "5000")),
            )
        raise CodecError(f"unknown transport: {self.transport}")

    def partitions(self):
        if self.ingest == "executor":
            # Offset-range planning only — no payload bytes on the driver.
            # Requires a replayable transport (the file log or a real
            # JetStream stream); core NATS can't be range-read, so that
            # stays driver-prefetch.
            if not self.replayable:
                raise CodecError(
                    "ingest=executor requires a replayable transport "
                    "(memory or jetstream); core NATS cannot be range-read "
                    "from executors"
                )
            from datafusion_nats_spark.sources.broker import get_broker

            broker = get_broker(self.url)
            budget = int(self._opt("maxmessages", "0")) or None
            range_start, range_end = self.offset_range
            parts: list[NatsOffsetRangePartition] = []
            for subject in self.resolved_subjects():  # cap spends in subject order
                size = broker.size(subject)
                end = min(size, range_end) if range_end is not None else size
                start = min(range_start, end)
                if budget is not None:
                    end = min(end, start + budget)
                parts.extend(
                    _split_offset_ranges(self.url, subject, start, end, self.num_partitions)
                )
                if budget is not None:
                    budget -= end - start
                    if budget <= 0:
                        break
            return parts
        # driver-prefetch (the reference's consumer-task analogue)
        if self.include_metadata:
            if not self.replayable:
                raise CodecError(
                    "includeMetadata requires a replayable transport "
                    "(core NATS has no stable offsets to expose)"
                )
            from datafusion_nats_spark.sources.broker import get_broker

            broker = get_broker(self.url)
            start, end = self.offset_range
            max_messages = int(self._opt("maxmessages", "0")) or None
            records = []
            for subject in self.resolved_subjects():
                records.extend(
                    (subject, start + i, p)
                    for i, p in enumerate(broker.fetch(subject, start, end))
                )
            if max_messages:
                records = records[:max_messages]
            size = (len(records) + self.num_partitions - 1) // max(1, self.num_partitions)
            size = max(1, size)
            return [
                NatsMetaPartition(records[i : i + size])
                for i in range(0, len(records), size)
            ] or [NatsMetaPartition([])]
        payloads = self._fetch_payloads()
        return [NatsPartition(p) for p in _split_round_robin_contiguous(payloads, self.num_partitions)]

    def _payloads_of(self, partition) -> list[bytes]:
        if isinstance(partition, NatsOffsetRangePartition):
            from datafusion_nats_spark.sources.broker import get_broker

            return get_broker(partition.url).fetch(partition.subject, partition.start, partition.end)
        return partition.payloads

    def _read_with_metadata(self, partition):
        """Typed decode + (subject, offset) provenance columns appended to
        every row — pairing happens per payload BEFORE error-mode skips so
        offsets stay correct when malformed messages are dropped/routed."""
        if isinstance(partition, NatsOffsetRangePartition):
            payloads = self._payloads_of(partition)
            records = [
                (partition.subject, partition.start + i, p)
                for i, p in enumerate(payloads)
            ]
        else:
            records = partition.records
        dlq = self._dlq_publisher()
        for subject, offset, payload in records:
            line = payload.decode("utf-8", errors="replace")
            try:
                row = self.codec.parse_line(line)
            except ParseError:
                if self.mode == "failfast":
                    raise
                if dlq is not None:
                    dlq(payload)
                continue
            full = (*row, subject, offset)
            if self._row_passes(full):
                yield full

    def _read_arrow_with_metadata(self, partition):
        """Vectorized typed decode + provenance: the partition's payloads
        parse in one pyarrow.csv call and the (subject, offset) pairs zip
        on as two extra Arrow columns, filtered by the codec's per-row
        validity indices so offsets stay correct when malformed messages
        are dropped/routed (same pairing contract as the row path)."""
        import pyarrow as pa

        from datafusion_nats_spark.codec import decode_payloads_arrow_indexed

        if isinstance(partition, NatsOffsetRangePartition):
            payloads = self._payloads_of(partition)
            records = [
                (partition.subject, partition.start + i, p)
                for i, p in enumerate(payloads)
            ]
        else:
            records = partition.records
        table, idx = decode_payloads_arrow_indexed(
            [r[2] for r in records], self.codec.schema, self.mode, self._dlq_publisher()
        )
        if table.num_rows == 0:
            return
        full = table.append_column(
            "_subject", pa.array([records[i][0] for i in idx], pa.string())
        ).append_column("_offset", pa.array([records[i][1] for i in idx], pa.int64()))
        full = self._arrow_filter(full)  # pushed filters may touch meta columns
        if full.num_rows:
            yield from full.to_batches()

    def _arrow_filter(self, table):
        """Apply the pushed filters to an Arrow table with compute
        kernels — the vectorized twin of ``_row_passes`` (same supported
        filter set, evaluated C++-side on whole columns)."""
        if not self._pushed or table.num_rows == 0:
            return table
        import pyarrow.compute as pc
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            IsNotNull,
            IsNull,
            LessThan,
            LessThanOrEqual,
            StringContains,
            StringEndsWith,
            StringStartsWith,
        )

        mask = None
        for f in self._pushed:
            col = table.column(f.attribute[0])
            if isinstance(f, EqualTo):
                m = pc.equal(col, f.value)
            elif isinstance(f, GreaterThan):
                m = pc.greater(col, f.value)
            elif isinstance(f, GreaterThanOrEqual):
                m = pc.greater_equal(col, f.value)
            elif isinstance(f, LessThan):
                m = pc.less(col, f.value)
            elif isinstance(f, LessThanOrEqual):
                m = pc.less_equal(col, f.value)
            elif isinstance(f, IsNull):
                m = pc.is_null(col)
            elif isinstance(f, IsNotNull):
                m = pc.is_valid(col)
            elif isinstance(f, StringContains):
                m = pc.match_substring(col, f.value)
            elif isinstance(f, StringStartsWith):
                m = pc.starts_with(col, f.value)
            elif isinstance(f, StringEndsWith):
                m = pc.ends_with(col, f.value)
            else:  # pragma: no cover - pushFilters only admits the above
                continue
            m = pc.fill_null(m, False)
            mask = m if mask is None else pc.and_(mask, m)
        return table.filter(mask) if mask is not None else table

    def read(self, partition):  # executor-side (ingest and/or decode)
        if self.include_metadata:
            if self._opt("decode") == "arrow":
                yield from self._read_arrow_with_metadata(partition)
                return
            yield from self._read_with_metadata(partition)
            return
        payloads = self._payloads_of(partition)
        if self._opt("decode") == "arrow":
            # Vectorized TYPED path: pyarrow.csv parses the partition in
            # C++, pushed filters apply as compute kernels, and this task
            # hands Spark ready-typed Arrow batches — no per-row Python
            # tuple, no downstream decode projection.
            from datafusion_nats_spark.codec import decode_payloads_arrow_indexed

            table, _ = decode_payloads_arrow_indexed(
                payloads, self.codec.schema, self.mode, self._dlq_publisher()
            )
            table = self._arrow_filter(table)
            if table.num_rows:
                yield from table.to_batches()
            return
        if self._opt("decode") == "raw":
            # Vectorized path (SURVEY §7.4-5): hand Spark Arrow batches of
            # raw lines; typed decode happens JVM-side via codec.decode_lines
            # — no per-row Python in the hot loop. Use read_nats(...,
            # vectorized=True) for the composed reader.
            import pyarrow as pa

            lines = [p.decode("utf-8", errors="replace") for p in payloads]
            if lines:
                table = pa.table({self._raw_col: pa.array(lines, pa.string())})
                # pushed filters (on the raw 'value' column) must apply
                # here too: pushFilters already told Spark this source
                # handles them, so Spark strips the Filter node from the
                # plan — skipping this would surface unfiltered rows as
                # FINAL results
                table = self._arrow_filter(table)
                if table.num_rows:
                    yield from table.to_batches()
            return
        for row in _decode(payloads, self.codec, self.mode, self._dlq_publisher()):
            if self._row_passes(row):
                yield row


class NatsPushdownBatchReader(NatsBatchReader):
    """Batch reader with real source-side filter pushdown — the capability
    the reference scaffolded but never wired (`RawFilter` has zero call
    sites and only handled ``id = <Int32>``; reference:
    src/raw_filter.rs:17-49, SURVEY §4.1). Pushed filters are applied
    during executor-side decode, before rows reach the engine.

    Opt-in via ``.option("pushdown", "true")`` because merely *defining*
    ``pushFilters`` makes Spark require
    ``spark.sql.python.filterPushdown.enabled=true`` (set by our session
    factory) — the plain reader stays usable in any session.
    """

    def pushFilters(self, filters):
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            IsNotNull,
            IsNull,
            LessThan,
            LessThanOrEqual,
            StringContains,
            StringEndsWith,
            StringStartsWith,
        )

        supported = (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            LessThan,
            LessThanOrEqual,
            IsNull,
            IsNotNull,
            StringContains,
            StringStartsWith,
            StringEndsWith,
        )
        for f in filters:
            # only single-level column paths exist in this flat schema
            if (
                isinstance(f, supported)
                and len(f.attribute) == 1
                and f.attribute[0] in self._field_index
            ):
                self._pushed.append(f)
            else:
                yield f  # Spark evaluates what we can't


class NatsStreamReader(DataSourceStreamReader, _OptionsMixin):
    """Micro-batch streaming scan with log-indexed offsets.

    Offsets are message counters over the subject log — replayable for the
    in-memory (JetStream-like) transport; for core NATS they would be
    counters over a driver-side prefetch buffer with at-most-once
    semantics (documented parity with reference: plain ``subscribe``,
    executor.rs:94).
    """

    def __init__(self, schema: T.StructType, options: dict) -> None:
        self.options = {k.lower(): v for k, v in options.items()}
        if self._opt("decode") == "raw":
            self.codec = None
            self._raw_col = _raw_line_field(schema)
        else:
            self.codec = CsvCodec(schema)
        # 0 = unbounded admission (drain everything available per
        # trigger). The 1000 default mirrors the reference's
        # batch_size=1000 (batch_buffer.rs:24), but the per-epoch fixed
        # cost is ~0.5 s (PERFORMANCE.md §streaming-epoch-budget), so a
        # capped stream tops out at cap/0.5s rows/s — throughput-bound
        # consumers should set 0 (or a large cap) and let epoch size
        # amortize the trigger machinery.
        self.max_per_batch = int(self._opt("maxmessagesperbatch", "1000"))
        if self.max_per_batch < 0:
            raise CodecError("maxMessagesPerBatch must be >= 0 (0 = unbounded)")
        mb = self._opt("maxbytesperbatch")
        self.max_bytes_per_batch = int(mb) if mb is not None else None
        if not self.replayable:
            raise CodecError(
                "streaming requires a replayable transport (memory or "
                "jetstream) — checkpointed offsets index a durable log; "
                "core NATS is at-most-once with no offsets"
            )
        # Multi-subject / wildcard streaming (round 6): offsets become a
        # composite {subject: counter} map over the literal subject logs.
        # Wildcards re-resolve at every latestOffset(), so subjects that
        # appear mid-query join the stream from offset 0 (their log is
        # replayable, nothing is missed); a checkpointed restart replays
        # from the per-subject counters, defaulting unseen subjects to 0.
        # Single literal subject keeps the legacy {"offset": n} shape for
        # checkpoint compatibility with queries started before round 6.
        self._multi = len(self.subjects) > 1 or any(
            "*" in s or ">" in s for s in self.subjects
        )
        if self.include_metadata:
            raise CodecError(
                "includeMetadata is a batch-reader option (streaming rows "
                "carry provenance via the checkpointed offsets themselves)"
            )

    def _size(self) -> int:
        from datafusion_nats_spark.sources.broker import get_broker

        return get_broker(self.url).size(self.subject)

    def initialOffset(self) -> dict:
        if self._multi:
            # subjects are discovered at the first latestOffset(); an
            # empty map means "nothing admitted from any log yet"
            return {"offsets": {}}
        return {"offset": 0}

    @staticmethod
    def _fair_allocate(avail: dict[str, int], budget: int) -> dict[str, int]:
        """Deterministic equal-share split of a row budget across subject
        logs: repeatedly grant each still-hungry subject an equal slice
        (sorted order breaks remainders), so one hot subject cannot
        starve the others within a trigger."""
        alloc = {s: 0 for s in avail}
        remaining = budget
        active = sorted(s for s in avail if avail[s] > 0)
        while remaining > 0 and active:
            share = max(1, remaining // len(active))
            for s in active:
                take = min(share, avail[s] - alloc[s], remaining)
                alloc[s] += take
                remaining -= take
                if remaining == 0:
                    break
            active = sorted(s for s in avail if avail[s] > alloc[s])
        return alloc

    def _latest_offset_multi(self) -> dict:
        from datafusion_nats_spark.sources.broker import get_broker

        broker = get_broker(self.url)
        last: dict[str, int] = dict(getattr(self, "_last_ends", {}))
        # union of everything seen so far and the current resolution —
        # a subject that stops matching (stream pruned) keeps its
        # counter so the checkpoint stays monotonic
        subjects = sorted(set(last) | set(self.resolved_subjects()))
        sizes = {s: broker.size(s) for s in subjects}
        starts = {s: last.get(s, 0) for s in subjects}
        avail = {s: max(0, sizes[s] - starts[s]) for s in subjects}
        if self.max_per_batch == 0:
            alloc = dict(avail)
        else:
            alloc = self._fair_allocate(avail, self.max_per_batch)
        ends = {s: starts[s] + alloc[s] for s in subjects}
        if self.max_bytes_per_batch is not None:
            # One shared byte budget, with the single-subject progress
            # guarantee generalized: the walk STARTS at a rotating
            # subject each trigger, and the front subject may always
            # admit its head message even over budget. Without the
            # rotation, a subject whose head message exceeds the budget
            # would starve forever behind any earlier-sorted subject
            # with steady small traffic (round-6 self-review).
            self._byte_rotation = getattr(self, "_byte_rotation", 0) + 1
            rot = self._byte_rotation % max(1, len(subjects))
            walk_order = subjects[rot:] + subjects[:rot]
            budget = self.max_bytes_per_batch
            admitted_any = False
            for s in walk_order:
                admitted = starts[s]
                if budget > 0 or not admitted_any:
                    for payload in broker.fetch(s, starts[s], ends[s]):
                        budget -= len(payload)
                        if budget < 0 and (admitted_any or admitted > starts[s]):
                            break
                        admitted += 1
                        admitted_any = True
                        if budget <= 0:
                            break
                ends[s] = admitted
        self._last_ends = ends
        return {"offsets": ends}

    def latestOffset(self) -> dict:
        if self._multi:
            return self._latest_offset_multi()
        # Admission control: never advance more than maxMessagesPerBatch per
        # trigger (the batch_size=1000 analogue, batch_buffer.rs:24), and —
        # when maxBytesPerBatch is set — never admit more payload bytes than
        # that (Kafka maxTriggerDelay/maxBytes-style byte admission; the
        # reference's count-only buffer has no byte bound, so an outlier
        # burst of large messages can overrun one micro-batch there).
        size = self._size()
        start = getattr(self, "_last_end", 0)
        end = size if self.max_per_batch == 0 else min(size, start + self.max_per_batch)
        if self.max_bytes_per_batch is not None and end > start:
            from datafusion_nats_spark.sources.broker import get_broker

            budget = self.max_bytes_per_batch
            admitted = start
            for payload in get_broker(self.url).fetch(self.subject, start, end):
                budget -= len(payload)
                if budget < 0 and admitted > start:
                    break  # always admit ≥1 message so the stream progresses
                admitted += 1
                if budget <= 0:
                    break
            end = admitted
        self._last_end = max(start, end)
        return {"offset": self._last_end}

    def partitions(self, start: dict, end: dict):
        # Restart fast-forward: after a checkpointed restart the
        # admission counters (_last_end/_last_ends) are fresh zeros while
        # ``start`` carries the committed offsets — without this, the
        # pacing counter would crawl from 0 in cap-sized empty batches
        # until it re-passed the checkpoint (round-6 self-review). The
        # committed offset is authoritative: never pace below it.
        if self._multi:
            ends = getattr(self, "_last_ends", {})
            for s, off in (start.get("offsets") or {}).items():
                if ends.get(s, 0) < off:
                    ends[s] = off
            self._last_ends = ends
        else:
            self._last_end = max(getattr(self, "_last_end", 0), start.get("offset", 0))
        if self._multi:
            end_map = end.get("offsets", {})
            start_map = start.get("offsets", {})
            spans = [
                (s, start_map.get(s, 0), e)
                for s, e in sorted(end_map.items())
                if e > start_map.get(s, 0)
            ]
            if not spans:
                return [NatsPartition([])]
            if self.ingest == "executor":
                per = max(1, self.num_partitions // len(spans))
                parts = []
                for s, a, b in spans:
                    parts.extend(_split_offset_ranges(self.url, s, a, b, per))
                return parts or [NatsPartition([])]
            from datafusion_nats_spark.sources.broker import get_broker

            broker = get_broker(self.url)
            payloads = [
                p for s, a, b in spans for p in broker.fetch(s, a, b)
            ]  # subject order, then log order — the batch reader's order
            return [
                NatsPartition(p)
                for p in _split_round_robin_contiguous(payloads, self.num_partitions)
            ]
        if self.ingest == "executor":
            # Each micro-batch's [start, end) admission window splits into
            # offset-range partitions read directly by executors — per-trigger
            # parallel ingest over the replayable log (queue-group analogue).
            return _split_offset_ranges(
                self.url, self.subject, start["offset"], end["offset"], self.num_partitions
            ) or [NatsPartition([])]
        from datafusion_nats_spark.sources.broker import get_broker

        payloads = get_broker(self.url).fetch(self.subject, start["offset"], end["offset"])
        return [NatsPartition(p) for p in _split_round_robin_contiguous(payloads, self.num_partitions)]

    def read(self, partition):
        if isinstance(partition, NatsOffsetRangePartition):
            from datafusion_nats_spark.sources.broker import get_broker

            payloads = get_broker(partition.url).fetch(
                partition.subject, partition.start, partition.end
            )
        else:
            payloads = partition.payloads
        if self._opt("decode") == "arrow":
            # Vectorized TYPED micro-batch ingest: the partition's payloads
            # parse in one pyarrow.csv call and Spark receives ready-typed
            # Arrow batches — streaming gets the same no-Python-per-row
            # decode as the batch reader's vectorized paths.
            yield from self._decode_arrow(payloads)
            return
        if self._opt("decode") == "raw":
            # Arrow raw-line batches; typed decode happens downstream as
            # JVM expressions (codec.decode_lines) — the vectorized
            # streaming path, same contract as the batch reader's.
            import pyarrow as pa

            lines = [p.decode("utf-8", errors="replace") for p in payloads]
            if lines:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(lines, pa.string())], [self._raw_col]
                )
            return
        yield from _decode(payloads, self.codec, self.mode, self._dlq_publisher())

    def commit(self, end: dict) -> None:
        # Log is retained (replayability); nothing to prune.
        pass

    def stop(self) -> None:
        pass


def _encode_value(v) -> str:
    import datetime

    if v is None:
        raise CodecError("NULL values are not encodable (reference: no-NULL wire format)")
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, datetime.date):
        return v.isoformat()
    s = str(v)
    if "," in s or s == "" or "\n" in s or "\r" in s:
        raise CodecError(f"value not representable in the no-quoting wire format: {s!r}")
    return s


class NatsBatchWriter(DataSourceWriter, _OptionsMixin):
    """Publish rows as CSV lines (the sink the reference lacks — its results
    are only collect()/show(), SURVEY §2B "Sinks").

    Two publish placements:

    - ``publishFrom=driver`` (default): executor tasks encode, the
      driver-side ``commit`` publishes after every task succeeded —
      all-or-nothing at the job boundary, but the driver NIC serializes
      all sink traffic.
    - ``publishFrom=executor``: each task publishes its own partition
      directly (both replayable backends accept writes from any
      process: the file log via O_APPEND, JetStream via its own
      client). At 100 TB this removes the driver bottleneck — the
      cluster-scale placement — at the cost of at-least-once semantics:
      a retried task republishes its rows (document-idempotent readers
      or JetStream dedup windows absorb this).
    """

    def __init__(self, schema: T.StructType, options: dict) -> None:
        self.options = {k.lower(): v for k, v in options.items()}
        self._publish_from = self._opt("publishfrom", "driver")
        if self._publish_from not in ("driver", "executor"):
            raise CodecError(f"unknown publishFrom: {self._publish_from}")
        # subjectColumn: route each row to the subject named in that column
        # (excluded from the wire payload) — the Kafka topic-column
        # analogue, and the natural NATS shape: subjects are cheap,
        # hierarchical routing keys.
        col = self._opt("subjectcolumn")
        self._route_idx: int | None = None
        if col is not None:
            names = [f.name for f in schema.fields]
            if col not in names:
                raise CodecError(f"subjectColumn '{col}' not in the written schema")
            self._route_idx = names.index(col)
            schema = T.StructType(
                [f for i, f in enumerate(schema.fields) if i != self._route_idx]
            )
        CsvCodec(schema)  # validate the (payload) schema against wire rules

    def _encode_partition(self, rows) -> list:
        if self._route_idx is None:
            return [
                ",".join(_encode_value(v) for v in row).encode("utf-8") for row in rows
            ]
        i = self._route_idx
        routed = []
        for row in rows:
            payload = ",".join(
                _encode_value(v) for j, v in enumerate(row) if j != i
            ).encode("utf-8")
            routed.append((str(row[i]), payload))
        return routed

    def _publish(self, broker, item) -> None:
        if self._route_idx is not None:
            subject, line = item
            broker.publish(subject, line)
        else:
            broker.publish(self.subject, item)

    def write(self, rows) -> NatsCommitMessage:
        items = self._encode_partition(rows)
        if self._publish_from == "executor":
            # direct per-task publish (at-least-once on task retry)
            from datafusion_nats_spark.sources.broker import get_broker

            broker = get_broker(self.url)
            for item in items:
                self._publish(broker, item)
            return NatsCommitMessage(lines=[])
        return NatsCommitMessage(lines=items)

    def commit(self, messages) -> None:
        from datafusion_nats_spark.sources.broker import get_broker

        broker = get_broker(self.url)
        for message in messages:
            for item in message.lines:
                self._publish(broker, item)

    def abort(self, messages) -> None:
        pass


class NatsStreamWriter(_OptionsMixin):
    """Streaming sink: ``df.writeStream.format("nats")`` publishes every
    micro-batch's rows as CSV wire lines to a subject. The only code that
    encodes and publishes streamed sink rows.

    It runs as the query's driver-side ``foreachBatch`` function
    (:func:`register` installs that): the epoch's rows are collected on
    the driver, all encoded, then published — so an epoch whose job
    fails, or that holds one unencodable value, publishes nothing. Any
    output mode works, ``update`` included. Spark's Python
    ``DataSourceStreamWriter`` path would add a planner round trip, a
    Python write stage and a commit runner to every epoch, ~0.7 s
    (PERFORMANCE.md, "Stream sink per-epoch cost").
    """

    def __init__(self, schema: T.StructType, options: dict) -> None:
        self.options = {k.lower(): v for k, v in options.items()}
        CsvCodec(schema)  # validate the schema against wire rules
        self._timestamps = [
            f.name for f in schema.fields if isinstance(f.dataType, T.TimestampType)
        ]

    def __call__(self, batch_df, batch_id: int) -> None:
        from datafusion_nats_spark.sources.broker import get_broker

        if self._timestamps:
            from pyspark.sql import functions as F

            # collect() renders TIMESTAMP values in this Python process's
            # local zone; as TIMESTAMP_NTZ they carry the session time
            # zone's wall clock instead
            batch_df = batch_df.withColumns(
                {
                    c: F.col(f"`{c.replace('`', '``')}`").cast("timestamp_ntz")
                    for c in self._timestamps
                }
            )
        lines = [
            ",".join(_encode_value(v) for v in row).encode("utf-8")
            for row in batch_df.collect()
        ]
        broker = get_broker(self.url)
        for line in lines:
            broker.publish(self.subject, line)


class NatsDataSource(DataSource):
    """``format("nats")`` — one subject, one table (reference: README.md:27-30)."""

    @classmethod
    def name(cls) -> str:
        return "nats"

    def schema(self):
        # Schema is user-declared by default, as in the reference; with
        # .option("inferSchema", "true") a sample of the subject log is
        # type-inferred instead — completing the reference's unimplemented
        # roadmap item (reference: README.md:17, unchecked TODO).
        opts = {k.lower(): v for k, v in self.options.items()}
        if opts.get("inferschema", "").lower() != "true":
            raise CodecError(
                "the nats source requires a user-declared schema: "
                "spark.read.format('nats').schema(...).options(...) — or "
                "pass .option('inferSchema', 'true') to sample the subject"
            )
        from datafusion_nats_spark.codec import infer_schema
        from datafusion_nats_spark.sources.broker import get_broker

        url = opts.get("url", "memory://default")
        subject = opts.get("subject")
        if not subject:
            raise CodecError("option 'subject' is required for the nats source")
        sample_size = int(opts.get("samplesize", "100"))
        first_subject = subject.split(",")[0].strip()
        sample = get_broker(url).fetch(first_subject, 0, sample_size)
        names = opts.get("columnnames")
        return infer_schema(
            sample, names=[n.strip() for n in names.split(",")] if names else None
        )

    def reader(self, schema: T.StructType) -> NatsBatchReader:
        opts = dict(self.options)
        if opts.get("pushdown", "").lower() == "true":
            return NatsPushdownBatchReader(schema, opts)
        return NatsBatchReader(schema, opts)

    def streamReader(self, schema: T.StructType) -> NatsStreamReader:
        return NatsStreamReader(schema, dict(self.options))

    def writer(self, schema: T.StructType, overwrite: bool) -> NatsBatchWriter:
        return NatsBatchWriter(schema, dict(self.options))


def register(spark) -> None:
    """Register the source: ``spark.read.format("nats")`` becomes
    available, and ``df.writeStream.format("nats")`` runs as a driver-side
    ``foreachBatch`` publish (:func:`_install_stream_sink`)."""
    spark.dataSource.register(NatsDataSource)
    _install_stream_sink()


def _install_stream_sink() -> None:
    """Wrap ``DataStreamWriter`` so that a ``format("nats")`` query starts
    as a ``foreachBatch`` of :class:`NatsStreamWriter`. Installed once per
    process; a second call is a no-op.

    The wrapped methods record, per writer, whether its format is
    ``nats`` (``format``, ``start(format=...)``; a later ``foreach`` or
    ``foreachBatch`` replaces it, as in Spark) and its options
    (``option``, ``options``, ``start(**options)``). Every call still
    reaches Spark's own method, so other formats are untouched.
    """
    import functools

    from pyspark.sql.streaming.readwriter import DataStreamWriter
    from pyspark.sql.utils import to_str

    if getattr(DataStreamWriter.start, "_nats_installed", False):
        return
    base = {
        name: getattr(DataStreamWriter, name)
        for name in ("format", "option", "options", "foreach", "foreachBatch", "start")
    }

    def record(self, options: dict) -> None:
        recorded = self.__dict__.setdefault("_nats_options", {})
        for k, v in options.items():
            recorded[k.lower()] = to_str(v)

    @functools.wraps(base["format"])
    def format(self, source):
        self._nats_sink = str(source).lower() == NatsDataSource.name()
        return base["format"](self, source)

    @functools.wraps(base["option"])
    def option(self, key, value):
        record(self, {key: value})
        return base["option"](self, key, value)

    @functools.wraps(base["options"])
    def options(self, **opts):
        record(self, opts)
        return base["options"](self, **opts)

    @functools.wraps(base["foreach"])
    def foreach(self, f):
        self._nats_sink = False
        return base["foreach"](self, f)

    @functools.wraps(base["foreachBatch"])
    def foreachBatch(self, func):
        self._nats_sink = False
        return base["foreachBatch"](self, func)

    @functools.wraps(base["start"])
    def start(self, path=None, format=None, outputMode=None, partitionBy=None,
              queryName=None, **opts):
        if format is not None:
            self.format(format)
        if getattr(self, "_nats_sink", False):
            self.options(**opts)
            opts = {}
            base["foreachBatch"](self, NatsStreamWriter(self._df.schema, self._nats_options))
        return base["start"](self, path, None, outputMode, partitionBy, queryName, **opts)

    start._nats_installed = True
    for name, fn in (("format", format), ("option", option), ("options", options),
                     ("foreach", foreach), ("foreachBatch", foreachBatch), ("start", start)):
        setattr(DataStreamWriter, name, fn)


def read_nats(spark, schema: T.StructType, vectorized: bool = False, **options):
    """Composed batch read of a NATS subject.

    vectorized=False: the row-path reader (Python parse per message —
    the reference-exact codec, good for modest volumes).
    vectorized=True: the scale path — the source ships Arrow batches of
    raw lines and the typed decode runs as JVM expressions
    (codec.decode_lines): no per-row Python anywhere.
    Both paths enforce identical wire semantics; see
    tests/test_nats_source.py::test_vectorized_read_matches_row_path.
    """
    from datafusion_nats_spark.codec import decode_lines, validate_schema

    if not vectorized:
        reader = spark.read.format("nats").schema(schema)
        for k, v in options.items():
            reader = reader.option(k, v)
        return reader.load()
    validate_schema(schema)
    reader = spark.read.format("nats").schema("value string").option("decode", "raw")
    mode = options.pop("mode", "permissive-skip")
    if mode == "failfast":
        raise CodecError(
            "vectorized decode is null-based; use mode='permissive-skip' or "
            "'marked' (or the row path for failfast semantics)"
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return decode_lines(reader.load(), schema, mode=mode)


def read_nats_stream(spark, schema: T.StructType, vectorized: bool = False, **options):
    """Composed streaming read of a NATS subject — the readStream twin of
    :func:`read_nats`.

    vectorized=True ships Arrow batches of raw lines from the stream
    reader and decodes them as JVM expressions downstream
    (codec.decode_lines works unchanged on streaming DataFrames) — no
    per-row Python in the micro-batch hot loop.
    """
    from datafusion_nats_spark.codec import decode_lines, validate_schema

    if not vectorized:
        reader = spark.readStream.format("nats").schema(schema)
        for k, v in options.items():
            reader = reader.option(k, v)
        return reader.load()
    validate_schema(schema)
    reader = spark.readStream.format("nats").schema("value string").option("decode", "raw")
    mode = options.pop("mode", "permissive-skip")
    if mode == "failfast":
        raise CodecError(
            "vectorized decode is null-based; use mode='permissive-skip' "
            "(or the row path for failfast semantics)"
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return decode_lines(reader.load(), schema, mode=mode)
