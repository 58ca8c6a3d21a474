"""Pure-stdlib core-NATS wire protocol: a minimal client and a loopback
test server.

The reference's defining I/O is a live core-NATS TCP socket
(reference: src/nats_connection.rs:4-12 — async_nats ``connect`` +
``subscribe``; src/executor.rs:94-132 — subscribe-then-drain into the
engine). The optional ``nats-py`` dependency is absent in many
environments, so this module speaks the protocol directly with nothing
but ``socket``/``threading``/``json`` — the wire format is a tiny
line-based dialect (https://docs.nats.io/reference/reference-protocols/nats-protocol):

- server → client: ``INFO {json}``, ``MSG <subject> <sid> [reply] <#bytes>\\r\\n<payload>``,
  ``HMSG <subject> <sid> [reply] <#hdr> <#total>\\r\\n<headers><payload>``,
  ``PING``/``PONG``, ``+OK``, ``-ERR 'msg'``
- client → server: ``CONNECT {json}``, ``PUB <subject> [reply] <#bytes>\\r\\n<payload>``,
  ``HPUB <subject> [reply] <#hdr> <#total>\\r\\n<headers><payload>``,
  ``SUB <subject> [queue] <sid>``, ``UNSUB <sid> [max]``, ``PING``/``PONG``

Message headers (NATS 2.2+, https://docs.nats.io/reference/reference-protocols/nats-protocol#hpub)
ride in an HTTP-style block ``NATS/1.0\\r\\nKey: Value\\r\\n...\\r\\n\\r\\n``
whose byte length is the ``<#hdr>`` token and is INCLUDED in ``<#total>``.
Both sides here advertise ``headers: true`` and speak HPUB/HMSG; a
headerless publish still travels as plain PUB/MSG, matching real
nats-server behavior.

``MiniNatsClient`` implements the subset the source needs (publish,
subscribe, bounded drain, flush) and works against any real
``nats-server``. ``MiniNatsServer`` implements the same subset from the
server side — including ``*``/``>`` wildcard subscriptions and queue
groups — so the live-broker golden e2e (the twin of reference
tests/integration_test.rs:14-77) runs in environments with no broker
installed. Core-NATS delivery semantics are preserved faithfully:
at-most-once, no replay — a subscriber only sees messages published
AFTER its SUB reaches the server (the property that breaks the
reference's own publish-first integration test, SURVEY §4.1).
"""

from __future__ import annotations

import json
import queue
import socket
import threading
from urllib.parse import urlparse

from datafusion_nats_spark.sources.broker import subject_matches, subjects_overlap

MAX_PAYLOAD = 1024 * 1024  # the nats-server default


def parse_nats_url(url: str) -> tuple[str, int]:
    p = urlparse(url)
    if p.scheme not in ("nats", "tcp"):
        raise ValueError(f"not a nats:// url: {url!r}")
    return p.hostname or "127.0.0.1", p.port or 4222


class NatsWireError(RuntimeError):
    """Protocol-level failure (handshake, -ERR, truncated frame)."""


_HDR_VERSION = b"NATS/1.0"


def encode_headers(headers: dict[str, str]) -> bytes:
    """Serialize a header map to the wire block (version line + one
    ``Key: Value`` per entry + blank-line terminator). Keys and values
    must be CR/LF-free and keys colon-free — the block is line-framed, so
    embedded terminators would desynchronize the stream (same failfast
    stance as the CSV codec's embedded-newline rejection)."""
    lines = [_HDR_VERSION]
    for k, v in headers.items():
        if not k or ":" in k or any(c in "\r\n" for c in k) or any(c in "\r\n" for c in v):
            raise NatsWireError(f"invalid header {k!r}: {v!r}")
        lines.append(f"{k}: {v}".encode("utf-8"))
    return b"\r\n".join(lines) + b"\r\n\r\n"


def parse_headers(block: bytes) -> dict[str, str]:
    """Parse a wire header block. The version line may carry an inline
    status (``NATS/1.0 503`` / ``NATS/1.0 100 Idle Heartbeat``) — exposed
    as ``Status`` / ``Description`` pseudo-headers, the same convention
    the official clients use. Duplicate keys: last wins (documented
    simplification; real NATS preserves multi-values)."""
    if not block.startswith(_HDR_VERSION):
        raise NatsWireError(f"bad header block start: {block[:16]!r}")
    out: dict[str, str] = {}
    lines = block.split(b"\r\n")
    status = lines[0][len(_HDR_VERSION):].strip()
    if status:
        parts = status.decode("utf-8", errors="replace").split(" ", 1)
        out["Status"] = parts[0]
        if len(parts) > 1:
            out["Description"] = parts[1]
    for line in lines[1:]:
        if not line:
            continue
        key, sep, val = line.partition(b":")
        if not sep:
            raise NatsWireError(f"malformed header line: {line!r}")
        out[key.decode("utf-8").strip()] = val.decode("utf-8").strip()
    return out


class MiniNatsClient:
    """Synchronous core-NATS client over one TCP socket.

    A background reader thread parses server frames: MSG payloads land in
    per-subscription queues, PONG completes ``flush()``, server PINGs are
    answered inline (a client that never PONGs gets disconnected as a
    stale connection). All writes are serialized by a lock so publishes
    from multiple threads interleave at frame granularity.
    """

    def __init__(self, url: str, timeout_s: float = 5.0) -> None:
        self.host, self.port = parse_nats_url(url)
        self.timeout_s = timeout_s
        self._sock: socket.socket | None = None
        self._rfile = None
        self._wlock = threading.Lock()
        self._pong = threading.Event()
        self._closed = threading.Event()
        self._next_sid = 0
        self._queues: dict[int, queue.Queue] = {}
        self._reader: threading.Thread | None = None
        self.server_info: dict = {}

    # -- lifecycle ----------------------------------------------------------

    def connect(self) -> "MiniNatsClient":
        self._sock = socket.create_connection(
            (self.host, self.port), timeout=self.timeout_s
        )
        # request() writes SUB then PUB as two small frames; with Nagle on,
        # the second waits for the peer's delayed ACK (~40 ms per call)
        self._sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self._rfile = self._sock.makefile("rb")
        # The whole handshake runs under timeout_s: a TCP service that
        # accepts but never writes (which a connect-only reachability probe
        # cannot exclude) must fail loudly here, never hang a Spark task.
        try:
            line = self._rfile.readline()
        except TimeoutError as e:
            raise NatsWireError("timed out waiting for server INFO") from e
        if not line.upper().startswith(b"INFO "):
            raise NatsWireError(f"expected INFO, got {line[:80]!r}")
        self.server_info = json.loads(line[5:].strip() or b"{}")
        opts = {
            "verbose": False,
            "pedantic": False,
            "tls_required": False,
            "name": "datafusion-nats-spark-mini",
            "lang": "python",
            "version": "0.1",
            "protocol": 0,
            "headers": True,  # we can parse HMSG; server may still send MSG
        }
        self._send(b"CONNECT " + json.dumps(opts).encode() + b"\r\nPING\r\n")
        try:
            while True:  # inline PONG wait — bounded by the socket timeout
                line = self._rfile.readline()
                if not line:
                    raise NatsWireError("connection closed during handshake")
                upper = line.strip().upper()
                if upper == b"PONG":
                    break
                if upper == b"PING":
                    self._send(b"PONG\r\n")
                elif upper.startswith(b"-ERR"):
                    raise NatsWireError(line.strip().decode(errors="replace"))
                # +OK / async INFO: ignore
        except TimeoutError as e:
            raise NatsWireError("handshake timed out waiting for PONG") from e
        # handshake done — the reader thread blocks on recv; a socket
        # timeout would tear down idle subscriptions, so only NOW switch
        # to blocking mode
        self._sock.settimeout(None)
        self._reader = threading.Thread(target=self._read_loop, daemon=True)
        self._reader.start()
        return self

    def close(self) -> None:
        self._closed.set()
        try:
            if self._sock is not None:
                self._sock.close()
        except OSError:
            pass

    def __enter__(self) -> "MiniNatsClient":
        return self.connect()

    def __exit__(self, *exc) -> None:
        self.close()

    # -- protocol ops -------------------------------------------------------

    def _send(self, data: bytes) -> None:
        if self._sock is None:
            raise NatsWireError("not connected")
        with self._wlock:
            self._sock.sendall(data)

    def flush(self, timeout_s: float | None = None) -> None:
        """PING → PONG round trip: everything written before the PING has
        been processed by the server when the PONG arrives."""
        self._pong.clear()
        self._send(b"PING\r\n")
        if not self._pong.wait(timeout_s or self.timeout_s):
            raise NatsWireError("flush timed out waiting for PONG")

    def publish(
        self,
        subject: str,
        payload: bytes | str,
        reply: str | None = None,
        headers: dict[str, str] | None = None,
    ) -> None:
        if isinstance(payload, str):
            payload = payload.encode("utf-8")
        if len(payload) > MAX_PAYLOAD:
            raise NatsWireError(f"payload exceeds max {MAX_PAYLOAD}")
        rtok = f" {reply}" if reply else ""
        if headers:
            if not self.server_info.get("headers"):
                raise NatsWireError("server does not advertise headers support")
            hdr = encode_headers(headers)
            self._send(
                f"HPUB {subject}{rtok} {len(hdr)} {len(hdr) + len(payload)}\r\n".encode()
                + hdr
                + payload
                + b"\r\n"
            )
        else:
            self._send(
                f"PUB {subject}{rtok} {len(payload)}\r\n".encode() + payload + b"\r\n"
            )

    def request(
        self,
        subject: str,
        payload: bytes | str = b"",
        timeout_s: float | None = None,
        headers: dict[str, str] | None = None,
    ) -> bytes:
        """Core-NATS request/reply: publish with a unique inbox reply
        subject and wait for one response — the transport JetStream's
        JSON API rides on. SUB and PUB travel in order on one TCP
        connection, so the server registers the inbox before it processes
        the request; no extra flush round-trip is needed.

        The inbox token must be globally random (real clients use a
        NUID): a process-local value like id(self) collides across
        executor worker processes, and the server fans a reply out to
        EVERY subscription on the matching subject — two workers sharing
        an inbox name would receive each other's responses."""
        import os

        self._next_sid += 1
        inbox = f"_INBOX.{os.urandom(8).hex()}.{self._next_sid}"
        sid = self.subscribe(inbox)
        try:
            self.publish(subject, payload, reply=inbox, headers=headers)
            got = self.next_msg(sid, timeout_s or self.timeout_s)
        finally:
            self.unsubscribe(sid)
        if got is None:
            raise NatsWireError(f"request to {subject!r} timed out (no responders?)")
        return got[1]

    def subscribe(self, subject: str, queue_group: str | None = None) -> int:
        self._next_sid += 1
        sid = self._next_sid
        self._queues[sid] = queue.Queue()
        group = f" {queue_group}" if queue_group else ""
        self._send(f"SUB {subject}{group} {sid}\r\n".encode())
        return sid

    def unsubscribe(self, sid: int) -> None:
        self._send(f"UNSUB {sid}\r\n".encode())
        self._queues.pop(sid, None)

    def next_msg(self, sid: int, timeout_s: float) -> tuple[str, bytes] | None:
        """(subject, payload) or None on timeout/close. Headers, if any,
        are dropped here — use :meth:`next_msg_full` to observe them."""
        got = self.next_msg_full(sid, timeout_s)
        return None if got is None else (got[0], got[1])

    def next_msg_full(
        self, sid: int, timeout_s: float
    ) -> tuple[str, bytes, dict[str, str] | None] | None:
        """(subject, payload, headers-or-None) or None on timeout/close."""
        q = self._queues.get(sid)
        if q is None:
            return None
        try:
            return q.get(timeout=timeout_s)
        except queue.Empty:
            return None

    def drain(self, subject: str, max_messages: int, timeout_ms: int) -> list[bytes]:
        """Subscribe and collect up to ``max_messages`` within the window —
        at-most-once: only messages published after the flushed SUB are
        seen (reference executor.rs:94 semantics)."""
        import time

        sid = self.subscribe(subject)
        self.flush()  # the SUB is live server-side from here on
        out: list[bytes] = []
        deadline = time.monotonic() + timeout_ms / 1000.0
        while len(out) < max_messages:
            remaining = deadline - time.monotonic()
            if remaining <= 0 or self._closed.is_set():
                break
            got = self.next_msg(sid, remaining)
            if got is not None:
                out.append(got[1])
        self.unsubscribe(sid)
        return out

    # -- reader -------------------------------------------------------------

    def _read_loop(self) -> None:
        try:
            while not self._closed.is_set():
                line = self._rfile.readline()
                if not line:
                    break
                op = line.strip()
                upper = op.upper()
                if upper.startswith(b"MSG "):
                    parts = op.split()
                    # MSG <subject> <sid> [reply-to] <#bytes>
                    subject = parts[1].decode()
                    sid = int(parts[2])
                    nbytes = int(parts[-1])
                    payload = self._rfile.read(nbytes)
                    self._rfile.read(2)  # trailing CRLF
                    q = self._queues.get(sid)
                    if q is not None:
                        q.put((subject, payload, None))
                elif upper.startswith(b"HMSG "):
                    parts = op.split()
                    # HMSG <subject> <sid> [reply-to] <#hdr-bytes> <#total-bytes>
                    subject = parts[1].decode()
                    sid = int(parts[2])
                    hdr_len, total = int(parts[-2]), int(parts[-1])
                    blob = self._rfile.read(total)
                    self._rfile.read(2)  # trailing CRLF
                    q = self._queues.get(sid)
                    if q is not None:
                        q.put((subject, blob[hdr_len:], parse_headers(blob[:hdr_len])))
                elif upper == b"PING":
                    self._send(b"PONG\r\n")
                elif upper == b"PONG":
                    self._pong.set()
                elif upper.startswith(b"-ERR"):
                    raise NatsWireError(op.decode(errors="replace"))
                # +OK and async INFO are acknowledged by ignoring them
        except (OSError, ValueError):
            pass  # socket torn down underneath us — fall through to close
        except NatsWireError:
            pass  # surfaced via closed-state to blocked consumers
        finally:
            self._closed.set()


class _ServerSub:
    __slots__ = ("conn", "sid", "subject", "group", "remaining", "delivered")

    def __init__(self, conn, sid, subject, group):
        self.conn = conn
        self.sid = sid
        self.subject = subject
        self.group = group
        self.remaining: int | None = None  # UNSUB <sid> <max> auto-expiry
        self.delivered = 0  # total MSGs sent on this sid (auto-unsub counts these)


class MiniNatsServer:
    """Loopback core-NATS server (threaded, stdlib-only) implementing
    INFO/CONNECT/PING/PONG/PUB/SUB/UNSUB/MSG with NATS subject-pattern
    matching (``*`` one token, ``>`` trailing tokens) and queue-group
    round-robin. Enough protocol for nats-py, the reference's async_nats,
    or MiniNatsClient to connect and run the golden pub/sub path.

    ``jetstream=True`` additionally serves the minimal JetStream subset
    the source's durable transport uses, speaking the real ``$JS.API.*``
    request/reply JSON protocol
    (https://docs.nats.io/reference/reference-protocols/nats_api_reference):
    STREAM.CREATE/INFO/LIST/NAMES/PURGE, sequence-addressed
    STREAM.MSG.GET, and stream capture of publishes to bound subjects
    with PubAck replies — so the offset-range/executor-ingest contract
    runs hermetically, and the same client code works against a real
    JetStream-enabled ``nats-server``. No TLS, no auth, no consumers."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0, jetstream: bool = False) -> None:
        self.host = host
        self.port = port
        self._listener: socket.socket | None = None
        self._subs: list[_ServerSub] = []
        self._lock = threading.Lock()  # subs registry + round-robin state
        self._rr: dict[tuple[str, str], int] = {}  # queue-group cursor
        self._conns: list[socket.socket] = []
        self._stopping = threading.Event()
        self._client_seq = 0
        self._jetstream = jetstream
        # name -> {"config": dict, "messages": [(subject, payload)], "first_seq": int}
        self._js: dict[str, dict] = {}

    @property
    def url(self) -> str:
        return f"nats://{self.host}:{self.port}"

    def start(self) -> "MiniNatsServer":
        self._listener = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._listener.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._listener.bind((self.host, self.port))
        self.port = self._listener.getsockname()[1]
        self._listener.listen(32)
        threading.Thread(target=self._accept_loop, daemon=True).start()
        return self

    def stop(self) -> None:
        self._stopping.set()
        try:
            if self._listener is not None:
                self._listener.close()
        except OSError:
            pass
        with self._lock:
            conns = list(self._conns)
        for c in conns:
            try:
                c.close()
            except OSError:
                pass

    def __enter__(self) -> "MiniNatsServer":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()

    # -- per-connection -----------------------------------------------------

    def _accept_loop(self) -> None:
        while not self._stopping.is_set():
            try:
                conn, _ = self._listener.accept()
            except OSError:
                return
            # replies are small frames too: no Nagle/delayed-ACK stall
            conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            with self._lock:
                self._conns.append(conn)
                self._client_seq += 1
                cid = self._client_seq
            threading.Thread(
                target=self._serve_conn, args=(conn, cid), daemon=True
            ).start()

    def _info_json(self, cid: int) -> bytes:
        info = {
            "server_id": "mini-nats",
            "server_name": "mini-nats",
            "version": "2.99.0-mini",
            "proto": 1,
            "host": self.host,
            "port": self.port,
            "headers": True,
            "jetstream": self._jetstream,
            "max_payload": MAX_PAYLOAD,
            "client_id": cid,
        }
        return b"INFO " + json.dumps(info).encode() + b"\r\n"

    def _serve_conn(self, conn: socket.socket, cid: int) -> None:
        wlock = threading.Lock()

        def send(data: bytes) -> bool:
            try:
                with wlock:
                    conn.sendall(data)
                return True
            except OSError:
                return False

        verbose = False
        rfile = conn.makefile("rb")
        send(self._info_json(cid))
        try:
            while not self._stopping.is_set():
                line = rfile.readline()
                if not line:
                    break
                op = line.strip()
                if not op:
                    continue
                upper = op.upper()
                if upper.startswith(b"CONNECT"):
                    try:
                        verbose = bool(json.loads(op[7:].strip() or b"{}").get("verbose"))
                    except ValueError:
                        send(b"-ERR 'Invalid Client Protocol'\r\n")
                        break
                    if verbose:
                        send(b"+OK\r\n")
                elif upper == b"PING":
                    send(b"PONG\r\n")
                elif upper == b"PONG":
                    pass
                elif upper.startswith(b"SUB "):
                    parts = op.split()
                    if len(parts) == 3:  # SUB <subject> <sid>
                        subject, group, sid = parts[1].decode(), None, parts[2].decode()
                    elif len(parts) == 4:  # SUB <subject> <queue> <sid>
                        subject, group, sid = (
                            parts[1].decode(),
                            parts[2].decode(),
                            parts[3].decode(),
                        )
                    else:
                        send(b"-ERR 'Unknown Protocol Operation'\r\n")
                        break
                    with self._lock:
                        self._subs.append(
                            _ServerSub((conn, send), sid, subject, group)
                        )
                    if verbose:
                        send(b"+OK\r\n")
                elif upper.startswith(b"UNSUB "):
                    parts = op.split()
                    sid = parts[1].decode()
                    max_msgs = int(parts[2]) if len(parts) > 2 else None
                    with self._lock:
                        for s in self._subs:
                            if s.conn[0] is conn and s.sid == sid:
                                if max_msgs is None:
                                    self._subs.remove(s)
                                else:
                                    # real nats-server counts TOTAL deliveries
                                    # on the sid toward <max>, including those
                                    # before the UNSUB arrived
                                    s.remaining = max_msgs - s.delivered
                                    if s.remaining <= 0:
                                        self._subs.remove(s)
                                break
                    if verbose:
                        send(b"+OK\r\n")
                elif upper.startswith(b"PUB "):
                    parts = op.split()
                    # PUB <subject> [reply-to] <#bytes>
                    subject = parts[1].decode()
                    reply = parts[2].decode() if len(parts) == 4 else None
                    nbytes = int(parts[-1])
                    if nbytes > MAX_PAYLOAD:
                        send(b"-ERR 'Maximum Payload Violation'\r\n")
                        break
                    payload = rfile.read(nbytes)
                    rfile.read(2)  # CRLF
                    if self._jetstream and subject.startswith("$JS.API."):
                        self._handle_js_api(subject, reply, payload)
                    else:
                        if self._jetstream:
                            self._js_capture(subject, reply, payload)
                        self._route(subject, reply, payload)
                    if verbose:
                        send(b"+OK\r\n")
                elif upper.startswith(b"HPUB "):
                    parts = op.split()
                    # HPUB <subject> [reply-to] <#hdr-bytes> <#total-bytes>
                    subject = parts[1].decode()
                    reply = parts[2].decode() if len(parts) == 5 else None
                    hdr_len, total = int(parts[-2]), int(parts[-1])
                    if total > MAX_PAYLOAD:
                        send(b"-ERR 'Maximum Payload Violation'\r\n")
                        break
                    blob = rfile.read(total)
                    rfile.read(2)  # CRLF
                    hdr_block, payload = blob[:hdr_len], blob[hdr_len:]
                    if not hdr_block.startswith(_HDR_VERSION):
                        send(b"-ERR 'Invalid Headers'\r\n")
                        break
                    # headers are opaque pass-through server-side (the real
                    # server never re-serializes them); JetStream API calls
                    # and the capture log use the payload only
                    if self._jetstream and subject.startswith("$JS.API."):
                        self._handle_js_api(subject, reply, payload)
                    else:
                        if self._jetstream:
                            self._js_capture(subject, reply, payload, hdr_block)
                        self._route(subject, reply, payload, hdr_block)
                    if verbose:
                        send(b"+OK\r\n")
                else:
                    send(b"-ERR 'Unknown Protocol Operation'\r\n")
                    break
        except (OSError, ValueError):
            pass
        finally:
            with self._lock:
                self._subs = [s for s in self._subs if s.conn[0] is not conn]
                if conn in self._conns:
                    self._conns.remove(conn)
            try:
                conn.close()
            except OSError:
                pass

    def _route(
        self,
        subject: str,
        reply: str | None,
        payload: bytes,
        hdr_block: bytes | None = None,
    ) -> None:
        """Fan out to every matching plain subscription and ONE member per
        matching queue group (round-robin cursor — deterministic, unlike
        the real server's random pick, which only strengthens tests).
        A message carrying headers is delivered as HMSG with the header
        block passed through byte-for-byte."""
        with self._lock:
            plain = [
                s
                for s in self._subs
                if s.group is None and subject_matches(s.subject, subject)
            ]
            groups: dict[tuple[str, str], list[_ServerSub]] = {}
            for s in self._subs:
                if s.group is not None and subject_matches(s.subject, subject):
                    groups.setdefault((s.subject, s.group), []).append(s)
            chosen = list(plain)
            for key, members in sorted(groups.items()):
                cursor = self._rr.get(key, 0)
                chosen.append(members[cursor % len(members)])
                self._rr[key] = cursor + 1
            expired = []
            for s in chosen:
                s.delivered += 1
                if s.remaining is not None:
                    s.remaining -= 1
                    if s.remaining <= 0:
                        expired.append(s)
            for s in expired:
                self._subs.remove(s)
        rtok = f" {reply}" if reply else ""
        for s in chosen:
            if hdr_block is not None:
                head = (
                    f"HMSG {subject} {s.sid}{rtok} "
                    f"{len(hdr_block)} {len(hdr_block) + len(payload)}\r\n"
                ).encode()
                s.conn[1](head + hdr_block + payload + b"\r\n")
            else:
                head = f"MSG {subject} {s.sid}{rtok} {len(payload)}\r\n".encode()
                s.conn[1](head + payload + b"\r\n")

    # -- JetStream subset ---------------------------------------------------

    def _js_info_obj(self, name: str) -> dict:
        """stream_info response body (the fields the JSON API's consumers
        read: config.name, config.subjects, state.messages/first_seq)."""
        st = self._js[name]
        n = len(st["messages"])
        first = st["first_seq"]
        return {
            "type": "io.nats.jetstream.api.v1.stream_info_response",
            "config": st["config"],
            "state": {
                "messages": n,
                "bytes": sum(len(p) for _, p, _h in st["messages"]),
                # empty stream: first stays at the next-expected seq (real
                # nats-server reports the same after a purge; the one
                # divergence is a NEVER-written stream, where it reports 0 —
                # the broker never reads first_seq before writing, so the
                # simpler invariant is kept)
                "first_seq": first,
                "last_seq": first + n - 1 if n else first - 1,
                "consumer_count": 0,
            },
        }

    @staticmethod
    def _js_error(code: int, err_code: int, description: str) -> dict:
        return {"error": {"code": code, "err_code": err_code, "description": description}}

    def _js_capture(
        self,
        subject: str,
        reply: str | None,
        payload: bytes,
        hdr_block: bytes | None = None,
    ) -> None:
        """Append a core publish to every stream whose bound subjects
        match; PubAck the publisher's reply inbox (js.publish semantics).
        A publish matching no stream gets no ack — the requester times
        out exactly like against a real server. Headers are stored as the
        raw wire block and surfaced base64 in MSG.GET's ``hdrs`` field,
        matching the real server's message-get response."""
        with self._lock:
            acks = []
            for name, st in self._js.items():
                if any(subject_matches(pat, subject) for pat in st["config"].get("subjects", [])):
                    st["messages"].append((subject, payload, hdr_block))
                    acks.append({"stream": name, "seq": st["first_seq"] + len(st["messages"]) - 1})
        if reply and acks:
            self._route(reply, None, json.dumps(acks[0]).encode())

    def _handle_js_api(self, subject: str, reply: str | None, payload: bytes) -> None:
        """$JS.API.* request/reply endpoints (JSON bodies, responses to
        the caller's inbox)."""
        op = subject[len("$JS.API."):]
        try:
            body = json.loads(payload or b"{}")
        except ValueError:
            body = {}
        resp: dict
        with self._lock:
            if op.startswith("STREAM.CREATE."):
                name = op[len("STREAM.CREATE."):]
                if name not in self._js:
                    cfg = dict(body) if isinstance(body, dict) else {}
                    cfg.setdefault("name", name)
                    cfg.setdefault("subjects", [name])
                    # real JetStream refuses overlapping subject bindings
                    # (two streams may not both own a subject) — without
                    # this, _js_capture could double-store a message while
                    # PubAck'ing only the first match
                    clash = any(
                        subjects_overlap(pa, pb)
                        for st in self._js.values()
                        for pa in cfg["subjects"]
                        for pb in st["config"].get("subjects", [])
                    )
                    if clash:
                        resp = self._js_error(
                            400, 10065, "subjects overlap with an existing stream"
                        )
                    else:
                        self._js[name] = {
                            "config": cfg,
                            "messages": [],
                            "first_seq": 1,
                        }
                        resp = self._js_info_obj(name)
                else:
                    # real JetStream: CREATE of an existing name is
                    # idempotent ONLY for an identical config; a different
                    # config answers err_code 10058 instead of silently
                    # keeping the old one (ADVICE round 5)
                    cfg = dict(body) if isinstance(body, dict) else {}
                    cfg.setdefault("name", name)
                    cfg.setdefault("subjects", [name])
                    if cfg == self._js[name]["config"]:
                        resp = self._js_info_obj(name)
                    else:
                        resp = self._js_error(
                            400,
                            10058,
                            "stream name already in use with a different configuration",
                        )
            elif op.startswith("STREAM.INFO."):
                name = op[len("STREAM.INFO."):]
                resp = (
                    self._js_info_obj(name)
                    if name in self._js
                    else self._js_error(404, 10059, "stream not found")
                )
            elif op.startswith("STREAM.MSG.GET."):
                name = op[len("STREAM.MSG.GET."):]
                if name not in self._js:
                    resp = self._js_error(404, 10059, "stream not found")
                else:
                    st = self._js[name]
                    seq = int(body.get("seq", 0))
                    pos = seq - st["first_seq"]
                    if 0 <= pos < len(st["messages"]):
                        subj, data, hdrs = st["messages"][pos]
                        import base64

                        msg = {
                            "subject": subj,
                            "seq": seq,
                            "data": base64.b64encode(data).decode(),
                            "time": "1970-01-01T00:00:00Z",
                        }
                        if hdrs is not None:
                            msg["hdrs"] = base64.b64encode(hdrs).decode()
                        resp = {"message": msg}
                    else:
                        resp = self._js_error(404, 10037, "no message found")
            elif op == "STREAM.LIST":
                infos = [self._js_info_obj(n) for n in sorted(self._js)]
                resp = {
                    "total": len(infos),
                    "offset": 0,
                    "limit": 256,
                    "streams": infos or None,
                }
            elif op == "STREAM.NAMES":
                names = sorted(self._js)
                resp = {
                    "total": len(names),
                    "offset": 0,
                    "limit": 1024,
                    "streams": names or None,
                }
            elif op.startswith("STREAM.PURGE."):
                name = op[len("STREAM.PURGE."):]
                if name not in self._js:
                    resp = self._js_error(404, 10059, "stream not found")
                else:
                    st = self._js[name]
                    purged = len(st["messages"])
                    st["first_seq"] += purged
                    st["messages"] = []
                    resp = {"success": True, "purged": purged}
            else:
                resp = self._js_error(404, 0, f"unknown JetStream API endpoint {op!r}")
        if reply:
            self._route(reply, None, json.dumps(resp).encode())


def fetch_from_nats_stdlib(
    url: str, subject: str, max_messages: int, timeout_ms: int
) -> list[bytes]:
    """Stdlib twin of broker.fetch_from_nats: bounded at-most-once drain
    over the raw wire protocol. Used automatically when nats-py is not
    installed."""
    with MiniNatsClient(url) as client:
        return client.drain(subject, max_messages, timeout_ms)


class JetStreamWireClient:
    """Stdlib JetStream client over the core request/reply wire: the
    ``$JS.API.*`` JSON endpoints a real ``nats-server -js`` (and
    ``MiniNatsServer(jetstream=True)``) serve. Implements exactly the
    subset ``broker.JetStreamBroker`` needs — stream create/info/list/
    purge, acked publish, sequence-addressed message get — so the durable
    offset-range transport works with no nats-py installed. Each method
    opens a short-lived connection (executor tasks run in fresh Python
    workers), mirroring the nats-py backend's per-call connects."""

    def __init__(self, url: str, timeout_s: float = 5.0) -> None:
        self.url = url
        self.timeout_s = timeout_s

    def _api(self, client: MiniNatsClient, op: str, body: dict | None = None) -> dict:
        payload = json.dumps(body).encode() if body is not None else b""
        resp = json.loads(client.request(f"$JS.API.{op}", payload, self.timeout_s))
        return resp

    @staticmethod
    def _err_code(resp: dict) -> int | None:
        err = resp.get("error")
        return err.get("err_code") if isinstance(err, dict) else None

    def stream_info(self, name: str) -> dict | None:
        """Info dict, or None when the stream does not exist (err 10059)."""
        with MiniNatsClient(self.url, self.timeout_s) as c:
            resp = self._api(c, f"STREAM.INFO.{name}")
        if self._err_code(resp) == 10059:
            return None
        if "error" in resp:
            raise NatsWireError(f"STREAM.INFO.{name}: {resp['error']}")
        return resp

    def create_stream(self, name: str, subjects: list[str]) -> None:
        cfg = {"name": name, "subjects": subjects, "retention": "limits", "storage": "file"}
        with MiniNatsClient(self.url, self.timeout_s) as c:
            resp = self._api(c, f"STREAM.CREATE.{name}", cfg)
        if "error" in resp:
            raise NatsWireError(f"STREAM.CREATE.{name}: {resp['error']}")

    def publish(
        self, subject: str, payload: bytes, headers: dict[str, str] | None = None
    ) -> int:
        """js.publish: core PUB (HPUB when headers ride along) with a
        reply inbox; the PubAck carries the assigned stream sequence.
        Raises when no stream acks (no stream bound to the subject) —
        same failure mode as a real server."""
        with MiniNatsClient(self.url, self.timeout_s) as c:
            ack = json.loads(c.request(subject, payload, self.timeout_s, headers=headers))
        if "error" in ack or "seq" not in ack:
            raise NatsWireError(f"publish to {subject!r} not acked: {ack}")
        return int(ack["seq"])

    def get_msg(self, name: str, seq: int) -> bytes:
        return self.get_msg_with_headers(name, seq)[0]

    def get_msg_with_headers(
        self, name: str, seq: int
    ) -> tuple[bytes, dict[str, str] | None]:
        """Sequence-addressed get returning (payload, headers-or-None) —
        the stored header block rides base64 in the response's ``hdrs``
        field, as the real server's message get returns it."""
        import base64

        with MiniNatsClient(self.url, self.timeout_s) as c:
            resp = self._api(c, f"STREAM.MSG.GET.{name}", {"seq": seq})
        if "error" in resp:
            raise NatsWireError(f"STREAM.MSG.GET.{name} seq={seq}: {resp['error']}")
        data = base64.b64decode(resp["message"].get("data") or "")
        raw_hdrs = resp["message"].get("hdrs")
        return data, (parse_headers(base64.b64decode(raw_hdrs)) if raw_hdrs else None)

    def get_range(self, name: str, start_seq: int, count: int) -> list[bytes]:
        """Sequence-contiguous batch get over ONE connection — the fetch
        hot path (one TCP handshake per partition, not per message)."""
        import base64

        out: list[bytes] = []
        with MiniNatsClient(self.url, self.timeout_s) as c:
            for seq in range(start_seq, start_seq + count):
                resp = self._api(c, f"STREAM.MSG.GET.{name}", {"seq": seq})
                if "error" in resp:
                    raise NatsWireError(
                        f"STREAM.MSG.GET.{name} seq={seq}: {resp['error']}"
                    )
                out.append(base64.b64decode(resp["message"].get("data") or ""))
        return out

    def stream_list(self) -> list[dict]:
        with MiniNatsClient(self.url, self.timeout_s) as c:
            resp = self._api(c, "STREAM.LIST", {"offset": 0})
        if "error" in resp:
            raise NatsWireError(f"STREAM.LIST: {resp['error']}")
        return resp.get("streams") or []

    def purge_stream(self, name: str) -> None:
        with MiniNatsClient(self.url, self.timeout_s) as c:
            resp = self._api(c, f"STREAM.PURGE.{name}")
        if self._err_code(resp) == 10059:
            return  # purge of a missing stream is a no-op (broker contract)
        if "error" in resp:
            raise NatsWireError(f"STREAM.PURGE.{name}: {resp['error']}")
