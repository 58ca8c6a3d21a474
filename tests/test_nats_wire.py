"""Wire-protocol tests for the pure-stdlib core-NATS client/server pair
(sources/nats_wire.py) — framing, at-most-once semantics, wildcard
routing, queue groups — all hermetic over loopback TCP, no Spark, no
nats-py. This is the layer the reference delegates to async_nats for
(reference src/nats_connection.rs:4-12)."""

from __future__ import annotations

import socket
import threading
import time

import pytest

from datafusion_nats_spark.sources.nats_wire import (
    MAX_PAYLOAD,
    MiniNatsClient,
    MiniNatsServer,
    NatsWireError,
    parse_nats_url,
)


@pytest.fixture()
def server():
    with MiniNatsServer() as srv:
        yield srv


def test_parse_nats_url():
    assert parse_nats_url("nats://example.com:5333") == ("example.com", 5333)
    assert parse_nats_url("nats://host") == ("host", 4222)
    with pytest.raises(ValueError):
        parse_nats_url("http://example.com")


def test_pubsub_roundtrip_and_at_most_once(server):
    with MiniNatsClient(server.url) as pub, MiniNatsClient(server.url) as sub:
        pub.publish("orders.us", b"lost")  # published BEFORE the SUB: dropped
        pub.flush()
        sid = sub.subscribe("orders.us")
        sub.flush()  # SUB is live server-side
        pub.publish("orders.us", b"1,apple")
        pub.publish("orders.us", "2,banana")  # str payloads encode utf-8
        pub.flush()
        got = [sub.next_msg(sid, 2.0) for _ in range(2)]
        assert got == [("orders.us", b"1,apple"), ("orders.us", b"2,banana")]
        # the pre-subscribe message is gone for good — at-most-once
        assert sub.next_msg(sid, 0.2) is None


def test_binary_payload_with_embedded_crlf(server):
    """Framing is length-prefixed: a payload containing CRLF and protocol
    keywords must survive byte-exact (the line parser must never split
    inside a payload)."""
    evil = b"\r\nPING\r\nMSG x 1 3\r\n\x00\xff"
    with MiniNatsClient(server.url) as c:
        sid = c.subscribe("bin")
        c.flush()
        c.publish("bin", evil)
        assert c.next_msg(sid, 2.0) == ("bin", evil)


def test_wildcard_subscriptions(server):
    with MiniNatsClient(server.url) as c:
        star = c.subscribe("orders.*")
        full = c.subscribe("orders.>")
        c.flush()
        c.publish("orders.us", b"a")
        c.publish("orders.us.west", b"b")
        c.publish("orders", b"c")  # matches neither pattern
        c.flush()
        # '*' is exactly one token: sees only orders.us
        assert c.next_msg(star, 2.0) == ("orders.us", b"a")
        assert c.next_msg(star, 0.2) is None
        # '>' is one-or-more trailing tokens: both, in publish order
        assert c.next_msg(full, 2.0) == ("orders.us", b"a")
        assert c.next_msg(full, 2.0) == ("orders.us.west", b"b")
        assert c.next_msg(full, 0.2) is None


def test_queue_group_round_robin(server):
    """One delivery per publish across a queue group, round-robin."""
    with MiniNatsClient(server.url) as a, MiniNatsClient(server.url) as b:
        sa = a.subscribe("work", queue_group="workers")
        sb = b.subscribe("work", queue_group="workers")
        a.flush()
        b.flush()
        with MiniNatsClient(server.url) as pub:
            for i in range(4):
                pub.publish("work", str(i).encode())
            pub.flush()
        got_a = []
        got_b = []
        deadline = time.monotonic() + 3.0
        while len(got_a) + len(got_b) < 4 and time.monotonic() < deadline:
            m = a.next_msg(sa, 0.05)
            if m:
                got_a.append(m[1])
            m = b.next_msg(sb, 0.05)
            if m:
                got_b.append(m[1])
        assert sorted(got_a + got_b) == [b"0", b"1", b"2", b"3"]
        assert len(got_a) == 2 and len(got_b) == 2  # round-robin split


def test_unsub_max_auto_expiry(server):
    """UNSUB <sid> <max>: the subscription expires after max deliveries."""
    with MiniNatsClient(server.url) as c:
        sid = c.subscribe("feed")
        c._send(f"UNSUB {sid} 2\r\n".encode())
        c.flush()
        for i in range(5):
            c.publish("feed", str(i).encode())
        c.flush()
        assert c.next_msg(sid, 2.0) == ("feed", b"0")
        assert c.next_msg(sid, 2.0) == ("feed", b"1")
        assert c.next_msg(sid, 0.3) is None


def test_drain_bounded_by_count_and_timeout(server):
    stop = threading.Event()

    def feeder():
        with MiniNatsClient(server.url) as pub:
            while not stop.is_set():
                pub.publish("stream", b"x")
                time.sleep(0.01)

    t = threading.Thread(target=feeder, daemon=True)
    t.start()
    try:
        with MiniNatsClient(server.url) as c:
            got = c.drain("stream", max_messages=5, timeout_ms=5000)
            assert got == [b"x"] * 5
            got = c.drain("quiet.subject", max_messages=5, timeout_ms=300)
            assert got == []  # timeout path: nobody publishes there
    finally:
        stop.set()
        t.join(timeout=2)


def test_fetch_from_nats_falls_back_to_stdlib(server):
    """broker.fetch_from_nats must work with or without nats-py — in this
    sandbox (no nats-py) it exercises the stdlib wire client end-to-end."""
    from datafusion_nats_spark.sources.broker import fetch_from_nats

    stop = threading.Event()

    def feeder():
        with MiniNatsClient(server.url) as pub:
            while not stop.is_set():
                for p in (b"1,apple", b"2,banana", b"3,orange"):
                    pub.publish("golden", p)
                pub.flush()
                time.sleep(0.05)

    t = threading.Thread(target=feeder, daemon=True)
    t.start()
    try:
        got = fetch_from_nats(server.url, "golden", 3, 5000)
        assert len(got) == 3
        assert set(got) <= {b"1,apple", b"2,banana", b"3,orange"}
    finally:
        stop.set()
        t.join(timeout=2)


def test_server_rejects_unknown_op_and_oversized_payload(server):
    with socket.create_connection(("127.0.0.1", server.port), timeout=2) as s:
        f = s.makefile("rb")
        assert f.readline().startswith(b"INFO ")
        s.sendall(b"BOGUS op\r\n")
        assert f.readline().startswith(b"-ERR")
    with socket.create_connection(("127.0.0.1", server.port), timeout=2) as s:
        f = s.makefile("rb")
        assert f.readline().startswith(b"INFO ")
        s.sendall(f"PUB big {MAX_PAYLOAD + 1}\r\n".encode())
        assert f.readline().startswith(b"-ERR 'Maximum Payload")


def test_raw_socket_sees_exact_msg_framing(server):
    """Byte-level golden frame: a raw-socket subscriber receives exactly
    ``MSG <subject> <sid> <#bytes>\\r\\n<payload>\\r\\n``."""
    with socket.create_connection(("127.0.0.1", server.port), timeout=2) as s:
        f = s.makefile("rb")
        assert f.readline().startswith(b"INFO ")
        s.sendall(b'CONNECT {"verbose":false}\r\nSUB golden.one 7\r\nPING\r\n')
        assert f.readline() == b"PONG\r\n"
        with MiniNatsClient(server.url) as pub:
            pub.publish("golden.one", b"hello")
            pub.flush()
        assert f.readline() == b"MSG golden.one 7 5\r\n"
        assert f.read(7) == b"hello\r\n"


def test_client_answers_server_ping(server):
    """Keepalive: a client that ignores server PINGs would be dropped as
    stale. Simulate by injecting a PING through a raw server-side path —
    here we just assert flush round-trips repeatedly (each PING must get
    its own PONG, so a swallowed PONG would hang the second flush)."""
    with MiniNatsClient(server.url) as c:
        for _ in range(3):
            c.flush(timeout_s=2)


def test_connect_against_closed_port_raises():
    with pytest.raises(OSError):
        MiniNatsClient("nats://127.0.0.1:1").connect()


def test_client_surfaces_handshake_garbage():
    """A server that does not speak NATS (no INFO line) must fail loudly."""
    lst = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    lst.bind(("127.0.0.1", 0))
    lst.listen(1)
    port = lst.getsockname()[1]

    def bogus():
        conn, _ = lst.accept()
        conn.sendall(b"HTTP/1.1 200 OK\r\n")
        time.sleep(0.2)
        conn.close()

    t = threading.Thread(target=bogus, daemon=True)
    t.start()
    try:
        with pytest.raises(NatsWireError, match="expected INFO"):
            MiniNatsClient(f"nats://127.0.0.1:{port}").connect()
    finally:
        lst.close()
        t.join(timeout=2)


def test_unsub_max_counts_prior_deliveries(server):
    """Real-server fidelity: deliveries BEFORE the UNSUB <sid> <max>
    count toward max — a client that already received 2 of max=3 gets
    exactly 1 more, not 3 more."""
    with MiniNatsClient(server.url) as c:
        sid = c.subscribe("feed2")
        c.flush()
        for i in range(2):
            c.publish("feed2", str(i).encode())
        c.flush()
        assert c.next_msg(sid, 2.0) == ("feed2", b"0")
        assert c.next_msg(sid, 2.0) == ("feed2", b"1")
        c._send(f"UNSUB {sid} 3\r\n".encode())
        c.flush()
        for i in range(2, 6):
            c.publish("feed2", str(i).encode())
        c.flush()
        assert c.next_msg(sid, 2.0) == ("feed2", b"2")
        assert c.next_msg(sid, 0.3) is None  # 3 total delivered, sid expired


# ---------------------------------------------------------------------------
# JetStream subset ($JS.API.* over the same wire)
# ---------------------------------------------------------------------------


@pytest.fixture()
def js_server():
    with MiniNatsServer(jetstream=True) as srv:
        yield srv


def test_jetstream_advertised_in_info(server, js_server):
    with MiniNatsClient(server.url) as c:
        assert c.server_info.get("jetstream") is False
    with MiniNatsClient(js_server.url) as c:
        assert c.server_info.get("jetstream") is True


def test_request_reply_roundtrip(js_server):
    """Core request/reply (the substrate of the JS API): INFO on a
    missing stream answers with the canonical 10059 error body."""
    import json

    with MiniNatsClient(js_server.url) as c:
        resp = json.loads(c.request("$JS.API.STREAM.INFO.nope"))
        assert resp["error"]["err_code"] == 10059


def test_jetstream_stream_lifecycle_over_wire(js_server):
    """create → publish(acked, rising seqs) → info → sequence-addressed
    get → purge advances first_seq (the offset-anchoring contract the
    broker's fetch relies on)."""
    from datafusion_nats_spark.sources.nats_wire import JetStreamWireClient

    w = JetStreamWireClient(js_server.url)
    w.create_stream("S1", ["a.b"])
    assert w.stream_info("S1")["state"]["messages"] == 0
    assert [w.publish("a.b", f"m{i}".encode()) for i in range(3)] == [1, 2, 3]
    info = w.stream_info("S1")["state"]
    assert (info["messages"], info["first_seq"], info["last_seq"]) == (3, 1, 3)
    assert w.get_msg("S1", 2) == b"m1"
    assert w.get_range("S1", 1, 3) == [b"m0", b"m1", b"m2"]
    with pytest.raises(NatsWireError):
        w.get_msg("S1", 99)
    w.purge_stream("S1")
    info = w.stream_info("S1")["state"]
    assert (info["messages"], info["first_seq"]) == (0, 4)
    # post-purge publishes keep rising sequences; position 0 = first_seq
    assert w.publish("a.b", b"after") == 4
    assert w.get_msg("S1", 4) == b"after"


def test_jetstream_publish_without_stream_times_out(js_server):
    from datafusion_nats_spark.sources.nats_wire import JetStreamWireClient

    w = JetStreamWireClient(js_server.url, timeout_s=0.4)
    with pytest.raises(NatsWireError, match="timed out|not acked"):
        w.publish("unbound.subject", b"x")


def test_jetstream_capture_also_reaches_core_subscribers(js_server):
    """A js publish is still a core publish: plain subscribers on the
    bound subject receive it alongside the stream capture."""
    from datafusion_nats_spark.sources.nats_wire import JetStreamWireClient

    w = JetStreamWireClient(js_server.url)
    w.create_stream("S2", ["cap.x"])
    with MiniNatsClient(js_server.url) as c:
        sid = c.subscribe("cap.x")
        c.flush()
        w.publish("cap.x", b"both")
        assert c.next_msg(sid, 2.0) == ("cap.x", b"both")
    assert w.get_msg("S2", 1) == b"both"


def test_headers_roundtrip_hpub_hmsg(server):
    """HPUB → HMSG end-to-end: headers arrive parsed, payload byte-exact,
    and a headerless publish on the same subscription still comes through
    as plain MSG (headers None)."""
    from datafusion_nats_spark.sources.nats_wire import parse_headers

    with MiniNatsClient(server.url) as pub, MiniNatsClient(server.url) as sub:
        assert sub.server_info.get("headers") is True
        sid = sub.subscribe("hdr.t")
        sub.flush()
        pub.publish("hdr.t", b"v1,x", headers={"Content-Type": "text/csv", "Trace-Id": "abc-123"})
        pub.publish("hdr.t", b"plain")
        pub.flush()
        got = sub.next_msg_full(sid, 2.0)
        assert got == ("hdr.t", b"v1,x", {"Content-Type": "text/csv", "Trace-Id": "abc-123"})
        got2 = sub.next_msg_full(sid, 2.0)
        assert got2 == ("hdr.t", b"plain", None)
        # the 2-tuple accessor drops headers but keeps payload identity
        pub.publish("hdr.t", b"again", headers={"K": "V"})
        pub.flush()
        assert sub.next_msg(sid, 2.0) == ("hdr.t", b"again")


def test_headers_binary_payload_with_embedded_crlf(server):
    """The <#hdr>/<#total> length prefixes frame the block: a payload
    containing CRLF + protocol keywords after a header block must
    survive byte-exact."""
    evil = b"\r\nNATS/1.0\r\nPING\r\nHMSG x 1 3 9\r\n\x00\xff"
    with MiniNatsClient(server.url) as c:
        sid = c.subscribe("hdr.bin")
        c.flush()
        c.publish("hdr.bin", evil, headers={"A": "B"})
        c.flush()
        assert c.next_msg_full(sid, 2.0) == ("hdr.bin", evil, {"A": "B"})


def test_raw_socket_sees_exact_hmsg_framing(server):
    """Byte-level golden frame: a raw-socket subscriber receives exactly
    ``HMSG <subject> <sid> <#hdr> <#total>\\r\\n<headers><payload>\\r\\n``
    with the header block passed through verbatim and its length included
    in the total."""
    hdr = b"NATS/1.0\r\nK: V\r\n\r\n"  # 8 + 2 + 4 + 2 + 2 = 18 bytes
    with socket.create_connection(("127.0.0.1", server.port), timeout=2) as s:
        f = s.makefile("rb")
        assert f.readline().startswith(b"INFO ")
        s.sendall(b'CONNECT {"verbose":false}\r\nSUB hdr.raw 9\r\nPING\r\n')
        assert f.readline() == b"PONG\r\n"
        with MiniNatsClient(server.url) as pub:
            pub.publish("hdr.raw", b"pay", headers={"K": "V"})
            pub.flush()
        assert f.readline() == f"HMSG hdr.raw 9 {len(hdr)} {len(hdr) + 3}\r\n".encode()
        assert f.read(len(hdr)) == hdr
        assert f.read(5) == b"pay\r\n"


def test_headers_codec_validation_and_status_line():
    from datafusion_nats_spark.sources.nats_wire import encode_headers, parse_headers

    block = encode_headers({"A": "1", "B-Key": "two words"})
    assert block == b"NATS/1.0\r\nA: 1\r\nB-Key: two words\r\n\r\n"
    assert parse_headers(block) == {"A": "1", "B-Key": "two words"}
    # inline status forms (no-responders / idle heartbeat)
    assert parse_headers(b"NATS/1.0 503\r\n\r\n") == {"Status": "503"}
    assert parse_headers(b"NATS/1.0 100 Idle Heartbeat\r\n\r\n") == {
        "Status": "100",
        "Description": "Idle Heartbeat",
    }
    with pytest.raises(NatsWireError):
        encode_headers({"bad:key": "v"})
    with pytest.raises(NatsWireError):
        encode_headers({"K": "embedded\r\nnewline"})
    with pytest.raises(NatsWireError):
        parse_headers(b"HTTP/1.1 200\r\n\r\n")


def test_hpub_with_reply_token_request_shape(server):
    """HPUB carries an optional reply-to like PUB; the responder sees the
    headers and the requester's inbox still works for the response."""
    with MiniNatsClient(server.url) as responder, MiniNatsClient(server.url) as requester:
        sid = responder.subscribe("svc.echo")
        responder.flush()

        inbox_sid = requester.subscribe("_INBOX.hdrtest.1")
        requester.flush()
        requester.publish(
            "svc.echo", b"ping", reply="_INBOX.hdrtest.1", headers={"Trace": "t1"}
        )
        requester.flush()
        got = responder.next_msg_full(sid, 2.0)
        assert got == ("svc.echo", b"ping", {"Trace": "t1"})
        responder.publish("_INBOX.hdrtest.1", b"pong", headers={"Trace": "t1"})
        responder.flush()
        assert requester.next_msg_full(inbox_sid, 2.0) == (
            "_INBOX.hdrtest.1",
            b"pong",
            {"Trace": "t1"},
        )


def test_jetstream_headers_stored_and_returned(js_server):
    """JetStream + headers: an HPUB'd message is captured with its header
    block, MSG.GET returns it base64 in ``hdrs``, a headerless message in
    the same stream returns hdrs=None, and the capture-also-routes path
    delivers HMSG to live core subscribers."""
    from datafusion_nats_spark.sources.nats_wire import JetStreamWireClient

    js = JetStreamWireClient(js_server.url)
    js.create_stream("HDRS", ["hdr.js.>"])
    with MiniNatsClient(js_server.url) as sub:
        sid = sub.subscribe("hdr.js.a")
        sub.flush()
        seq1 = js.publish("hdr.js.a", b"with", headers={"Trace-Id": "t-9", "Kind": "csv"})
        seq2 = js.publish("hdr.js.a", b"without")
        assert (seq1, seq2) == (1, 2)
        # live core subscriber got the HMSG fan-out during capture
        assert sub.next_msg_full(sid, 2.0) == (
            "hdr.js.a",
            b"with",
            {"Trace-Id": "t-9", "Kind": "csv"},
        )
        assert sub.next_msg_full(sid, 2.0) == ("hdr.js.a", b"without", None)
    # durable replay returns the stored headers
    assert js.get_msg_with_headers("HDRS", 1) == (
        b"with",
        {"Trace-Id": "t-9", "Kind": "csv"},
    )
    assert js.get_msg_with_headers("HDRS", 2) == (b"without", None)
    assert js.get_msg("HDRS", 1) == b"with"  # payload-only accessor unchanged
    info = js.stream_info("HDRS")
    assert info["state"]["messages"] == 2


def test_both_ends_disable_nagle(server):
    """request() writes SUB then PUB as two small frames; with Nagle on,
    the second waits out the peer's delayed ACK. Both the client socket
    and every connection the server accepts set TCP_NODELAY."""
    with MiniNatsClient(server.url) as c:
        c.flush()
        assert c._sock.getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY)
        with server._lock:
            conns = list(server._conns)
        assert conns
        for conn in conns:
            assert conn.getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY)
