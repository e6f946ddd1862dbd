"""End-to-end test of the custom `sse` DataSource against a local SSE
server (replaces the reference's Mockito-mocked Jersey tests with a real
socket; SURVEY.md §5.2)."""

import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from kafka_connect_sse_spark.sources.sse import (
    SSEClient,
    SSEStreamReader,
    _parse_options,
    register_sse_source,
)

EVENTS = [("edit", "1", '{"a": 1}'), ("log", "2", '{"a": 2}'), ("edit", "3", '{"a": 3}')]


class Handler(BaseHTTPRequestHandler):
    seen_headers = {}

    def log_message(self, *a):
        pass

    def do_GET(self):
        type(self).seen_headers = dict(self.headers)
        self.send_response(200)
        self.send_header("Content-Type", "text/event-stream")
        self.end_headers()
        self.wfile.write(b": hi\n\n")
        for ev, id_, data in EVENTS:
            self.wfile.write(f"event: {ev}\nid: {id_}\ndata: {data}\n\n".encode())
        self.wfile.flush()
        try:
            for _ in range(100):
                time.sleep(0.1)
                self.wfile.write(b": keepalive\n\n")
                self.wfile.flush()
        except (BrokenPipeError, ConnectionResetError):
            pass


@pytest.fixture()
def server():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}/stream"
    srv.shutdown()
    srv.server_close()


class CountingHandler(BaseHTTPRequestHandler):
    """Counts subscriptions; serves `n_events` numbered events, then holds
    the stream open with keepalives until `closing` is set."""

    connections = 0
    n_events = 0
    closing = threading.Event()

    def log_message(self, *a):
        pass

    def do_GET(self):
        type(self).connections += 1
        self.send_response(200)
        self.send_header("Content-Type", "text/event-stream")
        self.end_headers()
        body = "".join(
            f"event: edit\nid: {i}\ndata: {{\"n\": {i}}}\n\n"
            for i in range(type(self).n_events)
        )
        try:
            self.wfile.write(body.encode())
            self.wfile.flush()
            while not type(self).closing.wait(0.1):
                self.wfile.write(b": keepalive\n\n")
                self.wfile.flush()
        except (BrokenPipeError, ConnectionResetError):
            pass


@pytest.fixture()
def counting_server():
    CountingHandler.connections = 0
    CountingHandler.n_events = 12_000  # above the old 10k per-batch default
    CountingHandler.closing.clear()
    srv = ThreadingHTTPServer(("127.0.0.1", 0), CountingHandler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}/stream"
    CountingHandler.closing.set()
    srv.shutdown()
    srv.server_close()


def wait_for(pred, timeout=10.0):
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if pred():
            return True
        time.sleep(0.05)
    return False


def test_client_receives_events_with_auth_and_headers(server):
    client = SSEClient(
        server, user="alice", password="s3cret", headers={"X-Custom": "v"}
    )
    client.start()
    try:
        assert wait_for(lambda: client.metrics["events.total"] >= 3)
        rows = client.drain()
        assert [(r[0], r[1], r[2]) for r in rows] == EVENTS
        # Basic auth header exactly as the reference builds it
        # (ServerSentEventClient.java:255-261)
        assert Handler.seen_headers["Authorization"].startswith("Basic ")
        assert Handler.seen_headers["X-Custom"] == "v"
        assert "kafka-connect-sse-spark" in Handler.seen_headers["User-Agent"]
        assert client.metrics["connection.successful"] == 1
        assert client.metrics["events.bytes"] == sum(len(d) for _, _, d in EVENTS)
    finally:
        client.stop()


def test_event_name_pushdown_filter(server):
    client = SSEClient(server, event_names={"edit"})
    client.start()
    try:
        assert wait_for(lambda: client.metrics["events.total"] >= 2)
        time.sleep(0.2)
        rows = client.drain()
        assert all(r[0] == "edit" for r in rows)
        assert len(rows) == 2
    finally:
        client.stop()


def test_bounded_buffer_drops_oldest(server):
    client = SSEClient(server, max_buffer=2)
    client.start()
    try:
        assert wait_for(lambda: client.metrics["events.total"] >= 3)
        rows = client.drain()
        assert len(rows) == 2
        assert client.metrics["events.dropped"] == 1
        # oldest dropped, latest kept
        assert [r[1] for r in rows] == ["2", "3"]
    finally:
        client.stop()


def test_retry_gives_up_after_max_attempts():
    client = SSEClient(
        "http://127.0.0.1:1/none",  # refused
        retry_initial_ms=10,
        retry_max_ms=20,
        retry_max_attempts=2,
    )
    client.start()
    # terminal state = reader thread exits after exhausting attempts
    assert wait_for(lambda: not client._thread.is_alive(), timeout=15)
    client.stop()
    assert client._error is not None
    assert client.metrics["connection.attempts"] == 2
    assert client.metrics["connection.failed"] == 2


def test_option_parsing_types_and_header_prefix():
    cfg = _parse_options(
        {
            "uri": "http://x/s",
            "sse.user": "u",
            "sse.header.X-A": "1",
            "sse.header.X-B": "2",
            "sse.compression": "TRUE",
            "sse.events": "edit,log",
            "retry.max.attempts": "7",
            "rate.limit.requests.per.second": "2.5",
        }
    )
    assert cfg["headers"] == {"X-A": "1", "X-B": "2"}
    assert cfg["compression"] is True
    assert cfg["event_names"] == {"edit", "log"}
    assert cfg["retry_max_attempts"] == 7
    assert cfg["rate_limit_per_sec"] == 2.5


def test_option_uri_required():
    with pytest.raises(ValueError):
        _parse_options({})


def test_inert_max_concurrent_warns():
    import warnings

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        _parse_options({"uri": "http://x", "rate.limit.max.concurrent": "4"})
    assert any("not enforced" in str(x.message) for x in w)


def test_spark_streaming_ingest(spark, server):
    """Full path: readStream.format('sse') → memory sink."""
    register_sse_source(spark)
    sdf = (
        spark.readStream.format("sse")
        .option("uri", server)
        .load()
        .select("event", "id", "data")
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("sse_e2e_test")
        .outputMode("append")
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        assert wait_for(
            lambda: spark.table("sse_e2e_test").count() >= len(EVENTS), timeout=60
        )
    finally:
        q.stop()
    rows = {(r.event, r.id, r.data) for r in spark.table("sse_e2e_test").collect()}
    assert rows == set(EVENTS)


def test_reader_subscribes_on_first_read(counting_server):
    """Spark's planner builds a reader that never reads; constructing (and
    stopping) one must not open a subscription."""
    idle = SSEStreamReader({"uri": counting_server})
    idle.stop()  # safe before any read
    reader = SSEStreamReader({"uri": counting_server})
    try:
        time.sleep(0.5)
        assert CountingHandler.connections == 0
        reader.read({"offset": 0})
        assert wait_for(lambda: CountingHandler.connections == 1)
    finally:
        reader.stop()
    assert CountingHandler.connections == 1


def _read_rows(reader, start):
    batches, end = reader.read({"offset": start})
    return sum(b.num_rows for b in batches), end["offset"]


def test_read_drains_whole_buffer_by_default(counting_server):
    n = CountingHandler.n_events
    reader = SSEStreamReader({"uri": counting_server})
    try:
        assert _read_rows(reader, 0) == (0, 0)  # subscribes; nothing yet
        assert wait_for(lambda: reader.client.metrics["events.total"] >= n)
        assert _read_rows(reader, 0) == (n, n)
    finally:
        reader.stop()


def test_max_events_per_batch_is_an_opt_in_cap(counting_server):
    n = CountingHandler.n_events
    reader = SSEStreamReader({"uri": counting_server, "maxEventsPerBatch": "5000"})
    try:
        _read_rows(reader, 0)
        assert wait_for(lambda: reader.client.metrics["events.total"] >= n)
        assert _read_rows(reader, 0) == (5000, 5000)
        assert _read_rows(reader, 5000) == (5000, 10000)
        assert _read_rows(reader, 10000) == (n - 10000, n)
    finally:
        reader.stop()


def test_spark_query_holds_one_subscription(spark, counting_server):
    """Spark builds a second reader for read planning; only the reader
    that serves micro-batches may subscribe."""
    register_sse_source(spark)
    q = (
        spark.readStream.format("sse")
        .option("uri", counting_server)
        .load()
        .writeStream.format("memory")
        .queryName("sse_one_subscription_test")
        .outputMode("append")
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        assert wait_for(
            lambda: spark.table("sse_one_subscription_test").count()
            >= CountingHandler.n_events,
            timeout=60,
        )
        time.sleep(1.0)  # a second subscription would have connected by now
    finally:
        q.stop()
    assert CountingHandler.connections == 1
