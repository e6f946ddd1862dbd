"""SSE streaming source as a PySpark `DataSource` (SURVEY.md §7 M3).

Spark-first re-expression of the reference connector's Java tier:

  reference (file:line)                          → here
  ─────────────────────────────────────────────────────────────────────
  ServerSentEventClient ctor/start (144-166,      SSEClient: stdlib-HTTP
    247-316): Jersey SseEventSource + callbacks     reader thread + queue
  getRecords drain (487-546) / poll loop          SimpleDataSourceStreamReader
    (…SourceTask.java:85-103)                       .read(start) micro-batch
  envelope Struct (ServerSentEvent.java:29-34)    schema event/id/data + ts
  null-name drop (ServerSentEventClient:523-530)  drop in drain loop
  null coalescing (…SourceTask.java:111-114)      event→'unknown', data→''
  basic auth / headers / gzip (255-283)           options sse.user/password/
                                                    sse.header.*/compression
  OAuth/TLS/proxy (IMPROVEMENT_PLAN.md:60-63,     sse.auth.bearer.token /
    declared Phase-3, unimplemented there)          sse.tls.ca.cert.path /
                                                    sse.tls.insecure.skip.verify /
                                                    sse.proxy.url (_build_opener)
  rate limiter (218-239)                          min-interval connect gate
  retry + expo backoff + 429 (587-676)            _backoff_delay + loop
  health/idle watchdog (431-452,552-581)          staleness check in read()
  single task (…Connector.java:61-63)             one driver-side reader
                                                    (SSE = one TCP stream)

Offsets: the SSE protocol has none usable for replay across query restarts
(README.md:175-184; IMPROVEMENT_PLAN.md:39-42) — the reader keeps a
session-monotonic counter so Spark gets well-formed offset ranges, and a
restarted QUERY resumes from "now", exactly like the reference.  WITHIN a
run, though, the client goes beyond the reference: it advertises the
WHATWG `Last-Event-ID` header on every reconnect (sse.resume.last.event.id,
default true), so against a server that honors it — Wikimedia's
EventStreams does — delivery across connection drops is at-least-once
instead of the reference's at-most-once; the landing sink's dedup-on-id
then makes it effectively exactly-once.  The blessed durable topology is
still SSE → raw parquet landing (replayable) → analytics, mirroring the
reference's SSE → Kafka → ksqlDB split.

Batch size: each micro-batch drains everything the client has buffered,
so a backlog lands in one trigger instead of paying the trigger's fixed
cost (offset log, commit log, job launch) once per slice of it.  The
buffer's own bound, `sse.buffer.max` (default 100000 events), is the only
default bound on batch size and memory.  `maxEventsPerBatch` caps a
batch on request (the reference's Step-8 batch-size setting) and has no
default — the same policy as Spark's own `maxOffsetsPerTrigger` (Kafka)
and `maxFilesPerTrigger` (files).
"""

from __future__ import annotations

import base64
import gzip
import threading
import time
import urllib.request
from collections import deque
from datetime import datetime, timezone

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.types import StringType, StructField, StructType, TimestampType

SSE_SCHEMA = StructType(
    [
        StructField("event", StringType(), nullable=False),
        StructField("id", StringType(), nullable=True),
        StructField("data", StringType(), nullable=False),
        StructField("ts", TimestampType(), nullable=False),
    ]
)

DEFAULT_USER_AGENT = "kafka-connect-sse-spark/0.1 (PySpark SSE source)"


def backoff_delay_ms(
    attempt: int,
    initial_ms: int = 2000,
    max_ms: int = 30000,
    rate_limited: bool = False,
) -> int:
    """Exponential backoff: initial * 2^(attempt-1), capped; doubled again
    (within cap) when the failure looked like HTTP 429.  Mirrors
    calculateBackoffDelay / isRateLimitError
    (ServerSentEventClient.java:646-676)."""
    if attempt < 1:
        attempt = 1
    delay = initial_ms * (2 ** (attempt - 1))
    if rate_limited:
        delay *= 2
    return min(delay, max_ms)


class SSEClient:
    """Background reader: one HTTP connection, async enqueue, bounded buffer.

    Bounded buffer (vs the reference's unbounded LinkedBlockingDeque): when
    full, oldest events are dropped and counted — backpressure never blocks
    the socket thread into a zombie connection.
    """

    def __init__(
        self,
        uri: str,
        user: str | None = None,
        password: str | None = None,
        headers: dict[str, str] | None = None,
        compression: bool = False,
        event_names: set[str] | None = None,
        max_buffer: int = 100_000,
        retry_initial_ms: int = 2000,
        retry_max_ms: int = 30000,
        retry_max_attempts: int = -1,
        rate_limit_per_sec: float | None = None,
        idle_timeout_s: float = 60.0,
        connect_timeout_s: float = 10.0,
        resume_last_event_id: bool = True,
        bearer_token: str | None = None,
        proxy_url: str | None = None,
        tls_ca_path: str | None = None,
        tls_insecure: bool = False,
        cb_threshold: int = 0,
        cb_cooldown_s: float = 30.0,
        alert_fn=None,
    ):
        self.uri = uri
        self.user = user
        self.password = password
        self.bearer_token = bearer_token
        self.headers = dict(headers or {})
        self.compression = compression
        self.event_names = event_names
        self.max_buffer = max_buffer
        self.retry_initial_ms = retry_initial_ms
        self.retry_max_ms = retry_max_ms
        self.retry_max_attempts = retry_max_attempts
        self.rate_limit_per_sec = rate_limit_per_sec
        self.idle_timeout_s = idle_timeout_s
        self.connect_timeout_s = connect_timeout_s
        self.resume_last_event_id = resume_last_event_id
        self.proxy_url = proxy_url
        self.tls_ca_path = tls_ca_path
        self.tls_insecure = tls_insecure
        self.cb_threshold = cb_threshold
        self.cb_cooldown_s = cb_cooldown_s
        self.alert_fn = alert_fn
        self._cb_state = "closed"
        self._opener = self._build_opener()

        self._buf: deque = deque()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._error: Exception | None = None
        self._thread: threading.Thread | None = None
        self._last_event_time = time.monotonic()
        self._last_connect_time = 0.0
        # metrics mirror ServerSentEventClient.getMetrics (764-803);
        # circuit.opens extends them for the Step-11 breaker
        self.metrics = {
            "events.total": 0,
            "events.bytes": 0,
            "events.dropped": 0,
            "connection.attempts": 0,
            "connection.successful": 0,
            "connection.failed": 0,
            "connection.reconnections": 0,
            "circuit.opens": 0,
        }

    # -- lifecycle ---------------------------------------------------------
    def start(self) -> None:
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread:
            self._thread.join(timeout=5)

    # -- ingestion thread --------------------------------------------------
    def _build_opener(self) -> urllib.request.OpenerDirector:
        """Connection stack for the reference's Phase-3 security items
        (IMPROVEMENT_PLAN.md:60-63 — OAuth, advanced TLS, proxy):

        * proxy_url routes every connect through an HTTP(S) proxy
          (userinfo in the URL supplies proxy credentials);
        * tls_ca_path pins a private CA bundle for https endpoints;
        * tls_insecure disables verification (explicit opt-in only —
          never the default).
        """
        import ssl

        handlers: list[urllib.request.BaseHandler] = []
        if self.proxy_url:
            handlers.append(
                urllib.request.ProxyHandler(
                    {"http": self.proxy_url, "https": self.proxy_url}
                )
            )
        if self.tls_insecure:
            ctx = ssl._create_unverified_context()
        elif self.tls_ca_path:
            ctx = ssl.create_default_context(cafile=self.tls_ca_path)
        else:
            ctx = ssl.create_default_context()
        handlers.append(urllib.request.HTTPSHandler(context=ctx))
        return urllib.request.build_opener(*handlers)

    def _build_request(self, last_event_id: str | None = None) -> urllib.request.Request:
        hdrs = {
            "Accept": "text/event-stream",
            "Cache-Control": "no-cache",
            "User-Agent": DEFAULT_USER_AGENT,
        }
        if self.compression:
            hdrs["Accept-Encoding"] = "gzip"
        if self.bearer_token is not None:
            # OAuth bearer (IMPROVEMENT_PLAN.md:61 "Add OAuth support" —
            # static token; refresh flows belong outside the connector,
            # exactly as Kafka Connect externalizes secret rotation)
            hdrs["Authorization"] = f"Bearer {self.bearer_token}"
        elif self.user is not None:
            token = base64.b64encode(
                f"{self.user}:{self.password or ''}".encode()
            ).decode()
            hdrs["Authorization"] = f"Basic {token}"
        if last_event_id is not None and self.resume_last_event_id:
            # WHATWG SSE reconnection header.  The reference never resumes
            # (IMPROVEMENT_PLAN.md:39-42); advertising the last id upgrades
            # delivery across reconnects within a run to at-least-once on
            # servers that honor it (Wikimedia EventStreams does) — at no
            # cost on servers that ignore it.
            hdrs["Last-Event-ID"] = last_event_id
        hdrs.update(self.headers)  # custom sse.header.* win, like originals
        return urllib.request.Request(self.uri, headers=hdrs)

    def _apply_rate_limit(self) -> None:
        """Enforce ≤ rate_limit_per_sec connection attempts (the reference
        rate-limits connects, not events: ServerSentEventClient.java:218-239)."""
        if not self.rate_limit_per_sec:
            return
        min_interval = 1.0 / self.rate_limit_per_sec
        elapsed = time.monotonic() - self._last_connect_time
        if elapsed < min_interval:
            time.sleep(min_interval - elapsed)

    def circuit_state(self) -> str:
        """closed | open | half-open (reference IMPROVEMENT_PLAN.md:70-73
        Step 11 — declared, unimplemented there)."""
        return self._cb_state

    def _alert(self, transition: str, failures: int = 0) -> None:
        """Step-11 "alerting capability": invoke the caller-supplied hook
        (alert_fn) on breaker transitions; default to a log warning so
        unattended deployments still leave a trace."""
        info = {
            "uri": self.uri,
            "state": self._cb_state,
            "consecutive_failures": failures,
            "error": str(self._error) if self._error else None,
            "metrics": dict(self.metrics),
        }
        if self.alert_fn is not None:
            try:
                self.alert_fn(transition, info)
            except Exception:  # noqa: BLE001 — alerting must never kill ingest
                pass
        else:
            import logging

            logging.getLogger(__name__).warning(
                "SSE circuit breaker %s (uri=%s, error=%s)",
                transition, self.uri, info["error"],
            )

    def _run(self) -> None:
        from .sse_wire import SSEParser, iter_sse_lines

        attempt = 0
        last_event_id: str | None = None
        while not self._stop.is_set():
            attempt += 1
            if self.retry_max_attempts >= 0 and attempt > self.retry_max_attempts:
                self._error = ConnectionError(
                    f"giving up after {attempt - 1} attempts"
                )
                return
            self._apply_rate_limit()
            self._last_connect_time = time.monotonic()
            self.metrics["connection.attempts"] += 1
            rate_limited = False
            try:
                req = self._build_request(last_event_id)
                with self._opener.open(req, timeout=self.connect_timeout_s) as resp:
                    self.metrics["connection.successful"] += 1
                    attempt = 0  # healthy connection resets the schedule
                    if self._cb_state != "closed":
                        # half-open probe succeeded: close the breaker
                        self._cb_state = "closed"
                        self._alert("closed")
                    # successful reconnect clears any stale failure — the
                    # reference nulls error on reconnect success
                    # (ServerSentEventClient.java:611); without this a past
                    # transient failure + a legitimately quiet stream would
                    # fail-stop a healthy connection
                    self._error = None
                    parser = SSEParser(last_event_id=last_event_id)
                    raw = resp
                    if resp.headers.get("Content-Encoding") == "gzip":
                        raw = gzip.GzipFile(fileobj=resp)
                    # read1 = "up to n bytes, whatever is available" —
                    # read(n) would block until exactly n bytes, letting a
                    # slow stream stall mid-event behind heartbeat traffic
                    chunks = iter(lambda: raw.read1(8192), b"")
                    for line in iter_sse_lines(chunks):
                        if self._stop.is_set():
                            return
                        # ANY received line (incl. ':keepalive' comments)
                        # proves the connection is alive — refresh the idle
                        # watchdog here, not only on dispatched events
                        self._last_event_time = time.monotonic()
                        ev = parser.feed_line(line.rstrip("\r"))
                        last_event_id = parser.last_event_id
                        if ev is not None:
                            self._on_event(ev)
            except Exception as exc:  # noqa: BLE001 — any transport error retries
                self.metrics["connection.failed"] += 1
                rate_limited = "429" in str(exc)
                self._error = exc
            if self._stop.is_set():
                return
            self.metrics["connection.reconnections"] += 1
            # Step-11 circuit breaker: `attempt` IS the consecutive-failure
            # count (successful connects reset it above).  At threshold the
            # breaker OPENS: no connection attempts for cb_cooldown_s, then
            # ONE half-open probe; probe success closes it (above), probe
            # failure lands back here and re-opens — failure-threshold
            # detection + backoff strategy + alerting, the three declared
            # Step-11 items.
            if self.cb_threshold and attempt >= self.cb_threshold:
                self._cb_state = "open"
                self.metrics["circuit.opens"] += 1
                self._alert("open", failures=attempt)
                self._stop.wait(self.cb_cooldown_s)
                if self._stop.is_set():
                    return
                self._cb_state = "half-open"
                continue  # probe now; cooldown replaced the backoff delay
            delay = backoff_delay_ms(
                max(attempt, 1),
                self.retry_initial_ms,
                self.retry_max_ms,
                rate_limited,
            )
            self._stop.wait(delay / 1000.0)

    def _on_event(self, ev) -> None:
        # event-name pushdown (the reference's planned filter,
        # …ConnectorConfig.java:30 TODO): skip before buffering
        if self.event_names and ev.event not in self.event_names:
            return
        now = datetime.now(timezone.utc)
        with self._lock:
            if len(self._buf) >= self.max_buffer:
                self._buf.popleft()
                self.metrics["events.dropped"] += 1
            self._buf.append((ev.event or "unknown", ev.id, ev.data or "", now))
        self.metrics["events.total"] += 1
        self.metrics["events.bytes"] += len(ev.data or "")
        self._last_event_time = time.monotonic()

    # -- consumption side --------------------------------------------------
    def drain(self, max_events: int | None = None):
        """Drain buffered events (micro-batch semantics of getRecords,
        ServerSentEventClient.java:487-546)."""
        out = []
        with self._lock:
            while self._buf and (max_events is None or len(out) < max_events):
                out.append(self._buf.popleft())
        return out

    def healthy(self) -> bool:
        """Idle/zombie detection (ServerSentEventClient.java:431-452)."""
        return (time.monotonic() - self._last_event_time) < self.idle_timeout_s


def _parse_options(options) -> dict:
    """Typed option parsing — the ConfigDef tier
    (ServerSentEventsSourceConnectorConfig.java:94-173) in Python."""
    def get(key, default=None):
        v = options.get(key)
        return default if v is None else v

    uri = get("uri") or get("sse.uri")
    if not uri:
        raise ValueError("SSE source requires option 'uri' (or 'sse.uri')")
    params = get("sse.params")  # the reference's declared-but-unimplemented
    if params:                  # URL-parameter TODO (…ConnectorConfig.java:29)
        sep = "&" if "?" in uri else "?"
        uri = f"{uri}{sep}{params}"
    headers = {
        k[len("sse.header."):]: v
        for k, v in options.items()
        if k.startswith("sse.header.")
    }
    event_names = get("sse.events")
    cfg = {
        "uri": uri,
        "user": get("sse.user"),
        "password": get("sse.password"),
        "headers": headers,
        "compression": str(get("sse.compression", "false")).lower() == "true",
        "event_names": set(event_names.split(",")) if event_names else None,
        "max_buffer": int(get("sse.buffer.max", "100000")),
        "retry_initial_ms": int(get("retry.backoff.initial.ms", "2000")),
        "retry_max_ms": int(get("retry.backoff.max.ms", "30000")),
        "retry_max_attempts": int(get("retry.max.attempts", "-1")),
        "rate_limit_per_sec": float(get("rate.limit.requests.per.second", "0")) or None,
        "idle_timeout_s": float(get("sse.idle.timeout.s", "60")),
        "resume_last_event_id": str(
            get("sse.resume.last.event.id", "true")
        ).lower() == "true",
        # Phase-3 security options (IMPROVEMENT_PLAN.md:60-63)
        "bearer_token": get("sse.auth.bearer.token"),
        "proxy_url": get("sse.proxy.url"),
        "tls_ca_path": get("sse.tls.ca.cert.path"),
        "tls_insecure": str(
            get("sse.tls.insecure.skip.verify", "false")
        ).lower() == "true",
        # Step-11 circuit breaker (IMPROVEMENT_PLAN.md:70-73); 0 = disabled
        "cb_threshold": int(get("sse.circuit.breaker.threshold", "0")),
        "cb_cooldown_s": float(get("sse.circuit.breaker.cooldown.s", "30")),
    }
    # accepted-but-inert in the reference (stored, never read:
    # ServerSentEventClient.java:73,156) — validate and warn, per §2.5
    if options.get("rate.limit.max.concurrent") is not None:
        import warnings

        warnings.warn(
            "rate.limit.max.concurrent is accepted but not enforced "
            "(parity with reference)", stacklevel=2,
        )
    return cfg


_ARROW_SCHEMA = None


def _rows_to_arrow(rows: list) -> list:
    """Convert drained (event, id, data, ts) tuples into a single
    pyarrow RecordBatch.

    The Python-data-source runner accepts an iterator of RecordBatch
    objects verbatim (records_to_arrow_batches pass-through); the
    default tuple path instead walks LocalDataToArrowConversion
    per field per row, which measured ~67k rows/s on loopback ingest —
    the engine-side ceiling of the source.  Building the four arrays in
    Arrow C code moves the same rows at millions of rows/s (guide §4:
    cross the JVM boundary as Arrow batches, not per-row records).

    The schema must be byte-identical to what the runner derives from
    SSE_SCHEMA (timestamp[us, tz=UTC]); it is computed once via the
    same to_arrow_schema call the runner uses.
    """
    if not rows:
        return []
    import pyarrow as pa

    global _ARROW_SCHEMA
    if _ARROW_SCHEMA is None:
        # literal twin of to_arrow_schema(SSE_SCHEMA) — spelling it out
        # skips the pyspark.sql.pandas.types import, which drags pandas
        # into the runner process (~0.8 s measured on first batch)
        _ARROW_SCHEMA = pa.schema(
            [
                pa.field("event", pa.string(), nullable=False),
                pa.field("id", pa.string(), nullable=True),
                pa.field("data", pa.string(), nullable=False),
                pa.field("ts", pa.timestamp("us", tz="UTC"),
                         nullable=False),
            ]
        )
    cols = list(zip(*rows))
    arrays = [
        pa.array(cols[0], type=_ARROW_SCHEMA.field(0).type),
        pa.array(cols[1], type=_ARROW_SCHEMA.field(1).type),
        pa.array(cols[2], type=_ARROW_SCHEMA.field(2).type),
        pa.array(cols[3], type=_ARROW_SCHEMA.field(3).type),
    ]
    return [pa.RecordBatch.from_arrays(arrays, schema=_ARROW_SCHEMA)]


class SSEStreamReader(SimpleDataSourceStreamReader):
    """Driver-side micro-batch reader.  Offsets are session-monotonic event
    counters — synthetic, because SSE has no replayable offsets (§1.3).

    The client is created and subscribed on the first `read()`, not here:
    Spark's read planning builds a reader of its own (PySpark's
    `_streamReader`) that never reads, and must not hold a second live
    subscription.  Each `read()` drains the whole buffer unless the
    opt-in `maxEventsPerBatch` caps it."""

    def __init__(self, options):
        self._cfg = _parse_options(options)
        cap = options.get("maxEventsPerBatch")
        self.max_events_per_batch = int(cap) if cap is not None else None
        self.client: SSEClient | None = None

    def initialOffset(self) -> dict:
        return {"offset": 0}

    def read(self, start: dict):
        if self.client is None:
            self.client = SSEClient(**self._cfg)
            self.client.start()
        rows = self.client.drain(self.max_events_per_batch)
        if self.client._error and not rows and not self.client.healthy():
            # fail-stop propagation (ServerSentEventClient.java:720-756)
            raise RuntimeError(
                f"SSE connection unhealthy: {self.client._error}"
            )
        end_off = start.get("offset", 0) + len(rows)
        return iter(_rows_to_arrow(rows)), {"offset": end_off}

    def readBetweenOffsets(self, start: dict, end: dict):
        """Reached only on a query restart, for the batch the offset log
        planned but did not commit: PySpark's prefetch cache serves every
        batch read within a run.  SSE cannot replay it, so a restarted
        query resumes from "now", matching the reference's documented
        non-guarantee."""
        return iter(())

    def stop(self) -> None:
        if self.client is not None:
            self.client.stop()


class SSEDataSource(DataSource):
    """spark.readStream.format("sse").option("uri", ...).load()"""

    @classmethod
    def name(cls) -> str:
        return "sse"

    def schema(self):
        return SSE_SCHEMA

    def simpleStreamReader(self, schema):
        return SSEStreamReader(self.options)


def register_sse_source(spark) -> None:
    spark.dataSource.register(SSEDataSource)
