"""Seeded SSE load generator, run as its own process.

Serves a pre-rendered stream of Wikimedia-``recentchange``-shaped events
over loopback HTTP in the WHATWG ``text/event-stream`` format.  All payload
bytes are rendered before the server starts; at send time only the
fixed-width creation stamp (``"gen_ts"``, the last JSON field) is filled in.

The benchmark drives the phases over stdin, one command per line:

    warmup        send the warm-up events unpaced
    burst         send the burst events unpaced
    paced         send the paced events open-loop, one due every 1/rate s
    stop          close the stream and exit

After each phase one JSON line is printed on stdout: the phase's id range,
wall-clock start/end and, for the paced phase, how late the sender ran
behind each event's due time.  The first line announces the port.

Threads: the main thread (stdin commands), the accept thread and one
thread per connection.  Only the first subscription receives events; a
later one (Spark's read planning opens a second reader) gets heartbeats,
and the count of those is reported on stop.

Usage (normally spawned by ``perfbench/run.py``):
    python3 perfbench/ssegen.py --seed 1 --warmup 2000 --burst 60000 \
        --rate 2000 --paced-seconds 6
"""

from __future__ import annotations

import argparse
import json
import queue
import random
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

TYPES = ("edit", "new", "log", "categorize")
TYPE_WEIGHTS = (0.62, 0.08, 0.12, 0.18)
WIKIS = ("enwiki", "dewiki", "frwiki", "commonswiki", "wikidatawiki", "eswiki")
CHUNK_EVENTS = 256  # events per socket write in the unpaced phases


def _zipf_picker(rng: random.Random, n: int, s: float):
    """Return a draw() over ranks 0..n-1 with P(k) proportional to 1/(k+1)^s."""
    import bisect
    import itertools

    cum = list(itertools.accumulate(1.0 / (k + 1) ** s for k in range(n)))
    total = cum[-1]
    return lambda: bisect.bisect_left(cum, rng.random() * total)


def render_events(seed: int, n: int) -> tuple[list[bytes], list[str]]:
    """Render n SSE events; each entry ends just before the stamp digits.

    Returns (heads, types).  A full event on the wire is
    ``head + stamp + b"}\\n\\n"``.  Payload size is skewed: most comments
    are short, a few are long, giving roughly 250-1000 B of JSON per event.
    """
    rng = random.Random(seed)
    title = _zipf_picker(rng, 50_000, 1.1)
    user = _zipf_picker(rng, 10_000, 1.2)
    heads, types = [], []
    for i in range(n):
        kind = rng.choices(TYPES, TYPE_WEIGHTS)[0]
        wiki = WIKIS[min(int(rng.expovariate(1.0)), len(WIKIS) - 1)]
        domain = f"{wiki[:-4]}.wikipedia.org"
        t = f"Page_{title()}"
        comment_len = min(int(rng.lognormvariate(3.6, 1.0)), 420)
        comment = "".join(rng.choices("abcdefghij klmnopqrst uvwxyz", k=comment_len))
        old_len = rng.randrange(100, 90_000)
        body = {
            "$schema": "/mediawiki/recentchange/1.0.0",
            "meta": {
                "uri": f"https://{domain}/wiki/{t}",
                "id": f"{rng.getrandbits(64):016x}",
                "domain": domain,
                "stream": "mediawiki.recentchange",
                "offset": i,
            },
            "id": i,
            "type": kind,
            "namespace": rng.choice((0, 0, 0, 1, 2, 4, 14)),
            "title": t,
            "comment": comment,
            "user": f"User{user()}",
            "bot": rng.random() < 0.2,
            "wiki": wiki,
        }
        if kind in ("edit", "new"):
            body["minor"] = rng.random() < 0.3
            body["length"] = {"old": old_len, "new": old_len + rng.randrange(-500, 2000)}
            body["revision"] = {"old": 10**9 + 2 * i, "new": 10**9 + 2 * i + 1}
            body["parsedcomment"] = comment
        data = json.dumps(body, separators=(",", ":"))[:-1]
        heads.append(
            f"event: {kind}\nid: {i}\ndata: {data},\"gen_ts\":".encode()
        )
        types.append(kind)
    return heads, types


def _stamp(t: float) -> bytes:
    """Fixed width: 17 bytes for any 10-digit epoch second."""
    return b"%17.6f" % t


class Generator:
    """Owns the rendered events and the phase schedule for one connection."""

    def __init__(self, heads: list[bytes], warmup: int, burst: int,
                 rate: float, record: bool):
        self.heads = heads
        self.ranges = {
            "warmup": (0, warmup),
            "burst": (warmup, warmup + burst),
            "paced": (warmup + burst, len(heads)),
        }
        self.rate = rate
        self.commands: queue.Queue[str] = queue.Queue()
        self.sent: list[bytes] | None = [] if record else None
        self.connected = threading.Event()
        self.done = threading.Event()
        self.lock = threading.Lock()
        self.extra_connections = 0

    def _write(self, wfile, chunk: bytes) -> None:
        wfile.write(chunk)
        wfile.flush()
        if self.sent is not None:
            self.sent.append(chunk)

    def _unpaced(self, wfile, lo: int, hi: int) -> dict:
        t0 = time.time()
        for a in range(lo, hi, CHUNK_EVENTS):
            stamp = _stamp(time.time())
            tail = stamp + b"}\n\n"
            self._write(wfile, b"".join(h + tail for h in self.heads[a:min(a + CHUNK_EVENTS, hi)]))
        return {"t0": t0, "t1": time.time()}

    def _paced(self, wfile, lo: int, hi: int) -> dict:
        """Open loop: event lo+k is due at t0 + k/rate whatever the reader
        does; each write carries every event already due."""
        period = 1.0 / self.rate
        t0 = time.time() + 0.05
        lateness = []
        k, n = 0, hi - lo
        while k < n:
            now = time.time()
            due_k = t0 + k * period
            if now < due_k:
                time.sleep(min(due_k - now, 0.002))
                continue
            last = min(n, int((now - t0) / period) + 1)
            parts = []
            for j in range(k, last):
                due = t0 + j * period
                parts.append(self.heads[lo + j] + _stamp(due) + b"}\n\n")
            self._write(wfile, b"".join(parts))
            sent_at = time.time()
            lateness.extend(sent_at - (t0 + j * period) for j in range(k, last))
            k = last
        lateness.sort()
        return {
            "t0": t0,
            "t1": time.time(),
            "rate": self.rate,
            "lateness_p50_s": lateness[len(lateness) // 2],
            "lateness_p99_s": lateness[int(len(lateness) * 0.99)],
            "lateness_max_s": lateness[-1],
        }

    def serve(self, wfile) -> None:
        report({"event": "connected"})
        while True:
            try:
                cmd = self.commands.get(timeout=1.0)
            except queue.Empty:
                self._write(wfile, b": keepalive\n\n")
                continue
            if cmd == "stop":
                return
            lo, hi = self.ranges[cmd]
            run = self._paced if cmd == "paced" else self._unpaced
            res = run(wfile, lo, hi)
            report({"event": "phase", "phase": cmd, "lo": lo, "hi": hi, **res})


def report(obj: dict) -> None:
    sys.stdout.write(json.dumps(obj) + "\n")
    sys.stdout.flush()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--warmup", type=int, required=True)
    ap.add_argument("--burst", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--paced-seconds", type=float, required=True)
    ap.add_argument("--record", default=None,
                    help="write the exact bytes sent to this file on stop")
    ap.add_argument("--types", default=None,
                    help="write the event type of every id to this file")
    a = ap.parse_args()

    n_paced = int(a.rate * a.paced_seconds)
    heads, types = render_events(a.seed, a.warmup + a.burst + n_paced)
    if a.types:
        with open(a.types, "w") as f:
            json.dump(types, f)
    gen = Generator(heads, a.warmup, a.burst, a.rate, a.record is not None)

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):
            pass

        def do_GET(self):
            self.send_response(200)
            self.send_header("Content-Type", "text/event-stream")
            self.send_header("Cache-Control", "no-cache")
            self.end_headers()
            with gen.lock:
                first = not gen.connected.is_set()
                gen.connected.set()
                if not first:
                    gen.extra_connections += 1
            try:
                if first:
                    gen.serve(self.wfile)
                    gen.done.set()
                else:
                    # Spark's read planning instantiates a second reader
                    # (whose client subscribes too); it gets heartbeats only
                    while not gen.done.wait(1.0):
                        self.wfile.write(b": keepalive\n\n")
                        self.wfile.flush()
            except (BrokenPipeError, ConnectionResetError) as exc:
                if first:
                    report({"event": "error", "error": repr(exc)})
                    gen.done.set()

    server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    server.daemon_threads = True
    threading.Thread(target=server.serve_forever, daemon=True).start()
    report({"event": "ready", "port": server.server_address[1],
            "events": len(heads)})
    try:
        for line in sys.stdin:
            cmd = line.strip()
            if cmd:
                gen.commands.put(cmd)
            if cmd == "stop":
                break
    finally:
        gen.commands.put("stop")
        if gen.connected.is_set():
            gen.done.wait(10)
        gen.done.set()
        server.shutdown()
        server.server_close()
        if a.record:
            with open(a.record, "wb") as f:
                f.writelines(gen.sent)
        report({"event": "stopped", "extra_connections": gen.extra_connections})


if __name__ == "__main__":
    main()
