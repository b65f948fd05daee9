"""Open-loop SSE load generator for the ``stream_live`` workload.

Serves one text/event-stream connection on 127.0.0.1 and sends the
capture's Change events at a fixed offered rate.  Event ``i`` is due
at ``t0 + i / rate``, where ``t0`` is the moment the client connected;
the schedule never waits for the consumer, so a slow consumer meets a
growing backlog instead of a slower generator.  Each event carries its
due time (``due``, epoch seconds; ignored by the Change schema).

Files written into ``--dir``: ``port`` (once listening), ``t0`` (when
the schedule starts) and ``stats.json`` (when sending stops: events
sent and how late the generator ran).  Sending stops at the end of the
capture or when a ``stop`` file appears in ``--dir``.

Usage: python3 perfbench/sse_gen.py --capture FILE --rate 100 --dir DIR
"""

from __future__ import annotations

import argparse
import json
import os
import time
from http.server import BaseHTTPRequestHandler, HTTPServer


def _write(path: str, text: str) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(text)
    os.replace(tmp, path)


def serve(capture: str, rate: float, out_dir: str) -> None:
    with open(capture, encoding="utf-8") as f:
        events = [line.rstrip("\n") for line in f]
    stop_file = os.path.join(out_dir, "stop")

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args) -> None:  # keep stderr quiet
            pass

        def do_GET(self) -> None:  # noqa: N802 (http.server API)
            self.send_response(200)
            self.send_header("Content-Type", "text/event-stream")
            self.send_header("Cache-Control", "no-cache")
            self.end_headers()
            t0 = time.time()
            _write(os.path.join(out_dir, "t0"), repr(t0))
            late = []
            sent = 0
            for i, line in enumerate(events):
                due = t0 + i / rate
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                if i % 10 == 0 and os.path.exists(stop_file):
                    break
                body = line[:-1] + f',"due":{due!r}}}'
                self.wfile.write(f"id: {i}\ndata: {body}\n\n".encode())
                late.append(time.time() - due)
                sent += 1
            late.sort()
            stats = {
                "sent": sent,
                "t0": t0,
                "rate": rate,
                "late_ms_p50": 1000 * late[len(late) // 2] if late else 0.0,
                "late_ms_p99": 1000 * late[int(len(late) * 0.99)] if late else 0.0,
                "late_ms_max": 1000 * late[-1] if late else 0.0,
            }
            _write(os.path.join(out_dir, "stats.json"), json.dumps(stats))
            # hold the connection open: closing it would make the
            # client reconnect and re-request the stream
            while not os.path.exists(stop_file):
                time.sleep(0.05)

    server = HTTPServer(("127.0.0.1", 0), Handler)
    _write(os.path.join(out_dir, "port"), str(server.server_address[1]))
    try:
        server.handle_request()
    finally:
        server.server_close()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--capture", required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--dir", required=True)
    args = ap.parse_args()
    serve(args.capture, args.rate, args.dir)


if __name__ == "__main__":
    main()
