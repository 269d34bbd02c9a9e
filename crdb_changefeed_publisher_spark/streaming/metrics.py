"""Metrics parity with the reference (src/metrics.rs): a monotonically
increasing ``rabbitmq_messages_sent`` counter exposed as a Prometheus text
endpoint (default 0.0.0.0:8001, env PROMETHEUS_ADDR — src/main.rs:57).

Spark-side wiring: the publish sink increments this driver-side counter
without an accumulator (each publish job collects its per-partition counts
and the driver adds them up). No StreamingQueryListener is registered;
per-batch progress is only what ``StreamingQuery.lastProgress`` reports.
"""

from __future__ import annotations

import os
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer


class Counter:
    """Monotonic counter, thread-safe (parity: prometheus IntCounter,
    src/metrics.rs:9-15)."""

    def __init__(self, name: str, help_text: str) -> None:
        self.name = name
        self.help = help_text
        self._value = 0
        self._lock = threading.Lock()

    def inc(self, n: int = 1) -> None:
        with self._lock:
            self._value += n

    @property
    def value(self) -> int:
        with self._lock:
            return self._value

    def exposition(self) -> str:
        return (
            f"# HELP {self.name} {self.help}\n"
            f"# TYPE {self.name} counter\n"
            f"{self.name} {self.value}\n"
        )


MESSAGES_SENT = Counter(
    "rabbitmq_messages_sent", "Number of messages sent to RabbitMQ."
)


class _MetricsHandler(BaseHTTPRequestHandler):
    counters: list[Counter] = []

    def do_GET(self):  # noqa: N802 (stdlib API)
        if self.path != "/metrics":
            self.send_response(404)
            self.end_headers()
            return
        body = "".join(c.exposition() for c in self.counters).encode()
        self.send_response(200)
        self.send_header("Content-Type", "text/plain; version=0.0.4")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *args):  # silence per-request stderr noise
        pass


def serve_metrics(addr: str | None = None, counters: list[Counter] | None = None) -> HTTPServer:
    """Start the /metrics endpoint on a daemon thread; returns the server
    (call .shutdown() to stop). Address parity: PROMETHEUS_ADDR, default
    0.0.0.0:8001 (src/main.rs:57)."""
    addr = addr or os.environ.get("PROMETHEUS_ADDR", "0.0.0.0:8001")
    host, port = addr.rsplit(":", 1)
    _MetricsHandler.counters = counters if counters is not None else [MESSAGES_SENT]
    server = HTTPServer((host, int(port)), _MetricsHandler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return server
