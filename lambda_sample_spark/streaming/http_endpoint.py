"""The serving layer's HTTP surface (SURVEY.md §2.1 S13, §3.1): the
reference exposes its ensemble analysis at ``GET /`` (Endpoint.scala:
54-65, HttpClient.scala:36-49) with a result cache absorbing the
``/stress`` load test. This module is that route over the Spark
serving composition — stdlib ``http.server`` (threaded), no web
framework:

  GET /        -> AllMeta JSON (serving.serve_json), recomputed only
                  when the cached result is older than ``ttl_secs``
                  (the reference's 5 s SLA window — BASELINE.md)
  GET /stress  -> the cached envelope, NEVER recomputes (T7: under
                  load you serve the cache; a cold cache computes once)
  GET /health  -> liveness probe

Scale notes: the endpoint is a driver-side veneer — one Spark job per
TTL window regardless of request rate (the cache turns the flagship
query into an O(requests) string write). A production deployment puts
N stateless replicas behind a balancer, each refreshing from the same
entry store; nothing here holds per-request Spark state. Serving
threads never run Spark jobs concurrently: refresh is mutexed, so a
thundering herd on a cold cache computes once and 499 requests read.
"""

from __future__ import annotations

import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import SparkSession

from ..ml.forest import compile_forest
from .serving import serve_json


class ServingEndpoint:
    """Threaded HTTP server around ``serve_json``. ``port=0`` picks an
    ephemeral port (exposed as ``.port``). Call ``stop()`` to shut
    down; the server thread is a daemon either way. ``models`` maps
    sensor -> MLlib forest; each is compiled into its step table here,
    once, so no request pays for it."""

    def __init__(
        self,
        spark: SparkSession,
        entry_dir: str,
        models: dict | None = None,
        ttl_secs: float = 5.0,
        host: str = "127.0.0.1",
        port: int = 0,
        metrics_dir: str | None = None,
    ):
        self._spark = spark
        self._entry_dir = entry_dir
        self._forests = {
            sensor: compile_forest(model) for sensor, model in (models or {}).items()
        }
        self._ttl = ttl_secs
        self._lock = threading.Lock()
        self._cached: str | None = None
        self._cached_at = 0.0
        self.compute_count = 0  # observability + test hook
        # request metrics: every handled request is buffered and
        # flushed as a micro-batch into the parquet metrics table
        # (streaming/perf.py); /perf is then a QUERY over that table —
        # the reference's Dashboard /perf row with the load-generator
        # CSV replaced by the endpoint's own log
        self._metrics_dir = metrics_dir
        self._metrics_lock = threading.Lock()
        self._metrics_buf: list[tuple] = []

        endpoint = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # quiet test output
                pass

            def _send(self, code: int, body: str, ctype: str = "application/json"):
                data = body.encode("utf-8")
                self.send_response(code)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def do_GET(self):
                t0 = time.perf_counter()
                status = 200
                try:
                    if self.path == "/":
                        self._send(200, endpoint.fresh_json())
                    elif self.path == "/stress":
                        self._send(200, endpoint.cached_json())
                    elif self.path == "/health":
                        self._send(200, json.dumps({"status": "ok"}))
                    elif self.path == "/perf":
                        self._send(200, endpoint.perf_json())
                    else:
                        status = 404
                        self._send(404, json.dumps({"error": "not found"}))
                except Exception as exc:  # surface, don't kill the thread
                    status = 500
                    self._send(500, json.dumps({"error": str(exc)}))
                endpoint._record(
                    self.path, status, (time.perf_counter() - t0) * 1000.0
                )

        self._server = ThreadingHTTPServer((host, port), Handler)
        self.host, self.port = self._server.server_address
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()

    def _refresh(self) -> str:
        body = serve_json(self._spark, self._entry_dir, self._forests)
        self._cached = body
        self._cached_at = time.monotonic()
        self.compute_count += 1
        return body

    def fresh_json(self) -> str:
        """GET /: serve the cache within the TTL, else recompute. The
        refresh is mutexed — concurrent cold hits run ONE Spark job."""
        with self._lock:
            if (
                self._cached is not None
                and time.monotonic() - self._cached_at < self._ttl
            ):
                return self._cached
            return self._refresh()

    def cached_json(self) -> str:
        """GET /stress: the cache, however old — compute only if it
        has never been populated. The populated-cache read takes NO
        lock (a Python attribute read is atomic), so /stress keeps
        serving instantly even while a GET / refresh holds the mutex
        through its Spark job — the load the cache exists to absorb."""
        c = self._cached
        if c is not None:
            return c
        with self._lock:
            if self._cached is not None:
                return self._cached
            return self._refresh()

    def _record(self, route: str, status: int, dur_ms: float) -> None:
        if self._metrics_dir is None:
            return
        from datetime import datetime, timezone

        row = (
            datetime.now(timezone.utc).replace(tzinfo=None),
            route,
            status,
            round(dur_ms, 3),
        )
        with self._metrics_lock:
            self._metrics_buf.append(row)

    def flush_metrics(self) -> int:
        """Write the buffered request records as one micro-batch
        (raw rows + mergeable profile partials) to the metrics table;
        returns rows flushed. A deployment calls this on a timer; the
        /perf route calls it first so its answer is current."""
        if self._metrics_dir is None:
            return 0
        from .perf import flush_requests

        with self._metrics_lock:
            rows, self._metrics_buf = self._metrics_buf, []
        return flush_requests(self._spark, rows, self._metrics_dir)

    def perf_json(self) -> str:
        """GET /perf: box-plot stats (A8 quantiles + A9 whiskers —
        the aggregates the reference's dashboard computes browser-side
        over its load-generator CSV) as a query over the persisted
        request log."""
        if self._metrics_dir is None:
            return json.dumps({"error": "metrics_dir not configured"})
        from .perf import perf_report

        self.flush_metrics()
        return json.dumps({"routes": perf_report(self._spark, self._metrics_dir)})

    def stop(self):
        self._server.shutdown()
        self._server.server_close()
