"""Interactive serving layer: live per-request dashboard over Spark.

The reference serves its dashboard live — a Dash app behind gunicorn
where every page load re-runs the analytical SQL against the marts
(``/root/reference/portfolio_app/app.py:495-536``, ``Dockerfile:46``).
This module provides the same posture with zero web-framework
dependencies: a stdlib ``ThreadingHTTPServer`` whose handlers re-execute
the Spark chart plans on every request.

Endpoints:

- ``GET /``                 — the five-chart dashboard, re-rendered per
  request from live Spark queries (``serving.dashboard_html``)
- ``GET /api/chart/<name>`` — one chart's frame as JSON rows, the same
  frame the page draws (chart 1 is the per-category box of
  ``runner.price_chart``; names in ``CHART_QUERIES``)
- ``GET /api/charts``       — the available chart names
- ``GET /healthz``          — liveness

Scale posture: identical to the static path — every aggregate is a
distributed Spark plan (``runner.DASHBOARD``) and the handler only
collects chart-sized frames, the sanctioned serving boundary
(``serving.py``). At 100 TB the models dict points at pre-aggregated
mart tables, so a page load costs a handful of mart scans, exactly like
the reference's DuckDB reads. Concurrency: handlers run on server
threads; py4j calls are thread-safe and each request runs independent
jobs on the shared SparkSession (use ``spark.scheduler.mode=FAIR`` if
serving next to batch work).
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Callable

from pyspark.sql import DataFrame

from .runner import DASHBOARD, price_chart
from .serving import dashboard_html

# name -> (models dict) -> chart-sized DataFrame: chart 1 as the page
# draws it, the other four straight from the frame table
CHART_QUERIES: dict[str, Callable[[dict[str, DataFrame]], DataFrame]] = {
    "price_distribution": lambda m: price_chart(m)[1],
    "state_price_summary": DASHBOARD["state_price_summary"],
    "stock_status_mix": DASHBOARD["stock_status_mix"],
    "discount_depth": DASHBOARD["discount_depth"],
    "category_value_map": DASHBOARD["category_value_map"],
}

_MAX_API_ROWS = 10_000  # serving boundary: chart frames, never table dumps


def _frame_json(df: DataFrame) -> bytes:
    rows = df.limit(_MAX_API_ROWS + 1).collect()
    truncated = len(rows) > _MAX_API_ROWS
    rows = rows[:_MAX_API_ROWS]
    payload = {
        "columns": df.columns,
        "rows": [[row[c] for c in df.columns] for row in rows],
        "truncated": truncated,
    }
    return json.dumps(payload, default=str).encode()


def make_handler(m: dict[str, DataFrame]) -> type[BaseHTTPRequestHandler]:
    """Build a request-handler class closed over the models dict."""

    class DashboardHandler(BaseHTTPRequestHandler):
        def log_message(self, *args) -> None:  # quiet test output
            pass

        def _send(self, code: int, body: bytes, ctype: str) -> None:
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _json(self, code: int, obj) -> None:
            self._send(code, json.dumps(obj).encode(), "application/json")

        def do_GET(self) -> None:  # noqa: N802 — BaseHTTPRequestHandler API
            path = self.path.split("?", 1)[0].rstrip("/") or "/"
            try:
                if path == "/":
                    self._send(
                        200, dashboard_html(m).encode(), "text/html; charset=utf-8"
                    )
                elif path == "/healthz":
                    self._send(200, b"ok", "text/plain")
                elif path == "/api/charts":
                    self._json(200, sorted(CHART_QUERIES))
                elif path.startswith("/api/chart/"):
                    name = path.rsplit("/", 1)[1]
                    if name in CHART_QUERIES:
                        body = _frame_json(CHART_QUERIES[name](m))
                        self._send(200, body, "application/json")
                    else:
                        self._json(404, {"error": f"unknown chart {name!r}",
                                         "charts": sorted(CHART_QUERIES)})
                else:
                    self._send(404, b"not found", "text/plain")
            except Exception as exc:  # surface, don't kill the server thread
                self._json(500, {"error": str(exc)})

    return DashboardHandler


class DashboardServer:
    """Owns the HTTP server + its thread; ``with``-style lifecycle.

    >>> srv = DashboardServer(models).start()     # port 0 = ephemeral
    >>> requests.get(f"http://localhost:{srv.port}/")
    >>> srv.stop()
    """

    def __init__(self, m: dict[str, DataFrame], host: str = "127.0.0.1",
                 port: int = 0):
        self._httpd = ThreadingHTTPServer((host, port), make_handler(m))
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self._httpd.server_address[1]

    def start(self) -> "DashboardServer":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, name="pdp-serving", daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread is not None:
            self._thread.join(timeout=10)

    def __enter__(self) -> "DashboardServer":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()
