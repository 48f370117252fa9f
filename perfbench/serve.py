"""Closed-loop HTTP clients against the live dashboard server.

Each client sends its next request only after the previous one has
completed: the five ``/api/chart/<name>`` endpoints in turn, then the
dashboard page ``/``. A request that raises, times out or answers with a
status other than 200 counts as failed; it stays in the attempted count.
"""

from __future__ import annotations

import json
import threading
import time
import urllib.error
import urllib.request
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from product_data_pipelining_spark.models.serving_http import _MAX_API_ROWS, CHART_QUERIES

CHARTS = tuple(sorted(CHART_QUERIES))
PATHS = tuple(f"/api/chart/{c}" for c in CHARTS) + ("/",)
REQUEST_TIMEOUT_S = 60


@dataclass
class Samples:
    chart_ms: list[float] = field(default_factory=list)
    page_ms: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    # first 200 body per chart, checked against a direct collect afterwards
    bodies: dict[str, bytes] = field(default_factory=dict)
    lock: threading.Lock = field(default_factory=threading.Lock)


def _client(base: str, deadline: float, out: Samples) -> None:
    # whole cycles only, so every run holds the same request mix
    while time.perf_counter() < deadline:
        for path in PATHS:
            t0 = time.perf_counter()
            try:
                with urllib.request.urlopen(base + path, timeout=REQUEST_TIMEOUT_S) as r:
                    body, status = r.read(), r.status
            except (urllib.error.URLError, OSError) as exc:
                body, status = repr(exc).encode(), None
            ms = (time.perf_counter() - t0) * 1000
            with out.lock:
                out.attempted += 1
                if status != 200:
                    out.failed += 1
                    out.errors.append(f"{path}: {status} {body[:200]!r}")
                elif path == "/":
                    out.page_ms.append(ms)
                else:
                    out.chart_ms.append(ms)
                    out.bodies.setdefault(path.rsplit("/", 1)[1], body)


def run_clients(port: int, clients: int, seconds: float) -> Samples:
    """Run ``clients`` closed-loop clients, each starting cycles until
    ``seconds`` have passed."""
    out = Samples()
    base = f"http://127.0.0.1:{port}"
    t0 = time.perf_counter()
    threads = [threading.Thread(target=_client, args=(base, t0 + seconds, out))
               for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(seconds + len(PATHS) * REQUEST_TIMEOUT_S)
    return out


def check_bodies(m, bodies: dict[str, bytes]) -> list[str]:
    """Each served chart body must hold the rows of the chart frame
    collected directly. Row order is not part of the contract; a body
    truncated at the server's row cap must hold a sub-multiset of them."""

    def collect(name: str) -> Counter:
        df = CHART_QUERIES[name](m)
        return Counter(json.dumps([row[c] for c in df.columns], default=str)
                       for row in df.collect())

    with ThreadPoolExecutor(len(CHARTS)) as pool:
        frames = dict(zip(CHARTS, pool.map(collect, CHARTS)))
    problems = []
    for name in CHARTS:
        if name not in bodies:
            problems.append(f"chart {name}: no successful response")
            continue
        got, want = json.loads(bodies[name]), frames[name]
        rows = Counter(json.dumps(r) for r in got["rows"])
        if got["truncated"]:
            ok = len(got["rows"]) == _MAX_API_ROWS < sum(want.values()) and rows <= want
        else:
            ok = rows == want
        if got["columns"] != CHART_QUERIES[name](m).columns or not ok:
            problems.append(f"chart {name}: body differs from the collected frame")
    return problems
