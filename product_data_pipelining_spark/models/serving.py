"""Static serving layer: the reference dashboard's five charts as one
self-contained HTML file (inline SVG, zero JS/plotting dependencies).

Reference: ``/root/reference/portfolio_app/app.py:81-439`` renders five
plotly charts in a Dash app (box plot, store map, stock-status mix,
discount depth, category value map) from seven SQL queries. Here the
chart *inputs* are the frames of ``runner.DASHBOARD`` (chart 1:
``runner.price_chart``; every aggregation stays a distributed Spark
plan, see ``models.dashboard``), and this module only formats the
final, tiny, already-aggregated frames — the one place rows are
collected. The output is a static artifact you can
drop on any object store; no server, no plotly (not installed in this
container by design).

Chart craft follows a fixed method: marks ≤24px with rounded data-ends,
2px surface gaps between stacked segments, hairline grid, a legend for
multi-series charts plus a table view per chart (the accessibility
relief for low-contrast hues), categorical colors in fixed slot order
(validated for CVD separation in light and dark), and dark mode as
selected steps of the same hues, not an automatic flip.
"""

from __future__ import annotations

import html
import os
from typing import Any, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .runner import DASHBOARD, price_chart

# categorical slots (fixed order; first three validate all-pairs CVD in
# both modes), surfaces and ink per the validated placeholder palette
_LIGHT = {
    "s1": "#2a78d6", "s2": "#eb6834", "s3": "#1baf7a",
    "surface": "#fcfcfb", "page": "#f9f9f7", "ink": "#0b0b0b",
    "ink2": "#52514e", "muted": "#898781", "grid": "#e1e0d9",
    "axis": "#c3c2b7",
}
_DARK = {
    "s1": "#3987e5", "s2": "#d95926", "s3": "#199e70",
    "surface": "#1a1a19", "page": "#0d0d0d", "ink": "#ffffff",
    "ink2": "#c3c2b7", "muted": "#898781", "grid": "#2c2c2a",
    "axis": "#383835",
}

_W = 660  # svg width
_ML, _MR = 150, 56  # left label gutter, right value gutter
_ROW = 30  # band per category row
_BAR = 16  # bar thickness (spec: <= 24)


def _esc(s: Any) -> str:
    return html.escape(str(s), quote=True)


def _fmt(v: float, dec: int = 2) -> str:
    if v != v:
        return "—"
    s = f"{v:,.{dec}f}"
    if "." in s:
        s = s.rstrip("0").rstrip(".")
    return s


def _nice_ticks(vmax: float, n: int = 4) -> list[float]:
    """0-based clean tick values covering [0, vmax]."""
    if vmax <= 0:
        return [0.0, 1.0]
    raw = vmax / n
    if raw >= 1:
        mag = 10 ** len(str(int(raw))) / 10
    else:
        # Magnitude of the first significant digit: count *leading* zeros in
        # the fractional part (0.0123 -> 1 leading zero -> mag 1e-2).
        frac = f"{raw:.10f}".split(".")[1]
        zeros = len(frac) - len(frac.lstrip("0"))
        mag = 10.0 ** -(zeros + 1)
    for step in (1, 2, 2.5, 5, 10):
        if raw <= step * mag:
            tick = step * mag
            break
    else:  # pragma: no cover
        tick = raw
    out, v = [], 0.0
    while v < vmax + tick / 2:
        out.append(round(v, 10))
        v += tick
    return out


def _rounded_bar(x: float, y: float, w: float, h: float, cls: str, tip: str) -> str:
    """Horizontal bar: square at the baseline (left), 4px rounded data end."""
    r = min(4.0, w / 2, h / 2)
    d = (
        f"M{x:.1f},{y:.1f} h{w - r:.1f} a{r},{r} 0 0 1 {r},{r} "
        f"v{h - 2 * r:.1f} a{r},{r} 0 0 1 {-r},{r} h{-(w - r):.1f} z"
    )
    return f'<path class="{cls} mk" d="{d}" data-tip="{_esc(tip)}"/>'


def _grid_and_ticks(x0: float, x1: float, vmax: float, height: float,
                    dec: int = 0) -> str:
    parts = []
    for t in _nice_ticks(vmax):
        x = x0 + (x1 - x0) * (t / vmax if vmax else 0)
        parts.append(
            f'<line class="grid" x1="{x:.1f}" y1="0" x2="{x:.1f}" y2="{height:.1f}"/>'
            f'<text class="tick" x="{x:.1f}" y="{height + 16:.1f}" '
            f'text-anchor="middle">{_fmt(t, dec)}</text>'
        )
    return "".join(parts)


def _svg(body: str, height: float) -> str:
    return (
        f'<svg viewBox="0 0 {_W} {height:.0f}" role="img" '
        f'xmlns="http://www.w3.org/2000/svg">{body}</svg>'
    )


def _table(headers: Sequence[str], rows: Sequence[Sequence[Any]]) -> str:
    th = "".join(f"<th>{_esc(h)}</th>" for h in headers)
    trs = "".join(
        "<tr>" + "".join(f"<td>{_esc(c)}</td>" for c in r) + "</tr>" for r in rows
    )
    return (
        "<details><summary>Table view</summary>"
        f"<table><thead><tr>{th}</tr></thead><tbody>{trs}</tbody></table>"
        "</details>"
    )


def _card(title: str, subtitle: str, svg: str, table: str,
          legend: str = "") -> str:
    return (
        f'<section class="card"><h2>{_esc(title)}</h2>'
        f'<p class="sub">{_esc(subtitle)}</p>{legend}{svg}{table}</section>'
    )


def _hbar_card(title: str, subtitle: str, rows: list[tuple[str, float]],
               value_name: str, dec: int = 2, extra_cols: dict | None = None) -> str:
    """Single-series horizontal bar chart (slot-1 hue, no legend box)."""
    vmax = max((v for _, v in rows), default=1.0)
    h = len(rows) * _ROW
    parts = [f'<g transform="translate(0,0)">{_grid_and_ticks(_ML, _W - _MR, vmax, h, dec)}</g>']
    for i, (label, v) in enumerate(rows):
        y = i * _ROW + (_ROW - _BAR) / 2
        w = (_W - _ML - _MR) * (v / vmax if vmax else 0)
        parts.append(
            f'<text class="lab" x="{_ML - 8}" y="{y + _BAR - 4}" '
            f'text-anchor="end">{_esc(label)}</text>'
        )
        parts.append(_rounded_bar(_ML, y, max(w, 1), _BAR, "c1",
                                  f"{label}: {_fmt(v, dec)}"))
        parts.append(
            f'<text class="val" x="{_ML + max(w, 1) + 6}" y="{y + _BAR - 4}">'
            f"{_fmt(v, dec)}</text>"
        )
    parts.append(
        f'<line class="axis" x1="{_ML}" y1="0" x2="{_ML}" y2="{h}"/>'
    )
    table_rows = [(label, _fmt(v, dec)) for label, v in rows]
    headers = ["category", value_name]
    if extra_cols:
        headers += list(extra_cols)
        table_rows = [
            r + tuple(extra_cols[c][i] for c in extra_cols)
            for i, r in enumerate(table_rows)
        ]
    return _card(title, subtitle, _svg("".join(parts), h + 24),
                 _table(headers, table_rows))


def _box_card(title: str, subtitle: str,
              rows: list[tuple[str, float, float, float, float, float]]) -> str:
    """Box plot per category: whiskers p0-p100, box p25-p75, median line."""
    vmax = max((r[5] for r in rows), default=1.0)
    h = len(rows) * _ROW

    def sx(v: float) -> float:
        return _ML + (_W - _ML - _MR) * (v / vmax if vmax else 0)

    parts = [_grid_and_ticks(_ML, _W - _MR, vmax, h)]
    for i, (label, p0, p25, p50, p75, p100) in enumerate(rows):
        cy = i * _ROW + _ROW / 2
        y0, bh = cy - _BAR / 2, _BAR
        tip = (f"{label}: min {_fmt(p0)} · q1 {_fmt(p25)} · median {_fmt(p50)}"
               f" · q3 {_fmt(p75)} · max {_fmt(p100)}")
        parts.append(
            f'<text class="lab" x="{_ML - 8}" y="{cy + 4}" text-anchor="end">'
            f"{_esc(label)}</text>"
        )
        parts.append(
            f'<g class="mk" data-tip="{_esc(tip)}">'
            f'<line class="c1l" x1="{sx(p0):.1f}" y1="{cy:.1f}" '
            f'x2="{sx(p100):.1f}" y2="{cy:.1f}"/>'
            f'<rect class="c1w" x="{sx(p25):.1f}" y="{y0:.1f}" '
            f'width="{max(sx(p75) - sx(p25), 1):.1f}" height="{bh}"/>'
            f'<line class="c1l" x1="{sx(p50):.1f}" y1="{y0:.1f}" '
            f'x2="{sx(p50):.1f}" y2="{y0 + bh:.1f}"/></g>'
        )
    parts.append(f'<line class="axis" x1="{_ML}" y1="0" x2="{_ML}" y2="{h}"/>')
    table = _table(
        ["category", "min", "q1", "median", "q3", "max"],
        [(r[0], *(_fmt(v) for v in r[1:])) for r in rows],
    )
    return _card(title, subtitle, _svg("".join(parts), h + 24), table)


def _stacked_card(title: str, subtitle: str, categories: list[str],
                  series: list[str],
                  pct: dict[tuple[str, str], float]) -> str:
    """100%-stacked horizontal bars; 2px surface gaps between segments."""
    h = len(categories) * _ROW
    span = _W - _ML - _MR
    parts = [_grid_and_ticks(_ML, _W - _MR, 100, h)]
    for i, cat in enumerate(categories):
        y = i * _ROW + (_ROW - _BAR) / 2
        parts.append(
            f'<text class="lab" x="{_ML - 8}" y="{y + _BAR - 4}" '
            f'text-anchor="end">{_esc(cat)}</text>'
        )
        x = float(_ML)
        for j, s in enumerate(series):
            p = pct.get((cat, s), 0.0)
            w = span * p / 100
            if w <= 0:
                continue
            gap = 2 if x > _ML else 0  # surface gap between segments
            parts.append(
                f'<rect class="c{j + 1} mk" x="{x + gap:.1f}" y="{y:.1f}" '
                f'width="{max(w - gap, 0.5):.1f}" height="{_BAR}" '
                f'data-tip="{_esc(f"{cat} — {s}: {p:.1f}%")}"/>'
            )
            x += w
    parts.append(f'<line class="axis" x1="{_ML}" y1="0" x2="{_ML}" y2="{h}"/>')
    legend = "".join(
        f'<span class="key"><span class="sw c{j + 1}"></span>{_esc(s)}</span>'
        for j, s in enumerate(series)
    )
    table = _table(
        ["category"] + series,
        [
            (c, *(f"{pct.get((c, s), 0.0):.1f}%" for s in series))
            for c in categories
        ],
    )
    return _card(title, subtitle, _svg("".join(parts), h + 24), table,
                 legend=f'<div class="legend">{legend}</div>')


def _scatter_card(title: str, subtitle: str,
                  pts: list[tuple[str, float, float, int]],
                  med_x: float, med_y: float) -> str:
    """Value-map scatter: x=avg price, y=avg discount, median quadrants."""
    h = 300.0
    xmax = max((p[1] for p in pts), default=1.0) * 1.15
    ymax = max((p[2] for p in pts), default=1.0) * 1.15
    x0, x1, y0, y1 = _ML, _W - _MR, h - 28, 8

    def sx(v: float) -> float:
        return x0 + (x1 - x0) * (v / xmax if xmax else 0)

    def sy(v: float) -> float:
        return y0 - (y0 - y1) * (v / ymax if ymax else 0)

    parts = []
    for t in _nice_ticks(xmax):
        parts.append(
            f'<line class="grid" x1="{sx(t):.1f}" y1="{y1}" x2="{sx(t):.1f}" y2="{y0}"/>'
            f'<text class="tick" x="{sx(t):.1f}" y="{y0 + 16}" text-anchor="middle">{_fmt(t, 0)}</text>'
        )
    for t in _nice_ticks(ymax):
        parts.append(
            f'<line class="grid" x1="{x0}" y1="{sy(t):.1f}" x2="{x1}" y2="{sy(t):.1f}"/>'
            f'<text class="tick" x="{x0 - 8}" y="{sy(t) + 4:.1f}" text-anchor="end">{_fmt(t, 0)}</text>'
        )
    # median quadrant reference lines (reference app.py:432-435)
    parts.append(
        f'<line class="ref" x1="{sx(med_x):.1f}" y1="{y1}" x2="{sx(med_x):.1f}" y2="{y0}"/>'
        f'<line class="ref" x1="{x0}" y1="{sy(med_y):.1f}" x2="{x1}" y2="{sy(med_y):.1f}"/>'
    )
    for label, x, y, n in pts:
        parts.append(
            f'<circle class="dot mk" cx="{sx(x):.1f}" cy="{sy(y):.1f}" r="5" '
            f'data-tip="{_esc(f"{label}: price {_fmt(x)}, discount {_fmt(y, 1)}%, {n} products")}"/>'
            f'<text class="lab" x="{sx(x) + 9:.1f}" y="{sy(y) + 4:.1f}">{_esc(label)}</text>'
        )
    parts.append(
        f'<line class="axis" x1="{x0}" y1="{y0}" x2="{x1}" y2="{y0}"/>'
        f'<line class="axis" x1="{x0}" y1="{y1}" x2="{x0}" y2="{y0}"/>'
        f'<text class="tick" x="{(x0 + x1) / 2:.1f}" y="{h - 2}" text-anchor="middle">avg regular price</text>'
        f'<text class="tick" transform="rotate(-90 14 {(y0 + y1) / 2:.1f})" x="14" y="{(y0 + y1) / 2:.1f}" text-anchor="middle">avg discount %</text>'
    )
    table = _table(
        ["category", "avg price", "avg discount %", "products"],
        [(p[0], _fmt(p[1]), _fmt(p[2], 1), p[3]) for p in pts],
    )
    return _card(title, subtitle, _svg("".join(parts), h), table)


def _css() -> str:
    def block(p: dict[str, str]) -> str:
        return (
            f"--surface:{p['surface']};--page:{p['page']};--ink:{p['ink']};"
            f"--ink2:{p['ink2']};--muted:{p['muted']};--grid:{p['grid']};"
            f"--axis:{p['axis']};--c1:{p['s1']};--c2:{p['s2']};--c3:{p['s3']};"
        )

    return f"""
:root{{color-scheme:light;{block(_LIGHT)}}}
@media (prefers-color-scheme:dark){{:root:not([data-theme=light]){{color-scheme:dark;{block(_DARK)}}}}}
:root[data-theme=dark]{{color-scheme:dark;{block(_DARK)}}}
body{{background:var(--page);color:var(--ink);margin:0;padding:24px;
  font:14px/1.45 system-ui,-apple-system,"Segoe UI",sans-serif}}
h1{{font-size:20px;margin:0 0 4px}}
.sub,.meta{{color:var(--ink2);margin:0 0 12px;font-size:13px}}
main{{display:grid;grid-template-columns:repeat(auto-fit,minmax(420px,1fr));gap:16px;max-width:1400px}}
.card{{background:var(--surface);border:1px solid var(--grid);border-radius:8px;padding:16px}}
.card h2{{font-size:15px;margin:0 0 2px}}
svg{{width:100%;height:auto;display:block;margin-top:8px}}
svg text{{font:12px system-ui,-apple-system,"Segoe UI",sans-serif;fill:var(--ink2)}}
.tick{{fill:var(--muted);font-variant-numeric:tabular-nums}}
.val{{fill:var(--ink2);font-variant-numeric:tabular-nums}}
.grid{{stroke:var(--grid);stroke-width:1}}
.axis{{stroke:var(--axis);stroke-width:1}}
.ref{{stroke:var(--muted);stroke-width:1}}
.c1{{fill:var(--c1)}}.c2{{fill:var(--c2)}}.c3{{fill:var(--c3)}}
.c1l{{stroke:var(--c1);stroke-width:2;fill:none}}
.c1w{{fill:var(--c1);fill-opacity:.18}}
.dot{{fill:var(--c1);stroke:var(--surface);stroke-width:2}}
.legend{{display:flex;gap:16px;margin:6px 0 0;font-size:12px;color:var(--ink2)}}
.key{{display:inline-flex;align-items:center;gap:6px}}
.sw{{width:10px;height:10px;border-radius:2px;display:inline-block}}
details{{margin-top:10px;font-size:12px;color:var(--ink2)}}
table{{border-collapse:collapse;margin-top:6px;font-variant-numeric:tabular-nums}}
td,th{{border:1px solid var(--grid);padding:3px 8px;text-align:left}}
#tip{{position:fixed;pointer-events:none;background:var(--ink);color:var(--surface);
  padding:4px 8px;border-radius:4px;font-size:12px;display:none;z-index:9}}
"""


_TIP_JS = """
const tip=document.getElementById('tip');
document.querySelectorAll('.mk').forEach(el=>{
  el.addEventListener('mousemove',e=>{tip.textContent=el.dataset.tip;
    tip.style.display='block';tip.style.left=(e.clientX+12)+'px';
    tip.style.top=(e.clientY+12)+'px';});
  el.addEventListener('mouseleave',()=>{tip.style.display='none';});
});
"""


def dashboard_html(m: dict[str, DataFrame]) -> str:
    """Build the five-chart dashboard document as an HTML string.

    ``m`` is ``runner.build_models``/``run_pipeline`` output. All
    aggregation happens in Spark (modules ``dashboard``/``marts``); the
    frames collected here are chart-sized (tens of rows). Used by both
    the static artifact writer (``render_dashboard``) and the live
    per-request server (``serving_http``)."""
    # chart 1: price distribution box plot (app.py:84-124)
    title_range, box = price_chart(m)
    box_rows = [tuple(r) for r in box.collect()]

    # chart 2: per-state price summary (map stand-in; app.py:149-156)
    st = DASHBOARD["state_price_summary"](m).orderBy(
        F.desc("state_avg_price")
    ).collect()
    st_rows = [(r["state"], float(r["state_avg_price"])) for r in st]
    st_products = {"products": [r["state_total_products"] for r in st]}

    # chart 3: stock-status mix (app.py:265-285)
    mix = DASHBOARD["stock_status_mix"](m).collect()
    statuses = sorted({r["status"] for r in mix})
    cats = sorted({r["category"] for r in mix})
    pct = {(r["category"], r["status"]): float(r["pct"]) for r in mix}

    # chart 4: discount depth (app.py:335-345)
    dd = DASHBOARD["discount_depth"](m).collect()
    dd_rows = [(r["category"], float(r["avg_discount_pct"])) for r in dd]

    # chart 5: category value map + medians (app.py:383-435)
    cvm = DASHBOARD["category_value_map"](m).collect()
    med = DASHBOARD["value_map_medians"](m).collect()[0]
    pts = [
        (
            r["category"],
            float(r["avg_regular_price"]),
            float(r["avg_discount_pct"] or 0.0),
            int(r["product_count"]),
        )
        for r in cvm
    ]

    cards = [
        _box_card(
            "Price distribution by category",
            f"Regular price five-number summary, {title_range}",
            box_rows,
        ),
        _hbar_card(
            "Average price by state",
            "Mean of per-location averages (choropleth stand-in)",
            st_rows,
            "avg price",
            extra_cols=st_products,
        ),
        _stacked_card(
            "Stock status mix by category",
            "Share of rows per stock status",
            cats,
            statuses,
            pct,
        ),
        _hbar_card(
            "Promo discount depth by category",
            "Average discount % (categories with ≥5 promo items)",
            dd_rows,
            "avg discount %",
            dec=1,
        ),
        _scatter_card(
            "Category value map",
            "Base price vs discount depth; lines mark the medians",
            pts,
            float(med["median_regular_price"] or 0.0),
            float(med["median_discount_pct"] or 0.0),
        ),
    ]
    return (
        "<!doctype html><html><head><meta charset='utf-8'>"
        "<meta name='viewport' content='width=device-width,initial-scale=1'>"
        "<title>Product pricing dashboard</title>"
        f"<style>{_css()}</style></head><body>"
        "<h1>Product pricing dashboard</h1>"
        "<p class='meta'>The reference dashboard's five charts "
        "(portfolio_app/app.py); every aggregate computed in Spark."
        "</p><main>" + "".join(cards) + "</main>"
        f"<div id='tip'></div><script>{_TIP_JS}</script></body></html>"
    )


def render_dashboard(m: dict[str, DataFrame], out_path: str) -> str:
    """Write ``dashboard_html(m)`` to ``out_path`` as a static artifact
    (drop on any object store; no server needed). Returns ``out_path``."""
    doc = dashboard_html(m)
    os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
    with open(out_path, "w") as f:
        f.write(doc)
    return out_path
