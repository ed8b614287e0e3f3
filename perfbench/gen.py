"""Seeded input generators. Everything the benchmark feeds the program is
made here from the workload seed; the program only ever receives the
resulting DataFrames or parquet files.

- ``powerlaw_edges``: uniform src, dst = floor(V * u^2.5) (hub skew toward
  low ids), self-loops dropped, duplicates removed.
- ``pages``: a Common-Crawl-style page table (url, warc_ts, html, text,
  lang). Each page links to a Zipf-distributed number of targets, 30% of
  them on site0 hub pages, ~2% external and ~2% root-relative, and ~5% of
  pages carry an earlier duplicate crawl. Every row also records the
  absolute targets it links to, so checks need no HTML parsing.
"""

from __future__ import annotations

import datetime as dt
import hashlib

import numpy as np
import pandas as pd

N_SITES = 50
BASE_TS = dt.datetime(2024, 1, 1)
LANGS = ("en", "de", "fr", "es", "zh")
PAGE_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]


def powerlaw_edges(seed: int, n_vertices: int, n_edges: int, skew: float = 2.5) -> np.ndarray:
    """(E, 2) int64 array of distinct directed edges, sorted by (src, dst)."""
    rng = np.random.default_rng([seed, n_vertices, n_edges])
    src = rng.integers(0, n_vertices, size=n_edges, dtype=np.int64)
    dst = np.floor(n_vertices * rng.random(n_edges) ** skew).astype(np.int64)
    e = np.stack([src, dst], axis=1)[src != dst]
    return np.unique(e, axis=0)


def checksum(arr: np.ndarray) -> str:
    """Short content hash of an array (dtype, shape and bytes)."""
    h = hashlib.sha256(f"{arr.dtype}{arr.shape}".encode())
    h.update(np.ascontiguousarray(arr).tobytes())
    return h.hexdigest()[:16]


def page_url(i: int) -> str:
    return f"https://site{i % N_SITES}.example/p{i}"


def _page(seed: int, i: int, n_pages: int, variant: int) -> tuple[bytes, str, list[str]]:
    """(html, text, absolute link targets) of page ``i``; ``variant`` 0 is
    the current crawl, anything else an earlier or later re-crawl."""
    rng = np.random.default_rng([seed, i, variant])
    n_links = int(min(rng.zipf(1.5), 40))
    hubs = (n_pages + N_SITES - 1) // N_SITES  # pages on site0
    anchors, targets = [], []
    for j in range(n_links):
        roll = rng.random()
        if roll < 0.02:
            href = target = f"https://external{j}.example/"
        else:
            if rng.random() < 0.30:
                t = int(rng.integers(0, hubs)) * N_SITES
            else:
                t = int(rng.integers(0, n_pages))
            if roll < 0.04:  # root-relative: resolves against the page's own site
                href, target = f"/p{t}", f"https://site{i % N_SITES}.example/p{t}"
            else:
                href = target = page_url(t)
                if rng.random() < 0.01:
                    href += "#frag"
        anchors.append(f'<a href="{href}">link {j}</a>')
        targets.append(target)
    words = " ".join(f"w{int(w)}" for w in rng.integers(0, 1000, size=int(rng.integers(5, 40))))
    html = (
        f"<html><head><title>Page {i} v{variant}</title>"
        f"<script>var x={i};</script></head>"
        f"<body><p>{words}</p>{''.join(anchors)}</body></html>"
    )
    text = f"Page {i} v{variant} {words} " + " ".join(f"link {j}" for j in range(n_links))
    return html.encode(), text.strip(), targets


def pages(seed: int, indices, n_pages: int, crawl: int = 0) -> pd.DataFrame:
    """Page rows for ``indices`` in a corpus of ``n_pages``. ``crawl`` > 0
    marks a re-crawl: new content, stamped ``crawl`` days after the first.
    Column ``targets`` holds each row's absolute link targets (drop it
    before handing the table to the program)."""
    rows = []
    for i in map(int, indices):
        ts = BASE_TS + dt.timedelta(seconds=137 * i, days=crawl)
        html, text, targets = _page(seed, i, n_pages, 2 * crawl)
        rows.append((page_url(i), ts, html, text, LANGS[i % 5], targets))
        if crawl == 0 and i % 20 == 7:  # an earlier, superseded crawl
            html, text, targets = _page(seed, i, n_pages, 1)
            rows.append((page_url(i), ts - dt.timedelta(days=1), html, text, LANGS[i % 5], targets))
    return pd.DataFrame(rows, columns=PAGE_COLUMNS + ["targets"])


def latest_pairs(page_rows: pd.DataFrame) -> set[tuple[str, str]]:
    """Distinct (src_url, dst_url) link pairs of each url's latest crawl,
    self-links dropped."""
    latest = page_rows.sort_values("warc_ts").drop_duplicates("url", keep="last")
    return {
        (src, dst)
        for src, targets in zip(latest["url"], latest["targets"])
        for dst in targets
        if dst != src
    }
