"""Generator determinism: the same seed gives the same inputs, another
seed different ones."""

import os
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", ".."))

from perfbench import gen  # noqa: E402


def test_powerlaw_edges_repeat_per_seed():
    a = gen.powerlaw_edges(5, 2_000, 20_000)
    b = gen.powerlaw_edges(5, 2_000, 20_000)
    assert gen.checksum(a) == gen.checksum(b)
    assert gen.checksum(a) != gen.checksum(gen.powerlaw_edges(6, 2_000, 20_000))


def test_powerlaw_edges_shape():
    e = gen.powerlaw_edges(1, 1_000, 10_000)
    assert e.dtype == np.int64 and e.shape[1] == 2
    assert (e[:, 0] != e[:, 1]).all()
    assert len(np.unique(e, axis=0)) == len(e)
    assert e.min() >= 0 and e.max() < 1_000
    # dst skews toward low ids: the lowest tenth of ids takes most in-edges
    assert (e[:, 1] < 100).mean() > 0.3


def test_pages_repeat_per_seed():
    def digest(seed):
        rows = gen.pages(seed, range(200), 200)
        return gen.checksum(np.frombuffer(b"".join(rows["html"]), np.uint8))

    assert digest(3) == digest(3)
    assert digest(3) != digest(4)


def test_pages_targets_match_html():
    from linkgraph.extract import extract_links

    rows = gen.pages(9, range(300), 300)
    for url, html, targets in zip(rows["url"], rows["html"], rows["targets"]):
        assert extract_links(html, url) == targets


def test_latest_pairs_use_latest_crawl():
    first = gen.pages(2, [7], 50)  # page 7 also carries an earlier crawl
    assert len(first) == 2
    again = gen.pages(2, [7], 50, crawl=1)
    rows = pd.concat([first, again], ignore_index=True)
    want = {(again["url"][0], t) for t in again["targets"][0] if t != again["url"][0]}
    assert gen.latest_pairs(rows) == want
