"""The three workloads: their inputs, their timed calls and the untimed
checks of every call's output.

A workload makes its inputs in ``setup`` (timed as set-up, repeatable) and
runs one pass of timed calls in ``run_pass`` through ``Harness.call``. All
calls go through public ``linkgraph`` functions; the harness times them,
tags their Spark jobs and runs the check afterwards.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd

from perfbench import gen, oracles

DAMPING = 0.85


class CheckFailed(AssertionError):
    pass


def require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def _ids_values(df, value_col: str) -> tuple[np.ndarray, np.ndarray]:
    pdf = df if isinstance(df, pd.DataFrame) else df.select("id", value_col).toPandas()
    pdf = pdf.sort_values("id")
    return pdf["id"].to_numpy(np.int64), pdf[value_col].to_numpy()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class Workload:
    name = ""
    pass_budget_s = 20.0  # nominal wall of one pass; sets passes per run

    def __init__(self, seed: int, work_dir: str) -> None:
        self.seed = seed
        self.work_dir = work_dir
        self.info: dict = {}  # input sizes and checksums, for the report

    def passes(self, seconds: float) -> int:
        return max(1, round(seconds / self.pass_budget_s))

    def setup(self, spark) -> None:
        raise NotImplementedError

    def run_pass(self, spark, h, p: int) -> None:
        raise NotImplementedError


class _GraphWorkload(Workload):
    n_vertices = 0
    n_edges = 0

    def setup(self, spark) -> None:
        old = getattr(self, "edges_df", None)
        if old is not None:
            old.unpersist()
        self.edges = gen.powerlaw_edges(self.seed, self.n_vertices, self.n_edges)
        # the program gets the graph as a parquet file, read and cached
        path = os.path.join(self.work_dir, "edges.parquet")
        os.makedirs(self.work_dir, exist_ok=True)
        pd.DataFrame(self.edges, columns=["src_id", "dst_id"]).to_parquet(path)
        self.edges_df = spark.read.parquet(path).persist()
        self.edges_df.count()
        self.ids = np.unique(self.edges)
        self.info = {
            "vertices": self.n_vertices,
            "edges": int(len(self.edges)),
            "edge_checksum": gen.checksum(self.edges),
        }
        self._oracle: dict = {}

    def oracle(self, key: str, fn):
        if key not in self._oracle:
            self._oracle[key] = fn()
        return self._oracle[key]

    def _check_ids(self, ids: np.ndarray) -> None:
        require(np.array_equal(ids, self.ids), "vertex set differs from the edge endpoints")


class DenseRank(_GraphWorkload):
    """Every vertex active in every superstep: O(E) per-superstep work."""

    name = "dense-rank"
    n_vertices, n_edges = 15_000, 150_000
    iters = 8
    pass_budget_s = 20.0

    def _check_rank(self, res) -> None:
        from linkgraph.oracle import pagerank

        require(res.iterations == self.iters, f"ran {res.iterations} supersteps, not {self.iters}")
        ids, rank = _ids_values(res.state, "rank")
        self._check_ids(ids)
        want = self.oracle("pr", lambda: pagerank(
            self.edges, self.n_vertices, eps=0.0, max_iters=self.iters)[0])
        require(np.allclose(rank, want[ids], rtol=1e-9, atol=1e-6), "ranks differ from the oracle")

    def run_pass(self, spark, h, p: int) -> None:
        from linkgraph.algos import pagerank

        for kernel in ("sql", "sem"):
            h.call(
                f"pagerank_{kernel}",
                lambda k=kernel: pagerank(spark, self.edges_df, kernel=k, eps=0.0, max_iters=self.iters),
                check=self._check_rank,
                edges=len(self.edges),
            )


class North4(_GraphWorkload):
    """The four north programs, each to its natural end, on one edges
    DataFrame: frontier work shrinks and each program builds its layout."""

    name = "north4"
    n_vertices, n_edges = 5_000, 50_000
    theta = 1e-3
    lp_iters = 3
    pass_budget_s = 35.0

    def _check_delta(self, res) -> None:
        from linkgraph.oracle import pagerank

        ids, rank = _ids_values(res.state, "rank")
        self._check_ids(ids)
        want = self.oracle("pr", lambda: pagerank(self.edges, self.n_vertices, eps=1e-13, max_iters=500)[0])[ids]
        # pagerank_delta's documented bound: relative error <= theta*R/(1-d)
        # for R supersteps, plus the d^R tail a power iteration of R
        # supersteps still carries against the fixpoint
        bound = self.theta * res.iterations / (1 - DAMPING) + DAMPING ** res.iterations / (1 - DAMPING)
        rel = np.abs(rank - want) / want
        require(bool(rel.max() <= bound), f"delta rank relative error {rel.max():.3g} > {bound:.3g}")

    def _check_exact(self, key: str, fn, col: str):
        def check(res) -> None:
            df = res.state if hasattr(res, "state") else res
            ids, got = _ids_values(df, col)
            self._check_ids(ids)
            want = self.oracle(key, fn)
            require(np.array_equal(got, want[ids]), f"{key} differs from the oracle")

        return check

    def run_pass(self, spark, h, p: int) -> None:
        from linkgraph import oracle
        from linkgraph.algos import label_propagation, pagerank_delta, triangle_counts, wcc

        e, n = self.edges, self.n_vertices
        h.call(
            "pagerank_delta",
            lambda: pagerank_delta(spark, self.edges_df, threshold=self.theta),
            check=self._check_delta, edges=len(e), frontier_of=n,
        )
        h.call(
            "wcc", lambda: wcc(spark, self.edges_df),
            check=self._check_exact("wcc", lambda: oracle.wcc(e, n), "comp"), edges=len(e),
        )
        h.call(
            "lp", lambda: label_propagation(spark, self.edges_df, iters=self.lp_iters),
            check=self._check_exact("lp", lambda: oracle.label_propagation(e, n, self.lp_iters), "label"),
            edges=len(e),
        )
        # the result is lazy: collecting it is part of the call. A bare
        # .count() returns in a tenth of the time, because the row count
        # does not need the per-vertex triangle totals.
        h.call(
            "triangles", lambda: triangle_counts(spark, self.edges_df).select("id", "tri").toPandas(),
            check=self._check_exact("tri", lambda: oracles.triangle_counts(e, n), "tri"),
            edges=len(e),
        )


class CrawlPoll(Workload):
    """A crawl polled into one LinkStore: streaming ingest through the
    extraction UDFs, bucket merges, dictionary extension, parquet writes,
    renames and commits, and the engine on graphs of a few thousand edges."""

    name = "crawl-poll"
    seed_pages = 300
    new_pages = 60
    recrawl = 15
    polls = 1
    buckets = 8
    eps = 1e-3
    max_iters = 3  # supersteps per poll at most: fixed work per poll
    max_bucket_kb = 512
    pass_budget_s = 35.0

    def setup(self, spark) -> None:
        # the crawl: a seed batch, then per poll new pages plus re-crawls,
        # each written as its own parquet batch for the crawler to deliver
        crawl_seed = self.seed + 1
        self.batches = [gen.pages(crawl_seed, range(self.seed_pages), self.seed_pages)]
        rng = np.random.default_rng([self.seed, 7])
        total = self.seed_pages
        for k in range(1, self.polls + 1):
            hi = total + self.new_pages
            again = rng.choice(total, self.recrawl, replace=False)
            self.batches.append(pd.concat([
                gen.pages(crawl_seed, range(total, hi), hi),
                gen.pages(crawl_seed, again, hi, crawl=k),
            ], ignore_index=True))
            total = hi
        for k, batch in enumerate(self.batches):
            spark.createDataFrame(batch[gen.PAGE_COLUMNS]).coalesce(4).write.mode(
                "overwrite").parquet(os.path.join(self.work_dir, f"batch{k}"))
        html = np.frombuffer(b"".join(pd.concat(self.batches)["html"]), np.uint8)
        self.info = {"crawl_rows": [len(b) for b in self.batches], "page_checksum": gen.checksum(html)}

    def _check_poll(self, spark, state: str, fed: pd.DataFrame, prev: dict):
        """Check a poll's committed dictionary and ranks against the crawl
        fed so far. ``prev`` holds the previous poll's url -> id and url ->
        rank and is replaced by this poll's."""
        from linkgraph.io import read_committed_or_none

        def check(m) -> None:
            d = read_committed_or_none(spark, f"{state}/dict", "id long, url string").toPandas()
            ids = dict(zip(d["url"], d["id"]))
            require(len(ids) == len(d) and d["id"].is_unique, "dictionary urls or ids repeat")
            require(all(ids.get(u) == i for u, i in prev.get("ids", {}).items()),
                    "dictionary ids moved between polls")
            pairs = gen.latest_pairs(fed)
            require({u for pr in pairs for u in pr} <= ids.keys(), "dictionary misses a crawled url")
            edges = np.array([(ids[s], ids[t]) for s, t in pairs], dtype=np.int64).reshape(-1, 2)
            require(m["edges"] == len(edges), f"poll ranked {m['edges']} edges, the crawl has {len(edges)}")
            r = read_committed_or_none(spark, f"{state}/ranks", "id long, rank double").toPandas()
            # the poll warm-starts from the previous poll's ranks; new ids
            # start at 1-d
            init = np.full(int(d["id"].max()) + 1, 1 - DAMPING)
            for u, rank in prev.get("ranks", {}).items():
                init[ids[u]] = rank
            want = oracles.pagerank_from(edges, init, m["iterations"])[r["id"].to_numpy()]
            require(np.allclose(r["rank"].to_numpy(), want, rtol=1e-9, atol=1e-6),
                    "poll ranks differ from the oracle")
            url_of = dict(zip(d["id"], d["url"]))
            prev["ids"] = ids
            prev["ranks"] = {url_of[i]: x for i, x in zip(r["id"], r["rank"])}

        return check

    def run_pass(self, spark, h, p: int) -> None:
        from linkgraph.incremental import link_store_rank_poll
        from linkgraph.linkstore import LinkStore

        root = os.path.join(self.work_dir, f"pass{p}")
        state, stage = os.path.join(root, "state"), os.path.join(root, "pages")
        fed = self.batches[0].iloc[:0]
        prev: dict = {}
        os.makedirs(stage)
        for k, batch in enumerate(self.batches):
            # the crawler delivers batch k into the one staging dir the
            # ingest's streaming file source watches
            src = os.path.join(self.work_dir, f"batch{k}")
            for f in os.listdir(src):
                if f.startswith("part-"):
                    shutil.copy(os.path.join(src, f), os.path.join(stage, f"b{k}-{f}"))
            fed = pd.concat([fed, batch], ignore_index=True)
            h.call(
                "poll" if k else "seed_poll",
                lambda: link_store_rank_poll(
                    spark, stage, state, eps=self.eps, max_iters=self.max_iters, buckets=self.buckets),
                check=self._check_poll(spark, state, fed, prev),
                edges=lambda m: m["edges"],
                extra=lambda m: {
                    "new_rows": m["new_rows"], "touched_buckets": m["touched_buckets"],
                    "output_bytes": _dir_bytes(state),
                },
            )
            h.call(
                "split",
                lambda: LinkStore.open_or_create(spark, f"{state}/links").maybe_split(self.max_bucket_kb * 1024),
                check=lambda s: require(s["buckets"] >= self.buckets, "store lost buckets"),
            )
        shutil.rmtree(root, ignore_errors=True)


WORKLOADS = {w.name: w for w in (DenseRank, North4, CrawlPoll)}
