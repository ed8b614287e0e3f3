"""Incremental crawl → re-rank loop: the continuous-ingest counterpart of
the batch pipeline (SURVEY.md §2.1 A8 + north-star "resumable
mid-convergence" story, extended to the steady-state regime).

One ``poll`` = drive the streaming link-extraction over any new page
files (``streaming.run_edge_ingest_once``: availableNow file micro-
batches, append-only pair log, re-crawl replacement with tombstones),
rebuild the latest-crawl edge view, extend the STABLE url→id dictionary
(``build.extend_vertex_ids`` — known urls keep their ids, so state keyed
by id survives polls), and re-rank **warm-started from the previous
poll's ranks** (``pagerank(init_ranks=...)``). On an incremental crawl
the graph changes a little per poll, so the previous fixpoint is an
excellent seed — convergence takes a fraction of the cold iterations
while the converged answer is identical (the fixpoint is unique per
graph; tested).

Two poll implementations share the dict+rank core:

- ``incremental_rank_poll`` — append-only pair log, latest view
  recomputed from the FULL log each poll. Simple, correct, but per-poll
  cost grows with crawl history.
- ``link_store_rank_poll`` — ``linkstore.LinkStore``-backed: the latest
  view is materialized in bucket partitions and each poll merges only
  the new rows into the touched buckets, so view maintenance is
  O(new + touched buckets) and the dictionary only ever sees the urls a
  poll could have introduced. This is the form that survives a
  continuous 10^12-document crawl.

State layout under ``state_dir`` (all parquet + stream checkpoints; any
Hadoop-FS path — local, hdfs://, s3a://):

    pairlog/      append-only (src_url, warc_ts, crawl_fp, dst_url) log
    ingest_ckpt/  structured-streaming source checkpoint (new files only)
    links/        LinkStore root (link_store_* variants)
    dict/         stable url -> id dictionary (shared by page-level loops)
    ranks/        latest converged (id, rank)
    comps/        latest WCC labels          (link_store_components_poll)
    und/, tri/    canonical undirected edges + per-vertex triangle counts
                  (link_store_triangles_poll)
    hostagg/      per-bucket host-edge partials (host_store_rank_poll)
    hostdict/     stable host -> id dictionary     (host_store_rank_poll)
    host_ranks/   latest converged host (id, rank) (host_store_rank_poll)

``host_store_rank_poll`` is the steady-state form of the A11 host
roll-up: LinkStore merge + ``hostgraph.HostAgg`` touched-bucket partial
refresh + warm-started weighted host rank — no per-poll page-corpus scan.

Round 5 extends the steady-state family to every north program where the
math is sound: ``link_store_components_poll`` (warm-start + frontier-
restricted WCC, gated on grow-only evidence) and
``link_store_triangles_poll`` (delta-driven triangle maintenance).
Synchronous LP deliberately has no incremental form (not monotone — a
warm seed is a different algorithm). Warm/delta gating:
``replaced_srcs == 0`` for THIS merge (no re-crawl/tombstone removals)
AND the product state's committed ``merged_through`` stamp equals the
store watermark observed before this poll's ingest (a poll that crashed
between its merge and its state commit otherwise leaves edges no stored
state or frontier accounts for) AND — components only — the committed
labels carry ``converged: true`` (max_iters-exhausted labels are not a
fixpoint; warm+frontier from them would freeze the unfinished
propagation in forever). Rank polls need none of these: any seed
reaches the unique fixpoint. The stable DICTIONARY has its own
watermark stamp with a different failure mode: a crash between a merge
and the dict commit replays with no touched buckets, so a stale stamp
switches the candidate scan from touched-bucket to all-bucket
(``_dict_candidates``) — without it the lost merge's urls would be
dropped from the edge view forever, silently.

Store maintenance is NOT a poll concern: the ops loop calls
``LinkStore.maybe_split(max_bucket_bytes)`` between polls (schedulable,
one full-store rewrite at most) so merge cost stays bounded as the
corpus grows; polls themselves never change the bucket count, keeping
per-poll cost predictable — they open the store with
``LinkStore.open_or_create`` (adopt the on-disk count), so a split
between polls never strands the loop on a bucket-count mismatch.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from linkgraph.build import extend_vertex_ids, pairs_to_edges
from linkgraph.conventions import PR_DAMPING, PR_EPS, PR_MAX_ITERS


def _extend_and_commit_dict(
    spark: SparkSession,
    dict_path: str,
    candidates: DataFrame,
    partitions: int,
    meta: dict | None = None,
) -> tuple[DataFrame, int]:
    """THE stable-dictionary protocol, one implementation for every poll:
    known urls keep ids, novel urls append above max
    (``build.extend_vertex_ids``); the extension is materialized
    (localCheckpoint) BEFORE replacing the parquet it was derived from — a
    lazy plan over files being replaced is a read-after-delete crash or
    silent corruption; the replacement is a staged swap
    (``io.committed_overwrite``): a crash mid-write must never leave a
    partial dict that the next poll reads as "these urls are gone",
    reassigning their ids and invalidating every id-keyed state row.
    Returns (dictionary, n_urls); n_urls == 0 (crawler produced nothing
    yet) skips the commit — callers early-return. ``meta``: sidecar stamp
    committed atomically with the rows (the store polls record the
    merged_through watermark the dictionary reflects —
    ``_dict_candidates``)."""
    from linkgraph.io import committed_overwrite, read_committed_or_none

    existing = read_committed_or_none(spark, dict_path, "id long, url string")
    if existing is None:
        existing = spark.createDataFrame([], "id long, url string")
    dictionary = extend_vertex_ids(
        existing, candidates, partitions=partitions
    ).localCheckpoint(eager=True)
    n_urls = dictionary.count()
    if n_urls:
        committed_overwrite(spark, dictionary, dict_path, meta=meta)
    return dictionary, n_urls


def _dict_candidates(spark: SparkSession, store, dict_path: str, prev_merged: int, mstats: dict) -> DataFrame:
    """Candidate urls for this poll's dictionary extension: the touched
    buckets' winner urls when the dictionary PROVABLY reflects the store
    through ``prev_merged`` (its committed stamp matches the watermark
    observed before this poll's merge), else every bucket's. The fallback
    closes the merge→dict-commit crash window: ``merge()`` advances
    ``merged_through``; a driver that dies before the dict commit replays
    with ``touched_buckets=[]``, so the lost merge's urls are reachable
    only by a full scan — without this check their edges are silently
    dropped by ``pairs_to_edges``'s inner join FOREVER (no later poll
    revisits them until those exact pages are re-crawled). O(corpus) on
    the rare recovery/first/legacy poll, O(touched buckets) steady-state."""
    from linkgraph.io import read_state_meta

    meta = read_state_meta(spark, dict_path)
    current = meta is not None and meta.get("merged_through") == prev_merged
    return store.changed_urls(mstats["touched_buckets"] if current else None)


def _extend_dict_and_rank(
    spark: SparkSession,
    state_dir: str,
    pairs: DataFrame,
    candidate_urls: DataFrame,
    damping: float,
    eps: float,
    max_iters: int,
    partitions: int,
    t0: float,
    extra: dict | None = None,
    dict_meta: dict | None = None,
) -> dict:
    """Shared poll core: extend the stable dictionary with
    ``candidate_urls``, derive edges from ``pairs`` (the batch rule —
    ``build.pairs_to_edges``), warm-start PageRank from the previous
    poll's ranks, and commit dict + ranks via staged swaps."""
    from linkgraph.algos import pagerank
    from linkgraph.io import committed_overwrite, read_committed_or_none

    dictionary, n_urls = _extend_and_commit_dict(
        spark, f"{state_dir}/dict", candidate_urls, partitions, meta=dict_meta
    )
    if n_urls == 0:
        # crawler hasn't produced a single page yet: nothing to rank, and
        # running the superstep loop on empty state would burn max_iters
        # no-op jobs per poll (an empty F.max observes NULL, so the
        # convergence stop never fires)
        return {
            "urls": 0, "edges": 0, "iterations": 0,
            "warm_started": False, "seconds": round(time.monotonic() - t0, 3),
            **(extra or {}),
        }

    # SAME rule as the batch build (build.pairs_to_edges) — the
    # incremental-vs-batch equivalence tests depend on one shared source
    # of truth for endpoint mapping / self-loop / dedup semantics
    edges = pairs_to_edges(pairs, dictionary).persist()
    try:
        n_edges = edges.count()  # materialize once; pagerank + metrics reuse

        ranks_path = f"{state_dir}/ranks"
        init_ranks = read_committed_or_none(spark, ranks_path, "id long, rank double")
        res = pagerank(
            spark,
            edges,
            vertices=dictionary.select("id"),
            damping=damping,
            eps=eps,
            max_iters=max_iters,
            partitions=partitions,
            init_ranks=init_ranks,
        )
        # engine state after >=1 superstep is localCheckpoint-backed; a
        # 0-iteration run (max_iters=0) still holds a lazy plan over the
        # ranks files about to be replaced — break it explicitly
        state = res.state.select("id", "rank")
        if res.iterations == 0:
            state = state.localCheckpoint(eager=True)
        committed_overwrite(spark, state, ranks_path)
    finally:
        edges.unpersist()

    return {
        "urls": n_urls,
        "edges": n_edges,
        "iterations": res.iterations,
        "warm_started": init_ranks is not None,
        "seconds": round(time.monotonic() - t0, 3),
        **(extra or {}),
    }


def incremental_rank_poll(
    spark: SparkSession,
    pages_path: str,
    state_dir: str,
    damping: float = PR_DAMPING,
    eps: float = PR_EPS,
    max_iters: int = PR_MAX_ITERS,
    partitions: int = 32,
) -> dict:
    """Run one ingest+re-rank poll over the append-only pair log; returns
    a metrics dict (one JSON-able row per poll: urls/edges seen,
    iterations to convergence, seconds)."""
    from linkgraph.streaming import current_edge_pairs, run_edge_ingest_once

    t0 = time.monotonic()
    log = run_edge_ingest_once(
        spark, pages_path, f"{state_dir}/pairlog", f"{state_dir}/ingest_ckpt"
    )
    pairs = current_edge_pairs(log)
    urls = pairs.select(F.col("src_url").alias("url")).unionByName(
        pairs.select(F.col("dst_url").alias("url"))
    )
    return _extend_dict_and_rank(
        spark, state_dir, pairs, urls, damping, eps, max_iters, partitions, t0
    )


def host_store_rank_poll(
    spark: SparkSession,
    pages_path: str,
    state_dir: str,
    damping: float = PR_DAMPING,
    eps: float = PR_EPS,
    max_iters: int = PR_MAX_ITERS,
    partitions: int = 32,
    buckets: int = 64,
    keep_intra: bool = False,
) -> dict:
    """One poll of the steady-state HOST-rank loop: the incremental form of
    ``hostgraph.host_pagerank`` (the A11 derived product), with no per-poll
    page-corpus scan anywhere.

    Per poll: LinkStore ingest+merge (O(new + touched buckets)), then
    ``hostgraph.HostAgg.refresh`` brings the per-bucket host-edge partials
    current by re-rolling ONLY the touched buckets, the full roll-up is one
    hash agg over those partials (O(host edges)), the stable HOST
    dictionary extends (known hosts keep ids — id-keyed rank state
    survives polls), and weighted PageRank warm-starts from the previous
    poll's host ranks. Converged ranks are identical to a from-scratch
    batch ``host_pagerank`` over the store's current pairs for every host
    that roll-up covers (the fixpoint is unique per graph; tested in
    test_incremental.py) — PLUS the stable dictionary's stale hosts: a
    host whose last cross-host edge a tombstone/re-crawl removed keeps
    its dict id (ids are never reclaimed) and rides along as an isolated
    vertex at exactly the dangling fixpoint ``1-damping``. Consumers
    reading the committed ranks see the superset; joining against the
    current roll-up's hosts restricts to the live view
    (jobs/fuzz_polls.py pins both halves of this contract).

    State under ``state_dir``: links/ (LinkStore), hostagg/ (partials),
    hostdict/ (stable host -> id), host_ranks/ (latest converged ranks).
    """
    from linkgraph.hostgraph import HostAgg, _rank_host_edges
    from linkgraph.io import committed_overwrite, read_committed_or_none
    from linkgraph.linkstore import LinkStore

    t0 = time.monotonic()
    store = LinkStore.open_or_create(spark, f"{state_dir}/links", buckets=buckets)
    prev = store.merged_through()  # the watermark HostAgg must be at
    store.ingest(pages_path)
    mstats = store.merge()
    agg = HostAgg(spark, f"{state_dir}/hostagg", keep_intra=keep_intra)
    rstats = agg.refresh(
        store, mstats["touched_buckets"], expected_merged_through=prev
    )

    hedges = agg.host_edges().persist()
    try:
        n_hedges = hedges.count()
        extra = {
            "host_edges": n_hedges,
            "new_rows": mstats["new_rows"],
            "touched_buckets": len(mstats["touched_buckets"]),
            "partials_rebuilt": rstats["rebuilt"],
        }

        # stable HOST dictionary — same protocol as the page loop's dict.
        # Candidates are the FULL roll-up's endpoints (O(hosts), not
        # O(pages)) — every poll sees every live host, so this dictionary
        # has no merge→commit crash window and needs no watermark stamp.
        hosts = hedges.select(F.col("src_host").alias("url")).unionByName(
            hedges.select(F.col("dst_host").alias("url"))
        )
        hdict, n_hosts = _extend_and_commit_dict(
            spark, f"{state_dir}/hostdict", hosts, partitions
        )
        if n_hosts == 0:
            return {
                "hosts": 0, "iterations": 0, "warm_started": False,
                "seconds": round(time.monotonic() - t0, 3), **extra,
            }

        ranks_path = f"{state_dir}/host_ranks"
        init_ranks = read_committed_or_none(spark, ranks_path, "id long, rank double")
        res = _rank_host_edges(
            spark,
            hedges,
            damping=damping,
            eps=eps,
            max_iters=max_iters,
            partitions=partitions,
            salted=False,
            init_ranks=init_ranks,
            hdict=hdict,
        )
        state = res.state.select("id", "rank")
        if res.iterations == 0:
            # 0-iteration state is a lazy plan over the ranks files being
            # replaced — break it (same hazard as the page loop)
            state = state.localCheckpoint(eager=True)
        committed_overwrite(spark, state, ranks_path)
    finally:
        hedges.unpersist()

    return {
        "hosts": n_hosts,
        "iterations": res.iterations,
        "warm_started": init_ranks is not None,
        "seconds": round(time.monotonic() - t0, 3),
        **extra,
    }


def link_store_rank_poll(
    spark: SparkSession,
    pages_path: str,
    state_dir: str,
    damping: float = PR_DAMPING,
    eps: float = PR_EPS,
    max_iters: int = PR_MAX_ITERS,
    partitions: int = 32,
    buckets: int = 64,
) -> dict:
    """One poll against the incrementally-maintained ``LinkStore``:
    identical dict ids and converged ranks to ``incremental_rank_poll``
    over the same crawl (tested), but latest-view maintenance costs
    O(new rows + touched buckets) instead of O(full crawl history), and
    the dictionary-extension scan sees only the touched buckets' urls."""
    from linkgraph.linkstore import LinkStore

    t0 = time.monotonic()
    store = LinkStore.open_or_create(spark, f"{state_dir}/links", buckets=buckets)
    prev_merged = store.merged_through()  # watermark BEFORE this poll
    store.ingest(pages_path)
    mstats = store.merge()
    candidates = _dict_candidates(
        spark, store, f"{state_dir}/dict", prev_merged, mstats
    )
    return _extend_dict_and_rank(
        spark,
        state_dir,
        store.current_pairs(),
        candidates,
        damping,
        eps,
        max_iters,
        partitions,
        t0,
        extra={
            "new_rows": mstats["new_rows"],
            "touched_buckets": len(mstats["touched_buckets"]),
        },
        dict_meta={"merged_through": mstats["merged_through"]},
    )


def link_store_components_poll(
    spark: SparkSession,
    pages_path: str,
    state_dir: str,
    max_iters: int = 200,
    partitions: int = 32,
    buckets: int = 64,
) -> dict:
    """One poll of the steady-state COMPONENTS loop: maintain the latest
    WCC labels across a continuous crawl, warm-starting when it is sound.

    Soundness gate: min-label propagation warm-started from the previous
    poll's labels is correct only if the graph GREW (wcc ``init_comps``
    docstring — removals can split components and strand a stale small
    label). The store itself supplies the evidence: ``merge(
    track_replaced=True)`` counts srcs whose winner rows were replaced by
    this poll (re-crawls / tombstones — the only events that remove
    edges). replaced_srcs == 0 → warm start from ``comps/`` (tail polls
    converge in a couple of rounds: old components' label distances are
    already 0, only new bridges propagate); otherwise cold start. Either
    way the result equals a from-scratch ``wcc`` over the store's current
    pairs (tested in test_incremental.py), covering the currently-linked
    pages (isolated/tombstoned urls carry no component row, same as the
    batch path deriving vertices from edges).

    State under ``state_dir``: links/ (LinkStore), dict/ (stable url→id —
    SHARED with the rank poll so both products key one id space), comps/
    (latest (id, comp))."""
    from linkgraph.algos import wcc
    from linkgraph.io import (
        committed_overwrite,
        read_committed_or_none,
        read_state_meta,
    )
    from linkgraph.linkstore import LinkStore

    t0 = time.monotonic()
    store = LinkStore.open_or_create(spark, f"{state_dir}/links", buckets=buckets)
    prev_merged = store.merged_through()  # watermark BEFORE this poll
    store.ingest(pages_path)
    mstats = store.merge(track_replaced=True)
    candidates = _dict_candidates(
        spark, store, f"{state_dir}/dict", prev_merged, mstats
    )

    # stable dictionary, same protocol + staged swap as the rank poll
    dictionary, n_urls = _extend_and_commit_dict(
        spark, f"{state_dir}/dict", candidates, partitions,
        meta={"merged_through": mstats["merged_through"]},
    )
    extra = {
        "new_rows": mstats["new_rows"],
        "touched_buckets": len(mstats["touched_buckets"]),
        "replaced_srcs": mstats["replaced_srcs"],
    }
    if n_urls == 0:
        return {
            "urls": 0, "edges": 0, "iterations": 0, "warm_started": False,
            "converged": True, "seconds": round(time.monotonic() - t0, 3),
            **extra,
        }

    edges = pairs_to_edges(store.current_pairs(), dictionary).persist()
    try:
        n_edges = edges.count()
        comps_path = f"{state_dir}/comps"
        prev = read_committed_or_none(spark, comps_path, "id long, comp long")
        # the warm/frontier path is sound only if ``prev`` is the CONVERGED
        # labeling of the store EXACTLY as it stood before this poll's
        # merge: a poll that crashed between its merge and its comps commit
        # leaves edges no stored labels (or future frontier) account for —
        # the watermark stamped into the comps commit detects that window —
        # and labels committed by a run that hit max_iters mid-propagation
        # are NOT a fixpoint, so warm-starting from them (with a frontier
        # that skips old-component vertices) would freeze the unfinished
        # propagation into every later poll — the ``converged`` stamp
        # detects that. Any mismatch ⇒ cold start (correct, never wrong).
        meta = read_state_meta(spark, comps_path)
        warm = (
            prev is not None
            and mstats["replaced_srcs"] == 0
            and meta is not None
            and meta.get("merged_through") == prev_merged
            and meta.get("converged") is True
        )
        # frontier restriction (warm only): the previous labels are the
        # converged fixpoint of the old subgraph, so only the touched
        # buckets' urls (⊇ new-edge endpoints ∪ new vertices) need to send
        # in the first superstep — see wcc(init_frontier=) for the
        # soundness argument
        frontier = (
            candidates.join(dictionary, candidates["url"] == dictionary["url"])
            .select("id")
            if warm
            else None
        )
        res = wcc(
            spark,
            edges,
            max_iters=max_iters,
            partitions=partitions,
            init_comps=prev if warm else None,
            init_frontier=frontier,
        )
        # a run that exhausted max_iters with labels still changing is not
        # a fixpoint: commit it (best labels so far, and the stamp keeps
        # the store watermark honest) but mark it non-warmable — the next
        # poll must cold-start, not propagate from a half-converged seed
        # empty metrics means the loop body never ran (max_iters=0): zero
        # propagation was VERIFIED, so the committed labels (singleton
        # state0 on a cold start) must not be stamped as a warmable
        # fixpoint — default non-converged, not converged
        converged = bool(res.metrics) and int(res.metrics[-1].get("changed") or 0) == 0
        state = res.state.select("id", "comp")
        if res.iterations == 0:
            # same lazy-plan-over-replaced-files hazard as the rank loop
            state = state.localCheckpoint(eager=True)
        committed_overwrite(
            spark, state, comps_path,
            meta={"merged_through": mstats["merged_through"], "converged": converged},
        )
    finally:
        edges.unpersist()

    return {
        "urls": n_urls,
        "edges": n_edges,
        "iterations": res.iterations,
        "warm_started": warm,
        "converged": converged,
        "seconds": round(time.monotonic() - t0, 3),
        **extra,
    }


def link_store_triangles_poll(
    spark: SparkSession,
    pages_path: str,
    state_dir: str,
    partitions: int = 32,
    buckets: int = 64,
) -> dict:
    """One poll of the steady-state TRIANGLE-COUNT loop: maintain
    per-vertex triangle counts across a continuous crawl.

    Grow-only polls (``replaced_srcs == 0`` — same store-supplied gate as
    the components loop) take the DELTA path: the poll's new canonical
    undirected edges are the previous-poll set anti-joined away, and
    ``triangle_counts_delta`` enumerates only triangles containing a new
    edge — wedge joins driven by the (small) delta, O(Σ_delta deg) work
    instead of the full-graph wedge join. A re-crawl/tombstone poll
    recounts cold (a removed edge can destroy triangles; no subtraction
    path). Committed counts always equal a from-scratch
    ``triangle_counts`` over the store's current pairs (tested).

    State under ``state_dir``: links/ (LinkStore), dict/ (stable url→id,
    SHARED with the rank/components polls), und/ (previous canonical
    undirected edge set — the delta baseline), tri/ (latest (id, tri))."""
    from linkgraph.algos import triangle_counts
    from linkgraph.algos.triangles import _canonical_undirected, triangle_counts_delta
    from linkgraph.build import vertex_ids_from_edges
    from linkgraph.io import (
        committed_overwrite,
        read_committed_or_none,
        read_state_meta,
    )
    from linkgraph.linkstore import LinkStore

    t0 = time.monotonic()
    store = LinkStore.open_or_create(spark, f"{state_dir}/links", buckets=buckets)
    prev_merged = store.merged_through()  # watermark BEFORE this poll
    store.ingest(pages_path)
    mstats = store.merge(track_replaced=True)
    candidates = _dict_candidates(
        spark, store, f"{state_dir}/dict", prev_merged, mstats
    )

    # stable dictionary, same protocol + staged swap as the rank poll
    dictionary, n_urls = _extend_and_commit_dict(
        spark, f"{state_dir}/dict", candidates, partitions,
        meta={"merged_through": mstats["merged_through"]},
    )
    extra = {
        "new_rows": mstats["new_rows"],
        "touched_buckets": len(mstats["touched_buckets"]),
        "replaced_srcs": mstats["replaced_srcs"],
    }
    if n_urls == 0:
        return {
            "urls": 0, "edges": 0, "incremental": False,
            "seconds": round(time.monotonic() - t0, 3), **extra,
        }

    edges = pairs_to_edges(store.current_pairs(), dictionary).persist()
    try:
        n_edges = edges.count()
        und_path = f"{state_dir}/und"
        tri_path = f"{state_dir}/tri"
        # materialized before branching: the delta anti-join and the
        # commit both read it, and it must not be re-derived per branch
        cur_und = _canonical_undirected(edges).localCheckpoint(eager=True)
        prev_und = read_committed_or_none(spark, und_path, "a long, b long")
        prev_tri = read_committed_or_none(spark, tri_path, "id long, tri long")
        # the delta path needs BOTH state dirs to reflect the store as it
        # stood before this merge (und/ and tri/ commit separately — a
        # crash between them, or between a merge and either commit, must
        # degrade to a cold recount, never to double/under-counted
        # triangles). Each commit is stamped with the store watermark it
        # was derived from; any mismatch ⇒ cold.
        und_meta = read_state_meta(spark, und_path)
        tri_meta = read_state_meta(spark, tri_path)
        incremental = (
            prev_und is not None
            and prev_tri is not None
            and mstats["replaced_srcs"] == 0
            and und_meta is not None
            and tri_meta is not None
            and und_meta.get("merged_through") == prev_merged
            and tri_meta.get("merged_through") == prev_merged
        )
        if incremental:
            # triangle_counts_delta reads D three times (and U = O ∪ D
            # three more): one image instead of one anti-join per read
            delta = cur_und.join(prev_und, ["a", "b"], "left_anti").localCheckpoint(
                eager=True
            )
            gained = triangle_counts_delta(spark, prev_und, delta).withColumnRenamed(
                "tri", "tri_new"
            )
            ids = vertex_ids_from_edges(edges)
            tri = (
                ids.join(prev_tri, "id", "left")
                .join(gained, "id", "left")
                .select(
                    "id",
                    (
                        F.coalesce("tri", F.lit(0)) + F.coalesce("tri_new", F.lit(0))
                    ).cast("long").alias("tri"),
                )
            )
        else:
            tri = triangle_counts(spark, edges)
        # tri is a lazy plan over the parquet it is about to replace
        # (prev und/tri) — break before the staged swaps
        tri = tri.localCheckpoint(eager=True)
        stamp = {"merged_through": mstats["merged_through"]}
        committed_overwrite(spark, tri, tri_path, meta=stamp)
        committed_overwrite(spark, cur_und, und_path, meta=stamp)
    finally:
        edges.unpersist()

    return {
        "urls": n_urls,
        "edges": n_edges,
        "incremental": incremental,
        "seconds": round(time.monotonic() - t0, 3),
        **extra,
    }
