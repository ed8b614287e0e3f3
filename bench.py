"""Headline benchmark (driver contract): one JSON line on stdout.

Runs the engine's headline workloads at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``:

- pages pipeline: synth pages -> extraction UDFs -> edge table (build throughput)
- PageRank supersteps on a deterministic 5M-edge power-law graph, both
  hot-path kernels (SQL join+agg, semi-external applyInPandas) — the
  north metric
- WCC to fixpoint, LP supersteps, triangle counting
- relational headliners at sf0.1 (TPC-H-ish Q1, window top-k, JSON/datetime)

Output: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BENCH_V = int(os.environ.get("SPARK_GRAFT_BENCH_VERTICES", "500000"))
BENCH_E = int(os.environ.get("SPARK_GRAFT_BENCH_EDGES", "5000000"))
BENCH_PAGES = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "5000"))


def main() -> None:
    from pyspark.sql import functions as F

    from linkgraph.algos import label_propagation, pagerank, triangle_counts, wcc
    from linkgraph.benchgen import gen_bench_edges
    from linkgraph.build import build_graph
    from linkgraph.session import get_spark
    from linkgraph.synth import gen_pages

    spark = get_spark(
        app_name="linkgraph-bench",
        shuffle_partitions=2 * CPUS,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    queries: dict[str, float] = {}
    extras: dict[str, object] = {}

    def timed(name: str, fn):
        t0 = time.monotonic()
        out = fn()
        queries[name] = round(time.monotonic() - t0, 3)
        return out

    def timed_min(name: str, fn, runs: int = 2):
        # min-of-k with raw runs recorded (the pages_build_edges pattern):
        # single cross-session samples of the fixpoint rows have twice been
        # adjudicated as host-CPU-steal phantoms (r4: wcc_star 110.5s vs an
        # in-session 24.1s) — min-of-2 makes the driver-facing number
        # noise-proof while keeping both raw samples auditable.
        raw: list[float] = []
        out = None
        for _ in range(runs):
            t0 = time.monotonic()
            out = fn()
            raw.append(round(time.monotonic() - t0, 3))
        queries[name] = min(raw)
        extras[f"{name}_runs"] = raw
        return out

    # ---- pages pipeline (extraction UDFs + build)
    pages = gen_pages(spark, BENCH_PAGES).persist()
    pages.count()

    def build():
        # partition count sized to the data (one task per ~few MB), not the
        # core count — at crawl scale this would be thousands
        g = build_graph(pages, partitions=16)
        return g.edges.count()

    # min-of-k like the kernel steady-state estimator: the build stage is
    # Python-UDF-heavy (extraction) and the single most host-CPU-steal-
    # sensitive stage in the bench — one bad host phase made it report 3x
    # slow in a prior round. Both raw runs are recorded for auditability.
    build_runs: list[float] = []
    n_built = 0
    for _ in range(2):
        t0 = time.monotonic()
        n_built = build()
        build_runs.append(round(time.monotonic() - t0, 3))
    queries["pages_build_edges"] = min(build_runs)
    extras["pages"] = BENCH_PAGES
    extras["built_edges"] = n_built
    extras["pages_build_runs"] = build_runs
    extras["pages_per_sec"] = round(BENCH_PAGES / queries["pages_build_edges"], 1)

    # ---- iterative graph programs on the deterministic bench graph
    edges = gen_bench_edges(spark, BENCH_V, BENCH_E).persist()
    n_edges = edges.count()
    extras["bench_graph"] = {"vertices": BENCH_V, "edges": n_edges}

    def steady(res):
        # min of post-warmup supersteps: noise-floor under the sandbox VM's
        # bursty CPU-steal stalls (identical work per superstep — same
        # rationale as timeit's min-of-repeats). Median reported alongside
        # as the what-a-user-sees estimate.
        per = sorted(m["seconds"] for m in res.metrics[2:]) or sorted(
            m["seconds"] for m in res.metrics
        )
        return per[0], per[len(per) // 2]

    def pr_extras(mn: float, md: float) -> dict:
        return {
            "steady_sec_per_iter": round(mn, 3),
            "median_sec_per_iter": round(md, 3),
            "edges_per_sec": round(n_edges / mn, 1),
            "iters_per_hour": round(3600.0 / mn, 1),
        }

    def pr_min_of_k(name: str, kernel_kwargs: dict, runs: int = 2):
        # The north metric rides these rows, so they get the same min-of-k
        # treatment as the fixpoint rows: the per-run steady estimator
        # (min of post-warmup supersteps) is already a min-of-18, but a
        # session-wide slow phase still shifts EVERY superstep of a single
        # run (observed: 0.832 vs 1.036 steady across two sessions on
        # identical code). Both runs' steady/median pairs stay auditable.
        per_run: list[dict] = []
        for _ in range(runs):
            t0 = time.monotonic()
            res = pagerank(spark, edges, max_iters=5, eps=0.0, **kernel_kwargs)
            wall = round(time.monotonic() - t0, 3)
            mn, md = steady(res)
            per_run.append({"wall_sec": wall, "steady": round(mn, 3), "median": round(md, 3)})
        best = min(per_run, key=lambda r: r["steady"])
        queries[name] = min(r["wall_sec"] for r in per_run)
        extras[f"{name}_runs"] = per_run
        return best["steady"], best["median"]

    pr_steady, pr_median = pr_min_of_k("pagerank_sql_5iter", {})
    extras["pagerank_sql"] = pr_extras(pr_steady, pr_median)

    # the semi-external kernel; sem ≡ sql is pinned by the pytest
    # equivalence gate and the graph_pagerank_5iter_sem driver query
    sem_steady, sem_median = pr_min_of_k("pagerank_sem_5iter", {"kernel": "sem"})
    extras["pagerank_sem"] = pr_extras(sem_steady, sem_median)

    res = timed_min("wcc_fixpoint", lambda: wcc(spark, edges))
    extras["wcc_iterations"] = res.iterations

    from linkgraph.algos import wcc_star

    res = timed_min("wcc_star_fixpoint", lambda: wcc_star(spark, edges))
    extras["wcc_star_rounds"] = res.iterations

    timed_min("lp_3iter", lambda: label_propagation(spark, edges, iters=3))

    # V4 delta/frontier kernel run TO CONVERGENCE (empty frontier @ θ=1e-4)
    # — the production convergence path (BENCH/BASELINE.md "Delta/frontier
    # PageRank (V4)"). Wall is min-of-2; the work-reduction stats are
    # DETERMINISTIC (supersteps to convergence + per-superstep active
    # counts from ObservedStop), so they are noise-free across rounds:
    # power iteration to the same band pays iters x |V| vertex-rounds and
    # iters x |E| edge gathers, the delta arm pays only the active residue.
    from linkgraph.algos import pagerank_delta

    res = timed_min(
        "pagerank_delta_conv",
        lambda: pagerank_delta(spark, edges, threshold=1e-4, max_iters=300),
    )
    active = [int(m.get("active") or 0) for m in res.metrics]
    extras["pagerank_delta"] = {
        "theta": 1e-4,
        "supersteps_to_convergence": res.iterations,
        "active_vertex_rounds": sum(active),
        "power_equiv_vertex_rounds": res.iterations * BENCH_V,
        "frontier_tail": active[-6:],
        "sec_per_superstep_minrun": round(
            queries["pagerank_delta_conv"] / max(res.iterations, 1), 3
        ),
    }

    tri_edges = gen_bench_edges(spark, 200_000, 1_000_000).persist()
    tri_edges.count()
    # the sum needs every per-vertex count; a bare .count() of the result
    # is answered from the vertex ids alone, without computing tri
    timed_min(
        "triangle_counts",
        lambda: triangle_counts(spark, tri_edges).agg(F.sum("tri")).collect(),
    )

    # ---- relational headliners at the sf dir
    from linkgraph.driver_queries import (
        q_events_json_datetime,
        q_lineitem_pricing_summary,
        q_window_topk_per_group,
    )

    timed("sf_pricing_summary", lambda: q_lineitem_pricing_summary(spark, SF_DIR).count())
    timed("sf_window_topk", lambda: q_window_topk_per_group(spark, SF_DIR).count())
    timed("sf_events_json", lambda: q_events_json_datetime(spark, SF_DIR).count())

    # ---- corpus / similarity-search headliners at the sf dir
    from linkgraph.simsearch import q_knn_ivf
    from linkgraph.textops import q_doc_minhash_lsh_candidates, q_doc_simhash

    timed("sf_doc_simhash", lambda: q_doc_simhash(spark, SF_DIR).count())
    timed("sf_doc_minhash_lsh", lambda: q_doc_minhash_lsh_candidates(spark, SF_DIR).count())
    timed("sf_knn_ivf", lambda: q_knn_ivf(spark, SF_DIR).count())

    # ---- host-graph roll-up + weighted host PageRank (hostgraph.py)
    from linkgraph.driver_queries import q_host_pagerank

    timed("sf_host_pagerank", lambda: q_host_pagerank(spark, SF_DIR).count())

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "pagerank_sql_steady_sec_per_superstep",
                "value": round(pr_steady, 3),
                "unit": "sec",
                "queries": queries,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "cpus": CPUS,
                **extras,
            }
        )
    )


if __name__ == "__main__":
    main()
