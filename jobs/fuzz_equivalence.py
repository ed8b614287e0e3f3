"""Randomized differential sweep over the HARDENED kernel paths.

The pytest suite pins every kernel against the numpy oracle on three
seeded random digraphs (tests/test_properties.py) — but those graphs are
small and uniform, so the paths this engine exists for barely fire: no
vertex crosses the salted/vertex-cut hub thresholds, the sem kernel's
block routing sees one trivial partition shape, and the delta kernel's
frontier never thins mid-run. This job widens the net: HUB-SKEWED random
graphs (a few mega-in/out-degree vertices per seed, guaranteed above the
hub threshold under test) across an arbitrary seed sweep, with every
variant checked against the pure-numpy oracle on the same edge array:

  - pagerank sql               (fixed iterations, atol 1e-12)
  - pagerank sql salted=True   (hybrid salted SUM with live hot keys)
  - pagerank sem               (vertex-cut routing + compiled blocks)
  - pagerank_delta theta=0     (push-the-change == power iteration)
  - wcc plain / salted=True    (hybrid salted MIN, src_id salt)
  - wcc_star                   (contraction fixpoint)
  - label_propagation          (5 rounds, exact)
  - triangle_counts            (exact)

Opt-in (not part of the default suite — minutes, not seconds):

    python jobs/fuzz_equivalence.py --seeds 8 --n 2000 --m 20000

Prints one JSON line per (seed, check); exits nonzero on any mismatch.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def hub_skewed_edges(rng: np.random.Generator, n: int, m: int) -> np.ndarray:
    """Random simple digraph with planted hubs: ~70% uniform edges, ~15%
    into 3 hub dsts, ~15% out of 3 hub srcs — guarantees vertices above
    any reasonable hub threshold so the salted / vertex-cut paths engage."""
    hubs = rng.choice(n, size=3, replace=False)
    n_uni = int(m * 0.7)
    n_in = int(m * 0.15)
    n_out = m - n_uni - n_in
    uni = rng.integers(0, n, size=(n_uni, 2))
    into = np.stack(
        [rng.integers(0, n, size=n_in), rng.choice(hubs, size=n_in)], axis=1
    )
    outof = np.stack(
        [rng.choice(hubs, size=n_out), rng.integers(0, n, size=n_out)], axis=1
    )
    raw = np.vstack([uni, into, outof])
    return np.unique(raw[raw[:, 0] != raw[:, 1]], axis=0)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=8)
    ap.add_argument(
        "--seed0", type=int, default=1,
        help="first seed (sweep covers seed0..seed0+seeds-1; lets a later "
        "run extend an already-recorded sweep with fresh seeds only)",
    )
    ap.add_argument("--n", type=int, default=2000)
    ap.add_argument("--m", type=int, default=20000)
    ap.add_argument("--hub-threshold", type=int, default=64)
    ap.add_argument("--iters", type=int, default=10)
    args = ap.parse_args()

    from linkgraph import oracle
    from linkgraph.algos import (
        label_propagation,
        pagerank,
        pagerank_delta,
        triangle_counts,
        wcc,
        wcc_star,
    )
    from linkgraph.session import get_spark
    from linkgraph.synth import edges_df

    spark = get_spark(app_name="fuzz-equivalence", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    failures = 0

    def check(seed: int, name: str, ok: bool, detail: str = "") -> None:
        nonlocal failures
        if not ok:
            failures += 1
        print(json.dumps({"seed": seed, "check": name, "ok": bool(ok), "detail": detail}))

    for seed in range(args.seed0, args.seed0 + args.seeds):
        rng = np.random.default_rng(seed)
        arr = hub_skewed_edges(rng, args.n, args.m)
        e = edges_df(spark, arr, partitions=8)
        verts = spark.range(args.n).selectExpr("id")

        def ranks(res):
            pdf = res.state.select("id", "rank").toPandas().sort_values("id")
            return pdf["rank"].to_numpy()

        want_pr, _ = oracle.pagerank(arr, args.n, max_iters=args.iters, eps=0.0)

        got = ranks(pagerank(spark, e, vertices=verts, max_iters=args.iters, eps=0.0))
        check(seed, "pagerank_sql", np.allclose(got, want_pr, atol=1e-12))

        got = ranks(
            pagerank(
                spark, e, vertices=verts, max_iters=args.iters, eps=0.0,
                salted=True, hub_threshold=args.hub_threshold,
            )
        )
        check(seed, "pagerank_sql_salted", np.allclose(got, want_pr, atol=1e-12))

        got = ranks(
            pagerank(
                spark, e, vertices=verts, max_iters=args.iters, eps=0.0,
                kernel="sem", hub_threshold=args.hub_threshold,
            )
        )
        check(seed, "pagerank_sem", np.allclose(got, want_pr, atol=1e-12))

        got = ranks(
            pagerank_delta(
                spark, e, vertices=verts, max_iters=args.iters, threshold=0.0
            )
        )
        check(seed, "pagerank_delta_theta0", np.allclose(got, want_pr, atol=1e-12))

        want_cc = oracle.wcc(arr, args.n)

        def comps(res):
            pdf = res.state.select("id", "comp").toPandas().sort_values("id")
            return pdf["comp"].to_numpy()

        check(seed, "wcc", (comps(wcc(spark, e, vertices=verts)) == want_cc).all())
        check(
            seed,
            "wcc_salted",
            (
                comps(
                    wcc(
                        spark, e, vertices=verts,
                        salted=True, hub_threshold=args.hub_threshold,
                    )
                )
                == want_cc
            ).all(),
        )
        check(
            seed,
            "wcc_star",
            (comps(wcc_star(spark, e, vertices=verts)) == want_cc).all(),
        )

        got = (
            label_propagation(spark, e, vertices=verts, iters=5)
            .state.select("id", "label")
            .toPandas()
            .sort_values("id")["label"]
            .to_numpy()
        )
        check(seed, "labelprop_5", (got == oracle.label_propagation(arr, args.n, iters=5)).all())

        got = (
            triangle_counts(spark, e, vertices=verts)
            .toPandas()
            .sort_values("id")["tri"]
            .to_numpy()
        )
        check(seed, "triangles", (got == oracle.triangle_counts(arr, args.n)).all())

    print(
        json.dumps(
            {
                "seeds": args.seeds,
                "n": args.n,
                "m": args.m,
                "hub_threshold": args.hub_threshold,
                "failures": failures,
            }
        )
    )
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
