"""Physical-plan audits: the plans we designed for must stay the plans.

- Parquet scans receive pushed filters + pruned columns (Catalyst P2/P1).
- The per-superstep gather join must NOT re-shuffle the persisted edge
  table (its hash partitioning is reused; only vertex state moves).
- Hot relational paths stay inside WholeStageCodegen.
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_and_projection_pushdown(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_quantity") > 30)
        .select("l_orderkey", "l_quantity")
    )
    explained = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters: [" in explained and "l_quantity" in explained.split("PushedFilters")[1][:200]
    # column pruning: read schema contains only the two needed columns
    read_schema = explained.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_extendedprice" not in read_schema


def test_superstep_join_reuses_edge_partitioning(spark, wiki_edges_df):
    """The gather join must stream the persisted, pre-partitioned edge table
    without an Exchange on the edge side (SURVEY.md §4: the single most
    important physical decision in the loop)."""
    edges = wiki_edges_df.select("src_id", "dst_id").repartition(8, "src_id").persist()
    edges.count()
    state = spark.range(200).select(
        F.col("id"), F.lit(0.15).alias("rank"), F.lit(2).alias("out_deg")
    ).localCheckpoint(eager=True)
    contribs = state.select(
        F.col("id").alias("src_id"), (F.col("rank") / F.col("out_deg")).alias("contrib")
    )
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        msgs = edges.join(contribs, "src_id").groupBy("dst_id").agg(
            F.sum("contrib").alias("s")
        )
        plan = _plan(msgs)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        edges.unpersist()
    assert "InMemoryTableScan" in plan, plan
    lines = plan.splitlines()
    join_idx = next(i for i, l in enumerate(lines) if "Join" in l)
    scan_idx = next(i for i, l in enumerate(lines) if "InMemoryTableScan" in l)
    assert join_idx < scan_idx
    # edge (stream) side: the cached scan must feed the join directly —
    # any Exchange between them means the edge table is re-shuffled every
    # superstep (exactly the plan regression this test guards against)
    between = "\n".join(lines[join_idx + 1 : scan_idx])
    assert "Exchange" not in between, plan


def test_gather_layout_superstep_is_streaming_smj(spark, wiki_edges_df):
    """With the sorted edge cache (build.gather_layout) and id-sorted
    checkpointed state, the in-loop gather join must plan as a sort-merge
    join that streams BOTH sides: no Sort over the edge cache and no hash
    build of it per superstep (the cost model would otherwise pick a
    shuffled-hash join built on the O(E) edge side, because the
    checkpointed state scan has unknown stats — the plan regression the
    engine's in-loop preferSortMergeJoin=true guards against)."""
    from linkgraph.build import gather_layout

    edges = gather_layout(wiki_edges_df, 8)
    edges.count()
    state = (
        spark.range(200)
        .repartition(8, "id")
        .sortWithinPartitions("id")
        .select("id", F.lit(0.15).alias("rank"), F.lit(2).alias("out_deg"))
        .localCheckpoint(eager=True)
    )
    contribs = state.select(
        F.col("id").alias("src_id"), (F.col("rank") / F.col("out_deg")).alias("contrib")
    )
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    smj = spark.conf.get("spark.sql.join.preferSortMergeJoin")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")
    try:
        msgs = edges.join(contribs, "src_id").groupBy("dst_id").agg(
            F.sum("contrib").alias("s")
        )
        plan = _plan(msgs)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        spark.conf.set("spark.sql.join.preferSortMergeJoin", smj)
    edges.unpersist()
    # at fixture scale the known-small state side may auto-broadcast (BHJ,
    # edge side streamed) — equally fine; what must NEVER happen is a
    # shuffled-hash join that BUILDS on the edge side
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    lines = plan.splitlines()
    join_idx = next(i for i, l in enumerate(lines) if "Join" in l)
    scan_idx = next(i for i, l in enumerate(lines) if "InMemoryTableScan" in l)
    assert join_idx < scan_idx, plan
    # between the join and the cached edge scan there must be neither an
    # Exchange (re-shuffle) nor a Sort (re-sort) — the cache's own build
    # plan below InMemoryRelation legitimately contains both, once
    between = "\n".join(lines[join_idx + 1 : scan_idx])
    assert "Exchange" not in between, plan
    assert "Sort" not in between, plan


def test_wholestage_codegen_on_agg_path(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("q"))
    )
    df.collect()  # AQE finalizes the plan only at execution
    # "*(" prefixes mark operators inside a WholeStageCodegen stage
    assert "*(" in _plan(df)


def test_ivf_seed_selection_is_parallel(spark):
    """IVF seeding must plan as TakeOrderedAndProject (per-partition top-n),
    never a global single-partition window over the whole corpus — the
    scale-killer this guards against funnels every embedding through one
    task at 100 TB."""
    from linkgraph.simsearch import IVF_CENTROIDS

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    seeds = (
        emb.select("vec_id", "embedding", F.xxhash64(F.col("vec_id")).alias("__h"))
        .orderBy(F.asc("__h"), F.asc("vec_id"))
        .limit(IVF_CENTROIDS)
    )
    plan = _plan(seeds)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_broadcast_join_planned_for_small_dim(spark):
    c = spark.read.parquet(f"{SF}/customer.parquet")
    n = spark.read.parquet(f"{SF}/nation.parquet")
    df = c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]).select(
        "c_custkey", "n_name"
    )
    assert "BroadcastHashJoin" in _plan(df)


def test_bucketed_edge_image_cold_gather_no_exchange(spark, wiki_edges_df, tmp_path):
    """The durable bucketed edge image (build.write_edge_image) must make a
    COLD job's first gather join shuffle-free on the edge side: the
    bucketed+sorted scan already satisfies the join's distribution and
    ordering, so between the join and the file scan there is neither an
    Exchange nor a Sort — the cold-start analogue of the in-loop
    gather_layout guarantee (and the true FlashGraph-image behavior: the
    on-disk graph is pre-partitioned; only vertex state moves)."""
    import numpy as np

    from linkgraph.build import gather_layout, load_edge_image, write_edge_image

    table = "t_edge_image_plan"
    try:
        write_edge_image(wiki_edges_df, str(tmp_path / "img"), table, 8)
        e = load_edge_image(spark, table)
        assert e._lg_bucket_count == 8
        layout = gather_layout(e, 8)
        state = (
            spark.range(200)
            .repartition(8, "id")
            .sortWithinPartitions("id")
            .select("id", F.lit(0.15).alias("rank"), F.lit(2).alias("out_deg"))
            .localCheckpoint(eager=True)
        )
        contribs = state.select(
            F.col("id").alias("src_id"),
            (F.col("rank") / F.col("out_deg")).alias("contrib"),
        )
        aqe = spark.conf.get("spark.sql.adaptive.enabled")
        smj = spark.conf.get("spark.sql.join.preferSortMergeJoin")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")
        try:
            msgs = layout.join(contribs, "src_id").groupBy("dst_id").agg(
                F.sum("contrib").alias("s")
            )
            plan = _plan(msgs)
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", aqe)
            spark.conf.set("spark.sql.join.preferSortMergeJoin", smj)
        lines = plan.splitlines()
        join_idx = next(i for i, l in enumerate(lines) if "Join" in l)
        scan_idx = next(
            i for i, l in enumerate(lines) if "Scan parquet" in l or "FileScan" in l
        )
        assert join_idx < scan_idx, plan
        between = "\n".join(lines[join_idx + 1 : scan_idx])
        # no Exchange AND no Sort anywhere between the join and the file
        # scan: the on-disk bucketing replaces the cold-start shuffle
        assert "Exchange" not in between, plan
        assert "Sort" not in between, plan
        # the image is a layout change only — PageRank results are identical
        from linkgraph.algos import pagerank

        r_img = pagerank(spark, load_edge_image(spark, table), max_iters=3, eps=0.0)
        r_raw = pagerank(spark, wiki_edges_df, max_iters=3, eps=0.0, partitions=8)
        a = r_img.state.select("id", "rank").toPandas().sort_values("id")["rank"].to_numpy()
        b = r_raw.state.select("id", "rank").toPandas().sort_values("id")["rank"].to_numpy()
        assert np.allclose(a, b, rtol=0, atol=1e-12)
        layout.unpersist()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_symmetrized_gather_layout_single_shuffle(spark, wiki_edges_df):
    """The fused symmetrize+layout must plan exactly ONE Exchange: the
    union of both edge directions shuffles straight onto the gather key
    and the dedup runs partition-local (hash partitioning on src_id
    satisfies the (src_id, dst_id) dedup distribution). The naive
    gather_layout(symmetrize(...)) composition pays two."""
    from linkgraph.build import gather_layout, symmetrize, symmetrized_gather_layout

    fused = symmetrized_gather_layout(wiki_edges_df, 8)
    naive = gather_layout(symmetrize(wiki_edges_df), 8)
    try:
        fplan = fused._jdf.queryExecution().executedPlan().toString()
        # exactly one HASH exchange (the gather-key shuffle); the fixture's
        # own round-robin staging exchanges below the union don't count
        assert fplan.count("Exchange hashpartitioning") == 1, fplan
        a = sorted((r["src_id"], r["dst_id"]) for r in fused.collect())
        b = sorted((r["src_id"], r["dst_id"]) for r in naive.collect())
        assert a == b
    finally:
        fused.unpersist()
        naive.unpersist()


def test_lp_repart_superstep_single_exchange(spark):
    """LP's default (repart) winners computation must plan exactly ONE
    hash exchange downstream of the gathered labels: the explicit
    repartition on dst_id. HashPartitioning(dst_id) satisfies the
    clustered distribution of BOTH aggregations — groupBy(dst,label) and
    the groupBy(dst) argmax — so a second Exchange anywhere means Catalyst
    stopped recognizing that and the kernel silently regressed to a
    two-exchange shape. Pins the SHIPPED pipeline
    (labelprop.repart_winners), not a hand-rebuilt replica (r5 ADVICE):
    if the production kernel drops the repartition or renames the
    column, this fails."""
    from linkgraph.algos.labelprop import repart_winners

    nb = spark.range(1000).select(
        (F.col("id") % 97).alias("dst_id"), (F.col("id") % 13).alias("label")
    )
    winners = repart_winners(nb, 8)
    plan = _plan(winners)
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_delta_frontier_gather_keeps_edge_layout(spark, wiki_edges_df):
    """The V4 delta superstep's gather — persisted edge layout joined
    against the (filtered, shrinking) frontier — must stream the edge
    cache with no Exchange and no Sort between join and cached scan,
    exactly like the rank kernel's gather: the frontier filter must not
    cost the layout its reuse."""
    from linkgraph.build import gather_layout

    edges = gather_layout(wiki_edges_df, 8)
    edges.count()
    state = (
        spark.range(200)
        .repartition(8, "id")
        .sortWithinPartitions("id")
        .select(
            "id", F.lit(0.15).alias("rank"), F.lit(2).alias("out_deg"),
            (F.col("id") % 3 == 0).cast("double").alias("delta"),
        )
        .localCheckpoint(eager=True)
    )
    frontier = state.filter(
        (F.abs(F.col("delta")) > 0.0) & (F.col("out_deg") > 0)
    ).select(
        F.col("id").alias("src_id"), (F.col("delta") / F.col("out_deg")).alias("push")
    )
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    smj = spark.conf.get("spark.sql.join.preferSortMergeJoin")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")
    try:
        msgs = edges.join(frontier, "src_id").groupBy("dst_id").agg(
            F.sum("push").alias("sum_push")
        )
        plan = _plan(msgs)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        spark.conf.set("spark.sql.join.preferSortMergeJoin", smj)
    edges.unpersist()
    assert "ShuffledHashJoin" not in plan, plan
    lines = plan.splitlines()
    join_idx = next(i for i, l in enumerate(lines) if "Join" in l)
    scan_idx = next(i for i, l in enumerate(lines) if "InMemoryTableScan" in l)
    assert join_idx < scan_idx, plan
    between = "\n".join(lines[join_idx + 1 : scan_idx])
    assert "Exchange" not in between, plan
    assert "Sort" not in between, plan


def test_triangle_programs_read_one_materialized_edge_set(spark, wiki_edges_df):
    """Both triangle programs derive their keyed/oriented edge set once and
    read that one image from every join. Under the session's AQE no
    exchange is reused across branches, so a lazy derivation is re-planned
    per reference: 91 jobs and 94 cached-input scans for
    ``triangle_counts``, 67 jobs for ``cycle_triangle_counts``."""
    from linkgraph.algos.triangles import cycle_triangle_counts, triangle_counts

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    sc = spark.sparkContext
    wiki_edges_df.count()  # the session-cached fixture is not under audit

    def collected_in_group(group, program):
        sc.setJobGroup(group, group)
        try:
            df = program(spark, wiki_edges_df)
            df.collect()
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group)), df

    n_tri, tri = collected_in_group("audit_triangle_counts", triangle_counts)
    n_cyc, _ = collected_in_group("audit_cycle_triangle_counts", cycle_triangle_counts)
    assert n_tri <= 20, n_tri
    assert n_cyc <= 25, n_cyc
    plan = _plan(tri)
    assert plan.count("InMemoryTableScan") <= 6, plan
