"""Per-vertex triangle counting (SURVEY.md §2.1 A4).

Convention: undirected triangle count per vertex on the deduplicated
symmetrized simple graph (self-loops removed); count(v) = number of
unordered neighbor pairs {u, w} of v such that edge {u, w} exists.
Global count = Σ/3. Exact-match acceptance.

Spark mapping: **degree-ordered orientation** — order vertices by
(degree, id) and keep each undirected edge only in its low→high
orientation; wedges are then a self-join on the low endpoint and the
closure check a join against the oriented edge set. Degree ordering bounds
the wedge blowup on hubs (a hub's oriented out-list holds only
higher-degree endpoints), the classic trick that makes the wedge join
feasible at crawl scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from linkgraph.build import vertex_ids_from_edges


def _canonical_undirected(edges: DataFrame) -> DataFrame:
    """Each undirected edge once, as (a, b) with a < b; no self-loops."""
    return (
        edges.filter(F.col("src_id") != F.col("dst_id"))
        .select(
            F.least("src_id", "dst_id").alias("a"),
            F.greatest("src_id", "dst_id").alias("b"),
        )
        .distinct()
    )


def _oriented_edges(und: DataFrame) -> DataFrame:
    """Degree-ordered orientation of a canonical undirected edge set.

    Returns DataFrame(lo, hi, key_lo, key_hi) with lo strictly below hi in
    the (deg, id) total order. The order key is a STRUCT — Spark orders
    structs lexicographically, so comparisons are exact for the full
    64-bit id range (a packed deg*2^31+id long collides and can overflow
    on web-scale ids, silently corrupting the orientation)."""
    deg = (
        und.select(F.col("a").alias("id"))
        .unionByName(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    key = deg.select("id", F.struct(F.col("deg").alias("d"), F.col("id").alias("i")).alias("key"))

    ka = key.select(F.col("id").alias("a"), F.col("key").alias("key_a"))
    kb = key.select(F.col("id").alias("b"), F.col("key").alias("key_b"))
    return (
        und.join(ka, "a")
        .join(kb, "b")
        .select(
            F.when(F.col("key_a") < F.col("key_b"), F.col("a")).otherwise(F.col("b")).alias("lo"),
            F.when(F.col("key_a") < F.col("key_b"), F.col("b")).otherwise(F.col("a")).alias("hi"),
            F.least("key_a", "key_b").alias("key_lo"),
            F.greatest("key_a", "key_b").alias("key_hi"),
        )
    )


def triangle_counts(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
) -> DataFrame:
    """Per-vertex triangle counts; returns DataFrame(id, tri).

    Wedge kernel over the degree-ordered orientation: a self-join on the
    low endpoint generates candidate wedges as rows, closed by a join
    against the oriented edge set — O(Σ outdeg²) rows through the
    exchange. A packed-adjacency variant scaled worse across JVMs;
    verdict in BENCH/BASELINE.md, "Triangle kernel A/B".

    The oriented edge set is materialized ONCE (eager localCheckpoint),
    and both joins — the wedge self-join and the closure join — read that
    one O(E) image. Left lazy, every branch re-planned und → deg → key →
    orientation: under AQE no exchange is reused across branches, and a
    collect of the counts ran 91 Spark jobs and 94 input scans."""
    oriented = _oriented_edges(_canonical_undirected(edges)).localCheckpoint(eager=True)
    ids = vertices.select("id") if vertices is not None else vertex_ids_from_edges(edges)

    e1 = oriented.select(F.col("lo").alias("u"), F.col("hi").alias("v"), F.col("key_hi").alias("kv"))
    e2 = oriented.select(F.col("lo").alias("u"), F.col("hi").alias("w"), F.col("key_hi").alias("kw"))
    wedges = e1.join(e2, "u").filter(F.col("kv") < F.col("kw")).select("u", "v", "w")

    closer = oriented.select(F.col("lo").alias("v"), F.col("hi").alias("w"))
    triangles = wedges.join(closer, ["v", "w"], "inner")  # (u, v, w) closed

    tri_vertices = (
        triangles.select(F.col("u").alias("id"))
        .unionByName(triangles.select(F.col("v").alias("id")))
        .unionByName(triangles.select(F.col("w").alias("id")))
    )
    counts = tri_vertices.groupBy("id").agg(F.count(F.lit(1)).alias("tri"))

    return ids.join(counts, "id", "left").select(
        "id", F.coalesce("tri", F.lit(0)).cast("long").alias("tri")
    )


def cycle_triangle_counts(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
) -> DataFrame:
    """Per-vertex DIRECTED cycle-triangle counts (the upstream
    ``cycle_triangle_graph.cpp`` variant): count(v) = number of directed
    3-cycles u→x→y→u through v. Returns DataFrame(id, ctri).

    Each cycle is generated exactly once, at its (deg, id)-minimal member
    m (struct total order, 64-bit-safe like the undirected kernel): wedge
    = m's OUT-edge m→x paired with m's IN-edge y→m, both endpoints
    strictly above m in the order, closed by the directed edge x→y. The
    degree-min anchoring is the same hub-safety argument as the
    undirected orientation — a hub generates wedges only toward its few
    higher-degree neighbors, never out-deg × in-deg."""
    e = (
        edges.select("src_id", "dst_id")
        .filter(F.col("src_id") != F.col("dst_id"))
        .distinct()
    )
    # total undirected degree orders the anchoring (hub-safety); ties by id
    deg = (
        e.select(F.col("src_id").alias("id"))
        .unionByName(e.select(F.col("dst_id").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    key = deg.select("id", F.struct(F.col("deg").alias("d"), F.col("id").alias("i")).alias("key"))
    ks = key.select(F.col("id").alias("src_id"), F.col("key").alias("key_s"))
    kd = key.select(F.col("id").alias("dst_id"), F.col("key").alias("key_d"))
    # materialized once, like triangle_counts' oriented set: the wedge
    # join's two sides and the closure join all read this one image
    keyed = (
        e.join(ks, "src_id")
        .join(kd, "dst_id")
        .select("src_id", "dst_id", "key_s", "key_d")
        .localCheckpoint(eager=True)
    )
    out_m = keyed.filter(F.col("key_s") < F.col("key_d")).select(
        F.col("src_id").alias("m"), F.col("dst_id").alias("x"), F.col("key_d").alias("key_x")
    )
    in_m = keyed.filter(F.col("key_d") < F.col("key_s")).select(
        F.col("dst_id").alias("m"), F.col("src_id").alias("y"), F.col("key_s").alias("key_y")
    )
    wedges = (
        out_m.join(in_m, "m")
        .filter(F.col("x") != F.col("y"))
        .select("m", "x", "y")
    )
    closer = keyed.select(F.col("src_id").alias("x"), F.col("dst_id").alias("y"))
    cycles = wedges.join(closer, ["x", "y"], "inner")  # m -> x -> y -> m
    members = (
        cycles.select(F.col("m").alias("id"))
        .unionByName(cycles.select(F.col("x").alias("id")))
        .unionByName(cycles.select(F.col("y").alias("id")))
    )
    counts = members.groupBy("id").agg(F.count(F.lit(1)).alias("ctri"))
    ids = vertices.select("id") if vertices is not None else vertex_ids_from_edges(edges)
    return ids.join(counts, "id", "left").select(
        "id", F.coalesce("ctri", F.lit(0)).cast("long").alias("ctri")
    )


def triangle_counts_delta(
    spark: SparkSession,
    old_und: DataFrame,
    delta_und: DataFrame,
) -> DataFrame:
    """Per-vertex count of triangles CREATED by adding ``delta_und`` to
    ``old_und`` (both canonical undirected edge sets: (a, b) with a < b,
    distinct, no self-loops; disjoint — grow-only). Returns
    DataFrame(id, tri) holding only vertices that gained triangles.

    Every new triangle contains ≥1 delta edge; with triangle vertices
    labeled x < y < z it is enumerated EXACTLY ONCE, at the first edge
    position — (x,y), then (x,z), then (y,z) — occupied by a delta edge
    (positions are disjoint because old ∩ delta = ∅):

      case 1: (x,y) ∈ D;                 z from U(x,·), closed by U(y,z)
      case 2: (x,y) ∈ O, (x,z) ∈ D;      y from O(x,·), closed by U(y,z)
      case 3: (x,y) ∈ O, (x,z) ∈ O, (y,z) ∈ D

    with O = old, D = delta, U = O ∪ D. Each case's wedge join is DRIVEN
    BY D, so the per-poll cost is O(Σ_{(a,b)∈D} deg(a)+deg(b)) — the
    steady-state crawl's delta work — never a full-graph wedge join.
    UNSOUND after removals (a vanished triangle is never subtracted);
    callers gate exactly like warm-start WCC (see
    incremental.link_store_triangles_poll)."""
    O = old_und
    D = delta_und
    U = O.unionByName(D)

    # case 1: the (min,mid) edge is new
    w1 = (
        D.select(F.col("a").alias("x"), F.col("b").alias("y"))
        .join(U.select(F.col("a").alias("x"), F.col("b").alias("z")), "x")
        .filter(F.col("z") > F.col("y"))
    )
    t1 = w1.join(
        U.select(F.col("a").alias("y"), F.col("b").alias("z")), ["y", "z"], "left_semi"
    )

    # case 2: (min,mid) is old, the (min,max) edge is new
    w2 = (
        D.select(F.col("a").alias("x"), F.col("b").alias("z"))
        .join(O.select(F.col("a").alias("x"), F.col("b").alias("y")), "x")
        .filter(F.col("y") < F.col("z"))
    )
    t2 = w2.join(
        U.select(F.col("a").alias("y"), F.col("b").alias("z")), ["y", "z"], "left_semi"
    )

    # case 3: only the (mid,max) edge is new
    w3 = (
        D.select(F.col("a").alias("y"), F.col("b").alias("z"))
        .join(O.select(F.col("b").alias("y"), F.col("a").alias("x")), "y")
    )
    t3 = w3.join(
        O.select(F.col("a").alias("x"), F.col("b").alias("z")), ["x", "z"], "left_semi"
    )

    cols = ("x", "y", "z")
    tris = (
        t1.select(*cols).unionByName(t2.select(*cols)).unionByName(t3.select(*cols))
    )
    tri_vertices = (
        tris.select(F.col("x").alias("id"))
        .unionByName(tris.select(F.col("y").alias("id")))
        .unionByName(tris.select(F.col("z").alias("id")))
    )
    return tri_vertices.groupBy("id").agg(F.count(F.lit(1)).cast("long").alias("tri"))
