"""Iterative graph operators over the near-dup pair graph.

``dedup.connected_components`` resolves WHICH docs form a cluster; PageRank
ranks nodes WITHIN the graph (e.g. pick the most-connected member as the
cluster's canonical doc, or surface hub documents whose content spread
across a corpus). Implemented as unrolled Lloyd-style iterations of the
standard distributed PR step — each iteration is one join (ranks ⋈ edges on
src) plus one aggregation (sum contributions per dst), both shuffles keyed
on the node id, so successive iterations reuse the same hash partitioning.

Integer-exact cross-engine: ranks live in 1e-6 units (BIGINT). Each
contribution is ``rank // degree`` (integer division), the damped update is
``150000 + FLOOR(0.85 * sum)`` — double multiplication of an integer <
2^53 is exactly rounded, so both engines floor the identical value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

BASE_E6 = 150000


def undirect(pairs: DataFrame, a: str = "doc_a", b: str = "doc_b") -> DataFrame:
    """(a,b) pair set -> both-direction edge list (src, dst)."""
    fwd = pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    rev = pairs.select(F.col(b).alias("src"), F.col(a).alias("dst"))
    return fwd.unionByName(rev)


def pagerank_e6(edges: DataFrame, iterations: int = 2) -> DataFrame:
    """PageRank over (src, dst) edges, ``iterations`` unrolled steps from a
    uniform 1.0 (= 1e6) start. Output: (doc_id, degree, pr_e6).

    The edge list with degrees is materialized once (it is read by every
    iteration), and so is the degree table (read by the rank init, the
    first iteration, and the final attach); ranks stay (node, BIGINT)
    rows — the only per-iteration state, linear in node count.

    The FIRST iteration never joins: the uniform init gives every source
    the same rank (1e6), and the init node set IS the source set the
    degree table was aggregated from, so joining it back onto the edges
    attaches a constant — contribution = 1000000 div deg is a pure
    projection of the persisted edge+degree table. Identical integer
    arithmetic to the generic step (pinned by
    tests/test_graph.py::test_pagerank_first_step_join_free).
    """
    from pyspark import StorageLevel

    deg = edges.groupBy("src").agg(
        F.count("*").alias("deg")).persist(StorageLevel.MEMORY_AND_DISK)
    ed = edges.join(deg, "src").persist(StorageLevel.MEMORY_AND_DISK)

    ranks = deg.select(F.col("src").alias("node"),
                       F.lit(1000000).cast("long").alias("pr_e6"))
    for it in range(iterations):
        if it == 0:
            # uniform init: rank is the constant 1e6 for every src
            contrib = ed.select("dst", F.expr("1000000 div deg").alias("c"))
        else:
            contrib = (
                ed.join(ranks, ed["src"] == ranks["node"])
                .select("dst", F.expr("pr_e6 div deg").alias("c"))
            )
        ranks = (
            contrib.groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").alias("s"))
            .select(
                "node",
                (F.lit(BASE_E6)
                 + F.floor(0.85 * F.col("s").cast("double")).cast("long"))
                .alias("pr_e6"),
            )
        )
    return (
        ranks.join(deg, ranks["node"] == deg["src"])
        .select(F.col("node").alias("doc_id"),
                F.col("deg").cast("bigint").alias("degree"), "pr_e6")
    )


def degree_oriented(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Orient a distinct (doc_a < doc_b) edge list from the lower-(degree,
    id) endpoint to the higher. Returns (oriented(src, dst, dst_deg), deg).

    This is the standard degree-ordered triangle orientation: every
    vertex's OUT-degree is bounded by O(sqrt(m)) (more precisely the graph
    arboricity), so wedge enumeration at a power-law hub — boilerplate
    pages in a web-corpus near-dup graph — costs C(outdeg, 2) = O(m)
    instead of the id-ordered form's C(deg, 2) = O(deg^2). dst_deg rides
    along so the wedge join can order its two endpoints by the SAME
    (degree, id) total order without re-joining degrees.

    The degree table is persisted: it is read at least three times (the
    two orientation joins here plus every caller's final attach or wedge
    rollup), and each recompute was a full union + two-level aggregate
    over the edge list.
    """
    from pyspark import StorageLevel

    deg = edges.groupBy(F.col("doc_a").alias("node")).agg(
        F.count("*").alias("d")).unionByName(
        edges.groupBy(F.col("doc_b").alias("node")).agg(
            F.count("*").alias("d"))).groupBy("node").agg(
        F.sum("d").alias("deg")).persist(StorageLevel.MEMORY_AND_DISK)
    da = deg.select(F.col("node").alias("doc_a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("doc_b"), F.col("deg").alias("deg_b"))
    e = edges.join(da, "doc_a").join(db, "doc_b")
    fwd = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("doc_a") < F.col("doc_b")))
    oriented = e.select(
        F.when(fwd, F.col("doc_a")).otherwise(F.col("doc_b")).alias("src"),
        F.when(fwd, F.col("doc_b")).otherwise(F.col("doc_a")).alias("dst"),
        F.when(fwd, F.col("deg_b")).otherwise(F.col("deg_a")).alias("dst_deg"),
    )
    return oriented, deg


def oriented_wedges(oriented: DataFrame) -> DataFrame:
    """Enumerated wedge candidates (v1, v2) of the degree-ordered
    orientation: out-neighbor pairs at each source, endpoints ordered by
    (degree, id) so the closing edge — if it exists — is oriented exactly
    (v1 -> v2). Volume is sum over vertices of C(outdeg, 2), bounded by
    O(m * arboricity); the hub-degree soak test pins this."""
    o1 = oriented.select("src", F.col("dst").alias("v1"),
                         F.col("dst_deg").alias("d1"))
    o2 = oriented.select("src", F.col("dst").alias("v2"),
                         F.col("dst_deg").alias("d2"))
    before = (F.col("d1") < F.col("d2")) | (
        (F.col("d1") == F.col("d2")) & (F.col("v1") < F.col("v2")))
    return o1.join(o2, "src").where(before).select("src", "v1", "v2")


def triangle_corners(oriented: DataFrame) -> DataFrame:
    """Closed triangles of the degree-ordered orientation as
    (src, v1, v2) corner triples — each triangle appears exactly once,
    anchored at its lowest-(degree, id) corner."""
    return oriented_wedges(oriented).join(
        oriented.select(F.col("src").alias("v1"), F.col("dst").alias("v2")),
        ["v1", "v2"])


def triangle_census(edges: DataFrame) -> DataFrame:
    """(n_wedges, n_triangles, closure_ratio) of an undirected graph given
    as a distinct (doc_a < doc_b) edge list.

    n_wedges is the standard open+closed path-of-length-2 count
    sum(C(deg, 2)) — a per-vertex AGGREGATE, never an enumeration;
    n_triangles comes from the degree-ordered wedge join (each triangle
    counted exactly once at its lowest-(degree, id) corner);
    closure_ratio = 3 * triangles / wedges, the global clustering
    coefficient. Per-node products stay in BIGINT (deg < 2^31 always —
    it's bounded by the doc count); the SUM accumulates in DECIMAL(38,0)
    because a hub-heavy graph can push the wedge total past int64.
    """
    from pyspark import StorageLevel

    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    oriented, deg = degree_oriented(edges)
    oriented = oriented.persist(StorageLevel.MEMORY_AND_DISK)
    tri = triangle_corners(oriented)
    n_w = deg.agg(
        F.sum(F.expr("deg * (deg - 1) div 2").cast("decimal(38,0)"))
        .cast("bigint").alias("n_wedges"))
    n_t = tri.agg(F.count("*").alias("n_triangles"))
    return (
        n_w.crossJoin(n_t)  # two broadcast 1x1 aggregates
        .select(
            F.coalesce("n_wedges", F.lit(0)).alias("n_wedges"),
            "n_triangles",
            F.when(F.coalesce("n_wedges", F.lit(0)) > 0,
                   3.0 * F.col("n_triangles")
                   / F.col("n_wedges").cast("double"))
            .otherwise(F.lit(0.0)).alias("closure_ratio"))
    )


def local_clustering_e6(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation + local clustering coefficient in
    exact 1e-6 integer units: ``lcc = 2 * tri(v) / (deg(v) * (deg(v)-1))``
    for deg >= 2, else 0. Output: (doc_id, degree, n_tri, lcc_e6).

    Scale shape: triangles enumerate degree-ordered (bounded fan-out);
    each closed triangle fans out to its THREE corners (a 1->3 explode,
    no join), then one groupBy(node) count joins back to the degree table
    — everything keyed on the node id.
    """
    from pyspark import StorageLevel

    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    oriented, deg = degree_oriented(edges)
    # triangle_corners reads `oriented` three times (both wedge sides and
    # the closing-edge probe) — materialize it once, as triangle_census
    # already does
    oriented = oriented.persist(StorageLevel.MEMORY_AND_DISK)
    corners = triangle_corners(oriented).select(
        F.explode(F.array("src", "v1", "v2")).alias("node"))
    tri = corners.groupBy("node").agg(F.count("*").alias("n_tri"))
    return (
        deg.join(tri, "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            F.col("deg").cast("bigint").alias("degree"),
            F.coalesce("n_tri", F.lit(0)).cast("bigint").alias("n_tri"),
            F.when(F.col("deg") >= 2,
                   F.expr("2 * coalesce(n_tri, 0) * 1000000 "
                          "div (deg * (deg - 1))"))
            .otherwise(F.lit(0)).cast("bigint").alias("lcc_e6"))
    )
