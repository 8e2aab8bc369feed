"""DBSCAN-lite density clustering over a similarity-pair graph.

Engine addition beyond the reference: density clustering is the other
standard grouping a dedup/curation pipeline runs next to k-means
(similarity.py) and flat near-dup canonicalization (canonical.py) —
DBSCAN (Ester et al., KDD 1996) distinguishes CORE points (dense
neighborhoods), BORDER points (reachable from a core), and NOISE,
which is exactly the triage a curation pass wants: keep one core per
cluster, inspect borders, pass noise through.

This is the candidate-graph variant: neighborhoods come from whatever
similarity pair generator feeds it (MinHash-LSH verified pairs here —
dedup.minhash_near_duplicates — so the ε-ball is "verified Jaccard ≥
τ", candidate-bounded exactly like the LSH pipeline itself).  All
DBSCAN arbitrariness (border claimed by several clusters) is resolved
deterministically to the MINIMUM cluster id.

Scale: degree count is one aggregate over the (pair-sized) symmetric
edge list; clustering runs only on CORE-CORE edges via
canonical.connected_components (one single-task union-find pass while
the core set is broadcast-sized); border assignment is one join from
the symmetric edges to the core-cluster table.  Nothing touches the
corpus again.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .canonical import connected_components


def _lp(col: str):
    """lpad node ids so lexicographic CC min == numeric min — 19 digits
    covers every non-negative int64 (Spark lpad TRUNCATES longer
    strings, so a narrower pad would silently collapse distinct ids)."""
    return F.lpad(F.col(col).cast("string"), 19, "0")


def dbscan_lite(
    nodes: DataFrame,
    pairs: DataFrame,
    min_pts: int = 3,
    stage_dir: str | None = None,
) -> DataFrame:
    """(node, role, cluster_id) — DBSCAN over an undirected similarity
    pair graph.

    ``nodes``: (node bigint) — every point, including isolated ones;
    ``pairs``: (a, b) with a < b — the ε-neighborhood edges.
    core: |neighbors| + 1 ≥ min_pts (the point itself counts, as in
    the classic definition); clusters: connected components of the
    core-core subgraph (singleton cores keep their own id); border:
    non-core adjacent to ≥ 1 core, assigned the minimum adjacent core
    cluster; noise: everything else, cluster_id = −1.
    """
    # dedupe defensively (the convention every graph operator here
    # follows): duplicate (a, b) rows would inflate n_nb and promote
    # 1-neighbor points to core
    p = pairs.select(F.col("a").cast("long").alias("a"),
                     F.col("b").cast("long").alias("b")).distinct()
    sym = p.select(F.col("a").alias("node"), F.col("b").alias("nb")).union(
        p.select(F.col("b").alias("node"), F.col("a").alias("nb"))
    )
    deg = sym.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("n_nb"))
    core = deg.filter(F.col("n_nb") + 1 >= min_pts).select("node")

    core_edges = p.join(
        core.select(F.col("node").alias("a")), "a", "left_semi"
    ).join(core.select(F.col("node").alias("b")), "b", "left_semi")
    cc = connected_components(
        core_edges.select(_lp("a").alias("a"), _lp("b").alias("b")),
        stage_dir=stage_dir,
    )
    core_clusters = (
        core.select(_lp("node").alias("entity"))
        .join(cc, "entity", "left")
        .select(
            F.col("entity").cast("long").alias("node"),
            F.coalesce("component", F.col("entity"))
            .cast("long")
            .alias("cluster_id"),
        )
    )

    border = (
        sym.join(
            core_clusters.select(
                F.col("node").alias("nb"), F.col("cluster_id").alias("nb_cluster")
            ),
            "nb",
        )
        .join(core.select(F.col("node")), "node", "left_anti")
        .groupBy("node")
        .agg(F.min("nb_cluster").alias("cluster_id"))
    )

    core_rows = core_clusters.select(
        "node", F.lit("core").alias("role"), "cluster_id"
    )
    border_rows = border.select(
        "node", F.lit("border").alias("role"), "cluster_id"
    )
    classified = core_rows.unionByName(border_rows)
    noise_rows = (
        nodes.select(F.col("node").cast("long").alias("node"))
        .join(classified.select("node"), "node", "left_anti")
        .select(
            "node", F.lit("noise").alias("role"),
            F.lit(-1).cast("long").alias("cluster_id"),
        )
    )
    return classified.unionByName(noise_rows)
