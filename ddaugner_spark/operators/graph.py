"""Graph analytics over the entity co-mention graph: degree-oriented
triangle counting and power-iteration PageRank.

The reference stops at consolidating co-occurring surfaces
(``majority_voting``, /root/reference/ddaugner/utils.py:81-108); a KG
built at crawl scale additionally needs structural signals over the
canonicalized graph — how central an entity is (PageRank feeds
entity-link priors and hub-skew detection for the salted aggregates)
and how clustered its neighborhood is (triangle counts drive community
density / disambiguation features).  Both operators consume the same
``(a, b)`` edge DataFrame as ``canonical.connected_components`` (a < b
canonical orientation, `canonical.co_mention_edges`).

Scale design:

* **Triangles** use the standard degree orientation: each undirected
  edge is directed from its lower-``(deg, node)`` endpoint to the
  higher one, so every vertex's out-degree is O(√m) regardless of how
  skewed the raw degree distribution is (a hub entity mentioned in
  every document gets almost all its edges pointed AT it, not out of
  it).  The wedge self-join therefore fans out per-vertex by out-deg²
  ≤ m — the m^{3/2} MPC bound — instead of deg², which for a
  Wikipedia-grade hub would be quadratic in the corpus.  Each triangle
  is generated exactly once (at its minimum-order vertex) and closure
  is checked with an equi-join against the canonical edge set, so the
  whole operator is three shuffles (degrees, wedges, closure) with no
  driver-side state.  One enumeration, ``_triangles``, feeds
  ``triangle_counts`` and ``edge_support`` (and so k-truss).
* **PageRank** is the CC loop's shape re-used for ranks: one
  join+groupBy stage per iteration, lineage truncated by a parquet
  round-trip of the O(|V|) rank table, rank table broadcast into the
  contribution join while it fits executor memory (the edge table is
  then scanned map-side, never exchanged — same rationale and
  threshold as canonical.BROADCAST_AUTO_THRESHOLD).  On the
  symmetrized co-mention graph every node has out-degree ≥ 1, so there
  is no dangling mass to redistribute and Σ rank = 1 is preserved
  exactly (pinned in tests).
* **Broadcast-vs-shuffle**: the O(|V|) table of PageRank, k-core,
  label propagation, Louvain, (multi-source) BFS and MSF broadcasts
  while it holds ≤ ``canonical.BROADCAST_AUTO_THRESHOLD`` rows and
  both join sides shuffle on the node id above it.  Every site reads
  that one constant at call time, so it is the one patch point for
  CC and the graph operators alike.  HITS, SALSA, Katz and
  ``dag_layers`` run on host- or hierarchy-sized graphs and ALWAYS
  broadcast their score table.
* **Single-task kernel**: MSF's broadcast-sized contraction streams
  its parent pointers through ``canonical.union_find``, the kernel
  ``connected_components`` runs — the only ``mapInPandas`` here.
* **One fixpoint loop**: k-core, PageRank, label propagation, weighted
  shortest paths, k-truss and Louvain (a fixed round count: its
  measure never converges) keep only their step and convergence
  measure; ``materialize.fixpoint`` owns the A/B parquet cut, the
  round stats, the stop and the temp-dir clean-up.  Luby MIS and
  Jones-Plassmann colouring share one local-minimum round loop,
  ``_local_min_rounds``.  The other loops over more than one table
  (the BFS frontier, MSF's Borůvka rounds, densest subgraph, sampled
  betweenness) stay hand-rolled.
* **Release**: nothing here persists (PageRank and MSF did; cold
  A/Bs showed no win, docs/PLANS.md "One scoped persist").  An
  operator that owns its temp dir removes, on return, every dir its
  result does not read.
"""

from __future__ import annotations

import time
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ddaugner_spark.operators import canonical
from ddaugner_spark.plans.materialize import cut, fixpoint, keep_only, scratch_dir


def symmetrize(edges: DataFrame) -> DataFrame:
    """Both directions of each undirected (a, b) edge."""
    return edges.select("a", "b").union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )


def degrees(edges: DataFrame) -> DataFrame:
    """(node, deg) over the undirected graph — one hash aggregate on the
    symmetrized edges (map-side partials shrink each task to its
    distinct nodes before the exchange)."""
    return symmetrize(edges).groupBy(F.col("a").alias("node")).agg(
        F.count("*").alias("deg")
    )


def _triangles(e: DataFrame, deg: DataFrame) -> DataFrame:
    """(src, v, w): every triangle of the distinct a < b edge table
    ``e`` (``deg`` = ``degrees(e)``), once, at its minimum-(deg, node)
    vertex ``src``, with v < w.  Orientation: lower (deg, node) →
    higher, which caps out-degree at O(√m); wedges are the self-join
    of the oriented edges on their source, and a wedge (v, w) closes
    into a triangle iff (v, w) is an edge — a semi-join against ``e``
    itself."""
    ed = (
        e.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
    )
    x, y = oriented.alias("x"), oriented.alias("y")
    # dst names compared lexically so the closing pair lands in the
    # same a < b orientation the canonical edge table stores
    wedges = (
        x.join(y, "src")
        .where(F.col("x.dst") < F.col("y.dst"))
        .select("src", F.col("x.dst").alias("v"), F.col("y.dst").alias("w"))
    )
    closing = e.select(F.col("a").alias("v"), F.col("b").alias("w"))
    return wedges.join(closing, ["v", "w"], "left_semi")


def triangle_counts(edges: DataFrame) -> DataFrame:
    """(entity, triangles): number of triangles each node participates
    in, zero-count nodes included.

    ``edges`` must be distinct undirected pairs with ``a < b`` (the
    contract of co_mention_edges).  :func:`_triangles` enumerates each
    triangle once; this counts its three corners per node."""
    e = edges.select("a", "b").distinct()
    deg = degrees(e)
    per_node = (
        _triangles(e, deg)
        .select(F.explode(F.array("src", "v", "w")).alias("entity"))
        .groupBy("entity")
        .agg(F.count("*").alias("triangles"))
    )
    return (
        deg.select(F.col("node").alias("entity"))
        .join(per_node, "entity", "left")
        .select(
            "entity",
            F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias("triangles"),
        )
    )


def k_core(
    edges: DataFrame,
    k: int = 2,
    max_rounds: int = 50,
    stage_dir: str | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """(entity, deg) of the k-core: the maximal induced subgraph where
    every node has degree ≥ k, found by iterative peeling (drop all
    nodes with induced degree < k, recompute, repeat).  ``max_rounds``
    bounds the loop; when the peel reaches a fixed point earlier it
    stops there, so a ``max_rounds`` large enough for the graph's peel
    depth yields the exact k-core (hub-and-spoke co-mention graphs peel
    in a handful of rounds).  A small fixed ``max_rounds`` is the
    bounded form the SQL oracle twin unrolls.

    Per round: one semi-join of the symmetric edge table against the
    surviving nodes on each endpoint + one degree aggregate — the same
    join+groupBy-per-iteration shape as connected_components, with the
    node table parquet-round-tripped and broadcast while it fits
    (edges scanned, never shuffled, below the threshold)."""
    if stats is None:
        stats = {}
    stats["rounds"] = []
    own_dir = stage_dir is None
    stage_dir = scratch_dir(stage_dir, "ddaugner_kcore_")

    sym = cut(symmetrize(edges).repartition("a"), f"{stage_dir}/sym")
    alive = cut(
        sym.groupBy(F.col("a").alias("node")).agg(F.count("*").alias("deg")),
        f"{stage_dir}/alive_0",
    )
    n_alive = alive.count()
    broadcast_nodes = n_alive <= canonical.BROADCAST_AUTO_THRESHOLD
    stats["broadcast_nodes"] = broadcast_nodes

    def step(alive: DataFrame) -> DataFrame:
        survivors = alive.filter(F.col("deg") >= k).select("node")
        s = F.broadcast(survivors) if broadcast_nodes else survivors
        induced = (
            sym.join(s, sym.a == s.node, "left_semi")
            .join(
                F.broadcast(survivors) if broadcast_nodes else survivors,
                F.col("b") == F.col("node"),
                "left_semi",
            )
        )
        return induced.groupBy(F.col("a").alias("node")).agg(
            F.count("*").alias("deg")
        )

    def measure(new: DataFrame, _old: DataFrame):
        nonlocal n_alive
        n_prev, n_alive = n_alive, new.filter(F.col("deg") >= k).count()
        return n_alive in (n_prev, 0), {"n_alive": n_alive}

    alive = fixpoint(
        alive, step, measure, stage_dir, "alive", max_rounds, stats["rounds"],
        own_dir=own_dir,
    )
    return alive.filter(F.col("deg") >= k).select(
        F.col("node").alias("entity"), F.col("deg").cast("long").alias("deg")
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float | None = 1e-6,
    stage_dir: str | None = None,
    stats: dict | None = None,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """(entity, rank): PageRank by power iteration on the symmetrized
    (undirected) graph.  ``tol=None`` runs exactly ``max_iter``
    iterations (the fixed-step form the SQL oracle twin mirrors);
    otherwise the loop stops when the L∞ rank change drops below
    ``tol``.

    Per iteration: contributions = one join of the symmetric edge table
    with the rank table on the source node + one groupBy on the
    destination; the rank table round-trips through parquet so plan
    depth stays constant.  While |V| ≤ BROADCAST_AUTO_THRESHOLD the
    rank/degree table broadcasts and the edges are never shuffled at
    all (map-side join + partial aggregate); above it both sides
    exchange on the node id — the honest big-graph path.

    ``seeds`` (a ``node``-column DataFrame) switches to PERSONALIZED
    PageRank: the teleport mass (1−d) restarts only to the seed set
    (uniformly over seeds present in the graph) instead of all nodes —
    the entity-disambiguation prior ("how close is candidate X to the
    entities already grounded in this context") and the seed-biased
    crawl-frontier score.  Implementation-wise the restart vector just
    rides the rank table as a per-node ``base_v`` column (seed:
    (1−d)/|S|, else 0); the iteration is byte-identical to the uniform
    case, so the scale shape is unchanged.  On the symmetrized graph
    there is no dangling mass, so Σ rank = 1 holds in both modes.
    """
    if stats is None:
        stats = {}
    stats["iters"] = []
    own_dir = stage_dir is None
    stage_dir = scratch_dir(stage_dir, "ddaugner_pr_")

    t0 = time.time()
    # the loop-invariant symmetric edge table is cut once, so a lazy
    # upstream (textrank's co-occurrence join, ER's blocking join) runs
    # once rather than once per round (docs/PLANS.md, "One scoped
    # persist").  The per-iteration rank checkpoint below stays parquet:
    # the rank table feeds both sides of the contribution join, so its
    # plan would otherwise double per iteration.
    sym = cut(symmetrize(edges).repartition("a"), f"{stage_dir}/sym")
    deg = sym.groupBy(F.col("a").alias("node")).agg(F.count("*").alias("deg"))
    n_nodes = deg.count()
    stats["n_nodes"] = n_nodes
    broadcast_ranks = n_nodes <= canonical.BROADCAST_AUTO_THRESHOLD
    stats["broadcast_ranks"] = broadcast_ranks
    if seeds is None:
        base = (1.0 - damping) / n_nodes
        ranks = deg.select(
            "node",
            "deg",
            F.lit(base).alias("base_v"),
            F.lit(1.0 / n_nodes).alias("rank"),
        )
    else:
        sn = seeds.select("node").distinct().withColumn("_s", F.lit(1))
        flagged = deg.join(F.broadcast(sn), "node", "left")
        s_count = flagged.filter(F.col("_s") == 1).count()
        stats["n_seeds"] = s_count
        if s_count == 0:
            raise ValueError("personalized pagerank: no seed is a graph node")
        is_seed = F.col("_s") == 1
        ranks = flagged.select(
            "node",
            "deg",
            F.when(is_seed, F.lit((1.0 - damping) / s_count))
            .otherwise(F.lit(0.0))
            .alias("base_v"),
            F.when(is_seed, F.lit(1.0 / s_count))
            .otherwise(F.lit(0.0))
            .alias("rank"),
        )
    stats["init_sec"] = round(time.time() - t0, 3)

    def step(ranks: DataFrame) -> DataFrame:
        r = F.broadcast(ranks) if broadcast_ranks else ranks
        contrib = (
            sym.join(r, sym.a == F.col("node"))
            .select(F.col("b").alias("node2"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("node2")
            .agg(F.sum("c").alias("in_mass"))
        )
        if broadcast_ranks:
            contrib = F.broadcast(contrib)
        # every node of the symmetric graph has deg ≥ 1 in-edges, so the
        # left join never actually misses; kept for shape-safety
        return ranks.join(contrib, ranks.node == F.col("node2"), "left").select(
            "node",
            "deg",
            "base_v",
            (
                F.col("base_v")
                + F.lit(damping) * F.coalesce(F.col("in_mass"), F.lit(0.0))
            ).alias("rank"),
            F.col("rank").alias("prev_rank"),
        )

    def measure(new: DataFrame, _old: DataFrame):
        if tol is None:
            return False, {}
        delta = float(
            new.agg(F.max(F.abs(F.col("rank") - F.col("prev_rank")))).first()[0]
        )
        return delta < tol, {"linf_delta": delta}

    # with no round run the result reads the sym cut, so the dir stays
    ranks = fixpoint(
        ranks, step, measure, stage_dir, "ranks", max_iter, stats["iters"],
        key="it", own_dir=own_dir and max_iter > 0,
    )
    return ranks.select(F.col("node").alias("entity"), "rank")


def hits(
    edges: DataFrame,
    iters: int = 2,
    ndigits: int = 6,
    stage_dir: str | None = None,
) -> DataFrame:
    """(node, hub, authority) — Kleinberg HITS over a DIRECTED edge
    DataFrame ``(src, dst)`` (the host-level web graph: hubs are pages
    that point at good content, authorities are pages good content
    points at — the crawl-frontier / entity-page prior PageRank's
    undirected form can't express).

    Determinism design: HITS updates are LINEAR, so per-step
    normalization only rescales — the engine therefore runs the whole
    power iteration in INTEGER arithmetic (h₀ = 1; every subsequent
    score is a sum of longs over in/out edges) and divides by the total
    exactly once at the end.  Both engines sum the same integers and
    perform one IEEE division each, so the rounded output is
    reproducible bit-for-bit — no float-summation-order hazard at any
    iteration count (same device as the HLL fixed-point harmonic sum,
    sketches.hll_estimate).

    Scale shape: per half-step ONE equi-join of the edge table with the
    O(|V|) score table on its shuffle key + one partial-aggregable
    groupBy on the opposite endpoint.  The O(|V|) score table ALWAYS
    broadcasts (host graphs: |V| = hosts, orders of magnitude under the
    edge count), so the edge table is scanned map-side, never
    exchanged.  Fixed ``iters`` keeps the lazy plan bounded; nodes
    with no in-edges carry authority 0, no out-edges hub 0 (left joins
    against the node set).

    The final (h, a) table is referenced TWICE — by the totals
    aggregate and by the output projection — so with ``stage_dir`` it
    parquet-round-trips first (the CC/PageRank idiom): without it the
    whole 2·iters join lineage would execute twice.  Callers on
    non-toy graphs should pass a stage dir.
    """
    if iters < 1:
        raise ValueError("hits: iters must be >= 1")
    e = edges.select("src", "dst").distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # h0 = 1 for every node ⇒ a1(v) = in-degree(v); iterate from there
    h = nodes.withColumn("h", F.lit(1).cast("long"))
    a = None
    for _ in range(iters):
        hb = F.broadcast(h)
        a_raw = (
            e.join(hb, e.src == hb.node)
            .groupBy(F.col("dst").alias("node2"))
            .agg(F.sum("h").alias("a"))
        )
        a = nodes.join(a_raw, nodes.node == a_raw.node2, "left").select(
            "node", F.coalesce(F.col("a"), F.lit(0)).cast("long").alias("a")
        )
        ab = F.broadcast(a)
        h_raw = (
            e.join(ab, e.dst == ab.node)
            .groupBy(F.col("src").alias("node2"))
            .agg(F.sum("a").alias("h"))
        )
        h = nodes.join(h_raw, nodes.node == h_raw.node2, "left").select(
            "node", F.coalesce(F.col("h"), F.lit(0)).cast("long").alias("h")
        )
    j = h.join(a, "node")
    if stage_dir is not None:
        j = cut(j, f"{stage_dir}/hits_scores")
    totals = F.broadcast(
        j.agg(
            F.sum("h").cast("double").alias("_th"),
            F.sum("a").cast("double").alias("_ta"),
        )
    )
    return j.crossJoin(totals).select(
        "node",
        F.round(F.col("h") / F.col("_th"), ndigits).alias("hub"),
        F.round(F.col("a") / F.col("_ta"), ndigits).alias("authority"),
    )


def pmi_edges(mentions: DataFrame, ndigits: int = 6) -> DataFrame:
    """(a, b, c_ab, pmi) — pointwise-mutual-information weights for the
    co-mention graph: pmi = ln(N · c(a,b) / (c(a) · c(b))) over sentence
    co-occurrence events, the classic association strength that
    separates genuinely-related entity pairs from pairs that co-occur
    only because both are frequent.  Feeds edge pruning before the
    CC / triangle / PageRank stages (keep pmi > 0 ⇒ observed > expected
    under independence).

    Counting unit is the distinct (doc, sent, surface) occurrence —
    c(a) = #sentences mentioning a, c(a,b) = #sentences mentioning both,
    N = #sentences with ≥ 1 mention — so P(a), P(b), P(a,b) are all
    probabilities over the same sentence sample space and pmi is exact
    integer arithmetic inside one ``ln`` (both engines evaluate the same
    double expression; the rounded value is the contract).

    Scale shape: the per-sentence self-join is bounded by mention
    density (≤ ~10 surfaces/sentence), so
    pair fan-out is O(d²) per sentence, and the pair aggregate collapses
    it map-side.  Entity counts are vocabulary-sized and broadcast onto
    the pair table twice (a-side, b-side); N rides as a broadcast 1-row
    scalar — no driver-side count.
    """
    return _pmi_pair_table(mentions).select(
        "a",
        "b",
        "c_ab",
        F.round(
            F.log(
                F.col("n_sents")
                * F.col("c_ab")
                / (F.col("c_a") * F.col("c_b"))
            ),
            ndigits,
        ).alias("pmi"),
    )


def _pmi_pair_table(mentions: DataFrame) -> DataFrame:
    """Shared co-occurrence table of :func:`pmi_edges` /
    :func:`npmi_edges`: (a, b, c_ab, c_a, c_b, n_sents) over the
    distinct (doc, sent, surface) sample space — one derivation, two
    association measures."""
    sent_ent = mentions.select("doc_id", "sent_id", "surface").distinct()
    c_ent = sent_ent.groupBy("surface").agg(F.count("*").alias("c"))
    n = (
        sent_ent.select("doc_id", "sent_id")
        .distinct()
        .agg(F.count("*").cast("double").alias("n_sents"))
    )
    a = sent_ent.select("doc_id", "sent_id", F.col("surface").alias("a"))
    b = sent_ent.select("doc_id", "sent_id", F.col("surface").alias("b"))
    pairs = (
        a.join(b, ["doc_id", "sent_id"])
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("c_ab"))
    )
    return (
        pairs.join(F.broadcast(c_ent.select(F.col("surface").alias("a"), F.col("c").alias("c_a"))), "a")
        .join(F.broadcast(c_ent.select(F.col("surface").alias("b"), F.col("c").alias("c_b"))), "b")
        .crossJoin(F.broadcast(n))
    )


def npmi_edges(mentions: DataFrame, ndigits: int = 6) -> DataFrame:
    """(a, b, c_ab, pmi, npmi) — NORMALIZED pointwise mutual
    information (Bouma, GSCL 2009): npmi = pmi / (−ln p(a,b)), mapping
    PMI's unbounded scale onto [−1, 1] (1 = the pair only ever occurs
    together, 0 = independence, −1 = never together) — the
    comparable-across-frequency collocation score PMI itself is not
    (rare pairs max out raw PMI; npmi corrects exactly that).  Shares
    :func:`_pmi_pair_table` with :func:`pmi_edges`.

    Both ln's evaluate the same double expressions on both engines;
    the c_ab = N corner (every sentence contains the pair — −ln p = 0)
    pins npmi = 1.0 lazily, per the limit.
    """
    t = _pmi_pair_table(mentions)
    pmi = F.log(
        F.col("n_sents") * F.col("c_ab") / (F.col("c_a") * F.col("c_b"))
    )
    neg_ln_pab = -F.log(F.col("c_ab") / F.col("n_sents"))
    npmi = F.when(neg_ln_pab > 0, pmi / neg_ln_pab).otherwise(F.lit(1.0))
    return t.select(
        "a",
        "b",
        "c_ab",
        F.round(pmi, ndigits).alias("pmi"),
        F.round(npmi, ndigits).alias("npmi"),
    )


def label_propagation(
    edges: DataFrame,
    max_rounds: int = 10,
    stage_dir: str | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """(entity, community) — community detection by synchronous label
    propagation with a self-vote and a deterministic tie-break.

    Each node starts in its own community (label = its own id); per
    round every node adopts the most frequent label among its neighbors
    PLUS ITSELF, breaking count ties on the lexically smallest label.
    The self-vote makes the update deterministic-convergent on the
    structures that oscillate under textbook synchronous LPA (an A—B
    edge flips labels forever without it; with it both endpoints settle
    on min(A, B) in one round).  ``max_rounds`` bounds the loop — the
    small fixed-round form is what the SQL oracle twin unrolls; the
    loop also stops early at the first round that changes no label.

    Scale shape: the CC/PageRank iteration shape — per round one join
    of the symmetric edge table with the O(|V|) label table, one
    (node, label) count aggregate, and one ``min(struct(-cnt, label))``
    groupBy (hash aggregates only — no per-node sort; the tie-break
    rides in struct ordering).  The label table parquet-round-trips so
    plan depth stays constant, and broadcasts while |V| fits under
    BROADCAST_AUTO_THRESHOLD so the edge table is scanned map-side,
    never exchanged — above it both sides shuffle on the node id, the
    honest big-graph path.
    """
    if stats is None:
        stats = {}
    stats["rounds"] = []
    own_dir = stage_dir is None
    stage_dir = scratch_dir(stage_dir, "ddaugner_lpa_")

    sym = cut(symmetrize(edges).repartition("a"), f"{stage_dir}/sym")
    labels = cut(
        sym.select(F.col("a").alias("node")).distinct()
        .select("node", F.col("node").alias("label")),
        f"{stage_dir}/labels_0",
    )
    n_nodes = labels.count()
    broadcast_labels = n_nodes <= canonical.BROADCAST_AUTO_THRESHOLD
    stats["n_nodes"] = n_nodes
    stats["broadcast_labels"] = broadcast_labels

    def step(labels: DataFrame) -> DataFrame:
        lbl = F.broadcast(labels) if broadcast_labels else labels
        votes = sym.join(lbl, sym.a == lbl.node).select(
            F.col("b").alias("node"), "label"
        ).unionAll(labels.select("node", "label"))
        counts = votes.groupBy("node", "label").agg(F.count("*").alias("cnt"))
        # max count, then lexically-min label: struct ordering does the
        # whole tie-break inside one hash aggregate
        picked = counts.groupBy("node").agg(
            F.min(F.struct((-F.col("cnt")).alias("neg"), F.col("label"))).alias("best")
        )
        return picked.select("node", F.col("best.label").alias("label"))

    def measure(new: DataFrame, old: DataFrame):
        n_changed = (
            new.alias("n")
            .join(old.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        return n_changed == 0, {"n_changed": n_changed}

    labels = fixpoint(
        labels, step, measure, stage_dir, "labels", max_rounds, stats["rounds"],
        own_dir=own_dir,
    )
    return labels.select(F.col("node").alias("entity"), F.col("label").alias("community"))


def two_hop_paths(
    triples: DataFrame, min_support: int = 2, fanout_cap: int = 5
) -> DataFrame:
    """(entity_a, pred1, mid, pred2, entity_c, support1, support2,
    path_support) — two-hop path enumeration over the CONSTRUCTED KG:
    aggregate (subj, pred, obj) triples into support-weighted edges,
    then join hop-1's object to hop-2's subject.  The consumption-side
    query of the kg_construct pipeline: "what is A connected to through
    one intermediate, and how well-attested is each leg?"
    path_support = min of the leg supports (a path is only as attested
    as its weaker leg); A == C round-trips are excluded.

    Hub-entity skew is THE hazard here (the north-star's Wikipedia
    problem): a hub as `mid` fans out |in-edges|·|out-edges| pairs.
    Bounded by construction — each mid keeps only its ``fanout_cap``
    best-supported incoming and outgoing edges (deterministic
    tie-break on pred/entity), so the join emits ≤ cap² paths per mid
    no matter how hubby the graph.  The cap windows partition by a
    single entity key; at crawl scale their shuffle is the aggregated
    EDGE table (vocabulary-sized), not the triple stream, and the edge
    aggregation itself is one map-side-combined hash-agg over slim
    string keys.
    """
    from pyspark.sql import Window

    edges = (
        triples.groupBy("subj", "pred", "obj")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= min_support)
    )
    w_in = Window.partitionBy("obj").orderBy(F.desc("support"), "pred", "subj")
    w_out = Window.partitionBy("subj").orderBy(F.desc("support"), "pred", "obj")
    hop1 = (
        edges.withColumn("r", F.row_number().over(w_in))
        .filter(F.col("r") <= fanout_cap)
        .select(
            F.col("subj").alias("entity_a"),
            F.col("pred").alias("pred1"),
            F.col("obj").alias("mid"),
            F.col("support").alias("support1"),
        )
    )
    hop2 = (
        edges.withColumn("r", F.row_number().over(w_out))
        .filter(F.col("r") <= fanout_cap)
        .select(
            F.col("subj").alias("mid"),
            F.col("pred").alias("pred2"),
            F.col("obj").alias("entity_c"),
            F.col("support").alias("support2"),
        )
    )
    return (
        hop1.join(hop2, "mid")
        .filter(F.col("entity_a") != F.col("entity_c"))
        .select(
            "entity_a",
            "pred1",
            "mid",
            "pred2",
            "entity_c",
            F.col("support1").cast("long").alias("support1"),
            F.col("support2").cast("long").alias("support2"),
            F.least("support1", "support2").cast("long").alias("path_support"),
        )
    )


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 3,
    stage_dir: str | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """(node, dist) — minimum hop distance from ANY seed node over the
    undirected graph, bounded by ``max_depth`` (nodes further than the
    bound are absent).  The KG neighborhood query behind "everything
    within k hops of these entities" (seed-set expansion for entity
    disambiguation contexts, subgraph extraction for analysts).

    Frontier iteration, the textbook distributed-BFS shape:

    * per level, ONLY the frontier (nodes first discovered last level)
      joins the symmetric edge table — never the whole visited set, so
      a level's work is proportional to the edges incident to newly
      discovered nodes;
    * the frontier is BROADCAST while it fits (seed expansions start
      tiny — the common case — so early levels touch the edge table
      map-side with zero exchange); a frontier past the threshold falls
      back to the honest shuffled join;
    * newly seen nodes are ``left_anti``-joined against the visited
      table (first discovery = minimum distance, so no min-aggregate
      over repeated sightings is ever needed);
    * visited/frontier tables parquet-round-trip per level (constant
      plan depth — the CC/LPA/PageRank iteration idiom), and the loop
      exits early on an empty frontier.
    """
    if stats is None:
        stats = {}
    stats["levels"] = []
    visited, stats["n_seeds"] = _frontier_bfs(
        edges,
        seeds.select("node").distinct().withColumn("dist", F.lit(0).cast("int")),
        ["node"],
        scratch_dir(stage_dir, "ddaugner_bfs_"),
        "",
        max_depth,
        stats["levels"],
    )
    return visited


def _frontier_bfs(
    edges: DataFrame,
    start: DataFrame,
    key: list[str],
    stage_dir: str,
    prefix: str,
    max_depth: int,
    levels: list,
) -> tuple[DataFrame, int]:
    """The frontier loop behind :func:`bfs_distances` and
    :func:`multi_source_bfs` (their docstrings give the shape).  State
    rows are ``key`` + ``dist``; ``key[0]`` is the node, the rest ride
    along from the frontier row that discovered it.  ``start`` is the
    depth-0 frontier; stage dirs are ``{prefix}frontier_*`` /
    ``{prefix}visited_*`` (A/B alternation) plus ``sym``.  Appends one
    ``{depth, sec, n_discovered}`` entry per level to ``levels``.
    Returns the visited table and the start row count."""
    sym = cut(symmetrize(edges).repartition("a"), f"{stage_dir}/sym")
    frontier = cut(start, f"{stage_dir}/{prefix}frontier_0")
    visited = frontier
    n_frontier = n_start = frontier.count()
    for depth in range(1, max_depth + 1):
        l_t0 = time.time()
        fr = (
            F.broadcast(frontier)
            if n_frontier <= canonical.BROADCAST_AUTO_THRESHOLD
            else frontier
        )
        nxt = (
            sym.join(fr, sym.a == fr.node)
            .select(F.col("b").alias("node"), *key[1:])
            .distinct()
            .join(visited, key, "left_anti")
            .withColumn("dist", F.lit(depth).cast("int"))
        )
        nxt = cut(nxt, f"{stage_dir}/{prefix}frontier_{depth % 2}")
        n_frontier = nxt.count()
        levels.append(
            {
                "depth": depth,
                "sec": round(time.time() - l_t0, 3),
                "n_discovered": n_frontier,
            }
        )
        if n_frontier == 0:
            break
        visited = cut(
            visited.unionByName(nxt), f"{stage_dir}/{prefix}visited_{depth % 2}"
        )
        frontier = nxt
    return visited, n_start


def degree_assortativity(edges: DataFrame, ndigits: int = 6) -> DataFrame:
    """One-row ``(n_ends, r)`` — Pearson degree assortativity of the
    undirected graph (Newman 2002): correlation of the degrees at the
    two ends of every edge, computed over the symmetrized edge list so
    each edge contributes both orientations (the standard estimator —
    r is symmetric by construction).

    Assortative (r > 0) co-mention graphs mean hubs link hubs —
    entity-resolution merges there are riskier; disassortative graphs
    (hubs link leaves) are the typical KG shape.  Exact-sums device
    (the ols_fit idiom): Σx, Σy, Σxy, Σx², Σy² accumulate in
    decimal(38,0) from integer degrees, each cast to double ONCE, so
    the float chain has no sum-order dependence.  Degenerate (zero
    variance on either end) ⇒ NULL r."""
    e = symmetrize(edges.select("a", "b").distinct())
    deg = degrees(edges.select("a", "b").distinct())
    j = (
        e.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("dx")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("dy")), "b")
    )
    xd = F.col("dx").cast("decimal(38,0)")
    yd = F.col("dy").cast("decimal(38,0)")
    g = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_ends"),
        F.sum(xd).cast("double").alias("sx"),
        F.sum(yd).cast("double").alias("sy"),
        F.sum(xd * yd).cast("double").alias("sxy"),
        F.sum(xd * xd).cast("double").alias("sxx"),
        F.sum(yd * yd).cast("double").alias("syy"),
    )
    n = F.col("n_ends").cast("double")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    r = F.when(
        (vx > 0) & (vy > 0), num / F.sqrt(vx) / F.sqrt(vy)
    )
    return g.select("n_ends", F.round(r, ndigits).alias("r"))


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """(entity, deg, triangles, coef) — local clustering coefficient
    ``2·T(v) / (deg(v)·(deg(v)−1))``, zero for degree-<2 nodes: how
    interconnected an entity's co-mention neighborhood is (hub entities
    have LOW coefficients — their neighbors are unrelated — which is a
    cheap disambiguation/skew signal next to degree alone).

    Reuses the degree-oriented :func:`triangle_counts` (each triangle
    materialized once, O(√m)-bounded wedge fan-out) plus the degree
    table; one key-sized join, the float chain is fixed-order and
    rounded."""
    e = edges.select("a", "b").distinct()
    t = triangle_counts(e)
    d = degrees(e)
    coef = F.when(
        F.col("deg") >= 2,
        2.0 * F.col("triangles") / (F.col("deg") * (F.col("deg") - 1)),
    ).otherwise(F.lit(0.0))
    return t.join(d.select(F.col("node").alias("entity"), "deg"), "entity").select(
        "entity",
        F.col("deg").cast("long").alias("deg"),
        F.col("triangles").cast("long").alias("triangles"),
        F.round(coef, 6).alias("coef"),
    )


def shortest_paths_weighted(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    stage_dir: str | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """(node, cost) — minimum total edge WEIGHT from any seed within
    ``max_hops`` hops over the directed weighted edge table
    ``(a, b, w)``; unreached nodes are absent.  The weighted companion
    to :func:`bfs_distances` (link-cost crawl radii, trust-weighted KG
    neighborhoods).

    Bounded Bellman–Ford relaxation, the distributed idiom: each round
    joins the CURRENT distance table to the edge list (one shuffle on
    the node key), takes the per-node min of old and relaxed costs, and
    parquet-round-trips the result (constant plan depth — the CC/BFS
    iteration device).  Unlike BFS, a node's cost can improve after
    first discovery, so rounds keep a min-aggregate instead of the
    anti-join frontier; the loop exits early when a round changes no
    (node, cost) pair.  Costs stay exact integers (LONG) — no float
    accumulation order to worry about."""
    if stats is None:
        stats = {}
    stats["rounds"] = []
    own_dir = stage_dir is None
    stage_dir = scratch_dir(stage_dir, "ddaugner_sssp_")

    e = cut(
        edges.select("a", "b", F.col("w").cast("long").alias("w")),
        f"{stage_dir}/edges",
    )
    dist = cut(
        seeds.select("node").distinct().withColumn("cost", F.lit(0).cast("long")),
        f"{stage_dir}/dist_0",
    )

    def step(dist: DataFrame) -> DataFrame:
        relaxed = dist.join(e, dist.node == e.a).select(
            F.col("b").alias("node"), (F.col("cost") + F.col("w")).alias("cost")
        )
        return (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("cost").alias("cost"))
        )

    def measure(new: DataFrame, old: DataFrame):
        changed = new.join(old, ["node", "cost"], "left_anti").count()
        return changed == 0, {"changed": changed}

    return fixpoint(
        dist, step, measure, stage_dir, "dist", max_hops, stats["rounds"],
        own_dir=own_dir,
    )


def link_prediction(
    edges: DataFrame, max_deg: int | None = None, ndigits: int = 6
) -> DataFrame:
    """Common-neighbor link prediction over the undirected co-mention
    graph: for every non-adjacent pair (v, w) sharing at least one
    neighbor, ``(v, w, common, aa, jaccard)`` — the raw common-neighbor
    count, the Adamic–Adar score Σ_z 1/ln(deg(z)) (Adamic & Adar 2003,
    "Friends and neighbors on the Web"), and the neighborhood Jaccard
    |N(v)∩N(w)| / |N(v)∪N(w)|.  The KG-completion candidate generator:
    entities that share co-mention neighborhoods but never co-occur are
    the pairs an alias/merge or relation-inference pass should look at
    first.

    Scale shape: candidate pairs are generated ONLY through shared
    neighbors (one self-equi-join of the symmetrized adjacency on the
    hub column z), never by node crossJoin — output is wedge-bounded,
    Σ_z deg(z)², not |V|².  Each common neighbor z contributes its
    1/ln(deg z) term map-side after ONE |V|-sized degree join, so the
    whole operator is: degree agg, wedge join, (v, w) hash aggregate,
    existing-edge anti-join, two slim degree joins.  ``max_deg``
    deterministically drops hub wedges (a z with deg > max_deg predicts
    nothing specific anyway — the standard hub guard at crawl scale,
    where a wedge join through an every-doc entity would be quadratic);
    default None keeps exact semantics for the oracle twin.  Every
    common neighbor has deg ≥ 2, so ln(deg z) > 0 — no pole.

    Float parity: aa sums bounded sets of doubles then rounds at
    ``ndigits`` — reorder error ~1e-15 relative, far below the grain
    (the q_pagerank device).
    """
    e = edges.select("a", "b").distinct()
    deg = degrees(e)
    zdeg = deg.select(F.col("node").alias("z"), F.col("deg").alias("zdeg"))
    if max_deg is not None:
        zdeg = zdeg.filter(F.col("zdeg") <= max_deg)
    sym = symmetrize(e)
    left = sym.select(F.col("a").alias("z"), F.col("b").alias("v"))
    right = sym.select(F.col("a").alias("z"), F.col("b").alias("w"))
    wedges = (
        left.join(right, "z")
        .filter(F.col("v") < F.col("w"))
        .join(zdeg, "z")
    )
    scored = wedges.groupBy("v", "w").agg(
        F.count(F.lit(1)).cast("long").alias("common"),
        F.sum(F.lit(1.0) / F.log(F.col("zdeg").cast("double"))).alias("aa_raw"),
    )
    non_edges = scored.join(
        e, (scored.v == e.a) & (scored.w == e.b), "left_anti"
    )
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("v_deg"))
    dw = deg.select(F.col("node").alias("w"), F.col("deg").alias("w_deg"))
    return (
        non_edges.join(dv, "v")
        .join(dw, "w")
        .select(
            "v",
            "w",
            "common",
            F.round("aa_raw", ndigits).alias("aa"),
            F.round(
                F.col("common").cast("double")
                / (F.col("v_deg") + F.col("w_deg") - F.col("common")),
                ndigits,
            ).alias("jaccard"),
        )
    )


def deterministic_walks(
    edges: DataFrame, length: int = 3, walks_per_seed: int = 2
) -> DataFrame:
    """DeepWalk/node2vec-style corpus generation (Perozzi et al. 2014)
    with fully deterministic "random" choices: ``walks_per_seed`` walks
    of up to ``length`` steps start from every source node of the
    DIRECTED ``(src, dst)`` edge table; at node u on step t the walk
    takes neighbor index md5(walk_id|t) mod out_deg(u) over the
    lexicographically ranked neighbor list.  Output is one row per
    visited position ``(walk_id, step, node)`` (step 0 = the seed); a
    walk that reaches a sink node simply ends — shorter walks are the
    DeepWalk contract, not an error.

    Determinism is the repo-wide rule (no unseeded randomness): the
    next-hop draw is a pure function of (walk_id, step), so the corpus
    is identical under repartition/resume and the DuckDB twin replays
    it exactly.  Neighbor ranks use row_number over the ASCII dst
    order — binary collation matches across engines.

    Scale shape: the adjacency (with per-src neighbor rank and
    out-degree, both from one src-partitioned window/agg) is built
    once; each step is ONE slim equi-join of the |frontier|-sized walk
    table against it on the current node — the standard MapReduce
    DeepWalk layout where the walk table, not the graph, is the moving
    part.  ``length`` is small and fixed, so lineage stays shallow with
    no checkpoint requirement.
    """
    from pyspark.sql import Window

    adj = edges.select("src", "dst").distinct()
    w = Window.partitionBy("src").orderBy("dst")
    adj = adj.withColumn("idx", F.row_number().over(w) - F.lit(1))
    adj = adj.withColumn(
        "outdeg", F.count(F.lit(1)).over(Window.partitionBy("src"))
    )

    seeds = adj.select(F.col("src").alias("node")).distinct()
    reps = F.explode(
        F.sequence(F.lit(0), F.lit(int(walks_per_seed) - 1))
    ).alias("r")
    frontier = seeds.select("node", reps).select(
        F.concat_ws("#", "node", F.col("r").cast("string")).alias("walk_id"),
        "node",
    )
    out = frontier.select("walk_id", F.lit(0).cast("int").alias("step"), "node")

    for t in range(1, int(length) + 1):
        pick = (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("|", "walk_id", F.lit(str(t)))), 1, 4
                ),
                16,
                10,
            ).cast("long")
            % F.col("outdeg")
        )
        frontier = (
            frontier.join(adj, frontier.node == adj.src)
            .filter(F.col("idx") == pick)
            .select("walk_id", F.col("dst").alias("node"))
        )
        out = out.unionByName(
            frontier.select(
                "walk_id", F.lit(t).cast("int").alias("step"), "node"
            )
        )
    return out


def ancestor_closure(parents: DataFrame, max_depth: int = 8) -> DataFrame:
    """Transitive ancestor closure of a type/taxonomy hierarchy by
    REPEATED SQUARING: ``parents`` is a functional (node, parent) edge
    table (each node ≤ 1 parent — the KG subsumption shape); output is
    every (node, anc, depth) pair with depth ≤ ``max_depth``.

    Each round unions the current relation with its self-composition,
    so covered depth DOUBLES per shuffle — ⌈log₂ d⌉ join rounds where
    the oracle's recursive CTE walks d steps one at a time (the
    q_redirects pointer-jumping argument, generalized from final-target
    resolution to the FULL closure).  In a tree every (node, anc) pair
    has a unique depth, so the per-round distinct() is exact dedup of
    alternative split points, not semantic collapsing.

    Scale: the closure of a depth-d hierarchy over |V| nodes is ≤ d·|V|
    rows (each node has ≤ d ancestors) — output-bounded, never |V|²;
    rounds are fixed and small so lineage stays shallow without
    checkpointing.
    """
    import math

    r = parents.select(
        F.col("node"),
        F.col("parent").alias("anc"),
        F.lit(1).cast("int").alias("depth"),
    )
    for _ in range(max(1, math.ceil(math.log2(max_depth)))):
        comp = (
            r.alias("x")
            .join(r.alias("y"), F.col("x.anc") == F.col("y.node"))
            .select(
                F.col("x.node").alias("node"),
                F.col("y.anc").alias("anc"),
                (F.col("x.depth") + F.col("y.depth")).cast("int").alias("depth"),
            )
            .filter(F.col("depth") <= max_depth)
        )
        r = r.unionByName(comp).distinct()
    return r


def modularity(edges: DataFrame, labels: DataFrame, ndigits: int = 6) -> DataFrame:
    """Newman modularity contributions of a community assignment over
    the undirected graph: per community c,

        contrib(c) = e_c/m − (d_c / 2m)²

    (e_c = within-community edges, d_c = total degree, m = edge count;
    Q = Σ contrib — left to the consumer so the output stays exact
    per-community rows).  The standard quality functional for judging
    a community detection (label propagation here) before trusting it
    for entity grouping.

    Determinism: e_c, d_c, m are exact integers; each contrib is a
    fixed two-division/one-multiply float chain per row — no reordered
    float summation anywhere (the repo's integer-first rule).

    Scale shape: one edge⋈label join per endpoint (labels are
    node-sized — broadcast while they fit), one community aggregate
    each for e_c and d_c, m as a 1-row broadcast.
    """
    e = edges.select("a", "b").distinct()
    mrow = e.agg(F.count(F.lit(1)).cast("long").alias("m"))
    la = labels.select(F.col("entity").alias("a"), F.col("community").alias("ca"))
    lb = labels.select(F.col("entity").alias("b"), F.col("community").alias("cb"))
    within = (
        e.join(la, "a")
        .join(lb, "b")
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("e_in"))
    )
    deg = degrees(e).join(
        labels.select(F.col("entity").alias("node"), "community"), "node"
    )
    d = deg.groupBy("community").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum("deg").cast("long").alias("d_tot"),
    )
    j = d.join(within, "community", "left").crossJoin(F.broadcast(mrow))
    e_in = F.coalesce("e_in", F.lit(0)).cast("long")
    half = F.col("d_tot").cast("double") / (F.lit(2.0) * F.col("m"))
    return j.select(
        "community",
        "n_nodes",
        e_in.alias("e_in"),
        "d_tot",
        F.round(
            e_in.cast("double") / F.col("m") - half * half, ndigits
        ).alias("contrib"),
    )


def degree_distribution(edges: DataFrame) -> DataFrame:
    """Log2-bucketed degree histogram of the undirected graph:
    ``(bucket, min_deg, n_nodes)`` with bucket = ⌊log2 deg⌋ — the
    one-glance skew diagnosis (a heavy tail here is what forces the
    salting / degree-orientation devices downstream).  The bucket is
    computed as ``len(binary(deg)) − 1`` — an EXACT integer device on
    both engines, immune to log2 libm boundary rounding.  One degree
    aggregate + one bucket aggregate over the node-sized table."""
    deg = degrees(edges.select("a", "b").distinct())
    bucket = (F.length(F.conv(F.col("deg"), 10, 2)) - 1).cast("int")
    return (
        deg.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .select(
            "bucket",
            # PySpark's shiftleft() wants a literal count; the SQL form
            # takes the column
            F.expr("shiftleft(1, bucket)").cast("long").alias("min_deg"),
            "n_nodes",
        )
    )


def reciprocity(edges: DataFrame) -> DataFrame:
    """Reciprocity of the DIRECTED graph: the fraction of non-loop
    edges whose reverse edge also exists — the crawl-graph health
    metric separating link exchanges/mirrors (high) from editorial
    linking (low).  One distinct pass + one self-semi-join on the
    reversed key + exact-integer division; single-row output
    (n_edges, n_reciprocal, reciprocity)."""
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = e.join(rev, ["src", "dst"], "left_semi")
    n = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    r = recip.agg(F.count(F.lit(1)).cast("long").alias("n_reciprocal"))
    return n.crossJoin(r).select(
        "n_edges",
        "n_reciprocal",
        F.round(
            F.col("n_reciprocal").cast("double") / F.col("n_edges"), 6
        ).alias("reciprocity"),
    )


def multi_source_bfs(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 4,
    stage_dir: str | None = None,
) -> DataFrame:
    """(node, seed, dist) — minimum hop distance from EACH seed
    separately (bfs_distances collapses to "any seed"; centrality needs
    the per-seed distances).  Same frontier idiom: state rows are keyed
    (node, seed), first discovery per key = minimum distance, visited/
    frontier parquet-round-trip per level with A/B path alternation."""
    return _frontier_bfs(
        edges,
        seeds.select("node").distinct().select(
            "node", F.col("node").alias("seed"), F.lit(0).cast("int").alias("dist")
        ),
        ["node", "seed"],
        scratch_dir(stage_dir, "ddaugner_msbfs_"),
        "ms_",
        max_depth,
        [],
    )[0]


def harmonic_centrality_sample(
    edges: DataFrame,
    n_seeds: int = 3,
    max_depth: int = 4,
    stage_dir: str | None = None,
) -> DataFrame:
    """Seed-sampled harmonic centrality: C_H(v) = Σ_seeds 1/d(seed, v)
    over the ``n_seeds`` lexicographically-smallest nodes (deterministic,
    NO driver collect — the seed set stays a DataFrame), distances
    bounded at ``max_depth`` (the standard pivot-sampling estimator for
    closeness-family centralities at graph scale).

    Exactness device: with max_depth = 4, 1/d ∈ {1, 1/2, 1/3, 1/4} —
    12/d is an exact INTEGER (12 = lcm 1..4), so the per-node sum
    accumulates order-free integers and the only float is one final
    /12.0.  Returns (node, n_reached, hx12, harmonic)."""
    if max_depth != 4:
        raise ValueError("the x12 integer device requires max_depth == 4")
    # node set from both endpoint columns directly (no symmetrize — the
    # node sets are identical and multi_source_bfs builds sym itself);
    # orderBy().limit() compiles to TakeOrderedAndProject: parallel
    # per-partition top-K, no single-partition global sort
    nodes = (
        edges.select(F.col("a").alias("node"))
        .union(edges.select(F.col("b").alias("node")))
        .distinct()
    )
    seeds = nodes.orderBy("node").limit(n_seeds)
    d = multi_source_bfs(edges, seeds, max_depth=max_depth, stage_dir=stage_dir)
    reached = d.filter(F.col("dist") > 0)
    agg = reached.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("n_reached"),
        F.sum(F.expr("12 DIV dist")).cast("long").alias("hx12"),
    )
    return agg.select(
        "node", "n_reached", "hx12",
        F.round(F.col("hx12") / 12.0, 6).alias("harmonic"),
    )


def edge_support(edges: DataFrame) -> DataFrame:
    """(a, b, support): number of triangles each canonical a < b edge
    participates in (edges in no triangle get support 0).

    Same triangle enumeration as :func:`triangle_counts` (the shared
    :func:`_triangles`: each triangle once, at its minimum-(deg, node)
    vertex ``src``, with v < w), so the three member edges are
    re-canonicalized (least/greatest) and counted.  Three shuffles
    (degrees, wedges, support aggregate); no driver state."""
    e = edges.select("a", "b").distinct()
    member = _triangles(e, degrees(e)).select(
        F.explode(
            F.array(
                F.struct(
                    F.least("src", "v").alias("a"), F.greatest("src", "v").alias("b")
                ),
                F.struct(
                    F.least("src", "w").alias("a"), F.greatest("src", "w").alias("b")
                ),
                F.struct(F.col("v").alias("a"), F.col("w").alias("b")),
            )
        ).alias("m")
    ).select("m.a", "m.b")
    sup = member.groupBy("a", "b").agg(F.count(F.lit(1)).cast("long").alias("support"))
    return (
        e.join(sup, ["a", "b"], "left")
        .select(
            "a", "b", F.coalesce(F.col("support"), F.lit(0)).cast("long").alias("support")
        )
    )


def k_truss(
    edges: DataFrame,
    k: int = 4,
    max_rounds: int = 3,
    stage_dir: str | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """(a, b, support) edges of the k-TRUSS: the maximal subgraph in
    which every edge participates in ≥ k−2 triangles *within the
    subgraph* — the community-core detector one notch stronger than
    k-core (a k-truss is always inside the (k−1)-core, but filters out
    bridge edges that k-core keeps).  Cohen 2008, "Trusses: cohesive
    subgraphs for social network analysis" (public tech report).

    Iterative peel, same bounded contract as ``k_core``: per round one
    ``edge_support`` pass over the surviving edges, drop edges with
    support < k−2, stop at the fixed point or after ``max_rounds``
    (the form the SQL oracle twin unrolls; co-mention graphs — cliques
    per sentence glued at hub entities — reach the fixed point in a
    handful of rounds, asserted per-round in `stats`).  Support in the
    emitted rows is the induced support at the fixed point.

    Scale: each round is the degree-oriented triangle pass (m^{3/2}
    work bound) over a strictly-shrinking edge table, parquet
    round-tripped to truncate lineage — never localCheckpoint."""
    if stats is None:
        stats = {}
    stats["rounds"] = []
    own_dir = stage_dir is None
    stage_dir = scratch_dir(stage_dir, "ddaugner_ktruss_")

    alive = cut(edges.select("a", "b").distinct(), f"{stage_dir}/truss_0")
    n_alive = alive.count()

    def step(alive: DataFrame) -> DataFrame:
        # support within the previous survivors; the state keeps only
        # the edges that still qualify
        return edge_support(alive.select("a", "b")).filter(
            F.col("support") >= k - 2
        )

    def measure(new: DataFrame, _old: DataFrame):
        nonlocal n_alive
        n_prev, n_alive = n_alive, new.count()
        return n_alive in (n_prev, 0), {"n_edges": n_alive}

    # fixed point (or bound): the surviving edges carry the induced
    # support of the final set
    return fixpoint(
        alive, step, measure, stage_dir, "truss", max_rounds, stats["rounds"],
        own_dir=own_dir,
    ).select("a", "b", F.col("support").cast("long").alias("support"))


def wl_refinement(edges: DataFrame, rounds: int = 2) -> DataFrame:
    """(wl_label, n_nodes) — 1-Weisfeiler-Leman color refinement over
    the undirected graph: every node's label is iteratively rehashed as
    ``md5(own ‖ '|' ‖ sorted(neighbor labels))``, and the output is the
    refined color-class histogram — the graph-canonical-form device
    behind structural entity dedup / KG-neighborhood fingerprinting
    (two nodes share a color ⇒ their r-hop neighborhoods are
    WL-indistinguishable).

    Determinism: labels start as degree strings, each round is a pure
    string/md5 function of the sorted neighbor multiset
    (array_sort(collect_list) ↔ list_sort(list()) — byte-wise order is
    engine-identical on ASCII hex), so color ids match the oracle
    exactly.  Scale shape: each round is ONE edge⋈label equi-join on
    the label table's key + one node-keyed hash aggregate (the
    hits/pagerank half-step); the label table is node-sized and the
    comma-joined signature is degree-bounded per node.  Fixed
    ``rounds`` keeps the plan bounded (WL stabilizes in ≤ diameter
    rounds; 2 matches the oracle's unrolled stages).
    """
    if rounds < 1:
        raise ValueError("wl_refinement: rounds must be >= 1")
    sym = symmetrize(edges.select("a", "b").distinct())
    lbl = degrees(edges.select("a", "b").distinct()).select(
        "node", F.col("deg").cast("string").alias("lbl")
    )
    for _ in range(rounds):
        nb = (
            sym.join(lbl.select(F.col("node").alias("b"), "lbl"), "b")
            .groupBy(F.col("a").alias("node"))
            .agg(
                F.array_join(F.array_sort(F.collect_list("lbl")), ",").alias("sig")
            )
        )
        lbl = lbl.join(nb, "node").select(
            "node", F.md5(F.concat_ws("|", "lbl", "sig")).alias("lbl")
        )
    return lbl.groupBy(F.col("lbl").alias("wl_label")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )


def transitive_reduction(edges: DataFrame, max_depth: int = 8) -> DataFrame:
    """(src, dst) — transitive reduction of a DAG edge table: the
    minimal edge set with the same reachability (Aho/Garey/Ullman 1972)
    — the ontology-hygiene pass that strips redundant subsumption
    shortcuts (``subClassOf`` edges implied by the chain) before a KG
    type hierarchy ships.

    An edge is redundant iff some z has paths src→z and z→dst — i.e.
    iff (src, dst) appears in closure∘closure.  The closure comes from
    :func:`ancestor_closure`'s repeated squaring (⌈log₂ depth⌉ join
    rounds; output-bounded for bounded-depth DAGs), the composition is
    one self-join of that closure, and the verdict is one left-anti
    join of the (dimension-sized) edge table — taxonomies are
    vocabulary-scale, so every operand here broadcasts comfortably.
    """
    e = edges.select("src", "dst").distinct()
    clo = (
        ancestor_closure(
            e.select(F.col("src").alias("node"), F.col("dst").alias("parent")),
            max_depth=max_depth,
        )
        .select(F.col("node").alias("src"), F.col("anc").alias("dst"))
        .distinct()
    )
    two = (
        clo.alias("x")
        .join(clo.alias("y"), F.col("x.dst") == F.col("y.src"))
        .select(F.col("x.src").alias("src"), F.col("y.dst").alias("dst"))
        .distinct()
    )
    return e.join(two, ["src", "dst"], "left_anti")


def rich_club(
    edges: DataFrame, ks: tuple[int, ...] = (1, 2, 4, 8)
) -> DataFrame:
    """Rich-club coefficients of an undirected graph: one row per
    degree threshold k with ``(k, n_nodes, n_edges, phi)`` — phi(k) =
    2·E_{>k} / (N_{>k}·(N_{>k}−1)), the edge density among the nodes of
    degree > k.  phi(k) ≫ the graph's global density says the hubs form
    a club (they preferentially link to each other) — exactly the
    hub-entity structure the kg_construct skew handling exists for, so
    this is the diagnostic that MEASURES it.  N_{>k} < 2 ⇒ the -1.0
    sentinel.

    Edges are distinct a < b rows.  One degree aggregate; each edge
    picks up both endpoint degrees from the broadcast degree dimension
    in one pass, and ALL thresholds are conditional sums inside one
    aggregate (the edge table is touched once regardless of |ks|).
    """
    deg = degrees(edges).withColumnRenamed("node", "v")
    ncnt = deg.agg(
        *[
            F.sum((F.col("deg") > k).cast("long"))
            .cast("long")
            .alias(f"_n_{k}")
            for k in ks
        ]
    )
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("db"))
    ecnt = (
        edges.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .agg(
            *[
                F.sum(
                    ((F.col("da") > k) & (F.col("db") > k)).cast("long")
                )
                .cast("long")
                .alias(f"_e_{k}")
                for k in ks
            ]
        )
    )
    row = ncnt.crossJoin(ecnt)
    structs = []
    for k in ks:
        n = F.col(f"_n_{k}")
        e = F.col(f"_e_{k}")
        phi = F.when(
            n >= 2, F.round(2 * e / (n * (n - 1)), 6)
        ).otherwise(F.lit(-1.0))
        structs.append(
            F.struct(
                F.lit(k).cast("long").alias("k"),
                n.alias("n_nodes"),
                e.alias("n_edges"),
                phi.alias("phi"),
            )
        )
    return row.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def hub_robustness(
    edges: DataFrame, k: int = 3, stage_dir: str | None = None
) -> DataFrame:
    """Hub-removal robustness probe: two rows ``(phase, n_nodes,
    n_edges, n_components, largest)`` for the full graph and the graph
    with its top-k degree hubs deleted (ties → lexicographic node).  A
    graph whose component count explodes when k hubs leave is held
    together by exactly the entities the kg_construct skew handling
    salts — this MEASURES how load-bearing the hubs are (percolation /
    attack-tolerance, Albert-Barabási style).

    Edges are distinct a < b strings.  One degree aggregate picks the
    hubs (top-k window on the node-sized table); the filtered graph is
    two hash anti-joins; components come from the same CC operator
    the canonicalizer uses, so the probe exercises the
    production path twice on graph-sized inputs.
    """
    deg = degrees(edges).withColumnRenamed("node", "v")
    w = Window.orderBy(F.col("deg").desc(), F.col("v").asc())
    hubs = (
        deg.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("v")
    )
    cut = (
        edges.join(hubs, edges["a"] == hubs["v"], "left_anti")
        .join(hubs, F.col("b") == hubs["v"], "left_anti")
        .select("a", "b")
    )

    def _stats(e: DataFrame, phase: str, sub: str) -> DataFrame:
        comps = canonical.connected_components(
            e, stage_dir=None if stage_dir is None else f"{stage_dir}/{sub}"
        )
        sizes = comps.groupBy("component").agg(
            F.count(F.lit(1)).cast("long").alias("size")
        )
        cstats = sizes.agg(
            F.count(F.lit(1)).cast("long").alias("n_components"),
            F.coalesce(F.max("size"), F.lit(0))
            .cast("long")
            .alias("largest"),
        )
        estats = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
        nstats = comps.agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes")
        )
        return (
            nstats.crossJoin(estats)
            .crossJoin(cstats)
            .select(
                F.lit(phase).alias("phase"),
                "n_nodes",
                "n_edges",
                "n_components",
                "largest",
            )
        )

    return _stats(edges, "full", "full").unionByName(
        _stats(cut, "hubs_removed", "cut")
    )


def neighborhood_function(
    edges: DataFrame,
    rounds: int = 4,
    k: int = 32,
    stage_dir: str | None = None,
) -> DataFrame:
    """HyperBall-style neighborhood function (Boldi & Vigna WWW'13 —
    HyperBall runs HyperLogLog counters; this runs the repo's
    DETERMINISTIC KMV sketches, same merge algebra): per radius r,
    the estimated number of (node, reachable-node) pairs within r
    hops, ``(r, nf_est)`` for r = 0..``rounds`` — THE statistic behind
    effective-diameter / "degrees of separation" readouts at web
    scale, where exact per-node BFS closures are quadratic and
    sketches are the only game.

    Per node, a KMV sketch of its ball: the k smallest 32-bit md5
    hashes of reached nodes.  One round merges every neighbor's
    sketch — flatten → distinct → sort → first k, the exact KMV union
    — so round r's sketch covers B(v, r) exactly like HyperBall's
    counter union.  |ball| estimate: the sketch itself while it holds
    < k hashes (EXACT count, collision-merged), else the classic
    (k−1)/u_k with u_k the k-th smallest normalized hash.  Per-node
    estimates are rounded ONCE to integers and integer-summed (no
    float accumulation); every hash is md5-derived so the whole run
    replays bit-identically in SQL and survives repartition.

    Scale shape: one shuffle per round on the node key (the HyperBall
    plan — state is nodes × k hashes, never pair-sized); each round is
    parquet-round-tripped under ``stage_dir`` (lineage truncation, the
    CC checkpoint contract).  Collisions in the 32-bit hash space
    merge identically on both engines (a slight undercount, exactly as
    sketch theory prices in).
    """
    stage_dir = scratch_dir(stage_dir, "ddaugner_nf_")

    nodes = (
        edges.select(F.col("a").alias("node"))
        .unionByName(edges.select(F.col("b").alias("node")))
        .distinct()
    )
    h = F.conv(F.substring(F.md5("node"), 1, 8), 16, 10).cast("long")
    cur = cut(nodes.select("node", F.array(h).alias("sk")), f"{stage_dir}/nf_0")
    sym = cut(
        edges.select(F.col("a").alias("node"), F.col("b").alias("nb"))
        .unionByName(edges.select(F.col("b").alias("node"), F.col("a").alias("nb")))
        .unionByName(nodes.select("node", F.col("node").alias("nb")))
        .distinct(),
        f"{stage_dir}/nf_sym",
    )

    # per-node estimate, rounded once to a long; 133143986176 = (k−1)·2³²
    scale = float((k - 1) * 4294967296)
    est = F.when(F.size("sk") < k, F.size("sk").cast("long")).otherwise(
        F.round(F.lit(scale) / F.element_at("sk", k), 0).cast("long")
    )

    def nf_row(df: DataFrame, r: int) -> DataFrame:
        return df.agg(
            F.lit(r).cast("long").alias("r"),
            F.sum(est).cast("long").alias("nf_est"),
        ).select("r", "nf_est")

    out = nf_row(cur, 0)
    for r in range(1, rounds + 1):
        merged = (
            sym.join(cur.select(F.col("node").alias("nb"), "sk"), "nb")
            .groupBy("node")
            .agg(
                F.slice(
                    F.array_sort(F.array_distinct(F.flatten(F.collect_list("sk")))),
                    1,
                    k,
                ).alias("sk")
            )
        )
        # one dir PER ROUND: the returned union lazily reads every
        # round's parquet at collection time, so rounds must not
        # overwrite each other (sketch tables are node×k — tiny)
        cur = cut(merged, f"{stage_dir}/nf_r{r}")
        out = out.unionByName(nf_row(cur, r))
    return out


def effective_diameter(nf: DataFrame, q: float = 0.9) -> DataFrame:
    """Effective diameter at quantile ``q`` from a neighborhood-
    function table ``(r, nf_est)`` — the readout HyperBall exists for
    ("90% of connected pairs are within d_eff hops"): the smallest r
    with nf(r) ≥ q·nf(r_max), linearly interpolated between r−1 and r
    (Boldi & Vigna's convention), 0.0 if radius 0 already crosses.

    One row out; the window runs on the rounds-sized nf table (≤ a
    dozen rows however big the graph), the broadcast carries one
    scalar — nothing here touches corpus-scale data.
    """
    mx = nf.agg(F.max("nf_est").alias("nf_max"))
    w = Window.orderBy("r")
    crossing = (
        nf.withColumn("prev", F.coalesce(F.lag("nf_est").over(w), F.lit(0)))
        .crossJoin(F.broadcast(mx))
        .withColumn("thr", F.col("nf_max") * F.lit(q))
        .filter(F.col("nf_est") >= F.col("thr"))
        .orderBy("r")
        .limit(1)
    )
    return crossing.select(
        "nf_max",
        F.round(
            F.when(F.col("r") == 0, F.lit(0.0)).otherwise(
                F.col("r") - 1
                + (F.col("thr") - F.col("prev"))
                / (F.col("nf_est") - F.col("prev"))
            ),
            6,
        ).alias("eff_diameter"),
    )


def minimum_spanning_forest(
    edges: DataFrame,
    weight_col: str = "w",
    max_rounds: int = 20,
    stage_dir: str | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Minimum spanning forest by distributed Borůvka (1926; the
    MapReduce formulation) — the weighted counterpart of connected
    components and the classic O(log V)-round MST at scale, where
    Kruskal's sequential union-find cannot run.

    Per round: every current component picks its minimum outgoing edge
    under the strict total edge order ``(w, a, b)`` (with distinct
    weights that is the unique MST; with ties a consistent total order
    keeps Borůvka cycle-free — the standard argument), picked edges
    join the forest, and components CONTRACT IN COMPONENT SPACE
    (round-6 rewrite; VERDICT r5 #2): the picked edges, read as
    ``(component, partner-component)`` parent pointers, form a
    pseudoforest whose only cycles are 2-cycles (two components whose
    mutual min edge is the same — the classic Borůvka argument under a
    strict total order).  Labelling each pseudotree as one component
    contracts the round.  The new labels compose with the old ones
    directly on the live-edge endpoints (``ca``/``cb`` already carry
    the previous round's labels), so NO full-forest connected-
    components run is needed — rounds ≤ 5 re-ran hash-min CC over the
    ENTIRE accumulated forest every round (5 × sym/init/iterate
    parquet ladders on the bench graph; the contraction graph here is
    component-sized and halves per round).  Label VALUES differ by
    branch (min member on the kernel branch, pseudotree root on the
    doubling branch) but only the PARTITION they induce is ever
    consumed — picks group by it, live edges drop intra-component rows
    by it — so the picked edge set, the per-round live counts and the
    forest are bit-identical.

    Scale shape: each round is one component-keyed packed-argmin
    aggregate (``min(struct(w, a, b, cb))`` — map-side combinable)
    over the live edge set, contraction of the component-sized parent
    table, and two label joins onto the live edges (broadcast while
    the component table is small, shuffle above
    :data:`~ddaugner_spark.operators.canonical.
    BROADCAST_AUTO_THRESHOLD` — the honest big-graph path).  The
    contraction is branch-matched to the same threshold: at or below
    it the parent table is executor-memory-sized (it is broadcast
    whole into the relabel joins), so its ``(component, partner)``
    rows stream through canonical's single-task union-find kernel
    (:func:`~ddaugner_spark.operators.canonical.union_find`, the one
    ``connected_components`` runs) in one job — the O(log chain)
    broadcast-join + convergence-count ladder it replaces was ~6
    driver-scheduled jobs per round over a tiny table (round-6 A/B:
    jump phase 8.0 s → 0.07 s, leg 15.1 → 9.1 s warm standalone);
    above the threshold each mutual-min 2-cycle is re-rooted at its
    smaller member and the distributed pointer-doubling ladder runs
    to the roots.  The live
    table parquet-round-trips once per round: the FULL lineage cut is
    what keeps per-round planning cost constant (measured A/B: a lazy
    live chain, even with linear plan growth and every intermediate
    persisted, doubled the round walls by round 4 from planning/
    canonicalization cost alone; self-join chains additionally double
    the LOGICAL plan per jump — a driver treeString OOM without any
    cut).  The live set shrinks geometrically, so total write volume
    ≤ 2× the input.  Each materialized doubling step composes TWO
    pointer jumps (4× chain compression per convergence count — the
    count job, not the join, is the per-step cost at bench scale),
    parquet-cut every 3 steps for deep chains.
    Output: the forest's original ``(a, b, w)`` edges, cut into one
    parquet table under ``stage_dir``.  Nothing is persisted: keeping
    the per-round pick and label tables was no faster cold than
    recomputing them from the live cut on either branch
    (docs/PLANS.md, "One scoped persist").

    The Borůvka FIXPOINT itself is not SQL-replayable (union-find
    state), but the RESULT is: under a strict total edge order,
    e ∈ MSF ⟺ e's endpoints are not connected using strictly smaller
    edges (the cut/cycle property — Kruskal's invariant), which the
    DuckDB oracle checks with a per-edge bounded reachability CTE;
    pytest pins a Kruskal differential on top.
    """
    stage_dir = scratch_dir(stage_dir, "ddaugner_msf_")

    # live edge state: component endpoints (ca, cb) + original
    # normalized endpoints (a, b) + weight; components start as selves.
    # Round 1 reads the (shallow-plan) input directly; later rounds are
    # parquet-backed (see docstring).
    live = (
        edges.select(
            F.least(F.col("a").cast("string"), F.col("b").cast("string"))
            .alias("a"),
            F.greatest(F.col("a").cast("string"), F.col("b").cast("string"))
            .alias("b"),
            F.col(weight_col).cast("double").alias("w"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .select(F.col("a").alias("ca"), F.col("b").alias("cb"),
                "a", "b", "w")
    )
    picks: list[DataFrame] = []
    rounds = []
    for r in range(1, max_rounds + 1):
        _t0 = time.time()
        n_live = live.count()
        if n_live == 0:
            break
        round_stat = {"round": r, "n_live": n_live,
                      "live_count_sec": round(time.time() - _t0, 3)}
        rounds.append(round_stat)
        both = live.select("ca", "cb", "w", "a", "b").unionByName(
            live.select(F.col("cb").alias("ca"), F.col("ca").alias("cb"),
                        "w", "a", "b")
        )
        # packed argmin per component; cb rides along to give the
        # parent pointer ((w, a, b) is unique, so cb never tiebreaks)
        pick = (
            both.groupBy("ca")
            .agg(F.min(F.struct("w", "a", "b", "cb")).alias("m"))
            .select(
                "ca",
                F.col("m.a").alias("a"), F.col("m.b").alias("b"),
                F.col("m.w").alias("w"), F.col("m.cb").alias("par"),
            )
        )
        picks.append(pick.select("a", "b", "w"))

        # contract: the picks, read as (component → partner component)
        # parent pointers, form a pseudoforest whose only cycles are
        # mutual-min 2-cycles; map every component to one label per
        # pseudotree.  pick is NOT counted separately — the contraction
        # materializes it en route (one job fewer per round).
        bcast = n_live <= canonical.BROADCAST_AUTO_THRESHOLD
        _t0 = time.time()
        if bcast:
            # the pointer table is executor-memory-sized on this branch
            # (|pick| ≤ 2·n_live): stream it through canonical's
            # single-task union-find kernel, which labels each
            # pseudotree by its min member in one job (a 2-cycle is two
            # unions) instead of O(log chain) join + convergence-count
            # rounds — each 2-3 driver-scheduled jobs over a tiny table,
            # where the job floor, not the data, was the round wall
            # (round-6 A/B: 8.0 s jump phase → one job)
            lab = (
                pick.select(F.col("ca").alias("a"), F.col("par").alias("b"))
                .repartition(1)
                .mapInPandas(canonical.union_find, "entity string, component string")
                .select(F.col("entity").alias("node"),
                        F.col("component").alias("par"))
            )
            # not counted here: the kernel runs inside the relabel cut,
            # which relabel_sec bills
            round_stat["n_jumps"] = 0
        else:
            # distributed pointer doubling (the honest big-graph path):
            # re-root each mutual-min 2-cycle at its smaller member, so
            # the only cycles left are self-loops, then jump to roots
            par = pick.select(F.col("ca").alias("node"), "par")
            gpar = par.select(F.col("node").alias("par"),
                              F.col("par").alias("gpar"))
            lab = par.join(gpar, "par").select(
                "node",
                F.when(
                    (F.col("gpar") == F.col("node"))
                    & (F.col("node") < F.col("par")),
                    F.col("node"),
                ).otherwise(F.col("par")).alias("par"),
            )

            def _hop(f: DataFrame) -> DataFrame:
                """par(v) ← par(par(v)) — one pointer jump."""
                g = f.select(F.col("node").alias("par"),
                             F.col("par").alias("g"))
                return f.join(g, "par").select("node", F.col("g").alias("par"))

            # two jumps per materialized step (4× chain compression per
            # convergence count); the self-join doubles the logical
            # plan per jump, so parquet-cut every 3 steps (rarely
            # reached — pseudotree chains are short) to alternating
            # dirs, since the chain being cut reads the previous one
            jumps = 0
            while True:
                mid = _hop(lab)
                g2 = mid.select(F.col("node").alias("par"),
                                F.col("par").alias("g"))
                nxt = (
                    mid.join(g2, "par")
                    .select(
                        "node", F.col("g").alias("par"),
                        (F.col("g") != F.col("par")).alias("chg"),
                    )
                )
                n_chg = nxt.filter("chg").count()
                lab = nxt.select("node", "par")
                jumps += 1
                if n_chg == 0:
                    break
                if jumps % 3 == 0:
                    lab = cut(lab, f"{stage_dir}/jump_{r}_{jumps // 3 % 2}")
            round_stat["n_jumps"] = jumps
        round_stat["jump_sec"] = round(time.time() - _t0, 3)
        _t0 = time.time()

        # compose: relabel live endpoints through the contraction map,
        # then parquet-cut the live table — the full truncation resets
        # every plan the next round builds on (measured: letting the
        # live chain grow lazily, even linearly, doubled the round
        # walls by round 4 from planning/canonicalization cost alone).
        # The label table broadcasts while it is executor-memory-sized
        # (same threshold + rationale as canonical.connected_components)
        if bcast:
            lab = F.broadcast(lab)
        live = cut(
            live.join(
                lab.select(F.col("node").alias("ca"),
                           F.col("par").alias("nca")),
                "ca", "left",
            )
            .join(
                lab.select(F.col("node").alias("cb"),
                           F.col("par").alias("ncb")),
                "cb", "left",
            )
            .select(
                F.coalesce("nca", "ca").alias("ca"),
                F.coalesce("ncb", "cb").alias("cb"),
                "a", "b", "w",
            )
            .filter(F.col("ca") != F.col("cb")),
            f"{stage_dir}/live_{r}",
        )
        round_stat["relabel_sec"] = round(time.time() - _t0, 3)
    if stats is not None:
        stats["rounds"] = rounds
    forest = live.select("a", "b", "w").limit(0)
    for p in picks:
        forest = forest.unionByName(p)
    # one forest-sized table backs the result.  A mutual-min edge is
    # picked by both its components; no edge is picked in two rounds
    # (its endpoints then share a component), so one distinct over the
    # union dedups every round.
    return cut(forest.distinct(), f"{stage_dir}/forest")


def single_link_clusters(
    forest: DataFrame,
    threshold: float,
    stage_dir: str | None = None,
) -> DataFrame:
    """Single-linkage clustering at distance ``threshold``, cut from a
    minimum spanning forest — the SLINK/dendrogram semantics (Sibson
    1973) in the MST formulation every distributed implementation uses.

    Single-linkage clusters at threshold t are EXACTLY the connected
    components of the ≤t subgraph of the full graph, and by the cycle
    property the MSF preserves per-threshold connectivity (the forest
    path between the endpoints of any graph edge (u, v, w) uses only
    edges ≤ w), so cutting the FOREST at t gives the same components —
    that equivalence is what makes this scale: compute
    :func:`minimum_spanning_forest` once (O(log V) Borůvka rounds over
    the full edge set), then EVERY threshold is a filter plus a
    forest-sized (≤ V−1 edges) hash-min CC, never re-touching the
    O(E) co-mention edges.  Pinned in tests by a union-find
    differential on the thresholded FULL graph.

    Input is the ``(a, b, w)`` forest; output ``(entity, cluster)``
    with cluster = min member id, forest nodes only (nodes whose every
    forest edge is cut stay as singletons).
    """
    kept = forest.filter(F.col("w") <= F.lit(float(threshold)))
    labels = canonical.connected_components(kept.select("a", "b"), stage_dir=stage_dir)
    nodes = (
        forest.select(F.col("a").alias("entity"))
        .unionByName(forest.select(F.col("b").alias("entity")))
        .distinct()
    )
    return nodes.join(labels, "entity", "left").select(
        "entity", F.coalesce("component", "entity").alias("cluster")
    )


def densest_subgraph(
    edges: DataFrame,
    eps: float = 1.0,
    max_rounds: int = 12,
    stage_dir: str | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Densest-subgraph 2(1+ε)-approximation by greedy bulk peeling
    (Bahmani, Kumar & Vassilvitskii, VLDB'12) — the MapReduce-round
    answer to Goldberg's exact max-flow formulation, which cannot run
    distributed.  Finds the community core of the co-mention graph
    (the spam/boilerplate-cluster detector at crawl scale: template
    link farms surface as abnormally dense subgraphs).

    Per round over the current node set S: density ρ = \\|E(S)\\|/\\|S\\|,
    remove every node with induced degree ≤ 2(1+ε)ρ (at least an
    ε/(1+ε) fraction — avg degree is 2ρ — so O(log_{1+ε} V) rounds),
    remember the best-ρ round; return its node set.  Each round is one
    degree aggregate (map-side combinable) and two semi-joins to
    induce the surviving edge set, with a parquet round-trip cutting
    lineage; the best round's node set is re-read from its checkpoint,
    so the driver holds only counters.

    DETERMINISM/REPLAY: integer degrees compare against the threshold
    computed as ``(2.0·(1+ε)·m)/n`` in IEEE double — the identical
    expression order the DuckDB oracle unrolls round-by-round, so the
    peel sequence matches exactly; best round = strictly-greater ρ,
    earliest wins (oracle: ORDER BY density DESC, round ASC LIMIT 1).
    Output: ``(entity, density)`` — members of the best round's node
    set with its (round-6) density.
    """
    spark = edges.sparkSession
    own_dir = stage_dir is None
    stage_dir = scratch_dir(stage_dir, "ddaugner_dsg_")

    live = cut(
        edges.select(
            F.col("a").cast("string").alias("a"),
            F.col("b").cast("string").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct(),
        f"{stage_dir}/e_0",
    )
    nodes = cut(
        live.select(F.col("a").alias("node"))
        .unionByName(live.select(F.col("b").alias("node")))
        .distinct(),
        f"{stage_dir}/n_0",
    )
    best_rho, best_round, rounds = None, None, []
    for r in range(max_rounds + 1):
        m = live.count()
        n = nodes.count()
        if m == 0 or n == 0:
            break
        rho = m / n
        rounds.append({"round": r, "n": n, "m": m, "density": rho})
        if best_rho is None or rho > best_rho:
            best_rho, best_round = rho, r
        if r == max_rounds:
            break
        thr = (2.0 * (1.0 + eps) * m) / n
        deg = (
            live.select(F.col("a").alias("node"))
            .unionByName(live.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        nodes = cut(
            deg.filter(F.col("deg") > F.lit(thr)).select("node"),
            f"{stage_dir}/n_{r + 1}",
        )
        keep_a = nodes.select(F.col("node").alias("a"))
        keep_b = nodes.select(F.col("node").alias("b"))
        live = cut(
            live.join(keep_a, "a", "left_semi").join(keep_b, "b", "left_semi"),
            f"{stage_dir}/e_{r + 1}",
        )
    if stats is not None:
        stats["rounds"] = rounds
        stats["best_round"] = best_round
    if own_dir:
        keep_only(stage_dir, [] if best_round is None else [f"n_{best_round}"])
    if best_round is None:
        return spark.createDataFrame([], "entity string, density double")
    return spark.read.parquet(f"{stage_dir}/n_{best_round}").select(
        F.col("node").alias("entity"),
        F.round(F.lit(best_rho), 6).alias("density"),
    )


def _local_min_rounds(
    edges: DataFrame,
    max_rounds: int,
    stage_dir: str | None,
    stats: dict | None,
    name: str,
    col: str,
    pending_key: str,
    drop_neighbours: bool,
) -> DataFrame:
    """The round loop behind :func:`luby_mis` and :func:`jp_coloring`
    (their docstrings give the algorithms).  Per round, every pending
    node whose ``md5(node) || node`` priority is a strict minimum over
    its pending neighbours wins, tagged ``col`` = round index; winners
    leave the pending set, and with ``drop_neighbours`` their
    neighbours too.  One neighbour-min aggregate over the live
    (both-ends-pending) edges, then anti/semi-joins shrink both
    tables.

    Winner cuts ``{name}_{r}`` back the result and stay; the pending
    and live tables alternate between ``{name}_pending_{0,1}`` and
    ``{name}_live_{0,1}``, removed on return when the dir is the
    operator's own.  Appends ``{round, pending_key, won}`` per round
    to ``stats["rounds"]``.  Output: ``(entity, col)``."""
    own_dir = stage_dir is None
    stage_dir = scratch_dir(stage_dir, f"ddaugner_{name}_")

    def _prio(c):
        return F.concat(F.md5(c), c)

    base = edges.select(
        F.col("a").cast("string").alias("a"),
        F.col("b").cast("string").alias("b"),
    ).filter(F.col("a") != F.col("b"))
    live = cut(
        base.unionByName(
            base.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).distinct(),
        f"{stage_dir}/{name}_live_0",
    )
    pending = cut(
        live.select(F.col("a").alias("node")).distinct(),
        f"{stage_dir}/{name}_pending_0",
    )
    wins, rounds = [], []
    for r in range(max_rounds):
        n_pending = pending.count()
        if n_pending == 0:
            break
        nb_min = live.groupBy(F.col("a").alias("node")).agg(
            F.min(_prio(F.col("b"))).alias("nb_prio")
        )
        win = (
            pending.join(nb_min, "node", "left")
            .filter(
                F.col("nb_prio").isNull()
                | (_prio(F.col("node")) < F.col("nb_prio"))
            )
            .select("node", F.lit(r).cast("long").alias(col))
        )
        win = cut(win, f"{stage_dir}/{name}_{r}")
        rounds.append({"round": r, pending_key: n_pending, "won": win.count()})
        wins.append(win)
        removed = win.select("node")
        if drop_neighbours:
            removed = removed.unionByName(
                live.join(
                    win.select(F.col("node").alias("a")), "a", "left_semi"
                ).select(F.col("b").alias("node"))
            ).distinct()
        pending = cut(
            pending.join(removed, "node", "left_anti"),
            f"{stage_dir}/{name}_pending_{(r + 1) % 2}",
        )
        live = cut(
            live.join(pending.select(F.col("node").alias("a")), "a", "left_semi")
            .join(pending.select(F.col("node").alias("b")), "b", "left_semi"),
            f"{stage_dir}/{name}_live_{(r + 1) % 2}",
        )
    if stats is not None:
        stats["rounds"] = rounds
    if own_dir:
        keep_only(stage_dir, [f"{name}_{r}" for r in range(len(wins))])
    if not wins:
        return edges.sparkSession.createDataFrame([], f"entity string, {col} long")
    return reduce(DataFrame.unionByName, wins).select(
        F.col("node").alias("entity"), col
    )


def luby_mis(
    edges: DataFrame,
    max_rounds: int = 12,
    stage_dir: str | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Maximal independent set by Luby's algorithm (Luby 1986, the
    symmetry-breaking primitive of distributed graph computing;
    O(log V) rounds w.h.p.) with the repo's determinism contract:
    the random priority is ``md5(node) || node`` — a pure function of
    row identity (no RNG; the fixed-width md5 prefix makes plain
    string comparison ≡ the (hash, node) tuple order), so the chosen
    set survives repartition/resume and the DuckDB oracle replays the
    exact rounds.

    Per round, every undecided node whose priority is a strict local
    minimum among its undecided neighbors joins the MIS; winners and
    their neighbors leave the undecided set.  The rounds run in
    :func:`_local_min_rounds`: ONE neighbor-min aggregate (map-side
    combinable) over the live edge set + joins to shrink it; parquet
    round-trips cut lineage.  No two adjacent nodes can both win a
    round (one of them has the larger priority) ⇒ independence; a node
    only leaves undecided by winning or having a winning neighbor ⇒
    maximality at the fixpoint.  The global minimum always wins ⇒ progress.

    Input: canonical ``(a, b)`` edges; universe = edge endpoints.
    Output: ``(entity, round)`` — MIS members and the round they won.
    """
    return _local_min_rounds(
        edges, max_rounds, stage_dir, stats, "mis", "round", "undecided", True
    )


def partition_edge_cut(edges: DataFrame, ks: list[int] = (4, 8, 16)) -> DataFrame:
    """Expected shuffle/communication volume of hash-partitioning the
    graph: for each executor count k, the fraction of edges whose
    endpoints land on different workers under the md5 vertex partition
    — the standard edge-cut readout that prices a 1000-executor
    Pregel/GraphX layout before running it (random vertex-cut lower
    bound: 1 − 1/k).  One map-only projection per k folded into a
    single pass (the k memberships are independent columns) + one
    3-row aggregate; the edge set is scanned ONCE for all k.

    Output: ``(k, edges, cut_edges, cut_frac)``, cut_frac round-6.
    """

    def _part(c, k):
        return (
            F.conv(F.substring(F.md5(c), 1, 12), 16, 10).cast("long") % k
        )

    base = edges.select(
        F.col("a").cast("string").alias("a"),
        F.col("b").cast("string").alias("b"),
    ).filter(F.col("a") != F.col("b"))
    flags = base.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("long").alias("k"),
                        (_part(F.col("a"), k) != _part(F.col("b"), k))
                        .cast("long")
                        .alias("cut"),
                    )
                    for k in ks
                ]
            )
        ).alias("e")
    )
    return (
        flags.groupBy(F.col("e.k").alias("k"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("edges"),
            F.sum("e.cut").cast("long").alias("cut_edges"),
        )
        .select(
            "k",
            "edges",
            "cut_edges",
            F.round(F.col("cut_edges") / F.col("edges"), 6).alias("cut_frac"),
        )
    )


def jp_coloring(
    edges: DataFrame,
    max_rounds: int = 16,
    stage_dir: str | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Greedy distance-1 graph coloring by iterated independent sets
    (the Jones–Plassmann 1993 schedule with the repo's deterministic
    md5||node priorities): per round, every UNCOLORED node whose
    priority is a strict local minimum among its uncolored neighbors
    takes color = round index.  Two adjacent nodes can never win the
    same round (one has the larger priority) ⇒ the coloring is proper;
    only winners leave, so the fixpoint colors every node.  The use:
    conflict-free scheduling of KG mutations — all nodes of one color
    commit concurrently.

    The same round loop as :func:`luby_mis`, :func:`_local_min_rounds`
    (ONE neighbor-min aggregate + joins; parquet round-trips cut
    lineage), except winners' NEIGHBORS stay in play — so rounds = the
    longest priority-decreasing path, O(log V / log log V) w.h.p. for
    random priorities rather than Luby's O(log V).

    Output: ``(entity, color)``; nodes still uncolored after
    ``max_rounds`` are omitted (the SQL twin unrolls the same bound).
    """
    return _local_min_rounds(
        edges, max_rounds, stage_dir, stats, "jp", "color", "uncolored", False
    )


def betweenness_sampled(
    edges: DataFrame,
    sources: DataFrame,
    max_depth: int = 3,
    ndigits: int = 6,
    stage_dir: str | None = None,
) -> DataFrame:
    """(node, bc) — Brandes (2001) betweenness dependency accumulated
    from the ``sources`` sample over the undirected graph, truncated at
    ``max_depth`` hops (the k-betweenness of Pfeffer & Carley): for
    each source s, the forward sweep counts shortest paths σ_s(v)
    level-synchronously, the backward sweep folds dependencies
    δ_s(v) = Σ_{w: v→w, d(w)=d(v)+1} σ_s(v)/σ_s(w) · (1+δ_s(w)) from
    the deepest level up, and bc(v) = Σ_s δ_s(v).  Sampling sources
    (Brandes–Pich) is THE scalable form — exact betweenness is
    all-pairs and dead at crawl scale; bounded depth keeps both the
    frontier fan-out and the SQL-twin unroll finite.

    Shape at scale: each forward level joins ONLY the (src, frontier)
    rows against the symmetric edge table — work proportional to edges
    incident to the frontier, multi-source batched in one job (src is
    just a key column); each backward level is one join + one
    (src, v)-keyed sum.  Levels parquet-round-trip (constant plan
    depth, the BFS/CC idiom).  The only floats are the σ-ratio
    divisions of exact longs and the per-level dependency sums,
    rounded at render.

    Output: every node discovered at depth ≥ 1 from some source (plus
    sampled sources discovered by other sources), with bc = 0.0 for
    pure leaves.  Nodes beyond ``max_depth`` of every source are
    absent.
    """
    spark = edges.sparkSession
    own_dir = stage_dir is None
    stage_dir = scratch_dir(stage_dir, "ddaugner_bc_")

    sym = cut(symmetrize(edges).repartition("a"), f"{stage_dir}/sym")
    lvl0 = sources.select("node").distinct().select(
        F.col("node").alias("src"),
        F.col("node"),
        F.lit(1).cast("long").alias("sigma"),
    )
    levels = [cut(lvl0, f"{stage_dir}/lvl_0")]
    visited = levels[0].select("src", "node")
    for depth in range(1, max_depth + 1):
        fr = levels[-1]
        nxt = (
            sym.join(fr, sym.a == fr.node)
            .groupBy("src", F.col("b").alias("node"))
            .agg(F.sum("sigma").cast("long").alias("sigma"))
            .join(visited, ["src", "node"], "left_anti")
        )
        nxt = cut(nxt, f"{stage_dir}/lvl_{depth}")
        if nxt.isEmpty():
            break
        levels.append(nxt)
        visited = cut(
            visited.unionByName(nxt.select("src", "node")),
            f"{stage_dir}/visited_{depth % 2}",
        )
    # backward dependency accumulation, deepest level first
    deepest = levels[-1].select(
        "src", "node", "sigma", F.lit(0.0).alias("delta")
    )
    parts = []
    if len(levels) > 1:
        parts.append(deepest.select("src", "node", "delta"))
    w_tbl = deepest
    for d in range(len(levels) - 1, 0, -1):
        v_tbl = levels[d - 1]
        contrib = (
            w_tbl.alias("w")
            .join(sym.alias("e"), F.col("w.node") == F.col("e.b"))
            .join(
                v_tbl.alias("v"),
                (F.col("v.src") == F.col("w.src"))
                & (F.col("v.node") == F.col("e.a")),
            )
            .groupBy(F.col("v.src").alias("src"), F.col("v.node").alias("node"))
            .agg(
                F.sum(
                    F.col("v.sigma").cast("double")
                    / F.col("w.sigma").cast("double")
                    * (F.lit(1.0) + F.col("w.delta"))
                ).alias("delta")
            )
        )
        # leaves of this level (no shortest-path successor) keep δ = 0
        lvl_delta = (
            v_tbl.join(contrib, ["src", "node"], "left")
            .select(
                "src",
                "node",
                v_tbl["sigma"],
                F.coalesce("delta", F.lit(0.0)).alias("delta"),
            )
        )
        # one file per level: the parts list holds lazy readers of every
        # delta table, so names must never be reused (no A/B churn)
        lvl_delta = cut(lvl_delta, f"{stage_dir}/delta_{d}")
        if d > 1:
            parts.append(lvl_delta.select("src", "node", "delta"))
        w_tbl = lvl_delta
    if own_dir:
        # the parts read the deepest level and the delta tables above
        # level 1
        keep_only(stage_dir, [
            f"lvl_{len(levels) - 1}",
            *(f"delta_{d}" for d in range(2, len(levels))),
        ] if parts else [])
    if not parts:
        return spark.createDataFrame([], "node string, bc double")
    allparts = reduce(DataFrame.unionByName, parts)
    return allparts.groupBy("node").agg(
        F.round(F.sum("delta"), ndigits).alias("bc")
    )


def katz(
    edges: DataFrame,
    depth: int = 3,
    beta_denom: int = 4,
    ndigits: int = 9,
) -> DataFrame:
    """(node, katz) — Katz centrality (Katz, Psychometrika 1953)
    truncated at walk length ``depth``: katz(v) = Σ_{k=1..depth}
    β^k · |walks of length k ending at v| with β = 1/``beta_denom``.
    The prestige score PageRank's degree normalization can't express —
    a node pointed at by well-pointed-at nodes scores high even when
    those pointers also point everywhere else (no out-degree split),
    the classic citation/endorsement semantics for entity-page priors.

    Determinism design: walk COUNTS are integers, so the whole series
    is computed in exact BIGINT arithmetic over the common denominator
    β^depth — katz_int(v) = Σ_k walks_k(v) · beta_denom^(depth−k) —
    and divided by beta_denom^depth exactly once at the end (the HITS
    integer-power-iteration device: both engines sum the same longs
    and perform one IEEE division per node, so output is reproducible
    bit-for-bit at any depth).

    Scale shape: per level ONE equi-join of the edge table with the
    O(|V|) count table on the walk frontier + one partial-aggregable
    groupBy on the destination.  The count table ALWAYS broadcasts
    (hosts-sized graphs), so the edge table is scanned map-side, never
    exchanged.  Fixed ``depth`` keeps the lazy plan
    bounded.  Overflow bound: walks_k ≤ (max indeg)^k must stay under
    2^63/beta_denom^depth — at depth 3 / denom 4 that allows indeg up
    to ~5·10^5; truncate hot in-degrees or lower depth past that.
    """
    if depth < 1:
        raise ValueError("katz: depth must be >= 1")
    e = edges.select("src", "dst").distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # walks_1(v) = indeg(v); level k: walks_k(v) = Σ_{u→v} walks_{k-1}(u)
    acc = None  # (node, katz_int)
    w = e.groupBy(F.col("dst").alias("node")).agg(
        F.count("*").cast("long").alias("w")
    )
    for k in range(1, depth + 1):
        coef = beta_denom ** (depth - k)
        term = w.select("node", (F.col("w") * F.lit(coef)).cast("long").alias("ki"))
        acc = (
            term
            if acc is None
            else acc.unionByName(term)
            .groupBy("node")
            .agg(F.sum("ki").cast("long").alias("ki"))
        )
        if k < depth:
            wb = F.broadcast(w)
            w = (
                e.join(wb, e.src == wb.node)
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum("w").cast("long").alias("w"))
            )
    scale = float(beta_denom**depth)
    out = nodes.join(acc, "node", "left").select(
        "node",
        F.round(
            F.coalesce(F.col("ki"), F.lit(0)).cast("double") / F.lit(scale), ndigits
        ).alias("katz"),
    )
    return out


def simrank(
    edges: DataFrame,
    iters: int = 2,
    scale: int = 10**12,
    c_num: int = 4,
    c_den: int = 5,
    ndigits: int = 9,
) -> DataFrame:
    """(node_a, node_b, simrank) with node_a < node_b — SimRank (Jeh &
    Widom, KDD 2002): two nodes are similar when their IN-neighbors are
    similar — s(a,b) = C/(|I(a)|·|I(b)|) · Σ_{i∈I(a), j∈I(b)} s(i,j),
    s(v,v) = 1, C = ``c_num/c_den`` — the structural-context twin of
    the co-mention similarity (two hosts/entities are alike because the
    same kind of places point at them, not because they share text).

    Determinism design: fixed-point BIGINT arithmetic — scores are
    integers scaled by ``scale``; each iteration sums exact longs over
    in-neighbor pairs and applies ONE integer floor division
    (c_num·Σ) div (c_den·|I(a)|·|I(b)|).  Both engines replay the
    identical integer ops in the identical dataflow, so results match
    bit-for-bit (no float-summation-order hazard); per-op quantization
    error is ≤ 1/scale.  Overflow bound: |I(a)|·|I(b)|·scale·c_num
    must stay under 2^63 — at scale 10^12 that allows in-degree
    products to ~2·10^6; SimRank is inherently pair-quadratic, so the
    operator is for BOUNDED vertex sets (host graphs, entity blocks —
    the declared scope, like sampled betweenness), not raw crawls.

    Scale shape per iteration: the sparse score table joins the edge
    table twice (i→a on i, j→b on j) — two shuffles on node keys — then
    one partial-aggregable groupBy(a,b); only nonzero pairs are carried
    (SimRank mass is sparse at small iteration counts).  Diagonal pairs
    ride as literals, never materialized beyond |V| rows.
    """
    if iters < 1:
        raise ValueError("simrank: iters must be >= 1")
    e = edges.select("src", "dst").distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    indeg = e.groupBy(F.col("dst").alias("node")).agg(
        F.count("*").cast("long").alias("deg")
    )
    diag = nodes.select(
        F.col("node").alias("x"), F.col("node").alias("y"), F.lit(scale).cast("long").alias("s")
    )
    # s_0 = diagonal only; off-diagonal table starts empty
    off = None  # (x, y, s) with x != y, both orientations carried
    for _ in range(iters):
        s_full = diag if off is None else diag.unionByName(off)
        # Σ_{i∈I(a), j∈I(b)} s(i,j): pair (i,j) scores fan out through
        # the two in-edge joins (i→a), (j→b)
        ea = e.select(F.col("src").alias("i"), F.col("dst").alias("a"))
        eb = e.select(F.col("src").alias("j"), F.col("dst").alias("b"))
        raw = (
            s_full.join(ea, s_full.x == ea.i)
            .join(eb, s_full.y == eb.j)
            .filter(F.col("a") != F.col("b"))
            .groupBy("a", "b")
            .agg(F.sum("s").cast("long").alias("num"))
        )
        da = indeg.select(F.col("node").alias("a"), F.col("deg").alias("da"))
        db = indeg.select(F.col("node").alias("b"), F.col("deg").alias("db"))
        off = (
            raw.join(F.broadcast(da), "a")
            .join(F.broadcast(db), "b")
            .select(
                F.col("a").alias("x"),
                F.col("b").alias("y"),
                F.expr(f"CAST({c_num} * num AS BIGINT) DIV CAST({c_den} * da * db AS BIGINT)")
                .cast("long")
                .alias("s"),
            )
            .filter(F.col("s") > 0)
        )
    if off is None:
        return edges.sparkSession.createDataFrame(
            [], "node_a string, node_b string, simrank double"
        )
    return (
        off.filter(F.col("x") < F.col("y"))
        .select(
            F.col("x").alias("node_a"),
            F.col("y").alias("node_b"),
            F.round(F.col("s").cast("double") / F.lit(float(scale)), ndigits).alias(
                "simrank"
            ),
        )
    )


def dag_layers(
    edges: DataFrame,
    iters: int = 8,
) -> DataFrame:
    """(node, layer) — longest-path layering of a DAG: ``layer(v)`` =
    length of the longest directed path ending at v (sources = 0), the
    critical-path / topological-level assignment.  This is the level
    schedule of every dependency hierarchy — type-subsumption depth in
    the KG (how specific is a type?), build/lineage stage depth,
    condensation-DAG rank — and the static analogue of the pointer-
    jumping depth the CC/redirect operators measure dynamically.

    Level-synchronous relaxation, ``iters`` rounds (Bellman–Ford on
    −1 weights, but max-plus): layer ← max(in-neighbor layer + 1),
    monotone non-decreasing, converges after ``depth(DAG)`` rounds, so
    ``iters`` need only bound the hierarchy depth (hierarchies are
    shallow — 8 covers 3^8 ≈ 6.5k-leaf ternary trees; pass the known
    bound).  Layers are exact integers — no float anywhere, both
    engines agree bit-for-bit.  On a cyclic input the cycle nodes keep
    climbing and the result equals the ``iters``-bounded relaxation
    (the oracle twin replays the same bounded recursion, so parity
    holds regardless; callers wanting a cycle GUARD compose with the
    SCC operator first and layer the condensation).

    Scale shape per round: one equi-join of the edge table with the
    O(|V|) layer table + one partial-aggregable groupBy(dst) + one
    left join back to nodes.  The layer table ALWAYS broadcasts, both
    times (dimension-sized hierarchies), so the edge table is never
    exchanged.  Fixed ``iters`` keeps the lazy
    plan bounded, same device as :func:`katz`.
    """
    if iters < 1:
        raise ValueError("dag_layers: iters must be >= 1")
    e = edges.select("src", "dst").distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    cur = nodes.select("node", F.lit(0).cast("long").alias("layer"))
    for _ in range(iters):
        cb = F.broadcast(cur)
        step = (
            e.join(cb, e.src == cb.node)
            .groupBy(F.col("dst").alias("node"))
            .agg((F.max("layer") + F.lit(1)).cast("long").alias("inl"))
        )
        sb = F.broadcast(step)
        cur = nodes.join(sb, "node", "left").select(
            "node",
            F.coalesce(F.col("inl"), F.lit(0)).cast("long").alias("layer"),
        )
    return cur


def greedy_matching(
    edges: DataFrame,
    rounds: int = 8,
    stage_dir: str | None = None,
) -> DataFrame:
    """(src, dst) — maximal matching by deterministic parallel
    local-min edge selection (the edge analogue of Luby's MIS, the
    Israeli–Itai device): per round, an edge joins the matching iff
    its rank is the strict minimum among ALL edges incident to either
    endpoint; matched endpoints and their incident edges leave the
    graph; repeat.  Matchings are the coarsening step of multilevel
    graph partitioners (METIS-style) and the one-merge-per-node guard
    an ER pipeline uses when collapsing near-duplicate hosts pairwise.

    Determinism: the rank is ``md5(src|dst)`` extended with the edge
    key itself (strictly unique, so two incident edges can never tie
    and double-match a node) — a pure function of edge identity,
    identically computable as a string in both engines; each round
    every local-min decision reads only the round-start edge set, so
    the result is independent of partitioning.  ``rounds`` is FIXED
    (each round kills an expected constant fraction of live edges —
    8 covers the test graphs; the SQL twin unrolls the same count, so
    parity holds by construction and the semantics are
    "``rounds``-round greedy matching").

    Scale shape per round: one endpoint-keyed partial-aggregable
    min (|E|→|V| rows), two |V|-sized equi-joins back to the live
    edges, two anti-joins to drop matched endpoints — all shuffles on
    node keys, nothing quadratic, live-edge set shrinks geometrically.
    The live-edge frame is referenced four times per round, so it is
    materialized once per round via a parquet round-trip (the CC
    device — measured faster than localCheckpoint here); the plan
    stays flat instead of growing 4^rounds.
    """
    if rounds < 1:
        raise ValueError("greedy_matching: rounds must be >= 1")
    stage_dir = scratch_dir(stage_dir, "ddaugner_match_")
    spark = edges.sparkSession
    e = (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .withColumn(
            "r",
            F.concat_ws(
                "|", F.md5(F.concat_ws("|", "u", "v")), F.col("u"), F.col("v")
            ),
        )
    )
    picked = None
    for k in range(rounds):
        e = cut(e, f"{stage_dir}/live_{k}")
        if e.isEmpty():  # remaining rounds select nothing; same result
            break
        inc = e.select(F.col("u").alias("node"), "r").unionByName(
            e.select(F.col("v").alias("node"), "r")
        )
        mn = inc.groupBy("node").agg(F.min("r").alias("mr"))
        sel = (
            e.join(
                mn.select(F.col("node").alias("u"), F.col("mr").alias("ra")), "u"
            )
            .join(
                mn.select(F.col("node").alias("v"), F.col("mr").alias("rb")), "v"
            )
            .filter((F.col("r") == F.col("ra")) & (F.col("r") == F.col("rb")))
            .select("u", "v", "r")
        )
        picked = sel if picked is None else picked.unionByName(sel)
        mnodes = sel.select(F.col("u").alias("node")).union(
            sel.select(F.col("v").alias("node"))
        ).distinct()
        e = e.join(
            mnodes.withColumnRenamed("node", "u"), "u", "left_anti"
        ).join(mnodes.withColumnRenamed("node", "v"), "v", "left_anti")
    if picked is None:
        return spark.createDataFrame([], "src string, dst string")
    return picked.select(F.col("u").alias("src"), F.col("v").alias("dst"))


def resource_allocation(
    edges: DataFrame,
    scale: int = 10**12,
    min_score: int = 1,
    ndigits: int = 9,
) -> DataFrame:
    """(node_a, node_b, ra) with node_a < node_b — Resource Allocation
    link prediction (Zhou, Lü & Zhang, Eur. Phys. J. B 2009) over the
    undirected view of the graph: for each NON-adjacent pair sharing
    neighbors, ``ra(u,v) = Σ_{w ∈ N(u)∩N(v)} 1/deg(w)`` — each common
    neighbor forwards a unit of resource split evenly among its
    links, so hub intermediaries count for little (the same punishment
    Adamic–Adar applies with 1/ln·deg; RA is chosen as the family
    representative because 1/deg has an EXACT integer form —
    ``Σ scale // deg(w)`` — while 1/ln would ride on cross-engine libm
    bits).  The classic "which hosts/entities should be linked but
    aren't?" screen feeding KG completion.

    Plan: symmetrize + distinct, degree aggregate (|V| rows,
    broadcast), wedge enumeration as ONE self-join of the edge table
    on the center ``w`` with ``u < v``, anti-join against existing
    edges (predict ABSENT links only), then a partial-aggregable
    (u,v) sum of exact BIGINT shares.  Wedge count is Σ deg(w)² —
    the triangle-counting bound; production caps hot centers the way
    betweenness samples pivots (documented, not silently).
    """
    und = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    deg = und.groupBy(F.col("src").alias("w")).agg(
        F.count("*").cast("long").alias("deg")
    )
    e1 = und.select(F.col("src").alias("w"), F.col("dst").alias("u"))
    e2 = und.select(F.col("src").alias("w"), F.col("dst").alias("v"))
    wedges = e1.join(e2, "w").filter(F.col("u") < F.col("v"))
    adj = und.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    open_w = wedges.join(adj, ["u", "v"], "left_anti")
    shared = open_w.join(F.broadcast(deg), "w").select(
        "u", "v", F.expr(f"CAST({scale} AS BIGINT) DIV deg").alias("share")
    )
    agg = shared.groupBy("u", "v").agg(
        F.sum("share").cast("long").alias("ra_int")
    )
    return agg.filter(F.col("ra_int") >= min_score).select(
        F.col("u").alias("node_a"),
        F.col("v").alias("node_b"),
        F.round(F.col("ra_int").cast("double") / F.lit(float(scale)), ndigits).alias(
            "ra"
        ),
    )


def louvain_rounds(
    edges: DataFrame,
    rounds: int = 2,
    stage_dir: str | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """(entity, community) — parallel Louvain local-move phase
    (Blondel et al. 2008; the synchronous parallel-move variant of
    Staudt & Meyerhenke's PLM, TPDS 2016): each round EVERY node moves
    to the candidate community (its neighbors' communities plus its
    own) with the largest modularity gain, ties on the smallest
    community id.  The modularity-aware upgrade of
    :func:`label_propagation` — LPA counts votes, this weighs them by
    how over-represented the connection is versus the communities'
    total degree.

    Exactness: for a one-node move the gain ordering over candidates c
    is the ordering of  2m·k_{i,c} − k_i·Σtot'_c  (Σtot'_c = community
    total degree with node i removed from its OWN community — the
    standard apples-to-apples correction), an EXACT BIGINT — the whole
    round is integer argmax, no floats anywhere, so synchronous
    parallel moves + the fixed round count are bit-deterministic and
    SQL-replayable.  (Caller beware: 2m·k must fit int64 — fine to
    ~10⁹ edges with hub degree 10⁹; community ids are initial node
    ids.)

    Scale shape per round: the LPA iteration shape — one edge⋈label
    join (labels broadcast under BROADCAST_AUTO_THRESHOLD, else a
    node-id shuffle), one (node, community) count aggregate, one
    community-degree aggregate (community-sized), one
    min(struct(-gain, c)) hash-aggregate argmax; the label table
    parquet-round-trips through :func:`materialize.fixpoint` so plan
    depth stays constant.  No vertex ever
    sees more work than its degree.
    """
    if stats is None:
        stats = {}
    stats["rounds"] = []
    own_dir = stage_dir is None
    stage_dir = scratch_dir(stage_dir, "ddaugner_louvain_")

    e = edges.select("a", "b").distinct()
    m_edges = e.count()
    stats["m"] = m_edges
    sym = cut(symmetrize(e).repartition("a"), f"{stage_dir}/sym")
    deg = cut(
        sym.groupBy(F.col("a").alias("node")).agg(
            F.count("*").cast("long").alias("k")
        ),
        f"{stage_dir}/deg",
    )
    n_nodes = deg.count()
    broadcast_labels = n_nodes <= canonical.BROADCAST_AUTO_THRESHOLD
    stats["n_nodes"] = n_nodes
    labels = cut(
        deg.select("node", F.col("node").alias("community")), f"{stage_dir}/labels_0"
    )

    def step(labels: DataFrame) -> DataFrame:
        lbl = F.broadcast(labels) if broadcast_labels else labels
        tot = (
            labels.join(deg, "node")
            .groupBy("community")
            .agg(F.sum("k").cast("long").alias("tot"))
        )
        # k_{i,c}: edges from each node into each neighbor community;
        # the own community rides in with weight 0 so it is always a
        # candidate (staying must be beatable, not forfeited)
        nbr = sym.join(
            lbl.withColumnRenamed("node", "b"), "b"
        ).select(F.col("a").alias("node"), "community")
        cand = (
            nbr.groupBy("node", "community")
            .agg(F.count("*").cast("long").alias("kic"))
            .unionByName(
                labels.select("node", "community", F.lit(0).cast("long").alias("kic"))
            )
            .groupBy("node", "community")
            .agg(F.sum("kic").cast("long").alias("kic"))
        )
        own = labels.select("node", F.col("community").alias("own"))
        g = (
            cand.join(deg, "node")
            .join(F.broadcast(own) if broadcast_labels else own, "node")
            .join(F.broadcast(tot), "community")
            .select(
                "node",
                "community",
                (
                    F.lit(2 * m_edges) * F.col("kic")
                    - F.col("k")
                    * (
                        F.col("tot")
                        - F.when(
                            F.col("community") == F.col("own"), F.col("k")
                        ).otherwise(F.lit(0))
                    )
                )
                .cast("long")
                .alias("gain"),
            )
        )
        picked = g.groupBy("node").agg(
            F.min(
                F.struct((-F.col("gain")).alias("neg"), F.col("community"))
            ).alias("best")
        )
        return picked.select("node", F.col("best.community").alias("community"))

    # a fixed round count: the measure never reports convergence
    labels = fixpoint(
        labels, step, lambda _new, _old: (False, {}), stage_dir, "labels",
        rounds, stats["rounds"], own_dir=own_dir,
    )
    return labels.select(F.col("node").alias("entity"), "community")


def salsa(
    edges: DataFrame,
    iters: int = 2,
    scale: int = 10**12,
    ndigits: int = 6,
) -> DataFrame:
    """(node, hub, authority) — SALSA (Lempel & Moran, WWW 2000; the
    link-analysis core of production who-to-follow systems) over the
    directed host graph: HITS with the mutual-reinforcement replaced by
    a DEGREE-NORMALIZED random walk, so one mega-hub can no longer
    drag its whole neighborhood up (the TKC effect HITS suffers).

    a(v) = Σ_{u→v} h(u)/outdeg(u),  h(u) = Σ_{u→v} a(v)/indeg(v).

    Determinism: the per-step divisions make the :func:`hits` pure-
    integer trick unavailable, so scores run in FIXED POINT at
    ``scale`` with exact integral floor division per edge term (the
    simrank device) — both engines fold identical integers at every
    step, any iteration count; ONE IEEE division each at the final
    sum-normalization.  Floor loss is ≤ outdeg per term at scale
    10¹², i.e. below the rounding grain by ~5 orders.

    Scale shape identical to :func:`hits`: per half-step one edge⋈
    score equi-join (score and degree tables ALWAYS broadcast) + one
    partial-aggregable groupBy on the opposite endpoint; fixed
    ``iters`` bounds the plan.
    """
    if iters < 1:
        raise ValueError("salsa: iters must be >= 1")
    e = edges.select("src", "dst").distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    outd = e.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("od")
    )
    ind = e.groupBy(F.col("dst").alias("node")).agg(
        F.count("*").cast("long").alias("indeg")
    )
    h = nodes.withColumn("h", F.lit(scale).cast("long"))
    a = None
    for _ in range(iters):
        a_raw = (
            e.join(F.broadcast(h.withColumnRenamed("node", "src")), "src")
            .join(F.broadcast(outd.withColumnRenamed("node", "src")), "src")
            .select(F.col("dst"), F.expr("h DIV od").alias("t"))
            .groupBy(F.col("dst").alias("node2"))
            .agg(F.sum("t").cast("long").alias("a"))
        )
        a = nodes.join(a_raw, nodes.node == a_raw.node2, "left").select(
            "node", F.coalesce(F.col("a"), F.lit(0)).cast("long").alias("a")
        )
        h_raw = (
            e.join(F.broadcast(a.withColumnRenamed("node", "dst")), "dst")
            .join(F.broadcast(ind.withColumnRenamed("node", "dst")), "dst")
            .select(F.col("src"), F.expr("a DIV indeg").alias("t"))
            .groupBy(F.col("src").alias("node2"))
            .agg(F.sum("t").cast("long").alias("h"))
        )
        h = nodes.join(h_raw, nodes.node == h_raw.node2, "left").select(
            "node", F.coalesce(F.col("h"), F.lit(0)).cast("long").alias("h")
        )
    j = h.join(a, "node")
    totals = F.broadcast(
        j.agg(
            F.sum("h").cast("double").alias("_th"),
            F.sum("a").cast("double").alias("_ta"),
        )
    )
    return j.crossJoin(totals).select(
        "node",
        F.round(
            F.when(F.col("_th") > 0, F.col("h") / F.col("_th")).otherwise(
                F.lit(0.0)
            ),
            ndigits,
        ).alias("hub"),
        F.round(
            F.when(F.col("_ta") > 0, F.col("a") / F.col("_ta")).otherwise(
                F.lit(0.0)
            ),
            ndigits,
        ).alias("authority"),
    )


def powerlaw_alpha(
    edges: DataFrame, d_min: int = 2, ndigits: int = 6
) -> DataFrame:
    """Discrete power-law exponent MLE over the undirected degree
    distribution (Clauset, Shalizi & Newman, SIAM Rev. 2009, the
    continuous-MLE approximation): one row ``(n_tail, d_min, alpha,
    se)`` with α̂ = 1 + n/Σln(dᵢ/d_min) over nodes of degree ≥ d_min
    and se = (α̂−1)/√n — the "is this graph scale-free and how heavy"
    readout that prices every hub-skew mitigation decision
    ([[q_degree_dist]] draws the histogram, this fits it).

    Determinism: the Σln runs on the (degree, node_count) table with
    each distinct degree's ln micro-quantized ONCE at 10⁶ (the zipf
    device) and count-weighted — the cross-degree Σ is an EXACT
    integer sum; α̂ and se are a fixed float chain.  Scale: degrees =
    one hash aggregate; everything after is distinct-degree-sized.
    """
    deg = degrees(edges.select("a", "b").distinct())
    cells = (
        deg.filter(F.col("deg") >= d_min)
        .groupBy("deg")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    q = F.round(
        F.log(F.col("deg").cast("double") / F.lit(float(d_min))) * F.lit(1e6),
        0,
    ).cast("long")
    g = cells.agg(
        F.sum("cnt").cast("long").alias("n_tail"),
        F.sum(F.col("cnt") * q).cast("long").alias("lq"),
    )
    alpha = F.when(
        F.col("lq") > 0,
        F.lit(1.0)
        + F.col("n_tail").cast("double")
        / (F.col("lq").cast("double") / F.lit(1e6)),
    )
    se = F.when(
        (F.col("lq") > 0) & (F.col("n_tail") > 0),
        (alpha - F.lit(1.0)) / F.sqrt(F.col("n_tail").cast("double")),
    )
    return g.select(
        F.coalesce("n_tail", F.lit(0)).cast("long").alias("n_tail"),
        F.lit(d_min).cast("long").alias("d_min"),
        F.round(F.coalesce(alpha, F.lit(0.0)), ndigits).alias("alpha"),
        F.round(F.coalesce(se, F.lit(0.0)), ndigits).alias("se"),
    )


def burt_constraint(
    edges: DataFrame, qscale: int = 10**12, ndigits: int = 6
) -> DataFrame:
    """Burt's network constraint (Burt, "Structural Holes", 1992) per
    node over the undirected graph: C_i = Σ_{j∈N(i)} (p_ij +
    Σ_{q∈N(i)∩N(j)} p_iq·p_qj)² with p_ij = 1/deg(i) — LOW constraint
    = the node brokers between otherwise-disconnected groups (the
    structural-hole entrepreneur), HIGH = locked inside one dense
    cluster; the brokerage lens the centrality family (degree/
    betweenness/PageRank) doesn't give.  One row ``(entity, degree,
    constraint)``.

    Exactness: all walk weights are 1/deg rationals, so every indirect
    term is the exact integral ``qscale DIV (d_i·d_q)`` and the Σ over
    common neighbors is an INTEGER sum; the direct term adds
    ``qscale DIV d_i`` (still integer), only the final square and
    per-node Σ are floats — each c_ij quantized once at 10⁹ before the
    neighbor fold (the B³ device).  Scale: triangles-style 2-path
    enumeration (edge⋈edge on the shared middle, degree tables
    broadcast) — Σ_q deg(q)² work, the standard common-neighbor cost;
    prune hubs first on graphs where that bites (the two_hop cap).
    """
    e = symmetrize(edges.select("a", "b").distinct())
    deg = e.groupBy(F.col("a").alias("node")).agg(
        F.count("*").cast("long").alias("d")
    )
    ed = (
        e.join(deg.withColumnRenamed("node", "a"), "a")
        .withColumnRenamed("d", "da")
    )
    # 2-paths i -> q -> j (i != j), term = qscale DIV (d_i * d_q)
    left = ed.select(
        F.col("a").alias("i"), F.col("b").alias("q"), F.col("da").alias("di")
    )
    right = (
        e.join(
            deg.withColumnRenamed("node", "a").withColumnRenamed("d", "dq"),
            "a",
        )
        .select(F.col("a").alias("q"), F.col("b").alias("j"), "dq")
    )
    two = (
        left.join(right, "q")
        .where(F.col("i") != F.col("j"))
        .select(
            "i",
            "j",
            F.expr(f"CAST({qscale} DIV (di * dq) AS LONG)").alias("t"),
        )
        .groupBy("i", "j")
        .agg(F.sum("t").cast("long").alias("s2"))
    )
    direct = ed.select(
        F.col("a").alias("i"), F.col("b").alias("j"), F.col("da").alias("di")
    )
    cij = (
        direct.join(two, ["i", "j"], "left")
        .select(
            "i",
            (
                F.expr(f"CAST({qscale} DIV di AS LONG)")
                + F.coalesce("s2", F.lit(0))
            )
            .cast("long")
            .alias("inner_q"),
        )
        .select(
            "i",
            F.round(
                F.lit(1000000000.0)
                * (
                    F.col("inner_q").cast("double") / F.lit(float(qscale))
                )
                * (
                    F.col("inner_q").cast("double") / F.lit(float(qscale))
                ),
                0,
            )
            .cast("long")
            .alias("cq"),
        )
    )
    per = cij.groupBy(F.col("i").alias("entity")).agg(
        F.sum("cq").cast("long").alias("sq")
    )
    return per.join(deg.withColumnRenamed("node", "entity"), "entity").select(
        "entity",
        F.col("d").alias("degree"),
        F.round(
            F.col("sq").cast("double") / F.lit(1000000000.0), ndigits
        ).alias("constraint"),
    )
