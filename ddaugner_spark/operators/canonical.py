"""Canonicalization: connected components over edge DataFrames.

north_star stage 5.  The reference's per-surface analogue is
``majority_voting`` (/root/reference/ddaugner/utils.py:81-108) —
consolidating all occurrences of a surface to one label; here we
consolidate co-occurring entities into components whose canonical id is
the minimum member.

:func:`connected_components` is one algorithm — union by minimum label
— with two size branches:

* **single-task union-find**, tried first: the non-null edges stream
  through one ``repartition(1).mapInPandas`` kernel — union by smaller
  root, path compression — that emits ``(entity, component = min
  member)`` into ONE parquet table.  The pass is optimistic: the kernel
  counts distinct nodes itself and reports the count through an
  accumulator, so a graph of ≤ :data:`BROADCAST_AUTO_THRESHOLD` nodes
  costs one pass — the exchange and the kernel's write: 2 Spark jobs
  where counting the label table first took 8.  On small graphs the
  job floor, not the data, is the cost.  The exchange into the single
  task keeps the stages that feed
  it parallel;

* **distributed hash-min + pointer jumping**, when the kernel sees
  more than :data:`BROADCAST_AUTO_THRESHOLD` nodes: it stops, yields
  nothing, and the Spark driver removes its empty output and runs a loop
  with bounded lineage::

      label(v) ← v
      repeat: label(v) ← min(label(v), min over neighbors u of label(u))
              label(v) ← label(label(v))
      until no label changes

  The big graph pays for the aborted pass: one exchange of the edge
  table and the kernel's batches up to the threshold.  Both join sides
  hash-partition on the node id; lineage is truncated every iteration
  by a RELIABLE parquet round-trip of the label table
  (without it the plan quadruples per iteration and the optimizer
  blows up around iteration ~15).  ``localCheckpoint`` is NOT used: it
  pins blocks to executors, so on a real cluster one lost executor
  kills the job mid-flight (CLAUDE.md).  Convergence is a changed-label
  count; the jump makes rounds O(log n) on path-like graphs.  The loop
  runs through :func:`~ddaugner_spark.plans.materialize.fixpoint`.

Both branches reach the same fixpoint: every node labelled with the
lexicographically smallest member of its component.
"""

from __future__ import annotations

import shutil
import time
from functools import partial

from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ddaugner_spark.plans.materialize import cut, fixpoint, scratch_dir


def co_mention_edges(mentions: DataFrame) -> DataFrame:
    """Undirected distinct edges between entity surfaces co-occurring in
    the same (doc_id, sent_id); a < b normalizes orientation."""
    a = mentions.select("doc_id", "sent_id", F.col("surface").alias("a"))
    b = mentions.select("doc_id", "sent_id", F.col("surface").alias("b"))
    return (
        a.join(b, ["doc_id", "sent_id"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


#: per-node table row count up to which a table counts as executor-
#: memory-sized: graph operators broadcast it whole into their joins
#: (edges are scanned map-side, never exchanged), and
#: :func:`connected_components` resolves it in one single-task
#: union-find kernel.  Above it, both sides exchange on the node id (the
#: honest big-graph path).  2M string-pair rows ≈ low tens of MB
#: serialized — inside the executor broadcast budget, far outside the
#: driver-collect danger zone.
BROADCAST_AUTO_THRESHOLD = 2_000_000


class _MaxNodes(AccumulatorParam):
    """Accumulator of the largest node count a kernel task reported:
    max, not sum, so a re-run task cannot double it."""

    def zero(self, value):
        return 0

    def addInPlace(self, a, b):
        return max(a, b)


def union_find(batches, max_nodes=None, n_nodes=None):
    """Single-task connected components over streamed ``(a, b)`` edge
    batches: union by smaller root (so every root IS its set's minimum
    member) with path compression; emits ``(entity, component)`` for
    every node.  Run as ``repartition(1).mapInPandas`` by
    :func:`connected_components` and by
    :func:`~ddaugner_spark.operators.graph.minimum_spanning_forest`,
    which streams its Borůvka parent pointers through it.

    ``n_nodes`` (an accumulator) receives the number of nodes seen.
    With ``max_nodes`` the kernel stops reading once it has seen more
    nodes than that and yields nothing."""
    import pandas as pd

    parent: dict = {}

    def find(x):
        root = x
        while (p := parent[root]) != root:
            root = p
        while x != root:
            parent[x], x = root, parent[x]
        return root

    limit = float("inf") if max_nodes is None else max_nodes
    for b in batches:
        for u, v in zip(b["a"].tolist(), b["b"].tolist()):
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru != rv:
                if rv < ru:
                    ru, rv = rv, ru
                parent[rv] = ru
        if len(parent) > limit:
            break
    if n_nodes is not None:
        n_nodes.add(len(parent))
    if len(parent) > limit:
        return
    nodes = list(parent)
    yield pd.DataFrame(
        {"entity": nodes, "component": [find(n) for n in nodes]}, dtype="object"
    )


def connected_components(
    edges: DataFrame,
    max_iter: int = 25,
    stage_dir: str | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """(entity, component) with component = min entity id reachable.

    Node ids are strings; min is lexicographic, deterministic.  Edges
    with a null endpoint are ignored.  ``stage_dir`` holds the parquet
    checkpoints; a temp dir by default.  NOTE: the returned DataFrame
    is lazily BACKED by the final checkpoint under ``stage_dir`` — when
    ``stage_dir`` is None the backing temp dir is left on disk for the
    lifetime of the result; pass an explicit ``stage_dir`` to control
    that lifetime (the pipeline does).  Nothing is persisted.

    One pass first (module docstring): the edges stream through the
    union-find kernel into ``{stage_dir}/components``, which is the
    result when the graph has ≤ :data:`BROADCAST_AUTO_THRESHOLD` nodes.
    Past that the kernel gives up, its dir is removed and the loop
    runs; the loop's init step takes its own node count, so the big
    graph pays one aborted pass over the exchanged edge table, not a
    second count.

    Loop-branch knobs: ``max_iter`` bounds the rounds (the kernel always
    reaches the fixpoint; ``max_iter`` < 1 returns singleton components
    on both branches); every round parquet-materializes the label
    table and checks convergence.  The loop broadcasts nothing: it runs
    for label tables too big to broadcast, so both join sides of a
    round exchange on the node id.

    ``stats`` (optional dict) is filled in place: ``broadcast_labels``
    (the kernel's result was kept), ``n_nodes``, per-round ``iters``
    walls (one entry for the kernel pass) and ``n_checkpoints``.
    """
    if stats is None:
        stats = {}
    stats["iters"] = []
    stats["n_checkpoints"] = 0
    own_dir = stage_dir is None
    stage_dir = scratch_dir(stage_dir, "ddaugner_cc_")

    edges = edges.select("a", "b").where(
        F.col("a").isNotNull() & F.col("b").isNotNull()
    )
    if max_iter < 1:
        # zero iterations: every node is its own component
        nodes = edges.select(F.col("a").alias("entity")).union(
            edges.select(F.col("b").alias("entity"))
        )
        return cut(
            nodes.distinct().withColumn("component", F.col("entity")),
            f"{stage_dir}/labels_init",
        )

    t0 = time.time()
    # one pass: stream each edge once through a single-task union-find
    # (sequential pointer-chasing is exactly the "semantics demand it"
    # case for the sanctioned iterator mapInPandas form).  repartition,
    # not coalesce: the exchange keeps the stages that feed it parallel
    # instead of folding them into the one task
    seen = edges.sparkSession.sparkContext.accumulator(0, _MaxNodes())
    node_type = edges.schema["a"].dataType.simpleString()
    comps_dir = f"{stage_dir}/components"
    comps = cut(
        edges.repartition(1).mapInPandas(
            partial(union_find, max_nodes=BROADCAST_AUTO_THRESHOLD, n_nodes=seen),
            f"entity {node_type}, component {node_type}",
        ),
        comps_dir,
    )
    stats["broadcast_labels"] = seen.value <= BROADCAST_AUTO_THRESHOLD
    if stats["broadcast_labels"]:
        stats["n_nodes"] = seen.value
        stats["n_checkpoints"] = 1
        stats["init_sec"] = round(time.time() - t0, 3)
        stats["iters"].append({"it": 1, "sec": stats["init_sec"], "ckpt": True})
        return comps
    shutil.rmtree(comps_dir, ignore_errors=True)

    # the symmetric edge table is loop-INVARIANT: it is cut once, so a
    # lazy upstream (the pipeline's co-mention edges) runs once more
    # after the kernel pass, not once per round (docs/PLANS.md, "One
    # scoped persist").  Iteration checkpoints stay parquet — the label
    # self-joins quadruple the logical plan per iteration, which only a
    # real lineage cut resets.
    sym = cut(
        edges.union(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).repartition("a"),
        f"{stage_dir}/sym",
    )

    # iteration 1 fused into init: with label(v)=v, the first hash-min
    # step is label(v) ← min(v, min neighbor id) — ONE aggregate over
    # the symmetric edge table, no join (saves a full join round).  The
    # count sizes the label table; round 1 recomputes the aggregate.
    init = sym.groupBy(F.col("a").alias("node")).agg(
        # min("a") is the group key itself (constant per group)
        F.least(F.min("a"), F.min("b")).alias("label")
    )
    stats["n_nodes"] = init.count()
    stats["init_sec"] = round(time.time() - t0, 3)

    def step(labels: DataFrame) -> DataFrame:
        # (1) hash-min: pull the minimum neighbor label; both sides
        # shuffle on the node id.
        neighbor_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy(F.col("a").alias("node2"))
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = labels.join(
            neighbor_min, labels.node == F.col("node2"), "left"
        ).select(
            "node",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
            (F.col("nbr_label") < F.col("label")).alias("changed"),
        )
        # (2) pointer jumping: label(v) ← label(label(v)).  Min-propagation
        # alone needs O(diameter) rounds (a length-L chain takes L
        # iterations); the jump halves label-chain length each round,
        # giving O(log n) convergence on path-like graphs — the standard
        # hash-min + path-compression hybrid.  `stepped` feeds both
        # sides of the jump self-join (computed twice — measured cheaper
        # than block-manager caching at label-table sizes; the join
        # reads the same parquet checkpoint either way).
        parent = stepped.select(
            F.col("node").alias("p_node"), F.col("label").alias("p_label")
        )
        return stepped.join(
            parent, stepped.label == F.col("p_node"), "left"
        ).select(
            "node",
            F.least(
                F.col("label"), F.coalesce(F.col("p_label"), F.col("label"))
            ).alias("label"),
            (F.col("changed") | (F.col("p_label") < F.col("label"))).alias(
                "changed"
            ),
        )

    def measure(new: DataFrame, _old: DataFrame):
        n_changed = new.filter(F.col("changed")).count()
        return n_changed == 0, {"ckpt": True, "n_changed": n_changed}

    labels = fixpoint(
        init, step, measure, stage_dir, "labels", max_iter, stats["iters"],
        key="it", own_dir=own_dir,
    )
    stats["n_checkpoints"] = len(stats["iters"])
    return labels.select(
        F.col("node").alias("entity"), F.col("label").alias("component")
    )


def canonicalize_triples(triples: DataFrame, components: DataFrame) -> DataFrame:
    """Rewrite subj/obj to their canonical component ids (broadcast map —
    the component table is |entities|-sized, tiny relative to triples)."""
    comp = F.broadcast(components)
    t = triples.join(
        comp.withColumnRenamed("entity", "subj").withColumnRenamed("component", "subj_canon"),
        "subj",
        "left",
    )
    t = t.join(
        comp.withColumnRenamed("entity", "obj").withColumnRenamed("component", "obj_canon"),
        "obj",
        "left",
    )
    return t.withColumn("subj_canon", F.coalesce("subj_canon", "subj")).withColumn(
        "obj_canon", F.coalesce("obj_canon", "obj")
    )


def strongly_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    stage_dir: str | None = None,
    max_peel_rounds: int = 32,
    max_fix_rounds: int = 32,
    stats: dict | None = None,
) -> DataFrame:
    """(node, scc_id) over a DIRECTED edge table: scc_id = the minimum
    member of the node's strongly connected component.

    Min-label forward/backward peeling (the label-based variant of
    FW-BW / the "coloring" SCC family used by Pregel-style systems):

    * forward fixpoint  f(v) = min({v} ∪ {labels of ancestors}) via
      iterated edge-join + min-aggregate;
    * backward fixpoint b(v) = the same on reversed edges;
    * every node with f(v) == b(v) == m is mutually reachable with m
      (m →* v from the forward pass, v →* m from the backward pass),
      so (v, m) is final: peel those nodes, semi-filter the edges, and
      repeat on the remainder.

    Each peel round removes at least the smallest remaining node's SCC
    (nothing can pollute the global minimum), so rounds ≤ #SCC layers;
    hub-heavy KG graphs peel in a handful.  A member v of SCC(m) whose
    f or b is "polluted" by a smaller node OUTSIDE the SCC simply waits
    until that node's own SCC is peeled — every SCC is then assigned in
    one round, all members together, id = its minimum member
    (deterministic lexicographic min on string ids).

    Scale design mirrors :func:`connected_components`: every fixpoint
    iteration is one join + one min-aggregate on the node key, lineage
    is truncated by parquet round-trips of the (node-sized) label
    table, convergence is a changed-label count, and the active-edge
    table shrinks monotonically (two semi-joins per peel).  Production
    systems add the FW-BW trim-and-recurse refinement for giant-SCC
    graphs; the label loop here is the deterministic, oracle-replayable
    core.  Raises after ``max_peel_rounds`` (an SCC "chain" deeper than
    that means the graph wants the recursive refinement).
    """
    if stats is None:
        stats = {}
    stats["peels"] = []
    stage_dir = scratch_dir(stage_dir, "ddaugner_scc_")

    e = cut(
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).distinct(),
        f"{stage_dir}/edges",
    )
    active = cut(
        e.select(F.col("s").alias("node"))
        .union(e.select(F.col("d").alias("node")))
        .distinct(),
        f"{stage_dir}/active",
    )

    def _min_fixpoint(edges_df: DataFrame, out_col: str, tag: str) -> DataFrame:
        """Propagate min labels along edges (s -> d for 'f', reversed
        for 'b') within the active subgraph until fixpoint."""
        s_col, d_col = ("s", "d") if out_col == "f" else ("d", "s")

        def step(lab: DataFrame) -> DataFrame:
            cand = (
                edges_df.join(lab, edges_df[s_col] == lab["node"])
                .groupBy(F.col(d_col).alias("cnode"))
                .agg(F.min("lbl").alias("nlbl"))
            )
            return lab.join(cand, lab["node"] == cand["cnode"], "left").select(
                lab["node"].alias("node"),
                F.least(
                    F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))
                ).alias("lbl"),
                (F.coalesce(F.col("nlbl"), F.col("lbl")) < F.col("lbl")).alias(
                    "chg"
                ),
            )

        def measure(new: DataFrame, _old: DataFrame):
            n_chg = new.filter("chg").count()
            return n_chg == 0, {"fix": tag, "changed": n_chg}

        lab = fixpoint(
            active.select("node", F.col("node").alias("lbl")), step, measure,
            stage_dir, out_col, max_fix_rounds, stats["peels"], key="it",
        )
        # the last entry is this fixpoint's final round; with no round
        # run it is a peel summary (no "changed") or missing
        if not stats["peels"] or stats["peels"][-1].get("changed", 1):
            raise RuntimeError(
                f"SCC label fixpoint did not converge in {max_fix_rounds} "
                f"iterations (component diameter exceeds the budget)"
            )
        return lab.select("node", F.col("lbl").alias(out_col))

    parts = []
    for rnd in range(max_peel_rounds):
        f = _min_fixpoint(e, "f", f"r{rnd}_f")
        b = _min_fixpoint(e, "b", f"r{rnd}_b")
        fb = f.join(b, "node")
        done = cut(
            fb.filter(F.col("f") == F.col("b")).select(
                "node", F.col("f").alias("scc_id")
            ),
            f"{stage_dir}/done_r{rnd}",
        )
        parts.append(done)
        remaining = cut(
            active.join(done, "node", "left_anti"), f"{stage_dir}/active_r{rnd}"
        )
        n_remaining = remaining.count()
        stats["peels"].append({"round": rnd, "remaining": n_remaining})
        if n_remaining == 0:
            active = remaining
            break
        active = remaining
        e = cut(
            e.join(
                active.select(F.col("node").alias("s")), "s", "left_semi"
            ).join(active.select(F.col("node").alias("d")), "d", "left_semi"),
            f"{stage_dir}/edges_r{rnd}",
        )
    else:
        raise RuntimeError(
            f"SCC did not converge in {max_peel_rounds} peel rounds"
        )

    out = parts[0]
    for p in parts[1:]:
        out = out.union(p)
    return cut(out, f"{stage_dir}/scc_final")

