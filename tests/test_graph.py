"""Graph analytics (operators/graph.py): degree-oriented triangle
counting and power-iteration PageRank.

Triangle correctness is pinned two ways: hand-counted fixtures (where
the right answer is obvious by inspection) and a differential against
the naive x<y<z three-way self-join on a larger deterministic graph
(the formulation the DuckDB oracle uses) — so the degree-orientation
optimization is verified to be purely physical.  PageRank is pinned
against an independent numpy power iteration of the same transition
matrix, plus the invariants (Σ rank = 1, symmetry classes equal).
"""

import random

import numpy as np
import pytest

from pyspark.sql import functions as F

from ddaugner_spark.operators import canonical, graph


def _edges(spark, pairs):
    # canonical a < b orientation, the co_mention_edges contract
    canon = sorted({(min(a, b), max(a, b)) for a, b in pairs})
    return spark.createDataFrame(canon, "a string, b string")


def _tri_map(df):
    return {r["entity"]: r["triangles"] for r in df.collect()}


def test_triangle_fixture(spark):
    # triangle abc + square fghi (no diagonal → no triangles) + pendant d-e
    e = _edges(
        spark,
        [("a", "b"), ("b", "c"), ("a", "c"),
         ("f", "g"), ("g", "h"), ("h", "i"), ("f", "i"),
         ("d", "e")],
    )
    got = _tri_map(graph.triangle_counts(e))
    assert got == {"a": 1, "b": 1, "c": 1,
                   "f": 0, "g": 0, "h": 0, "i": 0,
                   "d": 0, "e": 0}


def test_triangle_hub(spark):
    # star hub h-{r1..r4} has no triangles until one rim edge closes it
    star = [("h", f"r{i}") for i in range(1, 5)]
    assert set(_tri_map(graph.triangle_counts(_edges(spark, star))).values()) == {0}
    got = _tri_map(graph.triangle_counts(_edges(spark, star + [("r1", "r2")])))
    assert got == {"h": 1, "r1": 1, "r2": 1, "r3": 0, "r4": 0}


def test_triangle_k4(spark):
    # K4: 4 triangles total, each vertex in C(3,2) = 3 of them
    v = ["a", "b", "c", "d"]
    e = _edges(spark, [(x, y) for i, x in enumerate(v) for y in v[i + 1:]])
    assert _tri_map(graph.triangle_counts(e)) == {x: 3 for x in v}


def test_triangle_differential_vs_naive(spark):
    # deterministic pseudo-random graph: 40 nodes, edge iff mixed hash
    # bit — dense enough for hundreds of triangles and a skewed-ish
    # degree spread; naive x<y<z 3-way join is the independent oracle
    nodes = [f"n{i:02d}" for i in range(40)]
    pairs = [
        (nodes[i], nodes[j])
        for i in range(40)
        for j in range(i + 1, 40)
        if (i * 7919 + j * 104729) % 5 == 0
    ]
    e = _edges(spark, pairs)
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(e3, (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")))
        .select(F.col("e1.a").alias("x"), F.col("e1.b").alias("y"), F.col("e2.b").alias("z"))
    )
    naive = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("entity"))
        .groupBy("entity")
        .agg(F.count("*").alias("triangles"))
    )
    want = {r["entity"]: r["triangles"] for r in naive.collect()}
    got = {k: v for k, v in _tri_map(graph.triangle_counts(e)).items() if v}
    assert sum(want.values()) > 100  # the fixture is non-trivial
    assert got == want


def _np_pagerank(pairs, nodes, damping, iters):
    idx = {n: i for i, n in enumerate(nodes)}
    deg = np.zeros(len(nodes))
    for a, b in pairs:
        deg[idx[a]] += 1
        deg[idx[b]] += 1
    r = np.full(len(nodes), 1.0 / len(nodes))
    for _ in range(iters):
        nxt = np.full(len(nodes), (1.0 - damping) / len(nodes))
        for a, b in pairs:
            nxt[idx[b]] += damping * r[idx[a]] / deg[idx[a]]
            nxt[idx[a]] += damping * r[idx[b]] / deg[idx[b]]
        r = nxt
    return {n: r[idx[n]] for n in nodes}


def test_pagerank_differential_vs_numpy(spark, tmp_path):
    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("d", "e")]
    nodes = ["a", "b", "c", "d", "e"]
    want = _np_pagerank(pairs, nodes, 0.85, 3)
    pr = graph.pagerank(
        _edges(spark, pairs), damping=0.85, max_iter=3, tol=None,
        stage_dir=str(tmp_path / "pr"),
    )
    got = {r["entity"]: r["rank"] for r in pr.collect()}
    assert set(got) == set(nodes)
    for n in nodes:
        assert got[n] == pytest.approx(want[n], abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-12)


def test_pagerank_k4_converges_immediately(spark, tmp_path):
    # complete graph: uniform is the fixed point, so the first iteration
    # reports an L∞ delta of 0 and the tol loop stops after it
    v = ["a", "b", "c", "d"]
    e = _edges(spark, [(x, y) for i, x in enumerate(v) for y in v[i + 1:]])
    stats = {}
    pr = graph.pagerank(
        e, max_iter=20, tol=1e-9, stage_dir=str(tmp_path / "pr"), stats=stats
    )
    got = {r["entity"]: r["rank"] for r in pr.collect()}
    assert all(v == pytest.approx(0.25, abs=1e-15) for v in got.values())
    assert len(stats["iters"]) == 1
    assert stats["broadcast_ranks"] is True


def _py_kcore(pairs, k):
    """Independent reference peel (plain Python dict/set)."""
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    alive = set(adj)
    while True:
        drop = {n for n in alive if len(adj[n] & alive) < k}
        if not drop:
            break
        alive -= drop
    return {n: len(adj[n] & alive) for n in alive}


def test_kcore_fixtures(spark, tmp_path):
    # 2-core of triangle + pendant chain = just the triangle; a chain
    # alone peels to nothing (needs >1 round: ends first, then inward)
    tri_chain = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e")]
    got = {
        r["entity"]: r["deg"]
        for r in graph.k_core(
            _edges(spark, tri_chain), k=2, stage_dir=str(tmp_path / "k1")
        ).collect()
    }
    assert got == {"a": 2, "b": 2, "c": 2}
    chain = [(f"v{i}", f"v{i+1}") for i in range(6)]
    assert (
        graph.k_core(_edges(spark, chain), k=2, stage_dir=str(tmp_path / "k2")).count()
        == 0
    )


def test_kcore_differential(spark, tmp_path):
    nodes = [f"n{i:02d}" for i in range(30)]
    pairs = [
        (nodes[i], nodes[j])
        for i in range(30)
        for j in range(i + 1, 30)
        if (i * 7919 + j * 104729) % 9 == 0
    ]
    for k in (2, 3):
        want = _py_kcore(pairs, k)
        got = {
            r["entity"]: r["deg"]
            for r in graph.k_core(
                _edges(spark, pairs), k=k, stage_dir=str(tmp_path / f"k{k}")
            ).collect()
        }
        assert got == want


def test_kcore_bounded_rounds(spark, tmp_path):
    # chain v0..v6: each round peels the current endpoints, and the
    # returned table additionally filters deg >= k on the last round's
    # induced degrees — so 1 round → {v2,v3,v4}, 2 rounds → {v3},
    # fixpoint → empty (a tree has no 2-core)
    chain = [(f"v{i}", f"v{i+1}") for i in range(6)]
    for rounds, n_left in [(1, 3), (2, 1), (10, 0)]:
        got = graph.k_core(
            _edges(spark, chain), k=2, max_rounds=rounds,
            stage_dir=str(tmp_path / f"r{rounds}"),
        )
        assert got.count() == n_left


def test_pagerank_symmetry_and_hub(spark, tmp_path):
    # star: all rim nodes are automorphic → equal rank; hub rank strictly
    # higher; pinned after full convergence
    pairs = [("h", f"r{i}") for i in range(1, 6)]
    pr = graph.pagerank(
        _edges(spark, pairs), max_iter=50, tol=1e-12,
        stage_dir=str(tmp_path / "pr"),
    )
    got = {r["entity"]: r["rank"] for r in pr.collect()}
    rims = [v for k, v in got.items() if k != "h"]
    assert max(rims) - min(rims) < 1e-12
    assert got["h"] > max(rims)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


# ---------------------------------------------------------------------------
# label propagation
# ---------------------------------------------------------------------------


def _python_lpa(pairs, rounds):
    """Independent reference: synchronous LPA with self-vote, ties to the
    lexically smallest label."""
    from collections import Counter, defaultdict

    adj = defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    labels = {n: n for n in adj}
    for _ in range(rounds):
        new = {}
        for n in adj:
            votes = Counter(labels[m] for m in adj[n])
            votes[labels[n]] += 1
            best = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            new[n] = best
        if new == labels:
            break
        labels = new
    return labels


def _lpa_map(df):
    return {r["entity"]: r["community"] for r in df.collect()}


def test_lpa_single_edge_settles_min(spark):
    # textbook synchronous LPA oscillates here; the self-vote pins both
    # endpoints to min(A, B) in one round
    got = _lpa_map(graph.label_propagation(_edges(spark, [("B", "A")]), max_rounds=5))
    assert got == {"A": "A", "B": "A"}


def test_lpa_two_cliques_one_bridge(spark):
    k1 = [("a1", "a2"), ("a1", "a3"), ("a2", "a3")]
    k2 = [("b1", "b2"), ("b1", "b3"), ("b2", "b3")]
    got = _lpa_map(
        graph.label_propagation(_edges(spark, k1 + k2 + [("a1", "b1")]), max_rounds=10)
    )
    # each triangle coalesces on its own min label; the bridge does not
    # merge two 3-cliques (neither side can outvote the other's clique)
    assert got["a2"] == got["a3"] == "a1"
    assert got["b2"] == got["b3"] == "b1"
    assert len({got["a1"], got["b2"]}) == 2


def test_lpa_differential_vs_python(spark):
    # deterministic pseudo-random graph, bounded rounds (both sides
    # synchronous with self-vote, so they must agree round-for-round)
    pairs = sorted(
        {
            (f"n{(i * i) % 23}", f"n{(i * 7 + 3) % 23}")
            for i in range(60)
            if (i * i) % 23 != (i * 7 + 3) % 23
        }
    )
    for rounds in (1, 2, 4):
        want = _python_lpa(pairs, rounds)
        got = _lpa_map(graph.label_propagation(_edges(spark, pairs), max_rounds=rounds))
        assert got == want, rounds


def test_lpa_fixpoint_early_stop(spark):
    stats = {}
    graph.label_propagation(
        _edges(spark, [("a", "b"), ("b", "c"), ("x", "y")]), max_rounds=50, stats=stats
    ).collect()
    assert len(stats["rounds"]) < 50
    assert stats["rounds"][-1]["n_changed"] == 0


def test_two_hop_paths_semantics(spark):
    """Hand-built KG: support aggregation, min_support gate, hub
    fanout cap, A==C exclusion, weaker-leg path support."""
    from ddaugner_spark.operators.graph import two_hop_paths

    tri = []
    # a -p-> m (3 attestations), m -q-> c (2), m -q-> a (2: round trip)
    tri += [("a", "p", "m")] * 3
    tri += [("m", "q", "c")] * 2
    tri += [("m", "q", "a")] * 2
    # below min_support: z -p-> m once
    tri += [("z", "p", "m")]
    df = spark.createDataFrame(tri, "subj string, pred string, obj string")
    got = {
        (r["entity_a"], r["pred1"], r["mid"], r["pred2"], r["entity_c"]): (
            r["support1"], r["support2"], r["path_support"]
        )
        for r in two_hop_paths(df, min_support=2, fanout_cap=5).collect()
    }
    # z-leg filtered by support; a->m->a excluded; a->m->c survives
    assert got == {("a", "p", "m", "q", "c"): (3, 2, 2)}


def test_two_hop_fanout_cap_keeps_best_supported(spark):
    """A hub mid with many outgoing edges keeps only the cap's
    best-supported (deterministic tie-break), bounding the join."""
    from ddaugner_spark.operators.graph import two_hop_paths

    tri = [("a", "p", "hub")] * 5
    for i in range(10):
        tri += [("hub", "q", f"c{i}")] * (2 + i)  # support 2..11
    df = spark.createDataFrame(tri, "subj string, pred string, obj string")
    out = two_hop_paths(df, min_support=2, fanout_cap=3).collect()
    cs = {r["entity_c"] for r in out}
    assert cs == {"c9", "c8", "c7"}  # three highest supports
    assert all(r["path_support"] == 5 for r in out)  # weaker leg = a->hub


class TestBfsDistances:
    def _edges(self, spark, rows):
        return spark.createDataFrame(rows, "a string, b string")

    def _seeds(self, spark, nodes):
        return spark.createDataFrame([(n,) for n in nodes], "node string")

    def test_line_graph_distances_and_depth_bound(self, spark, tmp_path):
        from ddaugner_spark.operators.graph import bfs_distances

        # s - n1 - n2 - n3 - n4 (undirected, given as directed rows)
        e = self._edges(
            spark, [("s", "n1"), ("n2", "n1"), ("n2", "n3"), ("n3", "n4")]
        )
        got = {
            r.node: r.dist
            for r in bfs_distances(
                e, self._seeds(spark, ["s"]), max_depth=3, stage_dir=str(tmp_path / "b1")
            ).collect()
        }
        # n4 is 4 hops away -> absent under the bound
        assert got == {"s": 0, "n1": 1, "n2": 2, "n3": 3}

    def test_multi_seed_min_and_early_exit(self, spark, tmp_path):
        from ddaugner_spark.operators.graph import bfs_distances

        e = self._edges(spark, [("a", "b"), ("b", "c"), ("x", "y")])
        stats = {}
        got = {
            r.node: r.dist
            for r in bfs_distances(
                e,
                self._seeds(spark, ["a", "c", "x"]),
                max_depth=5,
                stage_dir=str(tmp_path / "b2"),
                stats=stats,
            ).collect()
        }
        # b is adjacent to TWO seeds -> dist 1 exactly once; disconnected
        # component reached only from its own seed
        assert got == {"a": 0, "c": 0, "x": 0, "b": 1, "y": 1}
        # frontier empties at depth 2 -> loop exits early, 5 never runs
        assert len(stats["levels"]) == 2 and stats["levels"][-1]["n_discovered"] == 0

    def test_seed_not_in_graph(self, spark, tmp_path):
        from ddaugner_spark.operators.graph import bfs_distances

        e = self._edges(spark, [("a", "b")])
        got = {
            r.node: r.dist
            for r in bfs_distances(
                e, self._seeds(spark, ["zzz"]), max_depth=2, stage_dir=str(tmp_path / "b3")
            ).collect()
        }
        assert got == {"zzz": 0}


def test_bfs_equals_multi_source_min_over_seeds(spark, tmp_path):
    """``bfs_distances`` (any seed) equals ``multi_source_bfs`` (per
    seed) grouped by node with ``min(dist)`` — the two share one
    frontier loop and differ only in the state key.  Seeded random
    graph; one seed is not a graph node and stays at distance 0."""
    rng = random.Random(41)
    nodes = [f"g{i:02d}" for i in range(40)]
    pairs = {tuple(sorted(rng.sample(nodes, 2))) for _ in range(50)}
    e = _edges(spark, pairs)
    seeds = spark.createDataFrame(
        [(n,) for n in ("g03", "g17", "g31", "zz")], "node string"
    )
    single = {
        r["node"]: r["dist"]
        for r in graph.bfs_distances(
            e, seeds, max_depth=4, stage_dir=str(tmp_path / "one")
        ).collect()
    }
    multi = graph.multi_source_bfs(
        e, seeds, max_depth=4, stage_dir=str(tmp_path / "ms")
    )
    per_node = {
        r["node"]: r["d"]
        for r in multi.groupBy("node").agg(F.min("dist").alias("d")).collect()
    }
    assert single == per_node
    assert single["zz"] == 0 and max(single.values()) >= 3


#: a deterministic 27-node graph: a ring with chords plus a pendant
#: 3-edge tail (k-core peels it over several rounds), so every operator
#: below runs more than one round / level
_ARM_PAIRS = sorted(
    {(f"n{i:02d}", f"n{(i + 1) % 24:02d}") for i in range(24)}
    | {(f"n{i:02d}", f"n{(i * 7 + 5) % 24:02d}") for i in range(0, 24, 3)}
    | {("n00", "t0"), ("t0", "t1"), ("t1", "t2")}
)


def _arm_run(spark, op, stage_dir, stats):
    e = _edges(spark, _ARM_PAIRS)
    seeds = spark.createDataFrame([("n00",), ("n13",)], "node string")
    if op == "pagerank":
        return graph.pagerank(e, max_iter=4, tol=None, stage_dir=stage_dir,
                              stats=stats)
    if op == "k_core":
        return graph.k_core(e, k=2, stage_dir=stage_dir, stats=stats)
    if op == "label_propagation":
        return graph.label_propagation(e, max_rounds=4, stage_dir=stage_dir,
                                       stats=stats)
    if op == "louvain_rounds":
        return graph.louvain_rounds(e, rounds=2, stage_dir=stage_dir,
                                    stats=stats)
    if op == "bfs_distances":
        return graph.bfs_distances(e, seeds, max_depth=3, stage_dir=stage_dir,
                                   stats=stats)
    return graph.multi_source_bfs(e, seeds, max_depth=3, stage_dir=stage_dir)


@pytest.mark.parametrize(
    "op",
    ["pagerank", "k_core", "label_propagation", "louvain_rounds",
     "bfs_distances", "multi_source_bfs"],
)
def test_shuffle_arm_matches_broadcast_arm(spark, tmp_path, monkeypatch, op):
    """Each operator's above-threshold arm (both join sides shuffle on
    the node id) gives the same rows as its broadcast arm: run at the
    default threshold, then with ``BROADCAST_AUTO_THRESHOLD`` patched
    to 0.  PageRank ranks are compared at 12 digits (float sums may
    fold in another order); everything else exactly."""

    def rows(name):
        stats = {}
        got = _arm_run(spark, op, str(tmp_path / name), stats).collect()
        flags = {k: v for k, v in stats.items() if k.startswith("broadcast")}
        return sorted(
            tuple(round(v, 12) if isinstance(v, float) else v for v in r)
            for r in got
        ), flags

    bcast, bcast_flags = rows("bcast")
    monkeypatch.setattr(canonical, "BROADCAST_AUTO_THRESHOLD", 0)
    shuffled, shuffled_flags = rows("shuffled")
    assert bcast and shuffled == bcast
    assert all(bcast_flags.values()) and not any(shuffled_flags.values())
    assert set(bcast_flags) == set(shuffled_flags)


def _release_all(spark):
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def _persist_run(spark, op):
    """``op`` on the _ARM_PAIRS graph with ``stage_dir=None``."""
    e = _edges(spark, _ARM_PAIRS)
    seeds = spark.createDataFrame([("n00",), ("n13",)], "node string")
    weighted = spark.createDataFrame(
        [(a, b, float(i + 1)) for i, (a, b) in enumerate(_ARM_PAIRS)],
        "a string, b string, w double",
    )
    if op.startswith("cc_"):
        return canonical.connected_components(e)
    if op == "scc":
        return canonical.strongly_connected_components(
            spark.createDataFrame(_ARM_PAIRS, "src string, dst string")
        )
    if op == "k_core":
        return graph.k_core(e, k=2)
    if op == "pagerank":
        return graph.pagerank(e, max_iter=3)
    if op == "label_propagation":
        return graph.label_propagation(e, max_rounds=3)
    if op == "shortest_paths_weighted":
        return graph.shortest_paths_weighted(weighted, seeds)
    if op == "k_truss":
        return graph.k_truss(e, k=2)
    return graph.minimum_spanning_forest(weighted)


@pytest.mark.parametrize(
    "op",
    ["cc_kernel", "cc_loop", "scc", "k_core", "pagerank", "label_propagation",
     "shortest_paths_weighted", "k_truss", "msf_kernel", "msf_doubling"],
)
def test_leaves_nothing_persisted(spark, monkeypatch, op):
    """Each iterative operator, on both size branches where it has two,
    returns with the storage list empty, and its result — backed by
    the operator's own temp dir — still reads."""
    _release_all(spark)
    if op in ("cc_loop", "msf_doubling"):
        monkeypatch.setattr(canonical, "BROADCAST_AUTO_THRESHOLD", 0)
    out = _persist_run(spark, op)
    assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty()
    rows = out.collect()
    assert rows
    if op.startswith("msf_"):
        pairs = [(a, b, float(i + 1)) for i, (a, b) in enumerate(_ARM_PAIRS)]
        assert sorted(tuple(r) for r in rows) == _kruskal(pairs)


def _release_op(spark, op):
    """``op`` on a tiny input: three documents plus ``with_dup_corpus``'s
    copies for dedup, two token documents for suffix, five surfaces for
    SNM."""
    from ddaugner_spark.operators import dedup, er, suffix

    if op == "sorted_neighborhood_pairs":
        return er.sorted_neighborhood_pairs(spark.createDataFrame(
            [("Spark", "ORG"), ("sark", "ORG"), ("Oscar", "PER"),
             ("0scar", "PER"), ("Paris", "LOC")],
            "surface string, tag string",
        ))
    if op in dedup.__dict__:
        base = " ".join(f"w{j:02d}" for j in range(24))
        texts = [(0, base + " alpha beta"), (10, base + " gamma delta eps"),
                 (20, "z0 z1 z2 z3 z4 z5 z6 z7 " + base[:40])]
        return getattr(dedup, op)(dedup.with_dup_corpus(
            spark.createDataFrame(texts, "doc_id long, text string")
        ))
    toks = [(d, p, t) for d, text in enumerate(["a b a b", "b a"])
            for p, t in enumerate(text.split(" "))]
    kw = {"min_len": 2} if op == "repeat_coverage" else {}
    return getattr(suffix, op)(
        spark.createDataFrame(toks, "doc_id long, pos long, tok string"), **kw
    )


_JACCARD_ROWS = [
    (0, 10, 0.8148), (0, 1000000, 1.0), (0, 2000010, 0.9167),
    (10, 1000000, 0.8148), (10, 2000010, 0.88), (20, 1000020, 1.0),
    (1000000, 2000010, 0.9167),
]

#: each operator's rows on ``_release_op``'s input, as the operators
#: returned them while they left their tables persisted
_PARENT_ROWS = {
    "jaccard_pairs_inverted": _JACCARD_ROWS,
    "all_pairs_jaccard_prefix": _JACCARD_ROWS,
    "minhash_near_duplicates": _JACCARD_ROWS,
    "containment_pairs": [
        (0, 10, 22, 0.9167), (0, 1000000, 24, 1.0), (0, 2000010, 22, 0.9167),
        (20, 1000020, 17, 1.0), (1000000, 0, 24, 1.0),
        (1000000, 10, 22, 0.9167), (1000000, 2000010, 22, 0.9167),
        (1000020, 20, 17, 1.0), (2000010, 0, 22, 1.0), (2000010, 10, 22, 1.0),
        (2000010, 1000000, 22, 1.0),
    ],
    "minhash_estimate_error": [
        (0, 10, 6, 0.75, 0.814815, 0.064815), (0, 1000000, 8, 1.0, 1.0, 0.0),
        (0, 2000010, 7, 0.875, 0.916667, 0.041667),
        (10, 1000000, 6, 0.75, 0.814815, 0.064815),
        (10, 2000010, 7, 0.875, 0.88, 0.005), (20, 1000020, 8, 1.0, 1.0, 0.0),
        (1000000, 2000010, 7, 0.875, 0.916667, 0.041667),
    ],
    "exact_substring_pairs": [
        (0, 10, 5, 5, 24), (0, 1000000, 7, 7, 26), (0, 2000010, 5, 5, 24),
        (10, 1000000, 5, 5, 24), (10, 2000010, 5, 5, 24),
        (1000000, 2000010, 5, 5, 24),
    ],
    "suffix_array": [(1, 1, 1, 1), (2, 0, 2, 2), (3, 0, 0, 3), (4, 0, 3, 4),
                     (5, 1, 0, 5), (6, 0, 1, 6)],
    "lcp_array": [(1, 1, 1, 0), (2, 0, 2, 1), (3, 0, 0, 2), (4, 0, 3, 0),
                  (5, 1, 0, 1), (6, 0, 1, 2)],
    "repeat_coverage": [(0, 4, 4, 1.0), (1, 2, 2, 1.0)],
    "distinct_substring_count": [(13, 6, 7)],
    "sorted_neighborhood_pairs": [
        ("0scar", "PER", "Oscar", "PER", 1, 1, True),
        ("0scar", "PER", "Paris", "LOC", 2, 5, False),
        ("0scar", "PER", "sark", "ORG", 3, 3, False),
        ("Oscar", "PER", "Paris", "LOC", 1, 5, False),
        ("Oscar", "PER", "Spark", "ORG", 3, 4, False),
        ("Oscar", "PER", "sark", "ORG", 2, 3, False),
        ("Paris", "LOC", "Spark", "ORG", 2, 4, False),
        ("Paris", "LOC", "sark", "ORG", 1, 3, False),
        ("sark", "ORG", "Spark", "ORG", 1, 2, True),
    ],
}


@pytest.mark.parametrize("op", sorted(_PARENT_ROWS))
def test_dedup_and_suffix_leave_nothing_persisted(spark, op):
    """Each dedup, suffix and SNM operator returns with the storage list
    empty, and its result reads the rows the operator returned while it
    left its tables persisted."""
    _release_all(spark)
    out = _release_op(spark, op)
    assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty()
    assert sorted(tuple(r) for r in out.collect()) == _PARENT_ROWS[op]


@pytest.mark.parametrize(
    "op",
    ["luby_mis", "jp_coloring", "louvain_rounds", "densest_subgraph",
     "betweenness_sampled", "pagerank"],
)
def test_own_dir_keeps_only_result_dirs(spark, tmp_path, monkeypatch, op):
    """With ``stage_dir=None`` the operator's temp dir holds, on
    return, only the dirs its result reads, and the result reads the
    same rows as a run in a caller-owned stage dir."""
    import os
    import tempfile
    from functools import partial
    from urllib.parse import urlparse

    e = _edges(spark, _ARM_PAIRS)
    run = getattr(graph, op)
    if op == "betweenness_sampled":
        run = partial(
            run, sources=spark.createDataFrame([("n00",), ("n13",)], "node string")
        )
    want = sorted(run(e, stage_dir=str(tmp_path / "caller")).collect())
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    os.mkdir(tmp_path / "tmp")
    out = run(e)
    (own,) = [d for d in os.listdir(tmp_path / "tmp") if d.startswith("ddaugner_")]
    own = tmp_path / "tmp" / own
    backing = {
        os.path.relpath(urlparse(f).path, own).split(os.sep)[0]
        for f in out.inputFiles()
    }
    assert set(os.listdir(own)) == backing
    assert want and sorted(out.collect()) == want


@pytest.mark.parametrize("op", ["pagerank", "cc_loop"])
def test_loop_invariant_edges_read_upstream_once(spark, monkeypatch, op):
    """PageRank and CC's loop branch cut the symmetric edge table once,
    so a lazy upstream runs as often in a 4-round call as in a 1-round
    one, not once more per round."""
    monkeypatch.setattr(canonical, "BROADCAST_AUTO_THRESHOLD", 0)
    acc = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def tap(x):
        acc.add(1)
        return x

    e = _edges(spark, _ARM_PAIRS).select(tap("a").alias("a"), "b")

    def upstream_rows(rounds):
        acc.value = 0
        if op == "pagerank":
            graph.pagerank(e, max_iter=rounds, tol=None).collect()
        else:
            st: dict = {}
            canonical.connected_components(e, max_iter=rounds, stats=st).collect()
            assert len(st["iters"]) == rounds
        return acc.value

    assert 0 < upstream_rows(1) == upstream_rows(4)


class TestHits:
    def _hits(self, spark, pairs, iters=2):
        e = spark.createDataFrame(pairs, "src string, dst string")
        return {r.node: (r.hub, r.authority) for r in graph.hits(e, iters=iters).collect()}

    def test_hand_computed_fixture(self, spark):
        # a->b a->c b->c d->c; integer iteration: a1 = indeg,
        # h1 = (a:4, b:3, d:3), a2 = (b:4, c:10), h2 = (a:14, b:10, d:10)
        got = self._hits(spark, [("a", "b"), ("a", "c"), ("b", "c"), ("d", "c")])
        assert got["a"] == (round(14 / 34, 6), 0.0)
        assert got["b"] == (round(10 / 34, 6), round(4 / 14, 6))
        assert got["c"] == (0.0, round(10 / 14, 6))
        assert got["d"] == (round(10 / 34, 6), 0.0)

    def test_differential_vs_numpy_integer_iteration(self, spark):
        # deterministic pseudo-random digraph on 12 nodes
        pairs = sorted({
            (f"n{(7 * i) % 12}", f"n{(5 * i + 3) % 12}")
            for i in range(40)
            if (7 * i) % 12 != (5 * i + 3) % 12
        })
        nodes = sorted({x for p in pairs for x in p})
        idx = {n: i for i, n in enumerate(nodes)}
        A = np.zeros((len(nodes), len(nodes)), dtype=np.int64)
        for s, d in pairs:
            A[idx[s], idx[d]] = 1
        h = np.ones(len(nodes), dtype=np.int64)
        for _ in range(3):
            a = A.T @ h
            h = A @ a
        got = self._hits(spark, pairs, iters=3)
        for n in nodes:
            assert got[n][0] == round(float(h[idx[n]] / h.sum()), 6), n
            assert got[n][1] == round(float(a[idx[n]] / a.sum()), 6), n

    def test_sums_normalize_to_one(self, spark):
        e = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")]
        got = self._hits(spark, e)
        assert abs(sum(v[0] for v in got.values()) - 1.0) < 1e-6
        assert abs(sum(v[1] for v in got.values()) - 1.0) < 1e-6


class TestPersonalizedPagerank:
    def _run(self, spark, tmp_path, pairs, seed_nodes, **kw):
        e = _edges(spark, pairs)
        seeds = spark.createDataFrame([(s,) for s in seed_nodes], "node string")
        return {
            r.entity: r.rank
            for r in graph.pagerank(
                e, max_iter=kw.pop("max_iter", 2), tol=None,
                stage_dir=str(tmp_path / "ppr"), seeds=seeds, **kw
            ).collect()
        }

    def test_mass_conserved_and_seed_biased(self, spark, tmp_path):
        # star with seeded center: the center holds the teleport mass
        # plus every leaf's full return flow — strictly above each
        # (symmetric, equal-ranked) leaf.  Σ rank = 1 in seeded mode.
        got = self._run(
            spark, tmp_path,
            [("a", "b"), ("a", "c"), ("a", "d")], ["a"], max_iter=8,
        )
        assert abs(sum(got.values()) - 1.0) < 1e-9
        assert got["a"] > got["b"]
        assert got["b"] == got["c"] == got["d"]

    def test_differential_vs_numpy(self, spark, tmp_path):
        import numpy as np

        pairs = sorted({(f"n{i % 7}", f"n{(3 * i + 1) % 7}") for i in range(15)
                        if i % 7 != (3 * i + 1) % 7})
        canon = sorted({(min(a, b), max(a, b)) for a, b in pairs})
        nodes = sorted({x for p in canon for x in p})
        idx = {n: i for i, n in enumerate(nodes)}
        A = np.zeros((len(nodes), len(nodes)))
        for a, b in canon:
            A[idx[a], idx[b]] = A[idx[b], idx[a]] = 1
        deg = A.sum(1)
        seeds = [nodes[0], nodes[2]]
        base = np.array([(1 - 0.85) / 2 if n in seeds else 0.0 for n in nodes])
        r = np.array([1 / 2 if n in seeds else 0.0 for n in nodes])
        for _ in range(3):
            r = base + 0.85 * (A.T @ (r / deg))
        got = self._run(spark, tmp_path, canon, seeds, max_iter=3)
        for n in nodes:
            assert abs(got[n] - r[idx[n]]) < 1e-9, n

    def test_seed_not_in_graph_raises(self, spark, tmp_path):
        _release_all(spark)
        with pytest.raises(Exception, match="no seed"):
            self._run(spark, tmp_path, [("a", "b")], ["zz"])
        # the raise releases what the call persisted
        assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty()

    def test_uniform_mode_unchanged(self, spark, tmp_path):
        """seeds=None still sums to 1 with uniform teleport (regression
        guard on the base_v refactor)."""
        e = _edges(spark, [("a", "b"), ("b", "c")])
        out = graph.pagerank(e, max_iter=2, tol=None,
                             stage_dir=str(tmp_path / "pr"))
        s = sum(r.rank for r in out.collect())
        assert abs(s - 1.0) < 1e-9


def test_hits_rejects_zero_iters(spark):
    e = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError, match="iters"):
        graph.hits(e, iters=0)


def test_clustering_coefficient_known_graph(spark):
    """Triangle abc + pendant d on a: coef(b)=coef(c)=1 (their whole
    neighborhood is connected), coef(a)=1/3 (one closed pair of three),
    coef(d)=0 (degree 1)."""
    from ddaugner_spark.operators.graph import clustering_coefficient

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("a", "d")], "a string, b string"
    )
    out = {r["entity"]: r for r in clustering_coefficient(edges).collect()}
    assert out["b"]["coef"] == 1.0 and out["c"]["coef"] == 1.0
    assert out["a"]["deg"] == 3 and out["a"]["triangles"] == 1
    assert out["a"]["coef"] == round(1 / 3, 6)
    assert out["d"]["coef"] == 0.0 and out["d"]["deg"] == 1


def test_assortativity_star_is_negative_one(spark):
    """A star graph is maximally disassortative: every edge joins the
    hub (deg n) to a leaf (deg 1), so r = -1. A 4-cycle is degree-
    regular -> zero variance -> NULL r."""
    from ddaugner_spark.operators.graph import degree_assortativity

    star = spark.createDataFrame(
        [("h", f"l{i}") for i in range(5)], "a string, b string"
    )
    row = degree_assortativity(star).collect()[0]
    assert row["n_ends"] == 10 and row["r"] == -1.0

    cycle = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "d")], "a string, b string"
    )
    row = degree_assortativity(cycle).collect()[0]
    assert row["r"] is None  # zero variance -> undefined


def test_edge_support_fixture(spark):
    # K4: every edge closes 2 triangles... no — each K4 edge is in
    # exactly 2 triangles (the two other vertices); square: 0
    v = ["a", "b", "c", "d"]
    k4 = [(x, y) for i, x in enumerate(v) for y in v[i + 1:]]
    got = {(r.a, r.b): r.support for r in graph.edge_support(_edges(spark, k4)).collect()}
    assert got == {(x, y): 2 for i, x in enumerate(v) for y in v[i + 1:]}
    sq = [("f", "g"), ("g", "h"), ("h", "i"), ("f", "i")]
    got = {(r.a, r.b): r.support for r in graph.edge_support(_edges(spark, sq)).collect()}
    assert set(got.values()) == {0}


def test_edge_support_sums_to_twice_triangle_counts(spark):
    """Every triangle at a node puts two of its edges at that node, so
    the supports of a node's incident edges sum to 2 × its triangle
    count — on a seeded random graph dense enough that most nodes sit
    in several triangles."""
    rng = random.Random(61)
    nodes = [f"t{i:02d}" for i in range(30)]
    seen = set()
    while len(seen) < 120:
        a, b = rng.sample(nodes, 2)
        seen.add((min(a, b), max(a, b)))
    e = _edges(spark, seen)
    tri = _tri_map(graph.triangle_counts(e))
    incident = dict.fromkeys(tri, 0)
    for r in graph.edge_support(e).collect():
        incident[r.a] += r.support
        incident[r.b] += r.support
    assert sum(tri.values()) > 0
    assert incident == {v: 2 * t for v, t in tri.items()}


def test_k_truss_keeps_core_drops_pendant_triangle(spark):
    # K4 on a..d (+: every edge support 2) plus a pendant triangle
    # (d,e,f) whose edges have support 1 -> 4-truss == the K4 alone
    v = ["a", "b", "c", "d"]
    k4 = [(x, y) for i, x in enumerate(v) for y in v[i + 1:]]
    pend = [("d", "e"), ("e", "f"), ("d", "f")]
    out = {
        (r.a, r.b): r.support
        for r in graph.k_truss(_edges(spark, k4 + pend), k=4).collect()
    }
    assert out == {(x, y): 2 for i, x in enumerate(v) for y in v[i + 1:]}


def test_k_truss_peel_cascade_to_empty(spark):
    # two triangles sharing edge (a,b): outer edges support 1 drop in
    # round 1, the shared edge's support then falls 2 -> 0 in round 2
    e = _edges(spark, [("a", "b"), ("a", "c"), ("b", "c"), ("a", "d"), ("b", "d")])
    stats = {}
    out = graph.k_truss(e, k=4, max_rounds=3, stats=stats).collect()
    assert out == []
    assert [r["n_edges"] for r in stats["rounds"]][:2] == [1, 0]


def test_k_truss_k3_is_triangle_closure(spark):
    # k=3 (support >= 1): exactly the edges in at least one triangle,
    # recursively - here the pendant edge drops, both triangles stay
    e = _edges(
        spark,
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"), ("c", "e"), ("d", "e"),
         ("e", "z")],
    )
    out = {(r.a, r.b) for r in graph.k_truss(e, k=3).collect()}
    assert out == {("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"), ("c", "e"),
                   ("d", "e")}


def _nf_map(df):
    return {r["r"]: r["nf_est"] for r in df.collect()}


def test_neighborhood_function_exact_on_path(spark, tmp_path):
    """Path a-b-c-d with k=32 >= n: every sketch holds the whole ball,
    so the 'estimate' is the exact ball-size sum: r=0 -> 4 (self only),
    r=1 -> 2+3+3+2, r=2 -> 3+4+4+3, then saturation at n^2 = 16."""
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    got = _nf_map(graph.neighborhood_function(
        e, rounds=4, k=32, stage_dir=str(tmp_path / "nf")))
    assert got == {0: 4, 1: 10, 2: 14, 3: 16, 4: 16}


def test_neighborhood_function_estimator_differential(spark, tmp_path):
    """Star with 60 leaves at k=8 (balls larger than k): differential
    against an exact Python KMV replay — same leading-8-hex md5 hash,
    same (k-1)*2^32/u_k estimator, same HALF_UP one-shot rounding —
    pinning the estimator path, not just the exact path."""
    import hashlib
    from decimal import Decimal, ROUND_HALF_UP

    k = 8
    leaves = [f"l{i:02d}" for i in range(60)]
    e = _edges(spark, [("c", l) for l in leaves])
    got = _nf_map(graph.neighborhood_function(
        e, rounds=2, k=k, stage_dir=str(tmp_path / "nf")))

    def h32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    def est(ball):
        hs = sorted({h32(x) for x in ball})[:k]
        if len(hs) < k:
            return len(hs)
        v = (k - 1) * 2**32 / hs[k - 1]
        return int(Decimal(v).quantize(Decimal(1), rounding=ROUND_HALF_UP))

    nodes = ["c"] + leaves
    balls = {
        0: {v: {v} for v in nodes},
        1: {v: ({v, "c"} if v != "c" else set(nodes)) for v in nodes},
        2: {v: set(nodes) for v in nodes},
    }
    want = {r: sum(est(balls[r][v]) for v in nodes) for r in balls}
    assert got == want


def test_effective_diameter_interpolation(spark, tmp_path):
    """Path a-b-c-d (exact nf 4,10,14,16,16): nf_max=16, thr=14.4 —
    crossing at r=3 interpolates 2 + (14.4-14)/(16-14) = 2.2; at q=0.4
    the threshold (6.4) is crossed at r=1: 0 + (6.4-4)/(10-4) = 0.4;
    at q=0.2 radius 0 already crosses -> 0.0."""
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    nf = graph.neighborhood_function(e, rounds=4, k=32,
                                     stage_dir=str(tmp_path / "nf"))
    row = graph.effective_diameter(nf, q=0.9).collect()[0]
    assert row["nf_max"] == 16 and row["eff_diameter"] == 2.2
    row = graph.effective_diameter(nf, q=0.4).collect()[0]
    assert row["eff_diameter"] == 0.4
    row = graph.effective_diameter(nf, q=0.2).collect()[0]
    assert row["eff_diameter"] == 0.0


def _kruskal(pairs):
    """Reference MSF under the (w, a, b) total edge order."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    out = []
    for w, a, b in sorted((w, min(a, b), max(a, b)) for a, b, w in pairs):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            out.append((a, b, w))
    return sorted(out)


def _msf(spark, pairs, tmp_path):
    df = spark.createDataFrame(pairs, "a string, b string, w double")
    got = graph.minimum_spanning_forest(df, stage_dir=str(tmp_path / "msf"))
    return sorted((r["a"], r["b"], r["w"]) for r in got.collect())


def test_msf_hand_fixture(spark, tmp_path):
    pairs = [("a", "b", 1.0), ("b", "c", 2.0), ("c", "d", 3.0),
             ("a", "d", 4.0), ("a", "c", 5.0)]
    assert _msf(spark, pairs, tmp_path) == [
        ("a", "b", 1.0), ("b", "c", 2.0), ("c", "d", 3.0)]


def test_msf_forest_two_components(spark, tmp_path):
    pairs = [("a", "b", 3.0), ("b", "c", 1.0), ("a", "c", 2.0),
             ("x", "y", 9.0)]
    assert _msf(spark, pairs, tmp_path) == [
        ("a", "c", 2.0), ("b", "c", 1.0), ("x", "y", 9.0)]


def test_msf_kruskal_differential_distinct_weights(spark, tmp_path):
    rng = random.Random(21)
    nodes = [f"n{i:02d}" for i in range(40)]
    seen = set()
    while len(seen) < 120:
        a, b = rng.sample(nodes, 2)
        seen.add((min(a, b), max(a, b)))
    ws = rng.sample(range(1, 10000), len(seen))
    pairs = [(a, b, float(w)) for (a, b), w in zip(sorted(seen), ws)]
    assert _msf(spark, pairs, tmp_path) == _kruskal(pairs)


def test_msf_ties_match_kruskal_total_order(spark, tmp_path):
    """All-equal weights: the (w, a, b) total order is the effective
    weight on both sides, so even the edge SET matches Kruskal."""
    rng = random.Random(22)
    nodes = [f"m{i}" for i in range(15)]
    seen = set()
    while len(seen) < 40:
        a, b = rng.sample(nodes, 2)
        seen.add((min(a, b), max(a, b)))
    pairs = [(a, b, 1.0) for a, b in sorted(seen)]
    got = _msf(spark, pairs, tmp_path)
    assert got == _kruskal(pairs)


def test_union_find_on_pointer_rows():
    """MSF's broadcast-sized contraction streams its Borůvka parent
    pointers (component → partner component) through canonical's
    union-find kernel: a chain, a tree and a mutual-min 2-cycle each
    resolve to one component labelled by its min member; the 2-cycle
    needs no re-rooting first."""
    import pandas as pd

    from ddaugner_spark.operators.canonical import union_find

    def run(*batches):
        frames = [
            pd.DataFrame({"a": [n for n, _p in rows], "b": [p for _n, p in rows]})
            for rows in batches
        ]
        (out,) = list(union_find(iter(frames)))
        return dict(zip(out["entity"], out["component"]))

    # chain d → c → b → a, rooted at a self-loop, split over two batches
    assert run([("d", "c"), ("c", "b")], [("b", "a"), ("a", "a")]) == {
        n: "a" for n in "abcd"}
    # tree under root r plus a separate self-loop singleton x
    tree = [("r", "r"), ("s", "r"), ("t", "r"), ("u", "s"), ("v", "t"),
            ("x", "x")]
    assert run(tree) == {**{n: "r" for n in "rstuv"}, "x": "x"}
    # mutual-min 2-cycle b ⇄ c with chains hanging off both ends
    cyc = [("b", "c"), ("c", "b"), ("d", "c"), ("e", "d"), ("a", "b")]
    assert run(cyc) == {n: "a" for n in "abcde"}


def test_msf_nonbroadcast_branch_matches_kernel(spark, tmp_path, monkeypatch):
    """Pin that the >threshold pointer-doubling contraction (the honest
    big-graph path) and the executor-memory-sized single-task kernel
    yield the same forest (both == Kruskal)."""
    rng = random.Random(23)
    nodes = [f"p{i:02d}" for i in range(30)]
    seen = set()
    while len(seen) < 70:
        a, b = rng.sample(nodes, 2)
        seen.add((min(a, b), max(a, b)))
    ws = rng.sample(range(1, 9999), len(seen))
    pairs = [(a, b, float(w)) for (a, b), w in zip(sorted(seen), ws)]
    kernel = _msf(spark, pairs, tmp_path / "k")
    monkeypatch.setattr(canonical, "BROADCAST_AUTO_THRESHOLD", 0)
    doubling = _msf(spark, pairs, tmp_path / "d")
    assert doubling == kernel == _kruskal(pairs)


def _uf_components(pairs):
    """Union-find CC over (a, b) pairs → {node: min-member label}."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    groups = {}
    for n in list(parent):
        groups.setdefault(find(n), []).append(n)
    out = {}
    for members in groups.values():
        lab = min(members)
        for m in members:
            out[m] = lab
    return out


def test_single_link_equals_thresholded_full_graph_cc(spark, tmp_path):
    """The SLINK≡MST-cut equivalence the oracle relies on: cutting the
    FOREST at t gives the connected components of the ≤t subgraph of
    the FULL graph (cycle property), singletons included."""
    rng = random.Random(31)
    nodes = [f"v{i:02d}" for i in range(30)]
    seen = set()
    while len(seen) < 90:
        a, b = rng.sample(nodes, 2)
        seen.add((min(a, b), max(a, b)))
    pairs = [(a, b, rng.choice([0.2, 0.4, 0.6, 0.9])) for a, b in sorted(seen)]
    df = spark.createDataFrame(pairs, "a string, b string, w double")
    msf = graph.minimum_spanning_forest(df, stage_dir=str(tmp_path / "m"))
    got = {
        (r["entity"], r["cluster"])
        for r in graph.single_link_clusters(
            msf, 0.5, stage_dir=str(tmp_path / "c")
        ).collect()
    }
    labels = _uf_components([(a, b) for a, b, w in pairs if w <= 0.5])
    graph_nodes = {x for a, b, _ in pairs for x in (a, b)}
    want = {(n, labels.get(n, n)) for n in graph_nodes}
    assert got == want


def test_single_link_all_cut_is_all_singletons(spark, tmp_path):
    pairs = [("a", "b", 2.0), ("b", "c", 3.0)]
    df = spark.createDataFrame(pairs, "a string, b string, w double")
    msf = graph.minimum_spanning_forest(df, stage_dir=str(tmp_path / "m"))
    got = sorted(
        (r["entity"], r["cluster"])
        for r in graph.single_link_clusters(
            msf, 0.5, stage_dir=str(tmp_path / "c")
        ).collect()
    )
    assert got == [("a", "a"), ("b", "b"), ("c", "c")]


def _peel_replay(pairs, eps, max_rounds):
    """Pure-python replay of the Bahmani bulk peel (the operator's
    exact contract: identical threshold arithmetic, strict-> argmax)."""
    edges = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    nodes = {x for e in edges for x in e}
    best_rho, best_set, rounds = None, None, []
    for r in range(max_rounds + 1):
        m, n = len(edges), len(nodes)
        if m == 0 or n == 0:
            break
        rho = m / n
        rounds.append((r, n, m, rho))
        if best_rho is None or rho > best_rho:
            best_rho, best_set = rho, set(nodes)
        if r == max_rounds:
            break
        thr = (2.0 * (1.0 + eps) * m) / n
        deg = {}
        for a, b in edges:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        nodes = {v for v, d in deg.items() if d > thr}
        edges = {(a, b) for a, b in edges if a in nodes and b in nodes}
    return best_rho, best_set, rounds


def test_densest_isolates_clique_from_pendant_path(spark, tmp_path):
    """K6 + attached 10-path, ε=0.1: round 1 peels the path (deg ≤ 2 <
    2.2·ρ₀), leaving the clique as the best-density round."""
    k6 = [f"k{i}" for i in range(6)]
    pairs = [(a, b) for i, a in enumerate(k6) for b in k6[i + 1:]]
    path = ["k0"] + [f"p{i}" for i in range(10)]
    pairs += list(zip(path, path[1:]))
    df = spark.createDataFrame(pairs, "a string, b string")
    got = graph.densest_subgraph(
        df, eps=0.1, max_rounds=12, stage_dir=str(tmp_path / "d")
    ).collect()
    assert sorted(r["entity"] for r in got) == sorted(k6)
    assert all(r["density"] == 2.5 for r in got)  # 15 edges / 6 nodes


def test_densest_python_replay_differential(spark, tmp_path):
    rng = random.Random(33)
    nodes = [f"n{i:02d}" for i in range(36)]
    seen = set()
    while len(seen) < 110:
        a, b = rng.sample(nodes, 2)
        seen.add((min(a, b), max(a, b)))
    pairs = sorted(seen)
    stats = {}
    got = graph.densest_subgraph(
        spark.createDataFrame(pairs, "a string, b string"),
        eps=1.0,
        max_rounds=12,
        stage_dir=str(tmp_path / "d"),
        stats=stats,
    ).collect()
    best_rho, best_set, rounds = _peel_replay(pairs, 1.0, 12)
    assert {r["entity"] for r in got} == best_set
    assert all(r["density"] == round(best_rho, 6) for r in got)
    assert [
        (s["round"], s["n"], s["m"], s["density"]) for s in stats["rounds"]
    ] == rounds


def test_luby_mis_invariants_and_replay(spark, tmp_path):
    """Independence (no MIS edge), maximality (every non-member has a
    member neighbor), and exact round-by-round equality with a pure
    python replay of the md5||node priority rounds."""
    import hashlib

    rng = random.Random(41)
    nodes = [f"v{i:02d}" for i in range(30)]
    seen = set()
    while len(seen) < 70:
        a, b = rng.sample(nodes, 2)
        seen.add((min(a, b), max(a, b)))
    pairs = sorted(seen)
    df = spark.createDataFrame(pairs, "a string, b string")
    stats = {}
    got = {
        r["entity"]: r["round"]
        for r in graph.luby_mis(
            df, stage_dir=str(tmp_path / "m"), stats=stats
        ).collect()
    }
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    # independence + maximality
    for v in got:
        assert not (adj[v] & got.keys()), v
    for v in set(adj) - set(got):
        assert adj[v] & got.keys(), v
    # exact replay
    prio = {v: hashlib.md5(v.encode()).hexdigest() + v for v in adj}
    und, want, r = set(adj), {}, 0
    while und:
        win = {
            v
            for v in und
            if all(prio[v] < prio[u] for u in adj[v] & und)
        }
        for v in win:
            want[v] = r
        und -= win | {u for v in win for u in adj[v]}
        r += 1
    assert got == want
    assert [s["won"] for s in stats["rounds"]] == [
        sum(1 for v in want if want[v] == i) for i in range(r)
    ]


def test_partition_edge_cut_replay(spark):
    import hashlib

    pairs = [(f"n{i}", f"n{(i * 7 + 3) % 40}") for i in range(40)]
    pairs = [(a, b) for a, b in pairs if a != b]
    df = spark.createDataFrame(pairs, "a string, b string")
    got = {
        r["k"]: (r["edges"], r["cut_edges"], r["cut_frac"])
        for r in graph.partition_edge_cut(df).collect()
    }

    def part(v, k):
        return int(hashlib.md5(v.encode()).hexdigest()[:12], 16) % k

    uniq = {(a, b) for a, b in pairs}
    for k in (4, 8, 16):
        cut = sum(1 for a, b in uniq if part(a, k) != part(b, k))
        assert got[k] == (len(uniq), cut, round(cut / len(uniq), 6))


def test_jp_coloring_proper_complete_and_replay(spark, tmp_path):
    import hashlib

    rng = random.Random(51)
    nodes = [f"v{i:02d}" for i in range(25)]
    seen = set()
    while len(seen) < 60:
        a, b = rng.sample(nodes, 2)
        seen.add((min(a, b), max(a, b)))
    pairs = sorted(seen)
    df = spark.createDataFrame(pairs, "a string, b string")
    got = {
        r["entity"]: r["color"]
        for r in graph.jp_coloring(df, stage_dir=str(tmp_path / "jp")).collect()
    }
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    # complete + proper
    assert set(got) == set(adj)
    for a, b in pairs:
        assert got[a] != got[b], (a, b)
    # exact replay of the priority schedule
    prio = {v: hashlib.md5(v.encode()).hexdigest() + v for v in adj}
    unc, want, c = set(adj), {}, 0
    while unc:
        win = {v for v in unc if all(prio[v] < prio[u] for u in adj[v] & unc)}
        for v in win:
            want[v] = c
        unc -= win
        c += 1
    assert got == want


def test_betweenness_path_and_diamond(spark):
    from ddaugner_spark.operators.graph import betweenness_sampled

    def run(edge_rows, seed_rows, **kw):
        e = spark.createDataFrame(edge_rows, "a string, b string")
        s = spark.createDataFrame([(x,) for x in seed_rows], "node string")
        return {
            r["node"]: r["bc"]
            for r in betweenness_sampled(e, s, **kw).collect()
        }

    # path a-b-c-d, single source a: delta(b)=2, delta(c)=1, delta(d)=0
    got = run([("a", "b"), ("b", "c"), ("c", "d")], ["a"])
    assert got == {"b": 2.0, "c": 1.0, "d": 0.0}

    # both endpoints as sources: b and c each get 2+1 = 3
    got = run([("a", "b"), ("b", "c"), ("c", "d")], ["a", "d"])
    assert got == {"a": 0.0, "b": 3.0, "c": 3.0, "d": 0.0}

    # diamond a-b-d, a-c-d: sigma(d)=2 so b and c split the dependency
    got = run([("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")], ["a"])
    assert got == {"b": 0.5, "c": 0.5, "d": 0.0}

    # depth truncation: path a-b-c-d with max_depth=2 stops at c
    got = run([("a", "b"), ("b", "c"), ("c", "d")], ["a"], max_depth=2)
    assert got == {"b": 1.0, "c": 0.0}
