"""Connected components: the single-task union-find kernel (graphs of
at most ``BROADCAST_AUTO_THRESHOLD`` nodes) against the distributed
hash-min loop (the threshold patched below every node count)."""

import os
import random

import pytest

from ddaugner_spark.operators import canonical, mentions


def _both(edges, tmp_path):
    """(kernel labels, loop labels, kernel stats) as sets of rows."""
    st: dict = {}
    kernel = {
        tuple(r)
        for r in canonical.connected_components(
            edges, stage_dir=str(tmp_path / "kernel"), stats=st
        ).collect()
    }
    with pytest.MonkeyPatch.context() as mp:
        # below every node count, the empty table's 0 included
        mp.setattr(canonical, "BROADCAST_AUTO_THRESHOLD", -1)
        loop = {
            tuple(r)
            for r in canonical.connected_components(
                edges, stage_dir=str(tmp_path / "loop")
            ).collect()
        }
    return kernel, loop, st


def _components(pairs):
    """Reference labels: lexicographic min member per component (BFS)."""
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out = {}
    for n in adj:
        if n in out:
            continue
        comp, todo = {n}, [n]
        while todo:
            for y in adj[todo.pop()] - comp:
                comp.add(y)
                todo.append(y)
        out.update((c, min(comp)) for c in comp)
    return set(out.items())


def test_kernel_matches_loop_on_chain(spark, tmp_path):
    rows = [(f"n{i:04d}", f"n{i + 1:04d}") for i in range(400)]
    edges = spark.createDataFrame(rows, "a string, b string")
    kernel, loop, st = _both(edges, tmp_path)
    assert kernel == loop == {(f"n{i:04d}", "n0000") for i in range(401)}
    assert st["broadcast_labels"] is True and st["n_nodes"] == 401
    assert len(st["iters"]) == 1 and st["n_checkpoints"] == 1


def test_kernel_matches_loop_on_random_graphs(spark, tmp_path):
    """Three seeded sparse random graphs side by side: islands,
    self-loops, duplicate and reversed edges."""
    rows = []
    for seed in (1, 2, 3):
        rng = random.Random(seed)
        nodes = [f"s{seed}_{rng.randrange(10**6):06d}" for _ in range(120)]
        part = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(90)]
        part += [(b, a) for a, b in part[:15]] + part[15:25]
        rows += part + [(n, n) for n in nodes[:5]]
    edges = spark.createDataFrame(rows, "a string, b string")
    kernel, loop, _ = _both(edges, tmp_path)
    assert kernel == loop == _components(rows)


def test_kernel_matches_loop_on_empty_table(spark, tmp_path):
    empty = spark.createDataFrame([], "a string, b string")
    kernel, loop, st = _both(empty, tmp_path)
    assert kernel == loop == set() and st["n_nodes"] == 0


def test_kernel_matches_loop_on_co_mention_graph(spark, docs, tmp_path):
    e = canonical.co_mention_edges(mentions.mentions_df(docs))
    kernel, loop, st = _both(e, tmp_path)
    assert kernel and kernel == loop
    assert st["n_nodes"] == len(kernel)


@pytest.mark.parametrize("caller_dir", [None, True])
def test_auto_runs_loop_past_threshold(spark, tmp_path, monkeypatch, caller_dir):
    """A graph with more nodes than the threshold runs the loop, with
    the same labels, staged in the operator's own temp dir (None, whose
    non-final round dirs the loop removes) or in the caller's (True)."""
    monkeypatch.setattr(canonical, "BROADCAST_AUTO_THRESHOLD", 5)
    e = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "y"), ("y", "z")], "a string, b string"
    )
    st: dict = {}
    stage_dir = str(tmp_path / "cc") if caller_dir else None
    got = {
        tuple(r)
        for r in canonical.connected_components(
            e, stage_dir=stage_dir, stats=st
        ).collect()
    }
    assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x"), ("z", "x")}
    assert st["broadcast_labels"] is False and st["n_nodes"] == 6
    if caller_dir:
        # the aborted kernel pass leaves no components dir behind
        assert not os.path.exists(os.path.join(stage_dir, "components"))


def test_kernel_branch_is_one_pass(spark, tmp_path, jobs_started):
    """Under the threshold CC is one optimistic kernel pass: 2 Spark
    jobs on a createDataFrame edge table (the exchange's map stage and
    the kernel's write; the cut re-reads with the written schema, so
    no schema-read job; the count-first form took 8), and nothing
    stays persisted."""
    rows = [(f"n{i:04d}", f"n{i + 1:04d}") for i in range(50)]
    edges = spark.createDataFrame(rows, "a string, b string")
    st: dict = {}
    comps, n_jobs = jobs_started(
        lambda: canonical.connected_components(
            edges, stage_dir=str(tmp_path / "cc"), stats=st
        )
    )
    assert n_jobs == 2
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == 0
    assert st["broadcast_labels"] is True and st["n_nodes"] == 51
    assert set(comps.collect()) == {(f"n{i:04d}", "n0000") for i in range(51)}
