"""Auxiliary benchmarks OUTSIDE the frozen bench.py (round 6).

bench.py is the driver's frozen measurement contract; everything
exploratory lives here instead (per the optimization-round rules):

* ``noop``  — noop-sink isolation of the flagship computations (guide
  §1.4: ``df.write.format("noop")`` computes every column of every row
  and discards it, so the number is the computation, not the sink);
* ``ccnb``  — connected components on the hash-min loop branch
  (``canonical.BROADCAST_AUTO_THRESHOLD`` patched to 0) over a 1M-node
  chain graph: the 10^12-doc fallback path (VERDICT r5 #4) gets a
  measured number and a plan assertion (labels exchanged, edges
  scanned — SortMergeJoin/ShuffledHashJoin, no BroadcastHashJoin in
  the iteration);
* ``graphlegs`` — bench.py's ``kg_canonical_cc``, ``graph_triangles``,
  ``graph_pagerank5`` and ``graph_msf_20k`` shapes standalone, plus
  k-truss, Luby MIS, Jones-Plassmann colouring and Louvain on the
  same co-mention edge table: bench.py's warm pass where it has one,
  then the min of 2, one wall per leg;
* ``cckernel`` — connected components in auto mode on a chain graph
  just under ``canonical.BROADCAST_AUTO_THRESHOLD`` nodes: the
  single-task union-find kernel at its size limit, with the wall and
  the peak RSS of the PySpark worker processes (the kernel's memory
  lives there, outside the JVM and its event-log metrics);
* ``msfkernel`` — ``graph.minimum_spanning_forest`` on a chain graph
  just under ``canonical.BROADCAST_AUTO_THRESHOLD`` nodes with
  md5-derived weights (bench.py's ``graph_msf_20k`` weighting): the
  first Borůvka round streams ~2M parent-pointer rows through the
  single-task union-find kernel, the largest table that branch takes;
  reports the wall, rounds, forest size and the worker peak RSS;
* ``bigdictbuild`` — the big-dictionary mention detector on a
  20k-surface dictionary with ~4k distinct first tokens over lengths
  1-3, built inline (bench.py's ``bigdict_gazetteer`` reuses the real
  gazetteer's few first tokens, so it cannot show this): ``build_s`` is
  the ``mentions_bigdict_df`` call (the deduped dictionary's collect
  and the tagger build, no action on the result), ``action_s`` the
  first ``count()`` of the result — the driver-side share that task
  metrics never see, next to the job it feeds;
* ``bigdictscale`` — bench.py's ``kg_mentions_bigdict_30k`` shape
  standalone: the ×AMPLIFY corpus materialized under a temp dir,
  bench.py's ``bigdict_gazetteer``, one warm-up call on 200 documents
  per arm, then the min of 2 ``count()`` walls with ``prefilter`` on
  and off, each with its mention count;
* ``scale64`` — one flagship leg at ×(AMPLIFY·64) amplification
  (VERDICT r5 #6 scale rehearsal) watching wall and plan-construction
  cost;
* ``pipeline`` — ``KGPipeline.run`` wall on the ×AMPLIFY corpus (the
  third end-to-end number): the dictionary path, and the model path
  with page dedup; a fresh output dir per rep, min of 2.

Every section runs on one ``local[SPARK_GRAFT_CPUS]`` session; the
variable defaults to 32, so on a smaller box set it to the core count
(``SPARK_GRAFT_CPUS=4``) or the sections time an oversubscribed
``local[32]``.  ``SPARK_GRAFT_SF_DIR`` (the sf0.1 corpus by default)
and ``SPARK_GRAFT_AMPLIFY`` (default 20) pick the corpus.

Usage: [SPARK_GRAFT_CPUS=N] python bench_extra.py [noop|ccnb|graphlegs|cckernel|msfkernel|bigdictbuild|bigdictscale|scale64|pipeline ...]   (default: noop ccnb; master local[SPARK_GRAFT_CPUS], default local[32])
Prints one JSON line per section, with the master it ran on.
"""

from __future__ import annotations

import io
import contextlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from ddaugner_spark.session import get_spark
from ddaugner_spark.sources import gazetteer_df, synthesize_pages, extract_text
from ddaugner_spark.operators import (
    bigdict, canonical, graph, linking, mentions, triples,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
AMPLIFY = int(os.environ.get("SPARK_GRAFT_AMPLIFY", "20"))


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _leg(spark, name, fn, out, reps=2):
    """Records the min of ``reps`` walls as ``out[name]``; returns every
    wall in run order."""
    walls = []
    for _ in range(max(1, reps)):
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        t0 = time.time()
        fn()
        walls.append(round(time.time() - t0, 3))
    spark.sparkContext.setJobDescription(None)
    out[name] = min(walls)
    return walls


def _bench():
    """The frozen bench.py, loaded as a module."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "benchmod", os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    return bench


def _amplified(spark, factor):
    return _bench().amplified_docs(spark, SF_DIR, factor)


def noop_section(spark) -> dict:
    """Flagship computations, noop-isolated (no sink in the timing)."""
    import shutil

    corpus_dir = "/tmp/ddaugner_extra_corpus"
    shutil.rmtree(corpus_dir, ignore_errors=True)
    _amplified(spark, AMPLIFY).write.parquet(corpus_dir)
    docs = spark.read.parquet(corpus_dir)
    pages = synthesize_pages(docs)
    extracted = pages.select("doc_id", extract_text(F.col("html")).alias("text"))
    out: dict = {}
    m = mentions.mentions_df(extracted)
    _noop(m)  # warm codegen
    _leg(spark, "mentions_noop", lambda: _noop(mentions.mentions_df(extracted)), out)
    _leg(
        spark,
        "link_scores_noop",
        lambda: _noop(linking.link_scores(mentions.mentions_df(docs), gazetteer_df(spark))),
        out,
    )
    _leg(spark, "triples_noop", lambda: _noop(triples.triples_df(extracted)), out)
    shutil.rmtree(corpus_dir, ignore_errors=True)
    return out


def _chain_edges(spark, n_nodes: int, chain: int, path: str):
    """Parquet-backed edges of ``n_nodes`` zero-padded string ids cut
    into disjoint paths of ``chain`` nodes each."""
    ids = spark.range(n_nodes).select(
        F.lpad(F.col("id").cast("string"), 9, "0").alias("a"),
        F.when(
            (F.col("id") + 1) % chain != 0,
            F.lpad((F.col("id") + 1).cast("string"), 9, "0"),
        ).alias("b"),
    )
    ids.filter(F.col("b").isNotNull()).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _md5_weighted(edges):
    """``(a, b, w)`` with bench.py's ``graph_msf_20k`` weighting: the
    first 32 bits of md5(a || b), scaled to [0, 1)."""
    return edges.select(
        "a",
        "b",
        (
            F.conv(F.substring(F.md5(F.concat("a", "b")), 1, 8), 16, 10)
            .cast("double")
            / F.lit(4294967296.0)
        ).alias("w"),
    )


def _worker_peak_rss_mb(spark) -> float:
    """Largest peak RSS (VmHWM) among the PySpark daemon and worker
    processes under the driver JVM; 0 when none was started."""
    todo, peak = [spark.sparkContext._gateway.proc.pid], 0
    while todo:
        pid = todo.pop()
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as fh:
                    todo.extend(int(c) for c in fh.read().split())
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                if b"pyspark.daemon" not in fh.read():
                    continue
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            pass
    return round(peak / 1024, 1)


def cckernel_section(spark, chain: int = 64) -> dict:
    """Auto-mode CC on a chain graph of ~1000 nodes fewer than
    ``BROADCAST_AUTO_THRESHOLD`` (whole chains): the single-task
    union-find kernel near the largest label table it accepts.  Reports
    the CC wall, the branch taken, and the peak RSS of the PySpark
    worker processes, read right after the call (workers outlive their
    task until an idle timeout).  Run it as the only section, so no
    earlier Python work sets that high-water mark."""
    import shutil

    n_nodes = (canonical.BROADCAST_AUTO_THRESHOLD - 1000) // chain * chain
    edges = _chain_edges(spark, n_nodes, chain, "/tmp/ddaugner_extra_cck_e")
    st: dict = {}
    t0 = time.time()
    comps = canonical.connected_components(
        edges, stage_dir="/tmp/ddaugner_extra_cck", stats=st
    )
    wall = round(time.time() - t0, 3)
    rss = _worker_peak_rss_mb(spark)
    n_comp = comps.select("component").distinct().count()
    shutil.rmtree("/tmp/ddaugner_extra_cck_e", ignore_errors=True)
    shutil.rmtree("/tmp/ddaugner_extra_cck", ignore_errors=True)
    return {
        "cc_sec": wall,
        "broadcast_labels": st.get("broadcast_labels"),
        "n_nodes": st.get("n_nodes"),
        "n_iters": len(st["iters"]),
        "n_components": n_comp,
        "components_expected": n_nodes // chain,
        "worker_peak_rss_mb": rss,
    }


def msfkernel_section(spark, chain: int = 64) -> dict:
    """Minimum spanning forest on the ``cckernel`` chain graph (~1000
    nodes fewer than ``BROADCAST_AUTO_THRESHOLD``, whole chains), each
    edge weighted by the first 32 bits of md5(a || b) as in bench.py's
    ``graph_msf_20k`` leg.  Every round has ≤ threshold live edges, so
    each contraction runs the single-task union-find kernel; round 1
    sends one pointer row per node through it.  Reports the MSF wall
    (to the forest count), the Borůvka rounds, the forest size and the
    peak RSS of the PySpark worker processes (read after the call, as
    in ``cckernel``; run it as the only section)."""
    import shutil

    n_nodes = (canonical.BROADCAST_AUTO_THRESHOLD - 1000) // chain * chain
    edges = _chain_edges(spark, n_nodes, chain, "/tmp/ddaugner_extra_msfk_e")
    edges = _md5_weighted(edges)
    st: dict = {}
    t0 = time.time()
    n_forest = graph.minimum_spanning_forest(
        edges, stage_dir="/tmp/ddaugner_extra_msfk", stats=st
    ).count()
    wall = round(time.time() - t0, 3)
    rss = _worker_peak_rss_mb(spark)
    spark.catalog.clearCache()
    shutil.rmtree("/tmp/ddaugner_extra_msfk_e", ignore_errors=True)
    shutil.rmtree("/tmp/ddaugner_extra_msfk", ignore_errors=True)
    return {
        "msf_sec": wall,
        "n_nodes": n_nodes,
        "rounds": len(st["rounds"]),
        "forest_edges": n_forest,
        "forest_expected": n_nodes - n_nodes // chain,
        "worker_peak_rss_mb": rss,
    }


def ccnb_section(spark, n_nodes: int = 1_000_000, chain: int = 64) -> dict:
    """Loop-branch CC (threshold patched to 0) on a synthetic chain
    graph whose label table (1M string nodes) is past the 8 MB
    auto-broadcast threshold, so the per-iteration hash-min join
    genuinely EXCHANGES the label table — the 10^12-doc fallback path
    (VERDICT r5 #4).  The iteration-join plan is asserted, not
    eyeballed: it must be a SortMergeJoin or ShuffledHashJoin, not a
    BroadcastHashJoin (the co-mention bench graph is 13 nodes — any
    leg built on it takes the single-task kernel)."""
    edges = _chain_edges(spark, n_nodes, chain, "/tmp/ddaugner_extra_ccnb_e")

    # plan pin: one hash-min iteration exactly as the operator's loop
    # builds it (parquet-backed label table) — the join over the 1M-row
    # label side must not broadcast
    sym = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    labels = sym.groupBy(F.col("a").alias("node")).agg(
        F.least(F.min("a"), F.min("b")).alias("label")
    )
    labels.write.mode("overwrite").parquet("/tmp/ddaugner_extra_ccnb_l")
    labels = spark.read.parquet("/tmp/ddaugner_extra_ccnb_l")
    it_join = sym.join(labels, sym.b == labels.node).groupBy(
        F.col("a").alias("node2")
    ).agg(F.min("label").alias("nbr_label"))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        it_join.explain("formatted")
    plan = buf.getvalue()
    join_exchanges = ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)
    assert join_exchanges, "iteration join unexpectedly broadcast"

    st: dict = {}
    threshold = canonical.BROADCAST_AUTO_THRESHOLD
    canonical.BROADCAST_AUTO_THRESHOLD = 0
    try:
        t0 = time.time()
        n_comp = (
            canonical.connected_components(
                edges, stage_dir="/tmp/ddaugner_extra_ccnb", stats=st
            )
            .select("component")
            .distinct()
            .count()
        )
        wall = round(time.time() - t0, 3)
    finally:
        canonical.BROADCAST_AUTO_THRESHOLD = threshold
    import shutil

    shutil.rmtree("/tmp/ddaugner_extra_ccnb_e", ignore_errors=True)
    shutil.rmtree("/tmp/ddaugner_extra_ccnb_l", ignore_errors=True)
    shutil.rmtree("/tmp/ddaugner_extra_ccnb", ignore_errors=True)
    return {
        "cc_nonbroadcast_sec": wall,
        "n_nodes": st.get("n_nodes"),
        "n_components": n_comp,
        "components_expected": n_nodes // chain,
        "iters": st.get("iters"),
        "iteration_join_exchanges": join_exchanges,
    }


def graphlegs_section(spark) -> dict:
    """bench.py's ``kg_canonical_cc``, ``graph_triangles``,
    ``graph_pagerank5`` and ``graph_msf_20k`` legs on the same inputs
    and stage dirs: the CC warm pass on 500 documents and the
    triangle and PageRank warm passes come first, as in bench.py.
    ``graph_k_truss`` (k=4, 3 rounds), ``graph_luby_mis``,
    ``graph_jp_coloring`` and ``graph_louvain2`` (2 rounds) run on the
    triangle leg's edge table, each with its own stage dir.  Every leg
    is the min of 2 (bench.py times MSF once).  ``rep_walls`` lists
    both reps of each leg: a second rep can reuse what the first left
    persisted."""
    import shutil

    bench_docs = _amplified(spark, 1)
    out: dict = {}
    reps: dict = {}
    wm = mentions.mentions_df(bench_docs.limit(500))
    canonical.connected_components(
        canonical.co_mention_edges(wm), stage_dir="/tmp/ddaugner_bench_cc"
    ).count()
    reps["kg_canonical_cc"] = _leg(
        spark,
        "kg_canonical_cc",
        lambda: canonical.connected_components(
            canonical.co_mention_edges(mentions.mentions_df(bench_docs)),
            stage_dir="/tmp/ddaugner_bench_cc",
        ).count(),
        out,
    )

    edges_dir = "/tmp/ddaugner_extra_graph_edges"
    canonical.co_mention_edges(mentions.mentions_df(bench_docs)).write.mode(
        "overwrite"
    ).parquet(edges_dir)
    edges = spark.read.parquet(edges_dir)
    graph.triangle_counts(edges).count()
    reps["graph_triangles"] = _leg(
        spark, "graph_triangles", lambda: graph.triangle_counts(edges).count(), out
    )

    def pagerank5():
        graph.pagerank(
            edges, max_iter=5, tol=None, stage_dir="/tmp/ddaugner_bench_pr"
        ).count()

    pagerank5()
    reps["graph_pagerank5"] = _leg(spark, "graph_pagerank5", pagerank5, out)

    stage = "/tmp/ddaugner_extra_graph_stage"
    for name, op, kw in (
        ("graph_k_truss", graph.k_truss, {"k": 4, "max_rounds": 3}),
        ("graph_luby_mis", graph.luby_mis, {}),
        ("graph_jp_coloring", graph.jp_coloring, {}),
        ("graph_louvain2", graph.louvain_rounds, {"rounds": 2}),
    ):
        reps[name] = _leg(
            spark,
            name,
            lambda op=op, kw=kw, d=f"{stage}/{name}": op(
                edges, stage_dir=d, **kw
            ).count(),
            out,
        )

    # bench.py's 20k-node graph: 64-node chains, md5-derived weights
    ids = spark.range(20_000).select(
        F.lpad(F.col("id").cast("string"), 7, "0").alias("a"),
        F.when(
            (F.col("id") + 1) % 64 != 0,
            F.lpad((F.col("id") + 1).cast("string"), 7, "0"),
        ).alias("b"),
    )
    msf_dir = "/tmp/ddaugner_extra_msf_e"
    _md5_weighted(ids.filter(F.col("b").isNotNull())).write.mode(
        "overwrite"
    ).parquet(msf_dir)
    msf_edges = spark.read.parquet(msf_dir)
    reps["graph_msf_20k"] = _leg(
        spark,
        "graph_msf_20k",
        lambda: graph.minimum_spanning_forest(
            msf_edges, stage_dir="/tmp/ddaugner_bench_msf"
        ).count(),
        out,
    )
    for d in (edges_dir, msf_dir, stage):
        shutil.rmtree(d, ignore_errors=True)
    return {**out, "rep_walls": reps}


def bigdictbuild_section(spark) -> dict:
    """``bigdict.mentions_bigdict_df`` build (the deduped dictionary's
    collect and the tagger build) vs first action, min of 2.
    Dictionary: 2,000 unigrams (2,000 first tokens) plus 9,000 bigrams
    and 9,000 trigrams over 1,000 first tokens each — 20,000 surfaces,
    4,000 first tokens.  Corpus: 2,000 seeded 30-token
    documents drawn from the dictionary's tokens and noise.  One
    untimed warm-up call on 200 documents comes first."""
    import random

    surfaces = [f"u{k}" for k in range(2000)]
    surfaces += [f"b{k % 1000} x{k}" for k in range(9000)]
    surfaces += [f"c{k % 1000} y{k % 7} z{k}" for k in range(9000)]
    gaz = spark.createDataFrame(
        [(s, ("PER", "LOC", "ORG")[k % 3]) for k, s in enumerate(surfaces)],
        "surface string, tag string",
    ).persist()
    gaz.count()
    vocab = [t for s in surfaces[::7] for t in s.split(" ")] + [
        f"noise{k}" for k in range(500)
    ]
    rng = random.Random(7)
    docs = spark.createDataFrame(
        [(i, " ".join(rng.choice(vocab) for _ in range(30))) for i in range(2000)],
        "doc_id long, text string",
    ).persist()
    docs.count()
    # warm the detector's codegen shapes, as bench.py's bigdict leg does
    bigdict.mentions_bigdict_df(docs.limit(200), gaz).count()
    build, action, n = [], [], None
    for _ in range(2):
        spark.sparkContext.setJobDescription("bench_extra: bigdictbuild")
        t0 = time.time()
        m = bigdict.mentions_bigdict_df(docs, gaz)
        build.append(time.time() - t0)
        t0 = time.time()
        n = m.count()
        action.append(time.time() - t0)
    spark.sparkContext.setJobDescription(None)
    gaz.unpersist()
    docs.unpersist()
    return {
        "surfaces": len(surfaces),
        "first_tokens": len({s.split(" ")[0] for s in surfaces}),
        "mentions": n,
        "build_s": round(min(build), 3),
        "action_s": round(min(action), 3),
    }


def bigdictscale_section(spark) -> dict:
    """bench.py's ``kg_mentions_bigdict_30k`` and ``_nofilter`` legs
    standalone: ``bigdict.mentions_bigdict_df(docs, gaz,
    prefilter=...).count()`` over the ×AMPLIFY corpus with bench.py's
    30k-extra dictionary, min of 2 per arm after one 200-document
    warm-up call."""
    import shutil
    import tempfile

    bench = _bench()
    corpus_dir = tempfile.mkdtemp(prefix="ddaugner_extra_bigdict_")
    bench.amplified_docs(spark, SF_DIR, AMPLIFY).write.mode("overwrite").parquet(
        corpus_dir
    )
    docs = spark.read.parquet(corpus_dir)
    gaz = bench.bigdict_gazetteer(spark)
    out: dict = {"amplify": AMPLIFY, "docs": docs.count()}
    for arm, name in ((True, "bigdict_30k"), (False, "bigdict_30k_nofilter")):
        bigdict.mentions_bigdict_df(docs.limit(200), gaz, prefilter=arm).count()
        counts = []
        out[f"{name}_walls"] = _leg(
            spark,
            name,
            lambda arm=arm: counts.append(
                bigdict.mentions_bigdict_df(docs, gaz, prefilter=arm).count()
            ),
            out,
        )
        out[f"{name}_mentions"] = counts[-1]
    shutil.rmtree(corpus_dir, ignore_errors=True)
    return out


def scale64_section(spark) -> dict:
    """One flagship mention+triple pass at ×(AMPLIFY·64) — watches wall
    and driver-side plan-construction cost at rehearsal scale."""
    import shutil

    corpus_dir = "/tmp/ddaugner_extra_scale64"
    shutil.rmtree(corpus_dir, ignore_errors=True)
    _amplified(spark, AMPLIFY * 64).write.parquet(corpus_dir)
    docs = spark.read.parquet(corpus_dir)
    t_plan0 = time.time()
    m = mentions.mentions_df(docs)
    plan_sec = round(time.time() - t_plan0, 3)
    t0 = time.time()
    _noop(m)
    m_sec = round(time.time() - t0, 3)
    t0 = time.time()
    _noop(triples.triples_df(docs))
    t_sec = round(time.time() - t0, 3)
    n = docs.count()
    shutil.rmtree(corpus_dir, ignore_errors=True)
    return {
        "amplify": AMPLIFY * 64,
        "docs": n,
        "plan_construct_sec": plan_sec,
        "mentions_noop_sec": m_sec,
        "triples_noop_sec": t_sec,
    }


def pipeline_section(spark) -> dict:
    """``KGPipeline.run(resume=False)`` over the ×AMPLIFY pages, once
    per detection path; each rep writes to a fresh output dir."""
    import shutil
    import tempfile

    from ddaugner_spark.plans.pipeline import KGPipeline

    corpus_dir = "/tmp/ddaugner_extra_pipeline"
    shutil.rmtree(corpus_dir, ignore_errors=True)
    _amplified(spark, AMPLIFY).write.parquet(corpus_dir)
    pages = synthesize_pages(spark.read.parquet(corpus_dir))
    out: dict = {"amplify": AMPLIFY, "pages": pages.count()}
    legs = (
        ("pipeline_dict", {}),
        ("pipeline_model_dedup", {"use_model": True, "dedup_pages": True}),
    )
    dirs: list = []
    for name, opts in legs:
        def run(opts=opts):
            dirs.append(tempfile.mkdtemp(prefix="ddaugner_extra_kg_"))
            KGPipeline(spark, dirs[-1], **opts).run(pages, resume=False)

        _leg(spark, name, run, out)
    for d in dirs + [corpus_dir]:
        shutil.rmtree(d, ignore_errors=True)
    return out


SECTIONS = {
    "noop": noop_section,
    "ccnb": ccnb_section,
    "graphlegs": graphlegs_section,
    "cckernel": cckernel_section,
    "msfkernel": msfkernel_section,
    "bigdictbuild": bigdictbuild_section,
    "bigdictscale": bigdictscale_section,
    "scale64": scale64_section,
    "pipeline": pipeline_section,
}


def main():
    sections = sys.argv[1:] or ["noop", "ccnb"]
    master = f"local[{CPUS}]"
    spark = get_spark(app_name="bench_extra", master=master, shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for s in sections:
            if s in SECTIONS:
                print(json.dumps({"section": s, "master": master, **SECTIONS[s](spark)}))
            else:
                print(json.dumps({"error": f"unknown section {s}"}))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
