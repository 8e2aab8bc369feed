"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship KG pipeline (pages → mentions → triples →
canonicalized triples) on sf0.001.

``queries()`` / ``oracle_sql()`` — one pair per implemented operator from
SURVEY.md §2 (+ the training-data-pipeline operators).  Every Spark query
is implemented in :mod:`ddaugner_spark.operators`; every oracle is ANSI
SQL over the same parquet views, with the dictionary world inlined from
``ddaugner_spark.config`` so both sides stay in lockstep.
"""

from __future__ import annotations

import atexit
import os
import shutil
import sys
import tempfile
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ddaugner_spark import config
from ddaugner_spark.config import sql_str_list
from ddaugner_spark.sources import gazetteer_df, synthesize_pages, extract_text
from ddaugner_spark.operators import (
    augment,
    canonical,
    crawl,
    dedup,
    er,
    graph,
    linking,
    mentions,
    overlap,
    privacy,
    retrieval,
    scoring,
    sentences,
    similarity,
    stats,
    tagging,
    temporal,
    textstats,
    triples,
)
from ddaugner_spark.operators import events as evops
from ddaugner_spark.operators import regression

QUERY_IDS = [0, 1, 2, 3, 4]  # ANN query vectors

_SCRATCH_ROOT: list[str] = []


def _scratch(prefix: str) -> str:
    """Gate-scratch dir (intermediate parquet, stream checkpoints/sinks)
    under ONE run-owned root removed at process exit — gate runs must
    not leak a /tmp dir per query (LEAKCHECK tracks this class)."""
    if not _SCRATCH_ROOT:
        root = tempfile.mkdtemp(prefix="ddaugner_gate_")
        _SCRATCH_ROOT.append(root)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT[0])


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _sa_toks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, tok) token table for the suffix-array family —
    whitespace split, matching the oracles' string_split exactly."""
    return (
        _docs(spark, sf_dir)
        .filter(F.coalesce(F.col("text"), F.lit("")) != "")
        .select(
            "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
        )
        .withColumn("pos", F.col("pos").cast("long"))
    )


# ======================================================================
# entry
# ======================================================================

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: synthetic pages → byte-identical extract → mention
    detection → SVO triples → CC-canonicalized triples."""
    docs = _docs(spark, "/root/testdata/sf0.001")
    pages = synthesize_pages(docs)
    extracted = pages.select("doc_id", extract_text(F.col("html")).alias("text"))
    t = triples.triples_df(extracted)
    m = mentions.mentions_df(extracted)
    comps = canonical.connected_components(
        canonical.co_mention_edges(m), stage_dir=_scratch("entry_cc_")
    )
    return canonical.canonicalize_triples(t, comps).select(
        "doc_id", "sent_id", "subj_canon", "pred", "obj_canon", "subj", "obj"
    )


# ======================================================================
# Spark queries
# ======================================================================

def q_tokenize(spark, sf):
    d = mentions.with_tokens(_docs(spark, sf))
    return d.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        # try_: ANSI element_at throws on the empty token array of a
        # null/empty-text row; these become NULL, matching the oracle
        F.try_element_at("tokens", F.lit(1)).alias("first_tok"),
        F.try_element_at("tokens", F.lit(-1)).alias("last_tok"),
    )


def q_sentences(spark, sf):
    return sentences.sentences_df(_docs(spark, sf))


def q_context_windows(spark, sf):
    return sentences.context_windows(sentences.sentences_df(_docs(spark, sf)), k=1)


def q_mentions(spark, sf):
    return mentions.mentions_df(_docs(spark, sf))


def q_mentions_udf(spark, sf):
    """Arrow-batched tagging path (M1) — must equal the codegen path, so
    it shares q_mentions' oracle."""
    return tagging.mentions_udf(_docs(spark, sf))


def q_mentions_bigdict(spark, sf):
    """Broadcast-join detector for dictionaries too large to inline
    (J1 at reference scale — conll_entities.py:7-26 is 3.5k names):
    windows prefiltered by the dictionary's first-token InSet, broadcast
    hash join on surface, hits-only shuffle, same overwrite semantics.
    Must equal the inline matcher, so it shares q_mentions' oracle."""
    from ddaugner_spark.operators.bigdict import mentions_bigdict_df

    gaz = spark.createDataFrame(
        [(s, c) for s, c, _w in config.GAZETTEER], "surface string, tag string"
    )
    return mentions_bigdict_df(_docs(spark, sf), gaz)


def q_mention_embeddings(spark, sf):
    """Per-MENTION pooled embeddings from the Arrow tagger path
    (predict.py:108-134 at mention granularity): deterministic ±1
    per-wordpiece hidden states summed over the mention's wordpieces,
    emitted as integer sums + count (mean = sum/n at read time) so the
    DuckDB oracle replays bit-exactly through the recursive WordPiece
    CTE."""
    from ddaugner_spark.operators.tagging import mention_embeddings_udf

    return mention_embeddings_udf(_docs(spark, sf))


def q_mention_ann(spark, sf):
    """ANN over MENTION embeddings (the north-star mention→ANN hook):
    top-3 cosine neighbors of every PER-tagged surface among all
    distinct mention surfaces — broadcast query side × data side nested
    loop (the exactness-baseline shape of q_ann_topk), integer dot
    products, deterministic (cos desc, surface asc) ties."""
    from pyspark.sql import Window
    from ddaugner_spark.operators.tagging import EMB_DIMS, mention_embeddings_udf


    sd = [f"s_{d}" for d in range(EMB_DIMS)]
    e = (
        mention_embeddings_udf(_docs(spark, sf))
        .select("surface", "tag", *sd)
        .distinct()
    )
    # materialize the tiny distinct-embedding table once (CLAUDE.md:
    # parquet round-trips between stages) — the broadcast query side and
    # the probe side below would otherwise each re-run the whole Arrow
    # tagging pipeline
    edir = _scratch("q_mention_ann_")
    e.write.mode("overwrite").parquet(edir)
    e = spark.read.parquet(edir)
    norm = sum(F.col(d) * F.col(d) for d in sd)
    e = e.withColumn("norm_sq", norm).filter(F.col("norm_sq") > 0)
    q = e.filter(F.col("tag") == "PER").select(
        F.col("surface").alias("q_surface"),
        F.col("norm_sq").alias("q_norm"),
        *[F.col(d).alias(f"q{d}") for d in sd],
    )
    dot = sum(F.col(f"q{d}") * F.col(d) for d in sd)
    pairs = (
        F.broadcast(q)
        .crossJoin(e)
        .filter(F.col("surface") != F.col("q_surface"))
        .withColumn(
            "cos",
            dot.cast("double")
            / (
                F.sqrt(F.col("q_norm").cast("double"))
                * F.sqrt(F.col("norm_sq").cast("double"))
            ),
        )
    )
    w = Window.partitionBy("q_surface").orderBy(
        F.col("cos").desc(), F.col("surface").asc(), F.col("tag").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "q_surface",
            F.col("surface").alias("n_surface"),
            F.col("tag").alias("n_tag"),
            F.col("rank").cast("long").alias("rank"),
            F.round("cos", 4).alias("cos"),
        )
    )


def _mention_vecs(spark, sf):
    """Distinct mention-embedding vector table (vec_id, surface, tag,
    embedding array<double>): one row per distinct (surface, tag) with a
    nonzero vector; vec_id = 60-bit md5 hash of 'surface|tag' — a pure
    MAP-SIDE id (a global row_number would single-partition-sort the
    distinct-surface table, the same scale-killer class as the old
    crossJoin), deterministic, and SQL-replayable (KMV uses the same
    Spark `conv` / DuckDB `('0x'||hex)::UBIGINT` pairing).  Collisions
    would need ~2^30 distinct surfaces and would merge identically on
    both engines."""
    from ddaugner_spark.operators.tagging import EMB_DIMS, mention_embeddings_udf

    sd = [f"s_{d}" for d in range(EMB_DIMS)]
    e = (
        mention_embeddings_udf(_docs(spark, sf))
        .select("surface", "tag", *sd)
        .distinct()
        .filter(sum(F.col(d) * F.col(d) for d in sd) > 0)
    )
    vec_id = F.conv(
        F.substring(F.md5(F.concat_ws("|", "surface", "tag")), 1, 15), 16, 10
    ).cast("long")
    return e.select(
        vec_id.alias("vec_id"),
        "surface",
        "tag",
        F.array(*[F.col(d).cast("double") for d in sd]).alias("embedding"),
    )


def q_mention_ann_ivf(spark, sf):
    """Mention-ANN through the k-means IVF index (the 100 TB path —
    VERDICT r3: the broadcast crossJoin in q_mention_ann is the
    exactness BASELINE, quadratic in distinct surfaces; the production
    hook routes the same mention embeddings through
    similarity.ivf_kmeans_topk: map-only literal-centroid assignment,
    probe explode, cell equi-join).  q_mention_ann stays registered as
    its recall oracle (recall@3 pinned in tests/test_ivf_kmeans.py)."""
    from ddaugner_spark.operators.tagging import EMB_DIMS

    mdir = _scratch("q_mention_ann_ivf_")
    _mention_vecs(spark, sf).write.mode("overwrite").parquet(mdir)
    mv = spark.read.parquet(mdir)
    # production form (VERDICT r4 #6): the query set — all PER surfaces
    # — stays a DataFrame and is semi-joined inside ivf_kmeans_topk; at
    # crawl scale it is itself distributed and must never be collected
    qdf = mv.filter(F.col("tag") == "PER").select("vec_id")
    topk = similarity.ivf_kmeans_topk(
        mv.select("vec_id", "embedding"),
        qdf,
        k=3,
        n_cells=8,
        nprobe=6,
        iters=2,
        dim=EMB_DIMS,
    )
    qm = mv.select(F.col("vec_id").alias("query_id"), F.col("surface").alias("q_surface"))
    dm = mv.select(
        F.col("vec_id").alias("nv_id"),
        F.col("surface").alias("n_surface"),
        F.col("tag").alias("n_tag"),
    )
    return (
        topk.join(F.broadcast(qm), "query_id")
        .join(F.broadcast(dm), topk.vec_id == dm.nv_id)
        .select("q_surface", "n_surface", "n_tag", "rank", "score")
    )


def q_mention_class_ratios(spark, sf):
    return scoring.class_counts(mentions.mentions_df(_docs(spark, sf)))


def q_tag_frequencies(spark, sf):
    return scoring.tag_frequencies(mentions.with_bio(_docs(spark, sf)))


def q_ner_score(spark, sf):
    d = _docs(spark, sf)
    return scoring.entity_set_score(
        mentions.naive_mentions_df(d), mentions.mentions_df(d)
    )


def q_prediction_errors(spark, sf):
    d = _docs(spark, sf)
    return scoring.prediction_errors(
        mentions.naive_mentions_df(d), mentions.mentions_df(d)
    )


def q_per_lang_scores(spark, sf):
    d = _docs(spark, sf)
    langs = d.select("doc_id", "lang")
    pred = mentions.naive_mentions_df(d).join(langs, "doc_id")
    gold = mentions.mentions_df(d).join(langs, "doc_id")
    return scoring.per_group_scores(pred, gold, "lang")


def q_mention_setops(spark, sf):
    d = _docs(spark, sf)
    return scoring.mention_set_ops(
        mentions.naive_mentions_df(d), mentions.mentions_df(d)
    )


def q_better_recalled(spark, sf):
    """tes_better_recalled.py:53-84 dataflow with the deterministic
    taggers standing in for the trained models (training is out of
    scope): gold = the dictionary matcher's entity set; the 'augmented'
    run = the Arrow model-path tagger (mentions_udf — the predict.py
    shape); the 'noaug' baseline = the unigram naive matcher.
    better_recalled = (aug ∩ gold) − noaug, counted by entity surface —
    the script's sorted Counter over entity names."""
    d = _docs(spark, sf)
    cols = ["doc_id", "sent_id", "start_idx", "end_idx", "surface", "tag"]
    gold = mentions.mentions_df(d).select(*cols)
    aug = tagging.mentions_udf(d).select(*cols)
    noaug = mentions.naive_mentions_df(d).select(*cols)
    better = aug.intersect(gold).subtract(noaug)
    return better.groupBy("surface").agg(F.count("*").cast("long").alias("n"))


def q_error_contexts(spark, sf):
    """tes_specific_errors.py:75-105: PER precision errors the naive
    baseline makes against gold (the dictionary run's own error set is
    empty, so the script's set difference reduces to the baseline's
    errors), each attached to its ±1-sentence token context
    (entity_context with context_size=1)."""
    d = _docs(spark, sf)
    cols = ["doc_id", "sent_id", "start_idx", "end_idx", "surface", "tag"]
    gold = mentions.mentions_df(d).select(*cols)
    naive = mentions.naive_mentions_df(d).select(*cols)
    errors = naive.filter(F.col("tag") == "PER").subtract(gold)
    ctx = sentences.context_features(d, k=1).select(
        "doc_id", "sent_id", F.array_join("ctx_tokens", " ").alias("context")
    )
    return errors.join(ctx, ["doc_id", "sent_id"]).select(
        "doc_id", "start_idx", "end_idx", "surface", "context"
    )


def q_capitalization(spark, sf):
    return augment.capitalization_augment(_docs(spark, sf))


def q_error_spans(spark, sf):
    d = _docs(spark, sf)
    pred = mentions.with_naive_bio(d).select("doc_id", "tokens", "tags")
    gold = mentions.with_bio(d).select("doc_id", "tokens", "tags")
    return scoring.disagreement_spans(pred, gold)


def q_majority_voting(spark, sf):
    d = _docs(spark, sf)
    return scoring.majority_voting_table(
        mentions.mentions_df(d), sentences.tokens_long(d)
    )


def q_triples(spark, sf):
    return triples.triples_df(_docs(spark, sf))


def q_kg_completion(spark, sf):
    """KG link-prediction eval harness (TransE protocol, Bordes
    NIPS'13): rank every entity as candidate tail by the integer L1
    translation score of HASH-DERIVED embeddings (the container-gated
    trained-model swap point), report MRR / hits@k for a deterministic
    1/10 fact sample.  Candidate fan-out = facts × broadcast entity
    vocab × broadcast dim spine, map-only md5 arithmetic, one
    (fact, candidate) hash aggregate + fact-keyed rank window; MRR via
    integer micro-quantized reciprocal ranks (operators/kgquery.py
    kg_completion_eval)."""
    from ddaugner_spark.operators import kgquery

    return kgquery.kg_completion_eval(triples.triples_df(_docs(spark, sf)))


def q_pra_features(spark, sf):
    """Path-Ranking-Algorithm random-walk features over the
    constructed KG (Lao & Cohen 2010; the relation-path features under
    Knowledge Vault's fusion layer): per (subj, typed path ≤2, obj)
    the uniform-walk landing probability, on the support-pruned
    fanout-capped edge set (the q_two_hop hub guard, degrees
    recomputed on the capped set) — every mid term the exact integral
    qscale DIV (d1·d2), integer-summed, ONE final division
    (operators/kgquery.py pra_path_features)."""
    from ddaugner_spark.operators import kgquery

    return kgquery.pra_path_features(triples.triples_df(_docs(spark, sf)))


def q_entity_link(spark, sf):
    return linking.link_scores(
        mentions.mentions_df(_docs(spark, sf)), gazetteer_df(spark)
    )


def q_entity_docs(spark, sf):
    """Skew-safe distinct-doc counts per entity (two-phase salted
    distinct; exact by salt-bucket disjointness)."""
    return linking.distinct_docs_per_entity(mentions.mentions_df(_docs(spark, sf)))


def q_canonical_cc(spark, sf):
    m = mentions.mentions_df(_docs(spark, sf))
    # explicit gate-owned stage_dir: the default own-dir would outlive
    # the query (the result is lazily backed by the final checkpoint)
    # and leak one /tmp dir per gate run
    return canonical.connected_components(
        canonical.co_mention_edges(m), stage_dir=_scratch("q_canonical_cc_")
    )


def q_canonical_star(spark, sf):
    """Connected components of the co-mention graph — the same
    operator and oracle as q_canonical_cc.  The name once selected the
    large-star/small-star contraction (Kiveris SoCC'14), measured 2.1×
    slower than hash-min with pointer jumping at 5.9M edges
    (docs/PLANS.md) and retired for that."""
    m = mentions.mentions_df(_docs(spark, sf))
    return canonical.connected_components(
        canonical.co_mention_edges(m), stage_dir=_scratch("q_canonical_star_")
    )


def q_triangles(spark, sf):
    """Per-entity triangle counts on the co-mention graph
    (degree-oriented wedge join — each triangle generated once at its
    minimum-(deg, node) vertex; oracle is the naive x<y<z 3-way
    self-join, same multiset)."""
    m = mentions.mentions_df(_docs(spark, sf))
    return graph.triangle_counts(canonical.co_mention_edges(m))


def q_pagerank(spark, sf):
    """2-step PageRank (damping 0.85, fixed iterations so the SQL twin
    can unroll the power iteration as two join+groupBy CTEs) on the
    symmetrized co-mention graph."""
    m = mentions.mentions_df(_docs(spark, sf))
    pr = graph.pagerank(
        canonical.co_mention_edges(m),
        damping=0.85,
        max_iter=2,
        tol=None,
        stage_dir=_scratch("q_pagerank_"),
    )
    return pr.select("entity", F.round("rank", 6).alias("rank"))


def q_ppr(spark, sf):
    """PERSONALIZED PageRank (2 fixed steps): teleport mass restarts
    only to the 'hash…'-surface seed set — the entity-disambiguation
    prior ("how close is this candidate to the entities already
    grounded in context") and seed-biased frontier score.  The restart
    vector rides the rank table as a per-node base_v column; iteration
    shape identical to q_pagerank (operators/graph.py pagerank,
    seeds=)."""
    m = mentions.mentions_df(_docs(spark, sf))
    edges = canonical.co_mention_edges(m)
    seeds = (
        m.select(F.col("surface").alias("node"))
        .distinct()
        .filter(F.col("node").startswith("hash"))
    )
    pr = graph.pagerank(
        edges,
        damping=0.85,
        max_iter=2,
        tol=None,
        stage_dir=_scratch("q_ppr_"),
        seeds=seeds,
    )
    return pr.select("entity", F.round("rank", 6).alias("rank"))


def q_frontier(spark, sf):
    """Polite crawl-frontier scheduling: the extracted link targets
    (priority = in-link count) are assigned fetch rounds — tick = rank
    within host by (priority desc, url) — so reading by ascending tick
    fetches ≤ 1 url per host per round, best-priority first, with an
    8-per-host crawl-budget cap.  One host-partitioned window, no
    global sort (operators/crawl.py frontier_schedule)."""
    pages = _link_pages(_docs(spark, sf), _src_anchor_tag)
    links = crawl.extract_links(pages)
    fr = (
        links.groupBy("target_url")
        .agg(F.count(F.lit(1)).alias("priority"))
        .select(
            F.col("target_url").alias("url"),
            crawl.host_of(F.col("target_url")).alias("host"),
            F.col("priority").cast("long").alias("priority"),
        )
    )
    return crawl.frontier_schedule(fr, max_per_host=8)


def q_kcore(spark, sf):
    """2-core of the co-mention graph, 3 bounded peeling rounds (the
    form the SQL twin unrolls; the graph reaches its peel fixed point
    inside the bound at gate scale, and the operator stops there)."""
    m = mentions.mentions_df(_docs(spark, sf))
    return graph.k_core(
        canonical.co_mention_edges(m), k=2, max_rounds=3,
        stage_dir=_scratch("q_kcore_"),
    )


#: Token-budget mixture for q_token_budget: shares over three sources,
#: everything else rate-0; budget chosen so rates land strictly between
#: 0 and 1000 at gate scale (partial thinning, not saturation).
MIX_SHARES = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
MIX_BUDGET = 1500


def q_repeated_ngrams(spark, sf):
    """Intra-doc repeated 3-gram removal (Lee et al. 2021's
    within-document arm): repeat/mask counts + the md5 of the exact
    reconstructed clean text per doc."""
    return dedup.repeated_ngram_stats(_docs(spark, sf), n=3)


def q_token_budget(spark, sf):
    """Token-budget mixture construction: per-source keep rates derived
    from actual token supply so the sample lands on share·budget tokens
    per source (md5-bucket membership, summary rows membership-pinned
    via sum_kept_ids)."""
    from ddaugner_spark.operators import sampling

    return sampling.token_budget_mixture(
        _docs(spark, sf), MIX_SHARES, MIX_BUDGET, strat_col="source"
    )


def q_label_prop(spark, sf):
    """Label-propagation communities on the co-mention graph, 2 fixed
    synchronous rounds with a self-vote and min-label tie-break (the
    bounded form the SQL twin unrolls; the per-round pick is one
    min(struct(-cnt, label)) hash aggregate, no per-node sort)."""
    m = mentions.mentions_df(_docs(spark, sf))
    return graph.label_propagation(
        canonical.co_mention_edges(m),
        max_rounds=2,
        stage_dir=_scratch("q_label_prop_"),
    )


def q_burt(spark, sf):
    """Burt's network constraint on the co-mention graph (structural
    holes: low constraint = the entity brokers between otherwise-
    disconnected groups — the brokerage lens the centrality family
    misses); every walk weight an exact integral qscale DIV (d_i·d_q),
    common-neighbor Σ an integer sum, each c_ij quantized once before
    the neighbor fold; neighbor-restricted Σ (the igraph convention)
    (operators/graph.py burt_constraint)."""
    m = mentions.mentions_df(_docs(spark, sf))
    return graph.burt_constraint(canonical.co_mention_edges(m))


def q_npmi(spark, sf):
    """Normalized PMI co-mention edges (Bouma 2009) — PMI mapped onto
    [−1, 1] so collocation strength is comparable ACROSS frequencies
    (rare pairs max out raw PMI; npmi corrects exactly that); shares
    the q_pmi_edges pair derivation, the c_ab = N corner pins 1.0
    lazily (operators/graph.py npmi_edges)."""
    m = mentions.mentions_df(_docs(spark, sf))
    return graph.npmi_edges(m)


def q_louvain(spark, sf):
    """Parallel Louvain local-move communities on the co-mention graph
    (2 synchronous rounds, the PLM variant) — the modularity-aware
    upgrade of q_label_prop: every per-round move is an EXACT BIGINT
    argmax of 2m·k_{i,c} − k_i·Σtot'_c with min-community tie-break,
    so the parallel moves are bit-deterministic and the SQL twin
    unrolls them verbatim (operators/graph.py louvain_rounds)."""
    m = mentions.mentions_df(_docs(spark, sf))
    return graph.louvain_rounds(
        canonical.co_mention_edges(m),
        rounds=2,
        stage_dir=_scratch("q_louvain_"),
    )


def q_vocab_richness(spark, sf):
    """Bias-corrected Chao1 richness estimate + Good–Turing unseen
    mass of the corpus vocabulary — the crawl-saturation planning
    numbers next to q_vocab_growth's curve; exact BIGINT
    vocab/singleton/doubleton folds, one division each
    (operators/textstats.py vocab_richness)."""
    return textstats.vocab_richness(_docs(spark, sf))


def q_pmi_edges(spark, sf):
    """PMI-weighted co-mention edges — association strength over
    sentence co-occurrence (edge-pruning signal ahead of CC/PageRank);
    entity counts broadcast, N as a broadcast scalar, exact integer
    arithmetic inside one ln."""
    m = mentions.mentions_df(_docs(spark, sf))
    return graph.pmi_edges(m)


#: deterministic bag-of-words query for the BM25 surface (tokens chosen
#: to exist in the synthetic corpus vocabulary at every sf).
BM25_QUERY = ["spark", "join", "window"]


def q_tfidf(spark, sf):
    """Top-5 TF-IDF terms per doc: tf/df aggregates share one shuffle
    (AQE reuse), df broadcast back, rank by ROUNDED score so the oracle
    orders identically."""
    return retrieval.tfidf_top_terms(_docs(spark, sf), k=5)


def q_postings(spark, sf):
    """Inverted index: df + first-16 posting list per token, bounded by
    a per-token window BEFORE collect_list (no unbounded stopword
    lists)."""
    return retrieval.postings(_docs(spark, sf), max_postings=16)


def q_bm25(spark, sf):
    """Okapi BM25 top-10 docs for a 3-token query; corpus explode is
    filtered to query terms before aggregation, top-k via
    TakeOrderedAndProject (no global-sort window)."""
    return retrieval.bm25_scores(_docs(spark, sf), BM25_QUERY, k=10)


def q_hybrid_rrf(spark, sf):
    """HYBRID retrieval — Reciprocal Rank Fusion (Cormack et al. 2009)
    of the lexical and dense retrievers the engine already has: BM25
    top-20 for the 3-token query fused with brute-force-cosine top-20
    for query vector 0 (doc_id ≡ vec_id in the test world), rrf(d) =
    Σ 1/(60+rank).  Fusion cost is bounded by the two k-lists — a
    full-outer join of 20-row tables + one 40-row window — regardless
    of corpus size (operators/retrieval.py rrf_fuse)."""
    bm = retrieval.bm25_scores(_docs(spark, sf), BM25_QUERY, k=20).select(
        "doc_id", "rank"
    )
    ann = similarity.brute_force_topk(_emb(spark, sf), [QUERY_IDS[0]], k=20).select(
        F.col("vec_id").alias("doc_id"), "rank"
    )
    return retrieval.rrf_fuse(bm, ann, k=10)


def q_pii_redact(spark, sf):
    """PII redaction (emails → IPv4 → phones → bare ID runs, masked in
    that order).  The synthetic corpus carries no PII, so the query
    deterministically INJECTS category examples as a pure function of
    doc_id (residue classes mod 5/7/11/13) identically in both engines —
    the differential then proves detection+masking fires, not just that
    zero matches equal zero matches.  Map-only: no shuffle, no UDF."""
    docs = _docs(spark, sf)
    did = F.col("doc_id")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(
                did % 5 == 0,
                F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(
                did % 7 == 0,
                F.concat(
                    F.lit(" from 10.0."),
                    (did % 256).cast("string"),
                    F.lit("."),
                    (did % 250).cast("string"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 11 == 0,
                F.concat(F.lit(" call +1415550"), (F.lit(1000) + did % 9000).cast("string")),
            ).otherwise(F.lit("")),
            F.when(
                did % 13 == 0,
                F.concat(F.lit(" ref "), (F.lit(100000000) + did).cast("string")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = privacy.redact_pii(injected)
    return out.select(
        "doc_id",
        "n_emails",
        "n_ips",
        "n_phones",
        "n_ids",
        F.md5("clean_text").alias("clean_hash"),
    )


def q_lm_bigram(spark, sf):
    """Self-trained bigram-LM doc scoring (CCNet/KenLM-style quality
    signal): mean negative log-likelihood per doc; model counts
    re-aggregate the doc-level shuffle (AQE reuse)."""
    return textstats.lm_bigram_scores(_docs(spark, sf))


def q_ccnet_buckets(spark, sf):
    """CCNet head/middle/tail (Wenzek et al. 2020): per-language
    terciles of the self-trained bigram-LM NLL — the perplexity-based
    quality gate of every CommonCrawl curation pipeline.  ntile over
    the TOTAL order (nll, doc_id) so bucket boundaries are
    engine-reproducible; the window runs on the doc-level score table,
    nothing token-sized (operators/textstats.py perplexity_buckets)."""
    return textstats.perplexity_buckets(_docs(spark, sf))


def q_url_templates(spark, sf):
    """URL path-template mining: ≥8-char hex runs → {hex} then digit
    runs → {n}, aggregated per host — the crawl-analytics view of a
    site's URL space (pagination vs calendar traps vs content) before
    the frontier commits budget.  Two map-only regexp_replace passes +
    one (host, template) groupBy; synthesized paths exercise numeric
    ids, date paths, hex session ids, and static pages
    (operators/crawl.py url_templates)."""
    d = _docs(spark, sf)
    r = F.col("doc_id") % 4
    i = F.col("doc_id").cast("string")
    path = (
        F.when(r == 0, F.concat(F.lit("/doc/"), i))
        .when(
            r == 1,
            F.concat(
                F.lit("/"),
                (2000 + F.col("doc_id") % 25).cast("string"),
                F.lit("/"),
                (1 + F.col("doc_id") % 12).cast("string"),
                F.lit("/post-"),
                i,
            ),
        )
        .when(r == 2, F.concat(F.lit("/u/"), F.substring(F.md5(i), 1, 12)))
        .otherwise(F.lit("/about"))
    )
    urls = d.select(
        F.concat(F.lit("https://"), "source", F.lit(".example.com"), path).alias("url")
    )
    return crawl.url_templates(urls, min_count=2)


#: Count-Min geometry for q_cm_heavy_hitters: width 8 FORCES bucket
#: collisions on the synthetic vocabulary (~31 tokens) so the
#: differential exercises the overestimate path, not just est == exact.
CM_DEPTH, CM_WIDTH = 4, 8


def q_cm_heavy_hitters(spark, sf):
    """Count-Min heavy hitters (engine addition): top-10 corpus tokens
    by CM-estimated frequency next to the exact count — the fixed-size
    mergeable frequency sketch (depth×width counters, cells merge by
    addition) for streaming/shard summaries where a vocabulary-sized
    exact table can't be kept.  Fully deterministic md5 bucketing, so
    the oracle rebuilds the identical table from exact counts."""
    from pyspark.sql import Window

    from ddaugner_spark.operators import sketches

    toks = retrieval._tokens(_docs(spark, sf))
    sketch = sketches.cm_sketch(toks, "token", depth=CM_DEPTH, width=CM_WIDTH)
    est = sketches.cm_estimate(sketch, toks, "token", depth=CM_DEPTH, width=CM_WIDTH)
    exact = toks.groupBy("token").agg(F.count("*").alias("exact"))
    scored = est.join(exact, est.value == exact.token).select(
        F.col("value").alias("token"), "est", "exact"
    )
    w = Window.orderBy(F.col("est").desc(), F.col("token").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 10)
        .select("token", "est", "exact", "rank")
    )


def q_gazetteer_inject(spark, sf):
    return augment.inject_gazetteer(_docs(spark, sf))


def q_augment_replace(spark, sf):
    out = augment.augment_replace(_docs(spark, sf))
    return out.select("doc_id", "augmented", F.md5("text").alias("text_hash"))


def q_augment_standard(spark, sf):
    out = augment.augment_standard(_docs(spark, sf))
    return out.select("doc_id", "augmented", F.md5("text").alias("text_hash"))


def q_balance_upsample(spark, sf):
    """R8/A7 — the driver-side solve is closed-form (augment.py), so the
    chosen doc multiset IS SQL-expressible and oracle-checked; the
    ratio-restoration law is additionally pytest-pinned
    (tests/test_augment.py)."""
    corpus, _ = augment.balance_upsample(
        _docs(spark, sf), stage_dir=_scratch("q_balance_")
    )
    return corpus.select("doc_id", "augmented", F.md5("text").alias("text_hash"))


def q_alias_expansion(spark, sf):
    """J2a — character alias sub-combination expansion
    (fix_ner.py:55-68) over the config character list."""
    from ddaugner_spark.operators import aliases as A

    ch = spark.createDataFrame([(c,) for c in config.CHARACTERS], "name string")
    return A.expand_character_aliases(ch).select("alias")


def q_demote_per(spark, sf):
    """J2b — unknown-PER demotion (fix_ner.py:224-233) over the corpus:
    positions whose tag flips to O because the surface is not a known
    character alias (the lowercase rule is book-tested; this vocabulary
    is all-lowercase)."""
    from ddaugner_spark.operators import aliases as A

    d = _docs(spark, sf)
    tagged = mentions.with_bio(d).select(
        F.lit("all").alias("book"), "doc_id", "tokens", "tags"
    )
    ch = spark.createDataFrame(
        [("all", c) for c in config.CHARACTERS], "book string, name string"
    )
    adf = A.expand_character_aliases(ch).select(
        "book", F.col("alias")
    )
    new = A.demote_unknown_per(tagged, adf, lowercase_rule=False).select(
        "doc_id", F.col("tags").alias("new_tags")
    )
    old = mentions.with_bio(d).select("doc_id", F.col("tags").alias("old_tags"))
    z = old.join(new, "doc_id").select(
        "doc_id",
        F.posexplode(
            F.zip_with(
                "old_tags",
                "new_tags",
                lambda o, n2: F.struct(o.alias("old_tag"), n2.alias("new_tag")),
            )
        ).alias("pos", "t"),
    )
    return z.filter(F.col("t.old_tag") != F.col("t.new_tag")).select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.col("t.old_tag").alias("old_tag"),
        F.col("t.new_tag").alias("new_tag"),
    )


def q_augment_compositional(spark, sf):
    """R4 — gazetteer injection drawing compositional Elder-Scrolls-form
    names (10 forms, reference probability ladder) instead of the flat
    pool."""
    from ddaugner_spark.functions import elder_scrolls_name

    return augment.inject_gazetteer(_docs(spark, sf), name_fn=elder_scrolls_name)


def q_augment_labelwise(spark, sf):
    """R1/R3 exact single-entity replacement (aug.py:17-74 semantics)."""
    return augment.augment_labelwise(_docs(spark, sf))


def q_wordpiece(spark, sf):
    """F12 — real greedy WordPiece over the distinct corpus vocabulary
    (column-native fold; kernel twin in kernels/wordpiece.py)."""
    from ddaugner_spark.functions import wordpiece_pieces

    words = (
        mentions.with_tokens(_docs(spark, sf))
        .select(F.explode("tokens").alias("word"))
        .distinct()
    )
    pieces = wordpiece_pieces(F.col("word"))
    return words.select(
        "word",
        F.array_join(pieces, " ").alias("pieces"),
        F.size(pieces).cast("long").alias("n_pieces"),
    )


def q_overlap(spark, sf):
    target = gazetteer_df(spark).select("name")
    vocab = (
        mentions.with_tokens(_docs(spark, sf))
        .select(F.explode("tokens").alias("name"))
        .distinct()
    )
    return overlap.overlap_subsets(target, vocab)


def q_context_features(spark, sf):
    return sentences.context_features(_docs(spark, sf), k=1).select(
        "doc_id", "sent_id", "n_ctx", "n_center"
    )


def q_text_extract(spark, sf):
    pages = synthesize_pages(_docs(spark, sf))
    ext = extract_text(F.col("html"))
    return pages.select(
        "doc_id",
        (ext == F.col("text")).alias("ok"),
        F.md5(ext).alias("content_hash"),
    )


def q_stream_dedup(spark, sf):
    """Streaming exact dedup with bounded state
    (dropDuplicatesWithinWatermark over the synthesized crawl
    timestamp): the emitted first-seen hash set must equal the batch
    DISTINCT md5(text) over the dup-amplified corpus."""
    from ddaugner_spark.streaming import incremental_dedup

    ck = _scratch("q_stream_dd_ck_")
    out = _scratch("q_stream_dd_out_")
    incremental_dedup(spark, f"{sf}/documents.parquet", ck, out)
    return spark.read.parquet(out).select("text_hash")


def q_stream_join(spark, sf):
    """Watermarked STREAM-STREAM interval join run to completion inside
    the correctness gate: every view matched to the same user's
    purchases within 24 h after it (the attribution-join shape, two
    unbounded inputs with symmetric watermarked state).  Inner-join
    matches emit as soon as both sides arrive, so the completed
    AvailableNow run equals the batch join exactly — the oracle IS the
    batch join.  Integer outputs only (lag in whole seconds, value in
    cents)."""
    from ddaugner_spark.streaming import incremental_stream_join

    ck = _scratch("q_stream_join_ck_")
    return incremental_stream_join(spark, f"{sf}/events.parquet", ck)


def q_stream_cm(spark, sf):
    """Streaming Count-Min sketch: state bounded by the sketch's
    depth×width cell space (not the vocabulary) — after an AvailableNow
    catch-up the table must equal the batch sketch, which the oracle
    rebuilds from exact token counts."""
    from ddaugner_spark.streaming import incremental_cm_sketch

    cells = incremental_cm_sketch(
        spark,
        f"{sf}/documents.parquet",
        _scratch("q_stream_cm_ck_"),
        depth=CM_DEPTH,
        width=CM_WIDTH,
    )
    return cells.select(
        F.col("row_idx").cast("long").alias("row_idx"),
        F.col("bucket").cast("long").alias("bucket"),
        F.col("cnt").cast("long").alias("cnt"),
    )


def q_media_metadata(spark, sf):
    """Typed metadata over opaque binary payloads (multimodal column
    plumbing): modality/width/height/duration derived deterministically
    from the payload bytes — the dimension-join shape a real container-
    header reader drops into."""
    from ddaugner_spark.operators import multimodal

    pages = synthesize_pages(_docs(spark, sf))
    out = multimodal.with_media_metadata(pages)
    return out.select(
        "url",
        F.length("html").cast("long").alias("n_bytes"),
        F.col("media_meta.modality").alias("modality"),
        F.col("media_meta.width").cast("long").alias("width"),
        F.col("media_meta.height").cast("long").alias("height"),
        F.col("media_meta.duration_ms").alias("duration_ms"),
    )


def q_media_decode(spark, sf):
    """Binary decode/featurize plumbing through the Arrow batch path
    (mapInPandas): payload sha256 + leading-bytes feature vector — the
    deterministic fake kernel whose batch signature a real codec drops
    into; the oracle replays it from the reconstructed payload.

    The feature vector is EXPLODED to (url, dim, value) rows: the
    driver's canonicalizer sorts/hashes the result frame in pandas and
    an array<float> column is unhashable there (the round-4 red row —
    value-correct, harness-incompatible).  No query may return an
    ArrayType/MapType/StructType column; pinned for every query in
    tests/test_entry.py::test_no_complex_types_in_query_schemas and in
    tools/parity_check.py."""
    from ddaugner_spark.operators import multimodal

    pages = synthesize_pages(_docs(spark, sf))
    out = multimodal.decode_features(pages)
    return out.select(
        "url",
        "n_bytes",
        "payload_sha",
        # float32 features rounded to 5 digits: every k/255 value rounds
        # identically in float32 and float64 at 5 digits (checked for
        # all 256 byte values; 3 of them diverge at 6)
        F.posexplode(
            F.transform("feature", lambda x: F.round(x.cast("double"), 5))
        ).alias("dim", "value"),
    ).withColumn("dim", F.col("dim").cast("long"))


def q_frame_plan(spark, sf):
    """Frame-sampling shape over opaque payloads: one row per sampled
    byte offset (sequence + explode, pure column expressions)."""
    from ddaugner_spark.operators import multimodal

    pages = synthesize_pages(_docs(spark, sf))
    return multimodal.frame_sample_plan(pages).select(
        "url", F.col("frame_offset").cast("long").alias("frame_offset")
    )


def q_dedup_exact(spark, sf):
    return dedup.exact_duplicates(dedup.with_dup_corpus(_docs(spark, sf)))


def q_minhash_lsh(spark, sf):
    return dedup.minhash_near_duplicates(dedup.with_dup_corpus(_docs(spark, sf)))


def q_decontaminate(spark, sf):
    """Benchmark decontamination (dedup.contaminated_docs): the
    synthetic near-copies (doc_id ≥ 1M in the dup corpus) are screened
    against a held-out 'benchmark' slice (original docs with
    doc_id % 20 == 10) — the near-copy family (2M range) leaks
    benchmark shingles and must be flagged."""
    d = _docs(spark, sf)
    corpus = dedup.with_dup_corpus(d).filter(F.col("doc_id") >= 1_000_000)
    benchmark = d.select("doc_id", "text").filter(F.col("doc_id") % 20 == 10)
    return dedup.contaminated_docs(corpus, benchmark).select(
        "doc_id",
        F.col("n_bench_docs").cast("long").alias("n_bench_docs"),
        F.col("n_shared_shingles").cast("long").alias("n_shared_shingles"),
    )


def q_jaccard_pairs(spark, sf):
    """Exact n-gram Jaccard near-dup pairs via the inverted shingle
    index (dedup.jaccard_pairs_inverted) — deterministic ground truth
    next to the MinHash+LSH approximation; same corpus, same threshold,
    so the two queries' outputs are directly comparable."""
    return dedup.jaccard_pairs_inverted(dedup.with_dup_corpus(_docs(spark, sf)))


def q_bpe_pairs(spark, sf):
    """BPE merge-candidate mining (Sennrich et al. 2016, iteration 0):
    top-20 adjacent character pairs inside words, weighted by word
    frequency — the tokenizer trainer's first merge table, computed the
    trainer's way (corpus → word-count vocabulary first, pair explode
    over distinct words only; operators/textstats.py
    bpe_pair_counts)."""
    return textstats.bpe_pair_counts(_docs(spark, sf), top_n=20)


def q_winnow(spark, sf):
    """Winnowing fingerprint selection (Schleimer et al. 2003 / MOSS)
    over the dup-amplified corpus: per doc, every window of 4
    consecutive 3-gram hashes keeps its minimum (rightmost on ties) —
    ~2/(w+1) of the shingle index with a guaranteed shared fingerprint
    for any ≥ w+k−1-token overlap.  One doc-partitioned sliding-frame
    window; the (hash, pos-desc) argmin is packed into a single
    sortable key so both engines take a plain min
    (operators/dedup.py winnow_fingerprints)."""
    return dedup.winnow_fingerprints(dedup.with_dup_corpus(_docs(spark, sf)), w=4)


def q_containment(spark, sf):
    """DIRECTED shingle containment (Broder): the dup-amplified corpus
    plus injected 30-token EXCERPTS (doc_id%20==5 → first 30 tokens as
    a new doc at id+3e6) — the excerpt has containment 1.0 in its
    source while its Jaccard is far below q_jaccard_pairs' threshold,
    demonstrating the asymmetric signal (quote farms, syndication)
    symmetric dedup misses.  Same inverted-index plan as
    q_jaccard_pairs, intersection counted once in a < b orientation
    (operators/dedup.py containment_pairs)."""
    d = _docs(spark, sf)
    toks = F.split(F.col("text"), " ")
    excerpts = d.filter(F.col("doc_id") % 20 == 5).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.array_join(F.slice(toks, 1, 30), " ").alias("text"),
    )
    corpus = dedup.with_dup_corpus(d).unionByName(excerpts)
    return dedup.containment_pairs(corpus, threshold=0.9)


def q_dedup_clusters(spark, sf):
    """Near-dup CLUSTER canonicalization — the training-pipeline 'keep
    one copy of each duplicate cluster' primitive: verified MinHash-LSH
    pairs → connected components (hash-min label propagation) →
    (doc_id, canonical_id, is_dup) keep-map.  Pure composition of two
    existing operators; doc ids are zero-padded so the CC's
    lexicographic min equals the numeric min the oracle's recursive
    reachability-min computes."""

    from ddaugner_spark.operators.canonical import connected_components

    corpus = dedup.with_dup_corpus(_docs(spark, sf))
    pairs = dedup.minhash_near_duplicates(corpus).select("a", "b")
    edges = pairs.select(
        F.lpad(F.col("a").cast("string"), 12, "0").alias("a"),
        F.lpad(F.col("b").cast("string"), 12, "0").alias("b"),
    )
    comps = connected_components(
        edges, stage_dir=_scratch("q_dedup_clusters_")
    )
    return comps.select(
        F.col("entity").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("canonical_id"),
        (F.col("entity") != F.col("component")).alias("is_dup"),
    )


def q_simhash(spark, sf):
    # bits=16 is the ORACLE configuration (the SQL twin unrolls 16
    # digit tests); the operator default is the scale-safe 64
    return dedup.simhash_fingerprints(_docs(spark, sf), bits=16)


def q_simhash_pairs(spark, sf):
    return dedup.simhash_near_duplicates(
        dedup.with_dup_corpus(_docs(spark, sf)), max_hamming=3, bits=16
    )


def q_doc_embeddings(spark, sf):
    from ddaugner_spark.operators import embedding

    # dims=16 is the ORACLE configuration; the operator default is 64
    e = embedding.hashed_doc_embeddings(_docs(spark, sf), dims=16)
    return e.select("doc_id", "v_0", "v_1", "v_2", "v_3", "norm_sq")


def q_embed_near_dups(spark, sf):
    from ddaugner_spark.operators import embedding

    return embedding.embedding_near_duplicates(
        dedup.with_dup_corpus(_docs(spark, sf)), dims=16, n_bands=4
    )


def q_semdedup(spark, sf):
    """SemDeDup (Abbas et al. 2023) over the embeddings table amplified
    with deterministic near-duplicates (every vec_id%4==0 vector gets a
    +0.1-on-one-dimension perturbed copy at id+1e6, cosine ≈ 0.995 to
    its original vs ≤ ~0.52 between any distinct pair — crisp τ=0.9
    margin): vectors are k-means-clustered (the same deterministic
    Lloyd quantizer as q_ann_ivf_kmeans), then each cluster keeps the
    lowest-vec_id representative of every cosine ≥ τ group — candidate
    pairs generated per CELL (one equi-join on cell id, quadratic only
    in cluster size), never corpus-wide (operators/embedding.py
    semantic_dedup).  The dup-free residue is exactly the training-set
    the paper's method would keep."""
    from ddaugner_spark.operators import embedding

    e = _emb(spark, sf)
    base = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    # 2-param transform lambda receives (element, 0-based index)
    pert = e.filter(F.col("vec_id") % 4 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x.cast("double")
            + F.when(i == F.col("vec_id") % 64, F.lit(0.1)).otherwise(F.lit(0.0)),
        ).alias("embedding"),
    )
    return embedding.semantic_dedup(
        base.unionByName(pert), n_cells=8, iters=2, tau=0.9, dim=64
    )


def q_ann_topk(spark, sf):
    return similarity.brute_force_topk(_emb(spark, sf), QUERY_IDS)


def q_ann_ivf(spark, sf):
    return similarity.ivf_topk(_emb(spark, sf), QUERY_IDS)


def q_ann_multiprobe(spark, sf):
    return similarity.ivf_multiprobe_topk(_emb(spark, sf), QUERY_IDS)


def q_ann_ivf_kmeans(spark, sf):
    """Data-adaptive IVF: deterministic k-means coarse quantizer (64
    cells, nprobe=24) — the 100 TB-shaped index (sign-cells cap at
    2^dims fixed cells regardless of data)."""
    return similarity.ivf_kmeans_topk(_emb(spark, sf), QUERY_IDS, nprobe=24)


def q_ann_quantized(spark, sf):
    """Top-k cosine over the int8-quantized corpus (4× memory/IO vs
    float32; cosine is per-vector scale-invariant so ranking runs on
    exact integer dot products).  Recall vs the float baseline pinned
    in tests/test_ivf_kmeans.py."""
    return similarity.quantized_topk(_emb(spark, sf), QUERY_IDS)


def q_cosine_threshold(spark, sf):
    return similarity.threshold_pairs(_emb(spark, sf), QUERY_IDS)


def q_quality(spark, sf):
    return textstats.quality_features(_docs(spark, sf))


def q_langid(spark, sf):
    return textstats.langid_predictions(_docs(spark, sf))


def q_token_counts(spark, sf):
    return textstats.token_counts(_docs(spark, sf))


def q_repetition(spark, sf):
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1):
    per doc, the most-common word-2-gram's share of all 2-grams and the
    duplicated-sentence fraction (sentence = terminator-delimited, the
    corpus line analogue)."""
    return textstats.repetition_stats(_docs(spark, sf))


def q_line_dedup(spark, sf):
    """Corpus-wide sentence-level dedup (C4/RefinedWeb line dedup): a
    sentence is kept only at its first (doc_id, sent_id) occurrence;
    per-doc survival summary."""
    return dedup.sentence_dedup(_docs(spark, sf))


def q_unicode_nfc(spark, sf):
    """Unicode NFC canonicalization (Arrow mapInPandas — Spark has no
    built-in NFC): per-doc suffixes arrive composed (é, even ids) or
    decomposed (e+U+0301, odd ids); after NFC both hash identically, so
    ``changed`` flags exactly the decomposed docs.  The pass every
    hash-keyed operator needs in front of it on a real crawl; oracle =
    DuckDB nfc_normalize (utf8proc) vs Python unicodedata (TR#15)."""
    d = _docs(spark, sf)
    suffix = F.when(
        F.col("doc_id") % 2 == 0, F.lit(" caf\u00e9")
    ).otherwise(F.lit(" cafe\u0301"))
    amp = d.select(
        "doc_id", F.concat(F.coalesce("text", F.lit("")), suffix).alias("text")
    )
    out = textstats.nfc_normalized(amp)
    return amp.join(out, "doc_id").select(
        "doc_id",
        F.md5("text").alias("raw_hash"),
        F.md5("text_nfc").alias("nfc_hash"),
        (F.md5("text") != F.md5("text_nfc")).alias("changed"),
    )


def q_url_canonical(spark, sf):
    """URL canonicalization over deterministically-noised crawl urls:
    per doc_id residue the synthesized url gains case noise + ``www.``
    + default port (r1), default port + utm tracking params (r2), a
    NON-default port that must survive plus a dropped utm param (r3),
    or ``www.`` + a fragment (r4); r0 stays pristine.  ``changed``
    flags exactly r1-r4.  Map-only, whole-stage codegen (parse_url +
    string arithmetic); the oracle replays the same canonicalization
    with regexp_extract in the Java ∩ RE2 subset."""
    d = _docs(spark, sf)
    r = F.col("doc_id") % 5
    i = F.col("doc_id").cast("string")
    s = F.col("source")
    url = (
        F.when(r == 1, F.concat(F.lit("HTTPS://WWW."), F.upper(s), F.lit(".EXAMPLE.COM:443/doc/"), i))
        .when(r == 2, F.concat(F.lit("https://"), s, F.lit(".example.com:443/doc/"), i, F.lit("?utm_source=feed&utm_campaign=x")))
        .when(r == 3, F.concat(F.lit("http://"), s, F.lit(".example.com:8080/doc/"), i, F.lit("?utm_medium=m&page=2")))
        .when(r == 4, F.concat(F.lit("https://www."), s, F.lit(".example.com/doc/"), i, F.lit("#section-3")))
        .otherwise(F.concat(F.lit("https://"), s, F.lit(".example.com/doc/"), i))
    )
    noisy = d.select("doc_id", url.alias("url"))
    out = crawl.with_canonical_url(noisy)
    return out.select(
        "doc_id",
        "url",
        "url_canon",
        "host",
        "domain",
        (F.col("url") != F.col("url_canon")).alias("changed"),
    )


def q_latest_capture(spark, sf):
    """Latest-capture-wins snapshot dedup: each url is recrawled
    1 + doc_id%4 times with NON-monotonic capture timestamps
    (offset (cap*3)%7 minutes, so for 4 captures the winner is cap=2,
    not the last one generated) and per-capture text revisions; one
    partially-aggregable groupBy(url).agg(max_by) keeps the newest.
    Deliberately not a row_number window — max_by pre-reduces map-side
    (see operators/crawl.py latest_captures)."""
    pages = synthesize_pages(_docs(spark, sf)).drop("html")
    amp = (
        pages.withColumn("cap", F.explode(F.sequence(F.lit(0), F.col("doc_id") % 4)))
        .withColumn(
            "warc_ts",
            F.col("warc_ts")
            + F.make_dt_interval(F.lit(0), F.lit(0), (F.col("cap") * 3) % 7, F.lit(0.0)),
        )
        .withColumn(
            "text", F.concat("text", F.lit(" (rev "), F.col("cap"), F.lit(")"))
        )
        .drop("doc_id", "lang")
    )
    out = crawl.latest_captures(amp)
    return out.select(
        "url",
        "n_captures",
        F.col("warc_ts").alias("latest_ts"),
        F.md5("text").alias("text_hash"),
    )


def q_scd2(spark, sf):
    """Slowly-changing-dimension type-2 history off the recrawl
    stream: the q_latest_capture amplifier with text revisions keyed
    cap DIV 2 — so 2-capture urls recrawl UNCHANGED (collapsed by the
    consecutive-dup filter) while 4-capture urls flip A→B→A→B in
    timestamp order (each flip is a real version) — folded into
    half-open (valid_from, valid_to] intervals with is_current on the
    newest (operators/crawl.py scd2_intervals; one shuffle, two stacked
    same-key windows)."""
    return crawl.scd2_intervals(_recrawl_amp(spark, sf))


def _recrawl_amp(spark, sf):
    """Shared recrawl amplifier of q_scd2 / q_change_rate: the
    q_latest_capture capture stream with text revisions keyed
    cap DIV 2 (so no-op recrawls AND real flips both occur)."""
    pages = synthesize_pages(_docs(spark, sf)).drop("html")
    return (
        pages.withColumn(
            "cap", F.explode(F.sequence(F.lit(0), F.col("doc_id") % 4))
        )
        .withColumn(
            "warc_ts",
            F.col("warc_ts")
            + F.make_dt_interval(
                F.lit(0), F.lit(0), (F.col("cap") * 3) % 7, F.lit(0.0)
            ),
        )
        .withColumn(
            "text",
            F.concat(
                "text", F.lit(" (rev "), F.expr("cap DIV 2"), F.lit(")")
            ),
        )
        .drop("doc_id", "lang")
    )


def q_change_rate(spark, sf):
    """Per-url page change-rate estimate off the recrawl stream (Cho &
    Garcia-Molina's Poisson-change freshness model — the λ̂ a recrawl
    scheduler sorts by): actual-change counts from the SCD2 collapse
    logic, exact integer μs spans, one division to changes/day;
    single-capture urls report the 0 cold-start sentinel
    (operators/crawl.py change_rate)."""
    return crawl.change_rate(_recrawl_amp(spark, sf))


def q_fm_eval(spark, sf):
    """Fowlkes–Mallows index of the ER resolution — geometric mean of
    pair precision/recall over the SAME contingency cells as
    B³/MUC/ARI/VI (fifth lens, the pair score that stays meaningful
    when one partition is much finer than the other); exact binomial
    BIGINTs, one sqrt (operators/er.py fm_cluster_eval)."""
    m = mentions.mentions_df(_docs(spark, sf))
    return er.fm_cluster_eval(
        er.distinct_surfaces(m), max_dist=2, stage_dir=_scratch("q_fm_")
    )


def q_vi_eval(spark, sf):
    """Variation of Information of the ER resolution vs construction
    truth (Meilă 2007 — the true METRIC on partitions), closing the
    cluster-eval family over the SAME contingency cells as
    q_b3_eval/q_muc_eval/q_ari_eval; every entropy/MI term
    micro-quantized at 10⁹ so all cross-engine Σs are integer sums
    (operators/er.py vi_cluster_eval)."""
    m = mentions.mentions_df(_docs(spark, sf))
    return er.vi_cluster_eval(
        er.distinct_surfaces(m), max_dist=2, stage_dir=_scratch("q_vi_")
    )


def q_cliffs_delta(spark, sf):
    """Cliff's δ ordinal effect size of document length between en and
    zh — the interpretable [−1,1] dominance readout next to
    q_mann_whitney's U (δ = 2U/(n_a·n_b) − 1) and q_welch_t's Cohen's
    d; pair counting entirely on distinct-VALUE cell pairs (the
    q_kendall_tau device), exact BIGINT counts, one division
    (operators/stats.py cliffs_delta)."""
    return stats.cliffs_delta(
        _docs(spark, sf), "lang", "n_chars", "en", "zh",
        stage_dir=_scratch("q_cliffs_"),
    )


def q_mrr(spark, sf):
    """Reciprocal rank of the first relevant result in the exact
    cosine retriever's top-10 (label-match relevance, the q_ndcg
    protocol) — the known-item-lookup metric next to nDCG's
    whole-ranking grade; integer-quantized dots so every rank is
    exact, rr = one 1/long division
    (operators/similarity.py mrr_at_k)."""
    return similarity.mrr_at_k(_emb(spark, sf), QUERY_IDS, k=10)


def q_host_skew(spark, sf):
    """Heavy-key (hub-host) skew profile: the synthesized crawl is
    amplified so every doc_id ≡ 0 (mod 20) page gets 8 copies — the
    doc_id→source stride is exactly 20, so ALL the extra mass lands on
    one host, the hub pattern the north_rule says to handle explicitly.
    key_skew_profile reports the top-5 hosts with their share of rows:
    the pre-flight diagnosis that tells a run which keys to salt (share
    ≳ 1/parallelism) before the per-host joins fire."""
    pages = synthesize_pages(_docs(spark, sf))
    amp = pages.withColumn(
        "_c",
        F.explode(
            F.sequence(
                F.lit(1), F.when(F.col("doc_id") % 20 == 0, F.lit(8)).otherwise(F.lit(1))
            )
        ),
    )
    hosts = amp.select(crawl.host_of(F.col("url")).alias("host"))
    return crawl.key_skew_profile(hosts, "host", top_n=5)


def q_er_pairs(spark, sf):
    """Entity-resolution candidate pairs over the mention-surface
    vocabulary (typo-amplified: every surface of length ≥ 4 gains a
    delete-second-char variant): block on (tag, lower first char),
    length-band prefilter, levenshtein ≤ 2.  The self-join runs on the
    vocabulary table, never on mentions (operators/er.py)."""
    surf = er.distinct_surfaces(mentions.mentions_df(_docs(spark, sf)))
    amp = er.with_typo_surfaces(surf)
    return er.er_candidate_pairs(amp, max_dist=2)


def q_msf(spark, sf):
    """Minimum spanning forest (distributed Borůvka) of the co-mention
    graph weighted by 1/co-occurrence-count — the KG relation BACKBONE
    (the spanning structure keeping the strongest co-mention links).
    O(log V) rounds: packed-argmin per component + hash-min CC as the
    contraction.  Oracle via the cut property: an edge is in the MSF
    iff its endpoints are not connected by strictly smaller edges
    under the (w, a, b) total order (operators/graph.py
    minimum_spanning_forest)."""
    return graph.minimum_spanning_forest(
        _coment_wedges(spark, sf), stage_dir=_scratch("q_msf_")
    )


def _coment_wedges(spark, sf):
    """Co-mention edges weighted by 1/co-occurrence-count (distance
    semantics: frequent co-mention = close) — shared by q_msf and
    q_single_link so engine and oracles agree on one edge definition."""
    m = mentions.mentions_df(_docs(spark, sf))
    a = m.select("doc_id", "sent_id", F.col("surface").alias("a"))
    b = m.select("doc_id", "sent_id", F.col("surface").alias("b"))
    return (
        a.join(b, ["doc_id", "sent_id"])
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("a", "b", (F.lit(1.0) / F.col("cnt")).alias("w"))
    )


def q_single_link(spark, sf):
    """Single-linkage clustering of the co-mention graph at distance
    0.5 (= entities co-mentioned ≥ 2×ever merge), cut from the Borůvka
    MSF — the SLINK dendrogram semantics in the MST formulation: the
    forest is computed ONCE, every threshold after that is a filter +
    forest-sized CC (never re-touching the O(E) edges; cycle-property
    equivalence in the operator docstring).  Oracle: reachability over
    the ≤0.5 subgraph of the FULL edge set — the equivalence the
    operator's test pins (operators/graph.py single_link_clusters)."""
    msf = graph.minimum_spanning_forest(
        _coment_wedges(spark, sf), stage_dir=_scratch("q_slink_msf_")
    )
    return graph.single_link_clusters(
        msf, threshold=0.5, stage_dir=_scratch("q_slink_cc_")
    )


def q_densest(spark, sf):
    """Densest-subgraph 2(1+ε)-approximation (Bahmani et al. VLDB'12
    bulk peeling, ε=1 → ≤ log₂V rounds) on the co-mention graph — the
    community-core / link-farm detector.  Each round: one degree
    aggregate + two semi-joins; best-density round's node set returned.
    Oracle: the peel sequence unrolled round-by-round in SQL with the
    identical (2·(1+ε)·m)/n double threshold (operators/graph.py
    densest_subgraph)."""
    m = mentions.mentions_df(_docs(spark, sf))
    return graph.densest_subgraph(
        canonical.co_mention_edges(m),
        eps=1.0,
        max_rounds=12,
        stage_dir=_scratch("q_densest_"),
    )


def q_silhouette(spark, sf):
    """Per-cluster simplified silhouette (a = dist to own centroid,
    b = nearest other centroid; the O(n·k) surrogate for the O(n²)
    mean-pairwise silhouette) over the SAME deterministic k-means cells
    as the IVF index — the cluster-quality gate for embedding-space
    partitions.  One map-only scoring pass against 64 centroid
    literals + one k-row aggregate; assignment arithmetic bit-identical
    to q_ann_ivf_kmeans (operators/similarity.py
    simplified_silhouette)."""
    return similarity.simplified_silhouette(_emb(spark, sf))


def q_mis(spark, sf):
    """Maximal independent set by Luby's algorithm on the co-mention
    graph — the symmetry-breaking primitive (conflict-free KG update
    batches: MIS nodes' writes can commit in parallel).  Deterministic
    md5||node priorities, one neighbor-min aggregate + two anti-joins
    per round; oracle unrolls the identical rounds
    (operators/graph.py luby_mis)."""
    m = mentions.mentions_df(_docs(spark, sf))
    return graph.luby_mis(
        canonical.co_mention_edges(m), stage_dir=_scratch("q_mis_")
    )


def q_edge_cut(spark, sf):
    """Hash-partition edge-cut of the co-mention graph at k ∈
    {4, 8, 16} workers — the communication-volume readout that prices
    a distributed graph layout before running it (ONE edge scan for
    all k; random-partition expectation is 1−1/k).
    (operators/graph.py partition_edge_cut)."""
    m = mentions.mentions_df(_docs(spark, sf))
    return graph.partition_edge_cut(canonical.co_mention_edges(m))


def q_decompose(spark, sf):
    """Classical additive seasonal decomposition of the per-type daily
    event-value series (centered 7-row MA trend, re-centered
    day-of-week seasonal, remainder) — "traffic grew" vs "Mondays are
    like that" for crawl-volume anomaly screens.  One stream-shrinking
    pre-aggregate, then windows over the tiny series table
    (operators/events.py seasonal_decompose)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    dec = evops.seasonal_decompose(ev)
    # full-MA-window rows only, date rendered as string: the driver
    # canonicalizer treats NULL-double vs NaN and DATE vs TIMESTAMP as
    # mismatches; the edge rows carry no decomposition anyway
    return dec.filter(F.col("trend").isNotNull()).select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("d"),
        "daily",
        "trend",
        "seasonal",
        "remainder",
    )


def q_mann_kendall(spark, sf):
    """Mann–Kendall monotonic-trend test per event type over the daily
    value series — the non-parametric significance companion to
    q_theil_sen's slope (exact-integer S and tie-corrected variance;
    the pair join runs on the |types|·|days| pre-aggregate, a constant
    in corpus size).  (operators/stats.py mann_kendall)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return stats.mann_kendall(ev)


def q_cdc_chunks(spark, sf):
    """Content-defined chunking dedup stats (token-anchor CDC:
    md5(token) % 8 == 0 opens a chunk — boundaries are stateless and
    resynchronize after edits, unlike fixed-stride blocks): per-doc
    chunk counts and the share of chunks whose hash appears in >1 doc.
    Map-only anchors + one per-doc cumsum window + hash-keyed counts
    (operators/dedup.py cdc_chunk_stats)."""
    return dedup.cdc_chunk_stats(_docs(spark, sf))


def q_greedy_coverage(spark, sf):
    """Greedy maximum-coverage subset selection: the 10 documents that
    together cover the most distinct 3-gram shingles (Nemhauser et al. (1−1/e)
    greedy; sequential greedy with distributed marginal-gain
    evaluation — one anti-join + one count per round, single-row
    argmax).  Oracle unrolls the identical 10 rounds
    (operators/traindata.py greedy_coverage)."""
    from ddaugner_spark.operators import traindata

    return traindata.greedy_coverage(_docs(spark, sf), k=10)


#: Horvitz–Thompson per-source sampling rates (per mille) for
#: q_ht_estimate — distinct rates per stratum so the estimator is
#: exercised at three different inclusion probabilities
HT_RATES = {"src0": 500, "src1": 250, "src2": 125}


def q_ht_estimate(spark, sf):
    """Horvitz–Thompson estimation of per-source token totals from the
    deterministic md5-bucket Bernoulli sample — the design-based audit
    for downsampled mixtures (estimate vs true total vs design
    variance).  π is exact by construction; every output number is one
    division of exact integer aggregates (operators/sampling.py
    horvitz_thompson)."""
    from ddaugner_spark.operators import sampling

    return sampling.horvitz_thompson(_docs(spark, sf), HT_RATES)


def q_sprt(spark, sf):
    """Wald SPRT (1945) on the daily view→purchase conversion stream:
    cumulative log-likelihood ratio vs the Wald boundaries — the
    earliest-stopping online experiment (vs the fixed-horizon
    q_ab_test).  Both logs are python-evaluated literals, so llr is
    exact-integer×literal arithmetic (operators/events.py
    sprt_daily)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return evops.sprt_daily(ev)


def q_kruskal_wallis(spark, sf):
    """Kruskal–Wallis H across event types over cents-scaled values —
    the k-sample rank test completing the non-parametric family
    (Mann–Whitney 2-sample, Mann–Kendall trend).  Exact doubled-rank
    integer sums from the distinct-value table; H + tie-corrected H'
    repeated per group row (operators/stats.py kruskal_wallis)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return stats.kruskal_wallis(ev)


def q_kcenter(spark, sf):
    """k-center / farthest-point traversal (Gonzalez 1985 2-approx) —
    8 maximally-spread embedding exemplars, the diversity/coreset
    selector: each round ONE map-only scoring pass against ≤k chosen
    literals + a 1-row argmax (the k-means-quantizer plan shape).
    Oracle unrolls the rounds (operators/similarity.py
    kcenter_select)."""
    return similarity.kcenter_select(_emb(spark, sf), k=8)


def q_coloring(spark, sf):
    """Greedy distance-1 coloring by iterated independent sets
    (Jones–Plassmann schedule, md5||node priorities) on the co-mention
    graph — color classes = conflict-free KG mutation batches.  Same
    per-round plan as q_mis but winners' neighbors stay in play;
    properness pinned in tests (operators/graph.py jp_coloring)."""
    m = mentions.mentions_df(_docs(spark, sf))
    return graph.jp_coloring(
        canonical.co_mention_edges(m), stage_dir=_scratch("q_jp_")
    )


def q_rolling_active(spark, sf):
    """Trailing 7-day distinct active users per day and event type —
    the rolling-WAU readout.  No sliding COUNT(DISTINCT) exists at
    scale; the fan-out rewrite dedups (user, day) FIRST, then explodes
    each pair into the ≤7 bucket-days it is visible in and hash
    count-distincts per bucket — map-side combinable, no ordered state
    (operators/events.py rolling_active_users)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return evops.rolling_active_users(ev)


def q_skyline(spark, sf):
    """Skyline / Pareto front of orders maximizing (o_totalprice,
    order recency): the grid-pruned two-phase plan — per-dim stats
    inlined as literals, 16² cell census, cell-level certain-dominance
    pruning on the census alone, exact dominance anti-join only inside
    the surviving Pareto band.  The corpus is never self-joined
    (operators/skyline.py skyline)."""
    from ddaugner_spark.operators.skyline import skyline

    o = spark.read.parquet(f"{sf}/orders.parquet").select(
        "o_orderkey",
        "o_totalprice",
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
        .cast("long")
        .alias("o_days"),
    )
    return skyline(o, ["o_totalprice", "o_days"])


def q_snm_pairs(spark, sf):
    """Sorted-neighborhood ER blocking (Hernández & Stolfo SIGMOD'95)
    over the typo-amplified surface vocabulary — the complementary
    strategy to q_er_pairs' equality blocks: sort by the normalized
    key, compare each record to its 3 successors only (O(V·w)
    candidates, catches pairs equality blocking's first-char key
    misses).  Sort position via the boundary-frozen range-partition
    rank, window join as a bounded explode + one hash equi-join
    (operators/er.py sorted_neighborhood_pairs)."""
    surf = er.distinct_surfaces(mentions.mentions_df(_docs(spark, sf)))
    amp = er.with_typo_surfaces(surf).select("surface", "tag").distinct()
    return er.sorted_neighborhood_pairs(
        amp, window=3, max_dist=2, stage_dir=_scratch("q_snm_")
    )


def q_er_resolve(spark, sf):
    """ER pairs → surface canonicalization map: connected components
    (hash-min label propagation) over the typo-pair graph, node ids
    tag-prefixed so clusters never merge across entity classes;
    canonical = lexicographically smallest surface of the cluster.
    Oracle = recursive reachability-min over the same pairs."""
    surf = er.distinct_surfaces(mentions.mentions_df(_docs(spark, sf)))
    pairs = er.er_candidate_pairs(er.with_typo_surfaces(surf), max_dist=2)
    edges = pairs.select(
        F.concat_ws("|", "tag", "a").alias("a"),
        F.concat_ws("|", "tag", "b").alias("b"),
    )
    comps = er.resolve_surfaces(edges, stage_dir=_scratch("q_er_resolve_"))
    sp = F.split(F.col("surface"), r"\|", 2)
    cp = F.split(F.col("canonical"), r"\|", 2)
    return comps.select(
        sp.getItem(0).alias("tag"),
        sp.getItem(1).alias("surface"),
        cp.getItem(1).alias("canonical"),
        "is_alias",
    )


def q_triple_provenance(spark, sf):
    """Per-triple evidence audit: distinct asserting docs, sentence
    attestations, deterministic first witness, bounded example-doc
    sample (comma-joined, scalar-safe) — one partial-aggregable groupBy
    on the triple key (operators/triples.py triple_provenance)."""
    return triples.triple_provenance(triples.triples_df(_docs(spark, sf)))


def q_kg_validity(spark, sf):
    """TEMPORAL KG: per-triple validity intervals under a deterministic
    recrawl model — doc d is captured 1 + d%3 times (capture c at
    DATE 2024-01-01 + d%7 + c, truncated by its last c sentences), so a
    triple asserted in sentence s of doc d is observed in captures
    c ≤ min(d%3, max_sent(d) − s): first_seen/last_seen/n_assertions
    reduce in ONE partial-aggregable groupBy over the triple key
    (operators/triples.py triple_validity), plus the as-of probe
    'alive on 2024-01-03'.  The capture model is applied POST-extraction
    (sentence survival arithmetic), so the corpus is extracted once,
    not once per capture."""
    t = triples.triples_df(_docs(spark, sf))
    msent = t.groupBy("doc_id").agg(F.max("sent_id").alias("max_sent"))
    cmax = F.least(F.col("doc_id") % 3, F.col("max_sent") - F.col("sent_id"))
    base = F.lit("2024-01-01").cast("date")
    a = t.join(msent, "doc_id").select(
        "subj",
        "pred",
        "obj",
        F.date_add(base, (F.col("doc_id") % 7).cast("int")).alias("first_ts"),
        F.date_add(base, (F.col("doc_id") % 7 + cmax).cast("int")).alias("last_ts"),
        (cmax + 1).cast("long").alias("n_instances"),
    )
    v = triples.triple_validity(a)
    probe = F.lit("2024-01-03").cast("date")
    return v.select(
        "subj",
        "pred",
        "obj",
        # ISO strings: DuckDB DATE surfaces as midnight Timestamp in
        # pandas — string form keeps the canonicalizer representation-
        # stable on both sides
        F.date_format("first_seen", "yyyy-MM-dd").alias("first_seen"),
        F.date_format("last_seen", "yyyy-MM-dd").alias("last_seen"),
        "n_assertions",
        ((F.col("first_seen") <= probe) & (probe <= F.col("last_seen"))).alias(
            "alive_at_probe"
        ),
    )


def q_kg_negatives(spark, sf):
    """KG-embedding training negatives (TransE-style filtered
    corruption, Bordes et al. 2013): per distinct triple, 2 object
    corruptions drawn by md5-mod over the contiguous entity-id
    vocabulary, with candidates colliding with ANY true triple
    anti-joined away — every emitted row is a guaranteed negative.
    Entity ids are deterministic (row_number over binary-collation
    entity strings — Spark/DuckDB agree); vocabulary broadcasts
    (operators/triples.py negative_samples)."""
    return triples.negative_samples(triples.triples_df(_docs(spark, sf)), k=2)


def q_ntriples(spark, sf):
    """W3C N-Triples serialization of the constructed KG — the
    interchange materialization any RDF store can load (injective
    %-encoding: '%'→'%25' before ' '→'%20').  Map-only over the
    distinct triple set; write_ntriples is the text sink
    (pytest-pinned round-trip)."""
    return triples.to_ntriples(triples.triples_df(_docs(spark, sf)))


def q_bfs(spark, sf):
    """Bounded-depth BFS over the constructed KG: minimum hop distance
    (≤3) from the seed set {entities whose surface starts with 'hash'}
    over the undirected distinct (subj, obj) edge set.  Frontier
    iteration with broadcast-while-small frontiers and anti-join
    first-discovery semantics (operators/graph.py bfs_distances);
    oracle = depth-bounded recursive CTE reachability with min(dist)."""
    from ddaugner_spark.operators.graph import bfs_distances

    t = triples.triples_df(_docs(spark, sf))
    edges = t.select(F.col("subj").alias("a"), F.col("obj").alias("b")).distinct()
    nodes = edges.select(F.col("a").alias("node")).union(
        edges.select(F.col("b").alias("node"))
    ).distinct()
    seeds = nodes.filter(F.col("node").startswith("hash"))
    return bfs_distances(edges, seeds, max_depth=3, stage_dir=_scratch("q_bfs_"))


def q_betweenness(spark, sf):
    """Sampled Brandes betweenness (k-betweenness, depth ≤ 3) from the
    'hash%' seed set over the undirected KG edge set: level-synchronous
    multi-source σ counting + backward dependency folding, each level a
    frontier-proportional join (operators/graph.py betweenness_sampled);
    oracle = bounded walk enumeration (σ = count of min-dist walks) +
    a fixed 3-level unroll of the dependency recursion."""
    from ddaugner_spark.operators.graph import betweenness_sampled

    t = triples.triples_df(_docs(spark, sf))
    edges = t.select(F.col("subj").alias("a"), F.col("obj").alias("b")).distinct()
    nodes = edges.select(F.col("a").alias("node")).union(
        edges.select(F.col("b").alias("node"))
    ).distinct()
    seeds = nodes.filter(F.col("node").startswith("hash"))
    return betweenness_sampled(
        edges, seeds, max_depth=3, stage_dir=_scratch("q_bc_")
    )


def _link_pages(d: DataFrame, anchor_tag) -> DataFrame:
    """(url, html binary) pages with 1 + doc_id%3 synthetic ``<a>`` tags
    appended to the body — ``anchor_tag(j)`` builds one tag Column for
    link offset ``j``.  Shared by q_link_graph / q_hits / q_anchor_text
    so the html build (and its oracle replay) stays identical."""
    anchors = F.array_join(
        F.transform(F.sequence(F.lit(0), F.col("doc_id") % 3), anchor_tag), ""
    )
    html_str = F.concat(
        F.lit(_HTML_PRE),
        F.col("source"),
        F.lit(" "),
        F.col("doc_id").cast("string"),
        F.lit(_HTML_MID),
        F.coalesce("text", F.lit("")),
        anchors,
        F.lit(_HTML_POST),
    )
    return d.select(
        F.concat(
            F.lit("https://"), "source", F.lit(".example.com/doc/"), F.col("doc_id").cast("string")
        ).alias("url"),
        F.encode(html_str, "UTF-8").alias("html"),
    )


def _src_anchor_tag(j):
    """q_link_graph / q_hits link j: target src{(doc_id+j)%20} host."""
    return F.concat(
        F.lit('<a href="https://src'),
        ((F.col("doc_id") + j) % 20).cast("string"),
        F.lit(".example.com/doc/"),
        (F.col("doc_id") + j + 1).cast("string"),
        F.lit('">x</a>'),
    )


def q_link_graph(spark, sf):
    """Host-level web graph from raw html: deterministic anchors are
    injected into each synthesized page (1 + doc_id%3 links, target
    host/doc a pure function of doc_id), then extract_links pulls every
    href via ONE regexp_extract_all + explode (map-only) and host_graph
    aggregates (src_host, dst_host) edge weights in one
    partial-aggregable groupBy.  The front door for host PageRank /
    crawl-frontier prioritization; the oracle replays the html build
    and the same RE2-subset extraction."""
    pages = _link_pages(_docs(spark, sf), _src_anchor_tag)
    return crawl.host_graph(crawl.extract_links(pages))


def q_hits(spark, sf):
    """Kleinberg HITS over the DIRECTED host web graph (same synthetic
    link crawl as q_link_graph): hub = points at good authorities,
    authority = pointed at by good hubs — the frontier-prioritization /
    entity-page prior the undirected PageRank can't express.  The whole
    power iteration runs in INTEGER arithmetic (HITS updates are
    linear, so normalization is deferred to ONE exact final division
    per node — no float-summation-order hazard at any depth); per
    half-step one edge⋈score equi-join + partial-aggregable groupBy,
    score table broadcast while host-vocabulary-sized
    (operators/graph.py hits).  Oracle = the same two iterations
    unrolled over integer CTEs."""
    pages = _link_pages(_docs(spark, sf), _src_anchor_tag)
    g = crawl.host_graph(crawl.extract_links(pages))
    edges = g.select(F.col("src_host").alias("src"), F.col("dst_host").alias("dst"))
    return graph.hits(edges, iters=2, stage_dir=_scratch("q_hits_"))


def q_anchor_text(spark, sf):
    """Anchor-text aggregation — how the web NAMES each target host
    (the classic KG/search naming signal): pages carry links whose
    anchor text varies ('Entity k', k = (doc_id+j)%7) over 10 target
    hosts; extract_anchors pulls (target, anchor) per tag map-only and
    anchor_summary reduces each host to (n_links, n_anchor_forms,
    top_anchor, top_count) in two host-keyed hash aggregates — the
    winner picked by min(struct(-cnt, anchor)) INSIDE the aggregate, no
    per-host window sort, so hub hosts cost O(rows) not O(rows log
    rows) (operators/crawl.py anchor_summary)."""
    pages = _link_pages(
        _docs(spark, sf),
        lambda j: F.concat(
            F.lit('<a href="https://t'),
            ((F.col("doc_id") + j) % 10).cast("string"),
            F.lit(".example.com/page/"),
            ((F.col("doc_id") * 3 + j) % 50).cast("string"),
            F.lit('">Entity '),
            ((F.col("doc_id") + j) % 7).cast("string"),
            F.lit("</a>"),
        ),
    )
    return crawl.anchor_summary(crawl.extract_anchors(pages))


def _host_edges(spark, sf):
    """DIRECTED (src, dst) host edges of the synthetic link crawl —
    the q_link_graph/q_hits build, shared by the Katz/SimRank
    centrality queries so every structural-signal oracle replays ONE
    edge derivation."""
    pages = _link_pages(_docs(spark, sf), _src_anchor_tag)
    g = crawl.host_graph(crawl.extract_links(pages))
    return g.select(F.col("src_host").alias("src"), F.col("dst_host").alias("dst"))


def q_salsa(spark, sf):
    """SALSA hub/authority scores over the directed host graph
    (Lempel–Moran 2000, the degree-normalized walk that fixes HITS'
    TKC mega-hub capture — the who-to-follow core): fixed-point 10¹²
    scores with exact integral floor division per edge term (the
    simrank device), 2 iterations, one IEEE normalization at the end
    (operators/graph.py salsa)."""
    return graph.salsa(_host_edges(spark, sf), iters=2)


def q_rbo(spark, sf):
    """Rank-Biased Overlap@20 (Webber TOIS'10, p=0.9) between the
    Katz and SALSA-authority host rankings — the top-weighted "do my
    two rankers agree where it matters" readout, composed from the two
    queries' ROUNDED outputs (the q_spam_mass device) with
    (score DESC, node ASC) ties; depth terms on a literal (d, p^{d−1})
    spine whose powers are Python-computed ONCE for both engines —
    libm pow parity is not gambled on — and micro-quantized into an
    integer Σ (operators/retrieval.py rbo_truncated)."""
    a = q_katz(spark, sf).select("node", F.col("katz").alias("score"))
    b = q_salsa(spark, sf).select(
        "node", F.col("authority").alias("score")
    )
    return retrieval.rbo_truncated(a, b, "node", "score", k=20, p=0.9)


def q_katz(spark, sf):
    """Katz centrality (Katz, Psychometrika 1953) over the directed
    host web graph, series truncated at walk length 3, β = 1/4 — the
    endorsement-prestige prior PageRank's out-degree split can't
    express (a host cited by heavily-cited hosts scores high even when
    its citers also cite everywhere).  Walk counts are integers, so
    the whole series runs in exact BIGINT over the common denominator
    4³ and divides ONCE at the end (the HITS integer device — no
    float-summation-order hazard); per level one broadcast edge⋈count
    join + partial-aggregable groupBy (operators/graph.py katz).
    Oracle = the three walk-count levels unrolled as integer CTEs."""
    return graph.katz(_host_edges(spark, sf), depth=3, beta_denom=4)


def q_simrank(spark, sf):
    """SimRank (Jeh & Widom, KDD 2002) over the directed host graph,
    2 iterations, C = 4/5: hosts are similar when the SAME KIND of
    hosts point at them — the structural-context similarity that
    complements content MinHash/SimHash for host-level canonicalization
    (mirror detection: mirrors share in-linkers, not necessarily
    bytes).  Fixed-point BIGINT scores (scale 10^12): each iteration
    sums exact longs over in-neighbor pairs and applies one integer
    floor division, so both engines match bit-for-bit; only nonzero
    pairs are carried, diagonal rides as literals.  Pair-quadratic by
    nature ⇒ declared bounded-vertex-set scope (host graphs / entity
    blocks), like sampled betweenness (operators/graph.py simrank).
    Oracle = the two iterations unrolled with identical BIGINT // ops."""
    return graph.simrank(_host_edges(spark, sf), iters=2)


def q_soundex_block(spark, sf):
    """Phonetic ER blocking — American Soundex over the corpus's
    distinct alphabetic token vocabulary: (code, n_forms, forms) with
    member forms '|'-joined sorted (serialized, not an array column —
    the q_media_decode driver-canonicalizer lesson).  Multi-form
    blocks are the candidate buckets that refine er_candidate_pairs's
    (tag, first-char) blocks when a hot first letter overloads them —
    the classical record-linkage key (US Census coding; Fellegi–Sunter
    era blocking).  The code ladder (upper → translate with h/w-
    transparent deletion → per-digit run collapse → vowel-marker strip
    → first-letter code strip → pad) is scalar string ops on both
    engines — deliberately NOT the builtin soundex, which disagrees
    across implementations on the h/w rule (operators/er.py
    soundex_expr; textbook codes pinned in test_simrank_katz_soundex).
    One map stage + one dimension-sized hash aggregate."""
    toks = (
        _docs(spark, sf)
        .select(
            F.explode(F.split(F.coalesce(F.col("text"), F.lit("")), " ")).alias(
                "token"
            )
        )
        .filter(F.col("token").rlike("^[A-Za-z]{2,}$"))
    )
    return er.soundex_blocks(toks)


def q_jw_pairs(spark, sf):
    """Jaro-Winkler name matching inside Soundex blocks over the
    corpus's distinct alphabetic token vocabulary — the classical
    Census record-linkage stack (phonetic block key + Winkler
    comparator).  The corpus vocabulary is unioned with a
    deterministic second-character-deletion variant of every ≥5-char
    form (the OCR-noise stand-in; same device as the dedup corpus
    amplifiers) so the blocks contain true near-matches — some
    variants keep their original's Soundex code and pair, some drift
    to another block, the classic blocking-recall story.  Blocks
    capped at 64 lexicographic forms; scoring in Arrow batches with
    the EXACT variant DuckDB's builtin implements (validated
    bit-identical on 15k random pairs), so the oracle calls
    jaro_winkler_similarity directly (operators/er.py
    jw_block_pairs)."""
    toks = (
        _docs(spark, sf)
        .select(
            F.explode(F.split(F.coalesce(F.col("text"), F.lit("")), " ")).alias(
                "token"
            )
        )
        .filter(F.col("token").rlike("^[A-Za-z]{2,}$"))
    )
    noised = toks.filter(F.length("token") >= 5).select(
        F.concat(
            F.substring("token", 1, 1), F.expr("substring(token, 3)")
        ).alias("token")
    )
    return er.jw_block_pairs(
        toks.unionByName(noised), threshold=0.87, block_cap=64
    )


def q_matching(spark, sf):
    """Greedy maximal matching of the directed host graph's undirected
    view by parallel local-min edge selection (Israeli–Itai; the
    coarsening step of METIS-style multilevel partitioners and the
    one-merge-per-node guard of pairwise host dedup).  Unique
    md5-extended edge ranks, 8 rounds, live edges parquet-round-
    tripped per round so the plan stays flat (operators/graph.py
    greedy_matching).  Oracle = the same 8 rounds unrolled."""
    return graph.greedy_matching(
        _host_edges(spark, sf), rounds=8, stage_dir=_scratch("q_matching_")
    )


def q_resource_alloc(spark, sf):
    """Resource-Allocation link prediction (Zhou, Lü & Zhang 2009)
    over the undirected host graph: for non-adjacent pairs,
    ra = Σ 1/deg(common neighbor) — hub intermediaries count for
    little; the "which hosts should be linked but aren't?" screen
    feeding KG completion.  Exact BIGINT shares (scale 10^12 floor
    division), one wedge self-join + anti-join vs adjacency + hash
    aggregate (operators/graph.py resource_allocation)."""
    return graph.resource_allocation(_host_edges(spark, sf))


def q_redirects(spark, sf):
    """Redirect-chain resolution by POINTER JUMPING: the synthetic
    redirect table chains url(i) → url(i-1) within blocks of 8
    (chains up to depth 7); resolve_redirects composes the mapping with
    itself each round — resolved depth DOUBLES per shuffle, so depth-d
    chains settle in ⌈log₂ d⌉ rounds where the oracle's recursive-CTE
    walk takes d — emitting (src, final_url, hops) with exact chain
    lengths (operators/crawl.py resolve_redirects; cycle-safe: a chain
    unresolved after the doubling budget yields final_url NULL)."""
    d = _docs(spark, sf)

    def u(c):
        return F.concat(
            F.lit("https://site"),
            (c % 20).cast("string"),
            F.lit(".example.com/p/"),
            c.cast("string"),
        )

    red = d.filter(F.col("doc_id") % 8 != 0).select(
        u(F.col("doc_id")).alias("src"), u(F.col("doc_id") - 1).alias("dst")
    )
    out = crawl.resolve_redirects(red, stage_dir=_scratch("q_redirects_"))
    return out.select("src", "final_url", F.col("hops").cast("long").alias("hops"))


def q_triple_upsert(spark, sf):
    """CDC/MERGE materialization of the triple store: the aggregated
    base snapshot (support = assertion count) receives a deterministic
    change stream — md5-residue 0 keys are tombstoned, residue 1 keys
    re-asserted with support+100, residue 2 untouched, plus 10
    brand-new inserted triples — and upsert_triples folds base ∪ cdc in
    ONE map-side-combinable aggregate (operators/triples.py).  The
    recrawl-loop semantics: re-extracted triples update, retracted ones
    delete, new ones insert, resumable per Iceberg partition."""
    base, cdc = _upsert_inputs(spark, sf)
    return triples.upsert_triples(base, cdc)


def _upsert_inputs(spark, sf):
    """(base snapshot, deterministic cdc stream) shared by the batch
    q_triple_upsert and the streaming q_stream_upsert (same oracle)."""
    t = triples.triples_df(_docs(spark, sf))
    base = t.groupBy("subj", "pred", "obj").agg(F.count(F.lit(1)).alias("support"))
    res = (
        F.conv(
            F.substring(F.md5(F.concat_ws("|", "subj", "pred", "obj")), 1, 4), 16, 10
        ).cast("long")
        % 3
    )
    cdc_mod = (
        base.withColumn("_r", res)
        .filter(F.col("_r") != 2)
        .select(
            "subj",
            "pred",
            "obj",
            F.when(F.col("_r") == 0, F.lit("d")).otherwise(F.lit("u")).alias("op"),
            F.when(F.col("_r") == 0, F.lit(10)).otherwise(F.lit(20)).cast("long").alias("ts"),
            F.when(F.col("_r") == 0, F.lit(0)).otherwise(F.col("support") + 100).cast("long").alias("support"),
        )
    )
    ins = spark.range(10).select(
        F.concat(F.lit("new_"), F.col("id")).alias("subj"),
        F.lit("linked").alias("pred"),
        F.concat(F.lit("node_"), F.col("id")).alias("obj"),
        F.lit("u").alias("op"),
        F.lit(30).cast("long").alias("ts"),
        (F.col("id") + 1).alias("support"),
    )
    return base, cdc_mod.unionByName(ins)


def q_stream_upsert(spark, sf):
    """Streaming CDC maintenance of the triple snapshot: the same
    change stream as q_triple_upsert arrives as parquet micro-batches
    (maxFilesPerTrigger=1 over a multi-file drop) and folds into a
    per-epoch state version via the associative merge_triple_state —
    tombstones retained in state, replay-idempotent per-epoch
    overwrite.  Final snapshot == the batch upsert regardless of how
    the stream was split (associativity), so it shares q_triple_upsert's
    oracle."""
    from ddaugner_spark.streaming import incremental_upsert

    base, cdc = _upsert_inputs(spark, sf)
    cdc_dir = _scratch("q_stream_up_cdc_")
    ck = _scratch("q_stream_up_ck_")
    st = _scratch("q_stream_up_state_")
    cdc.repartition(3).write.mode("overwrite").parquet(cdc_dir)
    return incremental_upsert(spark, base, cdc_dir, ck, st)


def q_bloom_decontaminate(spark, sf):
    """Bloom-filter benchmark decontamination — the constant-size
    screening form of q_decontaminate: the benchmark's shingles ship as
    a 262144-bit set (32 KiB whatever the suite size), corpus shingles
    probe 3 md5 hashes, a doc is flagged on ≥2 maybe-hits.  One-sided:
    the flag set is a superset of the exact screen's (no false
    negatives, pytest-pinned)."""
    d = _docs(spark, sf)
    corpus = dedup.with_dup_corpus(d).filter(F.col("doc_id") >= 1_000_000)
    benchmark = d.select("doc_id", "text").filter(F.col("doc_id") % 20 == 10)
    return dedup.bloom_contaminated(corpus, benchmark, min_shared=2)


def q_weighted_sample(spark, sf):
    """Deterministic weight-proportional sampling (Efraimidis–Spirakis
    A-ES keys u^(1/w), u = md5-uniform of doc_id): top-20 docs per
    language by n_chars weight — the quality/length-weighted mixture
    stage; rounded-key ranking with doc_id tie-break for cross-engine
    stability."""
    from ddaugner_spark.operators.sampling import weighted_sample

    return weighted_sample(_docs(spark, sf), "n_chars", k=20, stratum_col="lang")


def q_relation_sigs(spark, sf):
    """KG schema induction: typed signature distribution per predicate
    — (subj_tag, pred, obj_tag) mass, distinct-entity fan, and the
    predicate-conditional fraction used to flag off-schema
    extractions."""
    from ddaugner_spark.operators.triples import relation_signatures

    return relation_signatures(triples.triples_df(_docs(spark, sf)))


def q_pred_cardinality(spark, sf):
    """KG relation cardinality profiling: each predicate classified
    1:1 / 1:N / N:1 / N:M from exact distinct-pair fan-outs (the
    Bordes/FB15k 1.5 threshold) — one slim dedup shuffle, then
    predicate-sized arithmetic (operators/triples.py
    predicate_cardinality)."""
    return triples.predicate_cardinality(triples.triples_df(_docs(spark, sf)))


def q_entity_summary(spark, sf):
    """Entity summarization: top-3 rarest-predicate facts per subject
    (RELIN/FACES-style informativeness, exact-count form) — distinct
    facts + a predicate-frequency broadcast + one per-subject window,
    hub output bounded by k (operators/kgquery.py
    entity_fact_summary)."""
    from ddaugner_spark.operators.kgquery import entity_fact_summary

    return entity_fact_summary(triples.triples_df(_docs(spark, sf)), k=3)


def q_two_hop(spark, sf):
    """KG consumption: two-hop path enumeration over the constructed
    triple graph — support-weighted edges (≥2 attestations), each mid
    entity capped to its 5 best-supported in/out edges so hub entities
    cannot explode the join (the north-star's Wikipedia-skew guard),
    path support = the weaker leg."""
    from ddaugner_spark.operators.graph import two_hop_paths

    return two_hop_paths(
        triples.triples_df(_docs(spark, sf)), min_support=2, fanout_cap=5
    )


def q_exact_substr(spark, sf):
    """Cross-document exact-substring duplication (Lee et al. 2022
    ExactSubstr, distributed windowed-hash form): doc pairs sharing a
    verbatim ≥20-token run, with the exact longest shared run length
    recovered from consecutive window matches on one diagonal.  Runs
    over the dup-amplified corpus: exact copies must report full-length
    matches, tail-truncated near copies full-length-minus-3."""
    return dedup.exact_substring_pairs(
        dedup.with_dup_corpus(_docs(spark, sf)), w=20
    )


def q_suffix_array(spark, sf):
    """Corpus suffix array by Manber-Myers prefix doubling — the exact
    structure behind ExactSubstr dedup at scale (Lee et al. 2022 build
    one over the training corpus; q_exact_substr is the windowed-hash
    approximation).  Per-doc token suffixes, dense lexicographic rank
    (equal suffixes share one), sa_idx under (rank, doc_id, pos); every
    global rank uses the range-partition + broadcast-offset discipline,
    never a one-task window (operators/suffix.py suffix_array).  The
    oracle sorts the materialized token-list suffixes directly — the
    definition the doubling loop converges to."""
    from ddaugner_spark.operators.suffix import suffix_array

    return suffix_array(_sa_toks(spark, sf), stage_dir=_scratch("q_sa_"))


def q_lcp_array(spark, sf):
    """LCP array over the corpus suffix array — SA + LCP is the exact
    repeated-substring machine under ExactSubstr dedup (a verbatim
    cross-doc run of length L shows up as adjacent suffixes with
    lcp ≥ L).  Distributed O(log L) rank-walk over the prefix-doubling
    level tables: two slim hash equi-joins per level, never a per-pair
    token scan — that direct scan is the oracle's replay
    (operators/suffix.py lcp_array)."""
    from ddaugner_spark.operators.suffix import lcp_array

    return lcp_array(_sa_toks(spark, sf), stage_dir=_scratch("q_lcp_"))


def q_repeat_coverage(spark, sf):
    """Per-document ExactSubstr coverage: fraction of tokens inside a
    ≥5-token span that occurs at least twice in the corpus — the
    statistic the Lee et al. 2022 cut rule acts on.  Exact via the SA
    block argument (every occurrence of a repeated span is one side of
    an adjacent SA pair with lcp ≥ L); interval-union window per doc
    (operators/suffix.py repeat_coverage)."""
    from ddaugner_spark.operators.suffix import repeat_coverage

    return repeat_coverage(
        _sa_toks(spark, sf), min_len=5, stage_dir=_scratch("q_cov_")
    )


def q_distinct_substrings(spark, sf):
    """Corpus distinct-substring count via the SA identity
    Σ suffix lengths − Σ lcp — a one-row repetitiveness readout (the
    lower this is relative to Σ lengths, the more templated the
    corpus), two integer sums over the LCP table
    (operators/suffix.py distinct_substring_count)."""
    from ddaugner_spark.operators.suffix import distinct_substring_count

    return distinct_substring_count(
        _sa_toks(spark, sf), stage_dir=_scratch("q_dss_")
    )


def q_dsir_weights(spark, sf):
    """DSIR-style data selection (Xie et al. 2023): per-document
    log-likelihood ratio between the English-target and raw-corpus
    unigram distributions over 256 hashed feature buckets — the
    fixed-size importance-resampling scorer a pretraining pipeline runs
    ahead of mixture sampling.  kept = more target-like than raw."""
    from ddaugner_spark.operators.sampling import dsir_weights

    return dsir_weights(
        _docs(spark, sf), F.col("lang") == "en", n_buckets=256
    )


def q_boilerplate(spark, sf):
    """Per-source boilerplate line removal (CCNet/RefinedWeb chrome
    strip): a sentence in ≥ max(2, 0.5·|source docs|) documents of the
    SAME source is template chrome and is removed from every document
    (contrast q_line_dedup, which keeps the first copy).  Runs over the
    deterministically chrome-injected corpus — the header sits above
    the bar and must vanish, the footer below it and must survive —
    and pins the exact reconstructed text via clean_hash."""
    return dedup.boilerplate_removal(
        dedup.with_boilerplate_corpus(_docs(spark, sf)), min_frac=0.5, min_docs=2
    )


#: Training-mixture rates for q_stratified_sample: per-mille keep rates
#: by language — the standard "rebalance the crawl" knob.
MIXTURE_RATES = {"en": 600, "de": 300}
MIXTURE_DEFAULT = 150


def q_stratified_sample(spark, sf):
    """Deterministic stratified sampling for training-mixture
    construction: md5-bucketed per-mille keep rates by language.  The
    summary row per stratum carries sum(sampled doc_ids) so the check
    pins WHICH rows were kept, not just how many."""
    from ddaugner_spark.operators import sampling

    return sampling.mixture_summary(
        _docs(spark, sf), MIXTURE_RATES, MIXTURE_DEFAULT
    )


def q_quantile_sketch(spark, sf):
    """Mergeable fixed-bin histogram quantiles (p50/p90/p99 of
    events.value per event_type) — deterministic down to IEEE-754 bin
    arithmetic, unlike percentile_approx's engine-private GK sketch."""
    from ddaugner_spark.operators import sketches

    ev = spark.read.parquet(f"{sf}/events.parquet")
    return sketches.histogram_quantiles(ev, "value", "event_type")


def q_fixed_sample(spark, sf):
    """Exactly-k-per-stratum deterministic sample (eval-set
    construction): k smallest md5 keys per language, two-phase
    (leading-16-bit prefix prefilter, then a window over ~4k
    survivors)."""
    from ddaugner_spark.operators import sampling

    return sampling.fixed_size_sample(_docs(spark, sf), k=10).withColumnRenamed(
        "rank", "rnk"
    )


def q_vocab(spark, sf):
    """Vocabulary construction (tokenizer-training precursor): corpus
    token counts ≥ min_count, ids contiguous by (count desc, token) —
    the heavy agg is map-side combined; the id window runs on the
    dimension-sized vocab."""
    return textstats.vocab_df(_docs(spark, sf))


def q_fingerprints(spark, sf):
    return textstats.fingerprints(_docs(spark, sf))


def q_tpch_pricing(spark, sf):
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q_revenue_by_nation(spark, sf):
    c = spark.read.parquet(f"{sf}/customer.parquet")
    o = spark.read.parquet(f"{sf}/orders.parquet")
    n = spark.read.parquet(f"{sf}/nation.parquet")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


def q_top_parts(spark, sf):
    from pyspark.sql import Window

    p = spark.read.parquet(f"{sf}/part.parquet")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey").asc()
    )
    return (
        p.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("p_brand", "p_partkey", F.round("p_retailprice", 2).alias("p_retailprice"), F.col("rn").cast("long").alias("rn"))
    )


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_small_qty_revenue(spark, sf):
    """TPC-H Q17 shape (correlated scalar subquery): revenue from
    small-quantity orders of one brand's small parts.  Spark-first the
    correlation is decorrelated BY HAND into the optimal plan: filter
    lineitem by the broadcast part dimension first, derive each part's
    0.2·avg(quantity) threshold from that already-filtered slice (the
    filter is on part attributes only, so the slice contains every
    lineitem of each surviving part), and broadcast the tiny threshold
    table back — one fact-table scan, zero fact shuffles.  The oracle
    keeps the literal correlated form (DuckDB decorrelates it itself)."""
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    p = (
        spark.read.parquet(f"{sf}/part.parquet")
        .filter((F.col("p_brand") == "Brand#1") & (F.col("p_size") < 15))
        .select("p_partkey")
    )
    li_f = li.join(F.broadcast(p), li["l_partkey"] == F.col("p_partkey")).drop(
        "p_partkey"
    )
    thr = li_f.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("thr")
    )
    return (
        li_f.join(F.broadcast(thr), "l_partkey")
        .filter(F.col("l_quantity") < F.col("thr"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


def q_shipping_priority(spark, sf):
    """TPC-H Q3 shape: 3-way join + filter + agg + top-k."""
    from pyspark.sql import Window

    c = spark.read.parquet(f"{sf}/customer.parquet")
    o = spark.read.parquet(f"{sf}/orders.parquet")
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    j = (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    w = Window.orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("o_orderkey", "o_orderdate", "o_orderpriority", "revenue",
                F.col("rn").cast("long").alias("rn"))
    )


def q_ngram_match(spark, sf):
    """J1 in its plain join-visible form: bigram gazetteer hit counts."""
    m = mentions.mentions_df(_docs(spark, sf))
    return (
        m.filter(F.col("tag") == "ORG")
        .groupBy(F.col("surface").alias("ngram"))
        .agg(F.count("*").alias("n"))
    )


def q_sole_return_suppliers(spark, sf):
    """TPC-H Q21 shape (suppliers-who-kept-orders-waiting) adapted to
    this schema's columns: returned lines (l_returnflag='R') of
    finalized orders where ANOTHER supplier shares the order (EXISTS)
    but NO other supplier's line was returned (NOT EXISTS).

    Hand-decorrelated Spark plan (the oracle keeps the correlated
    double-EXISTS form): per-order distinct-supplier and distinct-
    returning-supplier counts — two aggregates sharing the l_orderkey
    shuffle key with the candidate join — then EXISTS ⇔ n_supp ≥ 2 and
    NOT EXISTS ⇔ the returning supplier is the order's only one
    (n_ret_supp = 1, and the candidate line itself is returned).
    Supplier dimension broadcast."""
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    supp = spark.read.parquet(f"{sf}/supplier.parquet")
    ret = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey")
    ostats = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp")
    )
    rstats = ret.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_ret_supp")
    )
    fo = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_orderkey").alias("l_orderkey")
    )
    cand = (
        ret.join(fo, "l_orderkey")
        .join(ostats, "l_orderkey")
        .join(rstats, "l_orderkey")
        .filter((F.col("n_supp") >= 2) & (F.col("n_ret_supp") == 1))
    )
    return (
        cand.join(
            F.broadcast(supp.select("s_suppkey", "s_name")),
            cand.l_suppkey == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count("*").cast("long").alias("numwait"))
    )


def q_big_orders(spark, sf):
    """TPC-H Q18 shape (large-volume customers): IN-subquery with a
    HAVING aggregate threshold, decorrelated as a LEFT SEMI join
    against the aggregated key set; then the customer/orders/lineitem
    3-way join re-aggregates per order.  The semi join and the final
    aggregation share the orderkey shuffle key."""
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    cust = spark.read.parquet(f"{sf}/customer.parquet")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sumq"))
        .filter(F.col("sumq") > 200)
        .select("l_orderkey")
    )
    sel = orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
    return (
        sel.join(cust, sel.o_custkey == cust.c_custkey)
        .join(li, sel.o_orderkey == li.l_orderkey)
        .groupBy("c_name", "o_orderkey", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 4).alias("total_qty"))
    )


def q_rich_light_customers(spark, sf):
    """TPC-H Q22 shape: two scalar aggregate subqueries (global average
    balance; average order count per ordering customer) plus a
    correlated per-customer order count — decorrelated into two 1-row
    aggregates broadcast via crossJoin and a left-joined groupBy count.
    Both scalar thresholds are rounded to 6 digits on BOTH engines so a
    float-sum-order ulp can't flip a boundary row."""
    cust = spark.read.parquet(f"{sf}/customer.parquet")
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    avg_bal = cust.agg(F.round(F.avg("c_acctbal"), 6).alias("avg_bal"))
    percust = orders.groupBy("o_custkey").agg(F.count("*").alias("n_orders"))
    avg_cnt = percust.agg(F.round(F.avg("n_orders"), 6).alias("avg_cnt"))
    joined = (
        cust.join(percust, cust.c_custkey == F.col("o_custkey"), "left")
        .withColumn("cnt", F.coalesce(F.col("n_orders"), F.lit(0)))
        .crossJoin(F.broadcast(avg_bal))
        .crossJoin(F.broadcast(avg_cnt))
        .filter(
            (F.col("c_acctbal") > F.col("avg_bal"))
            & (F.col("cnt") < F.col("avg_cnt"))
        )
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
    )


def q_order_priority(spark, sf):
    """TPC-H Q4 shape: EXISTS semi-join — orders with at least one
    late-shipping line, counted per priority (left_semi keeps the probe
    side un-duplicated; Catalyst plans a broadcast/shuffled semi join)."""
    o = spark.read.parquet(f"{sf}/orders.parquet")
    li = spark.read.parquet(f"{sf}/lineitem.parquet").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        o.join(li.select("l_orderkey").distinct(),
               o.o_orderkey == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


def q_parts_no_returns(spark, sf):
    """TPC-H Q16 shape: anti-join + COUNT(DISTINCT) — parts never shipped
    by a flagged supplier set, with distinct supplier counts per brand."""
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    p = spark.read.parquet(f"{sf}/part.parquet")
    flagged = (
        li.filter((F.col("l_returnflag") == "R") & (F.col("l_quantity") > 45))
        .select("l_partkey")
        .distinct()
    )
    return (
        p.join(flagged, p.p_partkey == flagged.l_partkey, "left_anti")
        .join(li, p.p_partkey == li.l_partkey)
        .groupBy("p_brand")
        .agg(F.countDistinct("l_suppkey").alias("n_suppliers"),
             F.count("*").alias("n_lines"))
    )


def q_top_supplier(spark, sf):
    """TPC-H Q15 shape (top supplier by revenue view + scalar MAX
    subquery): per-supplier shipped revenue, keep the supplier(s) whose
    revenue equals the global maximum.  Spark-first decorrelation: the
    revenue aggregate is computed ONCE, its 1-row max is broadcast back
    via crossJoin, and the equality filter runs where the aggregate
    already lives — no second scan of lineitem (the literal form
    recomputes the view inside the subquery), no fact shuffle beyond
    the one l_suppkey aggregate.  Revenue is rounded to 4 digits on
    both engines BEFORE the max/equality so a float-sum-order ulp can't
    drop the winner."""
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    supp = spark.read.parquet(f"{sf}/supplier.parquet")
    rev = (
        li.filter(F.col("l_returnflag") != "R")
        .groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(supp), rev.l_suppkey == supp.s_suppkey)
        .select(
            "s_suppkey", "s_name", "total_revenue"
        )
    )


def q_important_parts(spark, sf):
    """TPC-H Q11 shape (group HAVING against a global-scalar fraction):
    per-part inventory value restricted to one nation's suppliers,
    keeping parts whose value exceeds 0.2% of the nation's total.
    Decorrelated: the supplier→nation dimension chain broadcasts into
    the fact scan, the per-part aggregate is computed once, and the
    grand total is derived FROM THE SAME AGGREGATE (re-aggregation of
    the group table, not a second fact scan) and broadcast back as a
    1-row threshold."""
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    supp = spark.read.parquet(f"{sf}/supplier.parquet")
    nat = spark.read.parquet(f"{sf}/nation.parquet").filter(
        F.col("n_name") == "NATION_12"
    )
    ns = supp.join(
        F.broadcast(nat), supp.s_nationkey == nat.n_nationkey
    ).select("s_suppkey")
    li_f = li.join(F.broadcast(ns), li.l_suppkey == F.col("s_suppkey"))
    per_part = li_f.groupBy("l_partkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_quantity")), 4).alias(
            "value"
        )
    )
    total = per_part.agg(
        F.round(F.sum("value") * 0.002, 6).alias("threshold")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value") > F.col("threshold"))
        .select("l_partkey", "value")
    )


def q_overstock_suppliers(spark, sf):
    """TPC-H Q20 shape (nested IN with a correlated aggregate
    threshold): suppliers holding excess stock of red parts — a
    supplier qualifies when, for some red part they ship, their total
    shipped quantity of that part exceeds 15% of the GLOBAL shipped
    quantity of it.  Decorrelated: red parts broadcast into the fact
    scan; per-(supplier, part) and per-part aggregates share the
    l_partkey shuffle key; the correlated threshold becomes a plain
    equi-join on partkey; suppliers emerge via a final semi-join.  The
    oracle keeps the literal nested-IN + correlated-scalar form."""
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    supp = spark.read.parquet(f"{sf}/supplier.parquet")
    red = (
        spark.read.parquet(f"{sf}/part.parquet")
        .filter(F.col("p_name").startswith("red"))
        .select("p_partkey")
    )
    li_g = li.join(F.broadcast(red), li.l_partkey == F.col("p_partkey"))
    sp = li_g.groupBy("l_suppkey", "l_partkey").agg(
        F.sum("l_quantity").alias("sp_qty")
    )
    pp = li_g.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.sum("l_quantity") * 0.15).alias("thr_qty")
    )
    over = sp.join(pp, sp.l_partkey == pp.pk).filter(
        F.col("sp_qty") > F.col("thr_qty")
    )
    return (
        supp.join(
            over.select(F.col("l_suppkey").alias("sk")).distinct(),
            supp.s_suppkey == F.col("sk"),
            "left_semi",
        )
        .select("s_suppkey", "s_name")
    )


def q_cube_sales(spark, sf):
    """CUBE over (returnflag, linestatus) — all grouping-set combinations
    (the rollup twin already covers hierarchical sets)."""
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        F.count("*").alias("n"),
    )


def q_asof_events(spark, sf):
    """AS-OF join (engine addition; Spark has none natively): each
    'click' event enriched with the user's most recent 'view' at or
    before it — the union+window formulation, one shuffle, no join."""
    from ddaugner_spark.operators.temporal import asof_join

    e = spark.read.parquet(f"{sf}/events.parquet")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", F.round("value", 4).alias("click_value")
    )
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", F.round("value", 4).alias("view_value")
    )
    out = asof_join(
        clicks, views, key="user_id", ts="ts",
        right_cols=["view_value"], tiebreak="event_id",
    )
    # full LEFT contract checked: unmatched rows keep their NULLs, which
    # both sides coalesce to sentinels (a NULL double renders as pandas
    # NaN on the DuckDB side vs None on the Spark side — representation,
    # not value — so the hash needs a common rendering)
    return out.select(
        "user_id", "ts", "event_id", "click_value",
        F.coalesce(
            F.col("asof_ts"), F.lit("1970-01-01 00:00:00").cast("timestamp")
        ).alias("asof_ts"),
        F.coalesce(F.col("asof_view_value"), F.lit(-999999.0)).alias("view_value"),
    )


def q_kmv_distinct(spark, sf):
    """KMV bottom-k distinct-count sketch (engine addition): distinct
    users per event type, estimated from the 64 smallest md5 hashes —
    deterministic, mergeable, oracle-replayable bit-for-bit."""
    from ddaugner_spark.operators.sketches import kmv_sketch

    e = spark.read.parquet(f"{sf}/events.parquet")
    return kmv_sketch(e.select("event_type", "user_id"), "event_type", "user_id", k=64)


def q_kmv_setops(spark, sf):
    """KMV sketch SET ALGEBRA (Beyer et al. 2007): estimated distinct
    user-days of 'click' vs 'view' traffic, their union, intersection,
    and Jaccard — computed ONLY from the two bottom-64 sketches (the
    merged bottom-k is itself the union's KMV sketch; ρ = |S∩A∩B|/|S|
    estimates Jaccard), never re-scanning the fact table.  The
    cross-shard audience-overlap query an exact COUNT(DISTINCT) would
    re-shuffle both tables for (operators/sketches.py kmv_set_ops).
    All ratios are exact small-integer divisions — bit-reproducible."""
    from ddaugner_spark.operators import sketches

    ev = spark.read.parquet(f"{sf}/events.parquet")
    ud = F.concat(
        F.col("user_id").cast("string"),
        F.lit("|"),
        F.date_format("ts", "yyyy-MM-dd"),
    )
    base = ev.select("event_type", ud.alias("ud"), F.lit("click|view").alias("pair"))
    a = sketches.kmv_mins(
        base.filter(F.col("event_type") == "click"), "pair", "ud", k=64
    )
    b = sketches.kmv_mins(
        base.filter(F.col("event_type") == "view"), "pair", "ud", k=64
    )
    return sketches.kmv_set_ops(a, b, "pair", k=64)


def q_hll_distinct(spark, sf):
    """HyperLogLog distinct-count sketch (engine addition): distinct
    3-gram shingles per language from 64 one-byte registers — the
    constant-size max-mergeable cardinality state every shard of a
    100 TB corpus can ship to a coordinator (what Spark's own
    approx_count_distinct is, made deterministic so the oracle replays
    the registers bit-for-bit).  The estimate is the RAW HLL formula
    over a fixed-point integer harmonic sum (one IEEE division, no
    float accumulation); the small-range linear-counting branch is
    engine-side only (pinned in test_sketches — the gate corpora are
    raw-regime, n_distinct >> 2.5·m)."""
    from ddaugner_spark.operators.sketches import hll_estimate, hll_registers

    docs = _docs(spark, sf).filter(F.col("text").isNotNull())
    # dedup.shingles per-doc-distincts the shingles; register max-merge
    # is idempotent, so the sketch is identical to the non-distinct
    # oracle stream's
    shingled = dedup.shingles(docs, extra_cols=("lang",)).select("lang", "shingle")
    regs = hll_registers(shingled, "lang", "shingle", p=6)
    return hll_estimate(regs, "lang", p=6, correct=False)


def q_hypertable_rollup(spark, sf):
    """Hypertable continuous aggregate: the DAY rollup is derived by
    re-aggregating the HOURLY rollup (never rescanning raw events) —
    the oracle aggregates raw directly, proving re-aggregability."""
    from ddaugner_spark.operators.temporal import coarsen_rollup, hypertable_rollup

    e = spark.read.parquet(f"{sf}/events.parquet")
    hourly = hypertable_rollup(e, "ts", "value", 3600, ["event_type"])
    daily = coarsen_rollup(hourly, 86400, ["event_type"])
    return daily.select(
        "bucket_ts",
        "event_type",
        "n",
        F.round("sum_v", 4).alias("total_value"),
        # avg derives from the ROUNDED total (the materialized column) so
        # both engines divide identical inputs — no float-order hazard
        F.round(F.round("sum_v", 4) / F.col("n"), 6).alias("avg_value"),
    )


def q_range_join(spark, sf):
    """Interval/range join (engine addition): every event within ±15 min
    of a same-user 'purchase' — bucketed equi-join, not a theta cross
    product."""
    from ddaugner_spark.operators.temporal import range_join

    e = spark.read.parquet(f"{sf}/events.parquet")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    others = e.filter(F.col("event_type") != "purchase").select(
        "user_id", "ts", F.col("event_id").alias("other_id"),
        F.col("event_type").alias("other_type"),
    )
    return range_join(
        purchases, others, key="user_id", ts="ts", delta_seconds=900,
        left_cols=["purchase_id"], right_cols=["other_id", "other_type"],
    ).select(
        "user_id",
        F.col("l_purchase_id").alias("purchase_id"),
        F.col("r_other_id").alias("other_id"),
        F.col("r_other_type").alias("other_type"),
        F.round("gap_seconds", 6).alias("gap_seconds"),
    )


def q_rollup_revenue(spark, sf):
    o = spark.read.parquet(f"{sf}/orders.parquet")
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"), F.count("*").alias("n"))
    )


def q_pivot_events(spark, sf):
    e = spark.read.parquet(f"{sf}/events.parquet")
    return (
        e.groupBy(F.date_trunc("day", "ts").alias("day"))
        .pivot("event_type", EVENT_TYPES)
        .count()
        .na.fill(0, subset=EVENT_TYPES)
    )


def q_events_window(spark, sf):
    e = spark.read.parquet(f"{sf}/events.parquet")
    return (
        e.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "event_type"
        ).agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


def q_stream_event_counts(spark, sf):
    """Structured Streaming run INSIDE the correctness gate: the
    AvailableNow watermarked windowed aggregation runs to completion
    (fresh checkpoint) and its emitted result is compared against the
    batch SQL twin — append mode emits exactly the windows closed by
    the final watermark (window_end ≤ max ts − 30 min); the trailing
    open windows stay in state, which the oracle replicates."""

    from ddaugner_spark.streaming import incremental_event_counts

    ck = _scratch("q_stream_ck_")
    out = incremental_event_counts(
        spark, f"{sf}/events.parquet", ck, window="10 minutes", watermark="30 minutes"
    )
    return out.select(
        "window_start",
        "event_type",
        F.col("n").cast("long").alias("n"),
        "total_value",
    )


def q_stream_sessions(spark, sf):
    """Custom stateful streaming operator (applyInPandasWithState) run
    to completion inside the correctness gate: per-user session counts
    with the 30-minute gap rule — shares the batch sessionization
    oracle (equal-timestamp ordering cannot change either count).
    Note: the driver's events table is a single parquet file, so the
    AvailableNow run sees each user's stamps in one sorted batch."""

    from ddaugner_spark.streaming.stateful import streaming_user_sessions

    ck = _scratch("q_stream_sess_ck_")
    out = streaming_user_sessions(spark, f"{sf}/events.parquet", ck)
    return out.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("n_sessions").cast("long").alias("n_sessions"),
    )


def q_stream_triples(spark, sf):
    """foreachBatch incremental KG-triple sink run to completion: per-
    epoch exactly-once overwrite directories, read back and compared to
    the batch extractor (shares q_triples' oracle — epoch partitioning
    of a map-only extractor cannot change the union)."""

    from ddaugner_spark.streaming import incremental_triples

    ck = _scratch("q_stream_tri_ck_")
    out = _scratch("q_stream_tri_out_")
    incremental_triples(spark, f"{sf}/documents.parquet", ck, out)
    return spark.read.parquet(out).select(
        "doc_id", "sent_id", "subj", "subj_tag", "pred", "obj", "obj_tag",
        "subj_start", "obj_start",
    )


def q_stream_links(spark, sf):
    """Incremental web-graph maintenance under readStream: each
    micro-batch of documents contributes per-epoch (src_host, dst_host)
    partial counts (exactly-once overwrite layout), merged by one
    re-aggregation — host_graph's counts are decomposable, so any
    micro-batch split yields the batch edge table; shares
    q_link_graph's oracle (streaming/incremental.py
    incremental_links)."""
    from ddaugner_spark.streaming import incremental_links

    ck = _scratch("q_stream_lg_ck_")
    out = _scratch("q_stream_lg_out_")
    return incremental_links(
        spark,
        f"{sf}/documents.parquet",
        ck,
        out,
        lambda batch: _link_pages(batch, _src_anchor_tag),
    )


def q_stream_mentions(spark, sf):
    """The stateless mention detector under readStream: the same
    narrow expressions run unchanged as a streaming map into an
    exactly-once parquet file sink; the materialized result shares
    q_mentions' oracle."""

    from ddaugner_spark.streaming import incremental_mentions

    ck = _scratch("q_stream_m_ck_")
    out = _scratch("q_stream_m_out_")
    incremental_mentions(spark, f"{sf}/documents.parquet", ck, out)
    return spark.read.parquet(out).select(
        "doc_id", "sent_id", "start_idx", "end_idx", "surface", "tag"
    )


def q_stream_link_scores(spark, sf):
    """foreachBatch incremental link-score rollup: per-epoch partial
    aggregates merged by re-aggregation (the incremental-rollup
    contract); equals the batch q_entity_link output and shares its
    oracle (the driver's documents table is one file → one epoch, so
    per-epoch rounding is exact)."""

    from ddaugner_spark.streaming import incremental_link_scores

    ck = _scratch("q_stream_ls_ck_")
    out = _scratch("q_stream_ls_out_")
    merged = incremental_link_scores(spark, f"{sf}/documents.parquet", ck, out)
    return merged.select(
        "entity",
        "class",
        F.col("n_mentions").cast("long").alias("n_mentions"),
        "total_score",
    )


def q_events_sessions(spark, sf):
    from pyspark.sql import Window

    e = spark.read.parquet(f"{sf}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ; session TZ is UTC so the LTZ cast preserves the
    # wall-clock value and matches the oracle's epoch_us on naive timestamps
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    return (
        e.withColumn("is_new", (gap > 1800 * 1_000_000).cast("long"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.lit(1) + F.coalesce(F.sum("is_new"), F.lit(0))).alias("n_sessions"),
        )
    )


def q_link_predict(spark, sf):
    """KG-completion candidate generation by common-neighbor link
    prediction on the co-mention graph: for every non-adjacent entity
    pair sharing a neighbor — common count, Adamic-Adar Σ 1/ln(deg z),
    neighborhood Jaccard.  Wedge-join-bounded (one adjacency self-join
    through the shared neighbor, never a node crossJoin), one (v, w)
    hash aggregate, an anti-join against the edge set, two slim degree
    joins (operators/graph.py link_prediction; hub guard via max_deg at
    crawl scale, exact here for the oracle twin)."""
    m = mentions.mentions_df(_docs(spark, sf))
    return graph.link_prediction(canonical.co_mention_edges(m))


def q_entity_salience(spark, sf):
    """Per-document entity salience (frequency share × first-mention
    position decay — Dunietz & Gillick 2014's dominant features): the
    triple-support / entity-link prior weighting pass.  One mention
    hash aggregate, doc totals re-aggregated from its output (AQE
    shuffle reuse), one slim doc_id join
    (operators/linking.py entity_salience)."""
    return linking.entity_salience(mentions.mentions_df(_docs(spark, sf)))


def q_random_walks(spark, sf):
    """DeepWalk corpus generation (Perozzi et al. 2014) over the
    synthetic host web graph: 2 deterministic walks of ≤3 steps per
    source host, next hop = md5(walk_id|step) mod out_deg over the
    lexicographically ranked neighbors — unseeded-randomness-free, so
    the walk corpus is identical under repartition/resume and the
    recursive-CTE twin replays it exactly.  Each step is one slim
    equi-join of the walk table against the ranked adjacency
    (operators/graph.py deterministic_walks)."""
    pages = _link_pages(_docs(spark, sf), _src_anchor_tag)
    g = crawl.host_graph(crawl.extract_links(pages))
    edges = g.select(F.col("src_host").alias("src"), F.col("dst_host").alias("dst"))
    return graph.deterministic_walks(edges, length=3, walks_per_seed=2)


def q_stream_attribution(spark, sf):
    """STREAM-STREAM interval join (ad-attribution shape — the one
    Structured Streaming join surface the engine hadn't exercised):
    purchases join same-user views within 6h, both sides watermarked at
    7h so join state is bounded and no in-window match can drop; with
    that margin append output == the batch interval join for any
    micro-batch split (streaming/incremental.py
    incremental_attribution; checkpointed catch-up pinned in
    test_streaming)."""
    from ddaugner_spark.streaming import incremental_attribution

    ck = _scratch("q_stream_attr_ck_")
    out = _scratch("q_stream_attr_out_")
    return incremental_attribution(spark, f"{sf}/events.parquet", ck, out)


def q_novelty(spark, sf):
    """Per-doc trigram novelty (fraction of trigram occurrences first
    seen in this doc, first = min doc_id) — the dedup-aware curriculum
    / crawl-value signal; the trigram explode feeds both the per-gram
    min and the join-back on the same key (AQE exchange reuse)
    (operators/textstats.py novelty_scores)."""
    return textstats.novelty_scores(_docs(spark, sf))


def q_burstiness(spark, sf):
    """Church–Gale adaptation df₂/df₁ per token (Poisson mixtures,
    1995): content words burst, function words don't — stopword
    induction / topicality weighting.  One (doc, token) aggregate
    re-aggregated for cf/df₁/df₂ (operators/textstats.py
    burstiness)."""
    return textstats.burstiness(_docs(spark, sf))


def q_coengagement(spark, sf):
    """Bipartite user↔event-type projection → item-item co-engagement
    counts (recommender candidate generation): distinct (user, type)
    FIRST, then a per-user self-join whose fan is (types/user)² —
    bounded by the type vocabulary (operators/events.py
    coengagement)."""
    return evops.coengagement(spark.read.parquet(f"{sf}/events.parquet"))


def q_label_centroids(spark, sf):
    """Per-label embedding centroids in long (label, dim, mean) form —
    the class prototypes; one posexplode + one (label, dim) aggregate,
    means rounded at the pagerank grain (operators/similarity.py
    label_centroids)."""
    return similarity.label_centroids(_emb(spark, sf))


def q_nearest_centroid(spark, sf):
    """Nearest-centroid classifier confusion matrix over the labeled
    embeddings (does the space separate the classes?): 6-digit
    centroids, 8-digit distances (the _kmeans_ivf_sql determinism
    device), per-vector argmin via min(struct) — no vector window
    (operators/similarity.py nearest_centroid_confusion)."""
    return similarity.nearest_centroid_confusion(_emb(spark, sf))


def q_ks_test(spark, sf):
    """Two-sample Kolmogorov–Smirnov drift statistic between the
    'view' and 'purchase' value distributions: exact-integer cumulative
    ECDFs over the pooled support, one window + one global argmax
    (operators/regression.py ks_two_sample)."""
    return regression.ks_two_sample(
        spark.read.parquet(f"{sf}/events.parquet"),
        "value", "event_type", "view", "purchase",
    )


def q_gini(spark, sf):
    """Gini coefficient of per-user event concentration (the crawl-
    budget/skew dashboard metric): exact-integer Σ i·xᵢ over the
    rank window on the key-sized table + one fixed float chain
    (operators/regression.py gini_coefficient)."""
    return regression.gini_coefficient(
        spark.read.parquet(f"{sf}/events.parquet"), "user_id"
    )


def q_degree_dist(spark, sf):
    """Log2-bucketed degree histogram of the co-mention graph — the
    skew diagnosis read before every graph join; bucket computed as
    len(binary(deg))−1, an exact integer device immune to log2 libm
    boundaries (operators/graph.py degree_distribution)."""
    m = mentions.mentions_df(_docs(spark, sf))
    return graph.degree_distribution(canonical.co_mention_edges(m))


def q_reciprocity(spark, sf):
    """Directed-graph reciprocity of the synthetic host web graph
    (mirrors/link-exchanges vs editorial links): one distinct pass +
    one reversed-key self-semi-join + exact-integer division
    (operators/graph.py reciprocity)."""
    pages = _link_pages(_docs(spark, sf), _src_anchor_tag)
    g = crawl.host_graph(crawl.extract_links(pages))
    return graph.reciprocity(
        g.select(F.col("src_host").alias("src"), F.col("dst_host").alias("dst"))
    )


def q_jsonl_export(spark, sf):
    """Byte-deterministic JSONL training-data export lines (explicit
    concat + escape chain, NOT to_json — engine-private spacing/order
    would be untestable and non-reproducible); map-only
    (ddaugner_spark/sources/jsonl.py to_jsonl)."""
    from ddaugner_spark.sources.jsonl import to_jsonl

    return to_jsonl(
        _docs(spark, sf),
        str_cols=["lang", "source", "text"],
        int_cols=["doc_id", "n_chars"],
    )


def q_zipf(spark, sf):
    """Zipf exponent of the corpus: ln(freq)-on-ln(rank) OLS over the
    top-100 tokens, fixed-point micro-log ingestion into the
    exact-sufficient-statistics regression engine — even the
    float-native fit aggregates bit-reproducibly
    (operators/textstats.py zipf_fit ∘ regression.ols_fit)."""
    return textstats.zipf_fit(_docs(spark, sf))


#: robots rules for q_robots: every host disallows /private, even hosts
#: re-allow the /private/pub subtree (longest-match + allow-on-tie
#: exercise), h0 additionally disallows everything under /
_ROBOTS_RULES = (
    [(f"h{i}", "/private", False) for i in range(10)]
    + [(f"h{i}", "/private/pub", True) for i in range(0, 10, 2)]
    + [("h0", "/", False), ("h0", "/doc", True)]
)


def q_robots(spark, sf):
    """Robots-exclusion evaluation (RFC 9309 longest-match, allow wins
    ties, no-rule ⇒ allowed) of a synthesized frontier against per-host
    rule tables — host-keyed candidate join + ONE lexicographic
    struct-max per url (operators/crawl.py robots_eval)."""
    d = _docs(spark, sf)
    i = F.col("doc_id").cast("string")
    path = (
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit("/doc/"), i))
        .when(F.col("doc_id") % 5 == 1, F.concat(F.lit("/private/x"), i))
        .when(F.col("doc_id") % 5 == 2, F.concat(F.lit("/private/pub/"), i))
        .when(F.col("doc_id") % 5 == 3, F.lit("/"))
        .otherwise(F.lit("/about"))
    )
    host = F.concat(F.lit("h"), (F.col("doc_id") % 10).cast("string"))
    urls = d.select(
        F.concat(F.lit("https://"), host, path).alias("url"),
        host.alias("host"),
        path.alias("path"),
    ).distinct()
    rules = spark.createDataFrame(
        _ROBOTS_RULES, "host string, prefix string, allow boolean"
    )
    return crawl.robots_eval(urls, rules)


def q_zorder(spark, sf):
    """Z-order (Morton) clustering keys over (user_id, event_id%1024)
    — the multi-column-locality layout device (Delta/Iceberg OPTIMIZE
    ZORDER): pure bit arithmetic, map-only whole-stage codegen, exact
    in both engines on masked non-negative inputs
    (operators/layout.py)."""
    from ddaugner_spark.operators import layout

    e = spark.read.parquet(f"{sf}/events.parquet").select(
        "event_id",
        F.col("user_id").alias("x"),
        (F.col("event_id") % 1024).alias("y"),
    )
    return layout.with_zorder(e, ["x", "y"], bits=10, buckets=16).select(
        "event_id", "x", "y", "zorder", F.col("zbucket").cast("int").alias("zbucket")
    )


def q_modularity(spark, sf):
    """Newman modularity contributions of the 2-round label-propagation
    communities on the co-mention graph: per community e_c, d_c exact
    integers and contrib = e_c/m − (d_c/2m)² as a fixed float chain —
    the quality functional that decides whether a community assignment
    is trustworthy for entity grouping (operators/graph.py
    modularity)."""
    m = mentions.mentions_df(_docs(spark, sf))
    edges = canonical.co_mention_edges(m)
    labels = graph.label_propagation(
        edges, max_rounds=2, stage_dir=_scratch("q_modularity_")
    )
    return graph.modularity(edges, labels)


def q_rr_freq(spark, sf):
    """LOCAL-DP frequency estimation by k-ary randomized response
    (Warner 1965 / RAPPOR shape): deterministic hash-coin perturbation
    (p = 3/4 truth), exact-integer unbiased de-bias per type — the
    local-model counterpart to q_dp_histogram's central release
    (operators/privacy.py randomized_response)."""
    from ddaugner_spark.operators import privacy

    return privacy.randomized_response(
        spark.read.parquet(f"{sf}/events.parquet")
    )


def q_conformal(spark, sf):
    """Split-conformal prediction interval (Lei et al. 2018): per-type
    mean predictor, |residual| nonconformity, deterministic md5
    calibration split, q̂ = exact ⌈(n+1)(1−α)⌉-th order statistic via
    the value-frequency device, guaranteed-coverage check on the
    held-out half; the rank k is pure integer arithmetic
    (operators/traindata.py conformal_interval)."""
    from ddaugner_spark.operators import traindata

    return traindata.conformal_interval(
        spark.read.parquet(f"{sf}/events.parquet")
    )


def q_segments(spark, sf):
    """TextTiling-style topic segmentation (Hearst CL'97): adjacent
    20-token blocks scored by exact-integer token-count cosine, dips
    below 0.15 marked as boundaries — the semantic complement to
    fixed-stride chunking; blocks meet only their immediate neighbor
    (operators/textstats.py topic_segments)."""
    return textstats.topic_segments(_docs(spark, sf))


def q_ab_test(spark, sf):
    """Two-proportion z-test over the deterministic user_id%2 split
    (conversion = ≥15 purchase events — the operator's min_events
    default, mirrored as the literal 15 in the oracle): one user-sized
    aggregate + one conditional global aggregate + a fixed float chain
    on exact counts (operators/events.py ab_test)."""
    return evops.ab_test(spark.read.parquet(f"{sf}/events.parquet"))


def q_did(spark, sf):
    """Two-period difference-in-differences: deterministic user_id%2
    treatment, periods split mid-month, outcome purchases per
    user-period; every cell mean ONE division of exact integer sums
    over the arm's user count, effect three subtractions of those
    doubles (operators/stats.py did_effect)."""
    from ddaugner_spark.operators import stats as statops

    return statops.did_effect(spark.read.parquet(f"{sf}/events.parquet"))


def q_eb_rates(spark, sf):
    """Empirical-Bayes beta-binomial shrinkage of per-part return
    rates toward the method-of-moments corpus prior — the
    "rank domains by spam rate without being fooled by tiny domains"
    curation device.  Cross-group moments are EXACT INTEGER sums of
    once-quantized micro-unit rates (no order-dependent double
    accumulation); the shrinkage is a fixed expression tree
    (operators/stats.py eb_shrunk_rates)."""
    from ddaugner_spark.operators import stats as statops

    return statops.eb_shrunk_rates(spark.read.parquet(f"{sf}/lineitem.parquet"))


def q_wilson_rank(spark, sf):
    """Wilson-score lower-bound rate ranking: per-part return rate
    ranked by the 95% LOWER bound so tiny-n flukes can't top the
    leaderboard; rank window on the part-sized aggregate only
    (operators/stats.py wilson_rates)."""
    from ddaugner_spark.operators import stats as statops

    return statops.wilson_rates(spark.read.parquet(f"{sf}/lineitem.parquet"))


def q_ann_recall(spark, sf):
    """ANN index EVALUATION as a first-class operator: recall@k of the
    k-means IVF index (64 cells, nprobe=24) against the brute-force
    exact top-k, per query — the measurement loop that gates any index
    parameter change before it ships; one k-bounded left join + count
    per query."""
    emb = _emb(spark, sf)
    truth = similarity.brute_force_topk(emb, QUERY_IDS)
    got = similarity.ivf_kmeans_topk(emb, QUERY_IDS, nprobe=24)
    hits = truth.join(
        got.select("query_id", "vec_id", F.lit(1).alias("hit")),
        ["query_id", "vec_id"],
        "left",
    )
    k = float(config.ANN_TOP_K)
    return hits.groupBy("query_id").agg(
        F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_hits"),
        F.round(
            F.coalesce(F.sum("hit"), F.lit(0)).cast("double") / F.lit(k), 6
        ).alias("recall"),
    )


def q_crawl_schedule(spark, sf):
    """Recrawl-interval estimation (Cho & Garcia-Molina 2003): 20 hosts
    × 10 synthetic daily captures, content version = ⌊day/period(host)⌋
    (period 1–4 days), change rate via the bias-corrected
    λ̂ = −ln((n−X+0.5)/(n+0.5)), crawl_interval = 1/λ̂ — the
    freshness-budget allocator of the frontier (operators/crawl.py
    crawl_schedule: per-host lag-window diff + one hash aggregate)."""
    base = (
        _docs(spark, sf)
        .select(
            (F.col("doc_id") % 20).alias("i"),
            (F.floor(F.col("doc_id") / 20).cast("long") % 10).alias("day"),
        )
        .distinct()
    )
    period = F.lit(1) + F.col("i") % 4
    caps = base.select(
        F.concat(F.lit("h"), F.col("i").cast("string")).alias("host"),
        "day",
        F.md5(
            F.concat_ws(
                "|",
                F.col("i").cast("string"),
                F.floor(F.col("day") / period).cast("long").cast("string"),
            )
        ).alias("content_hash"),
    )
    return crawl.crawl_schedule(caps)


def q_entropy(spark, sf):
    """Per-source Shannon entropy of the token distribution, H = ln N −
    (Σ c·ln c)/N from exact counts — the information-density quality
    signal; second aggregate re-aggregates the (source, token) table
    (operators/textstats.py token_entropy)."""
    return textstats.token_entropy(_docs(spark, sf))


def q_phrases_llr(spark, sf):
    """Collocation mining by Dunning log-likelihood ratio (Dunning
    1993) over adjacent bigrams with count ≥ 5: the significance test
    phrase detection runs before tokenizer/word2vec training.  All nine
    x·ln x terms combine in one fixed-order expression from exact
    counts; marginals re-aggregate the bigram table
    (operators/textstats.py phrase_llr)."""
    return textstats.phrase_llr(_docs(spark, sf))


def q_wow_anomaly(spark, sf):
    """Week-over-week drift monitor: per (event_type, day) counts
    joined against the SAME WEEKDAY −7d (slim self-equi-join, not
    lag-over-present-rows), ratio + out-of-[0.5,2] anomaly flag
    (operators/events.py wow_counts)."""
    return evops.wow_counts(spark.read.parquet(f"{sf}/events.parquet"))


def q_json_profile(spark, sf):
    """Semi-structured payload profiling: the events props JSON is
    deterministically enriched (⅓ plain, ⅓ +tag string, ⅓ +nested geo
    object), then per fixed key — presence, integer-typedness,
    cardinality.  Counts only, so the output is invariant to engine
    JSON re-serialization details (operators/events.py
    json_key_profile; literal paths keep both engines on native
    extractors)."""
    e = spark.read.parquet(f"{sf}/events.parquet")
    kv = F.get_json_object(F.col("props"), "$.k")
    # rebuild only when $.k is a bare integer — re-embedding an
    # unquoted non-integer k would synthesize malformed JSON that
    # DuckDB's extractor raises on while Spark returns NULL silently
    # (code-review finding, session 9); non-integer rows keep props
    k_int = kv.isNotNull() & kv.rlike(r"^-?[0-9]+$")
    p2 = (
        F.when((F.col("event_id") % 3 == 0) | ~k_int, F.col("props"))
        .when(
            F.col("event_id") % 3 == 1,
            F.concat(
                F.lit('{"k": '), kv, F.lit(', "tag": "t'),
                (F.col("user_id") % 4).cast("string"), F.lit('"}'),
            ),
        )
        .otherwise(
            F.concat(
                F.lit('{"k": '), kv, F.lit(', "geo": {"c": "c'),
                (F.col("user_id") % 3).cast("string"), F.lit('"}}'),
            )
        )
    )
    return evops.json_key_profile(
        e.withColumn("props2", p2), "props2", ["k", "tag", "geo"]
    )


def q_coref_lite(spark, sf):
    """Coref-lite pronoun resolution (Hobbs-baseline recency): inject a
    deterministic ' he ran the' clause after even docs (tokens outside
    the corpus vocabulary and gazetteer, terminator-final so sentence
    structure stays legal), then resolve each 'he' to the nearest
    preceding PER mention — doc-keyed candidate join + one max/max_by
    aggregate, fan bounded by document length (operators/er.py
    resolve_pronouns)."""
    d = _docs(spark, sf)
    docs2 = d.withColumn(
        "text",
        F.when(
            (F.col("doc_id") % 2 == 0)
            & F.col("text").isNotNull()
            & (F.col("text") != ""),
            F.concat(F.col("text"), F.lit(" he ran the")),
        ).otherwise(F.col("text")),
    )
    return er.resolve_pronouns(docs2)


def q_skipgram(spark, sf):
    """word2vec skip-gram pair generation with deterministic
    subsampling (discard rule md5(doc|pos)%1000 < ⌊1000·√(t/f)⌋, t =
    1e-3): pairs over the surviving compacted sequence within ±2 via
    window lead() — no token self-join — aggregated to (center,
    context, cnt) (operators/textstats.py skipgram_pairs)."""
    return textstats.skipgram_pairs(_docs(spark, sf))


def q_ols_price(spark, sf):
    """Per-returnflag OLS of price-cents on quantity-units from EXACT
    fixed-point sufficient statistics (decimal(38,0) Spark / HUGEINT
    DuckDB), each converted to double ONCE before the closed-form
    arithmetic — bit-reproducible under any partitioning, the float-
    summation-order hazard designed out (operators/regression.py
    ols_fit)."""
    li = spark.read.parquet(f"{sf}/lineitem.parquet").select(
        "l_returnflag",
        F.round("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    return regression.ols_fit(li, "qty", "cents", ["l_returnflag"])


def q_shard_assign(spark, sf):
    """Rendezvous (HRW) hashing shard assignment: shard(doc) =
    argmax_s md5(doc|s) over 8 shards — minimal-movement resharding,
    computed entirely map-side as array_max over 8 (hash, shard)
    structs (operators/sampling.py rendezvous_assign)."""
    from ddaugner_spark.operators import sampling

    return sampling.rendezvous_assign(
        _docs(spark, sf).select("doc_id"), "doc_id", 8
    )


def q_type_closure(spark, sf):
    """Transitive ancestor closure of a synthetic 200-node type
    hierarchy (parent(t_i) = t_{(i-1)//3}) by repeated squaring —
    covered depth DOUBLES per join round (⌈log₂ 8⌉ = 3 shuffles) where
    the recursive-CTE twin walks one level per step; output is the full
    (node, anc, depth) subsumption table every KG type-inference join
    consumes (operators/graph.py ancestor_closure)."""
    d = (
        _docs(spark, sf)
        .select((F.col("doc_id") % 200).alias("i"))
        .distinct()
        .filter(F.col("i") >= 1)
    )
    parents = d.select(
        F.concat(F.lit("t"), F.col("i").cast("string")).alias("node"),
        F.concat(
            F.lit("t"), F.floor((F.col("i") - 1) / 3).cast("long").cast("string")
        ).alias("parent"),
    )
    return graph.ancestor_closure(parents, max_depth=8)


def q_registrable_domain(spark, sf):
    """Public-suffix-aware registrable-domain (eTLD+1) extraction: ≤2
    candidate suffixes per host map-side, broadcast PSL equi-join,
    per-host longest-match argmax — www.site3.co.uk → site3.co.uk, the
    unit crawl politeness/dedup scoping keys on (operators/crawl.py
    registrable_domains; synthesized hosts mix 1- and 2-label TLDs and
    www/cdn prefixes so the longest-match rule is exercised)."""
    d = _docs(spark, sf)
    sfx = F.element_at(
        F.array(*[F.lit(s) for s in _REG_SUFFIXES]),
        (F.col("doc_id") % 8 + 1).cast("int"),
    )
    sub = F.element_at(
        F.array(F.lit(""), F.lit("www."), F.lit("cdn.")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    hosts = d.select(
        F.concat(
            sub, F.lit("site"), (F.col("doc_id") % 40).cast("string"),
            F.lit("."), sfx,
        ).alias("host")
    ).distinct()
    return crawl.registrable_domains(hosts)


#: suffix rotation for q_registrable_domain's synthetic hosts
_REG_SUFFIXES = ["com", "org", "net", "io", "co.uk", "com.au", "ac.jp", "gov.uk"]


def q_summarize(spark, sf):
    """SumBasic extractive summarization (Nenkova & Vanderwende 2005):
    per doc the sentence with max mean corpus word frequency, ties to
    the earliest sentence.  Selection compares the UNROUNDED
    integer-division double csum/n_toks (bit-identical both engines);
    word-count model joins vocabulary-sized, argmax is max-join +
    min(sent_id), no corpus window (operators/textstats.py
    extractive_summary)."""
    return textstats.extractive_summary(_docs(spark, sf))


def q_funnel(spark, sf):
    """Strict ordered funnel signup→view→click→purchase: per-stage
    distinct-user counts where stage k's event must strictly follow the
    time stage k-1 was reached (sequential-min semantics on a packed
    fixed-width (epoch_us, event_id) string key — deterministic under
    timestamp ties, plain min()/> in both engines).  One slim user-keyed
    aggregate per stage, all on the SAME shuffle key
    (operators/events.py funnel_counts)."""
    return evops.funnel_counts(spark.read.parquet(f"{sf}/events.parquet"))


def q_seq_patterns(spark, sf):
    """Length-3 sequential-pattern mining (PrefixSpan readout): support
    = distinct users containing the subsequence e1 < e2 < e3 under the
    composite (ts, event_id) key, for ALL ordered type triples at once;
    greedy-earliest matching is exact for subsequence existence.  All
    stages share the user_id shuffle key; fan-out bounded by the type
    vocabulary (operators/events.py seq_pattern_support)."""
    return evops.seq_pattern_support(spark.read.parquet(f"{sf}/events.parquet"))


def q_retention(spark, sf):
    """Weekly cohort retention: cohort = ISO week of first activity,
    one distinct-user count per (cohort, week offset).  Events reduce
    to distinct (user, week) ONCE; cohorts re-aggregate that table;
    cohort_week emitted as an ISO date string for canonicalizer parity
    (operators/events.py retention_cohorts)."""
    return evops.retention_cohorts(spark.read.parquet(f"{sf}/events.parquet"))


def q_markov(spark, sf):
    """Event-transition matrix (order-1 Markov chain): per-user lead()
    over the (ts, event_id) total order → (cur, nxt) counts → row
    totals RE-AGGREGATED from the pair counts (shuffle reuse) → p
    rounded at 6 (operators/events.py markov_transitions)."""
    return evops.markov_transitions(spark.read.parquet(f"{sf}/events.parquet"))


def q_stupid_backoff(spark, sf):
    """Stupid Backoff trigram LM scoring (Brants et al. 2007 — the
    count-only distributed LM): probes = corpus trigrams ∪ corrupted
    (w3←w1) twins, score = c3/c12, else 0.4·c23/c2, else 0.4²·c1/N,
    level = matched order.  Three map-side-combinable n-gram count
    aggregates + probe equi-joins on each n-gram key + a one-row
    broadcast for N (operators/textstats.py stupid_backoff_scores)."""
    return textstats.stupid_backoff_scores(_docs(spark, sf))


def q_kn_bigram(spark, sf):
    """Interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995) —
    the smoothed counterpart to q_stupid_backoff: discounted seen mass
    + continuation-probability backoff, probes = corpus bigrams ∪
    corrupted (w2←w1) twins.  One corpus-sized shuffle (the bigram
    count); every other model table is a tiny re-aggregation of it
    (operators/textstats.py kneser_ney_scores)."""
    return textstats.kneser_ney_scores(_docs(spark, sf))


def q_scd2(spark, sf):
    """Slowly-changing-dimension type-2 build from a deterministic
    recrawl history: each url is captured 1 + doc_id%4 times one minute
    apart; the tracked attributes (lang casing + a coarse state id)
    change only at cap 2, so 40 captures of a stable page must collapse
    — 4-capture urls yield exactly 2 validity rows, 2-capture urls 1.
    Null-safe lag-struct change detection + lead() validity stitching
    on one reused key partitioning; open rows get the 2200-01-01
    sentinel (NULL timestamps break driver hashing) plus an is_current
    flag (operators/temporal.py scd2)."""
    pages = synthesize_pages(_docs(spark, sf)).select("doc_id", "url", "warc_ts", "lang")
    caps = (
        pages.withColumn("cap", F.explode(F.sequence(F.lit(0), F.col("doc_id") % 4)))
        .select(
            "url",
            (F.col("warc_ts") + F.make_dt_interval(F.lit(0), F.lit(0), F.col("cap"), F.lit(0.0))).alias("ts"),
            F.when(F.col("cap") < 2, F.col("lang")).otherwise(F.upper("lang")).alias("lang_v"),
            F.floor(F.col("cap") / 2).cast("long").alias("state"),
        )
    )
    out = temporal.scd2(caps, "url", "ts", ["lang_v", "state"], tiebreak="state")
    return out.select(
        "url",
        "version",
        "lang_v",
        "state",
        "valid_from",
        F.coalesce("valid_to", F.lit("2200-01-01 00:00:00").cast("timestamp")).alias("valid_to"),
        "is_current",
    )


def q_interval_merge(spark, sf):
    """Gaps-and-islands interval coalescing: per-user event intervals
    [ts, ts + (event_id%7 + 1) minutes] merge into maximal overlapping
    spans via the running-max device — max(end) over unbounded-preceding
    (plain lag(end) is wrong when a long interval swallows successors),
    island id = running sum of open flags, then one aggregate; a single
    shuffle on user_id end-to-end, no quadratic self-join
    (operators/temporal.py merge_intervals)."""
    e = spark.read.parquet(f"{sf}/events.parquet")
    iv = e.select(
        "user_id",
        F.col("ts").alias("iv_start"),
        (F.col("ts") + F.make_dt_interval(F.lit(0), F.lit(0), (F.col("event_id") % 7) + 1, F.lit(0.0))).alias("iv_end"),
    )
    out = temporal.merge_intervals(iv, "user_id", "iv_start", "iv_end")
    return out.select(
        "user_id",
        F.col("island").cast("long").alias("island"),
        "span_start",
        "span_end",
        F.col("n_intervals").cast("long").alias("n_intervals"),
    )


def q_locf(spark, sf):
    """Last-observation-carried-forward gap fill (TimescaleDB locf /
    pandas ffill as one window aggregate): every event_id%3==0 value is
    knocked out, then refilled per user from the most recent surviving
    value ordered by (ts, event_id); leading gaps stay empty and
    surface as the -1.0 sentinel (nullable DOUBLE through the DuckDB
    pandas bridge becomes NaN — sentinel at design time).  Values pass
    through last() unchanged, so the double bits are engine-identical
    with no rounding (operators/temporal.py locf)."""
    e = spark.read.parquet(f"{sf}/events.parquet")
    gapped = e.select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.col("event_id") % 3 == 0, F.lit(None)).otherwise(F.col("value")).alias("v"),
    )
    out = temporal.locf(gapped, "user_id", "ts", "v", tiebreak="event_id")
    return out.select(
        "user_id",
        "event_id",
        F.col("v").isNull().alias("was_null"),
        F.coalesce("v_filled", F.lit(-1.0)).alias("v_filled"),
    )


def q_column_stats(spark, sf):
    """ANALYZE-style column profile of the documents table (the
    optimizer/catalog statistics every warehouse collects): one
    aggregate pass → per-column (n_rows, n_null, exact ndv, min, max as
    strings), exploded to one row per column; exact countDistinct here
    so DuckDB can replay it — production swaps in approx_count_distinct
    (operators/stats.py column_stats)."""
    return stats.column_stats(
        _docs(spark, sf), ["doc_id", "n_chars", "lang", "source"]
    )


def q_mad_outliers(spark, sf):
    """Robust per-source length-outlier screen (Iglewicz–Hoaglin
    modified z-score, median/MAD not mean/σ — corpus lengths are
    heavy-tailed): two key-sized exact-percentile aggregates broadcast
    back, MAD=0 guarded to z=0; flagged at |z| > 2 (tightened from the
    3.5 default so the flag branch is exercised on this corpus)
    (operators/stats.py mad_outliers)."""
    out = stats.mad_outliers(
        _docs(spark, sf).select("doc_id", "source", "n_chars"),
        "source",
        "n_chars",
        z_thresh=2.0,
    )
    return out.select(
        "doc_id", "source", "n_chars",
        F.round("med", 6).alias("med"),
        F.round("mad", 6).alias("mad"),
        "robust_z", "is_outlier",
    )


def q_logistic_quality(spark, sf):
    """Fixed-weight logistic quality classifier inference (the scoring
    half of a CCNet/fastText-style filter; training is oos per SURVEY
    §3.1): three map-only features — capped length, type-token ratio,
    mean word length — through σ(w·x+b), keep at score ≥ 0.5.  Pure
    column arithmetic both engines; exact-integer feature numerators so
    the float chain is engine-identical to 6 digits
    (operators/stats.py logistic_score)."""
    d = _docs(spark, sf).filter(F.coalesce(F.col("text"), F.lit("")) != "")
    toks = F.split("text", " ")
    feats = d.select(
        "doc_id",
        (F.least("n_chars", F.lit(500)) / 500.0).alias("len_norm"),
        (F.size(F.array_distinct(toks)) / F.size(toks)).alias("ttr"),
        ((F.col("n_chars") - (F.size(toks) - 1)) / F.size(toks) / 10.0).alias("mwl10"),
    )
    score = stats.logistic_score(
        feats, {"len_norm": 1.5, "ttr": 2.0, "mwl10": -1.0}, bias=-1.2
    )
    return feats.select(
        "doc_id",
        F.round("ttr", 6).alias("ttr"),
        F.round(score, 6).alias("score"),
        (score >= 0.5).alias("keep"),
    )


def q_zone_maps(spark, sf):
    """Per-file min/max zone maps over a Z-ordered write (the
    data-skipping stats parquet/Iceberg record), plus the scan flags
    that MEASURE the layout: files whose [min,max] misses the range
    predicate are pruned — scan_y is selective on the y-range
    predicate, scan_x shows the degenerate single-column view.  One
    map-side-combined aggregate on the zbucket file key
    (operators/layout.py zone_maps, zone_scan_flag; same Morton key as
    q_zorder)."""
    from ddaugner_spark.operators import layout

    e = spark.read.parquet(f"{sf}/events.parquet").select(
        F.col("user_id").alias("x"), (F.col("event_id") % 1024).alias("y")
    )
    z = layout.with_zorder(e, ["x", "y"], bits=10, buckets=256)
    zm = layout.zone_maps(z, "zbucket", ["x", "y"])
    return zm.select(
        F.col("zbucket").cast("int").alias("zbucket"),
        "n_rows", "x_min", "x_max", "y_min", "y_max",
        layout.zone_scan_flag("x", F.lit(2), F.lit(5)).alias("scan_x"),
        layout.zone_scan_flag("y", F.lit(100), F.lit(300)).alias("scan_y"),
    )


def q_compaction(spark, sf):
    """Small-file compaction planner (Iceberg/Delta binpack shape) over
    a synthesized file inventory — one file per (source, doc_id%13)
    with size = Σ n_chars: per-source sort-ordered carving into
    ~2000-byte rewrite bins via a window cumsum (bin = ⌊bytes-before /
    target⌋); deterministic, keeps sort order inside bins, inventory is
    metadata-sized (operators/layout.py compaction_plan)."""
    from ddaugner_spark.operators import layout

    files = (
        _docs(spark, sf)
        .groupBy("source", (F.col("doc_id") % 13).alias("file_idx"))
        .agg(F.sum("n_chars").alias("size_bytes"))
    )
    out = layout.compaction_plan(
        files, "size_bytes", target_bytes=2000,
        order_col="file_idx", part_col="source",
    )
    return out.select(
        "source", "bin", "n_files", "bin_bytes",
        F.col("first_file").cast("long").alias("first_file"),
        F.col("last_file").cast("long").alias("last_file"),
    )


def q_allpairs_prefix(spark, sf):
    """EXACT all-pairs Jaccard via PREFIX FILTERING (AllPairs/PPJoin,
    Bayardo WWW'07) on the dup-amplified corpus — same ground truth as
    q_jaccard_pairs (identical oracle), different candidate engine:
    rare-first global shingle order, only each set's (1−τ) prefix is
    indexed, τ-length filter before the exact verification join; no
    stop-shingle cap needed because high-df shingles never enter the
    prefixes (operators/dedup.py all_pairs_jaccard_prefix; losslessness
    above τ pinned by the differential pytest)."""
    return dedup.all_pairs_jaccard_prefix(dedup.with_dup_corpus(_docs(spark, sf)))


def q_shortest_path(spark, sf):
    """Weighted single-source shortest paths (≤3 hops) from the 5 seed
    nodes over a deterministic 50-node weighted digraph (10 out-edges
    per node, min-weight parallel-edge collapse): bounded Bellman–Ford
    relaxation with per-round min-aggregates, parquet-round-tripped
    (operators/graph.py shortest_paths_weighted); oracle = recursive
    CTE enumerating all ≤3-hop path costs with min per node.  Costs are
    exact LONGs — no float accumulation."""
    d = _docs(spark, sf)
    raw = d.select(
        (F.col("doc_id") % 50).alias("a"),
        ((F.col("doc_id") % 50) * 7 + F.floor(F.col("doc_id") / 50) + 1).alias("b0"),
        (1 + (F.floor(F.col("doc_id") / 50) + F.col("doc_id")) % 5).alias("w"),
    ).select("a", (F.col("b0") % 50).alias("b"), "w").filter("a != b")
    edges = raw.groupBy("a", "b").agg(F.min("w").alias("w"))
    seeds = (
        d.select((F.col("doc_id") % 50).alias("node"))
        .filter(F.col("node") % 10 == 0)
        .distinct()
    )
    out = graph.shortest_paths_weighted(
        edges, seeds, max_hops=3, stage_dir=_scratch("q_sssp_")
    )
    return out.select("node", F.col("cost").cast("long").alias("cost"))


def q_rollup_merge(spark, sf):
    """Incremental-view-maintenance refresh: the daily rollup is built
    as merge(rollup(base), rollup(delta)) over a deterministic
    base/delta split (event_id%4), and the oracle recomputes from the
    FULL event set — pinning the decomposable-aggregate equality that
    lets a 100 TB continuous aggregate refresh by re-aggregating only
    the new partition (operators/temporal.py merge_rollups)."""
    e = spark.read.parquet(f"{sf}/events.parquet")
    rb = temporal.hypertable_rollup(
        e.filter(F.col("event_id") % 4 < 3), "ts", "value", 86400, ["event_type"]
    )
    rd = temporal.hypertable_rollup(
        e.filter(F.col("event_id") % 4 == 3), "ts", "value", 86400, ["event_type"]
    )
    out = temporal.merge_rollups([rb, rd], ["event_type"])
    return out.select(
        "bucket_ts",
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round("sum_v", 4).alias("sum_v"),
    )


def q_stream_sliding(spark, sf):
    """SLIDING-window streaming aggregation (60-minute windows every 30
    minutes — each event updates two panes): the trending-metrics shape
    and the one windowed surface the tumbling stream query doesn't
    cover.  Append mode emits exactly the windows the final watermark
    closed (window_end ≤ max ts − 30 min), which the oracle replicates
    by fanning each event to its two pane starts
    (streaming/incremental.py incremental_trending)."""
    from ddaugner_spark.streaming import incremental_trending

    ck = _scratch("q_stream_sl_ck_")
    out = incremental_trending(
        spark,
        f"{sf}/events.parquet",
        ck,
        window="60 minutes",
        slide="30 minutes",
        watermark="30 minutes",
    )
    return out.select(
        "window_start",
        "event_type",
        F.col("n").cast("long").alias("n"),
        "total_value",
    )


def q_clustering_coef(spark, sf):
    """Local clustering coefficient per entity on the co-mention graph
    (2T/(d(d−1)), 0 for deg<2): the hub-disambiguation signal — a
    high-degree entity whose neighbors don't interconnect is a
    polysemous hub, not a community member.  Degree-oriented triangle
    counting + the degree table, one key-sized join
    (operators/graph.py clustering_coefficient)."""
    m = mentions.mentions_df(_docs(spark, sf))
    return graph.clustering_coefficient(canonical.co_mention_edges(m))


def q_minhash_error(spark, sf):
    """MinHash sketch-accuracy eval on the dup-amplified corpus: for
    every LSH candidate pair, the signature estimate (matching minima /
    P) against exact Jaccard with |error| — the measurement that
    justifies P=8 before trusting sketch-only dedup decisions at crawl
    scale (σ = √(J(1−J)/P) is a promise; this checks it)
    (operators/dedup.py minhash_estimate_error)."""
    return dedup.minhash_estimate_error(dedup.with_dup_corpus(_docs(spark, sf)))


def q_snapshot_diff(spark, sf):
    """Crawl snapshot diff (the nightly "what changed" primitive
    feeding the incremental pipeline): v2 deletes every doc_id%7==3
    url, revises text on %5==0, and adds a ?v=2 url for %11==0; the
    diff emits ONLY the delta (added/removed/changed) from one
    co-partitioned full-outer join over per-side (key, md5) reductions
    — payloads never cross the join (operators/crawl.py
    snapshot_diff)."""
    pages = synthesize_pages(_docs(spark, sf)).select(
        "doc_id", "url", F.coalesce("text", F.lit("")).alias("text")
    )
    v1 = pages.select("url", "text")
    v2 = (
        pages.filter(F.col("doc_id") % 7 != 3)
        .select(
            "url",
            F.when(F.col("doc_id") % 5 == 0, F.concat("text", F.lit(" v2")))
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            pages.filter(F.col("doc_id") % 11 == 0).select(
                F.concat("url", F.lit("?v=2")).alias("url"), "text"
            )
        )
    )
    return crawl.snapshot_diff(v1, v2, "url", ["text"])


def q_bucketed_join(spark, sf):
    """Bucketed-table co-located join: both sides are written ONCE as
    16-bucket external tables hash-partitioned by user_id, so the
    shuffle-join path plans ZERO shuffle exchanges — pinned in
    test_stats_layout with broadcast disabled (here the small side may
    still broadcast, which is also exchange-free for the big side) —
    the pay-the-shuffle-at-ingest device for the 100 TB fact tables
    (operators/layout.py write_bucketed).  The oracle replays the same
    join from the raw parquet; values are layout-invariant."""
    from ddaugner_spark.operators import layout

    e = spark.read.parquet(f"{sf}/events.parquet")
    views = e.filter(F.col("event_type") == "view").select("user_id", "event_id")
    buys = e.filter(F.col("event_type") == "purchase").select("user_id", "value")
    root = _scratch("q_bkt_")
    layout.write_bucketed(views, "bkt_views", "user_id", 16, f"{root}/views")
    layout.write_bucketed(buys, "bkt_buys", "user_id", 16, f"{root}/buys")
    out = (
        spark.table("bkt_views")
        .join(spark.table("bkt_buys"), "user_id")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )
    return out


def q_hard_negatives(spark, sf):
    """Margin-based hard-negative mining against class prototypes: per
    vector, own-centroid distance vs closest other-centroid distance;
    margin < 0 rows are the contrastive-training samples worth mining.
    Prototype-level (|labels| centroids broadcast), not corpus-ANN —
    the scale path for a first mining pass (operators/similarity.py
    centroid_hard_negatives; shares centroid_distances with
    q_nearest_centroid)."""
    return similarity.centroid_hard_negatives(_emb(spark, sf))


def q_filter_stack(spark, sf):
    """CCNet/RefinedWeb-style quality filter stack with ATTRIBUTED drop
    reasons over the dup-amplified corpus — first failing rule in fixed
    order (short → long → low_ttr → low_stopword → duplicate → keep):
    the per-reason drop-rate attribution that makes a 100 TB filtering
    run debuggable.  Content rules map-only; the duplicate rule is the
    exact-dedup hash aggregate joined back (operators/stats.py
    filter_stack)."""
    return stats.filter_stack(
        dedup.with_dup_corpus(_docs(spark, sf)), config.STOPWORDS
    )


def q_wp_fertility(spark, sf):
    """Tokenizer FERTILITY per language (wordpieces per token — the
    metric that decides whether a vocabulary is fair to a language
    before a trillion-token budget is split): WordPiece runs once over
    the DISTINCT vocabulary (kernels/wordpiece.py), piece counts join
    back to per-(lang, word) frequencies, and fertility = Σc·pieces /
    Σc re-aggregates exact integers.  The corpus is never re-tokenized
    per occurrence — vocabulary-sized WordPiece work, corpus-sized
    counts only."""
    from ddaugner_spark.functions import wordpiece_pieces

    d = _docs(spark, sf).filter(F.coalesce(F.col("text"), F.lit("")) != "")
    wc = (
        d.select("lang", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("lang", "word")
        .agg(F.count("*").alias("c"))
    )
    np_ = (
        wc.select("word")
        .distinct()
        .select("word", F.size(wordpiece_pieces(F.col("word"))).alias("n_pieces"))
    )
    return (
        wc.join(np_, "word")
        .groupBy("lang")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(F.col("c") * F.col("n_pieces")).cast("long").alias("n_wordpieces"),
            F.round(
                F.sum(F.col("c") * F.col("n_pieces")) / F.sum("c"), 6
            ).alias("fertility"),
        )
    )


def q_assortativity(spark, sf):
    """Pearson degree assortativity of the co-mention graph (Newman
    2002 — do hubs link hubs?): exact decimal(38,0) sums over the
    symmetrized edge-end degree pairs, one fixed float chain, −9.9
    sentinel for the zero-variance degenerate case (NULL DOUBLE breaks
    pandas-bridge parity) (operators/graph.py degree_assortativity)."""
    m = mentions.mentions_df(_docs(spark, sf))
    out = graph.degree_assortativity(canonical.co_mention_edges(m))
    return out.select(
        "n_ends", F.coalesce("r", F.lit(-9.9)).alias("r")
    )


def q_split_leakage(spark, sf):
    """Train/eval SPLIT-LEAKAGE audit (decontamination's sibling): the
    deterministic md5-bucket 80/20 split is independent of near-dup
    structure by design, so near-duplicate pairs that STRADDLE the
    boundary are eval contamination — every such pair is emitted with
    its verified Jaccard.  Composes the full MinHash-LSH pipeline with
    the split assignment; dup-amplified corpus guarantees real leaks
    (operators/sampling.py holdout_split + dedup.minhash_near_duplicates)."""
    from ddaugner_spark.operators import sampling

    corpus = dedup.with_dup_corpus(_docs(spark, sf))
    splits = corpus.select("doc_id", sampling.holdout_split().alias("split"))
    pairs = dedup.minhash_near_duplicates(corpus)
    return (
        pairs.join(
            splits.select(F.col("doc_id").alias("a"), F.col("split").alias("split_a")),
            "a",
        )
        .join(
            splits.select(F.col("doc_id").alias("b"), F.col("split").alias("split_b")),
            "b",
        )
        .filter(F.col("split_a") != F.col("split_b"))
        .select("a", "b", "jaccard", "split_a", "split_b")
    )


def q_kg_pattern(spark, sf):
    """SPARQL star basic graph pattern over the constructed KG:
    ``?x filter ?y . ?x order ?z`` with y != z — one support
    aggregation feeds both legs, each capped per (subj, pred) to its 8
    best-supported objects (the two_hop hub guard), then an equi-join
    on x (operators/kgquery.py star_pattern)."""
    from ddaugner_spark.operators import kgquery

    return kgquery.star_pattern(
        triples.triples_df(_docs(spark, sf)), "filter", "order", fanout_cap=8
    )


def q_domain_range(spark, sf):
    """KG integrity screen: every (pred, subj_tag, obj_tag) signature
    vs the predicate's majority signature — the consumer of
    q_relation_sigs' schema induction.  Majority picked via the packed
    lpad(1e18−n)#tags min-key device (cross-engine-deterministic ties),
    broadcast back onto the signature table
    (operators/kgquery.py domain_range_violations)."""
    from ddaugner_spark.operators import kgquery

    return kgquery.domain_range_violations(triples.triples_df(_docs(spark, sf)))


def q_rule_mining(spark, sf):
    """AMIE-lite Horn-rule mining p(x,y) ∧ q(y,z) ⇒ r(x,z) with
    standard AND PCA confidence (Galárraga et al., WWW 2013): body =
    deduped edge chain join on the shared entity, support = body ⋈ head
    on (x,z), PCA denominator counts body pairs whose x has ANY r-edge;
    rule-sized aggregates broadcast back
    (operators/kgquery.py mine_chain_rules)."""
    from ddaugner_spark.operators import kgquery

    return kgquery.mine_chain_rules(triples.triples_df(_docs(spark, sf)), min_support=2)


def q_kappa(spark, sf):
    """Cohen's kappa between the naive unigram tagging and the full
    gazetteer tagging — the inter-annotator-agreement metric an
    annotation campaign reports: token-level (doc_id, pos) join of the
    two tag streams, exact-integer chance-agreement numerator, fixed
    IEEE division order both engines
    (operators/scoring.py cohens_kappa)."""
    d = _docs(spark, sf)
    return scoring.cohens_kappa(
        mentions.with_naive_bio(d).select("doc_id", "tags"),
        mentions.with_bio(d).select("doc_id", "tags"),
    )


def q_pack_sequences(spark, sf):
    """Concat-and-chunk sequence packing into 512-token bins across 4
    deterministic shards (the GPT-style pretraining batch layout): per
    (shard, bin) doc count, token mass, and straddle count — one window
    cumsum per shard + one hash aggregate, no Python
    (operators/traindata.py pack_sequences)."""
    from ddaugner_spark.operators import traindata

    return traindata.pack_sequences(_docs(spark, sf), seq_len=512, n_shards=4)


def q_chunk_windows(spark, sf):
    """RAG chunking: overlapping 32-token windows every 16 tokens —
    token array bound once as a projected column, starts exploded from
    an arithmetic sequence, slice on the materialized array (map-only,
    no HOF-lambda recompute, no shuffle)
    (operators/traindata.py chunk_windows)."""
    from ddaugner_spark.operators import traindata

    return traindata.chunk_windows(_docs(spark, sf), size=32, stride=16)


def q_mixture_weights(spark, sf):
    """Domain-mixture weights toward a uniform token budget (static
    DoReMi special case): per-source token share and the upsampling
    weight target/actual — source-sized aggregate, total re-aggregated
    and broadcast, exact-integer share numerators
    (operators/traindata.py mixture_weights)."""
    from ddaugner_spark.operators import traindata

    return traindata.mixture_weights(_docs(spark, sf))


def q_auc(spark, sf):
    """Exact tie-corrected ROC AUC of the length score against the
    lang=='en' label via the rank statistic: integer numerator
    Σ p_s·(2·N_below+n_s) (half-credit ties exact via ×2 scaling), one
    float division at the end — no order-dependent double accumulation
    (operators/traindata.py auc_exact)."""
    from ddaugner_spark.operators import traindata

    return traindata.auc_exact(
        _docs(spark, sf),
        label=(F.col("lang") == "en"),
        score=F.col("n_chars").cast("long"),
    )


def q_calibration(spark, sf):
    """Reliability diagram + ECE for the capped-length quality score vs
    the lang=='en' label: per-bin mean score / positive rate / gap and
    the corpus ECE, every float one division of exact integer sums
    (per-bin gap numerator |sum_cap − 500·n_pos|, ECE = their integer
    sum) (operators/traindata.py calibration_bins)."""
    from ddaugner_spark.operators import traindata

    return traindata.calibration_bins(_docs(spark, sf), n_bins=10)


def q_isotonic(spark, sf):
    """Isotonic (PAV) calibration map over the same score/label setup
    as q_calibration, via the minimax characterization
    iso(k) = max_{i≤k} min_{j≥k} pooled_rate(i..j) — no iterative
    pooling, every pooled rate one division of exact integer
    prefix-sum differences, the whole lattice on broadcast
    bin-count-sized frames (operators/traindata.py
    isotonic_calibration)."""
    from ddaugner_spark.operators import traindata

    return traindata.isotonic_calibration(_docs(spark, sf), n_bins=10)


def q_ams_f2(spark, sf):
    """AMS F2 (self-join size) sketch over the token stream: 16 ±1
    estimators with md5-derived signs, each Z an exact integer sum,
    mean-of-squares vs the exact Σcnt² with relative error — the
    pre-join statistic an optimizer consults
    (operators/sketches.py ams_f2)."""
    from ddaugner_spark.operators import sketches

    toks = mentions.with_tokens(_docs(spark, sf)).select(
        F.explode("tokens").alias("tok")
    )
    return sketches.ams_f2(toks, item_col="tok", n_estimators=16)


def q_chi2_tokens(spark, sf):
    """Chi-square token↔label feature selection (2×2 presence tables
    vs lang=='en'): all cells exact integers, χ² = N·diff²/m1/m2/m3/m4
    with a fixed IEEE operand order both engines — the integer
    single-expression form would overflow int64 at corpus scale
    (operators/textstats.py chi2_tokens)."""
    return textstats.chi2_tokens(
        _docs(spark, sf), label=(F.col("lang") == "en"), min_df=5
    )


def q_jl_project(spark, sf):
    """Quantized Johnson–Lindenstrauss projection 64→16 dims with a
    deterministic md5 Rademacher matrix: inputs quantized to 1/1000 so
    each output coordinate is ONE exact integer dot product (order-free
    under repartition); production form is a numpy matmul in
    mapInPandas, this is its oracle-replayable twin
    (operators/embedding.py jl_project)."""
    from ddaugner_spark.operators import embedding as embops

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    return embops.jl_project(emb, out_dim=16, scale=1000)


def q_volume_shipping(spark, sf):
    """TPC-H Q7 shape (bi-nation trade volume by year): the nation
    filter is pushed INTO the supplier/customer dimensions via
    broadcast joins BEFORE the fact joins, so lineitem rows from
    non-qualifying nations never reach the shuffle — the oracle is the
    literal 6-table flat form."""
    li = spark.read.parquet(f"{sf}/lineitem.parquet").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    o = spark.read.parquet(f"{sf}/orders.parquet").select("o_orderkey", "o_custkey")
    n2 = (
        spark.read.parquet(f"{sf}/nation.parquet")
        .filter(F.col("n_name").isin("NATION_1", "NATION_2"))
        .select("n_nationkey", "n_name")
    )
    s2 = (
        spark.read.parquet(f"{sf}/supplier.parquet")
        .join(F.broadcast(n2), F.col("s_nationkey") == n2.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c2 = (
        spark.read.parquet(f"{sf}/customer.parquet")
        .join(F.broadcast(n2), F.col("c_nationkey") == n2.n_nationkey)
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    j = (
        li.join(s2, li.l_suppkey == s2.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c2, o.o_custkey == c2.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return j.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("long").alias("l_year"),
    ).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("revenue"),
        F.count(F.lit(1)).cast("long").alias("n_items"),
    )


def q_market_share(spark, sf):
    """TPC-H Q8 shape (NATION_1 suppliers' share of ASIA's PROMO-part
    volume by order year): part/region/nation prefilters broadcast
    into the fact side; the share is one conditional-sum ratio per
    year.  Supplier is joined on its key (a dimension too wide to
    broadcast at 100 TB); everything else rides broadcasts."""
    r = spark.read.parquet(f"{sf}/region.parquet").filter(F.col("r_name") == "ASIA")
    n = spark.read.parquet(f"{sf}/nation.parquet")
    asia_c = (
        spark.read.parquet(f"{sf}/customer.parquet")
        .join(
            F.broadcast(
                n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
                    "n_nationkey"
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    s2 = (
        spark.read.parquet(f"{sf}/supplier.parquet")
        .join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    p2 = (
        spark.read.parquet(f"{sf}/part.parquet")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    li = spark.read.parquet(f"{sf}/lineitem.parquet").join(
        F.broadcast(p2), F.col("l_partkey") == p2.p_partkey
    )
    o = spark.read.parquet(f"{sf}/orders.parquet").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(asia_c, o.o_custkey == asia_c.c_custkey)
        .join(s2, li.l_suppkey == s2.s_suppkey)
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nat_vol = F.sum(F.when(F.col("nation") == "NATION_1", vol).otherwise(F.lit(0.0)))
    tot_vol = F.sum(vol)
    return j.groupBy(F.year("o_orderdate").cast("long").alias("o_year")).agg(
        F.round(nat_vol, 4).alias("nation_volume"),
        F.round(tot_vol, 4).alias("total_volume"),
        F.round(nat_vol / tot_vol, 6).alias("mkt_share"),
    )


def q_returned_items(spark, sf):
    """TPC-H Q10 shape (revenue lost to returns per customer in a
    quarter): returnflag and date filters pushed to the two fact scans,
    nation broadcast onto the customer dimension, one grouped sum."""
    li = (
        spark.read.parquet(f"{sf}/lineitem.parquet")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    o = spark.read.parquet(f"{sf}/orders.parquet").filter(
        (F.col("o_orderdate") >= F.lit("1995-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    c = spark.read.parquet(f"{sf}/customer.parquet")
    n = spark.read.parquet(f"{sf}/nation.parquet")
    cn = c.join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    ).select("c_custkey", "c_name", "c_acctbal", "n_name")
    j = li.join(o, li.l_orderkey == o.o_orderkey).join(
        cn, o.o_custkey == cn.c_custkey
    )
    return (
        j.groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            "revenue",
            "n_items",
        )
    )


def q_cust_order_dist(spark, sf):
    """TPC-H Q13 shape (customer order-count distribution): left outer
    join against the priority-filtered orders (filter folded into the
    join input — equivalent to Q13's join-predicate form), two integer
    aggregations; zero-order customers land in the c_count = 0 bucket."""
    c = spark.read.parquet(f"{sf}/customer.parquet").select("c_custkey")
    o = (
        spark.read.parquet(f"{sf}/orders.parquet")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_orderkey", "o_custkey")
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("long").alias("custdist")
    )


def q_promo_share(spark, sf):
    """TPC-H Q14 shape (promo revenue share for one month): date filter
    at the lineitem scan, part type broadcast in, one conditional-sum
    ratio — three scalars out."""
    li = spark.read.parquet(f"{sf}/lineitem.parquet").filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-10-01").cast("timestamp"))
    )
    p = spark.read.parquet(f"{sf}/part.parquet").select("p_partkey", "p_type")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0.0)))
    total = F.sum(vol)
    return j.agg(
        F.round(promo, 4).alias("promo_revenue"),
        F.round(total, 4).alias("total_revenue"),
        F.round(F.lit(100.0) * promo / total, 6).alias("promo_share"),
    )


def q_time_weighted_avg(spark, sf):
    """LOCF time-weighted average per user over the irregular event
    stream (the billing/monitoring rollup): cent-quantized values ×
    integer epoch-ms durations → order-free integer numerator, two
    final divisions; single-event users → −1 sentinel + degenerate flag
    (operators/temporal.py time_weighted_avg)."""
    return temporal.time_weighted_avg(
        spark.read.parquet(f"{sf}/events.parquet")
    )


def q_debounce(spark, sf):
    """Gaps-and-islands debounce per (user, event_type) at a 600 s
    gap: burst heads with collapse counts and spans — one lag window +
    one running-sum window on the same key/order (single shuffle,
    reused sort), integer epoch-ms arithmetic
    (operators/temporal.py debounce)."""
    return temporal.debounce(
        spark.read.parquet(f"{sf}/events.parquet"),
        keys=["user_id", "event_type"],
        gap_seconds=600,
    )


def q_scc(spark, sf):
    """Strongly connected components of the DIRECTED KG edge graph
    (contrast q_canonical_cc, which is undirected co-mention): min-label
    forward/backward peeling — per peel round two label fixpoints
    (join + min-agg per iteration, parquet lineage truncation), nodes
    with f==b peel with scc_id = the component's minimum member; the
    oracle is the recursive-CTE mutual-reachability closure
    (operators/canonical.py strongly_connected_components)."""
    t = triples.triples_df(_docs(spark, sf))
    e = t.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    return canonical.strongly_connected_components(
        e, stage_dir=_scratch("q_scc_")
    )


def q_ams_join_size(spark, sf):
    """AGMS equi-join cardinality estimate (view ⋈ purchase events on
    user_id): the same md5 ±1 sign stream on both sides makes
    E[Za·Zb] = Σ cntA·cntB — two independently-built sketches predict
    the join size without co-locating the inputs; exact Σ cntA·cntB
    replayed for the error readout
    (operators/sketches.py ams_join_size)."""
    from ddaugner_spark.operators import sketches

    e = spark.read.parquet(f"{sf}/events.parquet")
    return sketches.ams_join_size(
        e.filter(F.col("event_type") == "view").select("user_id"),
        e.filter(F.col("event_type") == "purchase").select("user_id"),
        "user_id",
        n_estimators=16,
    )


def q_bpe_train(spark, sf):
    """BPE merge TRAINING (Sennrich 2016) — 5 learned merges over the
    corpus word-frequency vocabulary: per step one vocab-sized pair
    aggregate, argmax via the packed 19-digit min-key, the single merge
    row collected (the model, like k-means' literal centroids) and
    applied map-only as an ordered fold; oracle replays the full loop
    with 5 unrolled list_reduce CTE stages
    (operators/bpe.py bpe_train)."""
    from ddaugner_spark.operators import bpe

    return bpe.bpe_train(
        textstats.vocab_df(_docs(spark, sf)),
        n_merges=5,
        stage_dir=_scratch("q_bpe_"),
    )


def q_dbscan(spark, sf):
    """DBSCAN-lite density triage over the MinHash-LSH verified
    near-dup graph of the dup-amplified corpus: core = neighborhood
    (incl. self) ≥ 3, clusters = hash-min CC of the core-core subgraph,
    border = min adjacent core cluster, noise = −1 — the core/border/
    noise split a curation pass wants on top of flat canonicalization
    (operators/density.py dbscan_lite)."""
    from ddaugner_spark.operators import density

    corpus = dedup.with_dup_corpus(_docs(spark, sf))
    pairs = dedup.minhash_near_duplicates(corpus).select("a", "b")
    return density.dbscan_lite(
        corpus.select(F.col("doc_id").alias("node")),
        pairs,
        min_pts=3,
        stage_dir=_scratch("q_dbscan_"),
    )


def q_temporal_paths(spark, sf):
    """Time-respecting 2-hop KG paths: both facts' validity intervals
    (the q_kg_validity recrawl model, as integer day offsets) must
    OVERLAP — per-mid fanout cap by attestation count (hub guard), one
    mid-key equi-join with the interval residual, pure integer
    arithmetic (operators/triples.py temporal_join_paths)."""
    t = triples.triples_df(_docs(spark, sf))
    msent = t.groupBy("doc_id").agg(F.max("sent_id").alias("max_sent"))
    cmax = F.least(F.col("doc_id") % 3, F.col("max_sent") - F.col("sent_id"))
    a = t.join(msent, "doc_id").select(
        "subj",
        "pred",
        "obj",
        (F.col("doc_id") % 7).cast("long").alias("fs"),
        (F.col("doc_id") % 7 + cmax).cast("long").alias("ls"),
        (cmax + 1).cast("long").alias("ni"),
    )
    v = a.groupBy("subj", "pred", "obj").agg(
        F.min("fs").alias("fs"),
        F.max("ls").alias("ls"),
        F.sum("ni").cast("long").alias("n_assertions"),
    )
    return triples.temporal_join_paths(v, fanout_cap=5)


def q_copurchase_lift(spark, sf):
    """Market-basket pair mining over orders (A-priori second pass):
    distinct parts per order, within-order pairs a < b with support ≥ 2,
    confidence and lift from exact integer counts (lift =
    n_co·N / n_a / n_b, fixed division order) — the association-rule
    readout a recommender pipeline computes from the same star schema."""
    li = (
        spark.read.parquet(f"{sf}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_orders = spark.read.parquet(f"{sf}/orders.parquet").select(
        F.countDistinct("o_orderkey").cast("long").alias("n_orders")
    )
    supp = li.groupBy(F.col("l_partkey").alias("part")).agg(
        F.count(F.lit(1)).cast("long").alias("n_part")
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("long").alias("n_co"))
        .filter(F.col("n_co") >= 2)
    )
    j = (
        pairs.join(
            F.broadcast(supp.select(F.col("part").alias("pa"), F.col("n_part").alias("n_a"))),
            "pa",
        )
        .join(
            F.broadcast(supp.select(F.col("part").alias("pb"), F.col("n_part").alias("n_b"))),
            "pb",
        )
        .crossJoin(F.broadcast(n_orders))
    )
    return j.select(
        F.col("pa").alias("part_a"),
        F.col("pb").alias("part_b"),
        "n_co",
        "n_a",
        "n_b",
        F.round(F.col("n_co") / F.col("n_a"), 6).alias("conf_ab"),
        F.round(
            (F.col("n_co") * F.col("n_orders")) / F.col("n_a") / F.col("n_b"), 6
        ).alias("lift"),
    )


def q_readability(spark, sf):
    """Flesch reading-ease screen per document (vowel-run syllables,
    terminator-token sentences): exact integer counts, one fixed
    left-associative float chain, difficulty band compared on the
    ROUNDED score (operators/textstats.py readability_scores)."""
    return textstats.readability_scores(_docs(spark, sf))


def q_entity_drift(spark, sf):
    """Entity popularity drift between the two deterministic corpus
    halves (doc_id parity — the snapshot-pair stand-in): per surface the
    half counts and the Haldane-corrected log-odds ratio — the KG
    monitoring readout for 'which entities are trending between
    crawls'; ln over rationals of exact integers, fixed operand order."""
    m = mentions.mentions_df(_docs(spark, sf))
    per = m.groupBy("surface").agg(
        F.sum(((F.col("doc_id") % 2) == 0).cast("long")).cast("long").alias("a"),
        F.sum(((F.col("doc_id") % 2) == 1).cast("long")).cast("long").alias("b"),
    )
    tot = per.agg(
        F.sum("a").cast("long").alias("ta"), F.sum("b").cast("long").alias("tb")
    )
    j = per.crossJoin(F.broadcast(tot))
    lor = (
        F.log((F.col("a") + 0.5) / (F.col("ta") - F.col("a") + 0.5))
        - F.log((F.col("b") + 0.5) / (F.col("tb") - F.col("b") + 0.5))
    )
    return j.select(
        "surface",
        "a",
        "b",
        F.round(lor, 6).alias("log_odds"),
        (F.round(lor, 6) > 0).alias("rising_in_first_half"),
    )


def q_rfm(spark, sf):
    """RFM user segmentation over purchase events (the classic
    consumer-analytics composite): recency in whole days from the
    corpus max timestamp, frequency, monetary in exact cents; quintile
    scores via ntile over TOTAL orders (metric, user_id) so bucket
    edges are engine-reproducible (the q_ccnet_buckets device), segment
    = the concatenated R/F/M digits."""
    from pyspark.sql import Window

    e = spark.read.parquet(f"{sf}/events.parquet").filter(
        F.col("event_type") == "purchase"
    )
    ms = F.expr("unix_micros(cast(ts as timestamp)) DIV 1000")
    per = e.select("user_id", ms.alias("tms"),
                   F.round(F.col("value") * 100).cast("long").alias("cents"))
    mx = per.agg(F.max("tms").alias("max_ms"))
    agg = per.groupBy("user_id").agg(
        F.max("tms").alias("last_ms"),
        F.count(F.lit(1)).cast("long").alias("f"),
        F.sum("cents").cast("long").alias("m_cents"),
    ).crossJoin(F.broadcast(mx))
    base = agg.select(
        "user_id",
        F.floor((F.col("max_ms") - F.col("last_ms")) / 86400000)
        .cast("long")
        .alias("r_days"),
        "f",
        "m_cents",
    )
    r_w = Window.orderBy(F.desc("r_days"), "user_id")
    f_w = Window.orderBy(F.asc("f"), "user_id")
    m_w = Window.orderBy(F.asc("m_cents"), "user_id")
    scored = base.select(
        "user_id",
        "r_days",
        "f",
        "m_cents",
        F.ntile(5).over(r_w).cast("long").alias("r_score"),
        F.ntile(5).over(f_w).cast("long").alias("f_score"),
        F.ntile(5).over(m_w).cast("long").alias("m_score"),
    )
    return scored.select(
        "*",
        F.concat_ws(
            "", F.col("r_score"), F.col("f_score"), F.col("m_score")
        ).alias("segment"),
    )


def q_psi_drift(spark, sf):
    """Population Stability Index between the two deterministic corpus
    halves over length deciles (the model-monitoring drift metric next
    to q_ks_test's two-sample KS): per bucket the Haldane-smoothed
    shares and the PSI term (pa−pb)·ln(pa/pb) — emitted PER BUCKET so
    no cross-bucket float accumulation exists; the bucket universe is
    generated (0..9) so empty buckets appear with smoothed shares.
    Every float derives from exact integers + 0.5 halves (binary-exact)
    through a fixed operand chain."""
    d = _docs(spark, sf).select(
        F.least(F.floor(F.col("n_chars") / 100), F.lit(9))
        .cast("long")
        .alias("bucket"),
        ((F.col("doc_id") % 2) == 0).alias("in_a"),
    )
    counts = d.groupBy("bucket").agg(
        F.sum(F.col("in_a").cast("long")).cast("long").alias("ca"),
        F.sum((~F.col("in_a")).cast("long")).cast("long").alias("cb"),
    )
    buckets = spark.range(10).select(F.col("id").cast("long").alias("bucket"))
    filled = buckets.join(counts, "bucket", "left").select(
        "bucket",
        F.coalesce("ca", F.lit(0)).cast("long").alias("ca"),
        F.coalesce("cb", F.lit(0)).cast("long").alias("cb"),
    )
    tot = filled.agg(
        F.sum("ca").cast("long").alias("na"), F.sum("cb").cast("long").alias("nb")
    )
    j = filled.crossJoin(F.broadcast(tot))
    pa = (F.col("ca") + 0.5) / (F.col("na") + 5.0)
    pb = (F.col("cb") + 0.5) / (F.col("nb") + 5.0)
    ratio = ((F.col("ca") + 0.5) * (F.col("nb") + 5.0)) / (
        (F.col("cb") + 0.5) * (F.col("na") + 5.0)
    )
    return j.select(
        "bucket",
        "ca",
        "cb",
        F.round(pa, 6).alias("pa"),
        F.round(pb, 6).alias("pb"),
        F.round((pa - pb) * F.log(ratio), 6).alias("psi_term"),
    )


def q_harmonic(spark, sf):
    """Seed-sampled harmonic centrality over the co-mention graph (the
    pivot-sampling estimator for closeness-family centralities): 3
    lexicographically-smallest seeds (a DataFrame — no collect),
    multi-source frontier BFS keyed (node, seed), distances ≤ 4 so
    12/d is an exact integer (lcm device) and the per-node sum is
    order-free (operators/graph.py harmonic_centrality_sample)."""
    from ddaugner_spark.operators.graph import harmonic_centrality_sample

    m = mentions.mentions_df(_docs(spark, sf))
    return harmonic_centrality_sample(
        canonical.co_mention_edges(m), n_seeds=3, max_depth=4,
        stage_dir=_scratch("q_harmonic_"),
    )


def q_medoids(spark, sf):
    """Exact per-label 1-medoid over quantized embeddings (the actual-
    member representative next to q_label_centroids' mean): integer
    pairwise distance sums from 1/1000-quantized coordinates, packed
    min-key argmin, within-label grouped-quadratic join only
    (operators/embedding.py label_medoids)."""
    from ddaugner_spark.operators import embedding as embops

    return embops.label_medoids(spark.read.parquet(f"{sf}/embeddings.parquet"))


def q_ktruss(spark, sf):
    """4-TRUSS of the co-mention graph (Cohen 2008): the maximal
    subgraph where every edge closes ≥ 2 triangles within it — the
    community-core detector one notch stronger than k-core (drops the
    bridge edges k-core keeps).  Bounded 3-round peel of the
    degree-oriented edge-support pass; the SQL twin unrolls the same
    3 peels with the naive x<y<z triangle join, so the bounded forms
    are identical by construction even before the fixed point
    (operators/graph.py k_truss, edge_support)."""
    m = mentions.mentions_df(_docs(spark, sf))
    return graph.k_truss(
        canonical.co_mention_edges(m), k=4, max_rounds=3,
        stage_dir=_scratch("q_ktruss_"),
    )


def q_kg_conflicts(spark, sf):
    """Functional-predicate conflict screen over the constructed KG:
    induce fun(p) = |subj| / |(subj, obj)| per predicate, then list
    every subject of a ≥ 0.3-functional predicate that still carries
    multiple objects, with the 3 lexicographically smallest objects as
    the bounded evidence sample — the KG-repair worklist (Galárraga
    WWW'13 functionality; operators/kgquery.py functional_conflicts).
    The sample is computed only for surviving conflict groups (semi-
    join + rank window on that subset), never over the full store."""
    from ddaugner_spark.operators import kgquery

    return kgquery.functional_conflicts(
        triples.triples_df(_docs(spark, sf)), min_functionality=0.3, sample_k=3
    )


def q_kanon(spark, sf):
    """k-anonymity (k=5) release screen with a minimal-generalization
    ladder over the quasi-identifiers (lang, source, length-decile):
    each level-0 group reports the first generalization level at which
    it reaches size ≥ 5 (0 = as-is, 1 = drop decile, 2 = lang only,
    3 = suppress) and the group size there.  One shuffle; levels 1/2
    re-aggregate the level-0 table and broadcast back
    (operators/privacy.py k_anonymity_ladder)."""
    from ddaugner_spark.operators import privacy

    return privacy.k_anonymity_ladder(_docs(spark, sf), k=5)


def q_interpolate(spark, sf):
    """Linear gap interpolation onto an hourly grid (TimescaleDB
    ``interpolate`` / pandas resample): a sparse per-event-type value
    series (every 29th event) resampled to hour ticks, straight-line
    between surrounding observations, integer-cent × epoch-second
    numerator so the only float is one division — bit-identical to the
    oracle's two ASOF joins.  No extrapolation past the series ends
    (operators/temporal.py interpolate_grid)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    obs = (
        ev.filter(F.col("event_id") % 29 == 0)
        .select(
            F.col("event_type").alias("series"),
            F.expr("unix_micros(cast(ts as timestamp)) DIV 1000000").alias("epoch"),
            F.round(F.col("value") * 100).cast("long").alias("vc"),
        )
        .groupBy("series", "epoch")
        .agg(F.min("vc").alias("vc"))
    )
    return temporal.interpolate_grid(obs, tick_s=3600)


def q_mmr(spark, sf):
    """Maximal Marginal Relevance diversified top-5 (Carbonell SIGIR'98)
    over the embeddings table, query = the min-vec_id row: greedy
    λ=1/2 re-rank where every comparison is an INTEGER (quantized dot
    products; score = rel − max_sim), so engine and the 5-stage
    unrolled oracle agree bit-for-bit.  Selected vectors ride the plan
    as literals (k-means centroid device) — candidates are scanned
    map-only, never shuffled (operators/retrieval.py mmr_select)."""
    from ddaugner_spark.operators import retrieval

    return retrieval.mmr_select(
        spark.read.parquet(f"{sf}/embeddings.parquet"), k=5
    )


def q_quality_classifier(spark, sf):
    """CCNet/fastText-style linear quality filter, trained AND evaluated
    in one job: per-token Laplace-smoothed class propensity learned on
    the even-doc_id half (positive class = lang 'en'), odd-half docs
    scored by mean token weight, reported as a 2×2 confusion table.
    Everything is fixed-point integer arithmetic (weights per-million,
    decision 2·Σw ≥ 10⁶·n) so no float-summation order exists; the
    vocabulary-sized weight table broadcasts onto the exploded eval
    tokens (operators/traindata.py quality_classifier_eval)."""
    from ddaugner_spark.operators import traindata

    return traindata.quality_classifier_eval(_docs(spark, sf))


def q_ohlc(spark, sf):
    """OHLC candlestick bars per (event_type, hour): open/close are
    time-ordered argmin/argmax taken INSIDE the hash aggregate via a
    packed (epoch_us, event_id, cents) lpad key — one map-side-combined
    aggregate, no per-bucket window sort — values as exact integer
    cents (operators/temporal.py ohlc_bars)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return temporal.ohlc_bars(ev, bucket_s=3600)


def q_cusum(spark, sf):
    """CUSUM level-shift changepoint per event_type over the DENSE
    hourly count grid (missing hours count 0): peak |n·S_i| with
    n·S_i = n·prefix_i − i·total kept in exact integers — the mean is
    never formed — argmax packed into a lpad min-key, earliest bucket
    on ties (operators/temporal.py cusum_changepoint)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return temporal.cusum_changepoint(ev, bucket_s=3600)


_PHRASES = config.ORG_BIGRAMS + ["window window"]


def q_phrase_search(spark, sf):
    """Inverted-index phrase search (Lucene ``match_phrase`` plan):
    two-word phrases matched by intersecting the terms' positional
    postings on (doc_id, pos+1) — two InSet prefilters make the join
    posting-sized, not corpus-sized (operators/retrieval.py
    phrase_search)."""
    return retrieval.phrase_search(_docs(spark, sf), _PHRASES)


def q_spearman(spark, sf):
    """Spearman rank correlation (ties → average ranks) between
    per-user event count and per-user spend: doubled average ranks are
    exact integers derived from each column's VALUE-FREQUENCY table
    (distinct-value-sized, joined back by value — no row-sized sort),
    then the exact-sums Pearson device; degenerate variance → the -9.9
    sentinel (operators/stats.py spearman_corr)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("y"),
    )
    return stats.spearman_corr(per_user, "x", "y")


def q_knn_classify(spark, sf):
    """k-NN majority-vote classification of the 5 ANN query vectors:
    inner product on round(x·1000) integer coordinates, top-5 ties on
    vec_id, vote ties on the smaller label — all comparisons exact.
    The query set rides the plan as literal structs (map-only corpus
    scan; IVF composes in for corpus-sized query sets)
    (operators/similarity.py knn_classify)."""
    return similarity.knn_classify(_emb(spark, sf), QUERY_IDS, k=5)


def q_mime_sniff(spark, sf):
    """Magic-byte MIME sniffing over opaque BINARY payloads (the
    file(1) routing step before typed decoders): per distinct magic
    LENGTH one fixed-width hex-prefix key exploded map-side (the
    bigdict per-length prefilter idiom), equi-joined against the
    broadcast magic dimension, longest match argmaxed inside the
    aggregate; unmatched → octet-stream (operators/multimodal.py
    sniff_mime; payloads synthesized by doc_id % 7 with a nested
    zip/openxml prefix pair making longest-match load-bearing)."""
    from ddaugner_spark.operators import multimodal

    return multimodal.sniff_mime(multimodal.synthesize_media(_docs(spark, sf)))


def q_golden_record(spark, sf):
    """Survivorship merge (MDM golden record) over matched customer
    record clusters — base row + a newer partial variant (custkey%3)
    + a stale richer variant (custkey%5): latest-non-null name/nation,
    max balance, conflict counts, all in ONE cluster-keyed hash
    aggregate via packed lpad(ts)‖lpad(rid)‖value string argmax (no
    max_by NULL-semantics dependence) (operators/er.py golden_record)."""
    c = spark.read.parquet(f"{sf}/customer.parquet")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    base = c.select(
        F.col("c_custkey").alias("cluster_id"),
        (F.col("c_custkey") * 10).alias("rid"),
        F.lit(1).alias("ts"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").cast("long").alias("nationkey"),
        cents.alias("acctbal_c"),
    )
    dup = c.filter(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("cluster_id"),
        (F.col("c_custkey") * 10 + 1).alias("rid"),
        F.lit(2).alias("ts"),
        F.concat(F.col("c_name"), F.lit(" jr")).alias("name"),
        F.lit(None).cast("long").alias("nationkey"),
        F.lit(None).cast("long").alias("acctbal_c"),
    )
    stale = c.filter(F.col("c_custkey") % 5 == 0).select(
        F.col("c_custkey").alias("cluster_id"),
        (F.col("c_custkey") * 10 + 2).alias("rid"),
        F.lit(0).alias("ts"),
        F.lit(None).cast("string").alias("name"),
        F.col("c_nationkey").cast("long").alias("nationkey"),
        (cents + 500).alias("acctbal_c"),
    )
    return er.golden_record(base.unionByName(dup).unionByName(stale))


def q_type_confusion(spark, sf):
    """Span-level type-confusion matrix between the naive unigram
    tagger and the gold dictionary mentions: spans matched on POSITION
    so right-span-wrong-type shows as (gold→pred) mass, missed spans in
    the 'O' column, spurious in the 'O' row — one full-outer hash join
    on the position key, |tags|² output rows (operators/scoring.py
    type_confusion)."""
    d = _docs(spark, sf)
    return scoring.type_confusion(
        mentions.naive_mentions_df(d), mentions.mentions_df(d)
    )


def q_bitext_mine(spark, sf):
    """Cross-lingual parallel-pair mining (WikiMatrix-shape): docs of
    DIFFERENT langs sharing ≥2 rare-anchor tokens (df ≤ 12).  Anchors
    are injected deterministically (two block ids per doc: doc_id DIV 8
    and (doc_id+4) DIV 8 — upper-half docs of each block share both) so
    the synthetic corpus exercises the df-bounded inverted-index
    self-join: C(max_df, 2) fan-out per anchor, never corpus²
    (operators/overlap.py bitext_candidates)."""
    amp = _docs(spark, sf).withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" ent"),
            F.expr("doc_id DIV 8").cast("string"),
            F.lit(" ent"),
            F.expr("(doc_id + 4) DIV 8").cast("string"),
        ),
    )
    return overlap.bitext_candidates(amp, max_df=12, min_shared=2)


def q_itemsets3(spark, sf):
    """Frequent 3-itemsets over order baskets — the A-priori level-3
    pass above q_copurchase_lift's pair pass, with downward closure in
    the PLAN: candidates self-joined from frequent pairs and pruned by
    the (b,c) pair, baskets cut to frequent-pair items before the
    triple enumeration, candidate set broadcast into the semi-join
    (operators/events.py frequent_triples).  Oracle enumerates triples
    directly — A-priori must be a pure optimization."""
    li = (
        spark.read.parquet(f"{sf}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    return evops.frequent_triples(li, min_support=2)


def q_wl_refine(spark, sf):
    """1-Weisfeiler-Leman color refinement (2 rounds) over the
    co-mention graph: per-round label = md5(own ‖ sorted neighbor
    labels) — the structural-fingerprint canonical form for
    KG-neighborhood dedup; output is the refined color-class histogram.
    Each round is one edge⋈label equi-join + node-keyed aggregate (the
    HITS half-step shape) (operators/graph.py wl_refinement)."""
    m = mentions.mentions_df(_docs(spark, sf))
    return graph.wl_refinement(canonical.co_mention_edges(m), rounds=2)


def q_blocking_quality(spark, sf):
    """Pair completeness + reduction ratio of the ER blocking scheme
    (Christen 2012) measured against the deterministic typo-variant
    truth set: exact integer counts, one division each; candidates via
    the blocked equi-join, never a crossJoin (operators/er.py
    blocking_quality)."""
    m = mentions.mentions_df(_docs(spark, sf))
    return er.blocking_quality(er.distinct_surfaces(m), max_dist=2)


def q_b3_eval(spark, sf):
    """B-cubed cluster evaluation of the ER resolution against the
    amplifier's construction truth (Bagga & Baldwin 1998; Amigó 2009):
    gold = CC of origin↔variant truth edges, predicted = CC of the
    blocked candidate-pair graph, record-averaged P/R via the cell
    identity Σ I²/|C| with per-cell micro-quantized integer
    contributions (operators/er.py b3_cluster_eval).  The CLUSTER
    complement to the pairwise q_blocking_quality."""
    m = mentions.mentions_df(_docs(spark, sf))
    return er.b3_cluster_eval(
        er.distinct_surfaces(m), max_dist=2, stage_dir=_scratch("q_b3_")
    )


def q_muc_eval(spark, sf):
    """MUC link-based cluster evaluation of the ER resolution (Vilain
    et al. 1995): recall = Σ_g(|g|−p(g))/Σ_g(|g|−1) off the same
    contingency cells as q_b3_eval — the minimum-link-edit lens that
    ignores singletons, reported next to the record-averaged B³
    (operators/er.py muc_cluster_eval)."""
    m = mentions.mentions_df(_docs(spark, sf))
    return er.muc_cluster_eval(
        er.distinct_surfaces(m), max_dist=2, stage_dir=_scratch("q_muc_")
    )


def q_ari_eval(spark, sf):
    """Adjusted Rand Index of the ER resolution (Hubert & Arabie
    1985): chance-corrected pair-counting agreement over the shared
    contingency cells, every binomial an exact bigint (operators/er.py
    ari_cluster_eval) — the third cluster-evaluation lens after B³ and
    MUC."""
    m = mentions.mentions_df(_docs(spark, sf))
    return er.ari_cluster_eval(
        er.distinct_surfaces(m), max_dist=2, stage_dir=_scratch("q_ari_")
    )


def q_ewma(spark, sf):
    """Truncated exponentially weighted moving average (α = ½, 16
    terms) of hourly event counts per type: integer numerator
    Σ c·2^(15−j), ONE final division by 2^16 (the HITS normalize-once
    device) — no compounding float recurrence; dense grid, early ticks
    zero-padded (operators/temporal.py ewma_truncated)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return temporal.ewma_truncated(ev, bucket_s=3600, window=16)


def q_l_diversity(spark, sf):
    """l-diversity audit of the k-anonymity ladder's quasi-identifier
    classes (source × length decile), sensitive attribute = lang:
    distinct-sensitive count, dominant value via packed argmax, safe
    flag at l ≥ 3 — two exact-integer hash aggregates
    (operators/privacy.py l_diversity)."""
    return privacy.l_diversity(_docs(spark, sf), l_req=3)


def q_bpe_encode(spark, sf):
    """The production TOKENIZE step: train 5 BPE merges (q_bpe_train's
    loop), then emit every vocabulary word's final segmentation and
    symbol count — the per-word fertility the token-budget planner
    consumes.  Merges ride as literals; the encode fold is map-only
    over the word-type table (operators/bpe.py bpe_encode)."""
    from ddaugner_spark.operators import bpe

    return bpe.bpe_encode(
        textstats.vocab_df(_docs(spark, sf)),
        n_merges=5,
        stage_dir=_scratch("q_bpe_enc_"),
    )


def q_transitive_reduction(spark, sf):
    """Transitive reduction of a 200-node type DAG (the q_type_closure
    tree + redundant grandparent shortcuts on i%4 nodes): minimal edge
    set with the same reachability — closure by repeated squaring, one
    closure∘closure self-join, one anti-join; the shortcuts (and only
    they) must vanish (operators/graph.py transitive_reduction)."""
    d = (
        _docs(spark, sf)
        .select((F.col("doc_id") % 200).alias("i"))
        .distinct()
        .filter(F.col("i") >= 1)
    )
    t = F.concat(F.lit("t"), F.col("i").cast("string"))
    parent = F.expr("(i - 1) DIV 3")
    tree = d.select(
        t.alias("src"),
        F.concat(F.lit("t"), parent.cast("string")).alias("dst"),
    )
    gp = F.expr("((i - 1) DIV 3 - 1) DIV 3")
    short = d.filter((F.col("i") % 4 == 0) & (parent >= 1)).select(
        t.alias("src"), F.concat(F.lit("t"), gp.cast("string")).alias("dst")
    )
    return graph.transitive_reduction(tree.unionByName(short), max_depth=8)


def q_contrastive_pairs(spark, sf):
    """Contrastive pair mining over the RAG chunk table: positive =
    successor chunk of the same doc (self-equi-join on the chunk key),
    negative = same chunk position of the next doc (one lead window per
    chunk position) — deterministic in-batch negatives that survive
    repartition/resume (operators/traindata.py contrastive_pairs)."""
    from ddaugner_spark.operators import traindata

    return traindata.contrastive_pairs(_docs(spark, sf), size=64, stride=32)


def q_group_median(spark, sf):
    """EXACT per-type order statistics (median, p90) over value cents —
    the ground truth the mergeable quantile sketch is judged against:
    median·2 = os(⌈n/2⌉)+os(⌈(n+1)/2⌉) stays integer, the cumulative
    window runs on the VALUE-FREQUENCY dimension, one conditional-min
    aggregate reads off all order statistics (operators/stats.py
    group_order_stats)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return stats.group_order_stats(ev)


def q_seasonal_naive(spark, sf):
    """Forecast-baseline backtest on hourly event volume: seasonal
    naive (t−24h) vs persistence (t−1h) on the dense grid, exact
    integer absolute-error sums over the common eval window, one
    division per MAE (operators/temporal.py seasonal_naive_backtest)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return temporal.seasonal_naive_backtest(ev, bucket_s=3600, season=24)


def q_stream_ohlc(spark, sf):
    """Streaming OHLC: the packed-key candlestick aggregate run as a
    watermarked windowed STREAMING aggregation — min/max of the packed
    key are decomposable, so per-(window, series) state is one key pair
    + four scalars; append mode emits exactly the windows the final
    watermark closed, which the batch oracle replicates
    (streaming/incremental.py incremental_ohlc)."""
    from ddaugner_spark.streaming import incremental_ohlc

    ck = _scratch("q_stream_ohlc_")
    return incremental_ohlc(
        spark, f"{sf}/events.parquet", ck, window="1 hour", watermark="2 hours"
    )


def q_vocab_growth(spark, sf):
    """Vocabulary saturation curve by domain (Heaps-law readout): new
    token types contributed by each source in index order + running
    vocabulary — per token one min(src_idx) aggregate, then everything
    is source-dimension-sized so the cumulative window sorts tens of
    rows, never the corpus (operators/textstats.py vocab_growth)."""
    return textstats.vocab_growth(_docs(spark, sf))


def q_ngram_novelty(spark, sf):
    """Memorization-rate readout (Lee'22 flavor): fraction of the
    odd-half's distinct 5-gram shingles unseen in the even half, per
    lang — train side collapsed to a distinct shingle dimension, one
    left join, one division of exact counts (operators/textstats.py
    ngram_novelty)."""
    return textstats.ngram_novelty(_docs(spark, sf), k=5)


def q_kg_optional(spark, sf):
    """SPARQL OPTIONAL + FILTER NOT EXISTS over the constructed KG:
    ?x group ?y OPTIONAL {?x filter ?z} NOT EXISTS {?x order ?w} —
    (this predicate assignment exercises BOTH optional branches: some
    bindings carry z, some a NULL) —
    the optional leg pre-aggregated per subject (hub discipline), NOT
    EXISTS as a left-anti join, all legs sharing the subject shuffle
    key (operators/kgquery.py optional_pattern)."""
    from ddaugner_spark.operators import kgquery

    return kgquery.optional_pattern(
        triples.triples_df(_docs(spark, sf)), "group", "filter", "order"
    )


def q_acf(spark, sf):
    """Autocorrelation function of the hourly event-count series at
    lags 1..6 — the seasonality readout run before picking
    q_seasonal_naive's season length: one corpus bucket-count shuffle,
    then spine/mean/denominator/lag-joins all on the bucket-sized table
    (operators/temporal.py autocorrelation)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return temporal.autocorrelation(ev, bucket_s=3600, max_lag=6)


def q_pacf(spark, sf):
    """Partial autocorrelation at lags 1..6 by the Durbin–Levinson
    recursion UNROLLED over the pivoted q_acf output — the AR-order
    identification companion to q_acf (ACF: how much memory; PACF: how
    many AR terms); inputs are the rounded r's so both engines run an
    identical fixed float chain, SQL twin generated with the same
    associativity (operators/temporal.py pacf_from_acf)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return temporal.pacf_from_acf(
        temporal.autocorrelation(ev, bucket_s=3600, max_lag=6), max_lag=6
    )


def q_lorenz(spark, sf):
    """Lorenz-curve decile readout of document length — the
    concentration profile behind q_gini's single number ("the bottom
    d/10 of documents hold this share of the bytes"); integer window
    sums over the round-tripped distinct-value grid, decile cutoffs by
    exact cross-multiplication, one division per row
    (operators/stats.py lorenz_deciles)."""
    return stats.lorenz_deciles(
        _docs(spark, sf), "n_chars", stage_dir=_scratch("q_lorenz_")
    )


def q_spam_mass(spark, sf):
    """Spam-mass estimation (Gyöngyi VLDB'04): the fraction of each
    entity's PageRank NOT attributable to the trusted seed set —
    sm = (PR − TR)/PR with TR = the q_ppr seed-personalized rank and
    PR = q_pagerank, composed from their ROUNDED outputs so the
    composition inherits both queries' bit parity; high spam mass =
    rank earned from nowhere trustworthy, the classic link-farm
    flag."""
    pr = q_pagerank(spark, sf).select(
        "entity", F.col("rank").alias("pr")
    )
    tr = q_ppr(spark, sf).select("entity", F.col("rank").alias("tr"))
    j = pr.join(tr, "entity", "left").select(
        "entity",
        "pr",
        F.coalesce("tr", F.lit(0.0)).alias("tr"),
    )
    sm = F.when(
        F.col("pr") > 0,
        (F.col("pr") - F.col("tr")) / F.col("pr"),
    ).otherwise(F.lit(0.0))
    return j.withColumn("spam_mass", F.round(sm, 6))


def q_ar2(spark, sf):
    """Closed-form Yule–Walker AR(2) fit from the q_acf lags — the
    two-parameter memory model q_pacf's order check lands on, with the
    residual-variance ratio 1 − φ₁r₁ − φ₂r₂; fixed float tree over the
    rounded r's, no iterative estimation
    (operators/temporal.py yule_walker_ar2)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return temporal.yule_walker_ar2(
        temporal.autocorrelation(ev, bucket_s=3600, max_lag=6)
    )


def q_capture_recapture(spark, sf):
    """Chapman-corrected Lincoln–Petersen capture–recapture estimate
    of corpus size from two independent deterministic 50%% crawl
    samples (md5-of-identity membership — the repo's determinism
    device): the "how much web are we NOT seeing" coverage estimator,
    with true_n reported so the estimator's error IS the readout
    (operators/crawl.py capture_recapture)."""
    return crawl.capture_recapture(_docs(spark, sf))


def q_ljung_box(spark, sf):
    """Ljung–Box portmanteau Q over the q_acf lags — the white-noise
    diagnostic closing the Box–Jenkins triple (q_acf identifies,
    q_pacf orders, this tests); per-lag r²/(n−k) terms quantized at
    10⁹ and integer-summed, Q one final multiply
    (operators/temporal.py ljung_box)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return temporal.ljung_box(
        temporal.autocorrelation(ev, bucket_s=3600, max_lag=6)
    )


def q_holt_winters(spark, sf):
    """Holt–Winters additive triple smoothing of the daily-mean
    revenue series, weekly season — the level+trend+seasonality
    forecaster completing the family (q_ewma trendless, q_holt
    seasonless, q_seasonal_naive season-only): exact fixed-point
    warm-up init, the holt fold device with SEVEN explicit positional
    seasonal slots (no lambda-with-index anywhere — the recursive-CTE
    twin replays the slot CASEs verbatim)
    (operators/events.py holt_winters)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return evops.holt_winters(ev, season=7)


def q_croston(spark, sf):
    """Croston's intermittent-demand forecast of big purchases
    (value ≥ 200 — a few demand days in the month): separate SES of
    nonzero demand sizes and exact-integer inter-demand intervals,
    forecast = z/p updated only on demand days; α=½ exact binary, the
    holt fold device with a recursive-CTE twin
    (operators/events.py croston_forecast)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return evops.croston_forecast(
        ev, demand_type="purchase", min_value=200.0
    )


def q_hurst(spark, sf):
    """Hurst exponent by rescaled-range analysis of the daily-mean
    revenue series (windows 5/10/15/30 days): within-window R/S is
    EXACT-integer-cored (n·cumdev and n²S² are BIGINTs, one sqrt per
    window), per-size means quantized at 10⁹, and the log-log fit a
    ratio of exact micro-log moments — the long-memory persistence
    readout next to q_acf/q_mann_kendall
    (operators/temporal.py hurst_rs)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return temporal.hurst_rs(ev)


def q_rate_test(spark, sf):
    """Conditional two-sample Poisson rate test of the error-event
    rate across the mid-month split — k₁|K ~ Bin(K, ½) under equal
    exposure, z = (k₁−k₂)/√K: two exact BIGINT counts, one sqrt, the
    nuisance baseline conditioned away entirely
    (operators/events.py poisson_rate_test)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return evops.poisson_rate_test(ev, "error", "2024-01-16")


def q_ltv(spark, sf):
    """Weekly-cohort cumulative lifetime value — the money-side
    companion to q_retention (who came back) and q_sbg (who will):
    exact integer cents per (cohort, offset) cell, INTEGER cumulative
    window sums, one division to dollars-per-member
    (operators/events.py cohort_ltv)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return evops.cohort_ltv(ev)


def q_sbg(spark, sf):
    """Shifted-beta-geometric retention projection (Fader–Hardie 2007)
    fit closed-form on the earliest cohort's first two retention
    ratios and VALIDATED against the observed weeks 3-4 the fit never
    saw — the heterogeneity-aware churn model whose rising retention
    ratios naive geometric extrapolation misses; censoring handled by
    construction (only the fully-observed first cohort enters)
    (operators/events.py sbg_retention — next to q_retention's raw
    cohort table and q_kaplan_meier's nonparametric curve)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return evops.sbg_retention(ev)


def q_hhi(spark, sf):
    """Herfindahl–Hirschman concentration of documents across sources
    + the Laakso–Taagepera effective source count 1/HHI — "how many
    sources is this corpus REALLY drawing from"; HHI·N² = Σc² is an
    exact BIGINT, one division, no float sums
    (operators/stats.py hhi_concentration — the single-number screen
    next to q_theil/q_lorenz/q_host_skew)."""
    return stats.hhi_concentration(_docs(spark, sf), "source")


def q_theil(spark, sf):
    """Theil-T inequality of document length with the exact
    between/within source decomposition (the additively-decomposable
    index Gini is not): per-source rows + a __total__ row carrying
    T_total/T_between; every ln term micro-quantized at 10⁹ so all
    folds are integer sums (operators/stats.py theil_decomposition —
    the concentration diagnosis next to q_gini and q_host_skew)."""
    return stats.theil_decomposition(_docs(spark, sf), "source", "n_chars")


def q_t_closeness(spark, sf):
    """t-closeness audit (ordered-EMD form) of per-event-type value
    distributions vs the table-wide marginal — one (type, bucket) hash
    aggregate, then spine/cumulative windows on the class-count table
    (operators/privacy.py t_closeness)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return privacy.t_closeness(ev, t=0.2)


def q_naive_bayes(spark, sf):
    """Multinomial naive-Bayes language classification, even-doc_id
    half trains, odd half scores; Laplace-smoothed exact-integer count
    arithmetic inside the ln, rounded before the argmax
    (operators/textstats.py naive_bayes_langid)."""
    return textstats.naive_bayes_langid(_docs(spark, sf))


def q_ndcg(spark, sf):
    """nDCG@10 of the exact-cosine retriever with label-match relevance
    — integer-quantized dots (exact ranking), position-indexed log₂
    constants for the gain sums (operators/similarity.py ndcg_at_k)."""
    return similarity.ndcg_at_k(_emb(spark, sf), QUERY_IDS, k=10)


def q_product_profit(spark, sf):
    """TPC-H Q9 shape (profit by nation × order-year for a part family):
    lineitem joined to the filtered part dimension and the
    supplier→nation chain — every dimension BROADCAST into the fact
    scan (the filter on p_name prunes part before the join), profit =
    revenue − 0.6·retailprice·qty as the supplycost proxy (this corpus
    has no partsupp table), ONE (nation, year) shuffle after map-side
    partial aggregation.  The literal form writes the same joins as a
    5-table WHERE list."""
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    part = spark.read.parquet(f"{sf}/part.parquet").filter(
        F.col("p_name").startswith("red")
    )
    supp = spark.read.parquet(f"{sf}/supplier.parquet")
    nat = spark.read.parquet(f"{sf}/nation.parquet")
    sn = supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey).select(
        "s_suppkey", "n_name"
    )
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(
        0.6
    ) * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(sn), li.l_suppkey == F.col("s_suppkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("long").alias("o_year"),
        )
        .agg(F.round(F.sum(profit), 4).alias("sum_profit"))
    )


def q_disjunctive_revenue(spark, sf):
    """TPC-H Q19 shape (disjunctive brand/size/quantity predicates):
    revenue over three OR-ed (brand, size-range, qty-range) clauses.
    Spark-first: part is pre-filtered to the brand UNION (partition-
    prunable conjunct) and BROADCAST; the residual disjunction runs on
    the joined row where all columns are local — one scan, no shuffle
    beyond the final 1-row aggregate.  The literal form is the classic
    three-way OR of AND-blocks."""
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    part = spark.read.parquet(f"{sf}/part.parquet").filter(
        F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#34")
    )
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    clause = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    # coalesce: the empty-match aggregate must agree across engines
    # (Spark NULL vs DuckDB-through-pandas NaN at tiny scale factors)
    return j.filter(clause).agg(
        F.round(
            F.coalesce(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                F.lit(0.0),
            ),
            4,
        ).alias("revenue"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )


#: Milli-weight screen lexicon (corpus-native words; integer weights so
#: the per-doc fold is order-free and engine-exact).
_LEXICON = {
    "fast": 1000,
    "vector": 500,
    "merge": 250,
    "slow": -1000,
    "spill": -500,
    "skew": -750,
}


def q_fd_profile(spark, sf):
    """Approximate functional-dependency profile over events: one exact
    pair (event_id → event_type, the key) and the two approximate
    orientations of (user_id, event_type) with their g3 kept-fractions
    — per pair one (det, dep) hash aggregate + det-sized fold
    (operators/stats.py fd_profile)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return stats.fd_profile(
        ev,
        [
            ("event_id", "event_type"),
            ("user_id", "event_type"),
            ("event_type", "user_id"),
        ],
    )


def q_lexicon_screen(spark, sf):
    """Weighted-lexicon sentiment/quality screen of every document: the
    lexicon is a MapType literal probed inside one fold over the token
    array — map-only, no explode, no join
    (operators/textstats.py lexicon_screen)."""
    return textstats.lexicon_screen(_docs(spark, sf), _LEXICON)


def q_bootstrap_ci(spark, sf):
    """Deterministic Poisson-bootstrap 90% CI for the mean event value:
    64 replicates, weights from the md5(id|b) uniform through the
    Poisson(1) inverse CDF, integer-cents partial sums — rows×64
    map-side explode into one 64-way aggregate
    (operators/stats.py bootstrap_mean_ci)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return stats.bootstrap_mean_ci(
        ev, "event_id", "value", n_boot=64, alpha_pm=100
    )


def q_winsorize(spark, sf):
    """Per-event-type winsorized mean at the exact p05/p95 order
    statistics — frequency-table cumulative device for the bounds,
    broadcast back, integer cents throughout
    (operators/stats.py winsorize)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return stats.winsorize(ev, "event_type", "value", lo_pm=50, hi_pm=950)


def q_ind_profile(spark, sf):
    """Inclusion-dependency (FK-candidate) discovery across the TPC-H
    dimension chain: two exact INDs (orders→customer, lineitem→orders),
    the partial reverse (customers without orders), and the nation FK —
    per pair two distinct-value aggregates + one distinct-sized join
    (operators/stats.py ind_profile)."""
    ords = spark.read.parquet(f"{sf}/orders.parquet")
    cust = spark.read.parquet(f"{sf}/customer.parquet")
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    nat = spark.read.parquet(f"{sf}/nation.parquet")
    return stats.ind_profile(
        [
            (ords, "o_custkey", "orders.o_custkey",
             cust, "c_custkey", "customer.c_custkey"),
            (cust, "c_custkey", "customer.c_custkey",
             ords, "o_custkey", "orders.o_custkey"),
            (li, "l_orderkey", "lineitem.l_orderkey",
             ords, "o_orderkey", "orders.o_orderkey"),
            (cust, "c_nationkey", "customer.c_nationkey",
             nat, "n_nationkey", "nation.n_nationkey"),
        ]
    )


def q_benford(spark, sf):
    """Benford first-digit audit of event values: digit off the
    integer-cents string (exact, no log10 at query time), expected
    probabilities injected as Python-computed literals, per-digit χ²
    contributions (operators/stats.py benford_digits)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return stats.benford_digits(ev, "value")


def q_dp_histogram(spark, sf):
    """ε-DP event-type histogram release with deterministic
    Laplace(1/ε) pseudo-noise from the md5(salt|group) uniform —
    rounded before the integer post-processing so both engines release
    the identical counts (operators/privacy.py dp_histogram)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return privacy.dp_histogram(ev, "event_type", epsilon=1.0)


def q_paired_bootstrap(spark, sf):
    """Paired bootstrap significance test (Koehn-style, doc-level
    Poisson resamples) between the unigram tagger and its PER-only
    restriction, against the dictionary gold — every replicate verdict
    decided by exact integer cross-multiplication
    (operators/scoring.py paired_bootstrap_f1)."""
    d = _docs(spark, sf)
    a = mentions.naive_mentions_df(d)
    return scoring.paired_bootstrap_f1(
        a, a.filter(F.col("tag") == "PER"), mentions.mentions_df(d)
    )


def q_mann_whitney(spark, sf):
    """Mann-Whitney rank-sum test between click and error event values
    — doubled tie-averaged ranks off the combined value-frequency
    table, exact-integer 2·U₁, tie-corrected z
    (operators/stats.py mann_whitney_u)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return stats.mann_whitney_u(ev, "event_type", "value", "click", "error")


def q_kaplan_meier(spark, sf):
    """Kaplan-Meier time-to-first-big-purchase survival curve with
    right-censoring at each user's last event — exact integer-hour
    durations, product-limit estimator on the distinct-duration table
    (operators/events.py kaplan_meier)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return evops.kaplan_meier(ev, death_type="purchase", min_value=400.0)


def q_sax(spark, sf):
    """SAX symbolization of each event type's daily-mean revenue
    series (PAA over 3-day segments, per-type z-normalization,
    Gaussian-quartile breakpoints → 4-letter alphabet) — the
    discretization under motif/anomaly mining, at 1/3 the data rate;
    fixed-point DIV means so the z moments are exact BIGINTs,
    breakpoints are literals never computed quantiles
    (operators/events.py sax_symbols)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return evops.sax_symbols(ev, window_days=3)


def q_fightin_words(spark, sf):
    """Monroe "Fightin' Words" token log-odds en-vs-zh with the
    corpus-frequency Dirichlet prior, z-scored — the statistically
    grounded corpus comparison (shrinks exactly the rare words raw
    log-odds overweight), token-level companion to q_burrows_delta;
    per-token fixed float chains, NO cross-token reduction anywhere
    (operators/textstats.py fightin_words)."""
    return textstats.fightin_words(
        _docs(spark, sf), "lang", "en", "zh", alpha0=100.0, min_count=5
    )


def q_burrows_delta(spark, sf):
    """Burrows' Delta stylometric distance between sources — z-scored
    top-30 word frequencies, Δ = mean |z_a − z_b| per unordered source
    pair: the authorship/template-farm forensic next to q_jsd_drift
    (Delta weights marker words equally so STYLE dominates; JSD
    weights by mass so topic does).  Frequencies micro-quantized at
    10⁹ so cross-group moments are exact BIGINTs; per-pair terms
    quantized at 10⁶ and integer-summed
    (operators/textstats.py burrows_delta)."""
    return textstats.burrows_delta(
        _docs(spark, sf), "source", top_n=30,
        stage_dir=_scratch("q_delta_"),
    )


def q_shapley(spark, sf):
    """Data-driven (Shapley-value) channel attribution over
    (click, view, signup) → big-purchase conversion — the
    game-theoretic credit split replacing q_attribution's U-shaped
    heuristic: coalition value = conversion rate of each EXACT
    touched-channel set, credits = average marginal contributions on a
    k·2^(k−1)-row literal spine, each weighted marginal micro-
    quantized at 10⁹ so the per-channel Σ is an integer sum;
    efficiency Σφ = v(full) − v(∅) pinned in tests
    (operators/events.py shapley_attribution)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return evops.shapley_attribution(
        ev, conv_type="purchase", channels=("click", "view", "signup"),
        min_value=400.0,
    )


def q_nelson_aalen(spark, sf):
    """Nelson–Aalen cumulative hazard over the SAME at-risk table as
    q_kaplan_meier (shared _km_risk_table derivation) — hazards add
    across competing risks where survival products can't; per-time
    terms one exact-BIGINT division each, cumulative Σ in the fixed
    ORDER BY t frame (operators/events.py nelson_aalen)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return evops.nelson_aalen(ev, death_type="purchase", min_value=400.0)


def q_powerlaw(spark, sf):
    """Power-law exponent MLE of the co-mention degree distribution
    (Clauset–Shalizi–Newman): α̂ = 1 + n/Σln(d/d_min) with each
    distinct degree's ln micro-quantized once (the zipf device) and
    count-weighted — the Σ is an exact integer sum; the scale-free
    heaviness readout next to q_degree_dist's histogram
    (operators/graph.py powerlaw_alpha)."""
    m = mentions.mentions_df(_docs(spark, sf))
    return graph.powerlaw_alpha(canonical.co_mention_edges(m), d_min=2)


def q_lift(spark, sf):
    """Cumulative-gains / lift table of the capped-length quality
    score vs the lang=='en' label, best-bin-first — gain and lift one
    exact BIGINT cross-product division each, integer cumulative
    window sums over the bin spine shared with q_calibration/q_brier
    (operators/traindata.py lift_table)."""
    from ddaugner_spark.operators import traindata

    return traindata.lift_table(_docs(spark, sf), n_bins=10)


def q_skew_report(spark, sf):
    """Pre-flight shuffle-skew diagnostic for user_id as a join key: 32
    virtual reducers off the md5 device, per-bucket row/key counts and
    the max/mean imbalance factor (operators/stats.py skew_report)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return stats.skew_report(ev, "user_id", n_buckets=32)


def q_fs_weights(spark, sf):
    """Fellegi-Sunter weight estimation over the ER candidate pairs of
    the typo-amplified surface vocabulary: label = the typo-generator
    relationship, features = (dist ≤ 1, same last char, equal length);
    one aggregate pass over the pair table
    (operators/er.py fellegi_sunter_weights)."""
    d = _docs(spark, sf)
    surf = er.with_typo_surfaces(
        er.distinct_surfaces(mentions.mentions_df(d))
    )
    pairs = er.er_candidate_pairs(surf, max_dist=2)
    d2a = F.concat(F.substring("a", 1, 1), F.expr("substring(a, 3)"))
    d2b = F.concat(F.substring("b", 1, 1), F.expr("substring(b, 3)"))
    lab = (
        pairs.withColumn(
            "is_match", (F.col("b") == d2a) | (F.col("a") == d2b)
        )
        .withColumn("dist1", F.col("dist") <= 1)
        .withColumn("same_last", F.expr("right(a, 1) = right(b, 1)"))
        .withColumn("len_eq", F.length("a") == F.length("b"))
    )
    return er.fellegi_sunter_weights(
        lab, "is_match", ["dist1", "same_last", "len_eq"]
    )


def q_fs_em(spark, sf):
    """UNSUPERVISED Fellegi–Sunter parameter learning by EM (Winkler
    1988) over the SAME candidate pairs and features as q_fs_weights —
    but with the typo-generator label withheld: m/u/prevalence learned
    from the agreement-pattern distribution alone, 2
    conditional-independence EM steps, every M-step Σ micro-quantized
    into integer sums so both engines iterate identical states
    (operators/er.py fs_em_weights)."""
    d = _docs(spark, sf)
    surf = er.with_typo_surfaces(
        er.distinct_surfaces(mentions.mentions_df(d))
    )
    pairs = (
        er.er_candidate_pairs(surf, max_dist=2)
        .withColumn("dist1", F.col("dist") <= 1)
        .withColumn("same_last", F.expr("right(a, 1) = right(b, 1)"))
        .withColumn("len_eq", F.length("a") == F.length("b"))
    )
    return er.fs_em_weights(
        pairs, ["dist1", "same_last", "len_eq"], iters=2,
        stage_dir=_scratch("q_fsem_"),
    )


def q_kleene_path(spark, sf):
    """Bounded SPARQL property path ?a filter/group*/order ?b over the
    constructed KG (star ≤ 3): unrolled frontier extensions with a
    DISTINCT per hop, min star depth per pair; recursive-CTE twin
    (operators/kgquery.py kleene_path)."""
    from ddaugner_spark.operators import kgquery

    return kgquery.kleene_path(
        triples.triples_df(_docs(spark, sf)), "filter", "group", "order"
    )


def q_link_audit(spark, sf):
    """Crawl link-integrity audit over the synthetic link crawl:
    resolved / host-mismatch / dangling links plus orphan pages — one
    pass over the link table, distinct-sized dimension joins
    (operators/crawl.py link_audit)."""
    pages = _link_pages(_docs(spark, sf), _src_anchor_tag)
    return crawl.link_audit(pages, crawl.extract_links(pages))


def q_attribution(spark, sf):
    """U-shaped multi-touch attribution of purchase value to preceding
    click/view touches within 72 h (40/20/40 position credit, integer
    micro-shares × integer cents so channel sums are exact)
    (operators/events.py multi_touch_attribution)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return evops.multi_touch_attribution(ev)


def q_fleiss_kappa(spark, sf):
    """Fleiss' kappa across THREE deterministic token-level taggers
    (full unigram, PER-only, LOC-only) — pure integer aggregates
    (Σn², category marginals), one (item, category) hash agg
    (operators/scoring.py fleiss_kappa)."""
    t = mentions.with_tokens(_docs(spark, sf)).selectExpr(
        "doc_id", "posexplode(tokens) as (pos, tok)"
    )
    per = F.col("tok").isin(config.PER_WORDS)
    loc = F.col("tok").isin(config.LOC_WORDS)
    full = t.select(
        "doc_id",
        "pos",
        F.when(per, "PER").when(loc, "LOC").otherwise("O").alias("cat"),
    )
    only_p = t.select(
        "doc_id", "pos", F.when(per, "PER").otherwise("O").alias("cat")
    )
    only_l = t.select(
        "doc_id", "pos", F.when(loc, "LOC").otherwise("O").alias("cat")
    )
    return scoring.fleiss_kappa(
        full.unionAll(only_p).unionAll(only_l), ["doc_id", "pos"], "cat"
    )


def q_rich_club(spark, sf):
    """Rich-club coefficients of the co-mention graph at degree
    thresholds 1/2/4/8 — the diagnostic that MEASURES the hub-club
    structure the pipeline's skew handling exists for; all thresholds
    in one pass over the edge table
    (operators/graph.py rich_club)."""
    m = mentions.mentions_df(_docs(spark, sf))
    return graph.rich_club(canonical.co_mention_edges(m), ks=(1, 2, 4, 8))


def q_ql_rank(spark, sf):
    """Query-likelihood Dirichlet-smoothed ranking (Zhai/Lafferty) for
    a 3-term query — rank decided by the ROUNDED score with doc_id
    tiebreak so both engines agree (operators/retrieval.py
    ql_dirichlet)."""
    return retrieval.ql_dirichlet(
        _docs(spark, sf), ["spark", "window", "merge"], mu=2000, k=10
    )


def q_lateness(spark, sf):
    """Watermark-lateness audit: running event-time max over the
    arrival (event_id) order, exact integer-micro lateness, dropped
    mass at a 1 h watermark per event type
    (operators/temporal.py lateness_audit)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return temporal.lateness_audit(ev, watermark_s=3600)


def q_pca_top(spark, sf):
    """Dominant principal direction of the embedding cloud by INTEGER
    power iteration — Gram matrix of milli-quantized vectors, vector
    re-quantized to integers after every iteration so both engines
    walk the identical integer sequence; Rayleigh eigenvalue
    (operators/embedding.py power_iteration_pca)."""
    from ddaugner_spark.operators import embedding

    return embedding.power_iteration_pca(_emb(spark, sf), iters=3)


def q_theil_sen(spark, sf):
    """Theil-Sen robust trend of the hourly event-count series —
    all-pairs on the spine-filled BUCKET table (quadratic in hours,
    never in events), medians by the order-statistic window with full
    tiebreak (operators/regression.py theil_sen_hourly)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return regression.theil_sen_hourly(ev)


def q_avg_precision(spark, sf):
    """Average precision of the length score against the lang=='en'
    label under the deterministic (score desc, doc_id) order — the
    PR-curve companion to q_auc
    (operators/traindata.py average_precision)."""
    from ddaugner_spark.operators import traindata

    return traindata.average_precision(
        _docs(spark, sf),
        label=(F.col("lang") == "en"),
        score=F.col("n_chars").cast("long"),
        id_col="doc_id",
    )


def q_conversion_lag(spark, sf):
    """Exact signup→purchase conversion-lag order statistics (median
    half-point device + p90) over whole hours; one user-keyed
    aggregate then the value-frequency machinery
    (operators/events.py conversion_lag)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return evops.conversion_lag(ev)


def q_er_incremental(spark, sf):
    """Incremental ER maintenance: base map from the 90% old-doc
    corpus, new candidate edges from the crawl increment (full-corpus
    pairs minus old pairs), then star(touched components) ∪ new edges
    re-resolved and unioned with the untouched majority.  The oracle
    is the FULL BATCH recompute — the gate proves incremental ==
    batch (operators/er.py er_incremental)."""
    from ddaugner_spark.operators.canonical import connected_components

    d = _docs(spark, sf)

    def _edges(dd):
        surf = er.distinct_surfaces(mentions.mentions_df(dd))
        pairs = er.er_candidate_pairs(
            er.with_typo_surfaces(surf), max_dist=2
        )
        return pairs.select(
            F.concat_ws("|", "tag", "a").alias("a"),
            F.concat_ws("|", "tag", "b").alias("b"),
        )

    e_old = _edges(d.filter(F.col("doc_id") % 10 != 0))
    new_edges = _edges(d).subtract(e_old)
    old_assign = connected_components(
        e_old, stage_dir=_scratch("q_er_inc_old_")
    )
    inc = er.er_incremental(
        old_assign, new_edges, stage_dir=_scratch("q_er_inc_")
    )
    sp = F.split(F.col("entity"), r"\|", 2)
    cp = F.split(F.col("component"), r"\|", 2)
    return inc.select(
        sp.getItem(0).alias("tag"),
        sp.getItem(1).alias("surface"),
        cp.getItem(1).alias("canonical"),
        (F.col("entity") != F.col("component")).alias("is_alias"),
    )


def q_item_recs(spark, sf):
    """Item-item CF recommendations over the (user, props.k) graph:
    squared-cosine similarities rounded ONCE per pair to integer
    milli-units, user scores exact integer sums, top-3 unseen items
    per user (operators/events.py item_recs)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return evops.item_recs(ev, k_top=3)


def q_slope_one(spark, sf):
    """Weighted Slope One CF (Lemire 2005) over (user, event_type)
    mean-cents ratings, evaluated in-sample as per-type MAE — the
    baseline every fancier recommender must beat (q_item_recs is the
    cosine top-k next to it).  Integer end-to-end: fixed-point DIV
    ratings, exact BIGINT deviation numerators, the weighted
    prediction collapsed to one integer/integer division, per-row
    errors micro-quantized before the Σ
    (operators/events.py slope_one_eval)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return evops.slope_one_eval(ev)


def q_pct_rank(spark, sf):
    """Per-event-type mean-rank percentile normalization of values —
    doubled tie-averaged ranks off the value-frequency table, one
    division per row (operators/stats.py percentile_rank)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return stats.percentile_rank(ev, "event_type", "value", "event_id")


def q_cluster_sizes(spark, sf):
    """Duplicate-cluster size distribution of the verified MinHash-LSH
    pair graph — the dedup-QA readout that catches a boilerplate
    shingle gluing the corpus into one giant cluster before keep-one
    deletes it (operators/dedup.py cluster_size_histogram)."""
    from ddaugner_spark.operators.canonical import connected_components

    corpus = dedup.with_dup_corpus(_docs(spark, sf))
    pairs = dedup.minhash_near_duplicates(corpus).select("a", "b")
    edges = pairs.select(
        F.lpad(F.col("a").cast("string"), 12, "0").alias("a"),
        F.lpad(F.col("b").cast("string"), 12, "0").alias("b"),
    )
    comps = connected_components(
        edges, stage_dir=_scratch("q_cluster_sizes_")
    )
    return dedup.cluster_size_histogram(comps)


def q_revote(spark, sf):
    """Reliability-weighted label aggregation (one Dawid-Skene
    iteration) across the three deterministic taggers: per-rater
    Laplace agreement with the raw majority as integer milli-weights,
    weighted re-vote with full tiebreaks — no float compare decides a
    label (operators/scoring.py weighted_revote)."""
    t = mentions.with_tokens(_docs(spark, sf)).selectExpr(
        "doc_id", "posexplode(tokens) as (pos, tok)"
    )
    per = F.col("tok").isin(config.PER_WORDS)
    loc = F.col("tok").isin(config.LOC_WORDS)
    votes = (
        t.select(
            "doc_id",
            "pos",
            F.lit("full").alias("rater"),
            F.when(per, "PER").when(loc, "LOC").otherwise("O").alias("lab"),
        )
        .unionAll(
            t.select(
                "doc_id",
                "pos",
                F.lit("per_only").alias("rater"),
                F.when(per, "PER").otherwise("O").alias("lab"),
            )
        )
        .unionAll(
            t.select(
                "doc_id",
                "pos",
                F.lit("loc_only").alias("rater"),
                F.when(loc, "LOC").otherwise("O").alias("lab"),
            )
        )
    )
    return scoring.weighted_revote(votes, ["doc_id", "pos"], "rater", "lab")


def q_topk_others(spark, sf):
    """Top-3 sources per language + OTHER rollup — bounded output
    cardinality no matter the key vocabulary; rank window on the
    aggregated table only (operators/stats.py topk_others)."""
    return stats.topk_others(_docs(spark, sf), "lang", "source", k=3)


def q_cluster_split(spark, sf):
    """Near-dup-cluster-aware train/eval split over the dup-amplified
    corpus: the md5 split draw is taken on the CANONICAL cluster id,
    so duplicate clusters can never straddle the train/eval fence —
    leakage prevented by construction, not audited after the fact
    (operators/traindata.py cluster_aware_split)."""
    from ddaugner_spark.operators import traindata
    from ddaugner_spark.operators.canonical import connected_components

    corpus = dedup.with_dup_corpus(_docs(spark, sf))
    pairs = dedup.minhash_near_duplicates(corpus).select("a", "b")
    edges = pairs.select(
        F.lpad(F.col("a").cast("string"), 12, "0").alias("a"),
        F.lpad(F.col("b").cast("string"), 12, "0").alias("b"),
    )
    comps = connected_components(
        edges, stage_dir=_scratch("q_cluster_split_")
    )
    return traindata.cluster_aware_split(corpus, comps)


def q_qnorm(spark, sf):
    """Cross-group quantile normalization of event values onto the
    pooled distribution — doubled-rank percentiles, pooled order
    statistics read off by the sort-merge probe device (no range
    join), exact integers throughout
    (operators/stats.py quantile_normalize)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return stats.quantile_normalize(ev, "event_type", "value", "event_id")


def q_hub_robustness(spark, sf):
    """Hub-removal robustness of the co-mention graph: component
    census before and after deleting the top-3 degree hubs — measures
    how load-bearing the skew-handled hub entities are
    (operators/graph.py hub_robustness)."""
    m = mentions.mentions_df(_docs(spark, sf))
    return graph.hub_robustness(
        canonical.co_mention_edges(m), k=3,
        stage_dir=_scratch("q_hub_rob_"),
    )


def q_neighborhood_fn(spark, sf):
    """HyperBall-style neighborhood function of the co-mention graph
    (Boldi & Vigna WWW'13, with the repo's deterministic KMV sketches
    in place of HLL counters): per radius r = 0..4, the estimated
    number of (node, reachable-node) pairs within r hops — the
    effective-diameter statistic.  One node-keyed shuffle per round;
    the oracle replays the exact ball sets (bounded recursive CTE) and
    takes the k smallest md5 hashes, equal by the KMV union algebra
    (operators/graph.py neighborhood_function)."""
    m = mentions.mentions_df(_docs(spark, sf))
    return graph.neighborhood_function(
        canonical.co_mention_edges(m), rounds=4, k=32,
        stage_dir=_scratch("q_nf_"),
    )


def q_eff_diameter(spark, sf):
    """Effective diameter (q=0.9) of the co-mention graph — the
    readout the neighborhood function exists for: smallest radius
    reaching 90% of the reachable pairs, linearly interpolated
    (Boldi & Vigna's convention).  One scalar row; the readout window
    runs on the 5-row nf table (operators/graph.py
    effective_diameter)."""
    m = mentions.mentions_df(_docs(spark, sf))
    nf = graph.neighborhood_function(
        canonical.co_mention_edges(m), rounds=4, k=32,
        stage_dir=_scratch("q_effd_"),
    )
    return graph.effective_diameter(nf, q=0.9)


def q_peak_concurrency(spark, sf):
    """Peak concurrent sessions by the ±1 interval sweep (ends before
    starts at equal instants), exact integer micros, earliest peak
    instant (operators/events.py peak_concurrency)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return evops.peak_concurrency(ev, gap_s=1800)


def q_dispersion(spark, sf):
    """Per-event-type variance-to-mean ratio (index of dispersion) —
    the Poisson-ness screen; exact-sums integer variance, two
    rendering divisions (operators/stats.py dispersion_index)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return stats.dispersion_index(ev, "event_type", "value")


def q_gopher_rules(spark, sf):
    """Gopher rule-based quality gate (Rae et al. 2021 §A1.1): per-doc
    pass/fail on word count, mean word length, symbol ratio, bullet /
    ellipsis line shares, alphabetic-word share, required stop words —
    every threshold cross-multiplied to an exact-integer comparison,
    map-only (operators/textstats.py gopher_rules)."""
    return textstats.gopher_rules(_docs(spark, sf))


def q_c4_clean(spark, sf):
    """C4 line-level cleaning (Raffel et al. 2020 §2.2) over a
    line-structured view of the corpus (lines synthesized by turning
    ' the ' boundaries into '.\\n' — deterministic on both engines, the
    q_url_templates device): terminal-punctuation / min-words /
    javascript line gates + the lorem-ipsum / brace / min-lines doc
    gate, pure string predicates, map-only (operators/textstats.py
    c4_line_clean)."""
    d = _docs(spark, sf).withColumn(
        "text", F.replace(F.col("text"), F.lit(" the "), F.lit(".\n"))
    )
    return textstats.c4_line_clean(d, min_line_words=5, min_kept_lines=3)


def q_chi2_independence(spark, sf):
    """Pearson χ² independence test + Cramér's V over the lang × source
    contingency table — the omnibus categorical-association readout
    (vs q_chi2_tokens' per-token 2×2 screens): one corpus-touching
    count aggregate, zero-cells restored by a dimension-sized level
    cross, exact-BIGINT cell numerators (operators/stats.py
    chi2_independence)."""
    return stats.chi2_independence(_docs(spark, sf), "lang", "source")


def q_page_hinkley(spark, sf):
    """Page–Hinkley upward change-point detection on the daily mean
    event value: running-mean deviations accumulated under a fixed
    ORDER BY d window (both engines fold the identical float sequence)
    with the min-referenced PH statistic and the λ alarm — the
    sequential drift monitor next to the windowed CUSUM
    (operators/events.py page_hinkley)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return evops.page_hinkley(ev, delta=0.5, lam=50.0)


def q_anova(spark, sf):
    """One-way ANOVA of document length (n_chars) across languages —
    the parametric k-sample screen next to q_kruskal_wallis's rank
    form: exact BIGINT group moments, one division per group term
    (operators/stats.py anova_oneway)."""
    return stats.anova_oneway(_docs(spark, sf), "lang", "n_chars")


def q_holt(spark, sf):
    """Holt linear-trend double exponential smoothing of the daily
    mean event value — the recursion is folded left-to-right over the
    day-sorted series on BOTH engines (F.aggregate here, a day-indexed
    recursive CTE in the twin) with identical operation shape, so the
    floats match bit-for-bit before the render round
    (operators/events.py holt_linear)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return evops.holt_linear(ev, alpha=0.5, beta=0.5)


def q_edit_join(spark, sf):
    """Edit-distance-≤1 self-join over customer names by FastSS
    deletion-neighborhood signatures (complete for d=1, verified with
    levenshtein) — the dirty-ID near-match generator feeding the ER
    merge; oracle is the naive all-pairs levenshtein on the same
    bounded name table (operators/er.py deletion_neighborhood_pairs)."""
    cust = spark.read.parquet(f"{sf}/customer.parquet")
    return er.deletion_neighborhood_pairs(cust, name_col="c_name")


def q_truth_discovery(spark, sf):
    """Sums-style truth discovery over conflicting (supplier, part,
    returnflag) claims: two exact-integer mutual-reinforcement rounds
    (vote counts -> source trust -> trust-weighted confidence), winner
    per item by (conf desc, value asc)
    (operators/er.py truth_discovery_sums)."""
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    claims = li.select(
        F.col("l_suppkey").alias("source"),
        F.col("l_partkey").alias("item"),
        F.col("l_returnflag").alias("value"),
    )
    return er.truth_discovery_sums(claims)


def q_viterbi(spark, sf):
    """Viterbi decoding of the fixed-parameter HMM tagger per sentence
    — exact-integer DP scores so max/argmax is deterministic; the twin
    replays the identical CASE ladder as a sentence-synchronous
    recursive CTE carrying per-state (score, path) pairs
    (operators/hmm.py viterbi_tag)."""
    from ddaugner_spark.operators import hmm

    return hmm.viterbi_tag(_docs(spark, sf))


def q_levene(spark, sf):
    """Brown–Forsythe Levene test of variance homogeneity of document
    length across languages — W = ANOVA on |2x − median2_g| (doubled
    exact group medians keep every moment BIGINT); the companion
    assumption check to q_anova (operators/stats.py
    levene_brown_forsythe)."""
    return stats.levene_brown_forsythe(_docs(spark, sf), "lang", "n_chars")


def q_textrank(spark, sf):
    """TextRank keyword scores: unweighted token co-occurrence edges
    (window ±2, bounded-fan-out probe join) + the same fixed-step
    PageRank core as q_pagerank (operators/textstats.py
    textrank_keywords)."""
    return textstats.textrank_keywords(
        _docs(spark, sf), window=2, iters=2, stage_dir=_scratch("q_textrank_")
    )


def q_stump(spark, sf):
    """Depth-1 CART split of document length against the lang=='en'
    label: exact cumulative class counts off the distinct-value table,
    per-candidate Gini score in an identical two-division op shape on
    both engines, argmax by (score desc, threshold asc)
    (operators/stats.py decision_stump)."""
    d = _docs(spark, sf).withColumn(
        "y", (F.col("lang") == F.lit("en")).cast("long")
    )
    return stats.decision_stump(d, "n_chars", "y")


def q_allen(spark, sf):
    """Allen's 13 interval relations over per-(user, event-type)
    activity intervals — the temporal-KG fact-validity primitive;
    one hash aggregate + a bounded-fan-out self-join, the identical
    mutually-exclusive CASE ladder on both engines
    (operators/temporal.py allen_relations)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return temporal.allen_relations(ev)


def q_cuped(spark, sf):
    """CUPED variance-reduced A/B readout: pre-period event count as
    the covariate, θ = cov/var from exact BIGINT moments (doubles cast
    BEFORE the n·ΣXY products), per-arm adjusted means + the rho²
    variance-reduction share (operators/events.py cuped_adjusted)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return evops.cuped_adjusted(ev)


def q_bh_fdr(spark, sf):
    """Benjamini–Hochberg FDR token selection over exact df=2 χ²
    p-values (p = exp(−χ²/2), closed form — no gamma approximation);
    rank and step-up comparisons micro-quantized at round(·, 9)
    against libm exp ulp skew (operators/textstats.py
    chi2_bh_select)."""
    return textstats.chi2_bh_select(_docs(spark, sf))


def q_holm(spark, sf):
    """Holm–Bonferroni step-DOWN token selection over the SAME exact
    χ² p-values as q_bh_fdr — the familywise-error sibling: reject
    while p_(i) ≤ α/(m−i+1), STOP at the first failure; running both
    rules on one p table is the standard FWER-vs-FDR cost comparison
    (operators/textstats.py chi2_holm_select, sharing
    _chi2_token_ranked with BH)."""
    return textstats.chi2_holm_select(_docs(spark, sf))


def q_srm(spark, sf):
    """Sample-ratio-mismatch guardrail on the user_id % 2 assignment —
    the first experimentation-platform diagnostic (a broken split
    invalidates q_ab_test/q_cuped/q_did wholesale): z = (n_a−n_b)/√N,
    χ² = z², |z| > 3 red flag; one distinct-user aggregate, exact
    BIGINTs, two float ops (operators/events.py srm_check)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return evops.srm_check(ev)


def q_welch_t(spark, sf):
    """Welch's unequal-variance t test of document length (n_chars)
    between the two largest languages (en vs zh) — the parametric
    2-sample screen completing the family (Mann–Whitney's rank form,
    ANOVA's k-sample form), plus Welch–Satterthwaite dof and Cohen's d
    effect size.  Six exact BIGINT moments in one aggregate pass, then
    a fixed float chain — no order-divergent Σ anywhere
    (operators/stats.py welch_t)."""
    return stats.welch_t(_docs(spark, sf), "lang", "n_chars", "en", "zh")


def q_mcnemar(spark, sf):
    """McNemar's continuity-corrected test on paired per-doc outcomes
    of the two rule gates — does the C4 line gate pass a different SET
    of documents than the Gopher document gate?  Concordant pairs
    carry no information, so the discordant counts (b, c) isolate
    exactly where the filters disagree; four conditional BIGINT counts
    + one fixed float chain (operators/stats.py mcnemar_paired over
    textstats.gopher_rules ⋈ textstats.c4_line_clean)."""
    docs = _docs(spark, sf)
    g = textstats.gopher_rules(docs).select("doc_id", F.col("keep").alias("a"))
    d = docs.withColumn(
        "text", F.replace(F.col("text"), F.lit(" the "), F.lit(".\n"))
    )
    c = textstats.c4_line_clean(d, min_line_words=5, min_kept_lines=3).select(
        "doc_id", (~F.col("doc_dropped")).alias("b")
    )
    return stats.mcnemar_paired(g.join(c, "doc_id"), "a", "b")


def q_cmh(spark, sf):
    """Cochran–Mantel–Haenszel stratified 2×2 test — is the long-doc
    rate (n_chars ≥ 300) associated with the even/odd source-index
    split AFTER controlling for language (the Simpson's-paradox-proof
    complement to the marginal q_chi2_independence)?  Per-lang exact
    BIGINT 2×2 cells, per-stratum E/V/odds terms micro-quantized at
    10⁶ and integer-summed, plus the Mantel–Haenszel common odds ratio
    (operators/stats.py cmh_test)."""
    d = _docs(spark, sf)
    flags = d.select(
        "lang",
        (F.substring("source", 4, 10).cast("int") % 2 == 0).alias("x"),
        (F.col("n_chars") >= 300).alias("y"),
    )
    return stats.cmh_test(flags, "lang", "x", "y")


def q_kendall_tau(spark, sf):
    """Kendall's τ-b rank correlation between document length and word
    count, both bucketed to a bounded ordinal scale (chars DIV 100 ×
    least(words DIV 10, 9)) so the pair counting runs over CONTINGENCY
    CELL pairs, never row pairs — exact BIGINT concordant/discordant/
    tie counts, one fixed 3-op float tree (operators/stats.py
    kendall_tau_b; the tie-corrected ordinal complement to
    q_spearman's global-rank form)."""
    d = _docs(spark, sf).where(F.col("n_chars").isNotNull())
    b = d.select(
        F.expr("n_chars DIV 100").alias("x"),
        F.least(
            (F.size(textstats.safe_tokens()) / 10).cast("long"), F.lit(9)
        ).alias("y"),
    )
    return stats.kendall_tau_b(b, "x", "y", stage_dir=_scratch("q_tau_"))


def q_cronbach(spark, sf):
    """Cronbach's α internal consistency of four binary document
    quality gates (length ≥ 300 chars, ≥ 50 words, contains ' the ',
    terminal punctuation) — do the gates measure one construct?  The
    shared (n·Q − S²) variance form cancels the common denominator, so
    α is two float divisions over 2k+3 exact BIGINT moments from one
    corpus pass (operators/stats.py cronbach_alpha)."""
    d = _docs(spark, sf)
    t = F.coalesce(F.col("text"), F.lit(""))
    flags = d.select(
        (F.coalesce(F.col("n_chars"), F.lit(0)) >= 300).alias("i0"),
        (F.size(textstats.safe_tokens()) >= 50).alias("i1"),
        t.contains(" the ").alias("i2"),
        (t.endswith(".") | t.endswith("?") | t.endswith("!")).alias("i3"),
    )
    return stats.cronbach_alpha(flags, ["i0", "i1", "i2", "i3"])


def q_runs_test(spark, sf):
    """Wald–Wolfowitz runs test for randomness of the daily
    above/below-mean revenue sequence: each day dichotomized by the
    EXACT integer cross-multiplication day_cents·N > total_cents·n_day
    (no float mean anywhere), runs counted by one lag window over the
    30 day rows, closed-form normal z (operators/stats.py runs_test —
    the randomness screen next to q_mann_kendall's trend test and
    q_page_hinkley's drift alarm)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    daily = (
        ev.select(
            F.to_date("ts").alias("d"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("d")
        .agg(
            F.sum("cents").cast("long").alias("dc"),
            F.count(F.lit(1)).cast("long").alias("dn"),
        )
    )
    tot = daily.agg(
        F.sum("dc").cast("long").alias("tc"),
        F.sum("dn").cast("long").alias("tn"),
    )
    flagged = daily.crossJoin(F.broadcast(tot)).select(
        "d", (F.col("dc") * F.col("tn") > F.col("tc") * F.col("dn")).alias("above")
    )
    return stats.runs_test(flagged, "d", "above")


def q_jsd_drift(spark, sf):
    """Per-source Jensen–Shannon divergence from the corpus token
    distribution — the bounded symmetric drift score a crawl dashboard
    ranks sources by; the absent-token tail folds closed-form into
    ½·ln2·(N−Σc)/N so only source-present tokens materialize
    (operators/textstats.py jsd_by_group; the distributional
    complement to q_entropy and q_psi_drift)."""
    return textstats.jsd_by_group(
        _docs(spark, sf), "source", stage_dir=_scratch("q_jsd_")
    )


def q_tost(spark, sf):
    """TOST equivalence analysis (Schuirmann two one-sided tests) of
    document length en vs de under a ±25-char margin — the "prove NO
    regression" mirror of q_welch_t: both one-sided t statistics +
    Welch dof reported, the critical-value verdict left to the client
    (the engine ships statistics, not quantile tables)
    (operators/stats.py tost_equivalence)."""
    return stats.tost_equivalence(
        _docs(spark, sf), "lang", "n_chars", "en", "de", margin=25.0
    )


def q_wasserstein(spark, sf):
    """Exact 1-D Wasserstein-1 (earth mover's) distance between the en
    and zh document-length distributions — ∫|F_a−F_b| integrated over
    the distinct-value grid as an EXACT BIGINT numerator
    Σ|cumA·n_b − cumB·n_a|·gap with ONE final division; the
    distribution-drift companion to q_ks_test's max-gap and
    q_cliffs_delta's dominance (operators/stats.py wasserstein_1d)."""
    return stats.wasserstein_1d(
        _docs(spark, sf), "lang", "n_chars", "en", "zh",
        stage_dir=_scratch("q_w1_"),
    )


def q_brier(spark, sf):
    """Brier score + Murphy decomposition (reliability − resolution +
    uncertainty) of the capped-length quality score vs the lang=='en'
    label over the q_calibration bin spine — the score-level companion
    to ECE; the corpus-sized Σ(p−y)² is the exact BIGINT Σ(cap−500y)²,
    per-bin terms fixed float chains over exact bin moments
    (operators/traindata.py brier_decomposition)."""
    from ddaugner_spark.operators import traindata

    return traindata.brier_decomposition(_docs(spark, sf), n_bins=10)


def q_dag_layers(spark, sf):
    """Longest-path layering (critical-path depth) of the 200-node
    type DAG with redundant shortcuts (the q_transitive_reduction
    graph): layer(v) = longest directed path ending at v — with the
    child→parent edge orientation this is each type's HEIGHT (longest
    descendant chain), the level a bottom-up aggregation schedules it
    at.  Eight rounds of max-plus
    relaxation, exact integer layers, layer table broadcast both ways
    so the edge table never shuffles (operators/graph.py dag_layers).
    Oracle = depth-capped recursive walk enumeration + max."""
    d = (
        _docs(spark, sf)
        .select((F.col("doc_id") % 200).alias("i"))
        .distinct()
        .filter(F.col("i") >= 1)
    )
    t = F.concat(F.lit("t"), F.col("i").cast("string"))
    parent = F.expr("(i - 1) DIV 3")
    tree = d.select(
        t.alias("src"),
        F.concat(F.lit("t"), parent.cast("string")).alias("dst"),
    )
    gp = F.expr("((i - 1) DIV 3 - 1) DIV 3")
    short = d.filter((F.col("i") % 4 == 0) & (parent >= 1)).select(
        t.alias("src"), F.concat(F.lit("t"), gp.cast("string")).alias("dst")
    )
    return graph.dag_layers(tree.unionByName(short), iters=8)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registration order is LOAD-BEARING: the driver's correctness gate
    samples the FIRST 50 entries.  Round-5 rotation (VERDICT r4 #5 —
    no query goes two rounds without a driver row): the 32 queries with
    no round-4 driver row lead; then this round's fixed/changed queries
    (q_media_decode — array column exploded for the driver
    canonicalizer; q_mention_ann_ivf — semi-join query form;
    q_better_recalled — oracle precondition now pinned); then the
    queries NEW this round (dedup/decontamination, TPC-H shapes,
    repetition, line dedup, sampling, quantile sketch, vocab, graph
    analytics, PII redaction, TF-IDF, bigram-LM scoring) up to the
    50-slot boundary.  The tail — round-4-green entries plus the
    newest queries that didn't fit the window (q_pmi_edges, q_postings,
    q_bm25, and the session-14 additions: q_stream_join, q_kn_bigram,
    q_isotonic, q_seq_patterns, q_did, q_wilson_rank, q_eb_rates,
    q_kg_completion, q_b3_eval, q_canonical_star, q_conformal,
    q_segments, and the session-15 suffix-array/graph/ER/skyline
    family: q_neighborhood_fn, q_eff_diameter, q_suffix_array,
    q_lcp_array, q_repeat_coverage, q_distinct_substrings,
    q_snm_pairs, q_skyline, and the session-16 additions: q_msf,
    q_single_link, q_densest, q_silhouette, plus the session-17
    additions: q_ht_estimate, q_sprt, q_chi2_independence,
    q_page_hinkley, q_pred_cardinality, q_entity_summary,
    q_gopher_rules, q_c4_clean, q_betweenness; rotate in next round) —
    stays covered by
    tools/parity_check.py locally (two full gates ALL OK at sf0.01 in
    session 19 — 363-query and 386-query snapshots — plus per-query
    runs at sf0.001 + sf0.01 for every query added after the last
    snapshot; 412 registered, all with oracle twins).  Session-19 tail
    additions (each individually gated at both SFs): the cluster-eval
    family closure (q_muc_eval, q_ari_eval, q_vi_eval), q_cmh,
    q_kendall_tau, q_cronbach, q_runs_test, q_jsd_drift, q_scd2,
    q_cliffs_delta, q_mrr, q_louvain, q_vocab_richness, q_tost,
    q_wasserstein, q_brier, q_slope_one, q_salsa, q_pra_features,
    q_nelson_aalen, q_powerlaw, q_lift, q_shapley, q_change_rate,
    q_burrows_delta, q_sax, q_fs_em, q_pacf, q_ljung_box, q_theil,
    q_lorenz, q_spam_mass, q_hurst, q_croston, q_ar2,
    q_capture_recapture, q_fightin_words, q_rbo, q_holm, q_srm,
    q_burt, q_npmi, q_fm_eval, q_hhi, q_sbg, q_ltv,
    q_holt_winters, q_rate_test."""
    return {
        # --- rotated back in: no driver row in round 4 (green in r3) ---
        "q_text_extract": q_text_extract,
        "q_simhash": q_simhash,
        "q_doc_embeddings": q_doc_embeddings,
        "q_embed_near_dups": q_embed_near_dups,
        "q_ann_ivf_kmeans": q_ann_ivf_kmeans,
        "q_langid": q_langid,
        "q_quality": q_quality,
        "q_tokenize": q_tokenize,
        "q_sentences": q_sentences,
        "q_context_windows": q_context_windows,
        "q_mention_class_ratios": q_mention_class_ratios,
        "q_majority_voting": q_majority_voting,
        "q_prediction_errors": q_prediction_errors,
        "q_per_lang_scores": q_per_lang_scores,
        "q_mention_setops": q_mention_setops,
        "q_capitalization": q_capitalization,
        "q_error_spans": q_error_spans,
        "q_gazetteer_inject": q_gazetteer_inject,
        "q_augment_replace": q_augment_replace,
        "q_augment_standard": q_augment_standard,
        "q_balance_upsample": q_balance_upsample,
        "q_augment_compositional": q_augment_compositional,
        "q_overlap": q_overlap,
        "q_context_features": q_context_features,
        "q_simhash_pairs": q_simhash_pairs,
        "q_ann_topk": q_ann_topk,
        "q_ann_ivf": q_ann_ivf,
        "q_ann_multiprobe": q_ann_multiprobe,
        "q_cosine_threshold": q_cosine_threshold,
        "q_token_counts": q_token_counts,
        "q_fingerprints": q_fingerprints,
        "q_tpch_pricing": q_tpch_pricing,
        # --- fixed/changed this round: needs a fresh driver row ---
        "q_media_decode": q_media_decode,
        # --- NEW this round: first driver rows ---
        "q_jaccard_pairs": q_jaccard_pairs,
        "q_decontaminate": q_decontaminate,
        "q_top_supplier": q_top_supplier,
        "q_important_parts": q_important_parts,
        "q_overstock_suppliers": q_overstock_suppliers,
        "q_repetition": q_repetition,
        "q_line_dedup": q_line_dedup,
        "q_stratified_sample": q_stratified_sample,
        "q_quantile_sketch": q_quantile_sketch,
        "q_fixed_sample": q_fixed_sample,
        "q_vocab": q_vocab,
        # --- NEW this round: graph analytics + retrieval/privacy/LM ---
        "q_triangles": q_triangles,
        "q_pagerank": q_pagerank,
        "q_kcore": q_kcore,
        "q_pii_redact": q_pii_redact,
        "q_tfidf": q_tfidf,
        "q_lm_bigram": q_lm_bigram,
        # --- tail: driver-green in round 4, still in the local gate;
        # plus this session's remaining new queries (q_pmi_edges,
        # q_postings, q_bm25 — locally parity-checked, rotate into the
        # window next round) and the two round-4-green queries whose
        # form changed this round (q_mention_ann_ivf semi-join,
        # q_better_recalled precondition), displaced by never-checked
        # new queries ---
        "q_mention_ann_ivf": q_mention_ann_ivf,
        "q_better_recalled": q_better_recalled,
        "q_pmi_edges": q_pmi_edges,
        "q_postings": q_postings,
        "q_bm25": q_bm25,
        "q_cm_heavy_hitters": q_cm_heavy_hitters,
        "q_label_prop": q_label_prop,
        "q_token_budget": q_token_budget,
        "q_repeated_ngrams": q_repeated_ngrams,
        "q_stream_cm": q_stream_cm,
        "q_stream_event_counts": q_stream_event_counts,
        "q_stream_sessions": q_stream_sessions,
        "q_stream_triples": q_stream_triples,
        "q_stream_mentions": q_stream_mentions,
        "q_stream_link_scores": q_stream_link_scores,
        "q_stream_dedup": q_stream_dedup,
        "q_media_metadata": q_media_metadata,
        "q_frame_plan": q_frame_plan,
        "q_asof_events": q_asof_events,
        "q_range_join": q_range_join,
        "q_kmv_distinct": q_kmv_distinct,
        "q_hll_distinct": q_hll_distinct,
        "q_boilerplate": q_boilerplate,
        "q_dsir_weights": q_dsir_weights,
        "q_exact_substr": q_exact_substr,
        "q_two_hop": q_two_hop,
        "q_relation_sigs": q_relation_sigs,
        "q_weighted_sample": q_weighted_sample,
        "q_bloom_decontaminate": q_bloom_decontaminate,
        "q_unicode_nfc": q_unicode_nfc,
        "q_url_canonical": q_url_canonical,
        "q_latest_capture": q_latest_capture,
        "q_host_skew": q_host_skew,
        "q_er_pairs": q_er_pairs,
        "q_er_resolve": q_er_resolve,
        "q_triple_provenance": q_triple_provenance,
        "q_ntriples": q_ntriples,
        "q_bfs": q_bfs,
        "q_link_graph": q_link_graph,
        "q_triple_upsert": q_triple_upsert,
        "q_stream_upsert": q_stream_upsert,
        "q_hypertable_rollup": q_hypertable_rollup,
        "q_ngram_match": q_ngram_match,
        "q_error_contexts": q_error_contexts,
        "q_ann_quantized": q_ann_quantized,
        "q_cube_sales": q_cube_sales,
        "q_pivot_events": q_pivot_events,
        "q_events_window": q_events_window,
        "q_events_sessions": q_events_sessions,
        "q_small_qty_revenue": q_small_qty_revenue,
        "q_order_priority": q_order_priority,
        "q_parts_no_returns": q_parts_no_returns,
        "q_rollup_revenue": q_rollup_revenue,
        "q_revenue_by_nation": q_revenue_by_nation,
        "q_top_parts": q_top_parts,
        "q_shipping_priority": q_shipping_priority,
        "q_sole_return_suppliers": q_sole_return_suppliers,
        "q_rich_light_customers": q_rich_light_customers,
        "q_big_orders": q_big_orders,
        "q_mentions": q_mentions,
        "q_mentions_bigdict": q_mentions_bigdict,
        "q_mentions_udf": q_mentions_udf,
        "q_mention_embeddings": q_mention_embeddings,
        "q_mention_ann": q_mention_ann,
        "q_triples": q_triples,
        "q_entity_link": q_entity_link,
        "q_entity_docs": q_entity_docs,
        "q_canonical_cc": q_canonical_cc,
        "q_dedup_clusters": q_dedup_clusters,
        "q_minhash_lsh": q_minhash_lsh,
        "q_dedup_exact": q_dedup_exact,
        "q_ner_score": q_ner_score,
        "q_tag_frequencies": q_tag_frequencies,
        "q_demote_per": q_demote_per,
        "q_alias_expansion": q_alias_expansion,
        "q_augment_labelwise": q_augment_labelwise,
        "q_wordpiece": q_wordpiece,
        # --- NEW round-5 session 8: anchor text / redirects / HITS ---
        "q_anchor_text": q_anchor_text,
        "q_redirects": q_redirects,
        "q_hits": q_hits,
        "q_semdedup": q_semdedup,
        "q_kmv_setops": q_kmv_setops,
        "q_hybrid_rrf": q_hybrid_rrf,
        "q_containment": q_containment,
        "q_ppr": q_ppr,
        "q_frontier": q_frontier,
        "q_winnow": q_winnow,
        "q_bpe_pairs": q_bpe_pairs,
        "q_kg_validity": q_kg_validity,
        "q_kg_negatives": q_kg_negatives,
        "q_stream_links": q_stream_links,
        "q_ccnet_buckets": q_ccnet_buckets,
        "q_url_templates": q_url_templates,
        "q_link_predict": q_link_predict,
        "q_entity_salience": q_entity_salience,
        "q_random_walks": q_random_walks,
        "q_stupid_backoff": q_stupid_backoff,
        "q_funnel": q_funnel,
        "q_retention": q_retention,
        "q_markov": q_markov,
        "q_type_closure": q_type_closure,
        "q_registrable_domain": q_registrable_domain,
        "q_summarize": q_summarize,
        "q_coref_lite": q_coref_lite,
        "q_skipgram": q_skipgram,
        "q_ols_price": q_ols_price,
        "q_shard_assign": q_shard_assign,
        "q_crawl_schedule": q_crawl_schedule,
        "q_entropy": q_entropy,
        "q_phrases_llr": q_phrases_llr,
        "q_wow_anomaly": q_wow_anomaly,
        "q_json_profile": q_json_profile,
        "q_robots": q_robots,
        "q_zorder": q_zorder,
        "q_modularity": q_modularity,
        "q_ab_test": q_ab_test,
        "q_ann_recall": q_ann_recall,
        "q_degree_dist": q_degree_dist,
        "q_reciprocity": q_reciprocity,
        "q_jsonl_export": q_jsonl_export,
        "q_zipf": q_zipf,
        "q_coengagement": q_coengagement,
        "q_label_centroids": q_label_centroids,
        "q_nearest_centroid": q_nearest_centroid,
        "q_ks_test": q_ks_test,
        "q_gini": q_gini,
        "q_novelty": q_novelty,
        "q_burstiness": q_burstiness,
        "q_stream_attribution": q_stream_attribution,
        "q_scd2": q_scd2,
        "q_interval_merge": q_interval_merge,
        "q_locf": q_locf,
        "q_column_stats": q_column_stats,
        "q_mad_outliers": q_mad_outliers,
        "q_logistic_quality": q_logistic_quality,
        "q_zone_maps": q_zone_maps,
        "q_compaction": q_compaction,
        "q_allpairs_prefix": q_allpairs_prefix,
        "q_shortest_path": q_shortest_path,
        "q_rollup_merge": q_rollup_merge,
        "q_stream_sliding": q_stream_sliding,
        "q_clustering_coef": q_clustering_coef,
        "q_minhash_error": q_minhash_error,
        "q_snapshot_diff": q_snapshot_diff,
        "q_bucketed_join": q_bucketed_join,
        "q_hard_negatives": q_hard_negatives,
        "q_filter_stack": q_filter_stack,
        "q_wp_fertility": q_wp_fertility,
        "q_assortativity": q_assortativity,
        "q_split_leakage": q_split_leakage,
        "q_kg_pattern": q_kg_pattern,
        "q_domain_range": q_domain_range,
        "q_rule_mining": q_rule_mining,
        "q_kappa": q_kappa,
        "q_pack_sequences": q_pack_sequences,
        "q_chunk_windows": q_chunk_windows,
        "q_mixture_weights": q_mixture_weights,
        "q_auc": q_auc,
        "q_calibration": q_calibration,
        "q_ams_f2": q_ams_f2,
        "q_chi2_tokens": q_chi2_tokens,
        "q_jl_project": q_jl_project,
        "q_volume_shipping": q_volume_shipping,
        "q_market_share": q_market_share,
        "q_returned_items": q_returned_items,
        "q_cust_order_dist": q_cust_order_dist,
        "q_promo_share": q_promo_share,
        "q_time_weighted_avg": q_time_weighted_avg,
        "q_debounce": q_debounce,
        "q_scc": q_scc,
        "q_ams_join_size": q_ams_join_size,
        "q_bpe_train": q_bpe_train,
        "q_dbscan": q_dbscan,
        "q_temporal_paths": q_temporal_paths,
        "q_copurchase_lift": q_copurchase_lift,
        "q_readability": q_readability,
        "q_entity_drift": q_entity_drift,
        "q_rfm": q_rfm,
        "q_psi_drift": q_psi_drift,
        "q_harmonic": q_harmonic,
        "q_medoids": q_medoids,
        "q_ktruss": q_ktruss,
        "q_kg_conflicts": q_kg_conflicts,
        "q_kanon": q_kanon,
        "q_interpolate": q_interpolate,
        "q_mmr": q_mmr,
        "q_quality_classifier": q_quality_classifier,
        "q_ohlc": q_ohlc,
        "q_cusum": q_cusum,
        "q_phrase_search": q_phrase_search,
        "q_spearman": q_spearman,
        "q_knn_classify": q_knn_classify,
        "q_mime_sniff": q_mime_sniff,
        "q_golden_record": q_golden_record,
        "q_type_confusion": q_type_confusion,
        "q_bitext_mine": q_bitext_mine,
        "q_itemsets3": q_itemsets3,
        "q_wl_refine": q_wl_refine,
        "q_blocking_quality": q_blocking_quality,
        "q_ewma": q_ewma,
        "q_l_diversity": q_l_diversity,
        "q_bpe_encode": q_bpe_encode,
        "q_transitive_reduction": q_transitive_reduction,
        "q_contrastive_pairs": q_contrastive_pairs,
        "q_group_median": q_group_median,
        "q_seasonal_naive": q_seasonal_naive,
        "q_stream_ohlc": q_stream_ohlc,
        "q_vocab_growth": q_vocab_growth,
        "q_ngram_novelty": q_ngram_novelty,
        "q_kg_optional": q_kg_optional,
        # --- NEW round-5 session 9: ACF, t-closeness, naive Bayes,
        # nDCG, TPC-H Q9/Q19 shapes ---
        "q_acf": q_acf,
        "q_t_closeness": q_t_closeness,
        "q_naive_bayes": q_naive_bayes,
        "q_ndcg": q_ndcg,
        "q_product_profit": q_product_profit,
        "q_disjunctive_revenue": q_disjunctive_revenue,
        # --- NEW round-5 session 10: FD discovery, lexicon screen,
        # bootstrap CI, winsorization ---
        "q_fd_profile": q_fd_profile,
        "q_lexicon_screen": q_lexicon_screen,
        "q_bootstrap_ci": q_bootstrap_ci,
        "q_winsorize": q_winsorize,
        "q_ind_profile": q_ind_profile,
        "q_benford": q_benford,
        "q_dp_histogram": q_dp_histogram,
        "q_paired_bootstrap": q_paired_bootstrap,
        "q_mann_whitney": q_mann_whitney,
        "q_kaplan_meier": q_kaplan_meier,
        "q_skew_report": q_skew_report,
        "q_fs_weights": q_fs_weights,
        "q_kleene_path": q_kleene_path,
        "q_link_audit": q_link_audit,
        "q_attribution": q_attribution,
        "q_fleiss_kappa": q_fleiss_kappa,
        "q_rich_club": q_rich_club,
        "q_ql_rank": q_ql_rank,
        "q_lateness": q_lateness,
        "q_pca_top": q_pca_top,
        "q_theil_sen": q_theil_sen,
        "q_avg_precision": q_avg_precision,
        "q_conversion_lag": q_conversion_lag,
        "q_er_incremental": q_er_incremental,
        "q_item_recs": q_item_recs,
        "q_pct_rank": q_pct_rank,
        "q_cluster_sizes": q_cluster_sizes,
        "q_revote": q_revote,
        "q_topk_others": q_topk_others,
        "q_cluster_split": q_cluster_split,
        "q_qnorm": q_qnorm,
        "q_hub_robustness": q_hub_robustness,
        "q_peak_concurrency": q_peak_concurrency,
        "q_dispersion": q_dispersion,
        "q_stream_join": q_stream_join,
        "q_kn_bigram": q_kn_bigram,
        "q_isotonic": q_isotonic,
        "q_seq_patterns": q_seq_patterns,
        "q_did": q_did,
        "q_wilson_rank": q_wilson_rank,
        "q_eb_rates": q_eb_rates,
        "q_kg_completion": q_kg_completion,
        "q_b3_eval": q_b3_eval,
        "q_canonical_star": q_canonical_star,
        "q_conformal": q_conformal,
        "q_segments": q_segments,
        "q_rr_freq": q_rr_freq,
        "q_neighborhood_fn": q_neighborhood_fn,
        "q_suffix_array": q_suffix_array,
        "q_eff_diameter": q_eff_diameter,
        "q_lcp_array": q_lcp_array,
        "q_repeat_coverage": q_repeat_coverage,
        "q_distinct_substrings": q_distinct_substrings,
        "q_snm_pairs": q_snm_pairs,
        "q_skyline": q_skyline,
        "q_msf": q_msf,
        "q_single_link": q_single_link,
        "q_densest": q_densest,
        "q_silhouette": q_silhouette,
        "q_mis": q_mis,
        "q_edge_cut": q_edge_cut,
        "q_decompose": q_decompose,
        "q_mann_kendall": q_mann_kendall,
        "q_cdc_chunks": q_cdc_chunks,
        "q_greedy_coverage": q_greedy_coverage,
        "q_kcenter": q_kcenter,
        "q_coloring": q_coloring,
        "q_rolling_active": q_rolling_active,
        "q_kruskal_wallis": q_kruskal_wallis,
        "q_ht_estimate": q_ht_estimate,
        "q_sprt": q_sprt,
        "q_chi2_independence": q_chi2_independence,
        "q_page_hinkley": q_page_hinkley,
        "q_pred_cardinality": q_pred_cardinality,
        "q_entity_summary": q_entity_summary,
        "q_gopher_rules": q_gopher_rules,
        "q_c4_clean": q_c4_clean,
        "q_betweenness": q_betweenness,
        "q_anova": q_anova,
        "q_holt": q_holt,
        "q_edit_join": q_edit_join,
        "q_truth_discovery": q_truth_discovery,
        "q_viterbi": q_viterbi,
        "q_levene": q_levene,
        "q_textrank": q_textrank,
        "q_stump": q_stump,
        "q_allen": q_allen,
        "q_cuped": q_cuped,
        "q_bh_fdr": q_bh_fdr,
        "q_katz": q_katz,
        "q_simrank": q_simrank,
        "q_soundex_block": q_soundex_block,
        "q_welch_t": q_welch_t,
        "q_mcnemar": q_mcnemar,
        "q_dag_layers": q_dag_layers,
        "q_jw_pairs": q_jw_pairs,
        "q_matching": q_matching,
        "q_resource_alloc": q_resource_alloc,
        "q_muc_eval": q_muc_eval,
        "q_ari_eval": q_ari_eval,
        "q_cmh": q_cmh,
        "q_kendall_tau": q_kendall_tau,
        "q_cronbach": q_cronbach,
        "q_runs_test": q_runs_test,
        "q_jsd_drift": q_jsd_drift,
        "q_scd2": q_scd2,
        "q_cliffs_delta": q_cliffs_delta,
        "q_mrr": q_mrr,
        "q_louvain": q_louvain,
        "q_vocab_richness": q_vocab_richness,
        "q_tost": q_tost,
        "q_wasserstein": q_wasserstein,
        "q_brier": q_brier,
        "q_slope_one": q_slope_one,
        "q_salsa": q_salsa,
        "q_pra_features": q_pra_features,
        "q_nelson_aalen": q_nelson_aalen,
        "q_powerlaw": q_powerlaw,
        "q_lift": q_lift,
        "q_vi_eval": q_vi_eval,
        "q_change_rate": q_change_rate,
        "q_shapley": q_shapley,
        "q_burrows_delta": q_burrows_delta,
        "q_sax": q_sax,
        "q_fs_em": q_fs_em,
        "q_pacf": q_pacf,
        "q_ljung_box": q_ljung_box,
        "q_theil": q_theil,
        "q_lorenz": q_lorenz,
        "q_spam_mass": q_spam_mass,
        "q_hurst": q_hurst,
        "q_croston": q_croston,
        "q_ar2": q_ar2,
        "q_capture_recapture": q_capture_recapture,
        "q_fightin_words": q_fightin_words,
        "q_rbo": q_rbo,
        "q_holm": q_holm,
        "q_srm": q_srm,
        "q_burt": q_burt,
        "q_npmi": q_npmi,
        "q_fm_eval": q_fm_eval,
        "q_hhi": q_hhi,
        "q_sbg": q_sbg,
        "q_ltv": q_ltv,
        "q_holt_winters": q_holt_winters,
        "q_rate_test": q_rate_test,
    }


# ======================================================================
# DuckDB oracles
# ======================================================================

_ORG = sql_str_list(config.ORG_BIGRAMS)
_PER = sql_str_list(config.PER_WORDS)
_LOC = sql_str_list(config.LOC_WORDS)
_UNI = sql_str_list(config.PER_WORDS + config.LOC_WORDS)
_PREDW = sql_str_list(config.PRED_WORDS)
_STOP = sql_str_list(config.STOPWORDS)
_TERM = config.SENT_TERM
_GAP = config.TRIPLE_MAX_GAP
_POOL = "[" + sql_str_list(config.INJECT_NAMES) + "]"
_NPOOL = len(config.INJECT_NAMES)
_GAZ_VALUES = ", ".join(
    f"('{n}', '{c}', {w})" for n, c, w in config.GAZETTEER
)
_QIDS = ", ".join(str(i) for i in QUERY_IDS)

_TOKS = """
toks AS (
  SELECT doc_id, i - 1 AS pos, t[i] AS tok, len(t) AS n
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        WHERE text IS NOT NULL AND text != '') s,
       unnest(range(1, len(t) + 1)) AS u(i)
)"""

_SENTID = f"""
sentid AS (
  SELECT doc_id, pos,
         coalesce(sum(CASE WHEN tok = '{_TERM}' THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS sent_id
  FROM toks
)"""

# every gazetteer entry with its token length, for the general n=5..1 match
_GAZN = ", ".join(
    f"('{s}', '{c}', {len(s.split(' '))})" for s, c, _w in config.GAZETTEER
)

# The general dictionary pass (fix_ner.py:195-215) mirrored in SQL:
# candidate windows (all levels) -> recursive fold in the exact pass
# order (n DESC, start ASC) applying a window iff it covers >=1 'O'
# position in the LEVEL-START snapshot (the reference reads tags through
# a lazy more_itertools.windowed iterator over the list fix() mutates,
# so within one level every read precedes every same-level write — the
# fold carries (live tags, snapshot, level) and refreshes the snapshot
# when the candidate level changes) and OVERWRITING the whole window
# live -> BIO-run decode.  ``dtags`` (per-position final tags) is
# exposed for the tag-frequency / error-span oracles — reconstructing
# tags from ment spans is NOT equivalent when an overwrite beheads an
# earlier run (the remnant I-X positions keep their old class inside the
# new span).
_MENT = f"""
gazn AS (SELECT * FROM (VALUES {{GAZN}}) g(surface, tag, n)),
tl AS (
  SELECT doc_id, t, len(t) AS nt
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        WHERE text IS NOT NULL AND text != '')
),
gcands AS (
  SELECT tl.doc_id, u.i - 1 AS start, g.n, g.tag
  FROM tl, gazn g, unnest(range(1, tl.nt - g.n + 2)) u(i)
  WHERE array_to_string(tl.t[u.i : u.i + g.n - 1], ' ') = g.surface
),
gclist AS (
  SELECT doc_id,
         list(struct_pack(s := start, n := n, g := tag)
              ORDER BY n DESC, start ASC) AS cl
  FROM gcands GROUP BY doc_id
),
fold0 AS (
  SELECT tl.doc_id, list_transform(tl.t, x -> 'O') AS tags,
         list_transform(tl.t, x -> 'O') AS snap, 0 AS lvl,
         coalesce(c.cl, []) AS rem
  FROM tl LEFT JOIN gclist c USING (doc_id)
),
folded AS (
  WITH RECURSIVE f AS (
    SELECT doc_id, tags, snap, lvl, rem FROM fold0
    UNION ALL
    SELECT doc_id,
      CASE WHEN len(list_filter(snap2[rem[1].s + 1 : rem[1].s + rem[1].n],
                                x -> x = 'O')) > 0
           THEN list_transform(tags, (x, i) ->
                CASE WHEN i - 1 >= rem[1].s AND i - 1 < rem[1].s + rem[1].n
                     THEN CASE WHEN i - 1 = rem[1].s THEN 'B-' || rem[1].g
                               ELSE 'I-' || rem[1].g END
                     ELSE x END)
           ELSE tags END AS tags,
      snap2 AS snap, rem[1].n AS lvl, rem[2:] AS rem
    FROM (SELECT *, CASE WHEN rem[1].n != lvl THEN tags ELSE snap END AS snap2
          FROM f WHERE len(rem) > 0)
  )
  SELECT doc_id, tags FROM f WHERE len(rem) = 0
),
dtags AS (
  SELECT doc_id, i - 1 AS pos, tags[i] AS tag
  FROM folded, unnest(range(1, len(tags) + 1)) AS u(i)
),
segs AS (
  SELECT doc_id, pos, tag,
         sum(CASE WHEN tag NOT LIKE 'I-%' THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS seg
  FROM dtags
),
ment0 AS (
  SELECT doc_id, min(pos)::BIGINT AS start_idx, max(pos)::BIGINT AS end_idx,
         substr(arg_min(tag, pos), 3) AS tag
  FROM segs
  GROUP BY doc_id, seg
  HAVING arg_min(tag, pos) LIKE 'B-%'
),
ment AS (
  SELECT m.doc_id, m.start_idx, m.end_idx,
         string_agg(t.tok, ' ' ORDER BY t.pos) AS surface, m.tag
  FROM ment0 m JOIN toks t
    ON t.doc_id = m.doc_id AND t.pos BETWEEN m.start_idx AND m.end_idx
  GROUP BY m.doc_id, m.start_idx, m.end_idx, m.tag
),
mentsent AS (
  SELECT m.doc_id, s.sent_id, m.start_idx, m.end_idx, m.surface, m.tag
  FROM ment m JOIN sentid s ON m.doc_id = s.doc_id AND m.start_idx = s.pos
)""".replace("{GAZN}", _GAZN)

def _kmeans_ivf_sql(
    qids: str, n_cells: int = 64, iters: int = 3, dim: int = 64,
    nprobe: int = 4, k: int = 10, src: str = "embeddings",
    final: bool = True,
) -> str:
    """DuckDB replay of similarity.ivf_kmeans_topk: identical init (the
    n_cells lowest vec_ids), identical fixed Lloyd iterations with
    centroids rounded to 6 digits and assignment distances to 8 (so JVM
    vs DuckDB float-sum order lives below the rounding), identical
    nprobe probing and exact cosine re-rank."""
    d2 = (
        "round(list_aggregate(list_transform(range(1, {dim1}), "
        "d -> (e.embedding[d]::DOUBLE - c.cv[d]) * "
        "(e.embedding[d]::DOUBLE - c.cv[d])), 'sum'), 8)"
    ).format(dim1=dim + 1)
    parts = [f"""
e AS (SELECT vec_id, embedding FROM {src}),
c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
         list_transform(range(1, {dim + 1}),
                        d -> round(embedding[d]::DOUBLE, 6)) AS cv
  FROM (SELECT * FROM e ORDER BY vec_id LIMIT {n_cells})
)"""]
    for i in range(1, iters + 1):
        parts.append(f"""
a{i} AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {d2} ASC, c.cell ASC) AS rn
    FROM e, c{i - 1} c
  ) WHERE rn = 1
),
u{i} AS (
  SELECT a.cell, t.d, round(avg(e.embedding[t.d]::DOUBLE), 6) AS v
  FROM a{i} a JOIN e USING (vec_id), unnest(range(1, {dim + 1})) t(d)
  GROUP BY a.cell, t.d
),
c{i} AS (
  SELECT p.cell, coalesce(n.cv, p.cv) AS cv
  FROM c{i - 1} p LEFT JOIN (
    SELECT cell, list(v ORDER BY d) AS cv FROM u{i} GROUP BY cell
  ) n USING (cell)
)""")
    parts.append(f"""
corpus_cells AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {d2} ASC, c.cell ASC) AS rn
    FROM e, c{iters} c
  ) WHERE rn = 1
),
qa AS (
  SELECT query_id, q_emb, cell FROM (
    SELECT e.vec_id AS query_id, e.embedding AS q_emb, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {d2} ASC, c.cell ASC) AS rn
    FROM e, c{iters} c WHERE e.vec_id IN ({qids})
  ) WHERE rn <= {nprobe}
),
cand AS (
  SELECT qa.query_id, qa.q_emb, e.vec_id, e.embedding
  FROM qa JOIN corpus_cells cc USING (cell) JOIN e ON e.vec_id = cc.vec_id
  WHERE e.vec_id != qa.query_id
),
sc AS (
  SELECT query_id, vec_id,
         list_aggregate(list_transform(range(1, {dim + 1}),
           d -> q_emb[d]::DOUBLE * embedding[d]::DOUBLE), 'sum')
         / (sqrt(list_aggregate(list_transform(range(1, {dim + 1}),
              d -> q_emb[d]::DOUBLE * q_emb[d]::DOUBLE), 'sum'))
          * sqrt(list_aggregate(list_transform(range(1, {dim + 1}),
              d -> embedding[d]::DOUBLE * embedding[d]::DOUBLE), 'sum')))
         AS raw_score
  FROM cand
),
ranked AS (
  SELECT query_id, vec_id, raw_score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY raw_score DESC, vec_id ASC) AS rank
  FROM sc
)""")
    body = ",".join(parts)
    if not final:
        return body  # ends at ``ranked`` for callers that post-join
    return body + f"""
SELECT query_id, vec_id, rank::BIGINT AS rank, round(raw_score, 4) AS score
FROM ranked WHERE rank <= {k}
"""


def _wordpiece_sql(words_cte: str) -> str:
    """Recursive-CTE replay of the greedy WordPiece fold
    (kernels/wordpiece.py) over a ``{words_cte}(word)`` CTE; ends in
    ``wp (word, pieces)``."""
    sv = sql_str_list(config.WORDPIECE_START)
    cv = sql_str_list(config.WORDPIECE_CONT)
    branches = []
    for L in range(config.WORDPIECE_MAX, 0, -1):
        branches.append(
            f"WHEN pos + {L} - 1 <= length(word) AND "
            f"(CASE WHEN pos = 1 THEN substr(word, pos::INT, {L}) IN ({sv}) "
            f"ELSE substr(word, pos::INT, {L}) IN ({cv}) END) "
            f"THEN substr(word, pos::INT, {L})"
        )
    best = "CASE " + " ".join(branches) + " END"
    return f"""
wp AS (
  WITH RECURSIVE r AS (
    SELECT word, 1::BIGINT AS pos, []::VARCHAR[] AS pieces, false AS failed
    FROM {words_cte}
    UNION ALL
    SELECT word,
           CASE WHEN best IS NULL THEN length(word)::BIGINT + 1
                ELSE pos + length(best) END,
           CASE WHEN best IS NULL THEN ['[UNK]']
                ELSE list_append(pieces,
                     CASE WHEN pos = 1 THEN best ELSE '##' || best END) END,
           best IS NULL
    FROM (SELECT *, {best} AS best
          FROM r WHERE pos <= length(word) AND NOT failed)
  )
  SELECT word, pieces FROM r WHERE failed OR pos > length(word)
)"""


def _fold_ment_sql(src: str, p: str) -> str:
    """Slim variant of the _MENT fold over an arbitrary corpus CTE ``src``
    (doc_id, text), CTE names prefixed with ``p``; ends at ``{p}ment``
    (doc_id, start_idx, end_idx, tag) — no surfaces/sent ids (enough for
    the count-based balance oracle).  Requires ``gazn`` in scope."""
    return f"""
{p}tl AS (
  SELECT doc_id, t, len(t) AS nt
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM {src}
        WHERE text IS NOT NULL AND text != '')
),
{p}gcands AS (
  SELECT l.doc_id, u.i - 1 AS start, g.n, g.tag
  FROM {p}tl l, gazn g, unnest(range(1, l.nt - g.n + 2)) u(i)
  WHERE array_to_string(l.t[u.i : u.i + g.n - 1], ' ') = g.surface
),
{p}gclist AS (
  SELECT doc_id,
         list(struct_pack(s := start, n := n, g := tag)
              ORDER BY n DESC, start ASC) AS cl
  FROM {p}gcands GROUP BY doc_id
),
{p}fold0 AS (
  SELECT l.doc_id, list_transform(l.t, x -> 'O') AS tags,
         list_transform(l.t, x -> 'O') AS snap, 0 AS lvl,
         coalesce(c.cl, []) AS rem
  FROM {p}tl l LEFT JOIN {p}gclist c USING (doc_id)
),
{p}folded AS (
  WITH RECURSIVE f AS (
    SELECT doc_id, tags, snap, lvl, rem FROM {p}fold0
    UNION ALL
    SELECT doc_id,
      CASE WHEN len(list_filter(snap2[rem[1].s + 1 : rem[1].s + rem[1].n],
                                x -> x = 'O')) > 0
           THEN list_transform(tags, (x, i) ->
                CASE WHEN i - 1 >= rem[1].s AND i - 1 < rem[1].s + rem[1].n
                     THEN CASE WHEN i - 1 = rem[1].s THEN 'B-' || rem[1].g
                               ELSE 'I-' || rem[1].g END
                     ELSE x END)
           ELSE tags END AS tags,
      snap2 AS snap, rem[1].n AS lvl, rem[2:] AS rem
    FROM (SELECT *, CASE WHEN rem[1].n != lvl THEN tags ELSE snap END AS snap2
          FROM f WHERE len(rem) > 0)
  )
  SELECT doc_id, tags FROM f WHERE len(rem) = 0
),
{p}segs AS (
  SELECT doc_id, pos, tag,
         sum(CASE WHEN tag NOT LIKE 'I-%' THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS seg
  FROM (SELECT doc_id, i - 1 AS pos, tags[i] AS tag
        FROM {p}folded, unnest(range(1, len(tags) + 1)) AS u(i))
),
{p}ment AS (
  SELECT doc_id, min(pos)::BIGINT AS start_idx, max(pos)::BIGINT AS end_idx,
         substr(arg_min(tag, pos), 3) AS tag
  FROM {p}segs
  GROUP BY doc_id, seg
  HAVING arg_min(tag, pos) LIKE 'B-%'
)"""


_CORPUS = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 20 = 0
  UNION ALL
  SELECT doc_id + 2000000,
         array_to_string(t[1:greatest(len(t) - 3, 1)], ' ')
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
  WHERE doc_id % 20 = 10
)"""

_HTML_PRE = "<html><head><title>"
_HTML_MID = "</title></head><body><p>"
_HTML_POST = "</p></body></html>"


def _link_pages_sql(tag_sql: str) -> str:
    """``frag`` + ``html2`` CTEs replaying the engine's `_link_pages`
    build (1 + doc_id%3 anchors, ``tag_sql`` = one tag as a SQL
    expression over doc_id and j) — ONE source for every oracle that
    consumes the synthetic link crawl (q_link_graph / q_stream_links /
    q_hits / q_anchor_text / q_frontier), so an edit to the page build
    cannot silently diverge a subset of the replays (the _ann_core
    lesson)."""
    return f"""frag AS (
        SELECT doc_id, string_agg({tag_sql}, '' ORDER BY j) AS anchors
        FROM documents, unnest(range(0, doc_id % 3 + 1)) AS u(j)
        GROUP BY doc_id
      ),
      html2 AS (
        SELECT d.doc_id, d.source,
               '{_HTML_PRE}' || d.source || ' ' || d.doc_id::VARCHAR ||
               '{_HTML_MID}' || coalesce(d.text, '') || f.anchors ||
               '{_HTML_POST}' AS h
        FROM documents d JOIN frag f USING (doc_id)
      )"""


#: SQL twin of _src_anchor_tag (q_link_graph / q_hits / q_frontier)
_SRC_TAG_SQL = (
    "'<a href=\"https://src' || ((doc_id + j) % 20)::VARCHAR || "
    "'.example.com/doc/' || (doc_id + j + 1)::VARCHAR || '\">x</a>'"
)


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    # null/empty text tokenizes to an empty array on the Spark side
    # (mentions.with_tokens): n_tokens = 0, first/last NULL.
    o["q_tokenize"] = """
      SELECT doc_id,
             CASE WHEN text IS NULL OR text = '' THEN 0 ELSE len(t) END AS n_tokens,
             CASE WHEN text IS NULL OR text = '' THEN NULL ELSE t[1] END AS first_tok,
             CASE WHEN text IS NULL OR text = '' THEN NULL ELSE t[len(t)] END AS last_tok
      FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents)
    """

    o["q_sentences"] = f"""
      WITH {_TOKS}, {_SENTID}
      SELECT t.doc_id, s.sent_id, count(*) AS n_toks,
             arg_min(t.tok, t.pos) AS first_tok, arg_max(t.tok, t.pos) AS last_tok
      FROM toks t JOIN sentid s ON t.doc_id = s.doc_id AND t.pos = s.pos
      GROUP BY t.doc_id, s.sent_id
    """

    o["q_context_windows"] = f"""
      WITH {_TOKS}, {_SENTID},
      sents AS (
        SELECT t.doc_id, s.sent_id, count(*) AS n_toks,
               arg_min(t.tok, t.pos) AS first_tok, arg_max(t.tok, t.pos) AS last_tok
        FROM toks t JOIN sentid s ON t.doc_id = s.doc_id AND t.pos = s.pos
        GROUP BY t.doc_id, s.sent_id
      )
      SELECT doc_id, sent_id, n_toks, first_tok, last_tok,
             coalesce(lag(n_toks) OVER w, 0) AS left_1_n,
             coalesce(lead(n_toks) OVER w, 0) AS right_1_n
      FROM sents
      WINDOW w AS (PARTITION BY doc_id ORDER BY sent_id)
    """

    o["q_mentions"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT}
      SELECT * FROM mentsent
    """
    o["q_mentions_udf"] = o["q_mentions"]
    o["q_mentions_bigdict"] = o["q_mentions"]

    # deterministic per-wordpiece hidden-state dims: ±1 by md5 hex digit
    _emb_sums = ",\n             ".join(
        f"sum(CASE WHEN substr(md5(piece), {d + 1}, 1) IN "
        f"('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)::BIGINT AS s_{d}"
        for d in range(8)
    )
    _MENT_WP = f"""
      mtok AS (
        SELECT m.doc_id, m.start_idx, m.end_idx, m.surface, m.tag, w.word
        FROM ment m CROSS JOIN unnest(string_split(m.surface, ' ')) AS w(word)
      ),
      mwords AS (SELECT DISTINCT word FROM mtok),
      {_wordpiece_sql("mwords")}"""

    o["q_mention_embeddings"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      {_MENT_WP},
      mp AS (
        SELECT t.doc_id, t.start_idx, t.end_idx, t.surface, t.tag, p.piece
        FROM mtok t JOIN wp ON wp.word = t.word
        CROSS JOIN unnest(wp.pieces) AS p(piece)
      )
      SELECT doc_id, start_idx, end_idx, surface, tag,
             count(*)::BIGINT AS n_wp,
             {_emb_sums}
      FROM mp
      GROUP BY doc_id, start_idx, end_idx, surface, tag
    """

    _dot = " + ".join(f"q.q{d} * d.s_{d}" for d in range(8))
    _norm = " + ".join(f"s_{d} * s_{d}" for d in range(8))
    _qcols = ", ".join(f"s_{d} AS q{d}" for d in range(8))
    o["q_mention_ann"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      {_MENT_WP},
      surfs AS (SELECT DISTINCT surface, tag FROM ment),
      stok AS (
        SELECT s.surface, s.tag, w.word
        FROM surfs s CROSS JOIN unnest(string_split(s.surface, ' ')) AS w(word)
      ),
      sp AS (
        SELECT t.surface, t.tag, p.piece
        FROM stok t JOIN wp ON wp.word = t.word
        CROSS JOIN unnest(wp.pieces) AS p(piece)
      ),
      semb AS (
        SELECT surface, tag,
               {_emb_sums}
        FROM sp GROUP BY surface, tag
      ),
      sn AS (SELECT *, ({_norm})::BIGINT AS norm_sq FROM semb WHERE ({_norm}) > 0),
      q AS (SELECT surface AS q_surface, norm_sq AS q_norm, {_qcols}
            FROM sn WHERE tag = 'PER'),
      pairs AS (
        SELECT q.q_surface, d.surface AS n_surface, d.tag AS n_tag,
               ({_dot})::DOUBLE
               / (sqrt(q.q_norm::DOUBLE) * sqrt(d.norm_sq::DOUBLE)) AS cos
        FROM q, sn d WHERE d.surface != q.q_surface
      ),
      rk AS (
        SELECT *, row_number() OVER (
          PARTITION BY q_surface ORDER BY cos DESC, n_surface ASC, n_tag ASC
        ) AS rank FROM pairs
      )
      SELECT q_surface, n_surface, n_tag, rank::BIGINT AS rank,
             round(cos, 4) AS cos
      FROM rk WHERE rank <= 3
    """

    _mvec_emb = "[" + ", ".join(f"s_{d}::DOUBLE" for d in range(8)) + "]"
    o["q_mention_ann_ivf"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      {_MENT_WP},
      surfs AS (SELECT DISTINCT surface, tag FROM ment),
      stok AS (
        SELECT s.surface, s.tag, w.word
        FROM surfs s CROSS JOIN unnest(string_split(s.surface, ' ')) AS w(word)
      ),
      sp AS (
        SELECT t.surface, t.tag, p.piece
        FROM stok t JOIN wp ON wp.word = t.word
        CROSS JOIN unnest(wp.pieces) AS p(piece)
      ),
      semb AS (
        SELECT surface, tag,
               {_emb_sums}
        FROM sp GROUP BY surface, tag
      ),
      snn AS (SELECT * FROM semb WHERE ({_norm}) > 0),
      mvec AS (
        SELECT ('0x' || substr(md5(surface || '|' || tag), 1, 15))
                 ::UBIGINT::BIGINT AS vec_id,
               surface, tag, {_mvec_emb} AS embedding
        FROM snn
      ),
      {_kmeans_ivf_sql("SELECT vec_id FROM mvec WHERE tag = 'PER'",
                       n_cells=8, iters=2, dim=8, nprobe=6, k=3,
                       src="mvec", final=False)}
      SELECT qm.surface AS q_surface, dm.surface AS n_surface,
             dm.tag AS n_tag, r.rank::BIGINT AS rank,
             round(r.raw_score, 4) AS score
      FROM ranked r
      JOIN mvec qm ON qm.vec_id = r.query_id
      JOIN mvec dm ON dm.vec_id = r.vec_id
      WHERE r.rank <= 3
    """

    o["q_mention_class_ratios"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT}
      SELECT tag, count(*) AS n,
             round(count(*)::DOUBLE / sum(count(*)) OVER (), 6) AS ratio
      FROM ment GROUP BY tag
    """

    o["q_tag_frequencies"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      counts AS (SELECT tag, count(*) AS n FROM dtags GROUP BY tag)
      SELECT tag, n,
             round(n::DOUBLE / sum(n) OVER (), 6) AS freq,
             round(max(n) OVER ()::DOUBLE / n, 6) AS weight
      FROM counts
    """

    o["q_ner_score"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      naive AS (
        SELECT t.doc_id, s.sent_id, t.pos AS start_idx, t.pos AS end_idx,
               CASE WHEN t.tok IN ({_PER}) THEN 'PER' ELSE 'LOC' END AS tag
        FROM toks t JOIN sentid s ON t.doc_id = s.doc_id AND t.pos = s.pos
        WHERE t.tok IN ({_UNI})
      ),
      matched AS (
        SELECT count(*) AS n_match
        FROM naive p JOIN mentsent g
          ON p.doc_id = g.doc_id AND p.sent_id = g.sent_id
         AND p.start_idx = g.start_idx AND p.end_idx = g.end_idx AND p.tag = g.tag
      ),
      np AS (SELECT count(*) AS n_pred FROM naive),
      ng AS (SELECT count(*) AS n_gold FROM mentsent)
      SELECT n_pred, n_gold, n_match,
             round(n_match::DOUBLE / n_pred, 4) AS precision,
             round(n_match::DOUBLE / n_gold, 4) AS recall,
             round(2 * (n_match::DOUBLE / n_pred) * (n_match::DOUBLE / n_gold)
                   / ((n_match::DOUBLE / n_pred) + (n_match::DOUBLE / n_gold)), 4) AS f1
      FROM np, ng, matched
    """

    _NAIVE = f"""
      naive AS (
        SELECT t.doc_id, s.sent_id, t.pos AS start_idx, t.pos AS end_idx,
               t.tok AS surface,
               CASE WHEN t.tok IN ({_PER}) THEN 'PER' ELSE 'LOC' END AS tag
        FROM toks t JOIN sentid s ON t.doc_id = s.doc_id AND t.pos = s.pos
        WHERE t.tok IN ({_UNI})
      )"""

    o["q_prediction_errors"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT}, {_NAIVE}
      SELECT p.surface, 'false_positive' AS kind, count(*) AS n
      FROM naive p LEFT JOIN mentsent g
        ON p.doc_id = g.doc_id AND p.sent_id = g.sent_id
       AND p.start_idx = g.start_idx AND p.end_idx = g.end_idx AND p.tag = g.tag
      WHERE g.doc_id IS NULL GROUP BY p.surface
      UNION ALL
      SELECT g.surface, 'false_negative' AS kind, count(*) AS n
      FROM mentsent g LEFT JOIN naive p
        ON p.doc_id = g.doc_id AND p.sent_id = g.sent_id
       AND p.start_idx = g.start_idx AND p.end_idx = g.end_idx AND p.tag = g.tag
      WHERE p.doc_id IS NULL GROUP BY g.surface
    """

    o["q_per_lang_scores"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT}, {_NAIVE},
      pl AS (SELECT n.*, d.lang FROM naive n JOIN documents d ON n.doc_id = d.doc_id),
      gl AS (SELECT m.*, d.lang FROM mentsent m JOIN documents d ON m.doc_id = d.doc_id),
      np AS (SELECT lang, count(*) AS n_pred FROM pl GROUP BY lang),
      ng AS (SELECT lang, count(*) AS n_gold FROM gl GROUP BY lang),
      nm AS (
        SELECT p.lang, count(*) AS n_match
        FROM pl p JOIN gl g
          ON p.doc_id = g.doc_id AND p.sent_id = g.sent_id
         AND p.start_idx = g.start_idx AND p.end_idx = g.end_idx AND p.tag = g.tag
        GROUP BY p.lang
      )
      SELECT np.lang, n_pred, n_gold, coalesce(n_match, 0) AS n_match,
             round(coalesce(n_match, 0)::DOUBLE / n_pred, 4) AS precision,
             round(coalesce(n_match, 0)::DOUBLE / n_gold, 4) AS recall,
             round(2 * (coalesce(n_match,0)::DOUBLE / n_pred) * (coalesce(n_match,0)::DOUBLE / n_gold)
                   / ((coalesce(n_match,0)::DOUBLE / n_pred) + (coalesce(n_match,0)::DOUBLE / n_gold)), 4) AS f1
      FROM np JOIN ng USING (lang) LEFT JOIN nm USING (lang)
    """

    # PRECONDITION (ADVICE r4): this oracle encodes aug == gold by
    # self-intersecting mentsent, so it is valid only while the Arrow
    # model path (mentions_udf) emits EXACTLY the dictionary matcher's
    # mention set — it cannot detect extra aug-only mentions (they are
    # intersected away on the Spark side too).  That equality is pinned
    # independently of gate sampling by
    # tests/test_entry.py::test_udf_mentions_equal_inline.
    o["q_better_recalled"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT}, {_NAIVE},
      better AS (
        (SELECT DISTINCT doc_id, sent_id, start_idx, end_idx, surface, tag
         FROM mentsent
         INTERSECT
         SELECT DISTINCT doc_id, sent_id, start_idx, end_idx, surface, tag
         FROM mentsent)
        EXCEPT
        SELECT doc_id, sent_id, start_idx, end_idx, surface, tag FROM naive
      )
      SELECT surface, count(*)::BIGINT AS n FROM better GROUP BY surface
    """

    o["q_error_contexts"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT}, {_NAIVE},
      sctx AS (
        SELECT t.doc_id, s.sent_id, string_agg(t.tok, ' ' ORDER BY t.pos) AS stext
        FROM toks t JOIN sentid s ON t.doc_id = s.doc_id AND t.pos = s.pos
        GROUP BY t.doc_id, s.sent_id
      ),
      ctx AS (
        SELECT doc_id, sent_id,
               concat_ws(' ', lag(stext) OVER w, stext, lead(stext) OVER w)
                 AS context
        FROM sctx WINDOW w AS (PARTITION BY doc_id ORDER BY sent_id)
      ),
      err AS (
        SELECT doc_id, sent_id, start_idx, end_idx, surface, tag
        FROM naive WHERE tag = 'PER'
        EXCEPT
        SELECT doc_id, sent_id, start_idx, end_idx, surface, tag FROM mentsent
      )
      SELECT e.doc_id, e.start_idx, e.end_idx, e.surface, c.context
      FROM err e JOIN ctx c ON e.doc_id = c.doc_id AND e.sent_id = c.sent_id
    """

    o["q_mention_setops"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT}, {_NAIVE},
      ka AS (SELECT DISTINCT doc_id, sent_id, start_idx, end_idx, tag FROM naive),
      kb AS (SELECT DISTINCT doc_id, sent_id, start_idx, end_idx, tag FROM mentsent)
      SELECT *, 'both' AS membership FROM (SELECT * FROM ka INTERSECT SELECT * FROM kb)
      UNION ALL
      SELECT *, 'only_a' FROM (SELECT * FROM ka EXCEPT SELECT * FROM kb)
      UNION ALL
      SELECT *, 'only_b' FROM (SELECT * FROM kb EXCEPT SELECT * FROM ka)
    """

    o["q_capitalization"] = """
      SELECT doc_id, upper(text) AS new_text, upper(text) != text AS changed
      FROM documents
    """

    o["q_error_spans"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      flags AS (
        SELECT t.doc_id, t.pos,
               CASE WHEN (CASE WHEN t.tok IN ({_PER}) THEN 'B-PER'
                               WHEN t.tok IN ({_LOC}) THEN 'B-LOC'
                               ELSE 'O' END)
                    != d.tag THEN 1 ELSE 0 END AS neq
        FROM toks t JOIN dtags d ON t.doc_id = d.doc_id AND t.pos = d.pos
      ),
      starts AS (
        SELECT doc_id, pos, neq,
               CASE WHEN neq = 1 AND coalesce(lag(neq) OVER w, 0) = 0
                    THEN 1 ELSE 0 END AS is_start
        FROM flags
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
      ),
      runs AS (
        SELECT doc_id, pos, neq,
               sum(is_start) OVER (PARTITION BY doc_id ORDER BY pos) AS run_id
        FROM starts
      )
      SELECT doc_id, min(pos) AS span_start, max(pos) AS span_end,
             count(*) AS n_positions
      FROM runs WHERE neq = 1 GROUP BY doc_id, run_id
    """

    o["q_majority_voting"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      ent AS (
        SELECT surface, count(*) AS n_entity FROM ment
        WHERE start_idx = end_idx GROUP BY surface
      ),
      occ AS (
        SELECT e.surface, count(*) AS n_occ
        FROM toks t JOIN ent e ON t.tok = e.surface GROUP BY e.surface
      )
      SELECT e.surface, e.n_entity, o.n_occ - e.n_entity AS n_o,
             CASE WHEN e.n_entity > o.n_occ - e.n_entity
                  THEN 'ENTITY' ELSE 'O' END AS majority
      FROM ent e JOIN occ o ON e.surface = o.surface
    """

    # the triple-extraction select, shared by q_triples and the KG
    # consumption query q_two_hop (which re-aggregates it into edges)
    _TRI_SELECT = f"""
      SELECT s.doc_id, s.sent_id,
             s.surface AS subj, s.tag AS subj_tag,
             arg_min(p.tok, p.pos) AS pred,
             o.surface AS obj, o.tag AS obj_tag,
             s.start_idx AS subj_start, o.start_idx AS obj_start
      FROM mentsent s
      JOIN mentsent o
        ON s.doc_id = o.doc_id AND s.sent_id = o.sent_id
       AND o.start_idx > s.end_idx + 1
       AND o.start_idx <= s.end_idx + 1 + {_GAP}
      JOIN preds p
        ON p.doc_id = s.doc_id AND p.pos > s.end_idx AND p.pos < o.start_idx
      GROUP BY s.doc_id, s.sent_id, s.surface, s.tag, o.surface, o.tag,
               s.start_idx, o.start_idx"""

    o["q_triples"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      preds AS (SELECT doc_id, pos, tok FROM toks WHERE tok IN ({_PREDW}))
      {_TRI_SELECT}
    """

    # filtered-corruption replay: contiguous entity ids by binary
    # string order, md5-mod pick, anti-join against the true set
    o["q_kg_negatives"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      preds AS (SELECT doc_id, pos, tok FROM toks WHERE tok IN ({_PREDW})),
      tri0 AS ({_TRI_SELECT}),
      t AS (SELECT DISTINCT subj, pred, obj FROM tri0),
      ents AS (
        SELECT DISTINCT entity FROM (
          SELECT subj AS entity FROM t UNION SELECT obj AS entity FROM t
        )
      ),
      ids AS (
        SELECT entity, row_number() OVER (ORDER BY entity ASC) - 1 AS eid
        FROM ents
      ),
      n AS (SELECT count(*)::BIGINT AS n_ents FROM ids),
      cand AS (
        SELECT t.subj, t.pred, t.obj, u.j AS neg_id,
               (('0x' || substr(md5(t.subj || '|' || t.pred || '|' || t.obj
                                    || '|' || u.j::VARCHAR), 1, 12))::UBIGINT
                % (SELECT n_ents FROM n))::BIGINT AS eid
        FROM t, unnest(range(2)) AS u(j)
      ),
      corrupted AS (
        SELECT c.subj, c.pred, i.entity AS obj_neg, c.neg_id::BIGINT AS neg_id
        FROM cand c JOIN ids i USING (eid)
      )
      SELECT c.subj, c.pred, c.obj_neg, c.neg_id
      FROM corrupted c
      LEFT JOIN t ON t.subj = c.subj AND t.pred = c.pred AND t.obj = c.obj_neg
      WHERE t.subj IS NULL
    """

    # temporal validity replay: capture-survival arithmetic applied to
    # the extracted triple table (never re-extracting per capture)
    o["q_kg_validity"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      preds AS (SELECT doc_id, pos, tok FROM toks WHERE tok IN ({_PREDW})),
      tri AS ({_TRI_SELECT}),
      msent AS (SELECT doc_id, max(sent_id) AS max_sent FROM tri GROUP BY doc_id),
      a AS (
        SELECT t.subj, t.pred, t.obj,
               DATE '2024-01-01' + (t.doc_id % 7)::INT AS fs,
               DATE '2024-01-01'
                 + (t.doc_id % 7
                    + least(t.doc_id % 3, m.max_sent - t.sent_id))::INT AS ls,
               (least(t.doc_id % 3, m.max_sent - t.sent_id) + 1)::BIGINT AS ni
        FROM tri t JOIN msent m USING (doc_id)
      )
      SELECT subj, pred, obj,
             strftime(min(fs), '%Y-%m-%d') AS first_seen,
             strftime(max(ls), '%Y-%m-%d') AS last_seen,
             sum(ni)::BIGINT AS n_assertions,
             (min(fs) <= DATE '2024-01-03'
              AND DATE '2024-01-03' <= max(ls)) AS alive_at_probe
      FROM a GROUP BY subj, pred, obj
    """

    # NFC replay: the composed/decomposed suffixes are embedded as
    # literal UTF-8; DuckDB nfc_normalize (utf8proc) == Python
    # unicodedata NFC (verified bit-for-bit)
    o["q_unicode_nfc"] = """
      WITH amp AS (
        SELECT doc_id,
               coalesce(text, '') ||
               CASE WHEN doc_id % 2 = 0 THEN ' café' ELSE ' café' END AS text
        FROM documents
      )
      SELECT doc_id, md5(text) AS raw_hash,
             md5(nfc_normalize(text)) AS nfc_hash,
             md5(text) != md5(nfc_normalize(text)) AS changed
      FROM amp
    """

    # URL canonicalization replay: the same noise CASE, then the same
    # canonicalization spec re-implemented with regexp_extract (Java ∩
    # RE2 subset, no backreferences) + list_filter for the utm params
    o["q_url_canonical"] = """
      WITH noisy AS (
        SELECT doc_id,
          CASE doc_id % 5
            WHEN 1 THEN 'HTTPS://WWW.' || upper(source) || '.EXAMPLE.COM:443/doc/' || doc_id::VARCHAR
            WHEN 2 THEN 'https://' || source || '.example.com:443/doc/' || doc_id::VARCHAR || '?utm_source=feed&utm_campaign=x'
            WHEN 3 THEN 'http://' || source || '.example.com:8080/doc/' || doc_id::VARCHAR || '?utm_medium=m&page=2'
            WHEN 4 THEN 'https://www.' || source || '.example.com/doc/' || doc_id::VARCHAR || '#section-3'
            ELSE 'https://' || source || '.example.com/doc/' || doc_id::VARCHAR
          END AS url
        FROM documents
      ),
      parts AS (
        SELECT doc_id, url,
          lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS proto,
          lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*)', 1)) AS host0,
          regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*:([0-9]+)', 1) AS port,
          regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0,
          regexp_extract(url, '\\?([^#]*)', 1) AS query0
        FROM noisy
      ),
      canon AS (
        SELECT doc_id, url, proto, port,
          CASE WHEN starts_with(host0, 'www.') THEN substr(host0, 5) ELSE host0 END AS host,
          CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
          array_to_string(list_filter(str_split(query0, '&'),
                                      p -> NOT starts_with(p, 'utm_')), '&') AS query
        FROM parts
      ),
      built AS (
        SELECT doc_id, url, host,
          proto || '://' || host ||
          CASE WHEN port != '' AND NOT ((proto = 'http' AND port = '80')
                                     OR (proto = 'https' AND port = '443'))
               THEN ':' || port ELSE '' END ||
          path ||
          CASE WHEN query != '' THEN '?' || query ELSE '' END AS url_canon
        FROM canon
      )
      SELECT doc_id, url, url_canon, host,
             regexp_extract(host, '([^.]+\\.[^.]+)$', 1) AS domain,
             url != url_canon AS changed
      FROM built
    """

    # latest-capture replay: same deterministic recrawl amplifier, the
    # window form of the engine's max_by aggregate (ts then md5(text))
    o["q_latest_capture"] = """
      WITH pages AS (
        SELECT doc_id, text,
               'https://' || source || '.example.com/doc/' || doc_id::VARCHAR AS url,
               TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id) AS warc_ts
        FROM documents
      ),
      amp AS (
        SELECT url,
               warc_ts + to_minutes((cap * 3) % 7) AS warc_ts,
               text || ' (rev ' || cap::VARCHAR || ')' AS text
        FROM pages, unnest(range(0, (doc_id % 4) + 1)) AS u(cap)
      )
      SELECT url, count(*) OVER (PARTITION BY url) AS n_captures,
             warc_ts AS latest_ts, md5(text) AS text_hash
      FROM amp
      QUALIFY row_number() OVER (PARTITION BY url
                ORDER BY warc_ts DESC, md5(text) DESC) = 1
    """

    # SCD2 replay: the latest-capture amplifier with cap DIV 2 text
    # revisions, consecutive-dup collapse by lag, half-open validity
    # intervals by lead over the surviving revisions
    o["q_scd2"] = """
      WITH pages AS (
        SELECT doc_id, text,
               'https://' || source || '.example.com/doc/'
                 || doc_id::VARCHAR AS url,
               TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id)
                 AS warc_ts
        FROM documents
      ),
      amp AS (
        SELECT url, warc_ts + to_minutes((cap * 3) % 7) AS warc_ts,
               text || ' (rev ' || (cap // 2)::VARCHAR || ')' AS text
        FROM pages, unnest(range(0, (doc_id % 4) + 1)) AS u(cap)
      ),
      changed AS (
        SELECT url, warc_ts, text
        FROM (
          SELECT url, warc_ts, text,
                 lag(text) OVER (PARTITION BY url ORDER BY warc_ts)
                   AS prev
          FROM amp
        )
        WHERE prev IS NULL OR text != prev
      )
      SELECT url,
        row_number() OVER (PARTITION BY url ORDER BY warc_ts)::BIGINT
          AS version,
        warc_ts AS valid_from,
        coalesce(lead(warc_ts) OVER (PARTITION BY url ORDER BY warc_ts),
                 TIMESTAMP '9999-12-31 00:00:00') AS valid_to,
        lead(warc_ts) OVER (PARTITION BY url ORDER BY warc_ts) IS NULL
          AS is_current,
        md5(text) AS payload_hash
      FROM changed
    """

    # change-rate replay: the same amplifier, lag-detected changes,
    # exact integer minute spans, one division to changes/day
    o["q_change_rate"] = """
      WITH pages AS (
        SELECT doc_id, text,
               'https://' || source || '.example.com/doc/'
                 || doc_id::VARCHAR AS url,
               TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id)
                 AS warc_ts
        FROM documents
      ),
      amp AS (
        SELECT url, warc_ts + to_minutes((cap * 3) % 7) AS warc_ts,
               text || ' (rev ' || (cap // 2)::VARCHAR || ')' AS text
        FROM pages, unnest(range(0, (doc_id % 4) + 1)) AS u(cap)
      ),
      stepped AS (
        SELECT url, warc_ts,
          (CASE WHEN lag(text) OVER (PARTITION BY url ORDER BY warc_ts)
                     IS NOT NULL
                 AND text != lag(text) OVER (PARTITION BY url
                                             ORDER BY warc_ts)
                THEN 1 ELSE 0 END)::BIGINT AS chg
        FROM amp
      ),
      per AS (
        SELECT url, count(*)::BIGINT AS n_captures,
               sum(chg)::BIGINT AS n_changes,
               ((epoch_us(max(warc_ts)) - epoch_us(min(warc_ts)))
                  // 60000000)::BIGINT AS span_min
        FROM stepped GROUP BY url
      )
      SELECT url, n_captures, n_changes, span_min,
        round(CASE WHEN span_min > 0
          THEN n_changes::DOUBLE / (span_min::DOUBLE / 1440.0)
          ELSE 0.0 END, 6) AS change_rate
      FROM per
    """

    # hub-host skew replay: doc_id % 20 == 0 selects exactly one source
    # (the doc_id->source stride is 20), 8 copies for it, 1 otherwise
    o["q_host_skew"] = """
      WITH amp AS (
        SELECT source || '.example.com' AS host
        FROM documents,
             unnest(range(1, CASE WHEN doc_id % 20 = 0 THEN 9 ELSE 2 END)) AS u(c)
      ),
      per AS (SELECT host, count(*)::BIGINT AS n_rows FROM amp GROUP BY host),
      tot AS (SELECT sum(n_rows)::BIGINT AS t FROM per)
      SELECT host, n_rows, round(n_rows / tot.t, 6) AS share,
             row_number() OVER (ORDER BY n_rows DESC, host ASC) AS rank
      FROM per, tot
      QUALIFY row_number() OVER (ORDER BY n_rows DESC, host ASC) <= 5
    """

    # ER replay: distinct mention-surface vocabulary + delete-2nd-char
    # variants, blocked self-join, levenshtein (identical function in
    # both engines, verified) <= 2 with the length-band prefilter
    _ER_SURF = f"""
      {_TOKS}, {_SENTID}, {_MENT},
      surf0 AS (SELECT surface, tag FROM mentsent GROUP BY surface, tag),
      var AS (
        SELECT substr(surface, 1, 1) || substr(surface, 3) AS surface, tag
        FROM surf0 WHERE length(surface) >= 4
      ),
      surf AS (
        SELECT surface, tag
        FROM (SELECT * FROM surf0 UNION ALL SELECT * FROM var) u
        GROUP BY surface, tag
      ),
      p AS (
        SELECT l.tag, l.surface AS a, r.surface AS b,
               levenshtein(l.surface, r.surface) AS dist
        FROM surf l JOIN surf r
          ON l.tag = r.tag
         AND lower(substr(l.surface, 1, 1)) = lower(substr(r.surface, 1, 1))
        WHERE l.surface < r.surface
          AND abs(length(l.surface) - length(r.surface)) <= 2
          AND levenshtein(l.surface, r.surface) <= 2
      )"""

    o["q_er_pairs"] = f"""
      WITH {_ER_SURF}
      SELECT tag, a, b, dist FROM p
    """

    # MSF replay: the cut property — edge e is in the forest iff its
    # endpoints are NOT connected using strictly smaller edges under
    # the (w, a, b) total order (Kruskal's invariant; the engine's
    # Borůvka yields the identical unique forest under that order).
    # Per-edge bounded reachability: walk state is Σ|component| rows,
    # fine at the gate's co-mention-graph size.
    o["q_msf"] = f"""
      WITH RECURSIVE {_TOKS}, {_SENTID}, {_MENT},
      ew AS (
        SELECT a.surface AS a, b.surface AS b, count(*)::BIGINT AS cnt
        FROM mentsent a JOIN mentsent b
          ON a.doc_id = b.doc_id AND a.sent_id = b.sent_id
         AND a.surface < b.surface
        GROUP BY 1, 2
      ),
      ranked AS (
        SELECT a, b, 1.0 / cnt AS w,
               row_number() OVER (ORDER BY 1.0 / cnt, a, b) AS rnk
        FROM ew
      ),
      walk(rnk, node) AS (
        SELECT rnk, a FROM ranked
        UNION
        SELECT w.rnk,
               CASE WHEN s.a = w.node THEN s.b ELSE s.a END
        FROM walk w JOIN ranked s
          ON s.rnk < w.rnk AND (s.a = w.node OR s.b = w.node)
      )
      SELECT r.a, r.b, r.w
      FROM ranked r
      WHERE NOT EXISTS (
        SELECT 1 FROM walk w WHERE w.rnk = r.rnk AND w.node = r.b
      )
    """

    # single-linkage replay: the SLINK≡MST-cut equivalence — clusters
    # at threshold t are the connected components of the ≤t subgraph of
    # the FULL graph (the engine cuts the Borůvka forest; the cycle
    # property makes the two identical), min-member labels, cut-off
    # nodes as singletons
    o["q_single_link"] = f"""
      WITH RECURSIVE {_TOKS}, {_SENTID}, {_MENT},
      ew AS (
        SELECT a.surface AS a, b.surface AS b, count(*)::BIGINT AS cnt
        FROM mentsent a JOIN mentsent b
          ON a.doc_id = b.doc_id AND a.sent_id = b.sent_id
         AND a.surface < b.surface
        GROUP BY 1, 2
      ),
      keep AS (SELECT a, b FROM ew WHERE 1.0 / cnt <= 0.5),
      sym AS (SELECT a, b FROM keep UNION SELECT b, a FROM keep),
      reach(src, dst) AS (
        SELECT a, a FROM sym
        UNION
        SELECT r.src, e.b FROM reach r JOIN sym e ON r.dst = e.a
      ),
      labels AS (SELECT src AS entity, min(dst) AS cluster
                 FROM reach GROUP BY src),
      -- DISTINCT over UNION ALL, not bare UNION: inside a WITH
      -- RECURSIVE clause DuckDB 1.0 does not dedup a non-recursive
      -- CTE's UNION (observed: 42+42 rows survive)
      nodes AS (SELECT DISTINCT entity FROM (
        SELECT a AS entity FROM ew UNION ALL SELECT b FROM ew))
      SELECT n.entity, coalesce(l.cluster, n.entity) AS cluster
      FROM nodes n LEFT JOIN labels l USING (entity)
    """

    # densest-subgraph replay: the Bahmani peel unrolled round-by-round
    # with the IDENTICAL (2·(1+ε)·m)/n double threshold expression as
    # the engine loop; best round = ORDER BY density DESC, round ASC
    # (≡ the engine's strictly-greater earliest-wins argmax)
    _dsg_rounds = 12
    # every per-round CTE is MATERIALIZED: each references the previous
    # round several times, and DuckDB's default inlining re-evaluates
    # per reference — exponential rescans across 12 rounds (observed as
    # "Too many open files" on the documents scan)
    _dsg = ["""e0 AS MATERIALIZED (
        SELECT DISTINCT a.surface AS a, b.surface AS b
        FROM mentsent a JOIN mentsent b
          ON a.doc_id = b.doc_id AND a.sent_id = b.sent_id
         AND a.surface < b.surface
      ),
      n0 AS MATERIALIZED (SELECT DISTINCT node FROM (
        SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0))"""]
    for _i in range(_dsg_rounds + 1):
        _dsg.append(f"""
      st{_i} AS MATERIALIZED (
        SELECT {_i}::BIGINT AS round,
               (SELECT count(*)::DOUBLE FROM e{_i}) AS m,
               (SELECT count(*)::DOUBLE FROM n{_i}) AS n)""")
        if _i < _dsg_rounds:
            _dsg.append(f"""
      d{_i} AS MATERIALIZED (
        SELECT node, count(*)::BIGINT AS deg FROM (
          SELECT a AS node FROM e{_i} UNION ALL SELECT b FROM e{_i}
        ) GROUP BY node),
      n{_i + 1} AS MATERIALIZED (
        SELECT d.node FROM d{_i} d, st{_i} s
        WHERE d.deg > (2.0 * (1.0 + 1.0) * s.m) / s.n),
      e{_i + 1} AS MATERIALIZED (
        SELECT e.a, e.b FROM e{_i} e
        JOIN n{_i + 1} x ON e.a = x.node
        JOIN n{_i + 1} y ON e.b = y.node)""")
    _dsg_stats = " UNION ALL ".join(
        f"SELECT * FROM st{_i}" for _i in range(_dsg_rounds + 1)
    )
    _dsg_members = " UNION ALL ".join(
        f"SELECT {_i}::BIGINT AS round, node FROM n{_i}"
        for _i in range(_dsg_rounds + 1)
    )
    o["q_densest"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      {",".join(_dsg)},
      stats AS (SELECT round, m / n AS density
                FROM ({_dsg_stats}) WHERE m > 0 AND n > 0),
      best AS (SELECT round, density FROM stats
               ORDER BY density DESC, round ASC LIMIT 1),
      members AS ({_dsg_members})
      SELECT mb.node AS entity, round(b.density, 6) AS density
      FROM members mb JOIN best b USING (round)
    """

    # simplified-silhouette replay: the SAME k-means CTE chain as
    # q_ann_ivf_kmeans (qids picks nothing — the query/rank CTEs go
    # unreferenced and are pruned), then per-vector distances to the
    # final centroids, (d2, cell)-ranked: a = rank-1 (the assignment),
    # b = rank-2, s = (√b−√a)/max — per-cell means
    o["q_silhouette"] = f"""
      WITH {_kmeans_ivf_sql("NULL", final=False)},
      sdists AS (
        SELECT e.vec_id, c.cell,
               round(list_aggregate(list_transform(range(1, 65),
                 d -> (e.embedding[d]::DOUBLE - c.cv[d])
                    * (e.embedding[d]::DOUBLE - c.cv[d])), 'sum'), 8) AS d2
        FROM e, c3 c
      ),
      srk AS (SELECT vec_id, cell, d2,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY d2 ASC, cell ASC) AS rn
              FROM sdists),
      sab AS (SELECT a.vec_id, a.cell, sqrt(a.d2) AS da, sqrt(b.d2) AS db
              FROM srk a JOIN srk b
                ON a.vec_id = b.vec_id AND a.rn = 1 AND b.rn = 2)
      SELECT cell, count(*)::BIGINT AS n,
             round(avg(CASE WHEN greatest(da, db) = 0 THEN 0.0
                            ELSE (db - da) / greatest(da, db) END), 6)
               AS mean_silhouette
      FROM sab GROUP BY cell
    """

    # Luby-MIS replay: the deterministic md5||node priorities make every
    # round a pure function of the graph — unroll them (MATERIALIZED:
    # each round references the previous several times)
    _mis_rounds = 12
    _mis = ["""l0 AS MATERIALIZED (
        SELECT a, b FROM (
          SELECT DISTINCT a.surface AS a, b.surface AS b
          FROM mentsent a JOIN mentsent b
            ON a.doc_id = b.doc_id AND a.sent_id = b.sent_id
           AND a.surface != b.surface
        )
      ),
      u0 AS MATERIALIZED (SELECT DISTINCT a AS node FROM l0)"""]
    for _i in range(_mis_rounds):
        _mis.append(f"""
      mis{_i} AS MATERIALIZED (
        SELECT u.node, {_i}::BIGINT AS round
        FROM u{_i} u LEFT JOIN (
          SELECT a AS node, min(md5(b) || b) AS nb FROM l{_i} GROUP BY a
        ) nm USING (node)
        WHERE nm.nb IS NULL OR (md5(u.node) || u.node) < nm.nb
      ),
      rem{_i} AS MATERIALIZED (
        SELECT DISTINCT node FROM (
          SELECT node FROM mis{_i}
          UNION ALL
          SELECT l.b AS node FROM l{_i} l JOIN mis{_i} m ON l.a = m.node
        )
      ),
      u{_i + 1} AS MATERIALIZED (
        SELECT u.node FROM u{_i} u
        WHERE NOT EXISTS (SELECT 1 FROM rem{_i} r WHERE r.node = u.node)
      ),
      l{_i + 1} AS MATERIALIZED (
        SELECT l.a, l.b FROM l{_i} l
        JOIN u{_i + 1} x ON l.a = x.node
        JOIN u{_i + 1} y ON l.b = y.node
      )""")
    _mis_out = " UNION ALL ".join(
        f"SELECT node, round FROM mis{_i}" for _i in range(_mis_rounds)
    )
    o["q_mis"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      {",".join(_mis)}
      SELECT node AS entity, round FROM ({_mis_out})
    """

    # edge-cut replay: the established md5-12-hex ↔ conv(hex,16,10)
    # bucket identity, one flag per (edge, k)
    o["q_edge_cut"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      edges AS (
        SELECT DISTINCT a.surface AS a, b.surface AS b
        FROM mentsent a JOIN mentsent b
          ON a.doc_id = b.doc_id AND a.sent_id = b.sent_id
         AND a.surface < b.surface
      ),
      fl AS (
        SELECT t.k,
               CASE WHEN (('0x' || substr(md5(a), 1, 12))::UBIGINT % t.k)
                      != (('0x' || substr(md5(b), 1, 12))::UBIGINT % t.k)
                    THEN 1 ELSE 0 END AS cut
        FROM edges, unnest([4, 8, 16]) t(k)
      )
      SELECT k::BIGINT AS k, count(*)::BIGINT AS edges,
             sum(cut)::BIGINT AS cut_edges,
             round(sum(cut)::DOUBLE / count(*), 6) AS cut_frac
      FROM fl GROUP BY k
    """

    # seasonal-decomposition replay: exact-integer-sums contract —
    # cents-scaled BIGINT daily totals, integer window SUM, integer
    # seasonal numerator; every emitted number is ONE double division,
    # so JVM/DuckDB aggregation order cannot move it.  dow numbering
    # differs per side (Spark 1-7, DuckDB 0-6) but is internal-only;
    # the GROUPS are identical
    o["q_decompose"] = """
      WITH daily AS (
        SELECT event_type, ts::DATE AS d,
               round(sum(value) * 100, 0)::BIGINT AS daily_c
        FROM events GROUP BY 1, 2
      ),
      tr AS (
        SELECT event_type, d, daily_c,
               CASE WHEN count(*) OVER w = 7
                    THEN sum(daily_c) OVER w END AS sum_c,
               dayofweek(d) AS dow
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY d
                     ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
      ),
      tn AS (SELECT *, 7 * daily_c - sum_c AS num FROM tr),
      sm AS (SELECT event_type, dow,
                    sum(num)::DOUBLE / (700.0 * count(*)) AS s_raw
             FROM tn WHERE sum_c IS NOT NULL GROUP BY 1, 2)
      SELECT t.event_type, strftime(t.d, '%Y-%m-%d') AS d,
             round(t.daily_c / 100.0, 6) AS daily,
             round(t.sum_c / 700.0, 6) AS trend,
             round(s.s_raw, 6) AS seasonal,
             round(t.num / 700.0 - s.s_raw, 6) AS remainder
      FROM tn t JOIN sm s USING (event_type, dow)
      WHERE t.sum_c IS NOT NULL
    """

    # Mann–Kendall replay: exact-integer S / tie terms, one division
    # for Var, division+sqrt for z — identical arithmetic order
    o["q_mann_kendall"] = """
      WITH daily AS (
        SELECT event_type, ts::DATE AS d,
               round(sum(value) * 100, 0)::BIGINT AS x
        FROM events GROUP BY 1, 2
      ),
      s AS (SELECT a.event_type, sum(sign(b.x - a.x))::BIGINT AS s_stat
            FROM daily a JOIN daily b
              ON a.event_type = b.event_type AND a.d < b.d
            GROUP BY 1),
      nn AS (SELECT event_type, count(*)::BIGINT AS n FROM daily GROUP BY 1),
      ties AS (SELECT event_type,
                      sum(t * (t - 1) * (2 * t + 5))::BIGINT AS tie_term
               FROM (SELECT event_type, x, count(*)::BIGINT AS t
                     FROM daily GROUP BY 1, 2)
               GROUP BY 1),
      v AS (SELECT n.event_type, n.n, s.s_stat,
                   (n.n * (n.n - 1) * (2 * n.n + 5) - t.tie_term) / 18.0
                     AS var_raw
            FROM nn n JOIN s USING (event_type) JOIN ties t USING (event_type))
      SELECT event_type, n, s_stat, round(var_raw, 6) AS var_s,
             round(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_raw)
                        WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_raw)
                        ELSE 0.0 END, 6) AS z
      FROM v
    """

    # CDC replay: same stateless token-anchor predicate (md5-4-hex ↔
    # conv identity), same per-doc cumulative boundary sum, chunk text
    # re-assembled in pos order on both sides
    o["q_cdc_chunks"] = """
      WITH tk AS (
        SELECT doc_id, string_split(coalesce(text, ''), ' ') AS l
        FROM documents WHERE coalesce(text, '') != ''
      ),
      grid AS (
        SELECT doc_id, i AS pos, l[i] AS tok
        FROM tk, unnest(range(1, len(l) + 1)) u(i)
      ),
      anch AS (
        SELECT doc_id, pos, tok,
               CASE WHEN ('0x' || substr(md5(tok), 1, 4))::UBIGINT % 8 = 0
                    THEN 1 ELSE 0 END AS boundary
        FROM grid
      ),
      cid AS (
        SELECT *, sum(boundary) OVER (PARTITION BY doc_id ORDER BY pos)
                 AS chunk_id
        FROM anch
      ),
      ch AS (
        SELECT doc_id, chunk_id,
               md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
        FROM cid GROUP BY 1, 2
      ),
      fr AS (SELECT chunk_hash, count(DISTINCT doc_id) AS n_docs
             FROM ch GROUP BY 1)
      SELECT c.doc_id, count(*)::BIGINT AS n_chunks,
             sum(CASE WHEN f.n_docs > 1 THEN 1 ELSE 0 END)::BIGINT
               AS dup_chunks,
             round(sum(CASE WHEN f.n_docs > 1 THEN 1 ELSE 0 END)::DOUBLE
                   / count(*), 6) AS dup_ratio
      FROM ch c JOIN fr f USING (chunk_hash) GROUP BY 1
    """

    # greedy-coverage replay: the 10 rounds unrolled (MATERIALIZED —
    # each references dt and the previous covered set repeatedly);
    # argmax = ORDER BY gain DESC, doc_id ASC LIMIT 1 ≡ the engine's
    # packed-min
    _cov_k = 10
    _cov = ["""dt AS MATERIALIZED (
        SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS tok
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) ct,
             unnest(range(1, len(t) - 1)) AS u(i)
        WHERE len(t) >= 3
      ),
      cov0 AS MATERIALIZED (SELECT tok FROM dt WHERE 1 = 0)"""]
    for _i in range(_cov_k):
        _cov.append(f"""
      g{_i} AS MATERIALIZED (
        SELECT doc_id, count(*)::BIGINT AS gain
        FROM dt d
        WHERE NOT EXISTS (SELECT 1 FROM cov{_i} c WHERE c.tok = d.tok)
        GROUP BY doc_id),
      w{_i} AS MATERIALIZED (
        SELECT {_i}::BIGINT AS rank, doc_id, gain FROM g{_i}
        ORDER BY gain DESC, doc_id ASC LIMIT 1),
      cov{_i + 1} AS MATERIALIZED (
        SELECT DISTINCT tok FROM (
          SELECT tok FROM cov{_i}
          UNION ALL
          SELECT d.tok FROM dt d JOIN w{_i} w ON d.doc_id = w.doc_id))""")
    _cov_out = " UNION ALL ".join(
        f"SELECT rank, doc_id, gain FROM w{_i}" for _i in range(_cov_k)
    )
    o["q_greedy_coverage"] = f"""
      WITH {",".join(_cov)}
      SELECT rank, doc_id, gain FROM ({_cov_out})
    """

    # Horvitz–Thompson replay: exact π from the md5-bucket membership,
    # integer Σx/Σx² per stratum, one division per output number in
    # the engine's expression order
    _ht_rate = "CASE stratum " + " ".join(
        f"WHEN '{s}' THEN {m}" for s, m in sorted(HT_RATES.items())
    ) + " ELSE 0 END"
    o["q_ht_estimate"] = f"""
      WITH base AS (
        SELECT source AS stratum, doc_id,
               len(string_split(coalesce(text, ''), ' '))::BIGINT AS x
        FROM documents
      ),
      tagged AS (
        SELECT stratum, x, ({_ht_rate})::BIGINT AS pi_mille,
               (('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::UBIGINT
                % 1000)::BIGINT AS bucket
        FROM base
      ),
      est AS (
        SELECT stratum, pi_mille, count(*)::BIGINT AS n_sampled,
               sum(x)::BIGINT AS sx, sum(x * x)::BIGINT AS sxx
        FROM tagged WHERE bucket < pi_mille GROUP BY 1, 2
      ),
      truth AS (
        SELECT stratum, sum(x)::BIGINT AS true_tokens FROM base GROUP BY 1
      )
      SELECT e.stratum, e.pi_mille, e.n_sampled,
             round(e.sx / (e.pi_mille / 1000.0), 6) AS est_tokens,
             t.true_tokens,
             round(e.sxx * (1.0 - e.pi_mille / 1000.0)
                   / ((e.pi_mille / 1000.0) * (e.pi_mille / 1000.0)), 6)
               AS var_est,
             round((e.sx / (e.pi_mille / 1000.0) - t.true_tokens)
                   / t.true_tokens, 6) AS rel_err
      FROM est e JOIN truth t USING (stratum)
    """

    # SPRT replay: the Wald constants are python literals embedded at
    # full repr precision — neither engine takes a log
    import math as _math

    _sp_c1 = _math.log(0.04 / 0.02)
    _sp_c0 = _math.log((1.0 - 0.04) / (1.0 - 0.02))
    _sp_up = _math.log((1.0 - 0.05) / 0.05)
    _sp_lo = _math.log(0.05 / (1.0 - 0.05))
    o["q_sprt"] = f"""
      WITH daily AS (
        SELECT ts::DATE AS d,
               sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT
                 AS nt,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
                 AS ns
        FROM events GROUP BY 1
      ),
      cum AS (
        SELECT d, (sum(nt) OVER w)::BIGINT AS n_trials,
               (sum(ns) OVER w)::BIGINT AS n_success
        FROM daily
        WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
      )
      SELECT strftime(d, '%Y-%m-%d') AS d, n_trials, n_success,
             round(n_success * {_sp_c1!r}
                   + (n_trials - n_success) * {_sp_c0!r}, 6) AS llr,
             CASE WHEN n_success * {_sp_c1!r}
                       + (n_trials - n_success) * {_sp_c0!r} >= {_sp_up!r}
                  THEN 'accept_h1'
                  WHEN n_success * {_sp_c1!r}
                       + (n_trials - n_success) * {_sp_c0!r} <= {_sp_lo!r}
                  THEN 'accept_h0'
                  ELSE 'continue' END AS decision
      FROM cum
    """

    # Gopher rule-gate replay: identical integer counts (length-diff
    # symbol occurrences, list filters, stop-word intersection) and the
    # same cross-multiplied thresholds — no float anywhere
    _gstops = ", ".join(
        f"'{w}'" for w in textstats.GOPHER_STOPS
    )
    o["q_gopher_rules"] = f"""
      WITH base AS (
        SELECT doc_id, coalesce(text, '') AS t FROM documents
      ),
      m AS (
        SELECT doc_id,
          len(string_split(t, ' '))::BIGINT AS n,
          len(string_split(t, chr(10)))::BIGINT AS n_lines,
          (length(t) - (len(string_split(t, ' ')) - 1))::BIGINT
            AS chars_in_words,
          (length(t) - length(replace(t, '#', '')))::BIGINT AS n_hash,
          ((length(t) - length(replace(t, '...', ''))) // 3)::BIGINT
            AS n_ellipsis,
          len(list_filter(string_split(t, chr(10)),
              l -> starts_with(l, '- ') OR starts_with(l, '* ')))::BIGINT
            AS n_bullet,
          len(list_filter(string_split(t, chr(10)),
              l -> ends_with(l, '...')))::BIGINT AS n_ell_end,
          len(list_filter(string_split(t, ' '),
              x -> regexp_matches(x, '[A-Za-z]')))::BIGINT AS n_alpha,
          len(list_intersect(list_distinct(string_split(t, ' ')),
              [{_gstops}]))::BIGINT AS n_stops
        FROM base
      )
      SELECT doc_id, n AS n_words,
        (n >= 50 AND n <= 100000) AS ok_words,
        (chars_in_words >= 3 * n AND chars_in_words <= 10 * n)
          AS ok_mean_len,
        ((n_hash + n_ellipsis) * 10 <= n) AS ok_symbols,
        (n_bullet * 10 <= n_lines * 9) AS ok_bullets,
        (n_ell_end * 10 <= n_lines * 3) AS ok_ellipsis,
        (n_alpha * 5 >= n * 4) AS ok_alpha,
        (n_stops >= 2) AS ok_stops,
        ((n >= 50 AND n <= 100000)
         AND (chars_in_words >= 3 * n AND chars_in_words <= 10 * n)
         AND ((n_hash + n_ellipsis) * 10 <= n)
         AND (n_bullet * 10 <= n_lines * 9)
         AND (n_ell_end * 10 <= n_lines * 3)
         AND (n_alpha * 5 >= n * 4)
         AND (n_stops >= 2)) AS keep
      FROM m
    """

    # C4 line-clean replay: identical line synthesis, the same string
    # predicates per line, same doc gate
    o["q_c4_clean"] = """
      WITH base AS (
        SELECT doc_id,
               replace(coalesce(text, ''), ' the ', '.' || chr(10)) AS t
        FROM documents
      ),
      m AS (
        SELECT doc_id, t,
          string_split(t, chr(10)) AS lines,
          list_filter(string_split(t, chr(10)),
            l -> (ends_with(l, '.') OR ends_with(l, '!')
                  OR ends_with(l, '?') OR ends_with(l, '"'))
                 AND len(string_split(l, ' ')) >= 5
                 AND NOT contains(lower(l), 'javascript')) AS kept
        FROM base
      )
      SELECT doc_id, len(lines)::BIGINT AS n_lines,
             len(kept)::BIGINT AS n_kept,
             coalesce(array_to_string(kept, chr(10)), '') AS kept_text,
             (contains(lower(t), 'lorem ipsum') OR contains(t, '{')
              OR len(kept) < 3) AS doc_dropped
      FROM m
    """

    # χ² independence replay: same integer contingency cells, the
    # level cross restoring zero cells, the same long→double square
    # and single division per cell
    o["q_chi2_independence"] = """
      WITH base AS (
        SELECT lang::VARCHAR AS r, source::VARCHAR AS c FROM documents
        WHERE lang IS NOT NULL AND source IS NOT NULL
      ),
      obs AS (SELECT r, c, count(*)::BIGINT AS o FROM base GROUP BY 1, 2),
      rmarg AS (SELECT r, sum(o)::BIGINT AS rn FROM obs GROUP BY 1),
      cmarg AS (SELECT c, sum(o)::BIGINT AS cn FROM obs GROUP BY 1),
      tot AS (SELECT count(*)::BIGINT AS n FROM base),
      cells AS (
        SELECT rmarg.r, cmarg.c, rn, cn, coalesce(o, 0)::BIGINT AS o
        FROM rmarg CROSS JOIN cmarg
        LEFT JOIN obs ON obs.r = rmarg.r AND obs.c = cmarg.c
      ),
      terms AS (
        SELECT n, r, c,
               ((o * n - rn * cn)::DOUBLE * (o * n - rn * cn)::DOUBLE)
                 / (n::DOUBLE * rn::DOUBLE * cn::DOUBLE) AS term
        FROM cells CROSS JOIN tot
      ),
      folded AS (
        SELECT max(n)::BIGINT AS n,
               count(DISTINCT r)::BIGINT AS r_levels,
               count(DISTINCT c)::BIGINT AS c_levels,
               sum(term) AS chi2_raw
        FROM terms
      )
      SELECT n, r_levels, c_levels,
             ((r_levels - 1) * (c_levels - 1))::BIGINT AS dof,
             round(CASE WHEN (r_levels - 1) * (c_levels - 1) > 0
                        THEN chi2_raw ELSE 0.0 END, 6) AS chi2,
             round(CASE WHEN least(r_levels - 1, c_levels - 1) > 0
                             AND n > 0
                        THEN sqrt(chi2_raw
                                  / (n::DOUBLE
                                     * least(r_levels - 1, c_levels - 1)))
                        ELSE 0.0 END, 6) AS cramers_v
      FROM folded
    """

    # Page–Hinkley replay: identical day-level exact-integer sums, the
    # same ordered cumulative windows (fixed fold order on both
    # engines), literal delta/lambda
    o["q_page_hinkley"] = """
      WITH daily AS (
        SELECT ts::DATE AS d,
               sum(round(value * 100)::BIGINT)::BIGINT AS cents,
               count(*)::BIGINT AS cnt
        FROM events GROUP BY 1
      ),
      cum AS (
        SELECT d, cents / 100.0 / cnt AS x,
               (sum(cents) OVER w) / 100.0 / (sum(cnt) OVER w) AS run_mean
        FROM daily
        WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
      ),
      stepped AS (
        SELECT d, x, run_mean, x - run_mean - 0.5 AS term FROM cum
      ),
      mt AS (
        SELECT d, x, run_mean, sum(term) OVER w AS m_t FROM stepped
        WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
      ),
      ph AS (
        SELECT d, x, run_mean, m_t, m_t - min(m_t) OVER w AS ph FROM mt
        WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
      )
      SELECT strftime(d, '%Y-%m-%d') AS d, round(x, 6) AS x,
             round(run_mean, 6) AS run_mean, round(m_t, 6) AS m_t,
             round(ph, 6) AS ph, ph > 50.0 AS alarm
      FROM ph
    """

    # Kruskal–Wallis replay: doubled integer ranks off the
    # distinct-value table, exact group sums, the same one-division
    # terms; the Σ over ~5 group terms is the only float sum (error
    # ~1e-15 relative, below the 1e-6 rounding)
    o["q_kruskal_wallis"] = """
      WITH vals AS (
        SELECT event_type AS k, round(value * 100, 0)::BIGINT AS x
        FROM events
      ),
      vc AS (SELECT x, count(*)::BIGINT AS c FROM vals GROUP BY x),
      ranked AS (
        SELECT x, c,
               2 * coalesce(sum(c) OVER (ORDER BY x
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + c + 1 AS rank2
        FROM vc
      ),
      gx AS (SELECT k, x, count(*)::BIGINT AS cnt FROM vals GROUP BY 1, 2),
      groups AS (
        SELECT k, sum(cnt)::BIGINT AS n,
               sum(cnt * rank2)::BIGINT AS rank_sum2
        FROM gx JOIN ranked USING (x) GROUP BY k
      ),
      tot AS (
        SELECT sum(c)::BIGINT AS bign, sum(c * c * c - c)::BIGINT AS ties
        FROM ranked
      ),
      hsum AS (
        SELECT 3.0 * sum(rank_sum2::DOUBLE * rank_sum2 / n)
                 / (bign * (bign + 1)) - 3.0 * (bign + 1) AS h_raw,
               bign, ties
        FROM groups, tot GROUP BY bign, ties
      ),
      hh AS (
        SELECT h_raw,
               CASE WHEN ties < bign * bign * bign - bign
                    THEN h_raw / (1.0 - ties
                         / (bign * bign * bign - bign))
                    ELSE 0.0 END AS hc_raw
        FROM hsum
      )
      SELECT g.k AS event_type, g.n, g.rank_sum2,
             round(h.h_raw, 6) AS h, round(h.hc_raw, 6) AS h_corrected
      FROM groups g, hh h
    """

    # k-center replay: the farthest-point rounds unrolled — same
    # 8-digit squared-L2, same (d2 DESC, vec_id ASC) argmax, growing
    # selected set re-materialized per round
    _kc_d2 = (
        "round(list_aggregate(list_transform(range(1, 65), "
        "d -> (e.embedding[d]::DOUBLE - s.embedding[d]::DOUBLE) * "
        "(e.embedding[d]::DOUBLE - s.embedding[d]::DOUBLE)), 'sum'), 8)"
    )
    _kc = ["""e AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
      sel0 AS MATERIALIZED (
        SELECT vec_id, embedding FROM e ORDER BY vec_id LIMIT 1),
      w0 AS MATERIALIZED (
        SELECT 0::BIGINT AS rank, vec_id, 0.0 AS dist FROM sel0)"""]
    for _i in range(1, 8):
        _kc.append(f"""
      md{_i} AS MATERIALIZED (
        SELECT e.vec_id, min({_kc_d2}) AS d2
        FROM e, sel{_i - 1} s GROUP BY e.vec_id),
      w{_i} AS MATERIALIZED (
        SELECT {_i}::BIGINT AS rank, vec_id, round(d2, 6) AS dist
        FROM md{_i} WHERE d2 > 0
        ORDER BY d2 DESC, vec_id ASC LIMIT 1),
      sel{_i} AS MATERIALIZED (
        SELECT vec_id, embedding FROM sel{_i - 1}
        UNION ALL
        SELECT e.vec_id, e.embedding FROM e JOIN w{_i} USING (vec_id))""")
    _kc_out = " UNION ALL ".join(
        f"SELECT rank, vec_id, dist FROM w{_i}" for _i in range(8)
    )
    o["q_kcenter"] = f"""
      WITH {",".join(_kc)}
      SELECT rank, vec_id, dist FROM ({_kc_out})
    """

    # Jones–Plassmann replay: the MIS unroll with winners-only removal
    _jp_rounds = 16
    _jp = ["""jl0 AS MATERIALIZED (
        SELECT a, b FROM (
          SELECT DISTINCT a.surface AS a, b.surface AS b
          FROM mentsent a JOIN mentsent b
            ON a.doc_id = b.doc_id AND a.sent_id = b.sent_id
           AND a.surface != b.surface
        )
      ),
      ju0 AS MATERIALIZED (SELECT DISTINCT a AS node FROM jl0)"""]
    for _i in range(_jp_rounds):
        _jp.append(f"""
      jw{_i} AS MATERIALIZED (
        SELECT u.node, {_i}::BIGINT AS color
        FROM ju{_i} u LEFT JOIN (
          SELECT a AS node, min(md5(b) || b) AS nb FROM jl{_i} GROUP BY a
        ) nm USING (node)
        WHERE nm.nb IS NULL OR (md5(u.node) || u.node) < nm.nb
      ),
      ju{_i + 1} AS MATERIALIZED (
        SELECT u.node FROM ju{_i} u
        WHERE NOT EXISTS (SELECT 1 FROM jw{_i} w WHERE w.node = u.node)
      ),
      jl{_i + 1} AS MATERIALIZED (
        SELECT l.a, l.b FROM jl{_i} l
        JOIN ju{_i + 1} x ON l.a = x.node
        JOIN ju{_i + 1} y ON l.b = y.node
      )""")
    _jp_out = " UNION ALL ".join(
        f"SELECT node, color FROM jw{_i}" for _i in range(_jp_rounds)
    )
    o["q_coloring"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      {",".join(_jp)}
      SELECT node AS entity, color FROM ({_jp_out})
    """

    # rolling-active replay: identical dedup-first fan-out
    o["q_rolling_active"] = """
      WITH pairs AS (
        SELECT DISTINCT event_type, ts::DATE AS ud, user_id FROM events
      ),
      span AS (SELECT min(ts::DATE) AS lo, max(ts::DATE) AS hi FROM events),
      fanned AS (
        SELECT event_type, user_id, ud + i::INTEGER AS d
        FROM pairs, unnest(range(0, 7)) u(i)
      ),
      agg AS (
        SELECT event_type, d, count(DISTINCT user_id)::BIGINT AS active_users
        FROM fanned GROUP BY 1, 2
      )
      SELECT event_type, strftime(d, '%Y-%m-%d') AS d, active_users
      FROM agg, span
      WHERE d >= lo + 6 AND d <= hi
    """

    # skyline replay: the definition — NOT EXISTS a row >= on both
    # dims and > on one (the engine's grid pruning is purely physical)
    o["q_skyline"] = """
      WITH od AS (
        SELECT o_orderkey, o_totalprice,
               date_diff('day', DATE '1992-01-01',
                         o_orderdate::DATE)::BIGINT AS o_days
        FROM orders
      )
      SELECT r.o_orderkey, r.o_totalprice, r.o_days
      FROM od r
      WHERE NOT EXISTS (
        SELECT 1 FROM od s
        WHERE s.o_totalprice >= r.o_totalprice AND s.o_days >= r.o_days
          AND (s.o_totalprice > r.o_totalprice OR s.o_days > r.o_days)
      )
    """

    # SNM replay: same normalized key, row_number sort position, band
    # self-join bounded by the window (the engine's explode+equi-join
    # produces exactly these pairs)
    o["q_snm_pairs"] = f"""
      WITH {_ER_SURF},
      k AS (
        SELECT surface, tag,
               regexp_replace(lower(surface), '[^a-z0-9]', '', 'g')
                 AS snm_key
        FROM surf
      ),
      r AS (
        SELECT surface, tag, snm_key,
               row_number() OVER (ORDER BY snm_key, surface, tag) AS idx
        FROM k
      )
      SELECT a.surface AS surface_a, a.tag AS tag_a,
             b.surface AS surface_b, b.tag AS tag_b,
             (b.idx - a.idx)::BIGINT AS gap,
             levenshtein(a.surface, b.surface)::BIGINT AS dist,
             levenshtein(a.surface, b.surface) <= 2 AS is_match
      FROM r a JOIN r b ON b.idx BETWEEN a.idx + 1 AND a.idx + 3
    """

    # Shared contingency cells for the cluster-eval family (B³ / MUC /
    # ARI): gold = recursive CC over the origin↔variant truth edges,
    # predicted = recursive CC over the candidate-pair graph, records
    # in neither graph are singletons of themselves.
    _ER_CELLS = f"""
      WITH {_ER_SURF},
      rec AS (SELECT tag || '|' || surface AS rid FROM surf),
      tv AS (
        SELECT tag || '|' || substr(surface, 1, 1) || substr(surface, 3) AS a,
               tag || '|' || surface AS b
        FROM surf0 WHERE length(surface) >= 4
      ),
      gnodes AS (SELECT a AS n FROM tv UNION SELECT b FROM tv),
      gedges AS (SELECT a, b FROM tv UNION SELECT b AS a, a AS b FROM tv),
      grr AS (
        WITH RECURSIVE walk AS (
          SELECT n AS node, n AS lab FROM gnodes
          UNION
          SELECT e.b AS node, walk.lab FROM walk JOIN gedges e ON e.a = walk.node
        )
        SELECT node, min(lab) AS cid FROM walk GROUP BY node
      ),
      e0 AS (SELECT tag || '|' || a AS a, tag || '|' || b AS b FROM p),
      pnodes AS (SELECT a AS n FROM e0 UNION SELECT b FROM e0),
      pedges AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
      prr AS (
        WITH RECURSIVE walk AS (
          SELECT n AS node, n AS lab FROM pnodes
          UNION
          SELECT e.b AS node, walk.lab FROM walk JOIN pedges e ON e.a = walk.node
        )
        SELECT node, min(lab) AS cid FROM walk GROUP BY node
      ),
      r AS (
        SELECT rec.rid, coalesce(g.cid, rec.rid) AS g, coalesce(pp.cid, rec.rid) AS p
        FROM rec
        LEFT JOIN grr g ON g.node = rec.rid
        LEFT JOIN prr pp ON pp.node = rec.rid
      ),
      cells AS (SELECT p, g, count(*)::BIGINT AS i FROM r GROUP BY 1, 2)"""

    # B³ replay: cell identity with per-cell micro-quantized
    # contributions over the shared cells
    o["q_b3_eval"] = f"""
      {_ER_CELLS},
      psz AS (SELECT p, sum(i)::BIGINT AS pc FROM cells GROUP BY p),
      gsz AS (SELECT g, sum(i)::BIGINT AS gc FROM cells GROUP BY g),
      cont AS (
        SELECT round(1000000.0 * c.i * c.i / psz.pc, 0)::BIGINT AS pq,
               round(1000000.0 * c.i * c.i / gsz.gc, 0)::BIGINT AS rq,
               c.i
        FROM cells c JOIN psz USING (p) JOIN gsz USING (g)
      ),
      tot AS (
        SELECT sum(pq)::BIGINT AS pqs, sum(rq)::BIGINT AS rqs,
               sum(i)::BIGINT AS n
        FROM cont
      )
      SELECT n AS n_records,
             round(pqs::DOUBLE / n::DOUBLE / 1000000.0, 6) AS b3_precision,
             round(rqs::DOUBLE / n::DOUBLE / 1000000.0, 6) AS b3_recall,
             round(2.0 * (pqs::DOUBLE / n::DOUBLE / 1000000.0)
                       * (rqs::DOUBLE / n::DOUBLE / 1000000.0)
                   / ((pqs::DOUBLE / n::DOUBLE / 1000000.0)
                      + (rqs::DOUBLE / n::DOUBLE / 1000000.0)),
                   6) AS b3_f1
      FROM tot
    """

    # FM replay: exact binomial folds off the shared cells
    o["q_fm_eval"] = f"""
      {_ER_CELLS},
      tp_n AS (
        SELECT sum((i * (i - 1)) // 2)::BIGINT AS tp,
               sum(i)::BIGINT AS n
        FROM cells
      ),
      pa AS (
        SELECT sum((s * (s - 1)) // 2)::BIGINT AS tpfp
        FROM (SELECT p, sum(i)::BIGINT AS s FROM cells GROUP BY p)
      ),
      gb AS (
        SELECT sum((s * (s - 1)) // 2)::BIGINT AS tpfn
        FROM (SELECT g, sum(i)::BIGINT AS s FROM cells GROUP BY g)
      )
      SELECT t.n AS n_records, t.tp,
        (pa.tpfp - t.tp)::BIGINT AS fp,
        (gb.tpfn - t.tp)::BIGINT AS fn,
        round(coalesce(CASE WHEN pa.tpfp > 0 AND gb.tpfn > 0
          THEN t.tp::DOUBLE / sqrt(pa.tpfp::DOUBLE * gb.tpfn::DOUBLE)
          END, 0.0), 6) AS fm
      FROM tp_n t, pa, gb
    """

    # VI replay: entropies and MI off the shared cells, every term
    # micro-quantized at 10^9 into exact integer sums
    o["q_vi_eval"] = f"""
      {_ER_CELLS},
      psz AS (SELECT p, sum(i)::BIGINT AS s FROM cells GROUP BY p),
      gsz AS (SELECT g, sum(i)::BIGINT AS s FROM cells GROUP BY g),
      nt AS (SELECT sum(i)::BIGINT AS n FROM cells),
      hp AS (
        SELECT sum(round(1000000000.0 * (s::DOUBLE / n::DOUBLE)
                   * ln(s::DOUBLE / n::DOUBLE), 0)::BIGINT)::BIGINT AS hpq
        FROM psz, nt
      ),
      hg AS (
        SELECT sum(round(1000000000.0 * (s::DOUBLE / n::DOUBLE)
                   * ln(s::DOUBLE / n::DOUBLE), 0)::BIGINT)::BIGINT AS hgq
        FROM gsz, nt
      ),
      mi AS (
        SELECT sum(round(1000000000.0 * (c.i::DOUBLE / nt.n::DOUBLE)
                   * ln((c.i::DOUBLE * nt.n::DOUBLE)
                        / (pp.s::DOUBLE * gg.s::DOUBLE)), 0)
                   ::BIGINT)::BIGINT AS miq
        FROM cells c JOIN psz pp USING (p) JOIN gsz gg USING (g), nt
      )
      SELECT nt.n AS n_records,
        round(-(hpq::DOUBLE / 1000000000.0), 6) AS h_pred,
        round(-(hgq::DOUBLE / 1000000000.0), 6) AS h_gold,
        round(miq::DOUBLE / 1000000000.0, 6) AS mi,
        round(-(hpq::DOUBLE / 1000000000.0)
              + -(hgq::DOUBLE / 1000000000.0)
              - 2.0 * (miq::DOUBLE / 1000000000.0), 6) AS vi
      FROM nt, hp, hg, mi
    """

    # MUC replay: link-based P/R off the shared cells — per gold
    # cluster its size and distinct-pred-cell count (Vilain 1995),
    # every term an exact bigint
    o["q_muc_eval"] = f"""
      {_ER_CELLS},
      gfold AS (
        SELECT g, sum(i)::BIGINT AS sz, count(*)::BIGINT AS parts
        FROM cells GROUP BY g
      ),
      pfold AS (
        SELECT p, sum(i)::BIGINT AS sz, count(*)::BIGINT AS parts
        FROM cells GROUP BY p
      ),
      gt AS (
        SELECT sum(sz - parts)::BIGINT AS rn, sum(sz - 1)::BIGINT AS rd,
               sum(sz)::BIGINT AS n
        FROM gfold
      ),
      pt AS (
        SELECT sum(sz - parts)::BIGINT AS pn, sum(sz - 1)::BIGINT AS pd
        FROM pfold
      )
      SELECT n AS n_records,
             round(CASE WHEN pd > 0 THEN pn::DOUBLE / pd::DOUBLE END, 6)
               AS muc_precision,
             round(CASE WHEN rd > 0 THEN rn::DOUBLE / rd::DOUBLE END, 6)
               AS muc_recall,
             round(CASE WHEN rd > 0 AND pd > 0
                         AND pn::DOUBLE / pd::DOUBLE
                             + rn::DOUBLE / rd::DOUBLE > 0
                        THEN 2.0 * (pn::DOUBLE / pd::DOUBLE)
                             * (rn::DOUBLE / rd::DOUBLE)
                             / (pn::DOUBLE / pd::DOUBLE
                                + rn::DOUBLE / rd::DOUBLE)
                   END, 6) AS muc_f1
      FROM gt, pt
    """

    # ARI replay: chance-corrected pair counting off the shared cells
    # (Hubert & Arabie 1985) — binomials exact (x·(x−1) is even so
    # DIV 2 is lossless), expectation and ratio float
    o["q_ari_eval"] = f"""
      {_ER_CELLS},
      cc AS (
        SELECT sum((i * (i - 1)) // 2)::BIGINT AS sij,
               sum(i)::BIGINT AS n
        FROM cells
      ),
      pa AS (
        SELECT sum((sz * (sz - 1)) // 2)::BIGINT AS sa
        FROM (SELECT p, sum(i)::BIGINT AS sz FROM cells GROUP BY p)
      ),
      gb AS (
        SELECT sum((sz * (sz - 1)) // 2)::BIGINT AS sb
        FROM (SELECT g, sum(i)::BIGINT AS sz FROM cells GROUP BY g)
      ),
      t AS (
        SELECT cc.sij, cc.n, pa.sa, gb.sb,
               ((cc.n * (cc.n - 1)) // 2)::BIGINT AS n2
        FROM cc, pa, gb
      )
      SELECT n AS n_records, sij AS sum_cell_c2, sa AS sum_pred_c2,
             sb AS sum_gold_c2,
             round(CASE WHEN n2 > 0
                         AND (sa + sb) / 2.0
                             - sa::DOUBLE * sb::DOUBLE / n2::DOUBLE != 0
                        THEN (sij::DOUBLE
                              - sa::DOUBLE * sb::DOUBLE / n2::DOUBLE)
                             / ((sa + sb) / 2.0
                                - sa::DOUBLE * sb::DOUBLE / n2::DOUBLE)
                   END, 6) AS ari
      FROM t
    """

    # recursive reachability-min over the tag-prefixed pair graph (the
    # q_dedup_clusters oracle shape on string node ids; ASCII-only
    # surfaces so Spark/DuckDB lexicographic min agree)
    o["q_er_resolve"] = f"""
      WITH {_ER_SURF},
      e0 AS (SELECT tag || '|' || a AS a, tag || '|' || b AS b FROM p),
      nodes AS (SELECT a AS n FROM e0 UNION SELECT b FROM e0),
      edges AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
      rr AS (
        WITH RECURSIVE walk AS (
          SELECT n AS node, n AS lab FROM nodes
          UNION
          SELECT e.b AS node, walk.lab FROM walk JOIN edges e ON e.a = walk.node
        )
        SELECT node, min(lab) AS canonical FROM walk GROUP BY node
      )
      SELECT split_part(node, '|', 1) AS tag,
             substr(node, strpos(node, '|') + 1) AS surface,
             substr(canonical, strpos(canonical, '|') + 1) AS canonical,
             node != canonical AS is_alias
      FROM rr
    """

    # provenance replay: same bounded-example slice (both engines'
    # slice(list, 1, k) keeps the k smallest after the sort)
    o["q_triple_provenance"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      preds AS (SELECT doc_id, pos, tok FROM toks WHERE tok IN ({_PREDW})),
      tri AS ({_TRI_SELECT})
      SELECT subj, pred, obj,
             count(DISTINCT doc_id)::BIGINT AS n_docs,
             count(*)::BIGINT AS n_sents,
             min(doc_id)::BIGINT AS first_doc,
             array_to_string(list_slice(list_sort(list(DISTINCT doc_id)), 1, 3), ',')
               AS example_docs
      FROM tri GROUP BY subj, pred, obj
    """

    # N-Triples replay: identical string build; replace order pinned
    # ('%' first) so the encoding is injective on both engines
    o["q_ntriples"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      preds AS (SELECT doc_id, pos, tok FROM toks WHERE tok IN ({_PREDW})),
      tri AS ({_TRI_SELECT}),
      d AS (SELECT DISTINCT subj, pred, obj FROM tri)
      SELECT subj, pred, obj,
        '<http://kg.example.org/e/' || replace(replace(subj, '%', '%25'), ' ', '%20') ||
        '> <http://kg.example.org/r/' || replace(replace(pred, '%', '%25'), ' ', '%20') ||
        '> <http://kg.example.org/e/' || replace(replace(obj, '%', '%25'), ' ', '%20') ||
        '> .' AS ntriple
      FROM d
    """

    # BFS replay: depth-bounded recursive reachability; min(dist) ==
    # the engine's first-discovery anti-join semantics
    o["q_bfs"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      preds AS (SELECT doc_id, pos, tok FROM toks WHERE tok IN ({_PREDW})),
      tri AS ({_TRI_SELECT}),
      e0 AS (SELECT DISTINCT subj AS a, obj AS b FROM tri),
      edges AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
      seeds AS (SELECT DISTINCT a AS node FROM edges WHERE a LIKE 'hash%'),
      rr AS (
        WITH RECURSIVE walk AS (
          SELECT node, 0 AS dist FROM seeds
          UNION
          SELECT e.b AS node, walk.dist + 1 AS dist
          FROM walk JOIN edges e ON e.a = walk.node
          WHERE walk.dist < 3
        )
        SELECT node, min(dist) AS dist FROM walk GROUP BY node
      )
      SELECT node, dist::INT AS dist FROM rr
    """

    # betweenness replay: walks of length ≤ 3 enumerated by a UNION ALL
    # recursion (σ = count of walks at min dist — every min-length walk
    # IS a shortest path), then the Brandes dependency recursion
    # unrolled over the three levels; same σ-ratio divisions, same
    # per-(src,v) float sums, leaves coalesced to δ = 0
    o["q_betweenness"] = f"""
      WITH RECURSIVE {_TOKS}, {_SENTID}, {_MENT},
      preds AS (SELECT doc_id, pos, tok FROM toks WHERE tok IN ({_PREDW})),
      tri AS ({_TRI_SELECT}),
      e0 AS (SELECT DISTINCT subj AS a, obj AS b FROM tri),
      edges AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
      seeds AS (SELECT DISTINCT a AS node FROM edges WHERE a LIKE 'hash%'),
      walk(src, node, dist) AS (
        SELECT node, node, 0 FROM seeds
        UNION ALL
        SELECT w.src, e.b, w.dist + 1
        FROM walk w JOIN edges e ON e.a = w.node
        WHERE w.dist < 3
      ),
      dmin AS (SELECT src, node, min(dist) AS dist FROM walk GROUP BY 1, 2),
      sig AS (
        SELECT w.src, w.node, d.dist, count(*)::BIGINT AS sigma
        FROM walk w JOIN dmin d
          ON w.src = d.src AND w.node = d.node AND w.dist = d.dist
        GROUP BY 1, 2, 3
      ),
      l1 AS (SELECT src, node, sigma FROM sig WHERE dist = 1),
      l2 AS (SELECT src, node, sigma FROM sig WHERE dist = 2),
      l3 AS (SELECT src, node, sigma FROM sig WHERE dist = 3),
      c2 AS (
        SELECT l2.src, l2.node,
               sum(l2.sigma::DOUBLE / l3.sigma::DOUBLE * (1.0 + 0.0))
                 AS delta
        FROM l2 JOIN edges e ON e.a = l2.node
        JOIN l3 ON l3.src = l2.src AND l3.node = e.b
        GROUP BY 1, 2
      ),
      d2 AS (
        SELECT l2.src, l2.node, l2.sigma,
               coalesce(c2.delta, 0.0) AS delta
        FROM l2 LEFT JOIN c2 ON c2.src = l2.src AND c2.node = l2.node
      ),
      c1 AS (
        SELECT l1.src, l1.node,
               sum(l1.sigma::DOUBLE / d2.sigma::DOUBLE * (1.0 + d2.delta))
                 AS delta
        FROM l1 JOIN edges e ON e.a = l1.node
        JOIN d2 ON d2.src = l1.src AND d2.node = e.b
        GROUP BY 1, 2
      ),
      d1 AS (
        SELECT l1.src, l1.node, coalesce(c1.delta, 0.0) AS delta
        FROM l1 LEFT JOIN c1 ON c1.src = l1.src AND c1.node = l1.node
      ),
      allparts AS (
        SELECT src, node, 0.0 AS delta FROM l3
        UNION ALL SELECT src, node, delta FROM d2
        UNION ALL SELECT src, node, delta FROM d1
      )
      SELECT node, round(sum(delta), 6) AS bc FROM allparts GROUP BY node
    """

    # link-graph replay: same deterministic anchor injection into the
    # synthesized html, same RE2-subset href extraction, host-level agg
    o["q_link_graph"] = f"""
      WITH {_link_pages_sql(_SRC_TAG_SQL)},
      links AS (
        SELECT source || '.example.com' AS src_host,
               unnest(regexp_extract_all(h, 'href="([^"]*)"', 1)) AS target_url
        FROM html2
      )
      SELECT src_host,
             lower(regexp_extract(target_url, '://([^/?#:]*)', 1)) AS dst_host,
             count(*)::BIGINT AS n_links
      FROM links
      GROUP BY src_host, dst_host
    """

    # the incremental link sink must converge to the batch edge table:
    # decomposable counts ⇒ identical oracle
    o["q_stream_links"] = o["q_link_graph"]

    # same synthetic link crawl as q_link_graph, then two unrolled HITS
    # iterations in INTEGER arithmetic (h0 = 1 ⇒ a1 = in-degree) with
    # normalization deferred to one exact final division — the engine's
    # determinism device replayed literally
    o["q_hits"] = f"""
      WITH {_link_pages_sql(_SRC_TAG_SQL)},
      links AS (
        SELECT source || '.example.com' AS src_host,
               unnest(regexp_extract_all(h, 'href="([^"]*)"', 1)) AS target_url
        FROM html2
      ),
      edges AS (
        SELECT DISTINCT src_host AS s,
               lower(regexp_extract(target_url, '://([^/?#:]*)', 1)) AS d
        FROM links
      ),
      nodes AS (SELECT s AS node FROM edges UNION SELECT d FROM edges),
      a1 AS (
        SELECT n.node, coalesce(x.a, 0)::BIGINT AS a
        FROM nodes n LEFT JOIN (
          SELECT d AS node, count(*)::BIGINT AS a FROM edges GROUP BY d
        ) x USING (node)
      ),
      h1 AS (
        SELECT n.node, coalesce(x.h, 0)::BIGINT AS h
        FROM nodes n LEFT JOIN (
          SELECT e.s AS node, sum(a1.a)::BIGINT AS h
          FROM edges e JOIN a1 ON e.d = a1.node GROUP BY e.s
        ) x USING (node)
      ),
      a2 AS (
        SELECT n.node, coalesce(x.a, 0)::BIGINT AS a
        FROM nodes n LEFT JOIN (
          SELECT e.d AS node, sum(h1.h)::BIGINT AS a
          FROM edges e JOIN h1 ON e.s = h1.node GROUP BY e.d
        ) x USING (node)
      ),
      h2 AS (
        SELECT n.node, coalesce(x.h, 0)::BIGINT AS h
        FROM nodes n LEFT JOIN (
          SELECT e.s AS node, sum(a2.a)::BIGINT AS h
          FROM edges e JOIN a2 ON e.d = a2.node GROUP BY e.s
        ) x USING (node)
      ),
      tot AS (SELECT sum(h)::DOUBLE AS th FROM h2),
      tota AS (SELECT sum(a)::DOUBLE AS ta FROM a2)
      SELECT n.node,
             round(h2.h / (SELECT th FROM tot), 6) AS hub,
             round(a2.a / (SELECT ta FROM tota), 6) AS authority
      FROM nodes n JOIN h2 USING (node) JOIN a2 USING (node)
    """

    # directed host edges + node set of the synthetic link crawl —
    # shared by the Katz/SimRank twins (mirrors the q_hits CTEs; the
    # engine side shares _host_edges the same way)
    _host_edges_cte = f"""{_link_pages_sql(_SRC_TAG_SQL)},
      links AS (
        SELECT source || '.example.com' AS src_host,
               unnest(regexp_extract_all(h, 'href="([^"]*)"', 1)) AS target_url
        FROM html2
      ),
      edges AS (
        SELECT DISTINCT src_host AS src,
               lower(regexp_extract(target_url, '://([^/?#:]*)', 1)) AS dst
        FROM links
      ),
      nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)"""

    # SALSA, 2 iterations unrolled: fixed-point 10^12 scores, exact
    # integral floor division per edge term (h // outdeg, a // indeg),
    # identical integers both engines, one final normalization
    o["q_salsa"] = f"""
      WITH {_host_edges_cte},
      outd AS (SELECT src AS node, count(*)::BIGINT AS od
               FROM edges GROUP BY src),
      ind AS (SELECT dst AS node, count(*)::BIGINT AS indeg
              FROM edges GROUP BY dst),
      h0 AS (SELECT node, 1000000000000::BIGINT AS h FROM nodes),
      a1r AS (
        SELECT e.dst AS node, sum(h.h // o.od)::BIGINT AS a
        FROM edges e JOIN h0 h ON h.node = e.src
                     JOIN outd o ON o.node = e.src
        GROUP BY e.dst
      ),
      a1 AS (SELECT n.node, coalesce(r.a, 0)::BIGINT AS a
             FROM nodes n LEFT JOIN a1r r USING (node)),
      h1r AS (
        SELECT e.src AS node, sum(a.a // i.indeg)::BIGINT AS h
        FROM edges e JOIN a1 a ON a.node = e.dst
                     JOIN ind i ON i.node = e.dst
        GROUP BY e.src
      ),
      h1 AS (SELECT n.node, coalesce(r.h, 0)::BIGINT AS h
             FROM nodes n LEFT JOIN h1r r USING (node)),
      a2r AS (
        SELECT e.dst AS node, sum(h.h // o.od)::BIGINT AS a
        FROM edges e JOIN h1 h ON h.node = e.src
                     JOIN outd o ON o.node = e.src
        GROUP BY e.dst
      ),
      a2 AS (SELECT n.node, coalesce(r.a, 0)::BIGINT AS a
             FROM nodes n LEFT JOIN a2r r USING (node)),
      h2r AS (
        SELECT e.src AS node, sum(a.a // i.indeg)::BIGINT AS h
        FROM edges e JOIN a2 a ON a.node = e.dst
                     JOIN ind i ON i.node = e.dst
        GROUP BY e.src
      ),
      h2 AS (SELECT n.node, coalesce(r.h, 0)::BIGINT AS h
             FROM nodes n LEFT JOIN h2r r USING (node)),
      j AS (SELECT h2.node, h2.h, a2.a FROM h2 JOIN a2 USING (node)),
      tot AS (SELECT sum(h)::DOUBLE AS th, sum(a)::DOUBLE AS ta FROM j)
      SELECT node,
        round(CASE WHEN th > 0 THEN h / th ELSE 0.0 END, 6) AS hub,
        round(CASE WHEN ta > 0 THEN a / ta ELSE 0.0 END, 6) AS authority
      FROM j, tot
    """

    # Katz centrality: the three walk-count levels are exact BIGINT
    # aggregates; the series collapses over the common denominator 4^3
    # with ONE final IEEE division per node (engine: graph.katz)
    o["q_katz"] = f"""
      WITH {_host_edges_cte},
      w1 AS (SELECT dst AS node, count(*)::BIGINT AS w FROM edges GROUP BY dst),
      w2 AS (SELECT e.dst AS node, sum(w1.w)::BIGINT AS w
             FROM edges e JOIN w1 ON e.src = w1.node GROUP BY e.dst),
      w3 AS (SELECT e.dst AS node, sum(w2.w)::BIGINT AS w
             FROM edges e JOIN w2 ON e.src = w2.node GROUP BY e.dst)
      SELECT n.node,
             round((coalesce(a.w, 0) * 16 + coalesce(b.w, 0) * 4
                    + coalesce(c.w, 0))::DOUBLE / 64.0, 9) AS katz
      FROM nodes n LEFT JOIN w1 a USING (node) LEFT JOIN w2 b USING (node)
                   LEFT JOIN w3 c USING (node)
    """

    # SimRank, 2 iterations unrolled: fixed-point BIGINT scores
    # (scale 10^12), each iteration one exact integer sum over
    # in-neighbor pairs + one integer floor division — the identical
    # ops the engine replays (graph.simrank), so values match
    # bit-for-bit; s0 = diagonal, only nonzero pairs carried
    o["q_simrank"] = f"""
      WITH {_host_edges_cte},
      indeg AS (SELECT dst AS node, count(*)::BIGINT AS deg FROM edges GROUP BY dst),
      diag AS (SELECT node AS x, node AS y, 1000000000000::BIGINT AS s FROM nodes),
      r1 AS (SELECT ea.dst AS a, eb.dst AS b, sum(sf.s)::BIGINT AS num
             FROM diag sf JOIN edges ea ON sf.x = ea.src
                          JOIN edges eb ON sf.y = eb.src
             WHERE ea.dst <> eb.dst GROUP BY 1, 2),
      o1 AS (SELECT * FROM (
               SELECT r1.a AS x, r1.b AS y,
                      ((4 * num) // (5 * da.deg * db.deg))::BIGINT AS s
               FROM r1 JOIN indeg da ON r1.a = da.node
                       JOIN indeg db ON r1.b = db.node)
             WHERE s > 0),
      s1 AS (SELECT * FROM diag UNION ALL SELECT * FROM o1),
      r2 AS (SELECT ea.dst AS a, eb.dst AS b, sum(sf.s)::BIGINT AS num
             FROM s1 sf JOIN edges ea ON sf.x = ea.src
                        JOIN edges eb ON sf.y = eb.src
             WHERE ea.dst <> eb.dst GROUP BY 1, 2),
      o2 AS (SELECT * FROM (
               SELECT r2.a AS x, r2.b AS y,
                      ((4 * num) // (5 * da.deg * db.deg))::BIGINT AS s
               FROM r2 JOIN indeg da ON r2.a = da.node
                       JOIN indeg db ON r2.b = db.node)
             WHERE s > 0)
      SELECT x AS node_a, y AS node_b, round(s::DOUBLE / 1e12, 9) AS simrank
      FROM o2 WHERE x < y
    """

    # American Soundex blocking: the identical ladder (upper →
    # translate with h/w deletion → per-digit run collapse → vowel
    # strip → first-letter code strip → pad) as er.soundex_expr;
    # regexp_replace needs the 'g' flag here (DuckDB replaces first
    # match by default, Spark replaces all)
    o["q_soundex_block"] = """
      WITH toks AS (
        SELECT DISTINCT t AS form FROM (
          SELECT unnest(string_split(coalesce(text, ''), ' ')) AS t
          FROM documents)
        WHERE regexp_matches(t, '^[A-Za-z]{2,}$')
      ),
      c1 AS (SELECT form, upper(form) AS u FROM toks),
      c2 AS (SELECT form, substr(u, 1, 1) AS first,
             translate(u, 'AEIOUYBFPVCGJKQSXZDTLMNRHW',
                       '000000111122222222334556') AS code
             FROM c1),
      c3 AS (SELECT form, first,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(regexp_replace(regexp_replace(code,
               '00+', '0', 'g'), '11+', '1', 'g'), '22+', '2', 'g'),
               '33+', '3', 'g'), '44+', '4', 'g'), '55+', '5', 'g'),
               '66+', '6', 'g') AS coll
             FROM c2),
      c4 AS (SELECT form, first,
             regexp_replace(coll, '0', '', 'g') AS nozero,
             translate(first, 'AEIOUYBFPVCGJKQSXZDTLMNRHW',
                       '000000111122222222334556') AS fcode
             FROM c3),
      c5 AS (SELECT form,
             first || rpad(substr(
               CASE WHEN fcode IN ('1','2','3','4','5','6')
                         AND substr(nozero, 1, 1) = fcode
                    THEN substr(nozero, 2) ELSE nozero END,
               1, 3), 3, '0') AS sdx
             FROM c4)
      SELECT sdx AS code, count(*)::BIGINT AS n_forms,
             string_agg(form, '|' ORDER BY form) AS forms
      FROM c5 GROUP BY sdx
    """

    # anchor-TEXT extraction: same html build device with varying
    # 'Entity k' anchors; top anchor per host = row_number twin of the
    # engine's min(struct(-cnt, anchor)) in-aggregate argmax
    _ANCHOR_TAG_SQL = (
        "'<a href=\"https://t' || ((doc_id + j) % 10)::VARCHAR || "
        "'.example.com/page/' || ((doc_id * 3 + j) % 50)::VARCHAR || "
        "'\">Entity ' || ((doc_id + j) % 7)::VARCHAR || '</a>'"
    )
    o["q_anchor_text"] = f"""
      WITH {_link_pages_sql(_ANCHOR_TAG_SQL)},
      tags AS (
        SELECT unnest(regexp_extract_all(h, '(<a href="[^"]*">[^<]*</a>)', 1)) AS tag
        FROM html2
      ),
      anch AS (
        SELECT regexp_extract(tag, 'href="([^"]*)"', 1) AS target_url,
               regexp_extract(tag, '>([^<]*)<', 1) AS anchor
        FROM tags
      ),
      pa AS (
        SELECT lower(regexp_extract(target_url, '://([^/?#:]*)', 1)) AS dst_host,
               anchor, count(*)::BIGINT AS cnt
        FROM anch GROUP BY 1, 2
      ),
      agg AS (
        SELECT dst_host, sum(cnt)::BIGINT AS n_links,
               count(*)::BIGINT AS n_anchor_forms
        FROM pa GROUP BY dst_host
      ),
      top AS (
        SELECT dst_host, anchor AS top_anchor, cnt AS top_count
        FROM (SELECT pa.*,
                     row_number() OVER (PARTITION BY dst_host
                                        ORDER BY cnt DESC, anchor ASC) AS rn
              FROM pa)
        WHERE rn = 1
      )
      SELECT a.dst_host, a.n_links, a.n_anchor_forms, t.top_anchor, t.top_count
      FROM agg a JOIN top t USING (dst_host)
    """

    # frontier scheduling replay: same link extraction as q_link_graph,
    # in-link-count priorities, one host-partitioned rank window
    o["q_frontier"] = f"""
      WITH {_link_pages_sql(_SRC_TAG_SQL)},
      links AS (
        SELECT unnest(regexp_extract_all(h, 'href="([^"]*)"', 1)) AS target_url
        FROM html2
      ),
      fr AS (
        SELECT target_url AS url,
               lower(regexp_extract(target_url, '://([^/?#:]*)', 1)) AS host,
               count(*)::BIGINT AS priority
        FROM links GROUP BY 1, 2
      )
      SELECT url, host, priority,
             row_number() OVER (PARTITION BY host
                                ORDER BY priority DESC, url ASC)::BIGINT AS tick
      FROM fr QUALIFY tick <= 8
    """

    # recursive-CTE chain WALK (one hop per recursion step) — the
    # linear-depth twin of the engine's log-depth pointer jumping
    o["q_redirects"] = """
      WITH RECURSIVE red AS (
        SELECT 'https://site' || (doc_id % 20)::VARCHAR ||
               '.example.com/p/' || doc_id::VARCHAR AS src,
               'https://site' || ((doc_id - 1) % 20)::VARCHAR ||
               '.example.com/p/' || (doc_id - 1)::VARCHAR AS dst
        FROM documents WHERE doc_id % 8 != 0
      ),
      w AS (
        SELECT src, dst AS cur, 1::BIGINT AS hops FROM red
        UNION ALL
        SELECT w.src, r.dst, w.hops + 1 FROM w JOIN red r ON w.cur = r.src
      )
      SELECT w.src, w.cur AS final_url, w.hops
      FROM w LEFT JOIN red r ON w.cur = r.src
      WHERE r.src IS NULL
    """

    # CDC upsert replay: same md5-residue change stream over the base
    # snapshot, window form of the engine's max_by(ts, delete-wins,
    # support) merge; tombstoned keys filtered after the winner is
    # picked, last_ts = max ts seen for the key
    o["q_triple_upsert"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      preds AS (SELECT doc_id, pos, tok FROM toks WHERE tok IN ({_PREDW})),
      tri AS ({_TRI_SELECT}),
      base AS (
        SELECT subj, pred, obj, count(*)::BIGINT AS support
        FROM tri GROUP BY subj, pred, obj
      ),
      withr AS (
        SELECT *,
          ('0x' || substr(md5(subj || '|' || pred || '|' || obj), 1, 4))::UBIGINT % 3 AS r
        FROM base
      ),
      cdc AS (
        SELECT subj, pred, obj,
               CASE WHEN r = 0 THEN 'd' ELSE 'u' END AS op,
               (CASE WHEN r = 0 THEN 10 ELSE 20 END)::BIGINT AS ts,
               (CASE WHEN r = 0 THEN 0 ELSE support + 100 END)::BIGINT AS support
        FROM withr WHERE r != 2
        UNION ALL
        SELECT 'new_' || i::VARCHAR, 'linked', 'node_' || i::VARCHAR,
               'u', 30::BIGINT, (i + 1)::BIGINT
        FROM unnest(range(0, 10)) AS u(i)
      ),
      allrows AS (
        SELECT subj, pred, obj, 'u' AS op, 0::BIGINT AS ts, support FROM base
        UNION ALL
        SELECT * FROM cdc
      ),
      final AS (
        SELECT subj, pred, obj, op, support,
               max(ts) OVER (PARTITION BY subj, pred, obj) AS last_ts
        FROM allrows
        QUALIFY row_number() OVER (PARTITION BY subj, pred, obj
                  ORDER BY ts DESC, (op = 'd') DESC, support DESC) = 1
      )
      SELECT subj, pred, obj, support, last_ts FROM final WHERE op = 'u'
    """
    o["q_stream_upsert"] = o["q_triple_upsert"]

    # Bloom decontamination replay: bit_j(v) = md5(j|v) mod m (the
    # cm_bucket primitive); all-3-probes-hit per (doc, shingle)
    _bk = config.SHINGLE_K
    o["q_bloom_decontaminate"] = f"""
      WITH {_CORPUS},
      cd AS (SELECT doc_id, text FROM corpus WHERE doc_id >= 1000000),
      bt AS (SELECT string_split(text, ' ') AS t
             FROM documents WHERE doc_id % 20 = 10),
      bsh AS (
        SELECT DISTINCT array_to_string(t[i:i+{_bk - 1}], ' ') AS shingle
        FROM bt, unnest(range(1, len(t) - {_bk - 2})) AS u(i)
        WHERE len(t) >= {_bk}
      ),
      bits AS (
        SELECT DISTINCT
               (('0x' || substr(md5(j::VARCHAR || '|' || shingle), 1, 12))::UBIGINT
                % 262144)::BIGINT AS bit
        FROM bsh, unnest(range(3)) AS u(j)
      ),
      ct AS (SELECT doc_id, string_split(text, ' ') AS t FROM cd),
      csh AS (
        SELECT DISTINCT doc_id, array_to_string(t[i:i+{_bk - 1}], ' ') AS shingle
        FROM ct, unnest(range(1, len(t) - {_bk - 2})) AS u(i)
        WHERE len(t) >= {_bk}
      ),
      probes AS (
        SELECT doc_id, shingle,
               (('0x' || substr(md5(j::VARCHAR || '|' || shingle), 1, 12))::UBIGINT
                % 262144)::BIGINT AS bit
        FROM csh, unnest(range(3)) AS u(j)
      ),
      hits AS (
        SELECT doc_id, shingle FROM probes JOIN bits USING (bit)
        GROUP BY doc_id, shingle HAVING count(*) = 3
      )
      SELECT doc_id, count(*)::BIGINT AS n_maybe_shingles,
             count(*) >= 2 AS flagged
      FROM hits GROUP BY doc_id
    """

    # A-ES weighted sampling: identical md5-uniform draw and key
    # arithmetic; keys rounded to 9 digits BEFORE ranking on both sides
    o["q_weighted_sample"] = """
      WITH keyed AS (
        SELECT lang AS stratum, doc_id, n_chars::DOUBLE AS weight,
               round(pow(
                 (('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::UBIGINT::DOUBLE
                  + 1.0) / 281474976710656.0,
                 1.0 / n_chars::DOUBLE), 9) AS key
        FROM documents WHERE n_chars > 0
      )
      SELECT stratum, doc_id, weight, key,
             row_number() OVER (PARTITION BY stratum
                                ORDER BY key DESC, doc_id) AS rank
      FROM keyed QUALIFY rank <= 20
    """

    o["q_relation_sigs"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      preds AS (SELECT doc_id, pos, tok FROM toks WHERE tok IN ({_PREDW})),
      tri AS ({_TRI_SELECT}),
      sigs AS (
        SELECT subj_tag, pred, obj_tag, count(*)::BIGINT AS n,
               count(DISTINCT subj)::BIGINT AS n_subj_entities,
               count(DISTINCT obj)::BIGINT AS n_obj_entities
        FROM tri GROUP BY subj_tag, pred, obj_tag
      ),
      tot AS (SELECT pred, sum(n)::BIGINT AS pred_total FROM sigs GROUP BY pred)
      SELECT subj_tag, pred, obj_tag, n, n_subj_entities, n_obj_entities,
             pred_total, round(n / pred_total::DOUBLE, 6) AS sig_frac
      FROM sigs JOIN tot USING (pred)
    """

    # predicate cardinality replay: same distinct-pair counts, one
    # division each for tph/hpt, literal 1.5 class thresholds
    o["q_pred_cardinality"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      preds AS (SELECT doc_id, pos, tok FROM toks WHERE tok IN ({_PREDW})),
      tri AS ({_TRI_SELECT}),
      pairs AS (SELECT DISTINCT subj, pred, obj FROM tri),
      agg AS (
        SELECT pred, count(*)::BIGINT AS n_pairs,
               count(DISTINCT subj)::BIGINT AS n_subj,
               count(DISTINCT obj)::BIGINT AS n_obj
        FROM pairs GROUP BY pred
      )
      SELECT pred, n_pairs, n_subj, n_obj,
             round(n_pairs / n_subj::DOUBLE, 6) AS tails_per_head,
             round(n_pairs / n_obj::DOUBLE, 6) AS heads_per_tail,
             CASE
               WHEN n_pairs / n_subj::DOUBLE < 1.5
                    AND n_pairs / n_obj::DOUBLE < 1.5 THEN '1:1'
               WHEN n_pairs / n_subj::DOUBLE >= 1.5
                    AND n_pairs / n_obj::DOUBLE < 1.5 THEN '1:N'
               WHEN n_pairs / n_subj::DOUBLE < 1.5
                    AND n_pairs / n_obj::DOUBLE >= 1.5 THEN 'N:1'
               ELSE 'N:M'
             END AS cardinality
      FROM agg
    """

    # entity summary replay: same distinct facts, predicate-frequency
    # join, identical total-order row_number
    o["q_entity_summary"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      preds AS (SELECT doc_id, pos, tok FROM toks WHERE tok IN ({_PREDW})),
      tri AS ({_TRI_SELECT}),
      facts AS (SELECT DISTINCT subj, pred, obj FROM tri),
      pf AS (SELECT pred, count(*)::BIGINT AS pred_freq FROM facts
             GROUP BY pred),
      ranked AS (
        SELECT subj,
               row_number() OVER (PARTITION BY subj
                                  ORDER BY pred_freq, pred, obj)::BIGINT
                 AS rank,
               pred, obj, pred_freq
        FROM facts JOIN pf USING (pred)
      )
      SELECT subj, rank, pred, obj, pred_freq FROM ranked WHERE rank <= 3
    """

    o["q_two_hop"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      preds AS (SELECT doc_id, pos, tok FROM toks WHERE tok IN ({_PREDW})),
      tri AS ({_TRI_SELECT}),
      edges AS (
        SELECT subj, pred, obj, count(*)::BIGINT AS support
        FROM tri GROUP BY subj, pred, obj HAVING count(*) >= 2
      ),
      h1 AS (
        SELECT subj AS entity_a, pred AS pred1, obj AS mid,
               support AS support1,
               row_number() OVER (PARTITION BY obj
                                  ORDER BY support DESC, pred, subj) AS r
        FROM edges QUALIFY r <= 5
      ),
      h2 AS (
        SELECT subj AS mid, pred AS pred2, obj AS entity_c,
               support AS support2,
               row_number() OVER (PARTITION BY subj
                                  ORDER BY support DESC, pred, obj) AS r
        FROM edges QUALIFY r <= 5
      )
      SELECT entity_a, pred1, mid, pred2, entity_c,
             support1, support2,
             least(support1, support2) AS path_support
      FROM h1 JOIN h2 USING (mid)
      WHERE entity_a != entity_c
    """

    # PRA replay: support-pruned capped edge set (the q_two_hop h1/h2
    # windows), degrees recomputed on the capped sets, exact integral
    # per-mid quantization, integer path sums
    o["q_pra_features"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      preds AS (SELECT doc_id, pos, tok FROM toks WHERE tok IN ({_PREDW})),
      tri AS ({_TRI_SELECT}),
      edges AS (
        SELECT subj, pred, obj, count(*)::BIGINT AS support
        FROM tri GROUP BY subj, pred, obj HAVING count(*) >= 2
      ),
      h1 AS (
        SELECT subj, pred, obj FROM (
          SELECT subj, pred, obj,
                 row_number() OVER (PARTITION BY obj
                                    ORDER BY support DESC, pred, subj) AS r
          FROM edges) WHERE r <= 5
      ),
      h2 AS (
        SELECT subj, pred, obj FROM (
          SELECT subj, pred, obj,
                 row_number() OVER (PARTITION BY subj
                                    ORDER BY support DESC, pred, obj) AS r
          FROM edges) WHERE r <= 5
      ),
      dc1 AS (SELECT subj, pred, count(*)::BIGINT AS d1 FROM h1 GROUP BY 1, 2),
      dc2 AS (SELECT subj, pred, count(*)::BIGINT AS d2 FROM h2 GROUP BY 1, 2),
      dd AS (SELECT subj, pred, count(*)::BIGINT AS d FROM edges GROUP BY 1, 2),
      f1 AS (
        SELECT e.subj, e.pred AS path, e.obj,
               (1000000000000 // d.d)::BIGINT AS prob_q
        FROM edges e JOIN dd d USING (subj, pred)
      ),
      f2 AS (
        SELECT l.subj, l.pred || '/' || r.pred AS path, r.obj,
               sum(1000000000000 // (ld.d1 * rd.d2))::BIGINT AS prob_q
        FROM h1 l
        JOIN dc1 ld ON ld.subj = l.subj AND ld.pred = l.pred
        JOIN h2 r ON r.subj = l.obj
        JOIN dc2 rd ON rd.subj = r.subj AND rd.pred = r.pred
        GROUP BY 1, 2, 3
      ),
      u AS (SELECT * FROM f1 UNION ALL SELECT * FROM f2)
      SELECT subj, path, obj, prob_q,
             round(prob_q::DOUBLE / 1000000000000.0, 9) AS prob
      FROM u
    """

    o["q_entity_link"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      gaz(name, class, weight) AS (VALUES {_GAZ_VALUES})
      SELECT m.surface AS entity, g.class,
             count(*) AS n_mentions,
             round(sum(g.weight / (1.0 + m.sent_id)), 4) AS total_score
      FROM mentsent m JOIN gaz g ON m.surface = g.name
      GROUP BY m.surface, g.class
    """

    o["q_entity_docs"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT}
      SELECT surface, count(DISTINCT doc_id) AS n_docs
      FROM ment GROUP BY surface
    """

    o["q_canonical_cc"] = f"""
      WITH RECURSIVE {_TOKS}, {_SENTID}, {_MENT},
      edges AS (
        SELECT DISTINCT a.surface AS a, b.surface AS b
        FROM mentsent a JOIN mentsent b
          ON a.doc_id = b.doc_id AND a.sent_id = b.sent_id AND a.surface < b.surface
      ),
      sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
      reach(src, dst) AS (
        SELECT a, a FROM sym
        UNION
        SELECT r.src, e.b FROM reach r JOIN sym e ON r.dst = e.a
      )
      SELECT src AS entity, min(dst) AS component FROM reach GROUP BY src
    """

    o["q_triangles"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      edges AS (
        SELECT DISTINCT a.surface AS a, b.surface AS b
        FROM mentsent a JOIN mentsent b
          ON a.doc_id = b.doc_id AND a.sent_id = b.sent_id AND a.surface < b.surface
      ),
      tri AS (
        -- naive closed-wedge form: a<b and b<c list each triangle once
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM edges e1
        JOIN edges e2 ON e2.a = e1.b
        JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
      ),
      pern AS (
        SELECT entity, count(*)::BIGINT AS triangles FROM (
          SELECT x AS entity FROM tri
          UNION ALL SELECT y FROM tri
          UNION ALL SELECT z FROM tri
        ) GROUP BY entity
      ),
      nodes AS (SELECT a AS entity FROM edges UNION SELECT b FROM edges)
      SELECT n.entity, coalesce(p.triangles, 0)::BIGINT AS triangles
      FROM nodes n LEFT JOIN pern p USING (entity)
    """

    o["q_pagerank"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      edges AS (
        SELECT DISTINCT a.surface AS a, b.surface AS b
        FROM mentsent a JOIN mentsent b
          ON a.doc_id = b.doc_id AND a.sent_id = b.sent_id AND a.surface < b.surface
      ),
      sym AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
      deg AS (SELECT a AS node, count(*)::DOUBLE AS deg FROM sym GROUP BY a),
      nn AS (SELECT count(*)::DOUBLE AS n FROM deg),
      r0 AS (SELECT node, deg, 1.0 / (SELECT n FROM nn) AS rank FROM deg),
      c1 AS (SELECT s.b AS node, sum(r.rank / r.deg) AS in_mass
             FROM sym s JOIN r0 r ON s.a = r.node GROUP BY s.b),
      r1 AS (SELECT r.node, r.deg,
                    0.15 / (SELECT n FROM nn) + 0.85 * coalesce(c.in_mass, 0) AS rank
             FROM r0 r LEFT JOIN c1 c USING (node)),
      c2 AS (SELECT s.b AS node, sum(r.rank / r.deg) AS in_mass
             FROM sym s JOIN r1 r ON s.a = r.node GROUP BY s.b),
      r2 AS (SELECT r.node, r.deg,
                    0.15 / (SELECT n FROM nn) + 0.85 * coalesce(c.in_mass, 0) AS rank
             FROM r1 r LEFT JOIN c2 c USING (node))
      SELECT node AS entity, round(rank, 6) AS rank FROM r2
    """

    # personalized variant: the same two unrolled steps with the
    # teleport vector concentrated on the 'hash%' seed surfaces
    o["q_ppr"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      edges AS (
        SELECT DISTINCT a.surface AS a, b.surface AS b
        FROM mentsent a JOIN mentsent b
          ON a.doc_id = b.doc_id AND a.sent_id = b.sent_id AND a.surface < b.surface
      ),
      sym AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
      deg AS (SELECT a AS node, count(*)::DOUBLE AS deg FROM sym GROUP BY a),
      seeds AS (SELECT node FROM deg WHERE node LIKE 'hash%'),
      sc AS (SELECT count(*)::DOUBLE AS s FROM seeds),
      r0 AS (SELECT d.node, d.deg,
                    CASE WHEN s.node IS NOT NULL
                         THEN 0.15 / (SELECT s FROM sc) ELSE 0.0 END AS base_v,
                    CASE WHEN s.node IS NOT NULL
                         THEN 1.0 / (SELECT s FROM sc) ELSE 0.0 END AS rank
             FROM deg d LEFT JOIN seeds s USING (node)),
      c1 AS (SELECT s.b AS node, sum(r.rank / r.deg) AS in_mass
             FROM sym s JOIN r0 r ON s.a = r.node GROUP BY s.b),
      r1 AS (SELECT r.node, r.deg, r.base_v,
                    r.base_v + 0.85 * coalesce(c.in_mass, 0) AS rank
             FROM r0 r LEFT JOIN c1 c USING (node)),
      c2 AS (SELECT s.b AS node, sum(r.rank / r.deg) AS in_mass
             FROM sym s JOIN r1 r ON s.a = r.node GROUP BY s.b),
      r2 AS (SELECT r.node, r.deg, r.base_v,
                    r.base_v + 0.85 * coalesce(c.in_mass, 0) AS rank
             FROM r1 r LEFT JOIN c2 c USING (node))
      SELECT node AS entity, round(rank, 6) AS rank FROM r2
    """

    o["q_kcore"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      edges AS (
        SELECT DISTINCT a.surface AS a, b.surface AS b
        FROM mentsent a JOIN mentsent b
          ON a.doc_id = b.doc_id AND a.sent_id = b.sent_id AND a.surface < b.surface
      ),
      sym AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
      d0 AS (SELECT a AS node, count(*)::BIGINT AS deg FROM sym GROUP BY a),
      s1 AS (SELECT node FROM d0 WHERE deg >= 2),
      d1 AS (SELECT s.a AS node, count(*)::BIGINT AS deg
             FROM sym s JOIN s1 x ON s.a = x.node JOIN s1 y ON s.b = y.node
             GROUP BY s.a),
      s2 AS (SELECT node FROM d1 WHERE deg >= 2),
      d2 AS (SELECT s.a AS node, count(*)::BIGINT AS deg
             FROM sym s JOIN s2 x ON s.a = x.node JOIN s2 y ON s.b = y.node
             GROUP BY s.a),
      s3 AS (SELECT node FROM d2 WHERE deg >= 2),
      d3 AS (SELECT s.a AS node, count(*)::BIGINT AS deg
             FROM sym s JOIN s3 x ON s.a = x.node JOIN s3 y ON s.b = y.node
             GROUP BY s.a)
      SELECT node AS entity, deg FROM d3 WHERE deg >= 2
    """

    # the streaming sketch must converge to the batch table: rebuild the
    # cells from exact counts (same identity as q_cm_heavy_hitters)
    # the exact-count CM cell rebuild, shared by q_cm_heavy_hitters and
    # the streaming q_stream_cm oracle (the streaming table must equal
    # the batch sketch) — one definition so the bucket identity cannot
    # silently diverge between the two
    _CM_CELLS = f"""toks AS (
        SELECT unnest(string_split(coalesce(text, ''), ' ')) AS token
        FROM documents
      ),
      exact AS (SELECT token, count(*)::BIGINT AS exact
                FROM toks WHERE token != '' GROUP BY token),
      probes AS (
        SELECT token,
               j,
               (('0x' || substr(md5(j::VARCHAR || '|' || token), 1, 12))::UBIGINT
                % {CM_WIDTH})::BIGINT AS bucket
        FROM exact, unnest(range({CM_DEPTH})) u(j)
      ),
      cells AS (
        SELECT p.j, p.bucket, sum(e.exact)::BIGINT AS cnt
        FROM probes p JOIN exact e USING (token)
        GROUP BY p.j, p.bucket
      )"""

    o["q_stream_cm"] = f"""
      WITH {_CM_CELLS}
      SELECT j::BIGINT AS row_idx, bucket, cnt FROM cells
    """

    o["q_repeated_ngrams"] = """
      WITH toks AS (
        SELECT doc_id, string_split(coalesce(text, ''), ' ') AS t
        FROM documents
      ),
      grid AS (
        SELECT doc_id, i AS pos,
               md5(array_to_string(t[i:i+2], ' ')) AS gram
        FROM toks, unnest(range(1, len(t) - 1)) u(i)
      ),
      firsts AS (SELECT doc_id, gram, min(pos) AS first_pos
                 FROM grid GROUP BY doc_id, gram),
      rep AS (
        SELECT g.doc_id, g.pos
        FROM grid g JOIN firsts f USING (doc_id, gram)
        WHERE g.pos > f.first_pos
      ),
      repc AS (SELECT doc_id, count(*)::BIGINT AS n_repeated
               FROM rep GROUP BY doc_id),
      masked AS (SELECT DISTINCT doc_id, pos + k AS mpos
                 FROM rep, unnest(range(3)) u(k)),
      maskc AS (SELECT doc_id, count(*)::BIGINT AS n_masked
                FROM masked GROUP BY doc_id),
      expl AS (SELECT doc_id, i, t[i] AS tok
               FROM toks, unnest(range(1, len(t) + 1)) u(i)),
      kept AS (
        SELECT e.doc_id, e.i, e.tok
        FROM expl e LEFT JOIN masked m ON m.doc_id = e.doc_id AND m.mpos = e.i
        WHERE m.mpos IS NULL
      ),
      clean AS (SELECT doc_id, md5(string_agg(tok, ' ' ORDER BY i)) AS clean_hash
                FROM kept GROUP BY doc_id)
      SELECT t.doc_id,
             len(t.t)::BIGINT AS n_tokens,
             coalesce(r.n_repeated, 0)::BIGINT AS n_repeated,
             coalesce(mc.n_masked, 0)::BIGINT AS n_masked,
             c.clean_hash
      FROM toks t
      LEFT JOIN repc r USING (doc_id)
      LEFT JOIN maskc mc USING (doc_id)
      JOIN clean c USING (doc_id)
    """

    # numerators/targets are the SAME Python doubles the engine inlines
    # as literals, rendered via repr so both engines divide identical
    # IEEE-754 values
    _mix_num = " ".join(
        f"WHEN stratum = '{k}' THEN {1000.0 * MIX_BUDGET * v!r}"
        for k, v in sorted(MIX_SHARES.items(), reverse=True)
    )
    _mix_tgt = " ".join(
        f"WHEN stratum = '{k}' THEN {float(MIX_BUDGET) * v!r}"
        for k, v in sorted(MIX_SHARES.items(), reverse=True)
    )
    o["q_token_budget"] = f"""
      WITH base AS (
        SELECT source AS stratum, doc_id AS rid,
               len(list_filter(string_split(coalesce(text, ''), ' '),
                               x -> x != ''))::BIGINT AS n_tok,
               (('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::UBIGINT
                 % 1000)::BIGINT AS bucket
        FROM documents
      ),
      supply AS (SELECT stratum, sum(n_tok)::BIGINT AS avail_tokens
                 FROM base GROUP BY stratum),
      rated AS (
        SELECT b.stratum, b.rid, b.n_tok, b.bucket, s.avail_tokens,
               least(1000, floor((CASE {_mix_num} ELSE 0.0 END)
                                 / s.avail_tokens)::BIGINT) AS rate_mille,
               CASE {_mix_tgt} ELSE 0.0 END AS tgt
        FROM base b JOIN supply s USING (stratum)
      )
      SELECT stratum,
             min(avail_tokens)::BIGINT AS avail_tokens,
             round(min(tgt), 2) AS target_tokens,
             min(rate_mille)::BIGINT AS rate_mille,
             sum(CASE WHEN bucket < rate_mille THEN 1 ELSE 0 END)::BIGINT AS n_kept,
             sum(CASE WHEN bucket < rate_mille THEN n_tok ELSE 0 END)::BIGINT
               AS kept_tokens,
             sum(CASE WHEN bucket < rate_mille THEN rid ELSE 0 END)::BIGINT
               AS sum_kept_ids
      FROM rated GROUP BY stratum
    """

    # 2 synchronous LPA rounds unrolled; the engine's
    # min(struct(-cnt,label)) pick is expressed as the equivalent
    # row_number window (cnt DESC, label ASC)
    o["q_label_prop"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      edges AS (
        SELECT DISTINCT a.surface AS a, b.surface AS b
        FROM mentsent a JOIN mentsent b
          ON a.doc_id = b.doc_id AND a.sent_id = b.sent_id AND a.surface < b.surface
      ),
      sym AS (SELECT a, b FROM edges UNION ALL SELECT b AS a, a AS b FROM edges),
      labels0 AS (SELECT DISTINCT a AS node, a AS label FROM sym),
      votes1 AS (
        SELECT s.b AS node, l.label FROM sym s JOIN labels0 l ON l.node = s.a
        UNION ALL SELECT node, label FROM labels0
      ),
      counts1 AS (SELECT node, label, count(*)::BIGINT AS cnt
                  FROM votes1 GROUP BY node, label),
      labels1 AS (
        SELECT node, label FROM (
          SELECT node, label,
                 row_number() OVER (PARTITION BY node
                                    ORDER BY cnt DESC, label ASC) AS rn
          FROM counts1) WHERE rn = 1
      ),
      votes2 AS (
        SELECT s.b AS node, l.label FROM sym s JOIN labels1 l ON l.node = s.a
        UNION ALL SELECT node, label FROM labels1
      ),
      counts2 AS (SELECT node, label, count(*)::BIGINT AS cnt
                  FROM votes2 GROUP BY node, label),
      labels2 AS (
        SELECT node, label FROM (
          SELECT node, label,
                 row_number() OVER (PARTITION BY node
                                    ORDER BY cnt DESC, label ASC) AS rn
          FROM counts2) WHERE rn = 1
      )
      SELECT node AS entity, label AS community FROM labels2
    """

    # Burt constraint replay: identical integral walk weights,
    # integer common-neighbor sums, quantized c_ij
    o["q_burt"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      edges AS (
        SELECT DISTINCT a.surface AS a, b.surface AS b
        FROM mentsent a JOIN mentsent b
          ON a.doc_id = b.doc_id AND a.sent_id = b.sent_id
         AND a.surface < b.surface
      ),
      sym AS (SELECT a, b FROM edges UNION ALL SELECT b AS a, a AS b FROM edges),
      degs AS (SELECT a AS node, count(*)::BIGINT AS d FROM sym GROUP BY a),
      two AS (
        SELECT l.a AS i, r.b AS j,
               sum(1000000000000 // (dl.d * dr.d))::BIGINT AS s2
        FROM sym l
        JOIN degs dl ON dl.node = l.a
        JOIN sym r ON r.a = l.b
        JOIN degs dr ON dr.node = r.a
        WHERE l.a != r.b
        GROUP BY 1, 2
      ),
      cij AS (
        SELECT s.a AS i,
          round(1000000000.0
                * (((1000000000000 // dd.d)
                    + coalesce(t.s2, 0))::DOUBLE / 1000000000000.0)
                * (((1000000000000 // dd.d)
                    + coalesce(t.s2, 0))::DOUBLE / 1000000000000.0),
                0)::BIGINT AS cq
        FROM sym s
        JOIN degs dd ON dd.node = s.a
        LEFT JOIN two t ON t.i = s.a AND t.j = s.b
      ),
      per AS (SELECT i AS entity, sum(cq)::BIGINT AS sq
              FROM cij GROUP BY i)
      SELECT p.entity, d.d AS degree,
             round(p.sq::DOUBLE / 1000000000.0, 6) AS constraint
      FROM per p JOIN degs d ON d.node = p.entity
    """

    # 2 synchronous parallel-Louvain rounds unrolled: per node the
    # EXACT BIGINT gain 2m·k_ic − k_i·(tot_c − [c=own]·k_i) over its
    # neighbor communities + its own (kic 0 row keeps staying
    # beatable), argmax by (gain DESC, community ASC) — the identical
    # integers the engine folds (graph.louvain_rounds)
    o["q_louvain"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      edges AS (
        SELECT DISTINCT a.surface AS a, b.surface AS b
        FROM mentsent a JOIN mentsent b
          ON a.doc_id = b.doc_id AND a.sent_id = b.sent_id
         AND a.surface < b.surface
      ),
      sym AS (SELECT a, b FROM edges UNION ALL SELECT b AS a, a AS b FROM edges),
      deg AS (SELECT a AS node, count(*)::BIGINT AS k FROM sym GROUP BY a),
      mm AS (SELECT count(*)::BIGINT AS m FROM edges),
      l0 AS (SELECT node, node AS community FROM deg),
      t1 AS (SELECT community, sum(k)::BIGINT AS tot
             FROM l0 JOIN deg USING (node) GROUP BY community),
      c1 AS (
        SELECT node, community, sum(kic)::BIGINT AS kic FROM (
          SELECT s.a AS node, l.community, 1 AS kic
          FROM sym s JOIN l0 l ON l.node = s.b
          UNION ALL SELECT node, community, 0 FROM l0
        ) GROUP BY 1, 2
      ),
      g1 AS (
        SELECT c.node, c.community,
               2 * mm.m * c.kic
               - d.k * (t.tot - CASE WHEN c.community = o.community
                                     THEN d.k ELSE 0 END) AS gain
        FROM c1 c
        JOIN deg d USING (node)
        JOIN l0 o USING (node)
        JOIN t1 t ON t.community = c.community
        CROSS JOIN mm
      ),
      l1 AS (
        SELECT node, community FROM (
          SELECT node, community,
                 row_number() OVER (PARTITION BY node
                                    ORDER BY gain DESC, community ASC) AS rn
          FROM g1) WHERE rn = 1
      ),
      t2 AS (SELECT community, sum(k)::BIGINT AS tot
             FROM l1 JOIN deg USING (node) GROUP BY community),
      c2 AS (
        SELECT node, community, sum(kic)::BIGINT AS kic FROM (
          SELECT s.a AS node, l.community, 1 AS kic
          FROM sym s JOIN l1 l ON l.node = s.b
          UNION ALL SELECT node, community, 0 FROM l1
        ) GROUP BY 1, 2
      ),
      g2 AS (
        SELECT c.node, c.community,
               2 * mm.m * c.kic
               - d.k * (t.tot - CASE WHEN c.community = o.community
                                     THEN d.k ELSE 0 END) AS gain
        FROM c2 c
        JOIN deg d USING (node)
        JOIN l1 o USING (node)
        JOIN t2 t ON t.community = c.community
        CROSS JOIN mm
      ),
      l2 AS (
        SELECT node, community FROM (
          SELECT node, community,
                 row_number() OVER (PARTITION BY node
                                    ORDER BY gain DESC, community ASC) AS rn
          FROM g2) WHERE rn = 1
      )
      SELECT node AS entity, community FROM l2
    """

    # Chao1 / Good–Turing replay: token counts, exact folds, the two
    # fixed divisions
    o["q_vocab_richness"] = """
      WITH wc AS (
        SELECT w, count(*)::BIGINT AS c FROM (
          SELECT unnest(CASE WHEN coalesce(text, '') = ''
                            THEN []::VARCHAR[]
                            ELSE string_split(text, ' ') END) AS w
          FROM documents
        ) GROUP BY w
      ),
      g AS (
        SELECT count(*)::BIGINT AS vocab, sum(c)::BIGINT AS n_tokens,
          sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_singletons,
          sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)::BIGINT AS n_doubletons
        FROM wc
      )
      SELECT vocab, n_tokens, n_singletons, n_doubletons,
        round(vocab::DOUBLE
              + (n_singletons * (n_singletons - 1))::DOUBLE
                / (2 * (n_doubletons + 1))::DOUBLE, 6) AS chao1,
        round(CASE WHEN n_tokens > 0
          THEN n_singletons::DOUBLE / n_tokens::DOUBLE
          ELSE 0.0 END, 6) AS gt_unseen_mass
      FROM g
    """

    o["q_pmi_edges"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      sent_ent AS (SELECT DISTINCT doc_id, sent_id, surface FROM mentsent),
      c_ent AS (SELECT surface, count(*)::BIGINT AS c FROM sent_ent GROUP BY surface),
      nn AS (SELECT count(*)::DOUBLE AS n_sents
             FROM (SELECT DISTINCT doc_id, sent_id FROM sent_ent)),
      pairs AS (
        SELECT a.surface AS a, b.surface AS b, count(*)::BIGINT AS c_ab
        FROM sent_ent a JOIN sent_ent b
          ON a.doc_id = b.doc_id AND a.sent_id = b.sent_id AND a.surface < b.surface
        GROUP BY a.surface, b.surface
      )
      SELECT p.a, p.b, p.c_ab,
             round(ln(nn.n_sents * p.c_ab / (ca.c * cb.c)), 6) AS pmi
      FROM pairs p
      JOIN c_ent ca ON ca.surface = p.a
      JOIN c_ent cb ON cb.surface = p.b, nn
    """

    # NPMI replay: the pmi pair derivation + the normalized measure,
    # c_ab = N corner pinned to 1.0 like the engine
    o["q_npmi"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      sent_ent AS (SELECT DISTINCT doc_id, sent_id, surface FROM mentsent),
      c_ent AS (SELECT surface, count(*)::BIGINT AS c FROM sent_ent GROUP BY surface),
      nn AS (SELECT count(*)::DOUBLE AS n_sents
             FROM (SELECT DISTINCT doc_id, sent_id FROM sent_ent)),
      pairs AS (
        SELECT a.surface AS a, b.surface AS b, count(*)::BIGINT AS c_ab
        FROM sent_ent a JOIN sent_ent b
          ON a.doc_id = b.doc_id AND a.sent_id = b.sent_id AND a.surface < b.surface
        GROUP BY a.surface, b.surface
      )
      SELECT p.a, p.b, p.c_ab,
             round(ln(nn.n_sents * p.c_ab / (ca.c * cb.c)), 6) AS pmi,
             round(CASE WHEN -ln(p.c_ab / nn.n_sents) > 0
               THEN ln(nn.n_sents * p.c_ab / (ca.c * cb.c))
                    / (-ln(p.c_ab / nn.n_sents))
               ELSE 1.0 END, 6) AS npmi
      FROM pairs p
      JOIN c_ent ca ON ca.surface = p.a
      JOIN c_ent cb ON cb.surface = p.b, nn
    """

    o["q_tfidf"] = """
      WITH tf AS (
        SELECT doc_id, token, count(*)::BIGINT AS tf
        FROM (SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS token
              FROM documents)
        WHERE token != ''
        GROUP BY doc_id, token
      ),
      dfreq AS (SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY token),
      nn AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
      scored AS (
        SELECT tf.doc_id, tf.token, tf.tf, d.df,
               round(tf.tf * (ln((nn.n_docs + 1.0) / (d.df + 1.0)) + 1.0), 6) AS tfidf
        FROM tf JOIN dfreq d USING (token), nn
      ),
      ranked AS (
        SELECT doc_id, token, tf, df, tfidf,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, token ASC)::BIGINT AS "rank"
        FROM scored
      )
      SELECT doc_id, token, tf, df, tfidf, "rank" FROM ranked WHERE "rank" <= 5
    """

    o["q_postings"] = """
      WITH pairs AS (
        SELECT DISTINCT doc_id, token
        FROM (SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS token
              FROM documents)
        WHERE token != ''
      ),
      dfreq AS (SELECT token, count(*)::BIGINT AS df FROM pairs GROUP BY token),
      head AS (
        SELECT token, doc_id,
               row_number() OVER (PARTITION BY token ORDER BY doc_id ASC) AS rn
        FROM pairs
      ),
      plist AS (
        SELECT token,
               string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id ASC) AS postings
        FROM head WHERE rn <= 16 GROUP BY token
      )
      SELECT d.token, d.df, p.postings FROM dfreq d JOIN plist p USING (token)
    """

    _BM25_IN = ", ".join(f"'{t}'" for t in BM25_QUERY)
    def _bm25_core(p: str = "") -> str:
        """BM25 CTE chain ``{p}tf … {p}ranked`` replaying
        retrieval.bm25_scores (k1=1.2 b=0.75, Robertson idf, round-4
        scores, doc_id tie-break) — ONE source for q_bm25 and
        q_hybrid_rrf's lexical leg (review finding: a verbatim copy
        would let the two formulas drift apart silently)."""
        return f"""{p}tf AS (
        SELECT doc_id, token, count(*)::BIGINT AS tf
        FROM (SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS token
              FROM documents)
        WHERE token IN ({_BM25_IN})
        GROUP BY doc_id, token
      ),
      {p}dfreq AS (SELECT token, count(*)::BIGINT AS df FROM {p}tf GROUP BY token),
      {p}dl AS (SELECT doc_id,
                    len(list_filter(string_split(coalesce(text, ''), ' '),
                                    x -> x != '')) AS dl
             FROM documents),
      {p}stats AS (SELECT avg(dl)::DOUBLE AS avgdl,
                          count(*)::DOUBLE AS n_docs FROM {p}dl),
      {p}term AS (
        SELECT t.doc_id,
               ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
               * t.tf * (1.2 + 1.0)
               / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl)) AS contrib
        FROM {p}tf t JOIN {p}dfreq d USING (token)
             JOIN {p}dl l USING (doc_id), {p}stats s
      ),
      {p}scored AS (SELECT doc_id, round(sum(contrib), 4) AS score
                 FROM {p}term GROUP BY doc_id),
      {p}ranked AS (
        SELECT doc_id, score,
               row_number() OVER (ORDER BY score DESC, doc_id ASC)::BIGINT AS "rank"
        FROM {p}scored
      )"""

    o["q_bm25"] = f"""
      WITH {_bm25_core()}
      SELECT doc_id, score, "rank" FROM ranked WHERE "rank" <= 10
    """

    # patterns/placeholders interpolated from privacy.PII_PATTERNS so the
    # oracle can never drift from the operator's regex chain
    _PP = {name: (pat, ph) for name, pat, ph in privacy.PII_PATTERNS}
    o["q_pii_redact"] = f"""
      WITH injected AS (
        SELECT doc_id,
               coalesce(text, '')
               || CASE WHEN doc_id % 5 = 0
                       THEN ' contact user' || doc_id::VARCHAR || '@example.com'
                       ELSE '' END
               || CASE WHEN doc_id % 7 = 0
                       THEN ' from 10.0.' || (doc_id % 256)::VARCHAR || '.' || (doc_id % 250)::VARCHAR
                       ELSE '' END
               || CASE WHEN doc_id % 11 = 0
                       THEN ' call +1415550' || (1000 + doc_id % 9000)::VARCHAR
                       ELSE '' END
               || CASE WHEN doc_id % 13 = 0
                       THEN ' ref ' || (100000000 + doc_id)::VARCHAR
                       ELSE '' END
               AS t0
        FROM documents
      ),
      s1 AS (SELECT doc_id,
                    len(regexp_extract_all(t0, '{_PP["emails"][0]}'))::BIGINT AS n_emails,
                    regexp_replace(t0, '{_PP["emails"][0]}', '{_PP["emails"][1]}', 'g') AS t1
             FROM injected),
      s2 AS (SELECT doc_id, n_emails,
                    len(regexp_extract_all(t1, '{_PP["ips"][0]}'))::BIGINT AS n_ips,
                    regexp_replace(t1, '{_PP["ips"][0]}', '{_PP["ips"][1]}', 'g') AS t2
             FROM s1),
      s3 AS (SELECT doc_id, n_emails, n_ips,
                    len(regexp_extract_all(t2, '{_PP["phones"][0]}'))::BIGINT AS n_phones,
                    regexp_replace(t2, '{_PP["phones"][0]}', '{_PP["phones"][1]}', 'g') AS t3
             FROM s2),
      s4 AS (SELECT doc_id, n_emails, n_ips, n_phones,
                    len(regexp_extract_all(t3, '{_PP["ids"][0]}'))::BIGINT AS n_ids,
                    regexp_replace(t3, '{_PP["ids"][0]}', '{_PP["ids"][1]}', 'g') AS t4
             FROM s3)
      SELECT doc_id, n_emails, n_ips, n_phones, n_ids, md5(t4) AS clean_hash FROM s4
    """

    o["q_lm_bigram"] = """
      WITH bg AS (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        FROM (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS t
              FROM documents) s,
             unnest(range(1, len(t))) u(i)
      ),
      docbg AS (SELECT doc_id, w1, w2, count(*)::BIGINT AS n
                FROM bg GROUP BY doc_id, w1, w2),
      c2 AS (SELECT w1, w2, sum(n)::BIGINT AS c2 FROM docbg GROUP BY w1, w2),
      c1 AS (SELECT w1, sum(c2)::BIGINT AS c1 FROM c2 GROUP BY w1),
      scored AS (
        SELECT doc_id, sum(n)::BIGINT AS n_bigrams,
               round(-sum(n * ln(c2.c2::DOUBLE / c1.c1)) / sum(n), 4) AS nll
        FROM docbg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
        GROUP BY doc_id
      )
      SELECT d.doc_id, coalesce(s.n_bigrams, 0)::BIGINT AS n_bigrams,
             coalesce(s.nll, 0.0) AS nll
      FROM documents d LEFT JOIN scored s USING (doc_id)
    """

    # CCNet terciles: the lm oracle reused verbatim as a CTE, then one
    # ntile over the (nll, doc_id) total order
    o["q_ccnet_buckets"] = f"""
      WITH lm AS ({o["q_lm_bigram"]}),
      j AS (SELECT d.doc_id, d.lang, lm.nll
            FROM documents d JOIN lm USING (doc_id))
      SELECT doc_id, lang, nll,
             CASE ntile(3) OVER (PARTITION BY lang
                                 ORDER BY nll ASC, doc_id ASC)
                  WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM j
    """

    # template mining replay: same synthesized paths, hex-run rule
    # applied before the digit rule
    o["q_url_templates"] = """
      WITH urls AS (
        SELECT 'https://' || source || '.example.com' ||
               CASE doc_id % 4
                 WHEN 0 THEN '/doc/' || doc_id::VARCHAR
                 WHEN 1 THEN '/' || (2000 + doc_id % 25)::VARCHAR || '/' ||
                             (1 + doc_id % 12)::VARCHAR || '/post-' || doc_id::VARCHAR
                 WHEN 2 THEN '/u/' || substr(md5(doc_id::VARCHAR), 1, 12)
                 ELSE '/about'
               END AS url
        FROM documents
      ),
      t AS (
        SELECT lower(regexp_extract(url, '://([^/?#:]*)', 1)) AS host,
               regexp_replace(
                 regexp_replace(regexp_extract(url, '://[^/]*(/[^?#]*)', 1),
                                '[0-9a-f]{8,}', '{hex}', 'g'),
                 '[0-9]+', '{n}', 'g') AS template
        FROM urls
      )
      SELECT host, template, count(*)::BIGINT AS n_urls
      FROM t GROUP BY host, template
      HAVING count(*) >= 2
    """

    # rebuilds the CM table FROM the exact counts (cell = Σ exact over
    # tokens hashing there) — valid because the md5 bucketing is
    # deterministic and shared, so table contents are identical to the
    # engine's occurrence-level aggregation
    o["q_cm_heavy_hitters"] = f"""
      WITH {_CM_CELLS},
      est AS (
        SELECT p.token, min(c.cnt)::BIGINT AS est
        FROM probes p JOIN cells c ON c.j = p.j AND c.bucket = p.bucket
        GROUP BY p.token
      ),
      ranked AS (
        SELECT e.token, e.est, x.exact,
               row_number() OVER (ORDER BY e.est DESC, e.token ASC)::BIGINT AS "rank"
        FROM est e JOIN exact x USING (token)
      )
      SELECT token, est, exact, "rank" FROM ranked WHERE "rank" <= 10
    """

    o["q_gazetteer_inject"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      per_pos AS (SELECT doc_id, start_idx AS pos FROM ment WHERE tag = 'PER'),
      newtoks AS (
        SELECT t.doc_id, t.pos,
               CASE WHEN p.pos IS NOT NULL
                    THEN ({_POOL})[((t.doc_id * 7 + t.pos * 31) % {_NPOOL}) + 1]
                    ELSE t.tok END AS tok,
               CASE WHEN p.pos IS NOT NULL THEN 1 ELSE 0 END AS replaced
        FROM toks t LEFT JOIN per_pos p ON t.doc_id = p.doc_id AND t.pos = p.pos
      )
      SELECT doc_id, sum(replaced)::BIGINT AS n_replaced,
             string_agg(tok, ' ' ORDER BY pos) AS new_text
      FROM newtoks GROUP BY doc_id
    """

    o["q_augment_replace"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      per_pos AS (SELECT doc_id, start_idx AS pos FROM ment WHERE tag = 'PER'),
      newtoks AS (
        SELECT t.doc_id, t.pos,
               CASE WHEN p.pos IS NOT NULL
                    THEN ({_POOL})[((t.doc_id * 7 + t.pos * 31) % {_NPOOL}) + 1]
                    ELSE t.tok END AS tok
        FROM toks t LEFT JOIN per_pos p ON t.doc_id = p.doc_id AND t.pos = p.pos
      ),
      injected AS (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS new_text
        FROM newtoks GROUP BY doc_id
      )
      SELECT d.doc_id, (d.doc_id % 100) < 50 AS augmented,
             md5(CASE WHEN (d.doc_id % 100) < 50 THEN i.new_text ELSE d.text END) AS text_hash
      FROM documents d JOIN injected i ON d.doc_id = i.doc_id
    """

    o["q_augment_standard"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      per_pos AS (SELECT doc_id, start_idx AS pos FROM ment WHERE tag = 'PER'),
      newtoks AS (
        SELECT t.doc_id, t.pos,
               CASE WHEN p.pos IS NOT NULL
                    THEN ({_POOL})[((t.doc_id * 7 + t.pos * 31) % {_NPOOL}) + 1]
                    ELSE t.tok END AS tok
        FROM toks t LEFT JOIN per_pos p ON t.doc_id = p.doc_id AND t.pos = p.pos
      ),
      injected AS (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS new_text
        FROM newtoks GROUP BY doc_id
      )
      SELECT doc_id, false AS augmented, md5(text) AS text_hash FROM documents
      UNION ALL
      SELECT d.doc_id + 5000000, true, md5(i.new_text)
      FROM documents d JOIN injected i ON d.doc_id = i.doc_id
      WHERE d.doc_id % 100 < 20
    """

    from ddaugner_spark.operators.aliases import title_set

    _TITLES = sql_str_list(sorted(title_set()))
    _CHARS = ", ".join(f"('{c}')" for c in config.CHARACTERS)
    _ALIAS_CTES = f"""
      ch AS (SELECT * FROM (VALUES {_CHARS}) t(name)),
      chparts AS (SELECT name, string_split(name, ' ') AS c,
                         len(string_split(name, ' ')) AS k FROM ch),
      chsub AS (
        -- k <= 12 mirrors the engine's subset-enumeration cap
        -- (aliases.py): pathological many-component names contribute
        -- only their full name
        SELECT p.name, mm.m, string_agg(p.c[ii.i], ' ' ORDER BY ii.i) AS alias
        FROM chparts p, unnest(range(1, (2 ** p.k)::BIGINT)) AS mm(m),
             unnest(range(1, p.k + 1)) AS ii(i)
        WHERE p.k <= 12
          AND (mm.m // (2 ** (ii.i - 1))::BIGINT) % 2 = 1
        GROUP BY p.name, mm.m
      ),
      chalias AS (
        SELECT DISTINCT alias FROM chsub
        WHERE alias != ''
          -- reference's `not alias[0].islower()`: uppercase OR uncased
          AND (substr(alias, 1, 1) != lower(substr(alias, 1, 1))
               OR substr(alias, 1, 1) = upper(substr(alias, 1, 1)))
          AND lower(alias) NOT IN ({_TITLES})
        UNION
        SELECT name FROM ch
      )"""

    o["q_alias_expansion"] = f"""
      WITH {_ALIAS_CTES}
      SELECT alias FROM chalias
    """

    o["q_demote_per"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT}, {_ALIAS_CTES},
      dem AS (
        SELECT m.doc_id, m.start_idx, m.end_idx
        FROM ment m LEFT JOIN chalias k ON m.surface = k.alias
        WHERE m.tag = 'PER' AND k.alias IS NULL
          AND lower(m.surface) NOT IN ({_TITLES})
      )
      SELECT d.doc_id, dt.pos, dt.tag AS old_tag, 'O' AS new_tag
      FROM dem d JOIN dtags dt
        ON dt.doc_id = d.doc_id AND dt.pos BETWEEN d.start_idx AND d.end_idx
    """

    # Elder-Scrolls compositional names: the engine's integer ladder
    # replayed verbatim from the same module constants
    from ddaugner_spark.functions.samplers import (
        ELDER_SCROLLS_PARTS as _ESP,
        ES_FORMS as _ESF,
        _ES_ORDER as _ESO,
        _KNUTH as _ESK,
        _MULT as _ESM,
        _OFF as _ESOFF,
    )

    def _es_pick_sql(seed: str, p: str) -> str:
        vals = "[" + sql_str_list(_ESP[p]) + "]"
        return f"({vals})[(({seed}) * {_ESM[p]} + {_ESOFF[p]}) % {len(_ESP[p])} + 1]"

    def _es_name_sql(seed: str) -> str:
        branches = []
        for thr, form in _ESF:
            picks = ", ".join(
                _es_pick_sql(seed, p) for p, has in zip(_ESO, form) if has
            )
            branches.append(
                f"WHEN (({seed}) * {_ESK}) % 100 < {thr} THEN concat_ws(' ', {picks})"
            )
        return "CASE " + " ".join(branches) + " END"

    o["q_augment_compositional"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      per_pos AS (SELECT doc_id, start_idx AS pos FROM ment WHERE tag = 'PER'),
      newtoks AS (
        SELECT t.doc_id, t.pos,
               CASE WHEN p.pos IS NOT NULL
                    THEN {_es_name_sql("t.doc_id * 7 + t.pos * 31")}
                    ELSE t.tok END AS tok,
               CASE WHEN p.pos IS NOT NULL THEN 1 ELSE 0 END AS replaced
        FROM toks t LEFT JOIN per_pos p ON t.doc_id = p.doc_id AND t.pos = p.pos
      )
      SELECT doc_id, sum(replaced)::BIGINT AS n_replaced,
             string_agg(tok, ' ' ORDER BY pos) AS new_text
      FROM newtoks GROUP BY doc_id
    """

    o["q_augment_labelwise"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      perm AS (SELECT * FROM mentsent WHERE tag = 'PER'),
      ranked AS (
        SELECT doc_id, sent_id, start_idx, surface,
               row_number() OVER (PARTITION BY doc_id, sent_id
                                  ORDER BY start_idx) - 1 AS k,
               count(*) OVER (PARTITION BY doc_id, sent_id) AS n_ent
        FROM perm
      ),
      chosen AS (
        SELECT doc_id, sent_id, surface AS old_surface,
               ({_POOL})[((doc_id * 7 + sent_id * 31) % {_NPOOL}) + 1] AS new_surface
        FROM ranked WHERE k = (doc_id * 7 + sent_id * 31) % n_ent
      ),
      tls AS (
        SELECT t.doc_id, s.sent_id, t.pos, t.tok
        FROM toks t JOIN sentid s ON t.doc_id = s.doc_id AND t.pos = s.pos
      ),
      occ AS (SELECT doc_id, sent_id, start_idx AS pos, surface FROM perm),
      j AS (
        SELECT tls.doc_id, tls.sent_id, c.old_surface, c.new_surface, tls.pos,
               CASE WHEN o.surface = c.old_surface THEN c.new_surface
                    ELSE tls.tok END AS tok,
               CASE WHEN o.surface = c.old_surface THEN 1 ELSE 0 END AS rep
        FROM tls JOIN chosen c USING (doc_id, sent_id)
        LEFT JOIN occ o ON o.doc_id = tls.doc_id AND o.sent_id = tls.sent_id
                       AND o.pos = tls.pos
      )
      SELECT doc_id, sent_id, old_surface, new_surface,
             sum(rep)::BIGINT AS n_replaced,
             string_agg(tok, ' ' ORDER BY pos) AS new_text
      FROM j GROUP BY doc_id, sent_id, old_surface, new_surface
    """

    # balance_upsample's linear solve is closed-form (see
    # operators/augment.py): with the most-surplus class pinned to 0,
    # T + Σn = post_pin / ratio_pin, so need_i = ratio_i·post_pin/ratio_pin
    # − post_i (clipped, floor(x+0.5)).  The oracle runs the identical
    # arithmetic over the same aug corpus, then the same prefix-by-doc_id
    # selection and per-class id offsets.
    o["q_balance_upsample"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      per_pos AS (SELECT doc_id, start_idx AS pos FROM ment WHERE tag = 'PER'),
      newtoks AS (
        SELECT t.doc_id, t.pos,
               CASE WHEN p.pos IS NOT NULL
                    THEN ({_POOL})[((t.doc_id * 7 + t.pos * 31) % {_NPOOL}) + 1]
                    ELSE t.tok END AS tok
        FROM toks t LEFT JOIN per_pos p ON t.doc_id = p.doc_id AND t.pos = p.pos
      ),
      injected AS (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS new_text
        FROM newtoks GROUP BY doc_id
      ),
      augc AS (
        SELECT doc_id, text, false AS augmented FROM documents
        UNION ALL
        SELECT d.doc_id + 5000000, i.new_text, true
        FROM documents d JOIN injected i ON d.doc_id = i.doc_id
        WHERE d.doc_id % 100 < 20
      ),
      {_fold_ment_sql('augc', 'a')},
      pre AS (SELECT tag, count(*) AS n FROM ment GROUP BY tag),
      post AS (SELECT tag, count(*) AS n FROM ament GROUP BY tag),
      r AS (SELECT tag, n::DOUBLE / (SELECT sum(n) FROM pre) AS ratio FROM pre),
      tt AS (SELECT sum(n)::DOUBLE AS T FROM post),
      pinq AS (
        SELECT r.tag, r.ratio, coalesce(p.n, 0) AS n
        FROM r LEFT JOIN post p USING (tag), tt
        ORDER BY coalesce(p.n, 0) - r.ratio * tt.T DESC, r.tag ASC LIMIT 1
      ),
      plan AS (
        SELECT r.tag,
          CASE WHEN r.tag = (SELECT tag FROM pinq) THEN 0
               ELSE floor(greatest(r.ratio * (SELECT n FROM pinq)::DOUBLE
                                   / (SELECT ratio FROM pinq)
                                   - coalesce(p.n, 0), 0.0) + 0.5)::BIGINT
          END AS need
        FROM r LEFT JOIN post p USING (tag)
      ),
      perdoc AS (SELECT tag, doc_id, count(*) AS cnt FROM ament GROUP BY tag, doc_id),
      cumq AS (SELECT tag, doc_id, cnt,
                      sum(cnt) OVER (PARTITION BY tag ORDER BY doc_id) AS cum
               FROM perdoc),
      chosen AS (
        SELECT c.tag, c.doc_id FROM cumq c JOIN plan p USING (tag)
        WHERE p.need > 0 AND c.cum - c.cnt < p.need
      ),
      offs AS (
        SELECT tag,
               20000000 + 10000000 * (row_number() OVER (ORDER BY tag) - 1) AS off
        FROM plan WHERE need > 0
      )
      SELECT doc_id, augmented, md5(text) AS text_hash FROM augc
      UNION ALL
      SELECT c.doc_id + o.off, true, md5(a.text)
      FROM chosen c JOIN offs o USING (tag) JOIN augc a ON a.doc_id = c.doc_id
    """

    o["q_wordpiece"] = f"""
      WITH vwords AS (
        SELECT DISTINCT unnest(string_split(text, ' ')) AS word FROM documents
        WHERE text IS NOT NULL AND text != ''
      ),
      {_wordpiece_sql("vwords")}
      SELECT word, array_to_string(pieces, ' ') AS pieces,
             len(pieces)::BIGINT AS n_pieces
      FROM wp
    """

    o["q_overlap"] = f"""
      WITH gaz(name) AS (VALUES {", ".join(f"('{n}')" for n, _, _ in config.GAZETTEER)}),
      vocab AS (
        SELECT DISTINCT unnest(string_split(text, ' ')) AS name FROM documents
      ),
      exact AS (SELECT g.name FROM gaz g JOIN vocab v ON g.name = v.name),
      rest AS (SELECT name FROM gaz EXCEPT SELECT name FROM exact),
      allwords AS (
        SELECT DISTINCT unnest(string_split(name, ' ')) AS word FROM gaz
        UNION SELECT DISTINCT name FROM vocab
      ),
      {_wordpiece_sql("allwords")},
      tsub AS (
        SELECT DISTINCT r.name, s.sub
        FROM rest r
        CROSS JOIN unnest(string_split(r.name, ' ')) AS w(word)
        JOIN wp ON wp.word = w.word
        CROSS JOIN unnest(wp.pieces) AS s(sub)
        WHERE s.sub NOT IN ({_STOP})
      ),
      osub AS (
        SELECT DISTINCT s.sub
        FROM vocab v
        JOIN wp ON wp.word = v.name
        CROSS JOIN unnest(wp.pieces) AS s(sub)
        WHERE s.sub NOT IN ({_STOP})
      ),
      part AS (SELECT DISTINCT t.name FROM tsub t JOIN osub o ON t.sub = o.sub),
      nt AS (SELECT count(*) AS n_target FROM gaz),
      ne AS (SELECT count(*) AS n_exact FROM exact),
      np AS (SELECT count(*) AS n_partial FROM part)
      SELECT n_target, n_exact, n_partial,
             n_target - n_exact - n_partial AS n_new,
             round(n_exact::DOUBLE / n_target, 4) AS exact_ratio,
             round(n_partial::DOUBLE / n_target, 4) AS partial_ratio,
             round((n_target - n_exact - n_partial)::DOUBLE / n_target, 4) AS new_ratio
      FROM nt, ne, np
    """

    o["q_context_features"] = f"""
      WITH {_TOKS}, {_SENTID},
      sents AS (
        SELECT t.doc_id, s.sent_id, count(*) AS n
        FROM toks t JOIN sentid s ON t.doc_id = s.doc_id AND t.pos = s.pos
        GROUP BY t.doc_id, s.sent_id
      )
      SELECT doc_id, sent_id,
             coalesce(lag(n) OVER w, 0) + n + coalesce(lead(n) OVER w, 0) AS n_ctx,
             n AS n_center
      FROM sents
      WINDOW w AS (PARTITION BY doc_id ORDER BY sent_id)
    """

    o["q_text_extract"] = f"""
      WITH pages AS (
        SELECT doc_id, text,
               '{_HTML_PRE}' || source || ' ' || doc_id::VARCHAR ||
               '{_HTML_MID}' || text || '{_HTML_POST}' AS h
        FROM documents
      ),
      ext AS (
        SELECT doc_id, text,
               substr(h, strpos(h, '{_HTML_MID}') + {len(_HTML_MID)},
                      strpos(h, '{_HTML_POST}')
                      - (strpos(h, '{_HTML_MID}') + {len(_HTML_MID)})) AS extracted
        FROM pages
      )
      SELECT doc_id, extracted = text AS ok, md5(extracted) AS content_hash FROM ext
    """

    _PAGES_CTE = f"""
      pages AS (
        SELECT doc_id, text,
               'https://' || source || '.example.com/doc/' || doc_id::VARCHAR AS url,
               '{_HTML_PRE}' || source || ' ' || doc_id::VARCHAR ||
               '{_HTML_MID}' || text || '{_HTML_POST}' AS h
        FROM documents
      )"""

    o["q_media_metadata"] = f"""
      WITH {_PAGES_CTE}
      SELECT url, length(h)::BIGINT AS n_bytes,
             CASE WHEN length(h) % 3 = 0 THEN 'image'
                  WHEN length(h) % 3 = 1 THEN 'audio'
                  ELSE 'video' END AS modality,
             (length(h) % 640 + 16)::BIGINT AS width,
             (length(h) % 480 + 16)::BIGINT AS height,
             (length(h) * 10)::BIGINT AS duration_ms
      FROM pages
    """

    # feature dims exploded to rows (driver canonicalizer can't hash an
    # array column — see q_media_decode's docstring); dim i-1 mirrors
    # Spark's 0-based posexplode position
    o["q_media_decode"] = f"""
      WITH {_PAGES_CTE}
      SELECT url, length(h)::BIGINT AS n_bytes, sha256(h) AS payload_sha,
             (i - 1)::BIGINT AS dim,
             round(ord(substr(h, i, 1)) / 255.0, 5) AS value
      FROM pages, unnest(range(1, 5)) AS u(i)
      WHERE h IS NOT NULL  -- posexplode emits no rows for a NULL feature
    """

    o["q_frame_plan"] = f"""
      WITH {_PAGES_CTE}
      SELECT url, u.o::BIGINT AS frame_offset
      FROM pages, unnest(range(0, length(h), 64)) u(o)
    """

    o["q_dedup_exact"] = f"""
      WITH {_CORPUS}
      SELECT md5(text) AS text_hash, count(*) AS n_dups, min(doc_id) AS canonical_id
      FROM corpus GROUP BY md5(text) HAVING count(*) > 1
    """

    k = config.SHINGLE_K
    # shingle -> minhash -> band -> candidate -> exact-jaccard chain,
    # shared by q_minhash_lsh (pair output) and q_dedup_clusters (the
    # cluster keep-map built on top of the same verified pairs)
    _MH_CHAIN = f"""
      ct AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
      sh AS (
        SELECT DISTINCT doc_id, array_to_string(t[i:i+{k - 1}], ' ') AS shingle
        FROM ct, unnest(range(1, len(t) - {k - 2})) AS u(i)
        WHERE len(t) >= {k}
      ),
      shh AS (
        SELECT doc_id,
               (('0x' || substr(md5(shingle), 1, 15))::UBIGINT % 2147483647)::BIGINT AS h
        FROM sh
      ),
      mh AS (
        SELECT doc_id, p,
               min(((2 * p + 1) * h + p) % 2147483647) AS h
        FROM shh, unnest(range(0, {config.MINHASH_PERMS})) AS v(p)
        GROUP BY doc_id, p
      ),
      bands AS (
        SELECT doc_id, p // 2 AS band_id,
               md5(string_agg(h::VARCHAR, '|' ORDER BY p)) AS band_hash
        FROM mh GROUP BY doc_id, p // 2
      ),
      cand AS (
        SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        FROM bands l JOIN bands r
          ON l.band_id = r.band_id AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id
      ),
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT c.a, c.b, count(*) AS n_inter
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.a
        JOIN sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
        GROUP BY c.a, c.b
      ),
      vp AS (
        SELECT i.a, i.b,
               round(i.n_inter::DOUBLE / (za.n + zb.n - i.n_inter), 4) AS jaccard
        FROM inter i JOIN sizes za ON za.doc_id = i.a JOIN sizes zb ON zb.doc_id = i.b
        WHERE i.n_inter::DOUBLE / (za.n + zb.n - i.n_inter) >= {config.JACCARD_THRESHOLD}
      )"""

    o["q_minhash_lsh"] = f"""
      WITH {_CORPUS},
      {_MH_CHAIN}
      SELECT a, b, jaccard FROM vp
    """

    # exact inverted-index Jaccard: ALL sharing pairs, no LSH banding
    # (max_doc_freq=1000 never fires at gate scale — df ≤ |corpus| ≈
    # 550 — so the oracle omits the cap)
    o["q_jaccard_pairs"] = f"""
      WITH {_CORPUS},
      ct AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
      sh AS (
        SELECT DISTINCT doc_id, array_to_string(t[i:i+{k - 1}], ' ') AS shingle
        FROM ct, unnest(range(1, len(t) - {k - 2})) AS u(i)
        WHERE len(t) >= {k}
      ),
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT sa.doc_id AS a, sb.doc_id AS b, count(*) AS n_inter
        FROM sh sa JOIN sh sb
          ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
        GROUP BY sa.doc_id, sb.doc_id
      )
      SELECT i.a, i.b,
             round(i.n_inter::DOUBLE / (za.n + zb.n - i.n_inter), 4) AS jaccard
      FROM inter i JOIN sizes za ON za.doc_id = i.a
                   JOIN sizes zb ON zb.doc_id = i.b
      WHERE i.n_inter::DOUBLE / (za.n + zb.n - i.n_inter)
            >= {config.JACCARD_THRESHOLD}
    """

    # BPE pair-candidate replay: word-count vocabulary, then pairs over
    # distinct words weighted by count
    o["q_bpe_pairs"] = """
      WITH toks AS (
        SELECT unnest(string_split(coalesce(text, ''), ' ')) AS w
        FROM documents
      ),
      wc AS (SELECT w, count(*)::BIGINT AS c FROM toks WHERE w != '' GROUP BY w),
      pairs AS (
        SELECT substr(w, i, 2) AS pair, c
        FROM wc, unnest(range(1, length(w))) AS u(i)
        WHERE length(w) >= 2
      ),
      agg AS (SELECT pair, sum(c)::BIGINT AS n FROM pairs GROUP BY pair)
      SELECT pair, n,
             row_number() OVER (ORDER BY n DESC, pair ASC)::BIGINT AS rank
      FROM agg QUALIFY rank <= 20
    """

    # winnowing replay: positioned k-gram hashes, packed (hash, pos
    # desc) key, sliding ROWS frame min, winners decoded by substring
    o["q_winnow"] = f"""
      WITH {_CORPUS},
      ct AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
      grid AS (
        SELECT doc_id, i - 1 AS pos,
               substr(md5(array_to_string(t[i:i+{k - 1}], ' ')), 1, 12) AS h
        FROM ct, unnest(range(1, len(t) - {k - 2})) AS u(i)
        WHERE len(t) >= {k}
      ),
      keyed AS (
        SELECT doc_id, pos,
               h || lpad((99999999 - pos)::VARCHAR, 8, '0') AS key
        FROM grid
      ),
      winners AS (
        SELECT DISTINCT doc_id, wkey FROM (
          SELECT doc_id, pos,
                 min(key) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wkey
          FROM keyed
        ) WHERE pos >= 3
      )
      SELECT doc_id,
             (99999999 - substr(wkey, 13, 8)::BIGINT) AS pos,
             substr(wkey, 1, 12) AS fp
      FROM winners
    """

    # directed containment replay: dup corpus + injected 30-token
    # excerpts; intersection counted once (a < b), both directions
    # derive their own denominator
    o["q_containment"] = f"""
      WITH {_CORPUS},
      corpus2 AS (
        SELECT doc_id, text FROM corpus
        UNION ALL
        SELECT doc_id + 3000000, array_to_string(t[1:30], ' ')
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        WHERE doc_id % 20 = 5
      ),
      ct AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus2),
      sh AS (
        SELECT DISTINCT doc_id, array_to_string(t[i:i+{k - 1}], ' ') AS shingle
        FROM ct, unnest(range(1, len(t) - {k - 2})) AS u(i)
        WHERE len(t) >= {k}
      ),
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT sa.doc_id AS a, sb.doc_id AS b, count(*) AS n_inter
        FROM sh sa JOIN sh sb
          ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
        GROUP BY sa.doc_id, sb.doc_id
      ),
      directed AS (
        SELECT a AS src, b AS dst, n_inter FROM inter
        UNION ALL
        SELECT b AS src, a AS dst, n_inter FROM inter
      )
      SELECT d.src, d.dst, d.n_inter::BIGINT AS n_inter,
             round(d.n_inter::DOUBLE / z.n, 4) AS containment
      FROM directed d JOIN sizes z ON z.doc_id = d.src
      WHERE d.n_inter::DOUBLE / z.n >= 0.9
    """

    # cluster resolution by recursive reachability-min over the verified
    # pair graph (candidate-pair sized, tiny relative to the corpus)
    o["q_dedup_clusters"] = f"""
      WITH {_CORPUS},
      {_MH_CHAIN},
      nodes AS (SELECT a AS n FROM vp UNION SELECT b FROM vp),
      edges AS (SELECT a, b FROM vp UNION SELECT b AS a, a AS b FROM vp),
      rr AS (
        WITH RECURSIVE walk AS (
          SELECT n AS node, n AS lab FROM nodes
          UNION
          SELECT e.b AS node, walk.lab FROM walk JOIN edges e ON e.a = walk.node
        )
        SELECT node, min(lab) AS canonical FROM walk GROUP BY node
      )
      SELECT node::BIGINT AS doc_id, canonical::BIGINT AS canonical_id,
             node != canonical AS is_dup
      FROM rr
    """

    o["q_decontaminate"] = f"""
      WITH {_CORPUS},
      cct AS (SELECT doc_id, string_split(text, ' ') AS t
              FROM corpus WHERE doc_id >= 1000000),
      csh AS (
        SELECT DISTINCT doc_id, array_to_string(t[i:i+{k - 1}], ' ') AS shingle
        FROM cct, unnest(range(1, len(t) - {k - 2})) AS u(i)
        WHERE len(t) >= {k}
      ),
      bct AS (SELECT doc_id, string_split(text, ' ') AS t
              FROM documents WHERE doc_id % 20 = 10),
      bsh AS (
        SELECT DISTINCT doc_id AS bench_id,
               array_to_string(t[i:i+{k - 1}], ' ') AS shingle
        FROM bct, unnest(range(1, len(t) - {k - 2})) AS u(i)
        WHERE len(t) >= {k}
      )
      SELECT c.doc_id,
             count(DISTINCT b.bench_id)::BIGINT AS n_bench_docs,
             count(DISTINCT c.shingle)::BIGINT AS n_shared_shingles
      FROM csh c JOIN bsh b ON c.shingle = b.shingle
      GROUP BY c.doc_id
      HAVING count(DISTINCT c.shingle) >= 2
    """

    o["q_simhash"] = """
      WITH dt AS (
        SELECT DISTINCT doc_id, tok
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      ),
      bitsum AS (
        SELECT doc_id, j,
               sum(CASE WHEN substr(md5(tok), j + 1, 1) IN
                        ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS s
        FROM dt, unnest(range(0, 16)) AS u(j)
        GROUP BY doc_id, j
      )
      SELECT doc_id,
             string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS fingerprint
      FROM bitsum GROUP BY doc_id
    """

    hamming_sql = " + ".join(
        f"(CASE WHEN substr(fa, {j + 1}, 1) != substr(fb, {j + 1}, 1) THEN 1 ELSE 0 END)"
        for j in range(16)
    )
    o["q_simhash_pairs"] = f"""
      WITH {_CORPUS},
      dt AS (
        SELECT DISTINCT doc_id, tok
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM corpus)
      ),
      bitsum AS (
        SELECT doc_id, j,
               sum(CASE WHEN substr(md5(tok), j + 1, 1) IN
                        ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS s
        FROM dt, unnest(range(0, 16)) AS u(j)
        GROUP BY doc_id, j
      ),
      fp AS (
        SELECT doc_id,
               string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS f
        FROM bitsum GROUP BY doc_id
      ),
      pairs AS (
        -- ALL close pairs (no blocking): the oracle is the exhaustive
        -- reference proving the engine's 4-band pigeonhole blocking is
        -- lossless for hamming <= 3
        SELECT l.doc_id AS a, r.doc_id AS b, l.f AS fa, r.f AS fb
        FROM fp l JOIN fp r ON l.doc_id < r.doc_id
      )
      SELECT * FROM (
        SELECT a, b, ({hamming_sql}) AS hamming FROM pairs
      ) WHERE hamming <= 3
    """

    dims = 16
    vsum = lambda j: (  # noqa: E731
        f"sum(CASE WHEN substr(md5(tok), {j + 1}, 1) IN "
        f"('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)::BIGINT"
    )
    vcols = ", ".join(f"{vsum(j)} AS v_{j}" for j in range(dims))
    normsq = " + ".join(f"v_{j} * v_{j}" for j in range(dims))

    o["q_doc_embeddings"] = f"""
      WITH dt AS (
        SELECT DISTINCT doc_id, tok
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      ),
      emb AS (SELECT doc_id, {vcols} FROM dt GROUP BY doc_id)
      SELECT doc_id, v_0, v_1, v_2, v_3, ({normsq})::BIGINT AS norm_sq FROM emb
    """

    signs = " || ".join(
        f"(CASE WHEN v_{j} > 0 THEN '1' ELSE '0' END)" for j in range(dims)
    )
    band_match = " OR ".join(
        f"substr(l.sg, {k * 4 + 1}, 4) = substr(r.sg, {k * 4 + 1}, 4)"
        for k in range(4)
    )
    dot = " + ".join(f"l.v_{j} * r.v_{j}" for j in range(dims))
    o["q_embed_near_dups"] = f"""
      WITH {_CORPUS},
      dt AS (
        SELECT DISTINCT doc_id, tok
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM corpus)
      ),
      emb AS (SELECT doc_id, {vcols} FROM dt GROUP BY doc_id),
      emb2 AS (SELECT *, ({normsq}) AS norm_sq, {signs} AS sg FROM emb)
      SELECT * FROM (
        SELECT l.doc_id AS a, r.doc_id AS b,
               round(({dot})::DOUBLE / (sqrt(l.norm_sq::DOUBLE) * sqrt(r.norm_sq::DOUBLE)), 4) AS cos,
               ({dot})::DOUBLE / (sqrt(l.norm_sq::DOUBLE) * sqrt(r.norm_sq::DOUBLE)) AS rawcos
        FROM emb2 l JOIN emb2 r
          ON l.doc_id < r.doc_id AND ({band_match})
      ) WHERE rawcos >= 0.95
    """
    # note: Spark filters on the unrounded cosine too; drop the helper col
    o["q_embed_near_dups"] = o["q_embed_near_dups"].replace(
        "SELECT * FROM (", "SELECT a, b, cos FROM ("
    )

    # SemDeDup replay: the perturbed-copy amplified embedding table, the
    # SAME deterministic Lloyd quantizer as q_ann_ivf_kmeans
    # (_kmeans_ivf_sql body reused up to corpus_cells; qids picks nothing
    # and the query-side CTEs are never referenced → never evaluated),
    # then within-cell pairs and the lower-id-keeps rule.  Both engines
    # fold the cosine sums left-to-right over identical doubles.
    _SD_COS = (
        "round(list_aggregate(list_transform(range(1, 65), "
        "d -> ea[d] * eb[d]), 'sum') "
        "/ (sqrt(list_aggregate(list_transform(range(1, 65), "
        "d -> ea[d] * ea[d]), 'sum')) "
        "* sqrt(list_aggregate(list_transform(range(1, 65), "
        "d -> eb[d] * eb[d]), 'sum'))), 6)"
    )
    o["q_semdedup"] = f"""
      WITH demb AS (
        SELECT vec_id,
               list_transform(range(1, 65), d -> embedding[d]::DOUBLE) AS embedding
        FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000,
               list_transform(range(1, 65),
                 d -> embedding[d]::DOUBLE +
                      CASE WHEN d = vec_id % 64 + 1 THEN 0.1 ELSE 0.0 END)
        FROM embeddings WHERE vec_id % 4 = 0
      ),
      {_kmeans_ivf_sql("-1", n_cells=8, iters=2, dim=64, nprobe=1,
                       src="demb", final=False)},
      pr AS (
        SELECT ca.vec_id AS a, cb.vec_id AS b,
               xa.embedding AS ea, xb.embedding AS eb
        FROM corpus_cells ca
        JOIN corpus_cells cb ON ca.cell = cb.cell AND ca.vec_id < cb.vec_id
        JOIN e xa ON xa.vec_id = ca.vec_id
        JOIN e xb ON xb.vec_id = cb.vec_id
      ),
      drops AS (
        SELECT DISTINCT b AS vec_id FROM pr WHERE {_SD_COS} >= 0.9
      )
      SELECT cc.vec_id, cc.cell::BIGINT AS cell, d.vec_id IS NULL AS kept
      FROM corpus_cells cc LEFT JOIN drops d USING (vec_id)
    """

    def _ann_core(src: str = "embeddings") -> str:
        """Brute-force query×corpus cosine CTE chain over source table
        ``src`` — parameterized like _kmeans_ivf_sql's ``src`` (ADVICE
        r4: the old string-replace over a literal would silently no-op
        on a reformat and score the wrong table)."""
        return f"""
      q AS (SELECT vec_id AS qid, embedding AS qe FROM {src} WHERE vec_id IN ({_QIDS})),
      pairs AS (
        SELECT q.qid, v.vec_id, q.qe, v.embedding AS ve
        FROM q, {src} v WHERE v.vec_id != q.qid
      ),
      dots AS (
        SELECT qid, vec_id,
               sum(qe[i]::DOUBLE * ve[i]::DOUBLE) AS dot,
               sum(qe[i]::DOUBLE * qe[i]::DOUBLE) AS qn,
               sum(ve[i]::DOUBLE * ve[i]::DOUBLE) AS vn
        FROM pairs, unnest(range(1, len(qe) + 1)) AS u(i)
        GROUP BY qid, vec_id
      ),
      scored AS (SELECT qid, vec_id, dot / (sqrt(qn) * sqrt(vn)) AS raw FROM dots)
    """
    o["q_ann_quantized"] = f"""
      WITH qe AS (
        SELECT vec_id, embedding,
               round(list_max(list_transform(embedding,
                     x -> abs(x::DOUBLE))) / 127.0, 9) AS scale
        FROM embeddings
      ),
      qvecs AS (
        SELECT vec_id,
               list_transform(embedding, x -> CASE WHEN scale > 0
                   THEN greatest(-127.0,
                        least(127.0, round(x::DOUBLE / scale, 0)))
                   ELSE 0.0 END) AS embedding
        FROM qe
      ),
      {_ann_core("qvecs")}
      SELECT qid AS query_id, vec_id,
             row_number() OVER (PARTITION BY qid ORDER BY raw DESC, vec_id) AS rank,
             round(raw, 4) AS score
      FROM scored
      QUALIFY rank <= {config.ANN_TOP_K}
    """

    o["q_ann_topk"] = f"""
      WITH {_ann_core()}
      SELECT qid AS query_id, vec_id,
             row_number() OVER (PARTITION BY qid ORDER BY raw DESC, vec_id) AS rank,
             round(raw, 4) AS score
      FROM scored
      QUALIFY rank <= {config.ANN_TOP_K}
    """

    # RRF hybrid fusion: the q_bm25 chain (CTEs b-prefixed — _ann_core
    # also defines `scored`) at k=20 + the shared brute-force cosine
    # core filtered to query vector 0, fused with Σ 1/(60+rank)
    o["q_hybrid_rrf"] = f"""
      WITH {_bm25_core("b")},
      bm AS (
        SELECT doc_id, "rank" AS rank_a FROM branked WHERE "rank" <= 20
      ),
      {_ann_core()},
      ann AS (
        SELECT vec_id AS doc_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY raw DESC, vec_id ASC)::BIGINT AS rank_b
        FROM scored WHERE qid = {QUERY_IDS[0]}
        QUALIFY rank_b <= 20
      ),
      fused AS (
        SELECT doc_id, rank_a, rank_b,
               round(coalesce(1.0 / (60 + rank_a), 0)
                     + coalesce(1.0 / (60 + rank_b), 0), 6) AS rrf
        FROM bm FULL OUTER JOIN ann USING (doc_id)
      )
      SELECT doc_id, rrf,
             row_number() OVER (ORDER BY rrf DESC, doc_id ASC)::BIGINT AS fused_rank,
             coalesce(rank_a, 0)::BIGINT AS rank_a,
             coalesce(rank_b, 0)::BIGINT AS rank_b
      FROM fused QUALIFY fused_rank <= 10
    """

    cell = lambda col: " || ".join(  # noqa: E731
        f"(CASE WHEN {col}[{i + 1}] >= 0 THEN '1' ELSE '0' END)"
        for i in range(config.IVF_SIGN_DIMS)
    )
    o["q_ann_ivf"] = f"""
      WITH q AS (SELECT vec_id AS qid, embedding AS qe, {cell('embedding')} AS qcell
                 FROM embeddings WHERE vec_id IN ({_QIDS})),
      pairs AS (
        SELECT q.qid, v.vec_id, q.qe, v.embedding AS ve
        FROM q JOIN embeddings v
          ON {cell('v.embedding')} = q.qcell AND v.vec_id != q.qid
      ),
      dots AS (
        SELECT qid, vec_id,
               sum(qe[i]::DOUBLE * ve[i]::DOUBLE) AS dot,
               sum(qe[i]::DOUBLE * qe[i]::DOUBLE) AS qn,
               sum(ve[i]::DOUBLE * ve[i]::DOUBLE) AS vn
        FROM pairs, unnest(range(1, len(qe) + 1)) AS u(i)
        GROUP BY qid, vec_id
      ),
      scored AS (SELECT qid, vec_id, dot / (sqrt(qn) * sqrt(vn)) AS raw FROM dots)
      SELECT qid AS query_id, vec_id,
             row_number() OVER (PARTITION BY qid ORDER BY raw DESC, vec_id) AS rank,
             round(raw, 4) AS score
      FROM scored
      QUALIFY rank <= {config.ANN_TOP_K}
    """

    o["q_ann_ivf_kmeans"] = "WITH " + _kmeans_ivf_sql(
        _QIDS, n_cells=64, iters=3, dim=64, nprobe=24, k=config.ANN_TOP_K
    )

    cell_ham = " + ".join(
        f"(CASE WHEN substr(qcell, {i + 1}, 1) != substr(vcell, {i + 1}, 1) THEN 1 ELSE 0 END)"
        for i in range(config.IVF_SIGN_DIMS)
    )
    o["q_ann_multiprobe"] = f"""
      WITH q AS (SELECT vec_id AS qid, embedding AS qe, {cell('embedding')} AS qcell
                 FROM embeddings WHERE vec_id IN ({_QIDS})),
      v AS (SELECT vec_id, embedding AS ve, {cell('embedding')} AS vcell FROM embeddings),
      pairs AS (
        SELECT q.qid, v.vec_id, q.qe, v.ve
        FROM q JOIN v ON ({cell_ham}) <= 1 AND v.vec_id != q.qid
      ),
      dots AS (
        SELECT qid, vec_id,
               sum(qe[i]::DOUBLE * ve[i]::DOUBLE) AS dot,
               sum(qe[i]::DOUBLE * qe[i]::DOUBLE) AS qn,
               sum(ve[i]::DOUBLE * ve[i]::DOUBLE) AS vn
        FROM pairs, unnest(range(1, len(qe) + 1)) AS u(i)
        GROUP BY qid, vec_id
      ),
      scored AS (SELECT qid, vec_id, dot / (sqrt(qn) * sqrt(vn)) AS raw FROM dots)
      SELECT qid AS query_id, vec_id,
             row_number() OVER (PARTITION BY qid ORDER BY raw DESC, vec_id) AS rank,
             round(raw, 4) AS score
      FROM scored
      QUALIFY rank <= {config.ANN_TOP_K}
    """

    o["q_cosine_threshold"] = f"""
      WITH {_ann_core()}
      SELECT qid AS query_id, vec_id, round(raw, 4) AS score
      FROM scored WHERE raw >= {config.COSINE_THRESHOLD}
    """

    o["q_quality"] = f"""
      SELECT doc_id,
             len(t) AS n_tokens,
             length(text) AS n_chars,
             len(list_distinct(t)) AS n_distinct,
             round(len(list_distinct(t))::DOUBLE / len(t), 4) AS distinct_ratio,
             round(len(list_filter(t, x -> x IN ({_STOP})))::DOUBLE / len(t), 4) AS stop_ratio,
             round((length(text) - (len(t) - 1))::DOUBLE / len(t), 4) AS avg_word_len
      FROM (SELECT doc_id, coalesce(text, '') AS text,
                   string_split(coalesce(text, ''), ' ') AS t FROM documents)
    """

    o["q_langid"] = """
      WITH bg AS (
        SELECT doc_id, lang, substr(text, i, 2) AS bigram
        FROM documents, unnest(range(1, length(text))) AS u(i)
      ),
      profile AS (SELECT lang AS p_lang, bigram, count(*) AS votes FROM bg GROUP BY 1, 2),
      docbg AS (SELECT doc_id, lang, bigram, count(*) AS n FROM bg GROUP BY 1, 2, 3),
      scored AS (
        SELECT d.doc_id, d.lang, p.p_lang, sum(d.n * p.votes) AS score
        FROM docbg d JOIN profile p ON d.bigram = p.bigram
        GROUP BY d.doc_id, d.lang, p.p_lang
      )
      SELECT doc_id, lang, p_lang AS pred_lang
      FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                         ORDER BY score DESC, p_lang) AS rn
            FROM scored)
      WHERE rn = 1
    """

    o["q_token_counts"] = """
      SELECT doc_id,
             len(string_split(coalesce(text, ''), ' ')) AS ws_tokens,
             length(coalesce(text, '')) AS n_chars,
             greatest(1, ceil(length(coalesce(text, ''))::DOUBLE / 4))::BIGINT AS bpe_estimate
      FROM documents
    """

    o["q_fingerprints"] = """
      SELECT doc_id, md5(text) AS content_hash,
             t[1] || '|' || t[len(t)] || '|' ||
             floor(log2(length(text)::DOUBLE))::BIGINT::VARCHAR AS locality_key
      FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents
            WHERE text IS NOT NULL AND text != '')
    """

    # Shared sentence reconstruction (terminator split, trailing empty
    # segment dropped) for the repetition / line-dedup oracles — the SQL
    # twin of textstats.sentence_texts.  Only the LAST segment can be
    # empty (consecutive terminators each carry their own token), so
    # filtered positions stay consecutive and i-1 is the sent_id.
    _sents_cte = f"""
base AS (
  SELECT doc_id, coalesce(text, '') AS text,
         CASE WHEN coalesce(text, '') = '' THEN []::VARCHAR[]
              ELSE string_split(coalesce(text, ''), ' ') END AS t
  FROM documents
),
bounds AS (
  SELECT doc_id, t,
         list_prepend(1, list_transform(termpos, p -> p + 1)) AS starts,
         list_append(termpos, len(t)) AS ends
  FROM (SELECT doc_id, t,
               list_filter(range(1, len(t) + 1), i -> t[i] = '{config.SENT_TERM}') AS termpos
        FROM base WHERE len(t) >= 1)
),
sents AS (
  SELECT doc_id, i - 1 AS sent_id,
         array_to_string(t[starts[i]:ends[i]], ' ') AS sent_text
  FROM bounds, unnest(range(1, len(starts) + 1)) AS u(i)
  WHERE starts[i] <= ends[i]
)"""

    o["q_repetition"] = f"""
      WITH {_sents_cte},
      grams AS (
        SELECT doc_id, t[i] || ' ' || t[i + 1] AS gram
        FROM base, unnest(range(1, len(t))) AS u(i)
        WHERE len(t) >= 2
      ),
      gstat AS (
        SELECT doc_id, sum(cnt)::BIGINT AS n_grams2, max(cnt)::BIGINT AS top_gram_count
        FROM (SELECT doc_id, gram, count(*) AS cnt FROM grams GROUP BY doc_id, gram)
        GROUP BY doc_id
      ),
      sstat AS (
        SELECT doc_id, count(*)::BIGINT AS n_sents,
               count(DISTINCT sent_text)::BIGINT AS n_distinct_sents
        FROM sents GROUP BY doc_id
      )
      SELECT b.doc_id,
             coalesce(n_grams2, 0) AS n_grams2,
             coalesce(top_gram_count, 0) AS top_gram_count,
             round(coalesce(top_gram_count::DOUBLE / n_grams2, 0), 4) AS top_gram_frac,
             coalesce(n_sents, 0) AS n_sents,
             coalesce(n_distinct_sents, 0) AS n_distinct_sents,
             round(coalesce((n_sents - n_distinct_sents)::DOUBLE / n_sents, 0), 4)
               AS dup_sent_frac
      FROM base b LEFT JOIN gstat USING (doc_id) LEFT JOIN sstat USING (doc_id)
    """

    o["q_line_dedup"] = f"""
      WITH {_sents_cte},
      ranked AS (
        SELECT doc_id,
               row_number() OVER (PARTITION BY sent_text ORDER BY doc_id, sent_id) AS rn
        FROM sents
      ),
      kept AS (SELECT doc_id, count(*)::BIGINT AS n_kept FROM ranked WHERE rn = 1 GROUP BY doc_id),
      totals AS (SELECT doc_id, count(*)::BIGINT AS n_sents FROM sents GROUP BY doc_id)
      SELECT d.doc_id,
             coalesce(n_sents, 0) AS n_sents,
             coalesce(n_kept, 0) AS n_kept,
             coalesce(n_sents, 0) - coalesce(n_kept, 0) AS n_dropped
      FROM documents d LEFT JOIN totals USING (doc_id) LEFT JOIN kept USING (doc_id)
    """

    _mix_case = "CASE lang WHEN 'en' THEN 600 WHEN 'de' THEN 300 ELSE 150 END"
    o["q_stratified_sample"] = f"""
      WITH keyed AS (
        SELECT lang AS stratum, doc_id AS rid,
               (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::UBIGINT
                 % 1000)::BIGINT AS bucket,
               {_mix_case} AS target_mille
        FROM documents
      )
      SELECT stratum, count(*) AS n_docs,
             sum(CASE WHEN bucket < target_mille THEN 1 ELSE 0 END)::BIGINT AS n_sampled,
             sum(CASE WHEN bucket < target_mille THEN rid ELSE 0 END)::BIGINT
               AS sum_sampled_ids,
             target_mille::BIGINT AS target_mille
      FROM keyed GROUP BY stratum, target_mille
    """

    o["q_quantile_sketch"] = """
      WITH bounds AS (
        SELECT event_type, min(value) AS vmin, max(value) AS vmax,
               count(value) AS n
        FROM events WHERE value IS NOT NULL GROUP BY event_type
      ),
      binned AS (
        SELECT e.event_type,
               CASE WHEN vmax = vmin THEN 0
                    ELSE least(floor((value - vmin) / ((vmax - vmin) / 128.0))::INT, 127)
               END AS bin,
               count(*) AS cnt
        FROM events e JOIN bounds b USING (event_type)
        WHERE value IS NOT NULL
        GROUP BY e.event_type, bin
      ),
      cum AS (
        SELECT c.event_type, bin, vmin, vmax, n,
               sum(cnt) OVER (PARTITION BY c.event_type ORDER BY bin
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM binned c JOIN bounds b USING (event_type)
      )
      SELECT event_type,
             round(min(CASE WHEN cum >= ceil(0.5 * n)::BIGINT
                            THEN vmin + bin * ((vmax - vmin) / 128.0) END), 6) AS q_5,
             round(min(CASE WHEN cum >= ceil(0.9 * n)::BIGINT
                            THEN vmin + bin * ((vmax - vmin) / 128.0) END), 6) AS q_9,
             round(min(CASE WHEN cum >= ceil(0.99 * n)::BIGINT
                            THEN vmin + bin * ((vmax - vmin) / 128.0) END), 6) AS q_99,
             min(n)::BIGINT AS n
      FROM cum GROUP BY event_type
    """

    o["q_fixed_sample"] = """
      WITH counts AS (SELECT lang, count(*) AS n_stratum FROM documents GROUP BY lang),
      keyed AS (
        SELECT d.lang, d.doc_id, md5(CAST(doc_id AS VARCHAR)) AS key,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::UBIGINT::BIGINT
                 AS lead16,
               least(65536, ceil(65536.0 * 4 * 10 / n_stratum)::BIGINT) AS thresh
        FROM documents d JOIN counts USING (lang)
      ),
      ranked AS (
        SELECT lang AS stratum, doc_id AS rid,
               row_number() OVER (PARTITION BY lang ORDER BY key ASC, doc_id ASC) AS rn
        FROM keyed WHERE lead16 < thresh
      )
      SELECT stratum, rid, rn::BIGINT AS rnk FROM ranked WHERE rn <= 10
    """

    o["q_vocab"] = """
      WITH counts AS (
        SELECT token, count(*)::BIGINT AS n
        FROM (SELECT unnest(string_split(coalesce(text, ''), ' ')) AS token
              FROM documents)
        WHERE token != ''
        GROUP BY token HAVING count(*) >= 2
      )
      SELECT token, n,
             row_number() OVER (ORDER BY n DESC, token ASC)::BIGINT AS token_id
      FROM counts
    """

    o["q_tpch_pricing"] = """
      SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_base_price,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
             round(avg(l_quantity), 4) AS avg_qty,
             round(avg(l_discount), 4) AS avg_disc,
             count(*) AS count_order
      FROM lineitem GROUP BY l_returnflag, l_linestatus
    """

    o["q_revenue_by_nation"] = """
      SELECT n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
      FROM orders JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name
    """

    o["q_top_parts"] = """
      SELECT p_brand, p_partkey, round(p_retailprice, 2) AS p_retailprice, rn
      FROM (SELECT p_brand, p_partkey, p_retailprice,
                   row_number() OVER (PARTITION BY p_brand
                                      ORDER BY p_retailprice DESC, p_partkey) AS rn
            FROM part)
      WHERE rn <= 3
    """

    # literal correlated form — DuckDB decorrelates; the engine query is
    # the hand-decorrelated broadcast plan (TPC-H Q17 shape)
    o["q_small_qty_revenue"] = """
      WITH p AS (
        SELECT p_partkey FROM part WHERE p_brand = 'Brand#1' AND p_size < 15
      )
      SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
      FROM lineitem JOIN p ON p_partkey = l_partkey
      WHERE l_quantity < (
        SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = p_partkey
      )
    """

    o["q_shipping_priority"] = """
      SELECT o_orderkey, o_orderdate, o_orderpriority, revenue, rn
      FROM (
        SELECT o_orderkey, o_orderdate, o_orderpriority,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               row_number() OVER (ORDER BY round(sum(l_extendedprice * (1 - l_discount)), 2) DESC,
                                  o_orderkey) AS rn
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE c_mktsegment = 'BUILDING' AND l_shipdate > o_orderdate
        GROUP BY o_orderkey, o_orderdate, o_orderpriority
      ) WHERE rn <= 10
    """

    o["q_ngram_match"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT}
      SELECT surface AS ngram, count(*) AS n
      FROM ment WHERE tag = 'ORG' GROUP BY surface
    """

    o["q_rollup_revenue"] = """
      SELECT o_orderpriority, o_orderstatus,
             round(sum(o_totalprice), 2) AS revenue, count(*) AS n
      FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """

    # DuckDB has a NATIVE ASOF JOIN — the perfect oracle for the
    # engine's union+window formulation.  Right side deduped to one row
    # per (user_id, ts) by max event_id, matching the engine's tiebreak.
    o["q_asof_events"] = """
      WITH clicks AS (
        SELECT user_id, ts, event_id, round(value, 4) AS click_value
        FROM events WHERE event_type = 'click'
      ),
      views AS (
        SELECT user_id, ts, max_by(round(value, 4), event_id) AS view_value
        FROM events WHERE event_type = 'view'
        GROUP BY user_id, ts
      )
      SELECT c.user_id, c.ts, c.event_id, c.click_value,
             coalesce(v.ts, TIMESTAMP '1970-01-01') AS asof_ts,
             coalesce(v.view_value, -999999.0) AS view_value
      FROM clicks c ASOF LEFT JOIN views v
        ON c.user_id = v.user_id AND c.ts >= v.ts
    """

    o["q_kmv_distinct"] = """
      WITH h AS (
        SELECT DISTINCT event_type,
               substr(md5(user_id::VARCHAR), 1, 12) AS hx
        FROM events
      ),
      r AS (
        SELECT event_type, hx,
               row_number() OVER (PARTITION BY event_type ORDER BY hx) AS rn,
               count(*) OVER (PARTITION BY event_type) AS nd
        FROM h
      ),
      kept AS (SELECT * FROM r WHERE rn <= 64)
      SELECT event_type,
             CASE WHEN max(nd) < 64 THEN least(max(nd), 64)::DOUBLE
                  ELSE round(63.0 /
                       (('0x' || max(CASE WHEN rn = 64 THEN hx END))::UBIGINT::DOUBLE
                        / 281474976710656.0), 2)
             END AS n_distinct_est,
             least(max(nd), 64)::BIGINT AS n_kept
      FROM kept GROUP BY event_type
    """

    # KMV set-op replay: bottom-64 user-day hash sets per side, merged
    # bottom-64 as the union sketch, ρ = |S∩A∩B|/|S| for the Jaccard /
    # intersection estimates — identical integer ratios both engines
    _KMV_EST = (
        "CASE WHEN max(nd) < 64 THEN least(max(nd), 64)::DOUBLE "
        "ELSE round(63.0 / (('0x' || max(CASE WHEN rn = 64 THEN hx END))"
        "::UBIGINT::DOUBLE / 281474976710656.0), 2) END"
    )
    o["q_kmv_setops"] = f"""
      WITH ha AS (
        SELECT DISTINCT substr(md5(user_id::VARCHAR || '|' ||
                               strftime(ts, '%Y-%m-%d')), 1, 12) AS hx
        FROM events WHERE event_type = 'click'
      ),
      hb AS (
        SELECT DISTINCT substr(md5(user_id::VARCHAR || '|' ||
                               strftime(ts, '%Y-%m-%d')), 1, 12) AS hx
        FROM events WHERE event_type = 'view'
      ),
      ka AS (SELECT * FROM (
               SELECT hx, row_number() OVER (ORDER BY hx) AS rn,
                      count(*) OVER () AS nd FROM ha) WHERE rn <= 64),
      kb AS (SELECT * FROM (
               SELECT hx, row_number() OVER (ORDER BY hx) AS rn,
                      count(*) OVER () AS nd FROM hb) WHERE rn <= 64),
      hu AS (SELECT hx FROM ka UNION SELECT hx FROM kb),
      ku AS (SELECT * FROM (
               SELECT hx, row_number() OVER (ORDER BY hx) AS rn,
                      count(*) OVER () AS nd FROM hu) WHERE rn <= 64),
      ea AS (SELECT {_KMV_EST} AS est FROM ka),
      eb AS (SELECT {_KMV_EST} AS est FROM kb),
      eu AS (SELECT {_KMV_EST} AS est FROM ku),
      inter AS (SELECT count(*)::BIGINT AS c FROM ku
                WHERE hx IN (SELECT hx FROM ka)
                  AND hx IN (SELECT hx FROM kb)),
      su AS (SELECT count(*)::BIGINT AS n FROM ku)
      SELECT 'click|view' AS pair,
             (SELECT est FROM ea) AS est_a,
             (SELECT est FROM eb) AS est_b,
             (SELECT est FROM eu) AS est_union,
             round((SELECT c FROM inter)::DOUBLE / (SELECT n FROM su)
                   * (SELECT est FROM eu), 2) AS est_intersect,
             round((SELECT c FROM inter)::DOUBLE / (SELECT n FROM su), 6)
               AS jaccard_est
    """

    # ExactSubstr replay: length-20 window hashes; a shared L-token run
    # is L-19 consecutive diagonal matches — island detection via the
    # pos − row_number device, identical on both engines
    o["q_exact_substr"] = f"""
      WITH {_CORPUS},
      ct AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
      wins AS (
        SELECT doc_id, i - 1 AS pos,
               md5(array_to_string(t[i:i+19], ' ')) AS wh
        FROM ct, unnest(range(1, len(t) - 18)) AS u(i)
        WHERE len(t) >= 20
      ),
      shared AS (
        SELECT wh FROM wins GROUP BY wh
        HAVING count(DISTINCT doc_id) BETWEEN 2 AND 1000
      ),
      hits AS (SELECT w.* FROM wins w JOIN shared USING (wh)),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.pos AS pos_a, a.pos - b.pos AS diag
        FROM hits a JOIN hits b ON a.wh = b.wh AND a.doc_id < b.doc_id
      ),
      isl AS (
        SELECT doc_a, doc_b, diag,
               pos_a - row_number() OVER (
                 PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS island
        FROM pairs
      ),
      runs AS (
        SELECT doc_a, doc_b, diag, island, count(*) AS run
        FROM isl GROUP BY doc_a, doc_b, diag, island
      )
      SELECT doc_a, doc_b,
             sum(run)::BIGINT AS n_shared_windows,
             max(run)::BIGINT AS longest_run,
             (max(run) + 19)::BIGINT AS longest_match_tokens
      FROM runs GROUP BY doc_a, doc_b
    """

    # DSIR replay: md5 bucket identical to cm_bucket(token, 0, 256);
    # bucket model and totals re-aggregate from per_doc exactly as the
    # engine does, so the Laplace smoothing sees the same counts
    o["q_dsir_weights"] = """
      WITH toks AS (
        SELECT doc_id, lang = 'en' AS is_target,
               (('0x' || substr(md5('0|' || token), 1, 12))::UBIGINT
                % 256)::BIGINT AS h
        FROM (SELECT doc_id, lang,
                     unnest(string_split(coalesce(text, ''), ' ')) AS token
              FROM documents)
        WHERE token != ''
      ),
      per_doc AS (
        SELECT doc_id, h, count(*)::BIGINT AS n_dh,
               bool_or(is_target) AS is_target
        FROM toks GROUP BY doc_id, h
      ),
      buckets AS (
        SELECT h, sum(n_dh)::BIGINT AS c_r,
               sum(CASE WHEN is_target THEN n_dh ELSE 0 END)::BIGINT AS c_t
        FROM per_doc GROUP BY h
      ),
      tot AS (SELECT sum(c_r)::BIGINT AS n_r, sum(c_t)::BIGINT AS n_t
              FROM buckets),
      rates AS (
        SELECT h, ln(((c_t + 1.0) / (n_t + 256.0))
                     / ((c_r + 1.0) / (n_r + 256.0))) AS lr
        FROM buckets, tot
      ),
      scored AS (
        SELECT doc_id, sum(n_dh)::BIGINT AS n_tokens,
               round(sum(n_dh * lr), 4) AS logratio
        FROM per_doc JOIN rates USING (h) GROUP BY doc_id
      )
      SELECT d.doc_id,
             coalesce(n_tokens, 0)::BIGINT AS n_tokens,
             coalesce(logratio, 0.0) AS logratio,
             coalesce(logratio, 0.0) > 0 AS kept
      FROM documents d LEFT JOIN scored USING (doc_id)
    """

    # boilerplate removal over the chrome-injected corpus: the amp CTE
    # mirrors dedup.with_boilerplate_corpus, the sentence split mirrors
    # _sents_cte but carries source
    o["q_boilerplate"] = f"""
      WITH amp AS (
        SELECT doc_id, source,
               concat_ws(' ',
                 CASE WHEN doc_id % 3 != 2
                      THEN 'cookie notice ' || source || ' {config.SENT_TERM}' END,
                 nullif(coalesce(text, ''), ''),
                 CASE WHEN doc_id % 7 = 3
                      THEN '{config.SENT_TERM} all rights reserved '
                           || source || ' {config.SENT_TERM}' END
               ) AS text
        FROM documents
      ),
      base AS (
        SELECT doc_id, source,
               CASE WHEN text = '' THEN []::VARCHAR[]
                    ELSE string_split(text, ' ') END AS t
        FROM amp
      ),
      bounds AS (
        SELECT doc_id, source, t,
               list_prepend(1, list_transform(termpos, p -> p + 1)) AS starts,
               list_append(termpos, len(t)) AS ends
        FROM (SELECT doc_id, source, t,
                     list_filter(range(1, len(t) + 1),
                                 i -> t[i] = '{config.SENT_TERM}') AS termpos
              FROM base WHERE len(t) >= 1)
      ),
      sents AS (
        SELECT doc_id, source, i - 1 AS sent_id,
               array_to_string(t[starts[i]:ends[i]], ' ') AS sent_text
        FROM bounds, unnest(range(1, len(starts) + 1)) AS u(i)
        WHERE starts[i] <= ends[i]
      ),
      nd AS (SELECT source, count(*) AS n_docs FROM amp GROUP BY source),
      dfreq AS (
        SELECT source, sent_text, count(DISTINCT doc_id) AS df
        FROM sents GROUP BY source, sent_text
      ),
      boiler AS (
        SELECT f.source, f.sent_text
        FROM dfreq f JOIN nd USING (source)
        WHERE df >= 2 AND df >= n_docs * 0.5
      ),
      kept AS (
        SELECT s.* FROM sents s ANTI JOIN boiler b
          ON s.source = b.source AND s.sent_text = b.sent_text
      ),
      recon AS (
        SELECT doc_id, count(*) AS n_kept,
               string_agg(sent_text, ' ' ORDER BY sent_id) AS clean
        FROM kept GROUP BY doc_id
      ),
      tot AS (SELECT doc_id, count(*) AS n_sents FROM sents GROUP BY doc_id)
      SELECT d.doc_id,
             coalesce(t.n_sents, 0)::BIGINT AS n_sents,
             (coalesce(t.n_sents, 0) - coalesce(r.n_kept, 0))::BIGINT AS n_boiler,
             md5(coalesce(r.clean, '')) AS clean_hash
      FROM documents d
      LEFT JOIN tot t USING (doc_id)
      LEFT JOIN recon r USING (doc_id)
    """

    # HLL register replay: identical integer arithmetic to
    # sketches.hll_registers/hll_estimate — 48-bit md5 prefix, top 6
    # bits = register, rho = 43 − length(bin(low 42 bits)), fixed-point
    # harmonic sum via integer shifts, ONE double division at the end
    _hll_numer = repr(0.709 * 64 * 64 * float(2**50))
    o["q_hll_distinct"] = f"""
      WITH ct AS (
        SELECT lang, string_split(text, ' ') AS t
        FROM documents WHERE text IS NOT NULL
      ),
      sh AS (
        SELECT lang, array_to_string(t[i:i+2], ' ') AS shingle
        FROM ct, unnest(range(1, len(t) - 1)) AS u(i)
        WHERE len(t) >= 3
      ),
      h AS (
        SELECT lang,
               ('0x' || substr(md5(shingle), 1, 12))::UBIGINT::BIGINT AS hv
        FROM sh
      ),
      reg AS (
        SELECT lang, hv // 4398046511104 AS idx,
               CASE WHEN hv % 4398046511104 = 0 THEN 43
                    ELSE 43 - length(bin(hv % 4398046511104)) END AS rho
        FROM h
      ),
      regs AS (SELECT lang, idx, max(rho) AS rho FROM reg GROUP BY lang, idx),
      agg AS (
        SELECT lang, count(*) AS np,
               sum(((1::UBIGINT << (50 - rho))::BIGINT))::BIGINT AS sp
        FROM regs GROUP BY lang
      )
      SELECT lang,
             (64 - np)::BIGINT AS n_zero,
             (sp + (64 - np) * 1125899906842624)::BIGINT AS harmonic_fp,
             round({_hll_numer} /
                   (sp + (64 - np) * 1125899906842624), 4) AS est
      FROM agg
    """

    o["q_hypertable_rollup"] = """
      SELECT date_trunc('day', ts) AS bucket_ts,
             event_type, count(*) AS n,
             round(sum(value), 4) AS total_value,
             round(round(sum(value), 4) / count(*), 6) AS avg_value
      FROM events GROUP BY 1, 2
    """

    # inequality join: DuckDB's IEJoin evaluates the range predicate
    # natively — the oracle for the engine's bucketed equi-join
    o["q_range_join"] = """
      WITH p AS (SELECT user_id, ts, event_id AS purchase_id
                 FROM events WHERE event_type = 'purchase'),
      o2 AS (SELECT user_id, ts, event_id AS other_id,
                    event_type AS other_type
             FROM events WHERE event_type != 'purchase')
      SELECT p.user_id, p.purchase_id, o2.other_id, o2.other_type,
             round((epoch_us(o2.ts) - epoch_us(p.ts)) / 1000000.0, 6)
               AS gap_seconds
      FROM p JOIN o2 ON p.user_id = o2.user_id
        AND abs(epoch_us(p.ts) - epoch_us(o2.ts)) <= 900 * 1000000
    """

    # IN-subquery + HAVING form of the left-semi Spark plan
    o["q_big_orders"] = """
      SELECT c_name, o_orderkey, o_totalprice,
             round(sum(l_quantity), 4) AS total_qty
      FROM customer, orders, lineitem
      WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                           GROUP BY l_orderkey HAVING sum(l_quantity) > 200)
        AND c_custkey = o_custkey AND o_orderkey = l_orderkey
      GROUP BY c_name, o_orderkey, o_totalprice
    """

    # scalar-subquery form of the decorrelated Spark plan
    o["q_rich_light_customers"] = """
      SELECT c_mktsegment, count(*)::BIGINT AS n,
             round(avg(c_acctbal), 4) AS avg_bal
      FROM customer c
      WHERE c_acctbal > (SELECT round(avg(c_acctbal), 6) FROM customer)
        AND coalesce((SELECT count(*) FROM orders o
                      WHERE o.o_custkey = c.c_custkey), 0)
            < (SELECT round(avg(cnt), 6) FROM
               (SELECT count(*) AS cnt FROM orders GROUP BY o_custkey))
      GROUP BY c_mktsegment
    """

    # correlated double-EXISTS form of the hand-decorrelated Spark plan
    o["q_sole_return_suppliers"] = """
      SELECT s_name, count(*)::BIGINT AS numwait
      FROM supplier, lineitem l1, orders
      WHERE s_suppkey = l1.l_suppkey
        AND o_orderkey = l1.l_orderkey
        AND o_orderstatus = 'F'
        AND l1.l_returnflag = 'R'
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_returnflag = 'R')
      GROUP BY s_name
    """

    # literal Q15 form: the revenue view recomputed inside the scalar
    # MAX subquery (the Spark plan computes it once and broadcasts the
    # 1-row max back); revenue rounded to 4 digits on both engines
    # BEFORE max/equality so a float-sum-order ulp can't drop the winner
    o["q_top_supplier"] = """
      WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
        FROM lineitem WHERE l_returnflag <> 'R'
        GROUP BY l_suppkey
      )
      SELECT s_suppkey, s_name, total_revenue
      FROM supplier, revenue
      WHERE s_suppkey = supplier_no
        AND total_revenue = (SELECT max(total_revenue) FROM revenue)
    """

    # literal Q11 form: the HAVING threshold recomputes the nation-
    # filtered fact aggregate inside the scalar subquery (the Spark
    # plan derives it from the already-computed group table)
    o["q_important_parts"] = """
      SELECT l_partkey, round(sum(l_extendedprice * l_quantity), 4) AS value
      FROM lineitem, supplier, nation
      WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        AND n_name = 'NATION_12'
      GROUP BY l_partkey
      HAVING round(sum(l_extendedprice * l_quantity), 4) >
        (SELECT round(sum(l_extendedprice * l_quantity) * 0.002, 6)
         FROM lineitem, supplier, nation
         WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
           AND n_name = 'NATION_12')
    """

    # literal Q20 form: nested IN with a correlated aggregate threshold
    o["q_overstock_suppliers"] = """
      SELECT s_suppkey, s_name
      FROM supplier
      WHERE s_suppkey IN (
        SELECT l_suppkey FROM lineitem l1
        WHERE l1.l_partkey IN (SELECT p_partkey FROM part
                               WHERE p_name LIKE 'red%')
        GROUP BY l_suppkey, l_partkey
        HAVING sum(l_quantity) > (
          SELECT 0.15 * sum(l_quantity) FROM lineitem l2
          WHERE l2.l_partkey = l1.l_partkey
            AND l2.l_partkey IN (SELECT p_partkey FROM part
                                 WHERE p_name LIKE 'red%')
        )
      )
    """

    o["q_order_priority"] = """
      SELECT o_orderpriority, count(*) AS n_orders
      FROM orders o
      WHERE EXISTS (SELECT 1 FROM lineitem l
                    WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
      GROUP BY o_orderpriority
    """

    o["q_parts_no_returns"] = """
      SELECT p_brand, count(DISTINCT l_suppkey) AS n_suppliers,
             count(*) AS n_lines
      FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
      WHERE NOT EXISTS (SELECT 1 FROM lineitem r
                        WHERE r.l_partkey = p.p_partkey
                          AND r.l_returnflag = 'R' AND r.l_quantity > 45)
      GROUP BY p_brand
    """

    o["q_cube_sales"] = """
      SELECT l_returnflag, l_linestatus,
             round(sum(l_extendedprice), 2) AS revenue, count(*) AS n
      FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """

    o["q_pivot_events"] = """
      SELECT date_trunc('day', ts) AS day,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS click,
             sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS error,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS purchase,
             sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS signup,
             sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS view
      FROM events GROUP BY 1
    """

    o["q_events_window"] = """
      SELECT date_trunc('hour', ts) AS hour, event_type,
             count(*) AS n, round(sum(value), 2) AS total_value
      FROM events GROUP BY 1, 2
    """

    # streaming append-mode contract: emitted windows are exactly those
    # the final watermark closed (end <= max ts - 30 min); DuckDB
    # time_bucket aligns 10-minute buckets to the same origin as Spark's
    # tumbling windows (both are whole-minute multiples from epoch)
    o["q_stream_event_counts"] = """
      WITH mx AS (SELECT max(ts) AS m FROM events),
      agg AS (
        SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
               event_type,
               count(*)::BIGINT AS n,
               round(sum(value), 4) AS total_value
        FROM events GROUP BY 1, 2
      )
      SELECT window_start, event_type, n, total_value
      FROM agg, mx
      WHERE window_start + INTERVAL '10 minutes' <= m - INTERVAL '30 minutes'
    """

    o["q_events_sessions"] = """
      WITH g AS (
        SELECT user_id,
               epoch_us(ts) - lag(epoch_us(ts))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        FROM events
      )
      SELECT user_id, count(*) AS n_events,
             (1 + coalesce(sum(CASE WHEN gap > 1800 * 1000000 THEN 1 ELSE 0 END), 0))::BIGINT AS n_sessions
      FROM g GROUP BY user_id
    """
    # star-contraction CC is contract-identical to hash-min: same oracle
    o["q_canonical_star"] = o["q_canonical_cc"]
    o["q_stream_sessions"] = o["q_events_sessions"]
    o["q_stream_triples"] = o["q_triples"]
    o["q_stream_mentions"] = o["q_mentions"]
    o["q_stream_link_scores"] = o["q_entity_link"]

    # streaming bounded-state dedup: first-seen hash set == batch distinct
    o["q_stream_dedup"] = f"""
      WITH {_CORPUS}
      SELECT DISTINCT md5(text) AS text_hash FROM corpus
    """

    # stream-stream interval join: inner matches emit as both sides
    # arrive, so the completed AvailableNow run == the batch join
    o["q_stream_join"] = """
      SELECT v.user_id::BIGINT AS user_id,
             v.event_id::BIGINT AS view_id,
             c.event_id::BIGINT AS purchase_id,
             ((epoch_us(c.ts) - epoch_us(v.ts)) // 1000000)::BIGINT AS lag_s,
             round(c.value * 100)::BIGINT AS purchase_value_c
      FROM events v JOIN events c
        ON v.user_id = c.user_id
       AND v.event_type = 'view' AND c.event_type = 'purchase'
       AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 24 HOUR
    """

    # common-neighbor link prediction: naive wedge self-join through the
    # shared neighbor z, anti-join against the edge set, AA = Σ 1/ln(deg z)
    o["q_link_predict"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      edges AS (
        SELECT DISTINCT a.surface AS a, b.surface AS b
        FROM mentsent a JOIN mentsent b
          ON a.doc_id = b.doc_id AND a.sent_id = b.sent_id AND a.surface < b.surface
      ),
      sym AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
      deg AS (SELECT a AS node, count(*)::BIGINT AS deg FROM sym GROUP BY a),
      wedges AS (
        SELECT l.b AS v, r.b AS w, l.a AS z
        FROM sym l JOIN sym r ON l.a = r.a AND l.b < r.b
      ),
      scored AS (
        SELECT v, w, count(*)::BIGINT AS common,
               sum(1.0 / ln(d.deg::DOUBLE)) AS aa_raw
        FROM wedges JOIN deg d ON d.node = wedges.z
        GROUP BY v, w
      ),
      nonedges AS (
        SELECT s.* FROM scored s ANTI JOIN edges e ON s.v = e.a AND s.w = e.b
      )
      SELECT n.v, n.w, n.common,
             round(n.aa_raw, 6) AS aa,
             round(n.common::DOUBLE / (dv.deg + dw.deg - n.common), 6) AS jaccard
      FROM nonedges n
      JOIN deg dv ON dv.node = n.v
      JOIN deg dw ON dw.node = n.w
    """

    # salience = mention-frequency share × first-sentence position decay
    o["q_entity_salience"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      per AS (
        SELECT doc_id, surface, count(*)::BIGINT AS cnt,
               min(sent_id)::BIGINT AS first_sent
        FROM mentsent GROUP BY doc_id, surface
      ),
      tot AS (SELECT doc_id, sum(cnt)::BIGINT AS doc_total FROM per GROUP BY doc_id)
      SELECT p.doc_id, p.surface, p.cnt, p.first_sent,
             round((p.cnt::DOUBLE / t.doc_total) / (1.0 + p.first_sent), 6) AS salience
      FROM per p JOIN tot t USING (doc_id)
    """

    # deterministic DeepWalk replay: same link crawl as q_link_graph,
    # recursive walk with next hop = md5(walk_id|step) mod outdeg over
    # the row_number-ranked (binary-collation) neighbor list
    o["q_random_walks"] = f"""
      WITH RECURSIVE {_link_pages_sql(_SRC_TAG_SQL)},
      links AS (
        SELECT source || '.example.com' AS src,
               unnest(regexp_extract_all(h, 'href="([^"]*)"', 1)) AS target_url
        FROM html2
      ),
      adj0 AS (
        SELECT DISTINCT src,
               lower(regexp_extract(target_url, '://([^/?#:]*)', 1)) AS dst
        FROM links
      ),
      adj AS (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx,
               count(*) OVER (PARTITION BY src) AS outdeg
        FROM adj0
      ),
      seeds AS (SELECT DISTINCT src FROM adj),
      walks AS (
        SELECT src || '#' || r::VARCHAR AS walk_id, 0 AS step, src AS node
        FROM seeds, (SELECT unnest(range(2)) AS r)
        UNION ALL
        SELECT w.walk_id, w.step + 1, a.dst
        FROM walks w
        JOIN adj a ON a.src = w.node
         AND a.idx = (('0x' || substr(md5(w.walk_id || '|' ||
                       (w.step + 1)::VARCHAR), 1, 4))::UBIGINT % a.outdeg)::BIGINT
        WHERE w.step < 3
      )
      SELECT walk_id, step::INT AS step, node FROM walks
    """

    # stream-stream attribution join: batch interval join twin (exact
    # epoch-microsecond arithmetic both engines)
    o["q_stream_attribution"] = """
      SELECT v.user_id, v.event_id AS view_id, p.event_id AS purch_id
      FROM events v JOIN events p
        ON p.user_id = v.user_id
       AND v.event_type = 'view' AND p.event_type = 'purchase'
       AND epoch_us(p.ts) > epoch_us(v.ts)
       AND epoch_us(p.ts) <= epoch_us(v.ts) + (6::BIGINT * 3600 * 1000000)
    """

    # novelty replay: same trigram stream, per-gram min(doc_id), join-back
    o["q_novelty"] = """
      WITH toks AS (
        SELECT doc_id,
               CASE WHEN coalesce(text, '') = '' THEN []::VARCHAR[]
                    ELSE string_split(text, ' ') END AS t
        FROM documents
      ),
      tg AS (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3
        FROM toks, unnest(range(1, len(t) - 1)) u(i)
      ),
      first AS (
        SELECT w1, w2, w3, min(doc_id) AS first_doc
        FROM tg GROUP BY w1, w2, w3
      )
      SELECT tg.doc_id, count(*)::BIGINT AS n_grams,
             sum(CASE WHEN first.first_doc = tg.doc_id THEN 1 ELSE 0 END)::BIGINT
               AS n_novel,
             round(sum(CASE WHEN first.first_doc = tg.doc_id THEN 1 ELSE 0
                       END)::DOUBLE / count(*), 6) AS novelty
      FROM tg JOIN first USING (w1, w2, w3)
      GROUP BY tg.doc_id
    """

    # burstiness replay: (doc, token) tf re-aggregated for cf/df1/df2
    o["q_burstiness"] = """
      WITH dtf AS (
        SELECT doc_id, w, count(*)::BIGINT AS tf FROM (
          SELECT doc_id,
                 unnest(CASE WHEN coalesce(text, '') = '' THEN []::VARCHAR[]
                             ELSE string_split(text, ' ') END) AS w
          FROM documents
        ) GROUP BY doc_id, w
      ),
      agg AS (
        SELECT w, sum(tf)::BIGINT AS cf, count(*)::BIGINT AS df1,
               sum(CASE WHEN tf >= 2 THEN 1 ELSE 0 END)::BIGINT AS df2
        FROM dtf GROUP BY w
      )
      SELECT w, cf, df1, df2,
             round(df2::DOUBLE / df1, 6) AS adaptation
      FROM agg WHERE df1 >= 5
    """

    # co-engagement replay: distinct bipartite edges, per-user self-join
    o["q_coengagement"] = """
      WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
      SELECT a.event_type AS t1, b.event_type AS t2,
             count(*)::BIGINT AS n_users
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY t1, t2
    """

    # centroid replay: unnest + avg, same 6-digit rounding
    o["q_label_centroids"] = """
      SELECT label, (i - 1)::INT AS dim,
             round(avg(embedding[i]::DOUBLE), 6) AS mean
      FROM embeddings, unnest(range(1, len(embedding) + 1)) u(i)
      GROUP BY label, dim
    """

    # nearest-centroid replay: 6-digit centroids, 8-digit distances,
    # row_number argmin twin of the min(struct) pick
    o["q_nearest_centroid"] = """
      WITH cent AS (
        SELECT label AS c_label, (i - 1)::INT AS dim,
               round(avg(embedding[i]::DOUBLE), 6) AS mean
        FROM embeddings, unnest(range(1, len(embedding) + 1)) u(i)
        GROUP BY c_label, dim
      ),
      ex AS (
        SELECT vec_id, label AS true_label, (i - 1)::INT AS dim,
               embedding[i]::DOUBLE AS val
        FROM embeddings, unnest(range(1, len(embedding) + 1)) u(i)
      ),
      d AS (
        SELECT ex.vec_id, ex.true_label, c.c_label,
               round(sum((ex.val - c.mean) * (ex.val - c.mean)), 8) AS d2
        FROM ex JOIN cent c USING (dim)
        GROUP BY ex.vec_id, ex.true_label, c.c_label
      ),
      pick AS (
        SELECT vec_id, true_label, c_label FROM (
          SELECT vec_id, true_label, c_label,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY d2 ASC, c_label ASC) AS rn
          FROM d) WHERE rn = 1
      )
      SELECT true_label, c_label AS pred_label, count(*)::BIGINT AS n
      FROM pick GROUP BY true_label, pred_label
    """

    # assortativity replay: symmetrized edge-end degree pairs, HUGEINT
    # exact sums, same fixed float chain and -9.9 degenerate sentinel
    o["q_assortativity"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      edges AS (
        SELECT DISTINCT a.surface AS a, b.surface AS b
        FROM mentsent a JOIN mentsent b
          ON a.doc_id = b.doc_id AND a.sent_id = b.sent_id AND a.surface < b.surface
      ),
      sym AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
      deg AS (SELECT a AS node, count(*)::BIGINT AS deg FROM sym GROUP BY a),
      j AS (
        SELECT da.deg AS dx, db.deg AS dy
        FROM sym s JOIN deg da ON da.node = s.a JOIN deg db ON db.node = s.b
      ),
      g AS (
        SELECT count(*)::BIGINT AS n_ends,
               sum(dx::HUGEINT)::DOUBLE AS sx, sum(dy::HUGEINT)::DOUBLE AS sy,
               sum(dx::HUGEINT * dy::HUGEINT)::DOUBLE AS sxy,
               sum(dx::HUGEINT * dx::HUGEINT)::DOUBLE AS sxx,
               sum(dy::HUGEINT * dy::HUGEINT)::DOUBLE AS syy
        FROM j
      )
      SELECT n_ends,
             coalesce(
               CASE WHEN (n_ends::DOUBLE * sxx - sx * sx) > 0
                     AND (n_ends::DOUBLE * syy - sy * sy) > 0
                    THEN round((n_ends::DOUBLE * sxy - sx * sy)
                               / sqrt(n_ends::DOUBLE * sxx - sx * sx)
                               / sqrt(n_ends::DOUBLE * syy - sy * sy), 6)
               END, -9.9) AS r
      FROM g
    """

    # split-leakage replay: _MH_CHAIN verified pairs + the same
    # md5-bucket split; pairs straddling the boundary only
    o["q_split_leakage"] = f"""
      WITH {_CORPUS},
      {_MH_CHAIN},
      sp AS (
        SELECT doc_id,
               CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::UBIGINT
                         % 100 < 80
                    THEN 'train' ELSE 'eval' END AS split
        FROM corpus
      )
      SELECT v.a, v.b, v.jaccard, sa.split AS split_a, sb.split AS split_b
      FROM vp v JOIN sp sa ON sa.doc_id = v.a
                JOIN sp sb ON sb.doc_id = v.b
      WHERE sa.split != sb.split
    """

    # fertility replay: the recursive WordPiece fold over the distinct
    # vocabulary (same _wordpiece_sql as q_wordpiece), counts joined back
    o["q_wp_fertility"] = f"""
      WITH toks AS (
        SELECT lang, unnest(string_split(text, ' ')) AS word
        FROM documents WHERE coalesce(text, '') != ''
      ),
      wc AS (SELECT lang, word, count(*)::BIGINT AS c FROM toks GROUP BY 1, 2),
      vwords AS (SELECT DISTINCT word FROM wc),
      {_wordpiece_sql("vwords")},
      np AS (SELECT word, len(pieces)::BIGINT AS n_pieces FROM wp)
      SELECT lang, sum(c)::BIGINT AS n_tokens,
             sum(c * n_pieces)::BIGINT AS n_wordpieces,
             round(sum(c * n_pieces)::DOUBLE / sum(c), 6) AS fertility
      FROM wc JOIN np USING (word)
      GROUP BY lang
    """

    # hard-negative replay: the q_nearest_centroid cent/ex/d CTEs, own
    # distance vs row_number argmin over the other labels
    o["q_hard_negatives"] = """
      WITH cent AS (
        SELECT label AS c_label, (i - 1)::INT AS dim,
               round(avg(embedding[i]::DOUBLE), 6) AS mean
        FROM embeddings, unnest(range(1, len(embedding) + 1)) u(i)
        GROUP BY c_label, dim
      ),
      ex AS (
        SELECT vec_id, label AS true_label, (i - 1)::INT AS dim,
               embedding[i]::DOUBLE AS val
        FROM embeddings, unnest(range(1, len(embedding) + 1)) u(i)
      ),
      d AS (
        SELECT ex.vec_id, ex.true_label, c.c_label,
               round(sum((ex.val - c.mean) * (ex.val - c.mean)), 8) AS d2
        FROM ex JOIN cent c USING (dim)
        GROUP BY ex.vec_id, ex.true_label, c.c_label
      ),
      own AS (
        SELECT vec_id, true_label AS label, d2 AS d_own
        FROM d WHERE c_label = true_label
      ),
      neg AS (
        SELECT vec_id, c_label AS hard_label, d2 AS d_neg FROM (
          SELECT vec_id, c_label, d2,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY d2 ASC, c_label ASC) AS rn
          FROM d WHERE c_label != true_label) WHERE rn = 1
      )
      SELECT o.vec_id, o.label, n.hard_label, o.d_own, n.d_neg,
             round(n.d_neg - o.d_own, 8) AS margin,
             n.d_neg < o.d_own AS is_violation
      FROM own o JOIN neg n USING (vec_id)
    """

    # filter-stack replay: identical rule order and thresholds; the
    # duplicate rule replays the md5 keeper aggregate
    o["q_filter_stack"] = f"""
      WITH {_CORPUS},
      feat AS (
        SELECT doc_id, length(coalesce(text, '')) AS n_chars,
               string_split(coalesce(text, ''), ' ') AS t,
               md5(coalesce(text, '')) AS h
        FROM corpus
      ),
      f2 AS (
        SELECT doc_id, n_chars::BIGINT AS n_chars,
               len(list_distinct(t))::DOUBLE / len(t) AS ttr,
               len(list_filter(t, x -> x IN ({_STOP})))::DOUBLE / len(t)
                 AS stop_ratio,
               h
        FROM feat
      ),
      canon AS (SELECT h, min(doc_id) AS keeper FROM f2 GROUP BY h),
      r AS (
        SELECT f2.doc_id, f2.n_chars, f2.ttr, f2.stop_ratio,
               CASE WHEN f2.n_chars < 100 THEN 'short'
                    WHEN f2.n_chars > 500 THEN 'long'
                    WHEN f2.ttr < 0.35 THEN 'low_ttr'
                    WHEN f2.stop_ratio < 0.02 THEN 'low_stopword'
                    WHEN f2.doc_id != c.keeper THEN 'duplicate'
                    ELSE 'keep' END AS reason
        FROM f2 JOIN canon c USING (h)
      )
      SELECT doc_id, n_chars, round(ttr, 6) AS ttr,
             round(stop_ratio, 6) AS stop_ratio, reason,
             reason = 'keep' AS keep
      FROM r
    """

    # KS replay: exact cumulative counts, argmax by (diff desc, v asc)
    o["q_ks_test"] = """
      WITH f AS (
        SELECT value AS v, event_type FROM events
        WHERE value IS NOT NULL AND event_type IN ('view', 'purchase')
      ),
      per_v AS (
        SELECT v,
               sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS ca,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS cb
        FROM f GROUP BY v
      ),
      nn AS (SELECT sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb FROM per_v),
      cum AS (
        SELECT v,
               sum(ca) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
               sum(cb) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b
        FROM per_v
      ),
      best AS (
        SELECT v,
               abs(cum_a::DOUBLE / (SELECT na FROM nn) -
                   cum_b::DOUBLE / (SELECT nb FROM nn)) AS d
        FROM cum ORDER BY d DESC, v ASC LIMIT 1
      )
      SELECT nn.na AS n_a, nn.nb AS n_b,
             round(best.d, 6) AS d_stat, best.v AS at_value
      FROM nn, best
    """

    # Gini replay: rank window on the key-sized table, HUGEINT sums
    o["q_gini"] = """
      WITH per AS (
        SELECT user_id AS k, count(*)::BIGINT AS x FROM events GROUP BY user_id
      ),
      ranked AS (
        SELECT x, row_number() OVER (ORDER BY x ASC, k ASC) AS i FROM per
      ),
      g AS (
        SELECT count(*)::BIGINT AS n_keys, sum(x)::BIGINT AS total,
               sum(i::HUGEINT * x)::DOUBLE AS swx
        FROM ranked
      )
      SELECT n_keys, total,
             round(2.0 * swx / (n_keys::DOUBLE * total::DOUBLE) -
                   (n_keys::DOUBLE + 1.0) / n_keys::DOUBLE, 6) AS gini
      FROM g
    """

    # degree histogram replay: len(bin(deg))-1 exact-integer bucket
    o["q_degree_dist"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      edges AS (
        SELECT DISTINCT a.surface AS a, b.surface AS b
        FROM mentsent a JOIN mentsent b
          ON a.doc_id = b.doc_id AND a.sent_id = b.sent_id AND a.surface < b.surface
      ),
      sym AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
      deg AS (SELECT a AS node, count(*)::BIGINT AS deg FROM sym GROUP BY a),
      b AS (SELECT (length(bin(deg)) - 1)::INT AS bucket FROM deg)
      SELECT bucket, (1::BIGINT << bucket)::BIGINT AS min_deg,
             count(*)::BIGINT AS n_nodes
      FROM b GROUP BY bucket
    """

    # reciprocity replay: reversed-key EXISTS over the distinct edges
    o["q_reciprocity"] = f"""
      WITH {_link_pages_sql(_SRC_TAG_SQL)},
      links AS (
        SELECT source || '.example.com' AS src,
               unnest(regexp_extract_all(h, 'href="([^"]*)"', 1)) AS target_url
        FROM html2
      ),
      e AS (
        SELECT DISTINCT src,
               lower(regexp_extract(target_url, '://([^/?#:]*)', 1)) AS dst
        FROM links
        WHERE src != lower(regexp_extract(target_url, '://([^/?#:]*)', 1))
      ),
      r AS (SELECT count(*)::BIGINT AS n_reciprocal FROM e
            WHERE EXISTS (SELECT 1 FROM e e2
                          WHERE e2.src = e.dst AND e2.dst = e.src)),
      n AS (SELECT count(*)::BIGINT AS n_edges FROM e)
      SELECT n.n_edges, r.n_reciprocal,
             round(r.n_reciprocal::DOUBLE / n.n_edges, 6) AS reciprocity
      FROM n, r
    """

    # JSONL replay: identical concat + escape chain (backslash first).
    # DuckDB standard strings do NO backslash processing, so the
    # single-backslash pattern must be written as ONE backslash in the
    # SQL text ('\' -> '\\') — a doubled pattern would only match PAIRS
    # of backslashes and silently diverge from the engine's escape
    # (code-review finding, session 9).
    def _jesc(c):
        out = c
        for raw, esc in (
            ("\\", "\\\\"), ('"', '\\"'),
            ("chr(10)", "\\n"), ("chr(13)", "\\r"), ("chr(9)", "\\t"),
        ):
            frm = f"'{raw}'" if not raw.startswith("chr") else raw
            out = f"replace({out}, {frm}, '{esc}')"
        return out

    _jparts = " || ',' || ".join(
        [
            "'\"doc_id\":' || coalesce(doc_id::VARCHAR, 'null')",
            "'\"n_chars\":' || coalesce(n_chars::VARCHAR, 'null')",
            f"'\"lang\":' || coalesce('\"' || {_jesc('lang')} || '\"', 'null')",
            f"'\"source\":' || coalesce('\"' || {_jesc('source')} || '\"', 'null')",
            f"'\"text\":' || coalesce('\"' || {_jesc('text')} || '\"', 'null')",
        ]
    )
    o["q_jsonl_export"] = f"""
      SELECT doc_id, n_chars, '{{' || {_jparts} || '}}' AS line
      FROM documents
    """

    # Zipf replay: micro-log fixed-point ingestion into the same
    # exact-sums OLS chain as q_ols_price
    o["q_zipf"] = """
      WITH wc AS (
        SELECT w, count(*)::BIGINT AS c FROM (
          SELECT unnest(CASE WHEN coalesce(text, '') = '' THEN []::VARCHAR[]
                             ELSE string_split(text, ' ') END) AS w
          FROM documents
        ) GROUP BY w
      ),
      ranked AS (
        SELECT round(ln(rank::DOUBLE) * 1e6)::BIGINT AS xi,
               round(ln(c::DOUBLE) * 1e6)::BIGINT AS yi
        FROM (SELECT c, row_number() OVER (ORDER BY c DESC, w ASC) AS rank
              FROM wc)
        WHERE rank <= 100
      ),
      g AS (
        SELECT 'corpus' AS corpus, count(*)::BIGINT AS n,
               sum(xi::HUGEINT)::DOUBLE AS sx, sum(yi::HUGEINT)::DOUBLE AS sy,
               sum(xi::HUGEINT * xi)::DOUBLE AS sxx,
               sum(xi::HUGEINT * yi)::DOUBLE AS sxy
        FROM ranked
      )
      SELECT corpus, n,
             round(CASE WHEN n::DOUBLE * sxx - sx * sx != 0
                        THEN (n::DOUBLE * sxy - sx * sy) /
                             (n::DOUBLE * sxx - sx * sx) END, 6) AS slope,
             round(CASE WHEN n::DOUBLE * sxx - sx * sx != 0
                        THEN (sy - (n::DOUBLE * sxy - sx * sy) /
                                   (n::DOUBLE * sxx - sx * sx) * sx) / n
                   END, 6) AS intercept
      FROM g
    """

    # robots replay: VALUES rule table, startswith candidates,
    # row_number argmax twin of the struct-max (len desc, allow desc,
    # prefix desc — allow=true sorts above false, matching struct order)
    _rules_vals = ", ".join(
        f"('{h}', '{p}', {str(a).lower()})" for h, p, a in _ROBOTS_RULES
    )
    o["q_robots"] = f"""
      WITH urls AS (
        SELECT DISTINCT
          'https://h' || (doc_id % 10)::VARCHAR ||
          (CASE doc_id % 5
             WHEN 0 THEN '/doc/' || doc_id::VARCHAR
             WHEN 1 THEN '/private/x' || doc_id::VARCHAR
             WHEN 2 THEN '/private/pub/' || doc_id::VARCHAR
             WHEN 3 THEN '/' ELSE '/about' END) AS url,
          'h' || (doc_id % 10)::VARCHAR AS host,
          (CASE doc_id % 5
             WHEN 0 THEN '/doc/' || doc_id::VARCHAR
             WHEN 1 THEN '/private/x' || doc_id::VARCHAR
             WHEN 2 THEN '/private/pub/' || doc_id::VARCHAR
             WHEN 3 THEN '/' ELSE '/about' END) AS path
        FROM documents
      ),
      rules AS (SELECT * FROM (VALUES {_rules_vals}) r(host, prefix, allow)),
      m AS (
        SELECT url, allow, prefix FROM (
          SELECT u.url, r.allow, r.prefix,
                 row_number() OVER (PARTITION BY u.url
                                    ORDER BY len(r.prefix) DESC,
                                             r.allow DESC, r.prefix DESC) AS rn
          FROM urls u JOIN rules r
            ON r.host = u.host AND starts_with(u.path, r.prefix)
        ) WHERE rn = 1
      )
      SELECT u.url, coalesce(m.allow, true) AS allowed,
             m.prefix AS matched_rule
      FROM urls u LEFT JOIN m USING (url)
    """

    # Z-order replay: identical bit arithmetic (masked non-negative
    # inputs, two's-complement shifts engine-identical)
    _zterms = " | ".join(
        f"((({c} >> {b}) & 1) << {2 * b + i})"
        for i, c in enumerate(["zx", "zy"])
        for b in range(10)
    )
    o["q_zorder"] = f"""
      WITH base AS (
        SELECT event_id, user_id AS x, event_id % 1024 AS y,
               user_id & 1023 AS zx, (event_id % 1024) & 1023 AS zy
        FROM events
      ),
      z AS (SELECT event_id, x, y, ({_zterms})::BIGINT AS zorder FROM base)
      SELECT event_id, x, y, zorder, (zorder >> 16)::INT AS zbucket FROM z
    """

    # modularity replay: label-prop oracle nested verbatim as the label
    # table; e_c/d_c exact integers, same fixed float chain
    o["q_modularity"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      edges AS (
        SELECT DISTINCT a.surface AS a, b.surface AS b
        FROM mentsent a JOIN mentsent b
          ON a.doc_id = b.doc_id AND a.sent_id = b.sent_id AND a.surface < b.surface
      ),
      labels AS (SELECT * FROM ({o["q_label_prop"]})),
      mm AS (SELECT count(*)::BIGINT AS m FROM edges),
      win AS (
        SELECT la.community, count(*)::BIGINT AS e_in
        FROM edges e
        JOIN labels la ON la.entity = e.a
        JOIN labels lb ON lb.entity = e.b
        WHERE la.community = lb.community
        GROUP BY la.community
      ),
      sym AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
      deg AS (SELECT a AS node, count(*)::BIGINT AS deg FROM sym GROUP BY a),
      d AS (
        SELECT l.community, count(*)::BIGINT AS n_nodes,
               sum(deg)::BIGINT AS d_tot
        FROM deg JOIN labels l ON l.entity = deg.node
        GROUP BY l.community
      )
      SELECT d.community, d.n_nodes, coalesce(w.e_in, 0)::BIGINT AS e_in,
             d.d_tot,
             round(coalesce(w.e_in, 0)::DOUBLE / mm.m -
                   (d.d_tot::DOUBLE / (2.0 * mm.m)) *
                   (d.d_tot::DOUBLE / (2.0 * mm.m)), 6) AS contrib
      FROM d LEFT JOIN win w USING (community), mm
    """

    # two-proportion z-test replay: same conditional aggregate, same
    # term-for-term float chain
    o["q_ab_test"] = """
      WITH pu AS (
        SELECT user_id,
               (sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                >= 15)::INT AS conv
        FROM events GROUP BY user_id
      ),
      g AS (
        SELECT count(CASE WHEN user_id % 2 = 0 THEN 1 END)::BIGINT AS n0,
               coalesce(sum(CASE WHEN user_id % 2 = 0 THEN conv END), 0)::BIGINT AS c0,
               count(CASE WHEN user_id % 2 = 1 THEN 1 END)::BIGINT AS n1,
               coalesce(sum(CASE WHEN user_id % 2 = 1 THEN conv END), 0)::BIGINT AS c1
        FROM pu
      )
      SELECT n0, c0, n1, c1,
             coalesce(round(CASE WHEN n0 > 0 THEN c0::DOUBLE / n0 END, 6), -1.0) AS p0,
             coalesce(round(CASE WHEN n1 > 0 THEN c1::DOUBLE / n1 END, 6), -1.0) AS p1,
             coalesce(round(CASE WHEN n0 > 0 AND n1 > 0
                        AND (c0 + c1)::DOUBLE / (n0 + n1) > 0.0
                        AND (c0 + c1)::DOUBLE / (n0 + n1) < 1.0
                   THEN (c1::DOUBLE / n1 - c0::DOUBLE / n0) /
                        sqrt((c0 + c1)::DOUBLE / (n0 + n1) *
                             (1.0 - (c0 + c1)::DOUBLE / (n0 + n1)) *
                             (1.0 / n0 + 1.0 / n1))
                   END, 6), 0.0) AS z,
             NOT (n0 > 0 AND n1 > 0
                  AND (c0 + c1)::DOUBLE / (n0 + n1) > 0.0
                  AND (c0 + c1)::DOUBLE / (n0 + n1) < 1.0) AS degenerate
      FROM g
    """

    # ANN recall replay: the brute-force and k-means-IVF oracles nested
    # verbatim, joined on (query_id, vec_id)
    o["q_ann_recall"] = f"""
      WITH truth AS (SELECT * FROM ({o["q_ann_topk"]})),
      got AS (SELECT * FROM ({o["q_ann_ivf_kmeans"]}))
      SELECT t.query_id,
             coalesce(sum(CASE WHEN g.vec_id IS NOT NULL THEN 1 END), 0)::BIGINT
               AS n_hits,
             round(coalesce(sum(CASE WHEN g.vec_id IS NOT NULL THEN 1 END),
                            0)::DOUBLE / {config.ANN_TOP_K}, 6) AS recall
      FROM truth t LEFT JOIN got g
        ON g.query_id = t.query_id AND g.vec_id = t.vec_id
      GROUP BY t.query_id
    """

    # Cho & Garcia-Molina change-rate replay: same synthetic capture
    # grid, lag-window diff, bias-corrected estimator
    o["q_crawl_schedule"] = """
      WITH base AS (
        SELECT DISTINCT doc_id % 20 AS i, (doc_id // 20) % 10 AS day
        FROM documents
      ),
      caps AS (
        SELECT 'h' || i::VARCHAR AS host, day,
               md5(i::VARCHAR || '|' || (day // (1 + i % 4))::VARCHAR)
                 AS content_hash
        FROM base
      ),
      d AS (
        SELECT host,
               (content_hash != lag(content_hash)
                  OVER (PARTITION BY host ORDER BY day))::INT AS changed
        FROM caps
      ),
      g AS (
        SELECT host, count(changed)::BIGINT AS n_intervals,
               coalesce(sum(changed), 0)::BIGINT AS n_changes
        FROM d GROUP BY host
      )
      SELECT host, n_intervals, n_changes,
             round(CASE WHEN n_intervals > 0 THEN
               -ln((n_intervals - n_changes + 0.5) / (n_intervals + 0.5))
             END, 6) AS change_rate,
             round(CASE WHEN n_changes > 0 THEN
               1.0 / (-ln((n_intervals - n_changes + 0.5) / (n_intervals + 0.5)))
             END, 6) AS crawl_interval
      FROM g
    """

    # Shannon entropy replay: exact counts, one reordered float sum
    # (vocabulary-sized) under the rounding grain
    o["q_entropy"] = """
      WITH tw AS (
        SELECT source AS grp, unnest(string_split(text, ' ')) AS w
        FROM documents WHERE text IS NOT NULL AND text != ''
      ),
      cw AS (SELECT grp, w, count(*)::BIGINT AS c FROM tw GROUP BY grp, w),
      g AS (SELECT grp, sum(c)::BIGINT AS n_tokens,
                   sum(c::DOUBLE * ln(c::DOUBLE)) AS sclc
            FROM cw GROUP BY grp)
      SELECT grp AS source, n_tokens,
             round(ln(n_tokens::DOUBLE) - sclc / n_tokens, 6) AS entropy
      FROM g
    """

    # Dunning LLR replay: the nine x·ln x terms in the engine's exact
    # expression order
    def _sx(e):
        return (
            f"(CASE WHEN ({e})::DOUBLE > 0.0 "
            f"THEN ({e})::DOUBLE * ln(({e})::DOUBLE) ELSE 0.0 END)"
        )

    _llr = (
        f"2.0 * ({_sx('b.c12')} + {_sx('r1.r1 - b.c12')} + "
        f"{_sx('c1t.c1 - b.c12')} + {_sx('nb.nb - r1.r1 - c1t.c1 + b.c12')} - "
        f"{_sx('r1.r1')} - {_sx('nb.nb - r1.r1')} - {_sx('c1t.c1')} - "
        f"{_sx('nb.nb - c1t.c1')} + {_sx('nb.nb')})"
    )
    o["q_phrases_llr"] = f"""
      WITH bgx AS (
        SELECT t[i] AS w1, t[i + 1] AS w2
        FROM (SELECT string_split(coalesce(text, ''), ' ') AS t
              FROM documents) s,
             unnest(range(1, len(t))) u(i)
      ),
      bg AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM bgx GROUP BY w1, w2),
      r1 AS (SELECT w1, sum(c12)::BIGINT AS r1 FROM bg GROUP BY w1),
      c1t AS (SELECT w2, sum(c12)::BIGINT AS c1 FROM bg GROUP BY w2),
      nb AS (SELECT sum(c12)::DOUBLE AS nb FROM bg)
      SELECT b.w1, b.w2, b.c12, round({_llr}, 4) AS llr
      FROM bg b JOIN r1 USING (w1) JOIN c1t USING (w2), nb
      WHERE b.c12 >= 5
    """

    # week-over-week replay: slim self-join on (type, day-7)
    o["q_wow_anomaly"] = """
      WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               count(*)::BIGINT AS cnt
        FROM events GROUP BY event_type, day
      )
      SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day, d.cnt,
             coalesce(p.cnt, -1)::BIGINT AS prev_cnt,
             coalesce(round(d.cnt::DOUBLE / p.cnt, 6), -1.0) AS wow,
             coalesce(d.cnt::DOUBLE / p.cnt < 0.5
                      OR d.cnt::DOUBLE / p.cnt > 2.0, false) AS anomaly
      FROM daily d LEFT JOIN daily p
        ON p.event_type = d.event_type AND p.day + INTERVAL 7 DAY = d.day
    """

    # JSON profiling replay: same deterministic enrichment, counts only
    # (invariant to engine JSON re-serialization)
    o["q_json_profile"] = """
      WITH p2 AS (
        SELECT CASE
                 WHEN event_id % 3 = 0
                      OR json_extract_string(props, '$.k') IS NULL
                      OR NOT regexp_full_match(
                           json_extract_string(props, '$.k'), '-?[0-9]+')
                      THEN props
                 WHEN event_id % 3 = 1
                      THEN '{"k": ' || json_extract_string(props, '$.k') ||
                           ', "tag": "t' || (user_id % 4)::VARCHAR || '"}'
                 ELSE '{"k": ' || json_extract_string(props, '$.k') ||
                      ', "geo": {"c": "c' || (user_id % 3)::VARCHAR || '"}}'
               END AS j
        FROM events
      ),
      vals AS (
        SELECT 'k' AS key, json_extract_string(j, '$.k') AS v FROM p2
        UNION ALL SELECT 'tag', json_extract_string(j, '$.tag') FROM p2
        UNION ALL SELECT 'geo', json_extract_string(j, '$.geo') FROM p2
      )
      SELECT key, count(v)::BIGINT AS n_present,
             count(CASE WHEN regexp_full_match(v, '-?[0-9]+')
                        THEN 1 END)::BIGINT AS n_numeric,
             count(DISTINCT v)::BIGINT AS n_distinct
      FROM vals GROUP BY key
    """

    # coref-lite replay: same ' he ran the' injection, PER mentions via
    # the parameterized fold, antecedent = arg_max(start_idx) among
    # preceding mentions
    o["q_coref_lite"] = f"""
      WITH docs2 AS (
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 AND text IS NOT NULL AND text != ''
                    THEN text || ' he ran the' ELSE text END AS text
        FROM documents
      ),
      gazn AS (SELECT * FROM (VALUES {_GAZN}) g(surface, tag, n)),
      {_fold_ment_sql('docs2', 'c')},
      ctoks AS (
        SELECT doc_id, i - 1 AS pos, t[i] AS tok
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM docs2
              WHERE text IS NOT NULL AND text != '') s,
             unnest(range(1, len(t) + 1)) AS u(i)
      ),
      surf AS (
        SELECT m.doc_id, m.start_idx,
               string_agg(t.tok, ' ' ORDER BY t.pos) AS surface
        FROM cment m JOIN ctoks t
          ON t.doc_id = m.doc_id AND t.pos BETWEEN m.start_idx AND m.end_idx
        WHERE m.tag = 'PER'
        GROUP BY m.doc_id, m.start_idx
      ),
      prons AS (SELECT doc_id, pos AS pron_pos FROM ctoks WHERE tok = 'he')
      SELECT p.doc_id, p.pron_pos::BIGINT AS pron_pos,
             max(s.start_idx)::BIGINT AS ant_start,
             arg_max(s.surface, s.start_idx) AS antecedent
      FROM prons p JOIN surf s
        ON s.doc_id = p.doc_id AND s.start_idx < p.pron_pos
      GROUP BY p.doc_id, p.pron_pos
    """

    # skip-gram replay: identical subsample rule, lead-window pairs
    # over the surviving sequence, both orientations
    o["q_skipgram"] = f"""
      WITH {_TOKS},
      wc AS (SELECT tok, count(*)::BIGINT AS c FROM toks GROUP BY tok),
      nt AS (SELECT sum(c)::DOUBLE AS n FROM wc),
      kept AS (
        SELECT t.doc_id, t.pos, t.tok
        FROM toks t JOIN wc USING (tok)
        WHERE ('0x' || substr(md5(t.doc_id::VARCHAR || '|' || t.pos::VARCHAR),
                              1, 4))::UBIGINT % 1000
              < least(1000, floor(1000 * sqrt(0.001 /
                                  (wc.c::DOUBLE / (SELECT n FROM nt)))))
      ),
      l1 AS (SELECT tok AS center,
                    lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS context
             FROM kept),
      l2 AS (SELECT tok AS center,
                    lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS context
             FROM kept),
      allp AS (
        SELECT center, context FROM l1 WHERE context IS NOT NULL
        UNION ALL SELECT context, center FROM l1 WHERE context IS NOT NULL
        UNION ALL SELECT center, context FROM l2 WHERE context IS NOT NULL
        UNION ALL SELECT context, center FROM l2 WHERE context IS NOT NULL
      )
      SELECT center, context, count(*)::BIGINT AS cnt
      FROM allp GROUP BY center, context
    """

    # OLS replay: exact HUGEINT sufficient statistics, each cast to
    # double once, then the identical closed-form float ops
    o["q_ols_price"] = """
      WITH li AS (
        SELECT l_returnflag, round(l_quantity)::BIGINT AS xi,
               round(l_extendedprice * 100)::BIGINT AS yi
        FROM lineitem
      ),
      g AS (
        SELECT l_returnflag, count(*)::BIGINT AS n,
               sum(xi::HUGEINT)::DOUBLE AS sx, sum(yi::HUGEINT)::DOUBLE AS sy,
               sum(xi::HUGEINT * xi)::DOUBLE AS sxx,
               sum(xi::HUGEINT * yi)::DOUBLE AS sxy
        FROM li GROUP BY l_returnflag
      )
      SELECT l_returnflag, n,
             round(CASE WHEN n::DOUBLE * sxx - sx * sx != 0
                        THEN (n::DOUBLE * sxy - sx * sy) /
                             (n::DOUBLE * sxx - sx * sx) END, 6) AS slope,
             round(CASE WHEN n::DOUBLE * sxx - sx * sx != 0
                        THEN (sy - (n::DOUBLE * sxy - sx * sy) /
                                   (n::DOUBLE * sxx - sx * sx) * sx) / n
                   END, 6) AS intercept
      FROM g
    """

    # rendezvous hashing replay: argmax via row_number over (hash, s)
    o["q_shard_assign"] = """
      WITH h AS (
        SELECT d.doc_id, s.s,
               ('0x' || substr(md5(d.doc_id::VARCHAR || '|' || s.s::VARCHAR),
                               1, 15))::UBIGINT AS hv
        FROM documents d, (SELECT unnest(range(8)) AS s) s
      ),
      r AS (SELECT doc_id, s,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY hv DESC, s DESC) AS rn
            FROM h)
      SELECT doc_id, s::INT AS shard FROM r WHERE rn = 1
    """

    # closure replay: one level per recursive step vs the engine's
    # log-round doubling — same (node, anc, depth) set
    o["q_type_closure"] = """
      WITH RECURSIVE ids AS (
        SELECT DISTINCT doc_id % 200 AS i FROM documents WHERE doc_id % 200 >= 1
      ),
      edges AS (
        SELECT 't' || i::VARCHAR AS node, 't' || ((i - 1) // 3)::VARCHAR AS anc
        FROM ids
      ),
      reach AS (
        SELECT node, anc, 1 AS depth FROM edges
        UNION ALL
        SELECT r.node, e.anc, r.depth + 1
        FROM reach r JOIN edges e ON e.node = r.anc
        WHERE r.depth < 8
      )
      SELECT node, anc, depth::INT AS depth FROM reach
    """

    # PSL longest-match replay: same host synthesis, candidate union,
    # argmax by suffix length
    _psl_vals = ", ".join(f"('{s}')" for s in crawl.PUBLIC_SUFFIXES)
    o["q_registrable_domain"] = f"""
      WITH hosts AS (
        SELECT DISTINCT
          (CASE doc_id % 3 WHEN 0 THEN '' WHEN 1 THEN 'www.' ELSE 'cdn.' END) ||
          'site' || (doc_id % 40)::VARCHAR || '.' ||
          (CASE doc_id % 8 WHEN 0 THEN 'com' WHEN 1 THEN 'org' WHEN 2 THEN 'net'
                WHEN 3 THEN 'io' WHEN 4 THEN 'co.uk' WHEN 5 THEN 'com.au'
                WHEN 6 THEN 'ac.jp' ELSE 'gov.uk' END) AS host
        FROM documents
      ),
      psl AS (SELECT * FROM (VALUES {_psl_vals}) p(suffix)),
      parts AS (SELECT host, string_split(host, '.') AS pa FROM hosts),
      cand AS (
        SELECT host, pa[-1] AS cand FROM parts
        UNION ALL
        SELECT host, pa[-2] || '.' || pa[-1] FROM parts WHERE len(pa) >= 2
      ),
      m AS (
        SELECT c.host, arg_max(c.cand, len(c.cand)) AS public_suffix
        FROM cand c JOIN psl ON c.cand = psl.suffix GROUP BY c.host
      )
      SELECT m.host, m.public_suffix,
             CASE WHEN len(p.pa) > len(string_split(m.public_suffix, '.'))
                  THEN p.pa[-(len(string_split(m.public_suffix, '.')) + 1)]
                       || '.' || m.public_suffix END AS registrable
      FROM m JOIN parts p USING (host)
    """

    # SumBasic replay: selection on the unrounded csum/n_toks double
    o["q_summarize"] = f"""
      WITH {_TOKS}, {_SENTID},
      ts AS (
        SELECT t.doc_id, s.sent_id, t.tok
        FROM toks t JOIN sentid s ON t.doc_id = s.doc_id AND t.pos = s.pos
      ),
      wc AS (SELECT tok, count(*)::BIGINT AS c FROM ts GROUP BY tok),
      nt AS (SELECT sum(c)::DOUBLE AS n FROM wc),
      sent AS (
        SELECT ts.doc_id, ts.sent_id, count(*)::BIGINT AS n_toks,
               sum(wc.c)::DOUBLE / count(*) AS r
        FROM ts JOIN wc USING (tok) GROUP BY ts.doc_id, ts.sent_id
      ),
      mx AS (SELECT doc_id, max(r) AS m FROM sent GROUP BY doc_id),
      win AS (
        SELECT s.doc_id, min(s.sent_id)::BIGINT AS best_sent
        FROM sent s JOIN mx ON mx.doc_id = s.doc_id AND s.r = mx.m
        GROUP BY s.doc_id
      )
      SELECT w.doc_id, w.best_sent, s.n_toks,
             round(s.r / (SELECT n FROM nt), 6) AS score
      FROM win w JOIN sent s
        ON s.doc_id = w.doc_id AND s.sent_id = w.best_sent
    """

    # strict ordered funnel: the packed fixed-width (epoch_us, event_id)
    # key replayed, one sequential-min CTE per stage
    o["q_funnel"] = """
      WITH ev AS (
        SELECT user_id, event_type,
               lpad(epoch_us(ts)::VARCHAR, 20, '0') || '#' ||
               lpad(event_id::VARCHAR, 10, '0') AS k
        FROM events
      ),
      r1 AS (SELECT user_id, min(k) AS t FROM ev
             WHERE event_type = 'signup' GROUP BY user_id),
      r2 AS (SELECT e.user_id, min(e.k) AS t FROM ev e JOIN r1 USING (user_id)
             WHERE e.event_type = 'view' AND e.k > r1.t GROUP BY e.user_id),
      r3 AS (SELECT e.user_id, min(e.k) AS t FROM ev e JOIN r2 USING (user_id)
             WHERE e.event_type = 'click' AND e.k > r2.t GROUP BY e.user_id),
      r4 AS (SELECT e.user_id, min(e.k) AS t FROM ev e JOIN r3 USING (user_id)
             WHERE e.event_type = 'purchase' AND e.k > r3.t GROUP BY e.user_id)
      SELECT 1::INT AS stage_idx, 'signup' AS stage, count(*)::BIGINT AS n_users FROM r1
      UNION ALL
      SELECT 2::INT, 'view', count(*)::BIGINT FROM r2
      UNION ALL
      SELECT 3::INT, 'click', count(*)::BIGINT FROM r3
      UNION ALL
      SELECT 4::INT, 'purchase', count(*)::BIGINT FROM r4
    """

    # weekly cohort retention; offsets are exact multiples of 7 days
    # (both weeks are Monday truncations) so the /7 is integral in both
    # engines — no float-cast rounding divergence
    o["q_retention"] = """
      WITH active AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
      ),
      cohort AS (
        SELECT user_id, min(week) AS cohort_week FROM active GROUP BY user_id
      )
      SELECT strftime(c.cohort_week, '%Y-%m-%d') AS cohort_week,
             (date_diff('day', c.cohort_week, a.week) / 7)::BIGINT AS week_offset,
             count(DISTINCT a.user_id)::BIGINT AS n_users
      FROM active a JOIN cohort c USING (user_id)
      GROUP BY c.cohort_week, a.week
    """

    # order-1 Markov transition matrix over the (ts, event_id) order
    o["q_markov"] = """
      WITH seq AS (
        SELECT event_type AS cur,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
        FROM events
      ),
      pairs AS (SELECT cur, nxt, count(*)::BIGINT AS cnt
                FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt),
      tt AS (SELECT cur, sum(cnt)::BIGINT AS tot FROM pairs GROUP BY cur)
      SELECT pr.cur, pr.nxt, pr.cnt, round(pr.cnt::DOUBLE / tt.tot, 6) AS p
      FROM pairs pr JOIN tt USING (cur)
    """

    # Stupid Backoff replay: identical n-gram count tables, identical
    # probe construction (trigrams ∪ w3←w1 twins), identical CASE chain
    o["q_stupid_backoff"] = """
      WITH toks AS (
        SELECT doc_id,
               CASE WHEN coalesce(text, '') = '' THEN []::VARCHAR[]
                    ELSE string_split(text, ' ') END AS t
        FROM documents
      ),
      tg AS (
        SELECT t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3
        FROM toks, unnest(range(1, len(t) - 1)) u(i)
      ),
      c3 AS (SELECT w1, w2, w3, count(*)::BIGINT AS c3 FROM tg GROUP BY 1, 2, 3),
      bgx AS (
        SELECT t[i] AS w1, t[i + 1] AS w2
        FROM toks, unnest(range(1, len(t))) u(i)
      ),
      c2 AS (SELECT w1, w2, count(*)::BIGINT AS c2 FROM bgx GROUP BY 1, 2),
      uni AS (SELECT unnest(t) AS w FROM toks),
      c1 AS (SELECT w, count(*)::BIGINT AS c1 FROM uni GROUP BY w),
      nt AS (SELECT sum(c1)::DOUBLE AS n_total FROM c1),
      probes AS (
        SELECT DISTINCT w1, w2, w3 FROM (
          SELECT w1, w2, w3 FROM c3
          UNION ALL SELECT w1, w2, w1 AS w3 FROM c3
        )
      ),
      j AS (
        SELECT p.w1, p.w2, p.w3, c3.c3, c12.c2 AS c12, c23.c2 AS c23,
               u2.c1 AS cw2, u3.c1 AS cw3
        FROM probes p
        LEFT JOIN c3 ON c3.w1 = p.w1 AND c3.w2 = p.w2 AND c3.w3 = p.w3
        LEFT JOIN c2 c12 ON c12.w1 = p.w1 AND c12.w2 = p.w2
        LEFT JOIN c2 c23 ON c23.w1 = p.w2 AND c23.w2 = p.w3
        JOIN c1 u2 ON u2.w = p.w2
        JOIN c1 u3 ON u3.w = p.w3
      )
      SELECT w1, w2, w3,
             (CASE WHEN c3 IS NOT NULL THEN 3
                   WHEN c23 IS NOT NULL THEN 2 ELSE 1 END)::INT AS level,
             round(CASE WHEN c3 IS NOT NULL THEN c3::DOUBLE / c12
                        WHEN c23 IS NOT NULL THEN 0.4 * c23::DOUBLE / cw2
                        ELSE 0.4 * 0.4 * cw3::DOUBLE / (SELECT n_total FROM nt)
                   END, 6) AS score
      FROM j
    """

    # k-ary randomized response: hash-coin perturbation replayed
    # exactly, integer-exact unbiased de-bias
    o["q_rr_freq"] = """
      WITH types AS (
        SELECT event_type,
               (row_number() OVER (ORDER BY event_type) - 1)::BIGINT AS tidx
        FROM (SELECT DISTINCT event_type FROM events)
      ),
      kk AS (SELECT count(*)::BIGINT AS k FROM types),
      e AS (
        SELECT ev.event_id, t.tidx, kk.k
        FROM events ev JOIN types t USING (event_type), kk
      ),
      pert AS (
        SELECT CASE
          WHEN ('0x' || substr(md5(event_id::VARCHAR), 1, 4))::INTEGER % 4 < 3
          THEN tidx
          ELSE CASE
            WHEN (('0x' || substr(md5(event_id::VARCHAR || '|lie'), 1, 4))::INTEGER
                    % (k - 1)) >= tidx
            THEN (('0x' || substr(md5(event_id::VARCHAR || '|lie'), 1, 4))::INTEGER
                    % (k - 1)) + 1
            ELSE (('0x' || substr(md5(event_id::VARCHAR || '|lie'), 1, 4))::INTEGER
                    % (k - 1))
          END
        END AS tidx
        FROM e
      ),
      rep AS (
        SELECT t.event_type, r.n_reported
        FROM (SELECT tidx, count(*)::BIGINT AS n_reported FROM pert GROUP BY tidx) r
        JOIN types t USING (tidx)
      ),
      tc AS (SELECT event_type, count(*)::BIGINT AS n_true
             FROM events GROUP BY event_type),
      tot AS (SELECT count(*)::BIGINT AS n_total FROM events)
      SELECT rep.event_type, tc.n_true, rep.n_reported,
             round(((kk.k - 1) * 4 * rep.n_reported
                      - tot.n_total * 1)::DOUBLE
                   / ((kk.k - 1) * 3 - 1), 6) AS n_est
      FROM rep JOIN tc USING (event_type), tot, kk
    """

    # split conformal: exact integer residuals, value-frequency order
    # statistic, integer rank arithmetic
    o["q_conformal"] = """
      WITH e AS (
        SELECT event_id, event_type, round(value * 100)::BIGINT AS c,
               (('0x' || substr(md5(event_id::VARCHAR), 1, 4))::INTEGER
                  % 2 = 0) AS is_cal
        FROM events
      ),
      means AS (
        SELECT event_type,
               round(sum(c)::DOUBLE / count(*), 0)::BIGINT AS mean_c
        FROM e GROUP BY event_type
      ),
      r AS (
        SELECT e.is_cal, abs(e.c - m.mean_c)::BIGINT AS res
        FROM e JOIN means m USING (event_type)
      ),
      cal AS (SELECT res FROM r WHERE is_cal),
      nc AS (SELECT count(*)::BIGINT AS n_cal FROM cal),
      freq AS (SELECT res, count(*)::BIGINT AS cnt FROM cal GROUP BY res),
      cum AS (SELECT res, sum(cnt) OVER (ORDER BY res)::BIGINT AS cum FROM freq),
      q AS (
        SELECT min(res)::BIGINT AS qhat_c
        FROM cum, nc
        WHERE cum >= least(n_cal, ((n_cal + 1) * 9 + 9) // 10)
      ),
      ev AS (SELECT res FROM r WHERE NOT is_cal),
      cov AS (
        SELECT count(*)::BIGINT AS n_eval,
               sum((res <= (SELECT qhat_c FROM q))::BIGINT)::BIGINT AS n_in
        FROM ev
      )
      SELECT nc.n_cal, cov.n_eval, q.qhat_c,
             round(cov.n_in::DOUBLE / cov.n_eval, 6) AS coverage
      FROM cov, q, nc
    """

    # TextTiling block cosine: exact integer dot/norms, fixed
    # dot / sqrt(n1*n2) tree
    o["q_segments"] = """
      WITH toks AS (
        SELECT doc_id, u.i - 1 AS pos, t[u.i] AS tok
        FROM (
          SELECT doc_id, string_split(text, ' ') AS t
          FROM documents WHERE coalesce(text, '') <> ''
        ), unnest(range(1, len(t) + 1)) AS u(i)
      ),
      counts AS (
        SELECT doc_id, (pos // 20)::BIGINT AS b, tok, count(*)::BIGINT AS c
        FROM toks GROUP BY 1, 2, 3
      ),
      dot AS (
        SELECT l.doc_id, l.b, sum(l.c * r.c)::BIGINT AS dot
        FROM counts l JOIN counts r
          ON r.doc_id = l.doc_id AND r.b = l.b + 1 AND r.tok = l.tok
        GROUP BY 1, 2
      ),
      norms AS (
        SELECT doc_id, b, sum(c * c)::BIGINT AS nsq
        FROM counts GROUP BY doc_id, b
      ),
      pairs AS (
        SELECT n1.doc_id, n1.b AS left_block,
               coalesce(d.dot, 0)::BIGINT AS dot, n1.nsq, n2.nsq AS nsq2
        FROM norms n1
        JOIN norms n2 ON n2.doc_id = n1.doc_id AND n2.b = n1.b + 1
        LEFT JOIN dot d ON d.doc_id = n1.doc_id AND d.b = n1.b
      )
      SELECT doc_id, left_block,
             round(dot::DOUBLE / sqrt(nsq::DOUBLE * nsq2::DOUBLE), 6) AS sim,
             round(dot::DOUBLE / sqrt(nsq::DOUBLE * nsq2::DOUBLE), 6) < 0.15
               AS is_boundary
      FROM pairs
    """

    # difference-in-differences: cell means = one division of exact
    # integer sums over the arm's user count; identical float chain
    o["q_did"] = """
      WITH e AS (
        SELECT (user_id % 2 = 1)::INT AS treat,
               (ts >= TIMESTAMP '2024-01-16 00:00:00')::INT AS post,
               (event_type = 'purchase')::BIGINT AS y,
               user_id
        FROM events
      ),
      cells AS (SELECT treat, post, sum(y)::BIGINT AS s
                FROM e GROUP BY 1, 2),
      arms AS (SELECT treat, count(DISTINCT user_id)::BIGINT AS n_users
               FROM e GROUP BY treat),
      m AS (
        SELECT c.treat, c.post, c.s::DOUBLE / a.n_users AS mean
        FROM cells c JOIN arms a USING (treat)
      ),
      four AS (
        SELECT max(CASE WHEN treat = 0 AND post = 0 THEN mean END) AS pc,
               max(CASE WHEN treat = 0 AND post = 1 THEN mean END) AS qc,
               max(CASE WHEN treat = 1 AND post = 0 THEN mean END) AS pt,
               max(CASE WHEN treat = 1 AND post = 1 THEN mean END) AS qt
        FROM m
      )
      SELECT round(pc, 6) AS pre_ctrl, round(qc, 6) AS post_ctrl,
             round(pt, 6) AS pre_treat, round(qt, 6) AS post_treat,
             round((qt - pt) - (qc - pc), 6) AS did
      FROM four
    """

    # empirical-Bayes shrinkage: moments are exact integer sums of
    # once-quantized micro-unit rates; fixed float tree after
    o["q_eb_rates"] = """
      WITH g AS (
        SELECT l_partkey, count(*)::BIGINT AS n,
               sum((l_returnflag = 'R')::BIGINT)::BIGINT AS x
        FROM lineitem GROUP BY l_partkey
      ),
      gq AS (
        SELECT l_partkey, n, x,
               round(x::DOUBLE / n * 1000000.0, 0)::BIGINT AS q
        FROM g
      ),
      mom AS (
        SELECT count(*)::BIGINT AS k, sum(q)::BIGINT AS s1,
               sum(q * q)::BIGINT AS s2
        FROM gq
      ),
      j AS (
        SELECT gq.*, mom.k, mom.s1, mom.s2 FROM gq, mom
      ),
      c AS (
        SELECT l_partkey, n, x,
               s1::DOUBLE / k::DOUBLE / 1000000.0 AS m,
               s2::DOUBLE / k::DOUBLE / 1000000000000.0 AS msq
        FROM j
      ),
      p AS (
        SELECT l_partkey, n, x, m,
               greatest(m * (1.0 - m)
                          / greatest(msq - m * m, 1e-12)
                        - 1.0, 0.0) AS s
        FROM c
      )
      SELECT l_partkey, n, x,
             round(x::DOUBLE / n::DOUBLE, 6) AS rate,
             round((x::DOUBLE + m * s) / (n::DOUBLE + s), 6) AS shrunk
      FROM p
    """

    # Wilson lower bound: identical fixed expression tree over exact
    # integer (n, n_ret); rank window on the part-sized aggregate
    o["q_wilson_rank"] = """
      WITH g AS (
        SELECT l_partkey, count(*)::BIGINT AS n,
               sum((l_returnflag = 'R')::BIGINT)::BIGINT AS n_ret
        FROM lineitem GROUP BY l_partkey
      ),
      s AS (
        SELECT l_partkey, n, n_ret,
               round(n_ret::DOUBLE / n::DOUBLE, 6) AS rate,
               round(
                 (n_ret::DOUBLE / n::DOUBLE
                    + (1.96 * 1.96) / (2.0 * n::DOUBLE)
                    - 1.96 * sqrt(
                        (n_ret::DOUBLE / n::DOUBLE)
                          * (1.0 - n_ret::DOUBLE / n::DOUBLE) / n::DOUBLE
                        + (1.96 * 1.96) / (4.0 * n::DOUBLE * n::DOUBLE)))
                 / (1.0 + (1.96 * 1.96) / n::DOUBLE),
                 6) AS lb
        FROM g
      )
      SELECT l_partkey, n, n_ret, rate, lb
      FROM s
      QUALIFY row_number() OVER (ORDER BY lb DESC, l_partkey) <= 20
    """

    # sequential-pattern support: greedy-earliest subsequence matching
    # on the packed (ts, event_id) key — exact for existence
    o["q_seq_patterns"] = """
      WITH ev AS (
        SELECT user_id, event_type,
               lpad(epoch_us(ts)::VARCHAR, 20, '0') || '#' ||
               lpad(event_id::VARCHAR, 10, '0') AS k
        FROM events
      ),
      t1 AS (SELECT user_id, event_type AS e1, min(k) AS t1
             FROM ev GROUP BY 1, 2),
      t2 AS (SELECT ev.user_id, t1.e1, ev.event_type AS e2, min(ev.k) AS t2
             FROM ev JOIN t1 ON t1.user_id = ev.user_id AND ev.k > t1.t1
             GROUP BY 1, 2, 3),
      t3 AS (SELECT DISTINCT ev.user_id, t2.e1, t2.e2, ev.event_type AS e3
             FROM ev JOIN t2 ON t2.user_id = ev.user_id AND ev.k > t2.t2)
      SELECT e1, e2, e3, count(*)::BIGINT AS support
      FROM t3 GROUP BY 1, 2, 3
    """

    # interpolated Kneser-Ney bigram: identical expression tree over
    # exact integer counts on both engines, rounded once at 6 digits
    o["q_kn_bigram"] = """
      WITH toks AS (
        SELECT doc_id,
               CASE WHEN coalesce(text, '') = '' THEN []::VARCHAR[]
                    ELSE string_split(text, ' ') END AS t
        FROM documents
      ),
      bgx AS (
        SELECT t[i] AS w1, t[i + 1] AS w2
        FROM toks, unnest(range(1, len(t))) u(i)
      ),
      c2 AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM bgx GROUP BY 1, 2),
      lft AS (SELECT w1, sum(c12)::BIGINT AS cl, count(*)::BIGINT AS n1f
              FROM c2 GROUP BY w1),
      rgt AS (SELECT w2, count(*)::BIGINT AS n1r FROM c2 GROUP BY w2),
      nbg AS (SELECT count(*)::DOUBLE AS n_bg FROM c2),
      probes AS (
        SELECT DISTINCT w1, w2 FROM (
          SELECT w1, w2 FROM c2
          UNION ALL SELECT w1, w1 AS w2 FROM c2
        )
      ),
      j AS (
        SELECT p.w1, p.w2, c2.c12, lft.cl, lft.n1f, rgt.n1r
        FROM probes p
        LEFT JOIN c2 ON c2.w1 = p.w1 AND c2.w2 = p.w2
        JOIN lft ON lft.w1 = p.w1
        LEFT JOIN rgt ON rgt.w2 = p.w2
      )
      SELECT w1, w2,
             (CASE WHEN c12 IS NOT NULL THEN 2 ELSE 1 END)::INT AS level,
             round(greatest(coalesce(c12, 0)::DOUBLE - 0.75, 0.0) / cl
                   + 0.75 * n1f / cl
                     * (coalesce(n1r, 0)::DOUBLE / (SELECT n_bg FROM nbg)),
                   6) AS score
      FROM j
    """

    # isotonic (PAV) calibration via the minimax formula: every pooled
    # rate one division of exact integer prefix-sum differences
    o["q_isotonic"] = """
      WITH d AS (
        SELECT least(n_chars, 500)::BIGINT AS cap,
               (CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS y
        FROM documents
      ),
      b AS (
        SELECT least(cap // 50, 9)::BIGINT AS bin, y FROM d
      ),
      bins AS (
        SELECT bin, count(*)::BIGINT AS n, sum(y)::BIGINT AS n_pos
        FROM b GROUP BY bin
      ),
      pre AS (
        SELECT bin, n, n_pos,
               sum(n) OVER (ORDER BY bin)::BIGINT AS cn,
               sum(n_pos) OVER (ORDER BY bin)::BIGINT AS cp
        FROM bins
      ),
      seg AS (
        SELECT lo.bin AS i, hi.bin AS j,
               (hi.cp - (lo.cp - lo.n_pos))::DOUBLE
                 / (hi.cn - (lo.cn - lo.n)) AS avg
        FROM pre lo, pre hi WHERE lo.bin <= hi.bin
      ),
      inner_min AS (
        SELECT k.bin AS k, s.i, min(s.avg) AS mn
        FROM bins k JOIN seg s ON s.i <= k.bin AND s.j >= k.bin
        GROUP BY k.bin, s.i
      ),
      fit AS (SELECT k, max(mn) AS iso FROM inner_min GROUP BY k)
      SELECT bins.bin, bins.n, bins.n_pos,
             round(bins.n_pos::DOUBLE / bins.n, 6) AS pos_rate,
             round(fit.iso, 6) AS iso_rate
      FROM bins JOIN fit ON fit.k = bins.bin
    """

    # SCD2 replay: same recrawl amplifier, window form of the engine's
    # lag-struct change detection (IS DISTINCT FROM = null-safe) +
    # lead() validity stitching; same 2200-01-01 open sentinel
    o["q_scd2"] = """
      WITH pages AS (
        SELECT doc_id, lang,
               'https://' || source || '.example.com/doc/' || doc_id::VARCHAR AS url,
               TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id) AS warc_ts
        FROM documents
      ),
      amp AS (
        SELECT url, warc_ts + to_minutes(cap) AS ts,
               CASE WHEN cap < 2 THEN lang ELSE upper(lang) END AS lang_v,
               (cap // 2)::BIGINT AS state
        FROM pages, unnest(range(0, (doc_id % 4) + 1)) AS u(cap)
      ),
      vers AS (
        SELECT url, ts, lang_v, state
        FROM amp
        WINDOW w AS (PARTITION BY url ORDER BY ts, state)
        QUALIFY (lag(lang_v) OVER w IS DISTINCT FROM lang_v)
             OR (lag(state) OVER w IS DISTINCT FROM state)
      )
      SELECT url,
             row_number() OVER w2 AS version,
             lang_v, state, ts AS valid_from,
             coalesce(lead(ts) OVER w2, TIMESTAMP '2200-01-01 00:00:00') AS valid_to,
             lead(ts) OVER w2 IS NULL AS is_current
      FROM vers
      WINDOW w2 AS (PARTITION BY url ORDER BY ts, state)
    """

    # interval-merge replay: identical running-max island device
    o["q_interval_merge"] = """
      WITH iv AS (
        SELECT user_id, ts AS s, ts + to_minutes((event_id % 7) + 1) AS e
        FROM events
      ),
      m AS (
        SELECT user_id, s, e,
               max(e) OVER (PARTITION BY user_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        FROM iv
      ),
      isl AS (
        SELECT user_id, s, e,
               sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM m
      )
      SELECT user_id, island::BIGINT AS island,
             min(s) AS span_start, max(e) AS span_end,
             count(*)::BIGINT AS n_intervals
      FROM isl GROUP BY user_id, island
    """

    # LOCF replay: same knockout, last_value IGNORE NULLS over the same
    # (ts, event_id) frame; values pass through unchanged (no rounding)
    o["q_locf"] = """
      SELECT user_id, event_id,
             (event_id % 3 = 0) AS was_null,
             coalesce(
               last_value(CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END
                          IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               -1.0) AS v_filled
      FROM events
    """

    # column-profile replay: one UNION ALL leg per column; min/max over
    # the STRING rendering (binary collation, engine-identical)
    _stat_leg = """
      SELECT '{c}' AS column, count(*)::BIGINT AS n_rows,
             (count(*) - count({c}))::BIGINT AS n_null,
             count(DISTINCT {c})::BIGINT AS ndv,
             min({c}::VARCHAR) AS min_s, max({c}::VARCHAR) AS max_s
      FROM documents"""
    o["q_column_stats"] = " UNION ALL ".join(
        _stat_leg.format(c=c) for c in ["doc_id", "n_chars", "lang", "source"]
    )

    # MAD replay: quantile_cont == Spark exact percentile (linear
    # interpolation at p·(n−1)); flag compares the ROUNDED z both sides
    o["q_mad_outliers"] = """
      WITH med AS (
        SELECT source, quantile_cont(n_chars::DOUBLE, 0.5) AS med
        FROM documents GROUP BY source
      ),
      j AS (
        SELECT d.doc_id, d.source, d.n_chars, m.med
        FROM documents d JOIN med m USING (source)
      ),
      mad AS (
        SELECT source, quantile_cont(abs(n_chars::DOUBLE - med), 0.5) AS mad
        FROM j GROUP BY source
      )
      SELECT j.doc_id, j.source, j.n_chars,
             round(j.med, 6) AS med, round(mad.mad, 6) AS mad,
             round(CASE WHEN mad.mad = 0 THEN 0.0
                        ELSE 0.6745 * (j.n_chars::DOUBLE - j.med) / mad.mad
                   END, 6) AS robust_z,
             abs(round(CASE WHEN mad.mad = 0 THEN 0.0
                            ELSE 0.6745 * (j.n_chars::DOUBLE - j.med) / mad.mad
                       END, 6)) > 2.0 AS is_outlier
      FROM j JOIN mad USING (source)
    """

    # logistic replay: identical feature expressions and the same
    # left-to-right z accumulation (bias, len_norm, ttr, mwl10)
    o["q_logistic_quality"] = """
      WITH d AS (
        SELECT doc_id, n_chars, string_split(text, ' ') AS t
        FROM documents WHERE coalesce(text, '') != ''
      ),
      f AS (
        SELECT doc_id,
               least(n_chars, 500) / 500.0 AS len_norm,
               len(list_distinct(t))::DOUBLE / len(t) AS ttr,
               (n_chars - (len(t) - 1))::DOUBLE / len(t) / 10.0 AS mwl10
        FROM d
      ),
      s AS (
        SELECT doc_id, ttr,
               1.0 / (1.0 + exp(-(-1.2 + 1.5 * len_norm + 2.0 * ttr
                                  + (-1.0) * mwl10))) AS score
        FROM f
      )
      SELECT doc_id, round(ttr, 6) AS ttr, round(score, 6) AS score,
             score >= 0.5 AS keep
      FROM s
    """

    # zone-map replay: same Morton key (zx/zy terms above), zbucket =
    # top-8 bits of the 20-bit key, same scan-flag arithmetic
    o["q_zone_maps"] = f"""
      WITH base AS (
        SELECT user_id AS x, event_id % 1024 AS y,
               user_id & 1023 AS zx, (event_id % 1024) & 1023 AS zy
        FROM events
      ),
      z AS (SELECT x, y, ({_zterms})::BIGINT AS zorder FROM base),
      zm AS (
        SELECT (zorder >> 12)::INT AS zbucket, count(*)::BIGINT AS n_rows,
               min(x) AS x_min, max(x) AS x_max,
               min(y) AS y_min, max(y) AS y_max
        FROM z GROUP BY 1
      )
      SELECT zbucket, n_rows, x_min, x_max, y_min, y_max,
             NOT (x_max < 2 OR x_min > 5) AS scan_x,
             NOT (y_max < 100 OR y_min > 300) AS scan_y
      FROM zm
    """

    # compaction replay: same inventory, same ordered-carve cumsum
    o["q_compaction"] = """
      WITH files AS (
        SELECT source, doc_id % 13 AS file_idx, sum(n_chars)::BIGINT AS size_bytes
        FROM documents GROUP BY source, doc_id % 13
      ),
      b AS (
        SELECT source, file_idx, size_bytes,
               coalesce(sum(size_bytes)
                 OVER (PARTITION BY source ORDER BY file_idx
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS before
        FROM files
      )
      SELECT source, (before // 2000)::BIGINT AS bin,
             count(*)::BIGINT AS n_files, sum(size_bytes)::BIGINT AS bin_bytes,
             min(file_idx)::BIGINT AS first_file,
             max(file_idx)::BIGINT AS last_file
      FROM b GROUP BY source, (before // 2000)
    """

    # prefix-filter all-pairs: SAME ground truth as the inverted-index
    # form — the oracle is deliberately shared (brute-force exact
    # Jaccard); only the engine-side candidate generation differs
    o["q_allpairs_prefix"] = o["q_jaccard_pairs"]

    # weighted SSSP replay: identical deterministic digraph, recursive
    # CTE enumerating every <=3-hop path cost, min per node
    o["q_shortest_path"] = """
      WITH RECURSIVE e0 AS (
        SELECT doc_id % 50 AS a,
               ((doc_id % 50) * 7 + doc_id // 50 + 1) % 50 AS b,
               1 + (doc_id // 50 + doc_id) % 5 AS w
        FROM documents
      ),
      edges AS (
        SELECT a, b, min(w) AS w FROM e0 WHERE a != b GROUP BY a, b
      ),
      seeds AS (
        SELECT DISTINCT doc_id % 50 AS node FROM documents
        WHERE (doc_id % 50) % 10 = 0
      ),
      paths(node, cost, hops) AS (
        SELECT node, 0::BIGINT AS cost, 0 AS hops FROM seeds
        UNION ALL
        SELECT e.b, p.cost + e.w, p.hops + 1
        FROM paths p JOIN edges e ON e.a = p.node
        WHERE p.hops < 3
      )
      SELECT node, min(cost)::BIGINT AS cost FROM paths GROUP BY node
    """

    # snapshot-diff replay: same v1/v2 synthesis, FULL OUTER JOIN over
    # per-side md5 reductions; '' sentinel on the missing side
    o["q_snapshot_diff"] = """
      WITH pages AS (
        SELECT doc_id,
               'https://' || source || '.example.com/doc/' || doc_id::VARCHAR AS url,
               text
        FROM documents
      ),
      v1 AS (SELECT url, md5(coalesce(text, '')) AS old_hash FROM pages),
      v2r AS (
        SELECT url,
               CASE WHEN doc_id % 5 = 0 THEN coalesce(text, '') || ' v2'
                    ELSE coalesce(text, '') END AS text
        FROM pages WHERE doc_id % 7 != 3
        UNION ALL
        SELECT url || '?v=2' AS url, coalesce(text, '') AS text
        FROM pages WHERE doc_id % 11 = 0
      ),
      v2 AS (SELECT url, md5(text) AS new_hash FROM v2r),
      j AS (
        SELECT coalesce(v1.url, v2.url) AS url, old_hash, new_hash
        FROM v1 FULL OUTER JOIN v2 ON v1.url = v2.url
      )
      SELECT url, coalesce(old_hash, '') AS old_hash,
             coalesce(new_hash, '') AS new_hash,
             CASE WHEN old_hash IS NULL THEN 'added'
                  WHEN new_hash IS NULL THEN 'removed'
                  ELSE 'changed' END AS status
      FROM j
      WHERE old_hash IS NULL OR new_hash IS NULL OR old_hash != new_hash
    """

    # bucketed-join replay from the raw parquet — the values are
    # layout-invariant; the bucketing claim itself is the plan-shape
    # pytest (zero exchanges), not this oracle
    o["q_bucketed_join"] = """
      WITH v AS (SELECT user_id, event_id FROM events WHERE event_type = 'view'),
      b AS (SELECT user_id, value FROM events WHERE event_type = 'purchase')
      SELECT v.user_id, count(*)::BIGINT AS n_pairs,
             round(sum(b.value), 4) AS total_value
      FROM v JOIN b USING (user_id) GROUP BY v.user_id
    """

    # clustering-coefficient replay: the q_triangles oracle nested as
    # the per-node triangle table + the symmetrized degree table
    o["q_clustering_coef"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      edges AS (
        SELECT DISTINCT a.surface AS a, b.surface AS b
        FROM mentsent a JOIN mentsent b
          ON a.doc_id = b.doc_id AND a.sent_id = b.sent_id AND a.surface < b.surface
      ),
      tc AS (SELECT * FROM ({o["q_triangles"]})),
      sym AS (SELECT a AS node FROM edges UNION ALL SELECT b FROM edges),
      deg AS (SELECT node, count(*)::BIGINT AS deg FROM sym GROUP BY node)
      SELECT tc.entity, deg.deg, tc.triangles,
             round(CASE WHEN deg.deg >= 2
                        THEN 2.0 * tc.triangles / (deg.deg * (deg.deg - 1))
                        ELSE 0.0 END, 6) AS coef
      FROM tc JOIN deg ON deg.node = tc.entity
    """

    # MinHash-error replay: the _MH_CHAIN fragment's mh/cand/sizes/inter
    # tables; estimate = matching minima / P, exact = raw ratio
    o["q_minhash_error"] = f"""
      WITH {_CORPUS},
      {_MH_CHAIN},
      mtch AS (
        SELECT c.a, c.b, count(*) FILTER (WHERE ma.h = mb.h)::BIGINT AS n_match
        FROM cand c
        JOIN mh ma ON ma.doc_id = c.a
        JOIN mh mb ON mb.doc_id = c.b AND mb.p = ma.p
        GROUP BY c.a, c.b
      ),
      exct AS (
        SELECT i.a, i.b, i.n_inter::DOUBLE / (za.n + zb.n - i.n_inter) AS jx
        FROM inter i JOIN sizes za ON za.doc_id = i.a
                     JOIN sizes zb ON zb.doc_id = i.b
      )
      SELECT m.a, m.b, m.n_match,
             round(m.n_match / {config.MINHASH_PERMS}.0, 6) AS j_est,
             round(e.jx, 6) AS j_exact,
             round(abs(m.n_match / {config.MINHASH_PERMS}.0 - e.jx), 6) AS abs_err
      FROM mtch m JOIN exct e ON e.a = m.a AND e.b = m.b
    """

    # sliding-window replay: each event fans to its two pane starts
    # (time_bucket(slide) and one slide earlier); append-mode cutoff =
    # windows the final watermark closed, as in q_stream_event_counts
    o["q_stream_sliding"] = """
      WITH mx AS (SELECT max(ts) AS m FROM events),
      panes AS (
        SELECT time_bucket(INTERVAL '30 minutes', ts)
                 - to_minutes(30 * off) AS window_start,
               event_type, value
        FROM events, unnest([0, 1]) AS u(off)
      ),
      agg AS (
        SELECT window_start, event_type, count(*)::BIGINT AS n,
               round(sum(value), 4) AS total_value
        FROM panes GROUP BY 1, 2
      )
      SELECT window_start, event_type, n, total_value
      FROM agg, mx
      WHERE window_start + INTERVAL '60 minutes' <= m - INTERVAL '30 minutes'
    """

    # IVM replay: recompute from the FULL event set — pins
    # merge(rollup(base), rollup(delta)) == rollup(base UNION delta)
    o["q_rollup_merge"] = """
      SELECT date_trunc('day', ts) AS bucket_ts, event_type,
             count(*)::BIGINT AS n, round(sum(value), 4) AS sum_v
      FROM events GROUP BY 1, 2
    """

    # star-BGP replay: same support agg, same per-(subj,pred) cap
    # (WHERE runs before the window both engines), equi-join on x
    o["q_kg_pattern"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      preds AS (SELECT doc_id, pos, tok FROM toks WHERE tok IN ({_PREDW})),
      tri AS ({_TRI_SELECT}),
      e AS (
        SELECT subj, pred, obj, count(*)::BIGINT AS support
        FROM tri GROUP BY subj, pred, obj
      ),
      capped AS (
        SELECT subj, pred, obj, support,
               row_number() OVER (PARTITION BY subj, pred
                                  ORDER BY support DESC, obj) AS r
        FROM e WHERE pred IN ('filter', 'order') QUALIFY r <= 8
      ),
      a AS (SELECT subj AS x, obj AS y, support AS support_y
            FROM capped WHERE pred = 'filter'),
      b AS (SELECT subj AS x, obj AS z, support AS support_z
            FROM capped WHERE pred = 'order')
      SELECT a.x, a.y, a.support_y, b.z, b.support_z
      FROM a JOIN b USING (x) WHERE a.y != b.z
    """

    # majority signature via the packed lpad(1e9-n)#subj_tag#obj_tag
    # min-key (cross-engine-deterministic ties; struct-min is not)
    o["q_domain_range"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      preds AS (SELECT doc_id, pos, tok FROM toks WHERE tok IN ({_PREDW})),
      tri AS ({_TRI_SELECT}),
      sigs AS (
        SELECT pred, subj_tag, obj_tag, count(*)::BIGINT AS n
        FROM tri GROUP BY pred, subj_tag, obj_tag
      ),
      maj AS (
        SELECT pred,
               min(lpad((1000000000000000000 - n)::VARCHAR, 19, '0')
                   || '#' || subj_tag || '#' || obj_tag) AS k
        FROM sigs GROUP BY pred
      ),
      m2 AS (
        SELECT pred, string_split(k, '#')[2] AS maj_subj_tag,
               string_split(k, '#')[3] AS maj_obj_tag
        FROM maj
      )
      SELECT s.pred, s.subj_tag, s.obj_tag, s.n,
             m2.maj_subj_tag, m2.maj_obj_tag,
             s.subj_tag = m2.maj_subj_tag AS subj_ok,
             s.obj_tag = m2.maj_obj_tag AS obj_ok,
             NOT (s.subj_tag = m2.maj_subj_tag
                  AND s.obj_tag = m2.maj_obj_tag) AS is_violation
      FROM sigs s JOIN m2 USING (pred)
    """

    # AMIE replay: body/support/PCA tables are DISTINCT-row joins, so
    # every count(*) is a distinct-(x,z) count by construction
    o["q_rule_mining"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      preds AS (SELECT doc_id, pos, tok FROM toks WHERE tok IN ({_PREDW})),
      tri AS ({_TRI_SELECT}),
      e AS (SELECT DISTINCT subj, pred, obj FROM tri),
      body AS (
        SELECT DISTINCT a.pred AS p, b.pred AS q, a.subj AS x, b.obj AS z
        FROM e a JOIN e b ON a.obj = b.subj AND a.subj != b.obj
      ),
      nbody AS (SELECT p, q, count(*)::BIGINT AS n_body FROM body GROUP BY p, q),
      supp AS (
        SELECT body.p, body.q, h.pred AS r, count(*)::BIGINT AS support
        FROM body JOIN e h ON h.subj = body.x AND h.obj = body.z
        GROUP BY body.p, body.q, h.pred
      ),
      hsubj AS (SELECT DISTINCT pred AS r, subj AS x FROM e),
      pca AS (
        SELECT body.p, body.q, hs.r, count(*)::BIGINT AS n_pca
        FROM body JOIN hsubj hs ON hs.x = body.x
        GROUP BY body.p, body.q, hs.r
      )
      SELECT s.p AS body_pred1, s.q AS body_pred2, s.r AS head_pred,
             s.support, nb.n_body,
             round(s.support / nb.n_body::DOUBLE, 6) AS conf,
             pc.n_pca, round(s.support / pc.n_pca::DOUBLE, 6) AS pca_conf
      FROM supp s
      JOIN nbody nb ON nb.p = s.p AND nb.q = s.q
      JOIN pca pc ON pc.p = s.p AND pc.q = s.q AND pc.r = s.r
      WHERE s.support >= 2
    """

    # kappa replay: naive tag = the q_error_spans CASE, gold = dtags
    # (all positions); exact-integer pe numerator, num/n/n division
    o["q_kappa"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      pairs AS (
        SELECT CASE WHEN t.tok IN ({_PER}) THEN 'B-PER'
                    WHEN t.tok IN ({_LOC}) THEN 'B-LOC'
                    ELSE 'O' END AS tag_a,
               d.tag AS tag_b
        FROM toks t JOIN dtags d ON t.doc_id = d.doc_id AND t.pos = d.pos
      ),
      tot AS (
        SELECT count(*)::BIGINT AS n_tokens,
               sum(CASE WHEN tag_a = tag_b THEN 1 ELSE 0 END)::BIGINT AS n_agree
        FROM pairs
      ),
      ca AS (SELECT tag_a AS c, count(*)::BIGINT AS na FROM pairs GROUP BY tag_a),
      cb AS (SELECT tag_b AS c, count(*)::BIGINT AS nb FROM pairs GROUP BY tag_b),
      pe AS (SELECT coalesce(sum(na * nb), 0)::BIGINT AS pe_num
            FROM ca JOIN cb USING (c))
      SELECT n_tokens,
             round(n_agree::DOUBLE / n_tokens, 6) AS po,
             round(pe_num::DOUBLE / n_tokens / n_tokens, 6) AS pe,
             round(CASE WHEN pe_num = n_tokens * n_tokens THEN 1.0
                        ELSE (n_agree::DOUBLE / n_tokens
                              - pe_num::DOUBLE / n_tokens / n_tokens)
                             / (1.0 - pe_num::DOUBLE / n_tokens / n_tokens)
                   END, 6) AS kappa
      FROM tot, pe
    """

    # packing replay: same exclusive-window cumsum per shard; // is
    # floor for the non-negative cumsums both engines
    o["q_pack_sequences"] = """
      WITH d AS (
        SELECT doc_id, (doc_id % 4)::BIGINT AS shard,
               len(string_split(text, ' '))::BIGINT AS tok
        FROM documents WHERE coalesce(text, '') != ''
      ),
      c AS (
        SELECT shard, tok,
               coalesce(sum(tok) OVER (PARTITION BY shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_excl
        FROM d
      ),
      b AS (
        SELECT shard, tok, (cum_excl // 512)::BIGINT AS bin_id,
               ((cum_excl + tok - 1) // 512) > (cum_excl // 512) AS straddle
        FROM c
      )
      SELECT shard, bin_id, count(*)::BIGINT AS n_docs,
             sum(tok)::BIGINT AS n_tokens,
             sum(CASE WHEN straddle THEN 1 ELSE 0 END)::BIGINT AS n_straddle
      FROM b GROUP BY shard, bin_id
    """

    # chunking replay: range() upper bound is exclusive = Spark's
    # sequence(0, n-1, stride); list_slice is 1-based inclusive both ends
    o["q_chunk_windows"] = """
      WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS t
        FROM documents WHERE coalesce(text, '') != ''
      ),
      s AS (
        SELECT doc_id, t, u.sp AS start_pos
        FROM d, unnest(range(0, len(t), 16)) AS u(sp)
      )
      SELECT doc_id, (start_pos // 16)::BIGINT AS chunk_id,
             start_pos::BIGINT AS start_pos,
             len(list_slice(t, start_pos + 1, start_pos + 32))::BIGINT
               AS n_chunk_tokens,
             array_to_string(list_slice(t, start_pos + 1, start_pos + 32), ' ')
               AS chunk_text
      FROM s
    """

    o["q_mixture_weights"] = """
      WITH p AS (
        SELECT source, count(*)::BIGINT AS n_docs,
               sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
        FROM documents WHERE coalesce(text, '') != '' GROUP BY source
      ),
      t AS (SELECT sum(n_tokens)::BIGINT AS total_tokens,
                   count(*)::BIGINT AS n_sources FROM p)
      SELECT source, n_docs, n_tokens,
             round(n_tokens::DOUBLE / total_tokens, 6) AS actual_share,
             round(1.0 / n_sources, 6) AS target_share,
             round(total_tokens::DOUBLE / n_sources / n_tokens, 6) AS weight
      FROM p, t
    """

    # AUC replay: identical integer rank numerator and the identical
    # left-assoc division 2.0 * n_pos * n_neg
    o["q_auc"] = """
      WITH g AS (
        SELECT n_chars AS s,
               sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS p,
               sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)::BIGINT AS n
        FROM documents GROUP BY n_chars
      ),
      t AS (
        SELECT p, n,
               coalesce(sum(n) OVER (ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
                 AS n_below
        FROM g
      ),
      a AS (
        SELECT sum(p)::BIGINT AS n_pos, sum(n)::BIGINT AS n_neg,
               sum(p * (2 * n_below + n))::BIGINT AS num2
        FROM t
      )
      SELECT n_pos, n_neg,
             round(CASE WHEN n_pos = 0 OR n_neg = 0 THEN 0.5
                        ELSE num2::DOUBLE / (2.0 * n_pos * n_neg) END, 6) AS auc
      FROM a
    """

    # calibration replay: integer gap numerators, num/500.0/n division
    # order fixed on both sides
    o["q_calibration"] = """
      WITH d AS (
        SELECT least(n_chars, 500)::BIGINT AS cap,
               (CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS y
        FROM documents
      ),
      b AS (
        SELECT least(cap // 50, 9)::BIGINT AS bin, count(*)::BIGINT AS n,
               sum(cap)::BIGINT AS sum_cap, sum(y)::BIGINT AS n_pos
        FROM d GROUP BY 1
      ),
      s AS (
        SELECT bin, n, n_pos,
               round(sum_cap::DOUBLE / 500.0 / n, 6) AS avg_score,
               round(n_pos::DOUBLE / n, 6) AS pos_rate,
               round(abs(sum_cap - 500 * n_pos)::DOUBLE / 500.0 / n, 6) AS abs_gap,
               abs(sum_cap - 500 * n_pos)::BIGINT AS gnum
        FROM b
      ),
      t AS (SELECT sum(gnum)::BIGINT AS ece_num, sum(n)::BIGINT AS n_total FROM s)
      SELECT bin, n, n_pos, avg_score, pos_rate, abs_gap,
             round(ece_num::DOUBLE / 500.0 / n_total, 6) AS ece
      FROM s, t
    """

    # AMS replay: same md5-bit signs, exact integer Z per estimator,
    # one division for the mean of squares
    o["q_ams_f2"] = f"""
      WITH {_TOKS},
      cnts AS (SELECT tok AS item, count(*)::BIGINT AS cnt FROM toks GROUP BY tok),
      fan AS (SELECT item, cnt, u.e FROM cnts, unnest(range(16)) AS u(e)),
      z AS (
        SELECT e,
               sum((((('0x' || substr(md5(item || '#' || e::VARCHAR), 1, 4))::INTEGER
                      % 2) * 2 - 1)) * cnt)::BIGINT AS z
        FROM fan GROUP BY e
      ),
      za AS (SELECT count(*)::BIGINT AS k, sum(z * z)::BIGINT AS sum_z2 FROM z),
      ex AS (SELECT sum(cnt * cnt)::BIGINT AS exact_f2 FROM cnts)
      SELECT k, round(sum_z2::DOUBLE / k, 6) AS est_f2, exact_f2,
             round(abs(sum_z2::DOUBLE / k - exact_f2) / exact_f2, 6) AS rel_err
      FROM za, ex
    """

    # chi2 replay: same integer cells, same fixed division chain
    # N·diff·diff / m1 / m2 / m3 / m4
    o["q_chi2_tokens"] = """
      WITH base AS (
        SELECT doc_id, (CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS y,
               text
        FROM documents WHERE coalesce(text, '') != ''
      ),
      toks AS (
        SELECT y, u.tok
        FROM base, unnest(list_distinct(string_split(text, ' '))) AS u(tok)
      ),
      pt AS (
        SELECT tok, sum(y)::BIGINT AS a, sum(1 - y)::BIGINT AS b
        FROM toks GROUP BY tok
      ),
      tot AS (SELECT sum(y)::BIGINT AS n_pos, count(*)::BIGINT AS n_docs FROM base),
      cells AS (
        SELECT tok, a, b, n_pos - a AS c, (n_docs - n_pos) - b AS d, n_docs
        FROM pt, tot WHERE a + b >= 5
      )
      SELECT tok, a, b, c::BIGINT AS c, d::BIGINT AS d,
             round(CASE WHEN (c + d) = 0 OR (a + c) = 0 OR (b + d) = 0 THEN 0.0
                        ELSE n_docs::DOUBLE * ((a * d - b * c)::DOUBLE)
                             * ((a * d - b * c)::DOUBLE)
                             / (a + b)::DOUBLE / (c + d)::DOUBLE
                             / (a + c)::DOUBLE / (b + d)::DOUBLE
                   END, 6) AS chi2
      FROM cells
    """

    # JL replay: same quantization (round half away from zero both
    # engines), same md5 Rademacher bit, num/1000.0/4.0 division order
    o["q_jl_project"] = """
      WITH el AS (
        SELECT vec_id, u.i - 1 AS i,
               round(embedding[u.i]::DOUBLE * 1000)::BIGINT AS q
        FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
      ),
      fan AS (SELECT vec_id, i, q, u.j FROM el, unnest(range(16)) AS u(j)),
      agg AS (
        SELECT vec_id, j,
               sum((((('0x' || substr(md5(i::VARCHAR || '#' || j::VARCHAR), 1, 4))::INTEGER
                      % 2) * 2 - 1)) * q)::BIGINT AS num
        FROM fan GROUP BY vec_id, j
      )
      SELECT vec_id, j::BIGINT AS j,
             round(num::DOUBLE / 1000.0 / 4.0, 6) AS value
      FROM agg
    """

    # TPC-H Q7 literal flat form (the engine pushes the nation filter
    # into the dimensions; DuckDB plans the flat join graph itself)
    o["q_volume_shipping"] = """
      SELECT supp_nation, cust_nation, l_year,
             round(sum(volume), 4) AS revenue, count(*)::BIGINT AS n_items
      FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               year(l_shipdate)::BIGINT AS l_year,
               l_extendedprice * (1 - l_discount) AS volume
        FROM supplier, lineitem, orders, customer, nation n1, nation n2
        WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
          AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
          AND c_nationkey = n2.n_nationkey
          AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
               OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
      ) GROUP BY supp_nation, cust_nation, l_year
    """

    # TPC-H Q8 literal flat form
    o["q_market_share"] = """
      SELECT o_year,
             round(sum(CASE WHEN nation = 'NATION_1' THEN volume ELSE 0 END), 4)
               AS nation_volume,
             round(sum(volume), 4) AS total_volume,
             round(sum(CASE WHEN nation = 'NATION_1' THEN volume ELSE 0 END)
                   / sum(volume), 6) AS mkt_share
      FROM (
        SELECT year(o_orderdate)::BIGINT AS o_year,
               l_extendedprice * (1 - l_discount) AS volume,
               n1.n_name AS nation
        FROM part, supplier, lineitem, orders, customer,
             nation n1, nation n2, region
        WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
          AND l_orderkey = o_orderkey AND o_custkey = c_custkey
          AND c_nationkey = n2.n_nationkey AND n2.n_regionkey = r_regionkey
          AND r_name = 'ASIA' AND s_nationkey = n1.n_nationkey
          AND o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
          AND p_type = 'PROMO'
      ) GROUP BY o_year
    """

    # TPC-H Q10 literal form (no LIMIT: the full return-loss table)
    o["q_returned_items"] = """
      SELECT c_custkey, c_name, n_name, round(c_acctbal, 2) AS c_acctbal,
             round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
             count(*)::BIGINT AS n_items
      FROM customer, orders, lineitem, nation
      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND o_orderdate >= TIMESTAMP '1995-10-01'
        AND o_orderdate < TIMESTAMP '1996-01-01'
        AND l_returnflag = 'R' AND c_nationkey = n_nationkey
      GROUP BY c_custkey, c_name, n_name, c_acctbal
    """

    # TPC-H Q13 literal form: the filter lives in the outer-join
    # predicate (the engine folds it into the join input — equivalent)
    o["q_cust_order_dist"] = """
      SELECT c_count, count(*)::BIGINT AS custdist
      FROM (
        SELECT c_custkey, count(o_orderkey)::BIGINT AS c_count
        FROM customer LEFT OUTER JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
      ) GROUP BY c_count
    """

    # TPC-H Q14 literal form
    o["q_promo_share"] = """
      SELECT round(sum(CASE WHEN p_type = 'PROMO'
                            THEN l_extendedprice * (1 - l_discount)
                            ELSE 0 END), 4) AS promo_revenue,
             round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_revenue,
             round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                    THEN l_extendedprice * (1 - l_discount)
                                    ELSE 0 END)
                   / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_share
      FROM lineitem, part
      WHERE l_partkey = p_partkey
        AND l_shipdate >= TIMESTAMP '1995-09-01'
        AND l_shipdate < TIMESTAMP '1995-10-01'
    """

    # TWA replay: cent quantization + integer epoch-ms (// == DIV for
    # the non-negative epochs), identical lead/aggregate
    o["q_time_weighted_avg"] = """
      WITH e AS (
        SELECT user_id, epoch_us(ts) // 1000 AS tms,
               round(value * 100)::BIGINT AS q, event_id
        FROM events
      ),
      s AS (
        SELECT user_id, tms, q,
               lead(tms) OVER (PARTITION BY user_id
                               ORDER BY tms, event_id) AS t_next
        FROM e
      ),
      a AS (
        SELECT user_id, count(*)::BIGINT AS n_events,
               min(tms) AS t_first, max(tms) AS t_last,
               sum(q * (t_next - tms))::BIGINT AS num
        FROM s GROUP BY user_id
      )
      SELECT user_id, n_events, (t_last - t_first)::BIGINT AS window_ms,
             round(CASE WHEN t_last > t_first
                        THEN num::DOUBLE / 100.0 / (t_last - t_first)
                        ELSE -1.0 END, 6) AS twa,
             t_last = t_first AS degenerate
      FROM a
    """

    # debounce replay: burst starts via lag gap, island id via running
    # sum over the SAME (key, order); head/size/span per island
    o["q_debounce"] = """
      WITH e AS (
        SELECT user_id, event_type, epoch_us(ts) // 1000 AS tms, event_id
        FROM events
      ),
      m AS (
        SELECT user_id, event_type, tms, event_id,
               CASE WHEN coalesce(tms - lag(tms) OVER w, 600001) > 600000
                    THEN 1 ELSE 0 END AS is_start
        FROM e
        WINDOW w AS (PARTITION BY user_id, event_type ORDER BY tms, event_id)
      ),
      i AS (
        SELECT user_id, event_type, tms,
               sum(is_start) OVER (PARTITION BY user_id, event_type
                                   ORDER BY tms, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW)::BIGINT AS island_id
        FROM m
      )
      SELECT user_id, event_type, island_id,
             min(tms) AS head_tms, count(*)::BIGINT AS n_collapsed,
             (max(tms) - min(tms))::BIGINT AS span_ms
      FROM i GROUP BY user_id, event_type, island_id
    """

    # SCC replay: recursive reachability closure, mutual pairs, scc_id
    # = min mutual partner (self included via least/coalesce)
    o["q_scc"] = f"""
      WITH RECURSIVE {_TOKS}, {_SENTID}, {_MENT},
      preds AS (SELECT doc_id, pos, tok FROM toks WHERE tok IN ({_PREDW})),
      tri AS ({_TRI_SELECT}),
      e AS (SELECT DISTINCT subj AS s, obj AS d FROM tri),
      nodes AS (
        SELECT DISTINCT node FROM (
          SELECT s AS node FROM e UNION SELECT d AS node FROM e
        )
      ),
      reach(s, d) AS (
        SELECT s, d FROM e
        UNION
        SELECT r.s, e.d FROM reach r JOIN e ON e.s = r.d
      ),
      mut AS (
        SELECT a.s AS v, a.d AS u
        FROM reach a JOIN reach b ON a.s = b.d AND a.d = b.s
      )
      SELECT n.node, least(n.node, coalesce(min(m.u), n.node)) AS scc_id
      FROM nodes n LEFT JOIN mut m ON m.v = n.node
      GROUP BY n.node
    """

    # AGMS replay: same sign stream both sides, k-row estimator join
    o["q_ams_join_size"] = """
      WITH ca AS (
        SELECT user_id AS item, count(*)::BIGINT AS cnt
        FROM events WHERE event_type = 'view' GROUP BY user_id
      ),
      cb AS (
        SELECT user_id AS item, count(*)::BIGINT AS cnt
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
      ),
      za AS (
        SELECT u.e,
               sum((((('0x' || substr(md5(item::VARCHAR || '#' || u.e::VARCHAR), 1, 4))::INTEGER
                      % 2) * 2 - 1)) * cnt)::BIGINT AS z_a
        FROM ca, unnest(range(16)) AS u(e) GROUP BY u.e
      ),
      zb AS (
        SELECT u.e,
               sum((((('0x' || substr(md5(item::VARCHAR || '#' || u.e::VARCHAR), 1, 4))::INTEGER
                      % 2) * 2 - 1)) * cnt)::BIGINT AS z_b
        FROM cb, unnest(range(16)) AS u(e) GROUP BY u.e
      ),
      zz AS (
        SELECT count(*)::BIGINT AS k, sum(z_a * z_b)::BIGINT AS sum_zz
        FROM za JOIN zb USING (e)
      ),
      ex AS (
        SELECT coalesce(sum(ca.cnt * cb.cnt), 0)::BIGINT AS exact_join
        FROM ca JOIN cb USING (item)
      )
      SELECT k, round(sum_zz::DOUBLE / k, 6) AS est_join, exact_join,
             round(CASE WHEN exact_join > 0
                        THEN abs(sum_zz::DOUBLE / k - exact_join) / exact_join
                        ELSE -1.0 END, 6) AS rel_err
      FROM zz, ex
    """

    # BPE training replay: n unrolled merge stages; list_reduce folds
    # in list order with the first element as seed — equivalent to
    # Spark's empty-seed fold because the first step always appends
    def _bpe_stage(k: int) -> str:
        return f"""
      p{k} AS (
        SELECT toks[g.i] AS l, toks[g.i + 1] AS r, freq
        FROM v{k - 1}, unnest(generate_series(1, len(toks) - 1)) AS g(i)
      ),
      pc{k} AS (SELECT l, r, sum(freq)::BIGINT AS cnt FROM p{k} GROUP BY l, r),
      b{k} AS (
        SELECT min(lpad((1000000000000000000 - cnt)::VARCHAR, 19, '0')
                   || '#' || lpad(length(l)::VARCHAR, 4, '0')
                   || '#' || l || r) AS key
        FROM pc{k}
      ),
      m{k} AS (
        SELECT {k}::BIGINT AS step,
               substring(key, 26, substring(key, 21, 4)::INT) AS lhs,
               substring(key, 26 + substring(key, 21, 4)::INT) AS rhs,
               (1000000000000000000
                - substring(key, 1, 19)::BIGINT)::BIGINT AS pair_count
        FROM b{k}
      ),
      v{k} AS (
        SELECT word, freq,
               list_reduce(
                 list_transform(toks, t -> [t]),
                 (acc, x) -> CASE WHEN acc[len(acc)] = m.lhs AND x[1] = m.rhs
                                  THEN list_append(
                                         list_slice(acc, 1, len(acc) - 1),
                                         m.lhs || m.rhs)
                                  ELSE list_append(acc, x[1]) END
               ) AS toks
        FROM v{k - 1}, m{k} m
      )"""

    _bpe_n = 5
    _bpe_head = (
        """
      WITH counts AS (
        SELECT token, count(*)::BIGINT AS n
        FROM (SELECT unnest(string_split(coalesce(text, ''), ' ')) AS token
              FROM documents)
        WHERE token != ''
        GROUP BY token HAVING count(*) >= 2
      ),
      v0 AS (
        SELECT token AS word, n::BIGINT AS freq,
               string_split(token, '') AS toks
        FROM counts
      ),"""
        + ",".join(_bpe_stage(k) for k in range(1, _bpe_n + 1))
    )
    o["q_bpe_train"] = (
        _bpe_head
        + "\n      "
        + "\n      UNION ALL ".join(
            # lhs IS NULL = the pair supply dried up at this stage (min
            # over empty pc is NULL): the engine's `break` — emit nothing
            f"SELECT step, lhs, rhs, pair_count FROM m{k} WHERE lhs IS NOT NULL"
            for k in range(1, _bpe_n + 1)
        )
    )

    # DBSCAN replay: vp = the verified LSH pair set (the same ε-ball),
    # core by symmetric degree, recursive-walk CC over core-core edges
    # (numeric min == the engine's lpad-string min), border = min
    # adjacent core cluster, noise = the rest at −1
    o["q_dbscan"] = f"""
      WITH {_CORPUS},
      {_MH_CHAIN},
      nodes AS (SELECT doc_id AS node FROM corpus),
      -- mirror the engine's defensive pair dedupe (density.py dbscan_lite)
      vpd AS (SELECT DISTINCT a, b FROM vp),
      sym AS (
        SELECT a AS node, b AS nb FROM vpd
        UNION ALL SELECT b AS node, a AS nb FROM vpd
      ),
      deg AS (SELECT node, count(*)::BIGINT AS n_nb FROM sym GROUP BY node),
      core AS (SELECT node FROM deg WHERE n_nb + 1 >= 3),
      ce AS (
        SELECT v.a, v.b FROM vpd v
        JOIN core ca ON ca.node = v.a
        JOIN core cb ON cb.node = v.b
      ),
      cedges AS (SELECT a, b FROM ce UNION SELECT b AS a, a AS b FROM ce),
      rr AS (
        WITH RECURSIVE walk AS (
          SELECT node, node AS lab FROM core
          UNION
          SELECT e.b AS node, walk.lab FROM walk JOIN cedges e ON e.a = walk.node
        )
        SELECT node, min(lab)::BIGINT AS cluster_id FROM walk GROUP BY node
      ),
      border AS (
        SELECT s.node, min(r.cluster_id)::BIGINT AS cluster_id
        FROM sym s JOIN rr r ON r.node = s.nb
        WHERE s.node NOT IN (SELECT node FROM core)
        GROUP BY s.node
      ),
      classified AS (
        SELECT node, 'core' AS role, cluster_id FROM rr
        UNION ALL
        SELECT node, 'border' AS role, cluster_id FROM border
      )
      SELECT node, role, cluster_id FROM classified
      UNION ALL
      SELECT n.node, 'noise' AS role, (-1)::BIGINT AS cluster_id
      FROM nodes n WHERE n.node NOT IN (SELECT node FROM classified)
    """

    # temporal-path replay: the q_kg_validity capture model as integer
    # day offsets, per-mid caps, interval-overlap residual
    o["q_temporal_paths"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      preds AS (SELECT doc_id, pos, tok FROM toks WHERE tok IN ({_PREDW})),
      tri AS ({_TRI_SELECT}),
      msent AS (SELECT doc_id, max(sent_id) AS max_sent FROM tri GROUP BY doc_id),
      a AS (
        SELECT t.subj, t.pred, t.obj,
               (t.doc_id % 7)::BIGINT AS fs,
               (t.doc_id % 7
                + least(t.doc_id % 3, m.max_sent - t.sent_id))::BIGINT AS ls,
               (least(t.doc_id % 3, m.max_sent - t.sent_id) + 1)::BIGINT AS ni
        FROM tri t JOIN msent m USING (doc_id)
      ),
      v AS (
        SELECT subj, pred, obj, min(fs) AS fs, max(ls) AS ls,
               sum(ni)::BIGINT AS na
        FROM a GROUP BY subj, pred, obj
      ),
      h1 AS (
        SELECT subj AS entity_a, pred AS pred1, obj AS mid, fs AS fs1, ls AS ls1,
               row_number() OVER (PARTITION BY obj
                                  ORDER BY na DESC, pred, subj) AS r
        FROM v QUALIFY r <= 5
      ),
      h2 AS (
        SELECT subj AS mid, pred AS pred2, obj AS entity_c, fs AS fs2, ls AS ls2,
               row_number() OVER (PARTITION BY subj
                                  ORDER BY na DESC, pred, obj) AS r
        FROM v QUALIFY r <= 5
      )
      SELECT entity_a, pred1, mid, pred2, entity_c,
             greatest(fs1, fs2)::BIGINT AS ov_start,
             least(ls1, ls2)::BIGINT AS ov_end,
             (least(ls1, ls2) - greatest(fs1, fs2) + 1)::BIGINT AS ov_days
      FROM h1 JOIN h2 USING (mid)
      WHERE entity_a != entity_c AND greatest(fs1, fs2) <= least(ls1, ls2)
    """

    # market-basket replay: literal within-order pair counts + marginals
    o["q_copurchase_lift"] = """
      WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      n AS (SELECT count(DISTINCT o_orderkey)::BIGINT AS n_orders FROM orders),
      supp AS (
        SELECT l_partkey AS part, count(*)::BIGINT AS n_part
        FROM li GROUP BY l_partkey
      ),
      pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*)::BIGINT AS n_co
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey HAVING count(*) >= 2
      )
      SELECT p.pa AS part_a, p.pb AS part_b, p.n_co, sa.n_part AS n_a,
             sb.n_part AS n_b,
             round(p.n_co::DOUBLE / sa.n_part, 6) AS conf_ab,
             round((p.n_co * n.n_orders)::DOUBLE / sa.n_part / sb.n_part, 6)
               AS lift
      FROM pairs p
      JOIN supp sa ON sa.part = p.pa
      JOIN supp sb ON sb.part = p.pb, n
    """

    # readability replay: identical vowel-run syllable proxy and the
    # fixed 206.835 − 1.015·wps − 84.6·spw chain; band on ROUNDED score
    o["q_readability"] = f"""
      WITH toks AS (
        SELECT doc_id, u.w
        FROM (SELECT doc_id, string_split(text, ' ') AS t
              FROM documents WHERE coalesce(text, '') != ''),
             unnest(t) AS u(w)
      ),
      per_doc AS (
        SELECT doc_id, count(*)::BIGINT AS n_words,
               greatest(1, sum(CASE WHEN w = '{config.SENT_TERM}' THEN 1
                                    ELSE 0 END))::BIGINT AS n_sent,
               sum(greatest(1, len(regexp_extract_all(w, '[aeiouy]+'))))::BIGINT
                 AS n_syll
        FROM toks GROUP BY doc_id
      ),
      s AS (
        SELECT doc_id, n_words, n_sent, n_syll,
               round(206.835
                     - 1.015 * (n_words::DOUBLE / n_sent)
                     - 84.6 * (n_syll::DOUBLE / n_words), 4) AS flesch
        FROM per_doc
      )
      SELECT doc_id, n_words, n_sent, n_syll, flesch,
             CASE WHEN flesch >= 60.0 THEN 'easy'
                  WHEN flesch >= 30.0 THEN 'medium'
                  ELSE 'hard' END AS band
      FROM s
    """

    # drift replay: Haldane-corrected log-odds over exact half counts,
    # same ln operand order
    o["q_entity_drift"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      per AS (
        SELECT surface,
               sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS a,
               sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS b
        FROM ment GROUP BY surface
      ),
      tot AS (SELECT sum(a)::BIGINT AS ta, sum(b)::BIGINT AS tb FROM per)
      SELECT surface, a, b,
             round(ln((a + 0.5) / (ta - a + 0.5))
                   - ln((b + 0.5) / (tb - b + 0.5)), 6) AS log_odds,
             round(ln((a + 0.5) / (ta - a + 0.5))
                   - ln((b + 0.5) / (tb - b + 0.5)), 6) > 0
               AS rising_in_first_half
      FROM per, tot
    """

    # RFM replay: identical total-ordered ntile quintiles (both engines
    # put the larger buckets first), integer day/cent arithmetic
    o["q_rfm"] = """
      WITH p AS (
        SELECT user_id, epoch_us(ts) // 1000 AS tms,
               round(value * 100)::BIGINT AS cents
        FROM events WHERE event_type = 'purchase'
      ),
      mx AS (SELECT max(tms) AS max_ms FROM p),
      agg AS (
        SELECT user_id, max(tms) AS last_ms, count(*)::BIGINT AS f,
               sum(cents)::BIGINT AS m_cents
        FROM p GROUP BY user_id
      ),
      base AS (
        SELECT user_id, ((max_ms - last_ms) // 86400000)::BIGINT AS r_days,
               f, m_cents
        FROM agg, mx
      ),
      scored AS (
        SELECT user_id, r_days, f, m_cents,
               ntile(5) OVER (ORDER BY r_days DESC, user_id)::BIGINT AS r_score,
               ntile(5) OVER (ORDER BY f ASC, user_id)::BIGINT AS f_score,
               ntile(5) OVER (ORDER BY m_cents ASC, user_id)::BIGINT AS m_score
        FROM base
      )
      SELECT user_id, r_days, f, m_cents, r_score, f_score, m_score,
             r_score::VARCHAR || f_score::VARCHAR || m_score::VARCHAR AS segment
      FROM scored
    """

    # PSI replay: generated bucket universe, Haldane-smoothed shares,
    # per-bucket terms (no cross-bucket float sum), same ln ratio form
    o["q_psi_drift"] = """
      WITH d AS (
        SELECT least(n_chars // 100, 9)::BIGINT AS bucket,
               (doc_id % 2 = 0) AS in_a
        FROM documents
      ),
      counts AS (
        SELECT bucket,
               sum(CASE WHEN in_a THEN 1 ELSE 0 END)::BIGINT AS ca,
               sum(CASE WHEN in_a THEN 0 ELSE 1 END)::BIGINT AS cb
        FROM d GROUP BY bucket
      ),
      filled AS (
        SELECT u.b::BIGINT AS bucket, coalesce(c.ca, 0)::BIGINT AS ca,
               coalesce(c.cb, 0)::BIGINT AS cb
        FROM unnest(range(10)) AS u(b) LEFT JOIN counts c ON c.bucket = u.b
      ),
      tot AS (SELECT sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb FROM filled)
      SELECT bucket, ca, cb,
             round((ca + 0.5) / (na + 5.0), 6) AS pa,
             round((cb + 0.5) / (nb + 5.0), 6) AS pb,
             round(((ca + 0.5) / (na + 5.0) - (cb + 0.5) / (nb + 5.0))
                   * ln(((ca + 0.5) * (nb + 5.0))
                        / ((cb + 0.5) * (na + 5.0))), 6) AS psi_term
      FROM filled, tot
    """

    # harmonic replay: bounded recursive walk, per-(node,seed) min,
    # 12//dist exact-integer terms (lcm 1..4)
    o["q_harmonic"] = f"""
      WITH RECURSIVE {_TOKS}, {_SENTID}, {_MENT},
      edges AS (
        SELECT DISTINCT a.surface AS a, b.surface AS b
        FROM mentsent a JOIN mentsent b
          ON a.doc_id = b.doc_id AND a.sent_id = b.sent_id AND a.surface < b.surface
      ),
      sym AS (SELECT a, b FROM edges UNION ALL SELECT b AS a, a AS b FROM edges),
      nodes AS (SELECT DISTINCT a AS node FROM sym),
      seeds AS (
        SELECT node FROM (
          SELECT node, row_number() OVER (ORDER BY node) AS r FROM nodes
        ) WHERE r <= 3
      ),
      walk(node, seed, dist) AS (
        SELECT node, node, 0 FROM seeds
        UNION
        SELECT s.b, w.seed, w.dist + 1
        FROM walk w JOIN sym s ON s.a = w.node WHERE w.dist < 4
      ),
      d AS (SELECT node, seed, min(dist) AS dist FROM walk GROUP BY node, seed),
      r AS (SELECT node, dist FROM d WHERE dist > 0)
      SELECT node, count(*)::BIGINT AS n_reached,
             sum(12 // dist)::BIGINT AS hx12,
             round(sum(12 // dist)::DOUBLE / 12.0, 6) AS harmonic
      FROM r GROUP BY node
    """

    # medoid replay: same quantization, integer distance sums, packed
    # lpad(sum)#lpad(id) argmin; singleton labels -> self at 0
    o["q_medoids"] = """
      WITH el AS (
        SELECT vec_id, label, u.i,
               round(embedding[u.i]::DOUBLE * 1000)::BIGINT AS q
        FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
      ),
      tot AS (
        SELECT a.label, a.vec_id AS a,
               sum((a.q - b.q) * (a.q - b.q))::BIGINT AS sum_d2
        FROM el a JOIN el b
          ON a.label = b.label AND a.i = b.i AND a.vec_id != b.vec_id
        GROUP BY a.label, a.vec_id
      ),
      best AS (
        SELECT label,
               min(lpad(sum_d2::VARCHAR, 19, '0') || '#'
                   || lpad(a::VARCHAR, 19, '0')) AS k
        FROM tot GROUP BY label
      ),
      nm AS (
        SELECT label, count(*)::BIGINT AS n_members,
               min(vec_id)::BIGINT AS min_id
        FROM embeddings GROUP BY label
      )
      SELECT b.label,
             string_split(b.k, '#')[2]::BIGINT AS medoid_vec_id,
             string_split(b.k, '#')[1]::BIGINT AS sum_d2,
             nm.n_members
      FROM best b JOIN nm USING (label)
      UNION ALL
      SELECT label, min_id AS medoid_vec_id, 0::BIGINT AS sum_d2, n_members
      FROM nm WHERE n_members = 1
    """

    # k-truss replay: 3 unrolled support-peel rounds over the co-mention
    # edges (naive x<y<z triangle join — same multiset as the engine's
    # degree-oriented pass); bounded forms identical by construction.
    # Every stage CTE is MATERIALIZED: DuckDB INLINES plain CTEs, and
    # each stage references the previous edge set 4 times, so without
    # pinning, the mentsent chain under e0 re-expands ~4^3 times across
    # the unroll (measured: the inlined form spun for 15+ min at
    # sf0.001; materialized it is sub-second)
    def _truss_stage(r: int) -> str:
        return f"""
      t{r} AS MATERIALIZED (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM e{r - 1} e1
        JOIN e{r - 1} e2 ON e2.a = e1.b
        JOIN e{r - 1} e3 ON e3.a = e1.a AND e3.b = e2.b
      ),
      s{r} AS MATERIALIZED (
        SELECT a, b, count(*)::BIGINT AS support FROM (
          SELECT x AS a, y AS b FROM t{r}
          UNION ALL SELECT y AS a, z AS b FROM t{r}
          UNION ALL SELECT x AS a, z AS b FROM t{r}
        ) GROUP BY a, b
      ),
      se{r} AS MATERIALIZED (
        SELECT e.a, e.b, coalesce(s.support, 0)::BIGINT AS support
        FROM e{r - 1} e LEFT JOIN s{r} s USING (a, b)
      ),
      e{r} AS MATERIALIZED (SELECT a, b FROM se{r} WHERE support >= 2)"""

    # MMR replay: 5 unrolled greedy stages — rel = integer dot vs the
    # min-vec_id query row, per-stage dp{r} = dots vs the newest pick
    # only (ms accumulates via greatest), argmax via the packed
    # lpad(1e15−score)#lpad(vec_id) min-key.  MATERIALIZED throughout:
    # each stage references its predecessors repeatedly and DuckDB
    # would otherwise re-inline the whole chain
    def _mmr_stage(r: int) -> str:
        prev = ", ".join(f"(SELECT vid FROM v{j})" for j in range(1, r))
        return f"""
      dp{r} AS MATERIALIZED (
        SELECT a.vec_id AS x, sum(a.q * b.q)::BIGINT AS d
        FROM el a JOIN el b ON a.i = b.i
        WHERE b.vec_id = (SELECT vid FROM v{r - 1}) AND a.vec_id != b.vec_id
        GROUP BY a.vec_id
      ),
      ms{r} AS MATERIALIZED (
        {"SELECT x, d AS ms FROM dp2" if r == 2 else
         f"SELECT m.x, greatest(m.ms, d.d) AS ms FROM ms{r - 1} m JOIN dp{r} d USING (x)"}
      ),
      m{r} AS MATERIALIZED (
        SELECT min(lpad((1000000000000000 - (r.rel - s.ms))::VARCHAR, 16, '0')
                   || '#' || lpad(r.vec_id::VARCHAR, 19, '0')) AS k
        FROM rel r JOIN ms{r} s ON s.x = r.vec_id
        WHERE r.vec_id NOT IN ({prev})
      ),
      v{r} AS MATERIALIZED (
        SELECT substring(k, 18)::BIGINT AS vid,
               (1000000000000000 - substring(k, 1, 16)::BIGINT)::BIGINT AS score
        FROM m{r}
      )"""

    _mmr_k = 5
    o["q_mmr"] = (
        """
      WITH qid AS (SELECT min(vec_id) AS qid FROM embeddings),
      el AS MATERIALIZED (
        SELECT vec_id, u.i, round(embedding[u.i]::DOUBLE * 1000)::BIGINT AS q
        FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
      ),
      rel AS MATERIALIZED (
        SELECT e.vec_id, sum(e.q * v.q)::BIGINT AS rel
        FROM el e JOIN el v ON e.i = v.i
        WHERE v.vec_id = (SELECT qid FROM qid)
          AND e.vec_id != (SELECT qid FROM qid)
        GROUP BY e.vec_id
      ),
      m1 AS MATERIALIZED (
        SELECT min(lpad((1000000000000000 - rel)::VARCHAR, 16, '0')
                   || '#' || lpad(vec_id::VARCHAR, 19, '0')) AS k
        FROM rel
      ),
      v1 AS MATERIALIZED (
        SELECT substring(k, 18)::BIGINT AS vid,
               (1000000000000000 - substring(k, 1, 16)::BIGINT)::BIGINT AS score
        FROM m1
      ),"""
        + ",".join(_mmr_stage(r) for r in range(2, _mmr_k + 1))
        + "\n      "
        + "\n      UNION ALL ".join(
            f"SELECT {r}::BIGINT AS step, v.vid AS vec_id, r.rel,"
            f" (r.rel - v.score)::BIGINT AS max_sim, v.score"
            f" FROM v{r} v JOIN rel r ON r.vec_id = v.vid"
            for r in range(1, _mmr_k + 1)
        )
    )

    # interpolation replay: the engine's union+window as-of device
    # becomes two DuckDB ASOF joins (next = ASOF on the negated axis);
    # integer-cent numerator, one double division, round 6
    o["q_interpolate"] = """
      WITH obs AS MATERIALIZED (
        SELECT event_type AS series,
               epoch_us(ts) // 1000000 AS e,
               min(round(value * 100)::BIGINT) AS vc
        FROM events WHERE event_id % 29 = 0 GROUP BY 1, 2
      ),
      bounds AS (
        SELECT series, ((min(e) + 3599) // 3600) * 3600 AS lo,
               (max(e) // 3600) * 3600 AS hi
        FROM obs GROUP BY series
      ),
      grid AS (
        SELECT series, unnest(range(lo, hi + 1, 3600)) AS tick
        FROM bounds WHERE hi >= lo
      ),
      nobs AS MATERIALIZED (SELECT series, -e AS ne_neg, e, vc FROM obs),
      prev AS (
        SELECT g.series, g.tick, o.e AS pe, o.vc AS pv
        FROM grid g ASOF LEFT JOIN obs o
          ON g.series = o.series AND g.tick >= o.e
      ),
      nxt AS (
        SELECT g.series, g.tick, o.e AS ne, o.vc AS nv
        FROM grid g ASOF LEFT JOIN nobs o
          ON g.series = o.series AND -g.tick >= o.ne_neg
      )
      SELECT p.series, p.tick,
             round(CASE WHEN p.pe = n.ne THEN p.pv / 100.0
                        ELSE (p.pv * (n.ne - p.tick) + n.nv * (p.tick - p.pe))
                             / (100.0 * (n.ne - p.pe)) END, 6) AS value,
             CASE WHEN p.pe = n.ne THEN 'exact' ELSE 'interp' END AS kind
      FROM prev p JOIN nxt n USING (series, tick)
      WHERE p.pe IS NOT NULL AND n.ne IS NOT NULL
    """

    # k-anonymity replay: level-0 aggregate + two re-aggregations, the
    # same CASE ladder; suppressed groups carry the -1 sentinel
    o["q_kanon"] = """
      WITH g0 AS (
        SELECT lang, source,
               least(9, n_chars // 100)::BIGINT AS len_decile,
               count(*)::BIGINT AS n0
        FROM documents GROUP BY 1, 2, 3
      ),
      g1 AS (SELECT lang, source, sum(n0)::BIGINT AS n1 FROM g0 GROUP BY 1, 2),
      g2 AS (SELECT lang, sum(n1)::BIGINT AS n2 FROM g1 GROUP BY 1)
      SELECT g0.lang, g0.source, g0.len_decile, g0.n0,
             (CASE WHEN n0 >= 5 THEN 0 WHEN n1 >= 5 THEN 1
                   WHEN n2 >= 5 THEN 2 ELSE 3 END)::BIGINT AS level,
             (CASE WHEN n0 >= 5 THEN n0 WHEN n1 >= 5 THEN n1
                   WHEN n2 >= 5 THEN n2 ELSE -1 END)::BIGINT AS anon_n
      FROM g0 JOIN g1 USING (lang, source) JOIN g2 USING (lang)
    """

    # functional-conflict replay: same distinct + (pred, subj) counts,
    # one exact-integer division for functionality, bounded obj sample
    # via list_sort + list_slice (the conflict filter makes the full
    # sample table cheap at oracle scale)
    # TransE-protocol KG completion eval: integer L1 scores of
    # hash-derived vectors, rank by (score, candidate), MRR via
    # micro-quantized reciprocal ranks
    o["q_kg_completion"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      preds AS (SELECT doc_id, pos, tok FROM toks WHERE tok IN ({_PREDW})),
      tri0 AS ({_TRI_SELECT}),
      facts0 AS (SELECT DISTINCT subj AS h, pred AS r, obj AS t FROM tri0),
      facts AS (
        SELECT h, r, t FROM facts0
        WHERE ('0x' || substr(md5(h || '#' || r || '#' || t), 1, 4))::INTEGER
                % 10 = 0
      ),
      ents AS (
        SELECT DISTINCT e FROM (
          SELECT subj AS e FROM tri0 UNION SELECT obj AS e FROM tri0
        )
      ),
      dims AS (SELECT u.i FROM unnest(range(16)) AS u(i)),
      fan AS (SELECT f.h, f.r, f.t, ents.e, dims.i FROM facts f, ents, dims),
      scores AS (
        SELECT h, r, t, e,
               sum(abs(
                 (('0x' || substr(md5(h || '#' || i::VARCHAR), 1, 4))::INTEGER
                    % 17 - 8)
                 + (('0x' || substr(md5(r || '#' || i::VARCHAR), 1, 4))::INTEGER
                      % 17 - 8)
                 - (('0x' || substr(md5(e || '#' || i::VARCHAR), 1, 4))::INTEGER
                      % 17 - 8)
               ))::BIGINT AS score
        FROM fan GROUP BY h, r, t, e
      ),
      ranked AS (
        SELECT h, r, t, e,
               row_number() OVER (PARTITION BY h, r, t ORDER BY score, e) AS rnk
        FROM scores
        QUALIFY e = t
      ),
      ne AS (SELECT count(*)::BIGINT AS n_entities FROM ents),
      agg AS (
        SELECT count(*)::BIGINT AS n_facts,
               sum(round(1000000.0 / rnk, 0)::BIGINT)::BIGINT AS rr_sum,
               sum((rnk <= 1)::BIGINT)::BIGINT AS h1,
               sum((rnk <= 3)::BIGINT)::BIGINT AS h3,
               sum((rnk <= 10)::BIGINT)::BIGINT AS h10
        FROM ranked
      )
      SELECT n_facts, n_entities,
             round(rr_sum::DOUBLE / n_facts / 1000000.0, 6) AS mrr,
             round(h1::DOUBLE / n_facts, 6) AS hits1,
             round(h3::DOUBLE / n_facts, 6) AS hits3,
             round(h10::DOUBLE / n_facts, 6) AS hits10
      FROM agg, ne
    """

    o["q_kg_conflicts"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      preds AS (SELECT doc_id, pos, tok FROM toks WHERE tok IN ({_PREDW})),
      tri0 AS ({_TRI_SELECT}),
      t AS MATERIALIZED (SELECT DISTINCT subj, pred, obj FROM tri0),
      counts AS (
        SELECT pred, subj, count(*)::BIGINT AS n_objs FROM t GROUP BY pred, subj
      ),
      fun AS (
        SELECT pred, count(*)::DOUBLE / sum(n_objs) AS functionality
        FROM counts GROUP BY pred
      ),
      conf AS (
        SELECT c.pred, f.functionality, c.subj, c.n_objs
        FROM counts c JOIN fun f USING (pred)
        WHERE f.functionality >= 0.3 AND c.n_objs > 1
      ),
      samp AS (
        SELECT pred, subj,
               array_to_string(
                 list_slice(list_sort(list(DISTINCT obj)), 1, 3), '|') AS objs
        FROM t GROUP BY pred, subj
      )
      SELECT c.pred, round(c.functionality, 6) AS functionality, c.subj,
             c.n_objs, s.objs
      FROM conf c JOIN samp s USING (pred, subj)
    """

    o["q_ktruss"] = (
        f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      e0 AS MATERIALIZED (
        SELECT DISTINCT a.surface AS a, b.surface AS b
        FROM mentsent a JOIN mentsent b
          ON a.doc_id = b.doc_id AND a.sent_id = b.sent_id AND a.surface < b.surface
      ),"""
        + ",".join(_truss_stage(r) for r in range(1, 4))
        + "\n      SELECT a, b, support FROM se3 WHERE support >= 2"
    )

    # quality-classifier replay: same fixed-point propensity weights
    # (per-million, Laplace-smoothed) + mean-≥-½ decision; HUGEINT sums
    # cast back to BIGINT
    o["q_quality_classifier"] = """
      WITH ltoks AS (
        SELECT doc_id, coalesce(lang, '') AS lang, u.tok
        FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
              FROM documents WHERE text IS NOT NULL AND text != '') u(doc_id, lang, tok)
        WHERE tok != ''
      ),
      counts AS (
        SELECT tok,
               sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS c_pos,
               count(*)::BIGINT AS c_all
        FROM ltoks WHERE doc_id % 2 = 0 GROUP BY tok
      ),
      w AS (
        SELECT tok, ((c_pos + 1) * 1000000 // (c_all + 2))::BIGINT AS w_ppm
        FROM counts
      ),
      prior AS (
        SELECT ((sum(c_pos) + 1) * 1000000 // (sum(c_all) + 2))::BIGINT
          AS prior_ppm FROM counts
      ),
      sc AS (
        SELECT t.doc_id, t.lang, p.prior_ppm,
               sum(coalesce(w.w_ppm, p.prior_ppm))::BIGINT AS score,
               count(*)::BIGINT AS n_tok
        FROM ltoks t LEFT JOIN w ON t.tok = w.tok CROSS JOIN prior p
        WHERE t.doc_id % 2 = 1 GROUP BY t.doc_id, t.lang, p.prior_ppm
      )
      SELECT CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS actual,
             CASE WHEN score >= prior_ppm * n_tok THEN 'en' ELSE 'other' END
               AS predicted,
             count(*)::BIGINT AS n_docs,
             (sum(score) // sum(n_tok))::BIGINT AS mean_score_ppm
      FROM sc GROUP BY 1, 2
    """

    # OHLC replay: identical packed (epoch_us, event_id, cents) lpad
    # keys, open/close sliced back out of min/max
    o["q_ohlc"] = """
      WITH e AS (
        SELECT event_type AS series,
               (epoch_us(ts) // 3600000000 * 3600)::BIGINT AS bucket,
               lpad(epoch_us(ts)::VARCHAR, 20, '0')
                 || lpad(event_id::VARCHAR, 10, '0')
                 || lpad(round(value * 100)::BIGINT::VARCHAR, 12, '0') AS k,
               round(value * 100)::BIGINT AS c
        FROM events
      )
      SELECT series, bucket,
             substring(min(k), 31, 12)::BIGINT AS open_c,
             max(c)::BIGINT AS high_c,
             min(c)::BIGINT AS low_c,
             substring(max(k), 31, 12)::BIGINT AS close_c,
             count(*)::BIGINT AS n,
             sum(c)::BIGINT AS sum_c
      FROM e GROUP BY series, bucket
    """

    # CUSUM replay: dense grid via range(), same integer n·S_i and the
    # same 19+12+1 packed argmax key
    o["q_cusum"] = """
      WITH cnt AS (
        SELECT event_type AS series,
               (epoch_us(ts) // 3600000000 * 3600)::BIGINT AS bucket,
               count(*)::BIGINT AS c
        FROM events GROUP BY 1, 2
      ),
      grid AS (
        SELECT series, unnest(range(min(bucket), max(bucket) + 1, 3600)) AS bucket
        FROM cnt GROUP BY series
      ),
      dense AS (
        SELECT g.series, g.bucket, coalesce(cnt.c, 0)::BIGINT AS c
        FROM grid g LEFT JOIN cnt ON g.series = cnt.series AND g.bucket = cnt.bucket
      ),
      walked AS (
        SELECT series, bucket,
               sum(c) OVER (PARTITION BY series ORDER BY bucket)::BIGINT AS pref,
               row_number() OVER (PARTITION BY series ORDER BY bucket)::BIGINT AS i
        FROM dense
      ),
      tot AS (
        SELECT series, max(i)::BIGINT AS n_buckets, max(pref)::BIGINT AS total
        FROM walked GROUP BY series
      ),
      keyed AS (
        SELECT w.series, t.n_buckets, t.total,
               w.pref * t.n_buckets - w.i * t.total AS s,
               w.bucket
        FROM walked w JOIN tot t USING (series)
      )
      SELECT series, n_buckets, total,
             (1000000000000000000
              - substring(min(k), 1, 19)::BIGINT)::BIGINT AS cusum_peak,
             substring(min(k), 20, 12)::BIGINT AS cp_bucket,
             (CASE WHEN substring(min(k), 32, 1) = '1' THEN 1 ELSE -1 END)::BIGINT
               AS side
      FROM (SELECT series, n_buckets, total,
                   lpad((1000000000000000000 - abs(s))::VARCHAR, 19, '0')
                     || lpad(bucket::VARCHAR, 12, '0')
                     || (CASE WHEN s >= 0 THEN '1' ELSE '0' END) AS k
            FROM keyed)
      GROUP BY series, n_buckets, total
    """

    # phrase-search replay: positional postings self-join on pos+1 over
    # the raw-split token positions (_TOKS keeps empty slots)
    _PH = sql_str_list(_PHRASES)
    _PH1 = sql_str_list(sorted({p.split(" ")[0] for p in _PHRASES}))
    _PH2 = sql_str_list(sorted({p.split(" ")[1] for p in _PHRASES}))
    o["q_phrase_search"] = f"""
      WITH {_TOKS},
      p1 AS (SELECT doc_id, pos, tok FROM toks WHERE tok IN ({_PH1})),
      p2 AS (SELECT doc_id, pos, tok FROM toks WHERE tok IN ({_PH2}))
      SELECT p1.tok || ' ' || p2.tok AS phrase, p1.doc_id,
             count(*)::BIGINT AS n_occ, min(p1.pos)::BIGINT AS first_pos
      FROM p1 JOIN p2 ON p1.doc_id = p2.doc_id AND p2.pos = p1.pos + 1
      WHERE p1.tok || ' ' || p2.tok IN ({_PH})
      GROUP BY 1, 2
    """

    # Spearman replay: doubled average ranks from each value-frequency
    # table (cumulative window over DISTINCT values, default frame =
    # unbounded..current on both engines), then the assortativity
    # exact-sums float chain
    o["q_spearman"] = """
      WITH pu AS (
        SELECT user_id, count(*)::BIGINT AS x,
               sum(round(value * 100)::BIGINT)::BIGINT AS y
        FROM events GROUP BY user_id
      ),
      cp AS (SELECT x, y FROM pu WHERE x IS NOT NULL AND y IS NOT NULL),
      fx AS (SELECT x, count(*)::BIGINT AS c FROM cp GROUP BY x),
      rx AS (SELECT x, (2 * (sum(c) OVER (ORDER BY x) - c) + c + 1)::BIGINT
               AS r_x FROM fx),
      fy AS (SELECT y, count(*)::BIGINT AS c FROM cp GROUP BY y),
      ry AS (SELECT y, (2 * (sum(c) OVER (ORDER BY y) - c) + c + 1)::BIGINT
               AS r_y FROM fy),
      j AS (SELECT r_x, r_y FROM cp JOIN rx USING (x) JOIN ry USING (y)),
      g AS (
        SELECT count(*)::BIGINT AS n,
               sum(r_x::HUGEINT)::DOUBLE AS sx, sum(r_y::HUGEINT)::DOUBLE AS sy,
               sum(r_x::HUGEINT * r_y::HUGEINT)::DOUBLE AS sxy,
               sum(r_x::HUGEINT * r_x::HUGEINT)::DOUBLE AS sxx,
               sum(r_y::HUGEINT * r_y::HUGEINT)::DOUBLE AS syy
        FROM j
      )
      SELECT n,
             coalesce(
               CASE WHEN (n::DOUBLE * sxx - sx * sx) > 0
                     AND (n::DOUBLE * syy - sy * sy) > 0
                    THEN round((n::DOUBLE * sxy - sx * sy)
                               / sqrt(n::DOUBLE * sxx - sx * sx)
                               / sqrt(n::DOUBLE * syy - sy * sy), 6)
               END, -9.9) AS rho
      FROM g
    """

    # kNN replay: same integer dots, same (dot desc, vec_id) top-5 and
    # the same packed (1e6−votes, label) vote argmax
    o["q_knn_classify"] = f"""
      WITH el AS MATERIALIZED (
        SELECT vec_id, label, u.i,
               round(embedding[u.i]::DOUBLE * 1000)::BIGINT AS q
        FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
      ),
      dots AS (
        SELECT qe.vec_id AS query_id, qe.label AS true_label,
               c.vec_id, c.label, sum(c.q * qe.q)::BIGINT AS dot
        FROM el c JOIN el qe ON c.i = qe.i
        WHERE qe.vec_id IN ({_QIDS}) AND c.vec_id != qe.vec_id
        GROUP BY 1, 2, 3, 4
      ),
      topk AS (
        SELECT * FROM (
          SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY dot DESC, vec_id ASC) AS rn
          FROM dots) WHERE rn <= 5
      ),
      votes AS (
        SELECT query_id, true_label, label, count(*)::BIGINT AS v
        FROM topk GROUP BY 1, 2, 3
      )
      SELECT query_id, true_label::BIGINT AS true_label,
             substring(min(k), 8, 6)::BIGINT AS pred_label,
             (1000000 - substring(min(k), 1, 7)::BIGINT)::BIGINT AS n_votes
      FROM (SELECT query_id, true_label,
                   lpad((1000000 - v)::VARCHAR, 7, '0')
                     || lpad(label::VARCHAR, 6, '0') AS k
            FROM votes)
      GROUP BY 1, 2
    """

    # MIME-sniff replay: payload hex = CASE-selected magic ‖ hex(text
    # bytes); longest match via the same lpad(len)‖mime argmax
    from ddaugner_spark.operators.multimodal import MAGIC_MIMES

    _MAGIC_VALUES = ", ".join(f"('{h}', '{m}')" for h, m in MAGIC_MIMES)
    _MAGIC_CASE = " ".join(
        f"WHEN {i} THEN '{h}'" for i, (h, _m) in enumerate(MAGIC_MIMES[:6])
    )
    o["q_mime_sniff"] = f"""
      WITH m(h, mime) AS (VALUES {_MAGIC_VALUES}),
      p AS (
        SELECT doc_id,
               (CASE (doc_id % 7) {_MAGIC_CASE} ELSE '' END)
                 || hex(text::BLOB) AS ph
        FROM documents WHERE text IS NOT NULL AND text != ''
      ),
      hits AS (
        SELECT p.doc_id,
               max(lpad((len(m.h) // 2)::VARCHAR, 2, '0') || m.mime) AS km
        FROM p JOIN m ON substring(p.ph, 1, len(m.h)) = m.h
        GROUP BY p.doc_id
      )
      SELECT coalesce(substring(h.km, 3), 'application/octet-stream') AS mime,
             count(*)::BIGINT AS n_docs,
             sum(len(p.ph) // 2)::BIGINT AS sum_bytes
      FROM p LEFT JOIN hits h USING (doc_id) GROUP BY 1
    """

    # golden-record replay: same synthetic record stack and the same
    # packed lpad(ts)‖lpad(rid)‖value latest-non-null argmax
    o["q_golden_record"] = """
      WITH recs AS (
        SELECT c_custkey AS cluster_id, c_custkey * 10 AS rid, 1 AS ts,
               c_name AS name, c_nationkey::BIGINT AS nationkey,
               round(c_acctbal * 100)::BIGINT AS acctbal_c
        FROM customer
        UNION ALL
        SELECT c_custkey, c_custkey * 10 + 1, 2, c_name || ' jr', NULL, NULL
        FROM customer WHERE c_custkey % 3 = 0
        UNION ALL
        SELECT c_custkey, c_custkey * 10 + 2, 0, NULL, c_nationkey::BIGINT,
               round(c_acctbal * 100)::BIGINT + 500
        FROM customer WHERE c_custkey % 5 = 0
      )
      SELECT cluster_id,
             substring(max(CASE WHEN name IS NOT NULL THEN
               lpad(ts::VARCHAR, 20, '0') || lpad(rid::VARCHAR, 12, '0') || name
               END), 33) AS name,
             substring(max(CASE WHEN nationkey IS NOT NULL THEN
               lpad(ts::VARCHAR, 20, '0') || lpad(rid::VARCHAR, 12, '0')
                 || nationkey::VARCHAR END), 33)::BIGINT AS nationkey,
             max(acctbal_c)::BIGINT AS acctbal_c,
             count(*)::BIGINT AS n_records,
             count(DISTINCT name)::BIGINT AS n_names
      FROM recs GROUP BY cluster_id
    """

    # type-confusion replay: position-keyed full outer of the naive and
    # dictionary mention sets, 'O' for the unmatched side
    o["q_type_confusion"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT}, {_NAIVE},
      p AS (SELECT DISTINCT doc_id, sent_id, start_idx, end_idx, tag FROM naive),
      g AS (SELECT DISTINCT doc_id, sent_id, start_idx, end_idx, tag
            FROM mentsent)
      SELECT coalesce(g.tag, 'O') AS gold_tag,
             coalesce(p.tag, 'O') AS pred_tag,
             count(*)::BIGINT AS n
      FROM p FULL OUTER JOIN g
        ON p.doc_id = g.doc_id AND p.sent_id = g.sent_id
       AND p.start_idx = g.start_idx AND p.end_idx = g.end_idx
      GROUP BY 1, 2
    """

    # bitext replay: same injected block anchors, df ≤ 12 rare filter,
    # cross-lingual pair aggregate
    o["q_bitext_mine"] = """
      WITH amp AS (
        SELECT doc_id, coalesce(lang, '') AS lang,
               text || ' ent' || (doc_id // 8)::VARCHAR
                    || ' ent' || ((doc_id + 4) // 8)::VARCHAR AS text
        FROM documents WHERE text IS NOT NULL AND text != ''
      ),
      dt AS (
        SELECT DISTINCT doc_id, lang, u.tok
        FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
              FROM amp) u(doc_id, lang, tok)
        WHERE tok != ''
      ),
      dfk AS (SELECT tok, count(*)::BIGINT AS df FROM dt GROUP BY tok),
      an AS (SELECT dt.doc_id, dt.lang, dt.tok
             FROM dt JOIN dfk USING (tok) WHERE dfk.df <= 12)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.lang AS lang_a, b.lang AS lang_b,
             count(*)::BIGINT AS n_shared
      FROM an a JOIN an b
        ON a.tok = b.tok AND a.doc_id < b.doc_id AND a.lang != b.lang
      GROUP BY 1, 2, 3, 4 HAVING count(*) >= 2
    """

    # 3-itemset replay: direct within-basket triple enumeration — the
    # engine's A-priori candidate pruning must be a pure optimization
    o["q_itemsets3"] = """
      WITH bk AS (
        SELECT DISTINCT l_orderkey AS bid, l_partkey AS item FROM lineitem
      )
      SELECT a.item AS pa, b.item AS pb, c.item AS pc,
             count(*)::BIGINT AS support
      FROM bk a
      JOIN bk b ON a.bid = b.bid AND a.item < b.item
      JOIN bk c ON a.bid = c.bid AND b.item < c.item
      GROUP BY 1, 2, 3 HAVING count(*) >= 2
    """

    # WL replay: degree seed labels + two unrolled md5 refinement
    # rounds, sorted neighbor multisets via list(ORDER BY)
    o["q_wl_refine"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      e0 AS MATERIALIZED (
        SELECT DISTINCT a.surface AS a, b.surface AS b
        FROM mentsent a JOIN mentsent b
          ON a.doc_id = b.doc_id AND a.sent_id = b.sent_id
         AND a.surface < b.surface
      ),
      sym AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
      l0 AS (SELECT a AS node, count(*)::VARCHAR AS lbl FROM sym GROUP BY a),
      s1 AS (
        SELECT s.a AS node,
               array_to_string(list(l.lbl ORDER BY l.lbl), ',') AS sig
        FROM sym s JOIN l0 l ON l.node = s.b GROUP BY s.a
      ),
      l1 AS (SELECT l0.node, md5(l0.lbl || '|' || s1.sig) AS lbl
             FROM l0 JOIN s1 USING (node)),
      s2 AS (
        SELECT s.a AS node,
               array_to_string(list(l.lbl ORDER BY l.lbl), ',') AS sig
        FROM sym s JOIN l1 l ON l.node = s.b GROUP BY s.a
      ),
      l2 AS (SELECT l1.node, md5(l1.lbl || '|' || s2.sig) AS lbl
             FROM l1 JOIN s2 USING (node))
      SELECT lbl AS wl_label, count(*)::BIGINT AS n_nodes
      FROM l2 GROUP BY 1
    """

    # blocking-quality replay: the same typo amplifier, blocked
    # candidate join, truth projection and single-division metrics
    o["q_blocking_quality"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      surf AS (SELECT surface, tag, count(*)::BIGINT AS n_mentions
               FROM mentsent GROUP BY 1, 2),
      var AS (SELECT substring(surface, 1, 1) || substring(surface, 3)
                       AS surface, tag, 1::BIGINT AS n_mentions
              FROM surf WHERE len(surface) >= 4),
      amp AS (SELECT surface, tag FROM
              (SELECT surface, tag FROM surf
               UNION ALL SELECT surface, tag FROM var)
              GROUP BY 1, 2),
      cand AS (
        SELECT l.tag, least(l.surface, r.surface) AS a,
               greatest(l.surface, r.surface) AS b
        FROM amp l JOIN amp r
          ON l.tag = r.tag
         AND lower(substring(l.surface, 1, 1)) = lower(substring(r.surface, 1, 1))
         AND l.surface < r.surface
         AND abs(len(l.surface) - len(r.surface)) <= 2
         AND levenshtein(l.surface, r.surface) <= 2
      ),
      truth AS (
        SELECT DISTINCT tag,
               least(surface, substring(surface, 1, 1) || substring(surface, 3))
                 AS a,
               greatest(surface, substring(surface, 1, 1) || substring(surface, 3))
                 AS b
        FROM surf WHERE len(surface) >= 4
      ),
      ns AS (SELECT tag, count(*)::BIGINT AS n_surfaces FROM amp GROUP BY tag),
      nt AS (SELECT tag, count(*)::BIGINT AS n_truth FROM truth GROUP BY tag),
      nc AS (SELECT tag, count(*)::BIGINT AS n_cand FROM cand GROUP BY tag),
      nh AS (SELECT c.tag, count(*)::BIGINT AS n_hit
             FROM cand c JOIN truth t USING (tag, a, b) GROUP BY c.tag)
      SELECT ns.tag, ns.n_surfaces,
             coalesce(nt.n_truth, 0)::BIGINT AS n_truth,
             coalesce(nc.n_cand, 0)::BIGINT AS n_cand,
             coalesce(nh.n_hit, 0)::BIGINT AS n_hit,
             coalesce(CASE WHEN coalesce(nt.n_truth, 0) > 0 THEN
               round(coalesce(nh.n_hit, 0) / nt.n_truth, 6) END, -1.0) AS pc,
             coalesce(CASE WHEN ns.n_surfaces * (ns.n_surfaces - 1) // 2 > 0 THEN
               round(1.0 - coalesce(nc.n_cand, 0)
                     / (ns.n_surfaces * (ns.n_surfaces - 1) // 2), 6) END,
               -1.0) AS rr
      FROM ns LEFT JOIN nt USING (tag) LEFT JOIN nc USING (tag)
              LEFT JOIN nh USING (tag)
    """

    # EWMA replay: identical integer contributions c·2^(15−j) fanned to
    # future grid ticks, one division by 2^16
    o["q_ewma"] = """
      WITH cnt AS (
        SELECT event_type AS series,
               (epoch_us(ts) // 3600000000 * 3600)::BIGINT AS bucket,
               count(*)::BIGINT AS c
        FROM events GROUP BY 1, 2
      ),
      grid AS (
        SELECT series, unnest(range(min(bucket), max(bucket) + 1, 3600))
                 AS bucket
        FROM cnt GROUP BY series
      ),
      contrib AS (
        SELECT series, bucket + j.j * 3600 AS bucket,
               c * (1::BIGINT << (15 - j.j)) AS w
        FROM cnt, unnest(range(0, 16)) AS j(j)
      ),
      num AS (SELECT series, bucket, sum(w)::BIGINT AS ewma_num
              FROM contrib GROUP BY 1, 2)
      SELECT g.series, g.bucket,
             coalesce(n.ewma_num, 0)::BIGINT AS ewma_num,
             round(coalesce(n.ewma_num, 0) / 65536.0, 6) AS ewma
      FROM grid g LEFT JOIN num n USING (series, bucket)
    """

    # l-diversity replay: same classes, same packed dominant-value key
    o["q_l_diversity"] = """
      WITH cl AS (
        SELECT source, least(9, n_chars // 100)::BIGINT AS len_decile,
               coalesce(lang, '') AS lang, count(*)::BIGINT AS nl
        FROM documents GROUP BY 1, 2, 3
      ),
      keyed AS (
        SELECT source, len_decile, nl,
               lpad((1000000000000 - nl)::VARCHAR, 13, '0') || lang AS k
        FROM cl
      )
      SELECT source, len_decile, sum(nl)::BIGINT AS n,
             count(*)::BIGINT AS l_distinct,
             substring(min(k), 14) AS top_sensitive,
             (1000000000000 - substring(min(k), 1, 13)::BIGINT)::BIGINT
               AS top_n,
             count(*) >= 3 AS diverse
      FROM keyed GROUP BY 1, 2
    """

    # BPE-encode replay: the training stages verbatim (_bpe_head), then
    # the final word table's segmentation instead of the merge rows
    o["q_bpe_encode"] = (
        _bpe_head
        + f"""
      SELECT word, freq, array_to_string(toks, ' ') AS encoded,
             len(toks)::BIGINT AS n_symbols
      FROM v{_bpe_n}
    """
    )

    # transitive-reduction replay: recursive-CTE closure, composed once,
    # anti-joined against the edge set
    o["q_transitive_reduction"] = """
      WITH d AS (SELECT DISTINCT (doc_id % 200)::BIGINT AS i
                 FROM documents WHERE doc_id % 200 >= 1),
      tree AS (SELECT 't' || i::VARCHAR AS src,
                      't' || ((i - 1) // 3)::VARCHAR AS dst FROM d),
      short AS (SELECT 't' || i::VARCHAR AS src,
                       't' || (((i - 1) // 3 - 1) // 3)::VARCHAR AS dst
                FROM d WHERE i % 4 = 0 AND (i - 1) // 3 >= 1),
      e AS (SELECT DISTINCT src, dst FROM
            (SELECT * FROM tree UNION ALL SELECT * FROM short)),
      clo AS (
        WITH RECURSIVE c AS (
          SELECT src, dst, 1 AS d FROM e
          UNION
          SELECT c.src, e.dst, c.d + 1 FROM c JOIN e ON c.dst = e.src
          WHERE c.d < 8
        )
        SELECT DISTINCT src, dst FROM c
      ),
      two AS (SELECT DISTINCT x.src, y.dst
              FROM clo x JOIN clo y ON x.dst = y.src)
      SELECT e.src, e.dst
      FROM e LEFT JOIN two ON e.src = two.src AND e.dst = two.dst
      WHERE two.src IS NULL
    """

    # contrastive-pair replay: same chunk grid, successor-chunk
    # positive, lead-over-chunk-position negative
    o["q_contrastive_pairs"] = """
      WITH tl AS (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents WHERE coalesce(text, '') != ''),
      ch AS (
        SELECT doc_id, (s.s // 32)::BIGINT AS chunk_id,
               least(64, len(t) - s.s)::BIGINT AS n_tok
        FROM tl, unnest(range(0, len(t), 32)) AS s(s)
      ),
      neg AS (
        SELECT doc_id, chunk_id, n_tok,
               lead(doc_id) OVER (PARTITION BY chunk_id ORDER BY doc_id)
                 AS neg_doc_id,
               lead(n_tok) OVER (PARTITION BY chunk_id ORDER BY doc_id)
                 AS neg_tokens
        FROM ch
      ),
      pos AS (
        SELECT doc_id, chunk_id - 1 AS chunk_id,
               chunk_id AS pos_chunk_id, n_tok AS pos_tokens
        FROM ch
      )
      SELECT n.doc_id, n.chunk_id, p.pos_chunk_id, n.neg_doc_id,
             n.n_tok AS anchor_tokens, p.pos_tokens, n.neg_tokens
      FROM neg n JOIN pos p USING (doc_id, chunk_id)
      WHERE n.neg_doc_id IS NOT NULL
    """

    # exact order-statistics replay: cumulative frequency over distinct
    # cents, conditional-min selection at the same k targets
    o["q_group_median"] = """
      WITH base AS (
        SELECT event_type AS series, round(value * 100)::BIGINT AS c
        FROM events
      ),
      freq AS (SELECT series, c, count(*)::BIGINT AS f
               FROM base GROUP BY 1, 2),
      cum AS (
        SELECT series, c,
               sum(f) OVER (PARTITION BY series ORDER BY c)::BIGINT AS cum
        FROM freq
      ),
      n AS (SELECT series, count(*)::BIGINT AS n FROM base GROUP BY series),
      j AS (
        SELECT cum.series, cum.c, cum.cum, n.n,
               (n.n + 1) // 2 AS k1, (n.n + 2) // 2 AS k2,
               (9 * n.n + 9) // 10 AS k90
        FROM cum JOIN n USING (series)
      ),
      sel AS (
        SELECT series, n,
               (min(CASE WHEN cum >= k1 THEN c END)
                + min(CASE WHEN cum >= k2 THEN c END))::BIGINT AS median2_c,
               min(CASE WHEN cum >= k90 THEN c END)::BIGINT AS p90_c
        FROM j GROUP BY series, n
      )
      SELECT series, n, median2_c, round(median2_c / 200.0, 6) AS median,
             p90_c
      FROM sel
    """

    # seasonal-naive replay: dense grid + two lag self-joins on the
    # common eval window, integer SAE sums
    o["q_seasonal_naive"] = """
      WITH cnt AS (
        SELECT event_type AS series,
               (epoch_us(ts) // 3600000000 * 3600)::BIGINT AS bucket,
               count(*)::BIGINT AS c
        FROM events GROUP BY 1, 2
      ),
      bounds AS (SELECT series, min(bucket) AS lo, max(bucket) AS hi
                 FROM cnt GROUP BY series),
      grid AS (SELECT series, unnest(range(lo, hi + 1, 3600)) AS bucket
               FROM bounds),
      dense AS (
        SELECT g.series, g.bucket, coalesce(cnt.c, 0)::BIGINT AS c
        FROM grid g LEFT JOIN cnt
          ON g.series = cnt.series AND g.bucket = cnt.bucket
      ),
      ev AS (
        SELECT d.series, d.c, s.c AS f_seasonal, p.c AS f_naive
        FROM dense d
        JOIN bounds b ON d.series = b.series
         AND d.bucket >= b.lo + 24 * 3600
        JOIN dense s ON d.series = s.series
         AND s.bucket = d.bucket - 24 * 3600
        JOIN dense p ON d.series = p.series
         AND p.bucket = d.bucket - 3600
      )
      SELECT series, count(*)::BIGINT AS n_eval,
             sum(abs(c - f_seasonal))::BIGINT AS sae_seasonal,
             sum(abs(c - f_naive))::BIGINT AS sae_naive,
             round(sum(abs(c - f_seasonal)) / count(*), 6) AS mae_seasonal,
             round(sum(abs(c - f_naive)) / count(*), 6) AS mae_naive
      FROM ev GROUP BY series
    """

    # streaming OHLC replay: the batch OHLC restricted to the windows
    # the final watermark closed, as in q_stream_event_counts
    o["q_stream_ohlc"] = """
      WITH mx AS (SELECT max(ts) AS m FROM events),
      e AS (
        SELECT event_type AS series,
               (epoch_us(ts) // 3600000000 * 3600)::BIGINT AS bucket,
               lpad(epoch_us(ts)::VARCHAR, 20, '0')
                 || lpad(event_id::VARCHAR, 10, '0')
                 || lpad(round(value * 100)::BIGINT::VARCHAR, 12, '0') AS k,
               round(value * 100)::BIGINT AS c
        FROM events
      )
      SELECT series, bucket,
             substring(min(k), 31, 12)::BIGINT AS open_c,
             max(c)::BIGINT AS high_c,
             min(c)::BIGINT AS low_c,
             substring(max(k), 31, 12)::BIGINT AS close_c,
             count(*)::BIGINT AS n,
             sum(c)::BIGINT AS sum_c
      FROM e, mx
      WHERE (bucket + 3600) * 1000000 <= epoch_us(m) - 7200000000
      GROUP BY series, bucket
    """

    # vocab-growth replay: per-token min source index, then
    # dimension-sized cumulative windows
    o["q_vocab_growth"] = """
      WITH ltoks AS (
        SELECT cast(substring(source, 4) AS BIGINT) AS src_idx, u.tok
        FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
              FROM documents WHERE text IS NOT NULL AND text != '')
             u(source, tok)
        WHERE tok != ''
      ),
      fi AS (SELECT tok, min(src_idx) AS src_idx FROM ltoks GROUP BY tok),
      nt AS (SELECT src_idx, count(*)::BIGINT AS new_tokens
             FROM fi GROUP BY src_idx),
      nd AS (SELECT cast(substring(source, 4) AS BIGINT) AS src_idx,
                    count(*)::BIGINT AS n_docs
             FROM documents GROUP BY 1)
      SELECT nd.src_idx,
             sum(nd.n_docs) OVER (ORDER BY nd.src_idx)::BIGINT AS n_docs_cum,
             coalesce(nt.new_tokens, 0)::BIGINT AS new_tokens,
             sum(coalesce(nt.new_tokens, 0))
               OVER (ORDER BY nd.src_idx)::BIGINT AS vocab_cum
      FROM nd LEFT JOIN nt USING (src_idx)
    """

    # novelty replay: per-doc-distinct 5-gram shingles, train side
    # collapsed to a distinct dimension, one left join
    o["q_ngram_novelty"] = """
      WITH ct AS (SELECT doc_id, coalesce(lang, '') AS lang,
                         string_split(text, ' ') AS t
                  FROM documents WHERE text IS NOT NULL AND text != ''),
      sh AS (
        SELECT DISTINCT doc_id, lang,
               array_to_string(t[i:i+4], ' ') AS shingle
        FROM ct, unnest(range(1, len(t) - 3)) AS u(i)
        WHERE len(t) >= 5
      ),
      tr AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 2 = 0),
      ev AS (SELECT * FROM sh WHERE doc_id % 2 = 1)
      SELECT ev.lang, count(DISTINCT ev.doc_id)::BIGINT AS n_docs,
             count(*)::BIGINT AS n_ngrams,
             sum(CASE WHEN tr.shingle IS NULL THEN 1 ELSE 0 END)::BIGINT
               AS n_novel,
             round(sum(CASE WHEN tr.shingle IS NULL THEN 1 ELSE 0 END)
                   / count(*), 6) AS novelty
      FROM ev LEFT JOIN tr USING (shingle) GROUP BY ev.lang
    """

    # OPTIONAL/NOT-EXISTS replay over the same distinct triple table
    o["q_kg_optional"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      preds AS (SELECT doc_id, pos, tok FROM toks WHERE tok IN ({_PREDW})),
      tri0 AS ({_TRI_SELECT}),
      t AS (SELECT DISTINCT subj, pred, obj FROM tri0),
      req AS (SELECT subj AS x, obj AS y FROM t WHERE pred = 'group'),
      opt AS (SELECT subj AS x, min(obj) AS z_min, count(*)::BIGINT AS n_z
              FROM t WHERE pred = 'filter' GROUP BY subj),
      neg AS (SELECT DISTINCT subj AS x FROM t WHERE pred = 'order')
      SELECT r.x, r.y, o2.z_min, coalesce(o2.n_z, 0)::BIGINT AS n_z
      FROM req r LEFT JOIN opt o2 USING (x)
      WHERE r.x NOT IN (SELECT x FROM neg)
    """

    # ACF replay: identical bucket/spine/mean/deviation chain; lag
    # numerators via the same b2 = b + lag self-join of the deviation
    # table (floor() on both engines — DuckDB's double→BIGINT cast
    # rounds while Spark's truncates)
    o["q_acf"] = """
      WITH counts AS (
        SELECT floor(epoch_us(ts) / 3600000000)::BIGINT AS b,
               count(*)::BIGINT AS x
        FROM events GROUP BY 1
      ),
      rng AS (SELECT min(b) AS lo, max(b) AS hi FROM counts),
      spine AS (SELECT unnest(range(lo, hi + 1))::BIGINT AS b FROM rng),
      filled AS (SELECT s.b, coalesce(c.x, 0)::DOUBLE AS x
                 FROM spine s LEFT JOIN counts c USING (b)),
      m AS (SELECT avg(x) AS m, count(*)::BIGINT AS n FROM filled),
      dev AS (SELECT b, x - m.m AS d FROM filled, m),
      den AS (SELECT sum(d * d) AS den FROM dev),
      lags AS (SELECT unnest(range(1, 7))::BIGINT AS lag)
      SELECT l.lag, m.n AS n_buckets,
             round(sum(d1.d * d2.d) / max(den.den), 6) AS r
      FROM lags l
      CROSS JOIN dev d1
      JOIN dev d2 ON d2.b = d1.b + l.lag
      CROSS JOIN den CROSS JOIN m
      GROUP BY l.lag, m.n
    """

    # PACF replay: the q_acf subquery pivoted to one row, then the
    # Durbin–Levinson levels generated with the engine's exact
    # associativity (φ_kk recomputed inline per update, same both
    # sides)
    def _pacf_levels(max_lag):
        ctes = [
            "base AS (SELECT "
            + ", ".join(
                f"max(CASE WHEN lag = {k} THEN r END) AS r{k}"
                for k in range(1, max_lag + 1)
            )
            + " FROM acf)",
            "l1 AS (SELECT *, r1 AS p1_1 FROM base)",
        ]
        for k in range(2, max_lag + 1):
            num = f"r{k} - (" + " + ".join(
                f"p{k-1}_{j} * r{k-j}" for j in range(1, k)
            ) + ")"
            den = "1.0 - (" + " + ".join(
                f"p{k-1}_{j} * r{j}" for j in range(1, k)
            ) + ")"
            phi = (
                f"CASE WHEN ({den}) != 0 THEN ({num}) / ({den})"
                " ELSE 0.0 END"
            )
            cols = [f"({phi}) AS p{k}_{k}"] + [
                f"p{k-1}_{j} - ({phi}) * p{k-1}_{k-j} AS p{k}_{j}"
                for j in range(1, k)
            ]
            ctes.append(
                f"l{k} AS (SELECT *, {', '.join(cols)} FROM l{k-1})"
            )
        return ",\n      ".join(ctes)

    o["q_pacf"] = f"""
      WITH acf AS (SELECT lag, r FROM ({o["q_acf"]})),
      {_pacf_levels(6)}
      {" UNION ALL ".join(
          f"SELECT {k}::BIGINT AS lag, round(p{k}_{k}, 6) AS pacf FROM l6"
          for k in range(1, 7)
      )}
    """

    # Lorenz replay: distinct-value grid, integer cumulative sums,
    # cross-multiplied decile cutoffs
    o["q_lorenz"] = """
      WITH base AS (
        SELECT n_chars::BIGINT AS v FROM documents
        WHERE n_chars IS NOT NULL
      ),
      cells AS (SELECT v, count(*)::BIGINT AS c FROM base GROUP BY v),
      cum AS (
        SELECT v,
          sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
            AND CURRENT ROW)::BIGINT AS cum_rows,
          sum(v * c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
            AND CURRENT ROW)::BIGINT AS cum_mass
        FROM cells
      ),
      tot AS (SELECT sum(c)::BIGINT AS nn, sum(v * c)::BIGINT AS mm
              FROM cells),
      deciles AS (SELECT unnest(range(1, 11))::BIGINT AS decile)
      SELECT d.decile,
        min(cum.v)::BIGINT AS cutoff,
        min_by(cum.cum_rows, cum.v)::BIGINT AS cum_rows,
        min_by(cum.cum_mass, cum.v)::BIGINT AS cum_mass,
        round(min_by(cum.cum_mass, cum.v)::DOUBLE / max(t.mm)::DOUBLE, 6)
          AS mass_share
      FROM deciles d CROSS JOIN cum CROSS JOIN tot t
      WHERE cum.cum_rows * 10 >= d.decile * t.nn
      GROUP BY d.decile
    """

    # spam-mass replay: the q_pagerank and q_ppr subqueries joined on
    # their ROUNDED ranks
    o["q_spam_mass"] = f"""
      WITH pr AS (SELECT entity, rank AS pr FROM ({o["q_pagerank"]})),
      tr AS (SELECT entity, rank AS tr FROM ({o["q_ppr"]}))
      SELECT pr.entity, pr.pr, coalesce(tr.tr, 0.0) AS tr,
        round(CASE WHEN pr.pr > 0
          THEN (pr.pr - coalesce(tr.tr, 0.0)) / pr.pr
          ELSE 0.0 END, 6) AS spam_mass
      FROM pr LEFT JOIN tr USING (entity)
    """

    # RBO replay: the katz/salsa subqueries, identical rank windows,
    # the same Python-computed p-power spine, quantized depth terms
    _rbo_spine = ", ".join(
        f"({d}, {0.9 ** (d - 1)!r})" for d in range(1, 21)
    )
    o["q_rbo"] = f"""
      WITH ka AS (SELECT node, katz AS score FROM ({o["q_katz"]})),
      sa AS (SELECT node, authority AS score FROM ({o["q_salsa"]})),
      ra AS (
        SELECT x, ra FROM (
          SELECT node AS x,
                 row_number() OVER (ORDER BY score DESC, node ASC)
                   ::BIGINT AS ra
          FROM ka) WHERE ra <= 20
      ),
      rb AS (
        SELECT x, rb FROM (
          SELECT node AS x,
                 row_number() OVER (ORDER BY score DESC, node ASC)
                   ::BIGINT AS rb
          FROM sa) WHERE rb <= 20
      ),
      mx AS (SELECT greatest(ra.ra, rb.rb)::BIGINT AS m
             FROM ra JOIN rb USING (x)),
      spine(d, pw) AS (VALUES {_rbo_spine}),
      terms AS (
        SELECT round(1000000000.0 * s.pw
                     * (count(m.m)::DOUBLE / s.d::DOUBLE), 0)::BIGINT
          AS tq
        FROM spine s LEFT JOIN mx m ON m.m <= s.d
        GROUP BY s.d, s.pw
      ),
      ni AS (SELECT count(*)::BIGINT AS n_items
             FROM (SELECT coalesce(ra.x, rb.x) AS x
                   FROM ra FULL JOIN rb ON ra.x = rb.x)),
      f AS (SELECT sum(tq)::BIGINT AS sq FROM terms)
      SELECT 20::BIGINT AS depth, ni.n_items,
        round((1.0 - 0.9) * (f.sq::DOUBLE / 1000000000.0), 6) AS rbo
      FROM ni, f
    """

    # AR(2) replay: the q_acf subquery pivoted, the closed-form fit
    # with phi expressions inlined into the variance ratio
    o["q_ar2"] = f"""
      WITH acf AS (SELECT lag, r FROM ({o["q_acf"]})),
      rr AS (SELECT max(CASE WHEN lag = 1 THEN r END) AS r1,
                    max(CASE WHEN lag = 2 THEN r END) AS r2 FROM acf)
      SELECT
        round(CASE WHEN 1.0 - r1 * r1 != 0
          THEN r1 * (1.0 - r2) / (1.0 - r1 * r1) ELSE 0.0 END, 6)
          AS phi1,
        round(CASE WHEN 1.0 - r1 * r1 != 0
          THEN (r2 - r1 * r1) / (1.0 - r1 * r1) ELSE 0.0 END, 6)
          AS phi2,
        round(1.0
          - (CASE WHEN 1.0 - r1 * r1 != 0
              THEN r1 * (1.0 - r2) / (1.0 - r1 * r1) ELSE 0.0 END) * r1
          - (CASE WHEN 1.0 - r1 * r1 != 0
              THEN (r2 - r1 * r1) / (1.0 - r1 * r1) ELSE 0.0 END) * r2,
          6) AS resid_var_ratio
      FROM rr
    """

    # capture–recapture replay: the md5 membership device, four
    # conditional counts, the Chapman-corrected estimate
    o["q_capture_recapture"] = """
      WITH g AS (
        SELECT count(*)::BIGINT AS true_n,
          sum((('0x' || substr(md5(doc_id::VARCHAR || '|cap_a'), 1, 4))
               ::UBIGINT % 100 < 50)::BIGINT)::BIGINT AS n1,
          sum((('0x' || substr(md5(doc_id::VARCHAR || '|cap_b'), 1, 4))
               ::UBIGINT % 100 < 50)::BIGINT)::BIGINT AS n2,
          sum(((('0x' || substr(md5(doc_id::VARCHAR || '|cap_a'), 1, 4))
                ::UBIGINT % 100 < 50)
               AND (('0x' || substr(md5(doc_id::VARCHAR || '|cap_b'),
                     1, 4))::UBIGINT % 100 < 50))::BIGINT)::BIGINT
            AS overlap
        FROM documents
      )
      SELECT n1, n2, overlap,
        round((n1 + 1)::DOUBLE * (n2 + 1)::DOUBLE
              / (overlap + 1)::DOUBLE - 1.0, 6) AS n_hat,
        true_n
      FROM g
    """

    # Ljung–Box replay: the q_acf subquery, quantized per-lag terms
    o["q_ljung_box"] = f"""
      WITH acf AS (SELECT lag, n_buckets, r FROM ({o["q_acf"]})),
      j AS (
        SELECT n_buckets::BIGINT AS n, lag,
          round(1000000000.0 * (r * r)
                / (n_buckets - lag)::DOUBLE, 0)::BIGINT AS tq
        FROM acf WHERE n_buckets > lag
      ),
      g AS (SELECT max(n)::BIGINT AS n, count(*)::BIGINT AS df,
                   sum(tq)::BIGINT AS sq FROM j)
      SELECT n, df,
        round(n::DOUBLE * (n + 2)::DOUBLE
              * (sq::DOUBLE / 1000000000.0), 6) AS q_stat
      FROM g
    """

    # Holt–Winters replay: fixed-point warm-up init, the recursion as
    # a recursive CTE with seven positional seasonal slots, l_t
    # inlined into b_t/s_t exactly as the engine writes them
    _hw_sp = "r.s[((nx.i - 1) % 7) + 1]"
    _hw_l = f"0.5 * (nx.x::DOUBLE - {_hw_sp}) + 0.5 * (r.l + r.b)"
    _hw_b = f"0.5 * (({_hw_l}) - r.l) + 0.5 * r.b"
    _hw_snew = f"0.5 * (nx.x::DOUBLE - ({_hw_l})) + 0.5 * {_hw_sp}"
    _hw_fit = f"r.l + r.b + {_hw_sp}"
    _hw_slist = "[" + ", ".join(
        f"CASE WHEN {j} = (nx.i - 1) % 7 THEN ({_hw_snew})"
        f" ELSE r.s[{j + 1}] END"
        for j in range(7)
    ) + "]"
    _hw_cols = (
        f"{_hw_l} AS l, {_hw_b} AS b, {_hw_slist} AS s,"
        f" ((nx.i - 1) % 7)::BIGINT AS season_idx,"
        f" {_hw_snew} AS seasonal, {_hw_fit} AS fitted"
    )
    _hw_l0 = "sx::DOUBLE / 7.0"
    _hw_s0 = "[" + ", ".join(
        f"wk[{j + 1}]::DOUBLE - {_hw_l0}" for j in range(7)
    ) + "]"
    o["q_holt_winters"] = f"""
      WITH RECURSIVE daily0 AS (
        SELECT ts::DATE AS dd,
               sum(round(value * 100, 0)::BIGINT)::BIGINT AS dc,
               count(*)::BIGINT AS dn
        FROM events GROUP BY 1
      ),
      idx AS (
        SELECT strftime(dd, '%Y-%m-%d') AS d,
               ((dc * 1000) // dn)::BIGINT AS x,
               row_number() OVER (ORDER BY strftime(dd, '%Y-%m-%d'))
                 ::BIGINT AS i
        FROM daily0
      ),
      init AS (
        SELECT sum(x)::BIGINT AS sx, list(x ORDER BY i) AS wk
        FROM idx WHERE i <= 7
      ),
      st AS (
        SELECT {_hw_l0} AS l, 0.0::DOUBLE AS b, {_hw_s0} AS s
        FROM init
      ),
      rec AS (
        SELECT nx.i, nx.d, nx.x, {_hw_cols}
        FROM idx nx, st r WHERE nx.i = 8
        UNION ALL
        SELECT nx.i, nx.d, nx.x, {_hw_cols}
        FROM rec r JOIN idx nx ON nx.i = r.i + 1
      )
      SELECT d, x, round(l, 6) AS level, round(b, 6) AS trend,
             season_idx, round(seasonal, 6) AS seasonal,
             round(fitted, 6) AS fitted
      FROM rec
    """

    # Croston replay: zero-filled day spine, the fold as a recursive
    # CTE with the new z/p inlined into the forecast (the holt device)
    o["q_croston"] = """
      WITH RECURSIVE daily AS (
        SELECT ts::DATE AS dd, count(*)::BIGINT AS dmd
        FROM events
        WHERE event_type = 'purchase' AND value >= 200.0
        GROUP BY 1
      ),
      rng AS (SELECT min(ts::DATE) AS lo, max(ts::DATE) AS hi
              FROM events),
      spine AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE
          AS dd
        FROM rng
      ),
      idx AS (
        SELECT strftime(s.dd, '%Y-%m-%d') AS d,
               coalesce(da.dmd, 0)::BIGINT AS dmd,
               row_number() OVER (ORDER BY s.dd)::BIGINT AS i
        FROM spine s LEFT JOIN daily da USING (dd)
      ),
      rec AS (
        SELECT i, d, dmd,
          CASE WHEN dmd > 0 THEN dmd::DOUBLE ELSE 0.0 END::DOUBLE AS z,
          CASE WHEN dmd > 0 THEN 1.0 ELSE 0.0 END::DOUBLE AS p,
          (CASE WHEN dmd > 0 THEN 0 ELSE 1 END)::BIGINT AS q,
          (dmd > 0) AS started,
          CASE WHEN dmd > 0 THEN dmd::DOUBLE / 1.0 ELSE 0.0 END
            ::DOUBLE AS forecast
        FROM idx WHERE i = 1
        UNION ALL
        SELECT nx.i, nx.d, nx.dmd,
          CASE WHEN nx.dmd > 0 AND NOT r.started THEN nx.dmd::DOUBLE
               WHEN nx.dmd > 0 THEN 0.5 * nx.dmd::DOUBLE + 0.5 * r.z
               ELSE r.z END AS z,
          CASE WHEN nx.dmd > 0 AND NOT r.started
                 THEN (r.q + 1)::DOUBLE
               WHEN nx.dmd > 0 THEN 0.5 * (r.q + 1)::DOUBLE + 0.5 * r.p
               ELSE r.p END AS p,
          (CASE WHEN nx.dmd > 0 THEN 0 ELSE r.q + 1 END)::BIGINT AS q,
          (r.started OR nx.dmd > 0) AS started,
          CASE WHEN r.started OR nx.dmd > 0 THEN
            (CASE WHEN nx.dmd > 0 AND NOT r.started THEN nx.dmd::DOUBLE
                  WHEN nx.dmd > 0 THEN 0.5 * nx.dmd::DOUBLE + 0.5 * r.z
                  ELSE r.z END)
            / (CASE WHEN nx.dmd > 0 AND NOT r.started
                      THEN (r.q + 1)::DOUBLE
                    WHEN nx.dmd > 0
                      THEN 0.5 * (r.q + 1)::DOUBLE + 0.5 * r.p
                    ELSE r.p END)
          ELSE 0.0 END AS forecast
        FROM rec r JOIN idx nx ON nx.i = r.i + 1
      )
      SELECT d, dmd AS demand, round(z, 6) AS z, round(p, 6) AS p,
             round(forecast, 6) AS forecast
      FROM rec
    """

    # Hurst replay: fixed-point day means, exact-integer cumdev/range,
    # guarded per-window R/S quantization, micro-log OLS slope
    o["q_hurst"] = """
      WITH daily AS (
        SELECT ts::DATE AS d,
               sum(round(value * 100, 0)::BIGINT)::BIGINT AS dc,
               count(*)::BIGINT AS dn
        FROM events GROUP BY 1
      ),
      dm AS (SELECT d, (dc * 1000) // dn AS x FROM daily),
      d0 AS (SELECT min(d) AS d0 FROM dm),
      idx AS (SELECT date_diff('day', d0, d)::BIGINT AS i, x FROM dm, d0),
      ns AS (SELECT unnest([5, 10, 15, 30])::BIGINT AS n),
      rws AS (SELECT n, i // n AS chunk, i % n AS j, x FROM idx, ns),
      sums AS (
        SELECT n, chunk, count(*)::BIGINT AS cnt, sum(x)::BIGINT AS sx,
               sum(x * x)::BIGINT AS sxx
        FROM rws GROUP BY 1, 2 HAVING count(*) = n
      ),
      cum AS (
        SELECT n, chunk, j,
          sum(x) OVER (PARTITION BY n, chunk ORDER BY j
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
            AS cum
        FROM rws
      ),
      dev AS (
        SELECT c.n, c.chunk, s.sx, s.sxx,
               (c.n * c.cum - (c.j + 1) * s.sx)::BIGINT AS cd
        FROM cum c JOIN sums s ON s.n = c.n AND s.chunk = c.chunk
      ),
      per_chunk AS (
        SELECT n, chunk, max(sx)::BIGINT AS sx, max(sxx)::BIGINT AS sxx,
               (max(cd) - min(cd))::BIGINT AS rn
        FROM dev GROUP BY 1, 2
      ),
      rsq AS (
        SELECT n, (n * sxx - sx * sx)::BIGINT AS dd,
          (CASE WHEN n * sxx - sx * sx > 0
            THEN round(1000000000.0 * rn::DOUBLE
                       / sqrt((n * sxx - sx * sx)::DOUBLE), 0)
            ELSE 0.0 END)::BIGINT AS rsq
        FROM per_chunk
      ),
      per_n AS (
        SELECT n, count(*)::BIGINT AS cnt, sum(rsq)::BIGINT AS srs
        FROM rsq WHERE dd > 0 GROUP BY n
      ),
      pts AS (
        SELECT n, cnt,
          round(ln(n::DOUBLE) * 1e6, 0)::BIGINT AS xq,
          round(ln(srs::DOUBLE / (cnt::DOUBLE * 1000000000.0)) * 1e6,
                0)::BIGINT AS yq
        FROM per_n
      ),
      g AS (
        SELECT count(*)::BIGINT AS k, sum(cnt)::BIGINT AS n_windows,
               sum(xq)::BIGINT AS sxp, sum(yq)::BIGINT AS syp,
               sum(xq * xq)::BIGINT AS sxxp, sum(xq * yq)::BIGINT AS sxyp
        FROM pts
      )
      SELECT k AS n_sizes, coalesce(n_windows, 0)::BIGINT AS n_windows,
        round(CASE WHEN k * sxxp - sxp * sxp != 0
          THEN (k * sxyp - sxp * syp)::DOUBLE
               / (k * sxxp - sxp * sxp)::DOUBLE
          ELSE 0.0 END, 6) AS hurst
      FROM g
    """

    # rate-test replay: two conditional counts, one sqrt
    o["q_rate_test"] = """
      WITH g AS (
        SELECT
          sum((event_type = 'error'
               AND ts < TIMESTAMP '2024-01-16')::BIGINT)::BIGINT
            AS k_before,
          sum((event_type = 'error'
               AND ts >= TIMESTAMP '2024-01-16')::BIGINT)::BIGINT
            AS k_after
        FROM events
      )
      SELECT k_before, k_after,
        round(CASE WHEN k_before + k_after > 0
          THEN (k_before - k_after)::DOUBLE
               / sqrt((k_before + k_after)::DOUBLE)
          ELSE 0.0 END, 6) AS z,
        round(CASE WHEN k_after > 0
          THEN k_before::DOUBLE / k_after::DOUBLE
          ELSE 0.0 END, 6) AS rate_ratio
      FROM g
    """

    # LTV replay: integer cents cells, integer cumulative sums
    o["q_ltv"] = """
      WITH ev AS (
        SELECT user_id, date_trunc('week', ts) AS week,
               round(value * 100, 0)::BIGINT AS cents
        FROM events
      ),
      cohort AS (SELECT user_id, min(week) AS cw FROM ev GROUP BY 1),
      sizes AS (SELECT cw, count(*)::BIGINT AS cohort_size
                FROM cohort GROUP BY cw),
      cells AS (
        SELECT c.cw,
               (date_diff('day', c.cw, e.week) // 7)::BIGINT
                 AS week_offset,
               sum(e.cents)::BIGINT AS c
        FROM ev e JOIN cohort c USING (user_id)
        GROUP BY 1, 2
      ),
      cum AS (
        SELECT cw, week_offset,
          sum(c) OVER (PARTITION BY cw ORDER BY week_offset
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
            AS cum_cents
        FROM cells
      )
      SELECT strftime(cum.cw, '%Y-%m-%d') AS cohort_week,
             cum.week_offset, s.cohort_size, cum.cum_cents,
             round(cum.cum_cents::DOUBLE / 100.0
                   / s.cohort_size::DOUBLE, 6) AS ltv
      FROM cum JOIN sizes s USING (cw)
    """

    # sBG replay: first-cohort offsets, the closed-form fit with all
    # sub-expressions inlined in the engine's exact operation order
    _sbg_r = {
        t: f"(CASE WHEN n0 > 0 THEN n{t}::DOUBLE / n0::DOUBLE"
           " ELSE 0.0 END)"
        for t in (1, 2, 3, 4)
    }
    _sbg_den = f"({_sbg_r[1]} * {_sbg_r[1]} - {_sbg_r[2]})"
    _sbg_ok = f"(n0 > 0 AND {_sbg_den} != 0 AND {_sbg_r[1]} > 0)"
    _sbg_beta = (
        f"(CASE WHEN {_sbg_ok} THEN ({_sbg_r[2]} - {_sbg_r[1]})"
        f" * {_sbg_r[1]} / {_sbg_den} ELSE 0.0 END)"
    )
    _sbg_alpha = (
        f"(CASE WHEN {_sbg_ok} THEN {_sbg_beta} * (1.0 - {_sbg_r[1]})"
        f" / {_sbg_r[1]} ELSE 0.0 END)"
    )
    _sbg_r3p = (
        f"(CASE WHEN {_sbg_ok} THEN {_sbg_r[2]} * ({_sbg_beta} + 2.0)"
        f" / ({_sbg_alpha} + {_sbg_beta} + 2.0) ELSE 0.0 END)"
    )
    _sbg_r4p = (
        f"(CASE WHEN {_sbg_ok} THEN {_sbg_r[2]} * ({_sbg_beta} + 2.0)"
        f" / ({_sbg_alpha} + {_sbg_beta} + 2.0) * ({_sbg_beta} + 3.0)"
        f" / ({_sbg_alpha} + {_sbg_beta} + 3.0) ELSE 0.0 END)"
    )
    o["q_sbg"] = f"""
      WITH active AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS week
        FROM events
      ),
      w0 AS (SELECT min(week) AS w0 FROM active),
      cohort AS (
        SELECT user_id FROM (
          SELECT user_id, min(week) AS cw FROM active GROUP BY 1), w0
        WHERE cw = w0.w0
      ),
      offs AS (
        SELECT (date_diff('day', w0.w0, a.week) // 7)::BIGINT AS t,
               count(DISTINCT a.user_id)::BIGINT AS n
        FROM active a JOIN cohort USING (user_id), w0
        GROUP BY 1
      ),
      g AS (
        SELECT
          {", ".join(
            f"coalesce(max(CASE WHEN t = {t} THEN n END), 0)::BIGINT"
            f" AS n{t}"
            for t in range(5)
          )}
        FROM offs
      )
      SELECT n0,
        round({_sbg_r[1]}, 6) AS r1, round({_sbg_r[2]}, 6) AS r2,
        round({_sbg_alpha}, 6) AS alpha, round({_sbg_beta}, 6) AS beta,
        round({_sbg_r[3]}, 6) AS r3_obs, round({_sbg_r3p}, 6) AS r3_proj,
        round({_sbg_r[4]}, 6) AS r4_obs, round({_sbg_r4p}, 6) AS r4_proj
      FROM g
    """

    # HHI replay: exact integer Σc², one division
    o["q_hhi"] = """
      WITH g AS (
        SELECT source AS grp, count(*)::BIGINT AS c FROM documents
        WHERE source IS NOT NULL GROUP BY source
      ),
      tot AS (
        SELECT count(*)::BIGINT AS n_groups, sum(c)::BIGINT AS n_rows,
               sum(c * c)::BIGINT AS sq
        FROM g
      )
      SELECT n_groups, n_rows,
        round(CASE WHEN n_rows > 0
          THEN sq::DOUBLE / (n_rows::DOUBLE * n_rows::DOUBLE)
          ELSE 0.0 END, 6) AS hhi,
        round(CASE WHEN n_rows > 0 AND sq > 0
          THEN 1.0 / (sq::DOUBLE / (n_rows::DOUBLE * n_rows::DOUBLE))
          ELSE 0.0 END, 6) AS effective_groups
      FROM tot
    """

    # Theil replay: identical quantized ln terms at every fold level
    o["q_theil"] = """
      WITH base AS (
        SELECT source AS g, n_chars::BIGINT AS x FROM documents
        WHERE n_chars IS NOT NULL AND n_chars > 0
          AND source IS NOT NULL
      ),
      gstat AS (SELECT g, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx
                FROM base GROUP BY g),
      tot AS (SELECT sum(n)::BIGINT AS nn, sum(sx)::BIGINT AS xx
              FROM gstat),
      tw AS (
        SELECT b.g,
          sum(round(1000000000.0
                    * (b.x::DOUBLE / gs.sx::DOUBLE)
                    * ln(b.x::DOUBLE * gs.n::DOUBLE / gs.sx::DOUBLE),
                    0)::BIGINT)::BIGINT AS twq
        FROM base b JOIN gstat gs USING (g) GROUP BY b.g
      ),
      g2 AS (SELECT gs.g, gs.n, gs.sx, tw.twq, t.nn, t.xx
             FROM gstat gs JOIN tw USING (g), tot t),
      per AS (
        SELECT g, n, sx,
          round(sx::DOUBLE / xx::DOUBLE, 6) AS share,
          round(twq::DOUBLE / 1000000000.0, 6) AS t_within,
          round((sx::DOUBLE / xx::DOUBLE)
                * (twq::DOUBLE / 1000000000.0), 6) AS contrib,
          round(1000000000.0 * (sx::DOUBLE / xx::DOUBLE)
                * ln(sx::DOUBLE * nn::DOUBLE
                     / (n::DOUBLE * xx::DOUBLE)), 0)::BIGINT AS btq,
          round(1000000000.0 * (sx::DOUBLE / xx::DOUBLE)
                * (twq::DOUBLE / 1000000000.0), 0)::BIGINT AS ctq
        FROM g2
      ),
      trow AS (
        SELECT '__total__' AS g, sum(n)::BIGINT AS n,
               sum(sx)::BIGINT AS sx, 1.0 AS share,
               round((sum(btq) + sum(ctq))::DOUBLE / 1000000000.0, 6)
                 AS t_within,
               round(sum(btq)::DOUBLE / 1000000000.0, 6) AS contrib
        FROM per
      )
      SELECT g AS source, n, sx, share, t_within, contrib FROM per
      UNION ALL
      SELECT g AS source, n, sx, share, t_within, contrib FROM trow
    """

    # t-closeness replay: same fixed-width buckets, spine, and ordered
    # cumulative EMD; t_close compares the ROUNDED emd on both engines
    o["q_t_closeness"] = """
      WITH cl AS (
        SELECT event_type, greatest(0, least(9, floor(value / 5)))::BIGINT AS bucket,
               count(*)::BIGINT AS c
        FROM events GROUP BY 1, 2
      ),
      spine AS (
        SELECT t.event_type, u.bucket
        FROM (SELECT DISTINCT event_type FROM cl) t,
             (SELECT unnest(range(10))::BIGINT AS bucket) u
      ),
      filled AS (
        SELECT s.event_type, s.bucket, coalesce(cl.c, 0)::BIGINT AS c
        FROM spine s LEFT JOIN cl USING (event_type, bucket)
      ),
      tot AS (SELECT event_type, sum(c)::BIGINT AS n FROM filled GROUP BY 1),
      gmarg AS (SELECT bucket, sum(c)::BIGINT AS g FROM filled GROUP BY 1),
      gn AS (SELECT sum(g)::BIGINT AS gN FROM gmarg),
      cum AS (
        SELECT f.event_type, t.n,
               sum(f.c) OVER (PARTITION BY f.event_type ORDER BY f.bucket)
                 ::DOUBLE / t.n
               - sum(g.g) OVER (PARTITION BY f.event_type ORDER BY f.bucket)
                 ::DOUBLE / gn.gN AS cum_diff
        FROM filled f
        JOIN tot t USING (event_type)
        JOIN gmarg g USING (bucket)
        CROSS JOIN gn
      )
      SELECT event_type, max(n)::BIGINT AS n,
             round(sum(abs(cum_diff)) / 9, 6) AS emd,
             (round(sum(abs(cum_diff)) / 9, 6) <= 0.2) AS t_close
      FROM cum GROUP BY event_type
    """

    # naive-Bayes replay: identical Laplace-count arithmetic inside the
    # ln, identical rounding BEFORE the argmax, ties to the smaller lang
    o["q_naive_bayes"] = """
      WITH toks AS (
        SELECT doc_id, coalesce(lang, '') AS lang, token
        FROM (SELECT doc_id, lang,
                     unnest(string_split(coalesce(text, ''), ' ')) AS token
              FROM documents)
        WHERE token != ''
      ),
      test AS (
        SELECT doc_id, lang, token, count(*)::BIGINT AS n
        FROM toks WHERE doc_id % 2 = 1 GROUP BY 1, 2, 3
      ),
      tc AS (
        SELECT lang AS p_lang, token, count(*)::BIGINT AS c
        FROM toks WHERE doc_id % 2 = 0 GROUP BY 1, 2
      ),
      lt AS (SELECT p_lang, sum(c)::BIGINT AS ntok FROM tc GROUP BY 1),
      voc AS (SELECT count(DISTINCT token)::BIGINT AS V FROM tc),
      prior AS (
        SELECT coalesce(lang, '') AS p_lang, count(*)::BIGINT AS nd
        FROM documents WHERE doc_id % 2 = 0 GROUP BY 1
      ),
      dtot AS (SELECT count(*)::BIGINT AS D FROM documents WHERE doc_id % 2 = 0),
      fan AS (SELECT t.*, l.p_lang, l.ntok, voc.V FROM test t, lt l, voc),
      lik AS (
        SELECT f.doc_id, f.lang, f.p_lang,
               sum(f.n * ln((coalesce(tc.c, 0) + 1.0) / (f.ntok + f.V))) AS ll
        FROM fan f LEFT JOIN tc ON tc.p_lang = f.p_lang AND tc.token = f.token
        GROUP BY 1, 2, 3
      ),
      scored AS (
        SELECT l.doc_id, l.lang, l.p_lang,
               round(ln(p.nd::DOUBLE / dtot.D) + l.ll, 4) AS score
        FROM lik l JOIN prior p USING (p_lang) CROSS JOIN dtot
      )
      SELECT doc_id, lang AS true_lang, p_lang AS pred_lang, score
      FROM (SELECT *, row_number() OVER (
              PARTITION BY doc_id ORDER BY score DESC, p_lang ASC) AS rn
            FROM scored)
      WHERE rn = 1
    """

    # nDCG replay over the knn_classify integer-dot CTE chain; gain
    # terms are position-indexed constants
    o["q_ndcg"] = f"""
      WITH el AS MATERIALIZED (
        SELECT vec_id, label, u.i,
               round(embedding[u.i]::DOUBLE * 1000)::BIGINT AS q
        FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
      ),
      dots AS (
        SELECT qe.vec_id AS query_id,
               CASE WHEN c.label = qe.label THEN 1 ELSE 0 END::BIGINT AS rel,
               c.vec_id, sum(c.q * qe.q)::BIGINT AS dot
        FROM el c JOIN el qe ON c.i = qe.i
        WHERE qe.vec_id IN ({_QIDS}) AND c.vec_id != qe.vec_id
        GROUP BY 1, 2, 3
      ),
      ranked AS (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY dot DESC, vec_id ASC) AS rn
        FROM dots
      ),
      nrel AS (SELECT query_id, sum(rel)::BIGINT AS n_rel FROM dots GROUP BY 1),
      dcg AS (
        SELECT query_id, round(sum(rel / log2(rn + 1.0)), 6) AS dcg
        FROM ranked WHERE rn <= 10 GROUP BY 1
      ),
      idcg AS (
        SELECT n.query_id,
               CASE WHEN n.n_rel > 0 THEN round((
                 SELECT sum(1.0 / log2(i + 1.0))
                 FROM unnest(range(1, least(n.n_rel, 10) + 1)) AS u(i)
               ), 6) ELSE 0.0 END AS idcg
        FROM nrel n
      )
      SELECT n.query_id, n.n_rel, d.dcg, i.idcg,
             CASE WHEN i.idcg > 0 THEN round(d.dcg / i.idcg, 6)
                  ELSE 0.0 END AS ndcg
      FROM nrel n JOIN dcg d USING (query_id) JOIN idcg i USING (query_id)
    """

    # MRR replay: the q_ndcg ranking head, min relevant rank in the
    # top 10, one reciprocal
    o["q_mrr"] = f"""
      WITH el AS MATERIALIZED (
        SELECT vec_id, label, u.i,
               round(embedding[u.i]::DOUBLE * 1000)::BIGINT AS q
        FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
      ),
      dots AS (
        SELECT qe.vec_id AS query_id,
               CASE WHEN c.label = qe.label THEN 1 ELSE 0 END::BIGINT AS rel,
               c.vec_id, sum(c.q * qe.q)::BIGINT AS dot
        FROM el c JOIN el qe ON c.i = qe.i
        WHERE qe.vec_id IN ({_QIDS}) AND c.vec_id != qe.vec_id
        GROUP BY 1, 2, 3
      ),
      ranked AS (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY dot DESC, vec_id ASC) AS rn
        FROM dots
      ),
      agg AS (
        SELECT query_id, sum(rel)::BIGINT AS n_rel,
               coalesce(min(CASE WHEN rel = 1 AND rn <= 10 THEN rn END),
                        0)::BIGINT AS first_rel_rank
        FROM ranked GROUP BY 1
      )
      SELECT query_id, n_rel, first_rel_rank,
        CASE WHEN first_rel_rank > 0
          THEN round(1.0 / first_rel_rank::DOUBLE, 6) ELSE 0.0 END AS rr
      FROM agg
    """

    # literal Q9 form: 5-table WHERE-list join, profit with the
    # 0.6·retailprice·qty supplycost proxy (no partsupp in this corpus)
    o["q_product_profit"] = """
      SELECT n_name AS nation,
             year(l_shipdate)::BIGINT AS o_year,
             round(sum(l_extendedprice * (1 - l_discount)
                       - 0.6 * p_retailprice * l_quantity), 4) AS sum_profit
      FROM lineitem, part, supplier, nation
      WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
        AND s_nationkey = n_nationkey AND p_name LIKE 'red%'
      GROUP BY 1, 2
    """

    # literal Q19 form: three OR-ed AND-blocks
    o["q_disjunctive_revenue"] = """
      SELECT round(coalesce(sum(l_extendedprice * (1 - l_discount)), 0.0), 4)
               AS revenue,
             count(*)::BIGINT AS n_lines
      FROM lineitem, part
      WHERE l_partkey = p_partkey AND (
          (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30))
    """

    # FD profile replay: one (det, dep) count block per candidate pair,
    # ndv-equality exactness + the g3 kept-fraction, UNION ALL'd
    _fd_pairs = [
        ("event_id", "event_type"),
        ("user_id", "event_type"),
        ("event_type", "user_id"),
    ]
    o["q_fd_profile"] = "\nUNION ALL\n".join(
        f"""
      SELECT '{det}' AS determinant, '{dep}' AS dependent,
             sum(n_det)::BIGINT AS n_rows, count(*)::BIGINT AS ndv_det,
             sum(ndv_dep)::BIGINT AS ndv_pair,
             (sum(ndv_dep) = count(*)) AS exact_fd,
             round(sum(maxc) / sum(n_det), 6) AS g3_conf
      FROM (
        SELECT det_v, sum(c)::BIGINT AS n_det, max(c)::BIGINT AS maxc,
               count(*)::BIGINT AS ndv_dep
        FROM (SELECT {det}::VARCHAR AS det_v, {dep}::VARCHAR AS dep_v,
                     count(*)::BIGINT AS c
              FROM events GROUP BY 1, 2)
        GROUP BY det_v)
    """
        for det, dep in _fd_pairs
    )

    # lexicon-screen replay: the map-literal fold becomes explode +
    # LEFT JOIN + group; integer milli-weights make the sums order-free
    _lex_vals = ", ".join(f"('{w}', {m})" for w, m in _LEXICON.items())
    o["q_lexicon_screen"] = f"""
      WITH lex AS (SELECT * FROM (VALUES {_lex_vals}) l(word, wmil)),
      toks AS (
        SELECT doc_id, lower(t) AS w
        FROM (SELECT doc_id,
                     unnest(string_split(coalesce(text, ''), ' ')) AS t
              FROM documents)
        WHERE t != ''
      ),
      per AS (
        SELECT t.doc_id, count(*)::BIGINT AS n_tokens,
               count(l.word)::BIGINT AS n_hits,
               coalesce(sum(l.wmil), 0)::BIGINT AS smil
        FROM toks t LEFT JOIN lex l ON l.word = t.w
        GROUP BY 1
      )
      SELECT doc_id, n_tokens, n_hits, score,
             CASE WHEN score > 0 THEN 'pos'
                  WHEN score < 0 THEN 'neg'
                  ELSE 'neutral' END AS label
      FROM (
        SELECT d.doc_id, coalesce(p.n_tokens, 0)::BIGINT AS n_tokens,
               coalesce(p.n_hits, 0)::BIGINT AS n_hits,
               round(coalesce(p.smil, 0) / 1000.0, 3) AS score
        FROM documents d LEFT JOIN per p USING (doc_id))
    """

    # bootstrap replay: identical md5(id|b) uniform, identical
    # Poisson(1) inverse-CDF literals, identical division order
    _pc = "\n".join(
        f"         WHEN u < {t!r} THEN {k}"
        for k, t in enumerate(stats._POIS1_CDF)
    )
    o["q_bootstrap_ci"] = f"""
      WITH rows0 AS (SELECT event_id::VARCHAR AS id,
                            round(value * 100)::BIGINT AS c FROM events),
      reps AS (SELECT id, c, unnest(range(0, 64))::BIGINT AS b FROM rows0),
      uw AS (
        SELECT b, c,
               ('0x' || substr(md5(id || '|' || b::VARCHAR), 1, 12))
                 ::UBIGINT::DOUBLE / 281474976710656.0 AS u
        FROM reps
      ),
      ww AS (
        SELECT b, c,
               (CASE
{_pc}
                ELSE 6 END)::BIGINT AS w
        FROM uw
      ),
      bm AS (
        SELECT b,
               coalesce(round(sum(w * c)::DOUBLE / sum(w) / 100.0, 6), 0.0)
                 AS mean_b
        FROM ww GROUP BY b
      ),
      ranked AS (SELECT mean_b,
                        row_number() OVER (ORDER BY mean_b, b) AS rn
                 FROM bm),
      ci AS (SELECT min(CASE WHEN rn = 4 THEN mean_b END) AS ci_lo,
                    min(CASE WHEN rn = 61 THEN mean_b END) AS ci_hi
             FROM ranked),
      fullt AS (SELECT count(*)::BIGINT AS n_rows,
                       round(sum(c)::DOUBLE / count(*) / 100.0, 6) AS mean
                FROM rows0)
      SELECT n_rows, 64::BIGINT AS n_boot, mean, ci_lo, ci_hi
      FROM fullt, ci
    """

    # winsorize replay: same freq-table cumulative bounds (ceil via
    # integer DIV), same greatest/least clamp, same integer cents
    o["q_winsorize"] = """
      WITH base AS (SELECT event_type AS series,
                           round(value * 100)::BIGINT AS c FROM events),
      freq AS (SELECT series, c, count(*)::BIGINT AS f
               FROM base GROUP BY 1, 2),
      cum AS (SELECT series, c,
                     sum(f) OVER (PARTITION BY series ORDER BY c) AS cum
              FROM freq),
      nt AS (SELECT series, count(*)::BIGINT AS n FROM base GROUP BY 1),
      b AS (
        SELECT series, n,
               min(CASE WHEN cum >= (50 * n + 999) // 1000 THEN c END)
                 AS lo_c,
               min(CASE WHEN cum >= (950 * n + 999) // 1000 THEN c END)
                 AS hi_c
        FROM cum JOIN nt USING (series) GROUP BY 1, 2
      )
      SELECT b.series, b.n, b.lo_c, b.hi_c,
             round(sum(c)::DOUBLE / b.n / 100.0, 6) AS mean_raw,
             round(sum(greatest(lo_c, least(hi_c, c)))::DOUBLE
                   / b.n / 100.0, 6) AS mean_winsor,
             sum((c < lo_c OR c > hi_c)::BIGINT)::BIGINT AS n_clipped
      FROM base JOIN b USING (series)
      GROUP BY 1, 2, 3, 4
    """

    # IND replay: one distinct-set LEFT JOIN block per candidate pair
    _ind_pairs = [
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("customer", "c_custkey", "orders", "o_custkey"),
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
    ]
    o["q_ind_profile"] = "\nUNION ALL\n".join(
        f"""
      SELECT '{ft}.{fc}' AS from_col, '{tt}.{tc}' AS to_col,
             count(*)::BIGINT AS ndv_from,
             sum(CASE WHEN t.v IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
               AS n_covered,
             round(sum(CASE WHEN t.v IS NOT NULL THEN 1 ELSE 0 END)
                   / count(*), 6) AS coverage,
             (sum(CASE WHEN t.v IS NOT NULL THEN 1 ELSE 0 END) = count(*))
               AS is_ind
      FROM (SELECT DISTINCT {fc}::VARCHAR AS v FROM {ft}
            WHERE {fc} IS NOT NULL) f
      LEFT JOIN (SELECT DISTINCT {tc}::VARCHAR AS v FROM {tt}
                 WHERE {tc} IS NOT NULL) t USING (v)
    """
        for ft, fc, tt, tc in _ind_pairs
    )

    # Benford replay: identical integer-cents digit extraction,
    # identical Python-computed expected-probability literals
    # ::DOUBLE — DuckDB parses bare decimal literals as DECIMAL and the
    # χ² square overflows DECIMAL(38) at corpus scale
    _bexp = "\n".join(
        f"         WHEN {d} THEN {stats.BENFORD_P[d]!r}::DOUBLE"
        for d in range(1, 10)
    )
    o["q_benford"] = f"""
      WITH base AS (SELECT round(value * 100)::BIGINT AS c FROM events
                    WHERE round(value * 100)::BIGINT > 0),
      counts AS (
        SELECT substr(c::VARCHAR, 1, 1)::BIGINT AS digit,
               count(*)::BIGINT AS n
        FROM base GROUP BY 1
      ),
      tot AS (SELECT count(*)::BIGINT AS ntot FROM base),
      e AS (
        SELECT digit, n,
               CASE digit
{_bexp}
               END AS exp_raw
        FROM counts
      )
      SELECT digit, n,
             round(n / ntot, 6) AS obs_p,
             round(exp_raw, 6) AS exp_p,
             round((n - ntot * exp_raw) * (n - ntot * exp_raw)
                   / (ntot * exp_raw), 6) AS chi_term
      FROM e, tot
    """

    # DP-histogram replay: same md5 uniform (same 2^-48 clamp), same
    # Laplace inverse CDF with the noise rounded BEFORE the integer
    # post-processing
    o["q_dp_histogram"] = f"""
      WITH counts AS (SELECT event_type AS grp, count(*)::BIGINT AS n
                      FROM events GROUP BY 1),
      uu AS (
        SELECT grp, n,
               greatest(('0x' || substr(md5('dp|' || grp), 1, 12))
                          ::UBIGINT::DOUBLE / 281474976710656.0,
                        {2.0**-48!r}) AS u
        FROM counts
      ),
      nn AS (
        SELECT grp, n,
               round(-1.0 * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)), 6)
                 AS noise
        FROM uu
      )
      SELECT grp AS event_type, n, noise,
             greatest(0, n + round(noise)::BIGINT)::BIGINT AS released
      FROM nn
    """

    # paired-bootstrap replay: per-doc TP/NPRED/NGOLD stats from one
    # unioned long table, the md5(doc|b) Poisson device, and the exact
    # cross-multiplied win verdicts in HUGEINT
    _spankey_on = (
        "p.doc_id = g.doc_id AND p.sent_id = g.sent_id "
        "AND p.start_idx = g.start_idx AND p.end_idx = g.end_idx "
        "AND p.tag = g.tag"
    )
    o["q_paired_bootstrap"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT}, {_NAIVE},
      stat AS (
        SELECT doc_id,
               sum(CASE WHEN src = 'g' THEN 1 ELSE 0 END)::BIGINT AS ng,
               sum(CASE WHEN src = 'a' THEN 1 ELSE 0 END)::BIGINT AS na,
               sum(CASE WHEN src = 'b' THEN 1 ELSE 0 END)::BIGINT AS nb,
               sum(CASE WHEN src = 'ta' THEN 1 ELSE 0 END)::BIGINT AS ta,
               sum(CASE WHEN src = 'tb' THEN 1 ELSE 0 END)::BIGINT AS tb
        FROM (
          SELECT doc_id, 'g' AS src FROM mentsent
          UNION ALL SELECT doc_id, 'a' FROM naive
          UNION ALL SELECT doc_id, 'b' FROM naive WHERE tag = 'PER'
          UNION ALL
          SELECT p.doc_id, 'ta' FROM naive p JOIN mentsent g
            ON {_spankey_on}
          UNION ALL
          SELECT p.doc_id, 'tb' FROM naive p JOIN mentsent g
            ON {_spankey_on}
          WHERE p.tag = 'PER'
        ) GROUP BY doc_id
      ),
      reps AS (SELECT *, unnest(range(0, 64))::BIGINT AS b FROM stat),
      uw AS (
        SELECT *,
               ('0x' || substr(md5(doc_id::VARCHAR || '|' || b::VARCHAR),
                               1, 12))::UBIGINT::DOUBLE
                 / 281474976710656.0 AS u
        FROM reps
      ),
      ww AS (
        SELECT *,
               (CASE
{_pc}
                ELSE 6 END)::BIGINT AS w
        FROM uw
      ),
      per AS (
        SELECT b, sum(w * ng)::HUGEINT AS G, sum(w * na)::HUGEINT AS PA,
               sum(w * nb)::HUGEINT AS PB, sum(w * ta)::HUGEINT AS TA,
               sum(w * tb)::HUGEINT AS TB
        FROM ww GROUP BY b
      ),
      verdict AS (
        SELECT sum((TA * (PB + G) > TB * (PA + G))::BIGINT)::BIGINT
                 AS wins_a,
               sum((TB * (PA + G) > TA * (PB + G))::BIGINT)::BIGINT
                 AS wins_b,
               sum((TA * (PB + G) = TB * (PA + G))::BIGINT)::BIGINT
                 AS ties
        FROM per
      ),
      fullt AS (
        SELECT count(*)::BIGINT AS n_docs,
               sum(ng)::BIGINT AS sng, sum(na)::BIGINT AS sna,
               sum(nb)::BIGINT AS snb, sum(ta)::BIGINT AS sta,
               sum(tb)::BIGINT AS stb
        FROM stat
      )
      SELECT n_docs, 64::BIGINT AS n_boot,
             round(2 * sta / (sna + sng), 6) AS f1_a,
             round(2 * stb / (snb + sng), 6) AS f1_b,
             round(2 * sta / (sna + sng) - 2 * stb / (snb + sng), 6)
               AS delta,
             wins_a, wins_b, ties
      FROM fullt, verdict
    """

    # Mann-Whitney replay: identical doubled-rank/tie sums in HUGEINT,
    # identical float chain for variance and z
    o["q_mann_whitney"] = """
      WITH base AS (
        SELECT (event_type = 'click') AS is_a,
               round(value * 100)::BIGINT AS c
        FROM events WHERE event_type IN ('click', 'error')
      ),
      freq AS (SELECT c, count(*)::BIGINT AS cnt,
                      sum(is_a::BIGINT)::BIGINT AS cnt_a
               FROM base GROUP BY 1),
      rk AS (
        SELECT cnt, cnt_a,
               2 * (sum(cnt) OVER (ORDER BY c) - cnt) + cnt + 1 AS r2
        FROM freq
      ),
      g AS (
        SELECT sum(cnt_a)::BIGINT AS n_a,
               (sum(cnt) - sum(cnt_a))::BIGINT AS n_b,
               sum(cnt_a::HUGEINT * r2)::HUGEINT AS ra2,
               sum(cnt::HUGEINT * cnt * cnt - cnt)::HUGEINT AS tsum
        FROM rk
      ),
      s AS (
        SELECT n_a, n_b,
               ra2::DOUBLE - n_a::DOUBLE * (n_a::DOUBLE + 1.0) AS u1_2,
               (n_a::DOUBLE * n_b::DOUBLE / 12.0)
                 * ((n_a::DOUBLE + n_b::DOUBLE + 1.0)
                    - tsum::DOUBLE / ((n_a::DOUBLE + n_b::DOUBLE)
                                      * (n_a::DOUBLE + n_b::DOUBLE - 1.0)))
                 AS var
        FROM g
      )
      SELECT n_a, n_b,
             u1_2 / 2.0 AS u_a,
             (n_a::DOUBLE * n_b::DOUBLE) - u1_2 / 2.0 AS u_b,
             coalesce(round(CASE WHEN var > 0 THEN
               (u1_2 - n_a::DOUBLE * n_b::DOUBLE) / (2.0 * sqrt(var)) END,
               6), -9.9) AS z
      FROM s
    """

    # Kaplan-Meier replay: same integer-hour durations, same at-risk
    # window, same ordered product frame
    o["q_kaplan_meier"] = """
      WITH per AS (
        SELECT user_id, min(ts) AS fst, max(ts) AS lst,
               min(CASE WHEN event_type = 'purchase' AND value >= 400.0
                        THEN ts END) AS dth
        FROM events GROUP BY 1
      ),
      per2 AS (
        SELECT (epoch_us(coalesce(dth, lst)) - epoch_us(fst))
                 // 3600000000 AS t_h,
               (dth IS NOT NULL) AS obs
        FROM per
      ),
      tbl AS (SELECT t_h, sum(obs::BIGINT)::BIGINT AS d,
                     sum((NOT obs)::BIGINT)::BIGINT AS c
              FROM per2 GROUP BY 1),
      nt AS (SELECT count(*)::BIGINT AS n_users FROM per2),
      km AS (
        SELECT t_h, d, c,
               (n_users - coalesce(sum(d + c) OVER (ORDER BY t_h
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
                 ::BIGINT AS n_risk
        FROM tbl, nt
      )
      SELECT t_h, n_risk, d, c,
             round(product(1.0 - d / n_risk) OVER (ORDER BY t_h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
               AS survival
      FROM km
    """

    # SAX replay: fixed-point daily/PAA means, exact z moments,
    # literal breakpoints on the ROUNDED z
    o["q_sax"] = """
      WITH daily AS (
        SELECT event_type AS t, ts::DATE AS d,
               sum(round(value * 100, 0)::BIGINT)::BIGINT AS dc,
               count(*)::BIGINT AS dn
        FROM events GROUP BY 1, 2
      ),
      dm AS (SELECT t, d, (dc * 1000) // dn AS mv FROM daily),
      d0 AS (SELECT min(d) AS d0 FROM dm),
      seg AS (
        SELECT t, date_diff('day', d0, d) // 3 AS seg, mv FROM dm, d0
      ),
      paa AS (
        SELECT t, seg, (sum(mv) // count(*))::BIGINT AS paa_q
        FROM seg GROUP BY 1, 2
      ),
      mom AS (
        SELECT t, count(*)::BIGINT AS s, sum(paa_q)::BIGINT AS sp,
               sum(paa_q * paa_q)::BIGINT AS qp
        FROM paa GROUP BY t
      ),
      zz AS (
        SELECT p.t AS event_type, p.seg, p.paa_q,
          round(CASE WHEN m.s >= 2
                      AND (m.s * m.qp - m.sp * m.sp)::DOUBLE
                          / (m.s * (m.s - 1))::DOUBLE > 0
            THEN (p.paa_q::DOUBLE - m.sp::DOUBLE / m.s::DOUBLE)
                 / sqrt((m.s * m.qp - m.sp * m.sp)::DOUBLE
                        / (m.s * (m.s - 1))::DOUBLE)
            ELSE 0.0 END, 6) AS z
        FROM paa p JOIN mom m USING (t)
      )
      SELECT event_type, seg, paa_q, z,
        CASE WHEN z < -0.6745 THEN 'a' WHEN z < 0.0 THEN 'b'
             WHEN z < 0.6745 THEN 'c' ELSE 'd' END AS symbol
      FROM zz
    """

    # Fightin' Words replay: identical per-token fixed chains
    o["q_fightin_words"] = """
      WITH tw AS (
        SELECT lang AS grp,
               unnest(CASE WHEN coalesce(text, '') = ''
                          THEN []::VARCHAR[]
                          ELSE string_split(text, ' ') END) AS w
        FROM documents WHERE lang IN ('en', 'zh')
      ),
      cw AS (
        SELECT w,
          sum(CASE WHEN grp = 'en' THEN 1 ELSE 0 END)::BIGINT AS ya,
          sum(CASE WHEN grp = 'zh' THEN 1 ELSE 0 END)::BIGINT AS yb
        FROM tw GROUP BY w
      ),
      tot AS (SELECT sum(ya)::BIGINT AS na, sum(yb)::BIGINT AS nb,
                     sum(ya + yb)::BIGINT AS nn FROM cw),
      j AS (
        SELECT cw.w, cw.ya, cw.yb, t.na, t.nb,
               100.0 * (cw.ya + cw.yb)::DOUBLE / t.nn::DOUBLE AS aw
        FROM cw, tot t WHERE cw.ya + cw.yb >= 5
      )
      SELECT w AS token, ya AS cnt_a, yb AS cnt_b,
        round(ln((ya::DOUBLE + aw)
                 / (na::DOUBLE + 100.0 - ya::DOUBLE - aw))
              - ln((yb::DOUBLE + aw)
                   / (nb::DOUBLE + 100.0 - yb::DOUBLE - aw)), 6)
          AS delta,
        round((ln((ya::DOUBLE + aw)
                  / (na::DOUBLE + 100.0 - ya::DOUBLE - aw))
               - ln((yb::DOUBLE + aw)
                    / (nb::DOUBLE + 100.0 - yb::DOUBLE - aw)))
              / sqrt(1.0 / (ya::DOUBLE + aw)
                     + 1.0 / (yb::DOUBLE + aw)), 6) AS z
      FROM j
    """

    # Burrows' Delta replay: identical quantized frequencies, exact
    # BIGINT cross-group moments, quantized per-word pair terms
    o["q_burrows_delta"] = """
      WITH tw AS (
        SELECT source AS grp,
               unnest(CASE WHEN coalesce(text, '') = ''
                          THEN []::VARCHAR[]
                          ELSE string_split(text, ' ') END) AS w
        FROM documents
      ),
      cw AS (SELECT grp, w, count(*)::BIGINT AS cg FROM tw GROUP BY 1, 2),
      totals AS (SELECT grp, sum(cg)::BIGINT AS ng FROM cw GROUP BY grp),
      top AS (
        SELECT w FROM (
          SELECT w,
                 row_number() OVER (ORDER BY sum(cg) DESC, w ASC) AS r
          FROM cw GROUP BY w) WHERE r <= 30
      ),
      freq AS (
        SELECT t.grp, tp.w,
          round(1000000000.0 * coalesce(c.cg, 0)::DOUBLE / t.ng::DOUBLE,
                0)::BIGINT AS fq
        FROM totals t CROSS JOIN top tp
        LEFT JOIN cw c ON c.grp = t.grp AND c.w = tp.w
      ),
      mom AS (
        SELECT w, count(*)::BIGINT AS s, sum(fq)::BIGINT AS sf,
               sum(fq * fq)::BIGINT AS qf
        FROM freq GROUP BY w
      ),
      zs AS (
        SELECT f.grp, f.w,
          CASE WHEN (m.s * m.qf - m.sf * m.sf)::DOUBLE
                    / (m.s * (m.s - 1))::DOUBLE > 0
            THEN (f.fq::DOUBLE - m.sf::DOUBLE / m.s::DOUBLE)
                 / sqrt((m.s * m.qf - m.sf * m.sf)::DOUBLE
                        / (m.s * (m.s - 1))::DOUBLE)
            ELSE 0.0 END AS z
        FROM freq f JOIN mom m USING (w)
      ),
      pairs AS (
        SELECT a.grp AS source_a, b.grp AS source_b,
          sum(round(1000000.0 * abs(a.z - b.z), 0)::BIGINT)::BIGINT AS sq,
          count(*)::BIGINT AS nw
        FROM zs a JOIN zs b ON a.w = b.w AND a.grp < b.grp
        GROUP BY 1, 2
      )
      SELECT source_a, source_b,
        round(sq::DOUBLE / nw::DOUBLE / 1000000.0, 6) AS delta
      FROM pairs
    """

    # Shapley replay: identical per-user flags, exact-set coalition
    # stats, the SAME factorial-weight spine generated by the same
    # Python computation the engine uses, micro-quantized marginals
    import math as _math
    from itertools import combinations as _combos

    _shap_ch = ("click", "view", "signup")

    def _shap_bm(s):
        return "".join("1" if i in s else "0" for i in range(3))

    _shap_rows = []
    for _ci in range(3):
        for _r in range(3):
            for _sub in _combos([i for i in range(3) if i != _ci], _r):
                _w = (
                    _math.factorial(_r) * _math.factorial(3 - _r - 1)
                    / _math.factorial(3)
                )
                _shap_rows.append(
                    f"('{_shap_ch[_ci]}', '{_shap_bm(set(_sub))}',"
                    f" '{_shap_bm(set(_sub) | {_ci})}', {_w!r})"
                )
    o["q_shapley"] = f"""
      WITH per AS (
        SELECT user_id,
          max(CASE WHEN event_type = 'purchase' AND value >= 400.0
                   THEN 1 ELSE 0 END)::BIGINT AS conv,
          max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
            ::BIGINT AS f0,
          max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
            ::BIGINT AS f1,
          max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
            ::BIGINT AS f2
        FROM events GROUP BY user_id
      ),
      sets AS (
        SELECT f0::VARCHAR || f1::VARCHAR || f2::VARCHAR AS s,
               count(*)::BIGINT AS n, sum(conv)::BIGINT AS cv
        FROM per GROUP BY 1
      ),
      spine(channel, s_without, s_with, w) AS (
        VALUES {", ".join(_shap_rows)}
      ),
      terms AS (
        SELECT sp.channel,
          round(1000000000.0 * sp.w
                * (coalesce(v1.cv::DOUBLE / v1.n::DOUBLE, 0.0)
                   - coalesce(v0.cv::DOUBLE / v0.n::DOUBLE, 0.0)), 0)
            ::BIGINT AS tq
        FROM spine sp
        LEFT JOIN sets v0 ON v0.s = sp.s_without
        LEFT JOIN sets v1 ON v1.s = sp.s_with
      ),
      exposed AS (
        SELECT 'click' AS channel, sum(f0)::BIGINT AS n_exposed FROM per
        UNION ALL SELECT 'view', sum(f1)::BIGINT FROM per
        UNION ALL SELECT 'signup', sum(f2)::BIGINT FROM per
      )
      SELECT t.channel, e.n_exposed,
             round(sum(t.tq)::DOUBLE / 1000000000.0, 6) AS shapley
      FROM terms t JOIN exposed e USING (channel)
      GROUP BY t.channel, e.n_exposed
    """

    # Nelson–Aalen replay: the KM at-risk CTE, per-time divisions,
    # cumulative sums in the same fixed frame
    o["q_nelson_aalen"] = """
      WITH per AS (
        SELECT user_id, min(ts) AS fst, max(ts) AS lst,
               min(CASE WHEN event_type = 'purchase' AND value >= 400.0
                        THEN ts END) AS dth
        FROM events GROUP BY 1
      ),
      per2 AS (
        SELECT (epoch_us(coalesce(dth, lst)) - epoch_us(fst))
                 // 3600000000 AS t_h,
               (dth IS NOT NULL) AS obs
        FROM per
      ),
      tbl AS (SELECT t_h, sum(obs::BIGINT)::BIGINT AS d,
                     sum((NOT obs)::BIGINT)::BIGINT AS c
              FROM per2 GROUP BY 1),
      nt AS (SELECT count(*)::BIGINT AS n_users FROM per2),
      km AS (
        SELECT t_h, d, c,
               (n_users - coalesce(sum(d + c) OVER (ORDER BY t_h
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
                 ::BIGINT AS n_risk
        FROM tbl, nt
      )
      SELECT t_h, n_risk, d, c,
        round(sum(d::DOUBLE / n_risk::DOUBLE) OVER (ORDER BY t_h
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
          AS cum_hazard,
        round(sqrt(sum(d::DOUBLE / (n_risk::DOUBLE * n_risk::DOUBLE))
          OVER (ORDER BY t_h
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) AS se
      FROM km
    """

    # power-law MLE replay: co-mention degrees, micro-quantized lns
    # count-weighted into an exact integer sum
    o["q_powerlaw"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      edges AS (
        SELECT DISTINCT a.surface AS a, b.surface AS b
        FROM mentsent a JOIN mentsent b
          ON a.doc_id = b.doc_id AND a.sent_id = b.sent_id
         AND a.surface < b.surface
      ),
      sym AS (SELECT a, b FROM edges UNION ALL SELECT b AS a, a AS b FROM edges),
      degs AS (SELECT a AS node, count(*)::BIGINT AS deg FROM sym GROUP BY a),
      cells AS (SELECT deg, count(*)::BIGINT AS cnt FROM degs
                WHERE deg >= 2 GROUP BY deg),
      g AS (
        SELECT sum(cnt)::BIGINT AS n_tail,
               sum(cnt * round(ln(deg::DOUBLE / 2.0) * 1000000.0, 0)
                   ::BIGINT)::BIGINT AS lq
        FROM cells
      )
      SELECT coalesce(n_tail, 0)::BIGINT AS n_tail, 2::BIGINT AS d_min,
        round(coalesce(CASE WHEN lq > 0
          THEN 1.0 + n_tail::DOUBLE / (lq::DOUBLE / 1000000.0) END,
          0.0), 6) AS alpha,
        round(coalesce(CASE WHEN lq > 0 AND n_tail > 0
          THEN (1.0 + n_tail::DOUBLE / (lq::DOUBLE / 1000000.0) - 1.0)
               / sqrt(n_tail::DOUBLE) END, 0.0), 6) AS se
      FROM g
    """

    # lift replay: the q_brier bin spine, integer cumulative window
    # sums best-bin-first, exact cross-product divisions
    o["q_lift"] = """
      WITH d AS (
        SELECT least(least(n_chars, 500) // 50, 9)::BIGINT AS bin,
               (CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS y
        FROM documents
      ),
      bins AS (SELECT bin, count(*)::BIGINT AS n, sum(y)::BIGINT AS n_pos
               FROM d GROUP BY bin),
      tot AS (SELECT sum(n)::BIGINT AS nn, sum(n_pos)::BIGINT AS p
              FROM bins),
      j AS (
        SELECT bin, n, n_pos,
          sum(n) OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED
            PRECEDING AND CURRENT ROW)::BIGINT AS cum_n,
          sum(n_pos) OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED
            PRECEDING AND CURRENT ROW)::BIGINT AS cum_pos,
          nn, p
        FROM bins, tot
      )
      SELECT bin, n, n_pos, cum_n, cum_pos,
        round(CASE WHEN p > 0 THEN cum_pos::DOUBLE / p::DOUBLE
              ELSE 0.0 END, 6) AS gain,
        round(CASE WHEN p > 0 AND cum_n > 0
              THEN (cum_pos * nn)::DOUBLE / (cum_n * p)::DOUBLE
              ELSE 0.0 END, 6) AS lift
      FROM j
    """

    # skew-report replay: same md5 virtual-reducer buckets
    o["q_skew_report"] = """
      WITH b AS (
        SELECT (('0x' || substr(md5(user_id::VARCHAR), 1, 4))
                  ::UBIGINT % 32)::BIGINT AS bucket,
               user_id
        FROM events
      ),
      counts AS (SELECT bucket, count(*)::BIGINT AS n_rows,
                        count(DISTINCT user_id)::BIGINT AS n_keys
                 FROM b GROUP BY 1),
      tot AS (SELECT sum(n_rows)::BIGINT AS total,
                     max(n_rows)::BIGINT AS mx FROM counts)
      SELECT bucket, n_rows, n_keys,
             round(n_rows / total, 6) AS share,
             round(mx * 32 / total, 6) AS imbalance
      FROM counts, tot
    """

    # Fellegi-Sunter replay over the blocking-quality candidate chain
    # (surf/var/amp as q_blocking_quality), label = the typo-generator
    # relationship, identical Laplace ratios inside the log2
    _fs_feats = [
        ("dist1", "(dist <= 1)"),
        ("same_last", "(right(a, 1) = right(b, 1))"),
        ("len_eq", "(len(a) = len(b))"),
    ]
    _fs_rows = "\nUNION ALL\n".join(
        f"""
      SELECT '{name}' AS feature, nm AS n_match, nu AS n_nonmatch,
             am_{name} AS agree_match, au_{name} AS agree_nonmatch,
             round((am_{name} + 1) / (nm + 2), 6) AS m,
             round((au_{name} + 1) / (nu + 2), 6) AS u,
             round(log2(((am_{name} + 1) / (nm + 2))
                        / ((au_{name} + 1) / (nu + 2))), 6) AS w_agree,
             round(log2((1.0 - (am_{name} + 1) / (nm + 2))
                        / (1.0 - (au_{name} + 1) / (nu + 2))), 6)
               AS w_disagree
      FROM tot"""
        for name, _ in _fs_feats
    )
    _fs_sums = ",\n".join(
        f"""               sum((is_match AND {expr})::BIGINT)::BIGINT
                 AS am_{name},
               sum(((NOT is_match) AND {expr})::BIGINT)::BIGINT
                 AS au_{name}"""
        for name, expr in _fs_feats
    )
    o["q_fs_weights"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      surf AS (SELECT surface, tag, count(*)::BIGINT AS n_mentions
               FROM mentsent GROUP BY 1, 2),
      var AS (SELECT substring(surface, 1, 1) || substring(surface, 3)
                       AS surface, tag, 1::BIGINT AS n_mentions
              FROM surf WHERE len(surface) >= 4),
      amp AS (SELECT surface, tag FROM
              (SELECT surface, tag FROM surf
               UNION ALL SELECT surface, tag FROM var)
              GROUP BY 1, 2),
      cand AS (
        SELECT l.tag, l.surface AS a, r.surface AS b,
               levenshtein(l.surface, r.surface) AS dist
        FROM amp l JOIN amp r
          ON l.tag = r.tag
         AND lower(substring(l.surface, 1, 1))
               = lower(substring(r.surface, 1, 1))
         AND l.surface < r.surface
         AND abs(len(l.surface) - len(r.surface)) <= 2
         AND levenshtein(l.surface, r.surface) <= 2
      ),
      lab AS (
        SELECT *,
               (b = substring(a, 1, 1) || substring(a, 3)
                OR a = substring(b, 1, 1) || substring(b, 3)) AS is_match
        FROM cand
      ),
      tot AS (
        SELECT sum(is_match::BIGINT)::BIGINT AS nm,
               sum((NOT is_match)::BIGINT)::BIGINT AS nu,
{_fs_sums}
        FROM lab
      )
{_fs_rows}
    """

    # FS-EM replay: the q_fs_weights pair build (label withheld),
    # pattern counts, then the EM iterations UNROLLED as generated
    # CTEs — E-step in the engine's pinned multiply order, M-step Σs
    # quantized at 10^12 into integer sums
    _fsem_feats = [
        ("dist1", "(dist <= 1)"),
        ("same_last", "(right(a, 1) = right(b, 1))"),
        ("len_eq", "(len(a) = len(b))"),
    ]
    _fsem_q = "1000000000000.0"

    def _fsem_iter(t):
        names = [n for n, _ in _fsem_feats]
        pm = " * ".join(
            f"(CASE WHEN {n} THEN s.m{i} ELSE 1.0 - s.m{i} END)"
            for i, n in enumerate(names)
        )
        pu = " * ".join(
            f"(CASE WHEN {n} THEN s.u{i} ELSE 1.0 - s.u{i} END)"
            for i, n in enumerate(names)
        )
        sums = [
            "sum(c)::BIGINT AS n",
            f"sum(round({_fsem_q} * c::DOUBLE * w, 0)::BIGINT)::BIGINT"
            " AS swq",
            f"sum(round({_fsem_q} * c::DOUBLE * (1.0 - w), 0)::BIGINT)"
            "::BIGINT AS sw1q",
        ]
        for i, n in enumerate(names):
            sums.append(
                f"sum(CASE WHEN {n} THEN round({_fsem_q} * c::DOUBLE * w,"
                f" 0)::BIGINT ELSE 0 END)::BIGINT AS smq{i}"
            )
            sums.append(
                f"sum(CASE WHEN {n} THEN round({_fsem_q} * c::DOUBLE *"
                f" (1.0 - w), 0)::BIGINT ELSE 0 END)::BIGINT AS suq{i}"
            )
        def _clamp(num, den):
            # the engine's Winkler boundary clamp, identical literals
            return (
                "least(greatest(CASE WHEN " + den + " > 0 THEN "
                + num + "::DOUBLE / (" + den + ")::DOUBLE ELSE 0.0 END,"
                " 1e-6), 1.0 - 1e-6)"
            )

        st = [
            f"{_clamp(f'smq{i}', 'swq')} AS m{i}" for i in range(3)
        ] + [
            f"{_clamp(f'suq{i}', 'sw1q')} AS u{i}" for i in range(3)
        ] + [f"{_clamp('swq', f'{_fsem_q} * n::DOUBLE')} AS p"]
        return f"""
      w{t} AS (
        SELECT pats.*,
               (s.p * ({pm}))
               / ((s.p * ({pm})) + (1.0 - s.p) * ({pu})) AS w
        FROM pats, state{t - 1} s
      ),
      f{t} AS (SELECT {", ".join(sums)} FROM w{t}),
      state{t} AS (SELECT {", ".join(st)} FROM f{t})"""

    _fsem_out = "\nUNION ALL\n".join(
        f"""
      SELECT '{n}' AS feature, round(m{i}, 6) AS m, round(u{i}, 6) AS u,
             round(p, 6) AS p, round(log2(m{i} / u{i}), 6) AS w_agree,
             round(log2((1.0 - m{i}) / (1.0 - u{i})), 6) AS w_disagree
      FROM state2"""
        for i, (n, _) in enumerate(_fsem_feats)
    )
    o["q_fs_em"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      surf AS (SELECT surface, tag, count(*)::BIGINT AS n_mentions
               FROM mentsent GROUP BY 1, 2),
      var AS (SELECT substring(surface, 1, 1) || substring(surface, 3)
                       AS surface, tag, 1::BIGINT AS n_mentions
              FROM surf WHERE len(surface) >= 4),
      amp AS (SELECT surface, tag FROM
              (SELECT surface, tag FROM surf
               UNION ALL SELECT surface, tag FROM var)
              GROUP BY 1, 2),
      cand AS (
        SELECT l.tag, l.surface AS a, r.surface AS b,
               levenshtein(l.surface, r.surface) AS dist
        FROM amp l JOIN amp r
          ON l.tag = r.tag
         AND lower(substring(l.surface, 1, 1))
               = lower(substring(r.surface, 1, 1))
         AND l.surface < r.surface
         AND abs(len(l.surface) - len(r.surface)) <= 2
         AND levenshtein(l.surface, r.surface) <= 2
      ),
      pats AS (
        SELECT {", ".join(f"{e} AS {n}" for n, e in _fsem_feats)},
               count(*)::BIGINT AS c
        FROM cand GROUP BY 1, 2, 3
      ),
      state0 AS (
        SELECT 0.9::DOUBLE AS m0, 0.9::DOUBLE AS m1, 0.9::DOUBLE AS m2,
               0.1::DOUBLE AS u0, 0.1::DOUBLE AS u1, 0.1::DOUBLE AS u2,
               0.1::DOUBLE AS p
      ),{_fsem_iter(1)},{_fsem_iter(2)}
{_fsem_out}
    """

    # Kleene-path replay: recursive star frontier with SET semantics
    # (UNION) == the engine's per-level DISTINCT, min depth per pair
    o["q_kleene_path"] = f"""
      WITH RECURSIVE {_TOKS}, {_SENTID}, {_MENT},
      preds AS (SELECT doc_id, pos, tok FROM toks
                WHERE tok IN ({_PREDW})),
      tri AS ({_TRI_SELECT}),
      t AS (SELECT DISTINCT subj, pred, obj FROM tri),
      e1 AS (SELECT subj AS a, obj AS x FROM t WHERE pred = 'filter'),
      es AS (SELECT subj, obj FROM t WHERE pred = 'group'),
      e3 AS (SELECT subj AS y, obj AS b FROM t WHERE pred = 'order'),
      r AS (
        SELECT a, x, 0 AS d FROM e1
        UNION
        SELECT r.a, es.obj AS x, r.d + 1 AS d
        FROM r JOIN es ON es.subj = r.x WHERE r.d < 3
      )
      SELECT r.a AS subj, e3.b AS obj, min(r.d)::BIGINT AS star_depth
      FROM r JOIN e3 ON e3.y = r.x
      GROUP BY 1, 2
    """

    # link-audit replay: same href extraction, same url/doc-id
    # dimension joins, same NOT EXISTS orphan test
    o["q_link_audit"] = f"""
      WITH {_link_pages_sql(_SRC_TAG_SQL)},
      links AS (
        SELECT unnest(regexp_extract_all(h, 'href="([^"]*)"', 1))
                 AS target_url
        FROM html2
      ),
      pk AS (SELECT 'https://' || source || '.example.com/doc/'
                      || doc_id::VARCHAR AS url,
                    doc_id AS pid
             FROM documents),
      tgt AS (SELECT target_url AS turl,
                     nullif(regexp_extract(target_url,
                                           '/doc/([0-9]+)$', 1), '')
                       ::BIGINT AS tid
              FROM links),
      lk AS (
        SELECT CASE WHEN u.url IS NOT NULL THEN 'resolved_link'
                    WHEN i.pid IS NOT NULL THEN 'host_mismatch_link'
                    ELSE 'dangling_link' END AS kind
        FROM tgt LEFT JOIN pk u ON u.url = tgt.turl
                 LEFT JOIN (SELECT DISTINCT pid FROM pk) i
                   ON i.pid = tgt.tid
      )
      SELECT kind, count(*)::BIGINT AS n FROM lk GROUP BY 1
      UNION ALL
      SELECT 'orphan_page' AS kind, count(*)::BIGINT AS n FROM pk p
      WHERE NOT EXISTS (SELECT 1 FROM tgt WHERE tgt.tid = p.pid)
    """

    # attribution replay: same window join, same position credits in
    # integer micro-shares, same exact channel sums
    o["q_attribution"] = """
      WITH conv AS (
        SELECT user_id AS cu, event_id AS cid, ts AS cts,
               round(value * 100)::BIGINT AS cents
        FROM events WHERE event_type = 'purchase'
      ),
      touch AS (
        SELECT user_id AS tu, event_id AS tid, ts AS tts,
               event_type AS channel
        FROM events WHERE event_type IN ('click', 'view')
      ),
      j AS (
        SELECT c.cid, c.cents, t.tid, t.tts, t.channel
        FROM conv c LEFT JOIN touch t
          ON t.tu = c.cu AND t.tts < c.cts
         AND epoch_us(t.tts) >= epoch_us(c.cts) - 259200000000
      ),
      pos AS (
        SELECT *, count(tid) OVER (PARTITION BY cid) AS k,
               row_number() OVER (PARTITION BY cid ORDER BY tts, tid)
                 AS rn
        FROM j
      ),
      cr AS (
        SELECT coalesce(channel, 'direct') AS channel,
               (tid IS NOT NULL)::BIGINT AS is_touch,
               (CASE WHEN tid IS NULL THEN 1000000
                     WHEN k = 1 THEN 1000000
                     WHEN k = 2 THEN 500000
                     WHEN rn = 1 OR rn = k THEN 400000
                     ELSE round(200000 / (k - 2))::BIGINT END)::HUGEINT
                 * cents AS cv
        FROM pos
      )
      SELECT channel, sum(is_touch)::BIGINT AS n_touchpoints,
             round(sum(cv)::DOUBLE / 1000000.0 / 100.0, 4) AS credited
      FROM cr GROUP BY 1
    """

    # Fleiss replay: the three taggers as a UNION ALL, identical
    # integer aggregates, identical sequential-division float chain
    o["q_fleiss_kappa"] = f"""
      WITH {_TOKS},
      ratings AS (
        SELECT doc_id, pos,
               CASE WHEN tok IN ({_PER}) THEN 'PER'
                    WHEN tok IN ({_LOC}) THEN 'LOC'
                    ELSE 'O' END AS cat
        FROM toks
        UNION ALL
        SELECT doc_id, pos,
               CASE WHEN tok IN ({_PER}) THEN 'PER' ELSE 'O' END
        FROM toks
        UNION ALL
        SELECT doc_id, pos,
               CASE WHEN tok IN ({_LOC}) THEN 'LOC' ELSE 'O' END
        FROM toks
      ),
      nic AS (SELECT doc_id, pos, cat, count(*)::BIGINT AS n
              FROM ratings GROUP BY 1, 2, 3),
      per_item AS (SELECT doc_id, pos, sum(n)::BIGINT AS r,
                          sum(n::HUGEINT * n)::HUGEINT AS s2
                   FROM nic GROUP BY 1, 2),
      istats AS (SELECT count(*)::BIGINT AS n_items,
                        max(r)::BIGINT AS n_raters,
                        (min(r) = max(r)) AS balanced,
                        sum(s2)::HUGEINT AS S
                 FROM per_item),
      cstats AS (SELECT sum(m::HUGEINT * m)::HUGEINT AS SM2,
                        sum(m)::BIGINT AS nr_tot
                 FROM (SELECT cat, sum(n)::BIGINT AS m
                       FROM nic GROUP BY 1)),
      calc AS (
        SELECT n_items, n_raters, balanced,
               (S::DOUBLE - n_items::DOUBLE * n_raters::DOUBLE)
                 / (n_items::DOUBLE * n_raters::DOUBLE
                    * (n_raters::DOUBLE - 1.0)) AS p_bar,
               SM2::DOUBLE / nr_tot::DOUBLE / nr_tot::DOUBLE AS p_e
        FROM istats, cstats
      )
      SELECT n_items, n_raters, balanced,
             round(p_bar, 6) AS p_bar, round(p_e, 6) AS p_e,
             coalesce(round(CASE WHEN p_e < 1.0 THEN
               (p_bar - p_e) / (1.0 - p_e) END, 6), -9.9) AS kappa
      FROM calc
    """

    # rich-club replay over the co-mention edge set
    o["q_rich_club"] = f"""
      WITH {_TOKS}, {_SENTID}, {_MENT},
      edges AS (
        SELECT DISTINCT a.surface AS a, b.surface AS b
        FROM mentsent a JOIN mentsent b
          ON a.doc_id = b.doc_id AND a.sent_id = b.sent_id
         AND a.surface < b.surface
      ),
      deg AS (SELECT v, count(*)::BIGINT AS deg
              FROM (SELECT a AS v FROM edges
                    UNION ALL SELECT b FROM edges)
              GROUP BY 1),
      ks AS (SELECT unnest([1, 2, 4, 8])::BIGINT AS k),
      ej AS (SELECT da.deg AS da, db.deg AS db
             FROM edges e
             JOIN deg da ON da.v = e.a
             JOIN deg db ON db.v = e.b),
      ncnt AS (SELECT k, sum((deg > k)::BIGINT)::BIGINT AS n_nodes
               FROM ks, deg GROUP BY k),
      ecnt AS (SELECT k,
                      sum((da > k AND db > k)::BIGINT)::BIGINT AS n_edges
               FROM ks, ej GROUP BY k)
      SELECT n.k, n.n_nodes, e.n_edges,
             CASE WHEN n.n_nodes >= 2 THEN
               round(2 * e.n_edges / (n.n_nodes * (n.n_nodes - 1)), 6)
             ELSE -1.0 END AS phi
      FROM ncnt n JOIN ecnt e USING (k)
    """

    # query-likelihood replay: identical Dirichlet term, rank off the
    # ROUNDED score
    o["q_ql_rank"] = """
      WITH toks2 AS (
        SELECT doc_id, t AS tok
        FROM (SELECT doc_id,
                     unnest(string_split(coalesce(text, ''), ' ')) AS t
              FROM documents)
        WHERE t != ''
      ),
      dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM toks2 GROUP BY 1),
      qt AS (SELECT * FROM toks2
             WHERE tok IN ('spark', 'window', 'merge')),
      cf AS (SELECT tok, count(*)::BIGINT AS cf FROM qt GROUP BY 1),
      ctot AS (SELECT count(*)::BIGINT AS C FROM toks2),
      tf AS (SELECT doc_id, tok, count(*)::BIGINT AS tf
             FROM qt GROUP BY 1, 2),
      fan AS (SELECT dl.doc_id, dl.dl, cf.tok, cf.cf, ctot.C, tf.tf
              FROM dl CROSS JOIN cf CROSS JOIN ctot
              LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.tok = cf.tok),
      scored AS (
        SELECT doc_id,
               round(sum(ln((coalesce(tf, 0)::DOUBLE + 2000.0 * cf / C)
                            / (dl + 2000.0))), 6) AS score
        FROM fan GROUP BY 1
      )
      SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC)::BIGINT
               AS rank,
             doc_id, score
      FROM scored
      QUALIFY rank <= 10
    """

    # lateness replay: same arrival-order prefix max in integer micros
    o["q_lateness"] = """
      WITH base AS (
        SELECT event_type,
               max(epoch_us(ts)) OVER (ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - epoch_us(ts) AS late_us
        FROM events
      )
      SELECT event_type, count(*)::BIGINT AS n,
             sum((late_us > 0)::BIGINT)::BIGINT AS n_late,
             sum((late_us > 3600000000)::BIGINT)::BIGINT AS n_dropped,
             (max(late_us) // 1000000)::BIGINT AS max_lateness_s
      FROM base GROUP BY 1
    """

    # power-iteration replay: identical integer Gram matrix, three
    # unrolled iterations with identical integer re-quantization
    _pit = "\n".join(
        f"""      w{k} AS (SELECT cov.i, sum(c * v{k - 1}.v)::HUGEINT AS wi
              FROM cov JOIN v{k - 1} ON v{k - 1}.j = cov.j GROUP BY 1),
      m{k} AS (SELECT max(abs(wi))::HUGEINT AS m FROM w{k}),
      v{k} AS (SELECT i AS j,
                      round(wi::DOUBLE * 1000 / m::DOUBLE)::BIGINT AS v
               FROM w{k}, m{k}),"""
        for k in (1, 2, 3)
    )
    o["q_pca_top"] = f"""
      WITH el AS MATERIALIZED (
        SELECT vec_id, u.i,
               round(embedding[u.i]::DOUBLE * 1000)::BIGINT AS q
        FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
      ),
      cov AS (SELECT a.i AS i, b.i AS j,
                     sum(a.q::HUGEINT * b.q)::HUGEINT AS c
              FROM el a JOIN el b ON a.vec_id = b.vec_id
              GROUP BY 1, 2),
      v0 AS (SELECT DISTINCT i AS j, 1000::BIGINT AS v FROM el),
{_pit}
      vv AS (SELECT sum(v::HUGEINT * v)::HUGEINT AS vv FROM v3),
      num AS (SELECT sum(cov.c * vi.v * vj.v)::HUGEINT AS num
              FROM cov JOIN v3 vi ON vi.j = cov.i
                       JOIN v3 vj ON vj.j = cov.j)
      SELECT v3.j AS dim, v3.v AS v,
             round(num::DOUBLE / vv::DOUBLE, 6) AS lam
      FROM v3, num, vv
    """

    # Theil-Sen replay: same spine fill, same exact-integer slope
    # divisions, same order-statistic medians with full tiebreak
    o["q_theil_sen"] = """
      WITH counts AS (SELECT epoch_us(ts) // 3600000000 AS b,
                             count(*)::BIGINT AS y
                      FROM events GROUP BY 1),
      rng AS (SELECT min(b) AS lo, max(b) AS hi FROM counts),
      spine AS (SELECT unnest(range(lo, hi + 1))::BIGINT AS b FROM rng),
      filled AS (SELECT s.b, coalesce(c.y, 0)::BIGINT AS y
                 FROM spine s LEFT JOIN counts c USING (b)),
      pairs AS (SELECT l.b AS b1, r.b AS b2,
                       (r.y - l.y)::DOUBLE / (r.b - l.b)::DOUBLE AS s
                FROM filled l JOIN filled r ON l.b < r.b),
      ranked AS (SELECT s, row_number() OVER (ORDER BY s, b1, b2) AS rn
                 FROM pairs),
      np AS (SELECT count(*)::BIGINT AS n_pairs FROM pairs),
      nb AS (SELECT count(*)::BIGINT AS n_buckets FROM filled),
      ms AS (SELECT (min(CASE WHEN rn = (n_pairs + 1) // 2 THEN s END)
                     + min(CASE WHEN rn = (n_pairs + 2) // 2 THEN s END))
                    / 2.0 AS slope_raw
             FROM ranked, np),
      resid AS (SELECT b, y - slope_raw * b AS r FROM filled, ms),
      rr AS (SELECT r, row_number() OVER (ORDER BY r, b) AS rn
             FROM resid),
      mi AS (SELECT (min(CASE WHEN rn = (n_buckets + 1) // 2 THEN r END)
                     + min(CASE WHEN rn = (n_buckets + 2) // 2 THEN r END))
                    / 2.0 AS intercept_raw
             FROM rr, nb)
      SELECT n_buckets, n_pairs,
             round(slope_raw, 6) AS slope,
             round(intercept_raw, 6) AS intercept
      FROM nb, np, ms, mi
    """

    # average-precision replay: same deterministic total order, same
    # per-positive precision terms
    o["q_avg_precision"] = """
      WITH ranked AS (
        SELECT coalesce((lang = 'en')::BIGINT, 0) AS y,
               row_number() OVER (ORDER BY n_chars DESC, doc_id ASC)
                 AS rank,
               sum(coalesce((lang = 'en')::BIGINT, 0)) OVER (
                 ORDER BY n_chars DESC, doc_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cum_pos
        FROM documents
      )
      SELECT sum(y)::BIGINT AS n_pos, count(*)::BIGINT AS n_total,
             round(sum(CASE WHEN y = 1 THEN cum_pos::DOUBLE / rank END)
                   / sum(y), 6) AS ap
      FROM ranked
    """

    # conversion-lag replay: same strictly-after first-event pairing,
    # same half-point median / p90 selection
    o["q_conversion_lag"] = """
      WITH per AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'signup' THEN ts END) AS fs
        FROM events GROUP BY 1
      ),
      tp AS (
        SELECT e.user_id, min(e.ts) AS tp, min(p.fs) AS fs
        FROM events e JOIN per p ON p.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > p.fs
        GROUP BY 1
      ),
      lags AS (SELECT (epoch_us(tp) - epoch_us(fs)) // 3600000000 AS h
               FROM tp),
      freq AS (SELECT h, count(*)::BIGINT AS f FROM lags GROUP BY 1),
      cum AS (SELECT h, sum(f) OVER (ORDER BY h) AS cum FROM freq),
      nt AS (SELECT count(*)::BIGINT AS n_converted FROM lags),
      nf AS (SELECT count(*)::BIGINT AS n_from FROM per
             WHERE fs IS NOT NULL),
      stats AS (
        SELECT (min(CASE WHEN cum >= (n_converted + 1) // 2 THEN h END)
                + min(CASE WHEN cum >= (n_converted + 2) // 2 THEN h END))
                 AS median2_h,
               min(CASE WHEN cum >= (9 * n_converted + 9) // 10 THEN h END)
                 AS p90_h
        FROM cum, nt
      )
      SELECT n_from, n_converted, median2_h,
             round(median2_h / 2.0, 6) AS median_h, p90_h
      FROM nf, nt, stats
    """

    # incremental ER must converge to the batch map — identical oracle
    # (the q_stream_links == q_link_graph convergence idiom)
    o["q_er_incremental"] = o["q_er_resolve"]

    # itemCF replay: same integer squared-cosine milli-similarities,
    # same NOT EXISTS seen filter, same (score desc, item) top-3
    o["q_item_recs"] = """
      WITH ui AS (
        SELECT DISTINCT user_id,
               json_extract_string(props, '$.k')::BIGINT AS item
        FROM events
        WHERE json_extract_string(props, '$.k') IS NOT NULL
      ),
      ci AS (SELECT item, count(*)::BIGINT AS c FROM ui GROUP BY 1),
      cij AS (SELECT a.item AS i, b.item AS j, count(*)::BIGINT AS cij
              FROM ui a JOIN ui b
                ON a.user_id = b.user_id AND a.item != b.item
              GROUP BY 1, 2),
      sim AS (SELECT i, j,
                     round(1000000 * (cij * cij)::DOUBLE
                           / (ca.c * cb.c))::BIGINT AS s_milli
              FROM cij JOIN ci ca ON ca.item = cij.i
                       JOIN ci cb ON cb.item = cij.j),
      cand AS (
        SELECT u.user_id, s.j AS item, sum(s.s_milli)::BIGINT
                 AS score_milli
        FROM ui u JOIN sim s ON s.i = u.item
        WHERE NOT EXISTS (SELECT 1 FROM ui v
                          WHERE v.user_id = u.user_id AND v.item = s.j)
        GROUP BY 1, 2
      )
      SELECT user_id, item, score_milli,
             row_number() OVER (PARTITION BY user_id
               ORDER BY score_milli DESC, item ASC)::BIGINT AS rank
      FROM cand
      QUALIFY rank <= 3
    """

    # percentile-rank replay: same doubled tie-averaged ranks
    o["q_pct_rank"] = """
      WITH base AS (SELECT event_id AS id, event_type AS grp,
                           round(value * 100)::BIGINT AS c FROM events),
      freq AS (SELECT grp, c, count(*)::BIGINT AS f
               FROM base GROUP BY 1, 2),
      rmap AS (SELECT grp, c,
                      2 * (sum(f) OVER (PARTITION BY grp ORDER BY c) - f)
                        + f + 1 AS r2
               FROM freq),
      nt AS (SELECT grp, count(*)::BIGINT AS n FROM base GROUP BY 1)
      SELECT b.id, b.grp AS event_type,
             round(r2 / (2.0 * n), 6) AS pct
      FROM base b JOIN rmap USING (grp, c) JOIN nt USING (grp)
    """

    # cluster-size histogram off the q_dedup_clusters reachability map
    o["q_cluster_sizes"] = f"""
      WITH {_CORPUS},
      {_MH_CHAIN},
      nodes AS (SELECT a AS n FROM vp UNION SELECT b FROM vp),
      edges AS (SELECT a, b FROM vp UNION SELECT b AS a, a AS b FROM vp),
      rr AS (
        WITH RECURSIVE walk AS (
          SELECT n AS node, n AS lab FROM nodes
          UNION
          SELECT e.b AS node, walk.lab
          FROM walk JOIN edges e ON e.a = walk.node
        )
        SELECT node, min(lab) AS canonical FROM walk GROUP BY node
      ),
      csz AS (SELECT canonical, count(*)::BIGINT AS size
              FROM rr GROUP BY 1),
      hist AS (SELECT size, count(*)::BIGINT AS n_clusters
               FROM csz GROUP BY 1),
      tot AS (SELECT count(*)::BIGINT AS total FROM rr)
      SELECT size, n_clusters,
             (size * n_clusters)::BIGINT AS n_docs,
             round(size * n_clusters / total, 6) AS pct_docs
      FROM hist, tot
    """

    # weighted-revote replay: identical majority/weight/revote rounds,
    # integer milli-weights, full tiebreaks
    o["q_revote"] = f"""
      WITH {_TOKS},
      votes AS (
        SELECT doc_id, pos, 'full' AS rater,
               CASE WHEN tok IN ({_PER}) THEN 'PER'
                    WHEN tok IN ({_LOC}) THEN 'LOC'
                    ELSE 'O' END AS lab
        FROM toks
        UNION ALL
        SELECT doc_id, pos, 'per_only',
               CASE WHEN tok IN ({_PER}) THEN 'PER' ELSE 'O' END
        FROM toks
        UNION ALL
        SELECT doc_id, pos, 'loc_only',
               CASE WHEN tok IN ({_LOC}) THEN 'LOC' ELSE 'O' END
        FROM toks
      ),
      cnt AS (SELECT doc_id, pos, lab, count(*)::BIGINT AS c
              FROM votes GROUP BY 1, 2, 3),
      maj AS (SELECT doc_id, pos, lab AS maj FROM (
                SELECT *, row_number() OVER (PARTITION BY doc_id, pos
                  ORDER BY c DESC, lab ASC) AS rn FROM cnt)
              WHERE rn = 1),
      pr AS (SELECT rater, count(*)::BIGINT AS n_votes,
                    sum((v.lab = m.maj)::BIGINT)::BIGINT AS n_agree
             FROM votes v JOIN maj m USING (doc_id, pos) GROUP BY 1),
      wt AS (SELECT rater, n_votes, n_agree,
                    round(1000000 * (n_agree + 1)::DOUBLE
                          / (n_votes + 2))::BIGINT AS acc_milli
             FROM pr),
      ws AS (SELECT v.doc_id, v.pos, v.lab,
                    sum(wt.acc_milli)::BIGINT AS s
             FROM votes v JOIN wt USING (rater) GROUP BY 1, 2, 3),
      newlab AS (SELECT doc_id, pos, lab AS lab1 FROM (
                   SELECT *, row_number() OVER (PARTITION BY doc_id, pos
                     ORDER BY s DESC, lab ASC) AS rn FROM ws)
                 WHERE rn = 1),
      rel AS (SELECT sum((n.lab1 != m.maj)::BIGINT)::BIGINT
                       AS n_relabeled
              FROM newlab n JOIN maj m USING (doc_id, pos))
      SELECT rater, n_votes, n_agree, acc_milli, n_relabeled
      FROM wt, rel
    """

    # top-k + OTHER replay: same deterministic rank, same fold
    o["q_topk_others"] = """
      WITH counts AS (SELECT lang AS grp, source AS k,
                             count(*)::BIGINT AS n
                      FROM documents GROUP BY 1, 2),
      ranked AS (SELECT *, row_number() OVER (PARTITION BY grp
                   ORDER BY n DESC, k ASC) AS rn FROM counts),
      b AS (SELECT grp, CASE WHEN rn <= 3 THEN k::VARCHAR
                             ELSE 'OTHER' END AS bucket, n
            FROM ranked)
      SELECT grp AS lang, bucket, sum(n)::BIGINT AS n_rows,
             count(*)::BIGINT AS n_keys
      FROM b GROUP BY 1, 2
    """

    # cluster-aware split replay: reachability map + the md5 bucket
    # rule applied to the canonical key
    o["q_cluster_split"] = f"""
      WITH {_CORPUS},
      {_MH_CHAIN},
      nodes AS (SELECT a AS n FROM vp UNION SELECT b FROM vp),
      edges AS (SELECT a, b FROM vp UNION SELECT b AS a, a AS b FROM vp),
      rr AS (
        WITH RECURSIVE walk AS (
          SELECT n AS node, n AS lab FROM nodes
          UNION
          SELECT e.b AS node, walk.lab
          FROM walk JOIN edges e ON e.a = walk.node
        )
        SELECT node, min(lab) AS canonical FROM walk GROUP BY node
      ),
      m AS (SELECT node::BIGINT AS doc_id,
                   lpad(canonical::VARCHAR, 12, '0') AS canonical
            FROM rr),
      j AS (SELECT c.doc_id,
                   coalesce(m.canonical,
                            lpad(c.doc_id::VARCHAR, 12, '0')) AS canonical
            FROM corpus c LEFT JOIN m USING (doc_id))
      SELECT doc_id, canonical,
             CASE WHEN ('0x' || substr(md5(canonical), 1, 4))
                         ::UBIGINT % 1000 < 100
                  THEN 'eval' ELSE 'train' END AS split
      FROM j
    """

    # quantile-normalization replay: identical doubled-rank probes and
    # sort-merge window over the pooled cumulative stream
    o["q_qnorm"] = """
      WITH base AS (SELECT event_id AS id, event_type AS grp,
                           round(value * 100)::BIGINT AS c FROM events),
      freq AS (SELECT grp, c, count(*)::BIGINT AS f
               FROM base GROUP BY 1, 2),
      rmap AS (SELECT grp, c,
                      2 * (sum(f) OVER (PARTITION BY grp ORDER BY c) - f)
                        + f + 1 AS r2
               FROM freq),
      ngt AS (SELECT grp, count(*)::BIGINT AS ng FROM base GROUP BY 1),
      pool0 AS (SELECT c, count(*)::BIGINT AS pf FROM base GROUP BY 1),
      pcum AS (SELECT c AS pc, sum(pf) OVER (ORDER BY c) AS cum
               FROM pool0),
      nt AS (SELECT count(*)::BIGINT AS N FROM base),
      probes AS (SELECT r.grp, r.c,
                        ((r2 * N + 2 * g.ng - 1) // (2 * g.ng))::BIGINT
                          AS pos,
                        1 AS tag, NULL::BIGINT AS pc
                 FROM rmap r JOIN ngt g USING (grp) CROSS JOIN nt),
      pool AS (SELECT NULL::VARCHAR AS grp, NULL::BIGINT AS c,
                      cum::BIGINT AS pos, 0 AS tag, pc
               FROM pcum),
      u AS (SELECT *,
                   min(pc) OVER (ORDER BY pos, tag DESC
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                     AS norm_c
            FROM (SELECT * FROM probes UNION ALL SELECT * FROM pool))
      SELECT b.id, b.grp AS event_type, b.c, u.norm_c
      FROM base b
      JOIN u ON u.grp = b.grp AND u.c = b.c AND u.tag = 1
    """

    # hub-robustness replay: two reachability-min walks (full / cut)
    o["q_hub_robustness"] = f"""
      WITH RECURSIVE {_TOKS}, {_SENTID}, {_MENT},
      e AS (
        SELECT DISTINCT a.surface AS a, b.surface AS b
        FROM mentsent a JOIN mentsent b
          ON a.doc_id = b.doc_id AND a.sent_id = b.sent_id
         AND a.surface < b.surface
      ),
      deg AS (SELECT v, count(*)::BIGINT AS deg
              FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e)
              GROUP BY 1),
      hubs AS (SELECT v FROM (
                 SELECT v, row_number() OVER (ORDER BY deg DESC, v ASC)
                   AS rn FROM deg)
               WHERE rn <= 3),
      cut AS (SELECT a, b FROM e
              WHERE a NOT IN (SELECT v FROM hubs)
                AND b NOT IN (SELECT v FROM hubs)),
      n1 AS (SELECT a AS n FROM e UNION SELECT b FROM e),
      ed1 AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
      w1 AS (
        WITH RECURSIVE walk AS (
          SELECT n AS node, n AS lab FROM n1
          UNION
          SELECT e2.b AS node, walk.lab
          FROM walk JOIN ed1 e2 ON e2.a = walk.node
        )
        SELECT node, min(lab) AS canonical FROM walk GROUP BY node
      ),
      s1 AS (SELECT canonical, count(*)::BIGINT AS size
             FROM w1 GROUP BY 1),
      n2 AS (SELECT a AS n FROM cut UNION SELECT b FROM cut),
      ed2 AS (SELECT a, b FROM cut UNION SELECT b AS a, a AS b FROM cut),
      w2 AS (
        WITH RECURSIVE walk AS (
          SELECT n AS node, n AS lab FROM n2
          UNION
          SELECT e2.b AS node, walk.lab
          FROM walk JOIN ed2 e2 ON e2.a = walk.node
        )
        SELECT node, min(lab) AS canonical FROM walk GROUP BY node
      ),
      s2 AS (SELECT canonical, count(*)::BIGINT AS size
             FROM w2 GROUP BY 1)
      SELECT 'full' AS phase,
             (SELECT count(*) FROM w1)::BIGINT AS n_nodes,
             (SELECT count(*) FROM e)::BIGINT AS n_edges,
             (SELECT count(*) FROM s1)::BIGINT AS n_components,
             (SELECT coalesce(max(size), 0) FROM s1)::BIGINT AS largest
      UNION ALL
      SELECT 'hubs_removed',
             (SELECT count(*) FROM w2)::BIGINT,
             (SELECT count(*) FROM cut)::BIGINT,
             (SELECT count(*) FROM s2)::BIGINT,
             (SELECT coalesce(max(size), 0) FROM s2)::BIGINT
    """

    # peak-concurrency replay: same session rule, same ±1 sweep with
    # starts before ends at equal instants (closed intervals)
    o["q_peak_concurrency"] = """
      WITH us AS (SELECT user_id, event_id, epoch_us(ts) AS u
                  FROM events),
      g AS (SELECT user_id, event_id, u,
                   CASE WHEN u - lag(u) OVER (PARTITION BY user_id
                          ORDER BY u, event_id) > 1800000000
                        THEN 1 ELSE 0 END AS is_new
            FROM us),
      sq AS (SELECT user_id, u,
                    sum(is_new) OVER (PARTITION BY user_id
                      ORDER BY u, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS sid
             FROM g),
      sess AS (SELECT user_id, sid, min(u) AS s, max(u) AS e
               FROM sq GROUP BY 1, 2),
      deltas AS (SELECT s AS t, 1 AS d FROM sess
                 UNION ALL SELECT e AS t, -1 AS d FROM sess),
      run AS (SELECT t, d,
                     sum(d) OVER (ORDER BY t, d DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cur
              FROM deltas),
      nt AS (SELECT count(*)::BIGINT AS n_sessions FROM sess),
      pk AS (SELECT max(cur)::BIGINT AS peak FROM run),
      at AS (SELECT min(t)::BIGINT AS peak_at_us
             FROM run, pk WHERE cur = peak)
      SELECT n_sessions, peak, peak_at_us FROM nt, pk, at
    """

    # dispersion replay: exact-sums variance, identical float chain
    o["q_dispersion"] = """
      WITH base AS (SELECT event_type AS series,
                           round(value * 100)::BIGINT AS c FROM events),
      g AS (SELECT series, count(*)::BIGINT AS n,
                   sum(c)::HUGEINT AS sc,
                   sum(c::HUGEINT * c)::HUGEINT AS sc2
            FROM base GROUP BY 1)
      SELECT series, n,
             round(sc::DOUBLE / n::DOUBLE / 100.0, 6) AS mean,
             coalesce(round(CASE WHEN sc > 0 THEN
               ((n::DOUBLE * sc2::DOUBLE - sc::DOUBLE * sc::DOUBLE)
                / (n::DOUBLE * n::DOUBLE))
               / (sc::DOUBLE / n::DOUBLE) / 100.0 END, 6), -9.9) AS vmr,
             coalesce(CASE WHEN sc > 0 THEN
               ((n::DOUBLE * sc2::DOUBLE - sc::DOUBLE * sc::DOUBLE)
                / (n::DOUBLE * n::DOUBLE))
               / (sc::DOUBLE / n::DOUBLE) / 100.0 > 1.5 END, false)
               AS overdispersed
      FROM g
    """

    # suffix-array replay: the direct definition — materialize every
    # per-doc token-list suffix (t[i:]) and sort; DuckDB LIST compare
    # is element-wise with shorter-prefix-first, exactly the order the
    # prefix-doubling loop converges to (rank 0 = past-end sentinel)
    o["q_suffix_array"] = """
      WITH arr AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
        WHERE text IS NOT NULL AND text != ''
      ),
      suf AS (
        SELECT doc_id, i - 1 AS pos, t[i:] AS s
        FROM arr, unnest(range(1, len(t) + 1)) AS u(i)
      )
      SELECT row_number() OVER (ORDER BY s, doc_id, pos)::BIGINT AS sa_idx,
             doc_id,
             pos::BIGINT AS pos,
             dense_rank() OVER (ORDER BY s)::BIGINT AS rank
      FROM suf
    """

    # LCP replay: the direct definition — lag the sorted suffix lists
    # and count leading equal tokens (nullif: DuckDB list_position
    # returns 0, not NULL, when no mismatch exists → full min length)
    _lcp_core = """
      WITH arr AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
        WHERE text IS NOT NULL AND text != ''
      ),
      suf AS (
        SELECT doc_id, i - 1 AS pos, t[i:] AS s
        FROM arr, unnest(range(1, len(t) + 1)) AS u(i)
      ),
      r AS (
        SELECT doc_id, pos, s,
               row_number() OVER (ORDER BY s, doc_id, pos) AS sa_idx
        FROM suf
      ),
      p AS (
        SELECT sa_idx, doc_id, pos, s AS sa,
               lag(s) OVER (ORDER BY sa_idx) AS sb
        FROM r
      ),
      lcpd AS (
        SELECT sa_idx, doc_id, pos, len(sa)::BIGINT AS rem,
               (CASE WHEN sb IS NULL THEN 0
                     ELSE coalesce(
                       nullif(list_position(
                         list_transform(
                           range(1, least(len(sa), len(sb)) + 1),
                           j -> sa[j] = sb[j]),
                         false), 0) - 1,
                       least(len(sa), len(sb)))
                END)::BIGINT AS lcp
        FROM p
      )"""

    o["q_lcp_array"] = _lcp_core + """
      SELECT sa_idx::BIGINT AS sa_idx, doc_id, pos::BIGINT AS pos, lcp
      FROM lcpd
    """

    # ExactSubstr coverage replay: per suffix the max match is
    # max(own lcp, successor's lcp); interval-union window per doc
    o["q_repeat_coverage"] = _lcp_core + """,
      m AS (
        SELECT doc_id, pos,
               greatest(lcp,
                        coalesce(lead(lcp) OVER (ORDER BY sa_idx), 0)) AS mm
        FROM lcpd
      ),
      iv AS (SELECT doc_id, pos AS s, pos + mm AS e FROM m WHERE mm >= 5),
      x AS (
        SELECT doc_id, s, e,
               max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        FROM iv
      ),
      g AS (
        SELECT doc_id, s, e,
               sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        FROM x
      ),
      c AS (SELECT doc_id, grp, max(e) - min(s) AS clen
            FROM g GROUP BY 1, 2),
      cov AS (SELECT doc_id, sum(clen)::BIGINT AS covered
              FROM c GROUP BY 1),
      nn AS (
        SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
        FROM documents WHERE text IS NOT NULL AND text != ''
      )
      SELECT nn.doc_id, nn.n_tokens,
             coalesce(cov.covered, 0)::BIGINT AS covered,
             round(coalesce(cov.covered, 0)::DOUBLE / nn.n_tokens, 6)
               AS ratio
      FROM nn LEFT JOIN cov USING (doc_id)
    """

    # distinct-substring identity: sum of suffix lengths minus lcp sum
    o["q_distinct_substrings"] = _lcp_core + """
      SELECT sum(rem)::BIGINT AS n_suffix_tokens,
             sum(lcp)::BIGINT AS lcp_sum,
             (sum(rem) - sum(lcp))::BIGINT AS n_distinct
      FROM lcpd
    """

    # neighborhood-function replay: KMV union algebra — the merged
    # round-r sketch IS the sketch of the exact ball B(v, r), so the
    # oracle computes bounded-hop reachability (recursive CTE), hashes
    # each reached node exactly as the engine (leading-8-hex md5 →
    # 32-bit int), keeps the 32 smallest DISTINCT hashes per (node, r),
    # and applies the same (k−1)·2³² / u_k estimator with the same
    # one-round-then-integer-sum discipline; 133143986176 = 31·2³²
    _nf_core = f"""
      WITH RECURSIVE {_TOKS}, {_SENTID}, {_MENT},
      edges AS (
        SELECT DISTINCT a.surface AS a, b.surface AS b
        FROM mentsent a JOIN mentsent b
          ON a.doc_id = b.doc_id AND a.sent_id = b.sent_id
         AND a.surface < b.surface
      ),
      sym AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
      nodes AS (SELECT DISTINCT a AS node FROM sym),
      walk(node, reach, dist) AS (
        SELECT node, node, 0 FROM nodes
        UNION
        SELECT w.node, s.b, w.dist + 1
        FROM walk w JOIN sym s ON s.a = w.reach WHERE w.dist < 4
      ),
      d AS (SELECT node, reach, min(dist) AS dist FROM walk GROUP BY 1, 2),
      h AS (
        SELECT DISTINCT d.node, u.r,
               ('0x' || substr(md5(d.reach), 1, 8))::UBIGINT::BIGINT AS hx
        FROM d, unnest(range(5)) AS u(r)
        WHERE d.dist <= u.r
      ),
      rk AS (
        SELECT node, r, hx,
               row_number() OVER (PARTITION BY node, r ORDER BY hx) AS rn,
               count(*) OVER (PARTITION BY node, r) AS nd
        FROM h
      ),
      est AS (
        SELECT node, r,
               CASE WHEN max(nd) < 32 THEN max(nd)::BIGINT
                    ELSE round(133143986176.0
                               / max(CASE WHEN rn = 32 THEN hx END), 0)::BIGINT
               END AS e
        FROM rk WHERE rn <= 32 GROUP BY 1, 2
      ),
      nf AS (
        SELECT r::BIGINT AS r, sum(e)::BIGINT AS nf_est
        FROM est GROUP BY 1
      )"""

    o["q_neighborhood_fn"] = _nf_core + """
      SELECT r, nf_est FROM nf
    """

    # effective-diameter readout over the same nf core: smallest r with
    # nf(r) >= 0.9*nf_max, linearly interpolated; same float chain
    # (0.9*long -> double threshold, one division) on both engines
    o["q_eff_diameter"] = _nf_core + """,
      mx AS (SELECT max(nf_est) AS nf_max FROM nf),
      x AS (
        SELECT nf.r, nf.nf_est,
               coalesce(lag(nf.nf_est) OVER (ORDER BY nf.r), 0) AS prev,
               mx.nf_max, mx.nf_max * 0.9 AS thr
        FROM nf, mx
      ),
      c AS (SELECT * FROM x WHERE nf_est >= thr ORDER BY r LIMIT 1)
      SELECT nf_max::BIGINT AS nf_max,
             round(CASE WHEN r = 0 THEN 0.0
                        ELSE r - 1 + (thr - prev) / (nf_est - prev)
                   END, 6) AS eff_diameter
      FROM c
    """

    # one-way ANOVA replay: exact BIGINT group moments (n_g, Σx, Σx²),
    # one long→double division per group term; the Σ over the k group
    # terms is the only order-divergent float sum (k = |langs|,
    # absorbed by the 1e-6 render like q_chi2_independence)
    o["q_anova"] = """
      WITH base AS (
        SELECT lang::VARCHAR AS g, n_chars::BIGINT AS x FROM documents
        WHERE lang IS NOT NULL AND n_chars IS NOT NULL
      ),
      groups AS (
        SELECT g, count(*)::BIGINT AS n_g, sum(x)::BIGINT AS s_g,
               sum(x * x)::BIGINT AS q_g
        FROM base GROUP BY g
      ),
      folded AS (
        SELECT count(*)::BIGINT AS k, sum(n_g)::BIGINT AS n,
               sum(s_g)::BIGINT AS s, sum(q_g)::BIGINT AS q,
               sum((s_g * s_g)::DOUBLE / n_g::DOUBLE) AS between_raw
        FROM groups
      )
      SELECT k, n, (k - 1)::BIGINT AS dof_between,
             (n - k)::BIGINT AS dof_within,
             round(between_raw - (s * s)::DOUBLE / n::DOUBLE, 6) AS ssb,
             round(q::DOUBLE - between_raw, 6) AS ssw,
             round(CASE WHEN k - 1 > 0 THEN
               (between_raw - (s * s)::DOUBLE / n::DOUBLE)
                 / (k - 1)::DOUBLE END, 6) AS msb,
             round(CASE WHEN n - k > 0 THEN
               (q::DOUBLE - between_raw) / (n - k)::DOUBLE END, 6) AS msw,
             round(CASE WHEN k - 1 > 0 AND n - k > 0
                         AND q::DOUBLE - between_raw > 0 THEN
               ((between_raw - (s * s)::DOUBLE / n::DOUBLE)
                  / (k - 1)::DOUBLE)
               / ((q::DOUBLE - between_raw) / (n - k)::DOUBLE)
             END, 6) AS f_stat
      FROM folded
    """

    # Holt replay: the same exact-integer daily collapse as
    # q_page_hinkley, then the recursion runs as a day-indexed
    # recursive CTE whose arithmetic is written in the identical
    # operation shape as the F.aggregate fold (α = β = 0.5 exact
    # binary fractions) — bit-identical floats before the render
    o["q_holt"] = """
      WITH RECURSIVE daily AS (
        SELECT ts::DATE AS dd,
               sum(round(value * 100)::BIGINT)::BIGINT AS cents,
               count(*)::BIGINT AS cnt
        FROM events GROUP BY 1
      ),
      idx AS (
        -- x/lvl/tr/fitted must be DOUBLE: a recursive CTE takes its
        -- column types from the ANCHOR, and a DECIMAL anchor (0.0 is
        -- DECIMAL(2,1) in DuckDB) silently rounds the trend to one
        -- decimal on every iteration
        SELECT strftime(dd, '%Y-%m-%d') AS d,
               cents::DOUBLE / 100.0 / cnt AS x,
               row_number() OVER (ORDER BY dd)::BIGINT AS i
        FROM daily
      ),
      rec AS (
        SELECT i, d, x, x AS lvl, 0.0::DOUBLE AS tr, x AS fitted
        FROM idx WHERE i = 1
        UNION ALL
        SELECT nx.i, nx.d, nx.x,
               0.5 * nx.x + 0.5 * (r.lvl + r.tr) AS lvl,
               0.5 * ((0.5 * nx.x + 0.5 * (r.lvl + r.tr)) - r.lvl)
                 + 0.5 * r.tr AS tr,
               r.lvl + r.tr AS fitted
        FROM rec r JOIN idx nx ON nx.i = r.i + 1
      )
      SELECT d, round(x, 6) AS x, round(lvl, 6) AS level,
             round(tr, 6) AS trend, round(fitted, 6) AS fitted
      FROM rec
    """

    # deletion-neighborhood edit join oracle: the NAIVE all-pairs
    # levenshtein over the distinct-name table (bounded at gate sf),
    # which the signature join must reproduce exactly (FastSS is
    # complete for d=1; verification removes false candidates)
    o["q_edit_join"] = """
      WITH names AS (
        SELECT DISTINCT c_name AS name FROM customer
        WHERE c_name IS NOT NULL
      )
      SELECT a.name AS name_a, b.name AS name_b,
             levenshtein(a.name, b.name)::BIGINT AS dist
      FROM names a, names b
      WHERE a.name < b.name AND levenshtein(a.name, b.name) <= 1
    """

    # Sums truth discovery replay: every iterate is an exact BIGINT
    # (vote counts -> source trust -> trust-weighted confidence); the
    # only float is the final per-item share division
    o["q_truth_discovery"] = """
      WITH c AS (
        SELECT DISTINCT l_suppkey::VARCHAR AS s, l_partkey::VARCHAR AS i,
                        l_returnflag::VARCHAR AS v
        FROM lineitem
        WHERE l_suppkey IS NOT NULL AND l_partkey IS NOT NULL
              AND l_returnflag IS NOT NULL
      ),
      conf1 AS (
        SELECT i, v, count(*)::BIGINT AS support FROM c GROUP BY i, v
      ),
      trust AS (
        SELECT c.s, sum(conf1.support)::BIGINT AS trust
        FROM c JOIN conf1 USING (i, v) GROUP BY c.s
      ),
      conf2 AS (
        SELECT c.i, c.v, sum(trust.trust)::BIGINT AS conf
        FROM c JOIN trust USING (s) GROUP BY c.i, c.v
      ),
      scored AS (
        SELECT conf1.i, conf1.v, conf1.support, conf2.conf
        FROM conf1 JOIN conf2 USING (i, v)
      )
      SELECT i AS item, v AS value, support, conf,
             round(conf::DOUBLE /
                   (sum(conf) OVER (PARTITION BY i))::DOUBLE, 6) AS share,
             (row_number() OVER (PARTITION BY i
                                 ORDER BY conf DESC, v ASC) = 1)
               AS is_winner
      FROM scored
    """

    # Viterbi replay: the identical exact-integer DP — per-sentence
    # token index, emission scores from the same config word lists,
    # then a sentence-synchronous recursive CTE carrying the 3
    # (score, path) pairs with the same >=-ladder tiebreaks (lower
    # state index wins) as hmm._best_pred; the winning path string is
    # re-rowed by its 1-based split index
    o["q_viterbi"] = f"""
      WITH RECURSIVE {_TOKS}, {_SENTID},
      st AS (
        SELECT t.doc_id, s.sent_id, t.pos, t.tok,
               row_number() OVER (PARTITION BY t.doc_id, s.sent_id
                                  ORDER BY t.pos)::BIGINT AS i
        FROM toks t JOIN sentid s
          ON t.doc_id = s.doc_id AND t.pos = s.pos
      ),
      em AS (
        SELECT doc_id, sent_id, i, pos, tok,
               (2 * stp + 4 * (1 - cap) + 1)::BIGINT AS e_o,
               (10 * perw + 3 * cap - 4 * stp)::BIGINT AS e_per,
               (10 * locw + 3 * cap - 4 * stp)::BIGINT AS e_loc
        FROM (
          SELECT *,
                 (ascii(substr(tok, 1, 1)) BETWEEN 65 AND 90)::BIGINT
                   AS cap,
                 (tok IN ({_STOP}))::BIGINT AS stp,
                 (tok IN ({_PER}))::BIGINT AS perw,
                 (tok IN ({_LOC}))::BIGINT AS locw
          FROM st
        )
      ),
      rec AS (
        SELECT doc_id, sent_id, i,
               (2 + e_o)::BIGINT AS s0, '0' AS p0,
               e_per::BIGINT AS s1, '1' AS p1,
               e_loc::BIGINT AS s2, '2' AS p2
        FROM em WHERE i = 1
        UNION ALL
        SELECT n.doc_id, n.sent_id, n.i,
               (greatest(r.s0 + 3, r.s1 + 1, r.s2 + 1) + n.e_o)::BIGINT
                 AS s0,
               (CASE WHEN r.s0 + 3 >= r.s1 + 1 AND r.s0 + 3 >= r.s2 + 1
                       THEN r.p0
                     WHEN r.s1 + 1 >= r.s2 + 1 THEN r.p1
                     ELSE r.p2 END) || ',0' AS p0,
               (greatest(r.s0, r.s1 + 4, r.s2 - 2) + n.e_per)::BIGINT
                 AS s1,
               (CASE WHEN r.s0 >= r.s1 + 4 AND r.s0 >= r.s2 - 2
                       THEN r.p0
                     WHEN r.s1 + 4 >= r.s2 - 2 THEN r.p1
                     ELSE r.p2 END) || ',1' AS p1,
               (greatest(r.s0, r.s1 - 2, r.s2 + 4) + n.e_loc)::BIGINT
                 AS s2,
               (CASE WHEN r.s0 >= r.s1 - 2 AND r.s0 >= r.s2 + 4
                       THEN r.p0
                     WHEN r.s1 - 2 >= r.s2 + 4 THEN r.p1
                     ELSE r.p2 END) || ',2' AS p2
        FROM rec r JOIN em n
          ON n.doc_id = r.doc_id AND n.sent_id = r.sent_id
         AND n.i = r.i + 1
      ),
      slen AS (
        SELECT doc_id, sent_id, max(i)::BIGINT AS n
        FROM em GROUP BY doc_id, sent_id
      ),
      fin AS (
        SELECT r.doc_id, r.sent_id,
               string_split(
                 CASE WHEN r.s0 >= r.s1 AND r.s0 >= r.s2 THEN r.p0
                      WHEN r.s1 >= r.s2 THEN r.p1
                      ELSE r.p2 END, ',') AS ps
        FROM rec r JOIN slen l
          ON r.doc_id = l.doc_id AND r.sent_id = l.sent_id
         AND r.i = l.n
      ),
      pathrows AS (
        SELECT doc_id, sent_id, i, ps[i] AS sid
        FROM fin, unnest(range(1, len(ps) + 1)) AS u(i)
      )
      SELECT e.doc_id, e.sent_id, e.pos::BIGINT AS pos, e.tok,
             CASE p.sid WHEN '0' THEN 'O' WHEN '1' THEN 'PER'
                        ELSE 'LOC' END AS state
      FROM pathrows p JOIN em e
        ON e.doc_id = p.doc_id AND e.sent_id = p.sent_id AND e.i = p.i
    """

    # Brown–Forsythe Levene replay: doubled exact group medians off
    # the cumulative value-frequency table, then the q_anova identity
    # chain on z2 = |2x − median2_g| (every moment BIGINT; the Σ over
    # k group terms is the only order-divergent float sum)
    o["q_levene"] = """
      WITH base AS (
        SELECT lang::VARCHAR AS g, n_chars::BIGINT AS x FROM documents
        WHERE lang IS NOT NULL AND n_chars IS NOT NULL
      ),
      freq AS (
        SELECT g, x, count(*)::BIGINT AS f FROM base GROUP BY g, x
      ),
      cum AS (
        SELECT g, x,
               sum(f) OVER (PARTITION BY g ORDER BY x)::BIGINT AS cum
        FROM freq
      ),
      ng AS (SELECT g, count(*)::BIGINT AS n_g FROM base GROUP BY g),
      med AS (
        SELECT c.g,
               (min(CASE WHEN c.cum >= (n.n_g + 1) // 2 THEN c.x END)
                + min(CASE WHEN c.cum >= (n.n_g + 2) // 2 THEN c.x END)
               )::BIGINT AS median2
        FROM cum c JOIN ng n USING (g) GROUP BY c.g
      ),
      z AS (
        SELECT b.g, abs(2 * b.x - m.median2)::BIGINT AS z2
        FROM base b JOIN med m USING (g)
      ),
      groups AS (
        SELECT g, count(*)::BIGINT AS n_g, sum(z2)::BIGINT AS s_g,
               sum(z2 * z2)::BIGINT AS q_g
        FROM z GROUP BY g
      ),
      folded AS (
        SELECT count(*)::BIGINT AS k, sum(n_g)::BIGINT AS n,
               sum(s_g)::BIGINT AS s, sum(q_g)::BIGINT AS q,
               sum((s_g * s_g)::DOUBLE / n_g::DOUBLE) AS between_raw
        FROM groups
      )
      SELECT k, n, (k - 1)::BIGINT AS dof_between,
             (n - k)::BIGINT AS dof_within,
             round(between_raw - (s * s)::DOUBLE / n::DOUBLE, 6) AS ssb,
             round(q::DOUBLE - between_raw, 6) AS ssw,
             round(CASE WHEN k - 1 > 0 AND n - k > 0
                         AND q::DOUBLE - between_raw > 0 THEN
               ((between_raw - (s * s)::DOUBLE / n::DOUBLE)
                  / (k - 1)::DOUBLE)
               / ((q::DOUBLE - between_raw) / (n - k)::DOUBLE)
             END, 6) AS w_stat
      FROM folded
    """

    # TextRank replay: token co-occurrence edges (distance ≤ 2 within
    # a document, self-pairs dropped, least/greatest dedup) feeding
    # the SAME two unrolled PageRank steps as the q_pagerank twin
    o["q_textrank"] = f"""
      WITH {_TOKS},
      edges AS (
        SELECT DISTINCT least(a.tok, b.tok) AS a,
                        greatest(a.tok, b.tok) AS b
        FROM toks a JOIN toks b
          ON a.doc_id = b.doc_id AND b.pos > a.pos
         AND b.pos <= a.pos + 2
        WHERE a.tok != b.tok
      ),
      sym AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
      deg AS (SELECT a AS node, count(*)::DOUBLE AS deg
              FROM sym GROUP BY a),
      nn AS (SELECT count(*)::DOUBLE AS n FROM deg),
      r0 AS (SELECT node, deg, 1.0 / (SELECT n FROM nn) AS rank
             FROM deg),
      c1 AS (SELECT s.b AS node, sum(r.rank / r.deg) AS in_mass
             FROM sym s JOIN r0 r ON s.a = r.node GROUP BY s.b),
      r1 AS (SELECT r.node, r.deg,
                    0.15 / (SELECT n FROM nn)
                      + 0.85 * coalesce(c.in_mass, 0) AS rank
             FROM r0 r LEFT JOIN c1 c USING (node)),
      c2 AS (SELECT s.b AS node, sum(r.rank / r.deg) AS in_mass
             FROM sym s JOIN r1 r ON s.a = r.node GROUP BY s.b),
      r2 AS (SELECT r.node, r.deg,
                    0.15 / (SELECT n FROM nn)
                      + 0.85 * coalesce(c.in_mass, 0) AS rank
             FROM r1 r LEFT JOIN c2 c USING (node))
      SELECT node AS token, round(rank, 6) AS rank FROM r2
    """

    # decision-stump replay: cumulative class counts off the
    # distinct-value table; each candidate's m is the identical
    # two-division op shape, argmax by (m DESC, threshold ASC)
    o["q_stump"] = """
      WITH base AS (
        SELECT n_chars::BIGINT AS x, (lang = 'en')::BIGINT AS y
        FROM documents
        WHERE n_chars IS NOT NULL AND lang IS NOT NULL
      ),
      freq AS (
        SELECT x, count(*)::BIGINT AS cnt, sum(y)::BIGINT AS pos
        FROM base GROUP BY x
      ),
      cum AS (
        SELECT x, sum(cnt) OVER (ORDER BY x)::BIGINT AS n_l,
               sum(pos) OVER (ORDER BY x)::BIGINT AS pos_l
        FROM freq
      ),
      tot AS (SELECT sum(cnt)::BIGINT AS n, sum(pos)::BIGINT AS pos_t
              FROM freq),
      scored AS (
        SELECT x, n_l, pos_l, n, pos_t,
               (n - n_l)::BIGINT AS n_r,
               (pos_t - pos_l)::BIGINT AS pos_r,
               ((pos_l * pos_l)::DOUBLE
                  + ((n_l - pos_l) * (n_l - pos_l))::DOUBLE)
                 / n_l::DOUBLE
               + (((pos_t - pos_l) * (pos_t - pos_l))::DOUBLE
                  + (((n - n_l) - (pos_t - pos_l))
                     * ((n - n_l) - (pos_t - pos_l)))::DOUBLE)
                 / (n - n_l)::DOUBLE AS m,
               1.0 - ((pos_l * pos_l)::DOUBLE
                      + ((n_l - pos_l) * (n_l - pos_l))::DOUBLE)
                     / ((n_l * n_l)::DOUBLE) AS gini_left,
               1.0 - (((pos_t - pos_l) * (pos_t - pos_l))::DOUBLE
                      + (((n - n_l) - (pos_t - pos_l))
                         * ((n - n_l) - (pos_t - pos_l)))::DOUBLE)
                     / (((n - n_l) * (n - n_l))::DOUBLE) AS gini_right
        FROM cum, tot WHERE n_l < n
      ),
      best AS (SELECT * FROM scored ORDER BY m DESC, x ASC LIMIT 1)
      SELECT x AS threshold, n_l AS n_left, n_r AS n_right,
             pos_l AS pos_left, pos_r AS pos_right,
             round(gini_left, 6) AS gini_left,
             round(gini_right, 6) AS gini_right,
             round((n::DOUBLE - m) / n::DOUBLE, 6) AS weighted_gini,
             round((1.0 - ((pos_t * pos_t)::DOUBLE
                           + ((n - pos_t) * (n - pos_t))::DOUBLE)
                          / ((n * n)::DOUBLE))
                   - (n::DOUBLE - m) / n::DOUBLE, 6) AS gain
      FROM best
    """

    # Allen replay: the identical mutually-exclusive CASE ladder over
    # the same (user, type) min/max intervals — order matters, each
    # branch assumes every earlier one failed
    o["q_allen"] = """
      WITH iv AS (
        SELECT user_id, event_type, min(ts) AS s, max(ts) AS e
        FROM events GROUP BY 1, 2
      )
      SELECT a.user_id, a.event_type AS type_a, b.event_type AS type_b,
             CASE WHEN a.s = b.s AND a.e = b.e THEN 'equals'
                  WHEN a.e < b.s THEN 'before'
                  WHEN b.e < a.s THEN 'after'
                  WHEN a.e = b.s THEN 'meets'
                  WHEN b.e = a.s THEN 'met_by'
                  WHEN a.s = b.s AND a.e < b.e THEN 'starts'
                  WHEN a.s = b.s AND a.e > b.e THEN 'started_by'
                  WHEN a.e = b.e AND a.s > b.s THEN 'finishes'
                  WHEN a.e = b.e AND a.s < b.s THEN 'finished_by'
                  WHEN a.s > b.s AND a.e < b.e THEN 'during'
                  WHEN a.s < b.s AND a.e > b.e THEN 'contains'
                  WHEN a.s < b.s AND b.s < a.e AND a.e < b.e THEN 'overlaps'
                  ELSE 'overlapped_by' END AS relation
      FROM iv a JOIN iv b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
    """

    # CUPED replay: exact BIGINT moments, every moment cast ::DOUBLE
    # BEFORE the n·ΣXY-style products (int64-wrap stance), theta and
    # rho2 as the same fixed-order chains
    o["q_cuped"] = """
      WITH pu AS (
        SELECT user_id,
               sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END)::BIGINT AS x,
               sum(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END)::BIGINT AS y
        FROM events GROUP BY 1
      ),
      mom AS (
        SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
               sum(y)::BIGINT AS sy, sum(x * y)::BIGINT AS sxy,
               sum(x * x)::BIGINT AS sxx, sum(y * y)::BIGINT AS syy
        FROM pu
      ),
      g AS (
        SELECT
          CASE WHEN (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) > 0.0
                AND (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) > 0.0
               THEN (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                    / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
               ELSE 0.0 END AS theta,
          CASE WHEN (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) > 0.0
                AND (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) > 0.0
               THEN (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                    * (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                    / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                    / (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)
               ELSE 0.0 END AS rho2,
          sx::DOUBLE / n::DOUBLE AS xbar
        FROM mom
      ),
      arms AS (
        SELECT (user_id % 2)::BIGINT AS variant, count(*)::BIGINT AS nv,
               sum(x)::BIGINT AS sxv, sum(y)::BIGINT AS syv
        FROM pu GROUP BY 1
      )
      SELECT variant, nv AS n,
             round(syv::DOUBLE / nv::DOUBLE, 6) AS mean_y,
             round(syv::DOUBLE / nv::DOUBLE
                   - theta * (sxv::DOUBLE / nv::DOUBLE - xbar), 6) AS mean_cuped,
             round(theta, 6) AS theta, round(rho2, 6) AS rho2
      FROM arms, g ORDER BY variant
    """

    # BH replay: the exact df=2 survival p = exp(−χ²/2); every
    # p-decision (rank order, step-up comparison) micro-quantized at
    # round(·, 9) because libm exp is the one non-correctly-rounded
    # call in the chain
    o["q_bh_fdr"] = """
      WITH base AS (
        SELECT doc_id,
               CASE WHEN lang = 'en' THEN 'en'
                    WHEN lang = 'zh' THEN 'zh'
                    ELSE 'other' END AS g,
               text
        FROM documents WHERE coalesce(text, '') != ''
      ),
      toks AS (
        SELECT g, u.tok
        FROM base, unnest(list_distinct(string_split(text, ' '))) AS u(tok)
      ),
      pt AS (
        SELECT tok,
               sum(CASE WHEN g = 'en' THEN 1 ELSE 0 END)::BIGINT AS a1,
               sum(CASE WHEN g = 'zh' THEN 1 ELSE 0 END)::BIGINT AS a2,
               sum(CASE WHEN g = 'other' THEN 1 ELSE 0 END)::BIGINT AS a3
        FROM toks GROUP BY tok
      ),
      tot AS (
        SELECT sum(CASE WHEN g = 'en' THEN 1 ELSE 0 END)::BIGINT AS n1,
               sum(CASE WHEN g = 'zh' THEN 1 ELSE 0 END)::BIGINT AS n2,
               sum(CASE WHEN g = 'other' THEN 1 ELSE 0 END)::BIGINT AS n3,
               count(*)::BIGINT AS nn
        FROM base
      ),
      cells AS (SELECT * FROM pt, tot WHERE a1 + a2 + a3 >= 5),
      chi AS (
        SELECT tok,
          CASE WHEN (a1 + a2 + a3) = 0 OR (a1 + a2 + a3) = nn
                 OR n1 = 0 OR n2 = 0 OR n3 = 0
               THEN 0.0::DOUBLE
               ELSE (((a1::DOUBLE - (a1 + a2 + a3)::DOUBLE * n1::DOUBLE / nn::DOUBLE) * (a1::DOUBLE - (a1 + a2 + a3)::DOUBLE * n1::DOUBLE / nn::DOUBLE) / ((a1 + a2 + a3)::DOUBLE * n1::DOUBLE / nn::DOUBLE) + ((n1 - a1)::DOUBLE - (nn::DOUBLE - (a1 + a2 + a3)::DOUBLE) * n1::DOUBLE / nn::DOUBLE) * ((n1 - a1)::DOUBLE - (nn::DOUBLE - (a1 + a2 + a3)::DOUBLE) * n1::DOUBLE / nn::DOUBLE) / ((nn::DOUBLE - (a1 + a2 + a3)::DOUBLE) * n1::DOUBLE / nn::DOUBLE)) + ((a2::DOUBLE - (a1 + a2 + a3)::DOUBLE * n2::DOUBLE / nn::DOUBLE) * (a2::DOUBLE - (a1 + a2 + a3)::DOUBLE * n2::DOUBLE / nn::DOUBLE) / ((a1 + a2 + a3)::DOUBLE * n2::DOUBLE / nn::DOUBLE) + ((n2 - a2)::DOUBLE - (nn::DOUBLE - (a1 + a2 + a3)::DOUBLE) * n2::DOUBLE / nn::DOUBLE) * ((n2 - a2)::DOUBLE - (nn::DOUBLE - (a1 + a2 + a3)::DOUBLE) * n2::DOUBLE / nn::DOUBLE) / ((nn::DOUBLE - (a1 + a2 + a3)::DOUBLE) * n2::DOUBLE / nn::DOUBLE))) + ((a3::DOUBLE - (a1 + a2 + a3)::DOUBLE * n3::DOUBLE / nn::DOUBLE) * (a3::DOUBLE - (a1 + a2 + a3)::DOUBLE * n3::DOUBLE / nn::DOUBLE) / ((a1 + a2 + a3)::DOUBLE * n3::DOUBLE / nn::DOUBLE) + ((n3 - a3)::DOUBLE - (nn::DOUBLE - (a1 + a2 + a3)::DOUBLE) * n3::DOUBLE / nn::DOUBLE) * ((n3 - a3)::DOUBLE - (nn::DOUBLE - (a1 + a2 + a3)::DOUBLE) * n3::DOUBLE / nn::DOUBLE) / ((nn::DOUBLE - (a1 + a2 + a3)::DOUBLE) * n3::DOUBLE / nn::DOUBLE))
               END AS chi2
        FROM cells
      ),
      scored AS (SELECT tok, chi2, exp(-chi2 / 2.0::DOUBLE) AS p FROM chi),
      ranked AS (
        SELECT tok, chi2, p, round(p, 9) AS p9,
               row_number() OVER (ORDER BY round(p, 9) ASC, tok ASC)::BIGINT
                 AS bh_rank,
               count(*) OVER ()::BIGINT AS m
        FROM scored
      ),
      kstar AS (
        SELECT coalesce(
                 max(CASE WHEN p9 <= round(0.05::DOUBLE * bh_rank::DOUBLE
                                           / m::DOUBLE, 9)
                          THEN bh_rank END), 0)::BIGINT AS k
        FROM ranked
      )
      SELECT tok, round(chi2, 6) AS chi2, round(p, 6) AS p, bh_rank,
             bh_rank <= (SELECT k FROM kstar) AS rejected
      FROM ranked
    """

    # Holm replay: the BH oracle's shared prefix (everything through
    # `ranked`) + the step-down rule.  Split on the kstar CTE marker —
    # if the marker ever disappears the SQL is malformed and the gate
    # fails LOUDLY (not the silent-no-op failure mode ADVICE r4
    # flagged for string surgery).
    _chi2_ranked_prefix = o["q_bh_fdr"].split("      kstar AS (")[0]
    o["q_holm"] = _chi2_ranked_prefix + """      ff AS (
        SELECT coalesce(
                 min(CASE WHEN p9 > round(0.05::DOUBLE
                                          / (m - bh_rank + 1)::DOUBLE, 9)
                          THEN bh_rank END),
                 max(m) + 1)::BIGINT AS ff
        FROM ranked
      )
      SELECT tok, round(chi2, 6) AS chi2, round(p, 6) AS p,
             bh_rank AS rank,
             bh_rank < (SELECT ff FROM ff) AS rejected
      FROM ranked
    """

    # SRM replay: distinct users, the parity split, two float ops
    o["q_srm"] = """
      WITH per AS (SELECT DISTINCT user_id FROM events),
      g AS (
        SELECT count(*)::BIGINT AS n,
          sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT
            AS n_a,
          sum(CASE WHEN user_id % 2 != 0 THEN 1 ELSE 0 END)::BIGINT
            AS n_b
        FROM per
      )
      SELECT n, n_a, n_b,
        round(CASE WHEN n > 0
          THEN (n_a - n_b)::DOUBLE / sqrt(n::DOUBLE)
          ELSE 0.0 END, 6) AS z,
        round((CASE WHEN n > 0
          THEN (n_a - n_b)::DOUBLE / sqrt(n::DOUBLE) ELSE 0.0 END)
          * (CASE WHEN n > 0
             THEN (n_a - n_b)::DOUBLE / sqrt(n::DOUBLE)
             ELSE 0.0 END), 6) AS chi2,
        (abs(CASE WHEN n > 0
             THEN (n_a - n_b)::DOUBLE / sqrt(n::DOUBLE)
             ELSE 0.0 END) > 3.0) AS srm_flag
      FROM g
    """

    # Welch t replay: the same six exact BIGINT moments, the same
    # fixed float chain (variance via (n·Q − S²)/(n·(n−1)), Welch–
    # Satterthwaite dof, pooled-SD Cohen's d)
    o["q_welch_t"] = """
      WITH base AS (
        SELECT lang AS g, n_chars::BIGINT AS x FROM documents
        WHERE lang IN ('en', 'zh') AND n_chars IS NOT NULL
      ),
      m AS (
        SELECT
          sum(CASE WHEN g = 'en' THEN 1 ELSE 0 END)::BIGINT AS n_a,
          sum(CASE WHEN g = 'en' THEN x ELSE 0 END)::BIGINT AS s_a,
          sum(CASE WHEN g = 'en' THEN x * x ELSE 0 END)::BIGINT AS q_a,
          sum(CASE WHEN g <> 'en' THEN 1 ELSE 0 END)::BIGINT AS n_b,
          sum(CASE WHEN g <> 'en' THEN x ELSE 0 END)::BIGINT AS s_b,
          sum(CASE WHEN g <> 'en' THEN x * x ELSE 0 END)::BIGINT AS q_b
        FROM base
      ),
      c AS (
        SELECT n_a, n_b,
          s_a::DOUBLE / n_a::DOUBLE AS mean_a,
          s_b::DOUBLE / n_b::DOUBLE AS mean_b,
          (n_a * q_a - s_a * s_a)::DOUBLE / (n_a * (n_a - 1))::DOUBLE AS var_a,
          (n_b * q_b - s_b * s_b)::DOUBLE / (n_b * (n_b - 1))::DOUBLE AS var_b
        FROM m
      ),
      s AS (
        SELECT *, var_a / n_a::DOUBLE AS se_a, var_b / n_b::DOUBLE AS se_b,
          var_a / n_a::DOUBLE + var_b / n_b::DOUBLE AS se2,
          ((n_a - 1)::DOUBLE * var_a + (n_b - 1)::DOUBLE * var_b)
            / (n_a + n_b - 2)::DOUBLE AS pooled,
          (n_a >= 2 AND n_b >= 2
           AND var_a / n_a::DOUBLE + var_b / n_b::DOUBLE > 0) AS ok
        FROM c
      )
      SELECT n_a, n_b,
        round(mean_a, 6) AS mean_a, round(mean_b, 6) AS mean_b,
        round(var_a, 6) AS var_a, round(var_b, 6) AS var_b,
        round(CASE WHEN ok THEN (mean_a - mean_b) / sqrt(se2) END, 6)
          AS t_stat,
        round(CASE WHEN ok THEN (se2 * se2)
               / (se_a * se_a / (n_a - 1)::DOUBLE
                  + se_b * se_b / (n_b - 1)::DOUBLE) END, 6) AS dof,
        round(CASE WHEN ok AND pooled > 0
               THEN (mean_a - mean_b) / sqrt(pooled) END, 6) AS cohens_d
      FROM s
    """

    # TOST replay: the welch moment chain with the ±margin one-sided
    # statistics
    o["q_tost"] = """
      WITH base AS (
        SELECT lang AS g, n_chars::BIGINT AS x FROM documents
        WHERE lang IN ('en', 'de') AND n_chars IS NOT NULL
      ),
      m AS (
        SELECT
          sum(CASE WHEN g = 'en' THEN 1 ELSE 0 END)::BIGINT AS n_a,
          sum(CASE WHEN g = 'en' THEN x ELSE 0 END)::BIGINT AS s_a,
          sum(CASE WHEN g = 'en' THEN x * x ELSE 0 END)::BIGINT AS q_a,
          sum(CASE WHEN g <> 'en' THEN 1 ELSE 0 END)::BIGINT AS n_b,
          sum(CASE WHEN g <> 'en' THEN x ELSE 0 END)::BIGINT AS s_b,
          sum(CASE WHEN g <> 'en' THEN x * x ELSE 0 END)::BIGINT AS q_b
        FROM base
      ),
      c AS (
        SELECT n_a, n_b,
          s_a::DOUBLE / n_a::DOUBLE AS mean_a,
          s_b::DOUBLE / n_b::DOUBLE AS mean_b,
          (n_a * q_a - s_a * s_a)::DOUBLE / (n_a * (n_a - 1))::DOUBLE AS var_a,
          (n_b * q_b - s_b * s_b)::DOUBLE / (n_b * (n_b - 1))::DOUBLE AS var_b
        FROM m
      ),
      s AS (
        SELECT *, var_a / n_a::DOUBLE AS se_a, var_b / n_b::DOUBLE AS se_b,
          var_a / n_a::DOUBLE + var_b / n_b::DOUBLE AS se2,
          (n_a >= 2 AND n_b >= 2
           AND var_a / n_a::DOUBLE + var_b / n_b::DOUBLE > 0) AS ok
        FROM c
      )
      SELECT n_a, n_b,
        round(mean_a - mean_b, 6) AS mean_diff,
        round(CASE WHEN ok THEN sqrt(se2) END, 6) AS se,
        round(CASE WHEN ok THEN (se2 * se2)
               / (se_a * se_a / (n_a - 1)::DOUBLE
                  + se_b * se_b / (n_b - 1)::DOUBLE) END, 6) AS dof,
        round(CASE WHEN ok
               THEN (mean_a - mean_b + 25.0) / sqrt(se2) END, 6) AS t_lower,
        round(CASE WHEN ok
               THEN (mean_a - mean_b - 25.0) / sqrt(se2) END, 6) AS t_upper
      FROM s
    """

    # Wasserstein-1 replay: distinct-value grid, cumulative cross-
    # multiplied CDF gaps, exact integer numerator, one division
    o["q_wasserstein"] = """
      WITH base AS (
        SELECT lang AS g, n_chars::BIGINT AS v FROM documents
        WHERE n_chars IS NOT NULL AND lang IN ('en', 'zh')
      ),
      cells AS (
        SELECT v,
          sum(CASE WHEN g = 'en' THEN 1 ELSE 0 END)::BIGINT AS ca,
          sum(CASE WHEN g = 'zh' THEN 1 ELSE 0 END)::BIGINT AS cb
        FROM base GROUP BY v
      ),
      tot AS (SELECT sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b
              FROM cells),
      stepped AS (
        SELECT v,
          sum(ca) OVER (ORDER BY v)::BIGINT AS cuma,
          sum(cb) OVER (ORDER BY v)::BIGINT AS cumb,
          lead(v) OVER (ORDER BY v) - v AS gap
        FROM cells
        QUALIFY lead(v) OVER (ORDER BY v) IS NOT NULL
      ),
      num AS (
        SELECT sum(abs(cuma * t.n_b - cumb * t.n_a) * gap)::BIGINT
                 AS w1_num
        FROM stepped, tot t
      )
      SELECT t.n_a, t.n_b,
        coalesce(w1_num, 0)::BIGINT AS w1_num,
        round(coalesce(CASE WHEN t.n_a > 0 AND t.n_b > 0
          THEN w1_num::DOUBLE / (t.n_a::DOUBLE * t.n_b::DOUBLE) END,
          0.0), 6) AS w1
      FROM tot t, num
    """

    # Brier replay: exact BIGINT Σ(cap−500y)² for the score, per-bin
    # REL/RES fixed float chains over exact bin moments
    o["q_brier"] = """
      WITH d AS (
        SELECT least(least(n_chars, 500) // 50, 9)::BIGINT AS bin,
               least(n_chars, 500)::BIGINT AS cap,
               (CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS y
        FROM documents
      ),
      bins AS (
        SELECT bin, count(*)::BIGINT AS nb, sum(cap)::BIGINT AS sb,
               sum(y)::BIGINT AS pb,
               sum((cap - 500 * y) * (cap - 500 * y))::BIGINT AS sq
        FROM d GROUP BY bin
      ),
      tot AS (
        SELECT sum(nb)::BIGINT AS n, sum(pb)::BIGINT AS p,
               sum(sq)::BIGINT AS sq_tot
        FROM bins
      ),
      g AS (
        SELECT max(t.n)::BIGINT AS n, max(t.p)::BIGINT AS p,
          max(t.sq_tot)::BIGINT AS sq_tot,
          sum((sb - 500 * pb)::DOUBLE * (sb - 500 * pb)::DOUBLE
              / nb::DOUBLE) AS rel_num,
          sum((pb * t.n - nb * t.p)::DOUBLE * (pb * t.n - nb * t.p)::DOUBLE
              / nb::DOUBLE) AS res_num
        FROM bins, tot t
      )
      SELECT n,
        round(sq_tot::DOUBLE / (250000.0 * n::DOUBLE), 6) AS brier,
        round(rel_num / (250000.0 * n::DOUBLE), 6) AS reliability,
        round(res_num / ((n::DOUBLE * n::DOUBLE) * n::DOUBLE), 6)
          AS resolution,
        round(p::DOUBLE * (n - p)::DOUBLE / (n::DOUBLE * n::DOUBLE), 6)
          AS uncertainty
      FROM g
    """

    # McNemar replay: Gopher keep ⋈ C4 NOT doc_dropped per doc (both
    # gate derivations inlined, identical to their standalone oracles),
    # four conditional BIGINT counts, Edwards continuity correction
    o["q_mcnemar"] = f"""
      WITH gbase AS (
        SELECT doc_id, coalesce(text, '') AS t FROM documents
      ),
      gm AS (
        SELECT doc_id,
          len(string_split(t, ' '))::BIGINT AS n,
          len(string_split(t, chr(10)))::BIGINT AS n_lines,
          (length(t) - (len(string_split(t, ' ')) - 1))::BIGINT
            AS chars_in_words,
          (length(t) - length(replace(t, '#', '')))::BIGINT AS n_hash,
          ((length(t) - length(replace(t, '...', ''))) // 3)::BIGINT
            AS n_ellipsis,
          len(list_filter(string_split(t, chr(10)),
              l -> starts_with(l, '- ') OR starts_with(l, '* ')))::BIGINT
            AS n_bullet,
          len(list_filter(string_split(t, chr(10)),
              l -> ends_with(l, '...')))::BIGINT AS n_ell_end,
          len(list_filter(string_split(t, ' '),
              x -> regexp_matches(x, '[A-Za-z]')))::BIGINT AS n_alpha,
          len(list_intersect(list_distinct(string_split(t, ' ')),
              [{_gstops}]))::BIGINT AS n_stops
        FROM gbase
      ),
      gk AS (
        SELECT doc_id,
          ((n >= 50 AND n <= 100000)
           AND (chars_in_words >= 3 * n AND chars_in_words <= 10 * n)
           AND ((n_hash + n_ellipsis) * 10 <= n)
           AND (n_bullet * 10 <= n_lines * 9)
           AND (n_ell_end * 10 <= n_lines * 3)
           AND (n_alpha * 5 >= n * 4)
           AND (n_stops >= 2)) AS a
        FROM gm
      ),
      cbase AS (
        SELECT doc_id,
               replace(coalesce(text, ''), ' the ', '.' || chr(10)) AS t
        FROM documents
      ),
      ck AS (
        SELECT doc_id,
          NOT (contains(lower(t), 'lorem ipsum') OR contains(t, '{{')
               OR len(list_filter(string_split(t, chr(10)),
                 l -> (ends_with(l, '.') OR ends_with(l, '!')
                       OR ends_with(l, '?') OR ends_with(l, '"'))
                      AND len(string_split(l, ' ')) >= 5
                      AND NOT contains(lower(l), 'javascript'))) < 3) AS b
        FROM cbase
      ),
      pairs AS (SELECT a, b FROM gk JOIN ck USING (doc_id)),
      agg AS (
        SELECT count(*)::BIGINT AS n,
          sum(CASE WHEN a AND b THEN 1 ELSE 0 END)::BIGINT AS n_both,
          sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)::BIGINT
            AS n_neither,
          sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)::BIGINT AS n_a_only,
          sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)::BIGINT AS n_b_only
        FROM pairs
      )
      SELECT n, n_both, n_neither, n_a_only, n_b_only,
        round(CASE WHEN n_a_only + n_b_only > 0 THEN
          (abs(n_a_only - n_b_only)::DOUBLE - 1.0)
          * (abs(n_a_only - n_b_only)::DOUBLE - 1.0)
          / (n_a_only + n_b_only)::DOUBLE END, 6) AS chi2_cc
      FROM agg
    """

    # CMH replay: per-lang exact 2×2 BIGINT cells (even source index ×
    # long doc), the identical per-stratum E/V/odds float chains
    # micro-quantized at 10⁶ (the B³ device) so the only cross-engine
    # order-divergent Σ is an exact integer sum, then the fixed final
    # float tree
    o["q_cmh"] = """
      WITH cells AS (
        SELECT lang AS k,
          sum(CASE WHEN x AND y THEN 1 ELSE 0 END)::BIGINT AS a,
          sum(CASE WHEN x AND NOT y THEN 1 ELSE 0 END)::BIGINT AS b,
          sum(CASE WHEN NOT x AND y THEN 1 ELSE 0 END)::BIGINT AS c,
          sum(CASE WHEN NOT x AND NOT y THEN 1 ELSE 0 END)::BIGINT AS d
        FROM (
          SELECT lang,
                 substr(source, 4)::INTEGER % 2 = 0 AS x,
                 n_chars >= 300 AS y
          FROM documents
          WHERE lang IS NOT NULL AND source IS NOT NULL
            AND n_chars IS NOT NULL
        )
        GROUP BY lang
        HAVING a + b + c + d >= 2
      ),
      per AS (
        SELECT a, (a + b + c + d)::BIGINT AS nk,
          round(1000000.0 * (a + b)::DOUBLE * (a + c)::DOUBLE
                / (a + b + c + d)::DOUBLE, 0)::BIGINT AS eq,
          round(1000000.0
                * ((a + b)::DOUBLE * (c + d)::DOUBLE)
                * ((a + c)::DOUBLE * (b + d)::DOUBLE)
                / (((a + b + c + d)::DOUBLE * (a + b + c + d)::DOUBLE)
                   * (a + b + c + d - 1)::DOUBLE), 0)::BIGINT AS vq,
          round(1000000.0 * (a * d)::DOUBLE
                / (a + b + c + d)::DOUBLE, 0)::BIGINT AS rq,
          round(1000000.0 * (b * c)::DOUBLE
                / (a + b + c + d)::DOUBLE, 0)::BIGINT AS sq
        FROM cells
      ),
      tot AS (
        SELECT count(*)::BIGINT AS n_strata, sum(nk)::BIGINT AS n,
               sum(a)::BIGINT AS sum_a, sum(eq)::BIGINT AS eqs,
               sum(vq)::BIGINT AS vqs, sum(rq)::BIGINT AS rqs,
               sum(sq)::BIGINT AS sqs
        FROM per
      )
      SELECT n_strata, n, sum_a,
        round(CASE WHEN vqs::DOUBLE / 1000000.0 > 0 THEN
          (sum_a::DOUBLE - eqs::DOUBLE / 1000000.0)
          * (sum_a::DOUBLE - eqs::DOUBLE / 1000000.0)
          / (vqs::DOUBLE / 1000000.0) END, 6) AS cmh_chi2,
        round(CASE WHEN sqs > 0
          THEN rqs::DOUBLE / sqs::DOUBLE END, 6) AS or_mh
      FROM tot
    """

    # Slope One replay: fixed-point DIV ratings, pair deviations,
    # the collapsed integer prediction, micro-quantized errors
    o["q_slope_one"] = """
      WITH ratings AS (
        SELECT user_id, event_type AS item,
               (sum(round(value * 100, 0)::BIGINT) * 1000)
                 // count(*) AS r
        FROM events GROUP BY 1, 2
      ),
      dev AS (
        SELECT a.item AS j, b.item AS i,
               sum(a.r - b.r)::BIGINT AS devnum, count(*)::BIGINT AS c
        FROM ratings a JOIN ratings b
          ON a.user_id = b.user_id AND a.item != b.item
        GROUP BY 1, 2
      ),
      pred AS (
        SELECT rr.user_id, d.j AS item,
               sum(d.devnum + rr.r * d.c)::BIGINT AS num,
               sum(d.c)::BIGINT AS den
        FROM ratings rr JOIN dev d ON d.i = rr.item
        GROUP BY 1, 2
      ),
      scored AS (
        SELECT p.item,
               round(1000000.0
                     * abs(p.num::DOUBLE / p.den::DOUBLE - r.r::DOUBLE)
                     / 1000.0 / 100.0, 0)::BIGINT AS err_q
        FROM pred p JOIN ratings r
          ON r.user_id = p.user_id AND r.item = p.item
      )
      SELECT item AS event_type, count(*)::BIGINT AS n_pred,
             round(sum(err_q)::DOUBLE / count(*)::DOUBLE / 1000000.0, 6)
               AS mae
      FROM scored GROUP BY 1
    """

    # Kendall τ-b replay: identical bucket derivation, contingency
    # cells, cell-pair concordance join, exact binomial tie terms
    o["q_kendall_tau"] = """
      WITH base AS (
        SELECT n_chars // 100 AS x,
               least(len(CASE WHEN coalesce(text, '') = ''
                             THEN []::VARCHAR[]
                             ELSE string_split(text, ' ') END) // 10,
                     9)::BIGINT AS y
        FROM documents
        WHERE n_chars IS NOT NULL
      ),
      cells AS (SELECT x, y, count(*)::BIGINT AS c FROM base GROUP BY 1, 2),
      xm AS (SELECT x, sum(c)::BIGINT AS t FROM cells GROUP BY x),
      ym AS (SELECT y, sum(c)::BIGINT AS t FROM cells GROUP BY y),
      tx AS (SELECT sum((t * (t - 1)) // 2)::BIGINT AS ties_x FROM xm),
      ty AS (SELECT sum((t * (t - 1)) // 2)::BIGINT AS ties_y FROM ym),
      tot AS (SELECT sum(c)::BIGINT AS n FROM cells),
      pairs AS (
        SELECT
          sum(CASE WHEN a.y < b.y THEN a.c * b.c ELSE 0 END)::BIGINT
            AS concordant,
          sum(CASE WHEN a.y > b.y THEN a.c * b.c ELSE 0 END)::BIGINT
            AS discordant
        FROM cells a JOIN cells b ON a.x < b.x
      )
      SELECT n, ((n * (n - 1)) // 2)::BIGINT AS n_pairs,
        concordant, discordant, ties_x, ties_y,
        round(CASE WHEN ((n * (n - 1)) // 2 - ties_x) > 0
                    AND ((n * (n - 1)) // 2 - ties_y) > 0
          THEN (concordant - discordant)::DOUBLE
               / sqrt(((n * (n - 1)) // 2 - ties_x)::DOUBLE
                      * ((n * (n - 1)) // 2 - ties_y)::DOUBLE)
          END, 6) AS tau_b
      FROM tot, tx, ty, pairs
    """

    # Cronbach replay: the four gate items, 2k+3 exact BIGINT moments,
    # the cancelled-denominator variance ratio
    o["q_cronbach"] = """
      WITH f AS (
        SELECT
          CASE WHEN coalesce(n_chars, 0) >= 300 THEN 1 ELSE 0 END AS i0,
          CASE WHEN len(CASE WHEN coalesce(text, '') = ''
                            THEN []::VARCHAR[]
                            ELSE string_split(text, ' ') END) >= 50
               THEN 1 ELSE 0 END AS i1,
          CASE WHEN contains(coalesce(text, ''), ' the ')
               THEN 1 ELSE 0 END AS i2,
          CASE WHEN ends_with(coalesce(text, ''), '.')
                 OR ends_with(coalesce(text, ''), '?')
                 OR ends_with(coalesce(text, ''), '!')
               THEN 1 ELSE 0 END AS i3
        FROM documents
      ),
      g AS (
        SELECT count(*)::BIGINT AS n,
          sum(i0)::BIGINT AS s0, sum(i0 * i0)::BIGINT AS q0,
          sum(i1)::BIGINT AS s1, sum(i1 * i1)::BIGINT AS q1,
          sum(i2)::BIGINT AS s2, sum(i2 * i2)::BIGINT AS q2,
          sum(i3)::BIGINT AS s3, sum(i3 * i3)::BIGINT AS q3,
          sum(i0 + i1 + i2 + i3)::BIGINT AS sx,
          sum((i0 + i1 + i2 + i3) * (i0 + i1 + i2 + i3))::BIGINT AS qx
        FROM f
      )
      SELECT n, 4::BIGINT AS k,
        ((n * q0 - s0 * s0) + (n * q1 - s1 * s1) + (n * q2 - s2 * s2)
         + (n * q3 - s3 * s3))::BIGINT AS items_var_num,
        (n * qx - sx * sx)::BIGINT AS total_var_num,
        round(CASE WHEN n >= 2 AND n * qx - sx * sx > 0 THEN
          (4.0 / 3.0)
          * (1.0 - ((n * q0 - s0 * s0) + (n * q1 - s1 * s1)
                    + (n * q2 - s2 * s2) + (n * q3 - s3 * s3))::DOUBLE
                   / (n * qx - sx * sx)::DOUBLE)
          END, 6) AS alpha
      FROM g
    """

    # Runs-test replay: exact cents per day, integer cross-multiplied
    # above-mean dichotomy, lag window over the day rows, closed-form z
    o["q_runs_test"] = """
      WITH daily AS (
        SELECT ts::DATE AS d,
               sum(round(value * 100, 0)::BIGINT)::BIGINT AS dc,
               count(*)::BIGINT AS dn
        FROM events GROUP BY 1
      ),
      tot AS (SELECT sum(dc)::BIGINT AS tc, sum(dn)::BIGINT AS tn FROM daily),
      flags AS (SELECT d, dc * tn > tc * dn AS f FROM daily, tot),
      stepped AS (SELECT f, lag(f) OVER (ORDER BY d) AS prev FROM flags),
      agg AS (
        SELECT count(*)::BIGINT AS n,
          sum(CASE WHEN f THEN 1 ELSE 0 END)::BIGINT AS n_true,
          sum(CASE WHEN NOT f THEN 1 ELSE 0 END)::BIGINT AS n_false,
          (1 + sum(CASE WHEN prev IS NOT NULL AND f != prev
                        THEN 1 ELSE 0 END))::BIGINT AS runs
        FROM stepped
      ),
      s AS (
        SELECT n, n_true, n_false, runs,
          2.0 * n_true::DOUBLE * n_false::DOUBLE AS p2
        FROM agg
      )
      SELECT n, n_true, n_false,
        CASE WHEN n > 0 THEN runs ELSE 0 END AS runs,
        round(CASE WHEN n_true > 0 AND n_false > 0 AND n >= 2
                    AND p2 * (p2 - n::DOUBLE)
                        / ((n::DOUBLE * n::DOUBLE) * (n - 1)::DOUBLE) > 0
          THEN (runs::DOUBLE - (p2 / n::DOUBLE + 1.0))
               / sqrt(p2 * (p2 - n::DOUBLE)
                      / ((n::DOUBLE * n::DOUBLE) * (n - 1)::DOUBLE))
          END, 6) AS z
      FROM s
    """

    # JSD replay: identical (group, token) / corpus-margin counts, the
    # same per-present-token float chain, closed-form absent-token tail
    o["q_jsd_drift"] = """
      WITH tw AS (
        SELECT source AS grp,
               unnest(CASE WHEN coalesce(text, '') = ''
                          THEN []::VARCHAR[]
                          ELSE string_split(text, ' ') END) AS w
        FROM documents
      ),
      cw AS (SELECT grp, w, count(*)::BIGINT AS cg FROM tw GROUP BY 1, 2),
      corpus AS (SELECT w, sum(cg)::BIGINT AS cc FROM cw GROUP BY w),
      totals AS (SELECT grp, sum(cg)::BIGINT AS ng FROM cw GROUP BY grp),
      nt AS (SELECT sum(cc)::BIGINT AS nn FROM corpus),
      j AS (
        SELECT cw.grp, cw.cg, corpus.cc, totals.ng, nt.nn
        FROM cw JOIN corpus USING (w) JOIN totals USING (grp), nt
      ),
      g AS (
        SELECT grp, max(ng)::BIGINT AS n_tokens, count(*)::BIGINT AS vocab,
          sum(0.5 * ((cg::DOUBLE / ng::DOUBLE)
                     * ln((cg::DOUBLE / ng::DOUBLE)
                          / ((cg::DOUBLE / ng::DOUBLE
                              + cc::DOUBLE / nn::DOUBLE) / 2.0))
                     + (cc::DOUBLE / nn::DOUBLE)
                     * ln((cc::DOUBLE / nn::DOUBLE)
                          / ((cg::DOUBLE / ng::DOUBLE
                              + cc::DOUBLE / nn::DOUBLE) / 2.0))))
            AS s_present,
          sum(cc)::BIGINT AS csum, max(nn)::BIGINT AS nn
        FROM j GROUP BY grp
      )
      SELECT grp AS source, n_tokens, vocab,
        round(s_present
              + 0.5 * ln(2.0) * (nn - csum)::DOUBLE / nn::DOUBLE, 6) AS jsd
      FROM g
    """

    # Cliff's δ replay: distinct-value cells per group, cell-pair
    # dominance counting, one division
    o["q_cliffs_delta"] = """
      WITH base AS (
        SELECT lang AS g, n_chars::BIGINT AS v FROM documents
        WHERE n_chars IS NOT NULL AND lang IN ('en', 'zh')
      ),
      cells AS (SELECT g, v, count(*)::BIGINT AS c FROM base GROUP BY 1, 2),
      ca AS (SELECT v AS va, c AS cnt_a FROM cells WHERE g = 'en'),
      cb AS (SELECT v AS vb, c AS cnt_b FROM cells WHERE g = 'zh'),
      pairs AS (
        SELECT
          sum(CASE WHEN va > vb THEN cnt_a * cnt_b ELSE 0 END)::BIGINT
            AS n_gt,
          sum(CASE WHEN va < vb THEN cnt_a * cnt_b ELSE 0 END)::BIGINT
            AS n_lt,
          sum(CASE WHEN va = vb THEN cnt_a * cnt_b ELSE 0 END)::BIGINT
            AS n_eq
        FROM ca, cb
      ),
      na AS (SELECT sum(cnt_a)::BIGINT AS n_a FROM ca),
      nb AS (SELECT sum(cnt_b)::BIGINT AS n_b FROM cb)
      SELECT n_a, n_b, n_gt, n_lt, n_eq,
        round(CASE WHEN n_a > 0 AND n_b > 0
          THEN (n_gt - n_lt)::DOUBLE / (n_a::DOUBLE * n_b::DOUBLE)
          END, 6) AS delta
      FROM na, nb, pairs
    """

    # DAG layering replay: the q_transitive_reduction edge build, then
    # depth-capped (≤ 8 edges, matching the engine's 8 relaxation
    # rounds) recursive walk enumeration + max per node — exact
    # integer layers
    o["q_dag_layers"] = """
      WITH d AS (SELECT DISTINCT (doc_id % 200)::BIGINT AS i
                 FROM documents WHERE doc_id % 200 >= 1),
      tree AS (SELECT 't' || i::VARCHAR AS src,
                      't' || ((i - 1) // 3)::VARCHAR AS dst FROM d),
      short AS (SELECT 't' || i::VARCHAR AS src,
                       't' || (((i - 1) // 3 - 1) // 3)::VARCHAR AS dst
                FROM d WHERE i % 4 = 0 AND (i - 1) // 3 >= 1),
      e AS (SELECT DISTINCT src, dst FROM
            (SELECT * FROM tree UNION ALL SELECT * FROM short)),
      nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      lp AS (
        WITH RECURSIVE w AS (
          SELECT node, 0 AS dep FROM nodes
          UNION ALL
          SELECT e.dst AS node, w.dep + 1 FROM w JOIN e ON e.src = w.node
          WHERE w.dep < 8
        )
        SELECT node, max(dep)::BIGINT AS layer FROM w GROUP BY node
      )
      SELECT node, layer FROM lp
    """

    # Jaro-Winkler block pairs: the q_soundex_block ladder reproduced,
    # per-block lexicographic cap, within-block self-join, then the
    # BUILTIN jaro_winkler_similarity — the engine's Arrow-batch kernel
    # is validated bit-identical to it, which is the whole design
    o["q_jw_pairs"] = """
      WITH rawt AS (
        SELECT DISTINCT t AS form FROM (
          SELECT unnest(string_split(coalesce(text, ''), ' ')) AS t
          FROM documents)
        WHERE regexp_matches(t, '^[A-Za-z]{2,}$')
      ),
      toks AS (
        SELECT form FROM rawt
        UNION
        SELECT substr(form, 1, 1) || substr(form, 3) AS form
        FROM rawt WHERE length(form) >= 5
      ),
      c1 AS (SELECT form, upper(form) AS u FROM toks),
      c2 AS (SELECT form, substr(u, 1, 1) AS first,
             translate(u, 'AEIOUYBFPVCGJKQSXZDTLMNRHW',
                       '000000111122222222334556') AS code
             FROM c1),
      c3 AS (SELECT form, first,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(regexp_replace(regexp_replace(code,
               '00+', '0', 'g'), '11+', '1', 'g'), '22+', '2', 'g'),
               '33+', '3', 'g'), '44+', '4', 'g'), '55+', '5', 'g'),
               '66+', '6', 'g') AS coll
             FROM c2),
      c4 AS (SELECT form, first,
             regexp_replace(coll, '0', '', 'g') AS nozero,
             translate(first, 'AEIOUYBFPVCGJKQSXZDTLMNRHW',
                       '000000111122222222334556') AS fcode
             FROM c3),
      coded AS (SELECT form,
             first || rpad(substr(
               CASE WHEN fcode IN ('1','2','3','4','5','6')
                         AND substr(nozero, 1, 1) = fcode
                    THEN substr(nozero, 2) ELSE nozero END,
               1, 3), 3, '0') AS code
             FROM c4),
      capped AS (
        SELECT code, form FROM (
          SELECT code, form,
                 row_number() OVER (PARTITION BY code ORDER BY form) AS rn
          FROM coded)
        WHERE rn <= 64
      ),
      pairs AS (
        SELECT a.form AS form_a, b.form AS form_b
        FROM capped a JOIN capped b ON a.code = b.code
        WHERE a.form < b.form
      )
      SELECT form_a, form_b,
             round(jaro_winkler_similarity(form_a, form_b), 6) AS jw
      FROM pairs
      WHERE jaro_winkler_similarity(form_a, form_b) >= 0.87
    """

    # Greedy matching: the engine's 8 local-min rounds unrolled —
    # identical unique md5-extended ranks, identical round-start reads
    # every round CTE is MATERIALIZED: each references its predecessor
    # several times, and DuckDB's default CTE inlining would re-evaluate
    # the whole chain exponentially (observed as an fd blowup)
    _match_rounds = []
    _match_sels = []
    _prev = "e0"
    for _k in range(8):
        _match_rounds.append(f"""
      mn{_k} AS MATERIALIZED (
        SELECT node, min(r) AS mr FROM (
          SELECT u AS node, r FROM {_prev}
          UNION ALL SELECT v, r FROM {_prev}) GROUP BY node),
      sel{_k} AS MATERIALIZED (
        SELECT t.u, t.v FROM {_prev} t
        JOIN mn{_k} a ON t.u = a.node AND t.r = a.mr
        JOIN mn{_k} b ON t.v = b.node AND t.r = b.mr),
      mnode{_k} AS MATERIALIZED (
        SELECT u AS node FROM sel{_k} UNION SELECT v FROM sel{_k}),
      e{_k + 1} AS MATERIALIZED (
        SELECT * FROM {_prev}
        WHERE u NOT IN (SELECT node FROM mnode{_k})
          AND v NOT IN (SELECT node FROM mnode{_k}))""")
        _match_sels.append(f"SELECT u, v FROM sel{_k}")
        _prev = f"e{_k + 1}"
    o["q_matching"] = f"""
      WITH {_host_edges_cte},
      und AS (
        SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        FROM edges WHERE src <> dst
      ),
      e0 AS MATERIALIZED (
        SELECT u, v,
               md5(concat_ws('|', u, v)) || '|' || u || '|' || v AS r
        FROM und
      ),{",".join(_match_rounds)}
      SELECT u AS src, v AS dst FROM ({" UNION ALL ".join(_match_sels)})
    """

    # Resource-Allocation link prediction: symmetrized distinct edges,
    # exact BIGINT floor-division shares per common neighbor, absent
    # pairs only (LEFT JOIN NULL anti form)
    o["q_resource_alloc"] = f"""
      WITH {_host_edges_cte},
      und AS (
        SELECT DISTINCT src, dst FROM (
          SELECT src, dst FROM edges
          UNION ALL SELECT dst AS src, src AS dst FROM edges)
        WHERE src <> dst
      ),
      deg AS (SELECT src AS w, count(*)::BIGINT AS deg FROM und GROUP BY 1),
      wed AS (
        SELECT e1.src AS w, e1.dst AS u, e2.dst AS v
        FROM und e1 JOIN und e2 ON e1.src = e2.src
        WHERE e1.dst < e2.dst
      ),
      adj AS (SELECT src AS u, dst AS v FROM und WHERE src < dst),
      openw AS (
        SELECT wed.w, wed.u, wed.v
        FROM wed LEFT JOIN adj ON wed.u = adj.u AND wed.v = adj.v
        WHERE adj.u IS NULL
      ),
      agg AS (
        SELECT u, v,
               sum(1000000000000::BIGINT // deg)::BIGINT AS ra_int
        FROM openw JOIN deg ON openw.w = deg.w
        GROUP BY u, v
      )
      SELECT u AS node_a, v AS node_b,
             round(ra_int::DOUBLE / 1e12, 9) AS ra
      FROM agg WHERE ra_int >= 1
    """

    return o
