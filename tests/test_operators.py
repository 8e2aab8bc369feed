"""Operator correctness on the synthetic corpus: cross-checks between the
array-native corpus operators and the pure kernels, plus invariants."""

import pyspark.sql.functions as F
import pytest

from ddaugner_spark import config
from ddaugner_spark.kernels import entities_from_bio_tags
from ddaugner_spark.operators import (
    augment,
    canonical,
    dedup,
    linking,
    mentions,
    scoring,
    sentences,
    triples,
)
from ddaugner_spark.sources import gazetteer_df, synthesize_pages, extract_text


def test_mentions_match_kernel_decoding(spark, docs):
    """Corpus mention rows == kernel BIO decoding of the same tags, doc by
    doc (the per-sentence oracle for the corpus-level W3 formulation)."""
    wb = mentions.with_bio(docs).select("doc_id", "tokens", "tags").limit(50)
    rows = {r["doc_id"]: r for r in wb.collect()}
    got = (
        mentions.mentions_df(docs)
        .filter(F.col("doc_id").isin(list(rows)))
        .collect()
    )
    by_doc = {}
    for m in got:
        by_doc.setdefault(m["doc_id"], set()).add(
            (m["start_idx"], m["end_idx"], m["surface"], m["tag"])
        )
    for doc_id, r in rows.items():
        expect = {
            (e.start_idx, e.end_idx, " ".join(e.tokens), e.tag)
            for e in entities_from_bio_tags(r["tokens"], r["tags"])
        }
        assert by_doc.get(doc_id, set()) == expect, f"doc {doc_id}"


def test_longest_match_precedence(spark):
    """'hash join' claims its positions; bare 'hash' is PER only outside."""
    df = spark.createDataFrame(
        [(1, "hash join hash the hash")], "doc_id long, text string"
    )
    got = {
        (m["start_idx"], m["surface"], m["tag"])
        for m in mentions.mentions_df(df).collect()
    }
    assert got == {(0, "hash join", "ORG"), (2, "hash", "PER"), (4, "hash", "PER")}


def test_sentence_ids(spark):
    df = spark.createDataFrame([(1, "spark the window the hash")], "doc_id long, text string")
    rows = {
        (r["sent_id"], r["surface"]) for r in mentions.mentions_df(df).collect()
    }
    # 'the' terminates: spark→sent0, window→sent1, hash→sent2
    assert rows == {(0, "spark"), (1, "window"), (2, "hash")}


def test_sentences_rollup_counts(spark, docs):
    s = sentences.sentences_df(docs)
    total = s.agg(F.sum("n_toks")).first()[0]
    n_tokens = mentions.with_tokens(docs).agg(F.sum("n_tokens")).first()[0]
    assert total == n_tokens  # every token belongs to exactly one sentence


def test_score_perfect_and_disjoint(spark, docs):
    m = mentions.mentions_df(docs)
    perfect = scoring.entity_set_score(m, m).first()
    assert perfect["precision"] == 1.0 and perfect["recall"] == 1.0 and perfect["f1"] == 1.0
    shifted = m.withColumn("start_idx", F.col("start_idx") + 1000)
    zero = scoring.entity_set_score(shifted, m).first()
    assert zero["n_match"] == 0 and zero["f1"] is None  # P+R==0 → None (score.py:125-126)


def test_triples_reference_mentions(spark):
    df = spark.createDataFrame(
        [(1, "spark filter window group customer")], "doc_id long, text string"
    )
    rows = {(r["subj"], r["pred"], r["obj"]) for r in triples.triples_df(df).collect()}
    # spark→window gap 1 pred 'filter'; window→customer gap 1 pred 'group';
    # spark→customer distance 4 first pred 'filter'
    assert ("spark", "filter", "window") in rows
    assert ("window", "group", "customer") in rows
    assert ("spark", "filter", "customer") in rows


def test_triples_raw_docs_equal_mention_table_form(spark):
    """Seeded fuzz: ``triples_df`` over raw documents (the per-document
    Arrow kernel) equals the join form over a ``mentions_df`` table,
    with null and empty text, adjacent mentions, and mention pairs
    within the gap but across a sentence terminator (never paired)."""
    import random

    rng = random.Random(2024)
    vocab = [
        "spark", "customer", "hash", "join", "stream", "window", "table",
        "scan", "filter", "group", "order", config.SENT_TERM, "x",
    ]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30))))
        for i in range(120)
    ]
    crossing = f"spark filter {config.SENT_TERM} window group customer"
    rows += [(1000, None), (1001, ""), (1002, crossing), (1003, "spark window filter x")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    raw = sorted(tuple(r) for r in triples.triples_df(df).collect())
    joined = sorted(
        tuple(r)
        for r in triples.triples_df(df, mentions_table=mentions.mentions_df(df)).collect()
    )
    assert len(raw) > 50 and raw == joined
    # across the terminator only window→customer (sentence 1) pairs
    assert [t[2:7] for t in raw if t[0] == 1002] == [
        ("window", "LOC", "group", "customer", "PER")
    ]
    assert not [t for t in raw if t[0] in (1000, 1001, 1003)]


def test_linking_salt_invariance(spark, docs):
    """Two-phase salted aggregation must be exactly invariant in the salt
    bucket count (the whole point of the rewrite)."""
    m = mentions.mentions_df(docs)
    g = gazetteer_df(spark)
    a = {tuple(r) for r in linking.link_scores(m, g, salt_buckets=1).collect()}
    b = {tuple(r) for r in linking.link_scores(m, g, salt_buckets=64).collect()}
    assert a == b


def test_connected_components_two_islands(spark):
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "y")], "a string, b string"
    )
    got = {tuple(r) for r in canonical.connected_components(edges).collect()}
    assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")}


def test_exact_dedup_finds_planted(spark, docs):
    corpus = dedup.with_dup_corpus(docs)
    planted = docs.filter(F.col("doc_id") % 20 == 0).count()
    dups = dedup.exact_duplicates(corpus)
    assert dups.count() == planted
    # canonical id is always the original (min) doc_id
    assert dups.filter(F.col("canonical_id") >= 1_000_000).count() == 0


def test_minhash_finds_near_dups(spark, docs):
    corpus = dedup.with_dup_corpus(docs)
    pairs = dedup.minhash_near_duplicates(corpus).collect()
    found = {(r["a"], r["b"]) for r in pairs}
    # every exact copy pair must surface (jaccard 1.0)
    exact_ids = [r["doc_id"] for r in docs.filter(F.col("doc_id") % 20 == 0).collect()]
    for i in exact_ids:
        assert (i, i + 1_000_000) in found
    assert all(r["jaccard"] >= config.JACCARD_THRESHOLD for r in pairs)


def test_inject_deterministic_and_complete(spark, docs):
    out1 = augment.inject_gazetteer(docs)
    out2 = augment.inject_gazetteer(docs.repartition(7))
    assert {tuple(r) for r in out1.collect()} == {tuple(r) for r in out2.collect()}
    joined = out1.join(
        mentions.mentions_df(docs).filter("tag = 'PER'").groupBy("doc_id").count(),
        "doc_id",
        "left",
    ).withColumn("expect", F.coalesce("count", F.lit(0)))
    assert joined.filter(F.col("n_replaced") != F.col("expect")).count() == 0


def test_extract_text_byte_identical(spark, docs):
    pages = synthesize_pages(docs)
    bad = pages.withColumn("ext", extract_text(F.col("html"))).filter(
        F.col("ext") != F.col("text")
    )
    assert bad.count() == 0


def test_linking_plan_has_two_phase_salt(spark, docs):
    """The physical plan must contain the salted pre-aggregation: two
    Exchange+HashAggregate pairs with the gazetteer broadcast (never
    shuffled) below them."""
    m = mentions.mentions_df(docs)
    plan = linking.link_scores(m, gazetteer_df(spark))._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") >= 2
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "salt" in plan


def test_messy_web_input_robustness(spark):
    """Real crawls carry null/empty/single-token text — no operator may
    throw or emit phantom mentions."""
    from ddaugner_spark.operators import tagging

    df = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "the"),
            (4, "hash"),
            (5, "hash join"),
            (6, "   "),
        ],
        "doc_id long, text string",
    )
    got = {(r["doc_id"], r["surface"], r["tag"]) for r in mentions.mentions_df(df).collect()}
    assert got == {(4, "hash", "PER"), (5, "hash join", "ORG")}
    udf = {(r["doc_id"], r["surface"], r["tag"]) for r in tagging.mentions_udf(df).collect()}
    assert udf == got
    # triples / sentences / dedup over the same mess
    assert triples.triples_df(df).count() == 0
    assert sentences.sentences_df(df).filter("doc_id = 1").count() == 0
    dedup.shingles(df.fillna({"text": ""})).count()  # no throw


def test_connected_components_long_chain(spark):
    """A 400-node path must converge well under max_iter — pointer
    jumping gives O(log n) rounds where pure hash-min needs O(n)."""
    edges = spark.createDataFrame(
        [(f"n{i:04d}", f"n{i+1:04d}") for i in range(400)], "a string, b string"
    )
    got = canonical.connected_components(edges, max_iter=15)
    comps = {r["component"] for r in got.collect()}
    assert comps == {"n0000"}


def test_salted_distinct_exact(spark, docs):
    """Salted distinct-count == plain distinct-count (disjointness of
    hash-salt buckets makes the partial sums exact)."""
    m = mentions.mentions_df(docs)
    naive = {
        (r["surface"], r["n_docs"])
        for r in m.groupBy("surface").agg(F.countDistinct("doc_id").alias("n_docs")).collect()
    }
    salted = {tuple(r) for r in linking.distinct_docs_per_entity(m).collect()}
    assert salted == naive


def test_connected_components_empty(spark):
    edges = spark.createDataFrame([], "a string, b string")
    assert canonical.connected_components(edges).count() == 0


def test_connected_components_edge_cases(spark, tmp_path):
    """max_iter=0 returns singleton components (no NameError, ADVICE r2);
    explicit stage_dir is honored; a 4-chain plus an island resolves to
    the minimum member of each component."""
    from ddaugner_spark.operators.canonical import connected_components

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "a string, b string"
    )
    zero = {
        (r["entity"], r["component"])
        for r in connected_components(e, max_iter=0).collect()
    }
    assert zero == {(n, n) for n in ["a", "b", "c", "x", "y"]}

    d1 = str(tmp_path / "cc1")
    full = {
        (r["entity"], r["component"])
        for r in connected_components(e, stage_dir=d1).collect()
    }
    assert full == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x"),
    }
    import os
    assert os.path.isdir(d1)  # caller-owned dir left intact

    chain = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("d", "c"), ("x", "y")], "a string, b string"
    )
    assert {tuple(r) for r in connected_components(chain).collect()} == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("d", "a"), ("x", "x"), ("y", "x")
    }


def test_cc_broadcast_and_shuffle_paths_agree(spark, monkeypatch):
    """The single-task kernel (small graphs) and the shuffle-join loop
    (big graphs) must produce identical labels; the node count picks
    the kernel for a small label table and reports it in stats."""
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("d", "c"), ("e", "d"), ("x", "y")],
        "a string, b string",
    )
    st: dict = {}
    bc = {
        tuple(r)
        for r in canonical.connected_components(edges, stats=st).collect()
    }
    assert st["broadcast_labels"] is True
    assert st["n_checkpoints"] >= 1 and st["iters"]
    monkeypatch.setattr(canonical, "BROADCAST_AUTO_THRESHOLD", 0)
    sh_st: dict = {}
    sh = {
        tuple(r)
        for r in canonical.connected_components(edges, stats=sh_st).collect()
    }
    assert sh_st["broadcast_labels"] is False
    assert bc == sh
