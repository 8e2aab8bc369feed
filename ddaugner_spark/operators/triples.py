"""(subj, pred, obj) triple extraction from mention pairs.

The reference has no triple stage — this is the KG-construction layer the
north_star adds on top of ddaugNER's mention detection.  The pattern rule
is the deterministic analogue of "dependency-like patterns": two mentions
in the same sentence, separated by 1..TRIPLE_MAX_GAP tokens, with a
predicate-vocabulary token strictly between them; the *first* such token
(min position) is the relation, mirroring leftmost-match precedence of
``search_ner_pattern`` (/root/reference/ddaugner/utils.py:59-78).

Scale design (measured on the bench corpus): the naive formulation
carried each mention's full ``tokens`` array through the self-join —
~10× the necessary shuffle bytes, and the stage stopped scaling past 8
cores.  This formulation shuffles only slim rows:

* mention rows: ids + 2 ints + surface + tag;
* predicate tokens pre-aggregated into one tiny sorted array per
  (doc_id, sent_id) — so the relation lookup after the join is a narrow
  ``array_min(filter(...))`` with no third wide table.

All three join inputs hash-partition on (doc_id, sent_id): Catalyst
plans a single exchange per input and the range predicates run as join
residuals.  The gap bound keeps candidate pairs linear in sentence
length.

Over raw documents (no mention table yet) the same rule runs inside the
mention pass instead: :func:`triples_map_only` tags, decodes and pairs
each document in one map-only Arrow pass.
"""

from __future__ import annotations

from bisect import bisect_right
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .. import config
from .mentions import with_tokens, _tok, sent_id_at
from .tagging import DictTaggerModel, doc_mentions, mentions_from_tagged


def preds_by_sentence(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, sent_id, preds array<struct<pos,tok>>) — all
    predicate-vocabulary token positions per sentence, sorted by pos.
    Narrow explode + one hash aggregation of slim rows."""
    df = with_tokens(docs)
    n = F.col("n_tokens")
    seq1 = F.when(n >= 1, F.sequence(F.lit(0), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    hits = F.filter(seq1, lambda i: _tok(i).isin(config.PRED_WORDS))
    exploded = df.select(
        F.col(id_col).alias("doc_id"),
        F.col("tokens"),
        F.explode(hits).alias("pos"),
    ).select(
        "doc_id",
        sent_id_at(F.col("pos")).alias("sent_id"),
        F.col("pos").cast("long").alias("pos"),
        _tok(F.col("pos")).alias("tok"),
    )
    return exploded.groupBy("doc_id", "sent_id").agg(
        F.sort_array(F.collect_list(F.struct("pos", "tok"))).alias("preds")
    )


def triples_from_mentions(
    m: DataFrame, preds_by_sent: DataFrame, max_gap: int = config.TRIPLE_MAX_GAP
) -> DataFrame:
    """The join core: mention self-join + per-sentence predicate lookup.
    ``m``: mention rows (doc_id, sent_id, start_idx, end_idx, surface,
    tag); ``preds_by_sent``: (doc_id, sent_id, preds array<struct<pos,tok>>)."""
    subj = m.alias("s")
    obj = m.alias("o")

    pairs = subj.join(
        obj,
        on=[
            F.col("s.doc_id") == F.col("o.doc_id"),
            F.col("s.sent_id") == F.col("o.sent_id"),
            F.col("o.start_idx") > F.col("s.end_idx") + 1,
            F.col("o.start_idx") <= F.col("s.end_idx") + 1 + max_gap,
        ],
    ).select(
        F.col("s.doc_id").alias("doc_id"),
        F.col("s.sent_id").alias("sent_id"),
        F.col("s.surface").alias("subj"),
        F.col("s.tag").alias("subj_tag"),
        F.col("o.surface").alias("obj"),
        F.col("o.tag").alias("obj_tag"),
        F.col("s.start_idx").alias("subj_start"),
        F.col("s.end_idx").alias("subj_end"),
        F.col("o.start_idx").alias("obj_start"),
    )

    joined = pairs.join(preds_by_sent, ["doc_id", "sent_id"])
    first_pred = F.array_min(
        F.filter(
            F.col("preds"),
            lambda p: (p["pos"] > F.col("subj_end")) & (p["pos"] < F.col("obj_start")),
        )
    )
    return (
        joined.withColumn("first_pred", first_pred)
        .filter(F.col("first_pred").isNotNull())
        .select(
            "doc_id",
            "sent_id",
            "subj",
            "subj_tag",
            F.col("first_pred")["tok"].alias("pred"),
            "obj",
            "obj_tag",
            "subj_start",
            "obj_start",
        )
    )


_TRIPLE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sent_id", LongType()),
        StructField("subj", StringType()),
        StructField("subj_tag", StringType()),
        StructField("pred", StringType()),
        StructField("obj", StringType()),
        StructField("obj_tag", StringType()),
        StructField("subj_start", LongType()),
        StructField("obj_start", LongType()),
    ]
)


def _doc_triples(toks, ments, pred_words, max_gap):
    """(sent_id, subj, subj_tag, pred, obj, obj_tag, subj_start,
    obj_start) of one document: :func:`triples_from_mentions`' rule over
    its ``(sent_id, entity)`` mentions in span order (non-overlapping,
    sorted by start) — same sentence, object start 2..max_gap + 1 tokens
    past the subject end, and the leftmost ``pred_words`` token strictly
    between them as the relation."""
    preds = [i for i, t in enumerate(toks) if t in pred_words]
    out = []
    for k, (sid, s) in enumerate(ments):
        j = bisect_right(preds, s.end_idx)
        if j == len(preds):
            continue
        for oid, o in ments[k + 1 :]:
            if o.start_idx > s.end_idx + 1 + max_gap or oid != sid:
                break
            if o.start_idx > s.end_idx + 1 and preds[j] < o.start_idx:
                out.append(
                    (sid, s.surface, s.tag, toks[preds[j]], o.surface, o.tag,
                     s.start_idx, o.start_idx)
                )
    return out


def triples_map_only(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Zero-shuffle triple extraction: one map-only ``mapInPandas`` pass
    in which each document's mentions come from
    ``tagging.doc_mentions`` (the fix_ner tagger over the engine
    gazetteer, as ``mentions.mentions_df``) and are paired by
    :func:`_doc_triples` — no exchange at any corpus size.  Pairing is
    O(m · max_gap) per document (the object scan stops at the gap bound
    or the sentence end)."""
    tagger = DictTaggerModel()
    firsts = tagger.first_tokens()
    pred_words = frozenset(config.PRED_WORDS)
    max_gap = config.TRIPLE_MAX_GAP

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, text in zip(pdf[id_col], pdf["text"]):
                ments = doc_mentions(text, None, tagger, firsts)
                if len(ments) > 1:
                    rows.extend(
                        (int(d), *t)
                        for t in _doc_triples(text.split(" "), ments, pred_words, max_gap)
                    )
            yield pd.DataFrame(rows, columns=_TRIPLE_SCHEMA.fieldNames())

    return docs.select(F.col(id_col), F.col("text")).mapInPandas(run, _TRIPLE_SCHEMA)


def triples_df(
    docs: DataFrame, id_col: str = "doc_id", mentions_table: DataFrame | None = None
) -> DataFrame:
    """(doc_id, sent_id, subj, subj_tag, pred, obj, obj_tag,
    subj_start, obj_start) triple rows over raw documents.

    Default strategy is the zero-shuffle :func:`triples_map_only`;
    passing a pre-materialized ``mentions_table`` (or unusually dense
    corpora) selects the slim co-partitioned join core
    (:func:`triples_from_mentions`)."""
    if mentions_table is not None:
        return triples_from_mentions(mentions_table, preds_by_sentence(docs, id_col))
    return triples_map_only(docs, id_col)


def triples_from_tagged(
    tagged: DataFrame,
    pred_words: list[str],
    max_gap: int = config.TRIPLE_MAX_GAP,
) -> DataFrame:
    """Triples over an already-tagged sentence table (doc_id, sent_id,
    tokens, tags) — the model-output path: mention spans decoded with
    reference BIO semantics, predicates looked up in ``pred_words``.
    Positions are sentence-local."""
    m = mentions_from_tagged(tagged)
    n = F.size("tokens")
    seq1 = F.when(n >= 1, F.sequence(F.lit(0), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    hits = F.filter(
        seq1,
        lambda i: F.element_at(F.col("tokens"), (i + F.lit(1)).cast("int")).isin(
            pred_words
        ),
    )
    preds = tagged.select(
        "doc_id",
        "sent_id",
        F.sort_array(
            F.transform(
                hits,
                lambda i: F.struct(
                    i.cast("long").alias("pos"),
                    F.element_at(F.col("tokens"), (i + F.lit(1)).cast("int")).alias("tok"),
                ),
            )
        ).alias("preds"),
    )
    return triples_from_mentions(m, preds, max_gap)


def relation_signatures(triples: DataFrame, ndigits: int = 6) -> DataFrame:
    """(subj_tag, pred, obj_tag, n, n_subj_entities, n_obj_entities,
    pred_total, sig_frac) — schema induction over the constructed KG:
    the typed signature distribution of every predicate ("given pred
    'order', how often does it connect PER→LOC, and over how many
    distinct entities on each side").  The downstream consumer uses it
    to validate extractions (a triple whose signature has negligible
    mass is a likely extraction error) and to propose a relation
    schema.

    Shape at scale: one hash-agg on slim (tag, pred, tag) keys with
    map-side combine (distinct-entity counts piggyback on the same
    shuffle); predicate totals re-aggregate the SIGNATURE table (never
    the triple stream) and come back as a broadcast; sig_frac divides
    two exact longs, rounded — no float accumulation."""
    sigs = triples.groupBy("subj_tag", "pred", "obj_tag").agg(
        F.count("*").alias("n"),
        F.count_distinct("subj").alias("n_subj_entities"),
        F.count_distinct("obj").alias("n_obj_entities"),
    )
    totals = sigs.groupBy("pred").agg(F.sum("n").alias("pred_total"))
    return sigs.join(F.broadcast(totals), "pred").select(
        "subj_tag",
        "pred",
        "obj_tag",
        F.col("n").cast("long").alias("n"),
        F.col("n_subj_entities").cast("long").alias("n_subj_entities"),
        F.col("n_obj_entities").cast("long").alias("n_obj_entities"),
        F.col("pred_total").cast("long").alias("pred_total"),
        F.round(F.col("n") / F.col("pred_total"), ndigits).alias("sig_frac"),
    )


def upsert_triples(
    base: DataFrame,
    cdc: DataFrame,
    key_cols: tuple[str, ...] = ("subj", "pred", "obj"),
) -> DataFrame:
    """CDC materialization of the triple store: apply a change stream
    onto a base snapshot, latest change per key wins.

    ``base``: the current triple table (key_cols + ``support``) —
    treated as an upsert at ``ts = -infinity`` (epoch 0).
    ``cdc``: change rows ``(key_cols..., op, ts, support)`` with
    ``op ∈ {'u','d'}`` — 'u' upserts the key with the new support,
    'd' tombstones it.

    Output: ``(key_cols..., support, last_ts)`` — the post-merge
    snapshot (tombstoned keys absent).  This is the MERGE INTO /
    Iceberg upsert semantics a periodically-recrawled KG needs when the
    extraction of a page changes between captures: re-extracted triples
    update their support, retracted ones are deleted, and brand-new
    keys insert — all in one pass.

    Plan: union the two streams and take ``max_by`` over ``(ts,
    is_delete)`` per key — ONE hash aggregate with map-side partial
    combine (each executor pre-reduces its local changes per key before
    the single shuffle on the triple key).  A join-based MERGE would
    shuffle both sides AND miss inserts without a full outer; the
    union-aggregate form is strictly less exchange volume and is the
    standard compaction shape for log-structured tables.  Ties at equal
    ``ts`` resolve delete-wins then higher-support (deterministic under
    repartition — CLAUDE.md determinism rule).
    """
    keys = list(key_cols)
    state0 = base.select(
        *keys,
        F.lit("u").alias("op"),
        F.col("support").cast("long").alias("support"),
        F.lit(0).cast("long").alias("last_ts"),
    )
    merged = merge_triple_state(state0, cdc, key_cols)
    return merged.filter(F.col("op") == "u").select(
        *keys, "support", "last_ts"
    )


def merge_triple_state(
    state: DataFrame,
    cdc: DataFrame,
    key_cols: tuple[str, ...] = ("subj", "pred", "obj"),
) -> DataFrame:
    """The ASSOCIATIVE kernel under :func:`upsert_triples`: fold a
    change batch into a tombstone-RETAINING state table
    ``(key_cols..., op, support, last_ts)`` and return the new state.

    Tombstones must stay in the state (op='d' rows survive the fold;
    only the final read filters them) — dropping them would let a
    replayed or late batch with an OLDER ts resurrect a deleted key.
    With them kept, the winner of winners is the global winner
    (lexicographic max over (ts, delete-wins, support) is associative),
    so any micro-batch split of the same change stream folds to the
    identical state — the property the streaming form
    (streaming/incremental.incremental_upsert) relies on for
    exactly-once epoch replay.  One map-side-combinable hash aggregate
    per fold, exactly like the batch form.
    """
    keys = list(key_cols)
    s = state.select(
        *keys, "op", F.col("last_ts").alias("ts"), F.col("support")
    )
    c = cdc.select(
        *keys,
        F.col("op"),
        F.col("ts").cast("long").alias("ts"),
        F.col("support").cast("long").alias("support"),
    )
    ordk = F.struct(
        F.col("ts").alias("ts"),
        (F.col("op") == "d").cast("int").alias("del_wins"),
        F.col("support").alias("sup"),
    )
    payload = F.struct(F.col("op").alias("op"), F.col("support").alias("support"))
    merged = (
        s.unionByName(c)
        .groupBy(*keys)
        .agg(F.max_by(payload, ordk).alias("_w"), F.max("ts").alias("last_ts"))
    )
    return merged.select(
        *keys, F.col("_w.op").alias("op"), F.col("_w.support").alias("support"), "last_ts"
    )


def to_ntriples(
    triples: DataFrame,
    base_iri: str = "http://kg.example.org",
) -> DataFrame:
    """(subj, pred, obj, ntriple) — W3C N-Triples serialization of the
    distinct triple set: ``<{base}/e/{subj}> <{base}/r/{pred}>
    <{base}/e/{obj}> .`` — the interchange format that makes the
    constructed KG loadable by any RDF store, i.e. the "graph
    materialize" surface in a standard dialect rather than a private
    parquet schema.

    IRI encoding: the only characters outside the IRI-safe set that the
    engine's entity surfaces can carry are spaces (multi-token surfaces
    are space-joined gazetteer tokens); percent is escaped first so the
    encoding is injective (``%`` → ``%25``, then `` `` → ``%20``).
    Pure column expressions — serializing 10^12 triples is one map
    pass; pair with ``write_ntriples`` for the text sink."""
    enc = lambda c: F.replace(  # noqa: E731 — tiny local combinator
        F.replace(F.col(c), F.lit("%"), F.lit("%25")), F.lit(" "), F.lit("%20")
    )
    d = triples.select("subj", "pred", "obj").distinct()
    line = F.concat(
        F.lit(f"<{base_iri}/e/"), enc("subj"),
        F.lit(f"> <{base_iri}/r/"), enc("pred"),
        F.lit(f"> <{base_iri}/e/"), enc("obj"),
        F.lit("> ."),
    )
    return d.select("subj", "pred", "obj", line.alias("ntriple"))


def write_ntriples(ntriples: DataFrame, path: str) -> int:
    """Materialize the ``ntriple`` column as an N-Triples text file set
    (one triple per line, UTF-8 — the on-disk contract of the format).
    Returns the number of lines written.  At real scale the writer is
    partitioned by the same keys as the Iceberg triple table; here it
    is the plain text sink."""
    ntriples.select("ntriple").write.mode("overwrite").text(path)
    return ntriples.sparkSession.read.text(path).count()


def triple_provenance(triples: DataFrame, max_examples: int = 3) -> DataFrame:
    """(subj, pred, obj, n_docs, n_sents, first_doc, example_docs) —
    per-triple evidence: how many distinct documents assert it, how
    many sentence-level attestations exist, and a bounded sample of
    asserting doc ids (the ``max_examples`` smallest, comma-joined so
    the column stays scalar for any sink).

    The audit surface the north star's per-partition lineage implies at
    the TRIPLE level: every emitted fact is traceable back to concrete
    pages.  ONE partial-aggregable groupBy on the triple key — the
    example list is collected as a per-key set (bounded by corpus
    dedup, then sliced to ``max_examples``), so no second pass and no
    window.  first_doc = min doc id gives a deterministic canonical
    witness."""
    ex = F.concat_ws(
        ",",
        F.transform(
            F.slice(F.sort_array(F.collect_set("doc_id")), 1, max_examples),
            lambda x: x.cast("string"),
        ),
    )
    return triples.groupBy("subj", "pred", "obj").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_sents"),
        F.min("doc_id").alias("first_doc"),
        ex.alias("example_docs"),
    )


def triple_validity(assertions: DataFrame) -> DataFrame:
    """(subj, pred, obj, first_seen, last_seen, n_assertions) — TEMPORAL
    validity intervals for the KG: when each fact was first and last
    observed across recrawl captures, and how often.  The audit query
    behind "is this triple still asserted by the live web" and the
    input to as-of snapshot filters (alive at T ⇔ first ≤ T ≤ last).

    ``assertions`` carries one row per (triple, evidence-unit) with that
    unit's observation window pre-computed: (subj, pred, obj, first_ts,
    last_ts, n_instances) — the capture model (which captures contain
    which sentence) is the CALLER's contract, so the same reducer
    serves WARC recrawls, CDC streams, or synthetic amplifiers.

    ONE partial-aggregable groupBy on the triple key (min/max/sum all
    combine map-side) — the same slim-key shuffle shape as the triple
    aggregate itself; nothing else touches the corpus."""
    return assertions.groupBy("subj", "pred", "obj").agg(
        F.min("first_ts").alias("first_seen"),
        F.max("last_ts").alias("last_seen"),
        F.sum("n_instances").cast("long").alias("n_assertions"),
    )


def negative_samples(
    triples: DataFrame, k: int = 2, hex_digits: int = 12
) -> DataFrame:
    """(subj, pred, obj_neg, neg_id) — NEGATIVE triple sampling for KG
    embedding training (the corruption step of TransE/DistMult-style
    losses, Bordes et al. 2013): for every distinct true triple, ``k``
    candidate corruptions replace the object with a pseudo-random
    entity; candidates that hit the true object or collide with ANY
    true triple are filtered (the standard "filtered setting"), so
    every emitted row is a guaranteed negative.

    Determinism: the "random" entity is the one whose contiguous id
    equals md5(subj|pred|obj|neg_id) mod |E| — pure row identity
    (CLAUDE.md rule), reproducible across engines because Spark and
    DuckDB row_number over ASCII entity strings agree (binary
    collation).

    Scale shape: the entity vocabulary (id ↔ entity) is
    dimension-sized — it BROADCASTS into the corruption join; the
    candidate stream is k·|distinct triples| slim rows; the filtered-
    setting check is one LEFT ANTI join on the (subj, pred, obj) key —
    the same slim-key shuffle as the triple aggregate.  The id-
    assignment window runs over the entity vocabulary only."""
    from pyspark.sql import Window

    t = triples.select("subj", "pred", "obj").distinct()
    ents = (
        t.select(F.col("subj").alias("entity"))
        .union(t.select(F.col("obj").alias("entity")))
        .distinct()
    )
    w = Window.orderBy(F.col("entity").asc())
    ids = ents.withColumn("eid", F.row_number().over(w).cast("long") - 1)
    n = ids.agg(F.count(F.lit(1)).alias("n_ents"))
    cand = (
        t.select(
            "subj", "pred", "obj", F.explode(F.array(*[F.lit(j) for j in range(k)])).alias("neg_id")
        )
        .crossJoin(F.broadcast(n))
        .withColumn(
            "eid",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws("|", "subj", "pred", "obj", F.col("neg_id").cast("string"))
                    ),
                    1,
                    hex_digits,
                ),
                16,
                10,
            ).cast("long")
            % F.col("n_ents"),
        )
    )
    corrupted = cand.join(F.broadcast(ids), "eid").select(
        "subj", "pred", F.col("entity").alias("obj_neg"), F.col("neg_id").cast("long").alias("neg_id")
    )
    valid = corrupted.join(
        t.select("subj", "pred", F.col("obj").alias("obj_neg")),
        ["subj", "pred", "obj_neg"],
        "left_anti",
    )
    return valid


def temporal_join_paths(
    validity: DataFrame, fanout_cap: int = 5
) -> DataFrame:
    """Time-respecting 2-hop paths over a TEMPORAL KG: chain
    a→mid→c where both facts' validity intervals OVERLAP — the
    temporal-consistency join behind "were these two facts ever true
    simultaneously", the KG-consumption twin of the atemporal
    graph.two_hop_paths.

    ``validity``: (subj, pred, obj, fs, ls, n_assertions) with integer
    day offsets fs ≤ ls (triple_validity output with the caller's
    epoch).  Join legs are capped per mid entity to their
    ``fanout_cap`` best-attested edges (n_assertions DESC, pred,
    endpoint — the hub guard), then equi-joined on mid with the
    interval-overlap residual; overlap = [max(fs), min(ls)], kept when
    non-empty.  Pure integer arithmetic end to end.
    """
    e = validity.select(
        "subj", "pred", "obj",
        F.col("fs").cast("long").alias("fs"),
        F.col("ls").cast("long").alias("ls"),
        F.col("n_assertions").cast("long").alias("na"),
    )
    from pyspark.sql.window import Window

    w1 = Window.partitionBy("obj").orderBy(
        F.desc("na"), "pred", "subj"
    )
    h1 = (
        e.withColumn("r", F.row_number().over(w1))
        .filter(F.col("r") <= fanout_cap)
        .select(
            F.col("subj").alias("entity_a"),
            F.col("pred").alias("pred1"),
            F.col("obj").alias("mid"),
            F.col("fs").alias("fs1"),
            F.col("ls").alias("ls1"),
        )
    )
    w2 = Window.partitionBy("subj").orderBy(
        F.desc("na"), "pred", "obj"
    )
    h2 = (
        e.withColumn("r", F.row_number().over(w2))
        .filter(F.col("r") <= fanout_cap)
        .select(
            F.col("subj").alias("mid"),
            F.col("pred").alias("pred2"),
            F.col("obj").alias("entity_c"),
            F.col("fs").alias("fs2"),
            F.col("ls").alias("ls2"),
        )
    )
    ov_start = F.greatest("fs1", "fs2")
    ov_end = F.least("ls1", "ls2")
    return (
        h1.join(h2, "mid")
        .filter((F.col("entity_a") != F.col("entity_c")) & (ov_start <= ov_end))
        .select(
            "entity_a",
            "pred1",
            "mid",
            "pred2",
            "entity_c",
            ov_start.alias("ov_start"),
            ov_end.alias("ov_end"),
            (ov_end - ov_start + 1).alias("ov_days"),
        )
    )


def predicate_cardinality(triples: DataFrame, ndigits: int = 6) -> DataFrame:
    """(pred, n_pairs, n_subj, n_obj, tails_per_head, heads_per_tail,
    cardinality) — relation cardinality profiling over the constructed
    KG: each predicate classified 1:1 / 1:N / N:1 / N:M from its
    average distinct-tail fan-out per head (tph = pairs/heads) and
    distinct-head fan-in per tail (hpt = pairs/tails), the Bordes/
    FB15k convention (threshold 1.5).  The schema-induction readout
    embedding-model selection and functional-constraint proposals
    (functional_conflicts' `pred` argument) are driven by.

    Exactness: counts are exact longs off ONE distinct-pair aggregate;
    tph/hpt are one division each; the class compares those quotients
    to the literal 1.5 — identical doubles on both engines.

    Shape at scale: dedup shuffles slim (s,p,o) keys once (map-side
    combined); everything after runs on predicate-count-sized rows.
    """
    pairs = triples.select("subj", "pred", "obj").distinct()
    agg = pairs.groupBy("pred").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.count_distinct("subj").cast("long").alias("n_subj"),
        F.count_distinct("obj").cast("long").alias("n_obj"),
    )
    tph = F.col("n_pairs") / F.col("n_subj")
    hpt = F.col("n_pairs") / F.col("n_obj")
    card = (
        F.when((tph < 1.5) & (hpt < 1.5), F.lit("1:1"))
        .when((tph >= 1.5) & (hpt < 1.5), F.lit("1:N"))
        .when((tph < 1.5) & (hpt >= 1.5), F.lit("N:1"))
        .otherwise(F.lit("N:M"))
    )
    return agg.select(
        "pred",
        "n_pairs",
        "n_subj",
        "n_obj",
        F.round(tph, ndigits).alias("tails_per_head"),
        F.round(hpt, ndigits).alias("heads_per_tail"),
        card.alias("cardinality"),
    )
