"""Text analysis operators: quality scoring, language-ID, token counting,
document fingerprinting.

Training-data-pipeline operators (not in the reference, which consumes
pre-tokenized CoNLL).  All pure column expressions — no Python.

* quality     — length / stopword-ratio / distinct-ratio features
                (the standard C4/Gopher-style filters);
* language-ID — char-bigram profile voting: per-lang bigram counts are a
                tiny aggregate (broadcast at scale); a doc's predicted
                lang is the argmax of summed profile votes over its
                bigrams.  Integer votes → engine-exact, no float hazard;
* token count — whitespace tokens + a BPE-ish subword estimate;
* fingerprint — md5 content hash + a coarse locality key (first/last
                token + length bucket) for shard-local grouping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import config
from ..plans.materialize import cut, scratch_dir


def quality_features(docs: DataFrame, ndigits: int = 4) -> DataFrame:
    # NULL text is an empty doc, not a NULL-stats doc (keeps the stat
    # columns non-nullable ints; split('', ' ') == [''] on both engines)
    docs = docs.withColumn("text", F.coalesce(F.col("text"), F.lit("")))
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(config.STOPWORDS)))
    n_distinct = F.size(F.array_distinct(toks))
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        n_distinct.cast("long").alias("n_distinct"),
        F.round(n_distinct / n, ndigits).alias("distinct_ratio"),
        F.round(n_stop / n, ndigits).alias("stop_ratio"),
        F.round((F.length("text") - (n - 1)) / n, ndigits).alias("avg_word_len"),
    )


def char_bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, bigram) — all character bigrams per doc (narrow
    sequence+transform, 1-based substr)."""
    n = F.length("text")
    seq = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return docs.select(
        "doc_id",
        "lang",
        F.explode(F.transform(seq, lambda i: F.col("text").substr(i, F.lit(2)))).alias(
            "bigram"
        ),
    )


def langid_predictions(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, pred_lang): n-gram-profile language ID.

    Profile = per-(lang, bigram) counts over the corpus (tiny: langs ×
    distinct bigrams; broadcast).  Vote(doc, lang) = Σ over the doc's
    bigrams of profile count.  pred = argmax by (votes desc, lang asc).
    On the synthetic corpus text is independent of lang, so this measures
    the *operator*, not model accuracy.

    Scale shape: the per-char explode is map-only and the groupBys run
    hash partial aggregation before their exchange, so shuffled volume
    is distinct (doc, bigram) rows — NOT ~len(text) rows per doc; the
    exploded rows exist only transiently inside the map task.  The
    PROFILE is derived from the per-doc counts by a second (tiny)
    aggregation rather than re-scanning the corpus: profile votes per
    (lang, bigram) ≡ Σ over docs of the doc-level count, so AQE reuses
    the doc_bg shuffle stage (final adaptive plan shows ReusedExchange;
    the pre-AQE explain still prints two scans — reuse is stage-level
    at runtime).  At sf0.1 the wall is a wash (the scan is page-cached
    and cheap); the win is at scale, where scanning + exploding the
    corpus twice is the dominant cost the old two-branch plan paid."""
    bg = char_bigrams(docs)
    doc_bg = bg.groupBy("doc_id", "lang", "bigram").agg(F.count("*").alias("n"))
    profile = doc_bg.groupBy(F.col("lang").alias("p_lang"), "bigram").agg(
        F.sum("n").alias("votes")
    )
    scored = (
        doc_bg.join(F.broadcast(profile), "bigram")
        .groupBy("doc_id", "lang", "p_lang")
        .agg(F.sum(F.col("n") * F.col("votes")).alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("p_lang").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", F.col("p_lang").alias("pred_lang"))
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, ws_tokens, n_chars, bpe_estimate): whitespace token count
    plus the standard chars/4 BPE-subword estimate. NULL text counts as
    an empty doc (see quality_features)."""
    docs = docs.withColumn("text", F.coalesce(F.col("text"), F.lit("")))
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("ws_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        F.greatest(F.lit(1), F.ceil(F.length("text") / 4)).cast("long").alias("bpe_estimate"),
    )


def sentence_texts(
    docs: DataFrame, id_col: str = "doc_id", extra_cols: tuple = ()
) -> DataFrame:
    """(doc_id, *extra_cols, sent_id, sent_text) — sentence strings by
    terminator split, entirely narrow (no window, no shuffle; contrast
    sentences.tokens_long, whose running-count window is the right shape
    when later stages need per-TOKEN rows).

    Same sentence model as the reference (datas.py:303-313): a sentence
    ENDS at each terminator token (the terminator belongs to the
    preceding sentence); tokens after the last terminator form the final
    sentence; a trailing terminator leaves no empty sentence behind.
    sent_id equals the running-terminator-count id of tokens_long, so
    the two formulations join consistently.

    Scale: boundary arrays are O(#sentences) per doc and each slice
    copies its own tokens once — O(n_tokens) total work and allocation,
    no quadratic term.
    """
    df = docs.withColumn("text", F.coalesce(F.col("text"), F.lit("")))
    toks = F.when(
        F.col("text") == "", F.array().cast("array<string>")
    ).otherwise(F.split(F.col("text"), " "))
    df = df.withColumn("tokens", toks).withColumn("n_tokens", F.size("tokens"))
    n = F.col("n_tokens")
    seq0 = F.when(n >= 1, F.sequence(F.lit(0), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    term_pos = F.filter(
        seq0,
        lambda i: F.element_at(F.col("tokens"), (i + F.lit(1)).cast("int"))
        == F.lit(config.SENT_TERM),
    )
    starts = F.concat(
        F.array(F.lit(0)), F.transform(term_pos, lambda p: p + F.lit(1))
    )
    ends = F.concat(term_pos, F.array((n - 1).cast("int")))
    segs = F.filter(
        F.zip_with(
            starts,
            ends,
            lambda s, e: F.struct(s.alias("s"), e.alias("e")),
        ),
        lambda p: p["s"] <= p["e"],
    )
    sent = F.transform(
        segs,
        lambda p: F.array_join(
            F.slice(
                F.col("tokens"),
                (p["s"] + F.lit(1)).cast("int"),
                (p["e"] - p["s"] + F.lit(1)).cast("int"),
            ),
            " ",
        ),
    )
    extras = [F.col(c) for c in extra_cols]
    return df.select(
        F.col(id_col).alias("doc_id"),
        *extras,
        F.posexplode(sent).alias("sent_id", "sent_text"),
    ).select(
        "doc_id",
        *extra_cols,
        F.col("sent_id").cast("long").alias("sent_id"),
        "sent_text",
    )


def repetition_stats(docs: DataFrame, ndigits: int = 4) -> DataFrame:
    """(doc_id, n_grams2, top_gram_count, top_gram_frac, n_sents,
    n_distinct_sents, dup_sent_frac) — Gopher-style repetition signals
    (Rae et al. 2021 §A1.1: fraction of characters in the most common
    n-gram; fraction of duplicated lines — here sentences).

    Shape at scale: the word-2-gram leg explodes per-doc grams but both
    groupBys run map-side partial aggregation, so the exchanges carry
    distinct (doc_id, gram) rows then one row per doc; the sentence leg
    is the narrow splitter + one (doc_id, sent_text) partial-agg
    exchange.  Docs with < 2 tokens have no 2-grams (n_grams2 = 0,
    fractions 0) and every doc has ≥ 0 sentences — single-sentence docs
    have dup_sent_frac 0.
    """
    docs = docs.withColumn("text", F.coalesce(F.col("text"), F.lit("")))
    toks = F.when(
        F.col("text") == "", F.array().cast("array<string>")
    ).otherwise(F.split(F.col("text"), " "))
    df = docs.withColumn("tokens", toks).withColumn("n_tokens", F.size("tokens"))
    n = F.col("n_tokens")
    seq = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    grams = df.select(
        "doc_id",
        F.explode(
            F.transform(
                seq,
                lambda i: F.concat(
                    F.element_at(F.col("tokens"), i.cast("int")),
                    F.lit(" "),
                    F.element_at(F.col("tokens"), (i + F.lit(1)).cast("int")),
                ),
            )
        ).alias("gram"),
    )
    gram_stats = (
        grams.groupBy("doc_id", "gram")
        .agg(F.count("*").alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_grams2"),
            F.max("cnt").alias("top_gram_count"),
        )
    )
    # keyed on md5(sent_text) so the exchange carries fixed-width keys,
    # not sentence text (same equality assumption as dedup operators)
    sent_stats = (
        sentence_texts(docs)
        .groupBy("doc_id", F.md5("sent_text").alias("sh"))
        .agg(F.count("*").alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_sents"),
            F.count("*").alias("n_distinct_sents"),
        )
    )
    base = docs.select("doc_id")
    out = base.join(gram_stats, "doc_id", "left").join(sent_stats, "doc_id", "left")
    return out.select(
        "doc_id",
        F.coalesce("n_grams2", F.lit(0)).cast("long").alias("n_grams2"),
        F.coalesce("top_gram_count", F.lit(0)).cast("long").alias("top_gram_count"),
        F.round(
            F.coalesce(F.col("top_gram_count") / F.col("n_grams2"), F.lit(0.0)),
            ndigits,
        ).alias("top_gram_frac"),
        F.coalesce("n_sents", F.lit(0)).cast("long").alias("n_sents"),
        F.coalesce("n_distinct_sents", F.lit(0)).cast("long").alias("n_distinct_sents"),
        F.round(
            F.coalesce(
                (F.col("n_sents") - F.col("n_distinct_sents")) / F.col("n_sents"),
                F.lit(0.0),
            ),
            ndigits,
        ).alias("dup_sent_frac"),
    )


def safe_tokens() -> "F.Column":
    """Null-safe whitespace token array of ``text``: NULL/empty → [].
    THE tokenization expression for every n-gram/count operator in this
    module — one definition so the subtle null/empty handling can never
    drift between operators (and their oracles' shared
    ``CASE WHEN coalesce(text,'')='' THEN [] ELSE string_split(...)``
    twin)."""
    return F.when(
        F.coalesce(F.col("text"), F.lit("")) == "",
        F.array().cast("array<string>"),
    ).otherwise(F.split(F.col("text"), " "))


def word_bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, w1, w2) — all adjacent word pairs per doc (narrow
    sequence+transform; docs with < 2 tokens yield no rows)."""
    df = docs.withColumn("tokens", safe_tokens()).withColumn(
        "n_tokens", F.size("tokens")
    )
    n = F.col("n_tokens")
    seq = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    pair = F.transform(
        seq,
        lambda i: F.struct(
            F.element_at(F.col("tokens"), i.cast("int")).alias("w1"),
            F.element_at(F.col("tokens"), (i + F.lit(1)).cast("int")).alias("w2"),
        ),
    )
    return df.select("doc_id", F.explode(pair).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )


def lm_bigram_scores(docs: DataFrame, ndigits: int = 4) -> DataFrame:
    """(doc_id, n_bigrams, nll) — CCNet/KenLM-style LM quality scoring
    with a bigram model trained on the corpus itself: per-doc mean
    negative log-likelihood under P(w2|w1) = C(w1 w2) / C(w1 ·).
    Self-training means every doc bigram has corpus count ≥ 1, so no
    smoothing term is needed and the probability is exact count
    arithmetic inside one ``ln``.  Low nll = repetitive/templated text,
    high nll = text surprising for the corpus — both tails are the
    standard filter targets.

    Scale shape: one corpus explode → (doc, w1, w2) hash aggregate with
    map-side combine; the MODEL (bigram counts, then first-word
    marginals) re-aggregates that output, so AQE reuses the doc-level
    shuffle instead of re-scanning the corpus (the langid-profile
    pattern).  The model join is on (w1, w2) — bigram-vocabulary-sized,
    larger than a broadcast dimension at crawl scale, so it is a plain
    shuffled equi-join and AQE may still elect broadcast when small.
    Float parity: the per-doc sum adds n·ln(c2/c1) doubles then rounds;
    reorder error is ~1e-12 relative, far below the rounding grain.
    """
    doc_bg = word_bigrams(docs).groupBy("doc_id", "w1", "w2").agg(
        F.count("*").alias("n")
    )
    c2 = doc_bg.groupBy("w1", "w2").agg(F.sum("n").alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    scored = (
        doc_bg.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("long").alias("n_bigrams"),
            F.round(
                -F.sum(F.col("n") * F.log(F.col("c2") / F.col("c1")))
                / F.sum("n"),
                ndigits,
            ).alias("nll"),
        )
    )
    base = docs.select("doc_id")
    return base.join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
        F.coalesce("nll", F.lit(0.0)).alias("nll"),
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, content_hash, locality_key): md5 content hash + coarse
    locality key (first token | last token | log2 length bucket).

    Content fingerprints are undefined for null/empty docs (log2(0),
    md5(NULL)); such rows are filtered on both the Spark and oracle
    sides — a real crawl dedups them via the exact-hash path instead."""
    docs = docs.filter(F.col("text").isNotNull() & (F.col("text") != ""))
    toks = F.split(F.col("text"), " ")
    bucket = F.floor(F.log2(F.length("text").cast("double"))).cast("long")
    return docs.select(
        "doc_id",
        F.md5("text").alias("content_hash"),
        F.concat_ws(
            "|", F.element_at(toks, 1), F.element_at(toks, -1), bucket.cast("string")
        ).alias("locality_key"),
    )


def vocab_df(docs: DataFrame, min_count: int = 2) -> DataFrame:
    """(token, n, token_id) vocabulary construction — the tokenizer-
    training precursor: corpus token counts, thresholded at
    ``min_count``, ids assigned contiguously by (count desc, token asc)
    so id order is frequency order and fully deterministic.

    Scale shape: the corpus-sized work is the one explode + hash
    aggregate (map-side combine reduces each partition to its distinct
    tokens before the exchange).  The id-assignment window IS a global
    sort on a single partition — deliberate and safe: vocabularies are
    dimension-sized (they grow ~sublinearly with corpus size; even a
    100 TB crawl yields millions of types, not billions), the same
    class of driver-adjacent table as gazetteers and centroids.
    """
    from pyspark.sql import Window

    counts = (
        docs.withColumn("text", F.coalesce(F.col("text"), F.lit("")))
        .select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_count)
    )
    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    return counts.withColumn("token_id", F.row_number().over(w).cast("long"))


def nfc_normalized(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, text_nfc) — Unicode NFC normalization of the text
    column, the canonicalization pass a real crawl needs before ANY
    hash-keyed operator (exact dedup, line dedup, shingles, gazetteer
    match): the same visible string arrives from the web in composed
    and decomposed forms (é vs e+U+0301), and md5-keyed equality treats
    them as different documents unless normalized first.

    Spark has no built-in NFC function, so this is an Arrow-batched
    ``mapInPandas`` (the engine's sanctioned Python path — same policy
    as the WordPiece/tagging kernels; per-element ``unicodedata``
    inside a batch, never a row-at-a-time Python UDF at the plan
    level).  Map-only: no shuffle, composable in front of the dedup
    stack.  DuckDB's ``nfc_normalize`` (utf8proc) and Python's
    ``unicodedata`` (Unicode TR#15) agree bit-for-bit — pinned by the
    q_unicode_nfc oracle."""
    import unicodedata

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text_nfc", StringType())]
    )
    cols = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("t"))

    def norm(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "text_nfc": pdf["t"].map(
                        lambda s: unicodedata.normalize("NFC", s)
                        if isinstance(s, str)
                        else None
                    ),
                }
            )

    return cols.mapInPandas(norm, schema)


def bpe_pair_counts(docs: DataFrame, top_n: int = 20) -> DataFrame:
    """(pair, n, rank) — the top-``top_n`` adjacent-character-pair
    frequencies inside words: BPE's first merge-candidate table
    (Sennrich et al. 2016 — iteration 0 symbols are characters; the
    most frequent pair is the first merge a tokenizer trainer picks).

    Scale shape is the BPE trainer's own trick: the corpus collapses to
    the WORD-COUNT vocabulary first (one partial-aggregable groupBy —
    the only corpus-sized pass), then pairs are enumerated over
    distinct words WEIGHTED by their counts, so the pair explode fans
    out by vocabulary size, not corpus size.  The top-N runs on the
    pair-vocabulary table via a distributed TakeOrderedAndProject, no
    global sort of anything corpus-shaped."""
    from pyspark.sql import Window

    toks = docs.select(
        F.explode(
            F.split(F.coalesce(F.col("text"), F.lit("")), " ")
        ).alias("w")
    ).filter(F.col("w") != "")
    wc = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    idxs = F.when(
        F.length("w") >= 2, F.sequence(F.lit(1), F.length("w") - 1)
    ).otherwise(F.array().cast("array<int>"))
    pairs = wc.select(
        F.explode(
            F.transform(idxs, lambda i: F.col("w").substr(i, F.lit(2)))
        ).alias("pair"),
        "c",
    )
    agg = pairs.groupBy("pair").agg(F.sum("c").cast("long").alias("n"))
    top = agg.orderBy(F.col("n").desc(), F.col("pair").asc()).limit(top_n)
    w = Window.orderBy(F.col("n").desc(), F.col("pair").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def perplexity_buckets(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, nll, bucket) — CCNet's head/middle/tail split
    (Wenzek et al. 2020): per language, documents are ranked by LM
    score (here the self-trained bigram NLL of
    :func:`lm_bigram_scores`) and cut into terciles — 'head' is the
    best-scoring third that CCNet feeds to training first, 'tail' the
    noisiest.  The standard perplexity-based quality gate of every
    CommonCrawl curation pipeline.

    Determinism: ntile over a TOTAL order (nll asc, doc_id asc) — the
    tie-break makes bucket boundaries engine-reproducible even when
    scores repeat.  Scale shape: the window runs on the DOC-level score
    table partitioned by language (the mixture's natural key), nothing
    token-sized; the LM scoring underneath is the one corpus pass."""
    from pyspark.sql import Window

    s = lm_bigram_scores(docs)
    j = docs.select("doc_id", "lang").join(s, "doc_id")
    w = Window.partitionBy("lang").orderBy(F.col("nll").asc(), F.col("doc_id").asc())
    tile = F.ntile(3).over(w)
    return j.select(
        "doc_id",
        "lang",
        "nll",
        F.when(tile == 1, F.lit("head"))
        .when(tile == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def word_trigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, w1, w2, w3) — all adjacent word triples per doc (narrow
    sequence+transform, the word_bigrams device one order higher; docs
    with < 3 tokens yield no rows)."""
    df = docs.withColumn("tokens", safe_tokens()).withColumn(
        "n_tokens", F.size("tokens")
    )
    n = F.col("n_tokens")
    seq = F.when(n >= 3, F.sequence(F.lit(1), n - 2)).otherwise(
        F.array().cast("array<int>")
    )
    tri = F.transform(
        seq,
        lambda i: F.struct(
            F.element_at(F.col("tokens"), i.cast("int")).alias("w1"),
            F.element_at(F.col("tokens"), (i + F.lit(1)).cast("int")).alias("w2"),
            F.element_at(F.col("tokens"), (i + F.lit(2)).cast("int")).alias("w3"),
        ),
    )
    return df.select("doc_id", F.explode(tri).alias("t")).select(
        "doc_id",
        F.col("t.w1").alias("w1"),
        F.col("t.w2").alias("w2"),
        F.col("t.w3").alias("w3"),
    )


def stupid_backoff_scores(
    docs: DataFrame, alpha: float = 0.4, ndigits: int = 6
) -> DataFrame:
    """Stupid Backoff trigram scoring (Brants et al. 2007, "Large
    Language Models in Machine Translation" — the distributed-count LM
    that replaced smoothed Kneser-Ney at MapReduce scale): for a probe
    trigram (w1, w2, w3),

        S(w3 | w1 w2) = c(w1 w2 w3) / c(w1 w2)          if c(w1 w2 w3) > 0
                      = α · c(w2 w3) / c(w2)             else if c(w2 w3) > 0
                      = α² · c(w3) / N                   otherwise

    with α = 0.4 (the paper's constant).  Scores are relative
    frequencies, not normalized probabilities — that is the point of
    the method: no held-out statistics, every quantity a raw count, so
    the whole model is three hash aggregates over the corpus.

    The probe set is the corpus's distinct trigrams (level-3 rows) plus
    a deterministic corrupted twin per trigram (w3 ← w1) that exercises
    the backoff chain: the corrupted context (w1, w2) stays observed
    while (w1, w2, w1) usually is not.  Output one row per distinct
    probe: (w1, w2, w3, level, score) where level ∈ {3, 2, 1} is the
    count order that matched.

    Scale shape: count tables are plain map-side-combinable groupBys of
    the (narrow) n-gram explodes; scoring is equi-joins of the probe
    table against them on their own n-gram keys — the Brants
    architecture, where the trigram table shards by key and no single
    node ever holds the model.  N (corpus token count) is a one-row
    broadcast crossJoin.  Every probe's (w1, w2) and every unigram are
    observed by construction, so the level-3/level-1 denominators are
    never NULL; c(w2 w3) alone needs the coalesce.
    """
    tg = word_trigrams(docs)
    c3 = tg.groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("c3"))
    bg = word_bigrams(docs)
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    uni = (
        docs.select(F.explode(safe_tokens()).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    n_total = uni.agg(F.sum("c1").cast("double").alias("n_total"))

    probes = (
        c3.select("w1", "w2", "w3")
        .unionByName(c3.select("w1", "w2", F.col("w1").alias("w3")))
        .distinct()
    )
    j = (
        probes.join(c3, ["w1", "w2", "w3"], "left")
        .join(c2.select("w1", "w2", F.col("c2").alias("c12")), ["w1", "w2"], "left")
        .join(
            c2.select(
                F.col("w1").alias("w2"), F.col("w2").alias("w3"),
                F.col("c2").alias("c23"),
            ),
            ["w2", "w3"],
            "left",
        )
        .join(uni.select(F.col("w").alias("w2"), F.col("c1").alias("cw2")), "w2")
        .join(uni.select(F.col("w").alias("w3"), F.col("c1").alias("cw3")), "w3")
        .crossJoin(F.broadcast(n_total))
    )
    a = F.lit(float(alpha))
    score = (
        F.when(
            F.col("c3").isNotNull(),
            F.col("c3").cast("double") / F.col("c12"),
        )
        .when(
            F.col("c23").isNotNull(),
            a * F.col("c23").cast("double") / F.col("cw2"),
        )
        .otherwise(a * a * F.col("cw3").cast("double") / F.col("n_total"))
    )
    level = (
        F.when(F.col("c3").isNotNull(), F.lit(3))
        .when(F.col("c23").isNotNull(), F.lit(2))
        .otherwise(F.lit(1))
        .cast("int")
    )
    return j.select(
        "w1", "w2", "w3",
        level.alias("level"),
        F.round(score, ndigits).alias("score"),
    )


def extractive_summary(docs: DataFrame, ndigits: int = 6) -> DataFrame:
    """SumBasic-style extractive summarization (Nenkova & Vanderwende
    2005: sentence worth ≈ mean corpus probability of its words): per
    doc, the sentence maximizing (Σ_w c(w)) / n_toks, ties broken by
    earliest sentence — ``(doc_id, best_sent, n_toks, score)`` with
    score = that mean / N rounded at ``ndigits``.

    Selection happens on the UNROUNDED ratio csum/n_toks: both engines
    divide the same exact integers, so the doubles are bit-identical
    and the max-equality join is exact (no epsilon, no float-sum-order
    hazard — the only float op per sentence is one division).

    Scale shape: one exploded-token aggregate builds the word-count
    model; sentences score via an equi-join of tokens against that
    vocabulary-sized table (AQE elects broadcast while it fits —
    the lm_bigram posture) and ONE (doc, sent) hash aggregate; the
    per-doc argmax is max-join + min(sent_id), never a corpus-wide
    window.
    """
    from .sentences import tokens_long

    ts = tokens_long(docs).select("doc_id", "sent_id", "tok")
    wc = ts.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    n_total = wc.agg(F.sum("c").cast("double").alias("n_total"))
    sent = (
        ts.join(wc, "tok")
        .groupBy("doc_id", "sent_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_toks"),
            F.sum("c").cast("long").alias("csum"),
        )
        .withColumn("r", F.col("csum").cast("double") / F.col("n_toks"))
    )
    mx = sent.groupBy("doc_id").agg(F.max("r").alias("m"))
    win = (
        sent.join(mx, "doc_id")
        .filter(F.col("r") == F.col("m"))
        .groupBy("doc_id")
        .agg(
            F.min("sent_id").cast("long").alias("best_sent"),
            F.min_by("n_toks", "sent_id").alias("n_toks"),
            F.min_by("r", "sent_id").alias("r"),
        )
    )
    return win.crossJoin(F.broadcast(n_total)).select(
        "doc_id",
        "best_sent",
        "n_toks",
        F.round(F.col("r") / F.col("n_total"), ndigits).alias("score"),
    )


def skipgram_pairs(
    docs: DataFrame, window: int = 2, subsample_t: float = 1e-3
) -> DataFrame:
    """word2vec skip-gram training-pair generation (Mikolov et al.
    2013) with DETERMINISTIC frequency subsampling: token at (doc,
    pos) survives iff md5(doc|pos) mod 1000 < ⌊1000·√(t/f(w))⌋ (the
    paper's discard rule with the repo's hash-in-place-of-randomness
    device), then (center, context) pairs are drawn over the SURVIVING
    compacted sequence within ±``window`` — deleting frequent words
    widens effective context, exactly as word2vec's subsampling does.
    Output: aggregated (center, context, cnt).

    Scale shape: one vocabulary count aggregate; the keep-filter is an
    equi-join of the token stream against that vocabulary-sized table
    (AQE broadcasts while it fits); pair generation is ``window``
    lead() calls over ONE doc-partitioned window pass (no token
    self-join), then a map-side-combinable pair count.  The subsample
    threshold is a pure function of exact integer counts through one
    sqrt, bit-identical across engines.
    """
    from .sentences import tokens_long

    ts = tokens_long(docs).select("doc_id", "pos", "tok")
    wc = ts.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    n_total = wc.agg(F.sum("c").cast("double").alias("n_total"))
    thr = F.least(
        F.lit(1000.0),
        F.floor(
            F.lit(1000.0)
            * F.sqrt(F.lit(float(subsample_t)) / (F.col("c") / F.col("n_total")))
        ).cast("double"),
    )
    h = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("doc_id").cast("string"),
                        F.col("pos").cast("string"),
                    )
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("long")
        % 1000
    )
    kept = (
        ts.join(wc, "tok")
        .crossJoin(F.broadcast(n_total))
        .filter(h < thr)
        .select("doc_id", "pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    pairs = None
    for k in range(1, int(window) + 1):
        p = kept.select(
            F.col("tok").alias("center"),
            F.lead("tok", k).over(w).alias("context"),
        ).filter(F.col("context").isNotNull())
        both = p.unionByName(
            p.select(
                F.col("context").alias("center"), F.col("center").alias("context")
            )
        )
        pairs = both if pairs is None else pairs.unionByName(both)
    return pairs.groupBy("center", "context").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )


def token_entropy(
    docs: DataFrame, group_col: str = "source", ndigits: int = 6
) -> DataFrame:
    """Per-group Shannon entropy of the token distribution,
    H = ln(N) − (Σ_w c_w·ln c_w)/N — the information-density quality
    signal (low entropy = templated/boilerplate-heavy source, high =
    diverse vocabulary; complements the bigram-LM nll, which scores
    docs against the corpus rather than sources against themselves).

    Exact integer counts feed a per-word c·ln c table whose sum is the
    only reordered float reduction — vocabulary-sized terms, reorder
    error ~1e-15 relative, far under the rounding grain (the pagerank
    device).  Two hash aggregates, the second RE-AGGREGATING the
    first's (group, token) output on its prefix key (AQE shuffle
    reuse); output is group-sized.
    """
    tw = docs.select(
        F.col(group_col).alias("grp"), F.explode(safe_tokens()).alias("w")
    )
    cw = tw.groupBy("grp", "w").agg(F.count(F.lit(1)).alias("c"))
    g = cw.groupBy("grp").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double"))).alias(
            "sclc"
        ),
    )
    h = F.log(F.col("n_tokens").cast("double")) - F.col("sclc") / F.col("n_tokens")
    return g.select(
        F.col("grp").alias(group_col),
        "n_tokens",
        F.round(h, ndigits).alias("entropy"),
    )


def phrase_llr(
    docs: DataFrame, min_count: int = 5, ndigits: int = 4
) -> DataFrame:
    """Collocation / phrase mining by log-likelihood ratio (Dunning
    1993, "Accurate methods for the statistics of surprise and
    coincidence" — the standard significance test for phrase detection
    ahead of tokenizer/word2vec training): for every adjacent bigram
    with count ≥ ``min_count``,

        llr = 2·(S(k11)+S(k12)+S(k21)+S(k22)
                 −S(r1)−S(r2)−S(c1)−S(c2)+S(N)),   S(x) = x·ln x, S(0)=0

    over the 2×2 contingency table of (first word = w1) × (second word
    = w2).  Output: (w1, w2, c12, llr) rounded at ``ndigits``.

    All nine S-terms are exact-integer xlogx values combined in ONE
    fixed-order expression, identical in the SQL twin — no reordered
    float summation anywhere.  Marginals and N are RE-AGGREGATIONS of
    the bigram-count table (never a second corpus scan); the min_count
    filter prunes the scored table before the slim marginal joins.
    """
    bg = word_bigrams(docs).groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c12")
    )
    r1 = bg.groupBy("w1").agg(F.sum("c12").alias("r1"))
    c1 = bg.groupBy("w2").agg(F.sum("c12").alias("c1"))
    nn = bg.agg(F.sum("c12").cast("double").alias("nb"))

    def s(x):
        xd = x.cast("double")
        return F.when(xd > 0.0, xd * F.log(xd)).otherwise(F.lit(0.0))

    j = (
        bg.filter(F.col("c12") >= min_count)
        .join(r1, "w1")
        .join(c1, "w2")
        .crossJoin(F.broadcast(nn))
    )
    k11 = F.col("c12")
    k12 = F.col("r1") - F.col("c12")
    k21 = F.col("c1") - F.col("c12")
    k22 = F.col("nb") - F.col("r1") - F.col("c1") + F.col("c12")
    llr = F.lit(2.0) * (
        s(k11) + s(k12) + s(k21) + s(k22)
        - s(F.col("r1")) - s(F.col("nb") - F.col("r1"))
        - s(F.col("c1")) - s(F.col("nb") - F.col("c1"))
        + s(F.col("nb"))
    )
    return j.select(
        "w1", "w2",
        F.col("c12").cast("long").alias("c12"),
        F.round(llr, ndigits).alias("llr"),
    )


def zipf_fit(docs: DataFrame, top_n: int = 100) -> DataFrame:
    """Zipf-law exponent of the corpus: OLS slope of ln(freq) on
    ln(rank) over the ``top_n`` most frequent tokens — the classic
    corpus-health diagnostic (natural text ≈ −1; templated/spam text
    bends the tail).  Ranks use the (freq desc, token asc) total order.

    Composes regression.ols_fit's exact-sufficient-statistics engine by
    FIXED-POINT ingesting the logs (round(ln·10⁶) → integer micro-log
    units, both engines' ln being IEEE-identical on exact integer
    inputs) — so even this float-native fit inherits the
    bit-reproducible aggregation path; the slope is unit-free (the 10⁶
    scales cancel).  The rank window runs on the vocabulary-sized count
    table, never on tokens."""
    from pyspark.sql import Window as _W

    from .regression import ols_fit

    wc = (
        docs.select(F.explode(safe_tokens()).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = _W.orderBy(F.col("c").desc(), F.col("w").asc())
    ranked = (
        wc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select(
            F.lit("corpus").alias("corpus"),
            F.round(F.log(F.col("rank").cast("double")) * 1e6)
            .cast("long")
            .alias("xi"),
            F.round(F.log(F.col("c").cast("double")) * 1e6)
            .cast("long")
            .alias("yi"),
        )
    )
    return ols_fit(ranked, "xi", "yi", ["corpus"])


def novelty_scores(docs: DataFrame, ndigits: int = 6) -> DataFrame:
    """Per-doc n-gram novelty: the fraction of a document's trigram
    occurrences whose trigram FIRST appears in this document (first =
    smallest doc_id over the corpus) — the dedup-aware curriculum /
    crawl-value signal: a doc full of already-seen n-grams adds little
    training signal even if no dedup rule fires.  Output: (doc_id,
    n_grams, n_novel, novelty); docs with < 3 tokens have no trigrams
    and are omitted.

    Shape: one trigram explode feeds BOTH the per-gram min(doc_id)
    aggregate and the join-back (same shuffle key (w1,w2,w3), AQE
    reuses the exchange); the final per-doc aggregate is slim.  Exact
    integer counts, one division."""
    tg = word_trigrams(docs)
    first = tg.groupBy("w1", "w2", "w3").agg(F.min("doc_id").alias("first_doc"))
    j = tg.join(first, ["w1", "w2", "w3"])
    return (
        j.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("long"))
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double") / F.col("n_grams"), ndigits
            ).alias("novelty"),
        )
    )


def burstiness(
    docs: DataFrame, min_df: int = 5, ndigits: int = 6
) -> DataFrame:
    """Church–Gale adaptation/burstiness per token: P(a doc that
    contains w contains it AGAIN) = df₂(w)/df₁(w) (df_k = docs with ≥ k
    occurrences) — content words burst (high adaptation), function
    words don't; the lexical statistic behind stopword induction and
    topicality weighting (Church & Gale 1995, "Poisson mixtures").
    Output: (w, cf, df1, df2, adaptation) for tokens with df₁ ≥
    ``min_df``.

    Shape: one (doc, token) count aggregate, then ONE re-aggregation of
    its output for cf/df₁/df₂ (AQE shuffle reuse; the corpus is scanned
    once).  Exact integers, one division."""
    dtf = (
        docs.select("doc_id", F.explode(safe_tokens()).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    agg = dtf.groupBy("w").agg(
        F.sum("tf").cast("long").alias("cf"),
        F.count(F.lit(1)).cast("long").alias("df1"),
        F.sum((F.col("tf") >= 2).cast("long")).cast("long").alias("df2"),
    )
    return agg.filter(F.col("df1") >= min_df).select(
        "w", "cf", "df1", "df2",
        F.round(F.col("df2").cast("double") / F.col("df1"), ndigits).alias(
            "adaptation"
        ),
    )


def chi2_tokens(
    docs: DataFrame, label, min_df: int = 5, ndigits: int = 6
) -> DataFrame:
    """Chi-square feature selection: 2×2 association between document-
    level token presence and a binary label — the standard filter a
    classifier pipeline runs to pick its vocabulary.

    Per token: a = positive docs containing it, b = negative docs
    containing it, c/d the complements; χ² = N·(ad−bc)²/((a+b)(c+d)(a+c)(b+d)).
    All eight cells are exact integers; the χ² float is computed with a
    FIXED operand order (N·diff·diff then four successive divisions) so
    both engines agree bit-for-bit — the naive single-expression integer
    form overflows int64 at corpus scale (N²·diff² at N ~ 1e5 already).
    Plan: distinct-token explode (presence, not counts), one token
    aggregate, scalar totals broadcast back; min_df bounds the output.
    Degenerate marginals (token in every doc / label constant) → χ² = 0.
    """
    base = docs.filter(F.coalesce(F.col("text"), F.lit("")) != "").select(
        "doc_id",
        F.coalesce(label.cast("long"), F.lit(0)).alias("y"),
        "text",
    )
    toks = base.select(
        "y", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )
    per_tok = toks.groupBy("tok").agg(
        F.sum("y").cast("long").alias("a"),
        F.sum(F.lit(1) - F.col("y")).cast("long").alias("b"),
    )
    tot = base.agg(
        F.sum("y").cast("long").alias("n_pos"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    j = per_tok.filter(F.col("a") + F.col("b") >= min_df).crossJoin(
        F.broadcast(tot)
    )
    c = F.col("n_pos") - F.col("a")
    d = (F.col("n_docs") - F.col("n_pos")) - F.col("b")
    diff = (F.col("a") * d - F.col("b") * c).cast("double")
    m1 = (F.col("a") + F.col("b")).cast("double")
    m2 = (c + d).cast("double")
    m3 = (F.col("a") + c).cast("double")
    m4 = (F.col("b") + d).cast("double")
    chi2 = (
        F.col("n_docs").cast("double") * diff * diff / m1 / m2 / m3 / m4
    )
    return j.select(
        "tok",
        "a",
        "b",
        c.alias("c"),
        d.alias("d"),
        F.round(
            F.when((m1 == 0) | (m2 == 0) | (m3 == 0) | (m4 == 0), F.lit(0.0))
            .otherwise(chi2),
            ndigits,
        ).alias("chi2"),
    )


def readability_scores(docs: DataFrame, ndigits: int = 4) -> DataFrame:
    """Flesch reading-ease per document — the classic readability
    screen a curation pipeline runs next to the length/stopword quality
    features (quality_features): 206.835 − 1.015·(words/sentences)
    − 84.6·(syllables/word), with syllables approximated by vowel runs
    ([aeiouy]+, min 1 per word) and sentences by the corpus terminator
    token (min 1).

    One corpus-sized explode + per-doc aggregate of exact integer
    counts; the score is a FIXED left-associative float chain over two
    divisions, identical on both engines; the difficulty band compares
    the ROUNDED score so band edges cannot split on an ulp.
    """
    toks = docs.filter(F.coalesce(F.col("text"), F.lit("")) != "").select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.greatest(
            F.lit(1),
            F.sum((F.col("w") == config.SENT_TERM).cast("long")),
        )
        .cast("long")
        .alias("n_sent"),
        F.sum(
            F.greatest(
                F.lit(1),
                F.size(F.expr("regexp_extract_all(w, '[aeiouy]+', 0)")),
            )
        )
        .cast("long")
        .alias("n_syll"),
    )
    score = F.round(
        F.lit(206.835)
        - F.lit(1.015) * (F.col("n_words") / F.col("n_sent"))
        - F.lit(84.6) * (F.col("n_syll") / F.col("n_words")),
        ndigits,
    )
    return per_doc.select(
        "doc_id",
        "n_words",
        "n_sent",
        "n_syll",
        score.alias("flesch"),
        F.when(score >= 60.0, F.lit("easy"))
        .when(score >= 30.0, F.lit("medium"))
        .otherwise(F.lit("hard"))
        .alias("band"),
    )


def vocab_growth(docs: DataFrame) -> DataFrame:
    """(src_idx, n_docs_cum, new_tokens, vocab_cum) — vocabulary
    saturation curve by domain prefix (the Heaps-law readout a
    tokenizer-coverage / corpus-diversity review reads): adding sources
    in index order, how many NEVER-SEEN-BEFORE token types each one
    contributes and the running vocabulary size.  A flattening curve
    says new domains stop paying for tokenizer coverage.

    Exact and scale-safe: per token ONE min(src_idx) aggregate (the
    corpus-sized pass, map-side combined); first-occurrence counts and
    document counts are then SOURCE-dimension tables (tens of rows), so
    the cumulative window is a dimension sort, never a row sort.
    Source ids follow the corpus contract ``src<N>`` (pinned in
    tests over every /root/testdata sf dir).
    """
    toks = (
        docs.filter(F.col("text").isNotNull() & (F.col("text") != ""))
        .select(
            F.expr("cast(substring(source, 4) as long)").alias("src_idx"),
            F.explode(F.split("text", " ")).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    firsts = (
        toks.groupBy("token")
        .agg(F.min("src_idx").alias("src_idx"))
        .groupBy("src_idx")
        .agg(F.count(F.lit(1)).cast("long").alias("new_tokens"))
    )
    ndocs = docs.groupBy(
        F.expr("cast(substring(source, 4) as long)").alias("src_idx")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    w = Window.orderBy("src_idx")
    return (
        ndocs.join(firsts, "src_idx", "left")
        .select(
            "src_idx",
            "n_docs",
            F.coalesce("new_tokens", F.lit(0)).alias("new_tokens"),
        )
        .select(
            "src_idx",
            F.sum("n_docs").over(w).cast("long").alias("n_docs_cum"),
            F.col("new_tokens").cast("long").alias("new_tokens"),
            F.sum("new_tokens").over(w).cast("long").alias("vocab_cum"),
        )
    )


def ngram_novelty(docs: DataFrame, k: int = 5) -> DataFrame:
    """(lang, n_docs, n_ngrams, n_novel, novelty) — the memorization /
    contamination-rate readout (Lee et al. 2022 flavor): what fraction
    of the odd-doc_id half's distinct k-gram shingles never occur in
    the even half.  High novelty = the eval split genuinely exercises
    generalization; low = the splits leak.

    Plan: one shingle explode per side (per-doc distinct — the dedup
    shingle kernel with its let-bound token array), the train side
    collapsed to a distinct shingle DIMENSION, one left join + per-lang
    aggregate; novelty is a single division of exact counts.
    """
    from ddaugner_spark.operators import dedup

    base = docs.filter(F.col("text").isNotNull() & (F.col("text") != ""))
    sh = dedup.shingles(base, k=k, extra_cols=("lang",))
    train = (
        sh.filter(F.col("doc_id") % 2 == 0).select("shingle").distinct()
        .withColumn("seen", F.lit(1))
    )
    ev = sh.filter(F.col("doc_id") % 2 == 1)
    j = ev.join(train, "shingle", "left")
    return (
        j.groupBy(F.coalesce("lang", F.lit("")).alias("lang"))
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_ngrams"),
            F.sum(F.when(F.col("seen").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
        .withColumn(
            "novelty", F.round(F.col("n_novel") / F.col("n_ngrams"), 6)
        )
    )


def naive_bayes_langid(docs: DataFrame, ndigits: int = 4) -> DataFrame:
    """(doc_id, true_lang, pred_lang, score) — multinomial naive-Bayes
    language classification with a corpus-internal train/test split:
    even doc_ids train per-(lang, token) Laplace-smoothed counts, odd
    doc_ids are scored with
    score(d, L) = ln(docs_L/D) + Σ_tok n_tok·ln((c_{tok,L}+1)/(N_L+V))
    and classified by argmax (rounded score desc, lang asc — rounding
    BEFORE the argmax so an engine ulp cannot flip the winner; the same
    self-trained-model contract as [[q_lm_bigram]]).  Test docs with no
    tokens drop out (no likelihood evidence) on both engines.  On the
    synthetic corpus text is independent of lang, so this measures the
    operator, not model accuracy.

    Scale shape: two corpus-token hash aggregates (test doc·token,
    train lang·token) with map-side combine — exploded rows never
    shuffle; the 5-way language fan rides a broadcast of the tiny
    (lang, N, prior) table, and the likelihood join on (lang, token) is
    a plain shuffled equi-join (vocab×|langs| rows — model-sized, NOT
    broadcast at crawl scale; AQE may still elect broadcast when
    small).  Float parity: every ln argument is exact integer
    arithmetic, per-doc sums reorder at ~1e-13 against a 1e-4 grain."""
    toks = docs.select(
        "doc_id",
        F.coalesce("lang", F.lit("")).alias("lang"),
        F.explode(F.split(F.coalesce("text", F.lit("")), " ")).alias("token"),
    ).filter(F.col("token") != "")
    train = toks.filter(F.col("doc_id") % 2 == 0)
    test = (
        toks.filter(F.col("doc_id") % 2 == 1)
        .groupBy("doc_id", "lang", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tc = train.groupBy(F.col("lang").alias("p_lang"), "token").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    lt = tc.groupBy("p_lang").agg(F.sum("c").cast("long").alias("ntok"))
    vocab = tc.select("token").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("V")
    )
    prior = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .groupBy(F.coalesce("lang", F.lit("")).alias("p_lang"))
        .agg(F.count(F.lit(1)).cast("long").alias("nd"))
    )
    dtot = docs.filter(F.col("doc_id") % 2 == 0).agg(
        F.count(F.lit(1)).cast("long").alias("D")
    )
    langs = lt.crossJoin(F.broadcast(vocab))
    like = (
        test.crossJoin(F.broadcast(langs))
        .join(tc, ["p_lang", "token"], "left")
        .groupBy("doc_id", "lang", "p_lang")
        .agg(
            F.sum(
                F.col("n")
                * F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1.0))
                    / (F.col("ntok") + F.col("V"))
                )
            ).alias("ll")
        )
    )
    scored = (
        like.join(F.broadcast(prior), "p_lang")
        .crossJoin(F.broadcast(dtot))
        .select(
            "doc_id",
            "lang",
            "p_lang",
            F.round(
                F.log(F.col("nd").cast("double") / F.col("D")) + F.col("ll"),
                ndigits,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("p_lang").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("lang").alias("true_lang"),
            F.col("p_lang").alias("pred_lang"),
            "score",
        )
    )


def lexicon_screen(
    docs: DataFrame, lexicon: dict[str, int], ndigits: int = 3
) -> DataFrame:
    """Weighted-lexicon document screen: ``(doc_id, n_tokens, n_hits,
    score, label)`` — per-doc sum of integer MILLI-weights for tokens
    (lowercased) found in a small fixed lexicon, rendered to a float
    score by ONE division, labelled pos/neg/neutral by its sign.  The
    dictionary-scoring half of a VADER/AFINN-style sentiment or
    domain-quality screen (toxicity lists, boilerplate markers) a
    filtering run applies to every crawled page.

    Spark-first: the lexicon compiles to a MapType LITERAL probed
    per-token inside one fold over the token array — map-only,
    whole-stage codegen, no explode, no join, nothing shuffled.  The
    lambdas touch only their own element plus the literal map (the
    no-computed-array-in-lambda rule).  Integer milli-weights keep the
    sum order-free, so the SQL twin (explode + LEFT JOIN + group) lands
    on identical values.  At 100 TB this is the cheapest possible
    shape: a single scan-local pass; for a 10^6-entry lexicon swap the
    literal for a broadcast map-side join on exploded tokens.
    """
    m = F.create_map(
        *[
            x
            for word, wmil in lexicon.items()
            for x in (F.lit(word), F.lit(int(wmil)))
        ]
    )
    toks = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), " "),
        lambda t: t != "",
    )
    smil = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc
        + F.coalesce(
            F.element_at(m, F.lower(t)).cast("long"), F.lit(0).cast("long")
        ),
    )
    n_hits = F.size(
        F.filter(toks, lambda t: F.element_at(m, F.lower(t)).isNotNull())
    )
    score = F.round(smil / 1000.0, ndigits)
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        n_hits.cast("long").alias("n_hits"),
        score.alias("score"),
        F.when(score > 0, F.lit("pos"))
        .when(score < 0, F.lit("neg"))
        .otherwise(F.lit("neutral"))
        .alias("label"),
    )


def kneser_ney_scores(
    docs: DataFrame, discount: float = 0.75, ndigits: int = 6
) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995; Chen
    & Goodman 1999's interpolated form) — the smoothed LM that Stupid
    Backoff traded away at MapReduce scale, here in its exact
    distributed-count form:

        P(w2 | w1) = max(c(w1 w2) − D, 0) / c(w1·)
                     + D · N1+(w1 ·) / c(w1·) · P_cont(w2)
        P_cont(w2) = N1+(· w2) / |distinct bigram types|

    with D = 0.75 and c(w1·) = Σ_w2 c(w1 w2) (bigram-left mass, so the
    distribution normalizes exactly — doc-final tokens never enter a
    denominator they don't enter a numerator of).  The continuation
    probability is KN's point: a word's unigram weight is how many
    CONTEXTS it follows, not how often it occurs.

    Probes = the corpus's distinct bigrams plus a deterministic
    corrupted twin per bigram (w2 ← w1), which exercises the unseen
    path (discounted term zero, continuation-only mass).  Output one
    row per distinct probe: ``(w1, w2, level, score)``, level 2 = seen
    bigram, 1 = continuation-only.

    Scale shape: ONE corpus-sized shuffle (the bigram count); the
    left-mass/fan-out tables and the continuation table are tiny
    re-aggregations of it keyed on w1 / w2, the type count a one-row
    broadcast — the same sharded-count architecture as
    ``stupid_backoff_scores``, no node ever holds the model.  Floats:
    both engines evaluate the identical expression tree over exact
    integer counts, rounded once at ``ndigits``.
    """
    bg = word_bigrams(docs)
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    left = c2.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("cl"),
        F.count(F.lit(1)).cast("long").alias("n1f"),
    )
    right = c2.groupBy("w2").agg(F.count(F.lit(1)).cast("long").alias("n1r"))
    n_bg = c2.agg(F.count(F.lit(1)).cast("double").alias("n_bg"))

    probes = (
        c2.select("w1", "w2")
        .unionByName(c2.select("w1", F.col("w1").alias("w2")))
        .distinct()
    )
    d = F.lit(float(discount))
    j = (
        probes.join(c2, ["w1", "w2"], "left")
        .join(left, "w1")
        .join(right, "w2", "left")
        .crossJoin(F.broadcast(n_bg))
    )
    pcont = F.coalesce(F.col("n1r"), F.lit(0)).cast("double") / F.col("n_bg")
    score = (
        F.greatest(
            F.coalesce(F.col("c12"), F.lit(0)).cast("double") - d, F.lit(0.0)
        )
        / F.col("cl")
        + d * F.col("n1f") / F.col("cl") * pcont
    )
    level = (
        F.when(F.col("c12").isNotNull(), F.lit(2)).otherwise(F.lit(1)).cast("int")
    )
    return j.select(
        "w1",
        "w2",
        level.alias("level"),
        F.round(score, ndigits).alias("score"),
    )


def topic_segments(
    docs: DataFrame, block: int = 20, threshold: float = 0.15, ndigits: int = 6
) -> DataFrame:
    """TextTiling-style topic-boundary detection (Hearst CL'97, the
    block-comparison form) — the SEMANTIC complement to fixed-stride
    ``chunk_windows``: per document, tokens are grouped into
    ``block``-token blocks and each adjacent block pair scored by the
    cosine of their token-count vectors; a similarity dip below
    ``threshold`` marks a topic boundary (where a chunking pipeline
    should prefer to cut).  Output one row per adjacent pair:
    ``(doc_id, left_block, sim, is_boundary)``.

    Determinism: dot products and squared norms are EXACT INTEGER
    aggregates of the per-(doc, block, token) count table; the cosine
    is the fixed tree dot / sqrt(n1 · n2), rounded once.

    Scale shape: one narrow explode to (doc, block, token) counts (the
    only corpus-sized shuffle, keyed like every other n-gram
    aggregate), a self-equi-join on (doc_id, token, block+1) for the
    dot product — blocks only meet their immediate neighbor, never a
    quadratic pair space — and two slim block-norm joins.
    """
    toks = docs.filter(F.coalesce(F.col("text"), F.lit("")) != "").select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "tok"),
    )
    counts = (
        toks.select(
            "doc_id",
            F.floor(F.col("pos") / block).cast("long").alias("b"),
            "tok",
        )
        .groupBy("doc_id", "b", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    right = counts.select(
        "doc_id", (F.col("b") - 1).alias("b"), "tok", F.col("c").alias("c2")
    )
    dot = (
        counts.join(right, ["doc_id", "b", "tok"])
        .groupBy("doc_id", "b")
        .agg(F.sum(F.col("c") * F.col("c2")).cast("long").alias("dot"))
    )
    norms = counts.groupBy("doc_id", "b").agg(
        F.sum(F.col("c") * F.col("c")).cast("long").alias("nsq")
    )
    n2 = norms.select(
        "doc_id", (F.col("b") - 1).alias("b"), F.col("nsq").alias("nsq2")
    )
    pairs = (
        norms.join(n2, ["doc_id", "b"])
        .join(dot, ["doc_id", "b"], "left")
        .select(
            "doc_id",
            F.col("b").alias("left_block"),
            F.coalesce(F.col("dot"), F.lit(0)).alias("dot"),
            "nsq",
            "nsq2",
        )
    )
    sim = F.col("dot").cast("double") / F.sqrt(
        F.col("nsq").cast("double") * F.col("nsq2").cast("double")
    )
    return pairs.select(
        "doc_id",
        "left_block",
        F.round(sim, ndigits).alias("sim"),
        (F.round(sim, ndigits) < threshold).alias("is_boundary"),
    )


#: Gopher (Rae et al. 2021, §A1.1) "required words": a document must
#: contain at least ``GOPHER_MIN_STOPS`` of these to pass ok_stops.
#: Python tuple injected as literals into BOTH engines.
GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_MIN_STOPS = 2


def gopher_rules(
    docs: DataFrame,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_len: int = 3,
    max_mean_len: int = 10,
) -> DataFrame:
    """Gopher document-level quality-rule gate (Rae et al. 2021 §A1.1),
    one row per doc: ``(doc_id, n_words, ok_words, ok_mean_len,
    ok_symbols, ok_bullets, ok_ellipsis, ok_alpha, ok_stops, keep)`` —
    the rule-based pre-filter every LLM curation pipeline runs before
    the learned quality classifiers (complementing quality_features'
    raw ratios and repetition_stats' dup signals with the canonical
    pass/fail form):

    * word count in [min_words, max_words];
    * mean word length in [min_mean_len, max_mean_len];
    * symbol-to-word ratio (``#`` + ``...``) ≤ 0.1;
    * ≤ 90% of lines starting with a bullet (``- `` / ``* ``);
    * ≤ 30% of lines ending with ``...``;
    * ≥ 80% of words containing an alphabetic character;
    * ≥ GOPHER_MIN_STOPS of the GOPHER_STOPS list present.

    EVERY rule is an exact-integer comparison — each ratio threshold is
    cross-multiplied (``10·symbols ≤ n_words``, ``5·alpha ≥ 4·n``), so
    no float exists anywhere and both engines agree bit-for-bit.
    Counts come from length-diff (symbol occurrences) and
    higher-order-function filters over the split arrays (the split is
    the HOF's direct target, never a computed column referenced inside
    a lambda body).  Map-only: one projection pass, no shuffle.
    """
    docs = docs.withColumn("text", F.coalesce(F.col("text"), F.lit("")))
    toks = F.split(F.col("text"), " ")
    lines = F.split(F.col("text"), "\n")
    n = F.size(toks).cast("long")
    n_lines = F.size(lines).cast("long")
    chars_in_words = (F.length("text") - (n - 1)).cast("long")
    n_hash = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit("#")))
    ).cast("long")
    n_ellipsis = (
        (
            F.length("text")
            - F.length(F.replace(F.col("text"), F.lit("...")))
        )
        / 3
    ).cast("long")
    n_bullet = F.size(
        F.filter(
            lines,
            lambda l: l.startswith("- ") | l.startswith("* "),
        )
    ).cast("long")
    n_ell_end = F.size(
        F.filter(lines, lambda l: l.endswith("..."))
    ).cast("long")
    n_alpha = F.size(
        F.filter(toks, lambda t: t.rlike("[A-Za-z]"))
    ).cast("long")
    n_stops = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(w) for w in GOPHER_STOPS]),
        )
    ).cast("long")
    ok_words = (n >= min_words) & (n <= max_words)
    ok_mean_len = (chars_in_words >= min_mean_len * n) & (
        chars_in_words <= max_mean_len * n
    )
    ok_symbols = (n_hash + n_ellipsis) * 10 <= n
    ok_bullets = n_bullet * 10 <= n_lines * 9
    ok_ellipsis = n_ell_end * 10 <= n_lines * 3
    ok_alpha = n_alpha * 5 >= n * 4
    ok_stops = n_stops >= GOPHER_MIN_STOPS
    return docs.select(
        "doc_id",
        n.alias("n_words"),
        ok_words.alias("ok_words"),
        ok_mean_len.alias("ok_mean_len"),
        ok_symbols.alias("ok_symbols"),
        ok_bullets.alias("ok_bullets"),
        ok_ellipsis.alias("ok_ellipsis"),
        ok_alpha.alias("ok_alpha"),
        ok_stops.alias("ok_stops"),
        (
            ok_words
            & ok_mean_len
            & ok_symbols
            & ok_bullets
            & ok_ellipsis
            & ok_alpha
            & ok_stops
        ).alias("keep"),
    )


def c4_line_clean(
    docs: DataFrame,
    min_line_words: int = 5,
    min_kept_lines: int = 3,
) -> DataFrame:
    """C4 line-level cleaning (Raffel et al. 2020 §2.2), one row per
    doc: ``(doc_id, n_lines, n_kept, kept_text, doc_dropped)`` — the
    line gate of the C4 pipeline: a line survives only if it ends in
    terminal punctuation (``. ! ? \"``), has ≥ ``min_line_words``
    whitespace words, and does not mention "javascript"
    (case-insensitive); the DOC is dropped when it contains
    "lorem ipsum" or a ``{`` (code page), or keeps fewer than
    ``min_kept_lines`` lines.  Pairs with gopher_rules (document-level
    thresholds) the way the two appear together in every public
    curation stack.

    Pure string predicates — no float anywhere, so both engines agree
    exactly.  Map-only: one projection, the line filter is a
    higher-order function whose lambda touches only its own line
    variable (no computed-array capture).  kept_text re-joins with
    ``\\n`` so the downstream stage consumes the cleaned page
    directly.
    """
    docs = docs.withColumn("text", F.coalesce(F.col("text"), F.lit("")))
    lines = F.split(F.col("text"), "\n")
    term = (
        lambda l: l.endswith(".")
        | l.endswith("!")
        | l.endswith("?")
        | l.endswith('"')
    )
    kept = F.filter(
        lines,
        lambda l: term(l)
        & (F.size(F.split(l, " ")) >= min_line_words)
        & ~F.lower(l).contains("javascript"),
    )
    bad_doc = (
        F.lower(F.col("text")).contains("lorem ipsum")
        | F.col("text").contains("{")
    )
    return docs.select(
        "doc_id",
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        F.array_join(kept, "\n").alias("kept_text"),
        (bad_doc | (F.size(kept) < min_kept_lines)).alias("doc_dropped"),
    )


def textrank_keywords(
    docs: DataFrame,
    window: int = 2,
    damping: float = 0.85,
    iters: int = 2,
    stage_dir: str | None = None,
    ndigits: int = 6,
) -> DataFrame:
    """TextRank keyword scoring (Mihalcea & Tarau 2004): tokens are
    nodes, UNWEIGHTED undirected edges connect tokens co-occurring
    within ``window`` positions in a document (the paper's keyword
    setting), and the score is PageRank on that graph — reusing
    :func:`~ddaugner_spark.operators.graph.pagerank` verbatim (fixed
    ``iters`` power steps so the SQL twin unrolls the identical
    join+groupBy chain as q_pagerank, just over a different edge CTE).

    Scale shape: the pair generation is the bounded-fan-out explode
    (each token emits ``window`` probe keys, ONE hash equi-join on
    (doc_id, pos)) — never a per-document token² join; edges dedupe to
    the vocabulary-pair table (vocab²-bounded, co-occurrence-sparse in
    practice), and the PageRank iterations run on that dimension-sized
    graph with the broadcast-ranks fast path.
    """
    from .graph import pagerank
    from .sentences import tokens_long

    toks = tokens_long(docs).select("doc_id", "pos", "tok")
    probes = toks.select(
        "doc_id",
        F.col("tok").alias("ta"),
        F.explode(
            F.sequence(F.col("pos") + 1, F.col("pos") + window)
        ).alias("pos"),
    )
    pairs = probes.join(toks, ["doc_id", "pos"]).where(
        F.col("ta") != F.col("tok")
    )
    edges = pairs.select(
        F.least("ta", "tok").alias("a"),
        F.greatest("ta", "tok").alias("b"),
    ).distinct()
    pr = pagerank(
        edges, damping=damping, max_iter=iters, tol=None, stage_dir=stage_dir
    )
    return pr.select(
        F.col("entity").alias("token"),
        F.round("rank", ndigits).alias("rank"),
    )


def _chi2_token_ranked(
    docs: DataFrame, lang_a: str, lang_b: str, min_df: int
) -> DataFrame:
    """Shared p-value engine of :func:`chi2_bh_select` (step-up BH)
    and :func:`chi2_holm_select` (step-down Holm): per-token exact
    df=2 chi-square against {lang_a, lang_b, other} document presence,
    closed-form p = exp(−χ²/2), micro-quantized p9 rank order and the
    test count m — ONE derivation, two rejection rules."""
    base = docs.filter(F.coalesce(F.col("text"), F.lit("")) != "").select(
        "doc_id",
        F.when(F.col("lang") == lang_a, lang_a)
        .when(F.col("lang") == lang_b, lang_b)
        .otherwise("other")
        .alias("g"),
        "text",
    )
    toks = base.select(
        "g", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )
    is_a, is_b = F.col("g") == lang_a, F.col("g") == lang_b
    per_tok = toks.groupBy("tok").agg(
        F.sum(is_a.cast("long")).cast("long").alias("a1"),
        F.sum(is_b.cast("long")).cast("long").alias("a2"),
        F.sum((~is_a & ~is_b).cast("long")).cast("long").alias("a3"),
    )
    tot = base.agg(
        F.sum(is_a.cast("long")).cast("long").alias("n1"),
        F.sum(is_b.cast("long")).cast("long").alias("n2"),
        F.sum((~is_a & ~is_b).cast("long")).cast("long").alias("n3"),
        F.count(F.lit(1)).cast("long").alias("nn"),
    )
    j = per_tok.filter(
        F.col("a1") + F.col("a2") + F.col("a3") >= min_df
    ).crossJoin(F.broadcast(tot))
    t = (F.col("a1") + F.col("a2") + F.col("a3")).cast("double")
    nn = F.col("nn").cast("double")

    def term(o, ng):
        e1 = t * ng.cast("double") / nn
        e0 = (nn - t) * ng.cast("double") / nn
        o1 = o.cast("double")
        o0 = (ng - o).cast("double")
        return (o1 - e1) * (o1 - e1) / e1 + (o0 - e0) * (o0 - e0) / e0

    chi2 = (
        term(F.col("a1"), F.col("n1"))
        + term(F.col("a2"), F.col("n2"))
        + term(F.col("a3"), F.col("n3"))
    )
    degen = (
        (t == 0.0)
        | (t == nn)
        | (F.col("n1") == 0)
        | (F.col("n2") == 0)
        | (F.col("n3") == 0)
    )
    chi2 = F.when(degen, F.lit(0.0)).otherwise(chi2)
    scored = j.select(
        "tok", chi2.alias("chi2"), F.exp(-chi2 / F.lit(2.0)).alias("p")
    )
    p9 = F.round(F.col("p"), 9)
    w = Window.orderBy(p9.asc(), F.col("tok").asc())
    ranked = scored.select(
        "tok",
        "chi2",
        "p",
        p9.alias("p9"),
        F.row_number().over(w).cast("long").alias("bh_rank"),
    )
    m = ranked.agg(F.count(F.lit(1)).cast("long").alias("m"))
    return ranked.crossJoin(F.broadcast(m))


def chi2_bh_select(
    docs: DataFrame,
    lang_a: str = "en",
    lang_b: str = "zh",
    min_df: int = 5,
    alpha: float = 0.05,
    ndigits: int = 6,
) -> DataFrame:
    """Benjamini–Hochberg FDR-controlled token selection (Benjamini &
    Hochberg JRSS-B'95) over EXACT per-token p-values: each token's
    document-presence is tested against the 3-level language grouping
    {lang_a, lang_b, other} with a 2×3 Pearson χ² — df = 2, so the
    survival function is closed-form, p = exp(−χ²/2), no incomplete-
    gamma approximation — then the BH step-up rule rejects the largest
    prefix i ≤ k* of the p-sorted tokens with p_(i) ≤ α·i/m.  The
    multiple-testing-safe version of the q_chi2_tokens screen: with
    m ≈ vocab tests, per-test α would flood the selection with false
    positives.

    Exactness: all six observed cells are exact BIGINTs; expected
    counts and the six (O−E)²/E terms are a FIXED left-to-right float
    chain, so χ² (pure +−×÷, correctly rounded IEEE on both engines)
    is bit-identical.  ``exp`` is the one libm call and is NOT
    guaranteed identically rounded across engines, so every decision
    made on p — the sort rank and the p ≤ α·i/m comparison — uses the
    micro-quantized round(p, 9) (ulp noise sits at the 17th decimal;
    the q_kg_completion integer-quantized-MRR stance).  Ties break by
    token.  Degenerate margins (token in no/every doc, empty group)
    pin χ² = 0, p = 1.

    Scale shape: distinct-token explode → one token hash aggregate
    with three conditional presence sums → broadcast scalar totals →
    ONE vocab-sized global sort for the BH ranks (the vocabulary is
    corpus-sublinear; the ranked table then joins nothing).  k* is a
    single max aggregate broadcast back.  Output: (tok, chi2, p,
    bh_rank, rejected), rejected = the BH-selected tokens.
    """
    ranked = _chi2_token_ranked(docs, lang_a, lang_b, min_df)
    ranked = ranked.withColumn(
        "pass_",
        F.col("p9")
        <= F.round(
            F.lit(alpha)
            * F.col("bh_rank").cast("double")
            / F.col("m").cast("double"),
            9,
        ),
    )
    kstar = ranked.agg(
        F.coalesce(
            F.max(F.when(F.col("pass_"), F.col("bh_rank"))), F.lit(0)
        )
        .cast("long")
        .alias("kstar")
    )
    return (
        ranked.crossJoin(F.broadcast(kstar))
        .select(
            "tok",
            F.round("chi2", ndigits).alias("chi2"),
            F.round("p", ndigits).alias("p"),
            "bh_rank",
            (F.col("bh_rank") <= F.col("kstar")).alias("rejected"),
        )
    )


def jsd_by_group(
    docs: DataFrame,
    group_col: str = "source",
    stage_dir: str | None = None,
    ndigits: int = 6,
) -> DataFrame:
    """Per-group Jensen–Shannon divergence (Lin, IEEE-IT 1991) between
    the group's token distribution P and the CORPUS distribution Q —
    the symmetric, bounded (≤ ln 2) drift score a crawl dashboard ranks
    sources by (the distributional complement to :func:`token_entropy`,
    which scores each source only against itself): one row per group
    ``(group, n_tokens, vocab, jsd)``.

    JSD = ½·KL(P‖M) + ½·KL(Q‖M) with M = (P+Q)/2.  Corpus tokens the
    group never uses contribute q·ln(q/(q/2)) = q·ln 2 each, so the
    whole absent-token tail folds CLOSED-FORM into
    ½·ln 2·(N − Σ_present c_corpus)/N — an exact integer ratio — and
    only group-present tokens are ever materialized.

    Exactness: integer counts everywhere; each present token's
    ½(p·ln(p/m) + q·ln(q/m)) is a fixed float chain and the per-group
    Σ is the only reordered float reduction (vocabulary-sized, ~1e-15
    relative reorder error, far under the ``ndigits`` grain — the
    :func:`token_entropy` / pagerank device).

    Scale shape: one (group, token) hash aggregate, one token-keyed
    re-aggregate for the corpus margin joined back on token (shuffle
    reuse on the prefix key), one broadcast 1-row total, one
    group-sized fold.  Nothing is ever all-pairs.
    """
    tw = docs.select(
        F.col(group_col).alias("grp"), F.explode(safe_tokens()).alias("w")
    )
    # (group, token) counts fan out over three branches (corpus margin,
    # group totals, the join) — round-trip so the corpus explode+count
    # runs exactly ONCE
    cw = cut(
        tw.groupBy("grp", "w").agg(
            F.count(F.lit(1)).cast("long").alias("cg")
        ),
        f"{scratch_dir(stage_dir, 'ddaugner_jsd_')}/cw",
    )
    corpus = cw.groupBy("w").agg(F.sum("cg").cast("long").alias("cc"))
    totals = cw.groupBy("grp").agg(F.sum("cg").cast("long").alias("ng"))
    nn = corpus.agg(F.sum("cc").cast("long").alias("nn"))
    j = (
        cw.join(corpus, "w")
        .join(F.broadcast(totals), "grp")
        .crossJoin(F.broadcast(nn))
    )
    p = F.col("cg").cast("double") / F.col("ng").cast("double")
    q = F.col("cc").cast("double") / F.col("nn").cast("double")
    m = (p + q) / F.lit(2.0)
    term = F.lit(0.5) * (p * F.log(p / m) + q * F.log(q / m))
    g = j.groupBy("grp").agg(
        F.max("ng").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(term).alias("s_present"),
        F.sum("cc").cast("long").alias("csum"),
        F.max("nn").cast("long").alias("nn"),
    )
    closing = (
        F.lit(0.5)
        * F.log(F.lit(2.0))
        * (F.col("nn") - F.col("csum")).cast("double")
        / F.col("nn").cast("double")
    )
    return g.select(
        F.col("grp").alias(group_col),
        "n_tokens",
        "vocab",
        F.round(F.col("s_present") + closing, ndigits).alias("jsd"),
    )


def vocab_richness(docs: DataFrame, ndigits: int = 6) -> DataFrame:
    """One-row vocabulary-richness / crawl-saturation readout:
    ``(vocab, n_tokens, n_singletons, n_doubletons, chao1,
    gt_unseen_mass)`` — the bias-corrected Chao1 richness estimator
    (Chao, Scand. J. Stat. 1984):  V + N₁(N₁−1)/(2(N₂+1)), the
    lower-bound estimate of how many token types EXIST given how many
    were seen once/twice, and the Good–Turing unseen-probability mass
    N₁/N (Good, Biometrika 1953) — together the "is another crawl
    round worth it" planning numbers ([[q_vocab_growth]] draws the
    curve, this prices its asymptote).

    Exactness: two hash aggregates (token counts, then one row of
    exact BIGINT folds); chao1 and the GT mass are one fixed division
    each — the bias-corrected Chao1 form is used precisely because its
    (N₂+1) denominator never vanishes.  Scale: the corpus collapses to
    the vocabulary in one map-side-combined count; nothing else.
    """
    counts = (
        docs.select(F.explode(safe_tokens()).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    g = counts.agg(
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_singletons"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
        .cast("long")
        .alias("n_doubletons"),
    )
    n1, n2 = F.col("n_singletons"), F.col("n_doubletons")
    chao1 = F.col("vocab").cast("double") + (n1 * (n1 - F.lit(1))).cast(
        "double"
    ) / (F.lit(2) * (n2 + F.lit(1))).cast("double")
    gt = F.when(
        F.col("n_tokens") > 0,
        n1.cast("double") / F.col("n_tokens").cast("double"),
    ).otherwise(F.lit(0.0))
    return g.select(
        "vocab", "n_tokens", "n_singletons", "n_doubletons",
        F.round(chao1, ndigits).alias("chao1"),
        F.round(gt, ndigits).alias("gt_unseen_mass"),
    )


def burrows_delta(
    docs: DataFrame,
    group_col: str = "source",
    top_n: int = 30,
    stage_dir: str | None = None,
    ndigits: int = 6,
) -> DataFrame:
    """Burrows' Delta stylometric distance between groups (Burrows,
    LLC 2002; the standard authorship-attribution measure): z-score
    each group's relative frequency of the corpus's ``top_n`` most
    frequent words across groups, then Δ(a,b) = mean_w |z_aw − z_bw| —
    one row per unordered group pair ``(source_a, source_b, delta)``.
    The "same template farm / same author?" forensic signal next to
    [[q_jsd_drift]]'s distributional drift (Delta weights every marker
    word equally, so function-word style dominates; JSD weights by
    mass, so topic dominates).

    Exactness: relative frequencies are micro-quantized ONCE at 10⁹
    (``round(10⁹·c/n)`` — integers from there on), so the cross-group
    moments Σf, Σf² are EXACT BIGINTs and every z is a fixed float
    chain over five integers; per-pair |z_a − z_b| terms are quantized
    at 10⁶ and integer-summed (the B³ device) — no order-divergent
    float Σ anywhere.  The (group × word) grid is COMPLETED (missing
    word ⇒ frequency 0) so z-scores are over all groups, per the
    standard Delta definition.

    Scale: corpus → (group, word) counts in ONE pass (round-tripped);
    the top-``top_n`` cut is a vocabulary-sized sort; everything
    downstream — grid, moments, the pair join — is
    (groups·top_n)-sized.  Group count is assumed bounded (sources,
    authors); the pair join is groups², documented.
    """
    tw = docs.select(
        F.col(group_col).alias("grp"), F.explode(safe_tokens()).alias("w")
    )
    stage_dir = scratch_dir(stage_dir, "ddaugner_delta_")
    cw = cut(
        tw.groupBy("grp", "w").agg(
            F.count(F.lit(1)).cast("long").alias("cg")
        ),
        f"{stage_dir}/cw",
    )
    totals = cw.groupBy("grp").agg(F.sum("cg").cast("long").alias("ng"))
    top = (
        cw.groupBy("w")
        .agg(F.sum("cg").cast("long").alias("cc"))
        .orderBy(F.desc("cc"), F.asc("w"))
        .limit(top_n)
        .select("w")
    )
    grid = totals.crossJoin(F.broadcast(top))
    freq = (
        grid.join(cw, ["grp", "w"], "left")
        .select(
            "grp",
            "w",
            F.round(
                F.lit(1000000000.0)
                * F.coalesce("cg", F.lit(0)).cast("double")
                / F.col("ng").cast("double"),
                0,
            )
            .cast("long")
            .alias("fq"),
        )
    )
    freq = cut(freq, f"{stage_dir}/fq")
    mom = freq.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("s"),
        F.sum("fq").cast("long").alias("sf"),
        F.sum(F.col("fq") * F.col("fq")).cast("long").alias("qf"),
    )
    var = (
        (F.col("s") * F.col("qf") - F.col("sf") * F.col("sf")).cast("double")
        / (F.col("s") * (F.col("s") - F.lit(1))).cast("double")
    )
    z = F.when(
        var > 0,
        (
            F.col("fq").cast("double")
            - F.col("sf").cast("double") / F.col("s").cast("double")
        )
        / F.sqrt(var),
    ).otherwise(F.lit(0.0))
    zs = freq.join(F.broadcast(mom), "w").select("grp", "w", z.alias("z"))
    a = zs.select(
        F.col("grp").alias("source_a"), "w", F.col("z").alias("za")
    )
    b = zs.select(
        F.col("grp").alias("source_b"), "w", F.col("z").alias("zb")
    )
    pairs = (
        a.join(b, "w")
        .where(F.col("source_a") < F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            F.round(F.lit(1000000.0) * F.abs(F.col("za") - F.col("zb")), 0)
            .cast("long")
            .alias("tq"),
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.sum("tq").cast("long").alias("sq"),
            F.count(F.lit(1)).cast("long").alias("nw"),
        )
    )
    return pairs.select(
        "source_a",
        "source_b",
        F.round(
            F.col("sq").cast("double")
            / F.col("nw").cast("double")
            / F.lit(1000000.0),
            ndigits,
        ).alias("delta"),
    )


def fightin_words(
    docs: DataFrame,
    group_col: str,
    group_a: str,
    group_b: str,
    alpha0: float = 100.0,
    min_count: int = 5,
    ndigits: int = 6,
) -> DataFrame:
    """Monroe/Colaresi/Quinn "Fightin' Words" (Political Analysis
    2008): per-token log-odds-ratio between two groups with an
    INFORMATIVE Dirichlet prior proportional to corpus frequency,
    z-scored by the delta variance — the statistically grounded corpus
    comparison (raw log-odds overweight rare words; the prior shrinks
    exactly them), the token-level companion to
    :func:`burrows_delta`'s document-level distance.  One row per
    token with combined count ≥ ``min_count``: ``(token, cnt_a, cnt_b,
    delta, z)``.

      δ_w = ln((y_aw+α_w)/(n_a+α₀−y_aw−α_w))
          − ln((y_bw+α_w)/(n_b+α₀−y_bw−α_w)),
      σ²_w ≈ 1/(y_aw+α_w) + 1/(y_bw+α_w),   z = δ/σ,
      α_w = α₀·c_w/N.

    Determinism: counts exact BIGINTs; each token's δ and z are a
    FIXED float chain over its own five numbers — there is NO
    cross-token float reduction anywhere, so no quantization is even
    needed (rounding at ``ndigits`` is pure render).  Scale: one
    (group, token) aggregate + one token-keyed corpus margin join —
    the :func:`jsd_by_group` shape.
    """
    tw = docs.select(
        F.col(group_col).alias("grp"), F.explode(safe_tokens()).alias("w")
    ).where(F.col("grp").isin(group_a, group_b))
    cw = tw.groupBy("w").agg(
        F.sum(F.when(F.col("grp") == group_a, 1).otherwise(0))
        .cast("long")
        .alias("ya"),
        F.sum(F.when(F.col("grp") == group_b, 1).otherwise(0))
        .cast("long")
        .alias("yb"),
    )
    tot = cw.agg(
        F.sum("ya").cast("long").alias("na"),
        F.sum("yb").cast("long").alias("nb"),
        F.sum(F.col("ya") + F.col("yb")).cast("long").alias("nn"),
    )
    j = cw.where(F.col("ya") + F.col("yb") >= min_count).crossJoin(
        F.broadcast(tot)
    )
    a0 = F.lit(float(alpha0))
    aw = (
        a0
        * (F.col("ya") + F.col("yb")).cast("double")
        / F.col("nn").cast("double")
    )
    ya, yb = F.col("ya").cast("double"), F.col("yb").cast("double")
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    delta = F.log(
        (ya + aw) / (na + a0 - ya - aw)
    ) - F.log((yb + aw) / (nb + a0 - yb - aw))
    var = F.lit(1.0) / (ya + aw) + F.lit(1.0) / (yb + aw)
    return j.select(
        F.col("w").alias("token"),
        F.col("ya").alias("cnt_a"),
        F.col("yb").alias("cnt_b"),
        F.round(delta, ndigits).alias("delta"),
        F.round(delta / F.sqrt(var), ndigits).alias("z"),
    )


def chi2_holm_select(
    docs: DataFrame,
    lang_a: str = "en",
    lang_b: str = "zh",
    min_df: int = 5,
    alpha: float = 0.05,
    ndigits: int = 6,
) -> DataFrame:
    """Holm–Bonferroni step-DOWN token selection (Holm, Scand. J.
    Stat. 1979) over the SAME exact χ² p-values as
    :func:`chi2_bh_select` — the familywise-error-rate sibling of BH's
    FDR: reject p-sorted tokens while p_(i) ≤ α/(m−i+1) and STOP at
    the first failure (rejections after a failure are forbidden, the
    defining step-down property; BH's step-up scans from the other
    end).  Output ``(tok, chi2, p, rank, rejected)`` — running both
    rules on one p table is the standard "how much do I pay for FWER
    over FDR" comparison.

    Same determinism posture: every decision uses the micro-quantized
    round(·, 9) values (libm exp ulp skew), the threshold itself
    quantized identically; the stop-at-first-failure is ONE min
    aggregate over failing ranks broadcast back — no sequential scan.
    """
    ranked = _chi2_token_ranked(docs, lang_a, lang_b, min_df)
    thresh = F.round(
        F.lit(alpha)
        / (F.col("m") - F.col("bh_rank") + F.lit(1)).cast("double"),
        9,
    )
    flagged = ranked.withColumn("pass_", F.col("p9") <= thresh)
    first_fail = flagged.agg(
        F.coalesce(
            F.min(F.when(~F.col("pass_"), F.col("bh_rank"))),
            F.max("m") + 1,
        )
        .cast("long")
        .alias("ff")
    )
    return (
        flagged.crossJoin(F.broadcast(first_fail))
        .select(
            "tok",
            F.round("chi2", ndigits).alias("chi2"),
            F.round("p", ndigits).alias("p"),
            F.col("bh_rank").alias("rank"),
            (F.col("bh_rank") < F.col("ff")).alias("rejected"),
        )
    )
