"""Training-data assembly operators: sequence packing, RAG chunking,
domain-mixture weights, and exact evaluation curves (AUC,
calibration/ECE) for the quality filters upstream of them.

Engine additions beyond the reference (the last mile of a pretraining
corpus pipeline, after dedup/quality/sampling): the reference's corpus
loader stops at CoNLL sentences (/root/reference/ddaugner/datas.py);
a 100 TB pipeline still has to pack documents into fixed-length
training sequences, chunk them for retrieval, set per-domain mixture
rates, and report the filter-model quality curves.

Determinism device used throughout: every floating-point output is a
single division of EXACT INTEGER aggregates (counts, integer token
sums, integer cross products) with a fixed operand order, so Spark and
the DuckDB oracle agree bit-for-bit at round-6 — no order-dependent
double summation anywhere (CLAUDE.md determinism rule).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ddaugner_spark.plans.materialize import cut, scratch_dir


def _n_tokens(text: str = "text") -> Column:
    """Whitespace token count of a non-empty text column."""
    return F.size(F.split(text, " ")).cast("long")


def pack_sequences(
    docs: DataFrame, seq_len: int = 512, n_shards: int = 4
) -> DataFrame:
    """Concat-and-chunk sequence packing (the GPT-style pretraining
    batch layout): documents are deterministically sharded
    (``doc_id % n_shards``), concatenated in doc_id order within the
    shard, and cut into fixed ``seq_len``-token bins; each document is
    attributed to the bin its FIRST token lands in.

    Returns per (shard, bin_id): ``n_docs``, ``n_tokens`` (tokens of
    documents starting there), and ``n_straddle`` (documents crossing
    into the next bin — the count an attention-mask-aware packer would
    split).  Plan: one narrow projection, one window cumulative sum per
    shard (each shard's stream is independent — at cluster scale
    shards ≈ output files and the window parallelizes across them),
    one hash aggregate.  No Python, no collect; first-fit bin packing
    is deliberately NOT used — it is inherently sequential per bin and
    the concat-and-chunk layout is what production tokenizer pipelines
    ship.
    """
    d = docs.filter(F.coalesce(F.col("text"), F.lit("")) != "").select(
        "doc_id",
        (F.col("doc_id") % n_shards).cast("long").alias("shard"),
        _n_tokens().alias("tok"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = d.select(
        "shard",
        "tok",
        F.coalesce(F.sum("tok").over(w), F.lit(0)).alias("cum_excl"),
    )
    binned = cum.select(
        "shard",
        "tok",
        F.floor(F.col("cum_excl") / seq_len).cast("long").alias("bin_id"),
        (
            F.floor((F.col("cum_excl") + F.col("tok") - 1) / seq_len)
            > F.floor(F.col("cum_excl") / seq_len)
        ).alias("straddle"),
    )
    return binned.groupBy("shard", "bin_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("tok").cast("long").alias("n_tokens"),
        F.sum(F.col("straddle").cast("long")).cast("long").alias("n_straddle"),
    )


def chunk_windows(
    docs: DataFrame, size: int = 64, stride: int = 32
) -> DataFrame:
    """RAG chunking: overlapping ``size``-token windows every
    ``stride`` tokens, emitted as (doc_id, chunk_id, start_pos,
    n_chunk_tokens, chunk_text).

    The token array is bound ONCE as a projected column and the chunk
    starts exploded from an arithmetic ``sequence`` — ``slice`` then
    runs on the materialized array per chunk row (array work is
    O(total chunk tokens) ≈ (size/stride)× corpus, the unavoidable
    overlap factor; nothing is recomputed inside a higher-order-function
    lambda).  Chunk rows inherit the input partitioning — map-only, no
    shuffle.
    """
    toks = docs.filter(F.coalesce(F.col("text"), F.lit("")) != "").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    starts = toks.select(
        "doc_id",
        "t",
        F.explode(
            F.sequence(F.lit(0), F.size("t") - 1, F.lit(stride))
        ).alias("start_pos"),
    )
    chunk = F.slice(F.col("t"), F.col("start_pos") + 1, size)
    return starts.select(
        "doc_id",
        (F.col("start_pos") / stride).cast("long").alias("chunk_id"),
        F.col("start_pos").cast("long").alias("start_pos"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def mixture_weights(docs: DataFrame) -> DataFrame:
    """Per-source mixture weights toward a UNIFORM token budget (the
    static special case of DoReMi-style domain reweighting): for each
    source, its observed token share and the sampling weight
    ``target_share / actual_share`` that equalizes domains — weight > 1
    means the domain is upsampled (epochs repeated), < 1 downsampled.

    One aggregate over (source), the corpus total re-aggregated from
    the per-source table (source-count-sized, broadcast-scale); shares
    and weights are single divisions of exact integer token sums in a
    fixed order.
    """
    per_src = docs.filter(F.coalesce(F.col("text"), F.lit("")) != "").groupBy(
        "source"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(_n_tokens()).cast("long").alias("n_tokens"),
    )
    tot = per_src.agg(
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_sources"),
    )
    j = per_src.crossJoin(F.broadcast(tot))
    return j.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / F.col("total_tokens"), 6).alias(
            "actual_share"
        ),
        F.round(F.lit(1.0) / F.col("n_sources"), 6).alias("target_share"),
        F.round(
            F.col("total_tokens") / F.col("n_sources") / F.col("n_tokens"), 6
        ).alias("weight"),
    )


def auc_exact(
    scored: DataFrame, label: Column, score: Column
) -> DataFrame:
    """Exact ROC AUC via the rank statistic, with the tie-correct
    trapezoid: AUC = Σ_s p_s · (2·N_below(s) + n_s) / (2·P·N) over
    score groups s (p_s positives, n_s negatives at score s, N_below
    the negatives at strictly lower scores).

    The numerator is an exact INTEGER sum (ties contribute the exact
    half-credit via the ×2 scaling), so the only float is the final
    division — no order-dependent double accumulation.  One group-sized
    aggregate, one window cumsum over score groups, three scalars.
    Integer range: the numerator is ≤ 2·P·N ≈ n²/2 — overflows int64
    past ~3e9 rows; production switches the numerator to DOUBLE and
    accepts last-ulp noise.  Degenerate single-class inputs (P=0 or
    N=0) return the 0.5 sentinel.
    """
    g = scored.select(
        F.coalesce(label.cast("long"), F.lit(0)).alias("y"), score.alias("s")
    ).groupBy("s").agg(
        F.sum("y").cast("long").alias("p"),
        F.sum(F.lit(1) - F.col("y")).cast("long").alias("n"),
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    terms = g.select(
        "p",
        "n",
        F.coalesce(F.sum("n").over(w), F.lit(0)).alias("n_below"),
    )
    agg = terms.agg(
        F.sum("p").cast("long").alias("n_pos"),
        F.sum("n").cast("long").alias("n_neg"),
        F.sum(F.col("p") * (2 * F.col("n_below") + F.col("n")))
        .cast("long")
        .alias("num2"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        F.round(
            F.when(
                (F.col("n_pos") == 0) | (F.col("n_neg") == 0), F.lit(0.5)
            ).otherwise(
                F.col("num2") / (2.0 * F.col("n_pos") * F.col("n_neg"))
            ),
            6,
        ).alias("auc"),
    )


def _score_bins(docs: DataFrame, n_bins: int) -> DataFrame:
    """Shared binning prelude of calibration_bins / isotonic_calibration
    — ONE definition of the capped-length score, the lang=='en' label,
    and the exact-integer bin spine: ``(bin, cap, y)`` per row.
    ``n_bins`` must divide the 500 cap so bin widths stay exact
    integers (the determinism device depends on it)."""
    if 500 % n_bins != 0:
        raise ValueError("n_bins must divide 500 for exact integer bins")
    width = 500 // n_bins
    return docs.select(
        F.least("n_chars", F.lit(500)).cast("long").alias("cap"),
        (F.col("lang") == "en").cast("long").alias("y"),
    ).select(
        F.least(F.floor(F.col("cap") / width), F.lit(n_bins - 1))
        .cast("long")
        .alias("bin"),
        "cap",
        "y",
    )


def calibration_bins(docs: DataFrame, n_bins: int = 10) -> DataFrame:
    """Reliability diagram + ECE for the capped-length quality score
    ``least(n_chars, 500)/500`` against the lang=='en' label: per score
    bin, the mean predicted score, the empirical positive rate, their
    absolute gap, and the corpus ECE (token-free DETERMINISTIC form:
    every float is one division of integer sums — the per-bin gap
    numerator is ``|sum_cap − 500·n_pos|`` and the ECE numerator the
    integer sum of those, so no cross-bin double accumulation).

    One hash aggregate to bin stats; ECE re-aggregated from the
    bin-count-sized table and broadcast back onto every row.
    ``n_bins`` must divide the 500 cap so bin widths stay exact
    integers (the determinism device depends on it, enforced in
    ``_score_bins``).
    """
    d = _score_bins(docs, n_bins)
    bins = d.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cap").cast("long").alias("sum_cap"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    gap_num = F.abs(F.col("sum_cap") - 500 * F.col("n_pos"))
    stats = bins.select(
        "bin",
        "n",
        "n_pos",
        F.round(F.col("sum_cap") / 500.0 / F.col("n"), 6).alias("avg_score"),
        F.round(F.col("n_pos") / F.col("n"), 6).alias("pos_rate"),
        F.round(gap_num / 500.0 / F.col("n"), 6).alias("abs_gap"),
        gap_num.alias("_gap_num"),
    )
    tot = stats.agg(
        F.sum("_gap_num").cast("long").alias("ece_num"),
        F.sum("n").cast("long").alias("n_total"),
    )
    return stats.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n",
        "n_pos",
        "avg_score",
        "pos_rate",
        "abs_gap",
        F.round(F.col("ece_num") / 500.0 / F.col("n_total"), 6).alias("ece"),
    )


def quality_classifier_eval(
    docs: DataFrame, pos_lang: str = "en", scale: int = 1_000_000
) -> DataFrame:
    """Train + evaluate a CCNet/fastText-style linear quality filter in
    one job: per-token class-propensity weights learned on the even
    ``doc_id`` half, documents of the odd half scored by their mean
    token weight, reported as a 2×2 confusion table.

    The weight is Laplace-smoothed P(pos | token) in FIXED POINT —
    ``((c_pos+1)·scale) DIV (c_pos+c_neg+2)`` — and the decision
    compares the document's mean weight against the TRAINED PRIOR
    (``Σw ≥ prior_ppm·n_tokens`` with the prior in the same fixed
    point), i.e. "does this document's token mix lean more positive
    than the corpus at large" — so an unbalanced corpus doesn't
    collapse to one class.  Training, scoring, and the decision are all
    exact integer arithmetic: no log-sum float whose summation order
    could split engines (CLAUDE.md determinism rule).  Tokens unseen in
    training back off to the prior itself via the left join's NULL.
    (On the synthetic corpus text is independent of lang — like
    langid_predictions, this measures the operator, not model
    accuracy.)

    Scale shape: two corpus scans (count train tokens, score eval
    tokens), both explode→hash-aggregate with map-side combine; the
    weight table is vocabulary-sized — a dimension — and is broadcast
    onto the exploded eval tokens, so the scoring stage is map-only.
    The returned table is (actual, predicted) — 4 rows, any corpus.

    Returns (actual, predicted, n_docs, mean_score_ppm).
    """
    toks = (
        docs.filter(F.col("text").isNotNull() & (F.col("text") != ""))
        .select(
            "doc_id",
            F.coalesce(F.col("lang"), F.lit("")).alias("lang"),
            F.explode(F.split("text", " ")).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    pos = (F.col("lang") == pos_lang).cast("long")
    train = toks.filter(F.col("doc_id") % 2 == 0)
    counts = train.groupBy("token").agg(
        F.sum(pos).alias("c_pos"),
        F.count(F.lit(1)).alias("c_all"),
    )
    w = counts.select(
        "token",
        F.expr(f"((c_pos + 1) * {scale}) DIV (c_all + 2)").alias("w_ppm"),
    )
    prior = counts.agg(
        F.expr(f"((sum(c_pos) + 1) * {scale}) DIV (sum(c_all) + 2)")
        .cast("long")
        .alias("prior_ppm")
    )
    scored = (
        toks.filter(F.col("doc_id") % 2 == 1)
        .join(F.broadcast(w), "token", "left")
        .crossJoin(F.broadcast(prior))
        .groupBy("doc_id", "lang", "prior_ppm")
        .agg(
            F.sum(F.coalesce(F.col("w_ppm"), F.col("prior_ppm")))
            .cast("long")
            .alias("score"),
            F.count(F.lit(1)).cast("long").alias("n_tok"),
        )
    )
    lbl = F.when(F.col("lang") == pos_lang, pos_lang).otherwise("other")
    prd = F.when(
        F.col("score") >= F.col("prior_ppm") * F.col("n_tok"), pos_lang
    ).otherwise("other")
    return (
        scored.select(lbl.alias("actual"), prd.alias("predicted"), "score", "n_tok")
        .groupBy("actual", "predicted")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.expr("sum(score) DIV sum(n_tok)").cast("long").alias("mean_score_ppm"),
        )
    )


def contrastive_pairs(
    docs: DataFrame, size: int = 64, stride: int = 32
) -> DataFrame:
    """(doc_id, chunk_id, pos_chunk_id, neg_doc_id, anchor_tokens,
    pos_tokens, neg_tokens) — contrastive training pairs for a
    retrieval/embedding model over the RAG chunk table: the POSITIVE of
    an anchor chunk is its successor chunk in the same document
    (overlapping-window locality — the standard self-supervised
    positive), the NEGATIVE is the SAME chunk position of the next
    document that has one (the in-batch-negative discipline made
    deterministic: ``lead(doc_id) over (partition by chunk_id order by
    doc_id)``, so it survives repartition/resume).

    Scale shape: chunking is map-only (chunk_windows); the positive is
    a self-equi-join on (doc_id, chunk_id+1) — same shuffle key as the
    chunk table; the negative is one window over the chunk_id
    partitioning (chunk positions are few, documents many — the window
    partitions are corpus-wide but the state per row is one lead).
    Anchors lacking a positive (last chunk) or a negative (last doc at
    that position) are dropped.
    """
    ch = chunk_windows(docs, size=size, stride=stride).select(
        "doc_id", "chunk_id", F.col("n_chunk_tokens").alias("n_tok")
    )
    pos = ch.select(
        "doc_id",
        (F.col("chunk_id") - 1).alias("chunk_id"),
        F.col("chunk_id").alias("pos_chunk_id"),
        F.col("n_tok").alias("pos_tokens"),
    )
    w = Window.partitionBy("chunk_id").orderBy("doc_id")
    neg = ch.select(
        "doc_id",
        "chunk_id",
        "n_tok",
        F.lead("doc_id").over(w).alias("neg_doc_id"),
        F.lead("n_tok").over(w).alias("neg_tokens"),
    )
    return (
        neg.join(pos, ["doc_id", "chunk_id"])
        .filter(F.col("neg_doc_id").isNotNull())
        .select(
            "doc_id",
            "chunk_id",
            "pos_chunk_id",
            "neg_doc_id",
            F.col("n_tok").alias("anchor_tokens"),
            "pos_tokens",
            "neg_tokens",
        )
    )


def average_precision(
    scored: DataFrame,
    label: Column,
    score: Column,
    id_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Average precision (the PR-curve area companion to auc_exact):
    one row ``(n_pos, n_total, ap)`` — mean over the positives of the
    precision at their rank, under the DETERMINISTIC total order
    (score desc, id asc).  AP is the retrieval/imbalanced-screen metric
    ROC AUC overstates when negatives dwarf positives (exactly the
    near-dup / quality-screen regime).

    Each term P@k = cum_pos/k is one division of exact integers; the
    final mean is the naive_bayes rounded-Σ idiom.  One global ranking
    window (an EVAL metric over a ranking is inherently ordered — at
    production scale AP is computed per query partition with identical
    expressions) plus a 1-row fold.
    """
    base = scored.select(
        F.coalesce(label.cast("long"), F.lit(0)).alias("y"),
        score.alias("s"),
        F.col(id_col).alias("id"),
    )
    w = Window.orderBy(F.col("s").desc(), F.col("id").asc())
    ranked = base.select(
        "y",
        F.row_number().over(w).cast("long").alias("rank"),
        F.sum("y")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("cum_pos"),
    )
    return ranked.agg(
        F.sum("y").cast("long").alias("n_pos"),
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.round(
            F.sum(
                F.when(
                    F.col("y") == 1,
                    F.col("cum_pos").cast("double") / F.col("rank"),
                )
            )
            / F.sum("y"),
            ndigits,
        ).alias("ap"),
    )


def cluster_aware_split(
    docs: DataFrame,
    comps: DataFrame,
    eval_permille: int = 100,
) -> DataFrame:
    """Near-dup-cluster-aware train/eval split: ``(doc_id, canonical,
    split)`` — the md5 split draw is taken on the CANONICAL cluster id
    (own id for singletons), so every member of a duplicate cluster
    lands in the same split by construction.  This PREVENTS the
    leakage the split-leakage audit detects after the fact: a plain
    per-doc split puts near-copies of one page on both sides of the
    train/eval fence and the eval silently measures memorization.

    ``comps`` is a (entity, component) canonicalization map over
    zero-padded doc-id strings (the q_dedup_clusters shape); docs
    absent from the map are their own singleton clusters.  One left
    join onto the map (pair-graph-sized, broadcastable) + the md5
    bucket rule of sampling.train_eval_split applied to the cluster
    key — map-only after the join.
    """
    m = comps.select(
        F.col("entity").cast("long").alias("doc_id"),
        F.col("component").alias("canonical"),
    )
    j = docs.select("doc_id").join(F.broadcast(m), "doc_id", "left")
    canon = F.coalesce(
        F.col("canonical"), F.lpad(F.col("doc_id").cast("string"), 12, "0")
    )
    bucket = F.conv(F.substring(F.md5(canon), 1, 4), 16, 10).cast(
        "long"
    ) % 1000
    return j.select(
        "doc_id",
        canon.alias("canonical"),
        F.when(bucket < eval_permille, F.lit("eval"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


def isotonic_calibration(docs: DataFrame, n_bins: int = 10) -> DataFrame:
    """Isotonic-regression calibration map (PAV fit) for the
    capped-length quality score vs the lang=='en' label — the monotone
    companion to ``calibration_bins``: per score bin, the raw positive
    rate and the isotonically fitted rate ``iso_rate``, computed by the
    minimax characterization of the pool-adjacent-violators solution

        iso(k) = max_{i ≤ k} min_{j ≥ k} pooled_rate(i..j)

    which needs no iterative pooling: every pooled rate is ONE division
    of two exact integer prefix-sum differences (Σ n_pos / Σ n over the
    bin segment), so both engines produce bit-identical doubles and the
    min/max lattice picks identical values — the repo's no-float-
    accumulation rule, extended to an optimization problem.

    Scale shape: one corpus-sized hash aggregate to the B-bin table;
    everything after (prefix sums, the B² segment table, the B³
    minimax) lives on broadcast bin-count-sized frames — B = 10 here,
    and even B = 10⁴ keeps the lattice at driver-trivial size.  The
    global-order window runs on the B-row aggregate only, never the
    corpus.
    """
    from pyspark.sql import Window

    d = _score_bins(docs, n_bins)
    bins = d.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pre = bins.select(
        "bin",
        "n",
        "n_pos",
        F.sum("n").over(w).cast("long").alias("cn"),
        F.sum("n_pos").over(w).cast("long").alias("cp"),
    )
    lo = pre.select(
        F.col("bin").alias("i"),
        (F.col("cn") - F.col("n")).alias("cn_lo"),
        (F.col("cp") - F.col("n_pos")).alias("cp_lo"),
    )
    hi = pre.select(
        F.col("bin").alias("j"),
        F.col("cn").alias("cn_hi"),
        F.col("cp").alias("cp_hi"),
    )
    seg = (
        lo.crossJoin(F.broadcast(hi))
        .where(F.col("i") <= F.col("j"))
        .select(
            "i",
            "j",
            (
                (F.col("cp_hi") - F.col("cp_lo")).cast("double")
                / (F.col("cn_hi") - F.col("cn_lo"))
            ).alias("avg"),
        )
    )
    ks = bins.select(F.col("bin").alias("k"))
    m = ks.join(
        F.broadcast(seg), (F.col("i") <= F.col("k")) & (F.col("j") >= F.col("k"))
    )
    inner = m.groupBy("k", "i").agg(F.min("avg").alias("mn"))
    fit = inner.groupBy("k").agg(F.max("mn").alias("iso"))
    return (
        bins.join(F.broadcast(fit), bins.bin == fit.k)
        .select(
            "bin",
            "n",
            "n_pos",
            F.round(F.col("n_pos") / F.col("n"), 6).alias("pos_rate"),
            F.round(F.col("iso"), 6).alias("iso_rate"),
        )
    )


def conformal_interval(
    events: DataFrame, alpha_num: int = 1, alpha_den: int = 10
) -> DataFrame:
    """Split-conformal prediction interval (Vovk; Lei et al. 2018 —
    the distribution-free finite-sample coverage recipe every model
    eval should ship with): predictor = per-event-type mean value
    (integer cents, quantized once), nonconformity = |value − mean|,
    calibration half = the deterministic md5(event_id) split,
    q̂ = the ⌈(n_cal + 1)(1 − α)⌉-th smallest calibration residual
    (EXACT order statistic), then the guaranteed-≥(1 − α) empirical
    coverage measured on the held-out half.  One row:
    ``(n_cal, n_eval, qhat_c, coverage)``.  α is passed as the
    RATIONAL ``alpha_num/alpha_den`` so the rank k is pure integer
    arithmetic — ⌈x·a/b⌉ = (x·a + b − 1) div b — never a float ceil
    (whose decimal-vs-double literal semantics differ across engines
    exactly at the integral products that decide k).

    Determinism: residuals are exact integers (cents vs a
    once-rounded integer mean); the order statistic is taken by the
    value-frequency device (cumulative counts over the DISTINCT
    residual-value table, never a row-sized sort); coverage is one
    division of integer counts.

    Scale shape: one corpus pass for the type means (broadcast back),
    one for residuals; the quantile runs on the distinct-residual
    dimension table; the coverage check is a map-side conditional sum.
    """
    from pyspark.sql import Window

    e = events.select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("c"),
        (
            F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 4), 16, 10)
            .cast("long")
            % 2
            == 0
        ).alias("is_cal"),
    )
    means = e.groupBy("event_type").agg(
        F.round(F.sum("c").cast("double") / F.count(F.lit(1)), 0)
        .cast("long")
        .alias("mean_c")
    )
    r = e.join(F.broadcast(means), "event_type").select(
        "is_cal", F.abs(F.col("c") - F.col("mean_c")).alias("res")
    )
    cal = r.filter("is_cal")
    n_cal_df = cal.agg(F.count(F.lit(1)).cast("long").alias("n_cal"))
    freq = cal.groupBy("res").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    w = Window.orderBy("res").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = freq.select("res", F.sum("cnt").over(w).cast("long").alias("cum"))
    # k = ceil((n_cal + 1) * (den - num) / den), clamped to n_cal —
    # exact integer arithmetic (see docstring)
    cov_num, cov_den = alpha_den - alpha_num, alpha_den
    k = F.least(
        F.col("n_cal"),
        (
            ((F.col("n_cal") + 1) * F.lit(cov_num) + F.lit(cov_den - 1))
            / F.lit(cov_den)
        )
        .cast("long"),
    )
    qhat = (
        cum.crossJoin(F.broadcast(n_cal_df))
        .filter(F.col("cum") >= k)
        .agg(F.min("res").cast("long").alias("qhat_c"))
    )
    ev = r.filter(~F.col("is_cal"))
    cov = ev.crossJoin(F.broadcast(qhat)).agg(
        F.count(F.lit(1)).cast("long").alias("n_eval"),
        F.sum((F.col("res") <= F.col("qhat_c")).cast("long"))
        .cast("long")
        .alias("n_in"),
    )
    return (
        cov.crossJoin(F.broadcast(qhat))
        .crossJoin(F.broadcast(n_cal_df))
        .select(
            "n_cal",
            "n_eval",
            "qhat_c",
            F.round(F.col("n_in").cast("double") / F.col("n_eval"), 6).alias(
                "coverage"
            ),
        )
    )


def greedy_coverage(
    docs: DataFrame,
    k: int = 10,
    ngram: int = 3,
    stage_dir: str | None = None,
) -> DataFrame:
    """Greedy maximum-coverage data-subset selection: pick ``k``
    documents that together cover the most distinct ``ngram``-token
    shingles (unigrams at ``ngram=1`` — too coarse on a shared-vocab
    corpus, where one document can cover the whole unigram set) — the
    Nemhauser–Wolsey–Fisher (1978) (1−1/e) greedy for the canonical
    submodular objective, the formal core of coverage-driven corpus
    curation (select the few docs that buy the most vocabulary).  The
    SEQUENTIAL greedy with distributed marginal-gain evaluation: k
    bounded rounds, each ONE anti-join of the (doc, token) pairs
    against the covered-token table + one per-doc count, argmax via a
    1-row packed-min aggregate (the GreeDi two-round variant —
    Mirzasoleiman et al. NeurIPS'13 — trades the approximation factor
    for round count; at k ≈ 10 the exact loop is the better plan).

    Determinism: ties broken by min doc_id; stops early when nothing
    is uncovered.  Only k single-row results ever reach the driver.

    Output: ``(rank, doc_id, gain)`` — selection order and marginal
    new-token count.
    """
    spark = docs.sparkSession
    stage_dir = scratch_dir(stage_dir, "ddaugner_cov_")

    if ngram == 1:
        pairs = (
            docs.filter(F.coalesce(F.col("text"), F.lit("")) != "")
            .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
            .distinct()
        )
    else:
        from ddaugner_spark.operators import dedup as _dedup

        pairs = _dedup.shingles(docs, k=ngram).select(
            "doc_id", F.col("shingle").alias("tok")
        )
    dt = cut(pairs, f"{stage_dir}/dt")
    covered = None
    picks = []
    for r in range(k):
        remaining = (
            dt if covered is None else dt.join(covered, "tok", "left_anti")
        )
        top = (
            remaining.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("gain"))
            .agg(F.min(F.struct((-F.col("gain")).alias("ng"), "doc_id")).alias("m"))
            .select(F.col("m.doc_id").alias("doc_id"), (-F.col("m.ng")).alias("gain"))
            .collect()
        )
        if not top or top[0]["doc_id"] is None:
            break
        doc_id, gain = top[0]["doc_id"], top[0]["gain"]
        picks.append((r, doc_id, gain))
        won = remaining.filter(F.col("doc_id") == doc_id).select("tok")
        covered = cut(
            won if covered is None else covered.unionByName(won), f"{stage_dir}/cov_{r}"
        )
    return spark.createDataFrame(
        picks, "rank long, doc_id long, gain long"
    )


def brier_decomposition(docs: DataFrame, n_bins: int = 10, ndigits: int = 6) -> DataFrame:
    """Brier score + Murphy (1973) decomposition of the capped-length
    quality score against the lang=='en' label, over the SAME
    :func:`_score_bins` spine as :func:`calibration_bins` — one row
    ``(n, brier, reliability, resolution, uncertainty)``: REL (how far
    bin forecasts sit from bin outcomes — lower better), RES (how much
    the bins separate outcomes — higher better), UNC = ȳ(1−ȳ) (the
    no-skill floor).  BS = REL − RES + UNC holds exactly when
    forecasts are constant within bins (pinned in tests); with the
    raw 1/500-grained score the within-bin forecast variance wedges
    the identity open — all four terms are reported so the wedge is
    visible, the reliability-diagram companion to calibration_bins'
    ECE.

    Exactness: p = cap/500 makes every row's (p−y)² the exact BIGINT
    (cap − 500·y)²; the corpus-sized Σ is INTEGER (brier = one final
    division by 250000·N).  Per-bin REL/RES terms are fixed float
    chains over exact BIGINT bin moments (diffs fit int64, squared
    after ONE long→double cast); the only reordered float Σ is over
    ≤ n_bins terms (rounding grain absorbs it — the token_entropy
    device).  One corpus pass, bin-sized everything after.
    """
    d = _score_bins(docs, n_bins)
    bins = d.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("nb"),
        F.sum("cap").cast("long").alias("sb"),
        F.sum("y").cast("long").alias("pb"),
        F.sum((F.col("cap") - 500 * F.col("y")) * (F.col("cap") - 500 * F.col("y")))
        .cast("long")
        .alias("sq"),
    )
    tot = bins.agg(
        F.sum("nb").cast("long").alias("n"),
        F.sum("pb").cast("long").alias("p"),
        F.sum("sq").cast("long").alias("sq_tot"),
    )
    j = bins.crossJoin(F.broadcast(tot))
    rel_t = (
        (F.col("sb") - 500 * F.col("pb")).cast("double")
        * (F.col("sb") - 500 * F.col("pb")).cast("double")
        / F.col("nb").cast("double")
    )
    res_t = (
        (F.col("pb") * F.col("n") - F.col("nb") * F.col("p")).cast("double")
        * (F.col("pb") * F.col("n") - F.col("nb") * F.col("p")).cast("double")
        / F.col("nb").cast("double")
    )
    g = j.groupBy().agg(
        F.max("n").alias("n"),
        F.max("p").alias("p"),
        F.max("sq_tot").alias("sq_tot"),
        F.sum(rel_t).alias("rel_num"),
        F.sum(res_t).alias("res_num"),
    )
    nd = F.col("n").cast("double")
    brier = F.col("sq_tot").cast("double") / (F.lit(250000.0) * nd)
    rel = F.col("rel_num") / (F.lit(250000.0) * nd)
    res = F.col("res_num") / ((nd * nd) * nd)
    unc = (
        F.col("p").cast("double")
        * (F.col("n") - F.col("p")).cast("double")
        / (nd * nd)
    )
    return g.select(
        F.col("n").cast("long").alias("n"),
        F.round(brier, ndigits).alias("brier"),
        F.round(rel, ndigits).alias("reliability"),
        F.round(res, ndigits).alias("resolution"),
        F.round(unc, ndigits).alias("uncertainty"),
    )


def lift_table(docs: DataFrame, n_bins: int = 10, ndigits: int = 6) -> DataFrame:
    """Cumulative-gains / lift table of the capped-length quality score
    against the lang=='en' label over the :func:`_score_bins` spine,
    scored-best-first: per bin (descending score) ``(bin, n, n_pos,
    cum_n, cum_pos, gain, lift)`` — gain = share of all positives
    captured by targeting down to this bin, lift = that share over the
    share of corpus targeted (the campaign-targeting readout next to
    [[q_auc]]'s rank view and [[q_calibration]]'s probability view).

    Exactness: cumulative counts are INTEGER window sums over the
    bin-sized table in a fixed ORDER BY bin DESC frame; gain and lift
    are one division each of exact BIGINT cross-products
    (cum_pos·N)/(cum_n·P).  One corpus pass, bin-sized everything
    after.
    """
    d = _score_bins(docs, n_bins)
    bins = d.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    tot = bins.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("n_pos").cast("long").alias("p"),
    )
    w = Window.orderBy(F.col("bin").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    j = bins.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n",
        "n_pos",
        F.sum("n").over(w).cast("long").alias("cum_n"),
        F.sum("n_pos").over(w).cast("long").alias("cum_pos"),
        "nn",
        "p",
    )
    gain = F.when(
        F.col("p") > 0,
        F.col("cum_pos").cast("double") / F.col("p").cast("double"),
    ).otherwise(F.lit(0.0))
    lift = F.when(
        (F.col("p") > 0) & (F.col("cum_n") > 0),
        (F.col("cum_pos") * F.col("nn")).cast("double")
        / (F.col("cum_n") * F.col("p")).cast("double"),
    ).otherwise(F.lit(0.0))
    return j.select(
        "bin", "n", "n_pos", "cum_n", "cum_pos",
        F.round(gain, ndigits).alias("gain"),
        F.round(lift, ndigits).alias("lift"),
    )
