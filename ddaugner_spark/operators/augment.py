"""Gazetteer-injection augmentation, deterministic under parallelism.

Reference semantics being lifted (SURVEY.md §2.9):

* ``LabelWiseNERAugmenter.__call__`` — pick an entity of a class, draw a
  replacement from a gazetteer, replace all pattern occurrences
  (/root/reference/ddaugner/aug.py:94-146 → aug.py:17-37 → aug.py:40-74);
* ``CapitalizationAugmenter`` — upper-case whole sentence
  (/root/reference/ddaugner/aug.py:199-209);
* ``_augment_replace`` — overwrite a deterministic fraction of rows with
  their augmented versions (/root/reference/ddaugner/datas/conll/conll.py:178-236).

The reference uses *unseeded* ``random`` everywhere (SURVEY.md §4.3); a
distributed engine cannot — results must be invariant under
re-partitioning and resume.  Every random draw is replaced by a pure
function of row identity: replacement index =
``(doc_id*7 + start_idx*31) mod |pool|``; the replace-fraction selector is
``pmod(doc_id, m) < m*ratio``.  Both are trivially portable to the oracle.

Scale notes: injection is a narrow per-row array rewrite (transform over
token positions) — no shuffle, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import config
from ..plans.materialize import cut, scratch_dir
from .mentions import with_bio


def inject_gazetteer(
    docs: DataFrame,
    pool: list[str] | None = None,
    name_fn=None,
) -> DataFrame:
    """Replace every token tagged ``B-PER`` by the general gazetteer fold
    with a deterministic pool name (PER entries are unigram-only by config
    invariant, so B-PER positions are exactly the PER mentions).

    Returns (doc_id, n_replaced, new_text).  Multi-token ORG/LOC mentions
    are left intact (class-restricted augmentation, aug.py:100-106: a
    LabelWiseNERAugmenter only touches its own class).

    ``name_fn(seed: Column) -> Column`` overrides the flat pool with a
    compositional sampler (functions/samplers.py — Elder-Scrolls /
    French form composition, R4); seed = doc_id·7 + pos·31, so the draw
    is a pure function of row identity either way."""
    pool = pool or config.INJECT_NAMES
    df = with_bio(docs)
    n = F.col("n_tokens")
    seq1 = F.when(n >= 1, F.sequence(F.lit(0), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    # zip tags with positions ONCE so the tag fold is not re-evaluated per
    # element (no CSE inside lambda bodies — CLAUDE.md hard rule)
    arr = F.zip_with(
        F.col("tags"), seq1, lambda t, i: F.struct(t.alias("t"), i.alias("i"))
    )
    pool_arr = F.array(*[F.lit(p) for p in pool])

    def default_name(seed):
        return F.element_at(
            pool_arr, (F.pmod(seed, F.lit(len(pool))) + 1).cast("int")
        )

    name_fn = name_fn or default_name
    new_tokens = F.transform(
        arr,
        lambda x: F.when(
            x["t"] == "B-PER",
            name_fn(F.col("doc_id") * 7 + x["i"].cast("long") * 31),
        ).otherwise(F.element_at(F.col("tokens"), (x["i"] + F.lit(1)).cast("int"))),
    )
    n_replaced = F.size(F.filter(F.col("tags"), lambda t: t == "B-PER"))
    return df.select(
        "doc_id",
        n_replaced.cast("long").alias("n_replaced"),
        F.array_join(new_tokens, " ").alias("new_text"),
    )


def capitalization_augment(docs: DataFrame) -> DataFrame:
    """Upper-case augmentation (aug.py:199-209); ``changed`` mirrors the
    reference returning None when the text was already upper-case."""
    return docs.select(
        "doc_id",
        F.upper("text").alias("new_text"),
        (F.upper("text") != F.col("text")).alias("changed"),
    )


def augment_standard(docs: DataFrame, freq: float = 0.2, modulus: int = 100) -> DataFrame:
    """_augment 'standard' (conll.py:16-57): append newly-created
    augmented examples until |new| ≥ |corpus|·freq, keeping originals.

    The reference rejection-samples random sentences (unseeded random,
    conll.py:47); deterministically: docs with pmod(doc_id, modulus) <
    modulus·freq contribute one injected copy with id offset 5_000_000.
    Returns the union corpus with an ``augmented`` flag.

    COMPOSITION NOTE: materialize this output (parquet round-trip) before
    running mention detection over it — the mention fold's window lambdas
    would otherwise re-evaluate the whole injection expression per window
    (no CSE inside lambda bodies; balance_upsample does this internally).
    """
    k = int(modulus * freq)
    selected = docs.filter(F.pmod(F.col("doc_id"), F.lit(modulus)) < k)
    new = inject_gazetteer(selected).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"),
        F.col("new_text").alias("text"),
        F.lit(True).alias("augmented"),
    )
    return docs.select(
        "doc_id", "text", F.lit(False).alias("augmented")
    ).unionByName(new)


def balance_upsample(
    docs: DataFrame, modulus: int = 100, freq: float = 0.2, stage_dir: str | None = None
):
    """_augment_balance (conll.py:60-175): after standard augmentation,
    upsample mentions of under-represented classes so post-augmentation
    class ratios return to the pre-augmentation ratios.

    The reference solves a c×c linear system with scipy
    (conll.py:149-154); here the same solve runs driver-side with numpy
    over two tiny aggregates (c ≤ 4 classes) — the only driver-side math
    in the engine, on O(c) data.  Upsampling duplicates augmented docs
    containing the deficit class (weighted resample join,
    conll.py:163-174 analogue).  Returns (corpus, per-class diagnostics).

    The augmented corpus is MATERIALIZED via a parquet round-trip before
    mention detection re-runs over it: composing the mention fold directly
    over the injection expression re-evaluates the whole injection per
    candidate window (no CSE inside lambda bodies — CLAUDE.md), and the
    corpus is read three times (post counts + per-class upsampling).
    """
    import math

    from .mentions import mentions_df

    aug = augment_standard(docs, freq=freq, modulus=modulus)
    stage_dir = scratch_dir(stage_dir, "ddaugner_balance_")
    aug = cut(aug, f"{stage_dir}/aug")

    pre = {
        r["tag"]: r["n"]
        for r in mentions_df(docs).groupBy("tag").agg(F.count("*").alias("n")).collect()
    }
    m_aug_df = cut(mentions_df(aug), f"{stage_dir}/m_aug")
    post = {
        r["tag"]: r["n"]
        for r in m_aug_df.groupBy("tag").agg(F.count("*").alias("n")).collect()
    }
    classes = sorted(pre)
    pre_total = sum(pre.values())
    ratios = {t: pre[t] / pre_total for t in classes}
    # solve for additions n_i ≥ 0 with (post_i + n_i) / (T + Σn) = ratio_i
    # (conll.py:83-116 derivation): (I - ratios·1ᵀ)·n = ratio·T - post.
    # The system is rank c-1 (ratios sum to 1); pin the most-surplus class
    # to 0 additions (the reference masks out majority classes,
    # conll.py:163).  With the pin the solution is CLOSED-FORM
    # (T + Σn = post_pin / ratio_pin, verified equal to the numpy solve):
    #   n_i = ratio_i · post_pin / ratio_pin − post_i   (clipped at 0)
    # — closed form so the DuckDB oracle can run the identical arithmetic.
    T = sum(post.get(t, 0) for t in classes)
    pin, best = None, None
    for t in classes:  # argmax, first on ties (np.argmax semantics)
        d = post.get(t, 0) - ratios[t] * T
        if best is None or d > best:
            pin, best = t, d
    plan = {
        t: 0
        if t == pin
        else int(
            math.floor(
                max(ratios[t] * post.get(pin, 0) / ratios[pin] - post.get(t, 0), 0.0)
                + 0.5
            )
        )
        for t in classes
    }

    # upsample: duplicate docs (prefix by doc_id, cumulative mention count
    # ≤ plan) so each deficit class gains ≈ its planned additions.
    # The running sum is two-phase: an unpartitioned Window.orderBy is a
    # single-task global sort at corpus scale, so the cumsum is computed
    # within doc_id-range buckets and offset by the (tiny, broadcast)
    # per-bucket totals — same result, parallel plan.
    from pyspark.sql import Window

    corpus = aug
    offset = 20_000_000
    bucket_w = 1000  # doc_id-range bucket width
    for t, need in plan.items():
        if need <= 0:
            continue
        per_doc = (
            m_aug_df.filter(F.col("tag") == t)
            .groupBy("doc_id")
            .agg(F.count("*").alias("cnt"))
            .withColumn("b", F.floor(F.col("doc_id") / bucket_w))
        )
        bucket_base = (
            per_doc.groupBy("b")
            .agg(F.sum("cnt").alias("btot"))
            .withColumn(
                "base",
                F.coalesce(
                    F.sum("btot").over(
                        Window.orderBy("b").rowsBetween(
                            Window.unboundedPreceding, -1
                        )
                    ),
                    F.lit(0),
                ),
            )
            .select("b", "base")
        )
        wb = Window.partitionBy("b").orderBy("doc_id").rowsBetween(
            Window.unboundedPreceding, 0
        )
        chosen = (
            per_doc.withColumn("cum_b", F.sum("cnt").over(wb))
            .join(F.broadcast(bucket_base), "b")
            .withColumn("cum", F.col("cum_b") + F.col("base"))
            .filter(F.col("cum") - F.col("cnt") < need)
        )
        dup = (
            corpus.join(chosen.select("doc_id"), "doc_id")
            .select(
                (F.col("doc_id") + offset).alias("doc_id"),
                "text",
                F.lit(True).alias("augmented"),
            )
        )
        corpus = corpus.unionByName(dup)
        offset += 10_000_000
    return corpus, {"pre": pre, "post": post, "additions": plan}


def augment_labelwise(
    docs: DataFrame,
    entity_type: str = "PER",
    pool: list[str] | None = None,
) -> DataFrame:
    """R1/R3 with the reference's EXACT single-entity semantics
    (ddaugner/datas/aug.py:17-37 → 40-74): per sentence, pick ONE entity
    of ``entity_type`` and replace ALL of that entity's occurrences in
    the sentence; sentences without such an entity are skipped (the
    reference returns None).

    Deterministic draws (SURVEY §4.3): the picked entity is the
    ``pmod(doc_id·7 + sent_id·31, n_entities)``-th B-start in sentence
    order (stands in for aug.py:31 random.choice), and the replacement
    name is ``pool[pmod(doc_id·7 + sent_id·31, |pool|)]``.

    Returns (doc_id, sent_id, old_surface, new_surface, n_replaced,
    new_text) — sentence rows, as the reference's NERSentence→NERSentence
    augmenters produce.  Shuffle profile: one window + one aggregation,
    both keyed by (doc_id, sent_id) so AQE coalesces them into the same
    exchange; mentions come from the map-only detector."""
    from pyspark.sql import Window

    from .mentions import mentions_df
    from .sentences import tokens_long

    pool = pool or config.INJECT_NAMES
    m = mentions_df(docs).filter(F.col("tag") == entity_type)
    w = Window.partitionBy("doc_id", "sent_id").orderBy("start_idx")
    ranked = m.withColumn("k", F.row_number().over(w) - 1).withColumn(
        "n_ent", F.count("*").over(Window.partitionBy("doc_id", "sent_id"))
    )
    pick = F.pmod(F.col("doc_id") * 7 + F.col("sent_id") * 31, F.col("n_ent"))
    chosen = ranked.filter(F.col("k") == pick).select(
        "doc_id",
        "sent_id",
        F.col("surface").alias("old_surface"),
        F.element_at(
            F.array(*[F.lit(p) for p in pool]),
            (
                F.pmod(
                    F.col("doc_id") * 7 + F.col("sent_id") * 31, F.lit(len(pool))
                )
                + 1
            ).cast("int"),
        ).alias("new_surface"),
    )
    # occurrence = a mention of the SAME surface+type in the sentence
    # (search_ner_pattern matches (token, tag) pairs, aug.py:50-55)
    occ = m.select(
        "doc_id", "sent_id", F.col("start_idx").alias("pos"), "surface"
    )
    tl = tokens_long(docs).join(chosen, ["doc_id", "sent_id"])
    tl = tl.join(
        occ.withColumnRenamed("surface", "occ_surface"),
        ["doc_id", "sent_id", "pos"],
        "left",
    )
    replaced = (F.col("occ_surface") == F.col("old_surface")).cast("long")
    out = tl.groupBy("doc_id", "sent_id", "old_surface", "new_surface").agg(
        F.sum(F.coalesce(replaced, F.lit(0))).alias("n_replaced"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("pos").alias("pos"),
                            F.when(
                                F.coalesce(
                                    F.col("occ_surface") == F.col("old_surface"),
                                    F.lit(False),
                                ),
                                F.col("new_surface"),
                            )
                            .otherwise(F.col("tok"))
                            .alias("tok"),
                        )
                    )
                ),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("new_text"),
    )
    return out


#: R9 (aug.py:276-285): name → augmentation strategy registry; the
#: config-driven extension surface (add a callable taking a documents
#: DataFrame and returning the augmented corpus).
AUGMENTERS = {
    "gazetteer_inject": inject_gazetteer,
    "capitalization": capitalization_augment,
    "standard": augment_standard,
    "balance_upsample": lambda docs: balance_upsample(docs)[0],
    "replace": lambda docs: augment_replace(docs),  # late-bound, defined below
}


def augment_replace(docs: DataFrame, ratio: float = 0.5, modulus: int = 100) -> DataFrame:
    """_augment_replace (conll.py:178-236): overwrite a deterministic
    ``ratio`` of rows with their injected version, keep the rest.

    Selector is pmod(doc_id, modulus) < modulus*ratio — stable under
    re-partitioning (replaces the reference's random.shuffle of indices,
    conll.py:217)."""
    k = int(modulus * ratio)
    injected = inject_gazetteer(docs).select("doc_id", F.col("new_text").alias("aug_text"))
    return (
        docs.join(injected, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.pmod(F.col("doc_id"), F.lit(modulus)) < k, F.col("aug_text"))
            .otherwise(F.col("text"))
            .alias("text"),
            (F.pmod(F.col("doc_id"), F.lit(modulus)) < k).alias("augmented"),
        )
    )
