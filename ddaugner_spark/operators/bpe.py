"""Byte-pair-encoding merge training (Sennrich et al., ACL 2016) — the
actual tokenizer-training loop, not just pair counting
(textstats.bpe_pair_counts is the single-step precursor).

Engine addition beyond the reference (the reference consumes a
pretrained WordPiece vocabulary, kernels/wordpiece.py): a 100 TB
pretraining pipeline trains its tokenizer from corpus statistics.  BPE
is exactly the iterative-algorithm shape the engine's CC/BFS/k-means
loops established: per merge step one vocabulary-sized aggregate picks
the argmax pair, ONE scalar row comes back to the driver (the learned
merge — the model, like k-means' literal centroids), and the merge is
applied map-only with the pair inlined as literals.

Scale design:

* the corpus-sized work happened upstream in vocab_df (one explode +
  map-side-combined count); the merge loop runs on the WORD-TYPE table
  (dimension-sized — types grow sublinearly, Heaps' law), so each of
  the n_merges iterations is a vocab-sized map + aggregate;
* the per-word merge application is an ordered ``F.aggregate`` fold —
  greedy leftmost non-overlapping, the BPE contract; words are short
  (bounded by max word length), so the O(len²) array-append fold is
  constant-bounded per row;
* the argmax pair uses a packed fixed-position min-key
  lpad(1e18−cnt)#lpad(len(l),4)#l||r — count and len(l) are fixed-width
  fields, so the unpack is content-independent (a '#' inside a symbol
  cannot corrupt it) and ties break on (len(l), l||r), deterministic on
  both engines;
* lineage is truncated by a parquet round-trip of the vocabulary per
  merge step (CC rule: never localCheckpoint).

The DuckDB oracle replays the full loop with n_merges unrolled CTE
stages — DuckDB's ``list_reduce`` folds in list order with the first
element as seed, which matches Spark's empty-seed fold because the
fold's first step always appends unconditionally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ddaugner_spark.plans.materialize import cut, scratch_dir


def apply_merge(toks, p1: str, p2: str):
    """Greedy leftmost non-overlapping application of merge (p1, p2) to
    a symbol array column: ordered fold, the merged symbol cannot
    cascade within the same step (BPE applies one merge per step)."""
    merged = F.lit(p1 + p2)
    return F.aggregate(
        toks,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(p1))
            & (x == F.lit(p2)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(merged)
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _bpe_loop(
    vocab: DataFrame, n_merges: int, stage_dir: str | None
):
    """Shared train/encode core: returns (merges list, final word
    table) — the merge loop documented on bpe_train."""
    stage_dir = scratch_dir(stage_dir, "ddaugner_bpe_")

    words = cut(
        vocab.select(
            F.col("token").alias("word"),
            F.col("n").cast("long").alias("freq"),
            F.split(F.col("token"), "").alias("toks"),
        ),
        f"{stage_dir}/v0",
    )
    merges = []
    for k in range(1, n_merges + 1):
        n_toks = F.size("toks")
        pair_idx = F.when(
            n_toks >= 2, F.sequence(F.lit(1), n_toks - 1)
        ).otherwise(F.array().cast("array<int>"))
        pairs = words.select(
            "freq",
            F.explode(
                F.transform(
                    pair_idx,
                    lambda i: F.struct(
                        F.element_at(F.col("toks"), i).alias("l"),
                        F.element_at(F.col("toks"), i + 1).alias("r"),
                    ),
                )
            ).alias("p"),
        )
        pc = pairs.groupBy(
            F.col("p.l").alias("l"), F.col("p.r").alias("r")
        ).agg(F.sum("freq").cast("long").alias("cnt"))
        # content-independent pack: count and len(l) are FIXED-WIDTH
        # fields, so '#' inside a symbol cannot corrupt the unpack and
        # the tie-break is (count, len(l), l||r) — deterministic both
        # engines regardless of symbol alphabet
        key = F.concat_ws(
            "#",
            F.lpad(
                (F.lit(1000000000000000000) - F.col("cnt")).cast("string"),
                19,
                "0",
            ),
            F.lpad(F.length("l").cast("string"), 4, "0"),
            F.concat(F.col("l"), F.col("r")),
        )
        best = pc.agg(F.min(key).alias("k")).collect()[0]["k"]
        if best is None:
            break
        cnt = 1000000000000000000 - int(best[:19])
        llen = int(best[20:24])
        lhs, rhs = best[25 : 25 + llen], best[25 + llen :]
        merges.append((k, lhs, rhs, cnt))
        words = cut(
            words.select(
                "word", "freq", apply_merge(F.col("toks"), lhs, rhs).alias("toks")
            ),
            f"{stage_dir}/v{k}",
        )
    return merges, words


def bpe_train(
    vocab: DataFrame, n_merges: int = 5, stage_dir: str | None = None
) -> DataFrame:
    """Learn ``n_merges`` BPE merges from a (token, n) word-frequency
    table; returns the merge table (step, lhs, rhs, pair_count) — the
    model a tokenizer ships.

    Stops early if no adjacent pair remains (all words fused)."""
    merges, _ = _bpe_loop(vocab, n_merges, stage_dir)
    return vocab.sparkSession.createDataFrame(
        merges, schema="step long, lhs string, rhs string, pair_count long"
    )


def bpe_encode(
    vocab: DataFrame, n_merges: int = 5, stage_dir: str | None = None
) -> DataFrame:
    """(word, freq, encoded, n_symbols) — the production TOKENIZE step:
    train ``n_merges`` merges, then report every vocabulary word's
    final symbol segmentation (symbols space-joined — words contain no
    spaces) and symbol count (the per-word fertility the token-budget
    planner consumes).

    Scale shape: the merge loop is bpe_train's (vocab-sized aggregates,
    one literal merge collected per step, fold applied map-only); the
    encode output is simply the loop's final word table — a corpus
    tokenizer then applies the same ``apply_merge`` fold chain to raw
    text map-only, no extra shuffle."""
    _, words = _bpe_loop(vocab, n_merges, stage_dir)
    return words.select(
        "word",
        "freq",
        F.array_join("toks", " ").alias("encoded"),
        F.size("toks").cast("long").alias("n_symbols"),
    )
