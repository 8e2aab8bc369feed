"""Dictionary-augmented mention detection (the ddaugNER core).

Reference semantics being lifted (SURVEY.md J1/W2/W3/P1):

* n-gram gazetteer window match, n = 5..1, left-to-right —
  /root/reference/fix_ner.py:195-215: a window whose surface is in the
  dictionary and that covers ≥1 still-'O' position is retagged
  ``B-X I-X…``, OVERWRITING previously-written tags in the window (the
  reference's ``fix()`` is a plain list assignment);
* BIO-run decoding into entity spans —
  /root/reference/ddaugner/utils.py:111-166 (any ``I-`` extends an open
  run regardless of class — quirk preserved);
* sentence ids from running terminator counts —
  /root/reference/ddaugner/datas/datas.py:303-313.

The windowed pass has ONE implementation, ``tagging.DictTaggerModel``'s
``tag_tokens``, and every dictionary-only API here runs it in Arrow
batches (the tagger, gazetteer included, ships with the function):

* :func:`mentions_df` — mention rows from one map-only ``mapInPandas``
  pass (``tagging._mentions_pass``, the pass the big-dictionary
  detector, operators/bigdict.py, also runs);
* :func:`with_bio` — the BIO ``tags`` array, an iterator-form Arrow UDF
  over ``tokens``;
* :func:`spans_expr` — the decoded span array, the same kind of UDF
  with ``entities_from_bio_tags`` output.

No shuffle and no join: a pages scan streams through one narrow stage.
Per-doc work is one set probe per token plus a surface lookup per window
whose first token starts an entry of that length.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StringType, StructField, StructType

from .. import config
from ..kernels import entities_from_bio_tags
from .tagging import DictTaggerModel, _mentions_pass

_SPANS_TYPE = ArrayType(
    StructType(
        [
            StructField("start_idx", LongType()),
            StructField("end_idx", LongType()),
            StructField("surface", StringType()),
            StructField("tag", StringType()),
        ]
    )
)


def _tok(i: Column) -> Column:
    """tokens[i] for 0-based i (element_at is 1-based)."""
    return F.element_at(F.col("tokens"), (i + F.lit(1)).cast("int"))


def with_tokens(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokenization — matches the oracle's ``string_split``.

    Null-safe: real crawls carry null/empty text rows; they tokenize to
    an empty array (and therefore produce no mentions) instead of
    poisoning downstream array expressions with nulls."""
    toks = F.when(
        F.col(text_col).isNull() | (F.col(text_col) == ""),
        F.array().cast("array<string>"),
    ).otherwise(F.split(F.col(text_col), " "))
    return docs.withColumn("tokens", toks).withColumn("n_tokens", F.size("tokens"))


def sent_id_at(pos: Column) -> Column:
    """Sentence id of token position ``pos`` = number of terminator tokens
    strictly before it (datas.py:303-313: sentences split *after* the
    terminator, which therefore belongs to the preceding sentence)."""
    return F.size(
        F.filter(
            F.slice(F.col("tokens"), F.lit(1), pos.cast("int")),
            lambda t: t == F.lit(config.SENT_TERM),
        )
    ).cast("long")


def _seq(n: Column, lvl: int) -> Column:
    """[0 .. n_tokens - lvl] window start positions (empty when too short)."""
    return F.when(n >= lvl, F.sequence(F.lit(0), (n - lvl).cast("int"))).otherwise(
        F.array().cast("array<int>")
    )


def _tagger(levels: dict[int, list[tuple[str, str]]] | None) -> DictTaggerModel:
    """The fix_ner tagger of ``levels`` (length → [(surface, tag)]); the
    engine gazetteer (``config.GAZ_LEVELS``) when None."""
    if levels is None:
        return DictTaggerModel()
    return DictTaggerModel(e for entries in levels.values() for e in entries)


def _over_tokens(levels, return_type, emit) -> Column:
    """Iterator-form Arrow UDF over the ``tokens`` column: each row's
    value is ``emit(tokens, tags)``, ``tags`` from the fix_ner tagger of
    ``levels`` (first-token prefiltered)."""
    tagger = _tagger(levels)
    firsts = tagger.first_tokens()

    def run(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for col in batches:
            out = []
            for t in col:
                toks = list(t)
                out.append(emit(toks, tagger.tag_tokens(toks, firsts)))
            yield pd.Series(out)

    return F.pandas_udf(run, return_type)(F.col("tokens"))


def _span_dicts(toks: list[str], tags: list[str]) -> list[dict]:
    return [
        {"start_idx": e.start_idx, "end_idx": e.end_idx, "surface": e.surface, "tag": e.tag}
        for e in entities_from_bio_tags(toks, tags)
    ]


def spans_expr(levels: dict[int, list[tuple[str, str]]] | None = None) -> Column:
    """array<struct<start_idx, end_idx, surface, tag>> mention spans of
    the ``tokens`` column: the fix_ner tags BIO-decoded with the
    reference decoder (utils.py:111-166), in one Arrow UDF."""
    return _over_tokens(levels, _SPANS_TYPE, _span_dicts)


def _decode_spans(tags: Column, n: Column | None = None) -> Column:
    """array<struct<start_idx long, end_idx long, surface string,
    tag string>> — BIO-run decoding with the reference decoder semantics
    (utils.py:111-166): any ``I-`` extends an open run (class from the
    opening tag); an orphan ``I-`` opens a run (resolve_inconsistencies).

    Single fold over (tag, position) pairs; ``tags`` is consumed exactly
    once (zip_with) so a computed tag array is not re-evaluated per
    element.
    ``n`` is the token count; defaults to the ``n_tokens`` column (pass
    e.g. ``F.size("tags")`` when decoding a plain tagged table)."""
    if n is None:
        n = F.col("n_tokens")
    pairs = F.zip_with(
        tags,
        _seq(n, 1),
        lambda t, i: F.struct(t.alias("t"), i.alias("i")),
    )
    span = F.struct(
        F.lit(None).cast("long").alias("start_idx"),
        F.lit(None).cast("long").alias("end_idx"),
        F.lit(None).cast("string").alias("tag"),
    )
    init = F.struct(
        F.array().cast(
            "array<struct<start_idx:bigint,end_idx:bigint,tag:string>>"
        ).alias("spans"),
        F.lit(None).cast("string").alias("cur_tag"),
        F.lit(-1).cast("long").alias("cur_start"),
    )

    def merge(acc, x):
        is_i = x["t"].startswith("I-")
        is_b = x["t"].startswith("B-")
        closing = acc["cur_tag"].isNotNull() & ~is_i
        closed = F.when(
            closing,
            F.concat(
                acc["spans"],
                F.array(
                    F.struct(
                        acc["cur_start"].alias("start_idx"),
                        (x["i"].cast("long") - 1).alias("end_idx"),
                        acc["cur_tag"].alias("tag"),
                    )
                ),
            ),
        ).otherwise(acc["spans"])
        open_after = F.when(is_b | (is_i & acc["cur_tag"].isNull()), x["t"].substr(F.lit(3), F.length(x["t"]))).otherwise(
            F.when(is_i, acc["cur_tag"]).otherwise(F.lit(None).cast("string"))
        )
        start_after = F.when(
            is_b | (is_i & acc["cur_tag"].isNull()), x["i"].cast("long")
        ).otherwise(F.when(is_i, acc["cur_start"]).otherwise(F.lit(-1).cast("long")))
        return F.struct(
            closed.alias("spans"),
            open_after.alias("cur_tag"),
            start_after.alias("cur_start"),
        )

    def finish(acc):
        return F.when(
            acc["cur_tag"].isNotNull(),
            F.concat(
                acc["spans"],
                F.array(
                    F.struct(
                        acc["cur_start"].alias("start_idx"),
                        (n.cast("long") - 1).alias("end_idx"),
                        acc["cur_tag"].alias("tag"),
                    )
                ),
            ),
        ).otherwise(acc["spans"])

    spans = F.aggregate(pairs, init, merge, finish)
    return F.transform(
        spans,
        lambda s: F.struct(
            s["start_idx"].alias("start_idx"),
            s["end_idx"].alias("end_idx"),
            F.array_join(
                F.slice(
                    F.col("tokens"),
                    (s["start_idx"] + 1).cast("int"),
                    (s["end_idx"] - s["start_idx"] + 1).cast("int"),
                ),
                " ",
            ).alias("surface"),
            s["tag"].alias("tag"),
        ),
    )


def with_bio(docs: DataFrame) -> DataFrame:
    """Adds ``tokens``, ``n_tokens`` and the final BIO ``tags`` array
    (general n = 5..1 gazetteer matching with the reference's overwrite
    semantics), the tags from an Arrow UDF over ``tokens``."""
    return with_tokens(docs).withColumn(
        "tags", _over_tokens(None, ArrayType(StringType()), lambda _toks, tags: tags)
    )


def with_naive_bio(docs: DataFrame) -> DataFrame:
    """Unigram-only BIO tags with no longest-match suppression — the
    'raw model output' stand-in used by the scoring/error-span demos."""
    df = with_tokens(docs)
    n = F.col("n_tokens")
    seq1 = F.when(n >= 1, F.sequence(F.lit(0), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return df.withColumn(
        "tags",
        F.transform(
            seq1,
            lambda i: F.when(_tok(i).isin(config.PER_WORDS), F.lit("B-PER"))
            .when(_tok(i).isin(config.LOC_WORDS), F.lit("B-LOC"))
            .otherwise(F.lit("O")),
        ),
    )


def mentions_df(
    docs: DataFrame,
    id_col: str = "doc_id",
    levels: dict[int, list[tuple[str, str]]] | None = None,
) -> DataFrame:
    """(doc_id, sent_id, start_idx, end_idx, surface, tag) mention rows.

    ``end_idx`` inclusive (reference convention utils.py:19-22);
    ``start_idx``/``end_idx`` are document-level 0-based token positions.
    ``levels`` (length → [(surface, tag)]) replaces the engine gazetteer.
    """
    tagger = _tagger(levels)
    return _mentions_pass(
        docs, id_col, use_model=False, gazetteer=tagger, firsts=tagger.first_tokens()
    )


def naive_mentions_df(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Unigram-only tagger with *no* longest-match suppression — the
    deliberately-imperfect "prediction" side for the A5/J4 scoring demo
    (analogous to scoring a model's raw tags against fixed gold spans,
    extract_metrics.py:35-59)."""
    df = with_tokens(docs)
    n = F.col("n_tokens")
    seq1 = F.when(n >= 1, F.sequence(F.lit(0), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    uni_words = config.PER_WORDS + config.LOC_WORDS
    hits = F.filter(seq1, lambda i: _tok(i).isin(uni_words))
    m = F.transform(
        hits,
        lambda i: F.struct(
            i.cast("long").alias("start_idx"),
            i.cast("long").alias("end_idx"),
            _tok(i).alias("surface"),
            F.when(_tok(i).isin(config.PER_WORDS), F.lit("PER"))
            .otherwise(F.lit("LOC"))
            .alias("tag"),
        ),
    )
    exploded = df.select(
        F.col(id_col).alias("doc_id"), F.col("tokens"), F.explode(m).alias("m")
    )
    return exploded.select(
        "doc_id",
        sent_id_at(F.col("m.start_idx")).alias("sent_id"),
        F.col("m.start_idx").alias("start_idx"),
        F.col("m.end_idx").alias("end_idx"),
        F.col("m.surface").alias("surface"),
        F.col("m.tag").alias("tag"),
    )
