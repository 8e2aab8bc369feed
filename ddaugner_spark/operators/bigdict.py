"""Mention detection with the dictionary as DATA (J1 at scale).

The reference's real gazetteers are large (CoNLL PER alone is 3,528
names, ddaugner/resources/conll_entities.py:7-26; Elder Scrolls 22,748
first names, the_elder_scrolls.py:8-85) and arrive as
tables, not as the engine's ``config.GAZ_LEVELS``.  This module runs
fix_ner.py:195-215 over such a dictionary in one map-only Arrow pass:

1. the deduped dictionary (one tag per surface, min tag; null surfaces
   dropped) is collected once through Arrow and built into the fix_ner
   tagger, ``tagging.DictTaggerModel`` — the one kernel every mention
   path runs (``mentions.mentions_df``, the model path's gazetteer
   injection and the benchmark reference);
2. one ``mapInPandas`` pass over the documents (``tagging._mentions_pass``,
   the pass ``mentions.mentions_df`` runs over the engine gazetteer)
   tokenizes each one by ``mentions.with_tokens``' rule, runs the
   windowed pass (levels n-descending, level-start snapshot guard),
   BIO-decodes (utils.py:111-166) and assigns sentence ids from the
   terminator count (datas.py:303-313).

No join, no exchange and no higher-order-function fold: the corpus
streams through one narrow stage and the dictionary ships with the
function.  A window is looked up only when its first token starts an
entry of its length (``prefilter=True``), so long runs of non-name
tokens cost one set probe each.

The column-side window builder (:func:`candidate_windows`, per-length
first-token InSet prefilters) is not on the detector's path; it stays
to count candidate windows for the benchmarks.  Tested against a
literal Python port of the reference loops, on crafted overlap cases,
seeded fuzz and a generated 30k-entry dictionary (tests/test_bigdict.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import config
from .mentions import _seq, _tok, with_tokens
from .tagging import DictTaggerModel, _mentions_pass


def _first_token_starts(m: int, firsts: list[str]) -> Column:
    """[0 .. n_tokens - m] start positions whose token is in ``firsts``,
    built by ONE ``F.expr`` call whatever the bucket size.  Each first
    token is spliced in as a hex UTF-8 binary literal cast to string, so
    no token text ever reaches the SQL parser: quotes, backslashes and
    ``spark.sql.parser.escapedStringLiterals`` cannot change what it
    matches.  The cast constant-folds, so past
    ``spark.sql.optimizer.inSetConversionThreshold`` literals the ``IN``
    becomes the same InSet hash probe ``Column.isin`` builds — but
    ``isin`` makes one py4j ``lit`` call per first token, seconds of
    driver time per call on a reference-sized dictionary.  An empty
    ``firsts`` gives no positions (SQL has no empty ``IN ()``)."""
    if not firsts:
        return F.array().cast("array<int>")
    lits = ", ".join(f"CAST(X'{t.encode('utf-8').hex()}' AS STRING)" for t in firsts)
    return F.expr(
        f"filter(IF(n_tokens >= {m}, sequence(0, n_tokens - {m}),"
        f" CAST(array() AS array<int>)), i -> element_at(tokens, i + 1) IN ({lits}))"
    )


def _window_structs(
    lengths_firsts: list[tuple[int, list[str]]], prefilter: bool = True
) -> Column:
    """Per-doc array of candidate windows with PER-LENGTH first-token
    prefilters, built only for the benchmarks' window counts
    (:func:`candidate_windows`; the detector builds no windows): a
    length-m window is built at position i only when tokens[i] is in
    the first-token set of the length-m dictionary bucket — one ``F.expr`` per distinct length
    (:func:`_first_token_starts`), compiled to one InSet probe, so both
    the plan and its driver-side build cost stay constant in
    |dictionary| while buckets with rare first tokens (the common
    real-dictionary shape: tens of thousands of unigram names, a handful
    of multi-word entries) spawn no windows at positions that could only
    ever match another bucket.  ``term_pos`` is LET-BOUND
    (single-element-array transform) so it is not re-evaluated per
    window (no CSE inside lambdas).

    ``prefilter=False`` builds windows at EVERY position — the bench's
    count for the detector's ``prefilter=False`` arm."""
    n = F.col("n_tokens")
    term_pos = F.filter(_seq(n, 1), lambda p: _tok(p) == F.lit(config.SENT_TERM))
    z = F.array(F.struct(term_pos.alias("tp")))

    def per_doc(zz):
        def mk(m: int):
            def w(i):
                sent_start = F.size(F.filter(zz["tp"], lambda t: t < i)).cast(
                    "long"
                )
                return F.struct(
                    i.cast("int").alias("start"),
                    F.lit(m).cast("int").alias("wn"),
                    F.array_join(
                        F.slice(F.col("tokens"), (i + 1).cast("int"), m), " "
                    ).alias("surface"),
                    sent_start.alias("sent_start"),
                    F.filter(zz["tp"], lambda t: (t >= i) & (t < i + m)).alias(
                        "wterm"
                    ),
                )

            return w

        per_len = [
            F.transform(
                _first_token_starts(m, firsts) if prefilter else _seq(n, m), mk(m)
            )
            for m, firsts in lengths_firsts
        ]
        return per_len[0] if len(per_len) == 1 else F.concat(*per_len)

    return F.element_at(F.transform(z, per_doc), 1)


def _deduped(gazetteer: DataFrame) -> DataFrame:
    """One tag per surface (min tag), null surfaces dropped: a null
    surface can never equal a window surface."""
    return (
        gazetteer.where(F.col("surface").isNotNull())
        .groupBy("surface")
        .agg(F.min("tag").alias("tag"))
    )


def _tagger(gazetteer: DataFrame) -> DictTaggerModel:
    """The fix_ner tagger over the deduped dictionary: one collect,
    through Arrow (dimension-sized)."""
    pdf = _deduped(gazetteer).toPandas()
    return DictTaggerModel(zip(pdf["surface"], pdf["tag"]))


def _tagger_pass(
    docs: DataFrame, tagger: DictTaggerModel, id_col: str, prefilter: bool = True
) -> DataFrame:
    firsts = tagger.first_tokens() if prefilter else None
    return _mentions_pass(docs, id_col, use_model=False, gazetteer=tagger, firsts=firsts)


def dict_meta(gazetteer: DataFrame):
    """(deduped gazetteer, [(entry_length, sorted first tokens)]) — the
    dictionary summary :func:`candidate_windows` compiles into its
    per-length InSet prefilters.  For the benchmarks' window counts
    only; the detector does not build windows."""
    tagger = _tagger(gazetteer)
    return _deduped(gazetteer), sorted(
        (lvl, sorted(f)) for (lvl, _es), f in zip(tagger.levels, tagger.first_tokens())
    )


def candidate_windows(
    docs: DataFrame,
    lengths_firsts: list[tuple[int, list[str]]],
    id_col: str = "doc_id",
    prefilter: bool = True,
) -> DataFrame:
    """Exploded candidate windows, one row per (doc, window) whose first
    token starts an entry of its length (every window with
    ``prefilter=False``).  A benchmark diagnostic — how many windows the
    dictionary makes a detector look up — not on the detector's path."""
    return with_tokens(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(_window_structs(lengths_firsts, prefilter=prefilter)).alias("w"),
    )


def mentions_bigdict_df(
    docs: DataFrame,
    gazetteer: DataFrame,
    id_col: str = "doc_id",
    prefilter: bool = True,
) -> DataFrame:
    """(doc_id, sent_id, start_idx, end_idx, surface, tag) — identical
    output to :func:`mentions.mentions_df` for the same dictionary, as
    one map-only Arrow pass of the fix_ner tagger.

    ``gazetteer``: (surface, tag) DataFrame; surfaces must map to ONE
    tag (duplicates are resolved deterministically by min tag — the
    reference dictionaries are maps, so this is a guard, not a path).

    ``prefilter=False`` looks up every window, not only those whose
    first token starts an entry of that length (bench A/B arm; output
    identical either way)."""
    return _tagger_pass(docs, _tagger(gazetteer), id_col, prefilter)


def detect_mentions(docs: DataFrame, gazetteer, id_col: str = "doc_id") -> DataFrame:
    """Mention rows of ``gazetteer`` — a list of (surface, tag) pairs or
    a (surface, tag) DataFrame, collected once — by the tagger pass of
    :func:`mentions_bigdict_df`.  Duplicate surfaces resolve to min(tag)
    and null surfaces are dropped (they can never match a window); an
    empty dictionary gives no rows."""
    if isinstance(gazetteer, DataFrame):
        tagger = _tagger(gazetteer)
    else:
        tagger = DictTaggerModel(gazetteer)
    return _tagger_pass(docs, tagger, id_col)
