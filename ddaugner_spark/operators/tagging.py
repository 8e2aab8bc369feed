"""Batched BIO tagging as an Arrow-vectorized iterator UDF (M1/M2).

north_star: "vectorized pandas/Arrow UDFs run batched BIO tagging with
ddaugNER-style gazetteer injection".  This is the Spark shape of the
reference's ``predict`` (/root/reference/ddaugner/predict.py:15-138):

* the model loads **once per task** (iterator-of-batches pattern — the
  reference's analogue is building the DataLoader/model before the batch
  loop, predict.py:37-45);
* each Arrow batch is tagged document by document, sentence by sentence
  (:func:`tag_doc_tokens`; the 512-wordpiece cap applies per sentence);
* the default tag is ``"O"`` (predict.py:88).

The real BERT checkpoint/transformers stack is not in this container, so
``load_model`` returns a deterministic dictionary tagger with *exactly*
the longest-match semantics of the dictionary detector
(operators/mentions.py) — which gives a strong differential test: the
model path and a literal Python port of fix_ner's loops
(tests/test_gazetteer_general.py) must produce identical mention sets.

Gazetteer injection follows fix_ner.py's precedence (fix_ner.py:195-252):
per position a non-'O' dictionary tag wins and the model fills 'O'.
:func:`merged_mentions_udf` tags, merges, BIO-decodes and assigns sentence
ids in one ``mapInPandas`` pass (per-document kernel :func:`doc_mentions`);
composing :func:`tagged_docs_udf` with ``mentions.with_bio`` instead scans
the pages three times and joins twice on ``doc_id``.

:class:`DictTaggerModel` is the one fix_ner dictionary tagger, and there
is no column-native copy of it: the gazetteer injection above, every
dictionary-only mention API (operators/mentions.py: ``mentions_df``,
``with_bio``, ``spans_expr``; raw-document triples,
operators/triples.py; the big-dictionary detector, operators/bigdict.py)
and the benchmark reference all run its ``tag_tokens`` in Arrow
batches.
"""

from __future__ import annotations

import hashlib
from typing import Iterator, List, Optional, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StringType, StructField, StructType

from .. import config
from ..kernels import (
    Entity,
    align_wordpiece_predictions,
    entities_from_bio_tags,
    featurize_with_context,
    wordpiece_tokenize,
)

#: label space of the token-classification head (id2label analogue —
#: the reference's model.config.id2label, predict.py:102)
_CLASSES = sorted({c for entries in config.GAZ_LEVELS.values() for _s, c in entries})
ID2LABEL = ["O"] + [f"{b}-{c}" for c in _CLASSES for b in ("B", "I")]
LABEL2ID = {l: i for i, l in enumerate(ID2LABEL)}


class DictTaggerModel:
    """Deterministic stand-in for a token-classification model.

    Swap point for a real model: replace ``tag_batch`` with tokenizer +
    forward + argmax + wordpiece→token alignment (predict.py:58-106);
    everything around it (task-level load, Arrow batching, schema) stays.
    """

    def __init__(self, entries=None):
        """``entries``: (surface, tag) pairs, the engine gazetteer
        (``config.GAZ_LEVELS``) when omitted.  A surface listed twice
        keeps its min tag and a null surface is dropped, the rules the
        dictionary detectors apply (operators/bigdict.py)."""
        # length-bucketed surface -> class maps, longest level first
        if entries is None:
            self.levels = [
                (lvl, {s: c for s, c in es}) for lvl, es in config.GAZ_LEVELS.items()
            ]
            return
        levels: dict[int, dict[str, str]] = {}
        for s, c in entries:
            if s is not None:
                lv = levels.setdefault(len(s.split(" ")), {})
                lv[s] = c if s not in lv else min(lv[s], c)
        self.levels = sorted(levels.items(), reverse=True)

    def first_tokens(self) -> List[set]:
        """Per level of ``levels``, the first tokens of its surfaces:
        the ``firsts`` of :meth:`tag_tokens`."""
        return [{s.split(" ", 1)[0] for s in es} for _lvl, es in self.levels]

    def tag_tokens(self, toks: List[str], firsts=None) -> List[str]:
        """The reference's windowed pass (fix_ner.py:195-215): for
        n = 5..1, left-to-right, retag a dictionary window covering ≥1
        'O' position as B-X I-X…, overwriting previous tags.  The
        reference reads tags through a lazy ``more_itertools.windowed``
        iterator over the list ``fix()`` mutates in place — within one
        level each position is read exactly once, before any same-level
        fix touches it, so the guard sees the LEVEL-START snapshot while
        writes land live (fuzz-proven equivalent to the literal lazy
        port in tests/test_gazetteer_general.py).

        ``firsts`` (:meth:`first_tokens`) looks up only the windows whose
        first token starts an entry of that level; the tags are the
        same, the surface joins and lookups fewer."""
        n = len(toks)
        tags = ["O"] * n
        for k, (lvl, entries) in enumerate(self.levels):
            first = None if firsts is None else firsts[k]
            snap = tags[:]  # level-start snapshot read by the guard
            for i in range(n - lvl + 1):
                if first is not None and toks[i] not in first:
                    continue
                cls = entries.get(" ".join(toks[i : i + lvl]))
                if cls is not None and "O" in snap[i : i + lvl]:
                    tags[i : i + lvl] = [f"B-{cls}"] + [f"I-{cls}"] * (lvl - 1)
        return tags

    def tag_batch(self, token_lists: List[List[str]]) -> List[List[str]]:
        return [self.tag_tokens(t) for t in token_lists]


class WordpieceTaggerModel:
    """The FULL predict.py post-processing stack with only the BERT
    forward stubbed: featurize (context concat + token-level labels
    mask + wordpiece tokenization + 512 truncation, datas.py:228-283) →
    per-wordpiece logits → argmax → ``token_to_word`` alignment with
    special-token skip, context mask, and last-wordpiece-wins overwrite
    (predict.py:77-106).

    ``forward`` is the one synthetic piece: for each wordpiece of a
    token whose dictionary tag is T, NON-final wordpieces get a DECOY
    label ((id+1) mod |labels|) and only the FINAL wordpiece gets T —
    so the ascending-j overwrite semantics of predict.py are load-
    bearing (keeping any non-last wordpiece's argmax yields wrong token
    tags, pinned in tests/test_tagging_alignment.py).  Special tokens
    get a non-'O' logit too, so the word-id-None skip is load-bearing
    as well."""

    def __init__(self, max_length: Optional[int] = 512):
        self.dict_model = DictTaggerModel()
        self.max_length = max_length

    def forward(self, pieces, word_ids, token_tags):
        """Synthetic logits (the BERT-forward swap point — everything
        around this is the real post-processing)."""
        n = len(ID2LABEL)
        logits = []
        for j, wi in enumerate(word_ids):
            row = [0.0] * n
            if wi is None:
                # special tokens "predict" a non-O label; alignment must skip
                row[1 % n] = 1.0
            else:
                is_last = j + 1 >= len(word_ids) or word_ids[j + 1] != wi
                tid = LABEL2ID[token_tags[wi]]
                row[tid if is_last else (tid + 1) % n] = 1.0
            logits.append(row)
        return logits

    def tag_sentence(
        self,
        sent_tokens: List[str],
        left_tokens: List[str] | None = None,
        right_tokens: List[str] | None = None,
    ) -> List[str]:
        left = left_tokens or []
        right = right_tokens or []
        words = left + list(sent_tokens) + right
        token_tags = self.dict_model.tag_tokens(words)
        pieces, word_ids, mask = featurize_with_context(
            left, sent_tokens, right, max_length=self.max_length
        )
        logits = self.forward(pieces, word_ids, token_tags)
        wp_tags = [
            ID2LABEL[max(range(len(row)), key=row.__getitem__)] for row in logits
        ]
        return align_wordpiece_predictions(word_ids, mask, wp_tags)

    def tag_batch(self, token_lists: List[List[str]]) -> List[List[str]]:
        return [self.tag_sentence(t) for t in token_lists]


def load_model() -> WordpieceTaggerModel:
    """Tagging model for the Arrow paths, with the reference's
    per-sentence 512-wordpiece truncation contract (datas.py:228-283):
    the production UDFs re-segment each doc at the sentence terminator
    and tag sentence by sentence via :func:`tag_doc_tokens`, so the 512
    cap applies per sentence exactly as in predict.py."""
    return WordpieceTaggerModel(max_length=512)


def split_sentences(toks: List[str]) -> List[List[str]]:
    """Sentence token runs: split AFTER each terminator, which belongs
    to the preceding sentence (datas.py:303-313)."""
    sents: List[List[str]] = []
    cur: List[str] = []
    for t in toks:
        cur.append(t)
        if t == config.SENT_TERM:
            sents.append(cur)
            cur = []
    if cur:
        sents.append(cur)
    return sents


def tag_doc_tokens(model: WordpieceTaggerModel, toks: List[str]) -> List[str]:
    """Doc-level BIO tags via PER-SENTENCE tagging — the reference's
    production shape (predict.py tags sentence rows; truncation applies
    per sentence).  Dictionary windows never cross a sentence boundary
    (a spanning window must contain the terminator token and no
    gazetteer surface does — pinned by test_config_invariants), so the
    concatenated tags equal a doc-level pass on untruncated input while
    long multi-sentence docs keep their tail mentions
    (tests/test_tagging_alignment.py::test_per_sentence_truncation)."""
    out: List[str] = []
    for sent in split_sentences(toks):
        out.extend(model.tag_sentence(sent))
    return out


#: deterministic per-wordpiece 'last hidden state' stand-in: dim d is
#: ±1 by hex digit d of md5(rendered piece) — reproducible in SQL, same
#: convention as the hashed doc embeddings (operators/embedding.py)
EMB_DIMS = 8


def wordpiece_hidden_state(piece: str, dims: int = EMB_DIMS) -> List[float]:
    h = hashlib.md5(piece.encode()).hexdigest()
    return [1.0 if h[d] in "89abcdef" else -1.0 for d in range(dims)]


TAGGED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("tokens", ArrayType(StringType())),
        StructField("tags", ArrayType(StringType())),
    ]
)

MENTION_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sent_id", LongType()),
        StructField("start_idx", LongType()),
        StructField("end_idx", LongType()),
        StructField("surface", StringType()),
        StructField("tag", StringType()),
    ]
)


def tagged_docs_udf(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, tokens, tags) via the batched tagging UDF."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = load_model()  # once per task, amortized over all batches
        for pdf in batches:
            # null/empty-safe, consistent with mentions.with_tokens
            token_lists = [t.split(" ") if t else [] for t in pdf["text"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "tokens": token_lists,
                    "tags": [tag_doc_tokens(model, t) for t in token_lists],
                }
            )

    return docs.select(F.col(id_col), F.col("text")).mapInPandas(run, TAGGED_SCHEMA)


def doc_mentions(
    text: Optional[str],
    model,
    gazetteer: Optional[DictTaggerModel] = None,
    firsts=None,
) -> List[Tuple[int, Entity]]:
    """(sent_id, entity) for each mention of one document: tokens by
    ``mentions.with_tokens``' rule (null/empty text has none), ``model``
    tags per sentence (:func:`tag_doc_tokens`), merged by
    :func:`merge_tag_sources`' rule with the ``gazetteer``'s whole-doc
    tags when given (so the dictionary still tags a sentence tail the
    model truncated), reference BIO decode (utils.py:111-166), and
    ``sent_id`` = terminators before the mention (datas.py:303-313).
    With ``model`` None the gazetteer's tags alone decode (the
    big-dictionary detector, operators/bigdict.py); ``firsts`` is
    passed to its :meth:`DictTaggerModel.tag_tokens`."""
    toks = text.split(" ") if text else []
    if model is None:
        tags = gazetteer.tag_tokens(toks, firsts)
    else:
        tags = tag_doc_tokens(model, toks)
        if gazetteer is not None:
            dict_tags = gazetteer.tag_tokens(toks, firsts)
            tags = [d if d != "O" else m for d, m in zip(dict_tags, tags)]
    sent_ids, c = [], 0
    for t in toks:
        sent_ids.append(c)
        if t == config.SENT_TERM:
            c += 1
    return [(sent_ids[e.start_idx], e) for e in entities_from_bio_tags(toks, tags)]


def _mention_frame(rows) -> pd.DataFrame:
    """MENTION_SCHEMA frame of ``(doc_id, sent_id, entity)`` rows."""
    return pd.DataFrame(
        [(int(d), int(s), e.start_idx, e.end_idx, e.surface, e.tag)
         for d, s, e in rows],
        columns=MENTION_SCHEMA.fieldNames(),
    )


def _mentions_pass(
    docs: DataFrame,
    id_col: str,
    use_model: bool,
    gazetteer: Optional[DictTaggerModel] = None,
    firsts=None,
) -> DataFrame:
    """One map-only ``mapInPandas`` pass of :func:`doc_mentions` emitting
    MENTION_SCHEMA rows; the model (when ``use_model``) loads once per
    task, the ``gazetteer`` tagger ships with the function."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = load_model() if use_model else None
        for pdf in batches:
            yield _mention_frame(
                (d, s, e)
                for d, text in zip(pdf[id_col], pdf["text"])
                for s, e in doc_mentions(text, model, gazetteer, firsts)
            )

    return docs.select(F.col(id_col), F.col("text")).mapInPandas(run, MENTION_SCHEMA)


def mentions_udf(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Mention rows via the Arrow tagging path (model tags only) — same
    contract as operators.mentions.mentions_df, decoded with the pure
    kernel (utils.py:111-166 semantics) inside the same UDF pass.

    Equality with ``mentions_df`` (and the shared SQL oracle) holds for
    sentences under the per-sentence 512-wordpiece cap — the reference's
    model path truncates there while its dictionary pass doesn't, and
    this path inherits the model-path contract.  The precondition is
    pinned on the gate corpora by
    test_corpus_sentences_below_truncation_cap."""
    return _mentions_pass(docs, id_col, use_model=True)


def merged_mentions_udf(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Mention rows of model tags merged with the gazetteer's tags:
    one :func:`_mentions_pass`, whose per-document kernel
    :func:`doc_mentions` tags each sentence with the model, merges the
    gazetteer tagger's tags, BIO-decodes and assigns sentence ids."""
    return _mentions_pass(docs, id_col, use_model=True, gazetteer=DictTaggerModel())


def mentions_from_tagged(tagged: DataFrame) -> DataFrame:
    """Decode mention spans from an already-tagged sentence table
    (doc_id, sent_id, tokens array, tags array) — the consumption path
    for model-produced BIO tags (W3 at corpus scale).

    Runs the pure kernel (utils.py:111-166 semantics, including
    inconsistent I- starts) inside an Arrow batch pass; start/end are
    sentence-local token positions, matching the reference's
    per-sentence NEREntity convention (utils.py:19-22)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _mention_frame(
                (d, s, e)
                for d, s, toks, tags in zip(
                    pdf["doc_id"], pdf["sent_id"], pdf["tokens"], pdf["tags"]
                )
                for e in entities_from_bio_tags(list(toks), list(tags))
            )

    return tagged.select("doc_id", "sent_id", "tokens", "tags").mapInPandas(
        run, MENTION_SCHEMA
    )


def _mention_emb_schema(dims: int) -> StructType:
    return StructType(
        [
            StructField("doc_id", LongType()),
            StructField("start_idx", LongType()),
            StructField("end_idx", LongType()),
            StructField("surface", StringType()),
            StructField("tag", StringType()),
            StructField("n_wp", LongType()),
        ]
        + [StructField(f"s_{d}", LongType()) for d in range(dims)]
    )


def mention_embeddings_udf(
    docs: DataFrame, id_col: str = "doc_id", dims: int = EMB_DIMS
) -> DataFrame:
    """Per-MENTION pooled embeddings from the tagger path — the
    predict.py:108-134 analogue at mention granularity: tag the doc
    through the full wordpiece stack, decode mentions, and pool the
    deterministic per-wordpiece hidden states over every wordpiece of
    the mention's tokens.

    Emitted as INTEGER sums (s_0..s_{dims−1}) plus the wordpiece count
    ``n_wp`` — the mean is sum/n at read time (the same decomposable-
    aggregate contract as the hypertable rollup), which keeps the DuckDB
    oracle bit-exact and lets downstream cosine search run on integer
    dot products like operators/embedding.py.  (The reference's
    per-TOKEN mean pooling is kept faithfully in
    kernels.pool_token_embeddings, pytest-pinned; mention-level pooling
    is an engine addition — mentions are what the ANN/linking stack
    joins on.)"""
    schema = _mention_emb_schema(dims)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        model = load_model()
        # piece -> row in the hidden-state matrix; token -> its pieces'
        # row indices.  With a real encoder the matrix IS the returned
        # hidden-state tensor and the pooling below is unchanged.
        piece_row: dict[str, int] = {}
        hs_rows: List[List[float]] = []
        tok_rows: dict[str, List[int]] = {}

        def rows_for(tok: str) -> List[int]:
            ix = tok_rows.get(tok)
            if ix is None:
                ix = []
                for p in wordpiece_tokenize(tok):
                    j = piece_row.get(p)
                    if j is None:
                        j = len(hs_rows)
                        piece_row[p] = j
                        hs_rows.append(wordpiece_hidden_state(p, dims))
                    ix.append(j)
                tok_rows[tok] = ix
            return ix

        for pdf in batches:
            out = {f.name: [] for f in schema.fields}
            flat: List[int] = []  # piece row-indices, all mentions concatenated
            offsets: List[int] = []  # mention i pools flat[offsets[i]:offsets[i+1]]
            for doc_id, text in zip(pdf[id_col], pdf["text"]):
                for _sent_id, e in doc_mentions(text, model):
                    ix: List[int] = []
                    for tok in e.tokens:
                        ix.extend(rows_for(tok))
                    offsets.append(len(flat))
                    flat.extend(ix)
                    out["doc_id"].append(int(doc_id))
                    out["start_idx"].append(e.start_idx)
                    out["end_idx"].append(e.end_idx)
                    out["surface"].append(e.surface)
                    out["tag"].append(e.tag)
                    out["n_wp"].append(len(ix))
            # one vectorized pooling pass per Arrow batch (segmented sum
            # over the gathered hidden-state rows) — no per-wordpiece
            # Python arithmetic
            n_m = len(offsets)
            if n_m:
                H = np.asarray(hs_rows, dtype=np.int64)
                idx = np.asarray(flat, dtype=np.int64)
                off = np.asarray(offsets, dtype=np.int64)
                lens = np.diff(np.append(off, len(idx)))
                if len(idx) and (lens > 0).all():
                    sums = np.add.reduceat(H[idx], off, axis=0)
                else:  # degenerate zero-wordpiece mentions (defensive)
                    sums = np.zeros((n_m, dims), dtype=np.int64)
                    for si in range(n_m):
                        if lens[si]:
                            sums[si] = H[idx[off[si] : off[si] + lens[si]]].sum(axis=0)
            else:
                sums = np.zeros((0, dims), dtype=np.int64)
            for d in range(dims):
                out[f"s_{d}"] = sums[:, d]
            yield pd.DataFrame(out)

    return docs.select(F.col(id_col), F.col("text")).mapInPandas(run, schema)


def merge_tag_sources(model_tagged: DataFrame, dict_tagged: DataFrame) -> DataFrame:
    """Merge model tags with dictionary tags per position: dictionary
    evidence wins where it says non-'O' (fix_ner.py rule precedence);
    model fills the rest.  Inputs: (doc_id, tokens, tags) each."""
    m = model_tagged.select("doc_id", F.col("tags").alias("model_tags"))
    d = dict_tagged.select("doc_id", "tokens", F.col("tags").alias("dict_tags"))
    return d.join(m, "doc_id").select(
        "doc_id",
        "tokens",
        F.zip_with(
            "dict_tags",
            "model_tags",
            lambda dt, mt: F.when(dt != "O", dt).otherwise(mt),
        ).alias("tags"),
    )
