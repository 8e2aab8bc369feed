"""General n=5..1 gazetteer matching — pins the exact reference
semantics (/root/reference/fix_ner.py:195-215) on hand-built sentences:

* longest-match: an n-gram beats the bigrams/unigrams inside it;
* the ``any(tag == 'O')`` guard: a window fully inside an applied span
  is skipped, a window partially overlapping one APPLIES and OVERWRITES;
* same-length left-to-right chains: left applies first, right overwrites
  its tail (both emit spans);
* head-overwrite merge quirk: overwriting the head of an applied run
  leaves orphan I-X tags that the decoder (utils.py:111-166) absorbs
  into the new span — the span's class comes from the opening B- tag.

Three implementations must agree: the engine's one tagger kernel
(DictTaggerModel.tag_tokens, which mentions_df, with_bio and the
big-dictionary detector all run in Arrow batches), the literal lazy port
of fix_ner's loops (:func:`reference_tagger`), and the hand-computed
expectation.
"""

import pytest

from ddaugner_spark import config
from ddaugner_spark.operators import mentions
from ddaugner_spark.operators.tagging import DictTaggerModel


def _windowed(seq, n):
    """Faithful stand-in for more_itertools.windowed (not in this
    container): lazy sliding deque over iter(seq) — reads each position
    exactly once, so in-place mutations of already-read positions are
    NOT visible to later windows of the same pass (the read timing the
    reference loop actually has, fix_ner.py:203)."""
    from collections import deque

    it = iter(seq)
    window = deque(maxlen=n)
    for _ in range(n):
        try:
            window.append(next(it))
        except StopIteration:
            return
    yield tuple(window)
    for x in it:
        window.append(x)
        yield tuple(window)


def reference_tagger(toks, dic=None):
    """Line-for-line port of the reference loops (fix_ner.py:195-215)
    with the literal LAZY windowed read timing: ``fix()`` mutates the
    tags list in place while ``windowed(tags, n)`` reads it — kept
    separate from DictTaggerModel so the test is a differential."""
    tags = ["O"] * len(toks)
    if dic is None:
        dic = {s: c for s, c, _w in config.GAZETTEER}
    for n in range(5, 0, -1):
        for j, (tw, gw) in enumerate(zip(_windowed(toks, n), _windowed(tags, n))):
            cls = dic.get(" ".join(tw))
            if cls is not None and any(t == "O" for t in gw):
                tags[j : j + n] = [f"B-{cls}"] + [f"I-{cls}"] * (n - 1)
    return tags


def snapshot_tagger(toks, dic):
    """The level-snapshot model the engine implements — fuzzed below to
    be equivalent to the lazy-windowed port (same equivalence argument
    as the lowercase-PER pass: within a level every read of a position
    precedes every same-level write to it)."""
    tags = ["O"] * len(toks)
    levels: dict[int, dict[str, str]] = {}
    for s, c in dic.items():
        levels.setdefault(len(s.split(" ")), {})[s] = c
    for lvl in sorted(levels, reverse=True):
        entries = levels[lvl]
        snap = tags[:]
        for i in range(len(toks) - lvl + 1):
            cls = entries.get(" ".join(toks[i : i + lvl]))
            if cls is not None and any(t == "O" for t in snap[i : i + lvl]):
                tags[i : i + lvl] = [f"B-{cls}"] + [f"I-{cls}"] * (lvl - 1)
    return tags


CASES = [
    # (text, expected tags)
    # longest-match: trigram "hash join big" wins over bigram "hash join"
    # and unigram "hash"
    ("hash join big data", ["B-ORG", "I-ORG", "I-ORG", "O"]),
    # bigram alone still matches; 'hash' PER suppressed inside it
    ("a hash join row", ["O", "B-ORG", "I-ORG", "O"]),
    # left-extension: "fast hash join" covers the bigram start
    ("fast hash join row", ["B-ORG", "I-ORG", "I-ORG", "O"]),
    # same-length chain: "row column sort" applies, "column sort stream"
    # overwrites its tail (pos 3 was O) -> two spans
    (
        "row column sort stream big",
        ["B-ORG", "B-ORG", "I-ORG", "I-ORG", "O"],
    ),
    # window fully inside an applied span is skipped: "hash join" inside
    # the 5-gram "hash data row slow slow"? (disjoint check) — use the
    # 4-gram: "value slow hash data" then 'hash' unigram blocked
    ("value slow hash data", ["B-ORG", "I-ORG", "I-ORG", "I-ORG"]),
    # unigrams on clean text
    ("spark stream window", ["B-PER", "B-LOC", "B-LOC"]),
    # sentence terminator is never part of a mention
    ("the spark the", ["O", "B-PER", "O"]),
]


@pytest.mark.parametrize("text,want", CASES)
def test_windowed_semantics_kernel(text, want):
    toks = text.split(" ")
    assert reference_tagger(toks) == want
    assert DictTaggerModel().tag_tokens(toks) == want


def test_kernel_equals_reference_on_random_corpus(docs):
    """Differential: DictTaggerModel == the fix_ner port on real corpus
    rows (first 80 docs)."""
    model = DictTaggerModel()
    for r in docs.limit(80).collect():
        toks = r["text"].split(" ")
        assert model.tag_tokens(toks) == reference_tagger(toks)


def test_with_bio_equals_reference(spark):
    """``with_bio``'s tags must equal the lazy reference port on a
    corpus engineered to hit every overlap path, including a head
    overwrite (4-gram applied, then a later-level window overwriting its
    head is blocked by any-O; heads get overwritten only by same-or-later
    windows whose left part is O), and on null and empty text."""
    rows = [(i, t) for i, (t, _w) in enumerate(CASES)]
    rows += [
        (100, "fast hash join big data"),       # two trigrams chained
        (101, "row column sort stream table hash"),  # trigram chain x2
        (102, "value slow hash data row slow slow"), # 4-gram then 5-gram tail
        (103, "customer hash join sort merge window"),
        (104, ""),                                # empty text
        (105, None),                              # null text
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["tags"]
        for r in mentions.with_bio(df).select("doc_id", "tags").collect()
    }
    for doc_id, text in rows:
        toks = text.split(" ") if text else []
        assert got[doc_id] == reference_tagger(toks), (doc_id, text)


def test_mentions_decode_matches_kernel_spans(spark):
    """Decoded spans (mentions_df, and spans_expr over the same rows) ==
    the reference port's entities on the engineered corpus, including
    the merged-span quirk."""
    from ddaugner_spark.kernels import entities_from_bio_tags

    rows = [
        (0, "fast hash join big data spark"),
        (1, "row column sort stream table hash"),
        (2, "value slow hash data row slow slow window"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["start_idx"], r["end_idx"], r["surface"], r["tag"])
        for r in mentions.mentions_df(df).collect()
    )
    got_spans = sorted(
        (r["doc_id"], *s)
        for r in mentions.with_tokens(df)
        .select("doc_id", mentions.spans_expr().alias("spans"))
        .collect()
        for s in r["spans"]
    )
    want = []
    for doc_id, text in rows:
        toks = text.split(" ")
        for e in entities_from_bio_tags(toks, reference_tagger(toks)):
            want.append((doc_id, e.start_idx, e.end_idx, e.surface, e.tag))
    assert got == got_spans == sorted(want)


def test_level_snapshot_divergence(spark):
    """Minimal case where lazy-windowed (= level-snapshot) semantics
    differ from a live-tags guard: dict {'a b','b c','c d e'} over
    'a b c d e'.  Level 3 applies 'c d e'@2; at level 2 'a b'@0 applies,
    and 'b c'@1 ALSO applies because position 1 was 'O' at level start
    (read through the lazy iterator before the 'a b' fix landed) — a
    live guard would block it.  Pins the engine fold, the bigdict
    replay, and both Python ports to the reference behavior."""
    dic = {"a b": "ORG", "b c": "ORG", "c d e": "ORG"}
    toks = "a b c d e".split(" ")
    want = ["B-ORG", "B-ORG", "I-ORG", "I-ORG", "I-ORG"]
    assert reference_tagger(toks, dic) == want
    assert snapshot_tagger(toks, dic) == want

    levels = {3: [("c d e", "ORG")], 2: [("a b", "ORG"), ("b c", "ORG")]}
    df = spark.createDataFrame([(0, "a b c d e")], "doc_id long, text string")
    want_spans = [(0, 0, "a", "ORG"), (1, 4, "b c d e", "ORG")]
    got = sorted(
        (r["start_idx"], r["end_idx"], r["surface"], r["tag"])
        for r in mentions.mentions_df(df, levels=levels).collect()
    )
    assert got == want_spans

    from ddaugner_spark.operators.bigdict import mentions_bigdict_df

    gaz = spark.createDataFrame(
        sorted(dic.items()), "surface string, tag string"
    )
    got_b = sorted(
        (r["start_idx"], r["end_idx"], r["surface"], r["tag"])
        for r in mentions_bigdict_df(df, gaz).collect()
    )
    assert got_b == want_spans


def test_dictionary_pass_fuzz_lazy_vs_snapshot():
    """Seeded fuzz: the lazy-windowed reference port equals the
    level-snapshot model on random dictionaries over a tiny vocabulary
    (dense overlaps — the regime where live-tag guards diverge)."""
    import random

    rng = random.Random(4242)
    vocab = ["a", "b", "c", "d", "e"]
    for trial in range(400):
        dic = {}
        for _ in range(rng.randint(1, 8)):
            n = rng.randint(1, 3)
            dic[" ".join(rng.choice(vocab) for _ in range(n))] = rng.choice(
                ["ORG", "PER", "LOC"]
            )
        toks = [rng.choice(vocab) for _ in range(rng.randint(1, 12))]
        assert reference_tagger(toks, dic) == snapshot_tagger(toks, dic), (
            trial,
            toks,
            dic,
        )


def test_engine_fuzz_vs_lazy_port(spark):
    """Seeded fuzz of both dictionary entry points (mentions_df with
    custom levels, and the big-dictionary detector over a dictionary
    DataFrame) against the lazy-windowed reference port on dense random
    corpora over a random overlapping dictionary."""
    import random

    from ddaugner_spark.kernels import entities_from_bio_tags
    from ddaugner_spark.operators.bigdict import mentions_bigdict_df

    rng = random.Random(777)
    vocab = ["a", "b", "c", "d", "e"]
    for round_ in range(2):
        dic = {}
        for _ in range(8):
            n = rng.randint(1, 3)
            dic[" ".join(rng.choice(vocab) for _ in range(n))] = rng.choice(
                ["ORG", "PER", "LOC"]
            )
        levels: dict[int, list[tuple[str, str]]] = {}
        for s, c in dic.items():
            levels.setdefault(len(s.split(" ")), []).append((s, c))
        rows = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 12))))
            for i in range(50)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        want = sorted(
            (doc_id, e.start_idx, e.end_idx, e.surface, e.tag)
            for doc_id, text in rows
            for e in entities_from_bio_tags(
                text.split(" "), reference_tagger(text.split(" "), dic)
            )
        )
        got_levels = sorted(
            (r["doc_id"], r["start_idx"], r["end_idx"], r["surface"], r["tag"])
            for r in mentions.mentions_df(df, levels=levels).collect()
        )
        assert got_levels == want, (round_, dic)
        gaz = spark.createDataFrame(sorted(dic.items()), "surface string, tag string")
        got_big = sorted(
            (r["doc_id"], r["start_idx"], r["end_idx"], r["surface"], r["tag"])
            for r in mentions_bigdict_df(df, gaz).collect()
        )
        assert got_big == want, (round_, dic)


def test_config_invariants():
    surfaces = [s for s, _c, _w in config.GAZETTEER]
    assert len(surfaces) == len(set(surfaces)), "duplicate gazetteer surface"
    for s in surfaces:
        assert config.SENT_TERM not in s.split(" "), s
        for p in config.PRED_WORDS:
            assert p not in s.split(" "), (s, p)
    for s, c, _w in config.GAZETTEER:
        if c == "PER":
            assert " " not in s, "PER entries must stay unigram (augment oracle)"
    assert max(len(s.split(" ")) for s in surfaces) == 5
