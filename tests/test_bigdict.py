"""Broadcast-join big-dictionary detector (operators/bigdict.py) vs
(a) the inline matcher on the shared config.GAZETTEER over real sf0.001
documents, (b) a direct Python port of fix_ner.py:195-215 + the
reference decoder on crafted overlap/fragment cases, and (c) a
generated 30k-entry dictionary (reference scale) that the inline
matcher could never compile."""

import pytest
from pyspark.sql import functions as F

from ddaugner_spark import config
from ddaugner_spark.operators.bigdict import (
    _window_structs,
    candidate_windows,
    detect_mentions,
    mentions_bigdict_df,
)
from ddaugner_spark.operators.mentions import mentions_df


def _ref_mentions(tokens, gaz, term=config.SENT_TERM, max_n=5):
    """Direct port of the reference matcher (fix_ner.py:195-215: windows
    n=max..1 left-to-right, apply iff >=1 'O' in the LEVEL-START
    snapshot — the guard reads tags through the lazy windowed iterator,
    so same-level writes are invisible to it; writes land live) + the
    reference BIO decoder (utils.py:111-166: I- extends any open run,
    orphan I- opens one).  Snapshot-vs-lazy equivalence is fuzz-proven
    in test_gazetteer_general."""
    tags = ["O"] * len(tokens)
    for n in range(max_n, 0, -1):
        snap = tags[:]
        for i in range(0, len(tokens) - n + 1):
            surf = " ".join(tokens[i : i + n])
            if surf in gaz and any(t == "O" for t in snap[i : i + n]):
                tags[i] = "B-" + gaz[surf]
                for j in range(i + 1, i + n):
                    tags[j] = "I-" + gaz[surf]
    spans, cur = [], None
    for i, t in enumerate(tags):
        if t.startswith("B-"):
            if cur:
                spans.append((cur[0], i - 1, cur[1]))
            cur = (i, t[2:])
        elif t.startswith("I-"):
            if cur is None:
                cur = (i, t[2:])
        else:
            if cur:
                spans.append((cur[0], i - 1, cur[1]))
                cur = None
    if cur:
        spans.append((cur[0], len(tags) - 1, cur[1]))
    out = []
    for s, e, c in spans:
        sent = sum(1 for t in tokens[:s] if t == term)
        out.append((sent, s, e, " ".join(tokens[s : e + 1]), c))
    return out


def _collect(df):
    return sorted(
        (r["doc_id"], r["sent_id"], r["start_idx"], r["end_idx"], r["surface"], r["tag"])
        for r in df.collect()
    )


def test_bigdict_equals_inline_on_corpus(spark, sf_dir):
    """The broadcast path must reproduce the inline matcher EXACTLY on
    the shared dictionary over real documents."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    gaz = spark.createDataFrame(
        [(s, c) for s, c, _w in config.GAZETTEER], "surface string, tag string"
    )
    assert _collect(mentions_bigdict_df(docs, gaz)) == _collect(mentions_df(docs))


def test_bigdict_prefilter_off_identical(spark, sf_dir):
    """The bench A/B arm (prefilter=False: windows at every position,
    broadcast join does all the filtering) must produce the identical
    mention set — the prefilter is a cost optimization, never a
    semantic one."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    gaz = spark.createDataFrame(
        [(s, c) for s, c, _w in config.GAZETTEER], "surface string, tag string"
    )
    assert _collect(mentions_bigdict_df(docs, gaz, prefilter=False)) == _collect(
        mentions_bigdict_df(docs, gaz, prefilter=True)
    )


def test_bigdict_fragments_and_quirk_merge(spark):
    """Overwrite fragments + the I-extends-any-open-run decoder quirk:
    a later smaller window overwriting the HEAD of an applied larger
    window leaves I- tags that merge into the new run."""
    gaz = {
        "value slow hash data": "ORG",   # n=4, applies first
        "row value": "LOC",              # n=2 — fully inside nothing; overlaps head
        "data row": "LOC",               # n=2 — overlaps tail, sticks out right
        "spark": "PER",
    }
    docs = spark.createDataFrame(
        [
            (1, "row value slow hash data row spark"),
            (2, "value slow hash data the spark big"),
            (3, "big small fast"),  # no hits at all
        ],
        "doc_id long, text string",
    )
    gdf = spark.createDataFrame(list(gaz.items()), "surface string, tag string")
    got = _collect(mentions_bigdict_df(docs, gdf))
    want = []
    for doc_id, text in [(1, "row value slow hash data row spark"),
                         (2, "value slow hash data the spark big"),
                         (3, "big small fast")]:
        for sent, s, e, surf, c in _ref_mentions(text.split(" "), gaz):
            want.append((doc_id, sent, s, e, surf, c))
    assert got == sorted(want)


def test_bigdict_sent_ids_with_terminator_inside_window(spark):
    """A dictionary entry containing the terminator token: sentence ids
    of fragment starts must count terminators INSIDE earlier windows."""
    gaz = {f"alpha {config.SENT_TERM} beta": "ORG", "beta gamma": "LOC"}
    docs = spark.createDataFrame(
        [(7, f"alpha {config.SENT_TERM} beta gamma end")], "doc_id long, text string"
    )
    gdf = spark.createDataFrame(list(gaz.items()), "surface string, tag string")
    got = _collect(mentions_bigdict_df(docs, gdf))
    toks = f"alpha {config.SENT_TERM} beta gamma end".split(" ")
    want = sorted((7, sent, s, e, surf, c) for sent, s, e, surf, c in _ref_mentions(toks, gaz))
    assert got == want


def test_bigdict_30k_dictionary(spark):
    """Reference-scale dictionary (30k entries — conll_entities.py is
    3.5k PER names alone): the inline matcher cannot compile this; the
    broadcast path must match the Python reference port."""
    gaz = {}
    for i in range(30_000):
        if i % 3 == 0:
            gaz[f"name{i:05d}"] = "PER"
        elif i % 3 == 1:
            gaz[f"name{i:05d} son{i % 97}"] = "PER"
        else:
            gaz[f"place{i:05d} of land{i % 89}"] = "LOC"
    texts = [
        "name00000 went the name00001 son1 saw place00002 of land2",
        "noise name29999 more name00004 son4 noise",
        f"place00005 of land5 {config.SENT_TERM} name00006 plain words",
        "nothing matches here at all",
        "name00001 son1 name00000 back to back name00012",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    gdf = spark.createDataFrame(list(gaz.items()), "surface string, tag string")
    got = _collect(mentions_bigdict_df(docs, gdf))
    want = sorted(
        (i, sent, s, e, surf, c)
        for i, t in enumerate(texts)
        for sent, s, e, surf, c in _ref_mentions(t.split(" "), gaz)
    )
    assert got == want
    assert len(got) >= 8  # the fixture really exercises multi-word hits


def test_detect_mentions_autoselect(spark, sf_dir):
    """Auto-select: a small dictionary list routes to the inline matcher
    and a large DataFrame routes to the broadcast path — both equal."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    entries = [(s, c) for s, c, _w in config.GAZETTEER]
    small = _collect(detect_mentions(docs, entries))
    gdf = spark.createDataFrame(entries, "surface string, tag string")
    forced_big = _collect(detect_mentions(docs, gdf, inline_threshold=1))
    assert small == forced_big == _collect(mentions_df(docs))


def test_bigdict_randomized_differential(spark):
    """Seeded fuzz: random corpora + random overlapping dictionaries,
    inline matcher vs broadcast path must agree exactly (spans, tags,
    surfaces, sentence ids) — including adversarial overlap chains and
    terminator tokens inside entities."""
    import random

    from ddaugner_spark.operators.bigdict import _levels
    from ddaugner_spark.operators.mentions import mentions_df as inline_df

    vocab = ["aa", "bb", "cc", "dd", "ee", "ff", config.SENT_TERM]
    for seed in range(4):
        rng = random.Random(1000 + seed)
        # dictionary: random 1..5-gram surfaces over the tiny vocab so
        # overlaps/fragments are dense; unique surfaces, one tag each
        entries = {}
        while len(entries) < 25:
            n = rng.randint(1, 5)
            s = " ".join(rng.choice(vocab) for _ in range(n))
            entries.setdefault(s, rng.choice(["PER", "LOC", "ORG"]))
        docs = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 40))))
            for i in range(30)
        ]
        ddf = spark.createDataFrame(docs, "doc_id long, text string")
        gdf = spark.createDataFrame(
            list(entries.items()), "surface string, tag string"
        )
        got_big = _collect(mentions_bigdict_df(ddf, gdf))
        got_inline = _collect(
            inline_df(ddf, levels=_levels(sorted(entries.items())))
        )
        assert got_big == got_inline, f"seed {seed} diverged"


def test_bigdict_plan_shape(spark):
    """Scale property pinned: detection is one map-only pass — the
    executed plan of ``mentions_bigdict_df`` has no Exchange and no
    join, so the corpus is never shuffled and the dictionary never
    joined (it ships with the tagger)."""
    docs = spark.createDataFrame(
        [(1, "hash join the spark")], "doc_id long, text string"
    )
    gaz = spark.createDataFrame(
        [(s, c) for s, c, _w in config.GAZETTEER], "surface string, tag string"
    )
    plan = mentions_bigdict_df(docs, gaz)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan, plan
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    # past the optimizer's InSet threshold (10 literals) each bucket's
    # first-token prefilter is a hash probe, not a linear IN/array scan
    lengths_firsts = [(1, [f"w{k}" for k in range(12)]), (2, [f"v{k}" for k in range(12)])]
    opt = candidate_windows(docs, lengths_firsts)._jdf.queryExecution().optimizedPlan()
    assert "INSET" in opt.toString(), opt.toString()
    # a bucket without first tokens spawns no windows (SQL has no `IN ()`)
    assert candidate_windows(docs, [(1, []), (2, ["hash"])]).count() == 1


def test_detect_mentions_duplicate_surface_consistent(spark):
    """A duplicate-surface gazetteer resolves to min(tag) on BOTH the
    inline and broadcast paths — the auto-selector never changes the
    answer for identical input (review finding, round 3)."""
    docs = spark.createDataFrame(
        [(1, "acme corp builds things")], "doc_id long, text string"
    )
    entries = [("acme corp", "ORG"), ("acme corp", "LOC")]
    small = _collect(detect_mentions(docs, entries))  # inline path
    gdf = spark.createDataFrame(entries, "surface string, tag string")
    big = _collect(detect_mentions(docs, gdf, inline_threshold=1))  # broadcast
    assert small == big == [(1, 0, 0, 1, "acme corp", "LOC")]  # min(tag)


def test_detect_mentions_null_surface(spark):
    """A null surface can never equal a window surface: both paths drop
    it and give the answer of the same dictionary without it (the
    broadcast path used to crash sorting a null entry length)."""
    docs = spark.createDataFrame(
        [(1, "acme corp hires spark people"), (2, "nothing here")],
        "doc_id long, text string",
    )
    entries = [("acme corp", "ORG"), ("spark", "PER"), (None, "LOC")]
    clean = _collect(detect_mentions(docs, entries[:2]))
    assert clean  # the fixture really has hits
    inline = _collect(detect_mentions(docs, entries))
    gdf = spark.createDataFrame(entries, "surface string, tag string")
    big = _collect(detect_mentions(docs, gdf, inline_threshold=1))
    assert inline == big == clean == _collect(mentions_bigdict_df(docs, gdf))


#: tokens that a SQL-text prefilter could misparse: quotes of every
#: kind, backslashes (which ``spark.sql.parser.escapedStringLiterals``
#: reinterprets), LIKE wildcards, an escape sequence spelled out, a
#: SQL-injection fragment, non-ASCII, and the empty token of a
#: double-spaced surface
_ADVERSARIAL = [
    "it's", "back\\slash", "\\'", "')", "%_", "\\u0041", "`b`", '"q"',
    "日本", "OR", "(1=1",
]


def test_bigdict_adversarial_tokens_under_both_parser_modes(spark):
    """First tokens that are quotes, backslashes and SQL fragments must
    match exactly as the Python reference does, under both settings of
    ``spark.sql.parser.escapedStringLiterals``; every length bucket has
    more than 10 first tokens, so the prefilter runs as an InSet."""
    gaz = {}
    for k, a in enumerate(_ADVERSARIAL + ["w0", "w1"]):
        gaz[a] = "PER"
        gaz[f"{a} tail{k % 3}"] = "LOC"
        gaz[f"{a} mid {a}"] = "ORG"
    gaz["') OR (1=1"] = "MISC"
    gaz["日本 語"] = "LOC"
    gaz["beta  gamma"] = "ORG"
    texts = [
        "it's back\\slash \\' ') %_ \\u0041 `b` \"q\" 日本 OR (1=1",
        "x ') OR (1=1 y 日本 語 z beta  gamma end",
        "it's tail0 it's mid it's back\\slash tail1 `b` mid `b`",
        f"\\' tail2 {config.SENT_TERM} \"q\" mid \"q\" %_ tail1 A \\u0041",
        # near misses: what a mis-escaped literal would have matched
        "it\\'s back\\\\slash ' \\\\' u0041 b q % _ beta gamma 日本語",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    gdf = spark.createDataFrame(list(gaz.items()), "surface string, tag string")
    want = sorted(
        (i, sent, s, e, surf, c)
        for i, t in enumerate(texts)
        for sent, s, e, surf, c in _ref_mentions(t.split(" "), gaz)
    )
    assert len(want) >= 15  # every adversarial token really hits
    key = "spark.sql.parser.escapedStringLiterals"
    before = spark.conf.get(key)
    try:
        for mode in ("false", "true"):
            spark.conf.set(key, mode)
            assert _collect(mentions_bigdict_df(docs, gdf)) == want, mode
    finally:
        spark.conf.set(key, before)


def test_window_structs_build_cost_constant_in_dictionary(spark, monkeypatch):
    """Building the prefilter costs the same number of py4j commands for
    100 and for 10,000 first tokens per bucket: no per-literal JVM call
    (``Column.isin`` made one ``lit`` call per first token)."""
    from pyspark import SparkContext
    from py4j.protocol import MEMORY_COMMAND_NAME

    client = SparkContext._gateway._gateway_client

    def n_commands(n_firsts: int) -> int:
        lengths_firsts = [
            (m, [f"t{m}_{k}" for k in range(n_firsts)]) for m in (1, 2, 3)
        ]
        sent = []
        real = client.send_command

        def counting(command, *args, **kwargs):
            # object releases from Python's GC ride the same channel at
            # arbitrary times; they are not plan-building calls
            if not command.startswith(MEMORY_COMMAND_NAME):
                sent.append(command)
            return real(command, *args, **kwargs)

        with monkeypatch.context() as mp:
            mp.setattr(client, "send_command", counting)
            _window_structs(lengths_firsts)
        return len(sent)

    small, large = n_commands(100), n_commands(10_000)
    assert small == large, (small, large)


def test_bigdict_kernel_across_arrow_batches(spark):
    """The tagger pass vs the Python reference port when the dictionary
    collect and the documents both span several Arrow batches, with a
    null-text and an empty-text document (no mentions, no failure)."""
    gaz = {}
    for i in range(300):
        gaz[f"n{i}"] = ("PER", "LOC", "ORG")[i % 3]
        gaz[f"n{i} s{i % 7}"] = "LOC"
        gaz[f"p{i} of q{i % 5}"] = "ORG"
    texts = [
        f"n{i} s{i % 7} x n{i + 1} p{i} of q{i % 5} {config.SENT_TERM} n{i * 3}"
        for i in range(40)
    ]
    rows = [(i, t) for i, t in enumerate(texts)] + [(100, None), (101, "")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    gdf = spark.createDataFrame(list(gaz.items()), "surface string, tag string")
    want = sorted(
        (i, sent, s, e, surf, c)
        for i, t in enumerate(texts)
        for sent, s, e, surf, c in _ref_mentions(t.split(" "), gaz)
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "7")
        got = _collect(mentions_bigdict_df(docs, gdf))
        got_off = _collect(mentions_bigdict_df(docs, gdf, prefilter=False))
    finally:
        spark.conf.set(key, before)
    assert len(want) >= 100  # every document really has hits
    assert got == got_off == want


def test_detect_mentions_one_dictionary_collect(spark, jobs_started):
    """``detect_mentions`` over a dictionary DataFrame starts only the
    jobs of ONE deduped dictionary collect before its result runs; the
    inline-vs-tagger choice reads that collect (no separate head job,
    no second dedup under a join), and the list path starts none."""
    docs = spark.createDataFrame(
        [(1, "acme corp hires spark people")], "doc_id long, text string"
    )
    entries = [(f"name{k}", "PER") for k in range(200)] + [("acme corp", "ORG")]
    gdf = spark.createDataFrame(entries, "surface string, tag string")
    one_collect = jobs_started(
        lambda: gdf.groupBy("surface").agg(F.min("tag")).toPandas()
    )[1]
    m, n = jobs_started(lambda: detect_mentions(docs, gdf))
    assert 1 <= n <= one_collect, (n, one_collect)
    assert _collect(m) == [(1, 0, 0, 1, "acme corp", "ORG")]
    m_list, n_list = jobs_started(lambda: detect_mentions(docs, entries))
    assert n_list == 0
    assert _collect(m_list) == _collect(m)
    # the inline branch takes its entries from the same collect
    small = gdf.where(F.col("surface") == "acme corp")
    m_inline, n_inline = jobs_started(lambda: detect_mentions(docs, small))
    assert n_inline <= one_collect
    assert _collect(m_inline) == _collect(m)
