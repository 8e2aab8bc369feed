"""Dictionary-augmented mention detection (the ddaugNER core, Spark-first).

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

Scale design: everything here is **narrow** — per-row array expressions
(``filter``/``transform``/``aggregate`` higher-order functions) that stay
inside whole-stage codegen.  There is *no shuffle and no Python* in mention
detection: a 100 TB pages scan streams through map-only stages, and the
gazetteer never leaves the closure (it is inlined as literal arrays; a
dictionary too big to inline goes to :mod:`.bigdict`'s map-only Arrow
tagger pass instead).

The reference's sequential window scan is an ``F.aggregate`` fold over
the candidate array sorted by (n desc, start asc) — the exact pass order
of fix_ner.py's nested loops.  Candidates are sparse (dictionary hits
only), so the fold is O(c) steps of O(n_tokens) work per document.
Complexity note: per-doc work is O(c·n); tagging is intended to run on
sentence-bounded rows at crawl scale (re-segment with
operators/sentences.py first — the reference also tags per sentence), so
the quadratic-ish terms stay trivially small.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import config


#: Plan-construction cache.  Building the inlined-gazetteer expression
#: tree costs thousands of py4j round-trips (~3-8 s of driver time per
#: call — profiled: 8.7k socket round-trips, 86% of ``mentions_df``'s
#: build wall).  The tree is a pure function of the level config and
#: references only the ``tokens``/``n_tokens`` columns, so the
#: unresolved Column is built once per JVM gateway and reused across
#: DataFrames and queries.  Keys are content-based (so callers passing
#: custom ``levels`` or monkeypatching ``config.GAZ_LEVELS`` resolve
#: correctly); values carry the gateway object so a JVM restart — which
#: invalidates every Column — misses the cache instead of returning a
#: dead reference.
_EXPR_CACHE: dict[tuple, tuple[object, Column]] = {}


def _expr_cached(kind: str, levels, build) -> Column:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    key = (
        kind,
        tuple((lvl, tuple(entries)) for lvl, entries in sorted(levels.items())),
    )
    hit = _EXPR_CACHE.get(key)
    if hit is not None and hit[0] is gw:
        return hit[1]
    col = build()
    _EXPR_CACHE[key] = (gw, col)
    return col


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


def _candidates(levels: dict[int, list[tuple[str, str]]] | None = None) -> Column:
    """array<struct<start int, n int, tag string>> — every gazetteer window
    hit, all levels.  One `filter` per dictionary length bucket; the
    gazetteer is inlined as literal arrays (for dictionaries too large
    to inline, operators/bigdict.py runs the same pass as one Arrow
    tagger pass).

    The array is already in the reference's pass order: n desc, then
    start asc (fix_ner.py:201 outer loop 5..1, inner loop left-to-
    right).  The levels iterate n descending and ``filter`` preserves
    position order within a level, so no sort is needed (pinned by
    test_candidates_are_in_pass_order); a comparator array_sort
    measurably slowed the whole stage (interpreted per-comparison
    lambdas)."""
    if levels is None:
        levels = config.GAZ_LEVELS
    n = F.col("n_tokens")

    def _entry_match(i: Column, words: list[str]) -> Column:
        """Window == entry, as pure element_at equality — NO slice/join
        allocation per checked position (the interpreted HOF evaluator
        allocates per expression node; string building per window was the
        dominant allocation source and capped 8→32-core scaling at ~0.73;
        elementwise compares are allocation-free).  Positions come from
        _seq(n, lvl) so every element_at index is in range (ANSI-safe)."""
        cond = _tok(i) == words[0]
        for j, w in enumerate(words[1:], start=1):
            cond = cond & (_tok(i + F.lit(j)) == w)
        return cond

    def _hit_filter(lvl: int, entries: list[tuple[str, str]]):
        firsts = sorted({s.split(" ")[0] for s, _c in entries})
        if lvl == 1:
            return lambda i: _tok(i).isin(firsts)
        split = [s.split(" ") for s, _c in entries]

        def f(i):
            cond = None
            for words in split:
                m = _entry_match(i, words)
                cond = m if cond is None else cond | m
            # first-token prefilter short-circuits the per-entry compares
            return _tok(i).isin(firsts) & cond

        return f

    def _mk_struct(lvl: int, entries: list[tuple[str, str]]):
        classes = sorted({c for _s, c in entries})

        def mk(i):
            tag = None
            for c in classes:
                c_entries = [s.split(" ") for s, cc in entries if cc == c]
                cond = None
                for words in c_entries:
                    m = _entry_match(i, words)
                    cond = m if cond is None else cond | m
                tag = F.when(cond, F.lit(c)) if tag is None else tag.when(cond, F.lit(c))
            return F.struct(
                i.cast("int").alias("start"), F.lit(lvl).alias("n"), tag.alias("tag")
            )

        return mk

    per_level = []
    for lvl, entries in sorted(levels.items(), reverse=True):
        hits = F.filter(_seq(n, lvl), _hit_filter(lvl, entries))
        per_level.append(F.transform(hits, _mk_struct(lvl, entries)))
    return per_level[0] if len(per_level) == 1 else F.concat(*per_level)


def _fold_tags(cands: Column | None = None) -> Column:
    """Final BIO tags array: fold the (pass-ordered) candidates over an
    all-'O' array, applying a window iff it covers ≥1 'O', overwriting
    the whole window on apply.  ``cands`` may be a lambda variable
    (let-bound candidate array) — defaults to the inline expression.

    The ``any(tag == "O")`` guard (fix_ner.py:205-213) reads tags through
    a lazy ``more_itertools.windowed`` iterator over the list ``fix()``
    mutates in place: within one level every position is read exactly
    once, BEFORE any same-level fix can touch it, so the guard evaluates
    against the LEVEL-START snapshot while writes land live (same
    lazy-read timing as the lowercase-PER pass in operators/aliases.py;
    equivalence fuzz-proven in tests/test_gazetteer_general.py).  The
    accumulator therefore carries (live tags, level-start snapshot,
    current level); the snapshot refreshes whenever the candidate level
    changes — candidates arrive level-grouped (n desc, start asc).

    The default (inline-candidates) form is memoized per level config
    (see _EXPR_CACHE); lambda-variable ``cands`` forms are caller-scoped
    and never cached."""
    if cands is None:
        return _expr_cached(
            "fold",
            config.GAZ_LEVELS,
            lambda: _fold_tags(_candidates()),
        )
    n = F.col("n_tokens")
    all_o = F.transform(_seq(n, 1), lambda i: F.lit("O"))
    init = F.struct(
        all_o.alias("tags"), all_o.alias("snap"), F.lit(0).alias("lvl")
    )

    def merge(acc, c):
        snap = F.when(c["n"] != acc["lvl"], acc["tags"]).otherwise(acc["snap"])
        covered = F.slice(snap, c["start"] + F.lit(1), c["n"])
        applies = F.exists(covered, lambda t: t == F.lit("O"))
        rewritten = F.transform(
            acc["tags"],
            lambda t, i: F.when(
                (i >= c["start"]) & (i < c["start"] + c["n"]),
                F.when(i == c["start"], F.concat(F.lit("B-"), c["tag"])).otherwise(
                    F.concat(F.lit("I-"), c["tag"])
                ),
            ).otherwise(t),
        )
        return F.struct(
            F.when(applies, rewritten).otherwise(acc["tags"]).alias("tags"),
            snap.alias("snap"),
            c["n"].alias("lvl"),
        )

    return F.aggregate(cands, init, merge, lambda acc: acc["tags"])


def _fast_spans(cands: Column) -> Column:
    """Span array when no two candidates overlap: every window applies
    and IS a span — no fold, no decode.  Same struct type as
    _decode_spans' output."""
    return F.transform(
        cands,
        lambda c: F.struct(
            c["start"].cast("long").alias("start_idx"),
            (c["start"] + c["n"] - 1).cast("long").alias("end_idx"),
            F.array_join(
                F.slice(F.col("tokens"), (c["start"] + 1).cast("int"), c["n"]), " "
            ).alias("surface"),
            c["tag"].alias("tag"),
        ),
    )


def _has_overlap(cands: Column) -> Column:
    """Any two distinct candidate windows intersect (O(c²), c = dictionary
    hits per doc — sparse)."""
    return F.exists(
        cands,
        lambda a: F.exists(
            cands,
            lambda b: ((b["start"] != a["start"]) | (b["n"] != a["n"]))
            & (b["start"] <= a["start"] + a["n"] - 1)
            & (a["start"] <= b["start"] + b["n"] - 1),
        ),
    )


def spans_expr(levels: dict[int, list[tuple[str, str]]] | None = None) -> Column:
    """array<struct<start_idx, end_idx, surface, tag>> mention spans.

    The candidate array is LET-BOUND (single-element-array transform) so
    it is evaluated once per row; the common no-overlap case takes the
    direct candidates→spans path, and only rows with overlapping windows
    run the sequential fold + BIO decode (CaseWhen evaluates one branch
    per row).  Measured ~4× over always-folding at sf0.1.

    The built Column is memoized per level config (see _EXPR_CACHE)."""
    if levels is None:
        levels = config.GAZ_LEVELS

    def build() -> Column:
        z = F.array(F.struct(_candidates(levels).alias("cs")))
        return F.element_at(
            F.transform(
                z,
                lambda zz: F.when(
                    _has_overlap(zz["cs"]), _decode_spans(_fold_tags(zz["cs"]))
                ).otherwise(_fast_spans(zz["cs"])),
            ),
            1,
        )

    return _expr_cached("spans", levels, build)


def _decode_spans(tags: Column, n: Column | None = None) -> Column:
    """array<struct<start_idx long, end_idx long, surface string,
    tag string>> — BIO-run decoding with the reference decoder semantics
    (utils.py:111-166): any ``I-`` extends an open run (class from the
    opening tag); an orphan ``I-`` opens a run (resolve_inconsistencies).

    Single fold over (tag, position) pairs; ``tags`` is consumed exactly
    once (zip_with) so the tag fold is not re-evaluated per element.
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
    semantics).  All narrow expressions.

    Deliberately does NOT also attach the decoded span array: carrying
    the fold through a chain of named columns defeats Catalyst's
    project-collapse/pruning around Generate and re-evaluates the fold
    ~4× (measured 11.7s vs 2.7s at sf0.1) — span consumers build
    ``_decode_spans(_fold_tags())`` inline instead (mentions_df,
    triples_map_only)."""
    return with_tokens(docs).withColumn("tags", _fold_tags())


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
    """
    df = with_tokens(docs)
    exploded = df.select(
        F.col(id_col).alias("doc_id"),
        F.col("tokens"),
        F.explode(spans_expr(levels)).alias("m"),
    )
    return exploded.select(
        "doc_id",
        sent_id_at(F.col("m.start_idx")).alias("sent_id"),
        F.col("m.start_idx").alias("start_idx"),
        F.col("m.end_idx").alias("end_idx"),
        F.col("m.surface").alias("surface"),
        F.col("m.tag").alias("tag"),
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
