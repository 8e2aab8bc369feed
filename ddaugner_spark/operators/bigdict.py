"""Broadcast-join n-gram mention detector for LARGE gazetteers (J1 at scale).

The inline matcher (operators/mentions.py) compiles every dictionary
entry into literal column expressions — ideal for small dictionaries
(zero shuffle, zero join), but the expression tree and generated code
grow with |dictionary|; the reference's real gazetteers are far past
that point (CoNLL PER alone is 3,528 names,
/root/reference/ddaugner/resources/conll_entities.py:7-26; Elder
Scrolls 22,748 first names, the_elder_scrolls.py:8-85).  This module
reproduces the same fix_ner.py:195-215 semantics with the dictionary as
DATA instead of code:

1. per doc (one narrow pass, still map-only): build candidate windows
   only at positions whose first token is in the dictionary's
   first-token set, PER LENGTH BUCKET — one SQL ``IN`` per distinct
   entry length, built by a single ``F.expr`` call with the first
   tokens as hex UTF-8 literals (no per-literal py4j calls, no token
   text in the SQL), each compiled to an InSet node whose payload is a
   hash set, so the PLAN and its driver-side build stay constant-size
   regardless of |dictionary| and a length bucket with rare first
   tokens spawns no windows at positions that could only match another
   bucket;
2. explode the (sparse) windows and BROADCAST HASH JOIN on the window
   surface against the (surface, tag) dictionary DataFrame — the only
   place the dictionary appears; dimension-sized, never shuffled;
3. group the HITS by doc — the one exchange, sized by dictionary hits,
   NOT by the corpus — and replay the reference pass order (n desc,
   start asc) with the same ≥1-still-'O' overwrite fold as the inline
   matcher, but over sparse candidates only: a window only ever matches
   its own text, so fragment surfaces, tokens, and sentence ids are all
   reconstructed from the dictionary entry plus per-window terminator
   positions captured at window-build time — the corpus is never
   rescanned or reshuffled.

At 100 TB: stage 1-2 stream through the scan with no exchange; the
stage-3 shuffle moves only (doc_id, hit) rows — for web text with a
30k-name dictionary that is orders of magnitude below the corpus size.
Differential-tested against the inline matcher (identical output on the
shared dictionary, tests/test_bigdict.py) and against a generated
30k-entry dictionary.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import config
from .mentions import _seq, _tok, mentions_df, with_tokens

#: candidate struct: nn = (max dictionary n − wn) so the default struct
#: ordering of array_sort gives the reference pass order (n desc, start
#: asc); wterm = sentence-terminator positions inside the window
#: (absolute), sent_start = sentence id of the window's first token.
_CAND_DDL = (
    "struct<nn:int,start:int,wn:int,tag:string,surface:string,"
    "sent_start:bigint,wterm:array<int>>"
)
_SPAN_DDL = (
    "array<struct<start_idx:bigint,end_idx:bigint,surface:string,"
    "tag:string,sent_id:bigint>>"
)


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
    prefilters: a length-m window is built at position i only when
    tokens[i] is in the first-token set of the length-m dictionary
    bucket — one ``F.expr`` per distinct length
    (:func:`_first_token_starts`), compiled to one InSet probe, so both
    the plan and its driver-side build cost stay constant in
    |dictionary| while buckets with rare first tokens (the common
    real-dictionary shape: tens of thousands of unigram names, a handful
    of multi-word entries) spawn no windows at positions that could only
    ever match another bucket.  ``term_pos`` is LET-BOUND
    (single-element-array transform) so it is not re-evaluated per
    window (no CSE inside lambdas).

    ``prefilter=False`` builds windows at EVERY position (the broadcast
    join then filters) — kept as the bench A/B arm so the prefilter's
    cost/benefit stays measured, not asserted (VERDICT r4 #3)."""
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


def _has_overlap(cs: Column) -> Column:
    """Any two distinct candidate windows intersect (O(c²) over sparse
    dictionary hits)."""
    return F.exists(
        cs,
        lambda a: F.exists(
            cs,
            lambda b: ((b["start"] != a["start"]) | (b["wn"] != a["wn"]))
            & (b["start"] <= a["start"] + a["wn"] - 1)
            & (a["start"] <= b["start"] + b["wn"] - 1),
        ),
    )


def _fast_spans(cs: Column) -> Column:
    """No two candidates overlap → every window applies and IS a span."""
    return F.transform(
        cs,
        lambda c: F.struct(
            c["start"].cast("long").alias("start_idx"),
            (c["start"] + c["wn"] - 1).cast("long").alias("end_idx"),
            c["surface"].alias("surface"),
            c["tag"].alias("tag"),
            c["sent_start"].alias("sent_id"),
        ),
    )


def _applied_windows(cs: Column) -> Column:
    """Replay of the reference fold over sparse candidates: in pass
    order, a window applies iff ≥1 of its positions was still 'O' at
    the START of its level (fix_ner.py:205-213's ``any(tag == "O")``
    guard reads tags through the lazy ``windowed`` iterator, so within
    a level every read precedes every same-level write — level-start
    snapshot semantics, same timing as operators/mentions._fold_tags).
    Overwrites never write 'O', so a position is non-'O' in the
    level-start snapshot exactly when an applied window of a STRICTLY
    EARLIER level (larger ``wn``) covers it — same-level applied
    windows don't block."""
    init = F.array().cast(f"array<{_CAND_DDL}>")

    def merge(acc, c):
        applies = F.exists(
            F.sequence(c["start"], c["start"] + c["wn"] - 1),
            lambda p: ~F.exists(
                acc,
                lambda w: (w["wn"] > c["wn"])
                & (p >= w["start"])
                & (p <= w["start"] + w["wn"] - 1),
            ),
        )
        return F.when(applies, F.concat(acc, F.array(c))).otherwise(acc)

    return F.aggregate(cs, init, merge)


def _slow_spans(ap: Column) -> Column:
    """Decode the final BIO stream implied by the applied windows —
    WITHOUT a tags array over the whole doc: the tag at a covered
    position comes from the LAST applied window covering it (the
    reference's ``fix()`` list assignment), uncovered positions are 'O'
    (= gaps), and runs merge across fragments exactly like the
    reference decoder (utils.py:111-166: any I- extends an open run;
    an orphan I- opens one).  Tokens and sentence ids come from the
    owning window itself."""
    covered = F.array_sort(
        F.array_distinct(
            F.flatten(
                F.transform(
                    ap, lambda w: F.sequence(w["start"], w["start"] + w["wn"] - 1)
                )
            )
        )
    )

    def pair_at(p):
        # last applied window covering p (application order = array order)
        own = F.aggregate(
            ap,
            F.lit(None).cast(_CAND_DDL),
            lambda b, w: F.when(
                (p >= w["start"]) & (p <= w["start"] + w["wn"] - 1), w
            ).otherwise(b),
        )
        # let-bind the owner so its fields don't re-run the aggregate
        q = F.array(F.struct(own.alias("w")))
        return F.element_at(
            F.transform(
                q,
                lambda qq: F.struct(
                    p.cast("long").alias("p"),
                    (p == qq["w"]["start"]).alias("isB"),
                    qq["w"]["tag"].alias("cls"),
                    F.element_at(
                        F.split(qq["w"]["surface"], " "),
                        (p - qq["w"]["start"] + 1).cast("int"),
                    ).alias("tok"),
                    (
                        qq["w"]["sent_start"]
                        + F.size(F.filter(qq["w"]["wterm"], lambda t: t < p))
                    ).alias("sent"),
                ),
            ),
            1,
        )

    pairs = F.transform(covered, pair_at)

    init = F.struct(
        F.array().cast(_SPAN_DDL).alias("spans"),
        F.lit(None).cast("bigint").alias("cur_start"),
        F.lit(None).cast("string").alias("cur_cls"),
        F.lit(None).cast("bigint").alias("cur_sent"),
        F.lit(None).cast("string").alias("cur_toks"),
        F.lit(None).cast("bigint").alias("prev_p"),
    )

    def merge(acc, x):
        gap = acc["prev_p"].isNotNull() & (x["p"] > acc["prev_p"] + 1)
        close = acc["cur_start"].isNotNull() & (gap | x["isB"])
        closed = F.when(
            close,
            F.concat(
                acc["spans"],
                F.array(
                    F.struct(
                        acc["cur_start"].alias("start_idx"),
                        acc["prev_p"].alias("end_idx"),
                        acc["cur_toks"].alias("surface"),
                        acc["cur_cls"].alias("tag"),
                        acc["cur_sent"].alias("sent_id"),
                    )
                ),
            ),
        ).otherwise(acc["spans"])
        opening = close | acc["cur_start"].isNull()
        return F.struct(
            closed.alias("spans"),
            F.when(opening, x["p"]).otherwise(acc["cur_start"]).alias("cur_start"),
            F.when(opening, x["cls"]).otherwise(acc["cur_cls"]).alias("cur_cls"),
            F.when(opening, x["sent"]).otherwise(acc["cur_sent"]).alias("cur_sent"),
            F.when(opening, x["tok"])
            .otherwise(F.concat(acc["cur_toks"], F.lit(" "), x["tok"]))
            .alias("cur_toks"),
            x["p"].alias("prev_p"),
        )

    def finish(acc):
        return F.when(
            acc["cur_start"].isNotNull(),
            F.concat(
                acc["spans"],
                F.array(
                    F.struct(
                        acc["cur_start"].alias("start_idx"),
                        acc["prev_p"].alias("end_idx"),
                        acc["cur_toks"].alias("surface"),
                        acc["cur_cls"].alias("tag"),
                        acc["cur_sent"].alias("sent_id"),
                    )
                ),
            ),
        ).otherwise(acc["spans"])

    return F.aggregate(pairs, init, merge, finish)


def dict_meta(gazetteer: DataFrame):
    """(deduped gazetteer, [(entry_length, sorted first tokens)]) — the
    driver-side dictionary summary the window builder compiles into its
    per-length InSet prefilters.  One collect over |dictionary| rows
    (dimension-sized); exposed so the bench can time the build and
    count candidate windows per prefilter arm (VERDICT r4 #3).  Null
    surfaces are dropped: they can never equal a window surface."""
    gaz = (
        gazetteer.where(F.col("surface").isNotNull())
        .groupBy("surface")
        .agg(F.min("tag").alias("tag"))
    )
    meta = (
        gaz.select(
            F.split(F.col("surface"), " ").getItem(0).alias("ft"),
            F.size(F.split(F.col("surface"), " ")).alias("wn"),
        )
        .groupBy("wn")
        .agg(F.collect_set("ft").alias("fts"))
        .collect()
    )
    return gaz, sorted((r["wn"], sorted(r["fts"])) for r in meta)


def candidate_windows(
    docs: DataFrame,
    lengths_firsts: list[tuple[int, list[str]]],
    id_col: str = "doc_id",
    prefilter: bool = True,
) -> DataFrame:
    """Exploded pre-join candidate windows (bench diagnostic: how many
    windows reach the broadcast join per prefilter arm)."""
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
    output to :func:`mentions.mentions_df` for the same dictionary, via
    the broadcast-join formulation.

    ``gazetteer``: (surface, tag) DataFrame; surfaces must map to ONE
    tag (duplicates are resolved deterministically by min tag — the
    reference dictionaries are maps, so this is a guard, not a path).

    ``prefilter=False`` disables the per-length first-token window
    prefilter (bench A/B arm; output identical either way — the
    broadcast join rejects every non-dictionary window)."""
    gaz, lengths_firsts = dict_meta(gazetteer)
    if not lengths_firsts:  # empty dictionary → no mentions
        return docs.sparkSession.createDataFrame(
            [],
            "doc_id long, sent_id long, start_idx long, end_idx long,"
            " surface string, tag string",
        )
    max_n = max(m for m, _f in lengths_firsts)

    windows = candidate_windows(docs, lengths_firsts, id_col, prefilter)
    cands = windows.select(
        "doc_id",
        F.col("w.start").alias("start"),
        F.col("w.wn").alias("wn"),
        F.col("w.surface").alias("surface"),
        F.col("w.sent_start").alias("sent_start"),
        F.col("w.wterm").alias("wterm"),
    ).join(F.broadcast(gaz), "surface")

    grouped = cands.groupBy("doc_id").agg(
        F.collect_list(
            F.struct(
                (F.lit(max_n) - F.col("wn")).cast("int").alias("nn"),
                F.col("start"),
                F.col("wn"),
                F.col("tag"),
                F.col("surface"),
                F.col("sent_start"),
                F.col("wterm"),
            )
        ).alias("cands")
    )

    # let-bind the pass-ordered candidate array; no-overlap rows skip
    # the fold entirely (same fast/slow split as the inline matcher)
    z = F.array(F.struct(F.array_sort(F.col("cands")).alias("cs")))
    spans = F.element_at(
        F.transform(
            z,
            lambda zz: F.when(
                _has_overlap(zz["cs"]), _slow_spans(_applied_windows(zz["cs"]))
            ).otherwise(_fast_spans(zz["cs"])),
        ),
        1,
    )
    return grouped.select("doc_id", F.explode(spans).alias("m")).select(
        "doc_id",
        F.col("m.sent_id").alias("sent_id"),
        F.col("m.start_idx").alias("start_idx"),
        F.col("m.end_idx").alias("end_idx"),
        F.col("m.surface").alias("surface"),
        F.col("m.tag").alias("tag"),
    )


def _levels(entries: list[tuple[str, str]]) -> dict[int, list[tuple[str, str]]]:
    lv: dict[int, list[tuple[str, str]]] = {}
    for s, c in entries:
        lv.setdefault(len(s.split(" ")), []).append((s, c))
    return dict(sorted(lv.items(), reverse=True))


def _dedup_entries(entries) -> list[tuple[str, str]]:
    """One tag per surface, resolved deterministically by MIN tag — the
    same rule mentions_bigdict_df applies, so the auto-selected path
    never changes the answer for a duplicate-surface dictionary.  Null
    surfaces are dropped, as :func:`dict_meta` drops them."""
    d: dict[str, str] = {}
    for s, c in entries:
        if s is not None:
            d[s] = c if s not in d else min(d[s], c)
    return sorted(d.items())


def detect_mentions(
    docs: DataFrame,
    gazetteer,
    id_col: str = "doc_id",
    inline_threshold: int = 64,
) -> DataFrame:
    """Auto-select the matcher by dictionary size: ≤ ``inline_threshold``
    entries inline as literal expressions (zero shuffle, zero join);
    larger dictionaries take the broadcast-join path.  ``gazetteer`` is
    either a list of (surface, tag) pairs or a (surface, tag) DataFrame.
    Duplicate surfaces resolve to min(tag) on BOTH paths, and null
    surfaces are dropped on both (they can never match a window)."""
    if isinstance(gazetteer, DataFrame):
        # one job decides the branch AND provides the inline entries
        head = gazetteer.select("surface", "tag").limit(inline_threshold + 1).collect()
        if len(head) <= inline_threshold:
            entries = _dedup_entries((r["surface"], r["tag"]) for r in head)
            return mentions_df(docs, id_col, levels=_levels(entries))
        return mentions_bigdict_df(docs, gazetteer, id_col)
    entries = _dedup_entries((s, c) for s, c in gazetteer)
    if len(entries) <= inline_threshold:
        return mentions_df(docs, id_col, levels=_levels(entries))
    gdf = docs.sparkSession.createDataFrame(entries, "surface string, tag string")
    return mentions_bigdict_df(docs, gdf, id_col)
