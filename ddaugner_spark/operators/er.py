"""Entity-resolution blocking + edit-distance matching — the surface-
form merge step between mention detection and graph canonicalization.

A web-scale crawl yields the same entity under near-identical surface
forms (typos, OCR noise, inflection): ``spark``/``sark``,
``customer``/``custmer``.  Treating each spelling as its own node
fragments the KG; an all-pairs string comparison is O(V²) and dead at a
10^9-surface vocabulary.  The classical fix (Fellegi-Sunter style
blocking, as in Dedupe/JedAI/Magellan) is what this module lifts to
DataFrames:

1. :func:`er_candidate_pairs` — BLOCK on ``(tag, first character)``,
   self-join inside blocks only, cheap length prefilter BEFORE the
   edit-distance evaluation, then ``levenshtein ≤ max_dist``.
2. feed the surviving pairs to
   :func:`~ddaugner_spark.operators.canonical.connected_components`
   (min-member component labels) → a ``surface → canonical surface``
   rewrite map, broadcast back over mentions/triples.

Scale notes: the self-join runs on the DISTINCT-SURFACE table (the
vocabulary, ~10^6-10^8 rows — orders of magnitude below the mention
table), shuffled once on the block key; block sizes are bounded by the
key's selectivity (tag × alphabet here; production adds a length bucket
or a phonetic key to split hot blocks, same plan shape).  Levenshtein
is evaluated ONLY on pairs that survive the length prefilter — the
length band is checked as plain integer arithmetic inside the join
stage, so the O(len²) distance never runs on obviously-far pairs.

Reference contract: the gazetteer's alias/rename machinery
(fix_ner.py:117-166, aliases applied by exact surface) assumes a
pre-merged surface vocabulary; this operator is the corpus-scale step
that produces such a vocabulary from noisy text.  Engine-portable:
DuckDB has the identical ``levenshtein`` (verified: standard edit
distance, 'kitten'→'sitting' = 3 on both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ddaugner_spark.plans.materialize import cut, scratch_dir


def distinct_surfaces(
    mentions: DataFrame, surface_col: str = "surface", tag_col: str = "tag"
) -> DataFrame:
    """(surface, tag, n_mentions) — the vocabulary table the pairwise
    stage runs on.  One partial-aggregable groupBy; everything
    downstream of this line is vocabulary-sized, not corpus-sized."""
    return mentions.groupBy(
        F.col(surface_col).alias("surface"), F.col(tag_col).alias("tag")
    ).agg(F.count(F.lit(1)).alias("n_mentions"))


def with_typo_surfaces(surfaces: DataFrame) -> DataFrame:
    """Deterministic noise amplifier for tests/benchmarks: for every
    surface of length ≥ 4, union a delete-second-character variant
    (``spark`` → ``sark``) with 1 mention — edit distance exactly 1,
    same first character, so each variant lands in its original's block.
    Pure column expressions; no randomness (variant existence is a
    function of the surface itself)."""
    variants = (
        surfaces.filter(F.length("surface") >= 4)
        .select(
            F.concat(
                F.substring("surface", 1, 1), F.expr("substring(surface, 3)")
            ).alias("surface"),
            "tag",
            F.lit(1).alias("n_mentions"),
        )
    )
    return (
        surfaces.unionByName(variants)
        .groupBy("surface", "tag")
        .agg(F.sum("n_mentions").alias("n_mentions"))
    )


def er_candidate_pairs(
    surfaces: DataFrame, max_dist: int = 2
) -> DataFrame:
    """(tag, a, b, dist) — candidate duplicate-surface pairs with
    ``a < b`` (no self/mirror pairs), blocked on ``(tag, lower first
    char)``, length difference ≤ ``max_dist`` (a provable lower bound
    on edit distance — checked BEFORE levenshtein runs), and
    ``levenshtein(a, b) ≤ max_dist``.

    The join is an equi-join on the block key (hash-partitionable; NOT
    a crossJoin), with the length band and the distance as post-join
    filters Catalyst evaluates inside the join stage.
    """
    lhs = surfaces.select(
        "tag",
        F.lower(F.substring("surface", 1, 1)).alias("blk"),
        F.col("surface").alias("a"),
        F.length("surface").alias("la"),
    )
    rhs = surfaces.select(
        "tag",
        F.lower(F.substring("surface", 1, 1)).alias("blk"),
        F.col("surface").alias("b"),
        F.length("surface").alias("lb"),
    )
    pairs = lhs.join(rhs, ["tag", "blk"]).filter(
        (F.col("a") < F.col("b"))
        & (F.abs(F.col("la") - F.col("lb")) <= max_dist)
    )
    return pairs.select(
        "tag",
        "a",
        "b",
        F.levenshtein("a", "b").alias("dist"),
    ).filter(F.col("dist") <= max_dist)


def resolve_surfaces(pairs: DataFrame, stage_dir: str) -> DataFrame:
    """ER pairs → (surface, canonical, is_alias): connected components
    over the pair graph (min-member labels, the same operator
    that canonicalizes near-dup document clusters), canonical = the
    lexicographically smallest surface of each cluster.  The CC runs on
    the PAIR graph (vocabulary-scale), never on mentions."""
    from ddaugner_spark.operators.canonical import connected_components

    edges = pairs.select("a", "b")
    comps = connected_components(edges, stage_dir=stage_dir)
    return comps.select(
        F.col("entity").alias("surface"),
        F.col("component").alias("canonical"),
        (F.col("entity") != F.col("component")).alias("is_alias"),
    )


def resolve_pronouns(
    docs: DataFrame, pronoun: str = "he", tag: str = "PER"
) -> DataFrame:
    """Coref-lite: resolve every ``pronoun`` token to the NEAREST
    PRECEDING mention of class ``tag`` in the same document — the
    recency heuristic that resolves the majority of third-person
    pronouns in news text (Hobbs 1978's baseline observation) and the
    minimum a KG extraction pass needs so pronoun-subject clauses
    attribute to the right entity.  Output: (doc_id, pron_pos,
    ant_start, antecedent); pronouns with no preceding mention drop
    (unresolvable).

    Scale shape: mentions and pronoun positions are both slim per-doc
    row sets; the candidate join is doc-keyed and its fan-out is
    (mentions/doc)·(pronouns/doc) — bounded by document length, not
    corpus size.  The argmax is max/max_by inside ONE hash aggregate
    (no per-doc window sort).  For pathological single-doc blowups the
    union-sort formulation (events + last-mention-carried-forward
    window) is the escape hatch; at normal doc lengths the join form
    is cheaper and AQE-coalesced.
    """
    from .mentions import mentions_df
    from .sentences import tokens_long

    ments = (
        mentions_df(docs)
        .filter(F.col("tag") == tag)
        .select("doc_id", "start_idx", "surface")
    )
    prons = (
        tokens_long(docs)
        .filter(F.col("tok") == pronoun)
        .select("doc_id", F.col("pos").cast("long").alias("pron_pos"))
    )
    return (
        prons.join(ments, "doc_id")
        .filter(F.col("start_idx") < F.col("pron_pos"))
        .groupBy("doc_id", "pron_pos")
        .agg(
            F.max("start_idx").cast("long").alias("ant_start"),
            F.max_by("surface", "start_idx").alias("antecedent"),
        )
    )


def golden_record(
    records: DataFrame,
    cluster: str = "cluster_id",
    ts: str = "ts",
    rid: str = "rid",
) -> DataFrame:
    """(cluster_id, name, nationkey, acctbal_c, n_records, n_names) —
    survivorship / golden-record merge over matched record clusters:
    per-field merge policies applied in ONE hash aggregate (the MDM
    step after entity resolution picks WHICH rows co-refer, this picks
    WHAT the merged entity says).

    Policies: ``name``/``nationkey`` = latest non-null (ts desc, rid
    desc tiebreak), ``acctbal_c`` = max, plus record/conflict counts.
    The latest-non-null argmax is a packed fixed-width
    ``lpad(ts)‖lpad(rid)`` key with the (variable-length) value as the
    SUFFIX of a plain string ``max`` — key uniqueness (rid) means the
    suffix never decides a comparison, and NULL fields simply drop out
    of the CASE, so no engine-specific max_by/arg_max NULL semantics
    are load-bearing.  One shuffle on the cluster key, map-side
    combined.
    """
    # width 20 holds any epoch-micros timestamp; lpad TRUNCATES inputs
    # wider than the pad (both engines), which would silently invert
    # the latest-non-null ordering — so the widths must dominate the
    # columns' value domains, not just the gate fixture's
    key = F.concat(
        F.lpad(F.col(ts).cast("string"), 20, "0"),
        F.lpad(F.col(rid).cast("string"), 12, "0"),
    )

    def latest(col: str):
        return F.substring(
            F.max(F.when(F.col(col).isNotNull(), F.concat(key, F.col(col).cast("string")))),
            33,
            256,
        )

    return records.groupBy(F.col(cluster).alias("cluster_id")).agg(
        latest("name").alias("name"),
        latest("nationkey").cast("long").alias("nationkey"),
        F.max("acctbal_c").cast("long").alias("acctbal_c"),
        F.count(F.lit(1)).cast("long").alias("n_records"),
        F.countDistinct("name").cast("long").alias("n_names"),
    )


def blocking_quality(
    surfaces: DataFrame, max_dist: int = 2, ndigits: int = 6
) -> DataFrame:
    """(tag, n_surfaces, n_truth, n_cand, n_hit, pc, rr) — the two
    numbers every blocking scheme is judged by (Christen 2012): pair
    completeness PC = |candidates ∩ truth| / |truth| (how many real
    matches survive blocking) and reduction ratio RR = 1 − |candidates|
    / C(n, 2) (how much of the quadratic pair space blocking prunes).

    Truth pairs come from the same deterministic noise amplifier the ER
    benchmark uses (with_typo_surfaces: delete-second-char variants,
    edit distance exactly 1, same block by construction), so PC is
    measurable without labels.  All counts are exact integers; PC and
    RR are each ONE division.  Scale shape: candidates via the blocked
    equi-join (er_candidate_pairs — never a crossJoin); truth is a
    map-only projection of the surface table; the metric aggregate is
    per-tag sized.
    """
    amp = with_typo_surfaces(surfaces)
    cand = er_candidate_pairs(amp, max_dist=max_dist).select(
        "tag",
        F.least("a", "b").alias("a"),
        F.greatest("a", "b").alias("b"),
    )
    variant = F.concat(
        F.substring("surface", 1, 1), F.expr("substring(surface, 3)")
    )
    truth = (
        surfaces.filter(F.length("surface") >= 4)
        .select(
            "tag",
            F.least(F.col("surface"), variant).alias("a"),
            F.greatest(F.col("surface"), variant).alias("b"),
        )
        .distinct()
    )
    n_surf = amp.groupBy("tag").agg(
        F.count(F.lit(1)).cast("long").alias("n_surfaces")
    )
    n_truth = truth.groupBy("tag").agg(
        F.count(F.lit(1)).cast("long").alias("n_truth")
    )
    n_cand = cand.groupBy("tag").agg(
        F.count(F.lit(1)).cast("long").alias("n_cand")
    )
    n_hit = (
        cand.join(truth, ["tag", "a", "b"])
        .groupBy("tag")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    )
    allpairs = F.expr("n_surfaces * (n_surfaces - 1) DIV 2")
    return (
        n_surf.join(n_truth, "tag", "left")
        .join(n_cand, "tag", "left")
        .join(n_hit, "tag", "left")
        .select(
            "tag",
            "n_surfaces",
            F.coalesce("n_truth", F.lit(0)).alias("n_truth"),
            F.coalesce("n_cand", F.lit(0)).alias("n_cand"),
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
        )
        .select(
            "*",
            F.when(
                F.col("n_truth") > 0,
                F.round(F.col("n_hit") / F.col("n_truth"), ndigits),
            ).otherwise(F.lit(-1.0)).alias("pc"),
            F.when(
                allpairs > 0,
                F.round(1.0 - F.col("n_cand") / allpairs, ndigits),
            ).otherwise(F.lit(-1.0)).alias("rr"),
        )
    )


def fellegi_sunter_weights(
    pairs: DataFrame,
    label: str,
    features: list[str],
    ndigits: int = 6,
) -> DataFrame:
    """Fellegi-Sunter match/non-match weight estimation from a labeled
    candidate-pair table: one row per comparison feature with
    ``(feature, n_match, n_nonmatch, agree_match, agree_nonmatch, m, u,
    w_agree, w_disagree)`` — m = P(agree|match), u = P(agree|non-match)
    (Laplace +1/+2 smoothed), and the log₂ agreement/disagreement
    weights a probabilistic record-linkage scorer sums per pair.  The
    supervised half of classic ER: blocking proposes pairs
    (er_candidate_pairs), a labeled sample estimates the weights, the
    weights score the rest of the corpus.

    ``label`` and every ``features`` entry are boolean columns of
    ``pairs``.  ONE aggregate pass over the pair table (2 + 2·|features|
    conditional sums, map-side combined) exploded to per-feature rows —
    the pair table is touched once regardless of feature count.  The
    log₂ is the single libm call, rounded (the naive_bayes idiom).
    """
    aggs = [
        F.sum(F.col(label).cast("long")).cast("long").alias("_nm"),
        F.sum((~F.col(label)).cast("long")).cast("long").alias("_nu"),
    ]
    for f in features:
        aggs += [
            F.sum((F.col(label) & F.col(f)).cast("long"))
            .cast("long")
            .alias(f"_am_{f}"),
            F.sum(((~F.col(label)) & F.col(f)).cast("long"))
            .cast("long")
            .alias(f"_au_{f}"),
        ]
    row = pairs.agg(*aggs)
    structs = []
    for f in features:
        m = (F.col(f"_am_{f}") + 1) / (F.col("_nm") + 2)
        u = (F.col(f"_au_{f}") + 1) / (F.col("_nu") + 2)
        structs.append(
            F.struct(
                F.lit(f).alias("feature"),
                F.col("_nm").alias("n_match"),
                F.col("_nu").alias("n_nonmatch"),
                F.col(f"_am_{f}").alias("agree_match"),
                F.col(f"_au_{f}").alias("agree_nonmatch"),
                F.round(m, ndigits).alias("m"),
                F.round(u, ndigits).alias("u"),
                F.round(F.log2(m / u), ndigits).alias("w_agree"),
                F.round(
                    F.log2((F.lit(1.0) - m) / (F.lit(1.0) - u)), ndigits
                ).alias("w_disagree"),
            )
        )
    return row.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def er_incremental(
    old_assign: DataFrame, new_edges: DataFrame, stage_dir: str
) -> DataFrame:
    """Incremental entity-resolution maintenance: given the PREVIOUS
    canonicalization map ``old_assign (entity, component)`` and the
    NEW candidate-pair edges of a crawl increment, return the map that
    full batch CC over (old ∪ new) edges would produce — WITHOUT
    re-running CC on the old graph.

    Device: an old component is already a connected set, so its star
    edges (entity → component id) preserve exactly its connectivity;
    only components TOUCHED by a new edge can change.  Recompute CC on
    ``star(touched components) ∪ new_edges`` and union the untouched
    assignments back.  Component ids stay the reachable-min entity
    (the component id is itself an entity of the cluster), so the
    result is bit-identical to the batch map — the correctness gate
    compares this against the full batch recompute.

    Scale shape: the crawl increment drives the cost — the touched-
    component dimension is new-edge-sized (broadcast semi-joins), the
    CC reruns on a subgraph proportional to the increment's blast
    radius, and the untouched (typically overwhelming) majority of the
    map is passed through with one anti-join.  This is what makes a
    10^12-document KG maintainable: per-increment work scales with the
    increment, not the corpus.
    """
    from ddaugner_spark.operators.canonical import connected_components

    nodes_new = (
        new_edges.select(F.col("a").alias("e"))
        .unionAll(new_edges.select(F.col("b").alias("e")))
        .distinct()
    )
    tc = (
        old_assign.join(
            nodes_new, old_assign["entity"] == nodes_new["e"]
        )
        .select("component")
        .distinct()
    )
    affected = old_assign.join(F.broadcast(tc), "component")
    star = affected.select(
        F.col("entity").alias("a"), F.col("component").alias("b")
    )
    redone = connected_components(
        star.unionByName(new_edges.select("a", "b")), stage_dir=stage_dir
    )
    unaffected = old_assign.join(F.broadcast(tc), "component", "left_anti")
    return unaffected.select("entity", "component").unionByName(redone)


def _er_eval_cells(
    surfaces: DataFrame,
    max_dist: int,
    stage_dir: str | None,
    prefix: str,
) -> DataFrame:
    """Shared (pred p, gold g, count i) CONTINGENCY CELLS of the ER
    resolution against the amplifier's construction truth — the one
    joint-assignment derivation every cluster-evaluation metric
    (:func:`b3_cluster_eval`, :func:`muc_cluster_eval`,
    :func:`ari_cluster_eval`) folds differently.  Gold clusters = CC of
    the origin↔variant truth edges; predicted = CC of the blocked
    candidate-pair graph; records in neither graph are singletons of
    themselves.
    """
    amp = with_typo_surfaces(surfaces)
    rec = amp.select(F.concat_ws("|", "tag", "surface").alias("rid"))
    truth_edges = (
        surfaces.filter(F.length("surface") >= 4)
        .select(
            F.concat_ws(
                "|",
                "tag",
                F.concat(
                    F.substring("surface", 1, 1), F.expr("substring(surface, 3)")
                ),
            ).alias("a"),
            F.concat_ws("|", "tag", "surface").alias("b"),
        )
    )
    pred_edges = er_candidate_pairs(amp, max_dist=max_dist).select(
        F.concat_ws("|", "tag", "a").alias("a"),
        F.concat_ws("|", "tag", "b").alias("b"),
    )
    from .canonical import connected_components

    # one dir for both CC runs
    stage_dir = scratch_dir(stage_dir, prefix)
    gold_cc = connected_components(truth_edges, stage_dir=f"{stage_dir}/gold")
    pred_cc = connected_components(pred_edges, stage_dir=f"{stage_dir}/pred")
    r = (
        rec.join(
            gold_cc.select(F.col("entity").alias("rid"), F.col("component").alias("g")),
            "rid",
            "left",
        )
        .join(
            pred_cc.select(F.col("entity").alias("rid"), F.col("component").alias("p")),
            "rid",
            "left",
        )
        .select(
            "rid",
            F.coalesce("g", F.col("rid")).alias("g"),
            F.coalesce("p", F.col("rid")).alias("p"),
        )
    )
    return r.groupBy("p", "g").agg(F.count(F.lit(1)).cast("long").alias("i"))


def b3_cluster_eval(
    surfaces: DataFrame,
    max_dist: int = 2,
    stage_dir: str | None = None,
    ndigits: int = 6,
) -> DataFrame:
    """B-cubed cluster evaluation of the ER resolution (Bagga & Baldwin
    1998; the record-level metric Amigó et al. 2009 showed is the one
    that satisfies all four clustering-eval constraints) — the CLUSTER
    complement to the PAIRWISE ``blocking_quality``: one row
    ``(n_records, b3_precision, b3_recall, b3_f1)``.

    Gold clusters = connected components of the amplifier's
    CONSTRUCTION-TRUTH edges (origin ↔ delete-second-char variant, the
    same truth set blocking_quality scores against); predicted
    clusters = components of the blocked candidate-pair graph; records
    in neither graph are singletons of themselves.  Per record r,
    P(r) = |C(r) ∩ G(r)| / |C(r)| and R(r) swaps G for C; averaging
    uses the cell identity  Σ_r P(r) = Σ_{(p,g)} I²/|C_p|  so the work
    is CELL-sized, with each cell's contribution micro-quantized ONCE
    to an integer (the repo's no-float-accumulation device) and
    integer-summed; P, R, F1 are a fixed float tree over those sums.

    Scale shape: two pair-graph-sized CC runs (the production
    canonicalization operator, exercised twice like hub_robustness),
    two record-sized hash joins onto the label maps, then everything
    lives on the (pred, gold) CELL table.
    """
    cells = _er_eval_cells(surfaces, max_dist, stage_dir, "ddaugner_b3_")
    psz = cells.groupBy("p").agg(F.sum("i").cast("long").alias("pc"))
    gsz = cells.groupBy("g").agg(F.sum("i").cast("long").alias("gc"))
    j = cells.join(psz, "p").join(gsz, "g")
    cont = j.select(
        F.round(F.lit(1000000.0) * F.col("i") * F.col("i") / F.col("pc"), 0)
        .cast("long")
        .alias("pq"),
        F.round(F.lit(1000000.0) * F.col("i") * F.col("i") / F.col("gc"), 0)
        .cast("long")
        .alias("rq"),
        "i",
    )
    tot = cont.agg(
        F.sum("pq").cast("long").alias("pqs"),
        F.sum("rq").cast("long").alias("rqs"),
        F.sum("i").cast("long").alias("n"),
    )
    nd = F.col("n").cast("double")
    p_expr = F.col("pqs").cast("double") / nd / F.lit(1000000.0)
    r_expr = F.col("rqs").cast("double") / nd / F.lit(1000000.0)
    return tot.select(
        F.col("n").alias("n_records"),
        F.round(p_expr, ndigits).alias("b3_precision"),
        F.round(r_expr, ndigits).alias("b3_recall"),
        F.round(
            F.lit(2.0) * p_expr * r_expr / (p_expr + r_expr), ndigits
        ).alias("b3_f1"),
    )


def sorted_neighborhood_pairs(
    surfaces: DataFrame,
    window: int = 3,
    max_dist: int = 2,
    stage_dir: str | None = None,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo SIGMOD'95) —
    the OTHER classical blocking strategy next to
    :func:`er_candidate_pairs`' equality blocks: sort the vocabulary by
    a normalized key and compare each record only to its ``window``
    successors in sort order.  Where equality blocking misses pairs
    whose first characters differ (``oscar``/``0scar`` style noise,
    here ``spark``/``sark``), SNM catches any pair the key sorts near
    each other, with a hard O(V·w) candidate bound instead of a hot
    block's O(|block|²).

    Key: surface lowercased with non-alphanumerics stripped (the usual
    SNM key discipline), tie-broken by (surface, tag) so the order is
    total and engine-reproducible.  Output: candidate pairs within the
    window plus their edit distance and ``is_match`` under
    ``max_dist`` — the downstream CC merge consumes the matches.

    Scale shape: the sort position comes from the boundary-frozen
    range-partition rank (operators/suffix.py global_dense_rank — no
    one-task window over the vocabulary); the window join is a
    bounded-fan-out explode of each row to its next ``window`` slots
    followed by ONE hash equi-join on the slot index — never a band
    or theta join; levenshtein runs on exactly V·w pairs.
    """
    from ddaugner_spark.operators.suffix import global_dense_rank

    key = F.regexp_replace(F.lower(F.col("surface")), "[^a-z0-9]", "")
    ranked = global_dense_rank(
        surfaces.withColumn("snm_key", key),
        ["snm_key", "surface", "tag"],
        out="idx",
        stage_path=None if stage_dir is None else f"{stage_dir}/rank",
    ).select("idx", "snm_key", "surface", "tag")

    probes = ranked.select(
        F.col("idx").alias("pidx"),
        F.col("snm_key").alias("key_a"),
        F.col("surface").alias("surface_a"),
        F.col("tag").alias("tag_a"),
        F.explode(
            F.sequence(F.col("idx") + 1, F.col("idx") + window)
        ).alias("idx"),
    )
    right = ranked.select(
        "idx",
        F.col("snm_key").alias("key_b"),
        F.col("surface").alias("surface_b"),
        F.col("tag").alias("tag_b"),
    )
    dist = F.levenshtein("surface_a", "surface_b")
    return (
        probes.join(right, "idx")
        .select(
            "surface_a",
            "tag_a",
            "surface_b",
            "tag_b",
            (F.col("idx") - F.col("pidx")).cast("long").alias("gap"),
            dist.cast("long").alias("dist"),
            (dist <= max_dist).alias("is_match"),
        )
    )


def deletion_neighborhood_pairs(
    names: DataFrame, name_col: str = "name", max_dist: int = 1
) -> DataFrame:
    """Edit-distance-≤1 similarity self-join by DELETION-NEIGHBORHOOD
    signatures (FastSS, Bocek et al. 2007; the SymSpell scheme) — the
    third blocking strategy next to :func:`er_candidate_pairs`
    (equality blocks) and :func:`sorted_neighborhood_pairs` (SNM):
    unlike both, it is COMPLETE for distance 1 — two strings are
    within one edit iff they share a signature in ``{s} ∪ {s minus
    one character}`` (equal → s itself; substitution at i → both drop
    i; insert/delete → the longer's deletion equals the shorter) —
    so no true pair can be missed by block boundaries.  Sharing a
    signature is NOT sufficient (``ab``/``ba`` share ``a`` at distance
    2), so survivors are verified with the real ``levenshtein``.

    Output: ``(name_a, name_b, dist)`` with ``name_a < name_b`` and
    ``dist ≤ max_dist`` (default 1; the signature scheme itself is the
    d=1 instance — for d=2 explode 2-deletion neighborhoods, same
    plan).

    Scale shape: runs on the DISTINCT-NAME table (vocabulary-sized);
    each name explodes to ``len+1`` signatures (index 0 = the name
    itself), ONE hash equi-join on the signature, pair-level
    ``distinct`` before the O(len²) verify so each pair is scored
    once.  Hot signatures (very frequent short names) bound block
    size; production splits them with a length key, same shape.
    Engine-portable: DuckDB's ``levenshtein`` is the identical
    standard edit distance.
    """
    base = (
        names.select(F.col(name_col).cast("string").alias("name"))
        .where(F.col("name").isNotNull())
        .distinct()
    )
    # i = 0 keeps the name; i >= 1 deletes character i (1-based)
    sig = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.length("name")),
            lambda i: F.when(i == 0, F.col("name")).otherwise(
                F.concat(
                    F.col("name").substr(F.lit(1), i - 1),
                    F.col("name").substr(
                        i + 1, F.length("name") - i
                    ),
                )
            ),
        )
    )
    sigs = base.select("name", sig.alias("sig"))
    left = sigs.select(F.col("name").alias("name_a"), "sig")
    right = sigs.select(F.col("name").alias("name_b"), "sig")
    cand = (
        left.join(right, "sig")
        .where(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
        .distinct()
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        cand.select("name_a", "name_b", dist.cast("long").alias("dist"))
        .where(F.col("dist") <= max_dist)
    )


def truth_discovery_sums(
    claims: DataFrame,
    source_col: str = "source",
    item_col: str = "item",
    value_col: str = "value",
    ndigits: int = 6,
) -> DataFrame:
    """Sums-style truth discovery (Pasternack & Roth COLING'10, the
    HITS-shaped member of the TruthFinder family): conflicting claims
    ``(source, item, value)`` — e.g. different pages asserting
    different object values for the same (subject, predicate) — are
    scored by two mutual-reinforcement rounds with NO mid-iteration
    normalization, so every iterate stays an EXACT BIGINT:

      conf₁(item,value) = #sources asserting it        (vote count)
      trust(source)     = Σ conf₁ over its claims      (exact long)
      conf₂(item,value) = Σ trust over asserting sources

    Output per distinct (item, value): ``(item, value, support,
    conf, share, is_winner)`` where ``support`` = conf₁, ``conf`` =
    conf₂, ``share`` = conf₂ / Σ_value conf₂ within the item (the ONE
    float division, rendered at ``ndigits``), and ``is_winner`` marks
    the row a consumer materializes into the KG (ties broken by value
    ascending — deterministic).  Sources that habitually agree with
    well-supported values are up-weighted, which is exactly how the
    vote beats plain majority: a value backed by two high-trust pages
    outranks one backed by three drive-by mirrors.

    Scale shape: claims are deduped once (one shuffle on the claim
    key); the two reinforcement rounds are hash joins + map-side-
    combined sums ON THE CLAIM TABLE (vocabulary-of-claims-sized, far
    below the corpus); the winner window runs per-item on the
    value-level table.  conf₂ ≤ (claims per item)·(claims per
    source)·(sources per value) — far inside BIGINT at any real skew.
    """
    c = (
        claims.select(
            F.col(source_col).cast("string").alias("s"),
            F.col(item_col).cast("string").alias("i"),
            F.col(value_col).cast("string").alias("v"),
        )
        .where(
            F.col("s").isNotNull()
            & F.col("i").isNotNull()
            & F.col("v").isNotNull()
        )
        .distinct()
    )
    conf1 = c.groupBy("i", "v").agg(
        F.count(F.lit(1)).cast("long").alias("support")
    )
    trust = (
        c.join(conf1, ["i", "v"])
        .groupBy("s")
        .agg(F.sum("support").cast("long").alias("trust"))
    )
    conf2 = (
        c.join(trust, "s")
        .groupBy("i", "v")
        .agg(F.sum("trust").cast("long").alias("conf"))
    )
    scored = conf1.join(conf2, ["i", "v"])
    w = Window.partitionBy("i").orderBy(
        F.col("conf").desc(), F.col("v").asc()
    )
    tot = Window.partitionBy("i")
    return scored.select(
        F.col("i").alias("item"),
        F.col("v").alias("value"),
        "support",
        "conf",
        F.round(
            F.col("conf").cast("double")
            / F.sum("conf").over(tot).cast("double"),
            ndigits,
        ).alias("share"),
        (F.row_number().over(w) == 1).alias("is_winner"),
    )


# American Soundex letter→code map (translate semantics: chars beyond
# len(_SDX_TO) — H, W — are DELETED, which IS the h/w-transparency rule:
# same-code letters separated only by h/w become adjacent and collapse,
# while vowels stay as '0' separators so they code twice).
_SDX_FROM = "AEIOUYBFPVCGJKQSXZDTLMNRHW"
_SDX_TO = "000000111122222222334556"


def soundex_expr(col):
    """American Soundex code of an alphabetic string as a pure COLUMN
    expression — the phonetic blocking key classic record linkage
    (Fellegi–Sunter era, US Census/National Archives coding) uses to
    bucket name variants that spell differently but sound alike
    (ROBERT/RUPERT → R163, ASHCRAFT/ASHCROFT → A261).

    Deliberately NOT Spark's builtin ``F.soundex`` — the ladder below
    (upper → translate → per-digit run collapse → vowel-marker removal
    → first-letter code strip → pad) is replayed verbatim by the
    DuckDB oracle twin, so both engines compute the identical variant
    (builtin soundex implementations disagree on the h/w rule).  All
    steps are scalar string ops: map-only, codegen'd, no UDF.
    """
    u = F.upper(col)
    first = F.substring(u, 1, 1)
    code = F.translate(u, _SDX_FROM, _SDX_TO)
    coll = code
    for d in "0123456":
        coll = F.regexp_replace(coll, f"{d}{d}+", d)
    nozero = F.regexp_replace(coll, "0", "")
    fcode = F.translate(first, _SDX_FROM, _SDX_TO)
    stripped = F.when(
        fcode.isin(*list("123456")) & (F.substring(nozero, 1, 1) == fcode),
        F.substring(nozero, 2, 1_000_000),
    ).otherwise(nozero)
    return F.concat(first, F.rpad(F.substring(stripped, 1, 3), 3, "0"))


def soundex_blocks(
    tokens: DataFrame, token_col: str = "token"
) -> DataFrame:
    """(code, n_forms, forms) — phonetic blocking over a DISTINCT
    surface-form vocabulary: every form keyed by :func:`soundex_expr`,
    one row per code with the member forms '|'-joined in sorted order
    (serialized, not an array column — driver canonicalizers hash
    scalars).  Multi-form blocks (n_forms ≥ 2) are the ER candidate
    blocks that split the ``(tag, first char)`` blocks of
    :func:`er_candidate_pairs` when a hot first letter overloads them —
    same plan shape, finer key.

    Scale shape: the input is the vocabulary (distinct surfaces), so
    the groupBy is dimension-sized; one explode-free map stage for the
    coding + one partial-aggregable hash aggregate.  Block membership
    lists are bounded by phonetic-code selectivity (26 letters × 7³
    codes); production callers cap pathological blocks the same way
    the LSH bucket cap does, with logged drops.
    """
    t = tokens.select(F.col(token_col).alias("form")).distinct()
    coded = t.select("form", soundex_expr(F.col("form")).alias("code"))
    return coded.groupBy("code").agg(
        F.count("*").cast("long").alias("n_forms"),
        F.array_join(F.array_sort(F.collect_list("form")), "|").alias("forms"),
    )


# ------------------------------------------------------------------
# Jaro-Winkler scoring over phonetic blocks
# ------------------------------------------------------------------

_JW_PREFIX = 4
_JW_P = 0.1
_JW_BOOST = 0.7


def _jaro_winkler_py(a: str, b: str) -> float:
    """Exact Jaro-Winkler (Winkler 1990; Jaro 1989) — the PRECISE
    variant DuckDB's ``jaro_winkler_similarity`` implements (validated
    bit-identical on 15k random pairs across three alphabets): match
    distance ``max(0, max(|a|,|b|)//2 − 1)``, transpositions counted
    over matched-order disagreements halved by integer division,
    empty-side similarity 0, prefix bonus (≤ 4 chars, p = 0.1) applied
    only above the 0.7 boost threshold, Jaro evaluated as
    ``(m/|a| + m/|b| + (m−t)/m) / 3`` left-to-right.  Keeping the
    float chain in this exact operation order is what lets the SQL
    twin use the builtin and still hash-match.
    """
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0
    md = max(0, max(la, lb) // 2 - 1)
    fa = [False] * la
    fb = [False] * lb
    m = 0
    for i, ca in enumerate(a):
        lo = 0 if i < md else i - md
        hi = min(lb, i + md + 1)
        for j in range(lo, hi):
            if not fb[j] and b[j] == ca:
                fa[i] = fb[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    j = 0
    for i in range(la):
        if fa[i]:
            while not fb[j]:
                j += 1
            if a[i] != b[j]:
                t += 1
            j += 1
    t //= 2
    s = (m / la + m / lb + (m - t) / m) / 3
    if s > _JW_BOOST:
        l = 0
        for x, y in zip(a[:_JW_PREFIX], b[:_JW_PREFIX]):
            if x != y:
                break
            l += 1
        s = s + l * _JW_P * (1 - s)
    return s


def jw_block_pairs(
    tokens: DataFrame,
    token_col: str = "token",
    threshold: float = 0.87,
    block_cap: int = 64,
    ndigits: int = 6,
) -> DataFrame:
    """(form_a, form_b, jw) with form_a < form_b — Jaro-Winkler name
    matching inside Soundex blocks: the Fellegi-Sunter era pairing
    (phonetic blocking keys + Winkler's string comparator, the exact
    stack the US Census record-linkage system ran) lifted to
    DataFrames.  Complements :func:`er_candidate_pairs`'s Levenshtein
    band: JW rewards shared prefixes (name variants), edit distance
    counts raw operations.

    Plan: distinct surfaces → :func:`soundex_expr` key → per-block
    lexicographic cap at ``block_cap`` forms (deterministic row_number
    — a hot phonetic code degrades to its first ``block_cap`` members
    rather than an O(n²) blowup; production logs the drop) → within-
    block self-join on ``form_a < form_b`` → Jaro-Winkler over Arrow
    batches (iterator ``mapInPandas``; a character-table dynamic
    program has no built-in column form) → threshold filter.  The
    vocabulary is dimension-sized, so the block shuffle and the
    quadratic-within-cap join are both bounded.

    Determinism: :func:`_jaro_winkler_py` is bit-identical to the SQL
    twin's builtin; the cap is a pure function of (code, form).
    """
    t = tokens.select(F.col(token_col).alias("form")).distinct()
    coded = t.select("form", soundex_expr(F.col("form")).alias("code"))
    w = Window.partitionBy("code").orderBy("form")
    capped = (
        coded.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= block_cap)
        .drop("rn")
    )
    a = capped.select("code", F.col("form").alias("form_a"))
    b = capped.select("code", F.col("form").alias("form_b"))
    pairs = a.join(b, "code").filter(F.col("form_a") < F.col("form_b"))

    schema = "form_a string, form_b string, jw double"

    def run(batches):
        import pandas as pd

        for pdf in batches:
            pdf = pdf[["form_a", "form_b"]]
            pdf["jw"] = [
                _jaro_winkler_py(x, y)
                for x, y in zip(pdf["form_a"], pdf["form_b"])
            ]
            yield pdf

    scored = pairs.select("form_a", "form_b").mapInPandas(run, schema)
    return scored.filter(F.col("jw") >= threshold).select(
        "form_a", "form_b", F.round("jw", ndigits).alias("jw")
    )


def muc_cluster_eval(
    surfaces: DataFrame,
    max_dist: int = 2,
    stage_dir: str | None = None,
    ndigits: int = 6,
) -> DataFrame:
    """MUC link-based cluster evaluation (Vilain et al., MUC-6 1995) of
    the ER resolution against the amplifier's construction truth — one
    row ``(n_records, muc_precision, muc_recall, muc_f1)``, the
    minimum-link-edit metric next to the record-averaged
    :func:`b3_cluster_eval`: recall = Σ_g (|g| − p(g)) / Σ_g (|g| − 1)
    where p(g) = how many predicted clusters gold cluster g is
    shattered across (the links a corrector must add), precision the
    mirror with pred/gold swapped.  MUC ignores singletons entirely
    (size-1 clusters contribute 0/0 to neither sum) — the known
    complementary bias to B³, which is why both are reported.

    Every term is an EXACT BIGINT count straight off the shared
    contingency cells (per gold cluster: its size and its distinct-
    pred-cell count; symmetric for pred): two dimension-sized folds +
    one fixed float chain, no quantization step needed at all.
    """
    cells = _er_eval_cells(surfaces, max_dist, stage_dir, "ddaugner_muc_")
    gfold = cells.groupBy("g").agg(
        F.sum("i").cast("long").alias("sz"),
        F.count(F.lit(1)).cast("long").alias("parts"),
    )
    pfold = cells.groupBy("p").agg(
        F.sum("i").cast("long").alias("sz"),
        F.count(F.lit(1)).cast("long").alias("parts"),
    )

    def fold(df, num_col, den_col):
        return df.agg(
            F.sum(F.col("sz") - F.col("parts")).cast("long").alias(num_col),
            F.sum(F.col("sz") - F.lit(1)).cast("long").alias(den_col),
            F.sum("sz").cast("long").alias("n"),
        )

    g = fold(gfold, "rn", "rd")
    p = fold(pfold, "pn", "pd").drop("n")
    tot = g.crossJoin(p)
    r_expr = F.when(
        F.col("rd") > 0, F.col("rn").cast("double") / F.col("rd").cast("double")
    )
    p_expr = F.when(
        F.col("pd") > 0, F.col("pn").cast("double") / F.col("pd").cast("double")
    )
    f_expr = F.when(
        (F.col("rd") > 0) & (F.col("pd") > 0) & (p_expr + r_expr > 0),
        F.lit(2.0) * p_expr * r_expr / (p_expr + r_expr),
    )
    return tot.select(
        F.col("n").alias("n_records"),
        F.round(p_expr, ndigits).alias("muc_precision"),
        F.round(r_expr, ndigits).alias("muc_recall"),
        F.round(f_expr, ndigits).alias("muc_f1"),
    )


def ari_cluster_eval(
    surfaces: DataFrame,
    max_dist: int = 2,
    stage_dir: str | None = None,
    ndigits: int = 6,
) -> DataFrame:
    """Adjusted Rand Index (Hubert & Arabie 1985) of the ER resolution
    against the construction truth — one row ``(n_records,
    sum_cell_c2, sum_pred_c2, sum_gold_c2, ari)``: the chance-corrected
    pair-counting agreement, the third lens after B³ (record-averaged)
    and MUC (link-based).  ARI = (Σ_ij C(n_ij,2) − exp) /
    (½(Σ_i C(a_i,2) + Σ_j C(b_j,2)) − exp) with
    exp = Σ_i C(a_i,2)·Σ_j C(b_j,2) / C(n,2).

    Every binomial is an EXACT BIGINT off the shared contingency cells
    (``x·(x−1) DIV 2``); only the expectation and the final ratio are
    float — a fixed chain over four longs (the product rides in DOUBLE:
    Σ C(a,2)·Σ C(b,2) overflows int64 past ~10⁵ records, and one
    rounding at the end absorbs it).  NULL when n < 2 or the
    denominator is 0 (both partitions all-singletons or one giant
    cluster in both — agreement is undefined, not 1.0).
    """
    cells = _er_eval_cells(surfaces, max_dist, stage_dir, "ddaugner_ari_")

    def c2(col):
        return (col * (col - F.lit(1)) / F.lit(2)).cast("long")

    cell_c2 = cells.agg(
        F.sum(c2(F.col("i"))).cast("long").alias("sij"),
        F.sum("i").cast("long").alias("n"),
    )
    pa = (
        cells.groupBy("p")
        .agg(F.sum("i").cast("long").alias("sz"))
        .agg(F.sum(c2(F.col("sz"))).cast("long").alias("sa"))
    )
    gb = (
        cells.groupBy("g")
        .agg(F.sum("i").cast("long").alias("sz"))
        .agg(F.sum(c2(F.col("sz"))).cast("long").alias("sb"))
    )
    tot = cell_c2.crossJoin(pa).crossJoin(gb)
    n2 = c2(F.col("n"))
    exp = F.when(
        n2 > 0,
        F.col("sa").cast("double") * F.col("sb").cast("double")
        / n2.cast("double"),
    )
    mean_ab = (F.col("sa") + F.col("sb")).cast("double") / F.lit(2.0)
    ari = F.when(
        (n2 > 0) & (mean_ab - exp != 0),
        (F.col("sij").cast("double") - exp) / (mean_ab - exp),
    )
    return tot.select(
        F.col("n").alias("n_records"),
        F.col("sij").alias("sum_cell_c2"),
        F.col("sa").alias("sum_pred_c2"),
        F.col("sb").alias("sum_gold_c2"),
        F.round(ari, ndigits).alias("ari"),
    )


def vi_cluster_eval(
    surfaces: DataFrame,
    max_dist: int = 2,
    stage_dir: str | None = None,
    ndigits: int = 6,
) -> DataFrame:
    """Variation of Information (Meilă, JMVA 2007) of the ER resolution
    against the construction truth — one row ``(n_records, h_pred,
    h_gold, mi, vi)`` with VI = H(P) + H(G) − 2·I(P;G): the METRIC
    lens (VI is a true metric on partitions, triangle inequality and
    all) closing the cluster-evaluation family after
    :func:`b3_cluster_eval` (record-averaged), :func:`muc_cluster_eval`
    (link-based) and :func:`ari_cluster_eval` (pair-counting) — all
    four fold the SAME :func:`_er_eval_cells` contingency cells.

    Exactness: every entropy/MI term is a fixed float chain over exact
    BIGINT cell/marginal counts, micro-quantized ONCE at 10⁹ (the B³
    device) so the only cross-engine order-divergent op — the Σ over
    cells/marginals — is an exact integer sum; VI is a 3-term float
    tree over the quantized folds.  0 ≤ VI ≤ ln n.
    """
    cells = _er_eval_cells(surfaces, max_dist, stage_dir, "ddaugner_vi_")
    cells = cut(cells, f"{scratch_dir(stage_dir, 'ddaugner_vi_cells_')}/cells")
    psz = cells.groupBy("p").agg(F.sum("i").cast("long").alias("s"))
    gsz = cells.groupBy("g").agg(F.sum("i").cast("long").alias("s"))
    n_row = cells.agg(F.sum("i").cast("long").alias("n"))
    q = F.lit(1000000000.0)

    def ent_fold(df, out):
        # Σ round(1e9 · (s/n)·ln(s/n)) — negated at the end
        frac = F.col("s").cast("double") / F.col("n").cast("double")
        return (
            df.crossJoin(F.broadcast(n_row))
            .select(
                F.round(q * frac * F.log(frac), 0).cast("long").alias("t")
            )
            .agg(F.sum("t").cast("long").alias(out))
        )
    hp = ent_fold(psz, "hpq")
    hg = ent_fold(gsz, "hgq")
    mi_cells = (
        cells.join(psz.withColumnRenamed("s", "sp"), "p")
        .join(gsz.withColumnRenamed("s", "sg"), "g")
        .crossJoin(F.broadcast(n_row))
    )
    ifrac = F.col("i").cast("double") / F.col("n").cast("double")
    ratio = (F.col("i").cast("double") * F.col("n").cast("double")) / (
        F.col("sp").cast("double") * F.col("sg").cast("double")
    )
    mi = mi_cells.select(
        F.round(q * ifrac * F.log(ratio), 0).cast("long").alias("t")
    ).agg(F.sum("t").cast("long").alias("miq"))
    j = n_row.crossJoin(hp).crossJoin(hg).crossJoin(mi)
    h_pred = -(F.col("hpq").cast("double") / q)
    h_gold = -(F.col("hgq").cast("double") / q)
    mi_d = F.col("miq").cast("double") / q
    return j.select(
        F.col("n").alias("n_records"),
        F.round(h_pred, ndigits).alias("h_pred"),
        F.round(h_gold, ndigits).alias("h_gold"),
        F.round(mi_d, ndigits).alias("mi"),
        F.round(h_pred + h_gold - F.lit(2.0) * mi_d, ndigits).alias("vi"),
    )


def fs_em_weights(
    pairs: DataFrame,
    features: list[str],
    iters: int = 2,
    qscale: int = 10**12,
    init_m: float = 0.9,
    init_u: float = 0.1,
    init_p: float = 0.1,
    stage_dir: str | None = None,
    ndigits: int = 6,
) -> DataFrame:
    """UNSUPERVISED Fellegi–Sunter parameter estimation by EM (Winkler
    1988; the production record-linkage estimator — real crawl pairs
    have no labels, so :func:`fellegi_sunter_weights`' supervised
    m/u estimates are a luxury): learn per-feature m = P(agree|match),
    u = P(agree|non-match) and the match prevalence p from the binary
    AGREEMENT-PATTERN distribution alone.  One row per feature
    ``(feature, m, u, p, w_agree, w_disagree)`` after ``iters``
    conditional-independence EM steps from the standard
    (0.9, 0.1, 0.1) start.

    Determinism + parity: the pair table collapses ONCE to ≤ 2^K
    pattern counts (exact BIGINTs, round-tripped); every EM iteration
    stays ENGINE-SIDE as a crossJoin of the pattern table with the
    1-row state — E-step responsibilities are a fixed float chain in a
    pinned multiply order, and every M-step Σ over patterns is
    micro-quantized at ``qscale`` into an INTEGER sum (the B³ device),
    so the next state is a ratio of identical longs on both engines;
    the SQL twin unrolls the same iterations as generated CTEs.  No
    collect, no randomness, no order-divergent float anywhere.

    Scale: the corpus-sized work is one hash aggregate; EM runs on
    2^K rows × iters crossJoins of 1-row broadcasts.
    """
    k = len(features)
    pat = cut(
        pairs.groupBy(
            *[F.col(f).cast("boolean").alias(f) for f in features]
        ).agg(F.count(F.lit(1)).cast("long").alias("c")),
        f"{scratch_dir(stage_dir, 'ddaugner_fsem_')}/patterns",
    )
    spark = pairs.sparkSession
    state = spark.range(1).select(
        *[F.lit(float(init_m)).alias(f"m{i}") for i in range(k)],
        *[F.lit(float(init_u)).alias(f"u{i}") for i in range(k)],
        F.lit(float(init_p)).alias("p"),
    )
    q = F.lit(float(qscale))
    for _ in range(iters):
        j = pat.crossJoin(F.broadcast(state))
        prod_m = None
        prod_u = None
        for i, f in enumerate(features):
            tm = F.when(F.col(f), F.col(f"m{i}")).otherwise(
                F.lit(1.0) - F.col(f"m{i}")
            )
            tu = F.when(F.col(f), F.col(f"u{i}")).otherwise(
                F.lit(1.0) - F.col(f"u{i}")
            )
            prod_m = tm if prod_m is None else prod_m * tm
            prod_u = tu if prod_u is None else prod_u * tu
        num = F.col("p") * prod_m
        den = num + (F.lit(1.0) - F.col("p")) * prod_u
        w = num / den
        cq = F.col("c").cast("double")
        aggs = [
            F.sum("c").cast("long").alias("n"),
            F.sum(F.round(q * cq * w, 0).cast("long"))
            .cast("long")
            .alias("swq"),
            F.sum(F.round(q * cq * (F.lit(1.0) - w), 0).cast("long"))
            .cast("long")
            .alias("sw1q"),
        ]
        for i, f in enumerate(features):
            aggs.append(
                F.sum(
                    F.when(
                        F.col(f), F.round(q * cq * w, 0).cast("long")
                    ).otherwise(F.lit(0))
                )
                .cast("long")
                .alias(f"smq{i}")
            )
            aggs.append(
                F.sum(
                    F.when(
                        F.col(f),
                        F.round(q * cq * (F.lit(1.0) - w), 0).cast("long"),
                    ).otherwise(F.lit(0))
                )
                .cast("long")
                .alias(f"suq{i}")
            )
        fold = j.agg(*aggs)

        # Winkler's boundary clamp: EM on peaked likelihoods drives
        # m/u/p to exactly 0 or 1 within an iteration (ANSI division
        # by zero next round, log2(0) at output) — clamp into
        # [1e-6, 1 - 1e-6], lazily so ANSI never sees a 0 divisor
        def clamp(num, den):
            r = F.when(
                den > 0, num.cast("double") / den.cast("double")
            ).otherwise(F.lit(0.0))
            return F.least(
                F.greatest(r, F.lit(1e-6)), F.lit(1.0 - 1e-6)
            )

        state = fold.select(
            *[
                clamp(F.col(f"smq{i}"), F.col("swq")).alias(f"m{i}")
                for i in range(k)
            ],
            *[
                clamp(F.col(f"suq{i}"), F.col("sw1q")).alias(f"u{i}")
                for i in range(k)
            ],
            clamp(
                F.col("swq"), q * F.col("n").cast("double")
            ).alias("p"),
        )
    structs = []
    for i, f in enumerate(features):
        m = F.col(f"m{i}")
        u = F.col(f"u{i}")
        structs.append(
            F.struct(
                F.lit(f).alias("feature"),
                F.round(m, ndigits).alias("m"),
                F.round(u, ndigits).alias("u"),
                F.round(F.col("p"), ndigits).alias("p"),
                F.round(F.log2(m / u), ndigits).alias("w_agree"),
                F.round(
                    F.log2((F.lit(1.0) - m) / (F.lit(1.0) - u)), ndigits
                ).alias("w_disagree"),
            )
        )
    return state.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def fm_cluster_eval(
    surfaces: DataFrame,
    max_dist: int = 2,
    stage_dir: str | None = None,
    ndigits: int = 6,
) -> DataFrame:
    """Fowlkes–Mallows index (JASA 1983) of the ER resolution — the
    geometric mean of pair precision and recall, FM = TP/√((TP+FP)·
    (TP+FN)) over the SAME :func:`_er_eval_cells` contingency cells as
    B³/MUC/ARI/VI (fifth and final lens: FM is the pair-counting score
    that, unlike ARI, stays meaningful when one partition is much
    finer).  One row ``(n_records, tp, fp, fn, fm)``.

    Every pair count is the exact binomial BIGINT: TP = Σ C(n_ij,2),
    TP+FP = Σ C(a_i,2) (pred marginals), TP+FN = Σ C(b_j,2) (gold);
    FM is one sqrt over a product of longs cast to double BEFORE
    multiplying.  NULL when either marginal sum is 0.
    """
    cells = _er_eval_cells(surfaces, max_dist, stage_dir, "ddaugner_fm_")
    cells = cut(cells, f"{scratch_dir(stage_dir, 'ddaugner_fm_cells_')}/cells")

    def c2(col):
        return (col * (col - F.lit(1)) / F.lit(2)).cast("long")

    tp_n = cells.agg(
        F.sum(c2(F.col("i"))).cast("long").alias("tp"),
        F.sum("i").cast("long").alias("n"),
    )
    pa = (
        cells.groupBy("p")
        .agg(F.sum("i").cast("long").alias("s"))
        .agg(F.sum(c2(F.col("s"))).cast("long").alias("tpfp"))
    )
    gb = (
        cells.groupBy("g")
        .agg(F.sum("i").cast("long").alias("s"))
        .agg(F.sum(c2(F.col("s"))).cast("long").alias("tpfn"))
    )
    j = tp_n.crossJoin(pa).crossJoin(gb)
    fm = F.when(
        (F.col("tpfp") > 0) & (F.col("tpfn") > 0),
        F.col("tp").cast("double")
        / F.sqrt(
            F.col("tpfp").cast("double") * F.col("tpfn").cast("double")
        ),
    )
    return j.select(
        F.col("n").alias("n_records"),
        "tp",
        (F.col("tpfp") - F.col("tp")).cast("long").alias("fp"),
        (F.col("tpfn") - F.col("tp")).cast("long").alias("fn"),
        F.round(F.coalesce(fm, F.lit(0.0)), ndigits).alias("fm"),
    )
