"""Table/column statistics and model-free scoring: ANALYZE-style
column profiles, robust (median/MAD) outlier flags, and fixed-weight
logistic quality inference.

Engine additions beyond the reference (the catalog/quality side of a
100 TB corpus store): the optimizer-stats profile every warehouse
collects (``ANALYZE TABLE``), the robust per-group outlier screen a
quality dashboard runs on document lengths, and the linear-model
inference step of a fastText/CCNet-style quality classifier — all as
single-pass aggregates / map-only expressions, no per-row Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ddaugner_spark.plans.materialize import cut, scratch_dir


def column_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    """ANALYZE-style per-column profile: ``(column, n_rows, n_null,
    ndv, min_s, max_s)`` — row count, NULL count, exact distinct count,
    lexical/numeric min and max rendered as strings.

    One aggregate pass producing a single row of per-column structs,
    exploded to one output row per column.  The multiple exact
    ``count(distinct)``s plan as Spark's Expand (one scan, rows ×
    |cols| map-side); at production scale swap ``countDistinct`` for
    ``approx_count_distinct`` (HLL, no Expand) — exact here so the
    DuckDB oracle can replay it.
    """
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"_n_{c}"),
            F.count(c).alias(f"_nn_{c}"),
            F.countDistinct(c).alias(f"_ndv_{c}"),
            F.min(F.col(c).cast("string")).alias(f"_min_{c}"),
            F.max(F.col(c).cast("string")).alias(f"_max_{c}"),
        ]
    row = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"_n_{c}").cast("long").alias("n_rows"),
            (F.col(f"_n_{c}") - F.col(f"_nn_{c}")).cast("long").alias("n_null"),
            F.col(f"_ndv_{c}").cast("long").alias("ndv"),
            F.col(f"_min_{c}").alias("min_s"),
            F.col(f"_max_{c}").alias("max_s"),
        )
        for c in cols
    ]
    return row.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def mad_outliers(
    df: DataFrame, group: str, value: str, z_thresh: float = 3.5
) -> DataFrame:
    """Robust per-group outlier screen (Iglewicz–Hoaglin modified
    z-score): ``robust_z = 0.6745 · (x − median) / MAD`` with
    ``MAD = median(|x − median|)``; flag ``|z| > z_thresh``.

    Median/MAD, not mean/stddev, because corpus length distributions
    are heavy-tailed — one 10 MB page should not move the screen.  Two
    group-sized aggregate passes (exact ``percentile``; the group-stat
    tables are key-sized and broadcast back), zero row explosion.
    ``MAD = 0`` (constant group) yields ``z = 0``: nothing in a
    constant group is an outlier.
    """
    v = F.col(value).cast("double")
    med = df.groupBy(group).agg(F.percentile(v, 0.5).alias("med"))
    with_med = df.join(F.broadcast(med), group)
    mad = (
        with_med.groupBy(group)
        .agg(F.percentile(F.abs(v - F.col("med")), 0.5).alias("mad"))
    )
    z = F.when(F.col("mad") == 0.0, F.lit(0.0)).otherwise(
        0.6745 * (v - F.col("med")) / F.col("mad")
    )
    return (
        with_med.join(F.broadcast(mad), group)
        .withColumn("robust_z", F.round(z, 6))
        .withColumn("is_outlier", F.abs(F.col("robust_z")) > z_thresh)
    )


def filter_stack(
    docs: DataFrame,
    stopwords: list[str],
    min_chars: int = 100,
    max_chars: int = 500,
    min_ttr: float = 0.35,
    min_stop: float = 0.02,
) -> DataFrame:
    """CCNet/RefinedWeb-style quality FILTER STACK with attributed
    drop reasons: every document gets ``(n_chars, ttr, stop_ratio,
    reason, keep)`` where ``reason`` is the FIRST failing rule in the
    fixed order short → long → low_ttr → low_stopword → duplicate →
    keep.  Attribution (not just a boolean) is what makes a 100 TB
    filtering run debuggable — the per-reason drop-rate table is the
    dashboard that catches a rule gone wrong before a trillion tokens
    are discarded.

    Content rules are map-only column arithmetic; the duplicate rule
    is one md5-keyed aggregate joined back (keeper = min doc_id), the
    exact-dedup shuffle the stack would pay anyway.  No per-row
    Python; the stopword membership compiles to an OR chain inside the
    lambda (no computed-array reference in the body)."""
    from functools import reduce

    text = F.coalesce(F.col("text"), F.lit(""))
    toks = F.split(text, " ")
    nc = F.length(text)
    ttr = F.size(F.array_distinct(toks)) / F.size(toks)
    stop_ratio = (
        F.size(
            F.filter(
                toks,
                lambda x: reduce(
                    lambda a, b: a | b, [x == F.lit(s) for s in stopwords]
                ),
            )
        )
        / F.size(toks)
    )
    feat = docs.select(
        "doc_id",
        nc.cast("long").alias("n_chars"),
        ttr.alias("ttr"),
        stop_ratio.alias("stop_ratio"),
        F.md5(text).alias("h"),
    )
    canon = feat.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    reason = (
        F.when(F.col("n_chars") < min_chars, F.lit("short"))
        .when(F.col("n_chars") > max_chars, F.lit("long"))
        .when(F.col("ttr") < min_ttr, F.lit("low_ttr"))
        .when(F.col("stop_ratio") < min_stop, F.lit("low_stopword"))
        .when(F.col("doc_id") != F.col("keeper"), F.lit("duplicate"))
        .otherwise(F.lit("keep"))
    )
    return feat.join(canon, "h").select(
        "doc_id",
        "n_chars",
        F.round("ttr", 6).alias("ttr"),
        F.round("stop_ratio", 6).alias("stop_ratio"),
        reason.alias("reason"),
        (reason == "keep").alias("keep"),
    )


def logistic_score(
    df: DataFrame, weights: dict[str, float], bias: float
) -> Column:
    """Fixed-weight logistic-regression inference ``σ(w·x + b)`` over
    feature COLUMNS of ``df`` — the scoring half of a CCNet/fastText-
    style quality classifier once training (out of scope, SURVEY §3.1)
    has produced the weights.  Pure column arithmetic: map-only,
    whole-stage codegen, replays exactly in SQL.
    """
    z = F.lit(float(bias))
    for c, w in weights.items():
        z = z + F.lit(float(w)) * F.col(c)
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def spearman_corr(
    df: DataFrame, x: str, y: str, ndigits: int = 6
) -> DataFrame:
    """One-row ``(n, rho)`` — Spearman rank correlation of two
    integer-valued columns, ties → average ranks (the standard
    fractional-rank estimator; the monotone-association readout for
    quality-signal vs engagement style screens where Pearson is
    distorted by heavy tails).

    Exactness: DOUBLED average ranks are integers —
    2·avgrank(v) = 2·|{u < v}| + cnt(v) + 1 — and the constant factor
    cancels in the correlation, so rho reduces to the exact-sums
    Pearson device (graph.degree_assortativity): Σr accumulates in
    decimal(38,0), one double cast per sum, a fixed-order float chain.
    Degenerate (zero variance) ⇒ the -9.9 NULL sentinel.

    Scale shape: each column's rank map is derived from its
    VALUE-FREQUENCY table (distinct-value-sized, not row-sized); the
    cumulative window runs over that dimension, and the map joins back
    onto the rows by value — two row-sized hash joins, no row-sized
    sort anywhere.
    """
    # complete pairs ONLY, filtered BEFORE the rank maps: ranks taken
    # over a column's full marginal and then inner-joined would carry
    # non-uniform gaps from rows whose OTHER column is NULL, which
    # does not cancel in the correlation the way a constant shift does
    base = df.select(
        F.col(x).cast("long").alias("x"), F.col(y).cast("long").alias("y")
    ).filter(F.col("x").isNotNull() & F.col("y").isNotNull())

    def rank_map(col: str) -> DataFrame:
        freq = base.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        w = Window.orderBy(col)
        return freq.select(
            col,
            (2 * (F.sum("c").over(w) - F.col("c")) + F.col("c") + 1)
            .cast("long")
            .alias(f"r_{col}"),
        )

    j = base.join(rank_map("x"), "x").join(rank_map("y"), "y")
    xd = F.col("r_x").cast("decimal(38,0)")
    yd = F.col("r_y").cast("decimal(38,0)")
    g = j.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(xd).cast("double").alias("sx"),
        F.sum(yd).cast("double").alias("sy"),
        F.sum(xd * yd).cast("double").alias("sxy"),
        F.sum(xd * xd).cast("double").alias("sxx"),
        F.sum(yd * yd).cast("double").alias("syy"),
    )
    n = F.col("n").cast("double")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    rho = F.when((vx > 0) & (vy > 0), num / F.sqrt(vx) / F.sqrt(vy))
    return g.select(
        "n", F.coalesce(F.round(rho, ndigits), F.lit(-9.9)).alias("rho")
    )


def group_order_stats(
    events: DataFrame,
    series: str = "event_type",
    value: str = "value",
) -> DataFrame:
    """(series, n, median2_c, median, p90_c) — EXACT per-group order
    statistics (median with the even-n half-point, p90) over integer
    cents, the ground-truth counterpart to the mergeable
    quantile_sketch: median·2 = os(⌈n/2⌉) + os(⌈(n+1)/2⌉) stays an
    integer, p90 = os(⌈0.9·n⌉), and the only float is ONE division
    rendering the median in currency units.

    Scale shape: the row-sized work is one (series, cents) frequency
    aggregate (map-side combined); the cumulative window and the
    order-statistic selection run on the VALUE-FREQUENCY table —
    distinct-value-sized, the spearman_corr rank-map device — and the
    k-targets join back from a series-sized (broadcast) count table.
    One conditional-min aggregate reads off all three order statistics.
    """
    base = events.select(
        F.col(series).alias("series"),
        F.round(F.col(value) * 100).cast("long").alias("c"),
    )
    freq = base.groupBy("series", "c").agg(
        F.count(F.lit(1)).cast("long").alias("f")
    )
    w = Window.partitionBy("series").orderBy("c")
    cum = freq.select("series", "c", F.sum("f").over(w).alias("cum"))
    n = base.groupBy("series").agg(F.count(F.lit(1)).cast("long").alias("n"))
    j = cum.join(F.broadcast(n), "series").select(
        "series",
        "c",
        "cum",
        "n",
        F.expr("(n + 1) DIV 2").alias("k1"),
        F.expr("(n + 2) DIV 2").alias("k2"),
        F.expr("(9 * n + 9) DIV 10").alias("k90"),
    )
    out = j.groupBy("series", "n").agg(
        (
            F.min(F.when(F.col("cum") >= F.col("k1"), F.col("c")))
            + F.min(F.when(F.col("cum") >= F.col("k2"), F.col("c")))
        ).alias("median2_c"),
        F.min(F.when(F.col("cum") >= F.col("k90"), F.col("c"))).alias("p90_c"),
    )
    return out.select(
        "series",
        "n",
        "median2_c",
        F.round(F.col("median2_c") / 200.0, 6).alias("median"),
        "p90_c",
    )


def fd_profile(df: DataFrame, pairs: list[tuple[str, str]]) -> DataFrame:
    """Approximate functional-dependency discovery (TANE/g3 style): one
    row per candidate ``determinant → dependent`` pair with
    ``(n_rows, ndv_det, ndv_pair, exact_fd, g3_conf)``.

    ``exact_fd`` is the classic count-distinct criterion
    (ndv(det) == ndv(det, dep)); ``g3_conf`` is the kept fraction under
    the minimal g3 repair — Σ_groups max-per-dependent-count / n — i.e.
    how close the pair is to a real FD when it isn't exact.  The
    profile a catalog runs before declaring constraints / choosing
    clustering keys on a 100 TB table.

    Scale shape per pair: one (det, dep) hash aggregate (map-side
    combined), one det-sized re-aggregate, one 1-row fold — never a
    row-sized sort or join.  Pairs are independent branches of one
    union; Catalyst schedules the shared scan per branch (at production
    scale, persist the projected columns once).  NULL is a value (its
    own group) on both engines.  Columns are compared as strings so
    heterogeneous pairs union into one report.
    """
    from functools import reduce

    outs = []
    for det, dep in pairs:
        pairct = df.groupBy(
            F.col(det).cast("string").alias("det_v"),
            F.col(dep).cast("string").alias("dep_v"),
        ).agg(F.count(F.lit(1)).cast("long").alias("c"))
        per_det = pairct.groupBy("det_v").agg(
            F.sum("c").cast("long").alias("n_det"),
            F.max("c").cast("long").alias("maxc"),
            F.count(F.lit(1)).cast("long").alias("ndv_dep"),
        )
        outs.append(
            per_det.agg(
                F.sum("n_det").cast("long").alias("n_rows"),
                F.count(F.lit(1)).cast("long").alias("ndv_det"),
                F.sum("ndv_dep").cast("long").alias("ndv_pair"),
                F.sum("maxc").cast("long").alias("kept"),
            ).select(
                F.lit(det).alias("determinant"),
                F.lit(dep).alias("dependent"),
                "n_rows",
                "ndv_det",
                "ndv_pair",
                (F.col("ndv_pair") == F.col("ndv_det")).alias("exact_fd"),
                F.round(F.col("kept") / F.col("n_rows"), 6).alias("g3_conf"),
            )
        )
    return reduce(DataFrame.unionByName, outs)


#: Poisson(1) inverse-CDF thresholds P(X <= k), k = 0..5 (tail -> 6).
#: Written as full-precision literals so Spark (Java) and DuckDB (C++)
#: parse the identical nearest double and the u-comparisons agree.
_POIS1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
)


def bootstrap_mean_ci(
    df: DataFrame,
    id_col: str,
    value: str,
    n_boot: int = 64,
    alpha_pm: int = 100,
) -> DataFrame:
    """One-row deterministic Poisson-bootstrap CI for the mean:
    ``(n_rows, n_boot, mean, ci_lo, ci_hi)`` at coverage
    ``1 − alpha_pm/1000``.

    The resample is the streaming-friendly Poisson bootstrap (each row
    enters replicate b with weight ~ Poisson(1)) — no global resample
    shuffle, no need to know n up front.  Determinism contract: the
    weight is a pure function of row identity — u = 12-hex md5 prefix
    of ``id|b`` scaled to (0,1], folded through the Poisson(1) inverse
    CDF — so the CI survives repartition/resume and replays exactly in
    SQL.  Exactness: per-replicate sums accumulate integer cents in
    decimal(38,0); the only floats are one division per replicate mean
    and the md5-uniform draw, both order-free.

    Scale shape: rows × n_boot map-side explode feeding ONE n_boot-way
    hash aggregate (map-side combined — the shuffle carries n_boot
    partial rows per task, not rows × n_boot); the order-statistic
    pick for the CI runs on the n_boot-row replicate table.  n_boot is
    a constant, so the plan is constant-size in the corpus.
    """
    idc = F.col(id_col).cast("string")
    cents = F.round(F.col(value) * 100).cast("long")
    reps = df.select(
        idc.alias("_id"), cents.alias("c")
    ).withColumn("b", F.explode(F.sequence(F.lit(0), F.lit(n_boot - 1))))
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws("|", F.col("_id"), F.col("b").cast("string"))
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(16**12))
    )
    w = F.when(u < _POIS1_CDF[0], F.lit(0))
    for k in range(1, 6):
        w = w.when(u < _POIS1_CDF[k], F.lit(k))
    w = w.otherwise(F.lit(6)).cast("long")
    bm = (
        reps.select("b", w.alias("w"), F.col("c"))
        .groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("c"))
            .cast("decimal(38,0)")
            .alias("swc"),
            F.sum("w").cast("long").alias("sw"),
        )
        .select(
            "b",
            F.coalesce(
                F.round(F.col("swc").cast("double") / F.col("sw") / 100.0, 6),
                F.lit(0.0),
            ).alias("mean_b"),
        )
    )
    rn = F.row_number().over(Window.orderBy("mean_b", "b"))
    k_lo = (n_boot * alpha_pm // 2 + 999) // 1000
    k_hi = (n_boot * (1000 - alpha_pm // 2) + 999) // 1000
    ci = bm.withColumn("rn", rn).agg(
        F.min(F.when(F.col("rn") == k_lo, F.col("mean_b"))).alias("ci_lo"),
        F.min(F.when(F.col("rn") == k_hi, F.col("mean_b"))).alias("ci_hi"),
    )
    full = df.select(cents.alias("c")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.round(
            F.sum("c").cast("decimal(38,0)").cast("double")
            / F.count(F.lit(1))
            / 100.0,
            6,
        ).alias("mean"),
    )
    return full.crossJoin(ci).select(
        "n_rows", F.lit(n_boot).cast("long").alias("n_boot"),
        "mean", "ci_lo", "ci_hi",
    )


def winsorize(
    df: DataFrame,
    group: str,
    value: str,
    lo_pm: int = 50,
    hi_pm: int = 950,
) -> DataFrame:
    """Per-group winsorized mean at exact per-mille order statistics:
    ``(series, n, lo_c, hi_c, mean_raw, mean_winsor, n_clipped)`` —
    values clamped to [os(⌈lo_pm·n/1000⌉), os(⌈hi_pm·n/1000⌉)] in
    integer cents before the mean.  The tail-robust readout for
    heavy-tailed value columns where trimming discards data a mean
    should still count.

    Scale shape: the row-sized work is one (group, cents) frequency
    aggregate; the cumulative window and the order-statistic pick run
    on the VALUE-FREQUENCY table (distinct-value-sized — the
    group_order_stats device); the group-sized bound table broadcasts
    back and the final pass is one more map-side-combined aggregate.
    All arithmetic is integer until the two rendering divisions.
    """
    base = df.select(
        F.col(group).alias("series"),
        F.round(F.col(value) * 100).cast("long").alias("c"),
    )
    freq = base.groupBy("series", "c").agg(
        F.count(F.lit(1)).cast("long").alias("f")
    )
    w = Window.partitionBy("series").orderBy("c")
    cum = freq.select("series", "c", "f", F.sum("f").over(w).alias("cum"))
    n = base.groupBy("series").agg(F.count(F.lit(1)).cast("long").alias("n"))
    j = cum.join(F.broadcast(n), "series")
    bounds = j.groupBy("series", "n").agg(
        F.min(
            F.when(
                F.col("cum") >= F.expr(f"({lo_pm} * n + 999) DIV 1000"),
                F.col("c"),
            )
        ).alias("lo_c"),
        F.min(
            F.when(
                F.col("cum") >= F.expr(f"({hi_pm} * n + 999) DIV 1000"),
                F.col("c"),
            )
        ).alias("hi_c"),
    )
    wc = F.greatest(F.col("lo_c"), F.least(F.col("hi_c"), F.col("c")))
    return (
        base.join(F.broadcast(bounds), "series")
        .groupBy("series", "n", "lo_c", "hi_c")
        .agg(
            F.round(
                F.sum("c").cast("decimal(38,0)").cast("double")
                / F.col("n")
                / 100.0,
                6,
            ).alias("mean_raw"),
            F.round(
                F.sum(wc).cast("decimal(38,0)").cast("double")
                / F.col("n")
                / 100.0,
                6,
            ).alias("mean_winsor"),
            F.sum(
                ((F.col("c") < F.col("lo_c")) | (F.col("c") > F.col("hi_c")))
                .cast("long")
            ).alias("n_clipped"),
        )
        .select(
            "series", "n", "lo_c", "hi_c",
            "mean_raw", "mean_winsor", "n_clipped",
        )
    )


def ind_profile(
    pairs: list[tuple[DataFrame, str, str, DataFrame, str, str]],
) -> DataFrame:
    """Inclusion-dependency (foreign-key candidate) discovery: one row
    per candidate ``from ⊆ to`` pair with ``(from_col, to_col,
    ndv_from, n_covered, coverage, is_ind)`` — the fraction of the
    from-side's distinct non-NULL values present in the to-side.  The
    catalog pass that proposes join keys / FK constraints before anyone
    declares them; the complement of fd_profile (FDs within a table,
    INDs across tables).

    Each pair element is ``(from_df, from_col, from_label, to_df,
    to_col, to_label)``.  NULLs are excluded on both sides (standard
    IND semantics).  Scale shape per pair: two distinct-value
    aggregates (map-side combined) and ONE distinct-sized hash join —
    never row-sized; at production scale the to-side dimension
    broadcasts or becomes a bloom pre-filter.  Values compare as
    strings so heterogeneous pairs union into one report.
    """
    from functools import reduce

    outs = []
    for fdf, fcol, flabel, tdf, tcol, tlabel in pairs:
        f = (
            fdf.select(F.col(fcol).cast("string").alias("v"))
            .where(F.col("v").isNotNull())
            .distinct()
        )
        t = (
            tdf.select(F.col(tcol).cast("string").alias("v"))
            .where(F.col("v").isNotNull())
            .distinct()
            .withColumn("hit", F.lit(1))
        )
        outs.append(
            f.join(t, "v", "left")
            .agg(
                F.count(F.lit(1)).cast("long").alias("ndv_from"),
                F.sum(F.coalesce(F.col("hit"), F.lit(0)))
                .cast("long")
                .alias("n_covered"),
            )
            .select(
                F.lit(flabel).alias("from_col"),
                F.lit(tlabel).alias("to_col"),
                "ndv_from",
                "n_covered",
                F.round(F.col("n_covered") / F.col("ndv_from"), 6).alias(
                    "coverage"
                ),
                (F.col("n_covered") == F.col("ndv_from")).alias("is_ind"),
            )
        )
    return reduce(DataFrame.unionByName, outs)


#: Benford first-digit probabilities log10(1 + 1/d), computed ONCE in
#: Python and injected as literals into BOTH engines — no libm log10
#: call at query time, so no cross-engine ulp divergence.
BENFORD_P = {d: __import__("math").log10(1.0 + 1.0 / d) for d in range(1, 10)}


def benford_digits(df: DataFrame, value: str) -> DataFrame:
    """Benford's-law first-digit audit: ``(digit, n, obs_p, exp_p,
    chi_term)`` for digits 1-9 over the positive values of ``value`` —
    the classic fabricated-data / extraction-bug screen (a scraped
    price or count column that fails Benford hard is usually synthetic
    or truncated).  chi_term is the per-digit χ² contribution
    ``(n − N·e)² / (N·e)``; Σ chi_term vs χ²₈ is the test.

    The first digit is read off the INTEGER-cents string (substring,
    not log10), so digit extraction is exact and engine-identical; the
    expected probabilities are Python-computed literals.  One 9-group
    hash aggregate + a broadcast 1-row total — nothing else.
    """
    c = F.round(F.col(value) * 100).cast("long")
    base = df.select(c.alias("c")).where(F.col("c") > 0)
    d1 = F.substring(F.col("c").cast("string"), 1, 1).cast("long")
    counts = base.select(d1.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    total = base.agg(F.count(F.lit(1)).cast("long").alias("ntot"))
    exp_p = F.lit(None).cast("double")
    for d in range(9, 0, -1):
        exp_p = F.when(F.col("digit") == d, F.lit(BENFORD_P[d])).otherwise(
            exp_p
        )
    ne = F.col("ntot") * exp_p
    return counts.crossJoin(F.broadcast(total)).select(
        "digit",
        "n",
        F.round(F.col("n") / F.col("ntot"), 6).alias("obs_p"),
        F.round(exp_p, 6).alias("exp_p"),
        F.round((F.col("n") - ne) * (F.col("n") - ne) / ne, 6).alias(
            "chi_term"
        ),
    )


def mann_whitney_u(
    df: DataFrame,
    group: str,
    value: str,
    group_a: str,
    group_b: str,
    ndigits: int = 6,
) -> DataFrame:
    """One-row Mann-Whitney rank-sum test between two groups' value
    distributions: ``(n_a, n_b, u_a, u_b, z)`` — the U statistics with
    tie-averaged ranks and the tie-corrected normal-approximation z.
    The nonparametric two-sample screen (quality score of source A vs
    source B, latency of variant A vs B) where the t-test's normality
    assumption is indefensible.

    Exactness: the spearman_corr doubled-rank device — 2·avgrank is an
    integer off the combined VALUE-FREQUENCY table, so 2·U₁ =
    Σ_a 2r − n₁(n₁+1) is computed entirely in integers (decimal(38,0)
    partials); ties feed Σ(t³−t) from the same frequency table.  The
    only floats are the variance/z rendering chain, written in one
    fixed order on both engines.  Degenerate (zero variance) ⇒ the
    -9.9 NULL sentinel.

    Scale shape: one row-sized (value-cents) frequency aggregate; the
    cumulative rank window runs on the distinct-value table; one final
    fold.  No row-sized sort or join anywhere.
    """
    is_a = F.col(group) == group_a
    base = df.where(F.col(group).isin([group_a, group_b])).select(
        is_a.alias("is_a"),
        F.round(F.col(value) * 100).cast("long").alias("c"),
    )
    freq = base.groupBy("c").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum(F.col("is_a").cast("long")).cast("long").alias("cnt_a"),
    )
    w = Window.orderBy("c")
    r2 = (
        2 * (F.sum("cnt").over(w) - F.col("cnt")) + F.col("cnt") + 1
    ).cast("long")
    g = freq.select(
        "cnt",
        "cnt_a",
        (F.col("cnt_a").cast("decimal(38,0)") * r2).alias("ra2"),
        (
            F.col("cnt").cast("decimal(38,0)") * F.col("cnt") * F.col("cnt")
            - F.col("cnt")
        ).alias("tie"),
    ).agg(
        F.sum("cnt_a").cast("long").alias("n_a"),
        (F.sum("cnt") - F.sum("cnt_a")).cast("long").alias("n_b"),
        F.sum("ra2").cast("decimal(38,0)").alias("ra2"),
        F.sum("tie").cast("decimal(38,0)").alias("tsum"),
    )
    n1 = F.col("n_a").cast("double")
    n2 = F.col("n_b").cast("double")
    nd = n1 + n2
    # 2·U1, exact in decimal; U2 from U1+U2 = n1·n2
    u1_2 = F.col("ra2").cast("double") - n1 * (n1 + 1.0)
    var = (n1 * n2 / 12.0) * (
        (nd + 1.0) - F.col("tsum").cast("double") / (nd * (nd - 1.0))
    )
    z = F.when(var > 0, (u1_2 - n1 * n2) / (2.0 * F.sqrt(var)))
    return g.select(
        "n_a",
        "n_b",
        (u1_2 / 2.0).alias("u_a"),
        ((n1 * n2) - u1_2 / 2.0).alias("u_b"),
        F.coalesce(F.round(z, ndigits), F.lit(-9.9)).alias("z"),
    )


def skew_report(
    df: DataFrame, key: str, n_buckets: int = 32
) -> DataFrame:
    """Shuffle-skew diagnostic for a prospective join/agg key: hash the
    key into ``n_buckets`` virtual reducers (the md5 device — a pure
    function of the key, so the report is the same on any physical
    partitioning) and report ``(bucket, n_rows, n_keys, share,
    imbalance)`` where ``imbalance = max_bucket / mean_bucket``.  This
    is the pre-flight check that decides whether a 100 TB join needs
    salting BEFORE it runs — imbalance ≈ 1 is uniform; a hub key shows
    up as one bucket holding a large multiple of the mean.

    One key-hashed aggregate (map-side combined) + a broadcast 1-row
    total; the countDistinct runs per bucket on the same shuffle.
    """
    b = (
        F.conv(F.substring(F.md5(F.col(key).cast("string")), 1, 4), 16, 10)
        .cast("long")
        % n_buckets
    )
    counts = df.select(b.alias("bucket"), F.col(key).alias("k")).groupBy(
        "bucket"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("k").cast("long").alias("n_keys"),
    )
    tot = counts.agg(
        F.sum("n_rows").cast("long").alias("total"),
        F.max("n_rows").cast("long").alias("mx"),
    )
    return counts.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_rows",
        "n_keys",
        F.round(F.col("n_rows") / F.col("total"), 6).alias("share"),
        F.round(
            F.col("mx") * F.lit(n_buckets) / F.col("total"), 6
        ).alias("imbalance"),
    )


def percentile_rank(
    df: DataFrame,
    group: str,
    value: str,
    id_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Per-group mean-rank percentile normalization: every row gets
    ``(id, group, pct)`` with pct = avgrank/n ∈ (0, 1] computed from
    tie-averaged ranks — the rank-based feature scaling that makes
    heavy-tailed signals comparable across groups (quality scores per
    language, engagement per source).

    The doubled-rank device keeps it exact: 2·avgrank =
    2·cum_before + f + 1 is an integer off the per-group
    VALUE-FREQUENCY table, and pct = r2/(2n) is one division.  Rows
    join the rank map back by value — one row-sized hash join; the
    window runs on the distinct-value table only.
    """
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(group).alias("grp"),
        F.round(F.col(value) * 100).cast("long").alias("c"),
    )
    freq = base.groupBy("grp", "c").agg(
        F.count(F.lit(1)).cast("long").alias("f")
    )
    w = Window.partitionBy("grp").orderBy("c")
    rmap = freq.select(
        "grp",
        "c",
        (2 * (F.sum("f").over(w) - F.col("f")) + F.col("f") + 1)
        .cast("long")
        .alias("r2"),
    )
    n = base.groupBy("grp").agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        base.join(rmap, ["grp", "c"])
        .join(F.broadcast(n), "grp")
        .select(
            "id",
            F.col("grp").alias(group),
            F.round(F.col("r2") / (2.0 * F.col("n")), ndigits).alias(
                "pct"
            ),
        )
    )


def topk_others(
    df: DataFrame, group: str, key: str, k: int = 3
) -> DataFrame:
    """Reporting rollup "top-k keys per group + OTHER": ``(group,
    bucket, n_rows, n_keys)`` — the k most frequent keys of each group
    keep their identity (rank by count desc, key asc — deterministic),
    everything else folds into one ``OTHER`` bucket per group.  The
    shape every dashboard query wants and naive GROUP BY can't give:
    bounded output cardinality (k+1 rows per group) no matter how many
    distinct keys the corpus has.

    One (group, key) hash aggregate; the rank window runs on that
    aggregated table (never on rows); the fold is a second
    dimension-sized aggregate.
    """
    counts = df.groupBy(
        F.col(group).alias("grp"), F.col(key).alias("k")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = Window.partitionBy("grp").orderBy(
        F.col("n").desc(), F.col("k").asc()
    )
    bucket = F.when(
        F.row_number().over(w) <= k, F.col("k").cast("string")
    ).otherwise(F.lit("OTHER"))
    return (
        counts.withColumn("bucket", bucket)
        .groupBy(F.col("grp").alias(group), "bucket")
        .agg(
            F.sum("n").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
        )
    )


def quantile_normalize(
    df: DataFrame,
    group: str,
    value: str,
    id_col: str,
) -> DataFrame:
    """Cross-group quantile normalization: every row gets ``(id, group,
    c, norm_c)`` where ``norm_c`` is the POOLED distribution's order
    statistic at the row's within-group mean-rank percentile — after
    it, every group has (up to ties) the same marginal distribution.
    The cross-source calibration step for scores that drift by source
    (one crawl's quality scores run hot; rank-map them onto the pooled
    scale before a global threshold is applied).

    Exact end-to-end: within-group percentiles are the doubled
    tie-averaged rank device (integers), and the pooled quantile
    os(⌈q·N⌉) is read off by the SORT-MERGE PROBE device — the k
    probes union into the pooled cumulative stream (probes sort before
    pooled rows at equal position) and one forward-looking window min
    picks each probe's first pooled value with cum ≥ k.  Every
    arithmetic step integer, zero libm, no range join.  Row-sized
    work: one (group, cents) aggregate and one value-keyed join back;
    the union/window runs on distinct-value-sized tables only.
    """
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(group).cast("string").alias("grp"),
        F.round(F.col(value) * 100).cast("long").alias("c"),
    )
    freq = base.groupBy("grp", "c").agg(
        F.count(F.lit(1)).cast("long").alias("f")
    )
    wg = Window.partitionBy("grp").orderBy("c")
    n_g = base.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("ng")
    )
    # k = ceil(q·N) with q = r2/(2·ng): k = ceil(r2·N / (2·ng)) —
    # exact integer arithmetic via DIV
    rmap = (
        freq.select(
            "grp",
            "c",
            (2 * (F.sum("f").over(wg) - F.col("f")) + F.col("f") + 1)
            .cast("long")
            .alias("r2"),
        )
        .join(F.broadcast(n_g), "grp")
    )
    pooled = base.groupBy("c").agg(
        F.count(F.lit(1)).cast("long").alias("pf")
    )
    wp = Window.orderBy("c")
    pcum = pooled.select(
        F.col("c").alias("pc"), F.sum("pf").over(wp).alias("cum")
    )
    n_tot = base.agg(F.count(F.lit(1)).cast("long").alias("N"))
    k = F.expr("(r2 * N + 2 * ng - 1) DIV (2 * ng)")
    probes = (
        rmap.crossJoin(F.broadcast(n_tot))
        .select(
            "grp",
            "c",
            k.cast("long").alias("pos"),
            F.lit(1).alias("tag"),
            F.lit(None).cast("long").alias("pc"),
        )
    )
    pool = pcum.select(
        F.lit(None).cast("string").alias("grp"),
        F.lit(None).cast("long").alias("c"),
        F.col("cum").cast("long").alias("pos"),
        F.lit(0).alias("tag"),
        F.col("pc").cast("long").alias("pc"),
    )
    wseq = Window.orderBy(F.col("pos"), F.col("tag").desc()).rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    targets = (
        probes.unionByName(pool)
        .withColumn("norm_c", F.min("pc").over(wseq))
        .where(F.col("tag") == 1)
        .select("grp", "c", "norm_c")
    )
    return base.join(targets, ["grp", "c"]).select(
        "id", F.col("grp").alias(group), "c", "norm_c"
    )


def dispersion_index(
    df: DataFrame, group: str, value: str, ndigits: int = 6
) -> DataFrame:
    """Per-group index of dispersion (variance-to-mean ratio) over
    integer cents: ``(series, n, mean, vmr, overdispersed)`` — the
    Poisson-ness check run before trusting count/value models (VMR ≈ 1
    Poisson-like, ≫ 1 bursty/overdispersed — the usual state of web
    traffic, and the reason naive rate alarms misfire).

    Exact-sums device: Σc and Σc² accumulate in decimal(38,0), the
    population variance n·Σc² − (Σc)² stays integer, and the two
    rendering divisions run in one fixed order on both engines.
    Degenerate mean = 0 ⇒ the -9.9 sentinel.  One map-side-combined
    aggregate; nothing else.
    """
    base = df.select(
        F.col(group).alias("series"),
        F.round(F.col(value) * 100).cast("long").alias("c"),
    )
    g = base.groupBy("series").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("c").cast("decimal(38,0)")).alias("sc"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("sc2"),
    )
    nd = F.col("n").cast("double")
    sc = F.col("sc").cast("double")
    sc2 = F.col("sc2").cast("double")
    mean_c = sc / nd
    var_c = (nd * sc2 - sc * sc) / (nd * nd)
    vmr = F.when(sc > 0, var_c / mean_c)
    return g.select(
        "series",
        "n",
        F.round(mean_c / 100.0, ndigits).alias("mean"),
        F.coalesce(F.round(vmr / 100.0, ndigits), F.lit(-9.9)).alias(
            "vmr"
        ),
        F.coalesce(vmr / 100.0 > 1.5, F.lit(False)).alias(
            "overdispersed"
        ),
    )


def _part_return_counts(lineitem: DataFrame) -> DataFrame:
    """Shared per-part rate aggregate of wilson_rates /
    eb_shrunk_rates: ``(l_partkey, n, n_ret)`` — line count and
    returned-line (l_returnflag = 'R') count, exact integers.  ONE
    definition so the predicate/cast chain can't drift between the two
    small-n rate operators."""
    return lineitem.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("l_returnflag") == "R").cast("long")).cast("long").alias("n_ret"),
    )


def wilson_rates(
    lineitem: DataFrame, z: float = 1.96, k: int = 20, ndigits: int = 6
) -> DataFrame:
    """Wilson-score lower-bound rate ranking (Wilson 1927; the
    "sort by lower bound, not by rate" device): per part, the return
    rate (share of lines with l_returnflag = 'R') ranked by the
    z-confidence LOWER bound

        LB = (p̂ + z²/2n − z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n)

    so a 1/1 part cannot outrank a 40/50 part — the small-n correction
    every rate leaderboard needs.  Returns the top ``k`` parts by
    (rounded LB desc, partkey): ``(l_partkey, n, n_ret, rate, lb)``.

    Determinism: n and n_ret are exact integer sums; p̂ and LB are one
    fixed expression tree over them (sqrt is IEEE-correctly-rounded on
    both engines), rounded once; the rank window runs on the
    part-sized AGGREGATE, never the fact table.
    """
    g = _part_return_counts(lineitem)
    zz = F.lit(float(z)) * F.lit(float(z))
    nd = F.col("n").cast("double")
    p = F.col("n_ret").cast("double") / nd
    lb = (
        p
        + zz / (F.lit(2.0) * nd)
        - F.lit(float(z))
        * F.sqrt(p * (F.lit(1.0) - p) / nd + zz / (F.lit(4.0) * nd * nd))
    ) / (F.lit(1.0) + zz / nd)
    s = g.select(
        "l_partkey",
        "n",
        "n_ret",
        F.round(p, ndigits).alias("rate"),
        F.round(lb, ndigits).alias("lb"),
    )
    w = Window.orderBy(F.col("lb").desc(), F.col("l_partkey"))
    return (
        s.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .drop("rnk")
    )


def did_effect(events: DataFrame, split_ts: str = "2024-01-16") -> DataFrame:
    """Two-period difference-in-differences over the events table:
    deterministic treatment assignment (user_id % 2 = 1), periods split
    at ``split_ts``, outcome = purchases per user-period.  One row:
    the four cell means and

        effect = (post_t − pre_t) − (post_c − pre_c)

    Every mean is ONE division of exact integer sums (purchase counts /
    distinct users in the arm — the arm's user count, not the cell's,
    so users inactive in a period count as zero, the panel convention);
    the effect is three subtractions of those identical doubles.  One
    corpus pass for the cell sums + one tiny distinct-user aggregate.
    """
    e = events.select(
        (F.col("user_id") % 2 == 1).cast("int").alias("treat"),
        (F.col("ts").cast("timestamp") >= F.lit(split_ts).cast("timestamp"))
        .cast("int")
        .alias("post"),
        (F.col("event_type") == "purchase").cast("long").alias("y"),
        "user_id",
    )
    cells = e.groupBy("treat", "post").agg(F.sum("y").cast("long").alias("s"))
    arms = (
        e.select("treat", "user_id")
        .distinct()
        .groupBy("treat")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )
    j = cells.join(F.broadcast(arms), "treat")
    m = j.select(
        "treat",
        "post",
        (F.col("s").cast("double") / F.col("n_users")).alias("mean"),
        "s",
        "n_users",
    )
    def cell(t: int, p: int):
        return F.max(
            F.when((F.col("treat") == t) & (F.col("post") == p), F.col("mean"))
        )

    four = m.groupBy().agg(
        cell(0, 0).alias("pc"),
        cell(0, 1).alias("qc"),
        cell(1, 0).alias("pt"),
        cell(1, 1).alias("qt"),
    )
    return four.select(
        F.round(F.col("pc"), 6).alias("pre_ctrl"),
        F.round(F.col("qc"), 6).alias("post_ctrl"),
        F.round(F.col("pt"), 6).alias("pre_treat"),
        F.round(F.col("qt"), 6).alias("post_treat"),
        F.round(
            (F.col("qt") - F.col("pt")) - (F.col("qc") - F.col("pc")), 6
        ).alias("did"),
    )


def eb_shrunk_rates(lineitem: DataFrame, ndigits: int = 6) -> DataFrame:
    """Empirical-Bayes (beta-binomial) rate shrinkage — the other half
    of the small-n toolkit next to ``wilson_rates``: per part, the
    return rate shrunk toward the corpus prior fitted by method of
    moments,

        shrunk_i = (x_i + α) / (n_i + α + β),   α = m·s,  β = (1−m)·s,
        s = m(1−m)/v − 1

    with m, v the mean/variance of the per-group rates.  High-n groups
    keep their rate; 1/1 groups collapse to the prior — the standard
    "rank domains by spam rate without being fooled by tiny domains"
    device in corpus curation.

    Determinism device: each group's rate is quantized ONCE to integer
    micro-units (one rounded division), so the cross-group moment sums
    are EXACT INTEGER sums (Σq, Σq²) — no order-dependent double
    accumulation anywhere; m and v are then single divisions of those
    integers and the shrinkage a fixed expression tree, identical on
    both engines.  v is floored at 1e-12: a (near-)constant rate table
    yields s ≤ 0, clamped to 0 ⇒ no shrinkage.  Plan: one group
    aggregate (the only corpus-sized shuffle) + a one-row moment
    broadcast back onto the group table.
    """
    g = _part_return_counts(lineitem).withColumnRenamed("n_ret", "x")
    q = F.round(F.col("x").cast("double") / F.col("n") * F.lit(1000000.0), 0).cast(
        "long"
    )
    gq = g.withColumn("q", q)
    mom = gq.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("q").cast("long").alias("s1"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("s2"),
    )
    j = gq.crossJoin(F.broadcast(mom))
    kd = F.col("k").cast("double")
    m = F.col("s1").cast("double") / kd / F.lit(1000000.0)
    msq = F.col("s2").cast("double") / kd / F.lit(1000000000000.0)
    v = F.greatest(msq - m * m, F.lit(1e-12))
    s = F.greatest(m * (F.lit(1.0) - m) / v - F.lit(1.0), F.lit(0.0))
    alpha = m * s
    shrunk = (F.col("x").cast("double") + alpha) / (F.col("n").cast("double") + s)
    return j.select(
        "l_partkey",
        "n",
        "x",
        F.round(F.col("x").cast("double") / F.col("n"), ndigits).alias("rate"),
        F.round(shrunk, ndigits).alias("shrunk"),
    )


def mann_kendall(
    events: DataFrame,
    key: str = "event_type",
    value: str = "value",
    cents: int = 100,
    ndigits: int = 6,
) -> DataFrame:
    """Mann–Kendall monotonic-trend test per key over the daily series
    (Mann 1945 / Kendall 1975; the non-parametric significance
    companion to the repo's Theil–Sen slope): S = Σ_{i<j}
    sign(x_j − x_i), tie-corrected Var(S) = [n(n−1)(2n+5) −
    Σ_t t(t−1)(2t+5)]/18, z = (S∓1)/√Var with the standard continuity
    correction.  Flags drifting crawl/ingest volumes without assuming
    normality.

    Exact-sums contract: daily totals are cents-scaled BIGINTs, S and
    both variance terms are exact integers (sum of ±1s / polynomial
    tie counts), so Var is one division and z one division + sqrt —
    bit-identical across engines.

    Scale shape: the event stream collapses to |keys|·|days| rows
    first; the i<j pair join runs per key on that bounded series
    (days² per key, a constant in corpus size), one shuffle on the
    shared key.  Output: ``(key, n, s_stat, var_s, z)``.
    """
    daily = events.groupBy(key, F.to_date("ts").alias("d")).agg(
        F.round(F.sum(value) * cents, 0).cast("long").alias("x")
    )
    a = daily.select(key, F.col("d").alias("di"), F.col("x").alias("xi"))
    b = daily.select(key, F.col("d").alias("dj"), F.col("x").alias("xj"))
    s = (
        a.join(b, key)
        .filter(F.col("di") < F.col("dj"))
        .groupBy(key)
        .agg(F.sum(F.signum(F.col("xj") - F.col("xi"))).cast("long").alias("s_stat"))
    )
    nn = daily.groupBy(key).agg(F.count(F.lit(1)).cast("long").alias("n"))
    ties = (
        daily.groupBy(key, "x")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .groupBy(key)
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie_term")
        )
    )
    out = (
        nn.join(s, key)
        .join(ties, key)
        .select(
            key,
            "n",
            "s_stat",
            (
                (
                    F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                    - F.col("tie_term")
                )
                / F.lit(18.0)
            ).alias("var_raw"),
        )
    )
    z = (
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1) / F.sqrt("var_raw"))
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / F.sqrt("var_raw"))
        .otherwise(F.lit(0.0))
    )
    return out.select(
        key,
        "n",
        "s_stat",
        F.round("var_raw", ndigits).alias("var_s"),
        F.round(z, ndigits).alias("z"),
    )


def kruskal_wallis(
    events: DataFrame,
    key: str = "event_type",
    value: str = "value",
    cents: int = 100,
    ndigits: int = 6,
) -> DataFrame:
    """Kruskal–Wallis H test (1952): do the k groups' value
    distributions differ by rank?  The k-sample extension of the repo's
    Mann–Whitney U — the screening test for "does event value depend on
    type / does doc quality depend on source" without normality.

    Rank arithmetic stays exact: values are cents-scaled BIGINTs,
    average ranks are computed DOUBLED (2·rank = 2·|{x' < x}| + c + 1,
    an integer), so each group's rank sum ``rank_sum2`` is an exact
    integer aggregate; H = [3·Σ R2_j²/n_j]/(N(N+1)) − 3(N+1) and the
    tie-corrected H' = H/(1 − Σ(c³−c)/(N³−N)) follow with one division
    per term (the Σ over k ≈ 5 group terms is the only float sum — its
    error is ~1e-15 relative, far below the 1e-6 output rounding).

    Scale shape: ranks come from the DISTINCT-VALUE table (one count
    aggregate shrinks the stream, then a window over the bounded
    distinct-value domain — for unbounded domains swap in the
    boundary-frozen range rank of operators/suffix.py), group sums are
    plain integer aggregates on (key, x) counts.

    Output: one row per group ``(key, n, rank_sum2, h, h_corrected)``
    with the global H repeated per row (single-row-global + per-group
    evidence in one driver-checkable shape).
    """
    vals = events.select(
        F.col(key).alias("k"),
        F.round(F.col(value) * cents, 0).cast("long").alias("x"),
    )
    vc = vals.groupBy("x").agg(F.count(F.lit(1)).cast("long").alias("c"))
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    ranked = vc.select(
        "x",
        "c",
        (
            2 * F.coalesce(F.sum("c").over(w), F.lit(0)) + F.col("c") + 1
        ).alias("rank2"),
    )
    gx = vals.groupBy("k", "x").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    groups = (
        gx.join(ranked, "x")
        .groupBy("k")
        .agg(
            F.sum("cnt").cast("long").alias("n"),
            F.sum(F.col("cnt") * F.col("rank2")).cast("long").alias("rank_sum2"),
        )
    )
    tot = ranked.agg(
        F.sum("c").cast("long").alias("bign"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("long")
        .alias("ties"),
    )
    hsum = (
        groups.crossJoin(F.broadcast(tot))
        .agg(
            # first factor cast to double: BIGINT·BIGINT would wrap
            # silently once rank_sum2 > ~3e9 (N ≳ 4e4 rows per group);
            # the doubled product rounds identically on both engines
            F.sum(
                (F.col("rank_sum2").cast("double") * F.col("rank_sum2"))
                / F.col("n")
            ).alias("s"),
            F.first("bign").alias("bign"),
            F.first("ties").alias("ties"),
        )
        .select(
            (
                3.0 * F.col("s") / (F.col("bign") * (F.col("bign") + 1))
                - 3.0 * (F.col("bign") + 1)
            ).alias("h_raw"),
            "bign",
            "ties",
        )
        .select(
            "h_raw",
            F.when(
                F.col("ties")
                < F.col("bign") * F.col("bign") * F.col("bign") - F.col("bign"),
                F.col("h_raw")
                / (
                    1.0
                    - F.col("ties")
                    / (
                        F.col("bign") * F.col("bign") * F.col("bign")
                        - F.col("bign")
                    )
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("hc_raw"),
        )
    )
    return groups.crossJoin(F.broadcast(hsum)).select(
        F.col("k").alias(key),
        "n",
        "rank_sum2",
        F.round("h_raw", ndigits).alias("h"),
        F.round("hc_raw", ndigits).alias("h_corrected"),
    )


def chi2_independence(
    df: DataFrame, row_col: str, col_col: str, ndigits: int = 6
) -> DataFrame:
    """Pearson χ² test of independence over the ``row_col × col_col``
    contingency table, one output row: ``(n, r_levels, c_levels, dof,
    chi2, cramers_v)`` — the categorical-association screen (is a
    document's language independent of its crawl source? is event type
    independent of weekday?) that belongs next to the two-sample tests
    (mann_whitney_u, kruskal_wallis) in the quality toolbox.

    Exactness: the corpus collapses to ONE hash aggregate of observed
    cell counts; zero-observed cells are restored by crossing the two
    level dimensions (levels × levels rows — dimension-sized).  Each
    cell term is written as ``(O·N − R·C)² / (N·R·C)``: the inner
    difference is EXACT BIGINT (|O·N|, |R·C| ≤ N² — exact to N ≈ 3·10⁹;
    beyond that switch the margins to DECIMAL), squared after ONE
    identical long→double cast on both engines (IEEE round-to-nearest
    is deterministic, so even past 2⁵³ both engines square the same
    double), then ONE division per cell; the only cross-engine
    order-divergent float op is the Σ over the ≤ levels² cell terms
    (terms are O(N) magnitude; the render rounds to ``ndigits``).
    Cramér's V = √(χ²/(N·min(r−1,c−1))) is a single IEEE sqrt of that
    sum.  Degenerate 1-level margins ⇒ dof 0, chi2 0, V = 0.

    Scale shape: map-side-combined count aggregate (levels² rows out),
    two tiny margin aggregates, one dimension-sized cross join.  The
    corpus is touched exactly once.
    """
    base = df.select(
        F.col(row_col).cast("string").alias("r"),
        F.col(col_col).cast("string").alias("c"),
    ).where(F.col("r").isNotNull() & F.col("c").isNotNull())
    obs = base.groupBy("r", "c").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    rows = obs.groupBy("r").agg(F.sum("o").cast("long").alias("rn"))
    cols = obs.groupBy("c").agg(F.sum("o").cast("long").alias("cn"))
    full = (
        rows.crossJoin(cols)
        .join(obs, ["r", "c"], "left")
        .select(
            "r",
            "c",
            "rn",
            "cn",
            F.coalesce("o", F.lit(0)).cast("long").alias("o"),
        )
    )
    tot = base.agg(F.count(F.lit(1)).cast("long").alias("n"))
    d = (
        F.col("o") * F.col("n") - F.col("rn") * F.col("cn")
    ).cast("double")
    term = (d * d) / (
        F.col("n").cast("double")
        * F.col("rn").cast("double")
        * F.col("cn").cast("double")
    )
    folded = (
        full.crossJoin(F.broadcast(tot))
        .select(
            "n",
            term.alias("term"),
            F.col("r").alias("rl"),
            F.col("c").alias("cl"),
        )
        .agg(
            F.max("n").cast("long").alias("n"),
            F.countDistinct("rl").cast("long").alias("r_levels"),
            F.countDistinct("cl").cast("long").alias("c_levels"),
            F.sum("term").alias("chi2_raw"),
        )
    )
    dof = (F.col("r_levels") - 1) * (F.col("c_levels") - 1)
    mindim = F.least(F.col("r_levels") - 1, F.col("c_levels") - 1)
    v = F.when(
        (mindim > 0) & (F.col("n") > 0),
        F.sqrt(
            F.col("chi2_raw") / (F.col("n").cast("double") * mindim)
        ),
    ).otherwise(F.lit(0.0))
    return folded.select(
        "n",
        "r_levels",
        "c_levels",
        dof.cast("long").alias("dof"),
        F.round(
            F.when(dof > 0, F.col("chi2_raw")).otherwise(F.lit(0.0)),
            ndigits,
        ).alias("chi2"),
        F.round(v, ndigits).alias("cramers_v"),
    )


def anova_oneway(
    df: DataFrame, group_col: str, value_col: str, ndigits: int = 6
) -> DataFrame:
    """One-way ANOVA (Fisher) F statistic of integer-valued
    ``value_col`` across ``group_col`` levels, one output row:
    ``(k, n, dof_between, dof_within, ssb, ssw, msb, msw, f_stat)`` —
    the parametric k-sample location screen next to its rank analogue
    (:func:`kruskal_wallis`): does mean document length differ by
    language?  does mean order value differ by priority class?

    Exactness: the corpus collapses to ONE map-side-combined group
    aggregate of exact BIGINT moments ``(n_g, S_g = Σx, Q_g = Σx²)``;
    totals are BIGINT sums of the k group rows.  The sum-of-squares
    identities are evaluated with ONE long→double division per term:
    ``ssb = Σ_g S_g²/n_g − S²/n`` and ``ssw = Q − Σ_g S_g²/n_g``
    (S_g² is exact while ``(Σ|x|)² < 2⁶³`` — to ~3·10⁹ rows of 10³-
    scale values; beyond that cast the moments to DECIMAL(38,0), same
    plan).  The only cross-engine order-divergent float op is the Σ
    over the k per-group terms (k = |levels|, dimension-sized), which
    the ``ndigits`` render absorbs — the same discipline as
    :func:`chi2_independence`.  Degenerate inputs (k < 2 or n ≤ k or
    ssw = 0) yield NULL f_stat rather than a division by zero.

    Scale shape: one hash aggregate over the corpus (k rows out), one
    k-row fold — the corpus is touched exactly once, nothing is
    sorted, no join.
    """
    base = df.select(
        F.col(group_col).cast("string").alias("g"),
        F.col(value_col).cast("long").alias("x"),
    ).where(F.col("g").isNotNull() & F.col("x").isNotNull())
    groups = base.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("x").cast("long").alias("s_g"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("q_g"),
    )
    term = (
        (F.col("s_g") * F.col("s_g")).cast("double")
        / F.col("n_g").cast("double")
    )
    folded = groups.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("long").alias("s"),
        F.sum("q_g").cast("long").alias("q"),
        F.sum(term).alias("between_raw"),
    )
    grand = (
        (F.col("s") * F.col("s")).cast("double") / F.col("n").cast("double")
    )
    ssb = F.col("between_raw") - grand
    ssw = F.col("q").cast("double") - F.col("between_raw")
    dof1 = (F.col("k") - 1).cast("long")
    dof2 = (F.col("n") - F.col("k")).cast("long")
    msb = F.when(dof1 > 0, ssb / dof1.cast("double"))
    msw = F.when(dof2 > 0, ssw / dof2.cast("double"))
    f_stat = F.when(
        (dof1 > 0) & (dof2 > 0) & (ssw > 0), msb / msw
    )
    return folded.select(
        "k",
        "n",
        dof1.alias("dof_between"),
        dof2.alias("dof_within"),
        F.round(ssb, ndigits).alias("ssb"),
        F.round(ssw, ndigits).alias("ssw"),
        F.round(msb, ndigits).alias("msb"),
        F.round(msw, ndigits).alias("msw"),
        F.round(f_stat, ndigits).alias("f_stat"),
    )


def levene_brown_forsythe(
    df: DataFrame, group_col: str, value_col: str, ndigits: int = 6
) -> DataFrame:
    """Brown–Forsythe (1974) robust Levene test of variance
    homogeneity across ``group_col`` levels — the gatekeeper ANOVA's
    equal-variance assumption is checked with: W = the one-way ANOVA
    F statistic computed on ``z = |x − median_g|``.  Because F is
    scale-invariant, W is computed on ``z2 = |2·x − median2_g|``
    (``median2_g`` = os(⌈n/2⌉)+os(⌈(n+1)/2⌉), the doubled exact group
    median that stays an INTEGER for even groups) — so every moment
    entering the ANOVA identities is an exact BIGINT and the whole
    statistic shares :func:`anova_oneway`'s one-division-per-term
    float discipline.  ssb/ssw are reported on the doubled-z scale
    (4× the z scale; W itself is unaffected, documented for the twin).

    Scale shape: one (group, value) frequency aggregate (map-side
    combined), the cumulative window on the VALUE-FREQUENCY table
    (distinct-value-sized per group), a broadcast join of the
    group-median dimension back onto the corpus, then the single
    corpus-touch ANOVA aggregate — two corpus passes total, no sort
    of row-sized data.
    """
    base = df.select(
        F.col(group_col).cast("string").alias("g"),
        F.col(value_col).cast("long").alias("x"),
    ).where(F.col("g").isNotNull() & F.col("x").isNotNull())
    freq = base.groupBy("g", "x").agg(
        F.count(F.lit(1)).cast("long").alias("f")
    )
    w = Window.partitionBy("g").orderBy("x")
    cum = freq.select("g", "x", F.sum("f").over(w).alias("cum"))
    n = base.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("n_g"))
    j = cum.join(F.broadcast(n), "g").select(
        "g",
        "x",
        "cum",
        F.expr("(n_g + 1) DIV 2").alias("k1"),
        F.expr("(n_g + 2) DIV 2").alias("k2"),
    )
    med = j.groupBy("g").agg(
        (
            F.min(F.when(F.col("cum") >= F.col("k1"), F.col("x")))
            + F.min(F.when(F.col("cum") >= F.col("k2"), F.col("x")))
        )
        .cast("long")
        .alias("median2")
    )
    z = base.join(F.broadcast(med), "g").select(
        "g",
        F.abs(F.lit(2) * F.col("x") - F.col("median2"))
        .cast("long")
        .alias("z2"),
    )
    out = anova_oneway(z, "g", "z2", ndigits=ndigits)
    return out.select(
        "k",
        "n",
        "dof_between",
        "dof_within",
        "ssb",
        "ssw",
        F.col("f_stat").alias("w_stat"),
    )


def decision_stump(
    df: DataFrame, feature_col: str, label_col: str, ndigits: int = 6
) -> DataFrame:
    """Best single-threshold split (a depth-1 CART node, the weak
    learner under every boosted-tree stack) of integer ``feature_col``
    against binary ``label_col``: one output row ``(threshold, n_left,
    n_right, pos_left, pos_right, gini_left, gini_right,
    weighted_gini, gain)`` where left = ``x ≤ threshold`` and the
    winning threshold maximizes the Gini gain.

    Exactness: the corpus collapses to ONE (value → count, positives)
    frequency aggregate; cumulative counts come from a window over the
    DISTINCT-VALUE table.  The argmax ranks by ``m = (posL²+negL²)/nL
    + (posR²+negR²)/nR`` (maximizing m ⇔ minimizing weighted Gini,
    the n−m identity) — each candidate's m is TWO long→double
    divisions and one add, the identical op shape on both engines, so
    equal candidates compare equal and the (m DESC, threshold ASC)
    order is engine-reproducible without any float-sum ordering risk.
    Degenerate inputs (one distinct value, or n = 0) yield an empty
    result rather than a divide-by-zero.

    Scale shape: map-side-combined frequency aggregate (distinct-
    value-sized output), windows and the final pick on that dimension
    table; the corpus is touched exactly once.
    """
    base = df.select(
        F.col(feature_col).cast("long").alias("x"),
        F.col(label_col).cast("long").alias("y"),
    ).where(F.col("x").isNotNull() & F.col("y").isNotNull())
    freq = base.groupBy("x").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("y").cast("long").alias("pos"),
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    cum = freq.select(
        "x",
        F.sum("cnt").over(w).cast("long").alias("n_l"),
        F.sum("pos").over(w).cast("long").alias("pos_l"),
    )
    tot = freq.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("pos_t"),
    )
    cand = cum.crossJoin(F.broadcast(tot)).where(F.col("n_l") < F.col("n"))
    neg_l = F.col("n_l") - F.col("pos_l")
    n_r = F.col("n") - F.col("n_l")
    pos_r = F.col("pos_t") - F.col("pos_l")
    neg_r = n_r - pos_r
    sq = lambda c: (c * c).cast("double")  # noqa: E731
    m = (sq(F.col("pos_l")) + sq(neg_l)) / F.col("n_l").cast("double") + (
        sq(pos_r) + sq(neg_r)
    ) / n_r.cast("double")
    scored = cand.select(
        "x",
        "n_l",
        "pos_l",
        "n",
        "pos_t",
        n_r.alias("n_r"),
        pos_r.alias("pos_r"),
        m.alias("m"),
        (
            F.lit(1.0)
            - (sq(F.col("pos_l")) + sq(neg_l))
            / sq(F.col("n_l"))
        ).alias("gini_left"),
        (F.lit(1.0) - (sq(pos_r) + sq(neg_r)) / sq(n_r)).alias(
            "gini_right"
        ),
    )
    pick = Window.orderBy(F.col("m").desc(), F.col("x").asc())
    best = scored.withColumn("rn", F.row_number().over(pick)).where(
        F.col("rn") == 1
    )
    parent = F.lit(1.0) - (
        sq(F.col("pos_t")) + sq(F.col("n") - F.col("pos_t"))
    ) / sq(F.col("n"))
    wg = (F.col("n").cast("double") - F.col("m")) / F.col("n").cast(
        "double"
    )
    return best.select(
        F.col("x").alias("threshold"),
        F.col("n_l").alias("n_left"),
        F.col("n_r").alias("n_right"),
        F.col("pos_l").alias("pos_left"),
        F.col("pos_r").alias("pos_right"),
        F.round("gini_left", ndigits).alias("gini_left"),
        F.round("gini_right", ndigits).alias("gini_right"),
        F.round(wg, ndigits).alias("weighted_gini"),
        F.round(parent - wg, ndigits).alias("gain"),
    )


def welch_t(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    ndigits: int = 6,
) -> DataFrame:
    """Welch's unequal-variance two-sample t test (Welch, Biometrika
    1947) of integer-valued ``value_col`` between ``group_a`` and
    ``group_b``, one output row: ``(n_a, n_b, mean_a, mean_b, var_a,
    var_b, t_stat, dof, cohens_d)`` — the parametric 2-sample location
    screen next to :func:`mann_whitney_u`'s rank form and
    :func:`anova_oneway`'s k-sample form; Welch because corpus strata
    (languages, sources, event types) never share a variance.
    ``dof`` is the Welch–Satterthwaite effective degrees of freedom;
    ``cohens_d`` is the pooled-SD standardized effect size (the
    practical readout — a huge corpus makes any difference
    "significant").

    Exactness: one map-side-combined aggregate of exact BIGINT moments
    ``(n, S = Σx, Q = Σx²)`` per group (conditional sums, single corpus
    pass); every downstream quantity is a FIXED float chain over those
    six longs — sample variance as ``(n·Q − S²) / (n·(n−1))`` with the
    numerator exact while ``n·Q < 2⁶³`` — so both engines replay
    identical IEEE ops in identical order (the :func:`anova_oneway`
    discipline, with no order-divergent Σ at all).  Degenerate inputs
    (either n < 2, or both variances 0) yield NULL variance/t_stat/dof
    — every division sits in a lazy When branch so ANSI mode never
    evaluates a zero divisor.

    Scale shape: one hash aggregate producing a single row; nothing is
    sorted, no join, no shuffle beyond the 1-row combine.
    """
    base = df.select(
        F.col(group_col).cast("string").alias("g"),
        F.col(value_col).cast("long").alias("x"),
    ).where(F.col("g").isin(group_a, group_b) & F.col("x").isNotNull())
    is_a = F.col("g") == group_a

    def mom(cond):
        return [
            F.sum(F.when(cond, 1).otherwise(0)).cast("long"),
            F.sum(F.when(cond, F.col("x")).otherwise(0)).cast("long"),
            F.sum(F.when(cond, F.col("x") * F.col("x")).otherwise(0)).cast("long"),
        ]

    na, sa, qa = mom(is_a)
    nb, sb, qb = mom(~is_a)
    agg = base.agg(
        na.alias("n_a"), sa.alias("s_a"), qa.alias("q_a"),
        nb.alias("n_b"), sb.alias("s_b"), qb.alias("q_b"),
    )

    def var(n, s, q):
        # guarded (lazy When branch) so ANSI mode never sees a zero
        # divisor on a degenerate group
        return F.when(
            n >= 2,
            (n * q - s * s).cast("double")
            / (n * (n - F.lit(1))).cast("double"),
        )

    n_a, s_a, q_a = F.col("n_a"), F.col("s_a"), F.col("q_a")
    n_b, s_b, q_b = F.col("n_b"), F.col("s_b"), F.col("q_b")
    mean_a = F.when(n_a >= 1, s_a.cast("double") / n_a.cast("double"))
    mean_b = F.when(n_b >= 1, s_b.cast("double") / n_b.cast("double"))
    var_a = var(n_a, s_a, q_a)
    var_b = var(n_b, s_b, q_b)
    both = (n_a >= 2) & (n_b >= 2)
    se_a = F.when(both, var_a / n_a.cast("double"))
    se_b = F.when(both, var_b / n_b.cast("double"))
    se2 = F.when(both, se_a + se_b)
    ok = both & (se2 > 0)  # NULL se2 → NULL cond → falls through to NULL
    t_stat = F.when(ok, (mean_a - mean_b) / F.sqrt(se2))
    dof = F.when(
        ok,
        (se2 * se2)
        / (
            se_a * se_a / (n_a - F.lit(1)).cast("double")
            + se_b * se_b / (n_b - F.lit(1)).cast("double")
        ),
    )
    pooled = F.when(
        both,
        ((n_a - F.lit(1)).cast("double") * var_a
         + (n_b - F.lit(1)).cast("double") * var_b)
        / (n_a + n_b - F.lit(2)).cast("double"),
    )
    cohens_d = F.when(both & (pooled > 0), (mean_a - mean_b) / F.sqrt(pooled))
    return agg.select(
        "n_a",
        "n_b",
        F.round(mean_a, ndigits).alias("mean_a"),
        F.round(mean_b, ndigits).alias("mean_b"),
        F.round(var_a, ndigits).alias("var_a"),
        F.round(var_b, ndigits).alias("var_b"),
        F.round(t_stat, ndigits).alias("t_stat"),
        F.round(dof, ndigits).alias("dof"),
        F.round(cohens_d, ndigits).alias("cohens_d"),
    )


def mcnemar_paired(
    flags: DataFrame, a_col: str, b_col: str, ndigits: int = 6
) -> DataFrame:
    """McNemar's test (Psychometrika 1947) on paired binary outcomes —
    one row per subject with boolean columns ``a_col`` / ``b_col``
    (same items judged by two gates / models / annotators), one output
    row ``(n, n_both, n_neither, n_a_only, n_b_only, chi2_cc)`` with
    the Edwards continuity-corrected statistic
    ``(|b − c| − 1)² / (b + c)`` over the discordant counts
    b = ``n_a_only``, c = ``n_b_only``.  The canonical "did the new
    filter change which documents pass?" screen: concordant pairs
    carry no information, so corpus size doesn't drown the comparison
    the way a two-proportion z on overlapping samples does.

    Exactness: four conditional BIGINT counts in one aggregate pass +
    one fixed float chain; NULL chi2_cc when b + c = 0 (no discordant
    pairs — the gates agree everywhere).  Map-only into a 1-row
    combine, same shape as :func:`welch_t`.
    """
    a = F.col(a_col).cast("boolean")
    b = F.col(b_col).cast("boolean")

    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    agg = flags.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        cnt(a & b).alias("n_both"),
        cnt(~a & ~b).alias("n_neither"),
        cnt(a & ~b).alias("n_a_only"),
        cnt(~a & b).alias("n_b_only"),
    )
    bb, cc = F.col("n_a_only"), F.col("n_b_only")
    diff = F.abs(bb - cc).cast("double")
    denom = (bb + cc).cast("double")
    chi2 = F.when(
        bb + cc > 0,
        (diff - F.lit(1.0)) * (diff - F.lit(1.0)) / denom,
    )
    return agg.select(
        "n", "n_both", "n_neither", "n_a_only", "n_b_only",
        F.round(chi2, ndigits).alias("chi2_cc"),
    )


def cmh_test(
    flags: DataFrame,
    stratum_col: str,
    exposed_col: str,
    outcome_col: str,
    correction: bool = False,
    ndigits: int = 6,
) -> DataFrame:
    """Cochran–Mantel–Haenszel stratified 2×2 association test
    (Cochran, Biometrics 1954; Mantel & Haenszel, JNCI 1959) — does a
    binary exposure associate with a binary outcome AFTER controlling
    for a confounding stratum (the Simpson's-paradox guard the
    marginal :func:`chi2_independence` lacks)?  One output row
    ``(n_strata, n, sum_a, cmh_chi2, or_mh)`` over per-stratum tables
    (a=x∧y, b=x∧¬y, c=¬x∧y, d=¬x∧¬y): CMH = (Σa − ΣE)²/ΣV with
    E_k=(a+b)(a+c)/n_k and V_k=(a+b)(c+d)(a+c)(b+d)/(n_k²(n_k−1)),
    plus the Mantel–Haenszel common odds ratio
    Σ(a_k·d_k/n_k)/Σ(b_k·c_k/n_k).  ``correction`` applies the
    Mantel continuity correction (|Σa−ΣE|−½, floored at 0).

    Exactness: the corpus collapses to ONE hash aggregate of four
    conditional BIGINT counts per stratum (the :func:`welch_t` moment
    discipline); each stratum's E, V, a·d/n, b·c/n are a fixed float
    chain over those longs, micro-quantized ONCE to an integer at 10⁶
    (the B³ device — the only cross-engine order-divergent op, the Σ
    over strata, becomes an exact integer sum), and the statistic is a
    fixed float tree over five longs.  Strata with n_k < 2 are
    excluded (V undefined; a−E is identically 0 there anyway); NULL
    cmh_chi2 when ΣV = 0, NULL or_mh when Σb·c/n = 0.

    Scale shape: map-side-combined aggregate → strata-count rows → one
    1-row fold.  The corpus is touched exactly once, nothing sorted.
    """
    base = flags.select(
        F.col(stratum_col).cast("string").alias("k"),
        F.col(exposed_col).cast("boolean").alias("x"),
        F.col(outcome_col).cast("boolean").alias("y"),
    ).where(
        F.col("k").isNotNull()
        & F.col("x").isNotNull()
        & F.col("y").isNotNull()
    )
    x, y = F.col("x"), F.col("y")

    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    cells = (
        base.groupBy("k")
        .agg(
            cnt(x & y).alias("a"),
            cnt(x & ~y).alias("b"),
            cnt(~x & y).alias("c"),
            cnt(~x & ~y).alias("d"),
        )
        .where(F.col("a") + F.col("b") + F.col("c") + F.col("d") >= 2)
    )
    a, b, c, d = F.col("a"), F.col("b"), F.col("c"), F.col("d")
    n = (a + b + c + d).cast("long")
    nd = n.cast("double")
    ab = (a + b).cast("double")
    cd_ = (c + d).cast("double")
    ac = (a + c).cast("double")
    bd = (b + d).cast("double")
    q = F.lit(1000000.0)

    def quant(expr):
        return F.round(expr, 0).cast("long")

    per = cells.select(
        a.alias("a"),
        n.alias("nk"),
        quant(q * ab * ac / nd).alias("eq"),
        quant(
            q * (ab * cd_) * (ac * bd)
            / ((nd * nd) * (n - F.lit(1)).cast("double"))
        ).alias("vq"),
        quant(q * (a * d).cast("double") / nd).alias("rq"),
        quant(q * (b * c).cast("double") / nd).alias("sq"),
    )
    tot = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum("nk").cast("long").alias("n"),
        F.sum("a").cast("long").alias("sum_a"),
        F.sum("eq").cast("long").alias("eqs"),
        F.sum("vq").cast("long").alias("vqs"),
        F.sum("rq").cast("long").alias("rqs"),
        F.sum("sq").cast("long").alias("sqs"),
    )
    e_tot = F.col("eqs").cast("double") / q
    v_tot = F.col("vqs").cast("double") / q
    diff = F.col("sum_a").cast("double") - e_tot
    if correction:
        diff = F.greatest(F.abs(diff) - F.lit(0.5), F.lit(0.0))
    cmh = F.when(v_tot > 0, diff * diff / v_tot)
    or_mh = F.when(
        F.col("sqs") > 0,
        F.col("rqs").cast("double") / F.col("sqs").cast("double"),
    )
    return tot.select(
        "n_strata",
        "n",
        "sum_a",
        F.round(cmh, ndigits).alias("cmh_chi2"),
        F.round(or_mh, ndigits).alias("or_mh"),
    )


def kendall_tau_b(
    df: DataFrame,
    x_col: str,
    y_col: str,
    stage_dir: str | None = None,
    ndigits: int = 6,
) -> DataFrame:
    """Kendall's τ-b rank correlation (Kendall, Biometrika 1938; the
    tie-corrected τ-b form) between two ORDINAL integer columns, one
    output row ``(n, n_pairs, concordant, discordant, ties_x, ties_y,
    tau_b)`` — the ordinal complement to :func:`spearman_corr` (which
    needs global ranks) and the association direction
    :func:`chi2_independence` is blind to.

    Exactness + scale: the corpus collapses to the (x, y) CONTINGENCY
    CELL table in one hash aggregate, and every pair count is a fold
    over CELL PAIRS, not row pairs — concordant/discordant by a
    cells×cells self-join on x₁ < x₂ (levels² work, corpus-sized never
    squared), tie terms from the two margin tables via the exact
    binomial ``t·(t−1) DIV 2``, within-cell pairs joint ties.  All
    counts exact BIGINT; τ-b = (C−D)/√((n₀−Tx)(n₀−Ty)) is a fixed
    3-op float tree (the two factors cast to double BEFORE the product
    — n₀ ≈ n²/2 overflows int64 squared past n ≈ 3·10⁹).  NULL when
    either factor is 0 (a constant column has no rank order).

    Callers bucket continuous inputs first (deciles etc.) — τ-b on a
    bounded ordinal scale keeps the cell table dimension-sized at any
    corpus size.
    """
    base = df.select(
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    ).where(F.col("x").isNotNull() & F.col("y").isNotNull())
    # the cell table fans out over four branches (margins, total, the
    # self-join) — round-trip it so the corpus is scanned exactly ONCE
    cells = cut(
        base.groupBy("x", "y").agg(
            F.count(F.lit(1)).cast("long").alias("c")
        ),
        f"{scratch_dir(stage_dir, 'ddaugner_tau_')}/cells",
    )

    def c2(col):
        return (col * (col - F.lit(1)) / F.lit(2)).cast("long")

    xm = cells.groupBy("x").agg(F.sum("c").cast("long").alias("t"))
    ym = cells.groupBy("y").agg(F.sum("c").cast("long").alias("t"))
    tx = xm.agg(F.sum(c2(F.col("t"))).cast("long").alias("ties_x"))
    ty = ym.agg(F.sum(c2(F.col("t"))).cast("long").alias("ties_y"))
    tot = cells.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(c2(F.col("c"))).cast("long").alias("joint"),
    )
    a = cells.alias("a")
    b = cells.alias("b")
    prod = (F.col("a.c") * F.col("b.c")).cast("long")
    pairs = (
        a.join(b, F.col("a.x") < F.col("b.x"))
        .agg(
            F.sum(F.when(F.col("a.y") < F.col("b.y"), prod).otherwise(0))
            .cast("long")
            .alias("concordant"),
            F.sum(F.when(F.col("a.y") > F.col("b.y"), prod).otherwise(0))
            .cast("long")
            .alias("discordant"),
        )
    )
    j = tot.crossJoin(tx).crossJoin(ty).crossJoin(pairs)
    n0 = c2(F.col("n"))
    fx = (n0 - F.col("ties_x")).cast("double")
    fy = (n0 - F.col("ties_y")).cast("double")
    tau = F.when(
        (fx > 0) & (fy > 0),
        (F.col("concordant") - F.col("discordant")).cast("double")
        / F.sqrt(fx * fy),
    )
    return j.select(
        "n",
        n0.alias("n_pairs"),
        "concordant",
        "discordant",
        "ties_x",
        "ties_y",
        F.round(tau, ndigits).alias("tau_b"),
    )


def cronbach_alpha(
    flags: DataFrame, item_cols: list[str], ndigits: int = 6
) -> DataFrame:
    """Cronbach's α internal-consistency coefficient (Cronbach,
    Psychometrika 1951) over k 0/1 item columns per row (do the k
    quality gates measure one underlying construct?), one output row
    ``(n, k, items_var_num, total_var_num, alpha)``.

    Exactness: α = k/(k−1) · (1 − Σᵢσ²ᵢ / σ²_X) with X = Σᵢ itemᵢ; all
    variances share the ``(n·Q − S²) / (n·(n−1))`` form, so the common
    denominator CANCELS and the ratio is a division of two EXACT
    BIGINT numerators — ``items_var_num = Σᵢ(n·Qᵢ − Sᵢ²)`` and
    ``total_var_num = n·Q_X − S_X²`` — from ONE map-side-combined
    aggregate pass (the :func:`welch_t` moment discipline; 2k+3 longs
    total).  The whole statistic is two float divisions.  NULL when
    n < 2 or the total variance is 0 (every row has the same score).

    Scale shape: map-only into a 1-row combine; the corpus is touched
    exactly once, nothing is shuffled but the single combine row.
    """
    if len(item_cols) < 2:
        raise ValueError("cronbach_alpha needs >= 2 items")
    k = len(item_cols)
    items = [F.col(c).cast("boolean").cast("long") for c in item_cols]
    xsum = items[0]
    for it in items[1:]:
        xsum = xsum + it
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for i, it in enumerate(items):
        aggs.append(F.sum(it).cast("long").alias(f"s{i}"))
        aggs.append(F.sum(it * it).cast("long").alias(f"q{i}"))
    aggs.append(F.sum(xsum).cast("long").alias("sx"))
    aggs.append(F.sum(xsum * xsum).cast("long").alias("qx"))
    agg = flags.agg(*aggs)
    n = F.col("n")
    item_num = None
    for i in range(k):
        t = n * F.col(f"q{i}") - F.col(f"s{i}") * F.col(f"s{i}")
        item_num = t if item_num is None else item_num + t
    total_num = n * F.col("qx") - F.col("sx") * F.col("sx")
    out = agg.select(
        "n",
        F.lit(k).cast("long").alias("k"),
        item_num.cast("long").alias("items_var_num"),
        total_num.cast("long").alias("total_var_num"),
    )
    alpha = F.when(
        (F.col("n") >= 2) & (F.col("total_var_num") > 0),
        F.lit(k / (k - 1.0))
        * (
            F.lit(1.0)
            - F.col("items_var_num").cast("double")
            / F.col("total_var_num").cast("double")
        ),
    )
    return out.select(
        "n", "k", "items_var_num", "total_var_num",
        F.round(alpha, ndigits).alias("alpha"),
    )


def runs_test(
    seq: DataFrame, order_col: str, flag_col: str, ndigits: int = 6
) -> DataFrame:
    """Wald–Wolfowitz runs test (Ann. Math. Stat. 1940) for randomness
    of a dichotomized sequence ordered by ``order_col``, one output row
    ``(n, n_true, n_false, runs, z)``: too few runs ⇒ clumping/trend,
    too many ⇒ alternation.  z = (R − μ)/σ with μ = 2·n₁·n₂/n + 1 and
    σ² = 2n₁n₂(2n₁n₂ − n) / (n²(n−1)).

    The run count is a lag-window sort of the ALREADY-AGGREGATED
    sequence (callers pass day/bucket rows, not the raw corpus — the
    single-partition global sort is deliberate and dimension-sized,
    the :func:`~ddaugner_spark.operators.events.page_hinkley`
    discipline); counts exact BIGINT, z a fixed float chain with every
    product cast to double BEFORE multiplication.  NULL z when either
    side is empty or n < 2 (σ = 0).
    """
    from pyspark.sql import Window

    base = seq.select(
        F.col(order_col).alias("o"),
        F.col(flag_col).cast("boolean").alias("f"),
    ).where(F.col("o").isNotNull() & F.col("f").isNotNull())
    w = Window.orderBy("o")
    stepped = base.select(
        "f", F.lag("f").over(w).alias("prev")
    )
    agg = stepped.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("f"), 1).otherwise(0)).cast("long").alias("n_true"),
        F.sum(F.when(~F.col("f"), 1).otherwise(0)).cast("long").alias("n_false"),
        (
            F.lit(1)
            + F.sum(
                F.when(
                    F.col("prev").isNotNull()
                    & (F.col("f") != F.col("prev")),
                    1,
                ).otherwise(0)
            )
        )
        .cast("long")
        .alias("runs"),
    )
    n = F.col("n").cast("double")
    p2 = F.lit(2.0) * F.col("n_true").cast("double") * F.col("n_false").cast("double")
    mu = p2 / n + F.lit(1.0)
    var = (
        p2 * (p2 - n)
        / ((n * n) * (F.col("n") - F.lit(1)).cast("double"))
    )
    z = F.when(
        (F.col("n_true") > 0) & (F.col("n_false") > 0) & (F.col("n") >= 2)
        & (var > 0),
        (F.col("runs").cast("double") - mu) / F.sqrt(var),
    )
    return agg.select(
        "n", "n_true", "n_false",
        F.when(F.col("n") > 0, F.col("runs")).otherwise(0).alias("runs"),
        F.round(z, ndigits).alias("z"),
    )


def cliffs_delta(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    stage_dir: str | None = None,
    ndigits: int = 6,
) -> DataFrame:
    """Cliff's δ ordinal effect size (Cliff, Psych. Bulletin 1993) —
    δ = (#(a>b) − #(a<b)) / (n_a·n_b) over all cross-group pairs, the
    distribution-free "how often does group a dominate" readout that
    belongs next to the Mann–Whitney U it is a linear function of
    (δ = 2U/(n_a·n_b) − 1) but reports as an interpretable [−1, 1]
    effect instead of a test statistic.  One output row ``(n_a, n_b,
    n_gt, n_lt, n_eq, delta)``.

    Exactness + scale: the :func:`kendall_tau_b` device — each group
    collapses to its distinct-VALUE count table in one hash aggregate,
    and the pair counting is a value-cells×value-cells join (levels²
    work), never a row-pair join; all counts exact BIGINT, δ is one
    division with the denominator cast to double BEFORE the product.
    Callers bucket genuinely continuous inputs first.
    """
    base = df.select(
        F.col(group_col).cast("string").alias("g"),
        F.col(value_col).cast("long").alias("v"),
    ).where(F.col("v").isNotNull() & F.col("g").isin(group_a, group_b))
    # four downstream branches (two sides × pair join + totals) —
    # round-trip the value-cell table so the corpus is scanned ONCE
    cells = cut(
        base.groupBy("g", "v").agg(
            F.count(F.lit(1)).cast("long").alias("c")
        ),
        f"{scratch_dir(stage_dir, 'ddaugner_cliffs_')}/cells",
    )
    ca = cells.where(F.col("g") == group_a).select(
        F.col("v").alias("va"), F.col("c").alias("cnt_a")
    )
    cb = cells.where(F.col("g") == group_b).select(
        F.col("v").alias("vb"), F.col("c").alias("cnt_b")
    )
    prod = (F.col("cnt_a") * F.col("cnt_b")).cast("long")
    pairs = ca.crossJoin(cb).agg(
        F.sum(F.when(F.col("va") > F.col("vb"), prod).otherwise(0))
        .cast("long")
        .alias("n_gt"),
        F.sum(F.when(F.col("va") < F.col("vb"), prod).otherwise(0))
        .cast("long")
        .alias("n_lt"),
        F.sum(F.when(F.col("va") == F.col("vb"), prod).otherwise(0))
        .cast("long")
        .alias("n_eq"),
    )
    na = ca.agg(F.sum("cnt_a").cast("long").alias("n_a"))
    nb = cb.agg(F.sum("cnt_b").cast("long").alias("n_b"))
    j = na.crossJoin(nb).crossJoin(pairs)
    delta = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0),
        (F.col("n_gt") - F.col("n_lt")).cast("double")
        / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
    )
    return j.select(
        "n_a", "n_b", "n_gt", "n_lt", "n_eq",
        F.round(delta, ndigits).alias("delta"),
    )


def tost_equivalence(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    margin: float,
    ndigits: int = 6,
) -> DataFrame:
    """Two-one-sided-tests equivalence analysis (Schuirmann, J. Pharma-
    cokinet. 1987) — the "prove NO regression" mirror of
    :func:`welch_t`: a difference test failing to reject says nothing;
    TOST rejects ``|μ_a − μ_b| ≥ margin`` when BOTH one-sided t's
    clear their critical value.  One row ``(n_a, n_b, mean_diff, se,
    dof, t_lower, t_upper)`` with t_lower = (Δ + margin)/se (tests
    Δ ≤ −margin), t_upper = (Δ − margin)/se (tests Δ ≥ +margin),
    Welch–Satterthwaite dof; the caller compares against its t
    critical value (kept out of the engine — quantiles are a client
    decision, the repo ships statistics, not verdicts).

    Exactness + scale: the :func:`welch_t` discipline verbatim — six
    exact BIGINT moments in one map-side-combined pass, then a fixed
    float chain; NULLs when either group has n < 2 or se = 0.
    """
    base = df.select(
        F.col(group_col).cast("string").alias("g"),
        F.col(value_col).cast("long").alias("x"),
    ).where(F.col("g").isin(group_a, group_b) & F.col("x").isNotNull())
    is_a = F.col("g") == group_a

    def mom(cond):
        return [
            F.sum(F.when(cond, 1).otherwise(0)).cast("long"),
            F.sum(F.when(cond, F.col("x")).otherwise(0)).cast("long"),
            F.sum(F.when(cond, F.col("x") * F.col("x")).otherwise(0)).cast("long"),
        ]

    na_, sa_, qa_ = mom(is_a)
    nb_, sb_, qb_ = mom(~is_a)
    agg = base.agg(
        na_.alias("n_a"), sa_.alias("s_a"), qa_.alias("q_a"),
        nb_.alias("n_b"), sb_.alias("s_b"), qb_.alias("q_b"),
    )
    n_a, s_a, q_a = F.col("n_a"), F.col("s_a"), F.col("q_a")
    n_b, s_b, q_b = F.col("n_b"), F.col("s_b"), F.col("q_b")

    def var(n, s, q):
        return F.when(
            n >= 2,
            (n * q - s * s).cast("double")
            / (n * (n - F.lit(1))).cast("double"),
        )

    mean_a = F.when(n_a >= 1, s_a.cast("double") / n_a.cast("double"))
    mean_b = F.when(n_b >= 1, s_b.cast("double") / n_b.cast("double"))
    both = (n_a >= 2) & (n_b >= 2)
    se_a = F.when(both, var(n_a, s_a, q_a) / n_a.cast("double"))
    se_b = F.when(both, var(n_b, s_b, q_b) / n_b.cast("double"))
    se2 = F.when(both, se_a + se_b)
    ok = both & (se2 > 0)
    se = F.when(ok, F.sqrt(se2))
    diff = mean_a - mean_b
    dof = F.when(
        ok,
        (se2 * se2)
        / (
            se_a * se_a / (n_a - F.lit(1)).cast("double")
            + se_b * se_b / (n_b - F.lit(1)).cast("double")
        ),
    )
    m = F.lit(float(margin))
    return agg.select(
        "n_a",
        "n_b",
        F.round(diff, ndigits).alias("mean_diff"),
        F.round(se, ndigits).alias("se"),
        F.round(dof, ndigits).alias("dof"),
        F.round(F.when(ok, (diff + m) / se), ndigits).alias("t_lower"),
        F.round(F.when(ok, (diff - m) / se), ndigits).alias("t_upper"),
    )


def wasserstein_1d(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    stage_dir: str | None = None,
    ndigits: int = 6,
) -> DataFrame:
    """Exact 1-D Wasserstein-1 (earth mover's) distance between two
    groups' INTEGER value distributions — W₁ = ∫|F_a − F_b| over the
    value axis, the "how much mass moved how far" drift metric that
    sees what :func:`~ddaugner_spark.operators.events` KS misses (KS
    takes the max CDF gap, W₁ integrates all of them).  One row
    ``(n_a, n_b, w1_num, w1)``.

    Exactness: on the distinct-value grid the integral is the EXACT
    BIGINT sum  Σ_v |cumA(v)·n_b − cumB(v)·n_a| · gap(v)  over
    consecutive grid values, divided ONCE by n_a·n_b — no float enters
    until the final division (cum counts ≤ n, the cross products ≤
    n_a·n_b ≤ int64 to n ≈ 3·10⁹; gap multiplies within the value
    range — document your scale).  The cell/cumulative machinery is
    the :func:`kendall_tau_b` shape: corpus → distinct-value cells in
    ONE pass (round-tripped), then one dimension-sized window.
    """
    base = df.select(
        F.col(group_col).cast("string").alias("g"),
        F.col(value_col).cast("long").alias("v"),
    ).where(F.col("v").isNotNull() & F.col("g").isin(group_a, group_b))
    cells = cut(
        base.groupBy("v").agg(
            F.sum(F.when(F.col("g") == group_a, 1).otherwise(0))
            .cast("long")
            .alias("ca"),
            F.sum(F.when(F.col("g") == group_b, 1).otherwise(0))
            .cast("long")
            .alias("cb"),
        ),
        f"{scratch_dir(stage_dir, 'ddaugner_w1_')}/cells",
    )
    w = Window.orderBy("v")
    stepped = cells.select(
        "v",
        F.sum("ca").over(w).alias("cuma"),
        F.sum("cb").over(w).alias("cumb"),
        (F.lead("v").over(w) - F.col("v")).alias("gap"),
    ).where(F.col("gap").isNotNull())
    tot = cells.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
    )
    num = stepped.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.abs(
                F.col("cuma") * F.col("n_b") - F.col("cumb") * F.col("n_a")
            )
            * F.col("gap")
        )
        .cast("long")
        .alias("w1_num"),
    )
    # tot carries n_a/n_b even when the grid has a single value and
    # `stepped` is empty (w1_num NULL → 0 below) — no NULLs escape
    folded = tot.crossJoin(F.broadcast(num))
    w1 = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0),
        F.col("w1_num").cast("double")
        / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
    )
    return folded.select(
        "n_a", "n_b",
        F.coalesce("w1_num", F.lit(0)).cast("long").alias("w1_num"),
        F.round(F.coalesce(w1, F.lit(0.0)), ndigits).alias("w1"),
    )


def theil_decomposition(
    df: DataFrame, group_col: str, value_col: str, ndigits: int = 6
) -> DataFrame:
    """Theil-T inequality index with exact between/within decomposition
    (Theil 1967; the additively-decomposable inequality measure Gini
    is not): T = Σᵢ (xᵢ/X)·ln(xᵢ/μ) over positive values, split as
    T = T_between + Σ_g s_g·T_g with s_g the group's value share — one
    row per group ``(group, n, sum_x, share, t_within, contrib)`` plus
    the ``__total__`` row carrying ``(t_total, t_between)`` in the
    same two columns.  The "is corpus mass concentrated WITHIN sources
    or ACROSS them" diagnosis [[q_gini]]'s single number can't give.

    Exactness: integer values; each row's (xᵢ/X_g)·ln(xᵢ/μ_g) term is
    micro-quantized at 10⁹ and integer-summed per group (the B³
    device), the between/total folds reuse the same quantized device
    over group/corpus rows — no unquantized corpus-sized float Σ
    anywhere.  Scale: one corpus pass per fold level (value terms →
    group rows → one total row), all map-side-combinable aggregates.
    """
    base = df.select(
        F.col(group_col).cast("string").alias("g"),
        F.col(value_col).cast("long").alias("x"),
    ).where(F.col("x").isNotNull() & (F.col("x") > 0) & F.col("g").isNotNull())
    gstat = base.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
    )
    tot = gstat.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("sx").cast("long").alias("xx"),
    )
    q = F.lit(1000000000.0)
    # within-group terms: (x/sx_g)·ln(x·n_g/sx_g), quantized per row
    jg = base.join(F.broadcast(gstat), "g")
    tw = jg.select(
        "g",
        F.round(
            q
            * (F.col("x").cast("double") / F.col("sx").cast("double"))
            * F.log(
                F.col("x").cast("double")
                * F.col("n").cast("double")
                / F.col("sx").cast("double")
            ),
            0,
        )
        .cast("long")
        .alias("tq"),
    ).groupBy("g").agg(F.sum("tq").cast("long").alias("twq"))
    g2 = gstat.join(tw, "g").crossJoin(F.broadcast(tot))
    share = F.col("sx").cast("double") / F.col("xx").cast("double")
    t_within = F.col("twq").cast("double") / q
    # between: Σ_g s_g·ln(μ_g/μ) = Σ_g s_g·ln(sx_g·nn/(n_g·xx))
    btq = F.round(
        q
        * share
        * F.log(
            F.col("sx").cast("double")
            * F.col("nn").cast("double")
            / (F.col("n").cast("double") * F.col("xx").cast("double"))
        ),
        0,
    ).cast("long")
    ctq = F.round(q * share * t_within, 0).cast("long")
    per = g2.select(
        "g",
        "n",
        "sx",
        F.round(share, ndigits).alias("share"),
        F.round(t_within, ndigits).alias("t_within"),
        F.round(share * t_within, ndigits).alias("contrib"),
        btq.alias("_btq"),
        ctq.alias("_ctq"),
    )
    trow = per.groupBy().agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("sx").cast("long").alias("sx"),
        F.sum("_btq").cast("long").alias("bq"),
        F.sum("_ctq").cast("long").alias("cq"),
    ).select(
        F.lit("__total__").alias("g"),
        "n",
        "sx",
        F.lit(1.0).alias("share"),
        # t_within column carries T_TOTAL = between + Σ contrib
        F.round(
            (F.col("bq") + F.col("cq")).cast("double") / q, ndigits
        ).alias("t_within"),
        # contrib column carries T_BETWEEN
        F.round(F.col("bq").cast("double") / q, ndigits).alias("contrib"),
    )
    return per.drop("_btq", "_ctq").unionByName(trow).select(
        F.col("g").alias(group_col), "n", "sx", "share", "t_within",
        "contrib",
    )


def lorenz_deciles(
    df: DataFrame,
    value_col: str,
    stage_dir: str | None = None,
    ndigits: int = 6,
) -> DataFrame:
    """Lorenz-curve decile readout (the curve behind [[q_gini]]'s
    single number): for each population decile d = 1..10 (ordered by
    value ascending), the value cutoff and the cumulative share of
    total mass held by the bottom d/10 of rows — ``(decile, cutoff,
    cum_rows, cum_mass, mass_share)``.  The concentration profile a
    capacity planner reads ("the bottom 80%% of documents carry 54%%
    of the bytes").

    Exactness: the corpus collapses to the distinct-VALUE cell table
    (one pass, round-tripped — the :func:`kendall_tau_b` shape);
    cumulative rows/mass are INTEGER window sums over the
    dimension-sized value grid; the decile cutoff is chosen by the
    exact integer cross-multiplication ``cum_rows·10 ≥ d·N`` (no float
    quantile), and ``mass_share`` is one division.
    """
    base = df.select(F.col(value_col).cast("long").alias("v")).where(
        F.col("v").isNotNull()
    )
    cells = cut(
        base.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("c")),
        f"{scratch_dir(stage_dir, 'ddaugner_lorenz_')}/cells",
    )
    w = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = cells.select(
        "v",
        F.sum("c").over(w).cast("long").alias("cum_rows"),
        F.sum(F.col("v") * F.col("c")).over(w).cast("long").alias("cum_mass"),
    )
    tot = cells.agg(
        F.sum("c").cast("long").alias("nn"),
        F.sum(F.col("v") * F.col("c")).cast("long").alias("mm"),
    )
    deciles = df.sparkSession.range(1, 11).select(
        F.col("id").cast("long").alias("decile")
    )
    j = (
        deciles.crossJoin(cum)
        .crossJoin(F.broadcast(tot))
        .where(F.col("cum_rows") * 10 >= F.col("decile") * F.col("nn"))
        .groupBy("decile")
        .agg(
            F.min(
                F.struct(
                    F.col("v").alias("cutoff"),
                    F.col("cum_rows").alias("cum_rows"),
                    F.col("cum_mass").alias("cum_mass"),
                    F.col("mm").alias("mm"),
                )
            ).alias("b")
        )
    )
    return j.select(
        "decile",
        F.col("b.cutoff").alias("cutoff"),
        F.col("b.cum_rows").alias("cum_rows"),
        F.col("b.cum_mass").alias("cum_mass"),
        F.round(
            F.col("b.cum_mass").cast("double") / F.col("b.mm").cast("double"),
            ndigits,
        ).alias("mass_share"),
    )


def hhi_concentration(
    df: DataFrame, group_col: str, ndigits: int = 6
) -> DataFrame:
    """Herfindahl–Hirschman concentration index of row mass across
    groups — HHI = Σ sᵢ² on the 0..1 share scale (1/k = perfectly
    even over k groups, 1 = monopoly), plus the effective number of
    groups 1/HHI (Laakso–Taagepera): one row ``(n_groups, n_rows, hhi,
    effective_groups)`` — the single-number concentration screen next
    to the [[q_theil]] decomposition and [[q_lorenz]] profile (and the
    antitrust-style crawl question: "how many sources is this corpus
    REALLY drawing from?").

    Exactness: HHI·N² = Σ cᵢ² is an EXACT BIGINT (one group-count
    aggregate + one fold), so hhi = one division; no float ever sums.
    """
    g = df.where(F.col(group_col).isNotNull()).groupBy(
        F.col(group_col).alias("g")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = g.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("c").cast("long").alias("n_rows"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sq"),
    )
    hhi = F.when(
        F.col("n_rows") > 0,
        F.col("sq").cast("double")
        / (F.col("n_rows").cast("double") * F.col("n_rows").cast("double")),
    ).otherwise(F.lit(0.0))
    eff = F.when(hhi > 0, F.lit(1.0) / hhi).otherwise(F.lit(0.0))
    return tot.select(
        "n_groups",
        "n_rows",
        F.round(hhi, ndigits).alias("hhi"),
        F.round(eff, ndigits).alias("effective_groups"),
    )
