"""Frequency and distinct-count sketching: K-Minimum-Values (KMV /
bottom-k) and Count-Min.

Spark's built-in ``approx_count_distinct`` is HLL++ whose register
state isn't reproducible across engines; KMV with an md5 hash is FULLY
DETERMINISTIC — the same k smallest hashes on any engine — so the
DuckDB oracle replays the sketch bit-for-bit (the same property the
rest of the engine's dedup/minhash operators rely on).

Estimator (Bar-Yossef et al.): with h ~ U[0,1) per distinct value,
``D̂ = (k−1) / h_(k)`` where h_(k) is the k-th smallest hash; exact when
the group has < k distinct values.  Error ~ 1/√k.

Scale shape: a true sketch must keep only k values per group on the map
side.  The hash itself is computed JVM-side (``F.md5`` over the value
cast to string — identical bytes to DuckDB's ``md5(v::VARCHAR)``), so
the Arrow partial is pure vectorized pandas: per batch, dedup + sort +
``groupby(...).head(k)`` keeps a bounded ≤ groups·k running state — no
per-row Python, no Python hashing (the round-2 per-row heap loop was
the one Python-speed hot spot flagged at 100 TB).  At most
partitions·groups·k rows reach the exchange; bottom-k sets then merge
with ``sort_array``/``slice`` — the same partial/final split a native
UDAF would have.  Sketches MERGE (union of bottom-k is the bottom-k of
the union), pytest-pinned.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

#: use the first 12 hex digits as the uniform draw (48 bits — plenty,
#: and exactly reproducible as integer arithmetic in SQL)
_HEX_DIGITS = 12
_SCALE = 16 ** _HEX_DIGITS


def _partial_schema(group_col: str) -> StructType:
    return StructType(
        [
            StructField(group_col, StringType()),
            StructField("mins", ArrayType(StringType())),
        ]
    )


def _kmv_estimate(mins, k: int):
    """Column: the Bar-Yossef estimate from a bottom-k ``mins`` array —
    exact size when < k distinct survived, else (k−1)/h_(k)."""
    n_kept = F.size(mins)
    kth = F.element_at(mins, k)  # NULL when < k distinct (size < k)
    frac = F.conv(kth, 16, 10).cast("double") / F.lit(float(_SCALE))
    return F.when(n_kept < k, n_kept.cast("double")).otherwise(
        F.round((F.lit(k - 1)) / frac, 2)
    )


def kmv_mins(df: DataFrame, group_col: str, value_col: str, k: int = 64) -> DataFrame:
    """(group, mins array<string>) — the bottom-``k`` 12-hex-digit value
    hashes per group: the MERGEABLE sketch state itself (union of
    bottom-k sets is the bottom-k of the union), shared by
    :func:`kmv_sketch` and :func:`kmv_set_ops`."""

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        state: pd.DataFrame | None = None
        for pdf in batches:
            pdf = pdf.drop_duplicates()
            state = (
                pdf
                if state is None
                else pd.concat((state, pdf), ignore_index=True).drop_duplicates()
            )
            # bounded running state: bottom-k hashes per group.
            # dropna=False keeps NULL GROUP KEYS (they are groups like
            # any other); NULL VALUES are filtered JVM-side below
            state = (
                state.sort_values([group_col, "_h"], kind="mergesort")
                .groupby(group_col, sort=False, dropna=False)
                .head(k)
            )
        if state is None or state.empty:
            yield pd.DataFrame({group_col: pd.Series(dtype=object), "mins": []})
            return
        agg = (
            state.sort_values([group_col, "_h"], kind="mergesort")
            .groupby(group_col, sort=False, dropna=False)["_h"]
            .agg(list)
            .reset_index()
        )
        yield pd.DataFrame({group_col: agg[group_col], "mins": agg["_h"]})

    hashed = df.select(
        F.col(group_col).cast("string").alias(group_col),
        F.substring(F.md5(F.col(value_col).cast("string")), 1, _HEX_DIGITS).alias(
            "_h"
        ),
    # NULL values are ignored (SQL COUNT(DISTINCT ...) semantics); a
    # group whose values are all NULL therefore produces no sketch row
    ).filter(F.col("_h").isNotNull())
    partials = hashed.mapInPandas(partial, _partial_schema(group_col))

    return partials.groupBy(group_col).agg(
        F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("mins")))),
            1,
            k,
        ).alias("mins")
    )


def kmv_sketch(
    df: DataFrame, group_col: str, value_col: str, k: int = 64
) -> DataFrame:
    """(group, n_distinct_est, n_kept): KMV distinct-count sketch."""
    merged = kmv_mins(df, group_col, value_col, k)
    return merged.select(
        group_col,
        _kmv_estimate(F.col("mins"), k).alias("n_distinct_est"),
        F.size("mins").cast("long").alias("n_kept"),
    )


def kmv_set_ops(
    mins_a: DataFrame, mins_b: DataFrame, group_col: str, k: int = 64
) -> DataFrame:
    """(group, est_a, est_b, est_union, est_intersect, jaccard_est) —
    distinct-count SET algebra on two KMV sketches (:func:`kmv_mins`
    outputs) without ever touching the raw data again: the sketch
    answer to "how many distinct users did BOTH campaigns reach"
    that an exact COUNT(DISTINCT) would need a full re-shuffle of both
    fact tables for.

    Standard bottom-k set estimators (Beyer et al. 2007):

    * union  — merge the two bottom-k sets, keep the bottom k of the
      union (the union sketch IS a KMV sketch of A ∪ B), estimate as
      usual;
    * intersection — ρ = \\|S ∩ A_mins ∩ B_mins\\| / \\|S\\| over the merged
      bottom-k S is an unbiased Jaccard estimate; D̂(A∩B) = ρ · D̂(A∪B).

    Everything is per-group array arithmetic on k-bounded arrays — the
    join exchanges ≤ \\|groups\\| · k hashes, nothing corpus-sized; all
    divisions are exact small-integer ratios in double, so both engines
    agree bit-for-bit.  The join is FULL OUTER with empty-set defaults:
    a group with data on only one side still reports its one-sided
    estimates (est_other = 0, union = that side, intersect = 0) —
    dropping it would make "no overlap data" indistinguishable from
    "group absent"."""
    empty = F.array().cast("array<string>")
    a = mins_a.select(group_col, F.col("mins").alias("_ma"))
    b = mins_b.select(group_col, F.col("mins").alias("_mb"))
    j = a.join(b, group_col, "full_outer").select(
        group_col,
        F.coalesce("_ma", empty).alias("_ma"),
        F.coalesce("_mb", empty).alias("_mb"),
    )
    union_mins = F.slice(
        F.array_sort(F.array_distinct(F.concat(F.col("_ma"), F.col("_mb")))), 1, k
    )
    j = j.withColumn("_mu", union_mins)
    inter_cnt = F.size(
        F.array_intersect(F.col("_mu"), F.array_intersect(F.col("_ma"), F.col("_mb")))
    )
    jacc = inter_cnt.cast("double") / F.size("_mu")
    est_union = _kmv_estimate(F.col("_mu"), k)
    return j.select(
        group_col,
        _kmv_estimate(F.col("_ma"), k).alias("est_a"),
        _kmv_estimate(F.col("_mb"), k).alias("est_b"),
        est_union.alias("est_union"),
        F.round(jacc * est_union, 2).alias("est_intersect"),
        F.round(jacc, 6).alias("jaccard_est"),
    )


def histogram_quantiles(
    df: DataFrame,
    value_col: str,
    group_col: str,
    n_bins: int = 128,
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
    ndigits: int = 6,
) -> DataFrame:
    """Mergeable fixed-bin histogram quantile estimates per group:
    (group, q_50, q_90, q_99, n) with each estimate = the LOWER EDGE of
    the first bin whose cumulative count reaches ceil(q·n) — resolution
    (max−min)/n_bins, fully deterministic (pure IEEE-754 arithmetic, so
    the DuckDB oracle reproduces every bit; contrast percentile_approx,
    whose GK-sketch state is engine-private).

    Why not a sort: exact per-group quantiles need a full sort of every
    group; the histogram needs ONE pass to get per-group (min, max)
    (map-side-combined agg, group-count-sized result broadcast back)
    and ONE binned count agg (shuffle = groups × bins rows after
    partial aggregation).  Bin counts merge by addition, so the same
    sketch serves rollups and incremental refresh.  The final cum-sum /
    quantile pick runs a window over groups × n_bins rows — dimension-
    sized at any corpus scale.
    """
    from pyspark.sql import Window

    v = F.col(value_col).cast("double")
    # NULL values carry no quantile information and would bin to a NULL
    # key whose sort position differs between engines — drop them first
    df = df.filter(v.isNotNull())
    bounds = df.groupBy(group_col).agg(
        F.min(v).alias("vmin"),
        F.max(v).alias("vmax"),
        F.count(v).alias("n"),
    )
    width = (F.col("vmax") - F.col("vmin")) / F.lit(float(n_bins))
    binned = (
        df.join(F.broadcast(bounds), group_col)
        .withColumn(
            "bin",
            F.when(F.col("vmax") == F.col("vmin"), F.lit(0)).otherwise(
                F.least(
                    F.floor((v - F.col("vmin")) / width).cast("int"),
                    F.lit(n_bins - 1),
                )
            ),
        )
        .groupBy(group_col, "bin")
        .agg(F.count("*").alias("cnt"))
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = binned.join(F.broadcast(bounds), group_col).withColumn(
        "cum", F.sum("cnt").over(w)
    )
    aggs = []
    for q in quantiles:
        name = f"q_{str(q).replace('0.', '')}"
        thresh = F.ceil(F.lit(q) * F.col("n")).cast("long")
        edge = F.col("vmin") + F.col("bin") * width
        aggs.append(
            F.round(
                F.min(F.when(F.col("cum") >= thresh, edge)), ndigits
            ).alias(name)
        )
    return cum.groupBy(group_col).agg(*aggs, F.min("n").alias("n"))


# ---------------------------------------------------------------------------
# Count-Min sketch
# ---------------------------------------------------------------------------

#: 12 hex digits = 48 bits, the established F.conv(hex,16,10) ↔
#: ('0x'||hex)::UBIGINT parity window (sampling.py, dedup.py)
_CM_HEX = 12


def cm_bucket(value, row_idx, width: int):
    """Column expr: Count-Min bucket of ``value`` under hash row
    ``row_idx`` — md5 over "row|value", leading 48 bits mod width.
    Deterministic and engine-portable (same bytes in DuckDB)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", row_idx.cast("string"), value)), 1, _CM_HEX
            ),
            16,
            10,
        ).cast("long")
        % width
    )


def cm_sketch(
    df: DataFrame, value_col: str, depth: int = 4, width: int = 1024
) -> DataFrame:
    """(row_idx, bucket, cnt) — the Count-Min table for the multiset in
    ``value_col`` (NULLs ignored, COUNT semantics).

    Why a sketch when groupBy(value) is scalable: the CM table is FIXED
    SIZE (depth × width cells, here 4 KiB of counters) regardless of
    vocabulary, and cells MERGE BY ADDITION — the properties that matter
    for streaming ingest, per-shard summaries shipped to a coordinator,
    and incremental refresh, where a vocabulary-sized exact table is
    exactly the state you cannot keep per shard/epoch.

    Scale shape: the corpus is scanned once; the ×depth explode happens
    map-side and collapses into the (row, bucket) hash aggregate's
    partial combine, so at most partitions·depth·width rows reach the
    one exchange.  Everything is JVM column arithmetic (md5 + conv) —
    no Python, no driver state.  Merge = per-cell sum, pytest-pinned.
    """
    v = F.col(value_col).cast("string")
    vals = df.filter(v.isNotNull()).select(v.alias("_v"))
    rows = vals.select(
        "_v",
        F.explode(F.array(*[F.lit(j) for j in range(depth)])).alias("row_idx"),
    )
    return (
        rows.select(
            "row_idx", cm_bucket(F.col("_v"), F.col("row_idx"), width).alias("bucket")
        )
        .groupBy("row_idx", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def cm_estimate(sketch: DataFrame, items: DataFrame, value_col: str,
                depth: int = 4, width: int = 1024) -> DataFrame:
    """(value, est) — point estimates for each distinct item: the MIN
    over the sketch's depth rows of the hashed cell, the classic
    one-sided overestimate (est ≥ true count, always).

    The sketch is depth×width rows — broadcast; items fan out ×depth
    map-side and collapse straight back in the min-aggregate."""
    v = F.col(value_col).cast("string")
    it = items.filter(v.isNotNull()).select(v.alias("value")).distinct()
    probes = it.select(
        "value",
        F.explode(F.array(*[F.lit(j) for j in range(depth)])).alias("row_idx"),
    ).select(
        "value",
        "row_idx",
        cm_bucket(F.col("value"), F.col("row_idx"), width).alias("bucket"),
    )
    joined = probes.join(F.broadcast(sketch), ["row_idx", "bucket"], "left")
    return joined.groupBy("value").agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("est")
    )


# ---------------------------------------------------------------------------
# HyperLogLog (Flajolet et al. 2007) — deterministic, engine-portable
# ---------------------------------------------------------------------------

#: hash width driving the register split: 48 bits from the md5 prefix,
#: top HLL_P bits pick the register, the remaining 48-p bits feed rho
_HLL_BITS = 48


def _hll_alpha(m: int) -> float:
    """The standard bias-correction constant (Flajolet §4)."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_registers(
    df: DataFrame, group_col: str, value_col: str, p: int = 6
) -> DataFrame:
    """(group, idx, rho) — HyperLogLog register table per group: for
    each of the m = 2^p registers that any value hashed into, the max
    over values of (1 + leading-zero-count of the low 48−p hash bits).

    Why HLL next to KMV (kmv_sketch above): KMV keeps k *strings* per
    group (64×12-hex ≈ 1.5 KiB); HLL keeps m *small integers* (64 bytes
    at p=6) and merges by element-wise MAX — the shape you ship from
    every shard of a 100 TB corpus to a coordinator, and the reason
    Spark's own approx_count_distinct is HLL++.  The built-in's
    register state isn't reproducible across engines, so this is the
    deterministic twin: md5 prefix → 48-bit integer, top p bits =
    register, rho of the rest via length(bin(w)) — identical integer
    arithmetic in DuckDB (same bin semantics, verified).

    Scale shape: one corpus scan; groupBy(group, idx).max(rho) does a
    map-side partial max, so at most partitions·groups·m slim integer
    rows reach the exchange.  All JVM column arithmetic.  Registers
    MERGE (max of unions == union of maxes), pytest-pinned.
    """
    low_bits = _HLL_BITS - p
    v = F.col(value_col).cast("string")
    h = F.conv(F.substring(F.md5(v), 1, _HLL_BITS // 4), 16, 10).cast("long")
    idx = F.floor(h / F.lit(2**low_bits)).cast("long")
    w = (h % F.lit(2**low_bits)).cast("long")
    # rho = leading zeros of the low_bits-wide w, plus 1:
    #   w > 0 → (low_bits − (floor(log2 w)+1)) + 1 = low_bits+1 − length(bin w)
    #   w = 0 → low_bits + 1
    rho = F.when(w == 0, F.lit(low_bits + 1)).otherwise(
        F.lit(low_bits + 1) - F.length(F.bin(w))
    )
    return (
        df.filter(v.isNotNull())
        .select(F.col(group_col), idx.alias("idx"), rho.alias("rho"))
        .groupBy(group_col, "idx")
        .agg(F.max("rho").cast("long").alias("rho"))
    )


def hll_estimate(
    registers: DataFrame, group_col: str, p: int = 6, correct: bool = True
) -> DataFrame:
    """(group, n_zero, harmonic_fp, est) — the HLL cardinality estimate
    from a register table.

    Cross-engine exactness: the harmonic sum Σ 2^−M[j] is kept in FIXED
    POINT — each register contributes the exact integer 2^(50−M[j]),
    absent registers contribute 2^50 — so ``harmonic_fp`` is a BIGINT
    both engines compute identically, and the raw estimate is ONE IEEE
    double division by it (numerator α·m²·2^50 inlined as the same
    literal on both sides).  No float accumulation order to diverge.

    ``correct=True`` applies the standard small-range linear-counting
    branch (est ≤ 2.5m and empty registers → m·ln(m/n_zero)); ln is a
    libm call whose last ulp may differ across engines, so the
    SQL-twinned gate query runs raw-regime corpora (pinned by pytest)
    and the correction is pinned engine-side against exact counts.
    """
    m = 2**p
    low_bits = _HLL_BITS - p
    fp_shift = low_bits + 8  # 2^(fp_shift−rho) ≥ 2^7 even at rho_max; Σ ≤ m·2^50
    numer = _hll_alpha(m) * m * m * float(2**fp_shift)
    agg = registers.groupBy(group_col).agg(
        F.count("*").alias("_n_present"),
        F.sum(
            F.pow(F.lit(2.0), F.lit(fp_shift) - F.col("rho")).cast("long")
        ).alias("_s_present"),
    )
    n_zero = (F.lit(m) - F.col("_n_present")).cast("long")
    harmonic = (F.col("_s_present") + n_zero * F.lit(2**fp_shift)).cast("long")
    raw = F.lit(numer) / F.col("harmonic_fp")
    out = agg.select(
        F.col(group_col),
        n_zero.alias("n_zero"),
        harmonic.alias("harmonic_fp"),
    )
    if correct:
        lin = F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("n_zero"))
        est = F.when((raw <= 2.5 * m) & (F.col("n_zero") > 0), lin).otherwise(raw)
    else:
        est = raw
    return out.select(group_col, "n_zero", "harmonic_fp", F.round(est, 4).alias("est"))


def ams_f2(
    tokens_long: DataFrame, item_col: str = "tok", n_estimators: int = 16
) -> DataFrame:
    r"""AMS second-frequency-moment sketch (Alon–Matias–Szegedy 1996):
    k independent ±1 estimators Z_e = Σ_item sign_e(item)·count(item);
    E[Z²] = F2 = Σ count², the self-join-size statistic an optimizer
    wants before planning an equi-join.

    Signs derive from an md5 bit of (item, e) — pure row arithmetic,
    replayable by the oracle, deterministic under repartition.  Each
    Z_e is an exact INTEGER sum (commutative, order-free), the mean of
    k squares one final division — no float accumulation.  Plan: one
    count aggregate, a ×k estimator fan-out of the COUNT table (vocab-
    sized, not corpus-sized), one k-row aggregate.  Z² stays in int64
    up to \|stream\| ~ 3e9; past that production keeps Z exact and
    squares in DOUBLE (one deterministic op, no accumulation).  Returns one row:
    (k, est_f2, exact_f2, rel_err); the exact F2 is corpus-replayable
    here — at 100 TB only the sketch side runs and rel_err ~ sqrt(2/k).
    """
    cnts = tokens_long.groupBy(item_col).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    fan = cnts.select(
        F.col(item_col).alias("item"),
        "cnt",
        F.explode(F.sequence(F.lit(0), F.lit(n_estimators - 1))).alias("e"),
    )
    bit = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("#", F.col("item"), F.col("e"))), 1, 4
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    z = fan.groupBy("e").agg(
        F.sum((bit * 2 - 1) * F.col("cnt")).cast("long").alias("z")
    )
    zagg = z.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(F.col("z") * F.col("z")).cast("long").alias("sum_z2"),
    )
    exact = cnts.agg(
        F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("exact_f2")
    )
    j = zagg.crossJoin(F.broadcast(exact))
    est = F.col("sum_z2") / F.col("k")
    return j.select(
        "k",
        F.round(est, 6).alias("est_f2"),
        "exact_f2",
        F.round(F.abs(est - F.col("exact_f2")) / F.col("exact_f2"), 6).alias(
            "rel_err"
        ),
    )


def ams_join_size(
    a: DataFrame, b: DataFrame, item_col: str, n_estimators: int = 16
) -> DataFrame:
    """AGMS equi-join size estimation (Alon–Gibbons–Matias–Szegedy
    1999): with the SAME ±1 sign stream on both sides,
    E[Za_e · Zb_e] = Σ_k cntA(k)·cntB(k) = |A ⋈ B| — the cardinality an
    optimizer wants before choosing a join strategy, computable from
    two independently-built sketches without co-locating the inputs.

    Shares ams_f2's determinism contract: md5-bit signs, exact-integer
    Z sums per estimator, the estimator mean as one final division.
    Plan: one count aggregate per side (map-side combined), ×k fan-out
    of the two COUNT tables, a k-row join on the estimator id.  The
    exact Σ cntA·cntB is replayed here for the error readout — at
    100 TB only the two sketch sides run.
    """

    def _z(df: DataFrame, side: str) -> DataFrame:
        cnts = df.groupBy(F.col(item_col).alias("item")).agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
        fan = cnts.select(
            "item",
            "cnt",
            F.explode(F.sequence(F.lit(0), F.lit(n_estimators - 1))).alias("e"),
        )
        bit = (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("#", F.col("item"), F.col("e"))), 1, 4
                ),
                16,
                10,
            ).cast("long")
            % 2
        )
        return fan.groupBy("e").agg(
            F.sum((bit * 2 - 1) * F.col("cnt")).cast("long").alias(f"z_{side}")
        )

    z = _z(a, "a").join(_z(b, "b"), "e")
    zagg = z.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(F.col("z_a") * F.col("z_b")).cast("long").alias("sum_zz"),
    )
    ca = a.groupBy(F.col(item_col).alias("item")).agg(
        F.count(F.lit(1)).cast("long").alias("ca")
    )
    cb = b.groupBy(F.col(item_col).alias("item")).agg(
        F.count(F.lit(1)).cast("long").alias("cb")
    )
    exact = ca.join(cb, "item").agg(
        F.coalesce(F.sum(F.col("ca") * F.col("cb")), F.lit(0))
        .cast("long")
        .alias("exact_join")
    )
    j = zagg.crossJoin(F.broadcast(exact))
    est = F.col("sum_zz") / F.col("k")
    return j.select(
        "k",
        F.round(est, 6).alias("est_join"),
        "exact_join",
        F.round(
            F.when(
                F.col("exact_join") > 0,
                F.abs(est - F.col("exact_join")) / F.col("exact_join"),
            ).otherwise(F.lit(-1.0)),
            6,
        ).alias("rel_err"),
    )
