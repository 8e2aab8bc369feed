"""Deduplication operators for web-scale training-data pipelines.

Not in the reference (it deduplicates nothing); these are the
first-class corpus-hygiene operators a 100 TB Common-Crawl pipeline needs
before NER/triple extraction.  All hashes are md5-based so the DuckDB
oracle computes bit-identical values.

Operators:

* exact dedup          — hash-groupBy on md5(text);
* MinHash + LSH        — k-token shingles → P md5-keyed "permutation"
                         minima (min over *hex strings* is a valid random
                         permutation proxy because md5 is uniform over the
                         hex alphabet) → B bands of R rows → band-bucket
                         self-join → exact Jaccard verification;
* SimHash              — 16-bit signs of per-token md5 hex digits;
* n-gram Jaccard       — exact pairwise verification used by LSH.

Scale notes: exact dedup is one hash-agg with map-side combine.  MinHash
signatures are built with a single groupBy(doc, perm) over exploded
shingles (shuffle volume = docs × P rows after partial agg, not the
shingle volume).  The LSH self-join is keyed on band hash — only
colliding buckets materialize candidate pairs, and bucket sizes are
bounded because a band collision already implies high similarity; AQE
skew-join covers adversarial buckets (e.g. boilerplate pages).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import config


def with_dup_corpus(docs: DataFrame) -> DataFrame:
    """Deterministically enlarge the corpus with known duplicates so dedup
    operators have non-trivial output on the driver's all-distinct
    synthetic table: doc_id % 20 == 0 → exact copy (id + 1_000_000);
    doc_id % 20 == 10 → near copy with the last 3 tokens dropped
    (id + 2_000_000)."""
    toks = F.split(F.col("text"), " ")
    exact = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), F.col("text")
    )
    near = docs.filter(F.col("doc_id") % 20 == 10).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.array_join(F.slice(toks, 1, F.greatest(F.size(toks) - 3, F.lit(1))), " ").alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(exact).unionByName(near)


def with_boilerplate_corpus(docs: DataFrame) -> DataFrame:
    """Deterministically inject per-source template chrome so the
    boilerplate remover has non-trivial output on the driver's
    all-distinct synthetic table (the same device as with_dup_corpus):
    doc_id % 3 != 2 → a per-source header sentence prepended (≈2/3 of
    each source's docs — ABOVE the 0.5 document-frequency bar, so it
    must be stripped); doc_id % 7 == 3 → a per-source footer sentence
    appended (≈1/7 — BELOW the bar, so it must survive; the modulus is
    coprime with the 20-source stride, unlike 4, which would make every
    doc of every 4th source a carrier).  Both branches
    of the threshold are exercised.  The chrome lines end with
    config.SENT_TERM so they are standalone sentences under the
    corpus's sentence model; the footer also LEADS with a terminator to
    detach itself from the body's unterminated tail."""
    term = config.SENT_TERM
    header = F.concat(F.lit("cookie notice "), F.col("source"), F.lit(f" {term}"))
    footer = F.concat(
        F.lit(f"{term} all rights reserved "), F.col("source"), F.lit(f" {term}")
    )
    body = F.nullif(F.coalesce(F.col("text"), F.lit("")), F.lit(""))
    text = F.concat_ws(
        " ",
        F.when(F.col("doc_id") % 3 != 2, header),
        body,
        F.when(F.col("doc_id") % 7 == 3, footer),
    )
    return docs.select("doc_id", "source", text.alias("text"))


def boilerplate_removal(
    docs: DataFrame, min_frac: float = 0.5, min_docs: int = 2
) -> DataFrame:
    """(doc_id, n_sents, n_boiler, clean_hash) — per-SOURCE boilerplate
    line removal, the CCNet/RefinedWeb companion to sentence_dedup
    below: a sentence occurring in ≥ max(min_docs, min_frac·|source's
    docs|) documents OF THE SAME SOURCE is template chrome (cookie
    banners, nav, license footers) and is stripped from EVERY document
    — unlike first-occurrence line dedup, no copy survives.  clean_hash
    is md5 of the surviving sentences re-joined in sent_id order, so
    the check pins the exact reconstructed text, not just counts.

    Shape at scale: one narrow sentence explode; document frequency is
    a hash-agg on (source, md5(sent)) slim keys with map-side combine;
    the boilerplate set (lines over the df bar) is tiny relative to the
    corpus and is BROADCAST back for a map-side anti join — the corpus
    itself is shuffled only once, by doc_id, for the ordered
    reconstruction.
    """
    from .textstats import sentence_texts

    sents = sentence_texts(docs, extra_cols=("source",))
    n_docs = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    dfreq = (
        sents.select("source", F.md5("sent_text").alias("sh"), "doc_id")
        .distinct()
        .groupBy("source", "sh")
        .agg(F.count("*").alias("df"))
    )
    boiler = (
        dfreq.join(F.broadcast(n_docs), "source")
        .filter(
            (F.col("df") >= min_docs)
            & (F.col("df") >= F.col("n_docs") * F.lit(min_frac))
        )
        .select("source", "sh")
    )
    kept = sents.withColumn("sh", F.md5("sent_text")).join(
        F.broadcast(boiler), ["source", "sh"], "left_anti"
    )
    recon = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("sent_id", "sent_text"))),
                lambda s: s["sent_text"],
            ),
            " ",
        ).alias("clean"),
    )
    totals = sents.groupBy("doc_id").agg(F.count("*").alias("n_sents"))
    out = (
        docs.select("doc_id")
        .join(totals, "doc_id", "left")
        .join(recon, "doc_id", "left")
    )
    return out.select(
        "doc_id",
        F.coalesce("n_sents", F.lit(0)).cast("long").alias("n_sents"),
        (F.coalesce("n_sents", F.lit(0)) - F.coalesce("n_kept", F.lit(0)))
        .cast("long")
        .alias("n_boiler"),
        F.md5(F.coalesce("clean", F.lit(""))).alias("clean_hash"),
    )


def exact_duplicates(corpus: DataFrame) -> DataFrame:
    """(text_hash, n_dups, canonical_id) for groups with >1 member."""
    return (
        corpus.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("canonical_id"))
        .filter(F.col("n_dups") > 1)
    )


def shingle_array(k: int = config.SHINGLE_K, text_col: str = "text"):
    """Column: array of k-token shingles of ``text_col``.  The token
    array is LET-BOUND (single-element-array transform) so the inner
    lambda slices the bound variable instead of re-evaluating
    split(text) per shingle — the CLAUDE.md no-computed-arrays-in-
    lambdas rule applied to an unbounded token array (O(n) instead of
    O(n²) per doc)."""
    toks = F.split(F.col(text_col), " ")
    z = F.array(F.struct(toks.alias("t")))

    def per(zz):
        t = zz["t"]
        n = F.size(t)
        starts = F.when(n >= k, F.sequence(F.lit(0), n - k)).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(
            starts, lambda i: F.array_join(F.slice(t, (i + 1).cast("int"), k), " ")
        )

    return F.element_at(F.transform(z, per), 1)


def shingles(
    corpus: DataFrame, k: int = config.SHINGLE_K, extra_cols: tuple = ()
) -> DataFrame:
    """Distinct k-token shingles per doc: (doc_id, *extra_cols, shingle)."""
    return corpus.select(
        "doc_id",
        *extra_cols,
        F.explode(F.array_distinct(shingle_array(k))).alias("shingle"),
    )


def jaccard_pairs_inverted(
    corpus: DataFrame,
    k: int = config.SHINGLE_K,
    threshold: float = config.JACCARD_THRESHOLD,
    max_doc_freq: int = 1000,
) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs via an inverted shingle
    index — the deterministic complement to MinHash+LSH (which trades
    candidate recall for a bounded shuffle): a pair is emitted iff the
    two docs SHARE at least one shingle, so unlike LSH there are no
    banding false negatives above the threshold (any pair with
    jaccard ≥ t > 0 shares a shingle by definition).

    Plan: distinct (doc_id, shingle) → drop shingles appearing in more
    than ``max_doc_freq`` docs (stop-shingles generate O(df²) pairs and
    carry ~no Jaccard signal — same bucket-cap-with-logged-drop policy
    as LSH; at the default the drop set is empty on the gate corpus) →
    self-join on shingle (the one content-keyed shuffle, sized by the
    inverted index, not the corpus²) → per-pair intersection counts,
    with each doc's set size carried from its shingle array →
    |A∩B| / (|A|+|B|−|A∩B|).

    At 100 TB the max_doc_freq cap is the load-bearing guard: web text
    has power-law shingle frequencies, and the cap bounds any single
    shingle's pair fan-out exactly like LSH's bucket cap."""
    jac = F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter"))
    return (
        _shared_shingle_counts(corpus, k, max_doc_freq)
        .withColumn("jaccard_raw", jac)
        .filter(F.col("jaccard_raw") >= threshold)
        .select("a", "b", F.round("jaccard_raw", 4).alias("jaccard"))
    )


def _shared_shingle_counts(
    corpus: DataFrame, k: int, max_doc_freq: int
) -> DataFrame:
    """(a, b, na, nb, n_inter) for every doc pair a < b sharing a
    shingle that at most ``max_doc_freq`` docs have: ``na``/``nb`` are
    the docs' distinct-shingle counts, ``n_inter`` the capped shingles
    they share.  The inverted index of :func:`jaccard_pairs_inverted`
    and :func:`containment_pairs`.

    The shingle explode runs once, with nothing persisted
    (docs/PLANS.md, "One scoped persist"): each doc's count is its
    shingle set's size, the df cap is a window over the shingle-keyed
    exchange, and the self-join joins one frame with itself, so both
    sides read that one exchange."""
    sets = corpus.select("doc_id", F.array_distinct(shingle_array(k)).alias("_s"))
    kept = (
        sets.select("doc_id", F.size("_s").alias("n_sh"), F.explode("_s").alias("shingle"))
        .withColumn("_df", F.count(F.lit(1)).over(Window.partitionBy("shingle")))
        .filter(F.col("_df") <= max_doc_freq)
        .select("shingle", "doc_id", "n_sh")
    )
    return (
        kept.alias("x").join(kept.alias("y"), "shingle")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .groupBy(
            F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"),
            F.col("x.n_sh").alias("na"), F.col("y.n_sh").alias("nb"),
        )
        .agg(F.count("*").alias("n_inter"))
    )


def all_pairs_jaccard_prefix(
    corpus: DataFrame,
    k: int = config.SHINGLE_K,
    threshold: float = config.JACCARD_THRESHOLD,
) -> DataFrame:
    """EXACT all-pairs Jaccard ≥ τ via PREFIX FILTERING (AllPairs,
    Bayardo et al. WWW'07; PPJoin, Xiao et al. WWW'08) — same output
    contract as :func:`jaccard_pairs_inverted`, different (and at scale
    strictly better) candidate generation.

    Order each doc's shingle set by a GLOBAL rare-first canonical order
    (df asc, shingle asc — packed into one sortable key) and index only
    each set's first ``|d| − ⌈τ·|d|⌉ + 1`` shingles.  Completeness: for
    any pair with J ≥ τ, |x∩y| ≥ ⌈τ·max(|x|,|y|)⌉ =: α, and the
    MINIMUM common shingle under the global order must lie inside both
    α-prefixes (if it fell outside x's prefix, all common shingles
    would sit in x's last α−1 positions — fewer than α of them).  So
    the prefix-postings self-join loses nothing above τ, which the
    differential pytest pins against the inverted-index form.

    Why it scales better: the inverted-index join must CAP stop-shingle
    postings (``max_doc_freq`` — a recall trade logged as drops); here
    the rare-first order pushes exactly those high-df shingles OUT of
    the prefixes, so the hot postings never enter the join and no cap
    is needed.  Index size is the (1−τ) prefix fraction of the shingle
    volume; the τ·|x| ≤ |y| ≤ |x|/τ length filter prunes candidates
    before the exact verification join, which is sized by surviving
    candidates, not corpus².
    """
    # the shingle explode runs once, with nothing persisted: each doc's
    # set is collected back as its sorted key array, so the prefix is a
    # slice and the verification an array intersection, and every
    # branch reads the one doc-keyed exchange (docs/PLANS.md, "One
    # scoped persist")
    sets = corpus.select("doc_id", F.array_distinct(shingle_array(k)).alias("_s"))
    keyed = (
        sets.select("doc_id", F.explode("_s").alias("shingle"))
        .withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("shingle")))
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.concat(
                        F.lpad(F.col("df").cast("string"), 10, "0"),
                        F.lit("#"),
                        F.col("shingle"),
                    )
                )
            ).alias("skeys")
        )
        .withColumn("n_sh", F.size("skeys"))
    )
    plen = F.greatest(
        F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1, F.lit(0)
    ).cast("int")
    prefix = keyed.select(
        "doc_id", "n_sh", F.explode(F.slice("skeys", 1, plen)).alias("skey")
    )
    cand = (
        prefix.alias("x").join(prefix.alias("y"), "skey")
        .filter(
            (F.col("x.doc_id") < F.col("y.doc_id"))
            & (F.col("y.n_sh") >= F.lit(threshold) * F.col("x.n_sh"))
            & (F.col("x.n_sh") >= F.lit(threshold) * F.col("y.n_sh"))
        )
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .distinct()
    )
    ka = keyed.select(F.col("doc_id").alias("a"), F.col("skeys").alias("sa"),
                      F.col("n_sh").alias("na"))
    kb = keyed.select(F.col("doc_id").alias("b"), F.col("skeys").alias("sb"),
                      F.col("n_sh").alias("nb"))
    inter = cand.join(ka, "a").join(kb, "b").withColumn(
        "n_inter", F.size(F.array_intersect("sa", "sb"))
    )
    jac = F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter"))
    return (
        inter.filter(jac >= threshold)
        .select("a", "b", F.round(jac, 4).alias("jaccard"))
    )


def winnow_fingerprints(
    corpus: DataFrame, k: int = config.SHINGLE_K, w: int = 4
) -> DataFrame:
    """(doc_id, pos, fp) — WINNOWING fingerprint selection (Schleimer
    et al. 2003 — the MOSS algorithm): from every window of ``w``
    consecutive k-gram hashes keep the minimum, rightmost on ties.
    Guarantees: any shared run of ≥ w+k−1 tokens yields at least one
    shared fingerprint (the detection floor), and expected density is
    2/(w+1) — an 80%+ index-size cut over full shingling with a
    provable recall bound, which is why plagiarism/dup detectors ship
    it instead of raw shingles.

    Determinism device: the (hash asc, pos desc) tie order is packed
    into ONE sortable key — ``hash || lpad(99999999−pos)`` — so the
    per-window argmin is a plain ``min(key)`` over a ROWS sliding frame
    and the winner's (pos, fp) decode back from the key by substring:
    no struct-ordering or min_by semantics to keep aligned across
    engines.

    Scale shape: one posexplode of the let-bound shingle array (map
    fan-out inside the scan task), one doc-partitioned sliding window
    (the shuffle key is doc_id — each doc's grams sort locally, nothing
    global), one distinct on the (doc, winner-key) pairs.  Fingerprint
    postings feed the same inverted-index join as jaccard/containment
    at 1/(w+1)-scale cost."""
    from pyspark.sql import Window

    grid = corpus.select(
        "doc_id", F.posexplode(shingle_array(k)).alias("pos", "gram")
    )
    key = F.concat(
        F.substring(F.md5(F.col("gram")), 1, 12),
        F.lpad((F.lit(99999999) - F.col("pos")).cast("string"), 8, "0"),
    )
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-(w - 1), 0)
    picked = (
        grid.withColumn("_key", key)
        .withColumn("_wkey", F.min("_key").over(win))
        # only FULL windows select (the first w-1 positions see a
        # shrunk frame — not a winnowing window)
        .filter(F.col("pos") >= w - 1)
        .select("doc_id", "_wkey")
        .distinct()
    )
    return picked.select(
        "doc_id",
        (F.lit(99999999) - F.substring("_wkey", 13, 8).cast("long")).alias("pos"),
        F.substring("_wkey", 1, 12).alias("fp"),
    )


def containment_pairs(
    corpus: DataFrame,
    k: int = config.SHINGLE_K,
    threshold: float = 0.9,
    max_doc_freq: int = 1000,
) -> DataFrame:
    """(src, dst, n_inter, containment) — DIRECTED shingle containment
    C(src, dst) = |S(src) ∩ S(dst)| / |S(src)| ≥ ``threshold``
    (Broder 1997's resemblance/containment pair): the asymmetric
    near-dup signal symmetric Jaccard structurally misses — a 30-token
    excerpt quoted inside a 3000-token page has J ≈ 0.01 but C ≈ 1.0.
    The training-data case is real: crawls are full of quote-farms and
    syndicated excerpts that survive Jaccard/MinHash dedup yet add no
    novel text.

    Plan shape = jaccard_pairs_inverted's inverted index (distinct
    (doc, shingle) → stop-shingle df-cap → shingle self-join → one
    (a, b) count aggregate), computed ONCE in the canonical a < b
    orientation; both directed rows then derive from the same
    intersection count with their own denominators — no second join.
    The df-cap is the same load-bearing fan-out guard (empty drop set
    at gate scale, pinned like LSH's bucket cap)."""
    inter = _shared_shingle_counts(corpus, k, max_doc_freq)
    directed = inter.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "n_inter",
        F.col("na").alias("n_src"),
    ).unionByName(
        inter.select(
            F.col("b").alias("src"), F.col("a").alias("dst"), "n_inter",
            F.col("nb").alias("n_src"),
        )
    )
    return (
        directed.withColumn("containment_raw", F.col("n_inter") / F.col("n_src"))
        .filter(F.col("containment_raw") >= threshold)
        .select(
            "src",
            "dst",
            F.col("n_inter").cast("long").alias("n_inter"),
            F.round("containment_raw", 4).alias("containment"),
        )
    )


def contaminated_docs(
    corpus: DataFrame,
    benchmark: DataFrame,
    k: int = config.SHINGLE_K,
    min_shared: int = 2,
) -> DataFrame:
    """Benchmark DECONTAMINATION — the training-data step that drops
    corpus docs leaking evaluation content: (doc_id, n_bench_docs,
    n_shared_shingles) for every corpus doc sharing ≥ ``min_shared``
    distinct k-token shingles with ANY benchmark doc.

    Plan: both sides shingle (distinct per doc), join on the shingle —
    the benchmark index is dimension-sized (eval suites are tiny next
    to a crawl) so it BROADCASTS into the corpus-side scan; one
    hits-sized groupBy(doc_id) finishes.  At 100 TB the corpus is
    scanned once, never shuffled; only (corpus_doc, benchmark_doc,
    shingle) hits move."""
    c_sh = shingles(corpus, k)
    b_sh = shingles(benchmark, k).select(
        F.col("doc_id").alias("bench_id"), "shingle"
    )
    hits = c_sh.join(F.broadcast(b_sh), "shingle")
    return (
        hits.groupBy("doc_id")
        .agg(
            F.countDistinct("bench_id").alias("n_bench_docs"),
            F.countDistinct("shingle").alias("n_shared_shingles"),
        )
        .filter(F.col("n_shared_shingles") >= min_shared)
    )


#: MinHash permutation modulus: 2³¹−1 (prime).  Mix products stay under
#: (2P+1)·2³¹ ≪ 2⁶³, so the arithmetic is exact in BIGINT on BOTH
#: engines (DuckDB raises on overflow rather than wrapping — staying in
#: provably-safe range is what keeps the oracle bit-identical).
MINHASH_MOD = 2_147_483_647


def minhash_signatures(sh: DataFrame, perms: int = config.MINHASH_PERMS) -> DataFrame:
    """(doc_id, mh_0..mh_{P-1}) signature table.

    Each shingle is md5-hashed ONCE (60 bits → h mod p, p = 2³¹−1);
    permutation j is the affine mix ((2j+1)·h + j) mod p and the
    signature element is the minimum.  vs the earlier per-permutation
    md5(j || shingle): P× fewer digest computations (the dominant cost
    of the signature stage — measured ~35% of the LSH leg at P=8) and
    no shingle×perm explode at all — one groupBy(doc_id) computes all P
    minima from the same hash column, so the exchange carries exactly
    one row per doc after map-side partial aggregation."""
    h = (
        F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long")
        % MINHASH_MOD
    )
    hashed = sh.select("doc_id", h.alias("h"))
    aggs = [
        F.min((F.lit(2 * j + 1) * F.col("h") + F.lit(j)) % MINHASH_MOD).alias(
            f"mh_{j}"
        )
        for j in range(perms)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def lsh_bands(
    sigs: DataFrame,
    bands: int = config.LSH_BANDS,
    perms: int = config.MINHASH_PERMS,
) -> DataFrame:
    """(doc_id, band_id, band_hash): bands of R = perms/bands rows.
    Signature elements are BIGINT minima; the band key hashes their
    decimal renderings (identical to the oracle's h::VARCHAR)."""
    rows = perms // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            F.col(f"mh_{b * rows + r}").cast("string")
                            for r in range(rows)
                        ],
                    )
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )
    return sigs.select("doc_id", F.explode(band_structs).alias("b")).select(
        "doc_id", F.col("b.band_id").alias("band_id"), F.col("b.band_hash").alias("band_hash")
    )


def lsh_candidate_pairs(
    bands_df: DataFrame, max_bucket_size: int | None = None
) -> DataFrame:
    """Distinct (a, b) a<b pairs sharing any band bucket.

    ``max_bucket_size``: at web scale, boilerplate pages (error pages,
    parked domains) collapse into giant LSH buckets whose self-join is
    quadratic.  Buckets above the cap are dropped — standard LSH
    hygiene: a bucket with 10⁵ members is boilerplate, and its members
    are still caught by exact dedup upstream.  ``log()`` the drop count
    at the call site when enabled (no silent truncation)."""
    if max_bucket_size is not None:
        sizes = bands_df.groupBy("band_id", "band_hash").agg(
            F.count("*").alias("bucket_n")
        )
        bands_df = (
            bands_df.join(sizes, ["band_id", "band_hash"])
            .filter(F.col("bucket_n") <= max_bucket_size)
            .drop("bucket_n")
        )
    left = bands_df.select("band_id", "band_hash", F.col("doc_id").alias("a"))
    right = bands_df.select("band_id", "band_hash", F.col("doc_id").alias("b"))
    return (
        left.join(right, ["band_id", "band_hash"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame,
    sh: DataFrame,
    threshold: float = config.JACCARD_THRESHOLD,
    ndigits: int = 4,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs: (a, b, jaccard ≥ threshold)."""
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    sh_a = sh.select(F.col("doc_id").alias("a"), "shingle")
    sh_b = sh.select(F.col("doc_id").alias("b"), "shingle")
    inter = (
        pairs.join(sh_a, "a").join(sh_b, ["b", "shingle"]).groupBy("a", "b").agg(
            F.count("*").alias("n_inter")
        )
    )
    out = (
        inter.join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n_sh", "n_a"), "a")
        .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n_sh", "n_b"), "b")
        .withColumn(
            "jaccard_raw",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        # Filter on the UNROUNDED ratio (matching the DuckDB oracle and the
        # other threshold operators); round only for output. Filtering on the
        # rounded value admits raw values in [threshold-5e-5, threshold).
        .filter(F.col("jaccard_raw") >= threshold)
        .select("a", "b", F.round(F.col("jaccard_raw"), ndigits).alias("jaccard"))
    )
    return out


def minhash_estimate_error(
    corpus: DataFrame,
    k: int = config.SHINGLE_K,
    perms: int = config.MINHASH_PERMS,
    bands: int = config.LSH_BANDS,
) -> DataFrame:
    """Sketch-accuracy eval: for every LSH candidate pair, the MinHash
    Jaccard ESTIMATE (matching signature minima / P — the unbiased
    estimator the sketch exists for) next to the exact Jaccard, with
    the absolute error: ``(a, b, n_match, j_est, j_exact, abs_err)``.

    This is the measurement that justifies (or indicts) a chosen P at
    production scale — the estimator's σ = √(J(1−J)/P) is only a
    promise until it's checked against exact values on real pairs; run
    it on a sample before trusting MinHash-only dedup decisions.  Cost:
    the signature join is P-wide on candidate pairs only; the exact
    side is the same candidate-bounded intersection join the verifier
    uses.  Zero-intersection candidates (possible only via band-hash
    collision) drop out of both sides identically."""
    from functools import reduce

    # sh feeds four branches (signatures, sizes, both intersection
    # sides), sigs three (both signature sides + banding), cand two
    # (estimate join + exact-intersection join); none is persisted, as
    # in minhash_near_duplicates (no cold win)
    sh = shingles(corpus, k)
    sigs = minhash_signatures(sh, perms)
    cand = lsh_candidate_pairs(lsh_bands(sigs, bands, perms))
    sa = sigs.select(
        F.col("doc_id").alias("a"), *[F.col(f"mh_{j}").alias(f"_a{j}") for j in range(perms)]
    )
    sb = sigs.select(
        F.col("doc_id").alias("b"), *[F.col(f"mh_{j}").alias(f"_b{j}") for j in range(perms)]
    )
    n_match = reduce(
        lambda x, y: x + y,
        [(F.col(f"_a{j}") == F.col(f"_b{j}")).cast("long") for j in range(perms)],
    )
    est = cand.join(sa, "a").join(sb, "b").select("a", "b", n_match.alias("n_match"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    inter = (
        cand.join(sh.select(F.col("doc_id").alias("a"), "shingle"), "a")
        .join(sh.select(F.col("doc_id").alias("b"), "shingle"), ["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_inter"))
    )
    jx = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    exact = (
        inter.join(sizes.select(F.col("doc_id").alias("a"), F.col("n_sh").alias("n_a")), "a")
        .join(sizes.select(F.col("doc_id").alias("b"), F.col("n_sh").alias("n_b")), "b")
        .select("a", "b", jx.alias("jx"))
    )
    j_est = F.col("n_match") / F.lit(float(perms))
    return est.join(exact, ["a", "b"]).select(
        "a",
        "b",
        "n_match",
        F.round(j_est, 6).alias("j_est"),
        F.round("jx", 6).alias("j_exact"),
        F.round(F.abs(j_est - F.col("jx")), 6).alias("abs_err"),
    )


def minhash_near_duplicates(corpus: DataFrame) -> DataFrame:
    """Full MinHash-LSH pipeline: shingle → sign → band → candidates →
    verified (a, b, jaccard).

    The shingle table feeds FOUR plan branches (signatures, pair sizes,
    both intersection sides); per-branch projections differ, so Spark's
    static exchange reuse never fires and the scan+explode+distinct
    runs once per branch.  It is not persisted: keeping it (and
    cutting the result so it can be released) was no faster cold than
    the four scans (docs/PLANS.md, "One scoped persist")."""
    sh = shingles(corpus)
    sigs = minhash_signatures(sh)
    cands = lsh_candidate_pairs(lsh_bands(sigs))
    return jaccard_verify(cands, sh)


def simhash_fingerprints(corpus: DataFrame, bits: int = 64) -> DataFrame:
    """(doc_id, fingerprint) — bit j is 1 iff the sum over distinct tokens
    of ±1 (hex digit j of a keyed md5 of the token ≥ '8') is positive.

    One md5 yields 32 hex digits, so bit positions ≥ 32 draw from
    md5('<k>|' || token) for k = j // 32 — still bit-reproducible in the
    DuckDB oracle.  Default is the SCALE-SAFE 64 bits (4 × 16-bit bands
    → 65,536 buckets per pigeonhole table); the 16-bit configuration
    survives only inside the oracle queries, whose SQL twins are written
    for it."""
    toks = corpus.select(
        "doc_id", F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("tok")
    )
    n_hashes = (bits + 31) // 32
    for k in range(n_hashes):
        col = F.md5(F.col("tok")) if k == 0 else F.md5(
            F.concat(F.lit(f"{k}|"), F.col("tok"))
        )
        toks = toks.withColumn(f"h{k}", col)
    bit_aggs = [
        F.when(
            F.sum(
                F.when(
                    F.substring(F.col(f"h{j // 32}"), j % 32 + 1, 1).isin(
                        list("89abcdef")
                    ),
                    1,
                ).otherwise(-1)
            )
            > 0,
            F.lit("1"),
        )
        .otherwise(F.lit("0"))
        .alias(f"b{j}")
        for j in range(bits)
    ]
    per_doc = toks.groupBy("doc_id").agg(*bit_aggs)
    return per_doc.select(
        "doc_id", F.concat(*[F.col(f"b{j}") for j in range(bits)]).alias("fingerprint")
    )


def simhash_near_duplicates(corpus: DataFrame, max_hamming: int = 3, bits: int = 64) -> DataFrame:
    """(a, b, hamming) pairs with hamming ≤ max_hamming via PIGEONHOLE
    banding: the fingerprint is split into ``max_hamming + 1`` disjoint
    bands, and any pair within distance ≤ max_hamming must agree EXACTLY
    on at least one band (the Manku/Charikar multi-table scheme) — the
    blocking is lossless, unlike prefix blocking (a fixed 8-bit prefix
    both misses pairs that differ in the prefix — a recall bug — and
    caps the corpus at 256 buckets, each an intra-bucket quadratic
    self-join at scale).  Bands give 2^w buckets per table and shrink
    with corpus growth by raising ``bits``; the verify step is exact
    hamming on candidates only."""
    fp = simhash_fingerprints(corpus, bits)
    return simhash_pairs_from_fingerprints(fp, max_hamming, bits)


def simhash_pairs_from_fingerprints(
    fp: DataFrame, max_hamming: int = 3, bits: int = 64
) -> DataFrame:
    """Banded pair search over a (doc_id, fingerprint) table — split out
    so recall can be tested on fabricated fingerprints."""
    n_bands = max_hamming + 1
    w = bits // n_bands
    band_structs = [
        F.struct(
            F.lit(k).alias("band_id"),
            F.substring(
                "fingerprint", k * w + 1, (bits - k * w) if k == n_bands - 1 else w
            ).alias("bkey"),
        )
        for k in range(n_bands)
    ]
    banded = fp.select(
        "doc_id", "fingerprint", F.explode(F.array(*band_structs)).alias("bk")
    ).select("doc_id", "fingerprint", "bk.band_id", "bk.bkey")
    a = banded.select(
        F.col("doc_id").alias("a"), F.col("fingerprint").alias("fa"),
        "band_id", "bkey",
    )
    b = banded.select(
        F.col("doc_id").alias("b"), F.col("fingerprint").alias("fb"),
        "band_id", "bkey",
    )
    cands = (
        a.join(b, ["band_id", "bkey"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "fa", "fb")
        .distinct()  # a close pair can collide in several bands
    )
    hamming = sum(
        (F.substring("fa", j + 1, 1) != F.substring("fb", j + 1, 1)).cast("int")
        for j in range(bits)
    )
    return (
        cands.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def exact_substring_pairs(
    corpus: DataFrame, w: int = 20, max_doc_freq: int = 1000
) -> DataFrame:
    """(doc_a, doc_b, n_shared_windows, longest_run, longest_match_tokens)
    — cross-document EXACT substring duplication à la Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"): two
    documents sharing a verbatim token run of length ≥ w are reported
    with the length of their longest shared run.  This is the
    distributed windowed-hash form of ExactSubstr (the paper's suffix
    array is a single-machine structure): every length-w token window
    is hashed; a shared substring of length L ≥ w appears as L−w+1
    consecutive window matches on one DIAGONAL (pos_a − pos_b
    constant), so longest_match_tokens = w + longest_run − 1 exactly.

    Complements MinHash/LSH (which scores whole-document set overlap
    and misses a long verbatim quote inside otherwise-different docs)
    and intra-doc repeated n-grams.

    Shape at scale: the window explode is narrow and runs once; window
    hashes seen in more than ``max_doc_freq`` documents are dropped
    before the self-join (the same boilerplate-storm cap as
    jaccard_pairs_inverted, df-capped join fan-out ≤ cap² per hash) by
    a window over the one hash-keyed exchange, which both join sides
    reuse; the join carries (md5, doc_id, pos) slim rows only for
    SHARED hashes; island detection is one window function partitioned
    by (pair, diagonal) — keys the shuffle already provides.
    """
    # token array let-bound (same device and rationale as shingle_array)
    toks = F.split(F.col("text"), " ")
    z = F.array(F.struct(toks.alias("t")))

    def per(zz):
        t = zz["t"]
        n = F.size(t)
        starts = F.when(n >= w, F.sequence(F.lit(0), n - w)).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(
            starts,
            lambda i: F.md5(F.array_join(F.slice(t, (i + 1).cast("int"), w), " ")),
        )

    wins_arr = F.element_at(F.transform(z, per), 1)

    # the df cap is a window over the wh-partitioned hashes (distinct
    # docs = the max dense_rank by doc_id; null ids never pair, so they
    # are not counted), not a groupBy joined back: both self-join sides
    # are then one plan, so they share one exchange and the per-window
    # md5 explode runs once, with nothing persisted (docs/PLANS.md, "One
    # scoped persist")
    wins = corpus.where(F.col("doc_id").isNotNull()).select(
        "doc_id", F.posexplode(wins_arr).alias("pos", "wh")
    )
    by_hash = Window.partitionBy("wh")
    hits = (
        wins.withColumn("_dr", F.dense_rank().over(by_hash.orderBy("doc_id")))
        .withColumn("_nd", F.max("_dr").over(by_hash))
        .filter((F.col("_nd") >= 2) & (F.col("_nd") <= max_doc_freq))
        .select("wh", "doc_id", "pos")
    )
    pairs = (
        hits.alias("a").join(hits.alias("b"), "wh")
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("a.pos").alias("pos_a"),
            F.col("b.doc_id").alias("doc_b"), F.col("b.pos").alias("pos_b"),
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
    diag = (F.col("pos_a") - F.col("pos_b")).alias("diag")
    seq = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    runs = (
        pairs.select("doc_a", "doc_b", diag, "pos_a")
        .withColumn("island", F.col("pos_a") - F.row_number().over(seq))
        .groupBy("doc_a", "doc_b", "diag", "island")
        .agg(F.count("*").alias("run"))
    )
    return runs.groupBy("doc_a", "doc_b").agg(
        F.sum("run").cast("long").alias("n_shared_windows"),
        F.max("run").cast("long").alias("longest_run"),
        (F.max("run") + F.lit(w - 1)).cast("long").alias("longest_match_tokens"),
    )


def sentence_dedup(docs: DataFrame) -> DataFrame:
    """Corpus-wide sentence-level (line-level) dedup summary: per doc,
    how many of its sentences survive first-occurrence dedup.

    The standard line-dedup pass of C4/RefinedWeb-style pipelines:
    a sentence occurring in many documents (boilerplate, navigation,
    license blurbs) is kept only at its FIRST occurrence — ordered by
    (doc_id, sent_id), deterministic — and dropped everywhere else.

    Returns (doc_id, n_sents, n_kept, n_dropped).  Docs with no
    sentences (empty text) keep a row with zeros so the output is a
    total function of the corpus.

    Shape at scale: one groupBy over md5(sent_text) — the exchange
    carries 32-hex-digit keys, not arbitrary-length sentence text —
    with map-side partial aggregation (shuffle = distinct sentences);
    min(struct) picks the owner without a window sort.  md5 equality
    stands in for text equality, the same standing assumption as
    exact_duplicates above.
    """
    from .textstats import sentence_texts

    sents = sentence_texts(docs)
    owners = sents.groupBy(F.md5("sent_text").alias("sh")).agg(
        F.min(F.struct("doc_id", "sent_id")).alias("o")
    ).select(F.col("o.doc_id").alias("doc_id"), F.col("o.sent_id").alias("sent_id"))
    kept = owners.groupBy("doc_id").agg(F.count("*").alias("n_kept"))
    totals = sents.groupBy("doc_id").agg(F.count("*").alias("n_sents"))
    out = (
        docs.select("doc_id")
        .join(totals, "doc_id", "left")
        .join(kept, "doc_id", "left")
    )
    return out.select(
        "doc_id",
        F.coalesce("n_sents", F.lit(0)).cast("long").alias("n_sents"),
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        (F.coalesce("n_sents", F.lit(0)) - F.coalesce("n_kept", F.lit(0)))
        .cast("long")
        .alias("n_dropped"),
    )


def repeated_ngram_stats(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, n_tokens, n_repeated, n_masked, clean_hash) — intra-doc
    repeated-n-gram removal (the within-document arm of Lee et al. 2021
    "Deduplicating Training Data Makes Language Models Better": repeated
    spans inside one page are memorization fuel even when no two pages
    collide).  Every n-gram occurrence AFTER the first inside a doc is a
    repeat; the tokens covered by any repeated occurrence are removed
    and the surviving tokens re-joined — ``clean_hash`` pins the exact
    reconstruction, ``n_repeated``/``n_masked`` are the filter signals.

    Scale shape: one project builds the token array; the n-gram grid
    explodes to (doc, pos, md5(gram)) rows — fixed-width keys, the one
    corpus-sized exchange is the (doc, gram) min-pos aggregate (map-side
    combined; its output is joined back on the same key, so AQE reuses
    the shuffle).  Mask positions collapse doc-side to a bounded array
    (≤ doc length) and the reconstruction is per-row array arithmetic —
    ``array_contains`` against the JOINED mask attribute, which Catalyst
    cannot inline into the lambda (the join boundary blocks
    CollapseProject), so the no-computed-arrays-in-lambdas rule holds.
    Token slices are joined with ' ' before hashing: the corpus
    tokenizes on single spaces, so gram identity == token-sequence
    identity on both engines.
    """
    toks = docs.select(
        "doc_id",
        F.split(F.coalesce(F.col("text"), F.lit("")), " ").alias("t"),
    ).select("doc_id", "t", F.size("t").alias("n_tokens"))
    grid = toks.select(
        "doc_id",
        "n_tokens",
        F.explode(
            F.when(
                F.col("n_tokens") >= n,
                F.sequence(F.lit(1), F.col("n_tokens") - (n - 1)),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("pos"),
        F.col("t"),
    ).select(
        "doc_id",
        "pos",
        F.md5(F.concat_ws(" ", F.slice(F.col("t"), F.col("pos"), n))).alias("gram"),
    )
    firsts = grid.groupBy("doc_id", "gram").agg(F.min("pos").alias("first_pos"))
    rep = grid.join(firsts, ["doc_id", "gram"]).filter(
        F.col("pos") > F.col("first_pos")
    )
    rep_counts = rep.groupBy("doc_id").agg(F.count("*").alias("n_repeated"))
    masked = (
        rep.select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (n - 1))).alias("mpos"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.collect_list("mpos").alias("mask"), F.count("*").alias("n_masked"))
    )
    joined = (
        toks.join(masked, "doc_id", "left")
        .join(rep_counts, "doc_id", "left")
        .withColumn("mask", F.coalesce(F.col("mask"), F.array().cast("array<int>")))
    )
    kept = F.filter(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.col("n_tokens"), F.lit(1))),
            lambda i: F.struct(
                i.alias("i"), F.element_at(F.col("t"), i).alias("tok")
            ),
        ),
        lambda s: (s["i"] <= F.col("n_tokens")) & ~F.array_contains(F.col("mask"), s["i"]),
    )
    clean = F.md5(F.concat_ws(" ", F.transform(kept, lambda s: s["tok"])))
    return joined.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.coalesce(F.col("n_repeated"), F.lit(0)).cast("long").alias("n_repeated"),
        F.coalesce(F.col("n_masked"), F.lit(0)).cast("long").alias("n_masked"),
        clean.alias("clean_hash"),
    )


def bloom_bits(
    values: DataFrame, value_col: str, m_bits: int = 262_144, k_hashes: int = 3
) -> DataFrame:
    """(bit,) — the distinct set bit positions of a Bloom filter over
    ``values``: k md5-keyed hash probes per value into an ``m_bits``
    space (bit_j(v) = md5(j|v) mod m — the same engine-exact bucket
    primitive as the Count-Min sketch).  Represented as a distinct-bit
    DataFrame (≤ m_bits rows) rather than a packed bitarray so the
    probe side is a broadcast join and the DuckDB oracle replays it."""
    from .sketches import cm_bucket

    v = F.col(value_col).cast("string")
    return (
        values.filter(v.isNotNull())
        .select(
            F.explode(F.array(*[F.lit(j) for j in range(k_hashes)])).alias("j"),
            v.alias("_v"),
        )
        .select(cm_bucket(F.col("_v"), F.col("j"), m_bits).alias("bit"))
        .distinct()
    )


def bloom_contaminated(
    corpus: DataFrame,
    benchmark: DataFrame,
    k: int = config.SHINGLE_K,
    m_bits: int = 262_144,
    k_hashes: int = 3,
    min_shared: int = 2,
) -> DataFrame:
    """(doc_id, n_maybe_shingles, flagged) — Bloom-filter benchmark
    decontamination: the 100 TB screening form of ``contaminated_docs``
    above.  Instead of broadcasting the benchmark's SHINGLE STRINGS
    (eval suites are small, but a union of many suites is not), ship a
    CONSTANT-SIZE bit set (m_bits/8 bytes regardless of suite size): a
    corpus shingle "maybe" hits when all k probes land on set bits —
    one-sided, so the flag set is a SUPERSET of the exact screen's
    (Bloom filters have no false negatives; pytest-pinned), and flagged
    docs go to the exact verifier or are dropped outright under a
    conservative policy.

    Shape at scale: the bit set builds from the benchmark side only
    (k probes per distinct shingle, one distinct over ≤ m_bits slim
    longs) and BROADCASTS; the corpus explodes shingle×k probes
    map-side, the join keeps only probe hits, and two hash-aggs
    (per-(doc, shingle) all-k check, then per-doc count) finish —
    the corpus is scanned once and never shuffled at full width."""
    bits = bloom_bits(
        shingles(benchmark, k).select("shingle"), "shingle", m_bits, k_hashes
    )
    from .sketches import cm_bucket

    c_sh = shingles(corpus, k)
    probes = c_sh.select(
        "doc_id",
        "shingle",
        F.explode(F.array(*[F.lit(j) for j in range(k_hashes)])).alias("j"),
    ).select(
        "doc_id",
        "shingle",
        cm_bucket(F.col("shingle"), F.col("j"), m_bits).alias("bit"),
    )
    hits = (
        probes.join(F.broadcast(bits), "bit")
        .groupBy("doc_id", "shingle")
        .agg(F.count("*").alias("n_hit"))
        .filter(F.col("n_hit") == k_hashes)
    )
    return (
        hits.groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_maybe_shingles"))
        .select(
            "doc_id",
            "n_maybe_shingles",
            (F.col("n_maybe_shingles") >= min_shared).alias("flagged"),
        )
    )


def cluster_size_histogram(comps: DataFrame) -> DataFrame:
    """Duplicate-cluster size distribution from a (entity, component)
    canonicalization map: ``(size, n_clusters, n_docs, pct_docs)`` —
    the dedup-QA readout.  A healthy near-dup pass shows a steep
    power-law tail; one giant cluster means a boilerplate shingle (or
    an over-eager threshold) glued the corpus together and the keep-one
    pass is about to delete it.  Scope is the pair graph's nodes
    (singleton documents never enter the map).

    Two dimension-sized aggregates (component → size, size → count)
    after the map — nothing row-sized beyond the input itself.
    """
    sizes = comps.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("size")
    )
    hist = sizes.groupBy("size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters")
    )
    tot = comps.agg(F.count(F.lit(1)).cast("long").alias("total"))
    return hist.crossJoin(F.broadcast(tot)).select(
        "size",
        "n_clusters",
        (F.col("size") * F.col("n_clusters")).cast("long").alias("n_docs"),
        F.round(
            (F.col("size") * F.col("n_clusters")) / F.col("total"), 6
        ).alias("pct_docs"),
    )


def cdc_chunk_stats(
    docs: DataFrame,
    modulus: int = 8,
    ndigits: int = 6,
) -> DataFrame:
    """Content-defined chunking dedup stats at token granularity — the
    anchor-point formulation (a token opens a new chunk when
    ``md5(token) % modulus == 0``), the stateless cousin of Rabin/Gear
    CDC used for text: boundaries depend only on local content, so an
    insertion resynchronizes within one chunk instead of shifting every
    fixed-stride block (the failure mode fixed-size chunking has and
    ExactSubstr-style suffix machinery pays O(L log L) to avoid).

    Scale shape: boundary flags are a pure map (no state — unlike
    byte-rolling Gear, the anchor predicate is per-token), chunk ids
    are ONE per-doc cumulative-sum window, chunk hashes one
    (doc, chunk) aggregate with order restored by array_sort (no
    collect_list order dependence), and cross-doc duplication one
    hash-keyed count.  Every stage is a narrow shuffle on keys that
    exist anyway (doc_id, chunk_hash).

    Output per doc: ``(doc_id, n_chunks, dup_chunks, dup_ratio)``
    where dup = the chunk's hash occurs in >1 document.
    """
    toks = docs.filter(F.coalesce(F.col("text"), F.lit("")) != "").select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    anchored = toks.withColumn(
        "boundary",
        (
            F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10).cast("long")
            % modulus
            == 0
        ).cast("long"),
    ).withColumn(
        "chunk_id",
        F.sum("boundary").over(
            Window.partitionBy("doc_id").orderBy("pos")
        ),
    )
    chunks = (
        anchored.groupBy("doc_id", "chunk_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "tok"))).alias("ps"))
        .select(
            "doc_id",
            "chunk_id",
            F.md5(
                F.concat_ws(
                    " ", F.transform("ps", lambda s: s["tok"])
                )
            ).alias("chunk_hash"),
        )
    )
    freq = chunks.groupBy("chunk_hash").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    return (
        chunks.join(freq, "chunk_hash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum((F.col("n_docs") > 1).cast("long"))
            .cast("long")
            .alias("dup_chunks"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "dup_chunks",
            F.round(F.col("dup_chunks") / F.col("n_chunks"), ndigits).alias(
                "dup_ratio"
            ),
        )
    )
