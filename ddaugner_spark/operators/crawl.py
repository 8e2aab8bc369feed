"""Crawl-snapshot operators over the Common-Crawl-style pages table
(BASELINE.json input_hint: url, warc_ts, html, text, lang).

A real crawl delivers the SAME logical page many times — recrawls
(multiple ``warc_ts`` captures per url), mirror urls (``WWW.``/case/
default-port/tracking-param noise), and hub-host skew (a handful of
hosts own most of the rows).  These are the three operators every
KG-construction run needs between the raw WARC scan and the mention
stage:

* :func:`with_canonical_url` — deterministic URL canonicalization as
  pure column expressions (whole-stage codegen, zero shuffles): the
  join/dedup key every downstream per-url operator groups on.
* :func:`latest_captures` — "latest capture wins" snapshot dedup as ONE
  partially-aggregable ``groupBy(url).agg(max_by(...))`` (map-side
  combine; deliberately NOT a row_number window, which would sort every
  url's captures inside a full-width shuffle).
* :func:`key_skew_profile` — the heavy-key profiler that tells a run
  WHICH hosts need salting/AQE skew-join before the big joins fire
  (the north_rule names hub-entity skew as a first-class concern).

All three are engine-portable to the DuckDB oracles (regexp subset =
Java ∩ RE2, no backreferences in patterns; parse_url twinned with
regexp_extract).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ddaugner_spark.plans.materialize import cut, scratch_dir

#: ports implied by the scheme — stripped during canonicalization;
#: every other explicit port is load-bearing and kept.
DEFAULT_PORTS = {"http": "80", "https": "443"}

#: query parameters dropped during canonicalization (tracking noise —
#: the page content does not depend on them).  Prefix match.
TRACKING_PREFIX = "utm_"

_PORT_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*:(\d+)"


def canonical_url(url: Column) -> Column:
    """Deterministic canonical form of ``url`` (pure column exprs):

    * scheme and host lowercased; a leading ``www.`` label dropped;
    * the port dropped iff it is the scheme's default (80/443) —
      non-default ports are kept;
    * an empty path normalized to ``/``;
    * query parameters whose key starts with ``utm_`` dropped (order of
      the survivors preserved); an emptied query is dropped entirely;
    * the ``#fragment`` always dropped.

    Everything is ``parse_url`` + string arithmetic — no Python, no
    shuffle; Catalyst keeps the whole expression inside one codegen
    stage, so canonicalizing 10^12 urls costs exactly one map pass.
    The DuckDB twin parses with ``regexp_extract`` (patterns in the
    Java ∩ RE2 subset, verified on the same edge cases).
    """
    proto = F.lower(F.parse_url(url, F.lit("PROTOCOL")))
    host0 = F.lower(F.parse_url(url, F.lit("HOST")))
    host = F.when(host0.startswith("www."), F.substring(host0, 5, 2_000_000)).otherwise(
        host0
    )
    port = F.regexp_extract(url, _PORT_RE, 1)
    keep_port = (port != "") & ~(
        ((proto == "http") & (port == DEFAULT_PORTS["http"]))
        | ((proto == "https") & (port == DEFAULT_PORTS["https"]))
    )
    path0 = F.parse_url(url, F.lit("PATH"))
    path = F.when((path0.isNull()) | (path0 == ""), F.lit("/")).otherwise(path0)
    query0 = F.parse_url(url, F.lit("QUERY"))
    query = F.array_join(
        F.filter(
            F.split(F.coalesce(query0, F.lit("")), "&"),
            lambda p: ~p.startswith(TRACKING_PREFIX),
        ),
        "&",
    )
    return F.concat(
        proto,
        F.lit("://"),
        host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path,
        F.when(query != "", F.concat(F.lit("?"), query)).otherwise(F.lit("")),
    )


def host_of(url: Column) -> Column:
    """Lowercased host of ``url``, ``www.`` and port stripped — the
    grouping key for per-site statistics and politeness partitioning."""
    h = F.lower(F.parse_url(url, F.lit("HOST")))
    return F.when(h.startswith("www."), F.substring(h, 5, 2_000_000)).otherwise(h)


def registered_domain(host: Column) -> Column:
    """Last two dot-labels of ``host`` (``a.b.example.com`` →
    ``example.com``).  Simplification: a real pipeline consults the
    public-suffix list (``co.uk`` et al.); the two-label rule is the
    documented stand-in — the operator shape (one regexp_extract,
    map-only) is identical either way."""
    return F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)


def with_canonical_url(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """pages + (url_canon, host, domain) columns — map-only."""
    h = host_of(F.col(url_col))
    return pages.withColumns(
        {
            "url_canon": canonical_url(F.col(url_col)),
            "host": h,
            "domain": registered_domain(h),
        }
    )


def latest_captures(
    pages: DataFrame,
    key_col: str = "url",
    ts_col: str = "warc_ts",
    tie_col: str = "text",
) -> DataFrame:
    """One row per ``key_col``: the capture with the greatest
    ``(ts_col, md5(tie_col))``, plus ``n_captures``.

    Plan: ``groupBy(key).agg(max(struct(ord..., payload...)), count)``
    — the ordering fields lead the struct so lexicographic struct-max
    IS the argmax, and the aggregate runs with MAP-SIDE PARTIAL COMBINE
    (``partial_max`` below the Exchange — plan-pinned): each executor
    reduces its local captures of a url to one row before the single
    shuffle, so exchange volume is |partition, url| pairs, not
    |captures| (4.5× less at the bench's recrawl factor; ~10× on a real
    crawl).  Formulations measured on the 450k-row bench capture table
    (interleaved min-of-3, quiet box, local[32]):

    * ``max(struct)`` (this): **1.39 s** — partial SortAggregate,
      combine before the wire;
    * ``row_number`` window: 1.39 s — wall-parity on one box only
      because 450k rows fit; it ships EVERY capture row through the
      exchange and sorts per url, which is the cost at crawl scale
      (bench aux records the per-arm exchange rows);
    * ``max_by(payload, ord)``: 1.52 s — TypedImperativeAggregate →
      ObjectHashAggregate, outside codegen; same exchange as this form,
      ~9% more CPU, no upside.

    The md5 tie-break keeps the winner deterministic under repartition
    when two captures share a timestamp (CLAUDE.md determinism rule).
    """
    ordered = F.struct(
        F.col(ts_col).alias("_ord_ts"),
        F.md5(F.col(tie_col)).alias("_ord_tb"),
        *[F.col(c).alias(c) for c in pages.columns],
    )
    agg = pages.groupBy(key_col).agg(
        F.max(ordered).alias("_w"),
        F.count(F.lit(1)).alias("n_captures"),
    )
    keep = [c for c in pages.columns if c != key_col]
    return agg.select(
        key_col, *[F.col(f"_w.{c}").alias(c) for c in keep], "n_captures"
    )


def snapshot_diff(
    old: DataFrame, new: DataFrame, key: str, hash_cols: list[str]
) -> DataFrame:
    """Table-state diff between two snapshots (the Iceberg
    snapshot-inspection / CDC-backfill shape): ``(key, old_hash,
    new_hash, status ∈ {added, removed, changed})`` — unchanged rows
    are NOT emitted, so the output is delta-sized.

    Each side reduces to (key, md5 over ``hash_cols``) FIRST — the
    full-outer join carries two hash columns, never the page payloads —
    then one co-partitioned full-outer join on ``key``.  Hashes are
    sentinel-'' on the missing side (NULL strings would survive to the
    driver hash).  At 10^12 rows this is the nightly "what changed
    since the last crawl" primitive feeding the incremental pipeline;
    both inputs bucketed by ``key`` make it exchange-free."""
    fp = F.md5(F.concat_ws("\x1f", *hash_cols))
    oh = old.select(F.col(key), fp.alias("old_hash"))
    nh = new.select(F.col(key), fp.alias("new_hash"))
    j = oh.join(nh, key, "full_outer")
    status = (
        F.when(F.col("old_hash").isNull(), F.lit("added"))
        .when(F.col("new_hash").isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
    )
    return (
        j.filter(
            F.col("old_hash").isNull()
            | F.col("new_hash").isNull()
            | (F.col("old_hash") != F.col("new_hash"))
        )
        .select(
            key,
            F.coalesce("old_hash", F.lit("")).alias("old_hash"),
            F.coalesce("new_hash", F.lit("")).alias("new_hash"),
            status.alias("status"),
        )
    )


def key_skew_profile(
    df: DataFrame, key_col: str, top_n: int = 10, ndigits: int = 6
) -> DataFrame:
    """Top-``top_n`` heaviest keys with their share of all rows:
    ``(key, n_rows, share, rank)`` — the pre-flight skew diagnosis for
    any shuffle keyed on ``key_col`` (share ≳ 1/parallelism ⇒ that key
    alone fills an executor; salt it or let AQE split it).

    Plan: one partial-aggregable ``groupBy(key)`` over the fact table;
    the grand total is RE-AGGREGATED FROM THE PER-KEY TABLE (not a
    second fact scan) and broadcast back as a 1-row crossJoin — the
    same shape as the q_important_parts threshold.  The final top-N
    window runs on the key-vocabulary-sized table, never on rows.
    """
    from pyspark.sql import Window

    per_key = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("n_rows"))
    total = per_key.agg(F.sum("n_rows").alias("_t"))
    w = Window.orderBy(F.col("n_rows").desc(), F.col(key_col).asc())
    return (
        per_key.crossJoin(F.broadcast(total))
        .withColumn("share", F.round(F.col("n_rows") / F.col("_t"), ndigits))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .drop("_t")
    )


def extract_links(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(url, target_url) hyperlink rows: every ``href="..."`` in the
    decoded html, exploded.  One regexp_extract_all + explode — map-only
    (the explode fans out WITHIN the scan task, no exchange), pattern in
    the Java ∩ RE2 subset so the DuckDB twin extracts identically.  The
    raw-crawl front door for the host-level web graph."""
    s = F.decode(F.col(html_col), "UTF-8")
    hrefs = F.regexp_extract_all(s, F.lit('href="([^"]*)"'), F.lit(1))
    return pages.select(F.col(url_col).alias("url"), F.explode(hrefs).alias("target_url"))


def extract_anchors(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(url, target_url, anchor) rows: every ``<a href="...">text</a>``
    in the decoded html with its anchor TEXT — the strongest external
    naming signal a web-scale KG has (how the rest of the web refers to
    a page feeds entity labels and link-scoring priors, exactly the
    role anchor text plays in classic web search).

    Map-only like :func:`extract_links`: ONE ``regexp_extract_all`` of
    the whole tag + explode, then two per-tag ``regexp_extract`` calls
    pull href and text — the explode fans out inside the scan task, no
    exchange.  Patterns live in the Java ∩ RE2 subset so the DuckDB
    twin extracts identically."""
    s = F.decode(F.col(html_col), "UTF-8")
    tags = F.regexp_extract_all(
        s, F.lit('(<a href="[^"]*">[^<]*</a>)'), F.lit(1)
    )
    return pages.select(
        F.col(url_col).alias("url"), F.explode(tags).alias("_tag")
    ).select(
        "url",
        F.regexp_extract(F.col("_tag"), 'href="([^"]*)"', 1).alias("target_url"),
        F.regexp_extract(F.col("_tag"), ">([^<]*)<", 1).alias("anchor"),
    )


def anchor_summary(anchors: DataFrame) -> DataFrame:
    """(dst_host, n_links, n_anchor_forms, top_anchor, top_count) — the
    per-target-host anchor-text profile: total in-links, number of
    distinct anchor surfaces, and the most frequent surface (count
    ties break on the lexically smallest anchor, so the winner is
    deterministic under repartition).

    Two partial-aggregable hash aggregates, both keyed on the host that
    the first one already shuffled by: (host, anchor) counts collapse
    map-side, then one ``min(struct(-cnt, anchor))`` per host picks the
    winner inside the aggregate — no per-host sort window, so a hub
    host with millions of in-links costs the same per-row work as a
    leaf host (the north_rule's Wikipedia case)."""
    per_anchor = (
        anchors.select(
            host_of(F.col("target_url")).alias("dst_host"), "anchor"
        )
        .groupBy("dst_host", "anchor")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    best = F.min(
        F.struct((-F.col("cnt")).alias("neg"), F.col("anchor").alias("anchor"))
    )
    return per_anchor.groupBy("dst_host").agg(
        F.sum("cnt").cast("long").alias("n_links"),
        F.count(F.lit(1)).cast("long").alias("n_anchor_forms"),
        best.alias("_best"),
    ).select(
        "dst_host",
        "n_links",
        "n_anchor_forms",
        F.col("_best.anchor").alias("top_anchor"),
        (-F.col("_best.neg")).cast("long").alias("top_count"),
    )


def resolve_redirects(
    redirects: DataFrame,
    max_jumps: int = 16,
    stage_dir: str | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """(src, final_url, hops) — resolve every redirect source to the
    terminal url of its chain (the row's ``dst`` after following
    redirects until a url that redirects nowhere), with the exact chain
    length in ``hops``.

    ``redirects`` is a functional graph: (src, dst) with at most one
    outgoing edge per src (HTTP redirects).  Cycles are the pathological
    case — a chain still unresolved after ``max_jumps`` doublings
    (2^max_jumps hops) is emitted with ``final_url = NULL``, the
    redirect-loop convention.

    POINTER JUMPING, not chain walking: each iteration joins the still-
    ACTIVE rows against the full mapping on ``dst = src`` and composes —
    (s→m, h₁) ∘ (m→t, h₂) = (s→t, h₁+h₂) — so resolved depth DOUBLES
    per round and a 10⁹-url crawl with depth-30 redirect chains settles
    in 5 shuffles where the naive walk (the recursive-CTE oracle twin)
    takes 30.

    A row whose target is no redirect source is SETTLED — it leaves the
    iterating set permanently (appended to the settled store), so the
    per-round join's left side shrinks to exactly the unresolved rows:
    a handful of redirect LOOPS (which real crawls always contain)
    costs |loops|-sized rounds after the chains settle, not full-table
    churn to the doubling budget.  Rows still unresolved after
    ``max_jumps`` doublings sit on a cycle (or a > 2^max_jumps chain)
    and are emitted with ``final_url = NULL, hops = NULL`` — their
    accumulated hop count is an artifact of going around the loop, not
    a chain length, so it is withheld rather than reported.  Parquet
    round-trips per round keep plan depth constant (the CC/LPA
    idiom)."""
    import os
    import time

    spark = redirects.sparkSession
    if stats is None:
        stats = {}
    stats["rounds"] = []
    stage_dir = scratch_dir(stage_dir, "ddaugner_redir_")

    settled_dir = f"{stage_dir}/settled"
    active = cut(
        redirects.select("src", "dst").distinct().withColumn(
            "hops", F.lit(1).cast("long")
        ),
        f"{stage_dir}/active_init",
    )
    have_settled = False
    for _round in range(1, max_jumps + 1):
        r_t0 = time.time()
        # lookup = every original src exactly once (active ∪ settled):
        # composing with a settled entry finishes the row in one step
        lookup = active
        if have_settled:
            lookup = lookup.unionByName(spark.read.parquet(settled_dir))
        hop = lookup.select(
            F.col("src").alias("_s2"),
            F.col("dst").alias("_d2"),
            F.col("hops").alias("_h2"),
        )
        jumped = cut(
            active.join(hop, active.dst == hop._s2, "left").select(
                "src",
                F.coalesce("_d2", "dst").alias("dst"),
                F.when(F.col("_s2").isNotNull(), F.col("hops") + F.col("_h2"))
                .otherwise(F.col("hops"))
                .alias("hops"),
                F.col("_s2").isNotNull().alias("_moved"),
            ),
            f"{stage_dir}/j_{_round % 2}",
        )
        newly_settled = jumped.filter(~F.col("_moved")).drop("_moved")
        if newly_settled.limit(1).count() > 0:
            newly_settled.write.mode("append").parquet(settled_dir)
            have_settled = True
        active = jumped.filter(F.col("_moved")).drop("_moved")
        n_active = active.count()
        stats["rounds"].append(
            {"round": _round, "sec": round(time.time() - r_t0, 3), "n_active": n_active}
        )
        if n_active == 0:
            break

    resolved = (
        spark.read.parquet(settled_dir).select(
            "src", F.col("dst").alias("final_url"), "hops"
        )
        if os.path.isdir(settled_dir)
        else spark.createDataFrame([], "src string, final_url string, hops long")
    )
    unresolved = active.select(
        "src",
        F.lit(None).cast("string").alias("final_url"),
        F.lit(None).cast("long").alias("hops"),
    )
    return resolved.unionByName(unresolved)


def frontier_schedule(
    frontier: DataFrame,
    url_col: str = "url",
    host_col: str = "host",
    priority_col: str = "priority",
    max_per_host: int | None = None,
) -> DataFrame:
    """(url, host, priority, tick) — POLITE crawl-frontier scheduling:
    tick = the fetch round the url is assigned to, computed as its rank
    within its host by (priority desc, url asc).  Reading the output by
    ascending tick fetches AT MOST ONE url per host per round (the
    politeness invariant every crawler must keep) while always taking
    each host's best-priority urls first; ``max_per_host`` truncates a
    host's queue (hub hosts would otherwise monopolize late rounds —
    the crawl-budget cap).

    One window partitioned BY HOST — the per-host rank is the only
    state, so the shuffle key is the host and a hub host's partition is
    its own queue, never the whole frontier; no global sort anywhere
    (a global fetch ORDER would serialize the frontier — the scheduler
    deliberately emits the round structure instead)."""
    from pyspark.sql import Window

    w = Window.partitionBy(host_col).orderBy(
        F.col(priority_col).desc(), F.col(url_col).asc()
    )
    out = frontier.withColumn("tick", F.row_number().over(w).cast("long"))
    if max_per_host is not None:
        out = out.filter(F.col("tick") <= max_per_host)
    return out


def host_graph(links: DataFrame) -> DataFrame:
    """(src_host, dst_host, n_links) — the host-level web graph from a
    link table: both endpoints canonicalized with :func:`host_of`, then
    ONE partial-aggregable groupBy.  Hub hosts (the north rule's
    Wikipedia/Facebook case) concentrate on the dst side; the aggregate
    itself is safe (map-side combine bounds any key's shuffle volume by
    the partition count), and downstream per-host joins should consult
    :func:`key_skew_profile` for salting decisions."""
    return (
        links.select(
            host_of(F.col("url")).alias("src_host"),
            host_of(F.col("target_url")).alias("dst_host"),
        )
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )


def url_templates(urls: DataFrame, url_col: str = "url", min_count: int = 2) -> DataFrame:
    """(host, template, n_urls) — URL path TEMPLATE mining: paths
    generalized by replacing ≥8-char hex runs with ``{hex}`` (session
    ids, content hashes) and then digit runs with ``{n}`` (numeric ids,
    dates), aggregated per host.  The crawl-analytics view that exposes
    a site's URL space — which patterns are pagination, which are
    infinite calendar traps, which carry content — before the frontier
    commits budget to them.  Templates below ``min_count`` urls are
    dropped (singletons are not patterns).

    Map-only generalization (two regexp_replace in the Java ∩ RE2
    subset, whole-stage codegen) + ONE partial-aggregable groupBy on
    (host, template) — per-host template vocabularies are tiny, so the
    exchange carries patterns, not urls."""
    path = F.parse_url(F.col(url_col), F.lit("PATH"))
    template = F.regexp_replace(
        F.regexp_replace(path, "[0-9a-f]{8,}", "{hex}"), "[0-9]+", "{n}"
    )
    return (
        urls.select(host_of(F.col(url_col)).alias("host"), template.alias("template"))
        .groupBy("host", "template")
        .agg(F.count(F.lit(1)).cast("long").alias("n_urls"))
        .filter(F.col("n_urls") >= min_count)
    )


#: Demo slice of the Public Suffix List (publicsuffix.org) — the real
#: list (~9k rules) drops in unchanged; the operator only assumes "a
#: set of 1- and 2-label suffixes, longest match wins".  1-label
#: entries deliberately include the country codes that also appear
#: inside 2-label rules (uk, au, jp) so the longest-match rule is
#: exercised, exactly as in the real PSL.
PUBLIC_SUFFIXES = [
    "com", "org", "net", "io", "dev",
    "uk", "au", "jp", "nz",
    "co.uk", "gov.uk", "com.au", "ac.jp", "org.nz",
]


def registrable_domains(
    hosts: DataFrame, suffixes: list[str] | None = None
) -> DataFrame:
    """Registrable-domain (eTLD+1) extraction against a broadcast
    public-suffix table: ``(host, public_suffix, registrable)`` where
    public_suffix is the LONGEST suffix-list entry matching the host's
    trailing labels and registrable = one label + that suffix — the
    unit every per-site crawl policy (politeness, dedup scoping, spam
    domain lists) actually keys on; naive "last two labels" is wrong
    for half the ccTLD space (www.example.co.uk → example.co.uk, not
    co.uk).

    Scale shape: each host emits ≤ 2 candidate suffixes map-side (its
    last label, and its last two when it has them — a host may BE a
    bare public suffix, which matches but yields a NULL registrable),
    the candidate column equi-joins the F.broadcast PSL
    table (9k rows — never shuffled), and one per-host max_by picks
    the longest match; the registrable label is recomputed map-side
    after the join.  Hosts whose tail matches no rule are dropped
    (unknown TLD = not registrable), the PSL contract.
    """
    sfx = PUBLIC_SUFFIXES if suffixes is None else suffixes
    spark = hosts.sparkSession
    psl = spark.createDataFrame([(s,) for s in sfx], "suffix string")

    parts = F.split(F.col("host"), r"\.")
    np = F.size(parts)
    last1 = F.element_at(parts, -1)
    last2 = F.concat_ws(".", F.element_at(parts, -2), F.element_at(parts, -1))
    cands = (
        hosts.select(
            "host",
            F.explode(
                F.array(
                    last1,
                    F.when(np >= 2, last2),
                )
            ).alias("cand"),
        )
        .filter(F.col("cand").isNotNull())
    )
    matched = (
        cands.join(F.broadcast(psl), cands.cand == psl.suffix)
        .groupBy("host")
        .agg(F.max_by("cand", F.length("cand")).alias("public_suffix"))
    )
    parts2 = F.split(F.col("host"), r"\.")
    k = F.size(F.split(F.col("public_suffix"), r"\."))
    # a host that IS a bare public suffix has no registrable label; the
    # WHEN guard also keeps ANSI mode's element_at bounds check happy
    label = F.when(
        F.size(parts2) > k,
        F.element_at(parts2, (F.lit(-1) - k).cast("int")),
    )
    return matched.select(
        "host",
        "public_suffix",
        F.when(
            label.isNotNull(), F.concat_ws(".", label, F.col("public_suffix"))
        ).alias("registrable"),
    )


def crawl_schedule(captures: DataFrame, ndigits: int = 6) -> DataFrame:
    """Recrawl-interval estimation from capture history (Cho &
    Garcia-Molina 2003, "Estimating frequency of change"): per host,
    detect content changes between consecutive captures (hash ≠
    previous hash over the day-ordered window), estimate the Poisson
    change rate with the paper's bias-corrected estimator

        λ̂ = −ln((n − X + 0.5) / (n + 0.5))   [changes/interval]

    (n = observed intervals, X = intervals with a change; the +0.5
    keeps λ̂ finite when X = n), and emit the scheduling quantity
    crawl_interval = 1/λ̂ — the freshness-optimal revisit period the
    frontier allocates budget by.

    Input: (host, day, content_hash).  One per-host window pass for
    the lag diff (host-partitioned — capture history per host is
    small), one hash aggregate; float ops are a fixed ln/division
    chain on exact integer counts, identical in the SQL twin.  Hosts
    with a single capture (n = 0) emit NULL rate/interval.
    """
    w = Window.partitionBy("host").orderBy("day")
    d = captures.withColumn(
        "changed",
        (F.col("content_hash") != F.lag("content_hash").over(w)).cast("long"),
    )
    g = d.groupBy("host").agg(
        F.count("changed").cast("long").alias("n_intervals"),
        F.coalesce(F.sum("changed"), F.lit(0)).cast("long").alias("n_changes"),
    )
    n = F.col("n_intervals").cast("double")
    x = F.col("n_changes").cast("double")
    rate = F.when(
        F.col("n_intervals") > 0,
        -F.log((n - x + F.lit(0.5)) / (n + F.lit(0.5))),
    )
    return g.select(
        "host",
        "n_intervals",
        "n_changes",
        F.round(rate, ndigits).alias("change_rate"),
        # no observed change -> rate 0 -> the interval is unbounded;
        # emit NULL rather than a float infinity
        F.round(
            F.when(F.col("n_changes") > 0, F.lit(1.0) / rate), ndigits
        ).alias("crawl_interval"),
    )


def robots_eval(urls: DataFrame, rules: DataFrame) -> DataFrame:
    """Robots-exclusion evaluation (RFC 9309): ``urls`` (url, host,
    path) against ``rules`` (host, prefix, allow) — per URL the
    LONGEST-prefix-matching rule of its host decides; on an exact
    length tie the ALLOW rule wins (the RFC's least-restrictive rule);
    no matching rule ⇒ allowed.  Output: (url, allowed, matched_rule).
    The gate every fetch passes before it costs bandwidth — evaluated
    here as a set-at-a-time join so the whole frontier is vetted in
    one pass instead of per-fetch.

    Scale shape: the rule table is host-keyed and per-host rule counts
    are small (robots.txt files are ~10² lines), so the candidate join
    fans each url by its host's rule count only; the winner is ONE
    lexicographic struct-max — (len, allow, prefix) — inside a hash
    aggregate (equal-length matching prefixes are equal strings, so
    the tie-break order is total), then a left join back fills the
    no-rule default.  At crawl scale the rules side broadcasts.
    """
    matched = (
        urls.join(rules, "host")
        .filter(F.col("path").startswith(F.col("prefix")))
        .groupBy("url")
        .agg(
            F.max(
                F.struct(
                    F.length("prefix").alias("l"),
                    F.col("allow").alias("allow"),
                    F.col("prefix").alias("prefix"),
                )
            ).alias("b")
        )
    )
    return urls.join(matched, "url", "left").select(
        "url",
        F.coalesce(F.col("b.allow"), F.lit(True)).alias("allowed"),
        F.col("b.prefix").alias("matched_rule"),
    )


def link_audit(pages: DataFrame, links: DataFrame) -> DataFrame:
    """Crawl link-integrity audit: ``(kind, n)`` — every extracted link
    classified as ``resolved_link`` (target url IS a corpus page),
    ``host_mismatch_link`` (the target PATH's doc exists but under a
    different host — the alias/soft-redirect signal), or
    ``dangling_link`` (no such doc anywhere), plus ``orphan_page``
    (corpus pages no link's path references at all).  The integrity
    dashboard a crawl operator reads before trusting the web graph:
    dangling mass says the frontier is stale; orphan mass says the
    seed list, not the link graph, is carrying coverage.

    Shapes: the exact-url check is a left join of the link table onto
    the DISTINCT page-url dimension (hash join on the url key at crawl
    scale); the path check and the orphan anti-join run on the
    distinct-doc-id dimension (broadcastable).  The link table is
    touched once; no row-sized sort.
    """
    raw_tid = F.regexp_extract(F.col("target_url"), "/doc/([0-9]+)$", 1)
    tgt = links.select(
        F.col("target_url").alias("turl"),
        # '' on no-match: guard the cast so ANSI mode cannot throw
        F.when(raw_tid != "", raw_tid).cast("long").alias("tid"),
    )
    raw_pid = F.regexp_extract(F.col("url"), "/doc/([0-9]+)$", 1)
    pk = pages.select(
        F.col("url"),
        F.when(raw_pid != "", raw_pid).cast("long").alias("pid"),
    ).distinct()
    urls = pk.select(F.col("url").alias("turl")).withColumn(
        "exact", F.lit(1)
    )
    ids = (
        pk.select(F.col("pid").alias("tid"))
        .distinct()
        .withColumn("idhit", F.lit(1))
    )
    kind = (
        F.when(F.col("exact") == 1, F.lit("resolved_link"))
        .when(F.col("idhit") == 1, F.lit("host_mismatch_link"))
        .otherwise(F.lit("dangling_link"))
    )
    linkrows = (
        tgt.join(urls, "turl", "left")
        .join(F.broadcast(ids), "tid", "left")
        .groupBy(kind.alias("kind"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tids = tgt.select("tid").where(F.col("tid").isNotNull()).distinct()
    orphans = (
        pk.join(F.broadcast(tids), pk["pid"] == tids["tid"], "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.lit("orphan_page").alias("kind"), "n")
    )
    return linkrows.unionByName(orphans)


def scd2_intervals(
    captures: DataFrame,
    key_col: str = "url",
    ts_col: str = "warc_ts",
    payload_col: str = "text",
    end_of_time: str = "9999-12-31 00:00:00",
) -> DataFrame:
    """Slowly-changing-dimension type-2 history (Kimball's SCD2) from a
    raw capture stream: per key, collapse consecutive recrawls whose
    payload did NOT change, then emit one validity interval per real
    revision — ``(key, version, valid_from, valid_to, is_current,
    payload_hash)`` with ``valid_to`` = the next revision's
    ``valid_from`` (half-open intervals; the newest row carries the
    Kimball high-date sentinel ``end_of_time`` + is_current — a
    sentinel, not NULL, both per warehouse convention and because the
    gate's pandas canonicalizer coerces nullable columns).  The
    warehouse-history complement to
    :func:`latest_captures` (which keeps only the winner) and
    :func:`snapshot_diff` (which compares two fixed snapshots).

    Two stacked lag/lead windows per key — both partition on the SAME
    key, so Catalyst plans ONE shuffle and sorts once; capture counts
    per key are crawl-bounded (revisit policies cap them), so the
    per-partition sort never blows up regardless of corpus size.
    Determinism: callers must guarantee distinct ``ts_col`` per key
    (true for WARC capture streams; the synthetic amplifier uses
    distinct minute offsets).
    """
    w = Window.partitionBy(key_col).orderBy(ts_col)
    changed = (
        captures.withColumn("_prev", F.lag(payload_col).over(w))
        .where(
            F.col("_prev").isNull()
            | (F.col(payload_col) != F.col("_prev"))
        )
        .drop("_prev")
    )
    w2 = Window.partitionBy(key_col).orderBy(ts_col)
    return changed.select(
        F.col(key_col),
        F.row_number().over(w2).cast("long").alias("version"),
        F.col(ts_col).alias("valid_from"),
        F.coalesce(
            F.lead(ts_col).over(w2),
            F.lit(end_of_time).cast("timestamp"),
        ).alias("valid_to"),
        F.lead(ts_col).over(w2).isNull().alias("is_current"),
        F.md5(F.col(payload_col)).alias("payload_hash"),
    )


def change_rate(
    captures: DataFrame,
    key_col: str = "url",
    ts_col: str = "warc_ts",
    payload_col: str = "text",
    ndigits: int = 6,
) -> DataFrame:
    """Per-key page change-rate estimate from a recrawl stream (Cho &
    Garcia-Molina, TOIT 2003 — the Poisson-change model behind every
    freshness-driven recrawl scheduler): ``(key, n_captures, n_changes,
    span_min, change_rate)`` where ``n_changes`` counts consecutive
    recrawls whose payload actually changed (the :func:`scd2_intervals`
    collapse, version count − 1), ``span_min`` is the exact integer
    observation window in minutes, and ``change_rate`` = changes per
    DAY — the λ̂ a scheduler sorts descending to spend its recrawl
    budget where content moves.  Single-capture keys report rate 0
    (a sentinel — unobservable, not "never changes"; schedulers treat
    them as cold-start).

    Exactness: change counts and spans are exact integers (μs
    arithmetic, no float time); the rate is one division.  Scale: one
    per-key window (ONE shuffle, the SCD2 plan) + one per-key
    aggregate on the same key — AQE reuses the exchange.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col)
    stepped = captures.select(
        F.col(key_col).alias("k"),
        F.col(ts_col).alias("ts"),
        (
            F.lag(payload_col).over(w).isNotNull()
            & (F.col(payload_col) != F.lag(payload_col).over(w))
        )
        .cast("long")
        .alias("chg"),
    )
    per = stepped.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n_captures"),
        F.sum("chg").cast("long").alias("n_changes"),
        F.expr(
            "(unix_micros(cast(max(ts) as timestamp))"
            " - unix_micros(cast(min(ts) as timestamp))) DIV 60000000"
        )
        .cast("long")
        .alias("span_min"),
    )
    rate = F.when(
        F.col("span_min") > 0,
        F.col("n_changes").cast("double")
        / (F.col("span_min").cast("double") / F.lit(1440.0)),
    ).otherwise(F.lit(0.0))
    return per.select(
        F.col("k").alias(key_col),
        "n_captures",
        "n_changes",
        "span_min",
        F.round(rate, ndigits).alias("change_rate"),
    )


def capture_recapture(
    docs: DataFrame,
    id_col: str = "doc_id",
    sample_pct: int = 50,
    ndigits: int = 6,
) -> DataFrame:
    """Chapman-corrected Lincoln–Petersen capture–recapture estimate
    of the TOTAL population from two independent deterministic crawl
    samples (Chapman 1951; the "how big is the web we are not seeing"
    coverage estimator — two crawls that overlap a lot have seen most
    of it, two that barely overlap imply a large unseen mass):
    N̂ = (n₁+1)(n₂+1)/(m+1) − 1 over sample membership derived from
    md5(id‖salt) — a pure function of row identity (the repo's
    determinism rule), so both "captures" are independent
    ``sample_pct``%% Bernoulli draws and the estimate is reproducible
    under repartition.  One row ``(n1, n2, overlap, n_hat, true_n)``
    (``true_n`` reported because the gate corpus knows it — the
    estimator's error IS the readout).

    One corpus pass, four conditional BIGINT counts, one float chain.
    """
    def member(salt):
        return (
            F.conv(F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 4), 16, 10)
            .cast("long")
            % 100
            < sample_pct
        )

    a, b = member("|cap_a"), member("|cap_b")
    g = docs.agg(
        F.count(F.lit(1)).cast("long").alias("true_n"),
        F.sum(a.cast("long")).cast("long").alias("n1"),
        F.sum(b.cast("long")).cast("long").alias("n2"),
        F.sum((a & b).cast("long")).cast("long").alias("overlap"),
    )
    n_hat = (
        (F.col("n1") + 1).cast("double")
        * (F.col("n2") + 1).cast("double")
        / (F.col("overlap") + 1).cast("double")
        - F.lit(1.0)
    )
    return g.select(
        "n1", "n2", "overlap",
        F.round(n_hat, ndigits).alias("n_hat"),
        "true_n",
    )
