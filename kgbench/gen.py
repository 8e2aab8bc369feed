"""Seeded input generator for the KG-pipeline benchmark.

One single-threaded process turns ``(workload, seed)`` into parquet
inputs; Spark only ever sees the files.  The same seed gives
byte-identical files (numpy's PCG64 stream plus pyarrow's deterministic
writer), so a cached input directory can be reused by every run on that
seed.

Layout of ``<out>`` for every workload:

* ``pages/lang=<xx>/part-<k>.parquet`` -- the timed crawl, hive
  partitioned by ``lang`` with ``FILES_PER_PART`` files per partition so
  a ``local[4]`` scan of one partition gets one task per core;
* ``warm/lang=<xx>/...`` -- a tiny page slice with disjoint doc ids that
  set-up runs the job on before any timing;
* ``dict.parquet`` (``hub_bigdict`` only) -- the Zipf-mentioned
  dictionary of ``(surface, tag, weight)``;
* ``shape.json`` -- the shape parameters used.

Pages have the ``url, warc_ts, html, text, lang, doc_id`` columns of
``ddaugner_spark.sources.pages.synthesize_pages``.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the synthetic corpus vocabulary the engine's gazetteer is written
#: over (ddaugner_spark/config.py); uniform draws from it give the
#: mention density of the driver's test corpora
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

#: html wrapper that ``sources.pages.extract_text`` strips
_PRE = "<html><head><title>"
_MID = "</title></head><body><p>"
_POST = "</p></body></html>"

FILES_PER_PART = 4
WARM_DOC_ID0 = 1_000_000_000

#: shape of every workload; the ``why`` lines of BENCHMARK.json quote
#: these numbers, and README.md gives the reason for each.  Apart from
#: the classical Zipf exponent they are assumptions, not fitted to a
#: real crawl.
SHAPES = {
    "hub_bigdict": {
        "pages": 2000,
        "dict_size": 20000,
        "name_pool": 6000,
        "first_pool": 800,
        "unigram_frac": 0.1,
        "zipf_s": 1.0,
        "mentions_per_page": (2, 6),
        "filler": (1, 4),
        "langs": {"en": 1.0},
    },
    "recrawl_resume": {
        "pages": 500,
        "tokens": 100_000,
        "min_len": 20,
        "max_len": 1000,
        "pareto_alpha": 1.5,
        "langs": {"en": 0.16, "de": 0.14, "fr": 0.14, "es": 0.12, "ja": 0.44},
        #: partitions NOT in the restored base store (re-run on resume)
        "new_parts": ["ja"],
        #: share of each new partition's pages that are exact recrawls
        "dup_frac": 0.25,
    },
}

WARM = {"pages": 24, "tokens": 1200}

_WORKLOAD_STREAM = {name: i for i, name in enumerate(SHAPES)}


def _rng(workload: str, seed: int, part: str) -> np.random.Generator:
    sub = {"pages": 0, "warm": 1, "dict": 2}[part]
    return np.random.default_rng([seed, _WORKLOAD_STREAM[workload], sub])


def doc_lengths(rng, n, total, min_len, max_len, alpha) -> np.ndarray:
    """Pareto(``alpha``) token counts at ``n`` evenly spaced quantiles,
    clipped to ``max_len``, rescaled to sum to exactly ``total`` and
    shuffled: every seed gets the same heavy-tailed multiset of lengths
    (so the same amount of work), in a different order."""
    q = (np.arange(n) + 0.5) / n
    raw = np.minimum(min_len * (1.0 - q) ** (-1.0 / alpha), max_len)
    lens = np.maximum((raw * (total / raw.sum())).astype(np.int64), 1)
    lens[: total - int(lens.sum())] += 1
    return rng.permutation(lens)


def lang_counts(n: int, shares: dict) -> dict:
    """Largest-remainder split of ``n`` pages over the language shares."""
    langs = list(shares)
    exact = np.array([shares[l] for l in langs]) * n / sum(shares.values())
    counts = np.floor(exact).astype(int)
    for i in np.argsort(-(exact - counts), kind="stable")[: n - counts.sum()]:
        counts[i] += 1
    return dict(zip(langs, counts.tolist()))


def _uniform_texts(rng, lens) -> list:
    words = np.array(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    return [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(len(lens))]


def pages_table(doc_ids, texts, langs, ts_offsets=None) -> pa.Table:
    ts0 = datetime(2024, 1, 1)
    if ts_offsets is None:
        ts_offsets = [int(d) % 86_400 for d in doc_ids]
    sources = [f"src{int(d) % 7}" for d in doc_ids]
    return pa.table(
        {
            "url": [f"https://{s}.example.com/doc/{d}" for s, d in zip(sources, doc_ids)],
            "warc_ts": pa.array(
                [ts0 + timedelta(seconds=int(o)) for o in ts_offsets], pa.timestamp("us")
            ),
            "html": pa.array(
                [f"{_PRE}{s} {d}{_MID}{t}{_POST}".encode() for s, d, t in zip(sources, doc_ids, texts)],
                pa.binary(),
            ),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "doc_id": pa.array(doc_ids, pa.int64()),
        }
    )


def write_partitioned(table: pa.Table, root: str) -> None:
    """``root/lang=<xx>/part-<k>.parquet``, FILES_PER_PART files each."""
    langs = table.column("lang").to_pylist()
    for lang in sorted(set(langs)):
        idx = [i for i, l in enumerate(langs) if l == lang]
        part = table.take(idx).drop_columns(["lang"])
        d = os.path.join(root, f"lang={lang}")
        os.makedirs(d, exist_ok=True)
        step = -(-part.num_rows // FILES_PER_PART)
        for k in range(FILES_PER_PART):
            chunk = part.slice(k * step, step)
            if chunk.num_rows:
                pq.write_table(chunk, os.path.join(d, f"part-{k:05d}.parquet"))


def crawl_pages(rng, shape: dict, n_pages: int, total: int, doc_id0: int = 0) -> pa.Table:
    """Uniform-vocabulary pages, ``n_pages`` of them with ``total``
    tokens, split over ``shape["langs"]``.  Every partition gets its
    page share of the tokens as its own Pareto length profile, and in
    each ``new_parts`` partition a ``dup_frac`` share of the pages are
    exact recrawls of others, picked by length rank -- so each partition
    holds the same amount of distinct and duplicate text for every seed."""
    counts = lang_counts(n_pages, shape["langs"])
    langs, texts = [], []
    for lang, n in counts.items():
        n_dup = int(n * shape.get("dup_frac", 0)) if lang in shape.get("new_parts", ()) else 0
        lens = doc_lengths(
            rng, n - n_dup, total * n // n_pages,
            shape["min_len"], shape["max_len"], shape["pareto_alpha"],
        )
        part = _uniform_texts(rng, lens)
        by_len = np.argsort(lens, kind="stable")
        part += [part[by_len[(2 * k + 1) * len(part) // (2 * n_dup)]] for k in range(n_dup)]
        langs += [lang] * n
        texts += part
    order = rng.permutation(n_pages)
    doc_ids = [doc_id0 + int(i) for i in np.argsort(order, kind="stable")]
    return pages_table(doc_ids, texts, langs)


def _name(k: int) -> str:
    """Dictionary token k: 'x' + base-26 digits; no VOCAB word starts
    with 'x', so dictionary tokens never collide with the filler."""
    s = ""
    while True:
        s = chr(ord("a") + k % 26) + s
        k //= 26
        if not k:
            return "x" + s


def dictionary(rng, shape: dict) -> pa.Table:
    """``dict_size`` unique surfaces over ``name_pool`` name tokens: a
    ``unigram_frac`` share of single tokens, the rest 2-3 tokens whose
    first token comes from the ``first_pool`` smallest ids -- names
    share first tokens, as person and organisation names do."""
    n_uni = int(shape["dict_size"] * shape["unigram_frac"])
    surfaces = [_name(int(k)) for k in rng.choice(shape["name_pool"], n_uni, replace=False)]
    seen = set(surfaces)
    while len(surfaces) < shape["dict_size"]:
        first = int(rng.integers(0, shape["first_pool"]))
        rest = rng.integers(0, shape["name_pool"], 1 + int(rng.random() < 0.25))
        s = " ".join(_name(k) for k in [first, *rest.tolist()])
        if s not in seen:
            seen.add(s)
            surfaces.append(s)
    tags = np.array(["PER", "ORG", "LOC", "MISC"])[rng.integers(0, 4, len(surfaces))]
    weights = np.round(0.1 + rng.random(len(surfaces)), 2)
    return pa.table(
        {
            "surface": pa.array(surfaces, pa.string()),
            "tag": pa.array(tags.tolist(), pa.string()),
            "weight": pa.array(weights.tolist(), pa.float64()),
        }
    )


def hub_pages(rng, shape: dict, surfaces: list, n_pages: int, doc_id0: int = 0) -> pa.Table:
    """Short pages: ``mentions_per_page`` dictionary mentions, entity
    rank drawn Zipf(``zipf_s``) so a few hub surfaces dominate, separated
    by 1-4 uniform VOCAB filler tokens (which carry the predicate words
    and the sentence terminator)."""
    ranks = np.arange(1, len(surfaces) + 1, dtype=np.float64)
    p = ranks ** -shape["zipf_s"]
    p /= p.sum()
    by_rank = rng.permutation(len(surfaces))
    lo, hi = shape["mentions_per_page"]
    flo, fhi = shape["filler"]
    n_m = rng.integers(lo, hi + 1, n_pages)
    ents = by_rank[rng.choice(len(surfaces), int(n_m.sum()), p=p)]
    fill_n = rng.integers(flo, fhi + 1, int(n_m.sum()) + n_pages)
    fill_w = rng.integers(0, len(VOCAB), int(fill_n.sum()))
    texts, e, f, w = [], 0, 0, 0
    for i in range(n_pages):
        toks = []
        for _ in range(int(n_m[i])):
            toks.extend(VOCAB[j] for j in fill_w[w : w + fill_n[f]])
            w += fill_n[f]
            f += 1
            toks.append(surfaces[ents[e]])
            e += 1
        toks.extend(VOCAB[j] for j in fill_w[w : w + fill_n[f]])
        w += fill_n[f]
        f += 1
        texts.append(" ".join(toks))
    counts = lang_counts(n_pages, shape["langs"])
    langs = rng.permutation(np.repeat(list(counts), list(counts.values()))).tolist()
    return pages_table(list(range(doc_id0, doc_id0 + n_pages)), texts, langs)


def generate(workload: str, seed: int, out: str) -> dict:
    """Write every input of ``workload`` for ``seed`` under ``out``."""
    shape = SHAPES[workload]
    os.makedirs(out, exist_ok=True)
    rng, warm_rng = _rng(workload, seed, "pages"), _rng(workload, seed, "warm")
    if workload == "hub_bigdict":
        d = dictionary(_rng(workload, seed, "dict"), shape)
        pq.write_table(d, os.path.join(out, "dict.parquet"))
        surfaces = d.column("surface").to_pylist()
        pages = hub_pages(rng, shape, surfaces, shape["pages"])
        warm = hub_pages(warm_rng, shape, surfaces, WARM["pages"], WARM_DOC_ID0)
    else:
        pages = crawl_pages(rng, shape, shape["pages"], shape["tokens"])
        warm_shape = dict(shape, langs={"xx": 1.0}, new_parts=())
        warm = crawl_pages(warm_rng, warm_shape, WARM["pages"], WARM["tokens"], WARM_DOC_ID0)
    write_partitioned(pages, os.path.join(out, "pages"))
    write_partitioned(warm, os.path.join(out, "warm"))
    with open(os.path.join(out, "shape.json"), "w") as fh:
        json.dump({"workload": workload, "seed": seed, **shape}, fh, indent=1)
    return shape


def read_pages(root: str) -> list:
    """``[(lang, doc_id, text)]`` of a generated page tree, for the
    single-process reference."""
    rows = []
    for d in sorted(os.listdir(root)):
        lang = d.split("=", 1)[1]
        for f in sorted(os.listdir(os.path.join(root, d))):
            t = pq.read_table(os.path.join(root, d, f), columns=["doc_id", "text"])
            rows.extend(
                (lang, i, s)
                for i, s in zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist())
            )
    return rows

