"""Single-process Python reference for the benchmark's triple stores.

Every run's final store is checked against this: one loop over the
generated pages that reuses the engine's pure kernels -- the
dictionary tagger's fix_ner windowed pass
(``operators.tagging.DictTaggerModel``), the BIO decoder
(``kernels.entities_from_bio_tags``) and the SVO triple rule of
``tools/reference_baseline.py`` -- plus union-find for the canonical
ids.  It mirrors ``KGPipeline`` per partition: optional exact-text page
dedup (lowest doc id kept), mentions, triples, then connected components
of the partition's co-mention graph with the minimum surface as the
component id.  Beside the store it computes each partition's link
scores and the row counts ``KGPipeline`` reports per stage.

The store comparison is an order-insensitive, multiset-sensitive digest:
the row count plus the sum over rows of the first 15 hex digits of
sha256(tab-joined row).  :func:`spark_digest` computes the same value
inside Spark, so checking a store is one scan of it.
"""

from __future__ import annotations

import hashlib
import json
import os

from ddaugner_spark import config
from ddaugner_spark.kernels import entities_from_bio_tags
from ddaugner_spark.operators.tagging import DictTaggerModel

#: column order of the pipeline's triple store (plans/pipeline.py)
STORE_COLUMNS = ("doc_id", "sent_id", "subj", "pred", "obj", "subj_surface", "obj_surface")


def tagger(entries=None) -> DictTaggerModel:
    """The fix_ner tagger over ``entries`` ((surface, tag) pairs; the
    engine gazetteer by default)."""
    model = DictTaggerModel()
    if entries is not None:
        levels: dict = {}
        for s, c in entries:
            levels.setdefault(len(s.split(" ")), {})[s] = c
        model.levels = sorted(levels.items(), reverse=True)
    return model


def doc_mentions(model, text: str):
    """(sentence ids per token, entities) of one document."""
    toks = text.split(" ") if text else []
    sent_ids, c = [], 0
    for t in toks:
        sent_ids.append(c)
        if t == config.SENT_TERM:
            c += 1
    return toks, sent_ids, entities_from_bio_tags(toks, model.tag_tokens(toks))


def doc_triples(toks, sent_ids, ents):
    """(sent_id, subj, pred, obj) by the tools/reference_baseline.py
    rule; the relation is the leftmost predicate token in the gap."""
    preds = set(config.PRED_WORDS)
    out = []
    for s in ents:
        for o in ents:
            if not s.end_idx + 1 < o.start_idx <= s.end_idx + 1 + config.TRIPLE_MAX_GAP:
                continue
            if sent_ids[s.start_idx] != sent_ids[o.start_idx]:
                continue
            p = next((i for i in range(s.end_idx + 1, o.start_idx) if toks[i] in preds), None)
            if p is not None:
                out.append((sent_ids[s.start_idx], s.surface, toks[p], o.surface))
    return out


def components(edges) -> dict:
    """Union-find over surface pairs: node -> minimum member surface."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def partition_outputs(docs, model, link_dim: dict, dedup: bool = False) -> dict:
    """What the pipeline computes for one partition's ``[(doc_id, text)]``:

    * ``rows`` -- the store rows, in STORE_COLUMNS order;
    * ``links`` -- ``linking.link_scores`` against ``link_dim`` (surface
      -> (class, weight)): surface -> [class, n_mentions, total_score],
      the score being the sum of weight / (1 + sent_id) over mentions;
    * ``stages`` -- the row counts ``KGPipeline`` reports per stage."""
    n_pages = len(docs)
    if dedup:
        first: dict = {}
        for doc_id, text in docs:
            if text not in first or doc_id < first[text]:
                first[text] = doc_id
        keep = set(first.values())
        docs = [(d, t) for d, t in docs if d in keep]
    triples, edges, links, n_mentions = [], set(), {}, 0
    for doc_id, text in docs:
        toks, sent_ids, ents = doc_mentions(model, text)
        n_mentions += len(ents)
        by_sent: dict = {}
        for e in ents:
            sent = sent_ids[e.start_idx]
            by_sent.setdefault(sent, set()).add(e.surface)
            if e.surface in link_dim:
                cls, weight = link_dim[e.surface]
                acc = links.setdefault(e.surface, [cls, 0, 0.0])
                acc[1] += 1
                acc[2] += weight / (1.0 + sent)
        for surfaces in by_sent.values():
            edges.update((a, b) for a in surfaces for b in surfaces if a < b)
        triples.extend((doc_id, *t) for t in doc_triples(toks, sent_ids, ents))
    comp = components(sorted(edges))
    rows = [
        (d, s, comp.get(subj, subj), p, comp.get(obj, obj), subj, obj)
        for d, s, subj, p, obj in triples
    ]
    stages = {"mentions": n_mentions, "link_scores": len(links), "triples": len(rows)}
    if dedup:
        stages["dedup_pages"] = len(docs)
    return {"rows": rows, "links": links, "stages": stages, "n_pages": n_pages}


def links_match(rows, want: dict, tol: float = 1e-3) -> bool:
    """``rows`` of ``linking.link_scores`` (entity, class, n_mentions,
    total_score) equal ``want`` (a ``links`` map).  Scores are compared
    within ``tol``: Spark sums them in another order and rounds to 4
    digits, while one dropped mention moves a score by more than 0.01."""
    if len(rows) != len(want):
        return False
    for entity, cls, n, score in rows:
        w = want.get(entity)
        if w is None or (w[0], w[1]) != (cls, n) or abs(w[2] - score) > tol:
            return False
    return True


def row_hash(row) -> int:
    return int(hashlib.sha256("\t".join(map(str, row)).encode()).hexdigest()[:15], 16)


def digest(rows) -> dict:
    """Order-insensitive multiset digest of store rows."""
    return {"rows": len(rows), "sum": str(sum(row_hash(r) for r in rows))}


def spark_digest(df) -> dict:
    """:func:`digest` of a Spark DataFrame with the STORE_COLUMNS."""
    from pyspark.sql import functions as F

    row = F.concat_ws("\t", *[F.col(c).cast("string") for c in STORE_COLUMNS])
    h = F.conv(F.substring(F.sha2(row, 256), 1, 15), 16, 10).cast("decimal(38,0)")
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("s")).collect()[0]
    return {"rows": int(r["n"]), "sum": str(int(r["s"] or 0))}


def reference(workload: str, pages, dictionary=None, dedup: bool = False) -> dict:
    """Per-partition outputs (:func:`partition_outputs`) and the whole
    store's digest.

    ``pages``: ``[(lang, doc_id, text)]``.  ``dictionary``: ``[(surface,
    tag, weight)]`` to tag and link with instead of the engine gazetteer.
    ``hub_bigdict`` runs the layers over the whole crawl at once, so it
    is one partition."""
    entries = config.GAZETTEER if dictionary is None else dictionary
    model = tagger(None if dictionary is None else [(s, c) for s, c, _ in entries])
    link_dim = {s: (c, w) for s, c, w in entries}
    parts: dict = {}
    for lang, doc_id, text in pages:
        key = "all" if workload == "hub_bigdict" else lang
        parts.setdefault(key, []).append((doc_id, text))
    outs = {
        k: partition_outputs(sorted(v), model, link_dim, dedup) for k, v in sorted(parts.items())
    }
    return {
        "parts": outs,
        "rows": {k: o["rows"] for k, o in outs.items()},
        "digest": digest([r for o in outs.values() for r in o["rows"]]),
    }


def write_base_store(rows_by_lang: dict, langs, root: str) -> None:
    """A pipeline output tree holding ``langs``: the triple parquet of
    each partition plus its ``_lineage`` manifest, so
    ``KGPipeline.run(resume=True)`` skips them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.join(root, "_lineage"), exist_ok=True)
    for lang in langs:
        rows = rows_by_lang[lang]
        cols = list(zip(*rows)) if rows else [[]] * len(STORE_COLUMNS)
        types = [pa.int64(), pa.int64()] + [pa.string()] * 5
        table = pa.table(
            {c: pa.array(list(v), t) for c, v, t in zip(STORE_COLUMNS, cols, types)}
        )
        d = os.path.join(root, f"lang={lang}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(table, os.path.join(d, "part-00000.parquet"))
        with open(os.path.join(root, "_lineage", f"lang={lang}.json"), "w") as fh:
            json.dump(
                {"partition": lang, "input_fingerprint": "restored", "stages": [], "ts": 0},
                fh,
            )
