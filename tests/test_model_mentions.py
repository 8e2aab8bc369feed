"""The model path's fused mention pass (tagging.doc_mentions /
tagging.merged_mentions_udf) and the pipeline's join-form triples.

* kernel: merge precedence, decode and sentence ids of one document,
  with a fake model whose tags differ from the dictionary's;
* differential: on a seeded corpus of Pareto-length, multi-sentence
  documents (some over 1,000 tokens, a few exact duplicates) the fused
  pass equals the DataFrame composition it replaced, and the pipeline's
  triple store equals the map-only store on both detection paths;
* plan shape of the partition's mention and triple writes.
"""

import random
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from ddaugner_spark import config
from ddaugner_spark.kernels import wordpiece_tokenize
from ddaugner_spark.operators import canonical, mentions, tagging, triples
from ddaugner_spark.plans import pipeline
from ddaugner_spark.sources import synthesize_pages


class FakeModel:
    """Tags each sentence token by a fixed token -> tag map ('O' else)."""

    def __init__(self, table):
        self.table = table

    def tag_sentence(self, sent):
        return [self.table.get(t, "O") for t in sent]


FAKE = FakeModel(
    {
        "hash": "B-PER",  # under the dictionary's "hash join" ORG
        "join": "B-MISC",
        "alice": "B-PER",
        "bob": "I-PER",
        "carol": "I-MISC",
        "dave": "I-LOC",  # orphan I- opens a span
        "erin": "B-MISC",
        "frank": "I-MISC",
    }
)
GAZ = tagging.DictTaggerModel()


def _rows(text, model=FAKE, gazetteer=GAZ):
    return [
        (s, e.start_idx, e.end_idx, e.surface, e.tag)
        for s, e in tagging.doc_mentions(text, model, gazetteer)
    ]


def test_dictionary_tag_wins_over_model():
    # model says hash=B-PER join=B-MISC; the dictionary's "hash join" ORG wins
    assert _rows("hash join foo") == [(0, 0, 1, "hash join", "ORG")]
    # without the gazetteer the model's own tags decode
    assert _rows("hash join foo", gazetteer=None) == [
        (0, 0, 0, "hash", "PER"),
        (0, 1, 1, "join", "MISC"),
    ]


def test_model_fills_o_positions():
    assert _rows("alice bob went home") == [(0, 0, 1, "alice bob", "PER")]


def test_model_span_adjacent_to_dictionary_span():
    # separate spans: a model B- after / before a dictionary span
    assert _rows("alice bob spark") == [
        (0, 0, 1, "alice bob", "PER"),
        (0, 2, 2, "spark", "PER"),
    ]
    assert _rows("window erin frank") == [
        (0, 0, 0, "window", "LOC"),
        (0, 1, 2, "erin frank", "MISC"),
    ]
    # a model I- right after a dictionary span extends it (any I- extends
    # an open run, utils.py:111-166)
    assert _rows("spark bob") == [(0, 0, 1, "spark bob", "PER")]


def test_model_span_overlapping_dictionary_span():
    # the model's B- inside the dictionary span is overwritten; its I-
    # tail past the span extends the dictionary's run
    assert _rows("hash join carol") == [(0, 0, 2, "hash join carol", "ORG")]
    # a model span whose tail the dictionary overwrites keeps its head
    erin_over = FakeModel({"erin": "B-MISC", "hash": "I-MISC", "join": "I-MISC"})
    assert _rows("erin hash join", model=erin_over) == [
        (0, 0, 0, "erin", "MISC"),
        (0, 1, 2, "hash join", "ORG"),
    ]


def test_i_tag_starts_a_span():
    assert _rows("dave x") == [(0, 0, 0, "dave", "LOC")]
    assert _rows("x dave carol") == [(0, 1, 2, "dave carol", "LOC")]


@pytest.mark.parametrize("text", [None, ""])
def test_null_and_empty_text(text):
    assert _rows(text) == []
    assert _rows(text, model=tagging.load_model()) == []


def test_sentence_ids_count_terminators():
    assert _rows("spark the alice the x the hash join") == [
        (0, 0, 0, "spark", "PER"),
        (1, 2, 2, "alice", "PER"),
        (3, 6, 7, "hash join", "ORG"),
    ]


def test_truncated_sentence_tail_tagged_by_dictionary():
    """One sentence past the 512-wordpiece cap: the model leaves the
    tail 'O' (datas.py truncation), the dictionary still tags it."""
    assert wordpiece_tokenize("x") == ["x"]
    toks = ["x"] * 600 + ["spark", "x", "hash", "join"]
    model = tagging.load_model()
    model_tags = tagging.tag_doc_tokens(model, toks)
    assert model_tags[600:] == ["O"] * 4
    text = " ".join(toks)
    assert tagging.doc_mentions(text, model) == []
    assert _rows(text, model=model) == [
        (0, 600, 600, "spark", "PER"),
        (0, 602, 603, "hash join", "ORG"),
    ]


# -- differential and plan shape over a seeded corpus ------------------

_GAZ_WORDS = sorted(
    {w for entries in config.GAZ_LEVELS.values() for s, _c in entries for w in s.split(" ")}
)
_FILL = ["lorem", "ipsum", "web", "page", "x", "more"]


def _corpus(seed=7, n=60):
    """(doc_id, text) rows: Pareto(1.5) lengths (min 8 tokens), three
    documents over 1,000 tokens (one a single 700-token sentence),
    terminators at ~6 %, eight exact duplicates, one null, one empty."""
    rng = random.Random(seed)
    vocab = _GAZ_WORDS * 3 + config.PRED_WORDS + _FILL * 4

    def doc(n_tok, term=0.06):
        return " ".join(
            config.SENT_TERM if rng.random() < term else rng.choice(vocab)
            for _ in range(n_tok)
        )

    texts = [doc(min(int(8 * rng.paretovariate(1.5)), 900)) for _ in range(n)]
    texts += [doc(1100), doc(1400), doc(700, term=0) + " the " + doc(400)]
    texts += [texts[i] for i in rng.sample(range(len(texts)), 8)]
    texts += [None, ""]
    return [(i + 1, t) for i, t in enumerate(texts)]


def _old_model_mentions(docs):
    """The model path's mention table as it was composed before the
    fused pass: model tags and the JVM dictionary fold joined on doc_id,
    merged, decoded, and sentence ids re-joined from the tokens."""
    model_tagged = tagging.tagged_docs_udf(docs)
    dict_tagged = mentions.with_bio(docs).select("doc_id", "tokens", "tags")
    merged = tagging.merge_tag_sources(model_tagged, dict_tagged)
    m = tagging.mentions_from_tagged(merged.withColumn("sent_id", F.lit(0)))
    toks = mentions.with_tokens(docs).select("doc_id", "tokens")
    return m.drop("sent_id").join(toks, "doc_id").select(
        "doc_id",
        mentions.sent_id_at(F.col("start_idx")).alias("sent_id"),
        "start_idx",
        "end_idx",
        "surface",
        "tag",
    )


def _bag(df):
    return Counter(tuple(r) for r in df.collect())


def _map_only_store(pages, stage_dir):
    """The reference triple store: map-only triples and the dictionary
    mentions of the same pages, canonicalized by their components."""
    docs = pages.select("doc_id", pipeline.extract_text(F.col("html")).alias("text"))
    comps = canonical.connected_components(
        canonical.co_mention_edges(mentions.mentions_df(docs)), stage_dir=stage_dir
    )
    return canonical.canonicalize_triples(triples.triples_df(docs), comps).select(
        "doc_id",
        "sent_id",
        F.col("subj_canon").alias("subj"),
        "pred",
        F.col("obj_canon").alias("obj"),
        F.col("subj").alias("subj_surface"),
        F.col("obj").alias("obj_surface"),
    )


_JOIN = re.compile(r"\b(\w*Join|CartesianProduct)\b")


@pytest.fixture(scope="module")
def runs(spark, tmp_path_factory):
    """Both pipeline paths over the corpus, with the executed plans of
    the mention cut and the partition write recorded."""
    rows = _corpus()
    docs = spark.createDataFrame(
        [(d, t, "xx", "src", len(t or "")) for d, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    pages = synthesize_pages(docs)
    first = {}
    for d, t in rows:
        first.setdefault(t, d)
    kept = pages.filter(F.col("doc_id").isin(sorted(first.values())))
    root = tmp_path_factory.mktemp("model_mentions")
    plans = {"cut": [], "write": []}
    real_cut, real_parquet = pipeline.cut, DataFrameWriter.parquet

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    def cut(df, path):
        if "/_mentions/" in path:
            plans["cut"].append(plan(df))
        return real_cut(df, path)

    def parquet(self, path, *a, **k):
        if path.endswith("lang=xx") and "/_" not in path:
            plans["write"].append(plan(self._df))
        return real_parquet(self, path, *a, **k)

    out = {"docs": docs, "root": root}
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(pipeline, "cut", cut)
        mp.setattr(DataFrameWriter, "parquet", parquet)
        for name, opts, src in (
            ("dict", {}, pages),
            ("model", {"use_model": True, "dedup_pages": True}, kept),
        ):
            plans["cut"].clear()
            plans["write"].clear()
            d = str(root / name)
            pipeline.KGPipeline(spark, d, **opts).run(pages, resume=False)
            out[name] = {
                "store": _bag(spark.read.parquet(d + "/lang=xx")),
                "mentions": _bag(spark.read.parquet(d + "/_mentions/lang=xx")),
                "plans": {k: list(v) for k, v in plans.items()},
                "map_only": _bag(_map_only_store(src, str(root / f"{name}_cc"))),
                "kept": src,
            }
    return out


def test_fused_pass_equals_old_composition(spark, runs):
    docs = runs["docs"].select("doc_id", "text")
    want = _bag(_old_model_mentions(docs))
    assert sum(want.values()) > 500
    assert _bag(tagging.merged_mentions_udf(docs)) == want
    # the stub model agrees with the dictionary, so both paths agree too
    assert _bag(mentions.mentions_df(docs)) == want


def test_pipeline_mention_table_equals_old_composition(spark, runs):
    kept = runs["model"]["kept"].select(
        "doc_id", pipeline.extract_text(F.col("html")).alias("text")
    )
    assert runs["model"]["mentions"] == _bag(_old_model_mentions(kept))


@pytest.mark.parametrize("path", ["dict", "model"])
def test_store_equals_map_only_store(runs, path):
    got = runs[path]["store"]
    assert sum(got.values()) > 50
    assert got == runs[path]["map_only"]


def test_model_mention_write_plan_shape(runs):
    (p,) = runs["model"]["plans"]["cut"]
    assert p.count("MapInPandas") == 1, p
    assert not _JOIN.search(p), p
    assert "aggregate(" not in p, p
    # the deduped docs are cut once: neither write re-runs the dedup
    (w,) = runs["model"]["plans"]["write"]
    assert "md5(" not in p and "md5(" not in w, w


@pytest.mark.parametrize("path", ["dict", "model"])
def test_triple_write_has_no_fold(runs, path):
    (p,) = runs[path]["plans"]["write"]
    assert "aggregate(" not in p, p
