"""Arrow-batched tagging path (M1): differential identity with the
literal reference port of the dictionary pass, and merge precedence
rules."""

from test_gazetteer_general import reference_tagger

from ddaugner_spark import config
from ddaugner_spark.kernels import entities_from_bio_tags
from ddaugner_spark.operators import mentions, tagging


def test_udf_path_identical_to_reference(spark, docs):
    """The model path (wordpiece stack over per-sentence dictionary
    tags) and ``mentions_df`` both equal the lazy reference port's
    decoded mentions on the corpus."""
    want = set()
    for r in docs.select("doc_id", "text").collect():
        toks = r["text"].split(" ") if r["text"] else []
        for e in entities_from_bio_tags(toks, reference_tagger(toks)):
            sent = toks[: e.start_idx].count(config.SENT_TERM)
            want.add((r["doc_id"], sent, e.start_idx, e.end_idx, e.surface, e.tag))
    a = {tuple(r) for r in tagging.mentions_udf(docs).collect()}
    b = {tuple(r) for r in mentions.mentions_df(docs).collect()}
    assert want and a == want and b == want


def test_tagged_docs_default_o(spark):
    df = spark.createDataFrame([(1, "foo bar baz")], "doc_id long, text string")
    row = tagging.tagged_docs_udf(df).first()
    assert row["tags"] == ["O", "O", "O"]  # default tag (predict.py:88)


def test_merge_dictionary_wins(spark):
    model = spark.createDataFrame(
        [(1, ["a", "b"], ["B-PER", "O"])], "doc_id long, tokens array<string>, tags array<string>"
    )
    dic = spark.createDataFrame(
        [(1, ["a", "b"], ["B-ORG", "O"])], "doc_id long, tokens array<string>, tags array<string>"
    )
    merged = tagging.merge_tag_sources(model, dic).first()
    # dictionary non-O beats the model; model fills dictionary O's
    assert merged["tags"] == ["B-ORG", "O"]

    dic2 = spark.createDataFrame(
        [(1, ["a", "b"], ["O", "O"])], "doc_id long, tokens array<string>, tags array<string>"
    )
    merged2 = tagging.merge_tag_sources(model, dic2).first()
    assert merged2["tags"] == ["B-PER", "O"]
