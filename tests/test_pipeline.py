"""End-to-end pipeline: lineage manifests, metrics, and resume."""

import glob
import json
import os

import pyspark.sql.functions as F

from ddaugner_spark.plans.pipeline import KGPipeline
from ddaugner_spark.sources import synthesize_pages


def test_pipeline_run_and_resume(spark, docs, tmp_path):
    out = str(tmp_path / "kg")
    pages = synthesize_pages(docs.limit(120))
    pipe = KGPipeline(spark, out, partition_col="lang")

    report = pipe.run(pages, resume=False)
    assert report.partitions and not report.skipped_partitions
    # every partition wrote a manifest with per-stage metrics
    for part in report.partitions:
        mpath = os.path.join(out, "_lineage", f"lang={part}.json")
        assert os.path.exists(mpath)
        man = json.load(open(mpath))
        names = [s["stage"] for s in man["stages"]]
        assert names == ["mentions", "link_scores", "triples"]
        assert all(s["wall_ms"] >= 0 for s in man["stages"])
    # the CC checkpoints are removed once their partition is written
    assert not glob.glob(os.path.join(out, "_cc", "*"))

    # triples landed under partition dirs and are readable
    total = spark.read.parquet(out + "/lang=*").count()
    assert total > 0

    # resume: nothing left to do
    report2 = pipe.run(pages, resume=True)
    assert report2.partitions == []
    assert sorted(report2.skipped_partitions) == sorted(report.partitions)

    # partial resume: drop one manifest → only that partition reruns
    victim = report.partitions[0]
    os.remove(os.path.join(out, "_lineage", f"lang={victim}.json"))
    report3 = pipe.run(pages, resume=True)
    assert report3.partitions == [victim]


def test_entry_contract(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    assert df.count() >= 0
    assert set(E.queries()) >= set(E.oracle_sql())


def test_multimodal_plumbing(spark, docs):
    from ddaugner_spark.operators import multimodal
    import pytest

    pages = synthesize_pages(docs.limit(20))
    feat = multimodal.decode_features(pages)
    rows = feat.collect()
    assert len(rows) == 20
    assert all(len(r["feature"]) == multimodal.FEATURE_DIM for r in rows)
    assert all(r["n_bytes"] > 0 and len(r["payload_sha"]) == 64 for r in rows)
    with pytest.raises(NotImplementedError):
        multimodal.decode_features(pages, fake=False)


def test_materialize_fallback(spark, docs, tmp_path):
    from ddaugner_spark.plans.materialize import materialize, iceberg_available

    out = str(tmp_path / "mat")
    branch = materialize(docs.limit(50), out, ["lang"], table="kg.db.triples")
    # sandbox has no iceberg runtime → parquet branch with same partitioning
    assert branch == ("iceberg" if iceberg_available(spark) else "parquet")
    got = spark.read.parquet(out)
    assert got.count() == 50 and "lang" in got.columns
    # idempotent per-partition overwrite: re-materializing one partition
    # replaces only that partition (dynamic mode)
    one = docs.limit(50).filter("lang = 'en'")
    materialize(one, out, ["lang"])
    assert spark.read.parquet(out).filter("lang = 'en'").count() == one.count()


def test_pipeline_concurrent_partitions(spark, docs, tmp_path):
    """max_concurrent > 1 must produce the identical triple set and the
    same lineage manifests as the serial run."""
    from ddaugner_spark.plans.pipeline import KGPipeline

    pages = synthesize_pages(docs.limit(150))
    serial_dir, conc_dir = str(tmp_path / "ser"), str(tmp_path / "conc")
    KGPipeline(spark, serial_dir).run(pages, resume=False, max_concurrent=1)
    KGPipeline(spark, conc_dir).run(pages, resume=False, max_concurrent=3)
    a = {tuple(r) for r in spark.read.parquet(serial_dir + "/lang=*").collect()}
    b = {tuple(r) for r in spark.read.parquet(conc_dir + "/lang=*").collect()}
    assert a == b and a
    assert sorted(os.listdir(os.path.join(serial_dir, "_lineage"))) == sorted(
        os.listdir(os.path.join(conc_dir, "_lineage"))
    )


def test_model_path_pipeline_identical(spark, docs, tmp_path):
    """use_model=True (Arrow model tags merged with dictionary tags) must
    emit the identical triple set with the deterministic stub model."""
    from ddaugner_spark.plans.pipeline import KGPipeline

    pages = synthesize_pages(docs.limit(100))
    a_dir, b_dir = str(tmp_path / "dict"), str(tmp_path / "model")
    KGPipeline(spark, a_dir).run(pages, resume=False)
    KGPipeline(spark, b_dir, use_model=True).run(pages, resume=False)
    a = {tuple(r) for r in spark.read.parquet(a_dir + "/lang=*").collect()}
    b = {tuple(r) for r in spark.read.parquet(b_dir + "/lang=*").collect()}
    assert a == b and a


def test_pipeline_dedup_stage(spark, docs, tmp_path):
    """dedup_pages pre-stage drops exact duplicates (keep min doc_id)
    before tagging; planted duplicate pages disappear from every
    downstream count and the stage metric records the drop."""
    from ddaugner_spark.plans.pipeline import KGPipeline
    from ddaugner_spark.sources.pages import synthesize_pages
    import pyspark.sql.functions as F

    base = docs.limit(40)
    dups = base.limit(10).select(
        (F.col("doc_id") + 7_000_000).alias("doc_id"),
        "text",
        "lang",
        "source",
        "n_chars",
    )
    pages = synthesize_pages(base.unionByName(dups))

    rep = KGPipeline(spark, str(tmp_path / "kg"), dedup_pages=True).run(
        pages, resume=False
    )
    ded = [s for s in rep.stages if s.stage == "dedup_pages"]
    assert ded and sum(s.rows_in - s.rows_out for s in ded) == 10
    # downstream mention counts equal the run WITHOUT the duplicates
    rep2 = KGPipeline(spark, str(tmp_path / "kg2")).run(
        synthesize_pages(base), resume=False
    )
    m1 = {s.stage: s.rows_out for s in rep.stages if s.stage == "mentions"}
    # compare total mention rows across partitions
    t1 = sum(s.rows_out for s in rep.stages if s.stage == "mentions")
    t2 = sum(s.rows_out for s in rep2.stages if s.stage == "mentions")
    assert t1 == t2, (t1, t2, m1)


def test_multimodal_resize_and_metadata(spark, docs):
    """resize mean-pools features to the target dim (Arrow batch path);
    typed media metadata carries the modality/dimension struct."""
    from ddaugner_spark.operators import multimodal
    import pytest

    pages = synthesize_pages(docs.limit(15))
    feat = multimodal.decode_features(pages)
    small = multimodal.resize_features(feat, target_dim=2)
    rows = {r["url"]: list(r["feature"]) for r in small.collect()}
    big = {r["url"]: list(r["feature"]) for r in feat.collect()}
    assert len(rows) == 15
    for url, v in big.items():
        block = len(v) // 2
        want = [sum(v[:block]) / block, sum(v[block : 2 * block]) / block]
        got = rows[url]
        assert all(abs(a - b) < 1e-6 for a, b in zip(got, want)), url
    with pytest.raises(NotImplementedError):
        multimodal.resize_features(feat, fake=False)

    meta = multimodal.with_media_metadata(pages).select("url", "media_meta").collect()
    assert all(
        r["media_meta"]["modality"] in ("image", "audio", "video")
        and r["media_meta"]["width"] >= 16
        and r["media_meta"]["duration_ms"] > 0
        for r in meta
    )


def test_decode_null_payload(spark):
    """NULL binary payload decodes to NULL n_bytes/payload_sha/feature —
    the same rendering as the oracle's length(NULL)/sha256(NULL), so the
    contract is pinned even though synthesized pages never carry NULL
    html (ADVICE r3)."""
    import hashlib

    from ddaugner_spark.operators import multimodal

    pages = spark.createDataFrame(
        [("u0", bytearray(b"abc")), ("u1", None)], "url string, html binary"
    )
    rows = {r["url"]: r for r in multimodal.decode_features(pages).collect()}
    assert rows["u0"]["n_bytes"] == 3
    assert rows["u0"]["payload_sha"] == hashlib.sha256(b"abc").hexdigest()
    assert rows["u1"]["n_bytes"] is None
    assert rows["u1"]["payload_sha"] is None
    assert rows["u1"]["feature"] is None
