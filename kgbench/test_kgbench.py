"""Self-tests of the benchmark: deterministic inputs, metric names that
match BENCHMARK.json, and reference checks that catch a wrong store or
wrong link scores.

    python3 -m pytest kgbench -q
"""

import hashlib
import json
import os
import re

import pyarrow.parquet as pq
import pytest

import gen
import reference
import run
import tracing

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def tree_hash(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


@pytest.mark.parametrize("workload", sorted(gen.SHAPES))
def test_generation_is_deterministic(tmp_path, workload):
    gen.generate(workload, 5, str(tmp_path / "a"))
    gen.generate(workload, 5, str(tmp_path / "b"))
    gen.generate(workload, 6, str(tmp_path / "c"))
    assert tree_hash(tmp_path / "a") == tree_hash(tmp_path / "b")
    assert tree_hash(tmp_path / "a") != tree_hash(tmp_path / "c")
    pages = gen.read_pages(str(tmp_path / "a" / "pages"))
    assert len(pages) == gen.SHAPES[workload]["pages"]
    assert len({d for _, d, _ in pages}) == len(pages)


def test_workloads_match_benchmark_json():
    assert [w["name"] for w in spec()["workloads"]] == list(run.WORKLOADS)
    assert set(run.WORKLOADS) == set(gen.SHAPES)


def test_benchmark_json_names():
    b = spec()
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) for n in names)


def test_end_to_end_names_match():
    recs = [
        {"job_s": 2.0, "peak_rss_mb": 900.0, "ok": True},
        {"job_s": 2.5, "peak_rss_mb": 950.0, "ok": True},
    ]
    metrics = run.end_to_end(recs, {"setup_s": 20.0}, n_pages=500)
    assert {k: v["unit"] for k, v in metrics.items()} == {
        m["name"]: m["unit"] for m in spec()["end_to_end"]
    }
    assert all(v["value"] > 0 for v in metrics.values())


def test_per_layer_names_match(tmp_path):
    """Every name the traced run emits -- from the spans, the event log
    and the layer-boundary counters -- is a per-layer metric."""
    per_layer = {m["name"] for m in spec()["per_layer"]}
    spans = [
        tracing.Span(0, "job", "r0", 0.0, 4.0, None, "r0"),
        tracing.Span(1, "pipeline", "run", 0.1, 3.9, 0, "r0"),
        tracing.Span(2, "tagging", "count", 1.0, 3.0, 1, "r0"),
    ]
    events = [
        {"Event": "SparkListenerJobStart", "Properties": {"kgbench.run": "r0", "spark.job.description": "tagging"}},
        {
            "Event": "SparkListenerStageSubmitted",
            "Stage Info": {"Stage ID": 0, "RDD Info": [{"Scope": '{"name": "ArrowEvalPython"}'}]},
            "Properties": {"kgbench.run": "r0", "spark.job.description": "tagging"},
        },
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {"Executor Run Time": 1500}},
    ]
    flat = tracing.layer_metrics(spans, events, {("r0", "tagging"): 7})["r0"]
    assert flat["tagging.task_s"] == 1.5 and flat["tagging.rows_out"] == 7
    assert flat["pipeline.self_s"] == pytest.approx(1.8)
    assert flat["trace.coverage"] == pytest.approx(3.8 / 4.0)
    emitted = {k for k in flat if k != "job_s"}
    emitted |= set(run.traced_counts(None, {}, str(tmp_path)))
    emitted |= {"bigdict.hit_ratio", "session.jvm_start_s", "session.plan_build_s", "trace.overhead_s"}
    emitted |= {"pipeline.persisted_rdds_left", "pipeline.stage_dirs_left"}
    assert emitted == per_layer


def test_digest_catches_a_perturbed_store(tmp_path):
    gen.generate("recrawl_resume", 3, str(tmp_path))
    ref = reference.reference(
        "recrawl_resume", gen.read_pages(str(tmp_path / "pages")), dedup=True
    )
    rows = [r for part in ref["rows"].values() for r in part]
    assert len(rows) > 100
    want = reference.digest(rows)
    assert reference.digest(rows[::-1]) == want
    wrong_obj = [rows[0][:4] + ("nobody",) + rows[0][5:]] + rows[1:]
    assert reference.digest(wrong_obj) != want
    assert reference.digest(rows[1:]) != want
    assert reference.digest(rows + rows[:1]) != want


def test_link_check_catches_perturbed_scores(tmp_path):
    gen.generate("hub_bigdict", 3, str(tmp_path))
    t = pq.read_table(str(tmp_path / "dict.parquet"))
    dictionary = list(zip(*(t.column(c).to_pylist() for c in ("surface", "tag", "weight"))))
    ref = reference.reference("hub_bigdict", gen.read_pages(str(tmp_path / "pages")), dictionary)
    want = ref["parts"]["all"]["links"]
    assert len(want) > 1000
    rows = [(e, c, n, round(s, 4)) for e, (c, n, s) in want.items()]
    assert reference.links_match(rows, want)
    e, c, n, s = rows[0]
    assert not reference.links_match(rows[1:], want)
    assert not reference.links_match([(e, c, n + 1, s)] + rows[1:], want)
    assert not reference.links_match([(e, c, n, s + 0.01)] + rows[1:], want)
    assert not reference.links_match([(e, c + "X", n, s)] + rows[1:], want)


def test_spark_digest_matches_reference(tmp_path):
    import harness

    rows = [
        (1, 0, "spark", "join", "table", "spark", "table"),
        (1, 1, "spark", "scan", "row", "spark", "row"),
        (2, 0, "query", "sort", "key", "query", "key"),
    ]
    session = harness.launch(str(tmp_path / "tmp"))
    try:
        df = session.spark.createDataFrame(rows, list(reference.STORE_COLUMNS))
        assert reference.spark_digest(df) == reference.digest(rows)
        perturbed = session.spark.createDataFrame(
            rows[:2] + [rows[2][:3] + ("scan",) + rows[2][4:]], list(reference.STORE_COLUMNS)
        )
        assert reference.spark_digest(perturbed) != reference.digest(rows)
    finally:
        harness.shutdown(session)
