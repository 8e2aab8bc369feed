"""Intermediate staging has one home: ``plans/materialize.py``.

Operators cut lineage with :func:`cut` under the dir :func:`scratch_dir`
resolves, and persist nothing; the structure guard below keeps private
round-trip closures, ad-hoc ``mkdtemp``/``atexit`` blocks and
``.persist(`` calls from growing back.
"""

import os
import re
import sys
from pathlib import Path

from ddaugner_spark.plans import materialize
from ddaugner_spark.plans.materialize import cut, scratch_dir

PKG = Path(__file__).resolve().parents[1] / "ddaugner_spark"


def _sources() -> dict:
    return {p.relative_to(PKG).as_posix(): p.read_text() for p in PKG.rglob("*.py")}


def test_staging_only_through_materialize():
    src = _sources()
    owners = sorted(
        name for name, text in src.items()
        if re.search(r"tempfile\.mkdtemp|atexit\.register", text)
    )
    assert owners == ["plans/materialize.py"]
    # no operator persists (docs/PLANS.md, "One scoped persist"): a
    # persisted table outlives the call unless it is released there
    assert sorted(name for name, text in src.items() if ".persist(" in text) == []
    # `[_]` keeps this file from matching a plain grep for the retired names
    retired = re.compile(
        r"def _(rt|roundtrip)\(|roundtrip[_]small|checkpoint[_](every|policy)"
    )
    assert sorted(name for name, text in src.items() if retired.search(text)) == []


def test_scratch_dir_prefers_caller_dir(tmp_path):
    given = str(tmp_path / "given")
    assert scratch_dir(given, "ddaugner_t_") == given
    assert not os.path.exists(given)  # the caller's dir is not created here

    d = scratch_dir(None, "ddaugner_t_")
    assert os.path.isdir(d)
    assert os.path.basename(d).startswith("ddaugner_t_")


def test_cut_roundtrips_and_overwrites(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    out = cut(df, path)
    assert sorted(tuple(r) for r in out.collect()) == [(1, "a"), (2, "b")]
    assert os.path.isdir(path)
    again = cut(df.where("k = 2"), path)
    assert [tuple(r) for r in again.collect()] == [(2, "b")]


def _fields(schema):
    return [(f.name, f.dataType, f.nullable) for f in schema.fields]


def test_cut_schema_equals_the_inferred_one(spark, sf_dir, monkeypatch, tmp_path):
    """``cut`` re-reads with the written frame's schema instead of
    inferring it; over every cut the touched parity queries make, and a
    char/varchar table, the given schema (names, types, nullability)
    equals what ``spark.read.parquet`` infers from the files."""
    real_cut = materialize.cut
    checked = []

    def checking_cut(df, path):
        out = real_cut(df, path)
        inferred = df.sparkSession.read.parquet(path).schema
        checked.append(path)
        assert _fields(out.schema) == _fields(inferred), path
        return out

    for name, mod in list(sys.modules.items()):
        if name.startswith("ddaugner_spark") and getattr(mod, "cut", None) is real_cut:
            monkeypatch.setattr(mod, "cut", checking_cut)

    spark.sql("DROP TABLE IF EXISTS cut_cv")
    spark.sql(
        "CREATE TABLE cut_cv (c CHAR(5), v VARCHAR(3), k INT NOT NULL) USING parquet"
    )
    try:
        spark.sql("INSERT INTO cut_cv VALUES ('ab', 'x', 1)")
        got = materialize.cut(spark.table("cut_cv"), str(tmp_path / "cv"))
        assert [tuple(r) for r in got.collect()] == [("ab   ", "x", 1)]
    finally:
        spark.sql("DROP TABLE IF EXISTS cut_cv")

    import __spark_entry__ as entry

    queries = entry.queries()
    for q in ("q_canonical_cc", "q_pagerank", "q_kcore", "q_msf", "q_lcp_array",
              "q_repeat_coverage", "q_jaccard_pairs", "q_exact_substr",
              "q_snm_pairs"):
        assert queries[q](spark, sf_dir).count() >= 0
    assert len(checked) > 20
