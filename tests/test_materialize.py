"""Intermediate staging has one home: ``plans/materialize.py``.

Operators cut lineage with :func:`cut` under the dir :func:`scratch_dir`
resolves; the structure guard below keeps private round-trip closures
and ad-hoc ``mkdtemp``/``atexit`` blocks from growing back.
"""

import os
import re
from pathlib import Path

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
