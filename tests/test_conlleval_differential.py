"""conlleval differential: the engine's entity-level scorer (A5,
operators/scoring.entity_set_score) must equal the canonical
``conlleval.pl`` to 3 decimals — the same pin the reference carries
(/root/reference/tests/test_score.py:40-92, script at
/root/reference/tests/conlleval.pl).

Random BIO gold/pred tag sequences (seeded) are decoded with the
reference-semantics kernel into span tables, scored by the Spark
operator, and compared against the perl script's PER line.
"""

import os
import random
import re
import shutil
import subprocess

import pytest

from ddaugner_spark.kernels import entities_from_bio_tags
from ddaugner_spark.operators import scoring

CONLLEVAL = "/root/reference/tests/conlleval.pl"

pytestmark = [
    pytest.mark.skipif(shutil.which("perl") is None, reason="perl not available"),
    pytest.mark.skipif(
        not os.path.exists(CONLLEVAL), reason=f"{CONLLEVAL} not found"
    ),
]


def _conlleval(tags, preds, tmp_path):
    f = tmp_path / "test.conll"
    f.write_text("".join(f"{t} {t} {p}\n" for t, p in zip(tags, preds)))
    out = subprocess.check_output(f"perl {CONLLEVAL} < {f}", shell=True)
    for line in out.decode().split("\n"):
        m = re.match(
            r"^[ \t]*PER: precision: *([0-9.]*)%; recall: *([0-9.]*)%; "
            r"FB1: *([0-9.]*) .*$",
            line,
        )
        if m:
            return (
                float(m.group(1)) / 100,
                float(m.group(2)) / 100,
                float(m.group(3)) / 100,
            )
    return (0.0, 0.0, 0.0)


def _spans_df(spark, tags, name):
    toks = ["w"] * len(tags)
    rows = [
        (0, 0, e.start_idx, e.end_idx, e.tag)
        for e in entities_from_bio_tags(toks, tags, resolve_inconsistencies=True)
    ]
    return spark.createDataFrame(
        rows, "doc_id long, sent_id long, start_idx long, end_idx long, tag string"
    )


def test_entity_scorer_equals_conlleval(spark, tmp_path):
    rng = random.Random(42)
    for case in range(25):
        n = rng.randint(1, 30)
        tags = [rng.choice(["B-PER", "I-PER", "O"]) for _ in range(n)]
        vocab = sorted(set(tags))
        preds = [rng.choice(vocab) for _ in range(n)]

        want = _conlleval(tags, preds, tmp_path)

        row = scoring.entity_set_score(
            _spans_df(spark, preds, "pred"), _spans_df(spark, tags, "gold")
        ).collect()[0]
        got = (
            row["precision"] if row["precision"] is not None else 0.0,
            row["recall"] if row["recall"] is not None else 0.0,
            row["f1"] if row["f1"] is not None else 0.0,
        )
        for g, w, which in zip(got, want, ("precision", "recall", "f1")):
            assert abs(g - w) < 5e-4, (case, which, got, want, tags, preds)
