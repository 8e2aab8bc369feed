"""Driver-contract tests on the query registry itself (not the values —
tools/parity_check.py and the driver gate own those):

* no query may return a complex-typed column — the driver's
  canonicalizer sorts/hashes the result frame in pandas, where an
  array/map/struct cell is unhashable (the round-4 q_media_decode red
  row: value-correct, harness-incompatible);
* the q_better_recalled oracle's aug == gold precondition (its SQL twin
  self-intersects the dictionary mention set, so it cannot see Arrow
  model-path mentions absent from gold — ADVICE r4);
* /tmp hygiene: a pipeline + CC + balance_upsample run, plus tiny
  default-stage_dir calls of other staging operators, leaves no net
  new /tmp/ddaugner_* dirs once the process exits (the round-4 leak
  class — operators' own temp staging must be atexit-reaped).
"""

import glob
import os
import subprocess
import sys
from pathlib import Path

from pyspark.sql.types import ArrayType, MapType, StructType

import __spark_entry__ as E

REPO = Path(__file__).resolve().parents[1]


def test_every_query_has_oracle_or_documented_skip():
    """Every queries() entry needs an oracle_sql() twin; the only
    allowed omissions are genuinely non-SQL-expressible ops (none
    currently — streaming queries replay their batch twin)."""
    missing = set(E.queries()) - set(E.oracle_sql())
    assert not missing, f"queries without oracle twins: {sorted(missing)}"


def test_no_complex_types_in_query_schemas(spark, sf_dir):
    """Construct every registered query at sf0.001 and assert its final
    schema is flat.  Construction alone executes the heavier queries'
    staging (streams, UDF embeddings), so this doubles as a smoke test
    that every registered query builds against the gate corpus."""
    bad = {}
    for name, fn in E.queries().items():
        df = fn(spark, sf_dir)
        complex_cols = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if complex_cols:
            bad[name] = complex_cols
    assert not bad, f"complex-typed output columns (driver can't hash): {bad}"


def test_udf_mentions_equal_inline(spark, sf_dir):
    """The Arrow model path emits EXACTLY the dictionary matcher's
    mention set — the precondition the q_better_recalled oracle encodes
    (it self-intersects the dictionary set; an extra model-path mention
    would be intersected away on both sides and never detected by the
    parity gate — ADVICE r4).  Pinned in both directions."""
    from ddaugner_spark.operators import mentions, tagging

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cols = ["doc_id", "sent_id", "start_idx", "end_idx", "surface", "tag"]
    gold = mentions.mentions_df(d).select(*cols)
    aug = tagging.mentions_udf(d).select(*cols)
    assert aug.subtract(gold).count() == 0, "model path emits extra mentions"
    assert gold.subtract(aug).count() == 0, "model path misses gold mentions"


_HYGIENE_SCRIPT = r"""
import sys, tempfile
sys.path.insert(0, {repo!r})
from ddaugner_spark.session import get_spark
from ddaugner_spark.operators import augment, bpe, canonical, crawl, graph, mentions, stats
from ddaugner_spark.plans.pipeline import run_flagship

spark = get_spark(app_name="tmp_hygiene", master="local[4]")
spark.sparkContext.setLogLevel("ERROR")
sf = "/root/testdata/sf0.001"
out = tempfile.mkdtemp(prefix="hygiene_out_", dir={out_root!r})

run_flagship(spark, sf, out)

docs = spark.read.parquet(f"{{sf}}/documents.parquet")
m = mentions.mentions_df(docs)
# no stage_dir: the operators' own temp staging must be atexit-reaped
canonical.connected_components(canonical.co_mention_edges(m)).count()
corpus, _diag = augment.balance_upsample(docs)
corpus.count()
ab = spark.createDataFrame([("a", "b"), ("b", "c"), ("c", "a")], "a string, b string")
graph.k_core(ab, k=2).count()
sd = ab.selectExpr("a AS src", "b AS dst")
canonical.strongly_connected_components(sd).count()
crawl.resolve_redirects(
    spark.createDataFrame([("u1", "u2"), ("u2", "u3")], "src string, dst string")
).count()
vocab = spark.createDataFrame([("abab", 3), ("abc", 2)], "token string, n long")
bpe.bpe_train(vocab, n_merges=2).count()
xy = spark.createDataFrame([(1, 2), (2, 1), (3, 3)], "x long, y long")
stats.kendall_tau_b(xy, "x", "y").collect()
spark.stop()
"""


def test_no_tmp_dir_leaks(tmp_path):
    """Pipeline + CC + balance_upsample, then tiny default-stage_dir
    calls of k_core, SCC, resolve_redirects, bpe_train and kendall_tau_b,
    in a subprocess (atexit hooks only fire at process exit), then diff
    /tmp/ddaugner_* before/after: the net-new set must be empty
    (VERDICT r4 #8)."""

    def snap():
        return set(glob.glob("/tmp/ddaugner_*"))

    before = snap()
    script = _HYGIENE_SCRIPT.format(repo=str(REPO), out_root=str(tmp_path))
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=str(REPO),
        env={**os.environ, "PYTHONPATH": str(REPO)},
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    leaked = snap() - before
    assert not leaked, f"leaked /tmp dirs: {sorted(leaked)}"
