"""The benchmark's workloads: inputs, set-up warm-up and the job.

Each job is one batch run of the KG pipeline over generated parquet,
ending with one scan of the committed triple store that computes its
digest (``reference.spark_digest``).  The job is correct when that
digest equals the single-process reference's, and so do its link
scores (``hub_bigdict``) or the row counts the pipeline reports per
stage (``recrawl_resume``).
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
import reference
from ddaugner_spark.operators import bigdict, canonical, linking, mentions, triples
from ddaugner_spark.plans import pipeline
from ddaugner_spark.sources import pages as pages_src


@dataclass
class Inputs:
    workload: str
    root: str
    expected: dict = field(default_factory=dict)

    @property
    def pages(self) -> str:
        return os.path.join(self.root, "pages")

    @property
    def warm(self) -> str:
        return os.path.join(self.root, "warm")

    @property
    def dict_path(self) -> str:
        return os.path.join(self.root, "dict.parquet")

    @property
    def base(self) -> str:
        return os.path.join(self.root, "base")

    @property
    def n_pages(self) -> int:
        return gen.SHAPES[self.workload]["pages"]


@dataclass
class Outcome:
    ops: int
    digest: dict
    store: str
    #: rows of ``linking.link_scores`` (``hub_bigdict``)
    links: list | None = None
    #: rows_out per stage name of the pipeline's report (``recrawl_resume``)
    stages: dict | None = None


def _dictionary(path: str) -> list:
    t = pq.read_table(path, columns=["surface", "tag", "weight"])
    return list(zip(*(t.column(c).to_pylist() for c in ("surface", "tag", "weight"))))


def _source_hash() -> str:
    """Hash of the generator and reference code: a change to either
    never reuses stale inputs."""
    h = hashlib.sha256()
    for mod in (gen, reference):
        with open(mod.__file__, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:10]


def prepare(workload: str, seed: int, cache: str) -> Inputs:
    """Generate the inputs and the reference outputs of ``(workload,
    seed)`` under ``cache`` unless a previous run already did."""
    shape = gen.SHAPES[workload]
    root = os.path.join(cache, f"{workload}-s{seed}-{_source_hash()}")
    done = os.path.join(root, "reference.json")
    if not os.path.exists(done):
        shutil.rmtree(root, ignore_errors=True)
        gen.generate(workload, seed, root)
        hub = workload == "hub_bigdict"
        ref = reference.reference(
            workload,
            gen.read_pages(os.path.join(root, "pages")),
            _dictionary(os.path.join(root, "dict.parquet")) if hub else None,
            dedup=not hub,
        )
        expected = {"digest": ref["digest"]}
        if hub:
            expected["links"] = ref["parts"]["all"]["links"]
        else:
            base = [p for p in ref["rows"] if p not in shape["new_parts"]]
            reference.write_base_store(ref["rows"], base, os.path.join(root, "base"))
            stages: dict = {}
            for p in shape["new_parts"]:
                for k, v in ref["parts"][p]["stages"].items():
                    stages[k] = stages.get(k, 0) + v
            expected["stages"] = stages
        with open(done + ".tmp", "w") as fh:
            json.dump(expected, fh)
        os.replace(done + ".tmp", done)
    with open(done) as fh:
        return Inputs(workload, root, json.load(fh))


def _store_digest(spark, store: str) -> dict:
    return reference.spark_digest(spark.read.parquet(store))


def stage_dirs_left(out: str, tmp: str) -> int:
    """Stage directories the engine left behind: the connected-components
    checkpoints and mention tables ``KGPipeline`` keeps in its output
    tree, and the engine's own ``ddaugner_*`` temp dirs.  The stage
    directory ``run_hub`` hands the layers is the benchmark's, and is
    not counted."""
    patterns = (
        os.path.join(out, "_cc", "*", "*"),
        os.path.join(out, "_mentions", "*"),
        os.path.join(tmp, "ddaugner_*"),
    )
    return sum(os.path.isdir(p) for pat in patterns for p in glob.glob(pat))


def run_pipeline(spark, pages_dir: str, out: str, resume: bool, **opts) -> Outcome:
    """``KGPipeline(**opts).run`` over the crawl, then the store scan."""
    rep = pipeline.KGPipeline(spark, out, **opts).run(spark.read.parquet(pages_dir), resume=resume)
    stages: dict = {}
    for s in rep.stages:
        stages[s.stage] = stages.get(s.stage, 0) + s.rows_out
    return Outcome(
        ops=len(rep.partitions) + len(rep.skipped_partitions),
        digest=_store_digest(spark, out),
        store=out,
        stages=stages,
    )


def run_hub(spark, pages_dir: str, dict_path: str, out: str, stage: str) -> Outcome:
    """The layers in pipeline order over the whole crawl with the large
    dictionary: broadcast-join detection, salted link scoring, join-form
    triples, connected components, canonical rewrite, parquet write.
    The mention table and the CC checkpoints go to ``stage``."""
    docs = spark.read.parquet(pages_dir).select(
        "doc_id", pages_src.extract_text(F.col("html")).alias("text")
    )
    gaz = spark.read.parquet(dict_path)
    m_dir = os.path.join(stage, "mentions")
    bigdict.detect_mentions(docs, gaz.select("surface", "tag")).write.parquet(m_dir)
    m = spark.read.parquet(m_dir)
    link_dim = F.broadcast(
        gaz.select(F.col("surface").alias("name"), F.col("tag").alias("class"), "weight")
    )
    links = [tuple(r) for r in linking.link_scores(m, link_dim).collect()]
    t = triples.triples_df(docs, mentions_table=m)
    comps = canonical.connected_components(
        canonical.co_mention_edges(m), stage_dir=os.path.join(stage, "cc")
    )
    store = os.path.join(out, "store")
    canonical.canonicalize_triples(t, comps).select(
        "doc_id",
        "sent_id",
        F.col("subj_canon").alias("subj"),
        "pred",
        F.col("obj_canon").alias("obj"),
        F.col("subj").alias("subj_surface"),
        F.col("obj").alias("obj_surface"),
    ).write.parquet(store)
    return Outcome(ops=6, digest=_store_digest(spark, store), store=store, links=links)


class Workload:
    """One workload: ``job`` is the timed part, ``before_job`` the
    untimed restore that precedes it."""

    def __init__(self, name: str, inputs: Inputs):
        self.name, self.inputs = name, inputs

    @property
    def ops(self) -> int:
        """Operations per job: the layer calls of ``run_hub``, else the
        pipeline partitions."""
        return 6 if self.name == "hub_bigdict" else len(gen.SHAPES[self.name]["langs"])

    def before_job(self, out: str) -> None:
        if self.name == "recrawl_resume":
            shutil.copytree(self.inputs.base, out)

    def job(self, spark, out: str, stage: str, pages_dir: str | None = None) -> Outcome:
        """The timed job; ``stage`` is a scratch directory the caller
        removes afterwards."""
        pages_dir = pages_dir or self.inputs.pages
        if self.name == "recrawl_resume":
            return run_pipeline(
                spark, pages_dir, out, use_model=True, dedup_pages=True, resume=True
            )
        return run_hub(spark, pages_dir, self.inputs.dict_path, out, stage)

    def warm(self, spark, out: str, stage: str) -> None:
        """Build the mention expressions and run the job once on the
        tiny disjoint page slice (JIT, codegen, Python workers)."""
        self.job(spark, out, stage, pages_dir=self.inputs.warm)

    def ok(self, outcome: Outcome) -> bool:
        want = self.inputs.expected
        if outcome.ops != self.ops or outcome.digest != want["digest"]:
            return False
        if self.name == "hub_bigdict":
            return reference.links_match(outcome.links, want["links"])
        return outcome.stages == want["stages"]


def plan_build(spark) -> None:
    """Build the engine's inlined-gazetteer expressions (the span and
    BIO-fold trees, thousands of py4j round-trips on a fresh JVM)."""
    mentions.spans_expr()
    mentions.with_bio(spark.range(1).select(F.lit("spark").alias("text")))
