"""Layer spans for the traced benchmark run, joined with Spark's event log.

The benchmark never edits the engine: ``Tracer.install`` wraps, in the
benchmark process, the public functions of each layer module and the
three DataFrame actions the jobs use (``count``, ``collect``,
``DataFrameWriter.parquet``).

* A layer function call is a span named after its module.  Eager work
  inside it (the connected-components loop, dictionary collects) runs
  under that span.
* Most layer functions only build a lazy plan, and the work happens at
  the action that follows.  An action is a span too, attributed to the
  layers whose functions built its plan since the last action at that
  nesting level; when several did, to the first in ``PRECEDENCE`` (the
  layer whose operators dominate such a fused stage -- e.g. the model
  tagging UDF over the dictionary fold, the triple pairs over the
  broadcast component map).  An action with no such layer belongs to the
  enclosing span's layer, or to ``pipeline`` at the top level.
* Every span sets ``setJobDescription(<layer>)`` and the local property
  ``kgbench.run`` for its duration, so each Spark job, stage and task in
  the event log carries the layer and the traced job it ran for.  One
  refinement works per stage: the stages of a ``tagging`` job that run
  no Python operator are the JVM dictionary fold the model tags are
  merged with, and count for ``mentions``.

Spans live in memory and are turned into metrics after the run.  A
layer's self time is its spans' time minus the part their child spans
cover.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrameWriter
from pyspark.sql.classic.dataframe import DataFrame

from ddaugner_spark.operators import bigdict, canonical, linking, mentions, tagging, triples
from ddaugner_spark.plans import pipeline
from ddaugner_spark.sources import pages

LAYERS = ("pages", "mentions", "tagging", "bigdict", "linking", "triples", "canonical", "pipeline")
PRECEDENCE = ("tagging", "bigdict", "mentions", "triples", "linking", "canonical", "pages", "pipeline")

#: layer -> (owner, attribute) of each wrapped public function
LAYER_FUNCTIONS = {
    "pages": [(pages, "extract_text"), (pipeline, "extract_text")],
    "mentions": [(mentions, "mentions_df"), (mentions, "with_bio"), (mentions, "with_tokens")],
    "tagging": [
        (tagging, "tagged_docs_udf"),
        (tagging, "merge_tag_sources"),
        (tagging, "mentions_from_tagged"),
    ],
    "bigdict": [(bigdict, "detect_mentions"), (bigdict, "mentions_bigdict_df")],
    "linking": [(linking, "link_scores")],
    "triples": [(triples, "triples_df")],
    "canonical": [
        (canonical, "co_mention_edges"),
        (canonical, "connected_components"),
        (canonical, "canonicalize_triples"),
    ],
    "pipeline": [(pipeline.KGPipeline, "run")],
}
ACTIONS = [(DataFrame, "count"), (DataFrame, "collect"), (DataFrameWriter, "parquet")]

#: core metrics reported for every layer
CORE = {
    "wall_s": ("s", "lower"),
    "self_s": ("s", "lower"),
    "task_s": ("s", "lower"),
    "gc_s": ("s", "lower"),
    "shuffle_mb": ("MB", "lower"),
    "spill_mb": ("MB", "lower"),
    "peak_exec_mb": ("MB", "lower"),
    "jobs": ("count", "lower"),
    "task_skew": ("ratio", "lower"),
    "rows_out": ("count", "higher"),
}


@dataclass
class Span:
    id: int
    name: str
    op: str
    start: float
    end: float
    parent: int | None
    run: str


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.run = ""
        self._stack: list[Span] = []
        self._pending: list[set] = [set()]
        self._saved: list = []
        #: what the layer boundaries hand over, per run: stats dicts of
        #: connected_components, link-score frames, bigdict inputs, reports
        self.captured: dict = {}
        #: rows returned by count actions, per (run, layer)
        self.counted: dict = {}

    # -- spans ----------------------------------------------------------
    def _open(self, name: str, op: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        span = Span(len(self.spans), name, op, time.perf_counter(), 0.0, parent, self.run)
        self.spans.append(span)
        self._stack.append(span)
        self._set_job_tags(name)
        return span

    def _close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.pop()
        self._set_job_tags(self._stack[-1].name if self._stack else None)

    def _set_job_tags(self, layer):
        sc = self.spark.sparkContext
        sc.setJobDescription(layer)
        sc.setLocalProperty("kgbench.run", self.run if layer else None)

    def job(self, run: str):
        """Context manager around one traced job."""
        tracer = self

        class _Job:
            def __enter__(self):
                tracer.run = run
                tracer.captured[run] = {}
                tracer._pending = [set()]
                self.span = tracer._open("job", run)
                return self.span

            def __exit__(self, *exc):
                tracer._close(self.span)

        return _Job()

    # -- wrappers -------------------------------------------------------
    def _layer_fn(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            if not tracer._stack:
                return fn(*args, **kwargs)
            tracer._capture_in(fn.__name__, args, kwargs)
            span = tracer._open(layer, fn.__name__)
            tracer._pending.append(set())
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer._pending.pop()
                tracer._pending[-1].add(layer)
                tracer._close(span)
            tracer._capture_out(fn.__name__, out)
            return out

        return wrapped

    def _action(self, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            if not tracer._stack:
                return fn(*args, **kwargs)
            pending = tracer._pending[-1]
            owner = next((l for l in PRECEDENCE if l in pending), None)
            if owner is None:
                top = tracer._stack[-1].name
                owner = top if top in LAYERS else "pipeline"
            pending.clear()
            span = tracer._open(owner, fn.__name__)
            tracer._pending.append(set())
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer._pending.pop()
                tracer._close(span)
            if fn.__name__ == "count":
                key = (tracer.run, owner)
                tracer.counted[key] = tracer.counted.get(key, 0) + out
            return out

        return wrapped

    def _capture_in(self, name, args, kwargs):
        cap = self.captured[self.run]
        if name == "connected_components" and kwargs.get("stats") is None:
            kwargs["stats"] = {}
            cap.setdefault("cc_stats", []).append(kwargs["stats"])
        elif name == "detect_mentions":
            cap.setdefault("bigdict_inputs", []).append((args[0], args[1]))

    def _capture_out(self, name, out):
        cap = self.captured[self.run]
        if name == "link_scores":
            cap.setdefault("link_scores", []).append(out)
        elif name == "run":
            cap.setdefault("reports", []).append(out)

    def install(self):
        for layer, targets in LAYER_FUNCTIONS.items():
            for owner, attr in targets:
                fn = getattr(owner, attr)
                self._saved.append((owner, attr, fn))
                setattr(owner, attr, self._layer_fn(layer, fn))
        for owner, attr in ACTIONS:
            fn = getattr(owner, attr)
            self._saved.append((owner, attr, fn))
            setattr(owner, attr, self._action(fn))

    def uninstall(self):
        while self._saved:
            owner, attr, fn = self._saved.pop()
            setattr(owner, attr, fn)


def write_spans(spans: list, path: str) -> None:
    """The spans of a traced run as one JSON list (name, op, start, end,
    parent span id, run id)."""
    with open(path, "w") as fh:
        json.dump([asdict(s) for s in spans], fh)


# -- aggregation -------------------------------------------------------


def span_metrics(spans: list) -> dict:
    """Per-run {layer: {wall_s, self_s}} plus top-level coverage."""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    by_id = {s.id: s for s in spans}
    out: dict = {}
    for s in spans:
        if s.name == "job":
            top = sum(c.end - c.start for c in kids.get(s.id, []))
            out.setdefault(s.run, {})["coverage"] = top / max(s.end - s.start, 1e-9)
            out[s.run]["job_s"] = s.end - s.start
            continue
        m = out.setdefault(s.run, {}).setdefault(s.name, {"wall_s": 0.0, "self_s": 0.0})
        dur = s.end - s.start
        m["self_s"] += dur - sum(c.end - c.start for c in kids.get(s.id, []))
        p = by_id.get(s.parent)
        while p is not None and p.name != s.name:
            p = by_id.get(p.parent)
        if p is None:
            m["wall_s"] += dur
    return out


def read_event_log(log_dir: str) -> list:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isfile(path):
            with open(path) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    return events


def task_metrics(events: list) -> dict:
    """Per-run {layer: task metrics} from SparkListener events: jobs,
    stages and tasks are keyed by the description and ``kgbench.run``
    local property their job was submitted under."""
    stage_key, out, durations = {}, {}, {}

    def key(props):
        props = props or {}
        return props.get("kgbench.run"), props.get("spark.job.description")

    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            run, layer = key(e.get("Properties"))
            if run and layer:
                m = out.setdefault(run, {}).setdefault(layer, _zero_tasks())
                m["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            run, layer = key(e.get("Properties"))
            if layer == "tagging" and not _runs_python(info):
                # the JVM stages of a tagging job: the dictionary BIO fold
                # and token arrays the model tags are merged with
                layer = "mentions"
            stage_key[info["Stage ID"]] = (run, layer)
        elif kind == "SparkListenerTaskEnd":
            run, layer = stage_key.get(e["Stage ID"], (None, None))
            tm = e.get("Task Metrics")
            if not (run and layer and tm):
                continue
            m = out.setdefault(run, {}).setdefault(layer, _zero_tasks())
            m["task_s"] += tm.get("Executor Run Time", 0) / 1e3
            m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            m["shuffle_mb"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 2**20
            m["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 2**20
            m["peak_exec_mb"] = max(m["peak_exec_mb"], tm.get("Peak Execution Memory", 0) / 2**20)
            m["rows_out"] += tm.get("Output Metrics", {}).get("Records Written", 0)
            durations.setdefault((run, layer), []).append(tm.get("Executor Run Time", 0))
    for (run, layer), ds in durations.items():
        med = statistics.median(ds)
        out[run][layer]["task_skew"] = max(ds) / med if med > 0 else 1.0
    return out


def _runs_python(stage_info: dict) -> bool:
    """The stage runs a Python UDF operator (its RDD scopes name one)."""
    for rdd in stage_info.get("RDD Info", []):
        scope = json.loads(rdd.get("Scope") or "{}").get("name", "")
        if "Pandas" in scope or "Python" in scope or "Arrow" in scope:
            return True
    return False


def _zero_tasks() -> dict:
    return {k: 0.0 for k in CORE if k not in ("wall_s", "self_s")}


def layer_metrics(spans: list, events: list, counted: dict) -> dict:
    """Per-run flat ``{<layer>.<metric>: value}`` for every layer in
    LAYERS, plus ``trace.coverage`` and the traced ``job_s``."""
    sm, tm = span_metrics(spans), task_metrics(events)
    runs = {}
    for run, per in sm.items():
        flat = {"trace.coverage": per["coverage"], "job_s": per["job_s"]}
        for layer in LAYERS:
            vals = {k: 0.0 for k in CORE}
            vals.update(per.get(layer, {}))
            vals.update(tm.get(run, {}).get(layer, {}))
            vals["rows_out"] += counted.get((run, layer), 0)
            flat.update({f"{layer}.{k}": float(v) for k, v in vals.items()})
        runs[run] = flat
    return runs
