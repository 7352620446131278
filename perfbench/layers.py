"""Per-layer tracing from benchmark code: spans around calls into each
layer of the program, one Spark job group per span, and task metrics
from Spark's event log attributed to the span whose group the job ran
under (or, for jobs without a group, to the innermost span open when
the job was submitted).

Spans wrap the program from outside; no program file is changed:

* ``TracedPipeline`` subclasses ``KGPipeline``: each ``_run_stage`` is a
  ``plans.pipeline`` span, the stage's transform (``fn``) and its bucket
  write are spans of the stage's operator layer, and everything else in
  the stage (re-read count, rename, manifest, lineage) stays in
  ``plans.pipeline`` self time;
* ``IceTable.overwrite`` is a ``sources.icetable`` span;
* inside a stream micro-batch, the module-level ``annotate`` /
  ``decode_mentions`` / ``extract_triples`` used by
  ``streaming.stream`` tag the DataFrames they return, and the
  ``localCheckpoint`` or parquet write that executes a tagged DataFrame
  is a span of that layer.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import statistics
import threading
import time

from pyspark.sql import DataFrameWriter
from pyspark.sql.classic.dataframe import DataFrame

from stanza_spark.plans.pipeline import KGPipeline
from stanza_spark.sources.icetable import IceTable
from stanza_spark.streaming import stream as stream_mod

LAYERS = ["session", "sources.pages", "operators.annotate",
          "operators.mentions", "operators.linking", "operators.coref",
          "operators.triples", "operators.graph", "sources.icetable",
          "plans.pipeline", "streaming.stream"]
LAYER_METRICS = ["self_s", "task_s", "tasks", "tasks_failed", "rows_out",
                 "shuffle_bytes", "spill_bytes", "task_skew"]
# ratios measured where the work happens (see run.py for their inputs)
EXTRA_METRICS = ["operators.linking.linked_frac",
                 "plans.pipeline.buckets_skipped_frac",
                 "plans.pipeline.residual_frac",
                 "operators.graph.merge_rewrite_ratio",
                 "trace.wall_s", "trace.cpu_s"]

STAGE_LAYER = {"pages": "sources.pages", "words": "operators.annotate",
               "mentions": "operators.mentions", "links": "operators.linking",
               "coref": "operators.coref", "triples": "operators.triples",
               "graph": "operators.graph", "pagerank": "operators.graph"}
_STREAM_OPS = {"annotate": "operators.annotate",
               "decode_mentions": "operators.mentions",
               "extract_triples": "operators.triples"}
_TAG = "_perfbench_layer"


class Span:
    __slots__ = ("id", "layer", "name", "start", "end", "parent")

    def __init__(self, sid, layer, name, start, parent):
        self.id, self.layer, self.name = sid, layer, name
        self.start, self.end, self.parent = start, None, parent

    def as_dict(self):
        return {k: getattr(self, k) for k in self.__slots__}


class Tracer:
    """Span recorder.  Spans are recorded and the program's entry points
    patched only inside ``with tracer:`` of an enabled tracer; disabled,
    the timed runs execute the program untouched."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spark = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self.stage_layer: str | None = None
        self._active = False

    # -- spans ---------------------------------------------------------------

    def _set_group(self, span: Span | None):
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty(
                "spark.jobGroup.id", None if span is None else f"pb-{span.id}")

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self._active:  # untraced, or outside a timed op
            yield
            return
        # one stack for all threads: a stream micro-batch runs on Spark's
        # stream thread while the caller blocks inside its own span
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            s = Span(next(self._ids), layer, name, time.time(),
                     parent.id if parent else None)
            self.spans.append(s)
            self._stack.append(s)
        self._set_group(s)
        try:
            yield
        finally:
            s.end = time.time()
            with self._lock:
                self._stack.remove(s)
            self._set_group(parent)

    def pipeline(self, spark, docs_dir: str, base: str) -> KGPipeline:
        if not self.enabled:
            return KGPipeline(spark, docs_dir, base)
        return TracedPipeline(self, spark, docs_dir, base)

    # -- patches (installed only while tracing) -------------------------------

    def _patch(self, owner, attr: str, make):
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def __enter__(self):
        if not self.enabled:
            return self
        self._active = True
        tr = self

        def tagging(fn, layer):
            def wrapped(*a, **k):
                with tr.span(layer, fn.__name__):
                    df = fn(*a, **k)
                df.__dict__[_TAG] = layer
                return df
            return wrapped

        def executing(fn, df_of):
            def wrapped(self, *a, **k):
                layer = df_of(self).__dict__.get(_TAG) or tr.stage_layer
                if layer is None:
                    return fn(self, *a, **k)
                with tr.span(layer, fn.__name__):
                    return fn(self, *a, **k)
            return wrapped

        def publishing(fn):
            def wrapped(self, *a, **k):
                with tr.span("sources.icetable", "overwrite"):
                    return fn(self, *a, **k)
            return wrapped

        for name, layer in _STREAM_OPS.items():
            self._patch(stream_mod, name, lambda f, l=layer: tagging(f, l))
        self._patch(DataFrame, "localCheckpoint",
                    lambda f: executing(f, lambda df: df))
        self._patch(DataFrameWriter, "parquet",
                    lambda f: executing(f, lambda w: w._df))
        self._patch(IceTable, "overwrite", publishing)
        return self

    def __exit__(self, *exc):
        self._active = False
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)
        self._set_group(None)
        return False


class TracedPipeline(KGPipeline):
    def __init__(self, tracer: Tracer, *a, **k):
        super().__init__(*a, **k)
        self.tracer = tracer

    def run(self, *a, **k):
        with self.tracer.span("plans.pipeline", "run"):
            return super().run(*a, **k)

    def _run_stage(self, stage, fn, inputs, *a, **k):
        layer = STAGE_LAYER[stage]
        tr = self.tracer

        def traced_fn(*dfs):
            with tr.span(layer, stage):
                return fn(*dfs)

        with tr.span("plans.pipeline", f"stage:{stage}"):
            tr.stage_layer = layer  # the stage's bucket write is its layer's
            try:
                return super()._run_stage(stage, traced_fn, inputs, *a, **k)
            finally:
                tr.stage_layer = None


# -- event log -> per-layer metrics -------------------------------------------

def _read_event_log(log_dir: str):
    """-> (jobs {id: (group, submit_ms)}, stage_job {stage: job},
    tasks [(stage, run_ms, failed, rows, shuffle_bytes, spill_bytes)])."""
    jobs, stage_job, tasks = {}, {}, []
    for path in sorted(glob.glob(f"{log_dir}/*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = (props.get("spark.jobGroup.id"),
                                 ev.get("Submission Time"))
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    tasks.append((
                        ev["Stage ID"],
                        m.get("Executor Run Time", 0),
                        bool(info.get("Failed")) or reason not in (None, "Success"),
                        (m.get("Output Metrics") or {}).get("Records Written", 0),
                        (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0),
                        m.get("Disk Bytes Spilled", 0)))
    return jobs, stage_job, tasks


def _span_of_job(spans: list[Span], by_group: dict, group, submit_ms):
    if group in by_group:
        return by_group[group]
    if submit_ms is None:
        return None
    t = submit_ms / 1000.0
    best = None
    for s in spans:  # innermost = latest-starting span containing t
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best


def layer_metrics(spans: list[Span], log_dir: str, op_wall_s: float) -> dict:
    """Per-layer ``self_s`` from spans and task metrics from the event
    log; ``plans.pipeline.residual_frac`` is the share of ``op_wall_s``
    (the summed timed windows) covered by no span."""
    out = {f"{l}.{m}": 0.0 for l in LAYERS for m in LAYER_METRICS}
    out.update(dict.fromkeys(EXTRA_METRICS, 0.0))  # 0 where not applicable
    child_s: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_s[s.parent] = child_s.get(s.parent, 0.0) + (s.end - s.start)
    covered = 0.0
    for s in spans:
        self_s = (s.end - s.start) - child_s.get(s.id, 0.0)
        out[f"{s.layer}.self_s"] += self_s
        if s.layer != "session":
            covered += self_s

    jobs, stage_job, tasks = _read_event_log(log_dir)
    by_group = {f"pb-{s.id}": s for s in spans}
    job_layer = {}
    for jid, (group, submit) in jobs.items():
        s = _span_of_job(spans, by_group, group, submit)
        if s is not None:
            job_layer[jid] = s.layer
    stage_times: dict[int, list[float]] = {}
    for stage, run_ms, failed, rows, shuf, spill in tasks:
        layer = job_layer.get(stage_job.get(stage))
        if layer is None:
            continue
        out[f"{layer}.task_s"] += run_ms / 1000.0
        out[f"{layer}.tasks"] += 1
        out[f"{layer}.tasks_failed"] += int(failed)
        out[f"{layer}.rows_out"] += rows
        out[f"{layer}.shuffle_bytes"] += shuf
        out[f"{layer}.spill_bytes"] += spill
        stage_times.setdefault(stage, []).append(run_ms)
    # task skew: max/median task time per stage, weighted by stage task time
    weighted: dict[str, list[float]] = {}  # layer -> [sum of w * skew, sum of w]
    for stage, times in stage_times.items():
        med = statistics.median(times)
        if len(times) < 2 or med <= 0:
            continue
        acc = weighted.setdefault(job_layer[stage_job[stage]], [0.0, 0.0])
        acc[0] += sum(times) * max(times) / med
        acc[1] += sum(times)
    for layer, (num, w) in weighted.items():
        out[f"{layer}.task_skew"] = num / w
    out["plans.pipeline.residual_frac"] = (
        (op_wall_s - covered) / op_wall_s if op_wall_s else 0.0)
    out["trace.wall_s"] = op_wall_s
    return out
