"""The benchmark's workloads.  Each runs timed operations ("ops") against
the program's public entry points and checks every op against the DuckDB
oracle.  An op fails on an exception or when its graph differs from the
gold graph (support included); failures are counted, never skipped.

* ``kg_build``: one fresh ``KGPipeline.run()`` per op, through publish.
* ``kg_resume``: a run killed by ``fail_in=("triples", 1)`` is prepared
  once (untimed); each op copies it and times the resuming ``run()``.
* ``kg_increments``: each op lands one increment's parquet files in a
  stream source dir, drains it with ``stream_pages_to_triples``
  (availableNow, one checkpoint for the round) and merges the new
  triples with ``merge_graph_edges(batch_id=...)``.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time
import traceback

import pyarrow.parquet as pq

from gen import first_doc_id, write_documents, write_increment_pages
from oracle import Oracle
from procs import RssSampler, cpu_seconds, steal_seconds
from layers import STAGE_LAYER

FULL = {"build_docs": 2000, "inc_docs": 1000, "incs": 4, "warm_docs": 200}
SMOKE = {"build_docs": 200, "inc_docs": 100, "incs": 2, "warm_docs": 100}
INC_FILES = 4
GEN_REPS = 3


def _bytes_under(*patterns: str) -> int:
    return sum(os.path.getsize(p) for pat in patterns
               for p in glob.glob(pat, recursive=True) if os.path.isfile(p))


class Bench:
    """One benchmark process: a session, seeded inputs under ``work`` and
    the tally of ops.  ``tracer`` is disabled for the timed runs."""

    def __init__(self, work: str, seed: int, seconds: float, smoke: bool,
                 tracer, cores: int):
        self.work, self.seed, self.seconds = work, seed, seconds
        self.size = SMOKE if smoke else FULL
        self.tracer, self.cores = tracer, cores
        self.spark = None
        self.setup: dict[str, float] = {}  # set-up parts, CPU seconds
        self.setup_wall: dict[str, float] = {}  # the same, wall seconds
        self.op_walls: list[float] = []
        self.op_cpu: list[float] = []
        self.op_steal: list[float] = []
        self.wall: dict[str, float] = {}  # wall-clock figures, report only
        self.attempted = self.failed = 0
        self.tp = self.n_pred = self.n_gold = 0
        self.extra: dict[str, float] = {}
        self.rss = RssSampler()

    # -- set-up ----------------------------------------------------------------

    def start_session(self):
        from stanza_spark.session import get_spark
        extra = {"spark.ui.showConsoleProgress": "false"}
        if self.tracer.enabled:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir)
            extra.update({"spark.eventLog.enabled": "true",
                          "spark.eventLog.dir": "file://" + log_dir,
                          "spark.eventLog.compress": "false",
                          "spark.eventLog.rolling.enabled": "false"})
        t0 = self._clocks()
        with self.tracer, self.tracer.span("session", "get_spark"):
            self.spark = get_spark("perfbench", cores=self.cores, extra=extra)
        self._setup("session", t0)
        self.tracer.spark = self.spark

    def generate(self, name: str, n_docs: int, **kw) -> str:
        """Write the corpus ``GEN_REPS`` times; set-up counts the median."""
        reps = []
        for rep in range(GEN_REPS):
            t0 = self._clocks()
            d = write_documents(os.path.join(self.work, f"{name}-{rep}"),
                                self.seed, n_docs, **kw)
            reps.append([b - a for a, b in zip(t0, self._clocks())])
        self._add_setup("inputs", *(statistics.median(x) for x in zip(*reps)))
        return d

    @staticmethod
    def _clocks() -> tuple[float, float]:
        """(wall, CPU) seconds now; CPU is this process's plus every
        descendant's."""
        return time.perf_counter(), time.process_time() + cpu_seconds()

    def _setup(self, part: str, start: tuple[float, float]):
        """Add the wall and CPU time since ``start`` to set-up part ``part``."""
        self._add_setup(part, *(b - a for a, b in zip(start, self._clocks())))

    def _add_setup(self, part: str, wall: float, cpu: float):
        self.setup_wall[part] = self.setup_wall.get(part, 0.0) + wall
        self.setup[part] = self.setup.get(part, 0.0) + cpu

    # -- ops -------------------------------------------------------------------

    def timed_op(self, fn) -> bool:
        """Run ``fn()`` as one op; record its wall time, its CPU time (this
        process, the JVM and the Python workers) and the host's steal
        whether or not it raised.  Returns False (and counts a failure) on
        an exception."""
        self.attempted += 1
        c0, s0 = cpu_seconds(), steal_seconds()
        p0, r0 = time.process_time(), self.rss.cpu_s
        t0 = time.perf_counter()
        try:
            fn()
            ok = True
        except Exception:  # the op failed; the benchmark reports it
            traceback.print_exc()
            self.failed += 1
            ok = False
        self.op_walls.append(time.perf_counter() - t0)
        # this process's own share (driver-side Python, foreachBatch
        # callbacks), less the RSS sampler's thread
        own = time.process_time() - p0 - (self.rss.cpu_s - r0)
        self.op_cpu.append(own + cpu_seconds() - c0)
        self.op_steal.append(steal_seconds() - s0)
        return ok

    def check_graph(self, oracle: Oracle, graph, **kw):
        """A graph (pyarrow table) that differs from the gold graph fails
        its op."""
        extra_rows, missing_rows = oracle.graph_diff(graph, **kw)
        if extra_rows or missing_rows:
            print(f"graph mismatch: {extra_rows} rows not in gold, "
                  f"{missing_rows} gold rows missing")
            self.failed += 1

    def add_triples(self, oracle: Oracle, files: list[str]):
        tp, n_pred, n_gold = oracle.triples(files)
        self.tp += tp
        self.n_pred += n_pred
        self.n_gold += n_gold

    def input_bytes(self, docs_dir: str) -> int:
        """text + html bytes of the pages the pipeline reads."""
        from pyspark.sql import functions as F
        from stanza_spark.sources.pages import pages
        p = pages(self.spark, docs_dir, with_html=True)
        return p.agg(F.sum(F.octet_length("text") + F.octet_length("html"))).first()[0]

    # -- workloads -------------------------------------------------------------

    def _pipeline_workload(self, docs: str, n_docs: int, op) -> dict:
        """Repeat ``op(i) -> (base dir, ok)`` until ``seconds`` of ops ran
        (at least one), then check the triples stage and the published
        IceTable snapshot of every successful op against the oracle."""
        from stanza_spark.plans.pipeline import KGPipeline
        from stanza_spark.sources.icetable import IceTable
        done = []
        with self.rss:
            while not done or sum(self.op_walls) < self.seconds:
                done.append(op(len(done)))
        oracle = Oracle(docs)
        try:
            for base, ok in done:
                if not ok:
                    continue
                ice = IceTable(self.spark, os.path.join(base, "ice", "graph"))
                self.add_triples(oracle, glob.glob(
                    os.path.join(base, "stage=triples", "*", "*.parquet")))
                self.check_graph(oracle, ice.read().toArrow())
        finally:
            oracle.close()
        base = done[-1][0]
        rows = {}
        for m in KGPipeline(self.spark, docs, base).metrics():
            rows[m["stage"]] = rows.get(m["stage"], 0) + m["rows"]
        if rows.get("mentions"):
            self.extra["operators.linking.linked_frac"] = (
                rows.get("links", 0) / rows["mentions"])
        stored = _bytes_under(f"{base}/stage=*/**", f"{base}/ice/graph/data/*")
        # the whole corpus is one increment: per-increment = per-run
        cpu, wall = statistics.median(self.op_cpu), statistics.median(self.op_walls)
        return self._result(n_docs, stored / self.input_bytes(docs),
                            cpu=cpu, cpu_p50=cpu, wall=wall, latency=wall)

    def kg_build(self):
        n = self.size["build_docs"]
        docs = self.generate("docs", n)

        def op(i):
            base = os.path.join(self.work, f"kg-{i}")
            with self.tracer:
                ok = self.timed_op(self.tracer.pipeline(self.spark, docs, base).run)
            return base, ok
        return self._pipeline_workload(docs, n, op)

    def kg_resume(self):
        n = self.size["build_docs"]
        docs = self.generate("docs", n)
        killed = os.path.join(self.work, "killed")
        t0 = self._clocks()
        try:
            self.tracer.pipeline(self.spark, docs, killed).run(fail_in=("triples", 1))
        except RuntimeError as e:
            if "simulated failure" not in str(e):
                raise
        self._setup("prepare", t0)
        skipped = []

        def op(i):
            base = os.path.join(self.work, f"kg-{i}")
            shutil.copytree(killed, base)
            p = self.tracer.pipeline(self.spark, docs, base)
            done = sum(len(p.completed_buckets(s)) for s in STAGE_LAYER)
            skipped.append(done / (len(STAGE_LAYER) * p.n_buckets))
            with self.tracer:
                ok = self.timed_op(p.run)
            return base, ok
        res = self._pipeline_workload(docs, n, op)
        self.extra["plans.pipeline.buckets_skipped_frac"] = statistics.mean(skipped)
        return res

    def kg_increments(self):
        from stanza_spark.operators.graph import merge_graph_edges
        from stanza_spark.operators.linking import alias_df
        from stanza_spark.streaming.stream import stream_pages_to_triples

        size, k = self.size["inc_docs"], self.size["incs"]
        w = self.size["warm_docs"]
        docs = self.generate("docs", k * size)
        first_id = first_doc_id(self.seed)
        warm_docs = self.generate("warm", w, first_id=first_id + k * size)

        # stage every increment's pages (input generation, so set-up);
        # landing is a rename of its files into the stream source dir
        t0 = self._clocks()
        staged, text_bytes = write_increment_pages(
            docs, os.path.join(self.work, "inc"), k, size, INC_FILES)
        warm, _ = write_increment_pages(
            warm_docs, os.path.join(self.work, "warm-inc"), 1, w, INC_FILES)
        self._setup("inputs", t0)
        aliases = alias_df(self.spark)

        def round_dirs(name):
            r = os.path.join(self.work, name)
            return {x: os.path.join(r, x) for x in ("src", "out", "chk", "graph")}

        def land(dirs, staged_dir, batch):
            os.makedirs(dirs["src"], exist_ok=True)
            for f in sorted(glob.glob(f"{staged_dir}/*.parquet")):
                os.rename(f, os.path.join(dirs["src"], f"{batch}-{os.path.basename(f)}"))

        def drain_and_merge(dirs, batch) -> list[str]:
            """-> the stream's new output batch dirs, merged into the graph."""
            before = set(os.listdir(dirs["out"])) if os.path.exists(dirs["out"]) else set()
            with self.tracer.span("streaming.stream", "drain"):
                q = stream_pages_to_triples(self.spark, dirs["src"],
                                            dirs["out"], dirs["chk"])
                q.awaitTermination()
            new = sorted(set(os.listdir(dirs["out"])) - before)
            with self.tracer.span("operators.graph", "merge_graph_edges"):
                delta = self.spark.read.parquet(
                    *[os.path.join(dirs["out"], b) for b in new])
                merge_graph_edges(self.spark, dirs["graph"], delta, aliases,
                                  batch_id=batch)
            return new

        # warm-up: the JVM's and the stream's first-use costs, which a
        # long-running ingest pays once, not per increment
        t0 = self._clocks()
        wd = round_dirs("warm-round")
        for j, d in enumerate(warm):
            land(wd, d, f"warm-{j}")
            drain_and_merge(wd, f"warm-{j}")
        self._setup("warm-up", t0)

        oracle = Oracle(docs)
        dirs = round_dirs("round")
        delta_bytes = rewrite_bytes = 0
        with self.rss:
            for j, d in enumerate(staged):
                land(dirs, d, f"inc-{j}")
                new = []
                with self.tracer:
                    ok = self.timed_op(
                        lambda: new.extend(drain_and_merge(dirs, f"inc-{j}")))
                if not ok:
                    continue
                self.check_graph(oracle, pq.read_table(dirs["graph"]),
                                 max_doc_id=first_id + (j + 1) * size)
                delta_bytes += _bytes_under(
                    *[os.path.join(dirs["out"], b, "*.parquet") for b in new])
                rewrite_bytes += _bytes_under(os.path.join(dirs["graph"], "*.parquet"))
        self.add_triples(oracle, glob.glob(f"{dirs['out']}/*/*.parquet"))
        oracle.close()
        if delta_bytes:
            self.extra["operators.graph.merge_rewrite_ratio"] = rewrite_bytes / delta_bytes
        stored = _bytes_under(f"{dirs['out']}/**", f"{dirs['graph']}/*.parquet")
        return self._result(k * size, stored / text_bytes,
                            cpu=sum(self.op_cpu),
                            cpu_p50=statistics.median(self.op_cpu),
                            wall=sum(self.op_walls),
                            latency=statistics.median(self.op_walls))

    # -- results ---------------------------------------------------------------

    def _result(self, n_docs: int, stored_ratio: float, cpu: float,
                cpu_p50: float, wall: float, latency: float) -> dict:
        """The end-to-end metrics.  The wall-clock figures go to
        ``self.wall`` for the text report only: on a shared host they
        follow the host's steal (see NOTES.md)."""
        self.wall = {"wall_s": wall, "docs_per_s": n_docs / wall,
                     "incr_latency_p50_s": latency}
        self.extra["trace.cpu_s"] = sum(self.op_cpu)
        return {
            "setup_s": sum(self.setup.values()),
            "cpu_s": cpu,
            "docs_per_cpu_s": n_docs / cpu,
            "incr_cpu_p50_s": cpu_p50,
            "triples_precision": self.tp / self.n_pred if self.n_pred else 0.0,
            "triples_recall": self.tp / self.n_gold if self.n_gold else 0.0,
            "peak_rss_mb": self.rss.peak / 2**20,
            "bytes_stored_per_input_byte": stored_ratio,
        }
