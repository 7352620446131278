"""KG benchmark: times the program's KG entry points end to end on seeded
inputs, checks every output against the DuckDB oracle, and prints every
metric by name and unit.  The last stdout line is one JSON object.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload kg_increments --seed 1 --trace 1
    python3 perfbench/run.py --workload kg_resume --seed 1 --smoke
    python3 perfbench/run.py --write-spec      # rewrite BENCHMARK.json

``--trace 0`` reports the end-to-end metrics (tracing off); ``--trace 1``
is the separate traced run that reports the per-layer metrics and writes
its spans and layer table to ``.perfbench_out/``.  ``--smoke`` shrinks
every input to about 200 documents.  See NOTES.md for the definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = {
    "kg_build": "one fresh KGPipeline.run() over 2000 docs through publish, "
                "cold as a spark-submit runs it: the job users run; every "
                "batch layer does work",
    "kg_increments": "4 increments of 1000 docs, each drained by "
                     "stream_pages_to_triples then merge_graph_edges: small "
                     "batches, per-batch fixed cost, writes beside reads",
}
EXTRA_WORKLOADS = ("kg_resume",)  # runnable by hand, not in BENCHMARK.json
END_TO_END = [
    # name, unit, better, bound
    ("setup_s", "s", "lower", 0.25),
    ("cpu_s", "s", "lower", 0.25),
    ("docs_per_cpu_s", "docs/cpu_s", "higher", 0.25),
    ("incr_cpu_p50_s", "s", "lower", 0.25),
    ("triples_precision", "frac", "higher", 0.01),
    ("triples_recall", "frac", "higher", 0.01),
    ("peak_rss_mb", "MB", "lower", 0.25),
    ("bytes_stored_per_input_byte", "ratio", "lower", 0.25),
]
RUN_SECONDS = 10


def _per_layer():
    from layers import EXTRA_METRICS, LAYER_METRICS, LAYERS
    units = {"self_s": ("s", "lower"), "task_s": ("s", "lower"),
             "tasks": ("count", "lower"), "tasks_failed": ("count", "lower"),
             "rows_out": ("rows", "lower"), "shuffle_bytes": ("bytes", "lower"),
             "spill_bytes": ("bytes", "lower"), "task_skew": ("ratio", "lower"),
             "linked_frac": ("frac", "higher"),
             "buckets_skipped_frac": ("frac", "higher"),
             "residual_frac": ("frac", "lower"),
             "merge_rewrite_ratio": ("ratio", "lower"), "wall_s": ("s", "lower"),
             "cpu_s": ("s", "lower")}
    names = [f"{l}.{m}" for l in LAYERS for m in LAYER_METRICS] + EXTRA_METRICS
    return [(n, *units[n.rsplit(".", 1)[1]]) for n in names]


def spec() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bd}
                       for n, u, b, bd in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b}
                      for n, u, b in _per_layer()],
    }


def _prepare_env(work: str):
    """Import the program from this checkout (PYTHONPATH, as
    tools/run_pipeline.py does; see NOTES.md for why not addPyFile) and
    keep Spark's and the JVM's scratch files inside ``work``."""
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    for sub, var in (("local", "SPARK_LOCAL_DIRS"), ("tmp", "TMPDIR")):
        os.makedirs(os.path.join(work, sub))
        os.environ[var] = os.path.join(work, sub)
    # a fixed 2g driver heap through the program's own knob: with the 12g
    # default the JVM's RSS follows the GC's heap growth (3.9-5.7 GB
    # across seeds for the same 2000-doc build), not the program's needs
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "")
        + f" -Djava.io.tmpdir={os.path.join(work, 'tmp')}").strip()


def _report(workload: str, metrics: dict, units: dict, b) -> None:
    print(f"== {workload}: {b.attempted} ops, {b.failed} failed "
          f"(ops_failed_frac {b.failed / max(b.attempted, 1):.4f})")
    for label, parts in (("CPU", b.setup), ("wall", b.setup_wall)):
        print(f"   set-up {label}: "
              + ", ".join(f"{k} {v:.3f} s" for k, v in parts.items()))
    for label, xs in (("wall", b.op_walls), ("CPU", b.op_cpu),
                      ("host steal", b.op_steal)):
        print(f"   op {label}: " + ", ".join(f"{x:.3f}" for x in xs) + " s")
    for name, value in b.wall.items():  # not in the JSON: see NOTES.md
        print(f"   {name + ' (wall clock, report only)':48s} {value:>16.6g}")
    for name, value in metrics.items():
        print(f"   {name:48s} {value:>16.6g} {units[name]}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=[*WORKLOADS, *EXTRA_WORKLOADS])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="about 200 docs per workload, for the benchmark's tests")
    ap.add_argument("--write-spec", action="store_true",
                    help="rewrite BENCHMARK.json from this file and exit")
    args = ap.parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    if args.write_spec:
        with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as f:
            json.dump(spec(), f, indent=2)
            f.write("\n")
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ROOT, "stanza_spark")):
        print(f"no stanza_spark package under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    _prepare_env(work)
    from procs import stop_spark
    from layers import Tracer, layer_metrics
    from workloads import Bench

    tracer = Tracer(enabled=bool(args.trace))
    bench = Bench(work, args.seed, args.seconds, args.smoke, tracer,
                  cores=len(os.sched_getaffinity(0)))
    try:
        bench.start_session()
        try:
            e2e = getattr(bench, args.workload)()
        finally:
            stop_spark(bench.spark)
        if args.trace:
            metrics = layer_metrics(tracer.spans, os.path.join(work, "eventlog"),
                                    sum(bench.op_walls))
            metrics.update(bench.extra)
            units = {n: u for n, u, _ in _per_layer()}
            _write_trace(args, tracer, metrics)
        else:
            metrics = e2e
            units = {n: u for n, u, _, _ in END_TO_END}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    _report(args.workload, metrics, units, bench)
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }))
    return 0


def _write_trace(args, tracer, metrics: dict):
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
        json.dump({"spans": [s.as_dict() for s in tracer.spans],
                   "layers": metrics}, f, indent=1)


if __name__ == "__main__":
    sys.exit(main())
