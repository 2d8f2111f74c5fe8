"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One process is one run: it generates the
workload's inputs from the seed, starts one Spark session of local[nproc]
through ``deduplicator_spark.session.get_spark``, sets up, then runs
closed-loop steps back to back for ``--seconds``, the first of them right
after set-up, and checks every step's output. The last stdout line is the
result JSON; the line before it records the samples and host noise.

``--trace 1`` runs the same set-up and measured steps with the Spark event
log on, then an untraced replay of the steps the traced run covers, then
the workload's traced step(s) (each layer's public function inside its own
job group), and reports the per-layer metrics instead of the end-to-end
ones.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

import tracing
from workloads import SIZES, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_REPS = 3          # set-up runs per run; setup_s uses their median
# JVM heap. With the package default (8g) G1 grows the heap lazily: a
# batch_dedup run then peaked at 6.5 GB RSS and its warm step took 27 s
# against 20 s at 2g. The info line records the heap figures ("jvm") that
# show whether the cap binds; see perfbench/README.md.
DRIVER_MEM = "2g"
LAYER_RATIO_TOL = 0.5   # the layers' self times, summed, must lie within this share
                        # of the same steps' untraced time (see traced_counts)

END_TO_END = ("rows_per_s", "step_p50_s", "recall", "peak_mem_mb", "setup_s")

# per-layer metrics taken from spans and the event log:
# name -> (what, span name); "self" = span self time, "task" = executor run
# time, "shuffle" = shuffle bytes written (MB), "jobs" = Spark jobs
SPAN_METRICS = {
    "media.validate_s": ("self", "media.validate"),
    "media.task_s": ("task", "media.validate"),
    "minhash.prepare_s": ("self", "minhash.prepare"),
    "minhash.pairs_s": ("self", "minhash.pairs"),
    "exact.pairs_s": ("self", "exact.pairs"),
    "simhash.pairs_s": ("self", "simhash.pairs"),
    "verify.psnr_s": ("self", "verify.psnr"),
    "containment.pairs_s": ("self", "containment.pairs"),
    "pipeline.edges_s": ("self", "pipeline.edges"),
    "pipeline.shuffle_mb": ("shuffle", "pipeline.edges"),
    "components.cc_s": ("self", "components.cc"),
    "components.jobs": ("jobs", "components.cc"),
    "components.shuffle_mb": ("shuffle", "components.cc"),
    "pipeline.verdicts_s": ("self", "pipeline.verdicts"),
    "image_index.probe_s": ("self", "image_index.probe"),
    "image_index.append_s": ("self", "image_index.append"),
    "image_index.shuffle_mb": ("shuffle", "image_index.probe"),
    "caption_index.probe_s": ("self", "caption_index.probe"),
    "caption_index.append_s": ("self", "caption_index.append"),
    "caption_index.shuffle_mb": ("shuffle", "caption_index.probe"),
    "crawl_log.parse_s": ("self", "crawl_log.parse"),
    "urlcanon.canon_s": ("self", "aux.urlcanon.canon"),
    "index_build.build_s": ("self", "index_build.build"),
    "index_build.shuffle_mb": ("shuffle", "index_build.build"),
    "probe.probe_s": ("self", "probe.probe"),
    "strategies.shuffle_mb": ("shuffle", "probe.probe"),
}
# per-layer counts the workloads and the harness report themselves
COUNT_METRICS = (
    "pipeline.quarantined", "minhash.candidates", "minhash.pairs", "minhash.yield",
    "simhash.candidates", "verify.verified", "verify.yield", "containment.pairs",
    "pipeline.edges", "components.clusters", "pipeline.persisted_rdds",
    "image_index.index_rows", "image_index.probe_growth", "caption_index.probe_growth",
    "crawl_log.rows", "urlcanon.expr_kb", "index_build.index_rows", "probe.duplicates",
    "session.start_s", "session.cold_excess_s",
    "trace.overhead_s", "trace.layer_ratio",
)
# what --trace 1 reports: the per_layer list of BENCHMARK.json
PER_LAYER = tuple(SPAN_METRICS) + COUNT_METRICS


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input sizes; 'tiny' is for the self-tests")
    return ap.parse_args(argv)


class Session:
    """The Spark session of one run, its JVM pid, and a clean stop that
    waits for the JVM to exit."""

    def __init__(self, work: str, trace_dir: str | None):
        from deduplicator_spark.session import get_spark

        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        extra = {
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.memory": DRIVER_MEM,
            "spark.ui.showConsoleProgress": "false",
        }
        if trace_dir is not None:
            extra.update(tracing.event_log_conf(trace_dir))
        t = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra=extra)
        self.start_s = time.perf_counter() - t
        self.sc = self.spark.sparkContext
        self.jvm_pid = int(self.sc._jvm.java.lang.ProcessHandle.current().pid())

    def persistent_rdds(self) -> set[int]:
        return set(self.sc._jsc.getPersistentRDDs().keys())

    def release(self, keep: set[int]) -> int:
        """Drop every cached DataFrame and every persisted RDD except the
        workload input; return how many were left behind by the step."""
        left = len(self.persistent_rdds() - keep)
        self.spark.catalog.clearCache()
        for rid, rdd in self.sc._jsc.getPersistentRDDs().items():
            if rid not in keep:
                rdd.unpersist(True)
        return left

    def stop(self) -> None:
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "deduplicator_spark", "session.py")):
        print(f"perfbench: no deduplicator_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"expected one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # Spark's scratch space and every temp file stay inside the checkout; no
    # JVM (the spark-submit launcher included) writes /tmp/hsperfdata_*
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
                    f"-Djava.io.tmpdir={tmp}") if o)
    trace_dir = os.path.join(work, "eventlog") if args.trace else None
    noise0 = tracing.host_noise()
    sess = None
    try:
        sess = Session(work, trace_dir)
        result, info, traced = run(sess, WORKLOADS[args.workload], args,
                                   SIZES[args.workload][args.scale], work)
    finally:
        if sess is not None:
            sess.stop()
    if traced is not None:
        # the event log is complete only once the session has stopped
        tr, counts = traced
        groups = tracing.parse_event_log(trace_dir)
        result["metrics"] = layer_metrics(tr, groups, counts, PER_LAYER)
        info["spans"] = tr.records(groups)
        ratio = counts["trace.layer_ratio"]
        if abs(ratio - 1) > LAYER_RATIO_TOL:
            result["correct"] = False
            info["reconcile"] = (f"layer self times sum to {ratio:.3f} x the untraced "
                                 f"steps' time, outside 1 +- {LAYER_RATIO_TOL}")
    info["host"] = tracing.noise_record(noise0, tracing.host_noise())
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(info))
    print(json.dumps(result))
    return 0


def _m(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def run(sess: Session, cls, args, size: dict, work: str):
    wl = cls(sess.spark, args.seed, work, size)
    t = time.perf_counter()
    wl.generate()
    generate_s = time.perf_counter() - t
    base = sess.persistent_rdds()

    setup_times = []
    for _ in range(SETUP_REPS):
        sess.release(base)
        t = time.perf_counter()
        wl.setup()
        setup_times.append(time.perf_counter() - t)
    keep = sess.persistent_rdds()

    attempted = failed = found = planted = 0
    left_behind: list[int] = []
    failures: list[str] = []

    def record(chk) -> None:
        nonlocal attempted, failed, found, planted
        attempted += 1
        found += chk.found
        planted += chk.planted
        if not chk.ok:
            failed += 1
            failures.append(chk.detail)

    def one_step() -> float:
        t = time.perf_counter()
        wl.step()
        dt = time.perf_counter() - t
        record(wl.check())
        left_behind.append(sess.release(keep))
        wl.after_step()
        return dt

    setup_s = sess.start_s + statistics.median(setup_times)

    steps: list[float] = []
    t0 = time.perf_counter()
    while not steps or time.perf_counter() - t0 < args.seconds:
        steps.append(one_step())
    p50 = statistics.median(steps)
    info = {"workload": args.workload, "seed": args.seed, "scale": args.scale,
            "rows_per_step": wl.rows_per_step, "session_start_s": sess.start_s,
            "generate_s": generate_s, "setup_reps_s": setup_times,
            "steps_s": steps, "samples": len(steps)}
    metrics: dict = {}
    traced = None
    if not args.trace:
        metrics = {
            "rows_per_s": _m(wl.rows_per_step / p50, "rows/s"),
            "step_p50_s": _m(p50, "s"),
            "recall": _m(found / planted if planted else 0.0, "ratio"),
            "peak_mem_mb": _m(tracing.peak_rss_mb(sess.jvm_pid), "MB"),
            "setup_s": _m(setup_s, "s"),
        }
    else:
        # an untraced replay of exactly the steps the traced run covers, from
        # the same state: what the layer spans are reconciled with
        wl.rewind()
        ref = [one_step() for _ in range(wl.traced_step_count)]
        wl.rewind()
        tr = tracing.Tracer(sess.sc)
        counts = wl.traced_steps(tr)
        for chk in wl.traced_checks:
            record(chk)
        counts.update(traced_counts(tr, sum(ref)))
        info["reference_steps_s"] = ref
        counts.update({
            "pipeline.persisted_rdds": statistics.median(left_behind),
            "session.start_s": sess.start_s,
            # what the first step after set-up pays for a new JVM: JIT, class
            # loading, Python workers, first plans
            "session.cold_excess_s": steps[0] - ref[0],
        })
        info["trace_info"] = wl.trace_info
        traced = (tr, counts)
    info["jvm"] = tracing.jvm_memory(sess.sc._jvm)
    info["failures"] = failures[:5]
    result = {"correct": failed == 0 and attempted > 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    return result, info, traced


def traced_counts(tr, ref_s: float) -> dict[str, float]:
    """Tracing overhead and the reconciliation of the layers with the steps.

    A traced step runs the layers one at a time on materialized inputs, so
    it does the untraced step's work plus one count per layer. ``ref_s`` is
    the wall time of the same steps run untraced just before. The sum of the
    layer spans' self times is compared with it: well above it means a layer
    span does work the program does not do; well below it means some of the
    step's work is in no layer span. "aux." spans are extra passes the step
    does not make (candidate counts, the canonicalizer run alone); they are
    in the overhead but in no layer."""
    traced_wall = sum(s.dur for s in tr.spans_named("step"))
    layers = sum(v for k, v in tr.self_times().items()
                 if k != "step" and not k.startswith("aux."))
    return {"trace.overhead_s": traced_wall - ref_s,
            "trace.layer_ratio": layers / ref_s}


UNITS = {"self": "s", "task": "s", "shuffle": "MB", "jobs": "count"}
COUNT_UNITS = {"minhash.yield": "ratio", "verify.yield": "ratio",
               "image_index.probe_growth": "ratio", "caption_index.probe_growth": "ratio",
               "urlcanon.expr_kb": "KB", "session.start_s": "s", "session.cold_excess_s": "s",
               "trace.overhead_s": "s", "trace.layer_ratio": "ratio"}


def layer_metrics(tr, groups: dict, counts: dict, names: tuple[str, ...]) -> dict:
    """The named per-layer metrics; a layer the workload bypasses reads 0."""
    self_t = tr.self_times()
    out = {}
    for name in names:
        if name not in SPAN_METRICS:
            out[name] = _m(float(counts.get(name, 0.0)), COUNT_UNITS.get(name, "count"))
            continue
        what, span = SPAN_METRICS[name]
        if what == "self":
            v = self_t.get(span, 0.0)
        else:
            st = [groups[s.group] for s in tr.spans_named(span) if s.group in groups]
            v = {"task": sum(g.task_s for g in st),
                 "shuffle": sum(g.shuffle_write_b for g in st) / 1e6,
                 "jobs": sum(g.jobs for g in st)}[what]
        out[name] = _m(float(v), UNITS[what])
    return out


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
