"""Two-cluster-size scaling bench (sandbox stand-in for N vs 4N executors).

The north rule requires throughput scaling efficiency >= 0.8 between N and 4N
executors. No real cluster exists in the sandbox, so per the driver
instruction we run the SAME end-to-end dedup job on the SAME input at two
local parallelism levels (default 24,000 images at local[1] vs local[4], the
N-vs-4N pair a 4-core host offers) and report throughput at both plus
efficiency = (rate_4N / rate_N) / 4.

Measurement design — the host carries heavy EXTERNAL load (load average ~10
with zero local processes), so:
- the two levels are INTERLEAVED (N, 4N, N, 4N, ...) and each level takes its
  best-of-REPEATS, so a neighbor's load burst cannot systematically bias one
  level;
- the 1-minute load average is sampled before every timed run and reported;
- the corpus is pre-written parquet (synthesis at full parallelism is input
  materialization, not dedup work) and the pipeline runs persist_input=False:
  every tier scans only its pruned columns; the full-corpus payload bytes are
  read exactly once (fused digest+validation Arrow pass) plus a
  candidate-pairs-only PSNR read, never cached — the 100 TB-correct shape;
- a warm-up pipeline runs once per Spark context so one-time codegen/JIT
  compile (a per-process constant, not a per-row cost) stays out of the
  steady-state number.

Usage (from the checkout root: Spark's Python workers import the package
from the working directory):
    python tools/scaling_bench.py [n_images=24000] [small_cores=1] [big_cores=4] [out_md]
Writes out_md (default BENCH/BASELINE_LATEST.md in this checkout: the raw
latest run; BENCH/BASELINE.md is the curated multi-round evidence doc,
maintained by hand) and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

WARMUP_N = 2000
REPEATS = 3
CORPUS_DIR = "/tmp/scaling_corpus"


def _run_once(spark, images, n: int) -> tuple[float, int]:
    from deduplicator_spark.plans.pipeline import run_pipeline

    t0 = time.perf_counter()
    res = run_pipeline(images, persist_input=False)
    res.verdicts.write.format("noop").mode("overwrite").save()
    sec = time.perf_counter() - t0
    pairs = int(res.pairs.count())
    res.pairs.unpersist()
    return sec, pairs


def main() -> None:
    # defaults 1 vs 4: N and 4N per the north rule on a 4-core host
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 24000
    small = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    big = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    # secondary-pair runs write elsewhere so the primary evidence doc (with
    # its hand-written interpretation sections) is never clobbered
    out_md = (sys.argv[4] if len(sys.argv) > 4
              else os.path.join(REPO, "BENCH", "BASELINE_LATEST.md"))

    from deduplicator_spark.plans.pipeline import run_pipeline
    from deduplicator_spark.session import get_spark, stop_spark
    from deduplicator_spark.synth import synthesize_images, write_images_parquet

    spark = get_spark("scaling-corpus")
    write_images_parquet(spark, n, CORPUS_DIR)
    stop_spark()
    # pre-warm the OS page cache: otherwise the first timed leg pays the cold
    # disk read and the comparison is IO-state, not parallelism
    for fn in os.listdir(CORPUS_DIR):
        with open(os.path.join(CORPUS_DIR, fn), "rb") as f:
            while f.read(1 << 24):
                pass

    times: dict[int, list[float]] = {small: [], big: []}
    loads: dict[int, list[float]] = {small: [], big: []}
    pairs: dict[int, int] = {}
    for r in range(REPEATS):
        # alternate order each round: whichever leg runs second starts with a
        # lower ambient load (the 1-min LA decays during the short leg), so a
        # fixed order would bias one level
        for cores in ((small, big) if r % 2 == 0 else (big, small)):
            spark = get_spark(f"scaling-{cores}-r{r}", cores=cores)
            warm = synthesize_images(spark, WARMUP_N).persist()
            warm.count()
            run_pipeline(warm).verdicts.write.format("noop").mode("overwrite").save()
            warm.unpersist()
            images = spark.read.parquet(CORPUS_DIR)
            loads[cores].append(round(os.getloadavg()[0], 1))
            sec, p = _run_once(spark, images, n)
            times[cores].append(round(sec, 2))
            pairs[cores] = p
            stop_spark()

    best = {c: min(ts) for c, ts in times.items()}
    rate = {c: round(n / best[c], 1) for c in best}
    ratio = big / small
    eff = (rate[big] / rate[small]) / ratio
    summary = {
        "n_images": n,
        "small": {"cores": small, "sec": best[small], "images_per_sec": rate[small],
                  "all_runs_sec": times[small], "load_before_runs": loads[small]},
        "big": {"cores": big, "sec": best[big], "images_per_sec": rate[big],
                "all_runs_sec": times[big], "load_before_runs": loads[big]},
        "speedup": round(rate[big] / rate[small], 2),
        "scaling_efficiency": round(eff, 3),
        "pairs_identical": pairs[small] == pairs[big],
        "verified_pairs": pairs[small],
    }
    print(json.dumps(summary))

    os.makedirs(os.path.dirname(os.path.abspath(out_md)), exist_ok=True)
    with open(out_md, "w") as f:
        f.write(f"""# Scaling evidence — N vs 4N parallelism (sandbox stand-in)

North rule criterion: throughput scaling efficiency >= 0.8 between N and 4N
executors. Sandbox evidence (per driver instruction): the same end-to-end
dedup job (parquet corpus scan with column pruning -> fused digest+validation
pass -> 4-tier cascade -> PSNR verify -> connected components -> verdicts;
full-corpus bytes read once, candidate pairs re-read for PSNR, never
cached — the 100 TB-correct shape) on the SAME pre-written {n}-image
deterministic parquet corpus at two local parallelism levels.

Noise control: this host carries external neighbor load (1-min load average
~10 with zero local processes), so the levels run INTERLEAVED best-of-{REPEATS}
with a per-context warm-up; the load average before every timed run is
recorded below.

| parallelism | best wall (s) | images/sec | all runs (s) | load avg before runs |
|---|---|---|---|---|
| local[{small}] | {best[small]} | {rate[small]} | {times[small]} | {loads[small]} |
| local[{big}] | {best[big]} | {rate[big]} | {times[big]} | {loads[big]} |

- speedup {small}->{big} cores ({ratio:.0f}x resources): **{summary['speedup']}x**
- scaling efficiency: **{eff:.3f}** (criterion: >= 0.8)
- verified pairs identical across levels: {summary['pairs_identical']}
  ({pairs[small]} pairs — the job is parallelism-invariant, not just fast)

Reproduce: `python tools/scaling_bench.py {n} {small} {big}`
""")


if __name__ == "__main__":
    main()
