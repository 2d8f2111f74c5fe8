"""spark-submit application entry point (north rule: "runs via spark-submit
--py-files on a multi-executor cluster").

The package ships as a zip on --py-files (build it with
tools/make_pyfiles.py), so this file is the only thing read from the submit
host's filesystem; executors and the driver import `deduplicator_spark` from
the shipped archive. A top-level module is required here because spark-submit
runs the main file as __main__ outside any package, which breaks
cli.py's relative imports if submitted directly.

Cluster:
    python tools/make_pyfiles.py /tmp/dedup.zip
    spark-submit --master <cluster> --py-files /tmp/dedup.zip \
        jobs/submit.py run --input /data/images.parquet \
        --checkpoint-dir /ckpt --output /out

Local (BENCH/SUBMIT_SCALING.md measured N vs 4N through exactly this path):
    spark-submit --master local[4] --py-files /tmp/dedup.zip \
        jobs/submit.py run --synth 24000 --no-verify

All subcommands (synth / run / index / probe) and flags are cli.main's;
session.get_spark detects the spark-submit gateway and defers to --master
instead of forcing local[N].
"""

import sys

from deduplicator_spark.cli import main

if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
