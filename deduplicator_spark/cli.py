"""spark-submit entry point.

Cluster usage (north rule: "runs via spark-submit --py-files on a
multi-executor cluster"):

    zip -r dedup.zip deduplicator_spark
    spark-submit --py-files dedup.zip --master <cluster> \
        deduplicator_spark/cli.py run \
        --input /data/images.parquet --checkpoint-dir /ckpt --output /out

Sandbox usage (local[N] — same code path):

    python -m deduplicator_spark.cli synth --n 10000 --output /tmp/images
    python -m deduplicator_spark.cli run --synth 10000 --output /tmp/out
    python -m deduplicator_spark.cli run --input /tmp/images \
        --checkpoint-dir /tmp/ckpt --output /tmp/out --resume

Subcommands:
    synth   write a deterministic synthetic image+caption corpus
    run     end-to-end dedup: tiers -> verify -> cluster -> verdicts(+metrics)
            (--checkpoint-dir commits every stage; --resume reuses the
            stages a previous, possibly killed, run committed, each only
            when the config, --tiers, --no-verify and the input all match)
    index   the reference's IndexingLauncher analog: read captures from any
            registered source (crawl_log / warc / parquet), run the composed
            §3.1 build (gates -> revisit projection -> canonicalize ->
            last-wins upsert), write index + counters
    probe   the reference's crawl-time path as a batch job: captures vs a
            prebuilt index under one of the four strategies; writes verdicts
            with crawl.log annotations
    retract takedown repair: drop ids from a prior run's clustering and
            incrementally re-close only the affected clusters (reads the
            clusters/ and pairs/ lineage a `run --output` wrote)
    stream-dedup
            in-stream dedup over a file-arrival directory: the SHARDED
            stateful operators (the engine defaults) through the
            exactly-once foreachBatch sink, availableNow per invocation
            (re-runs process only NEW files)
"""

from __future__ import annotations

import argparse
import shutil
import sys
import time


def _spark(args):
    from .session import get_spark

    return get_spark("deduplicator-cli", cores=args.cores)


def cmd_synth(args) -> int:
    from .synth import synthesize_images

    spark = _spark(args)
    synthesize_images(spark, args.n, seed=args.seed).write.mode("overwrite") \
        .parquet(args.output)
    print(f"wrote {args.n} rows to {args.output}")
    return 0


def cmd_run(args) -> int:
    from .plans.pipeline import run_pipeline
    from .synth import synthesize_images

    spark = _spark(args)
    if args.synth:
        images = synthesize_images(spark, args.synth, seed=args.seed)
    elif args.input:
        images = spark.read.parquet(args.input)
    else:
        print("one of --input / --synth is required", file=sys.stderr)
        return 2
    tiers = tuple(args.tiers.split(","))
    if args.warmup:
        # untimed warm-up pipeline: one-time codegen/JIT compile is a
        # per-process constant, not per-row work — keep it out of the timing
        warm = synthesize_images(spark, args.warmup, seed=args.seed + 1).persist()
        warm.count()
        run_pipeline(warm, tiers=tiers, verify_pixels=not args.no_verify) \
            .verdicts.write.format("noop").mode("overwrite").save()
        warm.unpersist()
    persist = not args.no_persist_input
    if persist:
        images = images.persist()
    n = images.count()

    t0 = time.perf_counter()
    if args.checkpoint_dir and not args.resume:
        shutil.rmtree(args.checkpoint_dir, ignore_errors=True)
    result = run_pipeline(images, tiers=tiers, verify_pixels=not args.no_verify,
                          run_id=args.run_id, persist_input=persist,
                          checkpoint_dir=args.checkpoint_dir)
    if args.output:
        result.verdicts.write.mode("overwrite").parquet(f"{args.output}/verdicts")
        result.clusters.write.mode("overwrite").parquet(f"{args.output}/clusters")
        result.metrics.write.mode("overwrite").parquet(f"{args.output}/metrics")
        # verified pair edges: the lineage a later `retract` repair needs
        result.pairs.write.mode("overwrite").parquet(f"{args.output}/pairs")
    else:
        result.verdicts.write.format("noop").mode("overwrite").save()
    sec = time.perf_counter() - t0
    print(f"{n} images in {sec:.1f}s ({n / sec:.1f} images/sec)")
    for r in result.metrics.orderBy("stage", "metric").collect():
        print(f"  {r['stage']:12s} {r['metric']:22s} {r['value']:.0f}")
    return 0


def cmd_index(args) -> int:
    from .plans.index_build import build_index, normalize_captures
    from .sources.registry import read_source

    spark = _spark(args)
    captures = normalize_captures(read_source(spark, args.source, args.input))
    res = build_index(captures, mime_filter=args.mime_filter,
                      blacklist=not args.whitelist,
                      index_url=not args.digest_only)
    res.index.write.mode("overwrite").parquet(f"{args.output}/index")
    res.counters.write.mode("overwrite").parquet(f"{args.output}/counters")
    c = spark.read.parquet(f"{args.output}/counters").first()
    for k in ("handled", "indexed", "skipped_status", "skipped_mime",
              "unresolved", "quarantined_url", "index_rows"):
        print(f"  {k:16s} {c[k]}")
    return 0


def cmd_probe(args) -> int:
    from pyspark.sql import functions as F

    from .plans.index_build import normalize_captures
    from .plans.probe import probe_captures
    from .sources.registry import read_source

    spark = _spark(args)
    captures = normalize_captures(
        read_source(spark, args.source, args.captures)
    ).withColumn("probe_id", F.xxhash64("url", "digest", "record_id"))
    index = spark.read.parquet(args.index)
    verdicts = probe_captures(captures, index, strategy=args.strategy)
    verdicts.write.mode("overwrite").parquet(f"{args.output}/verdicts")
    stats = (
        spark.read.parquet(f"{args.output}/verdicts")
        .groupBy("verdict", "dup_class").count().collect()
    )
    for r in sorted(stats, key=lambda r: (r["verdict"], str(r["dup_class"]))):
        print(f"  {r['verdict']:10s} {str(r['dup_class']):14s} {r['count']}")
    return 0


def cmd_retract(args) -> int:
    """Takedown repair over a prior `run --output` directory: drop the
    retracted ids and re-close ONLY the clusters that lost a member
    (operators/components.repair_clusters) — no corpus-wide recompute."""
    from .operators.components import repair_clusters

    spark = _spark(args)
    clusters = spark.read.parquet(f"{args.run_output}/clusters")
    pairs = spark.read.parquet(f"{args.run_output}/pairs") \
        .select("id_a", "id_b")
    if args.ids:
        retracted = spark.createDataFrame(
            [(i,) for i in args.ids.split(",")], ["image_id"])
    else:
        retracted = spark.read.parquet(args.ids_parquet).select("image_id")
    repaired = repair_clusters(clusters, pairs, retracted).persist()
    repaired.write.mode("overwrite").parquet(f"{args.output}/clusters")
    n_before = clusters.count()
    n_after = repaired.count()
    n_clusters = repaired.select("cluster_id").distinct().count()
    print(f"  rows            {n_before} -> {n_after}")
    print(f"  retracted       {n_before - n_after}")
    print(f"  clusters after  {n_clusters}")
    return 0


def cmd_stream_dedup(args) -> int:
    """In-stream dedup over a file-arrival directory — the production
    firehose shape (parquet files landing in --input are processed exactly
    once through the checkpointed exactly-once sink, then the command
    exits via availableNow; re-running picks up only NEW files).

    Runs the SHARDED stateful operators — the documented engine defaults
    (5.3x/2.4x the per-key reference variants' ingest at row-identical
    output, 2v8 scaling 0.988; BENCH/STREAM_E2E_SHARDED.md).

    Operators:
      stats    per-digest running dup statistics over captures
               (record_id, digest, ts). Update mode: data/ holds one row
               per digest per micro-batch that touched it, each a running
               total, so a digest seen in k micro-batches has k rows. The
               deduplicated answer is the latest row per digest (max n_seen)
      neardup  in-stream pHash near-dup (no prior index) over images
               (image_id, phash, ts) — one row per (arrival, band)
    """
    from . import streaming as st
    from .streaming.probe import read_capture_stream
    from .streaming.sink import read_committed, write_exactly_once

    spark = _spark(args)
    schema = spark.read.parquet(args.input).schema
    stream = read_capture_stream(spark, args.input, schema,
                                 max_files_per_trigger=args.max_files)
    if args.operator == "stats":
        fn, mode = st.dup_stats, "update"   # running totals per micro-batch
    else:
        fn, mode = st.neardup_dedup, "append"  # one row per (arrival, band)
    out = fn(stream, watermark=args.watermark)
    ckpt = args.checkpoint_dir or f"{args.output}/_ckpt"
    q = write_exactly_once(out, args.output, ckpt, output_mode=mode)
    q.awaitTermination()
    rows = read_committed(spark, args.output)
    print(f"  operator        {args.operator}")
    print(f"  committed rows  {rows.count()} -> {args.output}/data")
    if args.operator == "stats":
        print("  rows are per-micro-batch running totals; the deduplicated"
              " answer is the latest row per digest (max n_seen)")
    return 0


def cmd_audio(args) -> int:
    """Audio near-dup pairs over a parquet of (audio_id, bytes) FAUD clips:
    decode -> subfingerprints -> offset-consistent alignment scoring
    (operators/audio.near_audio_pairs); writes pairs, prints a summary."""
    from .operators.audio import near_audio_pairs

    spark = _spark(args)
    audios = spark.read.parquet(args.input)
    pairs = near_audio_pairs(
        audios, min_shared_frac=args.min_shared_frac).persist()
    pairs.write.mode("overwrite").parquet(f"{args.output}/audio_pairs")
    n_pairs = pairs.count()
    n_clips = audios.count()
    print(f"  clips           {n_clips}")
    print(f"  near-dup pairs  {n_pairs}")
    return 0


def cmd_winnow(args) -> int:
    """Winnowing/MOSS fingerprint pairs over a parquet of (doc_id, text):
    passage-level overlap detection with the w+k-1-char substring guarantee
    (operators/winnow.winnow_pairs); writes pairs, prints a summary."""
    from .operators.winnow import winnow_pairs

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    pairs = winnow_pairs(docs, k=args.k, w=args.window,
                         df_cap=args.df_cap,
                         min_shared=args.min_shared).persist()
    pairs.write.mode("overwrite").parquet(f"{args.output}/winnow_pairs")
    n_pairs = pairs.count()
    n_docs = docs.count()
    print(f"  docs            {n_docs}")
    print(f"  guarantee       shared substrings >= {args.window + args.k - 1}"
          " chars")
    print(f"  overlap pairs   {n_pairs}")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="deduplicator-spark")
    p.add_argument("--cores", type=int, default=None,
                   help="local[N] parallelism (default: $SPARK_GRAFT_CPUS or all)")
    sub = p.add_subparsers(dest="cmd", required=True)

    ps = sub.add_parser("synth", help="write a synthetic image+caption corpus")
    ps.add_argument("--n", type=int, required=True)
    ps.add_argument("--seed", type=int, default=42)
    ps.add_argument("--output", required=True)
    ps.set_defaults(fn=cmd_synth)

    pr = sub.add_parser("run", help="end-to-end dedup pipeline")
    pr.add_argument("--input", help="parquet images table (input_hint schema)")
    pr.add_argument("--synth", type=int, help="synthesize N images instead of --input")
    pr.add_argument("--seed", type=int, default=42)
    pr.add_argument("--output", help="directory for verdicts/clusters/metrics parquet")
    pr.add_argument("--checkpoint-dir", help="stage checkpoint root (enables resume)")
    pr.add_argument("--resume", action="store_true",
                    help="reuse the stages committed in --checkpoint-dir; a "
                         "stage is reused only when the config, --tiers, "
                         "--no-verify and the input all match")
    pr.add_argument("--tiers", default="exact,near_image,near_caption,containment")
    pr.add_argument("--no-verify", action="store_true", help="skip pixel PSNR verification")
    pr.add_argument("--warmup", type=int, default=0, metavar="N",
                    help="run an untimed N-image synthetic pipeline first "
                         "(keeps one-time codegen/JIT out of the timing)")
    pr.add_argument("--no-persist-input", action="store_true",
                    help="do not cache the input: every tier scans its pruned "
                         "columns from storage (the 100 TB-correct shape)")
    pr.add_argument("--run-id", default="run")
    pr.set_defaults(fn=cmd_run)

    pi = sub.add_parser("index", help="build a dedup index from a capture source")
    pi.add_argument("--source", default="crawl_log",
                    choices=["crawl_log", "warc", "parquet"])
    pi.add_argument("--input", required=True)
    pi.add_argument("--output", required=True)
    pi.add_argument("--mime-filter", default=r"^text/.*")
    pi.add_argument("--whitelist", action="store_true",
                    help="treat --mime-filter as a whitelist (default: blacklist)")
    pi.add_argument("--digest-only", action="store_true",
                    help="upsert key = digest alone (A6) instead of (url, digest)")
    pi.set_defaults(fn=cmd_index)

    pb = sub.add_parser("probe", help="probe captures against a prebuilt index")
    pb.add_argument("--source", default="parquet",
                    choices=["crawl_log", "warc", "parquet"])
    pb.add_argument("--captures", required=True)
    pb.add_argument("--index", required=True, help="path written by the index subcommand")
    pb.add_argument("--strategy", default="DIGEST_ANY",
                    choices=["URL_EXACT", "URL_CANONICAL", "DIGEST_ANY",
                             "DIGEST_URL_PREFERRED"])
    pb.add_argument("--output", required=True)
    pb.set_defaults(fn=cmd_probe)

    pa = sub.add_parser("audio",
                        help="audio near-dup pairs over (audio_id, bytes) parquet")
    pa.add_argument("--input", required=True)
    pa.add_argument("--output", required=True)
    pa.add_argument("--min-shared-frac", type=float, default=0.5)
    pa.set_defaults(fn=cmd_audio)

    pw = sub.add_parser("winnow",
                        help="winnowing fingerprint overlap pairs over "
                             "(doc_id, text) parquet")
    pw.add_argument("--input", required=True)
    pw.add_argument("--output", required=True)
    pw.add_argument("--k", type=int, default=8, help="gram chars")
    pw.add_argument("--window", type=int, default=9,
                    help="window width (guarantee = window + k - 1 chars)")
    pw.add_argument("--df-cap", type=int, default=16)
    pw.add_argument("--min-shared", type=int, default=3)
    pw.set_defaults(fn=cmd_winnow)

    pt = sub.add_parser("retract",
                        help="takedown repair: drop ids from a prior run's "
                             "clustering, incrementally re-close affected "
                             "clusters only")
    pt.add_argument("--run-output", required=True,
                    help="directory written by `run --output` "
                         "(needs clusters/ and pairs/)")
    pt.add_argument("--ids", help="comma-separated image_ids to retract")
    pt.add_argument("--ids-parquet",
                    help="parquet with an image_id column (takedown batch)")
    pt.add_argument("--output", required=True)
    pt.set_defaults(fn=cmd_retract)

    pd = sub.add_parser(
        "stream-dedup",
        help="in-stream dedup over a file-arrival directory (exactly-once "
             "sink, SHARDED stateful operators)")
    pd.add_argument("--input", required=True,
                    help="directory of arriving parquet files")
    pd.add_argument("--output", required=True,
                    help="exactly-once sink root (data/ + _commits/)")
    pd.add_argument("--checkpoint-dir",
                    help="stream checkpoint (default <output>/_ckpt)")
    pd.add_argument("--operator", choices=("stats", "neardup"),
                    default="stats",
                    help="stats: per-digest running totals in update mode, "
                         "so data/ holds one row per digest per micro-batch "
                         "that touched it; the deduplicated answer is the "
                         "latest row per digest (max n_seen). neardup: one "
                         "row per (arrival, band)")
    pd.add_argument("--watermark", default="2 hours")
    pd.add_argument("--max-files", type=int, default=None,
                    help="maxFilesPerTrigger (micro-batch size control)")
    pd.set_defaults(fn=cmd_stream_dedup)

    args = p.parse_args(argv)
    if args.cmd == "retract" and not (args.ids or args.ids_parquet):
        p.error("retract requires --ids or --ids-parquet")
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
