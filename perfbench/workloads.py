"""The three workloads: set-up, one timed step, its output check, and a
traced step that calls each layer's public function on materialized inputs.

A step is what a user runs once: one pipeline run, one daily increment, one
index-build-and-probe. Every step writes its verdicts to parquet (the action
that consumes the result); the check then reads that parquet with pyarrow,
outside the timed region, and compares it with the generator's expectation.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import gen
from tracing import Tracer

# Sizes per scale. "full" is what the benchmark measures; "tiny" is for the
# self-tests only.
SIZES = {
    "batch_dedup": {"full": {"images": 500}, "tiny": {"images": 200}},
    "index_increments": {
        "full": {"seed_rows": 100_000, "increments": 3, "inc_rows": 50_000,
                 "caption_seed_rows": 5_000, "caption_inc_rows": 2_000},
        "tiny": {"seed_rows": 2_000, "increments": 2, "inc_rows": 500,
                 "caption_seed_rows": 300, "caption_inc_rows": 60},
    },
    "crawl_probe": {"full": {"lines": 30_000}, "tiny": {"lines": 1_000}},
}


@dataclass
class Check:
    ok: bool
    found: int      # planted duplicates found
    planted: int    # planted duplicates
    detail: str = ""


def _read(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


def _num_rows(path: str, col: str) -> int:
    return pq.ParquetDataset(path).read(columns=[col]).num_rows


def _compare(got: pd.DataFrame, exp: pd.DataFrame, key: str, ref: str) -> Check:
    """Row-by-row equality of (verdict, referent) with the expectation.
    found/planted count the rows planted as duplicates."""
    m = exp.merge(got[[key, "verdict", ref]], on=key, how="left",
                  suffixes=("", "_got"))
    same = (m["verdict"] == m["verdict_got"]) & (
        (m[ref].isna() & m[f"{ref}_got"].isna()) | (m[ref] == m[f"{ref}_got"]))
    planted = m["verdict"] != "novel"
    bad = int((~same).sum()) + abs(len(got) - len(exp))
    return Check(bad == 0, int((same & planted).sum()), int(planted.sum()),
                 f"{bad} rows differ" if bad else "")


class Workload:
    name = ""
    rows_per_step = 0
    traced_step_count = 1                # steps one traced_steps call covers
    traced_checks: list[Check]           # set by traced_steps
    trace_info: dict = {}                # set by traced_steps; goes to the info line

    def __init__(self, spark: SparkSession, seed: int, work: str, size: dict):
        self.spark, self.seed, self.work, self.size = spark, seed, work, size

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def generate(self) -> None:
        """Write the inputs and compute the expectation (not set-up)."""

    def setup(self) -> None:
        """Load/persist inputs and build the chain-start state; repeatable."""

    def step(self) -> None:
        raise NotImplementedError

    def check(self) -> Check:
        raise NotImplementedError

    def after_step(self) -> None:
        """Bookkeeping between steps, outside the timed region."""

    def rewind(self) -> None:
        """Return to the state right after set-up (before a traced run)."""

    def traced_steps(self, tr: Tracer) -> dict[str, float]:
        """Run the traced step(s), each inside a root span named "step",
        leave their output checks in ``traced_checks`` and return the
        per-layer counts."""
        raise NotImplementedError


# --- batch_dedup --------------------------------------------------------------

class BatchDedup(Workload):
    """run_pipeline over a persisted synth corpus: all four tiers, PSNR
    verification, connected components and verdicts."""

    name = "batch_dedup"

    def generate(self) -> None:
        from deduplicator_spark.synth import synthesize_images

        n = self.size["images"]
        self.rows_per_step = n
        synthesize_images(self.spark, n, self.seed).write.mode("overwrite") \
            .parquet(self.path("corpus"))
        self.rep, self.negatives = gen.batch_expectation(n, self.seed)

    def setup(self) -> None:
        self.images = self.spark.read.parquet(self.path("corpus")).localCheckpoint(eager=True)

    def step(self) -> None:
        from deduplicator_spark.plans.pipeline import run_pipeline

        run_pipeline(self.images).verdicts.write.mode("overwrite") \
            .parquet(self.path("verdicts"))

    def check(self) -> Check:
        got = _read(self.path("verdicts"))
        cl = dict(zip(got["image_id"], got["cluster_id"]))
        bad = sum(1 for i, r in self.rep.items() if cl.get(i) != r) + abs(len(got) - len(self.rep))
        planted = [i for i, r in self.rep.items() if i != r]
        found = sum(1 for i in planted if i in cl and cl[i] == cl.get(self.rep[i]))
        merged = sum(1 for a, b in self.negatives if cl.get(a) == cl.get(b))
        ok = bad == 0 and merged == 0
        return Check(ok, found, len(planted),
                     "" if ok else f"{bad} cluster ids differ, {merged} negatives merged")

    def traced_steps(self, tr: Tracer) -> dict[str, float]:
        from deduplicator_spark.operators.candidates import (
            candidate_pairs_from_bands, canonical_pairs)
        from deduplicator_spark.operators.components import connected_components
        from deduplicator_spark.operators.containment import containment_pairs
        from deduplicator_spark.operators.exact import exact_pairs_from_digests
        from deduplicator_spark.operators.minhash import (
            banded_from_prepared, near_caption_pairs, prepared_features)
        from deduplicator_spark.operators.simhash import near_image_pairs, phash_banded
        from deduplicator_spark.operators.verify import verify_image_pairs
        from deduplicator_spark.plans.pipeline import (
            bad_ids_from_features, candidate_edges, validation_features,
            verdicts_from_clusters)
        from deduplicator_spark.config import DEFAULT as cfg

        def done(df: DataFrame) -> tuple[DataFrame, int]:
            df = df.persist()
            return df, df.count()

        c: dict[str, float] = {}
        with tr.span("step"):
            # the same composition run_pipeline makes, one layer at a time;
            # each persisted output is the next layer's materialized input
            # (identical plans, so candidate_edges reuses the cached tiers).
            # The candidate counts are extra passes run_pipeline never makes:
            # they run in "aux." spans, outside every layer's time.
            images = self.images.persist()
            with tr.span("media.validate"):
                feats, _ = done(validation_features(images))
                bad = bad_ids_from_features(feats, cfg)
                c["pipeline.quarantined"] = bad.count()
                images = images.join(F.broadcast(bad), "image_id", "left_anti")
                digests = feats.join(F.broadcast(bad), "image_id", "left_anti") \
                    .select("image_id", "digest")
            with tr.span("minhash.prepare"):
                prepared, _ = done(prepared_features(images, cfg))
            with tr.span("exact.pairs"):
                done(exact_pairs_from_digests(digests))
            with tr.span("aux.simhash.candidates"):
                c["simhash.candidates"] = candidate_pairs_from_bands(
                    phash_banded(images, cfg), pair_cap=cfg.hot_band_threshold,
                    salt_buckets=cfg.salt_buckets).count()
            with tr.span("simhash.pairs"):
                ni, n_ni = done(near_image_pairs(images, cfg))
            with tr.span("verify.psnr"):
                _, c["verify.verified"] = done(verify_image_pairs(ni, images, cfg))
                c["verify.yield"] = c["verify.verified"] / max(n_ni, 1)
            with tr.span("aux.minhash.candidates"):
                c["minhash.candidates"] = candidate_pairs_from_bands(
                    banded_from_prepared(prepared), pair_cap=cfg.hot_band_threshold,
                    salt_buckets=cfg.salt_buckets).count()
            with tr.span("minhash.pairs"):
                _, c["minhash.pairs"] = done(near_caption_pairs(images, cfg, prepared=prepared))
                c["minhash.yield"] = c["minhash.pairs"] / max(c["minhash.candidates"], 1)
            with tr.span("containment.pairs"):
                _, c["containment.pairs"] = done(containment_pairs(images, cfg, prepared=prepared))
            with tr.span("pipeline.edges"):
                edges, c["pipeline.edges"] = done(
                    candidate_edges(images, cfg, digests=digests))
            with tr.span("components.cc"):
                clusters, _ = done(connected_components(
                    canonical_pairs(edges), nodes=images.select("image_id"), cfg=cfg))
                c["components.clusters"] = clusters.select("cluster_id").distinct().count()
            with tr.span("pipeline.verdicts"):
                verdicts_from_clusters(images, clusters, edges).write.mode("overwrite") \
                    .parquet(self.path("verdicts"))
        self.traced_checks = [self.check()]
        return c


# --- index_increments ---------------------------------------------------------

class IndexIncrements(Workload):
    """One daily increment per step: probe the image index and the caption
    index, then append only the novel rows to each stored index. A run
    replays the chain seed index + K increments, always from the same seed
    index, so every pass over the chain does identical work."""

    name = "index_increments"

    def generate(self) -> None:
        s = self.size
        ch = gen.index_chain(self.seed, s["seed_rows"], s["increments"], s["inc_rows"],
                             s["caption_seed_rows"], s["caption_inc_rows"])
        self.k = self.traced_step_count = s["increments"]
        self.rows_per_step = s["inc_rows"] + s["caption_inc_rows"]
        os.makedirs(self.path("in"), exist_ok=True)
        ch.seed_images.to_parquet(self.path("in", "seed_images.parquet"))
        ch.seed_captions.to_parquet(self.path("in", "seed_captions.parquet"))
        for i in range(self.k):
            ch.image_incs[i].to_parquet(self.path("in", f"img_inc{i}.parquet"))
            ch.caption_incs[i].to_parquet(self.path("in", f"cap_inc{i}.parquet"))
        self.image_expect, self.caption_expect = ch.image_expect, ch.caption_expect

    def setup(self) -> None:
        from deduplicator_spark.plans.caption_index import build_caption_index
        from deduplicator_spark.plans.image_index import build_image_index

        rd = self.spark.read.parquet
        seed = rd(self.path("in", "seed_images.parquet"))
        build_image_index(seed.select("image_id", "phash"),
                          digests=seed.select("image_id", "digest")) \
            .write.mode("overwrite").parquet(self.path("seed_img_index"))
        build_caption_index(rd(self.path("in", "seed_captions.parquet"))) \
            .write.mode("overwrite").parquet(self.path("seed_cap_index"))
        self._restore()

    def _restore(self) -> None:
        for name in ("img_index", "cap_index"):
            shutil.rmtree(self.path(name), ignore_errors=True)
            shutil.copytree(self.path(f"seed_{name}"), self.path(name))
        self.pos = 0

    def _increment(self, tr: Tracer | None) -> None:
        from contextlib import nullcontext

        from deduplicator_spark.plans import caption_index as ci
        from deduplicator_spark.plans import image_index as ii

        span = tr.span if tr is not None else (lambda name: nullcontext())
        p, rd = self.pos, self.spark.read.parquet
        inc = rd(self.path("in", f"img_inc{p}.parquet"))
        cinc = rd(self.path("in", f"cap_inc{p}.parquet"))
        with span("image_index.probe"):
            idx = rd(self.path("img_index"))
            v = ii.probe_images(inc, idx).persist()
            v.write.mode("overwrite").parquet(self.path("img_verdicts"))
        with span("image_index.append"):
            ii.append_novel_to_index(idx.limit(0), inc, v).write.mode("append") \
                .parquet(self.path("img_index"))
        with span("minhash.prepare"):
            feat = ci.build_caption_index(cinc).persist()
            if tr is not None:
                feat.count()
        with span("caption_index.probe"):
            cidx = rd(self.path("cap_index"))
            cv = ci.probe_captions(feat, cidx).persist()
            cv.write.mode("overwrite").parquet(self.path("cap_verdicts"))
        with span("caption_index.append"):
            ci.append_novel_to_index(cidx.limit(0), feat, cv).write.mode("append") \
                .parquet(self.path("cap_index"))
        self.pos += 1

    def step(self) -> None:
        self._increment(None)

    def check(self) -> Check:
        p = self.pos - 1
        a = _compare(_read(self.path("img_verdicts")), self.image_expect[p],
                     "image_id", "refers_to_id")
        b = _compare(_read(self.path("cap_verdicts")), self.caption_expect[p],
                     "image_id", "refers_to_id")
        return Check(a.ok and b.ok, a.found + b.found, a.planted + b.planted,
                     "; ".join(x for x in (a.detail, b.detail) if x))

    def after_step(self) -> None:
        if self.pos == self.k:
            self._restore()

    def rewind(self) -> None:
        self._restore()

    def traced_steps(self, tr: Tracer) -> dict[str, float]:
        """The whole chain from the seed index, one traced increment each."""
        self.traced_checks = []
        for _ in range(self.k):
            with tr.span("step"):
                self._increment(tr)
            self.traced_checks.append(self.check())
        img = [s.dur for s in tr.spans_named("image_index.probe")]
        cap = [s.dur for s in tr.spans_named("caption_index.probe")]
        c = {"image_index.index_rows": _num_rows(self.path("img_index"), "image_id"),
             "image_index.probe_growth": img[-1] / img[0],
             "caption_index.probe_growth": cap[-1] / cap[0]}
        # the base of each growth ratio: the first increment's probe against
        # the seed index
        self.trace_info = {"image_index.first_probe_s": img[0],
                           "caption_index.first_probe_s": cap[0],
                           "seed_index_rows": self.size["seed_rows"],
                           "caption_seed_index_rows": self.size["caption_seed_rows"]}
        self._restore()
        return c


# --- crawl_probe --------------------------------------------------------------

class CrawlProbe(Workload):
    """The reference lifecycle on crawl.log input: build the capture index
    from an index crawl (written as parquet), then probe a second crawl
    against it with the URL_CANONICAL strategy."""

    name = "crawl_probe"

    def generate(self) -> None:
        cr = gen.crawl_logs(self.seed, self.size["lines"])
        self.rows_per_step = len(cr.index_lines) + len(cr.probe_lines)
        os.makedirs(self.path("logs"), exist_ok=True)
        for name, lines in (("index.log", cr.index_lines), ("probe.log", cr.probe_lines)):
            with open(self.path("logs", name), "w") as f:
                f.write("\n".join(lines) + "\n")
        self.expect = cr.expect

    def _captures(self, name: str) -> DataFrame:
        from deduplicator_spark.plans.index_build import normalize_captures
        from deduplicator_spark.sources.registry import read_source

        return normalize_captures(read_source(self.spark, "crawl_log",
                                              self.path("logs", name)))

    def _probe_captures(self) -> DataFrame:
        return self._captures("probe.log").withColumn(
            "probe_id", F.xxhash64("url", "digest", "record_id"))

    def _build(self, caps: DataFrame) -> None:
        from deduplicator_spark.plans.index_build import build_index

        build_index(caps).index.write.mode("overwrite").parquet(self.path("index"))

    def _probe(self, probe: DataFrame) -> None:
        from deduplicator_spark.plans.probe import probe_captures

        probe_captures(probe, self.spark.read.parquet(self.path("index")),
                       strategy="URL_CANONICAL") \
            .select("url", "verdict", "refers_to_uri") \
            .write.mode("overwrite").parquet(self.path("verdicts"))

    def step(self) -> None:
        self._build(self._captures("index.log"))
        self._probe(self._probe_captures())

    def check(self) -> Check:
        return _compare(_read(self.path("verdicts")), self.expect, "url", "refers_to_uri")

    def traced_steps(self, tr: Tracer) -> dict[str, float]:
        from deduplicator_spark.functions.urlcanon import canonicalize_url

        c: dict[str, float] = {}
        with tr.span("step"):
            with tr.span("crawl_log.parse"):
                caps = self._captures("index.log").persist()
                probe = self._probe_captures().persist()
                c["crawl_log.rows"] = caps.count() + probe.count()
            # the canonicalizer alone, over the probe URLs: an extra pass, as
            # the step runs it only inside the index build and the probe
            with tr.span("aux.urlcanon.canon"):
                probe.select(canonicalize_url(F.col("url"))).write.format("noop") \
                    .mode("overwrite").save()
            with tr.span("index_build.build"):
                self._build(caps)
            with tr.span("probe.probe"):
                self._probe(probe)
        self.traced_checks = [self.check()]
        c["index_build.index_rows"] = _num_rows(self.path("index"), "url")
        got = _read(self.path("verdicts"))
        c["probe.duplicates"] = int((got["verdict"] == "duplicate").sum())
        c["urlcanon.expr_kb"] = len(str(canonicalize_url(F.col("url")))) / 1024
        return c


WORKLOADS = {w.name: w for w in (BatchDedup, IndexIncrements, CrawlProbe)}
