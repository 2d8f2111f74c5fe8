"""Image index + probe lifecycle — the reference's two-job workflow applied
to the IMAGE payload.

The reference never probes everything against everything: it builds an index
of a trusted corpus ONCE (IndexingLauncher, SURVEY §3.1) and every crawl
probes its captures against it (DeDuplicator processor, §3.2). This module is
that lifecycle for images — the incremental complement of the all-pairs
pipeline (plans/pipeline.py): a 100 TB corpus is indexed once, then each
daily increment is ONE equi-join pass against the frozen index instead of a
re-clustering of the world.

Probe semantics (per new image, mirroring DIGEST_URL_PREFERRED's
exact-beats-weaker preference, LuceneIndexSearcher.java:131-170):
  1. exact: sha256 digest hit in the index        -> verdict 'duplicate'
  2. else banded pHash Hamming<=k near-match      -> verdict 'near_duplicate'
     (top-1 by (hamming, index id) — deterministic total order, O10)
  3. else                                         -> verdict 'novel'

Scale shape: the exact leg, top-1, novel anti-join and APPEND are the
shared lifecycle (plans/index_lifecycle.py); this module adds the index
rows and the near leg, which reuses the stateless banded probe join of
streaming/probe.py (pigeonhole recall-1, one row per verified pair via the
first-agreeing-band trick) and only probes rows the exact leg missed. Store
the index bucketed (plans/bucketed.py) and neither leg shuffles the index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT, DedupConfig
from ..streaming.probe import phash_index_for_stream, probe_phash_stream
from .index_lifecycle import append_novel_to_index, probe_index


def build_image_index(images: DataFrame,
                      digests: DataFrame | None = None) -> DataFrame:
    """(image_id, digest, phash) index projection. ``digests`` lets a fused
    upstream decode pass (plans/pipeline.validation_features) supply digests
    without a second byte scan; otherwise sha256 over the bytes column."""
    if digests is not None:
        return images.select("image_id", "phash").join(digests, "image_id") \
            .select("image_id", "digest", "phash")
    return images.select(
        "image_id", F.sha2(F.col("bytes"), 256).alias("digest"), "phash")


def probe_images(probes: DataFrame, index: DataFrame,
                 cfg: DedupConfig = DEFAULT,
                 observation=None) -> DataFrame:
    """Probe (image_id, digest, phash) rows against an index frame from
    build_image_index. Returns (image_id, verdict, refers_to_id, hamming);
    hamming is null for exact/novel verdicts. A re-probed indexed image is
    an exact duplicate of its indexed self (reference semantics: the index
    is the history, any hit is a revisit). ``observation`` collects
    per-verdict counters (plans/index_lifecycle.probe_index)."""

    def near(miss: DataFrame) -> DataFrame:
        # Near-side skew guard, EXACT by construction: collapse the index to
        # one representative (min image_id) per distinct phash before
        # banding. Hamming depends only on phash, and the min id of an
        # equal-phash group is precisely the row the (hamming, id) top-1
        # would pick, so output is unchanged while a 100 TB hot class (black
        # frames, logo cards: one phash, millions of rows) contributes ONE
        # posting per band instead of a mega-bucket.
        reps = index.groupBy("phash").agg(F.min("image_id").alias("image_id"))
        return probe_phash_stream(miss, phash_index_for_stream(reps, cfg), cfg) \
            .select("image_id", "idx_image_id",
                    F.col("hamming").cast("long").alias("hamming"))

    return probe_index(probes.select("image_id", "digest", "phash"), index,
                       near, "hamming", higher_is_better=False,
                       observation=observation)


def probe_and_extend(probes: DataFrame, index: DataFrame,
                     cfg: DedupConfig = DEFAULT) -> tuple[DataFrame, DataFrame]:
    """One increment of the §3.1/§3.2 lifecycle: verdicts for the increment
    plus the extended index for the next one. Persist `verdicts` before
    consuming both outputs — the append re-reads it as the novel filter."""
    verdicts = probe_images(probes, index, cfg)
    return verdicts, append_novel_to_index(index, probes, verdicts)
