"""Caption (text) index + probe lifecycle — the reference's two-job workflow
(IndexingLauncher builds once, SURVEY §3.1; the DeDuplicator processor probes
each capture against it, §3.2 / DeDuplicator.java:149-192) applied to the
TEXT payload, completing the payload matrix: crawl records (plans/index_build
+ plans/probe), images (plans/image_index), captions (here).

Probe semantics per new caption, exact-beats-weaker like
DIGEST_URL_PREFERRED (LuceneIndexSearcher.java:131-170):
  1. digest hit in the index                    -> verdict 'duplicate'
  2. else LSH band agreement + exact Jaccard >= -> verdict 'near_duplicate'
     threshold (top-1 by (jaccard desc, index id asc) — deterministic)
  3. else                                       -> verdict 'novel'

Scale shape: the index stores ONE prepared-features row per caption
(sh_hashes + band_keys from one Arrow pass — no re-shingling at probe time).
The exact leg, top-1, novel anti-join and APPEND are the shared lifecycle
(plans/index_lifecycle.py). The near leg is the caption stream's banded
equi-join (streaming/caption_probe.py), which shuffles only the increment
when the index is stored bucketed by (band, key) (plans/bucketed.py).
Identical-caption index entries collapse to one representative before
banding (exact: equal content => equal Jaccard to any probe, and the kept
min id is the (jaccard, id) tiebreak winner), so a boilerplate caption
indexed a million times contributes one posting per band.
Distinct-but-near-identical mega-keys are the same skew class the batch
tier caps (operators/candidates.py) — at 100 TB reuse those caps and
salting on this join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT, DedupConfig
from ..operators.minhash import prepared_features
from ..streaming.caption_probe import caption_bands_for_stream, caption_near_pairs
from .index_lifecycle import append_novel_to_index as _append_novel, probe_index


def build_caption_index(items: DataFrame, cfg: DedupConfig = DEFAULT,
                        digests: DataFrame | None = None) -> DataFrame:
    """(image_id, n_tok, sh_hashes, band_keys, digest) from (image_id,
    caption) rows — one Arrow feature pass plus a content digest. ``digests``
    overrides the default md5(caption) (e.g. a digest fused into an upstream
    decode pass); the near-side dedup assumes digest is a CONTENT hash of
    the caption."""
    prep = prepared_features(items, cfg)
    if digests is None:
        digests = items.select("image_id", F.md5("caption").alias("digest"))
    return prep.join(digests, "image_id")


def probe_captions(probes: DataFrame, index: DataFrame,
                   cfg: DedupConfig = DEFAULT) -> DataFrame:
    """Probe featurized caption rows (build_caption_index output) against a
    build_caption_index frame. Returns (image_id, verdict, refers_to_id,
    jaccard); jaccard is null for exact/novel verdicts. The near leg is the
    caption stream's (streaming/caption_probe.caption_near_pairs: one row
    per verified pair) over one representative per identical caption."""
    bands = caption_bands_for_stream(index)
    return probe_index(probes, index,
                       lambda miss: caption_near_pairs(miss, bands, cfg),
                       "jaccard", higher_is_better=True)


def append_novel_to_index(index: DataFrame, probes_featurized: DataFrame,
                          verdicts: DataFrame) -> DataFrame:
    """APPEND mode (K1, plans/index_lifecycle.append_novel_to_index). Pass
    the FEATURIZED probes (build_caption_index output) so features are never
    recomputed."""
    return _append_novel(index, probes_featurized, verdicts)
