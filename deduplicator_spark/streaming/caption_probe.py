"""Streaming caption probe: the crawl-time probe path (DeDuplicator.java:
149-192, stream-vs-frozen-index) for the TEXT payload — completing the
streaming matrix next to the exact-digest probe (streaming/probe.py:
probe_stream) and the near-image probe (probe_phash_stream).

Both tiers are STATELESS stream-static joins, so a 100 TB/day caption
stream carries no state store at all:

  * exact tier — md5(caption) equi-join against the digest->min-id static
    (broadcast; one row per probe by construction).
  * near tier — LSH band equi-join against the banded static index, exact
    Jaccard verify on the carried sh_hashes. A pair agreeing on several
    bands would emit once per band and streams cannot window it away
    without state, so dedup is stateless: both sides' full band-key arrays
    ride the join, each row computes the pair's FIRST agreeing band from
    them alone (zip_with equality + array_position) and survives only if it
    IS that band — exactly one row per verified pair, deterministic.

Like the image stream, this emits HITS only (duplicate + near_duplicate
rows, one per verified pair). Top-1-per-probe and novelty are negatives
over the whole index that no stateless per-row operator can decide — the
batch probe (plans/caption_index.probe_captions) reconciles them from the
same two static frames and the same near leg (caption_near_pairs); see the
probe_phash_stream docstring for the same argument on images.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..config import DEFAULT, DedupConfig
from ..plans.index_lifecycle import exact_refs, near_hits, split_exact, union_verdicts

# Static exact tier: one (digest, exact_ref) row per distinct content digest
# (min image_id, the batch tiebreak).
caption_exact_for_stream = exact_refs


def caption_bands_for_stream(index: DataFrame) -> DataFrame:
    """Static near tier: the index collapsed to one representative per
    digest (equal content => equal Jaccard to any probe; min id is the
    tiebreak winner), then band-exploded with sh_hashes and the full
    band-key array carried for verify + first-agreeing-band dedup. At
    cluster scale store this bucketed by (band, key) (plans/bucketed.py) so
    each micro-batch shuffles only the probe side."""
    w = Window.partitionBy("digest").orderBy("image_id")
    idx1 = index.withColumn("_rn", F.row_number().over(w)) \
        .filter(F.col("_rn") == 1)
    return idx1.select(
        F.col("image_id").alias("idx_image_id"),
        F.col("sh_hashes").alias("sh_i"),
        F.col("band_keys").alias("bk_i"),
        F.posexplode("band_keys").alias("band", "key"),
    )


def caption_near_pairs(probes: DataFrame, banded_index: DataFrame,
                       cfg: DedupConfig = DEFAULT) -> DataFrame:
    """(image_id, idx_image_id, jaccard) for every featurized probe row and
    caption_bands_for_stream entry with Jaccard >= cfg.jaccard_threshold,
    one row per pair (its first agreeing band)."""
    pb = probes.select(
        "image_id", F.col("sh_hashes").alias("sh_p"),
        F.col("band_keys").alias("bk_p"),
        F.posexplode("band_keys").alias("band", "key"))
    j = pb.join(banded_index, ["band", "key"]) \
        .filter(F.col("image_id") != F.col("idx_image_id"))
    first_agree = F.array_position(
        F.zip_with("bk_p", "bk_i", lambda a, b: a == b), True) - 1
    inter = F.size(F.array_intersect(F.col("sh_p"), F.col("sh_i")))
    union = F.size("sh_p") + F.size("sh_i") - inter
    return (
        j.filter(F.col("band") == first_agree)
        .withColumn("jaccard", inter / F.greatest(union, F.lit(1)))
        .filter(F.col("jaccard") >= cfg.jaccard_threshold)
        .select("image_id", "idx_image_id", "jaccard")
    )


def probe_caption_stream(captures: DataFrame, exact_ref: DataFrame,
                         banded_index: DataFrame,
                         cfg: DedupConfig = DEFAULT) -> DataFrame:
    """Probe a stream of (image_id, caption) rows — or an already-featurized
    stream with (image_id, digest, sh_hashes, band_keys) — against the two
    static frames above. Returns one row per verified hit:
    (image_id, verdict, refers_to_id, jaccard); jaccard is null for exact
    hits. The Arrow featurization (prepared_features' mapInPandas) runs
    per micro-batch — the same bounded-batch story as the batch tier."""
    if "sh_hashes" in captures.columns:
        p = captures
    else:
        from ..plans.caption_index import build_caption_index
        p = build_caption_index(captures, cfg)

    dup, miss = split_exact(p, F.broadcast(exact_ref))
    return union_verdicts(
        dup, near_hits(caption_near_pairs(miss, banded_index, cfg), "jaccard"))
