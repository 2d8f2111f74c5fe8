"""The modality-independent half of the index -> probe -> append lifecycle:
the reference builds an index of a trusted corpus once (IndexingLauncher,
SURVEY §3.1) and probes every capture against it (DeDuplicator processor,
§3.2). The image index (plans/image_index), the caption index
(plans/caption_index) and the caption stream (streaming/caption_probe)
share it; each supplies only its index rows and its near leg.

Index and probe rows are (image_id, digest, <features>). Per probe, exact
beats weaker like DIGEST_URL_PREFERRED (LuceneIndexSearcher.java:131-170):
  1. digest hit in the index -> 'duplicate', refers to the min image_id
     carrying that digest
  2. else a near-leg pair    -> 'near_duplicate', top-1 by (score
     best-first, index id asc): a deterministic total order (O10)
  3. else                    -> 'novel'
A near leg maps the exact misses to (image_id, idx_image_id, <score>)
pairs, any number per probe. Verdict rows are (image_id, verdict,
refers_to_id, <score>); the score is null for exact and novel rows.

ANN (IVF on disk, top-k), winnow (containment score, no exact leg) and
audio (per-window hits) have other semantics and keep their own code.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def exact_refs(index: DataFrame) -> DataFrame:
    """(digest, exact_ref): one referent per distinct digest, its min
    image_id."""
    return index.groupBy("digest").agg(F.min("image_id").alias("exact_ref"))


def split_exact(probes: DataFrame,
                exact_ref: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(duplicate verdict rows, exact misses) of probes against an
    exact_refs frame; the misses keep every probe column but the digest."""
    e = probes.join(exact_ref, "digest", "left")
    dup = e.filter(F.col("exact_ref").isNotNull()).select(
        "image_id", F.lit("duplicate").alias("verdict"),
        F.col("exact_ref").alias("refers_to_id"))
    return dup, e.filter(F.col("exact_ref").isNull()).drop("exact_ref", "digest")


def near_hits(pairs: DataFrame, score: str) -> DataFrame:
    """'near_duplicate' verdict rows from (image_id, idx_image_id, score)."""
    return pairs.select("image_id", F.lit("near_duplicate").alias("verdict"),
                        F.col("idx_image_id").alias("refers_to_id"), score)


def union_verdicts(*parts: DataFrame) -> DataFrame:
    """Union verdict rows by name; columns a part lacks (the score, a novel
    row's referent) are nulls of the type the other parts give them."""
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part, allowMissingColumns=True)
    return out


def probe_index(probes: DataFrame, index: DataFrame,
                near: Callable[[DataFrame], DataFrame], score: str,
                higher_is_better: bool, observation=None) -> DataFrame:
    """Batch probe: one verdict row per probe. ``near`` maps the exact
    misses to scored pairs. Pass a pyspark Observation to collect
    per-verdict counters with the result action (the AtomicLong statistics
    of DeDuplicator.java:54-94, without a second pass)."""
    dup, miss = split_exact(probes, exact_refs(index))
    best = F.col(score).desc() if higher_is_better else F.col(score).asc()
    w = Window.partitionBy("image_id").orderBy(best, F.col("idx_image_id").asc())
    hits = near_hits(near(miss).withColumn("_rn", F.row_number().over(w))
                     .filter(F.col("_rn") == 1), score)
    novel = miss.join(hits.select("image_id"), "image_id", "left_anti") \
        .select("image_id", F.lit("novel").alias("verdict"))
    out = union_verdicts(dup, hits, novel)
    if observation is not None:
        out = out.observe(
            observation,
            F.count(F.lit(1)).alias("handled"),
            *[F.sum((F.col("verdict") == v).cast("long")).alias(v)
              for v in ("duplicate", "near_duplicate", "novel")],
        )
    return out


def append_novel_to_index(index: DataFrame, probes: DataFrame,
                          verdicts: DataFrame) -> DataFrame:
    """The reference's APPEND indexing mode (K1: IndexingLauncher CREATE vs
    APPEND, IndexBuilder.java): after probing an increment, only its NOVEL
    rows enter the index. Duplicates and near-duplicates are already
    represented by the row they refer to, so the index stays one entry per
    content class instead of growing with the crawl. ``probes`` must carry
    every index column.

    Scale shape: the novel filter is a broadcast semi-join on the increment
    (bounded by increment size, never the corpus) and the union is
    metadata-only; at cluster scale write novels as an appended partition
    of the bucketed store (plans/bucketed.py), with no rewrite of history."""
    novel_ids = verdicts.filter(F.col("verdict") == "novel").select("image_id")
    return index.unionByName(
        probes.join(F.broadcast(novel_ids), "image_id").select(*index.columns))
