"""End-to-end dedup pipeline: tiers -> verify -> cluster -> verdicts + metrics.

The distributed re-expression of the reference's per-URI processing chain
(DeDuplicator.innerProcessResult, DeDuplicator.java:149-192): where the
reference probes one record at a time against a frozen Lucene index, this runs
the whole corpus through four similarity tiers as set-oriented jobs, then
assigns every row a verdict + refers-to lineage in one pass.

Payload-byte passes (the dominant cost at 100 TB): the exact sha256 digest
rides in the SAME Arrow decode pass as payload validation
(operators/media.image_features), so the full corpus bytes are read exactly
ONCE up front; the only other byte read is the PSNR verification join, which
touches candidate pairs only. Bytes are never cached.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT, TIERS, DedupConfig
from ..operators.candidates import canonical_pairs
from ..operators.components import connected_components
from ..operators.containment import containment_pairs
from ..operators.exact import exact_pairs, exact_pairs_from_digests
from ..operators.minhash import near_caption_pairs
from ..operators.simhash import near_image_pairs
from ..operators.verify import verify_image_pairs
from .checkpoint import StageStore, input_identity

TIER_PRIORITY = {"exact": 1, "near_image": 2, "near_caption": 3,
                 "containment": 4, "winnow": 5}


@dataclass
class DedupResult:
    pairs: DataFrame      # verified edges (id_a, id_b, tier, score)
    clusters: DataFrame   # (image_id, cluster_id)
    verdicts: DataFrame   # VERDICTS_SCHEMA
    metrics: DataFrame    # (run_id, stage, metric, value) — LAZY plan, not
                          # driver-collected: materializes only when consumed


def candidate_edges(images: DataFrame, cfg: DedupConfig = DEFAULT,
                    tiers: tuple[str, ...] = TIERS,
                    verify_pixels: bool = True,
                    digests: DataFrame | None = None,
                    dedup_pairs: bool = True) -> DataFrame:
    """Union of verified duplicate edges across the enabled tiers.

    ``digests`` (image_id, digest) lets the exact tier reuse digests already
    computed by an upstream validation pass instead of rescanning bytes.
    ``dedup_pairs=False`` returns the raw union (a pair found by k tiers
    appears k times, one row per tier) — the input to tier-overlap analysis;
    the default keeps one edge per pair at the highest-priority tier."""
    parts = []
    prepared = None
    if "near_caption" in tiers or "containment" in tiers:
        # one Arrow pass over captions shared by tiers 2+3 (shingle hashes,
        # token counts, LSH band keys); cached — a few longs per row
        from ..operators.minhash import prepared_features

        prepared = prepared_features(images, cfg).persist()
    if "exact" in tiers:
        parts.append(exact_pairs(images) if digests is None
                     else exact_pairs_from_digests(digests))
    if "near_image" in tiers:
        ni = near_image_pairs(images, cfg)
        if verify_pixels:
            ni = verify_image_pairs(ni, images, cfg)
        parts.append(ni)
    if "near_caption" in tiers:
        parts.append(near_caption_pairs(images, cfg, prepared=prepared))
    if "containment" in tiers:
        parts.append(containment_pairs(images, cfg, prepared=prepared))
    if "winnow" in tiers:
        # optional 5th tier (off by default): passage-level caption overlap
        # via winnowing fingerprints — catches shared passages between
        # captions whose WHOLE-set Jaccard sits under the LSH threshold.
        # score = shared fingerprints / smaller fingerprint set (containment
        # -flavored, in [0, 1] like the other tiers); the winnow_min_score
        # gate keeps templated boilerplate phrases (which ANY two captions
        # of the same house style share) from merging unrelated rows —
        # without it, a 400-image synth corpus collapses to near-one
        # cluster on its caption template alone.
        from ..operators.winnow import winnow_pairs

        wp = winnow_pairs(images, id_col="image_id", text_col="caption")
        score = (F.col("shared") / F.least("n_a", "n_b")).cast("double")
        parts.append(
            wp.select("id_a", "id_b", F.lit("winnow").alias("tier"),
                      score.alias("score"))
            .filter(F.col("score") >= cfg.winnow_min_score))
    edges = parts[0]
    for p in parts[1:]:
        edges = edges.unionByName(p)
    if not dedup_pairs:
        return edges
    # one edge per pair: keep the highest-priority tier (exact beats near_*)
    prio = F.coalesce(
        *[F.when(F.col("tier") == t, F.lit(p)) for t, p in TIER_PRIORITY.items()]
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("id_a", "id_b").orderBy(prio.asc(), F.col("score").desc())
    return (
        edges.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def verdicts_from_clusters(images: DataFrame, clusters: DataFrame,
                           edges: DataFrame) -> DataFrame:
    """Reference verdict semantics, set-oriented:

    - cluster representative (min id) = the 'original capture' -> novel
      (deterministic total order replacing the reference's scan order, O10)
    - every other member -> duplicate, refers_to = representative (the K3
      revisit-profile lineage, LuceneIndexSearcher.java:298-310)
    - dup_class = highest-priority tier among the member's incident edges
      (the 3-way classification of DeDuplicator.java:194-205 generalized to
      4 tiers).
    """
    prio = F.coalesce(
        *[F.when(F.col("tier") == t, F.lit(p)) for t, p in TIER_PRIORITY.items()]
    )
    incident = (
        edges.select(F.col("id_a").alias("image_id"), "tier")
        .unionByName(edges.select(F.col("id_b").alias("image_id"), "tier"))
        .withColumn("_p", prio)
        .groupBy("image_id")
        .agg(F.min_by("tier", F.col("_p")).alias("dup_class"))
    )
    return (
        images.select("image_id")
        .join(clusters, "image_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("image_id")))
        .join(incident, "image_id", "left")
        .select(
            "image_id",
            F.when(F.col("image_id") == F.col("cluster_id"), F.lit("novel"))
            .otherwise(F.lit("duplicate"))
            .alias("verdict"),
            F.when(F.col("image_id") != F.col("cluster_id"), F.col("dup_class")).alias("dup_class"),
            "cluster_id",
            F.when(F.col("image_id") != F.col("cluster_id"), F.col("cluster_id")).alias("refers_to_id"),
        )
    )


def validation_features(images: DataFrame) -> DataFrame:
    """One full-corpus Arrow decode pass: (image_id, digest, decode_ok,
    phash_recomputed, phash). Feeds BOTH the quarantine gate and the exact
    tier — the payload bytes are read exactly once for the two of them."""
    from ..operators.media import image_features

    feats = image_features(images, safe=True).select(
        "image_id", "digest", "decode_ok", "phash_recomputed"
    )
    return feats.join(images.select("image_id", "phash"), "image_id")


def bad_ids_from_features(feats: DataFrame, cfg: DedupConfig = DEFAULT) -> DataFrame:
    """F9/P9 analog: rows whose payload doesn't decode, or whose stored phash
    is irreconcilable with the pixel-recomputed one, are quarantined instead
    of aborting the job (the reference hard-fails on digest mismatch,
    DeDuplicator.java:169-172, and on URL sanity, IndexBuilder.java:180-185;
    at web scale corrupt records are routine, so they route to a table)."""
    return feats.filter(
        (~F.col("decode_ok"))
        | (F.bit_count(F.col("phash").bitwiseXOR(F.col("phash_recomputed")))
           > cfg.phash_validate_max_hamming)
    ).select("image_id")


def _metric_rows(df: DataFrame, stage: str, metric, value) -> DataFrame:
    return df.select(
        F.lit(stage).alias("stage"),
        (F.lit(metric) if isinstance(metric, str) else metric).alias("metric"),
        value.cast("double").alias("value"),
    )


def build_metrics(run_id: str, images: DataFrame, edges: DataFrame,
                  verdicts: DataFrame,
                  quarantined: DataFrame | None = None) -> DataFrame:
    """A1-A4/A7 counters as a LAZY metrics plan (no driver collect; the
    reference's AtomicLong counters become aggregation queries that evaluate
    only when the metrics table is written/consumed)."""
    parts = [
        _metric_rows(images.agg(F.count("*").alias("n")), "input", "rows", F.col("n")),
        _metric_rows(
            (quarantined.agg(F.count("*").alias("n")) if quarantined is not None
             else images.limit(0).agg(F.count("*").alias("n"))),
            "input", "quarantined", F.coalesce(F.col("n"), F.lit(0))),
        _metric_rows(edges.agg(F.count("*").alias("n")),
                     "candidates", "verified_pairs", F.col("n")),
        _metric_rows(edges.groupBy("tier").agg(F.count("*").alias("n")),
                     "candidates", F.concat(F.lit("pairs_"), F.col("tier")),
                     F.col("n")),
        _metric_rows(verdicts.groupBy("verdict").agg(F.count("*").alias("n")),
                     "verdicts", F.col("verdict"), F.col("n")),
    ]
    return reduce(DataFrame.unionByName, parts).select(
        F.lit(run_id).alias("run_id"), "stage", "metric", "value"
    )


def run_pipeline(images: DataFrame, cfg: DedupConfig = DEFAULT,
                 tiers: tuple[str, ...] = TIERS,
                 verify_pixels: bool = True,
                 run_id: str = "run",
                 persist_input: bool = True,
                 checkpoint_dir: str | None = None) -> DedupResult:
    """The five stages — validate -> edges -> clusters -> verdicts ->
    metrics — composed once.

    persist_input=True caches the full input (right for synthesized or
    expensive-to-recompute inputs at sandbox scale). For a parquet/Iceberg
    source pass False: each tier then scans only its pruned columns from
    storage; the payload bytes are read once up front (fused
    validation+digest pass) plus once per verified-candidate PSNR join —
    you cannot cache 100 TB of payload bytes, and the narrow caption/phash
    projections the other tiers need are cached separately anyway.

    Without ``checkpoint_dir`` the validation features and the edges are
    persisted and the rest stays lazy. With it, every stage commits to a
    plans/checkpoint.StageStore under that directory in order, and a stage
    whose manifest matches the config, ``tiers``, ``verify_pixels`` and the
    input's identity token is read back instead of recomputed. A kill
    leaves the stages committed before it (data + manifest) and at most a
    manifest-less data directory for the stage in flight; the next run
    with the same key reads the committed stages back and re-runs the
    rest."""
    if persist_input:
        images = images.persist()
    store = None if checkpoint_dir is None else StageStore(
        images.sparkSession, checkpoint_dir, cfg, run_id,
        input_token=input_identity(images), tiers=tiers,
        verify_pixels=verify_pixels)

    def stage(name: str, build, persist: bool = False) -> DataFrame:
        if store is None:
            return build().persist() if persist else build()
        return store.read(name) if store.has(name) else store.write(name, build())

    feats = stage("validate", lambda: validation_features(images), persist=True)
    bad = bad_ids_from_features(feats, cfg)
    # broadcast anti-join of the (tiny) bad set; no eager count needed
    images = images.join(F.broadcast(bad), "image_id", "left_anti")
    digests = feats.join(F.broadcast(bad), "image_id", "left_anti") \
        .select("image_id", "digest")
    edges = stage("edges", lambda: candidate_edges(
        images, cfg, tiers, verify_pixels, digests=digests), persist=True)
    clusters = stage("clusters", lambda: connected_components(
        canonical_pairs(edges), nodes=images.select("image_id"), cfg=cfg))
    verdicts = stage("verdicts",
                     lambda: verdicts_from_clusters(images, clusters, edges))
    metrics = stage("metrics", lambda: build_metrics(
        run_id, images, edges, verdicts, quarantined=bad))
    return DedupResult(pairs=edges, clusters=clusters, verdicts=verdicts, metrics=metrics)
