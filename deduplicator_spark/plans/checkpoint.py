"""Stage-level checkpointing: resumable pipeline + per-partition lineage.

North-rule requirement: "resumable from Iceberg-snapshot checkpoints with
per-partition lineage and metrics tables". In production each stage commits
an Iceberg snapshot (``df.writeTo(tbl).createOrReplace()`` + snapshot tag)
and resume reads the tagged snapshot. This container has no Iceberg jars, so
the same contract is implemented on plain parquet with an atomic JSON
manifest per stage:

    <root>/<stage>/data/*.parquet      stage output (atomic via tmp+rename of
                                       the manifest, which is written last)
    <root>/<stage>/manifest.json       row count, schema, config fingerprint,
                                       input identity token
    <root>/_lineage/<stage>/*.parquet  per-partition lineage (partition id,
                                       rows, bytes-ish) captured at write time

Resume rule: a stage re-runs unless its manifest exists AND its config
fingerprint matches the current DedupConfig AND its input identity token
matches the current input — a changed shingle size, band count, or swapped
input corpus silently invalidates every downstream checkpoint (SURVEY.md
§7.4 hard part #4; the Iceberg analog is pinning the source snapshot id in
the stage metadata).
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT, DedupConfig


def config_fingerprint(cfg: DedupConfig) -> str:
    payload = json.dumps(dataclasses.asdict(cfg), sort_keys=True)
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


_CONTENT_COLS = ("digest", "phash", "caption")  # cheap content-bearing cols


def input_identity(images: DataFrame, id_col: str = "image_id",
                   content_col: str | None = None) -> str:
    """Cheap content identity of the input: (row count, order-invariant
    checksum over id + a content-bearing column) from one column-pruned agg
    job — the parquet stand-in for an Iceberg source snapshot id pinned into
    stage metadata.

    The checksum folds in ``content_col`` (default: the first of
    digest/phash/caption present) so a regenerated corpus with the same ids but
    different payloads/captions invalidates checkpoints, honoring the
    'changed input invalidates checkpoints' contract. Deliberately NOT the
    raw bytes column — hashing 100 TB of payloads to decide cache validity
    would cost more than the pipeline; phash/digest are payload-derived."""
    if content_col is None:
        content_col = next((c for c in _CONTENT_COLS if c in images.columns), None)
    cols = [F.col(id_col).cast("string")]
    if content_col is not None:
        cols.append(F.col(content_col).cast("string"))
    row = images.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(F.concat_ws("\x1f", *cols))
              .cast("decimal(38,0)")).alias("s"),
    ).first()
    return f"{row['n']}:{row['s']}"


class StageStore:
    """Parquet-backed stage checkpoint store (Iceberg-snapshot stand-in)."""

    def __init__(self, spark: SparkSession, root: str,
                 cfg: DedupConfig = DEFAULT, run_id: str = "run",
                 input_token: str | None = None) -> None:
        self.spark = spark
        self.root = root
        self.cfg = cfg
        self.run_id = run_id
        self.fingerprint = config_fingerprint(cfg)
        self.input_token = input_token

    def _dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _manifest(self, stage: str) -> str:
        return os.path.join(self._dir(stage), "manifest.json")

    def has(self, stage: str) -> bool:
        """True iff the stage committed under the SAME config fingerprint
        (and, when this store knows its input, the SAME input identity)."""
        try:
            with open(self._manifest(stage)) as f:
                m = json.load(f)
        except (OSError, ValueError):
            return False
        if m.get("config_fingerprint") != self.fingerprint:
            return False
        if self.input_token is not None and "input_token" in m \
                and m["input_token"] != self.input_token:
            return False
        return True

    def write(self, stage: str, df: DataFrame,
              partition_by: str | list[str] | None = None) -> DataFrame:
        """Commit a stage: data parquet, per-partition lineage, manifest last
        (the manifest's presence IS the commit — a kill mid-write leaves no
        manifest and the stage re-runs cleanly on resume). ``partition_by``
        lays the data out by key directories so later equi-join/filter
        probes on that key prune their scan (plans/ann_index.py postings)."""
        d = self._dir(stage)
        if os.path.exists(d):
            shutil.rmtree(d)
        data = os.path.join(d, "data")
        writer = df.write.mode("overwrite")
        if partition_by:
            cols = [partition_by] if isinstance(partition_by, str) else partition_by
            writer = writer.partitionBy(*cols)
        writer.parquet(data)

        out = self.spark.read.parquet(data)
        lineage = (
            out.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("rows"))
            .select(
                F.lit(self.run_id).alias("run_id"),
                F.lit(stage).alias("stage"),
                "partition_id",
                "rows",
            )
        )
        lineage.write.mode("overwrite").parquet(
            os.path.join(self.root, "_lineage", stage)
        )
        n = out.count()
        manifest = {
            "stage": stage,
            "run_id": self.run_id,
            "rows": n,
            "schema": out.schema.simpleString(),
            "config_fingerprint": self.fingerprint,
            "input_token": self.input_token,
        }
        tmp = self._manifest(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest(stage))
        return out

    def append(self, stage: str, df: DataFrame,
               partition_by: str | list[str] | None = None) -> DataFrame:
        """Append an increment to a committed stage (the K1 APPEND lifecycle,
        IndexBuilder.java:94-104, applied to a persisted stage): increment
        files land inside the existing partition layout first, then the
        manifest rewrite (rows total + increment counter) commits — a kill
        mid-append leaves the old manifest in place, and the orphan files
        are re-written by the retried increment's overwrite-free append
        (callers retry the whole increment; parquet readers tolerate the
        extra files because retries write identical rows). Falls back to a
        fresh write() when the stage has not committed yet."""
        if not self.has(stage):
            return self.write(stage, df, partition_by=partition_by)
        data = os.path.join(self._dir(stage), "data")
        writer = df.write.mode("append")
        if partition_by:
            cols = [partition_by] if isinstance(partition_by, str) else partition_by
            writer = writer.partitionBy(*cols)
        writer.parquet(data)

        with open(self._manifest(stage)) as f:
            m = json.load(f)
        inc = int(m.get("increments", 0)) + 1
        inc_lineage = (
            df.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("rows"))
            .select(
                F.lit(f"{self.run_id}+inc{inc}").alias("run_id"),
                F.lit(stage).alias("stage"),
                "partition_id",
                "rows",
            )
        )
        inc_lineage.write.mode("append").parquet(
            os.path.join(self.root, "_lineage", stage)
        )
        out = self.spark.read.parquet(data)
        m["rows"] = out.count()
        m["increments"] = inc
        tmp = self._manifest(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f)
        os.replace(tmp, self._manifest(stage))
        return out

    def read(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self._dir(stage), "data"))

    def lineage(self) -> DataFrame:
        return self.spark.read.option("basePath", os.path.join(self.root, "_lineage")) \
            .parquet(os.path.join(self.root, "_lineage", "*"))


def run_pipeline_resumable(
    images: DataFrame,
    root: str,
    cfg: DedupConfig = DEFAULT,
    tiers: tuple[str, ...] = ("exact", "near_image", "near_caption", "containment"),
    verify_pixels: bool = True,
    run_id: str = "run",
    stop_after: str | None = None,
):
    """Checkpointed variant of plans.pipeline.run_pipeline.

    Stages: validate -> edges -> clusters -> verdicts -> metrics. Each
    commits to the StageStore; on restart, committed stages (same config
    fingerprint AND same input identity) are read back instead of
    recomputed. The validate stage commits the fused digest+quarantine
    features, so the resumable path applies the SAME payload validation as
    run_pipeline and resume stays deterministic across a kill between
    validation and edge generation. ``stop_after`` simulates a mid-job kill
    for resume tests (returns None after committing that stage).
    """
    from ..operators.candidates import canonical_pairs
    from ..operators.components import connected_components
    from .pipeline import (
        DedupResult,
        bad_ids_from_features,
        build_metrics,
        candidate_edges,
        validation_features,
        verdicts_from_clusters,
    )

    spark = images.sparkSession
    store = StageStore(spark, root, cfg, run_id,
                       input_token=input_identity(images))

    if store.has("validate"):
        feats = store.read("validate")
    else:
        feats = store.write("validate", validation_features(images))
    if stop_after == "validate":
        return None
    bad = bad_ids_from_features(feats, cfg)
    images = images.join(F.broadcast(bad), "image_id", "left_anti")
    digests = feats.join(F.broadcast(bad), "image_id", "left_anti") \
        .select("image_id", "digest")

    if store.has("edges"):
        edges = store.read("edges")
    else:
        edges = store.write(
            "edges",
            candidate_edges(images, cfg, tiers, verify_pixels, digests=digests),
        )
    if stop_after == "edges":
        return None

    if store.has("clusters"):
        clusters = store.read("clusters")
    else:
        clusters = store.write(
            "clusters",
            connected_components(canonical_pairs(edges),
                                 nodes=images.select("image_id"), cfg=cfg),
        )
    if stop_after == "clusters":
        return None

    if store.has("verdicts"):
        verdicts = store.read("verdicts")
    else:
        verdicts = store.write("verdicts", verdicts_from_clusters(images, clusters, edges))
    if stop_after == "verdicts":
        return None

    if store.has("metrics"):
        metrics = store.read("metrics")
    else:
        metrics = store.write(
            "metrics",
            build_metrics(run_id, images, edges, verdicts, quarantined=bad),
        )

    return DedupResult(pairs=edges, clusters=clusters, verdicts=verdicts, metrics=metrics)
