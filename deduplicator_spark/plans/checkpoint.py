"""Stage-level checkpoint store: parquet commits + per-partition lineage.

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

plans/pipeline.run_pipeline(checkpoint_dir=...) commits each of its stages
here. Resume rule: a stage re-runs unless its manifest exists AND its
fingerprint matches the current DedupConfig, tiers and pixel verification
AND its input identity token matches the current input — a changed shingle
size, band count, tier list or swapped input corpus silently invalidates
every downstream checkpoint (SURVEY.md §7.4 hard part #4; the Iceberg analog
is pinning the source snapshot id in the stage metadata).
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT, TIERS, DedupConfig


def config_fingerprint(cfg: DedupConfig, tiers: tuple[str, ...] = TIERS,
                       verify_pixels: bool = True) -> str:
    """Hash of every run argument that changes a stage's output: the
    config, the enabled tiers and whether near-image pairs are
    pixel-verified."""
    payload = json.dumps({"cfg": dataclasses.asdict(cfg),
                          "tiers": sorted(tiers),
                          "verify_pixels": verify_pixels}, sort_keys=True)
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


_CONTENT_COLS = ("digest", "phash", "caption")  # cheap content-bearing cols


def input_identity(images: DataFrame) -> str:
    """Cheap content identity of the input: (row count, order-invariant
    checksum over image_id + every present content-bearing column) from one
    column-pruned agg job — the parquet stand-in for an Iceberg source
    snapshot id pinned into stage metadata.

    The checksum folds in each of digest/phash/caption the input carries, so
    a regenerated corpus with the same ids but different payloads or edited
    captions invalidates checkpoints, honoring the 'changed input
    invalidates checkpoints' contract. Deliberately NOT the raw bytes column
    — hashing 100 TB of payloads to decide cache validity would cost more
    than the pipeline; phash/digest are payload-derived."""
    cols = [F.col("image_id").cast("string")] + [
        F.col(c).cast("string") for c in _CONTENT_COLS if c in images.columns]
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
                 input_token: str | None = None,
                 tiers: tuple[str, ...] = TIERS,
                 verify_pixels: bool = True) -> None:
        self.spark = spark
        self.root = root
        self.run_id = run_id
        self.fingerprint = config_fingerprint(cfg, tiers, verify_pixels)
        self.input_token = input_token

    def _dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _manifest(self, stage: str) -> str:
        return os.path.join(self._dir(stage), "manifest.json")

    def has(self, stage: str) -> bool:
        """True iff the stage committed under the SAME fingerprint (config,
        tiers, pixel verification) and, when this store knows its input,
        the SAME input identity."""
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
