"""Resumability: kill-after-stage -> restart -> identical final output
(SURVEY.md §5 test plan item 5), fingerprint and input-identity
invalidation, lineage. A kill is simulated by a StageStore.write that
commits its stage and then raises."""

from __future__ import annotations

import pytest

import json
import os

from deduplicator_spark.config import DedupConfig
from deduplicator_spark.plans.checkpoint import StageStore, config_fingerprint
from deduplicator_spark.plans.pipeline import run_pipeline


def _verdict_set(df):
    return {(r["image_id"], r["verdict"], r["cluster_id"]) for r in df.collect()}


class _Killed(Exception):
    pass


def _kill_after(stage, images, root, **kw):
    """Run the checkpointed pipeline until ``stage`` has committed, then
    kill it: the patched StageStore.write commits the stage and raises."""
    commit = StageStore.write

    def write(self, name, df, partition_by=None):
        out = commit(self, name, df, partition_by=partition_by)
        if name == stage:
            raise _Killed(name)
        return out

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(StageStore, "write", write)
        with pytest.raises(_Killed):
            run_pipeline(images, checkpoint_dir=root, **kw)


@pytest.mark.slow
def test_kill_after_stage_then_resume_identical(spark, images_500, tmp_path):
    root = str(tmp_path / "ckpt")

    # simulated kill after the edges stage committed
    _kill_after("edges", images_500, root)
    assert os.path.exists(os.path.join(root, "edges", "manifest.json"))
    assert not os.path.exists(os.path.join(root, "clusters", "manifest.json"))

    # resume: edges must be read back, not recomputed; final verdicts must
    # match the non-checkpointed pipeline exactly
    resumed = run_pipeline(images_500, checkpoint_dir=root)
    direct = run_pipeline(images_500)
    assert _verdict_set(resumed.verdicts) == _verdict_set(direct.verdicts)

    # second resume: everything cached, still identical
    again = run_pipeline(images_500, checkpoint_dir=root)
    assert _verdict_set(again.verdicts) == _verdict_set(direct.verdicts)



@pytest.mark.slow
def test_tier_change_invalidates_checkpoints(spark, tmp_path):
    """Stages committed by an exact-only run must not be reused by a resume
    with the default tiers: the fingerprint covers the run's tiers."""
    from deduplicator_spark.synth import synthesize_images

    images = synthesize_images(spark, 200).persist()
    root = str(tmp_path / "ckptt")
    _kill_after("edges", images, root, tiers=("exact",))

    resumed = run_pipeline(images, checkpoint_dir=root)
    direct = run_pipeline(images)
    assert _verdict_set(resumed.verdicts) == _verdict_set(direct.verdicts)
    images.unpersist()

def test_config_change_invalidates_checkpoints(spark, images_500, tmp_path):
    root = str(tmp_path / "ckpt2")
    _kill_after("edges", images_500, root)

    store_same = StageStore(spark, root)
    assert store_same.has("edges")
    store_other = StageStore(spark, root, cfg=DedupConfig(jaccard_threshold=0.9))
    assert not store_other.has("edges")
    assert config_fingerprint(DedupConfig()) != config_fingerprint(
        DedupConfig(jaccard_threshold=0.9)
    )


@pytest.mark.slow
def test_lineage_and_manifest_contents(spark, images_500, tmp_path):
    root = str(tmp_path / "ckpt3")
    res = run_pipeline(images_500, checkpoint_dir=root)
    assert res is not None

    store = StageStore(spark, root)
    lineage = store.lineage()
    stages = {r["stage"] for r in lineage.select("stage").distinct().collect()}
    assert {"edges", "clusters", "verdicts", "metrics"} <= stages
    # lineage row counts reconcile with the committed data
    by_stage = {
        r["stage"]: r["total"]
        for r in lineage.groupBy("stage").sum("rows")
        .withColumnRenamed("sum(rows)", "total").collect()
    }
    assert by_stage["clusters"] == 500

    with open(os.path.join(root, "clusters", "manifest.json")) as f:
        m = json.load(f)
    assert m["rows"] == 500
    assert "image_id" in m["schema"]


@pytest.mark.slow
def test_resume_with_corrupt_input_quarantines(spark, images_500, tmp_path):
    """The resumable path must apply the SAME payload validation as
    run_pipeline: a corrupt row is quarantined (own committed stage), never
    clustered, and resume after a kill reproduces the clean result."""
    from pyspark.sql import functions as F

    corrupt = spark.createDataFrame(
        [("zzz-corrupt-bytes", bytearray(b"NOT AN IMAGE"), 8, 8, "png",
          "some caption text here", 0)],
        images_500.schema,
    )
    df = images_500.unionByName(corrupt).persist()
    root = str(tmp_path / "ckptq")

    _kill_after("validate", df, root)
    assert os.path.exists(os.path.join(root, "validate", "manifest.json"))

    resumed = run_pipeline(df, checkpoint_dir=root)
    ids = {r["image_id"] for r in resumed.verdicts.collect()}
    assert "zzz-corrupt-bytes" not in ids and len(ids) == 500
    q = {r["metric"]: r["value"] for r in
         resumed.metrics.filter("stage = 'input'").collect()}
    assert q["quarantined"] == 1.0
    direct = run_pipeline(df)
    assert _verdict_set(resumed.verdicts) == _verdict_set(direct.verdicts)


@pytest.mark.slow
def test_changed_input_invalidates_checkpoints(spark, images_500, tmp_path):
    """Stale stages from a DIFFERENT input corpus must not be reused: the
    manifest records an input identity token (the Iceberg snapshot-id
    analog) and has() rejects on mismatch."""
    from pyspark.sql import functions as F

    from deduplicator_spark.plans.checkpoint import input_identity
    from deduplicator_spark.synth import synthesize_images

    root = str(tmp_path / "ckpti")
    _kill_after("edges", images_500, root)

    other = synthesize_images(spark, 300).persist()
    assert input_identity(other) != input_identity(images_500)
    # same ids and phashes, edited captions: a new input all the same
    edited = images_500.withColumn(
        "caption", F.concat("caption", F.lit(" edited")))
    assert input_identity(edited) != input_identity(images_500)
    store_other = StageStore(spark, root, input_token=input_identity(other))
    assert not store_other.has("edges")
    store_same = StageStore(spark, root, input_token=input_identity(images_500))
    assert store_same.has("edges")
    # a full run on the other corpus recomputes and yields 300 verdicts
    res = run_pipeline(other, checkpoint_dir=root)
    assert res.verdicts.count() == 300
    other.unpersist()


@pytest.mark.slow
def test_cli_run_synth(tmp_path, spark):
    from deduplicator_spark.cli import main

    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    rc = main(["--cores", "8", "run", "--synth", "300", "--output", out,
               "--checkpoint-dir", ck])
    assert rc == 0
    verdicts = spark.read.parquet(f"{out}/verdicts")
    assert verdicts.count() == 300
    # resume path: re-run with --resume reuses all five committed stages,
    # so no manifest is rewritten
    manifests = [os.path.join(ck, s, "manifest.json") for s in
                 ("validate", "edges", "clusters", "verdicts", "metrics")]
    before = [os.stat(m).st_mtime_ns for m in manifests]
    rc = main(["--cores", "8", "run", "--synth", "300", "--output", out,
               "--checkpoint-dir", ck, "--resume"])
    assert rc == 0
    assert [os.stat(m).st_mtime_ns for m in manifests] == before
