"""End-to-end verdict tests against the planted oracle (SURVEY.md §5 item 2).

The north rule's acceptance bar: dup-pair recall >= 0.99 vs planted truth at
the same shingle/signature config, plus the below-threshold anti-pairs must
NOT merge, plus per-pair PSNR verification holds.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from deduplicator_spark.plans.pipeline import run_pipeline
from deduplicator_spark.synth import expected_cluster_members, truth_pairs


def _cluster_map(result):
    return {
        r["image_id"]: r["cluster_id"] for r in result.clusters.collect()
    }


def test_end_to_end_recall_and_antipairs(spark, images_500):
    res = run_pipeline(images_500)
    cmap = _cluster_map(res)
    truth = truth_pairs(spark, 500).collect()

    pos = [(t["id_a"], t["id_b"]) for t in truth if t["positive"]]
    neg = [(t["id_a"], t["id_b"]) for t in truth if not t["positive"]]
    hit = sum(1 for a, b in pos if cmap[a] == cmap[b])
    recall = hit / len(pos)
    assert recall >= 0.99, f"dup-pair recall {recall:.4f} < 0.99 ({hit}/{len(pos)})"

    merged_neg = sum(1 for a, b in neg if cmap[a] == cmap[b])
    assert merged_neg == 0, f"{merged_neg}/{len(neg)} below-threshold anti-pairs merged"


def test_cluster_assignments_match_union_find_oracle(spark, images_500):
    res = run_pipeline(images_500)
    cmap = _cluster_map(res)
    oracle = expected_cluster_members(500)
    for rep, members in oracle.items():
        got = {cmap[m] for m in members}
        assert len(got) == 1, f"oracle cluster {rep} split into {got}"
        assert got == {rep}, f"representative mismatch: {got} != {rep}"


def test_verdict_accounting(spark, images_500):
    """new = handled - duplicates (ref DeDuplicator.java:223-225) and every
    duplicate carries refers-to lineage (K3)."""
    res = run_pipeline(images_500)
    v = res.verdicts.persist()
    total = v.count()
    dup = v.filter("verdict = 'duplicate'").count()
    novel = v.filter("verdict = 'novel'").count()
    assert total == 500 and novel == total - dup
    assert v.filter("verdict = 'duplicate' AND refers_to_id IS NULL").count() == 0
    assert v.filter("verdict = 'duplicate' AND dup_class IS NULL").count() == 0
    assert v.filter("verdict = 'novel' AND refers_to_id IS NOT NULL").count() == 0
    # representative is the minimum member (deterministic analog of O10)
    bad = (
        res.clusters.groupBy("cluster_id").agg(F.min("image_id").alias("m"))
        .filter(F.col("m") != F.col("cluster_id")).count()
    )
    assert bad == 0


def test_novel_rows_stay_novel(spark, images_500):
    """Planted partner-less rows (pos 93-99) must be singletons — the
    reference's definite-miss path (LuceneIndexSearcher.java:221-224)."""
    res = run_pipeline(images_500)
    cmap = _cluster_map(res)
    novel_ids = [f"img-{i:012d}" for i in range(500) if i % 100 >= 93]
    clusters = [cmap[i] for i in novel_ids]
    # each novel row is its own cluster
    assert all(c == i for c, i in zip(clusters, novel_ids))


def test_pixel_verification_bounds(spark, images_500):
    """Every verified near_image pair has PSNR >= 40 dB (BASELINE invariant)."""
    res = run_pipeline(images_500)
    ni = res.pairs.filter("tier = 'near_image'")
    assert ni.filter("score < 40.0").count() == 0


@pytest.mark.slow
def test_payload_validation_quarantines_corrupt_rows(spark, images_500):
    """F9/P9 analog: undecodable bytes and phash-vs-pixels mismatches are
    quarantined (not clustered, not fatal); clean rows are unaffected."""
    from pyspark.sql import functions as F

    corrupt = spark.createDataFrame(
        [("zzz-corrupt-bytes", bytearray(b"NOT AN IMAGE"), 8, 8, "png",
          "some caption text here", 0),
         ],
        images_500.schema,
    )
    # a clean row but with a deliberately wrong stored phash
    lying = (
        images_500.limit(1)
        .withColumn("image_id", F.lit("zzz-lying-phash"))
        .withColumn("phash", F.lit(0x5555555555555555))
    )
    df = images_500.unionByName(corrupt).unionByName(lying).persist()
    res = run_pipeline(df)

    q = {r["metric"]: r["value"] for r in
         res.metrics.filter("stage = 'input'").collect()}
    assert q["quarantined"] == 2.0
    verdict_ids = {r["image_id"] for r in res.verdicts.collect()}
    assert "zzz-corrupt-bytes" not in verdict_ids
    assert "zzz-lying-phash" not in verdict_ids
    assert len(verdict_ids) == 500


_FIRST = "img-000000000000"


def _copies(base, n):
    one = base.filter(F.col("image_id") == _FIRST)
    return (one.crossJoin(base.sparkSession.range(n))
            .withColumn("image_id", F.format_string("copy-%02d", "id"))
            .drop("id"))


# case -> (derive from the 50-row corpus, input rows, exact duplicates).
# Rows 0-49 are all planted bases, so the corpus itself has no duplicate.
DEGENERATE = {
    "empty": (lambda b: b.limit(0), 0, 0),
    "one_row": (lambda b: b.filter(F.col("image_id") == _FIRST), 1, 0),
    "forty_copies": (lambda b: _copies(b, 40), 40, 39),
    "null_captions": (lambda b: b.withColumn("caption", F.lit(None).cast("string")), 50, 0),
    "empty_captions": (lambda b: b.withColumn("caption", F.lit("")), 50, 0),
}


@pytest.fixture(scope="module")
def images_50(spark):
    from deduplicator_spark.synth import synthesize_images

    df = synthesize_images(spark, 50).persist()
    yield df
    df.unpersist()


@pytest.mark.parametrize("case", list(DEGENERATE))
def test_degenerate_inputs_get_one_verdict_per_row(spark, images_50, case):
    """Empty input, one row, an all-identical mega-bucket, and captions with
    no tokens all finish with one verdict per input row. A caption with no
    tokens shares nothing with another one, so it never forms a pair."""
    derive, n_rows, n_dup = DEGENERATE[case]
    res = run_pipeline(derive(images_50))
    v = [r.asDict() for r in res.verdicts.collect()]
    assert len(v) == n_rows
    dups = [r for r in v if r["verdict"] == "duplicate"]
    assert len(dups) == n_dup
    assert all(r["dup_class"] == "exact" for r in dups)
    assert sum(r["verdict"] == "novel" for r in v) == n_rows - n_dup
    if n_dup == 0:
        assert res.pairs.count() == 0
