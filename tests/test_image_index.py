"""Planted-truth tests for the batch image index -> probe lifecycle
(plans/image_index.py) — the reference's two-job workflow (IndexingLauncher
SURVEY §3.1 builds once, the DeDuplicator processor §3.2 probes against it)
applied to the image payload. The cross-engine proof of the same path lives
in the `image_index_probe` oracle row; these tests pin the semantics an
oracle can't: the sha256-over-bytes index path and verdict precedence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from deduplicator_spark.config import DEFAULT
from deduplicator_spark.plans.image_index import build_image_index, probe_images


def _flip(h: int, *bits: int) -> int:
    for b in bits:
        h ^= 1 << b
    return h


@pytest.fixture(scope="module")
def planted(spark):
    p0 = 0x0123456789ABCDEF
    p1 = 0x0F0F0F0F0F0F0F0F
    idx_rows = [
        ("idx0", bytearray(b"payload-zero"), p0),
        ("idx1", bytearray(b"payload-one"), p1),
    ]
    index_images = spark.createDataFrame(
        idx_rows, "image_id string, bytes binary, phash long")
    index = build_image_index(index_images)

    probe_rows = [
        # same bytes as idx0 -> exact duplicate regardless of phash
        ("p_exact", bytearray(b"payload-zero"), _flip(p1, 60)),
        # 2-bit flip of idx1, unique bytes -> near_duplicate (hamming 2)
        ("p_near", bytearray(b"payload-near"), _flip(p1, 3, 40)),
        # exact dup of idx0 AND hamming-1 of idx1: exact must win
        ("p_both", bytearray(b"payload-zero"), _flip(p1, 17)),
        # 5-bit flip (> phash_max_hamming) and unique bytes -> novel
        ("p_far", bytearray(b"payload-far"), _flip(p0, 1, 9, 22, 37, 55)),
    ]
    probes_images = spark.createDataFrame(
        probe_rows, "image_id string, bytes binary, phash long")
    probes = probes_images.select(
        "image_id", F.sha2("bytes", 256).alias("digest"), "phash")
    out = probe_images(probes, index, DEFAULT)
    return {r["image_id"]: r for r in out.collect()}


def test_probe_verdicts(planted):
    assert DEFAULT.phash_max_hamming == 3
    assert len(planted) == 4
    assert planted["p_exact"]["verdict"] == "duplicate"
    assert planted["p_exact"]["refers_to_id"] == "idx0"
    assert planted["p_exact"]["hamming"] is None

    assert planted["p_near"]["verdict"] == "near_duplicate"
    assert planted["p_near"]["refers_to_id"] == "idx1"
    assert planted["p_near"]["hamming"] == 2

    assert planted["p_far"]["verdict"] == "novel"
    assert planted["p_far"]["refers_to_id"] is None


def test_exact_beats_near(planted):
    # DIGEST_URL_PREFERRED's "exact beats weaker" preference
    # (LuceneIndexSearcher.java:131-170): a probe matching both tiers gets
    # the exact verdict and never reaches the banded join.
    assert planted["p_both"]["verdict"] == "duplicate"
    assert planted["p_both"]["refers_to_id"] == "idx0"


def test_probe_observation_counters(spark):
    # A-series counter analog (DeDuplicator.java:54-94): verdict totals ride
    # the result action via observe(), no second pass over the probes.
    from pyspark.sql import Observation

    imgs = spark.createDataFrame(
        [("i", bytearray(b"seed"), 0)], "image_id string, bytes binary, phash long")
    index = build_image_index(imgs)
    probes = spark.createDataFrame(
        [("a", "x", 1 << 5), ("b", "y", 0x7FFF00000000FFFF)],
        "image_id string, digest string, phash long")
    probes = probes.unionByName(
        index.select("image_id", "digest", "phash").limit(1)
        .withColumn("image_id", F.lit("c")))
    obs = Observation("probe_counters")
    out = probe_images(probes, index, DEFAULT, observation=obs)
    n = out.count()
    got = obs.get
    assert got["handled"] == n == 3
    assert got["duplicate"] == 1      # c: digest hit
    assert got["near_duplicate"] == 1  # a: hamming 1 from phash 0
    assert got["novel"] == 1           # b: far


def test_append_mode_increments(spark):
    # K1 APPEND semantics on the image payload: batch 1's novels join the
    # index, so batch 2 rows deriving from them resolve against batch 1.
    from deduplicator_spark.plans.image_index import probe_and_extend

    index = build_image_index(spark.createDataFrame(
        [("idx0", bytearray(b"seed"), 1 << 20)],
        "image_id string, bytes binary, phash long"))

    b1 = spark.createDataFrame(
        [("n1", bytearray(b"batch1-new"), 0x00FF00FF00FF00FF)],
        "image_id string, bytes binary, phash long")
    b1 = b1.select("image_id", F.sha2("bytes", 256).alias("digest"), "phash")
    v1, index2 = probe_and_extend(b1, index)
    v1.persist().count()
    assert {r["verdict"] for r in v1.collect()} == {"novel"}
    assert index2.count() == 2

    b2 = spark.createDataFrame(
        [
            ("d2", bytearray(b"batch1-new"), 5),          # exact dup of n1
            ("h2", bytearray(b"b2-h"), _flip(0x00FF00FF00FF00FF, 8)),  # near n1
        ],
        "image_id string, bytes binary, phash long")
    b2 = b2.select("image_id", F.sha2("bytes", 256).alias("digest"), "phash")
    v2 = probe_images(b2, index2, DEFAULT)
    rows = {r["image_id"]: r for r in v2.collect()}
    assert rows["d2"]["verdict"] == "duplicate" and rows["d2"]["refers_to_id"] == "n1"
    assert rows["h2"]["verdict"] == "near_duplicate" and rows["h2"]["refers_to_id"] == "n1"
    v1.unpersist()


def test_reprobed_index_row_is_duplicate_of_itself(spark):
    imgs = spark.createDataFrame(
        [("a", bytearray(b"xx"), 7), ("b", bytearray(b"yy"), 9)],
        "image_id string, bytes binary, phash long")
    index = build_image_index(imgs)
    out = probe_images(index, index, DEFAULT)
    rows = {r["image_id"]: r for r in out.collect()}
    assert rows["a"]["verdict"] == "duplicate" and rows["a"]["refers_to_id"] == "a"
    assert rows["b"]["verdict"] == "duplicate" and rows["b"]["refers_to_id"] == "b"


@pytest.fixture(scope="module")
def collapsed(spark):
    # idx3, idx1, idx2 share phash P with distinct bytes; idx0 carries Q,
    # which differs from P in two bits (5 and 45)
    p = 0x00FF00FF00FF00FF
    rows = [(f"idx{i}", bytearray(f"bytes-{i}".encode()), p) for i in (3, 1, 2)]
    rows.append(("idx0", bytearray(b"bytes-0"), _flip(p, 5, 45)))
    index = build_image_index(spark.createDataFrame(
        rows, "image_id string, bytes binary, phash long"))
    probes = spark.createDataFrame(
        [
            ("p_rep", "d-rep", _flip(p, 20, 60)),  # Hamming 2 from P only
            ("p_tie", "d-tie", _flip(p, 5)),       # Hamming 1 from P and Q
        ],
        "image_id string, digest string, phash long")
    return {r["image_id"]: r for r in probe_images(probes, index, DEFAULT).collect()}


def test_equal_phash_index_rows_resolve_to_min_id(collapsed):
    # the near leg keeps one representative per distinct phash; it must be
    # the row the (hamming, id) top-1 picks among idx3, idx1, idx2
    assert collapsed["p_rep"]["verdict"] == "near_duplicate"
    assert collapsed["p_rep"]["refers_to_id"] == "idx1"
    assert collapsed["p_rep"]["hamming"] == 2


def test_equal_hamming_tie_resolves_to_lower_id(collapsed):
    assert collapsed["p_tie"]["verdict"] == "near_duplicate"
    assert collapsed["p_tie"]["refers_to_id"] == "idx0"
    assert collapsed["p_tie"]["hamming"] == 1
