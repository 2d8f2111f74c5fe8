"""Prefix-filtering exact join (operators/prefixjoin.py). Cross-engine proof
is the `prefix_jaccard_pairs` oracle row (same exact-Jaccard twin as the
inverted-index and LSH tiers); these pin the exactness guarantee against the
full inverted-index join on planted structure, including a pair whose ONLY
shared prefix element is the rare junction shingle, and the prefix-length
boundary math."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from deduplicator_spark.operators.prefixjoin import prefix_filtered_pairs


def _items(spark, rows):
    return spark.createDataFrame(rows, "image_id string, caption string")


def test_prefix_equals_full_inverted_join(spark):
    # 40 docs in 10 families of 4 near-identical variants + shared boilerplate
    # tail: compare against the brute-force exact join over the same sets.
    base = [f"tok{j:02d}" for j in range(24)]
    rows = []
    for fam in range(10):
        fam_toks = [f"f{fam}x{j}" for j in range(20)]
        for v in range(4):
            # append v extra tokens: within-family J ranges 0.88..0.96,
            # cross-family pairs share only 2 boilerplate shingles
            toks = fam_toks + base[:4] + [f"f{fam}e{j}" for j in range(v)]
            rows.append((f"{fam:02d}-{v}", " ".join(toks)))
    items = _items(spark, rows)

    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in prefix_filtered_pairs(items, 0.8).collect()}

    from deduplicator_spark.operators.minhash import (
        jaccard_verify,
        prepared_features,
    )
    prep = prepared_features(items).persist()
    sh = prep.select("image_id", "sh_hashes")
    all_pairs = (
        sh.alias("a").crossJoin(sh.alias("b"))
        .filter(F.col("a.image_id") < F.col("b.image_id"))
        .select(F.col("a.image_id").alias("id_a"),
                F.col("b.image_id").alias("id_b"))
    )
    want = {(r["id_a"], r["id_b"]): r["jaccard"]
            for r in jaccard_verify(all_pairs, sh, 0.8)
            .select("id_a", "id_b", "jaccard").collect()}
    assert got == want
    assert len(got) > 0  # the families actually produce J>=0.8 pairs


def test_threshold_boundary(spark):
    # Two 10-shingle docs sharing exactly 9 shingles: J = 9/11 = 0.818 >= 0.8
    # found; sharing 8: J = 8/12 = 0.667 < 0.8 not found.
    a = " ".join(f"s{j}" for j in range(12))          # 10 shingles (12 toks)
    b = " ".join(f"s{j}" for j in range(1, 13))       # shares 9 (s1..s9 starts)
    c = " ".join(f"s{j}" for j in range(2, 14))       # vs a: shares 8
    items = _items(spark, [("a", a), ("b", b), ("c", c)])
    got = {(r["id_a"], r["id_b"]) for r in
           prefix_filtered_pairs(items, 0.8).collect()}
    assert ("a", "b") in got
    assert ("a", "c") not in got
