"""ANN scale-path hardening: the hyperplane-LSH near-dup self-join must keep
recall when the plane count is raised to web-scale settings (16 planes =
65536 buckets, 24 planes = 16M) with radius-2 multiprobe, and the bucket cap
must bound candidate fan-out without exempting any vector from dedup. The
IVF top-k and its persisted lifecycle must agree bit for bit."""

from __future__ import annotations

import numpy as np
import pytest


def _clustered_embeddings(spark, n_bases=20, copies=4, dim=32, seed=11):
    """n_bases query vectors (ids 0..n_bases-1), each with `copies` planted
    near-duplicates (cos >= 0.999), plus random background vectors."""
    rng = np.random.Generator(np.random.PCG64(seed))
    rows = []
    vid = 0
    bases = rng.normal(size=(n_bases, dim))
    for b in range(n_bases):
        rows.append((vid, [float(x) for x in bases[b]])); vid += 1
    copy_of = {}
    for b in range(n_bases):
        for _ in range(copies):
            noisy = bases[b] + rng.normal(scale=0.005, size=dim)
            copy_of[vid] = b
            rows.append((vid, [float(x) for x in noisy])); vid += 1
    for _ in range(100):
        rows.append((vid, [float(x) for x in rng.normal(size=dim)])); vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return df, copy_of


def test_ann_ivf_recall(spark):
    """IVF-flat: a query's planted near-identical copies share its centroid
    assignment, so recall@copies stays high at nlist=16, nprobe=4."""
    from deduplicator_spark.operators.ann import ann_topk_ivf

    emb, copy_of = _clustered_embeddings(spark)
    out = ann_topk_ivf(emb, dim=32, k=4, n_queries=20,
                       nlist=16, nprobe=4).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    truth = {b: {v for v, bb in copy_of.items() if bb == b} for b in range(20)}
    hits = sum(len(set(by_q.get(q, [])) & t) for q, t in truth.items())
    total = sum(len(t) for t in truth.values())
    assert hits / total >= 0.95, f"recall {hits}/{total}"


@pytest.mark.parametrize("n_planes", [16, 24])
def test_cosine_neardup_pairs_recall(spark, n_planes):
    """The embedding near-dup self-join finds every planted near-identical
    pair (cos >= 0.99) at 16 AND 24 planes + radius-2 multiprobe, and emits
    no below-threshold pair."""
    from deduplicator_spark.operators.ann import cosine_neardup_pairs

    emb, copy_of = _clustered_embeddings(spark)
    out = cosine_neardup_pairs(emb, dim=32, threshold=0.99,
                               n_planes=n_planes, probe_radius=2).collect()
    got = {(r["id_a"], r["id_b"]) for r in out}
    # planted truth: base<->copy and copy<->copy within each base group
    groups = {}
    for v, b in copy_of.items():
        groups.setdefault(b, [b]).append(v)
    truth = set()
    for members in groups.values():
        ms = sorted(members)
        truth |= {(a, b) for i, a in enumerate(ms) for b in ms[i + 1:]}
    recall = len(got & truth) / len(truth)
    assert recall >= 0.95, f"recall {recall:.3f}"
    assert all(r["cos"] >= 0.99 for r in out)


def test_cosine_neardup_pairs_bucket_cap(spark):
    """bucket_cap bounds the build side of one mega-bucket (smallest ids
    win), while the uncapped probe side still pairs every member with the
    survivors: 60 identical vectors at cap 3 give exactly the 174 pairs
    with an endpoint in {0, 1, 2} (uncapped: 1,770), covering all 60 ids."""
    from deduplicator_spark.operators.ann import cosine_neardup_pairs

    v = [1.0] + [0.0] * 15
    emb = spark.createDataFrame([(i, v) for i in range(60)],
                                "vec_id long, embedding array<double>")
    out = cosine_neardup_pairs(emb, dim=16, threshold=0.99, n_planes=8,
                               probe_radius=0, bucket_cap=3).collect()
    got = sorted((r["id_a"], r["id_b"]) for r in out)
    want = sorted((a, b) for a in range(60) for b in range(a + 1, 60)
                  if a <= 2)
    assert len(want) == 174
    assert got == want
    assert {i for p in got for i in p} == set(range(60))


def test_ann_index_lifecycle_roundtrip(spark, tmp_path):
    """The persisted IVF lifecycle (build -> parquet StageStore -> reload ->
    probe) must return BIT-IDENTICAL rows to the in-memory ann_topk_ivf on
    the same corpus — including on a sparse, non-contiguous id space — and
    the probe must plan dynamic partition pruning on the cid-partitioned
    postings (train once, probe only the selected lists)."""
    import numpy as np
    from pyspark.sql import functions as F

    from deduplicator_spark.operators.ann import ann_topk_ivf
    from deduplicator_spark.plans.ann_index import (
        build_ann_index,
        probe_ann_index,
    )

    rng = np.random.Generator(np.random.PCG64(3))
    rows = [(int(i) * 13 + 5, [float(x) for x in rng.normal(size=16)])
            for i in range(200)]  # sparse ids: 5, 18, 31, ...
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    root = str(tmp_path / "ann_idx")
    store = build_ann_index(emb, root)
    assert store.has("centroids") and store.has("postings")

    queries = emb.orderBy(F.col("vec_id").asc()).limit(20)
    probed = probe_ann_index(spark, root, queries)
    expect = ann_topk_ivf(emb, dim=16)
    assert sorted(map(tuple, probed.collect())) == \
        sorted(map(tuple, expect.collect()))

    plan = probed._jdf.queryExecution().optimizedPlan().toString()
    assert "dynamicpruning" in plan.lower()

    # lineage committed for both stages (per-partition rows)
    stages = {r["stage"] for r in store.lineage().collect()}
    assert {"centroids", "postings"} <= stages


def test_ann_index_append_increments(spark, tmp_path):
    """APPEND without retrain: build on the first half (centroid rows
    inside), append the rest in two increments against the frozen
    centroids — probes must return BIT-IDENTICAL rows to a one-shot build
    over the union, the manifest must count increments, and increment
    lineage rows must land."""
    import json

    import numpy as np
    from pyspark.sql import functions as F

    from deduplicator_spark.operators.ann import ann_topk_ivf
    from deduplicator_spark.plans.ann_index import (
        append_ann_index,
        build_ann_index,
        probe_ann_index,
    )

    rng = np.random.Generator(np.random.PCG64(7))
    rows = [(int(i) * 13 + 5, [float(x) for x in rng.normal(size=16)])
            for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cut1, cut2 = 5 + 13 * 100, 5 + 13 * 150

    root = str(tmp_path / "ann_inc")
    build_ann_index(emb.filter(F.col("vec_id") < cut1), root)
    append_ann_index(
        emb.filter((F.col("vec_id") >= cut1) & (F.col("vec_id") < cut2)),
        root)
    store = append_ann_index(emb.filter(F.col("vec_id") >= cut2), root)

    queries = emb.orderBy(F.col("vec_id").asc()).limit(20)
    probed = probe_ann_index(spark, root, queries)
    expect = ann_topk_ivf(emb, dim=16)
    assert sorted(map(tuple, probed.collect())) == \
        sorted(map(tuple, expect.collect()))

    with open(f"{root}/postings/manifest.json") as f:
        m = json.load(f)
    assert m["increments"] == 2
    assert m["rows"] == 200
    runs = {r["run_id"] for r in store.lineage().collect()}
    assert {"run", "run+inc1", "run+inc2"} <= runs
