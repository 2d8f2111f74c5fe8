"""Connected components: the fixed-point stop, checkpoint release, and
degenerate graphs. Every assignment is checked against the union-find oracle
of the property suite. Node i is named f"n{i:03d}"; the graphs keep each
component's numeric minimum also its string minimum."""

from __future__ import annotations

import pytest

from deduplicator_spark.config import DedupConfig
from deduplicator_spark.operators.components import (
    connected_components,
    repair_clusters,
)
from test_properties import _uf_clusters


def _name(i):
    return f"n{i:03d}"


def _pairs(spark, edges):
    return spark.createDataFrame(
        [(_name(a), _name(b)) for a, b in edges], "id_a string, id_b string")


def _nodes(spark, ids):
    return spark.createDataFrame([(_name(i),) for i in ids], "image_id string")


def _assignment(df):
    return {r["image_id"]: r["cluster_id"] for r in df.collect()}


def _star(hub, leaves):
    return [(hub, leaf) for leaf in leaves]


def _check(spark, n, edges, cfg=DedupConfig()):
    got = _assignment(connected_components(
        _pairs(spark, edges), nodes=_nodes(spark, range(n)), cfg=cfg))
    assert got == _uf_clusters(n, edges)


@pytest.mark.parametrize("shape", ["star", "chain"])
def test_only_final_labels_stay_persisted(spark, shape):
    n = 200
    if shape == "star":
        edges = _star(0, range(1, n))
    else:  # ids decrease along the path: the deep case, several rounds
        edges = [(n - 1 - i, n - 2 - i) for i in range(n - 1)]
    # compare id sets: the context cleaner may drop older garbage RDDs
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persisted().keys())
    out = connected_components(_pairs(spark, edges))
    assert len(set(persisted().keys()) - before) == 1
    first = sorted(out.collect())
    assert sorted(out.collect()) == first
    assert {r["image_id"]: r["cluster_id"] for r in first} == \
        _uf_clusters(n, edges)


def test_round0_stop(spark):
    """cc_max_iters=0 allows round 0 only: stars whose hub is the minimum
    settle there, two stars bridged leaf-to-leaf do not."""
    round0 = DedupConfig(cc_max_iters=0)
    _check(spark, 2001, _star(0, range(1, 2001)), round0)
    two_stars = _star(0, range(1, 1000)) + _star(1000, range(1001, 2000))
    _check(spark, 2000, two_stars, round0)
    bridged = two_stars + [(5, 1005)]
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(_pairs(spark, bridged), cfg=round0)
    _check(spark, 2000, bridged)


def test_empty_pairs_are_all_singletons(spark):
    _check(spark, 5, [])


def test_self_loops_only(spark):
    _check(spark, 5, [(1, 1), (3, 3)])


def test_pair_repeated_in_both_orientations(spark):
    _check(spark, 4, [(1, 2), (2, 1), (1, 2), (2, 1)])


def test_repair_retracting_star_hub_leaves_singletons(spark):
    n = 6
    edges = _pairs(spark, _star(0, range(1, n)))
    clusters = connected_components(edges, nodes=_nodes(spark, range(n)))
    repaired = _assignment(
        repair_clusters(clusters, edges, _nodes(spark, [0])))
    survivors = {_name(i) for i in range(1, n)}
    assert repaired == {k: v for k, v in _uf_clusters(n, []).items()
                        if k in survivors}
