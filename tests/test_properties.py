"""Property-based tests (hypothesis) for the algebraic invariants the
example-based suites can't sweep: canonicalizer idempotence, connected
components vs a union-find oracle on arbitrary graphs, MinHash estimate
accuracy, and last-wins upsert uniqueness."""

from __future__ import annotations

import pytest

import numpy as np
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from deduplicator_spark.functions.urlcanon import canonicalize_url

# --- URL canonicalization ----------------------------------------------------

# main label starts non-w: the canonicalizer strips ONE leading www label
# (reference semantics), so a host literally named www.www.is is out of scope
_hosts = st.one_of(
    st.from_regex(r"(www[0-9]?\.)?[a-v][a-z]{0,7}\.(is|com|org)", fullmatch=True),
    # decimal / 0x-hex IPv4 hosts (incl. values past 2^32, left untouched)
    st.integers(0, 2**33).map(str),
    st.integers(0, 2**32 - 1).map(lambda n: f"0x{n:x}"),
)
_paths = st.from_regex(r"(/[A-Za-z0-9]{0,6}){0,3}/?", fullmatch=True)
_querys = st.from_regex(
    r"(\?([a-z]{1,4}=[0-9]{1,3}|sid=[0-9]{1,4}|PHPSESSID=[A-F0-9]{1,6})"
    r"(&([a-z]{1,4}=[0-9]{1,3}|jsessionid=[0-9]{1,4})){0,2})?",
    fullmatch=True)
_frags = st.from_regex(r"(#[A-Za-z0-9]{0,5})?", fullmatch=True)
_urls = st.builds(lambda h, p, q, f: f"http://{h}{p}{q}{f}",
                  _hosts, _paths, _querys, _frags)


@pytest.mark.slow
@settings(max_examples=6, deadline=None)
@given(st.lists(_urls, min_size=1, max_size=40))
def test_canonicalize_idempotent_and_clean(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    out = df.select(
        "url",
        canonicalize_url(F.col("url")).alias("c1"),
        canonicalize_url(canonicalize_url(F.col("url"))).alias("c2"),
    ).collect()
    for r in out:
        assert r["c1"] == r["c2"], f"not idempotent: {r['url']!r} -> {r['c1']!r} -> {r['c2']!r}"
        assert r["c1"] == r["c1"].lower()
        assert "#" not in r["c1"]
        for p in ("sid=", "phpsessid=", "jsessionid="):
            assert f"?{p}" not in r["c1"] and f"&{p}" not in r["c1"], \
                (r["url"], r["c1"])
        assert not r["c1"].endswith("/")


# --- connected components vs union-find oracle -------------------------------

def _uf_clusters(n, edges):
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {f"n{i:03d}": f"n{find(i):03d}" for i in range(n)}


@pytest.mark.slow
@settings(max_examples=6, deadline=None)
@given(st.data())
def test_connected_components_matches_union_find(spark, data):
    from deduplicator_spark.operators.candidates import canonical_pairs
    from deduplicator_spark.operators.components import connected_components

    n = data.draw(st.integers(min_value=2, max_value=40))
    edges = data.draw(st.lists(
        st.tuples(st.integers(0, n - 1), st.integers(0, n - 1)),
        max_size=60))
    edges = [(a, b) for a, b in edges if a != b]
    nodes = spark.createDataFrame([(f"n{i:03d}",) for i in range(n)],
                                  "image_id string")
    if edges:
        pairs = spark.createDataFrame(
            [(f"n{a:03d}", f"n{b:03d}") for a, b in edges],
            "id_a string, id_b string")
        pairs = canonical_pairs(pairs)
    else:
        pairs = spark.createDataFrame([], "id_a string, id_b string")
    got = {r["image_id"]: r["cluster_id"]
           for r in connected_components(pairs, nodes=nodes).collect()}
    assert got == _uf_clusters(n, edges)


def test_chain_graph_converges_in_log_rounds(spark):
    """A 1,000-node path with the min id at the far end is the worst case
    for pure min-label propagation (labels travel one hop per round ->
    O(diameter) rounds). The pointer-doubling shortcut bounds it at
    O(log n): cc_max_iters=14 would raise without it."""
    from deduplicator_spark.config import DedupConfig
    from deduplicator_spark.operators.components import connected_components

    n = 1000
    ids = [f"c{n - i:04d}" for i in range(n)]  # ids decrease along the path
    pairs = spark.createDataFrame(
        list(zip(ids, ids[1:])), "id_a string, id_b string")
    cfg = DedupConfig(cc_max_iters=14)
    out = connected_components(pairs, cfg=cfg).collect()
    assert len(out) == n
    assert {r["cluster_id"] for r in out} == {"c0001"}


# --- MinHash signature accuracy (pure numpy — no Spark) ----------------------

@settings(max_examples=40, deadline=None)
@given(st.data())
def test_minhash_estimates_jaccard(data):
    from deduplicator_spark.config import DedupConfig
    from deduplicator_spark.operators.minhash import _batch_signatures, _perm_coeffs

    cfg = DedupConfig()
    vocab = [f"w{i}" for i in range(60)]
    a = data.draw(st.sets(st.sampled_from(vocab), min_size=8, max_size=40))
    b = data.draw(st.sets(st.sampled_from(vocab), min_size=8, max_size=40))
    cap_a, cap_b = " ".join(sorted(a)), " ".join(sorted(b))
    pa, pb = _perm_coeffs(cfg)

    def shingle_set(toks):
        t = toks.split()
        k = cfg.shingle_k
        return ({" ".join(t[i:i + k]) for i in range(len(t) - k + 1)}
                if len(t) >= k else {" ".join(t)})

    sa, sb = shingle_set(cap_a), shingle_set(cap_b)
    true_j = len(sa & sb) / len(sa | sb)
    sig = _batch_signatures([cap_a, cap_b], cfg, pa, pb)
    est = float((sig[0] == sig[1]).mean())
    # 128 permutations: std <= 0.5/sqrt(128) ~ 0.044; 5 sigma bound
    assert abs(est - true_j) <= 0.25, (true_j, est)


# --- last-wins upsert --------------------------------------------------------

@settings(max_examples=6, deadline=None)
@given(st.lists(
    st.tuples(st.integers(0, 5), st.integers(0, 5), st.integers(0, 9),
              st.integers(0, 99)),
    min_size=1, max_size=50))
def test_last_wins_upsert_unique_and_latest(spark, rows):
    import datetime as dt

    from deduplicator_spark.operators.strategies import last_wins_upsert

    data = [(f"u{u}", f"d{d}", dt.datetime(2020, 1, 1, h),
             f"r{r:03d}") for u, d, h, r in rows]
    df = spark.createDataFrame(
        data, "url string, digest string, ts timestamp, record_id string")
    out = last_wins_upsert(df.limit(0), df).collect()
    keys = [(r["url"], r["digest"]) for r in out]
    assert len(keys) == len(set(keys))  # one row per key
    want = {}
    for u, d, ts, rid in data:
        k = (u, d)
        if k not in want or (ts, rid) > want[k]:
            want[k] = (ts, rid)
    got = {(r["url"], r["digest"]): (r["ts"], r["record_id"]) for r in out}
    assert got == want
