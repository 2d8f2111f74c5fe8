"""Round-2 operator coverage: P1 canonicalization, the composed index-build
ETL (§3.1), the strategy legality matrix (SURVEY §5 item 1), the A8 bloom
short-circuit counter, the U1 source registry, and ANSI-tolerant log parsing.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from deduplicator_spark.functions.urlcanon import canonicalize_url


# --- P1: URL canonicalization (AggressiveUrlCanonicalizer analog) -----------

CANON_VECTORS = [
    ("HTTP://WWW2.Example.COM:80/Path/;JSESSIONID=AbC?a=1&SID=9&b=2#f",
     "http://example.com/path/?a=1&b=2"),
    ("http://user:pw@www.shop5.is/p3/", "http://shop5.is/p3"),
    ("https://Www.Site.org:443/", "https://site.org"),
    ("http://a.com/x?sid=1&sid=2&b=3", "http://a.com/x?b=3"),
    ("http://a.com/x?a=1&cfid=9&cftoken=8", "http://a.com/x?a=1"),
    ("http://a.com/deep/path///", "http://a.com/deep/path"),
    ("http://a.com/x?", "http://a.com/x"),
    ("http://a.com/clean?a=1", "http://a.com/clean?a=1"),  # untouched
    ("http://a.org:80?", "http://a.org"),
    ("https://a.org:443?#f", "https://a.org"),
    ("http://a.org:80?b=1", "http://a.org?b=1"),
]


def test_canonicalize_url_vectors(spark):
    df = spark.createDataFrame([(u,) for u, _ in CANON_VECTORS], "url string")
    got = [r["c"] for r in
           df.select(canonicalize_url(F.col("url")).alias("c")).collect()]
    assert got == [want for _, want in CANON_VECTORS]


def test_canonicalize_url_expression_stays_linear(spark):
    """Each stage binds its input once, so composing the canonicalizer adds
    one copy of the chain instead of multiplying it."""
    one = len(str(canonicalize_url(F.col("url"))))
    nested = len(str(canonicalize_url(canonicalize_url(F.col("url")))))
    assert one < 10_000
    assert nested <= 3 * one


def test_canonicalizer_is_injectable(spark):
    """U5: the capture derivation takes any canonicalizer function."""
    from deduplicator_spark.entry_queries import captures_from_events

    import datetime as dt

    events = spark.createDataFrame(
        [(1, 7, "t", 0.5, dt.datetime(2020, 1, 1), "{}")],
        "event_id long, user_id long, event_type string,"
        "value double, ts timestamp, props string")
    out = captures_from_events(events, canonicalizer=lambda c: F.upper(c)).first()
    assert out["url_canon"] == out["url"].upper()


# --- composed index build (IndexBuilder.java:144-238) ------------------------

def _caps(spark, rows):
    return spark.createDataFrame(
        rows,
        "url string, digest string, ts timestamp, record_id string, "
        "mime string, status int, revisit boolean, "
        "original_url string, original_ts timestamp",
    )


TS1, TS2 = "2020-01-01 10:00:00", "2020-01-01 11:00:00"


def test_index_build_gates_projection_and_upsert(spark):
    import datetime as dt

    from deduplicator_spark.plans.index_build import build_index

    t1 = dt.datetime.fromisoformat(TS1)
    t2 = dt.datetime.fromisoformat(TS2)
    rows = [
        # plain capture
        ("http://www.a.is/x", "sha1:D1", t1, "r1", "image/png", 200, False, None, None),
        # re-occurrence of the same (projected) url+digest, later ts -> wins (A5)
        ("http://www.a.is/x", "sha1:D1", t2, "r2", "image/png", 200, False, None, None),
        # F1: non-200 skipped
        ("http://a.is/404", "sha1:D2", t1, "r3", "image/png", 404, False, None, None),
        # F3: text/* blacklisted
        ("http://a.is/page", "sha1:D3", t1, "r4", "text/html", 200, False, None, None),
        # P4: resolved revisit -> indexed under ORIGINAL url + ts
        ("http://a.is/copy", "sha1:D4", t2, "r5", "image/png", 200, True,
         "http://a.is/orig", t1),
        # F7: unresolved revisit dropped + counted
        ("http://a.is/lost", "sha1:D5", t2, "r6", "image/png", 200, True, None, None),
        # F9: '"' in URL -> quarantined, not fatal
        ('http://a.is/bad"url', "sha1:D6", t1, "r7", "image/png", 200, False, None, None),
    ]
    res = build_index(_caps(spark, rows))
    idx = {r["digest"]: r for r in res.index.collect()}

    assert set(idx) == {"sha1:D1", "sha1:D4"}
    assert idx["sha1:D1"]["record_id"] == "r2"          # last-wins by ts
    assert idx["sha1:D4"]["url"] == "http://a.is/orig"  # P4 projection
    assert idx["sha1:D4"]["ts"] == t1                   # original timestamp
    assert idx["sha1:D1"]["url_canon"] == "http://a.is/x"  # P1 (www stripped)
    assert idx["sha1:D1"]["digest_stripped"] == "D1"       # P2

    c = res.counters.first()
    assert c["handled"] == 7
    assert c["skipped_status"] == 1 and c["skipped_mime"] == 1
    assert c["unresolved"] == 1 and c["quarantined_url"] == 1
    assert c["indexed"] == 3 and c["index_rows"] == 2
    # A4 reconciliation invariant
    assert c["handled"] == (c["indexed"] + c["skipped_status"] + c["skipped_mime"]
                            + c["unresolved"] + c["quarantined_url"])


def test_index_build_digest_only_key(spark):
    import datetime as dt

    from deduplicator_spark.plans.index_build import build_index

    t1 = dt.datetime.fromisoformat(TS1)
    t2 = dt.datetime.fromisoformat(TS2)
    rows = [
        ("http://a.is/1", "sha1:D1", t1, "r1", "image/png", 200, False, None, None),
        ("http://a.is/2", "sha1:D1", t2, "r2", "image/png", 200, False, None, None),
    ]
    res = build_index(_caps(spark, rows), index_url=False)  # A6: digest key
    rows_out = res.index.collect()
    assert len(rows_out) == 1 and rows_out[0]["record_id"] == "r2"


def test_index_build_observation_progress(spark):
    """W3 analog: rows-indexed telemetry via observe()."""
    import datetime as dt

    from pyspark.sql import Observation

    from deduplicator_spark.plans.index_build import build_index

    t1 = dt.datetime.fromisoformat(TS1)
    rows = [(f"http://a.is/{i}", f"sha1:D{i}", t1, f"r{i}", "image/png",
             200, False, None, None) for i in range(10)]
    obs = Observation()
    res = build_index(_caps(spark, rows), observation=obs)
    res.index.count()
    assert obs.get["indexed_rows"] == 10


# --- strategy legality matrix (LuceneIndexSearcher.java:131-170) -------------

def test_strategy_legality_matrix(spark):
    from deduplicator_spark.operators.strategies import (
        StrategyLegalityError,
        check_strategy_legality,
        lookup,
    )

    full = spark.createDataFrame(
        [("u", "uc", "d", "r")], "url string, url_canon string, digest string, record_id string")
    no_url = full.drop("url", "url_canon")
    no_digest = full.drop("digest")

    # digest is universally mandatory (hard failure in the reference)
    for s in ("URL_EXACT", "URL_CANONICAL", "DIGEST_ANY", "DIGEST_URL_PREFERRED"):
        with pytest.raises(StrategyLegalityError, match="digest"):
            check_strategy_legality(no_digest, s)
    # URL strategies need their url column indexed
    with pytest.raises(StrategyLegalityError, match="URL_EXACT"):
        check_strategy_legality(no_url, "URL_EXACT")
    with pytest.raises(StrategyLegalityError, match="URL_CANONICAL"):
        check_strategy_legality(no_url, "URL_CANONICAL")
    # DIGEST strategies stay legal without url columns (SHOULD terms degrade)
    check_strategy_legality(no_url, "DIGEST_ANY")
    check_strategy_legality(no_url, "DIGEST_URL_PREFERRED")
    with pytest.raises(StrategyLegalityError, match="unknown"):
        check_strategy_legality(full, "NOPE")

    # lookup() dispatch enforces the same matrix end-to-end
    probe = spark.createDataFrame([(1, "u", "uc", "d")],
                                  "probe_id long, url string, url_canon string, digest string")
    with pytest.raises(StrategyLegalityError):
        lookup(probe, no_url, "URL_EXACT")
    out = lookup(probe, no_url.withColumn("ts", F.lit(None).cast("timestamp")),
                 "DIGEST_URL_PREFERRED")
    assert out.count() == 1


# --- A8: bloom short-circuit counter ----------------------------------------

def test_bloom_gate_counts_short_circuits(spark):
    from deduplicator_spark.operators.strategies import (
        classify_verdicts,
        lookup,
        lookup_with_bloom_gate,
    )

    import datetime as dt

    probe = spark.createDataFrame(
        [(i, f"http://p/{i}", f"http://p/{i}", f"D{i % 5}") for i in range(20)],
        "probe_id long, url string, url_canon string, digest string")
    index = spark.createDataFrame(
        [(f"http://i/{d}", f"http://i/{d}", f"D{d}", dt.datetime(2020, 1, 1), None, f"r{d}")
         for d in range(2)],
        "url string, url_canon string, digest string, ts timestamp, "
        "etag string, record_id string")

    gated, obs = lookup_with_bloom_gate(probe, index, "DIGEST_ANY")
    verdicts = classify_verdicts(gated).select("probe_id", "verdict", "dup_class")
    got = {r["probe_id"]: r["verdict"] for r in verdicts.collect()}
    # digests D0,D1 indexed -> 8 of 20 probes are dups, 12 short-circuit
    assert sum(1 for v in got.values() if v == "duplicate") == 8
    assert obs.get["bloom_short_circuited"] == 12

    # gated path must equal the plain strategy join verdict-for-verdict
    plain = {r["probe_id"]: r["verdict"]
             for r in classify_verdicts(lookup(probe, index, "DIGEST_ANY"))
             .select("probe_id", "verdict").collect()}
    assert got == plain


# --- U1: pluggable source registry ------------------------------------------

def test_source_registry_roundtrip(spark, tmp_path):
    from deduplicator_spark.sources.registry import (
        available_sources,
        read_source,
        register_source,
    )

    # parquet roundtrip
    p = str(tmp_path / "t.parquet")
    spark.range(5).write.parquet(p)
    assert read_source(spark, "parquet", p).count() == 5

    # crawl_log through the registry
    from test_sources import NO_EXTRA_LINE

    log = tmp_path / "crawl.log"
    log.write_text(NO_EXTRA_LINE + "\n")
    rows = read_source(spark, "crawl_log", str(log)).collect()
    assert len(rows) == 1 and rows[0]["status"] == 200

    # warc through the registry
    from test_sources import _mini_warc

    wdir = tmp_path / "warcs"
    wdir.mkdir()
    (wdir / "one.warc").write_bytes(_mini_warc())
    assert read_source(spark, "warc", str(wdir)).count() == 2

    # user-pluggable connector (the Class.forName analog)
    register_source("fives", lambda s, path, **_: s.range(5).selectExpr("id * 5 AS v"))
    assert read_source(spark, "fives", "ignored").agg(F.sum("v")).first()[0] == 50
    assert "fives" in available_sources()
    with pytest.raises(ValueError, match="unknown source"):
        read_source(spark, "nope", "x")


# --- ANSI tolerance: '-' size on an otherwise valid line ---------------------

def test_crawl_log_dash_size_tolerated(spark, tmp_path):
    """A 2xx/304 line with '-' in the size field must parse (bytes_len null),
    not abort the job — the reference ignores the size field entirely."""
    from deduplicator_spark.sources.crawl_log import read_crawl_log

    line = (
        "2013-04-23T13:07:38.488Z   304          - "
        "http://www.example.is/img/cached.png LLEE http://www.example.is/ "
        "image/png #042 20130423130738140+56 sha1:AD5BDIVID5RCJZ2FGYRZQSZ2U26W5KFA - -"
    )
    log = tmp_path / "crawl.log"
    log.write_text(line + "\n")
    rows = read_crawl_log(spark, str(log)).collect()
    assert len(rows) == 1
    assert rows[0]["status"] == 304
    assert rows[0]["bytes_len"] is None
