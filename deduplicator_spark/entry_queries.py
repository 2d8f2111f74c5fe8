"""Driver-contract queries: each entry implements one operator family from
SURVEY.md §2 over the driver's testdata tables, with an exactly-matching
ANSI-SQL oracle (DuckDB) in ORACLES.

Cross-engine parity rules used throughout (Spark <-> DuckDB):
  * md5(varchar) -> same lowercase hex in both engines.
  * tokenization: split on '\\s+' after trim.
  * doubles that aggregate floats are round()-ed in BOTH engines.
  * timestamps are emitted as formatted strings (UTC session).
  * every computed column is aliased identically on both sides (the driver
    hashes values after sorting columns by name).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .config import DEFAULT
from .functions.hashing import shingles, tokens
from .functions.urlcanon import canonicalize_sql, canonicalize_url
from .operators.candidates import candidate_pairs_from_bands, canonical_pairs
from .operators.components import connected_components
from .operators.minhash import (
    banded_from_prepared,
    jaccard_verify,
    prepared_features,
)
from .operators.strategies import (
    classify_verdicts,
    last_wins_upsert,
    lookup,
)

SHINGLE_K = DEFAULT.shingle_k
JACCARD_T = 0.8
# Hot-shingle cutoff for the exact inverted-index join: a shingle shared by
# df > cap documents contributes O(df^2) join rows (one boilerplate 3-gram in
# 1M docs = 10^12 rows), so its posting list is dropped — the LSH tier is the
# scale path for such content anyway. The cap is applied IDENTICALLY in the
# SQL oracle; at driver scales max df is 25 (sf0.1), so outputs equal the
# uncapped exact join while the plan stays safe at 1000x the data.
SHINGLE_DF_CAP = 128
EMB_DIM = 64  # driver testdata embeddings are 64-d (TESTDATA.md; oracle pins 64)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events is one small parquet file -> one input split; the capture
    queries hang a regex-heavy derivation (URL render + canonicalization
    chain) off it, so spread it across the cluster up front. At real scale
    the source splits naturally — small-file testdata artifact."""
    return load(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism)


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents is one small parquet file -> ONE input split, which made
    every text tier's md5-per-gram / shingle hashing run on a single core
    (the winnow pass alone was 6+ s serial at sf0.1). Spread it up front,
    same rationale as load_events: at real scale the source splits
    naturally — small-file testdata artifact, and the ~600 KB shuffle is
    noise next to the CPU it unlocks."""
    return load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism)


def load_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same single-split artifact as load_documents, for the ANN tiers'
    per-row vector arithmetic."""
    return load(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism)


# --------------------------------------------------------------------------
# captures: reference CrawlDataItem analog derived deterministically from
# `events` (FIXTURES.md §2). The same derivation exists in SQL (_CAPTURES_SQL)
# so strategy-join oracles see identical inputs.
# --------------------------------------------------------------------------

def captures_from_events(events: DataFrame, canonicalizer=canonicalize_url) -> DataFrame:
    """``canonicalizer`` is injectable (U5) and defaults to the P1 operator:
    url_canon is DERIVED from url, not synthesized."""
    e = F.col("event_id")
    url = F.concat(
        F.lit("http://www"), (e % 2).cast("string"),
        F.lit(".shop"), F.col("user_id").cast("string"),
        F.lit(".is/p"), (e % 5).cast("string"),
    )
    return events.select(
        e.alias("probe_id"),
        url.alias("url"),
        canonicalizer(url).alias("url_canon"),
        F.md5(F.concat(F.col("event_type"), F.lit(":"), F.col("user_id").cast("string"))).alias("digest"),
        F.col("ts"),
        F.concat(F.lit("rec-"), e.cast("string")).alias("record_id"),
        F.floor(F.col("value") * 1000).cast("long").alias("bytes_len"),
        F.when(e % 4 == 0, "text/html")
        .when(e % 4 == 1, "image/png")
        .when(e % 4 == 2, "application/pdf")
        .otherwise("unknown")
        .alias("mime"),
        F.when(e % 10 < 8, 200).when(e % 10 == 8, 404).otherwise(0).alias("status"),
        (e % 3 == 0).alias("is_probe"),
    )


_URL_SQL = (
    "'http://www' || CAST(event_id % 2 AS VARCHAR) || '.shop' || CAST(user_id AS VARCHAR)"
    " || '.is/p' || CAST(event_id % 5 AS VARCHAR)"
)

_CAPTURES_SQL = f"""
SELECT
  event_id AS probe_id,
  {_URL_SQL} AS url,
  {canonicalize_sql(_URL_SQL)} AS url_canon,
  md5(event_type || ':' || CAST(user_id AS VARCHAR)) AS digest,
  ts,
  'rec-' || CAST(event_id AS VARCHAR) AS record_id,
  CAST(floor(value * 1000) AS BIGINT) AS bytes_len,
  CASE WHEN event_id % 4 = 0 THEN 'text/html'
       WHEN event_id % 4 = 1 THEN 'image/png'
       WHEN event_id % 4 = 2 THEN 'application/pdf'
       ELSE 'unknown' END AS mime,
  CASE WHEN event_id % 10 < 8 THEN 200 WHEN event_id % 10 = 8 THEN 404 ELSE 0 END AS status,
  event_id % 3 = 0 AS is_probe
FROM events
"""


def _probe_index(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """F1/F3/F4 gates: status==200 both sides (IndexBuilder.java:147-152,
    DeDuplicator.java:124-127); index drops text/* mimes (default blacklist
    '^text/.*', IndexingLauncher.java:101-102)."""
    c = captures_from_events(events)
    probe = c.filter(F.col("is_probe") & (F.col("status") == 200)).drop("is_probe")
    index = (
        c.filter(~F.col("is_probe") & (F.col("status") == 200))
        .filter(~F.col("mime").rlike("^text/.*"))
        .drop("is_probe")
    )
    return probe, index


_PROBE_SQL = f"""
WITH cap AS ({_CAPTURES_SQL})
SELECT * EXCLUDE (is_probe) FROM cap WHERE is_probe AND status = 200
"""
_INDEX_SQL = f"""
WITH cap AS ({_CAPTURES_SQL})
SELECT * EXCLUDE (is_probe) FROM cap
WHERE NOT is_probe AND status = 200 AND NOT regexp_matches(mime, '^text/.*')
"""


def _verdict_out(df: DataFrame) -> DataFrame:
    return df.select(
        "probe_id",
        "url",
        "digest",
        "verdict",
        "dup_class",
        "refers_to_uri",
        F.date_format("refers_to_date", "yyyy-MM-dd HH:mm:ss").alias("refers_to_date"),
        "refers_to_record_id",
    )


def _strategy_query(strategy: str) -> Callable[[SparkSession, str], DataFrame]:
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        probe, index = _probe_index(load_events(spark, sf_dir))
        return _verdict_out(classify_verdicts(lookup(probe, index, strategy)))

    q.__name__ = f"strategy_{strategy.lower()}"
    return q


def _strategy_oracle(join_cond: str, order_pref: str = "") -> str:
    """Shared oracle shape for J1-J4: left join + row_number top-1 + verdict."""
    return f"""
WITH probe AS ({_PROBE_SQL}), idx AS ({_INDEX_SQL}),
j AS (
  SELECT p.probe_id, p.url, p.url_canon, p.digest,
         i.url AS idx_url, i.url_canon AS idx_url_canon, i.digest AS idx_digest,
         i.ts AS idx_ts, i.record_id AS idx_record_id,
         row_number() OVER (
           PARTITION BY p.probe_id
           ORDER BY {order_pref} i.ts DESC NULLS LAST, i.record_id ASC NULLS LAST
         ) AS rn
  FROM probe p LEFT JOIN idx i ON {join_cond}
)
SELECT probe_id, url, digest,
  CASE WHEN idx_digest IS NULL THEN 'novel' ELSE 'duplicate' END AS verdict,
  CASE WHEN idx_digest IS NULL THEN NULL
       WHEN url = idx_url THEN 'exact_url'
       WHEN url_canon = idx_url_canon THEN 'canonical_url'
       ELSE 'digest_only' END AS dup_class,
  idx_url AS refers_to_uri,
  strftime(idx_ts, '%Y-%m-%d %H:%M:%S') AS refers_to_date,
  idx_record_id AS refers_to_record_id
FROM j WHERE rn = 1
"""


# --------------------------------------------------------------------------
# P1: URL canonicalization over deliberately dirty URLs (mixed case, www
# labels, default ports, session params, fragments, userinfo, trailing
# slashes) rendered deterministically from events
# --------------------------------------------------------------------------

_DIRTY_URL_SQL = """
  CASE WHEN event_id % 2 = 0 THEN 'HTTP://WWW' || CAST(event_id % 3 AS VARCHAR) || '.'
       ELSE 'http://' END
  || CASE WHEN event_id % 7 = 0 THEN 'User:Pw@' ELSE '' END
  || 'Shop' || CAST(user_id AS VARCHAR) || '.IS'
  || CASE WHEN event_id % 5 = 0 THEN ':80' ELSE '' END
  || '/P' || CAST(event_id % 5 AS VARCHAR)
  || CASE WHEN event_id % 3 = 0 THEN '/' ELSE '' END
  || CASE WHEN event_id % 11 = 0 THEN ';JSESSIONID=Z' || CAST(event_id AS VARCHAR) ELSE '' END
  || CASE WHEN event_id % 4 = 0 THEN '?a=1&SID=' || CAST(event_id AS VARCHAR) || '&b=2'
          WHEN event_id % 4 = 1 THEN '?PHPSESSID=' || CAST(event_id AS VARCHAR)
          WHEN event_id % 4 = 2 THEN '?z=' || CAST(event_id % 9 AS VARCHAR) || '&a=2&m=3'
          ELSE '' END
  || CASE WHEN event_id % 6 = 0 THEN '#Sec' ELSE '' END
"""

_DIRTY_IP_URL_SQL = """
  'http://' || CASE WHEN event_id % 2 = 0
                    THEN '0x' || lpad(lower(to_hex(2130706433 + event_id % 99)), 8, '0')
                    ELSE CAST(2130706433 + event_id % 99 AS VARCHAR) END
  || ':80/R' || CAST(event_id % 5 AS VARCHAR) || '?q=2&p=1'
"""


def _dirty_url_col() -> F.Column:
    e = F.col("event_id")
    u = F.col("user_id").cast("string")
    s = e.cast("string")
    return F.concat(
        F.when(e % 2 == 0, F.concat(F.lit("HTTP://WWW"), (e % 3).cast("string"), F.lit(".")))
        .otherwise(F.lit("http://")),
        F.when(e % 7 == 0, F.lit("User:Pw@")).otherwise(F.lit("")),
        F.lit("Shop"), u, F.lit(".IS"),
        F.when(e % 5 == 0, F.lit(":80")).otherwise(F.lit("")),
        F.lit("/P"), (e % 5).cast("string"),
        F.when(e % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(e % 11 == 0, F.concat(F.lit(";JSESSIONID=Z"), s)).otherwise(F.lit("")),
        F.when(e % 4 == 0, F.concat(F.lit("?a=1&SID="), s, F.lit("&b=2")))
        .when(e % 4 == 1, F.concat(F.lit("?PHPSESSID="), s))
        .when(e % 4 == 2, F.concat(F.lit("?z="), (e % 9).cast("string"), F.lit("&a=2&m=3")))
        .otherwise(F.lit("")),
        F.when(e % 6 == 0, F.lit("#Sec")).otherwise(F.lit("")),
    )


def _dirty_ip_url_col() -> F.Column:
    """Decimal / 0x-hex IPv4 hosts with an unsorted query — exercises the
    host-normalization and query-sort canonicalizer rules in the oracle."""
    e = F.col("event_id")
    n_ip = (F.lit(2130706433) + (e % 99)).cast("bigint")
    hexhost = F.concat(F.lit("0x"), F.lpad(F.lower(F.hex(n_ip)), 8, "0"))
    return F.concat(
        F.lit("http://"),
        F.when(e % 2 == 0, hexhost).otherwise(n_ip.cast("string")),
        F.lit(":80/R"), (e % 5).cast("string"), F.lit("?q=2&p=1"),
    )


def q_canonicalize_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 — AggressiveUrlCanonicalizer analog (IndexBuilder.java:57,194-199;
    DeDuplicator.java:120,158) as a pure regexp_replace chain; the oracle
    renders the IDENTICAL chain from the same rule table."""
    e = load_events(spark, sf_dir)
    url = F.when(F.col("event_id") % 13 == 0, _dirty_ip_url_col()).otherwise(_dirty_url_col())
    return e.select(
        F.col("event_id").alias("probe_id"),
        url.alias("url"),
        canonicalize_url(url).alias("url_canon"),
    )


# --------------------------------------------------------------------------
# documents: shingles / jaccard / minhash / clustering
# --------------------------------------------------------------------------

_SHINGLES_SQL = f"""
SELECT doc_id,
  list_distinct(CASE WHEN len(t) >= {SHINGLE_K}
    THEN list_transform(range(1, len(t) - {SHINGLE_K - 2}),
                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
    ELSE [array_to_string(t, ' ')] END) AS sh
FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents)
"""

_JACCARD_PAIRS_SQL = f"""
WITH s AS ({_SHINGLES_SQL}),
e AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
z AS (SELECT doc_id, len(sh) AS n FROM s)
SELECT p.id_a, p.id_b,
       round(p.inter * 1.0 / (za.n + zb.n - p.inter), 6) AS jaccard
FROM p JOIN z za ON za.doc_id = p.id_a JOIN z zb ON zb.doc_id = p.id_b
WHERE p.inter * 1.0 / (za.n + zb.n - p.inter) >= {JACCARD_T}
"""

# ngram_jaccard_pairs oracle: identical algorithm INCLUDING the hot-shingle
# posting-list cap (df <= SHINGLE_DF_CAP), mirroring the Spark query
_JACCARD_PAIRS_CAPPED_SQL = f"""
WITH s AS ({_SHINGLES_SQL}),
e0 AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
rare AS (SELECT shingle FROM e0 GROUP BY shingle HAVING count(*) <= {SHINGLE_DF_CAP}),
e AS (SELECT doc_id, e0.shingle FROM e0 JOIN rare USING (shingle)),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
z AS (SELECT doc_id, len(sh) AS n FROM s)
SELECT p.id_a, p.id_b,
       round(p.inter * 1.0 / (za.n + zb.n - p.inter), 6) AS jaccard
FROM p JOIN z za ON za.doc_id = p.id_a JOIN z zb ON zb.doc_id = p.id_b
WHERE p.inter * 1.0 / (za.n + zb.n - p.inter) >= {JACCARD_T}
"""


def _docs_as_items(docs: DataFrame) -> DataFrame:
    # zero-padded ids so lexicographic pair canonicalization == numeric order
    return docs.select(
        F.format_string("%012d", F.col("doc_id")).alias("image_id"),
        F.col("text").alias("caption"),
    )


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs set-similarity join via inverted shingle index — the
    scalable exact path (one explode + one equi-join + one groupBy; no cross
    join), with hot posting lists dropped above SHINGLE_DF_CAP so one
    boilerplate shingle can never go quadratic. Oracle: identical algorithm
    (including the cap) in SQL."""
    docs = load_documents(spark, sf_dir)
    sh = docs.select("doc_id", shingles(tokens(F.col("text")), SHINGLE_K).alias("sh"))
    e = sh.select("doc_id", F.explode("sh").alias("shingle")).persist()
    rare = (
        e.groupBy("shingle").agg(F.count("*").alias("df"))
        .filter(F.col("df") <= SHINGLE_DF_CAP)
        .select("shingle")
    )
    # rare grows with the corpus (string-keyed, compresses well on the wire)
    # so it must never ride the driver-broadcast path — same hazard the 100x
    # gate caught in repeated_passages (BENCH/SF100X_GATE.md): AQE's
    # compressed-size estimate is not an allocation guarantee.
    e = e.join(rare.hint("shuffle_hash"), "shingle")
    pairs = (
        e.alias("a")
        .join(e.alias("b"), (F.col("a.shingle") == F.col("b.shingle"))
              & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    z = sh.select("doc_id", F.size("sh").alias("n"))
    j = (
        pairs.join(z.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n", "na"), "id_a")
        .join(z.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n", "nb"), "id_b")
        .withColumn("jac", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")))
        .filter(F.col("jac") >= JACCARD_T)
    )
    return j.select("id_a", "id_b", F.round("jac", 6).alias("jaccard"))


def _lsh_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared LSH tier: one persisted Arrow pass over captions feeds the band
    explode AND both verify join sides — without the persist the MinHash UDF
    re-executes 3x (it is the dominant cost of these queries)."""
    docs = _docs_as_items(load_documents(spark, sf_dir))
    prep = prepared_features(docs).persist()
    cands = candidate_pairs_from_bands(
        banded_from_prepared(prep),
        pair_cap=DEFAULT.hot_band_threshold, salt_buckets=DEFAULT.salt_buckets)
    return jaccard_verify(cands, prep, JACCARD_T)


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash/LSH candidates + exact-Jaccard verification. With b=32, r=4 the
    miss probability at J>=0.8 is ~5e-8, so the verified output equals the
    exact join (same oracle as ngram_jaccard_pairs) at O(n·bands) cost."""
    verified = _lsh_verified_pairs(spark, sf_dir)
    return verified.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.round("jaccard", 6).alias("jaccard"),
    )


def q_prefix_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtering exact set-similarity join (operators/prefixjoin.py,
    PPJoin family): only each caption's rarest-first prefix is indexed, yet
    the output provably equals the full inverted-index join — the same
    oracle as ngram_jaccard_pairs/minhash_lsh_pairs verifies all three
    candidate strategies against one exact-Jaccard twin."""
    from .operators.prefixjoin import prefix_filtered_pairs

    docs = _docs_as_items(load_documents(spark, sf_dir))
    pairs = prefix_filtered_pairs(docs, JACCARD_T)
    return pairs.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.round("jaccard", 6).alias("jaccard"),
    )


WINNOW_K = 8        # gram chars (noise floor: no match shorter than k)
WINNOW_W = 9        # window width -> guarantee t = w + k - 1 = 16 chars
WINNOW_DF_CAP = 16  # hot-fingerprint posting cutoff (same rule as SHINGLE_DF_CAP)
WINNOW_MIN_SHARED = 3

# winnowing oracles: the identical algorithm in DuckDB list algebra — same
# 40-bit md5 gram hash, same (hash+1)*2^20 - pos key packing (min = smallest
# hash, rightmost position: robust winnowing's tie-break), same df cap.
# ONE CTE renderer serves the self-join pairs oracle AND the index->probe
# oracle so the fingerprint derivation can never drift between them.


def _winnow_fp_ctes(alias: str, where: str = "TRUE") -> str:
    """Render the doc -> distinct winnowing fingerprints derivation as CTEs;
    the final CTE is named ``alias`` with columns (doc_id, fp)."""
    return f"""
{alias}_d AS (
  SELECT doc_id, text AS t FROM documents
  WHERE ({where}) AND length(text) >= {WINNOW_K}
),
{alias}_kk AS (
  SELECT doc_id,
    list_transform(range(1, least(length(t) - {WINNOW_K} + 1, 1048575) + 1),
      i -> (CAST('0x' || substr(md5(substr(t, i, {WINNOW_K})), 1, 10) AS BIGINT)
            + 1) * 1048576 - i) AS ks
  FROM {alias}_d
),
{alias}_sel AS (
  SELECT DISTINCT doc_id,
    unnest(list_transform(range(1, greatest(len(ks) - {WINNOW_W} + 1, 1) + 1),
      p -> list_min(list_slice(ks, p, p + {WINNOW_W} - 1)))) AS key
  FROM {alias}_kk
),
{alias} AS (
  SELECT DISTINCT doc_id,
    ((key + (1048576 - (key % 1048576))) // 1048576) - 1 AS fp
  FROM {alias}_sel
)"""


_WINNOW_PAIRS_SQL = f"""
WITH {_winnow_fp_ctes("fp")},
n AS (SELECT doc_id, count(*) AS n FROM fp GROUP BY doc_id),
rare AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= {WINNOW_DF_CAP}),
post AS (SELECT f.doc_id, f.fp FROM fp f JOIN rare USING (fp)),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
  FROM post a JOIN post b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= {WINNOW_MIN_SHARED}
)
SELECT p.id_a, p.id_b, p.shared, na.n AS n_a, nb.n AS n_b
FROM p JOIN n na ON na.doc_id = p.id_a JOIN n nb ON nb.doc_id = p.id_b
"""

_WINNOW_PROBE_SQL = f"""
WITH {_winnow_fp_ctes("ifp", "doc_id % 10 = 0")},
{_winnow_fp_ctes("pfp", "doc_id % 10 <> 0")},
np AS (SELECT doc_id, count(*) AS n FROM pfp GROUP BY doc_id),
rare AS (SELECT fp FROM ifp GROUP BY fp
         HAVING count(*) <= {WINNOW_DF_CAP}),
post AS (SELECT i.doc_id, i.fp FROM ifp i JOIN rare USING (fp)),
hits AS (
  SELECT p.doc_id AS probe_id, post.doc_id AS ref, count(*) AS shared
  FROM pfp p JOIN post ON p.fp = post.fp
  GROUP BY 1, 2
),
scored AS (
  SELECT probe_id, ref, shared, np.n AS n_probe,
         shared * 1.0 / np.n AS score
  FROM hits JOIN np ON np.doc_id = hits.probe_id
  WHERE shared * 1.0 / np.n >= {DEFAULT.winnow_min_score}
),
top AS (
  SELECT probe_id, ref, shared, score,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY score DESC, shared DESC, ref ASC) AS rn
  FROM scored
)
SELECT d.doc_id AS probe_id,
       CASE WHEN t.ref IS NOT NULL THEN 'overlap' ELSE 'novel' END AS verdict,
       t.ref AS refers_to,
       t.shared,
       CAST(coalesce(np.n, 0) AS BIGINT) AS n_probe,
       round(t.score, 6) AS score
FROM documents d
LEFT JOIN (SELECT * FROM top WHERE rn = 1) t ON t.probe_id = d.doc_id
LEFT JOIN np ON np.doc_id = d.doc_id
WHERE d.doc_id % 10 <> 0
"""


def q_winnow_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing/MOSS fingerprint pairs (operators/winnow.py, Schleimer et
    al. SIGMOD'03): local min-hash selection over k-gram windows guarantees
    a shared fingerprint for any common substring of >= w+k-1 chars, at
    ~2/(w+1) index density. The fifth candidate strategy (after inverted
    index, MinHash/LSH, PPJoin prefix and repeated-passage alignment),
    covering passage-level overlap the whole-document Jaccard tiers miss.
    Oracle: identical algorithm in DuckDB list algebra."""
    from .operators.winnow import winnow_pairs

    docs = load_documents(spark, sf_dir)
    return winnow_pairs(docs, WINNOW_K, WINNOW_W,
                        WINNOW_DF_CAP, WINNOW_MIN_SHARED)


def q_winnow_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §3.1/§3.2 index->probe lifecycle at PASSAGE granularity
    (plans/winnow_index.py), on the same decade split as the image and
    caption lifecycles: anchors (doc_id%10==0) are indexed, the rest probe.
    A probe whose winnowing fingerprints are >= 50% covered by one indexed
    doc gets verdict 'overlap' with top-1 (score desc, shared desc, id asc)
    lineage; else 'novel'. Oracle: identical cross-set fingerprint join in
    DuckDB, sharing the fingerprint CTE renderer with the pairs oracle."""
    from .plans.winnow_index import build_winnow_index, probe_winnow

    docs = load_documents(spark, sf_dir)
    index = build_winnow_index(
        docs.filter(F.col("doc_id") % 10 == 0), WINNOW_K, WINNOW_W)
    probes = docs.filter(F.col("doc_id") % 10 != 0)
    return probe_winnow(probes, index, WINNOW_K, WINNOW_W,
                        WINNOW_DF_CAP, DEFAULT.winnow_min_score)


def q_winnow_index_increments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-increment winnow index GROWTH — the reference's APPEND mode
    (K1, IndexBuilder.java:94-104) at passage granularity, cross-engine
    proven over three chained increments: decade anchors seed the index,
    each increment (doc_id%3 buckets of the rest) probes the CURRENT index
    and only its novels' fingerprints are appended before the next
    increment probes — a verdict in increment t can refer to a row that
    entered as a novel in increment t-1, which a single-shot probe cannot
    exhibit. Oracle: three chained CTE stages with the identical df-cap
    (recomputed per stage on the grown index), score gate and top-1
    tiebreak."""
    from .operators.winnow import winnow_fingerprints
    from .plans.winnow_index import build_winnow_index, probe_and_extend_winnow

    docs = load_documents(spark, sf_dir)
    index = build_winnow_index(
        docs.filter(F.col("doc_id") % 10 == 0), WINNOW_K, WINNOW_W)
    outs = []
    pfs = []
    for t in range(3):
        inc = docs.filter(
            (F.col("doc_id") % 10 != 0) & (F.col("doc_id") % 3 == t))
        # fingerprint slices are persisted HERE (not inside
        # probe_and_extend_winnow) so they can be released once the final
        # checkpoint pins the results — ADVICE r4: the old per-call
        # persists leaked for the life of the session, and the leak is
        # measurable (repeat runs degraded ~9 s -> ~13 s; with the
        # release below they hold steady)
        pf = (winnow_fingerprints(inc, WINNOW_K, WINNOW_W)
              .select(F.col("id").alias("probe_id"), "fp")
              .distinct().persist())
        pfs.append(pf)
        verdicts, index = probe_and_extend_winnow(
            inc, index, WINNOW_K, WINNOW_W,
            WINNOW_DF_CAP, DEFAULT.winnow_min_score, probe_fps=pf)
        # lazy localCheckpoint truncates the geometric lineage growth of
        # the chained plans (image_index_increments' lesson) while keeping
        # the three stages schedulable inside ONE final job
        verdicts = verdicts.localCheckpoint(eager=False)
        index = index.localCheckpoint(eager=False)
        outs.append(verdicts.select(
            F.lit(t).cast("long").alias("increment"), "probe_id", "verdict",
            "refers_to", "shared", "n_probe", "score"))
    from functools import reduce

    out = reduce(lambda a, b: a.unionByName(b), outs)
    # one eager checkpoint materializes the whole chain, after which the
    # fingerprint caches are dead weight and can be dropped
    out = out.localCheckpoint(eager=True)
    for pf in pfs:
        pf.unpersist()
    return out


def _winnow_increments_oracle() -> str:
    """Three chained probe->append stages rendered as one CTE pipeline."""
    ctes = [_winnow_fp_ctes("afp", "doc_id % 10 = 0").lstrip()]
    for t in range(3):
        ctes.append(_winnow_fp_ctes(
            f"p{t}fp", f"doc_id % 10 <> 0 AND doc_id % 3 = {t}").lstrip())
    ctes.append("idx0 AS (SELECT doc_id, fp FROM afp)")
    outs = []
    ms = DEFAULT.winnow_min_score
    for t in range(3):
        ctes.append(f"""
rare{t} AS (SELECT fp FROM idx{t} GROUP BY fp
            HAVING count(*) <= {WINNOW_DF_CAP}),
post{t} AS (SELECT i.doc_id, i.fp FROM idx{t} i JOIN rare{t} USING (fp)),
np{t} AS (SELECT doc_id, count(*) AS n FROM p{t}fp GROUP BY doc_id),
hits{t} AS (
  SELECT p.doc_id AS probe_id, post{t}.doc_id AS ref, count(*) AS shared
  FROM p{t}fp p JOIN post{t} ON p.fp = post{t}.fp GROUP BY 1, 2
),
scored{t} AS (
  SELECT probe_id, ref, shared, np{t}.n AS n_probe,
         shared * 1.0 / np{t}.n AS score
  FROM hits{t} JOIN np{t} ON np{t}.doc_id = hits{t}.probe_id
  WHERE shared * 1.0 / np{t}.n >= {ms}
),
top{t} AS (
  SELECT probe_id, ref, shared, score,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY score DESC, shared DESC, ref ASC) AS rn
  FROM scored{t}
),
out{t} AS (
  SELECT CAST({t} AS BIGINT) AS increment, d.doc_id AS probe_id,
         CASE WHEN x.ref IS NOT NULL THEN 'overlap' ELSE 'novel' END
           AS verdict,
         x.ref AS refers_to, x.shared,
         CAST(coalesce(np{t}.n, 0) AS BIGINT) AS n_probe,
         round(x.score, 6) AS score
  FROM documents d
  LEFT JOIN (SELECT * FROM top{t} WHERE rn = 1) x ON x.probe_id = d.doc_id
  LEFT JOIN np{t} ON np{t}.doc_id = d.doc_id
  WHERE d.doc_id % 10 <> 0 AND d.doc_id % 3 = {t}
),
idx{t + 1} AS (
  SELECT doc_id, fp FROM idx{t}
  UNION ALL
  SELECT doc_id, fp FROM p{t}fp
  WHERE doc_id IN (SELECT probe_id FROM out{t} WHERE verdict = 'novel')
)""".lstrip())
        outs.append(f"SELECT * FROM out{t}")
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(outs)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the verified near-dup edges; every doc gets
    a cluster id (min reachable doc_id). Oracle: recursive CTE closure.
    Shares the persisted LSH tier with q_minhash_lsh_pairs instead of
    recomputing the whole cascade."""
    docs = load_documents(spark, sf_dir)
    pairs = _lsh_verified_pairs(spark, sf_dir)
    cc = connected_components(
        canonical_pairs(pairs.select("id_a", "id_b")),
        nodes=docs.select(F.format_string("%012d", "doc_id").alias("image_id")),
    )
    return cc.select(
        F.col("image_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


def q_cluster_retract_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Takedown lifecycle: retract every doc_id % 17 == 3 from the prior
    clustering and REPAIR incrementally (operators/components.
    repair_clusters): unaffected clusters pass through verbatim via
    broadcast anti-joins; only clusters that lost a member are re-closed.
    Oracle: the FULL recompute over the surviving subgraph (recursive CTE
    on edges with both endpoints surviving) — a green hash proves the
    incremental composition equals recomputing from scratch, including
    splits (retracted cut vertices) and re-labels (retracted min-id reps)."""
    from .operators.components import repair_clusters

    docs = load_documents(spark, sf_dir)
    nodes = docs.select(F.format_string("%012d", "doc_id").alias("image_id"))
    pairs = canonical_pairs(
        _lsh_verified_pairs(spark, sf_dir).select("id_a", "id_b"))
    clusters = connected_components(pairs, nodes=nodes)
    retracted = docs.filter(F.col("doc_id") % 17 == 3).select(
        F.format_string("%012d", "doc_id").alias("image_id"))
    repaired = repair_clusters(clusters, pairs, retracted)
    return repaired.select(
        F.col("image_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


_CLUSTERS_SQL = f"""
WITH RECURSIVE p AS ({_JACCARD_PAIRS_SQL}),
edges AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM p UNION SELECT id_b, id_a FROM p),
reach(s, d) AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s WHERE e.d <> r.s
)
SELECT doc_id, coalesce(least(doc_id, m), doc_id) AS cluster_id
FROM documents LEFT JOIN (SELECT s, min(d) AS m FROM reach GROUP BY s) ON s = doc_id
"""


def q_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-savings report: histogram of near-dup cluster sizes plus the
    rows a keep-one-per-cluster policy would drop — the cluster-level form
    of the reference's duplicate/novel totals (A1/A2). One groupBy over the
    CC output, then a bounded groupBy over sizes; the expensive parts (LSH
    tier, components) are shared with q_dedup_clusters via the persisted
    tier."""
    docs = load_documents(spark, sf_dir)
    pairs = _lsh_verified_pairs(spark, sf_dir)
    cc = connected_components(
        canonical_pairs(pairs.select("id_a", "id_b")),
        nodes=docs.select(F.format_string("%012d", "doc_id").alias("image_id")),
    )
    sizes = cc.groupBy("cluster_id").agg(F.count("*").alias("sz"))
    return (sizes.groupBy("sz")
            .agg(F.count("*").alias("n_clusters"),
                 F.sum("sz").alias("n_docs"),
                 F.sum(F.col("sz") - 1).alias("dropped_by_keep_one"))
            .select(F.col("sz").cast("long").alias("cluster_size"),
                    "n_clusters", "n_docs", "dropped_by_keep_one"))


def q_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data keep rule: per near-dup cluster keep ONE representative,
    the member with the most tokens (tiebreak: smallest doc_id) — the
    cluster-representative selection step every dedup pipeline runs after
    clustering (generalizing the reference's 'original beats revisit' choice,
    IndexBuilder last-wins, to quality-ranked survivors). Reuses the shared
    persisted LSH tier + the same CC operator as q_dedup_clusters; the extra
    work is one token count per doc (Column algebra) and one window over
    clusters — no new shuffle beyond groupBy(cluster_id)."""
    docs = load_documents(spark, sf_dir)
    pairs = _lsh_verified_pairs(spark, sf_dir)
    cc = connected_components(
        canonical_pairs(pairs.select("id_a", "id_b")),
        nodes=docs.select(F.format_string("%012d", "doc_id").alias("image_id")),
    ).select(
        F.col("image_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )
    tok = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("n_tok"))
    j = cc.join(tok, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_tok").desc(), F.col("doc_id").asc())
    return (
        j.withColumn("_rn", F.row_number().over(w))
        .withColumn("n_members",
                    F.count("*").over(Window.partitionBy("cluster_id")))
        .filter(F.col("_rn") == 1)
        .select("cluster_id",
                F.col("doc_id").alias("keep_doc_id"),
                F.col("n_members").cast("long").alias("n_members"),
                F.col("n_tok").alias("keep_n_tok"))
    )


def q_cluster_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup: instead of keep-one-per-cluster (q_cluster_keep_best,
    which deletes all evidence that some content is popular) or keep-all
    (which lets a 10^6-copy cluster dominate the loss), keep the top
    ceil(sqrt(size)) members per near-dup cluster ranked by token count
    (tiebreak: smallest doc_id), and give every kept member the weight
    size/quota so the corpus-level expectation is unchanged — duplication is
    capped at sqrt while the trainer can still upweight popular content.
    Emits the full audit row per doc: rank, kept flag, weight (0 for
    dropped). Reference analog: the reference's binary dup/novel verdict
    (DeDuplicator.java:183-205) generalized to a graded keep policy.

    100 TB shape: identical cost to q_cluster_keep_best — the LSH tier and
    CC are shared (persisted tier); on top is ONE window over cluster_id
    (rank + count in the same partition pass). sqrt/ceil/round are Column
    algebra; no new shuffle."""
    docs = load_documents(spark, sf_dir)
    pairs = _lsh_verified_pairs(spark, sf_dir)
    cc = connected_components(
        canonical_pairs(pairs.select("id_a", "id_b")),
        nodes=docs.select(F.format_string("%012d", "doc_id").alias("image_id")),
    ).select(
        F.col("image_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )
    tok = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("n_tok"))
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_tok").desc(), F.col("doc_id").asc())
    sz = F.count(F.lit(1)).over(Window.partitionBy("cluster_id"))
    j = (cc.join(tok, "doc_id")
         .withColumn("rank", F.row_number().over(w))
         .withColumn("_sz", sz))
    quota = F.ceil(F.sqrt(F.col("_sz")))
    kept = F.col("rank") <= quota
    return j.select(
        "doc_id", "cluster_id",
        F.col("rank").cast("long").alias("rank"),
        kept.alias("kept"),
        F.when(kept, F.round(F.col("_sz") / quota, 6)).otherwise(F.lit(0.0))
        .alias("weight"),
    )


_DOWNSAMPLE_SQL = """
{ctes},
clusters AS (
  SELECT doc_id, coalesce(least(doc_id, m), doc_id) AS cluster_id
  FROM documents LEFT JOIN (SELECT s, min(d) AS m FROM reach GROUP BY s) ON s = doc_id
),
tok AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tok
  FROM documents
),
ranked AS (
  SELECT c.cluster_id, c.doc_id,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY t.n_tok DESC, c.doc_id ASC) AS rank,
         count(*) OVER (PARTITION BY c.cluster_id) AS sz
  FROM clusters c JOIN tok t USING (doc_id)
)
SELECT doc_id, cluster_id, CAST(rank AS BIGINT) AS rank,
       rank <= ceil(sqrt(sz)) AS kept,
       CASE WHEN rank <= ceil(sqrt(sz))
            THEN round(sz * 1.0 / ceil(sqrt(sz)), 6) ELSE 0.0 END AS weight
FROM ranked
"""


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/eval split: hash the near-dup CLUSTER id — not the
    doc id — into the split buckets, so two near-duplicate documents can
    never land on opposite sides of the train/eval boundary (the classic
    benchmark-contamination failure a doc-level random split guarantees at
    corpus scale: with a 10% eval slice, a duplicated pair straddles the
    split with p=0.18). Deterministic and engine-portable: bucket =
    md5('split:' || cluster_id) taken as a 60-bit integer mod 100, < 90 ->
    train. Reuses the shared persisted LSH tier + the same CC operator as
    q_dedup_clusters; the split assignment itself is Column algebra on the
    CC output — zero additional shuffles, so at 100 TB this costs exactly
    what clustering already cost. Complements q_ngram_decontaminate (which
    removes eval text already IN the corpus; this prevents the split itself
    from manufacturing contamination). Reference analog: the reference keys
    every verdict on the canonical original (DeDuplicator.java:149-205);
    here the cluster id is that canonical key, applied to split assignment."""
    docs = load_documents(spark, sf_dir)
    pairs = _lsh_verified_pairs(spark, sf_dir)
    cc = connected_components(
        canonical_pairs(pairs.select("id_a", "id_b")),
        nodes=docs.select(F.format_string("%012d", "doc_id").alias("image_id")),
    ).select(
        F.col("image_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split:"),
                               F.col("cluster_id").cast("string"))), 1, 15),
            16, 10,
        ).cast("long") % 100
    )
    return cc.select(
        "doc_id",
        "cluster_id",
        F.when(bucket < 90, F.lit("train")).otherwise(F.lit("eval"))
        .alias("split"),
    )


_CLUSTER_CTES = _CLUSTERS_SQL.split("SELECT doc_id, coalesce")[0].rstrip()
_KEEP_BEST_SQL = f"""
{_CLUSTER_CTES},
clusters AS (
  SELECT doc_id, coalesce(least(doc_id, m), doc_id) AS cluster_id
  FROM documents LEFT JOIN (SELECT s, min(d) AS m FROM reach GROUP BY s) ON s = doc_id
),
tok AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tok
  FROM documents
),
ranked AS (
  SELECT c.cluster_id, c.doc_id, t.n_tok,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY t.n_tok DESC, c.doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY c.cluster_id) AS n_members
  FROM clusters c JOIN tok t USING (doc_id)
)
SELECT cluster_id, doc_id AS keep_doc_id,
       CAST(n_members AS BIGINT) AS n_members, n_tok AS keep_n_tok
FROM ranked WHERE rn = 1
"""


def q_ngram_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination — the GPT-3-style pass every training
    pipeline runs before the dedup tiers ship data: flag every training doc
    sharing ANY k-token shingle with a held-out eval set (here doc_id%100==0
    plays the benchmark). Returns per training doc: contaminated flag, how
    many distinct shingles leak, and the smallest leaking eval doc id.

    100 TB shape: the eval side is tiny (benchmarks are KBs, corpora are
    TBs), so its exploded shingle set is BROADCAST — the training corpus is
    scanned once with no shuffle; only the matched rows (bounded by the
    contamination rate) shuffle into the per-doc count. The same
    hot-shingle reasoning as ngram_jaccard_pairs does NOT apply: the join is
    train x eval, never train x train, so a boilerplate shingle costs
    O(n_train_postings x n_eval_postings), bounded by the broadcast side."""
    docs = load_documents(spark, sf_dir)
    sh = docs.select("doc_id", shingles(tokens(F.col("text")), SHINGLE_K).alias("sh"))
    ev = sh.filter(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("eval_id"), F.explode("sh").alias("shingle"))
    train = sh.filter(F.col("doc_id") % 100 != 0)
    hits = (
        train.select("doc_id", F.explode("sh").alias("shingle"))
        .join(F.broadcast(ev), "shingle")
        .groupBy("doc_id")
        .agg(F.countDistinct("shingle").alias("n_shared_ngrams"),
             F.min("eval_id").alias("first_eval_id"))
    )
    return train.select("doc_id").join(hits, "doc_id", "left").select(
        "doc_id",
        F.col("n_shared_ngrams").isNotNull().alias("contaminated"),
        F.coalesce("n_shared_ngrams", F.lit(0)).cast("long").alias("n_shared_ngrams"),
        F.col("first_eval_id").cast("long").alias("first_eval_id"),
    )


def q_eval_span_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-level decontamination (plans/curate.eval_contaminated_spans):
    where ngram_decontaminate drops a whole training doc on any shared eval
    shingle, this emits the maximal disjoint token spans covered by
    eval-leaked k-token windows as a per-doc CUT LIST (doc_id%100==0 plays
    the benchmark), so the document survives with only the leaked passage
    excised — the span analog of the reference's annotate-don't-drop
    verdicts (DeDuplicator.java:183-188). Machinery: window_grams positions
    + gated-broadcast eval-gram join + the ExactSubstr gaps-and-islands
    merge (operators/passages.spans_from_positions).

    100 TB shape: identical to ngram_decontaminate's — eval grams broadcast,
    one corpus scan, only matched positions (bounded by the contamination
    rate) shuffle into the per-doc island merge."""
    from .plans.curate import eval_contaminated_spans

    docs = load_documents(spark, sf_dir)
    ev = docs.filter(F.col("doc_id") % 100 == 0)
    train = docs.filter(F.col("doc_id") % 100 != 0)
    return eval_contaminated_spans(train, ev, k=SHINGLE_K).select(
        "doc_id", "span_start", "span_end", "span_tokens")


_EVAL_SPAN_SQL = f"""
WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
           FROM documents),
g AS (
  SELECT doc_id, CAST(i AS BIGINT) - 1 AS pos,
         array_to_string(toks[i:i + {SHINGLE_K - 1}], ' ') AS gram
  FROM t, unnest(range(1, len(toks) - {SHINGLE_K - 2})) AS u(i)
  WHERE len(toks) >= {SHINGLE_K}
),
ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 100 = 0),
rep AS (SELECT doc_id, pos FROM g JOIN ev USING (gram) WHERE doc_id % 100 <> 0),
lagd AS (
  SELECT doc_id, pos,
         lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
  FROM rep
),
isl AS (
  SELECT doc_id, pos,
         sum(CASE WHEN pos - prev <= {SHINGLE_K} THEN 0 ELSE 1 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM lagd
)
SELECT doc_id, min(pos) AS span_start,
       max(pos) + {SHINGLE_K - 1} AS span_end,
       max(pos) - min(pos) + {SHINGLE_K} AS span_tokens
FROM isl GROUP BY doc_id, grp
"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition (the Gopher/MassiveText quality-filter
    signal the cross-document tiers can't see): per doc, the fraction of
    k-gram occurrences that are repeats of an earlier k-gram in the SAME
    doc. Pure Column algebra over the token array — no shuffle at all; at
    100 TB this is a map-only pass fused into whatever scan runs first."""
    docs = load_documents(spark, sf_dir)
    t = tokens(F.col("text"))
    windows = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(t) - SHINGLE_K, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(t, i + 1, SHINGLE_K)),
    )
    grams = F.when(F.size(t) >= SHINGLE_K, windows) \
        .otherwise(F.array(F.concat_ws(" ", t)))
    return docs.select(
        "doc_id",
        F.size(grams).cast("long").alias("n_ngrams"),
        F.size(F.array_distinct(grams)).cast("long").alias("n_distinct"),
        F.round(1 - F.size(F.array_distinct(grams)) / F.size(grams), 6)
        .alias("rep_frac"),
    )


_REPETITION_SQL = f"""
WITH w AS (
  SELECT doc_id,
    CASE WHEN len(t) >= {SHINGLE_K}
      THEN list_transform(range(1, len(t) - {SHINGLE_K - 2}),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      ELSE [array_to_string(t, ' ')] END AS sh
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents)
)
SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_ngrams,
       CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct,
       round(1 - len(list_distinct(sh)) * 1.0 / len(sh), 6) AS rep_frac
FROM w
"""


# Line/paragraph dedup parameters. The synthetic corpus has no newlines, so
# "line" is a fixed-width chunk of LINE_W tokens (deterministic and identical
# in both engines); chunk-texts occurring more than LINE_DUP_K times
# corpus-wide are boilerplate and excised.
LINE_W = 4
LINE_DUP_K = 2


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style line/paragraph dedup (Wenzek et al. 2020): count every
    line's occurrences across the WHOLE corpus, excise lines duplicated more
    than LINE_DUP_K times (navigation chrome, cookie banners, boilerplate),
    and reassemble each document from its surviving lines in order. This is
    the sub-document complement of the doc-level tiers: a page that is 40%
    boilerplate survives dedup as "novel" yet still poisons training with the
    repeated 40%; ExactSubstr (operators/passages.py) finds repeated SPANS
    anywhere, while this pass is the cheap aligned-unit variant every web
    pipeline runs first. Reference analog: the reference's digest-keyed skip
    decision (DeDuplicator.java:149-205) applied at line rather than document
    granularity.

    100 TB shape: chunking is pure Column algebra fused into the scan (no
    shuffle); the frequency count is a groupBy with map-side partial
    aggregation, so a cookie banner in 10^9 docs arrives at its reducer as
    one partial count per map task, not 10^9 rows; the boilerplate list
    (chunk-texts with freq > K — tiny by construction relative to the corpus)
    joins back via _gated_broadcast, falling back to a shuffle join above the
    bound; reassembly is one groupBy on doc_id. Total: two shuffles plus a
    broadcast."""
    from .plans.curate import _gated_broadcast

    docs = load_documents(spark, sf_dir)
    t = tokens(F.col("text"))
    n_chunks = F.ceil(F.size(t) / LINE_W).cast("int")
    chunk_arr = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(t, i * LINE_W + 1, LINE_W)),
    )
    ch = docs.select("doc_id", F.posexplode(chunk_arr).alias("cid", "chunk"))
    boiler = (
        ch.groupBy("chunk").count()
        .filter(F.col("count") > LINE_DUP_K)
        .select("chunk", F.lit(True).alias("is_boiler"))
    )
    return (
        ch.join(_gated_broadcast(boiler, persist=True), "chunk", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(F.when(F.col("is_boiler"), 1).otherwise(0))
            .cast("long").alias("n_dropped"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list(
                        F.when(F.col("is_boiler").isNull(),
                               F.struct(F.col("cid"), F.col("chunk"))))),
                    lambda s: s["chunk"],
                ),
            ).alias("clean_text"),
        )
    )


_LINE_DEDUP_SQL = f"""
WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
           FROM documents),
ch AS (
  SELECT doc_id, CAST(i AS BIGINT) AS cid,
         array_to_string(toks[i * {LINE_W} + 1 : i * {LINE_W} + {LINE_W}], ' ')
           AS chunk
  FROM t, unnest(range(0, CAST(ceil(len(toks) / {LINE_W}.0) AS BIGINT))) AS u(i)
),
boiler AS (SELECT chunk FROM ch GROUP BY chunk HAVING count(*) > {LINE_DUP_K})
SELECT ch.doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(count(b.chunk) AS BIGINT) AS n_dropped,
       coalesce(string_agg(ch.chunk, ' ' ORDER BY ch.cid)
                  FILTER (WHERE b.chunk IS NULL), '') AS clean_text
FROM ch LEFT JOIN boiler b USING (chunk)
GROUP BY ch.doc_id
"""


_DECONTAMINATE_SQL = f"""
WITH s AS ({_SHINGLES_SQL}),
ev AS (SELECT doc_id AS eval_id, unnest(sh) AS shingle FROM s WHERE doc_id % 100 = 0),
tr AS (SELECT doc_id, unnest(sh) AS shingle FROM s WHERE doc_id % 100 <> 0),
hits AS (
  SELECT tr.doc_id, count(DISTINCT tr.shingle) AS n_shared,
         min(ev.eval_id) AS first_eval_id
  FROM tr JOIN ev USING (shingle) GROUP BY 1
)
SELECT s.doc_id, (h.doc_id IS NOT NULL) AS contaminated,
       CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared_ngrams,
       CAST(h.first_eval_id AS BIGINT) AS first_eval_id
FROM s LEFT JOIN hits h ON h.doc_id = s.doc_id
WHERE s.doc_id % 100 <> 0
"""


def q_repeated_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level exact-substring dedup at passage granularity
    (operators/passages.py — the Lee et al. ExactSubstr pass as three
    shuffles, no suffix array): maximal disjoint token spans occurring
    verbatim >= 2 times corpus-wide in 5-token windows."""
    from .operators.passages import repeated_passages

    docs = load_documents(spark, sf_dir)
    return repeated_passages(docs).select(
        "doc_id", "span_start", "span_end", "span_tokens")


def q_repeated_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repeated-span coverage (the quality-filter signal from
    the passage pass): one row per doc, fraction of tokens inside a
    corpus-repeated span. Span disjointness (operators/passages.py island
    rule) guarantees the fraction never exceeds 1."""
    from .operators.passages import repeated_token_fraction

    docs = load_documents(spark, sf_dir)
    return repeated_token_fraction(docs).select(
        "doc_id", "n_tokens", "repeated_tokens", "repeated_frac")


_RK = 5  # REPEAT_K mirrored into the oracle

_REPEATED_SPANS_CORE = f"""
t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
      FROM documents),
g AS (
  SELECT doc_id, CAST(i AS BIGINT) - 1 AS pos,
         array_to_string(toks[i:i + {_RK - 1}], ' ') AS gram
  FROM t, unnest(range(1, len(toks) - {_RK - 2})) AS u(i)
  WHERE len(toks) >= {_RK}
),
hot AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
rep AS (SELECT doc_id, pos FROM g JOIN hot USING (gram)),
lagd AS (
  SELECT doc_id, pos,
         lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
  FROM rep
),
isl AS (
  SELECT doc_id, pos,
         sum(CASE WHEN pos - prev <= {_RK} THEN 0 ELSE 1 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM lagd
),
spans AS (
  SELECT doc_id, min(pos) AS span_start, max(pos) + {_RK - 1} AS span_end,
         max(pos) - min(pos) + {_RK} AS span_tokens
  FROM isl GROUP BY doc_id, grp
)"""

_REPEATED_PASSAGES_SQL = f"""
WITH {_REPEATED_SPANS_CORE}
SELECT doc_id, span_start, span_end, span_tokens FROM spans
"""

_REPEATED_COVERAGE_SQL = f"""
WITH {_REPEATED_SPANS_CORE},
cov AS (SELECT doc_id, sum(span_tokens) AS rt FROM spans GROUP BY doc_id)
SELECT d.doc_id,
       CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT) AS n_tokens,
       CAST(coalesce(c.rt, 0) AS BIGINT) AS repeated_tokens,
       round(coalesce(c.rt, 0) * 1.0
             / len(string_split_regex(trim(d.text), '\\s+')), 6) AS repeated_frac
FROM documents d LEFT JOIN cov c ON c.doc_id = d.doc_id
"""


def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The text-curation capstone (plans/curate.py): decontaminate ->
    quality gate -> near-dup clustering -> keep-best representative, one
    verdict row per training document (doc_id%100==0 plays the eval set).
    The whole composed plan — broadcast decontamination, Column-algebra
    quality gate, survivor-only LSH tier, CC, representative window — is
    hash-verified against a DuckDB twin that computes the identical
    precedence (eval_overlap > quality:short > quality:repetitive >
    quality:no_stopwords > near_duplicate) from the exact-Jaccard join."""
    from .plans.curate import curate_documents

    docs = load_documents(spark, sf_dir)
    return curate_documents(
        docs.filter(F.col("doc_id") % 100 != 0).select("doc_id", "text"),
        docs.filter(F.col("doc_id") % 100 == 0).select("doc_id", "text"),
        DEFAULT, jaccard_t=JACCARD_T,
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "status", "reason",
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("refers_to").cast("long").alias("refers_to"),
    )


_CURATE_SQL = f"""
WITH RECURSIVE
sall AS ({_SHINGLES_SQL}),
feat AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
         len(list_distinct(toks)) * 1.0 / len(toks) AS ttr,
         len(list_intersect(list_distinct(toks),
                            ['the','a','of','and','to','in'])) * 1.0
           / len(list_distinct(toks)) AS stop_ratio
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        FROM documents WHERE doc_id % 100 <> 0)
),
evd AS (SELECT DISTINCT shingle FROM
        (SELECT unnest(sh) AS shingle FROM sall WHERE doc_id % 100 = 0)),
cont AS (SELECT DISTINCT e.doc_id
         FROM (SELECT doc_id, unnest(sh) AS shingle FROM sall
               WHERE doc_id % 100 <> 0) e
         JOIN evd USING (shingle)),
pre AS (
  SELECT f.doc_id, f.n_tok,
    CASE WHEN c.doc_id IS NOT NULL THEN 'eval_overlap'
         WHEN f.n_tok < 20 THEN 'quality:short'
         WHEN f.ttr < 0.3 THEN 'quality:repetitive'
         WHEN f.stop_ratio < 0.05 THEN 'quality:no_stopwords'
    END AS pre_reason
  FROM feat f LEFT JOIN cont c ON c.doc_id = f.doc_id
),
surv AS (SELECT doc_id, n_tok FROM pre WHERE pre_reason IS NULL),
p2 AS ({_JACCARD_PAIRS_SQL}),
pe AS (SELECT id_a, id_b FROM p2
       JOIN surv sa ON sa.doc_id = p2.id_a
       JOIN surv sb ON sb.doc_id = p2.id_b),
edg AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pe
        UNION SELECT id_b, id_a FROM pe),
reach2(src, dst) AS (
  SELECT src, dst FROM edg
  UNION
  SELECT r.src, e.dst FROM reach2 r JOIN edg e ON r.dst = e.src
  WHERE e.dst <> r.src
),
clus AS (
  SELECT surv.doc_id, n_tok,
         coalesce(least(surv.doc_id, m), surv.doc_id) AS cluster_id
  FROM surv LEFT JOIN (SELECT src, min(dst) AS m FROM reach2 GROUP BY src)
       ON src = surv.doc_id
),
rk AS (
  SELECT doc_id, cluster_id,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY n_tok DESC, doc_id ASC) AS rn,
         first_value(doc_id) OVER (PARTITION BY cluster_id
                                   ORDER BY n_tok DESC, doc_id ASC) AS keeper
  FROM clus
)
SELECT doc_id, 'dropped' AS status, pre_reason AS reason,
       CAST(NULL AS BIGINT) AS cluster_id, CAST(NULL AS BIGINT) AS refers_to
FROM pre WHERE pre_reason IS NOT NULL
UNION ALL
SELECT doc_id,
       CASE WHEN rn = 1 THEN 'kept' ELSE 'dropped' END AS status,
       CASE WHEN rn = 1 THEN NULL ELSE 'near_duplicate' END AS reason,
       CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(CASE WHEN rn = 1 THEN NULL ELSE keeper END AS BIGINT) AS refers_to
FROM rk
"""


# --------------------------------------------------------------------------
# containment tier (tier 3) cross-engine proof — planted-structure pattern.
# The documents are 10-100 tokens (all below the 120-token long gate), so the
# table is augmented IDENTICALLY in both engines:
#   * long items (group+10M): concatenation of each 4-doc group's texts in
#     doc_id order (~220 tokens) — every natural short doc (<=64 tokens) is
#     verbatim-contained in its group's long with containment 1.0;
#   * scattered shorts (doc_id+20M): 20-token prefixes of two ADJACENT docs
#     in the same group, stitched — their fragment shingles are all in the
#     group long (containment ~36/38 >= 0.9 passes the set gate) but the
#     stitched token sequence is NOT contiguous there (both donors have
#     >= 25 tokens), so ONLY the verbatim substring verifier rejects them.
# Any drift in the min-hash probe join, posting caps, shingle hashing, or
# the mapInPandas suffix search vs the oracle's strpos is a hash mismatch.
# Candidate completeness in this regime: the probe explodes the short side's
# 4 smallest shingle hashes; a pair is missed only if ALL 4 smallest are
# absent from the long — impossible for natural shorts (subset) and for
# scattered plants (only the <=2 junction shingles can be absent).
# --------------------------------------------------------------------------

CONT_T = DEFAULT.containment_threshold
CONT_SHORT_MAX = DEFAULT.containment_max_short_tokens
CONT_LONG_MIN = DEFAULT.containment_min_long_tokens


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tier-3 short-in-long containment (operators/containment.py: min-hash
    probe equi-join + exact shingle-set containment, then the verbatim
    substring verifier via partition-local suffix search) over the
    planted-structure documents table == the exact short x long containment
    join with the identical two-stage gate (oracle). Output: every set-gate
    pair with its containment score plus is_verbatim (1 iff the short's
    token sequence appears contiguously in the long) — the scattered plants
    MUST surface with is_verbatim=0 on both engines. Generalizes the
    reference's digest-equality sanity check (DeDuplicator.java:169-172) to
    partial content reuse."""
    from .operators.containment import containment_pairs

    docs = load_documents(spark, sf_dir)
    base = docs.select("doc_id", F.split(F.trim("text"), r"\s+").alias("t"))
    longs = (
        base.groupBy(F.expr("doc_id DIV 4").alias("g"))
        .agg(F.flatten(F.transform(
            F.array_sort(F.collect_list(F.struct("doc_id", "t"))),
            lambda s: s["t"])).alias("t"))
        .select((F.col("g") + 10_000_000).alias("item_id"), "t")
    )
    a, b = base.alias("a"), base.alias("b")
    scat = (
        a.join(b, (F.col("b.doc_id") == F.col("a.doc_id") + 1)
               & (F.expr("a.doc_id DIV 4") == F.expr("b.doc_id DIV 4")))
        .filter((F.col("a.doc_id") % 8 == 1)
                & (F.size("a.t") >= 25) & (F.size("b.t") >= 25))
        .select((F.col("a.doc_id") + 20_000_000).alias("item_id"),
                F.concat(F.slice("a.t", 1, 20), F.slice("b.t", 1, 20)).alias("t"))
    )
    aug = base.select(F.col("doc_id").alias("item_id"), "t").unionAll(longs).unionAll(scat)
    items = aug.select(
        F.format_string("%012d", "item_id").alias("image_id"),
        F.concat_ws(" ", "t").alias("caption"),
    )
    from .operators.minhash import prepared_features

    items = items.persist()  # reused by the probe/verify sides AND the
    # verbatim caption joins; captions only, never payload bytes
    prep = prepared_features(items, with_signatures=False).persist()
    pairs = containment_pairs(items, prepared=prep, verbatim=False, flag_verbatim=True)
    return pairs.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.round("score", 6).alias("containment"),
        F.col("is_verbatim").cast("int").alias("is_verbatim"),
    )


_CONTAINMENT_PAIRS_SQL = f"""
WITH base AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
),
longs AS (
  SELECT (doc_id // 4) + 10000000 AS item_id,
         flatten(list(t ORDER BY doc_id)) AS t
  FROM base GROUP BY doc_id // 4
),
scat AS (
  SELECT a.doc_id + 20000000 AS item_id,
         list_concat(list_slice(a.t, 1, 20), list_slice(b.t, 1, 20)) AS t
  FROM base a JOIN base b
    ON b.doc_id = a.doc_id + 1 AND (a.doc_id // 4) = (b.doc_id // 4)
  WHERE a.doc_id % 8 = 1 AND len(a.t) >= 25 AND len(b.t) >= 25
),
aug AS (
  SELECT doc_id AS item_id, t FROM base
  UNION ALL SELECT item_id, t FROM longs
  UNION ALL SELECT item_id, t FROM scat
),
s AS (
  SELECT item_id, len(t) AS n_tok,
    list_distinct(CASE WHEN len(t) >= {SHINGLE_K}
      THEN list_transform(range(1, len(t) - {SHINGLE_K - 2}),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      ELSE [array_to_string(t, ' ')] END) AS sh,
    ' ' || array_to_string(t, ' ') || ' ' AS norm
  FROM aug
),
short AS (SELECT * FROM s WHERE n_tok <= {CONT_SHORT_MAX}),
lng AS (SELECT * FROM s WHERE n_tok >= {CONT_LONG_MIN}),
es AS (SELECT item_id, unnest(sh) AS shingle FROM short),
el AS (SELECT item_id, unnest(sh) AS shingle FROM lng),
p AS (
  SELECT es.item_id AS id_s, el.item_id AS id_l, count(*) AS inter
  FROM es JOIN el USING (shingle) GROUP BY 1, 2
),
c AS (
  SELECT p.id_s, p.id_l, p.inter * 1.0 / len(sh.sh) AS containment
  FROM p JOIN short sh ON sh.item_id = p.id_s
  WHERE p.inter * 1.0 / len(sh.sh) >= {CONT_T}
)
SELECT least(id_s, id_l) AS id_a, greatest(id_s, id_l) AS id_b,
       round(containment, 6) AS containment,
       CAST(strpos(ll.norm, ss.norm) > 0 AS INTEGER) AS is_verbatim
FROM c
JOIN short ss ON ss.item_id = c.id_s
JOIN lng ll ON ll.item_id = c.id_l
"""


def q_exact_digest_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tier-0 exact dedup table: digest + per-digest group size and
    representative (ref DIGEST_ANY + last-wins, IndexBuilder.java:227-236)."""
    docs = load_documents(spark, sf_dir)
    d = docs.select("doc_id", F.md5(F.col("text")).alias("digest"))
    w = Window.partitionBy("digest")
    return d.select(
        "doc_id",
        "digest",
        F.count("*").over(w).alias("group_n"),
        F.min("doc_id").over(w).alias("rep_id"),
    )


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplicate provenance matrix: every verified near-dup
    pair (shingle Jaccard >= t; exact dups appear at J = 1, so the exact
    tier is subsumed) becomes a (kept = min doc_id, dropped = max) edge,
    aggregated by (source of kept, source of dropped). This is the
    data-mixing diagnostic a multi-corpus pipeline reads before setting
    mixture weights: which sources merely restate which, and how many
    chars dedup moves between them — the reference's per-class byte
    counters (DeDuplicator.java:194-205) lifted from URL-classes to
    source-pairs. Adds one bounded groupBy over the already-bounded pair
    set; dup_chars sums the dropped side's n_chars (the bytes dedup
    saves, attributed to the pair)."""
    docs = load_documents(spark, sf_dir)
    pairs = q_ngram_jaccard_pairs(spark, sf_dir).select(
        F.least("id_a", "id_b").alias("kept"),
        F.greatest("id_a", "id_b").alias("dropped"),
    )
    src = docs.select("doc_id", "source", "n_chars")
    return (
        pairs
        .join(src.select(F.col("doc_id").alias("kept"),
                         F.col("source").alias("src_kept")), "kept")
        .join(src.select(F.col("doc_id").alias("dropped"),
                         F.col("source").alias("src_dropped"),
                         F.col("n_chars")), "dropped")
        .groupBy("src_kept", "src_dropped")
        .agg(F.count("*").alias("n_dup_docs"),
             F.sum("n_chars").cast("long").alias("dup_chars"))
    )


_SOURCE_OVERLAP_SQL = f"""
WITH pairs AS ({_JACCARD_PAIRS_CAPPED_SQL}),
e AS (
  SELECT least(id_a, id_b) AS kept, greatest(id_a, id_b) AS dropped
  FROM pairs
)
SELECT ka.source AS src_kept, kb.source AS src_dropped,
       count(*) AS n_dup_docs, CAST(sum(kb.n_chars) AS BIGINT) AS dup_chars
FROM e
JOIN documents ka ON ka.doc_id = e.kept
JOIN documents kb ON kb.doc_id = e.dropped
GROUP BY 1, 2
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: minimum md5 over the shingle set (one-permutation
    MinHash) — cheap join key for fingerprint-level dedup."""
    docs = load_documents(spark, sf_dir)
    sh = docs.select("doc_id", shingles(tokens(F.col("text")), SHINGLE_K).alias("sh"))
    return sh.select(
        "doc_id",
        F.array_min(F.transform("sh", lambda s: F.md5(s))).alias("fingerprint"),
        F.size("sh").cast("long").alias("n_shingles"),
    )


def q_shingle_df_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew observability: the document-frequency distribution of k-token
    shingles — one row per df value with how many distinct shingles have it
    and the total posting mass df * n (the quantity that explodes as df^2 in
    an uncapped inverted-index join). This histogram is the evidence behind
    every hot-key cap in the engine (the ngram tier's df cap, the
    containment posting cap, the audio print cap): at 100 TB you run THIS
    first, then set the cap where cumulative df^2 mass turns vertical.

    Shape: explode -> distinct (doc, shingle) -> groupBy shingle (map-side
    combined) -> bounded groupBy over df values. Output is df-histogram
    sized (hundreds of rows), never corpus-sized."""
    docs = load_documents(spark, sf_dir)
    sh = docs.select(
        "doc_id", F.explode(shingles(tokens(F.col("text")), SHINGLE_K)).alias("sh"))
    df_t = sh.groupBy("sh").agg(F.count(F.lit(1)).cast("long").alias("df"))
    return (
        df_t.groupBy("df")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shingles"),
             F.sum(F.col("df") * F.col("df")).cast("long").alias("join_mass"))
        .select("df", "n_shingles", "join_mass")
    )


_SHINGLE_HIST_SQL = f"""
WITH s AS ({{shingles_sql}}),
ex AS (SELECT doc_id, unnest(sh) AS sh FROM s),
dft AS (SELECT sh, CAST(count(*) AS BIGINT) AS df FROM ex GROUP BY sh)
SELECT df, CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(df * df) AS BIGINT) AS join_mass
FROM dft GROUP BY df
"""


# --------------------------------------------------------------------------
# flagship image pipeline and embedding ANN / near-dup queries
# --------------------------------------------------------------------------

def q_image_dedup_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship north-rule pipeline over the synthetic image+caption corpus
    (deterministic synth — input_hint schema): 4-tier cascade (exact sha256,
    pHash Hamming, MinHash/LSH captions, containment) -> PSNR verify -> CC
    clustering -> per-image verdict + lineage. No SQL oracle for THIS query
    (pixel decode / perceptual hashing are not SQL-expressible) — but the
    entire post-decode graph logic it runs (candidate_edges -> priority
    dedup -> CC -> verdict assembly) is hash-verified cross-engine by
    pipeline_verdicts; the codec layer is pinned by planted-truth recall
    pytests (tests/test_pipeline.py)."""
    from .plans.pipeline import run_pipeline
    from .synth import synthesize_images

    images = synthesize_images(spark, 1000).persist()
    images.count()
    res = run_pipeline(images)
    return res.verdicts.select(
        "image_id", "verdict",
        F.coalesce("dup_class", F.lit("none")).alias("dup_class"),
        "cluster_id",
        F.coalesce("refers_to_id", F.lit("none")).alias("refers_to_id"),
    )


def q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN variant: coarse centroid assignment (exact integer
    dots) -> nprobe centroid lists -> exact cosine rank. The inverted-file
    counterpart of the hyperplane-LSH path."""
    from .operators.ann import ann_topk_ivf

    emb = load_embeddings(spark, sf_dir)
    return ann_topk_ivf(emb, EMB_DIM)


def q_ann_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index LIFECYCLE: commit the IVF-flat inverted file to a parquet
    StageStore (centroids + cid-partitioned postings, with manifest and
    per-partition lineage) and probe the PERSISTED artifacts — train once,
    probe many, the reference's two-job index->probe shape
    (IndexingLauncher / DeDuplicator.java:149-192) on the embedding
    payload. The structure is deterministic (plans/ann_index.py), so this
    round-trips bit-identically to the in-memory q_ann_topk_ivf and shares
    its DuckDB oracle: a green hash match here proves the STORE+RELOAD
    path loses nothing, not just the math."""
    import os

    from .plans.ann_index import build_ann_index, probe_ann_index

    emb = load_embeddings(spark, sf_dir)
    # pid-scoped root: concurrent gate/bench processes must not race on the
    # same store (StageStore.write clears and rewrites the stage dir)
    root = os.path.join(
        "/tmp", "ann_index_store",
        f"{os.path.basename(os.path.normpath(sf_dir))}-{os.getpid()}")
    build_ann_index(emb, root)
    queries = emb.orderBy(F.col("vec_id").asc()).limit(20)
    return probe_ann_index(spark, root, queries)


def q_ann_index_increments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index APPEND lifecycle: train the IVF structure on the FIRST HALF
    of the corpus (by vec_id — the centroid rows, the smallest nlist ids,
    are already inside it), then append the remainder in TWO increments
    against the frozen centroids (plans/ann_index.append_ann_index), then
    probe the persisted store. Assignment depends only on the centroids, so
    the incremental build's postings are IDENTICAL to a one-shot build over
    the union — which is why this row shares the plain in-memory IVF DuckDB
    oracle: a green hash proves append-without-retrain loses nothing.
    Reference analog: IndexBuilder --add (IndexBuilder.java:94-104)."""
    import os

    from .plans.ann_index import (append_ann_index, build_ann_index,
                                  probe_ann_index)

    emb = load_embeddings(spark, sf_dir)
    root = os.path.join(
        "/tmp", "ann_index_store",
        f"inc-{os.path.basename(os.path.normpath(sf_dir))}-{os.getpid()}")
    n = emb.count()
    half, three_q = n // 2, (3 * n) // 4
    build_ann_index(emb.filter(F.col("vec_id") < half), root)
    append_ann_index(
        emb.filter((F.col("vec_id") >= half) & (F.col("vec_id") < three_q)),
        root)
    append_ann_index(emb.filter(F.col("vec_id") >= three_q), root)
    queries = emb.orderBy(F.col("vec_id").asc()).limit(20)
    return probe_ann_index(spark, root, queries)


NEARDUP_COS_T = 0.35  # driver embeddings are random; 0.35 yields a few
                      # hundred genuine pairs at sf0.01 to exercise the join


def q_embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup self-join via shared LSH buckets + exact
    cosine verify — the O(n + collisions) scale path (never an all-pairs
    cross join). Oracle: generated DuckDB twin (identical planes/probing)."""
    from .operators.ann import cosine_neardup_pairs

    emb = load_embeddings(spark, sf_dir)
    return cosine_neardup_pairs(emb, EMB_DIM, threshold=NEARDUP_COS_T)


def q_embedding_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-dedup keep-list (the SemDeDup recipe, arXiv:2303.09540, on
    Spark): connected components over the embedding-cosine near-dup graph,
    keep = cluster representative (min vec_id), drop the rest. The
    training-data curation verb embedding dedup exists for — the pair list
    becomes an actionable per-row keep/drop verdict with cluster lineage.
    Composes two independently-oracled pieces (cosine_neardup_pairs ==
    generated plane-exact twin; connected_components == recursive-CTE
    closure), so the oracle certifies the composition end-to-end."""
    from .operators.ann import cosine_neardup_pairs
    from .operators.candidates import canonical_pairs
    from .operators.components import connected_components

    emb = load_embeddings(spark, sf_dir)
    pairs = cosine_neardup_pairs(emb, EMB_DIM, threshold=NEARDUP_COS_T)
    p = pairs.select(F.format_string("%012d", "id_a").alias("id_a"),
                     F.format_string("%012d", "id_b").alias("id_b"))
    cc = connected_components(
        canonical_pairs(p),
        nodes=emb.select(F.format_string("%012d", "vec_id").alias("image_id")))
    return cc.select(
        F.col("image_id").cast("long").alias("vec_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        (F.col("image_id") == F.col("cluster_id")).cast("int").alias("keep"),
    )


# --------------------------------------------------------------------------
# perceptual-hash tiers with cross-engine oracles: a deterministic md5-derived
# 64-bit "phash" table is synthesized from documents IDENTICALLY in both
# engines (the captures-from-events pattern), with planted Hamming-1/-3
# near-dups and Hamming-5 negative controls. This gives the flagship banded
# pHash machinery (image tier) and the frame-sampled video tier the same
# cross-engine proof the caption LSH tier has: banded join + verify == the
# exact Hamming self-join (pigeonhole recall-1, functions/hashing.py).
# --------------------------------------------------------------------------

def _synth_ops(dialect: str) -> dict:
    """Dialect shims for the synthetic-phash arithmetic — ONE derivation
    rendered for both engines so the plant logic can never drift:
    60-bit md5 hash, xor, 1<<k, integer division."""
    if dialect == "spark":
        return {
            "H": lambda e: (f"CAST(conv(substring(md5(CAST({e} AS STRING)),"
                            " 1, 15), 16, 10) AS BIGINT)"),
            "XOR": lambda a, b: f"({a} ^ {b})",
            "SHL1": lambda k: f"shiftleft(CAST(1 AS BIGINT), CAST({k} AS INT))",
            "DIV": lambda a, b: f"({a} DIV {b})",
        }
    return {
        "H": lambda e: (f"CAST('0x' || substr(md5(CAST({e} AS STRING)),"
                        " 1, 15) AS BIGINT)"),
        "XOR": lambda a, b: f"xor({a}, {b})",
        "SHL1": lambda k: f"(CAST(1 AS BIGINT) << CAST({k} AS INT))",
        "DIV": lambda a, b: f"({a} // {b})",
    }


def synth_phash_sql(dialect: str, x: str = "doc_id") -> str:
    """64-bit phash with planted near-dups per decade anchor a = x - x%10:
    x%10==1 -> Hamming 1 from a, x%10==2 -> Hamming 3, x%10==3 -> Hamming 5
    (negative control: past the phash_max_hamming=3 verify bound), else an
    independent 60-bit md5 value."""
    o = _synth_ops(dialect)
    anchor = o["H"](f"({x} - ({x} % 10))")
    flip1 = o["XOR"](anchor, o["SHL1"](f"({x} % 13)"))
    f3 = anchor
    for off in (0, 13, 26):
        f3 = o["XOR"](f3, o["SHL1"](f"({off} + ({x} % 11))"))
    f5 = anchor
    for off in (0, 12, 24, 36, 48):
        f5 = o["XOR"](f5, o["SHL1"](f"({off} + ({x} % 9))"))
    return (f"CASE WHEN ({x} % 10) = 1 THEN {flip1}"
            f" WHEN ({x} % 10) = 2 THEN {f3}"
            f" WHEN ({x} % 10) = 3 THEN {f5}"
            f" ELSE {o['H'](x)} END")


def synth_frame_phash_sql(dialect: str, x: str = "doc_id") -> str:
    """Frame phashes for synthetic videos: video_id = x DIV 20 (20 frames
    each), frame base hash shared between partner videos 2v / 2v+1
    (group = x DIV 40). The odd partner re-encodes with noise: 4 of every 5
    frames drift Hamming 1 (within the <=3 verify bound), the 5th drifts
    Hamming 5 (no frame match) -> expected pair score 0.8."""
    o = _synth_ops(dialect)
    grp = o["DIV"](x, "40")
    fidx = f"({x} % 20)"
    base = o["H"](f"'vf:' || CAST({grp} AS STRING) || ':' || CAST({fidx} AS STRING)")
    flip1 = o["XOR"](base, o["SHL1"](f"({x} % 13)"))
    f5 = base
    for off in (0, 12, 24, 36, 48):
        f5 = o["XOR"](f5, o["SHL1"](f"({off} + ({x} % 9))"))
    odd = f"((({o['DIV'](x, '20')}) % 2) = 1)"
    return (f"CASE WHEN {odd} AND ({fidx} % 5) < 4 THEN {flip1}"
            f" WHEN {odd} THEN {f5}"
            f" ELSE {base} END")


def q_phash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The image tier's cross-engine proof: operators/simhash.near_image_pairs
    (banded 64-bit pHash equi-join, salted buckets, JVM bit_count(xor)
    verify — generalizing the reference's digest equality,
    LuceneIndexSearcher.java:274-276 / DeDuplicator.java:169-172) over the
    synthetic phash table == the exact O(n^2) Hamming<=3 self-join (oracle).
    4x16-bit bands are recall-1 for Hamming<=3 by pigeonhole, and planted
    buckets stay far below the star-fallback cap at driver scale, so the
    operator output EQUALS the exact join — any divergence in banding,
    salting, capping, or verify shows up as a hash mismatch."""
    from .operators.simhash import near_image_pairs

    docs = load_documents(spark, sf_dir)
    imgs = docs.select(
        F.format_string("%012d", "doc_id").alias("image_id"),
        F.expr(synth_phash_sql("spark", "doc_id")).alias("phash"),
    )
    pairs = near_image_pairs(imgs, DEFAULT)
    return pairs.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("score").cast("long").alias("hamming"),
    )


# one digest derivation rendered for both engines: %10==4 probes reuse their
# decade anchor's digest (planted exact duplicates), everything else is unique
_IIDX_DIGEST_SQL = ("md5('d:' || CAST(CASE WHEN doc_id % 10 = 4"
                    " THEN doc_id - 4 ELSE doc_id END AS STRING))")


def q_image_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's two-job lifecycle (IndexingLauncher §3.1 builds an
    index once; the DeDuplicator processor §3.2 probes each capture against
    it, DeDuplicator.java:149-192) applied to the IMAGE payload, cross-engine
    verified: plans/image_index.build_image_index + probe_images over a
    deterministic split of `documents` — decade anchors (doc_id%10==0) are
    the indexed corpus, the rest probe it. Digest plant: %10==4 reuses the
    anchor's digest (exact duplicate); phash plant: synth_phash_sql gives
    %10==1/2 a Hamming 1/3 near-dup of the anchor and %10==3 a Hamming-5
    negative control (novel). Oracle = the same split with an exact O(n*m)
    Hamming join and identical (hamming, idx_id) top-1 tiebreak; equality
    holds because the banded probe join is recall-1 for Hamming<=3 by
    pigeonhole and exact-beats-near mirrors DIGEST_URL_PREFERRED's
    preference order (LuceneIndexSearcher.java:131-170)."""
    from .plans.image_index import build_image_index, probe_images

    docs = load_documents(spark, sf_dir)
    base = docs.select(
        "doc_id",
        F.format_string("%012d", "doc_id").alias("image_id"),
        F.expr(_IIDX_DIGEST_SQL).alias("digest"),
        F.expr(synth_phash_sql("spark", "doc_id")).alias("phash"),
    )
    anchors = base.filter(F.col("doc_id") % 10 == 0)
    index = build_image_index(anchors.select("image_id", "phash"),
                              digests=anchors.select("image_id", "digest"))
    probes = base.filter(F.col("doc_id") % 10 != 0) \
        .select("image_id", "digest", "phash")
    v = probe_images(probes, index, DEFAULT)
    return v.select(
        F.col("image_id").cast("long").alias("probe_id"),
        "verdict",
        F.col("refers_to_id").cast("long").alias("refers_to_id"),
        F.col("hamming"),
    )


def q_image_index_increments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-increment index GROWTH — the reference's APPEND indexing mode
    (K1: IndexingLauncher CREATE vs APPEND, IndexBuilder.java:94-104)
    cross-engine proven over three chained increments: decade anchors
    (doc_id%10==0) seed the index, then each increment (doc_id%3 buckets of
    the rest) probes the CURRENT index and only its novel rows are appended
    before the next increment probes — so a verdict in increment t can refer
    to a row that entered the index as a novel in increment t-1, which is
    exactly the semantics a single-shot probe cannot exhibit. Same planted
    digest/phash structure as image_index_probe, plus one increment-crossing
    plant: %10==7 reuses the digest of its block's %10==3 row — a NOVEL that
    is never in the seed index, and (since doc and doc-4 always land in
    different %3 increments) whichever probes later MUST resolve against the
    row the earlier increment appended. Oracle = three chained CTE stages
    with the identical exact-beats-near precedence, (hamming, idx_id) top-1
    tiebreak, and novel-only append."""
    from functools import reduce

    from .plans.image_index import build_image_index, probe_and_extend

    docs = load_documents(spark, sf_dir)
    base = docs.select(
        "doc_id",
        F.format_string("%012d", "doc_id").alias("image_id"),
        F.expr(_IINC_DIGEST_SQL).alias("digest"),
        F.expr(synth_phash_sql("spark", "doc_id")).alias("phash"),
    )
    anchors = base.filter(F.col("doc_id") % 10 == 0)
    index = build_image_index(anchors.select("image_id", "phash"),
                              digests=anchors.select("image_id", "digest"))
    outs = []
    for t in range(3):
        inc = base.filter(
            (F.col("doc_id") % 10 != 0) & (F.col("doc_id") % 3 == t)
        ).select("image_id", "digest", "phash")
        verdicts, index = probe_and_extend(inc, index, DEFAULT)
        # lazy localCheckpoint, not persist: each stage's plan EMBEDS the
        # previous index's plan (verdicts -> index_{t-1}; index_t -> both),
        # so lineage grows geometrically across increments and Catalyst
        # re-optimizes the whole history per stage — checkpointing truncates
        # the logical plan itself (the CC operator's lesson applied to the
        # lifecycle chain; ~2.4x on this query at sf0.1)
        verdicts = verdicts.localCheckpoint(eager=False)
        index = index.localCheckpoint(eager=False)
        outs.append(verdicts.select(
            F.lit(t).cast("long").alias("increment"),
            F.col("image_id").cast("long").alias("probe_id"),
            "verdict",
            F.col("refers_to_id").cast("long").alias("refers_to_id"),
            "hamming",
        ))
    return reduce(DataFrame.unionByName, outs)


# image_index_increments digest plant: %10==4 -> its anchor's digest (exact
# dup of the seed index, as in image_index_probe); %10==7 -> the digest of
# its block's %10==3 row (a novel appended mid-sequence; doc and doc-4 are
# 4 apart so they always fall in DIFFERENT %3 increments, forcing a
# cross-increment hit against the grown index)
_IINC_DIGEST_SQL = ("md5('d:' || CAST(CASE WHEN doc_id % 10 = 4"
                    " OR doc_id % 10 = 7"
                    " THEN doc_id - 4 ELSE doc_id END AS STRING))")


def _image_index_increments_oracle() -> str:
    stages = []
    for t in range(3):
        prev = f"idx{t}"
        stages.append(f"""
inc{t} AS (SELECT doc_id, digest, phash FROM base
           WHERE doc_id % 10 <> 0 AND doc_id % 3 = {t}),
exr{t} AS (SELECT digest, min(doc_id) AS ref FROM {prev} GROUP BY digest),
ex{t} AS (SELECT i.doc_id, e.ref FROM inc{t} i JOIN exr{t} e USING (digest)),
ibp{t} AS (SELECT phash, min(doc_id) AS idx_id FROM {prev} GROUP BY phash),
na{t} AS (
  SELECT i.doc_id, b.idx_id,
         CAST(bit_count(xor(i.phash, b.phash)) AS BIGINT) AS h
  FROM inc{t} i JOIN ibp{t} b
    ON bit_count(xor(i.phash, b.phash)) <= {DEFAULT.phash_max_hamming}
  WHERE i.doc_id NOT IN (SELECT doc_id FROM ex{t})
),
nr{t} AS (
  SELECT doc_id, idx_id, h,
         row_number() OVER (PARTITION BY doc_id ORDER BY h, idx_id) AS rn
  FROM na{t}
),
v{t} AS (
  SELECT doc_id, 'duplicate' AS verdict, ref AS refers_to_id,
         CAST(NULL AS BIGINT) AS hamming
  FROM ex{t}
  UNION ALL
  SELECT doc_id, 'near_duplicate', idx_id, h FROM nr{t} WHERE rn = 1
  UNION ALL
  SELECT i.doc_id, 'novel', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
  FROM inc{t} i
  WHERE i.doc_id NOT IN (SELECT doc_id FROM ex{t})
    AND i.doc_id NOT IN (SELECT doc_id FROM nr{t})
),
idx{t + 1} AS (
  SELECT * FROM {prev}
  UNION ALL
  SELECT i.doc_id, i.digest, i.phash
  FROM inc{t} i JOIN v{t} v ON v.doc_id = i.doc_id AND v.verdict = 'novel'
)""")
    selects = "\nUNION ALL\n".join(
        f"SELECT {t} AS increment, doc_id AS probe_id, verdict,"
        f" refers_to_id, hamming FROM v{t}" for t in range(3))
    return f"""
WITH base AS (
  SELECT doc_id, {_IINC_DIGEST_SQL} AS digest,
         {synth_phash_sql('duckdb', 'doc_id')} AS phash
  FROM documents
),
idx0 AS (SELECT doc_id, digest, phash FROM base WHERE doc_id % 10 = 0),
{','.join(stages)}
{selects}
"""


_CIDX_DIGEST_SQL = ("md5('c:' || CAST(CASE WHEN doc_id % 10 = 4"
                    " THEN doc_id - 4 ELSE doc_id END AS STRING))")


def q_caption_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §3.1/§3.2 index->probe lifecycle on the TEXT payload
    (plans/caption_index.py), cross-engine verified on the same decade split
    as image_index_probe: anchors (doc_id%10==0) are indexed, the rest probe.
    Exact tier: planted digest (%10==4 reuses the anchor's). Near tier: LSH
    band agreement + exact-Jaccard verify over the REAL document texts,
    top-1 by (jaccard desc, index id asc). Oracle = exact cross-set
    shingle-Jaccard join with the identical precedence and tiebreak;
    equality holds because b=32/r=4 banding misses a J>=0.8 pair w.p. ~5e-8
    (the minhash_lsh_pairs argument, cross-set form)."""
    from .plans.caption_index import build_caption_index, probe_captions

    docs = load_documents(spark, sf_dir)
    base = docs.select(
        "doc_id",
        F.format_string("%012d", "doc_id").alias("image_id"),
        F.col("text").alias("caption"),
        F.expr(_CIDX_DIGEST_SQL).alias("digest"),
    )
    anchors = base.filter(F.col("doc_id") % 10 == 0)
    index = build_caption_index(
        anchors.select("image_id", "caption"),
        digests=anchors.select("image_id", "digest"))
    rest = base.filter(F.col("doc_id") % 10 != 0)
    probes = build_caption_index(
        rest.select("image_id", "caption"),
        digests=rest.select("image_id", "digest"))
    v = probe_captions(probes, index, DEFAULT)
    return v.select(
        F.col("image_id").cast("long").alias("probe_id"),
        "verdict",
        F.col("refers_to_id").cast("long").alias("refers_to_id"),
        F.round("jaccard", 6).alias("jaccard"),
    )


_CAPTION_PROBE_SQL = f"""
WITH s0 AS ({_SHINGLES_SQL}),
s AS (SELECT doc_id, {_CIDX_DIGEST_SQL} AS digest, sh FROM s0),
idx AS (SELECT * FROM s WHERE doc_id % 10 = 0),
probes AS (SELECT * FROM s WHERE doc_id % 10 <> 0),
exact AS (
  SELECT p.doc_id, min(i.doc_id) AS ref
  FROM probes p JOIN idx i ON p.digest = i.digest GROUP BY p.doc_id
),
pe AS (
  SELECT doc_id, unnest(sh) AS shingle FROM probes
  WHERE doc_id NOT IN (SELECT doc_id FROM exact)
),
ie AS (SELECT doc_id, unnest(sh) AS shingle FROM idx),
inter AS (
  SELECT p.doc_id AS pid, i.doc_id AS iid, count(*) AS n
  FROM pe p JOIN ie i ON p.shingle = i.shingle GROUP BY 1, 2
),
z AS (SELECT doc_id, len(sh) AS nsh FROM s),
scored AS (
  SELECT pid, iid, n * 1.0 / (zp.nsh + zi.nsh - n) AS jaccard
  FROM inter JOIN z zp ON zp.doc_id = pid JOIN z zi ON zi.doc_id = iid
  WHERE n * 1.0 / (zp.nsh + zi.nsh - n) >= {JACCARD_T}
),
near AS (
  SELECT pid, iid, jaccard,
         row_number() OVER (PARTITION BY pid
                            ORDER BY jaccard DESC, iid ASC) AS rn
  FROM scored
)
SELECT doc_id AS probe_id, 'duplicate' AS verdict, ref AS refers_to_id,
       CAST(NULL AS DOUBLE) AS jaccard
FROM exact
UNION ALL
SELECT pid, 'near_duplicate', iid, round(jaccard, 6) FROM near WHERE rn = 1
UNION ALL
SELECT p.doc_id, 'novel', CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
FROM probes p
WHERE p.doc_id NOT IN (SELECT doc_id FROM exact)
  AND p.doc_id NOT IN (SELECT pid FROM near)
"""


def _pipeline_feature_frames(spark: SparkSession, sf_dir: str):
    """The deterministic (images, digests) feature frames both engines derive
    from `documents` (digest = md5(text), phash = synth plant, caption =
    text) — shared by the pipeline_* and tier_overlap gate rows."""
    docs = load_documents(spark, sf_dir)
    imgs = docs.select(
        F.format_string("%012d", "doc_id").alias("image_id"),
        F.col("text").alias("caption"),
        F.expr(synth_phash_sql("spark", "doc_id")).alias("phash"),
    )
    digests = docs.select(
        F.format_string("%012d", "doc_id").alias("image_id"),
        F.md5("text").alias("digest"),
    )
    return imgs, digests


def _pipeline_feature_graph(spark: SparkSession, sf_dir: str):
    """Shared assembly for the pipeline_verdicts / pipeline_metrics gate
    rows: the REAL plans/pipeline machinery (candidate_edges -> tier-priority
    edge dedup -> connected_components -> verdicts_from_clusters) over the
    deterministic feature tables both engines derive from `documents`
    (digest = md5(text), phash = synth plant, caption = text). Returns
    (images, edges, verdicts)."""
    from .operators.candidates import canonical_pairs
    from .operators.components import connected_components
    from .plans.pipeline import candidate_edges, verdicts_from_clusters

    imgs, digests = _pipeline_feature_frames(spark, sf_dir)
    imgs = imgs.persist()
    edges = candidate_edges(
        imgs, DEFAULT, tiers=("exact", "near_image", "near_caption"),
        verify_pixels=False, digests=digests,
    ).persist()
    clusters = connected_components(
        canonical_pairs(edges), nodes=imgs.select("image_id"))
    v = verdicts_from_clusters(imgs, clusters, edges)
    return imgs, edges, v


def q_pipeline_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-rule metrics table as a gate row: plans/pipeline.
    build_metrics — the SAME lazy counter plan the flagship DedupResult
    carries (rows scanned, quarantined, per-tier + total verified candidate
    pairs, merge verdict counts) — evaluated over the deterministic feature
    graph of q_pipeline_verdicts, so the DuckDB twin can re-derive every
    counter from the shared CTE graph. No driver collect: the counters stay
    one aggregation plan, exactly as the reference's AtomicLong crawl
    counters (DeDuplicator.java:54-94) become queries here."""
    from .plans.pipeline import build_metrics

    imgs, edges, v = _pipeline_feature_graph(spark, sf_dir)
    return build_metrics("gate", imgs, edges, v).select(
        "run_id", "stage", "metric", F.col("value").cast("double").alias("value"))


def q_pipeline_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine proof of the FLAGSHIP pipeline's post-decode graph logic:
    the REAL plans/pipeline machinery (candidate_edges -> tier-priority edge
    dedup -> connected_components -> verdicts_from_clusters, i.e. the exact
    code image_dedup_verdicts runs) over deterministic feature tables both
    engines can derive from `documents`:

      digest = md5(text)                  -> exact tier (star edges)
      phash  = synth_phash_sql plant      -> near_image tier (banded+verify)
      caption = text                      -> near_caption tier (MinHash/LSH)

    == a DuckDB twin that unions the three tiers' exact-form pair sets
    (digest equi-join, O(n^2) Hamming<=3 join, exact-Jaccard join), keeps the
    min-priority tier per pair, closes components with a recursive CTE, and
    assembles verdict/dup_class/refers_to lineage identically. Only the codec
    layer (pixel decode, sha256-of-bytes, PSNR) stays outside — it is pinned
    by planted-truth pytests (tests/test_pipeline.py); everything downstream
    of feature extraction is now hash-verified cross-engine. Reference
    semantics: verdict+lineage of DeDuplicator.java:149-205 generalized;
    exact-tier star edges and LSH/banded tiers equal their exact-join oracles
    at this scale (green rows phash_neardup_pairs / minhash_lsh_pairs), so
    composition preserves equality. Containment is omitted: raw documents
    are all below the 120-token long gate (its green oracle row uses the
    augmented planted-structure table)."""
    imgs, edges, v = _pipeline_feature_graph(spark, sf_dir)
    return v.select(
        F.col("image_id").cast("long").alias("doc_id"),
        "verdict",
        F.coalesce("dup_class", F.lit("none")).alias("dup_class"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("refers_to_id").cast("long").alias("refers_to_id"),
    )


def q_tier_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tier-overlap ablation report: every verified duplicate pair grouped by
    the SET of tiers that independently found it ('exact',
    'exact+near_caption', 'near_image+near_caption', ...) with pair counts —
    the capacity-planning query that says which tier pays its way at 100 TB
    (a tier whose pairs are all co-found by a cheaper tier can be switched
    off; one with a large exclusive signature cannot). Runs the REAL
    candidate_edges machinery with dedup_pairs=False (the raw per-tier union,
    before the priority window collapses each pair to its best tier) over the
    same deterministic feature frames as pipeline_verdicts == a DuckDB twin
    aggregating the shared tier_edges CTE. One extra shuffle on (id_a, id_b)
    then a tiny groupBy on the signature string — nothing new materializes.
    Reference analog: the dup-classification counter split of
    DeDuplicator.java:194-205, generalized from 'which single class' to
    'which subset of tiers'."""
    from .plans.pipeline import candidate_edges

    imgs, digests = _pipeline_feature_frames(spark, sf_dir)
    # round 5: the ablation includes the optional WINNOW tier (off in the
    # default pipeline) so its marginal pair signature — pairs NO other tier
    # finds — is cross-engine measured, not asserted (VERDICT r4 item #4)
    raw = candidate_edges(
        imgs, DEFAULT, tiers=("exact", "near_image", "near_caption",
                              "winnow"),
        verify_pixels=False, digests=digests, dedup_pairs=False,
    )
    sig = (
        raw.groupBy("id_a", "id_b")
        .agg(F.concat_ws("+", F.array_sort(F.collect_set("tier"))).alias("tiers"))
    )
    return (
        sig.groupBy("tiers")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("tiers")
    )


def q_cluster_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overmerge audit: per-cluster edge density over the verified pair graph.
    Transitive closure is the one step of the cascade that can only grow
    clusters — LSH banding plus connected components chains A~B~C into
    {A,B,C} even when A~C was never verified (the classic MinHash-dedup
    overmerge failure at corpus scale). Density = verified_edges /
    (size choose 2) is the audit signal: 1.0 means every member pair was
    independently verified (a clique — safe), values near 2/size mean a bare
    chain (review before dropping millions of rows). One groupBy on the
    existing cluster shuffle key and one broadcast-size join — nothing new
    materializes at 100 TB. Same deterministic feature graph as
    pipeline_verdicts == a DuckDB twin over the shared graph CTEs.
    Reference analog: the reference never chains (every duplicate refers
    directly to an indexed original, DeDuplicator.java:149-205), so its
    clusters are stars by construction; this query is what makes the
    generalized closure safe to operate."""
    imgs, edges, v = _pipeline_feature_graph(spark, sf_dir)
    sizes = (
        v.groupBy("cluster_id").agg(F.count("*").alias("size"))
        .filter(F.col("size") >= 2)
    )
    n_edges = (
        edges.join(
            v.select(F.col("image_id").alias("id_a"), "cluster_id"), "id_a")
        .groupBy("cluster_id")
        .agg(F.count("*").alias("n_edges"))
    )
    return (
        sizes.join(n_edges, "cluster_id")
        .select(
            F.col("cluster_id").cast("long").alias("cluster_id"),
            "size",
            "n_edges",
            F.round(
                F.col("n_edges") / (F.col("size") * (F.col("size") - 1) / F.lit(2.0)),
                6,
            ).alias("density"),
        )
    )


def q_simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-SimHash near-dup: functions/hashing.simhash64 over caption
    tokens with an engine-portable md5-derived feature hash, then the SAME
    banded machinery as the image tier (operators/simhash.near_image_pairs:
    4x16-bit pigeonhole bands, salted candidate buckets, bit_count(xor)
    verify) == the exact O(n^2) Hamming<=3 self-join over identically
    computed simhashes (generated oracle — DuckDB folds the same 60 bit
    sums from the same md5 token hashes). Planted variants (doc_id+10M:
    one appended token) sit a few sign-flips from their base, exercising
    Hamming 1-3; exact text dups pair at Hamming 0.

    Signatures come from the vectorized Arrow pass (simhash_features) —
    the Column-algebra simhash64 computes the identical value (pinned by
    test_simhash_feature_parity) but 64 interpreted aggregate() folds are
    ~10x slower on real corpora; same trade as the MinHash path."""
    from .operators.simhash import near_image_pairs, simhash_features

    docs = load_documents(spark, sf_dir)
    aug = docs.select(F.col("doc_id").alias("item_id"), "text").unionAll(
        docs.filter(F.col("doc_id") % 3 == 1).select(
            (F.col("doc_id") + 10_000_000).alias("item_id"),
            F.concat("text", F.lit(" zs"), (F.col("doc_id") % 9).cast("string")).alias("text"),
        )
    )
    # documents parquet is 1-2 splits at test SFs; spread the Arrow hashing
    # pass across all cores (tiny shuffle of raw text, same as crawl_log)
    aug = aug.repartition(spark.sparkContext.defaultParallelism)
    imgs = simhash_features(aug, md5_hash=True).select(
        F.format_string("%012d", "item_id").alias("image_id"),
        F.col("simhash").alias("phash"),
    )
    pairs = near_image_pairs(imgs, DEFAULT)
    return pairs.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("score").cast("long").alias("hamming"),
    )


def _simhash_pairs_oracle_sql() -> str:
    """DuckDB twin of q_simhash_neardup_pairs: identical augmented table,
    identical md5-derived 60-bit token hashes, identical sign-sum fold, then
    the exact Hamming<=3 self-join (recall-1 reference for the banded
    operator by pigeonhole)."""
    hv = "CAST('0x' || substr(md5(w), 1, 15) AS BIGINT)"
    bit_sums = ",\n    ".join(
        f"sum(((hv >> {i}) & 1) * 2 - 1) AS b{i}" for i in range(60))
    fold = " | ".join(
        f"(CASE WHEN b{i} > 0 THEN (CAST(1 AS BIGINT) << {i}) ELSE CAST(0 AS BIGINT) END)"
        for i in range(60))
    return f"""
WITH aug AS (
  SELECT doc_id AS item_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000, text || ' zs' || CAST(doc_id % 9 AS VARCHAR)
  FROM documents WHERE doc_id % 3 = 1
),
tok AS (
  SELECT item_id, unnest(string_split_regex(trim(text), '\\s+')) AS w FROM aug
),
h AS (SELECT item_id, w, {hv} AS hv FROM tok),
bits AS (
  SELECT item_id,
    {bit_sums}
  FROM h GROUP BY item_id
  HAVING bool_or(w <> '')  -- no tokens (empty or blank text): null simhash
),
sh AS (SELECT item_id, ({fold}) AS simhash FROM bits),
s AS (
  SELECT aug.item_id, sh.simhash
  FROM aug LEFT JOIN sh ON sh.item_id = aug.item_id
),
banded AS (
  -- same 4 x 16-bit pigeonhole bands as functions/hashing.phash_band_keys
  -- (the 60-bit md5 simhash is non-negative, so >> is a logical shift)
  SELECT item_id, simhash, b, (simhash >> (b * 16)) & 65535 AS key
  FROM s CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b) t
),
buckets AS (
  SELECT b, key, count(*) AS n, min(item_id) AS mn
  FROM banded GROUP BY 1, 2
),
-- mirror candidate_pairs_from_bands: buckets <= hot_band_threshold emit
-- all pairs; bigger (boilerplate) buckets fall back to star edges around
-- the bucket minimum — the documented bounded-emission semantics (CC
-- restores full clusters), now oracle-exact at EVERY scale, not only
-- while buckets stay under the cap
cands AS (
  SELECT DISTINCT id_a, id_b FROM (
    SELECT x.item_id AS id_a, y.item_id AS id_b
    FROM banded x
    JOIN banded y ON x.b = y.b AND x.key = y.key AND x.item_id < y.item_id
    JOIN buckets k ON k.b = x.b AND k.key = x.key
      AND k.n <= {DEFAULT.hot_band_threshold}
    UNION ALL
    SELECT k.mn AS id_a, x.item_id AS id_b
    FROM banded x
    JOIN buckets k ON k.b = x.b AND k.key = x.key
      AND k.n > {DEFAULT.hot_band_threshold}
    WHERE x.item_id <> k.mn
  )
)
SELECT c.id_a, c.id_b,
       CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
FROM cands c
JOIN s sa ON sa.item_id = c.id_a
JOIN s sb ON sb.item_id = c.id_b
WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {DEFAULT.phash_max_hamming}
"""


def q_near_video_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The video tier's cross-engine proof: operators/video.
    near_video_pairs_from_frames (banded frame equi-join + per-side distinct
    matched-frame scoring) over synthetic frame phashes == the exact frame
    Hamming self-join with identical scoring (oracle). Odd partner videos
    re-encode 16/20 frames within Hamming 1 -> score 0.8 >= the 0.5 gate."""
    from .operators.video import near_video_pairs_from_frames

    docs = load_documents(spark, sf_dir)
    frames = docs.select(
        F.format_string("%012d", F.expr("doc_id DIV 20")).alias("video_id"),
        (F.col("doc_id") % 20).cast("int").alias("frame_idx"),
        F.expr(synth_frame_phash_sql("spark", "doc_id")).alias("frame_phash"),
    )
    pairs = near_video_pairs_from_frames(frames, DEFAULT, min_shared_frac=0.5)
    return pairs.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.round("score", 6).alias("score"),
    )


def synth_audio_print_sql(dialect: str, x: str = "doc_id") -> str:
    """Subfingerprints for synthetic audios: audio_id = x DIV 20 (20 windows
    each), print base shared between partner audios 2a / 2a+1
    (group = x DIV 40). The odd partner is the same clip SHIFTED by 3
    windows: its window w carries the base print of window w+3, for w < 17
    in strong groups (aligned matches 17/20 -> score 0.85 >= the 0.5 gate)
    and w < 8 in weak groups g%4==3 (8/20 = 0.4 — negative control below the
    gate); remaining windows are per-row noise prints."""
    o = _synth_ops(dialect)
    g = o["DIV"](x, "40")
    aid = o["DIV"](x, "20")
    wn = f"({x} % 20)"
    base_shift = o["H"](f"'aw:' || CAST({g} AS STRING) || ':' || CAST({wn} + 3 AS STRING)")
    base = o["H"](f"'aw:' || CAST({g} AS STRING) || ':' || CAST({wn} AS STRING)")
    noise = o["H"](f"'an:' || CAST({x} AS STRING)")
    odd = f"(({aid}) % 2 = 1)"
    aligned = f"(CASE WHEN ({g}) % 4 = 3 THEN 8 ELSE 17 END)"
    return (f"CASE WHEN {odd} AND {wn} < {aligned} THEN {base_shift}"
            f" WHEN {odd} THEN {noise}"
            f" ELSE {base} END")


def q_near_audio_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio tier's cross-engine proof: operators/audio.
    near_audio_pairs_from_prints (hot-print drop + exact subfingerprint
    equi-join + offset-consistent alignment vote + best-offset scoring) over
    synthetic window prints == the identical derivation in SQL (oracle).
    Odd partner audios are shift-by-3 re-masters: strong groups align 17/20
    windows at offset +3 (score 0.85), weak groups g%4==3 align 8/20 (0.4,
    below the 0.5 gate — proves the gate binds). The planted print
    frequencies stay far below AUDIO_PRINT_CAP, and the cap rule itself is
    mirrored in the oracle's HAVING clause, so parity holds even where it
    would bind at larger scale."""
    from .operators.audio import near_audio_pairs_from_prints

    docs = load_documents(spark, sf_dir)
    prints = docs.select(
        F.format_string("%012d", F.expr("doc_id DIV 20")).alias("audio_id"),
        (F.col("doc_id") % 20).cast("int").alias("win_idx"),
        F.expr(synth_audio_print_sql("spark", "doc_id")).alias("print"),
    )
    pairs = near_audio_pairs_from_prints(prints)
    return pairs.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "offset", "n_matched", "score",
    )


def _near_audio_oracle() -> str:
    from .operators.audio import AUDIO_MIN_SHARED, AUDIO_PRINT_CAP

    return f"""
WITH pr AS (
  SELECT doc_id // 20 AS aid, CAST(doc_id % 20 AS INTEGER) AS win,
         {synth_audio_print_sql("duckdb", "doc_id")} AS print
  FROM documents
),
nw AS (SELECT aid, CAST(count(*) AS BIGINT) AS n_win FROM pr GROUP BY aid),
keep AS (SELECT print FROM pr GROUP BY print
         HAVING count(*) <= {AUDIO_PRINT_CAP}),
p2 AS (SELECT pr.* FROM pr JOIN keep USING (print)),
votes AS (
  SELECT a.aid AS ia, b.aid AS ib, a.win - b.win AS delta,
         CAST(count(*) AS BIGINT) AS n_matched
  FROM p2 a JOIN p2 b ON a.print = b.print AND a.aid < b.aid
  GROUP BY 1, 2, 3
),
best AS (
  SELECT *, row_number() OVER (PARTITION BY ia, ib
                               ORDER BY n_matched DESC, delta ASC) AS rn
  FROM votes
)
SELECT b.ia AS id_a, b.ib AS id_b, CAST(b.delta AS BIGINT) AS offset,
       b.n_matched,
       round(b.n_matched * 1.0 / least(na.n_win, nb.n_win), 6) AS score
FROM best b JOIN nw na ON na.aid = b.ia JOIN nw nb ON nb.aid = b.ib
WHERE b.rn = 1
  AND round(b.n_matched * 1.0 / least(na.n_win, nb.n_win), 6) >= {AUDIO_MIN_SHARED}
"""


def q_lastwins_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 last-wins upsert: latest capture per (url, digest)."""
    c = captures_from_events(load_events(spark, sf_dir)).filter(F.col("status") == 200)
    idx = last_wins_upsert(
        c.limit(0).select("url", "digest", "ts", "record_id"),
        c.select("url", "digest", "ts", "record_id"),
    )
    return idx.select(
        "url", "digest", F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"), "record_id"
    )


def q_crawl_log_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/P3/P5/P6/F2/F8: Heritrix crawl.log lines are RENDERED from events
    (deterministic 13-field format incl. 17-digit fetch timestamp with
    +duration tail, sha1:-prefixed digest, revisit annotation, JSON
    extra-info on revisit rows only), then parsed back with the real
    crawl-log source operator. The oracle derives the expected parsed rows
    directly — so the whole render->parse round trip is verified."""
    from .sources.crawl_log import parse_crawl_log_lines

    # the events table is one small file -> one input split; spread the
    # render+parse regex work across the cluster up front (at real scale log
    # files split naturally — small-file testdata artifact)
    c = captures_from_events(load_events(spark, sf_dir))
    is_rev = F.col("probe_id") % 5 == 0
    line = F.concat_ws(
        " ",
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        F.col("status").cast("string"),
        F.col("bytes_len").cast("string"),
        F.col("url"),
        F.lit("L"),
        F.lit("-"),
        F.col("mime"),
        F.lit("#042"),
        F.concat(F.date_format("ts", "yyyyMMddHHmmss"), F.lit("000+"),
                 (F.col("probe_id") % 900 + 100).cast("string")),
        F.concat(F.lit("sha1:"), F.col("digest")),
        F.lit("-"),
        F.when(is_rev, "duplicate:digest,Revisit:IdenticalPayloadDigest").otherwise("-"),
        F.when(is_rev, F.concat(
            F.lit('{"RevisitProfile":"uri:revisit","RevisitRefersToURI":"'),
            F.col("url_canon"),
            F.lit('","RevisitRefersToDate":"2020-01-01T00:00:00Z"}'),
        )),
    )
    parsed = parse_crawl_log_lines(c.select(line.alias("value")))
    return parsed.select(
        "url",
        "status",
        "bytes_len",
        "mime",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("fetch_ts"),
        "digest",
        "digest_stripped",
        "revisit",
        "original_url",
    )


def _index_captures(events: DataFrame) -> DataFrame:
    """Captures extended with revisit lineage for the composed index build:
    every 5th probe is a revisit (original = canonicalized url, 1h earlier);
    every 25th is an UNRESOLVED revisit (original fields null -> F7 gate).
    Digests carry a scheme prefix so P2 stripping is exercised."""
    c = captures_from_events(events)
    is_rev = F.col("probe_id") % 5 == 0
    unres = F.col("probe_id") % 25 == 0
    return c.select(
        "url",
        F.concat(F.lit("sha1:"), F.col("digest")).alias("digest"),
        "ts", "record_id", "mime", "status",
        is_rev.alias("revisit"),
        F.when(is_rev & ~unres, F.col("url_canon")).alias("original_url"),
        F.when(is_rev & ~unres,
               F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("original_ts"),
    )


_INDEX_CAPTURES_SQL = f"""
SELECT url,
  'sha1:' || digest AS digest,
  ts, record_id, mime, status,
  probe_id % 5 = 0 AS revisit,
  CASE WHEN probe_id % 5 = 0 AND probe_id % 25 <> 0 THEN url_canon END AS original_url,
  CASE WHEN probe_id % 5 = 0 AND probe_id % 25 <> 0 THEN ts - INTERVAL 1 HOUR END AS original_ts
FROM ({_CAPTURES_SQL})
"""

_INDEX_BUILD_CORE_SQL = f"""
caps AS ({_INDEX_CAPTURES_SQL}),
eligible AS (
  SELECT CASE WHEN revisit THEN original_url ELSE url END AS url,
         digest,
         CASE WHEN revisit THEN original_ts ELSE ts END AS ts,
         record_id, coalesce(mime, 'unknown') AS mime
  FROM caps
  WHERE status = 200
    AND NOT regexp_matches(coalesce(mime, 'unknown'), '^text/.*')
    AND NOT (revisit AND (original_url IS NULL OR original_ts IS NULL))
    AND NOT contains(url, '"')
),
enriched AS (
  SELECT url, {canonicalize_sql("url")} AS url_canon, digest,
         regexp_replace(digest, '^.*:', '') AS digest_stripped,
         ts, record_id, mime
  FROM eligible
),
lastwins AS (
  SELECT url, url_canon, digest, digest_stripped, ts, record_id, mime
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY url, digest ORDER BY ts DESC, record_id DESC) AS rn
    FROM enriched
  ) WHERE rn = 1
)
"""


def q_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.1 composed indexer ETL (IndexBuilder.java:144-238): F1 -> F3 ->
    P4 revisit->original -> F7 unresolved gate -> F9 -> P1 -> P2 -> A5
    last-wins upsert, as ONE declarative job. Oracle replays every gate."""
    from .plans.index_build import build_index

    res = build_index(_index_captures(load_events(spark, sf_dir)))
    return res.index.select(
        "url", "url_canon", "digest", "digest_stripped",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        "record_id", "mime",
    )


def q_index_build_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 counters for the composed build (count/skipped/unresolved,
    IndexBuilder.java:131-133,174-178) with the reconciliation invariant
    handled = indexed + skipped_status + skipped_mime + unresolved +
    quarantined_url baked into the gate-ordered classification."""
    from .plans.index_build import build_index

    res = build_index(_index_captures(load_events(spark, sf_dir)))
    return res.counters


def q_dup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — the reference's end-of-crawl report (DeDuplicator.java:208-253):
    per-class duplicate counts, novel derived as handled − Σclasses
    (:223-225), and the duplicate percentage (:249-253)."""
    probe, index = _probe_index(load_events(spark, sf_dir))
    v = classify_verdicts(lookup(probe, index, "DIGEST_ANY"))
    agg = v.agg(
        F.count("*").alias("handled"),
        *[F.sum((F.col("dup_class") == c).cast("long")).alias(f"dup_{c}")
          for c in ("exact_url", "canonical_url", "digest_only")],
    )
    dups = F.col("dup_exact_url") + F.col("dup_canonical_url") + F.col("dup_digest_only")
    return agg.select(
        "handled", "dup_exact_url", "dup_canonical_url", "dup_digest_only",
        dups.alias("duplicates"),
        (F.col("handled") - dups).alias("novel_new"),
        F.round(dups * 100.0 / F.col("handled"), 4).alias("pct_duplicates"),
    )


def q_crawl_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2 composed crawl-time probe (DeDuplicator.java:149-192): F4/F5/F6
    gates -> P1 canonicalize -> DIGEST_ANY lookup -> verdict + K2 crawl.log
    annotation + JSON extra-info + K3 lineage. Every 7th probe arrives
    pre-flagged as a revisit and must be gated out (F6)."""
    from .plans.probe import probe_captures

    c = captures_from_events(load_events(spark, sf_dir))
    probe = (
        c.filter(F.col("is_probe")).drop("is_probe")
        .withColumn("revisit", F.col("probe_id") % 7 == 0)
    )
    index = (
        c.filter(~F.col("is_probe") & (F.col("status") == 200))
        .filter(~F.col("mime").rlike("^text/.*"))
        .drop("is_probe")
    )
    out = probe_captures(probe, index)
    return out.select(
        "probe_id", "url", "digest", "verdict", "dup_class",
        "refers_to_uri",
        F.date_format("refers_to_date", "yyyy-MM-dd HH:mm:ss").alias("refers_to_date"),
        "refers_to_record_id", "annotation", "extra_json",
    )


def q_dup_class_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-A3: per-class duplicate counts + byte totals over DIGEST_ANY verdicts."""
    probe, index = _probe_index(load_events(spark, sf_dir))
    v = classify_verdicts(lookup(probe, index, "DIGEST_ANY"))
    return (
        v.groupBy("verdict", "dup_class")
        .agg(F.count("*").alias("n"), F.sum("bytes_len").alias("bytes_total"))
    )


def q_novel_by_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10/J5 analog: definite-miss short-circuit as a left_anti join (the
    set-oriented Bloom gate; Spark's runtime bloom pruning applies here)."""
    probe, index = _probe_index(load_events(spark, sf_dir))
    novel = probe.join(index.select("digest").distinct(), "digest", "left_anti")
    return novel.groupBy("mime").agg(F.count("*").alias("n_novel"))


# Key order is load-bearing: the correctness gate records only the FIRST 50
# keys (`list(QUERIES)[:50]`). Slots 1-11 are the queries that had never been
# gated before the round-5 rotation (flagship first; pinned by
# tests/test_bench_line.py), slots 12-19 the rest of the round-4-absent set,
# and slots 20-54 the rotation pool, of which slots 20-50 are gated. A new
# query is INSERTED before slot 50, not appended.
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # -- never driver-gated before round 5 --------------------------------
    "image_dedup_verdicts": q_image_dedup_verdicts,
    "near_audio_pairs": q_near_audio_pairs,
    "near_video_pairs": q_near_video_pairs,
    "cluster_retract_repair": q_cluster_retract_repair,
    "cluster_cohesion": q_cluster_cohesion,
    "tier_overlap": q_tier_overlap,
    "pipeline_metrics": q_pipeline_metrics,
    "ann_index_probe": q_ann_index_probe,
    "ann_index_increments": q_ann_index_increments,
    "image_index_increments": q_image_index_increments,
    "shingle_df_histogram": q_shingle_df_histogram,
    # -- absent from the round-4 gate (gated in earlier rounds) -----------
    "ann_topk_ivf": q_ann_topk_ivf,
    "embedding_neardup_pairs": q_embedding_neardup_pairs,
    "embedding_dedup_keep": q_embedding_dedup_keep,
    "phash_neardup_pairs": q_phash_neardup_pairs,
    "image_index_probe": q_image_index_probe,
    "caption_index_probe": q_caption_index_probe,
    "simhash_neardup_pairs": q_simhash_neardup_pairs,
    "pipeline_verdicts": q_pipeline_verdicts,
    # -- gated green in round 4 (rotation pool fills the remaining slots) --
    "canonicalize_urls": q_canonicalize_urls,
    "strategy_url_exact": _strategy_query("URL_EXACT"),
    "strategy_url_canonical": _strategy_query("URL_CANONICAL"),
    "strategy_digest_any": _strategy_query("DIGEST_ANY"),
    "strategy_digest_url_preferred": _strategy_query("DIGEST_URL_PREFERRED"),
    "crawl_log_parse": q_crawl_log_parse,
    "lastwins_index": q_lastwins_index,
    "crawl_probe": q_crawl_probe,
    "index_build": q_index_build,
    "index_build_report": q_index_build_report,
    "dup_report": q_dup_report,
    "dup_class_stats": q_dup_class_stats,
    "novel_by_antijoin": q_novel_by_antijoin,
    "exact_digest_documents": q_exact_digest_documents,
    "source_overlap": q_source_overlap,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "prefix_jaccard_pairs": q_prefix_jaccard_pairs,
    "winnow_fingerprint_pairs": q_winnow_fingerprint_pairs,
    "winnow_index_probe": q_winnow_index_probe,
    "winnow_index_increments": q_winnow_index_increments,
    "containment_pairs": q_containment_pairs,
    "dedup_clusters": q_dedup_clusters,
    "cluster_stats": q_cluster_stats,
    "cluster_keep_best": q_cluster_keep_best,
    "cluster_downsample": q_cluster_downsample,
    "leakage_safe_split": q_leakage_safe_split,
    "line_dedup": q_line_dedup,
    "ngram_decontaminate": q_ngram_decontaminate,
    "eval_span_decontaminate": q_eval_span_decontaminate,
    "repetition_stats": q_repetition_stats,
    "curate_corpus": q_curate_corpus,
    "repeated_passages": q_repeated_passages,
    "repeated_coverage": q_repeated_coverage,
    "doc_fingerprint": q_doc_fingerprint,
}


ORACLES: dict[str, str] = {
    "canonicalize_urls": f"""
WITH u AS (
  SELECT event_id,
    CASE WHEN event_id % 13 = 0 THEN ({_DIRTY_IP_URL_SQL})
         ELSE ({_DIRTY_URL_SQL}) END AS url
  FROM events
)
SELECT event_id AS probe_id, url, {canonicalize_sql("url")} AS url_canon FROM u
""",
    "strategy_url_exact": _strategy_oracle("p.url = i.url AND p.digest = i.digest"),
    "strategy_url_canonical": _strategy_oracle("p.url_canon = i.url_canon AND p.digest = i.digest"),
    "strategy_digest_any": _strategy_oracle("p.digest = i.digest"),
    "strategy_digest_url_preferred": _strategy_oracle(
        "p.digest = i.digest",
        "CAST(p.url = i.url AS INTEGER) DESC NULLS LAST, "
        "CAST(p.url_canon = i.url_canon AS INTEGER) DESC NULLS LAST,",
    ),
    "crawl_log_parse": f"""
WITH cap AS ({_CAPTURES_SQL})
SELECT url, status, bytes_len, mime,
  strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S') AS fetch_ts,
  'sha1:' || digest AS digest,
  digest AS digest_stripped,
  probe_id % 5 = 0 AS revisit,
  CASE WHEN probe_id % 5 = 0 THEN url_canon END AS original_url
FROM cap WHERE status > 0
""",
    "lastwins_index": f"""
WITH cap AS ({_CAPTURES_SQL})
SELECT url, digest, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts, record_id
FROM (
  SELECT url, digest, ts, record_id,
         row_number() OVER (PARTITION BY url, digest ORDER BY ts DESC, record_id DESC) AS rn
  FROM cap WHERE status = 200
) WHERE rn = 1
""",
    "crawl_probe": f"""
WITH cap AS ({_CAPTURES_SQL}),
probe AS (
  SELECT * EXCLUDE (is_probe) FROM cap
  WHERE is_probe AND status BETWEEN 200 AND 299
    AND url LIKE 'http%' AND NOT (probe_id % 7 = 0)
),
idx AS ({_INDEX_SQL}),
j AS (
  SELECT p.probe_id, p.url, p.url_canon, p.digest,
         i.url AS idx_url, i.url_canon AS idx_url_canon, i.digest AS idx_digest,
         i.ts AS idx_ts, i.record_id AS idx_record_id,
         row_number() OVER (PARTITION BY p.probe_id
                            ORDER BY i.ts DESC NULLS LAST, i.record_id ASC NULLS LAST) AS rn
  FROM probe p LEFT JOIN idx i ON p.digest = i.digest
),
v AS (
  SELECT probe_id, url, digest,
    CASE WHEN idx_digest IS NULL THEN 'novel' ELSE 'duplicate' END AS verdict,
    CASE WHEN idx_digest IS NULL THEN NULL
         WHEN url = idx_url THEN 'exact_url'
         WHEN url_canon = idx_url_canon THEN 'canonical_url'
         ELSE 'digest_only' END AS dup_class,
    idx_url AS refers_to_uri,
    strftime(idx_ts, '%Y-%m-%d %H:%M:%S') AS refers_to_date,
    strftime(idx_ts, '%Y-%m-%dT%H:%M:%SZ') AS refers_to_date_json,
    idx_record_id AS refers_to_record_id
  FROM j WHERE rn = 1
)
SELECT probe_id, url, digest, verdict, dup_class,
  refers_to_uri, refers_to_date, refers_to_record_id,
  CASE WHEN verdict = 'duplicate'
       THEN 'duplicate:digest,Revisit:IdenticalPayloadDigest' END AS annotation,
  CASE WHEN verdict = 'duplicate'
       THEN '{{"RevisitProfile":"http://netpreserve.org/warc/1.0/revisit/identical-payload-digest"'
            || ',"RevisitRefersToURI":"' || refers_to_uri
            || '","RevisitRefersToDate":"' || refers_to_date_json || '"}}' END AS extra_json
FROM v
""",
    "index_build": f"""
WITH {_INDEX_BUILD_CORE_SQL}
SELECT url, url_canon, digest, digest_stripped,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts, record_id, mime
FROM lastwins
""",
    "index_build_report": f"""
WITH {_INDEX_BUILD_CORE_SQL},
cls AS (
  SELECT CASE WHEN status <> 200 THEN 'skipped_status'
              WHEN regexp_matches(coalesce(mime, 'unknown'), '^text/.*') THEN 'skipped_mime'
              WHEN revisit AND (original_url IS NULL OR original_ts IS NULL) THEN 'unresolved'
              WHEN contains(url, '"') THEN 'quarantined_url'
              ELSE 'indexed' END AS c
  FROM caps
)
SELECT count(*) AS handled,
  CAST(sum(CASE WHEN c = 'skipped_status' THEN 1 ELSE 0 END) AS BIGINT) AS skipped_status,
  CAST(sum(CASE WHEN c = 'skipped_mime' THEN 1 ELSE 0 END) AS BIGINT) AS skipped_mime,
  CAST(sum(CASE WHEN c = 'unresolved' THEN 1 ELSE 0 END) AS BIGINT) AS unresolved,
  CAST(sum(CASE WHEN c = 'quarantined_url' THEN 1 ELSE 0 END) AS BIGINT) AS quarantined_url,
  CAST(sum(CASE WHEN c = 'indexed' THEN 1 ELSE 0 END) AS BIGINT) AS indexed,
  (SELECT count(*) FROM lastwins) AS index_rows
FROM cls
""",
    "dup_report": f"""
WITH probe AS ({_PROBE_SQL}), idx AS ({_INDEX_SQL}),
j AS (
  SELECT p.probe_id, p.url, p.url_canon,
         i.url AS idx_url, i.url_canon AS idx_url_canon, i.digest AS idx_digest,
         row_number() OVER (PARTITION BY p.probe_id
                            ORDER BY i.ts DESC NULLS LAST, i.record_id ASC NULLS LAST) AS rn
  FROM probe p LEFT JOIN idx i ON p.digest = i.digest
),
v AS (
  SELECT CASE WHEN idx_digest IS NULL THEN NULL
              WHEN url = idx_url THEN 'exact_url'
              WHEN url_canon = idx_url_canon THEN 'canonical_url'
              ELSE 'digest_only' END AS dup_class
  FROM j WHERE rn = 1
),
agg AS (
  SELECT count(*) AS handled,
    CAST(sum(CASE WHEN dup_class = 'exact_url' THEN 1 ELSE 0 END) AS BIGINT) AS dup_exact_url,
    CAST(sum(CASE WHEN dup_class = 'canonical_url' THEN 1 ELSE 0 END) AS BIGINT) AS dup_canonical_url,
    CAST(sum(CASE WHEN dup_class = 'digest_only' THEN 1 ELSE 0 END) AS BIGINT) AS dup_digest_only
  FROM v
)
SELECT handled, dup_exact_url, dup_canonical_url, dup_digest_only,
  dup_exact_url + dup_canonical_url + dup_digest_only AS duplicates,
  handled - (dup_exact_url + dup_canonical_url + dup_digest_only) AS novel_new,
  round((dup_exact_url + dup_canonical_url + dup_digest_only) * 100.0 / handled, 4) AS pct_duplicates
FROM agg
""",
    "dup_class_stats": f"""
WITH probe AS ({_PROBE_SQL}), idx AS ({_INDEX_SQL}),
j AS (
  SELECT p.probe_id, p.url, p.url_canon, p.bytes_len,
         i.url AS idx_url, i.url_canon AS idx_url_canon, i.digest AS idx_digest,
         row_number() OVER (PARTITION BY p.probe_id
                            ORDER BY i.ts DESC NULLS LAST, i.record_id ASC NULLS LAST) AS rn
  FROM probe p LEFT JOIN idx i ON p.digest = i.digest
)
SELECT CASE WHEN idx_digest IS NULL THEN 'novel' ELSE 'duplicate' END AS verdict,
  CASE WHEN idx_digest IS NULL THEN NULL
       WHEN url = idx_url THEN 'exact_url'
       WHEN url_canon = idx_url_canon THEN 'canonical_url'
       ELSE 'digest_only' END AS dup_class,
  count(*) AS n, CAST(sum(bytes_len) AS BIGINT) AS bytes_total
FROM j WHERE rn = 1 GROUP BY 1, 2
""",
    "novel_by_antijoin": f"""
WITH probe AS ({_PROBE_SQL}), idx AS ({_INDEX_SQL})
SELECT mime, count(*) AS n_novel FROM probe p
WHERE NOT EXISTS (SELECT 1 FROM idx i WHERE i.digest = p.digest)
GROUP BY mime
""",
    "exact_digest_documents": """
SELECT doc_id, md5(text) AS digest,
  count(*) OVER (PARTITION BY md5(text)) AS group_n,
  min(doc_id) OVER (PARTITION BY md5(text)) AS rep_id
FROM documents
""",
    "source_overlap": _SOURCE_OVERLAP_SQL,
    "ngram_jaccard_pairs": _JACCARD_PAIRS_CAPPED_SQL,
    "minhash_lsh_pairs": _JACCARD_PAIRS_SQL,
    "prefix_jaccard_pairs": _JACCARD_PAIRS_SQL,
    "winnow_fingerprint_pairs": _WINNOW_PAIRS_SQL,
    "winnow_index_probe": _WINNOW_PROBE_SQL,
    "winnow_index_increments": _winnow_increments_oracle(),
    "containment_pairs": _CONTAINMENT_PAIRS_SQL,
    "dedup_clusters": _CLUSTERS_SQL,
    # full recompute over the surviving subgraph — the incremental repair
    # on the Spark side must hash-equal this
    "cluster_retract_repair": f"""
WITH RECURSIVE p AS ({_JACCARD_PAIRS_SQL}),
pe AS (SELECT id_a, id_b FROM p WHERE id_a % 17 <> 3 AND id_b % 17 <> 3),
edges AS MATERIALIZED (
  SELECT id_a AS s, id_b AS d FROM pe UNION SELECT id_b, id_a FROM pe
),
reach(s, d) AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s WHERE e.d <> r.s
)
SELECT doc_id, coalesce(least(doc_id, m), doc_id) AS cluster_id
FROM (SELECT doc_id FROM documents WHERE doc_id % 17 <> 3)
LEFT JOIN (SELECT s, min(d) AS m FROM reach GROUP BY s) ON s = doc_id
""",
    "cluster_stats": f"""
WITH cc AS ({_CLUSTERS_SQL}),
sizes AS (SELECT cluster_id, count(*) AS sz FROM cc GROUP BY cluster_id)
SELECT sz AS cluster_size, count(*) AS n_clusters,
       CAST(sum(sz) AS BIGINT) AS n_docs,
       CAST(sum(sz - 1) AS BIGINT) AS dropped_by_keep_one
FROM sizes GROUP BY sz
""",
    "cluster_keep_best": _KEEP_BEST_SQL,
    # cluster_downsample: same recursive-CTE closure; sqrt-quota + weight
    # arithmetic rendered identically (double sqrt/ceil in both engines).
    "cluster_downsample": _DOWNSAMPLE_SQL.format(ctes=_CLUSTER_CTES),
    # leakage_safe_split: same recursive-CTE closure, same md5-bucket
    # arithmetic (60-bit hex prefix mod 100) rendered in DuckDB syntax.
    "leakage_safe_split": f"""
WITH cc AS ({_CLUSTERS_SQL})
SELECT doc_id, cluster_id,
       CASE WHEN CAST('0x' || substr(md5('split:' || CAST(cluster_id AS VARCHAR)),
                      1, 15) AS BIGINT) % 100 < 90
            THEN 'train' ELSE 'eval' END AS split
FROM cc
""",
    "line_dedup": _LINE_DEDUP_SQL,
    "ngram_decontaminate": _DECONTAMINATE_SQL,
    "eval_span_decontaminate": _EVAL_SPAN_SQL,
    "repetition_stats": _REPETITION_SQL,
    "curate_corpus": _CURATE_SQL,
    "repeated_passages": _REPEATED_PASSAGES_SQL,
    "repeated_coverage": _REPEATED_COVERAGE_SQL,
    "doc_fingerprint": f"""
WITH s AS ({_SHINGLES_SQL})
SELECT doc_id, list_min(list_transform(sh, x -> md5(x))) AS fingerprint,
       CAST(len(sh) AS BIGINT) AS n_shingles
FROM s
""",
    "shingle_df_histogram": _SHINGLE_HIST_SQL.format(shingles_sql=_SHINGLES_SQL),
}


def _neardup_oracle() -> str:
    from .operators.ann import cosine_neardup_oracle_sql

    return cosine_neardup_oracle_sql(dim=EMB_DIM, threshold=NEARDUP_COS_T)


def _ivf_oracle() -> str:
    from .operators.ann import ann_ivf_oracle_sql

    return ann_ivf_oracle_sql()


# Mirrors the tier's banding + hot-bucket star fallback exactly (same
# template as the simhash oracle), so parity holds at any scale — not only
# while planted buckets stay under the cap. The synth phash is 60-bit
# non-negative, so plain >> is a logical shift.
ORACLES["phash_neardup_pairs"] = f"""
WITH ph AS (
  SELECT doc_id, {synth_phash_sql('duckdb', 'doc_id')} AS phash FROM documents
),
banded AS (
  SELECT doc_id, phash, b, (phash >> (b * 16)) & 65535 AS key
  FROM ph CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b) t
),
buckets AS (
  SELECT b, key, count(*) AS n, min(doc_id) AS mn FROM banded GROUP BY 1, 2
),
cands AS (
  SELECT DISTINCT id_a, id_b FROM (
    SELECT x.doc_id AS id_a, y.doc_id AS id_b
    FROM banded x
    JOIN banded y ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id
    JOIN buckets k ON k.b = x.b AND k.key = x.key
      AND k.n <= {DEFAULT.hot_band_threshold}
    UNION ALL
    SELECT k.mn AS id_a, x.doc_id AS id_b
    FROM banded x
    JOIN buckets k ON k.b = x.b AND k.key = x.key
      AND k.n > {DEFAULT.hot_band_threshold}
    WHERE x.doc_id <> k.mn
  )
)
SELECT c.id_a, c.id_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
FROM cands c JOIN ph a ON a.doc_id = c.id_a JOIN ph b ON b.doc_id = c.id_b
WHERE bit_count(xor(a.phash, b.phash)) <= {DEFAULT.phash_max_hamming}
"""

ORACLES["image_index_probe"] = f"""
WITH base AS (
  SELECT doc_id, {_IIDX_DIGEST_SQL} AS digest,
         {synth_phash_sql('duckdb', 'doc_id')} AS phash
  FROM documents
),
idx AS (SELECT * FROM base WHERE doc_id % 10 = 0),
probes AS (SELECT * FROM base WHERE doc_id % 10 <> 0),
exact AS (
  SELECT p.doc_id, min(i.doc_id) AS ref
  FROM probes p JOIN idx i ON p.digest = i.digest GROUP BY p.doc_id
),
near_all AS (
  SELECT p.doc_id, i.doc_id AS idx_id,
         CAST(bit_count(xor(p.phash, i.phash)) AS BIGINT) AS h
  FROM probes p JOIN idx i
    ON bit_count(xor(p.phash, i.phash)) <= {DEFAULT.phash_max_hamming}
  WHERE p.doc_id NOT IN (SELECT doc_id FROM exact)
),
near AS (
  SELECT doc_id, idx_id, h,
         row_number() OVER (PARTITION BY doc_id ORDER BY h, idx_id) AS rn
  FROM near_all
)
SELECT doc_id AS probe_id, 'duplicate' AS verdict, ref AS refers_to_id,
       CAST(NULL AS BIGINT) AS hamming
FROM exact
UNION ALL
SELECT doc_id, 'near_duplicate', idx_id, h FROM near WHERE rn = 1
UNION ALL
SELECT p.doc_id, 'novel', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
FROM probes p
WHERE p.doc_id NOT IN (SELECT doc_id FROM exact)
  AND p.doc_id NOT IN (SELECT doc_id FROM near)
"""

ORACLES["caption_index_probe"] = _CAPTION_PROBE_SQL

ORACLES["image_index_increments"] = _image_index_increments_oracle()

ORACLES["simhash_neardup_pairs"] = _simhash_pairs_oracle_sql()

# pipeline_verdicts: the flagship's post-decode graph logic end-to-end —
# three tiers in their exact form, min-priority tier per pair, recursive-CTE
# connected components, verdict + lineage assembly (TIER_PRIORITY mirrored:
# exact=1 < near_image=2 < near_caption=3).
# `best`/`edges` carry MATERIALIZED: DuckDB 1.0 re-inlines a CTE at every
# reference, and each of the ~6 downstream references re-expands the whole
# tier tree (the jaccard leg alone is ~112 s at 10x scale) — that, not the
# closure (0.2 s on materialized edges), is what ground the 10x gate run
# past 35 min. Same results, evaluated once.
# Shared CTE block: the full tier->best-edge->closure->cluster graph over
# the deterministic (md5 digest, synth phash, caption) feature tables. Both
# the verdict twin (pipeline_verdicts) and the counter twin
# (pipeline_metrics) select from it, so the two gate rows are views over
# ONE graph definition — exactly as the Spark side derives verdicts and
# build_metrics from one DedupResult.
_TIER_EDGES_CTES = f"""
dig AS (SELECT doc_id, md5(text) AS digest FROM documents),
ex AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM dig a JOIN dig b ON a.digest = b.digest AND a.doc_id < b.doc_id
),
ph AS (SELECT doc_id, {synth_phash_sql('duck')} AS phash FROM documents),
-- near_image mirrors the tier's banding + hot-bucket star fallback (the
-- buckets/cands cap-and-star template from ORACLES['phash_neardup_pairs'])
-- so parity holds at any scale, not only while every band bucket stays
-- under hot_band_threshold
phb AS (
  SELECT doc_id, phash, b, (phash >> (b * 16)) & 65535 AS key
  FROM ph CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b) t
),
phk AS (
  SELECT b, key, count(*) AS n, min(doc_id) AS mn FROM phb GROUP BY 1, 2
),
nic AS (
  SELECT DISTINCT id_a, id_b FROM (
    SELECT x.doc_id AS id_a, y.doc_id AS id_b
    FROM phb x
    JOIN phb y ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id
    JOIN phk k ON k.b = x.b AND k.key = x.key
      AND k.n <= {DEFAULT.hot_band_threshold}
    UNION ALL
    SELECT k.mn AS id_a, x.doc_id AS id_b
    FROM phb x
    JOIN phk k ON k.b = x.b AND k.key = x.key
      AND k.n > {DEFAULT.hot_band_threshold}
    WHERE x.doc_id <> k.mn
  )
),
ni AS (
  SELECT c.id_a, c.id_b
  FROM nic c JOIN ph a ON a.doc_id = c.id_a JOIN ph b ON b.doc_id = c.id_b
  WHERE bit_count(xor(a.phash, b.phash)) <= {DEFAULT.phash_max_hamming}
),
jp AS ({_JACCARD_PAIRS_SQL}),
tier_edges AS (
  SELECT id_a, id_b, 'exact' AS tier, 1 AS p FROM ex
  UNION ALL SELECT id_a, id_b, 'near_image', 2 FROM ni
  UNION ALL SELECT id_a, id_b, 'near_caption', 3 FROM jp
)"""

_PIPELINE_GRAPH_CTES = f"""{_TIER_EDGES_CTES},
best AS MATERIALIZED (
  SELECT id_a, id_b, arg_min(tier, p) AS tier, min(p) AS p
  FROM tier_edges GROUP BY id_a, id_b
),
edges AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM best UNION SELECT id_b, id_a FROM best),
reach(s, d) AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.s, e2.d FROM reach r JOIN edges e2 ON r.d = e2.s WHERE e2.d <> r.s
),
clus AS (
  SELECT doc_id, coalesce(least(doc_id, m), doc_id) AS cluster_id
  FROM documents
  LEFT JOIN (SELECT s, min(d) AS m FROM reach GROUP BY s) ON s = doc_id
),
inc AS (
  SELECT id_a AS doc_id, tier, p FROM best
  UNION ALL SELECT id_b, tier, p FROM best
),
dc AS (SELECT doc_id, arg_min(tier, p) AS dup_class FROM inc GROUP BY doc_id)"""

ORACLES["pipeline_verdicts"] = f"""
WITH RECURSIVE
{_PIPELINE_GRAPH_CTES}
SELECT c.doc_id,
  CASE WHEN c.cluster_id = c.doc_id THEN 'novel' ELSE 'duplicate' END AS verdict,
  CASE WHEN c.cluster_id = c.doc_id THEN 'none' ELSE dc.dup_class END AS dup_class,
  c.cluster_id,
  CASE WHEN c.cluster_id = c.doc_id THEN NULL ELSE c.cluster_id END AS refers_to_id
FROM clus c LEFT JOIN dc ON dc.doc_id = c.doc_id
"""

# pipeline_metrics: the north-rule "metrics tables (rows scanned, candidate
# pairs, merges)" clause as its own cross-engine gate row. The Spark side is
# the REAL plans/pipeline.build_metrics lazy counter plan over the same
# DedupResult that pipeline_verdicts assembles; the twin re-derives every
# counter from the shared graph CTEs above (input rows from the corpus scan,
# per-tier + total candidate pairs from `best`, merge outcomes from the
# closure's verdict split). Reference semantics: the AtomicLong crawl
# counters of DeDuplicator.java:54-94 / IndexBuilder's processing report,
# generalized to a (run_id, stage, metric, value) table.
ORACLES["pipeline_metrics"] = f"""
WITH RECURSIVE
{_PIPELINE_GRAPH_CTES},
vt AS (
  SELECT CASE WHEN cluster_id = doc_id THEN 'novel' ELSE 'duplicate' END AS v
  FROM clus
),
met AS (
  SELECT 'input' AS stage, 'rows' AS metric,
         CAST(count(*) AS DOUBLE) AS value FROM documents
  UNION ALL
  SELECT 'input', 'quarantined', 0.0
  UNION ALL
  SELECT 'candidates', 'verified_pairs', CAST(count(*) AS DOUBLE) FROM best
  UNION ALL
  SELECT 'candidates', 'pairs_' || tier, CAST(count(*) AS DOUBLE)
  FROM best GROUP BY tier
  UNION ALL
  SELECT 'verdicts', v, CAST(count(*) AS DOUBLE) FROM vt GROUP BY v
)
SELECT 'gate' AS run_id, stage, metric, value FROM met
"""

# cluster_cohesion: per-cluster verified-edge density over the shared graph
# CTEs — the overmerge audit (density 1.0 = clique, ~2/size = bare chain).
ORACLES["cluster_cohesion"] = f"""
WITH RECURSIVE
{_PIPELINE_GRAPH_CTES},
sz AS (
  SELECT cluster_id, count(*) AS size FROM clus
  GROUP BY cluster_id HAVING count(*) >= 2
),
ne AS (
  SELECT c.cluster_id, count(*) AS n_edges
  FROM best b JOIN clus c ON c.doc_id = b.id_a
  GROUP BY c.cluster_id
)
SELECT sz.cluster_id, sz.size, ne.n_edges,
       round(CAST(ne.n_edges AS DOUBLE) / (sz.size * (sz.size - 1) / 2.0), 6)
         AS density
FROM sz JOIN ne ON ne.cluster_id = sz.cluster_id
"""

# tier_overlap: pairs grouped by the SET of tiers that found them — the twin
# aggregates the same tier_edges CTE the pipeline graph is built from, so a
# green row proves the raw (pre-priority-window) per-tier pair sets agree
# cross-engine, not just the collapsed best-tier edges. Round 5 adds the
# optional WINNOW tier to the ablation (same fingerprint CTEs as the
# winnow_fingerprint_pairs oracle; edge gate = shared/least(n_a, n_b) >=
# winnow_min_score, mirroring plans/pipeline.py's winnow part) so the
# 'winnow'-only signature row IS the tier's measured marginal value.
ORACLES["tier_overlap"] = f"""
WITH {_TIER_EDGES_CTES},
{_winnow_fp_ctes("wfp").lstrip()},
wn_n AS (SELECT doc_id, count(*) AS n FROM wfp GROUP BY doc_id),
wn_rare AS (SELECT fp FROM wfp GROUP BY fp
            HAVING count(*) <= {WINNOW_DF_CAP}),
wn_post AS (SELECT f.doc_id, f.fp FROM wfp f JOIN wn_rare USING (fp)),
wn_p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
  FROM wn_post a JOIN wn_post b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= {WINNOW_MIN_SHARED}
),
wn AS (
  SELECT p.id_a, p.id_b
  FROM wn_p p JOIN wn_n na ON na.doc_id = p.id_a
              JOIN wn_n nb ON nb.doc_id = p.id_b
  WHERE p.shared * 1.0 / least(na.n, nb.n) >= {DEFAULT.winnow_min_score}
),
tier_edges5 AS (
  SELECT id_a, id_b, tier FROM tier_edges
  UNION ALL SELECT id_a, id_b, 'winnow' FROM wn
),
dist AS (SELECT DISTINCT id_a, id_b, tier FROM tier_edges5),
sig AS (
  SELECT id_a, id_b, string_agg(tier, '+' ORDER BY tier) AS tiers
  FROM dist GROUP BY id_a, id_b
)
SELECT tiers, count(*) AS n_pairs FROM sig GROUP BY tiers
"""

ORACLES["near_video_pairs"] = f"""
WITH fr AS (
  SELECT (doc_id // 20) AS video_id, (doc_id % 20) AS frame_idx,
         {synth_frame_phash_sql('duckdb', 'doc_id')} AS fp
  FROM documents
),
nf AS (SELECT video_id, count(*) AS nf FROM fr GROUP BY video_id),
fm AS (
  SELECT DISTINCT a.video_id AS id_a, b.video_id AS id_b,
         a.frame_idx AS fa, b.frame_idx AS fb
  FROM fr a JOIN fr b ON a.video_id < b.video_id
  WHERE bit_count(xor(a.fp, b.fp)) <= {DEFAULT.phash_max_hamming}
),
sc AS (
  SELECT id_a, id_b, count(DISTINCT fa) AS n_a, count(DISTINCT fb) AS n_b
  FROM fm GROUP BY id_a, id_b
),
scored AS (
  SELECT sc.id_a, sc.id_b,
         CASE WHEN na.nf <= nb.nf THEN CAST(sc.n_a AS DOUBLE) / na.nf
              ELSE CAST(sc.n_b AS DOUBLE) / nb.nf END AS score
  FROM sc JOIN nf na ON na.video_id = sc.id_a
          JOIN nf nb ON nb.video_id = sc.id_b
)
SELECT id_a, id_b, round(score, 6) AS score FROM scored WHERE score >= 0.5
"""

ORACLES["ann_topk_ivf"] = _ivf_oracle()
# the persisted-lifecycle route is bit-identical to the in-memory IVF query
# by construction (plans/ann_index.py) — same oracle, so the gate proves the
# store+reload path loses nothing
ORACLES["ann_index_probe"] = _ivf_oracle()
# append-without-retrain is postings-identical to the one-shot build
# (assignment depends only on the frozen centroids), so the increments
# row shares the same twin — green == appends lose nothing
ORACLES["ann_index_increments"] = _ivf_oracle()
ORACLES["near_audio_pairs"] = _near_audio_oracle()
ORACLES["embedding_neardup_pairs"] = _neardup_oracle()


def _embedding_dedup_keep_oracle() -> str:
    """Recursive-CTE closure over the generated cosine-pairs twin, then the
    keep/drop verdict (cluster rep = min reachable vec_id)."""
    return f"""
WITH RECURSIVE pr AS ({_neardup_oracle()}),
und AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM pr UNION SELECT id_b, id_a FROM pr),
reach(s, d) AS (
  SELECT s, d FROM und
  UNION
  SELECT r.s, u.d FROM reach r JOIN und u ON r.d = u.s WHERE u.d <> r.s
)
SELECT vec_id,
       coalesce(least(vec_id, m), vec_id) AS cluster_id,
       CAST(coalesce(least(vec_id, m), vec_id) = vec_id AS INTEGER) AS keep
FROM embeddings
LEFT JOIN (SELECT s, min(d) AS m FROM reach GROUP BY s) ON s = vec_id
"""


ORACLES["embedding_dedup_keep"] = _embedding_dedup_keep_oracle()


def _image_dedup_verdicts_oracle() -> str:
    """DuckDB twin of the FLAGSHIP q_image_dedup_verdicts over the
    materialized synth feature fixtures (oracle_fixtures.py): the codec layer
    (pixel decode, sha256, pHash, PSNR, shingle/MinHash hashing) is
    re-derived single-process from the same pure (row id, seed) functions the
    executors run and pinned to parquet; EVERYTHING downstream — quarantine
    gate, exact star edges, capped/star banded candidates for BOTH hash
    tiers, Hamming + PSNR + exact-Jaccard + containment verification,
    tier-priority edge dedup, recursive-CTE connected components and the
    verdict/dup_class/refers_to assembly of DeDuplicator.java:149-205 — runs
    in SQL, so the real pipeline's distributed graph is hash-verified
    cross-engine. Config mirrored from the frozen DedupConfig."""
    from .oracle_fixtures import ensure_image_oracle_fixtures

    feats, psnr = ensure_image_oracle_fixtures()
    cap = DEFAULT.hot_band_threshold
    jacc = (
        "CAST(len(list_intersect(a.sh_hashes, b.sh_hashes)) AS DOUBLE)"
        " / greatest(len(a.sh_hashes) + len(b.sh_hashes)"
        " - len(list_intersect(a.sh_hashes, b.sh_hashes)), 1)"
    )
    return f"""
WITH RECURSIVE
f AS (
  SELECT * FROM read_parquet('{feats}')
  WHERE decode_ok
    AND bit_count(xor(phash, phash_recomputed)) <= {DEFAULT.phash_validate_max_hamming}
),
dg AS (SELECT digest, min(image_id) AS hub FROM f GROUP BY digest),
ex AS (
  SELECT g.hub AS id_a, x.image_id AS id_b
  FROM f x JOIN dg g ON g.digest = x.digest
  WHERE x.image_id <> g.hub
),
phb AS (
  SELECT image_id, phash, b, (phash >> (b * 16)) & 65535 AS key
  FROM f CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b) t
),
phk AS (SELECT b, key, count(*) AS n, min(image_id) AS mn FROM phb GROUP BY 1, 2),
nic AS (
  SELECT DISTINCT id_a, id_b FROM (
    SELECT x.image_id AS id_a, y.image_id AS id_b
    FROM phb x
    JOIN phb y ON x.b = y.b AND x.key = y.key AND x.image_id < y.image_id
    JOIN phk k ON k.b = x.b AND k.key = x.key AND k.n <= {cap}
    UNION ALL
    SELECT k.mn, x.image_id
    FROM phb x JOIN phk k ON k.b = x.b AND k.key = x.key AND k.n > {cap}
    WHERE x.image_id <> k.mn
  )
),
pp AS (SELECT id_a, id_b FROM read_parquet('{psnr}') WHERE psnr_ok),
ni AS (
  SELECT c.id_a, c.id_b
  FROM nic c
  JOIN f a ON a.image_id = c.id_a
  JOIN f b ON b.image_id = c.id_b
  JOIN pp ON pp.id_a = c.id_a AND pp.id_b = c.id_b
  WHERE bit_count(xor(a.phash, b.phash)) <= {DEFAULT.phash_max_hamming}
),
cb AS (
  SELECT image_id, b, band_keys[b + 1] AS key
  FROM f CROSS JOIN (SELECT unnest(range({DEFAULT.lsh_bands})) AS b) t
),
cbk AS (SELECT b, key, count(*) AS n, min(image_id) AS mn FROM cb GROUP BY 1, 2),
ncc AS (
  SELECT DISTINCT id_a, id_b FROM (
    SELECT x.image_id AS id_a, y.image_id AS id_b
    FROM cb x
    JOIN cb y ON x.b = y.b AND x.key = y.key AND x.image_id < y.image_id
    JOIN cbk k ON k.b = x.b AND k.key = x.key AND k.n <= {cap}
    UNION ALL
    SELECT k.mn, x.image_id
    FROM cb x JOIN cbk k ON k.b = x.b AND k.key = x.key AND k.n > {cap}
    WHERE x.image_id <> k.mn
  )
),
nc AS (
  SELECT c.id_a, c.id_b
  FROM ncc c JOIN f a ON a.image_id = c.id_a JOIN f b ON b.image_id = c.id_b
  WHERE {jacc} >= {DEFAULT.jaccard_threshold}
),
shrt AS (SELECT image_id, sh_hashes FROM f
         WHERE n_tok <= {DEFAULT.containment_max_short_tokens}),
lng AS (SELECT image_id, sh_hashes FROM f
        WHERE n_tok >= {DEFAULT.containment_min_long_tokens}),
probe AS (SELECT image_id AS id_s, unnest(sh_hashes[1:4]) AS hash FROM shrt),
post AS (
  SELECT id_l, hash FROM (
    SELECT image_id AS id_l, unnest(sh_hashes) AS hash FROM lng
  ) QUALIFY row_number() OVER (PARTITION BY hash ORDER BY id_l)
            <= {DEFAULT.containment_posting_cap}
),
ccand AS (SELECT DISTINCT id_s, id_l FROM probe JOIN post USING (hash)),
cont AS (
  SELECT least(c.id_s, c.id_l) AS id_a, greatest(c.id_s, c.id_l) AS id_b
  FROM ccand c
  JOIN shrt a ON a.image_id = c.id_s
  JOIN lng b ON b.image_id = c.id_l
  WHERE c.id_s <> c.id_l
    AND CAST(len(list_intersect(a.sh_hashes, b.sh_hashes)) AS DOUBLE)
        / greatest(len(a.sh_hashes), 1) >= {DEFAULT.containment_threshold}
),
tier_edges AS (
  SELECT id_a, id_b, 'exact' AS tier, 1 AS p FROM ex
  UNION ALL SELECT id_a, id_b, 'near_image', 2 FROM ni
  UNION ALL SELECT id_a, id_b, 'near_caption', 3 FROM nc
  UNION ALL SELECT id_a, id_b, 'containment', 4 FROM cont
),
best AS MATERIALIZED (
  SELECT id_a, id_b, arg_min(tier, p) AS tier, min(p) AS p
  FROM tier_edges GROUP BY id_a, id_b
),
edges AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM best UNION SELECT id_b, id_a FROM best),
reach(s, d) AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.s, e2.d FROM reach r JOIN edges e2 ON r.d = e2.s WHERE e2.d <> r.s
),
clus AS (
  SELECT image_id, coalesce(least(image_id, m), image_id) AS cluster_id
  FROM f LEFT JOIN (SELECT s, min(d) AS m FROM reach GROUP BY s) ON s = image_id
),
inc AS (SELECT id_a AS image_id, tier, p FROM best
        UNION ALL SELECT id_b, tier, p FROM best),
dc AS (SELECT image_id, arg_min(tier, p) AS dup_class FROM inc GROUP BY image_id)
SELECT c.image_id,
  CASE WHEN c.cluster_id = c.image_id THEN 'novel' ELSE 'duplicate' END AS verdict,
  CASE WHEN c.cluster_id = c.image_id THEN 'none' ELSE dc.dup_class END AS dup_class,
  c.cluster_id,
  CASE WHEN c.cluster_id = c.image_id THEN 'none' ELSE c.cluster_id END AS refers_to_id
FROM clus c LEFT JOIN dc ON dc.image_id = c.image_id
"""


def complete_oracles() -> dict[str, str]:
    """ORACLES with the fixture-backed entries resolved. The image oracle's
    SQL embeds materialized parquet paths and ensure_image_oracle_fixtures()
    will REGENERATE them on a fresh checkout (minutes of single-process
    decode/PSNR work) — that must happen when the oracle surface is actually
    requested, never as an import side effect of this module, which every
    query entry point pulls in."""
    if "image_dedup_verdicts" not in ORACLES:
        ORACLES["image_dedup_verdicts"] = _image_dedup_verdicts_oracle()
    return ORACLES
