"""§3.1 — the reference's indexer batch job as ONE composed declarative plan.

IndexBuilder.writeToIndex (IndexBuilder.java:144-238) streams CrawlDataItems
through a fixed per-record gauntlet; here the whole lifecycle is a single
DataFrame pipeline over a captures table:

    F1  status==200 gate                 (IndexBuilder.java:147-152)
    F3  MIME regex black/whitelist       (:154-157; default '^text/.*'
                                          blacklist, IndexingLauncher.java:101-102)
    P4  revisit -> original projection   (:159-171: revisits are indexed under
                                          their ORIGINAL url + timestamp)
    F7  unresolved-revisit gate          (:162-167: revisits lacking original
                                          url/timestamp drop, counted)
    F9  URL sanity                       (:180-185: the reference hard-fails
                                          on '"' in a URL; at web scale we
                                          quarantine + count instead)
    P1  URL canonicalization             (:194-199, AggressiveUrlCanonicalizer)
    P2  digest-scheme strip              (:203-207)
    A5/A6 last-wins upsert               (:227-236; (url,digest) key, or digest
                                          alone when URL is not indexed)
    A4  counters                         (:131-133, 174-178: count/skipped/
                                          unresolved — lazy one-row agg)
    W3  progress metrics                 (:175-177 logs every 10k; here an
                                          optional Observation attached to the
                                          indexed stream)

Everything is Column algebra — no Python in the row path — so Catalyst
pushes the status/mime gates into the scan and AQE picks the upsert
shuffle's physical shape.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..functions.urlcanon import canonicalize_url
from ..operators.strategies import last_wins_upsert

DEFAULT_MIME_FILTER = r"^text/.*"


def normalize_captures(df: DataFrame) -> DataFrame:
    """Adapt any registered source's output (sources/warc.py,
    sources/crawl_log.py, a parquet captures table) to the capture schema
    build_index/probe_captures expect. String timestamps (WARC w3c dates)
    parse leniently; a missing record_id gets a deterministic synthetic one
    (the crawl.log format carries none); missing optional columns become
    nulls."""
    cols = set(df.columns)
    ts = F.col("ts")
    if dict(df.dtypes).get("ts") == "string":
        ts = F.coalesce(F.try_to_timestamp(F.col("ts")),
                        F.try_to_timestamp(F.col("ts"),
                                           F.lit("yyyy-MM-dd'T'HH:mm:ss'Z'")))
    record_id = (F.col("record_id") if "record_id" in cols
                 else F.conv(F.hex(F.xxhash64("url", "digest", "ts")), 16, 16))
    orig_ts_src = ("original_ts" if "original_ts" in cols
                   else "original_ts_str" if "original_ts_str" in cols else None)
    if orig_ts_src is None:
        orig_ts = F.lit(None).cast("timestamp")
    elif dict(df.dtypes).get(orig_ts_src) == "string":
        orig_ts = F.coalesce(
            F.try_to_timestamp(F.col(orig_ts_src)),
            F.try_to_timestamp(F.col(orig_ts_src),
                               F.lit("yyyy-MM-dd'T'HH:mm:ss'Z'")))
    else:
        orig_ts = F.col(orig_ts_src)
    return df.select(
        "url",
        "digest",
        ts.alias("ts"),
        record_id.alias("record_id"),
        F.coalesce(
            *( [F.col("mime")] if "mime" in cols else [] ),
            *( [F.col("mime_or_unknown")] if "mime_or_unknown" in cols else [] ),
            F.lit("unknown"),
        ).alias("mime"),
        F.col("status").cast("int").alias("status"),
        (F.coalesce(F.col("revisit"), F.lit(False)) if "revisit" in cols
         else F.lit(False)).alias("revisit"),
        (F.col("original_url") if "original_url" in cols
         else F.lit(None).cast("string")).alias("original_url"),
        orig_ts.alias("original_ts"),
    )


@dataclass
class IndexBuildResult:
    index: DataFrame     # (url, url_canon, digest, digest_stripped, ts, record_id, mime)
    counters: DataFrame  # one row: handled/skipped_status/skipped_mime/
                         #          unresolved/quarantined_url/indexed/index_rows


def build_index(
    captures: DataFrame,
    mime_filter: str = DEFAULT_MIME_FILTER,
    blacklist: bool = True,
    index_url: bool = True,
    canonicalizer=canonicalize_url,
    observation: Observation | None = None,
) -> IndexBuildResult:
    """captures(url, digest, ts, record_id, mime, status, revisit,
    original_url, original_ts) -> IndexBuildResult.

    ``index_url`` mirrors the indexURL config (IndexingLauncher.java:98):
    True upserts on (url, digest) (A5), False on digest alone (A6).
    ``canonicalizer`` is injectable (U5)."""
    ok_status = F.col("status") == 200
    mime_hit = F.coalesce(F.col("mime"), F.lit("unknown")).rlike(mime_filter)
    ok_mime = ~mime_hit if blacklist else mime_hit
    unresolved = F.col("revisit") & (
        F.col("original_url").isNull() | F.col("original_ts").isNull()
    )
    # classification in gate order: each record counts in the FIRST gate that
    # drops it, so the counters reconcile exactly (A4)
    clazz = (
        F.when(~ok_status, "skipped_status")
        .when(~ok_mime, "skipped_mime")
        .when(unresolved, "unresolved")
        .when(F.col("url").contains('"'), "quarantined_url")
        .otherwise("indexed")
    )
    classified = captures.withColumn("_class", clazz)

    projected = (
        classified.filter(F.col("_class") == "indexed")
        .select(
            F.when(F.col("revisit"), F.col("original_url")).otherwise(F.col("url")).alias("url"),
            "digest",
            F.when(F.col("revisit"), F.col("original_ts")).otherwise(F.col("ts")).alias("ts"),
            "record_id",
            F.coalesce(F.col("mime"), F.lit("unknown")).alias("mime"),
        )
    )
    enriched = projected.select(
        "url",
        canonicalizer(F.col("url")).alias("url_canon"),
        "digest",
        F.substring_index(F.col("digest"), ":", -1).alias("digest_stripped"),
        "ts", "record_id", "mime",
    )
    if observation is not None:  # W3: rows-indexed progress telemetry
        enriched = enriched.observe(
            observation,
            F.count(F.lit(1)).alias("indexed_rows"),
            F.approx_count_distinct("digest").alias("distinct_digests"),
        )
    keys = ("url", "digest") if index_url else ("digest",)
    index = last_wins_upsert(enriched.limit(0), enriched, keys=keys)

    counts = classified.agg(
        F.count("*").alias("handled"),
        *[F.sum((F.col("_class") == c).cast("long")).alias(c)
          for c in ("skipped_status", "skipped_mime", "unresolved",
                    "quarantined_url", "indexed")],
    )
    counters = counts.crossJoin(
        index.agg(F.count("*").alias("index_rows"))
    )
    return IndexBuildResult(index=index, counters=counters)
