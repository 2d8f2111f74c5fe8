"""Explicit StructTypes for the synthetic corpus and the documented tables.

The reference's schema is code-declared (IndexFields enum,
deduplicator-commons/.../IndexFields.java:22-39) rather than inferred.
synth.py builds its image corpus and planted truth pairs from
IMAGES_SCHEMA and TRUTH_PAIRS_SCHEMA; INDEX_SCHEMA and VERDICTS_SCHEMA
document the index rows (operators/strategies.py) and the pipeline's
verdicts (plans/pipeline.DedupResult), which the plans build column by
column.
"""

from __future__ import annotations

from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# graft input (BASELINE.json.input_hint)
IMAGES_SCHEMA = StructType([
    StructField("image_id", StringType(), False),
    StructField("bytes", BinaryType(), False),
    StructField("w", IntegerType(), False),
    StructField("h", IntegerType(), False),
    StructField("fmt", StringType(), False),
    StructField("caption", StringType(), False),
    StructField("phash", LongType(), False),
])

TRUTH_PAIRS_SCHEMA = StructType([
    StructField("id_a", StringType(), False),
    StructField("id_b", StringType(), False),
    StructField("kind", StringType(), False),
    StructField("positive", BooleanType(), False),
])

# the persistent "index" (ref IndexFields.java:22-39 — URL, URL_CANONICALIZED,
# DIGEST, DATE, ETAG, ORIGINAL_RECORD_ID)
INDEX_SCHEMA = StructType([
    StructField("url", StringType(), True),
    StructField("url_canon", StringType(), True),
    StructField("digest", StringType(), False),
    StructField("ts", TimestampType(), True),
    StructField("etag", StringType(), True),
    StructField("record_id", StringType(), True),
])

VERDICTS_SCHEMA = StructType([
    StructField("image_id", StringType(), False),
    StructField("verdict", StringType(), False),      # novel | duplicate
    StructField("dup_class", StringType(), True),     # tier of the edge that linked it
    StructField("cluster_id", StringType(), False),
    StructField("refers_to_id", StringType(), True),  # cluster representative (K3 lineage)
])
