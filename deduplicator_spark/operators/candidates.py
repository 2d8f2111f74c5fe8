"""Shared LSH bucket -> candidate-pair machinery (tiers 1 and 2).

A banded signature (pHash bit-bands or MinHash LSH bands) becomes candidate
pairs via one equi-join-shaped groupBy on (band, key) — the set-oriented analog
of the reference's per-record index probe (LuceneIndexSearcher.java:285-296).

Scale levers, explicit per SURVEY.md §7.4 and the north rule's salted-key
skew handling:

* **Bucket explosion cap**: all-pairs inside a bucket is O(g^2). Buckets up
  to ``pair_cap`` members emit all pairs (needed because similarity is not
  transitive: in {x, a, b} with a~b but x far from both, star-only edges
  would lose a-b). Larger buckets — at web scale these are boilerplate /
  near-identical content — fall back to star edges around the bucket minimum.
* **Star edges never drop members**: big buckets are handled by a JOIN
  against the bucket minimum, not a collected (and therefore capped) member
  list — every member of a 10M-row boilerplate bucket gets its star edge.
  AQE skew-join splitting spreads the hot key's join rows.
* **Salting**: member lists are only ever collected for SMALL buckets, and
  the collection itself is a salted two-phase aggregation — phase 1 groups by
  (band, key, salt = hash(id) % S) and keeps at most pair_cap+1 ids per salt,
  so no aggregation state ever exceeds S x (pair_cap+1) ids per key even
  when millions of rows share one band key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def cap_per_key(df: DataFrame, keys: list[str], order_by: list[Column],
                cap: int) -> DataFrame:
    """Deterministic per-key posting cap: keep the first ``cap`` rows of
    each key group in ``order_by`` order. One sort-based (disk-spillable)
    window — the shared hot-key guard of the ANN bucket caps and the
    containment/video posting caps."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (df.withColumn("_pn", F.row_number().over(w))
            .filter(F.col("_pn") <= cap).drop("_pn"))


def collect_buckets(
    banded: DataFrame,
    pair_cap: int = 16,
    salt_buckets: int = 8,
) -> DataFrame:
    """(band, key, ids, n) per bucket with > 1 member — the salted two-phase
    member collection. ``ids`` is the capped, sorted member sample
    (<= salt_buckets * (pair_cap+1), smallest ids first, true global minimum
    at position 1); ``n`` is the exact bucket cardinality. Its skew
    measurements are in BENCH/SKEW.md."""
    frag_cap = pair_cap + 1  # one extra: a complete fragment proves n <= cap
    # Rank-then-collect, NOT collect-then-slice: slicing a collect_list
    # still buffers the whole salt group (n/S ids) in one non-spillable
    # aggregation buffer before the slice. The row_number pre-filter runs
    # in a sort-based (disk-spillable) window over the same partitioning
    # the aggregation needs — one Exchange, reused — so no collect_list
    # buffer ever exceeds frag_cap ids even on a 10M-member band key.
    salted = banded.withColumn(
        "_salt", F.pmod(F.xxhash64("image_id"), F.lit(salt_buckets)))
    wsort = Window.partitionBy("band", "key", "_salt").orderBy("image_id")
    wall = Window.partitionBy("band", "key", "_salt")
    p1 = (
        salted
        .withColumn("_rn", F.row_number().over(wsort))
        .withColumn("_cnt", F.count("*").over(wall))
        .filter(F.col("_rn") <= frag_cap)
        .groupBy("band", "key", "_salt")
        .agg(
            F.sort_array(F.collect_list("image_id")).alias("ids"),
            F.first("_cnt").alias("cnt"),
        )
    )
    return (
        p1.groupBy("band", "key")
        .agg(
            F.array_sort(F.flatten(F.collect_list("ids"))).alias("ids"),
            F.sum("cnt").alias("n"),
        )
        .filter(F.col("n") > 1)
    )


def candidate_pairs_from_bands(
    banded: DataFrame,
    pair_cap: int = 16,
    salt_buckets: int = 8,
) -> DataFrame:
    """banded: (image_id, band:int, key:long) -> distinct (id_a < id_b) pairs."""
    buckets = collect_buckets(banded, pair_cap, salt_buckets)

    # small buckets: the salted fragments are provably complete (every salt
    # held <= pair_cap < frag_cap members) -> exact all-pairs expansion
    small = buckets.filter(F.col("n") <= pair_cap)
    small_pairs = (
        small.select(F.posexplode("ids").alias("i", "id_a"), F.col("ids"))
        .select("id_a", F.explode(F.slice(F.col("ids"), F.col("i") + 2, 2147483647)).alias("id_b"))
    )

    # big buckets: star edges to the bucket minimum via join — covers EVERY
    # member (fragment minima are true minima, so array_min(ids) is the
    # global bucket minimum even though ids is a capped sample)
    big_mins = buckets.filter(F.col("n") > pair_cap).select(
        "band", "key", F.element_at("ids", 1).alias("id_a")
    )
    # big_mins is a corpus-growing string-id aggregate (one row per hot
    # bucket, unbounded on boilerplate-heavy corpora) — bar it from the
    # driver-broadcast path like the other aggregates of its class
    # (BENCH/SF100X_GATE.md): per-partition hash build instead.
    big_pairs = (
        banded.join(big_mins.hint("shuffle_hash"), ["band", "key"])
        .filter(F.col("image_id") != F.col("id_a"))
        .select("id_a", F.col("image_id").alias("id_b"))
    )
    return small_pairs.unionByName(big_pairs).distinct()


def canonical_pairs(df: DataFrame, a: str = "id_a", b: str = "id_b") -> DataFrame:
    """Normalize so id_a < id_b and drop self/duplicate pairs."""
    return (
        df.filter(F.col(a) != F.col(b))
        .select(
            F.least(F.col(a), F.col(b)).alias("id_a"),
            F.greatest(F.col(a), F.col(b)).alias("id_b"),
        )
        .distinct()
    )
