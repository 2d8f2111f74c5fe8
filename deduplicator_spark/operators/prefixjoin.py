"""Prefix-filtering exact set-similarity self-join (PPJoin family: Bayardo
et al. WWW'07 "Scaling Up All Pairs Similarity Search"; Vernica, Carey, Li
SIGMOD'10 for the MapReduce shape this follows).

A third candidate-generation strategy next to the inverted-shingle join
(entry_queries.q_ngram_jaccard_pairs — exact but indexes EVERY shingle) and
MinHash/LSH (operators/minhash.py — indexes a constant number of band keys
but is probabilistic): index only each set's PREFIX under a global rarest-
first element order, and the output is still EXACTLY the J >= t pairs.

Theorem (prefix filtering, Jaccard form): order all elements by a global
total order; for a set x take the prefix of its sorted form of length
    p(x) = |x| - ceil(t * |x|) + 1.
If J(A, B) >= t then prefix(A) and prefix(B) share at least one element —
so the equi-join of prefixes followed by an exact Jaccard verify loses
nothing. At t = 0.8 the prefix is ~20% of each set: candidate volume drops
by ~25x vs the full inverted index while keeping the exactness LSH gives up.

The global order is (document frequency ASC, hash ASC) — rarest first — so
prefix posting lists are the SHORTEST lists by construction: a shingle that
appears everywhere is ordered last and almost never lands in a prefix.

100 TB shape: one explode + groupBy for df, one window per doc for the
sorted rank (shuffle on doc_id), one equi-join on prefix elements whose
posting lists are df-ordered-short, then the bounded verify join. The
inherent limit of ANY exact algorithm stands: a mega-class of near-identical
documents has quadratic OUTPUT; the pipeline's scale path for those is the
exact-digest tier (identical rows collapse first) and the capped LSH tier —
cite entry_queries.SHINGLE_DF_CAP for the same discussion on the inverted
index. Reference semantics generalized: DeDuplicator's digest equality
(DigestIndexer.java) extended to thresholded set similarity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..config import DEFAULT, DedupConfig
from .minhash import jaccard_verify, prepared_features


def prefix_length(n_col, t: float):
    """p = n - ceil(t*n) + 1, as a Column (n_col = set size).

    ceil is computed with a 1e-9 guard band: when the binary double of t*n
    lands just ABOVE an integer k (true value <= k), plain ceil over-rounds
    to k+1, shrinking the prefix below the theorem's bound and dropping
    exactly-at-threshold pairs. Subtracting the epsilon can only ever make
    the prefix LONGER (more candidates, never fewer), so exactness is
    preserved in both rounding directions."""
    return n_col - F.ceil(F.lit(t) * n_col - F.lit(1e-9)).cast("long") + 1


def prefix_filtered_pairs(items: DataFrame, t: float = 0.8,
                          cfg: DedupConfig = DEFAULT,
                          prepared: DataFrame | None = None) -> DataFrame:
    """All pairs with shingle-set Jaccard >= t: (id_a, id_b, jaccard) over
    (image_id, caption) rows. Exact — equals the full inverted-index join.
    Pass a persisted prepared_features frame to share the caption scan."""
    prep = prepared if prepared is not None else prepared_features(items, cfg)
    sh = prep.select("image_id", "sh_hashes")

    e = sh.select("image_id", F.explode("sh_hashes").alias("h"))
    df_tbl = e.groupBy("h").agg(F.count("*").alias("df"))
    # df_tbl's cardinality is the corpus's distinct-shingle count — hint it
    # off the broadcast path (per-partition build side instead of a driver
    # relation); see BENCH/SF100X_GATE.md for the estimate-vs-allocation
    # hazard this guards against.
    ranked = (
        e.join(df_tbl.hint("shuffle_hash"), "h")
        .withColumn("_rk", F.row_number().over(
            Window.partitionBy("image_id")
            .orderBy(F.col("df").asc(), F.col("h").asc())))
        .withColumn("_n", F.count("*").over(Window.partitionBy("image_id")))
    )
    prefix = ranked.filter(F.col("_rk") <= prefix_length(F.col("_n"), t)) \
        .select("image_id", "h")

    cands = (
        prefix.alias("a")
        .join(prefix.alias("b"),
              (F.col("a.h") == F.col("b.h"))
              & (F.col("a.image_id") < F.col("b.image_id")))
        .select(F.col("a.image_id").alias("id_a"),
                F.col("b.image_id").alias("id_b"))
        .distinct()
    )
    return jaccard_verify(cands, sh, t) \
        .select("id_a", "id_b", "jaccard")
