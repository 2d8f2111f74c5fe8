"""End-to-end training-corpus curation plan for the TEXT payload: one
declarative composition of the passes a large-scale training-data pipeline
runs before data ships — eval-set decontamination, heuristic quality gating,
near-duplicate clustering, and cluster-representative selection — emitting a
per-document verdict table.

This is the text analog of plans/pipeline.py's image flagship, and the
training-data generalization of the reference's probe lifecycle: where
DeDuplicator.java:169-208 assigns each crawl capture a duplicate/novel
verdict against an index, curate_documents assigns each training document a
kept/dropped verdict against the eval set, the quality bar, and its own
near-dup cluster (the keeper plays the index entry; the dropped members are
the revisits, refers_to_* attached exactly like K3's revisit profile).

Verdict precedence mirrors the reference's "exact beats weaker" strategy
order (LuceneIndexSearcher.java:131-170): eval_overlap > quality reason >
near_duplicate — a contaminated document is dropped for contamination even
if it is also short or duplicated, and only clean survivors pay for the
dedup tiers.

100 TB shape, stage by stage:
  * decontamination — the eval side is tiny (benchmarks are KBs), so its
    distinct shingle set is BROADCAST; the corpus is scanned once, no
    shuffle, and the matched-id set is again broadcast back as an anti-join.
  * quality gate — pure Column algebra fused into the same scan (map-only).
  * dedup — runs on SURVIVORS ONLY (filter-first: at realistic drop rates
    this is the difference between LSH over 100 TB and LSH over 60 TB); the
    banded join + exact-Jaccard verify + CC reuse the hardened operators
    (salted hot bands, capped buckets with star fallback, pointer-doubling
    CC), so the skew story is inherited, not re-derived.
  * representative selection — one window over cluster_id, which is already
    the CC shuffle key; no new exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..config import DEFAULT, DedupConfig
from ..functions.hashing import shingles, tokens
from ..operators.candidates import candidate_pairs_from_bands, canonical_pairs
from ..operators.components import connected_components
from ..operators.minhash import (
    banded_from_prepared,
    jaccard_verify,
    prepared_features,
)

# Quality-gate thresholds: the one home of the bucket rule. The
# curate_corpus oracle (entry_queries._CURATE_SQL) mirrors the same buckets
# and precedence.
MIN_TOKENS = 20
MIN_TTR = 0.3
MIN_STOP_RATIO = 0.05
STOPWORDS = ("the", "a", "of", "and", "to", "in")

KEPT = "kept"
DROPPED = "dropped"


def quality_reason(tok_col) -> F.Column:
    """NULL when the document passes the gate, else the first failing
    bucket in fixed precedence order (short > repetitive > no_stopwords),
    as a drop reason."""
    dtoks = F.array_distinct(tok_col)
    ttr = F.size(dtoks) / F.size(tok_col)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_ratio = F.size(F.array_intersect(dtoks, stop_arr)) / F.size(dtoks)
    return (
        F.when(F.size(tok_col) < MIN_TOKENS, "quality:short")
        .when(ttr < MIN_TTR, "quality:repetitive")
        .when(stop_ratio < MIN_STOP_RATIO, "quality:no_stopwords")
    )


# Broadcast guard: eval sets are KBs and contamination rates are small in
# every realistic regime, but nothing enforced that — a pathological eval
# set would silently blow past Spark's broadcast memory. Sets up to this
# many rows broadcast (well under the 8 GB hard limit at ~100 B/row);
# larger ones fall back to a shuffle join with identical semantics.
MAX_BROADCAST_ROWS = 4_000_000


def _gated_broadcast(df: DataFrame, max_rows: int = MAX_BROADCAST_ROWS,
                     persist: bool = False) -> DataFrame:
    """Broadcast ``df`` only when its cardinality is known-small; above the
    bound, return it unhinted so the join shuffles. The count is an extra
    action, so callers pass persist=True when df's lineage is expensive
    (the persisted frame is what both the count and the join consume).
    The cache lives for the session (the join consumes the returned plan
    lazily, so there is no safe point to unpersist here); frames gated
    this way are small by construction and MEMORY_AND_DISK blocks are
    LRU-evicted under pressure — long-lived sessions doing many curate
    passes can spark.catalog.clearCache() between them.

    Why not leave the join unhinted and let AQE convert SMJ->broadcast at
    runtime: AQE re-plans only at stage boundaries, AFTER the shuffle map
    stages materialize — the full exploded-corpus side would write its
    shuffle before the conversion kicks in, which at 100 TB is exactly the
    shuffle the plan-time broadcast exists to avoid. An eager count of the
    SMALL side is the cheapest way to make the hint decision sound."""
    if persist:
        df = df.persist()
    return F.broadcast(df) if df.count() <= max_rows else df


def contaminated_ids(docs: DataFrame, eval_docs: DataFrame,
                     cfg: DedupConfig = DEFAULT,
                     max_broadcast_rows: int = MAX_BROADCAST_ROWS) -> DataFrame:
    """doc_ids sharing ANY k-token shingle with the eval set (GPT-3-style
    n-gram decontamination). Eval shingles broadcast when they fit
    (_gated_broadcast) — one corpus scan, no shuffle; output is DISTINCT
    ids, bounded by the contamination rate."""
    ev = (
        eval_docs.select(
            F.explode(shingles(tokens(F.col("text")), cfg.shingle_k))
            .alias("shingle"))
        .distinct()
    )
    return (
        docs.select("doc_id",
                    F.explode(shingles(tokens(F.col("text")), cfg.shingle_k))
                    .alias("shingle"))
        .join(_gated_broadcast(ev, max_broadcast_rows, persist=True),
              "shingle")
        .select("doc_id")
        .distinct()
    )


def eval_contaminated_spans(docs: DataFrame, eval_docs: DataFrame,
                            cfg: DedupConfig = DEFAULT, k: int | None = None,
                            max_broadcast_rows: int = MAX_BROADCAST_ROWS,
                            id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """SPAN-level decontamination: (doc_id, span_start, span_end,
    span_tokens) — the maximal disjoint token spans of each training doc
    covered by k-token windows that also occur in the eval set. Where
    contaminated_ids drops whole documents, this emits a CUT LIST so the
    document survives with only the leaked passage excised (excise_spans)
    — the span analog of the reference's annotate-don't-drop philosophy
    (DeDuplicator.java:183-188 annotates the capture and proceeds).

    Composition, not construction: window_grams positions every k-window,
    the (gated-broadcast) eval gram join marks the contaminated starts, and
    the gaps-and-islands merge (operators/passages.spans_from_positions) is
    the exact machinery of the ExactSubstr pass. One corpus scan + one
    bounded per-doc shuffle of matched positions."""
    from ..operators.passages import spans_from_positions, window_grams

    k = k or cfg.shingle_k
    ev = window_grams(eval_docs, k, id_col, text_col) \
        .select("gram").distinct()
    hits = (
        window_grams(docs, k, id_col, text_col)
        .join(_gated_broadcast(ev, max_broadcast_rows, persist=True), "gram")
        .select(id_col, "pos")
    )
    return spans_from_positions(hits, k, id_col)


def excise_spans(docs: DataFrame, spans: DataFrame,
                 id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Cut the span tokens out of each document: (id, text) with every token
    inside a (span_start, span_end) range removed and the survivors
    re-joined on single spaces; docs with no spans pass through verbatim.
    Pure Column algebra after one left join of the (tiny) span list — the
    apply step of eval_contaminated_spans' cut list."""
    sp = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans"))
    toks = tokens(F.col(text_col))
    indexed = F.transform(
        toks, lambda x, i: F.struct(x.alias("tok"),
                                    i.cast("long").alias("i")))
    kept = F.filter(
        indexed,
        lambda s: ~F.exists(
            "_spans",
            lambda r: (s["i"] >= r["span_start"]) & (s["i"] <= r["span_end"])),
    )
    return (
        docs.join(sp, id_col, "left")
        .select(
            id_col,
            F.when(F.col("_spans").isNull(), F.col(text_col))
            .otherwise(F.concat_ws(
                " ", F.transform(kept, lambda s: s["tok"])))
            .alias(text_col),
        )
    )


def curate_documents(docs: DataFrame, eval_docs: DataFrame,
                     cfg: DedupConfig = DEFAULT,
                     jaccard_t: float = 0.8,
                     observation=None,
                     max_broadcast_rows: int = MAX_BROADCAST_ROWS) -> DataFrame:
    """Curate (doc_id:long, text:string) against a held-out eval set.

    Returns one row per input document:
      (doc_id, status 'kept'|'dropped', reason, cluster_id, refers_to)
    reason is NULL for kept rows; 'eval_overlap', 'quality:<bucket>' or
    'near_duplicate' for drops. cluster_id is the near-dup cluster label
    (survivors only); refers_to is the kept representative a near-dup was
    folded into (the K3 refers_to analog). Pass a pyspark Observation to
    ride kept/dropped counters on the result action (A-series counters,
    DeDuplicator.java:54-94) without a second pass."""
    base = docs.select("doc_id", tokens(F.col("text")).alias("toks"),
                       F.col("text"))
    cont = contaminated_ids(docs, eval_docs, cfg, max_broadcast_rows)
    # contaminated ids are bounded by the contamination rate, but guard the
    # broadcast anyway (persist=True: the count and the join share the
    # materialized set instead of re-running the decontamination scan)
    pre = (
        base.join(_gated_broadcast(cont.withColumn("_cont", F.lit(True)),
                                   max_broadcast_rows, persist=True),
                  "doc_id", "left")
        .select(
            "doc_id", "text",
            F.size("toks").cast("long").alias("n_tok"),
            F.when(F.col("_cont"), "eval_overlap")
            .otherwise(quality_reason(F.col("toks"))).alias("pre_reason"),
        )
    )
    dropped_early = pre.filter(F.col("pre_reason").isNotNull()).select(
        "doc_id",
        F.lit(DROPPED).alias("status"),
        F.col("pre_reason").alias("reason"),
        F.lit(None).cast("long").alias("cluster_id"),
        F.lit(None).cast("long").alias("refers_to"),
    )

    surv = pre.filter(F.col("pre_reason").isNull()).select("doc_id", "text", "n_tok")
    items = surv.select(
        F.format_string("%012d", "doc_id").alias("image_id"),
        F.col("text").alias("caption"),
    )
    prep = prepared_features(items, cfg).persist()
    cands = candidate_pairs_from_bands(
        banded_from_prepared(prep),
        pair_cap=cfg.hot_band_threshold, salt_buckets=cfg.salt_buckets)
    pairs = jaccard_verify(cands, prep, jaccard_t)
    cc = connected_components(
        canonical_pairs(pairs.select("id_a", "id_b")),
        nodes=items.select("image_id"),
    ).select(
        F.col("image_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )
    j = cc.join(surv.select("doc_id", "n_tok"), "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_tok").desc(), F.col("doc_id").asc())
    ranked = (
        j.withColumn("_rn", F.row_number().over(w))
        .withColumn("_keep", F.min(F.when(F.col("_rn") == 1, F.col("doc_id")))
                    .over(Window.partitionBy("cluster_id")))
    )
    surv_verdicts = ranked.select(
        "doc_id",
        F.when(F.col("_rn") == 1, KEPT).otherwise(DROPPED).alias("status"),
        F.when(F.col("_rn") != 1, "near_duplicate").alias("reason"),
        "cluster_id",
        F.when(F.col("_rn") != 1, F.col("_keep")).cast("long").alias("refers_to"),
    )
    out = dropped_early.unionByName(surv_verdicts)
    if observation is not None:
        out = out.observe(
            observation,
            F.count(F.lit(1)).alias("total"),
            F.sum((F.col("status") == KEPT).cast("long")).alias("kept"),
            *[F.sum((F.col("reason") == r).cast("long")).alias(r.replace(":", "_"))
              for r in ("eval_overlap", "quality:short", "quality:repetitive",
                        "quality:no_stopwords", "near_duplicate")],
        )
    return out
