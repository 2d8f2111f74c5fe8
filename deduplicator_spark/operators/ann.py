"""Near neighbours over embedding columns.

Two structures, both exact integer arithmetic on quantized vectors:

- hyperplane-LSH near-duplicate self-join (``cosine_neardup_pairs``, the
  embedding dedup tier; ``streaming/ann_probe.py`` probes the same buckets):
  each vector gets a b-bit signature (sign of dot with b fixed
  hyperplanes); the candidate join is an equi-join on the bucket id,
  multi-probed (all Hamming<=R flips) for recall, and exact cosine verifies
  candidates. Cost is O(n + collisions), never an all-pairs cross join.
- IVF-flat top-k (``ann_topk_ivf``): data-derived coarse centroids, an
  equi-join on centroid id, exact cosine ranking. ``plans/ann_index.py``
  persists this structure as an index that later increments append to.

LSH scale knobs (all mirrored bit-for-bit in the generated DuckDB oracle):
- ``n_planes``: 8 -> 256 buckets suits a 10^3-10^4-vector sandbox corpus;
  at web scale raise to 16-24 so buckets stay bounded (tests exercise both).
- ``probe_radius``: probe-side multiprobe Hamming radius (1 by default;
  2 recovers recall when the plane count outgrows the corpus).
- ``bucket_cap``: deterministic per-bucket build-side cap (smallest vec_ids
  win) so one mega-bucket of near-identical embeddings cannot explode the
  candidate join — the ANN analog of the LSH tier's star fallback.

Determinism contract: hyperplanes are INTEGER-valued (seeded PCG64) and the
embeddings are quantized to integers (round(x*1000)) before the dot product,
so the signature arithmetic is exact integer math — bit-identical across
Spark, numpy, and the DuckDB oracle (no float-summation-order sign flips on
near-orthogonal vectors).
"""

from __future__ import annotations

from collections.abc import Iterator
from itertools import combinations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .candidates import cap_per_key

ANN_SEED = 7
ANN_PLANES = 8
ANN_QUANT = 1000
ANN_BUCKET_CAP = 1024


def lsh_planes(dim: int, n_planes: int = ANN_PLANES, seed: int = ANN_SEED) -> np.ndarray:
    """(n_planes, dim) int64 hyperplane coefficients in [-999, 999]."""
    rng = np.random.Generator(np.random.PCG64(seed))
    return rng.integers(-999, 1000, size=(n_planes, dim), dtype=np.int64)


def with_lsh_bucket(emb: DataFrame, dim: int, vec_col: str = "embedding",
                    n_planes: int = ANN_PLANES, seed: int = ANN_SEED) -> DataFrame:
    """+ bucket:long — b-bit hyperplane signature, exact integer arithmetic."""
    planes = lsh_planes(dim, n_planes, seed)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            # round-half-away-from-zero: matches DuckDB/Spark round(), unlike
            # np.rint's banker's rounding
            s = v * ANN_QUANT
            q = (np.sign(s) * np.floor(np.abs(s) + 0.5)).astype(np.int64)
            dots = q @ planes.T  # exact: |dot| < 64 * 999 * ~1e5 << 2^63
            bits = (dots > 0).astype(np.int64)
            bucket = bits @ (1 << np.arange(n_planes, dtype=np.int64))
            out = pdf.copy()
            out["bucket"] = bucket
            yield out

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in emb.schema)
    return emb.mapInPandas(gen, schema=f"{schema}, bucket long")


def _flip_masks(n_planes: int, radius: int) -> list[int]:
    """All XOR masks with popcount <= radius (incl. 0 = the bucket itself)."""
    masks = [0]
    for r in range(1, radius + 1):
        for bits in combinations(range(n_planes), r):
            masks.append(sum(1 << b for b in bits))
    return masks


def multiprobe_buckets(bucket_col, n_planes: int = ANN_PLANES, radius: int = 1):
    """array<long>: the bucket plus all Hamming<=radius flips (query side)."""
    return F.array(*[bucket_col.bitwiseXOR(F.lit(m))
                     for m in _flip_masks(n_planes, radius)])


def _cos(a: str, b: str):
    """Exact cosine between two array<double> columns as one Column fold —
    the single implementation every ANN variant scores with."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)

    def norm(c):
        return F.sqrt(F.aggregate(F.transform(c, lambda x: x * x),
                                  F.lit(0.0), lambda acc, x: acc + x))

    return dot / (norm(F.col(a)) * norm(F.col(b)))



def cosine_neardup_pairs(emb: DataFrame, dim: int, threshold: float = 0.95,
                         vec_col: str = "embedding", id_col: str = "vec_id",
                         n_planes: int = ANN_PLANES, probe_radius: int = 1,
                         bucket_cap: int = ANN_BUCKET_CAP,
                         seed: int = ANN_SEED) -> DataFrame:
    """Embedding-cosine near-duplicate SELF-JOIN: (id_a < id_b, cos) for
    pairs landing in a shared (multiprobed) LSH bucket with cos >= threshold.

    The scale path for 'embedding near-dup' dedup: candidates are an
    equi-join on bucket (O(n + collisions)), never an all-pairs cross join;
    exact cosine verifies candidates. Recall comes from plane count + probe
    radius (planted-truth pytest pins >= 0.95 for near-identical vectors);
    determinism is the integer-plane contract in the module docstring, so
    the generated DuckDB oracle is bit-identical.

    The build side is capped per bucket (mega-bucket guard) but the PROBE
    side is the UNCAPPED signature frame: a member beyond the cap in its
    home bucket still probes the survivors, so no vector is exempted from
    dedup — the ANN analog of the LSH tier's "star edges never drop
    members" rule.
    """
    base = emb.select(id_col, F.transform(vec_col, lambda x: x.cast("double")).alias("v"))
    # persisted for the session (probe + capped sides both read it; the
    # plan is consumed lazily so there is no safe unpersist point here) —
    # the same deliberate trade as video.py's frame persist; long-lived
    # drivers doing many passes can spark.catalog.clearCache() between them
    sig = with_lsh_bucket(base, dim, vec_col="v", n_planes=n_planes, seed=seed).persist()
    capped = cap_per_key(sig, ["bucket"], [F.col(id_col).asc()], bucket_cap)
    probes = sig.select(
        F.col(id_col).alias("id_a"), F.col("v").alias("va"),
        F.explode(multiprobe_buckets(F.col("bucket"), n_planes,
                                     probe_radius)).alias("bucket"))
    cands = (
        probes.join(capped.select(F.col(id_col).alias("id_b"),
                                  F.col("v").alias("vb"), "bucket"), "bucket")
        .filter(F.col("id_a") != F.col("id_b"))
    )
    # canonicalize AFTER the join (not id_a < id_b in it): a capped-out
    # member has a LARGER id than every survivor of its bucket, so ordering
    # inside the join would drop exactly the pairs the uncapped probe side
    # exists to preserve. cos is exactly symmetric (same zip order), so the
    # two directions of a survivor-survivor pair collapse under distinct.
    return (
        cands.select(F.least("id_a", "id_b").alias("id_a"),
                     F.greatest("id_a", "id_b").alias("id_b"),
                     _cos("va", "vb").alias("cos"))
        .distinct()  # pairs can collide in several probed buckets + both directions
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )


def cosine_neardup_oracle_sql(dim: int, threshold: float = 0.95,
                              n_planes: int = ANN_PLANES, probe_radius: int = 1,
                              bucket_cap: int = ANN_BUCKET_CAP,
                              seed: int = ANN_SEED) -> str:
    """DuckDB twin of cosine_neardup_pairs (same planes/masks/cap)."""
    planes = lsh_planes(dim, n_planes, seed)
    values = ",\n    ".join(f"({i}, {planes[i].tolist()})" for i in range(n_planes))
    masks = ", ".join(str(m) for m in _flip_masks(n_planes, probe_radius))
    return f"""
WITH eq AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(round(x * {ANN_QUANT}) AS BIGINT)) AS vq
  FROM embeddings
),
planes(idx, p) AS (VALUES
    {values}
),
sig AS (
  SELECT vec_id, v,
         CAST(sum(CASE WHEN list_dot_product(vq, p) > 0 THEN 1 << idx ELSE 0 END) AS BIGINT) AS bucket
  FROM eq CROSS JOIN planes GROUP BY vec_id, v
),
capped AS (
  SELECT vec_id, v, bucket FROM (
    SELECT vec_id, v, bucket,
           row_number() OVER (PARTITION BY bucket ORDER BY vec_id ASC) AS bn
    FROM sig
  ) WHERE bn <= {bucket_cap}
),
probes AS (
  SELECT vec_id AS id_a, v AS va, xor(bucket, CAST(m AS BIGINT)) AS bucket
  FROM sig CROSS JOIN (SELECT unnest([{masks}]) AS m) t
),
pairs AS (
  SELECT DISTINCT least(p.id_a, s.vec_id) AS id_a, greatest(p.id_a, s.vec_id) AS id_b,
         list_dot_product(p.va, s.v)
           / (sqrt(list_dot_product(p.va, p.va)) * sqrt(list_dot_product(s.v, s.v))) AS cos
  FROM probes p JOIN capped s USING (bucket)
  WHERE p.id_a <> s.vec_id
)
SELECT id_a, id_b, round(cos, 6) AS cos FROM pairs WHERE cos >= {threshold}
"""


IVF_NLIST = 16
IVF_NPROBE = 4



def _dotq(a, b):
    """Exact integer dot product of two quantized arrays (Column)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0).cast("long"), lambda acc, x: acc + x)


def ann_topk_ivf(emb: DataFrame, dim: int, k: int = 5, n_queries: int = 20,
                 nlist: int = IVF_NLIST, nprobe: int = IVF_NPROBE,
                 vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """IVF-flat approximate top-k: (query_id, neighbor_id, rank, cos).

    Inverted-file structure without a training loop: the ``nlist`` vectors
    with the SMALLEST ids act as coarse centroids (deterministic — no kmeans
    iterations to reproduce cross-engine, and no assumption that ids are
    contiguous or zero-based: a sparse id space yields the same well-defined
    centroid set); every vector is assigned to its best centroid by EXACT
    integer quantized dot / centroid norm, queries (the ``n_queries``
    smallest ids) probe their ``nprobe`` best centroids, and exact cosine
    ranks the candidates. The candidate join is an equi-join on centroid
    id — O(n + n·nprobe/nlist) per query instead of O(n·q). All Column
    algebra (one broadcast cross join against nlist rows; centroid/query
    selection is TakeOrderedAndProject — no full sort); assignment
    determinism comes from integer dots + IEEE double division, identical
    in DuckDB.
    """
    eq = emb.select(
        id_col,
        F.transform(vec_col, lambda x: x.cast("double")).alias("v"),
        F.transform(vec_col, lambda x:
                    F.round(x.cast("double") * ANN_QUANT).cast("long")).alias("vq"),
    )
    cent = eq.orderBy(F.col(id_col).asc()).limit(nlist).select(
        F.col(id_col).alias("cid"), F.col("vq").alias("cq"))
    scored = eq.crossJoin(F.broadcast(cent)).select(
        id_col, "v", "cid",
        (_dotq(F.col("vq"), F.col("cq")).cast("double")
         / F.sqrt(_dotq(F.col("cq"), F.col("cq")).cast("double"))).alias("score"),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("cid").asc())
    ranked = scored.withColumn("crank", F.row_number().over(w))
    assign = ranked.filter(F.col("crank") == 1).select(id_col, "v", "cid")
    qids = eq.orderBy(F.col(id_col).asc()).limit(n_queries).select(id_col)
    qprobe = (
        ranked.join(F.broadcast(qids), id_col, "left_semi")
        .filter(F.col("crank") <= nprobe)
        .select(F.col(id_col).alias("query_id"), F.col("v").alias("qv"), "cid")
    )
    cands = F.broadcast(qprobe).join(
        assign.select(F.col(id_col).alias("neighbor_id"), F.col("v").alias("nv"), "cid"),
        "cid",
    ).filter(F.col("neighbor_id") != F.col("query_id"))

    out = cands.select(
        "query_id", "neighbor_id",
        _cos("qv", "nv").alias("cos"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                                F.col("neighbor_id").asc())
    return (
        out.withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"),
                F.round("cos", 6).alias("cos"))
    )


def ann_ivf_oracle_sql(k: int = 5, n_queries: int = 20,
                       nlist: int = IVF_NLIST, nprobe: int = IVF_NPROBE) -> str:
    """DuckDB twin of ann_topk_ivf — centroids are data-derived in-SQL, so
    nothing is generated from the corpus at SQL-build time."""
    return f"""
WITH eq AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(round(x * {ANN_QUANT}) AS BIGINT)) AS vq
  FROM embeddings
),
cent AS (SELECT vec_id AS cid, vq AS cq FROM eq ORDER BY vec_id ASC LIMIT {nlist}),
scored AS (
  SELECT eq.vec_id, eq.v, cent.cid,
         CAST(list_dot_product(eq.vq, cent.cq) AS DOUBLE)
           / sqrt(CAST(list_dot_product(cent.cq, cent.cq) AS DOUBLE)) AS score
  FROM eq CROSS JOIN cent
),
ranked AS (
  SELECT vec_id, v, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid ASC) AS crank
  FROM scored
),
assign AS (SELECT vec_id, v, cid FROM ranked WHERE crank = 1),
qprobe AS (
  SELECT vec_id AS query_id, v AS qv, cid
  FROM ranked
  WHERE vec_id IN (SELECT vec_id FROM eq ORDER BY vec_id ASC LIMIT {n_queries})
    AND crank <= {nprobe}
),
cands AS (
  SELECT q.query_id, a.vec_id AS neighbor_id,
         list_dot_product(q.qv, a.v)
           / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(a.v, a.v))) AS cos
  FROM qprobe q JOIN assign a USING (cid)
  WHERE a.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos
FROM (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM cands
) WHERE rank <= {k}
"""
