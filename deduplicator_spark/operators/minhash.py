"""Tier 2 — near-caption candidates via MinHash/LSH + exact-Jaccard verify.

Pipeline:
    caption -> tokens -> k-shingle hashes -> 128 min-hashes -> 32 band keys
    (one Arrow pass, prepared_features) -> explode (band, key) -> bucketed
    candidate pairs -> exact Jaccard verification on the shingle-hash sets
    (array_intersect, JVM-side).

With b=32, r=4: P(candidate | J) = 1-(1-J^4)^32, i.e. ~1 for J >= 0.8
(miss ~5e-8) and ~0.02 at J = 0.3 — the verified output at threshold 0.8 is
the exact-Jaccard join with negligible recall loss, at O(n·bands) instead of
O(n^2) cost.

A caption with no tokens (null, empty or whitespace-only) has no shingles
and no band keys, so it never forms a near_caption or containment pair.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT, DedupConfig
from .candidates import candidate_pairs_from_bands


def jaccard_verify(cands: DataFrame, prepared: DataFrame,
                   threshold: float) -> DataFrame:
    """Join candidate pairs back to the ``sh_hashes`` shingle-hash sets of
    prepared_features; exact Jaccard, JVM-side."""
    sh = prepared.select("image_id", "sh_hashes")
    a = sh.withColumnRenamed("image_id", "id_a").withColumnRenamed("sh_hashes", "sh_a")
    b = sh.withColumnRenamed("image_id", "id_b").withColumnRenamed("sh_hashes", "sh_b")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    # cands is an aggregated (distinct) all-string pair table that grows
    # linearly with the corpus — never driver-broadcast it
    # (BENCH/SF100X_GATE.md). First join builds the narrow pair side
    # per-partition; the second is pinned sort-merge because its left
    # input now carries sh_a arrays (too heavy for a hash build).
    return (
        cands.hint("shuffle_hash").join(a, "id_a")
        .hint("merge").join(b, "id_b")
        .withColumn("jaccard", inter / F.greatest(union, F.lit(1)))
        .filter(F.col("jaccard") >= threshold)
    )


def near_caption_pairs(images: DataFrame, cfg: DedupConfig = DEFAULT,
                       prepared: DataFrame | None = None) -> DataFrame:
    """(id_a, id_b, tier='near_caption', score=jaccard).

    Pass a persisted ``prepared_features`` frame to share the caption scan
    with tier 3."""
    prep = prepared if prepared is not None else prepared_features(images, cfg)
    cands = candidate_pairs_from_bands(
        banded_from_prepared(prep),
        pair_cap=cfg.hot_band_threshold, salt_buckets=cfg.salt_buckets)
    return jaccard_verify(cands, prep, cfg.jaccard_threshold).select(
        "id_a", "id_b",
        F.lit("near_caption").alias("tier"),
        F.col("jaccard").alias("score"),
    )


# --- Arrow/numpy batched signatures ------------------------------------------
#
# Spark evaluates higher-order functions (transform/aggregate/array_min)
# INTERPRETED, outside whole-stage codegen, so a 128-permutation Column
# expression costs ~45 s of codegen compile plus per-element closure calls.
# Hashing each batch's shingles once (C-level siphash via
# pd.util.hash_array) and taking the 128 affine-permutation minima with
# np.minimum.reduceat is ~10x faster wall-clock at n=10k.

_NO_KEYS = np.empty(0, dtype=np.int64)
_SM1 = np.uint64(0xBF58476D1CE4E5B9)
_SM2 = np.uint64(0x94D049BB133111EB)


def _splitmix(x: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        z = x + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * _SM1
        z = (z ^ (z >> np.uint64(27))) * _SM2
        return z ^ (z >> np.uint64(31))


def _perm_coeffs(cfg: DedupConfig) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.Generator(np.random.PCG64(cfg.minhash_seed))
    a = (rng.integers(1, 1 << 62, size=cfg.minhash_perms, dtype=np.uint64)
         << np.uint64(1)) | np.uint64(1)  # odd multipliers
    b = rng.integers(0, 1 << 62, size=cfg.minhash_perms, dtype=np.uint64)
    return a, b


def _batch_shingle_hashes(captions, k: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Hash every caption's distinct k-shingles once (C-level siphash).

    Returns (base_hashes uint64 flat, offsets intp len n+1, n_tok int32). A
    caption with no tokens (null, empty or whitespace-only) gets n_tok 0 and
    an empty segment: no shingle, so nothing to share with another caption."""
    flat: list[str] = []
    offsets = [0]
    ntok = np.zeros(len(captions), dtype=np.int32)
    for r, cap in enumerate(captions):
        # mirror tokens() = split(trim(cap), '\s+') exactly (trim strips
        # spaces only; other edge whitespace yields empty tokens; re.ASCII
        # pins \s to the JVM's ASCII-only dialect — Python's Unicode \s
        # would also split on NBSP and diverge) so n_tok equals the JVM's
        # token count
        toks = re.split(r"\s+", cap.strip(" "), flags=re.ASCII) if cap is not None else []
        if any(toks):
            ntok[r] = len(toks)
            if len(toks) >= k:
                flat.extend({" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)})
            else:
                flat.append(" ".join(toks))
        offsets.append(len(flat))
    base = pd.util.hash_array(np.asarray(flat, dtype=object)).astype(np.uint64)
    return base, np.asarray(offsets, dtype=np.intp), ntok


def _signatures_from_hashes(base: np.ndarray, offsets: np.ndarray,
                            cfg: DedupConfig, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(n_nonempty, nperm) uint64 MinHash signatures of the rows that have
    shingles, in row order: permutation minima via minimum.reduceat (perms
    chunked to bound memory at ~len(base) x 32 x 8 B). Empty segments are
    left out of the reduceat starts — for one it would return the next row's
    first element, or index past the end on the last row."""
    starts = offsets[:-1][np.diff(offsets) > 0]
    sig = np.empty((len(starts), cfg.minhash_perms), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j0 in range(0, cfg.minhash_perms, 32):
            j1 = min(j0 + 32, cfg.minhash_perms)
            p = base[:, None] * a[None, j0:j1] + b[None, j0:j1]
            sig[:, j0:j1] = np.minimum.reduceat(p, starts, axis=0)
    return sig


def _batch_signatures(captions, cfg: DedupConfig,
                      a: np.ndarray, b: np.ndarray) -> np.ndarray:
    base, offsets, _ = _batch_shingle_hashes(captions, cfg.shingle_k)
    return _signatures_from_hashes(base, offsets, cfg, a, b)


def _row_band_keys(base: np.ndarray, offsets: np.ndarray, cfg: DedupConfig,
                   a: np.ndarray, b: np.ndarray) -> list[np.ndarray]:
    """Per-row int64 band keys; a row with no shingles gets an empty array,
    so it lands in no LSH bucket."""
    keys = iter(_band_keys(_signatures_from_hashes(base, offsets, cfg, a, b), cfg))
    return [next(keys) if h else _NO_KEYS for h in np.diff(offsets) > 0]


def _band_keys(sig: np.ndarray, cfg: DedupConfig) -> np.ndarray:
    """(n_rows, bands) int64 — splitmix-fold each band's rows into one key."""
    n = sig.shape[0]
    folded = sig.reshape(n, cfg.lsh_bands, cfg.lsh_rows)
    key = np.zeros((n, cfg.lsh_bands), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for r in range(cfg.lsh_rows):
            key = _splitmix(key * _SM1 + folded[:, :, r])
    return key.view(np.int64)


def prepared_features(images: DataFrame, cfg: DedupConfig = DEFAULT,
                      with_signatures: bool = True) -> DataFrame:
    """One Arrow pass computing every caption-derived feature the caption
    tiers need: (image_id, n_tok, sh_hashes sorted array<long>, band_keys
    array<long>[lsh_bands], empty for a caption with no tokens).

    The shingle HASHES replace shingle strings everywhere downstream:
    array_intersect on longs is far cheaper than on strings, the base hash is
    computed exactly once per caption (instead of once per join side per
    tier), and |A ∩ B| / |A ∪ B| on 64-bit hashed sets equals the string-set
    Jaccard up to ~2^-64 collision probability. Persist this in pipelines and
    share it across tiers 2 and 3.

    ``with_signatures=False`` skips the MinHash permutation minima and band
    keys (the dominant per-caption cost) and emits empty ``band_keys`` —
    for callers that need only the shingle-hash sets (e.g. a standalone
    containment tier); the schema is unchanged so the frame stays drop-in."""
    a, b = _perm_coeffs(cfg)
    k = cfg.shingle_k

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            base, offsets, ntok = _batch_shingle_hashes(pdf["caption"], k)
            if with_signatures:
                band_keys = _row_band_keys(base, offsets, cfg, a, b)
            else:
                band_keys = [[]] * len(pdf)
            signed = base.view(np.int64)
            yield pd.DataFrame({
                "image_id": pdf["image_id"],
                "n_tok": ntok,
                "sh_hashes": [
                    np.sort(signed[offsets[i]:offsets[i + 1]]).tolist()
                    for i in range(len(pdf))
                ],
                "band_keys": band_keys,
            })

    return images.select("image_id", "caption").mapInPandas(
        gen,
        schema="image_id string, n_tok int, sh_hashes array<long>, band_keys array<long>",
    )


def banded_from_prepared(prepared: DataFrame) -> DataFrame:
    """(image_id, band, key) from prepared_features (band = position)."""
    return prepared.select(
        "image_id", F.posexplode("band_keys").alias("band", "key")
    )
