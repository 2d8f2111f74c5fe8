"""Tier 1 — near-image candidates via banded pHash / SimHash.

Generalizes the reference's exact-digest equality to Hamming-ball equality on
a 64-bit perceptual hash: split into 4 x 16-bit bands (pigeonhole: any pair
with Hamming distance <= 3 agrees exactly on at least one band), equi-join on
(band, key), verify true Hamming distance JVM-side (bit_count(xor)).

The verified output still goes through pixel-level PSNR verification
(operators/verify.py) — the generalized digest sanity check of
DeDuplicator.java:169-172 — before any pair may merge clusters.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT, DedupConfig
from ..functions.hashing import hamming64, phash_band_keys
from .candidates import candidate_pairs_from_bands


def phash_banded(images: DataFrame, cfg: DedupConfig = DEFAULT) -> DataFrame:
    return images.select(
        "image_id",
        F.explode(phash_band_keys(F.col("phash"), cfg)).alias("bk"),
    ).select("image_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def near_image_pairs(images: DataFrame, cfg: DedupConfig = DEFAULT) -> DataFrame:
    """(id_a, id_b, tier='near_image', score=hamming) with hamming <= cfg max."""
    cands = candidate_pairs_from_bands(
        phash_banded(images, cfg),
        pair_cap=cfg.hot_band_threshold, salt_buckets=cfg.salt_buckets)
    ph = images.select("image_id", "phash")
    verified = (
        cands.join(ph.withColumnRenamed("image_id", "id_a").withColumnRenamed("phash", "ph_a"), "id_a")
        .join(ph.withColumnRenamed("image_id", "id_b").withColumnRenamed("phash", "ph_b"), "id_b")
        .withColumn("hamming", hamming64(F.col("ph_a"), F.col("ph_b")))
        .filter(F.col("hamming") <= cfg.phash_max_hamming)
    )
    return verified.select(
        "id_a",
        "id_b",
        F.lit("near_image").alias("tier"),
        F.col("hamming").cast("double").alias("score"),
    )


def simhash_features(items: DataFrame, id_col: str = "item_id",
                     text_col: str = "text", md5_hash: bool = False) -> DataFrame:
    """(id_col, simhash long) in ONE vectorized Arrow pass — the scale path
    for text SimHash. The Column-algebra simhash64 expresses the same fold,
    but Spark higher-order functions are interpreted per element (64 folds x
    tokens), so batched numpy wins by >10x on real corpora (same trade as
    the MinHash signature path, operators/minhash.py).

    Per batch: tokenize (whitespace, matching split(trim, '\\s+')), hash
    every token once (md5_hash=True: the engine-portable 60-bit md5-derived
    hash, exactly ``CAST('0x' || substr(md5(w),1,15) AS BIGINT)`` on DuckDB,
    enabling integer-exact cross-engine oracles; default:
    pd.util.hash_array, the fast path), then fold sign-sums for all 64 bits with one
    ``np.add.reduceat`` over the flat (tokens x 64) sign matrix.

    Text with no tokens (null, empty or whitespace-only) gets a null
    simhash — the rule captions follow in operators/minhash.py. Its band
    keys are null and its Hamming distance to anything is null, so it never
    pairs."""
    import hashlib

    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    shifts = np.arange(64, dtype=np.uint64)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            flat: list[str] = []
            offsets = [0]
            for text in pdf[text_col]:
                # exact emulation of the Column/SQL convention
                # split(trim(text), '\s+'): trim strips SPACES only, and
                # leading/trailing other whitespace yields empty tokens —
                # .strip().split() would silently drop those and diverge
                # from the DuckDB twin on tab/newline-edged text.
                # re.ASCII pins \s to the JVM/RE2 dialect ([ \t\n\v\f\r]);
                # Python's default Unicode \s would also split on NBSP /
                # U+2009 etc. and diverge on real-world scraped text
                toks = re.split(r"\s+", text.strip(" "), flags=re.ASCII) \
                    if text is not None else []
                if any(toks):
                    flat.extend(toks)
                offsets.append(len(flat))
            offs = np.asarray(offsets[:-1], dtype=np.intp)
            has_tok = np.diff(offsets) > 0
            # hash each DISTINCT token once per batch (corpora are Zipfian —
            # stopwords dominate), then scatter back through the codes
            codes, uniques = pd.factorize(np.asarray(flat, dtype=object))
            if md5_hash:
                uh = np.fromiter(
                    (int(hashlib.md5(w.encode()).hexdigest()[:15], 16) for w in uniques),
                    dtype=np.uint64, count=len(uniques))
            else:
                uh = pd.util.hash_array(np.asarray(uniques, dtype=object)).astype(np.uint64)
            h = uh[codes]
            # sign-sum per bit == 2*popcount - n_tokens; keep the bit matrix
            # uint8 (8x smaller than int32 signs) and widen only in reduceat
            bits = ((h[:, None] >> shifts) & 1).astype(np.uint8)
            # reduceat over the non-empty segments only: an empty segment
            # would return the next row's first element
            starts = offs[has_tok]
            ones = np.add.reduceat(bits, starts, axis=0, dtype=np.int64) \
                if len(starts) else np.zeros((0, 64), dtype=np.int64)
            ntok = np.diff(np.append(starts, len(flat)))
            sim = (((ones * 2 - ntok[:, None]) > 0).astype(np.uint64)
                   << shifts).sum(axis=1, dtype=np.uint64)
            out = pd.Series(pd.NA, index=pdf.index, dtype="Int64")
            out[has_tok] = sim.view(np.int64)
            yield pd.DataFrame({id_col: pdf[id_col], "simhash": out})

    return items.select(id_col, text_col).mapInPandas(
        gen, schema=f"{id_col} {items.schema[id_col].dataType.simpleString()}, simhash long")
