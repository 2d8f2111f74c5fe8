"""Hashing / signature column expressions — all JVM-side.

The reference hashes once per record in Java (SHA-1 content digests,
CrawlDataItem.java:66-79). Here the content digest, the caption tokenizer
and shingler, SimHash and the pHash band keys are pure Column expressions
built from pyspark.sql.functions — no Python in the hot path. Caption
MinHash signatures and LSH band keys are the exception: they are computed
in one batched Arrow pass (operators/minhash.prepared_features), because
Spark runs the 128-permutation higher-order-function form interpreted.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import DEFAULT, DedupConfig


def digest_sha256(col: Column) -> Column:
    """Exact content digest (tier 0). Ref: DigestIndexer's sha1:BASE32 digests
    (IndexBuilder.java:209-212); we standardize on hex sha256 per BASELINE."""
    return F.sha2(col, 256)


def tokens(caption: Column) -> Column:
    """Whitespace tokenization after trim; reference analyzers are
    whitespace-only too (IndexBuilder.java:94-95, WhitespaceAnalyzer)."""
    return F.split(F.trim(caption), r"\s+")


def shingles(toks: Column, k: int = DEFAULT.shingle_k) -> Column:
    """Distinct k-token shingles as an array<string>; rows shorter than k
    collapse to the whole caption as one shingle."""
    joined = F.concat_ws(" ", toks)
    windows = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - k, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
    )
    return F.array_distinct(
        F.when(F.size(toks) >= k, windows).otherwise(F.array(joined))
    )


def simhash64(toks: Column, feature_hash=None) -> Column:
    """64-bit SimHash over a token/feature array, as a single long.

    For each bit i: sign of sum over features of (bit_i(hash(f)) ? +1 : -1).
    Expressed as 64 aggregate() folds. A row with no tokens (null, or only
    empty strings as from blank text) gets null.

    ``feature_hash`` maps a token Column to a 64-bit long Column; default
    xxhash64 (JVM fast path). An engine-portable hash (e.g. md5-derived)
    makes the whole operator reproducible in DuckDB for cross-engine
    oracles — the parameterized-planes pattern of operators/ann.py."""
    fh = feature_hash if feature_hash is not None else F.xxhash64
    # hash each token ONCE into an array, then fold bits over the hashes —
    # 64 folds over precomputed longs instead of 64x re-hashing every token
    hashes = F.transform(toks, lambda t: fh(t))

    def bit_sum(i: int) -> Column:
        def step(acc: Column, h: Column) -> Column:
            return acc + (
                F.shiftright(h, i).bitwiseAND(F.lit(1)) * 2 - 1
            ).cast("int")

        return F.aggregate(hashes, F.lit(0), step)

    out = F.lit(0).cast("long")
    for i in range(64):
        bit = F.lit(1 << i if i < 63 else -(1 << 63)).cast("long")
        out = out.bitwiseOR(
            F.when(bit_sum(i) > 0, bit).otherwise(F.lit(0).cast("long"))
        )
    # no tokens (null array, or only empty strings) -> null, never a pair
    return F.when(F.exists(toks, lambda t: t != ""), out)


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two int64 hashes (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def phash_band_keys(phash: Column, cfg: DedupConfig = DEFAULT) -> Column:
    """array<struct<band:int,key:long>> — split a 64-bit pHash/SimHash into
    cfg.phash_bands contiguous bit-bands. By pigeonhole, any pair within
    Hamming distance < cfg.phash_bands agrees exactly on >= 1 band, so the
    (band, key) equi-join is a recall-1 candidate generator for
    Hamming <= cfg.phash_max_hamming (= bands-1)."""
    width = cfg.phash_band_bits
    mask = F.lit((1 << width) - 1).cast("long")
    out = []
    for b in range(cfg.phash_bands):
        key = F.shiftrightunsigned(phash, b * width).bitwiseAND(mask)
        out.append(F.struct(F.lit(b).alias("band"), key.alias("key")))
    return F.array(*out)
