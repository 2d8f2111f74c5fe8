"""Frozen pipeline configuration.

The reference scatters its knobs over Spring XML + properties files
(IndexingLauncher.java:45-73, profile-crawler-beans.cxml:560-620). Here every
similarity parameter lives in ONE frozen dataclass so the pipeline, the pytest
oracle, and the driver's DuckDB oracle can never drift (SURVEY.md §7.4 hard
part #4: "two-level dedup config parity ... frozen in one config object").
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class DedupConfig:
    # --- tier 1: SimHash over pHash bitplanes ---
    phash_bands: int = 4                  # 4 x 16-bit bands -> guarantees recall for
    phash_band_bits: int = 16             # Hamming distance <= 3 by pigeonhole
    phash_max_hamming: int = 3            # verified distance for a near-image pair

    # --- tier 2: MinHash/LSH over caption shingles ---
    shingle_k: int = 3                    # tokens per shingle
    minhash_perms: int = 128
    lsh_bands: int = 32                   # 32 bands x 4 rows; P(miss | J=0.8) ~ 5e-8
    lsh_rows: int = 4
    jaccard_threshold: float = 0.8        # verified Jaccard for a near-caption pair
    minhash_seed: int = 42

    # --- tier 3: containment (suffix/shingle) ---
    containment_threshold: float = 0.9    # |A ∩ B| / |A| for short-in-long
    containment_min_long_tokens: int = 120
    containment_max_short_tokens: int = 64
    containment_posting_cap: int = 4096   # per-hash cap on the long side's
                                          # inverted posting list: a
                                          # boilerplate shingle hash shared
                                          # by millions of long docs would
                                          # otherwise make the probe join
                                          # quadratic (smallest ids kept —
                                          # deterministic)
    containment_sub_method: str = "find"  # verbatim verifier: 'find' (C-level
                                          # two-way search per pair) or
                                          # 'suffix_array' (SA built once per
                                          # long caption, O(m log n) probes —
                                          # wins under high fan-out per long
                                          # doc); identical flags either way
    containment_verbatim: bool = False    # additionally require the short
                                          # caption to appear VERBATIM (as a
                                          # contiguous token sequence) in the
                                          # long one — shingle-set containment
                                          # alone admits scattered fragments

    # --- optional winnow tier (plans/pipeline.py, off by default) ---
    winnow_min_score: float = 0.5         # shared fingerprints / smaller
                                          # set, so caption-template
                                          # boilerplate alone can't merge
                                          # unrelated rows

    # --- verification (generalized ref P9 digest sanity check,
    #     DeDuplicator.java:169-172; PSNR bound from BASELINE.json) ---
    psnr_min_db: float = 40.0
    # payload validation (F9 analog: corrupt records -> quarantine, not abort):
    # a row is quarantined when its bytes don't decode or its stored phash
    # disagrees with the pixel-recomputed one by more than this (lossy
    # re-encodes drift <= 2 bits; 8 is far outside codec noise)
    phash_validate_max_hamming: int = 8

    # --- skew handling ---
    salt_buckets: int = 8                 # salting factor for hot LSH band keys
    hot_band_threshold: int = 16          # bucket size above which all-pairs
                                          # expansion falls back to star edges
                                          # (operators/candidates.py pair_cap)

    # --- execution ---
    shuffle_partitions: int = 32
    arrow_batch_rows: int = 4096          # bounded Arrow batches for image decode UDFs
    cc_max_iters: int = 50                # connected components: propagation
                                          # rounds allowed after round 0

    def __post_init__(self) -> None:
        assert self.minhash_perms == self.lsh_bands * self.lsh_rows
        assert self.phash_bands * self.phash_band_bits == 64


DEFAULT = DedupConfig()

# the four similarity tiers a default run enables (plans/pipeline.py)
TIERS = ("exact", "near_image", "near_caption", "containment")
