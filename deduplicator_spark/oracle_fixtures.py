"""Deterministic oracle fixtures for the flagship image pipeline.

`q_image_dedup_verdicts` runs the REAL 4-tier pipeline (pixel decode, sha256,
pHash banding + PSNR verify, MinHash/LSH captions, containment) over the
synthetic corpus — whose every byte is a pure function of (row id, seed)
(synth.make_row). That purity is the lever this module pulls: it materializes
the per-image FEATURE layer (digest, phash, caption shingle hashes, LSH band
keys) and the pairwise PSNR verdicts to parquet, single-process, by calling
the SAME library functions the executors run (codecs.decode_image/psnr/
phash64, operators.minhash._batch_shingle_hashes/_row_band_keys). A DuckDB
twin (entry_queries.ORACLES['image_dedup_verdicts'])
then re-derives the entire post-feature graph — capped/star banded candidate
generation, Hamming + PSNR + Jaccard + containment verification, tier-priority
edge dedup, recursive-CTE connected components, verdict/lineage assembly — in
SQL over these tables, so the distributed plan is hash-verified cross-engine
end-to-end and only the codec layer itself rests on planted-truth pytests
(tests/test_pipeline.py).

The fixture files are committed (a few hundred KB) so the gate is hermetic;
`ensure_image_oracle_fixtures()` regenerates them when absent and
tests/test_oracle_fixtures.py pins that a regeneration is byte-identical.

Reference semantics being certified: the verdict + refers-to lineage of
DeDuplicator.java:149-205 generalized to 4 tiers (see plans/pipeline.py).
"""

from __future__ import annotations

import hashlib
import os

import numpy as np

FIXTURE_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "fixtures")
SYNTH_N = 1000   # must match q_image_dedup_verdicts
SYNTH_SEED = 42

FEATS_PATH = os.path.join(FIXTURE_DIR, f"synth_feats_n{SYNTH_N}_s{SYNTH_SEED}.parquet")
PSNR_PATH = os.path.join(FIXTURE_DIR, f"synth_psnr_n{SYNTH_N}_s{SYNTH_SEED}.parquet")

# same implementation the streaming match path uses (functions/npbits.py)
from .functions.npbits import U64 as _U64  # noqa: E402
from .functions.npbits import popcount64 as _popcount64  # noqa: E402


def build_feature_rows(n: int = SYNTH_N, seed: int = SYNTH_SEED):
    """(feature rows, decoded bitmaps by image_id) — single-process twin of
    the pipeline's feature extraction: validation_features (media.py) for
    digest/decode/phash_recomputed and prepared_features (minhash.py) for
    n_tok/sh_hashes/band_keys, over synth.make_row output."""
    from .codecs import decode_image, phash64
    from .config import DEFAULT
    from .operators.minhash import _batch_shingle_hashes, _perm_coeffs, _row_band_keys
    from .synth import make_row

    rows = [make_row(i, seed) for i in range(n)]
    captions = [r["caption"] for r in rows]
    base, offsets, ntok = _batch_shingle_hashes(captions, DEFAULT.shingle_k)
    a, b = _perm_coeffs(DEFAULT)
    bkeys = _row_band_keys(base, offsets, DEFAULT, a, b)
    signed = base.view(np.int64)

    feats = []
    bitmaps: dict[str, np.ndarray] = {}
    for i, r in enumerate(rows):
        payload = bytes(r["bytes"])
        digest = hashlib.sha256(payload).hexdigest()
        try:
            arr = decode_image(payload)
            ok, ph_re = True, phash64(arr)
            bitmaps[r["image_id"]] = arr
        except Exception:
            ok, ph_re = False, 0
        feats.append({
            "image_id": r["image_id"],
            "digest": digest,
            "phash": int(r["phash"]),
            "decode_ok": ok,
            "phash_recomputed": int(ph_re),
            "n_tok": int(ntok[i]),
            "sh_hashes": np.sort(signed[offsets[i]:offsets[i + 1]]).tolist(),
            "band_keys": bkeys[i].tolist(),
        })
    return feats, bitmaps


def build_psnr_rows(feats, bitmaps):
    """PSNR verdicts for every canonical pair within Hamming <= max_hamming
    (pigeonhole: a superset of anything the capped/star banded generator can
    emit after its own Hamming filter), among rows passing the quarantine
    gate — mirrors verify.psnr_pairs (0.0 on decode failure, capped 99 dB)."""
    from .codecs import psnr
    from .config import DEFAULT

    live = [f for f in feats
            if f["decode_ok"]
            and int(_popcount64(np.asarray(
                [(f["phash"] ^ f["phash_recomputed"]) & 0xFFFFFFFFFFFFFFFF],
                dtype=_U64))[0]) <= DEFAULT.phash_validate_max_hamming]
    ids = [f["image_id"] for f in live]
    ph = np.asarray([f["phash"] & 0xFFFFFFFFFFFFFFFF for f in live], dtype=_U64)
    d = _popcount64(ph[:, None] ^ ph[None, :])
    ia, ib = np.nonzero(np.triu(d <= DEFAULT.phash_max_hamming, k=1))
    out = []
    for x, y in zip(ia.tolist(), ib.tolist()):
        id_a, id_b = sorted((ids[x], ids[y]))
        try:
            v = min(psnr(bitmaps[id_a], bitmaps[id_b]), 99.0)
        except Exception:
            v = 0.0
        out.append({"id_a": id_a, "id_b": id_b,
                    "psnr_ok": bool(v >= DEFAULT.psnr_min_db)})
    return out


def _write_parquet(path: str, rows: list[dict], schema) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = {f.name: [r[f.name] for r in rows] for f in schema}
    table = pa.Table.from_pydict(cols, schema=schema)
    tmp = path + ".tmp"
    # fixed writer settings so regeneration is byte-identical (pinned by test)
    pq.write_table(table, tmp, compression="snappy", store_schema=True)
    os.replace(tmp, path)


def materialize(n: int = SYNTH_N, seed: int = SYNTH_SEED,
                feats_path: str = FEATS_PATH, psnr_path: str = PSNR_PATH) -> None:
    import pyarrow as pa

    feats, bitmaps = build_feature_rows(n, seed)
    psnr_rows = build_psnr_rows(feats, bitmaps)
    os.makedirs(os.path.dirname(feats_path), exist_ok=True)
    _write_parquet(feats_path, feats, pa.schema([
        ("image_id", pa.string()),
        ("digest", pa.string()),
        ("phash", pa.int64()),
        ("decode_ok", pa.bool_()),
        ("phash_recomputed", pa.int64()),
        ("n_tok", pa.int32()),
        ("sh_hashes", pa.list_(pa.int64())),
        ("band_keys", pa.list_(pa.int64())),
    ]))
    _write_parquet(psnr_path, psnr_rows, pa.schema([
        ("id_a", pa.string()),
        ("id_b", pa.string()),
        ("psnr_ok", pa.bool_()),
    ]))


def ensure_image_oracle_fixtures() -> tuple[str, str]:
    """Idempotent: generate only when a fixture file is absent."""
    if not (os.path.exists(FEATS_PATH) and os.path.exists(PSNR_PATH)):
        materialize()
    return FEATS_PATH, PSNR_PATH
