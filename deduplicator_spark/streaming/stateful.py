"""Custom stateful streaming operator via applyInPandasWithState.

The reference keeps crawl-wide AtomicLong statistics (DeDuplicator.java:
54-94) and a frozen index; its streaming generalization needs PER-KEY
running state that Spark's built-in aggregations don't express: for every
digest, which capture was FIRST (the would-be index entry) and how many
revisits followed (the dup counter), updated incrementally as micro-batches
arrive. That is exactly the applyInPandasWithState shape:

    groupBy(digest) -> update(key, batches, state) -> emit running stats

State per key is a flat tuple (count, first_record_id, first_ts_epoch);
eviction is the caller's watermark horizon (EventTimeTimeout), so a
100 TB/day stream holds only the horizon's digests in the state store —
the same bound as streaming_exact_dedup.
"""

from __future__ import annotations

from collections.abc import Iterator
from itertools import compress

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "digest string, n_seen long, n_dups long, "
    "first_record_id string, first_ts timestamp"
)
STATE_SCHEMA = "n long, first_id string, first_ts long"

_DUR_US = {"microsecond": 1, "millisecond": 1000, "second": 1_000_000,
           "minute": 60_000_000, "hour": 3_600_000_000,
           "day": 86_400_000_000, "week": 604_800_000_000}


def _duration_ms(spec: str) -> int:
    """Parse a Spark duration string to ms. Accepts what withWatermark
    accepts: any case ('2 HOURS'), every CalendarInterval time unit
    (microseconds..weeks), and compound forms ('1 hour 30 minutes')."""
    toks = spec.strip().lower().split()
    if toks and toks[0] == "interval":
        toks = toks[1:]
    if len(toks) < 2 or len(toks) % 2:
        raise ValueError(f"cannot parse duration {spec!r}")
    total_us = 0
    for n, unit in zip(toks[::2], toks[1::2]):
        unit = unit.rstrip("s")
        if unit not in _DUR_US:
            raise ValueError(f"unsupported duration unit in {spec!r}: {unit}")
        total_us += int(n) * _DUR_US[unit]
    return total_us // 1000


def _arm_timeout(state: GroupState, batch_max_event_ms: int,
                 horizon_ms: int) -> None:
    """EventTimeTimeout requires the update fn to RE-ARM the timeout on
    every invocation; without it state never times out and the state store
    grows without bound. Evict once the watermark passes the bucket's last
    activity plus the horizon (strictly > current watermark by
    construction, as the API demands)."""
    wm = state.getCurrentWatermarkMs()
    state.setTimeoutTimestamp(max(batch_max_event_ms, wm) + horizon_ms)


def _update_digest_stats(horizon_ms: int):
    def update(key, pdfs: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        (digest,) = key
        if state.hasTimedOut:
            state.remove()
            return
        n, first_id, first_us = state.get if state.exists else (0, None, None)
        max_us = 0
        for pdf in pdfs:
            for ts, rid in zip(pdf["ts"], pdf["record_id"]):
                us = int(ts.value // 1000)  # pandas Timestamp ns -> us
                max_us = max(max_us, us)
                # deterministic first-capture rule: earliest ts, record_id
                # tie-break (the reference's scan-order determinism, O10)
                if first_id is None or (us, rid) < (first_us, first_id):
                    first_id, first_us = rid, us
                n += 1
        state.update((n, first_id, first_us))
        _arm_timeout(state, max_us // 1000, horizon_ms)
        yield pd.DataFrame([{
            "digest": digest,
            "n_seen": n,
            "n_dups": max(n - 1, 0),
            "first_record_id": first_id,
            "first_ts": pd.Timestamp(first_us * 1000),
        }])

    return update


def streaming_dup_stats(captures: DataFrame, watermark: str = "2 hours",
                        ts_col: str = "ts") -> DataFrame:
    """(digest, n_seen, n_dups, first_record_id, first_ts), re-emitted per
    micro-batch with running totals — the incremental form of the per-class
    duplicate counters (A1/A2), keyed by digest. Digests idle for one
    watermark horizon past their last arrival are evicted (timeout re-armed
    on every update, as EventTimeTimeout requires)."""
    from pyspark.sql import functions as F

    captures = captures.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        captures.withWatermark(ts_col, watermark)
        .groupBy("digest")
        .applyInPandasWithState(
            _update_digest_stats(_duration_ms(watermark)),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


DUP_SHARD_STATE_SCHEMA = ("digests array<string>, ns array<long>, "
                          "first_ids array<string>, first_us array<long>, "
                          "anchor_ms array<long>")


def _update_digest_shard(horizon_ms: int):
    def update(key, pdfs: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # The shard timer is armed at the EARLIEST per-digest expiry, so
            # this fires in exactly the batch where the fine-grained
            # operator would evict its first digest: drop every expired
            # digest, keep the rest, re-arm at the new earliest expiry.
            digests, ns, first_ids, first_us, anchor_ms = \
                [list(x) for x in state.get]
            wm = state.getCurrentWatermarkMs()
            # Spark fires an EventTimeTimeout only when timeout < wm
            # STRICTLY, so a digest whose expiry equals the watermark is
            # kept — hence >=.
            keep = [a + horizon_ms >= wm for a in anchor_ms]
            if any(keep):
                digests, ns, first_ids, first_us, anchor_ms = (
                    [v for v, k in zip(col, keep) if k]
                    for col in (digests, ns, first_ids, first_us, anchor_ms))
                state.update((digests, ns, first_ids, first_us, anchor_ms))
                state.setTimeoutTimestamp(min(anchor_ms) + horizon_ms)
            else:
                state.remove()
            return
        if state.exists:
            digests, ns, first_ids, first_us, anchor_ms = \
                [list(x) for x in state.get]
        else:
            digests, ns, first_ids, first_us, anchor_ms = [], [], [], [], []

        frames = [p for p in pdfs if len(p)]
        pdf = None
        if frames:
            pdf = pd.concat(frames)
            # normalize to ns first: Series.astype('int64') yields the
            # underlying unit's count, and Arrow may deliver non-ns
            # datetime64 under pandas 2.x resolutions
            pdf = pdf.assign(
                _us=pdf["ts"].astype("datetime64[ns]").astype("int64")
                // 1000)

        # Evict exactly when the per-digest operator's EventTimeTimeout
        # would: watermark STRICTLY past anchor + horizon (Spark fires a
        # timeout only when timeout < wm, so equality keeps) AND no arrival
        # for the digest in this batch (Spark never times out a group with
        # data in the trigger); a touched digest's anchor is replaced, as
        # setTimeoutTimestamp re-arms.
        wm = state.getCurrentWatermarkMs()
        if wm > 0 and digests:
            touched = set(pdf["digest"]) if pdf is not None else ()
            keep = [a + horizon_ms >= wm or d in touched
                    for d, a in zip(digests, anchor_ms)]
            if not all(keep):
                digests, ns, first_ids, first_us, anchor_ms = (
                    [v for v, k in zip(col, keep) if k]
                    for col in (digests, ns, first_ids, first_us, anchor_ms))

        pos = {d: i for i, d in enumerate(digests)}
        out = []
        if pdf is not None:
            for dg, grp in pdf.groupby("digest", sort=False):
                g = grp.sort_values(["_us", "record_id"]).iloc[0]
                b_us, b_id = int(g["_us"]), g["record_id"]
                anchor = max(int(grp["_us"].max()) // 1000, wm)
                i = pos.get(dg)
                if i is None:
                    i = pos[dg] = len(digests)
                    digests.append(dg)
                    ns.append(len(grp))
                    first_ids.append(b_id)
                    first_us.append(b_us)
                    anchor_ms.append(anchor)
                else:
                    ns[i] += len(grp)
                    if (b_us, b_id) < (first_us[i], first_ids[i]):
                        first_us[i], first_ids[i] = b_us, b_id
                    anchor_ms[i] = anchor
                out.append({
                    "digest": dg,
                    "n_seen": ns[i],
                    "n_dups": max(ns[i] - 1, 0),
                    "first_record_id": first_ids[i],
                    "first_ts": pd.Timestamp(first_us[i] * 1000),
                })
        if anchor_ms:
            state.update((digests, ns, first_ids, first_us, anchor_ms))
            # arm at the EARLIEST digest expiry so the shard is invoked in
            # the first batch any digest would time out (valid: every
            # surviving/touched anchor satisfies anchor + horizon >= wm,
            # and setTimeoutTimestamp allows equality with the watermark)
            state.setTimeoutTimestamp(min(anchor_ms) + horizon_ms)
        elif state.exists:
            state.remove()  # every digest evicted, nothing arrived
        yield pd.DataFrame(
            out, columns=["digest", "n_seen", "n_dups",
                          "first_record_id", "first_ts"])

    return update


def streaming_dup_stats_sharded(captures: DataFrame,
                                watermark: str = "2 hours",
                                ts_col: str = "ts",
                                n_shards: int = 256) -> DataFrame:
    """streaming_dup_stats with SHARD-granularity state: identical emitted
    rows (running per-digest totals, same first-capture rule and horizon
    eviction), but grouped by pmod(xxhash64(digest), n_shards) so one state
    group carries all of a shard's digests as parallel arrays — the same
    per-group-invocation amortization as streaming_neardup_dedup_sharded
    (BENCH/STREAM_E2E_SHARDED.md measures that pattern at 5.3x the
    fine-grained ingest). On an exact-dedup firehose nearly every digest is
    unique, so the per-digest operator pays one Python invocation per
    distinct digest per micro-batch; sharding caps that at n_shards.
    The batch-side reduction per digest stays vectorized (one pandas
    sort/min per touched digest); idle digests are pruned against the
    watermark horizon per invocation, and the shard timeout is armed at the
    EARLIEST digest expiry so eviction lands in the same micro-batch as the
    per-digest operator's EventTimeTimeout would."""
    from pyspark.sql import functions as F

    captures = captures.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    sharded = captures.withColumn(
        "shard", F.pmod(F.xxhash64("digest"), F.lit(n_shards)).cast("int"))
    return (
        sharded.withWatermark(ts_col, watermark)
        .groupBy("shard")
        .applyInPandasWithState(
            _update_digest_shard(_duration_ms(watermark)),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=DUP_SHARD_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# --------------------------------------------------------------------------
# In-stream NEAR-dup dedup: band-keyed state, no static index
# --------------------------------------------------------------------------

NEARDUP_OUTPUT_SCHEMA = ("image_id string, ts timestamp, band int, key long, "
                         "ref_id string, hamming int, capped boolean")
NEARDUP_STATE_SCHEMA = "ids array<string>, hashes array<long>"

# shared with the oracle fixture builder so the matched popcount and the
# fixture-derived popcount are the same implementation by construction
from ..functions.npbits import MASK64 as _MASK64  # noqa: E402
from ..functions.npbits import U64 as _U64  # noqa: E402
from ..functions.npbits import popcount64 as _popcount64  # noqa: E402
from ..functions.npbits import to_unsigned64 as _to_unsigned64  # noqa: E402


def _update_band_bucket(max_hamming: int, bucket_cap: int, horizon_ms: int):
    def update(key, pdfs: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        band, bkey = key
        if state.hasTimedOut:
            state.remove()
            return
        ids, hashes = state.get if state.exists else ((), ())
        ids = list(ids)
        # fixed-capacity uint64 scratch: the stored prefix [0:n) is live.
        # Matching is one vectorized XOR+popcount over it per arriving row
        # (<= bucket_cap lanes) instead of a per-member Python loop. Sized
        # to the restored state when that exceeds bucket_cap (a restart
        # with a smaller cap must still MATCH against every stored member;
        # the n < bucket_cap insert guard stops further growth).
        n = len(ids)
        harr = np.zeros(max(bucket_cap, n), dtype=_U64)
        harr[:n] = _to_unsigned64(hashes)
        out = []
        max_us = 0
        frames = [p for p in pdfs if len(p)]
        if frames:
            # deterministic replay order inside the micro-batch (O10)
            pdf = pd.concat(frames).sort_values(["ts", "image_id"])
            for iid, ph, ts in zip(pdf["image_id"], pdf["phash"], pdf["ts"]):
                max_us = max(max_us, int(ts.value // 1000))
                ref = ham = None
                u = _U64(int(ph) & _MASK64)
                d = _popcount64(harr[:n] ^ u)
                hits = np.nonzero(d <= max_hamming)[0]
                if hits.size:
                    j = int(hits[0])  # first-inserted agreeing member
                    ref, ham = ids[j], int(d[j])
                capped = False
                if ref is None:
                    if n < bucket_cap:
                        ids.append(iid)
                        harr[n] = u
                        n += 1
                    else:
                        # full bucket: the row is reported unmatched but NOT
                        # tracked — later true dups of it will miss in this
                        # band. Surfaced so callers can tell 'novel' from
                        # 'bucket full' instead of silently losing recall.
                        capped = True
                out.append((iid, ts, band, bkey, ref, ham, capped))
        state.update((ids, _to_signed64(harr[:n])))
        _arm_timeout(state, max_us // 1000, horizon_ms)
        yield pd.DataFrame(
            out, columns=["image_id", "ts", "band", "key", "ref_id",
                          "hamming", "capped"])

    return update


from ..functions.npbits import to_signed64 as _to_signed64  # noqa: E402


def _update_shard(max_hamming: int, bucket_cap: int, horizon_ms: int):
    """Shard-granularity update: one state group holds EVERY (band, key)
    bucket whose key falls in the shard, as parallel member arrays. Verdict
    semantics are identical to _update_band_bucket; only the grouping (and
    therefore the number of per-micro-batch Python invocations) changes.

    Eviction mirrors Spark's EventTimeTimeout EXACTLY, not just its horizon:
    each bucket stores the anchor the fine-grained operator would have armed
    (max(bucket batch-max event ms, watermark at arming)); a bucket is
    pruned only when the watermark STRICTLY passes anchor + horizon (Spark
    fires a timeout only when timeout < wm, so exact equality keeps) AND
    the bucket has no arrival in the current batch (Spark never times out a group that
    has data in the trigger — an arrival landing in the first batch past
    the horizon still matches the stored members, exactly as in the
    fine-grained operator); and a touched bucket's anchor is REPLACED, not
    max-merged, exactly as setTimeoutTimestamp re-arms. The shard-level
    timeout is armed at MIN(live bucket anchors) + horizon — the earliest
    per-bucket expiry — so the shard is guaranteed an invocation (data or
    timeout) in exactly the batch where the fine-grained operator would
    first evict one of its buckets; the timed-out branch then drops only
    the expired buckets and re-arms at the next earliest expiry. Arming at
    max instead would let a long-lived shard-mate defer the invocation past
    an expired bucket's eviction batch, and a later same-key arrival would
    revive that zombie bucket through the data-in-batch exemption — the
    exact divergence the horizon-boundary test pins."""

    def update(key, pdfs: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        band, _shard = key
        if state.hasTimedOut:
            # fired at the earliest bucket expiry: evict exactly the
            # expired buckets, keep the rest, re-arm at the new earliest
            skeys, sids, shashes, sanchor = state.get
            sanchor = np.asarray(sanchor, dtype=np.int64)
            wm_ms = state.getCurrentWatermarkMs()
            # Spark fires an EventTimeTimeout only when timeout < wm
            # STRICTLY, so a bucket whose expiry equals the watermark is
            # kept — hence >=.
            keep = (sanchor + horizon_ms) >= wm_ms
            if keep.any():
                sanchor = sanchor[keep]
                state.update((
                    np.asarray(skeys, dtype=np.int64)[keep].tolist(),
                    list(compress(sids, keep)),
                    np.asarray(shashes, dtype=np.int64)[keep].tolist(),
                    sanchor.tolist(),
                ))
                state.setTimeoutTimestamp(int(sanchor.min()) + horizon_ms)
            else:
                state.remove()
            return
        if state.exists:
            skeys, sids, shashes, sanchor = state.get
            sids = list(sids)
            skeys = np.asarray(skeys, dtype=np.int64)
            shs = _to_unsigned64(shashes)
            sanchor = np.asarray(sanchor, dtype=np.int64)
        else:
            sids = []
            skeys = np.empty(0, dtype=np.int64)
            shs = np.empty(0, dtype=_U64)
            sanchor = np.empty(0, dtype=np.int64)

        frames = [p for p in pdfs if len(p)]
        pdf = (pd.concat(frames).sort_values(["ts", "image_id"])
               if frames else None)

        wm_ms = state.getCurrentWatermarkMs()
        if wm_ms > 0 and len(sids):
            # >= : Spark's timeout fires only when timeout < wm strictly
            keep = (sanchor + horizon_ms) >= wm_ms
            if not keep.all() and pdf is not None:
                # Spark does not time out a group with data in the batch
                keep |= np.isin(skeys, pdf["key"].unique())
            if not keep.all():
                sids = [i for i, k in zip(sids, keep) if k]
                skeys, shs, sanchor = skeys[keep], shs[keep], sanchor[keep]

        out = []
        new_keys, new_ids, new_hashes, new_anchor = [], [], [], []
        if pdf is not None:
            # one stable sort -> O(log n) bucket lookup, insertion order
            # preserved within equal keys
            order = np.argsort(skeys, kind="stable")
            sorted_keys = skeys[order]
            scratch = np.zeros(bucket_cap, dtype=_U64)
            for bkey, grp in pdf.groupby("key", sort=False):
                lo = np.searchsorted(sorted_keys, bkey, "left")
                hi = np.searchsorted(sorted_keys, bkey, "right")
                idx = order[lo:hi]
                nb = idx.size
                local_ids = [sids[i] for i in idx]
                if nb > scratch.size:
                    # restart with a smaller bucket_cap: still match against
                    # every restored member (insert guard stops growth)
                    scratch = np.zeros(nb, dtype=_U64)
                scratch[:nb] = shs[idx]
                bucket_max_us = 0
                n_before = len(new_ids)
                for iid, ph, ts in zip(grp["image_id"], grp["phash"],
                                       grp["ts"]):
                    us = int(ts.value // 1000)
                    bucket_max_us = max(bucket_max_us, us)
                    ref = ham = None
                    u = _U64(int(ph) & _MASK64)
                    d = _popcount64(scratch[:nb] ^ u)
                    hits = np.nonzero(d <= max_hamming)[0]
                    if hits.size:
                        j = int(hits[0])  # first-inserted agreeing member
                        ref, ham = local_ids[j], int(d[j])
                    capped = False
                    if ref is None:
                        if nb < bucket_cap:
                            local_ids.append(iid)
                            scratch[nb] = u
                            nb += 1
                            new_keys.append(int(bkey))
                            new_ids.append(iid)
                            new_hashes.append(int(u))
                        else:
                            capped = True
                    out.append((iid, ts, band, bkey, ref, ham, capped))
                anchor = max(bucket_max_us // 1000, wm_ms)
                if idx.size:  # re-arm = replace, as setTimeoutTimestamp does
                    sanchor[idx] = anchor
                new_anchor.extend([anchor] * (len(new_ids) - n_before))

        anchors = sanchor.tolist() + new_anchor
        if anchors:
            state.update((
                skeys.tolist() + new_keys,
                sids + new_ids,
                _to_signed64(shs) + _to_signed64(new_hashes),
                anchors,
            ))
            # earliest bucket expiry (valid: surviving and touched buckets
            # all satisfy anchor + horizon >= wm, and setTimeoutTimestamp
            # allows equality with the watermark)
            state.setTimeoutTimestamp(min(anchors) + horizon_ms)
        elif state.exists:
            state.remove()  # every bucket evicted, nothing arrived
        yield pd.DataFrame(
            out, columns=["image_id", "ts", "band", "key", "ref_id",
                          "hamming", "capped"])

    return update


def streaming_neardup_dedup(images: DataFrame, cfg=None, bucket_cap: int = 64,
                            watermark: str = "2 hours",
                            ts_col: str = "ts") -> DataFrame:
    """In-stream NEAR-duplicate detection with NO static index: each arriving
    image is matched against images seen EARLIER IN THE SAME STREAM.

    The stateless streaming tiers (streaming/probe.py, caption_probe.py)
    join the stream against a frozen index — the reference's crawl-time
    shape. This operator covers the other production case (a firehose with
    no prior index: dedup-on-ingest for a training-data feed): the 64-bit
    pHash is split into the same 4 x 16-bit pigeonhole bands as the batch
    tier, the stream is keyed by (band, key), and applyInPandasWithState
    keeps each bucket's first-seen members (ids + hashes, deterministically
    capped at ``bucket_cap``). An arriving image emits one row per band:
    ref_id = the first-inserted member within Hamming <= max_hamming. NULL
    ref_id means unmatched: if the bucket has room the image becomes a
    member itself; if the bucket is already at ``bucket_cap`` the row is
    emitted with capped=true and is NOT tracked, so later true duplicates
    of it will miss in this band — the cap trades that bounded recall loss
    for bounded state, and the marker lets callers route capped rows to a
    batch-tier sweep instead of trusting 'novel'. A duplicate is any image
    with >= 1 agreeing band (recall-1 for Hamming <= bands-1 by pigeonhole
    while buckets are under the cap, same guarantee as the batch tier).

    Scale: state per (band, key) bucket is <= bucket_cap (id, hash) pairs;
    buckets idle for one watermark horizon past their last arrival are
    evicted via EventTimeTimeout (the update fn re-arms the timeout every
    invocation), so the live state is bounded by the horizon's distinct
    band keys — the same bound as streaming_exact_dedup. The per-row match
    is one vectorized numpy XOR+popcount over <= bucket_cap stored hashes,
    Arrow-batched per micro-batch.
    """
    from ..config import DEFAULT
    from ..functions.hashing import phash_band_keys
    from pyspark.sql import functions as F

    cfg = cfg or DEFAULT
    images = images.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    banded = images.select(
        "image_id", "phash", F.col(ts_col).alias("ts"),
        F.explode(phash_band_keys(F.col("phash"), cfg)).alias("bk"),
    ).select("image_id", "phash", "ts",
             F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    return (
        banded.withWatermark("ts", watermark)
        .groupBy("band", "key")
        .applyInPandasWithState(
            _update_band_bucket(cfg.phash_max_hamming, bucket_cap,
                                _duration_ms(watermark)),
            outputStructType=NEARDUP_OUTPUT_SCHEMA,
            stateStructType=NEARDUP_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


SHARDED_STATE_SCHEMA = ("keys array<long>, ids array<string>, "
                        "hashes array<long>, anchor_ms array<long>")


def streaming_neardup_dedup_sharded(images: DataFrame, cfg=None,
                                    bucket_cap: int = 64,
                                    n_shards: int = 256,
                                    watermark: str = "2 hours",
                                    ts_col: str = "ts") -> DataFrame:
    """streaming_neardup_dedup with SHARD-granularity state: identical
    verdicts (same bands, same per-(band,key) bucket semantics, same cap and
    horizon eviction — asserted row-for-row by tests/test_streaming), but the
    stream is grouped by (band, pmod(key, n_shards)) so one state group holds
    all of a shard's buckets as parallel member arrays.

    Why: applyInPandasWithState pays ~1 ms of Python-invocation overhead per
    TOUCHED GROUP per micro-batch. With hash-uniform band keys nearly every
    family is its own (band, key) group, so the fine-grained operator's
    ingest wall is group-count-bound, not match-bound (BENCH/STREAM_E2E.md).
    Sharding caps touched groups per micro-batch at bands x n_shards
    (4 x 256 = 1024 by default) regardless of how many distinct buckets the
    batch touches; matching inside a shard is still one vectorized
    XOR+popcount per arrival over only ITS bucket's members (gathered with
    one keys==key scan per touched bucket).

    Scale: state per shard is the sum of its live buckets (each <= bucket_cap
    members); idle buckets are pruned against the watermark horizon at every
    shard invocation, and a shard-level EventTimeTimeout armed at the
    EARLIEST live bucket expiry guarantees that invocation happens in the
    same micro-batch the fine-grained operator's per-bucket timeout would
    fire — the same state bound AND the same eviction batch, verdict
    equivalence holding even at the horizon boundary. n_shards trades invocation overhead (lower = fewer
    groups) against shard width and skew (higher = smaller state rows,
    more parallelism); bands x n_shards should comfortably exceed the
    executor-core count so the shuffle still spreads."""
    from ..config import DEFAULT
    from ..functions.hashing import phash_band_keys
    from pyspark.sql import functions as F

    cfg = cfg or DEFAULT
    images = images.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    banded = images.select(
        "image_id", "phash", F.col(ts_col).alias("ts"),
        F.explode(phash_band_keys(F.col("phash"), cfg)).alias("bk"),
    ).select(
        "image_id", "phash", "ts",
        F.col("bk.band").alias("band"), F.col("bk.key").alias("key"),
        F.pmod(F.col("bk.key"), F.lit(n_shards)).cast("int").alias("shard"),
    )
    return (
        banded.withWatermark("ts", watermark)
        .groupBy("band", "shard")
        .applyInPandasWithState(
            _update_shard(cfg.phash_max_hamming, bucket_cap,
                          _duration_ms(watermark)),
            outputStructType=NEARDUP_OUTPUT_SCHEMA,
            stateStructType=SHARDED_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
