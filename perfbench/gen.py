"""Seeded input generators and the expected verdicts for each workload.

Everything here is a pure function of (seed, sizes): the same seed gives
byte-identical inputs and expectations. The expectations are computed from
the planted structure only, never by calling the code under test:

- batch_dedup: the package's synth corpus and its planted truth
  (``synth.expected_cluster_members`` is the generator's own union-find
  over planted pairs; the planted negatives are the below-threshold
  caption edits that ``synth.truth_pairs`` marks positive=False).
- index_increments: a seed index plus K increments whose rows are planted
  exact copies, near copies (1-3 flipped pHash bits / one caption token
  edited), planted negatives (5-8 flipped bits / three tokens edited) and
  fresh rows. The expected verdict and referent of every row follow from
  the plant and from which earlier rows were novel (and so appended).
- crawl_probe: an index crawl and a probe crawl in Heritrix crawl.log
  format. Every index URL is generated in canonical form and the crawls
  write variants of it (www, :80, trailing slash, jsessionid, sid, query
  order, userinfo, fragment, upper-case host) that canonicalize back to it.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

_M64 = (1 << 64) - 1


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed & _M64, stream]))


def _hex_digests(rng: np.random.Generator, n: int, base: int = 0) -> np.ndarray:
    """n 32-hex-digit content digests, distinct from those of any other call
    with another ``base``."""
    hi = rng.integers(0, 1 << 63, size=n, dtype=np.int64)
    lo = base + np.arange(n, dtype=np.int64)  # distinct by construction
    return np.array([f"{a:016x}{b:016x}" for a, b in zip(hi, lo)])


# --- batch_dedup --------------------------------------------------------------

def batch_expectation(n: int, seed: int) -> tuple[dict[str, str], list[tuple[str, str]]]:
    """(expected cluster representative per image id, planted negative pairs).

    Images outside every planted cluster are their own representative."""
    from deduplicator_spark.synth import _base_of, _kind, expected_cluster_members

    rep = {f"img-{i:012d}": f"img-{i:012d}" for i in range(n)}
    for r, members in expected_cluster_members(n, seed).items():
        for m in members:
            rep[m] = r
    negatives = [(f"img-{_base_of(i, seed):012d}", f"img-{i:012d}")
                 for i in range(n) if _kind(i) == "near_caption_below"]
    return rep, negatives


# --- index_increments ---------------------------------------------------------

@dataclass
class IndexChain:
    seed_images: pd.DataFrame        # (image_id, digest, phash)
    seed_captions: pd.DataFrame      # (image_id, caption)
    image_incs: list[pd.DataFrame]   # per increment (image_id, digest, phash)
    caption_incs: list[pd.DataFrame]  # per increment (image_id, caption)
    # per increment: (image_id, verdict, refers_to_id) expected by the plant
    image_expect: list[pd.DataFrame]
    caption_expect: list[pd.DataFrame]


def _flip(ph: np.ndarray, rng: np.random.Generator, lo: int, hi: int,
          kmin: int, kmax: int) -> np.ndarray:
    """Flip kmin..kmax distinct bits of each value, all in bit range [lo, hi)."""
    out = ph.astype(np.uint64).copy()
    for i in range(len(out)):
        k = int(rng.integers(kmin, kmax + 1))
        bits = rng.choice(np.arange(lo, hi), size=k, replace=False)
        for b in bits:
            out[i] ^= np.uint64(1) << np.uint64(int(b))
    return out.view(np.int64)


def _captions(rng: np.random.Generator, n: int) -> list[list[str]]:
    """Random 40-60 token captions over a 20k-word vocabulary: two of them
    share a 3-token shingle with negligible probability."""
    lens = rng.integers(40, 61, size=n)
    return [[f"w{t}" for t in rng.integers(0, 20_000, size=k)] for k in lens]


def _edit(tokens: list[str], rng: np.random.Generator, n_edits: int) -> list[str]:
    """Replace n_edits tokens at positions >= 4 apart with tokens from a
    disjoint vocabulary, so each edit removes 3 distinct shingles. For 40-60
    tokens one edit keeps Jaccard in [0.85, 0.90] (above the 0.8 threshold)
    and three edits give [0.62, 0.73] (below it)."""
    out = list(tokens)
    start = int(rng.integers(2, len(out) - 4 * n_edits - 2))
    for e in range(n_edits):
        out[start + 4 * e] = f"e{int(rng.integers(0, 1 << 40))}"
    return out


def index_chain(seed: int, seed_rows: int, increments: int, inc_rows: int,
                caption_seed_rows: int, caption_inc_rows: int) -> IndexChain:
    """Seed index + ``increments`` increments with planted verdicts.

    Image leg, per increment row: 15% exact copy of a seed row, 10% exact
    copy of an earlier increment's novel row (tests the append), 15% near
    copy (1-3 bits flipped in the low 32 bits), 10% planted negative (5-8
    bits flipped in the high 32 bits: must stay novel), 50% fresh. Every
    seed row is copied at most once in the whole chain, so no planted row
    is closer to another row than to its base. Caption leg: 15% identical,
    15% one token edited, 10% three tokens edited (planted negative), 60%
    fresh, again one planted row per seed caption at most."""
    rng = _rng(seed, 1)
    seed_ids = np.array([f"img-s{i:09d}" for i in range(seed_rows)])
    seed_dig = _hex_digests(rng, seed_rows)
    seed_ph = rng.integers(-(1 << 63), (1 << 63) - 1, size=seed_rows, dtype=np.int64)
    # bases for planted image rows, without replacement across the chain
    base_pool = rng.permutation(seed_rows)
    pool_at = 0

    image_incs, image_expect = [], []
    novel_pool: list[tuple[str, str, int]] = []  # appended rows (id, digest, phash)
    for k in range(increments):
        ids = np.array([f"img-i{k:02d}-{j:07d}" for j in range(inc_rows)])
        u = rng.random(inc_rows)
        kind = np.select(
            [u < 0.15, u < 0.25, u < 0.40, u < 0.50],
            ["exact_seed", "exact_prev", "near", "far"], "fresh")
        if not novel_pool:
            kind[kind == "exact_prev"] = "exact_seed"
        dig = _hex_digests(rng, inc_rows, base=(k + 1) << 32)
        ph = rng.integers(-(1 << 63), (1 << 63) - 1, size=inc_rows, dtype=np.int64)
        verdict = np.full(inc_rows, "novel", dtype=object)
        ref = np.full(inc_rows, None, dtype=object)

        seeded = np.flatnonzero(np.isin(kind, ["exact_seed", "near", "far"]))
        bases = base_pool[pool_at:pool_at + len(seeded)]
        if len(bases) < len(seeded):
            raise ValueError("seed index too small for the planted rows")
        pool_at += len(seeded)
        for j, b in zip(seeded, bases):
            if kind[j] == "exact_seed":
                dig[j], ph[j] = seed_dig[b], seed_ph[b]
                verdict[j], ref[j] = "duplicate", seed_ids[b]
            elif kind[j] == "near":
                ph[j] = _flip(seed_ph[b:b + 1], rng, 0, 32, 1, 3)[0]
                verdict[j], ref[j] = "near_duplicate", seed_ids[b]
            else:
                ph[j] = _flip(seed_ph[b:b + 1], rng, 32, 64, 5, 8)[0]
        prev = np.flatnonzero(kind == "exact_prev")
        picks = rng.choice(len(novel_pool), size=len(prev), replace=False) \
            if len(prev) <= len(novel_pool) else rng.integers(0, len(novel_pool), len(prev))
        for j, p in zip(prev, picks):
            pid, pdig, pph = novel_pool[p]
            dig[j], ph[j] = pdig, pph
            verdict[j], ref[j] = "duplicate", pid
        image_incs.append(pd.DataFrame({"image_id": ids, "digest": dig, "phash": ph}))
        image_expect.append(pd.DataFrame(
            {"image_id": ids, "verdict": verdict, "refers_to_id": ref}))
        novel = verdict == "novel"
        novel_pool += list(zip(ids[novel], dig[novel], ph[novel].tolist()))

    crng = _rng(seed, 2)
    cap_seed_ids = np.array([f"cap-s{i:07d}" for i in range(caption_seed_rows)])
    cap_seed = _captions(crng, caption_seed_rows)
    cbase = crng.permutation(caption_seed_rows)
    cat = 0
    caption_incs, caption_expect = [], []
    for k in range(increments):
        ids = [f"cap-i{k:02d}-{j:06d}" for j in range(caption_inc_rows)]
        u = crng.random(caption_inc_rows)
        fresh = _captions(crng, caption_inc_rows)
        caps, verdict, ref = [], [], []
        for j in range(caption_inc_rows):
            if u[j] < 0.40:
                if cat >= caption_seed_rows:
                    raise ValueError("caption seed index too small for the planted rows")
                b = int(cbase[cat])
                cat += 1
                if u[j] < 0.15:
                    caps.append(cap_seed[b])
                    verdict.append("duplicate"), ref.append(cap_seed_ids[b])
                elif u[j] < 0.30:
                    caps.append(_edit(cap_seed[b], crng, 1))
                    verdict.append("near_duplicate"), ref.append(cap_seed_ids[b])
                else:
                    caps.append(_edit(cap_seed[b], crng, 3))
                    verdict.append("novel"), ref.append(None)
            else:
                caps.append(fresh[j])
                verdict.append("novel"), ref.append(None)
        caption_incs.append(pd.DataFrame(
            {"image_id": ids, "caption": [" ".join(c) for c in caps]}))
        caption_expect.append(pd.DataFrame(
            {"image_id": ids, "verdict": verdict, "refers_to_id": ref}))

    return IndexChain(
        seed_images=pd.DataFrame({"image_id": seed_ids, "digest": seed_dig,
                                  "phash": seed_ph}),
        seed_captions=pd.DataFrame({"image_id": cap_seed_ids,
                                    "caption": [" ".join(c) for c in cap_seed]}),
        image_incs=image_incs, caption_incs=caption_incs,
        image_expect=image_expect, caption_expect=caption_expect)


# --- crawl_probe --------------------------------------------------------------

_MIMES = ("image/jpeg", "image/png", "application/pdf", "video/mp4")


def _variant(url: str, rng: np.random.Generator) -> str:
    """A raw URL that the aggressive canonicalizer maps back to ``url``
    (which is already canonical: lower case, sorted query, no www, no
    default port, no trailing slash, no session ids)."""
    scheme, rest = url.split("://", 1)
    host, _, tail = rest.partition("/")
    path, _, query = tail.partition("?")
    params = query.split("&") if query else []
    r = rng.random(9)
    if r[0] < 0.3:
        host = "www." + host
    if r[1] < 0.2:
        host += ":80"
    if r[2] < 0.15:
        host = "user:pw@" + host
    if r[3] < 0.2:
        path += ";jsessionid=" + f"{int(rng.integers(0, 1 << 40)):x}"
    if r[4] < 0.25:
        params.insert(int(rng.integers(0, len(params) + 1)),
                      f"sid={int(rng.integers(0, 1 << 30))}")
    if r[5] < 0.5 and len(params) > 1:
        params = [params[i] for i in rng.permutation(len(params))]
    out = f"{scheme}://{host}/{path}"
    if not query and r[6] < 0.3 and ";" not in path:
        out += "/"
    if params:
        out += "?" + "&".join(params)
    if r[7] < 0.2:
        out += "#frag" + str(int(rng.integers(0, 100)))
    if r[8] < 0.2:  # upper-case host; the scheme stays lower (probe gate)
        out = out.replace(host, host.upper(), 1)
    return out


def _line(ts: int, status: int, url: str, mime: str, digest: str) -> str:
    t = f"{ts:014d}"
    iso = f"{t[0:4]}-{t[4:6]}-{t[6:8]}T{t[8:10]}:{t[10:12]}:{t[12:14]}.000Z"
    return (f"{iso} {status:5d} {4096:10d} {url} LLE http://seed.example/ "
            f"{mime} #017 {t}123+42 sha1:{digest} - - -")


@dataclass
class Crawls:
    index_lines: list[str]
    probe_lines: list[str]
    expect: pd.DataFrame   # (url, verdict, refers_to_uri) per probe line


def crawl_logs(seed: int, lines: int) -> Crawls:
    """An index crawl and a probe crawl of ``lines`` lines each.

    Index crawl: one line per canonical URL; 8% are text/html (gated out by
    the default MIME blacklist) and 4% failed fetches (status 404), so they
    are not indexed. Probe crawl: 85% revisit an index URL through a fresh
    variant, 30% of those with a changed digest; 15% are URLs never crawled.
    Expected: duplicate exactly when the URL was indexed and the digest is
    unchanged; the referent is the raw index URL."""
    rng = _rng(seed, 3)
    n = lines
    hosts = rng.integers(0, max(n // 20, 1), size=n)
    canon = []
    for i in range(n):
        url = f"http://host{hosts[i]}.example/d{i % 97}/p{i}"
        if i % 3 == 0:
            a, b = rng.integers(0, 1000, size=2)
            url += f"?a={a}&q={b}"
        canon.append(url)
    digests = _hex_digests(rng, n)
    u = rng.random(n)
    status = np.where(u < 0.04, 404, 200)
    mime = np.where((u >= 0.04) & (u < 0.12), "text/html",
                    np.array(_MIMES)[rng.integers(0, len(_MIMES), size=n)])
    indexed = (status == 200) & (mime != "text/html")
    index_urls = [_variant(c, rng) for c in canon]
    ts0 = 20240101000000
    index_lines = [_line(ts0 + i % 50, int(status[i]), index_urls[i], mime[i], digests[i])
                   for i in range(n)]

    order = rng.permutation(n)
    probe_lines, exp = [], []
    revisits = int(n * 0.85)
    v = rng.random(n)
    for j in range(n):
        if j < revisits:
            i = int(order[j])
            url = _variant(canon[i], rng)
            changed = v[j] < 0.30
            dig = digests[i] if not changed else f"{digests[i][:-8]}ffffffff"
            dup = bool(indexed[i]) and not changed
            m = mime[i] if mime[i] != "text/html" else "image/gif"
            exp.append((url, "duplicate" if dup else "novel",
                        index_urls[i] if dup else None))
        else:
            url = _variant(f"http://fresh{j}.example/n/{j}", rng)
            dig, m = f"{j:032x}", "image/png"
            exp.append((url, "novel", None))
        probe_lines.append(_line(ts0 + 100 + j % 50, 200, url, m, dig))
    return Crawls(index_lines, probe_lines,
                  pd.DataFrame(exp, columns=["url", "verdict", "refers_to_uri"]))
