"""Per-tier operator unit tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from deduplicator_spark.config import DEFAULT
from deduplicator_spark.functions.hashing import (
    shingles,
    simhash64,
    tokens,
)
from deduplicator_spark.operators.candidates import candidate_pairs_from_bands
from deduplicator_spark.operators.containment import containment_pairs, verify_substring_pairs
from deduplicator_spark.operators.exact import exact_groups, exact_pairs
from deduplicator_spark.operators.minhash import near_caption_pairs
from deduplicator_spark.operators.simhash import near_image_pairs
from deduplicator_spark.synth import _kind  # deterministic plant roles


def test_exact_pairs_are_planted_copies(spark, images_500):
    pairs = {(r["id_a"], r["id_b"]) for r in exact_pairs(images_500).collect()}
    planted = {i for i in range(500) if _kind(i) == "exact"}
    found_b = {int(b.split("-")[1]) for _, b in pairs}
    assert planted <= found_b
    # star edges: id_a is always the group minimum
    for a, b in pairs:
        assert a < b


def test_exact_groups_sizes(spark, images_500):
    g = exact_groups(images_500)
    assert g.agg(F.sum("n")).collect()[0][0] == 500
    assert g.filter("n > 1").count() > 0


def test_near_image_recall(spark, images_500):
    pairs = near_image_pairs(images_500)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    found_ids = {b for _, b in found} | {a for a, _ in found}
    planted = {f"img-{i:012d}" for i in range(500) if _kind(i) in ("reencode", "noise")}
    missing = planted - found_ids
    assert not missing, f"near-image copies missed by pHash banding: {sorted(missing)[:5]}"


def test_arrow_tokenizer_matches_jvm_on_unicode_whitespace(spark):
    """prepared_features' Python re tokenizer must count tokens exactly like
    the JVM's split(trim, '\\s+') — including on NBSP/thin-space text, where
    Python's default Unicode \\s would split but Java's ASCII \\s does not
    (pins the re.ASCII flag)."""
    from deduplicator_spark.functions.hashing import tokens
    from deduplicator_spark.operators.minhash import prepared_features

    rows = [
        ("i1", "foo bar baz"),          # NBSP inside a token
        ("i2", "a b c d e f"),           # thin space inside a token
        ("i3", "\tplain  ascii text\n"),      # ASCII edge whitespace
        ("i4", "one two three four five six"),
        ("i5", "one two three four five six"),  # identical to i4
    ]
    df = spark.createDataFrame(rows, "image_id string, caption string")
    jvm = {r["image_id"]: r["n"]
           for r in df.select("image_id",
                              F.size(tokens(F.col("caption"))).alias("n")).collect()}
    feats = {r["image_id"]: r for r in prepared_features(df).collect()}
    assert {i: r["n_tok"] for i, r in feats.items()} == jvm
    # identical captions -> identical band keys, one per LSH band
    assert feats["i4"]["band_keys"] == feats["i5"]["band_keys"]
    assert len(feats["i4"]["band_keys"]) == DEFAULT.lsh_bands


def test_near_caption_threshold_respected(spark, images_500):
    pairs = near_caption_pairs(images_500)
    assert pairs.filter(f"score < {DEFAULT.jaccard_threshold}").count() == 0
    # planted 3-edit (below) pairs are absent
    below_ids = {f"img-{i:012d}" for i in range(500) if _kind(i) == "near_caption_below"}
    got_ids = {r["id_b"] for r in pairs.collect()} | {r["id_a"] for r in pairs.collect()}
    assert not (below_ids & got_ids)


def test_containment_finds_planted_embeddings(spark, images_500):
    pairs = containment_pairs(images_500)
    found = set()
    for r in pairs.collect():
        found.add(r["id_a"]); found.add(r["id_b"])
    planted = {f"img-{i:012d}" for i in range(500) if _kind(i) == "containment"}
    missing = planted - found
    assert not missing, f"containment pairs missed: {sorted(missing)[:5]}"
    assert pairs.filter("score < 0.9").count() == 0


def test_containment_verbatim_rejects_scattered_fragments(spark):
    """Shingle-set containment (k=3) is satisfiable by SCATTERED fragments:
    a long caption holding overlapping segments 's1..s4' and 's3..s6' covers
    every shingle of the short caption 's1..s6' without ever containing it
    contiguously. verbatim=True must reject that pair and keep a genuinely
    embedded one."""
    short = " ".join(f"s{i}" for i in range(1, 7))
    filler = lambda a, b: " ".join(f"f{i}" for i in range(a, b))
    long_scattered = " ".join([
        filler(0, 60), "s1 s2 s3 s4", filler(60, 120), "s3 s4 s5 s6",
        filler(120, 130),
    ])
    long_embedded = " ".join([filler(200, 260), short, filler(260, 330)])
    df = spark.createDataFrame(
        [("sh", short), ("sc", long_scattered), ("em", long_embedded)],
        "image_id string, caption string",
    )
    loose = {(r["id_a"], r["id_b"]) for r in containment_pairs(df).collect()}
    assert ("sc", "sh") in loose and ("em", "sh") in loose
    strict = {(r["id_a"], r["id_b"])
              for r in containment_pairs(df, verbatim=True).collect()}
    assert strict == {("em", "sh")}


def test_substring_verifier(spark):
    df = spark.createDataFrame(
        [("a", "b", "x y z", "w x y z q"), ("c", "d", "nope", "w x y z")],
        "id_a string, id_b string, text_short string, text_long string",
    )
    got = {r["id_a"]: r["is_substring"] for r in verify_substring_pairs(df).collect()}
    assert got == {"a": True, "c": False}


def test_substring_methods_agree(spark):
    """The suffix-array pass must return the same flags as str.find on
    adversarial inputs: repeated runs (worst case for naive search), the
    pattern at offset 0 / at the very end, a pattern that only *almost*
    matches at many positions, shared long texts (exercises the SA cache),
    unicode beyond ASCII, and pattern == whole text."""
    import random

    rng = random.Random(7)
    cases = [
        ("aaaaab", "a" * 40 + "b"),
        ("aaab", "a" * 40),                    # almost-matches everywhere
        ("xy", "xy" + "z" * 30),               # offset 0
        ("yz", "x" * 30 + "yz"),               # at the end
        ("día", "un buen día de sol"),         # multi-byte utf-8
        ("sol x", "un buen día de sol"),
        ("whole", "whole"),
        ("", "anything"),                      # empty pattern -> contained
        ("longer than text", "short"),
    ]
    # randomized small-alphabet pairs: dense repeats, ~half true positives
    for i in range(60):
        t_long = "".join(rng.choice("ab ") for _ in range(rng.randint(1, 80)))
        if i % 2:
            lo = rng.randint(0, len(t_long) - 1)
            t_short = t_long[lo: rng.randint(lo + 1, len(t_long))]
        else:
            t_short = "".join(rng.choice("ab ") for _ in range(rng.randint(1, 10)))
        cases.append((t_short, t_long))
    rows = [(f"p{i:03d}", f"L{hash(t_long) % 5}", t_short, t_long)
            for i, (t_short, t_long) in enumerate(cases)]
    df = spark.createDataFrame(
        rows, "id_a string, id_b string, text_short string, text_long string")
    find = {r["id_a"]: r["is_substring"]
            for r in verify_substring_pairs(df, method="find").collect()}
    sa = {r["id_a"]: r["is_substring"]
          for r in verify_substring_pairs(df, method="suffix_array").collect()}
    assert sa == find
    truth = {f"p{i:03d}": (t_short in t_long)
             for i, (t_short, t_long) in enumerate(cases)}
    assert find == truth


def test_containment_suffix_array_method_matches_find(spark, images_500):
    from deduplicator_spark.config import DEFAULT
    import dataclasses

    cfg = dataclasses.replace(DEFAULT, containment_sub_method="suffix_array")
    base = {(r["id_a"], r["id_b"])
            for r in containment_pairs(images_500, verbatim=True).collect()}
    via_sa = {(r["id_a"], r["id_b"])
              for r in containment_pairs(images_500, cfg=cfg, verbatim=True).collect()}
    assert via_sa == base and base


def test_shingles_and_simhash_basics(spark):
    df = spark.createDataFrame([("a b c d", ), ("a b",)], "t string")
    out = df.select(
        shingles(tokens(F.col("t"))).alias("sh"),
        simhash64(tokens(F.col("t"))).alias("sim"),
    ).collect()
    assert out[0]["sh"] == ["a b c", "b c d"]
    assert out[1]["sh"] == ["a b"]  # shorter than k -> whole string
    assert isinstance(out[0]["sim"], int)


def test_simhash_feature_parity(spark):
    """The vectorized Arrow pass (simhash_features, md5_hash=True) must equal
    the Column-algebra simhash64 with the same md5-derived feature hash —
    bit-for-bit, including the whitespace/empty-text edge cases. Text with
    no tokens (null, empty, blank) gets a null simhash on both sides."""
    from deduplicator_spark.operators.simhash import simhash_features

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "  leading   and trailing   spaces  "),
        (4, ""),
        (5, "single"),
        (6, "the quick brown fox jumps over the lazy dog"),
        # NBSP + thin space: Unicode whitespace the JVM's ASCII-only \s+
        # does NOT split on — pins the re.ASCII flag in the Arrow tokenizer
        (7, "foo bar baz qux quux"),
        (8, None),
        (9, "   "),
    ]
    df = spark.createDataFrame(rows, "item_id long, text string")
    md5h = lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
    col_side = {
        r["item_id"]: r["sim"]
        for r in df.select(
            "item_id", simhash64(tokens(F.col("text")), feature_hash=md5h).alias("sim")
        ).collect()
    }
    arrow_side = {
        r["item_id"]: r["simhash"]
        for r in simhash_features(df, md5_hash=True).collect()
    }
    assert arrow_side == col_side
    assert arrow_side[4] is None and arrow_side[8] is None and arrow_side[9] is None
    assert arrow_side[1] == arrow_side[6]  # identical text -> identical simhash
    assert arrow_side[1] != arrow_side[2]
    # default (pd.util.hash_array) path: deterministic, full 64-bit range
    fast = {r["item_id"]: r["simhash"]
            for r in simhash_features(df).collect()}
    fast2 = {r["item_id"]: r["simhash"]
             for r in simhash_features(df).collect()}
    assert fast == fast2 and fast[1] == fast[6] and fast[1] != fast[2]


def test_minhash_signature_identical_captions_identical_sigs(spark):
    from deduplicator_spark.operators.minhash import _batch_signatures, _perm_coeffs
    a, b = _perm_coeffs(DEFAULT)
    sigs = _batch_signatures(["a b c d e f g", "a b c d e f g", "a b c d e f h"],
                             DEFAULT, a, b)
    assert sigs.shape == (3, DEFAULT.minhash_perms)
    assert (sigs[0] == sigs[1]).all()
    assert not (sigs[0] == sigs[2]).all()


def test_candidate_cap_star_fallback(spark):
    # 20 ids in one bucket > pair_cap=16 -> star edges to the minimum
    rows = [(f"id{i:02d}", 0, 1) for i in range(20)]
    df = spark.createDataFrame(rows, "image_id string, band int, key long")
    pairs = candidate_pairs_from_bands(df, pair_cap=16).collect()
    assert len(pairs) == 19
    assert all(r["id_a"] == "id00" for r in pairs)


def test_mega_bucket_star_covers_every_member(spark):
    # a bucket far beyond every cap (salted fragments can't hold it) must
    # still produce one star edge per member — web-scale boilerplate keys
    # lose recall if the member list is sampled
    n = 5000
    rows = [(f"id{i:06d}", 0, 7) for i in range(n)]
    df = spark.createDataFrame(rows, "image_id string, band int, key long")
    pairs = candidate_pairs_from_bands(df, pair_cap=16, salt_buckets=8).collect()
    assert len(pairs) == n - 1
    assert {r["id_b"] for r in pairs} == {f"id{i:06d}" for i in range(1, n)}
    assert all(r["id_a"] == "id000000" for r in pairs)
