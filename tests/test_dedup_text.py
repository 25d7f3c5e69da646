"""Dedup / text suite tests (property + oracle style)."""

from pyspark.sql import functions as F

from whitebox_tools_spark.operators import dedup as DD
from whitebox_tools_spark.operators import text as TX


def _docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
        (2, "the quick brown fox jumped over the lazy dog"),  # near dup
        (3, "completely different text with no overlap whatsoever"),
        (4, ""),
        (5, "short"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark):
    out = {r.text: (r.doc_id, r.n_dups) for r in DD.exact_dedup(_docs(spark)).collect()}
    assert out["the quick brown fox jumps over the lazy dog"] == (0, 2)
    assert len(out) == 5


def test_ngram_jaccard_finds_near_dups(spark):
    pairs = {(r.doc_id_a, r.doc_id_b): r.jaccard
             for r in DD.ngram_jaccard_pairs(_docs(spark), threshold=0.5,
                                             banded=False).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.7
    assert (0, 3) not in pairs


def test_ngram_jaccard_banded_equals_all_pairs(spark):
    """The banded candidate generator must be exact-complete, including
    long documents (>> any fixed band width) and near-threshold pairs with
    large absolute size differences — the round-1 defect class."""
    base = "word%04d " * 400
    long_a = base % tuple(range(400))
    # ~12.5% of shingles changed -> jaccard well above 0.5 but sizes differ
    long_b = (base % tuple(range(400))).replace("word00", "wort00")
    # a doc 20% shorter: size ratio 0.8, near the threshold boundary
    long_c = ("word%04d " * 320) % tuple(range(320))
    rows = [
        (0, long_a), (1, long_a), (2, long_b), (3, long_c),
        (4, "tiny doc"), (5, "another tiny doc"),
        (6, "the quick brown fox jumps over the lazy dog"),
        (7, "the quick brown fox jumped over the lazy dog"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.5, 0.8):
        exact = {(r.doc_id_a, r.doc_id_b, r.jaccard)
                 for r in DD.ngram_jaccard_pairs(docs, threshold=t,
                                                 banded=False).collect()}
        banded = {(r.doc_id_a, r.doc_id_b, r.jaccard)
                  for r in DD.ngram_jaccard_pairs(docs, threshold=t,
                                                  banded=True).collect()}
        assert banded == exact, f"threshold={t}: banded != all-pairs"
    assert any(a == 0 and b == 1 for a, b, _ in exact)  # sanity: dups found


def test_ngram_jaccard_prefix_equals_all_pairs_skewed(spark):
    """PPJoin prefix filtering must be exact-complete on the corpus shape
    that breaks length banding: many docs concentrated in ONE length band
    (same length, partially-overlapping content), plus templated near-dups
    at several similarity levels and size-ratio boundary cases."""
    import random

    rng = random.Random(20260818)
    vocab = [f"tok{v:03d}" for v in range(60)]
    rows = []
    did = 0
    # 24 same-length docs, random 12-word samples of a 60-word vocab:
    # all land in one band; pairwise jaccard spans 0..~0.6.
    for _ in range(24):
        rows.append((did, " ".join(rng.sample(vocab, 12))))
        did += 1
    # templated family: one base doc + single-word edits (high jaccard)
    base = " ".join(vocab[:12])
    for k in (0, 1, 2):
        rows.append((did, base.replace(f"tok00{k}", f"xxx00{k}")))
        did += 1
    rows.append((did, base)); did += 1
    rows.append((did, base)); did += 1  # exact dup -> a pair at t=1.0
    # size-ratio boundary: 80% prefix of the base
    rows.append((did, " ".join(vocab[:10]))); did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.5, 0.8, 1.0):
        exact = {(r.doc_id_a, r.doc_id_b, round(r.jaccard, 9))
                 for r in DD.ngram_jaccard_pairs(
                     docs, threshold=t, method="allpairs").collect()}
        prefix = {(r.doc_id_a, r.doc_id_b, round(r.jaccard, 9))
                  for r in DD.ngram_jaccard_pairs(
                      docs, threshold=t, method="prefix").collect()}
        banded = {(r.doc_id_a, r.doc_id_b, round(r.jaccard, 9))
                  for r in DD.ngram_jaccard_pairs(
                      docs, threshold=t, method="banded").collect()}
        assert prefix == exact, f"threshold={t}: prefix != all-pairs"
        assert banded == exact, f"threshold={t}: banded != all-pairs"
    assert exact  # t=1.0 still finds the exact-dup pair


def test_simhash_pigeonhole_guard(spark):
    import pytest

    with pytest.raises(ValueError):
        DD.simhash_near_dup_pairs(_docs(spark), max_hamming=6, bands=4)


def test_minhash_signature_value_dependence(spark):
    """Regression for the PySpark 4.1 HOF bug: F.xxhash64(lambda_var, lit)
    inside transform() ignores the element value (position-only hashes),
    which silently turned MinHash into length-hashing. Same-length docs
    with different content MUST get different signatures, and the
    signature-agreement estimate must track the true Jaccard."""
    rows = [
        (0, "abcdefghijklmnopqrstuvwxyz"),
        (1, "abcdefghijklmnopqrstuvwxyz"),
        (2, "abcdefghijklmnop0123456789"),   # same length, ~40% 3-gram overlap
        (3, "zyxwvutsrqponmlkjihgfedcba"),   # same length, ~0% overlap
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    s = {r.doc_id: r.sig for r in DD.minhash_signatures(docs, num_hashes=128).collect()}
    est = lambda a, b: sum(1 for u, v in zip(s[a], s[b]) if u == v) / 128  # noqa: E731
    assert est(0, 1) == 1.0
    assert 0.2 < est(0, 2) < 0.65   # true jaccard ~0.41
    assert est(0, 3) < 0.1


def test_minhash_lsh_pairs(spark):
    pairs = {(r.doc_id_a, r.doc_id_b)
             for r in DD.minhash_lsh_pairs(_docs(spark), verify_threshold=0.5).collect()}
    assert (0, 1) in pairs  # identical docs always collide in every band
    assert (0, 2) in pairs  # near dup: high signature agreement
    assert (0, 3) not in pairs


def test_simhash_near_dups(spark):
    # banding guarantees recall only for small hamming distances, so use a
    # long document where a one-word edit moves few simhash bits
    base = "the quick brown fox jumps over the lazy dog and then runs far away " * 8
    rows = [(0, base), (1, base), (2, base.replace("runs", "rune")),
            (3, "completely different text with no overlap at all whatsoever here")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.doc_id_a, r.doc_id_b): r.hamming
             for r in DD.simhash_near_dup_pairs(docs, max_hamming=10).collect()}
    assert pairs[(0, 1)] == 0
    assert (0, 2) in pairs
    assert (0, 3) not in pairs


def test_dedup_keep_first(spark):
    docs = _docs(spark)
    pairs = DD.minhash_lsh_pairs(docs, verify_threshold=0.9)
    kept = DD.dedup_keep_first(docs, pairs)
    ids = {r.doc_id for r in kept.collect()}
    assert 0 in ids and 1 not in ids


def test_token_count_and_quality(spark):
    tc = {r.doc_id: r.n_tokens for r in TX.token_count(_docs(spark)).collect()}
    assert tc[0] == 9 and tc[4] == 0 and tc[5] == 1
    q = {r.doc_id: r for r in TX.quality_score(_docs(spark)).collect()}
    assert q[4].quality == 0.0  # empty doc filtered by length gate
    assert q[0].stop_ratio > 0.2  # two 'the' + 'over'


def test_language_id(spark):
    out = {r.doc_id: r.pred_lang for r in TX.language_id(_docs(spark)).collect()}
    assert out[0] == "en"
    assert out[3] == "unknown" or out[3] == "en"  # 'with'/'no' borderline
    assert out[4] == "unknown"


def test_fingerprint_deterministic_and_distinct(spark):
    a = {r.doc_id: r.fp for r in TX.fingerprint(_docs(spark)).collect()}
    b = {r.doc_id: r.fp for r in TX.fingerprint(_docs(spark)).collect()}
    assert a == b
    assert a[0] == a[1] and a[0] != a[3]


def test_portable_md5_family_pipelines(spark):
    """The md5 hash family (oracle-checkable path) preserves the pipeline
    semantics: exact duplicates collide at est_jaccard 1.0 / hamming 0, and
    unrelated docs don't pair at a strict threshold."""
    from whitebox_tools_spark.operators.dedup import (
        minhash_lsh_pairs, simhash_near_dup_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again"),
            (3, "a completely different document about spark physical plans"),
            (4, "zzzz qqqq vvvv wwww kkkk jjjj xxxx yyyy uuuu mmmm nnnn oooo"),
        ],
        "doc_id long, text string",
    )
    mh = minhash_lsh_pairs(
        docs, num_hashes=32, bands=8, verify_threshold=0.9, hash_family="md5"
    ).collect()
    assert {(r.doc_id_a, r.doc_id_b) for r in mh} == {(1, 2)}
    assert mh[0].est_jaccard == 1.0

    sh = simhash_near_dup_pairs(
        docs, max_hamming=3, bits=60, hash_family="md5"
    ).collect()
    assert {(r.doc_id_a, r.doc_id_b) for r in sh} == {(1, 2)}
    assert sh[0].hamming == 0


def test_lloyd_kmeans_partitions_ids(spark):
    from whitebox_tools_spark.operators.ml import lloyd_kmeans

    import numpy as np
    rng = np.random.default_rng(5)
    centers = np.array([[0.0, 0.0], [10.0, 10.0], [0.0, 10.0]])
    pts = [
        (i, *(centers[i % 3] + rng.normal(0, 0.3, 2)).tolist())
        for i in range(90)
    ]
    df = spark.createDataFrame(pts, "pid long, x double, y double")
    out = lloyd_kmeans(df, ["x", "y"], 3, id_col="pid", iters=6).collect()
    assert len(out) == 90
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster, set()).add(r.pid % 3)
    # converged: each cluster contains exactly one generator center
    assert all(len(v) == 1 for v in by_cluster.values())
    assert len(by_cluster) == 3


def test_bucket_pair_candidates_chunked_equals_naive(spark):
    """Triangle-chunked hot-bucket self-join == naive bucket self-join.

    One 40-member hot bucket + several small buckets; with cap=7 the hot
    bucket splits into ceil(40/7)=6 chunks whose 21 pair cells must cover
    every unordered pair exactly once (same-chunk double emission collapses
    under the id-pair dedup). Also pins cap invariance (cap smaller than
    every bucket vs cap larger than the whole table) and payload
    orientation (payload_a belongs to the smaller id)."""
    rows = [(f"d{i:03d}", "hot", 0, i * 1.5) for i in range(40)]
    rows += [(f"s{i:03d}", f"cold{i % 5}", 1, -float(i)) for i in range(10)]
    df = spark.createDataFrame(rows, "id string, h string, b int, val double")

    naive = (
        df.selectExpr("id as doc_id_a", "b", "h", "val as val_a")
        .join(df.selectExpr("id as doc_id_b", "b", "h", "val as val_b"), ["b", "h"])
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .select("doc_id_a", "doc_id_b", "val_a", "val_b")
        .distinct()
    )
    want = {tuple(r) for r in naive.collect()}
    assert len(want) == 40 * 39 // 2 + 5  # hot-bucket pairs + one pair per cold bucket

    for cap in (7, 1, 10_000):
        got = {
            tuple(r)
            for r in DD.bucket_pair_candidates(
                df, ["b", "h"], "id", payload=["val"], cap=cap
            ).collect()
        }
        assert got == want, f"cap={cap}"

    # hot bucket genuinely fans out: with cap=7 no (i, j) cell holds more
    # than ceil(40/6)^2 = 49 of the 780 hot pairs (the naive join puts all
    # 780 in ONE hash-partitioned task at scale)
    from pyspark.sql import Window

    cap = 7
    w = Window.partitionBy("b", "h")
    k = F.greatest(F.lit(1), F.ceil(F.count(F.lit(1)).over(w) / F.lit(cap))).cast("int")
    chunks = (
        df.withColumn("k", k)
        .withColumn("c", F.pmod(F.xxhash64(F.col("id"), F.lit(1315423911)), F.col("k")).cast("int"))
        .filter(F.col("h") == "hot")
        .groupBy("c")
        .count()
        .collect()
    )
    sizes = {r.c: r["count"] for r in chunks}
    assert len(sizes) == 6 and sum(sizes.values()) == 40
    assert max(v * v for v in sizes.values()) < 780  # no cell sees all pairs


def test_minhash_lsh_hot_bucket_cap_invariance(spark):
    """A templated corpus (every doc shares one boilerplate band) must give
    identical MinHash+LSH output whether or not hot-bucket chunking kicks
    in: run with the production cap and with a tiny monkeypatched cap."""
    base = "identical boilerplate header shared by every document in the corpus "
    rows = [(i, base + f"unique tail {i} {'x' * (i % 7)}") for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def run():
        return {
            (r.doc_id_a, r.doc_id_b, r.est_jaccard)
            for r in DD.minhash_lsh_pairs(docs, bands=8, verify_threshold=0.3).collect()
        }

    ref = run()
    assert ref  # boilerplate makes bands collide: candidates exist
    orig = DD.bucket_pair_candidates
    try:
        DD.bucket_pair_candidates = (
            lambda d, keys, idc, **kw: orig(d, keys, idc, **{**kw, "cap": 3})
        )
        assert run() == ref
    finally:
        DD.bucket_pair_candidates = orig


def test_near_dup_components_transitive(spark):
    """Components close transitive chains that keep-first cannot: pairs
    (A,C), (B,C) — one-hop keep_first drops only C (keeps A and B), but
    A~C~B is ONE cluster, so keep-min-per-component keeps A alone. Also
    pins the component labels, cluster sizes, and a second disjoint
    cluster."""
    pairs = spark.createDataFrame(
        [(1, 3), (2, 3), (7, 8)], "doc_id_a long, doc_id_b long"
    )
    comp = {
        (r.doc_id, r.component)
        for r in DD.near_dup_components(pairs).collect()
    }
    assert comp == {(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)}

    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in (1, 2, 3, 7, 8, 9)], "doc_id long, text string"
    )
    kept_cc = {
        r.doc_id for r in DD.dedup_keep_min_per_component(docs, pairs).collect()
    }
    assert kept_cc == {1, 7, 9}  # one per cluster + untouched 9
    kept_hop = {r.doc_id for r in DD.dedup_keep_first(docs, pairs).collect()}
    assert kept_hop == {1, 2, 7, 9}  # one-hop keeps 2: the transitive gap


def test_near_dup_components_long_chain(spark):
    """A 40-node path graph (worst-case diameter for the doubling loop)
    converges to a single min-labeled component."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "doc_id_a long, doc_id_b long"
    )
    rows = DD.near_dup_components(pairs).collect()
    assert len(rows) == 41
    assert {r.component for r in rows} == {0}
