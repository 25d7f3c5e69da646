"""Text suite tests (property style), plus the operators.ml k-means test."""

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
