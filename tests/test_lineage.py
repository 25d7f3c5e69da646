"""Resumable stage execution: kill-and-resume equivalence + lineage metrics."""

import os

from pyspark.sql import functions as F

from whitebox_tools_spark import lineage


def _stage_fn(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")

    def df_for_bucket(b):
        return cust.filter(F.col("c_custkey") % 4 == b).select(
            "c_custkey", (F.col("c_custkey") % 97).alias("cell_id"), "c_acctbal"
        )

    return df_for_bucket


def test_resume_skips_completed_buckets(spark, sf_dir, tmp_path):
    root = str(tmp_path / "stage1")
    fn = _stage_fn(spark, sf_dir)
    # simulate a killed run: only buckets 0,1 complete
    ran = lineage.run_stage(fn, [0, 1], root)
    assert ran == [0, 1]
    assert lineage.completed_buckets(root) == {0, 1}
    # resume with the full bucket list: only 2,3 run
    ran2 = lineage.run_stage(fn, [0, 1, 2, 3], root)
    assert ran2 == [2, 3]
    # result identical to a clean full run
    root_full = str(tmp_path / "stage_full")
    lineage.run_stage(fn, [0, 1, 2, 3], root_full)
    a = sorted(tuple(r) for r in lineage.read_stage(spark, root).collect())
    b = sorted(tuple(r) for r in lineage.read_stage(spark, root_full).collect())
    assert a == b


def test_manifest_metrics(spark, sf_dir, tmp_path):
    root = str(tmp_path / "stage2")
    lineage.run_stage(_stage_fn(spark, sf_dir), [0, 1, 2, 3], root)
    metrics = lineage.stage_metrics(root)
    assert len(metrics) == 4
    total = sum(m["row_count"] for m in metrics)
    n = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert total == n
    for m in metrics:
        assert m["cell_min"] is not None and m["cell_max"] is not None
        assert m["content_hash"] is not None


def test_concurrent_buckets_match_serial(spark, sf_dir, tmp_path):
    """Overlapped bucket submission (thread pool -> Spark scheduler) must
    produce byte-identical results + manifests vs the serial path."""
    fn = _stage_fn(spark, sf_dir)
    r_ser = str(tmp_path / "serial")
    r_par = str(tmp_path / "parallel")
    ran_s = lineage.run_stage(fn, [0, 1, 2, 3], r_ser, max_concurrent=1)
    ran_p = lineage.run_stage(fn, [0, 1, 2, 3], r_par, max_concurrent=4)
    assert sorted(ran_s) == sorted(ran_p) == [0, 1, 2, 3]
    a = sorted(tuple(r) for r in lineage.read_stage(spark, r_ser).collect())
    b = sorted(tuple(r) for r in lineage.read_stage(spark, r_par).collect())
    assert a == b
    hs = {m["bucket"]: m["content_hash"] for m in lineage.stage_metrics(r_ser)}
    hp = {m["bucket"]: m["content_hash"] for m in lineage.stage_metrics(r_par)}
    assert hs == hp
    # resume after concurrent run is still a no-op
    assert lineage.run_stage(fn, [0, 1, 2, 3], r_par, max_concurrent=4) == []


def test_content_hash_detects_difference(spark, sf_dir, tmp_path):
    fn = _stage_fn(spark, sf_dir)
    r1 = str(tmp_path / "a")
    r2 = str(tmp_path / "b")
    lineage.run_stage(fn, [0], r1)
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")

    def tampered(b):
        return cust.filter(F.col("c_custkey") % 4 == b).select(
            "c_custkey", (F.col("c_custkey") % 97).alias("cell_id"),
            (F.col("c_acctbal") + 1).alias("c_acctbal"),
        )

    lineage.run_stage(tampered, [0], r2)
    h1 = lineage.stage_metrics(r1)[0]["content_hash"]
    h2 = lineage.stage_metrics(r2)[0]["content_hash"]
    assert h1 != h2


def _typed_stage_fn(spark, sf_dir, nb):
    """long, int, double and string columns with NULLs; bucket nb-1 is empty."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")

    def df_for_bucket(b):
        return cust.filter(F.col("c_custkey") % (nb - 1) == b).select(
            "c_custkey",
            (F.col("c_custkey") % 97).cast("int").alias("cell_id"),
            F.when(F.col("c_custkey") % 5 != 0, F.col("c_acctbal")).alias("c_acctbal"),
            F.when(F.col("c_custkey") % 7 != 0, F.col("c_name")).alias("c_name"),
        )

    return df_for_bucket


def test_observed_manifest_equals_read_back(spark, sf_dir, tmp_path):
    """The manifest observed during the write equals the aggregate of a
    read-back of the written files, the way it was computed before."""
    root = str(tmp_path / "observed")
    nb = 4
    lineage.run_stage(_typed_stage_fn(spark, sf_dir, nb), list(range(nb)), root)
    got = {m["bucket"]: m for m in lineage.stage_metrics(root)}
    assert got[nb - 1]["row_count"] == 0
    for b in range(nb):
        written = spark.read.parquet(os.path.join(root, f"bucket={b}"))
        r = written.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("cell_id").alias("cmin"),
            F.max("cell_id").alias("cmax"),
            F.sum(F.pmod(F.xxhash64(*written.columns), F.lit(2147483647))).alias("h"),
        ).collect()[0]
        assert got[b] == {
            "bucket": b,
            "cell_min": r["cmin"],
            "cell_max": r["cmax"],
            "row_count": r["n"],
            "content_hash": str(r["h"]),
        }, b


def test_bucket_runs_one_write_job(spark, sf_dir, tmp_path):
    # the manifest comes from the write job itself: no read-back job
    fn = _stage_fn(spark, sf_dir)  # outside the group: reading the input infers its schema
    sc = spark.sparkContext
    sc.setJobGroup("test_bucket_runs_one_write_job", "one lineage bucket")
    try:
        lineage.run_stage(fn, [1], str(tmp_path / "one"), max_concurrent=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("test_bucket_runs_one_write_job")) == 1


def test_resume_reruns_bucket_whose_files_are_gone(spark, sf_dir, tmp_path):
    """A manifest only counts when the bucket's parquet footers carry its
    row_count: a deleted bucket directory, or a lost part file, is re-run."""
    import shutil

    fn = _stage_fn(spark, sf_dir)
    root = str(tmp_path / "lost")
    lineage.run_stage(fn, [0, 1, 2, 3], root)
    shutil.rmtree(os.path.join(root, "bucket=2"))
    b3 = os.path.join(root, "bucket=3")
    for f in os.listdir(b3):
        if f.startswith("part-"):
            os.remove(os.path.join(b3, f))
            break
    assert lineage.completed_buckets(root) == {0, 1}
    assert lineage.run_stage(fn, [0, 1, 2, 3], root) == [2, 3]
    root_full = str(tmp_path / "full")
    lineage.run_stage(fn, [0, 1, 2, 3], root_full)
    a = sorted(tuple(r) for r in lineage.read_stage(spark, root).collect())
    b = sorted(tuple(r) for r in lineage.read_stage(spark, root_full).collect())
    assert a == b
