"""Per-partition lineage checkpointing + mid-job resume.

North-rule requirement: every stage checkpoints per-partition lineage
(cell range, row count, content hash) so runs resume mid-job. The real
deployment target is an Iceberg table (snapshot + manifest); this container
has no Iceberg runtime jars, so the same design is implemented as a
partitioned parquet layout + a JSON manifest that plays the role of the
Iceberg manifest list:

    <root>/bucket=<b>/*.parquet        one bucket = one unit of resume
    <root>/_manifest/<b>.json          {bucket, cell_min, cell_max,
                                        row_count, content_hash}

A stage writes bucket-by-bucket; a killed run leaves completed buckets +
manifests behind; `run_stage` re-runs only the missing buckets. The
manifest is observed during the write itself (`DataFrame.observe`): one
Spark job per bucket writes the parquet and yields row count, cell range
and content hash, with no read-back. content_hash is an order-insensitive
sum of 31-bit-masked xxhash64 row hashes — associative, partition-order
independent and duplicate-sensitive. On resume a bucket counts as done
only when its manifest exists AND the footer row counts of its part files
(parquet metadata, no scan) sum to the manifest's row_count, so a deleted
or truncated bucket directory is re-run instead of silently lost.

Swapping the physical layer for Iceberg is a sink change only (writeTo +
snapshot metadata), not a redesign.
"""

from __future__ import annotations

import json
import os
from typing import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def _manifest_dir(root: str) -> str:
    d = os.path.join(root, "_manifest")
    os.makedirs(d, exist_ok=True)
    return d


def _rows_on_disk(path: str) -> int | None:
    """Sum of the footer row counts of a bucket's part files (metadata
    only); None when the bucket directory is gone."""
    if not os.path.isdir(path):
        return None
    return sum(
        pq.read_metadata(os.path.join(path, f)).num_rows
        for f in os.listdir(path)
        if f.startswith("part-") and f.endswith(".parquet")
    )


def completed_buckets(root: str) -> set[int]:
    """Buckets with a manifest whose row_count the bucket's parquet footers
    confirm."""
    return {
        m["bucket"]
        for m in stage_metrics(root)
        if _rows_on_disk(os.path.join(root, f"bucket={m['bucket']}")) == m["row_count"]
    }


def _run_bucket(
    df_for_bucket: Callable[[int], DataFrame],
    b: int,
    root: str,
    cell_col: str,
    progress: Callable[[str], None] | None,
) -> int:
    out_path = os.path.join(root, f"bucket={b}")
    df = df_for_bucket(b)
    cols = df.columns
    obs = Observation()  # default name: a fresh UUID, unique per bucket run
    metrics = [
        F.count(F.lit(1)).alias("n"),
        # order-insensitive content hash: sum of 31-bit-masked row hashes —
        # commutative, duplicate-sensitive, and overflow-free for < 2^31
        # rows per bucket even under ANSI mode
        F.sum(F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(2147483647))).alias("h"),
    ]
    if cell_col in cols:
        metrics += [F.min(cell_col).alias("cmin"), F.max(cell_col).alias("cmax")]
    df.observe(obs, *metrics).write.mode("overwrite").parquet(out_path)
    stats = obs.get
    manifest = {
        "bucket": b,
        "cell_min": stats.get("cmin"),
        "cell_max": stats.get("cmax"),
        "row_count": stats["n"],
        "content_hash": str(stats["h"]),
    }
    # atomic publish: a manifest only ever exists complete (kill-safe)
    mpath = os.path.join(_manifest_dir(root), f"{b}.json")
    tmp = mpath + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, mpath)
    if progress:
        progress(f"bucket {b}: {stats['n']} rows")
    return b


def run_stage(
    df_for_bucket: Callable[[int], DataFrame],
    buckets: list[int],
    root: str,
    *,
    cell_col: str = "cell_id",
    progress: Callable[[str], None] | None = None,
    max_concurrent: int = 4,
) -> list[int]:
    """Execute a stage bucket-by-bucket with lineage; skip buckets that
    `completed_buckets` confirms (resume). Returns the buckets actually run.

    Buckets run CONCURRENTLY (max_concurrent submitter threads): Spark's
    scheduler interleaves their jobs across the executor pool (FIFO works;
    a fair scheduler pool sharpens it), so a bucket whose write stalls on a
    skewed partition no longer serializes the whole stage. Each bucket
    still publishes its own manifest atomically, so kill/resume semantics
    are unchanged — a killed run leaves any subset of complete buckets."""
    os.makedirs(root, exist_ok=True)
    done = completed_buckets(root)
    todo = [b for b in buckets if b not in done]
    if not todo:
        return []
    if max_concurrent <= 1 or len(todo) == 1:
        return [
            _run_bucket(df_for_bucket, b, root, cell_col, progress) for b in todo
        ]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=max_concurrent) as ex:
        futs = [
            ex.submit(_run_bucket, df_for_bucket, b, root, cell_col, progress)
            for b in todo
        ]
        # propagate the first failure after letting others finish
        return [f.result() for f in futs]


def read_stage(spark, root: str) -> DataFrame:
    return spark.read.parquet(os.path.join(root, "bucket=*"))


def stage_metrics(root: str) -> list[dict]:
    d = _manifest_dir(root)
    out = []
    for f in sorted(os.listdir(d)):
        if f.endswith(".json"):
            with open(os.path.join(d, f)) as fh:
                out.append(json.load(fh))
    return out
