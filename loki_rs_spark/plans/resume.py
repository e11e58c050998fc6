"""Checkpoint/resume with per-partition lineage + metrics (north_rule).

The reference only has pause/skip/abort atomics (src/helpers/
interrupt.rs:91-160); resumability here is NEW design, not ported:

* the transcript table is bucketed by `part_id = pmod(xxhash64(conv_id),
  n_buckets)` — conversation-aligned so a bucket is self-contained;
* each completed bucket appends one lineage row (part_id, rows counts,
  wall time) to `{out}/lineage`;
* output is written with dynamic partition overwrite on part_id, so
  re-running a bucket is idempotent;
* resume = anti-select of completed buckets: ONE filtered job over the
  pending buckets, not a per-bucket driver loop — at 10^12 turns the
  pending filter prunes whole partitions at the scan.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException

from ..config import DEFAULT_CONFIG, ScanConfig
from ..signatures.model import SignatureSet
from .pipeline import scan_transcripts

DEFAULT_BUCKETS = 64


def with_part_id(df: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    return df.withColumn(
        "part_id", F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets))
    )


def completed_buckets(spark: SparkSession, out_dir: str) -> set[int]:
    """Distinct part_ids recorded in the lineage table. A missing lineage
    dir (fresh run) is the empty set; any OTHER failure (corrupt footer,
    transient FS error) propagates — treating it as 'nothing completed'
    would silently trigger a full re-scan instead of surfacing the fault."""
    try:
        rows = (
            spark.read.parquet(f"{out_dir}/lineage")
            .select("part_id")
            .distinct()
            .collect()
        )
        return {r["part_id"] for r in rows}
    except AnalysisException:  # PATH_NOT_FOUND on first run
        return set()


def run_resumable_scan(
    spark: SparkSession,
    transcripts: DataFrame,
    sigs: SignatureSet,
    out_dir: str,
    cfg: ScanConfig = DEFAULT_CONFIG,
    n_buckets: int = DEFAULT_BUCKETS,
    only_buckets: set[int] | None = None,
) -> set[int]:
    """Scan all buckets not yet recorded in the lineage table (optionally
    restricted to `only_buckets` — used to simulate an interrupted run).
    Returns the set of buckets processed this invocation."""
    bucketed = with_part_id(transcripts, n_buckets)
    done = completed_buckets(spark, out_dir)
    pending = set(range(n_buckets)) - done
    if only_buckets is not None:
        pending &= only_buckets
    if not pending:
        return set()

    subset = bucketed.filter(F.col("part_id").isin([int(b) for b in pending]))
    result = scan_transcripts(spark, subset, sigs, cfg)
    # part_id is a pure function of conv_id — recompute it on the routed
    # frame (the pipeline projects a fixed output schema)
    routed = with_part_id(result.routed.drop("all_reasons"), n_buckets)

    # Any on-disk partition for a PENDING bucket is leftover from a crashed
    # run (completed buckets are in lineage and excluded above). Clear them
    # up front: dynamic partition overwrite only replaces partitions present
    # in THIS write, so a pending bucket that routes zero rows this run
    # would otherwise keep stale data while lineage marks it complete.
    # Driver-side loop is fine — pending count is bounded by n_buckets.
    jvm = spark._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    for b in sorted(pending):
        part_path = jvm.org.apache.hadoop.fs.Path(
            f"{out_dir}/routed/part_id={int(b)}"
        )
        fs = part_path.getFileSystem(hconf)
        if fs.exists(part_path):
            fs.delete(part_path, True)

    started = time.time()
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    from ..sources.table_format import write_partitioned

    # 'overwrite_partitions': parquet = dynamic partition overwrite (with
    # the pre-clear above); iceberg = overwritePartitions(), an atomic
    # REPLACE snapshot that subsumes the pre-clear (table_format.py).
    # The hash exchange on part_id gives one file per bucket. The sort
    # leads with part_id because the writer requires its input ordered by
    # the partition column: without that prefix it replaces this sort by
    # its own on part_id alone and the files lose (conv_id, turn_idx) order.
    write_partitioned(
        routed.repartition(F.col("part_id"))
        .sortWithinPartitions("part_id", "conv_id", "turn_idx"),
        f"{out_dir}/routed",
        ("part_id",),
        mode="overwrite_partitions",
    )

    # lineage + metrics: one row per completed bucket. Buckets with zero
    # routed rows still get a lineage row (completed != produced output).
    # Metrics are aggregated from the JUST-WRITTEN parquet, not from the
    # lazy `routed` plan — re-evaluating `routed` would execute the full
    # scan pipeline (matcher UDF included) a second time; the read-back is
    # a partition-pruned scan of data this invocation just produced.
    all_pending = spark.createDataFrame(
        [(int(b),) for b in pending], "part_id bigint"
    )
    try:
        written = spark.read.parquet(f"{out_dir}/routed").filter(
            F.col("part_id").isin([int(b) for b in pending])
        )
        per_bucket = written.groupBy("part_id").agg(
            F.count("*").alias("n_routed"),
            F.count(F.when(F.col("level") == "ALERT", 1)).alias("n_alerts"),
            F.count(F.when(F.col("level") == "WARNING", 1)).alias("n_warnings"),
            F.count(F.when(F.col("level") == "NOTICE", 1)).alias("n_notices"),
        )
    except AnalysisException:  # nothing routed at all => no path to read;
        # genuine read failures (corrupt footer, FS errors) surface as
        # other exception types and must propagate — zeroing metrics while
        # lineage marks the buckets complete would be silent data loss
        per_bucket = spark.createDataFrame(
            [],
            "part_id bigint, n_routed bigint, n_alerts bigint, "
            "n_warnings bigint, n_notices bigint",
        )

    metrics = (
        per_bucket.join(all_pending, "part_id", "right")
        .na.fill(0)
        .withColumn("completed_at", F.lit(started).cast("double"))
    )
    write_partitioned(metrics, f"{out_dir}/lineage", (), mode="append")
    return pending


def read_routed(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/routed")
