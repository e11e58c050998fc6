"""Routing + aggregate operators (SURVEY.md §2.1 S5, §2.5 A4-A9).

The reference serializes one JSONL stream and keeps live per-severity
counters; the north rule asks for per-severity fan-out sinks with per-sink
aggregate match counts. Spark-first rendering:

* fan-out = ONE write partitioned by `level` (a single evaluation of the
  scan, three physical sink directories: level=ALERT/WARNING/NOTICE)
  instead of three filtered jobs — at 100 TB you never want to rescan per
  severity. The write has no exchange, so files are sorted by
  (conv_id, turn_idx) each but carry no global order (contract in
  `write_severity_sinks`). A range exchange is deliberately absent: its
  partitioner samples the keys by running the lazy plan, which evaluated
  the whole scan — Arrow matcher UDF included — a second time per write;
* counters  = an `agg` over the scanned/evaluated frames (the reference's
  rayon `reduce` of 5-tuples, src/modules/filesystem_scan.rs:544-553);
* exit code = driver-side check on the aggregate row (src/main.rs:1568-75).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def severity_counts(routed: DataFrame) -> DataFrame:
    return routed.groupBy("level").agg(F.count("*").alias("n"))


def scan_counters(scanned: DataFrame, evaluated: DataFrame) -> DataFrame:
    """The reference's counter tuple (scanned, errors, matched, alerts,
    warnings, notices). `matched` counts only routed rows — below-threshold
    matches return zeroed counters in the reference
    (filesystem_scan.rs:948-951). `errors` is the unreadable-input counter
    (the reference counts permission-denied/corrupted files and emits
    `error` events, tests/error_handling_tests/): the turn analog is a row
    whose content column is NULL (unparseable record surviving the source
    reader)."""
    scanned_agg = scanned.agg(
        F.count("*").alias("scanned"),
        F.count(F.when(F.col("text").isNull(), 1)).alias("errors"),
    )
    eval_agg = evaluated.agg(
        F.count(F.when(F.col("level").isNotNull(), 1)).alias("matched"),
        F.count(F.when(F.col("level") == "ALERT", 1)).alias("alerts"),
        F.count(F.when(F.col("level") == "WARNING", 1)).alias("warnings"),
        F.count(F.when(F.col("level") == "NOTICE", 1)).alias("notices"),
    )
    return scanned_agg.crossJoin(eval_agg)


def exit_code(counters: DataFrame) -> DataFrame:
    """Exit 2 iff alerts+warnings > 0 else 0 (src/main.rs:1568-1575)."""
    return counters.select(
        F.when(F.col("alerts") + F.col("warnings") > 0, F.lit(2))
        .otherwise(F.lit(0))
        .alias("exit_code")
    )


def routed_with_observation(routed: DataFrame):
    """A6 (SURVEY.md §2.5): the reference keeps live atomic counters
    (src/helpers/interrupt.rs:8-89); the Spark analog is `observe()` —
    metrics accumulated task-side during the SAME pass that writes the
    sink, no extra job. Returns (df, Observation); read `.get` after an
    action ran."""
    from pyspark.sql import Observation

    obs = Observation("scan_counters")
    observed = routed.observe(
        obs,
        F.count(F.lit(1)).alias("matched"),
        F.count(F.when(F.col("level") == "ALERT", 1)).alias("alerts"),
        F.count(F.when(F.col("level") == "WARNING", 1)).alias("warnings"),
        F.count(F.when(F.col("level") == "NOTICE", 1)).alias("notices"),
    )
    return observed, obs


def write_severity_sinks(
    routed: DataFrame,
    out_dir: str,
    mode: str = "overwrite",
    fmt: str | None = None,
) -> None:
    """Per-severity fan-out in ONE evaluation of `routed`: partitionBy
    ('level') produces the three sink directories (or one Iceberg table
    level-partitioned, with fmt='iceberg' — see sources/table_format.py).

    Contract: no exchange and no sampling job, so the scan runs once per
    write; each file holds one scan task's rows of one level, sorted by
    (conv_id, turn_idx); a sink holds at most (scan tasks x levels) files.
    The sort leads with `level` because the writer requires its input
    ordered by the partition column: a sort without that prefix is
    replaced by the writer's own sort on `level` alone, and the
    in-file order is lost."""
    from ..sources.table_format import write_partitioned

    write_partitioned(
        routed.sortWithinPartitions("level", "conv_id", "turn_idx"),
        f"{out_dir}/routed",
        ("level",),
        mode=mode,
        fmt=fmt,
    )
