"""Routing fan-out, JSONL round-trip, salted-rollup equality, and
checkpoint/resume idempotency."""

from __future__ import annotations

import glob
import uuid

import pyarrow.parquet as pq
import pytest

from loki_rs_spark.config import ScanConfig
from loki_rs_spark.plans.pipeline import scan_transcripts
from loki_rs_spark.plans.resume import (
    completed_buckets,
    read_routed,
    run_resumable_scan,
)
from loki_rs_spark.plans.skew import per_conv_rollup, per_conv_rollup_salted
from loki_rs_spark.sources.jsonl import read_jsonl_events, write_jsonl
from loki_rs_spark.operators.route import (
    exit_code,
    scan_counters,
    severity_counts,
    write_severity_sinks,
)
from loki_rs_spark.sources.transcripts import load_transcripts

from .conftest import SF_SMALL

REP = 4
CFG = ScanConfig()


@pytest.fixture(scope="module")
def result(spark, sigs):
    transcripts = load_transcripts(spark, SF_SMALL, rep=REP)
    return scan_transcripts(spark, transcripts, sigs, CFG)


def test_counters_consistent(result):
    row = scan_counters(result.scanned, result.evaluated).collect()[0]
    assert row["scanned"] > 0
    assert row["matched"] == row["alerts"] + row["warnings"] + row["notices"]
    sev = {r["level"]: r["n"] for r in severity_counts(result.routed).collect()}
    assert sev.get("ALERT", 0) == row["alerts"]
    assert sev.get("WARNING", 0) == row["warnings"]
    assert sev.get("NOTICE", 0) == row["notices"]
    code = exit_code(
        scan_counters(result.scanned, result.evaluated)
    ).collect()[0]["exit_code"]
    assert code == 2  # the corpus plants alerts


def test_severity_fanout(spark, result, tmp_path):
    out = str(tmp_path / "sinks")
    write_severity_sinks(result.routed.drop("all_reasons"), out)
    routed = spark.read.parquet(f"{out}/routed")
    assert routed.count() == result.routed.count()
    levels = {r["level"] for r in routed.select("level").distinct().collect()}
    assert levels == {"ALERT", "WARNING", "NOTICE"}
    # per-severity directories exist (the fan-out sinks)
    import os

    subdirs = {d for d in os.listdir(f"{out}/routed") if d.startswith("level=")}
    assert subdirs == {"level=ALERT", "level=WARNING", "level=NOTICE"}


def _jobs_run(spark, action) -> int:
    """Spark jobs started by `action`, counted through a job group."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_severity_sinks_evaluate_scan_once(spark, result, tmp_path):
    """The routed write launches no more jobs than a noop write of the
    same frame: an exchange that samples its keys (a range partitioner)
    runs the whole scan, matcher UDF included, in an extra job."""
    out = str(tmp_path / "sinks")
    noop = _jobs_run(
        spark,
        lambda: result.routed.write.format("noop").mode("overwrite").save(),
    )
    sinks = _jobs_run(spark, lambda: write_severity_sinks(result.routed, out))
    assert sinks <= noop


def _unsorted_files(root: str) -> list[str]:
    files = glob.glob(f"{root}/**/*.parquet", recursive=True)
    assert files
    bad = []
    for f in files:
        t = pq.read_table(f, columns=["conv_id", "turn_idx"])
        keys = list(zip(t["conv_id"].to_pylist(), t["turn_idx"].to_pylist()))
        if keys != sorted(keys):
            bad.append(f)
    return bad


def test_sink_files_sorted_by_turn_key(spark, sigs, result, tmp_path):
    """Every file of both sinks (the level fan-out and the resumable
    scan's bucket sink) holds its rows in (conv_id, turn_idx) order."""
    fanout = str(tmp_path / "fanout")
    write_severity_sinks(result.routed, fanout)
    assert _unsorted_files(f"{fanout}/routed") == []

    resumable = str(tmp_path / "resumable")
    transcripts = load_transcripts(spark, SF_SMALL, rep=REP)
    run_resumable_scan(spark, transcripts, sigs, resumable, CFG, n_buckets=8)
    assert _unsorted_files(f"{resumable}/routed") == []


def test_jsonl_roundtrip(spark, result, tmp_path):
    path = str(tmp_path / "events")
    write_jsonl(result.routed.drop("all_reasons"), path, hostname="h1")
    back = read_jsonl_events(spark, path)
    assert back.count() == result.routed.count()
    row = back.limit(1).collect()[0]
    assert row["event_type"] == "turn_match"
    assert row["hostname"] == "h1"
    assert row["reasons"] is not None


def test_jsonl_malformed_tolerance(spark, tmp_path):
    import os

    path = str(tmp_path / "mixed")
    os.makedirs(path)
    with open(f"{path}/part-00000.txt", "w") as f:
        f.write('{"level":"ALERT","score":85.0}\n')
        f.write("this is not json\n")
        f.write('{"level":"NOTICE","score":45.0}\n')
    back = read_jsonl_events(spark, path)
    assert back.count() == 2


def test_salted_rollup_equals_direct(result):
    direct = {
        r["conv_id"]: (r["n_turns"], r["n_routed"], r["n_alerts"], r["max_score"])
        for r in per_conv_rollup(result.evaluated).collect()
    }
    salted = {
        r["conv_id"]: (r["n_turns"], r["n_routed"], r["n_alerts"], r["max_score"])
        for r in per_conv_rollup_salted(result.evaluated).collect()
    }
    assert direct == salted


def test_resume_skips_completed(spark, sigs, tmp_path):
    out = str(tmp_path / "ckpt")
    transcripts = load_transcripts(spark, SF_SMALL, rep=REP)
    n_buckets = 8

    # one-shot reference run
    ref_out = str(tmp_path / "oneshot")
    run_resumable_scan(
        spark, transcripts, sigs, ref_out, CFG, n_buckets=n_buckets
    )
    expected = {
        (r["conv_id"], r["turn_idx"], r["level"], r["score"])
        for r in read_routed(spark, ref_out).collect()
    }

    # interrupted run: only half the buckets
    first = run_resumable_scan(
        spark,
        transcripts,
        sigs,
        out,
        CFG,
        n_buckets=n_buckets,
        only_buckets=set(range(4)),
    )
    assert first == set(range(4))
    assert completed_buckets(spark, out) == set(range(4))

    # resume: processes ONLY the remaining buckets
    second = run_resumable_scan(
        spark, transcripts, sigs, out, CFG, n_buckets=n_buckets
    )
    assert second == set(range(4, 8))

    # a third run is a no-op
    assert run_resumable_scan(
        spark, transcripts, sigs, out, CFG, n_buckets=n_buckets
    ) == set()

    actual = {
        (r["conv_id"], r["turn_idx"], r["level"], r["score"])
        for r in read_routed(spark, out).collect()
    }
    assert actual == expected

    # lineage metrics add up to the severity totals
    lineage = spark.read.parquet(f"{out}/lineage")
    from pyspark.sql import functions as F

    tot = lineage.agg(
        F.sum("n_routed").alias("n"), F.sum("n_alerts").alias("a")
    ).collect()[0]
    assert tot["n"] == len(expected)


def test_observe_metrics(spark, result):
    from loki_rs_spark.operators.route import routed_with_observation

    observed, obs = routed_with_observation(result.routed)
    n = observed.count()
    metrics = obs.get
    assert metrics["matched"] == n
    assert (
        metrics["alerts"] + metrics["warnings"] + metrics["notices"] == n
    )


def test_combined_report_aggregates(spark, result, tmp_path):
    from loki_rs_spark.sources.jsonl import combined_report_aggregates

    paths = []
    for host in ("host1", "host2"):
        p = str(tmp_path / host)
        write_jsonl(result.routed.drop("all_reasons"), p, hostname=host)
        paths.append(p)
    report = {
        r["hostname"]: r for r in combined_report_aggregates(spark, paths).collect()
    }
    assert set(report) == {"host1", "host2"}
    n = result.routed.count()
    for host in report.values():
        assert host["total"] == n
        assert host["alerts"] + host["warnings"] + host["notices"] == n


def test_completed_buckets_missing_dir_is_empty(spark, tmp_path):
    assert completed_buckets(spark, str(tmp_path / "nope")) == set()


def test_completed_buckets_corrupt_lineage_propagates(spark, tmp_path):
    # A corrupt lineage table must RAISE, not silently report "nothing
    # completed" (which would trigger a misleading full re-scan).
    out = tmp_path / "out"
    lineage = out / "lineage"
    lineage.mkdir(parents=True)
    (lineage / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception) as ei:
        completed_buckets(spark, str(out))
    # must not be the PATH_NOT_FOUND AnalysisException swallow path
    assert "PATH_NOT_FOUND" not in str(ei.value)
