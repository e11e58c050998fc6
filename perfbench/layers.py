"""The adapter table: every program entry point the benchmark calls.

Each entry maps a short name to ``module:attribute`` in the program.
When the program renames or moves a function, only its line here changes.
Modules are imported on first use, so this file imports nothing from the
program by itself.
"""

from __future__ import annotations

from importlib import import_module

ENTRY_POINTS = {
    # session / signatures
    "get_spark": "loki_rs_spark.session:get_spark",
    "load_signature_set": "loki_rs_spark.signatures:load_signature_set",
    "CompiledEngine": "loki_rs_spark.operators.matcher:CompiledEngine",
    "DEFAULT_CONFIG": "loki_rs_spark.config:DEFAULT_CONFIG",
    # scan pipeline and its stages
    "scan_transcripts": "loki_rs_spark.plans.pipeline:scan_transcripts",
    "scan_transcripts_scores": "loki_rs_spark.plans.pipeline:scan_transcripts_scores",
    "with_hashes": "loki_rs_spark.operators.hashes:with_hashes",
    "anti_join_fp_hashes": "loki_rs_spark.operators.ioc_join:anti_join_fp_hashes",
    "make_arrow_matcher_udf": "loki_rs_spark.operators.arrow_matcher:make_arrow_matcher_udf",
    "ext_bits_col": "loki_rs_spark.operators.ext_bits:ext_bits_col",
    "match_record_batch": "loki_rs_spark.operators.arrow_matcher:match_record_batch",
    "match_scores_record_batch": "loki_rs_spark.operators.arrow_matcher:match_scores_record_batch",
    "write_severity_sinks": "loki_rs_spark.operators.route:write_severity_sinks",
    "severity_counts": "loki_rs_spark.operators.route:severity_counts",
    # resume / skew
    "run_resumable_scan": "loki_rs_spark.plans.resume:run_resumable_scan",
    "completed_buckets": "loki_rs_spark.plans.resume:completed_buckets",
    "per_conv_rollup_salted": "loki_rs_spark.plans.skew:per_conv_rollup_salted",
    "with_salt": "loki_rs_spark.plans.skew:with_salt",
    # near-dup query family and its DuckDB oracle
    "QUERIES": "loki_rs_spark.queries:QUERIES",
    "oracle_queries": "loki_rs_spark.queries:oracle_queries",
    # correctness references and generator inputs
    "scan_turn": "loki_rs_spark.plans.reference_scanner:scan_turn",
    "transcripts_module": "loki_rs_spark.sources.transcripts",
}


class Layers:
    """Attribute access to the entry points above, resolved lazily."""

    def __getattr__(self, name: str):
        try:
            target = ENTRY_POINTS[name]
        except KeyError:
            raise AttributeError(name) from None
        module, _, attr = target.partition(":")
        value = import_module(module)
        if attr:
            value = getattr(value, attr)
        setattr(self, name, value)
        return value


L = Layers()

# Which end-to-end metric each layer's metrics should move, and on which
# workload. Printed with the traced report; kept next to the adapter so a
# renamed layer updates both. "pass time" is the wall-clock pass (report
# line turns_per_s, per-layer trace.pass_untraced_s).
LAYER_MAP = {
    "session": "setup_s on both workloads",
    "signatures": "setup_s on both workloads",
    "sources": "cpu_us_per_turn on fresh_sparse (the larger texts)",
    "operators.filters": "cpu_us_per_turn on both workloads (small)",
    "operators.hashes": "cpu_us_per_turn on fresh_sparse",
    "operators.ioc_join": "cpu_us_per_turn on replay_dense",
    "operators.arrow_matcher": (
        "cpu_us_per_turn on fresh_sparse, where every text is distinct and "
        "the kernels are one of the two largest marginal costs per turn "
        "(the other is the sink write); a kernel-only "
        "change predicts no change on replay_dense; the score kernel moves "
        "route.severity_counts_s"
    ),
    "bridge": "cpu_us_per_turn on fresh_sparse",
    "plans.pipeline": (
        "cpu_us_per_turn on both workloads: reason assembly and the score "
        "fold run for ~12% of turns on replay_dense and, because a size "
        "rule fires on every text of 1 KB or more, ~70% on fresh_sparse"
    ),
    "operators.route": (
        "cpu_us_per_turn and pass time on both workloads: the largest self "
        "time on both, most of it fixed per pass (5 jobs a write)"
    ),
    "plans.resume": "resume.first_s and resume.second_s (traced runs)",
    "plans.skew": "skew.rollup_s (traced runs)",
    "queries": "dedup.<op>.s (traced runs)",
}
