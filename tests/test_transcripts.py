"""The transcript derivation must be IDENTICAL between the Spark rendering
and the DuckDB CTE (the correctness oracle's input)."""

from __future__ import annotations

import duckdb

from loki_rs_spark.sources.transcripts import (
    load_transcripts,
    transcripts_duckdb_cte,
)

from .conftest import SF_SMALL

REP = 4


def test_schema(spark):
    df = load_transcripts(spark, SF_SMALL, rep=REP)
    assert dict(df.dtypes) == {
        "conv_id": "string",
        "turn_idx": "int",
        "role": "string",
        "text": "string",
        "tool": "string",
        "ts": "timestamp",
        "uid": "bigint",
    }


def test_spark_matches_duckdb(spark):
    df = load_transcripts(spark, SF_SMALL, rep=REP)
    spark_rows = {
        r["uid"]: (
            r["conv_id"],
            r["turn_idx"],
            r["role"],
            r["text"],
            r["tool"],
            r["ts"].strftime("%Y-%m-%d %H:%M:%S"),
        )
        for r in df.collect()
    }

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMALL}/documents.parquet'"
    )
    cte = transcripts_duckdb_cte(SF_SMALL, rep=REP)
    duck_rows = {
        row[6]: (
            row[0],
            row[1],
            row[2],
            row[3],
            row[4],
            row[5].strftime("%Y-%m-%d %H:%M:%S"),
        )
        for row in con.execute(
            f"WITH {cte} SELECT conv_id, turn_idx, role, text, tool, ts, uid "
            "FROM transcripts"
        ).fetchall()
    }

    assert len(spark_rows) == len(duck_rows) == 500 * REP
    assert spark_rows == duck_rows


def test_conversation_skew(spark):
    """Conversation length grows with conv index — the planted skew."""
    df = load_transcripts(spark, SF_SMALL, rep=REP)
    sizes = {
        r["conv_id"]: r["n"]
        for r in df.groupBy("conv_id").count().withColumnRenamed("count", "n").collect()
    }
    assert sizes["conv-1"] == 3  # uids 1,2,3
    assert sizes["conv-10"] == 21  # uids 100..120
    # stable (conv_id, turn_idx) key is unique
    assert (
        df.select("conv_id", "turn_idx").distinct().count() == 500 * REP
    )


def test_per_turn_text_equality_under_stable_ordering(spark, tmp_path):
    """North-rule invariant: per-turn text equality under stable
    (conv_id, turn_idx) ordering — write with a range repartition +
    sortWithinPartitions, read back, compare the ordered
    text sequence against the DuckDB rendering ordered the same way."""
    df = load_transcripts(spark, SF_SMALL, rep=REP)
    out = str(tmp_path / "ordered")
    (
        df.repartitionByRange(4, "conv_id", "turn_idx")
        .sortWithinPartitions("conv_id", "turn_idx")
        .write.parquet(out)
    )
    back = (
        spark.read.parquet(out)
        .orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "text")
        .collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMALL}/documents.parquet'"
    )
    cte = transcripts_duckdb_cte(SF_SMALL, rep=REP)
    oracle = con.execute(
        f"WITH {cte} SELECT conv_id, turn_idx, text FROM transcripts "
        "ORDER BY conv_id, turn_idx"
    ).fetchall()
    assert len(back) == len(oracle)
    for got, exp in zip(back, oracle):
        assert (got["conv_id"], got["turn_idx"], got["text"]) == exp
