"""Round-2 surface additions: file-tail rolling patterns, per-batch source
files, recursive flattener, planted-duplicate embedding dedup."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from datacollector_spark.lake import LakeTable
from datacollector_spark.model import KEY_COLUMNS, transcripts_schema


def test_file_tail_rolling_pattern(spark, tmp_path):
    """Only files matching the rolled pattern enter the stream; the live
    (still-appended) file is excluded until it rotates."""
    from datacollector_spark.sources.spooldir import file_tail_stream

    logdir = tmp_path / "logs"
    logdir.mkdir()
    (logdir / "app.log").write_text("live-line\n")  # live file: excluded
    (logdir / "app.log.1").write_text("rolled-a\nrolled-b\n")
    (logdir / "app.log.2").write_text("rolled-c\n")

    stream = file_tail_stream(
        spark,
        str(logdir),
        T.StructType([T.StructField("value", T.StringType())]),
        rolled_pattern="app.log.*",
    )
    out = str(tmp_path / "out")
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    lines = {r["value"] for r in got.collect()}
    assert lines == {"rolled-a", "rolled-b", "rolled-c"}
    files = {os.path.basename(r["_source_file"]) for r in got.collect()}
    assert files == {"app.log.1", "app.log.2"}


def test_file_lifecycle_events(spark, tmp_path):
    """The lineage row of each applied batch names the one source file it
    applied (EventCreator's new-file/finished-file events, folded into the
    per-batch record)."""
    from datacollector_spark.model import changelog_schema
    from datacollector_spark.streaming import CdcIngestPipeline
    import datetime

    ts = datetime.datetime(2025, 1, 1, 12, 0, 0)
    seg = str(tmp_path / "seg")

    def row(lsn):
        return (
            1, lsn, 0, "t", 1, ts, "c1", int(lsn), "user", "x", None, ts,
            None, None, None, None,
        )

    sch = changelog_schema()
    spark.createDataFrame([row(1)], sch).coalesce(1).write.mode("append").parquet(seg)
    spark.createDataFrame([row(2)], sch).coalesce(1).write.mode("append").parquet(seg)

    table = LakeTable.create(
        spark, str(tmp_path / "t"), transcripts_schema(), KEY_COLUMNS, num_buckets=2
    )
    lineage = str(tmp_path / "lineage")
    pipe = CdcIngestPipeline(
        spark,
        seg,
        table,
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
        lineage_dir=lineage,
    )
    pipe.run_available_now(timeout_s=300)
    rows = spark.read.parquet(lineage).orderBy("batch_id").collect()
    assert [r["batch_id"] for r in rows] == [0, 1]
    assert all(len(r["files"]) == 1 for r in rows)
    segs = {f for f in os.listdir(seg) if f.endswith(".parquet")}
    assert {os.path.basename(r["files"][0]) for r in rows} == segs


def test_field_flattener_recursive(spark):
    from datacollector_spark.operators.processors import field_flattener

    df = spark.createDataFrame(
        [(1, (("x", 2), "y"))],
        "id int, r struct<a: struct<b: string, c: int>, d: string>",
    )
    flat = field_flattener(df, "r", recursive=True)
    assert set(flat.columns) == {"id", "r_a_b", "r_a_c", "r_d"}
    row = flat.first()
    assert row["r_a_b"] == "x" and row["r_a_c"] == 2 and row["r_d"] == "y"
    # one-level mode unchanged
    one = field_flattener(df, "r")
    assert set(one.columns) == {"id", "r_a", "r_d"}


def test_embedding_near_dup_finds_planted_pairs(spark):
    from datacollector_spark.operators.similarity import embedding_near_dup_pairs

    import numpy as np

    rng = np.random.RandomState(7)
    base = [(i, rng.randn(8).astype("float32").tolist()) for i in range(20)]
    planted = [(i + 1000, [x * 2.0 for x in v]) for i, v in base[:5]]
    df = spark.createDataFrame(base + planted, "vec_id long, embedding array<float>")
    pairs = embedding_near_dup_pairs(df, dim=8, threshold=0.95, planes=4).toPandas()
    got = {tuple(sorted((a, b))) for a, b in zip(pairs.id_a, pairs.id_b)}
    assert {(i, i + 1000) for i in range(5)} <= got


def test_http_client_processor_with_injected_transport(spark):
    from datacollector_spark.operators.processors import http_client_processor

    df = spark.createDataFrame(
        [(1, "http://svc/a"), (2, "http://svc/b")], "id int, url string"
    )

    def fake_transport(urls):
        return [f"body-of:{u}" for u in urls]

    out = http_client_processor(df, "url", transport=fake_transport).orderBy("id")
    got = out.collect()
    assert got[0]["http_response"] == "body-of:http://svc/a"
    assert got[1]["http_response"] == "body-of:http://svc/b"

    import pytest as _pytest

    bare = http_client_processor(df, "url")
    with _pytest.raises(Exception, match="transport"):
        bare.collect()


def test_http_client_transport_batching(spark):
    from datacollector_spark.operators.processors import http_client_processor

    df = spark.createDataFrame(
        [(i, f"u{i}") for i in range(10)], "id int, url string"
    ).coalesce(1)

    def counting_transport(urls):
        assert len(urls) <= 3  # in-flight bound honored
        return ["ok"] * len(urls)

    out = http_client_processor(df, "url", transport=counting_transport, batch_size=3)
    assert out.count() == 10


def test_jdbc_tee_wiring(spark):
    from datacollector_spark.operators.processors import jdbc_tee

    df = spark.createDataFrame([(1, "a")], "id int, v string")
    passthrough, writer = jdbc_tee(
        df, "jdbc:postgresql://db/x", "enriched", properties={"user": "svc"}
    )
    assert passthrough is df  # tee passes the lane through unchanged
    assert writer is not None  # configured writer; .save() needs a driver


def test_merge_phase_timings_in_lineage(spark, tmp_path):
    src = spark.createDataFrame(
        [(1, 1, "c", 0, "x")], "op int, lsn long, conv_id string, turn_idx int, text string"
    )
    table = LakeTable.create(
        spark, str(tmp_path / "t"), transcripts_schema(), KEY_COLUMNS, num_buckets=2
    )
    res = table.merge(src, commit_key="k-0")
    assert {"stats_job", "write_job", "manifest"} <= set(res.phase_timings)
    assert all(v >= 0 for v in res.phase_timings.values())


def test_multitable_cdc_routes_and_merges(spark, tmp_path):
    """One changelog stream carrying two tables -> two LakeTables, each
    with its own keys; per-table exactly-once on re-run."""
    import datetime

    from pyspark.sql import types as T

    from datacollector_spark.streaming import MultiTableCdcPipeline

    sch = T.StructType(
        [
            T.StructField("op", T.IntegerType(), False),
            T.StructField("lsn", T.LongType(), False),
            T.StructField("seq_in_tx", T.IntegerType(), False),
            T.StructField("src_table", T.StringType(), False),
            T.StructField("conv_id", T.StringType(), True),
            T.StructField("turn_idx", T.IntegerType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("metric_id", T.LongType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    rows = [
        (1, 1, 0, "transcripts", "c1", 0, "hello", None, None),
        (3, 2, 0, "transcripts", "c1", 0, "hello v2", None, None),
        (1, 3, 0, "metrics", None, None, None, 7, 1.5),
        (2, 4, 0, "metrics", None, None, None, 7, None),  # delete
        (1, 5, 0, "metrics", None, None, None, 8, 2.5),
    ]
    seg = str(tmp_path / "seg")
    spark.createDataFrame(rows, sch).coalesce(1).write.parquet(seg)

    t_schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("text", T.StringType(), True),
        ]
    )
    m_schema = T.StructType(
        [
            T.StructField("metric_id", T.LongType(), False),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    t_tab = LakeTable.create(
        spark, str(tmp_path / "t"), t_schema, ["conv_id", "turn_idx"], num_buckets=2
    )
    m_tab = LakeTable.create(
        spark, str(tmp_path / "m"), m_schema, ["metric_id"], num_buckets=2
    )

    # projections drop the other table's columns; the router's
    # _source_file column passes through
    def proj_t(df):
        return df.drop("src_table", "metric_id", "value")

    def proj_m(df):
        return df.drop("src_table", "conv_id", "turn_idx", "text")

    lineage = str(tmp_path / "lineage")

    def mk():
        return MultiTableCdcPipeline(
            spark,
            seg,
            {
                "transcripts": {"table": t_tab, "project": proj_t, "lineage_dir": lineage},
                "metrics": {"table": m_tab, "project": proj_m},
            },
            str(tmp_path / "ckpt"),
            sch,
        )

    mk().run_available_now(timeout_s=300)
    assert [r["text"] for r in t_tab.read().collect()] == ["hello v2"]
    m_rows = {r["metric_id"]: r["value"] for r in m_tab.read().collect()}
    assert m_rows == {8: 2.5}  # metric 7 deleted
    # commit keys keep the <stream>:<table>:microbatch-<N> shape, so replay
    # high-water marks recorded by existing tables keep matching
    import hashlib
    import re

    sid = hashlib.sha1(str(tmp_path / "ckpt").encode()).hexdigest()[:12]
    for name, tab in (("transcripts", t_tab), ("metrics", m_tab)):
        keys = tab._manifest["committed_keys"]
        assert keys, name
        for k in keys:
            assert re.fullmatch(rf"{sid}:{name}:microbatch-\d+", k), k
    # replay: a fresh run over the same checkpoint is a per-table no-op
    v_t, v_m = t_tab.version, m_tab.version
    mk().run_available_now(timeout_s=300)
    assert (t_tab.version, m_tab.version) == (v_t, v_m)
    # the table's lineage rows carry its own commit keys
    rows = spark.read.parquet(lineage).collect()
    assert [r["rows_source"] for r in rows] == [1]
    assert all(f"{sid}:transcripts:microbatch-" in r["commit_key"] for r in rows)
    # ... and name the segment file the batch was read from
    (seg_file,) = [f for f in os.listdir(seg) if f.endswith(".parquet")]
    assert [[os.path.basename(f) for f in r["files"]] for r in rows] == [[seg_file]]
