"""Structured-Streaming pipeline tests: bounded drain, kill/restart
exactly-once, and mid-stream schema evolution (FIXTURES.md F5)."""

from __future__ import annotations

import json
import logging
import os

import pandas as pd
import pytest
from pandas.testing import assert_frame_equal
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datacollector_spark.lake import LakeTable
from datacollector_spark.model import (
    KEY_COLUMNS,
    PAYLOAD_COLUMNS,
    changelog_schema,
    transcripts_schema,
)
from datacollector_spark.oracle import apply_sequential
from datacollector_spark.sources.generator import (
    ChangelogSpec,
    generate_changelog,
    write_segments,
)
from datacollector_spark.streaming import CdcIngestPipeline
from datacollector_spark.streaming.pipeline import LINEAGE_SCHEMA


def _final(table: LakeTable, cols=None) -> pd.DataFrame:
    cols = cols or PAYLOAD_COLUMNS
    return (
        table.read().select(*cols).orderBy(*KEY_COLUMNS).toPandas().reset_index(drop=True)
    )


@pytest.fixture(scope="module")
def seg_data(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    spec = ChangelogSpec(n_events=12_000, n_conversations=120, seed=7)
    df = generate_changelog(spark, spec)
    src = str(root / "segments")
    write_segments(df, src, n_segments=12)
    oracle = apply_sequential(df.drop("delivery_pos").toPandas(), PAYLOAD_COLUMNS)
    return src, oracle, root


def test_available_now_drain_matches_oracle(spark, seg_data, tmp_path):
    src, oracle, _ = seg_data
    table = LakeTable.create(
        spark, str(tmp_path / "t"), transcripts_schema(), KEY_COLUMNS, num_buckets=8
    )
    pipe = CdcIngestPipeline(
        spark,
        src,
        table,
        str(tmp_path / "ckpt"),
        max_files_per_trigger=3,
        lineage_dir=str(tmp_path / "lineage"),
    )
    pipe.run_available_now(timeout_s=300)
    assert pipe.batches_applied >= 3  # really micro-batched, not one gulp
    assert_frame_equal(_final(table.refresh()), oracle, check_dtype=False)
    # the per-batch record: one lineage row per micro-batch, carrying the
    # bucket stats and the source files it applied
    lin = spark.read.parquet(str(tmp_path / "lineage"))
    assert lin.schema == LINEAGE_SCHEMA
    rows = [r.asDict(recursive=True) for r in lin.collect()]
    assert len(rows) == pipe.batches_applied
    for r in rows:
        assert list(r) == LINEAGE_SCHEMA.names
        assert sum(b["rows_source"] for b in r["bucket_stats"]) == r["rows_source"] > 0
    applied = [os.path.basename(f) for r in rows if not r["noop"] for f in r["files"]]
    assert sorted(applied) == sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
    # max_commit_ts: the batch's latest commit_ts, in epoch microseconds
    for r in rows:
        if not r["noop"]:
            batch = spark.read.parquet(*r["files"])
            assert r["max_commit_ts"] == batch.select(F.unix_micros(F.max("commit_ts"))).first()[0]


def test_available_now_timeout_stops_the_query(spark, seg_data, tmp_path):
    """A drain still running at ``timeout_s`` raises, and its query is
    stopped rather than left running behind the returned call."""
    src, _, _ = seg_data
    table = LakeTable.create(
        spark, str(tmp_path / "t"), transcripts_schema(), KEY_COLUMNS, num_buckets=4
    )
    pipe = CdcIngestPipeline(
        spark, src, table, str(tmp_path / "ckpt"), max_files_per_trigger=3
    )
    before = {q.id for q in spark.streams.active}  # other tests' queries
    with pytest.raises(TimeoutError):
        pipe.run_available_now(timeout_s=0.001)
    assert {q.id for q in spark.streams.active} <= before


def test_batch_record_logged_as_json(spark, tmp_path, caplog):
    """Each micro-batch, a replay included, logs its record as one JSON
    line at INFO — the same fields the lineage table stores."""
    table = LakeTable.create(
        spark, str(tmp_path / "t"), transcripts_schema(), KEY_COLUMNS, num_buckets=4
    )
    lineage = str(tmp_path / "lineage")
    pipe = CdcIngestPipeline(
        spark, str(tmp_path / "src"), table, str(tmp_path / "ckpt"), lineage_dir=lineage
    )
    ddl = "op int, lsn long, seq_in_tx int, conv_id string, turn_idx int, text string"
    batch = spark.createDataFrame([(0, i, 0, f"c{i}", 0, "x") for i in range(5)], ddl)
    caplog.set_level(logging.INFO, logger="datacollector_spark.streaming.pipeline")
    pipe.apply_batch(batch, 0)
    pipe.apply_batch(batch, 0)  # replay: a noop row
    logged = [
        json.loads(r.getMessage())
        for r in caplog.records
        if r.name == "datacollector_spark.streaming.pipeline"
    ]
    assert [list(d) for d in logged] == [LINEAGE_SCHEMA.names] * 2
    assert [d["noop"] for d in logged] == [False, True]
    assert logged[0]["rows_inserted"] == 5 and logged[0]["version"] == 1
    stored = [r.asDict(recursive=True) for r in spark.read.parquet(lineage).collect()]
    assert sorted(stored, key=lambda d: d["noop"]) == logged


class _Boom(Exception):
    pass


def test_kill_restart_exactly_once(spark, seg_data, tmp_path):
    """Crash AFTER the table commit but BEFORE the streaming checkpoint
    advances — the window where at-least-once engines double-apply. On
    restart Spark replays the same batch_id; the commit key makes it a
    no-op and the final state still equals the oracle."""
    src, oracle, _ = seg_data
    table = LakeTable.create(
        spark, str(tmp_path / "t"), transcripts_schema(), KEY_COLUMNS, num_buckets=8
    )
    ckpt = str(tmp_path / "ckpt")

    lineage = str(tmp_path / "lineage")
    crashed = []

    def bomb(pipe, batch_id):
        if pipe.batches_applied == 2:
            crashed.append(batch_id)
            raise _Boom("injected crash after commit, before checkpoint")

    pipe = CdcIngestPipeline(
        spark, src, table, ckpt, max_files_per_trigger=3, lineage_dir=lineage
    )
    pipe.on_batch_applied = bomb
    with pytest.raises(Exception):
        pipe.run_available_now(timeout_s=300)
    assert table.refresh().version >= 2

    pipe2 = CdcIngestPipeline(
        spark, src, table, ckpt, max_files_per_trigger=3, lineage_dir=lineage
    )
    pipe2.run_available_now(timeout_s=300)
    # the crashed batch replayed once, as a noop: its commit key had landed
    rows = spark.read.parquet(lineage).collect()
    assert [r["batch_id"] for r in rows if r["noop"]] == crashed
    applied = [r["commit_key"] for r in rows if not r["noop"]]
    assert len(applied) == len(set(applied)) >= 3
    assert all(table.refresh().committed(k) for k in applied)
    assert_frame_equal(_final(table), oracle, check_dtype=False)


def test_schema_evolution_midstream(spark, tmp_path):
    """Phase 1 streams the base schema; phase 2 restarts with an evolved
    source schema (new tool_variant column). The sink ALTER-ADDs the column;
    pre-evolution rows read back NULL (FIXTURES.md F5)."""
    spec = ChangelogSpec(n_events=4_000, n_conversations=60, seed=11)
    df = generate_changelog(spark, spec)
    evolved_full = df.withColumn(
        "tool_variant",
        F.when(F.col("lsn") >= 2_000, F.concat(F.lit("variant-"), F.col("tool"))),
    )
    src1 = str(tmp_path / "seg1")
    src2 = str(tmp_path / "seg2")
    write_segments(
        evolved_full.where(F.col("lsn") < 2_000), src1, 4, drop_columns=["tool_variant"]
    )
    write_segments(evolved_full.where(F.col("lsn") >= 2_000), src2, 4)

    table = LakeTable.create(
        spark, str(tmp_path / "t"), transcripts_schema(), KEY_COLUMNS, num_buckets=8
    )
    # phase 1: base schema over a union glob dir layout — stream src1 only
    pipe1 = CdcIngestPipeline(spark, src1, table, str(tmp_path / "c1"))
    pipe1.run_available_now(timeout_s=300)
    assert "tool_variant" not in table.schema.fieldNames()

    evolved_schema = changelog_schema(
        [T.StructField("tool_variant", T.StringType(), True)]
    )
    pipe2 = CdcIngestPipeline(
        spark, src2, table.refresh(), str(tmp_path / "c2"), source_schema=evolved_schema
    )
    pipe2.run_available_now(timeout_s=300)
    table.refresh()
    assert "tool_variant" in table.schema.fieldNames()

    cols = PAYLOAD_COLUMNS + ["tool_variant"]
    got = _final(table, cols)
    pdf = evolved_full.drop("delivery_pos").toPandas()
    expect = apply_sequential(pdf, cols)
    assert_frame_equal(got, expect, check_dtype=False)
    # rows whose last write predates the DDL must read back NULL
    last_write = (
        pdf.drop_duplicates(["lsn", "seq_in_tx"]).sort_values(["lsn", "seq_in_tx"])
        .groupby(KEY_COLUMNS).tail(1)
    )
    pre_ddl_live = last_write[(last_write["op"] != 2) & (last_write["lsn"] < 2_000)]
    if len(pre_ddl_live):
        assert got["tool_variant"].isna().sum() >= len(pre_ddl_live)


def test_transforms_in_pipeline(spark, tmp_path):
    """Masking + normalization run inside the micro-batch, vectorized."""
    from datacollector_spark.operators.transforms import transcript_transforms

    rows = [
        (1, 1, 0, "c1", 0, "Human", "mail me at bob@example.com", "", None),
        (1, 2, 0, "c1", 1, "AI", "card 12345678901 ok", "SearchTool ", None),
    ]
    import datetime as dt

    data = [r[:9] + (dt.datetime(2025, 1, 1),) for r in [x + (None,) for x in rows]]
    df = spark.createDataFrame(
        [(r[0], r[1], r[2], r[3], r[4], r[5], r[6], r[7] or None, dt.datetime(2025, 1, 1)) for r in rows],
        "op int, lsn long, seq_in_tx int, conv_id string, turn_idx int, "
        "role string, text string, tool string, ts timestamp",
    )
    src = str(tmp_path / "seg")
    df.withColumn("delivery_pos", F.col("lsn")).repartition(1).write.parquet(src)

    schema = df.schema.add("delivery_pos", T.LongType())
    table = LakeTable.create(
        spark, str(tmp_path / "t"), transcripts_schema(), KEY_COLUMNS, num_buckets=4
    )
    pipe = CdcIngestPipeline(
        spark,
        src,
        table,
        str(tmp_path / "c"),
        source_schema=schema,
        transforms=transcript_transforms,
    )
    pipe.run_available_now(timeout_s=300)
    got = _final(table.refresh())
    assert got["role"].tolist() == ["user", "assistant"]
    assert got["text"].tolist() == ["mail me at <email>", "card <num> ok"]
    assert got["tool"].tolist()[0] is None or pd.isna(got["tool"].tolist()[0])
    assert got["tool"].tolist()[1] == "searchtool"


def test_continuous_trigger_tails_new_segments(spark, tmp_path):
    """Production mode: processing-time trigger tails the directory; a
    segment written AFTER the stream starts is applied without restart."""
    import time

    from datacollector_spark.sources.generator import ChangelogSpec, generate_changelog

    df = generate_changelog(spark, ChangelogSpec(n_events=2000, n_conversations=30, seed=3))
    base = df.drop("delivery_pos")
    src = str(tmp_path / "seg")
    base.where("lsn < 1000").coalesce(1).write.mode("append").parquet(src)
    table = LakeTable.create(
        spark, str(tmp_path / "t"), transcripts_schema(), KEY_COLUMNS, num_buckets=4
    )
    pipe = CdcIngestPipeline(
        spark, src, table, str(tmp_path / "ckpt"),
        source_schema=base.schema, max_files_per_trigger=4,
    )
    q = pipe.run_continuous("1 seconds")
    try:
        deadline = time.time() + 90
        while pipe.batches_applied < 1 and time.time() < deadline:
            time.sleep(1)
        assert pipe.batches_applied >= 1
        n1 = table.refresh().read().count()
        base.where("lsn >= 1000").coalesce(1).write.mode("append").parquet(src)
        deadline = time.time() + 90
        while time.time() < deadline:
            if table.refresh().read().count() > n1:
                break
            time.sleep(1)
        assert table.refresh().read().count() > n1
    finally:
        q.stop()


def test_kill_restart_exactly_once_mor(spark, seg_data, tmp_path):
    """Same crash window as test_kill_restart_exactly_once but in
    merge-on-read mode: a replayed delta APPEND would double rows if the
    commit key failed, and the read-side LWW must still resolve the final
    state; compaction afterwards must not change it."""
    src, oracle, _ = seg_data
    table = LakeTable.create(
        spark, str(tmp_path / "t"), transcripts_schema(), KEY_COLUMNS, num_buckets=8
    )
    ckpt = str(tmp_path / "ckpt")

    def bomb(pipe, batch_id):
        if pipe.batches_applied == 2:
            raise _Boom("injected crash after commit, before checkpoint")

    pipe = CdcIngestPipeline(
        spark, src, table, ckpt, max_files_per_trigger=3, merge_mode="mor"
    )
    pipe.on_batch_applied = bomb
    with pytest.raises(Exception):
        pipe.run_available_now(timeout_s=300)

    pipe2 = CdcIngestPipeline(
        spark, src, table.refresh(), ckpt, max_files_per_trigger=3, merge_mode="mor"
    )
    pipe2.run_available_now(timeout_s=300)
    assert_frame_equal(_final(table.refresh()), oracle, check_dtype=False)
    table.compact_deltas()
    assert table.delta_file_count() == 0
    assert_frame_equal(_final(table), oracle, check_dtype=False)


def test_mor_compaction_cadence_survives_restart(spark, seg_data, tmp_path):
    """MOR compaction is triggered by the delta files the table holds, not
    by a per-process batch counter: a stream that crashes after batch 0
    commits and restarts still compacts every bucket that reaches
    mor_compact_every delta files, after every batch it applies."""
    src, oracle, _ = seg_data
    table = LakeTable.create(
        spark, str(tmp_path / "t"), transcripts_schema(), KEY_COLUMNS, num_buckets=8
    )
    ckpt = str(tmp_path / "ckpt")
    most_deltas = []

    def watch(pipe, batch_id):
        most_deltas.append(max(pipe.table.delta_file_count([b]) for b in range(8)))
        if len(most_deltas) == 1:
            raise _Boom("injected crash after batch 0 commits")

    def mk():
        pipe = CdcIngestPipeline(
            spark,
            src,
            LakeTable(spark, table.path),
            ckpt,
            max_files_per_trigger=3,
            merge_mode="mor",
            mor_compact_every=2,
        )
        pipe.on_batch_applied = watch
        return pipe

    with pytest.raises(Exception):
        mk().run_available_now(timeout_s=300)
    pipe = mk()
    pipe.run_available_now(timeout_s=300)
    assert pipe.batches_applied == 3  # batch 0 replayed as a no-op
    # one entry per applied batch, crashed batch 0 included
    assert len(most_deltas) == 4 and max(most_deltas) < 2, most_deltas
    assert_frame_equal(_final(table.refresh()), oracle, check_dtype=False)


def test_apply_batch_job_count_and_one_file_per_bucket(spark, seg_data, tmp_path):
    """A micro-batch is bucket-partitioned once, before its collapse, and
    the collapse, cache, stats, fold and write all reuse that exchange.
    Pinned through the status tracker: at most 4 Spark jobs onto an empty
    table and 5 with a target (one exchange more per batch costs a job),
    with the lineage record on: its observer and row add no job.
    With 16 buckets over 4 shuffle partitions every bucket still lands
    whole in one task, so each committed version holds one file per
    bucket; the table matches the oracle."""
    src, oracle, _ = seg_data
    segs = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
    halves = [segs[: len(segs) // 2], segs[len(segs) // 2 :]]
    table = LakeTable.create(
        spark, str(tmp_path / "t"), transcripts_schema(), KEY_COLUMNS, num_buckets=16
    )
    pipe = CdcIngestPipeline(
        spark, src, table, str(tmp_path / "ckpt"), lineage_dir=str(tmp_path / "lineage")
    )
    sc = spark.sparkContext
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    jobs = []
    try:
        for batch_id, files in enumerate(halves):
            batch = spark.read.schema(changelog_schema()).parquet(
                *[os.path.join(src, f) for f in files]
            )
            group = f"apply-batch-{tmp_path.name}-{batch_id}"
            sc.setJobGroup(group, group)
            try:
                pipe.apply_batch(batch, batch_id)
            finally:
                sc.setJobGroup("", "")
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert jobs[0] <= 4 and jobs[1] <= 5, jobs
    assert spark.read.parquet(str(tmp_path / "lineage")).count() == 2
    for version in (1, 2):
        files = table._load_manifest(version)["files"]
        assert len(files) == 16
        assert all(len(rels) == 1 for rels in files.values()), (version, files)
    assert_frame_equal(_final(table), oracle, check_dtype=False)


def test_apply_batch_buckets_keys_as_the_table_types_them(spark, tmp_path):
    """The pipeline buckets a batch before merge() casts it to the table's
    types: a key the batch carries as int in a table that stores it as long
    must still hash to the bucket its stored row lives in, or an update
    lands as a second row for the key."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    table = LakeTable.create(spark, str(tmp_path / "t"), schema, KEY_COLUMNS, num_buckets=16)
    pipe = CdcIngestPipeline(spark, str(tmp_path / "src"), table, str(tmp_path / "ckpt"))
    ddl = "op int, lsn long, seq_in_tx int, conv_id string, turn_idx int, text string"
    pipe.apply_batch(
        spark.createDataFrame([(0, i, 0, f"c{i}", i, "old") for i in range(50)], ddl), 0
    )
    pipe.apply_batch(spark.createDataFrame([(1, 100, 0, "c7", 7, "new")], ddl), 1)
    got = table.read().orderBy("conv_id").toPandas()
    assert len(got) == 50
    assert got.set_index("conv_id").loc["c7", "text"] == "new"
