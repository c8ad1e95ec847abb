"""Round-2 correctness fixes: widening readability, packed cross-batch
order, bounded manifest, LSN budget guard, oplog key extraction, committed
late-record watermark, streaming dedup window, df-capped Jaccard."""

from __future__ import annotations

import datetime
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datacollector_spark.lake import LakeTable
from datacollector_spark.model import KEY_COLUMNS, transcripts_schema


def _mini_schema(vtype: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("v", vtype, True),
        ]
    )


def _batch(spark, rows, vtype: str):
    return spark.createDataFrame(
        rows, f"op int, lsn long, conv_id string, turn_idx int, v {vtype}"
    )


@pytest.mark.parametrize(
    "narrow,wide,narrow_val,expect",
    [
        ("int", "long", 7, 7),
        ("float", "double", 1.5, 1.5),
        ("date", "timestamp_ntz", datetime.date(2025, 3, 1),
         datetime.datetime(2025, 3, 1, 0, 0)),
    ],
)
def test_widenings_keep_old_files_readable(
    spark, tmp_path, narrow, wide, narrow_val, expect
):
    """Every legal widening must keep PRE-widening data files readable
    through the widened schema (ADVICE: date->timestamp broke this, so it
    is no longer a legal widening)."""
    table = LakeTable.create(
        spark,
        str(tmp_path / f"t-{narrow}"),
        _mini_schema(_batch(spark, [], narrow).schema["v"].dataType),
        KEY_COLUMNS,
        num_buckets=2,
    )
    table.merge(_batch(spark, [(1, 1, "a", 0, narrow_val)], narrow), commit_key="b-0")
    wide_val = (
        datetime.datetime(2025, 4, 1, 0, 0)
        if wide == "timestamp_ntz"
        else (10 if wide == "long" else 2.5)
    )
    res = table.merge(
        _batch(spark, [(1, 2, "b", 0, wide_val)], wide), commit_key="b-1"
    )
    assert res.evolved_columns == ["v"]
    got = {r["conv_id"]: r["v"] for r in table.read().collect()}
    assert got["a"] == expect  # old file read through the widened schema
    assert got["b"] == wide_val


def test_date_to_ltz_timestamp_is_not_widened(spark, tmp_path):
    table = LakeTable.create(
        spark,
        str(tmp_path / "t-noltz"),
        _mini_schema(T.DateType()),
        KEY_COLUMNS,
        num_buckets=2,
    )
    table.merge(
        _batch(spark, [(1, 1, "a", 0, datetime.date(2025, 3, 1))], "date"),
        commit_key="b-0",
    )
    res = table.merge(
        _batch(
            spark, [(1, 2, "b", 0, datetime.datetime(2025, 4, 1, 12, 0))], "timestamp"
        ),
        commit_key="b-1",
    )
    assert res.evolved_columns == []  # stays DATE; value cast down instead
    assert table.schema["v"].dataType == T.DateType()
    assert table.read().count() == 2


def test_key_column_widening_rejected(spark, tmp_path):
    """xxhash64 hashes an int and a long differently: widening a key column
    would leave stored keys in other buckets than their updates hash to,
    so the update lands as a second row. The merge raises instead, before
    the schema or the table changes."""
    table = LakeTable.create(
        spark, str(tmp_path / "t"), _mini_schema(T.StringType()), KEY_COLUMNS, num_buckets=16
    )
    ddl = "op int, lsn long, conv_id string, turn_idx {}, v string"
    table.merge(
        spark.createDataFrame(
            [(1, i, f"c{i}", i, "old") for i in range(50)], ddl.format("int")
        ),
        commit_key="b-0",
    )
    with pytest.raises(ValueError, match="turn_idx"):
        table.merge(
            spark.createDataFrame([(1, 100, "c7", 7, "new")], ddl.format("long")),
            commit_key="b-1",
        )
    for t in (table, LakeTable(spark, table.path)):
        assert t.version == 1 and not t.committed("b-1")
        assert t.schema["turn_idx"].dataType == T.IntegerType()
        got = t.read()
        assert got.count() == 50
        assert got.select("conv_id", "turn_idx").distinct().count() == 50


def test_failed_merge_leaves_schema_unevolved(spark, tmp_path):
    """The evolved schema lands with the merge's commit: a merge that
    fails in its Spark jobs leaves the handle's schema as it was, and the
    next merge neither commits the failed batch's column nor misses its
    own evolution."""
    table = LakeTable.create(
        spark, str(tmp_path / "t"), _mini_schema(T.StringType()), KEY_COLUMNS, num_buckets=2
    )
    ddl = "op int, lsn long, seq_in_tx int, conv_id string, turn_idx int, v string"
    # lsn >= 2^47 makes the packed order raise inside the stats job
    bad = spark.createDataFrame([(1, 2**50, 0, "a", 0, "x", "e")], ddl + ", extra string")
    with pytest.raises(Exception, match="packing budget"):
        table.merge(bad, commit_key="b-0")
    assert table.version == 0 and "extra" not in table.schema.fieldNames()
    res = table.merge(spark.createDataFrame([(1, 1, 0, "a", 0, "x")], ddl), commit_key="b-1")
    assert res.evolved_columns == []
    for t in (table, LakeTable(spark, table.path)):
        assert t.version == 1 and "extra" not in t.schema.fieldNames()
    res = table.merge(
        spark.createDataFrame([(1, 2, 0, "a", 0, "y", "e")], ddl + ", extra string"),
        commit_key="b-2",
    )
    assert res.evolved_columns == ["extra"]
    assert table.read().first()["extra"] == "e"


def test_packed_order_across_batches(spark, tmp_path):
    """Two changes to one key sharing an lsn but differing in seq_in_tx,
    arriving in different micro-batches: (lsn, seq) order must win."""
    table = LakeTable.create(
        spark, str(tmp_path / "t"), transcripts_schema(), KEY_COLUMNS, num_buckets=2
    )

    def b(text, seq):
        return spark.createDataFrame(
            [(1, 5, seq, "c", 0, text)],
            "op int, lsn long, seq_in_tx int, conv_id string, turn_idx int, text string",
        )

    table.merge(b("first", 1), commit_key="k-0")
    table.merge(b("second", 2), commit_key="k-1")  # same lsn, later seq
    assert table.read().first()["text"] == "second"
    res = table.merge(b("stale", 0), commit_key="k-2")  # earlier seq replay
    assert res.rows_lww_skipped == 1
    assert table.read().first()["text"] == "second"
    # MOR read-side winner uses the same packed order
    table.merge(b("third", 3), commit_key="k-3", mode="mor")
    assert table.read().first()["text"] == "third"


def test_manifest_bounded_and_hw_replay(spark, tmp_path, monkeypatch):
    """Manifest stays O(buckets): the keys ring is capped, and exactly-once
    for ordered numeric keys survives ring eviction via the per-prefix
    high-water mark."""
    from datacollector_spark.lake import table as table_mod

    monkeypatch.setattr(table_mod, "_KEYS_KEEP", 3)
    table = LakeTable.create(
        spark, str(tmp_path / "t"), transcripts_schema(), KEY_COLUMNS, num_buckets=2
    )
    src = spark.createDataFrame(
        [(1, 1, "c", 0, "x")], "op int, lsn long, conv_id string, turn_idx int, text string"
    )
    for i in range(6):
        table.merge(
            src.withColumn("lsn", F.lit(i + 1).cast("long")), commit_key=f"s:microbatch-{i}"
        )
    m = table._manifest
    assert len(m["committed_keys"]) == 3  # ring capped
    assert m["committed_hw"] == {"s:microbatch": 5}
    # evicted from the ring, still committed via the high-water mark
    assert "s:microbatch-0" not in m["committed_keys"]
    assert table.committed("s:microbatch-0") and table.committed("s:microbatch-5")
    assert not table.committed("s:microbatch-6") and not table.committed("other:microbatch-0")
    res = table.merge(src, commit_key="s:microbatch-2")  # ancient replay -> no-op
    assert res.noop
    # manifest file size is bounded (does not grow with merge count)
    size_now = os.path.getsize(
        table._manifest_path(table.path, table.version)
    )
    for i in range(6, 10):
        table.merge(
            src.withColumn("lsn", F.lit(i + 1).cast("long")), commit_key=f"s:microbatch-{i}"
        )
    size_later = os.path.getsize(table._manifest_path(table.path, table.version))
    assert abs(size_later - size_now) < 200


def test_mysql_lsn_budget_guard(spark):
    from datacollector_spark.sources.changelog_formats import decode_mysql_binlog

    def ev(fname, pos):
        return json.dumps(
            {
                "Type": "INSERT",
                "BinLogFilename": fname,
                "BinLogPosition": pos,
                "SeqNo": 1,
                "Data": {"conv_id": "c"},
            }
        )

    ok = spark.createDataFrame([(ev("mysql-bin.032767", 42),)], "raw string")
    assert decode_mysql_binlog(ok, "raw").first()["lsn"] == (32767 << 32) + 42
    bad = spark.createDataFrame([(ev("mysql-bin.032768", 42),)], "raw string")
    with pytest.raises(Exception, match="LSN budget"):
        decode_mysql_binlog(bad, "raw").collect()


def test_mongo_update_key_from_o2(spark):
    from datacollector_spark.model import OP_UPDATE
    from datacollector_spark.sources.changelog_formats import decode_mongo_oplog

    ev = {
        "op": "u",
        "ts": (1735732800 << 32) + 1,
        "ns": "chat.transcripts",
        "o": {"text": "new text", "conv_id": "WRONG"},
        "o2": {"conv_id": "c1", "turn_idx": "4"},
    }
    df = spark.createDataFrame([(json.dumps(ev),)], "raw string")
    row = decode_mongo_oplog(df, "raw").first()
    assert row["op"] == OP_UPDATE
    assert row["data"]["conv_id"] == "c1"  # key from o2 wins
    assert row["data"]["turn_idx"] == "4"
    assert row["data"]["text"] == "new text"  # modification from o kept


def test_watermark_persists_across_restart(spark, tmp_path):
    """The late-record high-water mark is committed in the table manifest
    with the batch: after a restart, a fresh pipeline on a fresh table
    handle restores it and splits a row older than its threshold to
    late_dir."""
    from datacollector_spark.streaming import CdcIngestPipeline

    path = str(tmp_path / "t")
    late_dir = str(tmp_path / "late")
    LakeTable.create(spark, path, transcripts_schema(), KEY_COLUMNS, num_buckets=2)
    ddl = (
        "op int, lsn long, seq_in_tx int, commit_ts timestamp, conv_id string, "
        "turn_idx int, text string"
    )
    t0 = datetime.datetime(2025, 5, 1, 10, 30, 0)

    def restart():
        return CdcIngestPipeline(
            spark,
            str(tmp_path / "seg"),
            LakeTable(spark, path),
            str(tmp_path / "ckpt"),
            late_limit_s=60.0,
            late_dir=late_dir,
        )

    batch0 = spark.createDataFrame([(1, 1, 0, t0, "c1", 0, "on-time")], ddl)
    restart().apply_batch(batch0, 0)
    p2 = restart()
    t0_us = batch0.select(F.unix_micros("commit_ts")).first()[0]
    assert p2.table.max_commit_ts(f"{p2.stream_id}:microbatch-1") == t0_us
    too_old = t0 - datetime.timedelta(seconds=61)
    p2.apply_batch(
        spark.createDataFrame(
            [(1, 2, 0, too_old, "c1", 1, "late"), (1, 3, 0, t0, "c1", 2, "on-time")], ddl
        ),
        1,
    )
    assert sorted(r["text"] for r in p2.table.read().collect()) == ["on-time"] * 2
    assert [r["text"] for r in spark.read.parquet(late_dir).collect()] == ["late"]


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Cross-batch duplicate (same lsn, seq) inside the watermark is dropped
    by dropDuplicatesWithinWatermark before it reaches collapse/merge."""
    from datacollector_spark.model import changelog_schema
    from datacollector_spark.streaming import CdcIngestPipeline

    seg = str(tmp_path / "seg")
    ts = datetime.datetime(2025, 1, 1, 12, 0, 0)

    def row(lsn, text):
        return (
            1, lsn, 0, "transcripts", 1, ts,
            "c1", int(lsn), "user", text, None, ts,
            None, None, None, None,
        )

    sch = changelog_schema()
    # file 1: rows 1,2 — file 2: duplicate of row 1 + new row 3
    spark.createDataFrame([row(1, "a"), row(2, "b")], sch).coalesce(1).write.mode(
        "append"
    ).parquet(seg)
    spark.createDataFrame([row(1, "a"), row(3, "c")], sch).coalesce(1).write.mode(
        "append"
    ).parquet(seg)

    table = LakeTable.create(
        spark, str(tmp_path / "t"), transcripts_schema(), KEY_COLUMNS, num_buckets=2
    )
    lineage = str(tmp_path / "lineage")
    pipe = CdcIngestPipeline(
        spark,
        seg,
        table,
        str(tmp_path / "ckpt"),
        lineage_dir=lineage,
        max_files_per_trigger=1,
        dedup_within="1 hour",
    )
    pipe.run_available_now(timeout_s=300)
    lin = spark.read.parquet(lineage)
    total_source = sum(int(r["rows_source"] or 0) for r in lin.collect())
    assert total_source == 3  # duplicate delivery never re-entered the DAG
    assert table.read().count() == 3


def test_ngram_jaccard_df_cap(spark):
    from datacollector_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta"),
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma zzz"),
        ],
        "doc_id long, text string",
    )
    uncapped = ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.3).toPandas()
    pairs_un = {tuple(sorted((a, b))) for a, b in zip(uncapped.id_a, uncapped.id_b)}
    assert (0, 2) in pairs_un  # shares the stop-shingle "alpha beta gamma"

    capped = ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.3, max_shingle_df=2
    ).toPandas()
    pairs_c = {tuple(sorted((a, b))) for a, b in zip(capped.id_a, capped.id_b)}
    assert (0, 2) not in pairs_c  # df=3 stop-shingle dropped
    assert (0, 1) in pairs_c  # true near-dup survives on its unique shingles
