"""Snapshot expiration: old version files are deleted, current state and the
exactly-once replay window survive."""

from __future__ import annotations

import os

import pytest
from pandas.testing import assert_frame_equal
from pyspark.sql import functions as F

from datacollector_spark.lake import LakeTable
from datacollector_spark.model import KEY_COLUMNS, transcripts_schema
from datacollector_spark.operators.collapse import lww_collapse
from datacollector_spark.sources.generator import ChangelogSpec, generate_changelog


def _parquet_count(root):
    n = 0
    for dirpath, _d, files in os.walk(os.path.join(root, "data")):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def test_expire_snapshots_keeps_state(spark, tmp_path):
    df = generate_changelog(
        spark, ChangelogSpec(n_events=3000, n_conversations=50, seed=5)
    ).drop("delivery_pos")
    table = LakeTable.create(
        spark, str(tmp_path / "t"), transcripts_schema(), KEY_COLUMNS, num_buckets=4
    )
    for i, (lo, hi) in enumerate([(0, 1000), (1000, 2000), (2000, 3000)]):
        batch = df.where((F.col("lsn") >= lo) & (F.col("lsn") < hi))
        table.merge(lww_collapse(batch), commit_key=f"b{i}")
    files_before = _parquet_count(str(tmp_path / "t"))
    before = table.read().orderBy(*KEY_COLUMNS).toPandas()

    deleted = table.expire_snapshots(keep_last=1)
    assert deleted > 0
    assert _parquet_count(str(tmp_path / "t")) < files_before
    after = table.read().orderBy(*KEY_COLUMNS).toPandas()
    assert_frame_equal(before, after, check_dtype=False)
    # commit keys survive expiration (exactly-once across restarts intact)
    assert table.committed("b1")
    # current snapshot still loadable from a fresh handle
    fresh = LakeTable(spark, str(tmp_path / "t"))
    assert fresh.version == table.version


def test_expire_snapshots_rejects_keep_last_below_one(spark, tmp_path):
    """keep_last=0 would keep no snapshot at all and delete the files the
    current version still points at; it must raise and touch nothing."""
    df = generate_changelog(
        spark, ChangelogSpec(n_events=600, n_conversations=20, seed=6)
    ).drop("delivery_pos")
    table = LakeTable.create(
        spark, str(tmp_path / "t"), transcripts_schema(), KEY_COLUMNS, num_buckets=4
    )
    table.merge(lww_collapse(df), commit_key="b0")
    files_before = _parquet_count(str(tmp_path / "t"))
    before = table.read().orderBy(*KEY_COLUMNS).toPandas()

    for keep_last in (0, -1):
        with pytest.raises(ValueError, match="keep_last"):
            table.expire_snapshots(keep_last=keep_last)
    assert _parquet_count(str(tmp_path / "t")) == files_before
    fresh = LakeTable(spark, str(tmp_path / "t"))
    assert_frame_equal(
        before, fresh.read().orderBy(*KEY_COLUMNS).toPandas(), check_dtype=False
    )
