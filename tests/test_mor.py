"""Merge-on-read mode: append-only ingest, read-side LWW reconstruction,
delta compaction, COW/MOR interop — all against the sequential oracle."""

from __future__ import annotations

import pandas as pd
import pytest
from pandas.testing import assert_frame_equal
from pyspark.sql import functions as F

from datacollector_spark.lake import LakeTable
from datacollector_spark.model import KEY_COLUMNS, PAYLOAD_COLUMNS, transcripts_schema
from datacollector_spark.operators.collapse import lww_collapse
from datacollector_spark.oracle import apply_sequential
from datacollector_spark.sources.generator import ChangelogSpec, generate_changelog


@pytest.fixture(scope="module")
def data(spark):
    spec = ChangelogSpec(n_events=15_000, n_conversations=120, seed=21)
    df = generate_changelog(spark, spec).drop("delivery_pos").cache()
    df.count()
    oracle = apply_sequential(df.toPandas(), PAYLOAD_COLUMNS)
    yield df, oracle
    df.unpersist()


def _final(table):
    return (
        table.read()
        .select(*PAYLOAD_COLUMNS)
        .orderBy(*KEY_COLUMNS)
        .toPandas()
        .reset_index(drop=True)
    )


def _batches(df, n):
    bounds = [i * (15_000 // n) for i in range(1, n)]
    lo = -1
    for hi in bounds + [10**12]:
        yield df.where((F.col("lsn") > lo) & (F.col("lsn") <= hi))
        lo = hi


def test_mor_multibatch_matches_oracle(spark, data, tmp_path):
    df, oracle = data
    table = LakeTable.create(
        spark, str(tmp_path / "t"), transcripts_schema(), KEY_COLUMNS, num_buckets=8
    )
    for i, b in enumerate(_batches(df, 4)):
        res = table.merge(lww_collapse(b), commit_key=f"b{i}", mode="mor")
        assert res.mode == "mor"
        # MOR resolves insert vs update at read time: every non-delete row
        # counts as an insert, and nothing is judged stale at write time
        assert res.rows_inserted + res.rows_deleted == res.rows_source
        assert res.rows_updated == res.rows_lww_skipped == 0
    assert table.delta_file_count() > 0
    assert_frame_equal(_final(table), oracle, check_dtype=False)


def test_merge_rejects_unknown_mode(spark, data, tmp_path):
    df, _ = data
    table = LakeTable.create(
        spark, str(tmp_path / "t"), transcripts_schema(), KEY_COLUMNS, num_buckets=8
    )
    batch = lww_collapse(next(iter(_batches(df, 4))))
    for mode in ("MOR", "merge-on-read", ""):
        with pytest.raises(ValueError, match="mode"):
            table.merge(batch, commit_key="b0", mode=mode)
    assert table.version == 0 and not table.committed("b0")


def test_mor_compaction_preserves_state(spark, data, tmp_path):
    df, oracle = data
    table = LakeTable.create(
        spark, str(tmp_path / "t"), transcripts_schema(), KEY_COLUMNS, num_buckets=8
    )
    for i, b in enumerate(_batches(df, 3)):
        table.merge(lww_collapse(b), commit_key=f"b{i}", mode="mor")
    assert table.compact_deltas() > 0
    assert table.delta_file_count() == 0
    assert_frame_equal(_final(table), oracle, check_dtype=False)
    # tombstones survive compaction as base rows (LSN guard intact):
    # replaying an old batch (stale) must not resurrect deleted keys
    first = next(iter(_batches(df, 3)))
    table.merge(lww_collapse(first), commit_key="replay", mode="mor")
    assert_frame_equal(_final(table), oracle, check_dtype=False)


def test_cow_merge_folds_pending_deltas(spark, data, tmp_path):
    """Mixed mode: MOR batches followed by a COW merge — the COW pass
    compacts the touched buckets' deltas as a side effect."""
    df, oracle = data
    table = LakeTable.create(
        spark, str(tmp_path / "t"), transcripts_schema(), KEY_COLUMNS, num_buckets=8
    )
    bs = list(_batches(df, 3))
    table.merge(lww_collapse(bs[0]), commit_key="b0", mode="mor")
    table.merge(lww_collapse(bs[1]), commit_key="b1", mode="mor")
    assert table.delta_file_count() > 0
    table.merge(lww_collapse(bs[2]), commit_key="b2", mode="cow")
    assert table.delta_file_count() == 0  # folded
    assert_frame_equal(_final(table), oracle, check_dtype=False)


def test_mor_exactly_once_commit_key(spark, data, tmp_path):
    df, oracle = data
    table = LakeTable.create(
        spark, str(tmp_path / "t"), transcripts_schema(), KEY_COLUMNS, num_buckets=8
    )
    c = lww_collapse(df)
    table.merge(c, commit_key="b0", mode="mor")
    v = table.version
    res = table.merge(c, commit_key="b0", mode="mor")
    assert res.noop and table.version == v
    assert_frame_equal(_final(table), oracle, check_dtype=False)


def test_mor_streaming_pipeline(spark, data, tmp_path):
    from datacollector_spark.sources.generator import write_segments
    from datacollector_spark.streaming import CdcIngestPipeline

    df, oracle = data
    src = str(tmp_path / "seg")
    write_segments(df.withColumn("delivery_pos", F.col("lsn")), src, 6)
    table = LakeTable.create(
        spark, str(tmp_path / "t"), transcripts_schema(), KEY_COLUMNS, num_buckets=8
    )
    pipe = CdcIngestPipeline(
        spark,
        src,
        table,
        str(tmp_path / "ckpt"),
        max_files_per_trigger=2,
        merge_mode="mor",
        mor_compact_every=2,
    )
    pipe.run_available_now(timeout_s=300)
    assert pipe.batches_applied == 3
    assert_frame_equal(_final(table.refresh()), oracle, check_dtype=False)
