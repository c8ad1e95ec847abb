"""End-to-end CDC correctness: distributed collapse+merge == sequential oracle.

The replay-equality gate from BASELINE.md: apply a seeded changelog with
duplicates, out-of-order delivery, deletes and re-inserts; assert the final
table equals applying the same events one-at-a-time in LSN order (pandas).
Per-turn text equality under stable (conv_id, turn_idx) ordering.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from pandas.testing import assert_frame_equal

from datacollector_spark.lake import LakeTable
from datacollector_spark.model import (
    KEY_COLUMNS,
    PAYLOAD_COLUMNS,
    transcripts_schema,
)
from datacollector_spark.operators.collapse import lww_collapse
from datacollector_spark.oracle import apply_sequential
from datacollector_spark.sources.generator import ChangelogSpec, generate_changelog


def _final_state(table: LakeTable) -> pd.DataFrame:
    return (
        table.read()
        .select(*PAYLOAD_COLUMNS)
        .orderBy(*KEY_COLUMNS)
        .toPandas()
        .reset_index(drop=True)
    )


@pytest.fixture(scope="module")
def changelog(spark):
    spec = ChangelogSpec(n_events=20_000, n_conversations=150, seed=42)
    df = generate_changelog(spark, spec).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def oracle_final(changelog):
    pdf = changelog.drop("delivery_pos").toPandas()
    return apply_sequential(pdf, PAYLOAD_COLUMNS)


def test_generator_injects_corruption(changelog):
    pdf = changelog.toPandas()
    n_logical = pdf[["lsn", "seq_in_tx"]].drop_duplicates().shape[0]
    assert len(pdf) > n_logical  # duplicates present
    # out-of-order: delivery order != lsn order
    by_delivery = pdf.sort_values("delivery_pos")["lsn"].to_numpy()
    assert (by_delivery[1:] < by_delivery[:-1]).any()
    assert (pdf["op"] == 2).any()


def test_single_merge_matches_oracle(spark, changelog, oracle_final, tmp_table_dir):
    table = LakeTable.create(
        spark, tmp_table_dir, transcripts_schema(), KEY_COLUMNS, num_buckets=16
    )
    collapsed = lww_collapse(changelog.drop("delivery_pos"))
    res = table.merge(collapsed, commit_key="batch-0")
    assert res.rows_inserted > 0
    got = _final_state(table)
    assert_frame_equal(got, oracle_final, check_dtype=False)


def test_multi_batch_out_of_order_replay(spark, changelog, oracle_final, tmp_table_dir):
    """Deliver the changelog as 4 micro-batches split by DELIVERY order (so
    batches interleave LSNs); final state must still match the oracle."""
    table = LakeTable.create(
        spark, tmp_table_dir, transcripts_schema(), KEY_COLUMNS, num_buckets=16
    )
    from pyspark.sql import functions as F

    n = 4
    bounds = changelog.approxQuantile("delivery_pos", [i / n for i in range(1, n)], 0.001)
    lo = float("-inf")
    for b, hi in enumerate(bounds + [float("inf")]):
        batch = changelog.where(
            (F.col("delivery_pos") > lo) & (F.col("delivery_pos") <= hi)
        ).drop("delivery_pos")
        table.merge(lww_collapse(batch), commit_key=f"batch-{b}")
        lo = hi
    got = _final_state(table)
    assert_frame_equal(got, oracle_final, check_dtype=False)


def test_idempotent_replay_same_commit_key(spark, changelog, oracle_final, tmp_table_dir):
    table = LakeTable.create(
        spark, tmp_table_dir, transcripts_schema(), KEY_COLUMNS, num_buckets=16
    )
    collapsed = lww_collapse(changelog.drop("delivery_pos"))
    table.merge(collapsed, commit_key="batch-0")
    v = table.version
    res2 = table.merge(collapsed, commit_key="batch-0")  # replayed micro-batch
    assert res2.noop and table.version == v
    assert_frame_equal(_final_state(table), oracle_final, check_dtype=False)


def test_lsn_guard_rejects_stale_replay_without_commit_key(
    spark, changelog, oracle_final, tmp_table_dir
):
    """Defense in depth: even WITHOUT commit-key dedupe, re-merging an old
    batch is a state no-op because of the s.lsn > t._lsn guard."""
    table = LakeTable.create(
        spark, tmp_table_dir, transcripts_schema(), KEY_COLUMNS, num_buckets=16
    )
    from pyspark.sql import functions as F

    half = changelog.where(F.col("lsn") < 10_000).drop("delivery_pos")
    rest = changelog.where(F.col("lsn") >= 10_000).drop("delivery_pos")
    table.merge(lww_collapse(half), commit_key="b0")
    table.merge(lww_collapse(rest), commit_key="b1")
    before = _final_state(table)
    res = table.merge(lww_collapse(half), commit_key="b0-replayed")  # stale data
    assert res.rows_inserted == 0 and res.rows_updated == 0 and res.rows_deleted == 0
    assert res.rows_lww_skipped > 0
    assert_frame_equal(_final_state(table), before, check_dtype=False)
    assert_frame_equal(before, oracle_final, check_dtype=False)


def test_delete_then_reinsert(spark, tmp_table_dir):
    """Tombstone ordering: ins(lsn1) del(lsn2) ins(lsn3) -> row present with
    lsn3 text; ins(lsn1) del(lsn2) -> absent."""
    import datetime as dt

    rows = [
        (1, 10, 0, "c1", 0, "user", "first", None),
        (2, 20, 0, "c1", 0, None, None, None),
        (1, 30, 0, "c1", 0, "user", "reborn", None),
        (1, 11, 0, "c2", 0, "user", "doomed", None),
        (2, 21, 0, "c2", 0, None, None, None),
    ]
    ts = dt.datetime(2025, 1, 1)
    data = [r + (ts,) for r in rows]
    df = spark.createDataFrame(
        data,
        "op int, lsn long, seq_in_tx int, conv_id string, turn_idx int, "
        "role string, text string, tool string, ts timestamp",
    )
    table = LakeTable.create(
        spark, tmp_table_dir, transcripts_schema(), KEY_COLUMNS, num_buckets=4
    )
    table.merge(lww_collapse(df), commit_key="b0")
    got = table.read().orderBy("conv_id").toPandas()
    assert got["conv_id"].tolist() == ["c1"]
    assert got["text"].tolist() == ["reborn"]


def _ops(spark, rows):
    """A one-row-per-key change batch from (op, lsn, conv_id, text) rows."""
    ts = dt.datetime(2025, 1, 1)
    return spark.createDataFrame(
        [
            (op, lsn, 0, conv, 0, None if op == 2 else "user", text, None, ts)
            for op, lsn, conv, text in rows
        ],
        "op int, lsn long, seq_in_tx int, conv_id string, turn_idx int, "
        "role string, text string, tool string, ts timestamp",
    )


def _counts(res):
    return res.rows_inserted, res.rows_updated, res.rows_deleted, res.rows_lww_skipped


@pytest.mark.parametrize("stored_as", ["cow", "mor"])
def test_cow_merge_exact_counts(spark, tmp_table_dir, stored_as):
    """Exact insert/update/delete/stale counts and final state of a COW
    merge over stored rows held as base files (stored_as='cow') or as
    pending MOR deltas (stored_as='mor')."""
    table = LakeTable.create(
        spark, tmp_table_dir, transcripts_schema(), KEY_COLUMNS, num_buckets=4
    )
    table.merge(
        _ops(
            spark,
            [(1, 5, k, f"{k}0") for k in "ABCDU"] + [(1, 50, k, f"{k}0") for k in "EF"],
        ),
        commit_key="s1",
        mode=stored_as,
    )
    table.merge(_ops(spark, [(2, 10, "D", None)]), commit_key="s2", mode=stored_as)
    res = table.merge(
        _ops(
            spark,
            [
                (1, 100, "G", "G1"),  # insert
                (1, 100, "B", "B1"),  # update
                (2, 100, "C", None),  # delete of an existing key
                (2, 100, "H", None),  # delete of a never-seen key
                (1, 100, "D", "D1"),  # tombstone resurrection: an update
                (1, 50, "E", "E1"),  # equal-lsn replay: stale
                (1, 40, "F", "F1"),  # older lsn: stale
            ],
        ),
        commit_key="c",
    )
    assert _counts(res) == (1, 2, 2, 2)
    # H's tombstone rejects an insert older than the delete
    res = table.merge(_ops(spark, [(1, 90, "H", "H1")]), commit_key="late")
    assert _counts(res) == (0, 0, 0, 1)
    got = {r["conv_id"]: r["text"] for r in table.read().collect()}
    assert got == {
        "A": "A0", "B": "B1", "D": "D1", "E": "E0", "F": "F0", "G": "G1", "U": "U0"
    }
