"""Round-3 ADVICE fixes: LSN packing budget (mongo/oracle overflow), commit
high-water-mark scope, manifest format versioning, file-tail live-file glob.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datacollector_spark.lake import LakeTable
from datacollector_spark.model import KEY_COLUMNS, transcripts_schema


def _table(spark, tmp_path, name="t"):
    return LakeTable.create(
        spark, str(tmp_path / name), transcripts_schema(), KEY_COLUMNS, num_buckets=4
    )


def _batch(spark, rows):
    """rows: (op, lsn, seq_in_tx, conv_id, turn_idx, text)"""
    return spark.createDataFrame(
        [(op, lsn, seq, cid, ti, "user", txt, None, None) for op, lsn, seq, cid, ti, txt in rows],
        "op int, lsn long, seq_in_tx int, conv_id string, turn_idx int, "
        "role string, text string, tool string, ts timestamp",
    )


# --------------------------------------------------------- LSN budget fixes
def test_mongo_modern_ts_cross_batch_lww(spark, tmp_path):
    """A real-world BSON timestamp (~2^62 packed) used to overflow the merge's
    second shiftleft and flip LWW winners; the rescaled (lsn, seq) encoding
    keeps exact oplog order across micro-batches."""
    from datacollector_spark.sources.changelog_formats import (
        decode_mongo_oplog,
        project_transcript_payload,
    )

    sec = 1735732800  # 2025: ts = sec<<32 | ordinal ~ 7.4e18

    def oplog(op, ordinal, text):
        ev = {
            "op": op,
            "ts": (sec << 32) | ordinal,
            "ns": "chat.transcripts",
            "o": {"conv_id": "c1", "turn_idx": "1", "text": text, "ts": "2025-01-01 12:00:00"},
        }
        return spark.createDataFrame([(json.dumps(ev),)], "raw string")

    table = _table(spark, tmp_path)
    decoded = lambda df: project_transcript_payload(decode_mongo_oplog(df, "raw"))
    table.merge(decoded(oplog("i", 5, "winner")), commit_key="b1")
    # later batch, EARLIER ordinal within the same second: must lose LWW
    res = table.merge(decoded(oplog("u", 2, "stale")), commit_key="b2")
    assert res.rows_lww_skipped == 1
    row = table.read().first()
    assert row["text"] == "winner"


def test_oracle_large_scn_cross_batch_order(spark, tmp_path):
    """SCN >= 2^31 used to overflow (decoder packed SCN<<16|SEQ, then merge
    packed again). Bare-SCN lsn + downstream single pack orders correctly."""
    from datacollector_spark.sources.changelog_formats import (
        decode_oracle_cdc,
        project_transcript_payload,
    )

    scn = 1 << 40

    def redo(seq, text):
        ev = {
            "OPERATION": 3,
            "SCN": scn,
            "SEQ": seq,
            "TABLE_NAME": "TRANSCRIPTS",
            "TIMESTAMP": 1735732800000,
            "DATA": {"conv_id": "c1", "turn_idx": "1", "text": text},
        }
        return spark.createDataFrame([(json.dumps(ev),)], "raw string")

    table = _table(spark, tmp_path)
    decoded = lambda df: project_transcript_payload(decode_oracle_cdc(df, "raw"))
    table.merge(decoded(redo(7, "winner")), commit_key="b1")
    res = table.merge(decoded(redo(3, "stale")), commit_key="b2")  # same SCN, earlier SEQ
    assert res.rows_lww_skipped == 1
    assert table.read().first()["text"] == "winner"


def test_oracle_seq_budget_raises(spark):
    from datacollector_spark.sources.changelog_formats import decode_oracle_cdc

    ev = {"OPERATION": 1, "SCN": 10, "SEQ": 1 << 16, "TABLE_NAME": "T",
          "TIMESTAMP": 0, "DATA": {"conv_id": "c"}}
    df = spark.createDataFrame([(json.dumps(ev),)], "raw string")
    with pytest.raises(Exception, match="seq budget"):
        decode_oracle_cdc(df, "raw").collect()


def test_merge_packing_budget_raises(spark, tmp_path):
    """The packing site itself now rejects out-of-budget lsn values instead
    of silently wrapping int64 (any decoder bug surfaces as an error)."""
    table = _table(spark, tmp_path)
    bad = _batch(spark, [(1, 1 << 47, 0, "c1", 1, "x")])
    with pytest.raises(Exception, match="packing budget"):
        table.merge(bad, commit_key="b1")


def test_collapse_packing_budget_raises(spark):
    from datacollector_spark.operators.collapse import lww_collapse

    bad = _batch(spark, [(1, 1 << 47, 0, "c1", 1, "x")])
    with pytest.raises(Exception, match="packing budget"):
        lww_collapse(bad, key_columns=KEY_COLUMNS).collect()


def test_packed_order_is_lexicographic():
    """Property: within the budget, the packed int64 order equals
    lexicographic (lsn, seq) order — the invariant every LWW comparison
    (in-batch collapse, cross-batch merge guard, MOR read winner) rests on."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    pairs = st.tuples(
        st.integers(min_value=0, max_value=(1 << 47) - 1),
        st.integers(min_value=0, max_value=(1 << 16) - 1),
    )

    @settings(max_examples=300, deadline=None)
    @given(a=pairs, b=pairs)
    def check(a, b):
        pack = lambda p: (p[0] << 16) | p[1]
        assert (pack(a) < pack(b)) == (a < b)
        assert 0 <= pack(a) <= (1 << 63) - 1  # always a valid signed int64

    check()


def test_budget_boundaries(spark, tmp_path):
    """Exact edges of the packing budget: lsn = 2^47 - 1 packs fine
    (packed = int64 max when seq = 0xFFFF); mongo ts = int64 max rescales
    inside the budget; oracle SCN = 2^47 raises, 2^47 - 1 does not."""
    from datacollector_spark.operators.collapse import lww_collapse
    from datacollector_spark.sources.changelog_formats import (
        decode_mongo_oplog,
        decode_oracle_cdc,
    )

    edge = _batch(spark, [(1, (1 << 47) - 1, 0xFFFF, "c1", 1, "x")])
    out = lww_collapse(edge, key_columns=KEY_COLUMNS).collect()
    assert len(out) == 1  # packs to int64 max without overflow error

    ts_max = (1 << 63) - 1
    ev = {"op": "i", "ts": ts_max, "ns": "t", "o": {"conv_id": "c"}}
    row = decode_mongo_oplog(
        spark.createDataFrame([(json.dumps(ev),)], "raw string"), "raw"
    ).first()
    assert row["lsn"] == ts_max >> 16 and row["lsn"] < (1 << 47)

    def scn_df(scn):
        ev = {"OPERATION": 1, "SCN": scn, "SEQ": 0, "TABLE_NAME": "T",
              "TIMESTAMP": 0, "DATA": {"conv_id": "c"}}
        return spark.createDataFrame([(json.dumps(ev),)], "raw string")

    assert decode_oracle_cdc(scn_df((1 << 47) - 1), "raw").first()["lsn"] == (1 << 47) - 1
    with pytest.raises(Exception, match="LSN budget"):
        decode_oracle_cdc(scn_df(1 << 47), "raw").collect()


# ------------------------------------------------- commit key high-water mark
def test_out_of_order_user_commit_keys_apply(spark, tmp_path):
    """merge() is public: numeric-tailed USER keys committed out of order
    must all apply — only the internal ':microbatch-N' shape (which commits
    in order) may use the high-water-mark replay skip."""
    table = _table(spark, tmp_path)
    r1 = table.merge(_batch(spark, [(1, 10, 0, "c1", 1, "a")]), commit_key="backfill-10")
    r2 = table.merge(_batch(spark, [(1, 20, 0, "c2", 1, "b")]), commit_key="backfill-5")
    assert not r1.noop and not r2.noop
    assert table.read().count() == 2
    # exact-match replay of a user key is still a no-op (ring)
    r3 = table.merge(_batch(spark, [(1, 30, 0, "c3", 1, "c")]), commit_key="backfill-10")
    assert r3.noop


def test_streaming_keys_hw_replay_skip(spark, tmp_path):
    """Internal streaming keys keep unbounded replay protection via the
    per-prefix high-water mark."""
    table = _table(spark, tmp_path)
    table.merge(_batch(spark, [(1, 10, 0, "c1", 1, "a")]), commit_key="s1:microbatch-7")
    replay = table.merge(
        _batch(spark, [(1, 99, 0, "c9", 1, "z")]), commit_key="s1:microbatch-3"
    )
    assert replay.noop  # batch ids commit in order; 3 < hw(7) => replay
    assert table.read().count() == 1


# -------------------------------------------------------- manifest versioning
def test_manifest_format_version_refused(spark, tmp_path):
    """A table written by a pre-packed-order engine (format_version < 2) must
    refuse to open: stored bare-lsn values would lose every LWW comparison
    against packed _ord values and stale events would win silently."""
    import os

    table = _table(spark, tmp_path)
    mpath = os.path.join(table.path, "_manifests", "v0000000000.json")
    with open(mpath) as f:
        manifest = json.load(f)
    assert manifest["format_version"] == 2
    manifest["format_version"] = 1
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    with pytest.raises(ValueError, match="format_version=1"):
        LakeTable(spark, table.path)


def test_manifest_with_lineage_tail_still_opens(spark, tmp_path):
    """A table whose manifest still carries the in-manifest lineage tail of
    earlier engines opens and merges with no format change; its next
    commit drops the tail (the lineage table holds the per-batch record)."""
    import os

    table = _table(spark, tmp_path)
    mpath = os.path.join(table.path, "_manifests", "v0000000000.json")
    with open(mpath) as f:
        manifest = json.load(f)
    manifest["lineage"] = [{"version": 0, "commit_key": "old", "noop": False}]
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    reopened = LakeTable(spark, table.path)
    res = reopened.merge(_batch(spark, [(1, 1, 0, "c1", 0, "hi")]), commit_key="b-0")
    assert res.version == 1 and reopened.read().count() == 1
    assert "lineage" not in reopened._load_manifest(1)


# -------------------------------------------------- deterministic record dedup
def test_record_dedup_deterministic_across_layouts(spark):
    """Winner choice must not depend on partition layout (the old
    monotonically_increasing_id window was layout-dependent)."""
    from datacollector_spark.operators.processors import record_deduplicator

    rows = [(1, "a", 30), (1, "a", 10), (1, "a", 20), (2, "b", 5)]
    df1 = spark.createDataFrame(rows, "k int, v string, o int").repartition(1)
    df2 = spark.createDataFrame(rows, "k int, v string, o int").repartition(7, "o")
    u1, d1 = record_deduplicator(df1, ["k", "v"])
    u2, d2 = record_deduplicator(df2, ["k", "v"])
    assert sorted(map(tuple, u1.collect())) == sorted(map(tuple, u2.collect()))
    assert sorted(map(tuple, d1.collect())) == sorted(map(tuple, d2.collect()))
    # deterministic winner: the min over remaining columns
    assert sorted(map(tuple, u1.collect())) == [(1, "a", 10), (2, "b", 5)]


def test_record_dedup_order_column_and_multiplicity(spark):
    from datacollector_spark.operators.processors import record_deduplicator

    # order column wins over column order; byte-identical copies split 1/N-1
    df = spark.createDataFrame(
        [(1, "z", 2), (1, "y", 3), (1, "y", 3)], "k int, v string, o int"
    )
    uniq, dups = record_deduplicator(df, ["k"], order_column="o")
    assert [tuple(r) for r in uniq.collect()] == [(1, "z", 2)]
    assert dups.count() == 2  # both losers, incl. one of the identical pair


# ------------------------------------------------------------- file tail glob
def test_file_tail_default_pattern_excludes_live_file(spark, tmp_path):
    """Default rolled_pattern must never match the live, mid-append file."""
    from datacollector_spark.sources.spooldir import file_tail_stream

    logdir = tmp_path / "logs"
    logdir.mkdir()
    (logdir / "app.log").write_text("live-line\n")  # live: excluded by default
    (logdir / "app.log.1").write_text("rolled-a\n")
    (logdir / "app.log.20250101").write_text("rolled-b\n")

    stream = file_tail_stream(
        spark, str(logdir), T.StructType([T.StructField("value", T.StringType())])
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
    lines = {r["value"] for r in spark.read.parquet(out).collect()}
    assert lines == {"rolled-a", "rolled-b"}
