"""Pipeline-spec validation/build, late-record policy, data rules, and the
spark-submit packaging contract."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from datacollector_spark.lake import LakeTable
from datacollector_spark.model import KEY_COLUMNS, transcripts_schema
from datacollector_spark.plans import PipelineSpec, ValidationError
from datacollector_spark.streaming import CdcIngestPipeline
from datacollector_spark.streaming.pipeline import DataRule


def test_spec_validation_errors():
    with pytest.raises(ValidationError, match="VALIDATION_0001"):
        PipelineSpec({"stages": []})
    with pytest.raises(ValidationError, match="VALIDATION_0006"):
        PipelineSpec({"stages": [{"name": "x", "type": "nope"}]})
    with pytest.raises(ValidationError, match="VALIDATION_0005"):
        PipelineSpec(
            {
                "stages": [
                    {"name": "m", "type": "field_masker", "in": "ghost", "columns": ["a"]}
                ]
            }
        )
    with pytest.raises(ValidationError, match="VALIDATION_0003"):
        PipelineSpec(
            {
                "stages": [
                    {"name": "s", "type": "parquet_origin", "path": "/x", "out": "main"},
                    {"name": "m", "type": "field_masker", "in": "main"},
                ]
            }
        )


def test_spec_build_runs(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "error", "secret-1"), (2, "click", "hello"), (3, "error", "boom")],
        "id int, event_type string, text string",
    ).write.parquet(src)
    spec = PipelineSpec(
        {
            "pipeline": "demo",
            "stages": [
                {"name": "src", "type": "parquet_origin", "path": src, "out": "main"},
                {
                    "name": "sel",
                    "type": "stream_selector",
                    "in": "main",
                    "conditions": [["errors", "event_type = 'error'"]],
                    "default_lane": "ok",
                },
                {
                    "name": "mask",
                    "type": "field_masker",
                    "in": "ok",
                    "columns": ["text"],
                    "mask_type": "VARIABLE_LENGTH",
                    "out": "masked",
                },
                {"name": "sink", "type": "memory_target", "in": "masked"},
            ],
        }
    )
    lanes = spec.build(spark)
    assert lanes["errors"].count() == 2
    got = lanes["sink"].first()
    assert got["text"] == "xxxxx"


def _mk_changelog_df(spark, rows):
    return spark.createDataFrame(
        rows,
        "op int, lsn long, seq_in_tx int, commit_ts timestamp, conv_id string, "
        "turn_idx int, role string, text string, tool string, ts timestamp",
    )


def test_late_records_split_and_rules(spark, tmp_path):
    t0 = dt.datetime(2025, 1, 1, 12, 0, 0)

    def row(lsn, ts_off, conv="c1", turn=0, text="x"):
        ts = t0 + dt.timedelta(seconds=ts_off)
        return (1, lsn, 0, ts, conv, turn, "user", text, None, ts)

    # batch 1 commits the watermark (t0+1000-3600) with its data; batch 2,
    # in a restarted pipeline, has one very-late event
    b1 = [row(1, 0, turn=0), row(2, 1000, turn=1)]
    b2 = [row(3, 1010, turn=2), row(4, -5000, turn=3, text="too-late")]
    src = str(tmp_path / "seg")
    _mk_changelog_df(spark, b1).coalesce(1).write.mode("append").parquet(src)

    table = LakeTable.create(
        spark, str(tmp_path / "t"), transcripts_schema(), KEY_COLUMNS, num_buckets=4
    )
    late_dir = str(tmp_path / "late")
    pipe = CdcIngestPipeline(
        spark,
        src,
        table,
        str(tmp_path / "ckpt"),
        source_schema=_mk_changelog_df(spark, b1).schema,
        late_limit_s=3600,
        late_dir=late_dir,
        data_rules=[DataRule("deletes_present", "op = 2", min_count=1)],
        max_files_per_trigger=1,
    )
    pipe.run_available_now(timeout_s=120)
    _mk_changelog_df(spark, b2).coalesce(1).write.mode("append").parquet(src)
    pipe2 = CdcIngestPipeline(
        spark,
        src,
        table.refresh(),
        str(tmp_path / "ckpt"),
        source_schema=_mk_changelog_df(spark, b1).schema,
        late_limit_s=3600,
        late_dir=late_dir,
        data_rules=[DataRule("inserts", "op = 1", min_count=1)],
        max_files_per_trigger=1,
        lineage_dir=str(tmp_path / "lineage"),
    )
    pipe2.run_available_now(timeout_s=120)

    final = table.refresh().read().toPandas()
    assert "too-late" not in set(final["text"])
    late = spark.read.parquet(late_dir).toPandas()
    assert set(late["text"]) == {"too-late"}
    # the rule fired in the batch's lineage row; rules see the whole batch,
    # its late row included
    (row,) = spark.read.parquet(str(tmp_path / "lineage")).collect()
    assert [(a["rule"], a["level"], a["count"]) for a in row["alerts"]] == [
        ("inserts", "warn", 2)
    ]


def test_late_rows_land_once_across_a_failed_merge(spark, tmp_path):
    """A batch whose merge fails after its late rows were written replays
    on restart; its late rows land once, not once per attempt."""
    t0 = dt.datetime(2025, 1, 1, 12, 0, 0)

    def row(lsn, ts_off, turn, text="x"):
        ts = t0 + dt.timedelta(seconds=ts_off)
        return (1, lsn, 0, ts, "c1", turn, "user", text, None, ts)

    src = str(tmp_path / "seg")
    b1 = _mk_changelog_df(spark, [row(1, 0, 0), row(2, 1000, 1)])
    b1.coalesce(1).write.mode("append").parquet(src)
    table = LakeTable.create(
        spark, str(tmp_path / "t"), transcripts_schema(), KEY_COLUMNS, num_buckets=4
    )
    late_dir = str(tmp_path / "late")

    def mk():
        return CdcIngestPipeline(
            spark,
            src,
            table,
            str(tmp_path / "ckpt"),
            source_schema=b1.schema,
            late_limit_s=3600,
            late_dir=late_dir,
            max_files_per_trigger=1,
        )

    mk().run_available_now(timeout_s=120)
    b2 = [row(3, 1010, 2), row(4, -5000, 3, text="too-late")]
    _mk_changelog_df(spark, b2).coalesce(1).write.mode("append").parquet(src)
    pipe = mk()
    merge = table.merge

    def fail_once(*args, **kwargs):
        table.merge = merge
        raise RuntimeError("injected merge failure after the late write")

    table.merge = fail_once
    with pytest.raises(Exception):
        pipe.run_available_now(timeout_s=120)
    assert table.merge == merge
    mk().run_available_now(timeout_s=120)
    assert sorted(r["text"] for r in table.refresh().read().collect()) == ["x"] * 3
    late = spark.read.parquet(late_dir).collect()
    assert [r["text"] for r in late] == ["too-late"]
    # the late output is partitioned by the commit key of its batch
    assert late[0]["commit_key"] == f"{pipe.stream_id}:microbatch-1"


def test_late_threshold_survives_crash_after_commit(spark, tmp_path):
    """A crash after a batch's commit and before its checkpoint advances
    replays the batch as a no-op; the late-record threshold committed with
    it still holds, so a later row older than it goes to late_dir, as in an
    uncrashed run."""

    def row(lsn, ts_off, turn, text="x"):
        ts = dt.datetime(2025, 1, 1, 12, 0, 0) + dt.timedelta(seconds=ts_off)
        return (1, lsn, 0, ts, "c1", turn, "user", text, None, ts)

    src = str(tmp_path / "seg")
    b1 = _mk_changelog_df(spark, [row(1, 0, 0), row(2, 1000, 1)])
    b1.coalesce(1).write.mode("append").parquet(src)

    def mk(name):
        path = str(tmp_path / name)
        if not (tmp_path / name).exists():
            LakeTable.create(spark, path, transcripts_schema(), KEY_COLUMNS, num_buckets=4)
        return CdcIngestPipeline(
            spark,
            src,
            LakeTable(spark, path),
            str(tmp_path / f"{name}_ckpt"),
            source_schema=b1.schema,
            late_limit_s=3600,
            late_dir=str(tmp_path / f"{name}_late"),
            max_files_per_trigger=1,
        )

    pipe = mk("crashed")
    merge = pipe.table.merge

    def commit_then_crash(*args, **kwargs):
        pipe.table.merge = merge
        merge(*args, **kwargs)
        raise RuntimeError("injected crash after the commit")

    pipe.table.merge = commit_then_crash
    with pytest.raises(Exception):
        pipe.run_available_now(timeout_s=120)
    assert pipe.table.refresh().version == 1
    b2 = [row(3, 1010, 2), row(4, -5000, 3, text="too-late")]
    _mk_changelog_df(spark, b2).coalesce(1).write.mode("append").parquet(src)
    mk("crashed").run_available_now(timeout_s=120)
    mk("uncrashed").run_available_now(timeout_s=120)

    def state(name):
        table = LakeTable(spark, str(tmp_path / name))
        late = spark.read.parquet(str(tmp_path / f"{name}_late"))
        return (
            table.read().orderBy(*KEY_COLUMNS).toPandas(),
            sorted(r["text"] for r in late.collect()),
        )

    crashed, uncrashed = state("crashed"), state("uncrashed")
    assert crashed[1] == uncrashed[1] == ["too-late"]
    assert crashed[0].equals(uncrashed[0])
    assert sorted(crashed[0]["turn_idx"]) == [0, 1, 2]


@pytest.mark.parametrize(
    "kwargs",
    [
        lambda: {"merge_mode": "merge"},
        lambda: {"expire_keep": 0},
        lambda: {"mor_compact_every": 0},
        lambda: {"late_limit_s": -1.0},
        lambda: {"late_dir": "late"},
        lambda: {"data_rules": [DataRule("r", "op = 2", sampling_pct=0.0)]},
        lambda: {"data_rules": [DataRule("r", "op = 2", sampling_pct=1.5)]},
        lambda: {"data_rules": [DataRule("r", "op = 2", window_batches=0)]},
    ],
    ids=[
        "merge_mode",
        "expire_keep",
        "mor_compact_every",
        "late_limit_s",
        "late_dir_without_limit",
        "sampling_pct_zero",
        "sampling_pct_above_one",
        "window_batches",
    ],
)
def test_pipeline_rejects_bad_arguments_at_construction(spark, tmp_path, kwargs):
    """Bad arguments raise ValueError when the pipeline or its data rule is
    built, before any stream starts or checkpoint is written."""
    ckpt = tmp_path / "ckpt"
    with pytest.raises(ValueError):
        CdcIngestPipeline(spark, str(tmp_path / "seg"), None, str(ckpt), **kwargs())
    assert not ckpt.exists()


def test_spark_submit_py_files_launch(spark, tmp_path):
    """The north-star launch contract: package the engine as a zip, launch
    jobs/run_pipeline.py through spark-submit --py-files, assert the
    pipeline applies the changelog."""
    import os
    import shutil
    import subprocess
    import sys

    from datacollector_spark.sources.generator import (
        ChangelogSpec,
        generate_changelog,
        write_segments,
    )
    from tools.package import build

    spark_submit = shutil.which("spark-submit") or os.path.join(
        os.path.dirname(os.path.dirname(sys.executable)), "bin", "spark-submit"
    )
    import pyspark

    cand = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    if not (spark_submit and os.path.exists(spark_submit)) and os.path.exists(cand):
        spark_submit = cand
    if not (spark_submit and os.path.exists(spark_submit)):
        pytest.skip("spark-submit not found")

    seg = str(tmp_path / "seg")
    write_segments(
        generate_changelog(spark, ChangelogSpec(n_events=2000, n_conversations=30)),
        seg,
        4,
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zip_path = build(str(tmp_path / "dist" / "datacollector_spark.zip"))
    proc = subprocess.run(
        [
            spark_submit,
            "--master",
            "local[4]",
            "--py-files",
            zip_path,
            os.path.join(repo, "jobs", "run_pipeline.py"),
            "--segments",
            seg,
            "--table",
            str(tmp_path / "table"),
            "--checkpoint",
            str(tmp_path / "ckpt"),
            "--buckets",
            "4",
        ],
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("PIPELINE_RESULT ")]
    assert line, proc.stdout[-2000:]
    import json

    res = json.loads(line[0][len("PIPELINE_RESULT "):])
    assert res["rows"] > 0 and res["batches"] >= 1
    # each batch's lineage record is logged as one JSON line
    out = (proc.stdout + proc.stderr).splitlines()
    records = [json.loads(l) for l in out if l.startswith('{"batch_id"')]
    assert len(records) == res["batches"]
    assert sum(r["rows_source"] for r in records) > 0


def test_run_pipeline_rejects_counts_below_one(tmp_path):
    """--expire-keep 0 (like --buckets, --max-files-per-trigger and
    --mor-compact-every below 1), --late-limit-s below 0 and --late-dir
    without --late-limit-s are usage errors at parse time: exit 2 with the
    flag named, before any Spark session starts or a table is created."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for flag, bad in (
        (["--expire-keep", "0"], "--expire-keep"),
        (["--late-limit-s", "-1"], "--late-limit-s"),
        (["--late-dir", str(tmp_path / "late")], "--late-dir"),
    ):
        proc = subprocess.run(
            [
                sys.executable,
                os.path.join(repo, "jobs", "run_pipeline.py"),
                "--segments",
                str(tmp_path / "seg"),
                "--table",
                str(tmp_path / "table"),
                "--checkpoint",
                str(tmp_path / "ckpt"),
                *flag,
            ],
            capture_output=True,
            text=True,
            timeout=120,
        )
        assert proc.returncode == 2, proc.stderr[-2000:]
        assert bad in proc.stderr
        assert not (tmp_path / "table").exists()


def test_run_mongo_cdc_rejects_bad_counts_at_parse_time(tmp_path):
    """jobs/run_mongo_cdc.py checks its counts at parse time, like
    run_pipeline.py: --buckets 0 exits 2 with the flag named, before any
    Spark session starts, any table is created or any oplog is read."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(repo, "jobs", "run_mongo_cdc.py"),
            "--mongo-host",
            "127.0.0.1",
            "--mongo-port",
            "1",
            "--spool",
            str(tmp_path / "spool"),
            "--offset-file",
            str(tmp_path / "oplog.offset"),
            "--table",
            str(tmp_path / "table"),
            "--checkpoint",
            str(tmp_path / "ckpt"),
            "--buckets",
            "0",
        ],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 2, proc.stderr[-2000:]
    assert "--buckets" in proc.stderr
    assert "Spark" not in proc.stderr
    assert not (tmp_path / "table").exists()
    assert not (tmp_path / "spool").exists()
