"""Round-3 surface additions: durable JDBC multitable offsets, preview
stage-output overrides, data-rule sampling percentage, PIL-gated decode."""

from __future__ import annotations

import pytest

from datacollector_spark.sources import jdbc as jdbc_mod


def test_jdbc_offset_store_restart_resume(spark, tmp_path, monkeypatch):
    """Second poller run resumes from the persisted per-table offset map
    without caller plumbing (ProductionSourceOffsetTracker.java:59-85)."""
    from datacollector_spark.sources.jdbc import JdbcOffsetStore, jdbc_multitable

    frames = {
        "t_a": spark.createDataFrame([(1,), (2,), (3,)], "seq int"),
        "t_b": spark.createDataFrame([(10,), (20,)], "seq int"),
    }
    monkeypatch.setattr(
        jdbc_mod, "jdbc_query", lambda spark, url, table, properties=None: frames[table]
    )
    cfgs = [
        {"table": "t_a", "offset_column": "seq"},
        {"table": "t_b", "offset_column": "seq"},
    ]
    ckpt = str(tmp_path / "ckpt")
    store = JdbcOffsetStore(ckpt)
    out = dict(jdbc_multitable(spark, "jdbc:stub", cfgs, offset_store=store))
    assert out["t_a"].count() == 3 and out["t_b"].count() == 2  # first run: full
    # batch commits; poller advances the offsets it saw
    store.advance("t_a", 2)
    store.advance("t_b", 20)
    store.advance("t_a", 1)  # regression ignored (monotone)

    # "restart": a fresh store over the same checkpoint dir resumes
    store2 = JdbcOffsetStore(ckpt)
    assert store2.offsets() == {"t_a": 2, "t_b": 20}
    out2 = dict(jdbc_multitable(spark, "jdbc:stub", cfgs, offset_store=store2))
    assert out2["t_a"].count() == 1  # seq > 2
    assert out2["t_b"].count() == 0  # seq > 20


def test_preview_stage_output_override(spark, tmp_path):
    """Inject a literal stage output mid-DAG; downstream stages consume the
    injected rows (SyncPreviewer.java:196 stagesOverride)."""
    from datacollector_spark.plans.spec import PipelineSpec

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("error", 1), ("click", 950)], "event_type string, value int"
    ).write.parquet(src)
    spec = PipelineSpec(
        {
            "pipeline": "p",
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
                    "name": "hash",
                    "type": "field_hasher",
                    "in": "ok",
                    "columns": ["event_type"],
                    "target": "h",
                    "out": "hashed",
                },
            ],
        }
    )
    injected = [{"event_type": "synthetic", "value": 7}]
    cap = spec.preview(spark, limit_rows=10, overrides={"ok": injected})
    # downstream stage ran over the INJECTED rows, not the computed lane
    assert [r["event_type"] for r in cap["hashed"]] == ["synthetic"]
    assert all("h" in r for r in cap["hashed"])
    # both views captured: what the stage computed and what downstream saw
    assert [r["event_type"] for r in cap["ok"]] == ["synthetic"]
    assert [r["event_type"] for r in cap["ok:computed"]] == ["click"]
    # untouched lanes unaffected
    assert len(cap["errors"]) == 1


def test_data_rule_sampling_pct(spark, tmp_path):
    """sampling_pct evaluates the rule on ~pct of the batch inside the same
    CollectMetrics pass (DataRuleDefinition.java:28-66 samplingPercentage)."""
    from datacollector_spark.lake import LakeTable
    from datacollector_spark.model import KEY_COLUMNS, transcripts_schema
    from datacollector_spark.sources.generator import ChangelogSpec, generate_changelog
    from datacollector_spark.streaming import CdcIngestPipeline
    from datacollector_spark.streaming.pipeline import DataRule

    table = LakeTable.create(
        spark, str(tmp_path / "t"), transcripts_schema(), KEY_COLUMNS, num_buckets=2
    )
    batch = generate_changelog(spark, ChangelogSpec(n_events=2000, n_conversations=50))
    n = batch.count()
    pipe = CdcIngestPipeline(
        spark,
        str(tmp_path / "seg"),
        table,
        str(tmp_path / "ckpt"),
        data_rules=[
            DataRule("all-sampled", "op >= 1", min_count=1, sampling_pct=0.5),
            DataRule("all-full", "op >= 1", min_count=1),
        ],
        lineage_dir=str(tmp_path / "lineage"),
    )
    pipe.apply_batch(batch, batch_id=0)
    (row,) = spark.read.parquet(str(tmp_path / "lineage")).collect()
    counts = {a["rule"]: a["count"] for a in row["alerts"]}
    assert counts["all-full"] == n
    assert 0.35 * n < counts["all-sampled"] < 0.65 * n
    assert {a["rule"]: a["sampling_pct"] for a in row["alerts"]}["all-sampled"] == 0.5


def test_data_rule_moving_window_meter(spark, tmp_path):
    """window_batches: alert fires on the rolling sum across micro-batches
    even when no single batch reaches min_count (DataObserverRunner's
    moving-window meter, simplified to a rolling sum)."""
    from datacollector_spark.lake import LakeTable
    from datacollector_spark.model import KEY_COLUMNS, transcripts_schema
    from datacollector_spark.sources.generator import ChangelogSpec, generate_changelog
    from datacollector_spark.streaming import CdcIngestPipeline
    from datacollector_spark.streaming.pipeline import DataRule

    table = LakeTable.create(
        spark, str(tmp_path / "t"), transcripts_schema(), KEY_COLUMNS, num_buckets=2
    )
    batches = [
        generate_changelog(spark, ChangelogSpec(n_events=2000, n_conversations=50, seed=s))
        for s in (1, 2, 3)
    ]
    per_batch = [b.where("op = 2").count() for b in batches]
    # threshold above any single batch, within reach of the 3-batch window
    threshold = max(per_batch) + 1
    assert sum(per_batch) >= threshold
    pipe = CdcIngestPipeline(
        spark,
        str(tmp_path / "seg"),
        table,
        str(tmp_path / "ckpt"),
        data_rules=[DataRule("drip", "op = 2", min_count=threshold, window_batches=3)],
        lineage_dir=str(tmp_path / "lineage"),
    )
    for i, b in enumerate(batches):
        pipe.apply_batch(b, batch_id=i)
    rows = spark.read.parquet(str(tmp_path / "lineage")).orderBy("batch_id").collect()
    drip = [a for r in rows for a in r["alerts"] if a["rule"] == "drip"]
    assert len(drip) >= 1  # no single batch reaches min_count; the window does
    assert drip[0]["window_count"] >= threshold and drip[0]["window_batches"] == 3


def test_assemble_conversations_stateful(spark, tmp_path):
    """applyInPandasWithState session assembler: turns accumulate in keyed
    state across micro-batches; a conversation is emitted (in turn order,
    last-write-wins on replayed turns) once it goes quiet; still-active
    conversations stay in state."""
    import time

    from datacollector_spark.streaming.stateful import assemble_conversations

    seg = tmp_path / "turns"
    seg.mkdir()
    schema = "conv_id string, turn_idx int, role string, text string"
    # file 1: conv c1, turns out of order + a turn later replayed
    spark.createDataFrame(
        [("c1", 1, "assistant", "OLD"), ("c1", 0, "user", "hi")], schema
    ).coalesce(1).write.parquet(str(seg / "f1"))
    time.sleep(0.05)
    # file 2 (later batch): replay of c1 turn 1 with new text + new conv c2;
    # processing it also fires c1's inactivity timeout from batch 1? No —
    # c1 receives data in batch 2, so its timer resets; c2 stays active.
    spark.createDataFrame(
        [("c1", 1, "assistant", "hello"), ("c2", 0, "user", "solo")], schema
    ).coalesce(1).write.parquet(str(seg / "f2"))
    time.sleep(0.05)
    # file 3: unrelated conv c3 — its batch fires c1's (now expired) timer
    spark.createDataFrame([("c3", 0, "user", "x")], schema).coalesce(1).write.parquet(
        str(seg / "f3")
    )

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(
        str(seg) + "/f*"
    )
    out = assemble_conversations(stream, inactivity_ms=1)
    name = "asm_out"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = {r["conv_id"]: r for r in spark.sql(f"SELECT * FROM {name}").collect()}
    assert "c1" in rows, f"expected c1 emitted, got {list(rows)}"
    c1 = rows["c1"]
    assert c1["n_turns"] == 2 and c1["first_turn"] == 0 and c1["last_turn"] == 1
    # turn order restored; replayed turn 1 took the LAST text
    assert c1["transcript"] == "user: hi\nassistant: hello"
    assert c1["reason"] == "inactivity"
    # the availableNow drain runs trailing batches that fire remaining
    # expired timers, so still-quiet conversations flush at end-of-drain;
    # whatever was emitted must be correctly assembled
    expected = {"c1": c1["transcript"], "c2": "user: solo", "c3": "user: x"}
    for cid, row in rows.items():
        assert row["transcript"] == expected[cid] and row["reason"] == "inactivity"


def test_hash_split_stable_and_complete(spark):
    """hash_split: pure function of (id, salt) — identical across
    partitionings, never reassigns when the corpus grows, fractions
    validated, all rows assigned."""
    import pytest as _pytest

    from datacollector_spark.operators.curation import hash_split

    docs = spark.range(1000).withColumnRenamed("id", "doc_id")
    a = hash_split(docs.repartition(1), "doc_id", {"train": 0.8, "test": 0.2})
    b = hash_split(docs.repartition(13, "doc_id"), "doc_id", {"train": 0.8, "test": 0.2})
    ma = {r["doc_id"]: r["split"] for r in a.collect()}
    mb = {r["doc_id"]: r["split"] for r in b.collect()}
    assert ma == mb and len(ma) == 1000
    frac = sum(1 for v in ma.values() if v == "train") / 1000
    assert 0.74 < frac < 0.86
    # growing the corpus never reassigns existing ids
    grown = hash_split(
        spark.range(2000).withColumnRenamed("id", "doc_id"), "doc_id",
        {"train": 0.8, "test": 0.2},
    )
    mg = {r["doc_id"]: r["split"] for r in grown.collect()}
    assert all(mg[k] == v for k, v in ma.items())
    # a different salt draws a genuinely different split
    ms = {
        r["doc_id"]: r["split"]
        for r in hash_split(docs, "doc_id", {"train": 0.8, "test": 0.2}, salt="v2").collect()
    }
    assert ms != ma
    with _pytest.raises(ValueError, match="sum to 1.0"):
        hash_split(docs, "doc_id", {"train": 0.5, "test": 0.2})


def test_el_translation(spark):
    """StreamSets EL strings -> Spark SQL: record paths, str:/math:/time:
    functions, Java boolean operators."""
    import pytest as _pytest

    from datacollector_spark.functions.el import el_condition, el_expr, el_to_sql

    cases = {
        "${record:value('/text')}": "text",
        "${record:value('/Data/text')}": "Data.text",
        "${str:toUpper(record:value('/role'))}": "upper(role)",
        "${record:value('/op') == 1 && !str:contains(text, 'x')}":
            "op == 1 AND NOT contains(text, 'x')",
        "${math:max(a, b) >= 3 || a != 4}": "greatest(a, b) >= 3 OR a != 4",
        "${str:regExCapture(text, '(\\d+)', 1)}": "regexp_extract(text, '(\\d+)', 1)",
    }
    for el, sql in cases.items():
        assert el_to_sql(el) == sql, el

    df = spark.createDataFrame([(1, "user", "abc123")], "op int, role string, text string")
    row = df.select(
        el_expr("${str:toUpper(record:value('/role'))}").alias("r"),
        el_expr("${str:regExCapture(record:value('/text'), '([0-9]+)', 1)}").alias("d"),
        el_condition("${record:value('/op') == 1 && str:startsWith(text, 'abc')}").alias("c"),
    ).first()
    assert row["r"] == "USER" and row["d"] == "123" and row["c"] is True

    with _pytest.raises(ValueError, match="unsupported EL function 'str:frobnicate'"):
        el_to_sql("${str:frobnicate(text)}")


def test_curate_corpus_end_to_end(spark):
    """quality gate -> exact dedup -> near-dup clusters -> survivors, with
    per-stage counts, over the sf0.001 documents table."""
    from datacollector_spark.operators.curation import curate_corpus

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    survivors, counts = curate_corpus(docs, min_quality=0.1, minhash_threshold=0.5)
    assert counts["input"] >= counts["after_quality"] >= counts["after_exact"]
    assert counts["after_exact"] >= counts["after_neardup"] >= 1
    # the table's planted duplicates are NEAR-dups (sf0.001: 24 of 500);
    # the near-dup stage must remove them
    assert counts["after_neardup"] < counts["input"]
    assert survivors.count() == counts["after_neardup"]
    assert set(survivors.columns) == set(docs.columns)
    # survivors contain no byte-identical texts
    n = survivors.count()
    assert survivors.select("text").distinct().count() == n


def test_connected_components_chain_and_dedup(spark):
    """Min-label propagation converges on a long chain (multi-iteration)
    and corpus dedup keeps exactly one representative per component."""
    from datacollector_spark.operators.dedup import (
        connected_components,
        dedup_corpus_by_pairs,
    )

    # chain 1-2-3-4-5 (diameter 4), separate pair (10,11), singleton 99
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "id_a long, id_b long"
    )
    comp = {r["node"]: r["label"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in [1, 2, 3, 4, 5, 10, 11, 99]], "doc_id long, text string"
    )
    kept = sorted(r["doc_id"] for r in dedup_corpus_by_pairs(docs, pairs, "doc_id").collect())
    assert kept == [1, 10, 99]  # one per component + the unpaired doc


def test_elasticsearch_sink_bulk_wiring(spark):
    """Bulk NDJSON shape + per-batch meters with an injected transport
    (ElasticSearchDTarget analog; no network in sandbox)."""
    import json

    from datacollector_spark.operators.processors import elasticsearch_sink

    def fake_transport(body: str) -> dict:
        # runs on the EXECUTOR: validate the bulk shape here and fail the
        # job on mismatch (a driver-side capture list would stay empty)
        lines = body.strip().split("\n")
        assert len(lines) % 2 == 0, "action+source pairs expected"
        items = []
        for k in range(0, len(lines), 2):
            action, source = json.loads(lines[k]), json.loads(lines[k + 1])
            meta = action["index"]
            assert meta["_index"] == "docs-v1"
            assert meta["_id"] == source["doc_id"]
            assert set(source) == {"doc_id", "text"}
            items.append({"index": {"status": 201}})
        items[-1] = {"index": {"status": 400}}  # one failure per bulk call
        return {"items": items}

    df = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], "doc_id long, text string"
    ).coalesce(1)
    res = elasticsearch_sink(
        df, "docs-v1", transport=fake_transport, id_column="doc_id", batch_size=2
    ).collect()
    assert sum(r["docs_indexed"] for r in res) == 3
    assert sum(r["errors"] for r in res) == 2  # one 400 per bulk call (2 calls)


def test_parse_collectd_ground_truth(spark):
    """Synthetic collectd binary packet (struct.pack ground truth per the
    public network-protocol spec): string/number parts set state, VALUES
    parts emit typed rows; gauge is a little-endian double on the wire."""
    import struct

    from datacollector_spark.sources.formats import parse_collectd

    def part_str(ptype, s):
        body = s.encode() + b"\0"
        return struct.pack(">HH", ptype, 4 + len(body)) + body

    def part_num(ptype, v):
        return struct.pack(">HHQ", ptype, 12, v)

    values = (
        struct.pack(">HH", 0x0006, 4 + 2 + 2 * 9)
        + struct.pack(">H", 2)
        + bytes([1, 0])  # gauge, counter
        + struct.pack("<d", 0.75)  # gauge: LE double
        + struct.pack(">Q", 4242)  # counter: BE uint64
    )
    pkt = (
        part_str(0x0000, "host-1")
        + part_num(0x0008, 1735732800 << 30)  # high-res time
        + part_str(0x0002, "cpu")
        + part_str(0x0003, "0")
        + part_str(0x0004, "cpu")
        + part_str(0x0005, "idle")
        + part_num(0x0007, 10)  # interval
        + values
        + struct.pack(">HH", 0x0200, 8) + b"\0\0\0\0"  # encrypted part: skipped
    )
    df = spark.createDataFrame([(pkt,), (b"\x00",)], "payload binary")  # + malformed
    rows = parse_collectd(df).orderBy("value_idx").collect()
    assert len(rows) == 2
    g, c = rows
    assert g["host"] == "host-1" and g["plugin"] == "cpu" and g["type_instance"] == "idle"
    assert g["time_s"] == 1735732800 and g["interval_s"] == 10
    assert g["value_type"] == "gauge" and abs(g["value"] - 0.75) < 1e-12
    assert c["value_type"] == "counter" and c["value"] == 4242.0


def test_image_decode_upgrades_when_pil_present(spark):
    """The decode stub self-upgrades to a real codec when PIL exists; the
    synthetic (non-image) gate payloads keep the deterministic fake path
    either way."""
    import numpy as np

    from datacollector_spark.operators import multimodal as mm

    fake = mm._decode_image_stub(b"\x01\x02\x03\x04" * 16, 4)
    assert fake.dtype == np.float32 and len(fake) == 4  # fake path always works

    if mm._PILImage is None:
        pytest.skip("PIL not installed in this sandbox (declared stub)")
    import io

    img = mm._PILImage.new("L", (8, 8), color=128)
    buf = io.BytesIO()
    img.save(buf, format="PNG")
    real = mm._decode_image_stub(buf.getvalue(), 4)
    assert np.allclose(real, 128.0 / 255.0, atol=1e-6)
