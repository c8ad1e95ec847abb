"""Unit tests for processor stages, dedup families, similarity, text ops."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
        (2, "completely different content about spark engines"),
        (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (4, "der hund ist nicht auf der couch und die katze"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_stream_selector_routes_in_order(spark):
    from datacollector_spark.operators.processors import stream_selector

    df = spark.createDataFrame([(1, "a"), (5, "a"), (10, "b")], "v int, t string")
    lanes = stream_selector(df, [("small", "v < 3"), ("amid", "t = 'a'")])
    assert lanes["small"].count() == 1  # v=1 (first match wins)
    assert lanes["amid"].count() == 1  # v=5
    assert lanes["default"].count() == 1  # v=10


def test_precondition_filter_error_lane(spark):
    from datacollector_spark.operators.processors import precondition_filter

    df = spark.createDataFrame([(1, "x"), (None, "y"), (3, None)], "v int, t string")
    ok, err = precondition_filter(df, "v >= 0", required_fields=["t"])
    assert ok.count() == 1 and err.count() == 2


def test_field_masker_modes(spark):
    from datacollector_spark.operators.processors import field_masker

    df = spark.createDataFrame([("415-555-1234",)], "s string")
    assert field_masker(df, ["s"], "FIXED_LENGTH").first()["s"] == "x" * 10
    assert field_masker(df, ["s"], "VARIABLE_LENGTH").first()["s"] == "x" * 12
    got = field_masker(df, ["s"], "CUSTOM", custom_mask="xxx-xxx-####").first()["s"]
    assert got == "xxx-xxx-1234"
    got = field_masker(
        df, ["s"], "REGEX", regex=r"\d{3}-(\d{3})-\d{4}", groups_to_show=1
    ).first()["s"]
    assert got == "555"


def test_field_flattener_and_merger_roundtrip(spark):
    from datacollector_spark.operators.processors import field_flattener, field_merger

    df = spark.createDataFrame([(1, 2, 3)], "a int, b int, c int")
    merged = field_merger(df, "s", ["b", "c"]).drop("b", "c")
    flat = field_flattener(merged, "s")
    assert flat.columns == ["a", "s_b", "s_c"]
    assert flat.first()["s_b"] == 2


def test_list_pivot_and_zip(spark):
    from datacollector_spark.operators.processors import field_zip, list_pivot

    df = spark.createDataFrame([([1, 2], ["a", "b"])], "xs array<int>, ys array<string>")
    zipped = field_zip(df, "z", "xs", "ys")
    piv = list_pivot(zipped.select("z"), "z")
    assert piv.count() == 2


def test_record_deduplicator_split(spark):
    from datacollector_spark.operators.processors import record_deduplicator

    df = spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], "k int, v string")
    uniq, dups = record_deduplicator(df, ["k", "v"])
    assert uniq.count() == 2 and dups.count() == 1


def test_broadcast_lookup_first_only_vs_split(spark):
    from datacollector_spark.operators.processors import broadcast_lookup

    facts = spark.createDataFrame([(1,), (2,)], "k int")
    dim = spark.createDataFrame([(1, "x"), (1, "y"), (2, "z")], "k int, v string")
    first = broadcast_lookup(facts, dim, "k", multiple="FIRST_ONLY", order_by="v")
    assert first.count() == 2
    assert first.where("k = 1").first()["v"] == "x"
    split = broadcast_lookup(facts, dim, "k", multiple="SPLIT")
    assert split.count() == 3


def test_exact_dedup(spark, docs):
    from datacollector_spark.operators.dedup import exact_dedup

    got = exact_dedup(docs, ["text"], "doc_id")
    assert got.count() == 4
    row = got.where("doc_id = 0").first()
    assert row["dup_count"] == 2


def test_minhash_lsh_finds_near_dup(spark, docs):
    from datacollector_spark.operators.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=32, bands=16, verify_threshold=0.5
    ).toPandas()
    got = {tuple(sorted((a, b))) for a, b in zip(pairs.id_a, pairs.id_b)}
    assert (0, 3) in got  # exact dup always collides
    assert (0, 1) in got  # near dup
    assert (0, 2) not in got and (2, 4) not in got


def test_simhash_near_pairs(spark, docs):
    from datacollector_spark.operators.dedup import simhash_near_pairs

    pairs = simhash_near_pairs(docs, "doc_id", "text", max_hamming=3, chunks=4).toPandas()
    got = {tuple(sorted((a, b))) for a, b in zip(pairs.id_a, pairs.id_b)}
    assert (0, 3) in got  # identical text -> hamming 0
    assert all(h <= 3 for h in pairs.hamming)


def test_ngram_jaccard_exact(spark, docs):
    from datacollector_spark.operators.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.3).toPandas()
    m = {tuple(sorted((a, b))): j for a, b, j in zip(pairs.id_a, pairs.id_b, pairs.jaccard)}
    assert m[(0, 3)] == 1.0
    # 9-word docs -> 7 shingles each, 6 shared -> 6/8
    assert abs(m[(0, 1)] - 0.75) < 1e-9


def test_cosine_topk_exact(spark):
    from datacollector_spark.operators.similarity import cosine_topk

    rows = [
        (0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [1.0, 0.05]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = cosine_topk(df, df.where("vec_id = 0"), k=2).toPandas()
    assert got.neighbor_id.tolist() == [3, 1]  # closest first


def test_lsh_ann_recall_on_near_dups(spark):
    from datacollector_spark.operators.similarity import lsh_ann_topk

    import numpy as np

    rng = np.random.RandomState(0)
    base = rng.rand(40, 8).astype("float32")
    rows = [(i, base[i].tolist()) for i in range(40)]
    # vec 100 = tiny perturbation of vec 0: its top neighbor must be found
    rows.append((100, (base[0] + 0.001).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = lsh_ann_topk(df, df.where("vec_id = 100"), dim=8, k=1, planes=4).toPandas()
    assert got.neighbor_id.tolist() == [0]


def test_lang_id_and_quality(spark, docs):
    from datacollector_spark.operators.text import lang_id, quality_features

    got = docs.select("doc_id", lang_id(F.col("text")).alias("lang")).toPandas()
    langs = dict(zip(got.doc_id, got.lang))
    assert langs[0] == "en" and langs[4] == "de"
    q = quality_features(docs).toPandas()
    assert (q.n_tokens > 0).all()
    assert ((q.quality_score >= 0) & (q.quality_score <= 1)).all()


def test_token_counts(spark):
    from datacollector_spark.operators.text import subtoken_count, token_count

    df = spark.createDataFrame([("hello world, 123 times!",)], "t string")
    got = df.select(
        token_count(F.col("t")).alias("tok"), subtoken_count(F.col("t")).alias("sub")
    ).first()
    assert got["tok"] == 4
    # hello / world / , / 123 / times / !
    assert got["sub"] == 6


def test_multimodal_plumbing(spark):
    from datacollector_spark.operators.multimodal import (
        extract_image_features,
        sample_video_frames,
        synthesize_media,
    )

    media = synthesize_media(spark, n=64)
    feats = extract_image_features(media, dim=8).toPandas()
    assert (feats.feat_dim == 8).all() and feats.decode_ok.all()
    assert feats.features.map(len).eq(8).all()
    frames = sample_video_frames(media, every_ms=5000)
    assert frames.count() > 0
    assert frames.columns == ["media_id", "frame_ts_ms", "mime"]


def test_compaction_reduces_files(spark, tmp_path):
    from datacollector_spark.lake import LakeTable
    from datacollector_spark.model import KEY_COLUMNS, transcripts_schema
    from datacollector_spark.operators.collapse import lww_collapse
    from datacollector_spark.sources.generator import ChangelogSpec, generate_changelog

    spec = ChangelogSpec(n_events=2_600, n_conversations=40, seed=3)
    df = generate_changelog(spark, spec).drop("delivery_pos")
    table = LakeTable.create(
        spark, str(tmp_path / "t"), transcripts_schema(), KEY_COLUMNS, num_buckets=4
    )
    # the last batch lands as MOR deltas, which the rewrite must fold in
    batches = [(0, 700, "cow"), (700, 1400, "cow"), (1400, 2_000, "cow"), (2_000, 2_600, "mor")]
    for lo, hi, mode in batches:
        batch = df.where((F.col("lsn") >= lo) & (F.col("lsn") < hi))
        table.merge(lww_collapse(batch), commit_key=f"b{lo}", mode=mode)
    assert table.delta_file_count() > 0
    before = table.read().orderBy("conv_id", "turn_idx").toPandas()
    # bucket-COW merges leave exactly one file per bucket, so threshold 1 is
    # a no-op; threshold 0 forces a full rewrite and must preserve state
    assert table.compact(max_files_per_bucket=1) == 0
    assert table.compact(max_files_per_bucket=0) > 0
    assert table.delta_file_count() == 0
    after = table.read().orderBy("conv_id", "turn_idx").toPandas()
    import pandas.testing as pdt

    pdt.assert_frame_equal(before, after, check_dtype=False)


def test_range_lookup_and_fuzzy_map(spark):
    from datacollector_spark.operators.processors import fuzzy_field_map, range_lookup

    facts = spark.createDataFrame([(1, 5), (2, 250), (3, 9999)], "id int, v long")
    ranges = spark.createDataFrame(
        [(0, 99, "low"), (100, 999, "mid")], "lo long, hi long, label string"
    )
    got = range_lookup(facts, ranges, "v", "lo", "hi").orderBy("id").collect()
    assert [r["label"] for r in got] == ["low", "mid", None]

    m = fuzzy_field_map(
        ["conv_id", "turn_idx", "text"], ["conversation_id", "turnidx", "txt", "junk"]
    )
    assert m["conv_id"] == "conversation_id"
    assert m["turn_idx"] == "turnidx"
    assert m["text"] == "txt"
