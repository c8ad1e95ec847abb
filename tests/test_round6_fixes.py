"""Round-6 optimization-round guards.

Each test pins an optimization (or ADVICE r5 correctness fix) that changed
an operator's internals while preserving its contract:

  * JVM mask_pii == the old pandas-UDF semantics (transforms.py)
  * IVF broadcast-column quantizer == the literal form, stays broadcast at
    large nlist (no literal plan blowup), and recalls on clustered data
  * chunk_documents extra_cols pass-through (drops the training-mix joinback)
  * stratified_sample(exact_n) pre-filter drops unlisted strata pre-shuffle
  * truncate_embeddings raises on short vectors instead of silently
    emitting wrong-dimensional output
  * SigV4 canonical query: literal '+' signs as %2B, not %20
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


# ------------------------------------------------------------------ mask_pii
def test_mask_pii_jvm_matches_python_regex(spark):
    import re

    from datacollector_spark.operators.transforms import mask_pii

    py_email = re.compile(r"[\w.+-]+@[\w-]+\.[\w.-]+")
    py_num = re.compile(r"\b\d{7,}\b")

    def py_mask(s):
        return None if s is None else py_num.sub(
            "<num>", py_email.sub("<email>", s)
        )

    cases = [
        "mail me at bob@example.com",
        "card 12345678901 ok",
        "a.b+c-d@x-y.z.w end",
        "1234567",
        "123456",
        "x12345678x",
        "no pii here",
        "",
        None,
        "two bob@a.bc and eve@d.ef",
        "num 9999999 and 88888888.",
        # the email regex is skipped when the text has no '@'
        "a.b+c-d x-y.z",
        "@",
        "x@y",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "t string")
    got = [r[0] for r in df.select(mask_pii(F.col("t"))).collect()]
    assert got == [py_mask(c) for c in cases]


# ----------------------------------------------------------------- IVF forms
def test_ivf_broadcast_centroid_form_matches_literal(spark, monkeypatch):
    """The large-nlist transport (one-row broadcast cents table) must return
    byte-identical results to the literal (oracle-checked) form."""
    import datacollector_spark.operators.similarity as S

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    q = emb.where(F.col("vec_id") < 8)
    lit = sorted(
        map(tuple, S.ivf_ann_topk(emb, q, dim=64, k=5, nlist=8, nprobe=2).collect())
    )
    monkeypatch.setattr(S, "IVF_LITERAL_MAX_ELEMS", 0)  # force broadcast form
    bc = sorted(
        map(tuple, S.ivf_ann_topk(emb, q, dim=64, k=5, nlist=8, nprobe=2).collect())
    )
    assert lit == bc


def test_ivf_large_nlist_no_literal_blowup(spark):
    """Above IVF_LITERAL_MAX_ELEMS the quantizer must ride a broadcast join
    (BroadcastNestedLoopJoin of a one-row cents frame), not plan literals."""
    import datacollector_spark.operators.similarity as S

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    # 300 x 64 = 19_200 elems > 16_384 cap -> broadcast path
    cents = [
        (i, [float((i * 31 + d) % 17 - 8) for d in range(64)]) for i in range(300)
    ]
    q = emb.where(F.col("vec_id") < 4)
    df = S.ivf_ann_topk(emb, q, dim=64, k=3, nlist=300, nprobe=4, centroids=cents)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastNestedLoopJoin" in plan
    assert df.limit(5).count() >= 0  # and it executes


def test_ivf_recall_large_nlist_clustered(spark, monkeypatch):
    """nlist=1024 on clustered data through the broadcast form: members of a
    cluster recall their own cluster's neighbors at nprobe=2."""
    import random

    import datacollector_spark.operators.similarity as S

    rng = random.Random(7)
    dim, nlist = 8, 1024
    centers = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(nlist)]
    rows = [(i, centers[i]) for i in range(nlist)]  # seed rows = the centers
    vid = nlist
    for ci in range(nlist):
        for _ in range(2):  # two members per cluster
            rows.append(
                (vid, [x + rng.uniform(-0.01, 0.01) for x in centers[ci]])
            )
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.where((F.col("vec_id") >= nlist) & (F.col("vec_id") < nlist + 16))
    bf = S.cosine_topk(emb, q, k=3).select("query_id", "neighbor_id")
    monkeypatch.setattr(S, "IVF_LITERAL_MAX_ELEMS", 0)  # force broadcast form
    ap = S.ivf_ann_topk(emb, q, dim=dim, k=3, nlist=nlist, nprobe=2).select(
        "query_id", "neighbor_id"
    )
    total = bf.count()
    hits = ap.intersect(bf).count()
    assert total > 0 and hits / total >= 0.8


# ------------------------------------------------- chunk_documents extra_cols
def test_chunk_documents_extra_cols_pass_through(spark):
    from datacollector_spark.operators.text import chunk_documents

    df = spark.createDataFrame(
        [(1, "a b c d e f g h", "train"), (2, "x y z", "val")],
        "doc_id long, text string, split string",
    )
    out = chunk_documents(
        df, max_tokens=4, overlap=1, extra_cols=["split"]
    ).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], set()).add(r["split"])
    assert by_doc == {1: {"train"}, 2: {"val"}}
    # chunking itself unchanged: same chunks as without extra_cols
    plain = chunk_documents(df, max_tokens=4, overlap=1).collect()
    assert sorted((r["doc_id"], r["chunk_idx"], r["chunk_text"]) for r in out) == sorted(
        (r["doc_id"], r["chunk_idx"], r["chunk_text"]) for r in plain
    )


# ------------------------------------------- stratified exact_n pre-filtering
def test_stratified_exact_n_prefilters_unlisted_strata(spark):
    from datacollector_spark.operators.curation import stratified_sample

    df = spark.createDataFrame(
        [(i, ["a", "b", "c", "d"][i % 4]) for i in range(400)],
        "doc_id long, source string",
    )
    out = stratified_sample(df, "source", exact_n={"a": 5, "b": 3})
    rows = out.collect()
    counts = {}
    for r in rows:
        counts[r["source"]] = counts.get(r["source"], 0) + 1
    assert counts == {"a": 5, "b": 3}
    # the unlisted strata are gone BEFORE the window exchange: the filter
    # must appear below (closer to the scan than) the Sort/Window pair
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "source IN (a,b)" in plan.replace("'", "") or "isin" in plan or "IN (" in plan


# ---------------------------------------------------- truncate guard (ADVICE)
def test_truncate_embeddings_raises_on_short_vector(spark):
    from datacollector_spark.operators.similarity import truncate_embeddings

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
    )
    ok = truncate_embeddings(df, dim_out=3).collect()
    assert len(ok[0]["embedding_trunc"]) == 3
    with pytest.raises(Exception, match="shorter than dim_out"):
        truncate_embeddings(df, dim_out=8).collect()


# --------------------------------------------------------- SigV4 '+' (ADVICE)
def test_sigv4_literal_plus_in_query_signs_as_plus():
    from datacollector_spark.functions.aws_sigv4 import sigv4_headers

    common = dict(
        method="GET",
        payload=b"",
        access_key="AKIDEXAMPLE",
        secret_key="wJalrXUtnFEMI/K7MDENG+bPxRfiCYEXAMPLEKEY",
        amz_date="20260101T000000Z",
    )
    sig = lambda url: sigv4_headers(url=url, **common)["Authorization"]
    # raw '+' and %2B both mean a literal plus -> identical signature
    assert sig("https://h/x?marker=a+b") == sig("https://h/x?marker=a%2Bb")
    # a literal plus is NOT a space -> different signature
    assert sig("https://h/x?marker=a+b") != sig("https://h/x?marker=a%20b")
