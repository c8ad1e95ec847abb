"""Extra measurement harness for the optimization round (guide §1).

NOT the graded bench — bench.py is frozen; this file isolates per-query
computation with the noop sink (guide §1.4), runs min-of-N reps with the
same session settings bench.py uses, labels jobs (§1.5), and can dump
`.explain("formatted")` plans to plans/<tag>/<query>_<suffix>.txt.

Usage:
    python bench_extra.py queries [reps] [query ...]   # noop timing
    python bench_extra.py explain <tag> <suffix> [query ...]
    python bench_extra.py cdc [events] [segments]      # one CDC leg w/ phases
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

HEADLINE = [
    "cdc_lww_final_state",
    "tpch_pricing_summary",
    "lookup_broadcast_dim",
    "window_topk_per_key",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "text_quality",
]


def _session():
    from datacollector_spark.session import get_spark

    extra = {}
    for kv in os.environ.get("DCS_EXTRA_CONF", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            extra[k] = v
    return get_spark(
        app_name="dcs-bench-extra",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf=extra or None,
    )


def _noise():
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    return round(time.perf_counter() - t0, 3)


def cmd_queries(argv: list[str]) -> None:
    reps = int(argv[0]) if argv and argv[0].isdigit() else 3
    names = [a for a in argv if not a.isdigit()] or HEADLINE
    import __spark_entry__ as entrymod

    spark = _session()
    qs = entrymod.queries()
    out: dict[str, dict] = {}
    for name in names:
        samples = []
        for r in range(reps):
            spark.sparkContext.setJobDescription(f"{name} rep{r}")
            t0 = time.perf_counter()
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 3))
        out[name] = {"min": min(samples), "samples": samples, "noise_s": _noise()}
        print(f"{name}: min={min(samples)} samples={samples}", flush=True)
    print("RESULT " + json.dumps(out))


def cmd_explain(argv: list[str]) -> None:
    tag, suffix = argv[0], argv[1]
    names = argv[2:] or HEADLINE
    import __spark_entry__ as entrymod

    os.makedirs(f"plans/{tag}", exist_ok=True)
    spark = _session()
    qs = entrymod.queries()
    for name in names:
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = f"plans/{tag}/{name}_{suffix}.txt"
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")


def cmd_cdc(argv: list[str]) -> None:
    """One full-size COW merge leg (the scaling-leg shape): generate a
    changelog, collapse+transform+merge once, print phase timings."""
    import shutil
    import tempfile

    seg_existing = None
    if argv and not argv[0].isdigit():
        seg_existing = argv[0]
        argv = argv[1:]
    events = int(argv[0]) if argv else 8_000_000
    reps = int(argv[1]) if len(argv) > 1 else 2
    from datacollector_spark.lake import LakeTable
    from datacollector_spark.model import KEY_COLUMNS, transcripts_schema
    from datacollector_spark.operators.collapse import lww_collapse
    from datacollector_spark.operators.transforms import transcript_transforms
    from datacollector_spark.sources.generator import (
        ChangelogSpec,
        generate_changelog,
        write_segments,
    )

    spark = _session()
    workdir = "/dev/shm" if os.path.isdir("/dev/shm") else None
    work = tempfile.mkdtemp(prefix="dcs-extra-cdc-", dir=workdir)
    if seg_existing:
        seg = seg_existing
    else:
        seg = os.path.join(work, "seg")
        spec = ChangelogSpec(
            n_events=events, n_conversations=max(events // 200, 100), seed=42,
            min_text_chars=512,
        )
        write_segments(generate_changelog(spark, spec), seg, n_segments=16)
    raw = spark.read.parquet(seg)
    table = LakeTable.create(
        spark, os.path.join(work, "table"), transcripts_schema(), KEY_COLUMNS,
        num_buckets=32,
    )
    walls = []
    for i in range(reps + 1):  # rep 0 = warmup
        spark.sparkContext.setJobDescription(f"cdc merge rep{i}")
        t0 = time.perf_counter()
        res = table.merge(
            transcript_transforms(lww_collapse(raw)), commit_key=f"r{i}", mode="cow"
        )
        w = time.perf_counter() - t0
        table.expire_snapshots(keep_last=1)
        if i > 0:
            walls.append(round(w, 2))
        print(f"rep{i}: wall={w:.2f}s phases={res.phase_timings} noise={_noise()}")
    shutil.rmtree(work, ignore_errors=True)
    print("RESULT " + json.dumps({"events": events, "walls": walls}))


def cmd_collapse(argv: list[str]) -> None:
    """Compare LWW-collapse physical strategies on bench-shaped data
    (guide §1: measure before changing the algorithm). All variants are
    semantically identical on contract data; noop-sink timed, min-of-N."""
    import shutil
    import tempfile

    from pyspark.sql import Window
    from datacollector_spark.operators.collapse import packed_order
    from datacollector_spark.operators.transforms import transcript_transforms
    from datacollector_spark.sources.generator import (
        ChangelogSpec,
        generate_changelog,
        write_segments,
    )
    from pyspark.sql import functions as F

    spark = _session()
    work = None
    if argv and not argv[0].isdigit():
        # explicit parquet path(s): e.g. a slice of real bench segments
        paths = argv[0].split(",")
        reps = int(argv[1]) if len(argv) > 1 else 3
        raw = spark.read.parquet(*paths)
    else:
        events = int(argv[0]) if argv else 2_000_000
        reps = int(argv[1]) if len(argv) > 1 else 3
        workdir = "/dev/shm" if os.path.isdir("/dev/shm") else None
        work = tempfile.mkdtemp(prefix="dcs-collapse-", dir=workdir)
        seg = os.path.join(work, "seg")
        spec = ChangelogSpec(
            n_events=events, n_conversations=max(events // 200, 100), seed=42,
            min_text_chars=512,
        )
        write_segments(generate_changelog(spark, spec), seg, n_segments=16)
        raw = spark.read.parquet(seg)
    keys = ["conv_id", "turn_idx"]
    carries = [c for c in raw.columns if c not in keys]

    def v_joinback_distinct():
        packed = packed_order(F.col("lsn"), F.col("seq_in_tx"))
        winners = (
            raw.select(*keys, packed.alias("_pk"))
            .groupBy(*keys)
            .agg(F.max("_pk").alias("_win"))
        )
        return (
            raw.withColumn("_pk", packed)
            .join(winners, on=keys)
            .where(F.col("_pk") == F.col("_win"))
            .drop("_pk", "_win")
            .distinct()
            .select(*keys, *carries)
        )

    def v_window():
        packed = packed_order(F.col("lsn"), F.col("seq_in_tx"))
        w = Window.partitionBy(*keys).orderBy(F.col("_pk").desc())
        return (
            raw.withColumn("_pk", packed)
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select(*keys, *carries)
        )

    variants = [
        ("joinback_distinct", v_joinback_distinct),
        ("window", v_window),
    ]
    out = {name: {"samples": []} for name, _ in variants}
    # round-robin reps so host noise decorrelates from variant identity
    for r in range(reps + 1):  # round 0 = warmup
        for name, fn in variants:
            spark.sparkContext.setJobDescription(f"collapse {name} rep{r}")
            t0 = time.perf_counter()
            transcript_transforms(fn()).write.format("noop").mode("overwrite").save()
            if r > 0:
                out[name]["samples"].append(round(time.perf_counter() - t0, 3))
    for name, fn in variants:
        out[name]["min"] = min(out[name]["samples"])
        out[name]["rows"] = fn().count()
        print(f"{name}: min={out[name]['min']} samples={out[name]['samples']} rows={out[name]['rows']}", flush=True)
    if work:
        shutil.rmtree(work, ignore_errors=True)
    print("RESULT " + json.dumps(out))


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "queries"
    argv = sys.argv[2:]
    if cmd == "queries":
        cmd_queries(argv)
    elif cmd == "explain":
        cmd_explain(argv)
    elif cmd == "cdc":
        cmd_cdc(argv)
    elif cmd == "collapse":
        cmd_collapse(argv)
    else:
        raise SystemExit(f"unknown command {cmd}")
