"""10^8-event MOR ingest soak with a mid-run crash (VERDICT r2 ask #8).

One long merge-on-read run of the full CDC pipeline (generate -> stream ->
collapse -> transforms -> MOR append -> periodic delta compaction), with a
crash injected in the exactly-once window (AFTER a micro-batch's table
commit, BEFORE its checkpoint advances) and a restart that must replay that
batch as a no-op. Records:

  * steady ingest events/sec (post-warmup micro-batches, from lineage)
  * manifest size per version (must stay O(buckets), not O(stream))
  * delta-file counts around each compaction (cadence evidence)
  * exactly-once verification: final table state == a single-pass batch
    LWW collapse over the same segments (count + order-independent
    xxhash64 aggregate over every column)

Usage:  python tools/mor_soak.py [n_events]
Env:    DCS_SOAK_EVENTS (default 100_000_000), DCS_SOAK_TEXT_CHARS (64),
        DCS_SOAK_SEGMENTS (32), DCS_SOAK_BATCH_FILES (2),
        DCS_SOAK_COMPACT_EVERY (4), DCS_SOAK_CRASH_AFTER (7),
        DCS_SOAK_WORKDIR (/dev/shm)

Prints one SOAK_RESULT JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_EVENTS = int(
    sys.argv[1] if len(sys.argv) > 1 else os.environ.get("DCS_SOAK_EVENTS", "100000000")
)
TEXT_CHARS = int(os.environ.get("DCS_SOAK_TEXT_CHARS", "64"))
N_SEGMENTS = int(os.environ.get("DCS_SOAK_SEGMENTS", "32"))
BATCH_FILES = int(os.environ.get("DCS_SOAK_BATCH_FILES", "2"))
COMPACT_EVERY = int(os.environ.get("DCS_SOAK_COMPACT_EVERY", "4"))
CRASH_AFTER = int(os.environ.get("DCS_SOAK_CRASH_AFTER", "7"))
WORKDIR = os.environ.get("DCS_SOAK_WORKDIR", "/dev/shm")
BUCKETS = int(os.environ.get("DCS_SOAK_BUCKETS", "64"))


class InjectedCrash(RuntimeError):
    pass


def main() -> None:
    from pyspark.sql import functions as F

    from datacollector_spark.lake import LakeTable
    from datacollector_spark.model import (
        KEY_COLUMNS,
        OP_DELETE,
        PAYLOAD_COLUMNS,
        transcripts_schema,
    )
    from datacollector_spark.operators.collapse import lww_collapse
    from datacollector_spark.operators.transforms import transcript_transforms
    from datacollector_spark.session import get_spark
    from datacollector_spark.sources.generator import (
        ChangelogSpec,
        generate_changelog,
        write_segments,
    )
    from datacollector_spark.streaming import CdcIngestPipeline

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("mor-soak", master=f"local[{cpus}]", shuffle_partitions=cpus)
    work = tempfile.mkdtemp(prefix="dcs-soak-", dir=WORKDIR)
    result: dict = {"events_requested": N_EVENTS, "cores": cpus, "buckets": BUCKETS}

    try:
        # ---- generate
        t0 = time.time()
        seg = os.path.join(work, "seg")
        spec = ChangelogSpec(
            n_events=N_EVENTS,
            n_conversations=max(N_EVENTS // 200, 100),
            seed=7,
            min_text_chars=TEXT_CHARS,
        )
        df = generate_changelog(spark, spec)
        write_segments(df, seg, n_segments=N_SEGMENTS)
        n_delivered = spark.read.parquet(seg).count()
        result["events_delivered"] = n_delivered
        result["gen_wall_s"] = round(time.time() - t0, 1)

        table = LakeTable.create(
            spark,
            os.path.join(work, "table"),
            transcripts_schema(),
            KEY_COLUMNS,
            num_buckets=BUCKETS,
        )
        lineage_dir = os.path.join(work, "lineage")

        def pipe() -> CdcIngestPipeline:
            return CdcIngestPipeline(
                spark,
                seg,
                table.refresh(),
                os.path.join(work, "ckpt"),
                transforms=transcript_transforms,
                lineage_dir=lineage_dir,
                max_files_per_trigger=BATCH_FILES,
                merge_mode="mor",
                mor_compact_every=COMPACT_EVERY,
            )

        manifest_sizes: list[int] = []
        delta_counts: list[int] = []

        def watch(crash: bool):
            def hook(p: CdcIngestPipeline, batch_id: int) -> None:
                manifest_sizes.append(
                    os.path.getsize(table._manifest_path(table.path, table.version))
                )
                delta_counts.append(table.delta_file_count())
                if crash and p.batches_applied == CRASH_AFTER:
                    # the exactly-once window: table committed batch
                    # `batch_id`, checkpoint has NOT advanced -> restart must
                    # replay it as a commit-key no-op
                    raise InjectedCrash(f"injected crash after batch {batch_id}")

            return hook

        # ---- run 1: crashes mid-stream
        p1 = pipe()
        p1.on_batch_applied = watch(crash=True)
        t0 = time.time()
        crashed = False
        try:
            p1.run_available_now()
        except Exception as e:  # the streaming query wraps InjectedCrash
            crashed = "injected crash" in str(e)
            if not crashed:
                raise
        result["crashed_as_injected"] = crashed
        result["batches_before_crash"] = p1.batches_applied

        # ---- run 2: restart from checkpoint, drain the rest
        p2 = pipe()
        p2.on_batch_applied = watch(crash=False)
        p2.run_available_now()
        ingest_wall = time.time() - t0
        result["batches_after_restart"] = p2.batches_applied

        # ---- lineage: replay no-op + steady throughput
        lin = spark.read.parquet(lineage_dir).orderBy("batch_id").collect()
        noop_replays = [int(r["batch_id"]) for r in lin if r["noop"]]
        result["replayed_batches_nooped"] = noop_replays
        walls = [float(r["wall_s"]) for r in lin if not r["noop"]]
        rows = [r["rows_source"] for r in lin if not r["noop"]]
        result["batch_walls"] = [round(w, 1) for w in walls]
        # steady state: drop the first (warmup) batch of each run
        result["ingest_wall_s"] = round(ingest_wall, 1)
        result["events_per_sec_overall"] = round(n_delivered / ingest_wall, 1)
        ss_wall = sum(walls[1:])
        ss_rows = sum(rows[1:])
        # rows_source is the COLLAPSED batch (LWW winners); delivered events
        # per batch are uniform (fixed maxFilesPerTrigger over equal
        # segments), so the steady DELIVERED rate uses the per-batch estimate
        ev_per_batch = n_delivered / max(len(walls), 1)
        result["steady_events_per_sec"] = (
            round(ev_per_batch * (len(walls) - 1) / ss_wall, 1) if ss_wall else None
        )
        result["steady_collapsed_rows_per_sec"] = (
            round(ss_rows / ss_wall, 1) if ss_wall else None
        )
        result["manifest_bytes_per_version"] = manifest_sizes
        result["manifest_bytes_max"] = max(manifest_sizes)
        result["delta_files_per_batch"] = delta_counts
        result["compact_every"] = COMPACT_EVERY

        # ---- exactly-once verification: one-pass batch ground truth
        t0 = time.time()
        raw = spark.read.parquet(seg)
        carries = ["op", "lsn"] + [c for c in PAYLOAD_COLUMNS if c not in KEY_COLUMNS]
        expected = transcript_transforms(
            lww_collapse(raw, key_columns=KEY_COLUMNS, carry_columns=carries)
        ).where(F.col("op") != OP_DELETE)
        cols = [c for c in PAYLOAD_COLUMNS]
        # order-independent content hash; summed as decimal(38,0) (a sum of
        # 10^8 int64 hashes overflows int64 under ANSI)
        hcol = F.xxhash64(*cols).cast("decimal(38,0)")
        exp = expected.agg(
            F.count(F.lit(1)).alias("n"), F.sum(hcol).alias("h")
        ).first()
        got_df = table.refresh().read()
        got = got_df.agg(
            F.count(F.lit(1)).alias("n"), F.sum(hcol).alias("h")
        ).first()
        result["verify_wall_s"] = round(time.time() - t0, 1)
        result["final_rows"] = int(got["n"])
        result["state_match"] = bool(exp["n"] == got["n"] and exp["h"] == got["h"])
        result["expected_rows"] = int(exp["n"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()

    print("SOAK_RESULT " + json.dumps(result))
    sys.exit(0 if result.get("state_match") and result.get("crashed_as_injected") else 1)


if __name__ == "__main__":
    main()
