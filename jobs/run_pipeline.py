"""spark-submit entry point for the CDC ingest pipeline.

    python tools/package.py   # builds dist/datacollector_spark.zip
    spark-submit --py-files dist/datacollector_spark.zip \
        jobs/run_pipeline.py \
        --segments /path/to/segments --table /path/to/table \
        --checkpoint /path/to/ckpt [--lineage /path/lineage] \
        [--buckets 64] [--max-files-per-trigger 8] [--continuous]

The launch contract the north star names (spark-submit --py-files on a
multi-executor cluster). On a cluster, pass --master and executor confs to
spark-submit as usual; the code is identical in local mode.
"""

from __future__ import annotations

import argparse
import json
import logging
import os


def positive_int(text: str) -> int:
    """argparse type for counts: rejects values below 1 at parse time."""
    n = int(text)
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be >= 1, got {n}")
    return n


def non_negative_float(text: str) -> float:
    """argparse type for limits: rejects values below 0 at parse time."""
    x = float(text)
    if x < 0:
        raise argparse.ArgumentTypeError(f"must be >= 0, got {x}")
    return x


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--segments", required=True)
    ap.add_argument("--table", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--lineage", default=None)
    ap.add_argument("--buckets", type=positive_int, default=64)
    ap.add_argument("--max-files-per-trigger", type=positive_int, default=None)
    ap.add_argument("--no-transforms", action="store_true")
    ap.add_argument("--continuous", action="store_true")
    ap.add_argument("--trigger-interval", default="10 seconds")
    # production knobs (see CdcIngestPipeline): merge-on-read ingest with
    # delta compaction, snapshot expiry, late-record policy,
    # cross-batch streaming dedup window
    ap.add_argument("--merge-mode", choices=["cow", "mor"], default="cow")
    ap.add_argument(
        "--mor-compact-every",
        type=positive_int,
        default=None,
        help="compact each bucket once it holds this many delta files",
    )
    ap.add_argument("--expire-keep", type=positive_int, default=None)
    ap.add_argument("--late-limit-s", type=non_negative_float, default=None)
    ap.add_argument("--late-dir", default=None)
    ap.add_argument("--dedup-within", default=None, metavar="'10 minutes'")
    args = ap.parse_args()
    if args.late_dir and args.late_limit_s is None:
        ap.error("--late-dir needs --late-limit-s")
    # each micro-batch's lineage record, as one JSON log line
    logging.basicConfig(format="%(message)s")
    logging.getLogger("datacollector_spark").setLevel(logging.INFO)

    from pyspark.sql import SparkSession

    # spark-submit owns master/conf; only fill gentle defaults
    spark = (
        SparkSession.builder.appName("datacollector-spark-cdc")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )

    from datacollector_spark.lake import LakeTable
    from datacollector_spark.model import KEY_COLUMNS, transcripts_schema
    from datacollector_spark.operators.transforms import transcript_transforms
    from datacollector_spark.streaming import CdcIngestPipeline

    if os.path.exists(os.path.join(args.table, "_manifests")):
        table = LakeTable(spark, args.table)
    else:
        table = LakeTable.create(
            spark, args.table, transcripts_schema(), KEY_COLUMNS, num_buckets=args.buckets
        )

    pipe = CdcIngestPipeline(
        spark,
        args.segments,
        table,
        args.checkpoint,
        transforms=None if args.no_transforms else transcript_transforms,
        lineage_dir=args.lineage,
        max_files_per_trigger=args.max_files_per_trigger,
        merge_mode=args.merge_mode,
        mor_compact_every=args.mor_compact_every,
        expire_keep=args.expire_keep,
        late_limit_s=args.late_limit_s,
        late_dir=args.late_dir,
        dedup_within=args.dedup_within,
    )
    if args.continuous:
        q = pipe.run_continuous(args.trigger_interval)
        q.awaitTermination()
    else:
        pipe.run_available_now()
        print(
            "PIPELINE_RESULT "
            + json.dumps(
                {
                    "batches": pipe.batches_applied,
                    "table_version": table.refresh().version,
                    "rows": table.read().count(),
                }
            )
        )
    spark.stop()


if __name__ == "__main__":
    main()
