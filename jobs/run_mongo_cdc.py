"""spark-submit entry point for MongoDB-oplog CDC ingest: tail the oplog
over the wire, land envelope segments into a spool dir, apply through the
exactly-once streaming pipeline into the lake table.

    python tools/package.py   # builds dist/datacollector_spark.zip
    spark-submit --py-files dist/datacollector_spark.zip \
        jobs/run_mongo_cdc.py \
        --mongo-host HOST --mongo-port 27017 \
        --spool /path/spool --offset-file /path/oplog.offset \
        --table /path/table --checkpoint /path/ckpt \
        [--cycles 0] [--poll-interval 5] [--buckets 64] [--merge-mode mor]

Each cycle = one oplog drain (range-partitioned across executors, resumed
from the durable ``tsSeconds::ordinal`` offset file) + one AvailableNow
pipeline pass.  ``--cycles 0`` loops forever (the reference's tailable
cursor); a bounded count is the backfill/test mode.  Crash anywhere is
safe: landing is atomic tmp+rename, the offset file advances only after
the segment is visible, and duplicate re-landing no-ops under the LWW
merge guard (see sources/mongodb.mongodb_oplog_spool_tail).
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import time

# sibling script: jobs/ is the first sys.path entry when a job runs as a script
from run_pipeline import positive_int


def non_negative_int(text: str) -> int:
    """argparse type for --cycles: rejects values below 0 at parse time
    (0 is the documented "loop forever")."""
    n = int(text)
    if n < 0:
        raise argparse.ArgumentTypeError(f"must be >= 0, got {n}")
    return n


def transcript_payload_schema() -> dict[str, str]:
    """The transcripts payload extraction ({column: spark-sql type}) —
    input_hint's table shape, lifted from the oplog after-image map."""
    return {
        "conv_id": "string",
        "turn_idx": "int",
        "role": "string",
        "text": "string",
        "tool": "string",
        "ts": "timestamp",
    }


def envelope_schema():
    from pyspark.sql import types as T

    fields = [
        T.StructField("op", T.IntegerType()),
        T.StructField("lsn", T.LongType()),
        T.StructField("seq_in_tx", T.IntegerType()),
        T.StructField("src_table", T.StringType()),
        T.StructField("server_id", T.LongType()),
        T.StructField("commit_ts", T.TimestampType()),
    ]
    spark_types = {
        "string": T.StringType(), "int": T.IntegerType(),
        "timestamp": T.TimestampType(),
    }
    payload = transcript_payload_schema()
    for c, t in payload.items():
        fields.append(T.StructField(c, spark_types[t]))
    for c, t in payload.items():
        if c not in ("conv_id", "turn_idx"):
            fields.append(T.StructField(f"old_{c}", spark_types[t]))
    return T.StructType(fields)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mongo-host", required=True)
    ap.add_argument("--mongo-port", type=int, required=True)
    ap.add_argument("--oplog-db", default="local")
    ap.add_argument("--oplog-collection", default="oplog.rs")
    ap.add_argument("--initial-ts", type=int, default=-1)
    ap.add_argument("--initial-ordinal", type=int, default=-1)
    ap.add_argument("--num-partitions", type=positive_int, default=8)
    ap.add_argument("--spool", required=True)
    ap.add_argument("--offset-file", required=True)
    ap.add_argument("--table", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--lineage", default=None)
    ap.add_argument("--buckets", type=positive_int, default=64)
    ap.add_argument("--merge-mode", choices=["cow", "mor"], default="cow")
    ap.add_argument("--mor-compact-every", type=positive_int, default=None)
    ap.add_argument("--cycles", type=non_negative_int, default=1,
                    help="tail cycles to run; 0 = loop forever")
    ap.add_argument("--poll-interval", type=float, default=5.0)
    args = ap.parse_args()
    # each micro-batch's lineage record, as one JSON log line
    logging.basicConfig(format="%(message)s")
    logging.getLogger("datacollector_spark").setLevel(logging.INFO)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("datacollector-spark-mongo-cdc")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )

    from datacollector_spark.lake import LakeTable
    from datacollector_spark.model import KEY_COLUMNS, payload_columns_of
    from datacollector_spark.sources.mongodb import (
        MongoOplogConfig,
        mongodb_oplog_spool_tail,
    )
    from datacollector_spark.streaming import CdcIngestPipeline

    schema = envelope_schema()
    if os.path.exists(os.path.join(args.table, "_manifests")):
        table = LakeTable(spark, args.table)
    else:
        from pyspark.sql import types as T

        payload_fields = [schema[c] for c in payload_columns_of(schema)]
        table = LakeTable.create(
            spark, args.table, T.StructType(payload_fields), KEY_COLUMNS,
            num_buckets=args.buckets,
        )

    cfg = MongoOplogConfig(
        args.mongo_host,
        args.mongo_port,
        database=args.oplog_db,
        collection=args.oplog_collection,
        initial_ts=args.initial_ts,
        initial_ordinal=args.initial_ordinal,
        num_partitions=args.num_partitions,
    )
    pipe = CdcIngestPipeline(
        spark,
        args.spool,
        table,
        args.checkpoint,
        source_schema=schema,
        lineage_dir=args.lineage,
        merge_mode=args.merge_mode,
        mor_compact_every=args.mor_compact_every,
    )
    os.makedirs(args.spool, exist_ok=True)

    cycle = 0
    total = 0
    while True:
        cycle += 1
        n, offset = mongodb_oplog_spool_tail(
            spark, cfg, args.spool, args.offset_file,
            transcript_payload_schema(),
        )
        total += n
        if n:
            pipe.run_available_now()
        if args.cycles and cycle >= args.cycles:
            break
        if not n:
            time.sleep(args.poll_interval)

    print(
        "MONGO_CDC_RESULT "
        + json.dumps(
            {
                "cycles": cycle,
                "events_landed": total,
                "offset": offset,
                "batches": pipe.batches_applied,
                "table_version": table.refresh().version,
                "rows": table.read().count(),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
