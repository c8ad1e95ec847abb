"""Data model: the CDC change-event envelope and the transcripts table.

The envelope mirrors the reference's binlog change record
(mysql-binlog-lib/.../origin/mysql/RecordConverter.java:44-56,185-204) and its
operation codes (commonlib/.../lib/operation/OperationType.java:29-33):
INSERT=1, DELETE=2, UPDATE=3, UPSERT=4. The reference carries the op code and
LSN in per-record header attributes; Spark has no per-row side channel, so the
envelope is part of the schema (SURVEY.md §1.2).

(lsn, seq_in_tx) is the TOTAL order of the changelog — the Spark encoding of
the reference's (BinLogFilename, BinLogPosition) / GTID SeqNo offsets
(BinLogPositionSourceOffset.java:34, GtidSourceOffset.java:66).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Operation codes — OperationType.java:29-33
OP_INSERT = 1
OP_DELETE = 2
OP_UPDATE = 3
OP_UPSERT = 4
OP_UNSUPPORTED = 5

# Columns of the payload row (input_hint: the transcripts table)
PAYLOAD_COLUMNS: list[str] = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
KEY_COLUMNS: list[str] = ["conv_id", "turn_idx"]
# Change-event envelope: op code, total order, source coordinates
ENVELOPE_COLUMNS: tuple[str, ...] = (
    "op", "lsn", "seq_in_tx", "src_table", "server_id", "commit_ts"
)

# Engine-maintained column on the target table: LSN of the last applied
# change. This is the MERGE idempotency guard (the reference's GTID
# incomplete-transaction skip, BinaryLogConsumer.java:148-155, generalized).
LSN_COLUMN = "_lsn"


def transcripts_schema(extra_fields: list[T.StructField] | None = None) -> T.StructType:
    """Target table schema (FIXTURES.md F1). ``extra_fields`` models schema
    evolution (new tool/text-variant columns added mid-stream)."""
    fields = [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
    if extra_fields:
        fields.extend(extra_fields)
    return T.StructType(fields)


def changelog_schema(extra_fields: list[T.StructField] | None = None) -> T.StructType:
    """Change-event envelope schema (FIXTURES.md F2).

    Envelope columns first (op / total order / source coordinates), then the
    after-image payload, then the nullable before-image (`OldData` in
    RecordConverter.java:161-182).
    """
    fields = [
        T.StructField("op", T.IntegerType(), False),
        T.StructField("lsn", T.LongType(), False),
        T.StructField("seq_in_tx", T.IntegerType(), False),
        T.StructField("src_table", T.StringType(), True),
        T.StructField("server_id", T.LongType(), True),
        T.StructField("commit_ts", T.TimestampType(), True),
        # after-image
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
        # before-image
        T.StructField("old_role", T.StringType(), True),
        T.StructField("old_text", T.StringType(), True),
        T.StructField("old_tool", T.StringType(), True),
        T.StructField("old_ts", T.TimestampType(), True),
    ]
    if extra_fields:
        fields.extend(extra_fields)
    return T.StructType(fields)


def payload_columns_of(schema: T.StructType) -> list[str]:
    """Payload (after-image) columns present in a changelog schema — i.e.
    everything that is not envelope or before-image."""
    return [
        f.name
        for f in schema.fields
        if f.name not in ENVELOPE_COLUMNS and not f.name.startswith("old_")
    ]
