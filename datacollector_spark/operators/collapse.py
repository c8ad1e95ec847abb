"""Last-writer-wins collapse of a change-event micro-batch.

The distributed generalization of two reference behaviors:
  * the Record Deduplicator (basic-lib/.../dedup/DeDupProcessor.java:122-143)
    — exact-duplicate suppression; and
  * GTID incomplete-transaction replay skip
    (mysql-binlog-lib/.../BinaryLogConsumer.java:148-155) — at-least-once
    delivery collapsed to effectively-once per key.

Winner = max (lsn, seq_in_tx) per key; exact duplicates collapse to one
row. ONE pass — row_number() over (partition keys, order packed DESC), keep
rank 1. On its own input Spark 3.5+/4.x plans the ``_rn = 1`` filter as a
map-side WindowGroupLimit BEFORE a hash(keys) exchange, so the shuffle
carries ~winners from a single scan of the batch. The ingest pipeline
instead hands it a batch already hash-partitioned by the lake table's
bucket and collapses per (_bucket, keys): the window then plans no exchange
at all, and the lake MERGE reuses that one bucket exchange for its cache,
stats, fold and write (guide §2.4: operations keyed the same way share one
exchange). A hot key stays in its bucket's partition either way. Measured
on the bench micro-batch shape (2M x 512B rows, ~7 rows/key, local[32]):
2.90 s vs 3.60 s for a winners-aggregate + join-back (min-of-3, noop sink).
Null keys group together (matching SQL PARTITION BY semantics) — key
columns are non-null by pipeline contract either way.

Order packing: packed = lsn * 2^16 + seq_in_tx. Contract: 0 <= lsn < 2^47
and 0 <= seq_in_tx < 2^16 (seq is masked defensively) — the generator and
every decoder in sources/changelog_formats.py satisfy this, and the budget
is ENFORCED at this packing site: Spark's shiftleft wraps int64 silently,
so an out-of-budget lsn would otherwise flip LWW winners with no error.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from datacollector_spark.model import KEY_COLUMNS

_SEQ_BITS = 16
LSN_BUDGET_BITS = 64 - _SEQ_BITS - 1  # 47: packed order must fit signed int64


def packed_order(lsn: Column, seq: Column) -> Column:
    """lsn<<16 | (seq & 0xFFFF), with the lsn budget enforced distributively
    (raise_error, not silent int64 wrap). Shared by the in-batch collapse and
    the lake merge (lake/table.py) so both use the identical total order."""
    seq_m = seq.cast("long").bitwiseAND(F.lit((1 << _SEQ_BITS) - 1))
    packed = F.shiftleft(lsn, _SEQ_BITS) + seq_m
    return F.when(
        (lsn >= 0) & (lsn < F.lit(1 << LSN_BUDGET_BITS).cast("long")), packed
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"lsn out of packing budget (0 <= lsn < 2^{LSN_BUDGET_BITS}): "),
                lsn.cast("string"),
            )
        ).cast("long")
    )


def lww_collapse(
    df: DataFrame,
    key_columns: list[str] | None = None,
    carry_columns: list[str] | None = None,
) -> DataFrame:
    """Collapse to one row per key: the row with the max (lsn, seq_in_tx).

    ``carry_columns`` — columns to carry through (defaults to every non-key
    column).
    """
    keys = key_columns or KEY_COLUMNS
    carries = carry_columns or [c for c in df.columns if c not in keys]
    for oc in ("lsn", "seq_in_tx"):
        if oc not in carries:
            carries = carries + [oc]

    w = Window.partitionBy(*keys).orderBy(F.col("_pk").desc())
    return (
        df.withColumn("_pk", packed_order(F.col("lsn"), F.col("seq_in_tx")))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(*keys, *carries)
    )
