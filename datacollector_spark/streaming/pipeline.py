"""The CDC ingest pipeline: Structured Streaming changelog tail -> transform
-> LWW collapse -> MERGE into the lake table, with lineage and exactly-once.

This is the engine's equivalent of the reference's production run loop
(container/.../execution/runner/common/ProductionPipelineRunner.java:454-502):
  * micro-batch            = SDC batch (FullPipeBatch)
  * checkpointLocation     = SDC's offset.json
    (runner/production/ProductionSourceOffsetTracker.java:59-85)
  * foreachBatch body      = the stage DAG (transform stages -> target)
  * commit-key + LSN guard = delivery guarantee, upgraded from SDC's
    AT_LEAST_ONCE (ProductionPipelineRunner.java:709-716) to exactly-once:
    a replayed micro-batch is a no-op at the table
  * lineage table          = SDC's per-batch meters + event records
    (ProductionPipelineRunner.java:723-745, EventSink)
  * maxFilesPerTrigger     = SDC's rate limiter (PipelineConfigBean.java:255)

Schema drift: new payload columns arriving in the stream are ALTER-ADDed to
the table inside the micro-batch, before MERGE (the Hive drift-sink flow,
SURVEY.md §2.6). A drift that changes the SOURCE schema requires a stream
restart with the widened read schema — the same contract as the reference's
Oracle CDC origin, which emits a DDL event and refreshes its schema cache
(jdbc-lib/.../cdc/oracle/OracleCDCSource.java:460-462): position is held in
the checkpoint, so the restart resumes losslessly.
"""

from __future__ import annotations

import dataclasses
import json
import logging
import os
import time
from dataclasses import dataclass
from urllib.parse import quote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datacollector_spark.lake.table import _BUCKET_COL, LakeTable, MergeResult
from datacollector_spark.model import changelog_schema, payload_columns_of
from datacollector_spark.operators.collapse import lww_collapse

_log = logging.getLogger(__name__)

# The per-batch record: one row per micro-batch, replays included. The
# MergeResult fields in declaration order, then what the pipeline adds.
LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.LongType()),
        T.StructField("version", T.LongType()),
        T.StructField("commit_key", T.StringType()),
        T.StructField("mode", T.StringType()),
        T.StructField("noop", T.BooleanType()),
        T.StructField("rows_source", T.LongType()),
        T.StructField("rows_inserted", T.LongType()),
        T.StructField("rows_updated", T.LongType()),
        T.StructField("rows_deleted", T.LongType()),
        T.StructField("rows_lww_skipped", T.LongType()),
        T.StructField("buckets_touched", T.LongType()),
        T.StructField("max_lsn", T.LongType()),
        # the latest commit_ts the batch applied, in epoch microseconds
        T.StructField("max_commit_ts", T.LongType()),
        T.StructField("evolved_columns", T.ArrayType(T.StringType())),
        # what the merge took in per bucket (offsets applied per partition)
        T.StructField(
            "bucket_stats",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("bucket", T.IntegerType()),
                        T.StructField("rows_source", T.LongType()),
                        T.StructField("min_lsn", T.LongType()),
                        T.StructField("max_lsn", T.LongType()),
                    ]
                )
            ),
        ),
        # per-stage timers (ProductionPipelineRunner.java:723-745 batch
        # processing timer, split by merge phase)
        T.StructField("phase_timings", T.MapType(T.StringType(), T.DoubleType())),
        T.StructField("wall_s", T.DoubleType()),
        # the source files the batch applied (EventCreator.java:45's
        # new-file/finished-file events: a file source delivers a file in
        # exactly one micro-batch)
        T.StructField("files", T.ArrayType(T.StringType())),
        # the data rules that fired on the batch
        T.StructField(
            "alerts",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("rule", T.StringType()),
                        T.StructField("level", T.StringType()),
                        T.StructField("count", T.LongType()),
                        T.StructField("window_count", T.LongType()),
                        T.StructField("window_batches", T.IntegerType()),
                        T.StructField("sampling_pct", T.DoubleType()),
                    ]
                )
            ),
        ),
    ]
)


@dataclass
class DataRule:
    """A data rule: SQL condition sampled over every micro-batch; fires an
    alert when at least ``min_count`` rows match
    (container/.../config/DataRuleDefinition.java:28-66).

    ``sampling_pct`` (0..1] mirrors the reference's samplingPercentage: the
    rule is evaluated on a uniform sample of the batch (one shared seeded
    draw per batch, projected as a column — nondeterministic expressions
    are illegal inside CollectMetrics), and ``min_count`` applies to the
    SAMPLED match count, as in the reference. Costs nothing extra: the
    sample predicate folds into the existing observe() pass.

    ``window_batches`` > 1 is the reference's moving-window alert meter
    (DataObserverRunner's EWMA/window meters, simplified to a rolling sum):
    the alert fires when the SUM of match counts over the last K
    micro-batches reaches ``min_count`` — a slow drip of bad records
    trips the alert even though no single batch does."""

    name: str
    condition: str  # SQL boolean expression over the changelog columns
    min_count: int = 1
    level: str = "warn"
    sampling_pct: float = 1.0
    window_batches: int = 1

    def __post_init__(self):
        if not 0 < self.sampling_pct <= 1:
            raise ValueError(f"sampling_pct must be in (0, 1], got {self.sampling_pct}")
        if self.window_batches < 1:
            raise ValueError(f"window_batches must be >= 1, got {self.window_batches}")


class CdcIngestPipeline:
    """Tail a changelog directory of parquet 'binlog segments' and apply it
    to a LakeTable exactly once."""

    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        table: LakeTable,
        checkpoint_dir: str,
        source_schema: T.StructType | None = None,
        transforms=None,  # Callable[[DataFrame], DataFrame] over the batch
        lineage_dir: str | None = None,
        max_files_per_trigger: int | None = None,
        late_limit_s: float | None = None,
        late_dir: str | None = None,
        data_rules: list["DataRule"] | None = None,
        expire_keep: int | None = None,
        merge_mode: str = "cow",
        mor_compact_every: int | None = None,
        dedup_within: str | None = None,
    ):
        # bad arguments fail here, not in the stream's first batch
        if merge_mode not in ("cow", "mor"):
            raise ValueError(f"merge_mode must be 'cow' or 'mor', got {merge_mode!r}")
        for name, n in (("expire_keep", expire_keep), ("mor_compact_every", mor_compact_every)):
            if n is not None and n < 1:
                raise ValueError(f"{name} must be >= 1, got {n}")
        if late_limit_s is not None and late_limit_s < 0:
            raise ValueError(f"late_limit_s must be >= 0, got {late_limit_s}")
        if late_dir and late_limit_s is None:
            raise ValueError("late_dir needs late_limit_s")
        self.spark = spark
        self.source_dir = source_dir
        self.table = table
        self.checkpoint_dir = checkpoint_dir
        self.source_schema = source_schema or changelog_schema()
        self.transforms = transforms
        self.lineage_dir = lineage_dir
        self.max_files_per_trigger = max_files_per_trigger
        self.batches_applied = 0
        self.on_batch_applied = None  # test hook (fault injection)
        # Late-record policy (HDFS target timeDriver + lateRecordsLimit,
        # hdfs-protolib/.../HdfsTargetConfigBean.java:213,339-395): events
        # whose commit_ts lags the stream's high-water mark by more than the
        # limit are split to a side output instead of merged. The mark is
        # the latest commit_ts of the rows the stream applied (the collapse
        # winners), committed in the table manifest with the data; it is
        # the latest commit_ts seen whenever commit_ts does not decrease as
        # (lsn, seq_in_tx) increases, as in binlog commit order.
        self.late_limit_s = late_limit_s
        self.late_dir = late_dir
        # Data rules (container/.../config/DataRuleDefinition.java:28-66 +
        # DataObserverRunner): SQL condition + threshold, evaluated per
        # micro-batch; firings go to the batch's lineage row.
        self.data_rules = data_rules or []
        # rolling per-rule match counts for moving-window meters (bounded:
        # each deque holds at most window_batches entries)
        from collections import deque

        self._rule_windows: list = [
            deque(maxlen=r.window_batches) for r in self.data_rules
        ]
        # auto-expire old snapshots every batch (COW storage hygiene); keep
        # enough versions for the exactly-once replay window
        self.expire_keep = expire_keep
        # merge_mode='mor': append-only ingest (merge-on-read deltas); after
        # each merge, every bucket holding `mor_compact_every` pending delta
        # files is compacted. The count is read from the table, so the
        # cadence survives a restart (see LakeTable.merge docstring).
        self.merge_mode = merge_mode
        self.mor_compact_every = mor_compact_every
        # Streaming dedup window (DeDupProcessor.java:122-143's time window):
        # duplicate deliveries of the same (lsn, seq_in_tx) are dropped
        # ACROSS micro-batches while their event time is within
        # ``dedup_within`` of the stream's watermark — Spark keeps the seen
        # keys in checkpointed state and expires them with the watermark, so
        # state is bounded (the reference's maxRecordsToCompare analog).
        # In-batch duplicates are collapsed by lww_collapse regardless; the
        # LSN guard at the table catches anything beyond the window.
        self.dedup_within = dedup_within
        # Commit keys are namespaced by the checkpoint identity: stable
        # across RESTARTS of the same stream (exactly-once replay dedupe),
        # distinct across DIFFERENT streams into the same table.
        import hashlib

        self.stream_id = hashlib.sha1(
            checkpoint_dir.rstrip("/").encode()
        ).hexdigest()[:12]

    # ------------------------------------------------------------ plumbing
    def _read_stream(self) -> DataFrame:
        reader = self.spark.readStream.schema(self.source_schema)
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        df = reader.parquet(self.source_dir)
        if self.dedup_within is not None:
            df = df.withWatermark("commit_ts", self.dedup_within)
            df = df.dropDuplicatesWithinWatermark(["lsn", "seq_in_tx"])
        return df

    def _record(
        self, batch_id: int, res: MergeResult, t0: float, files=(), alerts=()
    ) -> dict:
        """Write and return the batch's one record: the merge's fields plus
        the batch id, wall time, source files and rule firings. It is logged
        as one JSON line at INFO and, with ``lineage_dir``, appended as one
        parquet file (lineage is observability: table correctness never
        depends on it)."""
        row = {
            "batch_id": batch_id,
            **dataclasses.asdict(res),
            "wall_s": time.time() - t0,
            "files": list(files),
            "alerts": list(alerts),
        }
        _log.info(json.dumps(row))
        if not self.lineage_dir:
            return row
        # Driver-direct parquet append (pyarrow), not a Spark job: the record
        # is one metadata row per batch, but createDataFrame + a 1-task write
        # job costs seconds of job-scheduling/committer overhead per write
        # (measured 5.9 s at the end of a 28 s ingest run — guide §5: the
        # driver should do almost no data work, and conversely tiny metadata
        # should not be pushed through the cluster machinery). The Arrow
        # schema is derived from LINEAGE_SCHEMA, so Spark reads the
        # directory back with exactly that schema.
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        table = pa.Table.from_pylist([row], schema=to_arrow_schema(LINEAGE_SCHEMA))
        os.makedirs(self.lineage_dir, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.snappy.parquet"
        tmp = os.path.join(self.lineage_dir, "." + name + ".tmp")
        pq.write_table(table, tmp, compression="snappy")
        os.replace(tmp, os.path.join(self.lineage_dir, name))
        return row

    # ----------------------------------------------------------- the batch
    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> dict:
        """One micro-batch: transform -> collapse -> merge; returns the
        batch's record (the lineage row). The engine's only path from a
        change batch to a table commit: the stream's foreachBatch body, each
        table of the multi-table router, and the entry point for batch
        backfills and the PipelineSpec lake sinks (``jdbc_producer_lake``,
        ``kudu_lake``), which apply their frame as batch 0."""
        t0 = time.time()
        commit_key = f"{self.stream_id}:microbatch-{batch_id}"
        if self.table.committed(commit_key):
            # replayed after a crash that hit AFTER table commit but BEFORE
            # the checkpoint advanced — the exactly-once window
            res = MergeResult(self.table.version, commit_key, self.merge_mode, noop=True)
            return self._record(batch_id, res, t0)

        df = batch_df

        # ---- observer: data rules and source files, one CollectMetrics node
        # evaluated inside the collapse job (no extra pass; only attached
        # when a feature needs it)
        obs = None
        if self.data_rules or self.lineage_dir:
            from pyspark.sql import Observation

            # input_file_name is nondeterministic — illegal directly inside
            # CollectMetrics; project it, aggregate the column. A batch
            # sliced from a cache (multi-table) arrives with the column.
            if "_source_file" not in df.columns:
                df = df.withColumn("_source_file", F.input_file_name())
            metrics = [F.collect_set("_source_file").alias("_files")]
            sampled = any(r.sampling_pct < 1.0 for r in self.data_rules)
            if sampled:
                # rand() is nondeterministic — illegal directly inside
                # CollectMetrics; project the draw, reference the column
                df = df.withColumn("_sample_u", F.rand(seed=batch_id))
            for i, rule in enumerate(self.data_rules):
                cond = F.expr(rule.condition)
                if rule.sampling_pct < 1.0:
                    cond = cond & (F.col("_sample_u") < rule.sampling_pct)
                metrics.append(
                    F.sum(F.when(cond, 1).otherwise(0)).alias(f"_rule_{i}")
                )
            obs = Observation(f"rules-{batch_id}")
            df = df.observe(obs, *metrics)
        df = df.drop("_source_file", "_sample_u")

        # ---- late-record policy: Structured-Streaming watermark semantics
        # (threshold = the latest commit_ts of PRIOR batches minus limit, as
        # committed in the table); late rows go to the side output, on-time
        # rows continue
        max_ts = self.table.max_commit_ts(commit_key)
        if self.late_limit_s is not None and max_ts is not None:
            watermark = F.timestamp_micros(F.lit(max_ts - int(self.late_limit_s * 1e6)))
            late = df.where(F.col("commit_ts") < watermark)
            if self.late_dir:
                # one partition per batch, overwritten: a batch replayed
                # after a crash before its commit lands its late rows once
                part = f"commit_key={quote(commit_key, safe='')}"
                late.write.mode("overwrite").parquet(os.path.join(self.late_dir, part))
            df = df.where(
                F.col("commit_ts").isNull() | (F.col("commit_ts") >= watermark)
            )

        payload_cols = [
            c for c in payload_columns_of(df.schema) if c in df.columns
        ]
        keys = self.table.key_columns
        # One exchange per batch: partition by the table bucket first and
        # collapse per (_bucket, keys) — the same groups as per keys, since
        # the bucket is a function of the keys — so the collapse window
        # plans no exchange of its own, and merge() reuses the partitioning
        # for its cache, stats, fold and write. commit_ts rides along for
        # the merge's commit-time high-water mark.
        envelope = ["op", "lsn"] + (["commit_ts"] if "commit_ts" in df.columns else [])
        collapsed = lww_collapse(
            self.table.partition_by_bucket(df),
            key_columns=[_BUCKET_COL, *keys],
            carry_columns=envelope + [c for c in payload_cols if c not in keys],
        )
        # Transform AFTER collapse: per-record transforms (mask/normalize)
        # are row-pure and never touch keys/op/lsn, so they commute with
        # last-writer-wins — and only the collapse survivors pay the Arrow
        # round-trip (at a 2% dup + heavy-update rate that is a large cut
        # in pandas-UDF work). The contract: pipeline transforms must be
        # per-row pure and key/order-preserving.
        if self.transforms is not None:
            collapsed = self.transforms(collapsed)
        # merge() persists the normalized batch internally and returns the
        # per-bucket source stats from its bucket-discovery job — the
        # per-partition lineage (offsets applied per bucket) costs no extra job
        res = self.table.merge(collapsed, commit_key=commit_key, mode=self.merge_mode)
        if self.merge_mode == "mor" and self.mor_compact_every:
            self.table.compact_deltas(min_files=self.mor_compact_every)

        files: list[str] = []
        alerts: list[dict] = []
        if obs is not None:
            m = obs.get
            for i, rule in enumerate(self.data_rules):
                n = int(m.get(f"_rule_{i}") or 0)
                self._rule_windows[i].append(n)
                windowed = sum(self._rule_windows[i])
                if windowed >= rule.min_count:
                    alerts.append(
                        {
                            "rule": rule.name,
                            "level": rule.level,
                            "count": n,
                            "window_count": windowed,
                            "window_batches": rule.window_batches,
                            "sampling_pct": rule.sampling_pct,
                        }
                    )
            files = sorted(f for f in m["_files"] if f)

        row = self._record(batch_id, res, t0, files, alerts)
        if self.expire_keep is not None and not res.noop:
            self.table.expire_snapshots(keep_last=self.expire_keep)
        self.batches_applied += 1
        if self.on_batch_applied is not None:
            self.on_batch_applied(self, batch_id)
        return row

    # -------------------------------------------------------------- drivers
    def run_available_now(self, timeout_s: float | None = None) -> None:
        """Drain everything currently in the source, then stop — SDC's
        'reset to end of data' bounded run; Trigger.AvailableNow still honors
        maxFilesPerTrigger, so the drain is a sequence of micro-batches.
        Raises ``TimeoutError``, with the query stopped, when the drain is
        still running after ``timeout_s``."""
        q = (
            self._read_stream()
            .writeStream.foreachBatch(self.apply_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        if not timeout_s:
            q.awaitTermination()
        elif not q.awaitTermination(timeout_s):
            q.stop()
            raise TimeoutError(f"available-now drain still running after {timeout_s} s")

    def run_continuous(self, processing_time: str = "5 seconds"):
        """Tail indefinitely (the production mode). Returns the query."""
        return (
            self._read_stream()
            .writeStream.foreachBatch(self.apply_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(processingTime=processing_time)
            .start()
        )
