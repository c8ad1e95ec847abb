"""Multi-table CDC: one changelog stream fanned out to N lake tables.

The reference's whole-database shape: the JDBC Multitable / binlog origins
emit events for MANY tables in one stream (each record names its table —
RecordConverter.java:44-56 `Table` field), and a stream-selector + N
destinations route them (the canonical SDC multi-table pipeline). Here the
router is one foreachBatch that splits the micro-batch by ``src_table`` and
hands each table's slice to that table's own :class:`CdcIngestPipeline` —
the single micro-batch apply path (collapse -> transform -> merge, lineage,
expiry) — with per-table exactly-once commit keys and one shared checkpoint.

Scale notes: the batch is persisted once and each table's slice is a
pruned filter over it (no rescan per table); per-table applies run
sequentially inside the micro-batch (Spark parallelizes WITHIN each merge;
cross-table thread pools buy little on a shared cluster and complicate
failure atomicity — if table k fails, tables 0..k-1 committed and their
commit keys make the replay a per-table no-op).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datacollector_spark.streaming.pipeline import CdcIngestPipeline


class MultiTableCdcPipeline(CdcIngestPipeline):
    """Tail ONE changelog stream carrying events for several tables; apply
    each table's slice to its own LakeTable exactly once.

    ``table_configs``: {src_table_name: {"table": LakeTable,
    "project": Callable[[DataFrame], DataFrame] | None, **kwargs}} —
    ``project`` lifts the generic payload into that table's typed columns
    (e.g. changelog_formats.project_transcript_payload); None keeps the
    batch columns as-is. The router adds a ``_source_file`` column; a
    ``project`` that keeps it names the table's source files in its lineage
    row. The other keys are that table's
    :class:`CdcIngestPipeline` keyword arguments (``transforms``,
    ``lineage_dir``, ``data_rules``, ``expire_keep``, ``merge_mode``, ...).

    The router is a CdcIngestPipeline with no table of its own: it inherits
    the stream drivers (source read, checkpoint, triggers) and replaces only
    the batch body; table ``name``'s commit keys are
    ``<stream>:<name>:microbatch-<N>``.
    """

    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        table_configs: dict[str, dict],
        checkpoint_dir: str,
        source_schema: T.StructType,
        max_files_per_trigger: int | None = None,
    ):
        super().__init__(
            spark,
            source_dir,
            None,
            checkpoint_dir,
            source_schema,
            max_files_per_trigger=max_files_per_trigger,
        )
        self.table_configs = table_configs
        self.pipelines: dict[str, CdcIngestPipeline] = {}
        for name, cfg in table_configs.items():
            kwargs = {k: v for k, v in cfg.items() if k not in ("table", "project")}
            pipe = CdcIngestPipeline(
                spark, source_dir, cfg["table"], checkpoint_dir, source_schema, **kwargs
            )
            pipe.stream_id = f"{self.stream_id}:{name}"
            self.pipelines[name] = pipe

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # a cached row has no input file: name it before the persist, for
        # the tables' lineage ``files``
        batch = batch_df.withColumn("_source_file", F.input_file_name()).persist()
        try:
            for name, pipe in self.pipelines.items():
                sl = batch.where(F.col("src_table") == name)
                project = self.table_configs[name].get("project")
                pipe.apply_batch(project(sl) if project else sl, batch_id)
        finally:
            batch.unpersist()
