"""Pipeline spec: a declarative JSON-able pipeline config -> DataFrame DAG.

The reference's "query" is a pipeline-config JSON that goes through
validation (validation/PipelineConfigurationValidator.java:69 — DAG
well-formedness, lane consistency, config constraints), bean creation
(creation/PipelineBeanCreator.java:59), and physical wiring into a pipe
graph (runner/Pipeline.java:366-). This module is the same lifecycle on
Spark: spec dict -> validate() -> build(spark) returns the terminal
DataFrames per output lane; Catalyst is the physical planner.

Spec shape::

    {
      "pipeline": "my-pipe",
      "stages": [
        {"name": "src",  "type": "parquet_origin", "path": ..., "out": "main"},
        {"name": "sel",  "type": "stream_selector", "in": "main",
         "conditions": [["errors", "event_type = 'error'"]],
         "default_lane": "ok"},
        {"name": "mask", "type": "field_masker", "in": "ok",
         "columns": ["text"], "mask_type": "VARIABLE_LENGTH", "out": "masked"},
        {"name": "sink", "type": "memory_target", "in": "masked"}
      ]
    }

Each stage consumes a named lane (``in``) and produces one (``out``) or many
(selector lanes). Unconnected lanes, duplicate producers, unknown stage
types, and missing configs are validation errors, mirroring the reference's
validation issue codes.
"""

from __future__ import annotations

import json
import re
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from datacollector_spark.operators import processors as P


class ValidationError(ValueError):
    pass


# stage type -> (builder, required config keys)
def _origin(spark, cfg, _lanes):
    reader = spark.read
    if "schema" in cfg:
        reader = reader.schema(cfg["schema"])
    fmt = cfg.get("format", "parquet")
    return reader.format(fmt).load(cfg["path"])


def _rabbit_config(st: dict):
    """Stage dict -> RabbitConfig (shared by the origin and the lazy
    target writer)."""
    from datacollector_spark.sources.rabbitmq import RabbitConfig

    return RabbitConfig(
        uri=st["uri"],
        username=st.get("username", "guest"),
        password=st.get("password", "guest"),
        queue=st.get("queue", ""),
        queue_durable=bool(st.get("queue_durable", True)),
        queue_exclusive=bool(st.get("queue_exclusive", False)),
        queue_auto_delete=bool(st.get("queue_auto_delete", False)),
        exchanges=list(st.get("exchanges") or []),
        mandatory=bool(st.get("mandatory", False)),
        properties=dict(st.get("properties") or {}),
        single_message_per_batch=bool(
            st.get("single_message_per_batch", False)
        ),
    )


def _connector_writer(typ: str, st: dict, src: Any):
    """Build the deferred write closure for a connector destination stage —
    executed by :meth:`PipelineSpec.run_targets`, never during build()."""
    if typ == "solr_target":
        def write():
            from datacollector_spark.operators.processors import solr_sink

            return solr_sink(
                src,
                st["solr_uri"],
                st["collection"],
                st["field_map"],
                indexing_mode=st.get("indexing_mode", "BATCH"),
                batch_size=int(st.get("batch_size", 500)),
                transport=st.get("transport"),
            ).collect()
    elif typ == "cassandra_target":
        def write():
            from datacollector_spark.sources.cassandra import (
                CassandraConfig,
                cassandra_target,
            )

            cassandra_target(
                src,
                CassandraConfig(
                    st["contact_point"],
                    int(st.get("port", 9042)),
                    consistency=st.get("consistency", "LOCAL_QUORUM"),
                    batch_type=st.get("batch_type", "LOGGED"),
                    max_batch_size=int(st.get("max_batch_size", 65535)),
                ),
                st["qualified_table"],
                st["column_map"],
            )
    elif typ == "rabbitmq_target":
        def write():
            from datacollector_spark.sources.rabbitmq import rabbit_target

            rabbit_target(src, _rabbit_config(st))
    elif typ == "fs_dir_template_target":
        def write():
            import os as _os
            import uuid as _uuid

            from pyspark.sql import functions as F

            from datacollector_spark.functions.el import el_dir_template

            base = st["base_dir"]
            prefix = st.get("unique_prefix", "sdc")
            suffix = st.get("file_name_suffix", "")
            dir_col = el_dir_template(
                st["dir_path_template"], st.get("time_col", "ts")
            )
            encoded = src.select(
                dir_col.alias("__dir"),
                F.to_json(F.struct(*src.columns)).alias("__line"),
            ).repartition(F.col("__dir"))

            def write_part(rows):
                handles: dict = {}
                try:
                    for row in rows:
                        d = _os.path.join(base, row["__dir"].lstrip("/"))
                        fh = handles.get(d)
                        if fh is None:
                            _os.makedirs(d, exist_ok=True)
                            fname = f"{prefix}_{_uuid.uuid4().hex}{suffix}"
                            fh = open(_os.path.join(d, fname), "w")
                            handles[d] = fh
                        fh.write(row["__line"] + "\n")
                finally:
                    for fh in handles.values():
                        fh.close()

            encoded.foreachPartition(write_part)
            n_files = sum(
                len(fs) for _, _, fs in _os.walk(base) if fs
            )
            return {"files_written": n_files}
    elif typ in ("jdbc_producer_lake", "kudu_lake"):
        def write():
            import os as _os

            from pyspark.sql import functions as F

            from datacollector_spark.lake.table import LakeTable
            from datacollector_spark.model import payload_columns_of
            from datacollector_spark.streaming.pipeline import CdcIngestPipeline

            df = src
            for fld, col in (st.get("renames") or {}).items():
                df = df.withColumnRenamed(fld, col)
            # non-CDC inputs (changeLogFormat NONE) carry no envelope —
            # synthesize it from the stage's default operation
            # (JdbcRecordReader.java:48-77 default-op fallback)
            if "op" not in df.columns:
                df = df.withColumn(
                    "op", F.lit(int(st.get("default_op_code", 1)))
                )
            if "lsn" not in df.columns:
                df = df.withColumn("lsn", F.lit(0).cast("long"))
            if "seq_in_tx" not in df.columns:
                df = df.withColumn("seq_in_tx", F.lit(0))
            keys = list(st["key_columns"])
            path = st["table_path"]
            spark_s = src.sparkSession
            if not _os.path.exists(_os.path.join(path, "_manifests")):
                payload = payload_columns_of(df.schema)
                LakeTable.create(
                    spark_s,
                    path,
                    df.select(*payload).schema,
                    keys,
                    num_buckets=int(st.get("num_buckets", 16)),
                )
            table = LakeTable(spark_s, path)
            # the batch is collapsed and folded by the table's keys
            if set(keys) != set(table.key_columns):
                raise ValueError(
                    f"{st['name']}: stage key_columns {keys} differ from the "
                    f"key columns {table.key_columns} of the table at {path}"
                )
            # the stream's apply path for one batch (no stream runs); a
            # re-run replays '<commit_key>:microbatch-0' and applies nothing
            mode = "mor" if typ == "kudu_lake" else st.get("mode", "cow")
            pipe = CdcIngestPipeline(spark_s, None, table, path, merge_mode=mode)
            pipe.stream_id = st.get("commit_key") or st["name"]
            return pipe.apply_batch(df, 0)
    elif typ == "mongodb_target":
        def write():
            from datacollector_spark.sources.mongodb import (
                MongoTargetConfig,
                mongodb_write,
            )

            meters = mongodb_write(
                src,
                MongoTargetConfig(
                    st["host"],
                    int(st["port"]),
                    st["database"],
                    st["collection"],
                    unique_key_field=st.get("unique_key_field", "_id"),
                    op_column=st.get("op_column", "sdc_op"),
                    max_batch=int(st.get("max_batch", 1000)),
                ),
            ).collect()
            return {
                m: sum(r[m] for r in meters)
                for m in ("inserted", "upserted", "deleted", "errors")
            }
    elif typ == "redis_target":
        def write():
            from datacollector_spark.sources.redis import redis_target

            redis_target(
                src,
                st["uri"],
                st.get("field_mappings") or [],
                mode=st.get("mode", "BATCH"),
                channel=st.get("channel"),
                batch_size=int(st.get("batch_size", 1000)),
            )
    else:  # sdcipc_target
        def write():
            from datacollector_spark.sources.sdcipc import sdc_ipc_target

            sdc_ipc_target(
                src,
                list(st["host_ports"]),
                st["app_id"],
                compression=bool(st.get("compression", False)),
                retries_per_batch=int(st.get("retries_per_batch", 3)),
                back_off=int(st.get("back_off", 0)),
            )
    return write


_PROCESSORS: dict[str, tuple[Any, list[str]]] = {
    "field_masker": (P.field_masker, ["columns"]),
    "field_hasher": (P.field_hasher, ["columns", "target"]),
    "field_remover": (P.field_remover, ["columns"]),
    "field_renamer": (P.field_renamer, ["renames"]),
    "field_splitter": (P.field_splitter, ["column", "separator", "to"]),
    "field_type_converter": (P.field_type_converter, ["conversions"]),
    "field_type_converter_by_type": (P.field_type_converter_by_type, ["conversions"]),
    "field_order": (P.field_order, ["order"]),
    "value_replacer": (P.value_replacer, []),
    "expression_evaluator": (P.expression_evaluator, ["expressions"]),
    "json_parser": (P.json_parser, ["column", "schema", "into"]),
    "xml_parser": (P.xml_parser, ["column", "schema", "into"]),
    "log_parser": (P.log_parser, ["column", "pattern", "groups"]),
    "base64_codec": (P.base64_codec, ["column", "into"]),
    "static_lookup": (P.static_lookup, ["mapping", "key_column", "value_column"]),
    "list_pivot": (P.list_pivot, ["column"]),
    "field_zip": (P.field_zip, ["into", "left", "right"]),
    "field_merger": (P.field_merger, ["into", "columns"]),
    "field_struct_merge": (P.field_struct_merge, ["from_col", "to_col"]),
    "field_flattener": (P.field_flattener, ["column"]),
    "field_flattener_entire": (P.field_flattener_entire, []),
    "fuzzy_field_rename": (P.fuzzy_field_rename, ["expected"]),
    "scripting": (P.scripting_processor, ["func"]),
}


class PipelineSpec:
    def __init__(self, spec: dict):
        self.spec = spec
        self.validate()

    # ------------------------------------------------------------ validate
    def validate(self) -> None:
        """DAG well-formedness + config constraints (the reference's
        PipelineConfigurationValidator pass)."""
        stages = self.spec.get("stages")
        if not stages:
            raise ValidationError("VALIDATION_0001: pipeline has no stages")
        producers: dict[str, str] = {}
        names = set()
        for st in stages:
            name = st.get("name")
            if not name or name in names:
                raise ValidationError(f"VALIDATION_0002: missing/duplicate stage name {name!r}")
            names.add(name)
            typ = st.get("type")
            # lanes are wired topologically: a consumed lane must already
            # have a producer earlier in the stage list
            lane = st.get("in")
            if lane and lane not in producers:
                raise ValidationError(
                    f"VALIDATION_0005: stage {name!r} consumes unproduced lane {lane!r}"
                )
            if typ == "parquet_origin":
                if "path" not in st:
                    raise ValidationError(f"VALIDATION_0003: {name}: origin needs 'path'")
                out = st.get("out", "main")
                if out in producers:
                    raise ValidationError(f"VALIDATION_0004: lane {out!r} produced twice")
                producers[out] = name
            elif typ == "http_origin":
                if "resource_url" not in st or "record_schema" not in st:
                    raise ValidationError(
                        f"VALIDATION_0003: {name}: http origin needs "
                        "'resource_url' and 'record_schema'"
                    )
                out = st.get("out", "main")
                if out in producers:
                    raise ValidationError(f"VALIDATION_0004: lane {out!r} produced twice")
                producers[out] = name
            elif typ == "stream_selector":
                if "conditions" not in st:
                    raise ValidationError(f"VALIDATION_0003: {name}: selector needs 'conditions'")
                for lane, _ in st["conditions"]:
                    if lane in producers:
                        raise ValidationError(f"VALIDATION_0004: lane {lane!r} produced twice")
                    producers[lane] = name
                producers[st.get("default_lane", "default")] = name
            elif typ == "precondition_filter":
                producers[st.get("out", "ok")] = name
                producers[st.get("error_lane", "errors")] = name
            elif typ == "spark_evaluator":
                if not callable(st.get("transformer")):
                    raise ValidationError(
                        f"VALIDATION_0003: {name}: spark_evaluator needs a "
                        "callable 'transformer'"
                    )
                producers[st.get("out", st.get("in", "main"))] = name
                if st.get("error_lane"):
                    producers[st["error_lane"]] = name
            elif typ == "record_dedup":
                # two output lanes: unique + duplicate (DeDupProcessor.java:
                # OutputStreams UNIQUE/DUPLICATE ordinals)
                producers[st.get("out", "unique")] = name
                producers[st.get("dup_lane", "duplicates")] = name
            elif typ == "jdbc_lookup":
                # dimension join: external DB -> local dim extract
                # (jdbc-lib/.../jdbclookup/JdbcLookupDProcessor.java)
                for key in ("dim_path", "on"):
                    if key not in st:
                        raise ValidationError(
                            f"VALIDATION_0003: {name}: jdbc_lookup needs {key!r}"
                        )
                producers[st.get("out", st.get("in", "main"))] = name
            elif typ == "geolocation_lookup":
                # range-dim probe (geolocation/GeolocationProcessor.java);
                # TO_ERROR grows an error lane for unmatched addresses
                for key in ("ranges_path", "field_configs"):
                    if key not in st:
                        raise ValidationError(
                            f"VALIDATION_0003: {name}: geolocation_lookup "
                            f"needs {key!r}"
                        )
                producers[st.get("out", st.get("in", "main"))] = name
                if (st.get("missing_action") or "").upper() == "TO_ERROR":
                    producers[st.get("error_lane", f"{name}#errors")] = name
            elif typ == "http_client":
                if "resource_url" not in st or "into" not in st:
                    raise ValidationError(
                        f"VALIDATION_0003: {name}: http_client needs "
                        "'resource_url' and 'into'"
                    )
                producers[st.get("out", st.get("in", "main"))] = name
            elif typ == "lane_combiner":
                # fan-in: all consumed lanes must already exist
                # (runner/CombinerPipe.java — union of the input lanes)
                for lane_in in st.get("in_lanes", []):
                    if lane_in not in producers:
                        raise ValidationError(
                            f"VALIDATION_0005: stage {name!r} consumes "
                            f"unproduced lane {lane_in!r}"
                        )
                if not st.get("in_lanes"):
                    raise ValidationError(
                        f"VALIDATION_0003: {name}: lane_combiner needs 'in_lanes'"
                    )
                out = st.get("out", "combined")
                if out in producers:
                    raise ValidationError(f"VALIDATION_0004: lane {out!r} produced twice")
                producers[out] = name
            elif typ in _PROCESSORS:
                _, req = _PROCESSORS[typ]
                for key in req:
                    if key not in st:
                        raise ValidationError(
                            f"VALIDATION_0003: {name}: {typ} needs {key!r}"
                        )
                producers[st.get("out", st.get("in", "main"))] = name
            elif typ in (
                "s3_origin_spool",
                "kinesis_origin",
                "json_spool_origin",
                "sdc_record_spool_origin",
                "es_scroll_origin",
                "rabbitmq_origin",
                "force_bulk_origin",
                "mongodb_origin",
                "mongodb_oplog_origin",
            ):
                req_by_type = {
                    "s3_origin_spool": ("endpoint", "bucket"),
                    "kinesis_origin": ("endpoint", "stream"),
                    "json_spool_origin": ("spool_dir",),
                    "sdc_record_spool_origin": ("spool_dir", "record_schema"),
                    "es_scroll_origin": ("http_uri", "index", "record_schema"),
                    "rabbitmq_origin": ("uri", "queue", "record_schema"),
                    "force_bulk_origin": (
                        "login_url",
                        "soql_query",
                        "record_schema",
                    ),
                    "mongodb_origin": (
                        "host",
                        "port",
                        "database",
                        "collection",
                        "record_schema",
                    ),
                    "mongodb_oplog_origin": ("host", "port"),
                }
                for key in req_by_type[typ]:
                    if key not in st:
                        raise ValidationError(
                            f"VALIDATION_0003: {name}: {typ} needs {key!r}"
                        )
                out = st.get("out", "main")
                if out in producers:
                    raise ValidationError(f"VALIDATION_0004: lane {out!r} produced twice")
                producers[out] = name
            elif typ == "redis_lookup":
                for key in ("uri", "lookups"):
                    if key not in st:
                        raise ValidationError(
                            f"VALIDATION_0003: {name}: redis_lookup needs {key!r}"
                        )
                producers[st.get("out", st.get("in", "main"))] = name
            elif typ in (
                "solr_target",
                "cassandra_target",
                "sdcipc_target",
                "redis_target",
                "rabbitmq_target",
                "mongodb_target",
                "jdbc_producer_lake",
                "kudu_lake",
                "fs_dir_template_target",
            ):
                req_by_type = {
                    "solr_target": ("solr_uri", "collection", "field_map"),
                    "cassandra_target": ("contact_point", "qualified_table", "column_map"),
                    "sdcipc_target": ("host_ports", "app_id"),
                    "redis_target": ("uri",),
                    "rabbitmq_target": ("uri",),
                    "mongodb_target": ("host", "port", "database", "collection"),
                    "jdbc_producer_lake": ("table_path", "key_columns"),
                    "kudu_lake": ("table_path", "key_columns"),
                    "fs_dir_template_target": ("base_dir", "dir_path_template"),
                }
                for key in req_by_type[typ]:
                    if key not in st:
                        raise ValidationError(
                            f"VALIDATION_0003: {name}: {typ} needs {key!r}"
                        )
                if typ == "jdbc_producer_lake" and st.get("mode", "cow") not in ("cow", "mor"):
                    raise ValidationError(
                        f"VALIDATION_0003: {name}: mode must be 'cow' or 'mor', "
                        f"got {st['mode']!r}"
                    )
                if typ in ("jdbc_producer_lake", "kudu_lake") and int(st.get("num_buckets", 16)) < 1:
                    raise ValidationError(
                        f"VALIDATION_0003: {name}: num_buckets must be >= 1, "
                        f"got {st['num_buckets']!r}"
                    )
            elif typ == "kafka_encode_target":
                if "topic" not in st:
                    raise ValidationError(
                        f"VALIDATION_0003: {name}: kafka_encode_target needs 'topic'"
                    )
            elif typ == "memory_target":
                pass
            else:
                raise ValidationError(f"VALIDATION_0006: unknown stage type {typ!r}")

    # --------------------------------------------------------------- build
    def build(
        self,
        spark: SparkSession,
        overrides: dict[str, Any] | None = None,
    ) -> dict[str, DataFrame]:
        """Wire the stages; returns {lane: DataFrame} for every lane.

        ``overrides`` — {lane: DataFrame | list[row dict]}: inject literal
        stage OUTPUTS mid-DAG; downstream stages consume the injected frame
        instead of the computed one (the reference preview's stagesOverride,
        container/.../runner/preview/sync/SyncPreviewer.java:196 — test a
        downstream stage in isolation from its real upstream). The computed
        lane is still returned under '<lane>:computed' so a preview shows
        both what the stage produced and what downstream consumed."""
        overrides = overrides or {}
        # connector destinations register side-effecting writers here;
        # build() stays lazy, run_targets() performs the writes
        self.target_writers: dict[str, Any] = {}
        self.last_offsets: dict[str, str] = {}

        def _place(lane: str, df: DataFrame) -> None:
            if lane in overrides:
                ov = overrides[lane]
                if not isinstance(ov, DataFrame):
                    ov = spark.createDataFrame(ov, schema=df.schema)
                lanes[f"{lane}:computed"] = df
                lanes[lane] = ov
            else:
                lanes[lane] = df

        lanes: dict[str, DataFrame] = {}
        targets: dict[str, DataFrame] = {}
        for st in self.spec["stages"]:
            typ = st["type"]
            cfg = {k: v for k, v in st.items() if k not in ("name", "type", "in", "out")}
            if typ == "parquet_origin":
                _place(st.get("out", "main"), _origin(spark, cfg, lanes))
            elif typ == "http_origin":
                from datacollector_spark.sources.http import http_client_origin_batch

                df, _off = http_client_origin_batch(
                    spark,
                    st["resource_url"],
                    st["record_schema"],
                    transport=st.get("transport"),
                    pagination_mode=st.get("pagination_mode", "NONE"),
                    start_at=int(st.get("start_at", 0)),
                    result_field_path=st.get("result_field_path"),
                    max_pages=int(st.get("max_pages", 100)),
                )
                # downstream stages see record columns only, like the
                # reference's parsed records (page/pos are origin internals)
                if not st.get("keep_page_meta", False):
                    df = df.drop("page", "request_url", "pos_in_page")
                _place(st.get("out", "main"), df)
            elif typ == "stream_selector":
                routed = P.stream_selector(
                    lanes[st["in"]],
                    [tuple(c) for c in st["conditions"]],
                    st.get("default_lane", "default"),
                )
                for lane, df in routed.items():
                    _place(lane, df)
            elif typ == "precondition_filter":
                ok, err = P.precondition_filter(
                    lanes[st["in"]],
                    st.get("condition", ""),
                    st.get("required_fields", ()),
                    stage_name=st.get("stage_name"),
                )
                _place(st.get("out", "ok"), ok)
                _place(st.get("error_lane", "errors"), err)
            elif typ == "record_dedup":
                unique, dup = P.record_deduplicator(
                    lanes[st["in"]],
                    columns=st.get("columns"),
                    order_column=st.get("order_column"),
                )
                _place(st.get("out", "unique"), unique)
                _place(st.get("dup_lane", "duplicates"), dup)
            elif typ == "jdbc_lookup":
                dim = spark.read.parquet(st["dim_path"])
                for a, b in (st.get("renames") or {}).items():
                    dim = dim.withColumnRenamed(a, b)
                _place(
                    st.get("out", st["in"]),
                    P.broadcast_lookup(
                        lanes[st["in"]],
                        dim,
                        on=st["on"],
                        multiple=st.get("multiple", "FIRST_ONLY"),
                    ),
                )
            elif typ == "geolocation_lookup":
                ranges = spark.read.parquet(st["ranges_path"])
                ok, err = P.geolocation_lookup(
                    lanes[st["in"]],
                    ranges,
                    [tuple(c) for c in st["field_configs"]],
                    lo_column=st.get("lo_column", "range_lo"),
                    hi_column=st.get("hi_column", "range_hi"),
                    missing_action=st.get(
                        "missing_action", "REPLACE_WITH_NULLS"
                    ),
                )
                _place(st.get("out", st["in"]), ok)
                if err is not None:
                    _place(st.get("error_lane", f"{st['name']}#errors"), err)
            elif typ == "http_client":
                from datacollector_spark.functions.el import el_dir_template

                url = el_dir_template(
                    st["resource_url"], st.get("time_col", "ts")
                )
                enriched = P.http_client_processor(
                    lanes[st["in"]].withColumn("__http_url", url),
                    "__http_url",
                    response_column=st["into"],
                    transport=st.get("transport"),
                ).drop("__http_url")
                _place(st.get("out", st["in"]), enriched)
            elif typ == "spark_evaluator":
                result, errors = P.spark_evaluator(
                    lanes[st["in"]],
                    st["transformer"],
                    init_params=st.get("init_params"),
                )
                _place(st.get("out", st["in"]), result)
                if st.get("error_lane"):
                    _place(
                        st["error_lane"],
                        errors
                        if errors is not None
                        else lanes[st["in"]].limit(0),
                    )
            elif typ == "lane_combiner":
                combined = lanes[st["in_lanes"][0]]
                for lane_in in st["in_lanes"][1:]:
                    combined = combined.unionByName(lanes[lane_in])
                _place(st.get("out", "combined"), combined)
            elif typ in _PROCESSORS:
                fn, _ = _PROCESSORS[typ]
                _place(st.get("out", st["in"]), fn(lanes[st["in"]], **cfg))
            elif typ == "s3_origin_spool":
                from datacollector_spark.sources.s3 import (
                    S3ClientConfig,
                    s3_spool_batch,
                )

                df, off = s3_spool_batch(
                    spark,
                    S3ClientConfig(
                        st["endpoint"],
                        st.get("access_key", ""),
                        st.get("secret_key", ""),
                        region=st.get("region", "us-east-1"),
                    ),
                    st["bucket"],
                    st.get("common_prefix", ""),
                    st.get("prefix_pattern", "*"),
                    ordering=st.get("ordering", "LEXICOGRAPHICAL"),
                    last_offset=st.get("last_offset"),
                    fetch_partitions=int(st.get("fetch_partitions", 0)),
                )
                self.last_offsets[st["name"]] = off
                _place(st.get("out", "main"), df)
            elif typ == "kinesis_origin":
                from datacollector_spark.sources.kinesis import (
                    KinesisClientConfig,
                    kinesis_origin_batch,
                )

                df, off = kinesis_origin_batch(
                    spark,
                    KinesisClientConfig(
                        st["endpoint"],
                        st.get("access_key", ""),
                        st.get("secret_key", ""),
                        region=st.get("region", "us-east-1"),
                    ),
                    st["stream"],
                    initial_position=st.get("initial_position", "LATEST"),
                    last_offsets=st.get("last_offsets"),
                )
                self.last_offsets[st["name"]] = off
                _place(st.get("out", "main"), df)
            elif typ == "json_spool_origin":
                reader = spark.read
                if st.get("record_schema"):
                    reader = reader.schema(st["record_schema"])
                _place(st.get("out", "main"), reader.json(st["spool_dir"]))
            elif typ == "sdc_record_spool_origin":
                # the reference's own SDC_RECORD (SDC_JSON) wire format:
                # distributed binaryFile scan + Arrow-batched decode
                from datacollector_spark.sources.sdc_record import (
                    read_sdc_record_files,
                )

                df = read_sdc_record_files(
                    spark,
                    st["spool_dir"],
                    st["record_schema"],
                    glob=st.get("glob", "*.sdc"),
                    with_headers=st.get("with_headers", False),
                    with_error_headers=st.get("with_error_headers", False),
                )
                if not st.get("keep_file_column", False):
                    df = df.drop("_file")
                _place(st.get("out", "main"), df)
            elif typ == "es_scroll_origin":
                from datacollector_spark.sources.elasticsearch import (
                    EsScrollConfig,
                    es_scroll_batch,
                    es_scroll_offsets,
                )

                es_cfg = EsScrollConfig(
                    http_uri=st["http_uri"],
                    index=st["index"],
                    mapping=st.get("mapping"),
                    query=st.get("query", '{"query": {"match_all": {}}}'),
                    num_slices=int(st.get("num_slices", 1)),
                    max_batch_size=int(st.get("max_batch_size", 1000)),
                    cursor_timeout=st.get("cursor_timeout", "1m"),
                    delete_cursor=bool(st.get("delete_cursor", True)),
                    username=st.get("username"),
                    password=st.get("password"),
                    incremental=bool(st.get("incremental", False)),
                    offset_field=st.get("offset_field", "timestamp"),
                    initial_offset=st.get("initial_offset", ""),
                )
                df = es_scroll_batch(
                    spark,
                    es_cfg,
                    st["record_schema"],
                    last_offsets=st.get("last_offsets"),
                )
                if es_cfg.incremental:
                    df = df.persist()
                    # merge with the fed-back offsets so quiet slices keep
                    # theirs; es_scroll_batch accepts this JSON string back
                    self.last_offsets[st["name"]] = json.dumps(
                        es_scroll_offsets(
                            df,
                            es_cfg.offset_field,
                            cfg=es_cfg,
                            previous=st.get("last_offsets"),
                        )
                    )
                if not st.get("keep_slice_column", False):
                    df = df.drop("_slice", "_id")
                _place(st.get("out", "main"), df)
            elif typ == "force_bulk_origin":
                from datacollector_spark.sources.salesforce import (
                    ForceConfig,
                    force_bulk_query,
                    force_next_offset,
                )

                f_cfg = ForceConfig(
                    login_url=st["login_url"],
                    username=st.get("username", ""),
                    password=st.get("password", ""),
                    api_version=st.get("api_version", "52.0"),
                    soql_query=st["soql_query"],
                    initial_offset=st.get("initial_offset", "000000000000000"),
                    offset_column=st.get("offset_column", "Id"),
                    pk_chunk_size=st.get("pk_chunk_size"),
                )
                df = force_bulk_query(
                    spark,
                    f_cfg,
                    st["record_schema"],
                    last_offset=st.get("last_offset"),
                ).persist()
                nxt = force_next_offset(df, f_cfg.offset_column)
                if nxt is not None:
                    self.last_offsets[st["name"]] = str(nxt)
                _place(st.get("out", "main"), df)
            elif typ == "rabbitmq_origin":
                from datacollector_spark.sources.rabbitmq import (
                    rabbit_origin_batch,
                )

                df = rabbit_origin_batch(
                    spark,
                    _rabbit_config(st),
                    st["record_schema"],
                    consumers=int(st.get("consumers", 4)),
                )
                # queue consumption is destructive — persist so a second
                # action (extra target, preview count) replays the cached
                # drain instead of re-reading an already-acked empty queue
                df = df.persist()
                if not st.get("keep_delivery_columns", False):
                    df = df.drop("_delivery_tag", "_routing_key")
                _place(st.get("out", "main"), df)
            elif typ == "redis_lookup":
                from pyspark.sql import functions as F

                from datacollector_spark.sources.redis import redis_kv_lookup

                df = lanes[st["in"]]
                for lk in st["lookups"]:
                    keyed = df.withColumn("__redis_key", F.expr(lk["key_expr"]))
                    df = redis_kv_lookup(
                        keyed,
                        "__redis_key",
                        st["uri"],
                        into=lk["into"],
                        data_type=lk.get("data_type", "STRING"),
                    ).drop("__redis_key")
                _place(st.get("out", "main"), df)
            elif typ == "mongodb_origin":
                from datacollector_spark.sources.mongodb import (
                    MongoSourceConfig,
                    mongodb_read_batch,
                )

                mg_cfg = MongoSourceConfig(
                    st["host"],
                    int(st["port"]),
                    st["database"],
                    st["collection"],
                    offset_field=st.get("offset_field", "_id"),
                    offset_type=st.get("offset_type", "OBJECTID"),
                    initial_offset=st.get("initial_offset", ""),
                    batch_size=int(st.get("batch_size", 1000)),
                    num_partitions=int(st.get("num_partitions", 4)),
                )
                _place(
                    st.get("out", "main"),
                    mongodb_read_batch(
                        spark,
                        mg_cfg,
                        st["record_schema"],
                        last_offset=st.get("last_offset"),
                    ),
                )
            elif typ == "mongodb_oplog_origin":
                from datacollector_spark.sources.mongodb import (
                    MongoOplogConfig,
                    mongodb_oplog_read_batch,
                )

                og_cfg = MongoOplogConfig(
                    st["host"],
                    int(st["port"]),
                    database=st.get("database", "local"),
                    collection=st.get("collection", "oplog.rs"),
                    initial_ts=int(st.get("initial_ts", -1)),
                    initial_ordinal=int(st.get("initial_ordinal", -1)),
                    filter_op_types=tuple(
                        st.get("filter_op_types") or ("i", "u", "d")
                    ),
                    batch_size=int(st.get("batch_size", 1000)),
                    num_partitions=int(st.get("num_partitions", 4)),
                )
                _place(
                    st.get("out", "main"),
                    mongodb_oplog_read_batch(
                        spark, og_cfg, last_offset=st.get("last_offset")
                    ),
                )
            elif typ in (
                "solr_target",
                "cassandra_target",
                "sdcipc_target",
                "redis_target",
                "rabbitmq_target",
                "mongodb_target",
                "jdbc_producer_lake",
                "kudu_lake",
                "fs_dir_template_target",
            ):
                src = lanes[st["in"]]
                targets[st["name"]] = src
                self.target_writers[st["name"]] = _connector_writer(typ, st, src)
            elif typ == "kafka_encode_target":
                # Kafka producer target: the encode + partition-strategy
                # half runs here (the broker write is jar-gated —
                # kafka_producer_sink wires writeStream.format("kafka")).
                # The encoded producer frame lands on the stage's lane.
                from datacollector_spark.sources.kafka import encode_for_kafka

                targets[st["name"]] = encode_for_kafka(
                    lanes[st["in"]],
                    st["topic"],
                    key_expr=st.get("key_expr"),
                    value_format=st.get("value_format", "json"),
                    partition_strategy=st.get("partition_strategy", "DEFAULT"),
                    num_partitions=int(st.get("num_partitions", 1)),
                    partition_expr=st.get("partition_expr"),
                )
            elif typ == "memory_target":
                targets[st["name"]] = lanes[st["in"]]
        lanes.update(targets)
        return lanes

    def run_targets(self) -> dict[str, Any]:
        """Execute every connector destination registered by the last
        ``build()`` (the write IS the action — the reference's runner
        commits a batch to its targets the same way). Returns {stage: sink
        meters or None}."""
        return {name: fn() for name, fn in self.target_writers.items()}

    # ------------------------------------------------- SDC config porting
    @classmethod
    def from_sdc_config(
        cls,
        pipeline_config: dict,
        origin_overrides: dict[str, dict] | None = None,
        stage_overrides: dict[str, dict] | None = None,
    ) -> "PipelineSpec":
        """Port a stock SDC pipeline-config JSON (the reference's export
        format: ``stages[]`` with ``instanceName``/``stageName``/
        ``configuration``/``inputLanes``/``outputLanes`` —
        container/.../config/PipelineConfiguration.java) into a
        PipelineSpec, translating every EL expression through
        :func:`~datacollector_spark.functions.el.el_to_sql` with an
        :class:`~datacollector_spark.functions.el.ELContext` built from
        the export's own pipeline metadata (so ``pipeline:title()`` etc.
        resolve to the ported pipeline's values).

        Supported stage classes:
          * ``*SelectorDProcessor`` — ``lanePredicates`` [{outputLane,
            predicate}] where the last predicate is the literal "default"
            (SelectorProcessor.java:66-67,92-110)
          * ``*ExpressionDProcessor`` — ``expressionProcessorConfigs``
            [{fieldToSet, expression}] (ExpressionProcessorConfig.java:41,54)
          * ``*FieldRemoverDProcessor`` — ``fields`` + ``filterOperation``
          * ``*FieldRenamerDProcessor`` — ``renameMapping``
          * ``*FieldTypeConverterDProcessor`` — BY_FIELD
            (``fieldTypeConverterConfigs``) AND BY_TYPE
            (``wholeTypeConverterConfigs`` — convert every field of the
            source type, FieldTypeConverterProcessor.java:60-102)
          * ``*FieldHasherDProcessor`` — ``fieldHasherConfigs`` (in-place,
            chained); an empty config list is a clear VALIDATION error
          * ``*FieldMaskDProcessor`` — ``fieldMaskConfigs``
            (FieldMaskConfig.java:28-88, all four mask types)
          * ``*FieldValueReplacerDProcessor`` — ``fieldsToReplaceIfNull``
            + ``fieldsToConditionallyReplace`` +
            ``nullReplacerConditionalConfigs``
            (FieldValueReplacerProcessor.java)
          * ``*SplitterDProcessor`` — fieldPath/separator/
            fieldPathsForSplits/tooManySplitsAction/remainingSplitsPath/
            originalFieldAction (SplitterProcessor.java:95-147)
          * ``*JsonParserDProcessor`` — fieldPathToParse/parsedFieldPath;
            Spark needs a declared parse schema where the reference
            infers per record, so the caller supplies it via
            ``stage_overrides={instanceName: {"schema": ...}}``
          * ``*ListPivotDProcessor`` — listPath/newPath/copyFields/
            saveOriginalFieldName (ListPivotDProcessor.java:55-106)
          * ``*FieldOrderDProcessor`` — config.fields/missingFieldAction/
            defaultValue/extraFieldAction (OrderConfigBean.java)
          * ``*FieldFlattenerDProcessor`` — ENTIRE_RECORD and
            SPECIFIC_FIELDS (FieldFlattenerConfig.java)
          * ``*FieldMergerDProcessor`` — ``mergeMapping`` fromField ->
            toField map-merge (FieldMergerProcessor.java)
          * ``*FieldZipDProcessor`` — ``fieldZipConfigBean.fieldZipConfigs``
          * ``*LocalLookupDProcessor`` — ``conf.values`` KV map +
            ``conf.lookups`` keyExpr/outputFieldPath
            (kv/local/LocalLookupProcessor.java)
          * ``*DeDupDProcessor`` — two output lanes (UNIQUE, DUPLICATE);
            compareFields ALL_FIELDS/SPECIFIED_FIELDS
            (DeDupProcessor.java:116-154). The record-count/time windows
            are the reference's bounded-memory cache — the batch engine
            compares globally (a strictly stronger dedup)
          * ``*JdbcLookupDProcessor`` — broadcast join against a local
            dimension extract supplied via ``stage_overrides``
            ({path, on}); columnMappings rename dim columns
          * ``*HttpDProcessor`` — resourceUrl EL template resolved per
            record; injectable transport via ``stage_overrides``
          * ``*XmlParserDProcessor`` — declared schema via
            ``stage_overrides`` (like the JSON parser)
          * ``*LogParserDProcessor`` — REGEX mode
            (regex + ``fieldPathsToGroupName``) and COMMON_LOG_FORMAT
            (stock Apache CLF regex); grok/log4j custom formats refuse
            by name
          * ``Base64Encoding/DecodingDProcessor`` — originFieldPath ->
            resultFieldPath
          * ``*DSource`` (any origin) — replaced by a parquet origin; the
            caller supplies {instanceName: {"path": ..., "format": ...}}
            via ``origin_overrides`` (sandbox origins read files, not the
            jar-bound external system)
          * ``*DTarget`` / ``*Trash*`` — memory_target (collect lane)

        SDC lane names (``Selector_01OutputLane1``) are kept verbatim, so
        ported previews read like the original pipeline. Fan-in (multiple
        inputLanes) becomes a ``lane_combiner`` stage (unionByName — the
        runner's CombinerPipe.java semantics).
        """
        from datacollector_spark.functions.el import (
            ELContext,
            el_to_sql,
            path_to_column,
        )

        cfg = pipeline_config.get("pipelineConfig", pipeline_config)
        info = cfg.get("info", {}) or {}
        ctx = ELContext(
            pipeline={
                "id": str(
                    cfg.get("pipelineId")
                    or info.get("pipelineId")
                    or cfg.get("title", "ported")
                ),
                "title": str(cfg.get("title", "ported")),
                "name": str(info.get("name") or cfg.get("title", "ported")),
                "version": str(info.get("sdcVersion") or cfg.get("version", 1)),
            }
        )

        def el(s: str) -> str:
            return el_to_sql(s, ctx)

        def cget(conf: dict, *names, default=None):
            """Exported nested config beans use dotted names
            (``config.fields``, ``conf.values``) — try each spelling."""
            for n in names:
                if n in conf and conf[n] is not None:
                    return conf[n]
            return default

        def as_map(value) -> dict:
            """MAP-type configs export as [{key, value}] lists."""
            if isinstance(value, dict):
                return value
            return {e["key"]: e["value"] for e in (value or [])}

        def coerce_literal(s):
            """Config replacement values are strings; the reference
            converts to the field's type at runtime
            (FieldValueReplacerProcessor convertToType) — here numeric/
            boolean-looking strings become typed literals so when/
            otherwise branches keep the column's type."""
            if not isinstance(s, str):
                return s
            t = s.strip()
            try:
                return int(t)
            except ValueError:
                pass
            try:
                return float(t)
            except ValueError:
                pass
            if t.lower() in ("true", "false"):
                return t.lower() == "true"
            return s

        def sql_literal(s) -> str:
            v = coerce_literal(s)
            if isinstance(v, bool):
                return "true" if v else "false"
            if isinstance(v, (int, float)):
                return repr(v)
            from datacollector_spark.functions.el import _sql_str_lit

            return _sql_str_lit(v)

        def chained(name: str, lane_in: str, lane_out: str, cfgs: list[dict]):
            """Wire N single-column stage configs through synthetic lanes
            (the in-place per-field processors: hasher, masker, merger,
            zip, flattener SPECIFIC_FIELDS). An empty config list raises
            clearly instead of leaving the output lane unproduced."""
            if not cfgs:
                raise ValidationError(
                    f"VALIDATION_0003: {name}: empty processor "
                    "configuration (no fields configured)"
                )
            out = []
            for i, c in enumerate(cfgs):
                last = i == len(cfgs) - 1
                out.append(
                    {
                        "name": name if last else f"{name}#{i}",
                        "in": lane_in,
                        "out": lane_out if last else f"{name}#lane{i}",
                        **c,
                    }
                )
                lane_in = out[-1]["out"]
            return out

        origin_overrides = origin_overrides or {}
        stage_overrides = stage_overrides or {}
        stages: list[dict] = []
        for st in cfg["stages"]:
            name = st["instanceName"]
            klass = st.get("stageName", "")
            conf = {c["name"]: c.get("value") for c in st.get("configuration", [])}
            ins, outs = list(st.get("inputLanes", [])), st.get("outputLanes", [])
            if len(ins) > 1:
                # fan-in: CombinerPipe.java — union the input lanes into
                # one synthetic lane feeding this stage
                fanin = f"{name}#fanin"
                stages.append(
                    {
                        "name": f"{name}#combiner",
                        "type": "lane_combiner",
                        "in_lanes": ins,
                        "out": fanin,
                    }
                )
                ins = [fanin]
            # per-stage preconditions + required fields (every exported
            # stage carries stageRequiredFields/stageRecordPreconditions;
            # the reference evaluates them BEFORE the stage and routes
            # failures to the error sink — PreconditionsPredicate.java /
            # RequiredFieldsPredicate.java). Ignoring a non-empty one
            # would silently drop a filter the pipeline depends on.
            req = conf.get("stageRequiredFields") or []
            precon = conf.get("stageRecordPreconditions") or []
            if (req or precon) and ins:
                pre_lane = f"{name}#pre"
                stages.append(
                    {
                        "name": f"{name}#preconditions",
                        "type": "precondition_filter",
                        "in": ins[0],
                        "out": pre_lane,
                        "error_lane": f"{name}#errors",
                        "condition": " AND ".join(f"({el(p)})" for p in precon),
                        "required_fields": [path_to_column(f) for f in req],
                        "stage_name": name,
                    }
                )
                ins = [pre_lane]
            if "SelectorDProcessor" in klass:
                preds = conf.get("lanePredicates") or []
                if not preds or preds[-1].get("predicate") != "default":
                    raise ValidationError(
                        f"VALIDATION_0003: {name}: selector needs lanePredicates "
                        "ending with the 'default' predicate (SELECTOR_07)"
                    )
                stages.append(
                    {
                        "name": name,
                        "type": "stream_selector",
                        "in": ins[0],
                        "conditions": [
                            [p["outputLane"], el(p["predicate"])]
                            for p in preds[:-1]
                        ],
                        "default_lane": preds[-1]["outputLane"],
                    }
                )
            elif "ExpressionDProcessor" in klass:
                stages.append(
                    {
                        "name": name,
                        "type": "expression_evaluator",
                        "in": ins[0],
                        "out": outs[0],
                        "expressions": {
                            path_to_column(e["fieldToSet"]): el(e["expression"])
                            for e in conf.get("expressionProcessorConfigs", [])
                        },
                    }
                )
            elif "FieldRenamerDProcessor" in klass:
                stages.append(
                    {
                        "name": name,
                        "type": "field_renamer",
                        "in": ins[0],
                        "out": outs[0],
                        "renames": {
                            path_to_column(r["fromFieldExpression"]):
                                path_to_column(r["toFieldExpression"])
                            for r in conf.get("renameMapping", [])
                        },
                    }
                )
            elif "FieldTypeConverterDProcessor" in klass:
                # FieldTypeConverterConfig.java:41-49 {fields, targetType};
                # SDC Field.Type -> Spark SQL type. Exported configs carry
                # dozens of defaulted keys we deliberately ignore.
                type_map = {
                    "BOOLEAN": "boolean", "BYTE": "tinyint", "SHORT": "smallint",
                    "INTEGER": "int", "LONG": "bigint", "FLOAT": "float",
                    "DOUBLE": "double", "DECIMAL": "decimal(38,9)",
                    "STRING": "string", "DATE": "date", "DATETIME": "timestamp",
                }

                def target_of(c: dict) -> str:
                    tt = (c.get("targetType") or "").upper()
                    if tt not in type_map:
                        raise ValidationError(
                            f"VALIDATION_0003: {name}: unsupported targetType {tt!r}"
                        )
                    if tt == "DATETIME" and c.get("otherDateFormat"):
                        return f"timestamp:{c['otherDateFormat']}"
                    return type_map[tt]

                whole = conf.get("wholeTypeConverterConfigs") or []
                if whole or (conf.get("convertBy") or "").upper() == "BY_TYPE":
                    # BY_TYPE mode: convert every field whose CURRENT type
                    # matches (FieldTypeConverterProcessor.java:60-102) —
                    # a schema walk here, sourceType in SDC Field.Type
                    # names mapped onto Spark simpleStrings
                    src_map = dict(type_map, DECIMAL="decimal")
                    by_type: dict[str, str] = {}
                    for c in whole:
                        src = (c.get("sourceType") or "").upper()
                        if src not in src_map:
                            raise ValidationError(
                                f"VALIDATION_0003: {name}: unsupported "
                                f"sourceType {src!r}"
                            )
                        by_type[src_map[src]] = target_of(c)
                    stages.append(
                        {
                            "name": name,
                            "type": "field_type_converter_by_type",
                            "in": ins[0],
                            "out": outs[0],
                            "conversions": by_type,
                        }
                    )
                else:
                    conversions: dict[str, str] = {}
                    for c in conf.get("fieldTypeConverterConfigs", []):
                        target = target_of(c)
                        for fld in c.get("fields", []):
                            conversions[path_to_column(fld)] = target
                    stages.append(
                        {
                            "name": name,
                            "type": "field_type_converter",
                            "in": ins[0],
                            "out": outs[0],
                            "conversions": conversions,
                        }
                    )
            elif "FieldHasherDProcessor" in klass:
                # FieldHasherConfig.java:38-49: each source field is hashed
                # IN PLACE — one field_hasher stage per field, chained on
                # synthetic lanes; empty configs raise (chained())
                algo_map = {"MD5": "md5", "SHA1": "sha1", "SHA2": "sha256"}
                stages.extend(
                    chained(
                        name,
                        ins[0],
                        outs[0],
                        [
                            {
                                "type": "field_hasher",
                                "columns": [path_to_column(fld)],
                                "target": path_to_column(fld),
                                "algo": algo_map.get(
                                    (hc.get("hashType") or "SHA2").upper(), "sha256"
                                ),
                            }
                            for hc in conf.get("fieldHasherConfigs", [])
                            for fld in hc.get("sourceFieldsToHash", [])
                        ],
                    )
                )
            elif "FieldMaskDProcessor" in klass:
                # FieldMaskConfig.java:28-88 — one masker stage per config
                # entry (each entry may cover several fields with one mask)
                def mask_stage(mc: dict) -> dict:
                    mt = (mc.get("maskType") or "VARIABLE_LENGTH").upper()
                    stage = {
                        "type": "field_masker",
                        "columns": [path_to_column(f) for f in mc.get("fields", [])],
                        "mask_type": mt,
                    }
                    if mt == "CUSTOM":
                        stage["custom_mask"] = mc.get("mask") or ""
                    if mt == "REGEX":
                        stage["regex"] = mc.get("regex") or ""
                        groups = str(mc.get("groupsToShow") or "").strip()
                        shown = sorted(
                            int(g) for g in groups.split(",") if g.strip()
                        )
                        # the engine's REGEX mode reveals the first N
                        # groups; a non-prefix selection ("2,4") would
                        # change semantics silently — refuse it instead
                        if shown != list(range(1, len(shown) + 1)):
                            raise ValidationError(
                                f"VALIDATION_0003: {name}: groupsToShow "
                                f"{groups!r} must be the prefix 1..N"
                            )
                        stage["groups_to_show"] = len(shown)
                    return stage

                stages.extend(
                    chained(
                        name,
                        ins[0],
                        outs[0],
                        [mask_stage(mc) for mc in conf.get("fieldMaskConfigs", [])],
                    )
                )
            elif "FieldValueReplacerDProcessor" in klass:
                # FieldValueReplacerProcessor.java order: conditional
                # null-out, then null backfill, then conditional replace
                op_map = {
                    "EQUALS": "=", "NOT_EQUALS": "!=", "LESS_THAN": "<",
                    "LESS_THAN_EQUALS": "<=", "GREATER_THAN": ">",
                    "GREATER_THAN_EQUALS": ">=",
                }
                null_when = [
                    [path_to_column(f), el(c["condition"])]
                    for c in conf.get("nullReplacerConditionalConfigs") or []
                    for f in c.get("fieldsToNull", [])
                ]
                null_defaults = {
                    path_to_column(f): coerce_literal(c.get("newValue"))
                    for c in conf.get("fieldsToReplaceIfNull") or []
                    for f in c.get("fields", [])
                }
                conditional = []
                for c in conf.get("fieldsToConditionallyReplace") or []:
                    op = (c.get("operator") or "EQUALS").upper()
                    if op not in op_map:
                        raise ValidationError(
                            f"VALIDATION_0003: {name}: unsupported operator {op!r}"
                        )
                    for f in c.get("fieldNames", []):
                        col = path_to_column(f)
                        conditional.append(
                            [
                                col,
                                f"{col} {op_map[op]} "
                                f"{sql_literal(c.get('comparisonValue'))}",
                                coerce_literal(c.get("replacementValue")),
                            ]
                        )
                stages.append(
                    {
                        "name": name,
                        "type": "value_replacer",
                        "in": ins[0],
                        "out": outs[0],
                        "null_when": null_when,
                        "null_defaults": null_defaults,
                        "conditional": conditional,
                    }
                )
            elif "SplitterDProcessor" in klass:
                too_many = {
                    "TO_LAST_FIELD": "to_last_field",
                    "TO_LIST": "to_list",
                }.get((conf.get("tooManySplitsAction") or "TO_LAST_FIELD").upper())
                if too_many is None:
                    raise ValidationError(
                        f"VALIDATION_0003: {name}: unsupported "
                        f"tooManySplitsAction {conf.get('tooManySplitsAction')!r}"
                    )
                stage = {
                    "name": name,
                    "type": "field_splitter",
                    "in": ins[0],
                    "out": outs[0],
                    "column": path_to_column(conf["fieldPath"]),
                    "separator": conf["separator"],
                    "to": [path_to_column(p) for p in conf["fieldPathsForSplits"]],
                    "too_many": too_many,
                    "keep_original": (
                        (conf.get("originalFieldAction") or "REMOVE").upper()
                        == "KEEP"
                    ),
                }
                if too_many == "to_list":
                    stage["remaining_to"] = path_to_column(
                        conf.get("remainingSplitsPath") or "/remainingSplits"
                    )
                stages.append(stage)
            elif "JsonParserDProcessor" in klass:
                ov = stage_overrides.get(name) or {}
                if "schema" not in ov:
                    raise ValidationError(
                        f"VALIDATION_0009: {name}: the JSON parser needs a "
                        "declared parse schema — pass stage_overrides="
                        f"{{{name!r}: {{'schema': ...}}}} (Spark parses "
                        "with a schema; the reference infers per record)"
                    )
                stages.append(
                    {
                        "name": name,
                        "type": "json_parser",
                        "in": ins[0],
                        "out": outs[0],
                        "column": path_to_column(conf["fieldPathToParse"]),
                        "into": path_to_column(conf["parsedFieldPath"]),
                        "schema": ov["schema"],
                    }
                )
            elif "ListPivotDProcessor" in klass:
                stage = {
                    "name": name,
                    "type": "list_pivot",
                    "in": ins[0],
                    "out": outs[0],
                    "column": path_to_column(conf["listPath"]),
                    "copy_fields": bool(conf.get("copyFields", True)),
                }
                if conf.get("newPath"):
                    stage["into"] = path_to_column(conf["newPath"])
                if conf.get("saveOriginalFieldName") and conf.get(
                    "originalFieldNamePath"
                ):
                    stage["original_name_to"] = path_to_column(
                        conf["originalFieldNamePath"]
                    )
                stages.append(stage)
            elif "FieldOrderDProcessor" in klass:
                order = [
                    path_to_column(f)
                    for f in cget(conf, "config.fields", "fields", default=[])
                ]
                missing = (
                    cget(conf, "config.missingFieldAction", "missingFieldAction")
                    or "TO_ERROR"
                ).upper()
                extra = (
                    cget(conf, "config.extraFieldAction", "extraFieldAction")
                    or "TO_ERROR"
                ).upper()
                stage = {
                    "name": name,
                    "type": "field_order",
                    "in": ins[0],
                    "out": outs[0],
                    "order": order,
                    "extra": "drop" if extra == "DISCARD" else "error",
                }
                if missing == "USE_DEFAULT":
                    dv = coerce_literal(
                        cget(conf, "config.defaultValue", "defaultValue")
                    )
                    stage["defaults"] = {c: dv for c in order}
                stages.append(stage)
            elif "FieldFlattenerDProcessor" in klass:
                ftype = (
                    cget(conf, "config.flattenType", "flattenType")
                    or "ENTIRE_RECORD"
                ).upper()
                sep = cget(conf, "config.nameSeparator", "nameSeparator") or "_"
                if ftype == "ENTIRE_RECORD":
                    stages.append(
                        {
                            "name": name,
                            "type": "field_flattener_entire",
                            "in": ins[0],
                            "out": outs[0],
                            "separator": sep,
                        }
                    )
                else:
                    stages.extend(
                        chained(
                            name,
                            ins[0],
                            outs[0],
                            [
                                {
                                    "type": "field_flattener",
                                    "column": path_to_column(f),
                                    "separator": sep,
                                    "recursive": True,
                                }
                                for f in cget(
                                    conf, "config.fields", "fields", default=[]
                                )
                            ],
                        )
                    )
            elif "FieldMergerDProcessor" in klass:
                overwrite = bool(conf.get("overwriteExisting"))
                stages.extend(
                    chained(
                        name,
                        ins[0],
                        outs[0],
                        [
                            {
                                "type": "field_struct_merge",
                                "from_col": path_to_column(m["fromField"]),
                                "to_col": path_to_column(m["toField"]),
                                "overwrite": overwrite,
                            }
                            for m in conf.get("mergeMapping", [])
                        ],
                    )
                )
            elif "FieldZipDProcessor" in klass:
                stages.extend(
                    chained(
                        name,
                        ins[0],
                        outs[0],
                        [
                            {
                                "type": "field_zip",
                                "into": path_to_column(z["zippedFieldPath"]),
                                "left": path_to_column(z["firstField"]),
                                "right": path_to_column(z["secondField"]),
                            }
                            for z in cget(
                                conf,
                                "fieldZipConfigBean.fieldZipConfigs",
                                "fieldZipConfigs",
                                default=[],
                            )
                        ],
                    )
                )
            elif "LocalLookupDProcessor" in klass:
                values = as_map(cget(conf, "conf.values", "values", default={}))
                lookups = cget(conf, "conf.lookups", "lookups", default=[])
                stages.extend(
                    chained(
                        name,
                        ins[0],
                        outs[0],
                        [
                            {
                                "type": "static_lookup",
                                "mapping": values,
                                "key_column": el(lk["keyExpr"]),
                                "value_column": path_to_column(
                                    lk["outputFieldPath"]
                                ),
                            }
                            for lk in lookups
                        ],
                    )
                )
            elif "DeDupDProcessor" in klass:
                compare = (conf.get("compareFields") or "ALL_FIELDS").upper()
                cols = (
                    [path_to_column(f) for f in conf.get("fieldsToCompare", [])]
                    if compare == "SPECIFIED_FIELDS"
                    else None
                )
                stages.append(
                    {
                        "name": name,
                        "type": "record_dedup",
                        "in": ins[0],
                        "out": outs[0],
                        "dup_lane": outs[1] if len(outs) > 1 else f"{name}#dup",
                        "columns": cols,
                    }
                )
            elif "JdbcLookupDProcessor" in klass:
                # jdbc-lib/.../jdbclookup: the lookup queries an EXTERNAL
                # database per record; the scale-correct Spark form is a
                # broadcast join against a local extract of the dimension
                # (same pattern as origin_overrides: the caller supplies
                # {path, on}). columnMappings rename dim columns onto the
                # record's field paths.
                ov = stage_overrides.get(name) or {}
                if "path" not in ov or "on" not in ov:
                    raise ValidationError(
                        f"VALIDATION_0009: {name}: JDBC lookup needs a "
                        "stage_overrides entry with the dimension extract "
                        f"{{'path': parquet, 'on': [join cols]}} (the query "
                        "runs against an external DB the sandbox lacks)"
                    )
                renames = {
                    m["columnName"]: path_to_column(m["field"])
                    for m in conf.get("columnMappings", [])
                }
                stages.append(
                    {
                        "name": name,
                        "type": "jdbc_lookup",
                        "in": ins[0],
                        "out": outs[0],
                        "dim_path": ov["path"],
                        "on": ov["on"],
                        "renames": renames,
                        "multiple": (
                            conf.get("multipleValuesBehavior") or "FIRST_ONLY"
                        ).upper().replace("SPLIT_INTO_MULTIPLE_RECORDS", "SPLIT"),
                    }
                )
            elif "HttpDProcessor" in klass:
                # basic-lib/.../processor/http/HttpProcessorConfig.java:
                # resourceUrl is an EL TEMPLATE (literal text + ${...}
                # tokens) resolved per record; outputField receives the
                # response. The transport is injectable (no network here) —
                # supplied via stage_overrides, like the engine operator.
                ov = stage_overrides.get(name) or {}
                url = cget(conf, "conf.resourceUrl", "resourceUrl")
                out_field = cget(conf, "conf.outputField", "outputField")
                if not url or not out_field:
                    raise ValidationError(
                        f"VALIDATION_0003: {name}: HTTP processor needs "
                        "conf.resourceUrl and conf.outputField"
                    )
                stages.append(
                    {
                        "name": name,
                        "type": "http_client",
                        "in": ins[0],
                        "out": outs[0],
                        "resource_url": url,
                        "into": path_to_column(out_field),
                        "transport": ov.get("transport"),
                        "time_col": ov.get("time_col", "ts"),
                    }
                )
            elif "XmlParserDProcessor" in klass:
                ov = stage_overrides.get(name) or {}
                if "schema" not in ov:
                    raise ValidationError(
                        f"VALIDATION_0009: {name}: the XML parser needs a "
                        "declared parse schema — pass stage_overrides="
                        f"{{{name!r}: {{'schema': ...}}}} (Spark parses "
                        "with a schema; the reference infers per record)"
                    )
                stages.append(
                    {
                        "name": name,
                        "type": "xml_parser",
                        "in": ins[0],
                        "out": outs[0],
                        "column": path_to_column(
                            cget(conf, "configs.fieldPathToParse", "fieldPathToParse")
                        ),
                        "into": path_to_column(
                            cget(conf, "configs.parsedFieldPath", "parsedFieldPath")
                        ),
                        "schema": ov["schema"],
                    }
                )
            elif "LogParserDProcessor" in klass:
                # LogParserDProcessor.java:58-135 — REGEX mode (regex +
                # fieldPathsToGroupName) and COMMON_LOG_FORMAT (the stock
                # Apache CLF regex, sources/formats.py) port; grok/log4j
                # custom formats are jar-side parser configs -> refuse by
                # name rather than mis-parse
                mode = (conf.get("logMode") or "COMMON_LOG_FORMAT").upper()
                if mode == "REGEX":
                    pattern = conf.get("regex") or ""
                    groups = {
                        path_to_column(g["fieldPath"]): int(g.get("group", 1))
                        for g in conf.get("fieldPathsToGroupName", [])
                    }
                elif mode == "COMMON_LOG_FORMAT":
                    from datacollector_spark.sources.formats import (
                        APACHE_COMMON_GROUPS,
                        APACHE_COMMON_LOG,
                    )

                    pattern, groups = APACHE_COMMON_LOG, dict(APACHE_COMMON_GROUPS)
                else:
                    raise ValidationError(
                        f"VALIDATION_0003: {name}: logMode {mode!r} is not "
                        "ported (REGEX and COMMON_LOG_FORMAT are)"
                    )
                stages.append(
                    {
                        "name": name,
                        "type": "log_parser",
                        "in": ins[0],
                        "out": outs[0],
                        "column": path_to_column(conf["fieldPathToParse"]),
                        "pattern": pattern,
                        "groups": groups,
                    }
                )
            elif "Base64EncodingDProcessor" in klass or (
                "Base64DecodingDProcessor" in klass
            ):
                stages.append(
                    {
                        "name": name,
                        "type": "base64_codec",
                        "in": ins[0],
                        "out": outs[0],
                        "column": path_to_column(conf["originFieldPath"]),
                        "into": path_to_column(conf["resultFieldPath"]),
                        "decode": "Decoding" in klass,
                    }
                )
            elif "FieldRemoverDProcessor" in klass:
                cols = [path_to_column(p) for p in conf.get("fields", [])]
                op = (conf.get("filterOperation") or "REMOVE").upper()
                stages.append(
                    {
                        "name": name,
                        "type": "field_remover",
                        "in": ins[0],
                        "out": outs[0],
                        "columns": cols,
                        "keep": op == "KEEP",
                    }
                )
            elif "SparkDProcessor" in klass:
                # Spark Evaluator (StandaloneSparkDProcessor): the exported
                # config names a JVM SparkTransformer class; here user code
                # is a Python callable supplied at port time — the engine
                # runs it natively on the live lane
                ov = stage_overrides.get(name) or {}
                if not callable(ov.get("transformer")):
                    raise ValidationError(
                        f"VALIDATION_0009: {name}: Spark Evaluator's "
                        "transformerClass "
                        f"({conf.get('sparkProcessorConfigBean.transformerClass')!r}) "
                        "is a JVM class that cannot load here — supply the "
                        "equivalent callable via stage_overrides="
                        f"{{{name!r}: {{'transformer': fn}}}}"
                    )
                stages.append(
                    {
                        "name": name,
                        "type": "spark_evaluator",
                        "in": ins[0],
                        "out": outs[0],
                        "transformer": ov["transformer"],
                        "init_params": ov.get("init_params"),
                    }
                )
            elif "FuzzyFieldDProcessor" in klass:
                # fuzzy/FuzzyFieldDProcessor.java — the supported shape is
                # the in-place single-candidate mode; allCandidates=true
                # emits per-candidate {score, header, value} maps (a
                # record-introspection shape with no columnar meaning).
                # rootFieldPaths scopes matching "up to 1 level deep" — the
                # flat frame IS that level, so every column is a candidate.
                if conf.get("allCandidates"):
                    raise ValidationError(
                        f"VALIDATION_0003: {name}: allCandidates=true emits "
                        "per-candidate score maps — port with "
                        "allCandidates=false (in-place rename)"
                    )
                if conf.get("inPlace") is False:
                    raise ValidationError(
                        f"VALIDATION_0003: {name}: inPlace=false keeps "
                        "candidate metadata — port with inPlace=true"
                    )
                stages.append(
                    {
                        "name": name,
                        "type": "fuzzy_field_rename",
                        "in": ins[0],
                        "out": outs[0],
                        "expected": [
                            path_to_column(f)
                            for f in conf.get("outputFieldNames") or []
                        ],
                        "threshold": float(conf.get("matchThreshold", 60))
                        / 100.0,
                        "preserve_unmatched": bool(
                            conf.get("preserveUnmatchedFields", True)
                        ),
                    }
                )
            elif "GeolocationDProcessor" in klass:
                # geolocation/GeolocationDProcessor.java — dbConfigs name
                # GeoIP2 .mmdb binaries (vendor artifact, jar-side reader);
                # the columnar port probes a (range_lo, range_hi, attr...)
                # extract of the same database, broadcast like any dim
                ov = stage_overrides.get(name) or {}
                if "ranges_path" not in ov:
                    raise ValidationError(
                        f"VALIDATION_0009: {name}: the GeoIP2 database "
                        f"({conf.get('dbConfigs')!r}) is a binary maxmind "
                        "artifact — supply a (range_lo, range_hi, attr...) "
                        "parquet extract via stage_overrides="
                        f"{{{name!r}: {{'ranges_path': ...}}}}"
                    )
                # GeolocationFieldConfig {inputFieldName, outputFieldName,
                # targetType: GeolocationField} — the attr column carries
                # the enum's lowercase name (COUNTRY_NAME -> country_name)
                field_cfgs = [
                    [
                        path_to_column(c["inputFieldName"]),
                        path_to_column(c["outputFieldName"]),
                        (c.get("targetType") or "").lower(),
                    ]
                    for c in conf.get("fieldTypeConverterConfigs", [])
                ]
                missing = (
                    conf.get("missingAddressAction") or "REPLACE_WITH_NULLS"
                ).upper()
                stage = {
                    "name": name,
                    "type": "geolocation_lookup",
                    "in": ins[0],
                    "out": outs[0],
                    "ranges_path": ov["ranges_path"],
                    "field_configs": field_cfgs,
                    "missing_action": missing,
                    "lo_column": ov.get("lo_column", "range_lo"),
                    "hi_column": ov.get("hi_column", "range_hi"),
                }
                if missing == "TO_ERROR":
                    stage["error_lane"] = f"{name}#errors"
                stages.append(stage)
            elif (
                "JavaScriptDProcessor" in klass
                or "JythonDProcessor" in klass
                or "GroovyDProcessor" in klass
            ):
                # scripting processors: the exported 'script' config is
                # JS/Jython/Groovy source with the records binding — no
                # engine for it here, and a faithful per-record interpreter
                # would be the slow path anyway. The port contract mirrors
                # the Spark-evaluator doctrine: the user supplies the
                # vectorized pandas equivalent (runs via mapInPandas,
                # Arrow-batched — commonlib AbstractScriptingProcessor's
                # batch mode without the per-record loop).
                ov = stage_overrides.get(name) or {}
                if not callable(ov.get("func")):
                    raise ValidationError(
                        f"VALIDATION_0009: {name}: the {klass.split('_')[-1]} "
                        "'script' source cannot execute here — supply the "
                        "vectorized pandas equivalent via stage_overrides="
                        f"{{{name!r}: {{'func': fn, 'schema': ...}}}}"
                    )
                stage = {
                    "name": name,
                    "type": "scripting",
                    "in": ins[0],
                    "out": outs[0],
                    "func": ov["func"],
                }
                if ov.get("schema") is not None:
                    stage["schema"] = ov["schema"]
                stages.append(stage)
            elif "XMLFlatteningDProcessor" in klass:
                # xmlflattener/XMLFlatteningDProcessor.java — parse the XML
                # text in fromField and flatten the element tree into
                # record fields named root<fieldDelimiter>child... Spark
                # parses with a declared schema (the reference infers per
                # record), and the flattened prefix is the document's root
                # element — both supplied via stage_overrides. Attributes
                # appear iff the override schema declares them
                # (ignoreAttributes is schema-driven here); name
                # collisions resolve by select order (newFieldOverwrites).
                ov = stage_overrides.get(name) or {}
                if "schema" not in ov or "root" not in ov:
                    raise ValidationError(
                        f"VALIDATION_0009: {name}: the XML flattener needs "
                        "a declared parse schema and the root element name "
                        f"— pass stage_overrides={{{name!r}: {{'schema': "
                        "..., 'root': 'elem'}}}}"
                    )
                if conf.get("recordDelimiter"):
                    raise ValidationError(
                        f"VALIDATION_0003: {name}: recordDelimiter (one "
                        "record per repeated child element) is not ported "
                        "directly — port as an XML parser stage + List "
                        "Pivot over the repeated array field"
                    )
                if (conf.get("outputField") or "").strip("/"):
                    raise ValidationError(
                        f"VALIDATION_0003: {name}: only record-root output "
                        "(empty outputField) is ported"
                    )
                root = ov["root"]
                keep_orig = bool(conf.get("keepOriginalFields", True))
                parsed_lane = f"{name}#parsed"
                stages.append(
                    {
                        "name": f"{name}#parse",
                        "type": "xml_parser",
                        "in": ins[0],
                        "out": parsed_lane,
                        "column": path_to_column(conf["fromField"]),
                        "into": root,
                        "schema": ov["schema"],
                    }
                )
                flat_out = outs[0] if keep_orig else f"{name}#flat"
                stages.append(
                    {
                        "name": name if keep_orig else f"{name}#flatten",
                        "type": "field_flattener",
                        "in": parsed_lane,
                        "out": flat_out,
                        "column": root,
                        "separator": conf.get("fieldDelimiter") or ".",
                        "recursive": True,
                    }
                )
                if not keep_orig:
                    stages.append(
                        {
                            "name": name,
                            "type": "field_remover",
                            "in": flat_out,
                            "out": outs[0],
                            "columns": [path_to_column(conf["fromField"])],
                        }
                    )
            elif "HttpClientDSource" in klass:
                # HTTP Client origin (HttpClientSourceConfigBean): resourceUrl
                # with ${startAt}, pagination bean, resultFieldPath. The
                # endpoint itself is external, so origin_overrides supplies
                # the transport (tests) or nothing (default urllib) plus the
                # record schema the dataFormatConfig implies.
                ov = origin_overrides.get(name) or {}
                if "record_schema" not in ov:
                    raise ValidationError(
                        f"VALIDATION_0008: {name}: HTTP origin needs an "
                        "origin_overrides entry with 'record_schema' (and "
                        "optionally 'transport')"
                    )
                rfp = conf.get("conf.pagination.resultFieldPath") or None
                stages.append(
                    {
                        "name": name,
                        "type": "http_origin",
                        "out": outs[0],
                        "resource_url": conf.get("conf.resourceUrl", ""),
                        "pagination_mode": conf.get("conf.pagination.mode", "NONE"),
                        "start_at": conf.get("conf.pagination.startAt", 0),
                        "result_field_path": (
                            path_to_column(rfp) if rfp else None
                        ),
                        **ov,
                    }
                )
            elif "AmazonS3DSource" in klass:
                # S3 origin (S3ConfigBean: s3Config.bucket/commonPrefix,
                # s3FileConfig.prefixPattern/objectOrdering); regional AWS
                # endpoints are unreachable here, so overrides supply
                # endpoint+credentials (or the export's OTHER-region
                # s3Config.endpoint is honored)
                ov = origin_overrides.get(name) or {}
                endpoint = ov.get("endpoint") or conf.get("s3ConfigBean.s3Config.endpoint")
                if not endpoint:
                    raise ValidationError(
                        f"VALIDATION_0008: {name}: S3 origin needs an "
                        "'endpoint' (origin_overrides or the export's "
                        "s3Config.endpoint)"
                    )
                stages.append(
                    {
                        "name": name,
                        "type": "s3_origin_spool",
                        "out": outs[0],
                        "endpoint": endpoint,
                        "access_key": conf.get(
                            "s3ConfigBean.s3Config.awsConfig.awsAccessKeyId", ""
                        ),
                        "secret_key": conf.get(
                            "s3ConfigBean.s3Config.awsConfig.awsSecretAccessKey", ""
                        ),
                        "bucket": conf.get("s3ConfigBean.s3Config.bucket", ""),
                        "common_prefix": conf.get(
                            "s3ConfigBean.s3Config.commonPrefix", ""
                        ),
                        "prefix_pattern": conf.get(
                            "s3ConfigBean.s3FileConfig.prefixPattern", "*"
                        ),
                        "ordering": conf.get(
                            "s3ConfigBean.s3FileConfig.objectOrdering",
                            "LEXICOGRAPHICAL",
                        ),
                        **ov,
                    }
                )
            elif "KinesisDSource" in klass:
                # Kinesis origin (KinesisConfigBean.streamName/endpoint,
                # initialPositionInStream default LATEST)
                ov = origin_overrides.get(name) or {}
                endpoint = ov.get("endpoint") or conf.get("kinesisConfig.endpoint")
                if not endpoint:
                    raise ValidationError(
                        f"VALIDATION_0008: {name}: Kinesis origin needs an "
                        "'endpoint' (origin_overrides or kinesisConfig.endpoint)"
                    )
                stages.append(
                    {
                        "name": name,
                        "type": "kinesis_origin",
                        "out": outs[0],
                        "endpoint": endpoint,
                        "access_key": conf.get(
                            "kinesisConfig.awsConfig.awsAccessKeyId", ""
                        ),
                        "secret_key": conf.get(
                            "kinesisConfig.awsConfig.awsSecretAccessKey", ""
                        ),
                        "stream": conf.get("kinesisConfig.streamName", ""),
                        "initial_position": conf.get(
                            "kinesisConfig.initialPositionInStream", "LATEST"
                        ),
                        **ov,
                    }
                )
            elif "SdcIpcDSource" in klass or "SdcIpcWithDiskBufferDSource" in klass:
                # SDC RPC origin: the LISTENER is process state
                # (sources/sdcipc.SdcIpcOrigin), not pipeline config; the
                # ported stage reads the listener's spool landing dir
                ov = origin_overrides.get(name) or {}
                if "spool_dir" not in ov:
                    raise ValidationError(
                        f"VALIDATION_0008: {name}: SDC RPC origin needs an "
                        "origin_overrides entry with the running listener's "
                        "'spool_dir' (start one with SdcIpcOrigin(spool_dir, "
                        f"app_id={conf.get('configs.appId')!r}))"
                    )
                stages.append(
                    {"name": name, "type": "json_spool_origin", "out": outs[0], **ov}
                )
            elif "SpoolDirDSource" in klass:
                # Directory origin (SpoolDirConfigBean: conf.spoolDir /
                # conf.filePattern / conf.dataFormat — basic-lib/.../
                # spooldir/SpoolDirConfigBean.java:34-77).  JSON rides
                # Spark's native json reader; SDC_JSON is the reference's
                # own record wire format (RecordWriterReaderFactory JSON1),
                # read jar-free by sources/sdc_record.py — it needs the
                # record schema the value LIST_MAP carries (the reference
                # gets it from the records themselves; a columnar plan
                # needs it declared up front).
                ov = origin_overrides.get(name) or {}
                if "path" in ov:
                    # the established origin-replacement pattern: a local
                    # 'path' override swaps the origin for a parquet read
                    # (tests / previews against lake extracts)
                    stages.append(
                        {
                            "name": name,
                            "type": "parquet_origin",
                            "out": outs[0],
                            **ov,
                        }
                    )
                    continue
                spool = ov.get("spool_dir") or conf.get("conf.spoolDir")
                if not spool:
                    raise ValidationError(
                        f"VALIDATION_0008: {name}: Directory origin needs "
                        "'conf.spoolDir' (or an origin_overrides spool_dir)"
                    )
                fmt = conf.get("conf.dataFormat", "JSON")
                if fmt == "SDC_JSON":
                    if "record_schema" not in ov:
                        raise ValidationError(
                            f"VALIDATION_0008: {name}: SDC_RECORD data "
                            "format needs an origin_overrides entry with "
                            "'record_schema' (StructType of the record's "
                            "root field)"
                        )
                    stages.append(
                        {
                            "name": name,
                            "type": "sdc_record_spool_origin",
                            "out": outs[0],
                            "spool_dir": spool,
                            "glob": conf.get("conf.filePattern", "*.sdc"),
                            **ov,
                        }
                    )
                elif fmt == "JSON":
                    stages.append(
                        {
                            "name": name,
                            "type": "json_spool_origin",
                            "out": outs[0],
                            "spool_dir": spool,
                            **{k: v for k, v in ov.items() if k != "spool_dir"},
                        }
                    )
                else:
                    raise ValidationError(
                        f"VALIDATION_0006: {name}: Directory origin "
                        f"dataFormat {fmt!r} is not config-portable here "
                        "(JSON and SDC_JSON are; use the engine API in "
                        "sources/spooldir.py + sources/formats.py for the "
                        "other formats)"
                    )
            elif "SolrDTarget" in klass:
                ov = stage_overrides.get(name) or {}
                fmap = {
                    path_to_column(m["field"]): m["solrFieldName"]
                    for m in (conf.get("fieldNamesMap") or [])
                }
                if not fmap:
                    raise ValidationError(
                        f"VALIDATION_0003: {name}: Solr target needs a "
                        "non-empty fieldNamesMap (SOLR_02)"
                    )
                stages.append(
                    {
                        "name": name,
                        "type": "solr_target",
                        "in": ins[0],
                        "solr_uri": conf.get("solrURI", ""),
                        "collection": conf.get("defaultCollection")
                        or "collection1",
                        "field_map": fmap,
                        "indexing_mode": conf.get("indexingMode", "BATCH"),
                        **ov,
                    }
                )
            elif "CassandraDTarget" in klass:
                ov = stage_overrides.get(name) or {}
                cmap = {
                    path_to_column(m["field"]): m["columnName"]
                    for m in (conf.get("conf.columnNames") or [])
                }
                contact_points = conf.get("conf.contactPoints") or []
                stages.append(
                    {
                        "name": name,
                        "type": "cassandra_target",
                        "in": ins[0],
                        "contact_point": contact_points[0] if contact_points else "",
                        "port": conf.get("conf.port", 9042),
                        "qualified_table": conf.get("conf.qualifiedTableName", ""),
                        "column_map": cmap,
                        "batch_type": conf.get("conf.batchType", "LOGGED"),
                        "max_batch_size": conf.get("conf.maxBatchSize", 65535),
                        **ov,
                    }
                )
            elif "SdcIpcDTarget" in klass:
                ov = stage_overrides.get(name) or {}
                stages.append(
                    {
                        "name": name,
                        "type": "sdcipc_target",
                        "in": ins[0],
                        "host_ports": conf.get("config.hostPorts") or [],
                        "app_id": conf.get("config.appId", ""),
                        "compression": conf.get("config.compression", False),
                        "retries_per_batch": conf.get("config.retriesPerBatch", 3),
                        "back_off": conf.get("config.backOff", 0),
                        **ov,
                    }
                )
            elif "ForceDSource" in klass:
                # Salesforce origin (salesforce-lib ForceDSource:
                # forceConfig.{username,password,authEndpoint,apiVersion,
                # soqlQuery,offsetColumn,initialOffset,useBulkAPI}).  Only
                # the Bulk path is columnar-portable; the SOAP row API and
                # the streaming (CometD) subscription raise by name.  The
                # login endpoint is external — origin_overrides supplies
                # the loopback 'login_url' in tests (the export's
                # authEndpoint is honored, scheme-prefixed); the origin
                # also needs the record_schema of the selected columns.
                ov = origin_overrides.get(name) or {}
                if not conf.get("forceConfig.useBulkAPI", True):
                    raise ValidationError(
                        f"VALIDATION_0006: {name}: only the Bulk API "
                        "path is config-portable (useBulkAPI=false is "
                        "the SOAP row API)"
                    )
                if conf.get("forceConfig.subscribeToStreaming"):
                    raise ValidationError(
                        f"VALIDATION_0006: {name}: the CometD streaming "
                        "subscription is not portable"
                    )
                login_url = ov.get("login_url") or conf.get(
                    "forceConfig.authEndpoint"
                )
                if not login_url:
                    raise ValidationError(
                        f"VALIDATION_0008: {name}: Salesforce origin needs "
                        "forceConfig.authEndpoint (or an origin_overrides "
                        "login_url)"
                    )
                if not login_url.startswith("http"):
                    login_url = "https://" + login_url
                if "record_schema" not in ov:
                    raise ValidationError(
                        f"VALIDATION_0008: {name}: Salesforce origin needs "
                        "an origin_overrides entry with 'record_schema'"
                    )
                stages.append(
                    {
                        "name": name,
                        "type": "force_bulk_origin",
                        "out": outs[0],
                        "login_url": login_url,
                        "username": conf.get("forceConfig.username", ""),
                        "password": conf.get("forceConfig.password", ""),
                        "api_version": str(
                            conf.get("forceConfig.apiVersion", "52.0")
                        ),
                        "soql_query": conf.get("forceConfig.soqlQuery", ""),
                        "offset_column": conf.get(
                            "forceConfig.offsetColumn", "Id"
                        ),
                        "initial_offset": conf.get(
                            "forceConfig.initialOffset", "000000000000000"
                        ),
                        **{k: v for k, v in ov.items() if k != "login_url"},
                    }
                )
            elif "RabbitDSource" in klass or "RabbitDTarget" in klass:
                # RabbitMQ origin/target (rabbitmq-lib): conf.uri,
                # conf.queue.{name,durable,exclusive,autoDelete},
                # conf.exchanges [{name,type,routingKey,durable,autoDelete}],
                # conf.credentialsConfig.{username,password}; target adds
                # conf.mandatory + conf.singleMessagePerBatch.  The broker
                # endpoint is external — origin/stage overrides supply the
                # loopback uri in tests; the origin also needs the JSON
                # record_schema (the reference parses dynamically).
                is_origin = "DSource" in klass
                ov = (
                    origin_overrides.get(name)
                    if is_origin
                    else stage_overrides.get(name)
                ) or {}
                uri = ov.get("uri") or conf.get("conf.uri")
                if not uri or uri == "amqp://":
                    raise ValidationError(
                        f"VALIDATION_0008: {name}: RabbitMQ stage needs a "
                        "non-default 'conf.uri' (or an overrides uri)"
                    )
                common = {
                    "uri": uri,
                    "queue": conf.get("conf.queue.name", ""),
                    "queue_durable": conf.get("conf.queue.durable", True),
                    "queue_exclusive": conf.get("conf.queue.exclusive", False),
                    "queue_auto_delete": conf.get("conf.queue.autoDelete", False),
                    "exchanges": [
                        {
                            "name": ex.get("name", ""),
                            "type": str(ex.get("type", "DIRECT")).lower(),
                            "routingKey": ex.get("routingKey", ""),
                            "durable": ex.get("durable", True),
                            "autoDelete": ex.get("autoDelete", False),
                        }
                        for ex in (conf.get("conf.exchanges") or [])
                    ],
                    "username": conf.get(
                        "conf.credentialsConfig.username", "guest"
                    ),
                    "password": conf.get(
                        "conf.credentialsConfig.password", "guest"
                    ),
                }
                if is_origin:
                    if "record_schema" not in ov:
                        raise ValidationError(
                            f"VALIDATION_0008: {name}: RabbitMQ origin needs "
                            "an origin_overrides entry with 'record_schema'"
                        )
                    stages.append(
                        {
                            "name": name,
                            "type": "rabbitmq_origin",
                            "out": outs[0],
                            **common,
                            **{k: v for k, v in ov.items() if k != "uri"},
                        }
                    )
                else:
                    stages.append(
                        {
                            "name": name,
                            "type": "rabbitmq_target",
                            "in": ins[0],
                            "mandatory": conf.get("conf.mandatory", False),
                            "single_message_per_batch": conf.get(
                                "conf.singleMessagePerBatch", False
                            ),
                            **common,
                            **{k: v for k, v in ov.items() if k != "uri"},
                        }
                    )
            elif "ElasticsearchDSource" in klass:
                # Elasticsearch scroll origin (elasticsearch-protolib/...
                # /origin/elasticsearch/ElasticsearchSource.java): numSlices
                # parallel scroll cursors — one executor task per slice
                # here.  The endpoint rides conf.httpUris (first entry) or
                # an origin_overrides {'http_uri': ...}; SDC parses JSON
                # hits dynamically, a columnar plan declares the _source
                # schema via origin_overrides {'record_schema': ...}.
                ov = origin_overrides.get(name) or {}
                uris = conf.get("conf.httpUris") or []
                http_uri = ov.get("http_uri") or (uris[0] if uris else None)
                if not http_uri:
                    raise ValidationError(
                        f"VALIDATION_0008: {name}: Elasticsearch origin "
                        "needs conf.httpUris (or an origin_overrides "
                        "http_uri)"
                    )
                if not http_uri.startswith("http"):
                    http_uri = "http://" + http_uri
                if "record_schema" not in ov:
                    raise ValidationError(
                        f"VALIDATION_0008: {name}: Elasticsearch origin "
                        "needs an origin_overrides entry with "
                        "'record_schema' (StructType of _source)"
                    )
                sec_user = conf.get("conf.securityConfig.securityUser") or ""
                username = password = None
                if conf.get("conf.useSecurity") and sec_user:
                    username, _, password = sec_user.partition(":")
                stages.append(
                    {
                        "name": name,
                        "type": "es_scroll_origin",
                        "out": outs[0],
                        "http_uri": http_uri,
                        "index": conf.get("conf.index", ""),
                        "mapping": conf.get("conf.mapping") or None,
                        "query": conf.get(
                            "conf.query", '{"query": {"match_all": {}}}'
                        ),
                        "num_slices": int(conf.get("conf.numSlices", 1)),
                        "max_batch_size": int(conf.get("conf.maxBatchSize", 1000)),
                        "cursor_timeout": conf.get("conf.cursorTimeout", "1m"),
                        "delete_cursor": bool(conf.get("conf.deleteCursor", True)),
                        "incremental": bool(
                            conf.get("conf.isIncrementalMode", False)
                        ),
                        "offset_field": conf.get("conf.offsetField", "timestamp"),
                        "initial_offset": conf.get("conf.initialOffset", ""),
                        "username": username,
                        "password": password,
                        **{k: v for k, v in ov.items() if k != "http_uri"},
                    }
                )
            elif "RedisLookupDProcessor" in klass:
                # Redis KV Lookup (redis-lib/.../kv/redis/
                # RedisLookupProcessor.java:107,145 — keyExpr is EL,
                # evaluated per record; conf.lookups rows carry
                # {keyExpr, outputFieldPath, dataType}).  The Redis
                # endpoint rides the export's conf.uri or a
                # stage_overrides {'uri': ...} (tests point it at the
                # loopback RESP fake).
                ov = stage_overrides.get(name) or {}
                uri = ov.get("uri") or conf.get("conf.uri")
                if not uri:
                    raise ValidationError(
                        f"VALIDATION_0008: {name}: Redis lookup needs "
                        "'conf.uri' (or a stage_overrides uri)"
                    )
                lookups = conf.get("conf.lookups") or []
                if not lookups:
                    raise ValidationError(
                        f"VALIDATION_0003: {name}: conf.lookups is empty"
                    )
                stages.append(
                    {
                        "name": name,
                        "type": "redis_lookup",
                        "in": ins[0],
                        "out": outs[0],
                        "uri": uri,
                        "lookups": [
                            {
                                "key_expr": el(lk["keyExpr"]),
                                "into": path_to_column(lk["outputFieldPath"]),
                                "data_type": lk.get("dataType", "STRING"),
                            }
                            for lk in lookups
                        ],
                    }
                )
            elif "RedisDTarget" in klass:
                # Redis destination (redis-lib/.../destination/redis/
                # RedisTarget.java): BATCH mode maps conf.redisFieldMapping
                # rows {keyExpr, valExpr, dataType, ttl} (field PATHS, not
                # EL — RedisTarget.java:204-207 record.get) onto pipelined
                # SET/LPUSH/SADD/HSET; PUBLISH mode takes the first
                # conf.channel entry.
                ov = stage_overrides.get(name) or {}
                uri = ov.get("uri") or conf.get("conf.uri")
                if not uri:
                    raise ValidationError(
                        f"VALIDATION_0008: {name}: Redis target needs "
                        "'conf.uri' (or a stage_overrides uri)"
                    )
                channels = conf.get("conf.channel") or []
                stages.append(
                    {
                        "name": name,
                        "type": "redis_target",
                        "in": ins[0],
                        "uri": uri,
                        "mode": conf.get("conf.mode", "BATCH"),
                        "field_mappings": [
                            {
                                "key": path_to_column(m["keyExpr"]),
                                "value": path_to_column(m["valExpr"]),
                                "data_type": m.get("dataType", "STRING"),
                                "ttl": m.get("ttl", -1),
                            }
                            for m in (conf.get("conf.redisFieldMapping") or [])
                        ],
                        "channel": channels[0] if channels else None,
                        **{k: v for k, v in ov.items() if k != "uri"},
                    }
                )
            elif "KafkaDTarget" in klass:
                # Kafka producer (kafka_target-protolib/.../destination/
                # kafka/KafkaDTarget.java; KafkaTargetConfig.java:72-181 —
                # conf.topic, conf.partitionStrategy, conf.partition is a
                # record-EL expression, conf.dataFormat).  The encode +
                # partitioning are ported exactly; the broker send is the
                # jar-gated writeStream wiring.
                fmt = str(conf.get("conf.dataFormat") or "JSON").upper()
                vfmt = {"JSON": "json", "DELIMITED": "csv"}.get(fmt)
                if vfmt is None:
                    raise ValidationError(
                        f"VALIDATION_0003: {name}: Kafka target dataFormat "
                        f"{fmt!r} not portable (JSON/DELIMITED only)"
                    )
                ov = stage_overrides.get(name) or {}
                strategy = str(
                    conf.get("conf.partitionStrategy") or "DEFAULT"
                ).upper()
                part_expr = None
                if strategy == "EXPRESSION":
                    part_expr = el(conf.get("conf.partition") or "")
                stages.append(
                    {
                        "name": name,
                        "type": "kafka_encode_target",
                        "in": ins[0],
                        "topic": conf.get("conf.topic", ""),
                        "value_format": vfmt,
                        "partition_strategy": strategy,
                        "partition_expr": part_expr,
                        "brokers": conf.get("conf.metadataBrokerList", ""),
                        **ov,
                    }
                )
            elif "HdfsDTarget" in klass or "LocalFileSystemDTarget" in klass:
                # Hadoop FS / Local FS target (hdfs-protolib/.../destination/
                # hdfs/HdfsTargetConfigBean.java:90-379): dirPathTemplate is
                # an EL path template resolved per record on the timeDriver
                # clock; files get uniquePrefix/fileNameSuffix names.  The
                # sandbox has no HDFS — base_dir rides stage_overrides (or a
                # file:// hdfsUri).
                ov = stage_overrides.get(name) or {}
                pfx = "hdfsTargetConfigBean."
                uri = conf.get(pfx + "hdfsUri") or ""
                base = ov.get("base_dir") or (
                    uri[len("file://"):] if uri.startswith("file://") else None
                )
                if not base:
                    raise ValidationError(
                        f"VALIDATION_0008: {name}: FS target needs a "
                        "stage_overrides 'base_dir' (or a file:// hdfsUri)"
                    )
                tpl = ov.get("dir_path_template") or conf.get(
                    pfx + "dirPathTemplate"
                )
                if not tpl:
                    raise ValidationError(
                        f"VALIDATION_0003: {name}: FS target needs "
                        "'dirPathTemplate'"
                    )
                fmt = str(conf.get(pfx + "dataFormat") or "JSON").upper()
                if fmt != "JSON":
                    raise ValidationError(
                        f"VALIDATION_0003: {name}: FS target dataFormat "
                        f"{fmt!r} not portable (JSON only)"
                    )
                time_col = ov.get("time_col")
                driver_el = conf.get(pfx + "timeDriver") or "${time:now()}"
                m = re.fullmatch(
                    r"\$\{record:value\('([^']+)'\)\}", driver_el.strip()
                )
                if m:
                    time_col = time_col or path_to_column(m.group(1))
                elif not time_col:
                    raise ValidationError(
                        f"VALIDATION_0008: {name}: timeDriver {driver_el!r} "
                        "is processing-time; a deterministic port needs a "
                        "stage_overrides 'time_col' (record-time basis)"
                    )
                stages.append(
                    {
                        "name": name,
                        "type": "fs_dir_template_target",
                        "in": ins[0],
                        "base_dir": base,
                        "dir_path_template": tpl,
                        "time_col": time_col,
                        "unique_prefix": conf.get(pfx + "uniquePrefix", "sdc"),
                        "file_name_suffix": conf.get(pfx + "fileNameSuffix", ""),
                        **{
                            k: v
                            for k, v in ov.items()
                            if k not in ("base_dir", "dir_path_template", "time_col")
                        },
                    }
                )
            elif "JdbcDTarget" in klass or "KuduDTarget" in klass:
                # JDBC Producer (jdbc-lib/.../destination/jdbc/
                # JdbcDTarget.java) and Kudu target (kudu-protolib/...
                # KuduDTarget.java) — the reference's CDC apply
                # destinations; the engine's analog is MERGE INTO on the
                # lake table (SURVEY §2.5): COW for the JDBC producer,
                # MOR delta ingest for Kudu.  The reference discovers
                # primary keys from DB metadata at runtime
                # (JdbcBaseRecordWriter.java:108-124) and writes to a live
                # endpoint — a port supplies both via stage_overrides
                # {'table_path', 'key_columns'}.
                is_kudu = "KuduDTarget" in klass
                ov = stage_overrides.get(name) or {}
                missing = [k for k in ("table_path", "key_columns") if k not in ov]
                if missing:
                    raise ValidationError(
                        f"VALIDATION_0008: {name}: lake-merge target needs "
                        f"stage_overrides {missing} (primary keys come from "
                        "DB metadata in the reference; none exists in a port)"
                    )
                if is_kudu:
                    mappings = conf.get("kuduConfigBean.fieldMappingConfigs") or []
                    default_op = conf.get(
                        "kuduConfigBean.defaultOperation", "UPSERT"
                    )
                else:
                    mappings = conf.get("columnNames") or []
                    default_op = conf.get("defaultOperation", "INSERT")
                op_codes = {"INSERT": 1, "DELETE": 2, "UPDATE": 3, "UPSERT": 4}
                stages.append(
                    {
                        "name": name,
                        "type": "kudu_lake" if is_kudu else "jdbc_producer_lake",
                        "in": ins[0],
                        "table_path": ov["table_path"],
                        "key_columns": list(ov["key_columns"]),
                        "num_buckets": int(ov.get("num_buckets", 16)),
                        "change_log_format": conf.get("changeLogFormat", "NONE"),
                        "default_op_code": op_codes.get(
                            str(default_op).upper(), 1
                        ),
                        "renames": {
                            path_to_column(m["field"]): m["columnName"]
                            for m in mappings
                        },
                        **{
                            k: v
                            for k, v in ov.items()
                            if k not in ("table_path", "key_columns")
                        },
                    }
                )
            elif "MongoDBOplogDSource" in klass:
                # MongoDB Oplog CDC origin (mongodb-protolib/.../origin/
                # mongodb/oplog/MongoDBOplogDSource.java): shares
                # configBean.mongoConfig with the plain origin; the oplog
                # bean carries initialTs/initialOrdinal (must be set
                # together, MONGODB_34/35) + filterOplogOpTypes (enum names
                # -> oplog op letters, OplogOpType.java:25-30).
                ov = origin_overrides.get(name) or {}
                conn = ov.get("connection_string") or conf.get(
                    "configBean.mongoConfig.connectionString"
                )
                if not conn:
                    raise ValidationError(
                        f"VALIDATION_0008: {name}: MongoDB oplog origin "
                        "needs 'configBean.mongoConfig.connectionString' "
                        "(or an origin_overrides connection_string)"
                    )
                hostport = conn.split("://", 1)[-1].split("/", 1)[0]
                host, _, port = hostport.partition(":")
                op_letters = {
                    "INSERT": "i", "DELETE": "d", "UPDATE": "u",
                    "NOOP": "n", "CMD": "c", "DB": "db",
                }
                filt = [
                    op_letters.get(str(t).upper(), str(t))
                    for t in conf.get(
                        "mongoDBOplogSourceConfigBean.filterOplogOpTypes"
                    ) or ["INSERT", "UPDATE", "DELETE"]
                ]
                coll = conf.get("configBean.mongoConfig.collection") or "oplog.rs"
                stages.append(
                    {
                        "name": name,
                        "type": "mongodb_oplog_origin",
                        "out": outs[0],
                        "host": host,
                        "port": int(port or 27017),
                        "database": conf.get(
                            "configBean.mongoConfig.database", "local"
                        ) or "local",
                        "collection": coll.split(".", 1)[-1]
                        if coll.startswith("local.") else coll,
                        "initial_ts": int(
                            conf.get("mongoDBOplogSourceConfigBean.initialTs", -1)
                        ),
                        "initial_ordinal": int(
                            conf.get(
                                "mongoDBOplogSourceConfigBean.initialOrdinal", -1
                            )
                        ),
                        "filter_op_types": filt,
                        "batch_size": int(conf.get("configBean.batchSize", 1000)),
                        **{
                            k: v
                            for k, v in ov.items()
                            if k != "connection_string"
                        },
                    }
                )
            elif "MongoDBDSource" in klass:
                # MongoDB origin (mongodb-protolib/.../origin/mongodb/
                # MongoDBDSource.java): configBean.mongoConfig.* carries the
                # endpoint (MongoDBConfig.java:45-92), configBean.offset*
                # the cursor state (MongoSourceConfigBean.java:30-88).  The
                # connectionString is mongodb://host:port[/db]; documents
                # are dynamic in SDC, a columnar plan declares the schema
                # via origin_overrides {'record_schema': ...}.
                ov = origin_overrides.get(name) or {}
                conn = ov.get("connection_string") or conf.get(
                    "configBean.mongoConfig.connectionString"
                )
                if not conn:
                    raise ValidationError(
                        f"VALIDATION_0008: {name}: MongoDB origin needs "
                        "'configBean.mongoConfig.connectionString' (or an "
                        "origin_overrides connection_string)"
                    )
                if "record_schema" not in ov:
                    raise ValidationError(
                        f"VALIDATION_0008: {name}: MongoDB origin needs an "
                        "origin_overrides entry with 'record_schema'"
                    )
                hostport = conn.split("://", 1)[-1].split("/", 1)[0]
                host, _, port = hostport.partition(":")
                stages.append(
                    {
                        "name": name,
                        "type": "mongodb_origin",
                        "out": outs[0],
                        "host": host,
                        "port": int(port or 27017),
                        "database": conf.get(
                            "configBean.mongoConfig.database", ""
                        ),
                        "collection": conf.get(
                            "configBean.mongoConfig.collection", ""
                        ),
                        "offset_field": conf.get(
                            "configBean.offsetField", "_id"
                        ),
                        "offset_type": conf.get(
                            "configBean.offsetType", "OBJECTID"
                        ),
                        "initial_offset": conf.get(
                            "configBean.initialOffset", ""
                        ),
                        "batch_size": int(conf.get("configBean.batchSize", 1000)),
                        **{
                            k: v
                            for k, v in ov.items()
                            if k != "connection_string"
                        },
                    }
                )
            elif "MongoDBDTarget" in klass:
                # MongoDB destination (mongodb-protolib/.../destination/
                # mongodb/MongoDBDTarget.java): op-code-aware bulk apply,
                # uniqueKeyField is a /field path
                # (MongoTargetConfigBean.java:30-54; MongoDBTarget.java
                # removeLeadingSlash :233-238).
                ov = stage_overrides.get(name) or {}
                conn = ov.get("connection_string") or conf.get(
                    "mongoTargetConfigBean.mongoConfig.connectionString"
                )
                if not conn:
                    raise ValidationError(
                        f"VALIDATION_0008: {name}: MongoDB target needs "
                        "'mongoTargetConfigBean.mongoConfig.connectionString'"
                        " (or a stage_overrides connection_string)"
                    )
                hostport = conn.split("://", 1)[-1].split("/", 1)[0]
                host, _, port = hostport.partition(":")
                key = conf.get("mongoTargetConfigBean.uniqueKeyField") or "_id"
                stages.append(
                    {
                        "name": name,
                        "type": "mongodb_target",
                        "in": ins[0],
                        "host": host,
                        "port": int(port or 27017),
                        "database": conf.get(
                            "mongoTargetConfigBean.mongoConfig.database", ""
                        ),
                        "collection": conf.get(
                            "mongoTargetConfigBean.mongoConfig.collection", ""
                        ),
                        "unique_key_field": path_to_column(key),
                        **{
                            k: v
                            for k, v in ov.items()
                            if k != "connection_string"
                        },
                    }
                )
            elif "DSource" in klass:
                ov = origin_overrides.get(name)
                if ov is None:
                    raise ValidationError(
                        f"VALIDATION_0008: {name}: origin {klass!r} needs an "
                        "origin_overrides entry with a local 'path'"
                    )
                stages.append(
                    {"name": name, "type": "parquet_origin", "out": outs[0], **ov}
                )
            elif "DTarget" in klass or "Trash" in klass:
                stages.append({"name": name, "type": "memory_target", "in": ins[0]})
            else:
                raise ValidationError(
                    f"VALIDATION_0006: unsupported SDC stage class {klass!r}"
                )
        return cls({"pipeline": cfg.get("title", "ported"), "stages": stages})

    # ------------------------------------------------------------- preview
    def preview(
        self,
        spark: SparkSession,
        limit_rows: int = 10,
        overrides: dict[str, Any] | None = None,
    ) -> dict[str, list[dict]]:
        """Dry-run: build the DAG, capture up to ``limit_rows`` rows from
        EVERY lane, commit nothing (the reference's preview runner,
        container/.../runner/preview/sync/SyncPreviewer.java:73,196 —
        limited-batch run with per-stage output capture and no offset
        commit). Sinks are never written; origins are read through the
        normal scan path, so preview exercises the real plan. ``overrides``
        injects literal stage outputs mid-DAG (see :meth:`build`)."""
        lanes = self.build(spark, overrides=overrides)
        return {
            lane: [r.asDict(recursive=True) for r in df.limit(limit_rows).collect()]
            for lane, df in lanes.items()
        }
