"""from_sdc_config over the CONNECTOR stage classes: Amazon S3 origin,
Kinesis origin, SDC-RPC origin, and Solr / Cassandra / SDC-RPC destinations
— each ported from a stock-shaped export and executed against the live
protocol fakes. Destinations are lazy at build() and execute via
run_targets() (the runner's commit step)."""
from __future__ import annotations

import json
import struct

import pytest

from datacollector_spark.plans.spec import PipelineSpec, ValidationError
from datacollector_spark.sources.sdcipc import SdcIpcOrigin
from datacollector_spark.streaming.pipeline import LINEAGE_SCHEMA
from tests.test_cassandra_sink import FakeCassandra
from tests.test_kinesis_origin import ACCESS as KACCESS
from tests.test_kinesis_origin import SECRET as KSECRET
from tests.test_kinesis_origin import FakeKinesis
from tests.test_s3_origin import ACCESS, SECRET, FakeS3
from tests.test_solr_sink import FakeSolr


def _stage(name, klass, conf=None, ins=(), outs=()):
    return {
        "instanceName": name,
        "stageName": klass,
        "configuration": [{"name": k, "value": v} for k, v in (conf or {}).items()],
        "inputLanes": list(ins),
        "outputLanes": list(outs),
    }


def _pipeline(*stages, title="connector-port"):
    return {"pipelineConfig": {"title": title, "stages": list(stages)}}


def test_s3_origin_to_solr_cassandra_sdcipc_targets(spark, tmp_path):
    """Full connector pipeline: S3 origin (signed REST) -> expression
    processor -> three connector destinations, every leg live."""
    s3 = FakeS3()
    solr = FakeSolr()
    cass = FakeCassandra()
    ipc = SdcIpcOrigin(str(tmp_path / "ipc_spool"), app_id="portapp")
    try:
        for i in range(30):
            s3.put(
                "land", f"in/doc-{i:02d}.jsonl",
                json.dumps({"k": i, "v": i * 2}).encode() + b"\n",
                "2026-01-01T00:00:00.000Z",
            )
        config = _pipeline(
            _stage(
                "S3_01",
                "com_streamsets_pipeline_stage_origin_s3_AmazonS3DSource",
                {
                    "s3ConfigBean.s3Config.bucket": "land",
                    "s3ConfigBean.s3Config.commonPrefix": "in/",
                    "s3ConfigBean.s3FileConfig.prefixPattern": "*.jsonl",
                    "s3ConfigBean.s3Config.awsConfig.awsAccessKeyId": ACCESS,
                    "s3ConfigBean.s3Config.awsConfig.awsSecretAccessKey": SECRET,
                },
                outs=["L_raw"],
            ),
            _stage(
                "Expr_01",
                "com_streamsets_pipeline_stage_processor_expression_ExpressionDProcessor",
                {
                    "expressionProcessorConfigs": [
                        {"fieldToSet": "/v10", "expression": "${record:value('/v') * 5}"}
                    ]
                },
                ins=["L_raw"],
                outs=["L_x"],
            ),
            _stage(
                "Solr_01",
                "com_streamsets_pipeline_stage_destination_solr_SolrDTarget",
                {
                    "solrURI": solr.uri,
                    "defaultCollection": "docs",
                    "indexingMode": "BATCH",
                    "fieldNamesMap": [
                        {"field": "/k", "solrFieldName": "id"},
                        {"field": "/v10", "solrFieldName": "v10_l"},
                    ],
                },
                ins=["L_x"],
            ),
            _stage(
                "Cass_01",
                "com_streamsets_pipeline_stage_destination_cassandra_CassandraDTarget",
                {
                    "conf.contactPoints": [cass.host],
                    "conf.port": cass.port,
                    "conf.qualifiedTableName": "ks.docs",
                    "conf.batchType": "UNLOGGED",
                    "conf.columnNames": [
                        {"field": "/k", "columnName": "k"},
                        {"field": "/v10", "columnName": "v10"},
                    ],
                },
                ins=["L_x"],
            ),
            _stage(
                "Rpc_01",
                "com_streamsets_pipeline_stage_destination_sdcipc_SdcIpcDTarget",
                {
                    "config.hostPorts": [ipc.host_port],
                    "config.appId": "portapp",
                    "config.compression": True,
                },
                ins=["L_x"],
            ),
        )
        spec = PipelineSpec.from_sdc_config(
            config, origin_overrides={"S3_01": {"endpoint": s3.endpoint}}
        )
        # the origin's JSON-lines bodies need parsing before the processors
        # (the export's dataFormatConfig implies JSON; the port leaves
        # bodies raw) — parse through the lane override contract
        from datacollector_spark.sources.s3 import S3ClientConfig, s3_spool_batch

        raw, _ = s3_spool_batch(
            spark, S3ClientConfig(s3.endpoint, ACCESS, SECRET), "land", "in/",
            "*.jsonl",
        )
        parsed = spark.read.schema("k long, v long").json(
            raw.selectExpr("CAST(body AS STRING) AS line").rdd.map(lambda r: r.line)
        )
        lanes = spec.build(spark, overrides={"L_raw": parsed})
        assert sorted(r.v10 for r in lanes["L_x"].collect()) == [
            i * 10 for i in range(30)
        ]
        meters = spec.run_targets()
        # Solr got mapped field names, committed
        assert len(solr.committed) == 30
        assert {d["id"]: d["v10_l"] for d in solr.committed}[3] == 30
        assert meters["Solr_01"][0].docs_indexed > 0
        # Cassandra got typed binary rows via prepared INSERTs
        rows = cass.all_rows()
        assert len(rows) == 30
        assert rows[0][0].startswith("INSERT INTO ks.docs (k, v10) VALUES")
        decoded = sorted(struct.unpack(">q", r[1][1])[0] for r in rows)
        assert decoded == [i * 10 for i in range(30)]
        assert cass.batches[0]["type"] == 1  # UNLOGGED honored
        # SDC-RPC peer received all records (snappy-compressed on the wire)
        back = ipc.read(spark, schema="k long, v long, v10 long")
        assert back.count() == 30
        # durable origin offset recorded
        assert spec.last_offsets["S3_01"].startswith("in/doc-29.jsonl::-1::")
    finally:
        s3.stop()
        solr.stop()
        cass.stop()
        ipc.stop()


def test_sdcipc_origin_port_reads_listener_spool(spark, tmp_path):
    ipc = SdcIpcOrigin(str(tmp_path / "spool"), app_id="a1")
    try:
        ipc._land(b'{"x": 1}\n{"x": 2}\n')
        config = _pipeline(
            _stage(
                "Rpc_in",
                "com_streamsets_pipeline_stage_origin_sdcipc_SdcIpcDSource",
                {"configs.appId": "a1"},
                outs=["L"],
            ),
        )
        # without the listener's spool dir: clear ask naming the app id
        with pytest.raises(ValidationError, match="VALIDATION_0008.*a1"):
            PipelineSpec.from_sdc_config(config)
        spec = PipelineSpec.from_sdc_config(
            config,
            origin_overrides={
                "Rpc_in": {
                    "spool_dir": str(tmp_path / "spool"),
                    "record_schema": "x long",
                }
            },
        )
        lanes = spec.build(spark)
        assert sorted(r.x for r in lanes["L"].collect()) == [1, 2]
    finally:
        ipc.stop()


def test_kinesis_origin_port(spark):
    fake = FakeKinesis({"s": 2})
    try:
        fake.seed("s", [(f"k{i}", json.dumps({"n": i}).encode()) for i in range(12)])
        config = _pipeline(
            _stage(
                "Kin_01",
                "com_streamsets_pipeline_stage_origin_kinesis_KinesisDSource",
                {
                    "kinesisConfig.streamName": "s",
                    "kinesisConfig.initialPositionInStream": "TRIM_HORIZON",
                    "kinesisConfig.awsConfig.awsAccessKeyId": KACCESS,
                    "kinesisConfig.awsConfig.awsSecretAccessKey": KSECRET,
                },
                outs=["L"],
            ),
        )
        spec = PipelineSpec.from_sdc_config(
            config, origin_overrides={"Kin_01": {"endpoint": fake.endpoint}}
        )
        lanes = spec.build(spark)
        try:
            got = sorted(json.loads(bytes(r.data))["n"] for r in lanes["L"].collect())
            assert got == list(range(12))
            assert set(json.loads(spec.last_offsets["Kin_01"])) <= {
                "shardId-000000000000", "shardId-000000000001",
            }
        finally:
            lanes["L"].unpersist()
    finally:
        fake.stop()


def test_mongodb_origin_to_mongodb_target_port(spark):
    """MongoDBDSource -> expression (op column) -> MongoDBDTarget, ported
    from a stock-shaped export and executed against the loopback fake
    mongod; the destination's ordered bulk apply lands every document."""
    from tests.mongofake import FakeMongod

    srv = FakeMongod()
    try:
        srv.seed("db", "src", [{"k": f"k{i:03d}", "v": i} for i in range(40)])
        conn = f"mongodb://127.0.0.1:{srv.port}/db"
        config = _pipeline(
            _stage(
                "Mongo_01",
                "com_streamsets_pipeline_stage_origin_mongodb_MongoDBDSource",
                {
                    "configBean.mongoConfig.connectionString": conn,
                    "configBean.mongoConfig.database": "db",
                    "configBean.mongoConfig.collection": "src",
                    "configBean.offsetField": "k",
                    "configBean.offsetType": "STRING",
                    "configBean.batchSize": 10,
                },
                outs=["L_m"],
            ),
            _stage(
                "Expr_01",
                "com_streamsets_pipeline_stage_processor_expression_ExpressionDProcessor",
                {
                    "expressionProcessorConfigs": [
                        {"fieldToSet": "/sdc_op", "expression": "1"}
                    ]
                },
                ins=["L_m"],
                outs=["L_op"],
            ),
            _stage(
                "MongoT_01",
                "com_streamsets_pipeline_stage_destination_mongodb_MongoDBDTarget",
                {
                    "mongoTargetConfigBean.mongoConfig.connectionString": conn,
                    "mongoTargetConfigBean.mongoConfig.database": "db",
                    "mongoTargetConfigBean.mongoConfig.collection": "dst",
                    "mongoTargetConfigBean.uniqueKeyField": "/k",
                },
                ins=["L_op"],
            ),
        )
        schema = spark.createDataFrame([], "k string, v long").schema
        spec = PipelineSpec.from_sdc_config(
            config,
            origin_overrides={
                "Mongo_01": {"record_schema": schema, "num_partitions": 3}
            },
        )
        lanes = spec.build(spark)
        assert lanes["L_m"].count() == 40
        meters = spec.run_targets()
        assert meters["MongoT_01"]["inserted"] == 40
        assert {d["k"]: d["v"] for d in srv.docs("db", "dst")} == {
            f"k{i:03d}": i for i in range(40)
        }
    finally:
        srv.close()


def test_mongodb_oplog_origin_port(spark):
    """MongoDBOplogDSource ported from a stock-shaped export: initialTs/
    initialOrdinal offsets, filterOplogOpTypes enum names -> oplog letters,
    local.oplog.rs collection split."""
    from datacollector_spark.sources.mongodb import BsonTimestamp
    from tests.mongofake import FakeMongod

    srv = FakeMongod()
    try:
        sec = 1_700_000_000
        entries = [
            {"ts": BsonTimestamp(sec + i, 1), "op": "i", "ns": "db.c",
             "o": {"k": f"k{i}", "v": str(i)}, "h": i}
            for i in range(12)
        ]
        entries.append(
            {"ts": BsonTimestamp(sec + 50, 1), "op": "n", "ns": "",
             "o": {"msg": "noop"}, "h": 99}
        )
        srv.seed("local", "oplog.rs", entries)
        config = _pipeline(
            _stage(
                "Oplog_01",
                "com_streamsets_pipeline_stage_origin_mongodb_oplog_MongoDBOplogDSource",
                {
                    "configBean.mongoConfig.connectionString":
                        f"mongodb://127.0.0.1:{srv.port}",
                    "configBean.mongoConfig.collection": "local.oplog.rs",
                    "mongoDBOplogSourceConfigBean.initialTs": sec + 3,
                    "mongoDBOplogSourceConfigBean.initialOrdinal": 1,
                    "mongoDBOplogSourceConfigBean.filterOplogOpTypes":
                        ["INSERT", "UPDATE", "DELETE"],
                },
                outs=["L"],
            ),
        )
        spec = PipelineSpec.from_sdc_config(config)
        lanes = spec.build(spark)
        rows = lanes["L"].collect()
        # strictly after (sec+3, 1); the noop is filtered by op type
        assert len(rows) == 8
        assert all('"op": "i"' in r["json"] for r in rows)
    finally:
        srv.close()


def test_jdbc_and_kudu_targets_port_to_lake_merge(spark, tmp_path):
    """JdbcDTarget (CDC apply -> COW MERGE) and KuduDTarget (-> MOR delta
    ingest) ported from stock-shaped exports: both lake tables must equal
    the sequential-replay oracle of the same changelog."""
    from datacollector_spark.lake.table import LakeTable
    from datacollector_spark.oracle import apply_sequential
    from datacollector_spark.sources.generator import (
        ChangelogSpec,
        generate_changelog,
    )

    ch = generate_changelog(
        spark, ChangelogSpec(n_events=3000, n_conversations=50, seed=7)
    )
    seg = str(tmp_path / "seg")
    ch.write.parquet(seg)
    expected = apply_sequential(
        spark.read.parquet(seg).toPandas(), ["conv_id", "turn_idx", "text"]
    )

    jdbc_path, kudu_path = str(tmp_path / "lake_cow"), str(tmp_path / "lake_mor")
    config = _pipeline(
        _stage(
            "Binlog_01",
            "com_streamsets_pipeline_stage_origin_mysql_MysqlBinLogDSource",
            {},
            outs=["L"],
        ),
        _stage(
            "Jdbc_01",
            "com_streamsets_pipeline_stage_destination_jdbc_JdbcDTarget",
            {
                "hikariConfigBean.connectionString": "jdbc:mysql://db:3306/x",
                "tableNameTemplate": "transcripts",
                "changeLogFormat": "MYSQL_BIN_LOG",
                "defaultOperation": "INSERT",
            },
            ins=["L"],
        ),
        _stage(
            "Kudu_01",
            "com_streamsets_pipeline_stage_destination_kudu_KuduDTarget",
            {
                "kuduConfigBean.kuduMaster": "kudu:7051",
                "kuduConfigBean.tableNameTemplate": "transcripts",
                "kuduConfigBean.defaultOperation": "UPSERT",
            },
            ins=["L"],
        ),
    )
    spec = PipelineSpec.from_sdc_config(
        config,
        origin_overrides={"Binlog_01": {"path": seg}},
        stage_overrides={
            "Jdbc_01": {
                "table_path": jdbc_path,
                "key_columns": ["conv_id", "turn_idx"],
            },
            "Kudu_01": {
                "table_path": kudu_path,
                "key_columns": ["conv_id", "turn_idx"],
            },
        },
    )
    spec.build(spark)
    meters = spec.run_targets()
    # a sink reports its batch's lineage record, as a stream batch does
    for name, mode in (("Jdbc_01", "cow"), ("Kudu_01", "mor")):
        assert list(meters[name]) == LINEAGE_SCHEMA.fieldNames()
        assert meters[name]["batch_id"] == 0 and meters[name]["noop"] is False
        assert meters[name]["commit_key"] == f"{name}:microbatch-0"
        assert meters[name]["mode"] == mode

    def assert_tables_match_oracle():
        for path in (jdbc_path, kudu_path):
            got = (
                LakeTable(spark, path)
                .read()
                .select("conv_id", "turn_idx", "text")
                .toPandas()
                .sort_values(["conv_id", "turn_idx"])
                .reset_index(drop=True)
            )
            exp = (
                expected[["conv_id", "turn_idx", "text"]]
                .sort_values(["conv_id", "turn_idx"])
                .reset_index(drop=True)
            )
            assert got.equals(exp), f"final state mismatch for {path}"

    assert_tables_match_oracle()
    # idempotent re-apply: the commit key no-ops the second run
    meters2 = spec.run_targets()
    assert meters2["Jdbc_01"]["noop"] is True and meters2["Kudu_01"]["noop"] is True
    assert_tables_match_oracle()


@pytest.mark.parametrize(
    "typ, bad",
    [
        ("jdbc_producer_lake", {"mode": "upsert"}),
        ("jdbc_producer_lake", {"num_buckets": 0}),
        ("kudu_lake", {"num_buckets": 0}),
    ],
)
def test_lake_sink_config_rejected_at_validate(typ, bad):
    """A lake sink's merge mode and bucket count are checked when the spec
    is validated, before any plan is built or table created."""
    stages = [
        {"name": "src", "type": "parquet_origin", "path": "in", "out": "main"},
        {"name": "sink", "type": typ, "in": "main", "table_path": "t",
         "key_columns": ["conv_id"], **bad},
    ]
    with pytest.raises(ValidationError, match=f"sink: {next(iter(bad))}"):
        PipelineSpec({"pipeline": "p", "stages": stages})


def test_lake_sink_rejects_keys_other_than_the_tables(spark, tmp_path):
    """A sink whose key_columns disagree with the existing table's raises
    before it writes: the batch is collapsed and folded by the table's
    keys, so the stage's keys would otherwise be silently ignored."""
    from datacollector_spark.lake.table import LakeTable
    from datacollector_spark.model import transcripts_schema

    path = str(tmp_path / "lake")
    table = LakeTable.create(spark, path, transcripts_schema(), ["conv_id", "turn_idx"], num_buckets=4)
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("c1", 0, "a"), ("c1", 1, "b")], "conv_id string, turn_idx int, text string"
    ).write.parquet(src)
    spec = PipelineSpec(
        {
            "pipeline": "p",
            "stages": [
                {"name": "src", "type": "parquet_origin", "path": src, "out": "main"},
                {"name": "sink", "type": "jdbc_producer_lake", "in": "main",
                 "table_path": path, "key_columns": ["conv_id"]},
            ],
        }
    )
    spec.build(spark)
    with pytest.raises(ValueError, match=r"\['conv_id'\].*\['conv_id', 'turn_idx'\]"):
        spec.run_targets()
    assert table.refresh().version == 0


def test_kafka_target_port_encodes_with_partition_expression(spark):
    """KafkaDTarget ported: the EXPRESSION partition strategy's record-EL
    runs through the EL shim; the target lane carries the encoded producer
    frame (key/value binary, topic, partition)."""
    import json as _json

    config = _pipeline(
        _stage(
            "Src_01",
            "com_streamsets_pipeline_stage_origin_dev_DevDSource",
            {},
            outs=["L"],
        ),
        _stage(
            "Kafka_01",
            "com_streamsets_pipeline_stage_destination_kafka_KafkaDTarget",
            {
                "conf.topic": "events",
                "conf.dataFormat": "JSON",
                "conf.partitionStrategy": "EXPRESSION",
                "conf.partition": "${record:value('/k') % 3}",
                "conf.metadataBrokerList": "broker:9092",
            },
            ins=["L"],
        ),
    )
    import pyarrow as pa
    import pyarrow.parquet as pq
    import tempfile, os

    d = tempfile.mkdtemp()
    pq.write_table(
        pa.table({"k": list(range(9)), "v": [f"v{i}" for i in range(9)]}),
        os.path.join(d, "part.parquet"),
    )
    spec = PipelineSpec.from_sdc_config(
        config, origin_overrides={"Src_01": {"path": d}}
    )
    lanes = spec.build(spark)
    rows = lanes["Kafka_01"].collect()
    assert len(rows) == 9
    assert all(r.topic == "events" for r in rows)
    for r in rows:
        body = _json.loads(bytes(r.value))
        assert r.partition == body["k"] % 3


def test_hdfs_target_port_writes_dir_template_layout(spark, tmp_path):
    """HdfsDTarget ported: dirPathTemplate resolved on the record-time
    basis (timeDriver = record:value), JSON-lines files land under the
    resolved directories and round-trip."""
    import json as _json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    import datetime as dt

    rows = [
        {"k": i, "ts": dt.datetime(2026, 3, 1 + i % 2, 10, 0, 0)}
        for i in range(10)
    ]
    pq.write_table(
        pa.table(
            {"k": [r["k"] for r in rows], "ts": [r["ts"] for r in rows]}
        ),
        os.path.join(src_dir, "p.parquet"),
    )
    base = str(tmp_path / "out")
    config = _pipeline(
        _stage(
            "Src_01",
            "com_streamsets_pipeline_stage_origin_dev_DevDSource",
            {},
            outs=["L"],
        ),
        _stage(
            "Hdfs_01",
            "com_streamsets_pipeline_stage_destination_hdfs_HdfsDTarget",
            {
                "hdfsTargetConfigBean.hdfsUri": f"file://{base}",
                "hdfsTargetConfigBean.dirPathTemplate":
                    "/land/${YYYY()}-${MM()}-${DD()}",
                "hdfsTargetConfigBean.timeDriver": "${record:value('/ts')}",
                "hdfsTargetConfigBean.dataFormat": "JSON",
                "hdfsTargetConfigBean.uniquePrefix": "sdc",
            },
            ins=["L"],
        ),
    )
    spec = PipelineSpec.from_sdc_config(
        config, origin_overrides={"Src_01": {"path": src_dir}}
    )
    spec.build(spark)
    meters = spec.run_targets()
    assert meters["Hdfs_01"]["files_written"] >= 2
    got = []
    for day in ("2026-03-01", "2026-03-02"):
        d = os.path.join(base, "land", day)
        assert os.path.isdir(d), f"missing {d}"
        for f in os.listdir(d):
            assert f.startswith("sdc_")
            with open(os.path.join(d, f)) as fh:
                got += [_json.loads(ln)["k"] for ln in fh]
    assert sorted(got) == list(range(10))
