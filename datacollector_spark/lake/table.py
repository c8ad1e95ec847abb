"""LakeTable — an Iceberg-style versioned, bucketed, copy-on-write table.

No Iceberg runtime jar ships in this sandbox, so the engine provides the
subset of Iceberg semantics the CDC sink needs, in pure PySpark + manifest
JSON. The public surface is deliberately shaped like the Iceberg operations
named in the north star, and the module is swappable for a real Iceberg
catalog (issue `MERGE INTO ... WHEN MATCHED ...` instead of `merge()`) with
no change to the rest of the engine:

  * snapshot isolation + time travel   -> versioned manifests, atomic pointer
  * `MERGE INTO` row-level upsert      -> :meth:`LakeTable.merge` (COW)
  * `bucket(N, conv_id)` partitioning  -> xxhash64 key buckets; a merge
    rewrites ONLY the buckets its source touches (partition pruning at the
    write side — the property that bounds rewrite cost at 10^10 rows)
  * schema evolution / mergeSchema     -> :meth:`LakeTable.evolve_schema`
    (add-column + int->long / float->double widening of non-key columns,
    mirroring the Hive drift sink,
    hive-protolib/.../HiveMetastoreTarget.java:228-255)
  * exactly-once sink                  -> commit keys recorded per snapshot;
    replaying a committed micro-batch is a no-op (the reference's offset
    tracker, ProductionSourceOffsetTracker.java:59-85, upgraded from
    at-least-once to exactly-once)

MERGE semantics implemented (the JDBC/Kudu target op-code contract,
jdbc-lib/.../lib/jdbc/JdbcRecordReader.java:48-77 and
kudu-protolib/.../kudu/KuduTarget.java:338-372):

    MERGE INTO t USING s ON <keys>
      WHEN MATCHED AND s.ord > t._lsn AND s.op = 2  THEN DELETE
      WHEN MATCHED AND s.ord > t._lsn               THEN UPDATE SET *
      WHEN NOT MATCHED AND s.op != 2                THEN INSERT *

where `ord` (stored as `_lsn`) is the SAME total order the in-batch collapse
uses: lsn<<16 | seq_in_tx when the batch carries seq_in_tx, bare lsn
otherwise. The `s.ord > t._lsn` guard makes replays idempotent even without
the commit key (defense in depth: at-least-once delivery collapses to
exactly-once state), and stays correct across micro-batch boundaries when
two changes to one key share an lsn but differ in seq_in_tx.

One last-writer-wins fold, :meth:`LakeTable._lww_fold`, implements it for
COW merge, MOR read and compaction alike: per key, the row with the highest
`_lsn` wins, a stored row beating a batch row of equal `_lsn`; deletes are
kept as tombstone rows.

Concurrency contract: single writer (the streaming query); readers see
committed snapshots only (manifest pointer flips atomically via rename).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datacollector_spark.model import LSN_COLUMN, OP_DELETE, payload_columns_of

_BUCKET_COL = "_bucket"
DELETED_COLUMN = "_deleted"

# legal type widenings (Hive/Iceberg-style promotion only). Every pair here
# must keep OLD data files readable through the widened schema: Spark's
# parquet reader accepts int->long, float->double (SPARK-40876) and
# date->timestamp_ntz, but NOT date->timestamp (LTZ) — that pair fails with
# PARQUET_COLUMN_DATA_TYPE_MISMATCH on the un-rewritten files, so it is
# deliberately absent. Guarded by test_widenings_keep_old_files_readable.
_WIDENINGS = {
    ("integer", "long"),
    ("short", "integer"),
    ("short", "long"),
    ("byte", "short"),
    ("byte", "integer"),
    ("byte", "long"),
    ("float", "double"),
    ("date", "timestamp_ntz"),
}

# manifest bounds: the manifest is rewritten per commit, so everything in it
# must be O(buckets), never O(stream length). The per-batch record lives in
# the lineage table (streaming/pipeline.py); full replay protection for
# numeric commit keys lives in the per-stream high-water mark.
_KEYS_KEEP = 1024

# Manifest format version. Bumped when the on-disk meaning of stored fields
# changes; opening a table written by an incompatible format raises instead
# of silently misreading it. History:
#   2 — _lsn stores the PACKED order (lsn<<16|seq_in_tx); date widens to
#       timestamp_ntz; binlog lsn_bits default 32. A v<2 table's bare-lsn
#       values would lose every LWW comparison against packed _ord values
#       (~65536x larger), letting stale events overwrite newer rows.
_FORMAT_VERSION = 2


def _split_commit_key(key: str) -> tuple[str, int] | None:
    """'ns:microbatch-17' -> ('ns:microbatch', 17); None otherwise.

    Restricted to the INTERNAL streaming key shape ('<stream>:microbatch-N',
    written only by CdcIngestPipeline.apply_batch — for a stream, for each
    table of MultiTableCdcPipeline, and as '<commit_key>:microbatch-0' for a
    PipelineSpec lake sink — which commits batch ids in order): merge() is
    a public API, and a batch caller committing arbitrary numeric-tailed
    keys out of order ('backfill-10' then 'backfill-5') must not have the
    later merge silently skipped as a replay by the high-water mark. User
    keys get exact-match replay protection via the bounded ring only."""
    head, sep, tail = key.rpartition("-")
    if sep and tail.isdigit() and head.endswith(":microbatch"):
        return head, int(tail)
    return None


@dataclass
class MergeResult:
    """What one merge did (the reference's per-batch meters,
    ProductionPipelineRunner.java:723-745); its fields are the core of the
    pipeline's per-batch lineage row."""

    version: int
    commit_key: str | None
    mode: str = "cow"
    noop: bool = False
    rows_source: int = 0
    rows_inserted: int = 0
    rows_updated: int = 0
    rows_deleted: int = 0
    rows_lww_skipped: int = 0  # stale source rows rejected by the lsn guard
    buckets_touched: int = 0
    max_lsn: int | None = None
    max_commit_ts: int | None = None  # epoch microseconds
    evolved_columns: list[str] = field(default_factory=list)
    # per-bucket source stats (offsets applied per partition) — computed in
    # the same job that discovers touched buckets, free for lineage
    bucket_stats: list[dict] = field(default_factory=list)
    # per-phase wall times (stats job / write job / obs / manifest) — the
    # reference's per-stage batch timers (ProductionPipelineRunner.java:723)
    phase_timings: dict = field(default_factory=dict)


class LakeTable:
    """A bucketed copy-on-write table rooted at a directory.

    Layout::

        <root>/_manifests/v{N:010d}.json   immutable snapshot manifests
        <root>/_manifests/VERSION          atomic current-version pointer
        <root>/data/v{N}/_bucket=<b>/*.parquet   data files (immutable)
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")
        self._manifest = self._load_manifest()

    # ---------------------------------------------------------------- setup
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        key_columns: list[str],
        num_buckets: int = 32,
        overwrite: bool = False,
    ) -> "LakeTable":
        root = path.rstrip("/")
        if os.path.exists(root):
            if not overwrite:
                raise FileExistsError(root)
            shutil.rmtree(root)
        os.makedirs(os.path.join(root, "_manifests"))
        os.makedirs(os.path.join(root, "data"))
        meta_fields = [
            T.StructField(LSN_COLUMN, T.LongType(), True),
            T.StructField(DELETED_COLUMN, T.BooleanType(), True),
        ]
        names = set(schema.fieldNames())
        schema = T.StructType(
            list(schema.fields) + [f for f in meta_fields if f.name not in names]
        )
        manifest = {
            "version": 0,
            "format_version": _FORMAT_VERSION,
            "schema": schema.jsonValue(),
            "key_columns": key_columns,
            "num_buckets": num_buckets,
            "files": {},  # bucket(str) -> [relative paths] (base files)
            "deltas": {},  # bucket(str) -> [relative paths] (MOR delta files)
            "committed_keys": [],  # bounded ring of the last _KEYS_KEEP keys
            "committed_hw": {},  # key-prefix -> max numeric suffix committed
            "committed_ts": {},  # key-prefix -> max commit_ts applied (epoch µs)
        }
        cls._write_manifest(root, manifest)
        return cls(spark, root)

    @staticmethod
    def _manifest_path(root: str, version: int) -> str:
        return os.path.join(root, "_manifests", f"v{version:010d}.json")

    @classmethod
    def _write_manifest(cls, root: str, manifest: dict) -> None:
        v = manifest["version"]
        mpath = cls._manifest_path(root, v)
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, mpath)
        vtmp = os.path.join(root, "_manifests", "VERSION.tmp")
        with open(vtmp, "w") as f:
            f.write(str(v))
        os.replace(vtmp, os.path.join(root, "_manifests", "VERSION"))

    def _load_manifest(self, version: int | None = None) -> dict:
        if version is None:
            with open(os.path.join(self.path, "_manifests", "VERSION")) as f:
                version = int(f.read().strip())
        with open(self._manifest_path(self.path, version)) as f:
            manifest = json.load(f)
        fv = manifest.get("format_version", 1)
        if fv != _FORMAT_VERSION:
            raise ValueError(
                f"table at {self.path} has manifest format_version={fv}; this "
                f"engine reads/writes format_version={_FORMAT_VERSION} "
                "(packed-order _lsn encoding). Opening it would silently "
                "mis-order LWW merges — rewrite the table (read old engine -> "
                "write new) to migrate."
            )
        return manifest

    def refresh(self) -> "LakeTable":
        self._manifest = self._load_manifest()
        return self

    # ------------------------------------------------------------ accessors
    @property
    def version(self) -> int:
        return self._manifest["version"]

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(self._manifest["schema"])

    @property
    def key_columns(self) -> list[str]:
        return list(self._manifest["key_columns"])

    @property
    def num_buckets(self) -> int:
        return self._manifest["num_buckets"]

    def committed(self, commit_key: str) -> bool:
        """O(1)-ish replay check: recent keys live in a bounded ring; keys
        with a numeric tail (the streaming 'ns:microbatch-N' shape, which
        commits in order) are additionally covered arbitrarily far back by a
        per-prefix high-water mark — so the manifest stays O(buckets) while
        the replay window stays unbounded for ordered streams."""
        parsed = _split_commit_key(commit_key)
        if parsed is not None:
            prefix, n = parsed
            if n <= self._manifest.get("committed_hw", {}).get(prefix, -1):
                return True
        return commit_key in self._manifest["committed_keys"]

    def max_commit_ts(self, commit_key: str) -> int | None:
        """The latest commit_ts (epoch µs) committed by the stream of
        ``commit_key``: its late-record high-water mark."""
        parsed = _split_commit_key(commit_key)
        return self._manifest.get("committed_ts", {}).get(parsed[0]) if parsed else None

    def bucket_expr(self, *key_cols: str):
        """bucket(N, key) — same role as Iceberg's bucket transform. Table
        columns are hashed as the table types them, so a batch that carries
        a key as another type lands in the same bucket."""
        cols = list(key_cols) or [self.key_columns[0]]
        types = {f.name: f.dataType for f in self.schema.fields}
        return F.pmod(
            F.xxhash64(*[F.col(c).cast(types[c]) if c in types else F.col(c) for c in cols]),
            F.lit(self.num_buckets),
        )

    def partition_by_bucket(self, df: DataFrame) -> DataFrame:
        """Hash-partition ``df`` by the table bucket (added as ``_bucket``
        unless already present) into min(num_buckets, shuffle partitions)
        partitions — the only code that maps buckets to partitions. Every
        bucket lands whole in one partition, so a version still writes one
        file per bucket. Calling it again on its own output plans no second
        exchange: the child already has this exact hash partitioning."""
        if _BUCKET_COL not in df.columns:
            df = df.withColumn(_BUCKET_COL, self.bucket_expr(*self.key_columns))
        n = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        return df.repartition(min(self.num_buckets, n), F.col(_BUCKET_COL))

    # ----------------------------------------------------------------- read
    def _files_for(
        self,
        manifest: dict,
        buckets: list[int] | None = None,
        which: str = "files",
    ) -> list[str]:
        out: list[str] = []
        for b, rels in manifest.get(which, {}).items():
            if buckets is None or int(b) in buckets:
                out.extend(os.path.join(self.path, r) for r in rels)
        return out

    def read(
        self,
        version: int | None = None,
        buckets: list[int] | None = None,
        include_meta: bool = False,
    ) -> DataFrame:
        """Current (or time-travel) snapshot as a DataFrame.

        Old data files that predate an evolved schema are read through the
        current schema — missing columns surface as NULL, exactly like
        Iceberg's add-column evolution.

        Merge-on-read: when delta files exist (merge(mode='mor')), the
        snapshot is reconstructed by :meth:`_lww_fold` over base + delta
        rows, exactly Iceberg-v2/Hudi MOR semantics with an equality-delete
        generalization.

        ``include_meta`` keeps the tombstones and the ``_lsn`` and
        ``_deleted`` columns, and after a fold its ``_bucket`` column, whose
        partitioning a rewrite reuses.
        """
        manifest = self._manifest if version is None else self._load_manifest(version)
        schema = T.StructType.fromJson(manifest["schema"])
        deltas = self._files_for(manifest, buckets, "deltas")
        files = self._files_for(manifest, buckets) + deltas
        if not files:
            df = self.spark.createDataFrame([], schema)
        else:
            df = self.spark.read.schema(schema).parquet(*files)
        if deltas:
            df = self._lww_fold(df)
        if not include_meta:
            # live rows only: delete tombstones are an implementation detail
            df = df.where(
                ~F.coalesce(F.col(DELETED_COLUMN), F.lit(False))
            ).drop(LSN_COLUMN, DELETED_COLUMN, _BUCKET_COL)
        return df

    def _lww_fold(
        self,
        stored: DataFrame | None,
        batch: DataFrame | None = None,
        obs: Observation | None = None,
    ) -> DataFrame:
        """Last-writer-wins: one row per (``_bucket``, keys), the one with
        the highest ``_lsn``; a stored row beats a batch row of equal
        ``_lsn`` (the ``s._ord > t._lsn`` guard: a replay changes nothing).
        Stored ties are base and replayed delta rows of identical content,
        so the pick among them is value-identical.

        Both sides are bucket-partitioned before their union, which keeps
        that partitioning: the window plans no exchange over the batch, and
        each output partition holds whole buckets, so a version still
        writes one file per bucket.

        With ``obs``, the same window pass counts the batch rows: winners
        that are tombstones are deletes, winners whose key held a stored
        row updates (a resurrected tombstone included), lone winners
        inserts, and losers stale."""
        sides = [
            self.partition_by_bucket(df).withColumn("_batch", F.lit(is_batch))
            for df, is_batch in ((stored, False), (batch, True))
            if df is not None
        ]
        df = sides[0] if len(sides) == 1 else sides[0].unionByName(sides[1])
        w = Window.partitionBy(_BUCKET_COL, *self.key_columns).orderBy(
            F.col(LSN_COLUMN).desc(), F.col("_batch")
        )
        df = df.withColumn("_rn", F.row_number().over(w))
        if obs is not None:
            won = F.col("_batch") & (F.col("_rn") == 1)
            live = ~F.col(DELETED_COLUMN)
            matched = F.lead("_batch").over(w).isNotNull()
            df = df.withColumn("_matched", matched).observe(
                obs,
                F.count_if(won & live & ~F.col("_matched")).alias("ins"),
                F.count_if(won & live & F.col("_matched")).alias("upd"),
                F.count_if(won & ~live).alias("del"),
                F.count_if(F.col("_batch") & (F.col("_rn") > 1)).alias("stale"),
            )
        return df.where(F.col("_rn") == 1).drop("_rn", "_batch", "_matched")

    def delta_file_count(self, buckets: list[int] | None = None) -> int:
        return len(self._files_for(self._manifest, buckets, "deltas"))

    # ------------------------------------------------------ schema evolution
    def evolve_schema(self, source_schema: T.StructType) -> tuple[T.StructType, list[str]]:
        """Diff an incoming batch schema against the table schema; add new
        columns and apply legal widenings. Returns the evolved schema and
        the evolved column names; the table is not changed — the schema
        lands with the commit that writes it, so a merge that fails leaves
        the table's schema as it was. A widening of a key column raises
        ``ValueError``: the bucket hash depends on the key's type.

        The HiveMetadataProcessor drift-detection + HiveMetastoreTarget
        ALTER TABLE ADD COLUMNS flow (SURVEY.md §2.6), as manifest schema
        replacement — old files need no rewrite because reads go through
        the current schema.
        """
        current = {f.name: f for f in self.schema.fields}
        evolved: list[str] = []
        new_fields = [f for f in self.schema.fields]
        for f_new in source_schema.fields:
            if f_new.name.startswith("_"):
                continue
            cur = current.get(f_new.name)
            if cur is None:
                new_fields.append(T.StructField(f_new.name, f_new.dataType, True))
                evolved.append(f_new.name)
            elif cur.dataType != f_new.dataType:
                pair = (cur.dataType.typeName(), f_new.dataType.typeName())
                if pair in _WIDENINGS:
                    if f_new.name in self.key_columns:
                        # xxhash64 hashes an int and a long differently:
                        # stored keys would sit in other buckets than the
                        # same keys hash to after the widening
                        raise ValueError(
                            f"cannot widen key column {f_new.name!r} from "
                            f"{pair[0]} to {pair[1]}: it would re-bucket the "
                            "stored keys"
                        )
                    idx = [x.name for x in new_fields].index(f_new.name)
                    new_fields[idx] = T.StructField(f_new.name, f_new.dataType, True)
                    evolved.append(f_new.name)
        if evolved:
            # keep LSN column last for readability
            new_fields.sort(key=lambda x: x.name == LSN_COLUMN)
        return T.StructType(new_fields), evolved

    # ---------------------------------------------------------------- merge
    def merge(
        self,
        source: DataFrame,
        commit_key: str | None = None,
        mode: str = "cow",
    ) -> MergeResult:
        """Apply a COLLAPSED change batch (one row per key, with `op` and
        `lsn` columns) to the table.

        mode='cow': copy-on-write at bucket granularity — the touched
        buckets' stored rows (base and pending MOR deltas) are folded with
        the batch by :meth:`_lww_fold` and rewritten as their new base; read
        stays a plain scan.

        mode='mor': merge-on-read — the batch is APPENDED as bucketed delta
        files (no rewrite; ingest cost ∝ batch size only). Reads
        reconstruct via the same fold over base+deltas; call
        :meth:`compact_deltas` (the pipeline does after each merge) to
        fold deltas into the base. This is the Iceberg-v2 / Hudi MOR
        shape — the ingest mode for 10^10-event scale, where rewriting the
        table per micro-batch is the bottleneck.

        The caller collapses first: CdcIngestPipeline.apply_batch, the
        engine's one apply path, runs operators.collapse.lww_collapse by the
        table's keys. The cross-batch LWW guard (s.lsn > t._lsn) is the
        fold's order, applied at write time in COW mode and at read time in
        MOR mode, where every batch row counts as an insert or a delete.
        """
        if mode not in ("cow", "mor"):
            raise ValueError(f"merge mode must be 'cow' or 'mor', got {mode!r}")
        t = time.time()
        timings: dict[str, float] = {}

        def mark(label: str) -> None:
            nonlocal t
            now = time.time()
            timings[label] = round(now - t, 3)
            t = now

        if commit_key is not None and self.committed(commit_key):
            return MergeResult(self.version, commit_key, mode, noop=True)

        payload_schema = T.StructType(
            [source.schema[c] for c in payload_columns_of(source.schema)]
        )
        schema, evolved = self.evolve_schema(payload_schema)

        keys = self.key_columns
        meta = (LSN_COLUMN, DELETED_COLUMN)
        data_cols = [f.name for f in schema.fields if f.name not in meta]
        non_key_cols = [c for c in data_cols if c not in keys]

        # normalize source: every table column present (nulls for columns the
        # batch doesn't carry), correct types. One select, not a withColumn
        # per field: each withColumn eagerly re-analyzes the whole (deep)
        # batch plan through py4j, which costs driver latency once per
        # micro-batch for zero plan difference.
        norm_cols = [
            (
                F.col(f_.name).cast(f_.dataType).alias(f_.name)
                if f_.name in source.columns
                else F.lit(None).cast(f_.dataType).alias(f_.name)
            )
            for f_ in schema.fields
            if f_.name not in meta
        ]
        # The stored per-key order (_lsn) is the SAME total order the
        # in-batch collapse uses: lsn<<16 | seq_in_tx when the batch carries
        # seq_in_tx, bare lsn otherwise. Storing the packed order keeps the
        # cross-batch guard (s._ord > t._lsn) and the MOR read winner
        # consistent with (lsn, seq_in_tx) when two changes to one key share
        # an lsn but land in different micro-batches.
        if "seq_in_tx" in source.columns:
            # shared guarded packing (operators/collapse.py): raises on
            # lsn >= 2^47 instead of silently wrapping int64 into wrong
            # LWW winners (decoders emitting pre-packed offsets — e.g. a raw
            # BSON ts — would otherwise corrupt order with no error)
            from datacollector_spark.operators.collapse import packed_order

            order_expr = packed_order(
                F.col("lsn"), F.coalesce(F.col("seq_in_tx").cast("long"), F.lit(0))
            )
        else:
            order_expr = F.col("lsn").cast("long")
        # epoch microseconds: no session-timezone round trip
        has_ts = "commit_ts" in source.columns
        commit_us = (F.unix_micros("commit_ts") if has_ts else F.lit(None)).alias("_commit_us")
        # Bucket-partition the batch before it is persisted: the stats
        # aggregate groups by the bucket, the fold partitions by it and the
        # writer lays files out by it, so one exchange into
        # min(num_buckets, shuffle partitions) partitions serves them all
        # (guide §2.4). A source that arrives with ``_bucket`` — the
        # pipeline partitions each micro-batch by bucket before its
        # collapse — passes it through this select, and the repartition is
        # planned away: collapse, cache, stats, fold and write then share
        # the pipeline's one exchange.
        bucket = [F.col(_BUCKET_COL)] if _BUCKET_COL in source.columns else []
        s = self.partition_by_bucket(
            source.select(
                F.col("op"), F.col("lsn"), order_expr.alias("_ord"), commit_us, *norm_cols, *bucket
            )
        ).persist()

        # One small job discovers the touched buckets AND yields the
        # per-bucket lineage stats (offsets applied per partition). The
        # result is <= num_buckets rows — a metadata collect.
        stats_rows = (
            s.groupBy(_BUCKET_COL)
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.min("lsn").alias("min_lsn"),
                F.max("lsn").alias("max_lsn"),
                F.max("_commit_us").alias("max_commit_us"),
            )
            .collect()
        )
        mark("stats_job")
        touched = [int(r[_BUCKET_COL]) for r in stats_rows]
        bucket_stats = [
            {
                "bucket": int(r[_BUCKET_COL]),
                "rows_source": int(r["rows"]),
                "min_lsn": int(r["min_lsn"]),
                "max_lsn": int(r["max_lsn"]),
            }
            for r in stats_rows
        ]
        if not touched:
            s.unpersist()
            return MergeResult(self.version, commit_key, mode, noop=True)

        # The batch as table rows: deletes become tombstones, which carry
        # the key's _lsn high-water mark, so a stale insert arriving in a
        # later micro-batch loses to them instead of resurrecting the row.
        is_del = F.col("op") == OP_DELETE
        batch = s.select(
            F.col(_BUCKET_COL),
            *[F.col(k) for k in keys],
            *[
                F.when(is_del, F.lit(None)).otherwise(F.col(c)).alias(c)
                for c in non_key_cols
            ],
            F.col("_ord").alias(LSN_COLUMN),
            is_del.alias(DELETED_COLUMN),
        )
        # MOR, and COW onto buckets that hold no files yet, fold the batch
        # alone
        files = (
            self._files_for(self._manifest, touched)
            + self._files_for(self._manifest, touched, "deltas")
            if mode == "cow"
            else []
        )
        stored = self.spark.read.schema(schema).parquet(*files) if files else None
        obs = Observation(f"merge-{uuid.uuid4().hex[:8]}")
        result = self._lww_fold(stored, batch, obs)
        new_version, new_files = self._write_version(result)
        mark("write_job")
        m = obs.get
        mark("obs_get")
        s.unpersist()

        max_commit_ts = max(
            (r["max_commit_us"] for r in stats_rows if r["max_commit_us"] is not None), default=None
        )
        res = MergeResult(
            version=new_version,
            commit_key=commit_key,
            mode=mode,
            rows_source=sum(b["rows_source"] for b in bucket_stats),
            rows_inserted=int(m["ins"] or 0),
            rows_updated=int(m["upd"] or 0),
            rows_deleted=int(m["del"] or 0),
            rows_lww_skipped=int(m["stale"] or 0),
            buckets_touched=len(touched),
            max_lsn=max(b["max_lsn"] for b in bucket_stats),
            max_commit_ts=max_commit_ts,
            evolved_columns=evolved,
            bucket_stats=bucket_stats,
            phase_timings=timings,
        )
        self._commit(
            new_version, new_files, touched, mode == "mor", commit_key, schema, max_commit_ts
        )
        mark("manifest")
        return res

    # ---------------------------------------------------------------- commit
    def _write_version(self, df: DataFrame) -> tuple[int, dict[str, list[str]]]:
        """Write ``df`` (carrying ``_bucket``) as the next version's data
        files, one directory per bucket. Returns the new version and the
        files written as {bucket: [relpaths]}."""
        new_version = self.version + 1
        out_dir_rel = os.path.join("data", f"v{new_version}")
        out_dir = os.path.join(self.path, out_dir_rel)
        df.write.partitionBy(_BUCKET_COL).mode("overwrite").parquet(out_dir)
        new_files: dict[str, list[str]] = {}
        for entry in os.listdir(out_dir):
            if not entry.startswith(f"{_BUCKET_COL}="):
                continue
            rels = [
                os.path.join(out_dir_rel, entry, fn)
                for fn in os.listdir(os.path.join(out_dir, entry))
                if fn.endswith(".parquet")
            ]
            if rels:
                new_files[entry.split("=", 1)[1]] = rels
        return new_version, new_files

    def _commit(
        self,
        new_version: int,
        new_files: dict[str, list[str]],
        buckets: list[int],
        as_deltas: bool,
        commit_key: str | None = None,
        schema: T.StructType | None = None,
        max_commit_ts: int | None = None,
    ) -> None:
        """Flip the manifest to ``new_version``. The new files either replace
        the base files of ``buckets`` and drop their deltas (COW merge,
        compaction) or are appended as their deltas (MOR merge). A merge
        also records its commit key, latest commit_ts and schema."""
        files = dict(self._manifest["files"])
        deltas = {k: list(v) for k, v in self._manifest.get("deltas", {}).items()}
        for b in map(str, buckets):
            if as_deltas:
                deltas[b] = deltas.get(b, []) + new_files.get(b, [])
            else:
                files[b] = new_files.get(b, [])
                deltas.pop(b, None)
        keys = list(self._manifest["committed_keys"])
        hw = dict(self._manifest.get("committed_hw", {}))
        ts = dict(self._manifest.get("committed_ts", {}))
        if commit_key is not None:
            keys = (keys + [commit_key])[-_KEYS_KEEP:]
            parsed = _split_commit_key(commit_key)
            if parsed is not None:
                prefix, n = parsed
                hw[prefix] = max(hw.get(prefix, -1), n)
                if max_commit_ts is not None:
                    ts[prefix] = max(ts.get(prefix, max_commit_ts), max_commit_ts)
        manifest = dict(
            self._manifest,
            version=new_version,
            files=files,
            deltas=deltas,
            committed_keys=keys,
            committed_hw=hw,
            committed_ts=ts,
        )
        if schema is not None:
            manifest["schema"] = schema.jsonValue()
        # tables written before the lineage table held the per-batch record
        # carry a "lineage" tail; it is dropped at their next commit
        manifest.pop("lineage", None)
        self._write_manifest(self.path, manifest)
        self._manifest = manifest

    def _rewrite_buckets(self, buckets: list[int]) -> int:
        """Rewrite ``buckets`` as base files holding their current snapshot
        (read() folds pending deltas in). Returns the number rewritten."""
        if not buckets:
            return 0
        new_version, new_files = self._write_version(
            self.partition_by_bucket(self.read(buckets=buckets, include_meta=True))
        )
        self._commit(new_version, new_files, buckets, as_deltas=False)
        return len(buckets)

    def compact_deltas(self, min_files: int = 1) -> int:
        """Fold MOR delta files into base files (Iceberg rewrite of v2
        deletes / Hudi compaction) in buckets holding >= ``min_files``.
        Returns the number of buckets compacted; the read-side fold does
        the heavy lifting."""
        return self._rewrite_buckets(
            [
                int(b)
                for b, rels in self._manifest.get("deltas", {}).items()
                if rels and len(rels) >= min_files
            ]
        )

    def compact(self, max_files_per_bucket: int = 1) -> int:
        """Rewrite buckets whose base file count exceeds the threshold —
        Iceberg's rewrite_data_files; the reference analog is the MapReduce
        Avro→Parquet converter executor (SURVEY.md §2.5). Pending deltas of
        a rewritten bucket are folded in. Returns the number of buckets
        rewritten."""
        return self._rewrite_buckets(
            [
                int(b)
                for b, rels in self._manifest["files"].items()
                if len(rels) > max_files_per_bucket
            ]
        )

    # ------------------------------------------------------------- maintain
    def expire_snapshots(self, keep_last: int = 2) -> int:
        """Drop manifests older than the last ``keep_last`` versions and
        delete data files no kept snapshot references — Iceberg's
        expire_snapshots. Time travel to expired versions stops working
        (same contract as Iceberg). Returns the number of files deleted.

        COW merges leave every previous version's files on disk; a
        long-running stream MUST expire periodically or storage grows with
        versions, not data (CdcIngestPipeline.expire_keep automates this).
        """
        if keep_last < 1:
            # keep_last=0 would keep no snapshot, not even the current one,
            # and delete every data file the table still points at
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        current = self.version
        cutoff = max(current - keep_last + 1, 0)
        keep_versions = list(range(cutoff, current + 1))
        referenced: set[str] = set()
        for v in keep_versions:
            try:
                m = self._load_manifest(v)
            except FileNotFoundError:
                continue
            for rels in m["files"].values():
                referenced.update(rels)
            for rels in m.get("deltas", {}).values():
                referenced.update(rels)
        deleted = 0
        data_root = os.path.join(self.path, "data")
        for dirpath, _dirs, files in os.walk(data_root):
            for fn in files:
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, self.path)
                if rel not in referenced and fn.endswith(".parquet"):
                    os.remove(full)
                    deleted += 1
        mdir = os.path.join(self.path, "_manifests")
        for fn in os.listdir(mdir):
            if fn.startswith("v") and fn.endswith(".json"):
                v = int(fn[1:-5])
                if v < cutoff:
                    os.remove(os.path.join(mdir, fn))
        return deleted
