"""JDBC origins — the reference's JDBC Query Consumer
(jdbc-lib/.../origin/jdbc/JdbcSource.java:71-96 — incremental offset-column
polling) and JDBC Multitable (table/TableJdbcSource.java:141-161 — N tables,
K threads, per-table partition ranges).

Spark-native mapping: `spark.read.jdbc` with predicate pushdown does the
single-query case; `partitionColumn/lowerBound/upperBound/numPartitions`
IS the multithreaded-partitioned read. Incremental mode = a high-watermark
filter, persisted by the caller (our streaming checkpoint analog for
databases Spark cannot stream from directly).

No database ships in this sandbox, so these build the reader plans but are
exercised only by plan-shape tests; the code path is identical on a real
cluster with a JDBC driver jar on the classpath.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession


class JdbcOffsetStore:
    """Durable per-table offset map — the reference's multi-entity offset
    tracker (container/.../runner/production/ProductionSourceOffsetTracker
    .java:59-85 stores {entity: offset} in the pipeline's offset.json).

    A checkpoint-dir JSON file, atomically replaced, survives restart.
    The polling loop is: read tables with the stored offsets, process,
    then ``advance(table, new_max)`` after the batch COMMITS — advancing
    before commit would drop rows on a crash (at-least-once is the floor;
    the lake's commit keys upgrade it to exactly-once)."""

    def __init__(self, checkpoint_dir: str):
        self.checkpoint_dir = checkpoint_dir
        self._path = os.path.join(checkpoint_dir, "jdbc_offsets.json")
        self._offsets: dict[str, object] = self._load()

    def _load(self) -> dict[str, object]:
        try:
            with open(self._path) as f:
                return json.load(f)["offsets"]
        except (OSError, KeyError, ValueError):
            return {}

    def offsets(self) -> dict[str, object]:
        return dict(self._offsets)

    def get(self, table: str):
        return self._offsets.get(table)

    def advance(self, table: str, offset) -> None:
        """Persist a committed offset (monotone: regressions are ignored,
        like the reference's offset tracker)."""
        cur = self._offsets.get(table)
        if cur is not None and not (offset > cur):
            return
        self._offsets[table] = offset
        os.makedirs(self.checkpoint_dir, exist_ok=True)
        tmp = self._path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"offsets": self._offsets}, f)
        os.replace(tmp, self._path)


def jdbc_query(
    spark: SparkSession,
    url: str,
    table_or_query: str,
    offset_column: str | None = None,
    last_offset=None,
    max_batch: int | None = None,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """Incremental JDBC poll: WHERE offset_col > ${OFFSET} ORDER BY offset —
    the reference's ${OFFSET} substitution (JdbcSource.java:120-133) as a
    pushed-down filter."""
    reader = spark.read.format("jdbc").option("url", url)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if table_or_query.strip().lower().startswith("select"):
        reader = reader.option("query", table_or_query)
    else:
        reader = reader.option("dbtable", table_or_query)
    df = reader.load()
    if offset_column and last_offset is not None:
        df = df.where(df[offset_column] > last_offset)  # pushed to the DB
    if offset_column:
        df = df.orderBy(offset_column)
    if max_batch:
        df = df.limit(max_batch)
    return df


def topological_table_order(
    tables: list[str], fk_edges: list[tuple[str, str]]
) -> list[str]:
    """Referential-constraint table ordering (TableOrderStrategy
    REFERENTIAL_CONSTRAINTS, jdbc-lib/.../table/util/TopologicalSorter.java):
    a table is read only after every table it references. ``fk_edges`` are
    (child, parent) pairs; parents sort first. Deterministic (alphabetical
    among ready tables); raises ValueError on a reference cycle, like the
    reference's JDBC_68 error."""
    deps: dict[str, set[str]] = {t: set() for t in tables}
    rdeps: dict[str, set[str]] = {t: set() for t in tables}
    for child, parent in fk_edges:
        if child in deps and parent in deps and child != parent:
            deps[child].add(parent)
            rdeps[parent].add(child)
    out: list[str] = []
    ready = sorted(t for t, d in deps.items() if not d)
    while ready:
        t = ready.pop(0)
        out.append(t)
        for c in sorted(rdeps[t]):
            deps[c].discard(t)
            if not deps[c]:
                ready.append(c)
        ready.sort()
    if len(out) != len(tables):
        cyclic = sorted(t for t, d in deps.items() if d and t not in out)
        raise ValueError(f"referential cycle among tables: {cyclic}")
    return out


def jdbc_multitable(
    spark: SparkSession,
    url: str,
    table_configs: list[dict],
    offsets: dict[str, object] | None = None,
    fk_edges: list[tuple[str, str]] | None = None,
    order: str = "NONE",
    properties: dict[str, str] | None = None,
    offset_store: JdbcOffsetStore | None = None,
) -> list[tuple[str, DataFrame]]:
    """JDBC Multitable origin (TableJdbcSource.java:141-161): N tables with
    per-table offset columns and partitioned reads, returned in the
    configured order (NONE | ALPHABETICAL | REFERENTIAL_CONSTRAINTS).

    Each config: {"table": str, "offset_column": str|None,
    "partition_column": str|None, "lower_bound", "upper_bound",
    "num_partitions": int}. ``offsets`` maps table -> last committed offset
    (the reference's per-table offset map). Pass ``offset_store`` instead
    (JdbcOffsetStore, checkpoint-dir durable) and the stored offsets are
    used automatically — a restarted poller resumes where the last
    committed batch left off with no caller plumbing; call
    ``offset_store.advance(table, new_max)`` after the batch commits.
    The reference's numberOfThreads knob disappears: Spark executors run
    the per-table partition ranges concurrently."""
    if offsets is None and offset_store is not None:
        offsets = offset_store.offsets()
    names = [c["table"] for c in table_configs]
    if order == "ALPHABETICAL":
        ordered = sorted(names)
    elif order == "REFERENTIAL_CONSTRAINTS":
        ordered = topological_table_order(names, fk_edges or [])
    elif order == "NONE":
        ordered = names
    else:
        raise ValueError(f"unknown table order strategy: {order}")
    by_name = {c["table"]: c for c in table_configs}
    out: list[tuple[str, DataFrame]] = []
    for name in ordered:
        cfg = by_name[name]
        if cfg.get("partition_column"):
            df = jdbc_partitioned_table(
                spark,
                url,
                name,
                cfg["partition_column"],
                cfg["lower_bound"],
                cfg["upper_bound"],
                cfg.get("num_partitions", 4),
                properties,
            )
        else:
            df = jdbc_query(spark, url, name, properties=properties)
        off_col = cfg.get("offset_column")
        if off_col and offsets and offsets.get(name) is not None:
            df = df.where(df[off_col] > offsets[name])  # pushed to the DB
        out.append((name, df))
    return out


def jdbc_partitioned_table(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str,
    lower_bound,
    upper_bound,
    num_partitions: int,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """The Multitable origin's per-table parallel read: K partition ranges
    read concurrently (MultithreadedTableProvider analog — Spark executors
    replace the reference's thread pool)."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("partitionColumn", partition_column)
        .option("lowerBound", str(lower_bound))
        .option("upperBound", str(upper_bound))
        .option("numPartitions", str(num_partitions))
    )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()
