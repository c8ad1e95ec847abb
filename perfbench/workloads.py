"""The benchmark's workloads over the CDC ingest pipeline.

* ``drain_wide`` — closed loop: a backlog of segment files, about one event
  per key, drained by ``CdcIngestPipeline.run_available_now`` one file per
  micro-batch. Nearly every event is an insert, so the lake MERGE (join and
  copy-on-write rewrite of a growing table) does most of the work. A few
  point reads of one conversation follow the drain.
* ``tail_live`` — open loop: a lander thread renames one 2.5k-event hot-key
  segment file (Zipf 1.2 over 200 conversations) into the watched directory
  every 6 seconds while ``run_continuous`` tails it; one closed-loop
  reader calls ``LakeTable.refresh().read()`` for one conversation
  throughout. Per-batch fixed costs and the read path dominate.

Inputs are generated from the seed before any timing with the engine's own
generator; the engine sees only the segment files. Sessions start with
``DCS_SESSION_WARMUP=0``: each set-up's warm-up micro-batch exercises the
engine's own code paths instead of ``get_spark``'s synthetic 1M-row jobs,
which cost more than the rest of a set-up on a 4-core host. Every table is
compared with ``oracle.apply_sequential`` after it is written (untimed).
"""

from __future__ import annotations

import os
import re
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import eventlog
from lander import Lander
from probes import CpuMeter, peak_rss_mb
from sourcelog import attribute_files
from stats import median, summarize
from tracer import Tracer

from datacollector_spark.lake import LakeTable
from datacollector_spark.model import KEY_COLUMNS, changelog_schema, payload_columns_of, transcripts_schema
from datacollector_spark.operators.collapse import lww_collapse
from datacollector_spark.operators.transforms import transcript_transforms
from datacollector_spark.oracle import apply_sequential
from datacollector_spark.session import get_spark
from datacollector_spark.sources.generator import ChangelogSpec, generate_changelog, write_segments
from datacollector_spark.streaming import CdcIngestPipeline
from datacollector_spark.streaming import pipeline as pipeline_module

DRIVER_MEMORY = "1g"
TEXT_CHARS = 512  # transcript turns run to hundreds of bytes
NUM_BUCKETS = 16
EXPIRE_KEEP = 3  # one version more than replay needs, so a reader's snapshot outlives a batch
SETUPS = 3  # set-ups per untraced run; setup_s is their median
WARM_EVENTS = 5_000
POST_DRAIN_READS = 4
SCALING_FILES = 1
ORACLE_COLUMNS = ["conv_id", "turn_idx", "text"]
_LONG_NUM = re.compile(r"\b\d{7,}\b")  # the PII mask of transcript_transforms


@dataclass(frozen=True)
class Workload:
    name: str
    events_per_file: int
    n_conversations: int | None  # None: one conversation per event
    zipf_exponent: float
    # closed loop: files = seconds / batch_s_estimate, drained back to back;
    # open loop: one file lands every interval_s
    batch_s_estimate: float = 0.0
    interval_s: float = 0.0

    @property
    def open_loop(self) -> bool:
        return self.interval_s > 0

    def n_files(self, seconds: int) -> int:
        if self.open_loop:
            return max(3, round(seconds / self.interval_s))
        return max(2, round(seconds / self.batch_s_estimate))


WORKLOADS = {
    "drain_wide": Workload("drain_wide", 10_000, None, 0.3, batch_s_estimate=5.0),
    # a file lands every 6 s, above a trigger cycle's 3-6 s (batch plus
    # offset and commit logs) on a 4-core host however loaded by its
    # neighbours, so each file is its own micro-batch and waits for no
    # earlier one: at a shorter interval a slow batch delays the next file,
    # and freshness then amplifies host slowdowns
    "tail_live": Workload("tail_live", 2_500, 200, 1.2, interval_s=6.0),
}


@dataclass
class Rep:
    """One measured pass of a workload over its inputs."""

    t0: float = 0.0  # first file due
    t1: float = 0.0  # last file committed
    t_end: float = 0.0  # end of the pass, reads included
    events: int = 0
    batches: dict = field(default_factory=dict)  # batch id -> (start, end)
    file_batch: dict = field(default_factory=dict)  # file name -> batch id
    due: dict = field(default_factory=dict)  # file name -> due time
    landed: dict = field(default_factory=dict)  # file name -> landing time
    reads: list = field(default_factory=list)  # read latencies (s)
    batch_attempted: int = 0
    batch_failed: int = 0
    read_failed: int = 0
    cpu_s: float = 0.0
    lander_late_s: float = 0.0
    correct: bool = False

    @property
    def attempted(self) -> int:
        return self.batch_attempted + len(self.reads) + self.read_failed

    @property
    def failed(self) -> int:
        """An oracle mismatch fails every batch of the pass."""
        batches = self.batch_failed if self.correct else self.batch_attempted
        return batches + self.read_failed


class BatchRecorder:
    """Times every micro-batch through the pipeline's ``apply_batch``; a
    batch that raises or is applied twice (retried) counts as failed."""

    def __init__(self, pipe: CdcIngestPipeline, tracer: Tracer):
        self.batches: dict[int, tuple[float, float]] = {}
        self.attempted = 0
        self.failed = 0
        inner = pipe.apply_batch

        def apply_batch(df, batch_id):
            self.attempted += 1
            start = time.time()
            try:
                with tracer.span("pipeline.apply_batch", trace=batch_id):
                    inner(df, batch_id)
            except Exception:
                self.failed += 1
                raise
            if batch_id in self.batches:
                self.failed += 1
            self.batches[batch_id] = (start, time.time())

        pipe.apply_batch = apply_batch


def read_conversation(table: LakeTable, conv_id: str) -> int:
    return len(table.refresh().read().where(F.col("conv_id") == conv_id).collect())


class Reader(threading.Thread):
    """Closed-loop reader: one conversation's transcript, back to back."""

    def __init__(self, table: LakeTable, conv_id: str, tracer: Tracer):
        super().__init__(name="perfbench-reader", daemon=True)
        self.table, self.conv_id, self.tracer = table, conv_id, tracer
        self.latencies: list[float] = []
        self.failed = 0
        self._stop_event = threading.Event()

    def run(self) -> None:
        while not self._stop_event.is_set():
            t = time.time()
            try:
                with self.tracer.span("reader.read"):
                    read_conversation(self.table, self.conv_id)
            except Exception:
                self.failed += 1
                traceback.print_exc(file=sys.stderr)
                continue
            self.latencies.append(time.time() - t)

    def stop(self) -> None:
        self._stop_event.set()


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files)


def _merge_attrs(args, res) -> dict:
    """Span attributes of one ``LakeTable.merge`` call."""
    vdir = os.path.join(args[0].path, "data", f"v{res.version}")
    written = bytes_written = 0
    if not res.noop and os.path.isdir(vdir):
        bytes_written = _dir_bytes(vdir)
        for d, _, files in os.walk(vdir):
            written += sum(
                pq.ParquetFile(os.path.join(d, f)).metadata.num_rows for f in files if f.endswith(".parquet")
            )
    rows = [b["rows_source"] for b in res.bucket_stats]
    return {
        "rows_source": res.rows_source,
        "rows_inserted": res.rows_inserted,
        "rows_updated": res.rows_updated,
        "rows_deleted": res.rows_deleted,
        "rows_lww_skipped": res.rows_lww_skipped,
        "buckets_touched": res.buckets_touched,
        "bucket_skew": max(rows) / (sum(rows) / len(rows)) if rows else 1.0,
        "bytes_written": bytes_written,
        "rows_written": written,
        "phase_timings": dict(res.phase_timings),
    }


def _busy_s(rep: Rep) -> float:
    """Summed micro-batch wall of a pass."""
    return sum(e - s for s, e in rep.batches.values())


def _files_by_batch(rep: Rep) -> dict[int, list[str]]:
    out: dict[int, list[str]] = {}
    for f, b in rep.file_batch.items():
        out.setdefault(b, []).append(f)
    return out


class Bench:
    def __init__(self, workload: Workload, seed: int, seconds: int, trace: bool, work: str, cores: int):
        self.w = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.cores = cores
        self.tracer = Tracer()
        self.spark = None
        self.info: dict = {}  # figures printed but not gated
        for d in ("tmp", "warehouse", "eventlog"):
            os.makedirs(os.path.join(work, d), exist_ok=True)

    # ------------------------------------------------------------ session
    def _session(self, cores: int, event_log: bool = False) -> None:
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # a fixed, pre-touched heap: peak RSS then moves with native
            # memory and heap size, not with when the collector grew the heap
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}"
            f" -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        }
        if event_log:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": os.path.join(self.work, "eventlog"),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    # ------------------------------------------------------------- inputs
    def _generate(self) -> None:
        w, spark = self.w, self.spark
        n_files = w.n_files(self.seconds)
        n_events = n_files * w.events_per_file
        spec = ChangelogSpec(
            n_events=n_events,
            n_conversations=w.n_conversations or n_events,
            zipf_exponent=w.zipf_exponent,
            seed=self.seed,
            min_text_chars=TEXT_CHARS,
        )
        self.seg_dir = os.path.join(self.work, "segments")
        write_segments(generate_changelog(spark, spec), self.seg_dir, n_files)
        self.files = sorted(f for f in os.listdir(self.seg_dir) if f.endswith(".parquet"))
        paths = [os.path.join(self.seg_dir, f) for f in self.files]
        # the warm-up micro-batches read the head of the first segment, on
        # tables of their own
        self.warm_dir = os.path.join(self.work, "warm_segments")
        spark.read.parquet(paths[0]).limit(WARM_EVENTS).coalesce(1).write.parquet(self.warm_dir)
        self.file_rows = {f: pq.ParquetFile(p).metadata.num_rows for f, p in zip(self.files, paths)}
        changelog = pq.read_table(paths, columns=["op", "lsn", "seq_in_tx", *ORACLE_COLUMNS]).to_pandas()
        self.expected = self._normalize(apply_sequential(changelog, ORACLE_COLUMNS))
        self.expected["text"] = self.expected["text"].str.replace(_LONG_NUM, "<num>", regex=True)
        # the reader follows the conversation with the most turns
        self.read_conv = self.expected["conv_id"].value_counts().idxmax()

    @staticmethod
    def _normalize(df):
        df = df.sort_values(KEY_COLUMNS, kind="mergesort").reset_index(drop=True)
        return df.astype({"turn_idx": "int64"})

    def _matches_oracle(self, table_path: str) -> bool:
        got = LakeTable(self.spark, table_path).read().select(*ORACLE_COLUMNS).toPandas()
        return self._normalize(got).equals(self.expected)

    def _new_table(self, name: str) -> LakeTable:
        return LakeTable.create(
            self.spark, os.path.join(self.work, name), transcripts_schema(), KEY_COLUMNS, NUM_BUCKETS, overwrite=True
        )

    # -------------------------------------------------------------- setup
    def setup(self, n: int) -> list[float]:
        """``n`` set-ups (session, table, one warm-up micro-batch on a small
        table of its own); all but the last session are stopped again.
        Input generation runs after the first session starts and is timed
        apart."""
        times = []
        for i in range(n):
            t = time.time()
            self._session(self.cores, event_log=self.trace)
            start_s = time.time() - t
            if i == 0:
                g = time.time()
                self._generate()
                self.info["bench.input_gen_s"] = time.time() - g
                self.info["session.start_s"] = start_s
            t = time.time()
            self.table = self._new_table("table")
            w = time.time()
            with self.tracer.span("session.warm_batch"):
                CdcIngestPipeline(
                    self.spark,
                    self.warm_dir,
                    self._new_table(f"warm_table_{i}"),
                    os.path.join(self.work, f"warm_ckpt_{i}"),
                    transforms=transcript_transforms,
                    expire_keep=EXPIRE_KEEP,
                ).run_available_now()
            if i == 0:
                self.info["session.warm_batch_s"] = time.time() - w
            times.append(start_s + time.time() - t)
            if i < n - 1:
                self.stop_session()
        return times

    # ----------------------------------------------------------- measure
    def _pipeline(self, source_dir: str, table: LakeTable, ckpt: str, max_files: int | None):
        pipe = CdcIngestPipeline(
            self.spark,
            source_dir,
            table,
            ckpt,
            transforms=transcript_transforms,
            max_files_per_trigger=max_files,
            expire_keep=EXPIRE_KEEP,
        )
        return pipe, BatchRecorder(pipe, self.tracer)

    def drain(self, table: LakeTable, source_dir: str, files: list[str], ckpt: str, cpu: CpuMeter | None = None) -> Rep:
        rep = Rep(events=sum(self.file_rows[f] for f in files))
        pipe, rec = self._pipeline(source_dir, table, ckpt, 1)
        if cpu:
            cpu.start()
        rep.t0 = time.time()
        with self.tracer.span("pipeline.drain"):
            pipe.run_available_now()
        rep.t1 = time.time()
        if cpu:
            rep.cpu_s = cpu.stop()
        rep.due = rep.landed = {f: rep.t0 for f in files}
        rep.batches, rep.batch_attempted, rep.batch_failed = rec.batches, rec.attempted, rec.failed
        rep.file_batch = attribute_files(os.path.join(ckpt, "sources", "0"))
        return rep

    def post_drain_reads(self, rep: Rep, table_path: str) -> None:
        reader = LakeTable(self.spark, table_path)
        read_conversation(reader, self.read_conv)  # untimed: plans and compiles the point read
        for _ in range(POST_DRAIN_READS):
            t = time.time()
            with self.tracer.span("reader.read"):
                read_conversation(reader, self.read_conv)
            rep.reads.append(time.time() - t)

    def tail(self, table: LakeTable, tag: str, cpu: CpuMeter) -> Rep:
        w = self.w
        rep = Rep(events=sum(self.file_rows.values()))
        watch = os.path.join(self.work, f"watch_{tag}")
        stage = os.path.join(self.work, f"stage_{tag}")
        os.makedirs(watch)
        os.makedirs(stage)
        for f in self.files:
            os.link(os.path.join(self.seg_dir, f), os.path.join(stage, f))
        ckpt = os.path.join(self.work, f"ckpt_{tag}")
        log_dir = os.path.join(ckpt, "sources", "0")
        pipe, rec = self._pipeline(watch, table, ckpt, None)
        query = pipe.run_continuous(processing_time="0 seconds")
        reader = Reader(LakeTable(self.spark, table.path), self.read_conv, self.tracer)
        lander = None
        owner: dict[str, int] = {}
        try:
            deadline = time.time() + 60
            while query.status["message"] != "Waiting for data to arrive":
                if time.time() > deadline or query.exception() is not None:
                    raise RuntimeError(f"tail query did not start: {query.status}")
                time.sleep(0.05)
            cpu.start()
            rep.t0 = time.time() + 0.1
            lander = Lander([os.path.join(stage, f) for f in self.files], watch, rep.t0, w.interval_s)
            lander.start()
            reader.start()
            deadline = rep.t0 + len(self.files) * w.interval_s + 120
            while not (len(owner) == len(self.files) and all(b in rec.batches for b in owner.values())):
                if query.exception() is not None:
                    raise RuntimeError(f"tail query failed: {query.exception()}")
                if lander.error is not None:
                    raise RuntimeError(f"lander failed: {lander.error}")
                if time.time() > deadline:
                    raise RuntimeError("tail did not commit every file in time")
                time.sleep(0.05)
                owner = attribute_files(log_dir) if os.path.isdir(log_dir) else {}
            rep.t1 = max(end for _, end in rec.batches.values())
            rep.cpu_s = cpu.stop()
        finally:
            reader.stop()
            if lander is not None:
                lander.stop()
                lander.join(timeout=30)
            query.stop()
            if reader.is_alive():
                reader.join(timeout=60)
        rep.file_batch = owner
        rep.due = dict(zip(self.files, lander.due))
        rep.landed = dict(zip(self.files, lander.landed))
        rep.lander_late_s = lander.lateness_s
        rep.batches, rep.batch_attempted, rep.batch_failed = rec.batches, rec.attempted, rec.failed
        rep.reads, rep.read_failed = reader.latencies, reader.failed
        return rep

    def measure(self, tag: str) -> Rep:
        """One measured pass over the inputs into ``self.table``, checked
        against the oracle afterwards."""
        self.spark._jvm.java.lang.System.gc()  # start every pass from a collected heap
        cpu = CpuMeter(self.jvm_pid())
        if self.w.open_loop:
            rep = self.tail(self.table, tag, cpu)
        else:
            rep = self.drain(self.table, self.seg_dir, self.files, os.path.join(self.work, f"ckpt_{tag}"), cpu)
            self.post_drain_reads(rep, self.table.path)
        rep.t_end = time.time()  # the tail's reader has stopped by now
        rep.correct = self._matches_oracle(self.table.path)
        return rep

    # ----------------------------------------------------------- figures
    def end_to_end(self, rep: Rep, setups: list[float], rss_mb: float) -> dict:
        commit = {f: rep.batches[b][1] for f, b in rep.file_batch.items()}
        freshness = summarize([commit[f] - rep.due[f] for f in self.files])
        reads = summarize(rep.reads)
        last_due = max(rep.due.values())
        # wall-clock figures are printed, not gated: on a shared 4-core host
        # whole runs speed up or slow down with the neighbours' load, which
        # spreads them by 30-60 % (IQR over median) across ten seeds
        self.info.update(
            {
                "events_per_s": rep.events / (rep.t1 - rep.t0),
                "batch_p50_s": median([e - s for s, e in rep.batches.values()]),
                "freshness_p50_s": freshness["p50"],
                "freshness_tail_s": (freshness["tail"], f"p{freshness['tail_p']:g} of n={freshness['n']}"),
                "read_p50_s": reads["p50"],
                "read_tail_s": (reads["tail"], f"p{reads['tail_p']:g} of n={reads['n']}"),
                "backlog_end_files": sum(
                    1 for f in self.files if rep.landed[f] <= last_due and commit[f] > last_due
                ),
                "failed_frac": rep.failed / max(rep.attempted, 1),
            }
        )
        return {
            "setup_s": median(setups),
            "cpu_s_per_mevent": rep.cpu_s / (rep.events / 1e6),
            "peak_rss_mb": rss_mb,
        }

    def per_layer(self, rep: Rep, untraced: Rep, runtime: dict, noop: dict, serial: dict) -> dict:
        tr = self.tracer

        def in_rep(name: str) -> list:
            return [s for s in tr.named(name) if rep.t0 - 1 <= s.start <= rep.t_end]

        batches, merges = in_rep("pipeline.apply_batch"), in_rep("lake.merge")
        expires = in_rep("lake.expire_snapshots")

        def total(key: str) -> float:
            return sum(s.attrs[key] for s in merges)

        def phase(key: str) -> float:
            return median([s.attrs["phase_timings"].get(key, 0.0) for s in merges], 0.0)

        order = sorted(rep.batches.values())
        per_batch = _files_by_batch(rep).values()
        rows_in = sum(self.file_rows[f] for f in rep.file_batch)
        changed = total("rows_inserted") + total("rows_updated") + total("rows_deleted")
        batch_s = median([s.duration for s in batches])
        return {
            "session.start_s": self.info["session.start_s"],
            "session.warm_batch_s": self.info["session.warm_batch_s"],
            "source.files_per_batch": median([len(fs) for fs in per_batch]),
            "source.events_per_batch": median([sum(self.file_rows[f] for f in fs) for fs in per_batch]),
            "source.queue_wait_s": median([rep.batches[b][0] - rep.due[f] for f, b in rep.file_batch.items()]),
            "source.trigger_gap_s": median([order[i + 1][0] - order[i][1] for i in range(len(order) - 1)], 0.0),
            "source.backlog_end_files": self.info["backlog_end_files"],
            "source.lander_late_max_s": rep.lander_late_s,
            "collapse.rows_in": rows_in,
            "collapse.rows_out": total("rows_source"),
            "collapse.keep_ratio": total("rows_source") / max(rows_in, 1),
            "collapse.noop_s": noop["s"],
            "collapse.shuffle_write_bytes": noop["shuffle_write_bytes"],
            "merge.s": median([s.duration for s in merges]),
            "merge.stats_job_s": phase("stats_job"),
            "merge.write_job_s": phase("write_job"),
            "merge.manifest_s": phase("manifest"),
            "merge.rows_inserted": total("rows_inserted"),
            "merge.rows_updated": total("rows_updated"),
            "merge.rows_deleted": total("rows_deleted"),
            "merge.rows_lww_skipped": total("rows_lww_skipped"),
            "merge.buckets_touched": median([s.attrs["buckets_touched"] for s in merges]),
            "merge.bucket_skew": median([s.attrs["bucket_skew"] for s in merges]),
            "merge.bytes_written": total("bytes_written"),
            "merge.write_amp": total("rows_written") / max(changed, 1),
            "expire.s": median([s.duration for s in expires], 0.0),
            "expire.files_deleted": sum(s.attrs["files_deleted"] for s in expires),
            "table.mb_end": _dir_bytes(self.table.path) / 2**20,
            "read.s": median([s.duration for s in in_rep("reader.read")]),
            "pipeline.batch_s": batch_s,
            "pipeline.batches": len(batches),
            "pipeline.self_s": median([tr.self_s(s) for s in batches]),
            "spark.shuffle_write_bytes": runtime["shuffle_write_bytes"],
            "spark.spill_bytes": runtime["spill_bytes"],
            "spark.gc_s": runtime["gc_s"],
            "spark.task_skew": runtime["task_skew"],
            "spark.busy_share": runtime["busy_share"],
            "trace.overhead_frac": _busy_s(rep) / _busy_s(untraced) - 1.0,
            "serial.batch_s": serial["batch_s"],
            "serial.merge_s": serial["merge_s"],
            "scaling.efficiency": serial["efficiency"],
        }

    # ------------------------------------------------------ traced extras
    def collapse_noop(self, rep: Rep) -> dict:
        """The largest batch of ``rep`` through the collapse and transforms
        alone, to the noop sink (median of three)."""
        files = max(_files_by_batch(rep).values(), key=lambda fs: sum(self.file_rows[f] for f in fs))
        df = self.spark.read.schema(changelog_schema()).parquet(*[os.path.join(self.seg_dir, f) for f in files])
        carry = ["op", "lsn"] + [c for c in payload_columns_of(df.schema) if c not in KEY_COLUMNS]
        times = []
        t0 = time.time()
        for _ in range(3):
            t = time.time()
            with self.tracer.span("operators.collapse_transforms"):
                out = transcript_transforms(
                    lww_collapse(df, key_columns=KEY_COLUMNS, carry_columns=carry)
                )
                out.write.format("noop").mode("overwrite").save()
            times.append(time.time() - t)
        return {"s": median(times), "window": (t0, time.time())}

    def scaling_drain(self, tag: str) -> Rep:
        """Drain the first ``SCALING_FILES`` files into a fresh table."""
        files = self.files[:SCALING_FILES]
        src = os.path.join(self.work, "scaling_segments")
        if not os.path.isdir(src):
            os.makedirs(src)
            for f in files:
                os.link(os.path.join(self.seg_dir, f), os.path.join(src, f))
        return self.drain(self._new_table(f"scale_table_{tag}"), src, files, os.path.join(self.work, f"scale_ckpt_{tag}"))

    def instrument(self) -> None:
        tr = self.tracer
        tr.wrap(LakeTable, "merge", "lake.merge", attrs_of=_merge_attrs)
        tr.wrap(LakeTable, "expire_snapshots", "lake.expire_snapshots", attrs_of=lambda a, r: {"files_deleted": r})
        tr.wrap(LakeTable, "read", "lake.read")
        # the pipeline calls lww_collapse by the name it imported
        tr.wrap(pipeline_module, "lww_collapse", "operators.lww_collapse")

    # --------------------------------------------------------------- run
    def run(self, trace_path: str) -> tuple[Rep, dict]:
        if not self.trace:
            setups = self.setup(SETUPS)
            rep = self.measure("main")
            return rep, self.end_to_end(rep, setups, peak_rss_mb(self.jvm_pid()))

        # traced: a traced pass, then an untraced pass over the same inputs
        # (their difference is the tracing overhead; the untraced pass runs
        # on a warmer JVM, so warm-up inflates the overhead rather than
        # hiding it), then the collapse alone, then the 1-core baseline
        self.instrument()
        self.tracer.enabled = True
        setups = self.setup(1)  # stays within 180 s on a slow host
        rep = self.measure("traced")
        traced_table, self.table = self.table, self._new_table("table_untraced")
        self.tracer.enabled = False
        untraced = self.measure("untraced")
        self.table = traced_table
        self.tracer.enabled = True
        self.end_to_end(rep, setups, peak_rss_mb(self.jvm_pid()))
        noop = self.collapse_noop(rep)
        wide = self.scaling_drain("n")
        self.stop_session()  # flushes the event log
        tasks, stages = eventlog.load(os.path.join(self.work, "eventlog"))
        runtime = eventlog.summarize(tasks, stages, rep.t0, rep.t1, self.cores)
        noop["shuffle_write_bytes"] = eventlog.summarize(tasks, stages, *noop["window"], self.cores)[
            "shuffle_write_bytes"
        ]
        self._session(1)
        t_serial = time.time()
        one = self.scaling_drain("1")
        serial = {
            "batch_s": median([e - s for s, e in one.batches.values()]),
            "merge_s": median([s.duration for s in self.tracer.named("lake.merge", since=t_serial)]),
            "efficiency": (one.t1 - one.t0) / (self.cores * (wide.t1 - wide.t0)),
        }
        metrics = self.per_layer(rep, untraced, runtime, noop, serial)
        self.tracer.dump(trace_path)
        self.tracer.unwrap_all()
        rep.batch_attempted += untraced.batch_attempted
        rep.batch_failed += untraced.batch_failed if untraced.correct else untraced.batch_attempted
        rep.read_failed += untraced.read_failed
        rep.reads = rep.reads + untraced.reads
        return rep, metrics
