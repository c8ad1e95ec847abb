"""Unit tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog  # noqa: E402
from lander import Lander, max_lateness  # noqa: E402
from probes import (  # noqa: E402
    CLK_TCK,
    CpuMeter,
    parse_stat_cpu_ticks,
    parse_vm_hwm_kb,
    peak_rss_mb,
    process_cpu_s,
)
from sourcelog import attribute_files, log_batch_id, parse_log  # noqa: E402
from stats import nearest_rank, samples_beyond, self_time, summarize, tail_percentile, union_length  # noqa: E402
from tracer import Tracer  # noqa: E402


# ------------------------------------------------------------ percentile rule
@pytest.mark.parametrize(
    "n, p",
    [(0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
     (200, 95.0), (1000, 99.0), (9999, 99.0), (10000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert tail_percentile(n) == p
    if p is not None:
        assert samples_beyond(n, p) >= 10


def test_summarize_reports_tail_and_count():
    values = [float(i) for i in range(1, 41)]  # 40 samples -> p75
    s = summarize(values)
    assert s["n"] == 40 and s["tail_p"] == 75.0
    assert s["tail"] == 30.0 and s["p50"] == 20.5
    assert sum(v > s["tail"] for v in values) == 10


def test_summarize_falls_back_to_median_for_few_samples():
    s = summarize([3.0, 1.0, 2.0])
    assert s == {"n": 3, "p50": 2.0, "tail_p": 50.0, "tail": 2.0}


def test_nearest_rank():
    assert nearest_rank([5, 1, 4, 2, 3], 50) == 3
    assert nearest_rank([5, 1, 4, 2, 3], 100) == 5
    assert nearest_rank([7], 99.9) == 7


def test_union_and_self_time():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0
    # children overlapping each other and sticking out of the parent
    assert self_time(0, 10, [(1, 4), (3, 5), (9, 12)]) == 10 - 4 - 1


# --------------------------------------------------------- file attribution
def _write_log(d, name, entries):
    with open(os.path.join(d, name), "w") as f:
        f.write("v1\n" + "".join(json.dumps(e) + "\n" for e in entries))


def _entry(name, batch=None):
    e = {"path": f"file:///w/watch/{name}", "timestamp": 1}
    if batch is not None:
        e["batchId"] = batch
    return e


def test_log_batch_id():
    assert log_batch_id("7") == 7
    assert log_batch_id("9.compact") == 9
    assert log_batch_id(".9.compact.crc") is None
    assert log_batch_id(".3.0a1b.tmp") is None


def test_parse_log_requires_header():
    with pytest.raises(ValueError):
        parse_log('{"path": "x"}\n')


def test_compact_log_relists_earlier_files_first_batch_wins(tmp_path):
    d = str(tmp_path)
    for b in range(9):
        _write_log(d, str(b), [_entry(f"f{b}.parquet", b)])
    # the compact log at batch 9 relists all earlier files plus its own
    _write_log(d, "9.compact", [_entry(f"f{b}.parquet", b) for b in range(10)])
    _write_log(d, "10", [_entry("f10.parquet", 10), _entry("f11.parquet", 10)])
    open(os.path.join(d, ".9.compact.crc"), "w").close()
    owner = attribute_files(d)
    assert owner == {**{f"f{b}.parquet": b for b in range(10)}, "f10.parquet": 10, "f11.parquet": 10}


def test_compact_without_batch_ids_uses_first_listing_log(tmp_path):
    d = str(tmp_path)
    _write_log(d, "8", [_entry("a.parquet")])
    _write_log(d, "9.compact", [_entry("a.parquet"), _entry("b.parquet")])
    assert attribute_files(d) == {"a.parquet": 8, "b.parquet": 9}


def test_entry_batch_id_wins_when_earlier_logs_are_gone(tmp_path):
    d = str(tmp_path)
    _write_log(d, "19.compact", [_entry("a.parquet", 3), _entry("b.parquet", 19)])
    assert attribute_files(d) == {"a.parquet": 3, "b.parquet": 19}


def test_attribution_decodes_uri_paths(tmp_path):
    d = str(tmp_path)
    _write_log(d, "0", [{"path": "file:///w/my%20dir/part%2D0.parquet", "batchId": 0}])
    assert attribute_files(d) == {"part-0.parquet": 0}


# ------------------------------------------------------- cpu and rss readers
def test_parse_stat_with_awkward_command_name():
    fields = ["S", "1", "1", "1", "0", "-1", "0", "0", "0", "0", "0", "250", "50"] + ["0"] * 30
    text = "4242 (java (x) y) " + " ".join(fields)
    assert parse_stat_cpu_ticks(text) == 300


def test_parse_vm_hwm():
    text = "Name:\tjava\nVmPeak:\t 9000 kB\nVmHWM:\t  2048 kB\nVmRSS:\t 1024 kB\n"
    assert parse_vm_hwm_kb(text) == 2048
    with pytest.raises(ValueError):
        parse_vm_hwm_kb("Name:\tjava\n")


def test_readers_on_this_process():
    assert peak_rss_mb(os.getpid()) > 1.0
    before = process_cpu_s(os.getpid())
    meter = CpuMeter(os.getpid())
    meter.start()
    t = time.process_time()
    while time.process_time() - t < 0.2:
        pass
    used = meter.stop()
    # the process is counted twice: once via /proc, once via os.times()
    assert 0.3 <= used <= 2.0 + 4.0 / CLK_TCK
    assert process_cpu_s(os.getpid()) >= before + 0.15


# ------------------------------------------------------------------- lander
def test_max_lateness():
    assert max_lateness([0.0, 1.0, 2.0], [0.0, 1.5, 2.1]) == 0.5
    assert max_lateness([0.0, 1.0], [0.0, 1.0]) == 0.0
    assert max_lateness([], []) == 0.0


def test_lander_moves_files_on_schedule(tmp_path):
    src, dst = tmp_path / "stage", tmp_path / "watch"
    src.mkdir()
    dst.mkdir()
    files = []
    for i in range(3):
        p = src / f"f{i}.parquet"
        p.write_text("x")
        files.append(str(p))
    t0 = time.time() + 0.05
    lander = Lander(files, str(dst), t0, 0.05)
    lander.start()
    lander.join(timeout=5)
    assert not lander.is_alive() and lander.error is None
    assert sorted(os.listdir(dst)) == ["f0.parquet", "f1.parquet", "f2.parquet"]
    assert lander.due == pytest.approx([t0, t0 + 0.05, t0 + 0.1])
    assert all(l >= d for d, l in zip(lander.due, lander.landed))
    assert 0.0 <= lander.lateness_s < 1.0


# ----------------------------------------------------------------- eventlog
def test_eventlog_summary_window_and_skew():
    tasks = [
        {"stage": (1, 0), "launch": 1000, "finish": 1100, "gc_ms": 10, "spill": 0, "shuffle_write": 5},
        {"stage": (1, 0), "launch": 1000, "finish": 1300, "gc_ms": 20, "spill": 7, "shuffle_write": 5},
        {"stage": (1, 0), "launch": 1000, "finish": 1100, "gc_ms": 0, "spill": 0, "shuffle_write": 5},
        {"stage": (2, 0), "launch": 1400, "finish": 1500, "gc_ms": 0, "spill": 0, "shuffle_write": 1},
        {"stage": (3, 0), "launch": 5000, "finish": 5100, "gc_ms": 99, "spill": 0, "shuffle_write": 99},
    ]
    stages = [
        {"stage": (1, 0), "submitted": 1000, "completed": 1300},
        {"stage": (2, 0), "submitted": 1400, "completed": 1900},  # longer, but one task
        {"stage": (3, 0), "submitted": 5000, "completed": 5100},
    ]
    s = eventlog.summarize(tasks, stages, 1.0, 2.0, cores=2)
    assert s["tasks"] == 4
    assert s["shuffle_write_bytes"] == 16 and s["spill_bytes"] == 7
    assert s["gc_s"] == pytest.approx(0.03)
    assert s["task_skew"] == pytest.approx(3.0)
    assert s["busy_share"] == pytest.approx(600 / 2000)


def test_eventlog_load(tmp_path):
    end = {
        "Event": "SparkListenerTaskEnd", "Stage ID": 4, "Stage Attempt ID": 0,
        "Task Info": {"Launch Time": 10, "Finish Time": 30},
        "Task Metrics": {"JVM GC Time": 2, "Disk Bytes Spilled": 0,
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": 9}},
    }
    stage = {"Event": "SparkListenerStageCompleted",
             "Stage Info": {"Stage ID": 4, "Stage Attempt ID": 0, "Submission Time": 5, "Completion Time": 31}}
    (tmp_path / "local-1").write_text(json.dumps(end) + "\n" + json.dumps(stage) + "\n")
    tasks, stages = eventlog.load(str(tmp_path))
    assert tasks == [{"stage": (4, 0), "launch": 10, "finish": 30, "gc_ms": 2, "spill": 0, "shuffle_write": 9}]
    assert stages == [{"stage": (4, 0), "submitted": 5, "completed": 31}]


# ------------------------------------------------------------------- tracer
class _Thing:
    def work(self, batch_id):
        return batch_id * 2


def test_tracer_nests_spans_and_inherits_trace():
    tr = Tracer()
    tr.enabled = True
    with tr.span("batch", trace=7) as outer:
        with tr.span("merge") as inner:
            pass
    assert inner.parent == outer.id and inner.trace == 7
    assert tr.children(outer) == [inner]
    assert tr.self_s(outer) == pytest.approx(outer.duration - inner.duration)


def test_tracer_wrap_records_only_when_enabled_and_unwraps():
    tr = Tracer()
    tr.wrap(_Thing, "work", "thing.work", attrs_of=lambda a, r: {"out": r})
    assert _Thing().work(3) == 6 and tr.spans == []
    tr.enabled = True
    with tr.span("batch", trace=4):
        assert _Thing().work(4) == 8
    sp = tr.named("thing.work")[0]
    assert (sp.trace, sp.attrs) == (4, {"out": 8})
    tr.unwrap_all()
    assert "work" in vars(_Thing) and vars(_Thing)["work"].__name__ == "work"


def test_tracer_wrap_instance_attribute_is_removed_again():
    tr = Tracer()
    t = _Thing()
    tr.wrap(t, "work", "thing.work")
    assert "work" in vars(t)
    tr.unwrap_all()
    assert "work" not in vars(t)


def test_tracer_dump(tmp_path):
    tr = Tracer()
    tr.enabled = True
    with tr.span("a", trace=1):
        pass
    path = tmp_path / "spans.jsonl"
    tr.dump(str(path))
    (row,) = [json.loads(line) for line in path.read_text().splitlines()]
    assert row["name"] == "a" and row["trace"] == 1 and row["self_s"] >= 0
