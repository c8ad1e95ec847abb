"""CPU-time and memory readers for the driver JVM and this Python process.

Linux only: the JVM's counters come from ``/proc/<pid>/stat`` and
``/proc/<pid>/status``; the Python driver's from ``os.times()``.
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def parse_stat_cpu_ticks(stat_text: str) -> int:
    """utime + stime (clock ticks) from the text of ``/proc/<pid>/stat``.

    The command name (field 2) is parenthesised and may itself contain
    spaces or parentheses, so fields are counted from the LAST ')'."""
    rest = stat_text[stat_text.rindex(")") + 2 :].split()
    # rest[0] is field 3 (state); utime and stime are fields 14 and 15
    return int(rest[11]) + int(rest[12])


def parse_vm_hwm_kb(status_text: str) -> int:
    """Peak resident set size (VmHWM, kB) from ``/proc/<pid>/status``."""
    for line in status_text.splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    raise ValueError("no VmHWM line in status text")


def process_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        return parse_stat_cpu_ticks(f.read()) / CLK_TCK


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        return parse_vm_hwm_kb(f.read()) / 1024.0


def driver_cpu_s() -> float:
    t = os.times()
    return t.user + t.system


class CpuMeter:
    """JVM + Python driver CPU seconds spent between ``start`` and ``stop``."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self._t0 = 0.0
        self.seconds = 0.0

    def _now(self) -> float:
        return process_cpu_s(self.jvm_pid) + driver_cpu_s()

    def start(self) -> None:
        self._t0 = self._now()

    def stop(self) -> float:
        self.seconds = self._now() - self._t0
        return self.seconds
