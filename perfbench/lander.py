"""Open-loop input for the tail workload.

One thread lands pre-written segment files into the watched directory on a
fixed schedule (file ``i`` is due at ``t0 + i * interval_s``) by an atomic
rename, whether or not the pipeline keeps up. It records when each file was
due and when it actually landed, so the generator's own lateness is
reported next to the system's freshness.
"""

from __future__ import annotations

import os
import threading
import time


def max_lateness(due: list[float], landed: list[float]) -> float:
    """The generator's largest delay behind schedule (0 when always on time)."""
    return max([0.0] + [l - d for d, l in zip(due, landed)])


class Lander(threading.Thread):
    def __init__(self, files: list[str], dest_dir: str, t0: float, interval_s: float):
        super().__init__(name="perfbench-lander", daemon=True)
        self.files = files
        self.dest_dir = dest_dir
        self.due = [t0 + i * interval_s for i in range(len(files))]
        self.landed: list[float] = []
        self.error: BaseException | None = None
        self._stop_event = threading.Event()

    def run(self) -> None:
        try:
            for src, due in zip(self.files, self.due):
                if self._stop_event.wait(max(due - time.time(), 0.0)):
                    return
                os.rename(src, os.path.join(self.dest_dir, os.path.basename(src)))
                self.landed.append(time.time())
        except OSError as e:
            self.error = e

    def stop(self) -> None:
        self._stop_event.set()

    @property
    def lateness_s(self) -> float:
        return max_lateness(self.due, self.landed)
