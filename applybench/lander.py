"""Open-loop chunk lander: publishes chunks on a fixed schedule.

Chunk ``k`` is due at ``t0 + k * interval`` whether or not the consumer
kept up. A chunk is published by copying it under a name the consumer
ignores and renaming it into place, so the consumer never lists a
half-written file. How late each publish ran is recorded.
"""

from __future__ import annotations

import os
import shutil
import threading
import time


def schedule(t0: float, interval: float, n: int) -> list:
    """Due times of ``n`` chunks."""
    return [t0 + k * interval for k in range(n)]


def lateness(due: list, published: list) -> list:
    """Seconds each publish ran after its due time (never negative)."""
    return [max(0.0, p - d) for d, p in zip(due, published)]


class Lander:
    """Thread publishing ``names`` from ``src_dir`` into ``dst_dir``."""

    def __init__(self, src_dir: str, dst_dir: str, names: list,
                 interval: float):
        self.src_dir, self.dst_dir = src_dir, dst_dir
        self.names = list(names)
        self.interval = interval
        self.due: list = []
        self.published: list = []
        self.error = None
        self._stop = threading.Event()
        self._thread = None

    def publish(self, name: str):
        tmp = os.path.join(self.dst_dir, f".{name}.landing")
        shutil.copyfile(os.path.join(self.src_dir, name), tmp)
        os.replace(tmp, os.path.join(self.dst_dir, name))

    def run(self, t0: float):
        self.due = schedule(t0, self.interval, len(self.names))
        try:
            for name, due in zip(self.names, self.due):
                wait = due - time.perf_counter()
                if wait > 0 and self._stop.wait(wait):
                    return
                if self._stop.is_set():
                    return
                self.publish(name)
                self.published.append(time.perf_counter())
        except OSError as e:  # surfaced by the consumer loop
            self.error = e

    def start(self, t0: float):
        self._thread = threading.Thread(target=self.run, args=(t0,),
                                        daemon=True)
        self._thread.start()

    def landed(self) -> int:
        return len(self.published)

    def done(self) -> bool:
        return self.error is not None or len(self.published) == len(
            self.names)

    def stop(self):
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
