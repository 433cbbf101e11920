"""CPU speed probe, hosted in a child process.

On a shared host the VM's CPUs do not run at a fixed speed: other tenants on
the same physical cores slow every instruction, and the guest kernel still
charges the lost time to whatever process was running. The same single-
threaded loop can take twice the CPU time it took a few minutes earlier. A
CPU time measured alone therefore moves with the host's load as much as
with the program's work.

The probe measures that speed while the program runs. Every ``PERIOD_S`` it
times a fixed pure-Python arithmetic loop with the thread's CPU clock
(steal excluded by the kernel), on each of the VM's CPUs in turn, as the
program's threads spread over them. It writes ``<wall time> <loop
seconds>`` to stdout. The parent keeps the samples and reports their median
over a window. A program CPU time scaled by ``REFERENCE_S`` over that
median reads as the CPU time on a host that runs the loop in
``REFERENCE_S``, whatever the host's speed at the time.

Run standalone: ``python3 perfbench/speed.py`` (stops on end of stdin).
"""

from __future__ import annotations

import itertools
import os
import statistics
import subprocess
import sys
import threading
import time

LOOP_ITERATIONS = 200_000
PERIOD_S = 0.25  # 10-20 ms of loop per period: 4-8% of one CPU
# The loop's CPU time on a quiet host (a 4-vCPU Xeon VM): scaled CPU times
# read as CPU times on such a host.
REFERENCE_S = 0.010


def loop() -> int:
    s = 0
    for i in range(LOOP_ITERATIONS):
        s += i * i
    return s


def main() -> None:
    # stop when the parent closes stdin (or dies)
    threading.Thread(target=lambda: (sys.stdin.read(), os._exit(0)), daemon=True).start()
    # the host slows some of the VM's CPUs more than others: take turns on
    # each, as the program's threads do
    cpus = sorted(os.sched_getaffinity(0))
    for k in itertools.count():
        os.sched_setaffinity(0, {cpus[k % len(cpus)]})
        t = time.time()
        c = time.thread_time()
        loop()
        print(f"{t:.6f} {time.thread_time() - c:.9f}", flush=True)
        time.sleep(max(0.0, PERIOD_S - (time.time() - t)))


class SpeedProbe:
    """Owns the probe child process and its samples."""

    def __init__(self):
        self.samples: list[tuple[float, float]] = []
        self.proc: subprocess.Popen | None = None
        self._reader: threading.Thread | None = None

    def start(self) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, __file__], stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True
        )
        self._reader = threading.Thread(target=self._read, name="speed-probe", daemon=True)
        self._reader.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            t, loop_s = line.split()
            self.samples.append((float(t), float(loop_s)))

    @property
    def pid(self) -> int | None:
        return self.proc.pid if self.proc is not None else None

    def loop_s(self, start: float, end: float) -> float:
        """Median CPU seconds of one loop over the samples taken in
        [start, end], or over all samples when the window holds fewer than
        three."""
        inside = [c for t, c in self.samples if start <= t <= end]
        return statistics.median(inside if len(inside) >= 3 else [c for _, c in self.samples])

    def summary(self, start: float, end: float) -> dict:
        return {
            "loop_s": self.loop_s(start, end),
            "samples": sum(1 for t, _ in self.samples if start <= t <= end),
        }

    def stop(self) -> None:
        if self.proc is None:
            return
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait(timeout=10)
        self._reader.join(timeout=10)
        self.proc.stdout.close()
        self.proc = None


if __name__ == "__main__":
    main()
