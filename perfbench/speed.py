"""How fast the box's cores run right now.

The benchmark runs on a few virtual cores of a shared host. When the
host's other tenants are busy, the same work costs more CPU time (shared
physical cores, caches and memory bandwidth): the scan pass's CPU per
turn was seen to move by 2x and more between quiet and busy spells,
within minutes. A probe process measures that speed while the benchmark
runs. It repeats one fixed pure-Python operation at the `SCHED_IDLE`
policy, so it only runs on cores the measured work leaves idle and
never delays it. The probe's CPU time per operation over a window,
divided by `REFERENCE_OP_S`, is the window's slowdown; a CPU cost divided
by the slowdown is that cost on a reference core.
"""

from __future__ import annotations

import multiprocessing as mp
import os

# CPU seconds of one probe operation on a quiet core of the 4-vCPU KVM
# box (Intel Xeon, 4.2 GHz TSC) the baseline was taken on; it scales the
# normalised figures only
REFERENCE_OP_S = 1.25e-3
_ITERS = 20_000
# fewer operations than this in a window (0.1 s of probe time) say too
# little about its speed
MIN_OPS = 80
_TICK = os.sysconf("SC_CLK_TCK")


def _operation() -> int:
    s = 0
    for i in range(_ITERS):
        s += i * i % 7
    return s


def _probe(ops, parent: int) -> None:
    os.sched_setscheduler(0, os.SCHED_IDLE, os.sched_param(0))
    while os.getppid() == parent:  # ends by itself if orphaned
        _operation()
        ops.value += 1


class SpeedProbe:
    """A background probe process; `sample()` marks a window's ends and
    `slowdown(a, b)` is the speed factor between two marks. Use as a
    context manager: the probe is stopped and waited for on exit."""

    def __init__(self) -> None:
        ctx = mp.get_context("fork")
        self._ops = ctx.RawValue("q", 0)
        self._proc = ctx.Process(target=_probe,
                                 args=(self._ops, os.getpid()), daemon=True)

    def __enter__(self) -> "SpeedProbe":
        self._proc.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop()

    def stop(self) -> None:
        if self._proc.is_alive():
            self._proc.kill()
        self._proc.join()

    def sample(self) -> tuple[int, float]:
        """(operations done, probe CPU seconds) so far."""
        with open(f"/proc/{self._proc.pid}/stat") as f:
            stat = f.read().rsplit(")", 1)[1].split()
        return self._ops.value, (int(stat[11]) + int(stat[12])) / _TICK

    @staticmethod
    def slowdown(a: tuple[int, float], b: tuple[int, float]) -> float:
        """CPU time per probe operation between marks `a` and `b`, over
        `REFERENCE_OP_S`; None when the probe ran too little in the
        window to tell (cores busy throughout)."""
        ops, cpu = b[0] - a[0], b[1] - a[1]
        if ops < MIN_OPS or cpu <= 0:
            return None
        return cpu / ops / REFERENCE_OP_S
