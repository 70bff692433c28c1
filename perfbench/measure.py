"""Measurement helpers shared by the benchmark's processes."""

from __future__ import annotations

import time


def more_reps(start: float, done: int, seconds: float, at_least: int) -> bool:
    """Whether to start another repetition: yes until ``at_least`` are
    done, then while one more of average length still ends within
    ``seconds`` of ``start`` (a ``time.perf_counter()`` value). Deciding by
    the average keeps the count the same from run to run when repetitions
    are long compared with ``seconds``."""
    if done < at_least:
        return True
    elapsed = time.perf_counter() - start
    return elapsed + elapsed / done <= seconds


def vm_hwm_mb(pid: int | str) -> float:
    """Peak RSS of process ``pid`` (or ``"self"``) in MB; 0 once it is gone
    or a zombie without an address space."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
