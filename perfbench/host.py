"""Host context recorded with every run: load average and the parallel
capacity the host actually delivers."""

from __future__ import annotations

import os
import time


def loadavg1() -> float:
    with open("/proc/loadavg", encoding="utf-8") as fh:
        return float(fh.read().split()[0])


def _spin(n: int) -> int:
    s = 0
    for i in range(n):
        s += i
    return s


def effective_cores(cores: int, work: int = 10_000_000) -> dict:
    """Fixed-work probe: the same loop on one process, then on ``cores``
    processes at once. effective_cores = single_wall * cores / parallel_wall;
    it falls below ``cores`` when co-tenants or hypervisor steal take CPU
    that the load average does not show."""
    t0 = time.perf_counter()
    _spin(work)
    single = time.perf_counter() - t0
    wide = _parallel_wall(work, cores)
    return {
        "probe_single_s": single,
        "probe_parallel_s": wide,
        "effective_cores": min(single * cores / wide, float(cores)),
    }


def _parallel_wall(work: int, cores: int) -> float:
    """Wall time of ``cores`` forked children running ``_spin(work)`` at
    once. Each child first spins once untimed (its first run is slower:
    copy-on-write faults after the fork), says so on a pipe, then waits
    for the start signal; every child is waited for."""
    ready_r, ready_w = os.pipe()
    go_r, go_w = os.pipe()
    pids = []
    try:
        for _ in range(cores):
            pid = os.fork()
            if pid == 0:
                try:
                    os.close(go_w)
                    _spin(work)
                    os.write(ready_w, b".")
                    os.read(go_r, 1)  # returns at EOF, when the parent closes go_w
                    _spin(work)
                finally:
                    os._exit(0)
            pids.append(pid)
        os.close(ready_w)  # so a child that died early reads as EOF, not a hang
        ready_w = None
        ready = 0
        while ready < cores:
            got = os.read(ready_r, cores)
            if not got:
                raise RuntimeError("a probe child exited before its warm-up ended")
            ready += len(got)
        t0 = time.perf_counter()
    finally:
        os.close(go_w)  # EOF: every child starts its timed spin
        for pid in pids:
            os.waitpid(pid, 0)
        for fd in (ready_r, ready_w, go_r):
            if fd is not None:
                os.close(fd)
    return time.perf_counter() - t0
