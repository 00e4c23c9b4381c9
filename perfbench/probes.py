"""Single-layer probes run by the traced benchmark, and host facts."""

from __future__ import annotations

import os
import time

import numpy as np

from stats import median


def probe_frame(seed: int) -> np.ndarray:
    """A seeded 640x480 RGB camera-like frame: smooth gradient + noise."""
    rng = np.random.default_rng(seed)
    grad = np.sin(np.outer(np.linspace(0, 3, 480), np.linspace(0, 4, 640))) * 60 + 120
    noisy = grad[..., None] + rng.normal(0, 12, (480, 640, 3))
    return np.clip(noisy, 0, 255).astype(np.uint8)


def _median_ms(fn, budget_s: float) -> float:
    walls = []
    deadline = time.perf_counter() + budget_s
    while len(walls) < 3 or time.perf_counter() < deadline:
        t0 = time.perf_counter()
        fn()
        walls.append((time.perf_counter() - t0) * 1e3)
    return median(walls)


def kernel_probes(seed: int, budget_s: float = 0.5) -> dict[str, float]:
    """Per-call milliseconds of the multimodal codecs on one thread."""
    from big_data_exercise_spark.multimodal import _native, jpeg, png

    frame = probe_frame(seed)
    enc = jpeg.encode_jpeg(frame, quality=75, subsampling="4:2:0")
    png_bytes = png.encode_png(frame)
    return {
        "multimodal.decode_jpeg_ms": _median_ms(lambda: jpeg.decode_jpeg(enc), budget_s),
        "multimodal.encode_jpeg_ms": _median_ms(
            lambda: jpeg.encode_jpeg(frame, quality=75, subsampling="4:2:0"), budget_s),
        "multimodal.decode_png_ms": _median_ms(lambda: png.decode_png(png_bytes), budget_s),
        "multimodal.native_loaded": 1.0 if _native.get_lib() is not None else 0.0,
    }


def peak_rss_mb(pids) -> float:
    """Summed high-water resident memory (VmHWM) of ``pids``."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def _stat(pid: int) -> tuple[int, int] | None:
    """(ppid, utime+stime+cutime+cstime in clock ticks) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def tree_cpu_s(roots) -> float:
    """CPU seconds used so far by ``roots`` and all their descendants
    (live ones directly, exited and reaped ones through their parents'
    child times)."""
    stats = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                stats[int(entry)] = st
    keep, frontier = set(), [r for r in roots if r in stats]
    while frontier:
        pid = frontier.pop()
        if pid not in keep:
            keep.add(pid)
            frontier.extend(p for p, (ppid, _) in stats.items() if ppid == pid)
    return sum(stats[p][1] for p in keep) / os.sysconf("SC_CLK_TCK")
