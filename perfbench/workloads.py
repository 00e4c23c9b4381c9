"""The benchmark's workloads: which registry queries each one runs.

Why each workload exists is stated in BENCHMARK.json and README.md."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    # Scale factor of the generated tables (datagen): 0.1 = 600k lineitem
    # rows, 100k events.
    sf: float
    # Files in the ts-ordered events feed the streaming queries replay;
    # each file is one data-carrying micro-batch. 0 for batch workloads.
    feed_files: int = 0
    # Untimed passes before timing. The first collects and checks the
    # results; later ones let JIT compilation settle.
    warmup_passes: int = 1
    # Timed passes a run makes at least, however short --seconds is.
    min_passes: int = 1

    @property
    def streaming(self) -> bool:
        return self.feed_files > 0


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "dashboard_sql",
            (
                "pricing_summary",
                "shipping_priority",
                "top_k_per_group",
                "heavy_hitter_users",
            ),
            sf=0.05,
            warmup_passes=2,
            min_passes=2,
        ),
        Workload(
            "stream_microbatch",
            (
                "stream_tumbling_counts",
                "stream_stream_join",
                "stream_fire_mask_stats",
                "stream_jdbc_sink",
            ),
            sf=0.01,
            feed_files=2,
        ),
    )
}
