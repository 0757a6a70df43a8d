"""Names, units and directions of the benchmark's metrics.

BENCHMARK.json at the repo root lists the same metrics (checked by
tests/test_spec.py in this directory).
"""

from __future__ import annotations

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "crawl_urls_per_s": ("1/s", "higher"),
    "maint_s": ("s", "lower"),
    "cpu_ms_per_url": ("ms", "lower"),
    "stored_bytes_per_url": ("bytes", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}

SPAN_NAMES = [
    "crawl.run_round", "crawl.init", "frontier.schedule_batch",
    "catalog.commit.pages", "catalog.commit.frontier",
    "catalog.commit.seen_exact", "catalog.commit.seen_bloom",
    "metrics.round_metrics", "catalog.compact", "catalog.expire_snapshots",
    "crawl.expire_urls", "crawl.rescore_frontier",
]
SPAN_FIELDS = {
    "wall_s": "s", "task_s": "s", "cpu_s": "s",
    "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
    "task_skew": "ratio", "jobs": "count",
}
COMMITTED_TABLES = ["pages", "frontier", "seen_exact", "seen_bloom", "metrics"]

ROUND_COUNTS = {
    "frontier.queued": ("count", "higher"),
    "frontier.scheduled": ("count", "higher"),
    "frontier.deferred": ("count", "lower"),
    "frontier.denied": ("count", "lower"),
    "frontier.deferred_ratio": ("ratio", "lower"),
    "fetch.ok_ratio": ("ratio", "higher"),
    "extract.links_per_page": ("count", "higher"),
    "seen.candidates": ("count", "higher"),
    "seen.new_ratio": ("ratio", "higher"),
    **{f"catalog.bytes_written.{t}": ("bytes", "lower") for t in COMMITTED_TABLES},
}


def per_layer() -> dict[str, tuple[str, str]]:
    """Every per-layer metric a traced run prints: name -> (unit, better)."""
    out = {
        f"{span}.{field}": (unit, "lower")
        for span in SPAN_NAMES for field, unit in SPAN_FIELDS.items()
    }
    out["crawl.driver_gap.wall_s"] = ("s", "lower")
    out["crawl.driver_gap.jobs"] = ("count", "lower")
    out.update(ROUND_COUNTS)
    out.update({
        "trace.crawl_urls_per_s": ("1/s", "higher"),
        "trace_overhead": ("ratio", "lower"),
        "load_avg_1m": ("load", "lower"),
        "cpu_probe_s": ("s", "lower"),
    })
    return out
