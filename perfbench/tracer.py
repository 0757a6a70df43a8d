"""Spans around the engine's public calls, for the traced benchmark run.

`Tracer.install()` wraps the public functions and methods a crawl run goes
through; `uninstall()` puts the originals back. Each wrapper records a span
(name, start, end, parent) and sets Spark's job description to the span's
name, so every Spark job in the event log can be attributed to the span
that launched it (`eventlog.py`).

Which calls become spans:

* top level (no span open): `crawl.init_crawl`, `crawl.run_round`,
  `crawl.expire_urls`, `crawl.rescore_frontier`, `Catalog.compact`,
  `Catalog.expire_snapshots`;
* directly inside `crawl.run_round`: `Catalog.commit` (as
  `catalog.commit.<table>`), `frontier.schedule_batch` and
  `metrics.round_metrics`.

Anything else passes straight through, so the commits inside
`init_crawl` or `expire_urls` stay part of their caller's span.

`schedule_batch` and `round_metrics` only build lazy plans; their work
runs at the round's next action. Their spans therefore stay open after
the call returns: the schedule span ends when the next child span (the
pages commit) starts, so it covers the batch's persist and count; the
round-metrics span ends with the metrics commit, which it absorbs, so it
covers the collect and the commit (the same interval as `run_round`'s own
`stage_s["metrics agg+commit"]`). Jobs a round runs while no child span is
open keep the round's description and are reported as
`crawl.driver_gap`.
"""

from __future__ import annotations

import functools
import time
from dataclasses import dataclass

ROUND = "crawl.run_round"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None


class Tracer:
    """Records spans in memory; `spans` is read after the run."""

    def __init__(self, spark_context) -> None:
        self._sc = spark_context
        self.spans: list[Span] = []
        self._stack: list[int] = []     # ids of open enclosing spans
        self._pending: int | None = None  # open-ended child of the round
        self._saved: list[tuple[object, str, object]] = []

    # ---- span bookkeeping --------------------------------------------
    def _describe(self) -> None:
        sid = self._pending if self._pending is not None else (
            self._stack[-1] if self._stack else None
        )
        self._sc.setJobDescription(None if sid is None else self.spans[sid].name)

    def _open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        self.spans.append(Span(sid, name, time.perf_counter(), None, parent))
        return sid

    def _close_pending(self) -> None:
        if self._pending is not None:
            self.spans[self._pending].end = time.perf_counter()
            self._pending = None

    def _in_round(self) -> bool:
        return bool(self._stack) and self.spans[self._stack[-1]].name == ROUND

    def _run(self, name: str, fn, args, kwargs):
        """Run `fn` inside a closed span called `name`."""
        self._close_pending()
        sid = self._open(name)
        self._stack.append(sid)
        self._describe()
        try:
            return fn(*args, **kwargs)
        finally:
            self._close_pending()  # a round's open-ended child ends with it
            self._stack.pop()
            self.spans[sid].end = time.perf_counter()
            self._describe()

    # ---- wrappers ----------------------------------------------------
    def _top(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if self._stack:
                return fn(*args, **kwargs)
            return self._run(name, fn, args, kwargs)

        return wrapper

    def _round_child(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self._in_round():
                return fn(*args, **kwargs)
            self._close_pending()
            self._pending = self._open(name)
            self._describe()
            return fn(*args, **kwargs)

        return wrapper

    def _commit(self, fn):
        @functools.wraps(fn)
        def wrapper(cat, name, *args, **kwargs):
            if not self._in_round():
                return fn(cat, name, *args, **kwargs)
            pending = self._pending
            if pending is not None and self.spans[pending].name == "metrics.round_metrics":
                try:
                    return fn(cat, name, *args, **kwargs)
                finally:
                    self._close_pending()
                    self._describe()
            return self._run(f"catalog.commit.{name}", fn, (cat, name, *args), kwargs)

        return wrapper

    def install(self) -> None:
        """Wrap the engine's public calls; idempotent until `uninstall`."""
        if self._saved:
            return
        from gpse import crawl, frontier, metrics
        from gpse.catalog import Catalog

        plan = [
            (crawl, "init_crawl", self._top("crawl.init", crawl.init_crawl)),
            (crawl, "run_round", self._top(ROUND, crawl.run_round)),
            (crawl, "expire_urls", self._top("crawl.expire_urls", crawl.expire_urls)),
            (crawl, "rescore_frontier",
             self._top("crawl.rescore_frontier", crawl.rescore_frontier)),
            (Catalog, "compact", self._top("catalog.compact", Catalog.compact)),
            (Catalog, "expire_snapshots",
             self._top("catalog.expire_snapshots", Catalog.expire_snapshots)),
            (Catalog, "commit", self._commit(Catalog.commit)),
            (frontier, "schedule_batch",
             self._round_child("frontier.schedule_batch", frontier.schedule_batch)),
            (metrics, "round_metrics",
             self._round_child("metrics.round_metrics", metrics.round_metrics)),
        ]
        for owner, attr, wrapped in plan:
            self._saved.append((owner, attr, owner.__dict__[attr]))
            setattr(owner, attr, wrapped)

    def uninstall(self) -> None:
        """Restore every wrapped callable to the exact original object."""
        while self._saved:
            owner, attr, original = self._saved.pop()
            setattr(owner, attr, original)
        self._sc.setJobDescription(None)
