"""The traced run's wrappers: span structure, job descriptions, and that
uninstalling restores the engine's original functions."""

import pytest

from gpse import crawl, frontier, metrics
from gpse.catalog import Catalog
from tracer import Tracer

WRAPPED = [
    (crawl, "init_crawl"), (crawl, "run_round"), (crawl, "expire_urls"),
    (crawl, "rescore_frontier"), (Catalog, "compact"),
    (Catalog, "expire_snapshots"), (Catalog, "commit"),
    (frontier, "schedule_batch"), (metrics, "round_metrics"),
]


class FakeContext:
    """Stands in for SparkContext: records each job's description."""

    def __init__(self):
        self.desc = None
        self.jobs = []

    def setJobDescription(self, value):
        self.desc = value

    def job(self):
        self.jobs.append(self.desc)


def test_uninstall_restores_the_original_objects():
    originals = [owner.__dict__[attr] for owner, attr in WRAPPED]
    sc = FakeContext()
    tracer = Tracer(sc)
    tracer.install()
    tracer.install()  # a second install must not wrap the wrappers
    assert all(owner.__dict__[a] is not o for (owner, a), o in zip(WRAPPED, originals))
    tracer.uninstall()
    assert all(owner.__dict__[a] is o for (owner, a), o in zip(WRAPPED, originals))
    assert sc.desc is None


@pytest.fixture
def fake_engine(monkeypatch):
    """Engine calls replaced by fakes that only run 'jobs'."""
    sc = FakeContext()

    def fake_round(spark, cat, cfg, r):
        sc.job()                                    # a probe before scheduling
        frontier.schedule_batch(None, None, None)   # lazy
        sc.job()                                    # the batch's count
        cat.commit("pages", None, r)
        metrics.round_metrics(None, r)              # lazy
        sc.job()                                    # the collect
        cat.commit("metrics", None, r)
        sc.job()                                    # after the last child

    monkeypatch.setattr(crawl, "run_round", fake_round)
    monkeypatch.setattr(frontier, "schedule_batch", lambda *a: None)
    monkeypatch.setattr(metrics, "round_metrics", lambda *a: None)
    monkeypatch.setattr(Catalog, "commit", lambda self, name, df, r, mode="append": sc.job())
    monkeypatch.setattr(Catalog, "compact", lambda self, spark, name: sc.job())
    return sc


def test_round_spans_and_job_descriptions(fake_engine):
    sc = fake_engine
    tracer = Tracer(sc)
    tracer.install()
    try:
        cat = Catalog.__new__(Catalog)
        cat.commit("host_policy", None, 0)   # outside any span: untraced
        crawl.run_round(None, cat, None, 0)
        cat.compact(None, "frontier")
    finally:
        tracer.uninstall()

    names = [(s.name, s.parent) for s in tracer.spans]
    assert names == [
        ("crawl.run_round", None),
        ("frontier.schedule_batch", 0),
        ("catalog.commit.pages", 0),
        ("metrics.round_metrics", 0),
        ("catalog.compact", None),
    ]
    assert sc.jobs == [
        None,
        "crawl.run_round",
        "frontier.schedule_batch",
        "catalog.commit.pages",
        "metrics.round_metrics",
        "metrics.round_metrics",   # the metrics commit belongs to its span
        "crawl.run_round",
        "catalog.compact",
    ]
    sched, pages, rmet = tracer.spans[1:4]
    assert sched.end <= pages.start      # open until the pages commit starts
    assert rmet.end <= tracer.spans[0].end
    assert all(s.end is not None for s in tracer.spans)
