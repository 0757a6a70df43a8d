"""The seeded frontier: the seed picks the URLs, never the amount of work."""

from collections import Counter

import pytest

import workload
from gpse import synth

CORPUS = synth.CorpusCfg(n_pages=5_000, n_hosts=60, seed=workload.CORPUS_SEED)


def _hosts(df):
    return Counter(synth.parse_canonical_url(u)[0] for u in df["url"])


@pytest.mark.parametrize("name", sorted(workload.WORKLOADS))
def test_seed_changes_urls_not_per_host_counts(name):
    shape = workload.WORKLOADS[name]
    a, b = (workload.seed_frontier(CORPUS, shape, s) for s in (1, 2))
    assert set(a["url"]) != set(b["url"])
    assert _hosts(a) == _hosts(b)
    assert a["url"].is_unique


def test_same_seed_same_frontier():
    shape = workload.WORKLOADS["crawl_steady"]
    a, b = (workload.seed_frontier(CORPUS, shape, 7) for _ in range(2))
    assert a.equals(b)


def test_priorities():
    steady = workload.seed_frontier(CORPUS, workload.WORKLOADS["crawl_steady"], 3)
    hot = workload.seed_frontier(CORPUS, workload.WORKLOADS["crawl_hot_host"], 3)
    assert set(steady["priority"]) == {0.0, 1.0, 2.0, 3.0, 4.0, 5.0}
    assert set(hot["priority"]) == {0.0}
