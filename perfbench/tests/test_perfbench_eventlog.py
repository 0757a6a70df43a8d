"""Event-log attribution against a small synthetic Spark event log."""

import os
import shutil

import pytest

from eventlog import layer_metrics, read_events, usage_by_description
from spec import SPAN_NAMES
from tracer import Span

DATA = os.path.join(os.path.dirname(__file__), "data", "eventlog.jsonl")


def _rolling_copy(tmp_path) -> str:
    """The log split over two rolled files, as Spark 4 writes it."""
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    with open(DATA) as f:
        lines = f.readlines()
    # the higher-numbered file must be read second
    (app / "events_10_local-1").write_text("".join(lines[8:]))
    (app / "events_2_local-1").write_text("".join(lines[:8]))
    (app / "appstatus_local-1").write_text("")
    return str(tmp_path)


@pytest.fixture
def usage(tmp_path):
    return usage_by_description(read_events(_rolling_copy(tmp_path)))


def test_rolling_layout_reads_every_event_in_order(tmp_path):
    log_dir = _rolling_copy(tmp_path)
    with open(DATA) as f:
        assert [e["Event"] for e in read_events(log_dir)] == [
            line.split('"Event": "')[1].split('"')[0] for line in f
        ]


def test_single_file_layout(tmp_path):
    shutil.copy(DATA, tmp_path / "local-1")
    assert usage_by_description(read_events(str(tmp_path)))["catalog.commit.pages"].jobs == 1


def test_per_description_sums(usage):
    sched = usage["frontier.schedule_batch"]
    assert sched.jobs == 1
    assert sched.task_s == pytest.approx(0.8)
    assert sched.cpu_s == pytest.approx(0.04)
    assert sched.shuffle_write_bytes == 2000
    pages = usage["catalog.commit.pages"]
    # stage 1 is listed by the pages job too, but ran under the scheduler
    assert pages.task_s == pytest.approx(0.6)
    assert pages.spill_bytes == 2048
    assert usage[None].task_s == pytest.approx(0.999)


def test_skew_is_read_from_the_heaviest_stage(usage):
    assert usage["frontier.schedule_batch"].task_skew == pytest.approx(4.0)
    assert usage["catalog.commit.pages"].task_skew == pytest.approx(1.0)


def test_layer_metrics_and_driver_gap(usage):
    spans = [
        Span(0, "crawl.run_round", 0.0, 10.0, None),
        Span(1, "frontier.schedule_batch", 1.0, 4.0, 0),
        Span(2, "catalog.commit.pages", 4.0, 8.0, 0),
    ]
    m = layer_metrics(spans, usage, SPAN_NAMES)
    assert m["frontier.schedule_batch.wall_s"] == pytest.approx(3.0)
    assert m["frontier.schedule_batch.task_skew"] == pytest.approx(4.0)
    assert m["catalog.commit.pages.wall_s"] == pytest.approx(4.0)
    # the round includes its children and its own gap jobs
    assert m["crawl.run_round.jobs"] == 3
    assert m["crawl.run_round.task_s"] == pytest.approx(1.5)
    assert m["crawl.run_round.task_skew"] == pytest.approx(4.0)
    assert m["crawl.driver_gap.wall_s"] == pytest.approx(3.0)
    assert m["crawl.driver_gap.jobs"] == 1
    # children plus gap account for the round's wall
    assert (
        m["frontier.schedule_batch.wall_s"] + m["catalog.commit.pages.wall_s"]
        + m["crawl.driver_gap.wall_s"]
    ) == pytest.approx(m["crawl.run_round.wall_s"])
    # a span that never ran reports zeros
    assert all(m[f"crawl.init.{f}"] == 0 for f in ("wall_s", "jobs", "task_skew"))


def test_layer_metrics_are_means_per_occurrence():
    spans = [
        Span(0, "catalog.compact", 0.0, 1.0, None),
        Span(1, "catalog.compact", 2.0, 5.0, None),
    ]
    m = layer_metrics(spans, {}, ["catalog.compact"])
    assert m["catalog.compact.wall_s"] == pytest.approx(2.0)
    assert m["crawl.driver_gap.wall_s"] == 0.0
