"""run.py's clean-up: every process a run started ends with it."""

import subprocess
import sys

import pytest

import run

# sleeps in a process group of its own, as PySpark's worker daemon does
SLEEPER = [sys.executable, "-c", "import os, time; os.setpgid(0, 0); time.sleep(60)"]


@pytest.fixture
def sleeper():
    p = subprocess.Popen(SLEEPER)
    while run._stat(p.pid) is None:
        pass
    yield p
    p.kill()
    p.wait()


def test_reap_kills_a_process_outside_the_run_group(sleeper):
    run.reap({sleeper.pid: run._stat(sleeper.pid)[20]}, timeout_s=5)
    assert sleeper.wait(timeout=5) == -9


def test_reap_spares_a_later_process_with_a_reused_pid(sleeper):
    run.reap({sleeper.pid: "0"}, timeout_s=1)  # another start time
    assert sleeper.poll() is None
