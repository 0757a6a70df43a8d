"""gpse crawl benchmark: one run of one workload at one seed.

    python3 perfbench/run.py --workload crawl_steady --seed 1 --seconds 10 --trace 0

Runs `workload.py` in a child process (its own JVM, with half the cores as
task slots) and watches it from outside: CPU seconds of the whole process
tree over the timed operations, and the tree's peak resident memory.
Prints one evidence line (load stamp, per-round figures, every check
failure) and, as the last line, the result: `correct`, `attempted`,
`failed` and `metrics` — the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`.

Everything the run writes stays under `.perfbench/` in the checkout: the
origin cache, a history of earlier runs (for the cross-run seen-set digest
check and the tracing overhead) and a per-run scratch directory that is
deleted when the run ends. See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

from spec import END_TO_END, per_layer
from workload import WORKLOADS, origin_ready

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
HISTORY = os.path.join(WORK, "history.jsonl")
TIMEOUT_S = 170          # a run must finish within 180 s
BUILD_TIMEOUT_S = 600    # the first run in a checkout builds the origin first (900 s in all)
CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


# ---- the process tree, read from /proc ---------------------------------

def _stat(pid: int) -> list[str] | None:
    """/proc/<pid>/stat fields from `comm` on (field 2 of proc(5))."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    close = raw.rindex(")")
    return [raw[raw.index("(") + 1:close], *raw[close + 2:].split()]


def tree(root: int) -> dict[int, list[str]]:
    """/proc stat fields of `root` and all its live descendants, by pid."""
    kids: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
                kids.setdefault(int(st[2]), []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """utime+stime of the live tree plus what its members reaped."""
    return sum(sum(int(x) for x in st[12:16]) for st in tree(root).values()) / CLK_TCK


def tree_memory_mb(root: int, procs: dict[int, list[str]]) -> dict[str, float]:
    """Resident memory of the tree in MB: the JVM, the Python driver
    (`root`) and the Python workers. Python processes count their
    proportional set size, so pages the forked workers share count once;
    the JVM shares nothing and counts its RSS (its smaps walk would take
    ~20 ms and stall it). Other processes are the JVM's short-lived spawn
    helpers: they share the JVM's pages until they exec, so counting them
    would count the JVM twice."""
    kb = {"jvm_mb": 0, "driver_mb": 0, "workers_mb": 0}
    workers = []
    for pid, st in procs.items():
        if st[0] == "java":
            kb["jvm_mb"] += int(st[22]) * PAGE_KB
            continue
        if not st[0].startswith("python"):
            continue
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                pss = sum(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except OSError:
            continue  # exited since the scan
        kb["driver_mb" if pid == root else "workers_mb"] += pss
        if pid != root:
            workers.append(pss / 1024)
    out = {k: v / 1024 for k, v in kb.items()}
    out["total_mb"] = sum(out.values())
    out["python_processes"] = len(workers)
    out["largest_worker_mb"] = max(workers, default=0.0)
    return out


class Watcher(threading.Thread):
    """Samples the tree's memory every 500 ms and keeps, for the timed
    operations and for the rest of the run, the sample with the peak.
    Also keeps the start time of every process it saw in the tree, by
    pid, so that `reap` can tell them from later processes."""

    def __init__(self, pid: int) -> None:
        super().__init__(daemon=True)
        self.pid = pid
        self.timed = False  # set while a timed operation runs
        self.peak = {"timed": {"total_mb": 0.0}, "untimed": {"total_mb": 0.0}}
        self.seen: dict[int, str] = {}
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.wait(0.5):
            phase = "timed" if self.timed else "untimed"
            procs = tree(self.pid)
            self.seen.update((pid, st[20]) for pid, st in procs.items())
            sample = tree_memory_mb(self.pid, procs)
            if sample["total_mb"] > self.peak[phase]["total_mb"]:
                self.peak[phase] = sample

    def stop(self) -> None:
        self._done.set()
        self.join(timeout=5)


def reap(seen: dict[int, str], timeout_s: float = 10.0) -> None:
    """SIGKILL every process of `seen` (pid -> start time) that still
    runs, and wait until all have ended. PySpark's worker daemon leads a
    process group of its own, so killing the run's group misses it."""

    def running(pid: int, start: str) -> bool:
        st = _stat(pid)
        return st is not None and st[20] == start and st[1] != "Z"

    for pid, start in seen.items():
        if running(pid, start):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    deadline = time.monotonic() + timeout_s
    while any(running(p, s) for p, s in seen.items()) and time.monotonic() < deadline:
        time.sleep(0.1)


# ---- history -------------------------------------------------------------

def history() -> list[dict]:
    if not os.path.exists(HISTORY):
        return []
    with open(HISTORY, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def record(entry: dict) -> None:
    with open(HISTORY, "a", encoding="utf-8") as f:
        f.write(json.dumps(entry) + "\n")


# ---- the run -------------------------------------------------------------

def run_child(args, scratch: str, *extra: str) -> tuple[dict, float, dict]:
    """Run workload.py; returns (its result, timed CPU s, peak memory)."""
    cmd = [
        sys.executable, os.path.join(HERE, "workload.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--scratch", scratch, "--work", WORK, *extra,
    ]
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, PYTHONPATH=ROOT, TMPDIR=tmp)
    proc = subprocess.Popen(
        cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    deadline = [time.monotonic() + TIMEOUT_S]

    def on_timeout() -> None:
        while proc.poll() is None:
            if time.monotonic() > deadline[0]:
                os.killpg(proc.pid, signal.SIGKILL)
                return
            time.sleep(0.5)

    threading.Thread(target=on_timeout, daemon=True).start()
    watcher = Watcher(proc.pid)
    watcher.start()
    cpu, begun, result = 0.0, None, None
    try:
        for line in proc.stdout:
            if line.startswith("@@begin"):
                begun = tree_cpu_s(proc.pid)
                watcher.timed = True
            elif line.startswith("@@end"):
                cpu += tree_cpu_s(proc.pid) - begun
                watcher.timed = False
            elif line.startswith("@@building"):
                deadline[0] = time.monotonic() + BUILD_TIMEOUT_S
            elif line.startswith("@@result "):
                result = json.loads(line[len("@@result "):])
            else:
                sys.stderr.write(line)
        rc = proc.wait()
    finally:
        watcher.stop()
        try:  # nothing the run started may outlive it
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        reap(watcher.seen)
    if rc != 0 or result is None:
        raise SystemExit(f"workload process failed (exit code {rc})")
    return result, cpu, watcher.peak


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # a SIGTERM still runs the cleanup below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.makedirs(WORK, exist_ok=True)
    for name in os.listdir(WORK):  # scratch left by a run that was killed
        if name.startswith("run-") and not os.path.exists(f"/proc/{name[4:]}"):
            shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)
    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(scratch)
    try:
        if not origin_ready(WORK):
            # in a JVM of its own, so the measured run's setup starts cold
            run_child(args, scratch, "--build-origin")
        res, cpu_s, peak = run_child(args, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    ops = res["ops"]
    failures = [e for o in ops for e in o["errors"]]
    if "aborted" in res:
        failures.append("run aborted: " + res["aborted"])
    rounds = [o for o in ops if o["kind"] == "round"]
    fetched = sum(r["fetched"] for r in res["rounds"])
    round_wall = sum(o["wall_s"] for o in rounds)
    intervals: dict[int, float] = {}
    for o in ops:
        if o["kind"] == "maint":
            intervals[o["interval"]] = intervals.get(o["interval"], 0.0) + o["wall_s"]
    interval_s = [intervals[i] for i in sorted(intervals)]
    urls_per_s = fetched / round_wall if round_wall else 0.0

    past = history()
    key = (args.workload, args.seed, len(rounds), res["inputs"])
    digests = {h["digest"] for h in past
               if (h["workload"], h["seed"], h["rounds"], h.get("inputs")) == key}
    if res.get("digest") and digests - {res["digest"]}:
        failures.append(f"seen-set digest {res['digest']} differs from earlier runs {sorted(digests)}")
    failed = sum(1 for o in ops if not o["ok"])
    if failures and not failed:
        failed = 1
    if not failures:
        record({"workload": args.workload, "seed": args.seed, "rounds": len(rounds),
                "inputs": res["inputs"], "digest": res["digest"], "trace": args.trace,
                "crawl_urls_per_s": urls_per_s})

    evidence = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "stamp": res["stamp"], "rounds": res["rounds"], "counts": res["counts"],
        "stage_s": res["stage_s"],
        "maint_interval_s": interval_s,
        "ops": [{k: o[k] for k in ("name", "wall_s", "ok")} for o in ops],
        "peak_memory": peak,
        "failures": failures,
    }
    if args.trace:
        untraced = [h["crawl_urls_per_s"] for h in past
                    if h["workload"] == args.workload and not h["trace"]]
        base = statistics.median(untraced) if untraced else None
        evidence["stage_span_max_diff_s"] = res["stage_span_max_diff_s"]
        evidence["untraced_runs"] = len(untraced)
        values = dict(res["layers"])
        for c in res["counts"][0] if res["counts"] else {}:
            vals = [rc[c] for rc in res["counts"]]
            values[c] = min(vals) if c == "fetch.ok_ratio" else statistics.mean(vals)
        values.update({
            "trace.crawl_urls_per_s": urls_per_s,
            "trace_overhead": 1 - urls_per_s / base if base else 0.0,
            "load_avg_1m": res["stamp"]["loadavg1"],
            "cpu_probe_s": res["stamp"]["cpu_stamp_s"],
        })
        metrics = {n: {"value": values.get(n, 0.0), "unit": u} for n, (u, _) in per_layer().items()}
    else:
        values = {
            "setup_s": res["setup_s"],
            "crawl_urls_per_s": urls_per_s,
            # the first interval runs in a cold JVM: the median of the rest
            "maint_s": statistics.median(interval_s[1:] or interval_s or [0.0]),
            "cpu_ms_per_url": 1e3 * cpu_s / fetched if fetched else 0.0,
            "stored_bytes_per_url": res["stored_bytes"] / res["seen_urls"] if res.get("seen_urls") else 0.0,
            "peak_rss_mb": max(p["total_mb"] for p in peak.values()),
        }
        metrics = {n: {"value": values[n], "unit": u} for n, (u, _) in END_TO_END.items()}

    print(json.dumps({"evidence": evidence}))
    print(json.dumps({
        "correct": not failures,
        "attempted": max(1, len(ops)),
        "failed": failed,
        "metrics": metrics,
    }), flush=True)


if __name__ == "__main__":
    main()
