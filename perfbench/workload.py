"""One run of one crawl workload, in its own process and JVM.

`run.py` starts this script and watches it from outside (CPU and memory
of the whole process tree). It prints `@@begin`/`@@end` around every timed
operation, so the watcher can add up CPU over the timed part only, and one
`@@result <json>` line at the end.

The run is a closed loop with one client: the crawl driver issues a round,
then MAINT_INTERVALS maintenance intervals, then the next round, until
`--seconds` of timed work have passed (at least one round). Every round,
and every round's maintenance, is checked against the committed tables
right after it, outside the timed walls; a failed check marks that
operation failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from dataclasses import dataclass
from urllib.parse import urlsplit

from spec import COMMITTED_TABLES, SPAN_NAMES

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# One synthetic web for every workload and seed, generated once per
# checkout: 100 pages per zipf host, the shape of a 1.25M-page/12.5k-host
# corpus at 1/12.5 scale, sized so a run takes about a minute on 4 cores.
# The run's --seed picks the pre-filled frontier and its priorities.
N_PAGES = 100_000
N_HOSTS = 1_000
WORDS_PER_PAGE = 30
CORPUS_SEED = 42
EXPIRE_MOD = 29           # crawl_hot_host's interval i expires seen keys with url_hash % 29 == i
# maintenance intervals after each round. The first runs in a cold JVM and
# takes up to twice as long as the next, so maint_s is taken over the
# later ones (see run.py).
MAINT_INTERVALS = 2
SAMPLE_ROWS = 40          # pages / robots rows checked per round
# robots rules for every 4th host on crawl_hot_host: a '*' rule, a '$'
# rule, and a longer Allow that overrides the '$' rule for some paths
WILDCARD_ROBOTS = "User-agent: *\nDisallow: /*/p/\nDisallow: /p/*7$\nAllow: /p/*77$\n"


@dataclass(frozen=True)
class Shape:
    prefill_permille: int  # share of every host's pages pre-filled as the frontier
    tied: bool          # every queued URL at priority 0 (else 6 seeded bands)
    budget: int         # per-host politeness budget per round
    seen_filter: str    # pre-filter family: 'bloom' or 'cuckoo'
    wildcard: bool      # WILDCARD_ROBOTS on every 4th host
    maintenance: str    # 'rescore' or 'expire', besides compaction


WORKLOADS = {
    # north-star shape: fetch + extract and seen dedup do most of the work;
    # the budget exceeds the largest host's queue, so little is deferred
    "crawl_steady": Shape(150, False, 4096, "bloom", False, "rescore"),
    # the scheduler does most of the work: a big queue whose zipf-head
    # host's single tied band goes through the budget window, wildcard
    # rules through the robots evaluator, and nearly every queued row is
    # deferred and rewritten; few pages are fetched
    "crawl_hot_host": Shape(500, True, 4, "cuckoo", True, "expire"),
}

# run_round's stage_s labels and the span that covers the same interval
STAGE_SPANS = {
    "schedule + persist": "frontier.schedule_batch",
    "pages commit (fetch+parse+extract+write)": "catalog.commit.pages",
    "dedup + frontier commit": "catalog.commit.frontier",
    "seen commit": "catalog.commit.seen_exact",
    "bloom delta+merge commit": "catalog.commit.seen_bloom",
    "metrics agg+commit": "metrics.round_metrics",
}


def mark(what: str) -> None:
    print(f"@@{what}", flush=True)


def physical_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20


def task_slots() -> int:
    """Spark task slots: half the cores. Every Arrow UDF task keeps a
    Python worker busy beside its JVM task thread, so half the cores in
    slots already fills the box; the JIT, GC and driver threads get the
    slack instead of queueing behind task threads. On a 4-core box a
    crawl round took as long at local[2] and local[3] as at local[4]."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def make_session(cores: int, local_dir: str, event_dir: str | None):
    from pyspark.sql import SparkSession

    # an eighth of physical RAM, within [1, 4] GiB: the run's tables are
    # small, and the Python workers and other tenants need the rest. The
    # heap is fixed and pre-touched, so the JVM's resident memory is its
    # configured heap rather than a GC heap-sizing decision that varies
    # from run to run; peak_rss_mb then moves with what the engine adds.
    driver_mb = max(1024, min(4096, physical_mb() // 8))
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("gpse-perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "5000")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.driver.memory", f"{driver_mb}m")
        # temp files stay in the run's scratch directory, not in /tmp
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{driver_mb}m -XX:+AlwaysPreTouch -XX:-UsePerfData"
            f" -Djava.io.tmpdir={tempfile.gettempdir()}",
        )
        .config("spark.local.dir", local_dir)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_dir:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_dir)
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def corpus_cfg():
    from gpse import synth

    return synth.CorpusCfg(
        n_pages=N_PAGES, n_hosts=N_HOSTS, words_per_page=WORDS_PER_PAGE, seed=CORPUS_SEED
    )


def origin_path(work_dir: str) -> str:
    return os.path.join(
        work_dir, f"origin-p{N_PAGES}-h{N_HOSTS}-w{WORDS_PER_PAGE}-s{CORPUS_SEED}"
    )


def origin_ready(work_dir: str) -> bool:
    """A cached origin counts only with its `_SUCCESS` marker and the full
    row count."""
    import pyarrow.parquet as pq

    path = origin_path(work_dir)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        return False
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    return sum(pq.read_metadata(os.path.join(path, f)).num_rows for f in files) == N_PAGES


def ensure_origin(spark, corpus, work_dir: str) -> str:
    """The synthetic origin ("the web"): a body for every page id the
    corpus can link to, so no round is dominated by 404s. Cached per corpus
    config in `origin_path`."""
    import bench

    path = origin_path(work_dir)
    if origin_ready(work_dir):
        return path
    mark("building")
    if bench.CRAWL_FRONTIER != corpus.n_pages:
        raise RuntimeError("set SPARK_GRAFT_CRAWL_FRONTIER to the corpus size before importing bench")
    shutil.rmtree(path, ignore_errors=True)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    bench.materialize_origin(spark, corpus, tmp, n_parts=16)
    os.replace(tmp, path)
    if not origin_ready(work_dir):
        raise RuntimeError(f"origin at {path} failed validation")
    return path


def crawl_cfg(shape: Shape, corpus, origin: str, cores: int):
    from gpse import crawl

    return crawl.CrawlCfg(
        corpus=corpus,
        batch_size=None,            # budget-bounded rounds (production shape)
        num_partitions=cores,
        n_bloom_buckets=cores,
        bloom_bits=1 << 20,
        seen_filter=shape.seen_filter,
        cuckoo_nbuckets=1 << 15,    # under 20% occupancy at the run's seen set
        corpus_bodies_path=origin,
        corpus_unique_captures=True,  # one capture per url in the origin
    )


def host_policy(spark, corpus, shape: Shape):
    from pyspark.sql import functions as F

    from gpse import robots, synth

    bodies = synth.gen_robots(spark, corpus)
    if shape.wildcard:
        host_id = F.regexp_extract("host", r"^h(\d+)\.", 1).cast("int")
        bodies = bodies.withColumn(
            "robots_body",
            F.when(host_id % 4 == 0, F.lit(WILDCARD_ROBOTS)).otherwise(F.col("robots_body")),
        )
    return robots.build_host_policy(bodies).withColumn(
        "budget_per_round", F.lit(shape.budget)
    )


def seed_frontier(corpus, shape: Shape, seed: int):
    """The pre-filled frontier as (url, priority) rows, built in numpy from
    the corpus's pure page-id functions, so seeding scans nothing.

    The share is taken per host (the same count per host for every seed),
    so the seed changes which URLs are queued and their priority bands but
    not how much work a round has: a run-to-run spread then measures the
    engine, not the luck of the draw on the zipf tail."""
    import numpy as np
    import pandas as pd

    from gpse import synth

    ids = np.arange(corpus.n_pages, dtype=np.uint64)
    salt = synth.mix64(np.array([seed], dtype=np.uint64), CORPUS_SEED, 101)[0]
    hosts = synth.host_of(ids, corpus)
    order = np.lexsort((synth.mix64(ids ^ salt, 0, 102), hosts))
    by_host = hosts[order]
    rank = np.arange(len(order)) - np.searchsorted(by_host, by_host, side="left")
    take = np.floor(np.bincount(hosts) * shape.prefill_permille / 1000 + 0.5)
    chosen = np.sort(order[rank < take[by_host]]).astype(np.uint64)
    prio = (
        np.zeros(len(chosen)) if shape.tied
        else (synth.mix64(chosen ^ salt, 0, 103) % np.uint64(6)).astype(np.float64)
    )
    return pd.DataFrame({"url": synth.url_of(chosen, corpus), "priority": prio})


def seed_crawl(spark, shape: Shape, cfg, corpus, seed: int, cat_dir: str):
    """Round-0 state: the seeded frontier, then the workload's host policy."""
    from gpse import crawl
    from gpse.catalog import Catalog

    cat = Catalog(cat_dir)
    seed_df = spark.createDataFrame(seed_frontier(corpus, shape, seed), "url string, priority double")
    crawl.init_crawl(spark, cat, cfg, seed_df=seed_df)
    cat.commit("host_policy", host_policy(spark, corpus, shape), 0, mode="overwrite")
    return cat


# ---- output checks (untimed) -------------------------------------------

def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def live_frontier(spark, cat, round_n: int):
    from pyspark.sql import functions as F

    return cat.load(spark, "frontier").filter(F.col("round") == round_n)


def table_stats(parts: dict) -> dict[str, dict]:
    """One job over several url_hash tables: per table its row count,
    duplicate url_hash count and the sums of its optional `a`/`b` columns.
    `parts` maps a name to a DataFrame with columns url_hash, a, b."""
    import functools

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    tagged = functools.reduce(
        DataFrame.unionByName,
        [df.select("url_hash", F.col("a").cast("long"), F.col("b").cast("long"),
                   F.lit(name).alias("t")) for name, df in parts.items()],
    )
    rows = tagged.groupBy("t").agg(
        F.count("*").alias("n"), F.countDistinct("url_hash").alias("d"),
        F.sum("a").alias("a"), F.sum("b").alias("b"),
    ).collect()
    out = {name: {"n": 0, "dups": 0, "a": 0, "b": 0} for name in parts}
    for row in rows:
        out[row["t"]] = {"n": row["n"], "dups": row["n"] - row["d"],
                         "a": row["a"] or 0, "b": row["b"] or 0}
    return out


def check_round(spark, cat, cfg, r: int, new_snaps: list[dict]) -> tuple[dict, dict, list[str]]:
    """Counts for round `r` from the committed tables, and the round's
    output checks. Returns (counts, row counts of seen set and live
    frontier, failures)."""
    import numpy as np
    from pyspark.sql import functions as F

    from gpse import robots, synth
    from gpse.extract import extract_one

    fail: list[str] = []
    zero = F.lit(0)
    q = cat.load(spark, "frontier", r).filter(F.col("round") == r).select("url_hash", "url", "host")
    nxt = live_frontier(spark, cat, r + 1).select("url_hash")
    pg = cat.load_delta(spark, "pages", r)
    seen = cat.load(spark, "seen_exact")
    stats = table_stats({
        "queued": q.select("url_hash", zero.alias("a"), zero.alias("b")),
        "pages": pg.select("url_hash", (F.col("status") == 200).alias("a"), F.col("n_links").alias("b")),
        "live frontier": nxt.select("url_hash", zero.alias("a"), zero.alias("b")),
        "seen_exact": seen.select("url_hash", (F.col("first_round") == r + 1).alias("a"), zero.alias("b")),
        # the links the round dedups: only their distinct count is used
        "candidates": pg.filter(F.col("depth") + 1 <= cfg.max_depth)
        .select(F.explode("links").alias("u"))
        .select(F.xxhash64("u").alias("url_hash"), zero.alias("a"), zero.alias("b")),
    })
    candidates = stats["candidates"]["n"] - stats.pop("candidates")["dups"]
    for name, st in stats.items():
        if st["dups"]:
            fail.append(f"round {r}: {st['dups']} duplicate url_hash in {name}")

    flags = (
        q.select("url_hash", "url", "host", F.lit(True).alias("q"))
        .join(pg.select("url_hash", F.lit(True).alias("s")), "url_hash", "full")
        .join(nxt.select("url_hash", F.lit(True).alias("n")), "url_hash", "full")
        .select(
            "url", "host",
            *(F.coalesce(F.col(c), F.lit(False)).alias(c) for c in ("q", "s", "n")),
        )
        .persist()
    )
    try:
        split = {
            (row["q"], row["s"], row["n"]): row["count"]
            for row in flags.groupBy("q", "s", "n").count().collect()
        }
        denied_rows = (
            flags.filter(F.col("q") & ~F.col("s") & ~F.col("n"))
            .select("url", "host").orderBy("url").limit(SAMPLE_ROWS).collect()
        )
    finally:
        flags.unpersist()
    count = lambda pred: sum(v for k, v in split.items() if pred(*k))  # noqa: E731
    queued = count(lambda q_, s, n: q_)
    scheduled = count(lambda q_, s, n: s)
    deferred = count(lambda q_, s, n: q_ and n and not s)
    denied = count(lambda q_, s, n: q_ and not s and not n)
    if count(lambda q_, s, n: s and not q_):
        fail.append(f"round {r}: fetched URLs that were not queued")
    if count(lambda q_, s, n: q_ and s and n):
        fail.append(f"round {r}: fetched URLs also deferred")
    if queued != scheduled + deferred + denied:
        fail.append(f"round {r}: queued {queued} != scheduled {scheduled} + deferred {deferred} + denied {denied}")

    # a sample of fetched pages: body and extraction against extract_one
    # on the origin's HTML (regenerated from the page id, as the origin
    # was), and the robots verdict; sampled denied rows must be disallowed
    sample = (
        pg.filter((F.col("status") == 200) & (F.pmod("url_hash", F.lit(97)) == 0))
        .select("url", "host", "html", "text", "links").orderBy("url").limit(SAMPLE_ROWS).collect()
    )
    for row in sample:
        page_id = synth.parse_canonical_url(row["url"])[1]
        body = synth.html_for(np.array([page_id], dtype=np.uint64), cfg.corpus)[0]
        if bytes(row["html"]) != body:
            fail.append(f"round {r}: fetched body of {row['url']} differs from the origin")
        elif extract_one(body, row["url"]) != (row["text"], list(row["links"])):
            fail.append(f"round {r}: extraction of {row['url']} differs from extract_one")
    rules = {
        row["host"]: (row["disallow"] or [], row["allow"] or [])
        for row in cat.load(spark, "host_policy").select("host", "disallow", "allow").collect()
    }
    for rows, want in ((sample, True), (denied_rows, False)):
        for row in rows:
            dis, alw = rules.get(row["host"], ([], []))
            if robots.path_allowed(urlsplit(row["url"]).path or "/", dis, alw) != want:
                fail.append(f"round {r}: robots verdict for {row['url']} should be {want}")

    written = {t: 0 for t in COMMITTED_TABLES}
    for snap in new_snaps:
        if snap["table"] in written and snap["data_dir"]:
            written[snap["table"]] += _dir_bytes(snap["data_dir"])
    n_pages, n_new = stats["pages"]["n"], stats["seen_exact"]["a"]
    counts = {
        "frontier.queued": queued,
        "frontier.scheduled": scheduled,
        "frontier.deferred": deferred,
        "frontier.denied": denied,
        "frontier.deferred_ratio": deferred / queued if queued else 0.0,
        "fetch.ok_ratio": stats["pages"]["a"] / n_pages if n_pages else 0.0,
        "extract.links_per_page": stats["pages"]["b"] / n_pages if n_pages else 0.0,
        "seen.candidates": candidates,
        "seen.new_ratio": n_new / candidates if candidates else 0.0,
        **{f"catalog.bytes_written.{t}": b for t, b in written.items()},
    }
    if counts["fetch.ok_ratio"] < 0.95:
        fail.append(f"round {r}: fetch.ok_ratio {counts['fetch.ok_ratio']:.3f} < 0.95")
    rows = {"seen": stats["seen_exact"]["n"], "live": stats["live frontier"]["n"]}
    return counts, rows, fail


def check_state(spark, cat, r: int, before: dict, expired: dict[int, dict] | None) -> list[str]:
    """After round `r`'s maintenance: seen set and live frontier unique,
    row counts as the maintenance promises, expired keys gone. `expired`
    maps each residue mod EXPIRE_MOD that was expired to expire_urls'
    result (None: nothing was expired)."""
    from pyspark.sql import functions as F

    fail: list[str] = []
    gone = F.pmod("url_hash", F.lit(EXPIRE_MOD)).isin(list(expired or [])).alias("a")
    stats = table_stats({
        "seen_exact": cat.load(spark, "seen_exact").select("url_hash", gone, F.lit(0).alias("b")),
        "live frontier": live_frontier(spark, cat, r + 1).select("url_hash", gone, F.lit(0).alias("b")),
    })
    for name, st in stats.items():
        if st["dups"]:
            fail.append(f"after maintenance {r}: {st['dups']} duplicate url_hash in {name}")
    after = {"seen": stats["seen_exact"]["n"], "live": stats["live frontier"]["n"]}
    if expired is None:
        if after != before:
            fail.append(f"after maintenance {r}: row counts {before} -> {after}")
    else:
        n_expired = sum(e["n_expired"] for e in expired.values())
        if any(e["n_expired"] == 0 for e in expired.values()):
            fail.append(f"after maintenance {r}: an expiry removed nothing")
        if after["seen"] != before["seen"] - n_expired:
            fail.append(f"after maintenance {r}: seen {before['seen']} - {n_expired} expired != {after['seen']}")
        if stats["seen_exact"]["a"] or stats["live frontier"]["a"]:
            fail.append(f"after maintenance {r}: expired keys still present")
    return fail


def seen_digest(spark, cat) -> tuple[int, str]:
    """Size and order-independent digest of the seen set."""
    from pyspark.sql import functions as F

    row = cat.load(spark, "seen_exact").agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64("url_hash").cast("decimal(38,0)")).alias("s"),
    ).first()
    return row["n"], f"{row['n']}:{row['s']}"


# ---- the run -------------------------------------------------------------

class Ops:
    """Timed operations of the closed loop, with their outcome."""

    def __init__(self) -> None:
        self.log: list[dict] = []

    def run(self, kind: str, name: str, fn, interval: int | None = None):
        rec = {"kind": kind, "name": name, "ok": True, "errors": [], "interval": interval}
        self.log.append(rec)
        mark("begin")
        t0 = time.perf_counter()
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - recorded as a failed op
            rec["ok"] = False
            rec["errors"].append(f"{type(e).__name__}: {e}")
            raise
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            mark("end")

    def fail(self, messages: list[str]) -> None:
        if messages:
            self.log[-1]["ok"] = False
            self.log[-1]["errors"].extend(messages)


def crawl_run(spark, shape: Shape, seed: int, seconds: float, scratch: str, work: str,
              tracer) -> dict:
    import bench
    from pyspark.sql import functions as F

    from gpse import crawl

    out: dict = {
        "stamp": bench._load_stamp(),
        # inputs besides the seed: runs agree on the seen set only if these do
        "inputs": repr((N_PAGES, N_HOSTS, CORPUS_SEED, MAINT_INTERVALS, shape)),
    }
    corpus = corpus_cfg()
    origin = ensure_origin(spark, corpus, work)
    cfg = crawl_cfg(shape, corpus, origin, spark.sparkContext.defaultParallelism)
    if tracer is not None:
        tracer.install()
    t0 = time.perf_counter()
    cat = seed_crawl(spark, shape, cfg, corpus, seed, os.path.join(scratch, "catalog"))
    out["seed_s"] = time.perf_counter() - t0

    ops, rounds, counts, stages = Ops(), [], [], []
    r = interval = 0
    try:
        while True:
            n_snaps = len(cat.snapshots())
            res = ops.run("round", f"round {r}", lambda: crawl.run_round(spark, cat, cfg, r))
            rounds.append({"wall_s": ops.log[-1]["wall_s"], "fetched": res["n_scheduled"]})
            stages.append(res["stage_s"])
            c, before, fail = check_round(spark, cat, cfg, r, cat.snapshots()[n_snaps:])
            counts.append(c)
            ops.fail(fail)
            expired = None if shape.maintenance == "rescore" else {}
            tables = ["frontier", "seen_exact", "seen_bloom"]
            if shape.maintenance == "rescore":
                tables.append("link_ranks")  # each rescore overwrites it
            for _ in range(MAINT_INTERVALS):
                i = interval
                if expired is None:
                    ops.run("maint", "rescore_frontier",
                            lambda: crawl.rescore_frontier(spark, cat, cfg, iterations=1), i)
                else:
                    # another residue each interval, so each expires as much
                    residue = i % EXPIRE_MOD
                    keys = cat.load(spark, "seen_exact").select("url_hash").filter(
                        F.pmod("url_hash", F.lit(EXPIRE_MOD)) == residue
                    )
                    expired[residue] = ops.run("maint", "expire_urls",
                                            lambda: crawl.expire_urls(spark, cat, cfg, keys), i)
                for table in ("frontier", "seen_exact"):
                    ops.run("maint", f"compact {table}", lambda: cat.compact(spark, table), i)
                for table in tables:
                    ops.run("maint", f"expire_snapshots {table}",
                            lambda: cat.expire_snapshots(table, keep_last=1), i)
                interval += 1
            ops.fail(check_state(spark, cat, r, before, expired))
            r += 1
            if sum(o["wall_s"] for o in ops.log) >= seconds:
                break
        out["seen_urls"], out["digest"] = seen_digest(spark, cat)
        out["stored_bytes"] = _dir_bytes(cat.base)
    except Exception as e:  # noqa: BLE001 - reported; run.py counts it failed
        out["aborted"] = f"{type(e).__name__}: {e}"
    finally:
        if tracer is not None:
            tracer.uninstall()
    out.update(ops=ops.log, rounds=rounds, counts=counts, stage_s=stages)
    return out


def layer_report(tracer, event_dir: str, stages: list[dict]) -> dict:
    """Per-layer metrics from the spans and the event log, and how the
    round's child spans line up with run_round's own stage_s."""
    from eventlog import layer_metrics, read_events, usage_by_description
    from tracer import ROUND

    layers = layer_metrics(tracer.spans, usage_by_description(read_events(event_dir)), SPAN_NAMES)
    rounds = [s for s in tracer.spans if s.name == ROUND]
    worst = 0.0
    for rs, st in zip(rounds, stages):
        walls = {s.name: s.end - s.start for s in tracer.spans if s.parent == rs.id}
        for label, span in STAGE_SPANS.items():
            worst = max(worst, abs(walls.get(span, 0.0) - st.get(label, 0.0)))
    return {"layers": layers, "stage_span_max_diff_s": worst}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--build-origin", action="store_true",
                    help="only build the origin cache, in a JVM of its own")
    a = ap.parse_args()
    sys.path.insert(0, ROOT)
    # bench.py's origin range knob: the origin covers the whole corpus
    os.environ["SPARK_GRAFT_CRAWL_FRONTIER"] = str(N_PAGES)
    import bench  # noqa: F401 - fail before starting a JVM if the engine is missing
    import gpse  # noqa: F401

    if a.build_origin:
        spark = make_session(task_slots(), os.path.join(a.scratch, "local"), None)
        try:
            ensure_origin(spark, corpus_cfg(), a.work)
        finally:
            spark.stop()
        print("@@result {}", flush=True)
        return

    event_dir = os.path.join(a.scratch, "eventlog") if a.trace else None
    if event_dir:
        os.makedirs(event_dir)
    t0 = time.perf_counter()
    spark = make_session(task_slots(), os.path.join(a.scratch, "local"), event_dir)
    session_s = time.perf_counter() - t0
    tracer = None
    if a.trace:
        from tracer import Tracer

        tracer = Tracer(spark.sparkContext)
    try:
        out = crawl_run(spark, WORKLOADS[a.workload], a.seed, a.seconds, a.scratch, a.work, tracer)
    finally:
        spark.sparkContext.setLogLevel("OFF")
        spark.stop()
    out["setup_s"] = session_s + out["seed_s"]
    if tracer is not None:
        out.update(layer_report(tracer, event_dir, out["stage_s"]))
    print("@@result " + json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
