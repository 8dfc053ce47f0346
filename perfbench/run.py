#!/usr/bin/env python3
"""The crawl benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload bfs_fused --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads (inputs are generated from --seed):

* ``bfs_fused``: the reference-parity crawl. ``run_crawl`` in FIFO order,
  max_depth=3, fused extraction, default cleaning, seeded at site0 of the
  ``fixtures.webgen`` corpus. Per-page work is the Arrow expand + extract
  pass and the visited write.
* ``polite_dense``: discovery only (``extract=False``, ``max_depth=2``) over
  a link-dense generated graph, ``use_bloom=True``, priority order from
  ``operators.temporal.recrawl_priorities`` over a two-snapshot history, a
  per-host cap on new URLs per round, robots Disallow + Crawl-delay rules
  from ``politeness.rules_from_robots``, ``max_pages`` cutting the last level
  midway.

Both crawls are stopped after two rounds and finished with ``resume=True``;
the second call is ``resume_s``.

Each run, in one JVM: the golden is built once per seed (in a process
pool, no JVM) and cached under ``.perfbench/``; the input tables are
written in a throwaway session on every run, so every run's JVM has done
the same work before timing starts; the session is then set up three
times (``setup_s`` is the median); the crawl's first call (its first two
rounds) runs untimed to warm the JVM; then crawls are timed until ``--seconds`` have
passed (at least one). Every timed crawl is checked against the golden.
The driver heap has a fixed size (``-Xms`` = ``-Xmx``), so resident
memory does not follow the garbage collector's resizing.

``--trace 1`` instead runs, after the warm-up and in the same session (its
event log on since set-up), a traced crawl (layer entry points wrapped,
``tracing.py``) and then an untraced one. It prints the per-layer metrics
of the traced crawl and its overhead over the untraced one.

Every process the run starts is stopped and waited for before it prints
its result, on every path out of it (``reap_children``).

The last stdout line is the result: ``{"correct", "attempted", "failed",
"metrics"}``. The line before it records the run shape and host load.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import threading
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

WORKLOADS = ("bfs_fused", "polite_dense")
SETUP_REPS = 3
# Both crawls are stopped after KILL_AFTER rounds and finished by a
# resume=True call. The warm-up is that first call.
KILL_AFTER = 2
CRAWL_TIMEOUT_S = 120.0  # jobs are cancelled past this; the run then counts as failed

# polite_dense crawl shape: rounds of 1, ~670 and ~780 visits; the last is
# capped (1500 of ~5800 new URLs) and then cut midway by max_pages; ~26k links
# go through the frontier dedup
DENSE_SEED_URL = "https://dense0.example/p0"
DENSE_MAX_DEPTH = 2
DENSE_MAX_PAGES = 600
DENSE_CAP = 600
WEB_SEED_URL = "https://site0.example/"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return ap.parse_args(argv)


# --- run shape and Spark lifecycle --------------------------------------------

def run_shape():
    import hostinfo

    n = hostinfo.cores()
    return {"cores": n, "heap_gb": hostinfo.heap_gb(), "shuffle_partitions": n,
            "host_memory_gb": round(hostinfo.host_memory_gb(), 1)}


def build_spark(shape, event_log_dir=None):
    from crawl4ai_scraper_spark.session import build_session

    conf = {
        "spark.driver.memory": f"{shape['heap_gb']}g",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData "
            # a fixed-size heap: resident memory does not follow G1's resizing
            f"-Xms{shape['heap_gb']}g",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir is not None:
        import tracing

        conf.update(tracing.event_log_conf(event_log_dir))
    spark = build_session(app_name="perfbench", master=f"local[{shape['cores']}]",
                          shuffle_partitions=shape["shuffle_partitions"], extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants (a Python
    worker daemon whose JVM has exited), so ``reap_children`` can wait for
    every process the run started, wherever it was re-parented."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def reap_children(grace_s: float = 20.0) -> None:
    """Stop the multiprocessing resource tracker and wait until no process
    below this one is left; what outlives ``grace_s`` gets SIGTERM, then
    SIGKILL."""
    import signal
    from multiprocessing import resource_tracker

    import hostinfo

    resource_tracker._resource_tracker._stop()
    deadline, sig = time.monotonic() + grace_s, None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        left = hostinfo.descendants(os.getpid())
        if not left:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL if sig == signal.SIGTERM else signal.SIGTERM
            print(f"perfbench: {len(left)} processes left, sending {sig.name}", file=sys.stderr)
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)


def stop_jvm(spark) -> None:
    """Stop the session AND the JVM behind it, and wait for the JVM to exit
    (the next session then starts a fresh, cold JVM)."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def extraction_of(workload, cfg):
    """The fused-extraction spec run_crawl hands the round kernel (None when
    the crawl does not extract)."""
    from crawl4ai_scraper_spark.plans.driver import RUN_TS_ISO

    if workload != "bfs_fused":
        return None
    return {"cleaning": cfg.cleaning_kwargs(),
            "naming": (cfg.organization_strategy, cfg.naming_convention, RUN_TS_ISO),
            "patterns": cfg.patterns, "exclude_patterns": cfg.exclude_patterns}


def crawl_config(workload, shape):
    from crawl4ai_scraper_spark.config import CrawlJobConfig

    if workload == "bfs_fused":
        return CrawlJobConfig(max_depth=3, max_pages=10_000_000,
                              shuffle_partitions=shape["shuffle_partitions"])
    return CrawlJobConfig(max_depth=DENSE_MAX_DEPTH, max_pages=DENSE_MAX_PAGES, frontier_order="priority",
                          max_new_urls_per_host_round=DENSE_CAP, include_external=True,
                          shuffle_partitions=shape["shuffle_partitions"])


def setup(shape, workload, pages_path, cfg, event_log_dir=None):
    """Session build + pages open + Python-worker warm-up (one pass of the
    round kernel over a few pages on every core)."""
    from pyspark.sql import functions as F

    from crawl4ai_scraper_spark.functions.udfs import (
        VISIT_EXPAND_DOC_SCHEMA, VISIT_EXPAND_SCHEMA, visit_and_expand)
    from crawl4ai_scraper_spark.sources.pages import read_pages

    t0 = time.perf_counter()
    spark = build_spark(shape, event_log_dir)
    t1 = time.perf_counter()
    pages = read_pages(spark, pages_path)
    t2 = time.perf_counter()
    extraction = extraction_of(workload, cfg)
    n = shape["cores"]
    (pages.limit(4 * n)
     .select("url", F.lit("h").alias("host"), F.lit(0).alias("depth"),
             F.lit(1).cast("long").alias("arrival_rank"), "html")
     .repartition(n)
     .mapInPandas(visit_and_expand(cfg.max_depth, extraction),
                  VISIT_EXPAND_DOC_SCHEMA if extraction else VISIT_EXPAND_SCHEMA)
     .count())
    t3 = time.perf_counter()
    return spark, pages, {"setup_s": t3 - t0, "session.build_s": t1 - t0,
                          "sources.read_pages_s": t2 - t1}


def setup_reps(shape, workload, pages_path, cfg, event_log_dir=None):
    """SETUP_REPS set-ups in one JVM; the last session stays up."""
    spark, times = None, []
    for _ in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        spark, pages, t = setup(shape, workload, pages_path, cfg, event_log_dir)
        times.append(t)
    return spark, pages, times


# --- inputs and goldens ------------------------------------------------------------

def write_signals(spark, pages_path, d):
    """polite_dense's inputs besides pages, under ``d``: the recrawl priority
    signal (two snapshots a day apart, every fifth URL changed) and the host
    rules parsed from the stored robots.txt bodies. Neither depends on the
    seed (the URL list and the robots bodies do not), so they are built once."""
    from pyspark.sql import functions as F

    import corpora
    from crawl4ai_scraper_spark.operators.temporal import recrawl_priorities
    from crawl4ai_scraper_spark.plans.politeness import rules_from_robots
    from crawl4ai_scraper_spark.sources.pages import read_pages

    changed = corpora.changed_urls()
    base = spark.createDataFrame([(u, u in changed) for u in corpora.dense_urls()],
                                 "url string, _changed boolean")
    day1, day2 = F.to_timestamp(F.lit("2025-01-01 00:00:00")), F.to_timestamp(F.lit("2025-01-02 00:00:00"))
    history = base.select("url", day1.alias("ts"), F.lit("A").alias("body")).unionByName(
        base.select("url", day2.alias("ts"),
                    F.when(F.col("_changed"), F.lit("B")).otherwise(F.lit("A")).alias("body")))
    recrawl_priorities(history, "url", "ts", "body").filter(F.col("priority") > 0) \
        .write.mode("overwrite").parquet(os.path.join(d, "priority"))
    rules_from_robots(read_pages(spark, pages_path)) \
        .write.mode("overwrite").parquet(os.path.join(d, "host_rules"))
    with open(os.path.join(d, "_DONE"), "w") as fh:
        fh.write("done")


def dense_signals(spark, d):
    """(priority, host_rules) of polite_dense from ``d``, read and persisted."""
    out = tuple(spark.read.parquet(os.path.join(d, name)).persist()
                for name in ("priority", "host_rules"))
    for df in out:
        df.count()
    return out


def robots_prefixes():
    import corpora

    return {corpora.DenseSpec.host(k): corpora.DISALLOW for k in range(corpora.DENSE_HOSTS)}


def build_golden(pool, workload, seed, cfg):
    import corpora
    import reference

    extract = workload == "bfs_fused"
    kwargs = {}
    seed_url = WEB_SEED_URL
    if workload == "polite_dense":
        # recrawl_priorities over the two snapshots: changes_per_day = 1.0
        # for a URL that changed between them, 0 (left out) otherwise
        kwargs = {"priority": dict.fromkeys(corpora.changed_urls(), 1.0),
                  "cap": cfg.max_new_urls_per_host_round, "include_external": True,
                  "disallowed": reference.robots_disallowed(robots_prefixes())}
        seed_url = DENSE_SEED_URL
    ref = reference.reference_crawl(reference.pool_facts(pool, workload, seed, extract),
                                    seed_url, cfg.max_depth, cfg.max_pages, **kwargs)
    return reference.golden_from(ref, extract)


def golden_key(cfg):
    """Cache key of a seed's golden: the generator and reference sources and
    the crawl config, so a change to any of them rebuilds it."""
    import hashlib
    from dataclasses import asdict

    h = hashlib.sha1(json.dumps(asdict(cfg), sort_keys=True).encode())
    for name in ("corpora.py", "reference.py"):
        with open(os.path.join(HERE, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def signals_dir(cfg):
    return os.path.join(WORK, f"signals-{golden_key(cfg)}")


def inputs(shape, workload, seed, cfg, d):
    """Write the run's pages table to ``d/pages`` and return the golden. The
    pages are rendered in a process pool while the JVM starts and written on
    every run, so every run's JVM has done the same work before timing
    starts; the golden is built in the same pool, while Spark writes the
    pages, once per seed and cached. Returns (spark, golden): the JVM stays
    up, its session stopped."""
    import multiprocessing
    from concurrent.futures import ThreadPoolExecutor

    import corpora

    path = os.path.join(WORK, "golden", f"{workload}-{seed}-{golden_key(cfg)}.json")

    def golden_file(pool):
        if not os.path.exists(path):
            with open(path + ".tmp", "w") as fh:
                json.dump(build_golden(pool, workload, seed, cfg), fh)
            os.replace(path + ".tmp", path)

    with multiprocessing.get_context("spawn").Pool(shape["cores"]) as pool:
        rendering = pool.map_async(corpora.render_shard, corpora.shards(workload, seed))
        spark = build_spark(shape)
        try:
            rows = [row for part in rendering.get() for row in part]
            with ThreadPoolExecutor(1) as golden_thread:
                building = golden_thread.submit(golden_file, pool)
                corpora.write_pages(spark, rows, os.path.join(d, "pages"))
                signals = signals_dir(cfg)
                if workload == "polite_dense" and not os.path.exists(os.path.join(signals, "_DONE")):
                    write_signals(spark, os.path.join(d, "pages"), signals)
                building.result()
        finally:
            spark.stop()
        pool.close()
        pool.join()
    with open(path) as fh:
        return spark, json.load(fh)


# --- one crawl, timed ----------------------------------------------------------

def manifests(chk):
    """{round: path of its manifest} for the committed rounds."""
    out = {}
    for name in os.listdir(chk):
        path = os.path.join(chk, name, "manifest.json")
        if name.startswith("round=") and os.path.exists(path):
            out[int(name.split("=")[1])] = path
    return out


def round_seconds(chk, calls):
    """Per-round wall time from the commit times of the round manifests; the
    first round of a resumed call counts from the call's start."""
    times = {rnd: os.stat(p).st_mtime for rnd, p in manifests(chk).items()}
    out = []
    for start, end in calls:
        prev = start
        for rnd in sorted(times):
            if start <= times[rnd] <= end:
                if rnd > 0:
                    out.append(times[rnd] - prev)
                prev = times[rnd]
    return out


def dir_bytes(path):
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def collect_output(res, fused):
    from pyspark.sql import functions as F

    cols = ["url", "depth", "seq", "round"]
    if fused:
        cols.append(F.when(F.col("matched"), F.sha2(F.col("markdown"), 256)).alias("digest"))
    rows = res.visited.select(*cols).orderBy("seq").collect()
    got = {"order": [[r["url"], r["depth"]] for r in rows],
           "rounds": [r["round"] for r in rows],
           "text": {r["url"]: r["digest"] for r in rows if fused and r["digest"] is not None},
           "summary": {k: v for k, v in res.summary.items()
                       if k in ("total_urls", "successful", "failed", "total_content_length")}}
    return got


def crawl_calls(workload, inputs):
    """(the killed call's run_crawl kwargs, the resume call's, seed URL)."""
    import corpora

    if workload == "bfs_fused":
        common, seed_url = dict(n_buckets=corpora.N_BUCKETS), WEB_SEED_URL
    else:
        prio, rules = inputs
        common = dict(n_buckets=corpora.N_BUCKETS, host_rules=rules, extract=False,
                      use_bloom=True, priority_col=prio)
        seed_url = DENSE_SEED_URL
    return dict(common, max_rounds=KILL_AFTER), dict(common, resume=True), seed_url


def warm_up(spark, pages, workload, cfg, chk, inputs):
    """Untimed and unchecked: the crawl's first call (its first KILL_AFTER
    rounds), so the measured crawls run in a JIT-warm JVM (the first crawl
    in a JVM took 22-28 s, later ones 14-19 s)."""
    from crawl4ai_scraper_spark.plans import driver

    first, _, seed_url = crawl_calls(workload, inputs)
    shutil.rmtree(chk, ignore_errors=True)
    driver.run_crawl(spark, pages, seed_url, cfg, chk, **first)


def crawl_once(spark, pages, workload, cfg, chk, inputs, around=None):
    """One measured crawl, stopped after KILL_AFTER rounds and finished with
    resume=True; both calls are timed. ``around`` wraps each run_crawl
    call."""
    import hostinfo
    from contextlib import nullcontext

    from crawl4ai_scraper_spark.plans import driver

    around = around or nullcontext
    calls = crawl_calls(workload, inputs)
    seed_url = calls[2]
    shutil.rmtree(chk, ignore_errors=True)
    me = os.getpid()
    rss = hostinfo.PeakRss(me).start()
    cpu0 = hostinfo.tree_cpu_s(me)
    timer = threading.Timer(CRAWL_TIMEOUT_S, spark.sparkContext.cancelAllJobs)
    timer.start()
    try:
        stamps = [(time.time(), time.perf_counter())]
        for kwargs in calls[:2]:
            with around():
                res = driver.run_crawl(spark, pages, seed_url, cfg, chk, **kwargs)
            stamps.append((time.time(), time.perf_counter()))
        cpu1, peak = hostinfo.tree_cpu_s(me), rss.stop()
    finally:
        timer.cancel()
        rss.stop()
    out = collect_output(res, workload == "bfs_fused")
    return {
        "crawl_s": stamps[-1][1] - stamps[0][1],
        "resume_s": stamps[2][1] - stamps[1][1],
        "rounds": round_seconds(chk, [(a[0], b[0]) for a, b in zip(stamps, stamps[1:])]),
        "cpu_s": cpu1 - cpu0, "peak_rss": peak, "visited": len(out["order"]),
        "extracted": res.summary.get("successful", 0), "chk_bytes": dir_bytes(chk),
    }, out


def check(golden, got, workload, cfg):
    import reference

    problems = []
    if workload == "bfs_fused":
        problems += reference.check_output(golden, got)
    else:
        problems += reference.check_output(
            golden, got, cap=cfg.max_new_urls_per_host_round,
            disallowed=reference.robots_disallowed(robots_prefixes()))
    for p in problems:
        print(f"perfbench: output check failed: {p}", file=sys.stderr)
    return not problems


# --- per-layer (traced) run -------------------------------------------------------

def checkpoint_layer_bytes(chk):
    import glob

    return {
        "plans.checkpoint.bytes.frontier": sum(dir_bytes(p) for p in glob.glob(os.path.join(chk, "round=*", "frontier"))),
        "plans.checkpoint.bytes.visited": dir_bytes(os.path.join(chk, "state", "visited")),
        "plans.checkpoint.bytes.lineage": dir_bytes(os.path.join(chk, "state", "lineage")),
    }


def new_per_link(chk):
    out_n = links = 0
    for path in manifests(chk).values():
        with open(path) as fh:
            counts = json.load(fh).get("counts") or {}
        out_n += counts.get("frontier_out") or 0
        links += counts.get("links_total") or 0
    return out_n / links if links else 0.0


def replay_virtual_schedule(spark, chk, host_rules, cfg):
    """Seconds to run plans.politeness.virtual_schedule over each committed
    round's visits (its shuffles run inside the overlapped visited write
    during the crawl, where no span can isolate them)."""
    from pyspark.sql import functions as F

    from crawl4ai_scraper_spark.plans.checkpoint import latest_round, read_state
    from crawl4ai_scraper_spark.plans.politeness import virtual_schedule

    last = latest_round(chk)
    visited = read_state(spark, chk, "visited", last)
    total = 0.0
    for rnd in range(1, last + 1):
        visits = visited.filter(F.col("round") == rnd).drop("sched_ts", "round")
        t0 = time.perf_counter()
        virtual_schedule(visits, host_rules, cfg.delay_between_requests, 0.0) \
            .write.format("noop").mode("overwrite").save()
        total += time.perf_counter() - t0
    return total


def kernel_sample(workload, seed, golden, size=200):
    """The first ``size`` fetched pages of the golden crawl order."""
    import corpora

    fetch = corpora.fetch_for(workload)
    out = []
    for url, depth in golden["order"]:
        html = fetch(seed, url)
        if html is not None:
            out.append((url, url.split("/")[2], depth, html))
        if len(out) == size:
            break
    return out


def crawl_series(spark, pages, workload, cfg, chk, inputs, golden, seconds=0.0, around=None,
                 label="crawl"):
    """Crawls until ``seconds`` have passed (at least one), each checked
    against the golden. Returns (runs, attempted, failed); a crawl that
    raises or is cancelled ends the series."""
    runs, attempted, failed = [], 0, 0
    started = time.perf_counter()
    while not runs or time.perf_counter() - started < seconds:
        attempted += 1
        try:
            run, got = crawl_once(spark, pages, workload, cfg, chk, inputs, around)
        except Exception as exc:  # a crawl that raises or is cancelled is a failed run
            print(f"perfbench: {label} failed: {exc!r}", file=sys.stderr)
            return runs, attempted, failed + 1
        if not check(golden, got, workload, cfg):
            failed += 1
        print(f"perfbench: {label} {attempted}: {run['crawl_s']:.2f} s, rounds "
              f"{[round(x, 2) for x in run['rounds']]}", file=sys.stderr)
        runs.append(run)
    return runs, attempted, failed


def traced_run(spark, pages, workload, seed, cfg, signals, golden, setups, log_dir):
    """After the warm-up, in the same session (its event log on since
    set-up): a traced crawl (layer entry points wrapped, jobs tagged with
    span job groups), then an untraced one. Returns (attempted, failed,
    per-layer metrics of the traced crawl). The overhead is the traced
    crawl's time over the untraced one's; the JVM still gains a little
    speed from crawl to crawl, so the order overstates it rather than
    hiding it."""
    import tracing

    tag = f"perfbench-{workload}"
    chk = os.path.join(WORK, "chk", workload)
    chk_traced = os.path.join(WORK, "chk", f"{workload}-traced")
    tracer = tracing.Tracer(spark.sparkContext, tag)
    attempted = failed = 0
    crawls = {}
    for label in ("traced", "untraced"):
        traced = label == "traced"
        if traced:
            tracer.install()
        try:
            runs, n_att, n_fail = crawl_series(
                spark, pages, workload, cfg, chk_traced if traced else chk, signals, golden,
                around=(lambda: tracer.span(tracing.ROOT)) if traced else None, label=label)
        finally:
            if traced:
                tracer.uninstall()
        attempted, failed = attempted + n_att, failed + n_fail
        if not runs:
            return attempted, failed, {}
        crawls[label] = runs[0]
    missing = tracer.missing(tracing.EXPECTED[workload])
    if missing:
        # a layer the workload must hit got no calls: the program no longer
        # has (or no longer calls) the wrapped entry point, and a 0 would
        # read as a gain
        print(f"perfbench: no calls traced for {sorted(missing)}; update tracing.WRAPPED",
              file=sys.stderr)
        failed += 1
    vs_s = replay_virtual_schedule(spark, chk_traced, signals[1] if signals else None, cfg)
    spark.stop()  # completes the event log; the JVM stays up
    run = crawls["traced"]
    tot = tracer.totals()
    folded = tracing.fold_event_log(log_dir, tag)
    rr = tracing.sum_groups(folded, "plans.frontier.run_round")
    jobs = sum(v.get("jobs", 0) for v in folded.values())
    metrics = {
        "plans.frontier.run_round_s": tot.get("plans.frontier.run_round", 0.0),
        "plans.frontier.run_round.task_cpu_s": rr.get("task_cpu_s", 0.0),
        "plans.frontier.run_round.shuffle_write_bytes": rr.get("shuffle_write_bytes", 0.0),
        "plans.frontier.run_round.spill_bytes": rr.get("spill_bytes", 0.0),
        "plans.frontier.new_per_link": new_per_link(chk_traced),
        "plans.bloom.build_s": tot.get("plans.bloom.build", 0.0),
        "plans.bloom.add_s": tot.get("plans.bloom.add", 0.0),
        "plans.bloom.filter_bytes": tracer.filter_bytes,
        "plans.ranking.global_rank_s": tot.get("plans.ranking.global_rank", 0.0),
        "plans.driver.jobs_per_round": jobs / max(1, len(run["rounds"])),
        "plans.politeness.virtual_schedule_s": vs_s,
        "plans.checkpoint.commit_start_s": tot.get("plans.checkpoint.commit_start", 0.0),
        "plans.checkpoint.finalize_wait_s": tot.get("plans.checkpoint.finalize_wait", 0.0),
        "plans.checkpoint.read_s": tot.get("plans.checkpoint.read", 0.0),
        "plans.driver.documents_s": tot.get("plans.driver.documents", 0.0),
        "plans.driver.self_s": tracer.self_s(tot.get(tracing.ROOT, 0.0)),
        "session.build_s": median(s["session.build_s"] for s in setups),
        "sources.read_pages_s": median(s["sources.read_pages_s"] for s in setups),
        "trace.overhead_s": run["crawl_s"] - crawls["untraced"]["crawl_s"],
    }
    metrics.update(checkpoint_layer_bytes(chk_traced))
    metrics.update(tracing.micro_kernels(kernel_sample(workload, seed, golden),
                                         cfg.max_depth, extraction_of(workload, cfg)))
    return attempted, failed, metrics


# --- main -------------------------------------------------------------------------

UNITS = {"crawl_s": "s", "urls_per_s": "1/s", "round_s.p50": "s", "round_s.max": "s",
         "resume_s": "s", "setup_s": "s", "cpu_ms_per_page": "ms", "peak_rss_mb": "MB",
         "chk_bytes_per_page": "B"}


def layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_us_per_page"):
        return "us"
    if "bytes" in name:
        return "B"
    return "count" if name.endswith(("per_round", "per_page")) else "ratio"


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    if not os.path.isfile(os.path.join(ROOT, "crawl4ai_scraper_spark", "__init__.py")):
        print(f"perfbench: no crawl4ai_scraper_spark package under {ROOT}", file=sys.stderr)
        return 2
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)
    for sub in ("tmp", "spark-local", "inputs", "golden", "chk"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    become_subreaper()
    # a SIGTERM ends the run through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    import hostinfo

    shape = run_shape()
    load0, jif0 = hostinfo.loadavg(), hostinfo.cpu_jiffies()
    cfg = crawl_config(args.workload, shape)
    input_dir = os.path.join(WORK, "inputs", args.workload)
    pages_path = os.path.join(input_dir, "pages")
    log_dir = None
    if args.trace:
        log_dir = os.path.join(WORK, "eventlog")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
    spark = None
    metrics, runs, attempted, failed = {}, [], 0, 0
    try:
        t_inputs = time.perf_counter()
        spark, golden = inputs(shape, args.workload, args.seed, cfg, input_dir)
        shape["inputs_s"] = round(time.perf_counter() - t_inputs, 1)
        spark, pages, setups = setup_reps(shape, args.workload, pages_path, cfg, log_dir)
        signals = dense_signals(spark, signals_dir(cfg)) if args.workload == "polite_dense" else None
        chk = os.path.join(WORK, "chk", args.workload)
        t_warm = time.perf_counter()
        warm_up(spark, pages, args.workload, cfg, chk, signals)
        shape["warmup_s"] = round(time.perf_counter() - t_warm, 1)
        if args.trace:
            attempted, failed, layer = traced_run(spark, pages, args.workload, args.seed, cfg,
                                                  signals, golden, setups, log_dir)
            metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layer.items()}
        else:
            runs, attempted, failed = crawl_series(spark, pages, args.workload, cfg, chk, signals,
                                                   golden, seconds=args.seconds)
        if runs:
            values = {
                "crawl_s": median(r["crawl_s"] for r in runs),
                "urls_per_s": median((r["visited"] + r["extracted"]) / r["crawl_s"] for r in runs),
                "round_s.p50": median(s for r in runs for s in r["rounds"]),
                "round_s.max": median(max(r["rounds"]) for r in runs),
                "resume_s": median(r["resume_s"] for r in runs),
                "setup_s": median(s["setup_s"] for s in setups),
                "cpu_ms_per_page": median(1000 * r["cpu_s"] / r["visited"] for r in runs),
                "peak_rss_mb": median(r["peak_rss"] / 2 ** 20 for r in runs),
                "chk_bytes_per_page": median(r["chk_bytes"] / r["visited"] for r in runs),
            }
            metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in values.items()}
    finally:
        try:
            stop_jvm(spark)
        finally:
            reap_children()

    shape.update(workload=args.workload, seed=args.seed, trace=args.trace,
                 loadavg_before=load0, loadavg_after=hostinfo.loadavg(),
                 steal_frac=round(hostinfo.steal_frac(jif0, hostinfo.cpu_jiffies()), 4),
                 crawls=len(runs), visited=runs[0]["visited"] if runs else 0,
                 run_wall_s=round(time.perf_counter() - t_start, 1))
    print(json.dumps({"run_shape": shape}))
    print(json.dumps({"correct": failed == 0 and bool(metrics), "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
