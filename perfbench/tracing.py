"""Per-layer measurement from outside the program.

``Tracer`` wraps the public functions ``plans.driver`` and ``plans.frontier``
call (module attributes, restored on ``uninstall``). Each call becomes a
span: name, start, end, parent. While a span is open its Spark jobs run
under a job group naming the span path, so task metrics can be folded per
layer from the event log the traced session writes (``fold_event_log``);
jobs outside a span carry no group of the tracer's tag and are not counted.
The checkpoint writer's background threads get the group of the span that
submitted them, so the overlapped visited write never lands in the round
it overlaps.

Spans are lazy-plan honest: a function that only builds a DataFrame plan
shows its planning time; its jobs run inside whichever span forces them.

``micro_kernels`` times the Arrow round kernel and the kernel functions in-process
on a fixed page sample, the way a Python worker runs them.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from statistics import median
from typing import Callable, Dict, List, Optional, Tuple

# (module, attribute, span name) — every call the crawl loop makes into a layer
WRAPPED = [
    ("plans.driver", "run_round", "plans.frontier.run_round"),
    ("plans.frontier", "global_rank", "plans.ranking.global_rank"),
    ("plans.driver", "virtual_schedule", "plans.politeness.virtual_schedule"),
    ("plans.driver", "build_bloom", "plans.bloom.build"),
    ("plans.driver", "build_sharded_bloom", "plans.bloom.build"),
    ("plans.driver", "build_sharded_cuckoo", "plans.bloom.build"),
    ("plans.driver", "add_to_bloom", "plans.bloom.add"),
    ("plans.driver", "commit_round_start", "plans.checkpoint.commit_start"),
    ("plans.driver", "commit_round", "plans.checkpoint.commit"),
    ("plans.driver", "reset_checkpoint", "plans.checkpoint.reset"),
    ("plans.driver", "latest_round", "plans.checkpoint.read"),
    ("plans.driver", "load_manifest", "plans.checkpoint.read"),
    ("plans.driver", "read_frontier", "plans.checkpoint.read"),
    ("plans.driver", "read_enqueued", "plans.checkpoint.read"),
    ("plans.driver", "read_state", "plans.checkpoint.read"),
    ("plans.driver", "read_edges", "plans.checkpoint.read"),
    ("plans.driver", "frontier_rows", "plans.checkpoint.read"),
    ("plans.driver", "fused_documents", "plans.driver.documents"),
    ("plans.driver", "extract_pass", "plans.driver.documents"),
]
ROOT = "plans.driver.run_crawl"

# span names each workload's crawl must hit; a traced run in which one of
# them got no calls fails (bfs_fused builds no bloom filter, polite_dense
# extracts no documents)
_COMMON = {ROOT, "plans.frontier.run_round", "plans.ranking.global_rank",
           "plans.politeness.virtual_schedule", "plans.checkpoint.commit_start",
           "plans.checkpoint.finalize_wait", "plans.checkpoint.read"}
EXPECTED = {
    "bfs_fused": _COMMON | {"plans.driver.documents"},
    "polite_dense": _COMMON | {"plans.bloom.build", "plans.bloom.add"},
}


def _nbytes(obj) -> int:
    if hasattr(obj, "nbytes"):
        return int(obj.nbytes)
    if isinstance(obj, (bytes, bytearray)):
        return len(obj)
    if isinstance(obj, (list, tuple)):
        return sum(_nbytes(x) for x in obj)
    return 0


class Tracer:
    """Spans in memory; job groups on the Spark context."""

    def __init__(self, sc, tag: str):
        self.sc = sc
        self.tag = tag            # prefix of every job group this tracer sets
        self.spans: List[Tuple[str, str, float, float, int]] = []  # name, path, t0, t1, depth
        self.stack: List[str] = []
        self.filter_bytes = 0
        self._saved: List[Tuple[object, str, object]] = []

    def group(self) -> str:
        return "/".join([self.tag] + self.stack)

    @contextmanager
    def span(self, name: str):
        self.stack.append(name)
        self.sc.setJobGroup(self.group(), name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.spans.append((name, self.group(), t0, t1, len(self.stack)))
            self.stack.pop()
            self.sc.setJobGroup(self.group(), self.stack[-1] if self.stack else self.tag)

    def _wrap(self, fn: Callable, name: str) -> Callable:
        tracer = self

        def wrapped(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if name == "plans.bloom.build":
                tracer.filter_bytes = max(tracer.filter_bytes, _nbytes(out.state()))
            return out

        return wrapped

    def install(self) -> None:
        import importlib
        from concurrent.futures import ThreadPoolExecutor

        from crawl4ai_scraper_spark.plans import checkpoint

        # A name the program no longer has (a wrapped function, RoundCommit)
        # is skipped here; if its span is one the workload must hit,
        # ``missing`` reports it after the crawl.
        for mod_name, attr, name in WRAPPED:
            mod = importlib.import_module(f"crawl4ai_scraper_spark.{mod_name}")
            if hasattr(mod, attr):
                self._saved.append((mod, attr, getattr(mod, attr)))
                setattr(mod, attr, self._wrap(getattr(mod, attr), name))
        if not hasattr(checkpoint, "RoundCommit"):
            return

        tracer = self
        finalize = checkpoint.RoundCommit.finalize

        def timed_finalize(commit, *args, **kwargs):
            with tracer.span("plans.checkpoint.finalize_wait"):
                return finalize(commit, *args, **kwargs)

        self._saved.append((checkpoint.RoundCommit, "finalize", finalize))
        checkpoint.RoundCommit.finalize = timed_finalize

        class GroupedPool(ThreadPoolExecutor):
            """Runs each write under the submitting span's job group."""

            def submit(self, fn, *args, **kwargs):
                what = args[0] if args and isinstance(args[0], str) else "frontier"
                group = f"{tracer.group()}/write:{what}"
                sc = tracer.sc

                def run():
                    sc.setJobGroup(group, what)
                    return fn(*args, **kwargs)

                return super().submit(run)

        self._saved.append((checkpoint, "ThreadPoolExecutor", checkpoint.ThreadPoolExecutor))
        checkpoint.ThreadPoolExecutor = GroupedPool

    def uninstall(self) -> None:
        while self._saved:
            obj, attr, orig = self._saved.pop()
            setattr(obj, attr, orig)
        # later jobs of this thread are no longer the traced crawl's
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def missing(self, expected) -> set:
        """The span names in ``expected`` that no call opened."""
        return set(expected) - {name for name, *_ in self.spans}

    def totals(self) -> Dict[str, float]:
        """Seconds per span name (nested spans of one name counted once)."""
        out: Dict[str, float] = defaultdict(float)
        for name, path, t0, t1, _ in self.spans:
            if path.split("/")[1:-1].count(name) == 0:
                out[name] += t1 - t0
        return dict(out)

    def self_s(self, root_s: float) -> float:
        """Root wall time not covered by its direct child spans."""
        covered = sum(t1 - t0 for name, _, t0, t1, depth in self.spans if depth == 2)
        return root_s - covered


# --- event log ---------------------------------------------------------------

def event_log_conf(log_dir: str) -> Dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def fold_event_log(log_dir: str, tag: str) -> Dict[str, Dict[str, float]]:
    """Per job group (under ``tag``): jobs, task CPU seconds, shuffle bytes
    written, bytes spilled to disk. Read after the SparkContext stopped (the
    log is complete then)."""
    per: Dict[str, Dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        files = sorted(glob.glob(os.path.join(path, "*"))) if os.path.isdir(path) else [path]
        for fname in files:
            # one file per application; stage ids restart in each
            stage_group: Dict[int, str] = {}
            tasks = []
            with open(fname) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault(sid, group)
                        if group.startswith(tag):
                            per[group]["jobs"] += 1
                    elif kind == "SparkListenerTaskEnd":
                        tasks.append((ev["Stage ID"], ev.get("Task Metrics") or {}))
            for sid, m in tasks:
                group = stage_group.get(sid, "")
                if not group.startswith(tag):
                    continue
                agg = per[group]
                agg["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                agg["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                agg["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return {g: dict(v) for g, v in per.items()}


def sum_groups(folded: Dict[str, Dict[str, float]], contains: str) -> Dict[str, float]:
    """Totals over the job groups whose span path includes ``contains``
    (the span and every span nested in it)."""
    out: Dict[str, float] = defaultdict(float)
    for group, vals in folded.items():
        if contains in group.split("/"):
            for k, v in vals.items():
                out[k] += v
    return dict(out)


# --- in-process kernel timings --------------------------------------------------

def _per_page_us(fn: Callable[[], None], n_pages: int, reps: int = 3) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return median(times) / n_pages * 1e6


def micro_kernels(sample: List[Tuple[str, str, int, bytes]], max_depth: int,
                  extraction: Optional[dict]) -> Dict[str, float]:
    """``sample``: (url, host, depth, html) of fetched pages. Times
    ``functions.udfs.visit_and_expand`` on one Arrow-sized batch and the two
    kernel functions it calls per page; counts the values the kernel hands
    back across the Arrow boundary per page."""
    import pandas as pd

    from crawl4ai_scraper_spark.functions.udfs import visit_and_expand
    from crawl4ai_scraper_spark.kernel.cleaning import CleaningConfig
    from crawl4ai_scraper_spark.kernel.extraction import extract_record
    from crawl4ai_scraper_spark.kernel.htmlkit import decode_html, scan_links

    n = len(sample)
    pdf = pd.DataFrame({
        "url": [s[0] for s in sample], "host": [s[1] for s in sample],
        "depth": [s[2] for s in sample], "arrival_rank": list(range(1, n + 1)),
        "html": [s[3] for s in sample],
    })
    kernel = visit_and_expand(max_depth, extraction)
    values = []

    def expand():
        values.clear()
        for out in kernel(iter([pdf])):
            values.append(out.shape[0] * out.shape[1])

    cleaning = CleaningConfig.build(**(extraction or {}).get("cleaning", {}))
    return {
        "functions.udfs.visit_expand_us_per_page": _per_page_us(expand, n),
        "functions.udfs.values_out_per_page": sum(values) / n,
        "kernel.extract_record_us_per_page": _per_page_us(
            lambda: [extract_record(u, h, "2025-01-01T00:00:00", cleaning) for u, _, _, h in sample], n),
        "kernel.scan_links_us_per_page": _per_page_us(
            lambda: [scan_links(decode_html(h), u) for u, _, _, h in sample], n),
    }
