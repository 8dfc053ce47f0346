"""Tests of the benchmark's own parts (no crawl engine run):

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

* the set-based reference crawl equals ``oracle_discover`` on small
  instances of both generators;
* the output check rejects a one-byte text change, a swapped visit order, a
  robots-disallowed visit and a broken per-host cap;
* the tracer reports a layer the workload must hit but that got no calls;
* the run waits for (and if need be kills) every process it started,
  orphans included;
* the metrics run.py prints carry the names and units BENCHMARK.json declares.
"""

import copy
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
for _p in (os.path.dirname(HERE), HERE):
    if _p not in sys.path:
        sys.path.insert(0, _p)

import corpora  # noqa: E402
import reference  # noqa: E402

SMALL_DENSE = {"DENSE_PAGES": 300, "DENSE_PRIVATE": 40, "DENSE_BULK": 30, "SEED_FANOUT": 12}


def small_web_fetch(seed):
    from crawl4ai_scraper_spark.fixtures.webgen import WebSpec, page_html

    spec = WebSpec(n_hosts=3, max_secs=4, max_pages=8, seed=seed)

    def fetch(url):
        html = page_html(spec, url)
        return None if html is None else html.encode("utf-8")

    return fetch


def facts_from(fetch, extract):
    return lambda urls: {u: reference.html_facts(u, fetch(u), extract) for u in urls}


@pytest.fixture
def small_dense(monkeypatch):
    for name, value in SMALL_DENSE.items():
        monkeypatch.setattr(corpora, name, value)
    return lambda url: corpora.dense_html(3, url)


@pytest.mark.parametrize("max_depth,max_pages", [(1, 1000), (2, 7), (2, 1000), (3, 23), (3, 40), (3, 1000)])
def test_reference_equals_oracle_on_webgen(max_depth, max_pages):
    from crawl4ai_scraper_spark.config import CrawlJobConfig
    from crawl4ai_scraper_spark.oracle import oracle_discover

    fetch = small_web_fetch(5)
    seed = "https://site0.example/"
    oracle = oracle_discover(fetch, seed, CrawlJobConfig(max_depth=max_depth, max_pages=max_pages))
    ref = reference.reference_crawl(facts_from(fetch, False), seed, max_depth, max_pages)
    assert ref["order"] == oracle.visit_order
    assert {u for u, _ in ref["order"]} == oracle.visited


@pytest.mark.parametrize("max_pages", [30, 150, 100000])
def test_reference_equals_oracle_on_dense(small_dense, max_pages):
    from crawl4ai_scraper_spark.config import CrawlJobConfig
    from crawl4ai_scraper_spark.oracle import oracle_discover

    seed = "https://dense0.example/p0"
    cfg = CrawlJobConfig(max_depth=3, max_pages=max_pages, include_external=True)
    oracle = oracle_discover(small_dense, seed, cfg)
    ref = reference.reference_crawl(facts_from(small_dense, False), seed, 3, max_pages,
                                    include_external=True)
    assert len(oracle.visit_order) > 20
    assert ref["order"] == oracle.visit_order


def engine_like(golden):
    """What a correct engine run hands the check (see run.collect_output)."""
    got = copy.deepcopy(golden)
    got["summary"] = dict(golden["summary"] or {})
    return got


def fused_golden():
    fetch = small_web_fetch(5)
    ref = reference.reference_crawl(facts_from(fetch, True), "https://site0.example/", 3, 1000)
    return reference.golden_from(ref, True), fetch


def test_check_accepts_identical_output():
    golden, _ = fused_golden()
    assert reference.check_output(golden, engine_like(golden)) == []


def test_check_rejects_one_byte_text_change():
    from crawl4ai_scraper_spark.kernel.extraction import extract_record

    golden, fetch = fused_golden()
    got = engine_like(golden)
    url = golden["order"][5][0]
    text = extract_record(url, fetch(url), corpora.RUN_TS_ISO)["markdown"]
    assert reference.sha256_text(text) == golden["text"][url]
    got["text"][url] = reference.sha256_text(text[:10] + chr(ord(text[10]) ^ 1) + text[11:])
    problems = reference.check_output(golden, got)
    assert problems and "text differs" in problems[0]


def test_check_rejects_swapped_visit_order():
    golden, _ = fused_golden()
    got = engine_like(golden)
    got["order"][3], got["order"][4] = got["order"][4], got["order"][3]
    problems = reference.check_output(golden, got)
    assert problems and "crawl order differs at visit 3" in problems[0]


def test_check_rejects_robots_and_cap_violations(small_dense):
    seed = "https://dense0.example/p0"
    rules = {corpora.DenseSpec.host(k): corpora.DISALLOW for k in range(corpora.DENSE_HOSTS)}
    disallowed = reference.robots_disallowed(rules)
    ref = reference.reference_crawl(facts_from(small_dense, False), seed, 3, 100000,
                                    include_external=True, cap=10, disallowed=disallowed)
    golden = reference.golden_from(ref, False)
    assert reference.check_output(golden, engine_like(golden), cap=10, disallowed=disallowed) == []
    assert reference.check_output(golden, engine_like(golden), cap=5, disallowed=disallowed)
    got = engine_like(golden)
    got["order"][-1] = ["https://dense0.example/private/p1", 3]
    assert any("robots" in p for p in reference.check_output(golden, got, disallowed=disallowed))


def test_tracer_reports_a_layer_it_could_not_wrap(monkeypatch):
    import importlib
    import types

    import tracing
    from crawl4ai_scraper_spark.plans import checkpoint, driver

    class FakeContext:
        def setJobGroup(self, *args):
            pass

        def setLocalProperty(self, *args):
            pass

    def stub(*args, **kwargs):
        return types.SimpleNamespace(state=lambda: b"")

    monkeypatch.delattr(driver, "add_to_bloom")  # as if a refactor renamed it
    attrs = [(importlib.import_module(f"crawl4ai_scraper_spark.{m}"), a) for m, a, _ in tracing.WRAPPED]
    attrs = [(mod, a) for mod, a in attrs if hasattr(mod, a)]
    for mod, a in attrs:
        monkeypatch.setattr(mod, a, stub)
    monkeypatch.setattr(checkpoint.RoundCommit, "finalize", stub)
    tracer = tracing.Tracer(FakeContext(), "t")
    tracer.install()
    try:
        with tracer.span(tracing.ROOT):
            for mod, a in attrs:
                getattr(mod, a)()
            checkpoint.RoundCommit.finalize(None)
    finally:
        tracer.uninstall()
    assert tracer.missing(tracing.EXPECTED["bfs_fused"]) == set()
    assert tracer.missing(tracing.EXPECTED["polite_dense"]) == {"plans.bloom.add"}


def test_metric_units_match_benchmark_json():
    import json

    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.UNITS
    for m in bench["per_layer"]:
        assert run.layer_unit(m["name"]) == m["unit"], m["name"]


def test_reap_children_stops_orphaned_descendants():
    import subprocess
    import textwrap

    # in a child interpreter: reap_children acts on every process below
    # the one that calls it
    script = textwrap.dedent("""
        import os, subprocess, sys
        sys.path.insert(0, sys.argv[1])
        import hostinfo, run
        run.become_subreaper()
        # the shell exits at once; its background sleep is orphaned and
        # re-parented to this process
        subprocess.run(["sh", "-c", "sleep 60 &"], check=True)
        assert hostinfo.descendants(os.getpid())
        run.reap_children(grace_s=0.2)
        assert hostinfo.descendants(os.getpid()) == []
    """)
    subprocess.run([sys.executable, "-c", script, HERE], check=True, timeout=60)
