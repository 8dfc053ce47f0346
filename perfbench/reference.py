"""Golden crawl results and the output check every run must pass.

``reference_crawl`` is a sequential, set-based model of the engine's
frontier, one BFS level at a time:

* FIFO order, no per-host cap and no robots rules: the same visit order and
  seen set as ``oracle.simulator.oracle_discover``. The oracle tests queue
  membership with a list scan, O(n^2) in the queue length; here an
  ever-enqueued set does it in O(1) (``test_perfbench.py`` checks the two
  agree on small instances of both generators).
* Priority order, per-host cap on new enqueues, robots disallow prefixes:
  the frontier rules the engine documents (``plans.frontier``): children
  ordered by (priority desc, parent seq, link position), the cap keeps each
  host's first ``cap`` new URLs in first-appearance order, robots prune
  candidates before the first-appender dedup. No oracle models these, so
  for the killed-and-resumed crawl this model is the uninterrupted crawl
  the resumed one must equal.

Links use the oracle's parser (``kernel.htmlkit.extract_links``); text uses
``kernel.extraction.extract_record``. Page facts are computed level by
level in a small process pool.
"""

from __future__ import annotations

import hashlib
from typing import Callable, Dict, List, Optional, Sequence, Tuple
from urllib.parse import urlparse

from corpora import RUN_TS_ISO, fetch_for


def sha256_text(text: Optional[str]) -> Optional[str]:
    return None if text is None else hashlib.sha256(text.encode("utf-8")).hexdigest()


def html_facts(url: str, html: Optional[bytes], extract: bool) -> Tuple[bool, List[str], Optional[str], int]:
    """(fetched, internal child URLs in link order, sha256 of the extracted
    text, text length) of one stored page, by the oracle's parser and the
    shared extraction kernel."""
    from crawl4ai_scraper_spark.kernel.cleaning import CleaningConfig
    from crawl4ai_scraper_spark.kernel.extraction import extract_record
    from crawl4ai_scraper_spark.kernel.htmlkit import extract_links
    from crawl4ai_scraper_spark.kernel.urls import canon_url

    if html is None:
        return False, [], None, 0
    links = [canon_url(l["href"], url)
             for l in extract_links(html.decode("utf-8", errors="replace"), url)
             if l["is_internal"] and l["href"]]
    digest, length = None, 0
    if extract:
        rec = extract_record(url, html, RUN_TS_ISO, CleaningConfig.build())
        digest, length = sha256_text(rec["markdown"]), rec["content_length"]
    return True, links, digest, length


def page_facts(task: Tuple[str, int, str, bool]) -> Tuple[bool, List[str], Optional[str], int]:
    """``html_facts`` of (workload, seed, url, extract). Pool task."""
    workload, seed, url, extract = task
    return html_facts(url, fetch_for(workload)(seed, url), extract)


def robots_disallowed(prefixes: Dict[str, Sequence[str]]) -> Callable[[str], bool]:
    """Literal Disallow prefixes per host, matched against path+query the way
    ``plans.politeness.robots_filter`` strips ``scheme://host``."""
    def disallowed(url: str) -> bool:
        p = urlparse(url)
        rest = url.split(p.netloc, 1)[1] if p.netloc else url
        return any(rest.startswith(x) for x in prefixes.get(p.netloc, ()))
    return disallowed


def reference_crawl(
    facts_of: Callable[[List[str]], Dict[str, tuple]],
    seed_url: str,
    max_depth: int,
    max_pages: int,
    include_external: bool = False,
    priority: Optional[Dict[str, float]] = None,
    cap: int = 0,
    disallowed: Optional[Callable[[str], bool]] = None,
) -> Dict:
    """Level-synchronous reference crawl. ``facts_of(urls)`` maps each URL to
    its ``html_facts``. Returns the visit order [(url, depth)], the round
    of each visit, and the facts of every visited URL."""
    seed_domain = urlparse(seed_url)[:2]
    frontier: List[Tuple[str, int]] = [(seed_url, 0)]
    enqueued = {seed_url}
    order: List[Tuple[str, int]] = []
    rounds: List[int] = []
    facts: Dict[str, tuple] = {}
    discovered = 0
    rnd = 1
    while frontier and discovered < max_pages:
        facts.update(facts_of([u for u, _ in frontier]))
        candidates = []  # (parent seq, link pos, child, child depth), in order
        truncated = False
        for url, depth in frontier:
            order.append((url, depth))
            rounds.append(rnd)
            ok, links, _, _ = facts[url]
            if ok:
                discovered += 1
                if depth < max_depth:
                    seq = len(order)
                    candidates += [(seq, pos, child, depth + 1) for pos, child in enumerate(links)]
            if discovered >= max_pages:
                truncated = True
                break
        if truncated:
            break
        first: Dict[str, tuple] = {}
        for cand in candidates:
            child = cand[2]
            if child in first:
                continue
            if not include_external and urlparse(child)[:2] != seed_domain:
                continue
            if disallowed is not None and disallowed(child):
                continue
            first[child] = cand
        survivors = [c for c in first.values() if c[2] not in enqueued]
        if cap:
            per_host: Dict[str, int] = {}
            kept = []
            for c in survivors:
                host = urlparse(c[2]).netloc
                if per_host.get(host, 0) < cap:
                    per_host[host] = per_host.get(host, 0) + 1
                    kept.append(c)
            survivors = kept
        if priority is not None:
            survivors.sort(key=lambda c: (-priority.get(c[2], 0.0), c[0], c[1]))
        enqueued.update(c[2] for c in survivors)
        frontier = [(c[2], c[3]) for c in survivors]
        rnd += 1
    return {"order": order, "rounds": rounds, "facts": {u: facts[u] for u, _ in order}}


def pool_facts(pool, workload: str, seed: int, extract: bool):
    """``facts_of`` for reference_crawl, computed in a process pool."""
    def facts_of(urls: List[str]) -> Dict[str, tuple]:
        tasks = [(workload, seed, u, extract) for u in urls]
        return dict(zip(urls, pool.map(page_facts, tasks, chunksize=max(1, len(tasks) // 16))))
    return facts_of


def golden_from(ref: Dict, extract: bool) -> Dict:
    """The JSON-able golden: order, per-visit rounds, text digests, summary."""
    order = [[u, d] for u, d in ref["order"]]
    text = {u: f[2] for u, f in ref["facts"].items() if f[0]} if extract else {}
    summary = None
    if extract:
        ok = [f for f in ref["facts"].values() if f[0]]
        summary = {"total_urls": len(ok), "successful": len(ok), "failed": 0,
                   "total_content_length": sum(f[3] for f in ok)}
    return {"order": order, "rounds": ref["rounds"], "text": text, "summary": summary}


def check_output(golden: Dict, got: Dict, cap: int = 0,
                 disallowed: Optional[Callable[[str], bool]] = None) -> List[str]:
    """Every way ``got`` (the engine's output, collected) differs from the
    golden; an empty list means the run is correct.

    ``got``: ``order`` [[url, depth]] by seq, ``rounds`` per visit,
    ``text`` {url: sha256 of markdown} (fused crawls), ``summary``."""
    problems = []
    g_order = [tuple(x) for x in golden["order"]]
    o_order = [tuple(x) for x in got["order"]]
    if o_order != g_order:
        at = next(i for i, (a, b) in enumerate(zip(o_order + [None], g_order + [None])) if a != b)
        problems.append(f"crawl order differs at visit {at}: got {o_order[at:at + 1]}, "
                        f"want {g_order[at:at + 1]} ({len(o_order)} vs {len(g_order)} visits)")
    g_seen, o_seen = {u for u, _ in g_order}, {u for u, _ in o_order}
    if o_seen != g_seen:
        problems.append(f"seen set differs: {len(o_seen - g_seen)} extra, {len(g_seen - o_seen)} missing")
    if golden["text"] or got.get("text"):
        bad = [u for u, h in golden["text"].items() if got["text"].get(u) != h]
        extra = set(got["text"]) - set(golden["text"])
        if bad or extra:
            problems.append(f"text differs for {len(bad)} urls (e.g. {bad[:1]}), {len(extra)} unexpected")
    if golden["summary"] is not None:
        for key, want in golden["summary"].items():
            if got["summary"].get(key) != want:
                problems.append(f"summary {key}: got {got['summary'].get(key)}, want {want}")
    if disallowed is not None:
        hits = [u for u, _ in o_order if disallowed(u)]
        if hits:
            problems.append(f"{len(hits)} robots-disallowed urls visited (e.g. {hits[0]})")
    if cap:
        per: Dict[tuple, int] = {}
        for (u, _), r in zip(o_order, got["rounds"]):
            key = (r, urlparse(u).netloc)
            per[key] = per.get(key, 0) + 1
        over = [k for k, n in per.items() if k[0] > 1 and n > cap]
        if over:
            problems.append(f"per-host round cap {cap} exceeded in {over[:3]}")
    return problems
