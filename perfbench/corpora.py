"""Seeded inputs of the two workloads, written as pages tables.

Both tables use the program's own layout: the pages schema plus a
``pbucket = pmod(xxhash64(url), N)`` partition column
(``sources.pages.with_pbucket``) and ``_table_meta.json`` recording N.

* ``bfs_fused`` reads the ``fixtures.webgen`` corpus (``synthesize_pages``,
  the same generator ``bench.py`` uses, at a smaller section count).
* ``polite_dense`` reads a link-dense graph generated here: short pages with
  tens of links each, skewed toward hot targets, plus dangling links,
  robots-disallowed links, fragment and relative variants, and one
  ``robots.txt`` body (Disallow + Crawl-delay) per host.

Every page is a pure function of (seed, url), so the golden functions in
``reference.py`` re-render pages instead of reading the written table.
Rows are rendered in a process pool and written by Spark with
``with_pbucket``.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass
from datetime import datetime, timedelta
from typing import Iterator, List, Optional

N_BUCKETS = 4  # pbucket count of both tables (an input property, not host-derived)
RUN_TS_ISO = "2025-01-01T00:00:00"

# --- bfs_fused: the webgen corpus -------------------------------------------
# Hot host 0 carries the crawl; 12 sections x 200 pages gives ~5.6k visits in
# 4 BFS rounds at max_depth=3.
WEB_SECTIONS = 12
WEB_PAGES = 200
WEB_HOSTS = 4


def web_spec(seed: int):
    from crawl4ai_scraper_spark.fixtures.webgen import WebSpec

    return WebSpec(n_hosts=WEB_HOSTS, max_secs=WEB_SECTIONS, max_pages=WEB_PAGES, seed=seed)


def web_html(seed: int, url: str) -> Optional[bytes]:
    from crawl4ai_scraper_spark.fixtures.webgen import page_html

    html = page_html(web_spec(seed), url)
    return None if html is None else html.encode("utf-8")


# --- polite_dense: the link-dense graph --------------------------------------
DENSE_HOSTS = 4          # dense0 is crawled; dense1..3 are link targets + bulk
DENSE_PAGES = 3000       # /p{i} pages on the crawled host
DENSE_PRIVATE = 300      # /private/p{i} pages exist (robots keeps them out)
DENSE_BULK = 100         # /p{i} pages on each of dense1..3
SEED_FANOUT = 300        # links on the seed page /p0
DISALLOW = ("/private/", "/p7")  # literal prefixes: /p7 blocks p7, p70-79, ...
_WORDS = ("frontier shuffle bucket crawl robots delay queue rank bloom seen "
          "parquet arrow window host page link score round commit replay").split()


@dataclass(frozen=True)
class DenseSpec:
    seed: int

    @staticmethod
    def host(k: int) -> str:
        return f"dense{k}.example"

    def crawl_delay(self, k: int) -> float:
        return 0.5 + k


def _parse_dense(url: str):
    """(host index, path) for a URL of the dense web, else None."""
    if not url.startswith("https://dense"):
        return None
    rest = url[len("https://dense"):]
    k_str, _, tail = rest.partition(".example")
    if not k_str.isdigit() or not (0 <= int(k_str) < DENSE_HOSTS):
        return None
    return int(k_str), (tail or "/")


def _page_index(path: str, prefix: str, limit: int) -> Optional[int]:
    if not path.startswith(prefix):
        return None
    num = path[len(prefix):]
    if not num.isdigit() or (len(num) > 1 and num[0] == "0"):
        return None
    i = int(num)
    return i if i < limit else None


def _dense_links(seed: int, k: int, i: int) -> List[str]:
    rng = random.Random(f"dense:{seed}:{k}:{i}")
    if k != 0:
        return [f"/p{rng.randrange(DENSE_BULK)}" for _ in range(3)]
    if i == 0:  # the crawl's seed: a hub page with a wide first level
        return [f"/p{rng.randrange(1, DENSE_PAGES)}" for _ in range(SEED_FANOUT)]
    out = []
    for _ in range(rng.randint(20, 60)):
        r = rng.random()
        if r < 0.55:  # hot targets: p0.. attract most links
            out.append(f"/p{int(DENSE_PAGES * rng.random() ** 4)}")
        elif r < 0.80:
            out.append(f"/p{rng.randrange(DENSE_PAGES)}")
        elif r < 0.85:  # dangling → fetch failure
            out.append(f"/gone{rng.randrange(500)}")
        elif r < 0.90:  # exists, but robots keeps it out of the frontier
            out.append(f"/private/p{rng.randrange(DENSE_PRIVATE)}")
        elif r < 0.95:  # other host: not an internal link, never followed
            out.append(f"https://dense{rng.randrange(1, DENSE_HOSTS)}.example/p{rng.randrange(DENSE_BULK)}")
        elif r < 0.975:  # fragment variant canonicalizes to the page itself
            out.append(f"/p{rng.randrange(DENSE_PAGES)}#s{rng.randrange(4)}")
        else:  # relative href
            out.append(f"p{rng.randrange(DENSE_PAGES)}")
    return out


def robots_body(spec: DenseSpec, k: int) -> bytes:
    lines = ["User-agent: *", f"Crawl-delay: {spec.crawl_delay(k)}"]
    lines += [f"Disallow: {p}" for p in DISALLOW]
    return ("\n".join(lines) + "\n").encode()


def dense_html(seed: int, url: str) -> Optional[bytes]:
    """The stored body for ``url`` (robots.txt included), or None (404)."""
    parsed = _parse_dense(url)
    if parsed is None:
        return None
    k, path = parsed
    spec = DenseSpec(seed)
    if path == "/robots.txt":
        return robots_body(spec, k)
    limit = DENSE_PAGES if k == 0 else DENSE_BULK
    i = _page_index(path, "/p", limit)
    if i is None and k == 0:
        j = _page_index(path, "/private/p", DENSE_PRIVATE)
        if j is None:
            return None
        i = DENSE_PAGES + j
    if i is None:
        return None
    rng = random.Random(f"text:{seed}:{k}:{i}")
    words = " ".join(rng.choice(_WORDS) for _ in range(12))
    links = "".join(f'<a href="{h}">l{n}</a> ' for n, h in enumerate(_dense_links(seed, k, i)))
    return (f"<html><head><title>Node {k}.{i}</title></head><body>"
            f"<p>{words}.</p><p>{links}</p></body></html>").encode()


def dense_urls() -> Iterator[str]:
    for k in range(DENSE_HOSTS):
        base = f"https://{DenseSpec.host(k)}"
        yield f"{base}/robots.txt"
        for i in range(DENSE_PAGES if k == 0 else DENSE_BULK):
            yield f"{base}/p{i}"
        if k == 0:
            for j in range(DENSE_PRIVATE):
                yield f"{base}/private/p{j}"


def changed_urls() -> set:
    """The URLs whose second snapshot differs from the first in the
    polite_dense history: every fifth URL of ``dense_urls``."""
    return {u for i, u in enumerate(dense_urls()) if i % 5 == 0}


# --- the pages tables ----------------------------------------------------------------

def shards(workload: str, seed: int) -> List[tuple]:
    """The render tasks of a workload's pages table: webgen's synthesis
    shards (host, section), or a slice of the dense URL list."""
    if workload == "bfs_fused":
        from crawl4ai_scraper_spark.fixtures.webgen import iter_shards

        return [(workload, seed, k, i) for k, i in iter_shards(web_spec(seed))]
    return [(workload, seed, part, 16) for part in range(16)]


def render_shard(shard: tuple) -> List[tuple]:
    """One shard's stored rows (url, warc_ts, html, text, lang): webgen's
    ``page_row``, as ``synthesize_pages`` renders them, or the dense
    graph's pages. Pool task."""
    workload, seed, a, b = shard
    if workload == "bfs_fused":
        from crawl4ai_scraper_spark.fixtures.webgen import iter_shard_urls, page_row

        spec = web_spec(seed)
        rows = (page_row(spec, u, golden_text=False) for u in iter_shard_urls(spec, a, b))
        return [(r["url"], r["warc_ts"], r["html"], None, r["lang"]) for r in rows if r is not None]
    epoch = datetime(2025, 1, 1)
    return [(url, epoch + timedelta(seconds=i), dense_html(seed, url), None, "en")
            for i, url in enumerate(dense_urls()) if i % b == a]


def write_pages(spark, rows: List[tuple], path: str) -> None:
    """Write rendered rows as a pages table in the layout ``synthesize_pages``
    writes: ``with_pbucket`` partitions + ``_table_meta.json``."""
    import pandas as pd
    from pyspark.sql import functions as F

    from crawl4ai_scraper_spark.sources.pages import PAGES_SCHEMA, with_pbucket

    pdf = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    (with_pbucket(spark.createDataFrame(pdf, PAGES_SCHEMA), N_BUCKETS)
     .repartition(N_BUCKETS, F.col("pbucket"))
     .write.mode("overwrite").partitionBy("pbucket").parquet(path))
    with open(os.path.join(path, "_table_meta.json"), "w") as fh:
        json.dump({"n_buckets": N_BUCKETS}, fh)


def fetch_for(workload: str):
    """(seed, url) -> stored bytes or None, for the workload's generator."""
    return web_html if workload == "bfs_fused" else dense_html
