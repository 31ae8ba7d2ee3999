"""Workload definitions, pinned inputs and output checks for the crawl benchmark.

Each workload fixes a corpus shape, a CrawlConfig and a seed list. Pages come
from the program's own generator (sources.corpus, seeded by the benchmark's
--seed); the benchmark only adds one robots.txt row for frontier_skew. The
expected answer comes from the single-process oracle in tests/oracle.py,
computed once per invocation.
"""

from __future__ import annotations

import hashlib
import importlib
import json
import math
import multiprocessing
from multiprocessing import resource_tracker
import os
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass
from datetime import datetime

PINNED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pinned.json")
DEFAULT_SEED = 0
# hosts whose default-seed pages are regenerated on every run to pin the generator
PIN_HOSTS = (0, 1, 2)

# frontier_skew: host-0 is the hot host (hot_factor) but the stock generator
# gives it no robots.txt (i % 7 == 0), so its URLs would take the unlimited
# path and never reach the politeness window. This row gives it a Crawl-delay.
HOT_ROBOTS = "User-agent: *\nDisallow: /private\nCrawl-delay: 5\n"


@dataclass(frozen=True)
class Workload:
    name: str
    hosts: int
    pages_per_host: int
    words: tuple[int, int]
    rounds: int
    hot_factor: int = 1
    round_duration_s: int = 3600
    use_bloom: bool = False
    resolve_mode: str = "quirk"
    recrawl: bool = False
    # host-0 gets HOT_ROBOTS and all of its pages as seeds
    hot_host: bool = False

    def spec(self, seed: int):
        from cis455crawler_spark.sources.corpus import CorpusSpec

        return CorpusSpec(
            hosts=self.hosts,
            pages_per_host=self.pages_per_host,
            seed=seed,
            hot_factor=self.hot_factor,
            words_min=self.words[0],
            words_max=self.words[1],
        )

    def config(self, rounds: int | None = None):
        from cis455crawler_spark.plans.crawl import CrawlConfig

        return CrawlConfig(
            max_rounds=rounds or self.rounds,
            max_pages=10_000_000,
            round_duration_s=self.round_duration_s,
            use_bloom=self.use_bloom,
            resolve_mode=self.resolve_mode,
        )

    def seeds(self, seed: int) -> list[str]:
        from cis455crawler_spark.sources.corpus import host_name, page_url, seed_urls

        spec = self.spec(seed)
        urls = seed_urls(spec, n_seeds=spec.hosts)
        if self.hot_host:
            # bulk-seed every page of the hot host (a sitemap dump): the
            # frontier then holds far more host-0 URLs than its budget
            hot = host_name(0)
            urls += [page_url(hot, j) for j in range(spec.pages_per_host * spec.hot_factor)]
        return sorted(set(urls))


# Two rounds each: a round costs seconds of mostly fixed planning and JVM work
# whatever its size, and round 2 is the first with a seen set to dedup against.
WORKLOADS = {
    w.name: w
    for w in (
        # reference-parity config, tens-of-KB bodies, every host seeded
        Workload("crawl_bfs", hosts=160, pages_per_host=8, words=(4000, 8000), rounds=2),
        # generation 2 over the unchanged crawl_bfs corpus: every fetch is a 304
        Workload(
            "recrawl_304", hosts=160, pages_per_host=8, words=(4000, 8000), rounds=2,
            recrawl=True,
        ),
        # tiny pages, hot host-0 with a crawl-delay, politeness-bound frontier
        Workload(
            "frontier_skew", hosts=120, pages_per_host=10, words=(20, 60), rounds=2,
            hot_factor=200, round_duration_s=20, use_bloom=True,
            resolve_mode="standard", hot_host=True,
        ),
    )
}


# -- inputs --------------------------------------------------------------------


def hot_robots_pdf():
    import pandas as pd

    from cis455crawler_spark.functions.html import extract_text_py
    from cis455crawler_spark.sources.corpus import host_name

    body = HOT_ROBOTS.encode()
    return pd.DataFrame(
        [(f"http://{host_name(0)}/robots.txt", datetime(2013, 3, 1), body,
          extract_text_py(body), "en")],
        columns=["url", "warc_ts", "html", "text", "lang"],
    )


def pages_digest(pdf) -> str:
    """Order-independent sha256 over (url, warc_ts, html, text, lang) rows."""
    rows = []
    for url, ts, html, text, lang in zip(
        pdf["url"], pdf["warc_ts"], pdf["html"], pdf["text"], pdf["lang"]
    ):
        rows.append(
            "\x1f".join(
                (
                    url,
                    str(ts),
                    hashlib.sha256(bytes(html)).hexdigest(),
                    hashlib.sha256((text or "").encode()).hexdigest(),
                    lang or "",
                )
            )
        )
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def sample_pdf(wl: Workload):
    """Default-seed pages of PIN_HOSTS, generated in this process."""
    import pandas as pd

    parts = [_hosts_pdf(wl.spec(DEFAULT_SEED), list(PIN_HOSTS))]
    if wl.hot_host:
        parts.append(hot_robots_pdf())
    return pd.concat(parts, ignore_index=True)


def load_pinned() -> dict:
    with open(PINNED_PATH) as f:
        return json.load(f)


def _hosts_pdf(spec, host_ids: list[int]):
    import pandas as pd

    from cis455crawler_spark.sources.corpus import generate_host_pdf

    return pd.concat([generate_host_pdf(spec, i) for i in host_ids], ignore_index=True)


def generate_pdf(wl: Workload, seed: int, workers: int):
    """The workload's pages as pandas, from the program's generator. Hosts
    generate independently, so `workers` spawned processes split them."""
    import pandas as pd

    spec = wl.spec(seed)
    slices = [list(range(spec.hosts))[w::workers] for w in range(workers)]
    ctx = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(max_workers=workers, mp_context=ctx) as pool:
        parts = list(pool.map(_hosts_pdf, [spec] * workers, slices))
    # the pool left multiprocessing's resource tracker running; it would
    # otherwise live until this process exits
    resource_tracker._resource_tracker._stop()
    if wl.hot_host:
        parts.append(hot_robots_pdf())
    pdf = pd.concat(parts, ignore_index=True)
    if not pdf["url"].is_unique:
        raise ValueError("generated corpus urls must be unique")
    return pdf


def cache_pages(spark, pdf, partitions: int):
    """pages persisted DISK_ONLY, hash-partitioned on url into the session's
    shuffle width: the fetch join then reuses this partitioning and only the
    small scheduled side shuffles each round."""
    from pyspark import StorageLevel

    from cis455crawler_spark.sources.corpus import PAGES_SCHEMA

    pages = (
        spark.createDataFrame(pdf, schema=PAGES_SCHEMA)
        .repartition(partitions, "url")
        .persist(StorageLevel.DISK_ONLY)
    )
    pages.count()
    return pages


def check_pins(wl: Workload, seed: int, pdf) -> list[str]:
    """Errors if the generator no longer reproduces the pinned inputs."""
    pinned = load_pinned()["workloads"][wl.name]
    errors = []
    if pages_digest(sample_pdf(wl)) != pinned["sample_sha256"]:
        errors.append("default-seed sample digest differs from pinned.json")
    if seed == DEFAULT_SEED and pages_digest(pdf) != pinned["pages_sha256"]:
        errors.append("default-seed pages digest differs from pinned.json")
    return errors


# -- oracle ----------------------------------------------------------------------


def load_oracle():
    """tests/oracle.py of the checkout (its root is on sys.path)."""
    return importlib.import_module("tests.oracle")


@dataclass
class Expected:
    seen: set
    scheduled: list[int]
    text: dict
    robots: dict  # host -> parsed robots (oracle parser)
    gen1_parsed: int = 0


def expected_answer(oracle, wl: Workload, seed: int, pdf) -> Expected:
    page_map = dict(zip(pdf["url"], (bytes(h) for h in pdf["html"])))
    cfg = wl.config()
    kw = dict(
        max_rounds=cfg.max_rounds,
        max_pages=cfg.max_pages,
        round_duration_s=cfg.round_duration_s,
        max_content_bytes=cfg.max_content_bytes,
        resolve_fn=oracle.o_resolve_standard if wl.resolve_mode == "standard" else None,
    )
    seeds = wl.seeds(seed)
    res = oracle.oracle_crawl(page_map, seeds, **kw)
    gen1_parsed = 0
    if wl.recrawl:
        ts = dict(zip(pdf["url"], pdf["warc_ts"]))
        gen1_parsed = sum(m["parsed_pages"] for m in res.metrics)
        stored = {u: (ts[u], links) for u, links in res.docs.items()}
        res = oracle.oracle_crawl(page_map, seeds, stored=stored, pages_ts=ts, **kw)
    robots = {
        oracle.o_host(u): oracle.o_parse_robots(bytes(h).decode("iso-8859-1"))
        for u, h in page_map.items()
        if u.endswith("/robots.txt")
    }
    return Expected(
        seen=res.seen,
        scheduled=[m["scheduled"] for m in res.metrics],
        text=dict(zip(pdf["url"], pdf["text"])),
        robots=robots,
        gen1_parsed=gen1_parsed,
    )


# -- output checks -------------------------------------------------------------------


def check_crawl(
    store, metrics: list[dict], wl: Workload, exp: Expected, oracle
) -> tuple[dict[str, bool], int]:
    """({check name: passed}, committed seen rows) for one finished crawl."""
    seen = set(store.read("seen").select("url_hash").toPandas()["url_hash"])
    checks = {
        "seen_equals_oracle": seen == exp.seen,
        "scheduled_per_round_equals_oracle": [m["scheduled"] for m in metrics]
        == exp.scheduled,
    }
    parsed = store.read("parsed").select("url", "text").toPandas()
    checks["parsed_text_identical"] = all(
        exp.text.get(u) == t for u, t in zip(parsed["url"], parsed["text"])
    )
    if wl.recrawl:
        checks["recrawl_parses_nothing"] = sum(m["parsed_pages"] for m in metrics) == 0
        checks["recrawl_304_equals_gen1_parses"] = (
            sum(m["not_modified"] for m in metrics) == exp.gen1_parsed
        )
    if wl.round_duration_s < 3600:
        checks["host_budget_respected"] = budgets_respected(store, metrics, wl, exp, oracle)
    return checks, len(seen)


def _urls(df) -> set:
    return set() if df is None else set(df.select("url").toPandas()["url"])


def budgets_respected(store, metrics, wl: Workload, exp: Expected, oracle) -> bool:
    """No host is scheduled more URLs in a round than its politeness budget.

    Round k's scheduled set is rebuilt from committed tables: the URLs first
    seen in round k that were round-k candidates (frontier as of k-1), are
    robots-allowed, and were not carried forward as deferred (frontier as of
    k). Robots rules and budgets come from the oracle's parser."""
    for m in metrics:
        k = m["round"]
        new_seen = _urls(store.read_appends_between("seen", k - 1, k))
        cand = _urls(store.read("frontier", as_of_round=k - 1))
        carried = _urls(store.read("frontier", as_of_round=k))
        per_host: dict[str, int] = {}
        for u in (new_seen & cand) - carried:
            host = oracle.o_host(u)
            if oracle.o_allowed(u, exp.robots.get(host)):
                per_host[host] = per_host.get(host, 0) + 1
        for host, n in per_host.items():
            delay = oracle.o_delay(exp.robots.get(host))
            budget = max(1, wl.round_duration_s // delay) if delay > 0 else math.inf
            if n > budget:
                return False
    return True
