"""The reference-loop oracle of a workload.

``reference_crawl`` regenerates the corpus rows the engine crawls and
replays the reference loop (``CrawlSimulator``) over them. On drain it
takes 10-17 s of pure Python, so the benchmark runs it in a worker
process beside the Spark session start and the warm-up (see run.py);
none of it is timed as engine work.
"""

from __future__ import annotations

import time

from inputs import corpus_rows_for


def robots_cache(rows: list[dict]):
    """The corpus robots.txt rules, as the engine reads them."""
    from wcm_spark.robots import RobotsCache
    from wcm_spark.urlkit import host_key

    return RobotsCache(
        {
            host_key(r["url"]): bytes(r["body"]).decode("utf-8", errors="replace")
            for r in rows
            if r["url"].endswith("/robots.txt") and r["status"] == 200
        }
    )


def reference_crawl(kind: str, shape, seeds: list[str], robots: bool, max_depth: int | None) -> dict:
    """Visit order and seen digests of the reference loop over the corpus
    ``kind``/``shape``, and the seconds it took."""
    from wcm_spark.crawlcore import CorpusPage, CrawlSimulator

    t0 = time.perf_counter()
    rows = corpus_rows_for(kind, shape)
    sim = CrawlSimulator(
        corpus={r["url"]: CorpusPage(**r) for r in rows},
        robots=robots_cache(rows) if robots else None,
        max_depth=max_depth,
    )
    for url in seeds:
        sim.enqueue(url)
    sim.crawl()
    return {"visit_order": sim.visit_order, "seen": sim.seen, "oracle_s": time.perf_counter() - t0}
