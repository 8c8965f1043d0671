"""The benchmark's workloads.

Each workload is a closed loop with one client, the benchmark itself: the
crawler cuts a wave only after the previous one commits, so the next
operation starts only when the last one has returned. ``setup`` builds
the seeded inputs and the oracle (never timed); ``op`` runs one timed
operation and checks it against the oracle; ``probe`` runs only in
traced runs and times the benchmark's own calls into each layer's public
functions on the workload's inputs.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import Counter
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

from pyspark.sql import functions as F

import inputs
import oracle
from spans import Tracer

from wcm_spark.scheduler import CrawlConfig, Crawler
from wcm_spark.urlkit import host_key


@dataclass
class OpResult:
    seconds: float
    fetched: int
    wave_secs: list[float]
    checks: dict[str, bool]
    layers: dict[str, float] = field(default_factory=dict)
    traffic: dict = field(default_factory=dict)


# ---------------------------------------------------------------- helpers


@contextmanager
def job_group(spark, name: str, out: dict):
    """Count the Spark jobs and stages launched under ``name``, through
    the public status tracker."""
    sc = spark.sparkContext
    outer = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(name)
        out["spark.jobs"] = len(jobs)
        out["spark.stages"] = sum(
            len(info.stageIds) for info in map(tracker.getJobInfo, jobs) if info
        )
        sc.setLocalProperty("spark.jobGroup.id", outer)


def materialize(res, with_seen: bool = True):
    """The action over all of ``visits`` (and ``seen``) that ends a timed
    crawl: drain-mode visits stay lazy until here."""
    visits = res.visits.select("pos", "wave", "seq", "url", "status").toPandas()
    seen = res.seen.select("digest").toPandas()["digest"] if with_seen else None
    return visits, seen


def visit_order(visits) -> list[str]:
    ok = visits[visits["status"].notna()].sort_values("pos")
    return ok["url"].tolist()


def visit_rows(visits) -> set[tuple]:
    return {
        (int(w), int(s), u, None if st != st else int(st))
        for w, s, u, st in zip(visits["wave"], visits["seq"], visits["url"], visits["status"])
    }


def traffic(*visit_frames, min_delay_waves: int = 0) -> dict:
    """Share of the fetched URLs per host, over the whole operation and
    per (fetch) wave: what the politeness cut actually saw. With
    ``min_delay_waves``, also count the fetches of a host that came
    sooner after its previous fetch wave than the delay allows."""
    fetches = Counter(
        (int(w), host_key(u)) for v in visit_frames for w, u in zip(v["wave"], v["url"])
    )
    total = sum(fetches.values())
    hosts = Counter()
    for (_, h), n in fetches.items():
        hosts[h] += n
    per_wave = []
    for w in sorted({w for w, _ in fetches}):
        in_wave = {h: n for (ww, h), n in fetches.items() if ww == w}
        top = max(in_wave, key=in_wave.get)
        n = sum(in_wave.values())
        per_wave.append({"wave": w, "fetched": n, "hosts": len(in_wave), "top_host": top,
                         "top_share": round(in_wave[top] / n, 4)})
    early = 0
    if min_delay_waves:
        for h in hosts:
            ws = sorted(w for w, hh in fetches if hh == h)
            early += sum(fetches[b, h] for a, b in zip(ws, ws[1:]) if b - a <= min_delay_waves)
    return {
        "host_share": {h: round(n / max(total, 1), 4) for h, n in hosts.most_common()},
        "per_wave": per_wave,
        "min_delay_early_fetches": early,
    }


def traced_crawler(tracer: Tracer):
    """``Crawler`` whose store instance records spans around its public
    ``commit`` and ``read`` (``resume`` builds this class too)."""
    if not tracer.enabled:
        return Crawler

    class TracedCrawler(Crawler):
        def __init__(self, *args, **kwargs):
            super().__init__(*args, **kwargs)
            if self.store is not None:
                self.store.commit = tracer.wrap("store.commit", self.store.commit)
                self.store.read = tracer.wrap("store.read", self.store.read)

    return TracedCrawler


def dir_stats(root: str) -> tuple[int, int]:
    """(parquet files, parquet bytes) under ``root``."""
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


# ---------------------------------------------------------------- workloads


class CrawlWorkload:
    """Shared set-up and layer probes of the corpus-mode crawl workloads.

    Subclasses set ``kind``/``shape`` (the corpus), ``seeds`` and
    ``robots`` in ``__init__``, and define ``config``."""

    name = ""
    expected_urls = 100_000

    def __init__(self, seed: int, workdir: str):
        self.seed = seed
        self.workdir = workdir
        self.setup_layers: dict[str, float] = {}

    def start(self, pool) -> None:
        """Start writing the corpus and then the reference-loop oracle on
        ``pool`` (a one-worker process pool); call before the Spark
        session starts so that both overlap it."""
        self.corpus_path = os.path.join(self.workdir, f"corpus-{self.name}.parquet")
        self._corpus = pool.submit(inputs.write_corpus, self.kind, self.shape, self.corpus_path)
        self._oracle = pool.submit(
            oracle.reference_crawl, self.kind, self.shape, self.seeds, self.robots,
            self.config().max_depth,
        )

    def setup(self, spark) -> None:
        """Read the corpus, warm up, and wait for the oracle."""
        self.spark = spark
        self.setup_layers["corpus.gen_s"] = self._corpus.result(timeout=120)
        self.corpus = spark.read.parquet(self.corpus_path)
        t0 = time.perf_counter()
        self.warm_up()
        self.setup_layers["warm_up_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.oracle = self._oracle.result(timeout=120)
        self.setup_layers["oracle.wait_s"] = time.perf_counter() - t0
        self.setup_layers["oracle.s"] = self.oracle["oracle_s"]

    def _fresh_ckpt(self, tag: str) -> str:
        path = os.path.join(self.workdir, f"ckpt-{tag}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def input_description(self) -> dict:
        return {"kind": self.kind, "shape": self.shape, "seeds": self.seeds}

    def fingerprint(self) -> str:
        return inputs.fingerprint(self.input_description())

    def warm_up(self) -> None:
        """Untimed work before the first operation (none by default)."""

    def prepare_trace(self) -> None:
        """Untimed work a traced run needs before its operations."""

    # -- layer probes (traced runs only)

    def probe(self, tracer: Tracer) -> dict[str, float]:
        from wcm_spark.htmlkit import extract_links
        from wcm_spark.operators.dedup import (
            NumpyBloom, bloom_prefilter, build_bloom, seen_anti_join,
        )
        from wcm_spark.operators.scrape import scrape_resolve_children
        from wcm_spark.operators.seq import assign_seq
        from wcm_spark.urlkit import resolve_href

        spark = self.spark
        out: dict[str, float] = {}
        visited = spark.createDataFrame(
            [(u,) for u in set(self.oracle["visit_order"])], "url string"
        )
        pages = (
            self.corpus.join(visited, "url", "left_semi")
            .filter(F.col("status").isNotNull())
            .select(
                "url", "content_type", "content_length", "body",
                F.xxhash64("url").alias("seq"), F.lit(0).alias("depth"),
            )
            .localCheckpoint(eager=True)
        )
        n_pages = pages.count()
        with tracer.span("scrape.scrape_resolve_children"):
            t0 = time.perf_counter()
            children = scrape_resolve_children(pages).localCheckpoint(eager=True)
            out["scrape.s"] = time.perf_counter() - t0
        n_children = children.count()
        n_distinct = children.select("digest").distinct().count()
        out["scrape.children_per_page"] = n_children / max(n_pages, 1)
        out["dedup.seen_drop_ratio"] = 1 - n_distinct / max(n_children, 1)

        seen = spark.createDataFrame(
            [(d,) for d in self.oracle["seen"]], "digest string"
        ).localCheckpoint(eager=True)
        bloom = NumpyBloom.sized(self.expected_urls, CrawlConfig().bloom_fpp)
        with tracer.span("dedup.build_bloom"):
            t0 = time.perf_counter()
            build_bloom(seen, bloom)
            out["dedup.bloom_build_s"] = time.perf_counter() - t0
        with tracer.span("dedup.seen_anti_join"):
            t0 = time.perf_counter()
            # threshold 0 forces the bloom-prefiltered shuffle path, which
            # a crawl takes only past seen_anti_join's default 4M digests
            seen_anti_join(
                children, seen, bloom, seen_count=len(self.oracle["seen"]),
                broadcast_threshold=0,
            ).count()
            out["dedup.antijoin_s"] = time.perf_counter() - t0
        # false positives at the design load: a bloom sized for the seen
        # set it holds (the engine's, sized for expected_urls, reads ~0)
        loaded = NumpyBloom.sized(len(self.oracle["seen"]), CrawlConfig().bloom_fpp)
        build_bloom(seen, loaded)
        n_absent = 100_000
        absent = spark.range(n_absent).select(
            F.md5(F.concat(F.lit("absent/"), F.col("id").cast("string"))).alias("digest")
        )
        maybe_seen, _ = bloom_prefilter(absent, loaded)
        out["dedup.bloom_fp_rate"] = maybe_seen.count() / n_absent
        with tracer.span("seq.assign_seq"):
            t0 = time.perf_counter()
            assign_seq(children, ["parent_seq", "emit_idx"]).count()
            out["seq.assign_s"] = time.perf_counter() - t0

        import pyarrow.parquet as pq

        rows = pq.read_table(self.corpus_path).slice(0, 1000).to_pylist()
        sample = [r for r in rows if r["status"] == 200 and r["content_type"] == "text/html"]
        hrefs = []
        with tracer.span("htmlkit.extract_links"):
            t0 = time.perf_counter()
            for r in sample:
                items = extract_links(r["url"], r["content_type"], r["content_length"], r["body"])
                hrefs.extend((i["base"], i["literal_uri"]) for i in items)
            out["htmlkit.extract_ms_per_page"] = (time.perf_counter() - t0) * 1e3 / len(sample)
        with tracer.span("urlkit.resolve_href"):
            t0 = time.perf_counter()
            for base, href in hrefs:
                resolve_href(base, href)
            out["urlkit.resolve_us_per_href"] = (time.perf_counter() - t0) * 1e6 / max(len(hrefs), 1)
        spark.catalog.clearCache()
        return out


class Drain(CrawlWorkload):
    """Uniform corpus, FIFO drain, no store, default in-UDF seen probe."""

    name = "drain"
    expected_urls = 2_000_000

    def __init__(self, seed: int, workdir: str):
        super().__init__(seed, workdir)
        self.kind, self.shape, self.robots = "uniform", [96, 128], False
        self.seeds = inputs.seed_order(seed, self.shape[0])

    def warm_up(self) -> None:
        """One whole untimed crawl of the same corpus and config: forks and
        imports in the Python workers, codegen and JIT for every wave's
        plan shapes, so that each timed crawl runs warm."""
        materialize(Crawler(self.spark, self.corpus, self.config()).run(self.seeds))
        self.spark.catalog.clearCache()

    def config(self, ckpt: str | None = None, **kw) -> CrawlConfig:
        return CrawlConfig(expected_urls=self.expected_urls, use_bloom=False, **kw)

    def op(self, tracer: Tracer) -> OpResult:
        layers: dict[str, float] = {}
        crawler_cls = traced_crawler(tracer)
        group = f"perfbench-{self.name}-{time.monotonic_ns()}"
        with job_group(self.spark, group, layers) if tracer.enabled else nullcontext():
            with tracer.span("op.drain"):
                t0 = time.perf_counter()
                with tracer.span("scheduler.run"):
                    res = crawler_cls(self.spark, self.corpus, self.config()).run(self.seeds)
                t1 = time.perf_counter()
                with tracer.span("scheduler.tail"):
                    visits, seen = materialize(res)
                t2 = time.perf_counter()
        self.spark.catalog.clearCache()
        checks = {
            "visit_order": visit_order(visits) == self.oracle["visit_order"],
            "seen_set": set(seen) == self.oracle["seen"],
        }
        layers.update(_wave_layers(res.metrics, layers))
        layers["scheduler.run_s"] = t1 - t0
        layers["scheduler.tail_s"] = t2 - t1
        return OpResult(
            t2 - t0, res.fetched, [m["sec"] for m in res.metrics], checks, layers, traffic(visits)
        )


class PoliteCkpt(CrawlWorkload):
    """Zipf host sizes under a politeness budget, robots, a durable store
    committed every wave; stopped at a fixed wave, then resumed to drain.

    The head host holds half of the 64 pages. At depth 1 it yields about
    26 URLs while the next host yields about 12, so the head keeps its
    skew in the fetched traffic (about a third of the URLs); the per-host
    cap of 16 binds on it in wave 3 and leaves it a straggler wave of its
    own. ``use_bloom`` builds the bloom, but with a seen set this small
    the scheduler takes the broadcast anti-join and never probes it.

    No warm-up: each run times one stop-and-resume in a fresh session, so
    plan compilation is part of its cost, as it is for every short crawl
    session. A whole warm-up crawl would make each run about half again
    as long."""

    name = "polite-ckpt"
    MAX_CONN_PER_HOST = 16
    MAX_DEPTH = 1
    STOP_WAVE = 3

    def __init__(self, seed: int, workdir: str):
        super().__init__(seed, workdir)
        self.kind, self.robots = "sized", True
        self.shape = inputs.zipf_sizes(seed, 12, 64)
        self.seeds = inputs.seed_order(seed, len(self.shape))

    def prepare_trace(self) -> None:
        """One whole untimed crawl of the same config, then a resume of its
        drained checkpoint: the uninterrupted order a resumed crawl is
        compared with, and the warm-up (seed, wave, commit and restore
        plans) that makes the untraced and traced operations after it
        comparable."""
        cfg = self.config(self._fresh_ckpt("whole"))
        whole, _ = materialize(Crawler(self.spark, self.corpus, cfg).run(self.seeds), with_seen=False)
        materialize(Crawler.resume(self.spark, self.corpus, cfg))
        self.spark.catalog.clearCache()
        self.uninterrupted = _order(whole)

    def config(self, ckpt: str | None = None, **kw) -> CrawlConfig:
        return CrawlConfig(
            expected_urls=self.expected_urls,
            max_conn_per_host=self.MAX_CONN_PER_HOST,
            min_delay_waves=1,
            respect_robots=True,
            checkpoint_dir=ckpt,
            commit_every=1,
            compact_every_commits=4,
            use_bloom=True,
            broadcast_seen_max=0,
            max_depth=self.MAX_DEPTH,
            **kw,
        )

    def op(self, tracer: Tracer) -> OpResult:
        layers: dict[str, float] = {}
        crawler_cls = traced_crawler(tracer)
        ckpt = self._fresh_ckpt("op")
        stop_cfg = self.config(ckpt, max_waves=self.STOP_WAVE)
        cfg = self.config(ckpt)
        group = f"perfbench-{self.name}-{time.monotonic_ns()}"
        with job_group(self.spark, group, layers) if tracer.enabled else nullcontext():
            with tracer.span("op.polite-ckpt"):
                t0 = time.perf_counter()
                with tracer.span("scheduler.run"):
                    first = crawler_cls(self.spark, self.corpus, stop_cfg).run(self.seeds)
                t1 = time.perf_counter()
                with tracer.span("scheduler.tail"):
                    v_first, _ = materialize(first, with_seen=False)
                t2 = time.perf_counter()
            # untimed, and its jobs kept out of the count: the durable
            # visits must equal the in-memory ones
            with job_group(self.spark, f"{group}-check", {}) if tracer.enabled else nullcontext():
                durable_first = visit_rows(Crawler.read_visits(self.spark, cfg).toPandas())
            with tracer.span("op.polite-ckpt"):
                t3 = time.perf_counter()
                with tracer.span("scheduler.resume"):
                    second = crawler_cls.resume(self.spark, self.corpus, cfg)
                t4 = time.perf_counter()
                with tracer.span("scheduler.tail"):
                    v_second, seen = materialize(second)
                t5 = time.perf_counter()
        durable_all = visit_rows(Crawler.read_visits(self.spark, cfg).toPandas())
        files, size = dir_stats(ckpt)
        self.spark.catalog.clearCache()
        in_memory = visit_rows(v_first) | visit_rows(v_second)
        # order after resume is ROADMAP #4's known defect: checked as sets
        # here and counted by scheduler.resume_order_diff in traced runs
        got_visits = set(visit_order(v_first)) | set(visit_order(v_second))
        checks = {
            "visit_set": got_visits == set(self.oracle["visit_order"]),
            "seen_set": set(seen) == self.oracle["seen"],
            "durable_at_stop": durable_first == visit_rows(v_first),
            "durable_at_end": durable_all == in_memory,
        }
        fetched = first.fetched + second.fetched
        metrics = first.metrics + second.metrics
        layers.update(_wave_layers(metrics, layers))
        layers["scheduler.run_s"] = t1 - t0
        layers["scheduler.tail_s"] = (t2 - t1) + (t5 - t4)
        layers["scheduler.resume_s"] = t5 - t3
        layers["store.files"] = files
        layers["store.bytes_per_url"] = size / max(fetched, 1)
        if tracer.enabled:
            resumed = _order(v_first, v_second)
            layers["scheduler.resume_order_diff"] = sum(
                a != b for a, b in zip(resumed, self.uninterrupted)
            ) + abs(len(resumed) - len(self.uninterrupted))
        return OpResult(
            (t2 - t0) + (t5 - t3), fetched, [m["sec"] for m in metrics], checks, layers,
            traffic(v_first, v_second, min_delay_waves=cfg.min_delay_waves),
        )

    def probe(self, tracer: Tracer) -> dict[str, float]:
        """The shared layer probes, plus a one-wave crawl seeded only with
        pages the corpus robots.txt disallows: the reference loop drops
        such seeds at enqueue, so every one fetched is a robots-gate
        miss."""
        from wcm_spark.corpus import page_url

        out = super().probe(tracer)
        robots = oracle.robots_cache(
            [r.asDict() for r in self.corpus.filter(F.col("url").endswith("/robots.txt")).collect()]
        )
        denied = [
            u for u in (page_url(site, n - 1) for site, n in enumerate(self.shape))
            if not robots.allowed(host_key(u), u)
        ]
        visits, _ = materialize(
            Crawler(self.spark, self.corpus, self.config(max_waves=1)).run(denied), with_seen=False
        )
        self.spark.catalog.clearCache()
        out["robots.seed_disallowed_fetched"] = int(visits["status"].notna().sum())
        return out


def _order(*visit_frames) -> list[str]:
    """Visit URLs in (wave, seq) order across ``visit_frames``."""
    rows = sorted(
        (int(w), int(s), u)
        for v in visit_frames
        for w, s, u in zip(v["wave"], v["seq"], v["url"])
    )
    return [u for _, _, u in rows]


def _wave_layers(metrics: list[dict], layers: dict) -> dict[str, float]:
    waves = len(metrics)
    out = {
        "scheduler.waves": waves,
        "scheduler.enqueued": sum(m["enqueued"] for m in metrics),
    }
    if "spark.jobs" in layers:
        out["scheduler.jobs_per_wave"] = layers["spark.jobs"] / max(waves, 1)
    return out


WORKLOADS = {w.name: w for w in (Drain, PoliteCkpt)}
