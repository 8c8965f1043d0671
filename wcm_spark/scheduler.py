"""The crawl scheduler: iterative DataFrame supersteps over the frontier.

Spark re-expression of the reference's IOLoop tick (Mojo.pm:54-68) per
SURVEY.md §3: each superstep (wave) declaratively selects the fetchable
slice of the pending frontier (politeness cut, F1), fetches it (corpus
join in test/bench mode, F9 redirects via a precomputed closure), scrapes
+ resolves children, dedups against the URL-seen set (bloom-prefiltered
exact anti-join, D2), assigns deterministic sequence numbers (O1) and
commits. Ordering parity: with the reference's default politeness budget
(max_conn=1 ⇒ strict FIFO drain) the visit sequence ordered by
(wave, seq) is *identical* to the reference loop — children enter the
queue in (parent_seq, emit_idx) order, exactly the order the single
-threaded loop appends them (proof sketch in SURVEY.md §3.1; asserted
against the pure-Python simulator in tests/test_parity.py).

Scale notes (the 1000-executor view):
- no global sort anywhere: wave cut = per-host window + TakeOrdered top-K;
  seq assignment = range-exchange + per-partition ranks (operators/seq.py)
- the ``body`` column is pruned out of every stage except scrape/sink
- seen-set growth: bloom absorbs the common case; the anti-join backstop
  shuffles only bloom-positive candidates
- per-wave lineage is cut with eager localCheckpoint (plan growth is the
  silent killer of iterative DataFrame jobs); durable state commits go to
  the TableStore (Iceberg-shaped) for resume
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions.core import digest_col, host_key_udf, host_salt_col
from .operators import dedup
from .operators.dedup import NumpyBloom, build_bloom, seen_anti_join
from .operators.scrape import scrape_resolve_children
from .operators.seq import assign_seq
from .robots import parse_robots, robots_gate
from .store import TableStore  # noqa: F401 (re-exported)
from .store import for_session as store_for_session

__all__ = ["CrawlConfig", "CrawlResult", "Crawler"]

PENDING_COLS = [
    "seq", "wave", "url", "host_key", "host_salt", "method", "params",
    "digest", "depth", "referrer_url", "literal_uri", "context",
    "context_kind", "retries",
]

# userinfo-bearing URL (F8 credential carrier) — one pattern shared by the
# Spark rlike gates and the driver-side seed scan so the carrier count the
# loop tracks can never disagree with what the harvest collect would find
UI_PAT = "^[a-z][a-z0-9+.-]*://[^/?#]*@"

# live-fetchable scheme: the frontier keeps ftp/ws/wss (R2, Mojo.pm:177 —
# the reference's Mojo UA can speak them) but sources/httpfetch.py speaks
# only http(s); such rows are SKIPPED at fetch time in http mode (counted
# in the per-wave ``skipped`` metric, never retried) instead of erroring
# into the retry channel
HTTP_PAT = "^https?://"


@dataclass
class CrawlConfig:
    max_conn: int | None = None            # global per-wave fetch cap (F1); None = drain level
    max_conn_per_host: int | None = None   # per-host per-wave cap (F1/F6)
    max_redirects: int = 5                 # Mojo.pm:50
    max_depth: int | None = None
    cap: int | None = None                 # queue capacity (F4, Queue/Memory.pm:42)
    max_waves: int | None = None
    retry_errors: int = 0                  # S2/F10 requeue budget (0 = reference default)
    salts: int = 64                        # host-salt partitioning fanout
    containers: list | None = None         # P4 context scoping
    expected_urls: int = 1_000_000         # bloom sizing
    bloom_fpp: float = 0.01
    use_bloom: bool = True                 # bloom-prefilter the seen anti-join once seen
                                           # outgrows dedup.ANTI_JOIN_BROADCAST_MAX
    checkpoint_dir: str | None = None      # TableStore root for durable commits
    commit_every: int = 1                  # waves between durable commits
    compact_every_commits: int | None = None  # store maintenance cadence: every N
                                           # durable commits, compact the append
                                           # tables (small-files rewrite) and expire
                                           # snapshots older than the retained tail
    expire_keep_snapshots: int = 2         # snapshots kept by maintenance expiry
    collect_images: bool = False           # S7 image+caption sink
    shuffle_every: int | None = None       # F5 seeded re-sequencing
    credentials: dict | None = None        # F8: host_key -> userinfo (UserAgent.pm:17-31)
    respect_robots: bool = False           # north-rule robots.txt gate (off = reference parity):
                                           # seeds and children are joined to the
                                           # robots(host_key, body) table before they
                                           # enter the frontier (a disallowed URL is
                                           # never marked seen); http mode also gates
                                           # each wave before the fetch, since a host's
                                           # rules are learned when it first appears
    robots_agent: str = "wcm-spark"
    min_delay_waves: int = 0               # F6 politeness budget: waves a host rests between fetches
    broadcast_seen_max: int = 4_000_000    # D2 in-UDF probe while the exact digest set fits a broadcast
    fetch_mode: str = "corpus"             # "corpus" (test/bench join) | "http" (live network fetch)
    corpus_prepartitioned: bool = False    # corpus is a bucketed-by-url table: skip the
                                           # repartition+persist, let the bucketed scan
                                           # carry the join distribution (100 TB path)
    html_handlers: dict | None = None      # selector->extractor override (Mojo.pm:14,253-261); None = presets
    on_wave: object = None                 # callable(wave_id, pages_df) -> pages_df|None ('res' event analog)
    on_error: object = None                # callable(wave_id, errors_df) ('error' event, Mojo.pm:306-393)
    on_empty: object = None                # callable() when the frontier drains ('empty' event)
    redundancy: object = None              # callable(url, method, params) -> key replacing the md5 digest
                                           # (queue->redundancy, reference README.md:158-160)
    http_timeout: float = 10.0             # per-request timeout in http mode
    http_concurrency: int = 16             # sockets per partition in http mode
    min_delay_sec: float = 0.0             # F6 in wall-clock form (http mode): spacing between same-host requests
    backoff_statuses: tuple = ()           # F10 extension: statuses (e.g. 429, 503) that rest the
                                           # whole HOST for backoff_waves waves — the server said
                                           # "slow down"; its pending rows stay in the frontier and
                                           # re-enter the cut when the cooldown lapses. In-memory
                                           # state (advisory politeness): a resume restarts cooldowns
    backoff_waves: int = 4                 # cooldown length for backoff_statuses hosts
    validators: object = None              # conditional-GET validators (http mode): a
                                           # DataFrame (url, etag) from the prior crawl;
                                           # matching URLs fetch with If-None-Match and a
                                           # 304 records a body-less terminal visit (the
                                           # transfer the recrawl loop avoids). The fetched
                                           # frame's etag column carries each response's
                                           # NEW validator — harvest via on_wave to build
                                           # the next snapshot's validator table
    url_filter_expr: str | None = None     # declarative allow/deny gate over discovered
                                           # children (url, host_key, depth, literal_uri, ...)
                                           # applied BEFORE the seen-mark — the reference's
                                           # user-side enqueue guards (example/checkbot.pl:50
                                           # host allowlist, README.md:65-111 path/depth
                                           # filters) as a Catalyst-optimized predicate; a
                                           # filtered URL's digest is never marked (the user
                                           # never called enqueue), so a later allowed route
                                           # to it still crawls
    priority_expr: str | None = None       # north-rule priority queue: a SQL expression over
                                           # frontier columns (url, depth, host_key, seq, ...);
                                           # the wave cut ranks per host by (priority DESC, seq)
                                           # instead of pure FIFO. None (default) = FIFO — the
                                           # reference's queue order, required for visit-order
                                           # parity (Queue/Memory.pm dequeues insertion order)


@dataclass
class CrawlResult:
    visits: DataFrame          # (pos, wave, seq, url, original_url, redirect_history, status, depth, host_key)
    seen: DataFrame            # (digest)
    metrics: list = field(default_factory=list)
    images: DataFrame | None = None
    waves: int = 0
    fetched: int = 0


def _dedup_min(df: DataFrame, key: str, order_cols: list[str]) -> DataFrame:
    """Keep the first row per key under order_cols (D3: first-emit wins).
    partitionBy windows scale — each key group sorts locally after the
    hash exchange; no global sort."""
    w = Window.partitionBy(key).orderBy(*[F.col(c) for c in order_cols])
    return df.withColumn("__rn", F.row_number().over(w)).filter("__rn = 1").drop("__rn")


class Crawler:
    def __init__(
        self,
        spark: SparkSession,
        corpus: DataFrame | None,
        config: CrawlConfig | None = None,
    ):
        self.spark = spark
        self.config = config or CrawlConfig()
        self.corpus = corpus
        if corpus is None and self.config.fetch_mode != "http":
            raise ValueError("corpus-mode crawl needs a corpus DataFrame")
        # checkpoint_dir accepts a filesystem root (parquet+manifest store)
        # or an iceberg://catalog[/namespace] URI (real Iceberg tables when
        # the runtime jars + catalog conf are present)
        self.store = (
            store_for_session(spark, self.config.checkpoint_dir)
            if self.config.checkpoint_dir
            else None
        )
        self._closure = (
            self._redirect_closure(corpus, self.config.max_redirects)
            if corpus is not None
            else None
        )
        self._fetch_df: DataFrame | None = None
        # F8 credential store: static entries (URL or host_key keys) plus
        # per-wave learn-on-first-sight harvest (UserAgent.pm:17-31,58-63)
        self._creds: dict[str, str] = {
            self._normalize_cred_key(k): v
            for k, v in (self.config.credentials or {}).items()
        }
        # robots(host_key, body): the one table every robots gate joins.
        # Corpus mode reads it from the corpus here; live mode appends the
        # hosts each wave meets (_learn_robots). The driver keeps only the
        # host keys already asked and the declared Crawl-delays.
        self._robots: DataFrame | None = None
        self._robots_hosts: set[str] = set()
        self._robots_delays: dict[str, float] = {}
        # piggybacked driver state (maintained from the per-wave digest
        # collect while the exact seen mirror is alive; None = unknown):
        # count of pending userinfo-carrier rows, and every host_key that
        # ever entered the frontier (http+robots mode only)
        self._pending_ui: int | None = None
        self._pending_nonhttp: int | None = None
        self._frontier_hosts: set[str] | None = None
        if self.config.respect_robots and self.config.fetch_mode != "http":
            self._set_robots(
                corpus.filter(F.col("url").endswith("/robots.txt"))
                .filter((F.col("status") == 200) & F.col("body").isNotNull())
                .select(host_key_udf(F.col("url")).alias("host_key"), "body")
                .dropDuplicates(["host_key"])
            )

    def _set_robots(self, table: DataFrame) -> None:
        """Swap in a new robots table. It is persisted and counted, so the
        join planner sizes it from its real bytes: a broadcast join while
        small, a shuffle join past the broadcast threshold. An empty table
        is kept as None (every gate passes its rows through)."""
        table = table.persist()
        n = table.count()
        if self._robots is not None:
            self._robots.unpersist()
        if not n:
            table.unpersist()
        self._robots = table if n else None

    def _learn_robots(self, wave: DataFrame) -> None:
        """Live mode: fetch /robots.txt once per host new to the frontier,
        through the page fetcher (same agent, timeout and redirect budget),
        and append the hosts that serve one to the robots table. Each body
        is parsed once here, for its Crawl-delay.

        Scale shape: hosts ≪ URLs and only first-seen hosts fetch, so this
        is a handful of driver-side requests per wave."""
        from concurrent.futures import ThreadPoolExecutor

        from .sources.httpfetch import _fetch_one

        cfg = self.config
        if self._frontier_hosts is not None:
            # tracked superset of the wave's hosts (piggybacked on the
            # digest collect) — no per-wave distinct-collect job; fetching
            # a not-yet-scheduled host's robots a wave early is harmless
            hosts = self._frontier_hosts - self._robots_hosts
        else:
            hosts = {
                r["host_key"]
                for r in wave.select("host_key").distinct().collect()
                if r["host_key"]
            } - self._robots_hosts
        if not hosts:
            return

        def grab(hk: str):
            got = _fetch_one(
                hk + "/robots.txt", None, None, cfg.max_redirects,
                cfg.http_timeout, cfg.robots_agent, 1 << 20,
            )
            # unreachable/missing robots.txt ⇒ no row ⇒ allow-all
            return hk, got[5] if got[2] == 200 else None

        rows = []
        with ThreadPoolExecutor(max_workers=8) as pool:
            for hk, body in pool.map(grab, sorted(hosts)):
                self._robots_hosts.add(hk)
                if body:
                    rows.append((hk, body))
                    delay = parse_robots(
                        body.decode("utf-8", errors="replace"), cfg.robots_agent
                    ).crawl_delay
                    if delay:
                        self._robots_delays[hk] = delay
        if rows:
            new = self.spark.createDataFrame(rows, "host_key string, body binary")
            self._set_robots(
                new if self._robots is None else self._robots.unionByName(new)
            )

    # -- fetch ------------------------------------------------------------

    @staticmethod
    def _redirect_closure(corpus: DataFrame, max_redirects: int) -> DataFrame:
        """Resolve redirect chains once: src -> (final url, history).

        Only redirect rows participate (a small corpus subset), so the
        iterated self-join is cheap and wave fetches stay single-join.
        History layout matches Job::redirect (Job.pm:84-90): newest-first
        intermediates, original last, final excluded.
        """
        red = corpus.filter(F.col("redirect_to").isNotNull()).select(
            F.col("url").alias("r_src"), F.col("redirect_to").alias("r_to")
        )
        closure = red.select(
            F.col("r_src").alias("src"),
            F.col("r_to").alias("cur"),
            F.array(F.col("r_src")).alias("history"),
        )
        step = red.select(F.col("r_src").alias("s_url"), F.col("r_to").alias("s_to"))
        for _ in range(max_redirects - 1):
            j = closure.join(step, closure.cur == step.s_url, "left")
            closure = j.select(
                "src",
                F.coalesce(F.col("s_to"), F.col("cur")).alias("cur"),
                F.when(
                    F.col("s_to").isNotNull(), F.concat(F.array(F.col("cur")), F.col("history"))
                )
                .otherwise(F.col("history"))
                .alias("history"),
            )
        return closure.withColumnRenamed("cur", "final_url").localCheckpoint(eager=False)

    @staticmethod
    def _normalize_cred_key(key: str) -> str:
        """credentials() accepts URLs or host keys (UserAgent.pm:58-63)."""
        from .urlkit import host_key as hk

        return (hk(key) or key) if "://" in key else key

    def _harvest_credentials(self, wave: DataFrame) -> int:
        """F8 learn-on-first-sight (UserAgent.pm:17-31): any wave URL that
        carries userinfo teaches this host's credentials; later same-host
        requests get them re-attached. Userinfo-bearing URLs are rare, so
        the harvest is a driver collect of a tiny filtered slice — and the
        loop only calls it at all while its tracked pending-carrier count
        (piggybacked on the per-wave digest collect) is nonzero, so the
        common all-clean crawl pays ZERO extra jobs per wave. Returns the
        number of carrier rows found (the loop decrements its count)."""
        from .urlkit import host_key as hk

        carriers = wave.filter(F.col("url").rlike(UI_PAT))
        rows = carriers.select("url", "seq").orderBy("seq").collect()
        for r in rows:
            url = r["url"]
            key = hk(url)
            if key is None:
                continue
            rest = url.split("://", 1)[1]
            userinfo = rest.split("@", 1)[0]
            if userinfo:
                self._creds[key] = userinfo
        return len(rows)

    def _with_credentials(self, wave: DataFrame) -> DataFrame:
        """F8 (UserAgent.pm:17-31,58-63): attach stored userinfo per host_key
        via a broadcast dimension join; the authorized URL is what a real
        fetch would request, while dedup digests and redirect history keep
        the credential-free URL (Mojo.pm:206 strips userinfo)."""
        creds = self._creds
        if not creds:
            return wave.withColumn("fetch_auth_url", F.col("url"))
        cred_df = F.broadcast(
            self.spark.createDataFrame(
                [(k, v) for k, v in creds.items()], "cred_host string, userinfo string"
            )
        )
        joined = wave.join(cred_df, wave.host_key == cred_df.cred_host, "left")
        has_userinfo = F.col("url").rlike("^[a-z][a-z0-9+.-]*://[^/?#]*@")
        auth = F.when(
            F.col("userinfo").isNotNull() & ~has_userinfo,
            F.regexp_replace(F.col("url"), "^([a-z]+)://", F.concat(F.lit("$1://"), F.col("userinfo"), F.lit("@"))),
        ).otherwise(F.col("url"))
        return joined.withColumn("fetch_auth_url", auth).drop("cred_host", "userinfo")

    def _fetch_side(self) -> DataFrame:
        """Corpus fetch columns, hash-partitioned by url ONCE and cached.

        Every wave joins the frontier against this frame; without a pinned
        partitioning the join re-shuffles the whole corpus (bodies
        included) per wave. Partitioning both sides on the join key makes
        the exchange land on the small frontier slice only — the bodies
        never move after the one-time cache build. (Cluster analog:
        bucketed storage on url, or no join at all in real-fetch mode.)
        """
        if self._fetch_df is None:
            body = F.col("body")
            if (
                self.config.on_wave is None
                and self.config.on_error is None
                and not self.config.collect_images
            ):
                # No consumer ever reads a non-parseable body (the parse
                # UDF's JVM gate drops those rows pre-Arrow, visits are
                # body-free, and there's no image sink or user hook): null
                # them in the CACHED side, so the ~25%-of-bytes image
                # payload is neither cached nor rescanned by every wave's
                # fetch join. Any hook present → keep bodies verbatim.
                from .operators.scrape import parseable_ct_pred

                body = F.when(parseable_ct_pred(), F.col("body"))
            cols = [
                F.col("url").alias("c_url"), F.col("status"),
                F.col("content_type"), F.col("content_length"),
                body.alias("body"),
            ]
            if self.config.corpus_prepartitioned:
                # bucketed-by-url table: the scan itself carries the hash
                # partitioning (ProjectExec is alias-aware, so c_url keeps
                # it); no repartition, no persist — the 100 TB shape where
                # the corpus cannot live in memory
                self._fetch_df = self.corpus.select(*cols)
            else:
                n = self.spark.sparkContext.defaultParallelism
                self._fetch_df = (
                    self.corpus.select(*cols)
                    .repartition(n, F.col("c_url"))
                    .persist()
                )
        return self._fetch_df

    def _fetch_wave(self, wave: DataFrame) -> DataFrame:
        """S3 fetch: live HTTP (fetch_mode='http') or corpus join (test/bench).

        Both modes return the same shape, so the rest of the loop is
        fetch-agnostic. Real-fetch reference: Mojo.pm:83-111 non-blocking
        UA; redirects recorded per Job.pm:84-90 in both modes.
        """
        if self.config.fetch_mode == "http":
            from .sources.httpfetch import http_fetch_wave

            wave = self._with_credentials(wave)
            if self.config.validators is not None:
                # conditional GET: attach each URL's last-crawl validator;
                # the fetcher sends If-None-Match and 304s come back
                # body-less (status 304, a terminal visit — the scrape
                # guard skips body-less rows). One equi-join on url; the
                # validator side is a real table at scale, so no forced
                # broadcast — AQE picks the strategy. The validator side is
                # deduped first: the documented workflow harvests (url, etag)
                # from the fetched frame via on_wave, and that frame can hold
                # duplicate final urls (two request URLs redirecting to the
                # same final URL), which a raw left join would turn into
                # duplicate frontier rows and double fetches.
                vdf = (
                    self.config.validators
                    .select("url", "etag")
                    .dropDuplicates(["url"])
                )
                wave = wave.join(vdf, "url", "left")
            if self.config.min_delay_sec > 0 or self._robots_delays:
                # a host must not span partitions, or in-partition request
                # spacing would not be globally polite for the wave
                wave = wave.repartition(
                    self.spark.sparkContext.defaultParallelism, F.col("host_key")
                )
            return http_fetch_wave(
                wave,
                max_redirects=self.config.max_redirects,
                timeout=self.config.http_timeout,
                concurrency=self.config.http_concurrency,
                user_agent=self.config.robots_agent,
                creds=dict(self._creds),
                min_delay_sec=self.config.min_delay_sec,
                # robots Crawl-delay of the matched agent group raises the
                # per-host request spacing above the global min_delay_sec
                host_delays=self._robots_delays,
            )
        wave = self._with_credentials(wave)
        w = wave.join(self._closure, wave.url == self._closure.src, "left").select(
            wave["*"],
            F.coalesce(F.col("final_url"), wave.url).alias("fetch_url"),
            F.coalesce(F.col("history"), F.array().cast("array<string>")).alias("redirect_history"),
        )
        c = self._fetch_side()
        if not self.config.corpus_prepartitioned:
            # repartition the (narrow) frontier side to the corpus
            # partitioning so only the wave shuffles into the join
            w = w.repartition(
                self.spark.sparkContext.defaultParallelism, F.col("fetch_url")
            )
        # prepartitioned (bucketed) corpus: no manual exchange — the
        # planner shuffles the wave side into the bucket count, the
        # bucketed scan side plans NO exchange
        fetched = w.join(c, w.fetch_url == c.c_url, "left")
        return fetched.select(
            wave["seq"], wave["wave"], wave["depth"], wave["retries"],
            wave["method"], wave["params"], wave["host_key"], wave["digest"],
            wave["context"], wave["literal_uri"], wave["fetch_auth_url"],
            F.col("url").alias("request_url"),
            F.col("fetch_url").alias("url"),  # final URL after redirects (F9)
            F.try_element_at(F.col("redirect_history"), F.lit(-1)).alias("original_url_raw"),
            "redirect_history", "status", "content_type", "content_length", "body",
            # http mode emits etag (FETCHED_SCHEMA, conditional GET); keep
            # corpus mode schema-identical so on_wave consumers and
            # unionByName across fetch modes never diverge
            F.lit(None).cast("string").alias("etag"),
        ).withColumn("original_url", F.coalesce(F.col("original_url_raw"), F.col("url"))).drop(
            "original_url_raw"
        )

    # -- seeds ------------------------------------------------------------

    _SEED_SCHEMA = (
        "seq long, wave int, url string, host_key string, method string, "
        "params string, digest string, depth int, referrer_url string, "
        "literal_uri string, context string, context_kind string, retries int"
    )

    def _allowed_seed_list(self, seeds: list) -> list:
        """The list seeds the robots table allows, in order: one small
        job, so the driver-side seed fast path below stays dense."""
        from .urlkit import host_key as hk_fn

        rows = self.spark.createDataFrame(
            [(i, u, hk_fn(u)) for i, u in enumerate(seeds)],
            "i long, url string, host_key string",
        )
        gated = robots_gate(rows, self._robots, self.config.robots_agent)
        keep = {r["i"] for r in gated.select("i").collect()}
        return [u for i, u in enumerate(seeds) if i in keep]

    def _seed_frontier(self, seeds) -> DataFrame:
        if isinstance(seeds, (list, tuple)):
            # driver-side fast path: digest dedup (first wins) and dense
            # seq assignment are pure Python over the seed list — ONE
            # createDataFrame (host_salt rides as a lazy JVM column on
            # the caller's checkpoint) instead of the ~5 Spark jobs the
            # generic window/range-exchange path costs. Seed lists are
            # the overwhelmingly common entry; DataFrame seeds keep the
            # distributed path below.
            from .urlkit import host_key as hk_fn
            from .urlkit import job_digest

            red = self.config.redundancy
            rows = []
            seen_d = set()
            for u in seeds:
                dig = (
                    str(red(u, None, None)) if red is not None
                    else job_digest(u, None, None)
                )
                if dig in seen_d:
                    continue
                seen_d.add(dig)
                rows.append(
                    (len(rows), 0, u, hk_fn(u), None, None, dig, 0,
                     None, None, None, None, 0)
                )
            return (
                self.spark.createDataFrame(rows, self._SEED_SCHEMA)
                .withColumn(
                    "host_salt",
                    host_salt_col(F.col("host_key"), self.config.salts),
                )
                .select(*PENDING_COLS)
            )
        if isinstance(seeds, DataFrame):
            df = seeds
            if "seed_order" not in df.columns:
                df = df.withColumn(
                    "seed_order", F.row_number().over(Window.orderBy(F.lit(1))) - 1
                )
        else:
            df = self.spark.createDataFrame(
                [(i, u, None, None) for i, u in enumerate(seeds)],
                "seed_order long, url string, method string, params string",
            )
        if "method" not in df.columns:
            df = df.withColumn("method", F.lit(None).cast("string"))
        if "params" not in df.columns:
            df = df.withColumn("params", F.lit(None).cast("string"))
        if self.config.redundancy is not None:
            # user key function replaces the md5 digest for seeds too
            import pandas as pd

            from pyspark.sql.types import StringType

            red = self.config.redundancy

            @F.pandas_udf(StringType())
            def _red(urls, methods, params):
                return pd.Series(
                    [str(red(u, m, p)) for u, m, p in zip(urls, methods, params)]
                )

            dig = _red(F.col("url"), F.col("method"), F.col("params"))
        else:
            dig = digest_col(F.col("url"), F.col("method"), F.col("params"))
        df = (
            df.withColumn("digest", dig)
            .withColumn("host_key", host_key_udf(F.col("url")))
            .withColumn("host_salt", host_salt_col(F.col("host_key"), self.config.salts))
        )
        # robots before the digest dedup: a disallowed seed is dropped
        # without marking its digest (CrawlSimulator.enqueue)
        df = robots_gate(df, self._robots, self.config.robots_agent)
        df = _dedup_min(df, "digest", ["seed_order"])
        # seed_order is dense [0, n) by construction (list seeds: the
        # enumerate above; DataFrame seeds: row_number - 1), so the
        # arithmetic-bucket path applies — no sampling job at crawl start
        n_seeds = len(seeds) if not isinstance(seeds, DataFrame) else None
        df = assign_seq(
            df, ["seed_order"], out_col="seq", start=0,
            key_bounds=(0, n_seeds) if n_seeds else None,
        )
        return df.select(
            "seq",
            F.lit(0).alias("wave"),
            "url", "host_key", "host_salt", "method", "params", "digest",
            F.lit(0).alias("depth"),
            F.lit(None).cast("string").alias("referrer_url"),
            F.lit(None).cast("string").alias("literal_uri"),
            F.lit(None).cast("string").alias("context"),
            F.lit(None).cast("string").alias("context_kind"),
            F.lit(0).alias("retries"),
        )

    # -- politeness cut (F1) ----------------------------------------------

    def _wave_cut(self, pending: DataFrame, host_state: DataFrame | None = None, wave_id: int = 0) -> DataFrame:
        cfg = self.config
        wave = pending
        gates = []
        if cfg.min_delay_waves > 0:
            # F6 min-delay: a host fetched at wave w rests until w + delay
            gates.append(
                F.col("last_wave").isNull()
                | (F.lit(wave_id) - F.col("last_wave") > cfg.min_delay_waves)
            )
        if cfg.backoff_statuses:
            # F10 backoff: a 429/503 host rests until its rest_until wave
            gates.append(
                F.col("rest_until").isNull()
                | (F.lit(wave_id) > F.col("rest_until"))
            )
        if gates and host_state is not None:
            # host_state is one small row per host — broadcast join, no
            # frontier shuffle (the UserAgent active-host analog as data)
            cond = gates[0]
            for g in gates[1:]:
                cond = cond & g
            wave = (
                pending.join(F.broadcast(host_state), "host_key", "left")
                .filter(cond)
                .drop("last_wave", "rest_until")
            )
        # the wave-cut total order: FIFO by default (reference parity),
        # (priority DESC, seq) under the north-rule priority queue —
        # seq stays the tiebreak so the order remains total and the cut
        # deterministic for any priority expression
        order = (
            [F.expr(cfg.priority_expr).desc(), F.col("seq")]
            if cfg.priority_expr
            else [F.col("seq")]
        )
        if cfg.max_conn_per_host is not None:
            k = cfg.max_conn_per_host
            # two-phase per-host top-K (the reason frontier rows carry
            # host_salt): phase 1 caps each (host, salt) shard to K rows,
            # spreading a skewed host over cfg.salts tasks instead of
            # funneling its millions of pending rows through ONE window
            # task; phase 2 ranks the <= K*salts survivors per host. The
            # true per-host top-K is always contained in the union of
            # per-shard top-Ks under the SAME total order, so the result
            # is identical for FIFO and priority cuts alike.
            w1 = Window.partitionBy("host_key", "host_salt").orderBy(*order)
            wave = (
                wave.withColumn("__hs", F.row_number().over(w1))
                .filter(F.col("__hs") <= k)
                .drop("__hs")
            )
            w = Window.partitionBy("host_key").orderBy(*order)
            wave = (
                wave.withColumn("__hr", F.row_number().over(w))
                .filter(F.col("__hr") <= k)
                .drop("__hr")
            )
        if cfg.max_conn is not None:
            # TakeOrdered top-K: per-partition heads merged on one reducer,
            # K rows — not a global sort of the frontier
            wave = wave.orderBy(*order).limit(cfg.max_conn)
        return wave

    # -- main loop ----------------------------------------------------------

    def run(self, seeds) -> CrawlResult:
        cfg = self.config
        if isinstance(seeds, (list, tuple)) and self._robots is not None:
            # DataFrame seeds are gated inside _seed_frontier
            seeds = self._allowed_seed_list(seeds)
        pending = self._seed_frontier(seeds).localCheckpoint(eager=True)
        seen = pending.select("digest").localCheckpoint(eager=True)
        next_seq = pending.count()
        # seed the piggybacked trackers (list seeds: free driver-side scan;
        # DataFrame seeds: one narrow one-time job — never per-wave)
        if isinstance(seeds, (list, tuple)):
            import re

            self._pending_ui = len(
                {u for u in seeds if re.match(UI_PAT, u)}
            )
            if cfg.fetch_mode == "http":
                self._pending_nonhttp = len(
                    {u for u in seeds if not re.match(HTTP_PAT, u)}
                )
        else:
            self._pending_ui = pending.filter(F.col("url").rlike(UI_PAT)).count()
            if cfg.fetch_mode == "http":
                self._pending_nonhttp = pending.filter(
                    ~F.col("url").rlike(HTTP_PAT)
                ).count()
        if cfg.respect_robots and cfg.fetch_mode == "http":
            self._frontier_hosts = {
                r["host_key"]
                for r in pending.select("host_key").distinct().collect()
                if r["host_key"]
            }
        return self._loop(pending, seen, next_seq, start_wave=0)

    @classmethod
    def resume(cls, spark: SparkSession, corpus: DataFrame, config: CrawlConfig) -> "CrawlResult":
        """Continue a crawl from the last committed wave in checkpoint_dir.

        Restores frontier/seen/next_seq from the TableStore snapshots the
        loop commits every ``commit_every`` waves; the bloom prefilter, if
        the seen set needs one, is rebuilt from the restored seen table."""
        assert config.checkpoint_dir, "resume needs checkpoint_dir"
        crawler = cls(spark, corpus, config)
        store = crawler.store
        pending = store.read(spark, "frontier")
        if pending is None:
            raise ValueError("nothing to resume: no committed frontier")
        seen = store.read(spark, "seen")
        meta = store.latest_meta("frontier") or {}
        crawler._pending_ui = pending.filter(F.col("url").rlike(UI_PAT)).count()
        if config.fetch_mode == "http":
            crawler._pending_nonhttp = pending.filter(
                ~F.col("url").rlike(HTTP_PAT)
            ).count()
        if config.respect_robots and config.fetch_mode == "http":
            crawler._frontier_hosts = {
                r["host_key"]
                for r in pending.select("host_key").distinct().collect()
                if r["host_key"]
            }
        return crawler._loop(
            pending.localCheckpoint(eager=True),
            seen.localCheckpoint(eager=True),
            next_seq=int(meta.get("next_seq", 0)),
            start_wave=int(meta.get("wave", 0)),
        )

    def _loop(self, pending, seen, next_seq, start_wave) -> CrawlResult:
        cfg = self.config
        spark = self.spark
        import os as _os

        trace = _os.environ.get("WCM_TRACE") == "1"
        _tm = [time.monotonic(), 0]

        def _next_job_id():
            # DAGScheduler's internal next-job counter: deltas between
            # trace points = Spark jobs launched by that phase. Internal
            # API, so diagnostics only (guarded by WCM_TRACE).
            try:
                return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())
            except Exception:
                return 0

        if trace:
            _tm[1] = _next_job_id()

        def _tr(label):
            if trace:
                now = time.monotonic()
                jid = _next_job_id()
                print(
                    f"    [trace] {label}: {now - _tm[0]:.2f}s"
                    f" jobs={jid - _tm[1]}",
                    flush=True,
                )
                _tm[0] = now
                _tm[1] = jid

        visit_frames: list[DataFrame] = []
        image_frames: list[DataFrame] = []
        metrics: list[dict] = []
        uncommitted_visits: list[DataFrame] = []
        uncommitted_metrics: list[dict] = []
        wave_id = start_wave
        waves_run = 0
        total_fetched = 0
        host_state = None
        if cfg.min_delay_waves > 0 or cfg.backoff_statuses:
            host_state = spark.createDataFrame(
                [], "host_key string, last_wave int, rest_until int"
            )

        pending_count = pending.count()
        drain_level = (
            cfg.max_conn is None
            and cfg.max_conn_per_host is None
            and cfg.min_delay_waves == 0
            and not cfg.backoff_statuses
        )
        # Drain-level corpus crawls with no durable store can defer the
        # per-wave visits materialization: every wave's visits frame is a
        # narrow 2-join plan over already-checkpointed inputs, so the
        # final pos-assignment evaluates ALL of them in one job instead of
        # paying one checkpoint job per wave. http mode keeps the eager
        # narrow checkpoint (lazy frames would pin body blocks all crawl),
        # and the politeness path must stay eager because it unpersists
        # old frontiers that lazy visits would still reference.
        lazy_visits = (
            cfg.fetch_mode != "http" and drain_level and self.store is None
        )
        # Exact driver-side seen set for the in-UDF D2 probe — maintained
        # only while it fits cfg.broadcast_seen_max. Driver cost at the 4M
        # default: 4M x 32-char digest strings ≈ 128MB of payload, ~400MB
        # with Python object overhead — bounded and disclosed; beyond the
        # cutoff the mirror (and every tracker piggybacked on its per-wave
        # collect) is dropped and the bloom+anti-join path takes over.
        # The broadcast is INCREMENTAL: the base set ships once, then each
        # wave ships only its fresh-digest delta (seen_bcs pieces, largest
        # first); pieces re-consolidate into one broadcast every 8 waves so
        # the per-candidate probe stays O(1)-ish.
        seen_set: set | None = None
        seen_bcs: list = []
        seen_delta: set = set()
        # bloom prefilter of the anti-join, built on the first wave whose
        # seen set is past dedup.ANTI_JOIN_BROADCAST_MAX (never while the
        # exact mirror serves the probe in-UDF)
        bloom: NumpyBloom | None = None
        if cfg.broadcast_seen_max and next_seq <= cfg.broadcast_seen_max:
            seen_set = {r["digest"] for r in seen.select("digest").collect()}
        else:
            # no exact mirror ⇒ no piggybacked collect ⇒ trackers unknown
            self._pending_ui = None
            self._pending_nonhttp = None
            self._frontier_hosts = None
        while True:
            if pending_count == 0:
                if cfg.on_empty is not None:
                    cfg.on_empty()  # the 'empty' event (Mojo.pm:38-39,58-60)
                break
            if cfg.max_waves is not None and waves_run >= cfg.max_waves:
                break
            t0 = time.monotonic()
            _tm[0] = t0
            wave_id += 1
            waves_run += 1

            wave = self._wave_cut(pending, host_state, wave_id)
            if wave is not pending:
                wave = wave.localCheckpoint(eager=True)
                wave_count = wave.count()
                _tr("wave_cut")
            else:
                # no politeness gate — pending is already materialized and
                # its cardinality is already known (one job saved per wave)
                wave_count = pending_count
            if host_state is not None and wave_count:
                host_state = (
                    host_state.unionByName(
                        wave.select("host_key")
                        .distinct()
                        .withColumn("last_wave", F.lit(wave_id))
                        .withColumn("rest_until", F.lit(None).cast("int"))
                    )
                    .groupBy("host_key")
                    .agg(
                        F.max("last_wave").alias("last_wave"),
                        F.max("rest_until").alias("rest_until"),
                    )
                    .localCheckpoint(eager=True)
                )
            # Corpus mode: deliberately NOT persisted — caching would
            # materialize the body column (measured slower than the
            # consumers' re-joins); the visits checkpoint below prunes
            # body out of its join and the one heavy pass (fetch -> parse
            # -> dedup) happens exactly once. HTTP mode: the fetch has
            # real-world side effects and cost, so it is pinned eagerly —
            # every URL is requested exactly ONCE per wave no matter how
            # many frames derive from it.
            # credential harvest only while carriers are known (or could
            # be) pending — the tracked count makes the all-clean crawl
            # pay zero extra jobs per wave
            if self._pending_ui is None or self._pending_ui > 0:
                found = self._harvest_credentials(wave)
                if self._pending_ui is not None:
                    self._pending_ui -= found
            # wave_taken: the slice leaving the frontier this wave (incl.
            # robots-disallowed rows, which are skipped, not retried);
            # wave: the slice actually fetched. The carry below must
            # subtract the TAKEN count (what left the frontier), while the
            # fetch metric reports the post-gate count — conflating them
            # inflates pending_count by every disallowed row and the loop
            # never sees the frontier drain.
            wave_taken = wave
            wave_taken_count = wave_count
            if cfg.fetch_mode == "http" and (
                self._pending_nonhttp is None or self._pending_nonhttp > 0
            ):
                # live fetch speaks only http(s): ftp/ws/wss frontier rows
                # are skipped (not retried), gated here only while the
                # tracked pending-non-http count says any could be in play
                gated = wave.filter(F.col("url").rlike(HTTP_PAT)).localCheckpoint(
                    eager=True
                )
                gated_count = gated.count()
                if self._pending_nonhttp is not None:
                    self._pending_nonhttp -= wave_count - gated_count
                wave, wave_count = gated, gated_count
            if cfg.respect_robots and cfg.fetch_mode == "http":
                # live robots: a host's rules are learned when it first
                # appears, so rows enqueued before that are gated here,
                # before any socket opens
                self._learn_robots(wave)
                if self._robots is not None:
                    wave = robots_gate(
                        wave, self._robots, cfg.robots_agent
                    ).localCheckpoint(eager=True)
                    wave_count = wave.count()
            fetched = self._fetch_wave(wave)
            if cfg.fetch_mode == "http":
                fetched = fetched.localCheckpoint(eager=True)
            if cfg.backoff_statuses and host_state is not None:
                # the server said "slow down": rest the whole host for
                # backoff_waves waves; its unfetched rows stay pending and
                # re-enter the wave cut when the cooldown lapses
                backoff_hosts = (
                    fetched.filter(
                        F.col("status").isin(list(cfg.backoff_statuses))
                    )
                    .select("host_key")
                    .distinct()
                    .withColumn("last_wave", F.lit(None).cast("int"))
                    .withColumn(
                        "rest_until", F.lit(wave_id + cfg.backoff_waves)
                    )
                )
                host_state = (
                    host_state.unionByName(backoff_hosts)
                    .groupBy("host_key")
                    .agg(
                        F.max("last_wave").alias("last_wave"),
                        F.max("rest_until").alias("rest_until"),
                    )
                    .localCheckpoint(eager=True)
                )

            # 'wave' on a visit = the fetch wave (the enqueue wave lives on
            # the frontier row); pos ordering below needs the fetch wave
            _noui = lambda c: F.regexp_replace(  # noqa: E731
                c, "^([a-z][a-z0-9+.-]*://)[^/?#]*?@", "$1"
            )
            visits = fetched.select(
                F.lit(wave_id).alias("wave"), "seq",
                _noui(F.col("url")).alias("url"),
                _noui(F.col("request_url")).alias("request_url"),
                _noui(F.col("original_url")).alias("original_url"),
                F.transform("redirect_history", _noui).alias("redirect_history"),
                "status", "depth", "host_key",
            )
            # non-lazy paths: visits are NOT checkpointed here — they fold
            # into the heavy-pass checkpoint below (one job per wave, one
            # shared wave-side exchange) instead of paying a separate
            # fetch-join job per wave just to pin the narrow visit rows

            pages = fetched.filter(F.col("status").isNotNull())
            if cfg.max_depth is not None:
                pages = pages.filter(F.col("depth") < cfg.max_depth)

            if cfg.collect_images:
                from .operators.imagesink import extract_image_rows

                image_frames.append(extract_image_rows(fetched).localCheckpoint(eager=True))

            # D2 at the source while the exact digest set fits a broadcast:
            # the fused UDF drops already-seen children BEFORE they cross
            # the Arrow boundary (link-dense waves are ~97% seen rows), and
            # keeps only the partition-local first emit per digest. The
            # base set broadcasts ONCE; each later wave ships only its
            # fresh-digest delta (O(new) serialization per wave, not
            # O(total)), re-consolidating every 8 pieces. Beyond the
            # threshold seen_bcs is empty and the bloom+shuffle anti-join
            # backstop below takes over — same exact semantics.
            if seen_set is not None:
                if not seen_bcs:
                    seen_bcs.append(spark.sparkContext.broadcast(seen_set))
                elif seen_delta:
                    if len(seen_bcs) >= 8:
                        for b in seen_bcs:
                            b.unpersist()
                        seen_bcs = [spark.sparkContext.broadcast(seen_set)]
                    else:
                        seen_bcs.append(spark.sparkContext.broadcast(seen_delta))
                    seen_delta = set()
            _tr("seen_broadcast")
            if cfg.on_wave is not None:
                replaced = cfg.on_wave(wave_id, pages)
                if replaced is not None:
                    pages = replaced
            if cfg.on_error is not None:
                cfg.on_error(wave_id, fetched.filter(F.col("status").isNull()))
            children = scrape_resolve_children(
                pages.select("url", "content_type", "content_length", "body", "seq", "depth"),
                cfg.containers,
                seen_bc=seen_bcs if seen_bcs else None,
                local_first_wins=bool(seen_bcs),
                handlers=cfg.html_handlers,
                redundancy=cfg.redundancy,
            )
            # enqueue gate: disallowed children never get digest-marked
            children = robots_gate(children, self._robots, cfg.robots_agent)
            if cfg.url_filter_expr:
                # before the digest collect: a denied child never marks
                # seen, exactly like a user who never calls enqueue
                children = children.filter(F.expr(cfg.url_filter_expr))
            # D2 before D3: they commute on digest, and anti-joining first
            # (broadcast while seen fits) leaves the window dedup sorting
            # only the unseen sliver instead of every extracted edge
            if not seen_bcs:
                if (
                    cfg.use_bloom and bloom is None
                    and next_seq > dedup.ANTI_JOIN_BROADCAST_MAX
                ):
                    # first wave whose anti-join takes the bloom path: build
                    # from seen once; later waves fold in their fresh digests
                    bloom = NumpyBloom.sized(cfg.expected_urls, cfg.bloom_fpp)
                    build_bloom(seen, bloom)
                fresh = seen_anti_join(children, seen, bloom, seen_count=next_seq)  # D2
            else:
                fresh = children  # probe already applied in-UDF, exactly
            fresh = _dedup_min(fresh, "digest", ["parent_seq", "emit_idx"])  # D3

            # error channel (F10): requeue with retries+1, bypassing seen-check (S2).
            # With backoff configured, backoff statuses (429/503) requeue
            # through the same channel — the row retries after its host's
            # cooldown instead of being recorded as a terminal visit only
            retry = None
            if cfg.retry_errors > 0:
                err_cond = F.col("status").isNull()
                if cfg.backoff_statuses:
                    err_cond = err_cond | F.col("status").isin(
                        list(cfg.backoff_statuses)
                    )
                retry = (
                    fetched.filter(err_cond)
                    .filter(F.col("retries") < cfg.retry_errors)
                    .select(
                        F.col("request_url").alias("url"), "method", "params", "digest",
                        "host_key", "depth",
                        F.lit(None).cast("string").alias("referrer_url"),
                        F.lit(None).cast("string").alias("literal_uri"),
                        F.lit(None).cast("string").alias("context"),
                        F.lit(None).cast("string").alias("context_kind"),
                        (F.col("retries") + 1).alias("retries"),
                        F.lit(-1).cast("long").alias("parent_seq"),
                        F.lit(0).alias("emit_idx"),
                    )
                )

            remaining = pending.join(wave_taken.select("seq"), "seq", "left_anti")

            enqueue = fresh.select(
                "url", "host_key", "method", "params", "digest", "depth",
                "referrer_url", "literal_uri", "context", "context_kind",
                F.lit(0).alias("retries"), "parent_seq", "emit_idx",
            )
            if retry is not None:
                # Requeued jobs bypass the seen-check but NOT the cap —
                # Queue/Memory.pm applies the length check after the
                # requeue-bypassed redundancy check, so retries count
                # against capacity like any enqueue.
                enqueue = enqueue.unionByName(retry)

            if cfg.cap is not None:
                # F4: newcomers dropped once length exceeds cap; dropped rows
                # are NOT marked seen (Queue/Memory.pm:42-44 quirk)
                remaining_count = remaining.count()
                room = max(0, cfg.cap + 1 - remaining_count)
                enqueue = enqueue.orderBy("parent_seq", "emit_idx").limit(room)

            # THE one heavy materialization per wave: everything upstream
            # (fetch join -> fused parse UDF -> broadcast anti-join ->
            # dedup window) executes exactly once here. Without this,
            # repartitionByRange's sampling job inside assign_seq re-runs
            # the whole chain a second time just to pick range boundaries.
            bounds = (
                (next_seq - pending_count, next_seq) if drain_level else None
            )
            seq_done = False
            if lazy_visits:
                # FUSED drain-wave materialization — the whole per-wave
                # Spark side is ONE checkpoint job. Drain mode knows the
                # wave's parent-seq range ([next_seq - pending, next_seq);
                # retries carry parent_seq = -1, clamping into bucket 0
                # and still sorting first), so the arithmetic bucket
                # column + the PER-BUCKET local rank ride inside the heavy
                # checkpoint (the rank's __pid exchange replaces the
                # former second materialization), and an Observation
                # counts the buckets during the same job. The global seq
                # is then pure arithmetic over the pinned rows: local rank
                # + a literal bucket→offset map — a projection, not a
                # job. Downstream consumers (digest collect, next-wave
                # fetch, visits pos) read narrow projections of the
                # pinned blocks.
                from pyspark.sql import Observation

                from .operators.seq import (
                    arith_bucket_col,
                    arith_n_parts,
                    offsets_to_col,
                )

                n_parts = arith_n_parts(spark, bounds[1] - bounds[0])
                enqueue = enqueue.withColumn(
                    "__pid",
                    arith_bucket_col(
                        F.col("parent_seq"), bounds[0], bounds[1], n_parts
                    ),
                )
                obs = Observation(f"wave{wave_id}_buckets")
                enqueue = enqueue.observe(
                    obs,
                    *[
                        F.sum((F.col("__pid") == i).cast("long")).alias(f"c{i}")
                        for i in range(n_parts)
                    ],
                )
                local_w = Window.partitionBy("__pid").orderBy(
                    "parent_seq", "emit_idx"
                )
                enqueue = enqueue.withColumn(
                    "__rk", F.row_number().over(local_w)
                ).localCheckpoint(eager=True)
                from py4j.protocol import Py4JJavaError

                try:
                    m = obs.get
                    counts = {
                        i: m[f"c{i}"] for i in range(n_parts) if m[f"c{i}"]
                    }
                except Py4JJavaError:
                    # Under AQE (the stock-session default) the observed-
                    # metrics row of this checkpointed plan can come back
                    # malformed (PythonSQLUtils.toPyRow assertion, Spark
                    # 4.1.2). The rows are already pinned by the eager
                    # checkpoint, so recount the buckets with one narrow
                    # job over the cached blocks — identical counts, one
                    # extra cheap job only on sessions where the free
                    # Observation ride is unavailable.
                    counts = {
                        r["__pid"]: r["n"]
                        for r in enqueue.groupBy("__pid")
                        .agg(F.count(F.lit(1)).alias("n"))
                        .collect()
                    }
                offsets, acc = {}, next_seq
                for pid in sorted(counts):
                    offsets[pid] = acc
                    acc += counts[pid]
                enq_count = acc - next_seq
                off_col = offsets_to_col(offsets, next_seq)
                enqueue = (
                    enqueue.withColumn(
                        "seq", (F.col("__rk") - 1 + off_col).cast("long")
                    )
                    .withColumn("wave", F.lit(wave_id))
                    .withColumn(
                        "host_salt", host_salt_col(F.col("host_key"), cfg.salts)
                    )
                    .select(*PENDING_COLS)
                )
                seq_done = True
            else:
                # Fold the visits materialization INTO the heavy pass: the
                # two frames union into one checkpoint (discriminator
                # column), so the wave pays ONE job — the visits branch's
                # wave-side exchange is shared with the fetch via Spark's
                # ReuseExchange, and both result frames are narrow filters
                # over the pinned blocks afterwards. (Previously the
                # politeness/http/store paths paid a second fetch-join job
                # per wave just to pin the visit rows.)
                _vcols = [
                    "wave", "seq", "url", "request_url", "original_url",
                    "redirect_history", "status", "depth", "host_key",
                ]
                _ecols = [
                    "url", "host_key", "method", "params", "digest", "depth",
                    "referrer_url", "literal_uri", "context", "context_kind",
                    "retries", "parent_seq", "emit_idx",
                ]
                combined = (
                    visits.withColumn("__src", F.lit(0))
                    .unionByName(
                        enqueue.withColumn("__src", F.lit(1)),
                        allowMissingColumns=True,
                    )
                    .localCheckpoint(eager=True)
                )
                visits = combined.filter("__src = 0").select(*_vcols)
                enqueue = combined.filter("__src = 1").select(*_ecols)
            visit_frames.append(visits)
            _tr("heavy_pass_ckpt")
            if not seq_done:
                # Non-drain paths: politeness waves cut a seq-clustered
                # subset of the frontier (arithmetic bounds would be
                # loose → skewed buckets), so they keep assign_seq's
                # sampled range exchange; http/store drain waves know
                # bounds and use the arithmetic split inside assign_seq.
                enqueue, enq_count = assign_seq(
                    enqueue, ["parent_seq", "emit_idx"], out_col="seq",
                    start=next_seq, return_count=True, input_materialized=True,
                    key_bounds=bounds,
                )
                cached_exchange = getattr(enqueue, "_wcm_cached_exchange", None)
                enqueue = (
                    enqueue.withColumn("wave", F.lit(wave_id))
                    .withColumn("host_salt", host_salt_col(F.col("host_key"), cfg.salts))
                    .select(*PENDING_COLS)
                    .localCheckpoint(eager=True)
                )
                if cached_exchange is not None:
                    # assign_seq persisted its range exchange so its two
                    # actions shared one shuffle; the final checkpoint
                    # above was the last reader — release the blocks now
                    cached_exchange.unpersist()
            _tr("assign_seq+final_ckpt")
            next_seq += enq_count
            if seen_set is not None and enq_count:
                if len(seen_set) + enq_count > cfg.broadcast_seen_max:
                    # outgrown: bloom+anti-join from here on; the trackers
                    # piggybacked on this collect die with the mirror
                    seen_set = None
                    for b in seen_bcs:
                        b.unpersist()
                    seen_bcs = []
                    self._pending_ui = None
                    self._pending_nonhttp = None
                    self._frontier_hosts = None
                else:
                    # ONE driver collect per wave carries everything the
                    # loop needs from the fresh rows: digests (exact seen
                    # mirror + next delta broadcast), the userinfo-carrier
                    # flag (credential-harvest gate) and, in live-robots
                    # mode, host keys (robots-refresh gate).
                    sel = [
                        F.col("digest"),
                        F.col("url").rlike(UI_PAT).alias("__ui"),
                    ]
                    track_nonhttp = (
                        cfg.fetch_mode == "http"
                        and self._pending_nonhttp is not None
                    )
                    if track_nonhttp:
                        sel.append((~F.col("url").rlike(HTTP_PAT)).alias("__nh"))
                    track_hosts = self._frontier_hosts is not None
                    if track_hosts:
                        sel.append(F.col("host_key"))
                    # Arrow-batched driver transfer: toPandas moves the
                    # per-wave delta as columnar batches (~10x faster than
                    # the row-Row collect at 100k+ fresh digests/wave) and
                    # the tracker folds become vector ops
                    pdf = enqueue.select(*sel).toPandas()
                    fresh_digests = pdf["digest"].tolist()
                    seen_set.update(fresh_digests)
                    seen_delta.update(fresh_digests)
                    n_ui = int(pdf["__ui"].sum())
                    if self._pending_ui is not None and n_ui:
                        self._pending_ui += n_ui
                    if track_nonhttp:
                        self._pending_nonhttp += int(pdf["__nh"].sum())
                    if track_hosts:
                        self._frontier_hosts.update(
                            h for h in pdf["host_key"] if h
                        )
            _tr("digest_collect")

            no_caps = drain_level
            if no_caps:
                # BFS fast path: the wave was the whole pending set, so the
                # next frontier is exactly the fresh enqueue (already
                # materialized) — skip re-materializing remaining ∪ fresh
                # and the seen re-checkpoint: O(frontier) per wave instead
                # of O(total crawled) per wave
                new_pending = enqueue
                new_seen = seen.unionByName(enqueue.select("digest"))
            else:
                new_pending = remaining.unionByName(enqueue)
            if cfg.shuffle_every and wave_id % cfg.shuffle_every == 0:
                # F5 (Queue/Memory.pm:32-35): periodic re-sequencing for host
                # diversity. Seeded-deterministic (md5 ordering) where the
                # reference is unseeded; new seqs stay above next_seq so they
                # remain unique. Largely subsumed by the per-host wave cut.
                new_pending = assign_seq(
                    new_pending.withColumn(
                        "__shuffle_key", F.md5(F.concat(F.col("url"), F.lit(str(wave_id))))
                    ),
                    ["__shuffle_key"],
                    out_col="seq",
                    start=next_seq,
                ).drop("__shuffle_key").select(*PENDING_COLS)
                next_seq += pending_count - wave_taken_count + enq_count
                new_pending = new_pending.localCheckpoint(eager=True)
                new_seen = seen.unionByName(enqueue.select("digest"))
            elif not no_caps:
                new_pending = new_pending.localCheckpoint(eager=True)
                new_seen = seen.unionByName(enqueue.select("digest"))
            # In EVERY path seen is now a lazy union of materialized pieces
            # (seed checkpoint + per-wave enqueue checkpoints): unioning is
            # plan-only, so the old per-wave O(total-seen) re-checkpoint is
            # gone; the broadcast anti-join just scans the pieces.
            if bloom is not None and enq_count:
                build_bloom(enqueue.select("digest"), bloom)
            _tr("pending_seen_update")
            if not no_caps:
                pending.unpersist()
            pending, seen = new_pending, new_seen
            # exact carry in both paths: remaining = pending - wave_taken
            # (pre-robots-gate — disallowed rows also left the frontier),
            # plus the fresh enqueue — no per-wave recount job needed
            pending_count = pending_count - wave_taken_count + enq_count

            total_fetched += wave_count
            metrics.append(
                dict(
                    wave=wave_id,
                    fetched=wave_count,
                    enqueued=enq_count,
                    pending=pending_count,
                    # rows that left the frontier unfetched this wave:
                    # robots-disallowed + non-http(s) schemes in live mode
                    skipped=wave_taken_count - wave_count,
                    sec=round(time.monotonic() - t0, 3),
                )
            )

            uncommitted_visits.append(visits)
            uncommitted_metrics.append(metrics[-1])
            if self.store and wave_id % cfg.commit_every == 0:
                self._commit_batch(
                    uncommitted_visits, uncommitted_metrics, pending, seen,
                    wave_id, next_seq,
                )
                uncommitted_visits, uncommitted_metrics = [], []

        if self.store and uncommitted_visits:
            # flush waves since the last commit_every boundary so the
            # durable visits table covers every wave on clean exit
            self._commit_batch(
                uncommitted_visits, uncommitted_metrics, pending, seen,
                wave_id, next_seq,
            )

        visits_all = visit_frames[0] if visit_frames else self._empty_visits()
        for vf in visit_frames[1:]:
            visits_all = visits_all.unionByName(vf)
        if lazy_visits and cfg.shuffle_every is None and visit_frames:
            # Drain-mode invariant: every frontier seq is fetched exactly
            # once (no politeness slicing, and the fetch-time gates are
            # http-only so nothing is skipped in this mode) and each wave
            # fetches a strictly higher seq range than the last — so the
            # dense (wave, seq) position IS the frontier seq. O(1) column,
            # no end-of-crawl range-exchange/rank pass over the history.
            visits_all = visits_all.withColumn("pos", F.col("seq").cast("long"))
        else:
            # Distributed dense position — a global Window.orderBy would
            # funnel the whole crawl history through one partition.
            visits_all = assign_seq(visits_all, ["wave", "seq"], out_col="pos")
        images = None
        if image_frames:
            images = image_frames[0]
            for f in image_frames[1:]:
                images = images.unionByName(f)

        return CrawlResult(
            visits=visits_all, seen=seen, metrics=metrics, images=images,
            waves=wave_id, fetched=total_fetched,
        )

    def _commit_batch(
        self, visit_frames, metric_rows, pending, seen, wave_id, next_seq
    ) -> None:
        """Commit every wave since the last boundary in one batch.

        Visits are appended BEFORE the frontier overwrite: a crash between
        the two leaves duplicate visit rows (harmless — ``read_visits``
        dedups by (wave, seq), and the re-run is deterministic) rather than
        permanently losing waves. With commit_every > 1 the batch carries
        the union of all uncommitted per-wave frames, not just the last.
        """
        visits = visit_frames[0]
        for vf in visit_frames[1:]:
            visits = visits.unionByName(vf)
        self.store.commit("visits", visits, mode="append", meta={"wave": wave_id})
        self.store.commit(
            "frontier", pending, mode="overwrite",
            meta={"wave": wave_id, "next_seq": next_seq},
        )
        self.store.commit("seen", seen, mode="overwrite", meta={"wave": wave_id})
        self.store.commit(
            "metrics",
            self.spark.createDataFrame(metric_rows),
            mode="append",
            meta={"wave": wave_id},
        )
        cfg = self.config
        if cfg.compact_every_commits:
            self._commits_done = getattr(self, "_commits_done", 0) + 1
            if self._commits_done % cfg.compact_every_commits == 0:
                # Store maintenance on the commit path (Iceberg
                # rewrite_data_files + expire_snapshots shape): the append
                # tables accumulate one tiny-file directory per commit — at
                # 100k-wave scale the visits scan goes metadata-bound
                # without this. Compaction commits a new snapshot (meta
                # carried forward, so resume still reads wave/next_seq);
                # expiry then reclaims directories no retained snapshot
                # references. Crash-safety: manifest swaps atomically
                # before any delete, and resume only ever reads the
                # CURRENT snapshot.
                for t in ("visits", "metrics"):
                    self.store.compact(self.spark, t)
                for t in ("visits", "metrics", "frontier", "seen"):
                    self.store.expire_snapshots(
                        t, keep_last=cfg.expire_keep_snapshots
                    )

    @classmethod
    def read_visits(cls, spark: SparkSession, config: "CrawlConfig") -> DataFrame | None:
        """Durable visits with crash-duplicate rows removed.

        A crash after the visits append but before the frontier overwrite
        makes the resumed run re-append deterministic duplicates; (wave,
        seq) is a crawl-unique key, so dropDuplicates restores exactness.
        """
        from .store import for_session as _store_for_session

        store = _store_for_session(spark, config.checkpoint_dir)
        committed = store.read(spark, "visits")
        return None if committed is None else committed.dropDuplicates(["wave", "seq"])

    def _empty_visits(self) -> DataFrame:
        return self.spark.createDataFrame(
            [],
            "wave int, seq long, url string, request_url string, original_url string, "
            "redirect_history array<string>, status int, depth int, host_key string",
        )
