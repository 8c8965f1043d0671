"""robots.txt parsing, caching, and engine/simulator parity under robots."""

from wcm_spark.robots import RobotsCache, parse_robots

BODY = """
# comments ignored
User-agent: evilbot
Disallow: /

User-agent: *
Disallow: /private/
Disallow: /tmp
Allow: /private/ok/
Disallow: /*.zip$
Disallow:
"""


def test_parse_and_match():
    rules = parse_robots(BODY, agent="wcm-spark")
    assert rules.allowed("/")
    assert rules.allowed("/public/x.html")
    assert not rules.allowed("/private/secret.html")
    assert rules.allowed("/private/ok/fine.html")  # longest-match Allow wins
    assert not rules.allowed("/tmpfile")  # prefix match, no slash needed
    assert not rules.allowed("/download/a.zip")  # wildcard + $ anchor
    assert rules.allowed("/download/a.zip.html")  # $ anchor respected


def test_agent_group_selection():
    evil = parse_robots(BODY, agent="evilbot")
    assert not evil.allowed("/anything")
    other = parse_robots("User-agent: foo\nDisallow: /x\n", agent="bar")
    assert other.allowed("/x")  # no matching group, no * group -> all allowed


def test_cache_roundtrip_and_unknown_host():
    cache = RobotsCache({"http://a": "User-agent: *\nDisallow: /no\n"})
    assert not cache.allowed("http://a", "http://a/no/1")
    assert cache.allowed("http://a", "http://a/yes")
    assert cache.allowed("http://b", "http://b/no/1")  # no robots -> allowed


def test_robots_parity_engine_vs_simulator(spark):
    """With respect_robots on, engine and simulator agree on visit order
    and seen set — and both skip the disallowed subtrees. One seed is a
    disallowed page: both drop it without marking its digest, whether the
    seeds come as a list or as a DataFrame."""
    from wcm_spark.corpus import corpus_rows, page_url, seed_urls
    from wcm_spark.crawlcore import CorpusPage, CrawlSimulator
    from wcm_spark.scheduler import CrawlConfig, Crawler
    from wcm_spark.urlkit import host_key

    rows = corpus_rows(3, 8)
    pages = {
        r["url"]: CorpusPage(
            url=r["url"], status=r["status"], content_type=r["content_type"],
            content_length=r["content_length"], body=r["body"],
            redirect_to=r["redirect_to"],
        )
        for r in rows
    }
    bodies = {
        host_key(u): p.body.decode()
        for u, p in pages.items()
        if u.endswith("/robots.txt") and p.body
    }
    assert bodies, "corpus must include robots.txt sites"
    robots = RobotsCache(bodies, agent="wcm-spark")
    denied = page_url(1, 7)  # site1's robots.txt disallows its last page
    assert not robots.allowed(host_key(denied), denied)
    seeds = [seed_urls(3)[0], denied, *seed_urls(3)[1:]]
    sim = CrawlSimulator(corpus=pages, robots=robots)
    for u in seeds:
        sim.enqueue(u)
    sim.crawl()

    corpus_df = spark.createDataFrame(
        [(r["url"], r["status"], r["content_type"], r["content_length"], r["body"], r["redirect_to"]) for r in rows],
        "url string, status int, content_type string, content_length bigint, body binary, redirect_to string",
    ).cache()
    cfg = CrawlConfig(expected_urls=10_000, use_bloom=False, respect_robots=True)
    seed_df = spark.createDataFrame(list(enumerate(seeds)), "seed_order long, url string")
    for seed_arg in (seeds, seed_df):
        res = Crawler(spark, corpus_df, cfg).run(seed_arg)
        got = [r["url"] for r in res.visits.filter("status is not null").orderBy("pos").collect()]
        assert got == sim.visit_order
        assert {r["digest"] for r in res.seen.collect()} == sim.seen
        assert denied not in got
        # disallowed subtree actually skipped (site1 is the robots site)
        assert not any("/r/" in u and "site1" in u for u in got)


def test_live_robots_fetch_and_gate(spark):
    """http mode with no corpus: robots.txt is fetched live once per new
    host, disallowed URLs are never requested, and allowed crawling
    proceeds normally."""
    import threading
    from collections import Counter
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from wcm_spark.scheduler import Crawler, CrawlConfig

    hits: Counter = Counter()
    lock = threading.Lock()

    class H(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            with lock:
                hits[self.path] += 1
            if self.path == "/robots.txt":
                body = b"User-agent: *\nDisallow: /private/\n"
                ct = "text/plain"
            elif self.path == "/index.html":
                body = (
                    b'<a href="/private/x.html">no</a>'
                    b'<a href="/pub/y.html">yes</a>'
                )
                ct = "text/html"
            else:
                body, ct = b"leaf", "text/html"
            self.send_response(200)
            self.send_header("Content-Type", ct)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        cfg = CrawlConfig(
            fetch_mode="http", use_bloom=False, expected_urls=100,
            http_timeout=5.0, respect_robots=True,
        )
        res = Crawler(spark, None, cfg).run([f"{base}/index.html"])
        urls = {r["request_url"] for r in res.visits.collect()}
        assert urls == {f"{base}/index.html", f"{base}/pub/y.html"}
        assert hits["/robots.txt"] == 1      # fetched once, cached
        assert hits.get("/private/x.html", 0) == 0  # never requested
        assert hits["/pub/y.html"] == 1
    finally:
        srv.shutdown()


def test_live_robots_table_gates_enqueue_under_cap(spark):
    """Live mode keeps robots as one table, so once a host's robots.txt is
    fetched, every later discovery on that host is gated at enqueue — a
    disallowed URL never enters the frontier, never gets digest-marked and
    never takes cap room. Two hosts (127.0.0.1 / localhost): wave 2 learns
    localhost's rules, and localhost's b.html then links two disallowed
    paths on the FIRST host ahead of an allowed one. With cap=1 the queue
    has room for two newcomers that wave, so the allowed c.html is crawled
    only if the disallowed links took no room."""
    import threading
    from collections import Counter
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from wcm_spark.scheduler import Crawler, CrawlConfig
    from wcm_spark.urlkit import job_digest

    hits: Counter = Counter()
    lock = threading.Lock()

    class H(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            with lock:
                hits[f"{self.headers.get('Host', '')}{self.path}"] += 1
            port = srv.server_address[1]
            if self.path == "/robots.txt":
                body, ct = b"User-agent: *\nDisallow: /private/\n", "text/plain"
            elif self.path == "/index.html":
                # wave 1 (127.0.0.1): one allowed same-host leaf, one
                # disallowed same-host path (its rules are already known),
                # and the second host's entry page
                body = (
                    f'<a href="/pub/a.html">a</a>'
                    f'<a href="/private/x.html">x</a>'
                    f'<a href="http://localhost:{port}/pub/b.html">b</a>'
                    .encode()
                )
                ct = "text/html"
            elif self.path == "/pub/b.html":
                # wave 2, after localhost's robots.txt joined the table:
                # two disallowed first-host links, then an allowed one
                body = (
                    f'<a href="http://127.0.0.1:{port}/private/w.html">w</a>'
                    f'<a href="http://127.0.0.1:{port}/private/v.html">v</a>'
                    f'<a href="http://127.0.0.1:{port}/pub/c.html">c</a>'
                    .encode()
                )
                ct = "text/html"
            else:
                body, ct = b"leaf", "text/html"
            self.send_response(200)
            self.send_header("Content-Type", ct)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    port = srv.server_address[1]
    base = f"http://127.0.0.1:{port}"
    try:
        cfg = CrawlConfig(
            fetch_mode="http", use_bloom=False, expected_urls=100,
            http_timeout=5.0, respect_robots=True, max_waves=6, cap=1,
        )
        res = Crawler(spark, None, cfg).run([f"{base}/index.html"])
        urls = {r["request_url"] for r in res.visits.collect()}
        assert urls == {
            f"{base}/index.html", f"{base}/pub/a.html",
            f"http://localhost:{port}/pub/b.html", f"{base}/pub/c.html",
        }
        # disallowed paths never requested on either host
        assert not [k for k in hits if "/private/" in k]
        assert hits[f"localhost:{port}/robots.txt"] == 1
        # disallowed URLs found after their host's robots.txt was fetched
        # are never digest-marked
        seen = {r["digest"] for r in res.seen.collect()}
        for path in ("x", "w", "v"):
            assert job_digest(f"{base}/private/{path}.html", None, None) not in seen
        # the frontier only ever held allowed URLs: a, b, then c, then
        # nothing; no wave skipped a row at fetch time
        assert [m["pending"] for m in res.metrics] == [2, 1, 0]
        assert all(m["skipped"] == 0 for m in res.metrics)
    finally:
        srv.shutdown()


def test_fetch_time_robots_gate_drains_frontier(spark):
    """Regression: a frontier row gated away at FETCH time (its host's
    robots rules were unknown at enqueue, learned only when the row came
    up for fetching) must still count as having left the frontier —
    pending_count otherwise stays inflated forever and the loop spins on
    empty waves instead of hitting the empty-frontier break."""
    import threading
    from collections import Counter
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from wcm_spark.scheduler import Crawler, CrawlConfig

    hits: Counter = Counter()
    lock = threading.Lock()

    class H(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            with lock:
                hits[self.path] += 1
            if self.path == "/robots.txt":
                body, ct = b"User-agent: *\nDisallow: /private/\n", "text/plain"
            elif self.path == "/index.html":
                # cross-host link: localhost is a DIFFERENT host_key than
                # 127.0.0.1, so its robots are unknown at enqueue time and
                # the disallowed row is only gated when wave 2 fetches it
                body = (
                    f'<a href="http://localhost:{srv.server_address[1]}'
                    f'/private/x.html">other-host</a>'.encode()
                )
                ct = "text/html"
            else:
                body, ct = b"leaf", "text/html"
            self.send_response(200)
            self.send_header("Content-Type", ct)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        cfg = CrawlConfig(
            fetch_mode="http", use_bloom=False, expected_urls=100,
            http_timeout=5.0, respect_robots=True,
            max_waves=5,  # guard: pre-fix the loop would spin to this cap
        )
        res = Crawler(spark, None, cfg).run([f"{base}/index.html"])
        # wave 1 fetches index; wave 2's only row is gated away -> frontier
        # empty -> the loop must stop at wave 2, with pending fully drained
        assert res.waves == 2
        assert res.metrics[-1]["pending"] == 0
        assert hits.get("/private/x.html", 0) == 0  # gated, never requested
    finally:
        srv.shutdown()


def test_crawl_delay_parse_and_state():
    body = (
        "User-agent: *\nCrawl-delay: 2\nDisallow: /x\n\n"
        "User-agent: wcm-spark\nCrawl-delay: 0.5\nDisallow: /y\n"
    )
    # matched group's delay wins over *'s
    assert parse_robots(body, agent="wcm-spark").crawl_delay == 0.5
    assert parse_robots(body, agent="otherbot").crawl_delay == 2.0
    # absent / unparsable / negative delays are ignored
    assert parse_robots("User-agent: *\nDisallow: /x\n").crawl_delay is None
    assert parse_robots("User-agent: *\nCrawl-delay: soon\n").crawl_delay is None
    assert parse_robots("User-agent: *\nCrawl-delay: -1\n").crawl_delay is None
    # a crawl-delay-only group still matches (delay without path rules)
    only = parse_robots("User-agent: *\nCrawl-delay: 3\n")
    assert only.crawl_delay == 3.0 and only.allowed("/anything")

    cache = RobotsCache({
        "http://a": "User-agent: *\nCrawl-delay: 1.5\nDisallow: /no\n",
        "http://b": "User-agent: *\nDisallow: /no\n",
    })
    assert cache.delay("http://a") == 1.5
    assert cache.delay("http://b") == 0.0
    assert cache.delay(None) == 0.0
    assert cache.host_delays() == {"http://a": 1.5}


def test_live_crawl_delay_spaces_requests(spark):
    """robots.txt Crawl-delay drives per-host wall-clock spacing with NO
    global min_delay_sec configured — server timestamps prove the gap."""
    import threading
    import time as _time
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from wcm_spark.scheduler import Crawler, CrawlConfig

    stamps: dict = {}
    lock = threading.Lock()

    class H(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            with lock:
                stamps[self.path] = _time.monotonic()
            if self.path == "/robots.txt":
                body, ct = b"User-agent: *\nCrawl-delay: 0.4\n", "text/plain"
            elif self.path == "/root.html":
                body = (
                    b'<a href="/a.html">a</a><a href="/b.html">b</a>'
                    b'<a href="/c.html">c</a>'
                )
                ct = "text/html"
            else:
                body, ct = b"leaf", "text/html"
            self.send_response(200)
            self.send_header("Content-Type", ct)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        cfg = CrawlConfig(
            fetch_mode="http", use_bloom=False, expected_urls=100,
            http_timeout=5.0, respect_robots=True,
        )
        res = Crawler(spark, None, cfg).run([f"{base}/root.html"])
        assert res.fetched == 4
        ts = sorted(stamps[p] for p in ("/a.html", "/b.html", "/c.html"))
        gaps = [ts[1] - ts[0], ts[2] - ts[1]]
        assert all(g >= 0.35 for g in gaps), gaps
    finally:
        srv.shutdown()
