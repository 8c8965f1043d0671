"""Real HTTP fetch source (S3): batched network fetch inside mapInPandas.

The reference crawls live URLs with a non-blocking UserAgent
(lib/WWW/Crawler/Mojo.pm:83-111, UserAgent.pm); the Spark analog is a
partition-parallel, thread-concurrent fetch: every frontier partition is
one Arrow batch stream, and inside each batch a thread pool drives up to
``concurrency`` sockets. Cluster-level fetch parallelism is therefore
(executors x partitions x concurrency), while per-host politeness stays
upstream in the wave cut (F1/F6) exactly as in corpus mode.

Redirect recording matches F9 / Job::redirect (Job.pm:84-90): redirects
are followed hop-by-hop (NOT delegated to urllib) so the history can be
recorded newest-intermediate-first with the original last and the final
URL excluded; at most ``max_redirects`` hops (Mojo.pm:50), after which the
last response (typically the 3xx itself) is the result. Network errors
yield status NULL so the error/retry channel (F10/S2) sees them.

stdlib-only on purpose — the sandbox has no aiohttp; urllib in a thread
pool saturates a link just as well for crawl-sized payloads.
"""

from __future__ import annotations

import base64
import http.client
import urllib.error
import urllib.parse
import urllib.request
from concurrent.futures import ThreadPoolExecutor

import pandas as pd

from ..urlkit import host_key as _host_key

__all__ = ["http_fetch_wave", "FETCHED_SCHEMA"]

FETCHED_SCHEMA = (
    "seq long, wave int, depth int, retries int, method string, params string, "
    "host_key string, digest string, context string, literal_uri string, "
    "fetch_auth_url string, request_url string, url string, "
    "original_url string, redirect_history array<string>, status int, "
    "content_type string, content_length long, body binary, etag string"
)


class _NoRedirect(urllib.request.HTTPRedirectHandler):
    """Surface 3xx responses instead of following them — the crawler
    records every hop itself (F9 history layout)."""

    def redirect_request(self, req, fp, code, msg, headers, newurl):
        return None


def _fetch_one(
    url: str,
    method: str | None,
    params: str | None,
    max_redirects: int,
    timeout: float,
    user_agent: str,
    max_body: int,
    creds: dict | None = None,
    etag: str | None = None,
):
    """Fetch one job, following redirects manually.

    Returns (final_url, history, status, content_type, content_length,
    body, etag) with history per Job::redirect: [newest intermediate,
    ..., original], final excluded, empty when no redirect happened.

    ``etag`` is the conditional-GET validator (If-None-Match) from the
    prior crawl of this URL, sent on the FIRST hop of GETs only; a 304
    answer returns (status=304, body=None) — the transfer the recrawl
    loop avoids. The returned etag is the response's validator (the
    one to store for the NEXT recrawl), falling back to the sent one
    on 304s from servers that omit it."""
    opener = urllib.request.build_opener(_NoRedirect)
    history: list[str] = []
    cur = url
    data = None
    req_method = (method or "GET").upper()
    if req_method == "POST" and params:
        data = params.encode("utf-8")
    for _hop in range(max_redirects + 1):
        # F8 per-hop credentials (UserAgent.pm:17-31): a hop URL carrying
        # userinfo teaches this host (for later hops in this chain); a
        # bare hop to a known host gets the stored userinfo. urllib does
        # not honor URL userinfo, so it becomes a Basic auth header and
        # the socket request URL stays credential-free.
        headers = {"User-Agent": user_agent}
        if etag and _hop == 0 and req_method == "GET":
            headers["If-None-Match"] = etag
        req_url = cur
        if "@" in cur.split("://", 1)[-1].split("/", 1)[0]:
            rest = cur.split("://", 1)[1]
            userinfo = rest.split("@", 1)[0]
            req_url = _strip_userinfo(cur)
            if creds is not None:
                hk = _host_key(req_url)
                if hk:
                    creds[hk] = userinfo
        else:
            hk = _host_key(cur)
            userinfo = creds.get(hk) if (creds and hk) else None
        if userinfo:
            headers["Authorization"] = "Basic " + base64.b64encode(
                userinfo.encode("utf-8")
            ).decode("ascii")
        req = urllib.request.Request(
            req_url, data=data, method=req_method, headers=headers,
        )
        try:
            resp = opener.open(req, timeout=timeout)
        except urllib.error.HTTPError as e:
            resp = e  # HTTPError doubles as a response object
        except (urllib.error.URLError, OSError, ValueError, http.client.HTTPException):
            return cur, _layout(history), None, None, None, None, None
        status = resp.getcode()
        if status == 304:
            resp_etag = resp.headers.get("ETag") or etag
            try:
                resp.close()
            except Exception:
                pass
            # validator matched: no body crossed the wire; the caller
            # keeps its cached copy and the (possibly refreshed) etag.
            # content_length 0 (not NULL) — NULL lengths are the error
            # channel's shape and would NaN-poison the Arrow int column
            return cur, _layout(history), 304, None, 0, None, resp_etag
        if status in (301, 302, 303, 307, 308) and _hop < max_redirects:
            loc = resp.headers.get("Location")
            if loc:
                history.append(cur)  # visit order; _layout reshapes at end
                nxt = urllib.parse.urljoin(cur, loc)
                if status == 303 or (status in (301, 302) and req_method == "POST"):
                    req_method, data = "GET", None  # RFC 9110 semantics
                try:
                    resp.close()
                except Exception:
                    pass
                cur = nxt
                continue
        try:
            raw = resp.read(max_body)
        except (OSError, ValueError, http.client.HTTPException):
            return cur, _layout(history), None, None, None, None, None
        ct = resp.headers.get("Content-Type")
        cl = resp.headers.get("Content-Length")
        resp_etag = resp.headers.get("ETag")
        try:
            resp.close()
        except Exception:
            pass
        return (
            cur, _layout(history), int(status), ct,
            int(cl) if cl is not None else len(raw), raw, resp_etag,
        )
    return cur, _layout(history), None, None, None, None, None


def _strip_userinfo(url: str) -> str:
    """Credentials never appear in recorded URLs (Mojo.pm:206): the
    authorized URL is what the socket sees, the journal stays clean."""
    if "@" not in url:
        return url
    parts = urllib.parse.urlsplit(url)
    if "@" not in parts.netloc:
        return url
    host = parts.netloc.rsplit("@", 1)[1]
    return urllib.parse.urlunsplit(
        (parts.scheme, host, parts.path, parts.query, parts.fragment)
    )


def _layout(hops: list[str]) -> list[str]:
    """[first, second, ...] visit order -> Job::redirect layout:
    newest intermediate first, original LAST, final excluded."""
    if not hops:
        return []
    hops = [_strip_userinfo(h) for h in hops]
    return list(reversed(hops[1:])) + [hops[0]]


def http_fetch_wave(
    wave,
    max_redirects: int = 5,
    timeout: float = 10.0,
    concurrency: int = 16,
    user_agent: str = "wcm-spark",
    max_body: int = 16 * 1024 * 1024,
    creds: dict | None = None,
    min_delay_sec: float = 0.0,
    host_delays: dict | None = None,
):
    """Frontier wave -> fetched frame, same shape as the corpus-join fetch.

    ``wave`` must carry PENDING_COLS + fetch_auth_url (the credential-
    attached request URL, F8). The output matches Crawler._fetch_wave so
    the scheduler is fetch-mode agnostic.

    ``min_delay_sec`` is the UserAgent-throttling analog in wall-clock
    time: requests to the SAME host are serialized with that spacing
    while different hosts still fetch in parallel. ``host_delays``
    ({host_key: seconds}, e.g. the robots.txt Crawl-delays the
    scheduler parses as it learns each host's rules) raises the spacing PER HOST — the
    effective gap is max(min_delay_sec, host_delays[host]). The caller
    must repartition the wave by host_key first so a host never spans
    two partitions (the scheduler does this automatically) — then the
    in-partition serialization is globally correct for the wave.
    """

    def run(batches):
        import time as _t

        local_creds = dict(creds) if creds else {}
        local_delays = dict(host_delays) if host_delays else {}

        def fetch_t(t):
            return _fetch_one(
                t[0], t[1], t[2], max_redirects, timeout,
                user_agent, max_body, local_creds, etag=t[3],
            )

        def fetch_host_group(item):
            # (host_key, [(idx, (url, method, params)), ...]) — one host,
            # sequential, spaced by the host's effective delay (F6 in
            # wall-clock form; robots Crawl-delay raises it per host)
            hk, rows = item
            gap = max(min_delay_sec, local_delays.get(hk, 0.0))
            out = []
            for j, (idx, t) in enumerate(rows):
                if j and gap > 0:
                    _t.sleep(gap)
                out.append((idx, fetch_t(t)))
            return out

        with ThreadPoolExecutor(max_workers=concurrency) as pool:
            for pdf in batches:
                n = len(pdf)
                if n == 0:
                    continue
                # optional conditional-GET validators: an `etag` column on
                # the wave (the scheduler joins CrawlConfig.validators)
                etags = (
                    pdf["etag"].tolist() if "etag" in pdf.columns else [None] * n
                )
                triples = list(
                    zip(pdf["fetch_auth_url"], pdf["method"], pdf["params"], etags)
                )
                if min_delay_sec > 0 or local_delays:
                    groups: dict = {}
                    for idx, (t, hk) in enumerate(zip(triples, pdf["host_key"])):
                        groups.setdefault(hk, []).append((idx, t))
                    results = [None] * n
                    for chunk in pool.map(fetch_host_group, groups.items()):
                        for idx, r in chunk:
                            results[idx] = r
                else:
                    results = list(pool.map(fetch_t, triples))
                out = {
                    "seq": pdf["seq"].tolist(),
                    "wave": pdf["wave"].tolist(),
                    "depth": pdf["depth"].tolist(),
                    "retries": pdf["retries"].tolist(),
                    "method": pdf["method"].tolist(),
                    "params": pdf["params"].tolist(),
                    "host_key": pdf["host_key"].tolist(),
                    "digest": pdf["digest"].tolist(),
                    "context": pdf["context"].tolist(),
                    "literal_uri": pdf["literal_uri"].tolist(),
                    "fetch_auth_url": pdf["fetch_auth_url"].tolist(),
                    "request_url": pdf["url"].tolist(),
                    "url": [_strip_userinfo(r[0]) for r in results],
                    "original_url": [
                        (r[1][-1] if r[1] else _strip_userinfo(r[0]))
                        for r in results
                    ],
                    "redirect_history": [r[1] for r in results],
                    "status": [r[2] for r in results],
                    "content_type": [r[3] for r in results],
                    "content_length": [r[4] for r in results],
                    "body": [r[5] for r in results],
                    "etag": [r[6] for r in results],
                }
                yield pd.DataFrame(out)

    return wave.mapInPandas(run, schema=FETCHED_SCHEMA)
