"""robots.txt: parse, per-host rule evaluation, and the crawl's one gate.

The reference crawler has no robots support; the north rule
(BASELINE.json:6) adds "robots.txt caching" alongside the reference's
politeness throttling. Semantics implemented (the de-facto standard used
by major crawlers): rules from the matching user-agent group (exact agent
token else ``*``), longest-path-prefix match wins, Allow beats Disallow
on equal length, no rule ⇒ allowed. ``$`` end-anchor and ``*`` wildcards
inside paths are supported.

At scale the cache is a Spark table, ``robots(host_key, body)``: one row
per host that serves a robots.txt (bodies are small and hosts ≪ URLs).
:func:`robots_gate` left-joins frontier rows to it on ``host_key`` and
evaluates one pandas UDF that parses each distinct body once per Arrow
batch. The planner picks a broadcast or shuffle join from the table's
real size; a host without a row is allowed. :class:`RobotsCache` is the
driver-side dict form the pure-Python reference simulator uses.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import TYPE_CHECKING
from urllib.parse import urlsplit

if TYPE_CHECKING:  # the rule evaluator stays importable without Spark
    from pyspark.sql import DataFrame

__all__ = ["RobotsRules", "parse_robots", "RobotsCache", "robots_verdict", "robots_gate"]


@dataclass(frozen=True)
class RobotsRules:
    # (allow: bool, path_pattern: str) in file order
    rules: tuple
    # Crawl-delay of the matched agent group (seconds), None when absent
    crawl_delay: float | None = None

    def allowed(self, path: str) -> bool:
        if not path:
            path = "/"
        best_len = -1
        best_allow = True
        for allow, pattern in self.rules:
            m_len = _match_len(pattern, path)
            if m_len is None:
                continue
            if m_len > best_len or (m_len == best_len and allow and not best_allow):
                best_len = m_len
                best_allow = allow
        return best_allow


def _match_len(pattern: str, path: str) -> int | None:
    """Longest-match length if the robots pattern matches, else None."""
    if not pattern:
        return None
    if "*" in pattern or pattern.endswith("$"):
        rx = re.escape(pattern).replace(r"\*", ".*")
        if rx.endswith(r"\$"):
            rx = rx[:-2] + "$"
        return len(pattern) if re.match(rx, path) else None
    return len(pattern) if path.startswith(pattern) else None


def parse_robots(body: str, agent: str = "wcm-spark") -> RobotsRules:
    agent = agent.lower()
    groups: dict[str, list] = {}
    delays: dict[str, float] = {}
    current_agents: list[str] = []
    seen_rule_since_agent = True
    for raw in (body or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if seen_rule_since_agent:
                current_agents = []
                seen_rule_since_agent = False
            current_agents.append(value.lower())
            for a in current_agents:
                groups.setdefault(a, [])
        elif field in ("allow", "disallow"):
            seen_rule_since_agent = True
            if not current_agents:
                continue
            if field == "disallow" and value == "":
                continue  # empty Disallow = allow all (no rule)
            for a in current_agents:
                groups.setdefault(a, []).append((field == "allow", value))
        elif field == "crawl-delay":
            # non-standard but honored by major crawlers; the matched
            # group's delay feeds per-host wall-clock politeness (F6)
            seen_rule_since_agent = True
            try:
                d = float(value)
            except ValueError:
                continue
            if d >= 0:
                for a in current_agents:
                    groups.setdefault(a, [])
                    delays[a] = d
    best_name: str | None = None
    for name in groups:
        if name != "*" and name in agent:
            if best_name is None or len(name) > len(best_name):
                best_name = name
    if best_name is None and "*" in groups:
        best_name = "*"
    if best_name is None:
        return RobotsRules(())
    return RobotsRules(tuple(groups[best_name]), delays.get(best_name))


def _url_allowed(rules: RobotsRules, url: str) -> bool:
    """Evaluate ``rules`` against the path (+ query) of ``url``."""
    try:
        parts = urlsplit(url)
    except ValueError:
        return True
    path = parts.path or "/"
    if parts.query:
        path += "?" + parts.query
    return rules.allowed(path)


class RobotsCache:
    """Per-host parsed-rule cache (driver-side dict form)."""

    def __init__(self, bodies: dict[str, str] | None = None, agent: str = "wcm-spark"):
        self.agent = agent
        self._rules: dict[str, RobotsRules] = {}
        for host_key, body in (bodies or {}).items():
            self._rules[host_key] = parse_robots(body, agent)

    def allowed(self, host_key: str | None, url: str) -> bool:
        if host_key is None:
            return True
        rules = self._rules.get(host_key)
        if rules is None:
            return True  # no robots.txt ⇒ allowed
        return _url_allowed(rules, url)

    def delay(self, host_key: str | None) -> float:
        """Matched-group Crawl-delay for the host (seconds; 0.0 = none)."""
        if host_key is None:
            return 0.0
        rules = self._rules.get(host_key)
        return rules.crawl_delay or 0.0 if rules is not None else 0.0

    def host_delays(self) -> dict[str, float]:
        """{host_key: crawl_delay} for hosts that declare one — the
        politeness dimension the fetcher consumes."""
        return {
            k: v.crawl_delay
            for k, v in self._rules.items()
            if v.crawl_delay
        }


def robots_verdict(
    rows: DataFrame, robots: DataFrame, agent: str, out: str = "allowed"
) -> DataFrame:
    """``rows`` (with ``host_key`` and ``url``) plus a boolean ``out``
    column: the verdict of the row's host robots.txt for its URL.

    ``robots`` is the ``(host_key string, body binary)`` table, one row
    per host; hosts without a row (no robots.txt) are allowed. The body
    rides each row through a left join, and the UDF parses each distinct
    body once per Arrow batch."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import BooleanType

    cols = rows.columns

    @F.pandas_udf(BooleanType())
    def allowed(urls, bodies):
        parsed: dict = {}
        verdicts = []
        for url, body in zip(urls, bodies):
            # isinstance, not `is not None`: a null cell can surface as NaN
            if not isinstance(body, bytes) or not isinstance(url, str):
                verdicts.append(True)
                continue
            rules = parsed.get(body)
            if rules is None:
                rules = parsed[body] = parse_robots(
                    body.decode("utf-8", errors="replace"), agent
                )
            verdicts.append(_url_allowed(rules, url))
        return pd.Series(verdicts, dtype=bool)

    dim = robots.select("host_key", F.col("body").alias("__robots_body"))
    return (
        rows.join(dim, "host_key", "left")
        .withColumn(out, allowed(F.col("url"), F.col("__robots_body")))
        .select(*cols, out)
    )


def robots_gate(rows: DataFrame, robots: DataFrame | None, agent: str) -> DataFrame:
    """The rows of ``rows`` their host's robots.txt allows, same schema.
    ``robots`` None means no host serves rules: every row passes."""
    if robots is None:
        return rows
    return (
        robots_verdict(rows, robots, agent, "__robots_ok")
        .filter("__robots_ok")
        .drop("__robots_ok")
    )
