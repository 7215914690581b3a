"""robots.txt (RFC 9309) engine from scratch (round 12): group
parsing (stacked ``User-agent`` lines, case-insensitive product
tokens, ``*`` fallback group), ``Allow``/``Disallow`` rules with the
REP wildcard grammar (``*`` spans any octets, ``$`` anchors the end),
comment stripping, and the RFC's precedence algorithm — the MOST
SPECIFIC (longest) matching rule wins, with ``Allow`` beating
``Disallow`` on ties; no matching rule means allowed — nothing
imported.

Every responsible crawl pipeline runs this filter FIRST: Common Crawl
honors robots at fetch time, and dataset builders re-check it at
curation time when a domain's policy changed after the crawl (the
"robots revocation" pass). A training-data engine that ingests WARC
(q_warc_scan) but cannot evaluate the policy that governs those
fetches is missing the gatekeeper op of the family.

Wildcard semantics, pinned by tests: ``Disallow: /t`` is a prefix
rule; ``Disallow: /*/private`` floats over any first segment;
``Allow: /public$`` matches exactly ``/public`` and nothing longer;
an empty ``Disallow:`` matches nothing (the classic allow-all
idiom). Specificity = the rule path's character length, wildcards
included (the Googlebot/RFC reference behavior).

Oracle recipe: rule matching IS SQL-expressible — each rule becomes a
LIKE pattern (``*`` → ``%``, ``$`` drops the trailing ``%``), and the
RFC precedence is one ``max_by`` over (length, is_allow). The Spark
side runs this Python engine over a broadcast-sized policy and must
hash-match DuckDB's independent LIKE-based re-derivation per URL.
Grammar/precedence vectors live in tests/test_robots.py.
"""

from __future__ import annotations

import re

__all__ = ["parse_robots", "rules_for_agent", "robots_decision"]


def parse_robots(text: str) -> list[tuple[list[str], list[tuple[bool, str]]]]:
    """Parse robots.txt into groups: (user_agents, [(is_allow, path)]).
    Stacked User-agent lines share one rule list; unknown directives
    and comments are skipped (the RFC requires tolerant parsing)."""
    groups: list[tuple[list[str], list[tuple[bool, str]]]] = []
    agents: list[str] = []
    rules: list[tuple[bool, str]] = []
    collecting_agents = True
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if not collecting_agents:
                if agents:
                    groups.append((agents, rules))
                agents, rules = [], []
                collecting_agents = True
            agents.append(value.lower())
        elif field in ("allow", "disallow"):
            collecting_agents = False
            if agents:
                rules.append((field == "allow", value))
        # sitemap/crawl-delay/unknown: ignored
    if agents:
        groups.append((agents, rules))
    return groups


def rules_for_agent(
    groups: list[tuple[list[str], list[tuple[bool, str]]]], agent: str
) -> list[tuple[bool, str]]:
    """Select rules per RFC 9309 §2.2.1: a group matches when its
    product token is a SUBSTRING of the crawler's user-agent (one
    direction only — 'bot' must not capture the 'gptbot' group); the
    longest matching token wins, and ALL groups matching at that
    length COMBINE (the RFC requires merging groups addressed to the
    same agent); the ``*`` groups (also combined) are the fallback."""
    agent = agent.lower()
    best_len = -1
    star_rules: list[tuple[bool, str]] = []
    saw_star = False
    # pass 1: the longest product token that is a substring of agent
    for agents, rules in groups:
        for ua in agents:
            if ua == "*":
                saw_star = True
                star_rules.extend(rules)
            elif ua and ua in agent:
                best_len = max(best_len, len(ua))
    if best_len < 0:
        return star_rules if saw_star else []
    # pass 2: combine every group matching at that length
    combined: list[tuple[bool, str]] = []
    for agents, rules in groups:
        if any(ua != "*" and ua in agent and len(ua) == best_len for ua in agents):
            combined.extend(rules)
    return combined


_REGEX_CACHE: dict[str, re.Pattern] = {}


def _rule_regex(path: str) -> re.Pattern:
    # cached: robots_decision runs per URL in the ingest hot path, and
    # a policy has few distinct rules — compile each exactly once
    pat = _REGEX_CACHE.get(path)
    if pat is None:
        anchored = path.endswith("$")
        body = path[:-1] if anchored else path
        pattern = "".join(".*" if c == "*" else re.escape(c) for c in body)
        pat = re.compile("^" + pattern + ("$" if anchored else ""))
        if len(_REGEX_CACHE) < 4096:
            _REGEX_CACHE[path] = pat
    return pat


def robots_decision(
    rules: list[tuple[bool, str]], url_path: str
) -> tuple[bool, str | None]:
    """Apply RFC 9309 precedence: longest matching rule wins, Allow
    beats Disallow on ties; empty-path rules match nothing; no match →
    allowed. Returns (allowed, matched_rule_or_None)."""
    best: tuple[int, bool, str] | None = None
    for is_allow, path in rules:
        if not path:
            continue  # "Disallow:" (empty) — the allow-all idiom
        if _rule_regex(path).match(url_path):
            key = (len(path), is_allow)
            if best is None or key > (best[0], best[1]):
                best = (len(path), is_allow, path)
    if best is None:
        return True, None
    return best[1], best[2]
