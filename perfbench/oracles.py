"""Sequential Python oracles for the benchmark's crawl workloads.

Both are independent re-statements of the crawl rules over plain Python
data, in the style of tests/test_crawl_parity.py; only the canonical-key
function (``surt_key``) and the reference link extractor
(``refsem.extract_links``) are shared with the engine.
"""

from __future__ import annotations

import math
import re
from urllib.parse import urlsplit

from frontier_engine import refsem
from frontier_engine.canonicalize import surt_key

# canonicalize.valid_url_col's pattern (Spark rlike = search)
_VALID_URL = re.compile(r"^https?://[^\s/$.?#].[^\s]*$")
DEFAULT_CRAWL_DELAY = 3.0  # politeness.DEFAULT_CRAWL_DELAY, restated


def _key(url: str) -> str | None:
    return surt_key(url) if _VALID_URL.search(url) else None


def first_by_key(seed_urls: list[str]) -> dict[str, tuple[int, str]]:
    """canonical key -> (seed_index, url) of its first seed occurrence."""
    out: dict[str, tuple[int, str]] = {}
    for i, url in enumerate(seed_urls):
        k = _key(url)
        if k is not None and k not in out:
            out[k] = (i, url)
    return out


def simulate_politeness(
    seed_urls: list[str],
    corpus_urls: set[str],
    policy: dict[str, tuple[float, str]],
    round_seconds: float,
    horizon: int,
    max_attempts: int = 3,
    retry_backoff: float = 8.0,
):
    """Reference-parity crawl (max_depth=0) run one round at a time.

    Per host: candidates in seed order, at most
    ``max(1, floor(round_seconds / crawl_delay))`` per round, robots deny
    prefixes dropped for good, failed fetches retried at
    ``now + retry_backoff * 2**attempt`` until ``max_attempts`` attempts,
    then counted as seen.  A round with nothing eligible jumps virtual time
    to the next retry slot and still uses up its round number.

    Returns ``(fetched, seen_round)``: fetched = [(round, host, host_rank,
    url)] of successful fetches; seen_round = {url_key: round it entered
    the seen set}.
    """
    # key -> [seed_index, url, host, attempt, not_before]
    frontier = {
        k: [i, u, (urlsplit(u).hostname or ""), 0, 0.0] for k, (i, u) in first_by_key(seed_urls).items()
    }
    fetched: list[tuple[int, str, int, str]] = []
    seen_round: dict[str, int] = {}
    now = 0.0
    for rnd in range(horizon):
        eligible = [k for k, e in frontier.items() if e[4] <= now]
        if not eligible:
            if not frontier:
                break
            min_nb = min(e[4] for e in frontier.values())
            now = max(now + round_seconds, math.ceil(min_nb / round_seconds) * round_seconds)
            continue
        by_host: dict[str, list[str]] = {}
        for k in eligible:
            by_host.setdefault(frontier[k][2], []).append(k)
        for host, keys in by_host.items():
            delay, rules = policy.get(host, (DEFAULT_CRAWL_DELAY, ""))
            denies = [d for d in rules.split("\n") if d]
            allowed = []
            for k in keys:
                if any(urlsplit(frontier[k][1]).path.startswith(d) for d in denies):
                    del frontier[k]  # robots-blocked: leaves the frontier, never seen
                else:
                    allowed.append(k)
            allowed.sort(key=lambda k: (frontier[k][0], k))
            quota = max(int(math.floor(round_seconds / delay)), 1)
            for rank, k in enumerate(allowed[:quota], start=1):
                seed_index, url, _, attempt, _ = frontier[k]
                if url in corpus_urls:
                    fetched.append((rnd, host, rank, url))
                    seen_round[k] = rnd
                    del frontier[k]
                elif attempt + 1 >= max_attempts:
                    seen_round[k] = rnd  # retries exhausted
                    del frontier[k]
                else:
                    frontier[k][3] = attempt + 1
                    frontier[k][4] = now + retry_backoff * 2.0**attempt
        now += round_seconds
    return fetched, seen_round


def depth1_expectation(seed_urls: list[str], first_html: dict[str, bytes]):
    """A depth-1 crawl run until every retry is exhausted: the seen set is
    the seed keys plus the key of every valid link on a fetched seed page;
    a key's URL is its first seed URL, else its smallest raw link URL.
    Returns (seen_keys, fetched_urls)."""
    rep = {k: u for k, (_, u) in first_by_key(seed_urls).items()}
    link_rep: dict[str, str] = {}
    for url in rep.values():
        html = first_html.get(url)
        if html is None:
            continue
        for link in refsem.extract_links(html, base_url=url):
            k = _key(link["url"])
            if k is not None and k not in rep:
                if k not in link_rep or link["url"] < link_rep[k]:
                    link_rep[k] = link["url"]
    rep.update(link_rep)
    return set(rep), {u for u in rep.values() if u in first_html}


def compare(name: str, got, want, show: int = 3) -> list[str]:
    """[] when equal, else one message naming a few differences."""
    if got == want:
        return []
    if isinstance(got, set) and isinstance(want, set):
        extra, missing = sorted(got - want)[:show], sorted(want - got)[:show]
        return [f"{name}: {len(got)} vs expected {len(want)}; extra {extra}, missing {missing}"]
    diff = next((i for i, (a, b) in enumerate(zip(got, want)) if a != b), min(len(got), len(want)))
    return [
        f"{name}: {len(got)} vs expected {len(want)} rows; first difference at {diff}: "
        f"{got[diff] if diff < len(got) else None} vs {want[diff] if diff < len(want) else None}"
    ]
