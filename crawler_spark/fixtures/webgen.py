"""Deterministic synthetic mini-web generator (FIXTURES.md §1).

A pure function of ``(seed, n_pages)`` — no wall clock, no global RNG —
emitting the authoritative ``input_hint`` corpus table::

    (url string, warc_ts timestamp, html binary, text string, lang string,
     content_type string, status int, retry_after int)

plus seed list, robots rules, and per-host politeness budgets.

Design targets (FIXTURES.md):

- ~20 hosts; one "hot" host owning ~40% of pages (skew/salting tests);
- two hosts that always answer 429 + ``Retry-After`` (cooldown tests);
  at small ``n_pages`` the second, or another host the seed list does
  not need, can end up with no pages (see ``generate``);
- some non-HTML rows (application/json, image/png) to exercise the
  okToStoreResponse filter (reference ``utils.ts:73-90``);
- some 404/500 rows WITH text/html content-type — the reference processes
  those as normal pages (its content check ignores status, ``page.ts:76``);
- per-page HTML embedding links that exercise every ``normalizeUrl`` branch
  (relative, fragment-only, uppercase host, default port, unsorted query,
  mailto:, javascript:, ``.json`` paths, dangling targets) and text blocks
  exercising every ``extractText`` selector case (``text.ts:46-81``);
- the golden ``text`` column is computed with the SAME extraction kernel the
  engine uses (kernel correctness is covered by hand-written fixtures in
  tests/test_extract.py).
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import pandas as pd

from crawler_spark.functions.html import extract_text_blocks
from crawler_spark.functions.lexicons import AFINN
from crawler_spark.functions.urls import normalize_url

HOT_HOST = "hot.test"
COOLDOWN_HOSTS = ("slow-a.test", "slow-b.test")

_FILLER = (
    "data table region nation spark engine query plan shuffle join scan "
    "filter window batch stream row column vector page crawl frontier host "
    "link text token index bloom hash round seed budget robot fetch merge"
).split()
_AFINN_WORDS = sorted(AFINN)

_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)


@dataclass
class MiniWeb:
    """The generated corpus + crawl configuration tables."""

    pages: pd.DataFrame
    seeds: pd.DataFrame
    robots: pd.DataFrame
    politeness: pd.DataFrame
    hosts: list[str] = field(default_factory=list)


def _host_list(n_hosts: int = 20) -> list[str]:
    ordinary = [f"host{i}.test" for i in range(1, n_hosts - 2)]
    return [HOT_HOST, *ordinary, *COOLDOWN_HOSTS]


def _words(rng: random.Random, n: int) -> str:
    out = []
    for _ in range(n):
        pool = _AFINN_WORDS if rng.random() < 0.3 else _FILLER
        out.append(rng.choice(pool))
    return " ".join(out)


def _page_url(host: str, idx: int, rng: random.Random) -> str:
    base = f"http://{host}/page/{idx}"
    r = rng.random()
    if r < 0.07:
        return f"{base}?a={idx % 5}&b={idx % 3}"  # canonical: sorted params
    if r < 0.10:
        return f"http://{host}/dir/sub/page/{idx}"
    return base


def _link_markup(rng: random.Random, target: str) -> str:
    """Render a link to ``target`` through a canonicalization edge case."""
    r = rng.random()
    if r < 0.12:
        # uppercase host + default port
        scheme, rest = target.split("://", 1)
        host, _, path = rest.partition("/")
        host = host.upper() + (":80" if ":" not in host else "")
        return f'<a href="{scheme}://{host}/{path}">l</a>'
    if r < 0.22 and "?" not in target:
        return f'<a href="{target}#section-{rng.randrange(9)}">l</a>'
    if r < 0.30 and "?a=" in target:
        # unsorted query form of the same canonical url
        base, q = target.split("?", 1)
        parts = q.split("&")
        return f'<a href="{base}?{"&".join(reversed(parts))}">l</a>'
    return f'<a href="{target}">l</a>'


def _build_html(
    rng: random.Random,
    url: str,
    host: str,
    blocks: list[str],
    link_tags: list[str],
) -> str:
    body: list[str] = []
    body.append(f"<header>navigation for {host} goes here</header>")
    body.append(f"<h1>page {url}</h1>")
    for i, block in enumerate(blocks):
        kind = rng.random()
        if kind < 0.55:
            body.append(f"<p>{block}</p>")
        elif kind < 0.75:
            body.append(f"<div>{block}</div>")
        elif kind < 0.85:
            body.append(f"<div><div>{block}</div></div>")  # outer dropped
        else:
            # multi-whitespace run → collapsed by cleanText
            sp = block.replace(" ", "   \n ", 1)
            body.append(f"<p>{sp}</p>")
        if i == 0 and rng.random() < 0.3:
            body.append(f"<p>{block}</p>")  # exact duplicate → deduped
    if rng.random() < 0.4:
        body.append(f"<p>{rng.choice(_FILLER)}</p>")  # 1-token block dropped
    if rng.random() < 0.3:
        body.append("<pre>raw code block must vanish</pre>")
    if rng.random() < 0.3:
        body.append(f"<h3>{_words(rng, 3)}</h3>")
    body.append("<div class='links'>" + "\n".join(link_tags) + "</div>")
    if rng.random() < 0.2:
        body.append(f'<img src="/img/{rng.randrange(99)}.png" alt="{_words(rng, 2)}">')
    if rng.random() < 0.12:
        # nested img (deeper parents() count) + cross-host absolute src
        body.append(
            f'<div><span><img src="http://cdn.test/pic/{rng.randrange(50)}.jpg" '
            f'alt="{_words(rng, 1)}"></span></div>'
        )
    if rng.random() < 0.08:
        body.append('<img alt="no src, dropped by the filter">')
    body.append("<footer>footer boilerplate text</footer>")
    inner = "\n".join(body)
    return (
        f"<!doctype html><html><head><title>{host}</title></head>"
        f"<body>\n{inner}\n</body></html>"
    )


def generate(seed: int = 42, n_pages: int = 500) -> MiniWeb:
    """Build the mini-web. Pure in ``(seed, n_pages)``."""
    rng = random.Random(seed)
    hosts = _host_list()
    ordinary_hosts = [h for h in hosts if h not in COOLDOWN_HOSTS]

    # --- assign pages to hosts: hot host ≈ 40%, cooldown hosts small ------
    page_hosts: list[str] = []
    for i in range(n_pages):
        r = rng.random()
        if r < 0.40:
            page_hosts.append(HOT_HOST)
        elif r < 0.46:
            page_hosts.append(COOLDOWN_HOSTS[i % 2])
        else:
            page_hosts.append(rng.choice(ordinary_hosts[1:]))

    # the seed list below indexes by_host[HOT_HOST], [ordinary_hosts[2]]
    # and [COOLDOWN_HOSTS[0]]; the random draw can miss any of them at
    # small n_pages (~16% chance of zero slow-a pages at n_pages=60),
    # which used to KeyError. Only when a required host IS missing,
    # deterministically claim the three tail slots for the required
    # trio — combos that already cover them (every committed fixture
    # seed) are byte-identical to before. Those slots may have held the
    # only pages of a host that is not required (e.g. COOLDOWN_HOSTS[1]),
    # so at small n_pages such a host can be absent from the web while
    # MiniWeb.hosts still lists it; do not assume every host has pages.
    _required = (HOT_HOST, ordinary_hosts[2], COOLDOWN_HOSTS[0])
    if any(h not in page_hosts for h in _required):
        if n_pages < len(_required):
            raise ValueError(
                f"n_pages must be >= {len(_required)} to host the seed list"
            )
        for j, h in enumerate(_required):
            page_hosts[len(page_hosts) - 1 - j] = h

    per_host_idx: dict[str, int] = {}
    urls: list[str] = []
    for h in page_hosts:
        idx = per_host_idx.get(h, 0)
        per_host_idx[h] = idx + 1
        urls.append(normalize_url(_page_url(h, idx, rng)))

    url_set = set(urls)
    by_host: dict[str, list[str]] = {}
    for u, h in zip(urls, page_hosts):
        by_host.setdefault(h, []).append(u)

    # --- rows -------------------------------------------------------------
    rows: list[dict] = []
    for i, (url, host) in enumerate(zip(urls, page_hosts)):
        # stable per-page RNG (NOT tuple.__hash__ — that's salted per process)
        digest = hashlib.md5(f"{seed}|page|{url}".encode()).digest()
        rng_page = random.Random(int.from_bytes(digest[:8], "big"))
        warc_ts = _EPOCH + timedelta(seconds=(i * 137) % 864000)
        lang = rng_page.choice(["en", "en", "en", "es", "zh", "de"])

        if host in COOLDOWN_HOSTS:
            rows.append(
                dict(
                    url=url, warc_ts=warc_ts, html=None, text=None, lang=lang,
                    content_type="text/plain; charset=utf-8", status=429,
                    retry_after=3600 if host == COOLDOWN_HOSTS[0] else 7200,
                )
            )
            continue

        r = rng_page.random()
        if r < 0.04:
            rows.append(
                dict(
                    url=url, warc_ts=warc_ts, html=None, text=None, lang=lang,
                    content_type="application/json", status=200,
                    retry_after=None,
                )
            )
            continue
        if r < 0.06:
            rows.append(
                dict(
                    url=url, warc_ts=warc_ts, html=None, text=None, lang=lang,
                    content_type="image/png", status=200, retry_after=None,
                )
            )
            continue

        status = 200
        r2 = rng_page.random()
        if r2 < 0.03:
            status = 404  # text/html 404: reference still processes it
        elif r2 < 0.045:
            status = 500

        # link targets: same-host chain + random same-host + cross-host +
        # dangling + special junk
        targets: list[str] = []
        same = by_host.get(host, [])
        if same:
            j = same.index(url)
            targets.append(same[(j + 1) % len(same)])  # chain → reachability
            for _ in range(rng_page.randrange(1, 4)):
                targets.append(rng_page.choice(same))
        for _ in range(rng_page.randrange(1, 4)):
            other = rng_page.choice(hosts)
            pool = by_host.get(other, [])
            if pool:
                targets.append(rng_page.choice(pool))
        if rng_page.random() < 0.15:
            targets.append(f"http://{host}/missing/{rng_page.randrange(1000)}")

        link_tags = [_link_markup(rng_page, t) for t in targets]
        if rng_page.random() < 0.2:
            link_tags.append('<a href="relative/extra.html">rel</a>')
        if rng_page.random() < 0.15:
            link_tags.append('<a href="mailto:admin@example.test">mail</a>')
        if rng_page.random() < 0.1:
            link_tags.append('<a href="javascript:void(0)">js</a>')
        if rng_page.random() < 0.1:
            link_tags.append(f'<a href="http://{host}/export/data.json">json</a>')

        blocks = [
            _words(rng_page, rng_page.randrange(4, 11))
            for _ in range(rng_page.randrange(2, 7))
        ]
        html = _build_html(rng_page, url, host, blocks, link_tags)
        golden_text = "\n".join(extract_text_blocks(html))
        rows.append(
            dict(
                url=url, warc_ts=warc_ts, html=html.encode("utf-8"),
                text=golden_text, lang=lang,
                content_type="text/html; charset=utf-8", status=status,
                retry_after=None,
            )
        )

    pages = pd.DataFrame(rows)
    pages["status"] = pages["status"].astype("int32")
    pages["retry_after"] = pages["retry_after"].astype("Int32")

    # --- seeds: hot host + one ordinary + one 429 host (FIXTURES §2) ------
    seed_urls = [
        by_host[HOT_HOST][0],
        by_host[ordinary_hosts[2]][0],
        by_host[COOLDOWN_HOSTS[0]][0],
    ]
    seeds = pd.DataFrame(
        {"url": seed_urls, "priority": list(range(len(seed_urls)))}
    )

    # --- robots: deny a path prefix on the hot host + one ordinary host ---
    robots = pd.DataFrame(
        [
            {"host": HOT_HOST, "rule": "/dir/", "allow": False},
            {"host": HOT_HOST, "rule": "/dir/sub/", "allow": True},
            {"host": ordinary_hosts[3], "rule": "/export/", "allow": False},
            {"host": "*", "rule": "/", "allow": True},
        ]
    )

    # --- politeness budgets: default 4/round, hot host capped at 8 --------
    politeness = pd.DataFrame(
        [
            {"host": "*", "budget_per_round": 4},
            {"host": HOT_HOST, "budget_per_round": 8},
        ]
    )

    return MiniWeb(
        pages=pages, seeds=seeds, robots=robots, politeness=politeness,
        hosts=hosts,
    )


def skew_web(
    n_hot: int = 200, n_cold_hosts: int = 3, fanout: int = 3
) -> tuple[pd.DataFrame, list[str]]:
    """~99%-single-host mini-web: hub page linking EVERY hot leaf, leaves
    chaining ``fanout`` already-discovered successors (exercises the seen
    filter), each cold host one page linking back into the hub — the
    adversarial shape for the fair-share global-budget scheduler
    (demand-weighted Hamilton grants hand ~all of every round to one
    host). ONE definition on purpose: the skew-crawl bench and the
    scheduler golden test must measure/pin the SAME shape, or a tweak to
    one silently de-couples the bench from the semantics the golden
    proves. Returns (full corpus-schema pages pdf, seed urls: cold hosts
    first, then the hub)."""
    rows: list[dict] = []

    def page(url: str, hrefs: list[str]) -> None:
        html = (
            "<html><body>"
            + "".join(f'<a href="{h}">x</a>' for h in hrefs)
            + "<p>plain body text for this page</p></body></html>"
        )
        rows.append(
            {
                "url": url,
                "warc_ts": pd.Timestamp("2026-01-01"),
                "html": html.encode(),
                "text": None,
                "lang": "en",
                "content_type": "text/html",
                "status": 200,
                "retry_after": None,
            }
        )

    hot = [f"http://hot.skew.test/p{i}" for i in range(n_hot)]
    page(hot[0], hot[1:])
    for i, u in enumerate(hot[1:], start=1):
        page(u, hot[i + 1 : i + 1 + fanout])
    for c in range(n_cold_hosts):
        page(f"http://cold{c}.skew.test/", [hot[0]])
    seeds = [f"http://cold{c}.skew.test/" for c in range(n_cold_hosts)]
    seeds.append(hot[0])
    return pd.DataFrame(rows), seeds
