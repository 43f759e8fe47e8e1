"""Inputs and oracle of the ``frontier_bulk`` workload.

The frontier is a seeded synthetic URL table whose hosts all lie
outside the synthetic web, so fetch and parse cost almost nothing and
the per-URL chain (canonicalize -> robots -> batch first-occurrence ->
seen prefilter + anti-join -> schedule) does the work. Its shape:

- about half the rows sit on one hot host;
- about 10% are irregularly spelled repeats of another row's URL
  (upper-case scheme/host, default port, fragment, trailing ``?``), so
  they leave the JVM fast path for the Arrow canonicalizer and collapse
  onto their original in batch first-occurrence;
- a share of rows is robots-denied (the engine's one deny rule:
  ``chuansong.me`` paths matching ``^/n/\\d*13$``);
- a share of rows are retries (``attempt > 0``) of already-seen URLs,
  which bypass the seen set through their attempt-suffixed dedup key;
- a share of rows is already in the seen set and is dropped.

Where the shares come from: the repeat share, the hot host's half and
the seen share are those of the repo's frontier-throughput baseline
(``python_crawler_spark/bench_frontier.py``: ``dup_frac=0.1``, even
ids on one hot host, ``pre_seen`` of 5% of the input; see
``BENCH/BASELINE.md``). The robots and retry shares are measured on
the ``crawl_dirty`` world by ``mix.py``: 1 robots-denied and 19
retried URLs among 759-767 candidates per seed (0.13% and 2.5%).

The oracle is a row-by-row Python plan of what one round must
schedule: ``(url, attempt) -> (host_salt, host_rank,
host_scheduled_at)`` for every robots-allowed, unseen URL.
"""

from __future__ import annotations

import random
import re
from dataclasses import dataclass

import pandas as pd

from python_crawler_spark.functions.hashing import xxhash64

HOT_HOST = "www.hot-host.example"
N_COLD_HOSTS = 4096
ROBOTS_HOST = "chuansong.me"
ROBOTS_DENY = re.compile(r"^/n/\d*13$")

# share of frontier rows of each kind; the rest are fresh first
# attempts not yet seen (sources of the shares: module docstring)
SHARE_REPEAT = 0.10
SHARE_ROBOTS = 0.0013
SHARE_RETRY = 0.025
SHARE_SEEN = 0.05  # first attempts already in the seen set

# Every row is a list-stage (1) fetch: that stage has no extractor for
# any source, so unknown pages yield no records, and its dedup key is
# the URL (weixin articles, stage 2, are deduplicated by title).
SOURCES = ["weixin", "chuansongmen", "tianyan"]
STAGE = 1
SOURCE_RANK = {"weixin": 0, "chuansongmen": 1, "tianyan": 2}
# crawl delays are binary fractions, so every prefix sum is exact
DELAYS = [0.25, 0.5, 1.0, 2.0]
LINKS_PER_LINE = 1000


@dataclass
class FrontierInput:
    """One seeded input: the frontier rows, the seen URLs, and for
    each frontier row the canonical URL the generator spelled it from."""

    frontier: pd.DataFrame
    canon: list[str]
    seen_urls: list[str]


def _path(rng: random.Random, i: int) -> str:
    return f"/p/{i:07d}/{rng.getrandbits(32):08x}.html"


def _cold_host(rng: random.Random) -> str:
    return f"site{rng.randrange(N_COLD_HOSTS):04d}.cold.example"


def _irregular(rng: random.Random, canon: str) -> str:
    """A spelling of ``canon`` that the fast canonical-shape test
    rejects and canonicalization maps back to ``canon``."""
    scheme, rest = canon.split("://", 1)
    host, path = rest.split("/", 1)
    form = rng.randrange(4)
    if form == 0:
        return f"{scheme.upper()}://{host.upper()}/{path}"
    if form == 1:
        return f"{scheme}://{host}:80/{path}"
    if form == 2:
        return f"{canon}#frag{rng.randrange(100)}"
    return f"{canon}?"


def generate(seed: int, n_rows: int) -> FrontierInput:
    """Frontier of ``n_rows`` rows plus a seen set of similar size."""
    rng = random.Random(seed)
    urls: list[str] = []
    canon: list[str] = []
    attempts: list[int] = []
    fresh: list[str] = []  # canonical first-attempt URLs, in row order
    seen_extra: list[str] = []
    serial = 0

    def new_url() -> str:
        nonlocal serial
        serial += 1
        host = HOT_HOST if rng.random() < 0.5 else _cold_host(rng)
        return f"http://{host}{_path(rng, serial)}"

    seen_pool: list[str] = []
    for _ in range(n_rows):
        r = rng.random()
        if r < SHARE_REPEAT and fresh:
            c = fresh[rng.randrange(len(fresh))]
            urls.append(_irregular(rng, c))
            canon.append(c)
            attempts.append(0)
        elif r < SHARE_REPEAT + SHARE_ROBOTS:
            serial += 1
            c = f"http://{ROBOTS_HOST}/n/{serial}13"
            urls.append(c)
            canon.append(c)
            attempts.append(0)
        elif r < SHARE_REPEAT + SHARE_ROBOTS + SHARE_RETRY:
            # a retry of a URL fetched in an earlier round
            c = new_url()
            seen_extra.append(c)
            urls.append(c)
            canon.append(c)
            attempts.append(1 + rng.randrange(3))
        else:
            c = new_url()
            urls.append(c)
            canon.append(c)
            attempts.append(0)
            fresh.append(c)
            if r < SHARE_REPEAT + SHARE_ROBOTS + SHARE_RETRY + SHARE_SEEN:
                seen_pool.append(c)
    # pad the seen set to about the frontier's size with URLs the
    # frontier never names
    seen_urls = seen_pool + seen_extra
    while len(seen_urls) < n_rows:
        seen_urls.append(new_url())

    n = len(urls)
    src = [SOURCES[rng.randrange(len(SOURCES))] for _ in range(n)]
    line_no, link_idx = zip(*(divmod(i, LINKS_PER_LINE) for i in range(n)))
    frontier = pd.DataFrame(
        {
            "url": urls,
            "source": src,
            "name": "bench",
            "seed_id": list(line_no),
            "line_no": list(line_no),
            "stage": STAGE,
            "page_no": 0,
            "link_idx": list(link_idx),
            "attempt": attempts,
            "depth": 1,
            "title": "",
            "summary": "",
            "cover": "",
            "crawl_delay": [DELAYS[rng.randrange(len(DELAYS))] for _ in range(n)],
        }
    )
    for c in ("seed_id", "line_no", "stage", "page_no", "link_idx", "attempt", "depth"):
        frontier[c] = frontier[c].astype("int32")
    return FrontierInput(frontier, canon, seen_urls)


def _host_path(url: str) -> tuple[str, str]:
    rest = url.split("://", 1)[1]
    host, _, path = rest.partition("/")
    return host, "/" + path


@dataclass
class Plan:
    """The oracle's schedule and the funnel counts that lead to it."""

    rows: dict[tuple[str, int], tuple[int, int, float]]
    robots_blocked: int
    batch_duplicates: int
    seen_drops: int


def plan(inp: FrontierInput, n_salts: int) -> Plan:
    """Row-by-row plan of one round over ``inp`` with the seen set
    ``inp.seen_urls``: robots gate, first occurrence by the priority
    tuple, seen drop, then per-(host, salt) rank and exclusive prefix
    sum of crawl delays in priority order."""
    f = inp.frontier
    seen = set(inp.seen_urls)
    lex = {s: i for i, s in enumerate(sorted(SOURCE_RANK))}
    winners: dict[str, tuple] = {}
    robots = 0
    n_allowed = 0
    for i, (url, src, stage, line, link, att, delay) in enumerate(
        zip(f["url"], f["source"], f["stage"], f["line_no"], f["link_idx"],
            f["attempt"], f["crawl_delay"])
    ):
        c = inp.canon[i]
        host, path = _host_path(c)
        if host == ROBOTS_HOST and ROBOTS_DENY.match(path):
            robots += 1
            continue
        n_allowed += 1
        key = c if att == 0 else f"{c}#a{att}"
        order = (lex[src], line, stage, 0, link, att)
        cur = winners.get(key)
        if cur is None or order < cur[0]:
            winners[key] = (order, url, host, SOURCE_RANK[src], stage, line, link,
                            int(att), float(delay))
    dups = n_allowed - len(winners)
    queues: dict[tuple[str, int], list[tuple]] = {}
    seen_drops = 0
    for key, (_, url, host, rank, stage, line, link, att, delay) in winners.items():
        if key in seen:
            seen_drops += 1
            continue
        salt = xxhash64(url) % n_salts
        prio = (rank, line, stage, 0, link, att)
        queues.setdefault((host, salt), []).append((prio, url, att, delay))
    rows: dict[tuple[str, int], tuple[int, int, float]] = {}
    for (_, salt), q in queues.items():
        q.sort()
        at = 0.0
        for pos, (_, url, att, delay) in enumerate(q, start=1):
            rows[(url, att)] = (salt, pos, at)
            at += delay
    return Plan(rows, robots, dups, seen_drops)


def check(pl: Plan, got: pd.DataFrame) -> str | None:
    """Compare a round's fetch log (``url, attempt, host_salt,
    host_rank, host_scheduled_at``) to the plan; None when equal,
    else a one-line reason."""
    if len(got) != len(pl.rows):
        return f"scheduled {len(got)} rows, oracle {len(pl.rows)}"
    for url, att, salt, rank, at in zip(
        got["url"], got["attempt"], got["host_salt"], got["host_rank"],
        got["host_scheduled_at"],
    ):
        want = pl.rows.get((url, int(att)))
        if want is None:
            return f"unexpected fetch {url!r} attempt {att}"
        if want != (int(salt), int(rank), float(at)):
            return f"{url!r} attempt {att}: got {(salt, rank, at)}, oracle {want}"
    return None
