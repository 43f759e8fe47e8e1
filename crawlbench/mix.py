"""Measure the robots-denied and retry shares of a crawl's frontier.

    python3 crawlbench/mix.py [SEED ...]

Runs the sequential oracle (``tests/oracle.Oracle``) over the
``crawl_dirty`` world of each seed (default 0-4) and counts, among the
URLs the crawl considered for fetching, those the robots gate denied
and those that were retries (``attempt > 0``). ``frontier.py`` takes
``SHARE_ROBOTS`` and ``SHARE_RETRY`` from these shares, so the
``frontier_bulk`` mix follows a crawl the repo can reproduce rather
than a guess. Pure Python; takes a few seconds a seed.
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def shares(seed: int) -> dict:
    from crawlbench.workloads import dirty_spec
    from tests.oracle import Oracle

    class Counting(Oracle):
        denied = 0

        def _robots_denied(self, url: str) -> bool:
            hit = super()._robots_denied(url)
            self.denied += hit
            return hit

    o = Counting(spec=dirty_spec(seed), html_parser="tolerant", dirty_web=True).run()
    fetched = len(o.events)
    retries = sum(e["attempt"] > 0 for e in o.events)
    # every candidate the robots gate denied never reaches a fetch
    candidates = fetched + o.denied
    return {
        "seed": seed, "candidates": candidates, "robots_denied": o.denied,
        "retries": retries, "robots_share": o.denied / candidates,
        "retry_share": retries / candidates,
    }


def main(argv: list[str]) -> int:
    rows = [shares(int(s)) for s in (argv or range(5))]
    for r in rows:
        print(" ".join(f"{k}={v:.4f}" if isinstance(v, float) else f"{k}={v}" for k, v in r.items()))
    n = sum(r["candidates"] for r in rows)
    print(f"all: robots_share={sum(r['robots_denied'] for r in rows) / n:.4f} "
          f"retry_share={sum(r['retries'] for r in rows) / n:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
