"""The two workloads. Each drives the engine through its public API
(``CrawlRun``, ``CrawlConfig``, ``SnapshotStore``, ``WorldSpec``,
``with_fetch_identity``) and leaves every ``CrawlConfig`` field the
input does not require at the engine default.

A workload builds its input and oracle in ``prepare`` (pure Python,
so it overlaps Spark's start) and commits what it needs on disk in
``setup``; ``run_pass`` is the timed unit; ``check`` compares a pass's
outputs to the oracle (outside the timed region) and ``reset`` removes
what the pass left on disk, so every pass starts from the same state.
"""

from __future__ import annotations

import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

import pandas as pd
from pyspark.sql import functions as F

from python_crawler_spark.plans.crawl import CrawlConfig, CrawlRun, with_fetch_identity
from python_crawler_spark.sources.tables import SnapshotStore
from python_crawler_spark.sources.worldgen import WorldSpec

from . import frontier as fb
from .host import dir_bytes


@dataclass
class PassOut:
    wall_s: float
    urls: int  # frontier URLs that entered rounds
    snapshot_bytes: int  # committed by the pass
    rounds: int
    run: CrawlRun = field(repr=False)
    results: dict = field(repr=False)
    window: tuple[float, float]  # epoch bounds of the pass
    resume_s: float | None = None  # the CrawlRun.resume inside the pass


class FrontierBulk:
    """Resume from a committed round-0 snapshot, then run exactly one
    round over a bulk synthetic frontier.

    Round 0 holds the frontier as ``frontier_next`` and a seen set of
    about the same size. Its hosts lie outside the synthetic web, so
    every fetched page is an empty ``unknown`` page, the round expands
    no children and the crawl ends after that one round."""

    name = "frontier_bulk"
    n_rows = 30_000

    def __init__(self, seed: int, work: Path):
        self.seed = seed
        self.store = SnapshotStore(work / "snapshot")
        self.cfg = CrawlConfig()

    def prepare(self) -> dict:
        """Input and oracle; pure Python, so it can overlap Spark's start."""
        t0 = time.time()
        self.input = fb.generate(self.seed, self.n_rows)
        t1 = time.time()
        self.plan = fb.plan(self.input, self.cfg.n_salts)
        return {
            "generate_s": t1 - t0, "oracle_s": time.time() - t1,
            "frontier_rows": len(self.input.frontier), "seen_rows": len(self.input.seen_urls),
            "oracle_robots_blocked": self.plan.robots_blocked,
            "oracle_batch_duplicates": self.plan.batch_duplicates,
            "oracle_seen_drops": self.plan.seen_drops,
            "oracle_scheduled": len(self.plan.rows),
        }

    def setup(self, spark) -> dict:
        """Commit round 0: the frontier and the seen set."""
        self.spark = spark
        t0 = time.time()
        frontier = with_fetch_identity(spark.createDataFrame(self.input.frontier))
        # The seen table in the engine's snapshot layout (plans.crawl
        # SEEN_COLS; key_hash = xxhash64(dedup_key), bucket = key_hash
        # mod n_buckets, as CrawlRun._enrich derives them). Should the
        # engine's layout change, the oracle check fails the pass.
        seen = spark.createDataFrame(
            pd.DataFrame({"dedup_key": self.input.seen_urls})
        ).select(
            F.pmod(F.xxhash64("dedup_key"), F.lit(self.cfg.n_buckets)).cast("int").alias("bucket"),
            F.xxhash64("dedup_key").alias("key_hash"),
            "dedup_key",
            F.col("dedup_key").alias("url"),
            F.lit(0).alias("round"),
        )
        self.store.write_round(
            0,
            {"frontier_next": frontier, "seen": seen},
            {"metrics": {"round": 0, "frontier_in": len(self.input.seen_urls)}},
        )
        return {"snapshot0_s": time.time() - t0}

    def run_pass(self) -> PassOut:
        t0 = time.time()
        run = CrawlRun.resume(self.spark, self.store, self.cfg)
        t1 = time.time()
        results = run.run_resumed()
        t2 = time.time()
        return PassOut(
            wall_s=t2 - t0,
            urls=sum(m["frontier_in"] for m in run.metrics),
            snapshot_bytes=sum(map(dir_bytes, self._committed())),
            rounds=len(run.metrics),
            run=run,
            results=results,
            window=(t0, t2),
            resume_s=t1 - t0,
        )

    def _committed(self) -> list[Path]:
        return [d for d in self.store.root.glob("round=*") if d.name != "round=0"]

    def reset(self) -> None:
        """Remove the rounds a pass committed; round 0 stays."""
        for d in self._committed():
            shutil.rmtree(d)

    def check(self, out: PassOut) -> str | None:
        if out.rounds != 1:
            return f"ran {out.rounds} rounds, expected exactly 1"
        got = (
            out.run.fetch_log.filter(F.col("round") == 1)
            .select("url", "attempt", "host_salt", "host_rank", "host_scheduled_at")
            .toPandas()
        )
        return fb.check(self.plan, got)


def dirty_spec(seed: int) -> WorldSpec:
    """The dirty-markup world: ``BENCH/bench_crawl.spec_at(0.05)``,
    about 760 pages over three rounds, with the tianyan seed count
    moved by the seed (+0..4 of 200)."""
    return WorldSpec(
        n_tianyan_seeds=200 + seed % 5,
        weixin_articles_per_account=35,
        csm_max_page_cap=2,
        csm_links_per_page=2,
        imgs_per_article_max=2,
    )


class CrawlDirty:
    """A full crawl from the seeds until the frontier is empty, with a
    snapshot store, over a world with dirty markup parsed by the
    tolerant parser."""

    name = "crawl_dirty"

    def __init__(self, seed: int, work: Path):
        self.seed = seed
        self.store = SnapshotStore(work / "snapshot")
        self.cfg = CrawlConfig(spec=dirty_spec(seed), html_parser="tolerant", dirty_web=True)

    def prepare(self) -> dict:
        """The sequential oracle's crawl of the same world."""
        from tests.oracle import Oracle

        t0 = time.time()
        o = Oracle(
            spec=self.cfg.spec, fixed_date=self.cfg.fixed_date,
            html_parser=self.cfg.html_parser, dirty_web=self.cfg.dirty_web,
        ).run()
        self.order = [(e["source"], e["url"], e["attempt"]) for e in o.events]
        self.clock = [e["virtual_ts"] for e in o.events]
        self.seen = o.seen
        self.counts = {
            "articles": len(o.articles), "articles_text": len(o.articles_text),
            "companies": len(o.companies), "images": len(o.images),
        }
        return {"oracle_s": time.time() - t0, "oracle_fetches": len(self.order), **self.counts}

    def setup(self, spark) -> dict:
        self.spark = spark
        return {}

    def run_pass(self) -> PassOut:
        t0 = time.time()
        run = CrawlRun(self.spark, self.cfg, self.store)
        results = run.run()
        t1 = time.time()
        return PassOut(
            wall_s=t1 - t0,
            urls=sum(m["frontier_in"] for m in run.metrics),
            snapshot_bytes=dir_bytes(self.store.root),
            rounds=len(run.metrics),
            run=run,
            results=results,
            window=(t0, t1),
        )

    def reset(self) -> None:
        shutil.rmtree(self.store.root)
        self.store.root.mkdir()

    def check(self, out: PassOut) -> str | None:
        rows = (
            out.results["fetch_order"]
            .select("source", "url", "attempt", "ref_virtual_ts")
            .collect()
        )
        got = [(r["source"], r["url"], r["attempt"]) for r in rows]
        if got != self.order:
            first = next(
                (i for i, (a, b) in enumerate(zip(got, self.order)) if a != b),
                min(len(got), len(self.order)),
            )
            return f"fetch order differs at {first} ({len(got)} vs {len(self.order)} fetches)"
        for r, want in zip(rows, self.clock):
            if abs(r["ref_virtual_ts"] - want) > 1e-9:
                return f"virtual clock of {r['url']!r}: {r['ref_virtual_ts']} vs {want}"
        seen = {r["dedup_key"] for r in out.results["seen"].select("dedup_key").collect()}
        if seen != self.seen:
            return f"seen set differs ({len(seen)} vs {len(self.seen)} keys)"
        for name, want in self.counts.items():
            got_n = out.results[name].count()
            if got_n != want:
                return f"{name}: {got_n} rows, oracle {want}"
        return None


WORKLOADS = {w.name: w for w in (FrontierBulk, CrawlDirty)}
