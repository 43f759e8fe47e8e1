"""Per-layer tracing of one crawl pass.

A :class:`Tracer` wraps the engine's public layer calls (listed in
``LAYERS``) for the duration of one pass. Each wrapper

- opens a span named after the layer and tags the Spark jobs it
  starts with that name (``SparkContext.setJobDescription``);
- materializes the DataFrames the call returns (``localCheckpoint``),
  so the layer's own work runs inside its span rather than inside
  whichever later call first consumes the lazy plan;
- counts the materialized rows under the separate ``trace.funnel``
  span, so counting is never charged to a layer.

A span's self time is its duration minus the part of it that its
children cover. Spark task metrics (CPU, shuffle write, spill, GC)
come from the uncompressed Spark event log, matched to spans by job
description.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FUNNEL = "trace.funnel"
MATERIALIZE = "#materialize"  # suffix of the job description of a wrapper's checkpoint

# (module or class path, attribute, span, materialize the result)
LAYERS = [
    ("python_crawler_spark.plans.crawl:CrawlRun", "resume", "crawl.resume", False),
    ("python_crawler_spark.plans.crawl:CrawlRun", "run_round", "crawl.round", False),
    ("python_crawler_spark.plans.crawl", "canonicalize_split", "urls.canonicalize", True),
    ("python_crawler_spark.operators.gating", "robots_gate", "gating.robots", True),
    ("python_crawler_spark.plans.crawl", "batch_first_occurrence", "dedup.batch_first", True),
    ("python_crawler_spark.plans.crawl", "dedup_against_seen", "dedup.seen_probe", True),
    ("python_crawler_spark.operators.dedup", "bloom_prefilter_broadcast", "dedup.prefilter", True),
    ("python_crawler_spark.plans.crawl", "build_bloom_filters", "dedup.filter_build", True),
    ("python_crawler_spark.plans.crawl", "schedule", "scheduler.schedule", True),
    ("python_crawler_spark.plans.crawl:CrawlRun", "_fetch", "worldgen.fetch", True),
    *(
        ("python_crawler_spark.plans.crawl:CrawlRun", m, "parse.extract", True)
        for m in (
            "_extract_weixin_articles", "_extract_csm_articles", "_extract_companies",
            "_expand_weixin_list", "_expand_csm_account", "_expand_csm_list",
            "_expand_tianyan_search",
        )
    ),
    ("python_crawler_spark.plans.crawl", "fetch_and_decode_images", "multimodal.images", True),
    ("python_crawler_spark.sources.tables:SnapshotStore", "write_round", "tables.write", False),
    ("python_crawler_spark.sources.tables:SnapshotStore", "verify_round", "tables.verify", False),
    ("python_crawler_spark.sources.tables:SnapshotStore", "read", "tables.read", True),
]

SPANS = list(dict.fromkeys(span for _, _, span, _ in LAYERS))

# layers whose calls form the per-URL chain of a round (canonicalize
# through schedule); with tables.write, trace.chain_frac reports their
# share of the pass, net of the tracer's own row counts and
# materialize jobs
CHAIN = [
    "urls.canonicalize", "gating.robots", "dedup.batch_first", "dedup.seen_probe",
    "dedup.prefilter", "scheduler.schedule",
]


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    rows_out: int = 0
    in_round: bool = False
    site: str = ""  # which call site, where a layer has more than one


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the union of its children's
    intervals, clipped to the span."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return [
        s.end - s.start - covered_time(kids.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


def covered_time(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` inside ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _resolve(path: str):
    import importlib

    mod, _, cls = path.partition(":")
    obj = importlib.import_module(mod)
    return getattr(obj, cls) if cls else obj


class Tracer:
    """Installs span wrappers around the engine's layer calls."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.probable = 0  # prefilter rows flagged might_seen
        self.slow = 0  # canonicalize rows off the JVM fast path
        self.missing: list[str] = []
        self._saved: list[tuple[object, str, object]] = []

    # ----------------------------------------------------------- spans

    def _open(self, name: str, site: str = "") -> int:
        parent = self.stack[-1] if self.stack else None
        in_round = name == "crawl.round" or (
            parent is not None and self.spans[parent].in_round
        )
        self.spans.append(Span(name, time.time(), parent=parent, in_round=in_round, site=site))
        self.stack.append(len(self.spans) - 1)
        self.sc.setJobDescription(name)
        return self.stack[-1]

    def _close(self, idx: int) -> None:
        self.spans[idx].end = time.time()
        self.stack.pop()
        self.sc.setJobDescription(self.spans[self.stack[-1]].name if self.stack else None)

    def _count(self, idx: int, dfs: list[DataFrame]) -> None:
        f = self._open(FUNNEL)
        try:
            self.spans[idx].rows_out += sum(df.count() for df in dfs)
            if self.spans[idx].name == "dedup.prefilter":
                self.probable += sum(df.filter(F.col("might_seen")).count() for df in dfs)
            if self.spans[idx].name == "urls.canonicalize":
                from python_crawler_spark.functions.urls import fast_canonical_pred

                url = F.col("url")
                self.slow += sum(
                    df.filter(url.isNull() | ~fast_canonical_pred(url)).count() for df in dfs
                )
        finally:
            self._close(f)

    def _materialize(self, name: str, out):
        if isinstance(out, DataFrame):
            self.sc.setJobDescription(name + MATERIALIZE)
            return out.localCheckpoint(eager=True)
        if isinstance(out, tuple) and all(isinstance(d, DataFrame) for d in out):
            return tuple(self._materialize(name, d) for d in out)
        return out

    def _wrap(self, fn, name: str, materialize: bool):
        tracer = self

        def traced(*args, **kwargs):
            site = ""
            if name == "dedup.batch_first":
                key = args[1] if len(args) > 1 else kwargs.get("key")
                site = "frontier" if key == "key_hash" else "images"
            idx = tracer._open(name, site)
            try:
                out = fn(*args, **kwargs)
                if materialize:
                    out = tracer._materialize(name, out)
            finally:
                tracer._close(idx)
            if materialize:
                dfs = [out] if isinstance(out, DataFrame) else list(out)
                tracer._count(idx, [d for d in dfs if isinstance(d, DataFrame)])
            return out

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        for path, attr, name, materialize in LAYERS:
            owner = _resolve(path)
            raw = owner.__dict__.get(attr) if isinstance(owner, type) else getattr(owner, attr, None)
            if raw is None:
                self.missing.append(f"{path}.{attr}")
                continue
            self._saved.append((owner, attr, raw))
            if isinstance(raw, classmethod):
                setattr(owner, attr, classmethod(self._wrap(raw.__func__, name, materialize)))
            else:
                setattr(owner, attr, self._wrap(raw, name, materialize))

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._saved):
            setattr(owner, attr, raw)
        self._saved.clear()
        self.sc.setJobDescription(None)


# ---------------------------------------------------------------- event log


def read_event_log(log_dir: Path) -> list[dict]:
    """All events of the (uncompressed) event logs under ``log_dir``."""
    events = []
    for p in sorted(log_dir.rglob("*")):
        if not p.is_file() or p.name.startswith(("appstatus", ".")):
            continue
        with p.open() as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


@dataclass
class Job:
    job_id: int
    description: str | None
    start: float  # epoch seconds
    end: float | None = None
    stages: list[int] = field(default_factory=list)


@dataclass
class StageTotals:
    task_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_s: float = 0.0
    tasks: int = 0


def parse_events(events: list[dict]) -> tuple[list[Job], dict[int, StageTotals]]:
    """Jobs (with description and stage ids) and per-stage task totals."""
    jobs: dict[int, Job] = {}
    stages: dict[int, StageTotals] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = Job(
                e["Job ID"],
                props.get("spark.job.description"),
                e["Submission Time"] / 1000.0,
                stages=list(e.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics")
            if not m:
                continue
            st = stages.setdefault(e["Stage ID"], StageTotals())
            st.tasks += 1
            st.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.gc_s += m.get("JVM GC Time", 0) / 1000.0
            st.spill_bytes += m.get("Disk Bytes Spilled", 0)
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
    return sorted(jobs.values(), key=lambda j: j.job_id), stages


def totals_by_description(
    jobs: list[Job], stages: dict[int, StageTotals], lo: float, hi: float
) -> dict[str, StageTotals]:
    """Task totals of jobs submitted in ``[lo, hi]``, keyed by the job
    description with any materialization suffix removed."""
    out: dict[str, StageTotals] = {}
    for j in jobs:
        if not (lo <= j.start <= hi):
            continue
        key = (j.description or "").removesuffix(MATERIALIZE)
        acc = out.setdefault(key, StageTotals())
        for sid in j.stages:
            st = stages.get(sid)
            if st is None:
                continue
            acc.task_cpu_s += st.task_cpu_s
            acc.shuffle_write_bytes += st.shuffle_write_bytes
            acc.spill_bytes += st.spill_bytes
            acc.gc_s += st.gc_s
            acc.tasks += st.tasks
    return out


def job_intervals(jobs: list[Job], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(j.start, j.end) for j in jobs if j.end is not None and lo <= j.start <= hi]


# ------------------------------------------------------------- metrics


UNITS = {
    "busy_s": "s", "calls": "count", "rows_out": "count", "task_cpu_s": "s",
    "shuffle_write_mb": "MB", "spill_mb": "MB", "gc_s": "s",
    "probable_frac": "ratio", "fpr": "ratio", "slow_frac": "ratio", "chain_frac": "ratio",
}


def layer_metrics(
    tracer: Tracer,
    window: tuple[float, float],
    jobs: list[Job],
    stages: dict[int, StageTotals],
    rounds: int,
) -> dict[str, dict]:
    """Per-layer metrics of the traced pass that ran in ``window``."""
    spans = tracer.spans
    selfs = self_times(spans)
    lo, hi = window
    by_desc = totals_by_description(jobs, stages, lo, hi)
    out: dict[str, float] = {}
    for name in SPANS:
        idx = [i for i, s in enumerate(spans) if s.name == name]
        t = by_desc.get(name, StageTotals())
        out[f"{name}.busy_s"] = sum(selfs[i] for i in idx)
        out[f"{name}.calls"] = len(idx)
        out[f"{name}.rows_out"] = sum(spans[i].rows_out for i in idx)
        out[f"{name}.task_cpu_s"] = t.task_cpu_s
        out[f"{name}.shuffle_write_mb"] = t.shuffle_write_bytes / 2**20
        out[f"{name}.spill_mb"] = t.spill_bytes / 2**20
        out[f"{name}.gc_s"] = t.gc_s

    def rows(name: str, site: str = "") -> int:
        return sum(
            s.rows_out for s in spans
            if s.name == name and s.in_round and (not site or s.site == site)
        )

    canon = rows("urls.canonicalize")
    robots = rows("gating.robots")
    batch = rows("dedup.batch_first", "frontier")
    probe_out = rows("dedup.seen_probe")
    probe_in = rows("dedup.prefilter")
    out.update(
        {
            "funnel.candidates_in": canon,
            "funnel.robots_blocked": canon - robots,
            "funnel.batch_duplicates": robots - batch,
            "funnel.seen_drops": batch - probe_out,
            "funnel.scheduled": rows("scheduler.schedule"),
            "funnel.fetched": rows("worldgen.fetch"),
            "funnel.images": rows("multimodal.images"),
        }
    )
    # only rows the prefilter flagged can be dropped by the exact join
    confirmed = probe_in - probe_out if probe_in else 0
    out["dedup.seen_probe.probable_frac"] = tracer.probable / probe_in if probe_in else 0.0
    out["dedup.seen_probe.fpr"] = (
        (tracer.probable - confirmed) / tracer.probable if tracer.probable else 0.0
    )
    out["urls.canonicalize.slow_frac"] = tracer.slow / canon if canon else 0.0

    # the engine's own jobs: not the tracer's checkpoints and counts
    round_windows = [(s.start, s.end) for s in spans if s.name == "crawl.round"]
    engine_jobs = [
        j for j in jobs
        if any(a <= j.start <= b for a, b in round_windows)
        and j.description != FUNNEL
        and not (j.description or "").endswith(MATERIALIZE)
    ]
    out["crawl.jobs_per_round"] = len(engine_jobs) / rounds if rounds else 0.0
    out["crawl.driver_s"] = (hi - lo) - covered_time(job_intervals(jobs, lo, hi), lo, hi)
    out["trace.funnel_s"] = sum(selfs[i] for i, s in enumerate(spans) if s.name == FUNNEL)
    materialize = [j for j in jobs if (j.description or "").endswith(MATERIALIZE)]
    out["trace.materialize_s"] = covered_time(job_intervals(materialize, lo, hi), lo, hi)
    top = [(s.start, s.end) for s in spans if s.parent is None]
    out["trace.untraced_s"] = (hi - lo) - covered_time(top, lo, hi)
    # Share of the pass net of the tracer's own work: its counts and
    # its checkpoint jobs. A checkpoint job runs inside its layer's
    # span and also computes the layer's lazy output, so this leaves
    # that part of every materialized layer's work, chain or not, out
    # of both sides.
    chain = CHAIN + ["tables.write"]
    chain_materialize = covered_time(
        job_intervals(
            [j for j in materialize if j.description.removesuffix(MATERIALIZE) in chain], lo, hi
        ),
        lo, hi,
    )
    out["trace.chain_frac"] = (
        sum(out[f"{n}.busy_s"] for n in chain) - chain_materialize
    ) / ((hi - lo) - out["trace.funnel_s"] - out["trace.materialize_s"])
    return {
        k: {"value": v, "unit": UNITS.get(k.rsplit(".", 1)[-1], "s" if k.endswith("_s") else "count")}
        for k, v in out.items()
    }
