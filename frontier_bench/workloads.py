"""The benchmark's workloads: one closed-loop pass each, and its gate.

A workload is built once (``prepare``) and warmed up (``warm_up``), then
``run_pass`` is called back to back by a single client; a pass starts
only after the previous one returned. Every pass is checked (``check``):
each superstep's counts against oracles that share no code with the
engine, the result of a complete pass against the BFS oracle, and its
counts against the run's first complete pass.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.plans import frontier
from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.plans.pipeline import (
    run_training_pipeline,
)
from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.sources import (
    pages as pagesrc,
)

import fixtures as fx

#: per-superstep crawl metrics that must repeat exactly from pass to pass
EXACT_KEYS = ("iter", "scheduled", "fetched", "links", "new_urls", "slow_cnt")
#: per-superstep crawl metrics the oracles predict: every scheduled page of
#: the clean corpus is fetched, so (scheduled, fetched, links, new urls)
ORACLE_KEYS = ("scheduled", "fetched", "links", "new_urls")


class PassFailed(Exception):
    """A pass produced a wrong result or did not repeat the run's counts."""


@dataclass
class Pass:
    wall_s: float  # wall of the crawl() or resume() call
    pages: int  # corpus pages
    steps: list[dict]  # CrawlResult.metrics, one dict per superstep
    seen: set  # final (url_norm, depth) set
    seen_df: DataFrame | None = None  # the same, for the replays
    #: (scheduled, links, new urls) the oracle predicts for each superstep
    #: of the crawl the pass is part of, indexed by ``iter - 1``
    expect: list = field(default_factory=list)
    checkpoint_bytes: int = 0
    complete: bool = True  # ran until the frontier drained

    @property
    def supersteps(self) -> list[float]:
        return [m["wall_s"] for m in self.steps]

    def exact_counts(self) -> dict:
        """Counts that must be identical in every pass of one seed."""
        return {
            "supersteps": [tuple(m[k] for k in EXACT_KEYS) for m in self.steps],
            "checkpoint_bytes": self.checkpoint_bytes,
        }


def snapshot_bytes(root: str, after: int) -> int:
    """Bytes of the snapshot tables' ``iter=K`` directories with K > after
    (the iterations a resume from ``after`` writes), .crc sidecars excluded."""
    total = 0
    for dirpath, _, files in os.walk(root):
        part = os.path.basename(dirpath)
        if part.startswith("iter=") and int(part[5:]) > after:
            total += sum(
                os.path.getsize(os.path.join(dirpath, f))
                for f in files
                if not f.endswith(".crc")
            )
    return total


def seen_set(res) -> set:
    return set(
        res.seen.select("url_norm", "depth")
        .toPandas()
        .itertuples(index=False, name=None)
    )


class Workload:
    """Shared set-up: the seeded corpus, the seeds and the BFS oracle."""

    name = ""
    n_docs: int  # rows of the generated documents table
    replicas = 1
    body_repeat = 1
    max_depth = frontier.MAX_DEPTH
    resumes = False  # whether a pass restarts from committed snapshots

    def __init__(self, spark: SparkSession, work_dir: str, seed: int):
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.reference: dict | None = None

    def prepare(self) -> None:
        docs_dir = os.path.join(self.work_dir, "docs")
        os.makedirs(docs_dir, exist_ok=True)
        self.docs_path = os.path.join(docs_dir, "documents.parquet")
        fx.write_documents(self.docs_path, self.n_docs)
        self.residue = fx.seed_residue(self.seed)
        self.labels = fx.replica_labels(self.seed, self.replicas)
        self.depths = fx.oracle_bfs(self.docs_path, self.residue, self.max_depth)
        self.links = fx.out_links(self.docs_path)
        self.expected = fx.replicate_oracle(self.depths, self.labels)
        base = pagesrc.synth_clean_pages(self.spark, docs_dir, self.body_repeat)
        self.pages = fx.replicate(base, ["url", "html"], self.labels)
        self.seeds = fx.replicate(fx.seeds(self.spark, self.residue), ["url"], self.labels)
        self.n_pages = self.n_docs * self.replicas

    def bfs_steps(self, max_depth: int) -> list:
        """The oracle's superstep counts of an unbudgeted crawl to ``max_depth``."""
        depths = {i: d for i, d in self.depths.items() if d <= max_depth}
        return fx.replicate_steps(fx.bfs_steps(depths, self.links, max_depth), self.labels)

    def crawl(self, cfg: frontier.CrawlConfig, expect: list, complete: bool = True) -> Pass:
        t0 = time.perf_counter()
        res = frontier.crawl(self.spark, self.pages, self.seeds, cfg)
        wall = time.perf_counter() - t0
        if not complete:
            return Pass(wall, self.n_pages, res.metrics, set(), expect=expect, complete=False)
        return Pass(wall, self.n_pages, res.metrics, seen_set(res), res.seen, expect)

    def warm_up(self) -> Pass:
        """The untimed pass that pays JVM, JIT and Python-worker start-up."""
        raise NotImplementedError

    def run_pass(self) -> Pass:
        raise NotImplementedError

    def check(self, p: Pass) -> str | None:
        """Why the pass is wrong, or None. The first complete pass sets the
        counts every later pass of the run must repeat."""
        err = self.check_steps(p)
        if err or not p.complete:
            return err
        err = self.check_output(p)
        if err:
            return err
        counts = p.exact_counts()
        if self.reference is None:
            self.reference = counts
        elif counts != self.reference:
            diff = [k for k in counts if counts[k] != self.reference[k]]
            return f"counts differ from the first pass: {diff}"
        return None

    @staticmethod
    def check_steps(p: Pass) -> str | None:
        for m in p.steps:
            got = tuple(m[k] for k in ORACLE_KEYS)
            k = m["iter"] - 1
            want = p.expect[k] if k < len(p.expect) else None
            if want is None or got != (want[0], *want):
                return f"superstep {m['iter']} counts {got}, oracle {want}"
        if p.complete and (not p.steps or p.steps[-1]["iter"] != len(p.expect)):
            return f"crawl stopped after {len(p.steps)} supersteps, oracle {len(p.expect)}"
        return None

    def deferred_rows(self, p: Pass) -> int:
        """Frontier rows the politeness window deferred, summed over supersteps."""
        return 0

    def check_output(self, p: Pass) -> str | None:
        if p.seen != self.expected:
            return (
                "(url_norm, depth) set differs from the BFS oracle: "
                f"{len(p.seen ^ self.expected)} rows in one only"
            )
        return None


class CrawlDom(Workload):
    """Tag-dense ~20 KB bodies forced through Python DOM extraction; no
    budget and no store."""

    name = "crawl_dom"
    n_docs = 500
    body_repeat = 50
    #: every seed residue reaches depth 6, so a pass is 7 supersteps for any seed
    max_depth = 6
    #: the warm-up crawl stops here: every code path of a pass at a
    #: fraction of its cost
    warm_up_depth = 1

    def config(self, max_depth: int) -> frontier.CrawlConfig:
        return frontier.CrawlConfig(force_path="slow", max_depth=max_depth)

    def warm_up(self) -> Pass:
        d = self.warm_up_depth
        return self.crawl(self.config(d), self.bfs_steps(d), complete=False)

    def run_pass(self) -> Pass:
        return self.crawl(self.config(self.max_depth), self.bfs_steps(self.max_depth))


class PoliteResume(Workload):
    """Per-host budget plus a SnapshotStore. The warm-up crawls until
    ``replay`` supersteps before the end; every timed pass resumes from
    that committed snapshot and runs to completion."""

    name = "crawl_polite_resume"
    resumes = True
    n_docs = 2000
    budget_per_host = 15
    max_depth = 1
    #: supersteps each pass replays: the last one never defers, the one
    #: before it always does (for every seed residue)
    replay = 2

    def prepare(self) -> None:
        super().prepare()
        # the uninterrupted budgeted crawl's superstep counts; the warm-up
        # and every resumed pass must reproduce their share of them
        steps = fx.polite_steps(
            self.docs_path, self.residue, self.max_depth, self.budget_per_host
        )
        self.steps = fx.replicate_steps(steps, self.labels)
        self.as_of = len(steps) - self.replay

    def config(self, max_iterations: int = 100) -> frontier.CrawlConfig:
        return frontier.CrawlConfig(
            budget_per_host=self.budget_per_host,
            checkpoint_dir=os.path.join(self.work_dir, "ck"),
            max_depth=self.max_depth,
            max_iterations=max_iterations,
        )

    def warm_up(self) -> Pass:
        """The interrupted crawl whose snapshots every timed pass resumes."""
        p = self.crawl(self.config(self.as_of), self.steps, complete=False)
        # the snapshot's frontier: the seeds, plus the new urls minus the
        # scheduled rows of every superstep before the cut
        self.frontier_at_cut = sum(1 for _, d in self.expected if d == 0) + sum(
            m["new_urls"] - m["scheduled"] for m in p.steps
        )
        return p

    def run_pass(self) -> Pass:
        cfg = self.config()
        t0 = time.perf_counter()
        res = frontier.resume(self.spark, self.pages, cfg, as_of=self.as_of)
        wall = time.perf_counter() - t0
        return Pass(
            wall,
            self.n_pages,
            res.metrics,
            seen_set(res),
            res.seen,
            self.steps,
            snapshot_bytes(cfg.checkpoint_dir, self.as_of),
        )

    def deferred_rows(self, p: Pass) -> int:
        """Chained from the frontier the resumed snapshot holds."""
        size, total = self.frontier_at_cut, 0
        for m in p.steps:
            total += size - m["scheduled"]
            size += m["new_urls"] - m["scheduled"]
        return total

    def check_output(self, p: Pass) -> str | None:
        # deferral may change depths, so only the url set must equal the
        # BFS oracle's (at max_depth 1 the depths are fixed anyway); that
        # the resume reproduces the uninterrupted crawl is checked per
        # superstep against the budgeted-crawl model (check_steps)
        if {u for u, _ in p.seen} != {u for u, _ in self.expected}:
            return "url set differs from the BFS oracle"
        return None


WORKLOADS = {w.name: w for w in (CrawlDom, PoliteResume)}


@dataclass
class PipelinePass:
    wall_s: float
    stages: list  # StageStats, in pipeline order
    manifest: list[tuple]  # sorted shard-manifest rows


class PipelineTrain:
    """``run_training_pipeline`` (crawl -> ... -> shards, nine stages) over a
    small ``body_repeat=1`` corpus of its own, so that the quality filter
    keeps documents for every later stage. The crawl reaches every page
    for any seed residue, so the funnel and the shard manifest are the
    same for every seed: they are checked against the values below."""

    n_docs = 600
    #: rows out of each stage, measured on this corpus
    FUNNEL = {
        "crawl": 600,
        "tier2_extract": 600,
        "normalize": 600,
        "quality_filter": 118,
        "exact_dedup": 118,
        "dedup_clusters": 6,
        "corpus_refine": 3,
        "sequence_pack": 3,
        "training_shards": 1,
    }
    MANIFEST = [("en", 3, 118, 236.0)]

    def __init__(self, spark: SparkSession, work_dir: str, seed: int):
        self.spark = spark
        self.work_dir = os.path.join(work_dir, "pipeline")
        self.seed = seed
        self.runs = 0

    def prepare(self) -> None:
        docs_dir = os.path.join(self.work_dir, "docs")
        os.makedirs(docs_dir, exist_ok=True)
        docs_path = os.path.join(docs_dir, "documents.parquet")
        fx.write_documents(docs_path, self.n_docs)
        residue = fx.seed_residue(self.seed)
        self.reached = len(fx.oracle_bfs(docs_path, residue))
        self.pages = pagesrc.synth_clean_pages(self.spark, docs_dir, 1)
        self.seeds = fx.seeds(self.spark, residue)

    def run_pass(self) -> PipelinePass:
        self.runs += 1
        out = os.path.join(self.work_dir, f"run{self.runs}")
        t0 = time.perf_counter()
        res = run_training_pipeline(self.spark, self.pages, self.seeds, out)
        wall = time.perf_counter() - t0
        manifest = sorted(tuple(r) for r in res.manifest.collect())
        return PipelinePass(wall, res.stages, manifest)

    def check(self, p: PipelinePass) -> str | None:
        rows = {s.name: s.rows_out for s in p.stages}
        empty = [n for n, r in rows.items() if r == 0]
        if empty:
            return f"pipeline stages emitted no rows: {empty}"
        if rows.get("crawl") != self.reached:
            return f"pipeline crawl kept {rows.get('crawl')} urls, BFS oracle {self.reached}"
        if rows != self.FUNNEL:
            return f"pipeline funnel {rows} differs from {self.FUNNEL}"
        if p.manifest != self.MANIFEST:
            return f"shard manifest {p.manifest} differs from {self.MANIFEST}"
        return None
