"""The traced run: per-layer spans, Spark job counts and replays.

Spans are recorded from the benchmark's side, around the names the
frontier loop resolves at call time (``plans.frontier.schedule``,
``fetch_join``, ``extract_stage`` and ``SnapshotStore.write_iter``), and
around the eager DataFrame actions (``localCheckpoint``, ``count``,
``collect``). A lazy layer call returns at once, so an action span is
parented to the last layer called: the work the action executes lands on
that layer. Each span runs under its own Spark job group, which gives
the job, stage and task counts. The event log (enabled through
``PYSPARK_SUBMIT_ARGS`` for this run only) gives shuffle, spill and GC
totals per job group. Self time is a span's duration minus the spans
nested inside it in time.

The replays time, each to a noop write, ``extract_stage`` alone on every
superstep's captured input (for its share of the pass wall), and at the
widest superstep its bare Arrow hop and ``operators.dedup.seen_anti_join``
alone. Last, one ``run_training_pipeline`` pass over a small corpus of its
own gives the per-stage pipeline metrics.
"""

from __future__ import annotations

import contextlib
import glob
import json
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame

from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.functions.urlnorm import (
    normalize_url_compat_col,
)
from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators import dedup
from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.extract import (
    extract_stage,
)
from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.plans import frontier
from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.plans.checkpoint import (
    SnapshotStore,
)

from workloads import PassFailed, PipelineTrain

#: span name -> (owner, attribute) of each wrapped layer entry point
LAYERS = {
    "schedule": (frontier, "schedule"),
    "fetch_join": (frontier, "fetch_join"),
    "extract_stage": (frontier, "extract_stage"),
    "write_iter": (SnapshotStore, "write_iter"),
}
ACTIONS = ("localCheckpoint", "count", "collect")
#: the span covering the whole pass; it owns work before the first layer call
ROOT = "crawl"
REPLAY_REPS = 3


@dataclass
class Span:
    id: str
    name: str
    owner: str  # layer the span's time is charged to
    start: float
    end: float = 0.0
    nested_s: float = 0.0  # time covered by spans nested inside it

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.nested_s


@dataclass
class Tracer:
    spark: object
    tag: str
    spans: list[Span] = field(default_factory=list)
    stack: list[Span] = field(default_factory=list)
    last_layer: str = ROOT
    extract_inputs: list = field(default_factory=list)
    cached_mb: float = 0.0

    def _open(self, name: str, owner: str) -> Span:
        sp = Span(f"{self.tag}-{len(self.spans)}", name, owner, time.perf_counter())
        self.spans.append(sp)
        self.stack.append(sp)
        self.spark.sparkContext.setJobGroup(sp.id, name)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self.stack.pop()
        if self.stack:
            self.stack[-1].nested_s += sp.end - sp.start
            self.spark.sparkContext.setJobGroup(self.stack[-1].id, self.stack[-1].name)

    @contextlib.contextmanager
    def span(self, name: str, owner: str):
        sp = self._open(name, owner)
        try:
            yield sp
        finally:
            self._close(sp)

    def _layer(self, name: str, fn):
        def wrapped(*args, **kwargs):
            if not self.stack:
                return fn(*args, **kwargs)
            if name == "extract_stage":
                self.extract_inputs.append(args[0])
            if name == "fetch_join":
                # the storage status trails the cache build (it is fed by
                # the listener bus), so keep the largest reading of the pass
                self.cached_mb = max(self.cached_mb, _largest_cached_mb(self.spark))
            self.last_layer = name
            with self.span(name, name):
                return fn(*args, **kwargs)

        return wrapped

    def _action(self, name: str, fn):
        def wrapped(df, *args, **kwargs):
            if not self.stack or self.stack[-1].name in ACTIONS:
                return fn(df, *args, **kwargs)
            with self.span(name, self.last_layer):
                return fn(df, *args, **kwargs)

        return wrapped

    @contextlib.contextmanager
    def installed(self):
        """Wrap the layer entry points and actions, and open the root span."""
        saved = [(owner, attr, getattr(owner, attr)) for owner, attr in LAYERS.values()]
        saved += [(DataFrame, a, getattr(DataFrame, a)) for a in ACTIONS]
        for name, (owner, attr) in LAYERS.items():
            setattr(owner, attr, self._layer(name, getattr(owner, attr)))
        for a in ACTIONS:
            setattr(DataFrame, a, self._action(a, getattr(DataFrame, a)))
        try:
            with self.span(ROOT, ROOT):
                yield self
        finally:
            for owner, attr, fn in saved:
                setattr(owner, attr, fn)
            self.spark.sparkContext.setJobGroup(f"{self.tag}-after", "untraced")

    def self_times(self) -> dict[str, float]:
        out = {name: 0.0 for name in (ROOT, *LAYERS)}
        for sp in self.spans:
            out[sp.owner] += sp.self_s
        return out


def _largest_cached_mb(spark) -> float:
    """Storage of the largest persisted RDD (the prepared corpus cache)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    sizes = [i.memSize() + i.diskSize() for i in infos]
    return max(sizes, default=0) / (1 << 20)


def job_counts(spark, groups: list[str]) -> dict[str, int]:
    """Jobs, stages that ran tasks, and tasks, over the given job groups."""
    st = spark.sparkContext.statusTracker()
    jobs = [j for g in groups for j in st.getJobIdsForGroup(g)]
    stage_ids = {s for j in jobs for s in st.getJobInfo(j).stageIds}
    infos = [st.getStageInfo(s) for s in stage_ids]
    ran = [i for i in infos if i is not None and i.numCompletedTasks > 0]
    return {
        "jobs": len(jobs),
        "stages": len(ran),
        "tasks": sum(i.numCompletedTasks for i in ran),
    }


class HeapWatch:
    """JVM heap peak via MemoryPoolMXBeans (reset, then read the max)."""

    def __init__(self, spark):
        pools = spark._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        self.pools = [
            pools.get(i)
            for i in range(pools.size())
            if pools.get(i).getType().toString().startswith("Heap")
        ]

    def reset(self) -> None:
        for p in self.pools:
            p.resetPeakUsage()

    def peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self.pools) / (1 << 20)


def _noop_write_s(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _python_hop(df):
    """extract_stage's Arrow hop without the extraction: the same rows go
    to Python and come back without html, untouched."""
    keep = [c for c in df.columns if c != "html"]
    return df.mapInPandas(
        lambda batches: (pdf[keep] for pdf in batches), df.select(keep).schema
    )


def replay(p, extract_inputs, wall_s: float) -> dict[str, tuple[float, str]]:
    """Time extract_stage alone on every superstep's input; and its Python
    hop alone, and seen_anti_join alone, on the widest superstep's. The
    widest superstep's times are medians of REPLAY_REPS noop writes."""
    k = max(range(len(p.steps)), key=lambda i: p.steps[i]["fetched"])
    step = p.steps[k]
    inputs = [df.localCheckpoint(eager=True) for df in extract_inputs]
    extract_s = [
        statistics.median(
            _noop_write_s(extract_stage(inp, url_col="url", html_col="html"))
            for _ in range(REPLAY_REPS if i == k else 1)
        )
        for i, inp in enumerate(inputs)
    ]
    hop_s = statistics.median(
        _noop_write_s(_python_hop(inputs[k])) for _ in range(REPLAY_REPS)
    )
    cands = (
        extract_stage(inputs[k], url_col="url", html_col="html")
        .select(F.explode("links").alias("href"))
        .select(normalize_url_compat_col(F.col("href")).alias("url_norm"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    seen = p.seen_df.filter(F.col("iter") < step["iter"]).localCheckpoint(eager=True)
    antijoin_s = statistics.median(
        _noop_write_s(dedup.seen_anti_join(cands, seen)) for _ in range(REPLAY_REPS)
    )
    return {
        "extract.replay_pages_per_s": (step["fetched"] / extract_s[k], "1/s"),
        # extract_stage alone, summed over the supersteps, over the
        # untraced pass wall; and the part of it the bare hop takes
        "extract.share": (sum(extract_s) / wall_s, "ratio"),
        "extract.python_hop_fraction": (hop_s / extract_s[k], "ratio"),
        "dedup.antijoin_replay_s": (antijoin_s, "s"),
    }


def pipeline_metrics(spark, wl, checked) -> dict[str, tuple[float, str]]:
    """One checked run_training_pipeline pass: wall and rows per stage."""
    pl = PipelineTrain(spark, wl.work_dir, wl.seed)
    pl.prepare()
    spark.sparkContext.setJobGroup("fb-pipeline", "pipeline pass")
    p = checked(pl.run_pass(), pl.check)
    out = {"pipeline.pages_per_s": (pl.n_docs / p.wall_s, "1/s")}
    for s in p.stages:
        out[f"pipeline.{s.name}_s"] = (s.wall_s, "s")
        out[f"pipeline.{s.name}_rows"] = (s.rows_out, "count")
    return out


def traced_run(spark, wl, checked, session_s: float) -> tuple[dict, list[str]]:
    """An untraced pass, then a traced one (both must run the same Spark
    jobs, stages and tasks), then the replays and the pipeline pass.
    Returns the per-layer metrics that need no event log, and the traced
    job groups."""
    spark.sparkContext.setJobGroup("fb-untraced", "untraced pass")
    before = checked(wl.run_pass())
    counts_before = job_counts(spark, ["fb-untraced"])
    heap = HeapWatch(spark)
    heap.reset()
    tracer = Tracer(spark, "fb-traced")
    with tracer.installed():
        p = wl.run_pass()
    heap_mb = heap.peak_mb()
    checked(p)
    groups = [sp.id for sp in tracer.spans]
    counts = job_counts(spark, groups)
    if counts != counts_before:
        raise PassFailed(f"Spark counts differ between passes: {counts_before} {counts}")

    steps = p.steps
    tot = {k: sum(m[k] for m in steps) for k in steps[0] if k != "iter"}
    # the call's wall outside its supersteps: corpus prep, plus the
    # snapshot reads when the call is a resume
    prep_s = p.wall_s - sum(m["wall_s"] for m in steps)
    metrics = {
        "session.start_s": (session_s, "s"),
        "jvm.heap_peak_mb": (heap_mb, "MB"),
        "sources.corpus_prep_s": (prep_s, "s"),
        "sources.corpus_cached_mb": (tracer.cached_mb, "MB"),
        "politeness.schedule_s": (tot["t_sched"], "s"),
        "politeness.supersteps": (len(steps), "count"),
        "politeness.deferred_rows": (wl.deferred_rows(p), "count"),
        "fetch.hit_ratio": (tot["fetched"] / tot["scheduled"], "ratio"),
        "extract.phase_s": (tot["t_extract"], "s"),
        "extract.slow_share": (tot["slow_cnt"] / tot["fetched"], "ratio"),
        "extract.links_per_page": (tot["links"] / tot["fetched"], "ratio"),
        "dedup.new_ratio": (tot["new_urls"] / tot["links"], "ratio"),
        "state.phase_s": (tot["t_state"], "s"),
        "state.stats_s": (tot["t_stats"], "s"),
        "checkpoint.write_s": (
            sum(sp.end - sp.start for sp in tracer.spans if sp.name == "write_iter"),
            "s",
        ),
        "checkpoint.bytes_written": (p.checkpoint_bytes, "bytes"),
        "checkpoint.resume_load_s": (prep_s if wl.resumes else 0.0, "s"),
        "spark.jobs": (counts["jobs"], "count"),
        "spark.stages": (counts["stages"], "count"),
        "spark.tasks": (counts["tasks"], "count"),
        "spark.jobs_per_superstep": (counts["jobs"] / len(steps), "ratio"),
        "trace.overhead_pages_per_s": (
            p.pages / p.wall_s - before.pages / before.wall_s,
            "1/s",
        ),
    }
    for name, s in tracer.self_times().items():
        metrics[f"span.{name}.self_s"] = (s, "s")
    metrics.update(replay(p, tracer.extract_inputs, before.wall_s))
    metrics.update(pipeline_metrics(spark, wl, checked))
    return metrics, groups


def event_log_metrics(events_dir: str, groups: list[str]) -> dict:
    """Shuffle bytes written, bytes spilled and task GC time of the jobs
    in ``groups``, from the event log of a stopped application."""
    wanted = set(groups)
    stage_group: dict[int, str] = {}
    shuffle = spill = gc_ms = 0
    # Spark 4 writes each application's log as a directory of event files
    for path in glob.glob(f"{events_dir}/**/events_*", recursive=True):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for s in ev["Stage IDs"]:
                        stage_group.setdefault(s, group)
                elif kind == "SparkListenerTaskEnd":
                    if stage_group.get(ev["Stage ID"]) not in wanted:
                        continue
                    tm = ev.get("Task Metrics") or {}
                    shuffle += tm.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    spill += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0
                    )
                    gc_ms += tm.get("JVM GC Time", 0)
    return {
        "spark.shuffle_write_mb": (shuffle / (1 << 20), "MB"),
        "spark.spill_mb": (spill / (1 << 20), "MB"),
        "spark.gc_s": (gc_ms / 1000, "s"),
    }
