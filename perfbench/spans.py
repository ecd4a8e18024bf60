"""Layer tracing from outside the program, for the traced run only.

:class:`Tracer` swaps the public functions the workloads reach (module
attributes, wherever the program bound them) for wrappers. Each wrapper
opens a span, sets the span's Spark job group, calls the function,
forces the frame it returns with an eager ``localCheckpoint`` under the
same group and passes the materialized frame on, so every Spark job
lands in exactly one span. Spans stay in memory with parent ids; the
event log (plain JSON lines) is folded per job group after the session
stops.

The pure functions below — interval arithmetic, self time, the event-log
fold and the percentile rule — carry no Spark state and are unit-tested
in ``test_perfbench.py``.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import statistics
import sys
import time
from dataclasses import dataclass, field
from typing import Any, Callable

Interval = tuple[float, float]

# metrics every span reports, in output order
SPAN_METRICS = (
    "self_s",
    "task_s",
    "core_util",
    "driver_gap_s",
    "jobs",
    "shuffle_mb",
    "task_skew",
    "rows_out",
)


# ---------------------------------------------------------------- intervals
def union(intervals: list[Interval]) -> list[Interval]:
    """Sorted, non-overlapping cover of ``intervals``."""
    out: list[list[float]] = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def subtract(base: list[Interval], cut: list[Interval]) -> list[Interval]:
    """Parts of ``base`` (non-overlapping) not covered by ``cut``."""
    cut = union(cut)
    out: list[Interval] = []
    for a, b in base:
        cur = a
        for c, d in cut:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append((cur, c))
            cur = max(cur, d)
        if cur < b:
            out.append((cur, b))
    return out


def length(intervals: list[Interval]) -> float:
    return sum(b - a for a, b in intervals)


# ---------------------------------------------------------------- spans
@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.id}"


def self_intervals(span: Span, spans: list[Span], hidden: list[Interval]) -> list[Interval]:
    """The span's wall interval minus its children's intervals and the
    tracer's own bookkeeping (``hidden``) inside it."""
    kids = [(s.start, s.end) for s in spans if s.parent == span.id]
    return subtract([(span.start, span.end)], kids + hidden)


# ---------------------------------------------------------------- event log
@dataclass
class GroupCost:
    """Spark cost of one job group, folded from the event log."""

    jobs: int = 0
    task_s: float = 0.0
    shuffle_bytes: int = 0
    stage_tasks: dict[int, list[float]] = field(default_factory=dict)

    def skew(self) -> float:
        """Max over median task run time in the group's dominant stage
        (the one with the most summed task time)."""
        if not self.stage_tasks:
            return 0.0
        runs = max(self.stage_tasks.values(), key=sum)
        med = statistics.median(runs)
        return max(runs) / med if med > 0 else 1.0


def fold_event_log(lines) -> tuple[dict[str, GroupCost], list[Interval]]:
    """Fold Spark event-log JSON lines into per-``spark.jobGroup.id``
    costs plus every job's wall interval (seconds since the epoch).

    A task's stage belongs to the first job that listed it; its
    ``Executor Run Time`` (ms) adds to the job's group, and its shuffle
    write bytes count as the group's shuffle volume (each shuffled byte
    is written once)."""
    groups: dict[str, GroupCost] = {}
    stage_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    job_group: dict[int, str] = {}
    intervals: list[Interval] = []
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            g = props.get("spark.jobGroup.id") or ""
            jid = ev["Job ID"]
            job_start[jid] = ev["Submission Time"] / 1000.0
            job_group[jid] = g
            groups.setdefault(g, GroupCost()).jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_start:
                intervals.append((job_start[jid], ev["Completion Time"] / 1000.0))
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev["Stage ID"], "")
            cost = groups.setdefault(g, GroupCost())
            tm = ev.get("Task Metrics") or {}
            run_s = tm.get("Executor Run Time", 0) / 1000.0
            cost.task_s += run_s
            cost.shuffle_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            cost.stage_tasks.setdefault(ev["Stage ID"], []).append(run_s)
    return groups, intervals


def read_event_log(log_dir: str) -> list[str]:
    """Lines of the (single, finished) application log in ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {names}")
    with open(os.path.join(log_dir, names[0]), encoding="utf-8") as f:
        return f.readlines()


# ---------------------------------------------------------------- percentiles
def percentile_with_tail(values: list[float], q: float, min_tail: int = 10) -> float | None:
    """The ``q``-quantile (nearest rank) of ``values``, or None unless
    at least ``min_tail`` samples lie strictly beyond it — a tail
    percentile drawn from fewer samples is not reported."""
    if not values:
        return None
    xs = sorted(values)
    rank = max(1, math.ceil(q * len(xs)))
    v = xs[rank - 1]
    return v if sum(1 for x in xs if x > v) >= min_tail else None


# ---------------------------------------------------------------- report
def layer_metrics(
    spans: list[Span],
    hidden: list[Interval],
    groups: dict[str, GroupCost],
    jobs: list[Interval],
    cores: int,
) -> dict[str, dict[str, float]]:
    """Per span name: the SPAN_METRICS summed over its instances (ratios
    recomputed from the sums, skew as the max) plus the summed counts
    the wrappers recorded."""
    job_cover = union(jobs)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        own = self_intervals(s, spans, hidden)
        self_s = length(own)
        cost = groups.get(s.group, GroupCost())
        m = out.setdefault(s.name, {k: 0.0 for k in SPAN_METRICS})
        m["self_s"] += self_s
        m["task_s"] += cost.task_s
        m["driver_gap_s"] += length(subtract(own, job_cover))
        m["jobs"] += cost.jobs
        m["shuffle_mb"] += cost.shuffle_bytes / 1e6
        m["task_skew"] = max(m["task_skew"], cost.skew())
        for k, v in s.counts.items():
            m[k] = m.get(k, 0.0) + v
    for m in out.values():
        m["core_util"] = m["task_s"] / (m["self_s"] * cores) if m["self_s"] > 0 else 0.0
    return out


# ---------------------------------------------------------------- tracer
class Tracer:
    """Spans around wrapped program functions, one Spark job group per
    span instance. ``install`` patches; ``uninstall`` restores."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.hidden: list[Interval] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._patched: list[tuple[Any, str, Any]] = []
        # captured for the kernel micro-benchmark
        self.pair_strings: list[tuple[str, str]] = []
        self.idf: dict[str, float] | None = None

    # -- spans -------------------------------------------------------------
    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    def open(self, name: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        s = Span(next(self._ids), name, parent, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        return s

    def close(self, s: Span) -> None:
        s.end = time.time()
        self._stack.pop()
        self._set_group(self._stack[-1] if self._stack else None)

    def bookkeeping(self, fn: Callable[[], Any]) -> Any:
        """Run the tracer's own Spark work (counts) in a job group of
        its own; its wall interval is cut from the enclosing span."""
        t0 = time.time()
        self.sc.setJobGroup("perfbench-bookkeeping", "perfbench bookkeeping")
        try:
            return fn()
        finally:
            self._set_group(self._stack[-1] if self._stack else None)
            self.hidden.append((t0, time.time()))

    def force(self, df):
        from entity_linking_in_biomedical_spark.session import barrier_level

        return df.localCheckpoint(eager=True, storageLevel=barrier_level())

    def count(self, df) -> int:
        return int(self.bookkeeping(df.count))

    # -- patching ------------------------------------------------------------
    def patch(self, owner: Any, attr: str, wrapper_factory) -> None:
        """Replace ``owner.attr`` and every other binding of the same
        object in the program's loaded modules (``from x import f``
        copies the reference) with ``wrapper_factory(original)``."""
        original = getattr(owner, attr)
        wrapper = wrapper_factory(original)
        targets = [owner] + [
            m
            for n, m in list(sys.modules.items())
            if m is not None
            and m is not owner
            and (n == "__spark_entry__" or n.startswith("entity_linking_in_biomedical_spark"))
        ]
        for t in targets:
            for name, val in list(vars(t).items()):
                if val is original:
                    self._patched.append((t, name, val))
                    setattr(t, name, wrapper)

    def uninstall(self) -> None:
        for t, name, val in reversed(self._patched):
            setattr(t, name, val)
        self._patched.clear()

    def frame_wrapper(self, name: str, post: Callable | None = None):
        """Wrapper factory for a function returning a frame, or a
        (frame, rounds) tuple. ``post(span, args, kwargs, frame)`` adds
        counts after the span closes (bookkeeping time)."""

        def factory(fn):
            def wrapped(*args, **kwargs):
                s = self.open(name)
                try:
                    res = fn(*args, **kwargs)
                    rounds = None
                    if isinstance(res, tuple):
                        res, rounds = res
                    res = self.force(res)
                finally:
                    self.close(s)
                s.counts["rows_out"] = self.count(res)
                if rounds is not None:
                    s.counts["rounds"] = rounds
                if post is not None:
                    self.bookkeeping(lambda: post(s, args, kwargs, res))
                return res if rounds is None else (res, rounds)

            wrapped.__wrapped__ = fn
            return wrapped

        return factory

    def install(self) -> None:
        from entity_linking_in_biomedical_spark.operators import (
            blocking,
            clustering,
            mentions,
            scoring,
        )
        from entity_linking_in_biomedical_spark.plans import incremental_er, pipeline, resume

        fw = self.frame_wrapper
        self.patch(mentions, "extract_mentions", fw("operators.mentions.extract_mentions"))
        self.patch(blocking, "entity_names", fw("operators.blocking.entity_names"))
        self.patch(
            blocking, "surface_blocking_keys", fw("operators.blocking.surface_blocking_keys")
        )
        self.patch(
            blocking,
            "block_candidates",
            fw("operators.blocking.block_candidates", post=self._hot_keys),
        )
        self.patch(
            clustering,
            "connected_components",
            fw("operators.clustering.connected_components"),
        )
        self.patch(
            clustering,
            "merge_into_clusters",
            fw("operators.clustering.merge_into_clusters"),
        )
        self.patch(
            incremental_er,
            "relabel_mentions",
            fw("plans.incremental_er.relabel_mentions"),
        )
        self.patch(scoring, "fit_idf", self._fit_idf_wrapper)
        self.patch(scoring, "score_pairs", self._score_pairs_wrapper)
        self.patch(pipeline, "run_pipeline", self._run_pipeline_wrapper)
        self.patch(resume.StageStore, "commit", self._commit_wrapper)

    # -- function-specific wrappers ----------------------------------------
    def _hot_keys(self, span: Span, args, kwargs, frame) -> None:
        """Blocking keys shared by more than ``max_key_freq`` entities —
        the keys block_candidates drops — recounted with the same
        public key builder and parameters."""
        import inspect

        from pyspark.sql import functions as F

        from entity_linking_in_biomedical_spark.operators import blocking

        b = inspect.signature(blocking.block_candidates.__wrapped__).bind(*args, **kwargs)
        b.apply_defaults()
        p = b.arguments
        keys = blocking.blocking_keys(
            F.col("norm"), p["ns"], p["num_hashes"], p["bands"], p["del_max_len"],
            p["lsh_min_len"], p["del2_max_len"], p["word_num_hashes"], p["phonetic"],
        )
        hot = (
            p["names"].select("cui", F.explode(keys).alias("bk"))
            .groupBy("bk")
            .agg(F.count_distinct("cui").alias("kf"))
            .filter(F.col("kf") > p["max_key_freq"])
            .count()
        )
        span.counts["hot_keys"] = hot

    def _fit_idf_wrapper(self, fn):
        def wrapped(*args, **kwargs):
            s = self.open("operators.scoring.fit_idf")
            try:
                idf = fn(*args, **kwargs)
            finally:
                self.close(s)
            s.counts["rows_out"] = len(idf)
            self.idf = idf
            return idf

        wrapped.__wrapped__ = fn
        return wrapped

    def _score_pairs_wrapper(self, fn):
        def wrapped(spark, pairs, idf, cfg=None, *args, **kwargs):
            from pyspark.sql import functions as F

            from entity_linking_in_biomedical_spark.operators.scoring import ScoringConfig
            from entity_linking_in_biomedical_spark.plans.pipeline import PipelineConfig

            caller = sys._getframe(1).f_code.co_name
            role = {"compute_me": "me", "compute_mm": "mm"}.get(caller, caller)
            cfg = cfg or ScoringConfig()
            thr = cfg.threshold if role == "me" else PipelineConfig().mm_threshold
            s = self.open(f"operators.scoring.score_pairs.{role}")
            try:
                out = self.force(fn(spark, pairs, idf, cfg, *args, **kwargs))
            finally:
                self.close(s)

            def tally():
                r = out.agg(
                    F.count("*").alias("n"),
                    F.sum((F.col("score") >= thr).cast("long")).alias("kept"),
                ).first()
                self.pair_strings.extend(
                    (a or "", b or "") for a, b in out.select("a_norm", "b_norm").collect()
                )
                return int(r["n"]), int(r["kept"] or 0)

            n, kept = self.bookkeeping(tally)
            s.counts.update(rows_out=n, scored=n, kept=kept)
            return out

        wrapped.__wrapped__ = fn
        return wrapped

    def _run_pipeline_wrapper(self, fn):
        def wrapped(*args, **kwargs):
            s = self.open("plans.pipeline.run_pipeline")
            try:
                res = fn(*args, **kwargs)
                res["linked_documents"] = self.force(res["linked_documents"])
            finally:
                self.close(s)
            s.counts["rows_out"] = self.count(res["linked_documents"])
            return res

        wrapped.__wrapped__ = fn
        return wrapped

    def _commit_wrapper(self, fn):
        def wrapped(store, stage, signature, df, *args, **kwargs):
            s = self.open("plans.resume.StageStore.commit")
            try:
                out = self.force(fn(store, stage, signature, df, *args, **kwargs))
            finally:
                self.close(s)
            s.counts["rows_out"] = self.count(out)
            if store.out_dir is not None:
                data_dir = os.path.join(store.out_dir, stage, "data")
                s.counts["mb_written"] = (
                    sum(
                        os.path.getsize(os.path.join(d, f))
                        for d, _, fs in os.walk(data_dir)
                        for f in fs
                    )
                    / 1e6
                )
            return out

        wrapped.__wrapped__ = fn
        return wrapped
