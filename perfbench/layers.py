"""Span tracer for the traced benchmark run.

Wrappers are installed from here around the public entry point of each
crawl layer. While a traced op is running, every wrapped call opens a
span, forces its output eagerly (``localCheckpoint(eager=True)``) so the
span covers that layer's execution, then records row counts. Spans nest
op -> epoch -> layer. An epoch span opens at the robots filter, the first
layer of every superstep, and closes at the next superstep, the cookie
fold, a snapshot commit, or when the crawl returns.

Every span runs its Spark jobs under its own job group, so executor task
time can be attributed to it from the event log after the session stops
(:func:`task_seconds_by_group`). Time spent counting rows for the trace is
kept apart (``stat_s``) and excluded from the reported walls.
"""

from __future__ import annotations

import dataclasses
import json
import os
import statistics
import time
from contextlib import contextmanager

EPOCH = "scheduler.epoch"
CRAWL_SETUP = "scheduler.crawl_setup"
MATERIALIZE = "scheduler.materialize"

# every per-layer metric the traced run reports, with its unit
UNITS = {
    "scheduler.epoch.wall_s": "s",
    "scheduler.driver_gap_s": "s",
    "scheduler.crawl_setup.wall_s": "s",
    "scheduler.materialize.wall_s": "s",
    "robots.fetch_robots_rules_df.wall_s": "s",
    "robots.mark_blocked.wall_s": "s",
    "robots.mark_blocked.blocked_share": "share",
    "scheduler.politeness_split.wall_s": "s",
    "scheduler.politeness_split.selected_share": "share",
    "agent.fetch_result.wall_s": "s",
    "agent.fetch_result.task_s": "s",
    "agent.fetch_result.rows": "count",
    "agent.fetch_result.ok_share": "share",
    "extract.parse_pages_crawl.wall_s": "s",
    "extract.parse_pages_crawl.task_s": "s",
    "extract.parse_pages_crawl.pages": "count",
    "extract.parse_pages_crawl.links_out": "count",
    "seen.probe_dedup_update.wall_s": "s",
    "seen.probe_dedup_update.task_s": "s",
    "seen.probe_dedup_update.candidates": "count",
    "seen.probe_dedup_update.maybe_seen_share": "share",
    "seen.probe_dedup_update.bloom_fp_share": "share",
    "seen.probe_dedup_update.new_share": "share",
    "cookies.fold_cookie_events.wall_s": "s",
    "cookies.events": "count",
    "cookies.jar_rows": "count",
    "store.commit.wall_s": "s",
    "store.commit.bytes": "bytes",
    "store.write_amp": "ratio",
    "store.load.wall_s": "s",
    "session.get_spark.wall_s": "s",
    "corpus.build.wall_s": "s",
    "agent.resolve_redirect_closure.wall_s": "s",
    "trace.overhead_share": "share",
    "trace.coverage_share": "share",
}


@dataclasses.dataclass
class Span:
    name: str
    group: str
    t0: float
    t1: float = 0.0
    stat_s: float = 0.0
    stats: dict = dataclasses.field(default_factory=dict)
    children: list = dataclasses.field(default_factory=list)
    task_s: float = 0.0

    @property
    def gross_s(self) -> float:
        return self.t1 - self.t0

    def trace_s(self) -> float:
        """Time this span and its descendants spent counting for the trace."""
        return self.stat_s + sum(c.trace_s() for c in self.children)

    @property
    def wall_s(self) -> float:
        return self.gross_s - self.trace_s()

    def to_json(self) -> dict:
        return {
            "name": self.name, "wall_s": self.wall_s, "stat_s": self.stat_s,
            "task_s": self.task_s, "stats": self.stats,
            "children": [c.to_json() for c in self.children],
        }


class Tracer:
    """Keeps the spans of traced ops in memory; inactive between them."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.active = False
        self.stack: list[Span] = []
        self.ops: list[Span] = []
        self._n = 0

    def _open(self, name: str) -> Span:
        self._n += 1
        sp = Span(name, f"span-{self._n}", time.perf_counter())
        if self.stack:
            self.stack[-1].children.append(sp)
        self.stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        return sp

    def _close(self) -> None:
        sp = self.stack.pop()
        sp.t1 = time.perf_counter()
        if self.stack:
            self.sc.setJobGroup(self.stack[-1].group, self.stack[-1].name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def op(self):
        self.active = True
        sp = self._open("op")
        try:
            yield sp
        finally:
            while self.stack:
                self._close()
            self.active = False
            self.ops.append(sp)

    @contextmanager
    def span(self, name: str):
        sp = self._open(name)
        try:
            yield sp
        finally:
            self._close()

    def open_phase(self, name: str) -> None:
        """Open an op-level phase (crawl set-up or an epoch), closing the
        previous one."""
        self.close_phase()
        self._open(name)

    def close_phase(self) -> None:
        if self.active and self.stack[-1].name in (EPOCH, CRAWL_SETUP):
            self._close()


def _force(out):
    """Materialize a layer's output so its span covers the work."""
    from pyspark.sql import DataFrame

    if isinstance(out, DataFrame):
        return out.localCheckpoint(eager=True)
    if isinstance(out, tuple):
        return tuple(_force(o) for o in out)
    if isinstance(out, dict):
        return {k: _force(v) for k, v in out.items()}
    if dataclasses.is_dataclass(out) and not isinstance(out, type):
        fields = {
            f.name: _force(getattr(out, f.name))
            for f in dataclasses.fields(out)
            if isinstance(getattr(out, f.name), DataFrame)
        }
        return dataclasses.replace(out, **fields)
    return out


def _agg(df, *cols) -> list:
    return list(df.agg(*cols).first())


def _stats_mark_blocked(args, kwargs, out) -> dict:
    from pyspark.sql import functions as F

    rows, blocked = _agg(
        out, F.count("*"), F.sum(F.col("_blocked").cast("int"))
    )
    return {"rows": rows, "blocked": blocked or 0}


def _stats_politeness(args, kwargs, out) -> dict:
    selected, rest = out
    return {"selected": selected.count(), "rest": rest.count()}


def _stats_fetch(args, kwargs, out) -> dict:
    from pyspark.sql import functions as F

    rows, ok = _agg(
        out.finals, F.count("*"), F.sum((F.col("status") == 200).cast("int"))
    )
    return {"rows": rows, "ok": ok or 0}


def _stats_parse(args, kwargs, out) -> dict:
    from pyspark.sql import functions as F

    pages, links = _agg(out, F.count("*"), F.sum(F.size("links")))
    return {"pages": pages, "links_out": links or 0}


def _stats_probe(args, kwargs, out) -> dict:
    """Bloom outcome per candidate, checked against the exact seen table:
    a bloom false positive is a maybe-seen candidate absent from it."""
    from pyspark.sql import functions as F

    seen = args[0]
    cand = out.where(F.col("bits").isNull())
    n, maybe = _agg(cand, F.count("*"), F.sum(F.col("_maybe_seen").cast("int")))
    fp = (
        cand.where(F.col("_maybe_seen"))
        .join(seen.seen_df.select("url_norm"), "url_norm", "left_anti")
        .count()
    )
    maybe = maybe or 0
    return {"candidates": n, "maybe_seen": maybe, "bloom_fp": fp,
            "new": n - maybe + fp}


def _stats_fold(args, kwargs, out) -> dict:
    events = args[1] if len(args) > 1 else kwargs.get("events")
    return {"events": events.count() if events is not None else 0,
            "jar_rows": out.count()}


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def _stats_commit(args, kwargs, out) -> dict:
    store, epoch = args[0], args[1]
    return {"bytes": dir_bytes(os.path.join(store.root, f"epoch={epoch:06d}"))}


def install(tracer: Tracer) -> None:
    """Wrap each layer's public entry point; the wrappers pass straight
    through while no traced op is running."""
    from mechaml_spark import agent, cookies, extract
    from mechaml_spark.frontier import robots, scheduler, seen, store

    def wrap(owner, attr, name, stats=None, phase=None):
        orig = getattr(owner, attr)

        def traced(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            if phase == "open":
                tracer.open_phase(EPOCH)
            elif phase == "close":
                tracer.close_phase()
            with tracer.span(name) as sp:
                out = _force(orig(*args, **kwargs))
                t = time.perf_counter()
                if stats is not None:
                    sp.stats.update(stats(args, kwargs, out))
                sp.stat_s = time.perf_counter() - t
            return out

        setattr(owner, attr, traced)

    wrap(robots, "fetch_robots_rules_df", "robots.fetch_robots_rules_df")
    wrap(robots, "mark_blocked", "robots.mark_blocked",
         _stats_mark_blocked, phase="open")
    wrap(scheduler, "politeness_split", "scheduler.politeness_split",
         _stats_politeness)
    wrap(agent.ResolvedCorpusFetcher, "fetch_result", "agent.fetch_result",
         _stats_fetch)
    wrap(extract, "parse_pages_crawl", "extract.parse_pages_crawl",
         _stats_parse)
    wrap(seen.SeenSet, "probe_dedup_update", "seen.probe_dedup_update",
         _stats_probe)
    wrap(cookies, "fold_cookie_events", "cookies.fold_cookie_events",
         _stats_fold, phase="close")
    wrap(store.SnapshotStore, "commit", "store.commit", _stats_commit,
         phase="close")
    wrap(store.SnapshotStore, "load", "store.load")


def task_seconds_by_group(log_dir: str) -> dict[str, float]:
    """Executor run time per job group, summed from a Spark event log."""
    stage_group: dict[int, str | None] = {}
    out: dict[str, float] = {}
    # Spark writes rolling logs: one directory per application holding
    # events_<n>_* files (plus an empty appstatus marker)
    paths = sorted(
        (os.path.join(d, f) for d, _, files in os.walk(log_dir)
         for f in files if f.startswith("events_")),
        key=lambda p: int(os.path.basename(p).split("_")[1]))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    run_ms = (ev.get("Task Metrics") or {}).get(
                        "Executor Run Time", 0)
                    if group is not None:
                        out[group] = out.get(group, 0.0) + run_ms / 1000.0
    return out


def attach_task_seconds(tracer: Tracer, by_group: dict[str, float]) -> None:
    def visit(sp: Span) -> None:
        sp.task_s = by_group.get(sp.group, 0.0)
        for c in sp.children:
            visit(c)

    for op in tracer.ops:
        visit(op)


def _share(num, den) -> float:
    return num / den if den else 0.0


def op_layer_metrics(op: Span) -> dict[str, float]:
    """Per-layer numbers of one traced op (totals over its calls)."""
    by_name: dict[str, list[Span]] = {}

    def visit(sp: Span) -> None:
        by_name.setdefault(sp.name, []).append(sp)
        for c in sp.children:
            visit(c)

    for c in op.children:
        visit(c)

    def spans(name):
        return by_name.get(name, [])

    def total(name, attr="wall_s"):
        return sum(getattr(s, attr) for s in spans(name))

    def stat(name, key):
        return sum(s.stats.get(key, 0) for s in spans(name))

    epochs = spans(EPOCH)
    m = {
        "scheduler.epoch.wall_s": (
            statistics.median(e.wall_s for e in epochs) if epochs else 0.0),
        "scheduler.driver_gap_s": sum(
            e.wall_s - sum(c.wall_s for c in e.children) for e in epochs),
        "scheduler.crawl_setup.wall_s": total(CRAWL_SETUP),
        "scheduler.materialize.wall_s": total(MATERIALIZE),
        "trace.coverage_share": _share(
            sum(c.gross_s for c in op.children), op.gross_s),
    }
    for name in (
        "robots.fetch_robots_rules_df", "robots.mark_blocked",
        "scheduler.politeness_split", "cookies.fold_cookie_events",
        "store.commit", "store.load",
    ):
        m[f"{name}.wall_s"] = total(name)
    for name in (
        "agent.fetch_result", "extract.parse_pages_crawl",
        "seen.probe_dedup_update",
    ):
        m[f"{name}.wall_s"] = total(name)
        m[f"{name}.task_s"] = total(name, "task_s")
    m["robots.mark_blocked.blocked_share"] = _share(
        stat("robots.mark_blocked", "blocked"),
        stat("robots.mark_blocked", "rows"))
    sel = stat("scheduler.politeness_split", "selected")
    m["scheduler.politeness_split.selected_share"] = _share(
        sel, sel + stat("scheduler.politeness_split", "rest"))
    rows = stat("agent.fetch_result", "rows")
    m["agent.fetch_result.rows"] = rows
    m["agent.fetch_result.ok_share"] = _share(
        stat("agent.fetch_result", "ok"), rows)
    m["extract.parse_pages_crawl.pages"] = stat(
        "extract.parse_pages_crawl", "pages")
    m["extract.parse_pages_crawl.links_out"] = stat(
        "extract.parse_pages_crawl", "links_out")
    cand = stat("seen.probe_dedup_update", "candidates")
    new = stat("seen.probe_dedup_update", "new")
    m["seen.probe_dedup_update.candidates"] = cand
    m["seen.probe_dedup_update.maybe_seen_share"] = _share(
        stat("seen.probe_dedup_update", "maybe_seen"), cand)
    # false-positive rate: maybe-seen verdicts among truly new candidates
    m["seen.probe_dedup_update.bloom_fp_share"] = _share(
        stat("seen.probe_dedup_update", "bloom_fp"), new)
    m["seen.probe_dedup_update.new_share"] = _share(new, cand)
    # the fold that produced the jar the crawl hands back: the op's last
    folds = spans("cookies.fold_cookie_events")
    last = folds[-1].stats if folds else {}
    m["cookies.events"] = last.get("events", 0)
    m["cookies.jar_rows"] = last.get("jar_rows", 0)
    m["store.commit.bytes"] = stat("store.commit", "bytes")
    return m
