"""Spans around the engine's layer calls, and Spark's event log.

The traced run wraps public functions of each layer from here, without
touching the engine: the crawl round, snapshot-table commits/reads/
expiry, the bloom checkpoint calls, the engine's DataFrame.count calls
and the BM25 query path. Each span tags the Spark jobs it starts with a
job description (``pb:<span id>``), so the event log's task metrics can
be attributed to spans after the run. Spans stay in memory and are
written out when the run ends.
"""

from __future__ import annotations

import glob
import inspect
import itertools
import json
import linecache
import os
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from . import stats

DESC = "spark.job.description"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    root: int | None  # the round or query the span belongs to
    thread: int
    t0: float  # epoch seconds, comparable with the event log's ms stamps
    t1: float = 0.0
    tags: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0


class Tracer:
    """Collects spans. A thread's open spans form a stack; a thread with
    no open span (the engine's commit pool) parents its spans to the
    current shared root, the crawl round that started the pool."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.enabled = False
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._shared_root: Span | None = None
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def current(self) -> Span | None:
        st = self._stack()
        return st[-1] if st else self._shared_root

    @contextmanager
    def span(self, name: str, root: bool = False, shared: bool = False,
             **tags):
        """Open a span. ``root`` starts a new round/query; ``shared``
        makes it the parent of spans opened in threads it starts."""
        parent = None if root else self.current()
        sid = next(self._ids)
        sp = Span(id=sid, name=name,
                  parent=parent.id if parent else None,
                  root=sid if root else (parent.root if parent else None),
                  thread=threading.get_ident(), t0=time.time(), tags=tags)
        prev = self.sc.getLocalProperty(DESC)
        self.sc.setLocalProperty(DESC, f"pb:{sid}")
        self._stack().append(sp)
        if shared:
            self._shared_root = sp
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            self._stack().pop()
            if shared:
                self._shared_root = None
            self.sc.setLocalProperty(DESC, prev)
            with self._lock:
                self.spans.append(sp)

    # -- wrapping layer functions ------------------------------------------
    def patch(self, owner, attr: str, make) -> None:
        """Replace owner.attr by make(original); classmethods stay
        classmethods. Undone by unpatch()."""
        static = inspect.getattr_static(owner, attr)
        if isinstance(static, classmethod):
            wrapped = classmethod(make(static.__func__))
        else:
            wrapped = make(static)
        self._patches.append((owner, attr, static))
        setattr(owner, attr, wrapped)

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def simple(self, name: str, tag=None):
        """Wrapper factory: a span named ``name`` around each call while
        tracing is enabled; ``tag(args)`` adds tags."""
        tracer = self

        def make(fn):
            def wrapper(*args, **kwargs):
                if not tracer.enabled:
                    return fn(*args, **kwargs)
                with tracer.span(name, **(tag(args, kwargs) if tag else {})):
                    return fn(*args, **kwargs)
            wrapper.__wrapped__ = fn
            return wrapper
        return make

    def install_crawl(self) -> None:
        # the session's DataFrames are the classic implementation, which
        # overrides the abstract pyspark.sql.DataFrame.count
        from pyspark.sql.classic.dataframe import DataFrame

        from vyntr_spark.crawl import CrawlEngine
        from vyntr_spark.operators.bloom import BloomShards
        from vyntr_spark.tables import SnapshotTable

        tracer = self

        def table_tag(args, kwargs):
            return {"table": args[0].name}

        def make_round(fn):
            def run_round(eng, *a, **kw):
                if not tracer.enabled:
                    return fn(eng, *a, **kw)
                with tracer.span("crawl.round", root=True, shared=True) as sp:
                    info = fn(eng, *a, **kw)
                    if info is not None:
                        sp.tags.update(round=info.round,
                                       selected=info.selected,
                                       success=info.success,
                                       new_urls=info.new_urls,
                                       dedup_dropped=info.dedup_dropped,
                                       bloom=eng._bloom is not None)
                    return info
            return run_round

        def make_commit(fn):
            def commit(table, *a, **kw):
                if not tracer.enabled:
                    return fn(table, *a, **kw)
                summary = kw.get("summary", a[2] if len(a) > 2 else None)
                with tracer.span("tables.commit", table=table.name,
                                 compaction="compact_round" in (summary or {})
                                 ) as sp:
                    sid = fn(table, *a, **kw)
                sp.tags["mb"] = _snap_mb(table, sid)
                return sid
            return commit

        def make_count(fn):
            def count(df):
                if not tracer.enabled or tracer.current() is None:
                    return fn(df)
                with tracer.span("count", caller=_count_caller()):
                    return fn(df)
            return count

        self.patch(CrawlEngine, "run_round", make_round)
        self.patch(SnapshotTable, "commit", make_commit)
        self.patch(SnapshotTable, "commit_rows",
                   self.simple("tables.commit_rows", table_tag))
        self.patch(SnapshotTable, "read", self.simple("tables.read", table_tag))
        self.patch(SnapshotTable, "expire_snapshots",
                   self.simple("tables.expire", table_tag))
        self.patch(BloomShards, "load", self.simple("bloom.load"))
        self.patch(BloomShards, "add_df", self.simple("bloom.add_df"))
        self.patch(BloomShards, "save", self.simple("bloom.save"))
        self.patch(DataFrame, "count", make_count)

    def install_search(self) -> None:
        from vyntr_spark.operators import pulse

        self.patch(pulse, "search_index", self.simple("pulse.search_index"))

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _snap_mb(table, sid: int) -> float:
    from .harness import dir_size_mb

    return dir_size_mb(os.path.join(table.dir, f"snap-{sid:08d}"))


def _count_caller() -> str:
    """Name the engine call site of a DataFrame.count by its source line,
    so counts stay classified when line numbers move."""
    f = sys._getframe(1)
    while f is not None and os.path.basename(f.f_code.co_filename) in (
            "tracing.py", "contextlib.py"):
        f = f.f_back
    if f is None:
        return "unknown"
    line = linecache.getline(f.f_code.co_filename, f.f_lineno)
    if f.f_code.co_name == "_bloom_active":
        return "seen"
    if f.f_code.co_name == "_obs_count":
        return "observation_fallback"
    if "frontier.count" in line:
        return "frontier"
    if "sel.count" in line:
        return "politeness"
    if "_maybe" in line:
        return "bloom_survivors"
    return f.f_code.co_name


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


@dataclass
class Job:
    id: int
    desc: str | None
    submit_ms: int
    stages: list[int]
    end_ms: int = 0
    tasks: list[dict] = field(default_factory=list)


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs with their tasks' metrics, from an uncompressed event log."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    j = Job(ev["Job ID"], props.get(DESC),
                            ev["Submission Time"], ev["Stage IDs"])
                    jobs[j.id] = j
                    for s in j.stages:
                        stage_job.setdefault(s, j.id)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    info = ev["Task Info"]
                    tasks.append({
                        "stage": ev["Stage ID"],
                        "launch_ms": info["Launch Time"],
                        "run_ms": m.get("Executor Run Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "spill_b": m.get("Disk Bytes Spilled", 0),
                        "in_b": m.get("Input Metrics", {}).get("Bytes Read", 0),
                        "in_rows": m.get("Input Metrics", {}).get(
                            "Records Read", 0),
                        "shuf_w_b": m.get("Shuffle Write Metrics", {}).get(
                            "Shuffle Bytes Written", 0),
                    })
    for t in tasks:
        j = stage_job.get(t["stage"])
        if j is not None:
            jobs[j].tasks.append(t)
    return sorted(jobs.values(), key=lambda j: j.id)


def attribute_jobs(jobs: list[Job], spans: list[Span]) -> dict[int, Span]:
    """job id -> the span that started it. A job without a span tag (the
    engine's untraced pool-thread jobs) goes to the round or query whose
    interval holds its submission."""
    by_id = {s.id: s for s in spans}
    roots = sorted((s for s in spans if s.root == s.id), key=lambda s: s.t0)
    out: dict[int, Span] = {}
    for j in jobs:
        if j.desc and j.desc.startswith("pb:"):
            sp = by_id.get(int(j.desc[3:]))
            if sp is not None:
                out[j.id] = sp
                continue
        t = j.submit_ms / 1000.0
        for r in roots:
            if r.t0 <= t <= r.t1:
                out[j.id] = r
                break
    return out


# ---------------------------------------------------------------------------
# Per-layer metrics
# ---------------------------------------------------------------------------

MB = 2**20


def _per(total: float, n: int) -> float:
    return total / n if n else 0.0


def _stage_skew(tasks: list[dict]) -> float | None:
    """max / median task run time in the widest stage of a task set."""
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["run_ms"])
    if not by_stage:
        return None
    widest = max(by_stage.values(), key=len)
    med = stats.median(widest)
    return max(widest) / med if med > 0 else None


def spark_op_metrics(ops: list[Span], jobs_of: dict[int, list[Job]]
                     ) -> dict[str, float]:
    """Spark task metrics per round (crawls) or per query (search)."""
    n = len(ops)
    tasks = [t for op in ops for j in jobs_of.get(op.id, []) for t in j.tasks]
    skews = [s for op in ops
             if (s := _stage_skew([t for j in jobs_of.get(op.id, [])
                                   for t in j.tasks])) is not None]
    return {
        "spark.tasks_per_round": _per(len(tasks), n),
        "spark.shuffle_write_mb": _per(sum(t["shuf_w_b"] for t in tasks) / MB, n),
        "spark.spill_mb": _per(sum(t["spill_b"] for t in tasks) / MB, n),
        "spark.gc_ms": _per(sum(t["gc_ms"] for t in tasks), n),
        "spark.task_skew": stats.median(skews) if skews else 0.0,
    }


def group_jobs(jobs: list[Job], spans: list[Span]
               ) -> tuple[dict[int, list[Job]], dict[int, list[Job]]]:
    """(jobs per root span id, jobs per span id)."""
    owner = attribute_jobs(jobs, spans)
    per_root: dict[int, list[Job]] = {}
    per_span: dict[int, list[Job]] = {}
    for j in jobs:
        sp = owner.get(j.id)
        if sp is None:
            continue
        per_span.setdefault(sp.id, []).append(j)
        if sp.root is not None:
            per_root.setdefault(sp.root, []).append(j)
    return per_root, per_span


def crawl_metrics(spans: list[Span], jobs: list[Job], cores: int,
                  n_crawls: int) -> dict[str, float]:
    rounds = [s for s in spans if s.name == "crawl.round"]
    n = len(rounds)
    per_root, per_span = group_jobs(jobs, spans)
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    in_round: dict[int, list[Span]] = {}
    for s in spans:
        if s.root is not None and s.root != s.id:
            in_round.setdefault(s.root, []).append(s)

    def spans_named(name, pred=lambda s: True):
        return [s for r in rounds for s in in_round.get(r.id, [])
                if s.name == name and pred(s)]

    def jobs_under(span_list):
        return [j for s in span_list for j in per_span.get(s.id, [])]

    def ms(span_list):
        return sum(s.ms for s in span_list)

    self_ms = [stats.self_time(r.t0, r.t1,
                               [(c.t0, c.t1) for c in kids.get(r.id, [])])
               * 1000.0 for r in rounds]
    busy = [
        sum(t["run_ms"] for j in per_root.get(r.id, []) for t in j.tasks)
        / max(r.ms * cores, 1e-9)
        for r in rounds
    ]
    commits = spans_named("tables.commit")
    analyses = [s for s in commits if s.tags["table"] == "analyses"]
    analyses_tasks = [t for j in jobs_under(analyses) for t in j.tasks]
    frontier = [s for s in commits if s.tags["table"] == "frontier"
                and not s.tags["compaction"]]
    seen = [s for s in commits if s.tags["table"] == "seen"]
    counts = spans_named("count")
    compaction = ([s for s in commits if s.tags["compaction"]]
                  + spans_named("tables.expire"))
    compact_rounds = {s.root for s in compaction}
    selected = sum(r.tags.get("selected", 0) for r in rounds)
    success = sum(r.tags.get("success", 0) for r in rounds)
    new = sum(r.tags.get("new_urls", 0) for r in rounds)
    dropped = sum(r.tags.get("dedup_dropped", 0) for r in rounds)
    rows_scanned = sum(t["in_rows"] for t in analyses_tasks)
    bloom_rounds = {s.root for s in spans_named("bloom.add_df")
                    + spans_named("bloom.load")}
    out = {
        "crawl.round_self_ms": stats.median(self_ms) if self_ms else 0.0,
        "crawl.jobs_per_round": _per(sum(len(per_root.get(r.id, []))
                                         for r in rounds), n),
        "crawl.count_jobs_per_round": _per(len(jobs_under(counts)), n),
        "crawl.core_busy_frac": stats.median(busy) if busy else 0.0,
        "fetch.scan_mb_per_round": _per(
            sum(t["in_b"] for t in analyses_tasks) / MB, n),
        "fetch.useful_row_frac": selected / rows_scanned if rows_scanned else 0.0,
        "extract.analyses_commit_ms": _per(ms(analyses), n),
        "extract.task_ms_per_page": _per(
            sum(t["run_ms"] for t in analyses_tasks), success),
        "politeness.count_ms": _per(
            ms([s for s in counts if s.tags["caller"] == "politeness"]), n),
        "politeness.selected_per_round": _per(selected, n),
        "scheduling.host_edges_commit_ms": _per(
            ms([s for s in commits if s.tags["table"] == "host_edges"
                and not s.tags["compaction"]]), n),
        "dedup.frontier_commit_ms": _per(ms(frontier), n),
        "dedup.shuffle_mb": _per(sum(t["shuf_w_b"] for j in jobs_under(
            frontier + seen) for t in j.tasks) / MB, n),
        "dedup.candidates": _per(new + dropped, n),
        "dedup.new_urls": _per(new, n),
        "dedup.bloom_rounds": _per(len(bloom_rounds), n_crawls),
        "dedup.seen_count_ms": _per(
            ms([s for s in counts if s.tags["caller"] == "seen"]), n_crawls),
        "dedup.bloom_load_ms": _per(ms(spans_named("bloom.load")), n_crawls),
        "tables.commits_per_round": _per(
            len(commits) + len(spans_named("tables.commit_rows")), n),
        "tables.commit_ms": _per(ms(commits), n),
        "tables.commit_rows_ms": _per(ms(spans_named("tables.commit_rows")), n),
        "tables.read_calls_per_round": _per(len(spans_named("tables.read")), n),
        "tables.compaction_ms": _per(ms(compaction), len(compact_rounds)),
        "tables.bytes_written_mb_per_round": _per(
            sum(s.tags.get("mb", 0.0) for s in commits), n),
    }
    out.update(spark_op_metrics(rounds, per_root))
    return out


def search_metrics(spans: list[Span], jobs: list[Job]) -> dict[str, float]:
    queries = [s for s in spans if s.name == "pulse.query"]
    n = len(queries)
    per_root, _ = group_jobs(jobs, spans)
    q_jobs = [j for q in queries for j in per_root.get(q.id, [])]
    queue = 0.0
    for j in q_jobs:
        if j.tasks:
            queue += max(0, min(t["launch_ms"] for t in j.tasks) - j.submit_ms)
    out = {
        "pulse.jobs_per_query": _per(len(q_jobs), n),
        "pulse.plan_ms": _per(sum(s.ms for s in spans
                                  if s.name == "pulse.search_index"), n),
        "pulse.exec_ms": _per(sum(s.ms for s in spans
                                  if s.name == "pulse.collect"), n),
        "pulse.scan_mb_per_query": _per(
            sum(t["in_b"] for j in q_jobs for t in j.tasks) / MB, n),
        "pulse.queue_ms": _per(queue, n),
    }
    out.update(spark_op_metrics(queries, per_root))
    return out
