"""The workloads: set-up, the measured loop, and the output checks.

Each run builds its inputs from the seed (``vyntr_spark.synth``), starts
one Spark session sized to the host, prepares the answer key, warms up
untimed, then repeats the workload's unit (one crawl, or one query per
client) until ``--seconds`` have passed. Every unit's outputs are
checked against the answer key outside the timed region. Why each
workload exists and which layer it stresses: perfbench/NOTES.md.
"""

from __future__ import annotations

import os
import random
import re
import shutil
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from . import answers, harness, stats, tracing

ZIPF_S = 0.25  # mild host skew: ~10 pages on most hosts

#: vyntr_spark.tables.PAGES as Arrow types
WEB_SCHEMA = pa.schema([
    pa.field("url", pa.string(), False),
    pa.field("warc_ts", pa.timestamp("us", tz="UTC"), False),
    pa.field("html", pa.binary(), False),
    pa.field("text", pa.string(), False),
    pa.field("lang", pa.string(), False),
    pa.field("content_type", pa.string()),
    pa.field("status", pa.int32()),
    pa.field("body_marker", pa.string()),
])


@dataclass(frozen=True)
class CrawlShape:
    n_pages: int
    n_hosts: int
    seeds_per_host: int
    cap: int
    rounds: int
    priority: bool = False
    compact_every: int = 8
    preseed: int = 0  # earlier URLs already in the seen table


SHAPES = {
    # one crawl that stresses every crawl layer: a fresh engine resumes
    # from a checkpointed store whose seen table already holds many
    # disjoint URLs (the URL-seen dedup), crawls a full-width web whose
    # every host is seeded at its cap (extraction and the fetch scan),
    # in priority-frontier mode with compaction on its last round (the
    # per-round control plane and table maintenance); two rounds, so a
    # run has time for two warm-up crawls and two measured ones
    "crawl_resume": CrawlShape(1200, 120, seeds_per_host=5, cap=5, rounds=2,
                               priority=True, compact_every=2,
                               preseed=500_000),
}

#: untimed crawls in set-up. The JVM keeps compiling for several
#: crawls: after one warm-up crawl the tree's CPU time per crawl fell
#: from ~30 s to ~27 s to ~22 s over the next three (seeds 311-314)
WARMUP_CRAWLS = 2
#: measured crawls per untraced run, at least; traced runs take three,
#: untraced, traced, untraced
MIN_CRAWLS = 2

#: search_serve indexes the text of the crawl's web
SEARCH_WEB = SHAPES["crawl_resume"]
#: a closed loop of nproc clients answers ~1-3 queries/s on 4 cores, so
#: a run cannot afford the >= 100 queries a p90 needs; 20 queries
#: support the median (10 samples beyond it) and no tail
SEARCH_MIN_QUERIES = 20
#: untimed queries per client in set-up
SEARCH_WARMUP_PER_CLIENT = 2
SEARCH_K = 10


@dataclass
class Outcome:
    """What a run reports: end-to-end or per-layer metrics plus the
    operation counts, and human-readable notes for stdout."""
    metrics: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _write_web(work: str, shape: CrawlShape, seed: int) -> str:
    """The pages table ``synth.write_pages_parquet_spark`` writes for this
    shape and seed, generated in this process so it can run while the
    Spark session starts: the same rows, in as many files of contiguous
    page indices as that job's partitions. Falls back to the Spark job
    when synth no longer has the per-page generator."""
    from vyntr_spark import synth
    from vyntr_spark.extract import extract_html

    path = os.path.join(work, "web")
    if not all(hasattr(synth, f) for f in
               ("_page_html_web", "_EPOCH", "_stable_int")):
        return path
    pre = synth.host_prefix(synth.plan_hosts(shape.n_pages, shape.n_hosts,
                                             ZIPF_S))
    os.makedirs(path)
    parts = 2 * harness.spark_cores()
    for i in range(parts):
        cols: dict[str, list] = {k: [] for k in WEB_SCHEMA.names}
        for idx in range(i * shape.n_pages // parts,
                         (i + 1) * shape.n_pages // parts):
            _host, url, html, lang, status, marker, ctype = (
                synth._page_html_web(idx, shape.n_pages, pre, seed))
            cols["url"].append(url)
            cols["warc_ts"].append(1_000_000 * int(
                synth._EPOCH + synth._stable_int(url) % 31_536_000))
            cols["html"].append(html.encode("utf-8"))
            cols["text"].append(extract_html(html, url).content_text)
            cols["lang"].append(lang)
            cols["content_type"].append(ctype)
            cols["status"].append(status)
            cols["body_marker"].append(marker)
        pq.write_table(pa.table(cols, schema=WEB_SCHEMA),
                       os.path.join(path, f"part-{i:05d}.parquet"))
    return path


def _make_web(spark, web: str, shape: CrawlShape, seed: int) -> str:
    """The web ``_write_web`` wrote, or the Spark job's if it could not."""
    from vyntr_spark.synth import write_pages_parquet_spark

    if os.path.isdir(web):
        return web
    return write_pages_parquet_spark(spark, web, shape.n_pages, shape.n_hosts,
                                     seed=seed, zipf_s=ZIPF_S)


def _session_and_web(bench: "_Bench", shape: CrawlShape) -> str:
    """Start the session while another thread writes the web; the
    "session" phase covers both running together, "web" what is left."""
    with ThreadPoolExecutor(1) as pool:
        with bench.phase("session"):
            web = pool.submit(_write_web, bench.work, shape, bench.seed)
            bench.spark = harness.start_spark(bench.work,
                                              event_log=bench.trace)
        with bench.phase("web"):
            return _make_web(bench.spark, web.result(), shape, bench.seed)


class _Bench:
    spark = None

    @contextmanager
    def phase(self, name: str):
        """Time one set-up phase; the run prints them beside setup_s."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = time.perf_counter() - t0

    def phase_note(self) -> str:
        return "setup phases: " + " ".join(
            f"{k}={v:.2f}s" for k, v in self.phases.items())

    def close(self) -> None:
        """Stop the session and its processes; safe to call twice."""
        if self.spark is not None:
            spark, self.spark = self.spark, None
            harness.stop_spark(spark)


# ---------------------------------------------------------------------------
# crawls
# ---------------------------------------------------------------------------


@dataclass
class CrawlRun:
    round_s: list[float]
    cpu_s: float  # the process tree's CPU time over the rounds
    pages: int
    new_urls: int
    store_mb: float
    attempted: int
    failed: int
    traced: bool


class CrawlBench(_Bench):
    def __init__(self, name: str, seed: int, work: str, trace: bool):
        self.name = name
        self.shape = SHAPES[name]
        self.seed = seed
        self.work = work
        self.trace = trace
        self.phases: dict[str, float] = {}

    # -- set-up -------------------------------------------------------------
    def setup(self) -> None:
        from vyntr_spark.synth import default_seeds_web
        from vyntr_spark.tables import PAGES

        s = self.shape
        self.web = _session_and_web(self, s)
        with self.phase("inputs"):
            self.pages = self.spark.read.schema(PAGES).parquet(self.web)
            self.seeds = default_seeds_web(s.n_pages, s.n_hosts, k=s.n_hosts,
                                           per_host=s.seeds_per_host,
                                           zipf_s=ZIPF_S)
            key_path = os.path.join(self.work, "crawl_key.json")
            oracle = answers.start_crawl_key(
                key_path, web_path=self.web, seeds=self.seeds,
                max_pages=s.n_pages, seed=self.seed, rounds=s.rounds,
                priority=s.priority, cap=s.cap)
        try:
            with self.phase("checkpoint"):
                self._prepare_checkpoint()
            # untimed warm-up: whole crawls, through the round path and
            # compaction (JIT, codegen, Python workers, parquet writers).
            # A cold first round runs ~3x slower than a warm one
            with self.phase("warmup"):
                for _ in range(WARMUP_CRAWLS):
                    self.crawl(warmup=True)
        except BaseException:
            oracle.kill()
            oracle.wait()
            raise
        with self.phase("answer_key_wait"):
            self.key = answers.finish_crawl_key(oracle, key_path)

    def engine_kwargs(self) -> dict:
        s = self.shape
        return dict(max_pages=s.n_pages, seed=self.seed, cap=s.cap,
                    salt_buckets=max(8, harness.cpu_count()),
                    compact_every=s.compact_every,
                    priority_frontier=s.priority, use_bloom="auto",
                    bloom_expected_n=max(s.n_pages * 4, 100_000) + s.preseed)

    def _open_store(self):
        """The checkpointed store rolled back to its checkpoint (seeds,
        the preseeded seen rows and the bloom checkpoint at their
        watermark): the state every measured crawl resumes from."""
        store = self.ckpt_store
        for name, sid in self.ckpt_ids.items():
            store.table(name).rollback(sid)
        shutil.copyfile(self.bloom_ckpt,
                        os.path.join(store.root, "bloom_ckpt.parquet"))
        return store

    def _prepare_checkpoint(self) -> None:
        """The state a crawl that has run for a while leaves: seeds, many
        earlier URLs in the seen table, and a bloom checkpoint over them
        at the seen table's watermark (as bench.py's preseeded arms
        prepare it)."""
        from pyspark.sql import functions as F

        from vyntr_spark.crawl import CrawlEngine
        from vyntr_spark.operators.bloom import BloomShards
        from vyntr_spark.tables import SnapshotStore

        store = SnapshotStore(self.spark, os.path.join(self.work, "ckpt"))
        eng = CrawlEngine(self.spark, store, self.pages, **self.engine_kwargs())
        eng.init_from_seeds(self.seeds)
        seen_t = store.table("seen")
        preseed = (
            self.spark.range(self.shape.preseed,
                             numPartitions=harness.spark_cores())
            .select(F.concat(
                F.lit("https://h"),
                ((F.col("id") * 7919 + self.seed) % 200_000).cast("string"),
                F.lit(f".s{self.seed}.preseed.example/p/"),
                F.col("id").cast("string")).alias("url"))
            .select(F.hash("url").alias("url_hash"), "url"))
        seen_t.commit(preseed, "append", {"stage": "preseed"})
        bloom = BloomShards.sized_for(
            self.engine_kwargs()["bloom_expected_n"], fpp=0.01, n_shards=8
        ).add_df(seen_t.read())
        self.bloom_ckpt = os.path.join(self.work, "bloom_ckpt.parquet")
        bloom.save(self.bloom_ckpt, seen_t.current_snapshot_id())
        bloom.release()
        self.ckpt_ids = {name: store.table(name).current_snapshot_id() or 0
                         for name in SnapshotStore.SCHEMAS}
        self.ckpt_store = store

    # -- one unit: a whole crawl --------------------------------------------
    def crawl(self, warmup: bool = False) -> CrawlRun | None:
        """One whole crawl from the checkpoint, timed round by round. The
        warm-up is the same crawl, unchecked."""
        from vyntr_spark.crawl import CrawlEngine

        store = self._open_store()
        eng = CrawlEngine(self.spark, store, self.pages, **self.engine_kwargs())
        round_s, infos, raised = [], [], False
        cpu0 = harness.tree_cpu_s()
        for _ in range(self.shape.rounds):
            t0 = time.perf_counter()
            try:
                info = eng.run_round()
            except Exception:  # noqa: BLE001 — a raised round is a failure
                traceback.print_exc()
                raised = True
                break
            dt = time.perf_counter() - t0
            if info is None:
                break
            round_s.append(dt)
            infos.append(info)
        cpu_s = harness.tree_cpu_s() - cpu0
        if warmup:
            return None
        store_mb = harness.dir_size_mb(store.root)
        attempted, failed = self._check(store)
        if raised:
            _log(f"{self.name}: a round raised after {len(infos)} rounds")
        return CrawlRun(round_s=round_s, cpu_s=cpu_s,
                        pages=sum(i.selected for i in infos),
                        new_urls=sum(i.new_urls for i in infos),
                        store_mb=store_mb, attempted=attempted,
                        failed=failed, traced=False)

    def _check(self, store) -> tuple[int, int]:
        """What the crawl published against the answer key: per round,
        the urls it stored text for and its outcome counts (analyses and
        metrics tables); the stored text against the golden text; the
        URL-seen set minus the preseeded rows. Read with pyarrow after
        the crawl, so no Spark job runs for the check."""
        got: dict[int, stats.RoundView] = {}
        text: dict[str, list[str]] = {}
        for u, r, t in _read_rows(store.table("analyses"),
                                  ["url", "round", "content_text"]):
            got.setdefault(r, stats.RoundView(set())).success.add(u)
            text.setdefault(u, []).append(t)
        cols = sorted(set(answers.OUTCOME_COLUMN.values()))
        for row in _read_rows(store.table("metrics"),
                              ["partition", "round"] + cols):
            if row[0] == "__round__":
                v = got.setdefault(row[1], stats.RoundView(set()))
                v.other = {c: n for c, n in zip(cols, row[2:]) if n}
        bad = {u for u, ts in text.items()
               if len(ts) != 1 or ts[0] != self.key.golden.get(u)}
        seen = {u for (u,) in _read_rows(
            store.table("seen"), ["url"],
            skip=lambda s: s.summary.get("stage") == "preseed")}
        rounds = [got.get(r, stats.RoundView(set()))
                  for r in range(max(got, default=-1) + 1)]
        attempted, failed = stats.crawl_failures(
            self.key.rounds, rounds, bad, self.key.seen, seen)
        if failed:
            _log(f"{self.name}: {failed}/{attempted} page operations differ "
                 "from the reference")
        return attempted, failed

    # -- the run ------------------------------------------------------------
    def run(self, seconds: float) -> Outcome:
        t0, c0 = time.perf_counter(), harness.tree_cpu_s()
        self.setup()
        setup_s = time.perf_counter() - t0
        self.phases["setup_cpu"] = harness.tree_cpu_s() - c0
        tracer = None
        if self.trace:
            tracer = tracing.Tracer(self.spark.sparkContext)
            tracer.install_crawl()
        mon = harness.HostMonitor().start()
        runs: list[CrawlRun] = []
        t_meas = time.perf_counter()
        try:
            while True:
                # traced runs alternate untraced and traced crawls, so the
                # tracing overhead is measured on the same session; the
                # first crawl is untraced and a third one balances the
                # warm-up it still carries
                traced = self.trace and len(runs) % 2 == 1
                if tracer is not None:
                    tracer.enabled = traced
                r = self.crawl()
                r.traced = traced
                runs.append(r)
                done = time.perf_counter() - t_meas >= seconds
                if done and len(runs) >= (3 if self.trace else MIN_CRAWLS):
                    break
        finally:
            mon.stop()
            if tracer is not None:
                tracer.enabled = False
                tracer.unpatch()
        out = Outcome(attempted=sum(r.attempted for r in runs),
                      failed=sum(r.failed for r in runs))
        out.notes.append(
            f"{self.name} seed={self.seed} crawls={len(runs)} "
            f"busy_cores={mon.busy_cores:.2f} steal_cores={mon.steal_cores:.2f}")
        for i, r in enumerate(runs):
            out.notes.append(
                f"crawl {i}{' traced' if r.traced else ''}: rounds_ms="
                + ",".join(f"{1000 * t:.0f}" for t in r.round_s)
                + f" pages={r.pages} cpu_s={r.cpu_s:.2f}")
        plain = [r for r in runs if not r.traced]
        named = crawl_e2e(plain, setup_s, mon.peak_rss_mb)
        out.notes.append(" ".join(f"{k}={v:.4g}" for k, v in named.items()))
        out.notes.append(self.phase_note())
        if not self.trace:
            out.metrics = uniform_e2e(named)
            self.close()
            return out
        kernels = kernel_metrics(self.web)
        self.close()
        jobs = tracing.read_event_log(os.path.join(self.work, "eventlog"))
        traced_runs = [r for r in runs if r.traced]
        layer = tracing.crawl_metrics(tracer.spans, jobs, harness.spark_cores(),
                                      n_crawls=len(traced_runs))
        layer.update(kernels)
        layer["trace.overhead_ms"] = 1000.0 * (
            stats.median([sum(r.round_s) for r in traced_runs])
            - stats.median([sum(r.round_s) for r in plain]))
        tracer.dump(_trace_path(self.work, self.name, self.seed))
        out.metrics = layer
        return out


def crawl_e2e(runs: list[CrawlRun], setup_s: float,
              peak_rss_mb: float) -> dict[str, float]:
    """The crawl's own figure names; medians over the run's crawls."""
    runs = [r for r in runs if r.round_s]
    if not runs:
        raise RuntimeError("no crawl completed a round")
    rounds_ms = [1000.0 * t for r in runs for t in r.round_s]
    return {
        "setup_s": setup_s,
        "pages_per_s": stats.median([r.pages / sum(r.round_s) for r in runs]),
        "frontier_urls_per_s": stats.median(
            [(r.pages + r.new_urls) / sum(r.round_s) for r in runs]),
        "round_p50_ms": stats.median(rounds_ms),
        "round_max_ms": stats.median([1000.0 * max(r.round_s) for r in runs]),
        "cpu_ms_per_page": stats.median(
            [1000.0 * r.cpu_s / r.pages for r in runs]),
        "store_mb": stats.median([r.store_mb for r in runs]),
        "peak_rss_mb": peak_rss_mb,
    }


#: BENCHMARK.json's end-to-end names, each printed by every workload:
#: an operation is a page fetched (crawls) or a query answered (search).
#: The wall-clock figures (pages_per_s, round and query latencies) are
#: printed but not gated: on a shared VM they follow the host's steal,
#: and CPU time does not (perfbench/NOTES.md)
E2E_NAMES = {
    "setup_s": ("setup_s", "setup_s"),
    "cpu_ms_per_op": ("cpu_ms_per_page", "cpu_ms_per_query"),
    "store_mb": ("store_mb", "store_mb"),
    "peak_rss_mb": ("peak_rss_mb", "peak_rss_mb"),
}


def uniform_e2e(named: dict[str, float]) -> dict[str, float]:
    """Map a workload's own figure names onto the shared metric names."""
    side = 0 if "pages_per_s" in named else 1
    return {k: named[v[side]] for k, v in E2E_NAMES.items()}


def _read_rows(table, cols: list[str], skip=lambda s: False) -> list[tuple]:
    """Rows of every live snapshot of an append-only table, via pyarrow."""
    out: list[tuple] = []
    for s in table.snapshots():
        if not s.path or skip(s):
            continue
        t = pq.read_table(s.path, columns=cols)
        out.extend(zip(*(t.column(c).to_pylist() for c in cols)))
    return out


def kernel_metrics(web_path: str, sample: int = 200,
                   min_s: float = 0.5) -> dict[str, float]:
    """Single-process extraction and canonicalization throughput on a
    fixed page sample: the kernels alone, without Spark or Arrow."""
    from vyntr_spark.canonicalize import UrlError, join_url, normalize_url
    from vyntr_spark.extract import extract_html

    tbl = pq.read_table(web_path, columns=["url", "html"]).sort_by("url")
    urls = tbl.column("url").to_pylist()[:sample]
    htmls = tbl.column("html").to_pylist()[:sample]
    href = re.compile(rb'href="([^"]*)"')
    links = [(u, m.decode()) for u, h in zip(urls, htmls)
             for m in href.findall(h)]

    def rate(fn, n_items):
        n, t0 = 0, time.perf_counter()
        while True:
            fn()
            n += n_items
            dt = time.perf_counter() - t0
            if dt >= min_s:
                return n / dt

    def extract_all():
        for u, h in zip(urls, htmls):
            extract_html(h, u)

    def canon_all():
        for base, h in links:
            try:
                normalize_url(join_url(base, h))
            except UrlError:
                pass

    return {"extract.kernel_pages_per_s": rate(extract_all, len(urls)),
            "canonicalize.urls_per_s": rate(canon_all, len(links))}


def _trace_path(work: str, name: str, seed: int) -> str:
    return os.path.join(os.path.dirname(work), "traces",
                        f"{name}-seed{seed}.json")


# ---------------------------------------------------------------------------
# search_serve
# ---------------------------------------------------------------------------

#: each block of ten queries has these term counts, two +terms and one
#: -term, in a seeded order: every run issues the same mix, and the seed
#: picks the words and the order
QUERY_BLOCK_TERMS = (1, 1, 1, 2, 2, 2, 2, 3, 3, 3)
QUERY_BLOCK_MUST = 2
QUERY_BLOCK_MUST_NOT = 1


def make_queries(seed: int, n: int) -> list[str]:
    """Blocks of ten queries of 1-3 distinct terms; in each block 20% add
    a +term and 10% a -term, each a word the query does not already use."""
    from vyntr_spark.synth import WEB_WORDS

    words = sorted(set(WEB_WORDS))
    rng = random.Random(f"{seed}:queries")
    block = len(QUERY_BLOCK_TERMS)
    out = []
    while len(out) < n:
        ks = list(QUERY_BLOCK_TERMS)
        must = [i < QUERY_BLOCK_MUST for i in range(block)]
        must_not = [i < QUERY_BLOCK_MUST_NOT for i in range(block)]
        for xs in (ks, must, must_not):
            rng.shuffle(xs)
        for k, plus, minus in zip(ks, must, must_not):
            w = rng.sample(words, k + 2)
            parts = w[:k]
            if plus:
                parts.append("+" + w[k])
            if minus:
                parts.append("-" + w[k + 1])
            out.append(" ".join(parts))
    return out[:n]


@dataclass
class QueryResult:
    query: str
    latency_s: float
    rows: list[tuple[int, float]] | None  # None: the call raised
    traced: bool


class SearchBench(_Bench):
    def __init__(self, seed: int, work: str, trace: bool):
        self.name = "search_serve"
        self.seed = seed
        self.work = work
        self.trace = trace
        self.clients = harness.cpu_count()
        self.phases: dict[str, float] = {}

    def setup(self) -> None:
        from vyntr_spark.operators import pulse

        web = _session_and_web(self, SEARCH_WEB)
        tbl = pq.read_table(web, columns=["url", "text"]).sort_by("url")
        self.docs = os.path.join(self.work, "docs.parquet")
        pq.write_table(pa.table({
            "doc_id": pa.array(range(tbl.num_rows), pa.int64()),
            "text": tbl.column("text"),
        }), self.docs)
        self.index_dir = os.path.join(self.work, "index")
        with self.phase("index_build"):
            pulse.materialize_index(self.spark.read.parquet(self.docs),
                                    self.index_dir,
                                    bucket_partitions=harness.cpu_count())
        self.index = pulse.load_index(self.spark, self.index_dir)
        with self.phase("answer_key"):
            self.key = answers.SearchKey(self.docs)
        self.queries = make_queries(self.seed, 4096)
        with self.phase("warmup"):
            # untimed, from the end of the query list, so the measured
            # queries are new to the session
            self.serve(0.0, SEARCH_WARMUP_PER_CLIENT * self.clients, None,
                       start=len(self.queries) - 64)

    def serve(self, seconds: float, min_queries: int,
              tracer: tracing.Tracer | None, start: int = 0
              ) -> tuple[list[QueryResult], float]:
        """Closed loop: each client sends its next query only after the
        previous one returned."""
        from vyntr_spark.operators import pulse

        lock = threading.Lock()
        nxt = [start]
        results: list[QueryResult] = []
        t_start = time.perf_counter()

        def client() -> None:
            while True:
                with lock:
                    if (time.perf_counter() - t_start >= seconds
                            and nxt[0] - start >= min_queries):
                        return
                    q = self.queries[nxt[0] % len(self.queries)]
                    nxt[0] += 1
                t0 = time.perf_counter()
                try:
                    if tracer is not None:
                        with tracer.span("pulse.query", root=True):
                            df = pulse.search_index(self.index, q, k=SEARCH_K)
                            with tracer.span("pulse.collect"):
                                got = df.collect()
                    else:
                        got = pulse.search_index(self.index, q,
                                                 k=SEARCH_K).collect()
                    rows = [(int(r["doc_id"]), float(r["score"])) for r in got]
                except Exception:  # noqa: BLE001 — a raised query is a failure
                    traceback.print_exc()
                    rows = None
                dt = time.perf_counter() - t0
                with lock:
                    results.append(QueryResult(q, dt, rows, tracer is not None))

        threads = [threading.Thread(target=client) for _ in range(self.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return results, time.perf_counter() - t_start

    def run(self, seconds: float) -> Outcome:
        t0, c0 = time.perf_counter(), harness.tree_cpu_s()
        self.setup()
        setup_s = time.perf_counter() - t0
        self.phases["setup_cpu"] = harness.tree_cpu_s() - c0
        mon = harness.HostMonitor().start()
        tracer = None
        try:
            if not self.trace:
                cpu0 = harness.tree_cpu_s()
                results, elapsed = self.serve(seconds, SEARCH_MIN_QUERIES, None)
                cpu_s = harness.tree_cpu_s() - cpu0
            else:
                # first half untraced, second half traced: the difference
                # is the tracing overhead
                plain, _ = self.serve(seconds / 2, self.clients * 4, None)
                tracer = tracing.Tracer(self.spark.sparkContext)
                tracer.install_search()
                tracer.enabled = True
                traced, _ = self.serve(seconds / 2, self.clients * 4, tracer,
                                       start=len(plain))
                tracer.enabled = False
                tracer.unpatch()
                results = plain + traced
        finally:
            mon.stop()
        failed = 0
        for r in results:
            if r.rows is None or not answers.same_topk(
                    r.rows, self.key.topk(r.query, SEARCH_K)):
                failed += 1
        self.key.close()
        out = Outcome(attempted=len(results), failed=failed)
        if failed:
            _log(f"search_serve: {failed}/{len(results)} queries differ "
                 "from the reference")
        out.notes.append(
            f"search_serve seed={self.seed} queries={len(results)} "
            f"clients={self.clients} busy_cores={mon.busy_cores:.2f} "
            f"steal_cores={mon.steal_cores:.2f}")
        if not self.trace:
            lat = [1000.0 * r.latency_s for r in results]
            named = {
                "setup_s": setup_s,
                "queries_per_s": len(results) / elapsed,
                "query_p50_ms": stats.percentile(lat, 50),
                "cpu_ms_per_query": 1000.0 * cpu_s / len(results),
                "store_mb": harness.dir_size_mb(self.index_dir),
                "peak_rss_mb": mon.peak_rss_mb,
            }
            out.notes.append(" ".join(f"{k}={v:.4g}" for k, v in named.items()))
            out.notes.append(self.phase_note())
            out.metrics = uniform_e2e(named)
            self.close()
            return out
        self.close()
        jobs = tracing.read_event_log(os.path.join(self.work, "eventlog"))
        layer = tracing.search_metrics(tracer.spans, jobs)
        layer["pulse.index_build_s"] = self.phases["index_build"]
        layer["trace.overhead_ms"] = 1000.0 * (
            stats.median([r.latency_s for r in results if r.traced])
            - stats.median([r.latency_s for r in results if not r.traced]))
        tracer.dump(_trace_path(self.work, self.name, self.seed))
        out.metrics = layer
        return out
