"""Answer keys: what each workload's outputs must be, computed without
the engine under test.

Crawls use the sequential oracle (``vyntr_spark.oracle.run_oracle``),
which shares only the extraction, canonicalization and gate kernels
with the engine. Search uses DuckDB over the same documents with the
BM25 SQL form of ``__spark_entry__.oracle_sql`` (p8_bm25_topk),
materialized once per seed so each query costs one small SQL.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from dataclasses import dataclass

import pyarrow.parquet as pq

from .stats import RoundView

#: outcome -> the engine's metrics-table column that counts it (the
#: engine folds dead links into 'failed')
OUTCOME_COLUMN = {"failed": "failed", "missing": "failed",
                  "skipped_ct": "skipped_ct",
                  "robots_blocked": "robots_blocked"}


@dataclass
class CrawlKey:
    rounds: list[RoundView]   # what each round must publish
    seen: set[str]            # URL-seen set after the last round
    golden: dict[str, str]    # url -> text as the analyses table stores it


def load_pages(web_path: str) -> dict[str, dict]:
    tbl = pq.read_table(web_path, columns=[
        "url", "html", "text", "content_type", "status", "body_marker"])
    return {r["url"]: r for r in tbl.to_pylist()}


def crawl_key(web_path: str, seeds: list[str], max_pages: int, seed: int,
              rounds: int, priority: bool, cap: int) -> CrawlKey:
    from vyntr_spark import oracle
    from vyntr_spark.gates import SUCCESS

    # the oracle pins the per-host cap as a module constant (the
    # reference's 5); this runs in its own child process, which sets it
    # to the workload's cap
    oracle.MAX_PER_DOMAIN = cap
    res = oracle.run_oracle(load_pages(web_path), seeds, max_pages=max_pages,
                     seed=seed, max_rounds=rounds, priority=priority)
    views = []
    for rr in res.rounds:
        other: dict[str, int] = {}
        for o in rr.outcomes.values():
            if o != SUCCESS:
                c = OUTCOME_COLUMN[o]
                other[c] = other.get(c, 0) + 1
        views.append(RoundView(
            {u for u, o in rr.outcomes.items() if o == SUCCESS}, other))
    return CrawlKey(rounds=views, seen=set(res.seen),
                    golden=golden_text(web_path))


def start_crawl_key(out_path: str, **params) -> subprocess.Popen:
    """Compute crawl_key(**params) in a child interpreter, written as
    JSON to out_path; the oracle and the golden text are single-threaded
    Python and run beside the Spark set-up. A plain subprocess, so no
    helper process outlives it."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return subprocess.Popen(
        [sys.executable, "-m", "perfbench.answers", out_path,
         json.dumps(params)], cwd=root)


def finish_crawl_key(proc: subprocess.Popen, out_path: str) -> CrawlKey:
    if proc.wait() != 0:
        raise RuntimeError(f"crawl oracle exited with {proc.returncode}")
    with open(out_path) as f:
        raw = json.load(f)
    return CrawlKey(rounds=[RoundView(set(ok), other)
                            for ok, other in raw["rounds"]],
                    seen=set(raw["seen"]), golden=raw["golden"])


def golden_text(web_path: str) -> dict[str, str]:
    """url -> the golden text as the analyses table must store it
    (control characters stripped, genesis db.rs sanitize)."""
    from vyntr_spark.extract import sanitize_text

    tbl = pq.read_table(web_path, columns=["url", "text"])
    return {u: sanitize_text(t) for u, t in
            zip(tbl.column("url").to_pylist(), tbl.column("text").to_pylist())}


# ---------------------------------------------------------------------------
# BM25 search
# ---------------------------------------------------------------------------

_TOKS = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"


class SearchKey:
    """DuckDB reference for pulse.search_index: corpus-level idf and
    document stats, +term/-term as doc-id restrictions on the scored
    candidates, score rounded to 4 dp, ties by doc_id."""

    def __init__(self, docs_path: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        self.con.execute(
            f"CREATE TABLE documents AS SELECT * FROM read_parquet('{docs_path}')")
        self.con.execute(
            f"CREATE TABLE toklist AS SELECT doc_id, unnest({_TOKS}) AS term "
            "FROM documents")
        self.con.execute(
            "CREATE TABLE post AS SELECT term, doc_id, count(*) AS tf "
            "FROM toklist GROUP BY term, doc_id")
        self.con.execute(
            "CREATE TABLE ds AS SELECT doc_id, count(*) AS dl "
            "FROM toklist GROUP BY doc_id")
        self.con.execute(
            "CREATE TABLE corpus AS SELECT (SELECT count(*) FROM documents) "
            "AS n, avg(dl) AS avgdl FROM ds")
        self._memo: dict[str, list[tuple[int, float]]] = {}

    def close(self) -> None:
        self.con.close()

    def topk(self, query: str, k: int = 10) -> list[tuple[int, float]]:
        if query not in self._memo:
            self._memo[query] = self._topk(query, k)
        return self._memo[query]

    def _topk(self, query: str, k: int) -> list[tuple[int, float]]:
        from vyntr_spark.operators.pulse import parse_query

        pq_ = parse_query(query)
        score = pq_.terms + pq_.must
        where = []
        for w in pq_.must:
            where.append(f"p.doc_id IN (SELECT doc_id FROM post WHERE term = '{w}')")
        for w in pq_.must_not:
            where.append(
                f"p.doc_id NOT IN (SELECT doc_id FROM post WHERE term = '{w}')")
        terms_sql = ",".join(f"('{t}')" for t in score)
        sql = f"""
WITH qt(term) AS (VALUES {terms_sql}),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM post
          WHERE term IN (SELECT term FROM qt) GROUP BY term)
SELECT doc_id, round(sum(contrib), 4) AS score FROM (
  SELECT p.doc_id,
         ln(1 + (c.n - f.df + 0.5) / (f.df + 0.5))
         * (p.tf * 2.2) / (p.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / c.avgdl))
         AS contrib
  FROM post p JOIN dfreq f USING (term) JOIN ds d USING (doc_id), corpus c
  {"WHERE " + " AND ".join(where) if where else ""}
) s GROUP BY doc_id ORDER BY score DESC, doc_id ASC LIMIT {k}
"""
        return [(int(d), float(s)) for d, s in self.con.execute(sql).fetchall()]


def same_topk(got: list[tuple[int, float]],
              want: list[tuple[int, float]]) -> bool:
    """Same documents in the same order, scores equal to the 4th decimal
    (both sides round to 4 dp; summation order may move the last bit)."""
    return (len(got) == len(want)
            and all(g[0] == w[0] and abs(g[1] - w[1]) < 1.5e-4
                    for g, w in zip(got, want)))


if __name__ == "__main__":
    key = crawl_key(**json.loads(sys.argv[2]))
    with open(sys.argv[1], "w") as f:
        json.dump({"rounds": [(sorted(v.success), v.other)
                              for v in key.rounds],
                   "seen": sorted(key.seen), "golden": key.golden}, f)
