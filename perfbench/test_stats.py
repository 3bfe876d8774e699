"""Self-tests of the benchmark's own arithmetic, at tiny scale and
without Spark:

    python3 -m pytest -q perfbench
"""

import subprocess
import sys

import pytest

from perfbench import answers, harness, stats, tracing
from perfbench.workloads import make_queries, uniform_e2e


# -- percentiles need ten samples beyond them -------------------------------

def test_tail_percentile_needs_ten_samples_beyond():
    assert stats.samples_beyond(100, 90) == 10
    assert stats.samples_beyond(99, 90) == 9
    assert stats.samples_beyond(30, 66) == 10
    xs = list(range(1, 101))
    assert stats.percentile(xs, 90) == 90
    with pytest.raises(ValueError):
        stats.percentile(xs[:99], 90)
    assert stats.percentile(list(range(1, 31)), 66) == 20
    with pytest.raises(ValueError):
        stats.percentile(list(range(1, 30)), 66)


def test_median_needs_no_tail_support():
    assert stats.percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert stats.median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


# -- self time ---------------------------------------------------------------

def test_union_length_merges_overlaps():
    assert stats.union_length([]) == 0.0
    assert stats.union_length([(0, 1), (2, 3)]) == 2.0
    assert stats.union_length([(0, 2), (1, 3), (3, 4)]) == 4.0
    assert stats.union_length([(5, 5), (1, 0)]) == 0.0


def test_self_time_subtracts_overlapping_children_once():
    # children from two threads overlap on [2, 3); one runs past the end
    assert stats.self_time(0, 10, [(1, 3), (2, 5), (8, 12)]) == 4.0
    assert stats.self_time(0, 10, []) == 10.0
    assert stats.self_time(0, 10, [(0, 10), (3, 4)]) == 0.0


def _span(i, name, t0, t1, parent=None, root=None, **tags):
    return tracing.Span(id=i, name=name, parent=parent, root=root,
                        thread=0, t0=t0, t1=t1, tags=tags)


def test_round_self_time_and_job_attribution():
    rnd = _span(1, "crawl.round", 0.0, 1.0, root=1, selected=10, success=8,
                new_urls=5, dedup_dropped=2)
    commit = _span(2, "tables.commit", 0.1, 0.5, parent=1, root=1,
                   table="analyses", compaction=False, mb=2.0)
    count = _span(3, "count", 0.6, 0.7, parent=1, root=1, caller="politeness")
    task = {"stage": 0, "launch_ms": 150, "run_ms": 300, "gc_ms": 10,
            "spill_b": 0, "in_b": 2**20, "in_rows": 40, "shuf_w_b": 0}
    jobs = [
        tracing.Job(0, "pb:2", 120, [0], tasks=[task]),
        tracing.Job(1, "pb:3", 610, [1], tasks=[dict(task, stage=1)]),
        # untagged (engine pool thread): attributed by submission time
        tracing.Job(2, None, 800, [2], tasks=[dict(task, stage=2)]),
        # outside every round: attributed to nothing
        tracing.Job(3, None, 5000, [3], tasks=[dict(task, stage=3)]),
    ]
    m = tracing.crawl_metrics([rnd, commit, count], jobs, cores=4, n_crawls=1)
    assert m["crawl.round_self_ms"] == pytest.approx(500.0)
    assert m["crawl.jobs_per_round"] == 3
    assert m["crawl.count_jobs_per_round"] == 1
    assert m["politeness.count_ms"] == pytest.approx(100.0)
    assert m["extract.analyses_commit_ms"] == pytest.approx(400.0)
    assert m["extract.task_ms_per_page"] == pytest.approx(300.0 / 8)
    assert m["fetch.scan_mb_per_round"] == pytest.approx(1.0)
    assert m["fetch.useful_row_frac"] == pytest.approx(10 / 40)
    assert m["crawl.core_busy_frac"] == pytest.approx(900 / (1000 * 4))
    assert m["dedup.candidates"] == 7
    assert m["tables.bytes_written_mb_per_round"] == 2.0
    assert m["spark.tasks_per_round"] == 3


# -- failure counting --------------------------------------------------------

def _rounds(*rounds):
    return [stats.RoundView(set(ok), dict(other)) for ok, other in rounds]


def test_crawl_failures_clean_crawl_counts_every_fetch():
    rounds = _rounds(("ab", {"failed": 1}), ("c", {"skipped_ct": 2}))
    assert stats.crawl_failures(rounds, rounds, set(), {"a", "b", "c", "d"},
                                {"a", "b", "c", "d"}) == (6, 0)


def test_crawl_failures_counts_each_mismatch_once():
    want = _rounds(("ab", {}), ("cd", {"failed": 2, "skipped_ct": 1}))
    # d not stored, e stored instead; one failed page reported skipped
    got = _rounds(("ab", {}), ("ce", {"failed": 1, "skipped_ct": 2}))
    att, failed = stats.crawl_failures(
        want, got, bad_text={"a"},            # a stored the wrong text
        expected_seen={"a", "b", "c", "d", "x"},
        got_seen={"a", "b", "c", "d", "e"})   # x missing, e extra
    # ops: a b c d e, 3 other fetches, x; failed: a d e, 1 outcome, x
    assert (att, failed) == (9, 5)


def test_crawl_failures_after_a_raise_fails_the_missing_rounds():
    want = _rounds(("a", {}), ("bc", {"failed": 1}), ("d", {}))
    got = _rounds(("a", {}))                  # rounds 1-2 never ran
    att, failed = stats.crawl_failures(want, got, set(), {"a", "b", "c", "d"},
                                       {"a"})
    assert (att, failed) == (5, 4)


def test_same_topk_tolerates_last_digit_only():
    want = [(1, 2.5), (2, 1.25)]
    assert answers.same_topk([(1, 2.5001), (2, 1.25)], want)
    assert not answers.same_topk([(1, 2.5003), (2, 1.25)], want)
    assert not answers.same_topk([(2, 1.25), (1, 2.5)], want)
    assert not answers.same_topk([(1, 2.5)], want)


def test_every_workload_prints_every_end_to_end_metric():
    crawl = {"setup_s": 1, "pages_per_s": 2, "frontier_urls_per_s": 3,
             "round_p50_ms": 4, "round_max_ms": 5, "cpu_ms_per_page": 8,
             "store_mb": 6, "peak_rss_mb": 7}
    search = {"setup_s": 1, "queries_per_s": 2, "query_p50_ms": 4,
              "cpu_ms_per_query": 8, "store_mb": 6, "peak_rss_mb": 7}
    assert uniform_e2e(crawl) == uniform_e2e(search) == {
        "setup_s": 1, "cpu_ms_per_op": 8, "store_mb": 6, "peak_rss_mb": 7}


# -- CPU time of the process tree --------------------------------------------

def test_tree_cpu_counts_a_child_that_already_ended():
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"
    c0 = harness.tree_cpu_s()
    subprocess.run([sys.executable, "-c", burn], check=True)
    assert harness.tree_cpu_s() - c0 >= 0.25


# -- the query mix -----------------------------------------------------------

def test_every_block_of_ten_queries_has_the_same_mix():
    qs = make_queries(3, 40)
    assert qs == make_queries(3, 40) != make_queries(4, 40)
    for b in range(0, 40, 10):
        block = [q.split() for q in qs[b:b + 10]]
        plain = sorted(sum(not t[0] in "+-" for t in q) for q in block)
        assert plain == [1, 1, 1, 2, 2, 2, 2, 3, 3, 3]
        assert sum(t.startswith("+") for q in block for t in q) == 2
        assert sum(t.startswith("-") for q in block for t in q) == 1
        assert all(len(set(t.lstrip("+-") for t in q)) == len(q)
                   for q in block)
