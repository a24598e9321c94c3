"""Unit tests for the benchmark's own helpers (no Spark needed).

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from perfbench import gates, sparkstats
from perfbench.corpus import corpus_dir
from perfbench.stats import (percentile, samples_beyond, summarize,
                             tail_percentile)
from perfbench.trace import Span, self_times


# -- percentiles with sample counts ------------------------------------------

def test_percentile_matches_numpy():
    xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0]
    for q in (0, 10, 50, 90, 99, 100):
        assert percentile(xs, q) == pytest.approx(np.percentile(xs, q))


def test_tail_needs_ten_samples_beyond():
    assert samples_beyond(100, 90.0) == 10
    assert samples_beyond(1000, 99.0) == 10
    assert tail_percentile(9) is None
    assert tail_percentile(39) is None          # p75 leaves only 9 beyond
    assert tail_percentile(40) == 75.0
    assert tail_percentile(100) == 90.0
    assert tail_percentile(999) == 95.0         # p99 leaves only 9 beyond
    assert tail_percentile(1000) == 99.0
    assert tail_percentile(10_000) == 99.9


def test_summarize_reports_count_and_omits_unsupported_tail():
    one = summarize([16.5])
    assert one == {"n": 1, "p50": 16.5}
    many = summarize(range(200))
    assert many["n"] == 200 and many["tail_q"] == 95.0
    assert many["p50"] == pytest.approx(99.5)
    assert summarize([]) == {"n": 0}


# -- status-store aggregation -------------------------------------------------

def _stage(sid, attempt=0, run_ms=0, tasks=0, sw=0, out=0):
    row = {f: 0 for f in sparkstats.STAGE_FIELDS}
    row.update(stage_id=sid, attempt=attempt, executorRunTime=run_ms,
               numCompleteTasks=tasks, shuffleWriteBytes=sw,
               outputBytes=out)
    return row


def test_aggregate_sums_stages_per_group():
    mb = int(sparkstats.MB)
    jobs = [{"job_id": 0, "group": "a", "name": "x", "stage_ids": [0, 1]},
            {"job_id": 1, "group": "b", "name": "y", "stage_ids": [2]}]
    stages = [_stage(0, run_ms=1500, tasks=4, sw=2 * mb),
              _stage(1, run_ms=500, tasks=1, out=mb),
              _stage(2, run_ms=250, tasks=2)]
    agg = sparkstats.aggregate(jobs, stages)
    assert agg["a"]["task_s"] == pytest.approx(2.0)
    assert agg["a"]["tasks"] == 5 and agg["a"]["jobs"] == 1
    assert agg["a"]["shuffle_write_mb"] == pytest.approx(2.0)
    assert agg["a"]["written_mb"] == pytest.approx(1.0)
    assert agg["b"]["task_s"] == pytest.approx(0.25)
    tot = sparkstats.total(agg)
    assert tot["jobs"] == 2 and tot["tasks"] == 7


def test_aggregate_charges_shared_stage_once_and_sums_attempts():
    jobs = [{"job_id": 3, "group": "a", "name": "", "stage_ids": [7]},
            # a later job re-listing stage 7 (skipped, shuffle reuse)
            {"job_id": 4, "group": "b", "name": "", "stage_ids": [7, 8]}]
    stages = [_stage(7, attempt=0, run_ms=1000),
              _stage(7, attempt=1, run_ms=1000),
              _stage(8, run_ms=100)]
    agg = sparkstats.aggregate(jobs, stages)
    assert agg["a"]["task_s"] == pytest.approx(2.0)
    assert agg["b"]["task_s"] == pytest.approx(0.1)


def test_aggregate_after_job_excludes_earlier_work():
    jobs = [{"job_id": 0, "group": None, "name": "", "stage_ids": [0]},
            {"job_id": 1, "group": "a", "name": "", "stage_ids": [0, 1]}]
    stages = [_stage(0, run_ms=5000), _stage(1, run_ms=300)]
    agg = sparkstats.aggregate(jobs, stages, after_job=0)
    assert set(agg) == {"a"}
    # stage 0 ran in job 0, before the window: not charged to "a"
    assert agg["a"]["task_s"] == pytest.approx(0.3)


# -- seed-keyed corpus paths --------------------------------------------------

def test_corpus_dir_is_keyed_by_sf_and_seed(tmp_path):
    root = str(tmp_path)
    a = corpus_dir(root, 0.01, 42)
    assert a != corpus_dir(root, 0.01, 43)
    assert a != corpus_dir(root, 0.02, 42)
    assert a == corpus_dir(root, 0.01, 42)
    assert os.path.dirname(a) == root


# -- gate comparators ---------------------------------------------------------

def test_pr_gate_floor():
    want = {(i,) for i in range(100)}
    assert gates.pr_gate(set(want), want)["ok"]
    got = {(i,) for i in range(95)}
    res = gates.pr_gate(got, want)
    assert res["ok"] and res["recall"] == pytest.approx(0.95)
    got = {(i,) for i in range(94)} | {("x",)}
    assert not gates.pr_gate(got, want)["ok"]
    assert not gates.pr_gate(set(), want)["ok"]


def test_sets_gate_exact():
    assert gates.sets_gate([["a", "b"], ["c"]], [{"b", "a"}, {"c"}])["ok"]
    res = gates.sets_gate([["a"], ["b"], ["c"]], [{"a", "b"}, {"c"}])
    assert not res["ok"] and res["missing"] == 1 and res["extra"] == 2


def test_row_hash_is_order_insensitive_but_content_sensitive():
    ts = pd.Timestamp("2024-01-01 10:00:00")
    a = pd.DataFrame({"uuid": ["u1", "u2"], "t": [ts, pd.NaT],
                      "arr": [np.array(["x", "y"]), np.array([])],
                      "m": [{"k": "1"}, {}], "emb": [[0.1], [0.2]]})
    b = a.iloc[::-1][["emb", "m", "arr", "t", "uuid"]].reset_index(drop=True)
    assert gates.row_hash(a) == gates.row_hash(b)
    c = a.copy()
    c.loc[0, "uuid"] = "u3"
    assert gates.row_hash(a) != gates.row_hash(c)
    d = a.copy()
    d.at[0, "arr"] = np.array(["y", "x"])      # array order is content
    assert gates.row_hash(a) != gates.row_hash(d)
    e = a.copy()
    e["emb"] = [[9.0], [9.0]]
    assert gates.row_hash(a, exclude=("emb",)) == \
        gates.row_hash(e, exclude=("emb",))
    dup = pd.concat([a, a.iloc[:1]], ignore_index=True)
    assert gates.row_hash(dup) != gates.row_hash(a)


def test_order_gate():
    assert gates.order_gate(["a", "b"], ["a", "b"])["ok"]
    assert not gates.order_gate(["a", "b"], ["b", "a"])["ok"]
    assert not gates.order_gate([], [])["ok"]   # no edges is a failure


# -- spans and self time ------------------------------------------------------

def test_self_time_subtracts_covered_children():
    spans = [Span(0, "root", None, 0.0, 10.0),
             Span(1, "a", 0, 1.0, 4.0),
             Span(2, "b", 0, 3.0, 6.0),     # overlaps a: union 1..6
             Span(3, "a", 0, 8.0, 9.0),
             Span(4, "leaf", 1, 2.0, 3.0)]
    st = self_times(spans)
    assert st["root"] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st["a"] == pytest.approx((3.0 - 1.0) + 1.0)
    assert st["b"] == pytest.approx(3.0)
    assert st["leaf"] == pytest.approx(1.0)


# -- query mix ----------------------------------------------------------------

def test_query_mix_proportions_are_exact_and_seeded():
    from collections import Counter

    from perfbench.serve import make_queries

    facts = [("g1", "alice works at acme"), ("g2", "bob lives in oslo")]
    centers = {"g1": ["n1", "n2"], "g2": ["n3"]}
    qs = make_queries(7, facts, centers, 200)
    assert Counter(q.kind for q in qs) == {
        "edge_rrf": 120, "edge_node_distance": 40, "combined_rrf": 40}
    assert sum(q.group_ids is not None for q in qs) == 100
    assert all((q.center is not None) == (q.kind == "edge_node_distance")
               for q in qs)
    assert qs == make_queries(7, facts, centers, 200)
    assert qs != make_queries(8, facts, centers, 200)
