"""Tests of the benchmark's pure helpers: tail selection, the event-log
fold and span attribution, the answer checks, and input determinism.

Run with ``python3 -m pytest vdbbench -q``; no Spark session is needed.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common as C  # noqa: E402

# -- tail selection ------------------------------------------------------------


def test_tail_is_p90_below_100_samples():
    assert C.tail(list(range(1, 31))) == 27  # 27th of 30
    assert C.tail(list(range(11))) == 9  # 10th of 11, not the minimum
    assert C.tail([3.0, 1.0, 2.0]) == 3.0
    assert C.tail(list(range(9))) == 8


def test_tail_keeps_ten_samples_beyond_it_from_100_samples():
    for n in (100, 150, 400):
        assert C.tail(list(range(n))) == n - 11


def test_tail_rank_never_falls_as_samples_are_added():
    # with samples 0..n-1 the tail is its own rank; a run that fits more
    # samples must never be read at a lower rank or below p90
    ranks = [C.tail(list(range(n))) for n in range(1, 300)]
    assert ranks == sorted(ranks)
    assert all(r >= 0.9 * n - 1 for n, r in enumerate(ranks, 1))


def test_p50():
    assert C.p50([3.0, 1.0, 2.0, 10.0]) == 2.5


# -- event-log fold --------------------------------------------------------------


def _task(stage, run_ms, *, ok=True, rows=0, nbytes=0, written=0, shuffle=0, gc=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "JVM GC Time": gc,
            "Executor Deserialize Time": 1,
            "Input Metrics": {"Bytes Read": nbytes, "Records Read": rows},
            "Output Metrics": {"Bytes Written": written * 10, "Records Written": written},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": shuffle},
        },
    }


CANNED = [
    {"Event": "SparkListenerLogStart"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
     "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "1"}},
    _task(0, 50, rows=100, nbytes=4000, shuffle=64, gc=5),
    _task(0, 30, rows=50, nbytes=2000, shuffle=32),
    _task(1, 10),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1100},
    # job 1 reuses stage 1's shuffle (skipped) and runs stage 2
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1200,
     "Stage IDs": [1, 2], "Properties": {}},
    _task(2, 20, written=7),
    _task(2, 5, ok=False),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1300},
    # job 2 carries a group no span knows
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1250,
     "Stage IDs": [3], "Properties": {"spark.jobGroup.id": "other"}},
    _task(3, 1),
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 1260},
]


def test_fold_jobs_sums_task_metrics_per_job():
    jobs = C.fold_jobs(CANNED)
    assert sorted(jobs) == [0, 1, 2]
    j0, j1 = jobs[0], jobs[1]
    assert (j0["submit"], j0["end"], j0["group"]) == (1000, 1100, "1")
    assert (j0["stages"], j0["tasks"], j0["executor_ms"]) == (2, 3, 90)
    assert (j0["rows_read"], j0["input_bytes"], j0["gc_ms"]) == (150, 6000, 5)
    assert j0["shuffle_write_bytes"] == 96 and j0["shuffle_read_bytes"] == 96
    # the reused stage counts under the job that ran it, not twice
    assert (j1["stages"], j1["tasks"], j1["executor_ms"]) == (1, 2, 25)
    assert (j1["rows_written"], j1["bytes_written"]) == (7, 70)
    assert j1["failed_tasks"] == 1 and j0["failed_tasks"] == 0
    assert j1["group"] is None


def test_attribute_jobs_by_group_then_by_time():
    spans = [
        {"id": 1, "name": "knn.exact", "parent": None, "start": 990, "end": 1110},
        {"id": 2, "name": "knn.index_build", "parent": None, "start": 1150, "end": 1400},
        {"id": 3, "name": "inner", "parent": 2, "start": 1190, "end": 1210},
    ]
    owner, by_time = C.attribute_jobs(C.fold_jobs(CANNED), spans)
    # job 0 by its group; job 1 (no group) by time to the innermost open
    # span; job 2's group names no span, so it stays unattributed
    assert owner == {0: 1, 1: 3}
    assert by_time == 1


def test_uncovered_ms_merges_overlapping_jobs():
    assert C.uncovered_ms(0, 100, []) == 100
    assert C.uncovered_ms(0, 100, [(10, 30), (20, 40), (90, 200)]) == 60
    assert C.uncovered_ms(50, 60, [(0, 100)]) == 0


def test_tracer_nests_spans_and_sets_groups():
    groups = []
    tr = C.Tracer(True, groups.append)
    op = tr.new_op()
    with tr.span("outer", op) as outer:
        with tr.span("inner") as inner:
            pass
    assert inner.parent == outer.id and inner.op == op
    assert groups == [str(outer.id), str(inner.id), str(outer.id), None]
    off = C.Tracer(False, groups.append)
    with off.span("x") as s:
        assert s is None
    assert off.spans == []


# -- answer checks -----------------------------------------------------------------


def test_check_topk_accepts_ties_and_rejects_wrong_rows():
    ids = np.arange(12)
    dist = np.array([0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9, 1.0, 1.0000004, 2.0])
    top = [(i, round(float(dist[i]), 6)) for i in range(10)]
    assert C.check_topk(top, ids, dist) is None
    # id 10 ties id 9 within the tolerance
    tied = top[:9] + [(10, 1.0)]
    assert C.check_topk(tied, ids, dist) is None
    assert "missing" in C.check_topk(top[:9] + [(11, 2.0)], ids, dist)
    assert "distance" in C.check_topk(top[:9] + [(9, 1.1)], ids, dist)
    assert "sorted" in C.check_topk(top[::-1], ids, dist)
    assert "twice" in C.check_topk(top[:2] + top[:1], ids, dist)
    assert "live" in C.check_topk([(99, 0.0)], ids, dist)
    assert "rows" in C.check_topk(top[:9], ids, dist)


def test_check_topk_over_a_candidate_set():
    ids = np.arange(12)
    dist = np.arange(12) / 10.0
    cand = np.zeros(12, bool)
    cand[[2, 5, 7]] = True
    got = [(i, dist[i]) for i in (2, 5, 7)]
    assert C.check_topk(got, ids, dist, cand, cand) is None
    # an empty answer or a dropped candidate fails
    assert "rows" in C.check_topk([], ids, dist, cand, cand)
    assert "rows" in C.check_topk(got[:2], ids, dist, cand, cand)
    # a row outside the candidates fails, one that may be a candidate not
    assert "candidate" in C.check_topk(got + [(8, 0.8)], ids, dist, cand, cand)
    may = cand.copy()
    may[8] = True
    assert C.check_topk(got + [(8, 0.8)], ids, dist, cand, may) is None
    assert C.check_topk(got, ids, dist, cand, may) is None


def test_band_masks():
    idx = np.array([[1.0, 5.0], [1.002, 9.0], [3.0, 9.0], [1.003, 1.0]])
    must, may = C.band_masks(idx, np.array([1.0, 9.0]), 0.003)
    assert must.tolist() == [True, True, True, False]
    # row 3 sits on the open band's upper edge: only possibly inside
    assert may.tolist() == [True, True, True, True]
    must, may = C.band_masks(idx, np.array([1.0, 20.0]), 0.001)
    assert must.tolist() == may.tolist() == [True, False, False, False]


def test_neighbourhood_masks_take_per_side_nearest():
    idx = np.array([[0.1], [0.2], [0.3], [0.5], [0.6], [0.9], [0.5]])
    must, may = C.neighbourhood_masks(idx, np.array([0.45]), 2)
    # below 0.45: 0.3 and 0.2; above: 0.5 twice, and 0.6 is third
    assert must.tolist() == may.tolist() == [False, True, True, True, False, False, True]
    # one per side: the two 0.5 rows tie, so either may be the one taken
    must, may = C.neighbourhood_masks(idx, np.array([0.45]), 1)
    assert must.tolist() == [False, False, True, False, False, False, False]
    assert may.tolist() == [False, False, True, True, False, False, True]
    # a row on d_i may fall on either side and push out the row beyond it
    must, may = C.neighbourhood_masks(idx, np.array([0.3]), 1)
    assert not must.any()
    assert may.tolist() == [False, True, True, True, False, False, True]


def test_threshold_in_gap():
    vals = np.array([0.1, 0.2, 0.2000000001, 0.3, 0.4])
    t = C.threshold_in_gap(vals, 0.25)
    assert 0.2000000001 < t < 0.3


# -- generator determinism ------------------------------------------------------------


def test_corpus_is_a_function_of_the_seed():
    a, b = C.make_corpus(7), C.make_corpus(7)
    assert a.dtype == np.float32 and a.shape == (C.CORPUS_ROWS, C.DIM)
    assert a.tobytes() == b.tobytes()
    assert a.tobytes() != C.make_corpus(8).tobytes()
    assert np.allclose(np.linalg.norm(a, axis=1), 1.0, atol=1e-5)


def test_queries_and_items_are_functions_of_the_seed():
    x = C.make_corpus(3)
    r1, r2 = C.make_search_rounds(3, x, 40), C.make_search_rounds(3, x, 40)
    assert r1 == r2
    assert r1 != C.make_search_rounds(4, x, 40)
    # every round runs all three strategies, and some rounds repeat
    assert all(sorted(o) == sorted(C.STRATEGIES) for _, o in r1)
    assert len({tuple(q) for q, _ in r1}) < len(r1)
    assert C.make_items(3, 1, 5) == C.make_items(3, 1, 5)
    assert C.make_items(3, 1, 5) != C.make_items(3, 2, 5)
    e = C.make_items(3, 1, 5, prefix="e")
    assert all(i.startswith("e") for i, _ in e)


def test_fake_embedding_is_deterministic_unit_float32():
    v = C.fake_embedding("Title: a Content: b")
    assert v.dtype == np.float32 and v.shape == (C.DIM,)
    assert v.tobytes() == C.fake_embedding("Title: a Content: b").tobytes()
    assert abs(float(np.linalg.norm(v)) - 1.0) < 1e-5


@pytest.mark.parametrize("seed", [1, 2])
def test_live_selector_threshold_splits_the_corpus(seed):
    x = C.make_corpus(seed)
    piv = np.random.default_rng(0).standard_normal(C.DIM)
    d = C.distances(x, piv / np.linalg.norm(piv))
    t = C.threshold_in_gap(d, 1 / 3)
    assert 0.3 < (d < t).mean() < 0.37
