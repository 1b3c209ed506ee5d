"""Tests of the benchmark itself.

    python3 -m pytest replaybench/test_replaybench.py -q

The order-statistics tests are instant. The smoke test runs every
workload at a small size, untraced and traced, in one Spark session.
The stationarity test runs every workload at full size for the
benchmark's run length and fails one whose op cost trends beyond its
latency bound.
"""

import json
import math
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import stats  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)
BOUNDS = {m["name"]: m["bound"] for m in BENCH["end_to_end"]}


# -- order statistics ----------------------------------------------------------


def test_nearest_rank_returns_a_sample():
    values = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.nearest_rank(values, 50) == 3.0
    assert stats.nearest_rank(values, 20) == 1.0
    assert stats.nearest_rank(values, 21) == 2.0
    assert stats.nearest_rank(values, 100) == 5.0
    assert stats.nearest_rank([1.0, 2.0], 50) == 1.0  # no interpolation


@pytest.mark.parametrize(
    "n,p", [(1, None), (19, None), (20, 50), (21, 52), (30, 66), (100, 90),
            (200, 95), (1000, 99), (5000, 99)]
)
def test_tail_percentile_leaves_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p
    if p is not None:
        assert n - math.ceil(p / 100 * n) >= stats.TAIL_MIN_BEYOND
        if p < 99:
            assert n - math.ceil((p + 1) / 100 * n) < stats.TAIL_MIN_BEYOND


def test_tail_is_omitted_never_the_max():
    few = [1.0] * 18 + [50.0]
    assert stats.tail(few) is None
    many = list(range(1, 101))
    t = stats.tail(many)
    assert t == {"value": 90, "percentile": 90, "n": 100}
    assert t["value"] != max(many)


def test_drift_flags_a_trend_and_passes_a_flat_run():
    bound = BOUNDS["latency_p50_s"]
    # a whole-table refresh: each op re-reads a table one batch longer
    growing = [10.0 + 1.0 * i for i in range(10)]
    assert stats.drift(growing) > bound
    assert not stats.stationary(growing, bound)
    flat = [10.0, 10.4, 9.8, 10.1, 10.2, 9.9, 10.3, 10.0]
    assert abs(stats.drift(flat)) < 0.05
    assert stats.stationary(flat, bound)
    assert stats.drift([1.0]) is None


def test_drift_needs_enough_samples_per_half():
    # one slow op against one fast op is noise, not a trend
    short = [8.0, 8.2, 11.0]
    assert stats.halves(short) == {"first": 8.0, "second": 11.0, "n": 1}
    assert stats.drift(short) is None
    six = [8.0, 8.1, 7.9, 8.2, 11.0, 8.0]
    assert stats.halves(six)["n"] == stats.DRIFT_MIN_HALF
    assert abs(stats.drift(six)) < 0.05


def test_quartile_spread_matches_statistics_quantiles():
    import statistics

    values = [1.0, 1.1, 0.9, 1.05, 0.95, 1.2, 1.0, 0.98, 1.02, 1.01]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    assert stats.quartile_spread(values) == pytest.approx((q3 - q1) / q2)


# -- oracles ---------------------------------------------------------------------


def test_ndcg_hit_oracle_by_hand():
    import pandas as pd
    from workloads import ndcg_hit_at_k

    recs = pd.DataFrame(
        {"query_id": [1, 1, 1, 2, 2], "item_id": [10, 11, 12, 20, 21],
         "rating": [0.9, 0.5, 0.5, 0.8, 0.1]}
    )
    # user 1 ranks 10, then the 0.5 tie by item id descending: 12, 11
    truth = pd.DataFrame({"query_id": [1, 1, 2, 3], "item_id": [11, 13, 99, 30]})
    ndcg, hit = ndcg_hit_at_k(recs, truth, k=3)
    user1 = (1 / math.log2(4)) / (1 + 1 / math.log2(3))
    assert ndcg == pytest.approx(user1 / 3)  # users 2 and 3 score 0
    assert hit == pytest.approx(1 / 3)


def test_exact_cosine_oracle():
    import numpy as np
    from workloads import exact_cosine_top_k

    corpus = np.array([[1.0, 0.0], [0.0, 2.0], [1.0, 1.0]])
    ids, cos, _, _ = exact_cosine_top_k(corpus, np.array([[3.0, 0.1]]), k=2)
    assert ids.tolist() == [[0, 2]]
    assert cos[0, 1] == pytest.approx(3.1 / (math.hypot(3, 0.1) * math.sqrt(2)))


# -- runs ------------------------------------------------------------------------


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    import run

    spark, _ = run.start_session(str(tmp_path_factory.mktemp("spark")))
    yield spark
    spark.stop()


BENCHED = [w["name"] for w in BENCH["workloads"]]
ALL = ["offline_eval", "ingest_refresh", "ann_retrieval"]


@pytest.mark.parametrize("workload", ALL)
def test_smoke_untraced_and_traced(workload, session):
    import run
    import workloads

    plain = run.run(workload, 7, 1.0, False, scale=workloads.SMOKE, spark=session)
    assert plain["correct"] and plain["failed"] == 0
    assert set(plain["metrics"]) == {m["name"] for m in BENCH["end_to_end"]}
    for m in plain["metrics"].values():
        assert m["value"] > 0

    traced = run.run(workload, 7, 1.0, True, scale=workloads.SMOKE, spark=session)
    assert traced["correct"]
    names = {m["name"] for m in BENCH["per_layer"]}
    assert set(traced["metrics"]) == names
    assert traced["metrics"]["session.unattributed_jobs"]["value"] == 0
    assert traced["metrics"]["spans.jobs"]["value"] > 0


@pytest.mark.parametrize("workload", BENCHED)
def test_full_size_run_is_stationary(workload, session):
    import run

    run.run(
        workload, 11, BENCH["run_seconds"], False, spark=session,
        min_ops=2 * stats.DRIFT_MIN_HALF,
    )
    path = os.path.join(run.WORK, "records", f"{workload}-seed11-trace0.json")
    with open(path) as fh:
        record = json.load(fh)
    lat = [op["latency_s"] for op in record["ops"]]
    assert stats.drift(lat) is not None
    assert stats.stationary(lat, BOUNDS["latency_p50_s"]), record["halves"]
