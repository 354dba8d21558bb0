"""The range-scan family on a skewed, multi-partition input: 90% of the
rows share one leading sort-key value, tie-broken by a distinct id, so
the tie run spans several range partitions. Every member is checked
against a pandas/numpy brute force."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from dask_grblas_spark.functions import profiling
from dask_grblas_spark.functions.reshape import pareto_frontier

N = 3000
HOT = 5.0
PROBS = [0.0, 0.05, 0.1, 0.5, 0.9, 0.95, 0.999, 1.0]


@pytest.fixture(scope="module")
def skewed(spark):
    rng = np.random.default_rng(7)
    k = np.where(rng.random(N) < 0.9, HOT,
                 rng.integers(0, 100, N).astype(float))
    pdf = pd.DataFrame({
        "id": np.arange(N, dtype=np.int64),
        "k": k,
        "a": rng.integers(0, 10, N),
        "b": rng.integers(-3, 4, N),
        "w": rng.integers(1, 6, N),
        "y": rng.integers(0, 400, N).astype(float),
    })
    pdf["s"] = "x" + pdf["id"].astype(str)
    # rows arrive out of id order, so no tie order comes for free
    pdf = pdf.sample(frac=1.0, random_state=7, ignore_index=True)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    df = spark.createDataFrame(pdf)
    # the premise: the hot tie run is split across range partitions
    tagged, _ = profiling._range_scan(df, [F.col("k"), F.col("id")],
                                      F.count("*"))
    assert tagged.where(F.col("k") == HOT).select("_p").distinct() \
                 .count() > 1
    yield df, pdf.sort_values(["k", "id"], ignore_index=True)
    spark.conf.set("spark.sql.shuffle.partitions", old)


def _prefix_sum(df, srt):
    out, tot = profiling._prefix_sum(df, [F.col("k"), F.col("id")],
                                     ["a", "b"], ["pa", "pb"])
    got = out.toPandas().sort_values(["k", "id"], ignore_index=True)
    assert tot == [int(srt["a"].sum()), int(srt["b"].sum())]
    assert (got["pa"] == srt["a"].cumsum() - srt["a"]).all()
    assert (got["pb"] == srt["b"].cumsum() - srt["b"]).all()
    assert (got["s"] == srt["s"]).all()


def _exact_rank(df, srt):
    out, n = profiling._exact_rank(df, [F.col("k"), F.col("id")], "r")
    got = out.toPandas().sort_values(["k", "id"], ignore_index=True)
    assert n == N
    assert (got["r"] == np.arange(1, N + 1)).all()


def _exact_quantiles(df, srt):
    got = {r.p: r.value
           for r in profiling.exact_quantiles(df, "k", PROBS).collect()}
    vals = srt["k"].to_numpy()
    want = {p: float(vals[max(1, math.ceil(round(p * N, 6))) - 1])
            for p in PROBS}
    assert got == want


def _exact_weighted_quantiles(df, srt):
    got = {r.p: r.value for r in profiling.exact_weighted_quantiles(
        df, "k", "w", PROBS).collect()}
    cw = srt["w"].cumsum().to_numpy()
    tot = int(cw[-1])
    want = {}
    for p in PROBS:
        r = max(1, math.ceil(round(p * tot, 6)))
        want[p] = float(srt["k"].iloc[int(np.argmax(cw >= r))])
    assert got == want


def _ks_test(df, srt):
    a = srt.loc[srt["id"] % 3 == 0, "k"].to_numpy()
    b = srt.loc[srt["id"] % 3 != 0, "k"].to_numpy()
    r = profiling.ks_test(df.where(F.col("id") % 3 == 0),
                          df.where(F.col("id") % 3 != 0), "k").collect()[0]
    xs = np.unique(srt["k"])
    fa = np.searchsorted(np.sort(a), xs, side="right") / len(a)
    fb = np.searchsorted(np.sort(b), xs, side="right") / len(b)
    assert (r.n_a, r.n_b) == (len(a), len(b))
    assert r.d_stat == pytest.approx(float(np.abs(fa - fb).max()),
                                     abs=1e-6)


def _pareto_frontier(df, srt):
    got = {(r.x, r.y): r.n for r in pareto_frontier(df, "k", "y").collect()}
    mult = srt.groupby(["k", "y"]).size()
    pts = list(mult.index)
    want = {p: int(mult[p]) for p in pts
            if not any(q != p and q[0] <= p[0] and q[1] <= p[1]
                       for q in pts)}
    assert got == want


@pytest.mark.parametrize("check", [
    _prefix_sum, _exact_rank, _exact_quantiles, _exact_weighted_quantiles,
    _ks_test, _pareto_frontier], ids=lambda f: f.__name__.lstrip("_"))
def test_range_scan_family_on_skewed_input(skewed, check):
    df, srt = skewed
    check(df, srt)
