"""Unit tests for the r9 profiling additions (roc_auc, cohens_kappa,
theil_index) — known hand-computed values plus the degenerate branches
the SQL-oracle gates (q256-q258) cannot reach (empty input, one-class
labels, single-category raters)."""

from __future__ import annotations

import math

import pytest

from dask_grblas_spark.functions import profiling


def test_roc_auc_known_value(spark):
    # scores: pos {3, 2}, neg {1, 2} -> pairs: (3>1)=1, (3>2)=1,
    # (2>1)=1, (2==2)=0.5 -> AUC = 3.5/4 = 0.875
    df = spark.createDataFrame(
        [(3.0, 1), (2.0, 1), (1.0, 0), (2.0, 0)], "s double, y int")
    row = profiling.roc_auc(df, "s", "y").collect()[0]
    assert (row["n_pos"], row["n_neg"]) == (2, 2)
    assert row["auc"] == pytest.approx(0.875)


def test_roc_auc_perfect_and_inverted(spark):
    df = spark.createDataFrame(
        [(float(i), 1 if i >= 5 else 0) for i in range(10)],
        "s double, y int")
    assert profiling.roc_auc(df, "s", "y").collect()[0]["auc"] == 1.0
    from pyspark.sql import functions as F
    flipped = df.withColumn("y", 1 - F.col("y"))
    assert profiling.roc_auc(flipped, "s", "y").collect()[0]["auc"] == 0.0


def test_roc_auc_one_class_null(spark):
    df = spark.createDataFrame([(1.0, 1), (2.0, 1)], "s double, y int")
    row = profiling.roc_auc(df, "s", "y").collect()[0]
    assert row["n_neg"] == 0 and row["auc"] is None


def test_cohens_kappa_textbook(spark):
    # classic 2x2: agree 45(yes)+15(no)=60 of 100; marginals
    # a_yes=70/a_no=30, b_yes=60/b_no=40 -> pe = .42+.12 = .54
    # kappa = (.60-.54)/(1-.54) = 0.130435
    rows = ([("y", "y")] * 45 + [("y", "n")] * 25
            + [("n", "y")] * 15 + [("n", "n")] * 15)
    df = spark.createDataFrame(rows, "a string, b string")
    r = profiling.cohens_kappa(df, "a", "b").collect()[0]
    assert r["n"] == 100
    assert r["po"] == pytest.approx(0.6)
    assert r["pe"] == pytest.approx(0.54)
    assert r["kappa"] == pytest.approx(0.130435, abs=1e-6)


def test_cohens_kappa_single_category_null(spark):
    df = spark.createDataFrame([("x", "x")] * 5, "a string, b string")
    r = profiling.cohens_kappa(df, "a", "b").collect()[0]
    assert r["po"] == 1.0 and r["kappa"] is None


def test_cohens_kappa_empty(spark):
    df = spark.createDataFrame([], "a string, b string")
    r = profiling.cohens_kappa(df, "a", "b").collect()[0]
    assert r["n"] == 0 and r["kappa"] is None


def test_theil_equal_values_zero(spark):
    df = spark.createDataFrame([(5.0,)] * 8, "x double")
    r = profiling.theil_index(df, "x").collect()[0]
    assert r["n"] == 8 and r["theil"] == pytest.approx(0.0)


def test_theil_known_value(spark):
    # x = [1, 3]: mu=2, T = ((0.5*ln0.5) + (1.5*ln1.5))/2
    df = spark.createDataFrame([(1.0,), (3.0,)], "x double")
    expect = (0.5 * math.log(0.5) + 1.5 * math.log(1.5)) / 2
    r = profiling.theil_index(df, "x").collect()[0]
    assert r["theil"] == pytest.approx(expect, abs=2e-6)


def test_theil_nonpositive_filtered_and_empty(spark):
    df = spark.createDataFrame([(0.0,), (-2.0,)], "x double")
    r = profiling.theil_index(df, "x").collect()[0]
    assert r["n"] == 0 and r["theil"] is None


def test_prefix_sum_matches_serial(spark):
    from pyspark.sql import functions as F
    df = spark.createDataFrame([(i, i % 7) for i in range(500)],
                               "k long, v long")
    out, tot = profiling._prefix_sum(df, [F.col("k")], "v", "_ps")
    # the driver-side total is exact (one int per value column)
    assert tot == sum(i % 7 for i in range(500))
    got = {r["k"]: r["_ps"] for r in out.collect()}
    run = 0
    for i in range(500):
        assert got[i] == run
        run += i % 7


def test_prefix_sum_multicol_and_extra_columns(spark):
    # several value columns share one range scan; extra (non-sort,
    # non-value) columns pass through untouched
    from pyspark.sql import functions as F
    rows = [(float(i), i % 5, i % 3, f"x{i}") for i in range(300)]
    df = spark.createDataFrame(rows, "k double, a long, b long, s string")
    out, tot = profiling._prefix_sum(df, [F.col("k")], ["a", "b"],
                                     ["pa", "pb"])
    assert tot == [sum(i % 5 for i in range(300)),
                   sum(i % 3 for i in range(300))]
    got = sorted(out.collect(), key=lambda r: r["k"])
    ra = rb = 0
    for i, r in enumerate(got):
        assert r["pa"] == ra and r["pb"] == rb
        assert r["s"] == f"x{i}"
        ra += i % 5
        rb += i % 3


def test_prefix_sum_int64_overflow_raises(spark):
    # sums are int64: four values of 2^62 total 2^64, which must fail
    # loudly wherever the range scan places the rows — never wrap
    from pyspark.errors import ArithmeticException
    from pyspark.sql import functions as F
    df = spark.createDataFrame([(i, 2 ** 62) for i in range(4)],
                               "k long, v long")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        # one partition: Spark's ANSI sum overflows in the plan; four:
        # the driver-side offset fold does
        for parts in ("1", "4"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            with pytest.raises(ArithmeticException,
                               match="ARITHMETIC_OVERFLOW"):
                out, _ = profiling._prefix_sum(df, [F.col("k")], "v",
                                               "_ps")
                out.collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_pr_auc_known_value(spark):
    # ranked desc: scores 4(pos), 3(neg), 2(pos), 1(neg)
    # thresholds: s=4: P=1/1, dR=1/2 -> .5; s=2: P=2/3, dR=1/2 -> 1/3
    # AP = 0.5 + 0.333333 = 0.833333
    df = spark.createDataFrame(
        [(4.0, 1), (3.0, 0), (2.0, 1), (1.0, 0)], "s double, y int")
    r = profiling.pr_auc(df, "s", "y").collect()[0]
    assert (r["n_pos"], r["n_neg"]) == (2, 2)
    assert r["ap"] == pytest.approx(0.833333, abs=2e-6)


def test_pr_auc_all_positive_and_none(spark):
    df = spark.createDataFrame([(1.0, 1), (2.0, 1)], "s double, y int")
    assert profiling.pr_auc(df, "s", "y").collect()[0]["ap"] == 1.0
    df0 = spark.createDataFrame([(1.0, 0)], "s double, y int")
    r = profiling.pr_auc(df0, "s", "y").collect()[0]
    assert r["n_pos"] == 0 and r["ap"] is None


def test_pr_auc_ties_grouped_at_threshold(spark):
    # tied scores form ONE threshold: scores [2,2] (1 pos, 1 neg),
    # [1] neg -> single effective cut at s=2: P=1/2, dR=1
    # then s=1 adds no positives. AP = 0.5
    df = spark.createDataFrame(
        [(2.0, 1), (2.0, 0), (1.0, 0)], "s double, y int")
    r = profiling.pr_auc(df, "s", "y").collect()[0]
    assert r["ap"] == pytest.approx(0.5)


def test_lorenz_equal_values_diagonal(spark):
    df = spark.createDataFrame([(i, 10.0) for i in range(20)],
                               "k long, v double")
    rows = profiling.lorenz_curve(df, "v", "k", n_buckets=5).collect()
    shares = [r["cum_share"] for r in rows]
    assert shares == [pytest.approx(x / 5) for x in range(1, 6)]
    assert [r["n"] for r in rows] == [4] * 5


def test_lorenz_concentration_and_terminal_one(spark):
    # one whale: bottom buckets hold ~0 share, last bucket ~1
    vals = [(i, 0.01) for i in range(9)] + [(9, 1000.0)]
    df = spark.createDataFrame(vals, "k long, v double")
    rows = profiling.lorenz_curve(df, "v", "k", n_buckets=10).collect()
    assert rows[-1]["cum_share"] == pytest.approx(1.0)
    assert rows[0]["cum_share"] < 0.001
    cs = [r["cum_share"] for r in rows]
    assert cs == sorted(cs)


def test_binary_metrics_known_confusion(spark):
    rows = ([(True, True)] * 6 + [(True, False)] * 2
            + [(False, True)] * 1 + [(False, False)] * 11)
    df = spark.createDataFrame(rows, "t boolean, p boolean")
    r = profiling.binary_metrics(df, "t", "p").collect()[0]
    assert (r["tp"], r["tn"], r["fp"], r["fn"]) == (6, 11, 1, 2)
    assert r["accuracy"] == pytest.approx(17 / 20)
    assert r["precision_"] == pytest.approx(6 / 7, abs=1e-6)
    assert r["recall_"] == pytest.approx(6 / 8)
    import math as m
    mcc = (6 * 11 - 1 * 2) / m.sqrt(7 * 8 * 12 * 13)
    assert r["mcc"] == pytest.approx(mcc, abs=1e-6)


def test_binary_metrics_degenerate_nulls(spark):
    df = spark.createDataFrame([(True, True)] * 3, "t boolean, p boolean")
    r = profiling.binary_metrics(df, "t", "p").collect()[0]
    assert r["accuracy"] == 1.0 and r["mcc"] is None  # tn=fp=fn=0


def test_nmi_identical_and_independent(spark):
    # identical labelings -> NMI = 1
    df = spark.createDataFrame(
        [("x", "x")] * 5 + [("y", "y")] * 5, "a string, b string")
    r = profiling.nmi(df, "a", "b").collect()[0]
    assert r["nmi"] == pytest.approx(1.0)
    assert r["mi"] == pytest.approx(r["h_a"], abs=1e-6)
    # independent (balanced product) -> MI = 0
    rows = [(a, b) for a in "xy" for b in "uv" for _ in range(5)]
    df2 = spark.createDataFrame(rows, "a string, b string")
    r2 = profiling.nmi(df2, "a", "b").collect()[0]
    assert r2["mi"] == pytest.approx(0.0)
    assert r2["nmi"] == pytest.approx(0.0)


def test_nmi_constant_labeling_null(spark):
    df = spark.createDataFrame(
        [("x", "u"), ("x", "v")], "a string, b string")
    r = profiling.nmi(df, "a", "b").collect()[0]
    assert r["h_a"] == 0.0 and r["nmi"] is None


def test_spearman_perfect_monotone_and_inverse(spark):
    df = spark.createDataFrame(
        [(float(i), float(i * i)) for i in range(1, 20)],
        "x double, y double")
    assert profiling.spearman_rho(df, "x", "y").collect()[0]["rho"] == 1.0
    inv = spark.createDataFrame(
        [(float(i), float(-i)) for i in range(1, 20)],
        "x double, y double")
    assert profiling.spearman_rho(inv, "x", "y").collect()[0]["rho"] == -1.0


def test_spearman_ties_average_rank(spark):
    # x = [1,2,2,3], y = [10,20,20,40]: identical tie structure -> 1.0
    df = spark.createDataFrame(
        [(1.0, 10.0), (2.0, 20.0), (2.0, 20.0), (3.0, 40.0)],
        "x double, y double")
    assert profiling.spearman_rho(df, "x", "y").collect()[0]["rho"] == 1.0
    # constant column -> NULL
    c = spark.createDataFrame([(1.0, 5.0), (2.0, 5.0)], "x double, y double")
    assert profiling.spearman_rho(c, "x", "y").collect()[0]["rho"] is None


def test_hhi_even_and_monopoly(spark):
    rows = [("g", f"m{i}", 10.0) for i in range(4)] \
        + [("h", "solo", 99.0)]
    df = spark.createDataFrame(rows, "grp string, m string, v double")
    got = {r["grp"]: (r["n_members"], r["hhi"])
           for r in profiling.hhi(df, "grp", "m", "v").collect()}
    assert got["g"] == (4, 0.25)
    assert got["h"] == (1, 1.0)


def test_kendall_tau_binned_perfect_and_inverse(spark):
    # strictly increasing bins -> tau_b = 1; reversed -> -1
    df = spark.createDataFrame([(i, i) for i in range(6)],
                               "xb long, yb long")
    r = profiling.kendall_tau_binned(df, "xb", "yb").collect()[0]
    assert r["tau_b"] == 1.0 and r["n"] == 6
    assert r["concordant"] == 15.0 and r["discordant"] == 0.0
    inv = spark.createDataFrame([(i, 5 - i) for i in range(6)],
                                "xb long, yb long")
    assert profiling.kendall_tau_binned(inv, "xb", "yb") \
        .collect()[0]["tau_b"] == -1.0


def test_kendall_tau_binned_ties_vs_scipy_formula(spark):
    # hand-checked tau-b with ties: x=[0,0,1,1,2], y=[0,1,1,2,2]
    # cross-x pairs: C=6 ((0,0)x(1,1),(1,2),(2,2); (0,1)x(1,2),(2,2);
    # (1,1)x(2,2)), D=0; n0=10, n1=2 (x-ties), n2=2 (y-ties)
    # tau_b = 6 / sqrt(8*8) = 0.75
    rows = [(0, 0), (0, 1), (1, 1), (1, 2), (2, 2)]
    df = spark.createDataFrame(rows, "xb long, yb long")
    r = profiling.kendall_tau_binned(df, "xb", "yb").collect()[0]
    assert r["concordant"] == 6.0 and r["discordant"] == 0.0
    assert r["tau_b"] == 0.75


def test_kendall_tau_binned_degenerate_null(spark):
    # single x bin: denominator zero -> NULL
    df = spark.createDataFrame([(1, 1), (1, 2)], "xb long, yb long")
    assert profiling.kendall_tau_binned(df, "xb", "yb") \
        .collect()[0]["tau_b"] is None


def test_auc_by_group_matches_global_roc_auc(spark):
    import random
    rnd = random.Random(7)
    rows = [("g1", rnd.random() * 10 + (3 if rnd.random() < 0.4 else 0),
             0) for _ in range(200)]
    rows += [("g1", rnd.random() * 10 + 3, 1) for _ in range(80)]
    rows += [("g2", float(i), i % 2) for i in range(50)]
    df = spark.createDataFrame(rows, "grp string, s double, y int")
    per = {r["grp"]: r for r in
           profiling.auc_by_group(df, "s", "y", "grp").collect()}
    for g in ("g1", "g2"):
        sub = df.where(df.grp == g)
        glob = profiling.roc_auc(sub, "s", "y").collect()[0]
        assert per[g]["n_pos"] == glob["n_pos"]
        assert per[g]["n_neg"] == glob["n_neg"]
        assert per[g]["auc"] == glob["auc"], g


def test_auc_by_group_one_class_null(spark):
    df = spark.createDataFrame(
        [("a", 1.0, 1), ("a", 2.0, 1), ("b", 1.0, 0), ("b", 2.0, 1)],
        "grp string, s double, y int")
    got = {r["grp"]: r["auc"]
           for r in profiling.auc_by_group(df, "s", "y", "grp").collect()}
    assert got["a"] is None
    assert got["b"] == 1.0


def test_ece_perfectly_calibrated_and_off(spark):
    # bin [0.2,0.3): conf 0.25, acc 0.25 -> term 0; mce from the
    # miscalibrated bin [0.8,0.9): conf 0.85, acc 0.25
    rows = ([(0.25, 1)] * 1 + [(0.25, 0)] * 3
            + [(0.85, 1)] * 1 + [(0.85, 0)] * 3)
    df = spark.createDataFrame(rows, "p double, y int")
    r = profiling.ece_calibration(df, "p", "y", n_bins=10).collect()[0]
    assert r["n"] == 8
    assert r["mce"] == 0.6          # |0.25 - 0.85|
    assert r["ece"] == 0.3          # (0*4 + 0.6*4)/8
    empty = spark.createDataFrame([], "p double, y int")
    assert profiling.ece_calibration(empty, "p", "y") \
        .collect()[0]["ece"] is None


def test_k_anonymity_and_l_diversity(spark):
    from dask_grblas_spark.functions import privacy
    rows = [("a", 1, "x")] * 5 + [("a", 2, "y")] * 2 + [("b", 1, "x")]
    df = spark.createDataFrame(rows, "q1 string, q2 int, s string")
    r = privacy.k_anonymity(df, ["q1", "q2"], k=3).collect()[0]
    assert (r["n_rows"], r["n_groups"]) == (8, 3)
    assert r["n_violating_groups"] == 2 and r["n_rows_at_risk"] == 3
    assert r["min_group_size"] == 1 and r["anon_fraction"] == 0.625
    d = privacy.l_diversity(df, ["q1"], "s", l=2).collect()[0]
    # group a has {x,y} (ok), group b has {x} (violates)
    assert d["n_groups"] == 2 and d["n_violating_groups"] == 1
    assert d["min_distinct"] == 1 and d["diverse_fraction"] == 0.5


# ---------------------------------------------------------------------------
# fleiss_kappa / krippendorff_alpha (r11): multi-annotator agreement
# ---------------------------------------------------------------------------

def _ann(spark, rows):
    return spark.createDataFrame(rows, "item string, val string")


def test_fleiss_kappa_hand_computed(spark):
    # items: A{x,x} B{x,y} C{y,y}; P_u = 1, 0, 1 -> Po = 2/3;
    # margins x=3, y=3, n=6 -> Pe = 0.5; kappa = (2/3-.5)/.5 = 1/3
    df = _ann(spark, [("A", "x"), ("A", "x"), ("B", "x"),
                      ("B", "y"), ("C", "y"), ("C", "y")])
    r = profiling.fleiss_kappa(df, "item", "val").collect()[0]
    assert (r["n_items"], r["n_annotations"]) == (3, 6)
    assert r["po"] == pytest.approx(2 / 3, abs=1e-6)
    assert r["pe"] == pytest.approx(0.5)
    assert r["kappa"] == pytest.approx(1 / 3, abs=1e-6)


def test_krippendorff_alpha_hand_computed(spark):
    # same data: D_o = 2/6, D_e = 18/30 = .6 -> alpha = 1-5/9 = 4/9
    df = _ann(spark, [("A", "x"), ("A", "x"), ("B", "x"),
                      ("B", "y"), ("C", "y"), ("C", "y")])
    r = profiling.krippendorff_alpha(df, "item", "val").collect()[0]
    assert r["d_o"] == pytest.approx(1 / 3, abs=1e-6)
    assert r["d_e"] == pytest.approx(0.6)
    assert r["alpha"] == pytest.approx(4 / 9, abs=1e-6)


def test_agreement_varying_raters_and_singletons(spark):
    # A{x,x,x} (3 raters), B{x,y} (2), C{y} (singleton -> EXCLUDED)
    # alpha: D_o = 2/5, D_e = (4*1+1*4)/20 = .4 -> alpha = 0
    # fleiss: Po = .5, Pe = (16+1)/25 = .68 -> kappa = -.5625
    df = _ann(spark, [("A", "x"), ("A", "x"), ("A", "x"),
                      ("B", "x"), ("B", "y"), ("C", "y")])
    ka = profiling.krippendorff_alpha(df, "item", "val").collect()[0]
    assert (ka["n_items"], ka["n_annotations"]) == (2, 5)
    assert ka["alpha"] == pytest.approx(0.0, abs=1e-6)
    fk = profiling.fleiss_kappa(df, "item", "val").collect()[0]
    assert fk["po"] == pytest.approx(0.5)
    assert fk["pe"] == pytest.approx(0.68)
    assert fk["kappa"] == pytest.approx(-0.5625, abs=1e-6)


def test_agreement_perfect_and_degenerate(spark):
    perf = _ann(spark, [("A", "x"), ("A", "x"), ("B", "y"), ("B", "y")])
    assert profiling.fleiss_kappa(perf, "item", "val") \
        .collect()[0]["kappa"] == 1.0
    assert profiling.krippendorff_alpha(perf, "item", "val") \
        .collect()[0]["alpha"] == 1.0
    # single category everywhere: chance agreement 1 -> NULLs
    one = _ann(spark, [("A", "x"), ("A", "x"), ("B", "x"), ("B", "x")])
    assert profiling.fleiss_kappa(one, "item", "val") \
        .collect()[0]["kappa"] is None
    assert profiling.krippendorff_alpha(one, "item", "val") \
        .collect()[0]["alpha"] is None
    # nothing pairable (all singleton items)
    lone = _ann(spark, [("A", "x"), ("B", "y")])
    r = profiling.fleiss_kappa(lone, "item", "val").collect()[0]
    assert r["n_items"] == 0 and r["kappa"] is None


def test_agreement_brute_force_reference(spark):
    """Randomized fixed-seed case vs a pure-Python reference of both
    formulas (no quantization in the reference; agreement to 1e-6)."""
    import random
    rng = random.Random(711)
    rows = [(f"i{rng.randrange(40)}", rng.choice("abcd"))
            for _ in range(600)]
    from collections import Counter, defaultdict
    per = defaultdict(Counter)
    for it, v in rows:
        per[it][v] += 1
    per = {it: c for it, c in per.items() if sum(c.values()) >= 2}
    n = sum(sum(c.values()) for c in per.values())
    po = sum(sum(x * (x - 1) for x in c.values())
             / (sum(c.values()) * (sum(c.values()) - 1))
             for c in per.values()) / len(per)
    marg = Counter()
    for c in per.values():
        marg.update(c)
    pe = sum(v * v for v in marg.values()) / (n * n)
    kappa_ref = (po - pe) / (1 - pe)
    do = sum(sum(x * (sum(c.values()) - x) for x in c.values())
             / (sum(c.values()) - 1) for c in per.values()) / n
    de = sum(v * (n - v) for v in marg.values()) / (n * (n - 1))
    alpha_ref = 1 - do / de
    df = _ann(spark, rows)
    fk = profiling.fleiss_kappa(df, "item", "val").collect()[0]
    ka = profiling.krippendorff_alpha(df, "item", "val").collect()[0]
    assert fk["kappa"] == pytest.approx(kappa_ref, abs=1e-5)
    assert ka["alpha"] == pytest.approx(alpha_ref, abs=1e-5)


# ---------------------------------------------------------------------------
# fd_violations / decayed_counts (r11)
# ---------------------------------------------------------------------------

def test_fd_violations_hand_computed(spark):
    rows = [("a", "x"), ("a", "x"), ("b", "x"), ("b", "y"),
            ("c", None), ("c", "z"), ("d", None), ("d", None)]
    df = spark.createDataFrame(rows, "k string, v string")
    r = profiling.fd_violations(df, "k", "v").collect()[0]
    # b maps {x,y}; c maps {NULL,z} (NULL is a value); a, d clean
    assert (r["n_groups"], r["n_violating_groups"]) == (4, 2)
    assert (r["n_rows"], r["n_violating_rows"]) == (8, 4)
    assert r["violation_rate"] == pytest.approx(0.5)


def test_fd_violations_holds(spark):
    df = spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "k int, v int")
    r = profiling.fd_violations(df, "k", "v").collect()[0]
    assert r["n_violating_groups"] == 0
    assert r["violation_rate"] == 0.0


def test_fd_violations_composite_lhs(spark):
    df = spark.createDataFrame(
        [("a", 1, "x"), ("a", 1, "y"), ("a", 2, "x"), ("b", 1, "x")],
        "k1 string, k2 int, v string")
    r = profiling.fd_violations(df, ["k1", "k2"], "v").collect()[0]
    assert (r["n_groups"], r["n_violating_groups"]) == (3, 1)


def test_decayed_counts_hand_computed(spark):
    from datetime import datetime, timezone

    from dask_grblas_spark.functions import timeseries

    def ts(s):
        return datetime.fromtimestamp(1700000000 + s, tz=timezone.utc) \
                       .replace(tzinfo=None)
    # T = max second; half-life 10s: terms 0.5^(dt/10)
    rows = [("a", ts(0)), ("a", ts(10)), ("a", ts(20)),
            ("b", ts(20)), ("b", ts(15))]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    got = {r["key"]: r for r in
           timeseries.decayed_counts(df, "event_type", "ts", 10)
           .collect()}
    assert got["a"]["n_events"] == 3
    assert got["a"]["score"] == pytest.approx(
        0.25 + 0.5 + 1.0, abs=1e-6)          # dt = 20, 10, 0
    assert got["b"]["score"] == pytest.approx(
        1.0 + 0.5 ** 0.5, abs=1e-6)          # dt = 0, 5
    assert got["a"]["last_seen_sec"] == 1700000020


def test_join_cardinality_hand_computed(spark):
    a = spark.createDataFrame(
        [(1,), (1,), (2,), (3,), (None,)], "k int")
    b = spark.createDataFrame(
        [(1,), (2,), (2,), (4,), (None,)], "k int")
    r = profiling.join_cardinality(a, "k", b, "k").collect()[0]
    # matches: k=1 (2x1), k=2 (1x2) -> 4 output rows; NULLs excluded
    assert (r["n_a"], r["n_b"]) == (4, 4)
    assert (r["keys_a"], r["keys_b"], r["keys_matched"]) == (3, 3, 2)
    assert int(r["out_rows"]) == 4
    assert int(r["max_key_fanout"]) == 2
    # the profile must equal the actual join's output count
    assert a.join(b, on="k").count() == int(r["out_rows"])


def test_join_cardinality_disjoint(spark):
    a = spark.createDataFrame([(1,)], "k int")
    b = spark.createDataFrame([(2,)], "k int")
    r = profiling.join_cardinality(a, "k", b, "k").collect()[0]
    assert (r["keys_matched"], int(r["out_rows"])) == (0, 0)


def test_auc_by_group_null_group_kept(spark):
    """A NULL group is a real group (unknown segment) — the grouped
    prefix-sum rewrite must keep its row (r11 review finding: a plain
    equality join on grp silently dropped it)."""
    rows = [(None, 3.0, 1), (None, 2.0, 1), (None, 1.0, 0),
            (None, 2.0, 0), ("a", 5.0, 1), ("a", 1.0, 0)]
    df = spark.createDataFrame(rows, "g string, s double, y int")
    got = {r["grp"]: r for r in
           profiling.auc_by_group(df, "s", "y", "g").collect()}
    assert set(got) == {None, "a"}
    assert got[None]["auc"] == pytest.approx(0.875)  # q256's fixture
    assert got["a"]["auc"] == 1.0
