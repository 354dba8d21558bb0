"""Data-quality profiling: column statistics and referential-integrity
audits — the validation pass a 100 TB lake table gets on every publish
(null-rate drift, cardinality drift, orphaned foreign keys).

Everything is a single aggregation pass per table (all per-column
statistics ride in ONE agg — map-side combined, no per-column jobs) or
two marker joins + one union aggregate per FK check, expressed in plain Column arithmetic so the
DuckDB oracle replays values exactly.

Reference scope: the reference engine has no profiling layer; this
extends the pipeline surface (SURVEY.md "beyond the reference").
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["profile_numeric", "fk_integrity", "correlation_matrix",
           "groupwise_linreg", "histogram", "exact_quantiles",
           "zscore_outliers", "basket_pairs", "impute",
           "benford_digits", "rfm_segments", "majority_label",
           "classification_report", "calibration_bins",
           "cumulative_gain", "moments_profile", "ab_test",
           "exact_weighted_quantiles", "group_quantiles", "user_growth",
           "chi2_independence", "gini_coefficient", "mad_outliers",
           "key_skew", "winsorize", "column_entropy", "robust_scale",
           "psi", "ks_test", "mutual_information", "anova",
           "target_encode", "histogram_2d", "expectations",
           "feature_cross", "cramers_v", "benjamini_hochberg",
           "reconcile", "woe_iv", "kfold_target_encode",
           "quantile_normalize"]


def profile_numeric(df: DataFrame, columns: list[str]) -> DataFrame:
    """Per-column numeric profile in long form: (col, n_rows, n_null,
    n_distinct, min_v, max_v, mean_v) with values cast to double and
    6-decimal rounded. ONE aggregation pass computes every column's
    statistics (count/min/max/mean are map-side combined;
    count_distinct adds the standard expand — still one job); the long
    format comes from exploding a literal array of result structs, not
    from per-column scans.

    For drift monitoring at 100 TB swap count_distinct for the HLL
    register sketch (sketches.hll_distinct) — exactness here keeps the
    gate hard-oracled."""
    aggs = []
    for c in columns:
        v = F.col(c).cast("double")
        aggs += [
            F.count("*").alias(f"{c}__rows"),
            F.sum(v.isNull().cast("bigint")).alias(f"{c}__nulls"),
            F.count_distinct(v).alias(f"{c}__dist"),
            F.min(v).alias(f"{c}__min"),
            F.max(v).alias(f"{c}__max"),
            F.avg(v).alias(f"{c}__mean"),
        ]
    one = df.agg(*aggs)
    structs = F.array(*[
        F.struct(F.lit(c).alias("col"),
                 F.col(f"{c}__rows").cast("bigint").alias("n_rows"),
                 F.col(f"{c}__nulls").cast("bigint").alias("n_null"),
                 F.col(f"{c}__dist").cast("bigint").alias("n_distinct"),
                 F.round(F.col(f"{c}__min"), 6).alias("min_v"),
                 F.round(F.col(f"{c}__max"), 6).alias("max_v"),
                 F.round(F.col(f"{c}__mean"), 6).alias("mean_v"))
        for c in columns])
    return (one.select(F.explode(structs).alias("s"))
               .select("s.col", "s.n_rows", "s.n_null", "s.n_distinct",
                       "s.min_v", "s.max_v", "s.mean_v"))


def fk_integrity(checks: list[tuple[str, DataFrame, str, DataFrame, str]]
                 ) -> DataFrame:
    """Referential-integrity audit: for each (name, child_df, fk_col,
    parent_df, pk_col) check, count child rows whose fk has no matching
    parent key (orphans) and parent keys with no child (childless —
    coverage, not a violation). Joins run on the NATIVE key type (no
    cast — string keys work; a bigint cast would NULL them out and
    silently report 100% orphans). NULL foreign keys are counted
    separately (n_null_fk) and are NOT orphans, matching standard RI
    semantics; NULL parent keys are excluded (a PK can't be NULL).
    Each check is two marker LEFT joins (child keys against the
    DISTINCT parent keys and the reverse — dimension-sized parent
    relations broadcast, Spark picks) whose UNION feeds one aggregate:
    no per-count jobs and no 1-row crossJoins in the plan. Output:
    (check, n_child, n_null_fk, n_orphan, n_childless_parent)."""
    outs = []
    for name, child, fk, parent, pk in checks:
        ckeys = child.select(F.col(fk).alias("k"))
        pkeys = (parent.select(F.col(pk).alias("k"))
                       .where(F.col("k").isNotNull()).distinct())
        cside = (ckeys.join(pkeys.withColumn("_p", F.lit(1)),
                            on="k", how="left")
                      .select(F.lit(True).alias("is_child"),
                              (F.col("k").isNotNull()
                               & F.col("_p").isNull()).alias("bad"),
                              F.col("k").isNull().alias("nul")))
        pside = (pkeys.join(ckeys.where(F.col("k").isNotNull())
                                 .distinct().withColumn("_c", F.lit(1)),
                            on="k", how="left")
                      .select(F.lit(False).alias("is_child"),
                              F.col("_c").isNull().alias("bad"),
                              F.lit(False).alias("nul")))
        row = (cside.unionByName(pside).agg(
            F.sum(F.col("is_child").cast("bigint")).alias("n_child"),
            F.sum((F.col("is_child") & F.col("nul")).cast("bigint"))
             .alias("n_null_fk"),
            F.sum((F.col("is_child") & F.col("bad")).cast("bigint"))
             .alias("n_orphan"),
            F.sum(((~F.col("is_child")) & F.col("bad")).cast("bigint"))
             .alias("n_childless"))
            .select(F.lit(name).alias("check"),
                    F.col("n_child").cast("bigint").alias("n_child"),
                    F.col("n_null_fk").cast("bigint").alias("n_null_fk"),
                    F.col("n_orphan").cast("bigint").alias("n_orphan"),
                    F.col("n_childless").cast("bigint")
                     .alias("n_childless_parent")))
        outs.append(row)
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def correlation_matrix(df: DataFrame, columns: list[str]) -> DataFrame:
    """Pairwise Pearson correlation of ``columns`` in long form
    (col_a, col_b, corr) for a < b — the feature-redundancy screen of a
    profiling pass. ONE aggregation computes every column's moment sums
    and every pair's cross-product sum (map-side combined; the explode
    to long form happens on the 1-row result), and the textbook
    closed form is evaluated with the SAME expression tree the SQL
    oracle uses, rounded to 6 decimals (absorbs distributed-sum
    reorder ulps). Columns with zero variance yield NULL (not NaN/inf:
    engines disagree on x/0)."""
    aggs = [F.count("*").cast("double").alias("_n")]
    for c in columns:
        v = F.col(c).cast("double")
        aggs += [F.sum(v).alias(f"{c}__s"),
                 F.sum(v * v).alias(f"{c}__s2")]
    pairs = [(a, b) for i, a in enumerate(columns)
             for b in columns[i + 1:]]
    for a, b in pairs:
        aggs.append(F.sum(F.col(a).cast("double")
                          * F.col(b).cast("double")).alias(f"{a}__{b}"))
    one = df.agg(*aggs)

    def corr(a, b):
        n = F.col("_n")
        sx, sy = F.col(f"{a}__s"), F.col(f"{b}__s")
        sx2, sy2 = F.col(f"{a}__s2"), F.col(f"{b}__s2")
        sxy = F.col(f"{a}__{b}")
        vx = n * sx2 - sx * sx
        vy = n * sy2 - sy * sy
        return F.when((vx > 0) & (vy > 0),
                      F.round((n * sxy - sx * sy)
                              / F.sqrt(vx * vy), 6))
    structs = F.array(*[
        F.struct(F.lit(a).alias("col_a"), F.lit(b).alias("col_b"),
                 corr(a, b).alias("corr")) for a, b in pairs])
    return (one.select(F.explode(structs).alias("s"))
               .select("s.col_a", "s.col_b", "s.corr"))


def groupwise_linreg(df: DataFrame, key_col: str, x_col,
                     y_col) -> DataFrame:
    """Per-key ordinary-least-squares fit of y on x: (key, n, slope,
    intercept) from the closed-form moment sums — one map-side-combined
    groupBy, no iteration (the per-segment trend screen: value drift
    per source, size-vs-time per table, ...). x/y accept Column
    expressions. Degenerate keys (zero x-variance) yield NULL slope and
    intercept. 6-decimal rounding on the SAME closed form keeps the SQL
    oracle exact."""
    x = (F.col(x_col) if isinstance(x_col, str) else x_col).cast("double")
    y = (F.col(y_col) if isinstance(y_col, str) else y_col).cast("double")
    g = (df.groupBy(F.col(key_col).alias("key"))
           .agg(F.count("*").cast("double").alias("_n"),
                F.sum(x).alias("_sx"), F.sum(y).alias("_sy"),
                F.sum(x * x).alias("_sx2"), F.sum(x * y).alias("_sxy")))
    vx = F.col("_n") * F.col("_sx2") - F.col("_sx") * F.col("_sx")
    slope = (F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")) / vx
    intercept = (F.col("_sy") - slope * F.col("_sx")) / F.col("_n")
    return g.select("key", F.col("_n").cast("bigint").alias("n"),
                    F.when(vx > 0, F.round(slope, 6)).alias("slope"),
                    F.when(vx > 0, F.round(intercept, 6))
                     .alias("intercept"))


def _clamped_bin(col: str, lo: float, hi: float, nb: int):
    """THE clamp-bin expression shared by histogram / histogram_2d /
    psi — the oracle-exactness contract depends on this exact operation
    order (floor((v - lo) * nb / (hi - lo)), clamped to [0, nb-1];
    v == hi lands in the last bin), so it lives in one place."""
    v = F.col(col).cast("double")
    raw = F.floor((v - F.lit(float(lo))) * F.lit(int(nb))
                  / F.lit(float(hi - lo)))
    return F.least(F.greatest(raw, F.lit(0)), F.lit(nb - 1)).cast("int")


def histogram(df: DataFrame, col: str, lo: float, hi: float,
              nbins: int) -> DataFrame:
    """Equi-width histogram with EXPLICIT bounds — no min/max pre-pass,
    so the whole histogram is one map-side-combined aggregation (the
    scale-safe form; derive bounds from a prior profile_numeric run).
    Values outside [lo, hi] clamp into the edge bins; v == hi lands in
    the last bin. Output: (bin, lo_edge, n); empty bins are absent."""
    bin_ = _clamped_bin(col, lo, hi, nbins)
    width = (hi - lo) / nbins
    return (df.select(bin_.alias("bin"))
              .groupBy("bin")
              .agg(F.count("*").cast("bigint").alias("n"))
              .select("bin",
                      F.round(F.lit(float(lo))
                              + F.col("bin") * F.lit(float(width)), 6)
                       .alias("lo_edge"), "n"))


def histogram_2d(df: DataFrame, x_col: str, y_col: str,
                 x_lo: float, x_hi: float, y_lo: float, y_hi: float,
                 nx: int = 20, ny: int = 20) -> DataFrame:
    """2-D density heatmap binning over explicit bounds — the
    dashboard/correlation-surface rollup. Same clamp contract as
    `histogram`: out-of-range values land in the edge bins, v == hi in
    the last bin; rows where either side is NULL are excluded. ONE
    map-side-combined grouped count; empty cells are absent.
    Output: (bx, by, x_edge, y_edge, n), edges rounded 6."""
    if x_hi <= x_lo or y_hi <= y_lo:
        raise ValueError("histogram_2d: hi must be > lo on both axes")
    if nx < 1 or ny < 1:
        raise ValueError("histogram_2d: need nx >= 1 and ny >= 1")
    wx = (x_hi - x_lo) / nx
    wy = (y_hi - y_lo) / ny
    return (df.where(F.col(x_col).isNotNull()
                     & F.col(y_col).isNotNull())
              .groupBy(_clamped_bin(x_col, x_lo, x_hi, nx).alias("bx"),
                       _clamped_bin(y_col, y_lo, y_hi, ny).alias("by"))
              .agg(F.count("*").cast("bigint").alias("n"))
              .select("bx", "by",
                      F.round(F.lit(float(x_lo))
                              + F.col("bx") * F.lit(float(wx)), 6)
                       .alias("x_edge"),
                      F.round(F.lit(float(y_lo))
                              + F.col("by") * F.lit(float(wy)), 6)
                       .alias("y_edge"), "n"))


def _stamp_row_id(df: DataFrame) -> DataFrame:
    """Stamp a synthetic per-row tie-break id and PIN it
    (localCheckpoint) before any ``repartitionByRange`` consumer:
    ``monotonically_increasing_id`` is recomputation-unstable (the
    SPARK-23207 hazard class) — if a shuffle-map retry regenerates ids
    mid-shuffle, rows re-route between range partitions (duplicated or
    lost). Checkpointing first makes the id (and hence placement) a
    materialized fact instead of a recipe. Callers project to a narrow
    relation first so the materialization is cheap."""
    return (df.withColumn("_id", F.monotonically_increasing_id())
              .localCheckpoint())


_INT64_MAX = 2 ** 63 - 1


def _shuffle_parts(spark) -> int:
    """Target partition count for the range-partitioned exact-rank
    shuffles: spark.sql.shuffle.partitions when numeric, else (e.g.
    "auto" under some AQE configs) the cluster default parallelism."""
    raw = spark.conf.get("spark.sql.shuffle.partitions", "200")
    try:
        return int(raw)
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def _range_scan(df: DataFrame, sort_cols: list, *aggs):
    """The one range-partitioned scan behind the exact rank, quantile,
    prefix-sum, KS and Pareto operators — a chunked fold without a
    single-task global window.

    ``repartitionByRange`` on the full sort key makes every one of the
    `_shuffle_parts` partitions a contiguous, sample-balanced interval
    of the total order (a trailing distinct tie-break splits even a
    90%-constant leading key across partitions). The partition id is
    tagged as ``_p`` and pinned by ONE eager localCheckpoint, so the
    aggregate pass and every later window over ``_p`` see identical
    placement; ``aggs`` are then evaluated per partition in one action
    (numPartitions rows to the driver). Exactness never depends on
    where the sampled boundaries land.

    Returns (tagged, rows): the input columns plus ``_p``, and one
    ``(_p, *aggs)`` row per non-empty partition in partition order."""
    tagged = (df.repartitionByRange(_shuffle_parts(df.sparkSession),
                                    *sort_cols)
                .withColumn("_p", F.spark_partition_id())
                .localCheckpoint())
    rows = tagged.groupBy("_p").agg(*aggs).collect()
    return tagged, sorted(rows, key=lambda r: r[0])


def _exclusive_offsets(rows, k: int):
    """Fold the first ``k`` aggregates of `_range_scan` rows into
    exclusive per-partition offsets ({_p: [offset, ...]}) and the
    exact totals ([total, ...]) as Python ints; NULL sums count 0.
    A running sum outside int64 raises ARITHMETIC_OVERFLOW, as Spark's
    ANSI sums do, instead of reaching the plan as an unbounded
    literal."""
    from pyspark.errors import ArithmeticException

    offs, cum = {}, [0] * k
    for r in rows:
        offs[r[0]] = list(cum)
        cum = [c + int(x or 0) for c, x in zip(cum, r[1:k + 1])]
        if any(abs(c) > _INT64_MAX for c in cum):
            raise ArithmeticException(
                message="running sum past int64 in the range-scan "
                        "offsets", errorClass="ARITHMETIC_OVERFLOW")
    return offs, cum


def _offset_col(offs: dict, i: int = 0):
    """Each row's offset for aggregate ``i``, looked up by ``_p``."""
    if not offs:
        return F.lit(0)
    return F.create_map(*[F.lit(x) for p, o in offs.items()
                          for x in (p, o[i])])[F.col("_p")]


def _rank_targets(spark, rows, probs: list[float]):
    """Driver side of the exact (weighted) quantiles: rank
    r = ceil(round(p * total, 6)) of the per-partition totals in
    `_range_scan` ``rows`` falls in the last partition whose exclusive
    offset is below r. Returns a (_p, p, _lr) relation with _lr the
    rank local to that partition, or None when the total is 0."""
    offs, (tot,) = _exclusive_offsets(rows, 1)
    if not tot:
        return None
    wanted = []
    for p in probs:
        r = max(1, math.ceil(round(p * tot, 6)))
        pid = max(q for q, (o,) in offs.items() if o < r)
        wanted.append((pid, float(p), r - offs[pid][0]))
    return spark.createDataFrame(wanted, "_p int, p double, _lr long")


def exact_quantiles(df: DataFrame, col: str, probs: list[float],
                    nbins: int = 1024) -> DataFrame:
    """EXACT order-statistic quantiles of a double column without a
    global sort: one `_range_scan` over the tie-broken (value, row-id)
    key counts rows per partition, `_rank_targets` locates each
    quantile's partition and local rank on the driver, and one
    row_number window over ONLY the targeted partitions reads the
    answers off. ``nbins`` is ignored (kept for signature
    compatibility with the retired value-binned implementation).

    quantile(p) is the ceil(round(p*n, 6))-th smallest value (order
    statistic; the 6-decimal round guards the float product against
    0.5*60000 -> 30000.000000000004 -> ceil 30001, and the SQL oracle
    uses the same CEIL(ROUND(p*n, 6)) formula). Tie order among equal
    values cannot change the answer (any rank inside a tie run reads
    the run's value). NULLs are excluded.
    Output: (p, value) — one row per DISTINCT requested probability
    (a duplicated p would double its rows inside the targeted
    partition's row_number window and corrupt the rank)."""
    from pyspark.sql.window import Window as W

    probs = list(dict.fromkeys(probs))
    spark = df.sparkSession
    v = F.col(col).cast("double")
    base = _stamp_row_id(
        df.select(v.alias("_v")).where(v.isNotNull()))
    tagged, rows = _range_scan(base, [F.col("_v"), F.col("_id")],
                               F.count("*"))
    want_df = _rank_targets(spark, rows, probs)
    if want_df is None:
        return spark.createDataFrame([], "p double, value double")
    # partition the window by (_p, p): a partition targeted by several
    # probabilities carries one row copy per probability
    wn = W.partitionBy("_p", "p").orderBy("_v", "_id")
    return (tagged.join(F.broadcast(want_df), on="_p")
                  .withColumn("_rn", F.row_number().over(wn))
                  .where(F.col("_rn") == F.col("_lr"))
                  .select("p", F.col("_v").alias("value")))


def zscore_outliers(df: DataFrame, key_col: str, val_col: str,
                    id_col: str, threshold: float = 3.0) -> DataFrame:
    """Per-group z-score outlier screen: rows whose value deviates from
    their group's mean by >= threshold population standard deviations.
    Group moments come from one map-side-combined aggregation (moment
    sums, not two-pass mean-then-variance) and join back broadcast
    (group cardinality is bounded); z is computed with the SAME
    closed-form expression tree as the SQL oracle, rounded to 6.
    Zero-variance groups emit nothing (z undefined; engines disagree
    on x/0). Output: (key, id, x, z)."""
    x = F.col(val_col).cast("double")
    g = (df.groupBy(F.col(key_col).alias("key"))
           .agg(F.count("*").cast("double").alias("_n"),
                F.sum(x).alias("_sx"), F.sum(x * x).alias("_sx2")))
    j = df.select(F.col(key_col).alias("key"),
                  F.col(id_col).alias("id"), x.alias("x")) \
          .join(F.broadcast(g), on="key")
    var = (F.col("_n") * F.col("_sx2") - F.col("_sx") * F.col("_sx")) \
        / (F.col("_n") * F.col("_n"))
    z = (F.col("x") - F.col("_sx") / F.col("_n")) / F.sqrt(var)
    return (j.withColumn("z", F.when(var > 0, F.round(z, 6)))
             .filter(F.abs(F.col("z")) >= threshold)
             .select("key", "id", "x", "z"))


def basket_pairs(df: DataFrame, basket_col: str, item_col: str,
                 min_support: int = 2,
                 max_basket_items: int | None = 64) -> DataFrame:
    """Market-basket pair affinity (the co-purchase / co-view
    analytic): for item pairs appearing together in >= ``min_support``
    baskets, the pair support and LIFT
    (support * n_baskets / (n_a * n_b), n_x = baskets containing x).

    The pair fan-out is quadratic in basket SIZE, not corpus size: a
    pathological basket of f items yields f^2/2 rows, so
    ``max_basket_items`` keeps only each basket's first N distinct
    items (by item order — deterministic) before pairing; None is
    exact. The pair generation is a self-join co-partitioned on the
    basket key (one shuffle each side), pair counting is map-side
    combined, and the per-item basket counts are a bounded dictionary
    joined back (AQE broadcast below threshold).

    Output: (item_a, item_b, support, lift) with item_a < item_b,
    lift rounded to 6."""
    items = (df.select(F.col(basket_col).alias("bk"),
                       F.col(item_col).alias("it"))
               .distinct())
    if max_basket_items is not None:
        from pyspark.sql.window import Window

        w = Window.partitionBy("bk").orderBy("it")
        items = (items.withColumn("_rn", F.row_number().over(w))
                      .where(F.col("_rn") <= max_basket_items)
                      .drop("_rn"))
    # r12 optimization (guide §2.4): `items` feeds FOUR subplan
    # instances (basket-count aggregate, item counts, both self-join
    # sides) — unshared, the distinct + hub-cap window re-ran per
    # instance. Size-gated materialization computes it once at scale;
    # lazy below the gate.
    from .materialize import materialize_if_large
    items = materialize_if_large(items)
    # n_baskets stays IN the plan (1-row aggregate, broadcast by the
    # cross join) — no eager driver job at call time
    n_baskets = items.agg(
        F.count_distinct("bk").cast("double").alias("_nb_tot"))
    item_n = items.groupBy(F.col("it")).agg(F.count("*").alias("n"))
    a = items.alias("a")
    b = items.alias("b")
    sup = (a.join(b, (F.col("a.bk") == F.col("b.bk"))
                  & (F.col("a.it") < F.col("b.it")))
             .groupBy(F.col("a.it").alias("item_a"),
                      F.col("b.it").alias("item_b"))
             .agg(F.count("*").cast("bigint").alias("support"))
             .where(F.col("support") >= min_support))
    na = item_n.select(F.col("it").alias("item_a"),
                       F.col("n").alias("_na"))
    nb = item_n.select(F.col("it").alias("item_b"),
                       F.col("n").alias("_nb"))
    return (sup.join(na, on="item_a").join(nb, on="item_b")
               .crossJoin(F.broadcast(n_baskets))
               .select("item_a", "item_b", "support",
                       F.round(F.col("support") * F.col("_nb_tot")
                               / (F.col("_na") * F.col("_nb")), 6)
                        .alias("lift")))


def impute(df: DataFrame, col: str, group_col: str | None = None,
           strategy: str = "median") -> DataFrame:
    """Missing-value imputation: fill NULLs in ``col`` with the
    per-group (or global) EXACT median or mean of the non-null values —
    the standard feature-repair pass before training. The statistic is
    one map-side-combined aggregate over the bounded group relation,
    broadcast-joined back; no window over raw rows, no global sort
    (Spark's percentile aggregate is the exact streaming one).

    Adds ``{col}_filled`` (6-decimal rounded) and ``was_null``."""
    if strategy == "median":
        stat = F.percentile(F.col(col), F.lit(0.5))
    elif strategy == "mean":
        stat = F.avg(F.col(col))
    else:
        raise ValueError(f"unknown strategy {strategy!r}")
    out_col = f"{col}_filled"
    if group_col is None:
        fills = df.agg(F.round(stat, 6).alias("_fill"))
        joined = df.crossJoin(F.broadcast(fills))
    else:
        fills = (df.groupBy(group_col)
                   .agg(F.round(stat, 6).alias("_fill")))
        joined = df.join(F.broadcast(fills), on=group_col, how="left")
    return (joined
            .withColumn("was_null", F.col(col).isNull())
            .withColumn(out_col,
                        F.round(F.coalesce(F.col(col), F.col("_fill")), 6))
            .drop("_fill"))


def expectations(df: DataFrame, checks: list[tuple]) -> DataFrame:
    """Declarative data-contract audit (the dbt-test / expectations
    pattern): violation counts for a spec list, ALL folded into ONE
    map-side-combined aggregate over a single scan — never one job per
    check. Supported checks:

        ("not_null", col)                  rows with col NULL
        ("unique", col)                    excess duplicates
                                           (count - count_distinct;
                                           NULLs not counted)
        ("range", col, lo, hi)             non-NULL rows outside
                                           [lo, hi]
        ("accepted_values", col, [vals])   non-NULL rows outside the
                                           domain

    NULL rows only ever violate "not_null" (range/domain predicates
    are NULL for NULL inputs and sum() skips them — pair the checks).
    Output: (check, col, n_violations, passed) in spec order."""
    aggs = []
    meta = []
    for i, c in enumerate(checks):
        kind, col = c[0], c[1]
        v = F.col(col)
        if kind == "not_null":
            expr = F.sum(v.isNull().cast("bigint"))
        elif kind == "unique":
            expr = F.count(v) - F.count_distinct(v)
        elif kind == "range":
            lo, hi = c[2], c[3]
            expr = F.sum(((v < lo) | (v > hi)).cast("bigint"))
        elif kind == "accepted_values":
            expr = F.sum((~v.isin(list(c[2]))).cast("bigint"))
        else:
            raise ValueError(f"unknown check kind {kind!r}")
        aggs.append(F.coalesce(expr, F.lit(0)).cast("bigint")
                     .alias(f"_c{i}"))
        meta.append((f"{i}_{kind}", col))
    one = df.agg(*aggs)
    rows = F.array(*[
        F.struct(F.lit(name).alias("check"), F.lit(col).alias("col"),
                 F.col(f"_c{i}").alias("n_violations"),
                 (F.col(f"_c{i}") == 0).alias("passed"))
        for i, (name, col) in enumerate(meta)])
    return (one.select(F.explode(rows).alias("_r"))
               .select("_r.check", "_r.col", "_r.n_violations",
                       "_r.passed"))


def feature_cross(df: DataFrame, cols: list[str],
                  n_buckets: int = 1024,
                  out_col: str = "cross_bucket") -> DataFrame:
    """Hashed feature cross of categorical columns — the interaction
    featurizer (the 'cross_column' of wide-and-deep pipelines):
    bucket = cross-engine md5 hash of the unit-separator-joined string
    values, mod ``n_buckets``. Pure column arithmetic (no shuffle, no
    vocabulary state, reproducible in any engine with md5); NULL
    components hash as the literal marker so (NULL, x) and ('', x)
    land in different buckets. Adds ``out_col``."""
    from .dedup import cross_hash60

    parts = [F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
             for c in cols]
    h = cross_hash60(F.concat_ws("\x1f", *parts))
    return df.withColumn(out_col,
                         F.pmod(h, F.lit(int(n_buckets))).cast("int"))


def target_encode(df: DataFrame, key_col: str, target_col: str,
                  m: float = 10.0) -> DataFrame:
    """Smoothed target (mean) encoding of a categorical key — the
    standard high-cardinality feature encoder:

        enc(key) = (sum_y(key) + m * global_mean) / (n(key) + m)

    (the Bayesian-average shrinkage toward the global mean; ``m`` is
    the pseudo-count prior weight — rare keys shrink hard, frequent
    keys keep their own mean). Returns the KEY-LEVEL dictionary
    (key, n, enc) — the bounded relation a training pipeline broadcast-
    joins onto the feature rows; rows with a NULL target are excluded
    from both sums. One map-side-combined grouped aggregate; the global
    mean folds from the SAME relation (sum of sums — no second scan,
    one benign 1-row broadcast). enc rounded 6."""
    y = F.col(target_col).cast("double")
    g = (df.where(y.isNotNull())
           .groupBy(F.col(key_col).alias("key"))
           .agg(F.count("*").cast("bigint").alias("n"),
                F.sum(y).alias("_sy")))
    tot = g.agg((F.sum("_sy") / F.sum("n")).alias("_gm"))
    return (g.crossJoin(F.broadcast(tot))
             .select("key", "n",
                     F.round((F.col("_sy") + F.lit(float(m)) * F.col("_gm"))
                             / (F.col("n") + F.lit(float(m))), 6)
                      .alias("enc")))


def kfold_target_encode(df: DataFrame, key_col: str,
                        target_col: str, fold_col: str,
                        m: float = 10.0) -> DataFrame:
    """LEAKAGE-FREE k-fold target encoding — ``target_encode``'s
    train-time variant: the encoding a row sees excludes its OWN
    fold's targets, so the feature never memorizes the label it will
    be trained against:

        enc(key, fold) = (sum_y(key) - sum_y(key, fold)
                          + m * global_mean)
                         / (n(key) - n(key, fold) + m)

    A key living entirely in one fold degrades to the prior (the
    shrinkage target), exactly as it should. ``fold_col`` is the
    caller's fold assignment (deterministic hash / modulo — keep it
    replayable). ONE grouped (key, fold) aggregate; key totals fold
    from the same relation via a second bounded agg; global mean from
    sums of sums. Output: (key, fold, n_oof, enc rounded 6) — the
    per-fold dictionary a training pipeline broadcast-joins on
    (key, fold)."""
    y = F.col(target_col).cast("double")
    kf = (df.where(y.isNotNull())
            .groupBy(F.col(key_col).alias("key"),
                     F.col(fold_col).cast("bigint").alias("fold"))
            .agg(F.count("*").cast("bigint").alias("_nkf"),
                 F.sum(y).alias("_skf")))
    kf = kf.localCheckpoint()  # shared: key totals + global mean
    kt = kf.groupBy("key").agg(F.sum("_nkf").alias("_nk"),
                               F.sum("_skf").alias("_sk"))
    gm = kf.agg((F.sum("_skf") / F.sum("_nkf")).alias("_gm"))
    mm = F.lit(float(m))
    return (kf.join(F.broadcast(kt), on="key")
              .crossJoin(F.broadcast(gm))
              .select("key", "fold",
                      (F.col("_nk") - F.col("_nkf")).cast("bigint")
                       .alias("n_oof"),
                      F.round((F.col("_sk") - F.col("_skf")
                               + mm * F.col("_gm"))
                              / (F.col("_nk") - F.col("_nkf") + mm), 6)
                       .alias("enc")))


def quantile_normalize(df: DataFrame, group_col: str,
                       val_col: str) -> DataFrame:
    """Quantile normalization across groups — map every group's value
    distribution onto the GLOBAL distribution (the cross-assay /
    cross-tenant feature alignment step): a value at within-group rank
    r of n_g maps to the global value at rank ceil(r * N / n_g).
    TIE-INVARIANT by construction: r is the MIN rank among duplicates
    (SQL RANK semantics) and the global lookup lands inside a run of
    equal values regardless of which duplicate holds the position, so
    the mapping is engine-replayable with no synthetic-id dependence.

    Plan — no per-group windows (a hot group would strand its whole
    rank in one task): ONE `_exact_rank` over the composite
    (group, value, row-id) key gives balanced composite ranks; the
    per-group offset (a bounded grouped MIN) converts them to
    within-group ranks; duplicates collapse to the value level (MIN
    rank); a second `_exact_rank` over (value, row-id) gives the
    global rank -> value lookup joined on the computed target rank.
    Output: (group, value, n, qnorm) — value-level, n = multiplicity."""
    base = df.select(F.col(group_col).cast("string").alias("grp"),
                     F.col(val_col).cast("double").alias("v")) \
             .where(F.col("v").isNotNull())
    stamped = _stamp_row_id(base)
    comp, n_total = _exact_rank(
        stamped, [F.col("grp"), F.col("v"), F.col("_id")], "_cr")
    if n_total == 0:
        return df.sparkSession.createDataFrame(
            [], "grp string, value double, n long, qnorm double")
    comp = comp.localCheckpoint()  # feeds offsets + value collapse
    offs = comp.groupBy("grp").agg(F.min("_cr").alias("_off"),
                                   F.count("*").alias("_ng"))
    vals = (comp.join(F.broadcast(offs), on="grp")
                .groupBy("grp", "v", "_off", "_ng")
                .agg(F.count("*").cast("bigint").alias("n"),
                     F.min("_cr").alias("_crmin"))
                .withColumn("_r", F.col("_crmin") - F.col("_off") + 1)
                # ceil(r*N/n_g) in INTEGER arithmetic (SQL div) — a
                # double division of r*N loses exactness past 2^53
                .withColumn("_t", F.expr(
                    f"(_r * {n_total}L - 1) div _ng") + 1))
    glob, _ = _exact_rank(stamped, [F.col("v"), F.col("_id")], "_gr")
    lookup = glob.select(F.col("_gr").alias("_t"),
                         F.col("v").alias("qnorm"))
    return (vals.join(lookup, on="_t")
                .select("grp", F.col("v").alias("value"), "n", "qnorm"))


def benford_digits(df: DataFrame, value_col: str,
                   scale: int = 100) -> DataFrame:
    """Benford's-law audit of a positive monetary column: observed
    first-significant-digit distribution vs the Benford expectation
    p(d) = log10(1 + 1/d), with per-digit chi-square contributions —
    the classic fabricated-amounts / synthetic-data smell test.

    Cross-engine-exact digit extraction: the value is fixed-pointed to
    an integer (floor(v * scale + 0.5); HALF_UP, the house convention)
    and the leading digit read by integer division with
    10^(decimal-digit-count - 1) — no float log10 at its power-of-ten
    poles. One map-side-combined aggregate over the scan; the expected
    mass and chi-square fold over the 9-row digit relation.
    Output: (digit, n, obs_p, exp_p, chi2_part), floats rounded 6."""
    c = F.floor(F.col(value_col).cast("double") * scale + F.lit(0.5)) \
         .cast("bigint")
    ndig = F.length(c.cast("string"))
    digit = F.floor(c / F.pow(F.lit(10.0), (ndig - 1).cast("double"))) \
             .cast("int")
    counts = (df.select(c.alias("_c"), digit.alias("digit"))
                .where(F.col("_c") > 0)
                .groupBy("digit").agg(F.count("*").alias("n")))
    tot = counts.agg(F.sum("n").cast("double").alias("_t"))
    exp_p = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    e = F.col("_t") * exp_p
    return (counts.crossJoin(F.broadcast(tot))
            .select("digit", F.col("n").cast("bigint").alias("n"),
                    F.round(F.col("n") / F.col("_t"), 6).alias("obs_p"),
                    F.round(exp_p, 6).alias("exp_p"),
                    F.round((F.col("n") - e) * (F.col("n") - e) / e,
                            6).alias("chi2_part")))


def _exact_rank(df: DataFrame, sort_cols: list,
                out_col: str = "_rank") -> tuple[DataFrame, int]:
    """EXACT dense 1..n global rank over the total order given by
    ``sort_cols`` (ascending Column expressions; the trailing column
    must be a per-row tie-break so the composite key is distinct):
    one `_range_scan` counts rows per partition, and rank = partition
    offset + local row_number. Returns (ranked_df, n) with ``out_col``
    added; input columns are preserved."""
    from pyspark.sql.window import Window as W

    tagged, rows = _range_scan(df, sort_cols, F.count("*"))
    offs, (n,) = _exclusive_offsets(rows, 1)
    w = W.partitionBy("_p").orderBy(*sort_cols)
    rank = (_offset_col(offs) + F.row_number().over(w)).cast("bigint")
    return tagged.withColumn(out_col, rank).drop("_p"), n


def _exact_ntile(df: DataFrame, metric: str, ascending: bool,
                 n_tiles: int, out_col: str, key: str = "key",
                 nbins: int = 1024) -> DataFrame:
    """Distributed EXACT NTILE over the total order (metric asc/desc,
    key asc) — no single-task global window and no tie-skew straggler:
    _exact_rank range-partitions on the full (metric, key) sort key,
    so even a 90%-duplicate metric (e.g. RFM frequency = 1) balances
    across partitions (the distinct key splits the tie run). The tile
    falls out of NTILE's closed form (n = q*t + r: first r tiles hold
    q+1 rows). Rows with a NULL metric rank first (Spark nulls-first
    ascending), deterministically tie-broken by key. ``nbins`` is kept
    for signature compatibility; ranking no longer bins on value."""
    v = F.col(metric).cast("double")
    ordv = v if ascending else -v
    ranked, n = _exact_rank(df.withColumn("_ord", ordv),
                            [F.col("_ord"), F.col(key)], "_gr")
    if n == 0:
        return ranked.withColumn(out_col, F.lit(None).cast("int")) \
                     .drop("_ord", "_gr")
    rank = F.col("_gr")
    q, r = divmod(int(n), n_tiles)
    if q == 0:
        tile = rank
    else:
        tile = F.when(rank <= r * (q + 1),
                      F.floor((rank - 1) / (q + 1)) + 1) \
                .otherwise(r + F.floor((rank - r * (q + 1) - 1) / q) + 1)
    return (ranked.withColumn(out_col, tile.cast("int"))
                  .drop("_ord", "_gr"))


def rfm_segments(orders_df: DataFrame, key_col: str = "o_custkey",
                 date_col: str = "o_orderdate",
                 amount_col: str = "o_totalprice",
                 n_tiles: int = 4) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation:
    per-key recency in days from the latest date in the table,
    order count, and amount sum, each scored into n_tiles quantile
    tiles (1 = best) — the standard behavioral-segmentation rollup.

    Determinism: tiles follow fully tie-broken total orders (metric,
    then key), and the monetary sum is rounded to 4 decimals BEFORE
    ordering so a cross-engine ulp in a per-key float sum cannot flip
    two near-equal customers' tiles. Scale shape: one groupBy over the
    orders scan, a 1-row broadcast anchor, then three _exact_ntile
    passes over the per-key relation — range-partitioned ranking, so no
    metric ever funnels through a single-task global window (a raw
    NTILE window over a billion customers is a guaranteed straggler).
    Output: (key, recency_days, frequency, monetary, r, f, m,
    segment); matches SQL NTILE exactly."""
    per = (orders_df.groupBy(F.col(key_col).alias("key"))
           .agg(F.max(F.col(date_col)).alias("_last"),
                F.count("*").cast("bigint").alias("frequency"),
                F.round(F.sum(F.col(amount_col).cast("double")), 4)
                 .alias("monetary")))
    per = per.localCheckpoint()  # shared by the anchor + the tile tail
    # the recency anchor is max(date) over ALL rows == max over keys of
    # the per-key max — read it off the checkpointed per-key relation
    # instead of a SECOND full scan+aggregate of the orders table
    # (guide §2.3: aggregate once, derive downstream facts from the
    # aggregate). Result is identical by the max-of-max identity.
    anchor = per.agg(F.max(F.col("_last")).alias("_anchor"))
    per = (per.crossJoin(F.broadcast(anchor))
              .withColumn("recency_days",
                          F.datediff(F.col("_anchor"), F.col("_last"))
                           .cast("bigint"))
              .drop("_anchor", "_last"))
    # second (cheap, per-key-sized) checkpoint: the three chained
    # _exact_ntile passes re-execute their input lineage several times
    # (per-partition count collects + ranked output), so the broadcast
    # crossJoin tail must be a materialized fact, not a recipe — this
    # is the exact truncation point the pre-r12 code checkpointed; the
    # derived anchor only moved the SCAN out, not the truncation
    per = per.localCheckpoint()
    per = _exact_ntile(per, "recency_days", True, n_tiles, "r")
    per = _exact_ntile(per, "frequency", False, n_tiles, "f")
    per = _exact_ntile(per, "monetary", False, n_tiles, "m")
    return (per.withColumn("segment",
                           F.concat_ws("", F.col("r"), F.col("f"),
                                       F.col("m")))
               .select("key", "recency_days", "frequency", "monetary",
                       "r", "f", "m", "segment"))


def majority_label(ann_df: DataFrame, item_col: str = "item",
                   annotator_col: str = "annotator",
                   label_col: str = "label") -> DataFrame:
    """Annotation aggregation (the label-consolidation step of any
    human/LLM labeling pipeline): per-item majority vote with a
    deterministic (votes desc, label asc) tie-break, vote count, and
    agreement rate (winning votes / annotations).

    Scale shape: one groupBy over the annotations scan; the winner
    window and the per-item total both run over the (item, label) VOTE
    relation — bounded by labels-per-item, never annotation-sized.
    Output: (item, label, votes, n_ann, agreement rounded 6)."""
    from pyspark.sql.window import Window as W

    votes = (ann_df.groupBy(F.col(item_col).alias("item"),
                            F.col(label_col).alias("label"))
                   .agg(F.count("*").cast("bigint").alias("votes")))
    wtot = W.partitionBy("item")
    wrank = W.partitionBy("item").orderBy(F.col("votes").desc(),
                                          F.col("label"))
    return (votes.withColumn("n_ann",
                             F.sum("votes").over(wtot).cast("bigint"))
                 .withColumn("_rk", F.row_number().over(wrank))
                 .where(F.col("_rk") == 1)
                 .select("item", "label", "votes", "n_ann",
                         F.round(F.col("votes") / F.col("n_ann"), 6)
                          .alias("agreement")))


def classification_report(df: DataFrame, truth_col: str,
                          pred_col: str) -> DataFrame:
    """Per-class classification metrics from (truth, pred) pairs: the
    confusion counts reduce to one groupBy, and tp/fp/fn/precision/
    recall/F1 all derive from that bounded classes x classes relation —
    the model-eval rollup (pairs with degenerate denominators yield
    NULL, not NaN). Output: (label, tp, fp, fn, precision, recall, f1),
    floats rounded 6; one row per label seen in truth or pred."""
    cm = (df.groupBy(F.col(truth_col).alias("t"),
                     F.col(pred_col).alias("p"))
            .agg(F.count("*").alias("n")))
    cm = cm.localCheckpoint()  # shared by 3 marginals
    byt = cm.groupBy(F.col("t").alias("label")) \
            .agg(F.sum("n").alias("true_n"))
    byp = cm.groupBy(F.col("p").alias("label")) \
            .agg(F.sum("n").alias("pred_n"))
    tp = (cm.where(F.col("t") == F.col("p"))
            .select(F.col("t").alias("label"), F.col("n").alias("tp")))
    rep = (byt.join(byp, on="label", how="full_outer")
              .join(tp, on="label", how="left")
              .select("label",
                      F.coalesce("tp", F.lit(0)).alias("tp"),
                      (F.coalesce("pred_n", F.lit(0))
                       - F.coalesce("tp", F.lit(0))).alias("fp"),
                      (F.coalesce("true_n", F.lit(0))
                       - F.coalesce("tp", F.lit(0))).alias("fn")))
    prec = F.when(F.col("tp") + F.col("fp") > 0,
                  F.col("tp") / (F.col("tp") + F.col("fp")))
    rec = F.when(F.col("tp") + F.col("fn") > 0,
                 F.col("tp") / (F.col("tp") + F.col("fn")))
    f1 = F.when(prec + rec > 0, 2 * prec * rec / (prec + rec))
    return rep.select("label",
                      F.col("tp").cast("bigint").alias("tp"),
                      F.col("fp").cast("bigint").alias("fp"),
                      F.col("fn").cast("bigint").alias("fn"),
                      F.round(prec, 6).alias("precision"),
                      F.round(rec, 6).alias("recall"),
                      F.round(f1, 6).alias("f1"))


def calibration_bins(df: DataFrame, score_col: str, label_col,
                     n_bins: int = 10) -> DataFrame:
    """Reliability-diagram bins: scores in [0, 1] bucketed into n_bins
    equal-width bins (top edge folded into the last bin), per-bin mean
    score vs observed positive rate — the calibration check for any
    score a pipeline thresholds on. One map-side aggregate. ``label_col``
    may be a Column expression (a boolean). Output:
    (bin, n, mean_score, pos_rate), floats rounded 6."""
    lab = (F.col(label_col) if isinstance(label_col, str)
           else label_col).cast("int")
    s = F.col(score_col).cast("double")
    b = F.least(F.floor(s * n_bins), F.lit(n_bins - 1)).cast("int")
    return (df.select(b.alias("bin"), s.alias("_s"), lab.alias("_l"))
              .groupBy("bin")
              .agg(F.count("*").cast("bigint").alias("n"),
                   F.round(F.avg("_s"), 6).alias("mean_score"),
                   F.round(F.avg("_l"), 6).alias("pos_rate")))


def cumulative_gain(df: DataFrame, score_col: str, label_col,
                    id_col: str = "doc_id",
                    n_tiles: int = 10) -> DataFrame:
    """Cumulative-gains table: rank by score descending into n_tiles
    exact deciles (_exact_ntile — range-partitioned ranking, no global
    window), then per-decile positive counts and the cumulative capture
    rate — 'the top 20% of scores holds X% of the positives', the
    targeting/lift readout. Output:
    (tile, n, n_pos, capture rounded 6)."""
    lab = (F.col(label_col) if isinstance(label_col, str)
           else label_col).cast("int")
    base = df.select(F.col(id_col).alias("key"),
                     F.col(score_col).cast("double").alias("_s"),
                     lab.alias("_l"))
    tiled = _exact_ntile(base, "_s", False, n_tiles, "tile", key="key")
    per = (tiled.groupBy("tile")
                .agg(F.count("*").cast("bigint").alias("n"),
                     F.sum("_l").cast("bigint").alias("n_pos")))
    from pyspark.sql.window import Window as W
    wcum = W.orderBy("tile").rowsBetween(W.unboundedPreceding, 0)
    tot = per.agg(F.sum("n_pos").alias("_t"))
    return (per.crossJoin(F.broadcast(tot))
               .withColumn("capture",
                           F.when(F.col("_t") > 0,
                                  F.round(F.sum("n_pos").over(wcum)
                                          / F.col("_t"), 6)))
               .select("tile", "n", "n_pos", "capture"))


def moments_profile(df: DataFrame, columns: list[str]) -> DataFrame:
    """Higher-moment column profile: skewness and EXCESS kurtosis from
    raw power sums (m_k = E[x^k] - central-moment algebra), NOT the
    engine's built-in skewness/kurtosis — engines disagree on bias
    corrections, the raw-sum closed form is replayable everywhere.
    One aggregation computes every column's four power sums (map-side
    combined); zero-variance columns yield NULL. Output:
    (col, n, mean_v, std_v, skew, kurt), floats rounded 6."""
    aggs = [F.count("*").cast("double").alias("_n")]
    for c in columns:
        v = F.col(c).cast("double")
        aggs += [F.sum(v).alias(f"{c}__1"),
                 F.sum(v * v).alias(f"{c}__2"),
                 F.sum(v * v * v).alias(f"{c}__3"),
                 F.sum(v * v * v * v).alias(f"{c}__4")]
    one = df.agg(*aggs)

    def stats(c):
        n = F.col("_n")
        r1 = F.col(f"{c}__1") / n
        r2 = F.col(f"{c}__2") / n
        r3 = F.col(f"{c}__3") / n
        r4 = F.col(f"{c}__4") / n
        m2 = r2 - r1 * r1
        m3 = r3 - 3 * r1 * r2 + 2 * r1 * r1 * r1
        m4 = (r4 - 4 * r1 * r3 + 6 * r1 * r1 * r2
              - 3 * r1 * r1 * r1 * r1)
        skew = F.when(m2 > 0, F.round(m3 / F.pow(m2, 1.5), 6))
        kurt = F.when(m2 > 0, F.round(m4 / (m2 * m2) - 3.0, 6))
        return F.struct(F.lit(c).alias("col"),
                        n.cast("bigint").alias("n"),
                        F.round(r1, 6).alias("mean_v"),
                        F.when(m2 >= 0, F.round(F.sqrt(m2), 6))
                         .alias("std_v"),
                        skew.alias("skew"), kurt.alias("kurt"))

    arr = F.array(*[stats(c) for c in columns])
    return (one.select(F.explode(arr).alias("s"))
               .select("s.col", "s.n", "s.mean_v", "s.std_v",
                       "s.skew", "s.kurt"))


def ab_test(df: DataFrame, group_col: str, val_col: str,
            group_a, group_b) -> DataFrame:
    """Two-sample z-test on means: per-arm n/mean/sample-variance from
    one aggregate, z = (mean_a - mean_b) / sqrt(va/na + vb/nb), flagged
    significant at |z| > 1.96 (two-sided 5%) — the experiment-readout
    primitive. The z-score compares on the 6-decimal-rounded value so
    both engines flag identically; degenerate variance yields NULL.
    Output: one row (n_a, n_b, mean_a, mean_b, diff, z, significant)."""
    g = F.col(group_col)
    v = F.col(val_col).cast("double")
    one = (df.where(g.isin([group_a, group_b]))
             .agg(*[x for arm, name in ((group_a, "a"), (group_b, "b"))
                    for x in (
                 F.count(F.when(g == arm, 1)).cast("double")
                  .alias(f"n_{name}"),
                 F.sum(F.when(g == arm, v)).alias(f"s_{name}"),
                 F.sum(F.when(g == arm, v * v)).alias(f"q_{name}"))]))
    na, nb = F.col("n_a"), F.col("n_b")
    ma = F.col("s_a") / na
    mb = F.col("s_b") / nb
    va = (F.col("q_a") - na * ma * ma) / (na - 1)
    vb = (F.col("q_b") - nb * mb * mb) / (nb - 1)
    se2 = va / na + vb / nb
    z = F.when((na > 1) & (nb > 1) & (se2 > 0),
               F.round((ma - mb) / F.sqrt(se2), 6))
    return one.select(na.cast("bigint").alias("n_a"),
                      nb.cast("bigint").alias("n_b"),
                      F.round(ma, 6).alias("mean_a"),
                      F.round(mb, 6).alias("mean_b"),
                      F.round(ma - mb, 6).alias("diff"),
                      z.alias("z"),
                      (F.abs(z) > 1.96).alias("significant"))


def exact_weighted_quantiles(df: DataFrame, col: str, weight_col: str,
                             probs: list[float],
                             nbins: int = 1024) -> DataFrame:
    """EXACT weighted quantiles without a global sort: quantile(p) is
    the smallest value whose cumulative weight (in value order) reaches
    ceil(round(p * W, 6)). One `_range_scan` over the tie-broken
    (value, row-id) key sums weights per partition, `_rank_targets`
    locates each target's partition and local remainder on the driver,
    then ONE running-weight window over only the targeted partitions
    reads the answers off. Tie order among equal values cannot change
    the answer (the run's last row always carries the run's full
    cumulative weight). INTEGER weights make the comparison
    engine-exact (integer cumulative sums have no float association
    drift). ``nbins`` is ignored (signature compatibility).
    Output: (p, value) — one row per DISTINCT requested probability
    (a duplicated p would double its partition's rows under the
    running-weight window)."""
    from pyspark.sql.window import Window as W

    probs = list(dict.fromkeys(probs))
    v = F.col(col).cast("double")
    w = F.col(weight_col).cast("long")
    base = _stamp_row_id(df.select(v.alias("_v"), w.alias("_w"))
                           .where(F.col("_w") > 0))
    spark = df.sparkSession
    tagged, rows = _range_scan(base, [F.col("_v"), F.col("_id")],
                               F.sum("_w"))
    want_df = _rank_targets(spark, rows, probs)
    if want_df is None:
        return spark.createDataFrame([], "p double, value double")
    # partition the window by (_p, p): a partition targeted by several
    # probabilities carries one row copy per probability, each with an
    # independent running sum
    wn = (W.partitionBy("_p", "p").orderBy("_v", "_id")
           .rowsBetween(W.unboundedPreceding, 0))
    hit = (tagged.join(F.broadcast(want_df), on="_p")
                 .withColumn("_cw", F.sum("_w").over(wn))
                 .where(F.col("_cw") >= F.col("_lr"))
                 .groupBy("p").agg(F.min("_v").alias("value")))
    return hit.select("p", "value")


def group_quantiles(df: DataFrame, group_col: str, val_col: str,
                    probs: list[float]) -> DataFrame:
    """Per-group EXACT quantiles in long form: one aggregation computes
    every requested percentile per group (Spark's exact ``percentile``,
    which matches SQL quantile_cont — the q70/q137 precedent), exploded
    to (grp, p, value) rows. The group relation is the only shuffle;
    per-probability costs ride the same agg. Output floats rounded 6."""
    aggs = [F.round(F.percentile(F.col(val_col).cast("double"),
                                 F.lit(float(p))), 6).alias(f"_q{i}")
            for i, p in enumerate(probs)]
    one = df.groupBy(F.col(group_col).alias("grp")).agg(*aggs)
    arr = F.array(*[F.struct(F.lit(float(p)).alias("p"),
                             F.col(f"_q{i}").alias("value"))
                    for i, p in enumerate(probs)])
    return (one.select("grp", F.explode(arr).alias("s"))
               .select("grp", "s.p", "s.value"))


def user_growth(df: DataFrame, key_col: str = "user_id",
                ts_col: str = "ts") -> DataFrame:
    """Daily active / new / cumulative-distinct users EXACTLY and
    without sketches: per-key first-seen day is one aggregate, DAU is
    one (day, key)-distinct count, new users come off the first-seen
    relation, and the cumulative distinct count is the running sum of
    new users over the bounded DAY relation (every user is 'new'
    exactly once — no cumulative distinct scan). Output:
    (day, dau, new_users, cum_users)."""
    from pyspark.sql.window import Window as W

    d = F.to_date(F.col(ts_col))
    dau = (df.select(d.alias("_d"), F.col(key_col).alias("k"))
             .distinct()
             .groupBy("_d").agg(F.count("*").cast("bigint").alias("dau")))
    first = (df.groupBy(F.col(key_col).alias("k"))
               .agg(F.min(d).alias("_d")))
    new = first.groupBy("_d").agg(F.count("*").cast("bigint")
                                  .alias("new_users"))
    wc = W.orderBy("_d").rowsBetween(W.unboundedPreceding, 0)
    return (dau.join(new, on="_d", how="left")
               .withColumn("new_users",
                           F.coalesce("new_users", F.lit(0)))
               .withColumn("cum_users",
                           F.sum("new_users").over(wc).cast("bigint"))
               .select(F.date_format("_d", "yyyy-MM-dd").alias("day"),
                       "dau", "new_users", "cum_users"))


def chi2_independence(df: DataFrame, col_a: str, col_b: str,
                      weight_col: str | None = None) -> DataFrame:
    """Chi-square test of independence between two categorical columns:
    one contingency groupBy, marginals + expected counts + the statistic
    all on the bounded |A| x |B| cell relation. EMPTY cells (observed 0,
    expected > 0) are never materialized — their contribution
    (0 - e)^2 / e = e folds in closed form as N - sum(e over observed
    cells). Output: one row (n, card_a, card_b, dof, chi2 rounded 6) —
    compare chi2 against the chi-square(dof) critical value of your
    chosen alpha.

    ``weight_col``: treat each input row as ``weight`` occurrences
    (an integer pre-count). Summing pre-counts is bit-identical to
    counting rows (exact integer addition), so a caller holding a
    shared pre-aggregated contingency (``cramers_v``) gets the same
    statistic from one input pass."""
    agg = (F.count("*") if weight_col is None
           else F.sum(weight_col))
    cells = (df.groupBy(F.col(col_a).alias("a"), F.col(col_b).alias("b"))
               .agg(agg.cast("double").alias("n")))
    cells = cells.localCheckpoint()  # shared: marginals + statistic
    ra = cells.groupBy("a").agg(F.sum("n").alias("ra"))
    cb = cells.groupBy("b").agg(F.sum("n").alias("cb"))
    tot = cells.agg(F.sum("n").alias("nn"))
    j = (cells.join(F.broadcast(ra), on="a")
              .join(F.broadcast(cb), on="b")
              .crossJoin(F.broadcast(tot)))
    e = F.col("ra") * F.col("cb") / F.col("nn")
    contrib = (F.col("n") - e) * (F.col("n") - e) / e
    return (j.agg(F.first("nn").cast("bigint").alias("n"),
                  F.count_distinct("a").alias("card_a"),
                  F.count_distinct("b").alias("card_b"),
                  F.round(F.sum(contrib)
                          + (F.first("nn") - F.sum(e)), 6).alias("chi2"))
             .select("n",
                     F.col("card_a").cast("bigint").alias("card_a"),
                     F.col("card_b").cast("bigint").alias("card_b"),
                     ((F.col("card_a") - 1) * (F.col("card_b") - 1))
                     .cast("bigint").alias("dof"),
                     "chi2"))


def mutual_information(df: DataFrame, col_a: str,
                       col_b: str) -> DataFrame:
    """Mutual information (nats) between two categorical columns, plus
    the sqrt-normalized variant NMI = MI / sqrt(H_a · H_b) — the
    feature-association screen that, unlike correlation, catches
    non-linear and non-ordinal dependence. Every term is count
    arithmetic over the contingency relation:

        MI = Σ_ab (n_ab/N) · ln(n_ab·N / (n_a·n_b))

    Plan (r8: ZERO crossJoins — every former 1-row total rides inside
    ONE aggregate): contingency count (chi2_independence's shape),
    checkpointed and reused for both marginals; two broadcast marginal
    joins; then a SINGLE aggregate over the joined cells computes
    everything, because the marginal-entropy sums collapse to
    cell-level sums via na = Σ_b n_ab:

        Σ_a na·ln(na) = Σ_cells n·ln(na)   (same for b)
        MI·N = Σ n·ln n + N·ln N - Σ n·ln na - Σ n·ln nb
        H_a  = ln N - Σ n·ln(na) / N

    Rows where either column is NULL are excluded. Output:
    (n, card_a, card_b, mi, nmi), rounded 6; NMI is NULL when either
    column is constant (card == 1 — an INTEGER guard, engine-exact
    where a float H > 0 test could sign-flip on summation-order ulps
    near zero)."""
    cells = (df.where(F.col(col_a).isNotNull()
                      & F.col(col_b).isNotNull())
               .groupBy(F.col(col_a).alias("a"), F.col(col_b).alias("b"))
               .agg(F.count("*").alias("n")))
    cells = cells.localCheckpoint(eager=True)
    ra = cells.groupBy("a").agg(F.sum("n").alias("na"))
    cb = cells.groupBy("b").agg(F.sum("n").alias("nb"))
    one = (cells.join(F.broadcast(ra), on="a")
                .join(F.broadcast(cb), on="b")
                .agg(F.sum("n").alias("_n0"),
                     F.sum(F.col("n") * F.log("n")).alias("_s1"),
                     F.sum(F.col("n") * F.log("na")).alias("_s2"),
                     F.sum(F.col("n") * F.log("nb")).alias("_s3"),
                     F.count_distinct("a").alias("card_a"),
                     F.count_distinct("b").alias("card_b")))
    nn = F.col("_n0").cast("double")
    mi_ = (F.col("_s1") + nn * F.log(nn)
           - F.col("_s2") - F.col("_s3")) / nn
    ha = F.log(nn) - F.col("_s2") / nn
    hb = F.log(nn) - F.col("_s3") / nn
    return (one.where(F.col("_n0").isNotNull())
               .select(F.col("_n0").cast("bigint").alias("n"),
                       F.col("card_a").cast("bigint").alias("card_a"),
                       F.col("card_b").cast("bigint").alias("card_b"),
                       F.round(mi_, 6).alias("mi"),
                       F.when((F.col("card_a") > 1)
                              & (F.col("card_b") > 1),
                              F.round(mi_ / F.sqrt(ha * hb), 6))
                        .alias("nmi")))


def anova(df: DataFrame, group_col: str, val_col: str) -> DataFrame:
    """One-way ANOVA F statistic across k groups — ab_test's k-group
    generalization, from per-group power sums only (no residual pass):

        SSB = Σ_g n_g·(m_g - m)²,  SSW = Σ_g (s2_g - n_g·m_g²),
        F = (SSB/(k-1)) / (SSW/(n-k))

    One map-side-combined grouped aggregate, then a 1-row fold.
    Output: (n, k, ss_between, ss_within, f_stat); the sums of squares
    round to 2 decimals (their magnitude is ~N·v² — 6-decimal rounding
    of a ~1e11 double sits below the reorder ulps), F to 6 (a ratio,
    relative error stays tiny); F is NULL when k < 2 or SSW = 0 (compare against the F(k-1, n-k)
    critical value of your chosen alpha)."""
    v = F.col(val_col).cast("double")
    g = (df.where(v.isNotNull())
           .groupBy(F.col(group_col).alias("grp"))
           .agg(F.count("*").cast("double").alias("ng"),
                F.sum(v).alias("sg"),
                F.sum(v * v).alias("qg")))
    one = g.agg(F.sum("ng").alias("n"), F.count("*").alias("k"),
                F.sum("sg").alias("s"),
                F.sum(F.col("qg") - F.col("sg") * F.col("sg")
                      / F.col("ng")).alias("ssw"),
                F.sum(F.col("sg") * F.col("sg") / F.col("ng"))
                 .alias("_sq"))
    ssb = F.col("_sq") - F.col("s") * F.col("s") / F.col("n")
    f = (ssb / (F.col("k") - 1)) / (F.col("ssw") / (F.col("n")
                                                    - F.col("k")))
    return one.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("k").cast("bigint").alias("k"),
        F.round(ssb, 2).alias("ss_between"),
        F.round("ssw", 2).alias("ss_within"),
        F.when((F.col("k") > 1) & (F.col("ssw") > 0) & (F.col("n")
                                                        > F.col("k")),
               F.round(f, 6)).alias("f_stat"))


def gini_coefficient(df: DataFrame, val_col: str,
                     decimal_scale: int | None = None) -> DataFrame:
    """EXACT Gini concentration coefficient of a nonnegative measure:
    G = 2 * sum(rank_i * x_i) / (n * sum(x)) - (n + 1) / n over the
    ascending-sorted values — computed WITHOUT a global sort via the
    range-partitioned exact rank (_exact_rank: partition on the full
    (value, row-id) sort key, so a 90%-constant value still balances
    across partitions; sum(rank * x) is invariant to tie order among
    equal values, so the synthetic row-id tie-break is correct).

    ``decimal_scale``: when the values are known to carry at most this
    many decimal digits (e.g. 4-decimal currency), pass it and both
    ``total`` and ``sum(rank*x)`` are accumulated as DECIMAL — exact
    and SHUFFLE-ORDER-INVARIANT. Without it the sums are doubles, whose
    low bits depend on reduction order, so ``total`` is only reported
    to 2 decimals (a 1e10-magnitude double sum cannot support 6-decimal
    run-to-run stability — the r8 q174 lesson). ``gini`` itself is a
    ~O(1) ratio, stable at 6 decimals either way.
    Output: one row (n, total, gini), HALF_UP rounded."""
    v = F.col(val_col).cast("double")
    base = df.select(v.alias("_v")).where(F.col("_v") >= 0)
    if decimal_scale is not None:
        # decimal(27, s) value; rank fits decimal(10, 0) up to n=1e10;
        # product decimal(38, s) — order-invariant integer arithmetic.
        vd = F.col("_v").cast(f"decimal(27,{decimal_scale})")
        rk = F.col("_r").cast("decimal(10,0)")
    else:
        vd, rk = F.col("_v"), F.col("_r")
    n, tot, lo, hi = base.agg(F.count("*"), F.sum(vd), F.min("_v"),
                              F.max("_v")).collect()[0]
    spark = df.sparkSession
    tot_out = (float(tot) if decimal_scale is not None
               else round(float(tot), 2)) if tot else 0.0
    if not n or not tot:
        return spark.createDataFrame(
            [(int(n or 0), tot_out, None)],
            "n long, total double, gini double")
    if hi == lo:
        return spark.createDataFrame([(int(n), tot_out, 0.0)],
                                     "n long, total double, gini double")
    ranked, _ = _exact_rank(_stamp_row_id(base),
                            [F.col("_v"), F.col("_id")], "_r")
    s = ranked.agg(F.sum(rk * vd).alias("_srx")).collect()[0][0]
    # identical association to the oracle SQL; inputs are exact under
    # decimal_scale, so g is bit-identical cross-engine there
    g = 2.0 * float(s) / (n * float(tot)) - (n + 1.0) / n
    # HALF_UP (g >= 0), matching SQL ROUND — not banker's round()
    g6 = math.floor(g * 1e6 + 0.5) / 1e6
    return spark.createDataFrame(
        [(int(n), tot_out, g6)],
        "n long, total double, gini double")


def column_entropy(df: DataFrame, columns: list[str]) -> DataFrame:
    """Per-column Shannon entropy of the value distribution (nats) and
    the normalized variant H / ln(k) — the cardinality-quality screen
    of a profiling pass (a column whose normalized entropy ~0 is
    near-constant; ~1 is uniform). NULLs are excluded from the
    distribution and reported separately.

    Plan: every column melts into one narrow (col, value) relation in a
    single projection, ONE map-side-combined grouped count feeds the
    per-column entropy aggregate — no per-column jobs. Output:
    (col, n, n_null, n_distinct, entropy, norm_entropy), floats rounded
    6; norm_entropy is NULL for single-valued columns (ln(1) = 0)."""
    pairs = F.array(*[
        F.struct(F.lit(c).alias("col"),
                 F.col(c).cast("string").alias("value"))
        for c in columns])
    melted = df.select(F.explode(pairs).alias("_m")) \
               .select("_m.col", "_m.value")
    counts = (melted.where(F.col("value").isNotNull())
                    .groupBy("col", "value")
                    .agg(F.count("*").alias("cnt")))
    nulls = (melted.groupBy("col")
                   .agg(F.sum(F.col("value").isNull().cast("bigint"))
                         .alias("n_null")))
    per = (counts.groupBy("col")
                 .agg(F.sum("cnt").alias("n"),
                      F.count("*").alias("k"),
                      F.sum(F.col("cnt") * F.log("cnt")).alias("_clc")))
    # H = ln(n) - sum(c ln c)/n (exactly the -sum p ln p expansion,
    # but every aggregate term is count arithmetic the oracle replays)
    h = F.log("n") - F.col("_clc") / F.col("n")
    # LEFT join FROM nulls (it carries every column): an all-NULL
    # column surfaces as (n NULL, n_null, n_distinct 0) instead of
    # silently dropping — the shape the SQL oracle produces
    return (nulls.join(per, on="col", how="left")
                 .select("col", F.col("n").cast("bigint").alias("n"),
                         F.col("n_null").cast("bigint").alias("n_null"),
                         F.coalesce(F.col("k"), F.lit(0))
                          .cast("bigint").alias("n_distinct"),
                         F.round(h, 6).alias("entropy"),
                         F.when(F.col("k") > 1,
                                F.round(h / F.log("k"), 6))
                          .alias("norm_entropy")))


def robust_scale(df: DataFrame, group_col: str, val_col: str) -> DataFrame:
    """Median/IQR standardization per group: scaled = (x - median) /
    (p75 - p25) — the outlier-robust feature scaler (sklearn's
    RobustScaler, grouped). Exact percentiles via one grouped
    aggregate, broadcast back; median and IQR round to 6 decimals
    BEFORE the division (cross-engine percentile interpolation ulps),
    and zero-IQR groups yield NULL (engines disagree on x/0). Output:
    every input row + (med, iqr, scaled r6)."""
    v = F.col(val_col).cast("double")
    stats = (df.groupBy(F.col(group_col).alias("_grp"))
               .agg(F.round(F.percentile(v, F.lit(0.5)), 6).alias("med"),
                    F.round(F.percentile(v, F.lit(0.75))
                            - F.percentile(v, F.lit(0.25)), 6)
                     .alias("iqr")))
    out = df.join(F.broadcast(stats),
                  on=F.col(group_col).eqNullSafe(F.col("_grp"))) \
            .drop("_grp")
    scaled = F.when(F.col("iqr") != 0,
                    F.round((v - F.col("med")) / F.col("iqr"), 6))
    return out.withColumn("scaled", scaled)


def psi(ref_df: DataFrame, cur_df: DataFrame, col: str,
        lo: float, hi: float, n_bins: int = 10) -> DataFrame:
    """Population stability index between a reference and a current
    distribution of ``col`` — the standard model-monitoring drift
    screen (PSI < 0.1 stable, > 0.25 shifted). Explicit [lo, hi)
    bounds with n_bins equi-width bins (out-of-range values clamp to
    the edge bins, the same contract as ``histogram``); per-bin
    contribution (p_cur - p_ref)·ln(p_cur/p_ref), NULL when either
    side's bin is empty (ln(0) — engines disagree; the NULL count is
    itself the drift signal for vanished/new bins).

    Plan: one map-side-combined grouped count per side, a tiny
    full-outer bin join, 1-row totals broadcast in. Output:
    (bin, n_ref, n_cur, p_ref, p_cur, contrib), floats rounded 6;
    SUM(contrib) over non-NULL rows is the PSI."""
    if hi <= lo:
        raise ValueError(f"psi: hi ({hi}) must be > lo ({lo})")
    if n_bins < 1:
        raise ValueError(f"psi: n_bins must be >= 1, got {n_bins}")
    def binned(df):
        return (df.where(F.col(col).isNotNull())
                  .groupBy(_clamped_bin(col, lo, hi, n_bins)
                           .alias("bin"))
                  .agg(F.count("*").alias("n")))
    r = binned(ref_df).select("bin", F.col("n").alias("n_ref"))
    c = binned(cur_df).select("bin", F.col("n").alias("n_cur"))
    j = r.join(c, on="bin", how="full_outer") \
         .select("bin", F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
                 F.coalesce("n_cur", F.lit(0)).alias("n_cur"))
    tot = j.agg(F.sum("n_ref").cast("double").alias("_tr"),
                F.sum("n_cur").cast("double").alias("_tc"))
    # try_divide: an entirely-empty side yields NULL shares instead of
    # an ANSI DIVIDE_BY_ZERO
    p_ref = F.try_divide(F.col("n_ref"), F.col("_tr"))
    p_cur = F.try_divide(F.col("n_cur"), F.col("_tc"))
    contrib = F.when((F.col("n_ref") > 0) & (F.col("n_cur") > 0),
                     F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6))
    return (j.crossJoin(F.broadcast(tot))
             .select("bin", F.col("n_ref").cast("bigint").alias("n_ref"),
                     F.col("n_cur").cast("bigint").alias("n_cur"),
                     F.round(p_ref, 6).alias("p_ref"),
                     F.round(p_cur, 6).alias("p_cur"),
                     contrib.alias("contrib")))


def ks_test(df_a: DataFrame, df_b: DataFrame, col: str) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov statistic
    D = max over x of |F_a(x) - F_b(x)| — the distribution-shift test
    that, unlike psi, needs no binning choice. NULLs are excluded.

    Distributed-exact without a global sort: both samples collapse to
    ONE distinct-value relation with per-side counts (map-side
    combined), whose cumulative sums are one two-column `_prefix_sum`
    over the value (distinct values are a tie-free sort key). D
    evaluates at every distinct value (the CDF steps only there).
    Output: one row (n_a, n_b, d_stat r6)."""
    def counted(df, name):
        v = F.col(col).cast("double")
        return (df.where(v.isNotNull())
                  .groupBy(v.alias("v"))
                  .agg(F.count("*").alias(name)))
    rel = (counted(df_a, "ca").join(counted(df_b, "cb"),
                                    on="v", how="full_outer")
           .select("v", F.coalesce("ca", F.lit(0)).alias("ca"),
                   F.coalesce("cb", F.lit(0)).alias("cb")))
    return _ks_from_rel(rel)


def ks_test_tagged(df: DataFrame, col: str, a_cond) -> DataFrame:
    """One-scan form of `ks_test` for the common split-one-table
    case: rows where ``a_cond`` is TRUE are sample A, rows where it
    is FALSE are sample B (NULL-condition rows belong to neither,
    exactly like the two-filter form). Output is identical to
    ``ks_test(df.where(a_cond), df.where(~a_cond), col)`` — the
    per-distinct-value (ca, cb) relation is the same multiset — but
    built with ONE scan + ONE grouped aggregate instead of two
    filtered scans + two aggregates + a full-outer join
    (guide §2.3 aggregate-before-shuffle / §2.4 shared exchange)."""
    v = F.col(col).cast("double")
    rel = (df.where(v.isNotNull() & a_cond.isNotNull())
             .groupBy(v.alias("v"))
             .agg(F.sum(F.when(a_cond, 1).otherwise(0))
                   .cast("bigint").alias("ca"),
                  F.sum(F.when(a_cond, 0).otherwise(1))
                   .cast("bigint").alias("cb")))
    # a value seen only on one side still gets a row with the other
    # side's count 0 — same relation the full-outer+coalesce builds
    return _ks_from_rel(rel)


def _ks_from_rel(rel: DataFrame) -> DataFrame:
    """Shared KS tail over the distinct-value (v, ca, cb) relation:
    both CDFs are one two-column `_prefix_sum` over v (distinct, so a
    tie-free sort key), D read off in one pass."""
    spark = rel.sparkSession
    pref, (n_a, n_b) = _prefix_sum(rel, [F.col("v")], ["ca", "cb"],
                                   ["_ea", "_eb"])
    if not n_a or not n_b:
        return spark.createDataFrame(
            [(int(n_a), int(n_b), None)],
            "n_a long, n_b long, d_stat double")
    fa = (F.col("_ea") + F.col("ca")) / F.lit(float(n_a))
    fb = (F.col("_eb") + F.col("cb")) / F.lit(float(n_b))
    # round IN-PLAN (F.round = HALF_UP, the suite's cross-engine
    # discipline; Python round() is half-to-even) — rounding is
    # monotone, so max(round(x)) == round(max(x))
    d = (pref.select(F.round(F.abs(fa - fb), 6).alias("_d"))
             .agg(F.max("_d").alias("d")).collect()[0]["d"])
    return spark.createDataFrame(
        [(int(n_a), int(n_b), float(d))],
        "n_a long, n_b long, d_stat double")


def reconcile(left: DataFrame, right: DataFrame, keys: list[str],
              compare_cols: list[str]) -> DataFrame:
    """Dataset reconciliation report — the migration/backfill
    sign-off check ("did the new pipeline produce the same table?"):
    FULL OUTER join on ``keys``, then one aggregate counting rows
    only-left / only-right / matched / differing, plus a per-column
    null-safe mismatch count over the both-sides rows.

    Plan: ONE full-outer shuffle join on the key columns and ONE
    aggregate — per-column counts ride as conditional sums, never
    per-column jobs. Comparison is null-safe (NULL == NULL matches;
    NULL vs value differs). Output long-form:
    (kind, item, n) with kind in ('status', 'col_diff')."""
    lk = [F.col(f"l.{k}") for k in keys]
    rk = [F.col(f"r.{k}") for k in keys]
    cond = None
    for a, b in zip(lk, rk):
        c = a.eqNullSafe(b) & a.isNotNull()
        cond = c if cond is None else (cond & c)
    j = left.alias("l").join(right.alias("r"), cond, "full_outer")
    on_left = F.col(f"l.{keys[0]}").isNotNull()
    on_right = F.col(f"r.{keys[0]}").isNotNull()
    col_diff = [
        F.sum(F.when(on_left & on_right
                     & ~F.col(f"l.{c}").eqNullSafe(F.col(f"r.{c}")),
                     1).otherwise(0)).cast("bigint").alias(f"_d_{c}")
        for c in compare_cols]
    all_match = None
    for c in compare_cols:
        m = F.col(f"l.{c}").eqNullSafe(F.col(f"r.{c}"))
        all_match = m if all_match is None else (all_match & m)
    one = j.agg(
        F.sum(F.when(on_left & ~on_right, 1).otherwise(0))
         .cast("bigint").alias("_only_left"),
        F.sum(F.when(on_right & ~on_left, 1).otherwise(0))
         .cast("bigint").alias("_only_right"),
        F.sum(F.when(on_left & on_right & all_match, 1).otherwise(0))
         .cast("bigint").alias("_match"),
        F.sum(F.when(on_left & on_right & ~all_match, 1).otherwise(0))
         .cast("bigint").alias("_diff"),
        *col_diff)
    rows = [("status", "only_left", "_only_left"),
            ("status", "only_right", "_only_right"),
            ("status", "match", "_match"),
            ("status", "diff", "_diff")] + [
            ("col_diff", c, f"_d_{c}") for c in compare_cols]
    return one.select(F.explode(F.array(*[
        F.struct(F.lit(kind).alias("kind"), F.lit(item).alias("item"),
                 F.col(src_col).alias("n"))
        for kind, item, src_col in rows])).alias("_r")) \
        .select("_r.kind", "_r.item", "_r.n")


def woe_iv(df: DataFrame, cat_col: str, target_col,
           alpha: float = 0.5) -> DataFrame:
    """Weight of Evidence / Information Value per category of a
    categorical feature against a binary target — the classic
    credit-scoring / feature-screening statistic:

        WOE_c = ln( (pos_c + a) / (pos + a*k) /
                    ((neg_c + a) / (neg + a*k)) )
        IV_c  = (pos_c/pos - neg_c/neg) * WOE_c

    with Laplace smoothing ``alpha`` so empty cells stay finite (the
    unsmoothed IV shares stay raw — standard practice). ONE grouped
    count per category plus a broadcast 1-row total. ``target_col``
    is a Column expression or name evaluating to boolean/0-1.
    Output: (category, n, n_pos, n_neg, woe, iv_term), rounded 6."""
    t = F.col(target_col) if isinstance(target_col, str) else target_col
    cells = (df.groupBy(F.col(cat_col).cast("string").alias("category"))
               .agg(F.count("*").cast("bigint").alias("n"),
                    F.sum(F.when(t.cast("boolean"), 1).otherwise(0))
                     .cast("bigint").alias("n_pos")))
    cells = cells.withColumn("n_neg", F.col("n") - F.col("n_pos"))
    tot = cells.agg(F.sum("n_pos").alias("_tp"),
                    F.sum("n_neg").alias("_tn"),
                    F.count("*").alias("_k"))
    jt = cells.crossJoin(F.broadcast(tot))
    a = F.lit(float(alpha))
    pr = (F.col("n_pos") + a) / (F.col("_tp") + a * F.col("_k"))
    nr = (F.col("n_neg") + a) / (F.col("_tn") + a * F.col("_k"))
    woe = F.log(pr / nr)
    share = (F.col("n_pos") / F.col("_tp")
             - F.col("n_neg") / F.col("_tn"))
    return jt.select("category", "n", "n_pos", "n_neg",
                     F.round(woe, 6).alias("woe"),
                     F.round(share * woe, 6).alias("iv_term"))


def cramers_v(df: DataFrame, cols: list[str]) -> DataFrame:
    """Cramér's V association matrix over a list of categorical
    columns — the categorical analogue of the correlation matrix
    (q104): for every unordered pair, V = sqrt(chi2 / (n * (min(r, c)
    - 1))), with chi2 from ``chi2_independence``'s closed form (empty
    contingency cells fold as N - sum(e); never materialized).

    Plan (r12, guide §2.3 "aggregate before you shuffle"): ONE joint
    contingency pass over the input — ``groupBy(*cols).count()``, a
    relation bounded by the distinct combinations present — then every
    pairwise chi2 re-aggregates that bounded relation through
    ``chi2_independence(weight_col=...)`` (summing the joint
    pre-counts is bit-identical to counting rows). Before r12 each of
    the len(cols)-choose-2 pairs re-scanned and re-shuffled the full
    input; now the input is read once and the joint relation is
    size-gate materialized (lazy below the threshold, one shuffle +
    N cheap re-reads at scale). The pair loop runs over the column
    LIST, never over data. V is NULL when a column is constant
    (min(r, c) = 1: dof 0, engines disagree on 0/0). Output:
    (col_a, col_b, n, chi2, v rounded 6) with col_a < col_b
    lexicographically."""
    if len(cols) < 2:
        raise ValueError("cramers_v needs at least two columns")
    from .materialize import materialize_if_large
    joint = materialize_if_large(
        df.groupBy(*[F.col(c) for c in cols])
          .agg(F.count("*").cast("bigint").alias("_w")))
    parts = []
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            a, b = sorted((cols[i], cols[j]))
            one = chi2_independence(joint, a, b, weight_col="_w").select(
                F.lit(a).alias("col_a"), F.lit(b).alias("col_b"),
                "n", "chi2",
                F.when(F.least("card_a", "card_b") > 1,
                       F.round(F.sqrt(F.col("chi2")
                                      / (F.col("n")
                                         * (F.least("card_a", "card_b")
                                            - 1))), 6)).alias("v"))
            parts.append(one)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def benjamini_hochberg(df: DataFrame, key_col: str, p_col: str,
                       alpha: float = 0.05) -> DataFrame:
    """Benjamini-Hochberg FDR step-up over a relation of hypotheses:
    rank the m p-values ascending (ties break by key — deterministic),
    find the largest rank k with p_(k) <= k/m * alpha, and reject
    hypotheses 1..k. The multiple-testing correction every
    metric-sweep / A-B-battery readout needs before acting on its
    smallest p-value.

    Plan: the rank comes from ``_exact_rank`` (range-partitioned on
    the full (p, key) sort key — NO single-task global window, so a
    genome-scale m of millions of hypotheses still balances), then a
    one-row max-k aggregate broadcast back. All comparisons are on
    exact inputs: crit = rank * alpha / m is the same double in any
    engine (integer rank, literal alpha).
    Output: (key, p, rank, crit rounded 9, reject)."""
    # _pv, not _p: _exact_rank uses _p internally for its partition id
    base = df.select(F.col(key_col).cast("string").alias("key"),
                     F.col(p_col).cast("double").alias("_pv"))
    ranked, m_val = _exact_rank(base, [F.col("_pv"), F.col("key")],
                                "rank")
    if m_val == 0:
        return df.sparkSession.createDataFrame(
            [], "key string, p double, rank long, crit double, "
                "reject boolean")
    ranked = ranked.withColumn("crit", F.col("rank") * F.lit(alpha)
                               / F.lit(float(m_val)))
    kmax = (ranked.where(F.col("_pv") <= F.col("crit"))
                  .agg(F.coalesce(F.max("rank"), F.lit(0))
                        .alias("_k")))
    return (ranked.crossJoin(F.broadcast(kmax))
                  .select("key", F.col("_pv").alias("p"), "rank",
                          F.round("crit", 9).alias("crit"),
                          (F.col("rank") <= F.col("_k")).alias("reject")))


def mad_outliers(df: DataFrame, group_col: str, val_col: str,
                 k: float = 3.5) -> DataFrame:
    """Robust per-group outlier counts via the median absolute
    deviation: modified z = 0.6745 * (x - median) / MAD, flagged at
    |z| > k (Iglewicz-Hoaglin) — the outlier rule that, unlike q119's
    z-score, a single extreme value cannot drag. Two grouped exact
    percentiles (median, then MAD on the broadcast-joined deviations),
    both rounded 6 before the flag compare. Groups with MAD = 0 report
    0 outliers (the rule is undefined there; documented). Output:
    (grp, n, med, mad, n_outliers)."""
    v = F.col(val_col).cast("double")
    med = (df.groupBy(F.col(group_col).alias("grp"))
             .agg(F.round(F.percentile(v, F.lit(0.5)), 6).alias("med")))
    dev = (df.select(F.col(group_col).alias("grp"), v.alias("_x"))
             .join(F.broadcast(med), on="grp")
             .withColumn("_d", F.abs(F.col("_x") - F.col("med"))))
    mad = (dev.groupBy("grp")
              .agg(F.round(F.percentile(F.col("_d"), F.lit(0.5)), 6)
                    .alias("mad")))
    z = F.lit(0.6745) * (F.col("_x") - F.col("med")) / F.col("mad")
    flag = (F.col("mad") > 0) & (F.abs(F.round(z, 6)) > k)
    return (dev.join(F.broadcast(mad), on="grp")
               .groupBy("grp")
               .agg(F.count("*").cast("bigint").alias("n"),
                    F.first("med").alias("med"),
                    F.first("mad").alias("mad"),
                    F.sum(flag.cast("bigint")).cast("bigint")
                     .alias("n_outliers")))


def key_skew(df: DataFrame, key_col: str, top_n: int = 5) -> DataFrame:
    """Join/shuffle-key skew diagnostics: the report to run BEFORE a
    big join — per-key counts (one map-side agg), the top_n hottest
    keys with their row share, and the corpus-level skew ratio
    (hottest / mean count, the straggler multiplier a plain hash
    partition would suffer). Distributed TakeOrdered for the top keys;
    the summary aggregate folds the bounded key-count relation.
    Output: (rank, key, n, share, skew), floats rounded 6."""
    counts = (df.groupBy(F.col(key_col).cast("string").alias("key"))
                .agg(F.count("*").cast("bigint").alias("n")))
    counts = counts.localCheckpoint()  # shared: summary + top-N
    summ = counts.agg((F.max("n") / F.avg("n")).alias("_skew"),
                      F.sum("n").cast("double").alias("_rows"))
    top = counts.orderBy(F.col("n").desc(), "key").limit(top_n)
    from pyspark.sql.window import Window as W
    wr = W.orderBy(F.col("n").desc(), "key")
    return (top.crossJoin(F.broadcast(summ))
               .withColumn("rank", F.row_number().over(wr).cast("int"))
               .select("rank", "key", "n",
                       F.round(F.col("n") / F.col("_rows"), 6)
                        .alias("share"),
                       F.round(F.col("_skew"), 6).alias("skew")))


def winsorize(df: DataFrame, group_col: str, val_col: str,
              lo: float = 0.01, hi: float = 0.99) -> DataFrame:
    """Per-group winsorization: clip values to the group's exact
    [lo, hi] percentiles (the outlier repair that keeps row count,
    unlike filtering) — one grouped percentile aggregate broadcast
    back, one clip expression. Bounds rounded 6 before the clip so
    both engines cut identically. Adds (v_clip, clipped)."""
    v = F.col(val_col).cast("double")
    b = (df.groupBy(F.col(group_col).alias("_g"))
           .agg(F.round(F.percentile(v, F.lit(float(lo))), 6).alias("_lo"),
                F.round(F.percentile(v, F.lit(float(hi))), 6).alias("_hi")))
    out = (df.join(F.broadcast(b),
                   on=F.col(group_col) == F.col("_g"))
             .drop("_g"))
    clip = F.least(F.greatest(v, F.col("_lo")), F.col("_hi"))
    return (out.withColumn("v_clip", F.round(clip, 6))
               .withColumn("clipped", (v < F.col("_lo"))
                                      | (v > F.col("_hi")))
               .drop("_lo", "_hi"))


def _prefix_sum(df: DataFrame, sort_cols: list, val_col,
                out_col="_psum"):
    """EXCLUSIVE prefix sum of one or several integral ``val_col``s
    over the total order given by ``sort_cols``: one `_range_scan`
    sums every column per partition, `_exclusive_offsets` turns those
    into partition offsets, and each row's prefix = its partition
    offset + an intra-partition running window. Several columns share
    the one range shuffle and one window pass (pr_auc needs two
    running totals).

    Preconditions: the sort key must be DISTINCT (ties would make the
    order, hence the prefixes, partition-dependent), and the values
    sum as int64 — a partition sum, offset or prefix past 2^63 - 1
    raises ARITHMETIC_OVERFLOW instead of wrapping (in the plan under
    Spark's default ANSI mode, in `_exclusive_offsets` on the driver).

    Returns (df + out_col(s), totals): the exact driver-side total
    of each column — an int for one ``val_col``, a list for several."""
    from pyspark.sql.window import Window as W

    single = isinstance(val_col, str)
    cols = [val_col] if single else list(val_col)
    outs = [out_col] if single else list(out_col)
    assert len(cols) == len(outs)
    vals = [F.col(c).cast("bigint") for c in cols]
    tagged, rows = _range_scan(df, sort_cols, *[F.sum(v) for v in vals])
    offs, totals = _exclusive_offsets(rows, len(cols))
    w = (W.partitionBy("_p").orderBy(*sort_cols)
          .rowsBetween(W.unboundedPreceding, -1))
    for i, (v, o) in enumerate(zip(vals, outs)):
        run = F.coalesce(F.sum(v).over(w), F.lit(0))
        tagged = tagged.withColumn(
            o, (_offset_col(offs, i) + run).cast("bigint"))
    return tagged.drop("_p"), (totals[0] if single else totals)


def roc_auc(df: DataFrame, score_col: str, label_col) -> DataFrame:
    """EXACT ROC AUC (Mann-Whitney U with the average-rank tie rule)
    of a numeric score against a 0/1 label — the ranking-quality
    scalar every classifier/filter eval needs. ``label_col`` may be a
    column name or a boolean Column expression.

    AUC = P(score_pos > score_neg) + P(tie)/2. Plan: ONE grouped
    aggregate per DISTINCT score -> (pos, neg) counts, then the
    range-partitioned `_prefix_sum` gives each score group the number
    of negatives STRICTLY below it (no global single-task window, no
    tie skew — scores are distinct after the group). The statistic
    2*U = sum(pos * (2*cum_neg_below + neg)) accumulates as
    DECIMAL(38,0) — pure integer arithmetic, fold-order invariant —
    and divides the exact 2 * n_pos * n_neg once, round 6.
    Output: one row (n_pos, n_neg, auc); auc NULL if a class is empty.
    """
    lbl = F.col(label_col) if isinstance(label_col, str) else label_col
    lbl = lbl.cast("int")
    s = F.col(score_col).cast("double")
    per = (df.select(s.alias("_s"), lbl.alias("_y"))
             .where(F.col("_s").isNotNull() & F.col("_y").isNotNull())
             .groupBy("_s")
             .agg(F.sum("_y").cast("bigint").alias("_pos"),
                  F.sum(1 - F.col("_y")).cast("bigint").alias("_neg")))
    pref, _ = _prefix_sum(per, [F.col("_s")], "_neg", "_cumneg")
    row = pref.agg(
        F.sum("_pos").cast("bigint").alias("n_pos"),
        F.sum("_neg").cast("bigint").alias("n_neg"),
        # cast BEFORE multiplying (the modularity/spearman lesson):
        # _pos and _cumneg both scale with n, so the bigint product
        # overflows int64 past n ~ 3e9 — decimal*bigint doesn't
        F.sum(F.col("_pos").cast("decimal(38,0)")
              * (2 * F.col("_cumneg") + F.col("_neg")))
         .alias("_u2")).collect()[0]
    n_pos = int(row["n_pos"] or 0)
    n_neg = int(row["n_neg"] or 0)
    spark = df.sparkSession
    if n_pos == 0 or n_neg == 0:
        return spark.createDataFrame(
            [(n_pos, n_neg, None)],
            "n_pos long, n_neg long, auc double")
    # exact ints -> one double division, HALF_UP like SQL ROUND
    auc = int(row["_u2"]) / (2.0 * n_pos * n_neg)
    auc6 = math.floor(auc * 1e6 + 0.5) / 1e6
    return spark.createDataFrame(
        [(n_pos, n_neg, auc6)],
        "n_pos long, n_neg long, auc double")


def cohens_kappa(df: DataFrame, a_col, b_col) -> DataFrame:
    """Cohen's kappa inter-annotator agreement between two categorical
    columns (the labeling-pipeline QA scalar): observed agreement
    corrected for chance. kappa = (n*agree - sum_k na_k*nb_k) /
    (n^2 - sum_k na_k*nb_k) — computed ENTIRELY in integer arithmetic
    (DECIMAL(38,0) products; no double sums to drift), one double
    division at the end.

    Plan: ONE grouped count over the (a, b) confusion relation (k^2
    rows — bounded by the label vocabulary, not n); marginals and the
    chance term fold from that tiny relation (broadcast join on the
    category). Output: one row (n, po, pe, kappa), rounded 6; kappa
    NULL when chance agreement is 1 (single category)."""
    a = F.col(a_col) if isinstance(a_col, str) else a_col
    b = F.col(b_col) if isinstance(b_col, str) else b_col
    conf = (df.select(a.cast("string").alias("_a"),
                      b.cast("string").alias("_b"))
              .where(F.col("_a").isNotNull() & F.col("_b").isNotNull())
              .groupBy("_a", "_b")
              .agg(F.count("*").cast("bigint").alias("_c"))
              .localCheckpoint())
    ma = conf.groupBy("_a").agg(F.sum("_c").alias("_na"))
    mb = conf.groupBy("_b").agg(F.sum("_c").alias("_nb"))
    chance = (ma.join(mb, ma._a == mb._b)
                # cast BEFORE multiplying: both marginals scale with
                # n, so the bigint product overflows past n ~ 3e9
                .agg(F.sum(F.col("_na").cast("decimal(38,0)")
                           * F.col("_nb")).alias("_pe")))
    tot = conf.agg(
        F.sum("_c").cast("bigint").alias("_n"),
        F.sum(F.when(F.col("_a") == F.col("_b"), F.col("_c"))
               .otherwise(F.lit(0))).cast("bigint").alias("_agree"))
    r = tot.crossJoin(F.broadcast(chance)).collect()[0]
    n, agree = int(r["_n"] or 0), int(r["_agree"] or 0)
    pe_num = int(r["_pe"] or 0)
    spark = df.sparkSession
    if n == 0:
        return spark.createDataFrame(
            [(0, None, None, None)],
            "n long, po double, pe double, kappa double")
    po = math.floor(agree / n * 1e6 + 0.5) / 1e6
    pe = math.floor(pe_num / (n * n) * 1e6 + 0.5) / 1e6
    denom = n * n - pe_num
    if denom == 0:
        kappa = None
    else:
        k = (n * agree - pe_num) / denom
        kappa = (math.floor(k * 1e6 + 0.5) / 1e6 if k >= 0
                 else -(math.floor(-k * 1e6 + 0.5) / 1e6))
    return spark.createDataFrame(
        [(n, po, pe, kappa)],
        "n long, po double, pe double, kappa double")


def _round6(x):
    """Sign-aware round-half-AWAY-FROM-ZERO to 6 decimals — the
    oracle-parity rounding rule (mirrors DuckDB ROUND on doubles;
    Python's round() half-to-even would flip boundary digits).
    None passes through."""
    if x is None:
        return None
    return (math.floor(x * 1e6 + 0.5) / 1e6 if x >= 0
            else -(math.floor(-x * 1e6 + 0.5) / 1e6))


def _pairable_ic(df: DataFrame, item_col, value_col) -> DataFrame:
    """Shared machinery of the multi-annotator agreement metrics
    (`fleiss_kappa`, `krippendorff_alpha`): the (item, value) count
    relation restricted to PAIRABLE items (>= 2 annotations — a
    single annotation agrees with nothing). One grouped count, then
    the per-item total via a window partitioned by ITEM over the
    grouped relation — partition size is bounded by the label
    vocabulary within one item (never the annotation count), so no
    hot-item task. Columns: (_i, _cat, _c, _nu).

    r12 optimization (guide §2.4): both metrics consume this relation
    from TWO aggregate branches (the per-row term fold and the
    category margins) — unshared, the full input scan + grouped count
    + window pipeline ran twice per metric. Size-gated
    materialization computes it once at scale; below the gate the
    lazy two-branch plan stays (cheaper than a blocking checkpoint
    job at small SF, measured in the r12 batch-1/2 precedents)."""
    from pyspark.sql.window import Window

    from .materialize import materialize_if_large

    i = F.col(item_col) if isinstance(item_col, str) else item_col
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    ic = (df.select(i.cast("string").alias("_i"),
                    v.cast("string").alias("_cat"))
            .where(F.col("_i").isNotNull() & F.col("_cat").isNotNull())
            .groupBy("_i", "_cat")
            .agg(F.count("*").cast("bigint").alias("_c")))
    w = Window.partitionBy("_i")
    return materialize_if_large(
        ic.withColumn("_nu", F.sum("_c").over(w))
          .where(F.col("_nu") >= 2))


def fleiss_kappa(df: DataFrame, item_col, value_col) -> DataFrame:
    """Fleiss' kappa — chance-corrected agreement among MANY
    annotators per item (the multi-rater sibling of `cohens_kappa`;
    the labeling-QA scalar when every document gets a varying crowd
    of raters, Fleiss 1971 generalized to unequal item sizes).
    Input: one row per annotation (item, value).

    P_u = sum_c n_uc(n_uc-1) / (n_u(n_u-1)) per pairable item;
    Pbar_o = mean over items; Pbar_e = sum_c (n_c/n)^2 from the
    category margins; kappa = (Po - Pe) / (1 - Pe).

    Plan: the `_pairable_ic` relation, then per-ROW rational terms
    n_uc(n_uc-1)/(n_u(n_u-1)) quantized ROUND(.,12) -> DECIMAL(38,12)
    and summed (partition-stable; sums to Pbar_o*N exactly under the
    quantization); margins fold distributed with DECIMAL(38,0)
    squares (cast BEFORE the product — n_c scales with n). Bounded
    driver collect: 2 scalar rows. Output: one row (n_items,
    n_annotations, po, pe, kappa) rounded 6; kappa NULL when chance
    agreement is 1 (single category) or nothing is pairable."""
    ic = _pairable_ic(df, item_col, value_col)
    term = (F.col("_c") * (F.col("_c") - 1)
            / (F.col("_nu") * (F.col("_nu") - 1))).cast("double")
    t = ic.agg(
        F.countDistinct("_i").cast("bigint").alias("_items"),
        F.sum("_c").cast("bigint").alias("_n"),
        F.sum(F.round(term, 12).cast("decimal(38,12)")).alias("_posum"))
    m = (ic.groupBy("_cat").agg(F.sum("_c").alias("_nc"))
           .agg(F.sum(F.col("_nc").cast("decimal(38,0)")
                      * F.col("_nc")).alias("_sq")))
    r = t.crossJoin(F.broadcast(m)).collect()[0]
    spark = df.sparkSession
    items, n = int(r["_items"] or 0), int(r["_n"] or 0)
    out_schema = ("n_items long, n_annotations long, po double, "
                  "pe double, kappa double")
    if items == 0:
        return spark.createDataFrame(
            [(0, 0, None, None, None)], out_schema)
    po = float(r["_posum"]) / items
    # Mirror the SQL oracle's CAST(.. AS DOUBLE)/CAST(.. AS DOUBLE):
    # convert each operand to float BEFORE dividing. Python's exact
    # big-int true division is correctly rounded from the EXACT
    # rationals, which can differ by an ulp past 2^53 annotations and
    # flip a round-6 boundary (the kendall_tau_binned failure class).
    pe = float(int(r["_sq"])) / float(n * n)
    kappa = None if pe == 1.0 else (po - pe) / (1.0 - pe)
    return spark.createDataFrame(
        [(items, n, _round6(po), _round6(pe), _round6(kappa))],
        out_schema)


def krippendorff_alpha(df: DataFrame, item_col, value_col) -> DataFrame:
    """Krippendorff's alpha (nominal) — agreement that tolerates
    MISSING data (any number of raters per item, any overlap): the
    reliability scalar for crowd-labeled corpora where Fleiss'
    equal-panel assumption is fiction. Input: one row per annotation
    (item, value).

    D_o = (1/n) sum_u sum_c n_uc(n_u - n_uc)/(n_u - 1) (within-item
    disagreeing pairs, coincidence-normalized); D_e =
    sum_c n_c(n - n_c) / (n(n-1)) (margin expectation);
    alpha = 1 - D_o/D_e.

    Plan: same `_pairable_ic` relation; per-row D_o terms quantized
    ROUND(.,9) -> DECIMAL(38,9) (magnitude scales with n_u, so 9
    fractional digits keep 38 total safe past 1e20 annotations);
    margins fold with DECIMAL(38,0) products. Output: one row
    (n_items, n_annotations, d_o, d_e, alpha) rounded 6; alpha NULL
    when expected disagreement is 0 (single category)."""
    ic = _pairable_ic(df, item_col, value_col)
    term = (F.col("_c") * (F.col("_nu") - F.col("_c"))
            / (F.col("_nu") - 1)).cast("double")
    t = ic.agg(
        F.countDistinct("_i").cast("bigint").alias("_items"),
        F.sum("_c").cast("bigint").alias("_n"),
        F.sum(F.round(term, 9).cast("decimal(38,9)")).alias("_dosum"))
    m = (ic.groupBy("_cat").agg(F.sum("_c").alias("_nc"))
           .agg(F.sum(F.col("_nc").cast("decimal(38,0)")
                      * F.col("_nc")).alias("_sq")))
    r = t.crossJoin(F.broadcast(m)).collect()[0]
    spark = df.sparkSession
    items, n = int(r["_items"] or 0), int(r["_n"] or 0)
    out_schema = ("n_items long, n_annotations long, d_o double, "
                  "d_e double, alpha double")
    if items == 0:
        return spark.createDataFrame(
            [(0, 0, None, None, None)], out_schema)
    d_o = float(r["_dosum"]) / n
    # sum_c n_c(n - n_c) = n^2 - sum_c n_c^2, exact python ints —
    # but the DIVISION mirrors the oracle's per-operand DOUBLE casts
    # (exact big-int true division differs by an ulp past 2^53 and
    # can flip a round-6 boundary; see fleiss_kappa).
    d_e = float(n * n - int(r["_sq"])) / float(n * (n - 1))
    alpha = None if d_e == 0 else 1.0 - d_o / d_e
    return spark.createDataFrame(
        [(items, n, _round6(d_o), _round6(d_e), _round6(alpha))],
        out_schema)


def theil_index(df: DataFrame, val_col: str) -> DataFrame:
    """Theil T inequality index of a positive measure:
    T = (1/n) * sum((x/mu) * ln(x/mu)) — 0 for perfect equality,
    ln(n) for total concentration; the log-scale complement to
    `gini_coefficient` for token/spend concentration audits.

    mu comes from an exact DECIMAL(27,6) sum over n (identical in
    both engines), so every per-row ratio x/mu is the same IEEE
    double cross-engine; the per-row term quantizes at ROUND(., 6)
    and accumulates as DECIMAL(38,6) — the sum is fold-order
    invariant, leaving only the accepted ln-ulp-at-half-boundary
    risk class (house round-6 convention). Output: one row
    (n, mean, theil), rounded 6; NULL theil for empty input."""
    v = F.col(val_col).cast("double")
    base = df.select(v.alias("_x")).where(F.col("_x") > 0)
    agg = base.agg(
        F.count("*").alias("_n"),
        F.sum(F.col("_x").cast("decimal(27,6)")).alias("_tot")) \
        .collect()[0]
    n = int(agg["_n"] or 0)
    spark = df.sparkSession
    if n == 0:
        return spark.createDataFrame(
            [(0, None, None)], "n long, mean double, theil double")
    mu = float(agg["_tot"]) / n
    term = F.round((F.col("_x") / F.lit(mu))
                   * F.log(F.col("_x") / F.lit(mu)), 6) \
            .cast("decimal(38,6)")
    s = float(base.agg(F.sum(term)).collect()[0][0])
    t = s / n
    t6 = (math.floor(t * 1e6 + 0.5) / 1e6 if t >= 0
          else -(math.floor(-t * 1e6 + 0.5) / 1e6))
    return spark.createDataFrame(
        [(n, math.floor(mu * 1e6 + 0.5) / 1e6, t6)],
        "n long, mean double, theil double")


def pr_auc(df: DataFrame, score_col: str, label_col) -> DataFrame:
    """EXACT average precision (the step-interpolated PR AUC,
    sklearn's average_precision_score definition): AP = sum over
    distinct-score thresholds, descending, of
    (pos_at_threshold / n_pos) * (cum_pos / cum_all) — the
    imbalance-robust companion to `roc_auc` for rare-positive
    filter tuning.

    Plan: ONE grouped aggregate per distinct score, then one
    two-column `_prefix_sum` (positives and totals) over the
    DESCENDING score order — no single-task global window.
    Each threshold's term pos*(cum_pos/cum_all) associates
    identically in both engines (IEEE division then multiply),
    quantizes at ROUND(.,6), and accumulates as DECIMAL(38,6) —
    fold-order invariant; the single /n_pos division happens once at
    the end. Output: one row (n_pos, n_neg, ap); NULL ap without
    positives."""
    lbl = F.col(label_col) if isinstance(label_col, str) else label_col
    lbl = lbl.cast("int")
    s = F.col(score_col).cast("double")
    per = (df.select(s.alias("_s"), lbl.alias("_y"))
             .where(F.col("_s").isNotNull() & F.col("_y").isNotNull())
             .groupBy("_s")
             .agg(F.sum("_y").cast("bigint").alias("_pos"),
                  F.count("*").cast("bigint").alias("_all")))
    desc = [F.col("_s").desc()]
    p2, _ = _prefix_sum(per, desc, ["_pos", "_all"],
                        ["_cpos0", "_call0"])
    term = F.round(F.col("_pos")
                   * ((F.col("_cpos0") + F.col("_pos"))
                      / (F.col("_call0") + F.col("_all"))), 6) \
            .cast("decimal(38,6)")
    row = p2.agg(F.sum("_pos").cast("bigint").alias("n_pos"),
                 F.sum(F.col("_all") - F.col("_pos")).cast("bigint")
                  .alias("n_neg"),
                 F.sum(term).alias("_t")).collect()[0]
    n_pos = int(row["n_pos"] or 0)
    n_neg = int(row["n_neg"] or 0)
    spark = df.sparkSession
    if n_pos == 0:
        return spark.createDataFrame(
            [(0, n_neg, None)], "n_pos long, n_neg long, ap double")
    ap = float(row["_t"]) / n_pos
    return spark.createDataFrame(
        [(n_pos, n_neg, math.floor(ap * 1e6 + 0.5) / 1e6)],
        "n_pos long, n_neg long, ap double")


def lorenz_curve(df: DataFrame, val_col: str, key_col: str,
                 n_buckets: int = 10) -> DataFrame:
    """Lorenz curve of a nonnegative measure: per ascending-value
    bucket (exact NTILE semantics — `_exact_ntile`, no single-task
    window), the CUMULATIVE share of the total — the decile
    concentration readout that pairs with `gini_coefficient` /
    `theil_index` (perfect equality = diagonal; the bottom-decile
    share is the long-tail health check of a token/spend
    distribution).

    Per-bucket sums quantize ROUND(.,6) per row into DECIMAL(38,6)
    (fold-order invariant); the n_buckets-row cumulative fold happens
    driver-side in exact decimal, one double division per bucket at
    the end. Output: (bucket 1..n, n, cum_share round 6)."""
    import decimal as _dec

    v = F.col(val_col).cast("double")
    base = (df.select(F.col(key_col).alias("key"), v.alias("_v"))
              .where(F.col("_v") >= 0))
    tiled = _exact_ntile(base, "_v", True, n_buckets, "bucket")
    per = (tiled.groupBy("bucket")
                .agg(F.count("*").cast("bigint").alias("n"),
                     F.sum(F.round(F.col("_v"), 6)
                            .cast("decimal(38,6)")).alias("_s"))
                .orderBy("bucket")
                .collect())
    spark = df.sparkSession
    if not per:
        return spark.createDataFrame(
            [], "bucket long, n long, cum_share double")
    total = sum((r["_s"] or _dec.Decimal(0)) for r in per)
    rows, cum = [], _dec.Decimal(0)
    for r in per:
        cum += r["_s"] or _dec.Decimal(0)
        share = (float(cum) / float(total)) if total else None
        s6 = (math.floor(share * 1e6 + 0.5) / 1e6
              if share is not None else None)
        rows.append((int(r["bucket"]), int(r["n"]), s6))
    return spark.createDataFrame(
        rows, "bucket long, n long, cum_share double")


def binary_metrics(df: DataFrame, truth_col, pred_col) -> DataFrame:
    """Binary-classifier panel from boolean truth/pred columns (names
    or Column expressions): confusion counts plus accuracy, precision,
    recall, F1, and Matthews correlation — ONE aggregate over one
    scan; every metric derives from the four exact integers (the
    ratios and the sqrt are the same IEEE arithmetic in both engines,
    so round 6 is boundary-free in practice; MCC's numerator/products
    stay exact in DECIMAL). Degenerate denominators yield NULL.
    Output: one row (tp, tn, fp, fn, accuracy, precision_, recall_,
    f1, mcc)."""
    t = (F.col(truth_col) if isinstance(truth_col, str)
         else truth_col).cast("boolean")
    p = (F.col(pred_col) if isinstance(pred_col, str)
         else pred_col).cast("boolean")
    row = (df.select(t.alias("_t"), p.alias("_p"))
             .where(F.col("_t").isNotNull() & F.col("_p").isNotNull())
             .agg(F.sum((F.col("_t") & F.col("_p")).cast("bigint"))
                   .alias("tp"),
                  F.sum((~F.col("_t") & ~F.col("_p")).cast("bigint"))
                   .alias("tn"),
                  F.sum((~F.col("_t") & F.col("_p")).cast("bigint"))
                   .alias("fp"),
                  F.sum((F.col("_t") & ~F.col("_p")).cast("bigint"))
                   .alias("fn")).collect()[0])
    tp, tn = int(row["tp"] or 0), int(row["tn"] or 0)
    fp, fn = int(row["fp"] or 0), int(row["fn"] or 0)
    n = tp + tn + fp + fn

    def _r6(x):
        if x is None:
            return None
        return (math.floor(x * 1e6 + 0.5) / 1e6 if x >= 0
                else -(math.floor(-x * 1e6 + 0.5) / 1e6))

    acc = (tp + tn) / n if n else None
    prec = tp / (tp + fp) if (tp + fp) else None
    rec = tp / (tp + fn) if (tp + fn) else None
    f1 = (2 * prec * rec / (prec + rec)
          if prec is not None and rec is not None and (prec + rec)
          else None)
    denom2 = (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
    mcc = ((tp * tn - fp * fn) / math.sqrt(denom2)
           if denom2 else None)
    spark = df.sparkSession
    return spark.createDataFrame(
        [(tp, tn, fp, fn, _r6(acc), _r6(prec), _r6(rec), _r6(f1),
          _r6(mcc))],
        "tp long, tn long, fp long, fn long, accuracy double, "
        "precision_ double, recall_ double, f1 double, mcc double")


def nmi(df: DataFrame, a_col, b_col) -> DataFrame:
    """Normalized mutual information between two categorical
    labelings (cluster-vs-truth agreement — the kmeans/LPA quality
    eval `cohens_kappa` can't give, since cluster IDs don't align
    with label IDs): NMI = MI / sqrt(H(a) * H(b)), natural log.

    Plan: ONE grouped count over the (a, b) contingency relation
    (bounded by the label vocabularies, not n), marginals fold from
    it; every entropy/MI term is ln of EXACT integer ratios —
    identical IEEE inputs cross-engine — quantized ROUND(.,9) and
    summed as DECIMAL(38,9) over the bounded cell relation. Output:
    one row (n, mi, h_a, h_b, nmi) rounded 6; NMI NULL when either
    labeling is constant (zero entropy)."""
    a = F.col(a_col) if isinstance(a_col, str) else a_col
    b = F.col(b_col) if isinstance(b_col, str) else b_col
    conf = (df.select(a.cast("string").alias("_a"),
                      b.cast("string").alias("_b"))
              .where(F.col("_a").isNotNull() & F.col("_b").isNotNull())
              .groupBy("_a", "_b")
              .agg(F.count("*").cast("bigint").alias("_c"))
              .localCheckpoint())
    n = conf.agg(F.sum("_c")).collect()[0][0]
    spark = df.sparkSession
    if not n:
        return spark.createDataFrame(
            [(0, None, None, None, None)],
            "n long, mi double, h_a double, h_b double, nmi double")
    n = int(n)
    ma = conf.groupBy("_a").agg(F.sum("_c").alias("_na"))
    mb = conf.groupBy("_b").agg(F.sum("_c").alias("_nb"))

    def _ent(m, cnt):
        t = F.round((F.col(cnt) / F.lit(n))
                    * F.log(F.lit(float(n)) / F.col(cnt)), 9) \
             .cast("decimal(38,9)")
        return float(m.agg(F.sum(t)).collect()[0][0])

    h_a = _ent(ma, "_na")
    h_b = _ent(mb, "_nb")
    mi_t = F.round((F.col("_c") / F.lit(n))
                   * F.log((F.lit(float(n)) * F.col("_c"))
                           / (F.col("_na") * F.col("_nb"))), 9) \
            .cast("decimal(38,9)")
    mi = float(conf.join(ma, on="_a").join(mb, on="_b")
                   .agg(F.sum(mi_t)).collect()[0][0])

    def _r6(x):
        return (math.floor(x * 1e6 + 0.5) / 1e6 if x >= 0
                else -(math.floor(-x * 1e6 + 0.5) / 1e6))

    denom = math.sqrt(h_a * h_b) if h_a > 0 and h_b > 0 else 0.0
    val = _r6(mi / denom) if denom else None
    return spark.createDataFrame(
        [(n, _r6(mi), _r6(h_a), _r6(h_b), val)],
        "n long, mi double, h_a double, h_b double, nmi double")


def spearman_rho(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """EXACT Spearman rank correlation with the average-rank tie rule
    — the monotone-association companion to the Pearson
    `correlation_matrix` (outlier-robust, scale-free).

    The whole computation stays INTEGER: twice the average rank of a
    value with c ties and cb predecessors is 2*cb + c + 1 (an
    integer), ranks attach back to rows by value join, and Pearson on
    the doubled ranks (invariant under the affine x2) folds exact
    DECIMAL(38,0) sums — the only floating steps are one sqrt and one
    division at the end, round 6. Per-column rank relations use the
    range-partitioned `_prefix_sum` (no single-task window at any
    cardinality). Output: one row (n, rho); NULL rho when either
    column is constant."""
    base = (df.select(F.col(x_col).cast("double").alias("_x"),
                      F.col(y_col).cast("double").alias("_y"))
              .where(F.col("_x").isNotNull() & F.col("_y").isNotNull())
              .localCheckpoint())

    def ranks2(col):
        g = base.groupBy(F.col(col).alias("_v")) \
                .agg(F.count("*").cast("bigint").alias("_c"))
        p, _ = _prefix_sum(g, [F.col("_v")], "_c", "_cb")
        return p.select("_v",
                        (2 * F.col("_cb") + F.col("_c") + 1)
                        .cast("bigint").alias("_r2"))
    rx = ranks2("_x").withColumnRenamed("_v", "_x") \
                     .withColumnRenamed("_r2", "_rx")
    ry = ranks2("_y").withColumnRenamed("_v", "_y") \
                     .withColumnRenamed("_r2", "_ry")
    joined = base.join(rx, on="_x").join(ry, on="_y")
    d = "decimal(38,0)"
    row = joined.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("_rx").cast(d)).alias("sx"),
        F.sum(F.col("_ry").cast(d)).alias("sy"),
        # cast BEFORE multiplying: a bigint*bigint product of doubled
        # ranks overflows long beyond n ~ 1.5e9; decimal*long doesn't
        F.sum(F.col("_rx").cast(d) * F.col("_rx")).alias("sxx"),
        F.sum(F.col("_ry").cast(d) * F.col("_ry")).alias("syy"),
        F.sum(F.col("_rx").cast(d) * F.col("_ry")).alias("sxy")
    ).collect()[0]
    n = int(row["n"] or 0)
    spark = df.sparkSession
    if n == 0:
        return spark.createDataFrame([(0, None)],
                                     "n long, rho double")
    sx, sy = int(row["sx"]), int(row["sy"])
    sxx, syy, sxy = int(row["sxx"]), int(row["syy"]), int(row["sxy"])
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    if vx == 0 or vy == 0:
        return spark.createDataFrame([(n, None)],
                                     "n long, rho double")
    rho = (n * sxy - sx * sy) / math.sqrt(float(vx) * float(vy))
    r6 = (math.floor(rho * 1e6 + 0.5) / 1e6 if rho >= 0
          else -(math.floor(-rho * 1e6 + 0.5) / 1e6))
    return spark.createDataFrame([(n, r6)], "n long, rho double")


def hhi(df: DataFrame, group_col: str, member_col: str,
        val_col: str) -> DataFrame:
    """Herfindahl-Hirschman concentration index per group: sum of
    squared member shares of an exact-decimal measure — the
    market-concentration / source-dominance screen that pairs with
    `gini_coefficient` (HHI reads concentration among ENTITIES,
    gini among units). Member totals fold as DECIMAL(27,2); each
    share is a double ratio of two exact decimals (engine-identical),
    its square quantizes ROUND(.,9) and accumulates as DECIMAL(38,9).
    Output: (group, n_members, hhi round 6) — 1/n for even splits,
    1.0 for monopoly."""
    vd = F.col(val_col).cast("double").cast("decimal(27,2)")
    per = (df.groupBy(F.col(group_col).alias("grp"),
                      F.col(member_col).alias("_m"))
             .agg(F.sum(vd).alias("_mv")))
    tot = per.groupBy("grp").agg(F.sum("_mv").alias("_tv"),
                                 F.count("*").alias("n_members"))
    share = (F.col("_mv").cast("double")
             / F.col("_tv").cast("double"))
    term = F.round(share * share, 9).cast("decimal(38,9)")
    return (per.join(tot, on="grp")
               .groupBy("grp", "n_members")
               .agg(F.round(F.sum(term).cast("double"), 6)
                     .alias("hhi"))
               .select(F.col("grp"),
                       F.col("n_members").cast("bigint")
                        .alias("n_members"),
                       "hhi"))


def auc_by_group(df: DataFrame, score_col: str, label_col,
                 group_col: str) -> DataFrame:
    """EXACT ROC AUC per group — `roc_auc`'s distributed-by-key
    sibling (per-segment ranking quality in one pass: does the score
    separate the classes INSIDE each market/language/source bucket?).

    Plan: ONE grouped aggregate per DISTINCT (group, score) ->
    (pos, neg) counts, then the range-partitioned `_prefix_sum` over
    the TOTAL order (group, score) gives each row its global running
    negatives — subtracting the group's own base (min of that prefix
    within the group = negatives of all EARLIER groups, via one
    map-side-combined groupBy + broadcast join back) yields the
    within-group strictly-below count. A partitionBy(group) window
    would put a hot group's millions of distinct scores into ONE
    task (windows can't split a partition; the r10 sliding-frame
    lesson's sibling) — the range shuffle spreads every group across
    partitions and the per-group base is one bounded aggregate. The
    2U statistic folds pos*(2*cum_neg+neg) as DECIMAL(38,0) (cast
    BEFORE the product — both factors scale with group size) and
    divides the exact 2*n_pos*n_neg once, round 6.
    Output: (group, n_pos, n_neg, auc); auc NULL where a class is
    empty within the group."""
    lbl = F.col(label_col) if isinstance(label_col, str) else label_col
    lbl = lbl.cast("int")
    per = (df.select(F.col(group_col).alias("grp"),
                     F.col(score_col).cast("double").alias("_s"),
                     lbl.alias("_y"))
             .where(F.col("_s").isNotNull() & F.col("_y").isNotNull())
             .groupBy("grp", "_s")
             .agg(F.sum("_y").cast("bigint").alias("_pos"),
                  F.sum(1 - F.col("_y")).cast("bigint").alias("_neg")))
    # global EXCLUSIVE prefix of _neg over (grp, _s); within a group
    # the prefix is non-decreasing and its minimum sits on the
    # group's first score row, where the exclusive prefix counts
    # exactly the negatives of all earlier groups — the base.
    pref, _ = _prefix_sum(per, [F.col("grp"), F.col("_s")],
                          "_neg", "_gpref")
    # pref feeds TWO branches (the per-group base aggregate and the
    # final join); its window pass sits after _prefix_sum's pinned
    # scan, so each branch would re-run that window — size-gate the
    # sharing so the double consumption does not at scale (guide §2.4)
    from .materialize import materialize_if_large
    pref = materialize_if_large(pref)
    base = pref.groupBy("grp").agg(F.min("_gpref").alias("_base")) \
               .withColumnRenamed("grp", "_bgrp")
    cum = F.col("_gpref") - F.col("_base")
    u2 = (F.col("_pos").cast("decimal(38,0)")
          * (2 * F.col("_cumneg") + F.col("_neg")))
    # eqNullSafe: a NULL group is a real group (unknown segment) and
    # must keep its row — a plain equality join would silently drop it
    agg = (pref.join(F.broadcast(base),
                     F.col("grp").eqNullSafe(F.col("_bgrp")))
              .drop("_bgrp")
              .withColumn("_cumneg", cum)
              .groupBy("grp")
              .agg(F.sum("_pos").cast("bigint").alias("n_pos"),
                   F.sum("_neg").cast("bigint").alias("n_neg"),
                   F.sum(u2).alias("_u2")))
    auc = (F.col("_u2").cast("double")
           / (2.0 * F.col("n_pos") * F.col("n_neg")))
    return agg.select(
        "grp", "n_pos", "n_neg",
        F.when((F.col("n_pos") > 0) & (F.col("n_neg") > 0),
               F.round(auc, 6)).alias("auc"))


def kendall_tau_binned(df: DataFrame, xb_col, yb_col) -> DataFrame:
    """Kendall's tau-b over PRE-BINNED integer axes: the rank-
    correlation that tolerates heavy ties, computed EXACTLY from the
    (x_bin, y_bin) contingency table — the scale-safe formulation
    (raw Kendall is all-pairs O(n^2); binning first makes the pair
    enumeration O(cells^2) over a BOUNDED relation, the standard
    contingency shortcut for grid/decile data).

        tau_b = (C - D) / sqrt((n0 - n1) * (n0 - n2))
        n0 = n(n-1)/2,  n1/n2 = same-x / same-y tied pairs

    Plan: ONE groupBy builds the contingency (bounded by the bin
    grid, checkpointed); C and D fold from the cells' self-join on
    xb-strictly-less (cells^2 rows, constant); marginal tie terms
    fold from the two marginals. Every count multiplies as
    DECIMAL(38,0) (cast BEFORE the product — cell counts scale with
    n) and the driver finishes in arbitrary-precision Python ints,
    one sqrt + round 6 at the end. Output: one row
    (n, concordant, discordant, tau_b) with the pair counts as
    doubles (they grow ~n^2/2; tau itself never loses precision —
    it is derived from the exact decimal folds)."""
    xb = F.col(xb_col) if isinstance(xb_col, str) else xb_col
    yb = F.col(yb_col) if isinstance(yb_col, str) else yb_col
    cells = (df.select(xb.cast("bigint").alias("_x"),
                       yb.cast("bigint").alias("_y"))
               .where(F.col("_x").isNotNull() & F.col("_y").isNotNull())
               .groupBy("_x", "_y")
               .agg(F.count("*").cast("bigint").alias("_c"))
               .localCheckpoint())
    a = cells.select(F.col("_x").alias("_xa"), F.col("_y").alias("_ya"),
                     F.col("_c").alias("_ca"))
    b = cells.select(F.col("_x").alias("_xb"), F.col("_y").alias("_yb"),
                     F.col("_c").alias("_cb"))
    prod = F.col("_ca").cast("decimal(38,0)") * F.col("_cb")
    pairs = (a.join(b, F.col("_xa") < F.col("_xb"))
              .agg(F.sum(F.when(F.col("_ya") < F.col("_yb"), prod))
                    .alias("_conc"),
                   F.sum(F.when(F.col("_ya") > F.col("_yb"), prod))
                    .alias("_disc")))
    tie = F.col("_t").cast("decimal(38,0)") * (F.col("_t") - 1)
    mx = (cells.groupBy("_x").agg(F.sum("_c").alias("_t"))
               .agg(F.sum(tie).alias("_tx2")))
    my = (cells.groupBy("_y").agg(F.sum("_c").alias("_t"))
               .agg(F.sum(tie).alias("_ty2")))
    nrow = cells.agg(F.sum("_c").cast("bigint").alias("_n"))
    r = (pairs.crossJoin(F.broadcast(mx)).crossJoin(F.broadcast(my))
              .crossJoin(F.broadcast(nrow))).collect()[0]
    n = int(r["_n"] or 0)
    spark = df.sparkSession
    conc = int(r["_conc"] or 0)
    disc = int(r["_disc"] or 0)
    n0_2 = n * (n - 1)            # 2*n0: keep everything doubled
    n1_2 = int(r["_tx2"] or 0)    # 2*n1
    n2_2 = int(r["_ty2"] or 0)    # 2*n2
    den2 = (n0_2 - n1_2) * (n0_2 - n2_2)  # exact-int sign guard only
    if n == 0 or den2 <= 0:
        return spark.createDataFrame(
            [(n, float(conc), float(disc), None)],
            "n long, concordant double, discordant double, "
            "tau_b double")
    # (C-D)/sqrt(n0-n1)/sqrt(n0-n2) with everything doubled:
    # 2*(C-D)/sqrt(den2). Convert EACH factor to double BEFORE the
    # product — the SQL oracle computes SQRT(CAST(a AS DOUBLE) *
    # CAST(b AS DOUBLE)); an exact-int product converted once can
    # differ by an ulp past 2^53 (n ~ 9.5e7 rows) and flip tau_b
    # across a round-6 boundary. The sign guard above stays exact.
    tau = (2.0 * (conc - disc)
           / math.sqrt(float(n0_2 - n1_2) * float(n0_2 - n2_2)))
    t6 = (math.floor(tau * 1e6 + 0.5) / 1e6 if tau >= 0
          else -(math.floor(-tau * 1e6 + 0.5) / 1e6))
    return spark.createDataFrame(
        [(n, float(conc), float(disc), t6)],
        "n long, concordant double, discordant double, tau_b double")


def ece_calibration(df: DataFrame, prob_col: str, label_col,
                    n_bins: int = 10) -> DataFrame:
    """Expected / maximum calibration error of a probability score
    against a 0/1 label (Guo et al. 2017's binned ECE): bucket
    predictions into fixed-width probability bins, compare each bin's
    accuracy to its mean confidence, weight by bin mass — the
    standard "is 0.9 really 90%?" readout for any learned filter.

    Determinism: bins are FIXED-WIDTH integer arithmetic
    (least(floor(p*B), B-1) — no rank/NTILE tie roulette);
    probabilities quantize ROUND(.,6) and fold as DECIMAL(38,6);
    labels fold as integers; each bin's |acc - conf| term rounds 6
    and the mass-weighted fold accumulates as DECIMAL(38,6). One
    grouped aggregate (B bounded), one constant-size fold. Output:
    one row (n, n_bins, ece, mce) rounded 6."""
    lbl = F.col(label_col) if isinstance(label_col, str) else label_col
    p = F.col(prob_col).cast("double")
    b = F.least(F.floor(F.col("_p") * n_bins), F.lit(n_bins - 1)) \
        .cast("bigint")
    per = (df.select(p.alias("_p"), lbl.cast("int").alias("_y"))
             .where(F.col("_p").isNotNull() & F.col("_y").isNotNull())
             .groupBy(b.alias("_b"))
             .agg(F.count("*").cast("bigint").alias("_n"),
                  F.sum("_y").cast("bigint").alias("_pos"),
                  F.sum(F.round(F.col("_p"), 6).cast("decimal(38,6)"))
                   .alias("_sp")))
    t = F.round(F.abs(F.col("_pos") / F.col("_n")
                      - F.col("_sp").cast("double") / F.col("_n")), 6)
    row = per.agg(
        F.sum("_n").cast("bigint").alias("n"),
        F.sum(F.round(t * F.col("_n"), 6).cast("decimal(38,6)"))
         .alias("_w"),
        F.max(t).alias("mce")).collect()[0]
    n = int(row["n"] or 0)
    spark = df.sparkSession
    if n == 0:
        return spark.createDataFrame(
            [(0, n_bins, None, None)],
            "n long, n_bins long, ece double, mce double")
    ece = float(row["_w"]) / n
    return spark.createDataFrame(
        [(n, n_bins, math.floor(ece * 1e6 + 0.5) / 1e6,
          float(row["mce"]))],
        "n long, n_bins long, ece double, mce double")


def fd_violations(df: DataFrame, lhs_cols, rhs_col) -> DataFrame:
    """Functional-dependency violation profile: does LHS -> RHS hold?
    The schema-quality check every ingest should run (surrogate-key
    sanity, denormalization drift, entity-resolution QA). A LHS group
    'violates' when it maps to more than one distinct RHS value.

    Plan: ONE grouped aggregate over the LHS (exact two-phase
    countDistinct on RHS — map-side combined, no second shuffle),
    then a constant fold: group counts, violating groups, rows inside
    violating groups, and the violation RATE (violating rows / all
    rows, round 6). NULL RHS counts as its own value (a key mapping
    to both NULL and a value IS drift). Output: one row (n_groups,
    n_violating_groups, n_rows, n_violating_rows, violation_rate)."""
    lhs = [lhs_cols] if isinstance(lhs_cols, str) else list(lhs_cols)
    rhs = F.col(rhs_col) if isinstance(rhs_col, str) else rhs_col
    per = (df.select(*[F.col(c).cast("string").alias(f"_l{i}")
                       for i, c in enumerate(lhs)],
                     F.coalesce(rhs.cast("string"),
                                F.lit("\x00NULL")).alias("_r"))
             .groupBy(*[f"_l{i}" for i in range(len(lhs))])
             .agg(F.count("*").cast("bigint").alias("_n"),
                  F.countDistinct("_r").cast("bigint").alias("_k")))
    bad = F.col("_k") > 1
    return per.agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.sum(bad.cast("bigint")).cast("bigint")
         .alias("n_violating_groups"),
        F.sum("_n").cast("bigint").alias("n_rows"),
        F.sum(F.when(bad, F.col("_n")).otherwise(F.lit(0)))
         .cast("bigint").alias("n_violating_rows"),
        F.round(F.sum(F.when(bad, F.col("_n")).otherwise(F.lit(0)))
                 .cast("double") / F.sum("_n"), 6)
         .alias("violation_rate"))


def join_cardinality(a: DataFrame, a_key, b: DataFrame, b_key
                     ) -> DataFrame:
    """Pre-flight EXACT equi-join cardinality profile — the 'will
    this join explode at 100 TB' check run BEFORE the join: output
    rows = sum over shared keys of count_a(k) * count_b(k), plus the
    skew facts that decide the physical strategy (max single-key
    fan-out -> salting; matched-key count -> broadcast viability).
    Costs two grouped counts + one join on the (distinct-key)
    relations — orders of magnitude cheaper than the join it
    predicts, and exact where sampled estimators mislead under skew.

    DECIMAL(38,0) products (cast BEFORE multiply — per-key counts
    scale with table size). NULL keys never match (SQL semantics):
    they are excluded. Output: one row (n_a, n_b, keys_a, keys_b,
    keys_matched, out_rows, max_key_fanout)."""
    ka = F.col(a_key) if isinstance(a_key, str) else a_key
    kb = F.col(b_key) if isinstance(b_key, str) else b_key
    ca = (a.select(ka.alias("_k")).where(F.col("_k").isNotNull())
           .groupBy("_k").agg(F.count("*").cast("bigint").alias("_fa")))
    cb = (b.select(kb.alias("_k")).where(F.col("_k").isNotNull())
           .groupBy("_k").agg(F.count("*").cast("bigint").alias("_fb")))
    sa = ca.agg(F.sum("_fa").alias("n_a"),
                F.count("*").alias("keys_a"))
    sb = cb.agg(F.sum("_fb").alias("n_b"),
                F.count("*").alias("keys_b"))
    m = (ca.join(cb, on="_k")
           .agg(F.count("*").cast("bigint").alias("keys_matched"),
                F.sum(F.col("_fa").cast("decimal(38,0)")
                      * F.col("_fb")).alias("_out"),
                F.max(F.col("_fa").cast("decimal(38,0)")
                      * F.col("_fb")).alias("_maxf")))
    return (sa.crossJoin(sb).crossJoin(F.broadcast(m))
              .select(F.col("n_a").cast("bigint").alias("n_a"),
                      F.col("n_b").cast("bigint").alias("n_b"),
                      F.col("keys_a").cast("bigint").alias("keys_a"),
                      F.col("keys_b").cast("bigint").alias("keys_b"),
                      F.coalesce("keys_matched", F.lit(0))
                       .cast("bigint").alias("keys_matched"),
                      F.coalesce(F.col("_out"), F.lit(0))
                       .cast("decimal(38,0)").alias("out_rows"),
                      F.coalesce(F.col("_maxf"), F.lit(0))
                       .cast("decimal(38,0)").alias("max_key_fanout")))
