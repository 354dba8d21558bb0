"""Graph algorithms as Pregel-style DataFrame iteration over the engine's
semiring primitives.

GraphX has no Python API in Apache Spark, so the loops are what
GraphFrames runs under the hood: DataFrame message-aggregation rounds,
with a checkpoint every round to cut lineage (SURVEY.md section 4).

Every loop is a case of one driver, ``_fixpoint``: the algorithm supplies
its start state, its step and its stop test, and the driver owns the
rest. A round is one action, the eager checkpoint of the next state
(``_checkpoint``), which also observes the state's size and the scalars
the loop reads back (a frontier's size, a dangling mass, an L1 change, a
drop count), so no round runs a count or a collect of its own. Every
state has one schema, nullability included (``_non_null``); the round's
persists (``_Cache``) are released once its state is checkpointed; a
loop that must converge raises ``RuntimeError`` at its round bound. The
cases:

* ``_frontier_loop`` — ``bfs_level``, ``sssp`` and
  ``connected_components``: the adjacency is partitioned once by source
  (``_prep_adjacency``); the state (i, v, _a) marks the frontier in
  ``_a``, and the loop stops when it is empty. Components' pointer jump
  is its own step every ``_JUMP_EVERY`` rounds.
* ``_power_iteration`` — ``pagerank`` and ``personalized_pagerank``
  over the cached degree-normalized transition matrix
  (``_transition``); each caller keeps its own start vector and update
  expression.
* ``katz_centrality`` and ``hits`` (a round is a HITS half-step): one
  ``_walk`` per round, a vertex value summed along the distinct edges
  cached by each join key (``_edge_prelude``).
* ``label_propagation`` (fixed rounds), ``k_core`` and ``k_truss``
  (peeling until nothing drops) and ``_minplus_closure``
  (``eccentricity`` and ``harmonic_centrality``: until the closure
  stops changing).

A fixed-round loop whose first state is a constant (Katz, HITS, label
propagation) starts from its first step instead, so the constant costs
no checkpoint.

``_Cache`` is the one owner of every persist an algorithm makes. It
persists only what is not cached already, so a relation someone else
cached (the derived-relation cache in ``sources/tpch.py``) is never
released here, and releases what it persisted on exit, including when a
round raises. A loop's result is its last checkpoint, so it reads none
of the caches being released.

The loops are round-invariant: every round after the first runs the
plan the first ran, so it reuses the classes Spark compiled for it
(Spark's codegen cache is keyed by the generated code and holds 100 of
them by default). Three rules keep it so. A value that changes per round
rides in the data, never in a literal: a BFS level is its frontier's
plus one, and PageRank's dangling mass is a cross-joined local row
(``_scalars``). Every join is hinted from a count the driver already
holds (``_sized``): a checkpoint keeps its source plan's size estimate,
joins multiply estimates, so estimates grow every round and a join left
to Spark changes strategy. And every state has the driver's one schema.

A fourth rule keeps the driver's share of a round small: a round builds
no expression. Every PySpark Column function or method is a py4j round
trip, and PySpark 4 adds about ten more to each for the call site it
records, so a round names its projections, filters and joins in SQL
strings (``selectExpr``, ``where``, ``join(on=...)``) and takes its
conditions and aggregates from Columns built before the loop (the
contraction's once per JVM gateway, ``plans/matmul.py``). On PySpark
4.1 a frontier or PageRank round sends 79 to 90 py4j commands from the
main thread; one that built its Columns would send 350 to 390.

One action is not one job: under AQE every exchange's map stage runs as
a job of its own. Traced on a 1024-vertex, 21k-edge R-MAT graph on 4
cores, a BFS round runs 3 jobs, a components round 3 (its pointer-jump
round 6) and a PageRank iteration 3.

Every partition count comes from ``partitions.partitions_for_rows``.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.storagelevel import StorageLevel

from .core import _BROADCAST_NVALS_LIMIT, GrMatrix, GrVector, get_session
from .dtypes import FP64, INT64, sql_double
from .operators import binary, semiring
from .partitions import partitions_for_rows, sized_range

__all__ = ["bfs_level", "sssp", "connected_components", "pagerank",
           "triangle_count", "symmetrize", "with_singletons", "k_core",
           "hits", "adamic_adar", "clustering_coefficient",
           "label_propagation", "neighborhood_jaccard",
           "personalized_pagerank", "degree_assortativity",
           "reciprocity", "katz_centrality", "k_truss",
           "capped_hub_count", "eccentricity", "harmonic_centrality",
           "modularity", "rich_club", "degree_histogram"]

# connected_components runs a FastSV pointer-jump round every _JUMP_EVERY
# iterations (see its step for the cost/convergence trade)
_JUMP_EVERY = 4

# Loop-shuffle sizing: NO session-conf mutation. The adjacency is
# repartitioned ONCE with a partition count derived from its measured
# edge count, the frontier side of each step broadcasts, and AQE's
# runtime coalescing sizes the remaining state shuffles — measured
# equal-or-faster than a scoped `spark.sql.shuffle.partitions` override,
# without mutating state another concurrent query on the same session
# would silently inherit.


def symmetrize(A: GrMatrix) -> GrMatrix:
    """A | A.T with max combine (undirected view of a directed graph)."""
    return A.ewise_add(A.T, "max").new()


class _Cache:
    """Loop-scoped owner of the relations an algorithm persists.

    Spark's CacheManager keeps an entry until it is explicitly
    unpersisted, so a persist that merely falls out of Python scope
    stays for the rest of the session. Use as a context manager: exit
    releases everything this owner persisted, whether the block returned
    or raised. A relation that is already cached (looked up by plan, not
    by the DataFrame object) is used as is and never released here."""

    def __init__(self):
        self._owned = []

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.release()

    def persist(self, df: DataFrame, eager: bool = False) -> DataFrame:
        """Persist ``df`` unless it is cached already; ``eager`` also
        materializes it now."""
        if df.storageLevel == StorageLevel.NONE:
            self._owned.append(df.persist())
            if eager:
                df.count()
        return df

    def drop(self, df: DataFrame) -> None:
        """Release ``df`` now if this owner persisted it."""
        if any(d is df for d in self._owned):
            self._owned = [d for d in self._owned if d is not df]
            df.unpersist()

    def release(self) -> None:
        while self._owned:
            try:
                self._owned.pop().unpersist()
            except Exception:  # a stopped session has nothing to free
                pass


def _nodes(n: int) -> DataFrame:
    """The dense vertex frame 0..n-1 as column ``i``."""
    return sized_range(get_session(), 0, n).selectExpr("id AS i")


def _observed(**metrics: str) -> list[Column]:
    """The aggregates a checkpoint observes: ``n``, its row count, and
    the named SQL aggregates ``metrics``. A loop builds them once and
    passes them to every round's ``_checkpoint``."""
    return [F.expr(f"{sql} AS {k}")
            for k, sql in dict(n="count(1)", **metrics).items()]


def _checkpoint(df: DataFrame, observed: list[Column] | None = None):
    """Eagerly checkpoint ``df``; returns the checkpoint and a dict of
    the aggregates ``observed`` on that one action (an ``Observation``;
    by default ``_observed()``, the row count ``n``), so a loop reads its
    round scalars without a job of its own."""
    obs = Observation()
    df = df.observe(obs, *(observed or _observed()))
    return df.localCheckpoint(eager=True), obs.get


def _symmetric_edges(A: GrMatrix) -> DataFrame:
    """Distinct (i, j) pairs of A | A.T: both directions of every edge,
    self loops once."""
    e = A.df.select("i", "j")
    return e.unionByName(e.select(F.col("j").alias("i"),
                                  F.col("i").alias("j"))).distinct()


def _undirected(A: GrMatrix, a: str = "u", b: str = "v") -> DataFrame:
    """The canonical undirected simple edge set of A: distinct (a, b)
    with a < b, self loops dropped."""
    return (A.df.select(F.least("i", "j").alias(a),
                        F.greatest("i", "j").alias(b))
                .where(F.col(a) != F.col(b))
                .distinct())


def _degrees(und: DataFrame, a: str = "u", b: str = "v") -> DataFrame:
    """(_n, _d): the degree of every endpoint of a canonical edge set."""
    return (und.select(F.col(a).alias("_n"))
               .unionAll(und.select(F.col(b).alias("_n")))
               .groupBy("_n").agg(F.count("*").alias("_d")))


def _sized(df: DataFrame, rows: int) -> DataFrame:
    """``df`` with a join strategy hint chosen from ``rows``, a count or
    bound the driver already holds (an observed ``n``, a vector size):
    a broadcast up to ``_BROADCAST_NVALS_LIMIT``, a sort-merge join
    above it. A loop's checkpoints keep their source plans' size
    estimates, which grow every round, so a join left to Spark would
    change strategy from round to round."""
    return df.hint("broadcast" if rows <= _BROADCAST_NVALS_LIMIT
                   else "merge")


def _merge_min(cur_df: DataFrame, cand_df: DataFrame, cand_rows: int,
               *extra: str) -> DataFrame:
    """The next loop state (i, v, _a): each current entry lowered to its
    candidate where that is smaller (the GraphBLAS ``w(accum=min)``),
    ``_a`` marking the lowered, plus the SQL expressions ``extra`` over
    the current columns. Every candidate key is a current key, so this
    is one left outer join, its candidate side (at most ``cand_rows``
    rows) sized by ``_sized``. The comparison is null without a
    candidate."""
    cand = _sized(cand_df.selectExpr("i", "v AS _v"), cand_rows)
    return (cur_df.join(cand, on="i", how="left_outer")
                  .selectExpr("i", "CASE WHEN _v < v THEN _v ELSE v END AS v",
                              "coalesce(_v < v, false) AS _a", *extra))


def _entries(A: GrMatrix, cache: _Cache, factor: int = 1):
    """(A's entries, the partition count for ``factor`` times their
    number). The number is A's cached ``nvals`` when the caller already
    waited on A; otherwise the entries are persisted and counted, so a
    derived A is computed once."""
    if A._nvals_cache is not None:
        return A.df, partitions_for_rows(factor * A._nvals_cache)
    df = cache.persist(A.df)
    return df, partitions_for_rows(factor * df.count())


def _prep_adjacency(A: GrMatrix, cache: _Cache, undirected: bool = False):
    """Hash-partition the adjacency (of A | A.T with ``undirected``) by
    source vertex ONCE, sized by A's entry count (twice it, an upper
    bound, for A | A.T), so every round's join reuses one exchange.
    Returns (adjacency, partitions); the partition count also sizes the
    loop state. One action (the eager persist of the partitioned
    adjacency), plus a count when A's ``nvals`` is not known yet. Every
    round reads the same cached relation, whatever A's own leaf is."""
    raw, parts = _entries(A, cache, 2 if undirected else 1)
    if undirected:
        # symmetrize's A | A.T (max combine): one scan of A emits both
        # directions, and the (i, j) aggregate reuses the exchange by i
        both = F.explode(F.array(
            F.struct("i", "j", "v"),
            F.struct(F.col("j").alias("i"), F.col("i").alias("j"), "v")))
        base = (raw.select(both.alias("e")).select("e.*")
                   .repartition(parts, "i")
                   .groupBy("i", "j").agg(F.max("v").alias("v")))
    else:
        base = raw.repartition(parts, "i")
    adj = cache.persist(base, eager=True)
    cache.drop(raw)
    return GrMatrix(adj, A.dtype, A.nrows, A.ncols), parts


def _vector(df: DataFrame, like: GrVector, nvals: int) -> GrVector:
    """``df`` as a vector shaped like ``like``, with ``nvals`` known."""
    out = GrVector(df, like.dtype, like.size)
    out._nvals_cache = nvals
    return out


def _fixpoint(start: DataFrame, step, stop=None, *, schema, metrics=None,
              first=None, parts=None, rounds=None, diverged=None):
    """Run a loop from ``start`` to its fixpoint; returns the last state
    and the metrics observed on it.

    A state is the columns named by ``schema`` (each with its
    ``_non_null`` default), coalesced to ``parts`` partitions when given.
    ``step(rnd, state, m, cache)`` builds round ``rnd``'s state from the
    last one and its metrics ``m``; what it persists in ``cache`` is
    released once the round's state is checkpointed. A round is one
    action: the state's eager checkpoint, which observes ``n`` and the
    named SQL aggregates ``metrics`` (``first`` instead on the start).
    A step builds no expression of its own: it uses SQL strings and
    Columns built before the loop. The loop stops once
    ``stop(m, prev)`` holds, ``prev`` being the previous state's metrics
    (None on the start), or after ``rounds`` rounds; reaching that bound
    raises ``RuntimeError(diverged)`` when ``diverged`` is given."""
    non_null = _non_null(**schema)
    observed = _observed(**(metrics or {}))

    def checkpoint(df, observed):
        df = df.selectExpr(*non_null)
        return _checkpoint(df if parts is None else df.coalesce(parts),
                           observed)

    with _Cache() as cache:
        state, m = checkpoint(start, observed if first is None
                              else _observed(**first))
        prev, rnd = None, 0
        while stop is None or not stop(m, prev):
            if rnd == rounds:
                if diverged:
                    raise RuntimeError(diverged)
                break
            rnd, prev = rnd + 1, m
            state, m = checkpoint(step(rnd, state, m, cache), observed)
            cache.release()
        return state, m


def _frontier_loop(A: GrMatrix, start, step,
                   undirected: bool = False) -> GrVector:
    """Run a frontier fixpoint to convergence and return its state.

    The loop state is (i, v, _a), where ``_a`` marks the frontier, the
    entries that changed last round. ``start(adj)`` gives the initial
    (i, v), all of it on the frontier. ``step(rnd, state, frontier, adj,
    keep)`` returns the next (i, v, _a); ``state`` and ``frontier`` are
    vectors whose ``nvals`` are known (observed on the last checkpoint),
    and ``keep`` persists a DataFrame for the round, sized like the loop.
    Their frames still carry ``_a``: every step and every plan it calls
    names the columns it reads, so the optimizer prunes ``_a`` and a
    round spends no projection on it. The loop stops on an empty
    frontier."""
    with _Cache() as cache:
        adj, parts = _prep_adjacency(A, cache, undirected)
        init = start(adj.df)

        def advance(rnd, state, m, rounds):
            cur = _vector(state, init, m["n"])
            frontier = _vector(state.where("_a"), init, m["front"])
            return step(rnd, cur, frontier, adj,
                        lambda df: rounds.persist(df.coalesce(parts)))

        state, m = _fixpoint(
            init.df.selectExpr("i", "v", "true AS _a"), advance,
            lambda m, prev: not m["front"],
            schema=dict(i="0", v="0", _a="false"),
            metrics=dict(front="count_if(_a)"), parts=parts)
        return _vector(state.selectExpr("i", "v"), init, m["n"])


def _non_null(**defaults: str) -> list[str]:
    """The projection, as SQL for ``selectExpr``, of the columns named
    by ``defaults``, each declared non-null, for a loop state about to be
    checkpointed; each default is a SQL literal that never applies. A
    stored entry never is null, but aggregates, outer joins, divisions
    and nullable input files say their columns may be, so the first
    state (from driver values) and later ones would be checkpoints of
    different schemas, and the plans over them would compile different
    code."""
    return [f"coalesce({c}, {d}) AS {c}" for c, d in defaults.items()]


def bfs_level(A: GrMatrix, source: int) -> GrVector:
    """Level-synchronous BFS: frontier vxm with the min_first semiring,
    complement-mask pushdown keeps visited vertices out of the join. A
    new vertex's level is its frontier's plus one, so no round number
    enters the plan."""
    def start(adj):
        return GrVector.from_values([source], [0], size=A.nrows,
                                    dtype=INT64)

    def step(rnd, levels, frontier, adj, keep):
        # mask pushdown: unvisited only (anti join BEFORE the agg)
        new = frontier.vxm(adj, semiring.min_first).new(mask=~levels.S)
        return (levels.df.selectExpr("i", "v", "false AS _a")
                .unionByName(new.df.selectExpr("i", "v + 1 AS v",
                                               "true AS _a")))

    return _frontier_loop(A, start, step)


def sssp(A: GrMatrix, source: int) -> GrVector:
    """Single-source shortest paths, min_plus to fixpoint (reference SSSP
    loop in notebooks/Examples.ipynb). Frontier = vertices whose distance
    improved last round (delta-relaxation)."""
    def start(adj):
        return GrVector.from_values([source], [0.0], size=A.nrows,
                                    dtype=FP64)

    # one aggregate over the distances and the candidates: a vertex
    # joins the next frontier when a candidate beats its distance or it
    # had none. The exchange by i is explicit: the first state is one
    # partition and later ones are not, so the aggregate would skip its
    # own exchange in round 1 only (and a shuffled join would choose its
    # exchanges from the growing size estimates).
    by_i = F.expr("i")
    best = [F.expr("min(CASE WHEN NOT _c THEN v END) AS _o"),
            F.expr("min(CASE WHEN _c THEN v END) AS _n")]

    def step(rnd, dist, frontier, adj, keep):
        cand = frontier.vxm(adj, semiring.min_plus).new()
        both = (dist.df.selectExpr("i", "v", "false AS _c")
                .unionByName(cand.df.selectExpr("i", "v", "true AS _c")))
        return (both.repartition(by_i).groupBy(by_i).agg(*best)
                    .selectExpr("i", "least(_o, _n) AS v",
                                "coalesce(_n < _o, _o IS NULL) AS _a"))

    return _frontier_loop(A, start, step)


def connected_components(A: GrMatrix, vertices: str = "all") -> GrVector:
    """Min-label propagation (FastSV-style semantics: reference notebook
    'Connected Components -- FastSV.ipynb' converges on min labels via
    min_second mxv; here labels flow with the min_first semiring since the
    moving value rides on the LEFT/vector side of vxm).

    vertices="all" (GraphBLAS semantics): labels start as vertex ids for
    ALL n vertices via ``spark.range(n)`` — isolated vertices are their
    own component. vertices="edges" (the SPARSE-ID scale mode): the label
    frame is the DISTINCT EDGE ENDPOINTS, so vertex ids may be arbitrary
    64-bit values (hashed doc ids) where range(n) with n = max_id + 1
    is impossible; vertices with no incident edge simply don't appear
    (callers union them back as singletons if needed). Only changed
    labels are re-propagated in either mode."""
    if vertices not in ("all", "edges"):
        raise ValueError("vertices must be 'all' or 'edges'")
    n = A.nrows

    def start(adj):
        # symmetrized adjacency: every endpoint appears as a row id, so
        # the distinct i column IS the vertex set — no densification
        ids = (adj.select("i").distinct() if vertices == "edges"
               else _nodes(n))
        return GrVector(ids.select("i", F.col("i").cast("bigint")
                                   .alias("v")), INT64, n)

    # FastSV shortcut round (pointer jumping): l[i] <- l[l[i]], joining
    # the merged labels m to themselves p on m.v = p.i. Every vertex
    # whose label moved this round is re-propagated (by neighbor min OR
    # by shortcut — a shortcut move must still be announced to
    # neighbors).
    jump_on = F.expr("m.v = p.i")
    jumped = "least(m.v, coalesce(p.v, m.v))"
    jump = ["m.i AS i", f"{jumped} AS v", f"{jumped} < m._old AS _a"]

    def step(rnd, labels, changed, adj, keep):
        # candidate label for j = min over in-neighbors i of label[i]
        cand = changed.vxm(adj, semiring.min_first).new()
        if rnd % _JUMP_EVERY:
            # cheap frontier round: only the lowered labels move
            return _merge_min(labels.df, cand.df, labels.nvals)
        # Labels are vertex ids with the invariant l[v] <= v, so l is
        # defined at every label value and jumping only decreases. Run
        # every _JUMP_EVERY-th round: neighbor propagation alone is
        # O(diameter) rounds — O(n) on a path-like graph (road networks,
        # near-dup chains) — while a periodic shortcut halves pointer
        # depth per jump, bounding the loop at O(log n) jump phases.
        # Small-diameter graphs finish before paying for many jumps.
        # Cost: an n-row self-join, so not done every round.
        merged = keep(_merge_min(labels.df, cand.df, labels.nvals,
                                 "v AS _old"))
        p = _sized(merged, labels.nvals).alias("p")
        return (merged.alias("m").join(p, jump_on, "left_outer")
                      .selectExpr(*jump))

    return _frontier_loop(A, start, step, undirected=True)


def with_singletons(labels: GrVector, vertices: DataFrame,
                    id_col: str = "i") -> GrVector:
    """Union isolated vertices back into a ``connected_components(...,
    vertices="edges")`` label vector as their own singleton components.

    edges-mode CC labels only the DISTINCT EDGE ENDPOINTS (the point of
    the sparse-id scale mode — no ``range(max_id)`` densification), so a
    vertex with no incident edge silently disappears from the result.
    This helper closes that gap for the general caller: every id in
    ``vertices`` that is absent from ``labels`` comes back labelled with
    itself. One anti-join + union — no shuffle beyond the join's, and
    the anti-join broadcasts when the label side is small.

    ``vertices`` is any DataFrame with the full vertex universe in
    ``id_col`` (duplicates fine — deduped here)."""
    verts = (vertices.select(F.col(id_col).cast("bigint").alias("i"))
                     .distinct())
    lonely = (verts.join(labels.df.select("i"), on="i", how="left_anti")
                   .select("i", F.col("i").cast("bigint").alias("v")))
    return GrVector(labels.df.unionByName(lonely), labels.dtype,
                    labels.size)


def k_core(A: GrMatrix, k: int) -> GrVector:
    """k-core decomposition by iterative peeling: repeatedly delete
    vertices whose degree in the surviving subgraph is < k, until
    fixpoint; returns (i, v = degree WITHIN the core) for the vertices
    of the k-core. Sparse-id semantics (like ``connected_components(
    vertices="edges")``): ids may be arbitrary 64-bit values, vertices
    with no incident edge never appear.

    Scale shape: each round is ONE degree aggregation (map-side
    combined) plus two joins against whichever of {dropped, surviving}
    vertex set is SMALLER — anti-join on the dropped fringe in the
    common late-round case, semi-join on the survivors when round 1 of
    a sparse graph with high k drops the majority (the build side would
    otherwise be the huge one); that side is sized by ``_sized``, so the
    edge relation never reshuffles while it broadcasts. The loop state
    is the degrees, which observe the drop count the next side choice
    and the stop test read; a round also checkpoints the surviving
    edges. Rounds are bounded by the graph's degeneracy ordering depth —
    single digits on real graphs."""
    if k < 1:
        raise ValueError("k must be >= 1")
    counted = _observed()
    edges, _ = _checkpoint(_symmetric_edges(A), counted)
    by_i, degree = F.expr("i"), F.expr("count(*) AS v")

    def degrees(e):
        return e.groupBy(by_i).agg(degree)

    def step(rnd, deg, m, cache):
        nonlocal edges
        n_drop, n_keep = m["n_drop"], m["n"] - m["n_drop"]
        if n_drop <= n_keep:
            side, how, n_side = deg.where(f"v < {k}"), "left_anti", n_drop
        else:
            side, how, n_side = deg.where(f"v >= {k}"), "left_semi", n_keep
        side = _sized(side.selectExpr("i"), n_side)
        edges, _ = _checkpoint(
            edges.join(side, on="i", how=how)
                 .join(side.withColumnRenamed("i", "j"), on="j", how=how)
                 .selectExpr("i", "j"), counted)
        return degrees(edges)

    deg, _ = _fixpoint(degrees(edges), step, lambda m, prev: not m["n_drop"],
                       schema=dict(i="0", v="0"),
                       metrics=dict(n_drop=f"sum(CAST(v < {k} AS BIGINT))"))
    return GrVector(deg, INT64, A.nrows)


def label_propagation(A: GrMatrix, max_iters: int = 5) -> GrVector:
    """Synchronous label-propagation community detection: labels start
    as vertex ids; each round every vertex adopts the most frequent
    label among its neighbors, ties broken by the SMALLEST label —
    fully deterministic (the async/random-order variants of LPA are
    not), so the whole fixed-round run replays exactly in SQL. Runs a
    FIXED number of synchronous rounds (the standard way to bound LPA,
    which has no convergence guarantee — two-colorable subgraphs can
    oscillate forever).

    Scale shape: each round is one edge⋈labels join against the cached
    symmetric edges, the labels sized by their observed count
    (``_sized``), + one (vertex, label) count + an argmax via a single
    max(struct) aggregate (no window, no sort); the first round is one
    min aggregate over the edges. Sparse-id semantics: vertices with no
    incident edge never appear."""
    if max_iters < 1:
        raise ValueError("max_iters must be >= 1")
    with _Cache() as cache:
        edges = cache.persist(_symmetric_edges(A), eager=True)

        by_iv, by_i = [F.expr("i"), F.expr("v")], F.expr("i")
        count = F.expr("count(*) AS _c")
        # argmax by (count desc, label asc) as ONE max(struct) aggregate
        top = F.expr("max(struct(_c AS c, -v AS nv)) AS m")

        def step(rnd, labels, m, rounds):
            freq = (edges.join(_sized(labels.withColumnRenamed("i", "j"),
                                      m["n"]), on="j")
                         .groupBy(*by_iv).agg(count))
            return (freq.groupBy(by_i).agg(top)
                        .selectExpr("i", "CAST(-m.nv AS BIGINT) AS v"))

        # round 1 from labels = vertex ids: each distinct neighbor counts
        # once, so every vertex adopts its smallest neighbor id
        labels, _ = _fixpoint(
            edges.groupBy("i").agg(F.min("j").cast("bigint").alias("v")),
            step, schema=dict(i="0", v="0"), rounds=max_iters - 1)
    return GrVector(labels, INT64, A.nrows)


def _edge_prelude(A: GrMatrix, cache: _Cache,
                  *keys: str) -> dict[str, DataFrame]:
    """Katz's and HITS's edge relation, the distinct (i, j) pairs,
    cached once per join key in ``keys`` and hash-partitioned by A's
    entry count, so every round reuses one exchange. One action per key
    (its eager persist), plus a count when A's ``nvals`` is not known
    yet. Returns {key: edges}."""
    adj, parts = _entries(A, cache)
    if len(keys) > 1:
        # each key's copy reads A: compute a derived A once
        adj = cache.persist(adj)
    edges = adj.select("i", "j").distinct()
    out = {key: cache.persist(edges.repartition(parts, key), eager=True)
           for key in keys}
    cache.drop(adj)
    return out


def _transition(A: GrMatrix, cache: _Cache) -> DataFrame:
    """The degree-normalized entries (i, j, v = 1/outdeg(i)), cached and
    hash-partitioned by i like ``_edge_prelude``. The out-degrees are a
    window over that one exchange, so A is read once; one action."""
    adj, parts = _entries(A, cache)
    outdeg = F.count(F.lit(1)).over(Window.partitionBy("i"))
    P = cache.persist(adj.repartition(parts, "i")
                         .select("i", "j", (F.lit(1.0) / outdeg).alias("v")),
                      eager=True)
    cache.drop(adj)
    return P


def _scalars(spark: SparkSession, **values: float) -> DataFrame:
    """One row of doubles, named by ``values``, as a local relation to
    cross join into a round's plan: a literal would put the value in the
    generated code, so every new value would compile new classes. The
    row is a SQL inline table, which Spark evaluates into a
    LocalRelation while it plans; it costs ten py4j calls, where an Arrow
    batch (``plans/local.py``) costs a temporary file and 25. The
    ``shuffle_replicate_nl`` hint makes the cross join a cartesian
    product, which unlike a broadcast runs no job of its own."""
    row = ", ".join(map(sql_double, values.values()))
    names = ", ".join(values)
    return (spark.sql(f"SELECT * FROM VALUES ({row}) AS _s({names})")
                 .hint("shuffle_replicate_nl"))


def _power_iteration(A: GrMatrix, start: str, update, iters: int,
                     tol: float = 0.0) -> DataFrame:
    """r_{t+1} = update(s, dang) over the dense vertex frame, where
    s(j) = sum over i->j of r_t(i) / outdeg(i) and dang = the total rank
    on vertices with no out-edge; r_0 = start. ``start`` and ``update``'s
    result are SQL expressions, and ``update`` is called once, with the
    SQL of ``s`` and ``dang``. Stops early once the L1 change drops below
    ``tol`` (never with tol = 0). Returns (i, v).

    The rank state (i, dangling, v, _old) is also the vertex frame, so
    an iteration is r left-joined with the contribution aggregate; the
    scalars the loop reads back (the next dangling mass, the L1 change)
    are observed on its checkpoint, and r_0 observes the first dangling
    mass. The dangling mass enters a round as a cross-joined local row
    (``_scalars``), and every join is hinted from the vertex count
    (``_sized``)."""
    n = A.nrows
    on_i, by_i, total = F.expr("P.i = r.i"), F.expr("i"), F.expr("sum(c) AS s")
    rank = ["i", "dangling", f"{update('coalesce(s, 0.0D)', '_dang')} AS v",
            "v AS _old"]
    dangling = "sum(CASE WHEN dangling THEN v END)"
    with _Cache() as cache:
        P = _transition(A, cache).alias("P")
        has_out = P.selectExpr("i", "false AS dangling").distinct()

        def step(rnd, r, m, rounds):
            contrib = (P.join(_sized(r, n).alias("r"), on_i)
                        .selectExpr("P.j AS i", "P.v * r.v AS c")
                        .groupBy(by_i).agg(total))
            return (r.join(_sized(contrib, n), on="i", how="left_outer")
                     .crossJoin(_scalars(r.sparkSession,
                                         _dang=m["dang"] or 0.0))
                     .selectExpr(*rank))

        r, _ = _fixpoint(
            _nodes(n).join(_sized(has_out, n), on="i", how="left_outer")
                     .selectExpr("i", "coalesce(dangling, true) AS dangling",
                                 f"{start} AS v", f"{start} AS _old"),
            step, lambda m, prev: (prev is not None and tol > 0
                                   and m["l1"] < tol),
            schema=dict(i="0", dangling="false", v="0", _old="0"),
            metrics=dict(dang=dangling, l1="sum(abs(v - _old))"),
            first=dict(dang=dangling), rounds=iters)
        return r.selectExpr("i", "v")


def pagerank(A: GrMatrix, damping: float = 0.85, max_iters: int = 20,
             tol: float = 1e-6) -> GrVector:
    """Power-iteration PageRank with dangling-mass redistribution: the
    restart and the dangling mass go to every vertex evenly. State is a
    dense rank DataFrame (n rows); see ``_power_iteration``."""
    n = A.nrows
    base, d = sql_double((1.0 - damping) / n), sql_double(damping)

    def update(s, dang):
        return f"{base} + {d} * ({s} + {dang} / {n})"

    r = _power_iteration(A, sql_double(1.0 / n), update, max_iters, tol)
    out = GrVector(r, FP64, n)
    out._nvals_cache = n  # the rank is dense
    return out


def personalized_pagerank(A: GrMatrix, seeds: list[int],
                          damping: float = 0.85,
                          max_iters: int = 10) -> DataFrame:
    """Personalized PageRank: power iteration whose restart AND
    dangling mass both return to the seed set — the random walker
    teleports to a uniform distribution over ``seeds`` instead of over
    all nodes. r_{t+1} = (1-d) s + d (P^T r_t + dang_t s) with
    s = e_S / |S|; r_0 = s. Fixed iterations, no early exit, so the
    trajectory is deterministic and an unrolled-CTE oracle replays it.

    Plan shape: pagerank's (``_power_iteration``). The seed vector is a
    literal IN over the node relation — no extra join. Output:
    (i, ppr) rounded 6, seeds-reachable nodes only may be nonzero."""
    ids = ", ".join(str(int(x)) for x in seeds)
    s_col = (f"CASE WHEN i IN ({ids}) THEN {sql_double(1.0 / len(seeds))} "
             f"ELSE 0.0D END")
    restart, d = sql_double(1.0 - damping), sql_double(damping)

    def update(s, dang):
        return f"{restart} * {s_col} + {d} * ({s} + {dang} * {s_col})"

    r = _power_iteration(A, s_col, update, max_iters)
    return r.selectExpr("i", "round(v, 6) AS ppr")


def triangle_count(A: GrMatrix) -> int:
    """Triangle counting via the classic GraphBLAS masked-matmul
    formulation, collapsed to its minimal plan: U = strict upper triangle
    of the symmetrized adjacency; ntri = reduce(C) where C<U.S> =
    U * U.T over plus_pair. Because the final reduction is a GLOBAL sum
    of pair counts, the per-(i,j) aggregation is algebraically redundant:
    sum over C = |{(i,j,k): U[i,k] & U[j,k] & U[i,j]}|, i.e. a COUNT of
    the mask-semi-joined wedge relation. Executing it that way removes
    one full shuffle (the groupBy(i,j) + scalar reduce) versus the
    two-stage form — the mask semi-join still happens BELOW any
    aggregation, so the wedge relation never materializes more than the
    masked rows."""
    with _Cache() as cache:
        U = cache.persist(_undirected(A, "i", "j"))
        wedges = (U.select(F.col("i"), F.col("j").alias("k"))
                   .join(U.select(F.col("i").alias("j"),
                                  F.col("j").alias("k")), on="k")
                   .select("i", "j"))
        return int(wedges.join(U, on=["i", "j"], how="left_semi").count())


def katz_centrality(A: GrMatrix, alpha: float = 0.1, beta: float = 1.0,
                    iters: int = 5) -> DataFrame:
    """Katz centrality by the fixed-iteration recurrence

        x_{t+1}(j) = beta + alpha * sum_{i->j} x_t(i),  x_0 = beta·1

    — after K steps x(j) counts every walk into j of length <= K,
    attenuated alpha^len (converges to the closed form for
    alpha < 1/rho(A); callers pick alpha accordingly). Fixed
    iterations and no normalization keep the trajectory deterministic
    and replayable as unrolled SQL CTEs (same discipline as pagerank /
    hits). Plan: one join + map-side aggregate per step against the
    distinct edges cached by source (``_edge_prelude``), each edge
    counted once, then a left join into the last x; joins hinted from
    the vertex count (``_sized``). Output: (i, katz rounded 6) over all
    n vertices (isolated vertices carry beta)."""
    if iters < 1:
        raise ValueError("katz_centrality requires iters >= 1")
    n, b = A.nrows, sql_double(beta)
    x_next = f"{b} + {sql_double(alpha)} * coalesce(_s, 0.0D) AS _x"
    with _Cache() as cache:
        walk = _walk(_edge_prelude(A, cache, "i")["i"], n)

        def step(rnd, x, *_):
            return walk(x, x).selectExpr("i", x_next)

        # the start is x_1, stepped from the constant x_0, so x_0 is never
        # checkpointed: it costs no job
        x, _ = _fixpoint(step(1, _nodes(n).selectExpr("i", f"{b} AS _x")),
                         step, schema=dict(i="0", _x="0"), rounds=iters - 1)
        return x.selectExpr("i", "round(_x, 6) AS katz")


def hits(A: GrMatrix, iters: int = 5) -> DataFrame:
    """HITS hubs & authorities (Kleinberg) by fixed-iteration power
    method with L1 normalization:

        a_j <- sum_{i->j} h_i ;  a <- a / sum(a)
        h_i <- sum_{i->j} a_j ;  h <- h / sum(h)

    Same plan shape as pagerank: a round is one half-step, one join +
    map-side aggregate against the cached adjacency, checkpointed once;
    the state (i, v, _p) holds the unnormalized sums of this half-step
    and of the last, and observes their totals. The next half-step
    divides by the total as it reads them, from a cross-joined local
    row (``_scalars``), so the normalizer costs no job. Every join is
    hinted from the vertex count (``_sized``). Fixed iterations, no
    convergence test — fully replayable as unrolled SQL CTEs (final
    values rounded to 6 decimals absorb distributed-sum drift, the q37
    precedent).

    Returns a DataFrame (i, hub, authority) over all n vertices
    (isolated vertices carry 0.0)."""
    if iters < 1:
        raise ValueError("hits requires iters >= 1")
    n = A.nrows
    with _Cache() as cache:
        # TWO cached copies, partitioned by each half-step's join key:
        # the a-step joins h on i, the h-step joins a on j — with one copy
        # the other half-step reshuffles the whole edge relation every
        # iteration (measured 87.6 s -> 41.2 s at 20M edges on local[32],
        # together with checkpointing a before h consumes it — otherwise
        # h's checkpoint re-executes a's whole plan)
        edges = _edge_prelude(A, cache, "i", "j")
        # per direction: the walk, and the last sums as its sent values
        half = {src: (_walk(edges[src], n, src, dst),
                      (f"i AS {src}", f"{_share('v', '_t')} AS _x"))
                for src, dst in (("i", "j"), ("j", "i"))}

        def step(rnd, x, m, *_):
            # even rounds: authorities from hubs; odd rounds: hubs back
            walk, sent = half["j" if rnd % 2 else "i"]
            xn = (x.crossJoin(_scalars(x.sparkSession, _t=m["t"] or 0.0))
                   .selectExpr(*sent))
            return walk(xn, x).selectExpr("i", "coalesce(_s, 0.0D) AS v",
                                          "v AS _p")

        # the start is a_1, stepped from h_0 = 1/n everywhere (ones over
        # their total n), so h_0 is never checkpointed: it costs no job
        h0 = _nodes(n).selectExpr("i", "1.0D AS v")
        h, m = _fixpoint(
            step(0, h0, dict(t=n)), step, schema=dict(i="0", v="0", _p="0"),
            metrics=dict(t="sum(v)", tp="sum(_p)"), rounds=2 * iters - 1)
        return (h.crossJoin(_scalars(h.sparkSession, _th=m["t"] or 0.0,
                                     _ta=m["tp"] or 0.0))
                 .selectExpr("i", f"round({_share('v', '_th')}, 6) AS hub",
                             f"round({_share('_p', '_ta')}, 6) AS authority"))


def _walk(edges: DataFrame, n: int, src: str = "i", dst: str = "j"):
    """The step of Katz and HITS along ``edges``, as a function of
    (sent, x): the dense vertex frame ``x`` left-joined with ``_s``, per
    vertex the sum of ``sent``'s ``_x`` (keyed by ``src``) over the
    edges src -> dst into it, null without one. Both joins are hinted
    from the vertex count ``n`` (``_sized``); the aggregate is built
    here, once per loop."""
    to, total = F.expr(f"{dst} AS i"), F.expr("sum(_x) AS _s")

    def walk(sent: DataFrame, x: DataFrame) -> DataFrame:
        raw = edges.join(_sized(sent, n), on=src).groupBy(to).agg(total)
        return x.join(_sized(raw, n), on="i", how="left")

    return walk


def _share(col: str, total: str) -> str:
    """SQL for ``col`` over ``total``, or 0 when the total is 0."""
    return f"CASE WHEN {total} != 0 THEN {col} / {total} ELSE 0.0D END"


def eccentricity(A: GrMatrix, max_iters: int = 32) -> DataFrame:
    """Per-vertex eccentricity (longest shortest path to any REACHABLE
    vertex) via the min-plus ALL-PAIRS closure, composed entirely from
    the core GraphBLAS surface: D_{k+1} = D_k (+) D_k minplus.mxm A
    with the ewise_add(min) union merge, iterated to the fixpoint
    (``_minplus_closure``), exactly the D = D min.+ A recurrence the GraphBLAS
    APSP literature writes. d(i, i) = 0 by definition (closure
    round-trips are discarded); unreachable pairs simply never appear
    (sparse semantics — no +inf sentinels).

    APSP is inherently O(V^2) OUTPUT — this is the bounded-graph /
    landmark-set diagnostic (diameter, radius, center), not a
    100 TB-edge op; at scale run it on a sampled landmark subgraph.
    Raises if the closure has not converged
    within ``max_iters`` (negative cycles are impossible with weight-1
    edges, so non-convergence means max_iters is too small).
    Output: (i, ecc, n_reachable) — ecc BIGINT, excluding i itself.

    Reference scope: dask-grblas ships the semiring ops (matrix.py
    mxm/ewise_add) but no algorithm layer; this composes them the way
    its GraphBLAS upstream intends.
    """
    D = _minplus_closure(A, max_iters, "eccentricity")
    return (D.df.where(F.col("i") != F.col("j"))
              .groupBy("i")
              .agg(F.max("v").cast("bigint").alias("ecc"),
                   F.count("*").cast("bigint").alias("n_reachable")))


def _minplus_closure(A: GrMatrix, max_iters: int,
                     caller: str) -> GrMatrix:
    """Hop-count ALL-PAIRS shortest-path closure over the core
    semiring surface: D_{k+1} = D_k ewise_add(min) (D_k min.+ W) with
    W the weight-1 pattern of A, iterated to the fixpoint. A round only
    adds entries or lowers them, so it changed nothing exactly when its
    entry count and its value sum (both observed on its checkpoint)
    equal the last round's. Precondition: a hop count is at most n, so
    the int64 sum of the n^2 entries holds for n up to about 2M. Raises
    on non-convergence (weight-1 edges cannot cycle negatively, so that
    only means max_iters is below the graph diameter)."""
    ones = A.df.select("i", "j", F.lit(1).cast("bigint").alias("v"))
    W = GrMatrix.from_dataframe(ones, nrows=A.nrows, ncols=A.ncols,
                                dtype="INT64")

    def step(rnd, D, m, cache):
        D = GrMatrix(D, INT64, A.nrows, A.ncols)
        return D.ewise_add(D.mxm(W, semiring.min_plus).new(),
                           binary.min).new().df

    def same(m, prev):
        return prev is not None and (m["n"], m["s"]) == (prev["n"], prev["s"])

    D, _ = _fixpoint(W.df, step, same, schema=dict(i="0", j="0", v="0"),
                     metrics=dict(s="sum(v)"), rounds=max_iters,
                     diverged=f"{caller}: min-plus closure not converged "
                              f"within {max_iters} iterations — raise "
                              f"max_iters")
    return GrMatrix(D, INT64, A.nrows, A.ncols)


def harmonic_centrality(A: GrMatrix, max_iters: int = 32) -> DataFrame:
    """Harmonic centrality H(i) = sum over reachable j != i of
    1 / d(i, j) — the disconnected-graph-safe closeness variant
    (unreachable pairs contribute 0 instead of poisoning an average),
    from the same min-plus closure as ``eccentricity`` (bounded-graph
    / landmark diagnostic by design; see eccentricity's scale note).
    Output: (i, harmonic rounded 6, n_reachable)."""
    D = _minplus_closure(A, max_iters, "harmonic_centrality")
    return (D.df.where(F.col("i") != F.col("j"))
              .groupBy("i")
              .agg(F.round(F.sum(F.lit(1.0) / F.col("v")), 6)
                    .alias("harmonic"),
                   F.count("*").cast("bigint").alias("n_reachable")))


def capped_hub_count(A: GrMatrix,
                     max_degree: int = 4096) -> tuple[int, int]:
    """Observability hook for the degree-capped approximations
    (``adamic_adar`` / ``neighborhood_jaccard``, whose ``max_degree``
    caps are ON by default): returns (n_hubs_over_cap, max_degree_seen)
    for the symmetric adjacency. A nonzero first element means the
    capped call silently pruned witnesses on this graph — run this
    once per new graph before trusting capped scores as exact, or pass
    ``max_degree=None`` for the exact quadratic computation."""
    deg = (A.df.select(F.col("i").cast("bigint").alias("z"),
                       F.col("j").cast("bigint").alias("nbr"))
               .where(F.col("z") != F.col("nbr"))
               .distinct()
               .groupBy("z").agg(F.count("*").alias("deg")))
    row = deg.agg(
        F.coalesce(F.sum(F.when(F.col("deg") > max_degree, 1)
                          .otherwise(0)), F.lit(0)).alias("n_over"),
        F.coalesce(F.max("deg"), F.lit(0)).alias("dmax")).collect()[0]
    return int(row["n_over"]), int(row["dmax"])


def adamic_adar(A: GrMatrix, max_degree: int | None = 4096) -> DataFrame:
    """Adamic–Adar link prediction over a symmetric adjacency: for every
    NON-adjacent pair (u, v) with at least one common neighbor,
    score(u, v) = sum over common neighbors z of 1 / ln(deg(z)).

    Plan: one self-join of the edge list on the shared endpoint z
    (neighbor-pair generation), a (u, v) aggregation, and an anti-join
    against the edge set to drop already-connected pairs — three
    exchanges total, no cartesian. Every pair-producing z has deg >= 2,
    so ln(deg) is never 0.

    The z-self-join fans out deg(z)^2 rows — the classic hub blowup.
    ``max_degree`` excludes hubs above the cap from pair GENERATION
    (the standard approximation: a z with deg > cap contributes
    1/ln(deg) ~ 0 per pair anyway and its pair fan-out is quadratic);
    the cap is ON BY DEFAULT (4096 — a 1M-degree hub would otherwise
    emit 5·10^11 pairs; the codebase-wide caps-default-ON convention,
    same as the dedup/LSH bucket caps). Pass ``max_degree=None`` for
    the exact quadratic computation on graphs known to be hub-free.
    Scores of surviving pairs use TRUE degrees (the cap only prunes
    which z generate pairs), so capped output is a subset-consistent
    approximation an oracle can replay exactly.
    The cap prunes SILENTLY — use ``capped_hub_count(A, max_degree)``
    to check whether a given graph actually has over-cap hubs before
    treating capped scores as exact.

    Output: (u, v, n_common, score) with u < v, score rounded to 6.
    """
    # r12 optimization (guide §2.4): `edges` (a full distinct) feeds
    # THREE consumers (degrees, pair generation, the closing
    # anti-join) and `gen` feeds BOTH self-join sides — unshared, the
    # distinct + degree join re-ran per branch. Size-gated
    # materialization computes each once at scale; lazy below.
    from .functions.materialize import materialize_if_large

    edges = materialize_if_large(
        A.df.select(F.col("i").cast("bigint").alias("z"),
                    F.col("j").cast("bigint").alias("nbr"))
            .where(F.col("z") != F.col("nbr"))
            .distinct())
    deg = edges.groupBy("z").agg(F.count("*").alias("deg"))
    gen = edges.join(deg, on="z")
    if max_degree is not None:
        gen = gen.where(F.col("deg") <= max_degree)
    gen = materialize_if_large(gen)
    e1 = gen.select("z", F.col("nbr").alias("u"), "deg")
    e2 = gen.select("z", F.col("nbr").alias("v"))
    pairs = (e1.join(e2, on="z")
               .where(F.col("u") < F.col("v"))
               .groupBy("u", "v")
               .agg(F.count("*").cast("bigint").alias("n_common"),
                    F.sum(F.lit(1.0) / F.log(F.col("deg")))
                     .alias("_s")))
    adj = edges.select(F.col("z").alias("u"), F.col("nbr").alias("v"))
    return (pairs.join(adj, on=["u", "v"], how="left_anti")
                 .select("u", "v", "n_common",
                         F.round("_s", 6).alias("score")))


def clustering_coefficient(A: GrMatrix) -> DataFrame:
    """Per-vertex local clustering coefficient over a symmetric
    adjacency: coeff(v) = 2·tri(v) / (deg(v)·(deg(v)−1)), 0 when
    deg < 2, where tri(v) counts triangles through v.

    Triangles are ENUMERATED with the degree-ordered orientation trick
    behind every production triangle counter: each undirected edge is
    directed from its lower (deg, id) endpoint, wedges join two
    oriented out-edges at their source, and the closing edge check is
    an equi-join against the oriented edge set. A vertex's wedge
    fan-out is bounded by its ORIENTED out-degree — O(sqrt(2m)) on any
    graph (arboricity bound) — so a degree-10^6 hub never produces
    deg² wedge rows. Three exchanges; each triangle found exactly once
    and exploded to its three corners for the per-vertex count.

    Output: (v, deg, tri, coeff) for every vertex with deg >= 1,
    coeff rounded to 6.
    """
    # r12 optimization (guide §2.4): `und` (a full distinct) feeds the
    # degree aggregate + two degree joins, and the oriented relation
    # `o` feeds THREE branches (both wedge sides + the closing edge
    # set) — unshared, each branch re-ran the distinct + degree-join
    # pipeline. Size-gated materialization; lazy below the gate.
    from .functions.materialize import materialize_if_large

    und = materialize_if_large(
        A.df.select(F.col("i").cast("bigint").alias("i"),
                    F.col("j").cast("bigint").alias("j"))
            .where(F.col("i") != F.col("j"))
            .distinct())
    deg = und.groupBy(F.col("i").alias("v")) \
             .agg(F.count("*").alias("deg"))
    ed = (und.join(deg.select(F.col("v").alias("i"),
                              F.col("deg").alias("di")), on="i")
             .join(deg.select(F.col("v").alias("j"),
                              F.col("deg").alias("dj")), on="j"))
    o = materialize_if_large(
        ed.where(F.struct("di", "i") < F.struct("dj", "j"))
          .select(F.col("i").alias("a"), F.col("j").alias("b"),
                  F.col("dj").alias("db")))
    w1 = o.select(F.col("a"), F.col("b"), F.col("db"))
    w2 = o.select(F.col("a"), F.col("b").alias("c"),
                  F.col("db").alias("dc"))
    wedges = (w1.join(w2, on="a")
                .where(F.struct("db", "b") < F.struct("dc", "c")))
    closing = o.select(F.col("a").alias("b"), F.col("b").alias("c"))
    tris = wedges.join(closing, on=["b", "c"]).select("a", "b", "c")
    per_v = (tris.select(F.explode(F.array("a", "b", "c")).alias("v"))
                 .groupBy("v").agg(F.count("*").alias("tri")))
    out = deg.join(per_v, on="v", how="left") \
             .withColumn("tri", F.coalesce("tri", F.lit(0)).cast("bigint"))
    coeff = F.when(F.col("deg") < 2, F.lit(0.0)).otherwise(
        F.lit(2.0) * F.col("tri") / (F.col("deg") * (F.col("deg") - 1)))
    return out.select("v", F.col("deg").cast("bigint").alias("deg"),
                      "tri", F.round(coeff, 6).alias("coeff"))


def _edge_support(und: DataFrame) -> DataFrame:
    """Per-edge triangle support of a canonical undirected edge set
    (a < b, distinct): the degree-ordered wedge enumeration behind
    `clustering_coefficient` (each wedge fan-out bounded by ORIENTED
    out-degree — O(sqrt(2m)) by the arboricity bound, so hubs never
    emit deg² wedge rows), each triangle exploded to its three
    canonical edges and counted. Returns (a, b, support) for edges in
    >= 1 triangle; edges in none are absent (callers coalesce)."""
    deg = _degrees(und, "a", "b")
    ed = (und.join(deg.select(F.col("_n").alias("a"),
                              F.col("_d").alias("da")), on="a")
             .join(deg.select(F.col("_n").alias("b"),
                              F.col("_d").alias("db")), on="b"))
    # orient each edge from its lower (deg, id) endpoint.
    # r12 optimization (guide §2.4): `o` feeds THREE branches (both
    # wedge sides + the closing edge set) — size-gated
    # materialization shares the orientation join at scale.
    from .functions.materialize import materialize_if_large
    fwd = F.struct("da", "a") < F.struct("db", "b")
    o = materialize_if_large(
        ed.select(F.when(fwd, F.col("a")).otherwise(F.col("b"))
                   .alias("s"),
                  F.when(fwd, F.col("b")).otherwise(F.col("a"))
                   .alias("t"),
                  F.when(fwd, F.col("db")).otherwise(F.col("da"))
                   .alias("dt")))
    w1 = o.select(F.col("s"), F.col("t").alias("x"),
                  F.col("dt").alias("dx"))
    w2 = o.select(F.col("s"), F.col("t").alias("y"),
                  F.col("dt").alias("dy"))
    wedges = (w1.join(w2, on="s")
                .where(F.struct("dx", "x") < F.struct("dy", "y")))
    closing = o.select(F.col("s").alias("x"), F.col("t").alias("y"))
    tris = wedges.join(closing, on=["x", "y"]).select("s", "x", "y")
    tri_edges = tris.select(F.explode(F.array(
        F.struct(F.least("s", "x").alias("a"),
                 F.greatest("s", "x").alias("b")),
        F.struct(F.least("s", "y").alias("a"),
                 F.greatest("s", "y").alias("b")),
        F.struct(F.least("x", "y").alias("a"),
                 F.greatest("x", "y").alias("b")))).alias("_e")) \
        .select("_e.a", "_e.b")
    return tri_edges.groupBy("a", "b") \
                    .agg(F.count("*").cast("bigint").alias("support"))


def k_truss(A: GrMatrix, k: int = 4, max_iters: int = 30) -> DataFrame:
    """k-truss decomposition membership: the maximal subgraph in which
    EVERY edge participates in >= k-2 triangles (the cohesive-subgraph
    standard one notch stronger than k-core — a k-truss is always
    inside a (k-1)-core). Iterative support peeling: compute per-edge
    triangle support on the surviving subgraph, drop under-supported
    edges, repeat to the fixpoint (peeling is monotone decreasing, so
    extra rounds past the fixpoint are no-ops — which is what makes a
    fixed-depth unrolled SQL oracle exact).

    Plan per round: one degree agg + one wedge self-join bounded by
    oriented out-degree (arboricity bound — no deg² hub blowup) + one
    closing equi-join; the round's surviving edges are its checkpoint,
    and the stop test reads their count observed on it. Reaching
    ``max_iters`` without the fixpoint raises: the edges filtered by the
    last round's supports are not a k-truss.

    Output: (a, b, support) for the surviving canonical edges, with
    their fixpoint support."""
    if k < 3:
        raise ValueError("k_truss requires k >= 3")

    def step(rnd, und, m, cache):
        und = und.select("a", "b")  # support is re-derived every round
        return (und.join(_edge_support(und), on=["a", "b"])
                   .where(F.col("support") >= k - 2))

    def peeled(m, prev):
        return m["n"] == 0 or (prev is not None and m["n"] == prev["n"])

    und, _ = _fixpoint(
        _undirected(A, "a", "b").select("a", "b", F.lit(0).cast("bigint")
                                                  .alias("support")),
        step, peeled, schema=dict(a="0", b="0", support="0"),
        rounds=max_iters,
        diverged=f"k_truss did not reach its peeling fixpoint within "
                 f"max_iters={max_iters} rounds; raise max_iters")
    return und


def neighborhood_jaccard(A: GrMatrix,
                         max_degree: int | None = 4096) -> DataFrame:
    """Neighborhood-Jaccard link prediction over a symmetric adjacency:
    for every NON-adjacent pair (u, v) with at least one common
    neighbor, J(u, v) = |N(u) n N(v)| / |N(u) u N(v)| — the set-overlap
    companion to adamic_adar (same plan skeleton; the degree join
    replaces the 1/ln(deg) weights).

    Plan: one self-join of the edge list on the shared endpoint z,
    a (u, v) aggregation, two broadcast-able degree joins, and an
    anti-join against the edge set. |union| = deg(u) + deg(v) - common,
    so no second pair generation. ``max_degree`` caps hub fan-out in
    pair GENERATION exactly as in adamic_adar — ON BY DEFAULT (4096,
    the caps-default-ON convention); ``None`` = exact. Degrees in the
    Jaccard denominator stay TRUE degrees, so capped output is a
    subset-consistent approximation (n_common may undercount pairs
    whose only witnesses are capped hubs — those pairs vanish rather
    than mis-score when ALL their witnesses are hubs). The cap prunes
    SILENTLY — ``capped_hub_count(A, max_degree)`` reports whether the
    graph has over-cap hubs at all.
    Output: (u, v, n_common, jacc) with u < v, jacc rounded to 6."""
    edges = (A.df.select(F.col("i").cast("bigint").alias("z"),
                         F.col("j").cast("bigint").alias("nbr"))
                 .where(F.col("z") != F.col("nbr"))
                 .distinct())
    edges, _ = _checkpoint(edges)  # shared: gen, degrees, anti-join
    deg = edges.groupBy("nbr").agg(F.count("*").alias("deg")) \
               .withColumnRenamed("nbr", "_n")
    gen = edges
    if max_degree is not None:
        from .functions.materialize import materialize_if_large

        zdeg = edges.groupBy("z").agg(F.count("*").alias("zd"))
        # r12 (guide §2.4): both self-join sides consume `gen` —
        # size-gate the cap join so it runs once at scale.
        gen = materialize_if_large(
            edges.join(zdeg, on="z")
                 .where(F.col("zd") <= max_degree).drop("zd"))
    e1 = gen.select("z", F.col("nbr").alias("u"))
    e2 = gen.select("z", F.col("nbr").alias("v"))
    pairs = (e1.join(e2, on="z")
               .where(F.col("u") < F.col("v"))
               .groupBy("u", "v")
               .agg(F.count("*").cast("bigint").alias("n_common")))
    adj = edges.select(F.col("z").alias("u"), F.col("nbr").alias("v"))
    scored = (pairs.join(adj, on=["u", "v"], how="left_anti")
                   .join(deg.withColumnRenamed("_n", "u")
                            .withColumnRenamed("deg", "du"), on="u")
                   .join(deg.withColumnRenamed("_n", "v")
                            .withColumnRenamed("deg", "dv"), on="v"))
    union = F.col("du") + F.col("dv") - F.col("n_common")
    return scored.select("u", "v", "n_common",
                         F.round(F.col("n_common") / union, 6)
                          .alias("jacc"))


def degree_assortativity(A: GrMatrix) -> DataFrame:
    """Degree assortativity of a symmetric graph: the Pearson
    correlation of endpoint degrees over all (directed) edges — do
    hubs link to hubs (r > 0, social nets) or to leaves (r < 0,
    tech/biology)? One degree aggregate, one edge-degree join, one
    closed-form moment fold (the same rounded expression tree the SQL
    oracle uses). Degenerate (regular) graphs yield NULL. Output:
    one row (n_edges, r rounded 6)."""
    edges = (A.df.select(F.col("i").alias("u"), F.col("j").alias("v"))
                 .where(F.col("u") != F.col("v"))
                 .distinct())
    edges, _ = _checkpoint(edges)  # shared: degrees + moment fold
    deg = edges.groupBy("u").agg(F.count("*").alias("d")) \
               .withColumnRenamed("u", "_n")
    j = (edges.join(deg.withColumnRenamed("_n", "u")
                       .withColumnRenamed("d", "du"), on="u")
              .join(deg.withColumnRenamed("_n", "v")
                       .withColumnRenamed("d", "dv"), on="v"))
    x = F.col("du").cast("double")
    y = F.col("dv").cast("double")
    m = j.agg(F.count("*").cast("double").alias("m"),
              F.sum(x).alias("sx"), F.sum(y).alias("sy"),
              F.sum(x * x).alias("sxx"), F.sum(y * y).alias("syy"),
              F.sum(x * y).alias("sxy"))
    vx = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")
    r = F.when((vx > 0) & (vy > 0),
               F.round((F.col("m") * F.col("sxy")
                        - F.col("sx") * F.col("sy"))
                       / F.sqrt(vx * vy), 6))
    return m.select(F.col("m").cast("bigint").alias("n_edges"),
                    r.alias("r"))


def reciprocity(A: GrMatrix) -> DataFrame:
    """Reciprocity of a DIRECTED graph: the fraction of edges whose
    reverse edge also exists — one self-join of the (deduplicated,
    loop-free) edge list against its transpose. Output: one row
    (n_edges, n_reciprocal, reciprocity rounded 6)."""
    edges = (A.df.select(F.col("i").alias("u"), F.col("j").alias("v"))
                 .where(F.col("u") != F.col("v"))
                 .distinct())
    edges, m = _checkpoint(edges)
    rev = edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    n = m["n"]
    k = edges.join(rev, on=["u", "v"], how="left_semi").count()
    spark = get_session()
    return spark.createDataFrame(
        [(int(n), int(k), round(k / n, 6) if n else None)],
        "n_edges long, n_reciprocal long, reciprocity double")


def modularity(A: GrMatrix, labels: DataFrame,
               node_col: str = "node",
               label_col: str = "label") -> DataFrame:
    """Newman modularity Q of a given node partition over the
    UNDIRECTED simple graph of A (edges canonicalized to
    (min, max), loops dropped): Q = sum_c [ m_c/m - (d_c/(2m))^2 ]
    — the community-quality scalar to evaluate LPA/CC output or any
    exogenous partition (reference exposes the building blocks, not
    the metric; this engine ships it as a first-class aggregate).

    Plan: ONE canonicalize+distinct shuffle builds the edge set
    (checkpointed, shared by all three aggregates); degrees fold
    from the edge list; two BROADCASTable label joins (labels is a
    node-sized dimension — broadcast when small, shuffle-hash
    otherwise, Catalyst/AQE picks) classify intra-community edges.
    The fold Q = sum_c(4*m*m_c - d_c^2) / (4*m^2) is PURE INTEGER
    arithmetic in DECIMAL(38,0) — fold-order invariant — with one
    double division at the end, round 6. Nodes missing a label form
    their own null community (excluded, matching the SQL inner-join
    oracle). Output: one row (n_edges, n_communities, q)."""
    lab = labels.select(F.col(node_col).cast("bigint").alias("_n"),
                        F.col(label_col).alias("_l"))
    und, counts = _checkpoint(_undirected(A))
    m = counts["n"]
    spark = get_session()
    if m == 0:
        return spark.createDataFrame(
            [(0, 0, None)],
            "n_edges long, n_communities long, q double")
    deg = _degrees(und)
    # d_c = sum of degrees per community; m_c = within-community edges
    dc = (deg.join(lab, on="_n")
             .groupBy("_l").agg(F.sum("_d").cast("bigint").alias("_dc")))
    lu = lab.select(F.col("_n").alias("u"), F.col("_l").alias("_lu"))
    lv = lab.select(F.col("_n").alias("v"), F.col("_l").alias("_lv"))
    mc = (und.join(lu, on="u").join(lv, on="v")
             .where(F.col("_lu") == F.col("_lv"))
             .groupBy(F.col("_lu").alias("_l"))
             .agg(F.count("*").cast("bigint").alias("_mc")))
    per = (dc.join(mc, on="_l", how="left")
             .select(F.col("_dc"),
                     F.coalesce(F.col("_mc"), F.lit(0)).alias("_mc")))
    row = per.agg(
        F.count("*").alias("_k"),
        # Cast to DECIMAL(38,0) BEFORE multiplying (spearman_rho's
        # pattern, and what the oracle SQL does): d_c can reach 2m,
        # so d_c^2 overflows int64 once a community's degree sum
        # passes ~3e9 — exactly the 100TB-scale domain.
        F.sum(F.col("_mc").cast("decimal(38,0)") * F.lit(4 * int(m))
              - F.col("_dc").cast("decimal(38,0)") * F.col("_dc"))
         .alias("_num")).collect()[0]
    q = int(row["_num"] or 0) / (4.0 * m * m)
    q6 = (math.floor(q * 1e6 + 0.5) / 1e6 if q >= 0
          else -(math.floor(-q * 1e6 + 0.5) / 1e6))
    return spark.createDataFrame(
        [(int(m), int(row["_k"] or 0), q6)],
        "n_edges long, n_communities long, q double")


def rich_club(A: GrMatrix, k: int) -> DataFrame:
    """Rich-club coefficient phi(k) = 2*E_k / (N_k*(N_k-1)) of the
    UNDIRECTED simple graph of A: the edge density among nodes of
    degree > k — do the hubs form their own dense core? (Colizza et
    al. 2006 definition, unnormalized.)

    Plan: canonical edge set (one distinct shuffle, checkpointed),
    degree fold, then the degree>k node set SEMI-joins the edge list
    on both endpoints — the rich set is orders of magnitude smaller
    than the graph, so both probes broadcast at scale; nothing ever
    re-shuffles the full edge list. All-integer output plus one
    double division, round 6; phi NULL when fewer than 2 rich
    nodes. Output: one row (k, n_rich, e_rich, phi)."""
    und, _ = _checkpoint(_undirected(A))
    deg = _degrees(und)
    rich = deg.where(F.col("_d") > k).select("_n")
    n_rich = rich.count()
    e_rich = (und.join(rich.withColumnRenamed("_n", "u"),
                       on="u", how="left_semi")
                 .join(rich.withColumnRenamed("_n", "v"),
                       on="v", how="left_semi")
                 .count())
    spark = get_session()
    if n_rich < 2:
        return spark.createDataFrame(
            [(k, int(n_rich), int(e_rich), None)],
            "k long, n_rich long, e_rich long, phi double")
    phi = 2.0 * e_rich / (n_rich * (n_rich - 1))
    return spark.createDataFrame(
        [(k, int(n_rich), int(e_rich),
          math.floor(phi * 1e6 + 0.5) / 1e6)],
        "k long, n_rich long, e_rich long, phi double")


def degree_histogram(A: GrMatrix) -> DataFrame:
    """Degree distribution of the UNDIRECTED simple graph of A:
    (degree, n_nodes, share) — the first profiling pass over any new
    edge dump (power-law check, hub audit, cap tuning for the
    max_degree-capped operators). Two map-side-combined aggregates
    (node degree, then nodes per degree) over the canonical edge set;
    the output is bounded by the max degree, never by n. share
    rounds 6."""
    und = _undirected(A)
    deg = _degrees(und)
    hist = deg.groupBy(F.col("_d").cast("bigint").alias("degree")) \
              .agg(F.count("*").cast("bigint").alias("n_nodes"))
    total = hist.agg(F.sum("n_nodes").alias("_t"))
    return (hist.crossJoin(F.broadcast(total))
                .select("degree", "n_nodes",
                        F.round(F.col("n_nodes") / F.col("_t"), 6)
                         .alias("share")))
