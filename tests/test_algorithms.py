"""Algorithm-level end-to-end tests (reference analogue: notebook
validation of FastSV CC and SSSP, SURVEY section 5.7)."""

import threading

import pytest

import dask_grblas_spark as gb
from dask_grblas_spark import algorithms as alg

# the 12-vertex FastSV notebook graph (FIXTURES.md): 3 components
FASTSV_EDGES = [(0, 1), (0, 2), (0, 3), (1, 2), (2, 4), (2, 5), (3, 4),
                (6, 7), (6, 8), (9, 10), (9, 11)]


def fastsv_matrix(spark):
    rows = [e[0] for e in FASTSV_EDGES] + [e[1] for e in FASTSV_EDGES]
    cols = [e[1] for e in FASTSV_EDGES] + [e[0] for e in FASTSV_EDGES]
    return gb.Matrix.from_values(rows, cols, [1] * len(rows), nrows=12, ncols=12)


def test_connected_components(spark):
    A = fastsv_matrix(spark)
    comp = alg.connected_components(A).to_dict()
    assert comp == {**{i: 0 for i in range(6)},
                    **{i: 6 for i in (6, 7, 8)},
                    **{i: 9 for i in (9, 10, 11)}}


def test_connected_components_high_diameter(spark):
    # a 64-vertex PATH (diameter 63): pure min-label propagation needs
    # ~63 rounds; the FastSV pointer-jumping shortcut converges in
    # O(log n). Correctness gate for the shortcut step — labels must
    # still collapse to the component minimum, plus one isolated vertex.
    n = 65
    rows = list(range(63)) + list(range(1, 64))
    cols = list(range(1, 64)) + list(range(63))
    A = gb.Matrix.from_values(rows, cols, [1] * len(rows),
                              nrows=n, ncols=n)
    comp = alg.connected_components(A).to_dict()
    assert comp == {**{i: 0 for i in range(64)}, 64: 64}


def test_bfs_level(spark):
    A = fastsv_matrix(spark)
    levels = alg.bfs_level(A, 0).to_dict()
    assert levels == {0: 0, 1: 1, 2: 1, 3: 1, 4: 2, 5: 2}


def test_sssp(spark):
    # weighted digraph: 0->1 (1), 0->2 (4), 1->2 (2), 2->3 (1), 1->3 (7)
    A = gb.Matrix.from_values([0, 0, 1, 2, 1], [1, 2, 2, 3, 3],
                              [1.0, 4.0, 2.0, 1.0, 7.0], nrows=4, ncols=4)
    dist = alg.sssp(A, 0).to_dict()
    assert dist == {0: 0.0, 1: 1.0, 2: 3.0, 3: 4.0}


def test_triangle_count(spark):
    # K4 has 4 triangles
    rows, cols = [], []
    for i in range(4):
        for j in range(4):
            if i != j:
                rows.append(i)
                cols.append(j)
    K4 = gb.Matrix.from_values(rows, cols, [1] * len(rows), nrows=4, ncols=4)
    assert alg.triangle_count(K4) == 4
    # FastSV graph: triangles {0,1,2}, {2?}: (0,2),(2,4),(3,4),(0,3) square;
    # triangles: (0,1,2) via 0-1,1-2,0-2; (0,3,4)? 0-3,3-4,0-4? no 0-4 edge.
    # (2,4,?) 2-4,3-4,2-3? no 2-3. So exactly 1 triangle.
    A = fastsv_matrix(spark)
    assert alg.triangle_count(A) == 1


def test_pagerank(spark):
    # simple 3-cycle: uniform ranks
    A = gb.Matrix.from_values([0, 1, 2], [1, 2, 0], [1, 1, 1], nrows=3, ncols=3)
    pr = alg.pagerank(A, max_iters=50, tol=1e-10).to_dict()
    for v in pr.values():
        assert v == pytest.approx(1 / 3, rel=1e-6)
    # star: center receives more rank; dangling center redistributes
    B = gb.Matrix.from_values([1, 2, 3], [0, 0, 0], [1, 1, 1], nrows=4, ncols=4)
    pr = alg.pagerank(B, max_iters=60, tol=1e-12).to_dict()
    assert pr[0] > pr[1]
    assert pr[1] == pytest.approx(pr[2], rel=1e-9)
    assert sum(pr.values()) == pytest.approx(1.0, rel=1e-6)


# py4j commands a frontier or PageRank round may send from the main
# thread: a PySpark Column call alone costs about ten, for the call site
# PySpark records, so a round that built its Columns would send 350-390
ROUND_COMMANDS = 100


def _path(length, size):
    """An undirected path over vertices 0..length-1 of ``size``, weight 1."""
    rows = list(range(length - 1)) + list(range(1, length))
    cols = list(range(1, length)) + list(range(length - 1))
    return gb.Matrix.from_values(rows, cols, [1.0] * len(rows),
                                 nrows=size, ncols=size)


def test_multi_round_loops_on_a_path(spark):
    """SSSP, BFS and components on an 11-vertex path: later rounds merge
    into a state that is a checkpoint of checkpoints, the shape in which
    Spark's union-constraint inference failed. One more vertex stays
    isolated."""
    n = 11
    A = _path(n, n + 1)
    assert alg.sssp(A, 0).to_dict() == {i: float(i) for i in range(n)}
    assert alg.bfs_level(A, 0).to_dict() == {i: i for i in range(n)}
    assert alg.connected_components(A).to_dict() == {
        **{i: 0 for i in range(n)}, n: n}


def test_later_rounds_compile_no_code(spark, monkeypatch):
    """Every loop round after the first runs the plan the first one ran:
    round values ride in the data, joins are hinted from counts, and
    every state checkpoint has one schema, nullability included. So a
    call with more rounds, on a graph of the same size, after a short
    call in the same session, compiles no class (Spark's codegen cache
    is keyed by the generated code). k_core's rounds checkpoint two
    relations, its degrees and its edges, so only its compiles count.

    A round also builds no expression: a frontier, PageRank or min-plus
    closure round sends at most ``ROUND_COMMANDS`` py4j commands from the
    driver's main thread, counted as the long call's excess over the
    short one per extra checkpoint."""
    from py4j.clientserver import ClientServerConnection

    metric = (spark.sparkContext._jvm.org.apache.spark.metrics.source
              .CodegenMetrics.METRIC_COMPILATION_TIME())
    DataFrame = type(spark.range(0))
    schemas = []
    checkpoint = DataFrame.localCheckpoint

    def spy(self, *args, **kwargs):
        out = checkpoint(self, *args, **kwargs)
        schemas.append(out.schema)
        return out

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    main, sent = threading.main_thread(), [0]
    send_command = ClientServerConnection.send_command

    def count(self, *args, **kwargs):
        sent[0] += threading.current_thread() is main
        return send_command(self, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", count)
    size = 24
    short, longer = _path(8, size).wait(), _path(16, size).wait()
    calls = [
        ("bfs_level", lambda: alg.bfs_level(short, 0),
         lambda: alg.bfs_level(longer, 0)),
        ("sssp", lambda: alg.sssp(short, 0), lambda: alg.sssp(longer, 0)),
        ("connected_components", lambda: alg.connected_components(short),
         lambda: alg.connected_components(longer)),
        ("pagerank", lambda: alg.pagerank(longer, max_iters=2, tol=0),
         lambda: alg.pagerank(longer, max_iters=6, tol=0)),
        ("katz_centrality", lambda: alg.katz_centrality(longer, iters=2),
         lambda: alg.katz_centrality(longer, iters=6)),
        ("hits", lambda: alg.hits(longer, iters=2),
         lambda: alg.hits(longer, iters=4)),
        ("label_propagation",
         lambda: alg.label_propagation(longer, max_iters=2),
         lambda: alg.label_propagation(longer, max_iters=6)),
        ("k_core", lambda: alg.k_core(short, 2),
         lambda: alg.k_core(longer, 2)),
        ("eccentricity", lambda: alg.eccentricity(short),
         lambda: alg.eccentricity(longer)),
    ]

    def run(call):
        """(py4j commands, checkpoints) of ``call``."""
        schemas.clear()
        sent[0] = 0
        out = call()
        if isinstance(out, gb.Vector):
            out.wait()
        else:
            out.count()
        return sent[0], len(schemas)

    for name, first, more_rounds in calls:
        few = run(first)
        before = metric.getCount()
        more = run(more_rounds)
        assert metric.getCount() == before, name
        assert len(schemas) > 4, (name, schemas)
        if name != "k_core":
            assert len(set(schemas)) == 1, (name, schemas)
        if name in ("bfs_level", "sssp", "connected_components", "pagerank",
                    "eccentricity"):
            extra = more[1] - few[1]
            assert extra > 0, name
            assert more[0] - few[0] <= ROUND_COMMANDS * extra, (
                name, few, more)


def test_loop_joins_do_not_follow_size_estimates(spark, monkeypatch):
    """A checkpoint keeps its source plan's size estimate, and joins
    multiply estimates, so from a few rounds on every loop relation is
    estimated far above the broadcast threshold. The loops hint their
    joins from the counts they hold instead: in round 4 and later the
    state still joins as a broadcast."""
    jss = spark._jsparkSession
    threshold = jss.sessionState().conf().autoBroadcastJoinThreshold()
    DataFrame = type(spark.range(0))
    rounds = []
    checkpoint = DataFrame.localCheckpoint

    def spy(self, *args, **kwargs):
        out = checkpoint(self, *args, **kwargs)
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        store = jss.sharedState().statusStore()
        last = store.executionsList().last()  # ordered by id
        stats = self._jdf.queryExecution().optimizedPlan().stats()
        rounds.append((int(str(stats.sizeInBytes())),
                       last.physicalPlanDescription()))
        return out

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    n = 11
    assert alg.bfs_level(_path(n, n + 1), 0).nvals == n
    late = rounds[4:]  # rounds[0] is the first state
    assert late
    for size, plan in late:
        assert size > threshold
        final = plan[plan.index("Final Plan"):plan.index("Initial Plan")]
        # the unvisited mask: the candidates anti join the broadcast
        # state's keys; the frontier broadcasts into the adjacency
        assert "BroadcastHashJoin LeftAnti BuildRight" in final
        assert "BroadcastHashJoin Inner BuildLeft" in final
        assert "SortMergeJoin" not in final


def test_loop_rounds_run_no_count_or_collect(spark, monkeypatch):
    """A loop round is one action: the frontier size, the dangling mass
    and the L1 change are observed on the round's checkpoint, so no
    DataFrame.count or collect happens after a loop's first checkpoint;
    only the prelude's eager persists count. The peeling loops, the
    fixed-round loops and the min-plus closure observe their counts the
    same way. A frontier loop's or PageRank's vector knows its size, so
    waiting on it runs no count either."""
    DataFrame = type(spark.range(0))
    events = []
    for name in ("count", "collect", "localCheckpoint"):
        orig = getattr(DataFrame, name)

        def spy(self, *args, _orig=orig, _name=name, **kwargs):
            events.append(_name)
            return _orig(self, *args, **kwargs)

        monkeypatch.setattr(DataFrame, name, spy)
    A = fastsv_matrix(spark).wait()
    W = gb.Matrix.from_values([0, 0, 1, 2, 1], [1, 2, 2, 3, 3],
                              [1.0, 4.0, 2.0, 1.0, 7.0], nrows=4,
                              ncols=4).wait()
    cycle = gb.Matrix.from_values([0, 1, 2], [1, 2, 0], [1, 1, 1],
                                  nrows=3, ncols=3).wait()
    runs = [lambda: alg.bfs_level(A, 0).wait(),
            lambda: alg.sssp(W, 0).wait(),
            lambda: alg.connected_components(A).wait(),
            lambda: alg.k_core(A, 2), lambda: alg.k_truss(A, 3),
            lambda: alg.label_propagation(A, max_iters=3),
            lambda: alg.katz_centrality(A, iters=3),
            lambda: alg.hits(A, iters=3), lambda: alg.eccentricity(A),
            lambda: alg.pagerank(cycle, max_iters=20, tol=1e-9).wait()]
    for run in runs:
        events.clear()
        run()
        assert "localCheckpoint" in events
        in_loop = events[events.index("localCheckpoint"):]
        assert "count" not in in_loop and "collect" not in in_loop, events
    # pagerank stopped on its observed L1 change, before max_iters
    assert events.count("localCheckpoint") < 20


def test_symmetrize(spark):
    A = gb.Matrix.from_values([0], [1], [5], nrows=2, ncols=2)
    S = alg.symmetrize(A)
    assert S.to_dict() == {(0, 1): 5, (1, 0): 5}


def test_iterative_loops_release_their_caches(spark):
    """Regression: each CC/SSSP/BFS run used to leave its per-iteration
    frontier/state persists in Spark's SQL CacheManager (which never
    evicts on its own), so repeated runs degraded the whole session.
    Every persist made inside a loop must be released by the time it
    returns. Checked via CacheManager emptiness (localCheckpoint blocks
    are RDD-level, cleaned asynchronously, and NOT part of this leak).
    An input the caller cached must stay cached."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    if not cm.isEmpty():
        pytest.skip("another test left session-level caches; emptiness "
                    "delta would be meaningless")
    A = fastsv_matrix(spark)
    for _ in range(2):
        alg.connected_components(A).to_dict()
        alg.bfs_level(A, 0).to_dict()
        alg.sssp(A, 0).to_dict()
    # one run each suffices to show a leak: it stays in the CacheManager
    alg.connected_components(A, vertices="edges").to_dict()
    alg.pagerank(A, max_iters=2).to_dict()
    alg.personalized_pagerank(A, [0], max_iters=2).collect()
    alg.katz_centrality(A, iters=2).collect()
    alg.hits(A, iters=2).collect()
    alg.k_core(A, 2).to_dict()
    alg.label_propagation(A, max_iters=2).to_dict()
    assert cm.isEmpty(), "iterative algorithms leaked cache entries"
    shared = A.df.persist()
    try:
        alg.connected_components(
            gb.GrMatrix(shared, A.dtype, 12, 12)).to_dict()
        assert shared.storageLevel.useMemory, \
            "an algorithm released a cache its caller owns"
    finally:
        shared.unpersist()
    assert cm.isEmpty()


def test_loop_releases_its_caches_when_a_round_raises(spark, monkeypatch):
    """A round that raises (a cancelled job, a lost executor) must not
    leave the adjacency or the round state in Spark's CacheManager."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    if not cm.isEmpty():
        pytest.skip("another test left session-level caches; emptiness "
                    "delta would be meaningless")
    vxm = gb.GrVector.vxm
    calls = []

    def fail_in_round_2(self, *args, **kwargs):
        calls.append(None)
        if len(calls) == 2:
            raise RuntimeError("round 2 failed")
        return vxm(self, *args, **kwargs)

    monkeypatch.setattr(gb.GrVector, "vxm", fail_in_round_2)
    with pytest.raises(RuntimeError, match="round 2 failed"):
        alg.bfs_level(fastsv_matrix(spark), 0)
    assert len(calls) == 2
    assert cm.isEmpty(), "a failed round leaked cache entries"


def test_connected_components_sparse_hashed_ids(spark):
    """vertices="edges": the label frame is the distinct edge endpoints,
    so CC works with arbitrary 64-bit ids (hashed doc ids — the 100 TB
    dedup-clustering case) where vertices="all" would need
    spark.range(max_id + 1) ~ 2^60 rows."""
    import pyspark.sql.functions as F

    base = 1 << 60  # ids around 2^60: densifying would OOM instantly
    e = [(base + a, base + b) for a, b in FASTSV_EDGES]
    df = spark.createDataFrame(
        [(i, j, 1) for i, j in e], "i long, j long, v long")
    A = gb.Matrix.from_dataframe(df, dtype="INT64")
    comp = {r["i"] - base: r["v"] - base
            for r in alg.connected_components(A, vertices="edges")
            .df.collect()}
    assert comp == {**{i: 0 for i in range(6)},
                    **{i: 6 for i in (6, 7, 8)},
                    **{i: 9 for i in (9, 10, 11)}}


def test_connected_components_rejects_bad_vertices_mode(spark):
    A = fastsv_matrix(spark)
    with pytest.raises(ValueError):
        alg.connected_components(A, vertices="nope")


def test_ivf_topk_releases_session_caches(spark):
    """Regression (round-4 advice): ivf_topk used to persist() its
    normalized corpus with no way to unpersist — one session-lifetime
    CacheManager entry PER DISTINCT INPUT. It now shares the corpus via
    a lazy localCheckpoint (ContextCleaner-scoped), so the CacheManager
    stays exactly as it was."""
    import pyspark.sql.functions as F

    from dask_grblas_spark.functions import similarity

    cm = spark._jsparkSession.sharedState().cacheManager()
    if not cm.isEmpty():
        pytest.skip("another test left session-level caches; emptiness "
                    "delta would be meaningless")
    emb = spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.pmod(F.xxhash64("id", F.lit(k)), F.lit(1000))
                   / 500.0 - 1.0) for k in range(8)]).alias("embedding"))
    out = similarity.ivf_topk(emb, k=3, n_cells=4, nprobe=2)
    assert out.count() > 0
    assert cm.isEmpty(), "ivf_topk leaked a CacheManager entry"


def test_with_singletons_restores_isolated_hashed_ids(spark):
    """with_singletons: edges-mode CC drops vertices with no incident
    edge by design; the helper unions them back as their own components
    — including arbitrary hashed 64-bit ids."""
    import pyspark.sql.functions as F

    base = 1 << 60
    e = [(base + a, base + b) for a, b in FASTSV_EDGES]
    df = spark.createDataFrame(
        [(i, j, 1) for i, j in e], "i long, j long, v long")
    A = gb.Matrix.from_dataframe(df, dtype="INT64")
    labels = alg.connected_components(A, vertices="edges")
    # the full vertex universe: the 12 edge endpoints plus 3 isolated
    # hashed ids (duplicated on purpose — the helper dedupes)
    lonely = [base + 100, base + 101, (1 << 61) + 7]
    universe = spark.createDataFrame(
        [(v,) for v in sorted({a for a, _ in e} | {b for _, b in e})
         ] + [(v,) for v in lonely] * 2, "i long")
    full = alg.with_singletons(labels, universe)
    got = {r["i"]: r["v"] for r in full.df.collect()}
    # edge endpoints keep their CC labels ...
    for r in labels.df.collect():
        assert got[r["i"]] == r["v"]
    # ... and every isolated vertex appears exactly once, self-labelled
    assert len(got) == 12 + len(lonely)
    for v in lonely:
        assert got[v] == v


def test_k_core_majority_drop_semi_join_path(spark):
    """Round 1 dropping the MAJORITY of vertices exercises the
    smaller-side flip (semi-join on survivors instead of anti-join on
    the huge dropped set — r6 change): a 6-clique with 40 pendant
    leaves drops 40 of 46 vertices immediately; result must equal the
    plain peeling answer."""
    clique = [(a, b) for a in range(6) for b in range(6) if a < b]
    leaves = [(a % 6, 10 + a) for a in range(40)]
    df = spark.createDataFrame(
        [(i, j, 1) for i, j in clique + leaves], "i long, j long, v long")
    A = gb.Matrix.from_dataframe(df, dtype="INT64")
    got = {r["i"]: r["v"] for r in alg.k_core(A, k=3).df.collect()}
    assert got == {i: 5 for i in range(6)}


def test_k_core_cascading_peel(spark):
    """k_core: a pendant chain hanging off a 5-clique peels away over
    MULTIPLE rounds (7 -> 6 -> 5), leaving exactly the clique with
    in-core degree 4; hashed 64-bit ids work (sparse-id semantics)."""
    base = 1 << 59
    clique = [(a, b) for a in range(5) for b in range(5) if a < b]
    chain = [(0, 5), (5, 6), (6, 7)]
    edges = [(base + a, base + b) for a, b in clique + chain]
    df = spark.createDataFrame(
        [(i, j, 1) for i, j in edges], "i long, j long, v long")
    A = gb.Matrix.from_dataframe(df, dtype="INT64")
    got = {r["i"] - base: r["v"] for r in alg.k_core(A, k=3).df.collect()}
    assert got == {i: 4 for i in range(5)}
    # k above the max degree: empty core
    assert alg.k_core(A, k=6).df.count() == 0
    # k=1 keeps everything (degrees within the full graph)
    all_deg = {r["i"] - base: r["v"] for r in alg.k_core(A, k=1).df.collect()}
    assert all_deg[7] == 1 and all_deg[0] == 5 and len(all_deg) == 8


def test_label_propagation_two_cliques(spark):
    """Deterministic synchronous LPA: two disjoint triangles converge
    to their min vertex id as community label within 5 rounds."""
    tri = [(a, b) for a in range(3) for b in range(3) if a < b]
    edges = tri + [(a + 10, b + 10) for a, b in tri]
    df = spark.createDataFrame(
        [(i, j, 1) for i, j in edges], "i long, j long, v long")
    A = gb.Matrix.from_dataframe(df, dtype="INT64")
    got = {r["i"]: r["v"] for r in
           alg.label_propagation(A, max_iters=5).df.collect()}
    assert got == {0: 1, 1: 1, 2: 1, 10: 11, 11: 11, 12: 11} or \
        got == {0: 0, 1: 0, 2: 0, 10: 10, 11: 10, 12: 10}


def test_hits_star_graph(spark):
    """Star: 1,2,3 -> 0. Vertex 0 is the only authority; 1-3 are equal
    hubs; 0 has no out-edges so its hub score is 0."""
    import dask_grblas_spark as gb
    from dask_grblas_spark import algorithms as alg

    A = gb.Matrix.from_values([1, 2, 3], [0, 0, 0], [1, 1, 1],
                              nrows=4, ncols=4, dtype="INT64")
    got = {r.i: (r.hub, r.authority) for r in alg.hits(A, iters=3).collect()}
    assert got[0] == (0.0, 1.0)
    for v in (1, 2, 3):
        assert got[v] == (round(1 / 3, 6), 0.0)


def test_hits_l1_normalized(spark):
    import dask_grblas_spark as gb
    from dask_grblas_spark import algorithms as alg

    A = gb.Matrix.from_values([0, 1, 2, 2], [1, 2, 0, 1], [1, 1, 1, 1],
                              nrows=3, ncols=3, dtype="INT64")
    rows = alg.hits(A, iters=5).collect()
    assert abs(sum(r.hub for r in rows) - 1.0) < 1e-5
    assert abs(sum(r.authority for r in rows) - 1.0) < 1e-5


def test_adamic_adar_square_graph(spark):
    """4-cycle 0-1-2-3-0: non-edges are the diagonals (0,2) and (1,3),
    each with two common neighbors of degree 2 -> score 2/ln(2)."""
    import math

    import dask_grblas_spark as gb
    from dask_grblas_spark.algorithms import adamic_adar

    edges = [(0, 1), (1, 2), (2, 3), (3, 0)]
    rows = [e[0] for e in edges] + [e[1] for e in edges]
    cols = [e[1] for e in edges] + [e[0] for e in edges]
    A = gb.Matrix.from_values(rows, cols, [1] * 8, nrows=4, ncols=4)
    got = {(r.u, r.v): (r.n_common, r.score)
           for r in adamic_adar(A).collect()}
    expect = round(2.0 / math.log(2.0), 6)
    assert got == {(0, 2): (2, expect), (1, 3): (2, expect)}


def test_adamic_adar_max_degree_excludes_hub(spark):
    """Star 0-{1,2,3}: pairs among leaves come only via the hub; capping
    below the hub degree removes every pair."""
    import dask_grblas_spark as gb
    from dask_grblas_spark.algorithms import adamic_adar

    edges = [(0, 1), (0, 2), (0, 3)]
    rows = [e[0] for e in edges] + [e[1] for e in edges]
    cols = [e[1] for e in edges] + [e[0] for e in edges]
    A = gb.Matrix.from_values(rows, cols, [1] * 6, nrows=4, ncols=4)
    assert adamic_adar(A).count() == 3  # (1,2),(1,3),(2,3) via hub
    assert adamic_adar(A, max_degree=2).count() == 0


def test_capped_hub_count_observability(spark):
    """The audit hook for the silently-pruning degree caps: the star's
    hub (deg 3) is over a cap of 2, nothing is over a cap of 3."""
    import dask_grblas_spark as gb
    from dask_grblas_spark.algorithms import capped_hub_count

    edges = [(0, 1), (0, 2), (0, 3)]
    rows = [e[0] for e in edges] + [e[1] for e in edges]
    cols = [e[1] for e in edges] + [e[0] for e in edges]
    A = gb.Matrix.from_values(rows, cols, [1] * 6, nrows=4, ncols=4)
    assert capped_hub_count(A, max_degree=2) == (1, 3)
    assert capped_hub_count(A, max_degree=3) == (0, 3)


def test_clustering_coefficient_triangle_plus_tail(spark):
    """Triangle 0-1-2 with a pendant 3 attached to 2: coeff 1.0 for the
    two pure triangle corners, 1/3 for the center of degree 3, 0 for
    the pendant."""
    import dask_grblas_spark as gb
    from dask_grblas_spark.algorithms import clustering_coefficient

    edges = [(0, 1), (1, 2), (0, 2), (2, 3)]
    rows = [e[0] for e in edges] + [e[1] for e in edges]
    cols = [e[1] for e in edges] + [e[0] for e in edges]
    A = gb.Matrix.from_values(rows, cols, [1] * 8, nrows=4, ncols=4)
    got = {r.v: (r.deg, r.tri, r.coeff)
           for r in clustering_coefficient(A).collect()}
    assert got == {0: (2, 1, 1.0), 1: (2, 1, 1.0),
                   2: (3, 1, round(1 / 3, 6)), 3: (1, 0, 0.0)}


def test_clustering_coefficient_counts_each_triangle_once(spark):
    """K4: every vertex has deg 3 and sits on 3 of the 4 triangles ->
    coeff 1.0 everywhere; total per-vertex count 12 = 3 * 4 triangles."""
    import dask_grblas_spark as gb
    from dask_grblas_spark.algorithms import clustering_coefficient

    edges = [(a, b) for a in range(4) for b in range(4) if a != b]
    A = gb.Matrix.from_values([e[0] for e in edges],
                              [e[1] for e in edges],
                              [1] * len(edges), nrows=4, ncols=4)
    rowsx = clustering_coefficient(A).collect()
    assert all(r.coeff == 1.0 and r.tri == 3 for r in rowsx)
    assert sum(r.tri for r in rowsx) == 12


def test_neighborhood_jaccard_square_graph(spark):
    """4-cycle 0-1-2-3-0: diagonals (0,2) and (1,3) share BOTH
    neighbors -> jacc = 2 / (2 + 2 - 2) = 1.0."""
    import dask_grblas_spark as gb
    from dask_grblas_spark.algorithms import neighborhood_jaccard

    edges = [(0, 1), (1, 2), (2, 3), (3, 0)]
    rows = [e[0] for e in edges] + [e[1] for e in edges]
    cols = [e[1] for e in edges] + [e[0] for e in edges]
    A = gb.Matrix.from_values(rows, cols, [1] * 8, nrows=4, ncols=4)
    got = {(r.u, r.v): (r.n_common, r.jacc)
           for r in neighborhood_jaccard(A).collect()}
    assert got == {(0, 2): (2, 1.0), (1, 3): (2, 1.0)}


def test_neighborhood_jaccard_max_degree_excludes_hub(spark):
    """Star 0-{1,2,3} plus edge (1,2): capping below the hub degree
    removes the hub as a witness, so the hub-only pairs (1,3)/(2,3)
    vanish; uncapped they score with TRUE degrees (jacc 0.5)."""
    import dask_grblas_spark as gb
    from dask_grblas_spark.algorithms import neighborhood_jaccard

    edges = [(0, 1), (0, 2), (0, 3), (1, 2)]
    rows = [e[0] for e in edges] + [e[1] for e in edges]
    cols = [e[1] for e in edges] + [e[0] for e in edges]
    A = gb.Matrix.from_values(rows, cols, [1] * 8, nrows=4, ncols=4)
    got = {(r.u, r.v): (r.n_common, r.jacc)
           for r in neighborhood_jaccard(A).collect()}
    assert got == {(1, 3): (1, 0.5), (2, 3): (1, 0.5)}
    assert neighborhood_jaccard(A, max_degree=2).count() == 0


def test_k_truss_clique_plus_triangle(spark):
    """4-clique + a pendant triangle sharing vertex 3: at k=4 only the
    clique survives (every clique edge sits in 2 triangles; the
    triangle's edges have support 1 and peel in round 1); at k=3
    everything survives with its own support."""
    import itertools

    import dask_grblas_spark as gb
    from dask_grblas_spark.algorithms import k_truss, symmetrize

    edges = list(itertools.combinations([0, 1, 2, 3], 2)) \
        + [(3, 4), (3, 5), (4, 5)]
    rows = [e[0] for e in edges] + [e[1] for e in edges]
    cols = [e[1] for e in edges] + [e[0] for e in edges]
    A = symmetrize(gb.Matrix.from_values(rows, cols, [1] * len(rows),
                                         nrows=6, ncols=6))
    got4 = {(r.a, r.b): r.support for r in k_truss(A, k=4).collect()}
    assert got4 == {p: 2 for p in itertools.combinations([0, 1, 2, 3], 2)}
    got3 = {(r.a, r.b): r.support for r in k_truss(A, k=3).collect()}
    assert got3[(4, 5)] == 1 and got3[(0, 1)] == 2 and len(got3) == 9
    with pytest.raises(ValueError):
        k_truss(A, k=2)


def test_k_truss_cascade_peel(spark):
    """A triangle hanging off a 4-clique by one shared EDGE (not enough
    support) peels in a second round only after its supporting edge
    count drops — the iterative (not single-pass) semantics."""
    import itertools

    import dask_grblas_spark as gb
    from dask_grblas_spark.algorithms import k_truss, symmetrize

    # 4-clique {0,1,2,3}; vertex 4 attached to 2 and 3 (triangle 2-3-4).
    # Edge (2,3) starts with support 3; (2,4)/(3,4) have support 1 and
    # peel at k=4, after which (2,3) still has support 2 -> survives.
    edges = list(itertools.combinations([0, 1, 2, 3], 2)) \
        + [(2, 4), (3, 4)]
    rows = [e[0] for e in edges] + [e[1] for e in edges]
    cols = [e[1] for e in edges] + [e[0] for e in edges]
    A = symmetrize(gb.Matrix.from_values(rows, cols, [1] * len(rows),
                                         nrows=5, ncols=5))
    got = {(r.a, r.b): r.support for r in k_truss(A, k=4).collect()}
    assert got == {p: 2 for p in itertools.combinations([0, 1, 2, 3], 2)}
    # the max_iters boundary: round 1 peels, round 2 confirms the fixpoint
    assert {(r.a, r.b): r.support
            for r in k_truss(A, k=4, max_iters=2).collect()} == got
    with pytest.raises(RuntimeError, match="max_iters=1"):
        k_truss(A, k=4, max_iters=1)


def test_hub_caps_default_on():
    """The codebase-wide caps-default-ON convention (r7 verdict item 3):
    both quadratic-fan-out link predictors ship with the hub cap set."""
    import inspect

    from dask_grblas_spark.algorithms import (adamic_adar,
                                              neighborhood_jaccard)

    for fn in (adamic_adar, neighborhood_jaccard):
        d = inspect.signature(fn).parameters["max_degree"].default
        assert d == 4096, fn.__name__


def test_neighborhood_jaccard_partial_overlap(spark):
    """Path 0-1-2-3: the only scored non-edge with a common neighbor
    besides the diagonal pairs: (0,2) share {1}: union = 1+2-1 = 2;
    (1,3) share {2}: union = 2+1-1 = 2."""
    import dask_grblas_spark as gb
    from dask_grblas_spark.algorithms import neighborhood_jaccard

    edges = [(0, 1), (1, 2), (2, 3)]
    rows = [e[0] for e in edges] + [e[1] for e in edges]
    cols = [e[1] for e in edges] + [e[0] for e in edges]
    A = gb.Matrix.from_values(rows, cols, [1] * 6, nrows=4, ncols=4)
    got = {(r.u, r.v): (r.n_common, r.jacc)
           for r in neighborhood_jaccard(A).collect()}
    assert got == {(0, 2): (1, 0.5), (1, 3): (1, 0.5)}


def test_personalized_pagerank_mass_and_locality(spark):
    """Two disconnected 2-cycles {0,1} and {2,3}: seeding {0} keeps ALL
    mass inside its component; total mass stays 1."""
    import dask_grblas_spark as gb
    from dask_grblas_spark.algorithms import personalized_pagerank

    edges = [(0, 1), (1, 0), (2, 3), (3, 2)]
    A = gb.Matrix.from_values([e[0] for e in edges],
                              [e[1] for e in edges],
                              [1] * 4, nrows=4, ncols=4)
    got = {r["i"]: r["ppr"]
           for r in personalized_pagerank(A, [0], max_iters=6).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-5
    assert got[2] == 0.0 and got[3] == 0.0
    assert got[0] > got[1] > 0  # restart favors the seed


def test_personalized_pagerank_dangling_returns_to_seeds(spark):
    """Edge 0->1 with 1 dangling: mass cycles 0 -> 1 -> (dangling) back
    to the seed, never leaks; node 2 (isolated, non-seed) stays 0."""
    import dask_grblas_spark as gb
    from dask_grblas_spark.algorithms import personalized_pagerank

    A = gb.Matrix.from_values([0], [1], [1], nrows=3, ncols=3)
    got = {r["i"]: r["ppr"]
           for r in personalized_pagerank(A, [0], max_iters=8).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-5
    assert got[2] == 0.0


def test_degree_assortativity_star_is_negative(spark):
    """Star 0-{1,2,3}: hub degree 3 pairs with leaf degree 1 on every
    edge -> perfectly disassortative, r = -1."""
    import dask_grblas_spark as gb
    from dask_grblas_spark.algorithms import degree_assortativity

    edges = [(0, 1), (0, 2), (0, 3)]
    rows = [e[0] for e in edges] + [e[1] for e in edges]
    cols = [e[1] for e in edges] + [e[0] for e in edges]
    A = gb.Matrix.from_values(rows, cols, [1] * 6, nrows=4, ncols=4)
    r = degree_assortativity(A).collect()[0]
    assert r["n_edges"] == 6 and r["r"] == -1.0
    # regular graph (4-cycle): zero degree variance -> NULL
    edges = [(0, 1), (1, 2), (2, 3), (3, 0)]
    rows = [e[0] for e in edges] + [e[1] for e in edges]
    cols = [e[1] for e in edges] + [e[0] for e in edges]
    B = gb.Matrix.from_values(rows, cols, [1] * 8, nrows=4, ncols=4)
    assert degree_assortativity(B).collect()[0]["r"] is None


def test_reciprocity_directed(spark):
    import dask_grblas_spark as gb
    from dask_grblas_spark.algorithms import reciprocity

    # 0->1 and 1->0 reciprocal; 0->2 one-way
    A = gb.Matrix.from_values([0, 1, 0], [1, 0, 2], [1, 1, 1],
                              nrows=3, ncols=3)
    r = reciprocity(A).collect()[0]
    assert (r["n_edges"], r["n_reciprocal"]) == (3, 2)
    assert r["reciprocity"] == round(2 / 3, 6)


def test_katz_centrality_hand_computed(spark):
    """Path graph 0->1->2, alpha=0.5, beta=1, 3 iters: unroll the
    recurrence by hand. x0=(1,1,1); x1=(1, 1.5, 1.5);
    x2=(1, 1.5, 1.75); x3=(1, 1.5, 1.75)."""
    A = gb.Matrix.from_values([0, 1], [1, 2], [1, 1], nrows=3, ncols=3)
    got = {r.i: r.katz
           for r in alg.katz_centrality(A, alpha=0.5, beta=1.0,
                                        iters=3).collect()}
    assert got == {0: 1.0, 1: 1.5, 2: 1.75}


def test_katz_centrality_guards(spark):
    A = gb.Matrix.from_values([0], [1], [1], nrows=2, ncols=2)
    with pytest.raises(ValueError):
        alg.katz_centrality(A, iters=0)
    # isolated vertices carry beta
    got = {r.i: r.katz
           for r in alg.katz_centrality(A, alpha=0.25, beta=2.0,
                                        iters=1).collect()}
    assert got[0] == 2.0 and got[1] == 2.5


def test_eccentricity_path_graph(spark):
    """Path 0-1-2-3: ecc = [3,2,2,3]; all 3 others reachable."""
    import dask_grblas_spark as gb
    from dask_grblas_spark.algorithms import eccentricity

    e = [(0, 1), (1, 2), (2, 3)]
    rows = [a for a, b in e] + [b for a, b in e]
    cols = [b for a, b in e] + [a for a, b in e]
    A = gb.Matrix.from_values(rows, cols, [1] * 6, nrows=4, ncols=4)
    out = {r.i: (r.ecc, r.n_reachable)
           for r in eccentricity(A).collect()}
    assert out == {0: (3, 3), 1: (2, 3), 2: (2, 3), 3: (3, 3)}


def test_eccentricity_disconnected_components(spark):
    """Two disjoint edges: every vertex sees only its 1 partner —
    unreachable pairs never materialize (sparse, no +inf)."""
    import dask_grblas_spark as gb
    from dask_grblas_spark.algorithms import eccentricity

    A = gb.Matrix.from_values([0, 1, 2, 3], [1, 0, 3, 2], [1] * 4,
                              nrows=4, ncols=4)
    out = {r.i: (r.ecc, r.n_reachable)
           for r in eccentricity(A).collect()}
    assert out == {i: (1, 1) for i in range(4)}


def test_eccentricity_nonconvergence_raises(spark):
    import dask_grblas_spark as gb
    import pytest
    from dask_grblas_spark.algorithms import eccentricity

    e = [(0, 1), (1, 2), (2, 3)]
    rows = [a for a, b in e] + [b for a, b in e]
    cols = [b for a, b in e] + [a for a, b in e]
    A = gb.Matrix.from_values(rows, cols, [1] * 6, nrows=4, ncols=4)
    for max_iters in (1, 2):
        with pytest.raises(RuntimeError, match="not converged"):
            eccentricity(A, max_iters=max_iters)
    # the boundary: round 2 reaches distance 3, round 3 changes nothing
    out = {r.i: r.ecc for r in eccentricity(A, max_iters=3).collect()}
    assert out == {0: 3, 1: 2, 2: 2, 3: 3}


def test_harmonic_centrality_path_graph(spark):
    """Path 0-1-2: H(0) = 1 + 1/2, H(1) = 2."""
    import dask_grblas_spark as gb
    from dask_grblas_spark.algorithms import harmonic_centrality

    A = gb.Matrix.from_values([0, 1, 1, 2], [1, 0, 2, 1], [1] * 4,
                              nrows=3, ncols=3)
    out = {r.i: r.harmonic for r in harmonic_centrality(A).collect()}
    assert out == {0: 1.5, 1: 2.0, 2: 1.5}


def test_modularity_two_cliques(spark):
    # two triangles joined by one edge; perfect partition ->
    # Q = sum_c(m_c/m - (d_c/2m)^2) = (3/7-(7/14)^2)*2 = 0.357143
    import dask_grblas_spark as gb
    from dask_grblas_spark import algorithms as alg
    from pyspark.sql import functions as F  # noqa: F401
    tri1 = [(0, 1), (1, 2), (0, 2)]
    tri2 = [(3, 4), (4, 5), (3, 5)]
    bridge = [(2, 3)]
    rows = [(i, j, 1) for i, j in tri1 + tri2 + bridge]
    A = gb.Matrix.from_values([r[0] for r in rows],
                              [r[1] for r in rows],
                              [r[2] for r in rows], nrows=6, ncols=6)
    labels = spark.createDataFrame(
        [(n, n // 3) for n in range(6)], "node long, label int")
    r = alg.modularity(A, labels).collect()[0]
    assert r["n_edges"] == 7 and r["n_communities"] == 2
    assert abs(r["q"] - 0.357143) < 1e-6


def test_modularity_empty_graph(spark):
    import dask_grblas_spark as gb
    from dask_grblas_spark import algorithms as alg
    A = gb.Matrix.new("INT64", 4, 4)
    labels = spark.createDataFrame([(0, 0)], "node long, label int")
    r = alg.modularity(A, labels).collect()[0]
    assert r["n_edges"] == 0 and r["q"] is None


def test_rich_club_star_plus_core(spark):
    # star center 0 -> 1..5 (deg 5) plus a 3-clique among {0,1,2}
    # makes degrees: 0:5, 1:2, 2:2, rest 1. k=1 -> rich {0,1,2},
    # edges among them: (0,1),(0,2),(1,2) -> phi = 2*3/(3*2) = 1.0
    import dask_grblas_spark as gb
    from dask_grblas_spark import algorithms as alg
    edges = [(0, i) for i in range(1, 6)] + [(1, 2)]
    A = gb.Matrix.from_values([e[0] for e in edges],
                              [e[1] for e in edges],
                              [1] * len(edges), nrows=6, ncols=6)
    r = alg.rich_club(A, 1).collect()[0]
    assert (r["n_rich"], r["e_rich"]) == (3, 3)
    assert r["phi"] == 1.0


def test_rich_club_insufficient_rich_null(spark):
    import dask_grblas_spark as gb
    from dask_grblas_spark import algorithms as alg
    edges = [(0, 1), (0, 2), (0, 3)]
    A = gb.Matrix.from_values([e[0] for e in edges],
                              [e[1] for e in edges],
                              [1] * 3, nrows=4, ncols=4)
    r = alg.rich_club(A, 2).collect()[0]  # only node 0 has deg > 2
    assert r["n_rich"] == 1 and r["phi"] is None


def test_degree_histogram_star(spark):
    import dask_grblas_spark as gb
    from dask_grblas_spark import algorithms as alg
    edges = [(0, i) for i in range(1, 6)]  # star: center deg 5, leaves 1
    A = gb.Matrix.from_values([e[0] for e in edges],
                              [e[1] for e in edges],
                              [1] * 5, nrows=6, ncols=6)
    got = {r["degree"]: (r["n_nodes"], r["share"])
           for r in alg.degree_histogram(A).collect()}
    assert got == {1: (5, 0.833333), 5: (1, 0.166667)}
