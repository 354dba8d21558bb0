"""Construction, bookkeeping, stacking, dtype, and partitioning-invariance
tests (reference patterns: tests/test_vector.py:14-101, SURVEY section 5.2)."""

import pytest

import dask_grblas_spark as gb
from dask_grblas_spark import binary, monoid, semiring

from tests import model
from tests.conftest import A_DATA, V_DATA, W_DATA, mat_from, vec_from


def test_from_values_infers_size_and_dtype(spark):
    v = gb.Vector.from_values([0, 3], [1.5, 2.5])
    assert v.size == 4
    assert v.dtype.name == "FP64"
    m = gb.Matrix.from_values([0, 2], [5, 1], [True, False])
    assert (m.nrows, m.ncols) == (3, 6)
    assert m.dtype.name == "BOOL"


def test_from_values_dup_op(spark):
    v = gb.Vector.from_values([0, 0, 1], [1, 2, 3], dup_op=binary.plus)
    assert v.to_dict() == {0: 3, 1: 3}
    v = gb.Vector.from_values([0, 0, 1], [5, 2, 3], dup_op=monoid.min)
    assert v.to_dict() == {0: 2, 1: 3}


def test_from_values_duplicates_without_dup_op_raise(spark):
    """A key given twice without dup_op is GrB_INVALID_VALUE: the object
    would otherwise hold two entries for one key."""
    with pytest.raises(gb.InvalidValue):
        gb.Vector.from_values([2, 0, 2], [1, 2, 3])
    with pytest.raises(gb.InvalidValue):
        gb.Matrix.from_values([0, 1, 0], [1, 1, 1], [1, 2, 3])
    v = gb.Vector.new("INT64", 4)
    with pytest.raises(ValueError):
        v.build([1, 1], [5, 6])
    m = gb.Matrix.new("INT64", 3, 3)
    with pytest.raises(gb.InvalidValue):
        m.build([2, 2], [0, 0], [5, 6])
    # the same row or column alone is no repeat
    m.build([0, 0, 1], [0, 1, 0], [1, 2, 3])
    assert m.to_dict() == {(0, 0): 1, (0, 1): 2, (1, 0): 3}


def test_from_values_bounds_check(spark):
    with pytest.raises(gb.IndexOutOfBound):
        gb.Vector.from_values([0, 9], [1, 2], size=5)
    gb.Vector.from_values([0, 9], [1, 2], size=5, trust_size=True)  # no check


def test_explicit_zero_is_an_entry(w):
    # stored 0.0 at index 6 must survive everything (FIXTURES.md)
    assert w.to_dict()[6] == 0.0
    assert w.nvals == 5
    d = w.dup()
    assert d.to_dict()[6] == 0.0
    # structural mask includes it, value mask excludes it
    got = w.dup(mask=w.S)
    assert 6 in got.to_dict()
    got = w.dup(mask=w.V)
    assert 6 not in got.to_dict()
    assert 4 in got.to_dict()  # -4.0 is truthy


def test_clear_dup_nvals(v):
    d = v.dup()
    assert d.nvals == 5
    d.clear()
    assert d.nvals == 0
    assert d.size == 7  # shape kept
    assert v.nvals == 5  # original untouched


def test_dup_with_dtype_cast(v):
    d = v.dup("FP64")
    assert d.dtype.name == "FP64"
    assert d.to_dict() == {k: float(x) for k, x in V_DATA.items()}


def test_resize(v):
    d = v.dup()
    d.resize(3)
    assert d.size == 3
    assert d.to_dict() == {0: 0, 1: -20, 2: 30}
    d.resize(100)  # grow = metadata only
    assert d.size == 100
    assert d.nvals == 3  # entries at 0,1,2 survive the grow
    assert d.to_dict() == {0: 0, 1: -20, 2: 30}


def test_build_requires_empty(v):
    with pytest.raises(gb.OutputNotEmpty):
        v.build([0], [1])
    u = gb.Vector.new("INT64", 7)
    u.build([1, 5], [10, 20])
    assert u.to_dict() == {1: 10, 5: 20}
    v.build([0], [1], clear=True)
    assert v.to_dict() == {0: 1}


def test_concat_and_stack(spark):
    a = vec_from({0: 1, 2: 3}, size=3)
    b = vec_from({1: 9}, size=2)
    c = gb.concat_vectors([a, b])
    assert c.size == 5
    assert c.to_dict() == {0: 1, 2: 3, 4: 9}
    M = gb.row_stack([a, a])
    assert (M.nrows, M.ncols) == (2, 3)
    assert M.to_dict() == {(0, 0): 1, (0, 2): 3, (1, 0): 1, (1, 2): 3}
    N = gb.column_stack([a, a])
    assert (N.nrows, N.ncols) == (3, 2)


def test_as_matrix_as_vector(v, spark):
    M = v._as_matrix()
    assert (M.nrows, M.ncols) == (7, 1)
    assert M.to_dict() == {(k, 0): x for k, x in V_DATA.items()}
    s = gb.Scalar.from_value(5)
    sv = s._as_vector()
    assert sv.size == 1
    assert sv.to_dict() == {0: 5}


def test_scalar_basics(spark):
    s = gb.Scalar.from_value(2.5)
    assert s.dtype.name == "FP64"
    assert s.value == 2.5
    assert not s.is_empty
    assert s.nvals == 1
    e = gb.Scalar.new("INT32")
    assert e.is_empty and e.nvals == 0
    assert (-s).value == -2.5
    b = gb.Scalar.from_value(True)
    assert (~b).value is False


def test_iteration_and_contains(v, A):
    assert list(v) == sorted(V_DATA)
    assert sorted(A) == sorted(A_DATA)
    assert (1 in v) and (3 not in v)


def test_to_values_sorted(A):
    r, c, vals = A.to_values()
    assert list(zip(r, c)) == sorted(A_DATA)
    assert [A_DATA[k] for k in sorted(A_DATA)] == list(vals)


@pytest.mark.parametrize("nparts", [1, 3, 17])
def test_partitioning_invariance(spark, nparts):
    """Results must be identical under any partitioning (reference
    multi-chunking fixtures dv0/dv1/dv2, tests/test_vector.py:14-35)."""
    v = vec_from(V_DATA).rechunk(nparts)
    w = vec_from(W_DATA).rechunk(nparts)
    A = mat_from(A_DATA).rechunk(nparts)
    assert v.ewise_add(w, binary.plus).new().to_dict() == \
        model.ewise_add(V_DATA, W_DATA, lambda a, b: a + b)
    assert A.mxv(v, semiring.plus_times).new().to_dict() == \
        model.mxv(A_DATA, V_DATA, lambda a, b: a + b, lambda a, b: a * b)
    u = w.dup()
    u(mask=v.V, accum=binary.plus) << w
    keys = model.mask_keys_of(V_DATA, True)
    assert u.to_dict() == model.merge(W_DATA, W_DATA,
                                      accum=lambda a, b: a + b,
                                      mask_keys=keys, complement=False)


def test_dtype_unify_rules(spark):
    i32 = vec_from({0: 1}, dtype="INT32")
    f32 = vec_from({0: 2.0}, dtype="FP32")
    out = i32.ewise_add(f32, binary.plus).new()
    assert out.dtype.name == "FP64"  # int32 x float32 -> float64 (numpy rule)
    i8 = vec_from({0: 1}, dtype="INT8")
    i16 = vec_from({0: 1}, dtype="INT16")
    assert i8.ewise_mult(i16, binary.times).new().dtype.name == "INT16"


def test_monoid_aggregates(spark):
    vals = {0: 3, 1: 5, 2: 2}
    v = vec_from(vals)
    assert v.reduce(monoid.times).new().value == 30
    assert v.reduce(monoid.band).new().value == 3 & 5 & 2
    assert v.reduce(monoid.bor).new().value == 3 | 5 | 2
    assert v.reduce(monoid.bxor).new().value == 3 ^ 5 ^ 2
    b = vec_from({0: True, 1: False, 2: True}, dtype="BOOL")
    assert b.reduce(monoid.lor).new().value is True
    assert b.reduce(monoid.land).new().value is False
    assert b.reduce(monoid.lxor).new().value is False  # two trues
    assert b.reduce(monoid.lxnor).new().value is False  # xnor(xnor(t,f),t)=f


def test_times_monoid_float_path(spark):
    v = vec_from({0: 2.0, 1: -3.0, 2: 0.5}, dtype="FP64")
    assert v.reduce(monoid.times).new().value == pytest.approx(-3.0)
    vz = vec_from({0: 2.0, 1: 0.0}, dtype="FP64")
    assert vz.reduce(monoid.times).new().value == 0.0


def test_argmin_argmax_deterministic_ties(spark):
    # ties resolve to the SMALLEST index (SURVEY R5; plain min_by/max_by
    # would be nondeterministic and break the differential oracle)
    M = gb.Matrix.from_values([0, 1, 2, 3], [0, 0, 0, 0],
                              [5.0, 5.0, 3.0, 5.0], 4, 1)
    from dask_grblas_spark import agg
    assert M.reduce_columnwise(agg.argmax).new().to_dict() == {0: 0}
    assert M.reduce_columnwise(agg.argmin).new().to_dict() == {0: 2}


def test_register_new_ops(spark):
    from pyspark.sql import functions as F

    from dask_grblas_spark import unary
    from dask_grblas_spark.operators import (register_binary, register_monoid,
                                             register_semiring)

    unary.register_new("t_plus_one", lambda c: c + F.lit(1))
    v = gb.Vector.from_values([0, 1], [1.0, 2.0], 2)
    assert v.apply(unary.t_plus_one).new().to_dict() == {0: 2.0, 1: 3.0}

    b = register_binary("t_absdiff", lambda x, y: F.abs(x - y))
    w = gb.Vector.from_values([0, 1], [4.0, 1.0], 2)
    assert v.ewise_mult(w, b).new().to_dict() == {0: 3.0, 1: 1.0}

    m = register_monoid("t_min", "min", float("inf"))
    assert v.reduce(m).new().value == 1.0

    sr = register_semiring("t_min_absdiff", "t_min", "t_absdiff")
    A = gb.Matrix.from_values([0, 0], [0, 1], [2.0, 5.0], 1, 2)
    x = gb.Vector.from_values([0, 1], [1.0, 1.0], 2)
    # min over |2-1|=1, |5-1|=4 -> 1
    assert A.mxv(x, sr).new().to_dict() == {0: 1.0}


def test_resize_unknown_size_filters(spark):
    df = spark.createDataFrame([(0, 1.0), (7, 2.0)], "i long, v double")
    v = gb.Vector.from_dataframe(df)   # size=None wrapper
    v.resize(5)
    assert v.to_dict() == {0: 1.0}
    assert v.size == 5


def test_extract_list_unknown_size(spark):
    df = spark.createDataFrame([(1, 1.0), (3, 3.0), (9, 9.0)],
                               "i long, v double")
    v = gb.Vector.from_dataframe(df)
    out = v[[3, 1, 3]].new()
    assert out.to_dict() == {0: 3.0, 1: 1.0, 2: 3.0}


def test_streaming_sessionize_matches_batch(spark):
    # custom stateful streaming operator (applyInPandasWithState) must
    # agree exactly with the batch window formulation, including the
    # end-of-stream flush of open sessions (watermark sentinel)
    from dask_grblas_spark.streaming import sessionize, streaming_sessionize

    sf = "/root/testdata/sf0.001"
    a = streaming_sessionize(spark, sf, 30).toPandas()
    b = sessionize(spark, sf, 30).toPandas()
    b["session_no"] = b["session_no"] - 1
    key = ["user_id", "session_no", "n_events", "sum_value"]
    a = a[key].sort_values(key).reset_index(drop=True)
    b = b[key].sort_values(key).reset_index(drop=True)
    assert a.equals(b)


def test_ngram_jaccard_capped_equals_exact_below_cap(spark):
    """The bucketed capped path and the self-join exact path must agree
    whenever every shingle's doc-frequency is under the cap."""
    import pandas as pd

    from dask_grblas_spark.functions.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g"), (3, "x y z w q r"),
         (4, "a b c d e f"), (5, "completely different text here now ok")],
        "doc_id bigint, text string")
    capped = ngram_jaccard_pairs(docs, threshold=0.3, max_doc_freq=1000) \
        .toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
    exact = ngram_jaccard_pairs(docs, threshold=0.3, max_doc_freq=None) \
        .toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(capped, exact)
    assert len(capped) >= 2  # (1,4) identical, (1,2)/(2,4) overlap
    row = capped[(capped.id_a == 1) & (capped.id_b == 4)]
    assert row.jaccard.iloc[0] == 1.0
    # a cap of 1 drops every shared shingle -> no pairs survive
    none_left = ngram_jaccard_pairs(docs, threshold=0.3, max_doc_freq=1)
    assert none_left.count() == 0


def test_minhash_lsh_deterministic_and_finds_dups(spark):
    """Band hashes must be shuffle-order-independent (exact duplicates
    ALWAYS collide into the same bucket, under any partitioning), the
    signature unpivot must match the wide aggregate, and verified pairs
    must carry exact Jaccard."""
    from pyspark.sql import functions as F

    from dask_grblas_spark.functions.dedup import (minhash_lsh_pairs,
                                                   minhash_signatures)

    rows = [(i, "the quick brown fox jumps over the lazy dog %d" % (i % 3))
            for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    sig = minhash_signatures(docs, num_hashes=16)
    assert sig.groupBy("id").count().select(F.min("count")).first()[0] == 16

    def pairs(df):
        got = minhash_lsh_pairs(df, num_hashes=16, bands=4, threshold=0.9)
        return sorted(map(tuple, got.collect()))

    p1 = pairs(docs)
    p2 = pairs(docs.repartition(7, "text"))  # different shuffle layout
    assert p1 == p2
    # docs with i % 3 equal are exact duplicates -> jaccard 1.0, and every
    # such pair must be found (identical signatures cannot miss)
    dup_pairs = {(a, b) for a in range(30) for b in range(a + 1, 30)
                 if a % 3 == b % 3}
    found = {(a, b) for a, b, j in p1 if j == 1.0}
    assert found == dup_pairs


def test_mmfile_roundtrip_float_and_symmetric(spark, tmp_path):
    """Distributed MM writer/reader round-trip: float field (double ->
    string -> double must be lossless) and symmetric expansion on read."""
    from dask_grblas_spark.sources import io as gio

    A = gb.Matrix.from_values([0, 1, 2, 2], [1, 0, 2, 0],
                              [0.5, -2.25e-7, 3.5e10, 1.125],
                              nrows=3, ncols=3)
    path = str(tmp_path / "a.mtx")
    gio.to_mmfile(A, path)
    header = open(path).readline()
    assert header.startswith("%%MatrixMarket matrix coordinate real")
    back = gio.from_mmfile(path)
    assert A.isequal(back).value

    sym = str(tmp_path / "s.mtx")
    with open(sym, "w") as f:
        f.write("%%MatrixMarket matrix coordinate integer symmetric\n")
        f.write("3 3 3\n1 1 5\n2 1 7\n3 2 9\n")
    S = gio.from_mmfile(sym)
    assert S.to_dict() == {(0, 0): 5, (1, 0): 7, (0, 1): 7,
                           (2, 1): 9, (1, 2): 9}


def test_stream_sources_accept_directory_events(spark, tmp_path):
    """The streaming readers must accept events stored as a parquet
    DIRECTORY of part files (the layout a Spark writer produces) and
    return the same result as the driver's single-file layout."""
    from dask_grblas_spark.streaming import windows as W

    src_sf = "/root/testdata/sf0.001"
    dir_sf = str(tmp_path / "sfdir")
    (W.load_events(spark, src_sf)
      .repartition(4)
      .write.parquet(f"{dir_sf}/events.parquet"))

    a = W.event_window_agg(spark, src_sf).toPandas()
    b = W.event_window_agg(spark, dir_sf).toPandas()
    key = ["window_start", "event_type", "n_events", "sum_value"]
    a = a[key].sort_values(key).reset_index(drop=True)
    b = b[key].sort_values(key).reset_index(drop=True)
    assert a.equals(b)


def test_stream_dir_rebuilds_after_source_rewrite(spark, tmp_path):
    """Regression (round-4 advice): _events_stream_dir cached its /tmp
    symlink directory per sf_dir forever; rewriting events.parquet left
    dangling or stale links (library users don't get a probe script's
    manual rmtree). The cache must self-validate and rebuild."""
    from dask_grblas_spark.streaming import windows as W

    src_sf = "/root/testdata/sf0.001"
    dir_sf = str(tmp_path / "sfrw")
    ev = W.load_events(spark, src_sf)
    ev.repartition(3).write.parquet(f"{dir_sf}/events.parquet")
    a = W.event_window_agg(spark, dir_sf).toPandas()

    # rewrite with DIFFERENT part-file names AND different content
    ev2 = ev.filter("event_type = 'click'").repartition(2)
    ev2.write.mode("overwrite").parquet(f"{dir_sf}/events.parquet")
    b = W.event_window_agg(spark, dir_sf).toPandas()

    assert a["n_events"].sum() != b["n_events"].sum()
    ref = W.event_window_agg(spark, src_sf).toPandas()
    ref = ref[ref.event_type == "click"]
    assert b["n_events"].sum() == ref["n_events"].sum()


def test_repetition_stats_large_doc_linear(spark):
    """Regression (round-4 verdict): the entropy expression was
    O(distinct * tokens) PER DOCUMENT — a 100k-token doc was ~3e9
    single-core comparisons. The sort+run-length formulation must chew a
    100k-token / 30k-distinct-token doc in seconds, and agree with a
    locally computed exact entropy."""
    import math
    import time

    import pyspark.sql.functions as F

    from dask_grblas_spark.functions import text

    n_tok, n_distinct = 100_000, 30_000
    words = [str((i * 2654435761) % n_distinct) for i in range(n_tok)]
    doc = " ".join(words)
    df = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    t0 = time.perf_counter()
    row = text.repetition_stats(df).collect()[0]
    elapsed = time.perf_counter() - t0
    assert elapsed < 30, f"large-doc repetition_stats took {elapsed:.1f}s"

    from collections import Counter
    cnt = Counter(words)
    ent = -sum(c / n_tok * math.log(c / n_tok) for c in cnt.values())
    assert row["token_entropy"] == pytest.approx(ent, abs=2e-6)


def test_bucketed_overwrite_qualified_and_repeated(spark, tmp_path):
    """Regression (round-4 advice): overwrite cleanup used to
    interpolate the table name into SQL unquoted and guess the location
    as <warehouse>/<name.lower()> — wrong for db-qualified names. A
    db.tbl name must overwrite cleanly, twice, and read back bucketed."""
    import pyspark.sql.functions as F

    from dask_grblas_spark.sources.io import (table_from_catalog,
                                              table_to_bucketed)

    spark.sql("CREATE DATABASE IF NOT EXISTS dgs_testdb")
    df = spark.range(100).select(F.col("id").alias("k"),
                                 (F.col("id") * 2).alias("v"))
    try:
        table_to_bucketed(df, "dgs_testdb.bkt_q", "k", n_buckets=4)
        table_to_bucketed(df, "dgs_testdb.bkt_q", "k", n_buckets=4)
        got = table_from_catalog("dgs_testdb.bkt_q")
        assert got.count() == 100
    finally:
        spark.sql("DROP TABLE IF EXISTS dgs_testdb.bkt_q")
        spark.sql("DROP DATABASE IF EXISTS dgs_testdb")


def test_bucketed_overwrite_spares_external_table_data(spark, tmp_path):
    """Regression (round-5 advice): overwrite cleanup rmtree'd any
    dropped table's location that sat under the warehouse dir — an
    EXTERNAL table whose LOCATION happens to be inside the warehouse
    must keep its files across DROP (the DROP-keeps-external-files
    contract). The overwrite now checks Type: MANAGED vs EXTERNAL."""
    import os

    import pyspark.sql.functions as F

    from dask_grblas_spark.sources.io import table_to_bucketed

    wh = spark.conf.get("spark.sql.warehouse.dir")
    from urllib.parse import urlparse
    wh_path = urlparse(wh).path or wh
    ext_dir = os.path.join(wh_path, "dgs_ext_loc")
    df = spark.range(10).select(F.col("id").alias("k"))
    df.write.mode("overwrite").parquet(ext_dir)
    # datasource CREATE TABLE with an explicit LOCATION => EXTERNAL
    spark.sql(f"CREATE TABLE dgs_ext_tbl (k BIGINT) "
              f"USING PARQUET LOCATION '{ext_dir}'")
    try:
        try:
            table_to_bucketed(df, "dgs_ext_tbl", "k", n_buckets=2)
        except Exception:
            # saveAsTable may refuse the location clash — acceptable;
            # what must NOT happen is the external data vanishing
            pass
        assert os.path.isdir(ext_dir) and any(
            f.endswith(".parquet") for f in os.listdir(ext_dir)), \
            "external table data was deleted by overwrite cleanup"
    finally:
        spark.sql("DROP TABLE IF EXISTS dgs_ext_tbl")
        import shutil
        shutil.rmtree(ext_dir, ignore_errors=True)


def test_parquet_csv_matrix_vector_roundtrips(spark, tmp_path):
    """sources/io.py's typed parquet/CSV loaders were exercised only
    indirectly; round-trip them explicitly."""
    from dask_grblas_spark.sources import io as gio

    A = gb.Matrix.from_values([0, 1, 2], [1, 2, 0], [1.5, 2.5, 3.5],
                              nrows=3, ncols=3)
    mp = str(tmp_path / "m.parquet")
    gio.matrix_to_parquet(A, mp)
    back = gio.matrix_from_parquet(mp, nrows=3, ncols=3)
    assert back.to_dict() == A.to_dict()

    v = gb.Vector.from_values([0, 2, 5], [7, 8, 9], size=6)
    vp = str(tmp_path / "v.parquet")
    gio.vector_to_parquet(v, vp)
    vb = gio.vector_from_parquet(vp, size=6)
    assert vb.to_dict() == v.to_dict()

    cp = str(tmp_path / "m.csv")
    A.df.write.mode("overwrite").option("header", True).csv(cp)
    cb = gio.matrix_from_csv(cp, nrows=3, ncols=3)
    assert cb.to_dict() == A.to_dict()


def test_exact_dup_groups_and_language_id(spark):
    import pyspark.sql.functions as F

    from dask_grblas_spark.functions.dedup import exact_dup_groups
    from dask_grblas_spark.functions.text import language_id

    docs = spark.createDataFrame(
        [(0, "same text"), (1, "same text"), (2, "unique text"),
         (3, "der hund und die katze ist da"),
         (4, "the cat and the dog of the town")],
        "doc_id long, text string")
    groups = exact_dup_groups(docs).collect()
    assert len(groups) == 1 and groups[0]["n_copies"] == 2

    langs = {r["doc_id"]: r["lang_pred"]
             for r in language_id(docs).collect()}
    assert langs[3] == "de" and langs[4] == "en"


def test_compact_parquet_merges_small_files(spark, tmp_path):
    import os

    from dask_grblas_spark.sources.io import compact_parquet

    p = str(tmp_path / "frag")
    spark.range(10000).repartition(64).write.parquet(p)
    before = sum(1 for f in os.listdir(p) if f.endswith(".parquet"))
    assert before == 64
    n = compact_parquet(p, target_file_mb=256)
    after = sum(1 for f in os.listdir(p) if f.endswith(".parquet"))
    assert n == 1 and after == 1
    assert spark.read.parquet(p).count() == 10000

    # explicit out_path leaves the source untouched
    out = str(tmp_path / "compacted")
    compact_parquet(p, target_file_mb=256, out_path=out)
    assert spark.read.parquet(out).count() == 10000
    assert os.path.isdir(p)


def test_compact_parquet_preserves_hive_partitions(spark, tmp_path):
    """Regression (round-5 advice): in-place compaction used to flatten
    key=value layouts, losing directory partition pruning. Partitioned
    datasets must come back partitioned (and pruned scans must keep
    reading only the matching dirs)."""
    import os

    import pyspark.sql.functions as F

    from dask_grblas_spark.sources.io import compact_parquet

    p = str(tmp_path / "part")
    df = spark.range(4000).select(
        (F.col("id") % 4).alias("k"), F.col("id").alias("v"))
    df.repartition(16).write.partitionBy("k").parquet(p)
    assert sorted(d for d in os.listdir(p) if d.startswith("k=")) == \
        ["k=0", "k=1", "k=2", "k=3"]
    compact_parquet(p, target_file_mb=256)
    # layout preserved: key=value dirs still on disk, ~1 file per dir
    dirs = sorted(d for d in os.listdir(p) if d.startswith("k="))
    assert dirs == ["k=0", "k=1", "k=2", "k=3"]
    for d in dirs:
        files = [f for f in os.listdir(os.path.join(p, d))
                 if f.endswith(".parquet")]
        assert len(files) == 1
    back = spark.read.parquet(p)
    assert back.count() == 4000
    assert back.filter(F.col("k") == 2).count() == 1000
    # the partition filter must prune to the one directory: the scan
    # node carries a non-empty PartitionFilters list mentioning k
    import re

    plan = back.filter(F.col("k") == 2)._jdf.queryExecution() \
        .executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m is not None and "k" in m.group(1)


def test_compact_parquet_preserves_nested_hive_partitions(spark, tmp_path):
    """Regression (round-6 advice): multi-column hive layouts
    (k1=.../k2=...) were detected as [k1] only, so compaction silently
    flattened the nested level and its directory pruning. All partition
    columns must be recovered in directory order."""
    import os

    import pyspark.sql.functions as F

    from dask_grblas_spark.sources.io import (_hive_partition_cols,
                                              compact_parquet)

    p = str(tmp_path / "nested")
    df = spark.range(4000).select(
        (F.col("id") % 2).alias("k1"), (F.col("id") % 3).alias("k2"),
        F.col("id").alias("v"))
    df.repartition(16).write.partitionBy("k1", "k2").parquet(p)
    assert _hive_partition_cols(p) == ["k1", "k2"]
    compact_parquet(p, target_file_mb=256)
    # BOTH levels survive on disk
    assert sorted(d for d in os.listdir(p) if d.startswith("k1=")) == \
        ["k1=0", "k1=1"]
    for d1 in ("k1=0", "k1=1"):
        subs = sorted(d for d in os.listdir(os.path.join(p, d1))
                      if d.startswith("k2="))
        assert subs == ["k2=0", "k2=1", "k2=2"]
    back = spark.read.parquet(p)
    assert back.count() == 4000
    assert back.filter((F.col("k1") == 1) & (F.col("k2") == 2)).count() == \
        df.filter((F.col("k1") == 1) & (F.col("k2") == 2)).count()


def test_recover_compaction_sweeps_orphans(spark, tmp_path):
    """A crash during the dest write (before the marker exists) or
    after marker removal strands markerless ._old_*/._compact_* dirs;
    recover_compaction must reclaim them (and report "clean")."""
    import os

    from dask_grblas_spark.sources.io import recover_compaction

    p = str(tmp_path / "ds2")
    spark.range(100).write.parquet(p)
    orphan_dest = p + "._compact_dead"
    orphan_old = p + "._old_dead"
    os.makedirs(orphan_dest)
    os.makedirs(orphan_old)
    assert recover_compaction(p) == "clean"
    assert not os.path.exists(orphan_dest)
    assert not os.path.exists(orphan_old)
    assert spark.read.parquet(p).count() == 100


def test_compact_parquet_crash_recovery(spark, tmp_path):
    """recover_compaction repairs every crash state of the in-place
    swap: before the first rename, between the renames, and after the
    swap but before cleanup."""
    import json
    import os
    import shutil

    from dask_grblas_spark.sources.io import (compact_parquet,
                                              recover_compaction)

    p = str(tmp_path / "ds")
    spark.range(1000).repartition(8).write.parquet(p)
    marker = p + "._compact_pending"

    # state 1: crash BEFORE the first rename — original intact, a
    # complete compacted copy stranded in dest
    dest1, old1 = p + "._compact_aa", p + "._old_aa"
    spark.read.parquet(p).coalesce(1).write.parquet(dest1)
    json.dump({"dest": dest1, "old": old1}, open(marker, "w"))
    assert recover_compaction(p) == "rolled_back"
    assert os.path.isdir(p) and not os.path.exists(dest1)
    assert not os.path.exists(marker)
    assert spark.read.parquet(p).count() == 1000

    # state 2: crash BETWEEN the renames — no dataset at path
    dest2, old2 = p + "._compact_bb", p + "._old_bb"
    spark.read.parquet(p).coalesce(1).write.parquet(dest2)
    json.dump({"dest": dest2, "old": old2}, open(marker, "w"))
    os.rename(p, old2)
    assert recover_compaction(p) == "finished"
    assert os.path.isdir(p) and not os.path.exists(old2)
    assert spark.read.parquet(p).count() == 1000

    # state 3: crash AFTER the swap, before cleanup — old copy lingers
    old3 = p + "._old_cc"
    shutil.copytree(p, old3)
    json.dump({"dest": p + "._gone", "old": old3}, open(marker, "w"))
    assert recover_compaction(p) == "finished"
    assert os.path.isdir(p) and not os.path.exists(old3)
    assert spark.read.parquet(p).count() == 1000

    # a healthy dataset is a no-op, and compact_parquet self-recovers
    assert recover_compaction(p) == "clean"
    json.dump({"dest": p + "._x", "old": p + "._y"}, open(marker, "w"))
    compact_parquet(p, target_file_mb=256)
    assert not os.path.exists(marker)
    assert spark.read.parquet(p).count() == 1000


def test_zorder_key_interleaves_bits(spark):
    from dask_grblas_spark.sources.io import zorder_key

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (3, 5), (65535, 65535)],
        "x long, y long")
    got = {(r.x, r.y): r.z for r in
           df.select("x", "y", zorder_key("x", "y").alias("z")).collect()}

    def morton(x, y):
        out = 0
        for b in range(16):
            out |= ((x >> b) & 1) << (2 * b)
            out |= ((y >> b) & 1) << (2 * b + 1)
        return out

    assert got == {(x, y): morton(x, y) for (x, y) in got}


def test_write_zordered_tightens_file_bounding_boxes(spark, tmp_path):
    """The point of the layout: each output file covers a small
    bounding box in BOTH dimensions, so min/max footer stats prune
    scans filtered on either column. Compare against the sum of
    per-file box areas of an unordered write."""
    from pyspark.sql import functions as F

    from dask_grblas_spark.sources.io import write_zordered

    n = 1 << 14
    df = spark.range(n).select(
        F.pmod(F.xxhash64("id"), F.lit(1024)).alias("x"),
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1024)).alias("y"))

    def box_area_sum(path):
        got = (spark.read.parquet(path)
               .groupBy(F.input_file_name())
               .agg(((F.max("x") - F.min("x") + 1)
                     * (F.max("y") - F.min("y") + 1)).alias("a"))
               .agg(F.sum("a")).collect()[0][0])
        return got

    zpath = str(tmp_path / "z")
    write_zordered(df, zpath, "x", "y", bits=10, n_files=16)
    plain = str(tmp_path / "p")
    df.repartition(16).write.parquet(plain)

    za, pa = box_area_sum(zpath), box_area_sum(plain)
    # 16 z-order files of a 1024x1024 space: each box ~1/16 of the
    # area; random files each cover ~the whole space
    assert za < pa / 4, (za, pa)
    # and the data itself round-trips
    assert spark.read.parquet(zpath).count() == n


def test_stream_static_enrich_equals_batch(spark):
    """The streaming stream-static broadcast join must produce exactly
    the batch-join semantics on a bounded input."""
    from pyspark.sql import functions as F

    from dask_grblas_spark.streaming import (load_events,
                                             stream_static_enrich)

    sf = "/root/testdata/sf0.001"
    got = {(r.window_start, r.event_type): (r.n_events, r.weighted_value)
           for r in stream_static_enrich(spark, sf).collect()}
    dim = {"click": 1.0, "view": 0.5, "purchase": 10.0, "signup": 5.0,
           "error": 0.0}
    ev = load_events(spark, sf)
    w = F.udf(lambda t: dim.get(t))  # batch reference; tiny data
    batch = (ev.withColumn("_w", w("event_type").cast("double"))
               .filter(F.col("_w").isNotNull())
               .groupBy(F.date_trunc("day", "ts").alias("ws"),
                        "event_type")
               .agg(F.count("*").alias("n"),
                    F.round(F.sum(F.col("value") * F.col("_w")), 6)
                     .alias("wv")))
    want = {(r.ws, r.event_type): (r.n, r.wv) for r in batch.collect()}
    assert got == want


def test_upsert_keyed_merge_and_bucket_pruning(spark, tmp_path):
    import glob
    import os

    from pyspark.sql import functions as F

    from dask_grblas_spark.sources import io as gio

    path = str(tmp_path / "keyed")
    base = spark.createDataFrame(
        [(k, f"v{k}") for k in range(100)], "k long, val string")
    gio.write_keyed(base, path, "k", n_buckets=8)
    before = {d: sorted(os.listdir(d))
              for d in glob.glob(f"{path}/_b=*")}

    upd = spark.createDataFrame(
        [(5, "UPDATED", "U"), (7, None, "D"), (500, "NEW", "U")],
        "k long, val string, op string")
    info = gio.upsert_keyed(path, upd, "k", op_col="op")
    assert info["n_buckets"] == 8 and 1 <= info["touched"] <= 3

    got = {r.k: r.val for r in gio.read_keyed(path).collect()}
    assert got[5] == "UPDATED" and got[500] == "NEW"
    assert 7 not in got and got[6] == "v6" and len(got) == 100
    # untouched buckets were never rewritten (same files on disk)
    touched_dirs = {d for d in before
                    if any(os.path.basename(d) == f"_b={b}" for b in
                           [r._b for r in upd.withColumn(
                               "_b", F.pmod(F.xxhash64("k"), F.lit(8))
                               .cast("int")).select("_b").collect()])}
    untouched_same = [d for d in before if d not in touched_dirs
                      and sorted(os.listdir(d)) == before[d]]
    assert len(untouched_same) == len(before) - len(touched_dirs)
    # no leftovers
    assert not os.path.exists(path + "._upsert_pending")
    assert not os.path.exists(path + "._upsert_new")


def test_upsert_keyed_delete_only_bucket_and_recovery(spark, tmp_path):
    import json
    import os
    import shutil

    from dask_grblas_spark.sources import io as gio

    path = str(tmp_path / "keyed2")
    base = spark.createDataFrame(
        [(k, k * 10) for k in range(20)], "k long, x long")
    gio.write_keyed(base, path, "k", n_buckets=4)
    # delete EVERY key: all buckets end empty and their dirs go away
    upd = base.selectExpr("k", "x", "'D' as op")
    gio.upsert_keyed(path, upd, "k", op_col="op")
    assert gio.read_keyed(path).count() == 0

    # recovery: healthy dataset is a no-op
    assert gio.recover_upsert(path) == "clean"

    # crashed-after-marker state, built by hand: a complete new copy of
    # bucket 0 plus the marker, swaps not yet run
    gio.write_keyed(base, path, "k", n_buckets=4)
    new_dir = path + "._upsert_new"
    live0 = os.path.join(path, "_b=0")
    shutil.copytree(live0, os.path.join(new_dir, "_b=0"))
    marker = path + "._upsert_pending"
    with open(marker, "w") as fh:
        json.dump({"touched": [0]}, fh)
    assert gio.recover_upsert(path) == "finished"
    assert not os.path.exists(marker) and not os.path.exists(new_dir)
    assert gio.read_keyed(path).count() == 20

    # stranded markerless new dir (crash before marker): swept
    os.makedirs(new_dir, exist_ok=True)
    assert gio.recover_upsert(path) == "swept"
    assert not os.path.exists(new_dir)


def test_basket_pairs_hand_check(spark):
    from dask_grblas_spark.functions.profiling import basket_pairs

    rows = [(1, 1), (1, 2), (1, 3), (2, 1), (2, 2), (3, 2), (3, 4)]
    df = spark.createDataFrame(rows, "bk long, it long")
    got = {(r.item_a, r.item_b): (r.support, r.lift)
           for r in basket_pairs(df, "bk", "it",
                                 min_support=2).collect()}
    # only (1,2) appears twice; lift = 2 * 3 / (2 * 3) = 1.0
    assert got == {(1, 2): (2, 1.0)}


def test_basket_pairs_item_cap_is_deterministic(spark):
    from dask_grblas_spark.functions.profiling import basket_pairs

    rows = [(b, i) for b in (1, 2) for i in (10, 20, 30)]
    df = spark.createDataFrame(rows, "bk long, it long")
    got = sorted((r.item_a, r.item_b)
                 for r in basket_pairs(df, "bk", "it", min_support=2,
                                       max_basket_items=2).collect())
    # cap keeps the two smallest items per basket -> only (10, 20)
    assert got == [(10, 20)]


def test_normalize_text_chain(spark):
    from dask_grblas_spark.functions.text import normalize_text

    df = spark.createDataFrame(
        [(1, "  Hello,   WORLD!! 42  "), (2, "already clean"),
         (3, "###")],
        "doc_id long, text string")
    got = {r.doc_id: (r.norm_text, r.changed)
           for r in normalize_text(df).collect()}
    assert got[1] == ("hello world 42", True)
    assert got[2] == ("already clean", False)
    assert got[3] == ("", True)


def test_stream_cdc_upsert_matches_batch_argmax(spark, tmp_path):
    """Events split across many files/micro-batches in NON-time order;
    the CDC table must still equal the batch argmax (out-of-order
    updates and deletes reconciled by (ts, event_id) versioning)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from dask_grblas_spark.streaming import stream_cdc_upsert

    def ts(s):
        return dt.datetime(2024, 1, 1, 0, 0, s)

    rows = [
        # user 1: update at t=30 arrives in an EARLIER file than t=10
        (3, ts(30), 1, "view", 3.0, ""),
        (1, ts(10), 1, "click", 1.0, ""),
        # user 2: delete at t=20, then an OLDER update arrives later —
        # the delete must survive
        (4, ts(20), 2, "error", 0.0, ""),
        (2, ts(5), 2, "view", 2.0, ""),
        # user 3: same ts, higher event_id wins
        (6, ts(40), 3, "view", 6.0, ""),
        (5, ts(40), 3, "click", 5.0, ""),
    ]
    sf = str(tmp_path / "sf")
    import os

    os.makedirs(sf)
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
              " event_type string, value double, props string")
    # one file per row -> one micro-batch per row (maxFilesPerTrigger=1)
    df.repartition(6, "event_id").write.parquet(f"{sf}/events.parquet")
    out = stream_cdc_upsert(spark, sf, path=str(tmp_path / "cdc"),
                            n_buckets=4)
    got = {r.user_id: (r.last_id, r.last_val, r.is_del)
           for r in out.collect()}
    assert got == {1: (3, 3.0, False), 2: (4, 0.0, True),
                   3: (6, 6.0, False)}


def test_snapshot_diff_labels(spark):
    from dask_grblas_spark.sources.io import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None)], "k long, v string")
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (4, "d"), (5, None)], "k long, v string")
    got = {r.k: r.change
           for r in snapshot_diff(old, new, "k", ["v"]).collect()}
    # 1 unchanged (filtered); 3 removed even though payload was NULL;
    # 5 added with NULL payload (presence via marker, not payload)
    assert got == {2: "changed", 3: "removed", 4: "added", 5: "added"}
    all_rows = {r.k: r.change
                for r in snapshot_diff(old, new, "k", ["v"],
                                       include_unchanged=True).collect()}
    assert all_rows[1] == "unchanged"


def test_refresh_keyed_agg_equals_full_recompute(spark, tmp_path):
    from pyspark.sql import functions as F

    from dask_grblas_spark.sources import io as gio

    path = str(tmp_path / "ivm")
    all_rows = [(k % 7, float(k)) for k in range(100)]
    df = spark.createDataFrame(all_rows, "user_id long, value double")
    hist, batch = df.where("value < 60"), df.where("value >= 60")
    init = hist.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("value").alias("sum_v"))
    gio.write_keyed(init, path, "user_id", n_buckets=4)
    gio.refresh_keyed_agg(path, batch, "user_id", "value")
    got = {r.user_id: (r.n, r.sum_v)
           for r in gio.read_keyed(path).collect()}
    want = {r.user_id: (r.n, r.sum_v)
            for r in df.groupBy("user_id").agg(
                F.count("*").cast("bigint").alias("n"),
                F.sum("value").alias("sum_v")).collect()}
    assert got == want
    # a second refresh with an empty batch is a no-op
    gio.refresh_keyed_agg(path, batch.where("value < 0"),
                          "user_id", "value")
    got2 = {r.user_id: (r.n, r.sum_v)
            for r in gio.read_keyed(path).collect()}
    assert got2 == want


def test_schema_evolution_roundtrip(spark, tmp_path):
    from dask_grblas_spark.sources import io as gio

    base = str(tmp_path / "evolve")
    s1 = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double")
    s2 = spark.createDataFrame([(3, 30.0, "x")],
                               "k long, v double, tag string")
    gio.write_snapshot(s1, base, "snap1")
    gio.write_snapshot(s2, base, "snap2")
    got = gio.read_evolving(spark, base)
    assert set(got.columns) == {"k", "v", "tag"}
    rows = {r["k"]: r for r in got.collect()}
    assert len(rows) == 3
    assert rows[1]["tag"] is None and rows[3]["tag"] == "x"


def test_snapshot_versions_isolated_and_crash_safe(spark, tmp_path):
    import json
    import os

    from dask_grblas_spark.sources.io import (read_version,
                                              write_version)
    p = str(tmp_path / "snap")
    df1 = spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, v double")
    assert write_version(df1, p) == 1
    df2 = spark.createDataFrame([(1, 9.0)], "id long, v double")
    assert write_version(df2, p) == 2
    # time travel: v1 unchanged after v2 committed
    assert sorted(r["v"] for r in read_version(spark, p, 1).collect()) \
        == [1.0, 2.0]
    assert [r["v"] for r in read_version(spark, p).collect()] == [9.0]
    # an uncommitted (crashed) data dir is invisible: fake v=3 dir
    # without a manifest entry
    os.makedirs(os.path.join(p, "v=3"))
    with open(os.path.join(p, "v=3", "junk.parquet"), "w") as fh:
        fh.write("not parquet")
    assert [r["v"] for r in read_version(spark, p).collect()] == [9.0]
    with open(os.path.join(p, "_versions.json")) as fh:
        assert json.load(fh) == [1, 2]
    import pytest as _pt
    with _pt.raises(ValueError):
        read_version(spark, p, 3)
    # the orphan must not BLOCK the next writer (r9 advice) — but
    # since r11 only a STALE orphan is reclaimed (a fresh dir is
    # presumed another writer's in-flight data and raises; see
    # test_write_version_concurrent_writer_tripwire), so reclaim
    # explicitly: writing picks v=3, clears the dir, commits cleanly
    df3 = spark.createDataFrame([(7, 3.5)], "id long, v double")
    assert write_version(df3, p, orphan_ttl_sec=0) == 3
    assert [r["v"] for r in read_version(spark, p, 3).collect()] == [3.5]
    assert sorted(r["v"] for r in read_version(spark, p, 1).collect()) \
        == [1.0, 2.0]


def test_read_csv_quarantine_splits_streams(spark, tmp_path):
    from dask_grblas_spark.sources.io import read_csv_quarantine
    p = str(tmp_path / "in.csv")
    with open(p, "w") as fh:
        fh.write("1,1.50,ok\n")
        fh.write("garbage-only-one-field\n")
        fh.write("2,2.25,ok\n")
        fh.write("3,not-a-number,ok\n")     # type error -> quarantine
        fh.write("4,4.00,ok,EXTRA\n")       # arity too high -> quarantine
    good, bad = read_csv_quarantine(
        spark, p, "k bigint, p decimal(18,2), s string", header=False)
    g = {r["k"]: float(r["p"]) for r in good.collect()}
    assert g == {1: 1.5, 2: 2.25}
    lines = sorted(r["raw_line"] for r in bad.collect())
    assert lines == ["3,not-a-number,ok", "4,4.00,ok,EXTRA",
                     "garbage-only-one-field"]


def test_tar_shards_roundtrip_lossless_and_deterministic(spark):
    from dask_grblas_spark.sources.io import (read_tar_members,
                                              write_tar_shards)
    rows = [(0, "héllo wörld"), (1, ""), (2, "a" * 5000),
            (3, "tab\tand\nnewline"), (10, "shard of 0 again")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    shards = write_tar_shards(df, n_shards=2)
    got = {r["shard_id"]: r for r in shards.collect()}
    assert got[0]["n_members"] == 3   # ids 0, 2, 10
    assert got[1]["n_members"] == 2   # ids 1, 3
    members = {r["name"]: r for r in
               read_tar_members(shards).collect()}
    assert set(members) == {"0.txt", "1.txt", "2.txt", "3.txt",
                            "10.txt"}
    for did, txt in rows:
        m = members[f"{did}.txt"]
        assert bytes(m["payload"]).decode("utf-8") == txt
        assert m["size"] == len(txt.encode("utf-8"))
        assert m["shard_id"] == did % 2
    # determinism: identical bytes on a rebuild (zeroed tar metadata)
    again = {r["shard_id"]: bytes(r["tar"])
             for r in write_tar_shards(df, n_shards=2).collect()}
    assert {k: bytes(v["tar"]) for k, v in got.items()} == again


def test_tar_shards_bytes_targeted(spark):
    """target_bytes sharding (r10 verdict item 5): every finished
    shard tar is <= target, content is lossless, and the bytes are
    identical across input partitionings (prefix-sum bucketing is
    deterministic)."""
    import pytest

    from dask_grblas_spark.sources.io import (read_tar_members,
                                              write_tar_shards)
    rows = [(i, "x" * ((i * 137) % 900)) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    target = 16384
    shards = write_tar_shards(df, target_bytes=target).collect()
    assert len(shards) > 1                      # actually split
    for r in shards:
        assert len(bytes(r["tar"])) <= target   # the hard guarantee
    sdf = spark.createDataFrame(shards)
    members = {r["name"]: bytes(r["payload"]).decode("utf-8")
               for r in read_tar_members(sdf).collect()}
    assert members == {f"{i}.txt": t for i, t in rows}  # lossless
    # members are contiguous id runs: shard of id is non-decreasing
    order = sorted((int(r["name"].split(".")[0]), r["shard_id"])
                   for r in read_tar_members(sdf).collect())
    sids = [s for _, s in order]
    assert sids == sorted(sids)
    # determinism across partitionings
    for nparts in (1, 7):
        again = {r["shard_id"]: bytes(r["tar"]) for r in
                 write_tar_shards(df.repartition(nparts),
                                  target_bytes=target).collect()}
        assert again == {r["shard_id"]: bytes(r["tar"])
                         for r in shards}
    # a target the largest document cannot fit fails loudly
    with pytest.raises(ValueError, match="largest"):
        write_tar_shards(df, target_bytes=12000)


def test_write_version_concurrent_writer_tripwire(spark, tmp_path):
    """write_version only reclaims an uncommitted v=<n> dir when it
    is OLDER than orphan_ttl_sec (r10 advice, medium): a fresh dir is
    presumed to be another live writer's in-flight data and raises
    instead of silently deleting it; orphan_ttl_sec=0 restores the
    crash-orphan reclaim path."""
    import os

    import pytest

    from dask_grblas_spark.sources.io import (read_version,
                                              write_version)

    p = str(tmp_path / "vtab")
    df = spark.createDataFrame([(1, 10.0)], "id long, v double")
    assert write_version(df, p) == 1
    # simulate a writer that crashed between data write and manifest
    # swap: v=2 exists on disk but is absent from the manifest
    os.makedirs(os.path.join(p, "v=2"))
    with open(os.path.join(p, "v=2", "part-0.parquet"), "wb") as fh:
        fh.write(b"in-flight")
    with pytest.raises(RuntimeError, match="in flight"):
        write_version(df, p)                    # fresh -> loud
    assert os.path.exists(os.path.join(p, "v=2", "part-0.parquet"))
    assert write_version(df, p, orphan_ttl_sec=0) == 2  # stale -> reclaim
    assert [r["v"] for r in read_version(spark, p, 2).collect()] \
        == [10.0]


def test_write_version_ages_files_not_dir_mtime(spark, tmp_path):
    """The orphan tripwire ages the NEWEST FILE beneath v=<n>, not
    the directory mtime (r11 advice): on object stores dir mtimes
    are synthetic (often 0), so a racing writer's fresh in-flight dir
    would look ancient and be silently reclaimed. Simulate that: an
    ANCIENT dir mtime hiding a JUST-written file must still raise."""
    import os

    import pytest

    from dask_grblas_spark.sources.io import write_version

    p = str(tmp_path / "vtab")
    df = spark.createDataFrame([(1, 10.0)], "id long, v double")
    assert write_version(df, p) == 1
    vdir = os.path.join(p, "v=2")
    os.makedirs(vdir)
    with open(os.path.join(vdir, "part-0.parquet"), "wb") as fh:
        fh.write(b"in-flight")
    os.utime(vdir, (0, 0))              # synthetic/ancient dir mtime
    with pytest.raises(RuntimeError, match="in flight"):
        write_version(df, p)
    # an EMPTY uncommitted dir falls back to the dir's own mtime:
    # fresh -> raises; ancient -> reclaimed (a permanent fresh pin
    # would wedge the table on a mkdir-then-crash orphan — r12
    # review finding; reclaiming an empty dir loses no data)
    os.remove(os.path.join(vdir, "part-0.parquet"))
    with pytest.raises(RuntimeError, match="in flight"):
        write_version(df, p)            # mtime is current -> fresh
    os.utime(vdir, (0, 0))              # ancient empty orphan
    assert write_version(df, p) == 2    # reclaimed under default TTL


def test_tar_shards_bytes_duplicate_ids_raise(spark):
    """target_bytes sharding requires unique ids (they are the
    prefix-sum sort key; duplicates make shard assignment
    partition-dependent) — r11 verdict watch item: raise loudly."""
    import pytest

    from dask_grblas_spark.sources.io import write_tar_shards

    rows = [(0, "a"), (1, "b"), (1, "c"), (2, "d")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with pytest.raises(ValueError, match="unique"):
        write_tar_shards(df, target_bytes=1 << 20)
    # the default modulo policy is unaffected (dup ids co-shard)
    got = write_tar_shards(df, n_shards=2).collect()
    assert sum(r["n_members"] for r in got) == 4


def test_write_version_commit_fn_seam(spark, tmp_path):
    """The pluggable commit seam (r10 verdict item 8): commit_fn
    receives (spark, manifest_path, versions) and REPLACES the
    default manifest writer — a deployment can wire a conditional-put
    committer without forking the module."""
    from dask_grblas_spark.sources.io import (_write_manifest,
                                              write_version)

    calls = []

    def committer(spark_, man_path, versions):
        calls.append((man_path, list(versions)))
        _write_manifest(spark_, man_path, versions)

    p = str(tmp_path / "vtab")
    df = spark.createDataFrame([(1, 1.0)], "id long, v double")
    assert write_version(df, p, commit_fn=committer) == 1
    assert write_version(df, p, commit_fn=committer) == 2
    assert [v for _, v in calls] == [[1], [1, 2]]
    assert all(m.endswith("_versions.json") for m, _ in calls)


def test_read_csv_quarantine_to_one_pass_split(spark, tmp_path):
    """Split-on-write quarantine (r10 verdict item 4): ONE parse pass
    lands both streams under out_path partitioned by _ok; the read
    back matches the interactive variant's semantics exactly."""
    import glob

    p = str(tmp_path / "in.csv")
    with open(p, "w") as fh:
        fh.write("1,1.50,ok\n")
        fh.write("garbage-only-one-field\n")
        fh.write("2,2.25,ok\n")
        fh.write("3,not-a-number,ok\n")
    out = str(tmp_path / "split")
    from dask_grblas_spark.sources.io import read_csv_quarantine_to
    good, bad = read_csv_quarantine_to(
        spark, p, "k bigint, p decimal(18,2), s string", out,
        header=False)
    assert {r["k"]: float(r["p"]) for r in good.collect()} \
        == {1: 1.5, 2: 2.25}
    assert sorted(r["raw_line"] for r in bad.collect()) \
        == ["3,not-a-number,ok", "garbage-only-one-field"]
    assert "_corrupt" not in good.columns and "_ok" not in good.columns
    # both streams physically live under their own partition dir —
    # partition pruning serves each without touching the other
    assert glob.glob(f"{out}/_ok=true/*.parquet")
    assert glob.glob(f"{out}/_ok=false/*.parquet")
    # the ONE parse pass happened at write time: the returned streams
    # read PARQUET (the split output), never the CSV again — so the
    # raw text was scanned exactly once, by the write job
    for df in (good, bad):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FileScan csv" not in plan
        assert "FileScan parquet" in plan


def test_stream_outer_join_eviction_boundary(spark, tmp_path):
    """LEFT OUTER stream-stream join (r11): unmatched clicks emit
    null-extended ONLY once the query watermark (min of both sides'
    max ts - 1h) strictly passes their window end — tail clicks stay
    buffered/unemitted, exactly the production semantics."""
    from datetime import datetime, timedelta, timezone

    from dask_grblas_spark.streaming.windows import (
        stream_interval_join_outer)

    t0 = datetime(2024, 3, 1, 12, 0, 0, tzinfo=timezone.utc) \
        .replace(tzinfo=None)
    mins = timedelta(minutes=1)
    rows = [
        # click 1 matched by purchase 10 within 30 min
        (1, t0, 1, "click", 1.0, "{}"),
        (10, t0 + 10 * mins, 1, "purchase", 1.0, "{}"),
        # click 2 near the stream tail: window end (t0+150m) is NOT
        # strictly before the watermark (t0+60m) -> stays buffered
        (2, t0 + 120 * mins, 1, "click", 1.0, "{}"),
        # click 3 long before: window end (t0-150m) < watermark ->
        # evicted, emits null-extended
        (3, t0 - 180 * mins, 2, "click", 1.0, "{}"),
        # purchase far ahead sets the purchase-side max (t0+180m);
        # click-side max is t0+120m -> watermark = t0+120m-60m
        (11, t0 + 180 * mins, 9, "purchase", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    df.coalesce(1).write.mode("overwrite") \
      .parquet(str(tmp_path / "events.parquet"))
    got = {(r["click_id"], r["purchase_id"], r["user_id"])
           for r in stream_interval_join_outer(
               spark, str(tmp_path), window_minutes=30).collect()}
    assert got == {(1, 10, 1), (3, None, 2)}


def test_stream_outer_join_right_and_full(spark, tmp_path):
    """The OTHER two state-eviction surfaces (r11 verdict item 7):
    RIGHT OUTER emits an unmatched purchase iff purchase.ts <
    watermark STRICTLY (a future click with ts >= wm could still
    satisfy click.ts <= purchase.ts otherwise); FULL OUTER applies
    both sides' rules at once. Same batch-replay recipe as the LEFT
    test: watermark = min(both sides' max ts) - 1h."""
    from datetime import datetime, timedelta, timezone

    from dask_grblas_spark.streaming.windows import (
        stream_interval_join_outer)

    t0 = datetime(2024, 3, 1, 12, 0, 0, tzinfo=timezone.utc) \
        .replace(tzinfo=None)
    mins = timedelta(minutes=1)
    rows = [
        (1, t0, 1, "click", 1.0, "{}"),                   # matched
        (10, t0 + 10 * mins, 1, "purchase", 1.0, "{}"),   # matched
        # click at the tail: window end t0+150m >= wm -> buffered
        (2, t0 + 120 * mins, 1, "click", 1.0, "{}"),
        # old unmatched click: window end t0-150m < wm -> left emit
        (3, t0 - 180 * mins, 2, "click", 1.0, "{}"),
        # old unmatched purchase: ts t0-120m < wm -> right emit
        (12, t0 - 120 * mins, 5, "purchase", 1.0, "{}"),
        # tail purchase sets purchase-side max (t0+180m); click max
        # is t0+120m -> wm = t0+60m; its own ts >= wm -> buffered
        (11, t0 + 180 * mins, 9, "purchase", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    df.coalesce(1).write.mode("overwrite") \
      .parquet(str(tmp_path / "events.parquet"))

    def run(how):
        return {(r["click_id"], r["purchase_id"], r["user_id"])
                for r in stream_interval_join_outer(
                    spark, str(tmp_path), window_minutes=30,
                    how=how).collect()}

    assert run("leftOuter") == {(1, 10, 1), (3, None, 2)}
    assert run("rightOuter") == {(1, 10, 1), (None, 12, 5)}
    assert run("fullOuter") == {(1, 10, 1), (3, None, 2),
                                (None, 12, 5)}
    import pytest
    with pytest.raises(ValueError, match="how="):
        stream_interval_join_outer(spark, str(tmp_path), how="inner")


def test_read_csv_quarantine_to_empty_input(spark, tmp_path):
    """Empty input (a scheduled ingest hitting a zero-row file) must
    return two empty frames, not crash on parquet schema inference
    (r11 review finding)."""
    p = str(tmp_path / "empty.csv")
    open(p, "w").close()
    from dask_grblas_spark.sources.io import read_csv_quarantine_to
    good, bad = read_csv_quarantine_to(
        spark, p, "k bigint, p decimal(18,2), s string",
        str(tmp_path / "out"), header=False)
    assert good.count() == 0 and bad.count() == 0
    assert good.columns == ["k", "p", "s"]
