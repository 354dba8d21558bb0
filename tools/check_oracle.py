"""Driver-mimicking differential checker: Spark queries vs DuckDB oracles.

Runs every ``queries()`` entry at sf0.01 and, where an ``oracle_sql()``
entry exists, compares row count, column names, and a value hash computed
the way the driver does: sort columns by name, sort rows, hash rounded
values. Exit non-zero on any mismatch.

Usage: python tools/check_oracle.py [--timing] [sf_dir] [query ...]
(--timing appends per-query Spark-side seconds to each line — the
slow-gate radar for future rounds.)
"""

from __future__ import annotations

import hashlib
import sys

import duckdb
import pandas as pd

sys.path.insert(0, "/root/repo")

TIMING = "--timing" in sys.argv
_args = [a for a in sys.argv[1:] if a != "--timing"]
SF_DIR = _args[0] if _args else "/root/testdata/sf0.01"
ONLY = set(_args[1:])

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def dtype_kinds(df: pd.DataFrame) -> list[str]:
    """int-like vs float-like vs bool vs datetime vs object, per sorted
    column — the driver's hash is dtype-faithful, so an oracle BIGINT
    that DuckDB promotes to HUGEINT (-> pandas float 338.0) must FAIL
    against a Spark bigint 338 (the r8 q162 red; %.6g masked it)."""
    kinds = []
    for c in sorted(df.columns):
        s = df[c]
        if pd.api.types.is_bool_dtype(s):
            kinds.append("bool")
        elif pd.api.types.is_integer_dtype(s):
            kinds.append("int")
        elif pd.api.types.is_float_dtype(s):
            kinds.append("float")
        elif pd.api.types.is_datetime64_any_dtype(s):
            kinds.append("datetime")
        else:
            kinds.append("object")
    return kinds


def value_hash(df: pd.DataFrame) -> str:
    # FIXED-POINT 6-decimal, like the driver — %.6g (6 SIGNIFICANT
    # digits) masked 6th-decimal drift on 1e9-magnitude sums (r8 q174)
    return hashlib.md5(
        df.to_csv(index=False, float_format="%.6f").encode()).hexdigest()


def main() -> int:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.driver.memory", "8g")
             .config("spark.ui.enabled", "false")
             # match bench and engine sessions: DuckDB epoch()
             # is UTC-based, so timestamp-derived gates need Spark's
             # session zone pinned on non-UTC hosts too
             .config("spark.sql.session.timeZone", "UTC")
             .appName("oracle-check").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF_DIR}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        try:
            import time as _time
            _t0 = _time.perf_counter()
            sdf = fn(spark, SF_DIR)
            spdf = sdf.toPandas()
            _el = _time.perf_counter() - _t0
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(spdf)} rows (no oracle)")
            continue
        try:
            opdf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error {type(e).__name__}: {e}")
            continue
        s_cols, o_cols = sorted(spdf.columns), sorted(opdf.columns)
        if s_cols != o_cols:
            failures.append(name)
            print(f"FAIL  {name}: columns {s_cols} != {o_cols}")
            continue
        s_kinds, o_kinds = dtype_kinds(spdf), dtype_kinds(opdf)
        if s_kinds != o_kinds:
            failures.append(name)
            bad = [(c, a, b) for c, a, b in
                   zip(s_cols, s_kinds, o_kinds) if a != b]
            print(f"FAIL  {name}: dtype kinds spark!=oracle {bad}")
            continue
        sn, on = norm(spdf), norm(opdf)
        if len(sn) != len(on):
            failures.append(name)
            print(f"FAIL  {name}: rows {len(sn)} != {len(on)}")
            continue
        hs, ho = value_hash(sn), value_hash(on)
        if hs != ho:
            failures.append(name)
            print(f"FAIL  {name}: value hash mismatch ({len(sn)} rows)")
            diff = sn.compare(on) if sn.shape == on.shape else None
            if diff is not None and not diff.empty:
                print(diff.head(8).to_string())
        else:
            extra = f"  [{_el:.2f}s]" if TIMING else ""
            print(f"OK    {name}: {len(sn)} rows{extra}")
    print(f"\n{len(failures)} failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
