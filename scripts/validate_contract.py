"""Local replica of the driver's correctness gate: run every queries()
entry and its oracle_sql() on the same sf dir, compare row count, column
names, and order-insensitive values (exact for ints/strings/ts, reporting
max abs diff for floats)."""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

# the checkout this script lives in, not whichever one is on sys.path
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod  # noqa: E402
from timeseries_harmonizer_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def dtype_class(s: pd.Series) -> str:
    """Coarse dtype class BEFORE normalization. The driver's value hash is
    type-sensitive: DuckDB HUGEINT sums land in pandas as float64 while
    Spark BIGINT lands as int64, so an int-vs-float disagreement passes a
    values-only compare locally but hash-fails at the driver. This class
    check is what catches it (shipped broken twice before round 3)."""
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    return "other"


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.DatetimeIndex(df[c]).astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif isinstance(df[c].dtype, pd.BooleanDtype) or df[c].dtype == bool:
            df[c] = df[c].astype(bool)
    return df.sort_values(list(df.columns), na_position="last").reset_index(drop=True)


def compare(name, a: pd.DataFrame, b: pd.DataFrame,
            a_classes: dict | None = None, b_classes: dict | None = None) -> list[str]:
    problems = []
    if list(a.columns) != list(b.columns):
        problems.append(f"columns differ: spark={list(a.columns)} oracle={list(b.columns)}")
        return problems
    if a_classes and b_classes:
        for c in a.columns:
            if a_classes.get(c) != b_classes.get(c):
                problems.append(
                    f"{c}: dtype class differs (spark={a_classes.get(c)} "
                    f"oracle={b_classes.get(c)}) — driver hash WILL fail even if values match"
                )
    if len(a) != len(b):
        problems.append(f"row count: spark={len(a)} oracle={len(b)}")
        return problems
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if pd.api.types.is_float_dtype(a[c]):
            an, bn = np.isnan(av.astype(float)), np.isnan(bv.astype(float))
            if not (an == bn).all():
                problems.append(f"{c}: NaN pattern differs ({an.sum()} vs {bn.sum()})")
                continue
            d = np.abs(np.where(an, 0, av.astype(float) - np.where(bn, 0, bv.astype(float))))
            mx = d.max() if len(d) else 0.0
            exact = (av[~an] == bv[~bn]).all() if (~an).any() else True
            if mx > 0:
                problems.append(f"{c}: max abs diff {mx:.3e} exact={exact}")
        else:
            neq = ~(pd.Series(av).eq(pd.Series(bv)) | (pd.isna(av) & pd.isna(bv)))
            if neq.any():
                problems.append(f"{c}: {int(neq.sum())} mismatched values, e.g. {av[neq][:3]} vs {bv[neq][:3]}")
    return problems


def main(sf_dir="/root/testdata/sf0.01", only=None):
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    ran = [name for name in qs if not only or only in name]
    if not ran:
        print(f"no query name contains {only!r}")
        return 2
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    # VALIDATE_CPUS stress-tests order-sensitive float aggregations: the
    # driver's parallelism is unknown, so a query must hash-match at ANY
    # core/shuffle count, not just the default 8
    import os

    cpus = int(os.environ.get("VALIDATE_CPUS", "8"))
    spark = get_spark(app_name="validate", master=f"local[{cpus}]",
                      shuffle_partitions=cpus,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    failures = {}
    for name in ran:
        fn = qs[name]
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures[name] = [f"SPARK ERROR: {type(e).__name__}: {str(e)[:300]}"]
            print(f"{name}: SPARK ERROR {str(e)[:200]}")
            continue
        if name not in oracles:
            print(f"{name}: rows-only, {len(got)} rows  [{time.time()-t0:.1f}s]")
            if len(got) == 0 and name != "q33_minhash_lsh":
                failures[name] = ["rows-only query returned 0 rows"]
            continue
        try:
            exp = con.sql(oracles[name]).df()
        except Exception as e:
            failures[name] = [f"DUCKDB ERROR: {str(e)[:300]}"]
            print(f"{name}: DUCKDB ERROR {str(e)[:200]}")
            continue
        got_classes = {c: dtype_class(got[c]) for c in got.columns}
        exp_classes = {c: dtype_class(exp[c]) for c in exp.columns}
        problems = compare(name, normalize(got), normalize(exp), got_classes, exp_classes)
        status = "OK" if not problems else "MISMATCH"
        print(f"{name}: {status} ({len(got)} rows) [{time.time()-t0:.1f}s]")
        for p in problems:
            print(f"    - {p}")
        if problems:
            failures[name] = problems
    print("\n==== SUMMARY ====")
    print(f"{len(ran) - len(failures)}/{len(ran)} clean")
    for n, ps in failures.items():
        print(f"FAIL {n}: {ps[0]}")
    return 1 if failures else 0


if __name__ == "__main__":
    only = sys.argv[1] if len(sys.argv) > 1 else None
    sys.exit(main(only=only))
