"""Mirror of the driver's CORRECTNESS gate: run every __spark_entry__
query on Spark and its DuckDB oracle twin, compare row count + column
names + order-insensitive values.

Usage: python tests/oracle_check.py [sf_dir] [q1,q2,...]
(default sf_dir /root/testdata/sf0.01; default: every query, then entry)
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def normalize_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, round floats, sort rows — order-insensitive
    value comparison (the driver hashes; equality here is stricter)."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pdf[c].dtype.kind == "f":
            pdf[c] = pdf[c].round(6)
        elif pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    return (
        pdf.sort_values(list(pdf.columns), kind="mergesort")
        .reset_index(drop=True)
    )


def dtype_kind_mismatches(a: pd.DataFrame, b: pd.DataFrame) -> list:
    """Columns whose numpy dtype *kind* differs between the Spark result
    and the oracle result (e.g. int64 vs float64). The driver's value
    hash is dtype-sensitive — 42 and 42.0 hash differently — so equal
    values in mismatched kinds pass pandas' coerced comparison but fail
    the driver. Caught round 4 on `lang_confusion` (DuckDB HUGEINT from
    a windowed sum // division reached pandas as float64 while Spark
    emitted int64); this check makes gate-pass imply driver-hash-pass.
    bool-vs-int is tolerated (both hash as integers after coercion)."""
    _INTISH = {"i", "u", "b"}
    bad = []
    for c in a.columns:
        ka, kb = a[c].dtype.kind, b[c].dtype.kind
        if ka == kb:
            continue
        if ka in _INTISH and kb in _INTISH:
            continue
        bad.append((c, str(a[c].dtype), str(b[c].dtype)))
    return bad


def main(sf_dir: str, names: list[str] | None = None) -> int:
    import __spark_entry__ as entrymod
    from dedupe_spark.session import get_spark

    spark = get_spark("oracle_check", master="local[8]", shuffle_partitions=8)
    duck = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            duck.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if names:
        queries = {n: queries[n] for n in names}
    failures = []
    for name, fn in queries.items():
        t0 = time.time()
        sdf = fn(spark, sf_dir)
        spark_pd = sdf.toPandas()
        status = f"rows={len(spark_pd)}"
        if name in oracles:
            duck_pd = duck.sql(oracles[name]).df()
            a, b = normalize_frame(spark_pd), normalize_frame(duck_pd)
            if len(a) != len(b):
                failures.append((name, f"row count {len(a)} != {len(b)}"))
                status += f" MISMATCH rows vs oracle {len(b)}"
            elif list(a.columns) != list(b.columns):
                failures.append((name, f"columns {list(a.columns)} != {list(b.columns)}"))
                status += " MISMATCH columns"
            elif bad := dtype_kind_mismatches(a, b):
                failures.append((name, f"dtype kinds {bad}"))
                status += f" MISMATCH dtypes {bad}"
            else:
                try:
                    pd.testing.assert_frame_equal(
                        a, b, check_dtype=False, check_exact=False, rtol=1e-5
                    )
                    status += " == oracle"
                except AssertionError as e:
                    failures.append((name, str(e).splitlines()[-1]))
                    status += " MISMATCH values"
        else:
            status += " (rows-only)"
        print(f"{name:24s} {status}  [{time.time() - t0:.1f}s]", flush=True)

    if not names:
        n = entrymod.entry(spark).count()
        print(f"{'entry':24s} rows={n}")
        if n < 0:
            failures.append(("entry", "no rows"))

    if failures:
        print("\nFAILURES:")
        for name, msg in failures:
            print(f"  {name}: {msg}")
        return 1
    n_checked = len(queries.keys() & oracles.keys())
    print(f"\nALL {len(queries)} queries OK ({n_checked} oracle-checked)")
    return 0


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    raise SystemExit(main(sf, only))
