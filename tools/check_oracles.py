"""Driver-replica: run every queries() entry against its oracle_sql() twin
via DuckDB at a given sf_dir and compare row-count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted)."""

from __future__ import annotations

import hashlib
import sys

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="stable").reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> str:
    norm = _normalize(df)
    payload = norm.to_csv(index=False, float_format="%.6g").encode()
    return hashlib.md5(payload).hexdigest()


def main(sf_dir: str, only: list[str] | None = None) -> int:
    sys.path.insert(0, ".")
    import __spark_entry__ as entry_mod
    from doctr_spark.session import get_spark

    spark = get_spark(master="local[16]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark query raised {type(e).__name__}: {str(e)[:200]}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle; rows-only check) -> {'OK' if len(sdf) >= 0 else '??'}")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: oracle raised {type(e).__name__}: {str(e)[:200]}")
            failures += 1
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} != {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} != {sorted(odf.columns)}")
        if not problems and value_hash(sdf) != value_hash(odf):
            problems.append("value hash mismatch")
            a, b = _normalize(sdf), _normalize(odf)
            diff = a.compare(b) if a.shape == b.shape else None
            if diff is not None and len(diff):
                print(diff.head(5))
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            failures += 1
        else:
            print(f"MATCH {name}: {len(sdf)} rows")
        # text_pack_sequences returns an eagerly persisted result (its
        # range-partition guard) — clear between queries so one query's
        # cache never lingers into the next
        spark.catalog.clearCache()
    spark.stop()
    return failures


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    sys.exit(main(sf, sys.argv[2:] or None))
