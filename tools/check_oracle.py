"""Local simulation of the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() twin on DuckDB at sf0.01,
compare row count, schema width, and order-insensitive values."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod  # noqa: E402
from spark_aknn.session import get_spark  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main(sf_dir: str = "/root/testdata/sf0.01") -> int:
    spark = get_spark("oracle_check", cpus=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        got = fn(spark, sf_dir).toPandas()
        if name not in oracles:
            print(f"[rows-only] {name}: {len(got)} rows")
            continue
        exp = con.execute(oracles[name]).fetchdf()
        status = []
        if len(got) != len(exp):
            status.append(f"ROWS {len(got)} vs {len(exp)}")
        if sorted(got.columns) != sorted(exp.columns):
            status.append(f"SCHEMA {sorted(got.columns)} vs {sorted(exp.columns)}")
        if not status:
            g, e = canon(got), canon(exp)
            for c in g.columns:
                gv, ev = g[c].to_numpy(), e[c].to_numpy()
                # dtype-kind mismatch (e.g. int vs float) hash-fails at
                # the driver even when values coerce equal — flag it
                if gv.dtype.kind != ev.dtype.kind:
                    status.append(f"DTYPE[{c}] {gv.dtype} vs {ev.dtype}")
                    continue
                same = (
                    np.array_equal(gv, ev)
                    if gv.dtype == object or ev.dtype == object
                    else bool((pd.isna(gv) == pd.isna(ev)).all())
                    and np.array_equal(gv[~pd.isna(gv)], ev[~pd.isna(ev)])
                )
                if not same:
                    diff = int((gv != ev).sum()) if gv.shape == ev.shape else -1
                    status.append(f"VALUES[{c}] {diff} diffs")
        if status:
            failures += 1
            print(f"[FAIL] {name}: {'; '.join(status)}")
        else:
            print(f"[OK]   {name}: {len(got)} rows")
    spark.stop()
    return failures


if __name__ == "__main__":
    raise SystemExit(main(*sys.argv[1:]))
