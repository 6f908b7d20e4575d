#!/usr/bin/env python3
"""Dev harness mimicking the driver's correctness gate: run every registered
query on Spark and its oracle on DuckDB, compare row count + column names +
values (order-insensitive). Usage:

    python scripts/check_queries.py [name-substring ...] [--sf DIR] [--json OUT]

``--json OUT`` writes the per-query results as a committable artifact
(FULLCHECK_r{N}.json) so the full-registry sweep is auditable without
re-running the gate.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rdkafka_streams_spark import TABLES, get_spark  # noqa: E402
from rdkafka_streams_spark.queries import REGISTRY  # noqa: E402


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].apply(lambda v: str(v) if v is not None else None)
    df = df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)
    return df


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(f"columns differ: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}")
        return problems
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count differs: spark={len(spark_pdf)} duck={len(duck_pdf)}")
        return problems
    s, d = normalize(spark_pdf), normalize(duck_pdf)
    for c in s.columns:
        sc, dc = s[c], d[c]
        if pd.api.types.is_float_dtype(sc) and pd.api.types.is_float_dtype(dc):
            mask = ~(sc.isna() & dc.isna())
            eq = np.isclose(sc[mask].astype(float), dc[mask].astype(float), rtol=0, atol=0, equal_nan=True)
            if not eq.all():
                bad = (~eq).sum()
                diffs = (sc[mask][~eq].astype(float) - dc[mask][~eq].astype(float)).abs()
                problems.append(
                    f"col {c!r}: {bad} mismatched values, max |diff|={diffs.max():.3e}, "
                    f"e.g. spark={sc[mask][~eq].iloc[0]!r} duck={dc[mask][~eq].iloc[0]!r}"
                )
        else:
            eq = (sc.astype(str).fillna("<null>") == dc.astype(str).fillna("<null>"))
            if not eq.all():
                i = int((~eq).idxmax())
                problems.append(
                    f"col {c!r}: {(~eq).sum()} mismatched values, e.g. row {i}: "
                    f"spark={sc.iloc[i]!r} duck={dc.iloc[i]!r} (dtypes {sc.dtype}/{dc.dtype})"
                )
    return problems


def main() -> int:
    args = [a for a in sys.argv[1:]]
    sf_dir = "/root/testdata/sf0.001"
    if "--sf" in args:
        i = args.index("--sf")
        sf_dir = args[i + 1]
        del args[i : i + 2]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        del args[i : i + 2]
    name_filters = args

    spark = get_spark("check-queries", master="local[8]", shuffle_partitions=8)
    con = duck_con(sf_dir)

    names = [
        n for n in sorted(REGISTRY)
        if not name_filters or any(f in n for f in name_filters)
    ]
    n_pass = n_fail = n_rowsonly = 0
    results: dict[str, dict] = {}
    for name in names:
        q = REGISTRY[name]
        t0 = time.time()
        try:
            spdf = q.fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark raised {type(e).__name__}: {e}")
            n_fail += 1
            results[name] = {"status": "fail", "secs": round(time.time() - t0, 2),
                             "err": f"spark {type(e).__name__}: {e}"[:300]}
            continue
        if q.oracle is None:
            print(f"ROWS {name}: {len(spdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_rowsonly += 1
            results[name] = {"status": "rows-only", "rows": len(spdf),
                             "secs": round(time.time() - t0, 2)}
            continue
        try:
            dpdf = con.execute(q.oracle).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: duckdb raised {type(e).__name__}: {e}")
            n_fail += 1
            results[name] = {"status": "fail", "secs": round(time.time() - t0, 2),
                             "err": f"duckdb {type(e).__name__}: {e}"[:300]}
            continue
        problems = compare(name, spdf, dpdf)
        if problems:
            n_fail += 1
            print(f"FAIL {name} ({len(spdf)} rows) [{time.time()-t0:.1f}s]")
            for p in problems:
                print(f"     {p}")
            results[name] = {"status": "fail", "rows": len(spdf),
                             "secs": round(time.time() - t0, 2),
                             "err": "; ".join(problems)[:300]}
        else:
            n_pass += 1
            print(f"PASS {name} ({len(spdf)} rows) [{time.time()-t0:.1f}s]")
            results[name] = {"status": "pass", "rows": len(spdf),
                             "secs": round(time.time() - t0, 2)}
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only, of {len(names)}")
    if json_out:
        import json as _json

        with open(json_out, "w", encoding="utf-8") as f:
            _json.dump({
                "sf_dir": sf_dir,
                "summary": {"pass": n_pass, "fail": n_fail,
                            "rows_only": n_rowsonly, "total": len(names)},
                "queries": results,
            }, f, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
