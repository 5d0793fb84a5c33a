#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Runs each oracle SQL from <outDir>/oracle_sql.json in DuckDB over the
sfDir parquet tables and compares against the Spark result parquet
written by graft.Verify. Reports per-query: row-count match, column-name
match, dtype match, and value match (exact, plus a float-tolerant retry
so we can tell real bugs from representation noise).

Usage: python3 scripts/check.py <sfDir> <outDir>
"""
import json
import sys

import duckdb
import pandas as pd
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        # Date/timestamp representation differs between duckdb.fetchdf
        # (datetime64) and pandas.read_parquet of a Spark DATE column
        # (object of datetime.date); normalize both to datetime64[us].
        if df[c].dtype == object and len(df) and isinstance(
                df[c].dropna().iloc[0] if df[c].notna().any() else None,
                __import__("datetime").date):
            df[c] = pd.to_datetime(df[c])
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    # Names, not a counter: a dump that failed in Verify is reported both
    # here (no result to read) and in the manifest, and counts once.
    failed = set()
    for name, sql in sorted(oracle.items()):
        try:
            exp = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            failed.add(name)
            continue
        try:
            got = pd.read_parquet(f"{out_dir}/{name}")
        except Exception as e:
            print(f"FAIL {name}: spark result missing: {e}")
            failed.add(name)
            continue
        exp, got = norm(exp), norm(got)
        problems = []
        if list(exp.columns) != list(got.columns):
            problems.append(f"columns exp={list(exp.columns)} got={list(got.columns)}")
        elif len(exp) != len(got):
            problems.append(f"rows exp={len(exp)} got={len(got)}")
        else:
            for c in exp.columns:
                e_raw, g_raw = exp[c], got[c]
                if str(e_raw.dtype) != str(g_raw.dtype):
                    problems.append(f"dtype[{c}] exp={e_raw.dtype} got={g_raw.dtype}")
                e, g = e_raw.to_numpy(), g_raw.to_numpy()
                if e_raw.dtype.kind == "f" or g_raw.dtype.kind == "f":
                    ef = e_raw.astype(float).to_numpy()
                    gf = g_raw.astype(float).to_numpy()
                    both_nan = np.isnan(ef) & np.isnan(gf)
                    exact = (ef == gf) | both_nan
                    if not exact.all():
                        close = np.isclose(ef, gf, rtol=1e-9, atol=1e-9,
                                           equal_nan=True)
                        bad = int((~close).sum())
                        if bad:
                            i = int(np.argmax(~close))
                            problems.append(
                                f"values[{c}] {bad} differ, e.g. row {i}: "
                                f"exp={ef[i]} got={gf[i]}")
                        else:
                            i = int(np.argmax(~exact))
                            problems.append(
                                f"values[{c}] {int((~exact).sum())} only "
                                f"float-close (exact hash would fail), e.g. "
                                f"row {i}: exp={ef[i]!r} got={gf[i]!r}")
                else:
                    eq = pd.Series(e_raw).astype(object).where(pd.Series(e_raw).notna(), None) \
                        .combine(pd.Series(g_raw).astype(object).where(pd.Series(g_raw).notna(), None),
                                 lambda a, b: a == b or (a is None and b is None))
                    if not eq.all():
                        i = int(np.argmax(~eq.to_numpy()))
                        problems.append(
                            f"values[{c}] {int((~eq).sum())} differ, e.g. row "
                            f"{i}: exp={e_raw.iloc[i]!r} got={g_raw.iloc[i]!r}")
        if problems:
            failed.add(name)
            print(f"FAIL {name} ({len(exp)} oracle rows)")
            for p in problems[:6]:
                print(f"     {p}")
        else:
            print(f"PASS {name} ({len(got)} rows)")
    # Completeness guard (round-9 postmortem): every query Verify says
    # it ran must have been compared above — a silent gap between the
    # registry and the compared set is how four real breaks read as
    # "driver omission" in round 9.
    try:
        manifest = json.load(open(f"{out_dir}/verify_manifest.json"))
        missing = [q for q in manifest["queries"] if q not in oracle]
        if manifest.get("failed"):
            print(f"VERIFY-FAILED dumps: {manifest['failed']}")
            failed.update(manifest["failed"])
        if missing:
            print(f"NOTE: {len(missing)} registered queries have no oracle "
                  f"SQL (rows-only check upstream): {missing}")
    except FileNotFoundError:
        pass
    print(f"\n{len(oracle.keys() - failed)}/{len(oracle)} queries match")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
