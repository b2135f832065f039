#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (SURVEY.md §6).

Runs AFTER `sbt "runMain graft.Verify <sfDir> <outDir>"`:
for each row of <outDir>/registry.json, read the Spark parquet result and
run the oracle SQL from oracle_sql.json in DuckDB against the same sf
tables, then compare THE WAY THE DRIVER DOES — through pandas:
  - columns sorted by name, rows sorted with DataFrame.sort_values
    (reproduces the driver's crash on unhashable cells, e.g. arrays);
  - dtype KINDS must match per column (int32 vs int64 passes, but
    DuckDB HUGEINT -> float64/object vs Spark int64 FAILS — this is the
    round-1 m2/t3 hash-mismatch class that fetchall()-based comparison
    can never see, because Python ints erase width);
  - values compared exactly; any float cell equal only under tolerance
    is flagged loudly (the driver hashes bits, not tolerances);
  - a pandas typed hash over the sorted frame as the final verdict.
A row Verify did not mark ok, or whose output holds no parquet file,
is a failure: a query that threw is never skipped or read stale.

Usage: python3 tools/check.py <sfDir> <outDir> [query ...]
"""
import json
import math
import sys
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame):
    """Sorted-column, sorted-row frame with int kinds widened to int64.

    Raises TypeError on unhashable cells (ndarray) exactly like the
    driver's checker does.
    """
    df = df[sorted(df.columns)]
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    df = df.reset_index(drop=True)
    for c in df.columns:
        if df[c].dtype.kind in "iu":
            df[c] = df[c].astype("int64")
    return df


def typed_hash(df: pd.DataFrame) -> int:
    # order-sensitive typed hash over the canonical frame: int64 and
    # float64 columns of equal values hash differently, as they should
    return int(pd.util.hash_pandas_object(df, index=False).sum())


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> bool:
    if sorted(sdf.columns) != sorted(odf.columns):
        print(f"[FAIL] {name}: column mismatch spark={sorted(sdf.columns)} "
              f"oracle={sorted(odf.columns)}")
        return False
    try:
        s = canon(sdf)
    except TypeError as e:
        print(f"[FAIL] {name}: spark result not sortable/hashable "
              f"(driver would error): {e}")
        return False
    try:
        o = canon(odf)
    except TypeError as e:
        print(f"[FAIL] {name}: oracle result not sortable/hashable: {e}")
        return False
    if len(s) != len(o):
        print(f"[FAIL] {name}: row count spark={len(s)} oracle={len(o)}")
        return False
    # dtype kinds must agree or the driver's typed hash differs even
    # when every value is equal (round-1: DuckDB HUGEINT vs Spark int64)
    for c in s.columns:
        sk, ok_ = s[c].dtype.kind, o[c].dtype.kind
        if sk != ok_:
            print(f"[FAIL] {name}: dtype kind mismatch on '{c}': "
                  f"spark={s[c].dtype} oracle={o[c].dtype} "
                  f"(uncast DuckDB sum()->HUGEINT? cast to BIGINT)")
            return False
    fuzzy = 0
    for c in s.columns:
        sv, ov = s[c].to_numpy(), o[c].to_numpy()
        if s[c].dtype.kind == "f":
            both_nan = pd.isna(sv) & pd.isna(ov)
            exact = (sv == ov) | both_nan
            if not exact.all():
                close = np.isclose(sv, ov, rtol=1e-9, atol=0, equal_nan=True)
                if close.all():
                    fuzzy += int((~exact).sum())
                else:
                    i = int(np.argmax(~close))
                    print(f"[FAIL] {name}: value mismatch col '{c}' sorted row "
                          f"{i}: spark={sv[i]} oracle={ov[i]}")
                    return False
        else:
            neq = ~((sv == ov) | (pd.isna(sv) & pd.isna(ov)))
            if neq.any():
                i = int(np.argmax(neq))
                print(f"[FAIL] {name}: value mismatch col '{c}' sorted row {i}: "
                      f"spark={sv[i]!r} oracle={ov[i]!r}")
                return False
    if fuzzy:
        print(f"[WARN->FAIL] {name}: {len(s)} rows equal but {fuzzy} float "
              f"cells only under tolerance — driver hash WILL differ")
        return False
    hs, ho = typed_hash(s), typed_hash(o)
    if hs != ho:
        print(f"[FAIL] {name}: typed hash mismatch ({hs} != {ho}) with equal "
              f"values — dtype or encoding difference the checks above missed")
        return False
    print(f"[PASS] {name}: {len(s)} rows, typed hash match")
    return True


def connect(sf_dir: str, *settings: str):
    """DuckDB connection with one view per fixture table, after the
    given SET statements."""
    con = duckdb.connect()
    for s in settings:
        con.execute(s)
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def verdict(con, out: Path, row: dict, oracle: dict, reason=None) -> dict:
    """Check one registry row; print its one-line verdict and return
    {"status": pass | rows_only | excluded | fail, ...}. `reason` names
    an oracle exclusion: the Spark output is then checked rows-only."""
    name, qdir = row["name"], out / row["name"]
    if row["status"] != "ok":
        err = f"Verify status {row['status']}: {row.get('error', '')}"[:300]
        print(f"[FAIL] {name}: {err}")
        return {"status": "fail", "error": err}
    if not list(qdir.glob("*.parquet")):
        print(f"[FAIL] {name}: no parquet output in {qdir}")
        return {"status": "fail", "error": "no parquet output"}
    t0 = time.time()
    sdf = con.execute(f"SELECT * FROM '{qdir}/*.parquet'").df()
    n = len(sdf)
    if reason is not None or not row["oracle"]:
        tag = "excluded" if reason is not None else "rows-only"
        print(f"[{tag}] {name}: {n} rows ({'OK' if n else 'EMPTY!'})"
              + (f" — {reason[:60]}..." if reason else ""))
        v = {"status": tag.replace("-", "_") if n else "fail", "rows": n}
        return {**v, "reason": reason} if reason else v
    try:
        odf = con.execute(oracle[name]).df()
    except (duckdb.OutOfMemoryException, MemoryError) as e:
        # ORACLE-side resource exhaustion is its own class: the
        # Spark result exists and may be perfectly correct — the
        # checker, not the engine, hit an environment limit (the
        # g1/v12 recursive-SQL spill at sf1). Distinct tag so a
        # driver/grader can adjudicate it separately from a wrong
        # answer; still counted as not-green here.
        print(f"[ORACLE-RESOURCE-FAIL] {name}: oracle exceeded "
              f"checker resources (Spark rows={n}): {e}")
        return {"status": "fail", "rows": n,
                "error": f"oracle resources: {e}"[:300]}
    except Exception as e:
        print(f"[FAIL] {name}: oracle SQL error: {e}")
        return {"status": "fail", "rows": n, "error": f"oracle error: {e}"[:300]}
    ok = compare(name, sdf, odf)
    return {"status": "pass" if ok else "fail", "rows": n,
            "oracle_sec": round(time.time() - t0, 1)}


def gate(con, out: Path, want=lambda name: True, exclude=None):
    """Yield (name, verdict) for each row of <out>/registry.json that
    `want` accepts, in registry order."""
    oracle = json.loads((out / "oracle_sql.json").read_text())
    for row in json.loads((out / "registry.json").read_text()):
        if want(row["name"]):
            yield row["name"], verdict(con, out, row, oracle,
                                       (exclude or {}).get(row["name"]))


def main(sf_dir: str, out_dir: str, only=None) -> int:
    verdicts = gate(connect(sf_dir), Path(out_dir),
                    lambda name: not only or name in only)
    failures = sum(v["status"] == "fail" for _, v in verdicts)
    print(f"\n{failures} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2], set(sys.argv[3:]) or None))
