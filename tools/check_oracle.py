#!/usr/bin/env python3
"""Local pre-validation of the query registry against its DuckDB twins.

Mimics the driver's correctness gate. `sbt "runMain graft.Verify <sfDir>
<outDir>"` writes each query's parquet dump plus oracle_sql.json, which
holds the oracle twin of every registration (`SparkEntry.oracleSql`; each
query file registers a query once, as `Q(name, body, oracle)`). This
script runs each query's oracle SQL in DuckDB over the same source tables,
sorts columns by name, sorts rows, and compares values exactly. A dump
with no oracle_sql.json entry (only possible for an output directory left
over from an older tree) falls back to `rows-only`: pass iff non-empty.

Usage: python3 tools/check_oracle.py <sfDir> <outDir>
"""
import json
import re
import sys
import glob
import os
import time

import duckdb
import pandas as pd
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) > 0:
        df = df.sort_values(by=list(df.columns), ignore_index=True,
                            key=lambda s: s.astype(str))
    return df.reset_index(drop=True)


def values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    ints = (int, np.integer)
    # exact integer compare first: float() would collapse int64 values that
    # differ only below the 53-bit double mantissa (e.g. 60-bit simhash sigs)
    if isinstance(a, ints) and isinstance(b, ints) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        return int(a) == int(b)
    num = (int, float, np.integer, np.floating)
    if isinstance(a, num) and isinstance(b, num):
        fa, fb = float(a), float(b)
        return fa == fb or (np.isnan(fa) and np.isnan(fb))
    if isinstance(a, (np.ndarray, list)) and isinstance(b, (np.ndarray, list)):
        return len(a) == len(b) and all(values_equal(x, y) for x, y in zip(a, b))
    return str(a) == str(b)


def compare(name: str, spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> str:
    s, o = canon(spark_df), canon(oracle_df)
    if list(s.columns) != list(o.columns):
        return f"SCHEMA MISMATCH spark={list(s.columns)} oracle={list(o.columns)}"
    # A 0-row bilateral match proves nothing about the query's formula —
    # the r7 verdict found two gate rows passing vacuously for rounds.
    # Surface it as its own status (counted as FAIL) so it can't recur.
    if len(s) == 0 and len(o) == 0:
        return "VACUOUS (0 rows on both engines — formula never exercised)"
    # the driver's gate hashes stringified values, so int64 vs float64 drift
    # ("6" vs "6.0") fails there even when numerically equal — e.g. a DuckDB
    # HUGEINT (sum(BIGINT), uncast) converting to float64 in pandas. Catch the
    # class locally: integer column on one side, float on the other → FAIL.
    for c in s.columns:
        sk, ok_ = s[c].dtype.kind, o[c].dtype.kind
        if {sk, ok_} == {"i", "f"} or {sk, ok_} == {"u", "f"}:
            return (f"DTYPE DRIFT col={c}: spark={s[c].dtype} oracle="
                    f"{o[c].dtype} (driver stringify would hash-mismatch; "
                    f"CAST the oracle column to BIGINT/DOUBLE explicitly)")
    if len(s) != len(o):
        return f"ROWCOUNT MISMATCH spark={len(s)} oracle={len(o)}"
    for c in s.columns:
        sv, ov = s[c].values, o[c].values
        for i in range(len(sv)):
            if not values_equal(sv[i], ov[i]):
                return (f"VALUE MISMATCH col={c} row={i}: "
                        f"spark={sv[i]!r} oracle={ov[i]!r}")
    return "OK"


def main():
    # args: <sfDir> <outDir> [--only a,b] [--resume report.txt]
    # Long runs (sf1+: quadratic recall-proof oracles) need progress and
    # restartability — each query's verdict streams line-buffered as it
    # finishes ("done" lines, distinct from the final sorted PASS/FAIL
    # report), and --resume skips queries already verdict-ed in a prior
    # partial report so a killed run loses only the in-flight query.
    argv = [a for a in sys.argv[1:]]
    only, resume, skip = None, {}, {}
    if "--only" in argv:
        i = argv.index("--only")
        only = set(argv[i + 1].split(","))
        del argv[i:i + 2]
    # --skip q1=reason,q2=reason: record a SKIP verdict without running the
    # oracle. For oracles that are infeasible at the target SF by DESIGN
    # (e.g. the deliberately-unfiltered prefix-filter losslessness proof is
    # quadratic in the corpus; at sf1's near-complete pair coverage it
    # would join ~1e9 candidate pairs in DuckDB) — the reason string is
    # carried into the committed correctness artifact.
    if "--skip" in argv:
        i = argv.index("--skip")
        for part in argv[i + 1].split(","):
            name, _, reason = part.partition("=")
            skip[name] = reason or "oracle infeasible at this SF"
        del argv[i:i + 2]
    if "--resume" in argv:
        i = argv.index("--resume")
        with open(argv[i + 1]) as f:
            for line in f:
                m = re.match(r"done\s+(PASS|FAIL|SKIP)\s+(\S+)\s+(.*?)"
                             r"(?:\s+\[[0-9.]+s\])?$", line.rstrip())
                if m:
                    resume[m.group(2)] = m.group(3)
        del argv[i:i + 2]
    sf_dir, out_dir = argv[0], argv[1]
    con = duckdb.connect()
    # Big-SF runs: DuckDB's default memory limit is 80% of RAM and the
    # quadratic recall-proof oracles will happily hit it (the first sf1
    # attempt was OOM-killed at 130 GB RSS with every buffered result
    # lost). Cap memory and spill to disk instead.
    mem = os.environ.get("ORACLE_MEM", "40GB")
    thr = os.environ.get("ORACLE_THREADS", "24")
    con.execute(f"SET memory_limit='{mem}'")
    con.execute(f"SET threads TO {thr}")
    # Per-process spill dir: DuckDB names its temp files
    # duckdb_temp_storage-N.tmp, so two concurrent check_oracle runs
    # sharing one directory clobber each other's spill (observed at sf1:
    # cross-process corruption surfaced as a bogus "list dimensions must
    # be equal, got left length 0" and a terminate() on file removal).
    spill = f"/tmp/duckdb_spill_{os.getpid()}"
    os.makedirs(spill, exist_ok=True)
    import atexit, shutil
    atexit.register(shutil.rmtree, spill, ignore_errors=True)
    con.execute(f"SET temp_directory='{spill}'")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)

    results = {}
    for qdir in sorted(glob.glob(f"{out_dir}/*/")):
        name = os.path.basename(qdir.rstrip("/"))
        if only is not None and name not in only:
            continue
        if name in resume:
            results[name] = resume[name]
            continue
        if name in skip:
            results[name] = f"SKIP ({skip[name]})"
            print(f"done  SKIP  {name}  {results[name]}", flush=True)
            continue
        t0 = time.time()
        parts = glob.glob(f"{qdir}/*.parquet")
        if not parts:
            results[name] = "NO SPARK OUTPUT"
            continue
        spark_df = pd.concat([pd.read_parquet(p) for p in parts],
                             ignore_index=True)
        if name not in oracles:
            results[name] = f"rows-only: {len(spark_df)} rows " + \
                            ("OK" if len(spark_df) > 0 else "EMPTY!")
        else:
            try:
                oracle_df = con.sql(oracles[name]).df()
                try:
                    results[name] = compare(name, spark_df, oracle_df)
                except Exception as e:
                    results[name] = f"COMPARE ERROR: {e}"
            except Exception as e:
                results[name] = f"ORACLE SQL ERROR: {e}"
        r = results[name]
        ok = r == "OK" or r.startswith("rows-only") and "EMPTY" not in r
        print(f"done  {'PASS' if ok else 'FAIL'}  {name}  {r}"
              f"  [{time.time() - t0:.1f}s]", flush=True)

    declared = set(oracles) - set(results)
    if only is not None:
        declared &= only
    for name in sorted(declared):
        results[name] = "ORACLE DECLARED BUT NO QUERY OUTPUT"

    # Verify's per-query ledger: a query that failed ANALYSIS writes no
    # output dir at all, so dir-globbing alone would skip it silently
    # (round-6 failure mode). Any non-ok ledger entry is a hard FAIL even
    # when the query has no SQL oracle.
    ledger_path = f"{out_dir}/verify_status.json"
    if os.path.exists(ledger_path):
        with open(ledger_path) as f:
            ledger = json.load(f)
        for name, st in sorted(ledger.items()):
            if only is not None and name not in only:
                continue
            if st != "ok":
                results[name] = f"VERIFY ERROR: {st}"

    width = max(len(n) for n in results) if results else 10
    n_ok, n_skip = 0, 0
    for name in sorted(results):
        r = results[name]
        if r.startswith("SKIP"):
            n_skip += 1
            print(f"SKIP  {name:<{width}}  {r}")
            continue
        ok = r == "OK" or r.startswith("rows-only") and "EMPTY" not in r
        n_ok += ok
        print(f"{'PASS' if ok else 'FAIL'}  {name:<{width}}  {r}")
    checked = len(results) - n_skip
    print(f"\n{n_ok}/{checked} pass ({n_skip} skipped)")
    sys.exit(0 if n_ok == checked else 1)


if __name__ == "__main__":
    main()
