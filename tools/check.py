#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate: run oracle_sql.json in
DuckDB over the same sf dir, compare with the Spark parquet dumps.
Usage: python3 tools/check.py <sfDir> <verifyOutDir> [oracleTimeoutSec] [onlyCsv]

The optional third arg interrupts any single DuckDB oracle after that
many seconds and records it as [TIME] instead of [FAIL] — for scale
runs (sf >= 1) where a few intentionally-unblocked O(n^2) oracles
(e.g. the simhash all-pairs scan) outgrow the oracle engine, not ours.
The optional fourth arg restricts the run to a comma-separated subset
of query names (resume after a crash without redoing green rows); a
name with no oracle is an error, not an empty run.

Exits 1 when any row is [FAIL]; [TIME] and [EXHAUST] rows do not fail
the run.

DuckDB gets an explicit memory cap + spill dir (override the cap via
DUCK_MEM, e.g. DUCK_MEM=100GB): at sf10 the unbounded default let the
ivfpq replay oracle grow past physical RAM and the OS OOM-killed the
whole compare (exit 137) instead of spilling. An oracle that still
exhausts memory/disk under the cap is recorded as [EXHAUST] — same
class as [TIME]: the *oracle engine* ran out of resources replaying
the computation at this scale, which says nothing about our result
(the hash compare for those rows holds at the largest SF the oracle
completes).
"""
import sys, os, json, glob, math, threading
import re
import duckdb
import pandas as pd

TABLES = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df

def main(sf_dir: str, out_dir: str, timeout_s: float = 0.0,
         only: set | None = None) -> int:
    con = duckdb.connect()
    con.execute(f"SET memory_limit='{os.environ.get('DUCK_MEM', '60GB')}'")
    con.execute("SET temp_directory='/tmp/duck_spill'")
    con.execute("SET preserve_insertion_order=false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = 0
    n_timed = 0
    n_exhaust = 0
    EXHAUST = re.compile(r"Out of Memory Error|No space left on device")
    if only:
        unknown = only - oracles.keys()
        if unknown:
            sys.exit(f"unknown query names: {', '.join(sorted(unknown))}")
        oracles = {k: v for k, v in oracles.items() if k in only}
    for name, sql in sorted(oracles.items()):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"[FAIL] {name}: no spark output"); continue
        spark_df = norm(pd.concat([pd.read_parquet(f) for f in sorted(files)]))
        timer = None
        timed_out = []
        if timeout_s > 0:
            timer = threading.Timer(
                timeout_s, lambda: (timed_out.append(1), con.interrupt()))
            timer.start()
        try:
            duck_df = norm(con.execute(sql).fetchdf())
        except Exception as e:
            if timed_out:
                n_timed += 1
                print(f"[TIME] {name}: oracle exceeded {timeout_s:.0f}s "
                      f"(spark rows={len(spark_df)})")
            elif timeout_s > 0 and EXHAUST.search(str(e)):
                n_exhaust += 1
                print(f"[EXHAUST] {name}: oracle resource exhaustion: "
                      f"{str(e).splitlines()[0]} (spark rows={len(spark_df)})")
            else:
                print(f"[FAIL] {name}: oracle error {e}")
            continue
        finally:
            if timer is not None:
                timer.cancel()
        if list(spark_df.columns) != list(duck_df.columns):
            print(f"[FAIL] {name}: cols spark={list(spark_df.columns)} duck={list(duck_df.columns)}"); continue
        if len(spark_df) != len(duck_df):
            print(f"[FAIL] {name}: rows spark={len(spark_df)} duck={len(duck_df)}"); continue
        bad = None
        for c in spark_df.columns:
            a, b = spark_df[c], duck_df[c]
            for i, (x, y) in enumerate(zip(a, b)):
                def isnull(v):
                    if v is None:
                        return True
                    try:
                        return bool(pd.isna(v))  # NaN, NaT, pd.NA
                    except (TypeError, ValueError):
                        return False  # arrays etc.
                if isnull(x) and isnull(y):
                    continue
                if x != y:
                    bad = (c, i, x, y); break
            if bad: break
        if bad:
            c, i, x, y = bad
            print(f"[FAIL] {name}: value mismatch col={c} row={i} spark={x!r} duck={y!r}")
        else:
            n_ok += 1
            print(f"[ OK ] {name} ({len(spark_df)} rows)")
    timed = f" ({n_timed} oracle-timeout)" if n_timed else ""
    exh = f" ({n_exhaust} oracle-exhaust)" if n_exhaust else ""
    print(f"{n_ok}/{len(oracles)} ok{timed}{exh}")
    return len(oracles) - n_ok - n_timed - n_exhaust

if __name__ == "__main__":
    n_fail = main(sys.argv[1], sys.argv[2],
                  float(sys.argv[3]) if len(sys.argv) > 3 else 0.0,
                  set(sys.argv[4].split(",")) if len(sys.argv) > 4 else None)
    sys.exit(1 if n_fail else 0)
