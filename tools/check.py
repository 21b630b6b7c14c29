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

Each oracle runs in its own child process whose address space is
capped (resource.RLIMIT_AS, set in that child only) at half of physical
memory. DuckDB in the child gets a memory limit of half that cap plus a
spill dir (override the DuckDB limit via DUCK_MEM, e.g. DUCK_MEM=100GB).
A child that dies, whatever kills it, is one [EXHAUST] row and the
compare goes on; it never counts as OK. (An oracle that grows past
physical RAM — the sf0.1 longest-dup suffix oracles, the sf10 ivfpq
replay — would otherwise get the whole compare OOM-killed, exit 137.)
An oracle that raises a memory/disk error under the cap is
[EXHAUST] too when a timeout is given (scale runs), [FAIL] otherwise.
[EXHAUST] is the same class as [TIME]: the *oracle engine* ran out of
resources replaying the computation at this scale, which says nothing
about our result (the hash compare for those rows holds at the largest
SF the oracle completes).
"""
import sys, os, json, glob, pickle, resource, tempfile
import multiprocessing as mp
import re
import duckdb
import pandas as pd

TABLES = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df

# The child's address-space cap and DuckDB's memory limit inside it.
CHILD_CAP = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2
DUCK_MEM = os.environ.get("DUCK_MEM", f"{CHILD_CAP // 2 // 2**20}MB")

def run_oracle(sf_dir: str, sql: str, out_path: str) -> None:
    """Child process: cap its own memory, run one oracle, pickle
    ("ok", frame) or ("error", message) to out_path."""
    resource.setrlimit(resource.RLIMIT_AS, (CHILD_CAP, CHILD_CAP))
    try:
        con = duckdb.connect()
        con.execute(f"SET memory_limit='{DUCK_MEM}'")
        con.execute("SET temp_directory='/tmp/duck_spill'")
        con.execute("SET preserve_insertion_order=false")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        result = ("ok", con.execute(sql).fetchdf())
    except Exception as e:
        result = ("error", str(e))
    with open(out_path, "wb") as f:
        pickle.dump(result, f)

def main(sf_dir: str, out_dir: str, timeout_s: float = 0.0,
         only: set | None = None) -> int:
    # forkserver: children fork from a clean, single-threaded server
    # with duckdb and pandas loaded, not from this (threaded) process
    ctx = mp.get_context("forkserver")
    ctx.set_forkserver_preload(["duckdb", "pandas"])
    work = tempfile.TemporaryDirectory(prefix="check-")
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
        out_path = os.path.join(work.name, f"{name}.pkl")
        child = ctx.Process(target=run_oracle, args=(sf_dir, sql, out_path))
        child.start()
        child.join(timeout_s if timeout_s > 0 else None)
        if child.is_alive():
            child.kill()
            child.join()
            n_timed += 1
            print(f"[TIME] {name}: oracle exceeded {timeout_s:.0f}s "
                  f"(spark rows={len(spark_df)})")
            continue
        if child.exitcode != 0 or not os.path.exists(out_path):
            n_exhaust += 1
            code = child.exitcode
            how = f"killed by signal {-code}" if code < 0 else f"exit {code}"
            print(f"[EXHAUST] {name}: oracle process died ({how}) "
                  f"(spark rows={len(spark_df)})")
            continue
        with open(out_path, "rb") as f:
            status, value = pickle.load(f)
        os.remove(out_path)
        if status == "error":
            if timeout_s > 0 and EXHAUST.search(value):
                n_exhaust += 1
                print(f"[EXHAUST] {name}: oracle resource exhaustion: "
                      f"{value.splitlines()[0]} (spark rows={len(spark_df)})")
            else:
                print(f"[FAIL] {name}: oracle error {value}")
            continue
        duck_df = norm(value)
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
    try:
        args = (sys.argv[1], sys.argv[2],
                float(sys.argv[3]) if len(sys.argv) > 3 else 0.0,
                set(sys.argv[4].split(",")) if len(sys.argv) > 4 else None)
    except (IndexError, ValueError):
        print(next(l for l in __doc__.splitlines() if l.startswith("Usage:")),
              file=sys.stderr)
        sys.exit(2)
    n_fail = main(*args)
    sys.exit(1 if n_fail else 0)
