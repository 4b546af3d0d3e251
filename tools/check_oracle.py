#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle compare.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Loads every <name>.parquet under verifyOutDir (written by graft.Verify),
runs the matching SQL from oracle_sql.json in DuckDB against the sfDir
tables, sorts columns by name and rows by all columns, and compares values.
An oracle_sql.json entry with no output directory is a failure too (the
query crashed in graft.Verify; verify_failures.json, when present, gives
the error). Exits non-zero on any failure.

Each oracle runs in its own child process, one at a time, on a fresh
DuckDB connection. A child that dies (the kernel's OOM killer, a DuckDB
crash) is a named failure of that query, and the compare goes on with
the next one.

DuckDB is bounded by the machine it runs on: memory_limit is 4/5 of
MemTotal, threads is the CPU count, and spill goes to a fresh directory
under the system temp dir that is removed when the oracle ends. A lower
limit fails text_lm_generate's oracle even at sf0.001: DuckDB accounts
11-12.5 GiB to its unrolled CTE chain while the process stays near
3.5 GiB resident (measured with DuckDB 1.0 on a 15.7 GiB, 4-core
machine).
"""
import json, sys, glob, os, shutil, signal, tempfile
import multiprocessing as mp
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # tz-naive everything for comparison
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            try:
                df[c] = df[c].dt.tz_localize(None)
            except (TypeError, AttributeError):
                pass
    return df.reset_index(drop=True)

def mem_total_kib() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("no MemTotal in /proc/meminfo")

def run_oracle(sf_dir: str, sql: str, spill: str, result: str) -> None:
    """Child process: runs one oracle under the machine's bounds and
    pickles its result to `result`, or writes the error to
    `result`.err."""
    try:
        with duckdb.connect(config={
                "memory_limit": f"{mem_total_kib() * 4 // 5}KiB",
                "threads": len(os.sched_getaffinity(0)),
                "temp_directory": spill}) as con:
            for t in TABLES:
                p = f"{sf_dir}/{t}.parquet"
                if os.path.exists(p):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            con.sql(sql).df().to_pickle(result)
    except Exception as e:
        with open(result + ".err", "w") as f:
            f.write(str(e))

def oracle_result(ctx, sf_dir: str, sql: str, work: str):
    """(DataFrame, None) from a child that ran `sql`, or (None, error).
    The child's spill directory and result files are removed here, so a
    killed child leaves nothing behind."""
    spill = os.path.join(work, "spill")
    result = os.path.join(work, "result.pkl")
    os.makedirs(spill)
    child = ctx.Process(target=run_oracle, args=(sf_dir, sql, spill, result))
    child.start()
    child.join()
    try:
        if os.path.exists(result + ".err"):
            with open(result + ".err") as f:
                return None, f"oracle SQL failed: {f.read()}"
        if child.exitcode != 0:
            died = (f"killed by {signal.Signals(-child.exitcode).name}"
                    if child.exitcode < 0 else f"exit code {child.exitcode}")
            return None, f"oracle process died ({died})"
        return pd.read_pickle(result), None
    finally:
        shutil.rmtree(spill, ignore_errors=True)
        for p in (result, result + ".err"):
            if os.path.exists(p):
                os.remove(p)

def main(sf_dir: str, out_dir: str) -> int:
    # children fork from a server started before this process reads any
    # parquet, so none inherits the parent's reader threads
    ctx = mp.get_context("forkserver")
    ctx.set_forkserver_preload(["duckdb", "pandas"])
    work = tempfile.mkdtemp(prefix="check_oracle_")
    try:
        return compare(ctx, sf_dir, out_dir, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

def compare(ctx, sf_dir: str, out_dir: str, work: str) -> int:
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    n_pass = n_fail = 0
    for d in sorted(glob.glob(f"{out_dir}/*")):
        name = os.path.basename(d)
        if not os.path.isdir(d):
            continue
        got = canon(pd.read_parquet(d))
        if name not in oracle:
            print(f"  [rows-only] {name}: {len(got)} rows")
            continue
        exp, err = oracle_result(ctx, sf_dir, oracle[name], work)
        if err is not None:
            print(f"✗ {name}: {err}")
            n_fail += 1
            continue
        exp = canon(exp)
        status = []
        if list(got.columns) != list(exp.columns):
            status.append(f"cols spark={list(got.columns)} duck={list(exp.columns)}")
        elif len(got) != len(exp):
            status.append(f"rows spark={len(got)} duck={len(exp)}")
        else:
            g = got.sort_values(list(got.columns)).reset_index(drop=True)
            e = exp.sort_values(list(exp.columns)).reset_index(drop=True)
            for c in got.columns:
                gc, ec = g[c], e[c]
                try:
                    eq = (gc.fillna("__N__") == ec.fillna("__N__")).all() if gc.dtype == object \
                        else ((gc.isna() & ec.isna()) | (gc == ec)).all()
                except Exception:
                    eq = gc.astype(str).equals(ec.astype(str))
                if not eq:
                    bad = (~((gc.isna() & ec.isna()) | (gc.astype(str) == ec.astype(str)))).idxmax()
                    status.append(f"col {c} differs, e.g. row {bad}: spark={gc[bad]!r} duck={ec[bad]!r}")
            # dtype note (not a failure, informational)
            dt = [f"{c}: {got[c].dtype}!={exp[c].dtype}" for c in got.columns
                  if str(got[c].dtype) != str(exp[c].dtype)]
            if dt and not status:
                status.append("DTYPE-ONLY " + "; ".join(dt))
        if not status:
            print(f"✓ {name} ({len(got)} rows)")
            n_pass += 1
        else:
            print(f"✗ {name}: " + " | ".join(status[:3]))
            n_fail += 1
    failures_path = f"{out_dir}/verify_failures.json"
    errors = {}
    if os.path.exists(failures_path):
        with open(failures_path) as f:
            errors = json.load(f)
    for name in sorted(oracle):
        if not os.path.isdir(f"{out_dir}/{name}"):
            print(f"✗ {name}: no output directory"
                  + (f" ({errors[name]})" if name in errors else ""))
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
