#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle correctness compare.

Usage: python3 tools/oracle_check.py <sfDir> <verifyOutDir>

Reads <verifyOutDir>/oracle_sql.json (written by graft.Verify), runs each
oracle SQL against DuckDB views over the fixture parquet, canonicalizes
both sides (sort columns by name, round doubles, stringify timestamps,
sort rows) and reports per-query PASS/FAIL. Dev tool only — the engine
itself never depends on DuckDB or Python.
"""
import sys, json, glob, math, os, atexit, shutil, tempfile
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    # Deliberately STRICTER than the driver: the driver's pandas
    # sort_values throws on list/array cells, so a graded query that
    # emits one is red on the driver no matter what we do locally.
    # Fail loudly here instead of papering over it with a stringify
    # (the round-7 llm_inverted_index lesson).
    import numpy as np
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        dt = str(df[c].dtype)
        if dt in ("float64", "float32", "float16"):
            df[c] = df[c].astype("float64").round(6)
        elif "datetime" in dt:
            df[c] = df[c].astype("string")
        elif dt == "object":
            bad = df[c].apply(
                lambda v: isinstance(v, (list, set, dict, np.ndarray)))
            if bad.any():
                raise TypeError(
                    f"column '{c}' contains list/array cells — graded "
                    f"output must be scalar-only (driver cannot "
                    f"canonicalize it)")
            df[c] = df[c].apply(
                lambda v: str(v) if v is not None else None)
    return df.sort_values(by=list(df.columns), na_position="first") \
             .reset_index(drop=True)


# One spill directory per process, removed at exit.
SPILL_DIR = os.path.join(tempfile.gettempdir(),
                         f"graft_duckdb_spill_{os.getpid()}")
atexit.register(shutil.rmtree, SPILL_DIR, ignore_errors=True)


def host_limits(spill_dir: str):
    """DuckDB's memory limit and spill cap in MB, sized to the host the
    way tools/host_sizing.sh sizes Spark: half of MemTotal, and half of
    the space free on the spill directory's filesystem at start."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    st = os.statvfs(os.path.dirname(spill_dir))
    free_mb = st.f_bavail * st.f_frsize // 2**20
    return max(1024, kb // 1024 // 2), max(1024, free_mb // 2)


MEMORY_MB, SPILL_MB = host_limits(SPILL_DIR)


def fresh_con(sfdir: str):
    # One connection PER QUERY: a single shared connection accumulates
    # state across 252 oracle queries and intermittently dies with
    # "Out of Memory Error: Failed to allocate block" on the heavier
    # joins (observed on graph_triangles at sf0.1, 1-in-3 full runs).
    # Fresh connections + an explicit spill directory make the gate's
    # verdict a property of the QUERY, not of run-accumulated state.
    # Memory and spill are capped to the host (host_limits): a limit
    # above physical memory gets the process killed, an uncapped spill
    # can fill the disk.
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{SPILL_DIR}'")
    con.execute(f"SET memory_limit='{MEMORY_MB}MB'")
    con.execute(f"SET max_temp_directory_size='{SPILL_MB}MB'")
    for t in TABLES:
        # Driver fixtures are single files; the local sf1 fixture is
        # Spark-written (a directory of part files) — glob inside it.
        pat = f"{sfdir}/{t}.parquet"
        if os.path.isdir(pat):
            pat += "/*.parquet"
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pat}')")
    return con


def main(sfdir: str, outdir: str, only: str = None) -> int:
    with open(f"{outdir}/oracle_sql.json") as f:
        oracle = json.load(f)
    n_pass = n_fail = 0
    # `only` is a comma-separated any-match substring list, the same
    # semantics as graft.Verify's third arg, so a targeted Verify dump
    # and its oracle pass always cover the same query set.
    only_subs = [s for s in (only.split(",") if only else []) if s]
    for name in sorted(oracle):
        if only_subs and not any(s in name for s in only_subs):
            continue
        files = glob.glob(f"{outdir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output written")
            n_fail += 1
            continue
        con = fresh_con(sfdir)
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{outdir}/{name}/*.parquet')"
            ).df()
            exp = con.execute(oracle[name]).df()
        except Exception as e:
            print(f"FAIL {name}: error: {e}")
            n_fail += 1
            continue
        finally:
            con.close()
        g, e = canon(got.copy()), canon(exp.copy())
        problems = []
        if sorted(got.columns) != sorted(exp.columns):
            problems.append(
                f"schema: spark={sorted(got.columns)} oracle={sorted(exp.columns)}")
        elif len(g) != len(e):
            problems.append(f"rows: spark={len(g)} oracle={len(e)}")
        elif not g.equals(e):
            diff_cols = [c for c in g.columns if not g[c].equals(e[c])]
            mask = pd.Series(False, index=g.index)
            for c in diff_cols:
                mask |= ~((g[c] == e[c]) | (g[c].isna() & e[c].isna()))
            ex = pd.concat(
                [g[mask].head(3).add_prefix("spark_"),
                 e[mask].head(3).add_prefix("oracle_")], axis=1)
            problems.append(
                f"values differ in {diff_cols} ({int(mask.sum())} rows), e.g.\n{ex}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS {name} ({len(g)} rows)")
            n_pass += 1
    missing = [q for q in set(
        p.split('/')[-1] for p in glob.glob(f"{outdir}/*") if '.' not in p.split('/')[-1])
        if q not in oracle]
    if missing:
        print(f"NOTE rows-only (no oracle sql): {sorted(missing)}")
    print(f"== {n_pass} pass / {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2],
                  sys.argv[3] if len(sys.argv) > 3 else None))
