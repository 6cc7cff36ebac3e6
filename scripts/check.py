#!/usr/bin/env python3
"""Local approximation of the driver's t2 correctness gate:
run graft.Verify -> compare each query parquet against its DuckDB oracle
(sorted columns, sorted rows, exact value equality after the query's own
rounding). Usage: python3 scripts/check.py [sfdir] [outdir] [query...]
"""
import hashlib, json, math, re, subprocess, sys, os

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
ONLY = set(sys.argv[3:])

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

import duckdb
import numpy as np
import pandas as pd

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    # timestamps -> ns ints for stable compare
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = pd.to_datetime(df[c]).astype("int64")
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df

def compare(name, got, exp):
    if sorted(got.columns) != sorted(exp.columns):
        return f"SCHEMA mismatch: spark={sorted(got.columns)} duckdb={sorted(exp.columns)}"
    g, e = canon(got), canon(exp)
    if len(g) != len(e):
        return f"ROWS mismatch: spark={len(g)} duckdb={len(e)}"
    for c in g.columns:
        gv, ev = g[c], e[c]
        # the driver hashes VALUES WITH THEIR TYPES: an int column vs a
        # float column hash-mismatches even when every value is equal
        # (DuckDB HUGEINT sums surface as float). Enforce dtype-kind
        # equality BEFORE any tolerant compare so local green => driver green.
        if gv.dtype.kind != ev.dtype.kind:
            return (f"DTYPE mismatch in {c}: spark={gv.dtype} ({gv.dtype.kind}) "
                    f"vs duckdb={ev.dtype} ({ev.dtype.kind}) — cast the oracle "
                    f"(e.g. CAST(sum(...) AS BIGINT)) or the spark column")
        if gv.dtype.kind == "f" or ev.dtype.kind == "f":
            # The driver hashes BITS: -0.0 vs +0.0 and sub-1e-9 ULP drift are
            # real driver failures even though they are value-equal, so compare
            # bit patterns (NaN canonicalized so NaN==NaN). The tolerant diff
            # survives only to LABEL the failure mode in the message.
            if gv.dtype != ev.dtype:
                return (f"FLOAT WIDTH mismatch in {c}: spark={gv.dtype} vs "
                        f"duckdb={ev.dtype}")
            ga, ea = gv.to_numpy().copy(), ev.to_numpy().copy()
            ga[np.isnan(ga)] = np.nan  # canonical quiet-NaN bits
            ea[np.isnan(ea)] = np.nan
            w = "uint%d" % (ga.dtype.itemsize * 8)
            bad = ga.view(w) != ea.view(w)
            if bad.any():
                i = int(np.argmax(bad))
                gx, ex2 = ga[i], ea[i]
                if gx == ex2:  # bit-different but value-equal
                    kind = ("SIGNED-ZERO mismatch" if gx == 0
                            else "BIT mismatch on equal values")
                elif abs(gx - ex2) <= 1e-9:
                    kind = "ULP drift (value-equal to 1e-9)"
                else:
                    kind = "VALUE mismatch"
                return (f"{kind} in {c} row {i}: {gx!r} "
                        f"(bits {int(ga.view(w)[i]):#018x}) vs {ex2!r} "
                        f"(bits {int(ea.view(w)[i]):#018x})")
        else:
            if not gv.astype(object).where(~gv.isna(), None).equals(
                   ev.astype(object).where(~ev.isna(), None)):
                neq = gv.astype(str) != ev.astype(str)
                i = neq.idxmax()
                return f"VALUE mismatch in {c} row {i}: {gv[i]!r} vs {ev[i]!r}"
    return None

def dataset_fingerprint(sfdir, cache_dir):
    """Content hash of every table parquet at this SF. A full sha256 of the
    data runs once per dataset EVER: per-file digests are memoized in
    fingerprints.json keyed by (size, mtime_ns), so the 237 concurrent
    check.py processes of a parallel sweep each pay only a stat() per file.
    """
    fp_path = os.path.join(cache_dir, "fingerprints.json")
    try:
        memo = json.load(open(fp_path))
    except Exception:
        memo = {}
    dirty = False
    digests = []
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        files = (sorted(os.path.join(p, f) for f in os.listdir(p)
                        if f.endswith(".parquet"))
                 if os.path.isdir(p) else [p] if os.path.exists(p) else [])
        for f in files:
            st = os.stat(f)
            ent = memo.get(f)
            if not ent or ent["size"] != st.st_size or ent["mtime_ns"] != st.st_mtime_ns:
                h = hashlib.sha256()
                with open(f, "rb") as fh:
                    for chunk in iter(lambda: fh.read(1 << 22), b""):
                        h.update(chunk)
                ent = {"size": st.st_size, "mtime_ns": st.st_mtime_ns,
                       "sha256": h.hexdigest()}
                memo[f] = ent
                dirty = True
            digests.append(f"{t}:{ent['sha256']}")
    if dirty:
        tmp = f"{fp_path}.tmp.{os.getpid()}"
        json.dump(memo, open(tmp, "w"))
        os.replace(tmp, fp_path)  # atomic under concurrent sweep processes
    return hashlib.sha256("\n".join(digests).encode()).hexdigest()

def main():
    if not os.environ.get("SKIP_VERIFY"):
        subprocess.run(["scripts/run.sh", "graft.Verify", SF, OUT, *sorted(ONLY)], check=True)
    con = duckdb.connect()
    # parallel sweeps (sweep_parallel.sh) run many check.py processes at
    # once; without a cap each DuckDB grabs every core and they thrash
    if os.environ.get("DUCKDB_THREADS"):
        con.execute(f"SET threads={int(os.environ['DUCKDB_THREADS'])}")
    # likewise, a co-resident Spark JVM at scale-probe heaps leaves DuckDB
    # less than its default 80%-of-RAM assumption — make the split explicit
    if os.environ.get("DUCKDB_MEMLIMIT"):
        ml = os.environ["DUCKDB_MEMLIMIT"].strip()
        # validate before interpolating into SQL: a malformed value should
        # be a clear config error, not a DuckDB parse error
        if not re.fullmatch(r"[0-9]+(\.[0-9]+)?\s*(KB|MB|GB|TB|KiB|MiB|GiB)", ml, re.I):
            raise SystemExit(f"bad DUCKDB_MEMLIMIT {ml!r}: expected e.g. '20GB'")
        con.execute(f"SET memory_limit='{ml}'")
    for t in TABLES:
        p = f"{SF}/{t}.parquet"
        if os.path.isdir(p):
            # Spark-written table (ScaleUp sf1 output): directory of parts
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{OUT}/oracle_sql.json"))
    # Oracle result cache (VERDICT r12 next #6): the sf10 sweep spent hours
    # re-running byte-identical DuckDB answers (rel_triangle_count alone:
    # 47 min, 51 GB spill). Key = sha256(oracle SQL + dataset content hash);
    # value = the expected DataFrame pickled (pickle, not parquet: the
    # compare is dtype-kind- and bit-exact, and a parquet roundtrip can
    # alter dtypes). Enable by pointing GRAFT_ORACLE_CACHE at a directory.
    cache_dir = os.environ.get("GRAFT_ORACLE_CACHE")
    ds_fp = None
    if cache_dir:
        os.makedirs(cache_dir, exist_ok=True)
        ds_fp = dataset_fingerprint(SF, cache_dir)
    # Verify swallows per-query exceptions (a dead query must not kill the
    # whole dump), so a query that FAILED TO RUN has no output dir at all.
    # Iterate over oracle names ∪ dirs and flag the missing ones — otherwise
    # 54 dead queries can read as ALL GREEN (happened: the testdata
    # regeneration flipped events.ts nanos->micros and every events query
    # died in Verify, invisibly to the dir-driven loop).
    dirs = set(d for d in os.listdir(OUT) if os.path.isdir(os.path.join(OUT, d)))
    names = sorted(dirs | set(oracle))
    fails = 0
    for d in sorted(set(oracle) - dirs):
        if ONLY and d not in ONLY:
            continue
        print(f"FAIL {d}: query produced NO OUTPUT (died in Verify — check its stderr)")
        fails += 1
    for d in names:
        path = os.path.join(OUT, d)
        if d not in dirs:
            continue
        if ONLY and d not in ONLY:
            continue
        try:
            got = duckdb.connect().execute(f"SELECT * FROM '{path}/*.parquet'").df()
        except Exception as ex:
            print(f"FAIL {d}: cannot read spark output: {ex}")
            fails += 1
            continue
        if d not in oracle:
            print(f"ROWS-ONLY {d}: {len(got)} rows {'OK' if len(got) > 0 else '** EMPTY **'}")
            if len(got) == 0:
                fails += 1
            continue
        cache_file = None
        cached = False
        if cache_dir:
            key = hashlib.sha256(f"{oracle[d]}\0{ds_fp}".encode()).hexdigest()
            cache_file = os.path.join(cache_dir, f"{key}.pkl")
        exp = None
        if cache_file and os.path.exists(cache_file):
            try:
                exp = pd.read_pickle(cache_file)
                cached = True
            except Exception:
                exp = None  # truncated/corrupt entry: fall through and re-run
        fresh = False
        if exp is None:
            try:
                exp = con.execute(oracle[d]).df()
                fresh = True
            except Exception as ex:
                print(f"FAIL {d}: oracle SQL error: {str(ex).splitlines()[0]}")
                fails += 1
                continue
        err = compare(d, got, exp)
        # Cache a FRESH oracle result only when the compare PASSED. A
        # resource-squeezed DuckDB can return a WRONG RESULT instead of
        # erroring (observed: the capped-DBSCAN component closure emitted
        # 262,938 rows for 200,000 points under an 11 GB memory_limit at
        # sf10 — correct solo at 40 GB), and an unconditional write would
        # pin that poison for every later sweep. Caching only on green
        # costs one oracle re-run per retry of a genuinely-failing query
        # and can never entrench a bad expected-result.
        if fresh and err is None and cache_file:
            tmp = f"{cache_file}.tmp.{os.getpid()}"
            exp.to_pickle(tmp)
            os.replace(tmp, cache_file)
        if err:
            print(f"FAIL {d}: {err}")
            fails += 1
        else:
            print(f"OK   {d}: {len(got)} rows" + (" (oracle-cache)" if cached else ""))
    print(f"\n{'ALL GREEN' if fails == 0 else f'{fails} FAILURES'}")
    sys.exit(1 if fails else 0)

main()
