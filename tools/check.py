#!/usr/bin/env python3
"""Local replica of the driver's t2 DuckDB-oracle check.

Usage: python3 tools/check.py [sfDir] [outDir] [oracleTimeoutSec]

With a timeout, an oracle query exceeding it is reported as
"SKIP (oracle cost cap)" and counted separately — the gate result for
that query is then unknown rather than failed. Used for the sf1-class
run where a handful of DuckDB list-heavy replays (the quadratic
shingle/pair CTEs) exceed any reasonable single-process budget while
the Spark side finishes fine.

Runs AFTER `sbt "runMain graft.Verify <sfDir> <outDir>"` has produced
outDir/<name>/ parquet dirs + outDir/oracle_sql.json. For each query:
registers the sf tables as DuckDB views, runs the oracle SQL, loads the
Spark parquet, sorts columns by name, sorts rows, and compares values
(exact for non-floats, tiny tolerance report for floats).
"""
import sys, json, glob, math
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(r[i] for i in order))
    def key(t):
        return tuple((x is None, str(x)) for x in t)
    out.sort(key=key)
    return [cols[i] for i in order], out

def cmp_vals(a, b):
    if a is None and b is None: return True
    if (a is None) != (b is None): return False
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b): return True
        return a == b
    return a == b

def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    timeout = float(sys.argv[3]) if len(sys.argv) > 3 else None
    import os

    def fresh_con():
        c = duckdb.connect()
        for t in TABLES:
            # Spark-written tables (e.g. BuildSf1's replicated sf1) are
            # DIRECTORIES of part files; driver testdata is single files
            path = f"{sf}/{t}.parquet"
            pat = f"{path}/*.parquet" if os.path.isdir(path) else path
            c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pat}')")
        return c

    con = fresh_con()
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    npass = nfail = nskip = 0

    def run_oracle(sql):
        # A single DuckDB connection must never be used from two threads
        # at once: if an interrupted oracle worker does not stop within
        # the grace period, ABANDON that connection (the daemon thread
        # keeps its own reference) and hand the main loop a fresh one —
        # running the next oracle on the shared handle would be
        # undefined behavior and could corrupt the remaining gates.
        nonlocal con
        if timeout is None:
            return con.execute(sql).fetchall(), [d[0] for d in con.description]
        import threading
        mycon = con
        res, err = [], []
        def work():
            try:
                res.append((mycon.execute(sql).fetchall(),
                            [d[0] for d in mycon.description]))
            except Exception as e:
                err.append(e)
        t = threading.Thread(target=work, daemon=True)
        t.start(); t.join(timeout)
        if t.is_alive():
            mycon.interrupt(); t.join(30)
            if t.is_alive():
                con = fresh_con()
            raise TimeoutError(f"oracle exceeded {timeout}s")
        if err: raise err[0]
        return res[0]
    for name, sql in sorted(oracle.items()):
        files = glob.glob(f"{out}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); nfail += 1; continue
        try:
            orows, ocols = run_oracle(sql)
        except TimeoutError as e:
            print(f"SKIP {name}: oracle cost cap ({e})"); nskip += 1; continue
        except Exception as e:
            print(f"FAIL {name}: oracle error {e}"); nfail += 1; continue
        srel = con.execute(f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')")
        srows = srel.fetchall()
        scols = [d[0] for d in srel.description]
        if sorted(scols) != sorted(ocols):
            print(f"FAIL {name}: cols spark={sorted(scols)} oracle={sorted(ocols)}")
            nfail += 1; continue
        oc, orows_c = canon(orows, ocols)
        sc, srows_c = canon(srows, scols)
        if len(orows_c) != len(srows_c):
            print(f"FAIL {name}: rowcount spark={len(srows_c)} oracle={len(orows_c)}")
            nfail += 1; continue
        bad = None
        for i, (a, b) in enumerate(zip(srows_c, orows_c)):
            if not all(cmp_vals(x, y) for x, y in zip(a, b)):
                bad = (i, a, b); break
        if bad:
            print(f"FAIL {name}: row {bad[0]} spark={bad[1]} oracle={bad[2]}")
            nfail += 1
        else:
            print(f"PASS {name} ({len(srows_c)} rows)"); npass += 1
    skip = f" / {nskip} skip (oracle cost cap)" if nskip else ""
    print(f"== {npass} pass / {nfail} fail{skip} ==")
    sys.exit(1 if nfail else 0)

if __name__ == "__main__":
    main()
