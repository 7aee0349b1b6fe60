#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate: for each query output
parquet written by graft.Verify, run the oracle SQL in DuckDB over the same
sf dir and compare (rows, columns sorted by name, values)."""
import sys, json, glob, os, time
import duckdb
import pandas as pd

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft-verify"

def mem_total_mb():
    """The host's MemTotal in MB (from /proc/meminfo), or None."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // 1024
    except OSError:
        pass
    return None


con = duckdb.connect()
# big-sf runs: cap memory at half the host's RAM and let DuckDB spill
# instead of getting OOM-killed
total = mem_total_mb()
limit = f"{max(1024, total // 2)}MB" if total else "4GB"
print(f"duckdb memory_limit={limit} (MemTotal {total} MB)")
con.execute(f"SET memory_limit='{limit}'")
os.makedirs('/tmp/duck_spill', exist_ok=True)
con.execute("SET temp_directory='/tmp/duck_spill'")
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    p = f"{sf}/{t}.parquet"
    if os.path.isdir(p):  # Spark-written table dir (e.g. MakeScale output)
        p = f"{p}/*.parquet"
    if glob.glob(p) or os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

oracles = json.load(open(f"{out}/oracle_sql.json"))
ok, bad, secs = [], [], {}
for name in sorted(oracles):
    files = glob.glob(f"{out}/{name}/*.parquet")
    if not files:
        bad.append((name, "no spark output")); continue
    try:
        spark_df = pd.concat([pd.read_parquet(f) for f in sorted(files)])
        t0 = time.monotonic()
        try:
            duck_df = con.execute(oracles[name]).df()
        finally:
            secs[name] = time.monotonic() - t0
            print(f"duckdb {secs[name]:.2f}s {name}", flush=True)
    except Exception as e:
        bad.append((name, f"exec: {str(e).splitlines()[0][:200]}")); continue
    s = spark_df.reindex(sorted(spark_df.columns), axis=1).reset_index(drop=True)
    d = duck_df.reindex(sorted(duck_df.columns), axis=1).reset_index(drop=True)
    if list(s.columns) != list(d.columns):
        bad.append((name, f"cols spark={list(s.columns)} duck={list(d.columns)}")); continue
    if len(s) != len(d):
        bad.append((name, f"rows spark={len(s)} duck={len(d)}")); continue
    # value compare, column-by-column with dtype normalization
    diff = None
    for c in s.columns:
        sv, dv = s[c], d[c]
        try:
            if sv.dtype.kind == "f" or dv.dtype.kind == "f":
                import numpy as np
                if not np.allclose(sv.astype(float), dv.astype(float),
                                   rtol=0, atol=1e-9, equal_nan=True):
                    m = pd.Series(~np.isclose(sv.astype(float), dv.astype(float),
                                              rtol=0, atol=1e-9, equal_nan=True))
                    i = int(m.idxmax())
                    diff = f"col {c} row {i}: spark={sv[i]!r} duck={dv[i]!r}"
                    break
            else:
                if not sv.astype(str).equals(dv.astype(str)):
                    m = sv.astype(str) != dv.astype(str)
                    i = int(m.idxmax())
                    diff = f"col {c} row {i}: spark={sv[i]!r} duck={dv[i]!r}"
                    break
        except Exception as e:
            diff = f"col {c}: compare error {e}"; break
    if diff: bad.append((name, diff))
    else: ok.append(name)

slowest = sorted(secs.items(), key=lambda kv: -kv[1])[:10]
print(f"duckdb total {sum(secs.values()):.1f}s; slowest: "
      + ", ".join(f"{n} {t:.2f}s" for n, t in slowest))
print(f"PASS {len(ok)}: {' '.join(ok)}")
for name, why in bad:
    print(f"FAIL {name}: {why}")
sys.exit(1 if bad else 0)
