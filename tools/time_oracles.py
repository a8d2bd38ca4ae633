#!/usr/bin/env python3
"""Time each DuckDB oracle the way BenchSuite times the engine: min of 2
fully-materializing runs (fetchall) on a warm connection.

Usage: python3 tools/time_oracles.py <sfDir> <verifyOutDir> [skip1,skip2,...]

Prints one `name seconds` line per oracle plus a total; pass a skip list for
oracles that are not data-proportional comparisons (e.g. d09/d10, whose
recursive-CTE transitive closure is the oracle's own scaling problem).
"""
import json, sys, time
import duckdb

sf_dir, out_dir = sys.argv[1], sys.argv[2]
skip = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else set()


def load_avg():
    try:
        return float(open("/proc/loadavg").read().split()[0])
    except Exception:
        return -1.0


def calib():
    """Single-thread CPU probe (min of 2 after one untimed warm-up): an
    anchor is only valid on an idle box, and this plus load_avg makes the
    output carry its own validity evidence instead of relying on operator
    memory. Compare calib values between runs of this script only."""
    def once():
        x, t0 = 0x9E3779B97F4A7C15, time.time()
        for _ in range(2_000_000):
            x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
            x ^= x >> 7
            x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
        return round(time.time() - t0 + (x & 1) * 1e-12, 3)
    once()
    return min(once(), once())


prov = {"load_avg_start": load_avg(), "calib_sec_start": calib()}

con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
con.execute("SELECT count(*) FROM lineitem").fetchall()  # warm-up

total = 0.0
out = {}
for name in sorted(oracles):
    if name in skip:
        print(f"{name} SKIPPED")
        continue
    ts = []
    for _ in range(2):
        t0 = time.time()
        con.execute(oracles[name]).fetchall()
        ts.append(time.time() - t0)
    out[name] = min(ts)
    total += out[name]
    print(f"{name} {out[name]:.3f}")
prov["load_avg_end"] = load_avg()
prov["calib_sec_end"] = calib()
prov["calib_ratio"] = round(
    prov["calib_sec_end"] / max(prov["calib_sec_start"], 1e-9), 3)
# contended = started loaded or got >25% slower;
# drifted = the box ran detectably off its start speed either direction
prov["contended"] = (prov["load_avg_start"] > 2.0
                     or prov["calib_ratio"] > 1.25)
prov["drifted"] = abs(prov["calib_ratio"] - 1.0) > 0.1
print(f"TOTAL {total:.2f} over {len(out)} oracles  prov={prov}")
json.dump({"prov": prov, "times": out}, open("/tmp/oracle_times.json", "w"))
