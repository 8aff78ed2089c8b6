#!/usr/bin/env python3
"""Cross-check the query suite's recorded results against the DuckDB oracle.

First dump every query's canonical rows (the same text the hashes in
expected_hashes.json are computed from):

    python3 cdcbench/run.py --workload query_suite --seed 0 \\
        --record-hashes .bench_build/hashes.json --dump-canonical .bench_build/canon

then compare them with each query's oracle SQL run by DuckDB on the same
fixture tables:

    python3 cdcbench/oracle_xcheck.py .bench_build/canon

Values are canonicalised by the Spark column type, as the benchmark does:
doubles and decimals to six significant digits, times as epoch
microseconds, dates as epoch days, NULL as N, arrays element by element.
"""
import datetime
import decimal
import json
import math
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1)


def canon(v, t):
    if v is None:
        return "N"
    if isinstance(t, dict):
        if t.get("type") == "array":
            return "[" + ",".join(canon(x, t["elementType"]) for x in v) + "]"
        raise ValueError(f"no canonical form for {t}")
    if t in ("double", "float") or t.startswith("decimal"):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        if f == 0:
            return ("-" if math.copysign(1, f) < 0 else "") + "0.00000e+00"
        # Java's %.5e rounds the shortest decimal form of the double half-up
        with decimal.localcontext() as c:
            c.rounding = decimal.ROUND_HALF_UP
            mant, exp = format(decimal.Decimal(repr(f)), ".5e").split("e")
        return f"{mant}e{int(exp):+03d}"
    if t in ("long", "integer", "short", "byte"):
        return str(int(v))
    if t == "boolean":
        return "true" if v else "false"
    if t in ("timestamp", "timestamp_ntz"):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return str((v - EPOCH) // datetime.timedelta(microseconds=1))
    if t == "date":
        return str((v - EPOCH.date()).days)
    if t == "binary":
        return bytes(v).hex().upper()
    return str(v)


def main(dump):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA}/{t}.parquet')")
    names = sorted(f[:-len(".schema")] for f in os.listdir(dump) if f.endswith(".schema"))
    ok, bad, unchecked = [], [], []
    for q in names:
        base = os.path.join(dump, q)
        if not os.path.exists(base + ".sql"):
            unchecked.append((q, "no oracle SQL"))
            continue
        fields = sorted(json.load(open(base + ".schema"))["fields"], key=lambda f: f["name"].lower())
        with open(base + ".rows", encoding="utf-8") as fh:
            spark = sorted(r for r in fh.read().split("\u0002") if r)
        try:
            cur = con.execute(open(base + ".sql").read())
            cols = [d[0].lower() for d in cur.description]
            rows = cur.fetchall()
            if sorted(cols) != sorted(f["name"].lower() for f in fields):
                bad.append((q, f"columns {sorted(cols)}"))
                continue
            idx = [cols.index(f["name"].lower()) for f in fields]
            oracle = sorted("\u0001".join(canon(r[i], f["type"]) for i, f in zip(idx, fields))
                            for r in rows)
        except Exception as e:  # the oracle cannot run or canonicalise it
            unchecked.append((q, str(e).splitlines()[0][:120]))
            continue
        if oracle == spark:
            ok.append((q, f"{len(spark)} rows"))
        else:
            bad.append((q, f"spark {len(spark)} rows, oracle {len(oracle)} rows"))
    for q, why in ok:
        print(f"OK        {q} ({why})")
    for q, why in bad:
        print(f"MISMATCH  {q} ({why})")
    for q, why in unchecked:
        print(f"UNCHECKED {q} ({why})")
    print(f"{len(ok)} ok, {len(bad)} mismatched, {len(unchecked)} unchecked")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
