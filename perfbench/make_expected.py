#!/usr/bin/env python3
"""Regenerate perfbench/expected.json: for every graft query with a DuckDB
oracle, the row count, sorted column names and order-insensitive digest
of the oracle's result on perfbench/data/sf0.01.

Usage, from the root of a graft checkout:

    python3 perfbench/make_expected.py

graft's oracle SQL (SparkEntry.oracleSql) is dumped by the harness JVM,
then run by DuckDB. The digest's canonical row form must stay identical
to Digest in src/main/scala/perfbench/DigestSink.scala: columns sorted
by name, NULL and NaN as "N", integral numbers as integers, other
floats as their IEEE-754 bits, strings prefixed "s", timestamps and
dates as "t" + microseconds since the epoch (UTC).
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import struct
import subprocess
import sys
import tempfile

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def number(d):
    if math.isnan(d):
        return "N"
    if math.isinf(d):
        return "inf" if d > 0 else "-inf"
    if d == math.floor(d) and abs(d) < 9.2e18:
        return str(int(d))
    return "x" + format(struct.unpack(">Q", struct.pack(">d", d))[0], "x")


def token(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return number(v)
    if isinstance(v, decimal.Decimal):
        return number(float(v))
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "b" + bytes(v).hex()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        return "t" + str((v - EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return "t" + str((v - datetime.date(1970, 1, 1)).days * 86400000000)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(token(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(token(x) for x in v.values()) + "}"
    raise TypeError(f"no digest form for {type(v)}")


def digest(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    total = 0
    for r in rows:
        text = "\x01".join(token(r[i]) for i in order)
        total += int.from_bytes(hashlib.md5(text.encode()).digest()[:8], "big")
    return sorted(names), len(rows), format(total % (1 << 64), "x")


def main():
    data = os.path.join(run.HERE, "data", "sf0.01")
    classpath = run.build()
    with tempfile.TemporaryDirectory(dir=run.BUILD) as tmp:
        path = os.path.join(tmp, "oracles.json")
        cmd = ["java", "-Xmx1g", "-XX:-UsePerfData"]
        for p in run.ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        subprocess.run(cmd + ["-cp", classpath, "perfbench.Main",
                              "--dump-oracles", path], check=True)
        with open(path) as f:
            oracles = json.load(f)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    out = {}
    for name in sorted(oracles):
        cur = con.execute(oracles[name])
        names = [d[0] for d in cur.description]
        cols, n, dig = digest(names, cur.fetchall())
        out[name] = {"columns": cols, "rows": n, "digest": dig}
        print(f"{name:28s} rows={n}", file=sys.stderr)
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump({"data": "perfbench/data/sf0.01", "queries": out}, f,
                  indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
