#!/usr/bin/env python3
"""DuckDB side of the batch_queries output check.

Runs each query's oracle SQL (the DuckDB twin every query declares in
`SparkEntry.oracleSql`) over the generated tables and digests the result
exactly the way `Canon.scala` digests the Spark result: columns sorted by
name, every number as the bits of its double value, timestamps as epoch
microseconds, rows sorted, SHA-256 over the lot.
"""
import datetime
import decimal
import hashlib
import struct

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1)


def num(x):
    x = float(x)
    if x != x:
        return "nNaN"
    if x == 0.0:
        x = 0.0
    return "n" + format(struct.unpack(">Q", struct.pack(">d", x))[0], "x")


def value(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, (int, float, decimal.Decimal)):
        return num(v)
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return "t" + str((v - EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return "D" + str((v - EPOCH.date()).days)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x" + bytes(v).hex()
    if isinstance(v, dict):
        if set(v) == {"key", "value"} and isinstance(v["key"], list):
            return "<" + ",".join(sorted(value(k) + ":" + value(x) for k, x in zip(v["key"], v["value"]))) + ">"
        return "{" + ",".join(value(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(x) for x in v) + "]"
    return "?" + str(v)


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\u0001".join(value(r[i]) for i in order) for r in rows)
    text = "\n".join(["\u0001".join(columns[i] for i in order)] + lines)
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def oracle_digests(tables_dir, sqls):
    """{query name: digest of its oracle result over tables_dir}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
    out = {}
    for name, sql in sorted(sqls.items()):
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        out[name] = digest(cols, cur.fetchall())
    return out
