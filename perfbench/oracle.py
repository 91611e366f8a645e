"""Digests of query outputs, for comparing the engine with the DuckDB oracle.

A digest hashes an output's rows in their order, with the columns sorted by
name and values normalised the way the repository's oracle comparison treats
them as equal (1 == 1.0, -0.0 == 0.0, NaN == NaN, decimals as doubles, a date
as its midnight timestamp). The oracle side runs `SparkEntry.oracleSql` in
DuckDB over the same tables; its digests are cached, keyed by the SQL, the
table directory and these rules.
"""
import datetime
import decimal
import glob
import hashlib
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _value(v):
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v) + 0.0
        return "NaN" if f != f else f
    if isinstance(v, (list, tuple)):
        return [_value(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _value(x) for k, x in sorted(v.items(), key=lambda kv: str(kv[0]))}
    if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
        v = datetime.datetime(v.year, v.month, v.day)  # a date equals its midnight
    if isinstance(v, (datetime.datetime, datetime.time)):
        return v.isoformat()
    if isinstance(v, datetime.timedelta):
        return v.total_seconds()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    return str(v)


def digest(cursor):
    names = [d[0] for d in cursor.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = [[_value(r[i]) for i in order] for r in cursor.fetchall()]
    body = json.dumps([[names[i] for i in order], rows], sort_keys=True)
    return {"rows": len(rows), "digest": hashlib.sha256(body.encode()).hexdigest()}


def _connect(data_dir=None):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES if data_dir else []:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def oracle_digest(sql, data_dir, cache_dir):
    with open(__file__, "rb") as f:  # a change to the digest rules drops the cache
        rules = hashlib.sha256(f.read()).hexdigest()
    key = hashlib.sha256(f"{rules}\n{data_dir}\n{sql}".encode()).hexdigest()
    path = os.path.join(cache_dir, f"{key}.json")
    if os.path.exists(path):
        return json.load(open(path))
    con = _connect(data_dir)
    try:
        d = digest(con.execute(sql))
    finally:
        con.close()
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(d, f)
    os.replace(path + ".tmp", path)
    return d


def result_digest(result_dir):
    """Digest of an output the engine wrote as parquet; None if missing."""
    files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    if not files:
        return None
    con = _connect()
    try:
        return digest(con.execute("SELECT * FROM read_parquet(?)", [files]))
    finally:
        con.close()
