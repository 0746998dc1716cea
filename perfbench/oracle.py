"""Expected results of analytics_mix, recorded once per build through the
DuckDB oracle: for each query, its row count and the order-independent
checksum that graftbench.Checksum computes over Spark's result.
"""
import datetime
import decimal
import json
import math
import zlib

M = (1 << 64) - 1
NULL_H = 0x6A09E667F3BCC909
EPOCH = datetime.datetime(1970, 1, 1)
EPOCH_TZ = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def mix(x):
    z = (x + 0x9E3779B97F4A7C15) & M
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & M
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & M
    return z ^ (z >> 31)


def h_double(v):
    if math.isnan(v):
        return 0x7FF8000000000001
    if math.isinf(v):
        return 0x7FF0000000000001 if v > 0 else 0xFFF0000000000001
    if abs(v) < 1e12:
        return math.floor(v * 1e6 + 0.5) & M
    return (math.floor(v + 0.5) & M) ^ 0x5555555555555555


def h_bytes(b):
    return (zlib.crc32(b) & 0xFFFFFFFF) | (len(b) << 32)


def h_seq(hs):
    acc, n = 0x243F6A8885A308D3, 0
    for h in hs:
        acc = mix((acc * 31 + h) & M)
        n += 1
    return mix((acc + n) & M)


def h_row(hs):
    acc = 0
    for i, h in enumerate(hs):
        acc = mix((acc + h + i) & M)
    return mix(acc)


def h_value(v):
    if v is None:
        return NULL_H
    if isinstance(v, bool):
        return 1 if v else 2
    if isinstance(v, int):
        return v & M
    if isinstance(v, float):
        return h_double(v)
    if isinstance(v, decimal.Decimal):
        return h_double(float(v))
    if isinstance(v, str):
        return h_bytes(v.encode("utf-8"))
    if isinstance(v, (bytes, bytearray, memoryview)):
        return h_bytes(bytes(v))
    if isinstance(v, datetime.datetime):
        d = v - (EPOCH_TZ if v.tzinfo else EPOCH)
        return (d.days * 86400 * 10**6 + d.seconds * 10**6 + d.microseconds) & M
    if isinstance(v, datetime.date):
        return ((v - EPOCH.date()).days * 86400 * 10**6) & M
    if isinstance(v, (list, tuple)):
        return h_seq(h_value(x) for x in v)
    if isinstance(v, dict):
        return h_row(h_value(v[k]) for k in sorted(v))
    raise TypeError(f"no checksum for {type(v)}")


def checksum(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    total = 0
    for r in rows:
        total = (total + mix(h_row(h_value(r[i]) for i in order))) & M
    return len(rows), total - (1 << 64) if total >= 1 << 63 else total


def record(fixture_dir, oracle_sql_file, out_file, tables):
    import duckdb
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture_dir}/{t}.parquet'")
    sql = json.load(open(oracle_sql_file))
    expected = {}
    for name, q in sql.items():
        cur = con.execute(q)
        names = [d[0] for d in cur.description]
        rows, h = checksum(names, cur.fetchall())
        expected[name] = {"rows": rows, "hash": h}
    with open(out_file, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    return expected
