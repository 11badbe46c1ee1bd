"""DuckDB side of the contract check: run oracle SQL over the fixture tables
and digest each result exactly as perfbench/src/.../Canon.scala digests the
engine's result (columns sorted by name, floats and decimals rounded
half-even to 6 places, rows sorted) — the canonical form of
tools/compare_oracle.py, made byte-exact so one digest stands for a result.
"""
import datetime
import decimal
import hashlib
import math

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
_CTX = decimal.Context(prec=200)
_Q = decimal.Decimal("0.000001")


def _num(d):
    s = format(d.quantize(_Q, rounding=decimal.ROUND_HALF_EVEN, context=_CTX), "f")
    return "0.000000" if s == "-0.000000" else s


def _esc(s):
    return s.replace("\\", "\\\\").replace("\x1f", "\\x1f")


def value(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        return _num(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return _num(v)
    if isinstance(v, str):
        return _esc(v)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "b" + bytes(v).hex()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(value(x) for x in v.values()) + "}"
    return _esc(str(v))


def digest(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    hashes = sorted(
        hashlib.sha256("\x1f".join(value(r[i]) for i in order).encode()).hexdigest()
        for r in rows)
    md = hashlib.sha256("\x1f".join(cols[i] for i in order).encode())
    for h in hashes:
        md.update(h.encode())
    return md.hexdigest()


def digests(sf_dir, oracle_sql):
    """{query: {"digest", "rows"}} for each oracle query; a query whose SQL
    fails gets digest None, so it never matches."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
            out[name] = {"digest": digest(cols, rows), "rows": len(rows)}
        except duckdb.Error as e:
            out[name] = {"digest": None, "rows": None, "error": str(e)}
    return out
