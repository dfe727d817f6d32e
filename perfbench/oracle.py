"""Expected outputs of the query workload, from DuckDB.

Each query op's oracle SQL (SparkEntry.oracleSql) runs in DuckDB on the same
parquet inputs; the result is reduced to its sorted column names, row count
and an order-insensitive digest. perfbench/scala/perfbench/Canon.scala
computes the same digest from the engine's rows, so the two compare equal
exactly when the results hold the same multiset of rows.
"""
import datetime
import hashlib
import math
from decimal import ROUND_HALF_EVEN, Context, Decimal

_CTX = Context(prec=10, rounding=ROUND_HALF_EVEN)
_EPOCH = datetime.datetime(1970, 1, 1)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _num(d):
    if d.is_nan():
        return "NaN"
    if d.is_infinite():
        return "Inf" if d > 0 else "-Inf"
    if d == 0:
        return "0"
    if d == d.to_integral_value():
        return str(int(d))
    return format(_CTX.plus(d).normalize(_CTX), "f")


def value(x, t=None):
    """Canonical text of one value of DuckDB type `t`; mirrors Canon.value.
    The type tells a MAP, which DuckDB returns as {"key": [..], "value":
    [..]}, from a STRUCT, which it returns as a dict by field name. Both
    render as {k=v,...}, sorted by the rendered key."""
    kind = t.id if t is not None else None
    sub = dict(t.children) if kind in ("map", "struct", "list") else {}
    if x is None:
        return "\\N"
    if isinstance(x, bool):
        return "true" if x else "false"
    if isinstance(x, int):
        return str(x)
    if isinstance(x, float):
        if math.isnan(x):
            return "NaN"
        if math.isinf(x):
            return "Inf" if x > 0 else "-Inf"
        return _num(Decimal(x))
    if isinstance(x, Decimal):
        return _num(x)
    if isinstance(x, str):
        return x
    if isinstance(x, datetime.datetime):
        if x.tzinfo is not None:
            x = x.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return str((x - _EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(x, datetime.date):
        return x.isoformat()
    if isinstance(x, (bytes, bytearray, memoryview)):
        return bytes(x).hex()
    if isinstance(x, dict):
        if kind == "map":
            pairs = [(value(k, sub["key"]), value(v, sub["value"]))
                     for k, v in zip(x["key"], x["value"])]
        else:
            pairs = [(str(k), value(v, sub.get(k))) for k, v in x.items()]
        return "{" + ",".join(f"{k}={v}" for k, v in sorted(pairs)) + "}"
    if isinstance(x, (list, tuple)):
        return "[" + ",".join(value(v, sub.get("child")) for v in x) + "]"
    return str(x)


def digest(cols, rows, types=None):
    """(sorted column names, row count, 16-hex-digit digest); `types` are
    the DuckDB column types, needed when a column holds maps."""
    types = types or [None] * len(cols)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    total = 0
    for r in rows:
        line = "\x1f".join(value(r[i], types[i]) for i in order)
        total += int.from_bytes(hashlib.md5(line.encode()).digest()[:8], "big")
    return [cols[i] for i in order], len(rows), "%016x" % (total % (1 << 64))


def sql_digest(con, sql):
    """digest() of one query's result in DuckDB connection `con`."""
    rel = con.sql(sql)
    return digest(rel.columns, rel.fetchall(), rel.types)


def query_expectations(data_dir, sql_by_op, threads):
    """{"ops": {op: {"cols", "rows", "hash"}}} for every op's oracle SQL."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads={int(threads)}")
    con.execute("SET enable_progress_bar=false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    ops = {}
    for op, sql in sorted(sql_by_op.items()):
        c, n, h = sql_digest(con, sql)
        ops[op] = {"cols": c, "rows": n, "hash": h}
    con.close()
    return {"ops": ops}
