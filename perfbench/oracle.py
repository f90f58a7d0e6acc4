"""Expected outputs of a workload's ops, from the DuckDB oracle.

Runs each op's oracle SQL (the catalog's SparkEntry.oracleSql) on the
generated tables and folds its rows exactly as the JVM side folds the engine's
output (perfbench/src/perfbench/Fold.scala): columns sorted by name,
values rendered canonically with floats rounded to 9 decimals as
tools/compare.py does, then the sum of the first two 32-bit words of
each row's MD5.

Also counts, from the inputs, the multiply-adds of each mxm op and the
edges of each fixed-round graph op, for the per-layer rates.
"""
import datetime
import decimal
import hashlib
import math
import os
import struct

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# multiply-adds of each mxm op's product before any mask is applied
PRODUCTS = {
    "q_mxm": ("SELECT SUM(a.n * b.n) FROM "
              "(SELECT l_partkey AS k, COUNT(DISTINCT l_orderkey) AS n FROM lineitem GROUP BY 1) a "
              "JOIN (SELECT l_partkey AS k, COUNT(DISTINCT l_suppkey) AS n FROM lineitem "
              "GROUP BY 1) b USING (k)"),
    # A.A over the symmetric part co-occurrence graph of orders < 2000
    "q_clustering": ("WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem "
                     "WHERE l_orderkey < 2000), "
                     "e AS (SELECT DISTINCT x.p AS i, y.p AS j FROM li x JOIN li y USING (o) "
                     "WHERE x.p < y.p) "
                     "SELECT SUM(n * n) FROM (SELECT k, COUNT(*) AS n FROM "
                     "(SELECT i AS k FROM e UNION ALL SELECT j FROM e) GROUP BY 1)"),
}
# directed edges each round of a fixed-round loop scans
EDGES = {
    "q_lpa": "SELECT 2 * COUNT(*) FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
}

_EPOCH = datetime.datetime(1970, 1, 1)


def canon_double(d):
    if d != d:
        return "nan"
    if math.isinf(d):
        return "inf" if d > 0 else "-inf"
    r = round(d, 9)
    if r == math.floor(r) and abs(r) < 1e15:
        return str(int(r))
    return "d" + str(struct.unpack("<q", struct.pack("<d", r))[0])


def canon(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return canon_double(v)
    if isinstance(v, decimal.Decimal):
        return str(int(v)) if v == v.to_integral_value() else canon_double(float(v))
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        delta = v - _EPOCH
        return str((delta.days * 86400 + delta.seconds) * 1000000 + delta.microseconds)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def fold(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    n = h1 = h2 = 0
    for r in rows:
        d = hashlib.md5("\x1f".join(canon(r[i]) for i in order).encode("utf-8")).digest()
        a, b = struct.unpack(">II", d[:8])
        n += 1
        h1 += a
        h2 += b
    return [cols[i] for i in order], n, h1, h2


INTEGER_TYPES = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
                 "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"}


def fold_sql(con, sql):
    """fold() of the rows of `sql`, computed inside DuckDB when every
    column is an integer (canon() of an integer is its decimal text, as
    DuckDB renders it), else in Python. Large products are integer COO
    matrices, and hashing their rows in Python would dominate the run."""
    rel = con.sql(sql)
    cols = rel.columns
    if any(str(t) not in INTEGER_TYPES for t in rel.types):
        cur = con.execute(sql)
        return fold([d[0] for d in cur.description], cur.fetchall())
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    row = ", ".join(f"coalesce(CAST(c{i} AS VARCHAR), '\\N')" for i in order)
    named = ", ".join(f'"{c}" AS c{i}' for i, c in enumerate(cols))
    n, h1, h2 = con.execute(
        f"SELECT count(*), coalesce(sum(('0x' || substr(h, 1, 8))::UBIGINT), 0), "
        f"coalesce(sum(('0x' || substr(h, 9, 8))::UBIGINT), 0) FROM "
        f"(SELECT md5(concat_ws(chr(31), {row})) AS h FROM "
        f"(SELECT {named} FROM ({sql})))").fetchone()
    return [cols[i] for i in order], int(n), int(h1), int(h2)


def expectations(data_dir, ops):
    """One tab-separated line per op: name, rows, h1, h2, sorted columns,
    mxm multiply-adds, directed edges per round."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'")

    def scalar(sql):
        return float(con.execute(sql).fetchone()[0] or 0)

    folds, lines = {}, []
    for op in ops:
        key = op["oracle"]
        if key not in folds:
            folds[key] = fold_sql(con, op["sql"])
        cols, n, h1, h2 = folds[key]
        products = scalar(PRODUCTS[op["name"]]) if op["name"] in PRODUCTS else 0.0
        edges = scalar(EDGES[op["name"]]) if op["name"] in EDGES else 0.0
        lines.append(f"{op['name']}\t{n}\t{h1}\t{h2}\t{','.join(cols)}\t{products}\t{edges}")
    con.close()
    return lines
