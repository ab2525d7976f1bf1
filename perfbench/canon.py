"""Order-insensitive result digests.

Values are canonicalised exactly as tools/check_correctness.py does (float
repr, ISO timestamps, hex bytes, integral numbers as ints), columns are
sorted by name and rows are sorted, so a digest equals another iff the
correctness gate would call the two results equal after sorting.
"""
import hashlib
import json

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if isinstance(v, float):
        return ("f", repr(v))
    if hasattr(v, "isoformat"):
        return ("t", v.isoformat())
    if isinstance(v, bytes):
        return ("b", v.hex())
    if isinstance(v, list):
        return ("l", tuple(canon(x) for x in v))
    try:  # Decimal and ints compare numerically
        if not isinstance(v, (str, bool)) and v is not None:
            f = float(v)
            if f == int(f):
                return ("i", int(f))
            return ("f", repr(f))
    except (TypeError, ValueError, OverflowError):
        pass
    return ("s", str(v)) if v is not None else ("n",)


def digest(con, sql):
    """(row count, digest) of a query's result."""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(canon(r[i]) for i in order) for r in cur.fetchall())
    body = json.dumps([[cols[i] for i in order], rows], separators=(",", ":"))
    return len(rows), hashlib.sha256(body.encode()).hexdigest()


def connect(sf_dir):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    return con
