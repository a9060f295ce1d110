"""DuckDB oracle for the benchmark's result check.

Each query's oracle SQL (`SparkEntry.oracleSql`) runs in DuckDB over the
same parquet tables the program read. Its answer is reduced to the
order-independent digest that `Digest.scala` computes on the Spark side
(every rule here mirrors one there): columns in name order, each cell
rendered canonically, rows and per-column cells sorted by their UTF-8
bytes and hashed. This is at least as strict as comparing the two
results sorted by every column with floats rounded to 9 decimal places.

Answers are cached on disk, keyed by the SQL text and the bytes of the
input tables.
"""
import datetime
import decimal
import hashlib
import json
import math
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
SEP = "\x1f"
_EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
_NINE = decimal.Decimal("1e-9")
_CTX = decimal.Context(prec=400, rounding=decimal.ROUND_HALF_EVEN)


def _decimal(d):
    s = format(d.quantize(_NINE, context=_CTX), "f")
    return "0.000000000" if s == "-0.000000000" else s


def _text(s):
    return s.replace("\\", "\\\\").replace("\n", "\\n").replace(SEP, "\\x1f")


def cell(v):
    """Canonical text of one DuckDB value (see `Digest.cell`)."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Infinity" if v > 0 else "-Infinity"
        return _decimal(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return _decimal(v)
    if isinstance(v, str):
        return _text(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        d = v - _EPOCH
        return str((d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(cell(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    return _text(str(v))


def _hash(items):
    h = hashlib.sha256()
    for b in sorted(items):
        h.update(b)
        h.update(b"\n")
    return h.hexdigest()


def digest(columns, rows):
    """{columns, rows, digest, column_digests} of a result given as column
    names and row tuples; the same fields the Spark side records."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cells = [[cell(r[i]) for i in order] for r in rows]
    return {
        "columns": [columns[i] for i in order],
        "rows": len(rows),
        "digest": _hash(SEP.join(cs).encode() for cs in cells),
        "column_digests": [_hash(cs[j].encode() for cs in cells)
                           for j in range(len(order))],
    }


def compare(got, want):
    """None when an execution's recorded result matches the oracle's
    digest, else a one-line reason naming what differs."""
    if got.get("digest") is None:
        return "no result"
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} vs oracle {want['columns']}"
    if got["rows"] != want["rows"]:
        return f"rows {got['rows']} vs oracle {want['rows']}"
    if got["digest"] != want["digest"]:
        cols = [c for c, a, b in zip(want["columns"], got["column_digests"],
                                     want["column_digests"]) if a != b]
        return ("values differ in columns " + ", ".join(cols) if cols else
                "rows pair up differently across columns")
    return None


class Oracle:
    """Oracle answers over the tables in `data_dir`, cached in
    `cache_dir`."""

    def __init__(self, data_dir, cache_dir):
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        h = hashlib.sha256()
        for t in TABLES:
            with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
        self.inputs_key = h.hexdigest()
        self._con = None

    def _connect(self):
        import duckdb
        con = duckdb.connect()
        con.execute("SET threads = 2")
        for t in TABLES:
            path = os.path.join(self.data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return con

    def answer(self, sql):
        key = hashlib.sha256((self.inputs_key + "\n" + sql).encode()).hexdigest()
        path = os.path.join(self.cache_dir, key + ".json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        if self._con is None:
            self._con = self._connect()
        cur = self._con.execute(sql)
        columns = [d[0] for d in cur.description]
        result = digest(columns, cur.fetchall())
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(result, f)
        os.replace(tmp, path)
        return result
