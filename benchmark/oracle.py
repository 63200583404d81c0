"""Output references for the closed-loop workloads.

An op's output is summarised as a fingerprint: the row count plus the sum,
modulo 2^64, of a 64-bit hash of each row. Row order does not matter, so
two engines that return the same rows in any order agree. The encoding
below must match `scala/graftbench/Fingerprint.scala` exactly:

* columns sorted by name (ties by position), values joined with `|`;
* null `N`, booleans `B1`/`B0`, integers `I<n>`;
* doubles and floats: integral values below 2^53 as `I<n>`, NaN `DNaN`,
  infinities `D+Inf`/`D-Inf`, anything else `D<hex of the IEEE bits>`;
* decimals as integers when integral, else as doubles;
* strings `S<code points>:<text>`, bytes `X<hex>`;
* timestamps `T<microseconds since the epoch, UTC>`, dates `Y<days>`;
* lists `[a,b]`, structs `{a,b}` in field order;
* a row's hash is the first 8 bytes (big-endian, signed) of its MD5.

Where `SparkEntry.oracleSql` has an oracle, the reference is that SQL run
in DuckDB over the same parquet tables, compared the way
`tools/check_oracle.py --exact` compares (column names sorted, rows as a
multiset, values bit-exact). Otherwise it is a fingerprint recorded in
`reference/ops.json`.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import struct

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
MASK = (1 << 64) - 1
EPOCH = datetime.datetime(1970, 1, 1)
EPOCH_UTC = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
ONE_US = datetime.timedelta(microseconds=1)


def num(d):
    if math.isnan(d):
        return "DNaN"
    if math.isinf(d):
        return "D+Inf" if d > 0 else "D-Inf"
    if d == math.floor(d) and abs(d) < 2.0 ** 53:
        return "I%d" % int(d)
    return "D" + format(struct.unpack(">Q", struct.pack(">d", d))[0], "x")


def enc(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "B1" if v else "B0"
    if isinstance(v, int):
        return "I%d" % v
    if isinstance(v, float):
        return num(v)
    if isinstance(v, decimal.Decimal):
        if v.is_finite() and v == v.to_integral_value():
            return "I%d" % int(v)
        return num(float(v))
    if isinstance(v, str):
        return "S%d:%s" % (len(v), v)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "X" + bytes(v).hex()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            return "T%d" % ((v - EPOCH) // ONE_US)
        return "T%d" % ((v - EPOCH_UTC) // ONE_US)
    if isinstance(v, datetime.date):
        return "Y%d" % (v - EPOCH.date()).days
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(enc(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(enc(x) for x in v.values()) + "}"
    return "?" + str(v)


def row_hash(text):
    return struct.unpack(">q", hashlib.md5(text.encode("utf-8")).digest()[:8])[0]


def fingerprint(columns, rows):
    """(row count, hex hash) of `rows`, each a tuple in `columns` order."""
    order = sorted(range(len(columns)), key=lambda i: (columns[i], i))
    total = 0
    n = 0
    for r in rows:
        total = (total + row_hash("|".join(enc(r[i]) for i in order))) & MASK
        n += 1
    return n, format(total, "016x")


class Oracle:
    """DuckDB fingerprints of oracle SQL, cached by SQL text."""

    def __init__(self, data_dir, cache_dir):
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        self.con = None

    def _connect(self):
        import duckdb
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        con.execute("SET enable_progress_bar = false")
        for t in TABLES:
            path = os.path.join(self.data_dir, t + ".parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return con

    def expected(self, sql):
        """{"rows", "hash", "columns"} for `sql`, or {"error": reason}."""
        key = hashlib.md5((self.data_dir + "\n" + sql).encode()).hexdigest()
        path = os.path.join(self.cache_dir, key + ".json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        if self.con is None:
            self.con = self._connect()
        try:
            cur = self.con.execute(sql)
            cols = [d[0] for d in cur.description]
            n, h = fingerprint(cols, cur.fetchall())
            out = {"rows": n, "hash": h, "columns": sorted(cols)}
        except Exception as e:  # an oracle that does not run is a failed check
            out = {"error": f"oracle SQL failed in DuckDB: {e}"[:300]}
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(out, f)
        os.replace(tmp, path)
        return out


def check_op(op, oracle, recorded):
    """'' when the op's output matches its reference, else the reason;
    None when there is no reference for it."""
    got = (op["rows"], op["hash"])
    sql = op.get("oracle_sql")
    if sql:
        want = oracle.expected(sql)
        if "error" in want:
            return want["error"]
        cols = sorted(op["extra"].get("columns", []))
        if cols != want["columns"]:
            return f"columns {cols} differ from the DuckDB oracle's {want['columns']}"
        if got != (want["rows"], want["hash"]):
            return (f"fingerprint {got[0]} rows {got[1]} differs from the "
                    f"DuckDB oracle's {want['rows']} rows {want['hash']}")
        return ""
    ref = recorded.get(op["name"])
    if ref is None:
        return None
    if ref.get("hash") is None:  # recorded as varying between runs
        return "" if got[0] == ref["rows"] else (
            f"{got[0]} rows, recorded {ref['rows']}")
    if got != (ref["rows"], ref["hash"]):
        return (f"fingerprint {got[0]} rows {got[1]} differs from the recorded "
                f"{ref['rows']} rows {ref['hash']}")
    return ""
