"""Expected digests of the batch lines, from their DuckDB oracles.

For every line the benchmark runs, the oracle SQL that graft declares
(`SparkEntry.oracleSql`, dumped by `perfbench.Main oracles`) is run in
DuckDB over the same parquet tables. The result is reduced to the
digest `perfbench.RowHash` computes on the Spark side: the sorted
column names, the row count, and the wrapping 64-bit sum of the MD5 of
each row's canonical text. The canonical text follows the
normalization of the repo's correctness checker: columns in name
order; numbers, booleans and numeric-looking strings as float64; NaN
equal to NULL; dates and timestamps as epoch microseconds.

Usage: python3 oracle.py ORACLES_TSV DATA_DIR OUT_TSV [LINE ...]
"""
import datetime
import decimal
import hashlib
import math
import os
import re
import struct
import sys

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
NUMERIC = re.compile(r"[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?")
EPOCH = datetime.datetime(1970, 1, 1)
UNESCAPE = {"n": "\n", "t": "\t", "\\": "\\"}


def num(x: float) -> str:
    if math.isnan(x):
        return "N"
    if x == 0.0:
        x = 0.0
    return "D%016x" % struct.unpack(">Q", struct.pack(">d", x))[0]


def micros(dt: datetime.datetime) -> int:
    if dt.tzinfo is not None:
        dt = dt.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    d = dt - EPOCH
    return (d.days * 86400 + d.seconds) * 1000000 + d.microseconds


def canon(v) -> str:
    if v is None:
        return "N"
    if isinstance(v, bool):
        return num(1.0 if v else 0.0)
    if isinstance(v, (int, float, decimal.Decimal)):
        return num(float(v))
    if isinstance(v, str):
        return num(float(v)) if NUMERIC.fullmatch(v) else "S" + v
    if isinstance(v, datetime.datetime):
        return "T%d" % micros(v)
    if isinstance(v, datetime.date):
        return "T%d" % ((v - datetime.date(1970, 1, 1)).days * 86400000000)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "X" + bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(e) for e in v) + "]"
    if isinstance(v, dict):
        if set(v.keys()) == {"key", "value"} and isinstance(v["key"], list):
            return "{" + ",".join(sorted(canon(k) + ":" + canon(x) for k, x in zip(v["key"], v["value"]))) + "}"
        return "(" + ",".join(canon(x) for x in v.values()) + ")"
    return "?" + str(v)


def digest(con, sql: str):
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = 0
    total = 0
    while True:
        batch = cur.fetchmany(10000)
        if not batch:
            break
        for r in batch:
            text = "\x1f".join(canon(r[i]) for i in order)
            total += int.from_bytes(hashlib.md5(text.encode("utf-8")).digest()[:8], "big")
            rows += 1
    return [names[i] for i in order], rows, total % (1 << 64)


def main(oracles_tsv: str, data_dir: str, out_tsv: str, lines):
    sqls = {}
    with open(oracles_tsv, encoding="utf-8") as f:
        for line in f:
            line = line.rstrip("\n")
            if not line:
                continue
            name, sql = line.split("\t", 1)
            sqls[name] = re.sub(r"\\(.)", lambda m: UNESCAPE[m.group(1)], sql)
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    wanted = [n for n in sorted(sqls) if not lines or n.split("_")[0] in lines]
    out = []
    for name in wanted:
        cols, rows, total = digest(con, sqls[name])
        out.append(f"{name}\t{rows}\t{total:016x}\t{','.join(cols)}")
    with open(out_tsv, "w", encoding="utf-8") as f:
        f.write("\n".join(out) + "\n")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], sys.argv[3], set(sys.argv[4:]))
