"""Regenerate oracle/expected.json: each operator query's row count and
order-independent row hash, computed by running the query's
SparkEntry.oracleSql in DuckDB over the bench's data tables.

The oracles of the KG queries read closed-form gold tables, so first run
graft.Verify on the data dir; it writes the query outputs, the gold
tables (<out>_gold/) and oracle_sql.json:

    java -cp <library classes>:<spark jars>/* graft.Verify graftbench/data/sf0.01 <out>
    python3 graftbench/oracle/gen_oracle.py <out>

With the Verify output present, each query's Spark result is hashed too
and must agree with DuckDB's, which checks the hash's type handling.

The row hash is the one RowHash.scala computes: columns sorted by
lower-cased name, each value rendered canonically, the rows' SHA-256
prefixes summed mod 2^64. Integral numbers render as integers whatever
their type; other numbers as the bits of the nearest double.
"""
import hashlib
import json
import math
import os
import struct
import sys
from decimal import Decimal

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(os.path.dirname(HERE), "data", "sf0.01")

MIX = ["dedup_minhash", "dedup_jaccard", "dedup_simhash", "ann_topk", "ann_lsh",
       "neg_sample", "loss_cells", "kg_eval", "topk_window", "containment_join",
       "q1_agg"]


def _num(x):
    x = float(x)
    if math.isfinite(x) and x == math.floor(x) and abs(x) < 2.0 ** 53:
        return str(int(x))
    return "d" + format(struct.unpack(">q", struct.pack(">d", x))[0] & (2 ** 64 - 1), "x")


def render(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v) if abs(v) >= 2 ** 53 else _num(v)
    if isinstance(v, (float, Decimal)):
        return _num(v)
    if isinstance(v, str):
        return v
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(render(e) for e in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(render(e) for e in v.values()) + "}"
    raise TypeError(f"no canonical rendering for {type(v).__name__}")


def hash_rows(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i].lower())
    total = 0
    for r in rows:
        s = "\u0001".join(render(r[i]) for i in order)
        total += int.from_bytes(hashlib.sha256(s.encode("utf-8")).digest()[:8], "big")
    return len(rows), format(total % 2 ** 64, "016x")


def result(con, sql):
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    return hash_rows(names, cur.fetchall())


def main(verify_out):
    oracles = json.load(open(os.path.join(verify_out, "oracle_sql.json")))
    con = duckdb.connect()
    for f in sorted(os.listdir(DATA)):
        con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS "
                    f"SELECT * FROM read_parquet('{os.path.join(DATA, f)}')")
    expected = {}
    for q in MIX:
        rows, h = result(con, oracles[q])
        spark_dir = os.path.join(verify_out, q)
        if os.path.isdir(spark_dir):
            got = result(con, f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')")
            status = "agrees" if got == (rows, h) else f"DIFFERS {got}"
        else:
            status = "no spark output"
        print(f"{q}: rows={rows} hash={h} spark {status}")
        expected[q] = {"rows": rows, "hash": h}
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main(sys.argv[1])
