#!/usr/bin/env python3
"""Regenerates perfbench/digests.json, the expected result digests.

    python3 perfbench/gen_digests.py

Run from the repository root after any change to the benchmark's data
generator or to the oracle SQL of a checked query. It writes the fixed
data set and the oracle SQL through the benchmark JVM, runs every
oracle in DuckDB over those parquet files, and stores each result's
order-independent digest (the same encoding as Digest.scala).
"""
import datetime
import decimal
import hashlib
import json
import os
import shutil
import struct
import sys
import tempfile

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1)
US = datetime.timedelta(microseconds=1)


def fbits(x):
    if x != x:
        return "fnan"
    return "f" + format(struct.unpack("<q", struct.pack("<d", x))[0] & (2**64 - 1), "x")


def canon(v):
    """Canonical text of one value; must match Digest.canon in Scala."""
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return "i" + str(v)
    if isinstance(v, float):
        return fbits(v)
    if isinstance(v, decimal.Decimal):
        return fbits(float(v))
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return "t" + str((v - EPOCH) // US)
    if isinstance(v, datetime.date):
        return "t" + str((v - datetime.date(1970, 1, 1)).days * 86400000000)
    if isinstance(v, (bytes, bytearray)):
        return "x" + v.hex()
    if isinstance(v, dict):
        return "r(" + "\u0002".join(canon(x) for x in v.values()) + ")"
    if isinstance(v, (list, tuple)):
        return "a[" + "\u0002".join(canon(x) for x in v) + "]"
    raise TypeError(f"no digest encoding for {type(v)}")


def row_hash(values):
    h = hashlib.sha256("\u0001".join(canon(x) for x in values).encode("utf-8")).digest()
    return int.from_bytes(h[:8], "big")


def digest(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    total = sum(row_hash([r[i] for i in order]) for r in rows) % 2**64
    return f"{','.join(cols[i].lower() for i in order)}|{len(rows)}|{total:x}"


def main():
    run.build()
    base = os.path.join(run.ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    out = tempfile.mkdtemp(prefix="digests-", dir=base)
    try:
        run.run_jvm(["--gen-data", out, "--bench-dir", run.HERE], 900)
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{out}/{t}.parquet/*.parquet'")
        with open(os.path.join(out, "oracle_sql.json")) as f:
            oracle = json.load(f)
        result = {}
        for name in sorted(oracle):
            rel = con.sql(oracle[name])
            result[name] = digest(rel.columns, rel.fetchall())
            print(f"{name}: {result[name]}", file=sys.stderr)
        with open(os.path.join(run.HERE, "digests.json"), "w") as f:
            json.dump(result, f, indent=1, sort_keys=True)
            f.write("\n")
    finally:
        shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    main()
