#!/usr/bin/env python3
"""Cross-check recorded fingerprints against the queries' DuckDB oracles.

    python3 perfbench/oracle_xcheck.py [--skip q1,q2] perfbench/expected/<mix>.json [...]

Run from the repository root.
Each expected file (written by the harness's `--record`) carries, per
query, the fingerprint of the Spark result and the query's oracle SQL.
This runs every oracle over the same tables in DuckDB, fingerprints the
rows with the harness's canonicalization (see Fingerprint.scala), and
prints MATCH, DIFF, NO-ORACLE or SKIPPED per query (`--skip` names
queries whose oracle is too slow to run here). Exit code 1 on any DIFF.
"""
import datetime
import decimal
import hashlib
import json
import struct
import sys

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
NULL = "\u0000N"
EPOCH = datetime.datetime(1970, 1, 1)


def h64(s):
    """First 8 bytes of SHA-256, as a signed 64-bit integer."""
    return struct.unpack(">q", hashlib.sha256(s.encode("utf-8")).digest()[:8])[0]


def canon_double(x):
    if x != x:
        return "NaN"
    return "%016x" % (struct.unpack(">q", struct.pack(">d", 0.0 if x == 0 else x))[0]
                      & 0xFFFFFFFFFFFFFFFF)


def canon(v):
    if v is None:
        return NULL
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return canon_double(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return str((v - EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return "(" + ",".join(canon(x) for x in v.values()) + ")"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def fingerprint(columns, rows):
    """(row count, hash): the same value Fingerprint.of gives in Scala."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total, n = 0, 0
    for r in rows:
        n += 1
        total = (total + h64("\u001f".join(canon(r[i]) for i in order))) & 0xFFFFFFFFFFFFFFFF
    head = "\u001f".join(sorted(columns))
    return n, "%016x" % (h64(f"{head}|{n}|{total:x}") & 0xFFFFFFFFFFFFFFFF)


def main():
    import duckdb
    args = sys.argv[1:]
    skip = set()
    if args[:1] == ["--skip"]:
        skip, args = set(args[1].split(",")), args[2:]
    if not args:
        sys.exit(__doc__.strip().splitlines()[2].strip())
    bad = 0
    for path in args:
        exp = json.load(open(path))
        data = exp["data"]  # relative to the repository root, where this runs
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        for q, want in exp["queries"].items():
            sql = exp.get("oracle_sql", {}).get(q)
            if q in skip:
                print(f"SKIPPED   {q}: {want['rows']} rows (oracle not run)")
                continue
            if sql is None:
                print(f"NO-ORACLE {q}: {want['rows']} rows (Spark-only fingerprint)")
                continue
            rel = con.sql(sql)
            n, h = fingerprint(rel.columns, rel.fetchall())
            if (n, h) == (want["rows"], want["hash"]):
                print(f"MATCH     {q}: {n} rows {h}")
            else:
                bad += 1
                print(f"DIFF      {q}: oracle {n} rows {h}, recorded {want['rows']} rows {want['hash']}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
