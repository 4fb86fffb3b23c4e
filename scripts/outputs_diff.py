#!/usr/bin/env python3
"""Compare two `graft.Verify` dumps query by query.

    python3 scripts/outputs_diff.py PARENT_DIR CHANGE_DIR

Each dump holds one parquet directory per registry query (what
`runMain graft.Verify <sf_dir> <out_dir>` writes). For every query in
either dump it compares:

  - the schema: column names, types and nullability, both as parquet
    stores them and as Spark recorded them in the file metadata;
  - a hash of the rows sorted, over their exact values (floats by their
    bit pattern, so a last-ulp change counts).

Prints one line per query that differs, or is missing from one side, and
a summary line. Exits 1 if any query differs, 0 if all are identical.
"""
import hashlib
import json
import math
import os
import sys

import pyarrow.parquet as pq

SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def exact(v):
    """A string that tells two values apart exactly as stored."""
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b%d" % v
    if isinstance(v, float):
        return "f" + ("nan" if math.isnan(v) else v.hex())
    if isinstance(v, (bytes, bytearray)):
        return "x" + bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(k + ":" + exact(x) for k, x in v.items()) + "}"
    if isinstance(v, (list, tuple)):
        # a map column arrives as a list of (key, value) pairs
        return "[" + ",".join(exact(x) for x in v) + "]"
    return type(v).__name__[0] + str(v)


def summarize(path):
    """(schema text, sorted-row hash, row count) of one query's output."""
    files = sorted(os.path.join(path, f) for f in os.listdir(path)
                   if f.endswith(".parquet"))
    tables = [pq.read_table(f) for f in files]
    meta = set()
    for f in files:
        kv = pq.read_schema(f).metadata or {}
        if SPARK_SCHEMA_KEY in kv:
            meta.add(kv[SPARK_SCHEMA_KEY].decode())
    schema = tables[0].schema if tables else None
    fields = ["%s:%s:%s" % (f.name, f.type, "null" if f.nullable else "req")
              for f in schema] if schema is not None else []
    spark = [json.dumps(json.loads(m), sort_keys=True) for m in sorted(meta)]
    rows = sorted("|".join(exact(r[c]) for c in r)
                  for t in tables for r in t.to_pylist())
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return " ".join(fields) + " spark=" + ";".join(spark), h.hexdigest(), \
        len(rows)


def queries(d):
    return {q for q in os.listdir(d)
            if os.path.isdir(os.path.join(d, q)) and not q.startswith(("_", "."))}


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    a, b = argv[1], argv[2]
    qa, qb = queries(a), queries(b)
    bad = []
    for q in sorted(qa | qb):
        if q not in qa or q not in qb:
            bad.append(q)
            print("%s: only in %s" % (q, a if q in qa else b))
            continue
        sa, ha, na = summarize(os.path.join(a, q))
        sb, hb, nb = summarize(os.path.join(b, q))
        if sa != sb:
            bad.append(q)
            print("%s: schema differs\n  %s\n  %s" % (q, sa, sb))
        elif ha != hb:
            bad.append(q)
            print("%s: rows differ (%d vs %d rows)" % (q, na, nb))
    same = len(qa | qb) - len(bad)
    print("%d identical, %d differ%s" % (same, len(bad),
          (": " + " ".join(bad)) if bad else ""))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
