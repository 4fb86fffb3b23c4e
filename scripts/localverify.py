#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: reads Verify.scala's
outDir, runs each oracle_sql.json entry in DuckDB against the sf parquet
tables, and compares (sorted columns, sorted rows, value-normalized)."""
import glob, json, math, numbers, os, sys

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    # 12 sig figs: the driver's hash tolerated last-ulp float diffs in
    # round 1 (q36/q37 cos), so exact repr over-fails; 10 digits hid real
    # mismatches. 12 splits the difference.
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.12g}"
    if isinstance(v, list):
        return "[" + ",".join(norm(x) for x in v) + "]"
    # type-tag non-(int|str) values: DuckDB HUGEINT/DECIMAL reach pandas as
    # float64/object on the driver side, so e.g. SUM(BIGINT) vs Spark's long
    # hash-mismatches even when values are equal (round-1 q63). Surface the
    # type difference locally instead of coercing it away.
    if not isinstance(v, (int, str)):
        return f"{type(v).__name__}:{v}"
    return str(v)


def norm_strict(v):
    # full-precision variant: the DRIVER's gate hashes exact values, so a
    # last-ulp double divergence it rejects is invisible to the 12-sig-fig
    # norm above (round-19 q462: local "ok", driver hash_match false).
    # Used only for the ULPRISK warning, never for pass/fail.
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, list):
        return "[" + ",".join(norm_strict(x) for x in v) + "]"
    if not isinstance(v, (int, str)):
        return f"{type(v).__name__}:{v}"
    return str(v)


def norm_pandas(v):
    # one pandas cell, type-tagged past int/float/str so that a Decimal
    # object on one side and a float64 on the other (the same number, a
    # different pandas value) differ here as they do in a hash of the
    # pandas frames. Floats keep norm's 12 digits: last-ulp double
    # divergence is ULPRISK's to report, this note is for what the pandas
    # conversion itself changes (dtype, NaN/None, Decimal, dates)
    if isinstance(v, (list, tuple)) or (
            hasattr(v, "tolist") and not isinstance(v, numbers.Number)):
        return "[" + ",".join(norm_pandas(x) for x in list(v)) + "]"
    if v is None:
        return "None"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.12g}"
    if isinstance(v, bool) or not isinstance(v, numbers.Integral):
        return v if isinstance(v, str) else f"{type(v).__name__}:{v}"
    return str(int(v))


def pandas_side(df):
    # (lower-cased column names, per-column dtype kinds, sorted rows),
    # columns in name order like rows_of
    cols = sorted(df.columns, key=str.lower)
    kinds = [df[c].dtype.kind for c in cols]
    rows = sorted(tuple(norm_pandas(v) for v in r)
                  for r in df[cols].itertuples(index=False, name=None))
    return [c.lower() for c in cols], kinds, rows


def pandas_risk(spark_dir, con, sql):
    """The pandas path of the correctness gate: Spark parquet -> pyarrow
    -> pandas on one side, DuckDB .df() on the other. Returns a PDRISK
    note, or None when the two frames agree in dtype kinds and values."""
    scols, skinds, srows = pandas_side(pq.read_table(spark_dir).to_pandas())
    ocols, okinds, orows = pandas_side(con.sql(sql).df())
    if scols != ocols:
        return f"PDRISK: pandas columns {scols} vs {ocols}"
    notes = []
    kdiff = {c: f"{a}/{b}" for c, a, b in zip(scols, skinds, okinds) if a != b}
    if kdiff:
        notes.append(f"dtype kinds spark/oracle {kdiff}")
    if srows != orows:
        ndiff = sum(1 for a, b in zip(srows, orows) if a != b) + \
            abs(len(srows) - len(orows))
        notes.append(f"{ndiff} rows differ in pandas values")
    if not notes:
        return None
    return ("PDRISK: " + "; ".join(notes)
            + " — a hash of the pandas frames may fail this")


def rows_of(rel):
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    fetched = rel.fetchall()
    data = [tuple(norm(r[i]) for i in order) for r in fetched]
    strict = sorted(tuple(norm_strict(r[i]) for i in order) for r in fetched)
    return ([cols[i] for i in order], sorted(data),
            [str(rel.types[i]) for i in order], strict)


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = n_pdrisk = 0
    for name in sorted(oracle):
        spark_dir = f"{out_dir}/{name}"
        if not glob.glob(f"{spark_dir}/*.parquet"):
            print(f"FAIL {name}: no spark output")
            n_bad += 1
            continue
        try:
            scols, srows, stypes, sstrict = rows_of(con.sql(f"SELECT * FROM '{spark_dir}/*.parquet'"))
            ocols, orows, otypes, ostrict = rows_of(con.sql(oracle[name]))
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_bad += 1
            continue
        # physical-type category check: the driver converts both sides via
        # pandas, where HUGEINT/DECIMAL become float64/object — equal values
        # in different categories still hash-mismatch (round-1 q63)
        def cat(t):
            t = t.upper()
            if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT"):
                return "int"
            if t in ("FLOAT", "DOUBLE"):
                return "float"
            return t  # HUGEINT, DECIMAL(..), VARCHAR, TIMESTAMP, lists, ...
        tdiff = [(c, a, b) for c, a, b in zip(scols, stypes, otypes)
                 if cat(a) != cat(b)]
        if [c.lower() for c in scols] != [c.lower() for c in ocols]:
            print(f"FAIL {name}: columns {scols} vs {ocols}")
            n_bad += 1
        elif tdiff:
            print(f"FAIL {name}: type category mismatch {tdiff}")
            n_bad += 1
        elif srows != orows:
            diff = [(a, b) for a, b in zip(srows, orows) if a != b]
            print(f"FAIL {name}: {len(srows)} vs {len(orows)} rows; "
                  f"first diffs: {diff[:2]}"
                  + (f" extra_spark={srows[len(orows):][:1]}" if len(srows) > len(orows) else "")
                  + (f" extra_oracle={orows[len(srows):][:1]}" if len(orows) > len(srows) else ""))
            n_bad += 1
        else:
            # passed the tolerant gate; does it also survive the driver's
            # EXACT hash, and its pandas conversion? Flag (don't fail)
            # raw-double divergence and pandas dtype/value divergence.
            notes = []
            if sstrict != ostrict:
                ndiff = sum(1 for a, b in zip(sstrict, ostrict) if a != b)
                notes.append(f"ULPRISK: {ndiff} rows differ at full double "
                             f"precision — an exact-value hash may fail this")
            try:
                pd_note = pandas_risk(spark_dir, con, oracle[name])
            except Exception as e:
                pd_note = f"PDRISK: pandas path failed: {e}"
            if pd_note:
                notes.append(pd_note)
                n_pdrisk += 1
            print(f"OK   {name} ({len(srows)} rows)"
                  + "".join(" " + n for n in notes))
            n_ok += 1
    # queries without oracle: rows-only check
    for d in sorted(glob.glob(f"{out_dir}/q*")):
        name = os.path.basename(d)
        if name not in oracle and os.path.isdir(d):
            n = con.sql(f"SELECT count(*) FROM '{d}/*.parquet'").fetchone()[0]
            print(f"ROWS {name}: {n}")
    print(f"\n{n_ok} ok, {n_bad} bad ({n_pdrisk} PDRISK)")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    sys.exit(main(sf, out))
