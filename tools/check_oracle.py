#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate: run each oracle SQL
in DuckDB over the same parquet tables and compare against the Spark
result parquet written by graft.Verify. Compares schema (column names),
row count, and exact cell values after sorting columns by name and rows
by all columns. Exits nonzero on any failure, and when there was
nothing to compare. Usage: check_oracle.py <sfDir> <verifyOutDir>
"""
import sys, json, glob, math, struct, decimal
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def cell_eq(a, b):
    """Hash-faithful cell compare: the driver hashes canonical string
    forms, so -0.0 != 0.0 and NaN == NaN, unlike Python's ==."""
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return a == b and math.copysign(1.0, a) == math.copysign(1.0, b)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(cell_eq(x, y) for x, y in zip(a, b))
    return a == b

def row_eq(a, b):
    return cell_eq(a, b)

def cell_key(x):
    """Total-order sort key matching cell_eq's equality: Python sorted()
    treats -0.0 == 0.0 and raises on NaN comparisons, so two result sets
    differing only in the order of a 0.0 vs -0.0 row (or with NaN sort
    keys) would misalign. Floats key on their IEEE-754 bytes with NaN
    canonicalized; equal keys iff cell_eq, and any deterministic total
    order aligns both sides identically."""
    if x is None:
        return (0, b"")
    if isinstance(x, bool):
        return (1, b"\x01" if x else b"\x00")
    if isinstance(x, float):
        if math.isnan(x):
            return (3, b"\xff" * 9, "")  # one canonical NaN, after all floats
        return (3, struct.pack(">d", x), "")
    if isinstance(x, decimal.Decimal):
        # DuckDB DECIMAL vs Spark double: key on the double approximation
        # so cross-type rows align, plus a LOSSLESS tiebreaker — two
        # distinct Decimals within one double ulp would otherwise get
        # equal keys and sort by engine-specific fetch order, which could
        # misalign rows and yield a spurious FAIL. Floats carry an empty
        # tiebreaker; cell_eq still does the exact cross-type compare.
        try:
            d = struct.pack(">d", float(x))
        except (OverflowError, ValueError):
            d = b"\xfe" * 8
        return (3, d, str(x.normalize()))
    if isinstance(x, int):
        return (2, x)
    if isinstance(x, (list, tuple)):
        return (4, tuple(cell_key(v) for v in x))
    if isinstance(x, bytes):
        return (5, x)
    return (6, str(x))

def row_key(r):
    return tuple(cell_key(c) for c in r)

def main(sf_dir, out_dir):
    con = duckdb.connect()
    import os
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        # driver testdata is single-file; ScaleUp output is a Spark
        # directory of part files — glob accordingly
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            got = con.sql(
                f"SELECT * FROM read_parquet({files!r})").fetchall()
            got_cols = [d[0] for d in con.sql(
                f"SELECT * FROM read_parquet({files!r}) LIMIT 0").description]
            want_rel = con.sql(sql)
            want_cols = [d[0] for d in want_rel.description]
            want = want_rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: {e}"); n_fail += 1; continue
        if sorted(got_cols) != sorted(want_cols):
            print(f"FAIL {name}: cols {sorted(got_cols)} vs {sorted(want_cols)}")
            n_fail += 1; continue
        # type strictness: int-family vs float-family vs string/bool must
        # agree per column name (python would silently equate 4.0 == 4).
        # HUGEINT is deliberately its OWN family: DuckDB surfaces an
        # un-CAST integer sum() as HUGEINT, which pandas receives as
        # float — the driver then hash-mismatches against Spark's
        # BIGINT even though values are equal. Folding it into "int"
        # here is exactly the masking that shipped five red rows in
        # round 12 (q154/q158/q181/q188/q201). Oracles must CAST.
        def fam(t):
            t = str(t).upper()
            if "HUGEINT" in t: return "hugeint(add CAST AS BIGINT)"
            if any(x in t for x in ("TINYINT","SMALLINT","INT","BIGINT")): return "int"
            if any(x in t for x in ("FLOAT","DOUBLE","REAL","DECIMAL")): return "float"
            if "BOOL" in t: return "bool"
            return t
        # the driver's hasher sorts cell values with pandas and cannot
        # order numpy arrays — array/struct/map output columns ERROR
        # there even when this checker's list-aware keys handle them
        # (round-12 q151). Reject unconditionally: an allow-list here
        # would pass gates the driver can never hash.
        sp_rel = con.sql(f"SELECT * FROM read_parquet({files!r}) LIMIT 0")
        nested = [c for c, t in zip(sp_rel.columns, sp_rel.types)
                  if any(x in str(t).upper()
                         for x in ("[]", "STRUCT", "MAP", "LIST"))]
        if nested:
            print(f"FAIL {name}: nested output columns {nested} — the "
                  f"driver's hasher cannot sort these; flatten "
                  f"(array_join / explode) before emitting")
            n_fail += 1; continue
        # .types not .description — a relation's description reports
        # the generic 'NUMBER' for every numeric, so the family check
        # silently passed on HUGEINT-vs-BIGINT before round 13
        got_types = {c: fam(t) for c, t in zip(sp_rel.columns, sp_rel.types)}
        want_types = {c: fam(t) for c, t in zip(want_rel.columns, want_rel.types)}
        tmis = {c: (got_types[c], want_types[c]) for c in got_types
                if got_types[c] != want_types[c]}
        if tmis:
            print(f"FAIL {name}: type mismatch {tmis}"); n_fail += 1; continue
        gi = [got_cols.index(c) for c in sorted(got_cols)]
        wi = [want_cols.index(c) for c in sorted(want_cols)]
        g = sorted((tuple(r[i] for i in gi) for r in got), key=row_key)
        w = sorted((tuple(r[i] for i in wi) for r in want), key=row_key)
        if len(g) != len(w):
            print(f"FAIL {name}: rows {len(g)} vs {len(w)}"); n_fail += 1; continue
        bad = [(a, b) for a, b in zip(g, w) if not row_eq(a, b)]
        if bad:
            print(f"FAIL {name}: {len(bad)} mismatched rows, first: {bad[0]}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(g)} rows)"); n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail")
    if n_pass + n_fail == 0:
        print("nothing compared: oracle_sql.json names no gate")
        return 1
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
