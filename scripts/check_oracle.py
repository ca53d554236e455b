#!/usr/bin/env python3
"""Local pre-flight for the driver's DuckDB correctness gate.

Usage: python3 scripts/check_oracle.py <sfDir> <verifyOutDir> [onlyPrefixes] [subset]

Re-implements the compare described in FIXTURES.md §5: run each
oracle_sql.json query in DuckDB over the same parquet tables, sort columns
by name, sort rows, normalize values, and diff against the Spark parquet
output that graft.Verify wrote. Strictly a dev tool (driver-side python).

A degraded dump fails too: every entry named in oracle_errors.json (its
replay generator failed) and every Spark output directory without an
oracle is a FAIL, subject to the prefix filter below.

Extras over the driver gate (round 13, for the sf1 correctness run):
  - <sfDir> tables may be parquet DIRECTORIES (Spark-written, e.g.
    ScaleData's benchdata/sf1) as well as single files;
  - an optional comma-separated prefix list limits which entries are
    compared (e.g. "q,s,t,p,x,j,m,y,z,d01,d02" skips the d-family
    oracles that are all-pairs by construction and would be quadratic
    in DuckDB at 10x data — their Spark sides still run via Verify);
  - (round 14) an optional subset spec "documents:16,embeddings:16"
    filters those views to key % N = 0, mirroring the Spark side's
    SPARK_GRAFT_SUBSET env — the deterministic doc-subset replay that
    lets the all-pairs oracle families replay AT sf1 on a bounded pair
    space instead of being skipped. Run Verify for the same entries
    with the same SPARK_GRAFT_SUBSET value and pass the spec here.
"""
import sys, json, glob, os, math
from decimal import Decimal

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon_type(t):
    """Collapse an Arrow type to the equivalence class the driver's
    type-sensitive hash actually distinguishes.

    Calibrated against the round-11 gate: entries green there span
    int32-vs-int64, decimal(22,2)-vs-decimal(38,2) and
    timestamp[ns]-vs-timestamp[us] pairs (harmless: the hash normalizes
    values through width/unit-independent renderings), while DuckDB
    HUGEINT — arrow decimal128(38,0) — against Spark int64 shipped red
    twice (d19/s08, round 11). So: integer widths collapse, decimal
    PRECISION collapses but SCALE doesn't, timestamp units/tz collapse —
    and int vs decimal vs float stay distinct.
    """
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_decimal(t):
        return f"decimal(s={t.scale})"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_floating(t):
        return str(t)
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{canon_type(t.value_type)}>"
    return str(t)


def lint_hugeint(con, name, sql):
    """Plan-only lint for the bug class that shipped d19/s08 red in round
    11: an integer SUM (plain or windowed) reaching the oracle OUTPUT is
    HUGEINT in DuckDB, which the driver's type-sensitive hash rejects
    against Spark's int64. DESCRIBE plans without executing, so this is
    precise (no SUM(double) false positives, CTE-interior sums ignored)
    and works even when the Spark dump for the entry is missing.
    """
    try:
        cols = con.execute(f"DESCRIBE {sql}").fetchall()
    except Exception:
        return  # the execution path will report the real error
    bad = [c[0] for c in cols if "HUGEINT" in str(c[1]).upper()]
    if bad:
        print(f"warn {name}: HUGEINT output column(s) {bad} — wrap in "
              f"CAST(... AS BIGINT) or the driver's hash compare will fail")
    # round-14 p18: DECIMAL output columns passed this script's value
    # compare (and its scale-preserving canon_type) yet failed the
    # driver's hash, which distinguishes decimal type classes the value
    # normalization erases. No repo entry legitimately ships decimals —
    # they all render through BIGINT/DOUBLE/VARCHAR at the boundary — so
    # ANY decimal output is a warning.
    decs = [c[0] for c in cols if "DECIMAL" in str(c[1]).upper()]
    if decs:
        print(f"warn {name}: DECIMAL output column(s) {decs} — the driver "
              f"hash is sensitive to decimal type class even when values "
              f"match (round-14 p18); render through CAST(... AS VARCHAR) "
              f"(lossless) or BIGINT/DOUBLE at the oracle boundary")


def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, Decimal):
        return str(v.normalize()) if v == v.to_integral_value() else str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    out.sort()
    return [cols[i] for i in order], out


SUBSET_KEY = {"documents": "doc_id", "embeddings": "vec_id"}


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    prefixes = sys.argv[3].split(",") if len(sys.argv) > 3 and sys.argv[3] else None
    subset = {}
    if len(sys.argv) > 4 and sys.argv[4]:
        for part in sys.argv[4].split(","):
            t, m = part.split(":")
            assert t in SUBSET_KEY, f"no subset key for table {t}"
            subset[t] = int(m)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        where = (f" WHERE {SUBSET_KEY[t]} % {subset[t]} = 0"
                 if t in subset else "")
        if os.path.isdir(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet'){where}")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}'){where}")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    err_path = f"{out_dir}/oracle_errors.json"
    gen_errors = json.load(open(err_path)) if os.path.exists(err_path) else {}

    def selected(name):
        return prefixes is None or any(name.startswith(p) for p in prefixes)

    n_ok = n_bad = n_skip = 0
    # a degraded dump is not a pass: an entry whose replay generator failed
    # is missing from oracle_sql.json, and so is any other entry whose
    # Spark output has no oracle to compare against
    for name in sorted(gen_errors):
        if selected(name):
            print(f"FAIL {name}: oracle generator failed: {gen_errors[name]}")
            n_bad += 1
    for name in sorted(os.listdir(out_dir)):
        if (os.path.isdir(f"{out_dir}/{name}") and name not in oracles
                and name not in gen_errors and selected(name)):
            print(f"FAIL {name}: spark output has no oracle")
            n_bad += 1
    for name in sorted(oracles):
        if not selected(name):
            n_skip += 1
            continue
        lint_hugeint(con, name, oracles[name])
        qdir = f"{out_dir}/{name}"
        files = glob.glob(f"{qdir}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            n_bad += 1
            continue
        tbl = pq.read_table(files[0])
        s_cols = tbl.column_names
        s_rows = [tuple(r[c] for c in s_cols) for r in tbl.to_pylist()]
        try:
            d_tbl = con.execute(oracles[name]).fetch_arrow_table()
            d_cols = d_tbl.column_names
            d_rows = [tuple(r[c] for c in d_cols) for r in d_tbl.to_pylist()]
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_bad += 1
            continue
        # type gate FIRST: the driver's hash is type-sensitive in ways the
        # value normalization below erases (int64 vs DuckDB HUGEINT hashed
        # differently while values compared equal — round-11 d19/s08)
        s_types = {f.name: canon_type(f.type) for f in tbl.schema}
        d_types = {f.name: canon_type(f.type) for f in d_tbl.schema}
        bad_types = [(c, s_types[c], d_types[c]) for c in sorted(s_types)
                     if c in d_types and s_types[c] != d_types[c]]
        if bad_types:
            n_bad += 1
            detail = ", ".join(f"{c}: spark={a} duckdb={b}"
                               for c, a, b in bad_types)
            print(f"FAIL {name}: column type mismatch ({detail})")
            if any(b.startswith("decimal") and a == "int"
                   for _, a, b in bad_types):
                print("   hint: DuckDB integer SUM returns HUGEINT — wrap "
                      "the oracle output column in CAST(... AS BIGINT)")
            continue
        sc, sr = canon(s_cols, s_rows)
        dc, dr = canon(d_cols, d_rows)
        if sc != dc:
            print(f"FAIL {name}: columns spark={sc} duckdb={dc}")
            n_bad += 1
        elif sr != dr:
            n_bad += 1
            diff = [(a, b) for a, b in zip(sr, dr) if a != b]
            print(f"FAIL {name}: {len(sr)} vs {len(dr)} rows; first diffs:")
            for a, b in diff[:3]:
                print(f"   spark : {a}\n   duckdb: {b}")
            if len(sr) != len(dr):
                only_s = set(sr) - set(dr)
                only_d = set(dr) - set(sr)
                for x in list(only_s)[:2]:
                    print(f"   only-spark : {x}")
                for x in list(only_d)[:2]:
                    print(f"   only-duckdb: {x}")
        else:
            n_ok += 1
            print(f"ok   {name} ({len(sr)} rows)")
    skip = f", {n_skip} skipped by prefix filter" if n_skip else ""
    print(f"== {n_ok} ok, {n_bad} fail{skip} ==")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
