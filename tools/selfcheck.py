#!/usr/bin/env python3
"""Self-check harness mimicking the driver's DuckDB-oracle compare.

Usage: python3 tools/selfcheck.py [--exact] <sfDir> <verifyOutDir>
(--exact may stand in any position)

--exact drops the 1e-9 float tolerance: the driver's oracle compare hashes
typed values bit-for-bit, so a 16th-significant-digit divergence (e.g. a
round(x,6) at magnitude 1e8 — the round-9 daily_revenue_ewma failure) passes
the tolerant gate but fails the driver. ALWAYS gate new rows with --exact.

For each query dir under verifyOutDir: load the Spark parquet result, run the
matching SQL from oracle_sql.json in DuckDB over <sfDir>'s tables, sort both
by all columns (columns sorted by name), and compare cell-by-cell. Reports
schema diffs, row-count diffs, and first value mismatches. Dev tool only —
not part of the library.
"""
import sys, json, glob, math
import duckdb

def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return v
    if isinstance(v, bool):
        return bool(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v

USAGE = "usage: python3 tools/selfcheck.py [--exact] <sfDir> <verifyOutDir>"
EXACT = False  # --exact: driver parity, its hash compare has NO tolerance

def cmp_cell(a, b):
    a, b = norm_cell(a), norm_cell(b)
    if a is None or b is None:
        return a is b
    if isinstance(a, float) and isinstance(b, float):
        if a == b:
            return True
        if EXACT:
            return False  # the driver hashes typed values bit-for-bit
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    # cross-type numeric (e.g. int64 vs int32/Decimal)
    try:
        if not isinstance(a, str) and not isinstance(b, str):
            fa, fb = float(a), float(b)
            if fa == fb:
                return True
            if EXACT:
                return False
            return abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
    except (TypeError, ValueError):
        pass
    return a == b

def type_diffs(spark_rel, orel):
    """Columns whose DuckDB-visible type differs between the Spark parquet
    result and the oracle SQL result. HUGEINT/DECIMAL/UINT on the oracle side
    are unrepresentable in a Spark result per repo convention (CatalogCore
    casts them down) and always flag here."""
    stypes = dict(zip(spark_rel.columns, (str(t) for t in spark_rel.types)))
    otypes = dict(zip(orel.columns, (str(t) for t in orel.types)))
    return [(c, stypes[c], otypes[c])
            for c in sorted(set(stypes) & set(otypes)) if stypes[c] != otypes[c]]

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    names = sorted(d.split("/")[-1] for d in glob.glob(f"{out_dir}/*") if not d.endswith(".json"))
    n_pass = n_fail = n_noracle = 0
    for name in names:
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        spark_rel = con.sql(f"SELECT * FROM read_parquet({files!r})")
        scols = sorted(spark_rel.columns)
        sdf = spark_rel.df()[scols]
        if name not in oracles:
            print(f"---- {name}: no oracle (rows={len(sdf)})"); n_noracle += 1; continue
        try:
            orel = con.sql(oracles[name])
        except Exception as e:
            print(f"FAIL {name}: oracle error: {str(e)[:200]}"); n_fail += 1; continue
        ocols = sorted(orel.columns)
        odf = orel.df()[ocols] if ocols else None
        ok = True
        if scols != ocols:
            print(f"FAIL {name}: schema spark={scols} oracle={ocols}"); ok = False
        elif (tdiff := type_diffs(spark_rel, orel)):
            # The driver's hash is exact over typed values — a DuckDB HUGEINT
            # (SUM over int) vs Spark BIGINT mismatches even when every cell is
            # equal. Catch it here so the builder's gate matches the driver's.
            for col, st, ot in tdiff:
                print(f"FAIL {name}: type of {col}: spark={st} oracle={ot}")
            ok = False
        elif len(sdf) != len(odf):
            print(f"FAIL {name}: rows spark={len(sdf)} oracle={len(odf)}"); ok = False
        else:
            srows = sorted(map(tuple, sdf.itertuples(index=False)), key=lambda r: [str(x) for x in r])
            orows = sorted(map(tuple, odf.itertuples(index=False)), key=lambda r: [str(x) for x in r])
            bad = 0
            for i, (sr, orr) in enumerate(zip(srows, orows)):
                for c, (sv, ov) in enumerate(zip(sr, orr)):
                    if not cmp_cell(sv, ov):
                        if bad == 0:
                            print(f"FAIL {name}: row {i} col {scols[c]}: spark={sv!r} oracle={ov!r}")
                        bad += 1
            if bad:
                print(f"     {name}: {bad} mismatched cells / {len(srows)} rows"); ok = False
        if ok:
            print(f"PASS {name} ({len(sdf)} rows)"); n_pass += 1
        else:
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_noracle} rows-only")
    return 1 if n_fail else 0

def parse_args(argv):
    """(exact, [sfDir, verifyOutDir]) from argv, --exact in any position;
    None for an unknown flag or a wrong count of positional arguments."""
    flags = [a for a in argv if a.startswith("-")]
    positional = [a for a in argv if not a.startswith("-")]
    if any(f != "--exact" for f in flags) or len(positional) != 2:
        return None
    return "--exact" in flags, positional

if __name__ == "__main__":
    parsed = parse_args(sys.argv[1:])
    if parsed is None:
        sys.exit(USAGE)
    EXACT, (sf_dir, out_dir) = parsed
    sys.exit(main(sf_dir, out_dir))
