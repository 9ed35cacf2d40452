#!/usr/bin/env python3
"""Dev-side correctness harness mirroring the driver's DuckDB oracle gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [key ...]

Reads each <outDir>/<name> parquet (written by graft.Verify), runs the
matching oracle SQL from <outDir>/oracle_sql.json in DuckDB over views of
the sf tables, and compares values (columns sorted by name, rows sorted,
exact equality). Optional keys restrict the check to the named queries,
by full name or key prefix (`d20` selects `d20_pq_ann`), as graft.Verify
selects them; a key that matches neither an oracle nor a dumped output
is a FAIL.
"""
import sys, json, glob, os
import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(norm(r[i]) for i in order))
    return sorted(cols), sorted(out, key=lambda t: tuple(str(x) for x in t))

def tclass(t):
    """Type equivalence class for the driver's hash compare. HUGEINT is
    deliberately NOT in the integer class — that's the divergence that cost
    round 1 its 21 fails."""
    if t is None:
        return None
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT"):
        return "INT"
    if t.startswith("DECIMAL"):  # precision-insensitive, scale-sensitive
        scale = t.rstrip(")").split(",")[1] if "," in t else "0"
        return f"DECIMAL(scale={scale.strip()})"
    return t

def norm(v):
    import datetime, decimal
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v

def selected(name, keys):
    return not keys or any(name == k or name.startswith(k + "_") for k in keys)

def main(sf_dir, out_dir, keys=()):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    dumped = [d.rstrip("/").split("/")[-1] for d in glob.glob(f"{out_dir}/*/")]
    for k in keys:
        if not any(selected(name, [k]) for name in list(oracle) + dumped):
            print(f"FAIL {k}: no query matches this key"); n_fail += 1
    for name in sorted(n for n in oracle if selected(n, keys)):
        res_dir = f"{out_dir}/{name}"
        files = glob.glob(f"{res_dir}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        sq = con.execute(f"SELECT * FROM read_parquet('{res_dir}/*.parquet')")
        scols = [d[0] for d in sq.description]; srows = sq.fetchall()
        try:
            oq = con.execute(oracle[name])
        except Exception as e:
            print(f"FAIL {name}: oracle error {e}"); n_fail += 1; continue
        ocols = [d[0] for d in oq.description]; orows = oq.fetchall()
        sc, sr = canon(srows, scols)
        oc, orr = canon(orows, ocols)
        if sc != oc:
            print(f"FAIL {name}: cols {sc} vs {oc}"); n_fail += 1; continue
        # Type gate: the driver's hash compare is type-sensitive (round 1's
        # 21 failures were DuckDB HUGEINT sums vs Spark BIGINT), so compare
        # declared result types, not just Python values (int == int would
        # mask HUGEINT/BIGINT and DECIMAL/DOUBLE divergences). Calibrated
        # to the driver's observed behavior: int widths (INTEGER/BIGINT)
        # and DECIMAL precision at equal scale compare equal there, while
        # HUGEINT, DECIMAL-scale and cross-class diffs flake — flag those.
        stypes = {r[0]: r[1] for r in con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{res_dir}/*.parquet')").fetchall()}
        otypes = {r[0]: r[1] for r in con.execute(
            f"DESCRIBE {oracle[name]}").fetchall()}
        tdiff = [(c, stypes.get(c), otypes.get(c))
                 for c in sorted(stypes)
                 if tclass(stypes.get(c)) != tclass(otypes.get(c))]
        if tdiff:
            print(f"FAIL {name}: result types diverge (spark vs oracle):")
            for c, st, ot in tdiff:
                print(f"  {c}: {st} vs {ot}")
            n_fail += 1; continue
        if sr != orr:
            diff = [i for i, (a, b) in enumerate(zip(sr, orr)) if a != b][:3]
            print(f"FAIL {name}: {len(sr)} vs {len(orr)} rows; first diffs:")
            for i in diff:
                print(f"  spark  {sr[i]}\n  oracle {orr[i]}")
            if len(sr) != len(orr):
                only_s = set(sr) - set(orr); only_o = set(orr) - set(sr)
                for x in list(only_s)[:2]: print(f"  only-spark  {x}")
                for x in list(only_o)[:2]: print(f"  only-oracle {x}")
            n_fail += 1; continue
        print(f"PASS {name} ({len(sr)} rows)"); n_pass += 1
    # queries with no oracle: rows-only
    for name in sorted(dumped):
        if name not in oracle and selected(name, keys):
            n = con.execute(f"SELECT count(*) FROM read_parquet('{out_dir}/{name}/*.parquet')").fetchone()[0]
            print(f"ROWS {name}: {n}")
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2], sys.argv[3:]))
