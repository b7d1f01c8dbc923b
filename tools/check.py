#!/usr/bin/env python3
"""Local pre-verification harness mimicking the driver's DuckDB oracle
compare: for each query parquet dumped by graft.Verify, run the oracle
SQL in DuckDB over the same sf tables and compare BYTE-STRICTLY —
Arrow column types must match exactly (no tz stripping, no decimal
width forgiveness) and values must be exactly equal (no float
rounding). Round 1 taught us a lenient local gate hides driver
failures: it said 59 green while the driver said 35.
Usage: check.py <sfDir> <outDir> [query...]"""
import sys, json, glob, os
import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# Arrow type pairs treated as equal: Spark writes int32 for IntegerType
# where DuckDB emits int64 — the driver's value-level hash passed these
# in round 1 (q_quality_score etc.), so mirroring that single tolerance.
def types_compatible(s, d):
    if s.equals(d):
        return True
    import pyarrow as pa
    ints = {pa.int32(), pa.int64()}
    return s in ints and d in ints

def duckdb_memory_mb():
    """Half of MemTotal in MB, 1 GB if /proc/meminfo is unreadable."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return max(1024, int(line.split()[1]) // 2048)
    except OSError:
        pass
    return 1024

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    # r19: the 185-oracle sequential run on one connection
    # intermittently died with "Failed to allocate block of <tiny>
    # bytes (bad allocation)" on a box with >100 GB free — DuckDB
    # sizing its buffer pool off total RAM and fragmenting the process
    # heap over the long run. A bounded pool + an explicit spill dir
    # make the gate deterministic; results are unaffected (DuckDB
    # spills, or errors LOUDLY — never silently wrong). The pool is
    # half the box's RAM (the same rule as the tests' SPARK_DRIVER_MEM)
    # and one thread per core: a fixed 16 GB/8 threads on a 16 GB,
    # 4-core box let allocations fail before DuckDB ever spilled.
    con.execute(f"SET memory_limit='{duckdb_memory_mb()}MB'")
    con.execute(f"SET threads={os.cpu_count() or 1}")
    import tempfile
    con.execute(f"SET temp_directory='{tempfile.gettempdir()}/duckdb_check_spill'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = n_noracle = 0
    # a query that CRASHED in Verify has no output dir at all — glob
    # alone would silently skip it and report all-pass (the exact
    # lenient-gate failure mode this script exists to prevent)
    dumped = {os.path.basename(d.rstrip("/"))
              for d in glob.glob(f"{out_dir}/*/")}
    names_file = f"{out_dir}/names.json"
    expected = set(json.load(open(names_file))) if os.path.exists(names_file) \
        else set(oracles)
    for name in sorted(expected - dumped):
        if only and name not in only:
            continue
        print(f"[FAIL] {name}: no output dumped (query crashed in Verify?)")
        n_fail += 1
    # the symmetric direction: a dir for a renamed/deleted query is a
    # stale artifact, not coverage
    if os.path.exists(names_file):
        for name in sorted(dumped - expected):
            if only and name not in only:
                continue
            print(f"[FAIL] {name}: output dir not in names manifest (stale artifact?)")
            n_fail += 1
    for qdir in sorted(glob.glob(f"{out_dir}/*/")):
        name = os.path.basename(qdir.rstrip("/"))
        if only and name not in only:
            continue
        if os.path.exists(names_file) and name not in expected:
            continue  # already failed above as a stale artifact
        files = glob.glob(f"{qdir}/*.parquet")
        if not files:
            print(f"[FAIL] {name}: no result parquet"); n_fail += 1; continue
        spark_tbl = pq.read_table(files)
        # Regression guard (round-3 convention): NO query may emit a
        # decimal column. Decimal representation diverges across engine
        # versions (double->decimal rounding, Arrow decimal emission) —
        # the entire round-2 red set was decimal-typed outputs that were
        # value-correct locally. Money must be BIGINT integer cents
        # (graft.model.Money).
        import pyarrow.types as patypes
        dec_cols = [f.name for f in spark_tbl.schema
                    if patypes.is_decimal(f.type)]
        if dec_cols:
            print(f"[FAIL] {name}: decimal-typed output columns {dec_cols} "
                  "(emit BIGINT integer cents instead — see graft.model.Money)")
            n_fail += 1; continue
        if name not in oracles:
            # mirror the driver's rows>0 smoke check: an empty result
            # from a non-oracled query is a regression, not a pass
            if spark_tbl.num_rows == 0:
                print(f"[FAIL] {name}: rows-only query returned 0 rows")
                n_fail += 1
            else:
                print(f"[rows-only] {name}: {spark_tbl.num_rows} rows")
                n_noracle += 1
            continue
        try:
            duck_tbl = con.execute(oracles[name]).fetch_arrow_table()
        except Exception as e:
            print(f"[FAIL] {name}: oracle error: {e}"); n_fail += 1; continue
        s_cols, d_cols = sorted(spark_tbl.column_names), sorted(duck_tbl.column_names)
        if s_cols != d_cols:
            print(f"[FAIL] {name}: schema mismatch spark={s_cols} duck={d_cols}")
            n_fail += 1; continue
        type_errs = []
        for c in s_cols:
            st = spark_tbl.schema.field(c).type
            dt = duck_tbl.schema.field(c).type
            if not types_compatible(st, dt):
                type_errs.append(f"{c}: spark={st} duck={dt}")
        if type_errs:
            print(f"[FAIL] {name}: type mismatch " + "; ".join(type_errs))
            n_fail += 1; continue
        s_rows = sorted((tuple(r) for r in
                        zip(*[spark_tbl.column(c).to_pylist() for c in s_cols])), key=repr)
        d_rows = sorted((tuple(r) for r in
                        zip(*[duck_tbl.column(c).to_pylist() for c in d_cols])), key=repr)
        if len(s_rows) != len(d_rows):
            print(f"[FAIL] {name}: rows spark={len(s_rows)} duck={len(d_rows)}")
            n_fail += 1; continue
        # exact equality INCLUDING type (Decimal('5.00') == 5.0 in Python;
        # the driver's hash is representation-sensitive, so repr-compare)
        if [tuple(map(repr, r)) for r in s_rows] == [tuple(map(repr, r)) for r in d_rows]:
            print(f"[PASS] {name}: {len(s_rows)} rows"); n_pass += 1
        else:
            n_fail += 1
            print(f"[FAIL] {name}: value mismatch ({len(s_rows)} rows)")
            sset = set(tuple(map(repr, r)) for r in s_rows)
            dset = set(tuple(map(repr, r)) for r in d_rows)
            for r in list(sset - dset)[:3]: print(f"   spark-only: {r}")
            for r in list(dset - sset)[:3]: print(f"   duck-only:  {r}")
    print(f"== {n_pass} pass, {n_fail} fail, {n_noracle} rows-only ==")
    sys.exit(1 if n_fail else 0)

main()
