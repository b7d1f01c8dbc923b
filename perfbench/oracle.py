"""Reference results for the batch mix.

Each query's result is reduced to a fingerprint the way
``tools/check.py`` compares results: columns sorted by name, Arrow
types with int32 read as int64 (the one tolerance check.py allows),
rows sorted by ``repr`` and compared by ``repr``. The stored
fingerprints in ``fingerprints.json`` were taken from the DuckDB
oracle SQL (``SparkEntry.oracleSql``) over the benchmark's own
corpora, so the timed runs need no DuckDB.

Re-record after changing the corpus generator, the query list or an
oracle: ``python3 perfbench/oracle.py record``.
"""
import hashlib
import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pyarrow.types as patypes

HERE = os.path.dirname(os.path.abspath(__file__))
STORE = os.path.join(HERE, "fingerprints.json")
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def fingerprint(tbl):
    if any(patypes.is_decimal(f.type) for f in tbl.schema):
        return {"rows": tbl.num_rows, "sha256": "decimal-column"}
    cols = sorted(tbl.column_names)
    types = [str(pa.int64() if tbl.schema.field(c).type == pa.int32()
                 else tbl.schema.field(c).type) for c in cols]
    rows = sorted((tuple(map(repr, r)) for r in
                   zip(*[tbl.column(c).to_pylist() for c in cols])), key=repr)
    h = hashlib.sha256(repr((cols, types)).encode())
    for r in rows:
        h.update(repr(r).encode())
    return {"rows": len(rows), "sha256": h.hexdigest()}


def result_fingerprint(result_dir):
    files = sorted(os.path.join(result_dir, f) for f in os.listdir(result_dir)
                   if f.endswith(".parquet"))
    return fingerprint(pq.read_table(files))


def load():
    with open(STORE) as f:
        return json.load(f)


def duckdb_fingerprints(corpus_dir, oracle_sql):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads=4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus_dir}/{t}.parquet'")
    return {name: fingerprint(con.execute(sql).fetch_arrow_table())
            for name, sql in sorted(oracle_sql.items())}


if __name__ == "__main__":
    if sys.argv[1:] != ["record"]:
        sys.exit("usage: oracle.py record")
    sys.path.insert(0, HERE)
    import run
    store = {}
    cp = run.build()
    sql = run.oracle_sql(cp)
    for corpus in ("bench", "tiny"):
        store[corpus] = duckdb_fingerprints(run.corpus(corpus), sql)
    with open(STORE, "w") as f:
        json.dump(store, f, indent=1, sort_keys=True)
        f.write("\n")
