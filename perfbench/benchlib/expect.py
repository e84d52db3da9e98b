"""Expected results, computed without the engine under test.

MapReduce programs: from the generator's own facts.  Registered queries
and stream triggers: by running the query's DuckDB oracle SQL (from
SparkEntry.oracleSql) over the same parquet files, as
tools/check_oracle.py does.
"""
import os
from collections import defaultdict

import duckdb

from .digest import digest, lines_digest

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# the direct rank-loop calls return exactly these queries' results
RANK_OPS = {"ops.pagerank": "q223_link_pagerank", "ops.hits": "q227_link_hits",
            "ops.trustrank": "q228_trustrank"}


def mr_expected(facts):
    wc = [f"{w} {c}" for w, c in facts["counts"].items()]
    deg = [f"{v}, deg={n}" for v, n in facts["degree"].items()]
    a, b = facts["A"], facts["B"]
    n = a.shape[0]
    products, sums = [], defaultdict(int)
    for j in range(n):
        rows = [(i, int(a[i, j])) for i in range(n) if a[i, j]]
        cols = [(k, int(b[j, k])) for k in range(n) if b[j, k]]
        for i, x in rows:
            for k, y in cols:
                products.append(f"{i} {k} {x * y} C")
                sums[(i, k)] += x * y
    mm2 = [f"{i} {k} {s} C" for (i, k), s in sums.items()]
    return {"wc": lines_digest(wc), "grep": lines_digest(facts["grep_lines"]),
            "vertex_degree": lines_digest(deg), "matrix_multiply_1": lines_digest(products),
            "matrix_multiply_2": lines_digest(mm2)}


def _connect(tmp_dir):
    con = duckdb.connect()
    os.makedirs(tmp_dir, exist_ok=True)
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    con.execute("SET threads = 4")
    return con


def _run(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return digest(cols, cur.fetchall())


def oracle_expected(table_dir, oracle_sql, names, tmp_dir):
    """Digest of each named query's oracle result over `table_dir`."""
    con = _connect(tmp_dir)
    for t in TABLES:
        p = os.path.join(table_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {n: _run(con, oracle_sql[n]) for n in names}
    con.close()
    return out


def stream_expected(batch_files, batch_docs, q100_sql, tmp_dir):
    """Per trigger k: q100 over batches 0..k, restricted to batch k's docs.
    Under doc_id-ordered arrival the stream's batch-k output must equal it
    (StreamCuration's batch-equivalence contract)."""
    con = _connect(tmp_dir)
    out = {}
    for k in range(len(batch_files)):
        files = ", ".join(f"'{f}'" for f in batch_files[:k + 1])
        con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet([{files}])")
        lo, hi = k * batch_docs, (k + 1) * batch_docs
        out[f"trigger_{k}"] = _run(
            con, f"SELECT * FROM ({q100_sql}) WHERE doc_id >= {lo} AND doc_id < {hi}")
    con.close()
    return out
