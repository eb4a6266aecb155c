"""Checks query results against their DuckDB oracle with the comparison
rules of tools/check.py: arrow type categories must match, columns are
sorted by name, rows are sorted, floats compare at 9 significant digits.

The oracle side depends only on (seed, scale, oracle SQL), so it is
cached under the benchmark's cache directory, keyed by the SQL's hash.
"""
import glob
import hashlib
import json
import os
import sys

import pyarrow.parquet as pq

from gen import REPO


def check_module():
    tools = os.path.join(REPO, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import check
    return check


def canonical(names, types, rows):
    """The form both sides are compared in: {column: type category}
    and the sorted, normalised rows (columns in name order)."""
    c = check_module()
    sorted_names, sorted_rows = c.table_of(rows, names)
    return {"types": {n: types[n] for n in sorted_names},
            "rows": [list(r) for r in sorted_rows]}


def spark_result(result_dir):
    c = check_module()
    files = glob.glob(os.path.join(result_dir, "*.parquet"))
    if not files:
        return None
    tbl = pq.read_table(files[0] if len(files) == 1 else result_dir)
    names = tbl.column_names
    types = {n: c.cat(tbl.schema.field(n).type) for n in names}
    return canonical(names, types, [tuple(d.values()) for d in tbl.to_pylist()])


def duckdb_result(data_dir, sql, cache_dir):
    """The oracle's canonical result for `sql` on `data_dir`, cached."""
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    path = os.path.join(cache_dir, key + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    import duckdb
    c = check_module()
    con = duckdb.connect()
    for t in c.TABLES:
        p = os.path.join(data_dir, t + ".parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    arrow = con.execute(sql).arrow()
    con.close()
    names = arrow.column_names
    types = {n: c.cat(arrow.schema.field(n).type) for n in names}
    out = canonical(names, types, [tuple(d.values()) for d in arrow.to_pylist()])
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)
    return out


def mismatch(spark, duck):
    """None when the two canonical results agree, else the reason."""
    if spark is None:
        return "no spark result"
    shared = set(spark["types"]) & set(duck["types"])
    bad = sorted((n, spark["types"][n], duck["types"][n]) for n in shared
                 if spark["types"][n] != duck["types"][n])
    if bad:
        return f"arrow type mismatch {bad}"
    if list(spark["types"]) != list(duck["types"]):
        return f"columns differ spark={list(spark['types'])} duck={list(duck['types'])}"
    if spark["rows"] != duck["rows"]:
        return f"{len(spark['rows'])} vs {len(duck['rows'])} rows differ"
    return None


def check_queries(queries, verify_dir, data_dir, cache_dir):
    """{query: None or failure reason} for every query; a query without
    an oracle entry fails."""
    with open(os.path.join(verify_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    out = {}
    for q in queries:
        if q not in sqls:
            out[q] = "no oracle SQL"
            continue
        try:
            duck = duckdb_result(data_dir, sqls[q], cache_dir)
        except Exception as e:  # the oracle itself failed
            out[q] = f"duckdb error: {e}"
            continue
        out[q] = mismatch(spark_result(os.path.join(verify_dir, q)), duck)
    return out
