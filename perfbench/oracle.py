"""Output checks against the DuckDB oracle twins of the catalog cells.

Both sides are reduced to the same canonical form before hashing: columns
sorted by name, rows in result order, floats at full precision (the rules
of the repo's oracle gate, tools/compare.py). The oracle side depends only
on the input tables and the oracle SQL, so its hash is computed once per
(input, SQL) and cached.
"""
import hashlib
import json
import math
import os
import threading

import duckdb

MEMORY = "2GB"
TIMEOUT_S = 60
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def canonical_hash(df):
    df = df[sorted(df.columns)]
    h = hashlib.sha256("\x1f".join(df.columns).encode())
    for row in df.itertuples(index=False):
        h.update(("\x1e" + "\x1f".join(_cell(v) for v in row)).encode())
    return f"{len(df)}:{h.hexdigest()[:24]}"


def connect(data_dir, tmp_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET memory_limit = '{MEMORY}'")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    con.execute(f"SET max_temp_directory_size = '{MEMORY}'")
    for t in TABLES:
        path = os.path.join(data_dir, t + ".parquet")
        if os.path.isdir(path):  # a table written by Spark: one file per part
            path = os.path.join(path, "*.parquet")
        elif not os.path.isfile(path):  # the replicas hold only what is used
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _run(con, sql, timeout):
    timer = threading.Timer(timeout, con.interrupt)
    timer.start()
    try:
        return con.execute(sql).fetchdf()
    finally:
        timer.cancel()


def oracle_hashes(data_dir, input_key, sqls, cache_dir):
    """{cell: hash} of each oracle SQL on `data_dir`, cached on disk. An
    oracle that DuckDB cannot answer within the time and memory limits
    (the recursive graph twins on the replicas) maps to "infeasible: ..."."""
    os.makedirs(cache_dir, exist_ok=True)
    out, con = {}, None
    for cell, sql in sorted(sqls.items()):
        key = hashlib.sha256(f"{input_key}\n{sql}".encode()).hexdigest()[:32]
        path = os.path.join(cache_dir, key)
        if os.path.isfile(path):
            with open(path) as f:
                out[cell] = f.read()
            continue
        if con is None:
            os.makedirs(os.path.join(cache_dir, "tmp"), exist_ok=True)
            con = connect(data_dir, os.path.join(cache_dir, "tmp"))
        try:
            value = canonical_hash(_run(con, sql, TIMEOUT_S))
        except (duckdb.InterruptException, duckdb.OutOfMemoryException,
                duckdb.IOException) as e:
            value = f"infeasible: {type(e).__name__}"
        with open(path + ".tmp", "w") as f:
            f.write(value)
        os.replace(path + ".tmp", path)
        out[cell] = value
    return out


def output_hash(out_dir):
    con = duckdb.connect()
    return canonical_hash(
        con.execute(f"SELECT * FROM read_parquet('{out_dir}/*.parquet')").fetchdf())


def load_json(path):
    with open(path) as f:
        return json.load(f)
