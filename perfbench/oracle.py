"""DuckDB oracle check for the batch workload's query outputs.

Each query's oracle SQL (from `graft.SparkEntry.oracleSql`) runs on the
same parquet tables the engine read; the engine's parquet output and the
oracle's result are normalized by tools/local_check.py's `norm_df` (both
through pandas, lower-cased name-sorted columns, doubles rounded to 9
decimals, rows sorted) and must be equal. A normalized oracle result is
kept in the cache directory under a digest of its SQL and of the input
tables, so each oracle runs once per build directory.
"""
import hashlib
import json
import os
import sys

import duckdb

# the normalization of the repo's oracle gate, shared rather than copied
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from local_check import TABLES, norm_df  # noqa: E402


class Checker:
    def __init__(self, data_dir, sqls, threads, cache):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {threads}")
        tables = hashlib.sha256()
        for t in TABLES:
            path = f"{data_dir}/{t}.parquet"
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            tables.update(open(path, "rb").read())
        self.tables = tables.hexdigest()
        self.sqls = sqls
        self.cache = cache
        os.makedirs(cache, exist_ok=True)
        self.expected = {}

    def oracle(self, name):
        """The normalized oracle result of query `name`, cached."""
        key = hashlib.sha256(
            (self.tables + self.sqls[name]).encode()).hexdigest()
        path = os.path.join(self.cache, key + ".json")
        if os.path.exists(path):
            cols, rows = json.load(open(path))
            return cols, [tuple(r) for r in rows]
        result = norm_df(self.con.sql(self.sqls[name]).df())
        with open(path + ".tmp", "w") as f:
            json.dump(result, f)
        os.replace(path + ".tmp", path)
        return result

    def check(self, name, out_dir):
        """None when the output equals the oracle, else why not."""
        try:
            if name not in self.expected:
                self.expected[name] = self.oracle(name)
            exp = self.expected[name]
            got = norm_df(self.con.sql(
                f"SELECT * FROM '{out_dir}/*.parquet'").df())
        except Exception as e:  # a broken output or oracle is a failed op
            return f"cannot compare: {e}"
        if got[0] != exp[0]:
            return f"columns differ: {got[0]} vs {exp[0]}"
        if len(got[1]) != len(exp[1]):
            return f"row count {len(got[1])} vs {len(exp[1])}"
        bad = sum(g != e for g, e in zip(got[1], exp[1]))
        return f"{bad}/{len(got[1])} rows differ" if bad else None

    def close(self):
        self.con.close()
