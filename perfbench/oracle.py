"""Checks made apart from the engine: DuckDB runs each operation's oracle SQL
over the same parquet files and the engine's dumped result must match it.

Batch results follow scripts/parity.py's compare discipline: columns matched by
name, canonical types equal, rows equal in order. Stream results have no
order; they are joined to the oracle on their key columns.

DuckDB results are cached as parquet under `.bench_build/perfbench/oracle/`,
keyed by the SQL and an identity of the input files. Delete that directory
to rebuild them; the next run recomputes what it needs.
"""
import hashlib
import json
import math
import os
import re

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon_type(t):
    """Type spellings a typed result hash treats as equal collapse;
    HUGEINT and DECIMAL stay distinct."""
    t = t.upper()
    t = re.sub(r"\bU?(TINYINT|SMALLINT|INTEGER|BIGINT)\b", "INT", t)
    t = re.sub(r"\b(REAL|FLOAT|DOUBLE)\b", "FLOAT", t)
    t = re.sub(r"\bTIMESTAMP(_NS|_MS|_S)?( WITH TIME ZONE)?\b", "TIMESTAMP", t)
    return t


def norm(v):
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def source(path):
    return f"read_parquet('{path}/*.parquet')" if os.path.isdir(path) else f"read_parquet('{path}')"


def _connect():
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET TimeZone = 'UTC'")
    return con


def _types(con, select):
    return {r[0]: r[1] for r in con.execute(f"DESCRIBE {select}").fetchall()}


class Oracle:
    def __init__(self, data_dir, data_id, cache_dir):
        self.data_dir = data_dir
        self.data_id = data_id
        self.cache_dir = cache_dir

    def expected(self, sql):
        """Path of the parquet file holding `sql`'s result, and its column
        types as DuckDB computed them; computed once per input identity."""
        key = hashlib.sha256((self.data_id + "\0" + sql).encode()).hexdigest()
        path = os.path.join(self.cache_dir, key + ".parquet")
        meta = os.path.join(self.cache_dir, key + ".json")
        if not (os.path.exists(path) and os.path.exists(meta)):
            os.makedirs(self.cache_dir, exist_ok=True)
            con = _connect()
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"{source(os.path.join(self.data_dir, t + '.parquet'))}")
            types = _types(con, sql)
            con.execute(f"COPY ({sql}) TO '{path}.tmp' (FORMAT PARQUET)")
            os.replace(path + ".tmp", path)
            with open(meta, "w") as f:
                json.dump(types, f)
        with open(meta) as f:
            return path, json.load(f)

    def compare_ordered(self, sql, dump):
        """None when the dump equals the oracle result, else the reason."""
        path, dtypes = self.expected(sql)
        con = _connect()
        d = con.execute(f"SELECT * FROM {source(path)}")
        dcols = [c[0] for c in d.description]
        drows = d.fetchall()
        s = con.execute(f"SELECT * FROM {source(dump)}")
        scols = [c[0] for c in s.description]
        srows = s.fetchall()
        stypes = _types(con, f"SELECT * FROM {source(dump)}")
        if sorted(dcols) != sorted(scols):
            return f"columns: engine {sorted(scols)}, oracle {sorted(dcols)}"
        bad = [(c, stypes[c], dtypes[c]) for c in sorted(dtypes)
               if canon_type(stypes[c]) != canon_type(dtypes[c])]
        if bad:
            return f"types (column, engine, oracle): {bad}"
        dperm = sorted(range(len(dcols)), key=lambda i: dcols[i])
        sperm = sorted(range(len(scols)), key=lambda i: scols[i])
        if len(drows) != len(srows):
            return f"rows: engine {len(srows)}, oracle {len(drows)}"
        for i, (a, b) in enumerate(zip(srows, drows)):
            ea, ob = tuple(norm(a[j]) for j in sperm), tuple(norm(b[j]) for j in dperm)
            if ea != ob:
                return f"row {i}: engine {ea}, oracle {ob}"
        return None

    def compare_keyed(self, dump, engine_select, oracle_sql, oracle_select, keys, tol=0.0):
        """Joins `engine_select` (over relation `engine`, the dump) to
        `oracle_select` (over relation `oracle`, the result of `oracle_sql`)
        on `keys`. Every other column must be equal; floats may differ by
        `tol`, since a stream sums a window across micro-batches in another
        order than a batch query. None when they match, else the reason."""
        path, _ = self.expected(oracle_sql)
        con = _connect()
        con.execute(f"CREATE VIEW engine AS SELECT * FROM {source(dump)}")
        con.execute(f"CREATE VIEW oracle AS SELECT * FROM {source(path)}")
        con.execute(f"CREATE VIEW e AS {engine_select}")
        con.execute(f"CREATE VIEW o AS {oracle_select}")
        types = _types(con, "SELECT * FROM e")
        if types.keys() != _types(con, "SELECT * FROM o").keys():
            return f"columns differ: {list(types)}"
        on = " AND ".join(f"e.{k} = o.{k}" for k in keys)
        differs = " OR ".join(
            [f"e.{keys[0]} IS NULL", f"o.{keys[0]} IS NULL"] +
            [f"abs(e.{c} - o.{c}) > {tol}" if canon_type(t) == "FLOAT" else f"e.{c} IS DISTINCT FROM o.{c}"
             for c, t in types.items() if c not in keys])
        n_e, n_o = (con.execute(f"SELECT count(*) FROM {r}").fetchone()[0] for r in ("e", "o"))
        bad = con.execute(f"SELECT e, o FROM e FULL OUTER JOIN o ON {on} WHERE {differs}").fetchall()
        if n_e != n_o or bad:
            return f"engine {n_e} rows, oracle {n_o}, {len(bad)} differ; first: {bad[:1]}"
        return None
