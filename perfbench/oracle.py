"""DuckDB oracle for the benchmark's result check.

Each query's ``SparkEntry.oracleSql`` twin runs in DuckDB over the same
generated parquet inputs (bare table names are views over them). Results
are cached beside the inputs, since the n-gram Jaccard twins are slow.
The comparison is the strict one of ``tools/local_check.py``: columns
sorted by name, rows sorted, values compared by ``repr`` so that a
type difference (``Decimal('62')`` vs ``62``, ``1.0`` vs ``1``) counts
as a wrong result.
"""
import hashlib
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq


def canon(table):
    cols = [c.lower() for c in table.column_names]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(r[i] for i in order)
            for r in (tuple(d.values()) for d in table.to_pylist())]

    def key(t):
        return tuple((v is not None, str(type(v)), str(v)) for v in t)
    return [cols[i] for i in order], sorted(rows, key=key)


def ensure_oracle(oracle_dir, data_dir, queries, oracle_sql, threads):
    """Oracle result table per query. A result is cached under a key of
    its SQL text and the inputs' manifest, so a changed oracle or
    regenerated inputs recompute it."""
    os.makedirs(oracle_dir, exist_ok=True)
    with open(os.path.join(data_dir, "manifest.json"), "rb") as f:
        inputs = f.read()
    path = {}
    for q in queries:
        if q not in oracle_sql:
            raise KeyError(f"{q} has no oracle SQL")
        key = hashlib.sha256(oracle_sql[q].encode() + inputs).hexdigest()[:16]
        path[q] = os.path.join(oracle_dir, f"{q}-{key}.parquet")
    missing = [q for q in queries if not os.path.exists(path[q])]
    if missing:
        con = duckdb.connect()
        con.execute(f"SET threads TO {int(threads)}")
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                table = os.path.join(data_dir, f).replace("'", "''")
                con.execute(f"CREATE VIEW {f[:-8]} AS "
                            f"SELECT * FROM read_parquet('{table}')")
        for q in missing:
            tbl = con.execute(oracle_sql[q]).fetch_arrow_table()
            pq.write_table(tbl, path[q] + ".tmp")
            os.replace(path[q] + ".tmp", path[q])
        con.close()
    return {q: pq.read_table(path[q]) for q in queries}


def _has_float(t):
    return pa.types.is_floating(t) or any(
        _has_float(t.field(i).type) for i in range(t.num_fields))


def _has_negative_zero(col):
    x = col.to_numpy()
    return bool(np.any((x == 0) & np.signbit(x)))


def _arrow_equal(a, b):
    """Fast path for large results, which the ``repr`` comparison takes
    seconds on (about 5 s for a 200k-row taxi_month result, against
    0.06 s here). True only when the ``repr`` comparison would agree: the
    same column names and arrow types, and equal rows after sorting both
    by every column. Arrow equality is looser than ``repr`` only on
    floats, where -0.0 equals 0.0, so a float column holding -0.0, or a
    nested column holding floats, takes the ``repr`` path. NaN never
    equals itself in Arrow, so a result with NaN takes it too."""
    def norm(t):
        t = t.rename_columns([c.lower() for c in t.column_names])
        cols = sorted(t.column_names)
        return t.select(cols).sort_by([(c, "ascending") for c in cols])
    try:
        na, nb = norm(a), norm(b)
    except pa.ArrowException:  # e.g. a type Arrow cannot sort by
        return False
    if not na.schema.equals(nb.schema):
        return False
    for f in na.schema:
        if pa.types.is_floating(f.type):
            if (_has_negative_zero(na.column(f.name)) or
                    _has_negative_zero(nb.column(f.name))):
                return False
        elif _has_float(f.type):
            return False
    return na.equals(nb)


def count_rows(result_dir):
    if not os.path.isdir(result_dir):
        return None
    return pads.dataset(result_dir, format="parquet").count_rows()


def compare(spark_dir, oracle_tbl):
    """None when the Spark result equals the oracle, else the reason."""
    if not os.path.isdir(spark_dir):
        return "no result written"
    got = pads.dataset(spark_dir, format="parquet").to_table()
    if _arrow_equal(got, oracle_tbl):
        return None
    sc, sr = canon(got)
    dc, dr = canon(oracle_tbl)
    if sc != dc:
        return f"schema spark={sc} oracle={dc}"
    if len(sr) != len(dr):
        return f"rows spark={len(sr)} oracle={len(dr)}"
    if [tuple(map(repr, t)) for t in sr] != [tuple(map(repr, t)) for t in dr]:
        bad = next(i for i, (a, b) in enumerate(zip(sr, dr))
                   if tuple(map(repr, a)) != tuple(map(repr, b)))
        return f"values differ, e.g. spark={sr[bad]} oracle={dr[bad]}"
    return None
