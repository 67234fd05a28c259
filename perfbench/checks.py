"""Output checks. They run untimed, once per distinct job per run.

Registry jobs are compared with their DuckDB oracle SQL by row count,
column set and the order-insensitive value hash of
``scripts/oracle_sweep.py``. Matmul jobs are compared exactly
with NumPy on the same seeded integer arrays.
"""

from __future__ import annotations

import numpy as np


class Oracle:
    """DuckDB views over one directory of fixture tables."""

    def __init__(self, sf_dir: str, tmp_dir: str):
        import duckdb
        from matrix_multiplication_map_reduce_gcp_spark.catalog import TABLES

        self.con = duckdb.connect()
        self.con.sql("SET threads=2")
        self.con.sql(f"SET temp_directory='{tmp_dir}'")
        self.con.sql("SET preserve_insertion_order=false")
        for t in TABLES:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def mismatch(self, sql: str, cols: list[str], rows) -> str | None:
        """None when the Spark rows match the oracle, else why not."""
        from oracle_sweep import valhash

        rel = self.con.sql(sql)
        want = rel.fetchall()
        if sorted(cols) != sorted(rel.columns):
            return f"columns {sorted(cols)} != oracle {sorted(rel.columns)}"
        if len(rows) != len(want):
            return f"{len(rows)} rows != oracle {len(want)}"
        if valhash(cols, rows) != valhash(rel.columns, want):
            return "value hash differs from oracle"
        return None

    def close(self) -> None:
        self.con.close()
        self.con = None  # the compare closures keep this object, not DuckDB's


def coo_product(a: tuple, b: tuple, n_cols: int):
    """Exact sparse product of two integer COO triples (i, j, v), as
    (i, k, v) sorted by (i, k) with explicit-zero sums kept: the join
    on the shared index and the sum per output cell that
    ``CooMatrix.multiply`` performs, in NumPy int64."""
    ai, aj, av = a
    bj, bk, bv = b
    order = np.argsort(bj, kind="stable")
    bj, bk, bv = bj[order], bk[order], bv[order]
    lo = np.searchsorted(bj, aj, "left")
    hi = np.searchsorted(bj, aj, "right")
    deg = hi - lo
    rep = np.repeat(np.arange(len(ai)), deg)
    start = np.repeat(lo - np.cumsum(deg) + deg, deg)
    idx = start + np.arange(len(rep))
    keys = ai[rep] * n_cols + bk[idx]
    prods = av[rep] * bv[idx]
    uniq, inv = np.unique(keys, return_inverse=True)
    sums = np.zeros(len(uniq), dtype=np.int64)
    np.add.at(sums, inv, prods)
    return uniq // n_cols, uniq % n_cols, sums


def matmul_mismatch(got, want_i, want_k, want_v) -> str | None:
    """Compare a Spark (i, j, v) result table with the expected cells."""
    gi = np.asarray(got["i"], dtype=np.int64)
    gk = np.asarray(got["j"], dtype=np.int64)
    gv = np.asarray(got["v"], dtype=np.float64)
    if len(gi) != len(want_i):
        return f"{len(gi)} cells != expected {len(want_i)}"
    order = np.lexsort((gk, gi))
    if not (np.array_equal(gi[order], want_i) and np.array_equal(gk[order], want_k)):
        return "cell coordinates differ from the NumPy product"
    bad = int(np.count_nonzero(gv[order] != np.asarray(want_v, dtype=np.float64)))
    return f"{bad} cell values differ from the NumPy product" if bad else None


def dense_cells(c: np.ndarray):
    """(i, k, v) of every cell of a dense product, row-major."""
    i, k = np.indices(c.shape)
    return i.ravel(), k.ravel(), c.ravel()
