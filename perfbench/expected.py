"""Expected outputs, computed by DuckDB independently of Spark.

A triangle set is compared through a checksum both engines compute
exactly in 64-bit integers: the row count, the column sums and three
pairwise products reduced modulo a prime. The simple-graph set is the
SQL of FIXTURES.md section 1. The faithful set adds, for every
self-loop node l, the triple (l, l, l) and one sorted (l, l, z) per
distinct neighbour z != l, so its count is the simple count plus the
sum over self-loop nodes of (|N_S(l)| + 1).
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa

PRIME = 1_000_000_007

CHECKSUM_SQL = f"""
SELECT count(*), sum(a), sum(b), sum(c),
       sum((a * b) % {PRIME}), sum((b * c) % {PRIME}), sum((a * c) % {PRIME})
FROM {{table}}
"""

SIMPLE_SQL = """
WITH e AS (
  SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM edges WHERE src <> dst GROUP BY 1, 2
)
SELECT e1.a, e1.b, e2.b AS c
FROM e e1 JOIN e e2 ON e2.a = e1.b
          JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
"""

FAITHFUL_SQL = """
WITH e AS (
  SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM edges WHERE src <> dst GROUP BY 1, 2
), loops AS (
  SELECT DISTINCT src AS l FROM edges WHERE src = dst
), nbrs AS (
  SELECT l, b AS z FROM loops JOIN e ON e.a = l
  UNION ALL
  SELECT l, a AS z FROM loops JOIN e ON e.b = l
)
SELECT * FROM simple
UNION ALL SELECT LEAST(l, z), l, GREATEST(l, z) FROM nbrs
UNION ALL SELECT l, l, l FROM loops
"""


def spark_checksum(F):
    """The same checksum as Spark aggregate expressions over ``a, b, c``."""
    a, b, c = F.col("a"), F.col("b"), F.col("c")
    return [F.count(F.lit(1)).alias("n"), F.sum(a).alias("sa"),
            F.sum(b).alias("sb"), F.sum(c).alias("sc"),
            F.sum((a * b) % PRIME).alias("pab"),
            F.sum((b * c) % PRIME).alias("pbc"),
            F.sum((a * c) % PRIME).alias("pac")]


def _as_ints(row) -> tuple[int, ...]:
    return tuple(int(v or 0) for v in row)


def _connect(edges: np.ndarray):
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.register("edges_arr", pa.table({"src": edges[:, 0],
                                        "dst": edges[:, 1]}))
    con.execute("CREATE TABLE edges AS SELECT src, dst FROM edges_arr")
    con.execute(f"CREATE TABLE simple AS {SIMPLE_SQL}")
    return con


def triangle_checksums(edges: np.ndarray) -> dict[str, tuple[int, ...]]:
    """Checksums of the simple and faithful triangle sets of ``edges``."""
    con = _connect(edges)
    try:
        con.execute(f"CREATE TABLE faithful AS {FAITHFUL_SQL}")
        return {mode: _as_ints(con.execute(
                    CHECKSUM_SQL.format(table=mode)).fetchone())
                for mode in ("simple", "faithful")}
    finally:
        con.close()


def triangle_rows(edges: np.ndarray, mode: str) -> set[tuple[int, int, int]]:
    """The triangle set itself; for small inputs in tests."""
    con = _connect(edges)
    try:
        sql = "SELECT * FROM simple" if mode == "simple" else FAITHFUL_SQL
        return {tuple(r) for r in con.execute(sql).fetchall()}
    finally:
        con.close()

