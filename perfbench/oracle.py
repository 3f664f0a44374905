"""Output checks shared by the workloads: the golden corpus's DuckDB
dialect mapping and an order-insensitive result comparison.

The dialect mapping is a frozen copy of the one the golden-SQL test uses
(``tests/test_golden_sql.py``), so the benchmark's oracle stays fixed
while the program and its tests evolve.  ``spark_compat`` is the same
QUALIFY rewrite the test applies before handing a statement to the
engine, which is what lets ``g02_window.sql`` run at all.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os
import re

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_compat(sql: str) -> str:
    """DuckDB spells Hive/Spark's LEFT SEMI JOIN as SEMI JOIN, and
    multi-column COUNT(DISTINCT a, b) as COUNT(DISTINCT (a, b)) — a
    struct, equivalent on non-null key columns (count.q cases use
    NOT-NULL columns; Hive drops a row when ANY distinct key is null,
    the struct form only when ALL are)."""
    sql = re.sub(r"\bLEFT\s+SEMI\s+JOIN\b", "SEMI JOIN", sql, flags=re.IGNORECASE)
    sql = re.sub(
        r"COUNT\(\s*DISTINCT\s+([^()]+,[^()]+?)\)",
        r"COUNT(DISTINCT (\1))",
        sql,
        flags=re.IGNORECASE,
    )
    # statement-level CLUSTER BY / DISTRIBUTE BY only redistribute rows —
    # no DuckDB counterpart and no effect on the (order-insensitively
    # compared) result set; strip the trailing clause
    sql = re.sub(
        r"\b(CLUSTER|DISTRIBUTE)\s+BY\b[^;)]*", "", sql, flags=re.IGNORECASE
    )
    # Hive/Spark backtick-quoted identifiers are ANSI double-quoted in DuckDB
    sql = re.sub(r"`([^`]*)`", r'"\1"', sql)
    # Hive/Spark SPLIT is regex; DuckDB's split/string_split is literal
    sql = re.sub(r"\bSPLIT\(", "regexp_split_to_array(", sql, flags=re.IGNORECASE)
    # Hive's legacy `GROUP BY a, b WITH ROLLUP/CUBE` suffix form
    # (HiveParser groupByClause KW_WITH) — DuckDB only has the ANSI
    # ROLLUP(a, b) form
    sql = re.sub(
        r"GROUP\s+BY\s+(.+?)\s+WITH\s+(ROLLUP|CUBE)",
        lambda m: f"GROUP BY {m.group(2)}({m.group(1)})",
        sql,
        flags=re.IGNORECASE,  # deliberately NOT re.S: one-line clause only
    )
    # Hive's CAST(x AS VARCHAR(n)) TRUNCATES to n chars
    # (GenericUDFToVarchar; varchar_1.q) — DuckDB's VARCHAR(n) ignores
    # the length, so spell the truncation out
    sql = re.sub(
        r"\bCAST\s*\(\s*([\w.]+)\s+AS\s+VARCHAR\s*\(\s*(\d+)\s*\)\s*\)",
        lambda m: (
            f"CAST(substr(CAST({m.group(1)} AS VARCHAR),1,{m.group(2)})"
            f" AS VARCHAR)"
        ),
        sql,
        flags=re.IGNORECASE,
    )
    # Hive/Spark's null-safe equality operator — DuckDB spells it
    # IS NOT DISTINCT FROM
    sql = re.sub(
        r"([\w.]+)\s*<=>\s*([\w.]+)", r"\1 IS NOT DISTINCT FROM \2", sql
    )
    # Hive/Spark allow an ON-less inner JOIN whose predicate lives in
    # WHERE (constant_prop_1.q tail shapes); DuckDB requires ON/USING on
    # JOIN, but CROSS JOIN + WHERE is the identical relation
    sql = re.sub(
        r"(?<!CROSS\s)(?<!INNER\s)\bJOIN\s+(\w+)\s+(\w+)\s+WHERE\b",
        r"CROSS JOIN \1 \2 WHERE",
        sql,
        flags=re.IGNORECASE,
    )
    # Spark's two-arg DATEDIFF(end, start) — DuckDB only has the
    # three-arg datediff('day', start, end) form
    sql = re.sub(
        r"\bDATEDIFF\(\s*([^(),]+?)\s*,\s*(DATE\s+'[^']+'|[^(),]+?)\s*\)",
        r"datediff('day', \2, \1)",
        sql,
        flags=re.IGNORECASE,
    )
    # Hive/Spark INTERVAL 'y-m' YEAR TO MONTH — DuckDB has no ANSI
    # year-to-month literal; fold to a month count
    return re.sub(
        r"INTERVAL\s+'(-?)(\d+)-(\d+)'\s+YEAR\s+TO\s+MONTH",
        lambda m: f"INTERVAL '{m.group(1)}{int(m.group(2)) * 12 + int(m.group(3))}' MONTH",
        sql,
        flags=re.IGNORECASE,
    )


def spark_compat(sql: str) -> str:
    """Rewrite QUALIFY rn <= k into a subquery filter for Spark."""
    m = re.search(r"QUALIFY\s+(\w+)\s*<=\s*(\d+)", sql, re.IGNORECASE)
    if not m:
        return sql
    inner = sql[: m.start()].strip()
    return f"SELECT * FROM ({inner}) WHERE {m.group(1)} <= {m.group(2)}"


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per generated table."""
    con = duckdb.connect()
    for tb in TABLES:
        path = os.path.join(data_dir, f"{tb}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE OR REPLACE VIEW {tb} AS SELECT * FROM read_parquet('{path}')")
    return con


def _decimals(x: float) -> int:
    r = repr(x)
    return len(r.split(".")[1]) if "." in r and "e" not in r else 0


def _close(a, b) -> bool:
    """Values agree, allowing for float summation order: a relative
    difference below 1e-9, or a one-unit flip in the last printed decimal
    (``ROUND(x, 2)`` of a sum that lands on a half cent can round either
    way depending on the order the two engines added the terms in)."""
    if isinstance(a, decimal.Decimal):
        a = float(a)
    if isinstance(b, decimal.Decimal):
        b = float(b)
    if isinstance(a, float) and isinstance(b, (int, float)) and not isinstance(b, bool):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        if math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12):
            return True
        unit = 10.0 ** -min(max(_decimals(a), _decimals(b)), 9)
        return abs(a - b) <= unit * (1 + 1e-9)
    if isinstance(b, float) and isinstance(a, (int, float)) and not isinstance(a, bool):
        return _close(b, a)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return _key(a) == _key(b)


def _key(v, coarse: bool = False):
    """Sort key of one value; ``coarse`` keeps numbers to 3 significant
    digits so a rounding flip seldom reorders the rows being compared."""
    if v is None:
        return (0, "")
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return (1, "NaN")
        return (2, float(f"{f:.3g}") if coarse else f)
    if isinstance(v, bool):
        return (3, int(v))
    if isinstance(v, int):
        return (2, float(f"{v:.3g}") if coarse else float(v))
    if isinstance(v, (dt.datetime, dt.date)):
        return (4, v.isoformat())
    if isinstance(v, (list, tuple)):
        return (5, tuple(_key(x, coarse) for x in v))
    if isinstance(v, bytes):
        return (6, v.hex())
    return (7, repr(v))


def same_result(srows, scols, orows, ocols) -> bool:
    """Column names (any order), row count and order-insensitive values
    all agree."""
    scols = [c.lower() for c in scols]
    ocols = [c.lower() for c in ocols]
    if sorted(scols) != sorted(ocols) or len(srows) != len(orows):
        return False
    s_order = sorted(range(len(scols)), key=lambda i: scols[i])
    o_order = sorted(range(len(ocols)), key=lambda i: ocols[i])

    def arrange(rows, order):
        out = [tuple(tuple(r)[i] for i in order) for r in rows]
        return sorted(
            out,
            key=lambda r: (tuple(_key(v, coarse=True) for v in r), tuple(_key(v) for v in r)),
        )

    return all(
        all(_close(a, b) for a, b in zip(x, y))
        for x, y in zip(arrange(srows, s_order), arrange(orows, o_order))
    )
