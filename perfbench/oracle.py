"""Output checks against DuckDB.

Every query op is forced through an order-insensitive checksum over
every output column (so Catalyst cannot prune a projection), and the
same checksum is computed by DuckDB over the same source rows:

- integers and timestamps: exact sums (timestamps as epoch microseconds,
  summed as DECIMAL(38, 0) so they cannot overflow);
- floating-point columns: sums compared with a relative tolerance, since
  the two engines add in different orders;
- strings: sums of the first 32 bits of each value's MD5;
- plus the row count and a per-column non-null count.

``Replay`` re-applies the ``delta_ingest`` op sequence (appends, merge,
DV delete/update, stream drains) to DuckDB tables, giving the expected
state after any prefix of ops.
"""

from __future__ import annotations

import math

REL_TOL = 1e-9
ABS_TOL = 1e-6


def _kind(dtype: str) -> str:
    if dtype in ("tinyint", "smallint", "int", "bigint", "boolean"):
        return "int"
    if dtype in ("float", "double") or dtype.startswith("decimal"):
        return "float"
    if dtype == "string":
        return "str"
    if dtype.startswith("timestamp"):
        return "ts"
    if dtype == "date":
        return "date"
    raise ValueError(f"no checksum rule for column type {dtype}")


def checksum_fields(dtypes: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """``[(column, kind)]`` from a Spark ``df.dtypes`` list."""
    return [(c, _kind(t)) for c, t in dtypes]


def _exprs(fields, dialect: str) -> list[str]:
    out = ["count(*)"]
    for c, kind in fields:
        q = f"`{c}`" if dialect == "spark" else f'"{c}"'
        if kind == "int":
            v = f"CAST({q} AS BIGINT)"
        elif kind == "float":
            v = f"CAST({q} AS DOUBLE)"
        elif kind == "str":
            v = (
                f"CAST(conv(substr(md5({q}), 1, 8), 16, 10) AS BIGINT)"
                if dialect == "spark"
                else f"CAST('0x' || substr(md5({q}), 1, 8) AS BIGINT)"
            )
        elif kind == "ts":
            v = (
                f"CAST(unix_micros(CAST({q} AS TIMESTAMP)) AS DECIMAL(38, 0))"
                if dialect == "spark" else f"CAST(epoch_us({q}) AS DECIMAL(38, 0))"
            )
        else:
            v = (
                f"unix_date({q})" if dialect == "spark"
                else f"date_diff('day', DATE '1970-01-01', {q})"
            )
        out += [f"count({q})", f"sum({v})"]
    return out


def spark_checksum(df):
    """One-row checksum frame over every column of ``df``."""
    return df.selectExpr(*_exprs(checksum_fields(df.dtypes), "spark"))


def kinds(fields) -> list[str]:
    return ["int"] + [k for _c, kind in fields for k in ("int", kind)]


def duck_checksum(con, sql: str, fields) -> tuple:
    body = ", ".join(_exprs(fields, "duckdb"))
    return tuple(con.sql(f"SELECT {body} FROM ({sql}) AS q").fetchone())


def matches(got, want, col_kinds) -> bool:
    if got is None or want is None or len(got) != len(want):
        return False
    for g, w, k in zip(got, want, col_kinds):
        if g is None or w is None:
            if g is not w:
                return False
        elif k == "float":
            if not math.isclose(float(g), float(w), rel_tol=REL_TOL, abs_tol=ABS_TOL):
                return False
        elif int(g) != int(w):
            return False
    return True


def connect(threads: int):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    con.execute("SET TimeZone = 'UTC'")
    return con


def register_sources(con, paths: dict[str, str], tables, as_tables: bool) -> None:
    """Expose the generated parquet files under their table names, as
    views (read-only checks) or as mutable copies (replay)."""
    for name in tables:
        kind = "TABLE" if as_tables else "VIEW"
        con.execute(
            f"CREATE OR REPLACE {kind} {name} AS "
            f"SELECT * FROM read_parquet('{paths[name]}')"
        )


class Replay:
    """Applies ingest ops to DuckDB tables in the order they committed."""

    def __init__(self, con, paths: dict[str, str], tables):
        self.con = con
        register_sources(con, paths, tables, as_tables=True)
        con.execute("CREATE TABLE sink AS SELECT * FROM events WHERE false")

    def apply(self, op: dict, payload=None) -> None:
        t = op["type"]
        con = self.con
        if t == "append":
            con.register("payload", payload)
            con.execute("INSERT INTO events SELECT * FROM payload")
            con.unregister("payload")
        elif t == "merge":
            con.register("src", payload)
            sets = ", ".join(f"{c} = s.{c}" for c in op["set_cols"])
            con.execute(
                f"UPDATE orders SET {sets} FROM src s "
                "WHERE orders.o_orderkey = s.o_orderkey"
            )
            con.execute(
                "INSERT INTO orders SELECT * FROM src s WHERE NOT EXISTS "
                "(SELECT 1 FROM orders o WHERE o.o_orderkey = s.o_orderkey)"
            )
            con.unregister("src")
        elif t == "delete":
            con.execute(f"DELETE FROM {op['table']} WHERE {op['where']}")
        elif t == "update":
            sets = ", ".join(f"{c} = {e}" for c, e in op["set"].items())
            con.execute(f"UPDATE {op['table']} SET {sets} WHERE {op['where']}")
        elif t == "stream":
            con.execute("DELETE FROM sink")
            con.execute("INSERT INTO sink SELECT * FROM events")
        # optimize and queries leave the logical state unchanged
