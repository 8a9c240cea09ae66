"""Row-set comparison for output checks, by the repository's own gate.

Rows compare the way ``gate.py`` compares a query with its DuckDB
oracle: columns by name, rows as a sorted multiset of
``gate._norm_faithful`` values. A value must match in its dtype class
as well as in its value, so an int is not a float and a DECIMAL or
HUGEINT is not a BIGINT. Spark rows normalize as the gate normalizes
them; DuckDB relations (including the program's parquet outputs read
by DuckDB) go through ``gate._duck_rows_arrow``.
"""

from __future__ import annotations

import gate

#: Rows per column sampled for the dtype-class check of the fast path.
_CLASS_SAMPLE = 1000


class CheckFailed(AssertionError):
    pass


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def spark_rows(rows: list) -> tuple:
    """``(sorted columns, normalized rows)`` of collected Spark rows."""
    cols = sorted(rows[0].asDict()) if rows else None
    return cols, sorted(
        (tuple(gate._norm_faithful(r[c]) for c in cols) for r in rows), key=repr
    )


def duck_rows(rel) -> tuple:
    """``(sorted columns, normalized rows)`` of a DuckDB relation."""
    cols = sorted(rel.columns)
    return cols, gate._duck_rows_arrow(rel, cols)


def same(got: tuple, want: tuple, what: str) -> None:
    """Raise :class:`CheckFailed` unless two normalized row sets (from
    :func:`spark_rows` or :func:`duck_rows`) hold the same columns and
    rows. An empty Spark row list carries no columns."""
    (gcols, g), (wcols, w) = got, want
    if g and w:
        expect(gcols == wcols, f"{what}: columns {gcols} != {wcols}")
    expect(len(g) == len(w), f"{what}: {len(g)} rows != {len(w)}")
    for a, b in zip(g, w):
        expect(a == b, f"{what}: row {a} != {b}")


def _classes(con, table: str, cols: list) -> list:
    rows = con.sql(f"SELECT * FROM {table} LIMIT {_CLASS_SAMPLE}").arrow().to_pylist()
    return [{gate._dtype_class(r[c]) for r in rows if r[c] is not None} for c in cols]


def same_sql(con, got_sql: str, want_sql: str, what: str) -> None:
    """Compare two DuckDB queries as :func:`same` would. Both sides are
    materialized once, then take a fast path: equal dtype classes per
    column (sampled), then exact equality as row multisets in DuckDB
    (equal counts and an empty ``EXCEPT ALL`` both ways). Only if the
    values differ there does the full gate comparison run, whose float
    rounding may still call them equal."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE check_got AS {got_sql}")
    con.execute(f"CREATE OR REPLACE TEMP TABLE check_want AS {want_sql}")
    cols = sorted(con.table("check_got").columns)
    wcols = sorted(con.table("check_want").columns)
    expect(cols == wcols, f"{what}: columns {cols} != {wcols}")
    for c, gc, wc in zip(cols, _classes(con, "check_got", cols), _classes(con, "check_want", cols)):
        expect(not (gc and wc) or gc == wc, f"{what}: column {c} is {gc} != {wc}")
    sel = ", ".join(f'"{c}"' for c in cols)
    g, w = f"SELECT {sel} FROM check_got", f"SELECT {sel} FROM check_want"
    n_g, n_w = (con.sql(f"SELECT count(*) FROM check_{t}").fetchone()[0] for t in ("got", "want"))
    expect(n_g == n_w, f"{what}: {n_g} rows != {n_w}")
    diff = con.sql(
        f"SELECT (SELECT count(*) FROM ({g} EXCEPT ALL {w})) "
        f"+ (SELECT count(*) FROM ({w} EXCEPT ALL {g}))"
    ).fetchone()[0]
    if diff:
        same(duck_rows(con.sql(g)), duck_rows(con.sql(w)), what)
