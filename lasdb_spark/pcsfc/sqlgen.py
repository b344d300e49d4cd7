"""ANSI-SQL string builders mirroring :mod:`lasdb_spark.pcsfc.columns`.

Used to compose the DuckDB oracle queries (`__spark_entry__.oracle_sql`)
so the oracle performs bit-for-bit the SAME arithmetic the Spark engine
does. Generated from the same mask tables as the Column builders —
a single source of truth for the Morton math. :func:`double_sql`
renders the literals of SQL text that both engines run.

DuckDB specifics relied on (all ANSI-ish / widely portable):
``&``, ``|``, ``<<``, ``>>`` on BIGINT; ``round``; ``CAST``.
"""

from __future__ import annotations

import math

from .morton import COMPACT_STEPS, EVEN_BITS, EXPAND_STEPS


def double_sql(v: float) -> str:
    """``v`` as a literal that Spark and DuckDB both read as the same
    DOUBLE: Python's shortest round-trip digits in exponent form (a
    plain ``1.5`` is a DECIMAL in both engines). Negative values are
    parenthesized, so a preceding ``-`` never forms a ``--`` comment."""
    v = float(v)
    if not math.isfinite(v):
        raise ValueError(f"no SQL literal for {v!r}")
    r = repr(v)
    if "e" not in r:
        r += "E0"
    return f"({r})" if r.startswith("-") else r


def expand2d_sql(expr: str) -> str:
    """SQL for expand2d (F1) over a non-negative integer expression.

    The input is cast to BIGINT (DuckDB's 32-bit INTEGER literals
    overflow on ``<< 16``). NOTE: each step textually duplicates the
    expression, so pass simple column references (define intermediates
    in a CTE), not big nested expressions."""
    e = f"CAST(({expr}) AS BIGINT)"
    for shift, mask in EXPAND_STEPS:
        e = f"(({e} | ({e} << {shift})) & {mask})"
    return e


def compact2d_sql(expr: str) -> str:
    """SQL for compact2d (F3)."""
    e = f"(CAST(({expr}) AS BIGINT) & {EVEN_BITS})"
    for shift, mask in COMPACT_STEPS:
        e = f"(({e} | ({e} >> {shift})) & {mask})"
    return e


def morton_encode_sql(x_expr: str, y_expr: str) -> str:
    """SQL for the 2D Morton key (F2)."""
    return f"({expand2d_sql(x_expr)} | ({expand2d_sql(y_expr)} << 1))"


def morton_decode_x_sql(m_expr: str) -> str:
    return compact2d_sql(m_expr)


def morton_decode_y_sql(m_expr: str) -> str:
    return compact2d_sql(f"(({m_expr}) >> 1)")


def quantize_sql(v_expr: str, scale: float, offset: float) -> str:
    """SQL for round-half-up quantization (F5), matching quantize_col."""
    return f"CAST(round((({v_expr}) - {float(offset)!r}) / {float(scale)!r}, 0) AS BIGINT)"


def split_head_sql(mkey_expr: str, tail_len: int) -> str:
    return f"(({mkey_expr}) >> {tail_len})"


def split_tail_sql(mkey_expr: str, tail_len: int) -> str:
    return f"(({mkey_expr}) & {(1 << tail_len) - 1})"


def merge_key_sql(head_expr: str, tail_expr: str, tail_len: int) -> str:
    return f"((CAST(({head_expr}) AS BIGINT) << {tail_len}) | CAST(({tail_expr}) AS BIGINT))"
