"""Executor-side Morton/SFC arithmetic as native Spark expressions.

Everything here compiles to JVM bitwise ops — NO Python UDFs on the
hot path (the reference needed numba JIT for the same job:
pcsfc/encoder.py:8, pcsfc/decoder.py:4). Two builders share one set of
byte lookup tables: Column builders (``*_col``) for callers that hold
Columns, and Spark SQL string builders (``*_spark_sql``) for callers
that emit a whole expression as ONE string, parsed by the JVM in one
call (:func:`lasdb_spark.operators.ingest.unpack_blocks`). Mask
constants are shared with the driver-side planner
(:mod:`lasdb_spark.pcsfc.morton`); the DuckDB-oracle twins live in
:mod:`lasdb_spark.pcsfc.sqlgen`.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .morton import compact2d, expand2d


def _balanced_bitor(terms: list[Column]) -> Column:
    """OR-combine disjoint-bit terms as a balanced tree (nesting depth
    log n, not n — deep left-recursive trees stress Janino's recursive
    compiler)."""
    if len(terms) == 1:
        return terms[0]
    mid = len(terms) // 2
    return _balanced_bitor(terms[:mid]).bitwiseOR(_balanced_bitor(terms[mid:]))


def _balanced_bitor_sql(terms: list[str]) -> str:
    """:func:`_balanced_bitor` over SQL fragments."""
    if len(terms) == 1:
        return terms[0]
    mid = len(terms) // 2
    return f"({_balanced_bitor_sql(terms[:mid])} | {_balanced_bitor_sql(terms[mid:])})"


# The driver-side planner (morton.py) uses the classic magic-mask chain:
# n = (n | (n << s)) & mask. As an expression tree that chain references
# its input TWICE per step, so the expression DOUBLES each step — 2^5 =
# 32 inlined copies of the input — and whole-stage codegen emits code
# for every copy, which overflows Janino's 64 KB per-method limit.
#
# Here instead: byte-at-a-time lookup tables, so an expand is 4 lookups
# and a compact is 8, each referencing the input once. Each 256-entry
# table is rendered ONCE, at import, as a SQL ``array(...)`` literal;
# Catalyst constant-folds it into a single ArrayData object, not
# rebuilt per row. A Column builder turns it into a Column with one
# ``F.expr`` (one py4j call — ``F.lit(list)`` would cost one call per
# element, 257 per table, on every query). Values are generated from
# the morton.py reference functions, so parity holds by construction
# (property-tested too).

# expand2d of one input byte → 16-bit spread (x lane)
EXPAND_LUT = "array(" + ", ".join(str(expand2d(b)) for b in range(256)) + ")"
# compact of one key byte's even bit positions → 4 bits
COMPACT_LUT = "array(" + ", ".join(str(compact2d(b & 0x55)) for b in range(256)) + ")"


def _byte_lut(c: Column, lut_sql: str, nbytes: int, out_shift: int) -> Column:
    lut = F.expr(lut_sql)
    return _balanced_bitor(
        [
            # cast("long") is load-bearing: the table is array<int>, and
            # shiftleft on INT wraps the shift amount mod 32.
            F.shiftleft(
                F.get(
                    lut, F.shiftright(c, 8 * j).bitwiseAND(F.lit(255)).cast("int")
                ).cast("long"),
                out_shift * j,
            )
            for j in range(nbytes)
        ]
    )


def expand2d_col(c: Column) -> Column:
    """Spread bits of a non-negative long onto even positions (F1)."""
    return _byte_lut(c, EXPAND_LUT, nbytes=4, out_shift=16)


def compact2d_col(c: Column) -> Column:
    """Gather even bit positions back into a compact long (F3)."""
    return _byte_lut(c, COMPACT_LUT, nbytes=8, out_shift=4)


def compact2d_spark_sql(e: str, lut: str) -> str:
    """Spark SQL for compact2d (F3) of a BIGINT expression ``e``: the
    terms of :func:`compact2d_col`. ``lut`` names a column holding
    :data:`COMPACT_LUT`: bound once, the table's 256 literals are
    parsed once, not once per lookup (~4 ms each in the SQL parser)."""
    return _balanced_bitor_sql(
        [
            f"shiftleft(CAST({lut}[CAST(shiftright({e}, {8 * j}) & 255 AS INT)]"
            f" AS BIGINT), {4 * j})"
            for j in range(8)
        ]
    )


def morton_encode_col(x: Column, y: Column) -> Column:
    """Morton key = expand(x) | expand(y) << 1 (F2; encoder.py:35-48)."""
    return expand2d_col(x).bitwiseOR(F.shiftleft(expand2d_col(y), 1))


def morton_decode_x_col(m: Column) -> Column:
    """x coordinate of a Morton key (F4)."""
    return compact2d_col(m)


def morton_decode_y_col(m: Column) -> Column:
    """y coordinate of a Morton key (F4)."""
    return compact2d_col(F.shiftright(m, 1))


def quantize_col(v: Column, scale: float, offset: float) -> Column:
    """round((v - offset) / scale) as long (F5; point_processor.py:45-47).

    ``F.round`` is HALF_UP — documented engine semantics (we do not
    replicate Python banker's rounding; see SURVEY §7.2).
    """
    return F.round((v - F.lit(float(offset))) / F.lit(float(scale)), 0).cast("long")


def split_head_col(mkey: Column, tail_len: int) -> Column:
    """head = mkey >> tail_len (F6)."""
    return F.shiftright(mkey, tail_len)


def split_tail_col(mkey: Column, tail_len: int) -> Column:
    """tail = mkey & ((1 << tail_len) - 1) (F6)."""
    return mkey.bitwiseAND(F.lit((1 << tail_len) - 1))


def merge_key_col(head: Column, tail: Column, tail_len: int) -> Column:
    """mkey = head << tail_len | tail (F7; retrieve_data.py:131)."""
    return F.shiftleft(head, tail_len).bitwiseOR(tail)
