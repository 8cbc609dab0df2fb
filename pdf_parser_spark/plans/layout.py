"""Z-order (Morton curve) key: multi-dimensional file pruning.

A table sorted by ONE column gives parquet min/max pruning on that
column and nothing on any other; at 100 TB the second-most-common
filter column then reads the whole table. Interleaving the bits of two
(or more) bucketed keys into a single sort key makes every file of a
layout range-partitioned and sorted on that key a small HYPER-RECTANGLE
in key space, so min/max footer stats prune files for predicates on
EITHER dimension — the layout trick behind Delta/Iceberg `ZORDER BY`.
Here the key is a plain column expression (`zvalue`) with a portable
SQL twin (`zvalue_sql`): pure integer bit arithmetic that Spark and
DuckDB reproduce exactly (gate `zorder_key`).

The reference has no storage layout concept (SURVEY.md §2.8) —
north-rule addition alongside `io.write_bucketed` (bucketing solves
JOIN co-location; z-order solves multi-predicate SCAN pruning).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def zvalue(x_col: str, y_col: str, bits: int = 8) -> F.Column:
    """Morton z-value of two NON-NEGATIVE integer columns already
    bucketed to ``< 2**bits`` (caller clamps — garbage in, garbage
    interleaved): bit b of x lands at position 2b, bit b of y at
    2b+1. A sum of ``2*bits`` codegen terms — no UDF, no loop at
    runtime; constant-folds into one whole-stage-codegen expression."""
    x, y = F.col(x_col), F.col(y_col)
    terms = []
    for b in range(bits):
        terms.append(F.shiftleft(
            F.shiftright(x, b).bitwiseAND(F.lit(1)), 2 * b))
        terms.append(F.shiftleft(
            F.shiftright(y, b).bitwiseAND(F.lit(1)), 2 * b + 1))
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def zvalue_sql(x_expr: str, y_expr: str, bits: int = 8) -> str:
    """The identical z-value as portable SQL text (the DuckDB twin):
    ``((x >> b) & 1) << 2b | ...`` summed. Kept next to `zvalue` so the
    two cannot drift."""
    terms = []
    for b in range(bits):
        # every term fully parenthesized: SQL gives `+` TIGHTER binding
        # than `<<`, so an unparenthesized sum of shifts nests the
        # shifts into each other (caught by the cross-engine gate)
        terms.append(f"(((({x_expr}) >> {b}) & 1) << {2 * b})")
        terms.append(f"(((({y_expr}) >> {b}) & 1) << {2 * b + 1})")
    return "(" + " + ".join(terms) + ")"
