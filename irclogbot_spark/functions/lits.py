"""Constant-table literals built as ONE parsed SQL expression.

Building a k x d literal table out of F.lit/F.array calls costs one
py4j round-trip PER ELEMENT — a 16x64 centroid table is ~1k JVM
calls, and emb_pq_topk's plan construction alone measured 4-10 s of
driver time (execute: <1 s). F.expr ships the whole table as one
string and parses it JVM-side in milliseconds.

Exactness: doubles are emitted as repr() (shortest round-trip form)
with the 'D' suffix — Spark's lexer hands that to Double.parseDouble,
which inverts repr exactly, so the parsed plan constant is
bit-identical to the Python float (the same guarantee the oracles
get from e-notation literals in DuckDB).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def sql_double(x: float) -> str:
    return repr(float(x)) + "D"


def lit_double_matrix(rows: list[list[float]]) -> Column:
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(sql_double(x) for x in r) + ")" for r in rows
        )
        + ")"
    )


def lit_long_array(vals: list[int]) -> Column:
    return F.expr("array(" + ",".join(f"{int(v)}L" for v in vals) + ")")


def lit_long_matrix(rows: list[list[int]]) -> Column:
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(f"{int(v)}L" for v in r) + ")" for r in rows
        )
        + ")"
    )


def sql_string(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def lit_string_int_map(pairs: list[tuple[str, int]]) -> Column:
    """map<string,int> as one parsed expression — the broadcast-free
    lookup table for bounded vocabularies."""
    if not pairs:
        return F.expr("map()").cast("map<string,int>")
    body = ",".join(f"{sql_string(t)},{int(v)}" for t, v in pairs)
    return F.expr(f"map({body})")
