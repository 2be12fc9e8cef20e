"""Portable JSON number encoding.

Reference semantics (/root/reference/message.go:12-41): unsigned integers
serialize as bare JSON numbers when <= 2^53-1 (exactly representable in an
IEEE double, so any JSON consumer round-trips them losslessly) and as decimal
*strings* above that. This is a per-VALUE decision, so the output column is
a JSON-literal STRING fragment, not a typed numeric column — the typed schema
keeps the numeric column; encoding happens only at JSON assembly time
(SURVEY.md §7 "portable-number typing").

There is one Spark form, :func:`portable_uint_spark_sql`, and it is Spark
SQL text: the envelope encoder (functions/json_codec.py) embeds it 23 times
in one ``F.expr``, which parses JVM-side instead of assembling hundreds of
Column nodes over py4j. :func:`portable_uint_sql` is the DuckDB twin the
oracles use. Both are CASE expressions — whole-stage codegen, no Python.
"""

from __future__ import annotations

#: 2^53 - 1 (message.go:12)
MAX_PORTABLE_JSON_INT = 9007199254740991


def portable_uint_sql(expr: str) -> str:
    """The encoding as ANSI/DuckDB SQL text, for oracle parity.

    ``expr`` must be an integer-typed SQL expression (BIGINT/HUGEINT).
    """
    return (
        f"CASE WHEN {expr} IS NULL THEN 'null' "
        f"WHEN {expr} > 9007199254740991 THEN '\"' || CAST({expr} AS VARCHAR) || '\"' "
        f"ELSE CAST({expr} AS VARCHAR) END"
    )


def portable_uint_spark_sql(expr: str, *, from_strings: bool = False) -> str:
    """The encoding as Spark SQL text: ``123`` when the value is <= 2^53-1,
    ``"123"`` above, JSON ``null`` for NULL.

    ``expr`` is an unsigned integer expression (long or decimal). With
    ``from_strings=True`` it is a canonical-digit STRING instead — the
    lossless u128 path, since DECIMAL(38,0) cannot hold the full 39-digit
    u128 range (SURVEY.md §7 "u128 fidelity"). That rule branches on digit
    count: 2^53-1 has 16 digits, so more than 16 is always above it, fewer
    always at or below, and 16 digits fit a BIGINT for an exact compare.
    """
    if from_strings:
        quoted = f"concat('\"', {expr}, '\"')"
        return (
            f"CASE WHEN {expr} IS NULL THEN 'null' "
            f"WHEN length({expr}) > 16 THEN {quoted} "
            f"WHEN length({expr}) = 16 AND CAST({expr} AS BIGINT) > "
            f"{MAX_PORTABLE_JSON_INT} THEN {quoted} "
            f"ELSE {expr} END"
        )
    digits = f"CAST(CAST({expr} AS DECIMAL(38,0)) AS STRING)"
    return (
        f"CASE WHEN {expr} IS NULL THEN 'null' "
        f"WHEN {expr} > {MAX_PORTABLE_JSON_INT} "
        f"THEN concat('\"', {digits}, '\"') "
        f"ELSE {digits} END"
    )
