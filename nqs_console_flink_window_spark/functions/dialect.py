"""Two-dialect SQL rendering helpers.

The correctness contract of this repo is "the engine's Spark plan and the
DuckDB oracle compute identical values".  Most expressions are plain ANSI and
run verbatim on both; the few spots where the engines name primitives
differently (array functions, hex->int conversion, bit shifts) are
centralized here so every extension operator renders from one template.

Verified equivalences (tests/test_extensions.py::test_dialect_md5_int_parity
and ::test_dialect_bitops_and_hash_parity):
- ``md5_int``: 60-bit integer from the first 15 hex chars of md5 — Spark
  ``conv(...,16,10)`` == DuckDB ``CAST('0x'||... AS BIGINT)``.
- ``bit_count``, ``octet_length``, ``sha256`` hex: identical.
- float->decimal must go through DOUBLE first (DuckDB's float->decimal cast
  is lossy).
"""

from __future__ import annotations

SPARK = "spark"
DUCK = "duck"


def split_tokens(d: str, text: str) -> str:
    fn = "split" if d == SPARK else "string_split"
    return f"{fn}({text}, ' ')"


def arr_size(d: str, arr: str) -> str:
    return f"size({arr})" if d == SPARK else f"len({arr})"


def arr_filter(d: str, arr: str, lam: str) -> str:
    fn = "filter" if d == SPARK else "list_filter"
    return f"{fn}({arr}, {lam})"


def arr_transform(d: str, arr: str, lam: str) -> str:
    fn = "transform" if d == SPARK else "list_transform"
    return f"{fn}({arr}, {lam})"


def arr_distinct(d: str, arr: str) -> str:
    fn = "array_distinct" if d == SPARK else "list_distinct"
    return f"{fn}({arr})"


def arr_sum_bigint(d: str, arr: str) -> str:
    """Exact integer sum of a bigint array."""
    if d == SPARK:
        return f"aggregate({arr}, CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    return f"CAST(list_sum({arr}) AS BIGINT)"


def md5_int(d: str, expr: str) -> str:
    """Deterministic 60-bit non-negative integer hash of a string expr."""
    if d == SPARK:
        return f"CAST(conv(substr(md5({expr}), 1, 15), 16, 10) AS BIGINT)"
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


def shiftleft(d: str, one: str, bits: str) -> str:
    if d == SPARK:
        return f"shiftleft(CAST({one} AS BIGINT), CAST({bits} AS INT))"
    return f"(CAST({one} AS BIGINT) << ({bits}))"


def sha256_hex(d: str, expr: str) -> str:
    if d == SPARK:
        return f"sha2(CAST({expr} AS BINARY), 256)"
    return f"sha256({expr})"


def fround(expr: str, digits: int) -> str:
    """Cross-engine-identical half-up rounding for non-negative-ish doubles.

    Engine ``ROUND(double, n)`` is a tie hazard: Spark rounds the double's
    shortest decimal repr (Java BigDecimal HALF_UP), DuckDB rounds the
    binary value — a double whose shortest repr ends exactly in 5 at digit
    n+1 diverges by 10^-n.  ``floor(x * 10^n + 0.5) / 10^n`` is pure IEEE
    arithmetic, bit-identical on both engines (dialect-free).  Delta vs the
    reference's Java rounding only at those same pathological ties — within
    the documented round tolerance (SURVEY §7.4 risk 1).
    """
    # Exponent-form literal: Spark parses plain decimal literals (``10000.0``)
    # as DECIMAL (so BIGINT/DECIMAL division poisons the output column to
    # decimal(27,6) while DuckDB returns DOUBLE — bit-identical values, but a
    # value-hash gate sees Decimal != float64).  ``1.0E4`` parses as DOUBLE on
    # both engines.
    scale = f"1.0E{digits}"
    return f"(floor(({expr}) * {scale} + 0.5) / {scale})"


def xor(d: str, a: str, b: str) -> str:
    """Bitwise XOR — Spark spells it ``^``; in DuckDB ``^`` is POWER."""
    if d == SPARK:
        return f"({a} ^ {b})"
    return f"xor({a}, {b})"


def positions_from(d: str, table_expr: str, cols: str, n: str, step: int = 1) -> str:
    """Subquery yielding ``cols`` plus a per-row position column ``i`` =
    1, 1+step, ... <= n.  Spark: LATERAL VIEW explode(sequence);
    DuckDB 1.0: unnest(range(...)) in the SELECT list (its generate_series
    cannot take lateral column bounds)."""
    if d == SPARK:
        return (
            f"(SELECT {cols}, i FROM {table_expr} "
            f"LATERAL VIEW explode(sequence(1, greatest({n}, 1), {step})) g AS i)"
        )
    return (
        f"(SELECT {cols}, unnest(range(1, greatest({n}, 1) + 1, {step})) AS i "
        f"FROM {table_expr})"
    )


def explode_tokens(d: str, arr: str) -> str:
    """Array-to-rows generator usable in a SELECT list: Spark ``explode``
    (single generator per projection) == DuckDB ``unnest``."""
    return f"explode({arr})" if d == SPARK else f"unnest({arr})"


def idiv(d: str, a: str, b: str) -> str:
    """Exact floor integer division of nonnegative integers.  Plain ``/`` is
    true division on BOTH engines, and the follow-up CAST(double AS BIGINT)
    diverges: Spark truncates, DuckDB rounds half-even.  Spark ``DIV`` ==
    DuckDB ``//`` (both integer-exact, no double round-trip)."""
    if d == SPARK:
        return f"(({a}) DIV ({b}))"
    return f"(({a}) // ({b}))"


def regex_replace_all(d: str, expr: str, pattern: str, repl: str) -> str:
    """Replace every match.  Spark's regexp_replace is global by default;
    DuckDB needs the 'g' flag.  Patterns must stay backslash-free (use
    [0-9]-style classes, never \\d): Spark SQL literals consume one level
    of backslash escaping, DuckDB literals do not, so any backslash renders
    differently on the two engines."""
    if d == SPARK:
        return f"regexp_replace({expr}, '{pattern}', '{repl}')"
    return f"regexp_replace({expr}, '{pattern}', '{repl}', 'g')"


def regex_count(d: str, expr: str, pattern: str) -> str:
    """Count of non-overlapping matches (same backslash-free rule)."""
    inner = f"regexp_extract_all({expr}, '{pattern}', 0)"
    return f"size({inner})" if d == SPARK else f"len({inner})"


def arr_slice(d: str, arr: str, start: str, length: int) -> str:
    """1-based subarray of ``length`` elements (clamped at the array end).
    Spark ``slice(arr, start, len)`` == DuckDB ``list_slice(arr, start,
    start+len-1)`` (DuckDB's end index is inclusive and self-clamping).
    Requires ``length >= 1``: at 0 Spark yields an empty array but DuckDB's
    inverted-bounds list_slice yields NULL."""
    assert length >= 1
    if d == SPARK:
        return f"slice({arr}, {start}, {length})"
    return f"list_slice({arr}, {start}, ({start}) + {length - 1})"


def arr_join(d: str, arr: str, sep: str = " ") -> str:
    """Concatenate a string array: Spark ``array_join`` == DuckDB
    ``array_to_string`` (both skip NULL elements)."""
    fn = "array_join" if d == SPARK else "array_to_string"
    return f"{fn}({arr}, '{sep}')"


def ordered_join(d: str, val: str, order: str, sep: str = " ") -> str:
    """Order-sensitive string aggregation of ``val`` by ``order`` within a
    GROUP BY, skipping NULL ``val`` rows (so a CASE-gated ``val`` doubles as
    a filter).  DuckDB: ``string_agg(... ORDER BY ...)``.  Spark: collect
    (order, val) structs — NULL-gated at the STRUCT level, since
    ``collect_list`` skips NULL structs but keeps structs with NULL fields —
    sort by the unique order key, project, join.  Aggregation order never
    leaks: ``array_sort`` canonicalizes whatever arrival order the shuffle
    produced."""
    if d == SPARK:
        structs = (
            f"collect_list(CASE WHEN {val} IS NOT NULL THEN "
            f"named_struct('o', {order}, 'v', {val}) END)"
        )
        return f"array_join(transform(array_sort({structs}), x -> x.v), '{sep}')"
    return f"string_agg({val}, '{sep}' ORDER BY {order})"


def explode_range(d: str, table_expr: str, cols: str, lo: str, hi: str, alias: str = "w") -> str:
    """Subquery yielding ``cols`` plus one row per integer ``alias`` in
    [lo, hi] (inclusive; lo <= hi must hold).  Spark: LATERAL VIEW
    explode(sequence); DuckDB: unnest(range) in the SELECT list."""
    if d == SPARK:
        return (
            f"(SELECT {cols}, {alias} FROM {table_expr} "
            f"LATERAL VIEW explode(sequence({lo}, {hi})) g AS {alias})"
        )
    return (
        f"(SELECT {cols}, unnest(range({lo}, ({hi}) + 1)) AS {alias} "
        f"FROM {table_expr})"
    )


def json_int(d: str, col: str, key: str) -> str:
    """Integer field from a JSON-string column: Spark ``get_json_object``
    == DuckDB ``->>`` (both NULL-safe on missing keys / bad JSON)."""
    if d == SPARK:
        return f"CAST(get_json_object({col}, '$.{key}') AS BIGINT)"
    return f"CAST({col}->>'$.{key}' AS BIGINT)"
