"""Column-expression library (reference scalar operators X1-X23).

Everything here is a pure Catalyst column expression — zero Python UDFs
— so whole-stage codegen fuses these into the surrounding operators and
Catalyst can push/prune through them.

A second concern is *oracle portability*: the correctness gate runs each
query in both Spark and DuckDB. Functions whose results must hash-match
across engines (hashes for dedup/minhash, money aggregation) are
expressed as SQL fragments valid in BOTH dialects (`md5_int_sql`), or as
exact-integer arithmetic (`cents`), so the two engines produce
bit-identical values.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# --------------------------------------------------------------------------
# Dates & weeks (X1, X2, X4-X6; reference …user_activity.sql:11-12)
# --------------------------------------------------------------------------


def week_start(col: Column) -> Column:
    """Monday-start week bucket as DATE.

    Reference: ``DATE_TRUNC(submission_date, WEEK(MONDAY))``
    (scripts/public_data_report_user_activity.sql:11). Spark's
    ``date_trunc('week', …)`` is also Monday-start — asserted in tests,
    not assumed (SURVEY.md §7.4).
    """
    return F.date_trunc("week", col).cast("date")


def is_last_day_of_week(col: Column) -> Column:
    """Reference F6: ``EXTRACT(DAYOFWEEK FROM d) = 1`` (Sunday); Spark
    ``dayofweek`` uses the same 1=Sunday convention."""
    return F.dayofweek(col) == 1


# --------------------------------------------------------------------------
# Money / exact aggregation
# --------------------------------------------------------------------------


def cents(col: Column) -> Column:
    """Exact integer cents for a 2-decimal double measure.

    Summing doubles is order-dependent (differs between Spark partial
    aggregation and DuckDB), so any double that feeds a SUM is converted
    to exact integer cents first; ratios are a single final FP division,
    which is IEEE-deterministic given identical integer operands.

    Arithmetic form instead of ``F.round``: Spark's ``round`` routes
    every double through BigDecimal HALF_UP (2× slower in the scan hot
    path, measured); ``sign(x)*floor(|x|*100 + 0.5)`` is the same
    half-away-from-zero result for any |x*100| < 2^52 — ties only occur
    when x*100 is exactly representable (.5 is a power of two), where
    both forms round away from zero.
    """
    return (F.signum(col) * F.floor(F.abs(col) * 100 + F.lit(0.5))).cast("long")


def safe_div(num: Column, den: Column) -> Column:
    """Reference X10 ``SAFE_DIVIDE`` — NULL on zero denominator."""
    return F.try_divide(num, den)


def cosine(dot: Column | str, na: Column | str, nb: Column | str) -> Column:
    """``dot / sqrt(na * nb)`` as a DOUBLE — the cosine of two vectors
    from their dot product and squared norms. NULL when either vector
    is all zero (``safe_div``), which is DuckDB's answer for ``x / 0.0``;
    a NULL sorts last under ``desc`` in both engines and fails every
    ``>= threshold`` filter."""
    c = [F.col(x) if isinstance(x, str) else x for x in (dot, na, nb)]
    return safe_div(
        c[0].cast("double"),
        F.sqrt(c[1].cast("double") * c[2].cast("double")),
    )


# --------------------------------------------------------------------------
# Versions (X7; reference mozfun.norm.truncate_version)
# --------------------------------------------------------------------------


def major_version(col: Column) -> Column:
    """'109.0.1' → 109; NULL for unparseable versions (reference
    …user_activity.sql:145,156; try_cast because regexp_extract yields
    '' on no-match, which ANSI cast rejects)."""
    return F.regexp_extract(col, r"^(\d+)", 1).try_cast("int")


# --------------------------------------------------------------------------
# Bitfield time-series (X8, X9; reference udf.bitcount_lowest_7 /
# udf.pos_of_trailing_set_bit, …user_activity.sql:117,130-131)
# --------------------------------------------------------------------------


def bitcount_lowest_7(col: Column) -> Column:
    """Popcount of the 7 LSBs = days active in the trailing week."""
    return F.bit_count(col.bitwiseAND(F.lit(127)))


def pos_of_trailing_set_bit(col: Column) -> Column:
    """Index of lowest set bit (days since last seen / profile creation);
    NULL when no bit is set. ``bit_count((b & -b) - 1)`` with zero guard."""
    return F.when(col != 0, F.bit_count((col.bitwiseAND(-col)) - F.lit(1)))


# --------------------------------------------------------------------------
# Hardware-report mappings (X20-X22; reference hardware_report.py:87-166)
# --------------------------------------------------------------------------

# 13-entry GPU vendor-id → name map (hardware_report.py:130-144).
GPU_VENDOR_MAP = {
    "0x1013": "Cirrus Logic",
    "0x1002": "AMD",
    "0x8086": "Intel",
    "Intel Open Source Technology Center": "Intel",
    "0x5333": "S3 Graphics",
    "0x1039": "SIS",
    "0x1106": "VIA",
    "0x10de": "NVIDIA",
    "0x102b": "Matrox",
    "0x15ad": "VMWare",
    "0x80ee": "Oracle VirtualBox",
    "0x1414": "Microsoft Basic",
    "0x106b": "Apple",
}


def gpu_vendor_name(col: Column) -> Column:
    """X20: vendor-id → vendor name with 'Other' default — a literal map
    lookup (JVM-side), equivalent to a broadcast join against an 11-row
    dim."""
    mapping = F.create_map(*[F.lit(x) for kv in GPU_VENDOR_MAP.items() for x in kv])
    return F.coalesce(mapping[col], F.lit("Other"))


def os_arch(browser_arch: Column, os_col: Column, is_wow64: Column) -> Column:
    """X22 decision table (hardware_report.py:87-116) as a when-chain,
    in the reference's exact evaluation order:

    1. 64-bit browser build → x86-64
    2. Windows_NT + WOW64 → x86-64 (32-bit browser on 64-bit OS)
    3. aarch64 browser → aarch64
    4. otherwise x86
    """
    is_windows = os_col == "Windows_NT"
    return (
        F.when(browser_arch == "x86-64", F.lit("x86-64"))
        .when(is_windows & is_wow64, F.lit("x86-64"))
        .when(browser_arch == "aarch64", F.lit("aarch64"))
        .otherwise(F.lit("x86"))
    )


# --------------------------------------------------------------------------
# Portable deterministic hashes (shared Spark-SQL / DuckDB fragments)
# --------------------------------------------------------------------------

_HEX = "0123456789abcdef"


def md5_int_sql(expr: str, nibbles: int = 7) -> str:
    """SQL fragment: first `nibbles` hex chars of md5(expr) as a BIGINT.

    Valid in BOTH Spark SQL and DuckDB (md5/substr/instr are identical),
    so dedup/minhash/simhash queries hash-match the oracle exactly.
    7 nibbles = 28 bits keeps later (a*h + b) % p inside int64.

    This is the one fingerprint hash of MinHash, SimHash and
    winnowing: their outputs carry the hash, so a hash DuckDB cannot
    replay (``xxhash64``) would leave them unchecked.
    """
    terms = []
    for i in range(1, nibbles + 1):
        weight = 16 ** (nibbles - i)
        terms.append(
            f"CAST(instr('{_HEX}', substr(md5({expr}), {i}, 1)) - 1 AS BIGINT)"
            f" * {weight}"
        )
    return "(" + " + ".join(terms) + ")"


def md5_sign_sql(expr: str, dm: str) -> str:
    """DuckDB fragment: the ±1 projection sign for (token, dim) as bit
    ``dm % 4`` of hex nibble ``dm // 4`` of md5(expr) — up to 128
    signs from ONE md5 per token (vs one md5 per (token, dim) in the
    original hashproj rule; at a 64-dim fan-out that is a 64× cut in
    hash work on the embedding hot path)."""
    nib = (
        f"CAST(instr('{_HEX}', substr(md5({expr}),"
        f" CAST(({dm}) // 4 AS INT) + 1, 1)) - 1 AS BIGINT)"
    )
    return f"(1 - 2 * ((({nib}) >> CAST(({dm}) % 4 AS INT)) % 2))"


def md5_sign_spark_sql(expr: str, dm: str) -> str:
    """Spark-dialect twin of `md5_sign_sql` (conv + shiftright);
    identical values, pinned by tests."""
    return md5_sign_from_hash_spark_sql(f"md5({expr})", dm)


def md5_sign_from_hash_spark_sql(hash_expr: str, dm: str) -> str:
    """`md5_sign_spark_sql` split at the hash: callers that project
    all CAP_DIM signs of ONE token inside a `transform` lambda hoist
    ``md5(token)`` to a per-row column and pass it here — Catalyst
    evaluates lambda bodies per element, so the unhoisted form pays
    dims× md5 calls per token row (measured ~3.5 s of the caption
    embed at sf0.1). Values are identical by construction."""
    nib = (
        f"CAST(conv(substr({hash_expr},"
        f" CAST(({dm}) DIV 4 AS INT) + 1, 1), 16, 10) AS BIGINT)"
    )
    return f"(1 - 2 * (shiftright({nib}, CAST(({dm}) % 4 AS INT)) % 2))"


def md5_int_spark_sql(expr: str, nibbles: int = 7) -> str:
    """Spark-dialect fast form of `md5_int_sql`: one ``conv`` call
    instead of `nibbles` instr lookups. Produces the IDENTICAL value
    (verified in tests), so Spark plans use this while DuckDB oracles
    keep the portable fragment."""
    return f"CAST(conv(substr(md5({expr}), 1, {nibbles}), 16, 10) AS BIGINT)"


# Mersenne prime 2^31-1: universal-hash modulus for minhash permutations.
MINHASH_PRIME = 2147483647


def minhash_perm_sql(base_expr: str, a: int, b: int) -> str:
    """SQL fragment: one universal-hash permutation of a base hash value,
    ``(a*h + b) mod (2^31-1)`` — identical semantics in both dialects."""
    return f"(({a} * {base_expr} + {b}) % {MINHASH_PRIME})"


def zorder16_spark_sql(a: str, b: str) -> str:
    """Spark-SQL fragment: Z-order (Morton) key interleaving the low
    16 bits of two non-negative integer expressions — ``a`` on even
    bits, ``b`` on odd. Sorting/range-partitioning by this key gives
    2-D locality: a file range covers a TILE in (a, b) space, so
    row-group min/max stats prune selective predicates on EITHER
    column (a linear sort prunes only its leading column). Pure
    integer expression → whole-stage codegen, identical math in any
    engine. 16+16 bits fits a 32-bit key in a BIGINT."""
    terms = []
    for i in range(16):
        terms.append(f"shiftleft(shiftright({a}, {i}) & 1, {2 * i})")
        terms.append(f"shiftleft(shiftright({b}, {i}) & 1, {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def zorder16_duck_sql(a: str, b: str) -> str:
    """DuckDB twin of ``zorder16_spark_sql`` (same bit math, operator
    syntax instead of shiftleft/shiftright functions)."""
    terms = []
    for i in range(16):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"
