"""Cross-engine deterministic hashing helpers.

MinHash and the seeded samplers need hash functions that produce IDENTICAL
values in Spark and in the DuckDB oracle.  ``xxhash64``/``hash`` differ
between engines, so we derive 60-bit integers from md5 hex (stable
everywhere):

    Spark : cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint)
    DuckDB: ('0x' || substr(md5(s), 1, 15))::BIGINT

15 hex chars = 60 bits → always positive, no bigint overflow under ANSI.
"""

from __future__ import annotations


def spark_md5_60(expr: str) -> str:
    return f"cast(conv(substring(md5({expr}), 1, 15), 16, 10) as bigint)"


def duckdb_md5_60(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def seeded(expr: str, seed: int | str, dialect: str) -> str:
    """Hash of ``'<seed>|' || expr`` — family of independent hash functions."""
    salted = f"concat('{seed}', '|', {expr})"
    return spark_md5_60(salted) if dialect == "spark" else duckdb_md5_60(salted)


#: Mersenne prime 2^31 - 1 for the universal-hash MinHash family.
MERSENNE31 = 2147483647


def _uh_coeffs(seed: int) -> tuple[int, int]:
    """Deterministic (a, b) pair for seed — a is odd and nonzero mod p.

    The oddness nudge re-reduces mod p: if the raw a is p-1 (even), a+1
    would equal p ≡ 0 — a degenerate constant hash silently collapsing that
    MinHash slot.  ``% MERSENNE31 or 1`` maps that single case to 1 and
    leaves every other seed's coefficients bit-identical."""
    a = (1103515245 * (seed + 1) + 12345) % MERSENNE31
    if a % 2 == 0:
        a = (a + 1) % MERSENNE31 or 1
    b = (69069 * (seed + 1) + 1) % MERSENNE31
    return a, b


def minhash_derived(base_expr: str, seed: int) -> str:
    """Universal-hash derivation ``(a * (h % p) + b) % p`` from ONE base
    md5-60 hash — dialect-free integer arithmetic (identical in Spark SQL and
    DuckDB), so a whole MinHash family costs one md5 per shingle instead of
    ``num_hashes`` md5s.  All intermediates fit signed 64-bit:
    a < 2^31, h % p < 2^31 ⇒ product < 2^62."""
    a, b = _uh_coeffs(seed)
    return f"(({a} * ({base_expr} % {MERSENNE31}) + {b}) % {MERSENNE31})"
