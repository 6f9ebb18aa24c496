"""Mergeable cardinality sketches — deterministic HyperLogLog registers.

Distinct-count sketching is the canonical "custom operator Spark lacks as a
composable primitive" (approx_count_distinct exists but its HLL++ state is
opaque JVM internals — not mergeable across engines, not replayable by an
oracle).  This module builds the REGISTER TABLE itself with engine-neutral
arithmetic, which is what a 100 TB pipeline actually stores and merges:

- hash: md5-60 (kgx.functions.hashing) — identical in Spark and DuckDB;
- bucket: low ``log2(m)`` bits; rho: leading-zero rank of the remaining
  bits, computed via ``length(bin(x))`` (same semantics both engines,
  parity-pinned in tests);
- register: ``max(rho)`` per bucket — a fully MERGEABLE aggregate: the
  sketch of a union is the element-wise max of the parts' sketches (the
  shard-manifest checksum stance applied to cardinality).

The float ESTIMATOR stays out of the oracle-checked surface (its power-sum
is order-sensitive by nature); :func:`estimate_cardinality` applies the
standard HLL formula with small-range correction driver-side over the
m-row register table.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgx.functions.hashing import spark_md5_60

#: md5-60 hashes carry 60 usable bits.
HASH_BITS = 60


def hll_registers(df: DataFrame, col_expr: str, m: int = 64) -> DataFrame:
    """(any rows) → (bucket, max_rho): the m-register HLL sketch of the
    distinct values of ``col_expr``.

    One map-side-combined groupBy over m keys — the shuffle carries at most
    ``partitions × m`` pre-combined rows regardless of corpus size, and the
    output is m tiny rows an incremental job can merge with element-wise
    ``max`` (see tests/test_sketches.py merge law).
    """
    return _hll(df, col_expr, m, group_col=None)


def _hll(
    df: DataFrame, col_expr: str, m: int, group_col: str | None
) -> DataFrame:
    """The m-register HLL body: (bucket, max_rho), or (grp, bucket,
    max_rho) per ``group_col`` value.  A register's rank rho is the
    1-based position of the first set bit of the hash bits left after the
    bucket bits."""
    if m & (m - 1) or m < 2:
        raise ValueError("m must be a power of two >= 2")
    b = m.bit_length() - 1
    w = HASH_BITS - b
    h = spark_md5_60(col_expr)
    grp = [] if group_col is None else [f"{group_col} AS grp"]
    keys = [] if group_col is None else ["grp"]
    return (
        df.selectExpr(
            *grp,
            f"cast({h} % {m} as bigint) AS bucket",
            f"cast({h} DIV {m} as bigint) AS rest",
        )
        .selectExpr(
            *keys,
            "bucket",
            f"cast(CASE WHEN rest = 0 THEN {w + 1} "
            f"ELSE {w} - length(bin(rest)) + 1 END as bigint) AS rho",
        )
        .groupBy(*keys, "bucket")
        .agg(F.max("rho").alias("max_rho"))
    )


def estimate_cardinality(registers: list[tuple[int, int]], m: int = 64) -> float:
    """Standard HLL estimate with small-range (linear counting) correction.
    ``registers`` = collected (bucket, max_rho) rows; absent buckets count
    as zero registers."""
    filled = {int(b): int(r) for b, r in registers}
    alpha = 0.7213 / (1 + 1.079 / m) if m >= 128 else {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1 + 1.079 / m))
    power_sum = sum(2.0 ** -filled.get(j, 0) for j in range(m))
    est = alpha * m * m / power_sum
    zeros = sum(1 for j in range(m) if filled.get(j, 0) == 0)
    if est <= 2.5 * m and zeros:
        return m * math.log(m / zeros)
    return est


def cm_registers(
    df: DataFrame, col_expr: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """(any rows) → (d, col, cnt): the depth × width COUNT-MIN sketch of
    the multiset of ``col_expr`` values — the frequency-sketch sibling of
    :func:`hll_registers` (same engine-neutral arithmetic stance, same
    mergeability contract: the sketch of a union is the element-wise SUM
    of the parts' counters; see tests/test_sketches.py merge law).

    Row ``d`` of the matrix uses the universal-hash family
    (kgx.functions.hashing.minhash_derived, seed d) over ONE shared md5-60
    base hash, so the whole depth costs one md5 per row — and DuckDB
    replays the identical ``(a_d * (h % p) + b_d) % p % width`` chain.

    One map-side-combined groupBy over at most depth × width keys: the
    shuffle carries ≤ partitions × depth × width pre-combined rows
    regardless of corpus size, and the output is a tiny counter table an
    incremental job merges with ``sum`` — what a 100 TB heavy-hitters
    pass actually stores.
    """
    from kgx.functions.hashing import minhash_derived

    if depth < 1 or width < 2:
        raise ValueError(f"bad sketch shape {depth}x{width}")
    h = spark_md5_60(col_expr)
    cells = ", ".join(
        f"named_struct('d', cast({d} as bigint), "
        f"'col', cast(({minhash_derived('h0', d)}) % {width} as bigint))"
        for d in range(depth)
    )
    return (
        df.selectExpr(f"cast({h} as bigint) AS h0")
        .selectExpr(f"explode(array({cells})) AS e")
        .select("e.d", "e.col")
        .groupBy("d", "col")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def estimate_count(
    registers: list[tuple[int, int, int]],
    value_hash: int,
    depth: int = 4,
    width: int = 256,
) -> int:
    """Count-min point query over collected (d, col, cnt) rows for a value
    whose md5-60 base hash is ``value_hash``: min over rows of the value's
    cell — never underestimates the true multiplicity."""
    from kgx.functions.hashing import MERSENNE31, _uh_coeffs

    filled = {(int(d), int(c)): int(n) for d, c, n in registers}
    ests = []
    for d in range(depth):
        a, b = _uh_coeffs(d)
        col = ((a * (value_hash % MERSENNE31) + b) % MERSENNE31) % width
        ests.append(filled.get((d, col), 0))
    return min(ests)


# ---------------------------------------------------------------------------
# Bloom filter — mergeable membership sketch + decontamination probe
# ---------------------------------------------------------------------------

#: Bits per register word.  32 (not 64) so the mask ``1 << bit`` never
#: touches the sign bit: DuckDB raises on ``1::BIGINT << 63`` and Spark
#: would wrap negative — 31 is the largest shift both engines agree on.
BLOOM_WORD = 32


def _bloom_pos_exprs(m_bits: int, k: int) -> list[str]:
    """k double-hashed bit positions from (h1, stride) columns —
    Kirsch-Mitzenmacher g_j = (h1 + j*stride) mod m with an ODD stride so
    the probe sequence never degenerates to a single cell.  Pure integer
    arithmetic, identical text in Spark SQL and DuckDB."""
    return [f"(h1 + {j} * stride) % {m_bits}" for j in range(k)]


def _bloom_h0_guard(expr: str) -> str:
    """Fail LOUDLY on out-of-contract hash inputs: every downstream bloom
    expression assumes a non-negative md5-60 value — a negative h0 would
    flow through Spark's sign-preserving ``%`` into a negative shiftleft
    count, whose NULL mask silently DROPS the row from the bitmap (a
    false-negative-capable filter) instead of erroring; a NULL h0 would
    NULL-propagate into the same silent drop.  ``raise_error`` turns both
    into a job failure at scan time (the message coalesces NULL so the
    diagnostic never degrades to an empty error)."""
    return (
        f"CASE WHEN ({expr}) >= 0 THEN ({expr}) ELSE "
        f"cast(raise_error(concat('bloom: negative or NULL hash value ', "
        f"coalesce(cast(({expr}) as string), 'NULL'), "
        f"' — expected non-negative md5-60')) as bigint) "
        f"END"
    )


def bloom_registers(
    df: DataFrame,
    col_expr: str,
    m_bits: int = 65536,
    k: int = 4,
    pre_hashed: bool = False,
) -> DataFrame:
    """(any rows) → (word, bits): the m-bit Bloom filter of the distinct
    values of ``col_expr``, packed 32 bits per word — the MEMBERSHIP
    sibling of :func:`hll_registers` / :func:`cm_registers` (same
    engine-neutral arithmetic, same mergeability contract: the sketch of a
    union is the element-wise ``bit_or`` of the parts' sketches; see
    tests/test_sketches.py merge law, and no-false-negative law).

    One map-side-combined groupBy over at most ``m_bits / 32`` keys: the
    shuffle carries ≤ partitions × words pre-combined rows regardless of
    corpus size, and the output is a tiny bitmap table an incremental job
    merges with ``bit_or`` — the broadcastable screen a 100 TB
    decontamination pass actually ships to every executor (kilobytes,
    where the raw benchmark shingle set could be millions of hashes).
    """
    if m_bits % BLOOM_WORD or m_bits < BLOOM_WORD:
        raise ValueError(f"m_bits must be a positive multiple of {BLOOM_WORD}")
    if k < 1:
        raise ValueError("k must be >= 1")
    h = _bloom_h0_guard(col_expr) if pre_hashed else spark_md5_60(col_expr)
    poss = ", ".join(_bloom_pos_exprs(m_bits, k))
    return (
        df.selectExpr(f"cast({h} as bigint) AS h0")
        .selectExpr(
            f"h0 % {m_bits} AS h1",
            f"2 * ((h0 DIV {m_bits}) % {m_bits}) + 1 AS stride",
        )
        .selectExpr(f"explode(array({poss})) AS pos")
        .selectExpr(
            f"cast(pos DIV {BLOOM_WORD} as bigint) AS word",
            f"shiftleft(cast(1 as bigint), cast(pos % {BLOOM_WORD} as int)) AS mask",
        )
        .groupBy("word")
        .agg(F.expr("bit_or(mask)").cast("long").alias("bits"))
    )


def bloom_probe(
    keyed: DataFrame,
    registers: DataFrame,
    m_bits: int = 65536,
    k: int = 4,
    hash_col: str = "shingle_hash",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, hash) rows × (word, bits) registers → (id, n_keys, n_flagged):
    per id, how many of its hashes the Bloom filter claims to contain
    (every true member IS flagged — no false negatives; a bounded false-
    positive rate flags some non-members, the standard Bloom trade).

    Plan shape: the k probe positions explode JVM-side, the register table
    is explicitly broadcast (≤ m_bits/32 rows), and the two aggregates are
    keyed on (id, hash) then (id) — the corpus side never shuffles
    anything wider than two bigints.
    """
    poss = ", ".join(_bloom_pos_exprs(m_bits, k))
    probes = (
        keyed.selectExpr(id_col, f"{_bloom_h0_guard(hash_col)} AS h0")
        .selectExpr(
            id_col,
            "h0",
            f"h0 % {m_bits} AS h1",
            f"2 * ((h0 DIV {m_bits}) % {m_bits}) + 1 AS stride",
        )
        .selectExpr(id_col, "h0", f"explode(array({poss})) AS pos")
        .selectExpr(
            id_col,
            "h0",
            f"cast(pos DIV {BLOOM_WORD} as bigint) AS word",
            f"shiftleft(cast(1 as bigint), cast(pos % {BLOOM_WORD} as int)) AS mask",
        )
    )
    return (
        probes.join(F.broadcast(registers), "word", "left")
        .selectExpr(
            id_col,
            "h0",
            "CASE WHEN (coalesce(bits, 0) & mask) = mask THEN 1 ELSE 0 END AS hit",
        )
        .groupBy(id_col, "h0")
        .agg(F.min("hit").alias("all_hit"))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_keys"),
            F.sum("all_hit").cast("long").alias("n_flagged"),
        )
    )


# ---------------------------------------------------------------------------
# log2 histogram — mergeable distribution sketch
# ---------------------------------------------------------------------------


def hist_registers(df: DataFrame, col_expr: str) -> DataFrame:
    """(any rows) → (bin, cnt): the log2 histogram of a non-negative
    integer expression — the DISTRIBUTION sibling of the HLL / count-min
    / Bloom registers (merge law: element-wise SUM, same as count-min).
    Bin 0 holds x <= 0; bin b >= 1 holds [2^(b-1), 2^b) via
    ``length(bin(x))`` — the same engine-neutral bit-length arithmetic
    the HLL rho uses, so DuckDB replays it bit-for-bit.

    At most 65 bins regardless of corpus size: one map-side-combined
    groupBy whose shuffle carries ≤ partitions × 65 pre-combined rows —
    the per-shard state a 100 TB monitoring pass stores to answer
    "did the value distribution drift?" and serve ±2× quantile bounds
    (:func:`estimate_quantile`) without a global sort.
    """
    return (
        df.selectExpr(
            f"cast(CASE WHEN ({col_expr}) <= 0 THEN 0 "
            f"ELSE length(bin({col_expr})) END as bigint) AS bin"
        )
        .groupBy("bin")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def estimate_quantile(
    registers: list[tuple[int, int]], q: float
) -> tuple[int, int]:
    """Bounds for the q-quantile from collected (bin, cnt) rows: the
    (lower, upper) edge of the log2 bin containing rank ceil(q * N) —
    the true quantile lies within, an at-most-2× band for b >= 1."""
    if not 0 < q <= 1:
        raise ValueError("q must be in (0, 1]")
    filled = sorted((int(b), int(c)) for b, c in registers)
    total = sum(c for _, c in filled)
    if total == 0:
        raise ValueError("empty sketch")
    rank = max(1, math.ceil(q * total))
    seen = 0
    for b, c in filled:
        seen += c
        if seen >= rank:
            return (0, 0) if b == 0 else (2 ** (b - 1), 2 ** b - 1)
    raise AssertionError("unreachable")


def cm_heavy_hitters(
    df: DataFrame,
    col_expr: str,
    threshold: int,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Heavy-hitter candidates CONSUMED from the count-min sketch
    in-engine: every distinct key whose sketch estimate (min over the
    depth rows of its cell) reaches ``threshold``, with the exact count
    beside it.  Output: (key, est_count, exact_count).

    The never-underestimate guarantee becomes data: ``est_count >=
    exact_count`` on every row, so the candidate set is a SUPERSET of the
    true heavy hitters — the two-phase pattern a 100 TB frequency pass
    runs (cheap sketch screen over everything, exact recount only for the
    tiny candidate set; here both phases are shown on one table so the
    oracle can replay the whole chain).

    Plan shape: the register table (≤ depth × width rows) is built once
    and joined BROADCAST onto the per-key derived cells; both aggregates
    are map-side-combined on bounded keys.
    """
    from kgx.functions.hashing import minhash_derived

    regs = cm_registers(df, col_expr, depth, width)
    keys = (
        df.selectExpr(f"{col_expr} AS key")
        .groupBy("key")
        .agg(F.count("*").cast("long").alias("exact_count"))
    )
    h = spark_md5_60("key")
    cells = ", ".join(
        f"named_struct('d', cast({d} as bigint), "
        f"'col', cast(({minhash_derived('h0', d)}) % {width} as bigint))"
        for d in range(depth)
    )
    return (
        keys.selectExpr("key", "exact_count", f"cast({h} as bigint) AS h0")
        .selectExpr("key", "exact_count", f"explode(array({cells})) AS e")
        .select("key", "exact_count", "e.d", "e.col")
        .join(F.broadcast(regs), ["d", "col"])
        .groupBy("key", "exact_count")
        .agg(F.min("cnt").cast("long").alias("est_count"))
        .where(F.col("est_count") >= threshold)
        .select("key", "est_count", "exact_count")
    )


def hll_registers_grouped(
    df: DataFrame, group_col: str, col_expr: str, m: int = 64
) -> DataFrame:
    """(any rows) → (group, bucket, max_rho): one HLL register sketch PER
    GROUP — the rollup shape a monitoring dashboard stores ("distinct
    users per event type per shard"): still one map-side-combined groupBy,
    now over ``groups × m`` keys, still mergeable per group with
    element-wise max (and across groups by merging their register sets —
    the union's sketch, tested in test_sketches).
    """
    return _hll(df, col_expr, m, group_col)
