"""The per-document quality gate of the curation funnel.

:func:`quality_filter` scores every document against Gopher/C4-style rules
before dedup and extraction, over the whitespace tokenizer
:data:`TOKENS_EXPR`.
Everything is built-in Spark SQL functions (JVM-side, codegen'd, no UDFs),
and arithmetic avoids transcendentals so the DuckDB oracle reproduces values
bit-for-bit (integer counts + IEEE division only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: the English function words the ``no_stop_words`` rule counts.
#: Deliberately small + fixed: the rule is deterministic scoring, not
#: linguistic accuracy.
EN_STOP_WORDS = ("the", "and", "of", "is", "a")

TOKENS_EXPR = "filter(split(text, ' '), t -> t != '')"
PUNCT_EXPR = "length(text) - length(regexp_replace(text, '[.!?,;:]', ''))"

#: rule names in fixed evaluation order — shared with the DuckDB oracle so
#: the composed fail_reasons string is byte-identical across engines.
QUALITY_RULES = (
    "too_few_tokens",
    "too_many_tokens",
    "short_words",
    "long_words",
    "symbol_heavy",
    "repetitive",
    "no_stop_words",
)


def quality_filter(
    documents: DataFrame,
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_unique_ratio: float = 0.3,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher/C4-style composite quality gate: per-document rule verdicts
    with named reasons, the first stage of the curation funnel.

    Rules (defaults follow Rae et al. 2021 "Gopher" §A.1.1 and the C4
    heuristics, adapted to rational arithmetic so the DuckDB oracle
    reproduces verdicts bit-for-bit): token-count window, mean word length
    window, symbol-to-token ratio cap, unique-token (repetition) floor, and
    a minimum English stop-word hit count.

    Output: (doc_id, n_tokens, mean_word_len, symbol_ratio, unique_ratio,
    stop_hits, passes, fail_reasons) — ``fail_reasons`` is the
    comma-joined QUALITY_RULES subset that fired, '' when the doc passes.
    Pure projection: no shuffle, no UDF, whole-stage codegen end-to-end.
    """
    in_list = ", ".join(f"'{w}'" for w in EN_STOP_WORDS)
    t = documents.select(
        "doc_id",
        F.expr(f"size({TOKENS_EXPR})").cast("long").alias("n_tokens"),
        F.expr(f"length(array_join({TOKENS_EXPR}, ''))").cast("long").alias("token_chars"),
        F.expr(f"size(array_distinct({TOKENS_EXPR}))").cast("long").alias("uniq"),
        F.expr(PUNCT_EXPR).cast("long").alias("punct"),
        F.expr(f"size(filter({TOKENS_EXPR}, t -> t IN ({in_list})))")
        .cast("long")
        .alias("stop_hits"),
    ).where(F.col("n_tokens") > 0)
    mean_wl = F.col("token_chars") / F.col("n_tokens")
    sym = F.col("punct") / F.col("n_tokens")
    uniqr = F.col("uniq") / F.col("n_tokens")
    conds = {
        "too_few_tokens": F.col("n_tokens") < F.lit(min_tokens),
        "too_many_tokens": F.col("n_tokens") > F.lit(max_tokens),
        "short_words": mean_wl < F.lit(min_mean_word_len),
        "long_words": mean_wl > F.lit(max_mean_word_len),
        "symbol_heavy": sym > F.lit(max_symbol_ratio),
        "repetitive": uniqr < F.lit(min_unique_ratio),
        "no_stop_words": F.col("stop_hits") < F.lit(min_stop_hits),
    }
    reasons = F.concat_ws(
        ",",
        F.array_compact(
            F.array(*[F.when(conds[name], F.lit(name)) for name in QUALITY_RULES])
        ),
    )
    return t.select(
        "doc_id",
        "n_tokens",
        mean_wl.alias("mean_word_len"),
        sym.alias("symbol_ratio"),
        uniqr.alias("unique_ratio"),
        "stop_hits",
        (reasons == F.lit("")).alias("passes"),
        reasons.alias("fail_reasons"),
    )
