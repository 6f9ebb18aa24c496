"""Ingest-side file/reference security predicates (SURVEY §2.2 P10).

The reference gates uploads with an extension allowlist, a dangerous-
extension blocklist, and suspicious-pattern scans (reference
validators.py:24-131, security.py:22-205).  Spark-side these are pure
Column predicates applied at the ingest boundary — pushdown-friendly
filters, not a service.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ALLOWED_EXTENSIONS = ("pdf", "docx", "txt", "csv", "png", "jpg", "mp4", "wav", "mp3")
DANGEROUS_EXTENSIONS = ("exe", "sh", "bat", "cmd", "js", "jar", "dll", "so")
#: path traversal + encoded traversal + null-byte probe markers; raw null
#: bytes are screened at the binary-ingest layer, not in reference strings
SUSPICIOUS_PATTERN = r"(\.\.|%00|%2e%2e)"


def ext_expr(col: str) -> str:
    return f"lower(regexp_extract({col}, '\\\\.([A-Za-z0-9]+)$', 1))"


def classify_refs(df: DataFrame, ref_col: str = "media_ref") -> DataFrame:
    """Add (ext, is_allowed, is_dangerous, is_suspicious, accepted)."""
    ext = F.expr(ext_expr(ref_col))
    allowed = ext.isin(*ALLOWED_EXTENSIONS)
    dangerous = ext.isin(*DANGEROUS_EXTENSIONS)
    suspicious = F.col(ref_col).rlike(SUSPICIOUS_PATTERN)
    return df.select(
        "*",
        ext.alias("ext"),
        allowed.alias("is_allowed"),
        dangerous.alias("is_dangerous"),
        suspicious.alias("is_suspicious"),
    ).withColumn(
        "accepted",
        F.col("is_allowed") & ~F.col("is_dangerous") & ~F.col("is_suspicious"),
    )
