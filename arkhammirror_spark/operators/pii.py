"""PII detection — pure column expressions, Luhn included.

Training-data pipelines scrub personally identifiable information before
anything ships; the standard pattern families (emails, North-American
phone numbers, SSNs, IPv4 addresses, payment-card numbers) are regular —
and the one non-regular part, the Luhn checksum that separates real card
numbers from 16-digit noise, is a digit fold that compiles to a native
`aggregate` over the candidate's characters. Nothing here leaves the JVM.

Every regex is RE2-compatible (no lookaround), so the DuckDB oracle
mirrors each pattern and the Luhn fold verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}",
    "phone": r"\b(?:\+?1[-. ]?)?\(?\d{3}\)?[-. ]?\d{3}[-. ]?\d{4}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    # candidate card numbers: 13-16 digits with optional space/dash
    # separators; Luhn decides validity
    "card": r"\b(?:\d[ \-]?){12,15}\d\b",
}


def luhn_valid(cand) -> "F.Column":
    """Luhn checksum over a candidate string column — native fold:
    strip separators, walk digits right-to-left, double every second,
    subtract 9 when the double exceeds 9, valid iff sum % 10 == 0."""
    clean = F.regexp_replace(cand, r"[^0-9]", "")
    rev = F.split(F.reverse(clean), "")
    term = lambda i: (  # noqa: E731
        F.when(
            F.pmod(i, F.lit(2)) == 0,
            F.when(
                F.element_at(rev, i).cast("int") * 2 > 9,
                F.element_at(rev, i).cast("int") * 2 - 9,
            ).otherwise(F.element_at(rev, i).cast("int") * 2),
        ).otherwise(F.element_at(rev, i).cast("int"))
    )
    total = F.aggregate(
        F.sequence(F.lit(1), F.length(clean)),
        F.lit(0),
        lambda acc, i: acc + term(i),
    )
    return (F.length(clean) >= 13) & (F.pmod(total, F.lit(10)) == 0)


def detect_pii(df: DataFrame) -> DataFrame:
    """Per-document PII counts of (doc_id, text) rows: (doc_id, n_email,
    n_phone, n_ssn, n_ipv4, n_card_valid, has_pii). Card candidates only
    count when Luhn-valid."""
    text = F.col("text")

    def n_matches(pat: str):
        return F.size(F.regexp_extract_all(text, F.lit(pat), F.lit(0))).cast("long")

    cards = F.regexp_extract_all(text, F.lit(PII_PATTERNS["card"]), F.lit(0))
    n_card_valid = F.size(F.filter(cards, luhn_valid)).cast("long")
    out = df.select(
        "doc_id",
        n_matches(PII_PATTERNS["email"]).alias("n_email"),
        n_matches(PII_PATTERNS["phone"]).alias("n_phone"),
        n_matches(PII_PATTERNS["ssn"]).alias("n_ssn"),
        n_matches(PII_PATTERNS["ipv4"]).alias("n_ipv4"),
        n_card_valid.alias("n_card_valid"),
    )
    return out.withColumn(
        "has_pii",
        (F.col("n_email") + F.col("n_phone") + F.col("n_ssn")
         + F.col("n_ipv4") + F.col("n_card_valid")) > 0,
    )
