"""PII / pattern scrubbing — curation-time redaction of document text.

Training corpora redact emails, URLs, phone-like numbers, and IP addresses before the
text reaches a tokenizer. All narrow `regexp_replace` chains inside
whole-stage codegen — zero shuffles, no Python; at 100 TB this runs at
scan speed as part of the prep pipeline.

Pattern discipline: the email/URL patterns use ASCII-only character
classes, so Java (Spark) and RE2 (DuckDB) agree and the scrub is
oracle-differentiable against DuckDB (tests/test_scrub.py).
Order matters and is fixed: emails before URLs would leave the scheme
of mailto-like strings — URLs are replaced first, then emails (an email
inside a URL's query string is already gone), then IPs, then phones
(longest-spanning patterns first within each family).

Reference provenance: no analog (the reference has no text-curation
surface); extends SURVEY.md §2.3 text analysis.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# identical to queries/text.py (Java/RE2-parity pinned there)
URL_RE = r"https?://[^\s]+"
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
# both-engine-safe subsets (no lookaround — RE2 has none)
IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\+?\d{1,3}[-. ]\d{2,4}[-. ]\d{3,4}[-. ]\d{3,4}\b"

DEFAULT_RULES: tuple[tuple[str, str], ...] = (
    (URL_RE, "<URL>"),
    (EMAIL_RE, "<EMAIL>"),
    (IP_RE, "<IP>"),
    (PHONE_RE, "<PHONE>"),
)


def scrub_text(col: Column | str,
               rules: tuple[tuple[str, str], ...] = DEFAULT_RULES) -> Column:
    """Apply the redaction chain to a text column — one codegen
    expression, rule order preserved."""
    out = F.col(col) if isinstance(col, str) else col
    for pattern, token in rules:
        out = F.regexp_replace(out, pattern, token)
    return out


def scrub_report(col: Column | str,
                 rules: tuple[tuple[str, str], ...] = DEFAULT_RULES
                 ) -> list[Column]:
    """Per-rule replacement counters (audit columns a pipeline logs
    next to the scrub): count BEFORE scrubbing, per family, so the
    report matches what scrub_text removes."""
    base = F.col(col) if isinstance(col, str) else col
    cols = []
    remaining = base
    for pattern, token in rules:
        name = token.strip("<>").lower()
        cols.append(F.regexp_count(remaining, F.lit(pattern))
                    .cast("bigint").alias(f"n_{name}"))
        # count on the progressively-scrubbed text so overlapping
        # families (emails inside URLs) are attributed once, in rule
        # order — mirroring exactly what scrub_text replaces
        remaining = F.regexp_replace(remaining, pattern, token)
    return cols
