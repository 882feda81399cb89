"""Regex-NER patterns (P10) — the reference's pre-lexicon tagging pass.

The reference ships ~12 PII/entity regexes applied IN ORDER so later
patterns cannot fire inside spans an earlier pattern claimed (e.g. a
DATE inside a DOMAIN_NAME): ontology_builder_data.py:23-43. These are
clean-room commodity patterns for the same classes, written to the
COMMON subset of Java regex (Spark) and RE2 (DuckDB/ripgrep): no
lookahead/lookbehind, no backreferences — so the same strings drive
both the Spark operator and the correctness oracle.

Order matters and is part of the contract: DOMAIN/EMAIL first, then
temporal, numeric-ID, and address classes.
"""

from __future__ import annotations

# (label, pattern) in priority order. RE2-safe: verified by DuckDB at
# test time (the oracle compiles every one of these).
NER_REGEXES: list[tuple[str, str]] = [
    ("DOMAIN_NAME", r"(?:https?://|www\.)[^\s,;]+"),
    ("EMAIL_ADDRESS", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("DATE", r"\d{4}-\d{2}-\d{2}|\d{1,2}[/.]\d{1,2}[/.]\d{2,4}"),
    ("TIME", r"\d{1,2}:\d{2}(?::\d{2})?(?: ?[apAP]\.?[mM]\.?)?"),
    ("IP_ADDRESS", r"\b(?:\d{1,3}\.){3}\d{1,3}\b"),
    ("PHONE_NUMBER", r"\+\d{1,3}[-. ]?\(?\d{2,3}\)?[-. ]?\d{3}[-. ]?\d{3,4}"
                     r"|\(\d{3}\) ?\d{3}[-.]\d{4}|\b\d{3}[-.]\d{3}[-.]\d{4}\b"),
    ("PRICE", r"[$]\s?\d{1,3}(?:,\d{3})*(?:\.\d{1,2})?"),
    ("CREDIT_CARD", r"\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b"),
    ("GOVT_ID", r"\b\d{3}-\d{2}-\d{4}\b"),
    ("STREET_ADDRESS", r"\b[Pp]\.? ?[Oo]\.? ?Box \d+|\b\d{5}(?:-\d{4})?\b"),
    ("ICD_CODE", r"\b[A-TV-Z]\d{2}\.\d{1,4}\b"),
]


def _sql_pattern(pat: str, dialect: str) -> str:
    """Escape a pattern for a single-quoted SQL literal. Spark SQL
    processes backslash escapes inside string literals (so backslashes
    double); DuckDB follows standard SQL (backslash is literal)."""
    if dialect != "duckdb":
        pat = pat.replace("\\", "\\\\")
    return pat.replace("'", "''")


def _masked_sql(text_expr: str, upto: int, dialect: str) -> str:
    """SQL string for the text with patterns 0..upto-1 masked out."""
    cur = text_expr
    for label, pat in NER_REGEXES[:upto]:
        p = _sql_pattern(pat, dialect)
        if dialect == "duckdb":
            cur = f"regexp_replace({cur}, '{p}', ' ', 'g')"
        else:
            cur = f"regexp_replace({cur}, '{p}', ' ')"
    return cur


def redact_sql(dialect: str, text_expr: str = "text") -> str:
    """SQL expression replacing every pattern's matches with a
    ``<LABEL>`` token, applied in priority order (earlier patterns
    claim their spans first — same sequential rule as the NER pass).
    Replacement tokens contain no digits or regex-active chars, so no
    later pattern can fire inside one. Same constants render both
    dialects, so the redaction operator and its oracle cannot drift."""
    cur = text_expr
    for label, pat in NER_REGEXES:
        p = _sql_pattern(pat, dialect)
        if dialect == "duckdb":
            cur = f"regexp_replace({cur}, '{p}', '<{label}>', 'g')"
        else:
            cur = f"regexp_replace({cur}, '{p}', '<{label}>')"
    return cur


def regex_ner_counts_sql(dialect: str, table: str = "documents") -> str:
    """Counts per label over ``table`` — the SAME pattern constants
    rendered for Spark SQL or DuckDB (string-literal escaping, the
    regexp_replace global flag, list-length spelling, and the
    extract-all group default are the only dialect splits), so the
    operator and its oracle cannot drift."""
    size_fn = "len" if dialect == "duckdb" else "size"
    grp = "" if dialect == "duckdb" else ", 0"  # full match (Spark defaults to group 1)
    selects = []
    for i, (label, pat) in enumerate(NER_REGEXES):
        p = _sql_pattern(pat, dialect)
        masked = _masked_sql("text", i, dialect)
        selects.append(
            f"SELECT '{label}' AS label,"
            f" CAST(COALESCE(SUM({size_fn}(regexp_extract_all({masked}, '{p}'{grp}))), 0)"
            f" AS BIGINT) AS n_matches FROM {table}"
        )
    return "\nUNION ALL\n".join(selects)
