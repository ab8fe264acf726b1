"""PII / toxicity scrub → `caption_scrubbed` (north_rule stage).

The reference has no direct scrub implementation; its precedents for ordered
regex-rewrite operators are wrap_lines dehyphenation
(pipeline/stanza/base_pipeline.py:100-112), pdf.clean_text
(corpusama/source/pdf.py:16-33) and the drop_all translate
(corpusama/util/langid.py:73-77). This stage is a deterministic, ordered
``regexp_replace`` chain — 100% JVM expressions, no UDF, golden-tested.

Order is load-bearing and fixed: EMAIL → URL → IP → PHONE → ID → toxicity.
Emails before URLs so `mailto:`-ish text scrubs as email; IPs before phones so
dotted quads don't half-match phone digits; IDs last among PII so scrubbed
tokens aren't re-matched.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from corpusama_spark.functions.seedtext import TOXIC_TERMS

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"(?i)\b(?:https?://|www\.)[^\s<>\"]+"
IP_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
PHONE_RE = r"(?<![\w.])\+?\d[\d ()./-]{6,}\d(?![\w])"
ID_RE = r"\b[A-Z]{1,3}\d{6,9}\b"

SCRUB_CHAIN: list[tuple[str, str]] = [
    (EMAIL_RE, "<EMAIL>"),
    (URL_RE, "<URL>"),
    (IP_RE, "<IP>"),
    (PHONE_RE, "<PHONE>"),
    (ID_RE, "<ID>"),
]


def toxicity_pattern(terms: list[str] | None = None) -> str:
    terms = TOXIC_TERMS if terms is None else terms
    return r"(?i)\b(?:" + "|".join(terms) + r")\b"


def scrub_caption(col: Column | str, terms: list[str] | None = None) -> Column:
    """Apply the ordered scrub chain; NULL passes through untouched."""
    out = F.col(col) if isinstance(col, str) else col
    for pattern, token in SCRUB_CHAIN:
        out = F.regexp_replace(out, pattern, token)
    out = F.regexp_replace(out, toxicity_pattern(terms), "<TOX>")
    return out


AUDIT_NAMES = ("n_email", "n_url", "n_ip", "n_phone", "n_id")


def scrub_audit(col: Column | str, terms: list[str] | None = None) -> Column:
    """struct(scrubbed, n_email, n_url, n_ip, n_phone, n_id, n_tox): the
    scrubbed text plus per-rule hit counts — the observability row a
    PII-scrub lane owes its audit log (which rules fire, how often, per
    document; corpus rollup is a plain sum downstream).

    Counts are measured ON THE CHAIN: each category is counted on the
    text AFTER the earlier categories replaced, so the numbers are
    exactly the occurrences the chain rewrote (an email never double-
    counts as a URL). Pure JVM — the nested regexp expressions stay
    inside whole-stage codegen and Catalyst's subexpression elimination
    shares the chain prefixes across the struct fields."""
    cur = F.col(col) if isinstance(col, str) else col
    counts: list[Column] = []
    for (pattern, token), name in zip(SCRUB_CHAIN, AUDIT_NAMES):
        counts.append(
            F.regexp_count(cur, F.lit(pattern)).cast("long").alias(name)
        )
        cur = F.regexp_replace(cur, pattern, token)
    tox = toxicity_pattern(terms)
    counts.append(F.regexp_count(cur, F.lit(tox)).cast("long").alias("n_tox"))
    cur = F.regexp_replace(cur, tox, "<TOX>")
    return F.struct(cur.alias("scrubbed"), *counts)


def scrub_caption_py(text: str, terms: list[str] | None = None) -> str:
    """Pure-Python oracle twin of scrub_caption for tests (same chain)."""
    import re

    if text is None:
        return None
    for pattern, token in SCRUB_CHAIN:
        text = re.sub(pattern, token, text)
    return re.sub(toxicity_pattern(terms), "<TOX>", text)


def pseudonymize(
    col: Column | str,
    pattern: str = EMAIL_RE,
    tag: str = "EMAIL",
    hash_chars: int = 6,
) -> Column:
    """Consistent pseudonymization (X226): replace every ``pattern``
    match with ``<TAG_xxxxxx>`` where xxxxxx = md5 prefix of the
    case-folded entity — unlike the flat scrub chain's ``<EMAIL>``,
    the SAME identifier maps to the SAME token everywhere, so
    cross-document linkage, dedup, and sessionization still work on the
    scrubbed corpus while raw identifiers are gone (the pseudonymized-
    release pattern; one-way hash, no lookup table ships with the data).

    Pure JVM expression: split the text AROUND matches
    (split(text, pattern) yields n+1 segments for n matches), extract
    the matches, and refold segment/pseudonym/segment via one
    ``aggregate`` over the match index — no UDF, no join, scan-stage,
    and every piece (split/extract/md5/aggregate) exists in DuckDB, so
    the rewrite is oracle-exact.

    NULL passes through. Case: the HASH uses lower(entity) (linkage
    across casings), the tag is fixed-case.
    """
    text = F.col(col) if isinstance(col, str) else col
    parts = F.split(text, pattern, -1)
    matches = F.regexp_extract_all(text, F.lit(pattern), 0)

    def pseudo(m: Column) -> Column:
        return F.concat(
            F.lit(f"<{tag}_"),
            F.substring(F.md5(F.lower(m)), 1, hash_chars),
            F.lit(">"),
        )

    rebuilt = F.concat(
        F.element_at(parts, 1),
        F.aggregate(
            F.sequence(F.lit(1), F.size(matches)),
            F.lit(""),
            lambda acc, i: F.concat(
                acc,
                pseudo(F.element_at(matches, i)),
                F.element_at(parts, i + 1),
            ),
        ),
    )
    return F.when(text.isNull(), F.lit(None).cast("string")).otherwise(
        F.when(F.size(matches) > 0, rebuilt).otherwise(text)
    )


def pseudonym_map(
    df: DataFrame,
    text_col: str,
    id_col: str,
    pattern: str = EMAIL_RE,
    tag: str = "EMAIL",
    hash_chars: int = 6,
) -> DataFrame:
    """The audit table behind pseudonymize (X226): one row per distinct
    case-folded entity — (entity, pseudonym, n_docs, n_occurrences) —
    what a release review reads to check collision risk (two entities
    one pseudonym) and re-identification surface (a pseudonym carried
    by one document is as identifying as the raw value; k-anonymity's
    job, flagged here via n_docs). One explode + one map-side-combinable
    groupBy; raw entities exist only inside this audit, never in the
    released text."""
    text = F.col(text_col)
    ents = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.regexp_extract_all(text, F.lit(pattern), 0)
        ).alias("raw"),
    ).select("id", F.lower(F.col("raw")).alias("entity"))
    return (
        ents.groupBy("entity")
        .agg(
            F.countDistinct("id").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_occurrences"),
        )
        .select(
            "entity",
            F.concat(
                F.lit(f"<{tag}_"),
                F.substring(F.md5("entity"), 1, hash_chars),
                F.lit(">"),
            ).alias("pseudonym"),
            "n_docs",
            "n_occurrences",
        )
        .orderBy("entity")
    )
