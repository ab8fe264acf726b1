"""Line cleaning + heuristic quality rules.

Re-expresses the reference's pre-language-ID cleaning
(corpusama/util/langid.py:73-103: `drop_all` char translate, whitespace
collapse, all-caps lowering) and its keep/drop predicates
(corpusama/corpus/export.py:23-29,104-111; corpusama/util/convert.py:53-81;
pipeline/stanza/secondary_pipeline.py:226-239) as:

- one Python kernel, ``_prep_batch``: per Arrow batch of captions, each
  line is normalized (``normalize.normalize_text``) and cleaned by
  ``_clean_segment``. The filter job's UDF (``fused._text_batch``) and
  ``prep_caption`` both call it. ``clean_line`` / ``clean_lines`` apply
  the same two steps to single lines: they train the language-ID and
  perplexity models and serve as the test oracle;
- pure-JVM Column predicates for everything SQL-expressible.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from corpusama_spark.functions.normalize import normalize_text

# exact drop set from the reference (corpusama/util/langid.py:73-77, verified
# codepoint-by-codepoint; note U+037E GREEK QUESTION MARK, not ';', and the
# duplicated U+00AD which maketrans dedupes)
DIGITS = "0123456789"
PUNCT = "!\"#$%&()*+,./:;<=>?@[\\]^_`{|}~"
SYMBOL = (
    "\u2022\ufffd\u2026\u25ba\u25bc\u2010\u25a0\u300b\u2217\u2714"
    "\u21e4\u2013\u25cf\u25aa\u2794\u00ad\u00ad\u037e\u00ab\u00bb"
    "\u25ca\u203a\u27a2\u201c\u00a9\u25a1"
)
WHITESPACE = "\t\n\r\x0b\x0c"
DROP_ALL = DIGITS + PUNCT + SYMBOL + WHITESPACE

_DROP_TABLE = str.maketrans({c: " " for c in DROP_ALL})

NAN_STRINGS = ("none", "null", "nan")


def _clean_segment(seg: str) -> str | None:
    """Drop-char translate, whitespace collapse and all-caps lowering of
    ONE normalized segment; None if nothing survives."""
    x = seg.translate(_DROP_TABLE)
    if not x.strip():
        return None
    x = " ".join(x.split())
    return x.lower() if x.isupper() else x


def clean_line(raw_line: str) -> str | None:
    """Normalize + clean ONE raw line; None if nothing survives.

    Matches clean_lines (util/langid.py:94-103) element-wise: uninorm
    normalize (multi-segment output joined back by the whitespace
    translate), then ``_clean_segment``.
    """
    return _clean_segment(normalize_text(raw_line))


def clean_lines(lines: list[str]) -> list[str]:
    """Oracle-faithful list version (drops empty results)."""
    out = []
    for line in lines:
        cleaned = clean_line(line)
        if cleaned is not None:
            out.append(cleaned)
    return out


PREP_SCHEMA = StructType(
    [
        StructField("caption_norm", StringType(), True),
        StructField("lines", ArrayType(StringType()), True),
    ]
)


def _prep_batch(captions: pd.Series) -> pd.DataFrame:
    """One Arrow batch of captions → (caption_norm, lines): each caption
    line normalized once; the segments joined are ``caption_norm``, and
    the ones that survive ``_clean_segment`` are ``lines``. A non-string
    caption yields NULL for both."""
    norms: list[str | None] = []
    lines_col: list[list[str] | None] = []
    for cap in captions:
        if not isinstance(cap, str):
            norms.append(None)
            lines_col.append(None)
            continue
        segs = [normalize_text(line) for line in cap.split("\n")]
        norms.append("".join(segs))
        lines_col.append(
            [x for seg in segs if (x := _clean_segment(seg)) is not None]
        )
    return pd.DataFrame({"caption_norm": norms, "lines": lines_col})


def prep_caption(col: Column | str) -> Column:
    """caption → struct(caption_norm, lines) in one Arrow pass. The UDF is
    built per call so it never outlives its SparkContext."""
    udf = F.pandas_udf(_prep_batch, PREP_SCHEMA)
    return udf(F.col(col) if isinstance(col, str) else col)


# --- pure-JVM predicates ----------------------------------------------------


def is_nanlike(col: Column) -> Column:
    """NULL / '' / whitespace / 'none'/'null'/'nan' (any case) — the
    reference's nan_to_none + empty-text semantics (convert.py:53-70,
    export.py:23-29).

    Whitespace matches Java ``\\s`` (space, tab, newline, CR, FF, VT) rather
    than ``F.trim`` (ASCII space only), mirroring Python ``str.strip()`` in
    the reference — a tab-only cell IS nanlike there."""
    pat = r"(?i)^\s*(" + "|".join(NAN_STRINGS) + r")?\s*$"
    return col.isNull() | col.rlike(pat)


def drop_chars_col(col: Column) -> Column:
    """JVM translate of the drop_all set → spaces (P11)."""
    return F.translate(col, DROP_ALL, " " * len(DROP_ALL))


def collapse_ws_col(col: Column) -> Column:
    """' '.join(x.split()) equivalent (F29-style collapse + trim)."""
    return F.trim(F.regexp_replace(col, r"\s+", " "))


def lower_if_upper_col(col: Column) -> Column:
    """Python str.isupper semantics: no cased lowercase AND >=1 cased upper
    (util/langid.py:102)."""
    return F.when(
        (col == F.upper(col)) & (col != F.lower(col)), F.lower(col)
    ).otherwise(col)


def token_count_col(col: Column) -> Column:
    """Whitespace token count of a cleaned line (secondary_pipeline.py:171)."""
    return F.when(
        F.length(F.trim(col)) == 0, F.lit(0)
    ).otherwise(F.size(F.split(F.trim(col), r"\s+")))


def alpha_ratio_col(col: Column) -> Column:
    """Share of alphabetic chars — quality feature from the drop_all family."""
    return F.when(F.length(col) == 0, F.lit(0.0)).otherwise(
        F.length(F.regexp_replace(col, r"[^\p{L}]", "")) / F.length(col)
    )


def caps_ratio_col(col: Column) -> Column:
    """Share of uppercase letters among letters (fl_en capitalization
    heuristic slot, pipeline/fl_en/base_pipeline.py:120-129)."""
    letters = F.length(F.regexp_replace(col, r"[^\p{L}]", ""))
    uppers = F.length(F.regexp_replace(col, r"[^\p{Lu}]", ""))
    return F.when(letters == 0, F.lit(0.0)).otherwise(uppers / letters)


def digit_ratio_col(col: Column) -> Column:
    return F.when(F.length(col) == 0, F.lit(0.0)).otherwise(
        F.length(F.regexp_replace(col, r"[^0-9]", "")) / F.length(col)
    )
