"""Text normalization kernel — Spark-native re-expression of `uninorm`.

Semantics match the reference's normalizer byte-for-byte for the default
parameter set (pipeline/ske_fr/uninorm_4.py:80-134, "uninorm 4.0", itself from
Unitok, Michelfeit et al. 2014, corpus.tools/wiki/Unitok — public):

    1. HTML character references decoded, but the 5 basic XML entities
       re-escaped (uninorm_4.py:14-36).
    2. Unicode ``Zs`` spaces → ASCII space (:45-46).
    3. Tag-aware Unicode normalization: NFKC between tags, NFC inside tags;
       quote + dash folding only between tags (:96-118, :49-74).
    4. Tab → space; category-C chars dropped except U+200D (:120-124).
    5. U+2028/U+2029 → newline; each line stripped; empty lines dropped;
       every kept line terminated with "\\n" (:125-134).

Two execution surfaces:

- ``normalize_text()``: pure-Python kernel (the in-process oracle for tests
  and the body of the Arrow pandas UDF). Applied per string inside Arrow
  batches — the engine's only Python on the text hot path, as NFKC and the
  stdlib charref tables have no Spark builtin.
- ``normalize_caption()``: SCALAR pandas_udf Column for DataFrame plans.
- ``fold_quotes_dashes_col()``: a pure Column partial (translate-based)
  for SQL-oracle-checkable queries that don't need NFKC.
"""

from __future__ import annotations

import html
import re
import sys
import unicodedata

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

# --- character tables -------------------------------------------------------

# XML/HTML tag or comment (uninorm_4.py:10-13 semantics)
_TAG_RE = re.compile(
    r"<!--.*?-->"
    r"|<[!?/]?[^\W\d][\w:.-]*"
    r"(?:\s+[^\W\d][\w:.-]*\s*=\s*(?:'[^']*'|\"[^\"]*\"))*"
    r"\s*/?\s*>",
    re.UNICODE,
)

# character reference with compulsory semicolon (uninorm_4.py:14-16)
_CHARREF_RE = re.compile(r"&(#[0-9]+;|#[xX][0-9a-fA-F]+;|[^\t\n\f <&#;]{1,32};)")

_XML_BASIC = {
    "&": "&amp;",
    "<": "&lt;",
    ">": "&gt;",
    '"': "&quot;",
    "'": "&apos;",
}

# apostrophe/quote/dash variant sets (uninorm_4.py:49-74; Unicode data)
SINGLE_QUOTES = (
    "\u0027\u0060\u00b4\u02bc\u055a\u07f4\u07f5\uff07\u2018\u2019"
    "\u201a\u201b\u2039\u203a\u275b\u275c\u02b9\u2032\u2035"
)
DOUBLE_QUOTES = (
    "\u0022\u276e\u276f\uff02\u201c\u201d\u201e\u201f\u301d"
    "\u301e\u301f\u275d\u275e\u2033\u2036\u02ba\u02ee"
)
HYPHENS = (
    "\u002d\u058a\u05be\u1400\u1806\u2010\u2011\u2e17\u2e1a"
    "\u30a0\ufe63\uff0d"
)
DASHES = (
    "\u2012\u2013\u2014\u2015\u2e3a\u2e3b\u2e40\u301c\u3030"
    "\ufe31\ufe32\ufe58"
)

_QUOTE_DASH_TABLE = str.maketrans(
    {
        **{c: "'" for c in SINGLE_QUOTES},
        **{c: '"' for c in DOUBLE_QUOTES},
        **{c: "-" for c in HYPHENS},
        **{c: "\u2013" for c in DASHES},
    }
)

# Zs → space and C* → delete tables over the BMP; built lazily because the
# 65k-codepoint category scan costs ~0.7 s — per-worker import stays cheap
# and pure-ASCII workloads (the fast path) never pay it. Astral-plane chars
# are handled by the slow path in _scrub_categories.
_ZS_TABLE: dict[int, str] = {}
_CONTROL_TABLE: dict[int, None] = {}
_HAS_ASTRAL_RE = re.compile("[\U00010000-\U0010ffff]")


def _ensure_tables() -> None:
    if _ZS_TABLE:
        return
    for cp in range(0x10000):
        cat = unicodedata.category(chr(cp))
        if cat == "Zs":
            _ZS_TABLE[cp] = " "
        elif cat.startswith("C") and cp != 0x200D:
            _CONTROL_TABLE[cp] = None


def _replace_charref(match: re.Match) -> str:
    # html._replace_charref implements the WHATWG charref decode incl. the
    # windows-1252 numeric remapping; re-escape XML basics after (quirk kept
    # for parity, uninorm_4.py:26-30).
    try:
        decoded = html._replace_charref(match)
    except AttributeError:  # pragma: no cover - stdlib private API fallback
        decoded = html.unescape("&" + match.group(1))
    return _XML_BASIC.get(decoded, decoded)


def decode_entities(text: str) -> str:
    if "&" not in text:
        return text
    return _CHARREF_RE.sub(_replace_charref, text)


def _fold_span(span: str) -> str:
    # between-tags treatment: NFKC then quote+dash folding
    return unicodedata.normalize("NFKC", span).translate(_QUOTE_DASH_TABLE)


def _scrub_categories(text: str) -> str:
    out = text.translate(_CONTROL_TABLE)
    if _HAS_ASTRAL_RE.search(out):
        out = "".join(
            c
            for c in out
            if ord(c) < 0x10000 or not unicodedata.category(c).startswith("C")
        )
    return out


# ASCII fast path: for pure-ASCII text with no '&' (entities) and no '<'
# (tags), the full chain reduces to: backtick→apostrophe (the only ASCII
# member of the quote tables), tab→space, ASCII controls dropped (category
# Cc: 0x00-0x1F minus tab, plus 0x7F — note \n drops too, exactly as the
# general path's category-C scrub does), strip. NFKC, Zs-folding, and the
# remaining quote/dash variants are identity on ASCII.
_ASCII_FAST_TABLE: dict[int, str | None] = {0x60: "'", 0x9: " "}
for _cp in list(range(0x20)) + [0x7F]:
    if _cp != 0x9:
        _ASCII_FAST_TABLE[_cp] = None


def normalize_text(text: str) -> str:
    """Normalize a line/caption; returns kept lines each terminated by \\n."""
    if "&" not in text and "<" not in text and text.isascii():
        s = text.translate(_ASCII_FAST_TABLE).strip()
        return s + "\n" if s else ""
    return _normalize_general(text)


def _normalize_general(text: str) -> str:
    """Full-chain path (any Unicode; the fast path must agree on ASCII)."""
    _ensure_tables()
    text = decode_entities(text)
    text = text.translate(_ZS_TABLE)
    if "<" in text:
        parts = []
        pos = 0
        for match in _TAG_RE.finditer(text):
            start, end = match.span()
            if start > pos:
                parts.append(_fold_span(text[pos:start]))
            # tags get NFC only: no compat folding, no quote/dash rewriting
            parts.append(unicodedata.normalize("NFC", match.group(0)))
            pos = end
        if pos < len(text):
            parts.append(_fold_span(text[pos:]))
        text = "".join(parts)
    else:
        text = _fold_span(text)
    text = text.replace("\t", " ")
    text = _scrub_categories(text)
    out = []
    for line in text.replace("\u2028", "\n").replace("\u2029", "\n").split("\n"):
        line = line.strip()
        if line:
            out.append(line + "\n")
    return "".join(out)


def normalize_doc(text: str) -> str:
    """Whole-document normalization (reference util.clean_text,
    corpusama/util/util.py:121-133): per physical line, concatenated."""
    return "".join(normalize_text(line) for line in text.split("\n"))


def html_to_text(markup: str):
    """Extract text from an HTML string — semantics of the reference's
    convert.html_to_text (corpusama/util/convert.py:127-141, F12): stdlib
    HTMLParser, concatenated character data, stripped; non-str passthrough.
    A regex tag-strip is NOT equivalent (entity refs, script/comment
    handling), so this stays a Python kernel applied per Arrow batch."""
    if not isinstance(markup, str):
        return markup
    from html.parser import HTMLParser

    class _Filter(HTMLParser):
        def __init__(self):
            super().__init__()
            self.parts: list[str] = []

        def handle_data(self, data):
            self.parts.append(data)

    f = _Filter()
    f.feed(markup)
    return "".join(f.parts).strip()


# --- Spark surfaces ---------------------------------------------------------


def _normalize_doc_batch(s: pd.Series) -> pd.Series:
    return s.map(lambda x: normalize_doc(x) if isinstance(x, str) else x)


def _html_to_text_batch(s: pd.Series) -> pd.Series:
    return s.map(html_to_text)


def html_to_text_col(col: Column | str) -> Column:
    """HTML → text (F12), Arrow-batched; NULL passes through."""
    udf = F.pandas_udf(_html_to_text_batch, StringType())
    return udf(F.col(col) if isinstance(col, str) else col)


def normalize_caption(col: Column | str) -> Column:
    """caption → normalized caption (trailing \\n per kept line), NULL-safe.
    Like every pandas UDF here it is built per call, so it binds the
    current SparkContext, not one a session restart has stopped."""
    udf = F.pandas_udf(_normalize_doc_batch, StringType())
    return udf(F.col(col) if isinstance(col, str) else col)


def fold_quotes_dashes_col(col: Column) -> Column:
    """Pure-JVM quote/dash folding (F4/F5) — translate, no UDF."""
    n = len(SINGLE_QUOTES) + len(DOUBLE_QUOTES) + len(HYPHENS) + len(DASHES)
    assert n == 19 + 17 + 12 + 12
    return F.translate(
        col,
        SINGLE_QUOTES + DOUBLE_QUOTES + HYPHENS + DASHES,
        "'" * 19 + '"' * 17 + "-" * 12 + "\u2013" * 12,
    )


if sys.maxunicode < 0x10FFFF:  # pragma: no cover
    raise RuntimeError("narrow Python build unsupported")
