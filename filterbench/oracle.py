"""The per-run correctness gate.

A decision table is reduced to a ``Summary``: row count, kept count,
per-drop_reason counts and an order-independent digest of
(image_id, keep, drop_reason, caption_scrubbed). The expected summary for a
seed comes from ``expected_part``, a sequential per-row pass over the
engine's public kernels in the style of tests/test_reference_f1.py, run in
plain Python processes. It shares no plan with the timed job (no Catalyst
rule chain, no repartition, no join), so a plan-level fault shows as a
mismatch.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from corpusama_spark.functions.langid import analyze_lines, load_model
from corpusama_spark.functions.normalize import normalize_text
from corpusama_spark.functions.perplexity import get_model
from corpusama_spark.functions.scrub import scrub_caption_py
from corpusama_spark.functions.textrules import NAN_STRINGS, _DROP_TABLE
from corpusama_spark.io.imagecodec import decode_image, psnr, roundtrip_lossy
from corpusama_spark.pipeline import FilterConfig

# Java's \s (textrules.is_nanlike) is ASCII whitespace only
_NANLIKE = re.compile(
    r"[ \t\n\x0b\f\r]*(" + "|".join(NAN_STRINGS) + r")?[ \t\n\x0b\f\r]*",
    re.IGNORECASE,
)
# row hash: the first 60 bits of sha256 over the four fields joined by a
# separator, NULL written as NUL; summed mod 2**64 it is order-independent
_SEP, _NULL, _HEX_DIGITS = "\x1f", "\x00", 15


@dataclass(frozen=True)
class Summary:
    n_rows: int
    n_keep: int
    reasons: tuple[tuple[str, int], ...]  # sorted (drop_reason, count)
    digest: str  # 16 hex digits

    def as_dict(self) -> dict:
        return {
            "n_rows": self.n_rows,
            "n_keep": self.n_keep,
            "reasons": dict(self.reasons),
            "digest": self.digest,
        }


def row_hash(image_id: str, keep: bool, reason: str | None, scrubbed: str | None) -> int:
    key = _SEP.join(
        [image_id, "true" if keep else "false", reason or _NULL,
         _NULL if scrubbed is None else scrubbed]
    )
    return int(hashlib.sha256(key.encode("utf-8")).hexdigest()[:_HEX_DIGITS], 16)


def summary_frame(decisions: DataFrame) -> DataFrame:
    """Per-drop_reason counts and summed row hashes (``row_hash`` as Spark
    expressions)."""
    key = F.concat_ws(
        _SEP,
        F.col("image_id"),
        F.col("keep").cast("string"),
        F.coalesce(F.col("drop_reason"), F.lit(_NULL)),
        F.coalesce(F.col("caption_scrubbed"), F.lit(_NULL)),
    )
    row = F.conv(F.substring(F.sha2(key, 256), 1, _HEX_DIGITS), 16, 10)
    return decisions.groupBy("drop_reason").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("keep").cast("long")).alias("k"),
        F.sum(row.cast("decimal(38,0)")).alias("h"),
    )


def summarize(decisions: DataFrame) -> Summary:
    """One action over a decision table."""
    return summary_of(summary_frame(decisions).collect())


def summary_of(groups: list) -> Summary:
    return _summary(
        n_rows=sum(g.n for g in groups),
        n_keep=sum(int(g.k or 0) for g in groups),
        reasons=Counter({g.drop_reason: g.n for g in groups if g.drop_reason is not None}),
        digest=sum(int(g.h) for g in groups),
    )


def _summary(n_rows: int, n_keep: int, reasons: Counter, digest: int) -> Summary:
    return Summary(
        n_rows=n_rows,
        n_keep=n_keep,
        reasons=tuple(sorted(reasons.items())),
        digest=f"{digest % (1 << 64):016x}",
    )


def merge(parts: list[Summary]) -> Summary:
    """The summary of the union of disjoint row sets."""
    reasons: Counter = Counter()
    for p in parts:
        reasons.update(dict(p.reasons))
    return _summary(
        n_rows=sum(p.n_rows for p in parts),
        n_keep=sum(p.n_keep for p in parts),
        reasons=reasons,
        digest=sum(int(p.digest, 16) for p in parts),
    )


def _image_reason(data, fmt: str, w: int, h: int) -> str | None:
    if data is None:
        return "image_missing"
    try:
        arr = decode_image(bytes(data), fmt)
    except ValueError:
        return "image_corrupt"
    if arr.shape[0] != h or arr.shape[1] != w:
        return "image_dims_mismatch"
    if fmt == "png":
        return None
    db = psnr(arr, roundtrip_lossy(arr, fmt))
    if not np.isinf(db) and db < 40.0:
        return "image_psnr_below_40db"
    return None


def decide_row(
    row, config: FilterConfig, lid_model, ppl_model
) -> tuple[bool, str | None, str | None]:
    """(keep, drop_reason, caption_scrubbed) for one captions row, checking
    the rule chain of ``pipeline._decide`` in order."""
    caption = row.caption
    norm = None
    lines: list[str] = []
    if isinstance(caption, str):
        segs = [normalize_text(line) for line in caption.split("\n")]
        norm = "".join(segs)
        for seg in segs:
            x = seg.translate(_DROP_TABLE)
            if x.strip():
                x = " ".join(x.split())
                lines.append(x.lower() if x.isupper() else x)
    scrubbed = scrub_caption_py(norm)

    def drop(reason: str):
        return False, reason, scrubbed

    if caption is None or _NANLIKE.fullmatch(caption):
        return drop("caption_missing")
    lid = analyze_lines(
        lines, lid_model, config.min_len, config.threshold, config.max_langs
    )
    if lid is None or not lid[0]:
        return drop("caption_empty_norm")
    entries, l1 = lid[0], lid[1]
    collapsed = " ".join(norm.split())
    if len(collapsed) < config.min_caption_chars:
        return drop("caption_too_short")
    if len(collapsed.split()) < config.min_tokens:
        return drop("too_few_tokens")
    reason = _image_reason(row.bytes, row.fmt, row.w, row.h)
    if reason is not None:
        return drop(reason)
    if config.target_lang:
        share = dict(entries).get(config.target_lang)
        if share is None or share < config.min_portion:
            return drop("lang_share")
    elif l1 is None or l1 in ("unknown", "short"):
        return drop("lang_share")
    if ppl_model.perplexity_batch(pd.Series([norm]))[0] > config.ppl_threshold:
        return drop("perplexity")
    return True, None, scrubbed


def expected_part(pdf: pd.DataFrame, config: FilterConfig = FilterConfig()) -> Summary:
    """The expected summary of a batch of captions rows, one row at a time."""
    lid_model, ppl_model = load_model(), get_model()
    reasons: Counter = Counter()
    n_keep = digest = 0
    for row in pdf.itertuples(index=False):
        keep, reason, scrubbed = decide_row(row, config, lid_model, ppl_model)
        n_keep += keep
        if reason is not None:
            reasons[reason] += 1
        digest += row_hash(row.image_id, keep, reason, scrubbed)
    return _summary(len(pdf), n_keep, reasons, digest)
