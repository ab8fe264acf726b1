"""Driver contract for the spark-graft builder (PySpark target).

`entry` runs the flagship quality-filter pipeline (SURVEY.md §7) over the
driver's sf0.001 documents table re-shaped to the authoritative captions
schema (BASELINE.json input_hint). `queries`/`oracle_sql` cover the operator
inventory of SURVEY.md §2 — every SQL-expressible operator carries a DuckDB
oracle; model-/hash-UDF-based operators (trigram langid, perplexity, image
verify, xxhash64 LSH) are rows-only checks, as documented per entry.
"""

from __future__ import annotations

import os
import sys

import pandas as pd
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from corpusama_spark.functions.langid import lid_share  # noqa: E402
from corpusama_spark.functions.normalize import fold_quotes_dashes_col  # noqa: E402
from corpusama_spark.functions.scrub import (  # noqa: E402
    EMAIL_RE,
    ID_RE,
    IP_RE,
    URL_RE,
    toxicity_pattern,
)
from corpusama_spark.functions.textrules import (  # noqa: E402
    alpha_ratio_col,
    caps_ratio_col,
    is_nanlike,
    token_count_col,
)
from corpusama_spark.operators.dedup import (  # noqa: E402
    exact_dedup,
    minhash_lsh_pairs,
)
from corpusama_spark.operators.flatten import doc_tag_col  # noqa: E402
from corpusama_spark.operators.similarity import ann_topk, cosine  # noqa: E402
from corpusama_spark.operators.textstats import (  # noqa: E402
    STOPWORDS,
    char_quartiles_nearest,
    fingerprint,
    langid_sql,
    quality_score,
    stopword_hits,
)
from corpusama_spark.pipeline import FilterConfig, metrics, run_pipeline  # noqa: E402
from corpusama_spark.sources.synth import captions_from_documents  # noqa: E402

SF0001 = "/root/testdata/sf0.001"

# RE2-safe scrub chain (PHONE_RE uses lookbehind, which DuckDB's RE2 lacks;
# it stays in the flagship pipeline and is exercised by rows-only checks)
SCRUB_SQL_CHAIN: list[tuple[str, str]] = [
    (EMAIL_RE, "<EMAIL>"),
    (URL_RE, "<URL>"),
    (IP_RE, "<IP>"),
    (ID_RE, "<ID>"),
    (toxicity_pattern(), "<TOX>"),
]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    captions = captions_from_documents(docs)
    decisions = run_pipeline(captions, FilterConfig(nbuckets=16))
    return decisions.select(
        "image_id",
        "fmt",
        "w",
        "h",
        "caption",
        "caption_norm",
        "caption_scrubbed",
        F.round("ppl", 4).alias("ppl"),
        "l1",
        "l1_size",
        "multiling",
        "image_ok",
        "image_reason",
        "drop_reason",
        "keep",
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship keep/drop pipeline on sf0.001 (driver checks rows >= 0)."""
    return _flagship(spark, SF0001)


# --------------------------------------------------------------------------
# oracle-checked relational queries (SURVEY.md §2 ids in each docstring)
# --------------------------------------------------------------------------


def q_export_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+P4+W1: 3-way left join with date-range filter and broadcast dims
    (export.py:104-110 shape)."""
    orders = _t(spark, sf_dir, "orders").where(
        F.to_date("o_orderdate").between("1994-01-01", "1996-12-31")
    )
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey, "left")
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey, "left")
        .select(
            "o_orderkey",
            "c_name",
            F.col("n_name").alias("nation_name"),
            "o_orderpriority",
        )
    )


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/P2: IN-subquery as left-semi join (attribute.py:144-145)."""
    urgent = _t(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    li = _t(spark, sf_dir, "lineitem").join(
        urgent.select("o_orderkey"),
        F.col("l_orderkey") == F.col("o_orderkey"),
        "left_semi",
    )
    return li.groupBy("l_orderkey").agg(
        F.count("*").alias("n_items"),
        F.sum(F.col("l_quantity").cast("long")).alias("qty_sum"),
    )


def q_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/U3: explode token arrays + parent-key aggregation
    (reliefweb.py:152-173 explode shape)."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    ).where(F.length("token") > 0)
    return tok.groupBy("token").agg(F.count("*").alias("n"))


def q_byte_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A2: per-(source,lang) byte sums + share-of-group rounded to 2
    (util/langid.py:320-336)."""
    docs = _t(spark, sf_dir, "documents")
    per = docs.groupBy("source", "lang").agg(
        F.sum(F.octet_length("text")).alias("lang_bytes")
    )
    w = Window.partitionBy("source")
    return per.select(
        "source",
        "lang",
        "lang_bytes",
        F.round(F.col("lang_bytes") / F.sum("lang_bytes").over(w), 2).alias("share"),
    )


def q_argmax_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: per-source top language by doc count, ties lang-asc
    (util/langid.py:401-433 `_l1`)."""
    counts = (
        _t(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("lang"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("source", F.col("lang").alias("top_lang"), "n")
    )


def q_char_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: nearest-rank char-length quartiles per lang (util/langid.py:551-553)."""
    docs = _t(spark, sf_dir, "documents")
    return char_quartiles_nearest(docs, "lang", F.col("n_chars"))


def q_window_renumber(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2/W3: per-group renumbering from 0 (base_pipeline.py:160-171)."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("doc_id")
    return docs.select(
        "doc_id", "lang", (F.row_number().over(w) - 1).cast("long").alias("sent_id")
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P14: exact dedup via hash-groupBy canonicalization (database.py:57)."""
    return exact_dedup(_t(spark, sf_dir, "documents"), "text", "doc_id").select(
        "text_hash", "canonical_id", "n_dupes"
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 of casefolded collapsed text (F24 slot)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F21/F22 + quality features: token counts and character-class ratios
    (util/langid.py:73-77,212-215)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count_col(F.col("text")).cast("long").alias("n_tokens"),
        F.round(alpha_ratio_col(F.col("text")), 4).alias("alpha_ratio"),
        F.round(caps_ratio_col(F.col("text")), 4).alias("caps_ratio"),
    )


def q_langid_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-only stopword-vote language ID (cheap LI pre-filter baseline)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "lang",
        langid_sql(F.col("text")).alias("lang_guess"),
    )


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded heuristic quality score (length/alpha/stopword components)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_score(F.col("text")).alias("quality"))


def q_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII/toxicity scrub chain (north_rule stage; RE2-safe subset so DuckDB
    can oracle it — the lookbehind PHONE rule runs in the flagship only)."""
    docs = _t(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact admin"),
            F.col("doc_id").cast("string"),
            F.lit("@relief.org see https://example.org/r/"),
            F.col("doc_id").cast("string"),
            F.lit(" from 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(" case AB"),
            (F.col("doc_id") + 1234567).cast("string"),
            F.lit(" you frakking fool"),
        ).alias("seeded"),
    )
    out = F.col("seeded")
    for pattern, token in SCRUB_SQL_CHAIN:
        out = F.regexp_replace(out, pattern, token)
    return seeded.select("doc_id", out.alias("scrubbed"))


def q_nanlike(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7/P9: NaN/none/empty nullifier semantics (convert.py:53-70) over a
    deterministically polluted column."""
    docs = _t(spark, sf_dir, "documents")
    polluted = docs.select(
        "lang",
        F.when(F.col("doc_id") % 11 == 0, F.lit("none"))
        .when(F.col("doc_id") % 11 == 1, F.lit("   "))
        .when(F.col("doc_id") % 11 == 2, F.lit("NULL"))
        .when(F.col("doc_id") % 11 == 3, F.lit(None).cast("string"))
        .otherwise(F.col("text"))
        .alias("t"),
    )
    return polluted.groupBy("lang").agg(
        F.sum(is_nanlike(F.col("t")).cast("long")).alias("n_nanlike"),
        F.sum((~is_nanlike(F.col("t"))).cast("long")).alias("n_valid"),
    )


def q_min_portion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: min-portion language-share filter (export.py:108 semantics) over
    byte shares."""
    per = q_byte_share(spark, sf_dir)
    return per.where((F.col("lang") == "en") & (F.col("share") >= 0.3)).select(
        "source", F.col("share").alias("share_en")
    )


def q_year_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4+F20: date-range filter + year derivation (attribute.py:102-116)."""
    orders = _t(spark, sf_dir, "orders").where(
        F.to_date("o_orderdate") >= F.lit("1993-01-01")
    )
    return (
        orders.select(
            F.date_format("o_orderdate", "yyyy").alias("o_year"), "o_orderkey"
        )
        .groupBy("o_year")
        .agg(
            F.count("*").alias("n_orders"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
    )


def q_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over embeddings (similarity baseline);
    ranked on the 6-decimal-rounded similarity for cross-engine stability."""
    emb = _t(spark, sf_dir, "embeddings")
    vec = F.col("embedding").cast("array<double>")
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), vec.alias("qvec")
    )
    c = emb.select(F.col("vec_id").alias("cand_id"), vec.alias("cvec"))
    scored = c.join(F.broadcast(q), F.col("cand_id") != F.col("query_id")).select(
        "query_id",
        "cand_id",
        F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("cand_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 5)
        .select("query_id", "cand_id", "cos_sim", "rnk")
    )


def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: unionByName of two filtered halves (util/langid.py:380-381)."""
    docs = _t(spark, sf_dir, "documents")
    a = docs.where(F.col("doc_id") % 2 == 0)
    b = docs.where(F.col("doc_id") % 2 == 1)
    return a.unionByName(b).groupBy("lang").agg(F.count("*").alias("n"))


def q_multivalue_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15/U2: distinct-set assembly + '|'-joined multivalue string
    (convert.py:84-106)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.array_join(F.sort_array(F.collect_set("source")), "|").alias("sources"),
        F.size(F.collect_set("source")).cast("long").alias("n_sources"),
    )


def q_doc_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F19/F13: XML <doc> start-tag assembly with quoteattr semantics
    (attribute.py:69-99; util.py:106-118)."""
    docs = _t(spark, sf_dir, "documents")
    tag = doc_tag_col(
        F.col("doc_id").cast("string"),
        {"lang": F.col("lang"), "source": F.col("source")},
        file_id=F.lit("0"),
    )
    return docs.select("doc_id", tag.alias("doc_tag"))


def q_wrap_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10: dehyphenation of wrapped lines (base_pipeline.py:100-112) over a
    deterministically hyphen-wrapped column."""
    docs = _t(spark, sf_dir, "documents")
    wrapped = F.concat(
        F.substring("text", 1, 40), F.lit("-\n"), F.expr("substring(text, 41)")
    )
    fixed = F.regexp_replace(wrapped, r"( \w+)-\n(\w+ *)", "$1$2\n")
    return docs.select("doc_id", fixed.alias("unwrapped"))


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F27: JSON path extraction from string cells (export.py:108) +
    grouped aggregation over events."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k).alias("k_sum"),
        F.max(k).alias("k_max"),
    )


def q_quote_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4/F5: pure-JVM quote/dash folding (uninorm_4.py:49-74) over text with
    injected typographic variants."""
    docs = _t(spark, sf_dir, "documents")
    decorated = F.concat(
        F.lit("\u201cquoted\u201d \u2014 "),
        F.col("text"),
        F.lit(" \u2018x\u2019 \u2011y"),
    )
    return docs.select("doc_id", fold_quotes_dashes_col(decorated).alias("folded"))


def q_stopword_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate/stopword-share feature (quality-rule family)."""
    docs = _t(spark, sf_dir, "documents")
    cols = [
        stopword_hits(F.col("text"), lg).cast("long").alias(f"hits_{lg}")
        for lg in sorted(STOPWORDS)
    ]
    return docs.select("doc_id", *cols)


def q_lang_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2+A6 slot: documents from sources whose lang set is multilingual
    (>= 3 langs) — semi-join against an aggregated side."""
    docs = _t(spark, sf_dir, "documents")
    multi = (
        docs.groupBy("source")
        .agg(F.countDistinct("lang").alias("nl"))
        .where(F.col("nl") >= 3)
        .select("source")
    )
    return (
        docs.join(multi, "source", "left_semi")
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"))
    )


def q_jaccard_adjacent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard similarity (dedup verification stage; J7 slot)
    over a deterministic pair set (doc_id, doc_id+1)."""
    from corpusama_spark.operators.dedup import jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = docs.select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    )
    out = jaccard_pairs(docs, "text", "doc_id", pairs)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_seeded_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5: deterministic 'random' sampling (the reference's random.sample,
    util/langid.py:106-132, made replay-stable): per doc, the 3 distinct
    tokens ranked by md5(token||seed) — an engine-portable seeded shuffle."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("token"),
    ).where(F.length("token") > 0)
    w = Window.partitionBy("doc_id").orderBy(
        F.md5(F.concat(F.col("token"), F.lit("42"))), F.col("token")
    )
    return (
        toks.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 3)
        .select("doc_id", "token", "rn")
    )


def q_pivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: tag-frequency pivot (compare_vert.py:80-101) — per-user counts
    by event type as columns."""
    ev = _t(spark, sf_dir, "events")
    kinds = ["click", "error", "purchase", "signup", "view"]
    piv = ev.groupBy("user_id").pivot("event_type", kinds).count()
    return piv.select(
        "user_id",
        *[F.coalesce(F.col(k), F.lit(0)).alias(f"n_{k}") for k in kinds],
    )


def q_html_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 html_to_text over deterministically tag-wrapped text. The Spark
    side runs the real HTMLParser kernel; for tag-only markup (no entities)
    a regex strip is provably equivalent, which makes it oracle-able."""
    from corpusama_spark.functions.normalize import html_to_text_col

    docs = _t(spark, sf_dir, "documents")
    wrapped = F.concat(
        F.lit("<p>report <b>"), F.col("text"), F.lit("</b> end</p>")
    )
    return docs.select("doc_id", html_to_text_col(wrapped).alias("plain"))


def q_subcorpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P13: Sketch-Engine subcorpus predicate parsed from the reference's
    registry syntax (registry_subcorp/rw_en_subcorp:3-29) and applied."""
    from corpusama_spark.operators.subcorpus import load_subcorpora, subcorpus

    subs = load_subcorpora('=not_es_fr\n  doc\n  lang!="es|fr"\n')
    docs = _t(spark, sf_dir, "documents")
    return subcorpus(docs, subs["not_es_fr"]).groupBy("lang").agg(
        F.count("*").alias("n")
    )


def q_vert_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12: vertical-format document assembly (base_pipeline.py:136-224).
    Sentence punctuation is injected so the multi-sentence split path is
    actually exercised regardless of the testdata's punctuation habits."""
    from corpusama_spark.operators.export import vert_doc

    docs = _t(spark, sf_dir, "documents")
    tag = F.concat(F.lit('<doc id="'), F.col("doc_id").cast("string"), F.lit('">'))
    text2 = F.concat(
        F.lit("Intro sentence. "),
        F.col("text"),
        F.lit(" Tail claim! Final note? Done."),
    )
    return docs.select("doc_id", vert_doc(tag, text2).alias("vert"))


def q_majority_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: deterministic majority vote (chunk-vote slot,
    secondary_pipeline.py:175-184) — modal event_type per user."""
    from corpusama_spark.operators.textstats import deterministic_mode

    ev = _t(spark, sf_dir, "events")
    return deterministic_mode(ev, "user_id", "event_type", "top_event")


def q_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flatten operators (flatten.py:11-65; attribute.py:102-116): nested
    structs → `parent__child` columns + date__*__year twins."""
    from corpusama_spark.operators.flatten import add_year_columns, flatten_columns

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.struct(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
        ).alias("meta"),
        F.struct(F.col("o_orderdate").cast("string").alias("original")).alias("date"),
    )
    flat = add_year_columns(flatten_columns(orders))
    return flat.select(
        "o_orderkey", "meta__status", "meta__priority", "date__original__year"
    )


def q_export_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10/F19 export shape: doc_tag + wrapped text (export.py:64-69)."""
    from corpusama_spark.operators.export import wrap_doc
    from corpusama_spark.operators.flatten import doc_tag_col

    docs = _t(spark, sf_dir, "documents")
    tag = doc_tag_col(
        F.col("doc_id").cast("string"), {"lang": F.col("lang")}, file_id=None
    )
    return docs.select(
        "doc_id",
        wrap_doc(tag, F.col("text"), file_id=F.lit(0)).alias("doc_text"),
    )


def q_pdf_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11: the pdf.clean_text chain (pdf.py:16-33) over text seeded with
    replacement chars, tabs, and pathological whitespace."""
    from corpusama_spark.functions.convert import pdf_clean_text

    docs = _t(spark, sf_dir, "documents")
    seeded = F.concat(
        F.lit("  head�x\ty  \n \n\n\n\n"),
        F.col("text"),
        F.lit("   mid  \n  tail�  "),
    )
    return docs.select("doc_id", pdf_clean_text(seeded).alias("cleaned"))


def q_xml_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14: invalid-XML-token removal (util.py:82-103) over text seeded
    with the five control characters."""
    from corpusama_spark.functions.convert import clean_xml_tokens_col

    docs = _t(spark, sf_dir, "documents")
    seeded = F.concat(
        F.lit("a\x0bb\x0cc"), F.col("text"), F.lit("\x1cd\x1de\x1ef")
    )
    return docs.select("doc_id", clean_xml_tokens_col(seeded).alias("cleaned"))


def q_no_sep_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16: separator-less list join with strip (convert.py:109-124)."""
    from corpusama_spark.functions.convert import list_to_string_no_sep

    docs = _t(spark, sf_dir, "documents")
    arr = F.array(F.lit(" "), F.substring("text", 1, 12), F.lit("-tail "))
    return docs.select("doc_id", list_to_string_no_sep(arr).alias("joined"))


def q_json_obj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F17+F18: str_to_obj (from_json) then to_json_or_str round-trip over
    the events props cells, plus a complex-type serialization."""
    from corpusama_spark.functions.convert import str_to_obj, to_json_or_str

    ev = _t(spark, sf_dir, "events")
    parsed = str_to_obj(F.col("props"), "k int")
    return ev.select(
        "event_id",
        parsed.getField("k").alias("k_parsed"),
        to_json_or_str(parsed, "struct").alias("props_rt"),
        to_json_or_str(
            F.array(F.col("event_type"), F.col("event_type")), "array"
        ).alias("arr_json"),
    )


def q_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13: two batches with drifted schemas (one lost `source`+`text`,
    one grew `extra`) reconciled to the target schema and unioned
    loss-free (database.py:85-94; reliefweb.py:175-186)."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from corpusama_spark.operators.schema_drift import union_reconciled

    target = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("text", StringType()),
        ]
    )
    docs = _t(spark, sf_dir, "documents")
    old_batch = docs.where(F.col("doc_id") % 2 == 0).select(
        "doc_id", "lang", "text"
    )
    new_batch = (
        docs.where(F.col("doc_id") % 2 == 1)
        .select("doc_id", "source", "lang")
        .withColumn("extra", F.concat(F.lit("x"), F.col("doc_id").cast("string")))
    )
    u = union_reconciled([old_batch, new_batch], target)
    return u.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum(F.col("source").isNull().cast("long")).alias("n_no_source"),
        F.sum(F.col("text").isNull().cast("long")).alias("n_no_text"),
        F.sum(F.col("extra").isNotNull().cast("long")).alias("n_extra"),
    )


def q_na_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14: %NA per attribute (attribute.py:232-264) over deterministically
    polluted columns; nan_to_none string semantics."""
    from corpusama_spark.operators.schema_drift import na_profile

    docs = _t(spark, sf_dir, "documents")
    polluted = docs.select(
        F.when(F.col("doc_id") % 11 == 0, F.lit("none"))
        .when(F.col("doc_id") % 11 == 1, F.lit("  "))
        .when(F.col("doc_id") % 11 == 2, F.lit(None).cast("string"))
        .otherwise(F.col("text"))
        .alias("text"),
        F.when(F.col("doc_id") % 7 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("lang"))
        .alias("lang"),
        F.when(F.col("doc_id") % 5 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("n_chars"))
        .alias("n_chars"),
    )
    return na_profile(polluted, ["text", "lang", "n_chars"])


def q_diff_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: grouped diff summary between two corpus versions
    (compare_vert.py:236-245): per lang, counts of added/removed/changed/
    same docs under deterministic edits."""
    from corpusama_spark.operators.schema_drift import diff_summary

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    new = docs.where(F.col("doc_id") % 13 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    added = docs.where(F.col("doc_id") % 17 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "lang", "text"
    )
    return diff_summary(
        docs, new.unionByName(added), "doc_id", ["text"], group_col="lang"
    )


def q_vert_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F28: vert round-trip — write each doc as a vertical file string
    (S12 writer), parse it back to (doc_id, sent_id, token_id, token)
    rows with the secondary-pipeline token regex path
    (secondary_pipeline.py:186-189)."""
    from corpusama_spark.operators.export import vert_doc
    from corpusama_spark.operators.vertical import parse_vert

    docs = _t(spark, sf_dir, "documents")
    tag = F.concat(F.lit('<doc id="'), F.col("doc_id").cast("string"), F.lit('">'))
    text2 = F.concat(
        F.lit("Intro sentence. "),
        F.col("text"),
        F.lit(" Tail claim! Final note? Done."),
    )
    verts = docs.select(vert_doc(tag, text2).alias("vert"))
    return parse_vert(verts, "vert", doc_id_type="long")


def q_conllu_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12 (rest): minimal CoNLL-U document emit (the format
    base_pipeline.py:136-224 consumes)."""
    from corpusama_spark.operators.vertical import conllu_doc

    docs = _t(spark, sf_dir, "documents")
    text2 = F.concat(F.lit("First one. "), F.col("text"), F.lit(" Last one!"))
    return docs.select(
        "doc_id", conllu_doc(F.col("doc_id"), text2).alias("conllu")
    )


def q_stage_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S15/A9: cross-stage doc-count invariant rows — per stage count and
    delta vs the raw scan (the golden-file verify pattern)."""
    docs = _t(spark, sf_dir, "documents")
    raw = docs.agg(F.count("*").alias("base"))
    stages = [
        ("raw", docs),
        ("non_null_text", docs.where(F.col("text").isNotNull())),
        ("min_chars", docs.where(F.col("n_chars") >= F.lit(100))),
    ]
    out = None
    for name, df in stages:
        row = df.agg(F.count("*").alias("n")).select(
            F.lit(name).alias("stage"), "n"
        )
        out = row if out is None else out.unionByName(row)
    return out.crossJoin(F.broadcast(raw)).select(
        "stage", "n", (F.col("n") - F.col("base")).alias("delta")
    )


def q_metrics_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 (oracle-able twin of flagship_metrics): per-lang counts, a
    deterministic keep rule, avg chars, and nearest-rank quartiles q0..q4 —
    the metrics-table shape with a SQL-expressible decision column."""
    from corpusama_spark.operators.textstats import char_quartiles_nearest

    docs = _t(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum((F.col("n_chars") >= 100).cast("long")).alias("n_keep"),
        F.avg("n_chars").alias("avg_chars"),
    )
    quart = char_quartiles_nearest(docs, "lang", F.col("n_chars"))
    return counts.join(F.broadcast(quart), "lang")


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition signals (dup-line fractions, top n-gram share)
    over text with injected duplicate lines and a flooding 1-gram run."""
    from corpusama_spark.operators.textstats import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    decorated = F.concat(
        F.col("text"), F.lit("\ndup line\ndup line\ngo go go go go")
    )
    return docs.select(
        "doc_id", repetition_stats(decorated).alias("r")
    ).select("doc_id", "r.*")


def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 embedding quantization (4x storage at 10^12 rows): per-vector
    max-abs scale + the first four quantized components, all pure JVM."""
    from corpusama_spark.operators.similarity import quantize_int8

    emb = _t(spark, sf_dir, "embeddings")
    q = quantize_int8(F.col("embedding"))
    return emb.select(
        "vec_id",
        F.round(q.getField("scale").cast("double"), 6).alias("scale"),
        *[
            F.element_at(q.getField("q"), i + 1).cast("int").alias(f"q{i}")
            for i in range(4)
        ],
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over near-dup pairs -> dedup clusters
    (hash-min label propagation; the DuckDB oracle is a recursive-CTE
    transitive closure). Deterministic edge set: doc chains of 5 plus a
    cross-link every 50 ids (diameter ~7, fixed 12 rounds)."""
    from corpusama_spark.operators.components import connected_components

    docs = _t(spark, sf_dir, "documents")
    chains = docs.where(F.col("doc_id") % 5 != 4).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    )
    links = docs.where(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 7).alias("id_b")
    )
    return connected_components(
        chains.unionByName(links), fixed_iters=12
    )


SENT_SEED_PREFIX = "Dr. Prime said so. "
SENT_SEED_SUFFIX = " ¿Listo ya? Sr. Vega agrees. Fin."


def q_sent_split_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 oracled: language-aware sentence split driven by the per-row lang
    column (sentences.split_sentences_for). The seeded text carries 'Dr.'
    (protected in en/fr/es), 'Sr.' (protected in en/es but NOT fr), and a
    Spanish inverted-question opener, so every branch — en, fr, es, and
    the de/zh fallback — produces a DIFFERENT split, all mirrored in the
    DuckDB oracle via abbreviation-sentinel + chr(30)-break emulation of
    the lookbehind/lookahead pattern."""
    from corpusama_spark.operators.sentences import split_sentences_for

    docs = _t(spark, sf_dir, "documents")
    seeded = F.concat(
        F.lit(SENT_SEED_PREFIX),
        F.substring(F.col("text"), 1, 80),
        F.lit(SENT_SEED_SUFFIX),
    )
    return docs.select(
        "doc_id",
        "lang",
        F.posexplode(split_sentences_for(seeded, F.col("lang"))).alias(
            "sent_id", "sentence"
        ),
    ).select("doc_id", "lang", F.col("sent_id").cast("long").alias("sent_id"), "sentence")


def q_dedup_keeplist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup reduction: near-dup EDGES → connected components →
    one canonical per cluster → per-document keep flag (the table a corpus
    build anti-joins before training). Composes X5 over the deterministic
    chains+links edge set; documents outside any edge keep themselves.
    Oracle: the recursive-CTE closure left-joined back to documents."""
    from corpusama_spark.operators.components import connected_components

    docs = _t(spark, sf_dir, "documents")
    chains = docs.where(F.col("doc_id") % 5 != 4).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    )
    links = docs.where(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 7).alias("id_b")
    )
    comp = connected_components(chains.unionByName(links), fixed_iters=12)
    return (
        docs.select("doc_id")
        .join(comp, docs.doc_id == comp.id, "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("component"),
            (F.coalesce("component", F.col("doc_id")) == F.col("doc_id")).alias(
                "keep"
            ),
        )
    )


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-verified ANN quality (recall@5 per query): the axis-sign-LSH
    tier against the brute-force cosine truth. Axis-sign buckets involve NO
    arithmetic (bit = component > 0), so DuckDB reproduces the ANN
    candidate set bit-exactly; the rerank reuses the 6-decimal-rounded
    cosine ordering `topk_cosine` already proved engine-stable. This
    upgrades ANN quality from pytest-only evidence to an oracle-checked
    fact (the random-plane/IVF tiers stay rows-only: their float dot
    products depend on summation order)."""
    from corpusama_spark.operators.similarity import ann_recall, axis_lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    ann = axis_lsh_topk(
        emb, emb.where(F.col("vec_id") < 8), k=5, nbits=6, ntables=8
    )
    brute = q_topk_cosine(spark, sf_dir).select("query_id", "cand_id")
    return ann_recall(ann, brute, k=5)


def q_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-verified IVF quality (recall@5 per query): the full ivf_topk
    machinery — inverted-list assignment UDF, nprobe explode, list equi-join,
    exact-cosine rerank — run with INJECTED one-hot centroids scaled by 2.0
    so the quantizer itself is engine-exact: with c_j = 2*e_j the assignment
    score is 4 - 4*x_j (powers of two — every float op exact), so list
    membership reduces to comparing raw embedding components, which DuckDB
    reproduces bit-for-bit (argsort is kind='stable'; DuckDB tie-break is
    first index — no ties exist, but semantics match anyway). The TRAINED
    quantizer tier (`ivf_topk`) stays rows-only: k-means float means are not
    cross-engine reproducible. Same comparison-only recall pattern as
    `ann_recall`."""
    import numpy as np

    from corpusama_spark.operators.similarity import ann_recall, ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    n_lists, nprobe = 8, 3
    cents = np.zeros((n_lists, 64), dtype=np.float64)
    cents[np.arange(n_lists), np.arange(n_lists)] = 2.0
    emb = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    ann = ivf_topk(
        emb,
        emb.where(F.col("vec_id") < 8),
        k=5,
        n_centroids=n_lists,
        nprobe=nprobe,
        centroids=cents,
    )
    brute = q_topk_cosine(spark, sf_dir).select("query_id", "cand_id")
    return ann_recall(ann, brute, k=5)


GOPHER_DECOR_PREFIX = "- bullet line\n… \n"
GOPHER_DECOR_SUFFIX = "\nan ending line...\n# symbols ## here"


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality rules (Rae et al. 2021 §A1.1) over text with
    injected bullet/ellipsis/symbol lines so every rule fires."""
    from corpusama_spark.operators.textstats import gopher_quality

    docs = _t(spark, sf_dir, "documents")
    decorated = F.concat(
        F.lit(GOPHER_DECOR_PREFIX), F.col("text"), F.lit(GOPHER_DECOR_SUFFIX)
    )
    return docs.select("doc_id", gopher_quality(decorated).alias("g")).select(
        "doc_id", "g.*"
    )


def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting (GPT-2 pre-split pattern, RE2-safe)
    next to the whitespace count — the training-budget estimator."""
    from corpusama_spark.operators.textstats import bpe_token_count

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        bpe_token_count(F.col("text")).cast("long").alias("n_bpe"),
        token_count_col(F.col("text")).cast("long").alias("n_ws"),
    )


def q_winnow_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash fingerprints (Schleimer et al. 2003):
    char-5-gram md5-prefix hashes, window-4 minima, distinct set, exploded
    to (doc_id, fp) rows — pure JVM, no UDF, hash array staged once per
    row (the inline form re-hashes the doc per window: O(len²)).

    explode_OUTER deliberately: a plain explode makes Catalyst's
    InferFiltersFromGenerate add `size(fingerprints) > 0` BELOW the
    Generate, inlining the whole winnow chain as a scan-stage predicate
    where the hash array re-evaluates per window — the O(len²) blowup
    again, measured at 10+ min for 5,000 docs. Outer generates are exempt;
    the cheap null filter on the generated column replaces it."""
    from corpusama_spark.operators.dedup import winnow_fingerprints_df

    docs = _t(spark, sf_dir, "documents")
    return (
        winnow_fingerprints_df(docs, "text", "doc_id", k=5, window=4)
        .select("doc_id", F.explode_outer("fingerprints").alias("fp"))
        .where(F.col("fp").isNotNull())
    )


def q_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated regions (exact-substring dedup shape, Lee
    et al. 2022, approximated with positional winnowing): char-8-gram
    md5-prefix hashes, window-8 positional minima, fingerprints in >=3
    distinct docs, covered char spans merged into islands per doc. Output
    is the snip-list (doc_id, span_start, span_end) — 1-based inclusive
    start, exclusive end. Oracle: the identical md5/argmin/island chain in
    DuckDB (zipped double-unnest instead of a struct explode)."""
    from corpusama_spark.operators.dedup import repeated_spans

    docs = _t(spark, sf_dir, "documents")
    return repeated_spans(
        docs, "text", "doc_id", k=8, window=8, min_docs=3
    ).select(
        "doc_id",
        F.col("span_start").cast("int").alias("span_start"),
        F.col("span_end").cast("int").alias("span_end"),
    )


# --------------------------------------------------------------------------
# rows-only queries (model-/hash-UDF operators with no ANSI-SQL equivalent)
# --------------------------------------------------------------------------


def q_narrow_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship plan through its `narrow_decisions` alias (the one
    zero-shuffle plan; value-identical to `flagship`)."""
    from corpusama_spark.pipeline import narrow_decisions

    docs = _t(spark, sf_dir, "documents")
    captions = captions_from_documents(docs)
    return narrow_decisions(captions, FilterConfig()).select(
        "image_id", "l1", "l1_size", "multiling", "image_ok", "drop_reason", "keep"
    )


def q_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship keep/drop pipeline (langid UDF + perplexity UDF + image
    verify + scrub) over captions derived from documents."""
    return _flagship(spark, sf_dir)


def q_flagship_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(fmt, drop_reason) metrics table of the flagship run (scalar
    q0..q4 quartile columns so the driver can canonicalize rows).

    Rows-only by necessity: the grouping key drop_reason depends on the
    langid/perplexity model UDFs, which no ANSI-SQL oracle can reproduce —
    `metrics_rollup` is the oracle-exact twin of this table's SHAPE over a
    deterministic keep rule."""
    docs = _t(spark, sf_dir, "documents")
    captions = captions_from_documents(docs)
    return metrics(run_pipeline(captions, FilterConfig(nbuckets=16)))


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs (xxhash64-based; rows-only).
    The flood-bucket guard is ON — at 10^12 rows a boilerplate bucket would
    otherwise self-join quadratically; 1024 caps the worst bucket's pair
    count at ~0.5M while passing every genuine near-dup cluster."""
    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, "text", "doc_id", num_hashes=16, bands=8, max_bucket=1024
    )


def q_minhash_pairs_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL MinHash+LSH candidate pipeline in its portable-hash
    configuration (hash_family='md5'): shingle hash, affine permutations,
    band keys, flood guard and the banded self-join are all reproduced
    exactly by the DuckDB oracle — upgrading minhash evidence from
    rows-only to oracle-checked. Non-empty docs only (the null/empty tier
    otherwise piles into one md5('') bucket on both engines — excluded so
    the oracle checks near-dup structure, not null plumbing). The xxhash64
    twin (`minhash_pairs`) stays the performance path."""
    docs = _t(spark, sf_dir, "documents").where(
        "text is not null and length(trim(text)) > 0"
    )
    return minhash_lsh_pairs(
        docs,
        "text",
        "doc_id",
        num_hashes=16,
        bands=8,
        max_bucket=1024,
        hash_family="md5",
    )


def q_simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded near-dup pairs (rows-only: xxhash64-based codes).

    Input is documents + two deterministic perturbation tiers so the
    near-dup path is exercised, not just the exact tier: ids+100000 are
    verbatim copies of every 10th doc (hamming 0), ids+200000 replace that
    doc's first token (small nonzero hamming). Banding (4x16 bits) finds
    every pair with hamming <= 3 exactly (pigeonhole); wider pairs
    best-effort, as LSH promises.
    """
    from corpusama_spark.operators.dedup import simhash_near_dups

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    every10 = docs.where(F.col("doc_id") % 10 == 0)
    copies = every10.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    perturbed = every10.select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.regexp_replace("text", r"^\S+", "xqzyv").alias("text"),
    )
    src = docs.unionByName(copies).unionByName(perturbed)
    return simhash_near_dups(
        src, "text", "doc_id", bands=4, hamming_k=12, max_bucket=1024
    )


def q_simhash_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Guaranteed-regime simhash contract query (rows-only): hamming_k=3
    with bands=4 x 16 bits is pigeonhole-COMPLETE — a pair within hamming 3
    has at most 3 differing bands, so at least one band matches exactly and
    the banded join cannot miss it. `simhash_groups` next door exercises
    the best-effort k=12 regime; this one pins the guarantee (a pytest
    asserts completeness against a brute-force hamming scan)."""
    from corpusama_spark.operators.dedup import simhash_near_dups

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    every10 = docs.where(F.col("doc_id") % 10 == 0)
    copies = every10.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    perturbed = every10.select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.regexp_replace("text", r"^\S+", "xqzyv").alias("text"),
    )
    src = docs.unionByName(copies).unionByName(perturbed)
    return simhash_near_dups(
        src, "text", "doc_id", bands=4, hamming_k=3, max_bucket=1024
    )


def _perturbed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + exact copies (+100000) + first-word-perturbed copies
    (+200000) of every 10th doc — the shared near-dup test corpus (same
    derivation in the DuckDB twins)."""
    docs = (
        _t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    every10 = docs.where(F.col("doc_id") % 10 == 0)
    copies = every10.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    perturbed = every10.select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.regexp_replace("text", r"^\S+", "xqzyv").alias("text"),
    )
    return docs.unionByName(copies).unionByName(perturbed)


def q_ppjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT threshold-Jaccard join WITHOUT a df-cap (X190, PPJoin —
    Xiao 2008 prefix + positional filters, Bayardo 2007 length filter):
    only each doc's rarest |x|−⌈t|x|⌉+1 shingles are indexed, so hot
    boilerplate shingles never reach the join and exactness needs no
    max_df escape hatch. Same output contract as jaccard_exact."""
    from corpusama_spark.operators.fuzzy import ppjoin_pairs

    return ppjoin_pairs(
        _perturbed_docs(spark, sf_dir),
        "text",
        "doc_id",
        threshold=0.5,
        shingle_n=3,
    )


def q_oph_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-permutation MinHash accuracy audit (X191, Li/Owen/Zhang 2012;
    Shrivastava & Li 2014): md5 shingle hashes binned once (not K
    affine permutations — 1 pass over text instead of 16), rotation
    densification of empty bins, estimator-vs-exact-Jaccard on the
    deterministic near-dup pairs of the perturbed corpus. The DuckDB
    twin replays hash, bins, densification lattice and estimator."""
    from corpusama_spark.operators.dedup import oph_accuracy_pairs

    docs = _perturbed_docs(spark, sf_dir)
    base = (
        _t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull() & (F.col("doc_id") % 10 == 0))
        .select("doc_id")
    )
    pairs = (
        base.select(
            F.col("doc_id").alias("id_a"),
            (F.col("doc_id") + 100000).alias("id_b"),
        )
        .unionByName(
            base.select(
                F.col("doc_id").alias("id_a"),
                (F.col("doc_id") + 200000).alias("id_b"),
            )
        )
        .unionByName(
            base.select(
                (F.col("doc_id") + 100000).alias("id_a"),
                (F.col("doc_id") + 200000).alias("id_b"),
            )
        )
    )
    return oph_accuracy_pairs(
        docs, pairs, "text", "doc_id", k=16, shingle_n=3
    ).orderBy("id_a", "id_b")


def q_lsh_band_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding auto-tuner (X192): FP/FN S-curve areas + s50 for
    every factorization b·r = 16 at target Jaccard 0.5 on a 500-point
    midpoint grid — the measured answer to the (b, r) folklore."""
    from corpusama_spark.operators.dedup import lsh_band_plan

    return lsh_band_plan(
        spark, num_hashes=16, threshold=0.5, grid=500
    )


def q_rendezvous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous-hash reshuffle audit (X193, Thaler & Ravishankar
    1998): HRW shard assignment of every doc at 8 and at 10 shards,
    (old, new) transition counts — the restartable-job shard map where
    growing the shard count moves only ~(10−8)/10 of rows instead of
    hash-mod's 9/10. Scan-stage greatest() over md5 scores, no shuffle
    until the constant-width audit groupBy."""
    from corpusama_spark.operators.layout import rendezvous_moves

    return rendezvous_moves(
        _t(spark, sf_dir, "documents"), "doc_id", n_old=8, n_new=10
    )


def q_conformal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal gate calibration (X194): per-language thresholds
    on the doc-length score at α ∈ {.05, .1, .2} via the ⌈(n+1)(1−α)⌉
    calibration order statistic, with realized test-half coverage next
    to the nominal guarantee. md5-parity split, exact rank selection."""
    from corpusama_spark.operators.quantiles import conformal_thresholds

    return conformal_thresholds(
        _t(spark, sf_dir, "documents"),
        "n_chars",
        "doc_id",
        [0.05, 0.1, 0.2],
        group_col="lang",
    )


def q_logreg_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newton-IRLS logistic quality classifier (X195, the GPT-3
    Appendix-A shape): 8 exact Newton steps where each step is ONE
    constant-width agg of scan-stage JVM sums (XᵀWX, Xᵀ(y−p)) and a
    driver d×d solve; scoring is a pure sigmoid expression. Rows-only
    (matrix solve has no ANSI-SQL twin); numpy-mirror pytest pins the
    whole trajectory at rtol 1e-8."""
    from corpusama_spark.operators.classifier import (
        score_logistic,
        train_logistic,
    )
    from corpusama_spark.functions.textrules import (
        caps_ratio_col,
        digit_ratio_col,
    )

    docs = (
        _t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(
            "doc_id",
            (F.col("n_chars") / 1000.0).alias("kchars"),
            caps_ratio_col(F.col("text")).alias("caps"),
            digit_ratio_col(F.col("text")).alias("digits"),
            (F.col("lang") == "en").cast("double").alias("y"),
        )
    )
    feats = ["kchars", "caps", "digits"]
    beta = train_logistic(docs, feats, "y", iters=8)
    scored = score_logistic(docs, feats, beta)
    return (
        scored.groupBy((F.round("p_keep", 1)).alias("p_bucket"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("y"), 4).alias("empirical_rate"),
        )
        .orderBy("p_bucket")
    )


def q_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset (X196, Gonzalez 1985 / Sener &
    Savarese 2018): 6 farthest-point picks over the embeddings table
    with the exact covering-radius curve; 6-dp distance pinning keeps
    the trajectory engine-exact. The DuckDB twin unrolls the 6
    selection stages as CTEs."""
    from corpusama_spark.operators.kmeans import kcenter_select

    return kcenter_select(
        _t(spark, sf_dir, "embeddings"), "vec_id", "embedding", k=6
    ).orderBy("rank")


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge-rule learning (X197, Sennrich 2016): 8
    merge rounds over the Zipf-bounded word-frequency table — pair
    counts by adjacent-zip explode, deterministic (count desc, pair)
    argmax, two-pass regex merge application. The DuckDB twin unrolls
    the 8 rounds; the two-pass replace semantics are identical in Java
    regex and RE2 (pinned by pytest on an adversarial 6-run)."""
    from corpusama_spark.operators.bpe import bpe_train

    merges = bpe_train(
        _t(spark, sf_dir, "documents"), "text", n_merges=8
    )
    return spark.createDataFrame(
        merges, "rank int, left string, right string, n long"
    ).orderBy("rank")


def q_suffix_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT duplicate-substring spans (X200, Lee et al. 2021 via
    Manber–Myers prefix doubling): every maximal span covered by a
    ≥16-char substring occurring ≥2 times anywhere in the perturbed
    corpus. log₂ 16 = 4 relational rank rounds, distributed dense
    ranks (no global window), islands merged per doc. The DuckDB twin
    is brute-force substr grouping — 'exact' is a checked claim."""
    from corpusama_spark.operators.suffix import duplicate_spans_exact

    return duplicate_spans_exact(
        _perturbed_docs(spark, sf_dir), "text", "doc_id", min_len=16
    )


def q_token_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality of the top-100 token co-occurrence graph
    (X201, Brin & Page 1998): 10 fixed join+groupBy rounds with
    dangling-mass redistribution and 9-dp trajectory pinning — the
    template-hub vocabulary detector. The DuckDB twin unrolls all 10
    rounds over the identical edge derivation."""
    from corpusama_spark.operators.components import (
        pagerank_full,
        token_cooc_edges,
    )

    edges = token_cooc_edges(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        top_tokens=100, min_cooc=3,
    )
    return pagerank_full(edges, damping=0.85, iters=10)


def q_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-layout scan-pruning audit (X202): linear (a,b)-sort vs
    Z-order Morton layout at 16 files, parquet-footer-style min/max
    pruning under a 2-D predicate — files_scanned / skip_ratio /
    read_amplification per layout, the OPTIMIZE-ZORDER decision table.
    Keys: a = n_chars, b = doc_id%97 (deterministic, uncorrelated)."""
    from corpusama_spark.operators.layout import pruning_audit

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").alias("a"),
        (F.col("doc_id") % 97).alias("b"),
    )
    return pruning_audit(
        docs, "doc_id", "a", "b",
        a_range=(100.0, 250.0), b_range=(10.0, 30.0), nfiles=16,
    )


def q_audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral-fingerprint audio near-dups (X204, Haitsma & Kalker
    2002; rows-only: FFT decode UDF): deterministic tones with shared
    seeds at three amplitude levels — re-levelled copies must collide
    on sign fingerprints while bytes differ. Decode/FFT only in Arrow
    batches; 12-byte (frame, subfp) keys are the only exchange."""
    from corpusama_spark.functions.audioops import audio_near_dups
    from corpusama_spark.io.audiocodec import decode_audio, encode_qaud

    docs = _t(spark, sf_dir, "documents").where(
        F.col("doc_id") < 200
    ).select("doc_id")

    @F.pandas_udf("binary")
    def _gen(ids: pd.Series) -> pd.Series:
        from corpusama_spark.io.audiocodec import synth_audio

        out = []
        for i in ids:
            i = int(i)
            raw = synth_audio(i % 37, sample_rate=16000, seconds=0.5)
            _sr, x = decode_audio(raw)
            scale = 0.5 + 0.25 * (i % 3)
            out.append(
                encode_qaud(
                    (x.astype("float64") * scale).astype("<i2"), 16000
                )
            )
        return pd.Series(out, dtype=object)

    d = docs.withColumn("audio", _gen(F.col("doc_id")))
    return audio_near_dups(d, min_matches=4)


def q_shot_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot segmentation (X205, luma-histogram cut detector; rows-only:
    decode UDF): deterministic multi-scene QVID clips per doc — scene
    count doc_id%3+1, every 9th container corrupted — one row per shot,
    frames decoded only in Arrow batches."""
    from corpusama_spark.functions.imageops import shot_boundaries

    docs = _t(spark, sf_dir, "documents").where(
        F.col("doc_id") < 120
    ).select("doc_id")

    @F.pandas_udf("binary")
    def _gen(ids: pd.Series) -> pd.Series:
        import numpy as np

        from corpusama_spark.functions.imageops import encode_qvid

        out = []
        for i in ids:
            i = int(i)
            if i % 9 == 0:
                out.append(b"QVIDbad")
                continue
            rng = np.random.RandomState(i)
            frames = []
            for s in range(i % 3 + 1):
                color = (40 + 80 * s + i % 40) % 256
                for _ in range(3 + (i + s) % 4):
                    fr = np.full((12, 12, 3), color, dtype=np.int16)
                    fr = (fr + rng.randint(-4, 5, fr.shape)).clip(0, 255)
                    frames.append(fr.astype(np.uint8))
            out.append(encode_qvid(frames, fmt="png"))
        return pd.Series(out, dtype=object)

    d = docs.withColumn("bytes", _gen(F.col("doc_id"))).withColumnRenamed(
        "doc_id", "video_id"
    )
    return shot_boundaries(d).orderBy("video_id", "shot_no")


def q_fs_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter record-linkage decision table (X207, FS 1969 +
    Winkler's EM fit): candidate pairs (copy / perturbed / decoy tiers
    of the perturbed corpus) → 3-field agreement patterns → 10 EM
    rounds for (p, m_f, u_f) → per-pattern posterior, log₂ composite
    weight and the three-way decision. The DuckDB twin replays the
    comparators AND the EM rounds, so the learned parameters are
    contract-checked, not just the plumbing."""
    from corpusama_spark.operators.fuzzy import fs_linkage_table

    docs = _perturbed_docs(spark, sf_dir)
    base = (
        _t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull() & (F.col("doc_id") % 10 == 0))
        .select("doc_id")
    )
    pairs = (
        base.select(
            F.col("doc_id").alias("id_a"),
            (F.col("doc_id") + 100000).alias("id_b"),
        )
        .unionByName(
            base.select(
                F.col("doc_id").alias("id_a"),
                (F.col("doc_id") + 200000).alias("id_b"),
            )
        )
        .unionByName(
            # decoys: a DIFFERENT record's perturbed copy (ids past the
            # corpus edge simply drop in the feature join, identically
            # in both engines)
            base.select(
                F.col("doc_id").alias("id_a"),
                (F.pmod(F.col("doc_id") + 30, F.lit(1000)) + 200000)
                .alias("id_b"),
            )
        )
    )
    return fs_linkage_table(pairs, docs, iters=10)


def q_drift_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple-comparison-controlled drift alarms (X208): per-event-
    type exact KS D → asymptotic Kolmogorov p (10-term series) →
    Benjamini–Hochberg step-up at q=0.1 — the FDR discipline that keeps
    a many-monitor drift dashboard from crying wolf α·m times."""
    from corpusama_spark.operators.drift import (
        ks_asymptotic_p,
        ks_statistic,
    )
    from corpusama_spark.operators.stats import bh_fdr

    ks = ks_statistic(
        _t(spark, sf_dir, "events"), "event_type", "value", "ts",
        "2024-01-16",
    )
    tests = ks.select(
        "event_type",
        "n_ref",
        "n_cur",
        "ks_d",
        ks_asymptotic_p(
            F.col("ks_d"), F.col("n_ref"), F.col("n_cur")
        ).alias("p"),
    )
    return bh_fdr(tests, "p", q=0.1, tiebreak_cols=["event_type"])


def q_unseen_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unseen-vocabulary estimates per source (X209): Good–Turing
    unseen probability mass N₁/N (Good 1953) and bias-corrected Chao1
    richness lower bound S + N₁(N₁−1)/(2(N₂+1)) (Chao 1984) from the
    token frequency-of-frequencies — the keep-crawling/stop-crawling
    signal per source. One map-side-combinable (source, token) groupBy
    plus a source-sized rollup."""
    from corpusama_spark.operators.skew import unseen_vocab_estimates

    return unseen_vocab_estimates(
        _t(spark, sf_dir, "documents"), "source", "text"
    )


def q_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private per-(source, lang) count release (X210):
    the Laplace mechanism with ε=0.5 and DETERMINISTIC inverse-CDF noise
    from md5(seed:group) — retry-safe where rand() would double-spend
    the privacy budget on speculated tasks. Noise pinned at 6 dp before
    the integer release. The grouping key is the same quasi-identifier
    pair the k-anonymity audit (X152 lane) flags, so this is the release
    path for a slice the audit refuses to publish row-level."""
    from corpusama_spark.operators.privacy import dp_noisy_counts

    docs = _t(spark, sf_dir, "documents").withColumn(
        "src_lang", F.concat_ws("/", "source", "lang")
    )
    return dp_noisy_counts(docs, "src_lang", epsilon=0.5, seed="dp")


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of three incomparable quality signals
    (X211, Cormack et al. 2009): char length, type-token ratio, alpha
    share — fused as Σ 1/(60+rank_s) with no scale calibration. Global
    per-signal ranks come from ONE range exchange over the unioned
    long-format signals + broadcast partition offsets (no
    single-partition global window); top-100 released."""
    from corpusama_spark.operators.ranking import rrf_fuse

    docs = _t(spark, sf_dir, "documents")
    txt = F.coalesce(F.col("text"), F.lit(""))
    toks = F.filter(
        F.split(F.lower(F.trim(txt)), r"\s+"),
        lambda w: F.length(w) > 0,
    )
    n_toks = F.size(toks)
    sig_len = F.length(txt).cast("double")
    sig_ttr = (
        F.when(
            n_toks > 0,
            F.size(F.array_distinct(toks)).cast("double") / n_toks,
        )
        .otherwise(F.lit(0.0))
    )
    sig_alpha = F.length(
        F.regexp_replace(txt, "[^A-Za-z]", "")
    ).cast("double") / F.greatest(F.length(txt), F.lit(1)).cast("double")
    return rrf_fuse(
        docs,
        "doc_id",
        {"len": sig_len, "ttr": sig_ttr, "alpha": sig_alpha},
        k=60,
        topn=100,
    )


def q_sinkhorn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropic-OT (Sinkhorn) distance between per-source doc-length
    histograms (X206, Cuturi 2013): 16 bins × ε=0.1 × 6 scaling
    rounds, 9-dp trajectory pin. The DuckDB twin unrolls the rounds
    over the SAME literal K kernel (emitted from one python
    math.exp pass), so no cross-engine exp() enters the contract."""
    from corpusama_spark.operators.drift import sinkhorn_hist_distance

    return sinkhorn_hist_distance(
        _t(spark, sf_dir, "documents"), "source", "n_chars",
        nbins=16, bin_width=50.0, eps=0.1, iters=6,
    )


def q_mg_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra–Gries heavy hitters with exact verify (X203): ≤128
    candidate rows shuffle per partition (never the Zipf tail), the
    candidate superset guarantee makes the verified output EXACT — so
    the DuckDB twin is a plain groupBy threshold, and matching it IS
    the sketch-correctness proof."""
    from corpusama_spark.operators.sketches import (
        misra_gries_heavy_hitters,
    )

    return misra_gries_heavy_hitters(
        _t(spark, sf_dir, "documents"), "text", k=128, min_share=0.01
    )


def q_jaccard_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup GROUND TRUTH (X70): every pair at word-3-gram
    Jaccard ≥ 0.5 over the perturbed corpus, via the inverted shingle
    index (never |corpus|²) with df-capping at 32 docs/shingle. The
    DuckDB twin re-derives the identical index/threshold chain."""
    from corpusama_spark.operators.dedup import exact_jaccard_pairs

    return exact_jaccard_pairs(
        _perturbed_docs(spark, sf_dir),
        "text",
        "doc_id",
        threshold=0.5,
        shingle_n=3,
        max_df=32,
    )


def q_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH quality audit (X70): each exact-Jaccard-≥0.5 truth pair tagged
    with whether the md5-family MinHash-LSH candidate generation found it
    — the recall side of the banded-dedup quality story, oracle-checked
    end to end (truth chain + the full minhash chain + the audit join)."""
    from corpusama_spark.operators.dedup import (
        exact_jaccard_pairs,
        minhash_lsh_pairs,
    )

    src = _perturbed_docs(spark, sf_dir)
    truth = exact_jaccard_pairs(
        src, "text", "doc_id", threshold=0.5, shingle_n=3, max_df=32
    )
    cand = minhash_lsh_pairs(
        src.where("length(trim(text)) > 0"),
        "text",
        "doc_id",
        num_hashes=16,
        bands=8,
        max_bucket=1024,
        hash_family="md5",
    ).withColumn("_found", F.lit(1))
    return truth.join(cand, ["id_a", "id_b"], "left").select(
        "id_a",
        "id_b",
        "jaccard",
        F.col("_found").isNotNull().alias("found"),
    )


def q_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The simhash near-dup pipeline in its portable-hash configuration
    (hash_family='md5', an effective 60-bit simhash): token hashes, the
    sign-sum code, 4x16-bit band keys, flood guard, self-join and the
    bit_count(xor) hamming verify are all reproduced exactly by the DuckDB
    oracle — upgrading simhash evidence from rows-only to oracle-checked.
    Same perturbation tiers as `simhash_groups`, guaranteed regime k=3."""
    from corpusama_spark.operators.dedup import simhash_near_dups

    src = _perturbed_docs(spark, sf_dir)
    return simhash_near_dups(
        src,
        "text",
        "doc_id",
        bands=4,
        hamming_k=3,
        max_bucket=1024,
        hash_family="md5",
    ).select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k neighbors (xxhash64 planes; rows-only)."""
    emb = _t(spark, sf_dir, "embeddings")
    return ann_topk(emb, emb.where(F.col("vec_id") < 8), k=5)


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within LSH buckets (rows-only:
    bucket keys are engine-hashed)."""
    from corpusama_spark.operators.similarity import embedding_near_dups

    emb = _t(spark, sf_dir, "embeddings")
    # synthetic embeddings are near-orthogonal; 0.35 surfaces the top of the
    # in-bucket cosine distribution so the operator's output shape is tested
    return embedding_near_dups(emb, threshold=0.35)


def q_sentence_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3+A7+M5: sentence-level LI with token bounds + chunk majority vote
    (secondary_pipeline.py:132-197; rows-only — model + lookbehind split)."""
    from corpusama_spark.operators.sentences import annotate_sentences, sentence_rows

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("image_id"), F.col("text").alias("caption_norm")
    )
    out = annotate_sentences(sentence_rows(docs), short=4, long=20)
    return out.select(
        F.col("image_id").alias("doc_id"), "sent_id", "sentence", "sent_lang"
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k (trained coarse quantizer; rows-only — the
    quantizer is a model trained on a seeded sample)."""
    from corpusama_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, emb.where(F.col("vec_id") < 8), k=5, n_centroids=8, nprobe=3
    )


def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction (rows-only: decode UDF): channel/luma
    stats + DCT perceptual hash per image, computed in the scan stage —
    image bytes never shuffle."""
    from corpusama_spark.functions.imageops import image_features

    docs = _t(spark, sf_dir, "documents")
    captions = captions_from_documents(docs)
    return captions.select(
        "image_id", "fmt", image_features("bytes", "fmt").alias("f")
    ).select("image_id", "fmt", "f.*")


def q_image_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs via banded phash hamming (rows-only). Exact
    byte-copies under new ids guarantee hamming-0 pairs; lossy re-encodes
    exercise the near (nonzero-hamming) tier."""
    from corpusama_spark.operators.dedup import image_near_dups

    docs = _t(spark, sf_dir, "documents")
    captions = captions_from_documents(docs).select("image_id", "bytes", "fmt")
    copies = captions.where(F.crc32("image_id") % 10 == 0).select(
        F.concat(F.lit("copy-"), F.col("image_id")).alias("image_id"),
        "bytes",
        "fmt",
    )
    return image_near_dups(
        captions.unionByName(copies), hamming_k=4, max_bucket=256
    )


def q_align_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: sequence-alignment join (compare_vert.py:130-195) between the
    corpus token table and a deterministically re-annotated version —
    rows-only (difflib opcode alignment inside a cogroup applyInPandas has
    no ANSI-SQL equivalent). Returns the per-status summary."""
    from corpusama_spark.operators.align import align_summary, align_tokens

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(F.split(F.col("text"), r"\s+"), lambda t: F.length(t) > 0)
        ).alias("token_id", "token"),
    )
    old = toks.withColumn("tag", F.lit("v1"))
    new = (
        toks.where(F.col("token_id") % 17 != 0)
        .withColumn(
            "token",
            F.when(
                F.col("token_id") % 11 == 0, F.concat(F.col("token"), F.lit("x"))
            ).otherwise(F.col("token")),
        )
        .withColumn(
            "tag",
            F.when(F.col("token_id") % 5 == 0, F.lit("v2")).otherwise(F.lit("v1")),
        )
    )
    return align_summary(align_tokens(old, new, tag_col="tag"))


def q_str_obj_any(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F17 complete (rows-only: ast.literal_eval has no ANSI-SQL twin):
    the reference's json → python-literal → as-is parse ladder
    (convert.py:30-50) over seeded legacy cells — python-dict syntax,
    strict JSON, literal lists, free text, and NULLs."""
    from corpusama_spark.functions.convert import str_to_obj_any

    docs = _t(spark, sf_dir, "documents")
    k = (F.col("doc_id") % 7).cast("string")
    cell = (
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit("{'k': "), k, F.lit(", 'v': ('a', 'b')}")),
        )
        .when(F.col("doc_id") % 5 == 1, F.concat(F.lit('{"k": '), k, F.lit("}")))
        .when(F.col("doc_id") % 5 == 2, F.lit("['x', 'y']"))
        .when(F.col("doc_id") % 5 == 3, F.substring("text", 1, 20))
        .otherwise(F.lit(None).cast("string"))
    )
    return docs.select("doc_id", str_to_obj_any(cell).alias("o")).select(
        "doc_id", "o.*"
    )


def q_lid_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1+A1-A6 composite: trigram-model langid shares over caption lines
    (rows-only; model is a UDF)."""
    docs = _t(spark, sf_dir, "documents")
    captions = captions_from_documents(docs)
    decisions = run_pipeline(captions, FilterConfig(nbuckets=16))
    return decisions.select(
        "image_id",
        "l1",
        "l1_size",
        "multiling",
        lid_share("lid", "en").alias("share_en"),
    )


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix-C shape, Brown et al.
    2020): the "benchmark" is a 120-char excerpt of every 37th doc; every
    corpus doc sharing a 6-token shingle with any excerpt is flagged.
    Bench grams are distinct + broadcast, so the doc-side explode stays
    scan-stage and only hit rows shuffle."""
    from corpusama_spark.operators.curation import ngram_contamination

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 37 == 0).select(
        F.substring(F.col("text"), 21, 120).alias("text")
    )
    return ngram_contamination(docs, bench, n=6)


DUP_TOP = "Cookie notice: accept all cookies"
DUP_BOT = "All rights reserved."


def q_dup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level duplicated-line removal (CCNet, Wenzek et al. 2020):
    docs are decorated with boilerplate lines at three multiplicities
    (corpus-wide, per doc_id%5, per doc_id%300); threshold=3 drops the
    hot lines and keeps the unique content line, exercising both sides
    of the count cutoff at every scale factor."""
    from corpusama_spark.operators.curation import drop_duplicated_lines

    docs = _t(spark, sf_dir, "documents")
    mt = F.concat_ws(
        "\n",
        F.lit(DUP_TOP),
        F.concat(
            F.lit("Sec "), (F.col("doc_id") % 5).cast("string"), F.lit(": intro")
        ),
        F.col("text"),
        F.concat(F.lit("ref "), (F.col("doc_id") % 300).cast("string")),
        F.lit(DUP_BOT),
    )
    return drop_duplicated_lines(
        docs.select("doc_id", mt.alias("text")), threshold=3
    )


def q_strat_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing primitive: per-language mixture weights as one
    scan-stage md5-keyed predicate (retry-safe where rand() is not);
    'fr' is absent from the fraction map and must be dropped entirely."""
    from corpusama_spark.operators.curation import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    fractions = {"en": 0.5, "es": 0.75, "zh": 0.25, "de": 0.1}
    return stratified_sample(docs, "lang", fractions, "doc_id", seed="mix").select(
        "doc_id", "lang"
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup (Abbas et al. 2023) on perturbation
    tiers: exact vector copies (id+200000, every 25th) and one-coordinate
    +0.5 bumps (id+100000, every 10th, cosine ~0.87-0.93 vs unit-norm
    originals) against tau=0.85; original-original cosines top out ~0.5 so
    only injected near-dups cluster. Axis-sign buckets + 6-decimal cosine
    make the edge set — and the resulting clusters — DuckDB-reproducible."""
    from corpusama_spark.operators.curation import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    base = emb.select(F.col("vec_id"), v.alias("v"))
    copies = base.where(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 200000).alias("vec_id"), F.col("v")
    )
    twins = base.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.array(F.element_at(F.col("v"), 1) + F.lit(0.5)),
            F.slice(F.col("v"), 2, F.size(F.col("v")) - 1),
        ).alias("v"),
    )
    u = base.unionByName(copies).unionByName(twins)
    # 12-bit buckets (4096/table) over the 64-dim table: accidental
    # collisions drop ~2^6-fold vs the 6-bit default while the injected
    # tiers still share >= 4 of 5 tables (only one coordinate is bumped)
    return semantic_dedup(
        u, id_col="vec_id", vec_col="v", tau=0.85, nbits=12, ntables=5
    )


def q_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3): docs
    split into head/middle/tail terciles PER LANGUAGE by LM perplexity.
    Rows-only: the char-bigram LM is a model UDF no ANSI-SQL oracle can
    reproduce (the tercile split itself is a plain ntile window).
    Completes the CCNet trio: dup_lines + langid_sql + this."""
    from corpusama_spark.functions.perplexity import perplexity

    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.asc("ppl"), F.asc("doc_id"))
    return (
        docs.select(
            "doc_id", "lang", F.round(perplexity("text"), 4).alias("ppl")
        )
        .withColumn("tercile", F.ntile(3).over(w))
        .withColumn(
            "bucket",
            F.element_at(
                F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
                F.col("tercile"),
            ),
        )
        .select("doc_id", "lang", "ppl", "bucket")
    )


def q_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget training-shard assignment: shard_id = floor(exclusive
    prefix sum of BPE-ish token counts, in doc_id order, / 2000).
    Distributed prefix sum (range repartition + broadcast offsets); the
    oracle is the plain window cumsum the distributed plan must equal."""
    from corpusama_spark.operators.curation import pack_shards

    docs = _t(spark, sf_dir, "documents")
    return pack_shards(docs, budget=2000)


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation in one composed job graph: drop
    docs contaminated by the benchmark excerpts (q_contamination's bench),
    keep one doc per distinct text (exact dedup, min-id canonical),
    stratified-sample the survivors by language, pack what remains into
    2000-token shards. Every stage is the already-oracled operator, so the
    whole composition is DuckDB-value-exact — proof the curation family
    COMPOSES, not just that each piece works alone. NOTE: building this
    DataFrame already runs the upstream stages once (pack_shards' bounded
    per-partition subtotal collect is a driver action), so it is not
    plan-only; release via plans.caching.release after materializing."""
    from corpusama_spark.operators.curation import (
        ngram_contamination,
        pack_shards,
        stratified_sample,
    )
    from corpusama_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 37 == 0).select(
        F.substring(F.col("text"), 21, 120).alias("text")
    )
    clean_ids = ngram_contamination(docs, bench, n=6).where(
        ~F.col("contaminated")
    ).select("doc_id")
    canonical = exact_dedup(docs, "text", "doc_id").select(
        F.col("canonical_id").alias("doc_id")
    )
    kept = docs.join(clean_ids, "doc_id").join(canonical, "doc_id")
    sampled = stratified_sample(
        kept,
        "lang",
        {"en": 0.9, "es": 0.8, "zh": 0.7, "de": 0.6, "fr": 0.5},
        "doc_id",
        seed="pipe",
    )
    return pack_shards(sampled, budget=2000)


def q_image_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAION/DataComp-style metadata-only image quality gate: dimension
    floors/ceilings, aspect-ratio bound, bytes-per-pixel sanity, format
    allowlist — evaluated WITHOUT decoding (Catalyst prunes the bytes
    column; at 10^12 rows this tier costs a metadata scan). The metadata
    derives deterministically from `part` via integer arithmetic so the
    DuckDB twin reproduces every input value exactly; each rule both
    passes and fails somewhere in the derived distribution."""
    from corpusama_spark.functions.imageops import image_quality_rules

    pk = F.col("p_partkey")
    meta = _t(spark, sf_dir, "part").select(
        pk.alias("image_id"),
        (F.lit(8) + F.pmod(pk * 97, F.lit(10000))).cast("int").alias("w"),
        (F.lit(8) + F.pmod(pk * 61, F.lit(9000))).cast("int").alias("h"),
        F.element_at(
            F.array(*[F.lit(s) for s in ("png", "jpeg", "gif", "bmp", "tiff")]),
            (F.pmod(pk, F.lit(5)) + 1).cast("int"),
        ).alias("fmt"),
    ).withColumn(
        "nbytes",
        (F.pmod(F.col("image_id"), F.lit(50)) * F.col("w") * F.col("h")).cast(
            "long"
        ),
    )
    return meta.select(
        "image_id",
        "w",
        "h",
        "fmt",
        "nbytes",
        image_quality_rules(
            F.col("w"), F.col("h"), F.col("fmt"), F.col("nbytes")
        ).alias("r"),
    ).select("image_id", "w", "h", "fmt", "nbytes", "r.*")


def q_caption_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Caption-image agreement (CLIP-score shape): md5 feature-hashed
    caption vector vs the image embedding joined on doc_id = vec_id,
    cosine >= 0.05 keeps the pair. The featurizer is portable md5
    arithmetic, so the WHOLE two-tower score is DuckDB-value-exact."""
    from corpusama_spark.operators.alignment import caption_image_agreement

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    return caption_image_agreement(docs, emb, threshold=0.05)


def q_bigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed bigram-LM train + score in ONE lazy plan: add-k model
    counts aggregated from the corpus, every doc scored by joining its
    bigrams back against the (broadcast) model — the KenLM-style
    perplexity lane as pure relational algebra, value-checked end to end
    (upgrades perplexity evidence from rows-only to oracle-exact)."""
    from corpusama_spark.operators.lm import corpus_perplexity

    return corpus_perplexity(_t(spark, sf_dir, "documents"))


def q_nb_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality-filter tier (GPT-3 appx-A shape) as relational
    algebra: train token log-odds on two seed slices (lang='en' good,
    lang='zh' bad), score EVERY document by joining its token multiset
    against the broadcast model and summing — train + score in ONE lazy
    plan, value-checked end to end in DuckDB."""
    from corpusama_spark.operators.classifier import quality_classifier

    docs = _t(spark, sf_dir, "documents")
    return quality_classifier(
        docs, F.col("lang") == "en", F.col("lang") == "zh"
    )


def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-Engine-core collocation statistics: logDice (Rychlý 2008 —
    the metric word sketches rank by), PMI, and t-score over corpus
    bigrams with contingency marginals broadcast — the day-one corpus
    query a corpusama user runs on the corpus this engine builds."""
    from corpusama_spark.operators.colloc import collocations

    return collocations(_t(spark, sf_dir, "documents"), min_count=5)


def q_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kilgarriff simple-maths keyword extraction: French-document slice
    as the focus subcorpus vs everything else as reference, scored by
    (fpm_focus + 100)/(fpm_ref + 100) over per-million frequencies."""
    from corpusama_spark.operators.colloc import keywords

    docs = _t(spark, sf_dir, "documents")
    return keywords(
        docs.where(F.col("lang") == "fr"),
        docs.where(F.col("lang") != "fr"),
    )


def q_kwic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed concordance (KWIC): every occurrence of the token
    'spark' with 3 tokens of context either side, sliced from the token
    array already in hand — the text column is scanned exactly once."""
    from corpusama_spark.operators.colloc import kwic

    return kwic(_t(spark, sf_dir, "documents"), "spark", width=3)


from corpusama_spark.functions.mojibake import (  # noqa: E402
    MOJIBAKE_PATTERN as MOJ_PATTERN,
)
from corpusama_spark.functions.urls import (  # noqa: E402
    _HOST_RE as URL_HOST_RE,
    MULTIPART_SUFFIXES,
)
from corpusama_spark.functions.scrub import (  # noqa: E402
    EMAIL_RE as _SC_EMAIL,
    URL_RE as _SC_URL,
    IP_RE as _SC_IP,
    ID_RE as _SC_ID,
    toxicity_pattern as _sc_tox,
)

_SUFFIX_SQL = ", ".join(f"'{s}'" for s in MULTIPART_SUFFIXES)

_MOJ_A = " cafÃ© party"          # "cafÃ©" — utf-8 é read as latin-1
_MOJ_B = " donâ€™t stop"    # "donâ€™t" — utf-8 ’ read as cp1252
_FIX_A = " café party"
_FIX_B = " don’t stop"


def _mojibake_decorated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with deterministic double-encoding damage appended to
    doc_id%5∈{0,1} rows — same derivation in the DuckDB twins."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    m = F.pmod(F.col("doc_id"), F.lit(5))
    return docs.withColumn(
        "text",
        F.when(m == 0, F.concat(F.col("text"), F.lit(_MOJ_A)))
        .when(m == 1, F.concat(F.col("text"), F.lit(_MOJ_B)))
        .otherwise(F.col("text")),
    )


def q_mojibake_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-stage mojibake telltale (pure-JVM regexp over the byte shapes
    UTF-8-read-as-latin1/cp1252 produces). The oracle runs the SAME
    generated pattern through DuckDB's RE2 — an X38-style generated twin."""
    from corpusama_spark.functions.mojibake import flag_mojibake

    d = _mojibake_decorated(spark, sf_dir)
    return d.select("doc_id", flag_mojibake(F.col("text")).alias("flagged"))


def q_mojibake_fix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ftfy-style roundtrip REPAIR, value-exact: the engine runs the real
    codec roundtrip (JVM pre-filter → Arrow batch fix → union); the oracle
    constructs the expected output directly from the known-fix literals.
    Clean rows must pass through byte-identical."""
    from corpusama_spark.functions.mojibake import fix_mojibake

    return fix_mojibake(_mojibake_decorated(spark, sf_dir)).select(
        "doc_id", "text"
    )


def q_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb/C4-style URL gate: deterministic URLs derived from
    (source, doc_id) — dirty on purpose (ports, userinfo, schemeless,
    uppercase, fragments) — host + eTLD+1 extracted pure-JVM, then a
    broadcast anti-join against a blocklist drops example.com and
    spam-mall.net registered domains (subdomains included by
    construction). Output is the KEPT set with its extraction columns, so
    the oracle value-checks host parsing, suffix handling, and the join."""
    from corpusama_spark.functions.urls import blocklist_filter, url_host

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    m = F.pmod(F.col("doc_id"), F.lit(4))
    url = (
        F.when(
            m == 0,
            F.concat(
                F.lit("https://news."),
                F.col("source"),
                F.lit(".co.uk/a/"),
                F.col("doc_id"),
            ),
        )
        .when(
            m == 1,
            F.concat(
                F.lit("http://user@"),
                F.col("source"),
                F.lit("-ads.example.com:8080/x?q=1"),
            ),
        )
        .when(
            m == 2,
            F.concat(F.col("source"), F.lit(".spam-mall.net/path")),
        )
        .otherwise(
            F.concat(F.lit("HTTPS://WWW."), F.col("source"), F.lit(".ORG/a#f"))
        )
    )
    d = docs.withColumn("url", url)
    bl = spark.createDataFrame(
        [("example.com",), ("spam-mall.net",)], "domain string"
    )
    return blocklist_filter(d, bl).select(
        "doc_id", url_host(F.col("url")).alias("host"), "domain"
    )


PSL_RULES = [
    "com",
    "org",
    "io",
    "uk",
    "co.uk",
    "jp",
    "*.kobe.jp",
    "!city.kobe.jp",
    "github.io",
]


def q_psl_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full publicsuffix.org registered-domain extraction, driver-verified:
    deterministic URLs from (source, doc_id) cover multi-label ICANN
    suffixes (co.uk), private registries (github.io), '*.' wildcards and
    '!' exceptions (kobe.jp family), the implicit-star unknown-TLD rule,
    IPv4 + bracketed-IPv6 literals (ADVICE r3), and host==suffix → NULL.
    The oracle re-implements the PSL ALGORITHM independently in DuckDB
    (same per-depth rule joins over a VALUES rules table), not literal
    expected strings."""
    from corpusama_spark.functions.urls import (
        psl_rules_df,
        url_host,
        with_registered_domain,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    m = F.pmod(F.col("doc_id"), F.lit(8))
    url = (
        F.when(m == 0, F.concat(F.lit("https://news."), F.col("source"), F.lit(".co.uk/a?id=1")))
        .when(m == 1, F.concat(F.lit("http://"), F.col("source"), F.lit(".github.io/x")))
        .when(m == 2, F.lit("https://a.b.kobe.jp/p"))
        .when(m == 3, F.lit("http://x.city.kobe.jp/q#f"))
        .when(m == 4, F.lit("http://1.2.3.4:8080/x"))
        .when(m == 5, F.lit("https://user@[2001:db8::7]/a"))
        .when(m == 6, F.concat(F.lit("http://"), F.col("source"), F.lit(".nosuchtld/x")))
        .otherwise(F.lit("https://github.io/"))
    )
    d = docs.withColumn("url", url)
    rules = psl_rules_df(spark, PSL_RULES)
    return with_registered_domain(d, rules).select(
        "doc_id", url_host(F.col("url")).alias("host"), "domain"
    )


def q_audio_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only audio gate (X71): deterministic (rate, n_samples)
    metadata derived from doc_id covers every reason tier (missing meta,
    unsupported rate, empty, too short, too long, keep) — pure JVM
    expressions, bytes never touched, DuckDB twin replicates the gate."""
    from corpusama_spark.functions.audioops import audio_rules

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    m6 = F.pmod(F.col("doc_id"), F.lit(6))
    rate = (
        F.when(m6 == 0, 8000)
        .when(m6 == 1, 16000)
        .when(m6 == 2, 22050)
        .when(m6 == 3, 44100)
        .when(m6 == 4, 11025)  # unsupported
        .otherwise(F.lit(None).cast("int"))
    )
    m7 = F.pmod(F.col("doc_id"), F.lit(7))
    n = (
        F.when(m7 == 0, F.lit(0))  # empty
        .when(m7 == 1, F.lit(100))  # too short at any allowed rate
        .when(m7 == 2, rate * 700)  # too long (>600 s)
        .otherwise(rate * (F.pmod(F.col("doc_id"), F.lit(50)) + 1))
    ).cast("long")
    d = docs.withColumn("sample_rate", rate).withColumn("n_samples", n)
    # the NULL-metadata tier stays NULL for the GATE; the emitted columns
    # coalesce to -1 because DuckDB ships nullable ints as NaN floats and
    # the driver's compare is dtype-sensitive
    return audio_rules(d).select(
        "doc_id",
        F.coalesce("sample_rate", F.lit(-1)).alias("sample_rate"),
        F.coalesce("n_samples", F.lit(-1)).cast("long").alias("n_samples"),
        "audio_drop_reason",
        "audio_keep",
    )


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decode-verify + quality features (X71, rows-only: numpy
    decode UDF): deterministic QAUD tones synthesized per doc_id, a
    corrupt tier every 10th row — duration/RMS/silence/clipping computed
    in the scan stage, bytes never shuffle."""
    from corpusama_spark.functions.audioops import audio_features
    from corpusama_spark.io.audiocodec import synth_audio

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    @F.pandas_udf("binary")
    def _gen(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            b = synth_audio(int(i) % 101, sample_rate=8000, seconds=0.05)
            out.append(b[:9] if int(i) % 10 == 0 else b)
        return pd.Series(out, dtype=object)

    d = docs.withColumn("audio", _gen(F.col("doc_id")))
    return d.select("doc_id", audio_features(F.col("audio")).alias("f")).select(
        "doc_id", "f.*"
    )


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostics over events.user_id (X68, operators/skew.py):
    top-10 heaviest keys with share / skew-vs-mean / suggested salt factor
    — the data-driven gate for salt-factor and presplit_hours= choices.
    One groupBy + broadcast single-row totals + TakeOrderedAndProject."""
    from corpusama_spark.operators.skew import skew_report

    return skew_report(_t(spark, sf_dir, "events"), "user_id", top_n=10)


BM25_TERMS = ["table", "hash", "window"]


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranking of the documents table against a fixed query
    (X64, operators/ranking.py): scan-stage tokenize + broadcast term
    semi-filter, tiny df/N/avgdl marginals broadcast back, one groupBy —
    Lucene's ranker as a corpus operator. DuckDB twin recomputes the
    identical chain (6-decimal score rounding, the topk_cosine float
    precedent)."""
    from corpusama_spark.operators.ranking import bm25_scores

    return bm25_scores(_t(spark, sf_dir, "documents"), BM25_TERMS)


def q_ppl_buckets_rel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet bucketing with the RELATIONAL LM (operators/lm.py): per-
    language head/middle/tail terciles over the trained-on-corpus bigram
    perplexity. Upgrades the bucketing lane from rows-only (`ppl_buckets`,
    model-UDF ppl) to end-to-end DuckDB-value-exact — train, score, window
    all relational. Ties broken by doc_id so ntile is deterministic."""
    from corpusama_spark.operators.lm import corpus_perplexity

    docs = _t(spark, sf_dir, "documents")
    scored = corpus_perplexity(docs).join(
        docs.select("doc_id", "lang"), ["doc_id"]
    )
    w = Window.partitionBy("lang").orderBy(F.asc("ppl"), F.asc("doc_id"))
    return scored.select(
        "doc_id", "lang", "ppl", F.ntile(3).over(w).alias("tercile")
    )


def q_scrub_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule scrub observability: the FULL production chain (incl. the
    lookbehind PHONE rule) counts and rewrites each PII category in chain
    order over the same seeded text as `scrub`. The seed contains no
    phone-shaped digit runs (and the corpus text has no digits at all),
    so n_phone=0 — the one count RE2 cannot express is pinned by
    construction here and by dedicated pytests with real phone numbers."""
    from corpusama_spark.functions.scrub import scrub_audit

    docs = _t(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact admin"),
            F.col("doc_id").cast("string"),
            F.lit("@relief.org see https://example.org/r/"),
            F.col("doc_id").cast("string"),
            F.lit(" from 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(" case AB"),
            (F.col("doc_id") + 1234567).cast("string"),
            F.lit(" you frakking fool"),
        ).alias("seeded"),
    )
    return seeded.select(
        "doc_id", scrub_audit(F.col("seeded")).alias("a")
    ).select("doc_id", "a.*")


def q_asof_attrib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (point-in-time) attribution join — the temporal operator
    Spark lacks natively: every purchase matched to the SAME USER's most
    recent click at-or-before it (LEFT semantics; unmatched → NULL).
    Implementation is the one-shuffle union-scan sweep (operators/asof.py)
    — O(n_l + n_r) through ONE key exchange, no pair blowup; the oracle
    is DuckDB's NATIVE ``ASOF LEFT JOIN``, i.e. a fully independent
    implementation of the semantics."""
    from corpusama_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_id"),
        F.col("value").alias("click_value"),
    )
    j = asof_join(
        purchases, clicks, on="user_id", ts="ts",
        right_payload=["click_id", "click_value"],
    )
    # unmatched rows surface as matched=false with -1 sentinels rather
    # than NULLs: the hash compare collects Spark None vs pandas NaN
    # differently for nullable bigints, so NULL-bearing numeric outputs
    # are not hash-stable across the two runtimes
    return j.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("purchase_us"),
        F.col("value").alias("purchase_value"),
        F.col("r_click_id").isNotNull().alias("matched"),
        F.coalesce(F.col("r_click_id"), F.lit(-1)).alias("click_id"),
        F.coalesce(
            F.unix_micros(F.col("r_ts").cast("timestamp")), F.lit(-1)
        ).alias("click_us"),
        F.coalesce(F.col("r_click_value"), F.lit(-1.0)).alias("click_value"),
        F.coalesce(
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("r_ts").cast("timestamp")),
            F.lit(-1),
        ).alias("lag_us"),
    )


def q_minhash_keeplist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE near-dup dedup reduction, oracle-checked end to end:
    perturbed corpus (real near-dups: exact copies + first-word edits) →
    md5-MinHash-LSH candidate pairs (X38) → connected components (X5) →
    per-document keep flag. This is the table a 10^12-row corpus build
    anti-joins before training; every stage (shingle hash, permutations,
    band keys, flood guard, closure, min-id canonical) is reproduced by
    the DuckDB twin (recursive CTE over the SQL minhash pipeline)."""
    from corpusama_spark.operators.components import connected_components
    from corpusama_spark.operators.dedup import minhash_lsh_pairs

    src = _perturbed_docs(spark, sf_dir).where("length(trim(text)) > 0")
    pairs = minhash_lsh_pairs(
        src, "text", "doc_id",
        num_hashes=16, bands=8, max_bucket=1024, hash_family="md5",
    )
    comp = connected_components(pairs, fixed_iters=12)
    return (
        src.select("doc_id")
        .join(comp, src.doc_id == comp.id, "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("component"),
            (
                F.coalesce("component", F.col("doc_id")) == F.col("doc_id")
            ).alias("keep"),
        )
    )


def q_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group quantiles (type-1 inverse CDF) by selection at
    rank ceil(q*n): ONE window exchange computes rank + group count,
    each row tests scan-stage which requested q its rank hits. The
    exact counterpart to percentile_approx for contract gates that must
    reproduce bit-for-bit. Oracle: DuckDB's native quantile_disc."""
    from corpusama_spark.operators.quantiles import group_quantiles_exact

    ev = _t(spark, sf_dir, "events")
    return group_quantiles_exact(
        ev, key="event_type", val="value", qs=[0.25, 0.5, 0.75, 0.99]
    )


def q_checksum_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checksum-VERIFIED PII scrub (functions/checksum.py): regex
    candidates gated by Luhn (credit cards) / ISO 7064 mod-97 (IBANs),
    fold-replace of verified candidates only — the high-precision DLP
    upgrade over the regex-only chain. Candidates injected
    deterministically (doc_id mod 6 → 2 valid cards, 1 Luhn-invalid, 2
    valid IBANs incl. one whose digit tail is a CC candidate, 1
    mod-97-invalid), so both acceptance AND rejection paths fire. Pure
    JVM higher-order functions; oracle re-implements both checksums in
    DuckDB lambdas (1-based index mirrored)."""
    from corpusama_spark.functions.checksum import scrub_checksum

    docs = _t(spark, sf_dir, "documents")
    tokens = [
        "4111111111111111",
        "4111 1111 1111 1111",
        "4111111111111112",
        "DE89370400440532013000",
        "GB82WEST12345698765432",
        "DE89370400440532013001",
    ]
    tok = F.element_at(
        F.array(*[F.lit(t) for t in tokens]),
        (F.pmod(F.col("doc_id"), F.lit(6)) + 1).cast("int"),
    )
    cap = F.concat(
        F.lit("ref "), tok, F.lit(" :: "),
        F.coalesce(F.col("text"), F.lit("")),
    )
    return (
        docs.select("doc_id", cap.alias("caption"))
        .select("doc_id", scrub_checksum("caption").alias("s"))
        .select("doc_id", "s.scrubbed", "s.n_iban", "s.n_cc")
    )


def q_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning rules (Raffel et al. 2020 §2.2) — line-level retention
    (terminal punctuation, >=5 words, no 'javascript') + page gates
    (lorem ipsum, brace, bad words, >=3 sentences on the KEPT lines) —
    run over multi-line pages DERIVED deterministically from the corpus
    (10 docs -> 1 page; doc_id-keyed punctuation + telltale injections),
    since the synthetic documents are single-line and punctuation-free.
    Same injected-variation pattern as ivf_recall. All rules are
    scan-stage Catalyst expressions (functions/c4.py)."""
    from corpusama_spark.functions.c4 import c4_filter

    docs = _t(spark, sf_dir, "documents")
    words = F.filter(
        F.split(F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))), r"\s+"),
        lambda w: F.length(w) > 0,
    )
    nw = (F.lit(2) + F.pmod(F.col("doc_id"), F.lit(14))).cast("int")
    mod = lambda m, s: F.when(  # noqa: E731
        F.pmod(F.col("doc_id"), F.lit(m)) == 0, F.lit(s)
    ).otherwise(F.lit(""))
    line = F.concat(
        F.array_join(F.slice(words, 1, nw), " "),
        mod(17, " javascript required"),
        mod(29, " lorem ipsum"),
        mod(23, " {"),
        F.when(F.pmod(F.col("doc_id"), 3) == 1, F.lit(".")).otherwise(
            F.lit("")
        ),
        mod(31, " badword1"),
    )
    lined = docs.select(
        (F.col("doc_id") / 10).cast("long").alias("page_id"),
        F.col("doc_id"),
        line.alias("line"),
    )
    pages = lined.groupBy("page_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "line"))),
                lambda x: x["line"],
            ),
            "\n",
        ).alias("page_text")
    )
    out = c4_filter(pages, text_col="page_text")
    return out.select(
        "page_id",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_lines_kept").cast("long").alias("n_lines_kept"),
        F.col("n_sentences").cast("long").alias("n_sentences"),
        "cleaned",
        "drop_reason",
        "keep",
    )


def q_range_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join: for every error event, count + value-sum of
    ALL clicks (any user) within ±60 s. No equi-key exists, so Catalyst
    would nested-loop it; operators/rangejoin.py quantizes time into
    span-wide buckets, replicates each left row into the ≤2 buckets its
    window touches, and equi-joins — linear shuffle volume, pairs meet
    in exactly one bucket (no dedup pass). Zero-match errors keep their
    row (n=0). Oracle: DuckDB's native range-join planner on BETWEEN."""
    from corpusama_spark.operators.rangejoin import range_count

    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("ts").alias("cts"), "value"
    )
    return range_count(
        errors, clicks, left_id="error_id", left_ts="ts", right_ts="cts",
        lower_us=-60_000_000, upper_us=60_000_000, value_col="value",
    )


def q_kn_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram perplexity (Kneser & Ney 1995; Chen
    & Goodman 1999 §3) — the smoothing KenLM ships as its default, i.e.
    the literal "KenLM-style perplexity" the north_star names — trained on
    the corpus and self-scored in ONE lazy plan. Every KN statistic
    (continuation counts N1+, type total, counts-of-counts discount
    D = n1/(n1+2·n2)) derives from the single bigram-count table, so
    training explodes the corpus exactly once; scoring is broadcast
    joins. Fully relational → DuckDB-value-exact end to end."""
    from corpusama_spark.operators.lm import corpus_kneser_ney

    return corpus_kneser_ney(_t(spark, sf_dir, "documents"))


def q_stupid_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff trigram scoring (Brants et al. 2007 — the canonical
    distributed n-gram LM): trigram/bigram/unigram count tables trained on
    the corpus, every doc scored by its mean ln S over broadcast joins +
    one CASE. Train + score, one lazy plan, DuckDB-value-exact."""
    from corpusama_spark.operators.lm import corpus_stupid_backoff

    return corpus_stupid_backoff(_t(spark, sf_dir, "documents"))


def q_freq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus frequency list with cumulative coverage: rank (freq desc,
    tok asc) + cum_share — the table vocabulary-truncation decisions read
    ('top N tokens cover X%'). The window is global but runs over the
    VOCABULARY-sized count table, not the corpus."""
    from corpusama_spark.operators.colloc import frequency_profile

    return frequency_profile(_t(spark, sf_dir, "documents"))


def q_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the events table (30-min inactivity
    gap): two windows + one groupBy sharing a single user_id exchange —
    the batch twin of Structured Streaming's session_window, value-exact
    against the same window SQL in DuckDB."""
    from corpusama_spark.operators.sessions import session_stats

    return session_stats(_t(spark, sf_dir, "events"))


def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THIRD physical strategy for gap sessionization: Spark's native
    session_window aggregation (the Structured Streaming state-store shape,
    here applied in batch — streaming/sessions.py). Same 30-min gap
    semantics as `sessions`/`sessions_presplit` except index columns (the
    stream can't know a running per-user index); the oracle aggregates the
    same DuckDB session CTE by (user, session)."""
    from corpusama_spark.streaming.sessions import session_windows

    return session_windows(_t(spark, sf_dir, "events")).select(
        "user_id", "n_events", "started_us", "ended_us",
        "duration_us", "total_value",
    )


def q_sessions_presplit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-safe split-and-merge sessionization (tagging window over
    (user, 6h bucket), boundary repair over per-bucket summaries) — must
    emit byte-identical sessions to the single-window plan, so it shares
    the `sessions` oracle verbatim."""
    from corpusama_spark.operators.sessions import session_stats

    return session_stats(_t(spark, sf_dir, "events"), presplit_hours=6.0)


def _phash_population(docs: DataFrame) -> DataFrame:
    """Deterministic (id, code) phash population with injected near-dups:
    a 60-bit md5-derived code per doc (portable conv/substr arithmetic —
    the same idiom as hash_family='md5' minhash), plus a twin row per
    doc_id%10==0 whose code differs in 1-3 bit positions chosen by the id.
    Hamming(base, twin) <= 3 < 4 bands, so banded LSH is pigeonhole-
    complete and a brute-force O(n²) oracle checks the exact same pair set."""
    base = docs.select(
        F.col("doc_id").cast("long").alias("id"),
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ph-"), F.col("doc_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("code"),
    )
    flips = (
        F.expr("shiftleft(1L, cast(id % 60 as int))")
        .bitwiseOR(
            F.when(
                F.col("id") % 3 >= 1,
                F.expr("shiftleft(1L, cast((id * 7) % 60 as int))"),
            ).otherwise(F.lit(0).cast("long"))
        )
        .bitwiseOR(
            F.when(
                F.col("id") % 3 == 2,
                F.expr("shiftleft(1L, cast((id * 13) % 60 as int))"),
            ).otherwise(F.lit(0).cast("long"))
        )
    )
    twins = base.where(F.col("id") % 10 == 0).select(
        (F.col("id") + 1000000).alias("id"),
        F.col("code").bitwiseXOR(flips).alias("code"),
    )
    return base.unionByName(twins)


def q_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED banded phash-hamming image dedup (the flagship's 10^12-image
    near-dup stage with the decode UDF swapped for a portable md5-derived
    code, so DuckDB can brute-force the exact pair set): 4×16-bit band keys
    via shiftrightunsigned+mask, band equi-join, bit_count(xor) verify —
    candidate pairs never touch payload bytes. The UDF-phash twin is
    `image_near_dups` (rows-only); this query upgrades the KERNEL's
    evidence (hamming_band_pairs, operators/dedup.py:536) to oracle-exact."""
    from corpusama_spark.operators.dedup import hamming_band_pairs

    pop = _phash_population(_t(spark, sf_dir, "documents"))
    return hamming_band_pairs(pop, "id", "code", bands=4, hamming_k=3)


def q_phash_keeplist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end IMAGE dedup decision: banded phash pairs → hash-min
    connected components → keep = component representative (min id) —
    the image-side analogue of minhash_keeplist, oracled through a
    recursive-CTE transitive closure in DuckDB."""
    from corpusama_spark.operators.components import connected_components
    from corpusama_spark.operators.dedup import hamming_band_pairs

    pop = _phash_population(_t(spark, sf_dir, "documents"))
    pairs = hamming_band_pairs(pop, "id", "code", bands=4, hamming_k=3)
    comp = connected_components(pairs)
    return pop.select("id").join(comp, "id", "left").select(
        F.col("id"),
        F.coalesce(F.col("component"), F.col("id")).alias("component"),
        (F.coalesce(F.col("component"), F.col("id")) == F.col("id")).alias(
            "keep"
        ),
    )


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law OLS fit per language shard (slope/intercept/r² of ln freq
    on ln rank + vocab/token mass) — corpus-health drift monitoring as one
    explode + vocabulary-width agg + regr_* aggregates, all JVM."""
    from corpusama_spark.operators.textstats import zipf_fit

    return zipf_fit(_t(spark, sf_dir, "documents"), "text", "lang")


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): hashed-unigram
    log-likelihood ratio of the lang='en' target distribution vs the raw
    corpus, per document — the learned data-selection gate. One corpus
    exchange (word-count shape), bucket stats broadcast back; portable md5
    bucket hash makes the whole pipeline oracle-exact."""
    from corpusama_spark.operators.dsir import dsir_logratio

    docs = _t(spark, sf_dir, "documents").withColumn(
        "is_target", F.col("lang") == "en"
    )
    return dsir_logratio(docs, "text", "doc_id", "is_target", k_buckets=256)


def q_script_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script composition gate (wrong-alphabet detector): per-doc
    Latin/Cyrillic/Han/Arabic character counts, dominant script, and Latin
    share — scan-stage regex folds. Non-Latin content is injected
    deterministically (string literals, doc_id-keyed) because the testdata
    corpus is pure ASCII; Java \\p{IsXxx} and RE2 \\p{Xxx} agree on these
    script classes, which is what makes the oracle possible."""
    from corpusama_spark.operators.textstats import script_counts

    docs = _t(spark, sf_dir, "documents")
    snip = (
        F.when(F.col("doc_id") % 5 == 0, F.lit(" привет мир"))
        .when(F.col("doc_id") % 5 == 1, F.lit(" 你好世界"))
        .when(F.col("doc_id") % 5 == 2, F.lit(" مرحبا بالعالم"))
        .when(F.col("doc_id") % 5 == 3, F.lit(" Κόσμε здравствуй 世界"))
        .otherwise(F.lit(""))
    )
    txt = F.concat(F.coalesce(F.col("text"), F.lit("")), snip)
    return docs.select(
        "doc_id", script_counts(txt).alias("s")
    ).select("doc_id", "s.*")


def q_magic_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Magic-bytes format gate on a REAL binary column, fully relational:
    declared fmt vs the container signature sniffed from the first 8-12
    bytes (hex+substring JVM folds — no decode, no Python). The binary
    population is constructed via unhex in BOTH engines (PNG signature,
    QIMG stand-in containers, real-JPEG magic, garbage, NULL), so DuckDB
    verifies the sniffer's exact decisions; the same `sniffed_format`
    column over the synth captions table is pytest-driven."""
    from corpusama_spark.functions.images import sniffed_format

    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 6
    payload = F.hex(F.coalesce(F.col("text"), F.lit("x")))
    prefix = (
        F.when(m == 0, F.lit("89504E470D0A1A0A"))  # PNG signature
        .when(m == 1, F.lit("51494D476A706567"))  # QIMG+'jpeg'
        .when(m == 2, F.lit("51494D4777656270"))  # QIMG+'webp'
        .when(m == 3, F.lit("FFD8FFE0"))  # real JPEG SOI
        .otherwise(F.lit(""))  # raw text bytes (garbage)
    )
    byts = F.when(m == 5, F.lit(None).cast("binary")).otherwise(
        F.unhex(F.concat(prefix, payload))
    )
    declared = (
        F.when(m.isin(1, 2, 3), F.lit("jpeg"))
        .when(m == 5, F.lit("webp"))
        .otherwise(F.lit("png"))
    )
    return docs.select(
        "doc_id",
        declared.alias("fmt"),
        sniffed_format(byts).alias("fmt_sniffed"),
        (sniffed_format(byts) == declared).alias("magic_ok"),
    )


def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token-distribution Shannon entropy + type-token ratio — the
    lexical-diversity quality signal (boilerplate/keyword-stuffing shows as
    low entropy). One corpus explode, word-count agg, per-doc reduce."""
    from corpusama_spark.operators.textstats import token_entropy

    return token_entropy(_t(spark, sf_dir, "documents"), "text", "doc_id")


def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: labeled lang vs stopword-vote guess,
    with per-cell counts — the audit table a crawl curation run reads to
    decide whether the cheap LI gate is trustworthy per language."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("lang", langid_sql(F.col("text")).alias("lang_guess"))
        .groupBy("lang", "lang_guess")
        .agg(F.count("*").alias("n"))
    )


def q_rule_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule ablation table over the heuristic quality chain: n_fail,
    n_sole (docs ONLY this rule rejects — its marginal cost), fail_rate.
    One scan + one explode-unpivot + one constant-width agg."""
    from corpusama_spark.functions.textrules import (
        caps_ratio_col,
        digit_ratio_col,
    )
    from corpusama_spark.operators.ablation import rule_ablation

    docs = _t(spark, sf_dir, "documents")
    t = F.coalesce(F.col("text"), F.lit(""))
    rules = {
        "short": F.length(t) < 50,
        "caps": caps_ratio_col(t) > 0.5,
        "alpha": alpha_ratio_col(t) < 0.6,
        "digit": digit_ratio_col(t) > 0.2,
        "nanlike": is_nanlike(F.col("text")),
    }
    return rule_ablation(docs, rules, "doc_id")


def q_adaptive_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive per-language length gate: exact p12.5/p87.5 of n_chars per
    lang (type-1 rank selection — one window exchange), thresholds
    broadcast back onto the corpus, keep = within band. The two-pass
    'learn thresholds, then gate' shape every percentile-calibrated
    filter uses at scale; dyadic quantiles keep ceil(q·n) float-exact
    across engines (see operators/quantiles.py docstring)."""
    from corpusama_spark.operators.quantiles import group_quantiles_exact

    docs = _t(spark, sf_dir, "documents")
    th = group_quantiles_exact(docs, "lang", "n_chars", [0.125, 0.875])
    thp = th.groupBy("lang").agg(
        F.max(F.when(F.col("q") == 0.125, F.col("value"))).alias("lo"),
        F.max(F.when(F.col("q") == 0.875, F.col("value"))).alias("hi"),
    )
    return docs.join(F.broadcast(thp), "lang").select(
        "doc_id",
        "lang",
        "n_chars",
        "lo",
        "hi",
        ((F.col("n_chars") >= F.col("lo")) & (F.col("n_chars") <= F.col("hi"))).alias(
            "keep"
        ),
    )


def q_dedup_xmodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal dedup agreement audit: the text-side MinHash keeplist
    joined with the image-side phash keeplist on the base corpus ids —
    the table a curation run reads to find caption-duplicated-but-
    image-unique rows (and vice versa) before deciding the drop policy.
    Composes two already-oracled keeplists; one broadcast-size join."""
    from corpusama_spark.operators.components import connected_components
    from corpusama_spark.operators.dedup import hamming_band_pairs

    text_keep = q_minhash_keeplist(spark, sf_dir).where(
        F.col("doc_id") < 100000
    ).select(F.col("doc_id").alias("id"), F.col("keep").alias("text_keep"))

    pop = _phash_population(_t(spark, sf_dir, "documents"))
    pairs = hamming_band_pairs(pop, "id", "code", bands=4, hamming_k=3)
    comp = connected_components(pairs)
    img_keep = (
        pop.where(F.col("id") < 1000000)
        .select("id")
        .join(comp, "id", "left")
        .select(
            "id",
            (F.coalesce(F.col("component"), F.col("id")) == F.col("id")).alias(
                "image_keep"
            ),
        )
    )
    return text_keep.join(img_keep, "id", "inner").select(
        F.col("id").alias("doc_id"),
        "text_keep",
        "image_keep",
        (F.col("text_keep") == F.col("image_keep")).alias("agree"),
    )


def q_video_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only VIDEO gate (the third modality lane, completing
    image/audio/video parity): deterministic (fps, n_frames, w, h) tiers
    derived from doc_id cover every reason — missing meta, unsupported
    fps, empty, tiny resolution, too short, too long, keep. Pure JVM;
    container bytes never touched; DuckDB twin replicates the gate."""
    from corpusama_spark.functions.imageops import video_rules

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    m6 = F.pmod(F.col("doc_id"), F.lit(6))
    fps = (
        F.when(m6 == 0, 15)
        .when(m6 == 1, 24)
        .when(m6 == 2, 30)
        .when(m6 == 3, 60)
        .when(m6 == 4, 12)  # unsupported
        .otherwise(F.lit(None).cast("int"))
    )
    m7 = F.pmod(F.col("doc_id"), F.lit(7))
    n_frames = (
        F.when(m7 == 0, F.lit(0))  # empty
        .when(m7 == 1, F.lit(5))  # too short at any allowed fps
        .when(m7 == 2, fps * 4000)  # too long (>3600 s)
        .otherwise(fps * (F.pmod(F.col("doc_id"), F.lit(50)) + 1))
    ).cast("long")
    w = F.when(F.pmod(F.col("doc_id"), F.lit(5)) == 0, 32).otherwise(640)
    d = (
        docs.withColumn("fps", fps)
        .withColumn("n_frames", n_frames)
        .withColumn("w", w.cast("int"))
        .withColumn("h", F.lit(480).cast("int"))
    )
    return video_rules(d).select(
        "doc_id",
        F.coalesce("fps", F.lit(-1)).alias("fps"),
        F.coalesce("n_frames", F.lit(-1)).alias("n_frames"),
        "w",
        "h",
        "video_drop_reason",
        "video_keep",
    )


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling lane (rows-only: container decode UDF):
    deterministic QVID containers synthesized per doc_id (3-6 frames,
    every 10th container truncated), every-2nd-frame explode via
    mapInPandas in the scan stage — corrupt containers contribute zero
    rows instead of failing the task — then per-frame perceptual hash.
    Frames materialize only inside the Arrow batch; bytes never shuffle."""
    from corpusama_spark.functions.imageops import (
        encode_qvid,
        image_features,
        sample_frames,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    @F.pandas_udf("binary")
    def _gen(ids: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for i in ids:
            i = int(i)
            nfr = 3 + i % 4
            base = np.add.outer(
                np.arange(16, dtype=np.uint16), np.arange(16, dtype=np.uint16)
            )
            frames = [
                np.stack(
                    [((base * (k + 1) + i + f * 17) % 256) for k in range(3)],
                    axis=-1,
                ).astype(np.uint8)
                for f in range(nfr)
            ]
            b = encode_qvid(frames, "jpeg")
            out.append(b[:7] if i % 10 == 0 else b)
        return pd.Series(out, dtype=object)

    vids = docs.select(
        F.col("doc_id").alias("video_id"), _gen(F.col("doc_id")).alias("bytes")
    )
    fr = sample_frames(vids, "video_id", "bytes", every_k=2)
    return fr.select(
        "video_id",
        "frame_no",
        "fmt",
        F.length("frame").alias("n_bytes"),
        image_features(F.col("frame"), F.col("fmt"))
        .getField("phash64")
        .alias("phash64"),
    )


def q_url_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + URL-level dedup (the CommonCrawl/C4 pre-step):
    deliberately messy URLs derived from (source, doc_id) — uppercase
    schemes/hosts, default ports, fragments, utm/fbclid tracking params,
    trailing slashes — canonicalized by pure scan-stage regexp folds, then
    grouped to (canonical_url, n_variants). The gate a recrawl dedups on."""
    from corpusama_spark.functions.urls import canonical_url

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    m = F.pmod(F.col("doc_id"), F.lit(5))
    base = F.concat(F.lit("example-"), F.col("source"), F.lit(".com"))
    path = F.concat(F.lit("/a/"), (F.col("doc_id") % 40).cast("string"))
    url = (
        F.when(m == 0, F.concat(F.lit("http://"), base, path))
        .when(m == 1, F.concat(F.lit("HTTP://"), F.upper(base), F.lit(":80"), path, F.lit("/")))
        .when(m == 2, F.concat(F.lit("http://"), base, path, F.lit("?utm_source=feed&utm_medium=rss")))
        .when(m == 3, F.concat(F.lit("http://"), base, path, F.lit("#section-2")))
        .otherwise(F.concat(F.lit("https://"), base, F.lit(":443"), path, F.lit("?id=9&fbclid=XYZ")))
    )
    return (
        docs.select(canonical_url(url).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(F.count("*").alias("n_variants"))
    )


def q_incr_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of a new batch against an existing corpus (the S2
    checkpoint-scan companion): fingerprints of the indexed half (doc_id <
    250) anti-join the incoming half — only genuinely-new content survives.
    The anti-join broadcasts when the index fits, otherwise hash-shuffles
    on the fingerprint; either way bytes never move, only 32-hex keys."""
    from corpusama_spark.operators.textstats import fingerprint

    docs = _t(spark, sf_dir, "documents")
    fps = docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))
    history = fps.where(F.col("doc_id") < 250).select("fp")
    incoming = fps.where(F.col("doc_id") >= 250)
    return incoming.join(history, "fp", "left_anti").select("doc_id", "fp")


def q_caption_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phash-bucket skew report (the north rule's partitioning story,
    measured): row counts per pmod(phash, 32) bucket with share /
    skew-vs-mean / suggested salt factor — the table that justifies (or
    clears) explicit salting before the bucketed image-dedup shuffle.
    Reuses the generic skew_report kernel (X68) over the oracled phash
    population."""
    from corpusama_spark.operators.skew import skew_report

    pop = _phash_population(_t(spark, sf_dir, "documents"))
    buckets = pop.select(F.pmod(F.col("code"), F.lit(32)).alias("bucket"))
    return skew_report(buckets, "bucket", top_n=32)


def q_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit V(N)=K·N^β via the
    first-occurrence trick (see operators/textstats.py:heaps_fit) —
    sub-Heaps growth is the corpus-level duplication alarm."""
    from corpusama_spark.operators.textstats import heaps_fit

    return heaps_fit(_t(spark, sf_dir, "documents"), "text", "doc_id")


def _image_dims(docs: DataFrame) -> DataFrame:
    """Deterministic (doc_id, w, h) image-dimension population: integer
    arithmetic on doc_id (portable verbatim to the DuckDB twin), spanning
    ~0.2-3:1 aspect ratios, with every 97th row given h=0 to exercise the
    bad-dims NULL-bucket path."""
    return docs.select(
        "doc_id",
        (F.lit(256) + (F.col("doc_id") * 37) % 1280).cast("int").alias("w"),
        F.when(F.col("doc_id") % 97 == 0, F.lit(0))
        .otherwise(F.lit(256) + (F.col("doc_id") * 53) % 1280)
        .cast("int")
        .alias("h"),
    )


def q_aspect_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SDXL-style aspect-ratio bucketing summary: every image assigned to
    the log-nearest bucket of a fixed ladder by a pure in-row array_min
    (zero joins/shuffles for the assignment), then the per-bucket packing
    table (n, share, mean crop waste, mean megapixels). Dims synthesized
    deterministically from doc_id; h=0 rows land in the NULL bucket row."""
    from corpusama_spark.operators.buckets import aspect_bucket_summary

    dims = _image_dims(_t(spark, sf_dir, "documents"))
    summ = aspect_bucket_summary(dims, "w", "h")
    # contract layer: sentinel-fill the NULL (bad-dims) bucket row so the
    # compare never rides on None-vs-NaN representation differences
    return summ.select(
        F.coalesce("bucket_id", F.lit(-1)).alias("bucket_id"),
        F.coalesce("bucket_w", F.lit(-1)).alias("bucket_w"),
        F.coalesce("bucket_h", F.lit(-1)).alias("bucket_h"),
        "n",
        F.coalesce("mean_waste", F.lit(-1.0)).alias("mean_waste"),
        "mean_mpix",
        "share",
    ).orderBy("bucket_id")


def q_phash_dist_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-distance histogram of phash candidate pairs at d<=7 — the
    threshold-tuning table image dedup reads before picking its cutoff.
    8 bands of 8 bits make the banded join pigeonhole-complete for k=7
    (7 < 8 bands), so the brute-force DuckDB twin checks the exact
    distance distribution, not a sample of it."""
    from corpusama_spark.operators.dedup import hamming_band_pairs

    pop = _phash_population(_t(spark, sf_dir, "documents"))
    pairs = hamming_band_pairs(pop, "id", "code", bands=8, hamming_k=7)
    return (
        pairs.groupBy("hamming")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("hamming")
    )


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware train/val split audit: deterministic hash_split
    (90/10) over the image population, then count near-dup pairs (d<=3)
    by the UNORDERED split pair they straddle — the train->val leakage
    table an eval-contamination review reads. Pair labels normalize with
    least/greatest so (train,val) and (val,train) are one row."""
    from corpusama_spark.operators.curation import hash_split
    from corpusama_spark.operators.dedup import hamming_band_pairs

    pop = _phash_population(_t(spark, sf_dir, "documents"))
    pairs = hamming_band_pairs(pop, "id", "code", bands=4, hamming_k=3)
    # the split is a pure hash of the id, so re-derive it on both pair
    # endpoints inline — zero joins ride on the pair table
    weights = {"train": 0.9, "val": 0.1}
    labeled = pairs.select(
        hash_split(F.col("id_a"), weights).alias("split_a"),
        hash_split(F.col("id_b"), weights).alias("split_b"),
    )
    return (
        labeled.select(
            F.least("split_a", "split_b").alias("s_lo"),
            F.greatest("split_a", "split_b").alias("s_hi"),
        )
        .groupBy("s_lo", "s_hi")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("s_lo", "s_hi")
    )


def q_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota sampling (the C4 cap-pages-per-domain rule): at
    most 5 docs kept per synthetic registered domain, chosen by
    deterministic md5 rank — one group-keyed exchange, retry-safe, stable
    under repartition. Returns the kept (doc_id, domain) rows."""
    from corpusama_spark.operators.curation import quota_sample

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("example-"), F.col("source"), F.lit(".com")).alias(
            "domain"
        ),
    )
    return quota_sample(docs, "domain", "doc_id", quota=5).orderBy(
        "domain", "doc_id"
    )


def q_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram over the image phash components:
    (cluster_size, n_clusters, n_rows) — the dedup-aggressiveness report
    (a fat tail of giant clusters means the threshold is too loose; all
    singletons means dedup is a no-op). Two constant-width aggs ride on
    the keeplist's component ids."""
    from corpusama_spark.operators.components import connected_components
    from corpusama_spark.operators.dedup import hamming_band_pairs

    pop = _phash_population(_t(spark, sf_dir, "documents"))
    pairs = hamming_band_pairs(pop, "id", "code", bands=4, hamming_k=3)
    comp = connected_components(pairs)
    members = pop.select("id").join(comp, "id", "left").select(
        F.coalesce(F.col("component"), F.col("id")).alias("component")
    )
    sizes = members.groupBy("component").agg(
        F.count("*").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count("*").alias("n_clusters"),
            (F.count("*") * F.col("cluster_size")).alias("n_rows"),
        )
        .orderBy("cluster_size")
    )


def q_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson PPS subsample of documents (p = n_chars/1024, capped at 1)
    with Horvitz-Thompson inverse-inclusion weights: the budgeted
    quality-audit sample where long docs are proportionally likelier but
    weighted back down so weighted sums stay unbiased. rate = 1/2^10
    keeps the keep decision IEEE-exact and therefore bit-portable to the
    DuckDB twin."""
    from corpusama_spark.operators.curation import pps_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return pps_sample(docs, "doc_id", "n_chars", 1.0 / 1024.0).orderBy(
        "doc_id"
    )


def q_neighbor_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hop quality smoothing over the phash near-dup graph: for every
    image with near-duplicates (hamming <= 3 via banded LSH), its own
    length score, the neighborhood mean, and the divergence — the
    degraded-mirror / spam-mutation signal. Scores are integers
    (n_chars), so the neighborhood mean is an exact int/int divide and
    bit-identical across engines and partitionings."""
    from corpusama_spark.operators.curation import neighbor_score_stats
    from corpusama_spark.operators.dedup import hamming_band_pairs

    docs = _t(spark, sf_dir, "documents")
    pop = _phash_population(docs)
    pairs = hamming_band_pairs(pop, "id", "code", bands=4, hamming_k=3)
    # twin rows (id + 1_000_000) inherit their base doc's length score
    scores = docs.select(
        F.col("doc_id").cast("long").alias("id"),
        F.col("n_chars").alias("score"),
    ).unionByName(
        docs.select(
            (F.col("doc_id") + F.lit(1000000)).cast("long").alias("id"),
            F.col("n_chars").alias("score"),
        )
    )
    return neighbor_score_stats(pairs, scores).orderBy("id")


def q_boiler_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc boilerplate share over the dup-lines decorated corpus:
    the metric-only twin of dup_lines — count/share of corpus-duplicated
    lines per doc, never rebuilding text. Same decoration as dup_lines
    (corpus-wide, per doc_id%5, per doc_id%300 multiplicities) so both
    sides of the threshold are exercised at every scale factor."""
    from corpusama_spark.operators.curation import boilerplate_share

    docs = _t(spark, sf_dir, "documents")
    mt = F.concat_ws(
        "\n",
        F.lit(DUP_TOP),
        F.concat(
            F.lit("Sec "), (F.col("doc_id") % 5).cast("string"), F.lit(": intro")
        ),
        F.col("text"),
        F.concat(F.lit("ref "), (F.col("doc_id") % 300).cast("string")),
        F.lit(DUP_BOT),
    )
    return boilerplate_share(
        docs.select("doc_id", mt.alias("text")), threshold=3
    ).orderBy("doc_id")


def q_best_keeplist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup reduction: the dedup_keeplist cluster graph
    (chains + links edges -> connected components) but the canonical is
    the LONGEST member per cluster (n_chars desc, id asc) instead of
    min-id — keep the least-degraded mirror, the policy a production
    corpus build actually wants. Docs outside any edge keep themselves.
    Oracle: recursive-CTE closure + row_number over (n_chars DESC, id)."""
    from corpusama_spark.operators.components import (
        canonical_by_score,
        connected_components,
    )

    docs = _t(spark, sf_dir, "documents")
    chains = docs.where(F.col("doc_id") % 5 != 4).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    )
    links = docs.where(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 7).alias("id_b")
    )
    comp = connected_components(chains.unionByName(links), fixed_iters=12)
    scores = docs.select(
        F.col("doc_id").alias("id"), F.col("n_chars").alias("score")
    )
    best = canonical_by_score(comp, scores)
    return (
        docs.select("doc_id")
        .join(best, docs.doc_id == best.id, "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("component"),
            F.coalesce("keep", F.lit(True)).alias("keep"),
        )
        .orderBy("doc_id")
    )


def q_domain_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes domain quality ranking: per synthetic registered
    domain (derived from `source`, 20 domains), the raw mean doc length
    and the mean shrunk toward the corpus mean with prior strength k=20
    — the host-level gate that stops a 3-page domain with one lucky
    long doc from outranking a large consistently-good one. Integer
    sums keep both engines bit-identical through the float shrinkage."""
    from corpusama_spark.operators.curation import eb_shrunk_means

    docs = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("example-"), F.col("source"), F.lit(".com")).alias(
            "domain"
        ),
        "n_chars",
    )
    return eb_shrunk_means(docs, "domain", "n_chars", 20.0).orderBy("domain")


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-batch hard-negative mining over the embeddings table: within
    each deterministic batch (vec_id % 8), every anchor's 3 most-
    cosine-similar different-label rows — the contrastive-training
    negative sampler. Batch equi-join keeps the quadratic local
    (rows * batch_size total work, never all-pairs); ranking on the
    6-dp-rounded cosine with an id tie-break is engine-portable."""
    from corpusama_spark.operators.similarity import in_batch_hard_negatives

    emb = _t(spark, sf_dir, "embeddings")
    return in_batch_hard_negatives(
        emb, "vec_id", "embedding", "label", n_batches=8, k=3
    ).orderBy("anchor_id", "rnk")


def q_caption_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Caption-farm detector: keys (16-char lowered text prefixes — the
    synthetic caption stand-in) that appear on >= 2 rows, with how many
    DISTINCT sources carry each. A caption reused across many sources is
    generator boilerplate ('image may contain ...') that poisons
    contrastive training even though no (caption, image) pair is an
    exact duplicate. One two-phase groupBy; output is keys-sized."""
    from corpusama_spark.operators.curation import cross_reuse_stats

    docs = _t(spark, sf_dir, "documents").select(
        F.substring(
            F.lower(F.coalesce(F.col("text"), F.lit(""))), 1, 16
        ).alias("caption_key"),
        "source",
    )
    return cross_reuse_stats(docs, "caption_key", "source", min_rows=2).orderBy(
        "caption_key"
    )


def q_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type linear trend of value over time (OLS slope,
    intercept, r2 via single-pass regr_* aggregates) — the 'which
    sources are degrading' monitor. x is whole epoch seconds centered
    on 2024-01-01 BEFORE the moments accumulate, so the sum-of-squares
    stays small enough that engines agree at 6 dp."""
    from corpusama_spark.operators.trends import grouped_trend

    ev = _t(spark, sf_dir, "events")
    return grouped_trend(
        ev,
        "event_type",
        F.unix_timestamp(F.col("ts")).cast("double"),
        F.col("value"),
        x_offset=1704067200.0,
    ).orderBy("event_type")


def q_score_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile normalization of doc length WITHIN each source:
    percent_rank over (partition by source order by n_chars). Raw
    scores aren't comparable across sources; the within-source
    percentile makes one global keep threshold meaningful. Rank
    arithmetic — deterministic under ties, bit-portable."""
    from corpusama_spark.operators.curation import within_group_percentile

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return within_group_percentile(docs, "source", "n_chars").orderBy("doc_id")


def q_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-cluster label QA over the chains+links component graph:
    per cluster, size, majority language (ties -> smallest) and purity.
    Cross-language clusters are LSH false-merge symptoms; this is the
    audit that catches them before the keeplist deletes good docs."""
    from corpusama_spark.operators.components import (
        cluster_purity,
        connected_components,
    )

    docs = _t(spark, sf_dir, "documents")
    chains = docs.where(F.col("doc_id") % 5 != 4).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    )
    links = docs.where(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 7).alias("id_b")
    )
    comp = connected_components(chains.unionByName(links), fixed_iters=12)
    labels = docs.select(
        F.col("doc_id").alias("id"), F.col("lang").alias("label")
    )
    return cluster_purity(comp, labels).orderBy("component")


def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional shingle containment over the perturbed corpus: every
    pair where either direction's |∩|/|A| reaches 0.7 — the
    quote/excerpt detector Jaccard misses (a paragraph embedded in a
    100x larger page). Same inverted-index + df-cap shape as
    jaccard_exact; integer count ratios keep engines bit-identical."""
    from corpusama_spark.operators.dedup import containment_pairs

    return containment_pairs(
        _perturbed_docs(spark, sf_dir),
        "text",
        "doc_id",
        threshold=0.7,
        shingle_n=3,
        max_df=32,
    ).orderBy("id_a", "id_b")


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-source length outliers: median/MAD z-score with the
    0.6745 consistency constant, |z| > 3.5 flagged — the robust-location
    gate a handful of pathological docs can't drag (a mean/stddev gate
    they can). Both medians are exact type-1 rank selections (dyadic
    q=0.5), integer through the deviation pass; degenerate MAD=0 groups
    emit NULL rather than a divide-by-zero."""
    from corpusama_spark.operators.quantiles import mad_outliers

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return mad_outliers(docs, "source", "n_chars", z_thresh=3.5).orderBy(
        "doc_id"
    )


def q_tfidf_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse-vector near-dup tier: TF-IDF cosine >= 0.6 pairs over the
    perturbed corpus via an inverted term index with df-cap 32 — catches
    shared-vocabulary rewrites that shingle Jaccard misses and embedding
    cosine needs a model for. The DuckDB twin re-derives the identical
    tf/idf/norm chain."""
    from corpusama_spark.operators.similarity import tfidf_pairs

    return tfidf_pairs(
        _perturbed_docs(spark, sf_dir),
        "text",
        "doc_id",
        threshold=0.6,
        max_df=32,
    ).orderBy("id_a", "id_b")


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase over the events
    stream: per step, users who reached it IN ORDER (first-touch, strict
    microsecond-exact 'after'). N-1 user-keyed semi-join stages, each
    narrower than the last — the where-do-we-lose-documents shape for
    ingest pipelines, unchanged for product analytics."""
    from corpusama_spark.operators.funnel import funnel_steps

    ev = _t(spark, sf_dir, "events")
    return funnel_steps(ev, ["view", "click", "purchase"])


def q_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-cohort retention triangle: users bucketed by first-event day,
    distinct-user counts per (cohort_day, day_offset). Cohort day is an
    ISO string so the result is dtype-stable across engines."""
    from corpusama_spark.operators.funnel import cohort_retention

    return cohort_retention(_t(spark, sf_dir, "events"))


def q_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram audit of a [0,1] quality score: the
    within-source length percentile (X-family score_percentile) binned
    into fixed deciles against the outcome 'doc mentions «query»' —
    longer docs are likelier to, so a calibrated score shows a rising
    pos_rate. Fixed-width bins keep it scan-stage (never ntile/global
    sort); this is the audit run before a threshold deletes a petabyte."""
    from corpusama_spark.operators.classifier import calibration_bins
    from corpusama_spark.operators.curation import within_group_percentile

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars", "text"
    )
    scored = within_group_percentile(docs, "source", "n_chars").select(
        "pct", F.col("text").rlike(r"\bquery\b").alias("has_query")
    )
    return calibration_bins(scored, "pct", "has_query", bins=10)


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank over a deterministic synthetic link graph
    (tree edge doc→⌊doc/2⌋ concentrating authority at the root + a
    modular mixing edge doc→(13·doc+7) mod 97) — the domain-authority
    signal crawl curation ranks frontiers with. Fixed iterations,
    uniform init, documented dangling-mass leak; the DuckDB twin
    unrolls the identical three rounds."""
    from corpusama_spark.operators.components import pagerank

    docs = _t(spark, sf_dir, "documents")
    e1 = docs.where(F.col("doc_id") > 0).select(
        F.col("doc_id").alias("src"),
        F.floor(F.col("doc_id") / 2).cast("long").alias("dst"),
    )
    e2 = docs.select(
        F.col("doc_id").alias("src"),
        F.pmod(F.col("doc_id") * 13 + 7, F.lit(97)).cast("long").alias("dst"),
    )
    return pagerank(e1.unionByName(e2), iters=3, damping=0.85).orderBy("id")


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document: words / sentence runs /
    vowel-group syllables as integer regexp folds, the standard
    dictionary-free readability estimate — both spam-correlated tails
    (too hard, too easy) are stock quality-filter features."""
    from corpusama_spark.operators.textstats import flesch_reading_ease

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", flesch_reading_ease(F.col("text")).alias("s")
    ).select(
        "doc_id",
        F.col("s.words").alias("words"),
        F.col("s.sentences").alias("sentences"),
        F.col("s.syllables").alias("syllables"),
        F.col("s.flesch").alias("flesch"),
    ).orderBy("doc_id")


def q_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily ingest-volume anomalies per event type: each day's count
    z-scored against the trailing 7 days (current day excluded so a
    spike can't mask itself) — the 'source X just doubled / went dark'
    monitor. The window runs over the tiny (type, day) rollup, never
    raw events."""
    from corpusama_spark.operators.trends import rate_anomaly

    return rate_anomaly(
        _t(spark, sf_dir, "events"), trailing=7, z_thresh=2.0
    ).orderBy("event_type", "day")


def q_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production image-dedup cascade over the phash catalog: content
    hashes (ids folded mod 350 so later ids byte-duplicate earlier
    ones; twins never do) feed the cheap exact pass, then banded phash
    LSH + components run on survivors only, with TRANSITIVE canonicals.
    The oracle re-derives exact groups, O(n²) hamming pairs, and the
    recursive closure over the identical survivor set."""
    from corpusama_spark.operators.dedup import dedup_cascade

    pop = _phash_population(_t(spark, sf_dir, "documents"))
    cat = pop.withColumn(
        "chash",
        F.when(
            F.col("id") < 1000000,
            F.md5(F.concat(F.lit("c-"), (F.col("id") % 350).cast("string"))),
        ).otherwise(
            F.md5(F.concat(F.lit("c-t-"), F.col("id").cast("string")))
        ),
    )
    return dedup_cascade(
        cat, "chash", "id", "code", bands=4, hamming_k=3
    ).orderBy("id")


def q_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE rollup over (source, lang) with grouping_id and '(all)'
    sentinel labels — every subtotal tier of the corpus-composition
    report in ONE pass (Spark expands grouping sets map-side; no
    4-scan union). Doc counts and char sums are exact integers."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.cube("source", "lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.grouping_id().cast("long").alias("gid"),
        )
        .select(
            # gid bit layout: first cube column is the high bit
            F.when(F.col("gid").bitwiseAND(2) != 0, F.lit("(all)"))
            .otherwise(F.col("source"))
            .alias("source"),
            F.when(F.col("gid").bitwiseAND(1) != 0, F.lit("(all)"))
            .otherwise(F.col("lang"))
            .alias("lang"),
            "n_docs",
            "n_chars",
            "gid",
        )
        .orderBy("gid", "source", "lang")
    )


def q_except_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset EXCEPT ALL / INTERSECT ALL coverage: even-id docs vs
    English docs, per-language row counts of both set results — the
    audit shape for 'what did this corpus revision add/remove'."""
    docs = _t(spark, sf_dir, "documents")
    a = docs.where(F.col("doc_id") % 2 == 0).select("doc_id", "lang")
    b = docs.where(F.col("lang") == "en").select("doc_id", "lang")
    ex = a.exceptAll(b).groupBy("lang").agg(
        F.count("*").cast("long").alias("n")
    ).select(F.lit("except").alias("op"), "lang", "n")
    ix = a.intersectAll(b).groupBy("lang").agg(
        F.count("*").cast("long").alias("n")
    ).select(F.lit("intersect").alias("op"), "lang", "n")
    return ex.unionByName(ix).orderBy("op", "lang")


def _scored_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared (pct, has_query) scoring pair for the model-QA family:
    within-source length percentile as the score, 'mentions «query»' as
    the outcome — longer docs are likelier to, so a sane score shows
    AUC > 0.5 and a rising PR tradeoff."""
    from corpusama_spark.operators.curation import within_group_percentile

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars", "text"
    )
    return within_group_percentile(docs, "source", "n_chars").select(
        "pct", F.col("text").rlike(r"\bquery\b").alias("has_query")
    )


def q_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC (Mann-Whitney with midrank ties, integer until the
    final divide) of the length-percentile score against the
    mentions-«query» outcome — the threshold-free ranking-quality
    number for the calibration/PR family."""
    from corpusama_spark.operators.classifier import auc_score

    return auc_score(_scored_docs(spark, sf_dir), "pct", "has_query")


def q_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 at t = 1/10 … 9/10 over the same scoring
    pair — the operating-point table a deployment picks its keep
    threshold from. One corpus read for all thresholds (broadcast
    threshold crossJoin, map-side combine); vacuous points report 0.0
    with n_pred exposing vacuity (no NULL floats)."""
    from corpusama_spark.operators.classifier import pr_curve

    return pr_curve(_scored_docs(spark, sf_dir), "pct", "has_query", 9)


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, 5 docs per source with
    probability proportional to length (Efraimidis-Spirakis keys
    ln(u)/w from md5-derived u) — fixed sample size where PPS Poisson
    can't pin it, retry-safe where rand() isn't. One group-keyed
    window top-k; the DuckDB twin re-derives the identical keys."""
    from corpusama_spark.operators.curation import weighted_sample_topk

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return weighted_sample_topk(
        docs, "source", "doc_id", "n_chars", k=5
    ).orderBy("source", "rnk")


def q_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus balance report over sources: Gini of group sizes
    (integer arithmetic until the final divide), Shannon entropy,
    normalized entropy, top group share — the data-mixing pre-flight
    that says whether temperature reweighting is needed before
    training. The corpus collapses to a groups-sized table first."""
    from corpusama_spark.operators.skew import concentration_stats

    return concentration_stats(_t(spark, sf_dir, "documents"), "source")


def q_decayed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted value means per event type (half-life 7 days,
    FIXED anchor 2024-02-01 so the result is reproducible on any
    engine at any time) next to the plain mean — the freshness-
    weighted drift report."""
    from corpusama_spark.operators.trends import decayed_mean

    return decayed_mean(
        _t(spark, sf_dir, "events"),
        "event_type",
        "ts",
        "value",
        half_life_days=7.0,
        anchor="2024-02-01",
    ).orderBy("event_type")


def q_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM context chunking: 64-token windows with 16-token overlap per
    document (final window runs short rather than padding) — pure
    per-row array arithmetic, zero shuffle, output exactly
    rows × ceil(n/stride). The DuckDB twin re-slices the identical
    token arrays."""
    from corpusama_spark.operators.curation import chunk_windows

    return chunk_windows(
        _t(spark, sf_dir, "documents"), "text", "doc_id", size=64, overlap=16
    ).orderBy("doc_id", "chunk_idx")


def q_kappa_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa per source between two cheap keep gates (a char-
    length rule and a space-count token proxy) — chance-corrected
    agreement with the full confusion matrix, integer arithmetic to the
    final divides."""
    from corpusama_spark.operators.classifier import cohen_kappa

    docs = _t(spark, sf_dir, "documents")
    txt = F.coalesce(F.col("text"), F.lit(""))
    gate_a = F.col("n_chars") >= 300
    gate_b = (
        F.length(txt) - F.length(F.regexp_replace(txt, " ", ""))
    ) >= 49
    return cohen_kappa(docs, gate_a, gate_b, "source").orderBy("source")


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event type between the first and
    second half of January (fixed split 2024-01-16, fixed width-50
    value bins): the model-monitoring drift gate, with excluded-bin
    coverage exposed instead of epsilon-clamped away."""
    from corpusama_spark.operators.drift import psi_report

    return psi_report(
        _t(spark, sf_dir, "events"),
        "event_type",
        "value",
        "ts",
        "2024-01-16",
        bin_width=50.0,
        n_bins=10,
    ).orderBy("event_type")


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov D per event type between
    pre- and post-2024-01-16 value distributions, computed on the full
    data via per-distinct-value counts + one cumulative window — plus
    the value where the CDFs diverge most."""
    from corpusama_spark.operators.drift import ks_statistic

    return ks_statistic(
        _t(spark, sf_dir, "events"), "event_type", "value", "ts", "2024-01-16"
    ).orderBy("event_type")


def q_jsd_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of each source's unigram distribution
    vs the REST of the corpus — group-local join via the closed-form
    absent-word mass, never a group×vocabulary cross product."""
    from corpusama_spark.operators.drift import js_divergence

    return js_divergence(
        _t(spark, sf_dir, "documents"), "source", "text"
    ).orderBy("source")


def q_neyman_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal audit-budget allocation over sources (budget
    1000) from exact integer moments of n_chars, largest-remainder
    rounded so allocations sum to exactly the budget."""
    from corpusama_spark.operators.curation import neyman_allocation

    return neyman_allocation(
        _t(spark, sf_dir, "documents"), "source", "n_chars", 1000
    ).orderBy("source")


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multiplier-bootstrap CI for mean n_chars per
    source: 64 hash-weighted replicates (double-or-nothing weights from
    md5, integer sums), CI = dyadic [1/32, 31/32] rank band of the
    replicate means. No RNG anywhere."""
    from corpusama_spark.operators.drift import bootstrap_mean_ci

    return bootstrap_mean_ci(
        _t(spark, sf_dir, "documents"), "source", "n_chars", "doc_id", b=64
    ).orderBy("source")


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout assignment: interleave the bits of
    n_chars and a 16-bit source hash, bucket rows by z-rank into 16
    files — the Delta/Iceberg OPTIMIZE ZORDER key as a pure JVM bit
    expression, contract-pinned via the deterministic ntile twin of
    repartitionByRange."""
    from corpusama_spark.operators.layout import zorder_buckets

    docs = _t(spark, sf_dir, "documents")
    k2 = F.conv(F.substring(F.md5(F.col("source")), 1, 4), 16, 10).cast(
        "long"
    )
    return zorder_buckets(
        docs, "doc_id", F.col("n_chars"), k2, nbuckets=16
    ).orderBy("doc_id")


def q_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked Levenshtein near-duplicate pairs (record-linkage
    blocking: normalized prefix + suffix keys, flood-guarded, length
    prefilter, JVM levenshtein verify ≤ 6). Catches few-character-edit
    twins that shingle-based MinHash/SimHash miss."""
    from corpusama_spark.operators.fuzzy import edit_near_pairs

    return edit_near_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id", max_dist=6
    ).orderBy("id_a", "id_b")


def q_cusum_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point locator per event type over daily means:
    argmax |Σ(x_d − x̄)| names the day the level moved, with pre/post
    means quantifying the shift. Corpus collapses to (type, day) before
    any window."""
    from corpusama_spark.operators.trends import cusum_shift

    return cusum_shift(
        _t(spark, sf_dir, "events"), "event_type", "ts", "value"
    ).orderBy("event_type")


def q_compress_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compression-ratio quality gate (rows-only: DEFLATE has no
    SQL twin; pytest computes the parity oracle in-process). Arrow-
    batched pandas UDF ships two integers per row back to the JVM."""
    from corpusama_spark.functions.compressq import compression_gate

    return compression_gate(
        _t(spark, sf_dir, "documents"), "text", "doc_id"
    ).orderBy("doc_id")


def q_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch audit for the 20 most frequent tokens: exact
    count vs what a 4×256 md5-hashed CMS reports (integer end to end;
    est ≥ exact is the checkable sketch invariant). The sketch is built
    from the vocabulary count table, vocab×depth cost."""
    from corpusama_spark.operators.sketches import cms_heavy_hitters

    return cms_heavy_hitters(
        _t(spark, sf_dir, "documents"), "text", depth=4, width=256, k=20
    )


def q_hll_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user estimate per event type (m=64
    registers, md5-derived, leading-zero ranks via exact bit-length)
    next to the exact count and relative error — the sketch
    qualification table; no engine-private hashing anywhere."""
    from corpusama_spark.operators.sketches import hll_distinct

    return hll_distinct(
        _t(spark, sf_dir, "events"), "event_type", "user_id", p=6
    ).orderBy("event_type")


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic relational k-means (k=4, 2 Lloyd iterations,
    lowest-id init, 6dp-pinned centroids): final cluster per vector
    with squared L2 to the winning centroid. The iterative-ML pattern
    as pure DataFrame algebra, DuckDB-twinned."""
    from corpusama_spark.operators.kmeans import kmeans_assign

    return kmeans_assign(
        _t(spark, sf_dir, "embeddings"), "vec_id", "embedding", k=4, iters=2
    ).orderBy("vec_id")


def q_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalize every source's n_chars distribution onto
    src0's — cross-domain score harmonization via integer type-1 rank
    mapping (no float ceil can disagree); reference rows map to
    themselves."""
    from corpusama_spark.operators.quantiles import quantile_normalize

    return quantile_normalize(
        _t(spark, sf_dir, "documents"), "source", "n_chars", "doc_id", "src0"
    ).orderBy("doc_id")


def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token burstiness (Fano factor of per-doc counts, zeros folded in
    analytically) for tokens with df ≥ 20 — content words clump,
    function words sit at the Poisson baseline. Integer moments to the
    final divide."""
    from corpusama_spark.operators.textstats import token_burstiness

    return token_burstiness(
        _t(spark, sf_dir, "documents"), "text", "doc_id", min_df=20
    ).orderBy("tok")


def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source trimmed + winsorized mean of n_chars (dyadic 1/8
    trim so the k-floor is integer-exact): robust 'typical length'
    next to the raw mean in one rank window + one conditional agg."""
    from corpusama_spark.operators.quantiles import trimmed_stats

    return trimmed_stats(
        _t(spark, sf_dir, "documents"), "source", "n_chars", "doc_id",
        trim=0.125,
    ).orderBy("source")


def q_rbo_rankings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap between the frequency-ranked and
    document-frequency-ranked top-50 vocabularies (p=0.9, truncated
    RBO): do the two selection rules agree where it matters? Items
    enter the intersection at max(r_A, r_B), so per-depth overlap is a
    cumulative count — fully relational."""
    from corpusama_spark.operators.ranking import rbo_vocab_rankings

    return rbo_vocab_rankings(
        _t(spark, sf_dir, "documents"), "text", "doc_id", k=50, p=0.9
    )


def q_stream_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING PSI drift monitor driven end-to-end inside the
    contract: post-2024-01-16 events land as a file stream (fresh temp
    src/checkpoint per call), scored per microbatch against the frozen
    pre-split reference histogram via foreachBatch; returns the metrics
    table (one availableNow batch → one row). The oracle recomputes the
    identical excluded-bin PSI relationally — a Structured Streaming
    path whose OUTPUT is DuckDB-oracle-checked."""
    import tempfile

    from corpusama_spark.streaming.drift import (
        reference_histogram,
        stream_batch_drift,
    )

    ev = _t(spark, sf_dir, "events")
    split = F.lit("2024-01-16").cast("timestamp")
    pre = ev.where(F.col("ts") < split)
    post = ev.where(F.col("ts") >= split)
    base = tempfile.mkdtemp(prefix="streamdrift_")
    src = f"{base}/src"
    metrics = f"{base}/metrics"
    ckpt = f"{base}/ckpt"
    post.write.mode("overwrite").parquet(src)
    ref = reference_histogram(pre, "value", 50.0, 10)
    q = stream_batch_drift(
        spark, src, metrics, ckpt, ref, "value", 50.0, 10
    )
    q.awaitTermination()
    return spark.read.parquet(metrics).select("n_rows", "psi", "cur_cover")


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source OOV share against the global top-100 vocabulary —
    occurrence and type OOV rates, the tokenizer-planning table. One
    explode, vocabulary derived from the (source, token) counts, never
    a corpus re-read."""
    from corpusama_spark.operators.textstats import oov_rate

    return oov_rate(
        _t(spark, sf_dir, "documents"), "text", "source", vocab_top=100
    ).orderBy("source")


def q_kmeans_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster k-means quality rollup (n, share, inertia, mean d2)
    over the deterministic Lloyd assignment — the is-k-sane table."""
    from corpusama_spark.operators.kmeans import kmeans_quality

    return kmeans_quality(
        _t(spark, sf_dir, "embeddings"), "vec_id", "embedding", k=4, iters=2
    )


def q_label_centroid_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between per-label embedding centroids (6dp-
    pinned means) — the domain cartography table; labels²/2 × dims
    pair work, corpus read once."""
    from corpusama_spark.operators.similarity import (
        label_centroid_similarity,
    )

    return label_centroid_similarity(
        _t(spark, sf_dir, "embeddings"), "label", "embedding"
    ).orderBy("lab_a", "lab_b")


def q_hill_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill-number diversity profile per source (richness, effective
    vocabulary exp(H), inverse-Simpson head size) — content diversity
    within groups, integer moments except the entropy sum."""
    from corpusama_spark.operators.skew import hill_diversity

    return hill_diversity(
        _t(spark, sf_dir, "documents"), "source", "text"
    ).orderBy("source")


def q_cooc_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census + global clustering coefficient of the top-100
    token co-occurrence graph (edge: ≥3 shared docs) — topic-structure
    diagnostic; oriented a<b<c closure counts each triangle once."""
    from corpusama_spark.operators.components import cooccurrence_triangles

    return cooccurrence_triangles(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        top_tokens=100, min_cooc=3,
    )


def q_drop_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential drop-attribution waterfall over the heuristic quality
    chain: every dropped doc charged to the FIRST failing rule, with
    cumulative drops and survivors per stage — the per-stage budget
    report rule_ablation's order-independent marginals can't give.
    One scan, one coalesce chain, one constant-width agg."""
    from corpusama_spark.functions.textrules import (
        caps_ratio_col,
        digit_ratio_col,
    )
    from corpusama_spark.operators.ablation import drop_waterfall

    docs = _t(spark, sf_dir, "documents")
    t = F.coalesce(F.col("text"), F.lit(""))
    rules = {
        "nanlike": is_nanlike(F.col("text")),
        "short": F.length(t) < 50,
        "alpha": alpha_ratio_col(t) < 0.6,
        "caps": caps_ratio_col(t) > 0.5,
        "digit": digit_ratio_col(t) > 0.2,
    }
    return drop_waterfall(docs, rules, "doc_id")


def q_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-D Wasserstein-1 distance per event type between pre- and
    post-2024-01-16 value distributions (|ΔECDF|·gap summed over the
    pooled support) — transport COST in value units, complementing
    ks_drift's worst vertical gap."""
    from corpusama_spark.operators.drift import wasserstein_1d

    return wasserstein_1d(
        _t(spark, sf_dir, "events"), "event_type", "value", "ts",
        "2024-01-16",
    ).orderBy("event_type")


def q_theil_decomp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality of document length decomposed into between-
    source and within-source components with the exact identity residual
    exposed — says whether source quotas would fix the imbalance."""
    from corpusama_spark.operators.skew import theil_decomposition

    return theil_decomposition(
        _t(spark, sf_dir, "documents"), "source", "n_chars"
    )


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity release audit over the (lang, source, n_chars//100)
    quasi-identifier: min class size, violating classes and rows below
    k=5, singleton fingerprints — one groupBy collapse then a rollup."""
    from corpusama_spark.operators.privacy import k_anonymity

    docs = _t(spark, sf_dir, "documents")
    return k_anonymity(
        docs,
        [
            F.col("lang"),
            F.col("source"),
            F.floor(F.col("n_chars") / 100).alias("len_bucket"),
        ],
        k=5,
    )


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class l-diversity worklist: quasi-identifier classes (source,
    n_chars//200) failing k-anonymity (k=5) or distinct-l-diversity
    (l=2) on the sensitive ``lang`` column, with modal-share disclosure
    risk, worst-first."""
    from corpusama_spark.operators.privacy import l_diversity

    docs = _t(spark, sf_dir, "documents")
    return l_diversity(
        docs,
        [
            F.col("source"),
            F.floor(F.col("n_chars") / 200).alias("len_bucket"),
        ],
        "lang",
        l=2,
        k=5,
    )


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary overlap between sources (distinct-token
    Jaccard + both directional containments) via a token-keyed
    inverted-index self-join — never a cross product."""
    from corpusama_spark.operators.textstats import source_vocab_overlap

    return source_vocab_overlap(
        _t(spark, sf_dir, "documents"), "text", "source"
    )


def q_bleu_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clipped n-gram precision (BLEU-2 with brevity penalty) for
    adjacent-in-class candidate pairs (same (lang, source), consecutive
    doc_id, non-empty texts) — multiplicity-aware overlap verify where
    Jaccard's set semantics are too blunt. Gram count tables built once
    per doc; verify is two equi-joins."""
    from corpusama_spark.operators.fuzzy import bleu_pairs

    docs = _t(spark, sf_dir, "documents").where(
        F.length(F.trim(F.coalesce(F.col("text"), F.lit("")))) > 0
    )
    w = Window.partitionBy("lang", "source").orderBy("doc_id")
    pairs = (
        docs.select(
            F.col("doc_id").alias("id_a"),
            F.lead("doc_id").over(w).alias("id_b"),
        )
        .where(F.col("id_b").isNotNull())
        .where(F.col("id_a") % 7 == 0)
    )
    return bleu_pairs(pairs, docs, "text", "doc_id")


def q_jaccard_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-threshold tuning table over the perturbed corpus: qualifying
    pair count + distinct docs touched + corpus share at five candidate
    Jaccard thresholds, from ONE exact inverted-index pass (the X70
    ground-truth chain) joined to a broadcast threshold list."""
    from corpusama_spark.operators.dedup import jaccard_threshold_sweep

    return jaccard_threshold_sweep(
        _perturbed_docs(spark, sf_dir),
        "text",
        "doc_id",
        [0.5, 0.6, 0.7, 0.8, 0.9],
        shingle_n=3,
        max_df=32,
    )


def q_union_keeplist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-signal dedup keeplist: exact-caption star edges UNIONED with
    banded phash-hamming pairs, one connected-components run over the
    union so canonicals span signals (caption links A-B + phash links
    B-C → one cluster). n_signals exposes cross-signal merges. Oracle:
    recursive-CTE closure over the identical union edge set."""
    from corpusama_spark.operators.components import multi_signal_keeplist
    from corpusama_spark.operators.dedup import hamming_band_pairs

    docs = _t(spark, sf_dir, "documents")
    pop = _phash_population(docs)
    keyed = docs.where(
        F.col("text").isNotNull()
        & (F.length(F.trim(F.col("text"))) > 0)
    ).select(F.col("doc_id").alias("id"), F.md5("text").alias("key"))
    canon = keyed.groupBy("key").agg(F.min("id").alias("canon"))
    caption_edges = (
        keyed.join(canon, "key")
        .where(F.col("id") != F.col("canon"))
        .select(F.col("canon").alias("id_a"), F.col("id").alias("id_b"))
    )
    phash_edges = hamming_band_pairs(
        pop, "id", "code", bands=4, hamming_k=3
    ).select("id_a", "id_b")
    return multi_signal_keeplist(
        pop.select("id"),
        {"caption": caption_edges, "phash": phash_edges},
        id_col="id",
        fixed_iters=12,
    )


def q_dedup_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplicate burden: global md5(text) dedup with
    min-id canonicals, duplicates attributed to the source of the
    duplicate row — the which-source-re-posts table; 16-byte keys are
    the only corpus exchange."""
    from corpusama_spark.operators.dedup import dedup_burden_by_group

    return dedup_burden_by_group(
        _t(spark, sf_dir, "documents"), "text", "doc_id", "source"
    )


def _doc_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality metrics shared by the stats-lane queries: text
    length, whitespace token count, letter-'e' count (a high-variance
    character-frequency signal; digits don't occur in the synth texts,
    which would degenerate every correlation to NULL) — all NULL for
    NULL text so pairwise deletion is exercised."""
    d = _t(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))), r"\s+"),
        lambda w: F.length(w) > 0,
    )
    return d.select(
        "doc_id",
        "source",
        F.length("text").cast("double").alias("text_len"),
        F.when(F.col("text").isNotNull(), F.size(toks))
        .cast("double")
        .alias("n_tokens"),
        (
            F.length("text")
            - F.length(F.replace(F.col("text"), F.lit("e"), F.lit("")))
        )
        .cast("double")
        .alias("n_e"),
    )


def q_metric_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix across three per-doc quality metrics
    from ONE wide aggregate (six sums per pair, map-side combinable):
    the "are these gates redundant?" audit."""
    from corpusama_spark.operators.stats import pearson_matrix

    return pearson_matrix(
        _doc_metrics(spark, sf_dir), ["text_len", "n_tokens", "n_e"]
    )


def q_spearman_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Spearman rho between token count and digit count,
    exact midrank tie handling (rank window + Pearson over ranks)."""
    from corpusama_spark.operators.stats import spearman_by_group

    return spearman_by_group(
        _doc_metrics(spark, sf_dir), "source", "n_tokens", "n_e"
    )


def q_chi2_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence of language × source over the full
    contingency grid (zero-observed cells contribute e), with Cramér's
    V effect size — "is the language mix uniform across crawls?"."""
    from corpusama_spark.operators.stats import chi2_independence

    return chi2_independence(
        _t(spark, sf_dir, "documents"), "lang", "source"
    )


def q_welch_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t between two sources' text-length
    means: one filtered aggregate to six doubles, algebra after."""
    from corpusama_spark.operators.stats import welch_ttest

    return welch_ttest(
        _doc_metrics(spark, sf_dir), "source", "text_len", "src0", "src1"
    )


def q_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary richness (tokens, types, TTR, hapax share):
    one (source, token) groupBy, distinct-key shuffle only."""
    from corpusama_spark.operators.skew import vocab_richness

    return vocab_richness(
        _t(spark, sf_dir, "documents"), "text", "source"
    )


def q_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta stylometric distance between every source pair
    over the top-30 corpus tokens — mirrored-source detection that
    content hashing misses. Grid-sized after one count pass."""
    from corpusama_spark.operators.colloc import burrows_delta

    return burrows_delta(
        _t(spark, sf_dir, "documents"), "text", "source", top_n=30
    )


def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit over events.value: observed
    vs log10(1+1/d) shares with per-digit chi-square terms, zero-filled
    across the 9-digit spine."""
    from corpusama_spark.operators.stats import benford_first_digit

    return benford_first_digit(_t(spark, sf_dir, "events"), "value")


def q_mcnemar_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar paired-gate comparison of two keep rules on the same
    docs (length>=100 vs tokens>=20): the 2x2 disagreement table,
    agreement share and (b-c)^2/(b+c) from one filtered aggregate."""
    from corpusama_spark.operators.stats import mcnemar_gates

    m = _doc_metrics(spark, sf_dir).select(
        (F.col("text_len") >= 100).alias("gate_a"),
        (F.col("n_tokens") >= 20).alias("gate_b"),
    )
    return mcnemar_gates(m, "gate_a", "gate_b")


def q_template_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source longest-common-prefix boilerplate detector via the
    lexicographic min/max trick (LCP of a set = LCP(min, max)); a
    deterministic '[source] ' template is injected so the extraction
    path is exercised, not just the empty case."""
    from corpusama_spark.operators.curation import template_prefix

    d = _t(spark, sf_dir, "documents").select(
        "source",
        F.when(
            F.col("text").isNotNull(),
            F.concat(F.lit("["), F.col("source"), F.lit("] "), F.col("text")),
        ).alias("text"),
    )
    return template_prefix(d, "text", "source")


def q_acf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-count autocorrelation at lags 1-7 over the zero-filled day
    spine: the seasonality probe a drift monitor needs before its
    thresholds mean anything. Corpus collapses to (day, n) first; the
    single-partition window runs over days, never events."""
    from corpusama_spark.operators.trends import daily_autocorrelation

    return daily_autocorrelation(
        _t(spark, sf_dir, "events"), "ts", max_lag=7
    )


def q_band_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Occupancy histogram of the phash LSH bands (4 x 15-bit keys over
    the 60-bit code): bucket_size -> n_buckets / n_rows / shares with
    the heavy-tail cumulative — the flood-guard planning view."""
    from corpusama_spark.operators.skew import bucket_size_histogram

    pop = _phash_population(_t(spark, sf_dir, "documents"))
    banded = pop.select(
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("bnd"), "code"
    ).select(
        "bnd",
        F.expr("shiftright(code, cast(15 * bnd as int)) & 32767").alias(
            "bkey"
        ),
    )
    return bucket_size_histogram(banded, ["bnd", "bkey"])


def q_caption_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same image, different caption: phash-hamming near-dup pairs
    (banded LSH, pigeonhole-complete at k=3 < 4 bands) whose caption
    token Jaccard is below tau — the labeling-noise re-adjudication
    worklist. Oracle is brute-force O(n^2) hamming + list_intersect."""
    from corpusama_spark.operators.dedup import near_dup_caption_divergence

    docs = _t(spark, sf_dir, "documents")
    # captions for the twin rows (+1000000 ids): id%20==0 keeps the base
    # caption (non-divergent), the rest get a 12-char prefix (divergent)
    twin_caps = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.when(
            F.col("doc_id") % 20 == 0, F.col("text")
        ).otherwise(F.substring("text", 1, 12)).alias("text"),
    )
    caps = docs.select("doc_id", "text").unionByName(twin_caps)
    return near_dup_caption_divergence(
        _phash_population(docs), caps, "text", "doc_id",
        bands=4, hamming_k=3, tau=0.5,
    )


def q_knn_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-degree distribution of the exact k=5 cosine neighbor graph
    over the embeddings table, zero-degree vectors included — the
    hub/anti-hub audit run before any similarity-based curation."""
    from corpusama_spark.operators.similarity import knn_hubness

    return knn_hubness(_t(spark, sf_dir, "embeddings"), k=5)


def q_label_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid cohesion + nearest confusable label + margin
    (linear silhouette stand-in); centroids pinned at 6 dp so engines
    agree."""
    from corpusama_spark.operators.similarity import label_cohesion

    return label_cohesion(
        _t(spark, sf_dir, "embeddings"), "label", "embedding"
    )


def q_ess_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kish effective-sample-size audit per event_type over a derived
    weight (value - 1.0, so negative weights exercise the n_bad path)
    with the weighted mean of the props payload length — the sanity
    gate any weighted pipeline stage (DSIR, temperature mixing, HT
    estimates) runs before trusting its weighted numbers."""
    from corpusama_spark.operators.stats import weighted_ess

    ev = (
        _t(spark, sf_dir, "events")
        .withColumn("w", F.col("value") - F.lit(1.0))
        .withColumn("vlen", F.length("props").cast("double"))
    )
    return weighted_ess(ev, "event_type", "w", value_col="vlen")


def q_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day content novelty over the events stream (key = user_id):
    share of each day's rows carrying a key first seen that day, plus
    the cumulative distinct-key count — the "is this crawl still
    finding anything new?" curve. Day is an ISO string so the result
    is dtype-stable across engines."""
    from corpusama_spark.operators.drift import novelty_rate

    ev = _t(spark, sf_dir, "events")
    return novelty_rate(
        ev, "user_id", F.date_format("ts", "yyyy-MM-dd"), "event_id"
    )


def q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information + uncertainty coefficients between source and
    language over documents — the effect-size companion to
    chi2_lang_source ("HOW MUCH does source predict language?" on a
    0-1 scale)."""
    from corpusama_spark.operators.stats import mutual_information

    return mutual_information(_t(spark, sf_dir, "documents"), "source", "lang")


def q_embed_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle population covariance of the embedding column via
    the Arrow-batched Gram accumulation (one numpy matmul per batch;
    only O(d^2) partial sums shuffle). Oracle is the brute-force unnest
    self-join."""
    from corpusama_spark.operators.embdiag import embed_covariance

    return embed_covariance(_t(spark, sf_dir, "embeddings"), "embedding")


def q_embed_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-row embedding-collapse audit (anisotropy = energy in the
    mean direction / second moment, covariance trace, max axis-aligned
    variance share) — run before any cosine-based curation trusts its
    distances. Pure JVM posexplode plan."""
    from corpusama_spark.operators.embdiag import embed_collapse

    return embed_collapse(_t(spark, sf_dir, "embeddings"), "embedding")


def q_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding covariance by fixed-
    iteration power method (distributed covariance reduce + driver-side
    d x d eigen step). Eigenvectors are not ANSI-SQL-expressible: the
    pytest oracle is numpy.linalg.eigh; rows-only here."""
    from corpusama_spark.operators.embdiag import top_principal_component

    return top_principal_component(
        _t(spark, sf_dir, "embeddings"), "embedding", iters=100
    )


def q_t_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) t-closeness over bucketed caption length
    (EMD with ordered distance vs the global distribution; Li et al.
    2007) — the release gate k-anonymity and l-diversity both miss
    ("everyone in this class has tiny captions"). doc_id%50 rows get a
    NULL sensitive value to exercise the n_null path."""
    from corpusama_spark.operators.privacy import t_closeness

    docs = _t(spark, sf_dir, "documents").select(
        "lang",
        "source",
        F.when(
            F.col("doc_id") % 50 != 0,
            F.floor(F.col("n_chars") / 500).cast("long"),
        ).alias("svbin"),
    )
    return t_closeness(docs, ["lang", "source"], "svbin")


def q_header_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image header-consistency gate: REAL binary containers (PNG
    signature + IHDR, QIMG magic + dims) are constructed from `part`
    arithmetic, with deterministic metadata lies injected (w off by 3
    for pk%7, h off for pk%11, mislabeled fmt for pk%13, truncated
    bytes for pk%17) — Spark must parse the big-endian header fields
    out of the bytes to reproduce the oracle, which computes expected
    outputs from the same arithmetic without touching binary."""
    from corpusama_spark.functions.images import header_audit

    pk = F.col("p_partkey")

    def be32(c):  # big-endian uint32 -> 4 bytes
        return F.unhex(F.lpad(F.hex(c.cast("long")), 8, "0"))

    w0 = (F.lit(8) + F.pmod(pk * 97, F.lit(500))).cast("long")
    h0 = (F.lit(8) + F.pmod(pk * 61, F.lit(400))).cast("long")
    qfmt = F.when(pk % 2 == 0, F.lit("jpeg")).otherwise(F.lit("webp"))
    png_bytes = F.concat(
        F.lit(b"\x89PNG\r\n\x1a\n"),
        be32(F.lit(13)),
        F.encode(F.lit("IHDR"), "UTF-8"),
        be32(w0),
        be32(h0),
        F.lit(b"\x08\x02\x00\x00\x00"),
    )
    qimg_bytes = F.concat(
        F.lit(b"QIMG"),
        F.encode(F.rpad(qfmt, 4, " "), "UTF-8"),
        be32(w0),
        be32(h0),
        F.lit(b"\x04"),
    )
    true_fmt = F.when(pk % 3 == 0, F.lit("png")).otherwise(qfmt)
    rows = _t(spark, sf_dir, "part").select(
        pk.alias("image_id"),
        F.when(pk % 17 == 0, F.lit(b"QI"))
        .when(pk % 3 == 0, png_bytes)
        .otherwise(qimg_bytes)
        .alias("bytes"),
        (w0 + F.when(pk % 7 == 0, 3).otherwise(0))
        .cast("int")
        .alias("w"),
        (h0 + F.when(pk % 11 == 0, 1).otherwise(0))
        .cast("int")
        .alias("h"),
        F.when(
            pk % 13 == 0,
            F.when(pk % 3 == 0, F.lit("jpeg")).otherwise(F.lit("png")),
        )
        .otherwise(true_fmt)
        .alias("fmt"),
    )
    # parsed dims are NULL for unparseable containers; the contract
    # materializes a -1 sentinel because the driver's pandas compare
    # can't represent nullable int64 on the DuckDB side
    return header_audit(rows).select(
        "image_id",
        "w",
        "h",
        "fmt",
        "fmt_sniffed",
        F.coalesce("w_parsed", F.lit(-1)).cast("long").alias("w_parsed"),
        F.coalesce("h_parsed", F.lit(-1)).cast("long").alias("h_parsed"),
        "header_ok",
    )


def q_channel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-channel dataset normalization statistics (rows-only: decode
    UDF) — the numbers that become transforms.Normalize(mean, std);
    decode happens only in Arrow batches, partial sums shuffle."""
    from corpusama_spark.functions.imageops import channel_stats

    docs = _t(spark, sf_dir, "documents")
    return channel_stats(captions_from_documents(docs))


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (X184, Jégou 2011): per-subspace
    deterministic Lloyd codebook (lowest-id init, 2 fixed iterations,
    6-dp-pinned centroids) then nearest-centroid code per (vector,
    subspace) — the 8-bytes-per-vector layout that makes a 10^12-row
    ANN index storable. m=4 subspaces of 16 dims, k=4 centroids."""
    from corpusama_spark.operators.pq import pq_codes

    emb = _t(spark, sf_dir, "embeddings")
    return pq_codes(emb, m=4, k=4, iters=2).orderBy("vec_id", "sub")


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-5 (X184): queries vec_id<8 against the
    whole corpus THROUGH the code table — the query-side lookup table is
    the only place real vector components appear; candidates contribute
    m looked-up partials each. Oracle replays the identical train→encode→
    LUT→rank pipeline in SQL (every float pinned to 6 dp)."""
    from corpusama_spark.operators.pq import pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return pq_topk(
        emb, emb.where(F.col("vec_id") < 8), m=4, k=4, iters=2, topk=5
    ).orderBy("query_id", "rnk")


def q_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic low-discrepancy mixing schedule (X188): weights
    1+(src_idx%3) over the 20 sources; first 200 positions of the
    compiled global training order with the per-prefix discrepancy
    audit. Global rank is the pack_shards distributed prefix-sum, not a
    single-partition window; the oracle's plain row_number() over the
    same total order must agree exactly."""
    from corpusama_spark.operators.curation import interleave_schedule

    docs = _t(spark, sf_dir, "documents")
    w = (
        F.lit(1)
        + F.substring(F.col("source"), 4, 10).cast("int") % 3
    ).cast("double")
    return interleave_schedule(docs, w, "source", "doc_id", limit=200).orderBy(
        "global_rank"
    )


def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC top-5 (X189): coarse quantizer (4 cells) prunes the scan,
    residual PQ (m=4, k=4) bounds memory — FAISS's IVF-PQ layout as one
    relational plan. Queries vec_id<8 probe their 2 nearest cells; the
    oracle replays coarse train -> final assignment -> residual PQ ->
    probe -> per-(query,cell) LUT -> ADC rank in SQL at the same 6-dp
    pins."""
    from corpusama_spark.operators.pq import ivfpq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        emb,
        emb.where(F.col("vec_id") < 8),
        kc=4,
        citers=2,
        m=4,
        k=4,
        iters=2,
        nprobe=2,
        topk=5,
    ).orderBy("query_id", "rnk")



def q_shapley_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Shapley attribution of drops to quality rules (X187): each
    dropped doc splits its unit drop equally among its failing rules
    (the closed form of the v(S)=1{S∩T≠∅} game — null player +
    symmetry + efficiency), accumulated in integer micro-units so both
    engines agree bit-exactly. Same 5-rule chain as rule_ablation/
    drop_waterfall; the three tables together give over-count,
    order-biased, and axiomatic attributions of the same gates."""
    from corpusama_spark.functions.textrules import (
        caps_ratio_col,
        digit_ratio_col,
    )
    from corpusama_spark.operators.ablation import shapley_drop_attribution

    docs = _t(spark, sf_dir, "documents")
    t = F.coalesce(F.col("text"), F.lit(""))
    rules = {
        "short": F.length(t) < 50,
        "caps": caps_ratio_col(t) > 0.5,
        "alpha": alpha_ratio_col(t) < 0.6,
        "digit": digit_ratio_col(t) > 0.2,
        "nanlike": is_nanlike(F.col("text")),
    }
    return shapley_drop_attribution(docs, rules, "doc_id").orderBy("rule")


def q_sharpness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-of-Laplacian blur gate over the synthesized captions
    table (X186; rows-only: decode UDF). Pixels decode only inside
    Arrow batches; only (id, lap_var, keep, reason) rows shuffle."""
    from corpusama_spark.functions.imageops import sharpness_gate
    from corpusama_spark.sources.synth import captions_from_documents

    docs = _t(spark, sf_dir, "documents")
    return sharpness_gate(
        captions_from_documents(docs), min_lap_var=1.0
    ).orderBy("image_id")


def q_exposure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exposure / contrast / information gate over the synthesized
    captions table (X212; rows-only: decode UDF): luma clip shares,
    p99−p1 dynamic range, 64-bin histogram entropy, first-failing
    reason. Decode only inside Arrow batches; 5 scalars per image
    shuffle."""
    from corpusama_spark.functions.imageops import exposure_gate
    from corpusama_spark.sources.synth import captions_from_documents

    docs = _t(spark, sf_dir, "documents")
    return exposure_gate(captions_from_documents(docs)).orderBy("image_id")


def q_margin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based parallel-pair mining (X213, Artetxe & Schwenk 2019 —
    the CCMatrix/LASER criterion, ratio variant): even vec_ids are the
    source pool, odd vec_ids the target pool; per-source best candidate
    by cos/((fwd_k+bwd_k)/2) with k=4, kept at margin >= 1.0, with the
    mutual-nearest flag. Normalizing by each node's own neighborhood
    similarity kills hub captions that raw cosine would mine against
    everything."""
    from corpusama_spark.operators.similarity import margin_pairs

    # bounded audit pools (X31 precedent; no-op at the sf0.01 oracle
    # scale): the brute default is O(|src|x|tgt|); at scale pass ANN graphs.
    emb = (
        _t(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 800)
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
    )
    src = emb.where(F.col("vec_id") % 2 == 0)
    tgt = emb.where(F.col("vec_id") % 2 == 1)
    return margin_pairs(src, tgt, k=4, threshold=1.0)


def q_lof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local Outlier Factor over the embeddings table (X214, Breunig et
    al. 2000): cosine-distance k=5 density ratios — LOF >> 1 flags
    mis-embedded junk that poisons semantic dedup and ANN recall.
    Integer micro-distance sums keep every accumulation associative, so
    the DuckDB twin is value-exact."""
    from corpusama_spark.operators.similarity import lof_scores

    # bounded audit population (the X31/topk_cosine precedent): the
    # brute-force default is O(n^2); at scale pass the ANN graph. The
    # bound is a no-op at the sf0.01 oracle scale (500 vectors).
    emb = (
        _t(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 600)
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
    )
    return lof_scores(emb, k=5, threshold=1.5)


def q_canary_exposure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secret-Sharer canary exposure audit (X215, Carlini et al. 2019):
    docs 0-3 act as planted canaries, docs with doc_id%10==7 as the
    reference pool; the corpus bigram LM scores all of them (one broadcast
    model join) and exposure = log2(n) - log2(rank of canary ppl in the
    pool) quantifies memorization risk per canary. The full train ->
    score -> rank -> exposure chain is value-checked in DuckDB."""
    from corpusama_spark.operators.lm import (
        score_perplexity,
        train_bigram_lm,
    )
    from corpusama_spark.operators.privacy import canary_exposure

    docs = _t(spark, sf_dir, "documents")
    model = train_bigram_lm(docs)
    subset = docs.where(
        (F.col("doc_id") < 4) | (F.col("doc_id") % 10 == 7)
    )
    sc = score_perplexity(subset, *model)
    canaries = sc.where(F.col("doc_id") < 4).select(
        F.col("doc_id").alias("canary_id"), F.col("ppl").alias("c_ppl")
    )
    pool = sc.where(F.col("doc_id") >= 4).select(
        F.col("doc_id").alias("cand_id"), "ppl"
    )
    # audit-scale cross join: |canaries| x |pool| is dozens x dozens by
    # construction (broadcast-hinted); the corpus never enters it
    cands = (
        canaries.crossJoin(F.broadcast(pool))
        .select(
            "canary_id", "cand_id", "ppl", F.lit(False).alias("is_canary")
        )
        .unionByName(
            canaries.select(
                "canary_id",
                F.col("canary_id").alias("cand_id"),
                F.col("c_ppl").alias("ppl"),
                F.lit(True).alias("is_canary"),
            )
        )
    )
    return canary_exposure(cands)


def q_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier decomposition + ECE/MCE of a quality score (X216, Murphy
    1973): score = 3-dp alpha share, outcome = n_chars >= 200, 10 fixed
    bins — one scan + one <=10-key groupBy + one rollup row. Says
    whether the score's failure is miscalibration (reliability) or
    uselessness (no resolution) before a threshold deletes a petabyte."""
    from corpusama_spark.operators.classifier import brier_decomposition

    docs = _t(spark, sf_dir, "documents")
    txt = F.coalesce(F.col("text"), F.lit(""))
    score = F.round(
        F.length(F.regexp_replace(txt, "[^A-Za-z]", ""))
        / F.greatest(F.length(txt), F.lit(1)),
        3,
    )
    return brier_decomposition(
        docs.select(
            score.alias("score"), (F.col("n_chars") >= 200).alias("label")
        ),
        "score",
        "label",
        bins=10,
    )


def q_textiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-in-image likeness gate over the synthesized captions table
    (X217; rows-only: decode UDF) — the LAION-style meme/screenshot
    triage: horizontal-gradient density x row-band concentration, dense
    AND banded => text_likely. Decode only inside Arrow batches; 3
    doubles + flag per image shuffle."""
    from corpusama_spark.functions.imageops import textiness_gate
    from corpusama_spark.sources.synth import captions_from_documents

    docs = _t(spark, sf_dir, "documents")
    return textiness_gate(captions_from_documents(docs)).orderBy("image_id")


def q_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) calibration of the type-token-ratio quality score
    against n_chars >= 200 (X218): the minimax identity makes the whole
    weighted-PAV fit relational — corpus collapses to <=20 bins, then a
    bounded j<=i<=k triple (broadcast nested loop over kilobytes) yields
    the monotone calibrated rate per bin, value-exact in DuckDB."""
    from corpusama_spark.operators.classifier import isotonic_fit

    docs = _t(spark, sf_dir, "documents")
    txt = F.coalesce(F.col("text"), F.lit(""))
    toks = F.filter(
        F.split(F.lower(F.trim(txt)), r"\s+"),
        lambda w: F.length(w) > 0,
    )
    score = F.round(
        F.size(F.array_distinct(toks))
        / F.greatest(F.size(toks), F.lit(1)),
        3,
    )
    return isotonic_fit(
        docs.select(
            score.alias("score"), (F.col("n_chars") < 200).alias("label")
        ),
        "score",
        "label",
        bins=20,
    )


def q_hll_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source vocabulary overlap via HLL set algebra (X219):
    union sketch = per-register max (free in HLL), intersection by
    inclusion-exclusion, exact audit columns alongside — the crawl-
    budget/mixing question answered on sketches, never joining raw keys
    across sources. Complements X163's exact inverted-index overlap
    with the sketch-sized scale path."""
    from corpusama_spark.operators.sketches import hll_overlap

    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(
            F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))), r"\s+"
        ),
        lambda w: F.length(w) > 0,
    )
    return hll_overlap(
        docs.select("source", F.explode(toks).alias("tok")),
        "source",
        "tok",
        p=6,
    )


def q_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup stats (X220, LBFS/rsync family):
    boundaries where the rolling 8-gram md5 has its low 5 bits zero
    (expected ~32-char chunks), per-doc share of characters living in
    corpus-duplicated chunks — the incremental-snapshot write savings.
    Boundary decisions are scan-stage JVM expressions; only chunk
    hashes shuffle."""
    from corpusama_spark.operators.dedup import cdc_dedup_stats

    return cdc_dedup_stats(
        _t(spark, sf_dir, "documents"), "doc_id", "text"
    )


def q_bitext_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mined-pair cleaning gates (X221, Moses clean-corpus-n + WMT
    number-fidelity/copy checks): even docs pair with their odd
    neighbor, every gate a scan-stage JVM expression — length ratio,
    token bounds, sorted digit-run multiset equality, case-folded copy
    detection, first failing reason. The filter battery X213's miner
    feeds into."""
    from corpusama_spark.operators.alignment import bitext_filter

    docs = _t(spark, sf_dir, "documents")
    src = docs.where(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") / 2).cast("long").alias("pair_id"),
        F.col("text").alias("src_text"),
    )
    tgt = docs.where(F.col("doc_id") % 2 == 1).select(
        ((F.col("doc_id") - 1) / 2).cast("long").alias("pair_id"),
        F.col("text").alias("tgt_text"),
    )
    return bitext_filter(src.join(tgt, "pair_id")).orderBy("pair_id")


def q_bloom_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom shard-pruning audit (X222) — the point-lookup companion to
    X202's min/max scan pruning: per-shard (source) md5-bit bloom index
    as a relational table (the Iceberg/Parquet per-file bloom shape),
    probed with a deterministic ~1/397 subset of the word-trigram key space (trigrams concentrate in 1-2 shards, so pruning is visible); reports shards
    probed vs shards actually containing each key, skipped share, and
    realized false-probe rate — how you size n_bits/k before trusting
    the index to skip a petabyte."""
    from corpusama_spark.operators.bloom import bloom_pruning_audit

    docs = _t(spark, sf_dir, "documents")
    ws = F.filter(
        F.split(
            F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))), r"\s+"
        ),
        lambda w: F.length(w) > 0,
    )
    tris = F.when(
        F.size(ws) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(ws, i),
                F.element_at(ws, i + 1),
                F.element_at(ws, i + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pop = docs.select("source", F.explode(tris).alias("tok"))
    probes = (
        pop.select("tok")
        .distinct()
        .where(
            F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
            % 397
            == 0
        )
    )
    return bloom_pruning_audit(
        pop, probes, "source", "tok", n_bits=8192, k=3
    )


def q_dim_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka dimension-truncation retrieval audit (X223): recall@5
    of top-k retrieval on 8/16/32-dim prefixes of the 64-dim embeddings
    vs full-width truth, over a bounded 32-query sample — the 'can we
    store 1/8th of the embedding table?' decision, answered the same
    comparison-only way as the ANN recall audit (X31)."""
    from corpusama_spark.operators.similarity import dim_truncation_audit

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return dim_truncation_audit(
        emb, emb.where(F.col("vec_id") < 32), dims=(8, 16, 32), k=5
    )


def q_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities (X224, Raghavan et al. 2007) with
    deterministic self-vote + ordered tie-breaks over the same
    arithmetic doc graph the pagerank contract uses, 4 synchronous
    rounds — the dense-region refinement that breaks LSH chain-collapse
    where connected components would glue everything. The DuckDB twin
    unrolls all 4 vote->argmax rounds."""
    from corpusama_spark.operators.components import label_propagation

    docs = _t(spark, sf_dir, "documents")
    ed = docs.where(F.col("doc_id") > 0).select(
        F.col("doc_id").alias("src"),
        F.floor(F.col("doc_id") / 2).cast("long").alias("dst"),
    ).unionByName(
        docs.select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") * 13 + 7) % 97).alias("dst"),
        )
    )
    return label_propagation(ed, rounds=4).orderBy("node")


def q_ncd_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized compression distance over even/odd doc pairs (X225;
    rows-only: DEFLATE is not SQL — zlib pytest oracle). The
    parameter-free near-dup verify tier for candidate pairs where
    token measures mislead; Arrow-batched, fixed zlib level."""
    from corpusama_spark.functions.compressq import ncd_pairs

    docs = _t(spark, sf_dir, "documents")
    src = docs.where(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") / 2).cast("long").alias("pair_id"),
        F.col("text").alias("text_a"),
    )
    tgt = docs.where(F.col("doc_id") % 2 == 1).select(
        ((F.col("doc_id") - 1) / 2).cast("long").alias("pair_id"),
        F.col("text").alias("text_b"),
    )
    return ncd_pairs(src.join(tgt, "pair_id")).orderBy("pair_id")


def _with_injected_emails(docs: DataFrame) -> DataFrame:
    """Deterministic email injection for the X226 contract: every doc
    gets user<doc_id%7>@example.org appended, docs divisible by 3 get a
    second mention in DIFFERENT CASE (same entity after folding) — so
    the pseudonymizer's cross-doc/cross-case linkage is exercised on a
    corpus whose raw text contains no emails."""
    mod7 = (F.col("doc_id") % 7).cast("string")
    txt = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(" contact: user"),
        mod7,
        F.lit("@example.org"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(" cc USER"), mod7, F.lit("@Example.org")),
        ).otherwise(F.lit("")),
    )
    return docs.select("doc_id", txt.alias("text"))


def q_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent pseudonymization rewrite (X226): every email becomes
    <EMAIL_xxxxxx> with xxxxxx = md5 prefix of the case-folded entity —
    same identifier, same token, everywhere, so linkage/dedup survive
    the scrub. Pure JVM split/extract/refold; oracle-exact."""
    from corpusama_spark.functions.scrub import pseudonymize

    docs = _with_injected_emails(_t(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", pseudonymize("text").alias("scrubbed")
    ).orderBy("doc_id")


def q_pseudonym_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudonym audit table (X226): distinct case-folded entity ->
    (pseudonym, n_docs, n_occurrences) — the collision-risk /
    re-identification-surface review table; raw entities exist only
    here, never in the released text."""
    from corpusama_spark.functions.scrub import pseudonym_map

    docs = _with_injected_emails(_t(spark, sf_dir, "documents"))
    return pseudonym_map(docs, "text", "doc_id")


def q_hamming_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-distance recall of the banded Hamming join in the INCOMPLETE
    regime (X227): twins injected at exact distances 1..7 over 60-bit
    md5 codes, bands=4 — pigeonhole guarantees recall 1.0 for d<4, and
    the d>=4 rows measure what the band gamble pays; the evidence for
    adding bands/multi-probe before loosening the image-dedup
    threshold."""
    from corpusama_spark.operators.dedup import hamming_band_recall

    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        F.col("doc_id").cast("long").alias("id"),
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("phr-"), F.col("doc_id").cast("string"))
                ),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("code"),
        ((F.col("doc_id") % 7) + 1).alias("nf"),
    )
    twins = base.select(
        (F.col("id") + 1000000).alias("id"),
        F.expr(
            "code ^ aggregate(sequence(1, CAST(nf AS INT)), CAST(0 AS"
            " BIGINT), (acc, j) -> acc | shiftleft(CAST(1 AS BIGINT),"
            " CAST((7 * id + 11 * j) % 60 AS INT)))"
        ).alias("code"),
    )
    pop = base.select("id", "code").unionByName(twins)
    return hamming_band_recall(pop, bands=4, hamming_k=7)


def q_confusables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Homoglyph spoofing gate (X228): docs divisible by 5 get a spoofed
    token injected (Cyrillic е/о shaped as Latin — 'frее-оffеr'),
    docs divisible by 11 get a LEGIT pure-Cyrillic word; the gate must
    flag the first and ignore the second. Mixed-script + lookalike
    normalization, all scan-stage JVM."""
    from corpusama_spark.operators.textstats import confusable_stats

    docs = _t(spark, sf_dir, "documents")
    spoof = " frее-оffеr"  # Cyrillic е,о in Latin shapes
    legit = " привет"  # привет
    txt = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.lit(spoof)).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0, F.lit(legit)).otherwise(
            F.lit("")
        ),
    )
    return confusable_stats(
        docs.select("doc_id", txt.alias("text")), "text", "doc_id"
    )


def q_rollout_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate-rollout MDE audit per source (X230): with each source's
    current keep rate (n_chars >= 200 as the stand-in gate) and size,
    the smallest keep-rate shift a per-source equal-arm canary could
    detect at alpha=.05/power=.80 — pinned z literals, one groupBy."""
    from corpusama_spark.operators.stats import rollout_power

    docs = _t(spark, sf_dir, "documents").select(
        "source", (F.col("n_chars") >= 200).alias("keep")
    )
    return rollout_power(docs, "source", "keep")


def q_dict_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-dictionary training table (X231): per source, the 16 most
    document-frequent word bigrams with df >= 2, newline-joined most-
    frequent-LAST (zlib scans a zdict tail-first). Fully relational ->
    DuckDB-oracle-exact; the zlib gain stage is the rows-only twin."""
    from corpusama_spark.functions.compressq import train_shared_dict

    docs = _t(spark, sf_dir, "documents")
    return train_shared_dict(docs, ngram=2, k=16, min_df=2).orderBy("source")


def q_dict_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc shared-dictionary compression gain (X231): how much of
    each doc is source-shared template, via zlib-with-zdict vs solo
    size. DEFLATE is not SQL -> rows-only contract; in-process zlib
    parity lives in tests/test_dictgain.py."""
    from corpusama_spark.functions.compressq import dict_gain, train_shared_dict

    docs = _t(spark, sf_dir, "documents")
    d = train_shared_dict(docs, ngram=2, k=16, min_df=2)
    return dict_gain(docs, d).orderBy("doc_id")


def q_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC-9309 robots.txt compliance gate (X232): deterministic URLs
    derived from (source, doc_id) against a per-host rule set (longest
    rule wins, Allow wins length ties, unknown host -> allow). Exercises
    wildcard + $-anchor compile, path+query match target, tie-break, and
    the default-allow path; the oracle replays the whole decision."""
    from corpusama_spark.functions.urls import robots_gate

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    m = F.pmod(F.col("doc_id"), F.lit(6))
    host = F.when(
        m == 5, F.concat(F.col("source"), F.lit(".norules"))
    ).otherwise(F.concat(F.col("source"), F.lit(".example")))
    path = (
        F.when(m == 0, F.concat(F.lit("/search?q="), F.col("doc_id")))
        .when(m == 1, F.concat(F.lit("/private/"), F.col("doc_id")))
        .when(m == 2, F.concat(F.lit("/private/files/"), F.col("doc_id")))
        .when(m == 3, F.concat(F.lit("/assets/img"), F.col("doc_id"), F.lit(".pdf")))
        .when(m == 4, F.concat(F.lit("/tmp/"), F.col("doc_id")))
        .otherwise(F.concat(F.lit("/search?q="), F.col("doc_id")))
    )
    urls = docs.select(
        "doc_id", F.concat(F.lit("https://"), host, path).alias("url")
    )
    rule_rows = [
        ("/private", False),
        ("/private/files", True),
        ("/*.pdf$", False),
        ("/search?*", False),
        ("/tmp", False),
        ("/tmp", True),
    ]
    rules = (
        docs.select("source")
        .distinct()
        .select(
            F.concat(F.col("source"), F.lit(".example")).alias("host"),
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(r).alias("rule"), F.lit(a).alias("allow"))
                        for r, a in rule_rows
                    ]
                )
            ).alias("x"),
        )
        .select("host", "x.rule", "x.allow")
    )
    # rule_allow is dropped from the contract: a NULL boolean arrives as
    # None from Spark but NaN from DuckDB's fetchdf and the hash compare
    # is dtype-sensitive; crawl_ok + rule carry the full decision
    return robots_gate(urls, rules).drop("rule_allow").orderBy("doc_id")


_CODE_SNIPPET = (
    "def f(x):\n"
    "    y = (x + 1);\n"
    "    return [y, x];\n"
    "# done with it\n"
    "const z = 42;"
)


def q_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose routing gate (X233) over documents with a
    deterministic code snippet injected at doc_id % 9 == 0 — the oracle
    replays every line/token/symbol count and the 5-signal vote."""
    from corpusama_spark.operators.textstats import code_prose_stats

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.pmod("doc_id", F.lit(9)) == 0, F.lit(_CODE_SNIPPET))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return code_prose_stats(docs)


def q_weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted quantiles per source (X234): the n_chars value
    below which half / 90% / 99% of the TOKEN MASS sits — the mixture-
    planning question unweighted quantiles answer wrongly. BIGINT
    rational crossing, oracle replays it exactly."""
    from corpusama_spark.operators.quantiles import weighted_group_quantiles

    docs = _t(spark, sf_dir, "documents").select(
        "source",
        F.col("n_chars").alias("val"),
        F.size(
            F.filter(
                F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+"),
                lambda x: F.length(x) > 0,
            )
        ).cast("long").alias("w"),
    )
    return weighted_group_quantiles(docs, "source", "val", "w", [0.5, 0.9, 0.99])


def q_crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness schedule (X235) over a frontier derived from
    documents: host from source (half the hosts carry explicit
    crawl-delays), per-host 0-based fetch seq ordered by md5(url),
    eta = seq*delay, md5-hash host-sticky worker. Oracle replays the
    window, join, and hash."""
    from corpusama_spark.operators.crawl import politeness_schedule

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    frontier = docs.select(
        "doc_id",
        F.concat(F.col("source"), F.lit(".example")).alias("host"),
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example/p/"), F.col("doc_id")
        ).alias("url"),
    )
    delays = (
        docs.select("source")
        .distinct()
        .where(F.pmod(F.length("source"), F.lit(2)) == 0)
        .select(
            F.concat(F.col("source"), F.lit(".example")).alias("host"),
            (F.length("source") * 250).cast("long").alias("delay_ms"),
        )
    )
    return politeness_schedule(frontier, delays, workers=8).orderBy("doc_id")


def q_crawl_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-worker politeness wall-clock bounds (X235): n_urls, n_hosts,
    the max n*delay span and which host sets it — the lower bound no
    cluster size beats."""
    from corpusama_spark.operators.crawl import (
        politeness_audit,
        politeness_schedule,
    )

    sched = q_crawl_schedule(spark, sf_dir)
    return politeness_audit(sched)


def q_phash_robustness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """phash distortion-robustness audit (X236; rows-only: decode+DCT
    UDF): per distortion family, mean/max hamming bit flips and the
    share of images whose distorted twin survives the band radius the
    X14 image dedup uses — the evidence for the threshold."""
    from corpusama_spark.functions.imageops import (
        phash_distortion_flips,
        phash_robustness,
    )
    from corpusama_spark.sources.synth import captions_from_documents

    docs = _t(spark, sf_dir, "documents")
    flips = phash_distortion_flips(captions_from_documents(docs))
    return phash_robustness(flips, band_radius=8)


def q_partial_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadrant-phash partial-duplicate pairs (X237; rows-only:
    decode+DCT): captions table with twins injected for every 5th image
    (new id = md5-suffixed) — twins match on all four quadrants with
    full_dist 0; any natural near-dups ride along. The collage
    (partial_only) semantics are pinned by tests/test_partial_dup.py."""
    from corpusama_spark.functions.imageops import quadrant_phashes
    from corpusama_spark.operators.dedup import partial_dup_pairs
    from corpusama_spark.sources.synth import captions_from_documents

    caps = captions_from_documents(_t(spark, sf_dir, "documents")).select(
        "image_id", "bytes", "fmt"
    )
    twins = caps.where(
        F.pmod(F.conv(F.substring("image_id", 1, 4), 16, 10).cast("long"), F.lit(5))
        == 0
    ).select(
        F.concat(F.col("image_id"), F.lit("-twin")).alias("image_id"),
        "bytes",
        "fmt",
    )
    hashes = quadrant_phashes(caps.unionByName(twins))
    return partial_dup_pairs(hashes)


def q_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling budget allocation (X238): targets = natural doc mix
    (count*1000), caps = even-doc_id n_chars supply per source, budget =
    a fixed 100k tokens so several sources saturate and re-flow; every
    boundary test is cross-multiplied BIGINT, allocations BIGINT div —
    the oracle replays the identical window + boundary algebra."""
    from corpusama_spark.operators.curation import waterfill_allocation

    src_tbl = (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            (F.count("*") * 1000).cast("long").alias("target_w"),
            F.coalesce(
                F.sum(F.when(F.pmod("doc_id", F.lit(2)) == 0, F.col("n_chars"))),
                F.lit(0),
            ).cast("long").alias("cap"),
        )
    )
    return waterfill_allocation(src_tbl, budget=100_000)


def q_lexicon_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Obfuscation-folded lexicon gate (X241) over documents with
    placeholder terms injected per doc_id class — raw, leet-folded
    ("b4dw0rd"), symbol-folded ("$lurx!!") — so the oracle replays the
    fold map, tokenizer, obfuscation attribution, and the gate."""
    from corpusama_spark.functions.lexicon import lexicon_gate

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(F.pmod("doc_id", F.lit(8)) == 0, F.lit(" badword"))
            .when(F.pmod("doc_id", F.lit(8)) == 1, F.lit(" b4dw0rd"))
            .when(F.pmod("doc_id", F.lit(8)) == 2, F.lit(" $lurx!!"))
            .when(F.pmod("doc_id", F.lit(8)) == 3, F.lit(" spamterm"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    lex = spark.createDataFrame(
        [("badword", 2), ("slurx", 3), ("spamterm", 1)],
        "term string, severity int",
    )
    return lexicon_gate(docs, lex, max_hits=0, max_severity=1).orderBy("doc_id")


def q_skin_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skin-share routing pre-filter (X242; rows-only: decode UDF) over
    the synthesized captions table — the cheap decode-stage tier that
    routes the suspicious slice to an expensive NSFW scorer, same
    tiering as IVF-before-brute-force."""
    from corpusama_spark.functions.imageops import skin_gate
    from corpusama_spark.sources.synth import captions_from_documents

    caps = captions_from_documents(_t(spark, sf_dir, "documents"))
    return skin_gate(caps).orderBy("image_id")


def q_crawl_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical crawl report (X243): keep-rate and byte totals at
    (tld, registered domain, host) levels in ONE pass via GROUP BY
    ROLLUP — subtotal rows carry NULLs per ANSI, matched exactly by the
    DuckDB twin. Map-side combinable; the rollup costs one exchange."""
    from corpusama_spark.functions.urls import registered_domain, url_host

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    m = F.pmod(F.col("doc_id"), F.lit(3))
    host = F.concat(
        F.when(m == 0, F.lit("www.")).when(m == 1, F.lit("cdn.")).otherwise(F.lit("")),
        F.col("source"),
        F.when(F.pmod("doc_id", F.lit(2)) == 0, F.lit(".co.uk")).otherwise(
            F.lit(".org")
        ),
    )
    base = docs.select(
        "doc_id",
        "n_chars",
        host.alias("host"),
        registered_domain(host).alias("domain"),
        F.regexp_extract(host, r"([^.]+)$", 1).alias("tld"),
        (F.col("n_chars") >= 200).cast("int").alias("keep"),
    )
    return (
        base.rollup("tld", "domain", "host")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.round(F.avg("keep"), 6).alias("keep_rate"),
        )
        .orderBy(
            F.col("tld").asc_nulls_first(),
            F.col("domain").asc_nulls_first(),
            F.col("host").asc_nulls_first(),
        )
    )


def q_url_spam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host spam-signal triage (X244): deterministic dirty frontier
    derived from documents — deep subdomain chains, digit-stuffed
    labels, hyphen floods, punycode, abuse TLDs — five signals + vote,
    all replayed by the oracle."""
    from corpusama_spark.functions.urls import url_spam_score

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    m = F.pmod(F.col("doc_id"), F.lit(5))
    url = (
        F.when(m == 0, F.concat(F.lit("https://www."), F.col("source"), F.lit(".org/a")))
        .when(m == 1, F.concat(F.lit("http://a.b.c.d."), F.col("source"), F.lit(".tk/x")))
        .when(m == 2, F.concat(F.lit("https://get-rich-fast-"), F.col("doc_id"), F.lit("-now.top/")))
        .when(m == 3, F.concat(F.lit("https://xn--spoof-"), F.col("source"), F.lit(".com/p")))
        .otherwise(F.concat(F.lit("https://img"), F.col("doc_id"), F.lit("0"), F.col("doc_id"), F.lit(".cdn.example.org/i")))
    )
    urls = docs.select("doc_id", url.alias("url"))
    return url_spam_score(urls).orderBy("doc_id")


def q_crawl_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end crawl-ops funnel (X245): spam triage (X244) -> robots
    compliance (X232) -> canonical-URL dedup (X84) composed as ONE lazy
    plan over a deterministic dirty frontier; output is the per-stage
    survivor count — the curation_pipeline pattern applied to the crawl
    family. The oracle replays every stage's logic, not the generator's
    shortcuts."""
    from corpusama_spark.functions.urls import (
        canonical_url,
        robots_gate,
        url_spam_score,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    m = F.pmod(F.col("doc_id"), F.lit(4))
    url = (
        F.when(m == 0, F.concat(F.lit("https://www."), F.col("source"),
                                F.lit(".org/a/"), F.pmod("doc_id", F.lit(40))))
        .when(m == 1, F.concat(F.lit("http://a.b.c.d."), F.col("source"),
                               F.lit(".tk/x/"), F.col("doc_id")))
        .when(m == 2, F.concat(F.lit("HTTPS://www."), F.col("source"),
                               F.lit(".org:443/a/"), F.pmod("doc_id", F.lit(40)),
                               F.lit("?utm_source=f")))
        .otherwise(F.concat(F.lit("https://www."), F.col("source"),
                            F.lit(".org/private/"), F.col("doc_id")))
    )
    frontier = docs.select("doc_id", url.alias("url"))
    rules = (
        docs.select("source").distinct().select(
            F.concat(F.lit("www."), F.col("source"), F.lit(".org")).alias("host"),
            F.lit("/private").alias("rule"),
            F.lit(False).alias("allow"),
        )
    )
    spam_pass = url_spam_score(frontier).where(~F.col("is_spammy_host")).select(
        "doc_id", "url"
    )
    robots_pass = robots_gate(spam_pass, rules).where(F.col("crawl_ok")).select(
        "doc_id", "url"
    )
    uniq = robots_pass.select(canonical_url(F.col("url")).alias("c")).distinct()
    stages = [
        frontier.agg(F.lit(1).alias("stage_no"), F.lit("frontier").alias("stage"),
                     F.count("*").cast("long").alias("n")),
        spam_pass.agg(F.lit(2).alias("stage_no"), F.lit("spam_gate").alias("stage"),
                      F.count("*").cast("long").alias("n")),
        robots_pass.agg(F.lit(3).alias("stage_no"), F.lit("robots").alias("stage"),
                        F.count("*").cast("long").alias("n")),
        uniq.agg(F.lit(4).alias("stage_no"), F.lit("canonical_unique").alias("stage"),
                 F.count("*").cast("long").alias("n")),
    ]
    out = stages[0]
    for s_df in stages[1:]:
        out = out.unionByName(s_df)
    return out.orderBy("stage_no")


def q_index_staleness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index staleness audit (X247): literal frozen centroids (4
    cells over the first 4 dims), train = even vec_ids, new batch = odd
    vec_ids with a deterministic +0.8 shift on dim 0 — fill drift and
    residual growth per cell, stale flag; the oracle replays the
    broadcast re-assignment and both gates."""
    from corpusama_spark.operators.embdiag import (
        assign_to_centroids,
        index_staleness,
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id"),
        F.transform(F.slice("embedding", 1, 4), lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    cents = spark.createDataFrame(
        [(c, d, v) for c, vals in enumerate(
            [(0.5, 0.5, 0.5, 0.5), (-0.5, 0.5, -0.5, 0.5),
             (0.5, -0.5, 0.5, -0.5), (-0.5, -0.5, -0.5, -0.5)])
         for d, v in enumerate(vals)],
        "cell int, dim int, c double",
    )
    train = emb.where(F.pmod("vec_id", F.lit(2)) == 0)
    new = emb.where(F.pmod("vec_id", F.lit(2)) == 1).select(
        "vec_id",
        F.concat(
            F.array(F.element_at("embedding", 1) + F.lit(0.8)),
            F.slice("embedding", 2, 3),
        ).alias("embedding"),
    )
    train_assign = assign_to_centroids(train, cents)
    rep = index_staleness(train_assign, new, cents)
    # NULL doubles (empty cells) pin to -1.0 in the CONTRACT projection
    # only: the driver's hash compare renders Spark NULL vs pandas NaN
    # differently (the rule_allow precedent)
    return rep.select(
        "cell", "n_train", "n_new", "train_share", "new_share",
        F.coalesce("share_ratio", F.lit(-1.0)).alias("share_ratio"),
        F.coalesce("train_resid", F.lit(-1.0)).alias("train_resid"),
        F.coalesce("new_resid", F.lit(-1.0)).alias("new_resid"),
        F.coalesce("resid_growth", F.lit(-1.0)).alias("resid_growth"),
        "stale",
    )


def q_quality_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential data-quality metrics (X249, Schelter et al. ICDE'19
    shape): per-partition mergeable states (counts, extrema, sums, HLL
    registers) over documents partitioned by doc_id%8, merged to corpus
    metrics. The oracle computes the same metrics GLOBALLY — the
    mergeability identity (pytest-pinned) makes that a true value check."""
    from corpusama_spark.operators.qualitystate import (
        merge_quality_metrics,
        quality_states,
    )

    docs = _t(spark, sf_dir, "documents").withColumn(
        "part", F.pmod("doc_id", F.lit(8)).cast("int")
    )
    states = quality_states(
        docs, "part", numeric_cols=["n_chars"], string_cols=["lang", "source"]
    )
    m = merge_quality_metrics(states)
    # contract projection pins NULLs (the rule_allow precedent):
    # numeric stats of string columns -> -1.0, string stats of numeric
    # columns -> ''
    return m.select(
        "column", "n", "n_null", "completeness",
        F.coalesce("min_num", F.lit(-1.0)).alias("min_num"),
        F.coalesce("max_num", F.lit(-1.0)).alias("max_num"),
        F.coalesce("mean_num", F.lit(-1.0)).alias("mean_num"),
        F.coalesce("min_str", F.lit("")).alias("min_str"),
        F.coalesce("max_str", F.lit("")).alias("max_str"),
        F.coalesce("avg_len", F.lit(-1.0)).alias("avg_len"),
        "distinct_est",
    )


def q_zonemap_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map data skipping audit (X273 — the Iceberg manifest
    lower/upper-bounds shape, tableops.compute_column_stats /
    plan_scan_for_range / read_range; the physical bucket-skip lane is
    pytest-driven in test_zonemap_rollback.py, this is its exact
    relational twin over a time-clustered layout): orders bucketed by
    order YEAR, per-bucket [min, max] of o_orderdate, a quarter-sized
    range predicate, the can_match pruning verdict per bucket (bounds
    intersect ⇔ mn ≤ hi AND mx ≥ lo), and the verified per-bucket match
    count — equal to the full-scan answer, proving pruning loses
    nothing. One groupBy for bounds, one for matches, one broadcast-able
    join; at 10^12 rows the bounds table is |buckets| rows and the scan
    side prunes physically via the partition layout."""
    o = _t(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("int").alias("bucket"),
        F.col("o_orderdate").cast("date").alias("d"),
    )
    stats = o.groupBy("bucket").agg(
        F.min("d").alias("mn_d"),
        F.max("d").alias("mx_d"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    lo, hi = F.lit("1995-03-01").cast("date"), F.lit("1995-06-30").cast("date")
    matches = (
        o.where(F.col("d").between(lo, hi))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_match"))
    )
    return (
        stats.join(F.broadcast(matches), "bucket", "left")
        .select(
            "bucket",
            F.col("mn_d").cast("string").alias("mn_d"),
            F.col("mx_d").cast("string").alias("mx_d"),
            ((F.col("mn_d") <= hi) & (F.col("mx_d") >= lo)).alias(
                "can_match"
            ),
            F.coalesce("n_match", F.lit(0)).cast("long").alias("n_match"),
            "n_rows",
        )
        .orderBy("bucket")
    )


def q_bound_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-depth audit (X276, layout.bound_overlap_audit): the
    same orders rows bucketed two ways — time-clustered (order year)
    vs hashed (pmod(o_orderkey, 7)) — and per bucket the [min, max]
    date bounds plus how many other buckets' intervals overlap. The
    clustered layout's depth is 0 (years partition dates: every range
    predicate can prune), the hashed layout's is nbuckets-1 (nothing
    ever prunes) — the quantified reason layout.py's write path
    clusters before tableops.py's zone maps can skip (X273)."""
    from corpusama_spark.operators.layout import bound_overlap_audit

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderdate").cast("date").alias("d"),
    )
    clustered = bound_overlap_audit(
        o.withColumn("b", (F.year("d") - F.lit(1992)).cast("int")), "b", "d"
    ).withColumn("layout", F.lit("clustered"))
    hashed = bound_overlap_audit(
        o.withColumn("b", F.pmod("k", F.lit(7)).cast("int")), "b", "d"
    ).withColumn("layout", F.lit("hashed"))
    return (
        clustered.unionByName(hashed)
        .select(
            "layout",
            "bucket",
            F.col("mn").cast("string").alias("mn_d"),
            F.col("mx").cast("string").alias("mx_d"),
            "n_rows",
            "n_overlaps",
        )
        .orderBy("layout", "bucket")
    )


def q_canary_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline canary validation (X250; rows-only: full pipeline with
    decode/LID UDFs): five known-verdict synthetic rows ride the real
    pipeline over the synthesized captions table — expected vs actual
    keep, scrub-bait re-scrub check, loud-missing semantics."""
    from corpusama_spark.operators.validation import (
        canary_rows,
        inject_canaries,
        verify_canaries,
    )
    from corpusama_spark.pipeline import FilterConfig, run_pipeline
    from corpusama_spark.sources.synth import captions_from_documents

    caps = captions_from_documents(_t(spark, sf_dir, "documents"))
    canaries = canary_rows(spark)
    decisions = run_pipeline(inject_canaries(caps, canaries), FilterConfig())
    return verify_canaries(decisions, canaries)


def q_colorfulness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grayscale / flat-color gate over the synthesized captions table
    (X198, Hasler & Süsstrunk 2003; rows-only: decode UDF). Decode only
    inside Arrow batches; 4 scalars per image shuffle."""
    from corpusama_spark.functions.imageops import colorfulness_gate
    from corpusama_spark.sources.synth import captions_from_documents

    docs = _t(spark, sf_dir, "documents")
    return colorfulness_gate(captions_from_documents(docs)).orderBy(
        "image_id"
    )


def q_border_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform-border / letterbox audit over the synthesized captions
    table (X199; rows-only: decode UDF): flat-band counts, content crop
    box, letterbox/pillarbox flags — 11 scalars per image shuffle."""
    from corpusama_spark.functions.imageops import border_crop_audit
    from corpusama_spark.sources.synth import captions_from_documents

    docs = _t(spark, sf_dir, "documents")
    return border_crop_audit(captions_from_documents(docs)).orderBy(
        "image_id"
    )


def q_multiprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH recall gain at constant index memory (X185, Lv
    2007): per query, recall@5 of the single-probe axis-sign tier vs the
    Hamming-1 multi-probe tier at the SAME (nbits=8, ntables=4) — the
    corpus-side bucket table is identical, only the broadcast query side
    fans out 9×. Both candidate sets are arithmetic-free, so DuckDB
    replays the whole comparison bit-exactly."""
    from corpusama_spark.operators.similarity import (
        ann_recall,
        axis_lsh_topk,
        multiprobe_lsh_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < 8)
    brute = q_topk_cosine(spark, sf_dir).select("query_id", "cand_id")
    single = ann_recall(
        axis_lsh_topk(emb, qs, k=5, nbits=8, ntables=4), brute, k=5
    ).select(
        "query_id",
        F.col("n_hit").alias("n_hit_single"),
        F.col("recall_at_5").alias("recall_single"),
    )
    multi = ann_recall(
        multiprobe_lsh_topk(emb, qs, k=5, nbits=8, ntables=4), brute, k=5
    ).select(
        "query_id",
        F.col("n_hit").alias("n_hit_multi"),
        F.col("recall_at_5").alias("recall_multi"),
    )
    return single.join(multi, "query_id").orderBy("query_id")


def _mor_tables(spark: SparkSession, sf_dir: str):
    """Deterministic MOR fixture over orders: data files keyed by
    o_orderkey%8, sequence = o_orderkey%3+1, positional deletes at seq 2
    for every 11th order, equality deletes (key = customer) at seq 3 for
    every 13th customer."""
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders")
    data = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("cust"),
        F.col("o_totalprice").alias("price"),
        (F.pmod("o_orderkey", F.lit(3)) + 1).cast("long").alias("data_seq"),
        F.concat(
            F.lit("f"), F.pmod("o_orderkey", F.lit(8)).cast("string")
        ).alias("file_path"),
    ).withColumn(
        "pos",
        F.row_number()
        .over(Window.partitionBy("file_path").orderBy("k"))
        .cast("long"),
    )
    pos_del = data.where(F.pmod("k", F.lit(11)) == 0).select(
        "file_path", "pos", F.lit(2).cast("long").alias("delete_seq")
    )
    eq_del = (
        data.where(F.pmod("cust", F.lit(13)) == 0)
        .select("cust", F.lit(3).cast("long").alias("delete_seq"))
        .distinct()
    )
    return data, pos_del, eq_del


def q_mor_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read scan (X252, Iceberg v2 row-level deletes): data
    minus positional (delete_seq >= data_seq) and equality
    (data_seq < delete_seq, so later re-inserts survive) delete files,
    applied as two aggregated anti-join passes — no table rewrite. The
    oracle replays both sequence rules; prices sum as exact integer
    cents so the hash is float-order-proof."""
    from corpusama_spark.operators.deletes import apply_mor_deletes

    data, pos_del, eq_del = _mor_tables(spark, sf_dir)
    live = apply_mor_deletes(data, pos_del, eq_del, keys=("cust",))
    return (
        live.groupBy("data_seq")
        .agg(
            F.count(F.lit(1)).alias("n_live"),
            F.sum(F.round(F.col("price") * 100).cast("long")).alias(
                "cents_live"
            ),
        )
        .orderBy("data_seq")
    )


def q_mor_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOR delete-debt accounting (X252): per data sequence, how many
    rows each delete kind would subtract at scan time (pos-hit rows
    attributed to the positional file, the more specific claim) — the
    ratio that triggers Iceberg's rewrite_data_files maintenance."""
    from corpusama_spark.operators.deletes import mor_delete_audit

    data, pos_del, eq_del = _mor_tables(spark, sf_dir)
    return mor_delete_audit(data, pos_del, eq_del, keys=("cust",))


def q_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CDC between two table states (X253, the Iceberg
    changelog-scan / Delta CDF shape): before = orders without every 5th
    key, after = orders without every 7th key and with every 3rd price
    bumped — emits insert / delete / update_before / update_after rows
    only (unchanged rows cost nothing downstream). One full outer join +
    one generate; the oracle replays all four cases as unions."""
    from corpusama_spark.operators.upsert import row_changelog

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    before = o.where(F.pmod("k", F.lit(5)) != 0)
    after = o.where(F.pmod("k", F.lit(7)) != 0).withColumn(
        "cents",
        F.when(
            F.pmod("k", F.lit(3)) == 0, F.col("cents") + 1000
        ).otherwise(F.col("cents")),
    )
    return row_changelog(before, after, ("k",), ["cents"]).orderBy(
        "k", "change"
    )


def q_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction MaxSim retrieval (X256, ColBERT shape): the
    embeddings table reinterpreted as multi-vector docs (doc = vec_id/4,
    4 units each), queries = the first 3 docs' unit sets; score(q,d) =
    sum over terms of max over units of cosine, top-5 per query. Fully
    relational (zip_with dot, two groupBys, rank window); the oracle
    replays the identical fold at 6dp."""
    from corpusama_spark.operators.ranking import maxsim_topk

    emb = _t(spark, sf_dir, "embeddings")
    units = emb.select(
        F.floor(F.col("vec_id") / 4).cast("long").alias("doc_id"),
        F.pmod("vec_id", F.lit(4)).cast("long").alias("unit_id"),
        F.col("embedding").alias("vec"),
    )
    queries_mv = units.where(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"),
        F.col("unit_id").alias("term_id"),
        "vec",
    )
    return maxsim_topk(units, queries_mv, k=5)


def q_ivm_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (X258): the per-group rollup of the
    AFTER state computed by applying signed changelog deltas to the
    BEFORE state's aggregate — the table is never re-read. The oracle
    recomputes the rollup from the after state directly, so the match
    proves the IVM identity maintain(state(b), Δ(b,a)) == state(a)."""
    from corpusama_spark.operators.ivm import aggregate_state, apply_changelog
    from corpusama_spark.operators.upsert import row_changelog

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.pmod("o_orderkey", F.lit(10)).cast("long").alias("g"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    before = o.where(F.pmod("k", F.lit(5)) != 0)
    after = o.where(F.pmod("k", F.lit(7)) != 0).withColumn(
        "cents",
        F.when(
            F.pmod("k", F.lit(3)) == 0, F.col("cents") + 1000
        ).otherwise(F.col("cents")),
    )
    log = row_changelog(before, after, ("k",), ["g", "cents"])
    maintained = apply_changelog(
        aggregate_state(before, ["g"], ["cents"]), log, ["g"], ["cents"]
    )
    return maintained.orderBy("g")


def q_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded ANN quality (X259): nDCG@5 of the axis-sign-LSH tier vs
    the brute-force ideal — charges the tier for ORDER, not just hits
    (what recall@k can't see). Axis-sign buckets are arithmetic-free, so
    the oracle rebuilds the identical candidate set and replays the
    log2-discounted sums at 6dp."""
    from corpusama_spark.operators.similarity import axis_lsh_topk, ndcg_audit

    emb = _t(spark, sf_dir, "embeddings")
    ann = axis_lsh_topk(
        emb, emb.where(F.col("vec_id") < 8), k=5, nbits=6, ntables=8
    )
    ideal = q_topk_cosine(spark, sf_dir).withColumnRenamed("rnk", "rank")
    return ndcg_audit(ann, ideal, k=5).orderBy("query_id")


def q_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout audit (X263): 8-bit Hilbert index over
    (n_chars mod 256, doc_id mod 256), 64 equal key-range buckets,
    per-bucket count + key range + (x, y) bounding-box spans — the
    tighter-box-per-file story vs Z-order. The oracle replays the
    unrolled xy2d rotation algebra stage by stage."""
    from corpusama_spark.operators.layout import with_hilbert_key

    docs = _t(spark, sf_dir, "documents").select(
        F.pmod("n_chars", F.lit(256)).cast("long").alias("ox"),
        F.pmod("doc_id", F.lit(256)).cast("long").alias("oy"),
    )
    keyed = with_hilbert_key(docs, "ox", "oy", bits=8)
    return (
        keyed.withColumn(
            "bucket", F.floor(F.col("hilbert_key") / 1024).cast("long")
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("hilbert_key").alias("min_hk"),
            F.max("hilbert_key").alias("max_hk"),
            (F.max("ox") - F.min("ox")).alias("span_x"),
            (F.max("oy") - F.min("oy")).alias("span_y"),
        )
        .orderBy("bucket")
    )


def _sql_hilbert_stages(bits: int = 8) -> str:
    """Chained CTE stages replaying with_hilbert_key's unrolled xy2d
    iteration; expects a CTE ``hsrc(ox, oy, hx, hy)`` and yields
    ``hfin(ox, oy, hd)``."""
    parts = ["h0 AS (SELECT ox, oy, hx, hy, CAST(0 AS BIGINT) AS hd FROM hsrc)"]
    prev = "h0"
    for step, i in enumerate(range(bits - 1, -1, -1)):
        s = 1 << i
        # bit test, NOT (hx // s) % 2: the rotation's s-1-x flip can go
        # negative mid-iteration, where SQL trunc-division/remainder
        # diverge from two's-complement bit semantics
        rx = f"(CASE WHEN (hx & {s}) != 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN (hy & {s}) != 0 THEN 1 ELSE 0 END)"
        quad = (
            f"(CASE WHEN {rx} = 1 AND {ry} = 1 THEN 2 "
            f"WHEN {rx} = 1 THEN 3 WHEN {ry} = 1 THEN 1 ELSE 0 END)"
        )
        flip_x = f"(CASE WHEN {rx} = 1 THEN {s - 1} - hx ELSE hx END)"
        flip_y = f"(CASE WHEN {rx} = 1 THEN {s - 1} - hy ELSE hy END)"
        name = f"h{step + 1}"
        parts.append(
            f"{name} AS (SELECT ox, oy, "
            f"CASE WHEN {ry} = 0 THEN {flip_y} ELSE hx END AS hx, "
            f"CASE WHEN {ry} = 0 THEN {flip_x} ELSE hy END AS hy, "
            f"hd + {s * s} * {quad} AS hd FROM {prev})"
        )
        prev = name
    parts.append(f"hfin AS (SELECT ox, oy, hd FROM {prev})")
    return ",\n        ".join(parts)


def q_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval overlap join (X268): even-event intervals × odd-event
    intervals from the events table (len = id%120 / id%90 seconds),
    bucketize-verify with single-bucket claim — the oracle computes the
    quadratic ground truth, so the match proves the bucketed plan finds
    EXACTLY the overlap set with no duplicates."""
    from corpusama_spark.operators.rangejoin import interval_overlap_join

    e = _t(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    left = e.where(F.pmod("event_id", F.lit(2)) == 0).select(
        F.col("event_id").alias("l_id"),
        F.timestamp_micros("us").alias("l_start"),
        F.timestamp_micros(
            F.col("us") + F.pmod("event_id", F.lit(120)) * 1_000_000
        ).alias("l_end"),
    )
    right = e.where(F.pmod("event_id", F.lit(2)) == 1).select(
        F.col("event_id").alias("r_id"),
        F.timestamp_micros("us").alias("r_start"),
        F.timestamp_micros(
            F.col("us") + F.pmod("event_id", F.lit(90)) * 1_000_000
        ).alias("r_end"),
    )
    j = interval_overlap_join(left, right, width_us=120_000_000)
    return j.select("l_id", "r_id", "overlap_us").orderBy("l_id", "r_id")


def q_hilbert_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-way layout audit (X267): linear vs Z-order vs Hilbert file
    assignment under the same 2-D predicate on a mod-256 key domain
    (fair for all three: the Hilbert key wraps at 2^bits), 16 files,
    parquet-footer min/max pruning — the OPTIMIZE decision table with
    the continuity curve included."""
    from corpusama_spark.operators.layout import pruning_audit

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.pmod("n_chars", F.lit(256)).alias("a"),
        F.pmod("doc_id", F.lit(256)).alias("b"),
    )
    return pruning_audit(
        docs, "doc_id", "a", "b",
        a_range=(40.0, 120.0), b_range=(32.0, 96.0),
        nfiles=16, bits=16, hilbert_bits=8,
    )


def q_xmodal_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal retrieval recall (X262, the CLIP eval shape): images
    vec_id<16 as queries, captions doc_id<200 as the candidate pool —
    where does each image's own caption rank under the portable
    two-tower encoders? Catches encoder collapse that the paired-only
    agreement score (X50) cannot see."""
    from corpusama_spark.operators.alignment import xmodal_recall

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    images = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 16)
    return xmodal_recall(docs, images, k=5)


def q_mwu_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney rank-sum (X270): n_chars of 'en' vs 'es' documents —
    the nonparametric twin of welch_length for heavy-tailed length
    distributions; midranks from one distinct-value window, tie-corrected
    z, algebra replayed exactly by the oracle."""
    from corpusama_spark.operators.stats import mannwhitney_u

    docs = _t(spark, sf_dir, "documents")
    return mannwhitney_u(docs, "lang", "n_chars", "en", "es")


def q_snb_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking (X271): two passes over documents —
    (prefix4, n_chars) and (suffix4, n_chars) sort keys, window 3 —
    candidate pairs for the FS linkage lane; volume is exactly
    n*(window-1) per pass by construction. Oracle replays both lead
    windows and the union-dedup."""
    from pyspark.sql import functions as FF

    from corpusama_spark.operators.fuzzy import sorted_neighborhood_pairs

    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    k1 = FF.concat_ws(
        "|",
        FF.substring(FF.lower(FF.trim("text")), 1, 4),
        FF.col("n_chars").cast("string"),
    )
    k2 = FF.concat_ws(
        "|",
        FF.substring(FF.reverse(FF.lower(FF.trim("text"))), 1, 4),
        FF.col("n_chars").cast("string"),
    )
    return sorted_neighborhood_pairs(
        docs, k1, window=3, passes=[k2]
    ).orderBy("id_a", "id_b")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Contract registry. ORDER IS DELIBERATE: the driver's correctness
    harness verifies a 50-query window from the front, so each round the
    dict is rotated to lead with 50 oracled queries that have never had a
    driver row (r03 and r04 verified 100 disjoint ones; this round-5
    window adds 50 more, for 150/262 oracled cumulative). Everything after the
    window is previously driver-green or selfcheck-verified; every
    oracled entry is re-verifiable any time via scripts/selfcheck.py
    (the full 295-query sweep ran green, RC=0, on 2026-08-21; the two
    round-5 additions zonemap_scan / bound_overlap verified on landing,
    bringing the registry to 297 queries, 262 oracled)."""
    return {
        # -- ROUND-5 DRIVER WINDOW: 50 oracled queries with no driver row in
        #    r01-r04 (r03+r04 covered 100 disjoint ones; this third rotation
        #    brings cumulative driver coverage to 150/262 oracled). Includes the
        #    three round-5 plan-shape fixes (snb_pairs, heaps_fit, mwu_test) so
        #    their repartitioned rewrites get official driver rows. --------------
        "kmeans_clusters": q_kmeans_clusters,
        "fuzzy_pairs": q_fuzzy_pairs,
        "ppjoin": q_ppjoin,
        "oph_minhash": q_oph_minhash,
        "suffix_spans": q_suffix_spans,
        "fs_linkage": q_fs_linkage,
        "bpe_merges": q_bpe_merges,
        "sinkhorn": q_sinkhorn,
        "drift_fdr": q_drift_fdr,
        "auc": q_auc,
        "pr_curve": q_pr_curve,
        "cube_counts": q_cube_counts,
        "pagerank": q_pagerank,
        "token_pagerank": q_token_pagerank,
        "mor_read": q_mor_read,
        "changelog": q_changelog,
        "ivm_rollup": q_ivm_rollup,
        "maxsim": q_maxsim,
        "ndcg": q_ndcg,
        "xmodal_recall": q_xmodal_recall,
        "hilbert_layout": q_hilbert_layout,
        "hilbert_pruning": q_hilbert_pruning,
        "overlap_join": q_overlap_join,
        "mwu_test": q_mwu_test,
        "snb_pairs": q_snb_pairs,
        "heaps_fit": q_heaps_fit,
        "token_entropy": q_token_entropy,
        "lang_confusion": q_lang_confusion,
        "containment": q_containment,
        "tfidf_pairs": q_tfidf_pairs,
        "jaccard_sweep": q_jaccard_sweep,
        "cdc_dedup": q_cdc_dedup,
        "bloom_pruning": q_bloom_pruning,
        "lof": q_lof,
        "pq_codes": q_pq_codes,
        "pq_topk": q_pq_topk,
        "ivfpq_topk": q_ivfpq_topk,
        "multiprobe_recall": q_multiprobe_recall,
        "hll_overlap": q_hll_overlap,
        "rrf_fusion": q_rrf_fusion,
        "mg_heavy": q_mg_heavy,
        "cms_topk": q_cms_topk,
        "hll_audit": q_hll_audit,
        "k_anonymity": q_k_anonymity,
        "l_diversity": q_l_diversity,
        "pseudonymize": q_pseudonymize,
        "label_prop": q_label_prop,
        "dict_build": q_dict_build,
        "robots_gate": q_robots_gate,
        "conformal": q_conformal,
        # -- previously driver-green (r03/r04) or selfcheck-verified; every
        #    oracled entry re-verifiable any time via scripts/selfcheck.py ------
        "winnow_fp": q_winnow_fp,
        "repeated_spans": q_repeated_spans,
        "minhash_pairs_md5": q_minhash_pairs_md5,
        "simhash_md5": q_simhash_md5,
        "embed_quantize": q_embed_quantize,
        "ann_recall": q_ann_recall,
        "repetition": q_repetition,
        "contamination": q_contamination,
        "dup_lines": q_dup_lines,
        "strat_sample": q_strat_sample,
        "semantic_dedup": q_semantic_dedup,
        "pack_shards": q_pack_shards,
        "curation_pipeline": q_curation_pipeline,
        "image_rules": q_image_rules,
        "caption_align": q_caption_align,
        "bigram_ppl": q_bigram_ppl,
        "nb_quality": q_nb_quality,
        "collocations": q_collocations,
        "keywords": q_keywords,
        "kwic": q_kwic,
        "mojibake_flag": q_mojibake_flag,
        "mojibake_fix": q_mojibake_fix,
        "url_filter": q_url_filter,
        "ppl_buckets_rel": q_ppl_buckets_rel,
        "scrub_audit": q_scrub_audit,
        "stupid_backoff": q_stupid_backoff,
        "freq_profile": q_freq_profile,
        "sessions": q_sessions,
        "ivf_recall": q_ivf_recall,
        "sessions_presplit": q_sessions_presplit,
        "psl_domains": q_psl_domains,
        "bm25": q_bm25,
        "skew_report": q_skew_report,
        "session_windows": q_session_windows,
        "jaccard_exact": q_jaccard_exact,
        "minhash_recall": q_minhash_recall,
        "audio_rules": q_audio_rules,
        "kn_ppl": q_kn_ppl,
        "asof_attrib": q_asof_attrib,
        "range_count": q_range_count,
        "c4_rules": q_c4_rules,
        "checksum_scrub": q_checksum_scrub,
        "group_quantiles": q_group_quantiles,
        "minhash_keeplist": q_minhash_keeplist,
        "phash_near_dup": q_phash_near_dup,
        "phash_keeplist": q_phash_keeplist,
        "zipf_fit": q_zipf_fit,
        "dsir_weights": q_dsir_weights,
        "script_shares": q_script_shares,
        "magic_gate": q_magic_gate,
        "rule_ablation": q_rule_ablation,
        "adaptive_gate": q_adaptive_gate,
        "dedup_xmodal": q_dedup_xmodal,
        "video_rules": q_video_rules,
        "url_canon": q_url_canon,
        "incr_dedup": q_incr_dedup,
        "caption_skew": q_caption_skew,
        "aspect_buckets": q_aspect_buckets,
        "phash_dist_hist": q_phash_dist_hist,
        "split_leakage": q_split_leakage,
        "domain_quota": q_domain_quota,
        "cluster_sizes": q_cluster_sizes,
        "pps_sample": q_pps_sample,
        "neighbor_quality": q_neighbor_quality,
        "boiler_share": q_boiler_share,
        "best_keeplist": q_best_keeplist,
        "domain_shrinkage": q_domain_shrinkage,
        "hard_negatives": q_hard_negatives,
        "caption_reuse": q_caption_reuse,
        "value_trend": q_value_trend,
        "score_percentile": q_score_percentile,
        "cluster_purity": q_cluster_purity,
        "mad_outliers": q_mad_outliers,
        "funnel": q_funnel,
        "cohort": q_cohort,
        "calibration": q_calibration,
        "readability": q_readability,
        "rate_anomaly": q_rate_anomaly,
        "dedup_cascade": q_dedup_cascade,
        "except_intersect": q_except_intersect,
        "weighted_sample": q_weighted_sample,
        "concentration": q_concentration,
        "decayed_mean": q_decayed_mean,
        "chunk_windows": q_chunk_windows,
        "kappa_agreement": q_kappa_agreement,
        "psi_drift": q_psi_drift,
        "ks_drift": q_ks_drift,
        "jsd_sources": q_jsd_sources,
        "neyman_alloc": q_neyman_alloc,
        "bootstrap_ci": q_bootstrap_ci,
        "zorder_layout": q_zorder_layout,
        "cusum_shift": q_cusum_shift,
        "compress_gate": q_compress_gate,
        "quantile_norm": q_quantile_norm,
        "burstiness": q_burstiness,
        "trimmed_mean": q_trimmed_mean,
        "rbo_rankings": q_rbo_rankings,
        "stream_drift": q_stream_drift,
        "oov_rate": q_oov_rate,
        "kmeans_quality": q_kmeans_quality,
        "label_centroid_sim": q_label_centroid_sim,
        "hill_diversity": q_hill_diversity,
        "cooc_triangles": q_cooc_triangles,
        "drop_waterfall": q_drop_waterfall,
        "wasserstein_drift": q_wasserstein_drift,
        "theil_decomp": q_theil_decomp,
        "source_overlap": q_source_overlap,
        "bleu_verify": q_bleu_verify,
        "union_keeplist": q_union_keeplist,
        "dedup_by_source": q_dedup_by_source,
        "metric_corr": q_metric_corr,
        "spearman_quality": q_spearman_quality,
        "chi2_lang_source": q_chi2_lang_source,
        "welch_length": q_welch_length,
        "vocab_richness": q_vocab_richness,
        "burrows_delta": q_burrows_delta,
        "benford": q_benford,
        "mcnemar_rules": q_mcnemar_rules,
        "template_prefix": q_template_prefix,
        "acf_daily": q_acf_daily,
        "band_occupancy": q_band_occupancy,
        "caption_divergence": q_caption_divergence,
        "knn_hubness": q_knn_hubness,
        "label_cohesion": q_label_cohesion,
        "dedup_clusters": q_dedup_clusters,
        "dedup_keeplist": q_dedup_keeplist,
        "gopher_rules": q_gopher_rules,
        "bpe_tokens": q_bpe_tokens,
        "sent_split_lang": q_sent_split_lang,
        "export_join": q_export_join,
        "topk_cosine": q_topk_cosine,
        "jaccard_adjacent": q_jaccard_adjacent,
        "scrub": q_scrub,
        "langid_sql": q_langid_sql,
        "quality_score": q_quality_score,
        "schema_drift": q_schema_drift,
        "na_profile": q_na_profile,
        "diff_summary": q_diff_summary,
        "vert_export": q_vert_export,
        "conllu_export": q_conllu_export,
        "vert_parse": q_vert_parse,
        "stage_counts": q_stage_counts,
        "metrics_rollup": q_metrics_rollup,
        "subcorpus": q_subcorpus,
        "majority_vote": q_majority_vote,
        "semi_join": q_semi_join,
        "explode_tokens": q_explode_tokens,
        "byte_share": q_byte_share,
        "argmax_lang": q_argmax_lang,
        "char_quartiles": q_char_quartiles,
        "window_renumber": q_window_renumber,
        "dedup_exact": q_dedup_exact,
        "fingerprint": q_fingerprint,
        "token_stats": q_token_stats,
        "nanlike": q_nanlike,
        "min_portion": q_min_portion,
        "year_rollup": q_year_rollup,
        "union_halves": q_union,
        "multivalue_join": q_multivalue_join,
        "doc_tag": q_doc_tag,
        "wrap_lines": q_wrap_lines,
        "json_extract": q_json_extract,
        "quote_fold": q_quote_fold,
        "stopword_hits": q_stopword_hits,
        "lang_presence": q_lang_presence,
        "seeded_sample": q_seeded_sample,
        "pivot_counts": q_pivot_counts,
        "flatten": q_flatten,
        "export_doc": q_export_doc,
        "pdf_clean": q_pdf_clean,
        "xml_clean": q_xml_clean,
        "no_sep_join": q_no_sep_join,
        "json_obj": q_json_obj,
        "html_text": q_html_text,
        "ivf_topk": q_ivf_topk,
        "flagship": q_flagship,
        "narrow_flagship": q_narrow_flagship,
        "flagship_metrics": q_flagship_metrics,
        "minhash_pairs": q_minhash_pairs,
        "simhash_groups": q_simhash_groups,
        "simhash_exact": q_simhash_exact,
        "ann_topk": q_ann_topk,
        "embedding_near_dups": q_embedding_near_dups,
        "sentence_langid": q_sentence_langid,
        "str_obj_any": q_str_obj_any,
        "lid_shares": q_lid_shares,
        "align_tokens": q_align_tokens,
        "image_features": q_image_features,
        "image_near_dups": q_image_near_dups,
        "ppl_buckets": q_ppl_buckets,
        "audio_features": q_audio_features,
        "video_frames": q_video_frames,
        "ess_audit": q_ess_audit,
        "novelty": q_novelty,
        "mutual_info": q_mutual_info,
        "embed_covariance": q_embed_covariance,
        "embed_collapse": q_embed_collapse,
        "top_pc": q_top_pc,
        "t_close": q_t_close,
        "header_consistency": q_header_consistency,
        "channel_stats": q_channel_stats,
        "sharpness": q_sharpness,
        "shapley_rules": q_shapley_rules,
        "interleave": q_interleave,
        "lsh_band_plan": q_lsh_band_plan,
        "rendezvous": q_rendezvous,
        "logreg_quality": q_logreg_quality,
        "kcenter": q_kcenter,
        "colorfulness": q_colorfulness,
        "border_audit": q_border_audit,
        "pruning_audit": q_pruning_audit,
        "audio_near_dup": q_audio_near_dup,
        "shot_bounds": q_shot_bounds,
        "unseen_vocab": q_unseen_vocab,
        "dp_counts": q_dp_counts,
        "exposure": q_exposure,
        "margin_pairs": q_margin_pairs,
        "canary_exposure": q_canary_exposure,
        "brier": q_brier,
        "textiness": q_textiness,
        "isotonic": q_isotonic,
        "bitext_filter": q_bitext_filter,
        "dim_truncation": q_dim_truncation,
        "ncd_pairs": q_ncd_pairs,
        "pseudonym_map": q_pseudonym_map,
        "hamming_recall": q_hamming_recall,
        "confusables": q_confusables,
        "rollout_power": q_rollout_power,
        "dict_gain": q_dict_gain,
        "code_detect": q_code_detect,
        "weighted_quantiles": q_weighted_quantiles,
        "crawl_schedule": q_crawl_schedule,
        "crawl_audit": q_crawl_audit,
        "phash_robustness": q_phash_robustness,
        "partial_dups": q_partial_dups,
        "waterfill": q_waterfill,
        "lexicon_gate": q_lexicon_gate,
        "skin_route": q_skin_route,
        "crawl_rollup": q_crawl_rollup,
        "url_spam": q_url_spam,
        "crawl_funnel": q_crawl_funnel,
        "index_staleness": q_index_staleness,
        "quality_metrics": q_quality_metrics,
        "canary_report": q_canary_report,
        "mor_audit": q_mor_audit,
        # -- X273: zone-map data skipping audit ------------------------------
        "zonemap_scan": q_zonemap_scan,
        # -- X276: clustering-depth (bound-overlap) audit --------------------
        "bound_overlap": q_bound_overlap,
    }


# --------------------------------------------------------------------------
# DuckDB oracles
# --------------------------------------------------------------------------


def _sql_stopword_hits(lang: str, text: str = "text") -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        f"len(list_filter(string_split_regex(lower(trim({text})), '\\s+'),"
        f" x -> x IN ({words})))"
    )


def _sql_minhash_md5(
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket: int = 1024,
    src: str = "documents",
) -> str:
    """DuckDB twin of minhash_lsh_pairs(hash_family='md5'): identical
    shingling, identical ('0x'||substr(md5,1,8))::BIGINT % p shingle hash,
    identical affine permutations (a_k=2k+1, b_k=1000003(k+1)), identical
    md5 band keys and flood guard."""
    p = 2147483647
    sig_exprs = ", ".join(
        f"list_aggregate(list_transform(hs, h -> (h * {2 * k + 1}"
        f" + {1_000_003 * (k + 1)}) % {p}), 'min') AS s{k}"
        for k in range(num_hashes)
    )
    rpb = num_hashes // bands
    band_keys = ", ".join(
        "md5(concat("
        + ", ',', ".join(
            f"CAST(s{b * rpb + r} AS VARCHAR)" for r in range(rpb)
        )
        + "))"
        for b in range(bands)
    )
    band_idx = ", ".join(str(b) for b in range(bands))
    return f"""
        WITH g AS (
            SELECT doc_id AS id, lower(trim(text)) AS t FROM {src}
            WHERE text IS NOT NULL AND length(trim(text)) > 0),
        tok AS (SELECT id, string_split_regex(t, '\\s+') AS ws FROM g),
        sh AS (SELECT id, list_distinct(list_filter(
                 list_transform(
                     generate_series(1, greatest(len(ws) - {shingle_n - 1}, 1)),
                     i -> array_to_string(ws[i:i+{shingle_n - 1}], ' ')),
                 s -> len(s) > 0)) AS sg FROM tok),
        hsh AS (SELECT id, list_transform(sg, s ->
                 ('0x' || substr(md5(s), 1, 8))::BIGINT % {p}) AS hs
                FROM sh),
        sig AS (SELECT id, {sig_exprs} FROM hsh),
        banded AS (SELECT id, unnest([{band_keys}]) AS band_key,
                          unnest([{band_idx}]) AS band FROM sig),
        ok AS (SELECT band, band_key FROM banded GROUP BY band, band_key
               HAVING count(*) <= {max_bucket}),
        b2 AS (SELECT banded.* FROM banded JOIN ok USING (band, band_key))
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM b2 a JOIN b2 b
          ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id
    """


# DuckDB twin of _phash_population: 60-bit md5-derived code per doc plus a
# 1-3-bit-flipped twin per doc_id%10==0 (flip positions keyed by id)
_SQL_PHASH_POP = """
    SELECT id, code FROM (
        SELECT doc_id AS id,
               ('0x' || substr(md5('ph-' || doc_id), 1, 15))::BIGINT AS code
        FROM documents) base
    UNION ALL
    SELECT id + 1000000 AS id,
           xor(code,
               (CAST(1 AS BIGINT) << (id % 60))
               | CASE WHEN id % 3 >= 1
                      THEN (CAST(1 AS BIGINT) << ((id * 7) % 60))
                      ELSE 0 END
               | CASE WHEN id % 3 = 2
                      THEN (CAST(1 AS BIGINT) << ((id * 13) % 60))
                      ELSE 0 END) AS code
    FROM (
        SELECT doc_id AS id,
               ('0x' || substr(md5('ph-' || doc_id), 1, 15))::BIGINT AS code
        FROM documents) b2
    WHERE id % 10 = 0"""


_SQL_PERTURBED_SRC = """(
    SELECT doc_id, text FROM documents WHERE text IS NOT NULL
    UNION ALL
    SELECT doc_id + 100000, text FROM documents
    WHERE text IS NOT NULL AND doc_id % 10 = 0
    UNION ALL
    SELECT doc_id + 200000, regexp_replace(text, '^\\S+', 'xqzyv')
    FROM documents WHERE text IS NOT NULL AND doc_id % 10 = 0)"""


def _sql_ivfpq(
    kc: int = 4,
    citers: int = 2,
    m: int = 4,
    k: int = 4,
    iters: int = 2,
    nprobe: int = 2,
    topk: int = 5,
    dim: int = 64,
    nq: int = 8,
) -> str:
    """DuckDB replay of operators/pq.py ivfpq_topk: the coarse-Lloyd and
    residual-PQ iteration chains are unrolled into CTEs (fixed iteration
    counts ARE the determinism contract, so unrolling is faithful)."""
    dsub = dim // m
    parts = [
        """dims AS (
            SELECT vec_id AS id,
                   generate_subscripts(embedding, 1) - 1 AS dim,
                   unnest(embedding)::DOUBLE AS v
            FROM embeddings)""",
        f"""cseeds AS (
            SELECT vec_id AS id,
                   row_number() OVER (ORDER BY vec_id) - 1 AS cell
            FROM embeddings QUALIFY cell < {kc})""",
        """cc0 AS (
            SELECT s.cell, d.dim, round(d.v, 6) AS c
            FROM dims d JOIN cseeds s USING (id))""",
    ]
    for i in range(1, citers + 1):
        parts += [
            f"""cd{i} AS (
            SELECT d.id, c.cell,
                   round(sum((d.v - c.c) * (d.v - c.c)), 6) AS d2
            FROM dims d JOIN cc{i - 1} c USING (dim)
            GROUP BY d.id, c.cell)""",
            f"""ca{i} AS (
            SELECT id, cell FROM (
                SELECT id, cell,
                       row_number() OVER (PARTITION BY id
                                          ORDER BY d2, cell) AS rnk
                FROM cd{i}) WHERE rnk = 1)""",
            f"""cc{i} AS (
            SELECT a.cell, d.dim, round(avg(d.v), 6) AS c
            FROM dims d JOIN ca{i} a USING (id)
            GROUP BY a.cell, d.dim)""",
        ]
    cf = f"cc{citers}"
    parts += [
        f"""fd AS (
            SELECT d.id, c.cell,
                   round(sum((d.v - c.c) * (d.v - c.c)), 6) AS d2
            FROM dims d JOIN {cf} c USING (dim)
            GROUP BY d.id, c.cell)""",
        """fa AS (
            SELECT id, cell FROM (
                SELECT id, cell,
                       row_number() OVER (PARTITION BY id
                                          ORDER BY d2, cell) AS rnk
                FROM fd) WHERE rnk = 1)""",
        f"""rdims AS (
            SELECT d.id, a.cell, d.dim // {dsub} AS sub, d.dim,
                   round(d.v - c.c, 6) AS v
            FROM dims d JOIN fa a USING (id)
            JOIN {cf} c ON c.cell = a.cell AND c.dim = d.dim)""",
        f"""pseeds AS (
            SELECT vec_id AS id,
                   row_number() OVER (ORDER BY vec_id) - 1 AS cluster
            FROM embeddings QUALIFY cluster < {k})""",
        """pb0 AS (
            SELECT r.sub, s.cluster, r.dim, round(r.v, 6) AS c
            FROM rdims r JOIN pseeds s USING (id))""",
    ]
    for i in range(1, iters + 1):
        parts += [
            f"""pd{i} AS (
            SELECT r.id, r.sub, c.cluster,
                   round(sum((r.v - c.c) * (r.v - c.c)), 6) AS d2
            FROM rdims r JOIN pb{i - 1} c USING (dim)
            GROUP BY r.id, r.sub, c.cluster)""",
            f"""pa{i} AS (
            SELECT id, sub, cluster FROM (
                SELECT id, sub, cluster,
                       row_number() OVER (PARTITION BY id, sub
                                          ORDER BY d2, cluster) AS rnk
                FROM pd{i}) WHERE rnk = 1)""",
            f"""pb{i} AS (
            SELECT r.sub, a.cluster, r.dim, round(avg(r.v), 6) AS c
            FROM rdims r JOIN pa{i} a ON a.id = r.id AND a.sub = r.sub
            GROUP BY r.sub, a.cluster, r.dim)""",
        ]
    pf = f"pb{iters}"
    parts += [
        f"""ed AS (
            SELECT r.id, r.cell, r.sub, c.cluster,
                   round(sum((r.v - c.c) * (r.v - c.c)), 6) AS d2
            FROM rdims r JOIN {pf} c USING (dim)
            GROUP BY r.id, r.cell, r.sub, c.cluster)""",
        """codes AS (
            SELECT id, cell, sub, cluster AS code FROM (
                SELECT id, cell, sub, cluster,
                       row_number() OVER (PARTITION BY id, sub
                                          ORDER BY d2, cluster) AS rnk
                FROM ed) WHERE rnk = 1)""",
        f"""qdims AS (
            SELECT id AS query_id, dim, v FROM dims WHERE id < {nq})""",
        f"""qcd AS (
            SELECT q.query_id, c.cell,
                   round(sum((q.v - c.c) * (q.v - c.c)), 6) AS d2
            FROM qdims q JOIN {cf} c USING (dim)
            GROUP BY q.query_id, c.cell)""",
        f"""probes AS (
            SELECT query_id, cell FROM (
                SELECT query_id, cell,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY d2, cell) AS rnk
                FROM qcd) WHERE rnk <= {nprobe})""",
        f"""rq AS (
            SELECT q.query_id, p.cell, q.dim // {dsub} AS sub, q.dim,
                   round(q.v - c.c, 6) AS v
            FROM qdims q JOIN probes p USING (query_id)
            JOIN {cf} c ON c.cell = p.cell AND c.dim = q.dim)""",
        f"""lut AS (
            SELECT r.query_id, r.cell, r.sub, c.cluster AS code,
                   round(sum((r.v - c.c) * (r.v - c.c)), 6) AS pd
            FROM rq r JOIN {pf} c USING (dim)
            GROUP BY r.query_id, r.cell, r.sub, c.cluster)""",
        """adc AS (
            SELECT l.query_id, k.id AS cand_id, k.cell,
                   round(sum(l.pd), 6) AS adc_d2
            FROM codes k JOIN lut l
                 ON l.cell = k.cell AND l.sub = k.sub AND l.code = k.code
            WHERE k.id <> l.query_id
            GROUP BY l.query_id, k.id, k.cell)""",
    ]
    ctes = ",\n        ".join(parts)
    return f"""
        WITH {ctes}
        SELECT query_id, cand_id, CAST(cell AS BIGINT) AS cell, adc_d2,
               CAST(rnk AS INTEGER) AS rnk FROM (
            SELECT query_id, cand_id, cell, adc_d2,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY adc_d2, cand_id) AS rnk
            FROM adc) WHERE rnk <= {topk}
        ORDER BY query_id, rnk
    """


def _sql_jaccard_exact(
    threshold: float = 0.5,
    shingle_n: int = 3,
    max_df: int = 32,
    src: str = _SQL_PERTURBED_SRC,
) -> str:
    """DuckDB twin of exact_jaccard_pairs: identical shingling (the
    minhash-oracle fragment), inverted index, df-cap, intersection counts
    and |A∪B| = |A|+|B|−|∩| arithmetic."""
    k = shingle_n - 1
    return f"""
        WITH srcx AS (SELECT * FROM {src} s(doc_id, text)),
        tok AS (SELECT doc_id AS id,
                       string_split_regex(lower(trim(text)), '\\s+') AS ws
                FROM srcx),
        sh AS (SELECT id, list_distinct(list_filter(
                 list_transform(
                     generate_series(1, greatest(len(ws) - {k}, 1)),
                     i -> array_to_string(ws[i:i+{k}], ' ')),
                 s -> len(s) > 0)) AS sg FROM tok),
        nz AS (SELECT id, sg, len(sg) AS sz FROM sh WHERE len(sg) > 0),
        inv AS (SELECT id, unnest(sg) AS g FROM nz),
        okg AS (SELECT g FROM inv GROUP BY g HAVING count(*) <= {max_df}),
        inv2 AS (SELECT inv.id, inv.g FROM inv JOIN okg USING (g)),
        inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
                  FROM inv2 a JOIN inv2 b USING (g)
                  WHERE a.id < b.id GROUP BY 1, 2),
        jac AS (SELECT id_a, id_b,
                       round(i / (sa.sz + sb.sz - i), 6) AS jaccard
                FROM inter
                JOIN nz sa ON sa.id = inter.id_a
                JOIN nz sb ON sb.id = inter.id_b)
        SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= {threshold}
    """


def _sql_oph_minhash(k: int = 16, shingle_n: int = 3) -> str:
    """DuckDB twin of oph_accuracy_pairs over the perturbed corpus:
    identical md5 shingle hash, h%k binning, per-bin mins, the k²
    rotation-densification coalesce lattice, slot-agreement estimator
    and exact list_intersect Jaccard."""
    p = 2147483647
    kgram = shingle_n - 1
    pivot = ", ".join(
        f"min(CASE WHEN b = {i} THEN mn END) AS m{i}" for i in range(k)
    )
    filled = ", ".join(
        "coalesce("
        + ", ".join(f"m{(i + j) % k} + {j}::BIGINT * {p}" for j in range(k))
        + f") AS f{i}"
        for i in range(k)
    )
    agree = " + ".join(
        f"CASE WHEN a.f{i} = b.f{i} THEN 1 ELSE 0 END" for i in range(k)
    )
    return f"""
        WITH srcx AS (SELECT * FROM {_SQL_PERTURBED_SRC} s(doc_id, text)),
        tok AS (SELECT doc_id AS id,
                       string_split_regex(lower(trim(text)), '\\s+') AS ws
                FROM srcx),
        sh AS (SELECT id, list_distinct(list_filter(
                 list_transform(
                     generate_series(1, greatest(len(ws) - {kgram}, 1)),
                     i -> array_to_string(ws[i:i+{kgram}], ' ')),
                 s -> len(s) > 0)) AS sg FROM tok),
        nz AS (SELECT id, sg FROM sh WHERE len(sg) > 0),
        bins AS (SELECT id, hv % {k} AS b, min(hv) AS mn FROM (
                     SELECT id, unnest(list_transform(sg, s ->
                         ('0x' || substr(md5(s), 1, 8))::BIGINT % {p})) AS hv
                     FROM nz)
                 GROUP BY id, hv % {k}),
        slots AS (SELECT id, {pivot} FROM bins GROUP BY id),
        sig AS (SELECT id, {filled} FROM slots),
        base AS (SELECT doc_id FROM documents
                 WHERE text IS NOT NULL AND doc_id % 10 = 0),
        pairs AS (
            SELECT doc_id AS id_a, doc_id + 100000 AS id_b FROM base
            UNION ALL
            SELECT doc_id, doc_id + 200000 FROM base
            UNION ALL
            SELECT doc_id + 100000, doc_id + 200000 FROM base),
        est AS (
            SELECT pairs.id_a, pairs.id_b,
                   round(({agree}) / {k}.0, 6) AS est_j,
                   round(len(list_intersect(sa.sg, sb.sg)) /
                         CAST(len(sa.sg) + len(sb.sg)
                              - len(list_intersect(sa.sg, sb.sg))
                              AS DOUBLE), 6) AS exact_j
            FROM pairs
            JOIN sig a ON a.id = pairs.id_a
            JOIN sig b ON b.id = pairs.id_b
            JOIN nz sa ON sa.id = pairs.id_a
            JOIN nz sb ON sb.id = pairs.id_b)
        SELECT id_a, id_b, est_j, exact_j,
               round(abs(est_j - exact_j), 6) AS abs_err
        FROM est ORDER BY id_a, id_b
    """


def _sql_sinkhorn(
    nbins: int = 16,
    width: float = 50.0,
    eps: float = 0.1,
    iters: int = 6,
) -> str:
    """DuckDB twin of sinkhorn_hist_distance over documents(source,
    n_chars). The K kernel is emitted as LITERALS from the same python
    math.exp pass the Spark side broadcasts, so no cross-engine exp()
    is in the contract; u/v trajectories carry the identical 9-dp pin."""
    import math as _m

    k_vals = ", ".join(
        f"({i}, {j}, {abs(i - j) / (nbins - 1)!r},"
        f" {_m.exp(-(abs(i - j) / (nbins - 1)) / eps)!r})"
        for i in range(nbins)
        for j in range(nbins)
    )
    parts = [
        f"""masses AS MATERIALIZED (
            SELECT source AS g,
                   least(CAST(floor(n_chars / {width}) AS INT),
                         {nbins - 1}) AS b,
                   CAST(count(*) AS BIGINT) AS n
            FROM documents
            WHERE n_chars IS NOT NULL
                  AND least(CAST(floor(n_chars / {width}) AS INT),
                            {nbins - 1}) >= 0
            GROUP BY 1, 2)""",
        "tots AS (SELECT g, sum(n) AS tot FROM masses GROUP BY g)",
        f"""grid AS MATERIALIZED (
            SELECT tg.g, tg.b,
                   coalesce(m.n, 0) / CAST(tg.tot AS DOUBLE) AS m
            FROM (SELECT g, tot,
                         unnest(generate_series(0, {nbins - 1})) AS b
                  FROM tots) tg
            LEFT JOIN masses m ON m.g = tg.g AND m.b = tg.b)""",
        f"kt(i, j, c, k) AS MATERIALIZED (SELECT * FROM (VALUES {k_vals}))",
        """prs AS MATERIALIZED (
            SELECT a.g AS src_a, b.g AS src_b
            FROM tots a, tots b WHERE a.g < b.g)""",
        """am AS MATERIALIZED (
            SELECT src_a, src_b, grid.b AS i, grid.m AS a
            FROM prs JOIN grid ON grid.g = prs.src_a)""",
        """bm AS MATERIALIZED (
            SELECT src_a, src_b, grid.b AS j, grid.m AS bmass
            FROM prs JOIN grid ON grid.g = prs.src_b)""",
        "v0 AS (SELECT src_a, src_b, j, 1.0 AS v FROM bm)",
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"""u{t} AS (
            SELECT am.src_a, am.src_b, am.i,
                   round(CASE WHEN am.a > 0 AND kv.kv > 0
                              THEN am.a / kv.kv ELSE 0.0 END, 9) AS u
            FROM am JOIN (
                SELECT src_a, src_b, kt.i, sum(kt.k * v.v) AS kv
                FROM v{t - 1} v JOIN kt ON kt.j = v.j
                GROUP BY src_a, src_b, kt.i) kv
            ON kv.src_a = am.src_a AND kv.src_b = am.src_b
               AND kv.i = am.i)"""
        )
        parts.append(
            f"""v{t} AS (
            SELECT bm.src_a, bm.src_b, bm.j,
                   round(CASE WHEN bm.bmass > 0 AND ku.ku > 0
                              THEN bm.bmass / ku.ku ELSE 0.0 END, 9) AS v
            FROM bm JOIN (
                SELECT src_a, src_b, kt.j, sum(kt.k * u.u) AS ku
                FROM u{t} u JOIN kt ON kt.i = u.i
                GROUP BY src_a, src_b, kt.j) ku
            ON ku.src_a = bm.src_a AND ku.src_b = bm.src_b
               AND ku.j = bm.j)"""
        )
    return (
        "WITH " + ",\n".join(parts) + f"""
        SELECT u.src_a, u.src_b,
               round(sum(u.u * kt.k * v.v * kt.c), 6) AS sinkhorn_cost
        FROM u{iters} u
        JOIN kt ON kt.i = u.i
        JOIN v{iters} v ON v.src_a = u.src_a AND v.src_b = u.src_b
                        AND v.j = kt.j
        GROUP BY u.src_a, u.src_b
        ORDER BY u.src_a, u.src_b
    """
    )


def _sql_fs_linkage(iters: int = 10, upper: float = 3.0, lower: float = 0.0) -> str:
    """DuckDB twin of fs_linkage_table over the perturbed corpus:
    identical comparators (3-gram Jaccard ≥ .5, length ratio ≥ .9,
    first-token equality), identical pair tiers, and the 10 EM rounds
    unrolled with the same 9-dp per-round parameter pin."""

    def _prob(prefix: str, fields: str) -> str:
        terms = []
        for f, g in enumerate(["g1", "g2", "g3"], start=1):
            terms.append(
                f"(CASE WHEN {g} = 1 THEN {fields}{f}"
                f" ELSE 1 - {fields}{f} END)"
            )
        return f"{prefix} * " + " * ".join(terms)

    parts = [
        f"""srcx AS MATERIALIZED (
            SELECT * FROM {_SQL_PERTURBED_SRC} s(doc_id, text))""",
        """feats AS MATERIALIZED (
            SELECT doc_id AS id,
                   list_distinct(list_filter(
                       list_transform(
                           generate_series(1, greatest(len(ws) - 2, 1)),
                           i -> array_to_string(ws[i:i+2], ' ')),
                       s -> len(s) > 0)) AS sg,
                   len(coalesce(text, '')) AS ln,
                   lower(list_filter(
                       string_split_regex(trim(coalesce(text, '')),
                                          '\\s+'),
                       s -> len(s) > 0)[1]) AS w1
            FROM (SELECT doc_id, text,
                         string_split_regex(lower(trim(coalesce(text,
                             ''))), '\\s+') AS ws
                  FROM srcx))""",
        """base AS (SELECT doc_id FROM documents
                    WHERE text IS NOT NULL AND doc_id % 10 = 0)""",
        """prs AS (
            SELECT doc_id AS id_a, doc_id + 100000 AS id_b FROM base
            UNION ALL SELECT doc_id, doc_id + 200000 FROM base
            UNION ALL SELECT doc_id, (doc_id + 30) % 1000 + 200000
            FROM base)""",
        """ap AS MATERIALIZED (
            SELECT CASE WHEN (CASE WHEN len(a.sg) + len(b.sg)
                                        - len(list_intersect(a.sg, b.sg))
                                        > 0
                              THEN len(list_intersect(a.sg, b.sg)) /
                                   CAST(len(a.sg) + len(b.sg)
                                        - len(list_intersect(a.sg, b.sg))
                                        AS DOUBLE)
                              ELSE 0.0 END) >= 0.5
                        THEN 1 ELSE 0 END AS g1,
                   CASE WHEN (CASE WHEN greatest(a.ln, b.ln) > 0
                              THEN least(a.ln, b.ln) /
                                   CAST(greatest(a.ln, b.ln) AS DOUBLE)
                              ELSE 0.0 END) >= 0.9
                        THEN 1 ELSE 0 END AS g2,
                   CASE WHEN a.w1 IS NOT NULL AND a.w1 = b.w1
                        THEN 1 ELSE 0 END AS g3
            FROM prs
            JOIN feats a ON a.id = prs.id_a
            JOIN feats b ON b.id = prs.id_b)""",
        """pat AS MATERIALIZED (
            SELECT g1, g2, g3, CAST(count(*) AS BIGINT) AS n
            FROM ap GROUP BY 1, 2, 3)""",
        "ntot AS (SELECT CAST(sum(n) AS DOUBLE) AS nt FROM pat)",
        """prm0 AS (SELECT 0.1 AS p, 0.8 AS m1, 0.8 AS m2, 0.8 AS m3,
                           0.2 AS u1, 0.2 AS u2, 0.2 AS u3)""",
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"""resp{t} AS (
            SELECT g1, g2, g3, n,
                   ({_prob("p", "m")}) /
                   (({_prob("p", "m")}) + ({_prob("(1 - p)", "u")}))
                       AS w
            FROM pat, prm{t - 1})"""
        )
        m_terms = ", ".join(
            f"round(sum(n * w * g{f}) / sum(n * w), 9) AS m{f}"
            for f in range(1, 4)
        )
        u_terms = ", ".join(
            f"round(sum(n * (1 - w) * g{f}) / sum(n * (1 - w)), 9)"
            f" AS u{f}"
            for f in range(1, 4)
        )
        parts.append(
            f"""prm{t} AS (
            SELECT round(sum(n * w) / (SELECT nt FROM ntot), 9) AS p,
                   {m_terms}, {u_terms}
            FROM resp{t})"""
        )
    # Winkler clamp mirrored from fs_linkage_table: only the weight's
    # inputs are clamped to [1e-6, 1-1e-6]; the posterior stays raw
    def _cl(x: str) -> str:
        return f"least(greatest({x}, 1e-6), 1 - 1e-6)"

    weight = " + ".join(
        f"(CASE WHEN g{f} = 1 THEN log2({_cl(f'm{f}')} / {_cl(f'u{f}')})"
        f" ELSE log2((1 - {_cl(f'm{f}')}) / (1 - {_cl(f'u{f}')})) END)"
        for f in range(1, 4)
    )
    return (
        "WITH " + ",\n".join(parts) + f"""
        SELECT g1, g2, g3, n,
               round(({_prob("p", "m")}) /
                     (({_prob("p", "m")}) + ({_prob("(1 - p)", "u")})),
                     6) AS w_match,
               round({weight}, 6) AS weight,
               CASE WHEN ({weight}) >= {upper} THEN 'link'
                    WHEN ({weight}) <= {lower} THEN 'non_link'
                    ELSE 'possible' END AS decision
        FROM pat, prm{iters}
        ORDER BY weight DESC, g1, g2, g3
    """
    )


def _sql_pagerank(
    iters: int = 10,
    d: float = 0.85,
    top_tokens: int = 100,
    min_cooc: int = 3,
) -> str:
    """DuckDB twin of pagerank(token_cooc_edges(...)): identical graph
    derivation, then the ``iters`` rounds unrolled with the same 9-dp
    per-round pin and dangling-mass handling."""
    parts = [
        """dt AS MATERIALIZED (
            SELECT DISTINCT doc_id AS id,
                   unnest(list_filter(
                       string_split_regex(
                           lower(trim(coalesce(text, ''))), '\\s+'),
                       s -> len(s) > 0)) AS tok
            FROM documents)""",
        f"""top AS (
            SELECT tok FROM (
                SELECT tok,
                       row_number() OVER (
                           ORDER BY count(*) DESC, tok ASC) AS rnk
                FROM dt GROUP BY tok) WHERE rnk <= {top_tokens})""",
        "capped AS (SELECT dt.id, dt.tok FROM dt JOIN top USING (tok))",
        f"""und AS (
            SELECT a.tok AS ta, b.tok AS tb
            FROM capped a JOIN capped b ON a.id = b.id AND a.tok < b.tok
            GROUP BY a.tok, b.tok HAVING count(*) >= {min_cooc})""",
        """e AS MATERIALIZED (SELECT ta AS src, tb AS dst FROM und
                UNION ALL SELECT tb, ta FROM und)""",
        """nodes AS MATERIALIZED (
            SELECT node, CAST(coalesce(o.odeg, 0) AS BIGINT) AS outdeg
            FROM (SELECT src AS node FROM e
                  UNION SELECT dst FROM e) n
            LEFT JOIN (SELECT src AS node, count(*) AS odeg
                       FROM e GROUP BY src) o USING (node))""",
        "nn AS (SELECT count(*)::DOUBLE AS n FROM nodes)",
        """p0 AS (SELECT node, outdeg, 1.0 / n AS p
                  FROM nodes, nn)""",
    ]
    for k in range(1, iters + 1):
        parts.append(
            f"""dang{k} AS (
            SELECT coalesce(sum(p), 0.0) AS dm FROM p{k - 1}
            WHERE outdeg = 0)"""
        )
        parts.append(
            f"""c{k} AS (
            SELECT e.dst AS node, sum(p.p / p.outdeg) AS c
            FROM e JOIN p{k - 1} p ON p.node = e.src AND p.outdeg > 0
            GROUP BY e.dst)"""
        )
        parts.append(
            f"""p{k} AS (
            SELECT nodes.node, nodes.outdeg,
                   round((1.0 - {d}) / n
                         + {d} * (coalesce(c, 0.0) + dm / n), 9) AS p
            FROM nodes LEFT JOIN c{k} USING (node), nn, dang{k})"""
        )
    return (
        "WITH " + ",\n".join(parts) + "\n"
        + f"SELECT node, round(p, 6) AS pr, outdeg FROM p{iters}\n"
        + "ORDER BY pr DESC, node"
    )


def _sql_kcenter(k: int = 6) -> str:
    """DuckDB twin of kcenter_select: the k−1 farthest-point stages
    unrolled as CTEs over the exploded dims table, identical 6-dp
    distance pinning and (mind desc, id asc) argmax tie-break."""
    parts = [
        """dims AS (
            SELECT vec_id AS id,
                   generate_subscripts(embedding, 1) - 1 AS dim,
                   unnest(embedding)::DOUBLE AS v
            FROM embeddings)""",
        "s1 AS (SELECT min(vec_id) AS id FROM embeddings)",
        """m1 AS (
            SELECT d.id, round(sum((d.v - c.v) * (d.v - c.v)), 6) AS mind
            FROM dims d
            JOIN dims c ON c.dim = d.dim AND c.id = (SELECT id FROM s1)
            GROUP BY d.id)""",
    ]
    for r in range(2, k + 1):
        parts.append(
            f"""s{r} AS (
            SELECT id, mind FROM m{r - 1}
            ORDER BY mind DESC, id LIMIT 1)"""
        )
        if r < k:
            parts.append(
                f"""m{r} AS (
                SELECT m.id, least(m.mind, n.d2) AS mind
                FROM m{r - 1} m JOIN (
                    SELECT d.id,
                           round(sum((d.v - c.v) * (d.v - c.v)), 6) AS d2
                    FROM dims d
                    JOIN dims c ON c.dim = d.dim
                         AND c.id = (SELECT id FROM s{r})
                    GROUP BY d.id) n USING (id))"""
            )
    selects = [
        "SELECT 1 AS rank, (SELECT id FROM s1) AS id,"
        " CAST(0.0 AS DOUBLE) AS radius"
    ] + [
        f"SELECT {r}, id, mind FROM s{r}" for r in range(2, k + 1)
    ]
    return (
        "WITH " + ",\n".join(parts) + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY rank"
    )


def _sql_bpe(n_merges: int = 8) -> str:
    """DuckDB twin of bpe_train: identical word table, pair counting,
    (cnt desc, p1, p2) argmax and two-pass space-bounded merge
    application per unrolled round."""
    parts = [
        """words AS (
            SELECT w, CAST(count(*) AS BIGINT) AS wc FROM (
                SELECT unnest(string_split_regex(lower(trim(text)),
                                                 '\\s+')) AS w
                FROM documents WHERE text IS NOT NULL)
            WHERE regexp_matches(w, '^[a-z0-9]+$')
            GROUP BY w)""",
        """w0 AS (
            SELECT wc, trim(regexp_replace(w, '(.)', '\\1 ', 'g'))
                       || ' </w>' AS s
            FROM words)""",
    ]
    for r in range(1, n_merges + 1):
        parts.append(
            f"""p{r} AS (
            SELECT z[1] AS p1, z[2] AS p2,
                   CAST(sum(wc) AS BIGINT) AS cnt FROM (
                SELECT wc,
                       unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS z
                FROM (SELECT wc, string_split(s, ' ') AS l FROM w{r - 1}))
            GROUP BY 1, 2)"""
        )
        parts.append(
            f"""b{r} AS (
            SELECT p1, p2, cnt FROM p{r}
            ORDER BY cnt DESC, p1, p2 LIMIT 1)"""
        )
        if r < n_merges:
            parts.append(
                f"""w{r} AS (
                SELECT wc, trim(regexp_replace(regexp_replace(
                           ' ' || s || ' ',
                           ' ' || b.p1 || ' ' || b.p2 || ' ',
                           ' ' || b.p1 || b.p2 || ' ', 'g'),
                           ' ' || b.p1 || ' ' || b.p2 || ' ',
                           ' ' || b.p1 || b.p2 || ' ', 'g')) AS s
                FROM w{r - 1}, b{r} b)"""
            )
    selects = [
        f'SELECT CAST({r} AS INT) AS rank, p1 AS "left", p2 AS "right",'
        f" cnt AS n FROM b{r}"
        for r in range(1, n_merges + 1)
    ]
    return (
        "WITH " + ",\n".join(parts) + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY rank"
    )


def _sql_simhash_md5(bands: int = 4, hamming_k: int = 3, max_bucket: int = 1024) -> str:
    """DuckDB twin of simhash_near_dups(hash_family='md5'): 60-bit md5
    token hashes, per-bit sign-sum code, 16-bit band keys, flood guard,
    banded self-join, bit_count(xor) verify."""
    code_terms = " + ".join(
        f"CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN ((h >> {b})"
        f" & 1) = 1 THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << {b})"
        " ELSE 0 END"
        for b in range(60)
    )
    band_bits = 64 // bands
    mask = (1 << band_bits) - 1
    band_keys = ", ".join(
        f"(code >> {b * band_bits}) & {mask}" for b in range(bands)
    )
    band_idx = ", ".join(str(b) for b in range(bands))
    return f"""
        WITH base AS (
            SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
        src AS (
            SELECT doc_id, text FROM base
            UNION ALL
            SELECT doc_id + 100000, text FROM base WHERE doc_id % 10 = 0
            UNION ALL
            SELECT doc_id + 200000, regexp_replace(text, '^\\S+', 'xqzyv')
            FROM base WHERE doc_id % 10 = 0),
        tok AS (SELECT doc_id AS id, list_filter(
                  string_split_regex(lower(trim(text)), '\\s+'),
                  x -> len(x) > 0) AS hs0
                FROM src),
        th AS (SELECT id, list_transform(hs0, t ->
                  ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hs FROM tok),
        code AS (SELECT id, ({code_terms}) AS code FROM th),
        banded AS (SELECT id, code, unnest([{band_idx}]) AS band,
                          unnest([{band_keys}]) AS band_key FROM code),
        ok AS (SELECT band, band_key FROM banded GROUP BY band, band_key
               HAVING count(*) <= {max_bucket}),
        b2 AS (SELECT banded.* FROM banded JOIN ok USING (band, band_key))
        SELECT DISTINCT a.id AS id_a, b.id AS id_b,
               CAST(bit_count(xor(a.code, b.code)) AS INTEGER) AS hamming
        FROM b2 a JOIN b2 b
          ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id
        WHERE bit_count(xor(a.code, b.code)) <= {hamming_k}
    """


def _sql_token_count(text: str = "text") -> str:
    return (
        f"len(list_filter(string_split_regex(lower(trim({text})), '\\s+'),"
        " x -> len(x) > 0))"
    )


def _sql_scrub_chain(col: str) -> str:
    out = col
    for pattern, token in SCRUB_SQL_CHAIN:
        pat = pattern.replace("'", "''")
        out = f"regexp_replace({out}, '{pat}', '{token}', 'g')"
    return out


def _sql_quote_fold(col: str) -> str:
    from corpusama_spark.functions.normalize import (
        DASHES,
        DOUBLE_QUOTES,
        HYPHENS,
        SINGLE_QUOTES,
    )

    mapping = (
        [(c, "'") for c in SINGLE_QUOTES]
        + [(c, '"') for c in DOUBLE_QUOTES]
        + [(c, "-") for c in HYPHENS]
        + [(c, "–") for c in DASHES]
    )
    out = col
    for src, dst in mapping:
        if src == dst:
            continue
        s = src.replace("'", "''")
        d = dst.replace("'", "''")
        out = f"replace({out}, '{s}', '{d}')"
    return out


def _sql_lang_split() -> str:
    """DuckDB twin of sentences.split_sentences_for over the seeded text:
    abbreviation dots → chr(1) sentinel per language branch, terminator
    breaks → chr(30) (the lookbehind emulation the vert oracles use),
    Spanish additionally breaks before ¿/¡, then restore + trim + filter."""
    from corpusama_spark.operators.sentences import ABBREVS

    prefix = SENT_SEED_PREFIX.replace("'", "''")
    suffix = SENT_SEED_SUFFIX.replace("'", "''")
    base = (
        f"regexp_replace('{prefix}' || substr(text, 1, 80) || '{suffix}',"
        " '\\n', ' ', 'g')"
    )
    branches = []
    for lg, abbrevs in ABBREVS.items():
        pat = "\\b(" + "|".join(abbrevs) + ")\\."
        protected = f"regexp_replace({base}, '{pat}', '\\1' || chr(1), 'g')"
        broken = (
            f"regexp_replace({protected}, '([.!?])\\s+', '\\1' || chr(30), 'g')"
        )
        if lg == "es":
            broken = (
                f"regexp_replace({broken}, '\\s+([¿¡])', chr(30) || '\\1', 'g')"
            )
        branches.append(f"WHEN lang = '{lg}' THEN replace({broken}, chr(1), '.')")
    fallback = f"regexp_replace({base}, '([.!?])\\s+', '\\1' || chr(30), 'g')"
    case = "CASE " + " ".join(branches) + f" ELSE {fallback} END"
    return f"""
        WITH s AS (
            SELECT doc_id, lang,
                   list_filter(
                       list_transform(string_split({case}, chr(30)),
                                      x -> trim(x)),
                       x -> len(x) > 0) AS sents
            FROM documents)
        SELECT doc_id, lang,
               unnest(generate_series(0, len(sents) - 1)) AS sent_id,
               unnest(sents) AS sentence
        FROM s
    """


def _sql_axis_buckets(
    nbits: int = 6, ntables: int = 8, col: str = "embedding"
) -> str:
    """DuckDB list literal of axis-sign LSH bucket keys — bit-exact twin of
    similarity.axis_sign_buckets (bit = component > 0, no arithmetic)."""
    keys = []
    for t in range(ntables):
        bits = " || ".join(
            f"CASE WHEN {col}[{t * nbits + b + 1}] > 0"
            " THEN '1' ELSE '0' END"
            for b in range(nbits)
        )
        keys.append(f"'{t}:' || {bits}")
    return "[" + ", ".join(keys) + "]"


def _sql_axis_probes(
    nbits: int = 6, ntables: int = 8, col: str = "embedding"
) -> str:
    """DuckDB list literal of the multi-probe key set — bit-exact twin of
    similarity.axis_sign_probes: per table the exact key plus every
    single-bit flip ((nbits+1)·ntables keys)."""
    keys = []
    for t in range(ntables):
        for flip in range(-1, nbits):
            bits = " || ".join(
                f"CASE WHEN {col}[{t * nbits + b + 1}] > 0"
                f" THEN '{'0' if b == flip else '1'}'"
                f" ELSE '{'1' if b == flip else '0'}' END"
                for b in range(nbits)
            )
            keys.append(f"'{t}:' || {bits}")
    return "[" + ", ".join(keys) + "]"


def _sql_shingles(n: int) -> str:
    """DuckDB word-n-gram shingle list over a column `ws` (pre-split
    tokens) — twin of dedup.shingles; same expression family
    _sql_minhash_md5 proved value-exact."""
    return (
        "list_distinct(list_filter(list_transform("
        f"generate_series(1, greatest(len(ws) - {n - 1}, 1)),"
        f" i -> array_to_string(ws[i:i+{n - 1}], ' ')), s -> len(s) > 0))"
    )


def _sql_quartile(i: int, q: float) -> str:
    return (
        f"max(CASE WHEN rn = CAST(floor({q} * (n - 1) + 0.5) AS BIGINT) + 1"
        f" THEN v END) AS q{i}"
    )


def oracle_sql() -> dict[str, str]:
    from corpusama_spark.operators.textstats import BPE_SPLIT_RE

    bpe_re_sql = BPE_SPLIT_RE.replace("'", "''")
    langid_case = "CASE "
    for lg in sorted(STOPWORDS):
        langid_case += f"WHEN h_{lg} = best AND best > 0 THEN '{lg}' "
    langid_case += "ELSE 'unknown' END"
    hits_cols = ", ".join(
        f"{_sql_stopword_hits(lg)} AS h_{lg}" for lg in sorted(STOPWORDS)
    )
    greatest_hits = "greatest(" + ", ".join(
        f"h_{lg}" for lg in sorted(STOPWORDS)
    ) + ")"

    out = {
        "export_join": """
            SELECT o_orderkey, c_name, n_name AS nation_name, o_orderpriority
            FROM orders
            LEFT JOIN customer ON o_custkey = c_custkey
            LEFT JOIN nation ON c_nationkey = n_nationkey
            WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1994-01-01'
                  AND DATE '1996-12-31'
        """,
        "semi_join": """
            SELECT l_orderkey, count(*) AS n_items,
                   -- sum(BIGINT) is HUGEINT in DuckDB -> float64 in pandas;
                   -- cast back so the driver's dtype-sensitive hash matches
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum
            FROM lineitem
            WHERE l_orderkey IN (
                SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
            GROUP BY l_orderkey
        """,
        "explode_tokens": """
            SELECT token, count(*) AS n FROM (
                SELECT unnest(string_split(text, ' ')) AS token FROM documents)
            WHERE len(token) > 0
            GROUP BY token
        """,
        "byte_share": """
            SELECT source, lang, lang_bytes,
                   round(lang_bytes / sum(lang_bytes)
                         OVER (PARTITION BY source), 2) AS share
            FROM (
                SELECT source, lang,
                       CAST(sum(strlen(text)) AS BIGINT) AS lang_bytes
                FROM documents GROUP BY source, lang)
        """,
        "argmax_lang": """
            SELECT source, lang AS top_lang, n FROM (
                SELECT source, lang, count(*) AS n,
                       row_number() OVER (PARTITION BY source
                                          ORDER BY count(*) DESC, lang) AS rn
                FROM documents GROUP BY source, lang)
            WHERE rn = 1
        """,
        "char_quartiles": f"""
            SELECT lang, {_sql_quartile(0, 0.0)}, {_sql_quartile(1, 0.25)},
                   {_sql_quartile(2, 0.5)}, {_sql_quartile(3, 0.75)},
                   {_sql_quartile(4, 1.0)}
            FROM (
                SELECT lang, n_chars AS v,
                       row_number() OVER (PARTITION BY lang
                                          ORDER BY n_chars) AS rn,
                       count(*) OVER (PARTITION BY lang) AS n
                FROM documents)
            GROUP BY lang
        """,
        "window_renumber": """
            SELECT doc_id, lang,
                   row_number() OVER (PARTITION BY lang ORDER BY doc_id) - 1
                       AS sent_id
            FROM documents
        """,
        "dedup_exact": """
            SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id,
                   count(*) AS n_dupes
            FROM documents GROUP BY md5(text)
        """,
        "fingerprint": """
            SELECT doc_id,
                   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
            FROM documents
        """,
        "token_stats": f"""
            SELECT doc_id,
                   {_sql_token_count()} AS n_tokens,
                   round(CASE WHEN length(text) = 0 THEN 0.0
                         ELSE length(regexp_replace(text, '[^\\p{{L}}]', '', 'g'))
                              / CAST(length(text) AS DOUBLE) END, 4) AS alpha_ratio,
                   round(CASE WHEN length(regexp_replace(text, '[^\\p{{L}}]', '', 'g')) = 0
                         THEN 0.0
                         ELSE length(regexp_replace(text, '[^\\p{{Lu}}]', '', 'g'))
                              / CAST(length(regexp_replace(text, '[^\\p{{L}}]', '', 'g'))
                                     AS DOUBLE) END, 4) AS caps_ratio
            FROM documents
        """,
        "langid_sql": f"""
            SELECT doc_id, lang, {langid_case} AS lang_guess
            FROM (
                SELECT doc_id, lang, h_de, h_en, h_es, h_fr,
                       {greatest_hits} AS best
                FROM (SELECT doc_id, lang, {hits_cols} FROM documents))
        """,
        "quality_score": f"""
            SELECT doc_id,
                   round((least(length(trim(text)) / 200.0, 1.0)
                        + CASE WHEN length(text) > 0
                               THEN length(regexp_replace(text, '[^\\p{{L}}]', '', 'g'))
                                    / CAST(length(text) AS DOUBLE)
                               ELSE 0.0 END
                        + CASE WHEN {_sql_token_count()} > 0
                               THEN least({greatest_hits.replace('h_', 'hh_')} * 4.0
                                          / {_sql_token_count()}, 1.0)
                               ELSE 0.0 END) / 3.0, 4) AS quality
            FROM (
                SELECT doc_id, text,
                       {', '.join(f'{_sql_stopword_hits(lg)} AS hh_{lg}' for lg in sorted(STOPWORDS))}
                FROM documents)
        """,
        "scrub": f"""
            SELECT doc_id, {_sql_scrub_chain('seeded')} AS scrubbed
            FROM (
                SELECT doc_id,
                       text || ' contact admin' || doc_id
                            || '@relief.org see https://example.org/r/' || doc_id
                            || ' from 10.0.0.' || (doc_id % 256)
                            || ' case AB' || (doc_id + 1234567)
                            || ' you frakking fool' AS seeded
                FROM documents)
        """,
        "nanlike": """
            SELECT lang,
                   CAST(sum(CASE WHEN t IS NULL
                            OR regexp_matches(t, '(?i)^[\\s\\x0b]*(none|null|nan)?[\\s\\x0b]*$')
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_nanlike,
                   CAST(sum(CASE WHEN t IS NOT NULL
                            AND NOT regexp_matches(t, '(?i)^[\\s\\x0b]*(none|null|nan)?[\\s\\x0b]*$')
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_valid
            FROM (
                SELECT lang,
                       CASE WHEN doc_id % 11 = 0 THEN 'none'
                            WHEN doc_id % 11 = 1 THEN '   '
                            WHEN doc_id % 11 = 2 THEN 'NULL'
                            WHEN doc_id % 11 = 3 THEN NULL
                            ELSE text END AS t
                FROM documents)
            GROUP BY lang
        """,
        "min_portion": """
            SELECT source, share AS share_en FROM (
                SELECT source, lang,
                       round(lang_bytes / sum(lang_bytes)
                             OVER (PARTITION BY source), 2) AS share
                FROM (
                    SELECT source, lang, sum(strlen(text)) AS lang_bytes
                    FROM documents GROUP BY source, lang))
            WHERE lang = 'en' AND share >= 0.3
        """,
        "year_rollup": """
            SELECT strftime(o_orderdate, '%Y') AS o_year,
                   count(*) AS n_orders,
                   min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
            FROM orders
            WHERE CAST(o_orderdate AS DATE) >= DATE '1993-01-01'
            GROUP BY strftime(o_orderdate, '%Y')
        """,
        "topk_cosine": """
            SELECT query_id, cand_id, cos_sim, rnk FROM (
                SELECT query_id, cand_id, cos_sim,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos_sim DESC, cand_id) AS rnk
                FROM (
                    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                           round(list_cosine_similarity(
                               CAST(q.embedding AS DOUBLE[]),
                               CAST(c.embedding AS DOUBLE[])), 6) AS cos_sim
                    FROM embeddings c, embeddings q
                    WHERE q.vec_id < 8 AND c.vec_id != q.vec_id))
            WHERE rnk <= 5
        """,
        "union_halves": """
            SELECT lang, count(*) AS n FROM (
                SELECT * FROM documents WHERE doc_id % 2 = 0
                UNION ALL
                SELECT * FROM documents WHERE doc_id % 2 = 1)
            GROUP BY lang
        """,
        "multivalue_join": """
            SELECT lang,
                   string_agg(DISTINCT source, '|' ORDER BY source) AS sources,
                   count(DISTINCT source) AS n_sources
            FROM documents GROUP BY lang
        """,
        "doc_tag": """
            SELECT doc_id,
                   '<doc id="' || doc_id || '" file_id="0" lang="' || lang
                   || '" source="' || source || '" >' AS doc_tag
            FROM documents
        """,
        "wrap_lines": """
            SELECT doc_id,
                   regexp_replace(substr(text, 1, 40) || '-' || chr(10)
                                  || substr(text, 41),
                                  '( \\w+)-\\n(\\w+ *)', '\\1\\2' || chr(10),
                                  'g') AS unwrapped
            FROM documents
        """,
        "json_extract": """
            SELECT event_type, count(*) AS n,
                   CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
                        AS BIGINT) AS k_sum,
                   max(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
                       AS k_max
            FROM events GROUP BY event_type
        """,
        "quote_fold": f"""
            SELECT doc_id,
                   {_sql_quote_fold("(chr(8220) || 'quoted' || chr(8221) || ' ' || chr(8212) || ' ' || text || ' ' || chr(8216) || 'x' || chr(8217) || ' ' || chr(8209) || 'y')")}
                       AS folded
            FROM documents
        """,
        "stopword_hits": f"""
            SELECT doc_id,
                   {', '.join(f'{_sql_stopword_hits(lg)} AS hits_{lg}' for lg in sorted(STOPWORDS))}
            FROM documents
        """,
        "lang_presence": """
            SELECT source, count(*) AS n_docs
            FROM documents
            WHERE source IN (
                SELECT source FROM documents
                GROUP BY source HAVING count(DISTINCT lang) >= 3)
            GROUP BY source
        """,
        "jaccard_adjacent": """
            WITH sh AS (
                SELECT doc_id,
                       list_filter(
                           list_distinct(list_transform(
                               generate_series(1, greatest(len(toks) - 2, 1)),
                               i -> array_to_string(list_slice(toks, i, i + 2), ' '))),
                           s -> len(s) > 0) AS s
                FROM (
                    SELECT doc_id,
                           list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                       x -> len(x) > 0) AS toks
                    FROM documents))
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(len(list_intersect(a.s, b.s))
                         / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE),
                         6) AS jaccard
            FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        """,
        "subcorpus": """
            SELECT lang, count(*) AS n FROM documents
            WHERE NOT regexp_matches(lang, '^(?:es|fr)$')
            GROUP BY lang
        """,
        "vert_export": """
            -- RE2 lacks the lookbehind split (?<=[.!?])\\s+; splitting on a
            -- chr(30) sentinel injected after [.!?]+whitespace is equivalent
            -- (punctuation kept on the left, whitespace consumed)
            WITH s AS (
                SELECT doc_id,
                       list_filter(
                           list_transform(
                               string_split(
                                   regexp_replace(
                                       regexp_replace(
                                           'Intro sentence. ' || text
                                           || ' Tail claim! Final note? Done.',
                                           '\\n', ' ', 'g'),
                                       '([.!?])\\s+', '\\1' || chr(30), 'g'),
                                   chr(30)),
                               x -> trim(x)),
                           x -> len(x) > 0) AS sents
                FROM documents)
            SELECT doc_id,
                   '<doc id="' || doc_id || '">' || chr(10)
                   || array_to_string(
                          list_transform(generate_series(0, len(sents) - 1),
                              i -> '<s id="' || i || '">' || chr(10)
                                   || array_to_string(
                                          list_filter(
                                              string_split_regex(sents[i + 1],
                                                                 '\\s+'),
                                              x -> len(x) > 0), chr(10))
                                   || chr(10) || '</s>'),
                          chr(10))
                   || chr(10) || '</doc>' AS vert
            FROM s
        """,
        "seeded_sample": """
            SELECT doc_id, token, rn FROM (
                SELECT doc_id, token,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY md5(token || '42'), token) AS rn
                FROM (
                    SELECT DISTINCT doc_id, token FROM (
                        SELECT doc_id,
                               unnest(string_split(text, ' ')) AS token
                        FROM documents)
                    WHERE len(token) > 0))
            WHERE rn <= 3
        """,
        "pivot_counts": """
            SELECT user_id,
                   count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
                   count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
                   count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
                   count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
                   count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view
            FROM events GROUP BY user_id
        """,
        "html_text": """
            SELECT doc_id,
                   trim(regexp_replace('<p>report <b>' || text || '</b> end</p>',
                                       '<[^>]+>', '', 'g')) AS plain
            FROM documents
        """,
        "majority_vote": """
            SELECT user_id, event_type AS top_event, n AS n_votes FROM (
                SELECT user_id, event_type, count(*) AS n,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY count(*) DESC, event_type) AS rn
                FROM events GROUP BY user_id, event_type)
            WHERE rn = 1
        """,
        "flatten": """
            SELECT o_orderkey, o_orderstatus AS meta__status,
                   o_orderpriority AS meta__priority,
                   strftime(o_orderdate, '%Y') AS date__original__year
            FROM orders
        """,
        "export_doc": """
            SELECT doc_id,
                   '<doc id="' || doc_id || '" file_id="0" lang="' || lang
                   || '" >' || chr(10) || text || chr(10) || '</doc>' AS doc_text
            FROM documents
        """,
        "pdf_clean": """
            SELECT doc_id,
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(
                               regexp_replace(
                                   replace(replace(seeded, '�', ' '),
                                           chr(9), ' '),
                                   ' *\\n *', chr(10), 'g'),
                               ' {2,}', ' ', 'g'),
                           '\\n{3,}', chr(10) || chr(10), 'g'),
                       '^\\s+|\\s+$', '', 'g') AS cleaned
            FROM (
                SELECT doc_id,
                       '  head�x' || chr(9) || 'y  ' || chr(10) || ' '
                       || repeat(chr(10), 4) || text || '   mid  ' || chr(10)
                       || '  tail�  ' AS seeded
                FROM documents)
        """,
        "xml_clean": """
            SELECT doc_id,
                   replace(replace(replace(replace(replace(
                       'a' || chr(11) || 'b' || chr(12) || 'c' || text
                       || chr(28) || 'd' || chr(29) || 'e' || chr(30) || 'f',
                       chr(11), ''), chr(12), ''), chr(28), ''), chr(29), ''),
                       chr(30), '') AS cleaned
            FROM documents
        """,
        "no_sep_join": """
            SELECT doc_id,
                   trim(' ' || substr(text, 1, 12) || '-tail ') AS joined
            FROM documents
        """,
        "json_obj": """
            SELECT event_id,
                   CAST(json_extract_string(props, '$.k') AS INT) AS k_parsed,
                   '{"k":' || json_extract_string(props, '$.k') || '}'
                       AS props_rt,
                   '["' || event_type || '","' || event_type || '"]' AS arr_json
            FROM events
        """,
        "schema_drift": """
            SELECT lang, count(*) AS n,
                   CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_no_source,
                   CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_no_text,
                   CAST(sum(CASE WHEN extra IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_extra
            FROM (
                SELECT doc_id, lang, CAST(NULL AS VARCHAR) AS source, text,
                       CAST(NULL AS VARCHAR) AS extra
                FROM documents WHERE doc_id % 2 = 0
                UNION ALL
                SELECT doc_id, lang, source, CAST(NULL AS VARCHAR) AS text,
                       'x' || doc_id AS extra
                FROM documents WHERE doc_id % 2 = 1)
            GROUP BY lang
        """,
        "na_profile": """
            WITH p AS (
                SELECT CASE WHEN doc_id % 11 = 0 THEN 'none'
                            WHEN doc_id % 11 = 1 THEN '  '
                            WHEN doc_id % 11 = 2 THEN NULL
                            ELSE text END AS text,
                       CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang,
                       CASE WHEN doc_id % 5 = 0 THEN NULL
                            ELSE n_chars END AS n_chars
                FROM documents)
            SELECT 'text' AS attribute, count(*) AS n,
                   CAST(sum(CASE WHEN text IS NULL OR regexp_matches(
                            text, '(?i)^[\\s\\x0b]*(none|null|nan)?[\\s\\x0b]*$')
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_na,
                   round(CAST(sum(CASE WHEN text IS NULL OR regexp_matches(
                            text, '(?i)^[\\s\\x0b]*(none|null|nan)?[\\s\\x0b]*$')
                            THEN 1 ELSE 0 END) AS BIGINT) / count(*), 4)
                       AS pct_na
            FROM p
            UNION ALL
            SELECT 'lang', count(*),
                   CAST(sum(CASE WHEN lang IS NULL OR regexp_matches(
                            lang, '(?i)^[\\s\\x0b]*(none|null|nan)?[\\s\\x0b]*$')
                            THEN 1 ELSE 0 END) AS BIGINT),
                   round(CAST(sum(CASE WHEN lang IS NULL OR regexp_matches(
                            lang, '(?i)^[\\s\\x0b]*(none|null|nan)?[\\s\\x0b]*$')
                            THEN 1 ELSE 0 END) AS BIGINT) / count(*), 4)
            FROM p
            UNION ALL
            SELECT 'n_chars', count(*),
                   CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT),
                   round(CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) / count(*), 4)
            FROM p
        """,
        "diff_summary": """
            WITH old_v AS (SELECT doc_id, lang, text FROM documents),
            new_v AS (
                SELECT doc_id, lang,
                       CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
                            ELSE text END AS text
                FROM documents WHERE doc_id % 13 != 0
                UNION ALL
                SELECT doc_id + 1000000 AS doc_id, lang, text
                FROM documents WHERE doc_id % 17 = 0)
            SELECT lang, status, count(*) AS n FROM (
                SELECT coalesce(n.lang, o.lang) AS lang,
                       CASE WHEN o.doc_id IS NULL THEN 'added'
                            WHEN n.doc_id IS NULL THEN 'removed'
                            WHEN o.text IS DISTINCT FROM n.text THEN 'changed'
                            ELSE 'same' END AS status
                FROM old_v o FULL OUTER JOIN new_v n ON o.doc_id = n.doc_id)
            GROUP BY lang, status
        """,
        "vert_parse": """
            WITH s AS (
                SELECT doc_id,
                       list_filter(
                           list_transform(
                               string_split(
                                   regexp_replace(
                                       regexp_replace(
                                           'Intro sentence. ' || text
                                           || ' Tail claim! Final note? Done.',
                                           '\\n', ' ', 'g'),
                                       '([.!?])\\s+', '\\1' || chr(30), 'g'),
                                   chr(30)),
                               x -> trim(x)),
                           x -> len(x) > 0) AS sents
                FROM documents),
            sent AS (
                SELECT doc_id,
                       unnest(generate_series(0, len(sents) - 1)) AS sent_id,
                       sents
                FROM s),
            sent2 AS (
                SELECT doc_id, sent_id,
                       list_filter(
                           string_split_regex(sents[sent_id + 1], '\\s+'),
                           x -> len(x) > 0 AND substr(x, 1, 1) != '<') AS toks
                FROM sent),
            tok AS (
                SELECT doc_id, sent_id,
                       unnest(generate_series(0, len(toks) - 1)) AS token_id,
                       toks
                FROM sent2)
            SELECT doc_id, sent_id, token_id, toks[token_id + 1] AS token
            FROM tok
        """,
        "conllu_export": """
            WITH s AS (
                SELECT doc_id,
                       list_filter(
                           list_transform(
                               string_split(
                                   regexp_replace(
                                       regexp_replace(
                                           'First one. ' || text
                                           || ' Last one!',
                                           '\\n', ' ', 'g'),
                                       '([.!?])\\s+', '\\1' || chr(30), 'g'),
                                   chr(30)),
                               x -> trim(x)),
                           x -> len(x) > 0) AS sents
                FROM documents)
            SELECT doc_id,
                   '# newdoc id = ' || doc_id || chr(10)
                   || array_to_string(
                          list_transform(generate_series(0, len(sents) - 1),
                              i -> '# sent_id = ' || i || chr(10)
                                   || '# text = ' || sents[i + 1] || chr(10)
                                   || array_to_string(
                                          list_transform(
                                              list_filter(
                                                  string_split_regex(
                                                      sents[i + 1], '\\s+'),
                                                  x -> len(x) > 0),
                                              (t, j) -> j || chr(9) || t
                                                  || repeat(chr(9) || '_', 8)),
                                          chr(10))
                                   || chr(10)),
                          chr(10)) AS conllu
            FROM s
        """,
        "stage_counts": """
            SELECT 'raw' AS stage, count(*) AS n,
                   count(*) - (SELECT count(*) FROM documents) AS delta
            FROM documents
            UNION ALL
            SELECT 'non_null_text', count(*),
                   count(*) - (SELECT count(*) FROM documents)
            FROM documents WHERE text IS NOT NULL
            UNION ALL
            SELECT 'min_chars', count(*),
                   count(*) - (SELECT count(*) FROM documents)
            FROM documents WHERE n_chars >= 100
        """,
        "dedup_clusters": """
            WITH RECURSIVE
            p AS (
                SELECT doc_id AS id_a, doc_id + 1 AS id_b
                FROM documents WHERE doc_id % 5 != 4
                UNION ALL
                SELECT doc_id, doc_id + 7
                FROM documents WHERE doc_id % 50 = 0),
            e AS (
                SELECT id_a AS s, id_b AS d FROM p
                UNION
                SELECT id_b, id_a FROM p),
            r AS (
                SELECT s AS id, s AS comp FROM e
                UNION
                SELECT r.id, e.d FROM r JOIN e ON e.s = r.comp)
            SELECT id, min(comp) AS component FROM r GROUP BY id
        """,
        "gopher_rules": f"""
            WITH s AS (
                SELECT doc_id,
                       '- bullet line' || chr(10) || {"'… '"} || chr(10)
                       || text || chr(10) || 'an ending line...' || chr(10)
                       || '# symbols ## here' AS t
                FROM documents),
            w AS (
                SELECT doc_id, t,
                       list_filter(string_split_regex(trim(t), '\\s+'),
                                   x -> len(x) > 0) AS words,
                       list_filter(list_transform(string_split(t, chr(10)),
                                                  x -> trim(x)),
                                   x -> len(x) > 0) AS lines
                FROM s),
            m AS (
                SELECT doc_id, t, words, lines,
                       greatest(len(words), 1) AS nw,
                       greatest(len(lines), 1) AS nl,
                       list_aggregate(list_transform(words, x -> len(x)),
                                      'sum') / greatest(len(words), 1)
                           AS mean_wl,
                       ((len(t) - len(replace(t, '#', '')))
                        + (len(t) - len(replace(t, {"'…'"}, '')))
                        + len(regexp_extract_all(t, '\\.\\.\\.')))
                           / CAST(greatest(len(words), 1) AS DOUBLE) AS sym,
                       len(list_filter(lines,
                           x -> regexp_matches(x, '^[-*•‣◦]')))
                           / CAST(greatest(len(lines), 1) AS DOUBLE) AS bul,
                       len(list_filter(lines,
                           x -> regexp_matches(x, '(\\.\\.\\.|…)$')))
                           / CAST(greatest(len(lines), 1) AS DOUBLE) AS ell,
                       len(list_filter(words,
                           x -> regexp_matches(x, '\\p{{L}}')))
                           / CAST(greatest(len(words), 1) AS DOUBLE) AS alw
                FROM w)
            SELECT doc_id,
                   CAST(len(words) AS BIGINT) AS n_words,
                   round(mean_wl, 4) AS mean_word_len,
                   round(sym, 4) AS symbol_word_ratio,
                   round(bul, 4) AS bullet_line_ratio,
                   round(ell, 4) AS ellipsis_line_ratio,
                   round(alw, 4) AS alpha_word_ratio,
                   (len(words) BETWEEN 50 AND 100000
                    AND mean_wl BETWEEN 3.0 AND 10.0
                    AND sym <= 0.1 AND bul <= 0.9 AND ell <= 0.3
                    AND alw >= 0.8) AS gopher_keep
            FROM m
        """,
        "bpe_tokens": f"""
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '{bpe_re_sql}', 0))
                        AS BIGINT) AS n_bpe,
                   {_sql_token_count()} AS n_ws
            FROM documents
        """,
        "repetition": """
            WITH s AS (
                SELECT doc_id,
                       text || chr(10) || 'dup line' || chr(10) || 'dup line'
                       || chr(10) || 'go go go go go' AS t
                FROM documents),
            w AS (
                SELECT doc_id, t,
                       list_filter(list_transform(string_split(t, chr(10)),
                                                  x -> trim(x)),
                                   x -> len(x) > 0) AS lines,
                       list_filter(string_split_regex(lower(trim(t)), '\\s+'),
                                   x -> len(x) > 0) AS words
                FROM s),
            g AS (
                SELECT doc_id, lines, words,
                       CASE WHEN len(words) - 1 >= 1 THEN
                           list_transform(generate_series(1, len(words) - 1),
                               i -> array_to_string(words[i:i+1], ' '))
                       ELSE [] END AS g2,
                       CASE WHEN len(words) - 2 >= 1 THEN
                           list_transform(generate_series(1, len(words) - 2),
                               i -> array_to_string(words[i:i+2], ' '))
                       ELSE [] END AS g3
                FROM w),
            m AS (
                SELECT doc_id,
                       (len(lines) - len(list_distinct(lines)))
                           / CAST(greatest(len(lines), 1) AS DOUBLE) AS dlf,
                       list_aggregate(list_transform(
                           list_filter(lines,
                               ln -> len(list_filter(lines, x -> x = ln)) > 1),
                           y -> len(y)), 'sum') AS dup_chars,
                       list_aggregate(list_transform(lines, y -> len(y)),
                                      'sum') AS line_chars,
                       CASE WHEN len(g2) > 0 THEN
                           list_aggregate(list_transform(list_distinct(g2),
                               q -> len(list_filter(g2, x -> x = q))), 'max')
                           / CAST(len(g2) AS DOUBLE)
                       ELSE 0.0 END AS t2,
                       CASE WHEN len(g3) > 0 THEN
                           list_aggregate(list_transform(list_distinct(g3),
                               q -> len(list_filter(g3, x -> x = q))), 'max')
                           / CAST(len(g3) AS DOUBLE)
                       ELSE 0.0 END AS t3
                FROM g)
            SELECT doc_id,
                   round(dlf, 4) AS dup_line_frac,
                   round(coalesce(dup_chars, 0)
                         / CAST(greatest(line_chars, 1) AS DOUBLE), 4)
                       AS dup_line_char_frac,
                   round(t2, 4) AS top2gram_share,
                   round(t3, 4) AS top3gram_share,
                   (dlf <= 0.30
                    AND coalesce(dup_chars, 0)
                        / CAST(greatest(line_chars, 1) AS DOUBLE) <= 0.20
                    AND t2 <= 0.20 AND t3 <= 0.18) AS repetition_keep
            FROM m
        """,
        "sent_split_lang": _sql_lang_split(),
        "dedup_keeplist": """
            WITH RECURSIVE
            p AS (
                SELECT doc_id AS id_a, doc_id + 1 AS id_b
                FROM documents WHERE doc_id % 5 != 4
                UNION ALL
                SELECT doc_id, doc_id + 7
                FROM documents WHERE doc_id % 50 = 0),
            e AS (
                SELECT id_a AS s, id_b AS d FROM p
                UNION
                SELECT id_b, id_a FROM p),
            r AS (
                SELECT s AS id, s AS comp FROM e
                UNION
                SELECT r.id, e.d FROM r JOIN e ON e.s = r.comp),
            c AS (
                SELECT id, min(comp) AS component FROM r GROUP BY id)
            SELECT doc_id,
                   coalesce(component, doc_id) AS component,
                   coalesce(component, doc_id) = doc_id AS keep
            FROM documents LEFT JOIN c ON c.id = doc_id
        """,
        "ann_recall": f"""
            WITH cb AS (
                SELECT vec_id, embedding,
                       unnest({_sql_axis_buckets(6, 8)}) AS bucket
                FROM embeddings),
            cand AS (
                SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
                FROM cb c JOIN cb q USING (bucket)
                WHERE q.vec_id < 8 AND c.vec_id != q.vec_id),
            ann AS (
                SELECT query_id, cand_id FROM (
                    SELECT query_id, cand_id,
                           row_number() OVER (PARTITION BY query_id
                                              ORDER BY cos_sim DESC, cand_id)
                               AS rnk
                    FROM (
                        SELECT cand.query_id, cand.cand_id,
                               round(list_cosine_similarity(
                                   CAST(qe.embedding AS DOUBLE[]),
                                   CAST(ce.embedding AS DOUBLE[])), 6)
                                   AS cos_sim
                        FROM cand
                        JOIN embeddings qe ON qe.vec_id = cand.query_id
                        JOIN embeddings ce ON ce.vec_id = cand.cand_id))
                WHERE rnk <= 5),
            brute AS (
                SELECT query_id, cand_id FROM (
                    SELECT query_id, cand_id,
                           row_number() OVER (PARTITION BY query_id
                                              ORDER BY cos_sim DESC, cand_id)
                               AS rnk
                    FROM (
                        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                               round(list_cosine_similarity(
                                   CAST(q.embedding AS DOUBLE[]),
                                   CAST(c.embedding AS DOUBLE[])), 6)
                                   AS cos_sim
                        FROM embeddings c, embeddings q
                        WHERE q.vec_id < 8 AND c.vec_id != q.vec_id))
                WHERE rnk <= 5)
            SELECT b.query_id, count(a.cand_id) AS n_hit,
                   round(count(a.cand_id) / 5.0, 4) AS recall_at_5
            FROM brute b
            LEFT JOIN ann a ON a.query_id = b.query_id
                           AND a.cand_id = b.cand_id
            GROUP BY b.query_id
        """,
        "ivf_recall": """
            WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                FROM embeddings),
            c AS (
                SELECT vec_id AS cand_id, emb AS cvec,
                       list_position(emb[1:8],
                           list_aggregate(emb[1:8], 'max')) - 1 AS list_id
                FROM e),
            qp AS (
                SELECT vec_id AS query_id, emb AS qvec, j - 1 AS list_id
                FROM (
                    SELECT vec_id, emb,
                           unnest(generate_series(1, 8)) AS j,
                           unnest(emb[1:8]) AS v
                    FROM e WHERE vec_id < 8)
                QUALIFY row_number() OVER (PARTITION BY vec_id
                                           ORDER BY v DESC, j) <= 3),
            cand AS (
                SELECT DISTINCT q.query_id, c.cand_id, q.qvec, c.cvec
                FROM c JOIN qp q USING (list_id)
                WHERE c.cand_id != q.query_id),
            ann AS (
                SELECT query_id, cand_id FROM (
                    SELECT query_id, cand_id,
                           row_number() OVER (PARTITION BY query_id
                                              ORDER BY cos_sim DESC, cand_id)
                               AS rnk
                    FROM (
                        SELECT query_id, cand_id,
                               round(list_cosine_similarity(qvec, cvec), 6)
                                   AS cos_sim
                        FROM cand))
                WHERE rnk <= 5),
            brute AS (
                SELECT query_id, cand_id FROM (
                    SELECT query_id, cand_id,
                           row_number() OVER (PARTITION BY query_id
                                              ORDER BY cos_sim DESC, cand_id)
                               AS rnk
                    FROM (
                        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                               round(list_cosine_similarity(q.emb, c.emb), 6)
                                   AS cos_sim
                        FROM e c, e q
                        WHERE q.vec_id < 8 AND c.vec_id != q.vec_id))
                WHERE rnk <= 5)
            SELECT b.query_id, count(a.cand_id) AS n_hit,
                   round(count(a.cand_id) / 5.0, 4) AS recall_at_5
            FROM brute b
            LEFT JOIN ann a ON a.query_id = b.query_id
                           AND a.cand_id = b.cand_id
            GROUP BY b.query_id
        """,
        "embed_quantize": """
            SELECT vec_id,
                   round(CASE WHEN absmax > 0 THEN absmax / 127.0
                              ELSE 1.0 END, 6) AS scale,
                   CAST(round(e[1] / CASE WHEN absmax > 0 THEN absmax / 127.0
                                          ELSE 1.0 END) AS INT) AS q0,
                   CAST(round(e[2] / CASE WHEN absmax > 0 THEN absmax / 127.0
                                          ELSE 1.0 END) AS INT) AS q1,
                   CAST(round(e[3] / CASE WHEN absmax > 0 THEN absmax / 127.0
                                          ELSE 1.0 END) AS INT) AS q2,
                   CAST(round(e[4] / CASE WHEN absmax > 0 THEN absmax / 127.0
                                          ELSE 1.0 END) AS INT) AS q3
            FROM (
                SELECT vec_id, embedding AS e,
                       CAST(list_aggregate(
                           list_transform(embedding, x -> abs(x)), 'max')
                           AS DOUBLE) AS absmax
                FROM embeddings)
        """,
        "winnow_fp": """
            WITH g AS (
                SELECT doc_id, lower(text) AS t FROM documents),
            h AS (
                SELECT doc_id,
                       CASE WHEN len(t) - 4 >= 1 THEN
                           list_transform(generate_series(1, len(t) - 4),
                               i -> substr(md5(substr(t, i, 5)), 1, 8))
                       ELSE [] END AS hs
                FROM g),
            m AS (
                SELECT doc_id,
                       CASE WHEN len(hs) - 3 >= 1 THEN
                           list_sort(list_distinct(
                               list_transform(generate_series(1, len(hs) - 3),
                                   j -> list_aggregate(hs[j:j+3], 'min'))))
                       ELSE [] END AS fps
                FROM h)
            SELECT doc_id, unnest(fps) AS fp FROM m
        """,
        "repeated_spans": """
            WITH g AS (
                SELECT doc_id, lower(text) AS t FROM documents),
            h AS (
                SELECT doc_id,
                       CASE WHEN len(t) - 7 >= 1 THEN
                           list_transform(generate_series(1, len(t) - 7),
                               i -> ('0x' || substr(md5(substr(t, i, 8)),
                                                    1, 8))::BIGINT)
                       ELSE [] END AS hs
                FROM g),
            m AS (
                SELECT doc_id,
                       CASE WHEN len(hs) - 7 >= 1 THEN
                           list_transform(generate_series(1, len(hs) - 7),
                               j -> list_aggregate(hs[j:j+7], 'min'))
                       ELSE [] END AS fps,
                       CASE WHEN len(hs) - 7 >= 1 THEN
                           list_transform(generate_series(1, len(hs) - 7),
                               j -> j - 1 + list_position(hs[j:j+7],
                                        list_aggregate(hs[j:j+7], 'min')))
                       ELSE [] END AS poss
                FROM h),
            sel AS (
                SELECT DISTINCT doc_id, fp, pos FROM (
                    SELECT doc_id, unnest(fps) AS fp, unnest(poss) AS pos
                    FROM m)),
            freq AS (
                SELECT fp FROM sel GROUP BY fp
                HAVING count(DISTINCT doc_id) >= 3),
            marked AS (
                SELECT DISTINCT doc_id, pos AS span_start, pos + 8 AS span_end
                FROM sel WHERE fp IN (SELECT fp FROM freq)),
            flagged AS (
                SELECT doc_id, span_start, span_end,
                       CASE WHEN max(span_end) OVER (
                                PARTITION BY doc_id ORDER BY span_start
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) IS NULL
                              OR span_start > max(span_end) OVER (
                                PARTITION BY doc_id ORDER BY span_start
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING)
                            THEN 1 ELSE 0 END AS new_isl
                FROM marked),
            isl AS (
                SELECT doc_id, span_start, span_end,
                       sum(new_isl) OVER (
                           PARTITION BY doc_id ORDER BY span_start
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS island
                FROM flagged)
            SELECT doc_id,
                   CAST(min(span_start) AS INTEGER) AS span_start,
                   CAST(max(span_end) AS INTEGER) AS span_end
            FROM isl GROUP BY doc_id, island
        """,
        "minhash_pairs_md5": _sql_minhash_md5(),
        "simhash_md5": _sql_simhash_md5(),
        "metrics_rollup": f"""
            WITH c AS (
                SELECT lang, count(*) AS n,
                       CAST(sum(CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_keep,
                       avg(n_chars) AS avg_chars
                FROM documents GROUP BY lang),
            q AS (
                SELECT lang, {_sql_quartile(0, 0.0)}, {_sql_quartile(1, 0.25)},
                       {_sql_quartile(2, 0.5)}, {_sql_quartile(3, 0.75)},
                       {_sql_quartile(4, 1.0)}
                FROM (
                    SELECT lang, n_chars AS v,
                           row_number() OVER (PARTITION BY lang
                                              ORDER BY n_chars) AS rn,
                           count(*) OVER (PARTITION BY lang) AS n
                    FROM documents)
                GROUP BY lang)
            SELECT c.lang, n, n_keep, avg_chars, q0, q1, q2, q3, q4
            FROM c JOIN q USING (lang)
        """,
        "contamination": f"""
            WITH bg AS (
                SELECT DISTINCT unnest({_sql_shingles(6)}) AS gram
                FROM (
                    SELECT string_split_regex(lower(trim(substr(text, 21, 120))),
                                              '\\s+') AS ws
                    FROM documents WHERE doc_id % 37 = 0)),
            dg AS (
                SELECT doc_id, unnest({_sql_shingles(6)}) AS gram
                FROM (
                    SELECT doc_id,
                           string_split_regex(lower(trim(text)), '\\s+') AS ws
                    FROM documents)),
            hits AS (
                SELECT doc_id, count(*) AS n_hits
                FROM dg JOIN bg USING (gram) GROUP BY doc_id)
            SELECT d.doc_id,
                   CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
                   coalesce(h.n_hits, 0) > 0 AS contaminated
            FROM documents d LEFT JOIN hits h USING (doc_id)
        """,
        "dup_lines": f"""
            WITH d AS (
                SELECT doc_id,
                       '{DUP_TOP}' || chr(10) ||
                       'Sec ' || CAST(doc_id % 5 AS VARCHAR) || ': intro' ||
                       chr(10) || text || chr(10) ||
                       'ref ' || CAST(doc_id % 300 AS VARCHAR) || chr(10) ||
                       '{DUP_BOT}' AS mt
                FROM documents),
            ls AS (SELECT doc_id, string_split(mt, chr(10)) AS lsx FROM d),
            l AS (
                SELECT doc_id,
                       unnest(generate_series(0, len(lsx) - 1)) AS pos,
                       unnest(lsx) AS line
                FROM ls),
            hot AS (SELECT line FROM l GROUP BY line HAVING count(*) >= 3),
            kept AS (
                SELECT doc_id, pos, line FROM l
                WHERE line NOT IN (SELECT line FROM hot)),
            agg AS (
                SELECT doc_id,
                       string_agg(line, chr(10) ORDER BY pos) AS text,
                       count(*) AS n_kept
                FROM kept GROUP BY doc_id),
            tot AS (SELECT doc_id, len(lsx) AS n_lines FROM ls)
            SELECT t.doc_id, coalesce(a.text, '') AS text,
                   CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
                   CAST(t.n_lines - coalesce(a.n_kept, 0) AS BIGINT)
                       AS n_dropped
            FROM tot t LEFT JOIN agg a USING (doc_id)
        """,
        "strat_sample": """
            SELECT doc_id, lang FROM documents
            WHERE (('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)),
                                   1, 8))::BIGINT / 4294967296.0)
                < CASE lang WHEN 'en' THEN 0.5 WHEN 'es' THEN 0.75
                            WHEN 'zh' THEN 0.25 WHEN 'de' THEN 0.1
                            ELSE 0.0 END
        """,
        "semantic_dedup": f"""
            WITH RECURSIVE
            base AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings),
            u AS (
                SELECT vec_id, v FROM base
                UNION ALL
                SELECT vec_id + 200000, v FROM base WHERE vec_id % 25 = 0
                UNION ALL
                SELECT vec_id + 100000, list_concat([v[1] + 0.5], v[2:])
                FROM base WHERE vec_id % 10 = 0),
            bk0 AS (
                SELECT vec_id, v,
                       unnest({_sql_axis_buckets(12, 5, col="v")}) AS bucket
                FROM u),
            okb AS (SELECT bucket FROM bk0 GROUP BY bucket
                    HAVING count(*) <= 10000),
            bk AS (SELECT bk0.* FROM bk0 JOIN okb USING (bucket)),
            cand AS (
                SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib,
                       round(list_cosine_similarity(a.v, b.v), 6) AS c
                FROM bk a JOIN bk b
                  ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
            e0 AS (SELECT ia, ib FROM cand WHERE c >= 0.85),
            e AS (SELECT ia AS s, ib AS d FROM e0
                  UNION SELECT ib, ia FROM e0),
            r AS (SELECT s AS id, s AS comp FROM e
                  UNION SELECT r.id, e.d FROM r JOIN e ON e.s = r.comp),
            comp AS (SELECT id, min(comp) AS component FROM r GROUP BY id)
            SELECT u.vec_id,
                   coalesce(c2.component, u.vec_id) AS cluster_id,
                   coalesce(c2.component, u.vec_id) = u.vec_id AS keep
            FROM u LEFT JOIN comp c2 ON c2.id = u.vec_id
        """,
        "curation_pipeline": f"""
            WITH bg AS (
                SELECT DISTINCT unnest({_sql_shingles(6)}) AS gram
                FROM (
                    SELECT string_split_regex(lower(trim(substr(text, 21, 120))),
                                              '\\s+') AS ws
                    FROM documents WHERE doc_id % 37 = 0)),
            dg AS (
                SELECT doc_id, unnest({_sql_shingles(6)}) AS gram
                FROM (
                    SELECT doc_id,
                           string_split_regex(lower(trim(text)), '\\s+') AS ws
                    FROM documents)),
            contaminated AS (
                SELECT DISTINCT doc_id FROM dg JOIN bg USING (gram)),
            canonical AS (
                SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
            kept AS (
                SELECT d.* FROM documents d
                JOIN canonical USING (doc_id)
                WHERE d.doc_id NOT IN (SELECT doc_id FROM contaminated)),
            sampled AS (
                SELECT doc_id, text FROM kept
                WHERE (('0x' || substr(md5('pipe:' || CAST(doc_id AS VARCHAR)),
                                       1, 8))::BIGINT / 4294967296.0)
                    < CASE lang WHEN 'en' THEN 0.9 WHEN 'es' THEN 0.8
                                WHEN 'zh' THEN 0.7 WHEN 'de' THEN 0.6
                                WHEN 'fr' THEN 0.5 ELSE 0.0 END),
            t AS (
                SELECT doc_id,
                       CAST(len(regexp_extract_all(coalesce(text, ''),
                                '{bpe_re_sql}', 0)) AS BIGINT) AS n_tokens
                FROM sampled)
            SELECT doc_id, n_tokens,
                   CAST(floor(coalesce(sum(n_tokens) OVER (
                            ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) / 2000)
                        AS BIGINT) AS shard_id
            FROM t
        """,
        "pack_shards": f"""
            WITH t AS (
                SELECT doc_id,
                       CAST(len(regexp_extract_all(coalesce(text, ''),
                                '{bpe_re_sql}', 0)) AS BIGINT) AS n_tokens
                FROM documents)
            SELECT doc_id, n_tokens,
                   CAST(floor(coalesce(sum(n_tokens) OVER (
                            ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) / 2000)
                        AS BIGINT) AS shard_id
            FROM t
        """,
        "image_rules": """
            WITH m AS (
                SELECT p_partkey AS image_id,
                       CAST(8 + (p_partkey * 97) % 10000 AS INTEGER) AS w,
                       CAST(8 + (p_partkey * 61) % 9000 AS INTEGER) AS h,
                       CASE p_partkey % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                            WHEN 2 THEN 'gif' WHEN 3 THEN 'bmp'
                            ELSE 'tiff' END AS fmt
                FROM part),
            mm AS (
                SELECT *, CAST((image_id % 50) * w * h AS BIGINT) AS nbytes,
                       greatest(CAST(w AS DOUBLE), CAST(h AS DOUBLE))
                         / greatest(least(CAST(w AS DOUBLE), CAST(h AS DOUBLE)),
                                    1.0) AS aspect,
                       CAST((image_id % 50) * w * h AS DOUBLE)
                         / greatest(CAST(w AS DOUBLE) * h, 1.0) AS bpp
                FROM m)
            SELECT image_id, w, h, fmt, nbytes,
                   round(CAST(w AS DOUBLE) * h / 1000000.0, 4) AS megapixels,
                   round(aspect, 4) AS aspect_ratio,
                   round(bpp, 4) AS bytes_per_pixel,
                   (least(w, h) >= 64 AND greatest(w, h) <= 8192) AS dims_ok,
                   (aspect <= 3.0) AS aspect_ok,
                   (bpp BETWEEN 0.02 AND 16.0) AS bpp_ok,
                   (lower(fmt) IN ('png', 'jpeg', 'gif', 'webp')) AS fmt_ok,
                   (least(w, h) >= 64 AND greatest(w, h) <= 8192
                    AND aspect <= 3.0 AND bpp BETWEEN 0.02 AND 16.0
                    AND lower(fmt) IN ('png', 'jpeg', 'gif', 'webp'))
                       AS image_keep
            FROM mm
        """,
        "caption_align": r"""
            WITH tok AS (
                SELECT doc_id,
                       unnest(list_filter(
                           string_split_regex(lower(trim(text)), '\s+'),
                           t -> len(t) > 0)) AS tok
                FROM documents
                WHERE text IS NOT NULL AND len(trim(text)) > 0),
            h AS (
                SELECT doc_id,
                       ('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 AS bucket,
                       CASE WHEN ('0x' || substr(md5(tok), 9, 1))::BIGINT % 2 = 0
                            THEN 1 ELSE -1 END AS sgn
                FROM tok),
            wt AS (
                SELECT doc_id, bucket, CAST(sum(sgn) AS BIGINT) AS wt
                FROM h GROUP BY 1, 2),
            feat AS (
                SELECT doc_id, CAST(sum(wt * wt) AS BIGINT) AS n2
                FROM wt GROUP BY 1),
            dots AS (
                SELECT w.doc_id,
                       sum(w.wt * CAST(e.embedding[CAST(w.bucket AS INTEGER) + 1]
                                       AS DOUBLE)) AS dot
                FROM wt w JOIN embeddings e ON e.vec_id = w.doc_id
                GROUP BY 1),
            en AS (
                SELECT vec_id,
                       sqrt(list_aggregate(
                           list_transform(CAST(embedding AS DOUBLE[]),
                                          x -> x * x), 'sum')) AS vn
                FROM embeddings)
            SELECT f.doc_id, f.n2,
                   round(d.dot / (sqrt(CAST(f.n2 AS DOUBLE)) * en.vn), 6)
                       AS align_score,
                   (round(d.dot / (sqrt(CAST(f.n2 AS DOUBLE)) * en.vn), 6)
                    >= 0.05) AS keep
            FROM feat f
            JOIN dots d USING (doc_id)
            JOIN en ON en.vec_id = f.doc_id
            WHERE f.n2 > 0 AND en.vn > 0
        """,
        "bigram_ppl": r"""
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split_regex(
                           lower(trim(coalesce(text, ''))), '\s+'),
                           t -> len(t) > 0) AS ws
                FROM documents),
            bg AS (
                SELECT doc_id, pair[1] AS w1, pair[2] AS w2 FROM (
                    SELECT doc_id,
                           unnest(list_transform(
                               generate_series(1, greatest(len(ws) - 1, 0)),
                               i -> [ws[i], ws[i + 1]])) AS pair
                    FROM w)),
            bc AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2),
            cc AS (SELECT w1, count(*) AS ctx FROM bg GROUP BY 1),
            v AS (SELECT count(DISTINCT tok) AS v FROM
                      (SELECT unnest(ws) AS tok FROM w)),
            s AS (
                SELECT b.doc_id,
                       ln((CAST(bc.c AS DOUBLE) + 0.5)
                          / (CAST(cc.ctx AS DOUBLE)
                             + 0.5 * CAST(v.v AS DOUBLE))) AS lp
                FROM bg b
                JOIN bc USING (w1, w2)
                JOIN cc USING (w1)
                CROSS JOIN v)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                   round(exp(-sum(lp) / count(*)), 6) AS ppl
            FROM s GROUP BY doc_id
        """,
        "nb_quality": r"""
            WITH tok AS (
                SELECT doc_id, lang,
                       unnest(list_filter(string_split_regex(
                           lower(trim(coalesce(text, ''))), '\s+'),
                           t -> len(t) > 0)) AS tok
                FROM documents),
            g AS (SELECT tok, count(*) AS cg FROM tok
                  WHERE lang = 'en' GROUP BY 1),
            b AS (SELECT tok, count(*) AS cb FROM tok
                  WHERE lang = 'zh' GROUP BY 1),
            m AS (SELECT coalesce(g.tok, b.tok) AS tok,
                         coalesce(g.cg, 0) AS cg, coalesce(b.cb, 0) AS cb
                  FROM g FULL JOIN b ON g.tok = b.tok),
            tot AS (SELECT coalesce(sum(cg), 0) AS ng,
                           coalesce(sum(cb), 0) AS nb,
                           count(*) AS v
                    FROM m),
            s AS (
                SELECT t.doc_id,
                       ln((CAST(coalesce(m.cg, 0) AS DOUBLE) + 0.5)
                          / (CAST(tot.ng AS DOUBLE)
                             + 0.5 * CAST(tot.v AS DOUBLE)))
                       - ln((CAST(coalesce(m.cb, 0) AS DOUBLE) + 0.5)
                            / (CAST(tot.nb AS DOUBLE)
                               + 0.5 * CAST(tot.v AS DOUBLE))) AS w
                FROM tok t
                LEFT JOIN m USING (tok)
                CROSS JOIN tot)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                   round(sum(w), 6) AS nb_score,
                   (round(sum(w), 6) >= 0.0) AS keep
            FROM s GROUP BY doc_id
        """,
        "collocations": r"""
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split_regex(
                           lower(trim(coalesce(text, ''))), '\s+'),
                           t -> len(t) > 0) AS ws
                FROM documents),
            bg AS (
                SELECT pair[1] AS w1, pair[2] AS w2 FROM (
                    SELECT unnest(list_transform(
                        generate_series(1, greatest(len(ws) - 1, 0)),
                        i -> [ws[i], ws[i + 1]])) AS pair
                    FROM w)),
            pair AS (SELECT w1, w2, count(*) AS f_xy FROM bg GROUP BY 1, 2),
            lft AS (SELECT w1, count(*) AS f_x FROM bg GROUP BY 1),
            rgt AS (SELECT w2, count(*) AS f_y FROM bg GROUP BY 1),
            tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM bg)
            SELECT p.w1, p.w2, p.f_xy, l.f_x, r.f_y,
                   round(ln(CAST(p.f_xy AS DOUBLE) * tot.n
                            / (CAST(l.f_x AS DOUBLE) * r.f_y))
                         / 0.6931471805599453, 6) AS pmi,
                   round((CAST(p.f_xy AS DOUBLE)
                          - CAST(l.f_x AS DOUBLE) * r.f_y / tot.n)
                         / sqrt(CAST(p.f_xy AS DOUBLE)), 6) AS t_score,
                   round(14.0 + ln(2.0 * CAST(p.f_xy AS DOUBLE)
                                   / (CAST(l.f_x AS DOUBLE) + r.f_y))
                         / 0.6931471805599453, 6) AS log_dice
            FROM pair p
            JOIN lft l USING (w1)
            JOIN rgt r USING (w2)
            CROSS JOIN tot
            WHERE p.f_xy >= 5
        """,
        "keywords": r"""
            WITH tok AS (
                SELECT lang,
                       unnest(list_filter(string_split_regex(
                           lower(trim(coalesce(text, ''))), '\s+'),
                           t -> len(t) > 0)) AS tok
                FROM documents),
            fc AS (SELECT tok, count(*) AS f_focus FROM tok
                   WHERE lang = 'fr' GROUP BY 1),
            rc AS (SELECT tok, count(*) AS f_ref FROM tok
                   WHERE lang != 'fr' GROUP BY 1),
            ft AS (SELECT CAST(coalesce(sum(f_focus), 0) AS DOUBLE) AS t
                   FROM fc),
            rt AS (SELECT CAST(coalesce(sum(f_ref), 0) AS DOUBLE) AS t
                   FROM rc)
            SELECT fc.tok, fc.f_focus,
                   CAST(coalesce(rc.f_ref, 0) AS BIGINT) AS f_ref,
                   round(CAST(fc.f_focus AS DOUBLE) * 1e6 / ft.t, 6)
                       AS fpm_focus,
                   round(CAST(coalesce(rc.f_ref, 0) AS DOUBLE) * 1e6 / rt.t,
                         6) AS fpm_ref,
                   round((CAST(fc.f_focus AS DOUBLE) * 1e6 / ft.t + 100.0)
                         / (CAST(coalesce(rc.f_ref, 0) AS DOUBLE) * 1e6
                            / rt.t + 100.0), 6) AS score
            FROM fc
            LEFT JOIN rc USING (tok)
            CROSS JOIN ft CROSS JOIN rt
            WHERE fc.f_focus >= 3
        """,
        "kwic": r"""
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split_regex(
                           lower(trim(coalesce(text, ''))), '\s+'),
                           t -> len(t) > 0) AS ws
                FROM documents),
            x AS (
                SELECT doc_id, ws,
                       generate_subscripts(ws, 1) AS i, unnest(ws) AS tok
                FROM w)
            SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
                   coalesce(array_to_string(
                       ws[greatest(i - 3, 1):i - 1], ' '), '') AS "left",
                   tok AS hit,
                   coalesce(array_to_string(
                       ws[i + 1:least(i + 3, len(ws))], ' '), '') AS "right"
            FROM x WHERE tok = 'spark'
        """,
        "mojibake_flag": f"""
            SELECT doc_id,
                   regexp_matches(
                       CASE doc_id % 5
                           WHEN 0 THEN text || '{_MOJ_A}'
                           WHEN 1 THEN text || '{_MOJ_B}'
                           ELSE text END,
                       '{MOJ_PATTERN}') AS flagged
            FROM documents
        """,
        "mojibake_fix": f"""
            SELECT doc_id,
                   CASE doc_id % 5
                       WHEN 0 THEN text || '{_FIX_A}'
                       WHEN 1 THEN text || '{_FIX_B}'
                       ELSE text END AS text
            FROM documents
        """,
        "url_filter": f"""
            WITH d AS (
                SELECT doc_id,
                       CASE doc_id % 4
                           WHEN 0 THEN 'https://news.' || source
                                       || '.co.uk/a/' || doc_id
                           WHEN 1 THEN 'http://user@' || source
                                       || '-ads.example.com:8080/x?q=1'
                           WHEN 2 THEN source || '.spam-mall.net/path'
                           ELSE 'HTTPS://WWW.' || source || '.ORG/a#f'
                       END AS url
                FROM documents),
            h AS (
                SELECT doc_id,
                       lower(regexp_extract(url, '{URL_HOST_RE}', 1)) AS host
                FROM d),
            r AS (
                SELECT doc_id, host, string_split(host, '.') AS ls,
                       len(string_split(host, '.')) AS n
                FROM h),
            dom AS (
                SELECT doc_id, host,
                       CASE WHEN n <= 1 THEN host
                            WHEN n >= 3 AND (ls[n - 1] || '.' || ls[n])
                                 IN ({_SUFFIX_SQL})
                                 THEN ls[n - 2] || '.' || ls[n - 1]
                                      || '.' || ls[n]
                            ELSE ls[n - 1] || '.' || ls[n] END AS domain
                FROM r)
            SELECT doc_id, host, domain
            FROM dom
            WHERE domain NOT IN ('example.com', 'spam-mall.net')
        """,
        "psl_domains": f"""
            WITH d AS (
                SELECT doc_id,
                       CASE doc_id % 8
                           WHEN 0 THEN 'https://news.' || source
                                       || '.co.uk/a?id=1'
                           WHEN 1 THEN 'http://' || source || '.github.io/x'
                           WHEN 2 THEN 'https://a.b.kobe.jp/p'
                           WHEN 3 THEN 'http://x.city.kobe.jp/q#f'
                           WHEN 4 THEN 'http://1.2.3.4:8080/x'
                           WHEN 5 THEN 'https://user@[2001:db8::7]/a'
                           WHEN 6 THEN 'http://' || source || '.nosuchtld/x'
                           ELSE 'https://github.io/'
                       END AS url
                FROM documents),
            rules(rule, x, w, e) AS (VALUES
                ('com', true, false, false), ('org', true, false, false),
                ('io', true, false, false), ('uk', true, false, false),
                ('co.uk', true, false, false), ('jp', true, false, false),
                ('github.io', true, false, false),
                ('kobe.jp', false, true, false),
                ('city.kobe.jp', false, false, true)),
            h AS (
                SELECT doc_id,
                       regexp_replace(
                           lower(regexp_extract(url, '{URL_HOST_RE}', 1)),
                           '^\\[|\\]$', '', 'g') AS host
                FROM d),
            l AS (
                SELECT doc_id, host, string_split(host, '.') AS labs,
                       len(string_split(host, '.')) AS n,
                       (regexp_matches(host,
                            '^\\d{{1,3}}(\\.\\d{{1,3}}){{3}}$')
                        OR contains(host, ':')) AS is_ip
                FROM h),
            t AS (
                SELECT *,
                       array_to_string(labs[n:n], '.') AS t1,
                       CASE WHEN n >= 2
                            THEN array_to_string(labs[n-1:n], '.') END AS t2,
                       CASE WHEN n >= 3
                            THEN array_to_string(labs[n-2:n], '.') END AS t3,
                       CASE WHEN n >= 4
                            THEN array_to_string(labs[n-3:n], '.') END AS t4,
                       CASE WHEN n >= 5
                            THEN array_to_string(labs[n-4:n], '.') END AS t5
                FROM l),
            j AS (
                SELECT t.*,
                       r1.x AS x1, r1.w AS w1, r1.e AS e1,
                       r2.x AS x2, r2.w AS w2, r2.e AS e2,
                       r3.x AS x3, r3.w AS w3, r3.e AS e3,
                       r4.x AS x4, r4.w AS w4, r4.e AS e4,
                       r5.x AS x5, r5.w AS w5, r5.e AS e5
                FROM t
                LEFT JOIN rules r1 ON t.t1 = r1.rule
                LEFT JOIN rules r2 ON t.t2 = r2.rule
                LEFT JOIN rules r3 ON t.t3 = r3.rule
                LEFT JOIN rules r4 ON t.t4 = r4.rule
                LEFT JOIN rules r5 ON t.t5 = r5.rule),
            c AS (
                SELECT doc_id, host, labs, n, is_ip,
                       greatest(1,
                           CASE WHEN coalesce(x2, false) THEN 2 ELSE 1 END,
                           CASE WHEN coalesce(x3, false) THEN 3 ELSE 1 END,
                           CASE WHEN coalesce(x4, false) THEN 4 ELSE 1 END,
                           CASE WHEN coalesce(x5, false) THEN 5 ELSE 1 END,
                           CASE WHEN coalesce(w1, false) AND n > 1
                                THEN 2 ELSE 1 END,
                           CASE WHEN coalesce(w2, false) AND n > 2
                                THEN 3 ELSE 1 END,
                           CASE WHEN coalesce(w3, false) AND n > 3
                                THEN 4 ELSE 1 END,
                           CASE WHEN coalesce(w4, false) AND n > 4
                                THEN 5 ELSE 1 END,
                           CASE WHEN coalesce(w5, false) AND n > 5
                                THEN 6 ELSE 1 END) AS ps,
                       coalesce(
                           CASE WHEN coalesce(e5, false) THEN t5 END,
                           CASE WHEN coalesce(e4, false) THEN t4 END,
                           CASE WHEN coalesce(e3, false) THEN t3 END,
                           CASE WHEN coalesce(e2, false) THEN t2 END,
                           CASE WHEN coalesce(e1, false) THEN t1 END) AS exc
                FROM j)
            SELECT doc_id, host,
                   CASE WHEN host IS NULL OR is_ip THEN host
                        WHEN exc IS NOT NULL THEN exc
                        WHEN n >= ps + 1
                             THEN array_to_string(labs[n-ps:n], '.')
                        ELSE NULL END AS domain
            FROM c
        """,
        "skew_report": """
            WITH c AS (
                SELECT user_id AS key, count(*) AS n
                FROM events GROUP BY 1),
            t AS (SELECT sum(n) AS total, count(*) AS n_keys FROM c)
            SELECT key, n,
                   round(n / total, 6) AS share,
                   round(n * n_keys / total, 4) AS skew,
                   CAST(ceil(n * n_keys / total) AS BIGINT) AS salt_factor
            FROM c CROSS JOIN t
            ORDER BY n DESC, key ASC
            LIMIT 10
        """,
        "bm25": """
            WITH base AS (
                SELECT doc_id AS id,
                       list_filter(string_split_regex(
                           lower(trim(text)), '\\s+'),
                           t -> len(t) > 0) AS toks
                FROM documents
                WHERE text IS NOT NULL),
            nz AS (SELECT id, toks, len(toks) AS dl FROM base
                   WHERE len(toks) > 0),
            tf AS (
                SELECT id, dl, term, count(*) AS tf
                FROM (SELECT id, dl, unnest(toks) AS term FROM nz)
                WHERE term IN ('table', 'hash', 'window')
                GROUP BY 1, 2, 3),
            stats AS (
                SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM nz),
            dft AS (
                SELECT term, count(DISTINCT id) AS df FROM tf GROUP BY 1),
            part AS (
                SELECT id,
                       ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                       * (tf * (1.2 + 1))
                       / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
                           AS p
                FROM tf JOIN dft USING (term) CROSS JOIN stats)
            SELECT id AS doc_id, round(sum(p), 6) AS score,
                   count(*) AS n_hit
            FROM part GROUP BY 1
        """,
        "ppl_buckets_rel": r"""
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split_regex(
                           lower(trim(coalesce(text, ''))), '\s+'),
                           t -> len(t) > 0) AS ws
                FROM documents),
            bg AS (
                SELECT doc_id, pair[1] AS w1, pair[2] AS w2 FROM (
                    SELECT doc_id,
                           unnest(list_transform(
                               generate_series(1, greatest(len(ws) - 1, 0)),
                               i -> [ws[i], ws[i + 1]])) AS pair
                    FROM w)),
            bc AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2),
            cc AS (SELECT w1, count(*) AS ctx FROM bg GROUP BY 1),
            v AS (SELECT count(DISTINCT tok) AS v FROM
                      (SELECT unnest(ws) AS tok FROM w)),
            s AS (
                SELECT b.doc_id,
                       ln((CAST(bc.c AS DOUBLE) + 0.5)
                          / (CAST(cc.ctx AS DOUBLE)
                             + 0.5 * CAST(v.v AS DOUBLE))) AS lp
                FROM bg b
                JOIN bc USING (w1, w2)
                JOIN cc USING (w1)
                CROSS JOIN v),
            ppl AS (
                SELECT doc_id, round(exp(-sum(lp) / count(*)), 6) AS ppl
                FROM s GROUP BY doc_id)
            SELECT p.doc_id, d.lang, p.ppl,
                   CAST(ntile(3) OVER (PARTITION BY d.lang
                                       ORDER BY p.ppl ASC, p.doc_id ASC)
                        AS INTEGER) AS tercile
            FROM ppl p JOIN documents d USING (doc_id)
        """,
        # n_phone: the PHONE rule uses lookbehind/lookahead RE2 cannot run;
        # the seed (and the digit-free corpus text) contains no phone-shaped
        # runs, so the expected count is identically 0 — asserted as a
        # literal here and behaviorally pinned by pytests with real phones.
        "scrub_audit": f"""
            WITH seeded AS (
                SELECT doc_id,
                       text || ' contact admin' || doc_id
                            || '@relief.org see https://example.org/r/'
                            || doc_id
                            || ' from 10.0.0.' || (doc_id % 256)
                            || ' case AB' || (doc_id + 1234567)
                            || ' you frakking fool' AS t
                FROM documents),
            s1 AS (
                SELECT doc_id,
                       CAST(len(regexp_extract_all(t, '{_SC_EMAIL}'))
                            AS BIGINT) AS n_email,
                       regexp_replace(t, '{_SC_EMAIL}', '<EMAIL>', 'g') AS t
                FROM seeded),
            s2 AS (
                SELECT doc_id, n_email,
                       CAST(len(regexp_extract_all(t, '{_SC_URL}'))
                            AS BIGINT) AS n_url,
                       regexp_replace(t, '{_SC_URL}', '<URL>', 'g') AS t
                FROM s1),
            s3 AS (
                SELECT doc_id, n_email, n_url,
                       CAST(len(regexp_extract_all(t, '{_SC_IP}'))
                            AS BIGINT) AS n_ip,
                       regexp_replace(t, '{_SC_IP}', '<IP>', 'g') AS t
                FROM s2),
            s4 AS (
                SELECT doc_id, n_email, n_url, n_ip,
                       CAST(0 AS BIGINT) AS n_phone,
                       CAST(len(regexp_extract_all(t, '{_SC_ID}'))
                            AS BIGINT) AS n_id,
                       regexp_replace(t, '{_SC_ID}', '<ID>', 'g') AS t
                FROM s3),
            s5 AS (
                SELECT doc_id, n_email, n_url, n_ip, n_phone, n_id,
                       CAST(len(regexp_extract_all(t, '{_sc_tox()}'))
                            AS BIGINT) AS n_tox,
                       regexp_replace(t, '{_sc_tox()}', '<TOX>', 'g') AS t
                FROM s4)
            SELECT doc_id, t AS scrubbed,
                   n_email, n_url, n_ip, n_phone, n_id, n_tox
            FROM s5
        """,
        "group_quantiles": r"""
            WITH g AS (
                SELECT event_type,
                       quantile_disc(value, [0.25, 0.5, 0.75, 0.99]) AS vs
                FROM events WHERE value IS NOT NULL GROUP BY event_type)
            SELECT event_type,
                   list_extract([0.25, 0.5, 0.75, 0.99], i) AS q,
                   list_extract(vs, i) AS value
            FROM g, (VALUES (1), (2), (3), (4)) AS t(i)
        """,
        "checksum_scrub": r"""
            WITH base AS (
                SELECT doc_id,
                       'ref ' || list_extract(
                           ['4111111111111111',
                            '4111 1111 1111 1111',
                            '4111111111111112',
                            'DE89370400440532013000',
                            'GB82WEST12345698765432',
                            'DE89370400440532013001'],
                           CAST(doc_id % 6 + 1 AS INT))
                       || ' :: ' || coalesce(text, '') AS caption
                FROM documents),
            ib AS (
                SELECT doc_id, caption,
                    list_filter(regexp_extract_all(caption,
                        '\b[A-Z]{2}\d{2}[A-Z0-9]{10,30}\b'),
                      c -> list_reduce(
                             list_prepend('0', regexp_extract_all(
                                 substr(c, 5) || substr(c, 1, 4),
                                 '[A-Z0-9]')),
                             (a, ch) -> CAST(CASE WHEN ch >= 'A'
                                  THEN (CAST(a AS INT) * 100
                                        + ascii(ch) - 55) % 97
                                  ELSE (CAST(a AS INT) * 10
                                        + CAST(ch AS INT)) % 97 END
                                  AS VARCHAR)) = '1') AS iban_ok
                FROM base),
            s1 AS (
                SELECT doc_id, iban_ok,
                       list_reduce(list_prepend(caption, iban_ok),
                           (a, x) -> replace(a, x, '<IBAN>')) AS after_iban
                FROM ib),
            cc AS (
                SELECT doc_id, iban_ok, after_iban,
                    list_filter(regexp_extract_all(after_iban,
                        '\b(?:\d[ -]?){12,18}\d\b'),
                      c -> len(regexp_replace(c, '[ -]', '', 'g'))
                               BETWEEN 13 AND 19
                           AND list_sum(list_transform(
                                 list_reverse(regexp_extract_all(
                                     regexp_replace(c, '[ -]', '', 'g'),
                                     '[0-9]')),
                                 (d, i) -> CASE WHEN i % 2 = 0
                                      THEN CASE WHEN CAST(d AS INT) < 5
                                           THEN CAST(d AS INT) * 2
                                           ELSE CAST(d AS INT) * 2 - 9 END
                                      ELSE CAST(d AS INT) END)) % 10 = 0)
                        AS cc_ok
                FROM s1)
            SELECT doc_id,
                   list_reduce(list_prepend(after_iban, cc_ok),
                       (a, x) -> replace(a, x, '<CC>')) AS scrubbed,
                   CAST(len(iban_ok) AS BIGINT) AS n_iban,
                   CAST(len(cc_ok) AS BIGINT) AS n_cc
            FROM cc
        """,
        "c4_rules": r"""
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split_regex(
                           lower(trim(coalesce(text, ''))), '\s+'),
                           t -> len(t) > 0) AS ws
                FROM documents),
            l AS (
                SELECT doc_id // 10 AS page_id, doc_id,
                       array_to_string(ws[1 : CAST(2 + doc_id % 14 AS INT)], ' ')
                       || CASE WHEN doc_id % 17 = 0
                               THEN ' javascript required' ELSE '' END
                       || CASE WHEN doc_id % 29 = 0
                               THEN ' lorem ipsum' ELSE '' END
                       || CASE WHEN doc_id % 23 = 0 THEN ' {' ELSE '' END
                       || CASE WHEN doc_id % 3 = 1 THEN '.' ELSE '' END
                       || CASE WHEN doc_id % 31 = 0
                               THEN ' badword1' ELSE '' END
                       AS line
                FROM w),
            p AS (SELECT page_id,
                         string_agg(line, chr(10) ORDER BY doc_id)
                             AS page_text
                  FROM l GROUP BY 1),
            c AS (
                SELECT page_id, page_text,
                       string_split(page_text, chr(10)) AS lines,
                       list_filter(string_split(page_text, chr(10)),
                           x -> regexp_matches(rtrim(x), '[.!?"]$')
                                AND len(list_filter(
                                        string_split_regex(trim(x), '\s+'),
                                        t -> len(t) > 0)) >= 5
                                AND NOT contains(lower(x), 'javascript'))
                           AS kept
                FROM p),
            r AS (
                SELECT page_id, page_text,
                       CAST(len(lines) AS BIGINT) AS n_lines,
                       CAST(len(kept) AS BIGINT) AS n_lines_kept,
                       array_to_string(kept, chr(10)) AS cleaned,
                       CAST(len(regexp_extract_all(
                           array_to_string(kept, chr(10)), '[.!?]'))
                           AS BIGINT) AS n_sentences
                FROM c),
            v AS (
                SELECT page_id, n_lines, n_lines_kept, n_sentences, cleaned,
                       CASE WHEN contains(lower(page_text), 'lorem ipsum')
                                THEN 'lorem_ipsum'
                            WHEN contains(page_text, '{') THEN 'brace'
                            WHEN list_has_any(
                                     list_filter(string_split_regex(
                                         lower(page_text), '\s+'),
                                         t -> len(t) > 0),
                                     ['badword1', 'badword2'])
                                THEN 'bad_word'
                            WHEN n_sentences < 3 THEN 'too_few_sentences'
                            ELSE 'kept' END AS drop_reason
                FROM r)
            SELECT page_id, n_lines, n_lines_kept, n_sentences, cleaned,
                   drop_reason, drop_reason = 'kept' AS keep
            FROM v
        """,
        "range_count": r"""
            WITH e AS (SELECT event_id AS error_id, ts
                       FROM events WHERE event_type = 'error'),
                 c AS (SELECT ts AS cts, value
                       FROM events WHERE event_type = 'click')
            SELECT e.error_id,
                   CAST(count(c.cts) AS BIGINT) AS n_matches,
                   round(coalesce(sum(c.value), 0.0), 6) AS value_sum
            FROM e LEFT JOIN c
              ON c.cts >= e.ts - INTERVAL 60 SECOND
             AND c.cts <= e.ts + INTERVAL 60 SECOND
            GROUP BY e.error_id
        """,
        "asof_attrib": r"""
            WITH p AS (SELECT event_id, ts, user_id, value
                       FROM events WHERE event_type = 'purchase'),
                 c AS (SELECT event_id, ts, user_id, value
                       FROM events WHERE event_type = 'click')
            SELECT p.event_id AS purchase_id,
                   p.user_id,
                   epoch_us(p.ts) AS purchase_us,
                   p.value AS purchase_value,
                   c.event_id IS NOT NULL AS matched,
                   coalesce(c.event_id, -1) AS click_id,
                   coalesce(epoch_us(c.ts), -1) AS click_us,
                   coalesce(c.value, -1.0) AS click_value,
                   coalesce(epoch_us(p.ts) - epoch_us(c.ts), -1) AS lag_us
            FROM p ASOF LEFT JOIN c
              ON p.user_id = c.user_id AND p.ts >= c.ts
        """,
        "kn_ppl": r"""
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split_regex(
                           lower(trim(coalesce(text, ''))), '\s+'),
                           t -> len(t) > 0) AS ws
                FROM documents),
            bg AS (
                SELECT doc_id, pair[1] AS w1, pair[2] AS w2 FROM (
                    SELECT doc_id,
                           unnest(list_transform(
                               generate_series(1, greatest(len(ws) - 1, 0)),
                               i -> [ws[i], ws[i + 1]])) AS pair
                    FROM w)),
            bc AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2),
            cx AS (SELECT w1, sum(c) AS ctx, count(*) AS fwd
                   FROM bc GROUP BY 1),
            co AS (SELECT w2, count(*) AS rev FROM bc GROUP BY 1),
            st AS (SELECT CAST(count(*) AS DOUBLE) AS t,
                          CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                               AS DOUBLE) AS n1,
                          CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)
                               AS DOUBLE) AS n2
                   FROM bc),
            dd AS (SELECT CASE WHEN n1 + 2.0 * n2 > 0
                               THEN n1 / (n1 + 2.0 * n2)
                               ELSE 0.5 END AS d
                   FROM st),
            s AS (
                SELECT b.doc_id,
                       ln((greatest(CAST(bc.c AS DOUBLE) - dd.d, 0.0)
                           + dd.d * CAST(cx.fwd AS DOUBLE)
                                  * (CAST(co.rev AS DOUBLE) / st.t))
                          / CAST(cx.ctx AS DOUBLE)) AS lp
                FROM bg b
                JOIN bc USING (w1, w2)
                JOIN cx USING (w1)
                JOIN co USING (w2)
                CROSS JOIN st
                CROSS JOIN dd)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                   round(exp(-sum(lp) / count(*)), 6) AS kn_ppl
            FROM s GROUP BY doc_id
        """,
        "stupid_backoff": r"""
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split_regex(
                           lower(trim(coalesce(text, ''))), '\s+'),
                           t -> len(t) > 0) AS ws
                FROM documents),
            tg AS (
                SELECT doc_id, g[1] AS w1, g[2] AS w2, g[3] AS w3 FROM (
                    SELECT doc_id,
                           unnest(list_transform(
                               generate_series(1, greatest(len(ws) - 2, 0)),
                               i -> [ws[i], ws[i + 1], ws[i + 2]])) AS g
                    FROM w)),
            bg AS (
                SELECT pair[1] AS w1, pair[2] AS w2 FROM (
                    SELECT unnest(list_transform(
                        generate_series(1, greatest(len(ws) - 1, 0)),
                        i -> [ws[i], ws[i + 1]])) AS pair
                    FROM w)),
            tri AS (SELECT w1, w2, w3, count(*) AS c3 FROM tg GROUP BY 1, 2, 3),
            bi AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
            uni AS (SELECT tok AS w, count(*) AS c1 FROM
                        (SELECT unnest(ws) AS tok FROM w) GROUP BY 1),
            tot AS (SELECT CAST(sum(c1) AS DOUBLE) AS n FROM uni),
            s AS (
                SELECT t.doc_id,
                       CASE
                           WHEN coalesce(tri.c3, 0) > 0
                               THEN CAST(tri.c3 AS DOUBLE)
                                    / CAST(b1.c2 AS DOUBLE)
                           WHEN coalesce(b2.c2, 0) > 0
                               THEN 0.4 * CAST(b2.c2 AS DOUBLE)
                                    / CAST(u2.c1 AS DOUBLE)
                           -- 0.4*0.4, NOT the literal 0.16: the engine
                           -- computes alpha*alpha in binary and the two
                           -- differ in the last ulp
                           ELSE (0.4 * 0.4)
                                * CAST(coalesce(u3.c1, 0) AS DOUBLE)
                                / tot.n
                       END AS sc
                FROM tg t
                LEFT JOIN tri ON tri.w1 = t.w1 AND tri.w2 = t.w2
                             AND tri.w3 = t.w3
                LEFT JOIN bi b1 ON b1.w1 = t.w1 AND b1.w2 = t.w2
                LEFT JOIN bi b2 ON b2.w1 = t.w2 AND b2.w2 = t.w3
                LEFT JOIN uni u2 ON u2.w = t.w2
                LEFT JOIN uni u3 ON u3.w = t.w3
                CROSS JOIN tot)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
                   round(avg(ln(sc)), 6) AS sb_logscore
            FROM s GROUP BY doc_id
        """,
        "freq_profile": r"""
            WITH uni AS (
                SELECT tok, count(*) AS freq FROM (
                    SELECT unnest(list_filter(string_split_regex(
                        lower(trim(coalesce(text, ''))), '\s+'),
                        t -> len(t) > 0)) AS tok
                    FROM documents)
                GROUP BY 1)
            SELECT tok, freq,
                   CAST(row_number() OVER w AS INTEGER) AS rank,
                   round(CAST(sum(freq) OVER (w ROWS BETWEEN UNBOUNDED
                                              PRECEDING AND CURRENT ROW)
                              AS DOUBLE)
                         / (SELECT sum(freq) FROM uni), 6) AS cum_share
            FROM uni
            WINDOW w AS (ORDER BY freq DESC, tok ASC)
        """,
        "sessions": """
            WITH g AS (
                SELECT user_id, event_id, ts, value,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                    > 1800000000
                            THEN 1 ELSE 0 END AS starts
                FROM events
                WINDOW w AS (PARTITION BY user_id
                             ORDER BY ts ASC, event_id ASC)),
            s AS (
                SELECT user_id, event_id, ts, value,
                       CAST(sum(starts) OVER (PARTITION BY user_id
                                              ORDER BY ts ASC, event_id ASC
                                              ROWS BETWEEN UNBOUNDED
                                              PRECEDING AND CURRENT ROW)
                            AS INTEGER) AS session_idx
                FROM g)
            SELECT user_id, session_idx,
                   user_id || '-' || session_idx AS session_id,
                   count(*) AS n_events,
                   CAST(epoch_us(min(ts)) AS BIGINT) AS started_us,
                   CAST(epoch_us(max(ts)) AS BIGINT) AS ended_us,
                   CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT)
                       AS duration_us,
                   round(sum(value), 6) AS total_value
            FROM s GROUP BY 1, 2, 3
        """,
    }
    # the skew-safe split-and-merge plan must produce EXACTLY the sessions
    # the single-window plan does — same oracle, different physical strategy
    out["sessions_presplit"] = out["sessions"]
    out["jaccard_exact"] = _sql_jaccard_exact()
    out["minhash_keeplist"] = f"""
        WITH RECURSIVE
        cand AS ({_sql_minhash_md5(src=_SQL_PERTURBED_SRC + " s(doc_id, text)")}),
        e AS (SELECT id_a AS s, id_b AS d FROM cand
              UNION SELECT id_b, id_a FROM cand),
        r AS (SELECT s AS id, s AS comp FROM e
              UNION SELECT r.id, e.d FROM r JOIN e ON e.s = r.comp),
        c AS (SELECT id, min(comp) AS component FROM r GROUP BY id),
        src AS (SELECT doc_id FROM {_SQL_PERTURBED_SRC} s2(doc_id, text)
                WHERE length(trim(text)) > 0)
        SELECT doc_id,
               coalesce(component, doc_id) AS component,
               coalesce(component, doc_id) = doc_id AS keep
        FROM src LEFT JOIN c ON c.id = doc_id
    """
    out["audio_rules"] = """
        WITH d AS (
            SELECT doc_id,
                   CASE doc_id % 6
                       WHEN 0 THEN 8000 WHEN 1 THEN 16000
                       WHEN 2 THEN 22050 WHEN 3 THEN 44100
                       WHEN 4 THEN 11025 ELSE NULL END AS sample_rate
            FROM documents),
        n AS (
            SELECT doc_id, sample_rate,
                   CAST(CASE doc_id % 7
                       WHEN 0 THEN 0
                       WHEN 1 THEN 100
                       WHEN 2 THEN sample_rate * 700
                       ELSE sample_rate * ((doc_id % 50) + 1)
                   END AS BIGINT) AS n_samples
            FROM d),
        r AS (
            SELECT doc_id, sample_rate, n_samples,
                   CASE WHEN sample_rate IS NULL OR n_samples IS NULL
                            THEN 'audio_meta_missing'
                        WHEN sample_rate NOT IN
                             (8000, 16000, 22050, 44100, 48000)
                            THEN 'audio_rate_unsupported'
                        WHEN n_samples <= 0 THEN 'audio_empty'
                        WHEN n_samples / sample_rate < 0.1
                            THEN 'audio_too_short'
                        WHEN n_samples / sample_rate > 600.0
                            THEN 'audio_too_long'
                        ELSE NULL END AS audio_drop_reason
            FROM n)
        SELECT doc_id,
               coalesce(sample_rate, -1) AS sample_rate,
               coalesce(n_samples, -1) AS n_samples,
               audio_drop_reason,
               audio_drop_reason IS NULL AS audio_keep
        FROM r
    """
    out["minhash_recall"] = f"""
        WITH truth AS ({_sql_jaccard_exact()}),
        cand AS ({_sql_minhash_md5(src=_SQL_PERTURBED_SRC + " s(doc_id, text)")})
        SELECT t.id_a, t.id_b, t.jaccard,
               c.id_a IS NOT NULL AS found
        FROM truth t
        LEFT JOIN cand c ON c.id_a = t.id_a AND c.id_b = t.id_b
    """
    out["session_windows"] = """
        WITH g AS (
            SELECT user_id, event_id, ts, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                > 1800000000
                        THEN 1 ELSE 0 END AS starts
            FROM events
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY ts ASC, event_id ASC)),
        s AS (
            SELECT user_id, ts, value,
                   sum(starts) OVER (PARTITION BY user_id
                                     ORDER BY ts ASC, event_id ASC
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS session_idx
            FROM g)
        SELECT user_id, count(*) AS n_events,
               CAST(epoch_us(min(ts)) AS BIGINT) AS started_us,
               CAST(epoch_us(max(ts)) AS BIGINT) AS ended_us,
               CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT)
                   AS duration_us,
               round(sum(value), 6) AS total_value
        FROM s GROUP BY user_id, session_idx
    """
    out["phash_near_dup"] = f"""
        WITH pop AS ({_SQL_PHASH_POP})
        SELECT a.id AS id_a, b.id AS id_b,
               CAST(bit_count(xor(a.code, b.code)) AS INTEGER) AS hamming
        FROM pop a JOIN pop b ON a.id < b.id
        WHERE bit_count(xor(a.code, b.code)) <= 3
    """
    out["phash_keeplist"] = f"""
        WITH RECURSIVE
        pop AS ({_SQL_PHASH_POP}),
        cand AS (
            SELECT a.id AS id_a, b.id AS id_b
            FROM pop a JOIN pop b ON a.id < b.id
            WHERE bit_count(xor(a.code, b.code)) <= 3),
        e AS (SELECT id_a AS s, id_b AS d FROM cand
              UNION SELECT id_b, id_a FROM cand),
        r AS (SELECT s AS id, s AS comp FROM e
              UNION SELECT r.id, e.d FROM r JOIN e ON e.s = r.comp),
        c AS (SELECT id, min(comp) AS component FROM r GROUP BY id)
        SELECT pop.id,
               coalesce(component, pop.id) AS component,
               coalesce(component, pop.id) = pop.id AS keep
        FROM pop LEFT JOIN c ON c.id = pop.id
    """
    out["zipf_fit"] = """
        WITH toks AS (
            SELECT lang AS grp,
                   unnest(string_split(lower(coalesce(text, '')), ' '))
                       AS token
            FROM documents),
        f AS (SELECT grp, token, count(*) AS freq
              FROM toks WHERE len(token) > 0 GROUP BY 1, 2),
        r AS (SELECT grp, freq,
                     row_number() OVER (PARTITION BY grp
                                        ORDER BY freq DESC, token ASC)
                         AS rank
              FROM f)
        SELECT grp AS lang,
               round(regr_slope(ln(freq), ln(rank)), 6) AS zipf_slope,
               round(regr_intercept(ln(freq), ln(rank)), 6) AS zipf_intercept,
               round(regr_r2(ln(freq), ln(rank)), 6) AS zipf_r2,
               count(*) AS vocab,
               CAST(sum(freq) AS BIGINT) AS tokens
        FROM r GROUP BY grp
    """
    out["dsir_weights"] = """
        WITH toks AS (
            SELECT doc_id, lang = 'en' AS is_tgt,
                   unnest(string_split(lower(coalesce(text, '')), ' '))
                       AS token
            FROM documents),
        tb AS (SELECT doc_id, is_tgt,
                      ('0x' || substr(md5(token), 1, 6))::BIGINT % 256
                          AS bucket
               FROM toks WHERE len(token) > 0),
        db AS (SELECT doc_id, is_tgt, bucket, count(*) AS n
               FROM tb GROUP BY 1, 2, 3),
        bs AS (SELECT bucket, sum(n) AS raw_c,
                      sum(CASE WHEN is_tgt THEN n ELSE 0 END) AS tgt_c
               FROM db GROUP BY 1),
        tt AS (SELECT sum(raw_c) AS raw_t, sum(tgt_c) AS tgt_t FROM bs),
        rt AS (SELECT bucket,
                      ln((tgt_c + 1.0) / (tgt_t + 256.0))
                      - ln((raw_c + 1.0) / (raw_t + 256.0)) AS logratio
               FROM bs, tt),
        sc AS (SELECT doc_id, sum(n) AS n_tokens, sum(n * logratio) AS w
               FROM db JOIN rt USING (bucket) GROUP BY 1)
        SELECT d.doc_id,
               CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
               round(coalesce(w, 0.0), 6) AS dsir_weight
        FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
    """
    out["script_shares"] = """
        WITH t AS (
            SELECT doc_id,
                   coalesce(text, '') ||
                   CASE doc_id % 5
                       WHEN 0 THEN ' привет мир'
                       WHEN 1 THEN ' 你好世界'
                       WHEN 2 THEN ' مرحبا بالعالم'
                       WHEN 3 THEN ' Κόσμε здравствуй 世界'
                       ELSE '' END AS txt
            FROM documents),
        c AS (
            SELECT doc_id,
                   length(regexp_replace(txt, '[^\\p{Latin}]', '', 'g'))
                       AS n_latin,
                   length(regexp_replace(txt, '[^\\p{Cyrillic}]', '', 'g'))
                       AS n_cyrillic,
                   length(regexp_replace(txt, '[^\\p{Han}]', '', 'g'))
                       AS n_han,
                   length(regexp_replace(txt, '[^\\p{Arabic}]', '', 'g'))
                       AS n_arabic
            FROM t)
        SELECT doc_id,
               CAST(n_latin AS INTEGER) AS n_latin,
               CAST(n_cyrillic AS INTEGER) AS n_cyrillic,
               CAST(n_han AS INTEGER) AS n_han,
               CAST(n_arabic AS INTEGER) AS n_arabic,
               CASE WHEN n_latin + n_cyrillic + n_han + n_arabic = 0
                        THEN 'none'
                    WHEN n_latin >= n_cyrillic AND n_latin >= n_han
                         AND n_latin >= n_arabic THEN 'latin'
                    WHEN n_cyrillic >= n_han AND n_cyrillic >= n_arabic
                        THEN 'cyrillic'
                    WHEN n_han >= n_arabic THEN 'han'
                    ELSE 'arabic' END AS dominant_script,
               CASE WHEN n_latin + n_cyrillic + n_han + n_arabic > 0
                    THEN round(n_latin /
                               (n_latin + n_cyrillic + n_han + n_arabic), 4)
                    ELSE 0.0 END AS latin_share
        FROM c
    """
    out["magic_gate"] = """
        WITH pop AS (
            SELECT doc_id,
                   doc_id % 6 AS m,
                   CASE doc_id % 6
                       WHEN 0 THEN '89504E470D0A1A0A'
                       WHEN 1 THEN '51494D476A706567'
                       WHEN 2 THEN '51494D4777656270'
                       WHEN 3 THEN 'FFD8FFE0'
                       ELSE '' END
                   || upper(hex(coalesce(text, 'x'))) AS full_hex
            FROM documents),
        s AS (
            SELECT doc_id, m,
                   CASE WHEN m = 5 THEN 'missing'
                        WHEN substr(full_hex, 1, 16) = '89504E470D0A1A0A'
                            THEN 'png'
                        WHEN substr(full_hex, 1, 6) = 'FFD8FF' THEN 'jpeg'
                        WHEN substr(full_hex, 1, 8) = '51494D47'
                             AND substr(full_hex, 9, 8) = '6A706567'
                            THEN 'jpeg'
                        WHEN substr(full_hex, 1, 8) = '51494D47'
                             AND substr(full_hex, 9, 8) = '77656270'
                            THEN 'webp'
                        WHEN substr(full_hex, 1, 8) = '52494646'
                             AND substr(full_hex, 17, 8) = '57454250'
                            THEN 'webp'
                        ELSE 'unknown' END AS fmt_sniffed,
                   CASE WHEN m IN (1, 2, 3) THEN 'jpeg'
                        WHEN m = 5 THEN 'webp'
                        ELSE 'png' END AS fmt
            FROM pop)
        SELECT doc_id, fmt, fmt_sniffed,
               fmt_sniffed = fmt AS magic_ok
        FROM s
    """
    out["token_entropy"] = """
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split(lower(coalesce(text, '')), ' '))
                       AS token
            FROM documents),
        c AS (SELECT doc_id, token, count(*) AS n
              FROM toks WHERE len(token) > 0 GROUP BY 1, 2),
        p AS (SELECT doc_id,
                     sum(n) AS n_tokens,
                     count(*) AS vocab,
                     sum(n * ln(n)) AS nlogn
              FROM c GROUP BY 1)
        SELECT d.doc_id,
               CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
               CAST(coalesce(vocab, 0) AS BIGINT) AS vocab,
               round(coalesce(ln(n_tokens) - nlogn / n_tokens, 0.0), 6)
                   AS entropy,
               round(coalesce(vocab / CAST(n_tokens AS DOUBLE), 0.0), 6)
                   AS ttr
        FROM documents d LEFT JOIN p ON p.doc_id = d.doc_id
    """
    out["lang_confusion"] = f"""
        SELECT lang, lang_guess, count(*) AS n FROM (
            SELECT lang, {langid_case} AS lang_guess
            FROM (
                SELECT doc_id, lang, h_de, h_en, h_es, h_fr,
                       {greatest_hits} AS best
                FROM (SELECT doc_id, lang, {hits_cols} FROM documents)))
        GROUP BY lang, lang_guess
    """
    out["rule_ablation"] = r"""
        WITH fl AS (
            SELECT doc_id,
                   CASE WHEN length(coalesce(text, '')) < 50
                        THEN 1 ELSE 0 END AS r_short,
                   CASE WHEN length(regexp_replace(coalesce(text, ''),
                                                   '[^\p{L}]', '', 'g')) > 0
                             AND length(regexp_replace(coalesce(text, ''),
                                                       '[^\p{Lu}]', '', 'g'))
                                 / CAST(length(regexp_replace(
                                       coalesce(text, ''), '[^\p{L}]', '',
                                       'g')) AS DOUBLE) > 0.5
                        THEN 1 ELSE 0 END AS r_caps,
                   CASE WHEN length(coalesce(text, '')) = 0
                             OR length(regexp_replace(coalesce(text, ''),
                                                      '[^\p{L}]', '', 'g'))
                                / CAST(length(coalesce(text, '')) AS DOUBLE)
                                < 0.6
                        THEN 1 ELSE 0 END AS r_alpha,
                   CASE WHEN length(coalesce(text, '')) > 0
                             AND length(regexp_replace(coalesce(text, ''),
                                                       '[^0-9]', '', 'g'))
                                 / CAST(length(coalesce(text, '')) AS DOUBLE)
                                 > 0.2
                        THEN 1 ELSE 0 END AS r_digit,
                   CASE WHEN text IS NULL OR regexp_matches(text,
                            '(?i)^[\s\x0b]*(none|null|nan)?[\s\x0b]*$')
                        THEN 1 ELSE 0 END AS r_nanlike
            FROM documents),
        t AS (SELECT fl.*,
                     r_short + r_caps + r_alpha + r_digit + r_nanlike
                         AS nfail
              FROM fl),
        u AS (
            SELECT 'short' AS rule, r_short AS fail, nfail FROM t
            UNION ALL SELECT 'caps', r_caps, nfail FROM t
            UNION ALL SELECT 'alpha', r_alpha, nfail FROM t
            UNION ALL SELECT 'digit', r_digit, nfail FROM t
            UNION ALL SELECT 'nanlike', r_nanlike, nfail FROM t)
        SELECT rule,
               CAST(sum(fail) AS BIGINT) AS n_fail,
               CAST(sum(CASE WHEN fail = 1 AND nfail = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_sole,
               count(*) AS n_docs,
               round(sum(fail) / CAST(count(*) AS DOUBLE), 6) AS fail_rate
        FROM u GROUP BY rule
    """
    out["adaptive_gate"] = """
        WITH th AS (
            SELECT lang,
                   quantile_disc(n_chars, 0.125) AS lo,
                   quantile_disc(n_chars, 0.875) AS hi
            FROM documents WHERE n_chars IS NOT NULL GROUP BY lang)
        SELECT doc_id, d.lang, n_chars, lo, hi,
               n_chars >= lo AND n_chars <= hi AS keep
        FROM documents d JOIN th ON th.lang = d.lang
    """
    out["dedup_xmodal"] = f"""
        WITH RECURSIVE
        tcand AS ({_sql_minhash_md5(src=_SQL_PERTURBED_SRC + " s(doc_id, text)")}),
        te AS (SELECT id_a AS s, id_b AS d FROM tcand
               UNION SELECT id_b, id_a FROM tcand),
        tr AS (SELECT s AS id, s AS comp FROM te
               UNION SELECT tr.id, te.d FROM tr JOIN te ON te.s = tr.comp),
        tc AS (SELECT id, min(comp) AS component FROM tr GROUP BY id),
        tsrc AS (SELECT doc_id FROM {_SQL_PERTURBED_SRC} s2(doc_id, text)
                 WHERE length(trim(text)) > 0),
        tkeep AS (
            SELECT doc_id AS id,
                   coalesce(component, doc_id) = doc_id AS text_keep
            FROM tsrc LEFT JOIN tc ON tc.id = doc_id
            WHERE doc_id < 100000),
        pop AS ({_SQL_PHASH_POP}),
        icand AS (
            SELECT a.id AS id_a, b.id AS id_b
            FROM pop a JOIN pop b ON a.id < b.id
            WHERE bit_count(xor(a.code, b.code)) <= 3),
        ie AS (SELECT id_a AS s, id_b AS d FROM icand
               UNION SELECT id_b, id_a FROM icand),
        ir AS (SELECT s AS id, s AS comp FROM ie
               UNION SELECT ir.id, ie.d FROM ir JOIN ie ON ie.s = ir.comp),
        ic AS (SELECT id, min(comp) AS component FROM ir GROUP BY id),
        ikeep AS (
            SELECT pop.id,
                   coalesce(component, pop.id) = pop.id AS image_keep
            FROM pop LEFT JOIN ic ON ic.id = pop.id
            WHERE pop.id < 1000000)
        SELECT t.id AS doc_id, text_keep, image_keep,
               text_keep = image_keep AS agree
        FROM tkeep t JOIN ikeep i ON i.id = t.id
    """
    out["video_rules"] = """
        WITH d AS (
            SELECT doc_id,
                   CASE doc_id % 6
                       WHEN 0 THEN 15 WHEN 1 THEN 24
                       WHEN 2 THEN 30 WHEN 3 THEN 60
                       WHEN 4 THEN 12 ELSE NULL END AS fps
            FROM documents),
        n AS (
            SELECT doc_id, fps,
                   CAST(CASE doc_id % 7
                       WHEN 0 THEN 0
                       WHEN 1 THEN 5
                       WHEN 2 THEN fps * 4000
                       ELSE fps * ((doc_id % 50) + 1)
                   END AS BIGINT) AS n_frames,
                   CAST(CASE WHEN doc_id % 5 = 0 THEN 32 ELSE 640 END
                        AS INTEGER) AS w,
                   CAST(480 AS INTEGER) AS h
            FROM d),
        r AS (
            SELECT doc_id, fps, n_frames, w, h,
                   CASE WHEN fps IS NULL OR n_frames IS NULL
                             OR w IS NULL OR h IS NULL
                            THEN 'video_meta_missing'
                        WHEN fps NOT IN (15, 24, 25, 30, 60)
                            THEN 'video_fps_unsupported'
                        WHEN n_frames <= 0 THEN 'video_empty'
                        WHEN w < 64 OR h < 64 THEN 'video_tiny_resolution'
                        WHEN n_frames / fps < 0.5 THEN 'video_too_short'
                        WHEN n_frames / fps > 3600.0 THEN 'video_too_long'
                        ELSE NULL END AS video_drop_reason
            FROM n)
        SELECT doc_id,
               coalesce(fps, -1) AS fps,
               coalesce(n_frames, -1) AS n_frames,
               w, h,
               video_drop_reason,
               video_drop_reason IS NULL AS video_keep
        FROM r
    """
    out["url_canon"] = r"""
        WITH u AS (
            SELECT CASE doc_id % 5
                WHEN 0 THEN 'http://example-' || source || '.com/a/'
                            || (doc_id % 40)
                WHEN 1 THEN 'HTTP://' || upper('example-' || source || '.com')
                            || ':80/a/' || (doc_id % 40) || '/'
                WHEN 2 THEN 'http://example-' || source || '.com/a/'
                            || (doc_id % 40) || '?utm_source=feed&utm_medium=rss'
                WHEN 3 THEN 'http://example-' || source || '.com/a/'
                            || (doc_id % 40) || '#section-2'
                ELSE 'https://example-' || source || '.com:443/a/'
                     || (doc_id % 40) || '?id=9&fbclid=XYZ' END AS url
            FROM documents),
        c AS (
            SELECT regexp_replace(regexp_replace(regexp_replace(
                   regexp_replace(regexp_replace(regexp_replace(
                   regexp_replace(
                       lower(regexp_extract(trim(url),
                           '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1))
                       || regexp_replace(trim(url),
                           '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', ''),
                   '^(http://[^/?#:]+):80(/|\?|$)', '\1\2'),
                   '^(https://[^/?#:]+):443(/|\?|$)', '\1\2'),
                   '#.*$', ''),
                   '[?&](utm_[A-Za-z0-9_]+|fbclid|gclid|msclkid|mc_eid)=[^&#]*',
                   '', 'g'),
                   '^([^?]*)&', '\1?'),
                   '[?&]$', ''),
                   '^(.+?)/+$', '\1') AS canonical_url
            FROM u)
        SELECT canonical_url, count(*) AS n_variants
        FROM c GROUP BY canonical_url
    """
    out["incr_dedup"] = r"""
        WITH fps AS (
            SELECT doc_id,
                   md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
                       AS fp
            FROM documents)
        SELECT doc_id, fp FROM fps
        WHERE doc_id >= 250
          AND fp NOT IN (SELECT fp FROM fps WHERE doc_id < 250)
    """
    out["caption_skew"] = f"""
        WITH pop AS ({_SQL_PHASH_POP}),
        c AS (SELECT code % 32 AS key, count(*) AS n FROM pop GROUP BY 1),
        t AS (SELECT sum(n) AS total, count(*) AS n_keys FROM c)
        SELECT key, n,
               round(n / total, 6) AS share,
               round(n * n_keys / total, 4) AS skew,
               CAST(ceil(n * n_keys / total) AS BIGINT) AS salt_factor
        FROM c CROSS JOIN t
        ORDER BY n DESC, key ASC
        LIMIT 32
    """
    out["heaps_fit"] = """
        WITH toks AS (
            SELECT doc_id AS id,
                   unnest(string_split(lower(coalesce(text, '')), ' '))
                       AS token
            FROM documents),
        tk AS (SELECT id, token FROM toks WHERE len(token) > 0),
        per_doc AS (SELECT id, count(*) AS n_toks FROM tk GROUP BY 1),
        new_types AS (
            SELECT first_doc, count(*) AS n_new FROM (
                SELECT token, min(id) AS first_doc FROM tk GROUP BY 1)
            GROUP BY 1),
        j AS (SELECT p.id, p.n_toks, coalesce(n.n_new, 0) AS n_new
              FROM per_doc p LEFT JOIN new_types n ON n.first_doc = p.id),
        cum AS (
            SELECT ln(CAST(sum(n_toks) OVER w AS DOUBLE)) AS ln_n,
                   ln(CAST(sum(n_new) OVER w AS DOUBLE)) AS ln_v
            FROM j
            WINDOW w AS (ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW))
        SELECT round(regr_slope(ln_v, ln_n), 6) AS beta,
               round(regr_intercept(ln_v, ln_n), 6) AS ln_k,
               round(regr_r2(ln_v, ln_n), 6) AS r2,
               count(*) AS n_checkpoints
        FROM cum
    """
    # ladder must mirror operators/buckets.py:DEFAULT_BUCKETS
    out["aspect_buckets"] = """
        WITH dims AS (
            SELECT doc_id,
                   CAST(256 + (doc_id * 37) % 1280 AS INTEGER) AS w,
                   CAST(CASE WHEN doc_id % 97 = 0 THEN 0
                             ELSE 256 + (doc_id * 53) % 1280 END
                        AS INTEGER) AS h
            FROM documents),
        ladder(bucket_id, bucket_w, bucket_h) AS (VALUES
            (0, 512, 2048), (1, 640, 1536), (2, 768, 1344), (3, 896, 1152),
            (4, 1024, 1024), (5, 1152, 896), (6, 1344, 768), (7, 1536, 640),
            (8, 2048, 512)),
        valid AS (SELECT * FROM dims WHERE w > 0 AND h > 0),
        ranked AS (
            SELECT d.doc_id, d.w, d.h, l.bucket_id, l.bucket_w, l.bucket_h,
                   row_number() OVER (
                       PARTITION BY d.doc_id
                       ORDER BY abs(ln(CAST(d.w AS DOUBLE) / d.h)
                                    - ln(CAST(l.bucket_w AS DOUBLE)
                                         / l.bucket_h)) ASC,
                                l.bucket_id ASC) AS rk
            FROM valid d CROSS JOIN ladder l),
        assigned AS (
            SELECT doc_id, w, h, bucket_id, bucket_w, bucket_h,
                   round(1.0 - least(CAST(w AS DOUBLE) / h,
                                     CAST(bucket_w AS DOUBLE) / bucket_h)
                             / greatest(CAST(w AS DOUBLE) / h,
                                        CAST(bucket_w AS DOUBLE) / bucket_h),
                         6) AS crop_waste
            FROM ranked WHERE rk = 1
            UNION ALL
            SELECT doc_id, w, h, NULL, NULL, NULL, NULL
            FROM dims WHERE NOT (w > 0 AND h > 0)),
        agg AS (
            SELECT bucket_id,
                   CAST(max(bucket_w) AS INTEGER) AS bucket_w,
                   CAST(max(bucket_h) AS INTEGER) AS bucket_h,
                   CAST(count(*) AS BIGINT) AS n,
                   round(avg(crop_waste), 6) AS mean_waste,
                   round(avg(CAST(w AS DOUBLE) * h / 1e6), 6) AS mean_mpix
            FROM assigned GROUP BY bucket_id)
        SELECT CAST(coalesce(bucket_id, -1) AS INTEGER) AS bucket_id,
               CAST(coalesce(bucket_w, -1) AS INTEGER) AS bucket_w,
               CAST(coalesce(bucket_h, -1) AS INTEGER) AS bucket_h,
               n,
               coalesce(mean_waste, -1.0) AS mean_waste,
               mean_mpix,
               round(n / CAST(sum(n) OVER () AS DOUBLE), 6) AS share
        FROM agg
        ORDER BY 1
    """
    out["phash_dist_hist"] = f"""
        WITH pop AS ({_SQL_PHASH_POP})
        SELECT CAST(bit_count(xor(a.code, b.code)) AS INTEGER) AS hamming,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM pop a JOIN pop b ON a.id < b.id
        WHERE bit_count(xor(a.code, b.code)) <= 7
        GROUP BY 1 ORDER BY 1
    """
    out["split_leakage"] = f"""
        WITH pop AS ({_SQL_PHASH_POP}),
        splits AS (
            SELECT id,
                   CASE WHEN ('0x' || substr(md5('split:' || id), 1, 8))
                             ::BIGINT / 4294967296.0 < 0.9
                        THEN 'train' ELSE 'val' END AS split
            FROM pop),
        cand AS (
            SELECT a.id AS id_a, b.id AS id_b
            FROM pop a JOIN pop b ON a.id < b.id
            WHERE bit_count(xor(a.code, b.code)) <= 3)
        SELECT least(sa.split, sb.split) AS s_lo,
               greatest(sa.split, sb.split) AS s_hi,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM cand
        JOIN splits sa ON sa.id = cand.id_a
        JOIN splits sb ON sb.id = cand.id_b
        GROUP BY 1, 2 ORDER BY 1, 2
    """
    out["domain_quota"] = """
        WITH docs AS (
            SELECT doc_id, 'example-' || source || '.com' AS domain
            FROM documents),
        ranked AS (
            SELECT doc_id, domain,
                   row_number() OVER (
                       PARTITION BY domain
                       ORDER BY ('0x' || substr(md5('quota:' || doc_id), 1, 8))
                                ::BIGINT / 4294967296.0 ASC,
                                doc_id ASC) AS rk
            FROM docs)
        SELECT doc_id, domain FROM ranked
        WHERE rk <= 5 ORDER BY domain, doc_id
    """
    out["cluster_sizes"] = f"""
        WITH RECURSIVE
        pop AS ({_SQL_PHASH_POP}),
        cand AS (
            SELECT a.id AS id_a, b.id AS id_b
            FROM pop a JOIN pop b ON a.id < b.id
            WHERE bit_count(xor(a.code, b.code)) <= 3),
        e AS (SELECT id_a AS s, id_b AS d FROM cand
              UNION SELECT id_b, id_a FROM cand),
        r AS (SELECT s AS id, s AS comp FROM e
              UNION SELECT r.id, e.d FROM r JOIN e ON e.s = r.comp),
        c AS (SELECT id, min(comp) AS component FROM r GROUP BY id),
        members AS (
            SELECT coalesce(component, pop.id) AS component
            FROM pop LEFT JOIN c ON c.id = pop.id),
        sizes AS (
            SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
            FROM members GROUP BY 1)
        SELECT cluster_size,
               CAST(count(*) AS BIGINT) AS n_clusters,
               CAST(count(*) * cluster_size AS BIGINT) AS n_rows
        FROM sizes GROUP BY 1 ORDER BY 1
    """
    out["pps_sample"] = """
        SELECT doc_id, n_chars,
               round(1.0 / least(1.0, n_chars / 1024.0), 6) AS ht_weight
        FROM documents
        WHERE ('0x' || substr(md5('pps:' || doc_id), 1, 8))::BIGINT
                  / 4294967296.0
              < least(1.0, n_chars / 1024.0)
        ORDER BY doc_id
    """
    out["neighbor_quality"] = f"""
        WITH pop AS ({_SQL_PHASH_POP}),
        cand AS (
            SELECT a.id AS id_a, b.id AS id_b
            FROM pop a JOIN pop b ON a.id < b.id
            WHERE bit_count(xor(a.code, b.code)) <= 3),
        edges AS (
            SELECT id_a AS id, id_b AS nb FROM cand
            UNION ALL SELECT id_b, id_a FROM cand),
        scores AS (
            SELECT doc_id AS id, n_chars AS s FROM documents
            UNION ALL
            SELECT doc_id + 1000000, n_chars FROM documents),
        agg AS (
            SELECT e.id, avg(s.s) AS nb_mean,
                   CAST(count(*) AS BIGINT) AS n_nb
            FROM edges e JOIN scores s ON s.id = e.nb
            GROUP BY e.id)
        SELECT a.id, CAST(o.s AS BIGINT) AS own_score,
               round(a.nb_mean, 6) AS nb_mean, a.n_nb,
               round(o.s - a.nb_mean, 6) AS divergence
        FROM agg a JOIN scores o ON o.id = a.id
        ORDER BY a.id
    """
    out["boiler_share"] = f"""
        WITH d AS (
            SELECT doc_id,
                   '{DUP_TOP}' || chr(10) ||
                   'Sec ' || CAST(doc_id % 5 AS VARCHAR) || ': intro' ||
                   chr(10) || text || chr(10) ||
                   'ref ' || CAST(doc_id % 300 AS VARCHAR) || chr(10) ||
                   '{DUP_BOT}' AS mt
            FROM documents),
        l AS (
            SELECT doc_id,
                   unnest(string_split(mt, chr(10))) AS line
            FROM d),
        hot AS (SELECT line FROM l GROUP BY line HAVING count(*) >= 3),
        boiler AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_boiler
            FROM l WHERE line IN (SELECT line FROM hot)
            GROUP BY doc_id),
        tot AS (
            SELECT doc_id,
                   CAST(len(string_split(mt, chr(10))) AS BIGINT) AS n_lines
            FROM d)
        SELECT t.doc_id, t.n_lines,
               CAST(coalesce(b.n_boiler, 0) AS BIGINT) AS n_boiler,
               round(coalesce(b.n_boiler, 0) / t.n_lines, 6) AS boiler_share
        FROM tot t LEFT JOIN boiler b USING (doc_id)
        ORDER BY t.doc_id
    """
    out["best_keeplist"] = """
        WITH RECURSIVE
        p AS (
            SELECT doc_id AS id_a, doc_id + 1 AS id_b
            FROM documents WHERE doc_id % 5 != 4
            UNION ALL
            SELECT doc_id, doc_id + 7
            FROM documents WHERE doc_id % 50 = 0),
        e AS (
            SELECT id_a AS s, id_b AS d FROM p
            UNION
            SELECT id_b, id_a FROM p),
        r AS (
            SELECT s AS id, s AS comp FROM e
            UNION
            SELECT r.id, e.d FROM r JOIN e ON e.s = r.comp),
        c AS (
            SELECT id, min(comp) AS component FROM r GROUP BY id),
        b AS (
            SELECT c.id, c.component,
                   row_number() OVER (PARTITION BY c.component
                                      ORDER BY d.n_chars DESC, c.id) = 1
                       AS keep
            FROM c JOIN documents d ON d.doc_id = c.id)
        SELECT doc_id,
               coalesce(b.component, doc_id) AS component,
               coalesce(b.keep, TRUE) AS keep
        FROM documents LEFT JOIN b ON b.id = doc_id
        ORDER BY doc_id
    """
    out["domain_shrinkage"] = """
        WITH g AS (
            SELECT 'example-' || source || '.com' AS domain,
                   CAST(sum(n_chars) AS BIGINT) AS s,
                   CAST(count(n_chars) AS BIGINT) AS n
            FROM documents GROUP BY 1),
        t AS (
            SELECT CAST(sum(s) AS BIGINT) AS ts,
                   CAST(sum(n) AS BIGINT) AS tn
            FROM g)
        SELECT domain, n AS n_docs,
               round(s / n, 6) AS raw_mean,
               round((s + 20.0 * (ts / tn)) / (n + 20.0), 6)
                   AS shrunk_mean
        FROM g, t
        ORDER BY domain
    """
    out["hard_negatives"] = """
        SELECT anchor_id, neg_id, cos_sim, rnk FROM (
            SELECT anchor_id, neg_id, cos_sim,
                   row_number() OVER (PARTITION BY anchor_id
                                      ORDER BY cos_sim DESC, neg_id)
                       AS rnk
            FROM (
                SELECT a.vec_id AS anchor_id, c.vec_id AS neg_id,
                       round(list_cosine_similarity(
                           CAST(a.embedding AS DOUBLE[]),
                           CAST(c.embedding AS DOUBLE[])), 6) AS cos_sim
                FROM embeddings a JOIN embeddings c
                  ON a.vec_id % 8 = c.vec_id % 8
                WHERE a.vec_id != c.vec_id AND a.label != c.label))
        WHERE rnk <= 3
        ORDER BY anchor_id, rnk
    """
    out["caption_reuse"] = """
        SELECT k AS caption_key,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT source) AS BIGINT) AS n_distinct_vals,
               count(DISTINCT source) > 1 AS reused
        FROM (SELECT substr(lower(coalesce(text, '')), 1, 16) AS k, source
              FROM documents)
        GROUP BY k HAVING count(*) >= 2
        ORDER BY caption_key
    """
    out["value_trend"] = """
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               round(regr_slope(y, x), 6) AS slope,
               round(regr_intercept(y, x), 6) AS intercept,
               round(regr_r2(y, x), 6) AS r2
        FROM (SELECT event_type, value AS y,
                     floor(epoch(ts)) - 1704067200.0 AS x
              FROM events)
        GROUP BY event_type
        ORDER BY event_type
    """
    out["score_percentile"] = """
        SELECT doc_id, source, n_chars,
               round(percent_rank() OVER (PARTITION BY source
                                          ORDER BY n_chars), 6) AS pct
        FROM documents
        ORDER BY doc_id
    """
    out["cluster_purity"] = """
        WITH RECURSIVE
        p AS (
            SELECT doc_id AS id_a, doc_id + 1 AS id_b
            FROM documents WHERE doc_id % 5 != 4
            UNION ALL
            SELECT doc_id, doc_id + 7
            FROM documents WHERE doc_id % 50 = 0),
        e AS (
            SELECT id_a AS s, id_b AS d FROM p
            UNION
            SELECT id_b, id_a FROM p),
        r AS (
            SELECT s AS id, s AS comp FROM e
            UNION
            SELECT r.id, e.d FROM r JOIN e ON e.s = r.comp),
        c AS (
            SELECT id, min(comp) AS component FROM r GROUP BY id),
        cnt AS (
            SELECT component, lang, count(*) AS n
            FROM c JOIN documents d ON d.doc_id = c.id
            GROUP BY 1, 2),
        sz AS (
            SELECT component, CAST(sum(n) AS BIGINT) AS size
            FROM cnt GROUP BY 1),
        top AS (
            SELECT component, lang AS majority_label,
                   CAST(n AS BIGINT) AS majority_n
            FROM (SELECT component, lang, n,
                         row_number() OVER (PARTITION BY component
                                            ORDER BY n DESC, lang) AS rn
                  FROM cnt)
            WHERE rn = 1)
        SELECT t.component, s.size, t.majority_label, t.majority_n,
               round(t.majority_n / s.size, 6) AS purity
        FROM top t JOIN sz s USING (component)
        ORDER BY t.component
    """
    out["containment"] = f"""
        WITH srcx AS (SELECT * FROM {_SQL_PERTURBED_SRC} s(doc_id, text)),
        tok AS (SELECT doc_id AS id,
                       string_split_regex(lower(trim(text)), '\\s+') AS ws
                FROM srcx),
        sh AS (SELECT id, list_distinct(list_filter(
                 list_transform(
                     generate_series(1, greatest(len(ws) - 2, 1)),
                     i -> array_to_string(ws[i:i+2], ' ')),
                 s -> len(s) > 0)) AS sg FROM tok),
        nz AS (SELECT id, sg, len(sg) AS sz FROM sh WHERE len(sg) > 0),
        inv AS (SELECT id, unnest(sg) AS g FROM nz),
        okg AS (SELECT g FROM inv GROUP BY g HAVING count(*) <= 32),
        inv2 AS (SELECT inv.id, inv.g FROM inv JOIN okg USING (g)),
        inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
                  FROM inv2 a JOIN inv2 b USING (g)
                  WHERE a.id < b.id GROUP BY 1, 2),
        co AS (SELECT id_a, id_b,
                      round(i / sa.sz, 6) AS cont_a_in_b,
                      round(i / sb.sz, 6) AS cont_b_in_a
               FROM inter
               JOIN nz sa ON sa.id = inter.id_a
               JOIN nz sb ON sb.id = inter.id_b)
        SELECT id_a, id_b, cont_a_in_b, cont_b_in_a FROM co
        WHERE cont_a_in_b >= 0.7 OR cont_b_in_a >= 0.7
        ORDER BY id_a, id_b
    """
    out["mad_outliers"] = """
        WITH med AS (
            SELECT source, quantile_disc(n_chars, 0.5) AS med
            FROM documents GROUP BY 1),
        dev AS (
            SELECT d.doc_id, d.source, d.n_chars, m.med,
                   abs(d.n_chars - m.med) AS ad
            FROM documents d JOIN med m USING (source)),
        madt AS (
            SELECT source, quantile_disc(ad, 0.5) AS mad
            FROM dev GROUP BY 1)
        SELECT dev.doc_id, dev.source, dev.n_chars,
               CAST(dev.med AS BIGINT) AS med,
               CAST(x.mad AS BIGINT) AS mad,
               CASE WHEN x.mad = 0 THEN NULL
                    ELSE round(0.6745 * (dev.n_chars - dev.med) / x.mad, 6)
               END AS robust_z,
               CASE WHEN x.mad = 0 THEN NULL
                    ELSE abs(0.6745 * (dev.n_chars - dev.med) / x.mad) > 3.5
               END AS outlier
        FROM dev JOIN madt x USING (source)
        ORDER BY dev.doc_id
    """
    out["tfidf_pairs"] = f"""
        WITH srcx AS (SELECT * FROM {_SQL_PERTURBED_SRC} s(doc_id, text)),
        tok AS (SELECT doc_id AS id,
                       unnest(string_split_regex(lower(trim(text)), '\\s+'))
                           AS t
                FROM srcx),
        tok2 AS (SELECT id, t FROM tok WHERE t != ''),
        tf AS (SELECT id, t, count(*) AS tf FROM tok2 GROUP BY 1, 2),
        dfreq AS (SELECT t, count(*) AS df_t FROM tf
                  GROUP BY 1 HAVING count(*) <= 32),
        nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n
               FROM srcx),
        w AS (SELECT id, t, tf * ln(n / df_t) AS w
              FROM tf JOIN dfreq USING (t), nd),
        nrm AS (SELECT id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1),
        dots AS (SELECT a.id AS id_a, b.id AS id_b, sum(a.w * b.w) AS dot
                 FROM w a JOIN w b USING (t)
                 WHERE a.id < b.id GROUP BY 1, 2)
        SELECT id_a, id_b,
               round(dot / (na.nrm * nb.nrm), 6) AS tfidf_cos
        FROM dots
        JOIN nrm na ON na.id = dots.id_a
        JOIN nrm nb ON nb.id = dots.id_b
        WHERE round(dot / (na.nrm * nb.nrm), 6) >= 0.6
        ORDER BY id_a, id_b
    """
    out["funnel"] = """
        WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
                    WHERE event_type = 'view' GROUP BY 1),
        s2 AS (SELECT e.user_id, min(e.ts) AS t
               FROM events e JOIN s1 ON s1.user_id = e.user_id
               WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
        s3 AS (SELECT e.user_id, min(e.ts) AS t
               FROM events e JOIN s2 ON s2.user_id = e.user_id
               WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1),
        c AS (
            SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step,
                   CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_users
            UNION ALL
            SELECT 2, 'click', (SELECT count(*) FROM s2)
            UNION ALL
            SELECT 3, 'purchase', (SELECT count(*) FROM s3))
        SELECT step_idx, step, n_users,
               round(n_users / (SELECT count(*) FROM s1), 6) AS conv_rate
        FROM c ORDER BY step_idx
    """
    out["cohort"] = """
        WITH d AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE)
                              AS day
                   FROM events),
        f AS (SELECT user_id, min(day) AS cohort FROM d GROUP BY 1),
        a AS (SELECT DISTINCT user_id, day FROM d)
        SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_day,
               CAST(date_diff('day', f.cohort, a.day) AS BIGINT)
                   AS day_offset,
               CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
        FROM a JOIN f ON f.user_id = a.user_id
        GROUP BY 1, 2 ORDER BY 1, 2
    """
    out["calibration"] = """
        WITH scored AS (
            SELECT round(percent_rank() OVER (PARTITION BY source
                                              ORDER BY n_chars), 6) AS pct,
                   CAST(regexp_matches(text, '\\bquery\\b') AS INT) AS y
            FROM documents),
        binned AS (
            SELECT CAST(least(9, floor(pct * 10)) AS BIGINT) AS bin,
                   pct, y
            FROM scored)
        SELECT bin, CAST(count(*) AS BIGINT) AS n,
               round(avg(pct), 6) AS mean_score,
               CAST(sum(y) AS BIGINT) AS n_pos,
               round(sum(y) / count(*), 6) AS pos_rate
        FROM binned GROUP BY bin ORDER BY bin
    """
    out["pagerank"] = """
        WITH ed AS (
            SELECT doc_id AS src,
                   CAST(floor(doc_id / 2) AS BIGINT) AS dst
            FROM documents WHERE doc_id > 0
            UNION ALL
            SELECT doc_id, (doc_id * 13 + 7) % 97 FROM documents),
        nodes AS (SELECT DISTINCT id FROM (
            SELECT src AS id FROM ed UNION ALL SELECT dst FROM ed)),
        odeg AS (SELECT src, count(*) AS odeg FROM ed GROUP BY 1),
        nt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        r0 AS (SELECT id, 1.0 / n AS rank FROM nodes, nt),
        c1 AS (SELECT dst, sum(r.rank / o.odeg) AS i
               FROM ed JOIN odeg o USING (src)
               JOIN r0 r ON r.id = ed.src GROUP BY 1),
        r1 AS (SELECT nodes.id,
                      0.15 / n + 0.85 * coalesce(c1.i, 0.0) AS rank
               FROM nodes LEFT JOIN c1 ON c1.dst = nodes.id, nt),
        c2 AS (SELECT dst, sum(r.rank / o.odeg) AS i
               FROM ed JOIN odeg o USING (src)
               JOIN r1 r ON r.id = ed.src GROUP BY 1),
        r2 AS (SELECT nodes.id,
                      0.15 / n + 0.85 * coalesce(c2.i, 0.0) AS rank
               FROM nodes LEFT JOIN c2 ON c2.dst = nodes.id, nt),
        c3 AS (SELECT dst, sum(r.rank / o.odeg) AS i
               FROM ed JOIN odeg o USING (src)
               JOIN r2 r ON r.id = ed.src GROUP BY 1),
        r3 AS (SELECT nodes.id,
                      0.15 / n + 0.85 * coalesce(c3.i, 0.0) AS rank
               FROM nodes LEFT JOIN c3 ON c3.dst = nodes.id, nt)
        SELECT id, round(rank, 6) AS rank FROM r3 ORDER BY id
    """
    out["readability"] = """
        WITH c AS (
            SELECT doc_id,
                   regexp_replace(lower(coalesce(text, '')),
                                  '[^\\s]+', chr(1), 'g') AS cw,
                   regexp_replace(lower(coalesce(text, '')),
                                  '[.!?]+', chr(1), 'g') AS cs,
                   regexp_replace(lower(coalesce(text, '')),
                                  '[aeiouy]+', chr(1), 'g') AS cy
            FROM documents),
        k AS (
            SELECT doc_id,
                   CAST(length(cw) - length(replace(cw, chr(1), ''))
                        AS BIGINT) AS words,
                   greatest(CAST(1 AS BIGINT),
                            CAST(length(cs) - length(replace(cs, chr(1), ''))
                                 AS BIGINT)) AS sentences,
                   CAST(length(cy) - length(replace(cy, chr(1), ''))
                        AS BIGINT) AS syllables
            FROM c)
        SELECT doc_id, words, sentences, syllables,
               CASE WHEN words > 0
                    THEN round(206.835 - 1.015 * (words / sentences)
                               - 84.6 * (syllables / words), 6)
               END AS flesch
        FROM k ORDER BY doc_id
    """
    out["rate_anomaly"] = """
        WITH daily AS (
            SELECT event_type,
                   strftime(CAST(date_trunc('day', ts) AS DATE),
                            '%Y-%m-%d') AS day,
                   CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2)
        SELECT event_type, day, n,
               CAST(count(n) OVER w AS BIGINT) AS n_prior,
               coalesce(round(avg(n) OVER w, 6), 0.0) AS trail_mean,
               coalesce(CASE WHEN (stddev_samp(n) OVER w) > 0
                             THEN round((n - avg(n) OVER w)
                                        / (stddev_samp(n) OVER w), 6)
                        END, 0.0) AS z,
               coalesce(CASE WHEN (stddev_samp(n) OVER w) > 0
                             THEN abs((n - avg(n) OVER w)
                                      / (stddev_samp(n) OVER w)) > 2.0
                             WHEN (stddev_samp(n) OVER w) = 0
                                  AND (count(n) OVER w) >= 2
                             THEN n != avg(n) OVER w
                        END, FALSE) AS anomaly
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
        ORDER BY event_type, day
    """
    out["dedup_cascade"] = f"""
        WITH RECURSIVE
        pop AS ({_SQL_PHASH_POP}),
        cat AS (
            SELECT id, code,
                   CASE WHEN id < 1000000
                        THEN md5('c-' || (id % 350))
                        ELSE md5('c-t-' || id) END AS chash
            FROM pop),
        c1 AS (SELECT chash, min(id) AS ecanon FROM cat GROUP BY 1),
        s1 AS (SELECT cat.id, cat.code, cat.chash, c1.ecanon
               FROM cat JOIN c1 USING (chash)),
        surv AS (SELECT id, code FROM s1 WHERE id = ecanon),
        cand AS (
            SELECT a.id AS id_a, b.id AS id_b
            FROM surv a JOIN surv b ON a.id < b.id
            WHERE bit_count(xor(a.code, b.code)) <= 3),
        e AS (SELECT id_a AS s, id_b AS d FROM cand
              UNION SELECT id_b, id_a FROM cand),
        r AS (SELECT s AS id, s AS comp FROM e
              UNION SELECT r.id, e.d FROM r JOIN e ON e.s = r.comp),
        c AS (SELECT id, min(comp) AS component FROM r GROUP BY id)
        SELECT s1.id,
               CASE WHEN s1.id != s1.ecanon THEN 'exact_dup'
                    WHEN coalesce(c.component, s1.ecanon) != s1.id
                        THEN 'near_dup'
                    ELSE 'unique' END AS stage,
               coalesce(c.component, s1.ecanon) AS canonical,
               coalesce(c.component, s1.ecanon) = s1.id AS keep
        FROM s1 LEFT JOIN c ON c.id = s1.ecanon
        ORDER BY s1.id
    """
    out["cube_counts"] = """
        SELECT CASE WHEN GROUPING(source) = 1 THEN '(all)'
                    ELSE source END AS source,
               CASE WHEN GROUPING(lang) = 1 THEN '(all)'
                    ELSE lang END AS lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS n_chars,
               CAST(GROUPING(source, lang) AS BIGINT) AS gid
        FROM documents
        GROUP BY CUBE (source, lang)
        ORDER BY gid, source, lang
    """
    out["except_intersect"] = """
        WITH a AS (SELECT doc_id, lang FROM documents WHERE doc_id % 2 = 0),
        b AS (SELECT doc_id, lang FROM documents WHERE lang = 'en'),
        ex AS (SELECT * FROM a EXCEPT ALL SELECT * FROM b),
        ix AS (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
        SELECT 'except' AS op, lang, CAST(count(*) AS BIGINT) AS n
        FROM ex GROUP BY lang
        UNION ALL
        SELECT 'intersect', lang, count(*) FROM ix GROUP BY lang
        ORDER BY op, lang
    """
    _sql_scored = """
        SELECT round(percent_rank() OVER (PARTITION BY source
                                          ORDER BY n_chars), 6) AS s,
               CAST(regexp_matches(text, '\\bquery\\b') AS BIGINT) AS y
        FROM documents"""
    out["auc"] = f"""
        WITH scored AS ({_sql_scored}),
        per AS (
            SELECT s, CAST(count(*) AS BIGINT) AS n_s,
                   CAST(sum(y) AS BIGINT) AS pos_s
            FROM scored GROUP BY s),
        ranked AS (
            SELECT *, sum(n_s) OVER (ORDER BY s
                       ROWS UNBOUNDED PRECEDING) AS cum_n
            FROM per)
        SELECT CAST(sum(pos_s) AS BIGINT) AS n_pos,
               CAST(sum(n_s) - sum(pos_s) AS BIGINT) AS n_neg,
               round((sum(pos_s * (2 * cum_n - n_s + 1))
                      - sum(pos_s) * (sum(pos_s) + 1))
                     / (2.0 * sum(pos_s) * (sum(n_s) - sum(pos_s))), 6)
                   AS auc
        FROM ranked
    """
    out["pr_curve"] = f"""
        WITH scored AS ({_sql_scored}),
        th AS (SELECT i / 10.0 AS t FROM generate_series(1, 9) g(i)),
        agg AS (
            SELECT t,
                   CAST(sum(CASE WHEN s >= t AND y = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS tp,
                   CAST(sum(CASE WHEN s >= t AND y = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS fp,
                   CAST(sum(CASE WHEN s < t AND y = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS fn
            FROM scored, th GROUP BY t)
        SELECT round(t, 6) AS t, tp, fp, fn,
               CAST(tp + fp AS BIGINT) AS n_pred,
               coalesce(CASE WHEN tp + fp > 0
                             THEN round(tp / (tp + fp), 6) END, 0.0)
                   AS precision,
               coalesce(CASE WHEN tp + fn > 0
                             THEN round(tp / (tp + fn), 6) END, 0.0)
                   AS recall,
               coalesce(CASE WHEN tp + fp > 0 AND tp + fn > 0 AND tp > 0
                             THEN round(2 * (tp / (tp + fp))
                                          * (tp / (tp + fn))
                                        / ((tp / (tp + fp))
                                           + (tp / (tp + fn))), 6)
                        END, 0.0) AS f1
        FROM agg ORDER BY t
    """
    out["weighted_sample"] = """
        WITH t AS (
            SELECT source, doc_id, n_chars,
                   ln((('0x' || substr(md5('ws:' || doc_id), 1, 8))::BIGINT
                       + 0.5) / 4294967296.0) / n_chars AS es
            FROM documents WHERE n_chars > 0),
        r AS (
            SELECT source, doc_id, n_chars,
                   CAST(row_number() OVER (PARTITION BY source
                                           ORDER BY es DESC, doc_id)
                        AS BIGINT) AS rnk
            FROM t)
        SELECT doc_id, source, n_chars, rnk FROM r WHERE rnk <= 5
        ORDER BY source, rnk
    """
    out["concentration"] = """
        WITH sizes AS (
            SELECT source, CAST(count(*) AS BIGINT) AS x
            FROM documents GROUP BY 1),
        tot AS (
            SELECT CAST(sum(x) AS BIGINT) AS tx,
                   CAST(count(*) AS BIGINT) AS ng
            FROM sizes),
        ranked AS (
            SELECT x, CAST(row_number() OVER (ORDER BY x, source)
                           AS BIGINT) AS i
            FROM sizes),
        a AS (
            SELECT t.ng, t.tx,
                   sum(i * x) AS six,
                   -sum((x / t.tx) * ln(x / t.tx)) AS ent,
                   max(x) AS mx
            FROM ranked, tot t
            GROUP BY t.ng, t.tx)
        SELECT ng AS n_groups,
               round((2 * six - (ng + 1) * tx) / (ng * tx), 6) AS gini,
               round(ent, 6) AS entropy,
               round(CASE WHEN ng > 1
                          THEN ent / ln(CAST(ng AS DOUBLE))
                          ELSE 0.0 END, 6) AS norm_entropy,
               round(mx / tx, 6) AS top_share
        FROM a
    """
    out["decayed_mean"] = """
        WITH base AS (
            SELECT event_type, value,
                   exp(-(ln(2) / 7.0)
                       * CAST(date_diff('day',
                              CAST(date_trunc('day', ts) AS DATE),
                              DATE '2024-02-01') AS DOUBLE)) AS w
            FROM events)
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               round(avg(value), 6) AS plain_mean,
               round(sum(value * w) / sum(w), 6) AS decayed_mean
        FROM base GROUP BY event_type
        ORDER BY event_type
    """
    out["chunk_windows"] = """
        WITH t AS (
            SELECT doc_id,
                   list_filter(
                       string_split_regex(coalesce(text, ''), '\\s+'),
                       s -> len(s) > 0) AS ws
            FROM documents),
        nn AS (SELECT doc_id, ws, len(ws) AS n FROM t WHERE len(ws) > 0),
        st AS (SELECT doc_id, ws, n,
                      unnest(generate_series(1, n, 48)) AS s
               FROM nn)
        SELECT doc_id,
               CAST((s - 1) // 48 AS BIGINT) AS chunk_idx,
               CAST(least(64, n - s + 1) AS BIGINT) AS n_tokens,
               array_to_string(ws[s:s + 63], ' ') AS chunk_text
        FROM st
        ORDER BY doc_id, chunk_idx
    """
    out["kappa_agreement"] = """
        WITH g AS (
            SELECT source,
                   (n_chars >= 300) AS a,
                   ((length(coalesce(text, ''))
                     - length(replace(coalesce(text, ''), ' ', ''))) >= 49)
                       AS b
            FROM documents),
        c AS (
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END)
                        AS BIGINT) AS n11,
                   CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
                        AS BIGINT) AS n10,
                   CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)
                        AS BIGINT) AS n01,
                   CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)
                        AS BIGINT) AS n00
            FROM g GROUP BY source)
        SELECT source, n, n11, n10, n01, n00,
               round((n11 + n00) / CAST(n AS DOUBLE), 6) AS po,
               round(((n11 + n10) * (n11 + n01)
                      + (n01 + n00) * (n10 + n00))
                     / (CAST(n AS DOUBLE) * n), 6) AS pe,
               CASE WHEN ((n11 + n10) * (n11 + n01)
                          + (n01 + n00) * (n10 + n00))
                        / (CAST(n AS DOUBLE) * n) < 1.0
                    THEN round(((n11 + n00) / CAST(n AS DOUBLE)
                                - ((n11 + n10) * (n11 + n01)
                                   + (n01 + n00) * (n10 + n00))
                                  / (CAST(n AS DOUBLE) * n))
                               / (1.0 - ((n11 + n10) * (n11 + n01)
                                         + (n01 + n00) * (n10 + n00))
                                        / (CAST(n AS DOUBLE) * n)), 6)
                    ELSE 0.0 END AS kappa
        FROM c ORDER BY source
    """
    out["psi_drift"] = """
        WITH base AS (
            SELECT event_type AS g,
                   least(greatest(CAST(floor(value / 50.0) AS BIGINT), 0),
                         9) AS bin,
                   CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0
                        END AS is_ref
            FROM events),
        counts AS (
            SELECT g, bin,
                   CAST(sum(is_ref) AS BIGINT) AS rn,
                   CAST(sum(1 - is_ref) AS BIGINT) AS cn
            FROM base GROUP BY g, bin),
        totals AS (
            SELECT g, CAST(sum(rn) AS BIGINT) AS n_ref,
                   CAST(sum(cn) AS BIGINT) AS n_cur
            FROM counts GROUP BY g)
        SELECT c.g AS event_type, t.n_ref, t.n_cur,
               CAST(sum(CASE WHEN rn > 0 AND cn > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_bins_used,
               round(sum(CASE WHEN rn > 0 AND cn > 0
                              THEN (cn / CAST(t.n_cur AS DOUBLE)
                                    - rn / CAST(t.n_ref AS DOUBLE))
                                   * ln((cn / CAST(t.n_cur AS DOUBLE))
                                        / (rn / CAST(t.n_ref AS DOUBLE)))
                              ELSE 0.0 END), 6) AS psi,
               round(sum(CASE WHEN rn > 0 AND cn > 0 THEN rn ELSE 0 END)
                     / CAST(t.n_ref AS DOUBLE), 6) AS ref_cover,
               round(sum(CASE WHEN rn > 0 AND cn > 0 THEN cn ELSE 0 END)
                     / CAST(t.n_cur AS DOUBLE), 6) AS cur_cover
        FROM counts c JOIN totals t USING (g)
        GROUP BY c.g, t.n_ref, t.n_cur
        ORDER BY event_type
    """
    out["ks_drift"] = """
        WITH base AS (
            SELECT event_type AS g, value AS v,
                   CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0
                        END AS is_ref
            FROM events),
        counts AS (
            SELECT g, v,
                   CAST(sum(is_ref) AS BIGINT) AS rn,
                   CAST(sum(1 - is_ref) AS BIGINT) AS cn
            FROM base GROUP BY g, v),
        totals AS (
            SELECT g, CAST(sum(rn) AS BIGINT) AS n_ref,
                   CAST(sum(cn) AS BIGINT) AS n_cur
            FROM counts GROUP BY g),
        ecdf AS (
            SELECT c.g, c.v, t.n_ref, t.n_cur,
                   abs(sum(rn) OVER w / CAST(t.n_ref AS DOUBLE)
                       - sum(cn) OVER w / CAST(t.n_cur AS DOUBLE)) AS d
            FROM counts c JOIN totals t USING (g)
            WINDOW w AS (PARTITION BY c.g ORDER BY c.v
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW)),
        pick AS (
            SELECT g, v, n_ref, n_cur, d,
                   row_number() OVER (PARTITION BY g
                                      ORDER BY d DESC, v ASC) AS rnk
            FROM ecdf)
        SELECT g AS event_type, n_ref, n_cur,
               round(d, 6) AS ks_d, v AS ks_at
        FROM pick WHERE rnk = 1 ORDER BY event_type
    """
    out["jsd_sources"] = """
        WITH tok AS (
            SELECT source AS g,
                   unnest(list_filter(
                       string_split_regex(
                           lower(trim(coalesce(text, ''))), '\\s+'),
                       s -> len(s) > 0)) AS w
            FROM documents),
        gw AS (SELECT g, w, CAST(count(*) AS BIGINT) AS c
               FROM tok GROUP BY g, w),
        wc AS (SELECT w, CAST(sum(c) AS BIGINT) AS cw FROM gw GROUP BY w),
        gt AS (SELECT g, CAST(sum(c) AS BIGINT) AS tg FROM gw GROUP BY g),
        grand AS (SELECT CAST(sum(tg) AS BIGINT) AS tt FROM gt),
        j AS (
            SELECT gw.g, gw.c, wc.cw, gt.tg, grand.tt,
                   gw.c / CAST(gt.tg AS DOUBLE) AS p,
                   (wc.cw - gw.c)
                       / CAST(grand.tt - gt.tg AS DOUBLE) AS q
            FROM gw JOIN wc USING (w) JOIN gt USING (g)
            CROSS JOIN grand),
        s AS (
            SELECT g, tg,
                   CAST(count(*) AS BIGINT) AS vocab,
                   sum(0.5 * p * ln(p / ((p + q) / 2))
                       + CASE WHEN cw - c > 0
                              THEN 0.5 * q * ln(q / ((p + q) / 2))
                              ELSE 0.0 END) AS inner_sum,
                   sum(q) AS qmass
            FROM j GROUP BY g, tg)
        SELECT g AS source, tg AS n_tokens, vocab,
               round(inner_sum + 0.5 * ln(2) * (1.0 - qmass), 6) AS jsd,
               round((inner_sum + 0.5 * ln(2) * (1.0 - qmass)) / ln(2),
                     6) AS jsd_norm
        FROM s ORDER BY source
    """
    out["neyman_alloc"] = """
        WITH per AS (
            SELECT source AS g,
                   CAST(count(*) AS BIGINT) AS nh,
                   CAST(sum(n_chars) AS BIGINT) AS s1,
                   CAST(sum(n_chars * n_chars) AS BIGINT) AS s2
            FROM documents GROUP BY source),
        v AS (
            SELECT g, nh,
                   sqrt(greatest(
                       (CAST(s2 AS DOUBLE)
                        - CAST(s1 AS DOUBLE) * s1 / nh) / nh,
                       0.0)) AS sh
            FROM per),
        w AS (SELECT g, nh, sh, nh * sh AS wh FROM v),
        tot AS (SELECT sum(wh) AS tw, CAST(sum(nh) AS BIGINT) AS tn
                FROM w),
        raw AS (
            SELECT g, nh, sh,
                   CASE WHEN t.tw > 0
                        THEN 1000.0 * wh / t.tw
                        ELSE 1000.0 * nh / CAST(t.tn AS DOUBLE)
                   END AS r
            FROM w, tot t),
        f AS (
            SELECT g, nh, round(sh, 6) AS sh,
                   CAST(floor(r) AS BIGINT) AS base,
                   r - floor(r) AS rem
            FROM raw),
        lo AS (SELECT CAST(1000 - sum(base) AS BIGINT) AS extra FROM f),
        rk AS (
            SELECT f.*, l.extra,
                   row_number() OVER (ORDER BY rem DESC, g ASC) AS rnk
            FROM f, lo l)
        SELECT g AS source, nh AS n_rows, sh,
               CAST(base + CASE WHEN rnk <= extra THEN 1 ELSE 0 END
                    AS BIGINT) AS alloc
        FROM rk ORDER BY source
    """
    out["bootstrap_ci"] = """
        WITH reps AS (
            SELECT source AS g, n_chars AS v, doc_id,
                   unnest(range(64)) AS r
            FROM documents),
        wts AS (
            SELECT g, r, v,
                   (('0x' || substr(md5(doc_id::VARCHAR || ':'
                                        || r::VARCHAR), 1, 15))::BIGINT
                    % 2) * 2 AS w
            FROM reps),
        rm AS (
            SELECT g, r,
                   CAST(sum(w * v) AS BIGINT) AS sv,
                   CAST(sum(w) AS BIGINT) AS sw
            FROM wts GROUP BY g, r),
        mb AS (
            SELECT g, r, sv / CAST(sw AS DOUBLE) AS mb
            FROM rm WHERE sw > 0),
        rk AS (
            SELECT g, mb,
                   row_number() OVER (PARTITION BY g
                                      ORDER BY mb ASC, r ASC) AS rnk,
                   CAST(count(*) OVER (PARTITION BY g)
                        AS BIGINT) AS n_boot
            FROM mb),
        bands AS (
            SELECT g, n_boot,
                   round(min(CASE WHEN rnk = greatest(
                                 CAST(ceil(n_boot / 32.0) AS BIGINT), 1)
                             THEN mb END), 6) AS ci_lo,
                   round(min(CASE WHEN rnk = CAST(
                                 ceil(n_boot * 31 / 32.0) AS BIGINT)
                             THEN mb END), 6) AS ci_hi
            FROM rk GROUP BY g, n_boot),
        pt AS (
            SELECT source AS g, CAST(count(*) AS BIGINT) AS n,
                   round(CAST(sum(n_chars) AS BIGINT)
                         / CAST(count(*) AS DOUBLE), 6) AS mean
            FROM documents GROUP BY source)
        SELECT pt.g AS source, pt.n, pt.mean, b.n_boot, b.ci_lo, b.ci_hi
        FROM pt JOIN bands b USING (g) ORDER BY source
    """
    zterms = " | ".join(
        f"(((a >> {i}) & 1) << {2 * i + 1}) | (((b >> {i}) & 1) << {2 * i})"
        for i in range(16)
    )
    out["zorder_layout"] = f"""
        WITH k AS (
            SELECT doc_id,
                   least(greatest(n_chars, 0), 65535) AS a,
                   least(greatest(
                       ('0x' || substr(md5(source), 1, 4))::BIGINT, 0),
                       65535) AS b
            FROM documents),
        z AS (SELECT doc_id, {zterms} AS zval FROM k)
        SELECT doc_id, zval,
               CAST(ntile(16) OVER (ORDER BY zval, doc_id) AS BIGINT)
                   AS bucket
        FROM z ORDER BY doc_id
    """
    out["fuzzy_pairs"] = """
        WITH base AS (
            SELECT doc_id AS id,
                   trim(regexp_replace(lower(coalesce(text, '')),
                                       '\\s+', ' ', 'g')) AS t
            FROM documents),
        k AS (
            SELECT id, t, len(t) AS ln,
                   substr(t, 1, 8) AS pk,
                   substr(reverse(t), 1, 8) AS sk
            FROM base WHERE len(t) > 0),
        ok_pk AS (SELECT pk FROM k GROUP BY pk HAVING count(*) <= 200),
        ok_sk AS (SELECT sk FROM k GROUP BY sk HAVING count(*) <= 200),
        c AS (
            SELECT a.id AS id_a, b.id AS id_b, a.t AS t_a, b.t AS t_b,
                   a.ln AS ln_a, b.ln AS ln_b
            FROM k a JOIN k b ON a.pk = b.pk AND a.id < b.id
                      AND abs(a.ln - b.ln) <= 6
            JOIN ok_pk o ON a.pk = o.pk
            UNION
            SELECT a.id, b.id, a.t, b.t, a.ln, b.ln
            FROM k a JOIN k b ON a.sk = b.sk AND a.id < b.id
                      AND abs(a.ln - b.ln) <= 6
            JOIN ok_sk o ON a.sk = o.sk)
        SELECT id_a, id_b,
               CAST(levenshtein(t_a, t_b) AS BIGINT) AS dist,
               round(1.0 - levenshtein(t_a, t_b)
                           / CAST(greatest(ln_a, ln_b) AS DOUBLE),
                     6) AS sim
        FROM c WHERE levenshtein(t_a, t_b) <= 6
        ORDER BY id_a, id_b
    """
    out["cusum_shift"] = """
        WITH daily AS (
            SELECT event_type AS g, CAST(date_trunc('day', ts) AS DATE)
                       AS d,
                   avg(value) AS x
            FROM events GROUP BY 1, 2),
        scored AS (
            SELECT g, d, x,
                   CAST(count(*) OVER (PARTITION BY g) AS BIGINT)
                       AS n_days,
                   sum(x) OVER w - row_number() OVER (PARTITION BY g
                                                      ORDER BY d)
                       * (sum(x) OVER (PARTITION BY g)
                          / count(*) OVER (PARTITION BY g)) AS s,
                   sum(x) OVER w AS cx,
                   CAST(row_number() OVER (PARTITION BY g ORDER BY d)
                        AS BIGINT) AS i,
                   sum(x) OVER (PARTITION BY g) AS tx
            FROM daily
            WINDOW w AS (PARTITION BY g ORDER BY d
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW)),
        pick AS (
            SELECT *, row_number() OVER (PARTITION BY g
                                         ORDER BY abs(s) DESC, d ASC)
                          AS rnk
            FROM scored)
        SELECT g AS event_type, n_days,
               strftime(d, '%Y-%m-%d') AS shift_day,
               round(abs(s), 6) AS cusum_max,
               round(cx / i, 6) AS mean_before,
               CASE WHEN n_days > i
                    THEN round((tx - cx) / CAST(n_days - i AS DOUBLE), 6)
                    ELSE 0.0 END AS mean_after
        FROM pick WHERE rnk = 1 ORDER BY event_type
    """
    out["cms_topk"] = """
        WITH tok AS (
            SELECT unnest(list_filter(
                       string_split_regex(
                           lower(trim(coalesce(text, ''))), '\\s+'),
                       s -> len(s) > 0)) AS tok
            FROM documents),
        vocab AS (
            SELECT tok, CAST(count(*) AS BIGINT) AS exact
            FROM tok GROUP BY tok),
        h AS (
            SELECT tok, exact, j,
                   ('0x' || substr(md5(j::VARCHAR || ':' || tok), 1, 15)
                       )::BIGINT % 256 AS bucket
            FROM vocab, (SELECT unnest(range(4)) AS j)),
        sketch AS (
            SELECT j, bucket, CAST(sum(exact) AS BIGINT) AS cell
            FROM h GROUP BY j, bucket),
        top AS (
            SELECT tok, exact,
                   row_number() OVER (ORDER BY exact DESC, tok ASC)
                       AS rnk
            FROM vocab QUALIFY rnk <= 20),
        est AS (
            SELECT t.tok, t.exact,
                   CAST(min(s.cell) AS BIGINT) AS est
            FROM top t,
                 (SELECT unnest(range(4)) AS j) r
            JOIN sketch s
              ON s.j = r.j
             AND s.bucket = ('0x' || substr(
                     md5(r.j::VARCHAR || ':' || t.tok), 1, 15))::BIGINT
                 % 256
            GROUP BY t.tok, t.exact)
        SELECT tok, exact, est,
               CAST(est - exact AS BIGINT) AS overestimate
        FROM est ORDER BY exact DESC, tok ASC
    """
    out["hll_audit"] = """
        WITH h AS (
            SELECT event_type AS g, user_id,
                   ('0x' || substr(md5(user_id::VARCHAR), 1, 15)
                       )::BIGINT AS hv
            FROM events),
        r AS (SELECT g, hv % 64 AS reg, hv >> 6 AS w FROM h),
        rk AS (
            SELECT g, reg,
                   max(CASE WHEN w > 0 THEN 55 - len(bin(w))
                            ELSE 55 END) AS mrank
            FROM r GROUP BY g, reg),
        per AS (
            SELECT g, sum(pow(2.0::DOUBLE, -mrank)) AS z,
                   CAST(count(*) AS BIGINT) AS nonzero
            FROM rk GROUP BY g),
        exact AS (
            SELECT event_type AS g,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
            FROM events GROUP BY event_type),
        calc AS (
            SELECT p.g, e.n_exact,
                   2904.064::DOUBLE
                       / (p.z + (64 - p.nonzero)) AS raw,
                   CAST(64 - p.nonzero AS DOUBLE) AS zeros,
                   CAST(64 - p.nonzero AS BIGINT) AS n_zero_regs
            FROM per p JOIN exact e USING (g)),
        est AS (
            SELECT g, n_exact, n_zero_regs,
                   (raw <= 160.0::DOUBLE AND zeros > 0)
                       AS linear_counting,
                   CASE WHEN raw <= 160.0::DOUBLE AND zeros > 0
                        THEN 64.0::DOUBLE * ln(64.0::DOUBLE / zeros)
                        ELSE raw END AS e
            FROM calc)
        SELECT g AS event_type, n_exact,
               round(e, 6) AS hll_est,
               round(abs(e - n_exact) / n_exact, 6) AS rel_err,
               n_zero_regs, linear_counting
        FROM est ORDER BY event_type
    """
    out["kmeans_clusters"] = """
        WITH dims AS (
            SELECT vec_id AS id,
                   generate_subscripts(embedding, 1) - 1 AS dim,
                   unnest(embedding)::DOUBLE AS v
            FROM embeddings),
        seeds AS (
            SELECT vec_id AS id,
                   row_number() OVER (ORDER BY vec_id) - 1 AS cluster
            FROM embeddings QUALIFY cluster < 4),
        c0 AS (
            SELECT s.cluster, d.dim, round(d.v, 6) AS c
            FROM dims d JOIN seeds s USING (id)),
        d1 AS (
            SELECT d.id, c.cluster,
                   round(sum((d.v - c.c) * (d.v - c.c)), 6) AS d2
            FROM dims d JOIN c0 c USING (dim)
            GROUP BY d.id, c.cluster),
        a1 AS (
            SELECT id, cluster FROM (
                SELECT id, cluster,
                       row_number() OVER (PARTITION BY id
                                          ORDER BY d2, cluster) AS rnk
                FROM d1) WHERE rnk = 1),
        c1 AS (
            SELECT a.cluster, d.dim, round(avg(d.v), 6) AS c
            FROM dims d JOIN a1 a USING (id)
            GROUP BY a.cluster, d.dim),
        d2t AS (
            SELECT d.id, c.cluster,
                   round(sum((d.v - c.c) * (d.v - c.c)), 6) AS d2
            FROM dims d JOIN c1 c USING (dim)
            GROUP BY d.id, c.cluster),
        a2 AS (
            SELECT id, cluster, d2 FROM (
                SELECT id, cluster, d2,
                       row_number() OVER (PARTITION BY id
                                          ORDER BY d2, cluster) AS rnk
                FROM d2t) WHERE rnk = 1)
        SELECT id AS vec_id, CAST(cluster AS BIGINT) AS cluster,
               round(d2, 4) AS d2
        FROM a2 ORDER BY vec_id
    """
    out["quantile_norm"] = """
        WITH ranked AS (
            SELECT doc_id, source, n_chars,
                   CAST(row_number() OVER (PARTITION BY source
                                           ORDER BY n_chars, doc_id)
                        AS BIGINT) AS r,
                   CAST(count(*) OVER (PARTITION BY source)
                        AS BIGINT) AS n
            FROM documents),
        ref AS (
            SELECT r AS idx, n_chars AS mapped, n AS nref
            FROM ranked WHERE source = 'src0'),
        nr AS (SELECT max(nref) AS nref FROM ref)
        SELECT k.doc_id, k.source, k.n_chars,
               round(k.r / CAST(k.n AS DOUBLE), 6) AS q,
               f.mapped
        FROM ranked k, nr
        JOIN ref f
          ON f.idx = (k.r * nr.nref + k.n - 1) // k.n
        ORDER BY k.doc_id
    """
    out["burstiness"] = """
        WITH tok AS (
            SELECT doc_id AS id,
                   unnest(list_filter(
                       string_split_regex(
                           lower(trim(coalesce(text, ''))), '\\s+'),
                       s -> len(s) > 0)) AS tok
            FROM documents),
        per_doc AS (
            SELECT tok, id, CAST(count(*) AS BIGINT) AS c
            FROM tok GROUP BY tok, id),
        stats AS (
            SELECT tok,
                   CAST(count(*) AS BIGINT) AS df,
                   CAST(sum(c) AS BIGINT) AS s1,
                   CAST(sum(c * c) AS BIGINT) AS s2
            FROM per_doc GROUP BY tok),
        nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
        SELECT tok, df, s1 AS total,
               round((n * s2 - s1 * s1)
                     / CAST(n * s1 AS DOUBLE), 6) AS fano
        FROM stats, nd
        WHERE df >= 20
        ORDER BY tok
    """
    out["trimmed_mean"] = """
        WITH ranked AS (
            SELECT source, CAST(n_chars AS BIGINT) AS v,
                   CAST(row_number() OVER (PARTITION BY source
                                           ORDER BY n_chars, doc_id)
                        AS BIGINT) AS r,
                   CAST(count(*) OVER (PARTITION BY source)
                        AS BIGINT) AS n
            FROM documents),
        t AS (SELECT *, CAST(floor(n * 0.125) AS BIGINT) AS k
              FROM ranked),
        agg AS (
            SELECT source,
                   max(n) AS n,
                   max(k) AS k_trimmed,
                   sum(CASE WHEN r > k AND r <= n - k THEN v END) AS s,
                   min(CASE WHEN r > k AND r <= n - k THEN v END)
                       AS lo,
                   max(CASE WHEN r > k AND r <= n - k THEN v END)
                       AS hi,
                   avg(v) AS mean
            FROM t GROUP BY source)
        SELECT source, n, k_trimmed,
               round(mean, 6) AS mean,
               round(CAST(s AS DOUBLE) / (n - 2 * k_trimmed), 6)
                   AS trimmed_mean,
               round((s + k_trimmed * lo + k_trimmed * hi)
                     / CAST(n AS DOUBLE), 6) AS winsorized_mean
        FROM agg ORDER BY source
    """
    out["rbo_rankings"] = """
        WITH tok AS (
            SELECT doc_id AS id,
                   unnest(list_filter(
                       string_split_regex(
                           lower(trim(coalesce(text, ''))), '\\s+'),
                       s -> len(s) > 0)) AS tok
            FROM documents),
        counts AS (
            SELECT tok, CAST(count(*) AS BIGINT) AS freq,
                   CAST(count(DISTINCT id) AS BIGINT) AS df
            FROM tok GROUP BY tok),
        ranked AS (
            SELECT tok,
                   row_number() OVER (ORDER BY freq DESC, tok ASC)
                       AS ra,
                   row_number() OVER (ORDER BY df DESC, tok ASC)
                       AS rb
            FROM counts),
        inter AS (
            SELECT tok, greatest(ra, rb) AS enter
            FROM ranked WHERE ra <= 50 AND rb <= 50),
        depths AS (SELECT unnest(range(1, 51)) AS d),
        per AS (
            SELECT d, CAST(count(tok) AS BIGINT) AS ov
            FROM depths LEFT JOIN inter ON enter <= d
            GROUP BY d),
        agg AS (
            SELECT sum(pow(0.9::DOUBLE, d) * ov / d) AS s,
                   max(CASE WHEN d = 50 THEN ov END) AS ovk
            FROM per)
        SELECT CAST(50 AS BIGINT) AS k,
               round(0.11111111111111108::DOUBLE * s, 6) AS rbo,
               CAST(ovk AS BIGINT) AS overlap_at_k,
               round(ovk / (2.0::DOUBLE * 50 - ovk), 6) AS jaccard_at_k
        FROM agg
    """
    out["stream_drift"] = """
        WITH base AS (
            SELECT least(greatest(
                       CAST(floor(value / 50.0) AS BIGINT), 0), 9)
                       AS bin,
                   CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0
                        END AS is_ref
            FROM events),
        counts AS (
            SELECT bin,
                   CAST(sum(is_ref) AS BIGINT) AS rn,
                   CAST(sum(1 - is_ref) AS BIGINT) AS cn
            FROM base GROUP BY bin),
        tot AS (
            SELECT CAST(sum(rn) AS BIGINT) AS n_ref,
                   CAST(sum(cn) AS BIGINT) AS n_cur
            FROM counts)
        SELECT t.n_cur AS n_rows,
               round(sum(CASE WHEN rn > 0 AND cn > 0
                              THEN (cn / CAST(t.n_cur AS DOUBLE)
                                    - rn / CAST(t.n_ref AS DOUBLE))
                                   * ln((cn / CAST(t.n_cur AS DOUBLE))
                                        / (rn / CAST(t.n_ref AS DOUBLE)))
                              ELSE 0.0 END), 6) AS psi,
               round(sum(CASE WHEN rn > 0 AND cn > 0 THEN cn ELSE 0 END)
                     / CAST(t.n_cur AS DOUBLE), 6) AS cur_cover
        FROM counts, tot t
        GROUP BY t.n_cur
    """
    out["oov_rate"] = """
        WITH tok AS (
            SELECT source AS g,
                   unnest(list_filter(
                       string_split_regex(
                           lower(trim(coalesce(text, ''))), '\\s+'),
                       s -> len(s) > 0)) AS tok
            FROM documents),
        gw AS (SELECT g, tok, CAST(count(*) AS BIGINT) AS c
               FROM tok GROUP BY g, tok),
        vocab AS (
            SELECT tok FROM (
                SELECT tok,
                       row_number() OVER (ORDER BY sum(c) DESC, tok ASC)
                           AS rnk
                FROM gw GROUP BY tok) WHERE rnk <= 100),
        flagged AS (
            SELECT gw.g, gw.c,
                   CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
            FROM gw LEFT JOIN vocab v ON gw.tok = v.tok)
        SELECT g AS source,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN oov = 1 THEN c ELSE 0 END) AS BIGINT)
                   AS n_oov,
               round(sum(CASE WHEN oov = 1 THEN c ELSE 0 END)
                     / CAST(sum(c) AS DOUBLE), 6) AS oov_share,
               CAST(count(*) AS BIGINT) AS n_types,
               CAST(sum(oov) AS BIGINT) AS n_oov_types,
               round(sum(oov) / CAST(count(*) AS DOUBLE), 6)
                   AS oov_type_share
        FROM flagged GROUP BY g ORDER BY source
    """
    out["kmeans_quality"] = """
        WITH dims AS (
            SELECT vec_id AS id,
                   generate_subscripts(embedding, 1) - 1 AS dim,
                   unnest(embedding)::DOUBLE AS v
            FROM embeddings),
        seeds AS (
            SELECT vec_id AS id,
                   row_number() OVER (ORDER BY vec_id) - 1 AS cluster
            FROM embeddings QUALIFY cluster < 4),
        c0 AS (
            SELECT s.cluster, d.dim, round(d.v, 6) AS c
            FROM dims d JOIN seeds s USING (id)),
        d1 AS (
            SELECT d.id, c.cluster,
                   round(sum((d.v - c.c) * (d.v - c.c)), 6) AS d2
            FROM dims d JOIN c0 c USING (dim)
            GROUP BY d.id, c.cluster),
        a1 AS (
            SELECT id, cluster FROM (
                SELECT id, cluster,
                       row_number() OVER (PARTITION BY id
                                          ORDER BY d2, cluster) AS rnk
                FROM d1) WHERE rnk = 1),
        c1 AS (
            SELECT a.cluster, d.dim, round(avg(d.v), 6) AS c
            FROM dims d JOIN a1 a USING (id)
            GROUP BY a.cluster, d.dim),
        d2t AS (
            SELECT d.id, c.cluster,
                   round(sum((d.v - c.c) * (d.v - c.c)), 6) AS d2
            FROM dims d JOIN c1 c USING (dim)
            GROUP BY d.id, c.cluster),
        a2 AS (
            SELECT id, cluster, round(d2, 4) AS d2 FROM (
                SELECT id, cluster, d2,
                       row_number() OVER (PARTITION BY id
                                          ORDER BY d2, cluster) AS rnk
                FROM d2t) WHERE rnk = 1),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM a2)
        SELECT CAST(cluster AS BIGINT) AS cluster,
               CAST(count(*) AS BIGINT) AS n,
               round(count(*) / CAST(t.n_total AS DOUBLE), 6) AS share,
               round(sum(d2), 4) AS inertia,
               round(avg(d2), 6) AS mean_d2
        FROM a2, tot t
        GROUP BY cluster, t.n_total
        ORDER BY cluster
    """
    out["label_centroid_sim"] = """
        WITH dims AS (
            SELECT label AS lab,
                   generate_subscripts(embedding, 1) - 1 AS dim,
                   unnest(embedding)::DOUBLE AS v
            FROM embeddings),
        cent AS (
            SELECT lab, dim, round(avg(v), 6) AS c
            FROM dims GROUP BY lab, dim),
        pairs AS (
            SELECT a.lab AS lab_a, b.lab AS lab_b,
                   sum(a.c * b.c) AS dot,
                   sum(a.c * a.c) AS na,
                   sum(b.c * b.c) AS nb
            FROM cent a JOIN cent b ON a.dim = b.dim AND a.lab < b.lab
            GROUP BY a.lab, b.lab)
        SELECT lab_a, lab_b,
               round(dot / sqrt(na * nb), 6) AS cosine
        FROM pairs ORDER BY lab_a, lab_b
    """
    out["hill_diversity"] = """
        WITH tok AS (
            SELECT source AS g,
                   unnest(list_filter(
                       string_split_regex(
                           lower(trim(coalesce(text, ''))), '\\s+'),
                       s -> len(s) > 0)) AS tok
            FROM documents),
        gw AS (SELECT g, tok, CAST(count(*) AS BIGINT) AS c
               FROM tok GROUP BY g, tok),
        per AS (
            SELECT g,
                   CAST(sum(c) AS BIGINT) AS t,
                   CAST(count(*) AS BIGINT) AS hill0,
                   CAST(sum(c * c) AS BIGINT) AS s2,
                   sum(c * ln(c)) AS clnc
            FROM gw GROUP BY g)
        SELECT g AS source, t AS n_tokens, hill0,
               round(exp(ln(t) - clnc / t), 6) AS hill1,
               round((t * t) / CAST(s2 AS DOUBLE), 6) AS hill2
        FROM per ORDER BY source
    """
    out["cooc_triangles"] = """
        WITH dt AS (
            SELECT DISTINCT doc_id AS id,
                   unnest(list_filter(
                       string_split_regex(
                           lower(trim(coalesce(text, ''))), '\\s+'),
                       s -> len(s) > 0)) AS tok
            FROM documents),
        top AS (
            SELECT tok FROM (
                SELECT tok,
                       row_number() OVER (
                           ORDER BY count(*) DESC, tok ASC) AS rnk
                FROM dt GROUP BY tok) WHERE rnk <= 100),
        capped AS (SELECT dt.id, dt.tok FROM dt JOIN top USING (tok)),
        edges AS (
            SELECT a.tok AS ta, b.tok AS tb
            FROM capped a JOIN capped b
              ON a.id = b.id AND a.tok < b.tok
            GROUP BY a.tok, b.tok
            HAVING count(*) >= 3),
        tri AS (
            SELECT CAST(count(*) AS BIGINT) AS n_triangles
            FROM edges e1
            JOIN edges e2 ON e1.tb = e2.ta
            JOIN edges e3 ON e3.ta = e1.ta AND e3.tb = e2.tb),
        deg AS (
            SELECT tok, CAST(count(*) AS BIGINT) AS d FROM (
                SELECT ta AS tok FROM edges
                UNION ALL SELECT tb FROM edges) GROUP BY tok),
        stats AS (
            SELECT CAST(count(*) AS BIGINT) AS n_nodes,
                   CAST(sum(d * (d - 1)) / 2 AS BIGINT) AS triads
            FROM deg),
        ec AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM edges)
        SELECT s.n_nodes, ec.n_edges, tri.n_triangles,
               CASE WHEN s.triads > 0
                    THEN round(3.0 * tri.n_triangles
                               / CAST(s.triads AS DOUBLE), 6)
                    ELSE 0.0 END AS clustering_coeff
        FROM stats s, ec, tri
    """
    out["drop_waterfall"] = r"""
        WITH fl AS (
            SELECT doc_id,
                   CASE WHEN text IS NULL OR regexp_matches(text,
                            '(?i)^[\s\x0b]*(none|null|nan)?[\s\x0b]*$')
                        THEN 1 ELSE 0 END AS r_nanlike,
                   CASE WHEN length(coalesce(text, '')) < 50
                        THEN 1 ELSE 0 END AS r_short,
                   CASE WHEN length(coalesce(text, '')) = 0
                             OR length(regexp_replace(coalesce(text, ''),
                                                      '[^\p{L}]', '', 'g'))
                                / CAST(length(coalesce(text, '')) AS DOUBLE)
                                < 0.6
                        THEN 1 ELSE 0 END AS r_alpha,
                   CASE WHEN length(regexp_replace(coalesce(text, ''),
                                                   '[^\p{L}]', '', 'g')) > 0
                             AND length(regexp_replace(coalesce(text, ''),
                                                       '[^\p{Lu}]', '', 'g'))
                                 / CAST(length(regexp_replace(
                                       coalesce(text, ''), '[^\p{L}]', '',
                                       'g')) AS DOUBLE) > 0.5
                        THEN 1 ELSE 0 END AS r_caps,
                   CASE WHEN length(coalesce(text, '')) > 0
                             AND length(regexp_replace(coalesce(text, ''),
                                                       '[^0-9]', '', 'g'))
                                 / CAST(length(coalesce(text, '')) AS DOUBLE)
                                 > 0.2
                        THEN 1 ELSE 0 END AS r_digit
            FROM documents),
        lab AS (
            SELECT CASE WHEN r_nanlike = 1 THEN 'nanlike'
                        WHEN r_short = 1 THEN 'short'
                        WHEN r_alpha = 1 THEN 'alpha'
                        WHEN r_caps = 1 THEN 'caps'
                        WHEN r_digit = 1 THEN 'digit'
                        ELSE '_kept' END AS first_rule,
                   r_nanlike, r_short, r_alpha, r_caps, r_digit
            FROM fl),
        tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(r_nanlike) AS BIGINT) AS f_nanlike,
                   CAST(sum(r_short) AS BIGINT) AS f_short,
                   CAST(sum(r_alpha) AS BIGINT) AS f_alpha,
                   CAST(sum(r_caps) AS BIGINT) AS f_caps,
                   CAST(sum(r_digit) AS BIGINT) AS f_digit
            FROM lab),
        firsts AS (
            SELECT first_rule, CAST(count(*) AS BIGINT) AS n_first
            FROM lab GROUP BY first_rule),
        chain AS (
            SELECT * FROM (VALUES
                (1, 'nanlike'), (2, 'short'), (3, 'alpha'),
                (4, 'caps'), (5, 'digit')) AS v(stage, rule)),
        built AS (
            SELECT c.stage, c.rule,
                   coalesce(f.n_first, 0) AS n_first,
                   CASE c.rule WHEN 'nanlike' THEN t.f_nanlike
                               WHEN 'short' THEN t.f_short
                               WHEN 'alpha' THEN t.f_alpha
                               WHEN 'caps' THEN t.f_caps
                               ELSE t.f_digit END AS n_fail,
                   t.n_docs
            FROM chain c
            LEFT JOIN firsts f ON f.first_rule = c.rule
            CROSS JOIN tot t)
        SELECT CAST(stage AS INTEGER) AS stage, rule,
               CAST(n_first AS BIGINT) AS n_first,
               CAST(n_fail AS BIGINT) AS n_fail,
               CAST(sum(n_first) OVER w AS BIGINT) AS cum_dropped,
               CAST(n_docs - sum(n_first) OVER w AS BIGINT)
                   AS n_remaining,
               round(n_first / CAST(n_docs AS DOUBLE), 6) AS drop_share
        FROM built
        WINDOW w AS (ORDER BY stage ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
        ORDER BY stage
    """
    out["wasserstein_drift"] = """
        WITH base AS (
            SELECT event_type AS g, value AS v,
                   CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0
                        END AS is_ref
            FROM events),
        counts AS (
            SELECT g, v,
                   CAST(sum(is_ref) AS BIGINT) AS rn,
                   CAST(sum(1 - is_ref) AS BIGINT) AS cn
            FROM base GROUP BY g, v),
        totals AS (
            SELECT g, CAST(sum(rn) AS BIGINT) AS n_ref,
                   CAST(sum(cn) AS BIGINT) AS n_cur
            FROM counts GROUP BY g),
        steps AS (
            SELECT c.g, t.n_ref, t.n_cur,
                   abs(sum(rn) OVER w / CAST(t.n_ref AS DOUBLE)
                       - sum(cn) OVER w / CAST(t.n_cur AS DOUBLE))
                   * (lead(c.v) OVER (PARTITION BY c.g ORDER BY c.v)
                      - c.v) AS area
            FROM counts c JOIN totals t USING (g)
            WINDOW w AS (PARTITION BY c.g ORDER BY c.v
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW))
        SELECT g AS event_type, n_ref, n_cur,
               CASE WHEN n_ref > 0 AND n_cur > 0
                    THEN round(coalesce(sum(area), 0.0), 6) END AS w1
        FROM steps GROUP BY g, n_ref, n_cur
        ORDER BY event_type
    """
    out["theil_decomp"] = """
        WITH per AS (
            SELECT source AS g,
                   CAST(sum(CASE WHEN n_chars > 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_g,
                   sum(CASE WHEN n_chars > 0
                            THEN CAST(n_chars AS DOUBLE) END) AS sx_g,
                   sum(CASE WHEN n_chars > 0
                            THEN n_chars * ln(CAST(n_chars AS DOUBLE))
                       END) AS sxlnx_g,
                   CAST(sum(CASE WHEN n_chars > 0 THEN 0 ELSE 1 END)
                        AS BIGINT) AS n_excl_g
            FROM documents GROUP BY source),
        g AS (
            SELECT CAST(sum(n_g) AS BIGINT) AS n,
                   sum(sx_g) AS total,
                   sum(sxlnx_g) AS sxlnx,
                   sum(sx_g * (sxlnx_g / sx_g - ln(sx_g / n_g)))
                       AS within_num,
                   sum(sx_g * ln(sx_g / n_g)) AS btw_num,
                   CAST(sum(n_excl_g) AS BIGINT) AS n_excluded
            FROM per)
        SELECT n, round(total, 6) AS total,
               round(sxlnx / total - ln(total / n), 6) AS theil_total,
               round(btw_num / total - ln(total / n), 6)
                   AS theil_between,
               round(within_num / total, 6) AS theil_within,
               round((btw_num / total - ln(total / n))
                     / greatest(sxlnx / total - ln(total / n), 1e-300),
                     6) AS between_share,
               round((sxlnx / total - ln(total / n))
                     - (btw_num / total - ln(total / n))
                     - within_num / total, 6) AS residual,
               n_excluded
        FROM g
    """
    out["k_anonymity"] = """
        WITH cls AS (
            SELECT lang, source,
                   CAST(floor(n_chars / 100.0) AS BIGINT) AS lb,
                   CAST(count(*) AS BIGINT) AS n
            FROM documents GROUP BY lang, source, lb)
        SELECT CAST(sum(n) AS BIGINT) AS n_rows,
               CAST(count(*) AS BIGINT) AS n_classes,
               CAST(min(n) AS BIGINT) AS min_class,
               CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_violating_classes,
               CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
                   AS n_at_risk,
               round(sum(CASE WHEN n < 5 THEN n ELSE 0 END)
                     / CAST(sum(n) AS DOUBLE), 6) AS at_risk_share,
               CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_singletons
        FROM cls
    """
    out["l_diversity"] = """
        WITH pv AS (
            SELECT source,
                   CAST(floor(n_chars / 200.0) AS BIGINT) AS len_bucket,
                   lang, CAST(count(*) AS BIGINT) AS c
            FROM documents GROUP BY source, len_bucket, lang),
        pc AS (
            SELECT source, len_bucket,
                   CAST(sum(c) AS BIGINT) AS n,
                   CAST(count(*) AS BIGINT) AS n_sensitive,
                   CAST(max(c) AS BIGINT) AS top
            FROM pv GROUP BY source, len_bucket)
        SELECT source, len_bucket, n, n_sensitive,
               round(top / CAST(n AS DOUBLE), 6) AS top_share,
               n >= 5 AS k_anon,
               n_sensitive >= 2 AS l_diverse
        FROM pc
        WHERE NOT (n >= 5) OR NOT (n_sensitive >= 2)
        ORDER BY n, n_sensitive, source, len_bucket
    """
    out["source_overlap"] = r"""
        WITH tok AS (
            SELECT source AS g,
                   unnest(list_filter(
                       string_split_regex(
                           lower(trim(coalesce(text, ''))), '\s+'),
                       s -> len(s) > 0)) AS tok
            FROM documents),
        mem AS (SELECT DISTINCT g, tok FROM tok),
        sizes AS (
            SELECT g, CAST(count(*) AS BIGINT) AS vocab
            FROM mem GROUP BY g),
        inter AS (
            SELECT a.g AS g_a, b.g AS g_b,
                   CAST(count(*) AS BIGINT) AS n_common
            FROM mem a JOIN mem b ON a.tok = b.tok AND a.g < b.g
            GROUP BY a.g, b.g)
        SELECT g_a, g_b, sa.vocab AS v_a, sb.vocab AS v_b, n_common,
               round(n_common
                     / CAST(sa.vocab + sb.vocab - n_common AS DOUBLE),
                     6) AS jaccard,
               round(n_common / CAST(sa.vocab AS DOUBLE), 6) AS c_ab,
               round(n_common / CAST(sb.vocab AS DOUBLE), 6) AS c_ba
        FROM inter
        JOIN sizes sa ON sa.g = g_a
        JOIN sizes sb ON sb.g = g_b
        ORDER BY g_a, g_b
    """
    out["bleu_verify"] = r"""
        WITH d AS (
            SELECT doc_id, lang, source,
                   list_filter(
                       string_split_regex(
                           lower(trim(coalesce(text, ''))), '\s+'),
                       s -> len(s) > 0) AS ws
            FROM documents
            WHERE len(trim(coalesce(text, ''))) > 0),
        pr AS (
            SELECT id_a, id_b FROM (
                SELECT doc_id AS id_a,
                       lead(doc_id) OVER (PARTITION BY lang, source
                                          ORDER BY doc_id) AS id_b
                FROM d)
            WHERE id_b IS NOT NULL AND id_a % 7 = 0),
        st AS (
            SELECT doc_id, ws,
                   unnest(generate_series(1, len(ws) - 1)) AS s
            FROM d),
        grams AS (
            SELECT doc_id AS id, 1 AS n, unnest(ws) AS gram FROM d
            UNION ALL
            SELECT doc_id, 2, ws[s] || ' ' || ws[s + 1] FROM st),
        gcounts AS (
            SELECT id, n, gram, CAST(count(*) AS BIGINT) AS c
            FROM grams GROUP BY id, n, gram),
        lens AS (
            SELECT id, n, CAST(sum(c) AS BIGINT) AS total
            FROM gcounts GROUP BY id, n),
        clip AS (
            SELECT pr.id_a, pr.id_b, ga.n,
                   CAST(sum(least(ga.c, coalesce(gb.c, 0))) AS BIGINT)
                       AS match
            FROM pr
            JOIN gcounts ga ON ga.id = pr.id_a
            LEFT JOIN gcounts gb ON gb.id = pr.id_b AND gb.n = ga.n
                                    AND gb.gram = ga.gram
            GROUP BY pr.id_a, pr.id_b, ga.n),
        pn AS (
            SELECT c.id_a, c.id_b, c.n,
                   c.match / CAST(la.total AS DOUBLE) AS p,
                   la.total AS ta, coalesce(lb.total, 0) AS tb
            FROM clip c
            JOIN lens la ON la.id = c.id_a AND la.n = c.n
            LEFT JOIN lens lb ON lb.id = c.id_b AND lb.n = c.n),
        wide AS (
            SELECT id_a, id_b,
                   coalesce(max(CASE WHEN n = 1 THEN p END), 0.0) AS p1,
                   coalesce(max(CASE WHEN n = 2 THEN p END), 0.0) AS p2,
                   max(CASE WHEN n = 1 THEN ta END) AS len_a,
                   max(CASE WHEN n = 1 THEN tb END) AS len_b
            FROM pn GROUP BY id_a, id_b)
        SELECT id_a, id_b,
               CAST(len_a AS BIGINT) AS len_a,
               CAST(len_b AS BIGINT) AS len_b,
               round(p1, 6) AS p1, round(p2, 6) AS p2,
               round(CASE WHEN p1 > 0 AND p2 > 0
                          THEN (CASE WHEN len_a >= len_b THEN 1.0
                                     ELSE exp(1.0 - len_b
                                              / CAST(len_a AS DOUBLE))
                                END)
                               * exp((ln(p1) + ln(p2)) / 2)
                          ELSE 0.0 END, 6) AS bleu2
        FROM wide ORDER BY id_a, id_b
    """
    out["jaccard_sweep"] = f"""
        WITH pairs AS (
            SELECT * FROM ({_sql_jaccard_exact(threshold=0.5)}) q),
        th AS (SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS threshold),
        hit AS (
            SELECT t.threshold, p.id_a, p.id_b
            FROM pairs p JOIN th t ON p.jaccard >= t.threshold),
        np AS (SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs
               FROM hit GROUP BY threshold),
        nd AS (SELECT threshold, CAST(count(*) AS BIGINT) AS n_docs
               FROM (SELECT DISTINCT threshold,
                            unnest([id_a, id_b]) AS id FROM hit)
               GROUP BY threshold),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus
                FROM {_SQL_PERTURBED_SRC} s(doc_id, text)
                WHERE text IS NOT NULL)
        SELECT th.threshold,
               coalesce(np.n_pairs, 0) AS n_pairs,
               coalesce(nd.n_docs, 0) AS n_docs,
               tot.n_corpus,
               round(coalesce(nd.n_docs, 0)
                     / CAST(tot.n_corpus AS DOUBLE), 6) AS doc_share
        FROM th
        LEFT JOIN np USING (threshold)
        LEFT JOIN nd USING (threshold)
        CROSS JOIN tot
        ORDER BY threshold
    """
    out["union_keeplist"] = f"""
        WITH RECURSIVE
        pop AS ({_SQL_PHASH_POP}),
        pcand AS (
            SELECT a.id AS id_a, b.id AS id_b
            FROM pop a JOIN pop b ON a.id < b.id
            WHERE bit_count(xor(a.code, b.code)) <= 3),
        keyed AS (
            SELECT doc_id AS id, md5(text) AS key FROM documents
            WHERE text IS NOT NULL AND length(trim(text)) > 0),
        canonk AS (SELECT key, min(id) AS canon FROM keyed GROUP BY key),
        ccand AS (
            SELECT c.canon AS id_a, k.id AS id_b
            FROM keyed k JOIN canonk c USING (key)
            WHERE k.id <> c.canon),
        alledges AS (
            SELECT id_a, id_b, 'phash' AS sig FROM pcand
            UNION ALL
            SELECT id_a, id_b, 'caption' FROM ccand),
        e AS (SELECT id_a AS s, id_b AS d FROM alledges
              UNION SELECT id_b, id_a FROM alledges),
        r AS (SELECT s AS id, s AS comp FROM e
              UNION SELECT r.id, e.d FROM r JOIN e ON e.s = r.comp),
        c AS (SELECT id, min(comp) AS component FROM r GROUP BY id),
        touched AS (
            SELECT uid, CAST(count(*) AS BIGINT) AS n_signals
            FROM (SELECT DISTINCT uid, sig FROM (
                      SELECT id_a AS uid, sig FROM alledges
                      UNION ALL
                      SELECT id_b, sig FROM alledges))
            GROUP BY uid)
        SELECT pop.id,
               coalesce(c.component, pop.id) AS component,
               coalesce(c.component, pop.id) = pop.id AS keep,
               coalesce(t.n_signals, 0) AS n_signals
        FROM pop
        LEFT JOIN c ON c.id = pop.id
        LEFT JOIN touched t ON t.uid = pop.id
        ORDER BY pop.id
    """
    out["dedup_by_source"] = """
        WITH keyed AS (
            SELECT doc_id AS id, source AS g,
                   CASE WHEN text IS NOT NULL
                             AND length(trim(text)) > 0
                        THEN md5(text) END AS key
            FROM documents),
        canon AS (
            SELECT key, min(id) AS canon_id FROM keyed
            WHERE key IS NOT NULL GROUP BY key),
        fl AS (
            SELECT g,
                   CASE WHEN k.key IS NULL THEN 1 ELSE 0 END AS is_null,
                   CASE WHEN k.key IS NOT NULL AND k.id <> c.canon_id
                        THEN 1 ELSE 0 END AS is_dup
            FROM keyed k LEFT JOIN canon c USING (key))
        SELECT g AS source,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(is_null) AS BIGINT) AS n_null,
               CAST(sum(is_dup) AS BIGINT) AS n_dup,
               CAST(count(*) - sum(is_null) - sum(is_dup) AS BIGINT)
                   AS n_canonical,
               round(sum(is_dup) / CAST(count(*) AS DOUBLE), 6)
                   AS dup_share
        FROM fl GROUP BY g ORDER BY source
    """
    _SQL_DOC_METRICS = r"""
        SELECT doc_id, source,
               CAST(length(text) AS DOUBLE) AS text_len,
               CASE WHEN text IS NOT NULL THEN CAST(len(list_filter(
                   string_split_regex(lower(trim(coalesce(text, ''))),
                                      '\s+'),
                   t -> len(t) > 0)) AS DOUBLE) END AS n_tokens,
               CAST(length(text) - length(replace(text, 'e', ''))
                    AS DOUBLE) AS n_e
        FROM documents
    """

    def _sql_pearson_pair(a: str, b: str) -> str:
        return f"""
            SELECT '{a}' AS metric_a, '{b}' AS metric_b,
                   CAST(count(*) AS BIGINT) AS n,
                   round(CASE WHEN count(*) >= 2
                              AND (CAST(count(*) AS DOUBLE) * sum(x*x)
                                   - sum(x) * sum(x))
                                  * (CAST(count(*) AS DOUBLE) * sum(y*y)
                                     - sum(y) * sum(y)) > 0
                         THEN (CAST(count(*) AS DOUBLE) * sum(x*y)
                               - sum(x) * sum(y))
                              / sqrt((CAST(count(*) AS DOUBLE) * sum(x*x)
                                      - sum(x) * sum(x))
                                     * (CAST(count(*) AS DOUBLE) * sum(y*y)
                                        - sum(y) * sum(y)))
                         END, 6) AS r
            FROM (SELECT {a} AS x, {b} AS y FROM m
                  WHERE {a} IS NOT NULL AND {b} IS NOT NULL)
        """

    out["metric_corr"] = f"""
        WITH m AS ({_SQL_DOC_METRICS})
        SELECT * FROM (
            {_sql_pearson_pair("text_len", "n_tokens")}
            UNION ALL
            {_sql_pearson_pair("text_len", "n_e")}
            UNION ALL
            {_sql_pearson_pair("n_tokens", "n_e")}
        ) ORDER BY metric_a, metric_b
    """
    out["spearman_quality"] = f"""
        WITH m AS ({_SQL_DOC_METRICS}),
        b AS (SELECT source AS g, n_tokens AS x, n_e AS y FROM m
              WHERE n_tokens IS NOT NULL AND n_e IS NOT NULL),
        r AS (SELECT g,
                     rank() OVER (PARTITION BY g ORDER BY x)
                     + (count(*) OVER (PARTITION BY g, x) - 1) / 2.0 AS rx,
                     rank() OVER (PARTITION BY g ORDER BY y)
                     + (count(*) OVER (PARTITION BY g, y) - 1) / 2.0 AS ry
              FROM b),
        a AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
                     CAST(count(*) AS DOUBLE) AS nd,
                     sum(rx) AS sx, sum(ry) AS sy, sum(rx*rx) AS sxx,
                     sum(ry*ry) AS syy, sum(rx*ry) AS sxy
              FROM r GROUP BY g)
        SELECT g AS source, n,
               round(CASE WHEN n >= 2
                          AND (nd*sxx - sx*sx) * (nd*syy - sy*sy) > 0
                     THEN (nd*sxy - sx*sy)
                          / sqrt((nd*sxx - sx*sx) * (nd*syy - sy*sy))
                     END, 6) AS rho
        FROM a ORDER BY source
    """
    out["chi2_lang_source"] = """
        WITH obs AS (
            SELECT lang AS a, source AS b, CAST(count(*) AS DOUBLE) AS o
            FROM documents
            WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
        ra AS (SELECT a, sum(o) AS ta FROM obs GROUP BY a),
        cb AS (SELECT b, sum(o) AS tb FROM obs GROUP BY b),
        tot AS (SELECT sum(o) AS n FROM obs),
        grid AS (
            SELECT n, ta * tb / n AS e, coalesce(o, 0) AS o
            FROM ra CROSS JOIN cb CROSS JOIN tot
            LEFT JOIN obs USING (a, b)),
        s AS (SELECT max(n) AS n,
                     sum((o - e) * (o - e) / e) AS chi2 FROM grid),
        la AS (SELECT CAST(count(*) AS BIGINT) AS levels_a FROM ra),
        lb AS (SELECT CAST(count(*) AS BIGINT) AS levels_b FROM cb)
        SELECT CAST(s.n AS BIGINT) AS n, levels_a, levels_b,
               CAST((levels_a - 1) * (levels_b - 1) AS BIGINT) AS dof,
               round(chi2, 6) AS chi2,
               round(CASE WHEN least(levels_a, levels_b) > 1
                     THEN sqrt(chi2 / (s.n * (least(levels_a, levels_b) - 1)))
                     END, 6) AS cramers_v
        FROM s CROSS JOIN la CROSS JOIN lb
    """
    out["welch_length"] = f"""
        WITH m AS ({_SQL_DOC_METRICS}),
        w AS (SELECT
                CAST(count(*) FILTER (WHERE source = 'src0'
                     AND text_len IS NOT NULL) AS DOUBLE) AS na,
                sum(text_len) FILTER (WHERE source = 'src0') AS sa,
                sum(text_len * text_len)
                    FILTER (WHERE source = 'src0') AS saa,
                CAST(count(*) FILTER (WHERE source = 'src1'
                     AND text_len IS NOT NULL) AS DOUBLE) AS nb,
                sum(text_len) FILTER (WHERE source = 'src1') AS sb,
                sum(text_len * text_len)
                    FILTER (WHERE source = 'src1') AS sbb
              FROM m),
        c AS (SELECT *,
                     CASE WHEN na >= 2
                          THEN (saa - sa * sa / na) / (na - 1) END AS va,
                     CASE WHEN nb >= 2
                          THEN (sbb - sb * sb / nb) / (nb - 1) END AS vb
              FROM w),
        d AS (SELECT *, va / na + vb / nb AS se2 FROM c)
        SELECT 'src0' AS group_a, 'src1' AS group_b,
               CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
               round(CASE WHEN na > 0 THEN sa / na END, 6) AS mean_a,
               round(CASE WHEN nb > 0 THEN sb / nb END, 6) AS mean_b,
               round(va, 6) AS var_a, round(vb, 6) AS var_b,
               round(CASE WHEN na >= 2 AND nb >= 2 AND se2 > 0
                     THEN (sa / na - sb / nb) / sqrt(se2) END, 6) AS t,
               round(CASE WHEN na >= 2 AND nb >= 2 AND se2 > 0
                     THEN se2 * se2
                          / ((va / na) * (va / na) / (na - 1)
                             + (vb / nb) * (vb / nb) / (nb - 1))
                     END, 6) AS welch_df
        FROM d
    """
    out["vocab_richness"] = r"""
        WITH tk AS (
            SELECT source AS g, unnest(list_filter(string_split_regex(
                       lower(trim(coalesce(text, ''))), '\s+'),
                   t -> len(t) > 0)) AS tok
            FROM documents),
        gc AS (SELECT g, tok, count(*) AS c FROM tk GROUP BY 1, 2),
        ag AS (SELECT g, CAST(sum(c) AS BIGINT) AS n_tokens,
                      CAST(count(*) AS BIGINT) AS n_types,
                      CAST(count(*) FILTER (WHERE c = 1) AS BIGINT)
                          AS n_hapax
               FROM gc GROUP BY g),
        allg AS (SELECT DISTINCT source AS g FROM documents)
        SELECT allg.g AS source,
               coalesce(n_tokens, 0) AS n_tokens,
               coalesce(n_types, 0) AS n_types,
               coalesce(n_hapax, 0) AS n_hapax,
               round(CASE WHEN coalesce(n_tokens, 0) > 0
                     THEN n_types / CAST(n_tokens AS DOUBLE) END, 6) AS ttr,
               round(CASE WHEN coalesce(n_types, 0) > 0
                     THEN n_hapax / CAST(n_types AS DOUBLE) END, 6)
                   AS hapax_share
        FROM allg LEFT JOIN ag USING (g) ORDER BY source
    """
    out["burrows_delta"] = r"""
        WITH tk AS (
            SELECT source AS g, unnest(list_filter(string_split_regex(
                       lower(trim(coalesce(text, ''))), '\s+'),
                   t -> len(t) > 0)) AS tok
            FROM documents),
        gt AS (SELECT g, tok, CAST(count(*) AS DOUBLE) AS c
               FROM tk GROUP BY 1, 2),
        top AS (SELECT tok FROM (SELECT tok, sum(c) AS freq FROM gt
                                 GROUP BY tok)
                ORDER BY freq DESC, tok ASC LIMIT 30),
        gtot AS (SELECT g, sum(c) AS gtt FROM gt GROUP BY g),
        grid AS (SELECT gtot.g, top.tok, coalesce(c, 0) / gtot.gtt AS f
                 FROM gtot CROSS JOIN top
                 LEFT JOIN gt ON gt.g = gtot.g AND gt.tok = top.tok),
        st AS (SELECT tok, avg(f) AS mu,
                      sqrt(greatest(avg(f * f) - avg(f) * avg(f), 0))
                          AS sigma
               FROM grid GROUP BY tok),
        z AS (SELECT g, grid.tok, (f - mu) / sigma AS z
              FROM grid JOIN st ON st.tok = grid.tok WHERE sigma > 0)
        SELECT a.g AS g_a, b.g AS g_b,
               CAST(count(*) AS BIGINT) AS n_terms,
               round(avg(abs(a.z - b.z)), 6) AS delta
        FROM z a JOIN z b ON a.tok = b.tok AND a.g < b.g
        GROUP BY 1, 2 ORDER BY g_a, g_b
    """
    out["benford"] = """
        WITH v AS (SELECT value AS v FROM events
                   WHERE value IS NOT NULL AND value > 0),
        obs AS (SELECT CAST(floor(v / pow(10.0, floor(log10(v))))
                            AS INTEGER) AS digit,
                       CAST(count(*) AS BIGINT) AS n
                FROM v GROUP BY 1),
        spine AS (SELECT unnest(range(1, 10))::INTEGER AS digit),
        tot AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM obs)
        SELECT spine.digit,
               coalesce(obs.n, 0) AS n,
               round(CASE WHEN total > 0
                     THEN coalesce(obs.n, 0) / total END, 6) AS share,
               round(log10(1.0 + 1.0 / spine.digit), 6) AS benford_share,
               round(CASE WHEN total > 0
                     THEN total
                          * (coalesce(obs.n, 0) / total
                             - log10(1.0 + 1.0 / spine.digit))
                          * (coalesce(obs.n, 0) / total
                             - log10(1.0 + 1.0 / spine.digit))
                          / log10(1.0 + 1.0 / spine.digit)
                     END, 6) AS chi2_term
        FROM spine LEFT JOIN obs USING (digit) CROSS JOIN tot
        ORDER BY digit
    """
    out["mcnemar_rules"] = f"""
        WITH m AS ({_SQL_DOC_METRICS}),
        g AS (SELECT text_len >= 100 AS a, n_tokens >= 20 AS b FROM m),
        w AS (SELECT
            CAST(count(CASE WHEN a AND b THEN 1 END) AS BIGINT)
                AS n_both_keep,
            CAST(count(CASE WHEN a AND NOT b THEN 1 END) AS BIGINT)
                AS n_a_only,
            CAST(count(CASE WHEN NOT a AND b THEN 1 END) AS BIGINT)
                AS n_b_only,
            CAST(count(CASE WHEN NOT a AND NOT b THEN 1 END) AS BIGINT)
                AS n_both_drop,
            CAST(count(CASE WHEN a IS NULL OR b IS NULL THEN 1 END)
                 AS BIGINT) AS n_null
          FROM g)
        SELECT *,
               round(CASE WHEN n_both_keep + n_a_only + n_b_only
                               + n_both_drop > 0
                     THEN (n_both_keep + n_both_drop)
                          / CAST(n_both_keep + n_a_only + n_b_only
                                 + n_both_drop AS DOUBLE) END, 6)
                   AS agreement,
               round(CASE WHEN n_a_only + n_b_only > 0
                     THEN (n_a_only - n_b_only)
                          * (n_a_only - n_b_only)
                          / CAST(n_a_only + n_b_only AS DOUBLE) END, 6)
                   AS mcnemar_chi2
        FROM w
    """
    out["template_prefix"] = """
        WITH d AS (SELECT source,
                          CASE WHEN text IS NOT NULL
                               THEN '[' || source || '] ' || text
                          END AS t
                   FROM documents),
        base AS (SELECT source AS g, t FROM d
                 WHERE t IS NOT NULL AND length(t) > 0),
        mm AS (SELECT g, CAST(count(*) AS BIGINT) AS n_docs,
                      min(t) AS mn, max(t) AS mx
               FROM base GROUP BY g),
        allg AS (SELECT DISTINCT source AS g FROM d),
        lc AS (SELECT g, n_docs, mn,
                      len(list_filter(
                          range(1, least(length(mn), length(mx)) + 1),
                          i -> substr(mn, 1, CAST(i AS INTEGER))
                               = substr(mx, 1, CAST(i AS INTEGER))))
                          AS plen
               FROM mm)
        SELECT allg.g AS source,
               coalesce(n_docs, 0) AS n_docs,
               CAST(coalesce(plen, 0) AS BIGINT) AS prefix_len,
               coalesce(substr(mn, 1, plen), '') AS prefix
        FROM allg LEFT JOIN lc USING (g) ORDER BY source
    """
    out["acf_daily"] = """
        WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                              CAST(count(*) AS DOUBLE) AS n
                       FROM events GROUP BY 1),
        b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        spine AS (SELECT unnest(generate_series(d0, d1,
                                INTERVAL 1 DAY))::DATE AS day FROM b),
        s AS (SELECT day, coalesce(n, 0) AS x
              FROM spine LEFT JOIN daily USING (day)),
        tot AS (SELECT avg(x) AS mu, CAST(count(*) AS BIGINT) AS n_days,
                       sum(x*x) AS sxx, sum(x) AS sx FROM s),
        l AS (SELECT x, __LAG_COLS__
              FROM s WINDOW w AS (ORDER BY day)),
        num AS (SELECT __NUM_COLS__
                FROM l)
        SELECT * FROM (__ACF_ROWS__
        ) ORDER BY lag
    """.replace("__LAG_COLS__", '''lag(x, 1) OVER w AS x_1, lag(x, 2) OVER w AS x_2, lag(x, 3) OVER w AS x_3, lag(x, 4) OVER w AS x_4, lag(x, 5) OVER w AS x_5, lag(x, 6) OVER w AS x_6, lag(x, 7) OVER w AS x_7''').replace(
        "__NUM_COLS__", '''sum(CASE WHEN x_1 IS NOT NULL THEN x*x_1 END) AS sxy_1, sum(CASE WHEN x_1 IS NOT NULL THEN x END) AS sa_1, sum(CASE WHEN x_1 IS NOT NULL THEN x_1 END) AS sb_1, CAST(count(CASE WHEN x_1 IS NOT NULL THEN 1 END) AS DOUBLE) AS np_1,
                   sum(CASE WHEN x_2 IS NOT NULL THEN x*x_2 END) AS sxy_2, sum(CASE WHEN x_2 IS NOT NULL THEN x END) AS sa_2, sum(CASE WHEN x_2 IS NOT NULL THEN x_2 END) AS sb_2, CAST(count(CASE WHEN x_2 IS NOT NULL THEN 1 END) AS DOUBLE) AS np_2,
                   sum(CASE WHEN x_3 IS NOT NULL THEN x*x_3 END) AS sxy_3, sum(CASE WHEN x_3 IS NOT NULL THEN x END) AS sa_3, sum(CASE WHEN x_3 IS NOT NULL THEN x_3 END) AS sb_3, CAST(count(CASE WHEN x_3 IS NOT NULL THEN 1 END) AS DOUBLE) AS np_3,
                   sum(CASE WHEN x_4 IS NOT NULL THEN x*x_4 END) AS sxy_4, sum(CASE WHEN x_4 IS NOT NULL THEN x END) AS sa_4, sum(CASE WHEN x_4 IS NOT NULL THEN x_4 END) AS sb_4, CAST(count(CASE WHEN x_4 IS NOT NULL THEN 1 END) AS DOUBLE) AS np_4,
                   sum(CASE WHEN x_5 IS NOT NULL THEN x*x_5 END) AS sxy_5, sum(CASE WHEN x_5 IS NOT NULL THEN x END) AS sa_5, sum(CASE WHEN x_5 IS NOT NULL THEN x_5 END) AS sb_5, CAST(count(CASE WHEN x_5 IS NOT NULL THEN 1 END) AS DOUBLE) AS np_5,
                   sum(CASE WHEN x_6 IS NOT NULL THEN x*x_6 END) AS sxy_6, sum(CASE WHEN x_6 IS NOT NULL THEN x END) AS sa_6, sum(CASE WHEN x_6 IS NOT NULL THEN x_6 END) AS sb_6, CAST(count(CASE WHEN x_6 IS NOT NULL THEN 1 END) AS DOUBLE) AS np_6,
                   sum(CASE WHEN x_7 IS NOT NULL THEN x*x_7 END) AS sxy_7, sum(CASE WHEN x_7 IS NOT NULL THEN x END) AS sa_7, sum(CASE WHEN x_7 IS NOT NULL THEN x_7 END) AS sb_7, CAST(count(CASE WHEN x_7 IS NOT NULL THEN 1 END) AS DOUBLE) AS np_7''').replace(
        "__ACF_ROWS__", '''
            SELECT 1 AS lag, t.n_days,
                   round(CASE WHEN np_1 >= 1
                              AND (sxx - 2*mu*sx + n_days*mu*mu) > 0
                         THEN (sxy_1 - mu*sa_1 - mu*sb_1
                               + np_1*mu*mu)
                              / (sxx - 2*mu*sx + n_days*mu*mu)
                         END, 6) AS r
            FROM num CROSS JOIN tot t
            UNION ALL

            SELECT 2 AS lag, t.n_days,
                   round(CASE WHEN np_2 >= 1
                              AND (sxx - 2*mu*sx + n_days*mu*mu) > 0
                         THEN (sxy_2 - mu*sa_2 - mu*sb_2
                               + np_2*mu*mu)
                              / (sxx - 2*mu*sx + n_days*mu*mu)
                         END, 6) AS r
            FROM num CROSS JOIN tot t
            UNION ALL

            SELECT 3 AS lag, t.n_days,
                   round(CASE WHEN np_3 >= 1
                              AND (sxx - 2*mu*sx + n_days*mu*mu) > 0
                         THEN (sxy_3 - mu*sa_3 - mu*sb_3
                               + np_3*mu*mu)
                              / (sxx - 2*mu*sx + n_days*mu*mu)
                         END, 6) AS r
            FROM num CROSS JOIN tot t
            UNION ALL

            SELECT 4 AS lag, t.n_days,
                   round(CASE WHEN np_4 >= 1
                              AND (sxx - 2*mu*sx + n_days*mu*mu) > 0
                         THEN (sxy_4 - mu*sa_4 - mu*sb_4
                               + np_4*mu*mu)
                              / (sxx - 2*mu*sx + n_days*mu*mu)
                         END, 6) AS r
            FROM num CROSS JOIN tot t
            UNION ALL

            SELECT 5 AS lag, t.n_days,
                   round(CASE WHEN np_5 >= 1
                              AND (sxx - 2*mu*sx + n_days*mu*mu) > 0
                         THEN (sxy_5 - mu*sa_5 - mu*sb_5
                               + np_5*mu*mu)
                              / (sxx - 2*mu*sx + n_days*mu*mu)
                         END, 6) AS r
            FROM num CROSS JOIN tot t
            UNION ALL

            SELECT 6 AS lag, t.n_days,
                   round(CASE WHEN np_6 >= 1
                              AND (sxx - 2*mu*sx + n_days*mu*mu) > 0
                         THEN (sxy_6 - mu*sa_6 - mu*sb_6
                               + np_6*mu*mu)
                              / (sxx - 2*mu*sx + n_days*mu*mu)
                         END, 6) AS r
            FROM num CROSS JOIN tot t
            UNION ALL

            SELECT 7 AS lag, t.n_days,
                   round(CASE WHEN np_7 >= 1
                              AND (sxx - 2*mu*sx + n_days*mu*mu) > 0
                         THEN (sxy_7 - mu*sa_7 - mu*sb_7
                               + np_7*mu*mu)
                              / (sxx - 2*mu*sx + n_days*mu*mu)
                         END, 6) AS r
            FROM num CROSS JOIN tot t''')

    out["band_occupancy"] = f"""
        WITH pop AS ({_SQL_PHASH_POP}),
        banded AS (
            SELECT b.bnd, (code >> (15 * b.bnd)) & 32767 AS bkey
            FROM pop CROSS JOIN (SELECT unnest(range(0, 4)) AS bnd) b),
        sizes AS (SELECT bnd, bkey, count(*) AS sz
                  FROM banded GROUP BY 1, 2),
        hist AS (SELECT sz AS bucket_size,
                        CAST(count(*) AS BIGINT) AS n_buckets,
                        CAST(count(*) * sz AS BIGINT) AS n_rows
                 FROM sizes GROUP BY sz),
        tot AS (SELECT CAST(sum(n_rows) AS DOUBLE) AS total FROM hist)
        SELECT bucket_size, n_buckets, n_rows,
               round(n_rows / total, 6) AS row_share,
               round(sum(n_rows) OVER (ORDER BY bucket_size DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     / total, 6) AS row_share_cum
        FROM hist CROSS JOIN tot ORDER BY bucket_size
    """
    out["caption_divergence"] = f"""
        WITH pop AS ({_SQL_PHASH_POP}),
        pairs AS (
            SELECT a.id AS id_a, b.id AS id_b,
                   CAST(bit_count(xor(a.code, b.code)) AS INTEGER)
                       AS hamming
            FROM pop a JOIN pop b ON a.id < b.id
            WHERE bit_count(xor(a.code, b.code)) <= 3),
        caps AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000,
                   CASE WHEN doc_id % 20 = 0 THEN text
                        ELSE substr(text, 1, 12) END
            FROM documents WHERE doc_id % 10 = 0),
        toks AS (
            SELECT doc_id AS tid,
                   list_distinct(list_filter(string_split_regex(
                       lower(trim(coalesce(text, ''))), '\\s+'),
                       t -> len(t) > 0)) AS tk
            FROM caps),
        j AS (
            SELECT p.id_a, p.id_b, p.hamming,
                   len(list_intersect(ta.tk, tb.tk)) AS inter,
                   len(ta.tk) + len(tb.tk)
                   - len(list_intersect(ta.tk, tb.tk)) AS uni
            FROM pairs p
            JOIN toks ta ON ta.tid = p.id_a
            JOIN toks tb ON tb.tid = p.id_b)
        SELECT id_a, id_b, hamming,
               round(CASE WHEN uni > 0
                     THEN inter / CAST(uni AS DOUBLE)
                     ELSE 1.0 END, 6) AS caption_jaccard,
               round(CASE WHEN uni > 0
                     THEN inter / CAST(uni AS DOUBLE)
                     ELSE 1.0 END, 6) < 0.5 AS divergent
        FROM j ORDER BY id_a, id_b
    """
    out["knn_hubness"] = """
        WITH graph AS (
            SELECT query_id, cand_id FROM (
                SELECT query_id, cand_id,
                       row_number() OVER (PARTITION BY query_id
                           ORDER BY cos_sim DESC, cand_id) AS rnk
                FROM (
                    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                           round(list_cosine_similarity(
                               CAST(q.embedding AS DOUBLE[]),
                               CAST(c.embedding AS DOUBLE[])), 6)
                               AS cos_sim
                    FROM embeddings c, embeddings q
                    WHERE c.vec_id != q.vec_id))
            WHERE rnk <= 5),
        indeg AS (SELECT cand_id AS vid, CAST(count(*) AS BIGINT) AS d
                  FROM graph GROUP BY 1),
        deg AS (SELECT e.vec_id AS vid, coalesce(d, 0) AS d
                FROM embeddings e LEFT JOIN indeg ON indeg.vid = e.vec_id),
        hist AS (SELECT d AS in_degree,
                        CAST(count(*) AS BIGINT) AS n_vectors
                 FROM deg GROUP BY d),
        tot AS (SELECT CAST(sum(n_vectors) AS DOUBLE) AS nv,
                       CAST(sum(in_degree * n_vectors) AS DOUBLE) AS ne
                FROM hist)
        SELECT in_degree, n_vectors,
               round(n_vectors / nv, 6) AS node_share,
               round(CASE WHEN ne > 0
                     THEN in_degree * n_vectors / ne
                     ELSE 0.0 END, 6) AS citation_share
        FROM hist CROSS JOIN tot ORDER BY in_degree
    """
    out["label_cohesion"] = """
        WITH dims AS (
            SELECT label AS lab,
                   generate_subscripts(embedding, 1) AS dim,
                   CAST(unnest(embedding) AS DOUBLE) AS v
            FROM embeddings),
        cd AS (SELECT lab, dim, round(avg(v), 6) AS c
               FROM dims GROUP BY lab, dim),
        cent AS (SELECT lab, list(c ORDER BY dim) AS cvec
                 FROM cd GROUP BY lab),
        coh AS (
            SELECT e.label AS lab,
                   CAST(count(*) AS BIGINT) AS n_members,
                   round(avg(list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]), cent.cvec)), 6)
                       AS cohesion
            FROM embeddings e JOIN cent ON cent.lab = e.label
            GROUP BY e.label),
        near AS (
            SELECT lab, lab_b AS nearest_label, ccos AS nearest_cos
            FROM (
                SELECT a.lab, b.lab AS lab_b,
                       round(list_cosine_similarity(a.cvec, b.cvec), 6)
                           AS ccos,
                       row_number() OVER (PARTITION BY a.lab
                           ORDER BY round(list_cosine_similarity(
                               a.cvec, b.cvec), 6) DESC, b.lab) AS rn
                FROM cent a JOIN cent b ON a.lab != b.lab)
            WHERE rn = 1)
        SELECT coh.lab AS label, n_members, cohesion,
               nearest_label, nearest_cos,
               round(cohesion - nearest_cos, 6) AS margin
        FROM coh LEFT JOIN near ON near.lab = coh.lab
        ORDER BY label
    """
    out["ess_audit"] = """
        WITH base AS (
            SELECT event_type AS g, value - 1.0 AS w,
                   CAST(length(props) AS DOUBLE) AS v
            FROM events),
        a AS (
            SELECT g,
                CAST(count(CASE WHEN w IS NOT NULL AND w >= 0
                           THEN 1 END) AS BIGINT) AS n,
                CAST(count(CASE WHEN w IS NULL OR w < 0
                           THEN 1 END) AS BIGINT) AS n_bad,
                sum(CASE WHEN w >= 0 THEN w END) AS sw,
                sum(CASE WHEN w >= 0 THEN w * w END) AS sww,
                max(CASE WHEN w >= 0 THEN w END) AS wmax,
                sum(CASE WHEN w >= 0 THEN w * v END) AS swv
            FROM base GROUP BY g)
        SELECT g AS event_type, n, n_bad,
               round(sw, 6) AS sum_w,
               round(CASE WHEN sww > 0 THEN sw * sw / sww END, 6) AS ess,
               round(CASE WHEN n > 0 AND sww > 0
                     THEN sw * sw / sww / n END, 6) AS ess_ratio,
               round(CASE WHEN sw > 0 THEN wmax / sw END, 6)
                   AS max_w_share,
               round(CASE WHEN sw > 0 THEN swv / sw END, 6)
                   AS weighted_mean
        FROM a ORDER BY event_type
    """
    out["novelty"] = """
        WITH k AS (SELECT event_id AS id, strftime(ts, '%Y-%m-%d') AS b,
                          user_id AS k
                   FROM events),
        pb AS (SELECT b, CAST(count(*) AS BIGINT) AS n_rows,
                      CAST(count(CASE WHEN k IS NULL THEN 1 END)
                           AS BIGINT) AS n_null
               FROM k GROUP BY b),
        fb AS (SELECT min(b) AS b FROM k
               WHERE k IS NOT NULL GROUP BY k),
        nv AS (SELECT b, CAST(count(*) AS BIGINT) AS n_novel
               FROM fb GROUP BY b)
        SELECT pb.b AS batch, n_rows, n_null,
               CAST(coalesce(n_novel, 0) AS BIGINT) AS n_novel,
               CAST(n_rows - n_null - coalesce(n_novel, 0) AS BIGINT)
                   AS n_repost,
               round(CASE WHEN n_rows - n_null > 0
                     THEN coalesce(n_novel, 0)
                          / CAST(n_rows - n_null AS DOUBLE) END, 6)
                   AS novelty,
               CAST(sum(coalesce(n_novel, 0)) OVER (ORDER BY pb.b
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS distinct_cum
        FROM pb LEFT JOIN nv ON nv.b = pb.b ORDER BY batch
    """
    out["mutual_info"] = """
        WITH obs AS (
            SELECT source AS a, lang AS b,
                   CAST(count(*) AS DOUBLE) AS o
            FROM documents
            WHERE source IS NOT NULL AND lang IS NOT NULL
            GROUP BY 1, 2),
        ra AS (SELECT a, sum(o) AS ta FROM obs GROUP BY a),
        cb AS (SELECT b, sum(o) AS tb FROM obs GROUP BY b),
        tot AS (SELECT sum(o) AS n FROM obs),
        agg AS (
            SELECT n,
                   sum((o / n) * ln(o * n / (ta * tb))) AS mi,
                   sum((o / n) * -ln(ta / n)) AS ha,
                   sum((o / n) * -ln(tb / n)) AS hb
            FROM obs JOIN ra USING (a) JOIN cb USING (b)
                 CROSS JOIN tot
            GROUP BY n)
        SELECT CAST(n AS BIGINT) AS n,
               round(mi, 6) AS mi_nats,
               round(ha, 6) AS entropy_a,
               round(hb, 6) AS entropy_b,
               round(CASE WHEN ha > 0 THEN mi / ha END, 6)
                   AS u_a_given_b,
               round(CASE WHEN hb > 0 THEN mi / hb END, 6)
                   AS u_b_given_a
        FROM agg
    """
    out["embed_covariance"] = """
        WITH d AS (
            SELECT vec_id,
                   CAST(generate_subscripts(embedding, 1) - 1
                        AS INTEGER) AS i,
                   CAST(unnest(embedding) AS DOUBLE) AS v
            FROM embeddings
            WHERE embedding IS NOT NULL AND len(embedding) = 64),
        n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings
              WHERE embedding IS NOT NULL AND len(embedding) = 64),
        m AS (SELECT i, sum(v) AS s FROM d GROUP BY i),
        p AS (SELECT a.i AS i, b.i AS j, sum(a.v * b.v) AS s
              FROM d a JOIN d b
                   ON a.vec_id = b.vec_id AND b.i >= a.i
              GROUP BY a.i, b.i)
        SELECT p.i, p.j,
               round(p.s / n.n - (mi.s / n.n) * (mj.s / n.n), 6) + 0.0
                   AS cov
        FROM p CROSS JOIN n
             JOIN m mi ON mi.i = p.i
             JOIN m mj ON mj.i = p.j
        ORDER BY p.i, p.j
    """
    out["embed_collapse"] = """
        WITH d AS (
            SELECT CAST(generate_subscripts(embedding, 1) - 1
                        AS INTEGER) AS i,
                   CAST(unnest(embedding) AS DOUBLE) AS v
            FROM embeddings
            WHERE embedding IS NOT NULL AND len(embedding) = 64),
        bad AS (SELECT CAST(count(CASE WHEN embedding IS NULL
                            OR len(embedding) <> 64 THEN 1 END)
                            AS BIGINT) AS n_bad
                FROM embeddings),
        pd AS (SELECT i, CAST(count(*) AS BIGINT) AS cnt,
                      avg(v) AS m, avg(v * v) AS m2
               FROM d GROUP BY i),
        roll AS (SELECT max(cnt) AS n, sum(m2) AS mns,
                        sum(m * m) AS cns,
                        max(m2 - m * m) AS maxvar
                 FROM pd)
        SELECT CAST(n AS BIGINT) AS n, n_bad,
               CAST(64 AS INTEGER) AS dim,
               round(mns, 6) AS mean_norm_sq,
               round(cns, 6) AS centroid_norm_sq,
               round(CASE WHEN mns > 0 THEN cns / mns END, 6)
                   AS anisotropy,
               round(mns - cns, 6) AS trace_cov,
               round(CASE WHEN mns - cns > 0
                     THEN maxvar / (mns - cns) END, 6)
                   AS top_dim_var_share
        FROM roll CROSS JOIN bad
    """
    out["t_close"] = """
        WITH sel AS (
            SELECT lang, source,
                   CASE WHEN doc_id % 50 <> 0
                        THEN CAST(floor(n_chars / 500.0) AS BIGINT)
                   END AS sv
            FROM documents),
        obs AS (SELECT lang, source, sv,
                       CAST(count(*) AS DOUBLE) AS c
                FROM sel WHERE sv IS NOT NULL GROUP BY 1, 2, 3),
        nulls AS (SELECT lang, source,
                         CAST(count(CASE WHEN sv IS NULL THEN 1 END)
                              AS BIGINT) AS n_null
                  FROM sel GROUP BY 1, 2),
        sup AS (SELECT sv, sum(c) AS gc,
                       row_number() OVER (ORDER BY sv) AS rk
                FROM obs GROUP BY sv),
        tot AS (SELECT sum(gc) AS gn, CAST(count(*) AS BIGINT) AS m
                FROM sup),
        cls AS (SELECT lang, source, CAST(sum(c) AS BIGINT) AS n
                FROM obs GROUP BY 1, 2),
        grid AS (
            SELECT cls.lang, cls.source, cls.n, sup.rk, tot.m,
                   coalesce(obs.c, 0) / cls.n - sup.gc / tot.gn AS d
            FROM cls CROSS JOIN sup CROSS JOIN tot
            LEFT JOIN obs ON obs.lang IS NOT DISTINCT FROM cls.lang
                 AND obs.source IS NOT DISTINCT FROM cls.source
                 AND obs.sv = sup.sv),
        cum AS (
            SELECT lang, source, n, rk, m,
                   sum(d) OVER (PARTITION BY lang, source ORDER BY rk
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                       ROW) AS cumv
            FROM grid),
        pc AS (SELECT lang, source, n, m,
                      sum(CASE WHEN rk < m THEN abs(cumv) END) AS s
               FROM cum GROUP BY 1, 2, 3, 4)
        SELECT pc.lang, pc.source, pc.n,
               CAST(coalesce(n_null, 0) AS BIGINT) AS n_null,
               round(CASE WHEN m > 1 THEN coalesce(s, 0) / (m - 1)
                     ELSE 0.0 END, 6) + 0.0 AS t_close
        FROM pc LEFT JOIN nulls
             ON nulls.lang IS NOT DISTINCT FROM pc.lang
             AND nulls.source IS NOT DISTINCT FROM pc.source
        ORDER BY t_close DESC, pc.lang, pc.source
    """
    out["header_consistency"] = """
        WITH base AS (
            SELECT p_partkey AS image_id,
                   CAST(8 + (p_partkey * 97) % 500 AS BIGINT) AS w0,
                   CAST(8 + (p_partkey * 61) % 400 AS BIGINT) AS h0,
                   CASE WHEN p_partkey % 2 = 0 THEN 'jpeg'
                        ELSE 'webp' END AS qfmt,
                   p_partkey % 17 = 0 AS corrupt,
                   p_partkey % 3 = 0 AS is_png
            FROM part),
        derived AS (
            SELECT image_id, w0, h0, corrupt,
                   CASE WHEN is_png THEN 'png' ELSE qfmt END
                       AS true_fmt,
                   CAST(w0 + CASE WHEN image_id % 7 = 0 THEN 3
                             ELSE 0 END AS INTEGER) AS w,
                   CAST(h0 + CASE WHEN image_id % 11 = 0 THEN 1
                             ELSE 0 END AS INTEGER) AS h,
                   CASE WHEN image_id % 13 = 0 THEN
                        CASE WHEN is_png THEN 'jpeg' ELSE 'png' END
                        ELSE CASE WHEN is_png THEN 'png'
                             ELSE qfmt END END AS fmt
            FROM base)
        SELECT image_id, w, h, fmt,
               CASE WHEN corrupt THEN 'unknown'
                    ELSE true_fmt END AS fmt_sniffed,
               CASE WHEN corrupt THEN -1 ELSE w0 END AS w_parsed,
               CASE WHEN corrupt THEN -1 ELSE h0 END AS h_parsed,
               (NOT corrupt) AND true_fmt = fmt
                   AND w0 = w AND h0 = h AS header_ok
        FROM derived ORDER BY image_id
    """
    # X184 product quantization: shared train→encode CTE prefix (per-subspace
    # Lloyd, lowest-id init, 2 iterations, 6-dp pins — mirrors operators/pq.py
    # exactly; m=4 subspaces of 16 dims, k=4 centroids).
    _pq_prefix = """
        WITH dims AS (
            SELECT vec_id AS id,
                   generate_subscripts(embedding, 1) - 1 AS dim,
                   unnest(embedding)::DOUBLE AS v
            FROM embeddings),
        sdims AS (
            SELECT id, dim // 16 AS sub, dim, v FROM dims),
        seeds AS (
            SELECT vec_id AS id,
                   row_number() OVER (ORDER BY vec_id) - 1 AS cluster
            FROM embeddings QUALIFY cluster < 4),
        c0 AS (
            SELECT d.sub, s.cluster, d.dim, round(d.v, 6) AS c
            FROM sdims d JOIN seeds s USING (id)),
        d1 AS (
            SELECT d.id, d.sub, c.cluster,
                   round(sum((d.v - c.c) * (d.v - c.c)), 6) AS d2
            FROM sdims d JOIN c0 c USING (dim)
            GROUP BY d.id, d.sub, c.cluster),
        a1 AS (
            SELECT id, sub, cluster FROM (
                SELECT id, sub, cluster,
                       row_number() OVER (PARTITION BY id, sub
                                          ORDER BY d2, cluster) AS rnk
                FROM d1) WHERE rnk = 1),
        c1 AS (
            SELECT d.sub, a.cluster, d.dim, round(avg(d.v), 6) AS c
            FROM sdims d JOIN a1 a ON a.id = d.id AND a.sub = d.sub
            GROUP BY d.sub, a.cluster, d.dim),
        d2t AS (
            SELECT d.id, d.sub, c.cluster,
                   round(sum((d.v - c.c) * (d.v - c.c)), 6) AS d2
            FROM sdims d JOIN c1 c USING (dim)
            GROUP BY d.id, d.sub, c.cluster),
        a2 AS (
            SELECT id, sub, cluster FROM (
                SELECT id, sub, cluster,
                       row_number() OVER (PARTITION BY id, sub
                                          ORDER BY d2, cluster) AS rnk
                FROM d2t) WHERE rnk = 1),
        c2 AS (
            SELECT d.sub, a.cluster, d.dim, round(avg(d.v), 6) AS c
            FROM sdims d JOIN a2 a ON a.id = d.id AND a.sub = d.sub
            GROUP BY d.sub, a.cluster, d.dim),
        d3 AS (
            SELECT d.id, d.sub, c.cluster,
                   round(sum((d.v - c.c) * (d.v - c.c)), 6) AS d2
            FROM sdims d JOIN c2 c USING (dim)
            GROUP BY d.id, d.sub, c.cluster),
        codes AS (
            SELECT id, sub, cluster, d2 FROM (
                SELECT id, sub, cluster, d2,
                       row_number() OVER (PARTITION BY id, sub
                                          ORDER BY d2, cluster) AS rnk
                FROM d3) WHERE rnk = 1)
    """
    out["pq_codes"] = _pq_prefix + """
        SELECT id AS vec_id, CAST(sub AS INTEGER) AS sub,
               CAST(cluster AS BIGINT) AS code, d2
        FROM codes ORDER BY vec_id, sub
    """
    out["pq_topk"] = _pq_prefix + """,
        qdims AS (
            SELECT id AS query_id, sub, dim, v FROM sdims WHERE id < 8),
        lut AS (
            SELECT q.query_id, q.sub, c.cluster AS code,
                   round(sum((q.v - c.c) * (q.v - c.c)), 6) AS pd
            FROM qdims q JOIN c2 c USING (dim)
            GROUP BY q.query_id, q.sub, c.cluster),
        adc AS (
            SELECT l.query_id, k.id AS cand_id,
                   round(sum(l.pd), 6) AS adc_d2
            FROM codes k JOIN lut l
                 ON l.sub = k.sub AND l.code = k.cluster
            WHERE k.id <> l.query_id
            GROUP BY l.query_id, k.id)
        SELECT query_id, cand_id, adc_d2, CAST(rnk AS INTEGER) AS rnk FROM (
            SELECT query_id, cand_id, adc_d2,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY adc_d2, cand_id) AS rnk
            FROM adc) WHERE rnk <= 5
        ORDER BY query_id, rnk
    """
    out["multiprobe_recall"] = f"""
        WITH cb AS (
            SELECT vec_id, embedding,
                   unnest({_sql_axis_buckets(8, 4)}) AS bucket
            FROM embeddings),
        qp AS (
            SELECT vec_id, embedding,
                   unnest({_sql_axis_probes(8, 4)}) AS bucket
            FROM embeddings WHERE vec_id < 8),
        cand_s AS (
            SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
            FROM cb c JOIN cb q USING (bucket)
            WHERE q.vec_id < 8 AND c.vec_id != q.vec_id),
        cand_m AS (
            SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
            FROM cb c JOIN qp q USING (bucket)
            WHERE c.vec_id != q.vec_id),
        ann_s AS (
            SELECT query_id, cand_id FROM (
                SELECT cand_s.query_id, cand_s.cand_id,
                       row_number() OVER (
                           PARTITION BY cand_s.query_id
                           ORDER BY round(list_cosine_similarity(
                               CAST(qe.embedding AS DOUBLE[]),
                               CAST(ce.embedding AS DOUBLE[])), 6) DESC,
                               cand_s.cand_id) AS rnk
                FROM cand_s
                JOIN embeddings qe ON qe.vec_id = cand_s.query_id
                JOIN embeddings ce ON ce.vec_id = cand_s.cand_id)
            WHERE rnk <= 5),
        ann_m AS (
            SELECT query_id, cand_id FROM (
                SELECT cand_m.query_id, cand_m.cand_id,
                       row_number() OVER (
                           PARTITION BY cand_m.query_id
                           ORDER BY round(list_cosine_similarity(
                               CAST(qe.embedding AS DOUBLE[]),
                               CAST(ce.embedding AS DOUBLE[])), 6) DESC,
                               cand_m.cand_id) AS rnk
                FROM cand_m
                JOIN embeddings qe ON qe.vec_id = cand_m.query_id
                JOIN embeddings ce ON ce.vec_id = cand_m.cand_id)
            WHERE rnk <= 5),
        brute AS (
            SELECT query_id, cand_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY round(list_cosine_similarity(
                               CAST(q.embedding AS DOUBLE[]),
                               CAST(c.embedding AS DOUBLE[])), 6) DESC,
                               c.vec_id) AS rnk
                FROM embeddings c, embeddings q
                WHERE q.vec_id < 8 AND c.vec_id != q.vec_id)
            WHERE rnk <= 5),
        rs AS (
            SELECT b.query_id, count(a.cand_id) AS n_hit_single,
                   round(count(a.cand_id) / 5.0, 4) AS recall_single
            FROM brute b LEFT JOIN ann_s a
                 ON a.query_id = b.query_id AND a.cand_id = b.cand_id
            GROUP BY b.query_id),
        rm AS (
            SELECT b.query_id, count(a.cand_id) AS n_hit_multi,
                   round(count(a.cand_id) / 5.0, 4) AS recall_multi
            FROM brute b LEFT JOIN ann_m a
                 ON a.query_id = b.query_id AND a.cand_id = b.cand_id
            GROUP BY b.query_id)
        SELECT query_id, n_hit_single, recall_single,
               n_hit_multi, recall_multi
        FROM rs JOIN rm USING (query_id) ORDER BY query_id
    """
    out["shapley_rules"] = r"""
        WITH fl AS (
            SELECT doc_id,
                   CASE WHEN length(coalesce(text, '')) < 50
                        THEN 1 ELSE 0 END AS r_short,
                   CASE WHEN length(regexp_replace(coalesce(text, ''),
                                                   '[^\p{L}]', '', 'g')) > 0
                             AND length(regexp_replace(coalesce(text, ''),
                                                       '[^\p{Lu}]', '', 'g'))
                                 / CAST(length(regexp_replace(
                                       coalesce(text, ''), '[^\p{L}]', '',
                                       'g')) AS DOUBLE) > 0.5
                        THEN 1 ELSE 0 END AS r_caps,
                   CASE WHEN length(coalesce(text, '')) = 0
                             OR length(regexp_replace(coalesce(text, ''),
                                                      '[^\p{L}]', '', 'g'))
                                / CAST(length(coalesce(text, '')) AS DOUBLE)
                                < 0.6
                        THEN 1 ELSE 0 END AS r_alpha,
                   CASE WHEN length(coalesce(text, '')) > 0
                             AND length(regexp_replace(coalesce(text, ''),
                                                       '[^0-9]', '', 'g'))
                                 / CAST(length(coalesce(text, '')) AS DOUBLE)
                                 > 0.2
                        THEN 1 ELSE 0 END AS r_digit,
                   CASE WHEN text IS NULL OR regexp_matches(text,
                            '(?i)^[\s\x0b]*(none|null|nan)?[\s\x0b]*$')
                        THEN 1 ELSE 0 END AS r_nanlike
            FROM documents),
        t AS (SELECT fl.*,
                     r_short + r_caps + r_alpha + r_digit + r_nanlike
                         AS nfail
              FROM fl),
        u AS (
            SELECT 'short' AS rule, r_short AS fail, nfail FROM t
            UNION ALL SELECT 'caps', r_caps, nfail FROM t
            UNION ALL SELECT 'alpha', r_alpha, nfail FROM t
            UNION ALL SELECT 'digit', r_digit, nfail FROM t
            UNION ALL SELECT 'nanlike', r_nanlike, nfail FROM t),
        a AS (
            SELECT rule,
                   CAST(sum(fail) AS BIGINT) AS n_fail,
                   CAST(sum(CASE WHEN fail = 1 AND nfail > 0
                            THEN CAST(60 / nfail AS BIGINT) ELSE 0 END)
                        AS BIGINT) AS units,
                   CAST(sum(CASE WHEN nfail > 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_dropped,
                   count(*) AS n_docs
            FROM u GROUP BY rule)
        SELECT rule, n_fail,
               round(units / 60.0, 6) AS shapley,
               round(CASE WHEN n_dropped > 0
                     THEN units / (60.0 * n_dropped) ELSE 0.0 END, 6)
                   AS shap_share,
               n_dropped, n_docs
        FROM a ORDER BY rule
    """
    out["interleave"] = """
        WITH keyed AS (
            SELECT source, doc_id,
                   CAST(1 + (CAST(substr(source, 4) AS INT) % 3) AS DOUBLE)
                       AS w,
                   CAST(row_number() OVER (PARTITION BY source
                                           ORDER BY doc_id) AS BIGINT)
                       AS src_rank
            FROM documents),
        k2 AS (
            SELECT keyed.*, (src_rank - 0.5) / w AS mix_key FROM keyed),
        tot AS (
            SELECT sum(w) AS w_total FROM (
                SELECT source, any_value(w) AS w FROM k2 GROUP BY source)),
        ranked AS (
            SELECT k2.*,
                   CAST(row_number() OVER (ORDER BY mix_key, source, doc_id)
                        AS BIGINT) AS global_rank
            FROM k2)
        SELECT global_rank, source, doc_id, src_rank,
               round(mix_key, 6) AS mix_key,
               round(src_rank / CAST(global_rank AS DOUBLE), 6) AS src_share,
               round(w / w_total, 6) AS target_share,
               round(src_rank / CAST(global_rank AS DOUBLE) - w / w_total, 6)
                   AS disc
        FROM ranked, tot WHERE global_rank <= 200
        ORDER BY global_rank
    """
    out["ivfpq_topk"] = _sql_ivfpq(
        kc=4, citers=2, m=4, k=4, iters=2, nprobe=2, topk=5, dim=64, nq=8
    )
    # X190: PPJoin is EXACT with no df-cap, so its twin is the brute
    # inverted-index derivation with the cap effectively disabled.
    out["ppjoin"] = _sql_jaccard_exact(
        threshold=0.5, shingle_n=3, max_df=10**9
    )
    out["oph_minhash"] = _sql_oph_minhash()
    def _hrw(n: int, alias: str) -> str:
        packed = ", ".join(
            f"('0x' || substr(md5(doc_id::VARCHAR || '|{s}'), 1, 8))"
            f"::BIGINT * 1024 + {1023 - s}"
            for s in range(n)
        )
        return f"CAST(1023 - greatest({packed}) % 1024 AS INT) AS {alias}"

    out["rendezvous"] = f"""
        WITH a AS (
            SELECT doc_id, {_hrw(8, "old_shard")}, {_hrw(10, "new_shard")}
            FROM documents),
        g AS (SELECT old_shard, new_shard, CAST(count(*) AS BIGINT) AS n
              FROM a GROUP BY old_shard, new_shard)
        SELECT old_shard, new_shard, n,
               old_shard <> new_shard AS moved,
               round(n / CAST(sum(n) OVER () AS DOUBLE), 6) AS share
        FROM g ORDER BY old_shard, new_shard
    """
    out["kcenter"] = _sql_kcenter(k=6)
    out["bpe_merges"] = _sql_bpe(n_merges=8)
    out["sinkhorn"] = _sql_sinkhorn(nbins=16, width=50.0, eps=0.1, iters=6)
    out["fs_linkage"] = _sql_fs_linkage(iters=10, upper=3.0, lower=0.0)
    ks_series = " + ".join(
        f"({'' if j % 2 == 1 else '-'}exp(-2.0 * {j * j} * lam * lam))"
        for j in range(1, 11)
    )
    out["drift_fdr"] = f"""
        WITH base AS (
            SELECT event_type AS g, value AS v,
                   CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0
                        END AS is_ref
            FROM events),
        counts AS (
            SELECT g, v,
                   CAST(sum(is_ref) AS BIGINT) AS rn,
                   CAST(sum(1 - is_ref) AS BIGINT) AS cn
            FROM base GROUP BY g, v),
        totals AS (
            SELECT g, CAST(sum(rn) AS BIGINT) AS n_ref,
                   CAST(sum(cn) AS BIGINT) AS n_cur
            FROM counts GROUP BY g),
        ecdf AS (
            SELECT c.g, c.v, t.n_ref, t.n_cur,
                   abs(sum(rn) OVER w / CAST(t.n_ref AS DOUBLE)
                       - sum(cn) OVER w / CAST(t.n_cur AS DOUBLE)) AS d
            FROM counts c JOIN totals t USING (g)
            WINDOW w AS (PARTITION BY c.g ORDER BY c.v
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW)),
        pick AS (
            SELECT g, n_ref, n_cur, round(d, 6) AS ks_d,
                   row_number() OVER (PARTITION BY g
                                      ORDER BY d DESC, v ASC) AS rnk
            FROM ecdf),
        ks AS (SELECT g AS event_type, n_ref, n_cur, ks_d
               FROM pick WHERE rnk = 1),
        pt AS (
            SELECT event_type, n_ref, n_cur, ks_d,
                   round(least(greatest(2.0 * ({ks_series}), 0.0), 1.0), 9)
                       AS p
            FROM (SELECT *,
                         ks_d * sqrt(CAST(n_ref AS DOUBLE)
                                     * CAST(n_cur AS DOUBLE)
                                     / CAST(n_ref + n_cur AS DOUBLE))
                             AS lam
                  FROM ks)),
        ranked AS (
            SELECT *,
                   CAST(row_number() OVER (ORDER BY p, event_type)
                        AS INT) AS rank
            FROM pt),
        withcrit AS (
            SELECT *,
                   round(rank * 0.1 / (SELECT count(*) FROM pt), 9)
                       AS crit
            FROM ranked),
        kstar AS (
            SELECT coalesce(max(rank), 0) AS ks FROM withcrit
            WHERE p <= crit)
        SELECT event_type, n_ref, n_cur, ks_d, p, rank, crit,
               rank <= (SELECT ks FROM kstar) AS reject
        FROM withcrit ORDER BY rank
    """
    # X203: the MG output is EXACT by the candidate-superset guarantee,
    # so its twin is the plain groupBy it replaces at scale.
    out["mg_heavy"] = """
        WITH toks AS (
            SELECT unnest(list_filter(
                       string_split_regex(lower(trim(text)), '\\s+'),
                       s -> len(s) > 0)) AS token
            FROM documents WHERE text IS NOT NULL),
        tot AS (SELECT count(*) AS n_total FROM toks),
        c AS (SELECT token, CAST(count(*) AS BIGINT) AS n
              FROM toks GROUP BY token)
        SELECT token, n, round(n / CAST(n_total AS DOUBLE), 6) AS share
        FROM c, tot WHERE n >= 0.01 * n_total
        ORDER BY n DESC, token
    """
    out["token_pagerank"] = _sql_pagerank(
        iters=10, d=0.85, top_tokens=100, min_cooc=3
    )
    # the clamp lives only inside the Morton key (as in zorder_key);
    # stats and the linear layout see raw values
    morton = " | ".join(
        f"(((ca >> {i}) & 1) << {2 * i + 1})"
        f" | (((cb >> {i}) & 1) << {2 * i})"
        for i in range(16)
    ).replace("ca", "least(greatest(a, 0), 65535)").replace(
        "cb", "least(greatest(b, 0), 65535)"
    )
    out["pruning_audit"] = f"""
        WITH base AS MATERIALIZED (
            SELECT doc_id AS id, n_chars AS a, doc_id % 97 AS b
            FROM documents WHERE n_chars IS NOT NULL),
        tagged AS MATERIALIZED (
            SELECT id, a, b,
                   ntile(16) OVER (ORDER BY a, b, id) AS f_linear,
                   ntile(16) OVER (ORDER BY ({morton}), id) AS f_zorder,
                   CASE WHEN a BETWEEN 100.0 AND 250.0
                             AND b BETWEEN 10.0 AND 30.0
                        THEN 1 ELSE 0 END AS sel
            FROM base),
        lin AS (
            SELECT f_linear AS f, min(a) AS min_a, max(a) AS max_a,
                   min(b) AS min_b, max(b) AS max_b,
                   count(*) AS n, sum(sel) AS n_sel
            FROM tagged GROUP BY f_linear),
        zor AS (
            SELECT f_zorder AS f, min(a) AS min_a, max(a) AS max_a,
                   min(b) AS min_b, max(b) AS max_b,
                   count(*) AS n, sum(sel) AS n_sel
            FROM tagged GROUP BY f_zorder),
        roll AS (
            SELECT 'linear' AS layout, * FROM lin
            UNION ALL SELECT 'zorder', * FROM zor),
        agg AS (
            SELECT layout,
                   CAST(count(*) AS BIGINT) AS n_files,
                   CAST(sum(CASE WHEN max_a >= 100.0 AND min_a <= 250.0
                                 AND max_b >= 10.0 AND min_b <= 30.0
                            THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
                   CAST(sum(n) AS BIGINT) AS rows_total,
                   CAST(sum(CASE WHEN max_a >= 100.0 AND min_a <= 250.0
                                 AND max_b >= 10.0 AND min_b <= 30.0
                            THEN n ELSE 0 END) AS BIGINT) AS rows_scanned,
                   CAST(sum(n_sel) AS BIGINT) AS rows_selected
            FROM roll GROUP BY layout)
        SELECT layout, n_files, files_scanned, rows_total, rows_scanned,
               rows_selected,
               round(1.0 - files_scanned / CAST(n_files AS DOUBLE), 6)
                   AS skip_ratio,
               round(rows_scanned /
                     CAST(greatest(rows_selected, 1) AS DOUBLE), 6)
                   AS read_amplification
        FROM agg ORDER BY layout
    """
    # X200: the suffix-array tier must equal brute-force substring
    # grouping — that equivalence IS the exactness claim.
    out["suffix_spans"] = f"""
        WITH docs AS (
            SELECT doc_id, text FROM {_SQL_PERTURBED_SRC} s(doc_id, text)
            WHERE text IS NOT NULL AND len(text) > 0),
        pos AS (
            SELECT doc_id, ip - 1 AS i, substr(text, ip, 16) AS gram
            FROM (SELECT doc_id, text,
                         unnest(generate_series(1, len(text) - 15)) AS ip
                  FROM docs)),
        grp AS (SELECT gram FROM pos GROUP BY gram HAVING count(*) >= 2),
        dup AS (SELECT doc_id, i FROM pos JOIN grp USING (gram)),
        isl AS (
            SELECT doc_id, i,
                   CASE WHEN lag(i) OVER w IS NULL
                             OR i - lag(i) OVER w > 16
                        THEN 1 ELSE 0 END AS brk
            FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
        isl2 AS (
            SELECT doc_id, i,
                   sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS island
            FROM isl)
        SELECT doc_id, CAST(min(i) AS BIGINT) AS start,
               CAST(max(i) + 16 - min(i) AS BIGINT) AS span_len
        FROM isl2 GROUP BY doc_id, island
        ORDER BY doc_id, start
    """
    out["conformal"] = """
        WITH base AS (
            SELECT lang AS g, n_chars AS s, doc_id AS id
            FROM documents WHERE n_chars IS NOT NULL),
        split AS (
            SELECT *, ('0x' || substr(md5(id::VARCHAR), 1, 8))::BIGINT
                      % 2 = 0 AS is_cal
            FROM base),
        cal AS (
            SELECT g, s,
                   row_number() OVER (PARTITION BY g ORDER BY s, id) AS rn
            FROM split WHERE is_cal),
        grid AS (
            SELECT g, n_cal, alpha,
                   CAST(ceil((n_cal + 1) * (1 - alpha) - 1e-9) AS BIGINT)
                       AS k
            FROM (SELECT g, CAST(count(*) AS BIGINT) AS n_cal
                  FROM split WHERE is_cal GROUP BY g),
                 (SELECT unnest([0.05, 0.1, 0.2]) AS alpha)),
        thr AS (
            SELECT grid.g, grid.alpha, grid.n_cal, grid.k,
                   CAST(cal.s AS DOUBLE) AS threshold
            FROM grid LEFT JOIN cal ON cal.g = grid.g AND cal.rn = grid.k),
        test AS (SELECT g, s FROM split WHERE NOT is_cal),
        cov AS (
            SELECT t.g, alpha, n_cal, k, threshold,
                   CAST(count(*) AS BIGINT) AS n_test,
                   CAST(sum(CASE WHEN threshold IS NULL OR s <= threshold
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_cov
            FROM test t JOIN thr ON thr.g = t.g
            GROUP BY 1, 2, 3, 4, 5)
        SELECT g AS lang, alpha, n_cal, k, threshold, n_test,
               round(n_cov / CAST(n_test AS DOUBLE), 6) AS coverage
        FROM cov ORDER BY lang, alpha
    """
    out["lsh_band_plan"] = """
        WITH facs AS (
            SELECT CAST(r AS INT) AS r, CAST(16 / r AS INT) AS b
            FROM generate_series(1, 16) t(r) WHERE 16 % r = 0),
        pts AS (
            SELECT b, r, (i + 0.5) / 500.0 AS s
            FROM facs, generate_series(0, 499) g(i)),
        terms AS (
            SELECT b, r,
                   CASE WHEN s < 0.5
                        THEN 1.0 - pow(1.0 - pow(s, r), b)
                        ELSE 0.0 END AS fp_term,
                   CASE WHEN s >= 0.5
                        THEN pow(1.0 - pow(s, r), b)
                        ELSE 0.0 END AS fn_term
            FROM pts),
        areas AS (
            SELECT b, r, sum(fp_term) / 500.0 AS fp_raw,
                   sum(fn_term) / 500.0 AS fn_raw
            FROM terms GROUP BY b, r)
        SELECT b, r,
               round(pow(1.0 - pow(2.0, -1.0 / b), 1.0 / r), 6) AS s50,
               round(fp_raw, 6) AS fp_area,
               round(fn_raw, 6) AS fn_area,
               round(fp_raw + fn_raw, 6) AS cost
        FROM areas ORDER BY cost, b
    """
    # X209: the coverage denominator is the UNROUNDED chao1 expression,
    # exactly as in the Spark operator.
    out["unseen_vocab"] = r"""
        WITH tk AS (
            SELECT source AS g, unnest(list_filter(string_split_regex(
                       lower(trim(coalesce(text, ''))), '\s+'),
                   t -> len(t) > 0)) AS tok
            FROM documents),
        gc AS (SELECT g, tok, count(*) AS c FROM tk GROUP BY 1, 2),
        ag AS (SELECT g, CAST(sum(c) AS BIGINT) AS n_tokens,
                      CAST(count(*) AS BIGINT) AS n_types,
                      CAST(count(*) FILTER (WHERE c = 1) AS BIGINT) AS n1,
                      CAST(count(*) FILTER (WHERE c = 2) AS BIGINT) AS n2
               FROM gc GROUP BY g)
        SELECT g AS source, n_tokens, n_types, n1, n2,
               round(n1 / CAST(n_tokens AS DOUBLE), 6) AS gt_unseen,
               round(n_types + n1 * (n1 - 1) / (2.0 * (n2 + 1)), 6)
                   AS chao1,
               round(n_types / (n_types + n1 * (n1 - 1)
                                / (2.0 * (n2 + 1))), 6) AS coverage
        FROM ag ORDER BY source
    """
    # X210: the released count uses the 6dp-PINNED noise (round before the
    # integer release), exactly as the Spark operator does, so cross-engine
    # ln() ULP drift cannot move n_released.
    out["dp_counts"] = r"""
        WITH c AS (
            SELECT source || '/' || lang AS src_lang,
                   CAST(count(*) AS BIGINT) AS n_exact
            FROM documents GROUP BY 1),
        n AS (
            SELECT src_lang, n_exact,
                   (CAST(('0x' || substr(md5('dp:' || src_lang), 1, 8))
                         AS BIGINT) + 0.5) / 4294967296.0 AS u
            FROM c),
        z AS (
            SELECT src_lang, n_exact,
                   round(-2.0 * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)),
                         6) AS noise
            FROM n)
        SELECT src_lang, n_exact, noise,
               CAST(greatest(0.0, round(n_exact + noise, 0)) AS BIGINT)
                   AS n_released,
               0.5 AS epsilon
        FROM z ORDER BY src_lang
    """
    # X211: per-signal row_number with the doc_id tiebreak mirrors the
    # range-partition + broadcast-offset global ranks on the Spark side.
    out["rrf_fusion"] = r"""
        WITH base AS (
            SELECT doc_id, coalesce(text, '') AS txt FROM documents),
        tk AS (
            SELECT doc_id, unnest(list_filter(string_split_regex(
                       lower(trim(txt)), '\s+'), t -> len(t) > 0)) AS tok
            FROM base),
        tstat AS (
            SELECT doc_id, count(*) AS n_toks,
                   count(DISTINCT tok) AS n_d
            FROM tk GROUP BY 1),
        sig AS (
            SELECT b.doc_id,
                   CAST(length(txt) AS DOUBLE) AS s_len,
                   coalesce(CAST(n_d AS DOUBLE) / n_toks, 0.0) AS s_ttr,
                   CAST(length(regexp_replace(txt, '[^A-Za-z]', '', 'g'))
                        AS DOUBLE) / greatest(length(txt), 1) AS s_alpha
            FROM base b LEFT JOIN tstat USING (doc_id)),
        r AS (
            SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY s_len DESC, doc_id)
                        AS BIGINT) AS rank_len,
                   CAST(row_number() OVER (ORDER BY s_ttr DESC, doc_id)
                        AS BIGINT) AS rank_ttr,
                   CAST(row_number() OVER (ORDER BY s_alpha DESC, doc_id)
                        AS BIGINT) AS rank_alpha
            FROM sig)
        SELECT doc_id, rank_len, rank_ttr, rank_alpha,
               round(1.0 / (60 + rank_len) + 1.0 / (60 + rank_ttr)
                     + 1.0 / (60 + rank_alpha), 9) AS rrf_score
        FROM r ORDER BY rrf_score DESC, doc_id LIMIT 100
    """
    out["margin_pairs"] = """
        WITH s AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id % 2 = 0 AND vec_id < 800),
        t AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id % 2 = 1 AND vec_id < 800),
        fwd AS (
            SELECT * FROM (
                SELECT src_id, tgt_id, cos_sim,
                       row_number() OVER (PARTITION BY src_id
                                          ORDER BY cos_sim DESC, tgt_id)
                           AS rnk
                FROM (
                    SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
                           round(list_cosine_similarity(s.v, t.v), 6)
                               AS cos_sim
                    FROM s, t))
            WHERE rnk <= 4),
        bwd AS (
            SELECT * FROM (
                SELECT tgt_id, src_id, cos_sim,
                       row_number() OVER (PARTITION BY tgt_id
                                          ORDER BY cos_sim DESC, src_id)
                           AS rnk
                FROM (
                    SELECT t.vec_id AS tgt_id, s.vec_id AS src_id,
                           round(list_cosine_similarity(t.v, s.v), 6)
                               AS cos_sim
                    FROM t, s))
            WHERE rnk <= 4),
        fa AS (SELECT src_id,
                      sum(CAST(round(cos_sim * 1000000.0) AS BIGINT)) AS fi,
                      count(*) AS fn
               FROM fwd GROUP BY 1),
        ba AS (SELECT tgt_id,
                      sum(CAST(round(cos_sim * 1000000.0) AS BIGINT)) AS bi,
                      count(*) AS bn
               FROM bwd GROUP BY 1),
        bb AS (SELECT tgt_id, src_id AS back_src FROM bwd WHERE rnk = 1),
        sc AS (
            SELECT f.src_id, f.tgt_id, f.cos_sim,
                   round(f.cos_sim
                         / ((fa.fi / 1000000.0 / fa.fn
                             + ba.bi / 1000000.0 / ba.bn) / 2.0), 6)
                       AS margin
            FROM fwd f JOIN fa USING (src_id) JOIN ba USING (tgt_id)),
        best AS (
            SELECT *, row_number() OVER (PARTITION BY src_id
                                         ORDER BY margin DESC, tgt_id) AS rn
            FROM sc)
        SELECT b.src_id, b.tgt_id, b.cos_sim, b.margin,
               coalesce(bb.back_src = b.src_id, FALSE) AS mutual
        FROM best b LEFT JOIN bb ON bb.tgt_id = b.tgt_id
        WHERE b.rn = 1 AND b.margin >= 1.0
        ORDER BY b.src_id
    """
    out["lof"] = """
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id < 600),
        g AS (
            SELECT p, o, d_i FROM (
                SELECT a.vec_id AS p, b.vec_id AS o,
                       CAST(round((1.0 - round(
                           list_cosine_similarity(a.v, b.v), 6))
                           * 1000000.0) AS BIGINT) AS d_i,
                       row_number() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY round(list_cosine_similarity(a.v, b.v), 6)
                                        DESC, b.vec_id) AS rnk
                FROM e a, e b WHERE a.vec_id != b.vec_id)
            WHERE rnk <= 5),
        kd AS (SELECT p AS o, max(d_i) AS kd_i FROM g GROUP BY 1),
        r AS (SELECT g.p, greatest(kd.kd_i, g.d_i) AS reach_i
              FROM g JOIN kd USING (o)),
        l AS (SELECT p, count(*) AS n,
                     CASE WHEN sum(reach_i) > 0
                          THEN round(count(*) * 1000000.0 / sum(reach_i), 6)
                     END AS lrd
              FROM r GROUP BY 1),
        li AS (SELECT p, n, lrd,
                      CAST(round(lrd * 1000000.0) AS BIGINT) AS lrd_i
               FROM l),
        nb AS (SELECT g.p, sum(li2.lrd_i) AS slo, count(li2.lrd_i) AS nlo
               FROM g JOIN li li2 ON li2.p = g.o GROUP BY 1)
        SELECT li.p AS vec_id, round(li.lrd, 6) AS lrd,
               CASE WHEN li.lrd_i IS NOT NULL AND li.lrd_i > 0
                         AND nb.nlo = li.n
                    THEN round(nb.slo / (li.n * li.lrd_i), 6) END AS lof,
               CASE WHEN (CASE WHEN li.lrd_i IS NOT NULL AND li.lrd_i > 0
                                    AND nb.nlo = li.n
                               THEN round(nb.slo / (li.n * li.lrd_i), 6)
                          END) IS NOT NULL
                    THEN (CASE WHEN li.lrd_i IS NOT NULL AND li.lrd_i > 0
                                    AND nb.nlo = li.n
                               THEN round(nb.slo / (li.n * li.lrd_i), 6)
                          END) >= 1.5
               END AS is_outlier
        FROM li JOIN nb USING (p) ORDER BY 1
    """
    out["canary_exposure"] = r"""
        WITH w AS (
            SELECT doc_id,
                   list_filter(string_split_regex(
                       lower(trim(coalesce(text, ''))), '\s+'),
                       t -> len(t) > 0) AS ws
            FROM documents),
        bg AS (
            SELECT doc_id, pair[1] AS w1, pair[2] AS w2 FROM (
                SELECT doc_id,
                       unnest(list_transform(
                           generate_series(1, greatest(len(ws) - 1, 0)),
                           i -> [ws[i], ws[i + 1]])) AS pair
                FROM w)),
        bc AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2),
        cc AS (SELECT w1, count(*) AS ctx FROM bg GROUP BY 1),
        v AS (SELECT count(DISTINCT tok) AS v FROM
                  (SELECT unnest(ws) AS tok FROM w)),
        s AS (
            SELECT b.doc_id,
                   ln((CAST(bc.c AS DOUBLE) + 0.5)
                      / (CAST(cc.ctx AS DOUBLE)
                         + 0.5 * CAST(v.v AS DOUBLE))) AS lp
            FROM bg b
            JOIN bc USING (w1, w2)
            JOIN cc USING (w1)
            CROSS JOIN v
            WHERE b.doc_id < 4 OR b.doc_id % 10 = 7),
        ppl AS (SELECT doc_id, round(exp(-sum(lp) / count(*)), 6) AS ppl
                FROM s GROUP BY 1),
        can AS (SELECT doc_id AS canary_id, ppl AS c_ppl
                FROM ppl WHERE doc_id < 4),
        pool AS (SELECT doc_id AS cand_id, ppl
                 FROM ppl WHERE doc_id >= 4),
        cands AS (
            SELECT c.canary_id, p.cand_id, p.ppl, FALSE AS is_canary
            FROM can c, pool p
            UNION ALL
            SELECT canary_id, canary_id, c_ppl, TRUE FROM can),
        r AS (SELECT *, row_number() OVER (PARTITION BY canary_id
                                           ORDER BY ppl, cand_id) AS rk
              FROM cands)
        SELECT canary_id,
               CAST(count(*) AS BIGINT) AS n_candidates,
               min(CASE WHEN is_canary THEN ppl END) AS canary_ppl,
               CAST(min(CASE WHEN is_canary THEN rk END) AS BIGINT)
                   AS canary_rank,
               round((ln(count(*))
                      - ln(min(CASE WHEN is_canary THEN rk END)))
                     / 0.6931471805599453, 6) AS exposure,
               min(CASE WHEN is_canary THEN rk END) = 1 AS memorized
        FROM r GROUP BY canary_id ORDER BY canary_id
    """
    out["brier"] = """
        WITH base AS (
            SELECT round(CAST(length(regexp_replace(coalesce(text, ''),
                              '[^A-Za-z]', '', 'g')) AS DOUBLE)
                         / greatest(length(coalesce(text, '')), 1), 3) AS s,
                   CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS y
            FROM documents),
        binned AS (
            SELECT least(9, CAST(floor(s * 10) AS INT)) AS bin, s, y
            FROM base),
        per AS (
            SELECT bin, count(*) AS n_b, sum(s) AS sum_s,
                   sum(y) AS pos_b, sum((s - y) * (s - y)) AS sum_sq
            FROM binned GROUP BY 1),
        terms AS (
            SELECT n_b, pos_b, sum_sq,
                   sum_s / n_b AS pbar,
                   CAST(pos_b AS DOUBLE) / n_b AS obar_b
            FROM per),
        roll AS (
            SELECT CAST(sum(n_b) AS BIGINT) AS n,
                   CAST(sum(pos_b) AS BIGINT) AS pos,
                   sum(n_b * (pbar - obar_b) * (pbar - obar_b)) AS s_rel,
                   sum(n_b * obar_b * obar_b) AS s_ob2,
                   sum(n_b * abs(pbar - obar_b)) AS s_ece,
                   max(abs(pbar - obar_b)) AS m_ce,
                   sum(sum_sq) AS s_sq
            FROM terms)
        SELECT n,
               round(CAST(pos AS DOUBLE) / n, 6) AS base_rate,
               round(s_sq / n, 6) AS brier,
               round(s_rel / n, 6) AS reliability,
               round(s_ob2 / n
                     - (CAST(pos AS DOUBLE) / n) * (CAST(pos AS DOUBLE) / n),
                     6) AS resolution,
               round((CAST(pos AS DOUBLE) / n)
                     * (1.0 - CAST(pos AS DOUBLE) / n), 6) AS uncertainty,
               round(s_ece / n, 6) AS ece,
               round(m_ce, 6) AS mce
        FROM roll
    """
    out["isotonic"] = r"""
        WITH t AS (
            SELECT list_filter(string_split_regex(
                       lower(trim(coalesce(text, ''))), '\s+'),
                       x -> len(x) > 0) AS ws,
                   n_chars
            FROM documents),
        base AS (
            SELECT least(19, CAST(floor(
                       round(CAST(len(list_distinct(ws)) AS DOUBLE)
                             / greatest(len(ws), 1), 3) * 20) AS INT)) AS bin,
                   CASE WHEN n_chars < 200 THEN 1 ELSE 0 END AS y
            FROM t),
        per AS (
            SELECT bin, CAST(count(*) AS BIGINT) AS n_b,
                   CAST(sum(y) AS BIGINT) AS pos_b
            FROM base GROUP BY 1),
        cums AS (
            SELECT bin, n_b, pos_b,
                   sum(n_b) OVER (ORDER BY bin) AS w1,
                   sum(pos_b) OVER (ORDER BY bin) AS c1
            FROM per),
        pairs AS (
            SELECT lo.bin AS j, hi.bin AS k,
                   CAST(hi.c1 - (lo.c1 - lo.pos_b) AS DOUBLE)
                       / (hi.w1 - (lo.w1 - lo.n_b)) AS avg_jk
            FROM cums lo, cums hi WHERE hi.bin >= lo.bin),
        mins AS (
            SELECT i.bin AS i, p.j, min(p.avg_jk) AS m
            FROM per i JOIN pairs p ON p.j <= i.bin AND p.k >= i.bin
            GROUP BY 1, 2),
        iso AS (SELECT i, max(m) AS iso_raw FROM mins GROUP BY 1)
        SELECT per.bin, per.n_b,
               round(CAST(per.pos_b AS DOUBLE) / per.n_b, 6) AS raw_rate,
               round(iso.iso_raw, 6) AS iso_p
        FROM per JOIN iso ON iso.i = per.bin
        ORDER BY per.bin
    """
    out["hll_overlap"] = r"""
        WITH tok AS (
            SELECT source AS g,
                   unnest(list_filter(string_split_regex(
                       lower(trim(coalesce(text, ''))), '\s+'),
                       t -> len(t) > 0)) AS k
            FROM documents),
        h AS (SELECT g, k,
                     ('0x' || substr(md5(k), 1, 15))::BIGINT AS hv
              FROM tok),
        r AS (SELECT g, hv % 64 AS reg, hv >> 6 AS w FROM h),
        rk AS (SELECT g, reg,
                      max(CASE WHEN w > 0 THEN 55 - len(bin(w))
                               ELSE 55 END) AS mrank
               FROM r GROUP BY 1, 2),
        perg AS (SELECT g, sum(pow(2.0::DOUBLE, -mrank)) AS z,
                        CAST(count(*) AS BIGINT) AS nz
                 FROM rk GROUP BY 1),
        exg AS (SELECT g, CAST(count(DISTINCT k) AS BIGINT) AS n_exact
                FROM tok GROUP BY 1),
        one AS (
            SELECT perg.g,
                   round(CASE WHEN 2904.064::DOUBLE / (z + (64 - nz))
                                   <= 160.0::DOUBLE AND (64 - nz) > 0
                              THEN 64.0::DOUBLE
                                   * ln(64.0::DOUBLE
                                        / CAST(64 - nz AS DOUBLE))
                              ELSE 2904.064::DOUBLE / (z + (64 - nz))
                         END, 6) AS e,
                   n_exact
            FROM perg JOIN exg USING (g)),
        pairs AS (SELECT a.g AS g_a, b.g AS g_b
                  FROM one a, one b WHERE a.g < b.g),
        mg AS (SELECT p.g_a, p.g_b, rk.reg, max(rk.mrank) AS mrank
               FROM pairs p JOIN rk ON rk.g = p.g_a OR rk.g = p.g_b
               GROUP BY 1, 2, 3),
        pp AS (SELECT g_a, g_b, sum(pow(2.0::DOUBLE, -mrank)) AS z,
                      CAST(count(*) AS BIGINT) AS nz
               FROM mg GROUP BY 1, 2),
        ue AS (
            SELECT g_a, g_b,
                   round(CASE WHEN 2904.064::DOUBLE / (z + (64 - nz))
                                   <= 160.0::DOUBLE AND (64 - nz) > 0
                              THEN 64.0::DOUBLE
                                   * ln(64.0::DOUBLE
                                        / CAST(64 - nz AS DOUBLE))
                              ELSE 2904.064::DOUBLE / (z + (64 - nz))
                         END, 6) AS union_est
            FROM pp),
        ks AS (SELECT DISTINCT g, k FROM tok),
        inter AS (SELECT x.g AS g_a, y.g AS g_b,
                         CAST(count(*) AS BIGINT) AS n_overlap
                  FROM ks x JOIN ks y ON x.k = y.k AND x.g < y.g
                  GROUP BY 1, 2),
        fin AS (
            SELECT ue.g_a, ue.g_b, a.e AS est_a, b.e AS est_b,
                   ue.union_est,
                   round(greatest(0.0::DOUBLE,
                                  a.e + b.e - ue.union_est), 6)
                       AS overlap_est,
                   coalesce(i.n_overlap, 0) AS n_overlap,
                   a.n_exact + b.n_exact - coalesce(i.n_overlap, 0)
                       AS n_union
            FROM ue
            JOIN one a ON a.g = ue.g_a
            JOIN one b ON b.g = ue.g_b
            LEFT JOIN inter i ON i.g_a = ue.g_a AND i.g_b = ue.g_b)
        SELECT g_a, g_b, est_a, est_b, union_est, overlap_est,
               round(overlap_est / union_est, 6) AS jaccard_est,
               n_union, n_overlap,
               round(CAST(n_overlap AS DOUBLE) / n_union, 6)
                   AS jaccard_exact
        FROM fin ORDER BY g_a, g_b
    """
    out["cdc_dedup"] = r"""
        WITH t AS (
            SELECT doc_id, coalesce(text, '') AS t,
                   length(coalesce(text, '')) AS L
            FROM documents),
        cuts AS (
            SELECT doc_id,
                   unnest(list_filter(generate_series(8, L - 1),
                       i -> ('0x' || substr(md5(substr(t, i - 7, 8)),
                                            1, 8))::BIGINT % 32 = 0)) AS c
            FROM t),
        b AS (
            SELECT doc_id, c FROM cuts
            UNION ALL
            SELECT doc_id, L AS c FROM t WHERE L > 0),
        ord AS (
            SELECT doc_id, c AS e,
                   coalesce(lag(c) OVER (PARTITION BY doc_id ORDER BY c),
                            0) AS s
            FROM b),
        chunks AS (
            SELECT o.doc_id, o.e - o.s AS clen,
                   md5(substr(t.t, o.s + 1, o.e - o.s)) AS chash
            FROM ord o JOIN t USING (doc_id)),
        cnt AS (SELECT chash, count(*) AS n_copies FROM chunks GROUP BY 1)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dup_chunks,
               round(CAST(sum(CASE WHEN n_copies > 1 THEN clen
                                   ELSE 0 END) AS DOUBLE)
                     / sum(clen), 6) AS dup_char_share
        FROM chunks JOIN cnt USING (chash)
        GROUP BY doc_id ORDER BY doc_id
    """
    out["bitext_filter"] = r"""
        WITH src AS (
            SELECT doc_id // 2 AS pair_id, text AS src_text
            FROM documents WHERE doc_id % 2 = 0),
        tgt AS (
            SELECT (doc_id - 1) // 2 AS pair_id, text AS tgt_text
            FROM documents WHERE doc_id % 2 = 1),
        p AS (SELECT pair_id, src_text, tgt_text,
                     coalesce(src_text, '') AS s,
                     coalesce(tgt_text, '') AS t
              FROM src JOIN tgt USING (pair_id)),
        c AS (
            SELECT pair_id, src_text, tgt_text,
                   CASE WHEN least(length(s), length(t)) > 0
                        THEN round(CAST(greatest(length(s), length(t))
                                        AS DOUBLE)
                                   / least(length(s), length(t)), 6)
                   END AS len_ratio,
                   CAST(len(list_filter(string_split_regex(
                       lower(trim(s)), '\s+'), x -> len(x) > 0))
                       AS BIGINT) AS n_tok_src,
                   CAST(len(list_filter(string_split_regex(
                       lower(trim(t)), '\s+'), x -> len(x) > 0))
                       AS BIGINT) AS n_tok_tgt,
                   list_sort(regexp_extract_all(s, '\d+'))
                       = list_sort(regexp_extract_all(t, '\d+'))
                       AS numbers_match,
                   (lower(trim(s)) = lower(trim(t)) AND length(s) > 0)
                       AS is_copy
            FROM p),
        g AS (
            SELECT *,
                   (len_ratio IS NOT NULL AND len_ratio <= 2.0)
                       AS ok_ratio,
                   (n_tok_src BETWEEN 1 AND 500
                    AND n_tok_tgt BETWEEN 1 AND 500) AS ok_tok
            FROM c)
        SELECT pair_id, src_text, tgt_text, len_ratio, n_tok_src,
               n_tok_tgt, numbers_match, is_copy,
               (ok_ratio AND ok_tok AND numbers_match AND NOT is_copy)
                   AS keep,
               CASE WHEN NOT ok_ratio THEN 'len_ratio'
                    WHEN NOT ok_tok THEN 'token_bounds'
                    WHEN NOT numbers_match THEN 'number_mismatch'
                    WHEN is_copy THEN 'copy' END AS drop_reason
        FROM g ORDER BY pair_id
    """
    out["bloom_pruning"] = r"""
        WITH w AS (
            SELECT source AS shard,
                   list_filter(string_split_regex(
                       lower(trim(coalesce(text, ''))), '\s+'),
                       t -> len(t) > 0) AS ws
            FROM documents),
        tok AS (
            SELECT shard,
                   unnest(list_transform(
                       generate_series(1, greatest(len(ws) - 2, 0)),
                       i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]))
                       AS tok
            FROM w),
        pr AS (SELECT DISTINCT tok AS key FROM tok
               WHERE ('0x' || substr(md5(tok), 1, 8))::BIGINT % 397 = 0),
        bp AS (
            SELECT shard,
                   unnest([
                       ('0x' || substr(md5('0:' || tok), 1, 15))::BIGINT
                           % 8192,
                       ('0x' || substr(md5('1:' || tok), 1, 15))::BIGINT
                           % 8192,
                       ('0x' || substr(md5('2:' || tok), 1, 15))::BIGINT
                           % 8192]) AS pos
            FROM tok),
        idx AS (SELECT shard, pos // 60 AS idx,
                       bit_or(1::BIGINT << CAST(pos % 60 AS INT)) AS word
                FROM bp GROUP BY 1, 2),
        shards AS (SELECT DISTINCT shard FROM idx),
        ppos AS (
            SELECT key,
                   unnest([
                       ('0x' || substr(md5('0:' || key), 1, 15))::BIGINT
                           % 8192,
                       ('0x' || substr(md5('1:' || key), 1, 15))::BIGINT
                           % 8192,
                       ('0x' || substr(md5('2:' || key), 1, 15))::BIGINT
                           % 8192]) AS pos
            FROM pr),
        ppos2 AS (SELECT key, pos // 60 AS idx,
                         1::BIGINT << CAST(pos % 60 AS INT) AS mask
                  FROM ppos),
        combos AS (SELECT p.key, p.idx, p.mask, s.shard
                   FROM ppos2 p, shards s),
        hits AS (
            SELECT c.key, c.shard,
                   (count(*) FILTER (WHERE (i.word & c.mask) <> 0)) = 3
                       AS might
            FROM combos c
            LEFT JOIN idx i ON i.shard = c.shard AND i.idx = c.idx
            GROUP BY 1, 2),
        truth AS (SELECT DISTINCT t.shard, t.tok AS key
                  FROM tok t JOIN pr ON pr.key = t.tok),
        per AS (
            SELECT h.key,
                   CAST(count(*) AS BIGINT) AS n_shards,
                   CAST(sum(CASE WHEN h.might THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_probed,
                   CAST(sum(CASE WHEN tr.key IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_actual
            FROM hits h
            LEFT JOIN truth tr ON tr.key = h.key AND tr.shard = h.shard
            GROUP BY 1)
        SELECT key, n_shards, n_probed, n_actual,
               round(1.0 - CAST(n_probed AS DOUBLE) / n_shards, 6)
                   AS skipped_share,
               CASE WHEN n_shards > n_actual
                    THEN round(CAST(n_probed - n_actual AS DOUBLE)
                               / (n_shards - n_actual), 6)
                    ELSE 0.0 END AS false_probe_rate
        FROM per ORDER BY key
    """
    out["dim_truncation"] = """
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings),
        q AS (SELECT * FROM e WHERE vec_id < 32),
        nq AS (SELECT CAST(count(*) AS BIGINT) AS n FROM q),
        full_g AS (
            SELECT query_id, cand_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY round(list_cosine_similarity(q.v, c.v),
                                          6) DESC, c.vec_id) AS rnk
                FROM q, e c WHERE c.vec_id != q.vec_id)
            WHERE rnk <= 5),
        dims AS (SELECT unnest([8, 16, 32]) AS d),
        trunc_g AS (
            SELECT d, query_id, cand_id FROM (
                SELECT dims.d, q.vec_id AS query_id, c.vec_id AS cand_id,
                       row_number() OVER (
                           PARTITION BY dims.d, q.vec_id
                           ORDER BY round(list_cosine_similarity(
                                        q.v[1:dims.d], c.v[1:dims.d]),
                                          6) DESC, c.vec_id) AS rnk
                FROM dims, q, e c WHERE c.vec_id != q.vec_id)
            WHERE rnk <= 5),
        hits AS (
            SELECT t.d, CAST(count(*) AS BIGINT) AS n_hit
            FROM trunc_g t
            JOIN full_g f USING (query_id, cand_id)
            GROUP BY 1)
        SELECT CAST(h.d AS BIGINT) AS d,
               CAST(5 AS BIGINT) AS k,
               nq.n AS n_queries,
               round(h.n_hit / (5.0 * nq.n), 6) AS mean_recall
        FROM hits h CROSS JOIN nq ORDER BY d
    """
    out["label_prop"] = """
        WITH ed0 AS (
            SELECT doc_id AS src,
                   CAST(floor(doc_id / 2) AS BIGINT) AS dst
            FROM documents WHERE doc_id > 0
            UNION ALL
            SELECT doc_id, (doc_id * 13 + 7) % 97 FROM documents),
        und AS (SELECT DISTINCT a, b FROM (
            SELECT src AS a, dst AS b FROM ed0
            UNION ALL SELECT dst, src FROM ed0)),
        l0 AS (SELECT DISTINCT a AS node, a AS label FROM und),
        v1 AS (SELECT u.a AS node, l.label FROM und u
               JOIN l0 l ON l.node = u.b
               UNION ALL SELECT node, label FROM l0),
        c1 AS (SELECT node, label, count(*) AS c FROM v1 GROUP BY 1, 2),
        l1 AS (SELECT node, label FROM (
                SELECT node, label, row_number() OVER (
                    PARTITION BY node ORDER BY c DESC, label) AS rn
                FROM c1) WHERE rn = 1),
        v2 AS (SELECT u.a AS node, l.label FROM und u
               JOIN l1 l ON l.node = u.b
               UNION ALL SELECT node, label FROM l1),
        c2 AS (SELECT node, label, count(*) AS c FROM v2 GROUP BY 1, 2),
        l2 AS (SELECT node, label FROM (
                SELECT node, label, row_number() OVER (
                    PARTITION BY node ORDER BY c DESC, label) AS rn
                FROM c2) WHERE rn = 1),
        v3 AS (SELECT u.a AS node, l.label FROM und u
               JOIN l2 l ON l.node = u.b
               UNION ALL SELECT node, label FROM l2),
        c3 AS (SELECT node, label, count(*) AS c FROM v3 GROUP BY 1, 2),
        l3 AS (SELECT node, label FROM (
                SELECT node, label, row_number() OVER (
                    PARTITION BY node ORDER BY c DESC, label) AS rn
                FROM c3) WHERE rn = 1),
        v4 AS (SELECT u.a AS node, l.label FROM und u
               JOIN l3 l ON l.node = u.b
               UNION ALL SELECT node, label FROM l3),
        c4 AS (SELECT node, label, count(*) AS c FROM v4 GROUP BY 1, 2),
        l4 AS (SELECT node, label FROM (
                SELECT node, label, row_number() OVER (
                    PARTITION BY node ORDER BY c DESC, label) AS rn
                FROM c4) WHERE rn = 1)
        SELECT node, label AS community FROM l4 ORDER BY node
    """
    _inj = r"""
        inj AS (
            SELECT doc_id,
                   coalesce(text, '') || ' contact: user'
                   || CAST(doc_id % 7 AS VARCHAR) || '@example.org'
                   || CASE WHEN doc_id % 3 = 0
                           THEN ' cc USER' || CAST(doc_id % 7 AS VARCHAR)
                                || '@Example.org'
                           ELSE '' END AS text
            FROM documents)"""
    _email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    out["pseudonymize"] = (
        "WITH " + _inj + f""",
        pieces AS (
            SELECT doc_id,
                   string_split_regex(text, '{_email}') AS parts,
                   regexp_extract_all(text, '{_email}') AS ms,
                   text
            FROM inj)
        SELECT doc_id,
               CASE WHEN len(ms) > 0
                    THEN parts[1] || coalesce(list_aggregate(
                        list_transform(generate_series(1, len(ms)),
                            i -> '<EMAIL_'
                                 || substr(md5(lower(ms[i])), 1, 6)
                                 || '>' || parts[i + 1]),
                        'string_agg', ''), '')
                    ELSE text END AS scrubbed
        FROM pieces ORDER BY doc_id
    """
    )
    out["pseudonym_map"] = (
        "WITH " + _inj + f""",
        ents AS (
            SELECT doc_id,
                   lower(unnest(regexp_extract_all(text, '{_email}')))
                       AS entity
            FROM inj)
        SELECT entity,
               '<EMAIL_' || substr(md5(entity), 1, 6) || '>' AS pseudonym,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_occurrences
        FROM ents GROUP BY entity ORDER BY entity
    """
    )
    out["hamming_recall"] = """
        WITH base AS (
            SELECT doc_id AS id,
                   ('0x' || substr(md5('phr-' || CAST(doc_id AS VARCHAR)),
                                   1, 15))::BIGINT AS code,
                   (doc_id % 7) + 1 AS nf
            FROM documents),
        twins AS (
            SELECT id + 1000000 AS id,
                   xor(code, list_aggregate(list_transform(
                       generate_series(1, CAST(nf AS INT)),
                       j -> 1::BIGINT
                            << CAST((7 * id + 11 * j) % 60 AS INT)),
                       'bit_or')) AS code
            FROM base),
        pop AS (SELECT id, code FROM base
                UNION ALL SELECT id, code FROM twins),
        truth AS (
            SELECT hamming, count(*) AS n_true FROM (
                SELECT bit_count(xor(a.code, b.code)) AS hamming
                FROM pop a JOIN pop b ON a.id < b.id)
            WHERE hamming <= 7 GROUP BY 1),
        banded AS (
            SELECT id, code, b.b AS band,
                   (code >> (b.b * 16)) & 65535 AS band_key
            FROM pop, (SELECT unnest([0, 1, 2, 3]) AS b) b),
        cand AS (
            SELECT DISTINCT id_a, id_b, hamming FROM (
                SELECT a.id AS id_a, b.id AS id_b,
                       bit_count(xor(a.code, b.code)) AS hamming
                FROM banded a
                JOIN banded b ON a.band = b.band
                             AND a.band_key = b.band_key
                             AND a.id < b.id)
            WHERE hamming <= 7),
        caught AS (SELECT hamming, count(*) AS n_caught
                   FROM cand GROUP BY 1)
        SELECT CAST(t.hamming AS BIGINT) AS hamming,
               t.hamming < 4 AS guaranteed,
               CAST(t.n_true AS BIGINT) AS n_true,
               CAST(coalesce(c.n_caught, 0) AS BIGINT) AS n_caught,
               round(CAST(coalesce(c.n_caught, 0) AS DOUBLE) / t.n_true, 6)
                   AS recall
        FROM truth t LEFT JOIN caught c USING (hamming)
        ORDER BY t.hamming
    """
    out["confusables"] = r"""
        WITH inj AS (
            SELECT doc_id,
                   coalesce(text, '')
                   || CASE WHEN doc_id % 5 = 0 THEN ' frее-оffеr'
                           ELSE '' END
                   || CASE WHEN doc_id % 11 = 0 THEN ' привет'
                           ELSE '' END AS text
            FROM documents),
        t AS (
            SELECT doc_id AS id,
                   unnest(list_filter(string_split_regex(
                       lower(trim(text)), '\s+'),
                       w -> len(w) > 0)) AS tok
            FROM inj),
        f AS (
            SELECT id, tok,
                   (regexp_matches(tok, '[a-z]')
                    AND regexp_matches(tok, '[Ѐ-ӿ]')) AS mixed
            FROM t),
        g AS (
            SELECT id, tok, mixed,
                   (mixed AND NOT regexp_matches(
                       translate(tok, 'аеорсухіѕ', 'aeopcyxis'),
                       '[Ѐ-ӿ]')) AS spoof
            FROM f)
        SELECT id AS doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN mixed THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_mixed,
               CAST(sum(CASE WHEN spoof THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_spoof,
               round(CAST(sum(CASE WHEN mixed THEN 1 ELSE 0 END)
                          AS DOUBLE) / count(*), 6) AS mixed_share,
               sum(CASE WHEN spoof THEN 1 ELSE 0 END) > 0 AS spoof_flag
        FROM g GROUP BY id ORDER BY id
    """
    out["dict_build"] = """
        WITH toks AS (
            SELECT source,
                   string_split_regex(lower(trim(text)), '\\s+') AS t
            FROM documents WHERE text IS NOT NULL),
        grams AS (
            SELECT source, gram
            FROM toks,
                 UNNEST(list_distinct(list_filter(
                     list_transform(
                         range(0, greatest(len(t) - 2, 0) + 1),
                         i -> array_to_string(list_slice(t, i + 1, i + 2), ' ')),
                     g -> length(g) > 0))) AS u(gram)),
        counts AS (
            SELECT source, gram, count(*) AS df_count
            FROM grams GROUP BY 1, 2 HAVING count(*) >= 2),
        ranked AS (
            SELECT source, gram,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY df_count DESC, gram ASC) AS rk
            FROM counts)
        SELECT source,
               string_agg(gram, chr(10) ORDER BY rk DESC) AS dict_text
        FROM ranked WHERE rk <= 16
        GROUP BY source ORDER BY source
    """
    out["robots_gate"] = """
        WITH u AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 6 = 5 THEN source || '.norules'
                        ELSE source || '.example' END AS host,
                   CASE doc_id % 6
                     WHEN 0 THEN '/search?q=' || doc_id
                     WHEN 1 THEN '/private/' || doc_id
                     WHEN 2 THEN '/private/files/' || doc_id
                     WHEN 3 THEN '/assets/img' || doc_id || '.pdf'
                     WHEN 4 THEN '/tmp/' || doc_id
                     ELSE '/search?q=' || doc_id END AS path
            FROM documents),
        urls AS (
            SELECT doc_id, 'https://' || host || path AS url, host, path
            FROM u),
        rules AS (
            SELECT DISTINCT source || '.example' AS host, r.rule, r.allow
            FROM documents,
                 (VALUES ('/private', false), ('/private/files', true),
                         ('/*.pdf$', false), ('/search?*', false),
                         ('/tmp', false), ('/tmp', true)) AS r(rule, allow)),
        compiled AS (
            SELECT host, rule, allow,
                   CASE WHEN rule LIKE '%$' THEN esc ELSE esc || '%' END AS pat
            FROM (
                SELECT host, rule, allow,
                       replace(replace(replace(replace(
                           CASE WHEN rule LIKE '%$'
                                THEN substr(rule, 1, length(rule) - 1)
                                ELSE rule END,
                           '!', '!!'), '%', '!%'), '_', '!_'), '*', '%') AS esc
                FROM rules)),
        cand AS (
            SELECT urls.doc_id, c.rule, c.allow,
                   row_number() OVER (
                       PARTITION BY urls.doc_id
                       ORDER BY strlen(c.rule) DESC, c.allow DESC,
                                c.rule ASC) AS rk
            FROM urls JOIN compiled c
              ON urls.host = c.host AND urls.path LIKE c.pat ESCAPE '!')
        SELECT urls.doc_id, urls.url, urls.host, urls.path,
               b.rule, coalesce(b.allow, true) AS crawl_ok
        FROM urls LEFT JOIN (SELECT * FROM cand WHERE rk = 1) b
          ON urls.doc_id = b.doc_id
        ORDER BY urls.doc_id
    """
    out["code_detect"] = """
        WITH base AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 9 = 0 THEN
                       'def f(x):' || chr(10) ||
                       '    y = (x + 1);' || chr(10) ||
                       '    return [y, x];' || chr(10) ||
                       '# done with it' || chr(10) ||
                       'const z = 42;'
                   ELSE text END AS text
            FROM documents),
        feats AS (
            SELECT doc_id,
                   coalesce(text, '') AS t,
                   list_filter(string_split(coalesce(text, ''), chr(10)),
                               l -> length(trim(l)) > 0) AS lines,
                   list_filter(string_split_regex(trim(coalesce(text, '')),
                                                  '\\s+'),
                               x -> length(x) > 0) AS toks
            FROM base),
        counts AS (
            SELECT doc_id,
                   len(lines) AS n_lines,
                   len(toks) AS n_tokens,
                   len(list_filter(lines,
                       l -> regexp_matches(l, '^(  |\\t)'))) AS ind,
                   len(list_filter(lines,
                       l -> regexp_matches(l, '[;{}]\\s*$'))) AS semi_c,
                   len(list_filter(lines,
                       l -> regexp_matches(l, '^\\s*(//|#|/\\*|\\*|--)\\s'))) AS comm,
                   length(t) AS n_chars,
                   length(t) - length(regexp_replace(t,
                       '[{}()\\[\\];=<>]', '', 'g')) AS sym,
                   len(list_filter(toks, x -> regexp_matches(x,
                       '^(def|class|import|return|function|var|let|const|void|int|float|public|private|static|elif|except|catch|lambda|struct|enum|impl|fn|pub|package|interface|extends|implements|null|nullptr|None|self)$'))) AS kw,
                   len(list_filter(toks, x -> regexp_matches(x,
                       '^([a-z]+[A-Z][A-Za-z0-9]*|[a-z0-9]+_[a-z0-9_]+)$'))) AS ident
            FROM feats),
        shares AS (
            SELECT doc_id, n_lines, n_tokens,
                   CASE WHEN n_lines > 0 THEN round(ind / CAST(n_lines AS DOUBLE), 6) ELSE 0.0 END AS indent_share,
                   CASE WHEN n_lines > 0 THEN round(semi_c / CAST(n_lines AS DOUBLE), 6) ELSE 0.0 END AS semi_share,
                   CASE WHEN n_lines > 0 THEN round(comm / CAST(n_lines AS DOUBLE), 6) ELSE 0.0 END AS comment_share,
                   CASE WHEN n_chars > 0 THEN round(sym / CAST(n_chars AS DOUBLE), 6) ELSE 0.0 END AS symbol_density,
                   CASE WHEN n_tokens > 0 THEN round(kw / CAST(n_tokens AS DOUBLE), 6) ELSE 0.0 END AS kw_rate,
                   CASE WHEN n_tokens > 0 THEN round(ident / CAST(n_tokens AS DOUBLE), 6) ELSE 0.0 END AS ident_rate
            FROM counts)
        SELECT *,
               ((CASE WHEN symbol_density >= 0.03 THEN 1 ELSE 0 END)
              + (CASE WHEN kw_rate >= 0.05 THEN 1 ELSE 0 END)
              + (CASE WHEN semi_share >= 0.2 THEN 1 ELSE 0 END)
              + (CASE WHEN indent_share >= 0.3 THEN 1 ELSE 0 END)
              + (CASE WHEN ident_rate >= 0.15 THEN 1 ELSE 0 END)) AS code_points,
               ((CASE WHEN symbol_density >= 0.03 THEN 1 ELSE 0 END)
              + (CASE WHEN kw_rate >= 0.05 THEN 1 ELSE 0 END)
              + (CASE WHEN semi_share >= 0.2 THEN 1 ELSE 0 END)
              + (CASE WHEN indent_share >= 0.3 THEN 1 ELSE 0 END)
              + (CASE WHEN ident_rate >= 0.15 THEN 1 ELSE 0 END)) >= 2 AS is_code
        FROM shares ORDER BY doc_id
    """
    out["weighted_quantiles"] = """
        WITH base AS (
            SELECT source, n_chars AS val,
                   len(list_filter(
                       string_split_regex(trim(coalesce(text, '')), '\\s+'),
                       x -> length(x) > 0)) AS w
            FROM documents),
        g AS (
            SELECT source, val, CAST(sum(w) AS BIGINT) AS w
            FROM base WHERE val IS NOT NULL AND w > 0
            GROUP BY 1, 2),
        c AS (
            SELECT source, val,
                   sum(w) OVER (PARTITION BY source ORDER BY val) AS cw,
                   sum(w) OVER (PARTITION BY source) AS tw
            FROM g),
        qd AS (
            SELECT CAST(q AS DOUBLE) AS q, num, den
            FROM (VALUES (0.5, 1, 2), (0.9, 9, 10), (0.99, 99, 100))
                 t(q, num, den))
        SELECT source, qd.q, min(val) AS value
        FROM c, qd
        WHERE cw * den >= num * tw
        GROUP BY 1, 2 ORDER BY 1, 2
    """
    out["crawl_schedule"] = """
        WITH frontier AS (
            SELECT doc_id, source || '.example' AS host,
                   'https://' || source || '.example/p/' || doc_id AS url
            FROM documents),
        delays AS (
            SELECT DISTINCT source || '.example' AS host,
                   CAST(length(source) * 250 AS BIGINT) AS delay_ms
            FROM documents WHERE length(source) % 2 = 0),
        seqd AS (
            SELECT f.doc_id, f.host, f.url,
                   CAST(row_number() OVER (
                       PARTITION BY f.host ORDER BY md5(f.url), f.url)
                       - 1 AS BIGINT) AS seq,
                   coalesce(d.delay_ms, 1000) AS delay_ms
            FROM frontier f LEFT JOIN delays d ON f.host = d.host)
        SELECT doc_id, host, url, seq, delay_ms,
               seq * delay_ms AS eta_ms,
               CAST((('0x' || substr(md5(host), 1, 8))::BIGINT % 8) AS INT)
                   AS worker
        FROM seqd ORDER BY doc_id
    """
    out["crawl_audit"] = """
        WITH frontier AS (
            SELECT doc_id, source || '.example' AS host,
                   'https://' || source || '.example/p/' || doc_id AS url
            FROM documents),
        delays AS (
            SELECT DISTINCT source || '.example' AS host,
                   CAST(length(source) * 250 AS BIGINT) AS delay_ms
            FROM documents WHERE length(source) % 2 = 0),
        seqd AS (
            SELECT f.host,
                   coalesce(d.delay_ms, 1000) AS delay_ms,
                   CAST((('0x' || substr(md5(f.host), 1, 8))::BIGINT % 8)
                        AS INT) AS worker
            FROM frontier f LEFT JOIN delays d ON f.host = d.host),
        per_host AS (
            SELECT worker, host, count(*) AS n_urls,
                   count(*) * max(delay_ms) AS span_ms
            FROM seqd GROUP BY 1, 2),
        ranked AS (
            SELECT *, row_number() OVER (
                       PARTITION BY worker
                       ORDER BY span_ms DESC, host ASC) AS rk
            FROM per_host)
        SELECT worker,
               CAST(sum(n_urls) AS BIGINT) AS n_urls,
               count(*) AS n_hosts,
               max(span_ms) AS bound_ms,
               max(CASE WHEN rk = 1 THEN host END) AS bottleneck_host
        FROM ranked GROUP BY worker ORDER BY worker
    """
    out["waterfill"] = """
        WITH src AS (
            SELECT source AS k,
                   CAST(count(*) * 1000 AS BIGINT) AS t,
                   CAST(coalesce(sum(CASE WHEN doc_id % 2 = 0
                                          THEN n_chars END), 0) AS BIGINT)
                       AS cap
            FROM documents GROUP BY 1),
        live AS (SELECT * FROM src WHERE t > 0 AND cap > 0),
        pre AS (
            SELECT k, t, cap,
                   CAST(sum(cap) OVER w AS BIGINT) AS capsum,
                   CAST(sum(t) OVER w AS BIGINT) AS tsum,
                   CAST(sum(t) OVER () AS BIGINT) AS t_all,
                   CAST(sum(cap) OVER () AS BIGINT) AS totcap,
                   row_number() OVER w AS rk
            FROM live
            WINDOW w AS (ORDER BY CAST(cap AS DOUBLE) / t, k)),
        ks AS (
            SELECT max(CASE WHEN (t_all - tsum) > 0
                             AND cap * (t_all - tsum)
                                 <= (100000 - capsum) * t
                            THEN rk END) AS kstar,
                   max(totcap) AS ktotcap
            FROM pre),
        boundary AS (
            SELECT coalesce(ks.kstar, 0) AS kstar,
                   coalesce(p.capsum, 0) AS bcapsum,
                   coalesce(p.tsum, 0) AS btsum,
                   ks.ktotcap AS totcap,
                   (SELECT max(t_all) FROM pre) AS bT
            FROM ks LEFT JOIN pre p ON p.rk = ks.kstar),
        alloc AS (
            SELECT p.k, p.t, p.cap,
                   CASE WHEN 100000 >= b.totcap THEN p.cap
                        WHEN p.rk <= b.kstar THEN p.cap
                        ELSE least(p.cap,
                                   CAST(((100000 - b.bcapsum) * p.t)
                                       // (b.bT - b.btsum) AS BIGINT))
                        END AS alloc
            FROM pre p CROSS JOIN boundary b),
        flagged AS (
            SELECT k, t, cap, alloc, alloc >= cap AS capped FROM alloc
            UNION ALL
            SELECT k, t, cap, CAST(0 AS BIGINT), false
            FROM src WHERE t <= 0 OR cap <= 0),
        fin AS (
            SELECT *,
                   CAST(least(100000,
                              sum(CASE WHEN t > 0 THEN cap ELSE 0 END)
                                  OVER ())
                        - sum(alloc) OVER () AS BIGINT) AS leftover
            FROM flagged)
        SELECT k AS source, t AS target_w, cap, alloc, capped, leftover
        FROM fin ORDER BY source
    """
    out["lexicon_gate"] = """
        WITH docs AS (
            SELECT doc_id,
                   coalesce(text, '') ||
                   CASE doc_id % 8
                     WHEN 0 THEN ' badword'
                     WHEN 1 THEN ' b4dw0rd'
                     WHEN 2 THEN ' $lurx!!'
                     WHEN 3 THEN ' spamterm'
                     ELSE '' END AS text
            FROM documents),
        lex(term, sev) AS (
            SELECT * FROM (VALUES ('badword', 2), ('slurx', 3),
                                  ('spamterm', 1))),
        raws AS (
            SELECT doc_id, raw
            FROM docs,
                 UNNEST(list_filter(
                     string_split_regex(lower(text), '\\s+'),
                     x -> length(x) > 0)) AS u(raw)),
        toks AS (
            SELECT doc_id, raw, tok
            FROM raws,
                 UNNEST(list_filter(
                     string_split_regex(
                         translate(raw, '431057$@', 'aeiostsa'),
                         '[^a-z0-9]+'),
                     x -> length(x) > 0)) AS u(tok)),
        hits AS (
            SELECT t.doc_id, t.tok, l.sev,
                   CASE WHEN list_contains(
                            list_filter(
                                string_split_regex(t.raw, '[^a-z0-9]+'),
                                x -> length(x) > 0),
                            t.tok)
                        THEN 0 ELSE 1 END AS obf
            FROM toks t JOIN lex l ON t.tok = l.term),
        per AS (
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_hits,
                   CAST(sum(obf) AS BIGINT) AS n_obfuscated,
                   CAST(max(sev) AS INT) AS max_severity,
                   array_to_string(list_sort(list_distinct(list(tok))), ',')
                       AS terms
            FROM hits GROUP BY 1)
        SELECT d.doc_id,
               coalesce(p.n_hits, 0) AS n_hits,
               coalesce(p.n_obfuscated, 0) AS n_obfuscated,
               CAST(coalesce(p.max_severity, 0) AS INT) AS max_severity,
               coalesce(p.terms, '') AS terms,
               (coalesce(p.n_hits, 0) <= 0
                AND coalesce(p.max_severity, 0) <= 1) AS keep
        FROM docs d LEFT JOIN per p ON d.doc_id = p.doc_id
        ORDER BY d.doc_id
    """
    out["crawl_rollup"] = """
        WITH base AS (
            SELECT doc_id, n_chars,
                   (CASE doc_id % 3 WHEN 0 THEN 'www.'
                                    WHEN 1 THEN 'cdn.' ELSE '' END)
                   || source
                   || (CASE WHEN doc_id % 2 = 0 THEN '.co.uk'
                            ELSE '.org' END) AS host,
                   CASE WHEN doc_id >= 0 THEN n_chars >= 200 END AS keep
            FROM documents),
        parts AS (
            SELECT doc_id, n_chars, host, keep,
                   string_split(host, '.') AS lab
            FROM base),
        dom AS (
            SELECT doc_id, n_chars, host, keep,
                   lab[len(lab)] AS tld,
                   CASE WHEN len(lab) >= 3
                             AND lab[len(lab) - 1] = 'co'
                             AND lab[len(lab)] = 'uk'
                        THEN lab[len(lab) - 2] || '.co.uk'
                        ELSE lab[len(lab) - 1] || '.' || lab[len(lab)]
                   END AS domain
            FROM parts)
        SELECT tld, domain, host,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS n_chars,
               round(avg(CASE WHEN keep THEN 1.0 ELSE 0.0 END), 6)
                   AS keep_rate
        FROM dom
        GROUP BY ROLLUP (tld, domain, host)
        ORDER BY tld NULLS FIRST, domain NULLS FIRST, host NULLS FIRST
    """
    out["url_spam"] = """
        WITH urls AS (
            SELECT doc_id,
                   CASE doc_id % 5
                     WHEN 0 THEN 'https://www.' || source || '.org/a'
                     WHEN 1 THEN 'http://a.b.c.d.' || source || '.tk/x'
                     WHEN 2 THEN 'https://get-rich-fast-' || doc_id
                                 || '-now.top/'
                     WHEN 3 THEN 'https://xn--spoof-' || source || '.com/p'
                     ELSE 'https://img' || doc_id || '0' || doc_id
                          || '.cdn.example.org/i'
                   END AS url
            FROM documents),
        hosts AS (
            SELECT doc_id, url,
                   lower(regexp_extract(url,
                       '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/@]*@)?([^/:?#]+)',
                       1)) AS host
            FROM urls),
        sig AS (
            SELECT doc_id, url, host,
                   CAST(len(list_filter(string_split(host, '.'),
                                        x -> length(x) > 0)) AS BIGINT)
                       AS n_labels,
                   replace(host, '.', '') AS nondot,
                   replace(replace(host, 'xn--', ''), '.', '') AS dehyph
            FROM hosts),
        sig2 AS (
            SELECT doc_id, url, host, n_labels,
                   CASE WHEN length(nondot) > 0
                        THEN round((length(nondot)
                              - length(regexp_replace(nondot, '[0-9]', '',
                                                      'g')))
                             / CAST(length(nondot) AS DOUBLE), 6)
                        ELSE 0.0 END AS digit_share,
                   CAST(length(dehyph)
                        - length(replace(dehyph, '-', '')) AS BIGINT)
                       AS n_hyphens,
                   contains(host, 'xn--') AS is_punycode,
                   regexp_extract(host, '([^.]+)$', 1)
                       IN ('tk','ml','ga','cf','gq','top','icu') AS spammy_tld
            FROM sig)
        SELECT doc_id, url, host, n_labels, digit_share, n_hyphens,
               is_punycode, spammy_tld,
               ((CASE WHEN n_labels >= 5 THEN 1 ELSE 0 END)
              + (CASE WHEN digit_share >= 0.25 THEN 1 ELSE 0 END)
              + (CASE WHEN n_hyphens >= 3 THEN 1 ELSE 0 END)
              + (CASE WHEN is_punycode THEN 1 ELSE 0 END)
              + (CASE WHEN spammy_tld THEN 1 ELSE 0 END)) AS spam_points,
               ((CASE WHEN n_labels >= 5 THEN 1 ELSE 0 END)
              + (CASE WHEN digit_share >= 0.25 THEN 1 ELSE 0 END)
              + (CASE WHEN n_hyphens >= 3 THEN 1 ELSE 0 END)
              + (CASE WHEN is_punycode THEN 1 ELSE 0 END)
              + (CASE WHEN spammy_tld THEN 1 ELSE 0 END)) >= 2
                   AS is_spammy_host
        FROM sig2 ORDER BY doc_id
    """
    out["crawl_funnel"] = r"""
        WITH frontier AS (
            SELECT doc_id, source,
                   CASE doc_id % 4
                     WHEN 0 THEN 'https://www.' || source || '.org/a/'
                                 || (doc_id % 40)
                     WHEN 1 THEN 'http://a.b.c.d.' || source || '.tk/x/'
                                 || doc_id
                     WHEN 2 THEN 'HTTPS://www.' || source || '.org:443/a/'
                                 || (doc_id % 40) || '?utm_source=f'
                     ELSE 'https://www.' || source || '.org/private/'
                          || doc_id END AS url
            FROM documents),
        hosts AS (
            SELECT doc_id, url,
                   lower(regexp_extract(url,
                       '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/@]*@)?([^/:?#]+)',
                       1)) AS host
            FROM frontier),
        spam AS (
            SELECT doc_id, url, host,
                   ((CASE WHEN len(string_split(host, '.')) >= 5
                          THEN 1 ELSE 0 END)
                  + (CASE WHEN length(replace(host, '.', '')) > 0
                           AND (length(replace(host, '.', ''))
                                - length(regexp_replace(replace(host, '.', ''),
                                                        '[0-9]', '', 'g')))
                               / CAST(length(replace(host, '.', ''))
                                      AS DOUBLE) >= 0.25
                          THEN 1 ELSE 0 END)
                  + (CASE WHEN length(replace(host, 'xn--', ''))
                               - length(replace(replace(host, 'xn--', ''),
                                                '-', '')) >= 3
                          THEN 1 ELSE 0 END)
                  + (CASE WHEN contains(host, 'xn--') THEN 1 ELSE 0 END)
                  + (CASE WHEN regexp_extract(host, '([^.]+)$', 1)
                               IN ('tk','ml','ga','cf','gq','top','icu')
                          THEN 1 ELSE 0 END)) AS pts
            FROM hosts),
        spam_pass AS (
            SELECT doc_id, url, host FROM spam WHERE pts < 2),
        robots_pass AS (
            -- one Disallow /private rule per www.<source>.org host;
            -- path+query match target, longest (only) rule decides
            SELECT doc_id, url FROM spam_pass
            WHERE NOT (
                regexp_extract(regexp_replace(url,
                    '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/@]*@)?([^/:?#]+)',
                    ''), '^(?::\d*)?([^#]*)', 1) LIKE '/private%'
                AND host LIKE 'www.%.org')),
        canon AS (
            SELECT DISTINCT regexp_replace(regexp_replace(regexp_replace(
                   regexp_replace(regexp_replace(regexp_replace(
                   regexp_replace(
                       lower(regexp_extract(trim(url),
                           '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1))
                       || regexp_replace(trim(url),
                           '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', ''),
                   '^(http://[^/?#:]+):80(/|\?|$)', '\1\2'),
                   '^(https://[^/?#:]+):443(/|\?|$)', '\1\2'),
                   '#.*$', ''),
                   '[?&](utm_[A-Za-z0-9_]+|fbclid|gclid|msclkid|mc_eid)=[^&#]*',
                   '', 'g'),
                   '^([^?]*)&', '\1?'),
                   '[?&]$', ''),
                   '^(.+?)/+$', '\1') AS c
            FROM robots_pass)
        SELECT 1 AS stage_no, 'frontier' AS stage,
               CAST((SELECT count(*) FROM frontier) AS BIGINT) AS n
        UNION ALL
        SELECT 2, 'spam_gate', CAST((SELECT count(*) FROM spam_pass) AS BIGINT)
        UNION ALL
        SELECT 3, 'robots', CAST((SELECT count(*) FROM robots_pass) AS BIGINT)
        UNION ALL
        SELECT 4, 'canonical_unique',
               CAST((SELECT count(*) FROM canon) AS BIGINT)
        ORDER BY stage_no
    """
    out["index_staleness"] = """
        WITH cents(cell, dim, c) AS (
            SELECT * FROM (VALUES
                (0, 0,  0.5), (0, 1,  0.5), (0, 2,  0.5), (0, 3,  0.5),
                (1, 0, -0.5), (1, 1,  0.5), (1, 2, -0.5), (1, 3,  0.5),
                (2, 0,  0.5), (2, 1, -0.5), (2, 2,  0.5), (2, 3, -0.5),
                (3, 0, -0.5), (3, 1, -0.5), (3, 2, -0.5), (3, 3, -0.5))),
        base AS (
            SELECT vec_id,
                   list_transform(embedding[1:4],
                                  x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings),
        train_d AS (
            SELECT vec_id, u.gi - 1 AS dim, e[u.gi] AS v
            FROM base, UNNEST(range(1, 5)) AS u(gi)
            WHERE vec_id % 2 = 0),
        new_d AS (
            SELECT vec_id, u.gi - 1 AS dim,
                   CASE WHEN u.gi = 1 THEN e[u.gi] + 0.8 ELSE e[u.gi] END AS v
            FROM base, UNNEST(range(1, 5)) AS u(gi)
            WHERE vec_id % 2 = 1),
        ta AS (
            SELECT vec_id, cell, d2 FROM (
                SELECT t.vec_id, c.cell,
                       round(sum((t.v - c.c) * (t.v - c.c)), 6) AS d2,
                       row_number() OVER (
                           PARTITION BY t.vec_id
                           ORDER BY round(sum((t.v - c.c) * (t.v - c.c)), 6),
                                    c.cell) AS rnk
                FROM train_d t JOIN cents c ON t.dim = c.dim
                GROUP BY 1, 2) WHERE rnk = 1),
        na AS (
            SELECT vec_id, cell, d2 FROM (
                SELECT t.vec_id, c.cell,
                       round(sum((t.v - c.c) * (t.v - c.c)), 6) AS d2,
                       row_number() OVER (
                           PARTITION BY t.vec_id
                           ORDER BY round(sum((t.v - c.c) * (t.v - c.c)), 6),
                                    c.cell) AS rnk
                FROM new_d t JOIN cents c ON t.dim = c.dim
                GROUP BY 1, 2) WHERE rnk = 1),
        t AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_train,
                     round(avg(d2), 6) AS train_resid FROM ta GROUP BY 1),
        n AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_new,
                     round(avg(d2), 6) AS new_resid FROM na GROUP BY 1),
        j AS (
            SELECT coalesce(t.cell, n.cell) AS cell,
                   coalesce(n_train, 0) AS n_train,
                   coalesce(n_new, 0) AS n_new,
                   train_resid, new_resid,
                   coalesce(n_train, 0)
                       / CAST(sum(coalesce(n_train, 0)) OVER () AS DOUBLE)
                       AS ts,
                   coalesce(n_new, 0)
                       / CAST(sum(coalesce(n_new, 0)) OVER () AS DOUBLE)
                       AS ns
            FROM t FULL JOIN n ON t.cell = n.cell),
        fin AS (
            SELECT cell, n_train, n_new,
                   round(ts, 6) AS train_share,
                   round(ns, 6) AS new_share,
                   CASE WHEN ts > 0 THEN round(ns / ts, 6) END AS share_ratio,
                   train_resid, new_resid,
                   CASE WHEN train_resid > 0
                        THEN round(new_resid / train_resid, 6)
                   END AS resid_growth
            FROM j)
        SELECT cell, n_train, n_new, train_share, new_share,
               coalesce(share_ratio, -1.0) AS share_ratio,
               coalesce(train_resid, -1.0) AS train_resid,
               coalesce(new_resid, -1.0) AS new_resid,
               coalesce(resid_growth, -1.0) AS resid_growth,
               (share_ratio IS NULL OR abs(share_ratio - 1.0) > 0.5
                OR resid_growth > 2.0) AS stale
        FROM fin ORDER BY cell
    """
    out["quality_metrics"] = """
        WITH long AS (
            SELECT 'n_chars' AS col, CAST(n_chars AS DOUBLE) AS nv,
                   CAST(NULL AS VARCHAR) AS sv,
                   n_chars IS NULL AS is_nul,
                   CAST(n_chars AS VARCHAR) AS hk
            FROM documents
            UNION ALL
            SELECT 'lang', NULL, lang, lang IS NULL, lang FROM documents
            UNION ALL
            SELECT 'source', NULL, source, source IS NULL, source
            FROM documents),
        agg AS (
            SELECT col,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN is_nul THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_null,
                   min(nv) AS min_num, max(nv) AS max_num,
                   sum(nv) AS sum_num,
                   min(sv) AS min_str, max(sv) AS max_str,
                   CAST(sum(length(sv)) AS BIGINT) AS sum_len
            FROM long GROUP BY 1),
        h AS (
            SELECT col,
                   ('0x' || substr(md5(hk), 1, 15))::BIGINT AS hv
            FROM long WHERE NOT is_nul),
        r AS (SELECT col, hv % 64 AS reg, hv >> 6 AS w FROM h),
        rk AS (
            SELECT col, reg,
                   max(CASE WHEN w > 0 THEN 55 - len(bin(w))
                            ELSE 55 END) AS mrank
            FROM r GROUP BY 1, 2),
        z AS (
            SELECT col,
                   sum(pow(2.0::DOUBLE, -mrank)) + (64 - count(*)) AS z,
                   CAST(64 - count(*) AS BIGINT)
                       + CAST(sum(CASE WHEN mrank = 0 THEN 1 ELSE 0 END)
                              AS BIGINT) AS zeros
            FROM rk GROUP BY 1),
        hll AS (
            SELECT col,
                   round(CASE WHEN 2904.064::DOUBLE / z <= 160.0::DOUBLE
                                   AND zeros > 0
                              THEN 64.0::DOUBLE
                                   * ln(64.0::DOUBLE / zeros)
                              ELSE 2904.064::DOUBLE / z END, 6)
                       AS distinct_est
            FROM z)
        SELECT a.col AS "column", a.n, a.n_null,
               round(1.0 - a.n_null / CAST(a.n AS DOUBLE), 6)
                   AS completeness,
               coalesce(a.min_num, -1.0) AS min_num,
               coalesce(a.max_num, -1.0) AS max_num,
               coalesce(CASE WHEN a.n - a.n_null > 0
                    THEN round(a.sum_num / (a.n - a.n_null), 6) END, -1.0)
                   AS mean_num,
               coalesce(a.min_str, '') AS min_str,
               coalesce(a.max_str, '') AS max_str,
               coalesce(CASE WHEN a.n - a.n_null > 0
                    THEN round(a.sum_len / CAST(a.n - a.n_null AS DOUBLE), 6)
               END, -1.0) AS avg_len,
               h.distinct_est
        FROM agg a JOIN hll h ON a.col = h.col
        ORDER BY a.col
    """
    out["rollout_power"] = """
        WITH per AS (
            SELECT source AS g, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END)
                        AS BIGINT) AS pos
            FROM documents GROUP BY 1),
        m AS (
            SELECT g, n,
                   CAST(pos AS DOUBLE) / n AS p,
                   (1.959963984540054 + 0.8416212335729143)
                       * sqrt(2.0 * (CAST(pos AS DOUBLE) / n)
                              * (1.0 - CAST(pos AS DOUBLE) / n) / n)
                       AS mde
            FROM per)
        SELECT g AS source, n,
               round(p, 6) AS keep_rate,
               round(mde, 6) AS mde_abs,
               CASE WHEN p > 0 THEN round(mde / p, 6) END AS mde_rel,
               mde <= 0.01 AS can_detect_1pct
        FROM m ORDER BY source
    """
    _mor_base = """
        WITH data AS (
            SELECT o_orderkey AS k, o_custkey AS cust,
                   o_totalprice AS price,
                   CAST(o_orderkey % 3 + 1 AS BIGINT) AS data_seq,
                   'f' || CAST(o_orderkey % 8 AS VARCHAR) AS file_path,
                   CAST(row_number() OVER (PARTITION BY o_orderkey % 8
                                           ORDER BY o_orderkey)
                        AS BIGINT) AS pos
            FROM orders),
        pos_del AS (
            SELECT file_path, pos, CAST(2 AS BIGINT) AS delete_seq
            FROM data WHERE k % 11 = 0),
        eq_del AS (
            SELECT DISTINCT cust, CAST(3 AS BIGINT) AS delete_seq
            FROM data WHERE cust % 13 = 0),
        pd AS (SELECT file_path, pos, max(delete_seq) AS ds
               FROM pos_del GROUP BY 1, 2),
        ed AS (SELECT cust, max(delete_seq) AS ds FROM eq_del GROUP BY 1),
        flagged AS (
            SELECT d.*,
                   (pd.ds IS NOT NULL AND pd.ds >= d.data_seq) AS pos_hit,
                   (ed.ds IS NOT NULL AND ed.ds > d.data_seq) AS eq_hit
            FROM data d
            LEFT JOIN pd ON d.file_path = pd.file_path AND d.pos = pd.pos
            LEFT JOIN ed ON d.cust = ed.cust)
    """
    out["mor_read"] = (
        _mor_base
        + """
        SELECT data_seq, CAST(count(*) AS BIGINT) AS n_live,
               CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT)
                   AS cents_live
        FROM flagged WHERE NOT pos_hit AND NOT eq_hit
        GROUP BY 1 ORDER BY 1
    """
    )
    out["mor_audit"] = (
        _mor_base
        + """
        SELECT data_seq, CAST(count(*) AS BIGINT) AS n_input,
               CAST(sum(CASE WHEN pos_hit THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_pos_del,
               CAST(sum(CASE WHEN eq_hit AND NOT pos_hit THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_eq_del,
               CAST(sum(CASE WHEN NOT pos_hit AND NOT eq_hit THEN 1 ELSE 0
                        END) AS BIGINT) AS n_live
        FROM flagged GROUP BY 1 ORDER BY 1
    """
    )
    out["changelog"] = """
        WITH o AS (
            SELECT o_orderkey AS k,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders),
        b AS (SELECT * FROM o WHERE k % 5 <> 0),
        a AS (SELECT k,
                     CASE WHEN k % 3 = 0 THEN cents + 1000 ELSE cents END
                         AS cents
              FROM o WHERE k % 7 <> 0)
        SELECT k, cents, change FROM (
            SELECT a.k, a.cents, 'insert' AS change
            FROM a LEFT JOIN b ON a.k = b.k WHERE b.k IS NULL
            UNION ALL
            SELECT b.k, b.cents, 'delete'
            FROM b LEFT JOIN a ON a.k = b.k WHERE a.k IS NULL
            UNION ALL
            SELECT b.k, b.cents, 'update_before'
            FROM b JOIN a ON a.k = b.k WHERE a.cents <> b.cents
            UNION ALL
            SELECT a.k, a.cents, 'update_after'
            FROM b JOIN a ON a.k = b.k WHERE a.cents <> b.cents)
        ORDER BY k, change
    """
    out["maxsim"] = """
        WITH d AS (
            SELECT vec_id // 4 AS doc_id, vec_id % 4 AS unit_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
            FROM embeddings),
        dn AS (
            SELECT doc_id, unit_id, dv,
                   sqrt(list_sum(list_transform(dv, x -> x * x))) AS n
            FROM d),
        q AS (
            SELECT doc_id AS query_id, unit_id AS term_id,
                   dv AS qv, n AS qn
            FROM dn WHERE doc_id < 3),
        pair AS (
            SELECT q.query_id, q.term_id, dn.doc_id,
                   round(CASE WHEN q.qn > 0 AND dn.n > 0 THEN
                       list_sum(list_transform(range(1, 65),
                                               i -> qv[i] * dv[i]))
                           / (q.qn * dn.n)
                       ELSE 0 END, 6) AS c
            FROM q CROSS JOIN dn),
        tm AS (SELECT query_id, term_id, doc_id, max(c) AS m
               FROM pair GROUP BY 1, 2, 3),
        sc AS (SELECT query_id, doc_id, round(sum(m), 6) AS maxsim
               FROM tm GROUP BY 1, 2),
        r AS (
            SELECT query_id, doc_id, maxsim,
                   CAST(row_number() OVER (PARTITION BY query_id
                                           ORDER BY maxsim DESC, doc_id)
                        AS INTEGER) AS rank
            FROM sc)
        SELECT query_id, doc_id, maxsim, rank
        FROM r WHERE rank <= 5 ORDER BY query_id, rank
    """
    out["ivm_rollup"] = """
        WITH o AS (
            SELECT o_orderkey AS k,
                   CAST(o_orderkey % 10 AS BIGINT) AS g,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders),
        a AS (SELECT k, g,
                     CASE WHEN k % 3 = 0 THEN cents + 1000 ELSE cents END
                         AS cents
              FROM o WHERE k % 7 <> 0)
        SELECT g, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS sum_cents,
               CAST(count(cents) AS BIGINT) AS nn_cents
        FROM a GROUP BY 1 ORDER BY g
    """
    out["ndcg"] = f"""
        WITH cb AS (
            SELECT vec_id, embedding,
                   unnest({_sql_axis_buckets(6, 8)}) AS bucket
            FROM embeddings),
        cand AS (
            SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
            FROM cb c JOIN cb q USING (bucket)
            WHERE q.vec_id < 8 AND c.vec_id != q.vec_id),
        ann AS (
            SELECT query_id, cand_id, cos_sim, rnk FROM (
                SELECT query_id, cand_id, cos_sim,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos_sim DESC, cand_id)
                           AS rnk
                FROM (
                    SELECT cand.query_id, cand.cand_id,
                           round(list_cosine_similarity(
                               CAST(qe.embedding AS DOUBLE[]),
                               CAST(ce.embedding AS DOUBLE[])), 6)
                               AS cos_sim
                    FROM cand
                    JOIN embeddings qe ON qe.vec_id = cand.query_id
                    JOIN embeddings ce ON ce.vec_id = cand.cand_id))
            WHERE rnk <= 5),
        brute AS (
            SELECT query_id, cand_id, cos_sim, rnk FROM (
                SELECT query_id, cand_id, cos_sim,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos_sim DESC, cand_id)
                           AS rnk
                FROM (
                    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                           round(list_cosine_similarity(
                               CAST(q.embedding AS DOUBLE[]),
                               CAST(c.embedding AS DOUBLE[])), 6)
                               AS cos_sim
                    FROM embeddings c, embeddings q
                    WHERE q.vec_id < 8 AND c.vec_id != q.vec_id))
            WHERE rnk <= 5),
        d AS (
            SELECT query_id,
                   round(sum(greatest(cos_sim, 0.0) / log2(rnk + 1)), 6)
                       AS dcg
            FROM ann GROUP BY 1),
        i AS (
            SELECT query_id,
                   round(sum(greatest(cos_sim, 0.0) / log2(rnk + 1)), 6)
                       AS idcg
            FROM brute GROUP BY 1)
        SELECT i.query_id,
               coalesce(d.dcg, 0.0) AS dcg, i.idcg,
               CASE WHEN i.idcg > 0
                    THEN round(coalesce(d.dcg, 0.0) / i.idcg, 6)
                    ELSE 0.0 END AS ndcg_at_5
        FROM i LEFT JOIN d ON d.query_id = i.query_id
        ORDER BY i.query_id
    """
    out["xmodal_recall"] = r"""
        WITH tok AS (
            SELECT doc_id,
                   unnest(list_filter(
                       string_split_regex(lower(trim(text)), '\s+'),
                       t -> len(t) > 0)) AS tok
            FROM documents
            WHERE doc_id < 200
              AND text IS NOT NULL AND len(trim(text)) > 0),
        h AS (
            SELECT doc_id,
                   ('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 AS bucket,
                   CASE WHEN ('0x' || substr(md5(tok), 9, 1))::BIGINT % 2 = 0
                        THEN 1 ELSE -1 END AS sgn
            FROM tok),
        wt AS (
            SELECT doc_id, bucket, CAST(sum(sgn) AS BIGINT) AS wt
            FROM h GROUP BY 1, 2),
        feat AS (
            SELECT doc_id, CAST(sum(wt * wt) AS BIGINT) AS n2
            FROM wt GROUP BY 1),
        img AS (
            SELECT vec_id AS img, CAST(embedding AS DOUBLE[]) AS v,
                   sqrt(list_aggregate(
                       list_transform(CAST(embedding AS DOUBLE[]),
                                      x -> x * x), 'sum')) AS vn
            FROM embeddings WHERE vec_id < 16),
        dots AS (
            SELECT i.img, w.doc_id AS id,
                   sum(w.wt * i.v[CAST(w.bucket AS INTEGER) + 1]) AS dot
            FROM wt w CROSS JOIN img i
            WHERE i.vn > 0
            GROUP BY 1, 2),
        scored AS (
            SELECT d.img, d.id,
                   round(d.dot / (sqrt(CAST(f.n2 AS DOUBLE)) * i.vn), 6)
                       AS c
            FROM dots d
            JOIN feat f ON f.doc_id = d.id AND f.n2 > 0
            JOIN img i ON i.img = d.img),
        ranked AS (
            SELECT img, id, c,
                   row_number() OVER (PARTITION BY img
                                      ORDER BY c DESC, id) AS rnk
            FROM scored),
        own AS (SELECT img, rnk AS true_rank FROM ranked WHERE id = img),
        top1 AS (SELECT img, id AS top1_id FROM ranked WHERE rnk = 1)
        SELECT i.img AS img_id,
               CAST(coalesce(o.true_rank, -1) AS INTEGER) AS true_rank,
               coalesce(o.true_rank, 1000000000) <= 5 AS hit_at_5,
               CAST(coalesce(t.top1_id, -1) AS BIGINT) AS top1_id
        FROM img i
        LEFT JOIN own o ON o.img = i.img
        LEFT JOIN top1 t ON t.img = i.img
        WHERE i.vn > 0
        ORDER BY img_id
    """
    out["hilbert_layout"] = f"""
        WITH hsrc AS (
            SELECT CAST(n_chars % 256 AS BIGINT) AS ox,
                   CAST(doc_id % 256 AS BIGINT) AS oy,
                   CAST(n_chars % 256 AS BIGINT) AS hx,
                   CAST(doc_id % 256 AS BIGINT) AS hy
            FROM documents),
        {_sql_hilbert_stages(8)}
        SELECT hd // 1024 AS bucket,
               CAST(count(*) AS BIGINT) AS n,
               min(hd) AS min_hk, max(hd) AS max_hk,
               max(ox) - min(ox) AS span_x,
               max(oy) - min(oy) AS span_y
        FROM hfin GROUP BY 1 ORDER BY bucket
    """
    _morton8 = " | ".join(
        f"(((ca >> {i}) & 1) << {2 * i + 1})"
        f" | (((cb >> {i}) & 1) << {2 * i})"
        for i in range(16)
    ).replace("ca", "least(greatest(a, 0), 65535)").replace(
        "cb", "least(greatest(b, 0), 65535)"
    )
    out["hilbert_pruning"] = f"""
        WITH base AS MATERIALIZED (
            SELECT doc_id AS id,
                   CAST(n_chars % 256 AS BIGINT) AS a,
                   CAST(doc_id % 256 AS BIGINT) AS b
            FROM documents),
        hsrc AS (SELECT id, a AS ox, b AS oy, a AS hx, b AS hy FROM base),
        {_sql_hilbert_stages(8).replace("SELECT ox", "SELECT id, ox")}
        ,
        tagged AS MATERIALIZED (
            SELECT base.id, base.a, base.b,
                   ntile(16) OVER (ORDER BY base.a, base.b, base.id)
                       AS f_linear,
                   ntile(16) OVER (ORDER BY ({_morton8}), base.id)
                       AS f_zorder,
                   ntile(16) OVER (ORDER BY hfin.hd, base.id) AS f_hilbert,
                   CASE WHEN base.a BETWEEN 40.0 AND 120.0
                             AND base.b BETWEEN 32.0 AND 96.0
                        THEN 1 ELSE 0 END AS sel
            FROM base JOIN hfin ON hfin.id = base.id),
        lin AS (SELECT f_linear AS f, min(a) AS min_a, max(a) AS max_a,
                       min(b) AS min_b, max(b) AS max_b,
                       count(*) AS n, sum(sel) AS n_sel
                FROM tagged GROUP BY 1),
        zor AS (SELECT f_zorder AS f, min(a), max(a), min(b), max(b),
                       count(*), sum(sel)
                FROM tagged GROUP BY 1),
        hil AS (SELECT f_hilbert AS f, min(a), max(a), min(b), max(b),
                       count(*), sum(sel)
                FROM tagged GROUP BY 1),
        roll AS (
            SELECT 'linear' AS layout, * FROM lin
            UNION ALL SELECT 'zorder', * FROM zor
            UNION ALL SELECT 'hilbert', * FROM hil),
        agg AS (
            SELECT layout,
                   CAST(count(*) AS BIGINT) AS n_files,
                   CAST(sum(CASE WHEN max_a >= 40.0 AND min_a <= 120.0
                                 AND max_b >= 32.0 AND min_b <= 96.0
                            THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
                   CAST(sum(n) AS BIGINT) AS rows_total,
                   CAST(sum(CASE WHEN max_a >= 40.0 AND min_a <= 120.0
                                 AND max_b >= 32.0 AND min_b <= 96.0
                            THEN n ELSE 0 END) AS BIGINT) AS rows_scanned,
                   CAST(sum(n_sel) AS BIGINT) AS rows_selected
            FROM roll GROUP BY layout)
        SELECT layout, n_files, files_scanned, rows_total, rows_scanned,
               rows_selected,
               round(1.0 - files_scanned / CAST(n_files AS DOUBLE), 6)
                   AS skip_ratio,
               round(rows_scanned /
                     CAST(greatest(rows_selected, 1) AS DOUBLE), 6)
                   AS read_amplification
        FROM agg ORDER BY layout
    """
    out["overlap_join"] = """
        WITH e AS (SELECT event_id, epoch_us(ts) AS us FROM events),
        l AS (SELECT event_id AS l_id, us AS l_lo,
                     us + (event_id % 120) * 1000000 AS l_hi
              FROM e WHERE event_id % 2 = 0),
        r AS (SELECT event_id AS r_id, us AS r_lo,
                     us + (event_id % 90) * 1000000 AS r_hi
              FROM e WHERE event_id % 2 = 1)
        SELECT l_id, r_id,
               least(l_hi, r_hi) - greatest(l_lo, r_lo) + 1 AS overlap_us
        FROM l, r
        WHERE l_lo <= r_hi AND r_lo <= l_hi
        ORDER BY l_id, r_id
    """
    out["mwu_test"] = """
        WITH rows_ AS (
            SELECT CAST(n_chars AS DOUBLE) AS v, lang = 'en' AS is_a
            FROM documents
            WHERE lang IN ('en', 'es') AND n_chars IS NOT NULL),
        per_v AS (
            SELECT v, CAST(count(*) AS DOUBLE) AS t,
                   CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS DOUBLE)
                       AS t_a
            FROM rows_ GROUP BY v),
        ranked AS (
            SELECT *, coalesce(sum(t) OVER (ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0.0) AS cum_prev
            FROM per_v),
        agg AS (
            SELECT sum(t_a) AS na, sum(t - t_a) AS nb,
                   sum(t_a * (cum_prev + (t + 1) / 2)) AS r_a,
                   sum(t * t * t - t) AS tie_term
            FROM ranked)
        SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
               round(r_a - na * (na + 1) / 2, 6) AS u_a,
               round(na * nb - (r_a - na * (na + 1) / 2), 6) AS u_b,
               CASE WHEN na * nb / 12 * ((na + nb + 1)
                         - tie_term / ((na + nb) * (na + nb - 1))) > 0
                    THEN round((r_a - na * (na + 1) / 2 - na * nb / 2)
                               / sqrt(na * nb / 12 * ((na + nb + 1)
                                      - tie_term / ((na + nb)
                                                    * (na + nb - 1)))), 6)
               END AS z
        FROM agg
    """
    out["snb_pairs"] = """
        WITH d AS (
            SELECT doc_id,
                   substr(lower(trim(text)), 1, 4)
                       || '|' || CAST(n_chars AS VARCHAR) AS k1,
                   substr(reverse(lower(trim(text))), 1, 4)
                       || '|' || CAST(n_chars AS VARCHAR) AS k2
            FROM documents WHERE text IS NOT NULL),
        p1 AS (
            SELECT doc_id AS id,
                   lead(doc_id, 1) OVER (ORDER BY k1, doc_id) AS n1,
                   lead(doc_id, 2) OVER (ORDER BY k1, doc_id) AS n2
            FROM d),
        p2 AS (
            SELECT doc_id AS id,
                   lead(doc_id, 1) OVER (ORDER BY k2, doc_id) AS n1,
                   lead(doc_id, 2) OVER (ORDER BY k2, doc_id) AS n2
            FROM d),
        stacked AS (
            SELECT id, n1 AS other FROM p1 WHERE n1 IS NOT NULL
            UNION ALL SELECT id, n2 FROM p1 WHERE n2 IS NOT NULL
            UNION ALL SELECT id, n1 FROM p2 WHERE n1 IS NOT NULL
            UNION ALL SELECT id, n2 FROM p2 WHERE n2 IS NOT NULL)
        SELECT DISTINCT least(id, other) AS id_a,
                        greatest(id, other) AS id_b
        FROM stacked ORDER BY id_a, id_b
    """
    out["zonemap_scan"] = """
        WITH o AS (
            SELECT CAST(year(o_orderdate) AS INTEGER) AS bucket,
                   CAST(o_orderdate AS DATE) AS d
            FROM orders),
        s AS (
            SELECT bucket, min(d) AS mn_d, max(d) AS mx_d,
                   COUNT(*) AS n_rows
            FROM o GROUP BY bucket),
        m AS (
            SELECT bucket, COUNT(*) AS n_match FROM o
            WHERE d BETWEEN DATE '1995-03-01' AND DATE '1995-06-30'
            GROUP BY bucket)
        SELECT s.bucket,
               CAST(s.mn_d AS VARCHAR) AS mn_d,
               CAST(s.mx_d AS VARCHAR) AS mx_d,
               (s.mn_d <= DATE '1995-06-30'
                AND s.mx_d >= DATE '1995-03-01') AS can_match,
               COALESCE(m.n_match, 0) AS n_match,
               s.n_rows
        FROM s LEFT JOIN m USING (bucket)
        ORDER BY s.bucket
    """
    out["bound_overlap"] = """
        WITH o AS (
            SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS d
            FROM orders),
        cb AS (
            SELECT CAST(year(d) - 1992 AS INTEGER) AS bucket,
                   min(d) AS mn, max(d) AS mx, COUNT(*) AS n_rows
            FROM o GROUP BY 1),
        hb AS (
            SELECT CAST(k % 7 AS INTEGER) AS bucket,
                   min(d) AS mn, max(d) AS mx, COUNT(*) AS n_rows
            FROM o GROUP BY 1),
        co AS (
            SELECT a.bucket, a.mn, a.mx, a.n_rows,
                   COUNT(b.bucket) AS n_overlaps
            FROM cb a LEFT JOIN cb b
              ON a.bucket <> b.bucket AND a.mn <= b.mx AND b.mn <= a.mx
            GROUP BY 1, 2, 3, 4),
        ho AS (
            SELECT a.bucket, a.mn, a.mx, a.n_rows,
                   COUNT(b.bucket) AS n_overlaps
            FROM hb a LEFT JOIN hb b
              ON a.bucket <> b.bucket AND a.mn <= b.mx AND b.mn <= a.mx
            GROUP BY 1, 2, 3, 4)
        SELECT layout, bucket,
               CAST(mn AS VARCHAR) AS mn_d, CAST(mx AS VARCHAR) AS mx_d,
               n_rows, n_overlaps
        FROM (
            SELECT 'clustered' AS layout, * FROM co
            UNION ALL SELECT 'hashed', * FROM ho)
        ORDER BY layout, bucket
    """
    return out
