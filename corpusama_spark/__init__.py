"""corpusama_spark — a PySpark-native corpus-construction and quality-filter engine.

A from-scratch re-expression of the capabilities of engisalor/corpusama
(reference at /root/reference, v0.4.0) as Spark SQL / DataFrame plans plus a
small set of vectorized Arrow pandas UDFs. The engine filters Iceberg-shaped
tables of image+caption pairs:

    (image_id string, bytes binary, w int, h int, fmt string,
     caption string, phash bigint)

producing per-image `keep`/`drop_reason`, `lid` language map, `caption_norm`,
`caption_scrubbed`, perplexity, and image-validity columns — the Spark-first
equivalent of the reference's langid → attribute → export pipeline
(corpusama/corpus/langid.py, attribute.py, export.py).

Design rules (BASELINE.json north_rule):
- No per-row Python on the hot path: built-in Column expressions wherever
  expressible; Arrow-batched pandas UDFs (SCALAR / SCALAR_ITER) otherwise.
- Partitioning by pmod(phash, nbuckets) for storage; the text stage runs
  behind a hash(image_id) exchange so caption-length skew never follows
  the storage layout.
- Checkpointed, idempotent partition writes for mid-run restartability.
"""

__version__ = "0.1.0"
