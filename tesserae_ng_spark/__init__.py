"""tesserae_ng_spark — a PySpark-native inverted-index + BM25 engine.

A from-scratch re-expression of the query/data-processing capabilities of
``eberle1080/tesserae-ng`` (Solr/Lucene indexing + Tesserae phrase/proximity
comparison — see SURVEY.md) as an idiomatic PySpark engine:

- vectorized Arrow/pandas UDF analyzer chain (HTML→text, tokenize, stem)
- term-partitioned, docID-sorted, delta+varint block-compressed postings
  with per-block max-score metadata (Lucene block-postings analog)
- salted repartition-and-sort to defeat head-term (Zipf) skew
- checkpoint-resumable builds via per-partition lineage manifests
- query-time block-max (MaxScore) top-k, vectorized over numpy
- phrase / proximity / Tesserae-pair scoring via positional postings

Everything relational is declared through the DataFrame API so Catalyst /
AQE handle pushdown, pruning, join strategy and skew; the custom physics
(codec, block-max scoring) live inside Arrow UDF bodies and pure-Python
query executors.
"""

__version__ = "0.1.0"
