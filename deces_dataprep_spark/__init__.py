"""deces_dataprep_spark — a PySpark-native inverted-index + BM25 engine.

A from-scratch re-expression of the capabilities of
``matchID-project/deces-dataprep`` (reference snapshot at
``/root/reference``, studied for behavior only):

* the matchID dataprep operator family (normalize / replace / map /
  join / delete / parsedate / exec-equivalents) as native Spark
  expressions and vectorized pandas UDFs — see
  :mod:`deces_dataprep_spark.operators.dataprep`;
* the Elasticsearch ``norm`` analyzer chain (char-filter → tokenize →
  asciifold → lowercase → edge-ngram / index-prefixes) as a
  deterministic tokenizer — :mod:`deces_dataprep_spark.functions.analyze`;
* the inverted index ES builds implicitly, built explicitly with
  DataFrame shuffles (SPIMI per partition, salted repartition, sort-merge,
  128-doc array blocks with block-max bounds) — :mod:`deces_dataprep_spark.index`;
* BM25 (k1=1.2, b=0.75, Lucene idf) top-k via block-max WAND,
  rank-identical to a plain Spark-SQL oracle —
  :mod:`deces_dataprep_spark.index.wand`;
* Iceberg-style snapshot log with per-partition lineage + metrics and
  checkpoint resume — :mod:`deces_dataprep_spark.snapshots`;
* training-data-pipeline operators: dedup (exact / MinHash-LSH /
  SimHash / n-gram Jaccard), ANN similarity search, language ID,
  quality scoring, multimodal binary-column plumbing —
  :mod:`deces_dataprep_spark.operators`.

Everything is DataFrame-first: logical plans are declared with the
``pyspark.sql`` API and Catalyst/Tungsten pick the physical strategy;
Python appears only in Arrow-batched pandas UDFs (never per-row).
"""

__version__ = "0.1.0"
