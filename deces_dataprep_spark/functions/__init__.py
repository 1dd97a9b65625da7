from deces_dataprep_spark.functions.analyze import (  # noqa: F401
    DUCKDB_TOKENIZE,
    duckdb_tokens_sql,
    edge_ngrams_col,
    norm_keyword_col,
    normalize_series,
    prefixes_col,
    tokenize_series,
    tokenize_text,
    tokenize_udf,
    tokens_col,
)
