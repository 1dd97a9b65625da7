from deces_dataprep_spark.index.bm25 import bm25_score, bm25_score_col, idf  # noqa: F401
from deces_dataprep_spark.index.codec import (  # noqa: F401
    decode_blocks_concat,
    explode_blocks,
)
