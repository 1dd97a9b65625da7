"""Skew-stress A/B for the DEFAULT auto-salt path: a planted stopword
(~20% of the token stream) on a 1-shard build — the config where one
(shard, term) group serializes into a single task. Run:

    python tools/skew_probe.py [n_docs]

Prints best-of-2 build times with auto_salt on vs off.
"""
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F

from deces_dataprep_spark.session import get_spark


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 120_000
    spark = get_spark("skew-probe", master="local[32]",
                      shuffle_partitions=32)
    from deces_dataprep_spark.index.builder import build_index
    from deces_dataprep_spark.sources.corpus import synth_pages

    # plant a stopword: every doc gains ~20% extra 'zz' tokens
    pages = synth_pages(spark, n, partitions=64).withColumn(
        "text",
        F.concat_ws(" ", F.col("text"),
                    F.concat_ws(" ", F.array_repeat(F.lit("zz"), 45))),
    )
    pages.write.mode("overwrite").parquet("/tmp/dds_skew_probe")
    pages = spark.read.parquet("/tmp/dds_skew_probe")

    def run(auto: bool) -> float:
        best = 1e18
        for _ in range(2):
            t0 = time.time()
            t = build_index(spark, pages, n_shards=1, partitions=32,
                            auto_salt=auto, salt_sample_frac=0.05)
            t.postings.write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        return best

    run(False)  # warm
    off = run(False)
    on = run(True)
    print(f"n_docs={n} plain={off:.1f}s auto_salt={on:.1f}s "
          f"({100 * (off - on) / off:.0f}% faster)")
    spark.stop()


if __name__ == "__main__":
    main()
