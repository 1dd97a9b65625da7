"""True kill→resume evidence (SURVEY §5.2): a subprocess building the
index shard-by-shard is SIGKILLed after the first shard commits; the
resumed run skips the completed shard and the final index is
content-identical to an uninterrupted build."""

import json
import os
import signal
import subprocess
import sys
import time

import pytest
from pyspark.sql import functions as F

from deces_dataprep_spark.snapshots import load_index, write_index

#: the checkout under test: the subprocess imports the package from it
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

BUILD_SCRIPT = """
import sys
sys.path.insert(0, sys.argv[2])
from deces_dataprep_spark.session import get_spark
from deces_dataprep_spark.snapshots import write_index

wh = sys.argv[1]
spark = get_spark("kill-me", master="local[2]", shuffle_partitions=4)
docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
write_index(spark, docs, wh, n_shards=4, resume=True, shard_batch=1)
print("COMPLETED")
"""


def _content_hash(spark, wh):
    t = load_index(spark, wh)
    return (
        t.postings.select(
            F.md5(F.concat_ws("|", "shard", "term", "block_id", "n_docs",
                              "first_doc", "last_doc",
                              F.col("doc_gaps").cast("string"),
                              F.col("tfs").cast("string"), "sum_tf")).alias("h"))
        .agg(F.md5(F.array_join(F.array_sort(F.collect_list("h")), "")).alias("a"))
        .collect()[0]["a"]
    )


def test_sigkill_mid_build_then_resume(spark, tmp_path):
    wh = str(tmp_path / "wh")
    ref_wh = str(tmp_path / "ref")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    write_index(spark, docs, ref_wh, n_shards=4, resume=False, shard_batch=1)
    want = _content_hash(spark, ref_wh)

    script = str(tmp_path / "build.py")
    with open(script, "w") as f:
        f.write(BUILD_SCRIPT)
    proc = subprocess.Popen([sys.executable, script, wh, ROOT],
                            stdout=subprocess.DEVNULL,
                            stderr=subprocess.DEVNULL)
    # wait for the first shard marker, then SIGKILL the whole build
    marker0 = os.path.join(wh, "postings", "shard=0", "_DONE.json")
    deadline = time.time() + 240
    while time.time() < deadline and proc.poll() is None:
        if os.path.exists(marker0):
            break
        time.sleep(0.5)
    assert os.path.exists(marker0), "first shard never committed"
    proc.send_signal(signal.SIGKILL)
    proc.wait(30)

    done = [
        s for s in range(4)
        if os.path.exists(os.path.join(wh, "postings", f"shard={s}", "_DONE.json"))
    ]
    assert 1 <= len(done) <= 3, done  # killed mid-run, not after completion

    res = write_index(spark, docs, wh, n_shards=4, resume=True, shard_batch=1)
    assert sorted(res.shards_skipped) == done
    assert sorted(res.shards_built + res.shards_skipped) == [0, 1, 2, 3]
    assert _content_hash(spark, wh) == want
    # lineage markers carry the metrics contract
    with open(marker0) as f:
        lin = json.load(f)
    assert lin["postings"] > 0 and lin["secs"] > 0
