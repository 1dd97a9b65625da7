"""Snapshot log, shard-level resume, lineage and metrics (SURVEY §7.2;
the resumability contract: 'resumable from checkpoint with per-partition lineage +
metrics'). Mirrors the reference's content-addressed skip
(Makefile:95-125,177-181) at shard granularity."""

import json
import os

import pytest
from pyspark.sql import functions as F

from deces_dataprep_spark.index.builder import STATS_SCHEMA
from deces_dataprep_spark.snapshots import (
    METRICS_SCHEMA,
    SnapshotLog,
    load_index,
    pipeline_version,
    write_index,
)


@pytest.fixture()
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def _index_content_hash(spark, warehouse: str) -> str:
    """Order-insensitive content hash of the full postings table."""
    t = load_index(spark, warehouse)
    row = (
        t.postings.select(
            F.md5(
                F.concat_ws(
                    "|", "shard", "term", "block_id", "n_docs", "first_doc",
                    "last_doc", F.col("doc_gaps").cast("string"), F.col("tfs").cast("string"),
                    F.round("block_max_tfnorm", 9), "sum_tf",
                )
            ).alias("h")
        )
        .agg(F.md5(F.concat_ws("", F.array_join(F.array_sort(F.collect_list("h")), ""))).alias("all"))
        .collect()[0]
    )
    return row["all"]


def test_write_load_roundtrip(spark, docs, tmp_path):
    wh = str(tmp_path / "wh")
    res = write_index(spark, docs, wh, n_shards=4, resume=False)
    assert sorted(res.shards_built) == [0, 1, 2, 3]
    assert res.shards_skipped == []
    t = load_index(spark, wh)
    assert t.stats.collect()[0]["n_docs"] == docs.count()
    # lineage markers exist with counts
    for s in range(4):
        with open(os.path.join(wh, "postings", f"shard={s}", "_DONE.json")) as f:
            lin = json.load(f)
        assert lin["shard"] == s
        assert lin["postings"] > 0
        assert lin["pipeline_version"] == pipeline_version()
    # metrics table written (one norms row + one per shard)
    m = spark.read.parquet(os.path.join(wh, "metrics"))
    assert m.filter(F.col("stage") == "postings").count() == 4
    assert m.filter(F.col("stage") == "norms").count() == 1
    # the one-row-plan writes keep the declared column names and types

    def types(df):
        return [(f.name, f.dataType) for f in df.schema]

    assert types(m) == types(spark.createDataFrame([], METRICS_SCHEMA))
    assert types(spark.read.parquet(os.path.join(wh, "stats"))) == types(
        spark.createDataFrame([], STATS_SCHEMA))


def test_resume_skips_done_shards_and_is_identical(spark, docs, tmp_path):
    wh_full = str(tmp_path / "full")
    write_index(spark, docs, wh_full, n_shards=4, resume=False, shard_batch=1)
    want = _index_content_hash(spark, wh_full)

    # simulate a killed run: build everything, then delete two shards'
    # data + markers (as if the job died before writing them)
    wh = str(tmp_path / "killed")
    write_index(spark, docs, wh, n_shards=4, resume=False, shard_batch=1)
    import shutil

    for s in (2, 3):
        shutil.rmtree(os.path.join(wh, "postings", f"shard={s}"))
    # resume: shards 0,1 must be skipped, 2,3 rebuilt; index identical
    res = write_index(spark, docs, wh, n_shards=4, resume=True, shard_batch=1)
    assert sorted(res.shards_skipped) == [0, 1]
    assert sorted(res.shards_built) == [2, 3]
    assert _index_content_hash(spark, wh) == want


def test_resume_rebuilds_shards_with_stale_marker(spark, docs, tmp_path):
    """A shard whose _DONE.json records another pipeline_version (a build
    killed under other code, possibly another on-disk layout) is rebuilt
    on resume, never mixed into the index."""
    import json

    wh_full = str(tmp_path / "full")
    write_index(spark, docs, wh_full, n_shards=4, resume=False, shard_batch=1)
    want = _index_content_hash(spark, wh_full)

    wh = str(tmp_path / "stale")
    write_index(spark, docs, wh, n_shards=4, resume=False, shard_batch=1)
    marker = os.path.join(wh, "postings", "shard=1", "_DONE.json")
    with open(marker) as f:
        lineage = json.load(f)
    lineage["pipeline_version"] = "0ld0ld00"
    with open(marker, "w") as f:
        json.dump(lineage, f)
    res = write_index(spark, docs, wh, n_shards=4, resume=True, shard_batch=1)
    assert sorted(res.shards_skipped) == [0, 2, 3]
    assert res.shards_built == [1]
    assert _index_content_hash(spark, wh) == want
    with open(marker) as f:
        assert json.load(f)["pipeline_version"] == pipeline_version()


def test_binary_postings_layout_requires_rebuild(spark, tmp_path):
    """A warehouse whose postings store doc_gaps as binary (the varint
    layout) is refused with a rebuild message by both readers."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from deces_dataprep_spark.index.arrow_serve import ArrowIndexReader
    from deces_dataprep_spark.index.codec import RebuildRequired

    wh = str(tmp_path / "old")
    tables = {}
    for name, cols in {
        "postings": {"term": ["a"], "block_id": [0], "n_docs": [1],
                     "first_doc": [7], "last_doc": [7],
                     "doc_gaps": pa.array([b"\x07"], pa.binary()),
                     "tfs": pa.array([b"\x01"], pa.binary()),
                     "block_max_tfnorm": [0.5], "sum_tf": [1]},
        "dictionary": {"term": ["a"], "df": [1], "cf": [1]},
        "norms": {"shard": [0], "doc_id": [7], "doc_len": [1]},
        "stats": {"n_docs": [1], "avgdl": [1.0]},
    }.items():
        loc = os.path.join(wh, name, "shard=0" if name == "postings" else "")
        os.makedirs(loc, exist_ok=True)
        pq.write_table(pa.table(cols), os.path.join(loc, "part-0.parquet"))
        tables[name] = os.path.join(wh, name)
    SnapshotLog(wh).commit(tables, "0ld0ld00", "adhoc", "old")
    with pytest.raises(RebuildRequired, match="rebuild"):
        load_index(spark, wh)
    files = {k: v["files"] for k, v in SnapshotLog(wh).latest()["tables"].items()}
    with pytest.raises(RebuildRequired, match="rebuild"):
        ArrowIndexReader(files)


def test_memoized_skip_by_version_and_tag(spark, docs, tmp_path):
    wh = str(tmp_path / "memo")
    paths = ["/root/testdata/sf0.001/documents.parquet"]
    r1 = write_index(spark, docs, wh, n_shards=2, resume=True, input_paths=paths)
    assert r1.shards_built == [0, 1]
    # identical (pipeline_version, input_tag) → whole run skipped
    r2 = write_index(spark, docs, wh, n_shards=2, resume=True, input_paths=paths)
    assert r2.shards_built == []
    assert r2.shards_skipped == [0, 1]
    assert r2.snapshot["snapshot_id"] == r1.snapshot["snapshot_id"]


def test_snapshot_log_atomic_commit(tmp_path):
    log = SnapshotLog(str(tmp_path))
    assert log.latest() is None
    s1 = log.commit({}, "v1", "tagA", "run1")
    s2 = log.commit({}, "v1", "tagB", "run2")
    assert log.latest()["snapshot_id"] == s2["snapshot_id"]
    assert s2["parent_id"] == s1["snapshot_id"]
    assert log.find("v1", "tagA")["run_id"] == "run1"
    assert log.find("v2", "tagA") is None
    # half-written manifests (tmp files) are invisible
    with open(os.path.join(str(tmp_path), "_snapshots", ".3.json.tmp-x"), "w") as f:
        f.write("{}")
    assert log.latest()["snapshot_id"] == s2["snapshot_id"]


def test_time_travel_and_rollback(spark, docs, tmp_path):
    """Commit snapshot 1 (full build), commit snapshot 2 with NEW table
    files (a 'bad' overwrite into fresh locations), then (a) load
    snapshot 1 by id — content identical to the original build — and
    (b) rollback: a new head snapshot referencing snapshot 1's files."""
    wh = str(tmp_path / "wh")
    write_index(spark, docs, wh, n_shards=2, resume=False)
    log = SnapshotLog(wh)
    s1 = log.latest()["snapshot_id"]
    t1 = load_index(spark, wh)
    want_dict = {r["term"]: (r["df"], r["cf"]) for r in t1.dictionary.collect()}
    want_stats = t1.stats.collect()[0]

    # snapshot 2: a modified index in NEW locations (half the docs)
    half = docs.filter(F.col("doc_id") % 2 == 0)
    from deces_dataprep_spark.index.builder import build_index

    t2 = build_index(spark, half, n_shards=2)
    locs = {}
    for name in ("postings", "dictionary", "norms", "stats"):
        loc = os.path.join(wh, f"{name}_v2")
        df2 = getattr(t2, name)
        w = df2.write.mode("overwrite")
        if name == "postings":
            w = w.partitionBy("shard")
        w.parquet(loc)
        locs[name] = loc
    s2 = log.commit(locs, pipeline_version(), "half", "run-v2")["snapshot_id"]

    # latest resolves to the modified index
    assert int(load_index(spark, wh).stats.collect()[0]["n_docs"]) \
        == half.count()
    # time travel: snapshot 1 by id is the ORIGINAL content
    t_old = load_index(spark, wh, snapshot_id=s1)
    got_dict = {r["term"]: (r["df"], r["cf"]) for r in t_old.dictionary.collect()}
    assert got_dict == want_dict
    assert t_old.stats.collect()[0] == want_stats

    # rollback: new head references snapshot 1's files verbatim
    s3 = log.rollback(s1)
    assert s3["snapshot_id"] > s2 and s3["rolled_back_to"] == s1
    t_rb = load_index(spark, wh)  # latest == rolled-back head
    got_rb = {r["term"]: (r["df"], r["cf"]) for r in t_rb.dictionary.collect()}
    assert got_rb == want_dict
    assert t_rb.stats.collect()[0] == want_stats
    # history preserved: snapshot 2 still loadable by id
    assert int(load_index(spark, wh, snapshot_id=s2)
               .stats.collect()[0]["n_docs"]) == half.count()


def test_expire_snapshots(spark, docs, tmp_path):
    """expire_snapshots drops old manifests and physically deletes
    files no retained snapshot references; retained heads (including a
    rollback that references old files) keep their data."""
    wh = str(tmp_path / "wh")
    write_index(spark, docs, wh, n_shards=2, resume=False)
    log = SnapshotLog(wh)
    s1 = log.latest()["snapshot_id"]
    s1_files = [f for t in log.get(s1)["tables"].values() for f in t["files"]]

    # snapshot 2 in fresh locations
    from deces_dataprep_spark.index.builder import build_index

    t2 = build_index(spark, docs.filter(F.col("doc_id") % 2 == 0), n_shards=2)
    locs = {}
    for name in ("postings", "dictionary", "norms", "stats"):
        loc = os.path.join(wh, f"{name}_v2")
        w = getattr(t2, name).write.mode("overwrite")
        if name == "postings":
            w = w.partitionBy("shard")
        w.parquet(loc)
        locs[name] = loc
    log.commit(locs, pipeline_version(), "half", "run-v2")

    res = log.expire_snapshots(keep_last=1)
    assert res["removed_snapshots"] == [s1]
    assert res["removed_files"] > 0
    assert all(not os.path.exists(f) for f in s1_files)
    # latest still loads; expired snapshot is gone
    assert load_index(spark, wh).stats.collect()[0]["n_docs"] > 0
    with pytest.raises(FileNotFoundError):
        load_index(spark, wh, snapshot_id=s1)


def test_resume_salted_build_identical(spark, docs, tmp_path):
    """Shard-resume under df-threshold salting: killed shards rebuild
    with the SAME salt spec (derived from the same stats), so the final
    index is content-identical to an uninterrupted salted build."""
    kw = dict(n_shards=4, shard_batch=1, salt_ranges=8, salt_df_threshold=50)
    wh_full = str(tmp_path / "full")
    write_index(spark, docs, wh_full, resume=False, **kw)
    want = _index_content_hash(spark, wh_full)

    wh = str(tmp_path / "killed")
    write_index(spark, docs, wh, resume=False, **kw)
    import shutil

    for s in (1, 3):
        shutil.rmtree(os.path.join(wh, "postings", f"shard={s}"))
    res = write_index(spark, docs, wh, resume=True, **kw)
    assert sorted(res.shards_skipped) == [0, 2]
    assert sorted(res.shards_built) == [1, 3]
    assert _index_content_hash(spark, wh) == want


def test_alias_blue_green_swap(spark, docs, tmp_path):
    """ES index-alias parity: serve through an alias, reindex into a
    new snapshot, one atomic re-point moves every reader; deleting and
    dangling aliases behave."""
    import pytest as _pytest

    wh = str(tmp_path / "wh")
    write_index(spark, docs, wh, n_shards=2, resume=False)
    log = SnapshotLog(wh)
    s1 = log.latest()["snapshot_id"]
    log.set_alias("serving", s1)
    assert log.aliases() == {"serving": s1}

    blue = load_index(spark, wh, alias="serving")
    n_blue = blue.stats.collect()[0]["n_docs"]

    # reindex half the corpus into NEW locations → snapshot 2
    half = docs.filter(F.col("doc_id") % 2 == 0)
    from deces_dataprep_spark.index.builder import build_index

    t2 = build_index(spark, half, n_shards=2)
    locs = {}
    for name in ("postings", "dictionary", "norms", "stats"):
        loc = os.path.join(wh, f"{name}_green")
        w = getattr(t2, name).write.mode("overwrite")
        if name == "postings":
            w = w.partitionBy("shard")
        w.parquet(loc)
        locs[name] = loc
    log.commit(locs, "t", "green", "green")
    s2 = log.latest()["snapshot_id"]
    assert s2 != s1

    # latest moved, but the ALIAS still serves blue until the swap
    assert load_index(spark, wh, alias="serving").stats.collect()[0][
        "n_docs"] == n_blue
    log.set_alias("serving", s2)  # the atomic swap
    n_green = load_index(spark, wh, alias="serving").stats.collect()[0][
        "n_docs"]
    assert n_green < n_blue

    with _pytest.raises(FileNotFoundError):
        log.set_alias("serving", 999)  # no dangling aliases
    with _pytest.raises(ValueError):
        load_index(spark, wh, snapshot_id=s1, alias="serving")
    log.delete_alias("serving")
    with _pytest.raises(FileNotFoundError):
        load_index(spark, wh, alias="serving")
