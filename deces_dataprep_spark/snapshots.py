"""Iceberg-style snapshot log + per-partition lineage + metrics + resume.

The reference's resume machinery is content-addressed memoization: a
run is keyed by ``DATAPREP_VERSION = sha1(Makefile+recipe+mapping)[:8]``
(its ``Makefile:3``) and a catalog tag of the input file listing
(``Makefile:85-90``); if a backup named ``esdata_{VERSION}_{TAG}``
exists the whole run is skipped (``Makefile:95-125,177-181``), and
touch-files gate every step. We generalize that into table semantics:

* a **snapshot log** — ``_snapshots/<seq>.json`` manifests committed
  atomically (temp-write + ``os.rename``) recording, per table, the
  parquet files that constitute it, plus ``pipeline_version`` and
  ``input_tag``. Readers resolve the latest committed snapshot; a
  half-written run is invisible (no manifest → no snapshot). The JSON
  shape is deliberately Iceberg-like (snapshot id, parent id, manifest
  list) so a real Iceberg catalog can replace this layer unchanged —
  the sandbox has no Iceberg runtime jar.
* **shard-level checkpointing** — the index build writes each shard's
  postings under ``postings/shard=<s>/`` with a per-shard ``_DONE.json``
  lineage marker (run_id, input snapshot, row/block counts, seconds).
  ``resume=True`` skips shards whose marker exists: the unit of
  recovery is the shard, exactly the reference's skip-if-done at finer
  grain.
* a **metrics table** — one row per (run_id, stage, partition):
  tokens, postings, seconds (part of the resumability contract; the reference's
  analogue is its log-scraped ``inserted`` counts, ``Makefile:191-204``).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: the build metrics table, one row per (run_id, stage, partition)
METRICS_SCHEMA = ("run_id string, stage string, partition_id int, "
                  "tokens long, postings long, secs double")


def pipeline_version() -> str:
    """Content hash of the engine source — same idea as the reference's
    ``DATAPREP_VERSION`` (sha1 of its Makefile+recipe+mapping)."""
    root = os.path.dirname(os.path.abspath(__file__))
    h = hashlib.sha1()
    for dirpath, dirnames, filenames in sorted(os.walk(root)):
        dirnames.sort()
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                with open(os.path.join(dirpath, fn), "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:8]


def input_tag(paths: list[str]) -> str:
    """Catalog tag of the input file listing (name + size + mtime-free)."""
    h = hashlib.sha1()
    for p in sorted(paths):
        st = os.stat(p)
        h.update(f"{p}:{st.st_size}".encode())
    return h.hexdigest()[:8]


class SnapshotLog:
    """Atomic snapshot log over a warehouse directory."""

    def __init__(self, warehouse: str):
        self.warehouse = warehouse
        self.snap_dir = os.path.join(warehouse, "_snapshots")
        os.makedirs(self.snap_dir, exist_ok=True)

    def _seqs(self) -> list[int]:
        return sorted(
            int(f.split(".")[0])
            for f in os.listdir(self.snap_dir)
            if f.endswith(".json") and f.split(".")[0].isdigit()
        )

    def latest(self) -> dict | None:
        seqs = self._seqs()
        if not seqs:
            return None
        return self.get(seqs[-1])

    def get(self, snapshot_id: int) -> dict:
        """Read one committed snapshot manifest by id (time travel)."""
        path = os.path.join(self.snap_dir, f"{int(snapshot_id)}.json")
        if not os.path.exists(path):
            raise FileNotFoundError(
                f"snapshot {snapshot_id} not committed in {self.warehouse}"
            )
        with open(path) as f:
            return json.load(f)

    def rollback(self, snapshot_id: int, run_id: str = "rollback") -> dict:
        """Roll back by committing a NEW snapshot that references the
        target snapshot's table files verbatim (Iceberg-style: rollback
        moves the head, history is preserved; reference analogue: ES
        snapshot restore, Makefile:206-264). The rolled-back-to files
        must still exist — physical overwrites (a rebuild into the same
        locations, compaction) expire older snapshots."""
        target = self.get(snapshot_id)
        seqs = self._seqs()
        seq = seqs[-1] + 1
        snap = dict(target)
        snap["snapshot_id"] = seq
        snap["parent_id"] = seqs[-1]
        snap["run_id"] = run_id
        snap["rolled_back_to"] = int(snapshot_id)
        snap["committed_at_unix"] = int(time.time())
        tmp = os.path.join(self.snap_dir, f".{seq}.json.tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(snap, f, indent=2)
        os.rename(tmp, os.path.join(self.snap_dir, f"{seq}.json"))
        return snap

    # -- aliases (ES index-alias parity: the blue/green serving switch) --

    def set_alias(self, name: str, snapshot_id: int) -> dict:
        """Point ``name`` at a committed snapshot ATOMICALLY (tmp +
        rename, same discipline as snapshot commits) — the ES alias
        contract: clients address the alias, reindex builds a new
        snapshot, one swap moves every reader with no window where the
        alias dangles. Re-pointing an existing alias IS the swap."""
        snap = self.get(snapshot_id)  # must exist — no dangling alias
        adir = os.path.join(self.snap_dir, "aliases")
        os.makedirs(adir, exist_ok=True)
        rec = {"alias": name, "snapshot_id": int(snap["snapshot_id"]),
               "updated_at_unix": int(time.time())}
        tmp = os.path.join(adir, f".{name}.json.tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(rec, f, indent=2)
        os.rename(tmp, os.path.join(adir, f"{name}.json"))
        return rec

    def resolve_alias(self, name: str) -> int:
        path = os.path.join(self.snap_dir, "aliases", f"{name}.json")
        if not os.path.exists(path):
            raise FileNotFoundError(
                f"alias {name!r} not defined in {self.warehouse}")
        with open(path) as f:
            return int(json.load(f)["snapshot_id"])

    def aliases(self) -> dict[str, int]:
        adir = os.path.join(self.snap_dir, "aliases")
        if not os.path.isdir(adir):
            return {}
        out = {}
        for f in os.listdir(adir):
            if f.endswith(".json") and not f.startswith("."):
                out[f[:-5]] = self.resolve_alias(f[:-5])
        return out

    def delete_alias(self, name: str) -> None:
        path = os.path.join(self.snap_dir, "aliases", f"{name}.json")
        if os.path.exists(path):
            os.remove(path)

    def find(self, pipeline_ver: str, in_tag: str) -> dict | None:
        """Memoized-skip lookup: an existing snapshot for the same
        (pipeline_version, input_tag) means the run can be skipped."""
        for seq in reversed(self._seqs()):
            with open(os.path.join(self.snap_dir, f"{seq}.json")) as f:
                snap = json.load(f)
            if snap.get("pipeline_version") == pipeline_ver and snap.get("input_tag") == in_tag:
                return snap
        return None

    def expire_snapshots(self, keep_last: int = 2) -> dict:
        """Iceberg ``expire_snapshots`` analogue: drop all but the
        newest ``keep_last`` manifests and physically delete parquet
        files no retained snapshot references (a rollback head that
        references old files RETAINS them). Returns a summary dict."""
        seqs = self._seqs()
        if len(seqs) <= keep_last:
            return {"removed_snapshots": [], "removed_files": 0}
        keep, drop = seqs[-keep_last:], seqs[:-keep_last]
        keep_files: set[str] = set()
        for s in keep:
            for t in self.get(s).get("tables", {}).values():
                keep_files.update(t.get("files", []))
        removed_files = 0
        for s in drop:
            snap = self.get(s)
            for t in snap.get("tables", {}).values():
                for f in t.get("files", []):
                    if f not in keep_files and os.path.exists(f):
                        os.remove(f)
                        removed_files += 1
            os.remove(os.path.join(self.snap_dir, f"{s}.json"))
        return {"removed_snapshots": drop, "removed_files": removed_files}

    def commit(self, tables: dict[str, str], pipeline_ver: str, in_tag: str,
               run_id: str, parent: int | None = None,
               files_override: dict[str, list[str]] | None = None) -> dict:
        """Atomically commit a new snapshot (temp-write + rename).

        ``files_override`` pins a table's file list explicitly instead of
        walking its live directory — used by :func:`restore_snapshot`,
        where the restored set must not absorb unrelated files already
        present at the same location."""
        seqs = self._seqs()
        seq = (seqs[-1] + 1) if seqs else 1
        snap = {
            "snapshot_id": seq,
            "parent_id": parent if parent is not None else (seqs[-1] if seqs else None),
            "run_id": run_id,
            "pipeline_version": pipeline_ver,
            "input_tag": in_tag,
            "committed_at_unix": int(time.time()),
            "tables": {
                name: {
                    "location": loc,
                    "files": sorted(
                        (files_override or {}).get(name)
                        if (files_override or {}).get(name) is not None
                        else (
                            os.path.join(dp, fn)
                            for dp, _, fns in os.walk(loc)
                            for fn in fns
                            if fn.endswith(".parquet")
                        )
                    ),
                }
                for name, loc in tables.items()
            },
        }
        tmp = os.path.join(self.snap_dir, f".{seq}.json.tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(snap, f, indent=2)
        os.rename(tmp, os.path.join(self.snap_dir, f"{seq}.json"))
        return snap


def backup_name(snap: dict) -> str:
    """The reference's content-addressed backup key,
    ``esdata_{VERSION}_{TAG}`` (Makefile:95-104) — existence of this
    name in a repository is its skip-if-done signal."""
    return f"esdata_{snap.get('pipeline_version')}_{snap.get('input_tag')}"


def export_snapshot(warehouse: str, dest: str,
                    snapshot_id: int | None = None) -> str:
    """Export one committed snapshot to a repository directory — the ES
    ``backup-push`` analogue (reference ``Makefile:237-254``: ES
    snapshot → S3 repository, content-addressed name).

    Copies exactly the manifest's file list (not the live directories —
    an exported snapshot is pinned, like time travel) plus a relocatable
    ``_EXPORT.json`` manifest with warehouse-relative paths. Returns the
    export directory: ``dest/<esdata_{version}_{tag}>``.
    """
    import shutil

    log = SnapshotLog(warehouse)
    snap = log.get(snapshot_id) if snapshot_id is not None else log.latest()
    if snap is None:
        raise FileNotFoundError(f"no committed snapshot in {warehouse}")
    out = os.path.join(dest, backup_name(snap))
    os.makedirs(out, exist_ok=True)
    rel_tables: dict[str, dict] = {}
    for name, t in snap["tables"].items():
        rel_files = []
        for f in t["files"]:
            rel = os.path.relpath(f, warehouse)
            target = os.path.join(out, rel)
            os.makedirs(os.path.dirname(target), exist_ok=True)
            shutil.copy2(f, target)
            rel_files.append(rel)
        rel_tables[name] = {
            "location": os.path.relpath(t["location"], warehouse),
            "files": sorted(rel_files),
        }
    manifest = dict(snap)
    manifest["tables"] = rel_tables
    tmp = os.path.join(out, f"._EXPORT.json.tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=2)
    os.rename(tmp, os.path.join(out, "_EXPORT.json"))
    return out


def restore_snapshot(export_dir: str, warehouse: str,
                     run_id: str = "restore") -> dict:
    """Restore an exported snapshot into a warehouse and commit it there
    — the ES ``restore`` analogue (``Makefile:255-264``). The restored
    files land at their original warehouse-relative paths and the commit
    records EXACTLY that file set (restore is a commit: history in the
    target warehouse is preserved, parent = its previous head)."""
    import shutil

    with open(os.path.join(export_dir, "_EXPORT.json")) as f:
        manifest = json.load(f)
    tables: dict[str, str] = {}
    files: dict[str, list[str]] = {}
    for name, t in manifest["tables"].items():
        abs_files = []
        for rel in t["files"]:
            src = os.path.join(export_dir, rel)
            target = os.path.join(warehouse, rel)
            os.makedirs(os.path.dirname(target), exist_ok=True)
            shutil.copy2(src, target)
            abs_files.append(target)
        tables[name] = os.path.join(warehouse, t["location"])
        files[name] = sorted(abs_files)
    log = SnapshotLog(warehouse)
    return log.commit(
        tables,
        manifest.get("pipeline_version"),
        manifest.get("input_tag"),
        run_id,
        files_override=files,
    )


def optimize_postings(spark: SparkSession, warehouse: str,
                      files_per_shard: int = 4,
                      row_group_bytes: int = 1 << 20) -> dict:
    """ES ``force_merge`` analogue: rewrite the postings table for
    SERVING and commit a new snapshot.

    The build already writes each shard as ONE file sorted by term in
    small row groups (:func:`write_postings`), so a term lookup touches
    about one row group per shard. This pass additionally splits every
    shard into ``files_per_shard`` range-partitioned files with row
    groups of ``row_group_bytes`` — files the arrow reader
    (``index.arrow_serve``) reads in parallel, one thread per file —
    and re-sorts the positional table the same way (phrase serving
    prunes on term like the posting fetch).

    Old snapshots stay valid: the rewrite lands in a fresh
    ``postings_serve/<id>/`` location; unchanged tables keep their
    pinned file lists."""
    log = SnapshotLog(warehouse)
    snap = log.latest()
    if snap is None:
        raise FileNotFoundError(f"no committed snapshot in {warehouse}")
    t = snap["tables"]
    post = spark.read.option("basePath", t["postings"]["location"]).parquet(
        *t["postings"]["files"])
    max_shard = post.select(F.max("shard")).collect()[0][0]
    if max_shard is None:  # empty postings table — nothing to re-sort
        return snap
    n_shards = int(max_shard) + 1
    loc = os.path.join(warehouse, "postings_serve", uuid.uuid4().hex[:8])
    (post.repartitionByRange(int(n_shards) * files_per_shard,
                             "shard", "term")
         .sortWithinPartitions("shard", "term", "block_id")
         .write.mode("overwrite")
         .option("parquet.block.size", str(row_group_bytes))
         .partitionBy("shard").parquet(loc))
    tables = {name: tt["location"] for name, tt in t.items()}
    files = {name: tt["files"] for name, tt in t.items()}
    tables["postings"] = loc
    files.pop("postings")  # walk the fresh dir for the new file list
    if "positions" in t:
        # same treatment for the positional table: phrase serving prunes
        # on term exactly like the posting fetch does
        ploc = os.path.join(warehouse, "positions_serve", uuid.uuid4().hex[:8])
        pos = spark.read.parquet(*t["positions"]["files"])
        (pos.repartitionByRange(int(n_shards) * files_per_shard,
                                "shard", "term")
            .sortWithinPartitions("shard", "term", "doc_id")
            .write.mode("overwrite")
            .option("parquet.block.size", str(row_group_bytes))
            .parquet(ploc))
        tables["positions"] = ploc
        files.pop("positions")
    return log.commit(tables, snap.get("pipeline_version"),
                      snap.get("input_tag"), run_id="optimize",
                      files_override=files)


def _marker_version(marker: str) -> str | None:
    """The ``pipeline_version`` a shard's ``_DONE.json`` records, or
    None when the shard has no (readable) marker."""
    try:
        with open(marker) as f:
            return json.load(f).get("pipeline_version")
    except (OSError, ValueError):
        return None


def write_postings(spark: SparkSession, blocks: DataFrame, root: str,
                   n_shards: int, dynamic: bool = False) -> None:
    """Write posting blocks under ``root/shard=<s>/``: one file per
    shard, rows sorted by (shard, term, block_id), row groups of
    ``POSTINGS_ROW_GROUP_BYTES`` — so each row group's footer term range
    is narrow and a term lookup (Spark pushdown or the arrow reader)
    skips the rest. The pack runs wide (3× slots), and a partitionBy
    write from P wide tasks would land P×shards tiny files that every
    downstream scan pays to open; the block stream is ~1/300 of the
    corpus, so the exchange by shard is cheap. ``dynamic`` overwrites
    only the shards present in ``blocks``."""
    from deces_dataprep_spark.index.builder import POSTINGS_ROW_GROUP_BYTES

    w = (blocks.repartition(
            max(n_shards, spark.sparkContext.defaultParallelism), "shard")
         .sortWithinPartitions("shard", "term", "block_id")
         .write.mode("overwrite")
         .option("parquet.block.size", str(POSTINGS_ROW_GROUP_BYTES)))
    if dynamic:
        w = w.option("partitionOverwriteMode", "dynamic")
    w.partitionBy("shard").parquet(root)


@dataclass
class BuildResult:
    run_id: str
    warehouse: str
    snapshot: dict
    metrics: list[dict]
    shards_built: list[int]
    shards_skipped: list[int]


def write_index(
    spark: SparkSession,
    docs: DataFrame,
    warehouse: str,
    n_shards: int = 4,
    resume: bool = True,
    input_paths: list[str] | None = None,
    run_id: str | None = None,
    shard_batch: int | None = None,
    salt_ranges: int | None = None,
    salt_df_threshold: int | None = None,
    with_positions: bool = False,
    auto_salt: bool = True,
) -> BuildResult:
    """Build + persist the index with shard-level checkpointing.

    Each shard is an independent *job* and unit of recovery: its
    postings land in ``postings/shard=<s>/`` with an atomic
    ``_DONE.json`` lineage marker. A re-run with ``resume=True`` skips
    completed shards (kill the build mid-run, run again → identical
    index; see tests) — but only shards whose marker carries the
    current :func:`pipeline_version`; a marker from other code is
    stale and its shard is rebuilt. The corpus is tokenized exactly ONCE: the
    tokenized projection is persisted (MEMORY_AND_DISK) by the
    norms/stats pass, and every shard batch filters the cached
    projection by ``pmod(doc_id, n)`` instead of re-running the
    analyzer; the dictionary is derived from the written posting blocks
    (no extra corpus pass).

    The norms pass numbers each shard's docs (``builder.number_docs``);
    the posting blocks are keyed by those doc numbers, attached by one
    doc-level join of the cached projection against ``(doc_id,
    docnum)`` read back from the written norms. A doc's number is its
    rank within its shard's doc set, so a resumed build numbers every
    doc as the interrupted one did.
    """
    from pyspark import StorageLevel
    from pyspark.sql import functions as F  # local alias for clarity

    from deces_dataprep_spark.index.builder import (
        NORMS_SCHEMA,
        POSTINGS_SCHEMA,
        STATS_SCHEMA,
        auto_salt_spec,
        corpus_stats,
        dictionary_from_postings,
        docs_with_tokens,
        hot_terms_by_df,
        local_rows,
        make_salt_spec,
        norms_from_tokens,
        postings_plan_from_tokens,
    )
    from deces_dataprep_spark.session import inherit_local_properties

    run_id = run_id or uuid.uuid4().hex[:12]
    ver = pipeline_version()
    tag = input_tag(input_paths) if input_paths else "adhoc"
    log = SnapshotLog(warehouse)

    existing = log.find(ver, tag) if (resume and tag != "adhoc") else None
    if existing is not None:
        return BuildResult(run_id=run_id, warehouse=warehouse, snapshot=existing,
                           metrics=[], shards_built=[],
                           shards_skipped=list(range(n_shards)))

    metrics: list[dict] = []
    built: list[int] = []
    skipped: list[int] = []
    post_root = os.path.join(warehouse, "postings")
    os.makedirs(post_root, exist_ok=True)

    # pass 1: norms + global stats — the ONLY tokenize pass; the
    # projection is persisted and reused by every shard batch below.
    # The norms write (which numbers the docs) runs on the overlap pool
    # UNDER the stats aggregation and the salt df sample (guide §2.6);
    # the postings plan reads its (doc_id, docnum) back, so it is
    # joined before the first shard batch. The write and the stats agg
    # race to materialize the token cache; per-block cache locks make
    # whoever reaches a partition first compute it and the other read
    # it, so the corpus is still tokenized exactly once. Pool jobs keep
    # the caller's job group and other local properties.
    from concurrent.futures import ThreadPoolExecutor

    t0 = time.time()
    toks = docs_with_tokens(docs).persist(StorageLevel.MEMORY_AND_DISK)
    norms_root = os.path.join(warehouse, "norms")
    inherit = inherit_local_properties(spark)
    pool = ThreadPoolExecutor(max_workers=3)
    norms_fut = pool.submit(inherit(
        lambda: norms_from_tokens(toks, n_shards).write.mode("overwrite")
        .parquet(norms_root)))
    try:
        n_docs_g, avgdl_g, span = corpus_stats(toks, n_shards)
        metrics.append({"run_id": run_id, "stage": "norms", "partition_id": -1,
                        "tokens": n_docs_g, "postings": 0,
                        "secs": time.time() - t0})

        # pass 2: shard-batched jobs. Each batch is one job over the docs of
        # its shards (filtered before tokenization), written with dynamic
        # partition overwrite into postings/shard=<s>/; per-shard _DONE
        # markers follow the batch. shard_batch tunes the recovery granule:
        # 1 = a job per shard (finest resume, most scan passes), n_shards =
        # one job total (fastest). Skipped (resumed) shards never re-run.
        # salt ranges split the docnum span [0, largest shard's count)
        salt = None
        if salt_ranges:
            hot = (hot_terms_by_df(toks, salt_df_threshold)
                   if salt_df_threshold is not None else None)
            salt = make_salt_spec(0, max(span - 1, 0), salt_ranges,
                                  n_docs_g, hot_terms=hot)
        elif auto_salt:
            # skew defense by default (round-2 finding: opt-in salting
            # protects nothing) — see builder.auto_salt_spec.
            salt = auto_salt_spec(spark, toks, n_docs_g, 0,
                                  max(span - 1, 0))
        shard_batch = shard_batch or n_shards
        todo = []
        for shard in range(n_shards):
            marker = os.path.join(post_root, f"shard={shard}", "_DONE.json")
            if resume and _marker_version(marker) == ver:
                skipped.append(shard)
            else:
                todo.append(shard)

        # The dictionary scan and the stats write only need the COMPLETE
        # postings dir (not the lineage agg below), so once the last batch's
        # postings land they run on the overlap pool, back-filling executor
        # slots while the main thread collects lineage counts and writes
        # markers/metrics — overlap of independent jobs (guide §2.6).
        # The postings just written are read with their known schema:
        # no schema-inference job.
        def read_postings(*paths: str) -> DataFrame:
            return spark.read.schema(POSTINGS_SCHEMA) \
                .option("basePath", post_root).parquet(*paths)

        @inherit
        def _write_dictionary() -> None:
            dictionary_from_postings(read_postings(post_root)) \
                .write.mode("overwrite").parquet(
                    os.path.join(warehouse, "dictionary"))

        @inherit
        def _write_stats() -> None:
            local_rows(spark, [(n_docs_g, avgdl_g)], STATS_SCHEMA) \
                .write.mode("overwrite").parquet(
                    os.path.join(warehouse, "stats"))

        tail: list = []
        if todo:
            norms_fut.result()
            docnums = spark.read.schema(NORMS_SCHEMA).parquet(norms_root) \
                .select("doc_id", "docnum")
        for b0 in range(0, len(todo), shard_batch):
            batch = todo[b0:b0 + shard_batch]
            t0 = time.time()
            # the per-row pmod filter is a no-op when one batch covers every
            # shard (the default shard_batch=n_shards fast path)
            toks_b = toks if len(batch) == n_shards else toks.filter(
                F.pmod(F.col("doc_id"), F.lit(n_shards)).isin(batch)
            )
            part = postings_plan_from_tokens(spark, toks_b, n_shards, avgdl_g,
                                             salt=salt, docnums=docnums)
            write_postings(spark, part, post_root, n_shards, dynamic=True)
            if b0 + shard_batch >= len(todo):
                tail = [pool.submit(_write_dictionary), pool.submit(_write_stats)]
            aggs = {
                int(r["shard"]): r
                for r in read_postings(
                    *[os.path.join(post_root, f"shard={s}") for s in batch]
                ).groupBy("shard").agg(
                    F.count(F.lit(1)).alias("blocks"),
                    F.sum("n_docs").alias("postings"),
                    F.countDistinct("term").alias("terms"),
                ).collect()
            }
            secs = time.time() - t0
            for shard in batch:
                agg = aggs.get(shard)
                lineage = {
                    "run_id": run_id,
                    "shard": shard,
                    "pipeline_version": ver,
                    "input_tag": tag,
                    "blocks": int(agg["blocks"]) if agg else 0,
                    "postings": int(agg["postings"]) if agg else 0,
                    "terms": int(agg["terms"]) if agg else 0,
                    "secs": secs / len(batch),
                }
                shard_dir = os.path.join(post_root, f"shard={shard}")
                os.makedirs(shard_dir, exist_ok=True)
                marker = os.path.join(shard_dir, "_DONE.json")
                tmp = marker + f".tmp-{uuid.uuid4().hex}"
                with open(tmp, "w") as f:
                    json.dump(lineage, f)
                os.rename(tmp, marker)
                metrics.append({"run_id": run_id, "stage": "postings",
                                "partition_id": shard,
                                "tokens": lineage["postings"],
                                "postings": lineage["postings"],
                                "secs": lineage["secs"]})
                built.append(shard)

        # optional positional index (phrase queries), from the SAME cached
        # tokenize pass — its own table, the posting blocks stay doc-only
        table_locs = {}
        if with_positions:
            from deces_dataprep_spark.index.positions import positions_from_tokens

            t0 = time.time()
            pos_loc = os.path.join(warehouse, "positions")
            positions_from_tokens(toks, n_shards).write.mode("overwrite") \
                .parquet(pos_loc)
            table_locs["positions"] = pos_loc
            metrics.append({"run_id": run_id, "stage": "positions",
                            "partition_id": -1, "tokens": 0, "postings": 0,
                            "secs": time.time() - t0})
    except BaseException:
        # join the background norms write (and any tail futures)
        # before propagating — otherwise the failure leaks a
        # running Spark job on a non-daemon pool thread and masks
        # any norms-write error behind an interpreter-exit hang
        pool.shutdown(wait=True)
        toks.unpersist()
        raise
    norms_fut.result()  # must land before the projection is dropped
    toks.unpersist()
    # dictionary from written block metadata (cheap: blocks ≪ postings);
    # usually already running on the overlap pool — join it here. An
    # empty todo list (every shard resumed) never submitted the tail, so
    # run both synchronously in that case.
    try:
        if tail:
            for f in tail:
                f.result()
        else:
            _write_dictionary()
            _write_stats()
    finally:
        pool.shutdown(wait=True)

    if metrics:
        local_rows(
            spark,
            [(m["run_id"], m["stage"], m["partition_id"], m["tokens"],
              m["postings"], m["secs"]) for m in metrics],
            METRICS_SCHEMA,
        ).write.mode("append").parquet(os.path.join(warehouse, "metrics"))

    snap = log.commit(
        {
            "postings": post_root,
            "dictionary": os.path.join(warehouse, "dictionary"),
            "norms": os.path.join(warehouse, "norms"),
            "stats": os.path.join(warehouse, "stats"),
            **table_locs,
        },
        ver, tag, run_id,
    )
    return BuildResult(run_id=run_id, warehouse=warehouse, snapshot=snap,
                       metrics=metrics, shards_built=built, shards_skipped=skipped)


def load_index(spark: SparkSession, warehouse: str,
               snapshot_id: int | None = None,
               alias: str | None = None):
    """Load a committed snapshot back into IndexTables.

    ``snapshot_id=None`` resolves the latest; an explicit id time-travels
    to that snapshot; ``alias`` resolves through the alias registry
    (mutually exclusive with ``snapshot_id``) — serve through an alias
    and a reindex swap moves every consumer atomically. Tables are read from the manifest's **file list**
    (not the live directory), so an older snapshot stays readable after
    later appends/commits as long as its files weren't physically
    overwritten. ``basePath`` keeps the ``shard=`` partition column."""
    from deces_dataprep_spark.index.builder import IndexTables
    from deces_dataprep_spark.index.codec import (
        require_array_layout,
        require_docnum_norms,
    )

    log = SnapshotLog(warehouse)
    if alias is not None:
        if snapshot_id is not None:
            raise ValueError("pass snapshot_id OR alias, not both")
        snapshot_id = log.resolve_alias(alias)
    if snapshot_id is None:
        snap = log.latest()
        if snap is None:
            raise FileNotFoundError(f"no committed snapshot in {warehouse}")
    else:
        snap = log.get(snapshot_id)
    t = snap["tables"]

    def read(name: str, base: bool = False):
        loc, files = t[name]["location"], t[name]["files"]
        reader = spark.read.option("basePath", loc) if base else spark.read
        return reader.parquet(*files) if files else reader.parquet(loc)

    postings = read("postings", base=True)
    if "doc_gaps" in postings.columns:
        require_array_layout(
            postings.schema["doc_gaps"].dataType.simpleString(), warehouse)
    norms = read("norms")
    require_docnum_norms(norms.columns, warehouse)
    return IndexTables(
        postings=postings,
        dictionary=read("dictionary"),
        norms=norms,
        stats=read("stats"),
        positions=read("positions") if "positions" in t else None,
        files={name: t[name]["files"] for name in t if t[name].get("files")},
    )
