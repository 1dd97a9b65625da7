"""The benchmark's own tests: each workload at a tiny size passes the
output check, and fails it when one returned doc_id or score is changed.
The delta route (load_delta_index, before compact_deltas) does not pass
it yet: its answers still count re-crawled pages' superseded versions.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import itertools
import os
import shutil
import sys
import tempfile

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import corpus, oracle  # noqa: E402
from perfbench.spans import Tracer  # noqa: E402

TINY = dict(build_docs=600, check_queries=8, slice_docs=150, slices=2,
            slice_queries=2, setup_repeats=1)
#: each run gets a dir of its own: a stream's checkpoint would skip
#: input files an earlier run already read
_RUN_IDS = itertools.count()


@pytest.fixture(scope="module")
def session():
    """A benchmark session; the environment it needs (temp dirs, driver
    memory) is restored afterwards, so later sessions in the same
    process are not affected."""
    from perfbench.run import session_env, start_session, stop_session

    work = os.path.join(ROOT, ".bench_work", f"test-{os.getpid()}")
    with pytest.MonkeyPatch.context() as mp:
        for name, value in session_env(work).items():
            mp.setenv(name, value)
        mp.setattr(tempfile, "tempdir", None)  # re-read TMPDIR
        spark = start_session(work, trace=False)
        yield spark, work
        stop_session(spark)
    shutil.rmtree(work, ignore_errors=True)


def _run(session, name: str, trace: bool = False):
    from perfbench.workloads import WORKLOADS, Run, Sizes

    spark, work = session
    run = Run(spark=spark, work=os.path.join(work, f"{name}-{next(_RUN_IDS)}"),
              seed=7, tracer=Tracer(trace), session_start_s=1.0,
              sizes=Sizes(**TINY))
    e2e, layers = WORKLOADS[name](run)
    return run, e2e, layers


def _corrupted(answer: list, field: str) -> list:
    doc, score = answer[-1]
    return answer[:-1] + ([(doc + 1, score)] if field == "doc_id"
                          else [(doc, score + 1e-3)])


def _corrupt(monkeypatch, field: str) -> None:
    """Change one doc_id or score in every non-empty engine answer (the
    untimed warm-up answers included, so one per checked answer)."""
    from deces_dataprep_spark.index.query import QueryEngine

    real = QueryEngine.search

    def search(self, query, k=10, method="auto"):
        out = real(self, query, k, method)
        return _corrupted(out, field) if out else out

    monkeypatch.setattr(QueryEngine, "search", search)


def test_build_passes_check(session):
    run, e2e, _ = _run(session, "build")
    assert run.attempted > 0
    assert run.failed == 0
    assert e2e["items_per_s"] > 0 and e2e["index_bytes_per_doc"] > 0


def test_ingest_passes_check(session):
    run, e2e, _ = _run(session, "ingest")
    assert run.attempted > run.notes["queries"]
    assert run.failed == 0
    assert e2e["items_per_s"] > 0 and e2e["index_bytes_per_doc"] > 0


@pytest.mark.xfail(strict=True, raises=AssertionError, reason=(
    "load_delta_index serves the postings of superseded page versions "
    "until compact_deltas runs, so delta-route answers after a re-crawl "
    "differ from replace semantics"))
def test_delta_route_passes_check(session):
    """The ingest workload queries only after compaction; this serves
    the same kind of slices from the uncompacted deltas."""
    from deces_dataprep_spark.index.query import QueryEngine
    from deces_dataprep_spark.streaming.incremental import (
        incremental_index,
        load_delta_index,
        stream_pages,
    )
    from perfbench.workloads import K, _latest, _mid_queries, ingest_slices

    spark, work = session
    base = os.path.join(work, f"delta-{next(_RUN_IDS)}")
    rng = np.random.default_rng(7)
    slices = ingest_slices(rng, TINY["slices"], TINY["slice_docs"])
    os.makedirs(os.path.join(base, "in"))
    for s, pages in enumerate(slices):
        pages.write(os.path.join(base, "in", f"slice-{s}.parquet"))
        incremental_index(
            spark, stream_pages(spark, os.path.join(base, "in")),
            os.path.join(base, "wh"),
            checkpoint=os.path.join(base, "ckpt")).awaitTermination()
    engine = QueryEngine(load_delta_index(spark, os.path.join(base, "wh")),
                         io="spark")
    ref = oracle.Reference(_latest(slices))
    failed = [q for q in _mid_queries(rng, 8)
              if not oracle.matches(engine.search(q, K), ref.topk(q, K))]
    assert failed == []


@pytest.mark.parametrize("field", ["doc_id", "score"])
@pytest.mark.parametrize("name", ["build", "ingest"])
def test_corrupted_answer_fails_check(session, monkeypatch, name, field):
    _corrupt(monkeypatch, field)
    run, _, _ = _run(session, name)
    assert run.failed >= 1


@pytest.mark.parametrize("field", ["doc_id", "score"])
def test_one_changed_field_fails_match(field):
    ref = oracle.Reference(corpus.make_pages(np.random.default_rng(2), 300))
    for q in ["the data", corpus.query_text([40, 41, 42])]:
        exp = ref.topk(q, 10)
        got = list(zip(exp.doc_ids, exp.scores))
        assert oracle.matches(got, exp)
        assert not oracle.matches(_corrupted(got, field), exp)


def test_traced_run_reports_every_layer(session):
    from perfbench.workloads import LAYER_UNITS

    run, _, layers = _run(session, "build", trace=True)
    assert run.failed == 0
    assert set(layers) <= set(LAYER_UNITS)
    assert layers["trace.span_coverage"] >= 0.9
    assert layers["builder.blocks"] > 0


def test_reference_applies_replace_semantics():
    from perfbench.workloads import _latest

    rng = np.random.default_rng(1)
    first = corpus.make_pages(rng, 50)
    again = corpus.recrawl(rng, first.doc_id[:10])
    live = _latest([first, corpus.concat([corpus.make_pages(
        rng, 5, exclude=first.doc_id), again])])
    assert len(live) == 55 and len(set(live.doc_id.tolist())) == 55
    ref = oracle.Reference(live)
    row = {d: i for i, d in enumerate(ref.doc_ids.tolist())}
    for i in range(10):
        new = again.tokens[again.offsets[i]:again.offsets[i + 1]]
        assert ref.dl[row[int(again.doc_id[i])]] == new.size


def test_benchmark_json_matches_the_metrics_printed():
    import json

    from perfbench.run import E2E_UNITS
    from perfbench.workloads import LAYER_UNITS, WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == LAYER_UNITS
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def test_analyze_folds_accents():
    assert corpus.analyze("Café décès, CAFÉ!") == ["cafe", "deces"]
