"""Round-5 serving-tier work: one-scan phrase suggester (slot-count-
independent job count + arrow serve path), completion suggester (three
surfaces), the sorted-array vocab index (sublinear prefix/fuzzy
expansion, identity with the linear scans it replaced), and
Damerau/OSA fuzziness (``transpositions=True``) against DuckDB's
``damerau_levenshtein``."""

import duckdb
import pytest
from pyspark.sql import functions as F

from deces_dataprep_spark.index.arrow_serve import (
    ArrowIndexReader,
    SparkIndexReader,
)
from deces_dataprep_spark.index.builder import build_index
from deces_dataprep_spark.index.query import (
    QueryEngine,
    duckdb_suggest_completion_sql,
    duckdb_suggest_phrase_sql,
    fuzzy_match_from_index,
    suggest_completion,
    suggest_completion_serve,
    suggest_phrase,
)
from deces_dataprep_spark.index.querystring import (
    _lev_dist,
    _lev_within,
    _VocabIndex,
)


@pytest.fixture(scope="module")
def tables(spark, documents):
    return build_index(spark, documents, n_shards=2)


@pytest.fixture(scope="module")
def arrow_engine(spark, documents, tmp_path_factory):
    from deces_dataprep_spark.snapshots import load_index, write_index

    wh = str(tmp_path_factory.mktemp("r5_wh") / "wh")
    write_index(spark, documents, wh, n_shards=2, resume=False)
    eng = QueryEngine(load_index(spark, wh), spark=spark)
    assert isinstance(eng.reader, ArrowIndexReader)
    return eng


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb.connect()
    c.execute(f"CREATE VIEW documents AS SELECT * FROM "
              f"'{sf_dir}/documents.parquet'")
    return c


# ---------------------------------------------------------------------------
# phrase suggester: one scan, serve path
# ---------------------------------------------------------------------------


def test_suggest_phrase_oracle_unchanged(spark, tables, con):
    txt = "tabel roow"
    got = suggest_phrase(spark, tables, txt, k=3).toPandas()
    want = con.sql(duckdb_suggest_phrase_sql(txt, k=3)).df()
    import pandas as pd

    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_suggest_phrase_jobs_independent_of_slots(spark, tables):
    """The round-4 finding: candidate generation ran ONE vocabulary
    scan per input term. Now all slots ride one tagged scan — the
    Spark job count must not grow with the number of input terms."""
    sc = spark.sparkContext

    def jobs(text: str) -> int:
        # the jobs of one call, under their own job group: a count of all
        # ungrouped jobs drops by 100 whenever the status store passes
        # spark.ui.retainedJobs and evicts its oldest jobs
        group = f"suggest-{len(text.split())}"
        sc.setJobGroup(group, "suggest_phrase")
        try:
            suggest_phrase(spark, tables, text, k=3).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    suggest_phrase(spark, tables, "tabel", k=3).collect()  # warm
    two = jobs("tabel roow")
    five = jobs("tabel roow dupp pagee sourcee")
    assert five == two, (two, five)


def test_suggest_phrase_serve_path_identical(spark, arrow_engine):
    """engine= (arrow dictionary in memory) must reproduce the Spark
    route's suggestions exactly — and issue ZERO candidate-scan jobs."""
    txt = "tabel roow"
    want = [(r["suggestion"], r["score"]) for r in suggest_phrase(
        spark, arrow_engine.tables, txt, k=3).collect()]
    sc = spark.sparkContext
    before = len(sc._jsc.sc().statusTracker().getJobIdsForGroup(None))
    got_df = suggest_phrase(spark, arrow_engine.tables, txt, k=3,
                            engine=arrow_engine)
    # candidate generation is driver-side; the only Spark work is
    # materializing the k-row result frame
    mid = len(sc._jsc.sc().statusTracker().getJobIdsForGroup(None))
    assert mid == before
    got = [(r["suggestion"], r["score"]) for r in got_df.collect()]
    assert got == want


# ---------------------------------------------------------------------------
# completion suggester
# ---------------------------------------------------------------------------


def test_suggest_completion_matches_duckdb(spark, tables, con):
    got = suggest_completion(spark, tables, "ta", k=5).toPandas()
    want = con.sql(duckdb_suggest_completion_sql("ta", k=5)).df()
    import pandas as pd

    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert len(got) > 0


def test_suggest_completion_serve_identical(spark, arrow_engine):
    for p in ("ta", "s", "zzz"):
        want = [(r["term"], int(r["df"])) for r in suggest_completion(
            spark, arrow_engine.tables, p, k=5).collect()]
        got = suggest_completion_serve(arrow_engine, p, k=5)
        assert got == want, p


def test_suggest_completion_serve_spark_fallback(spark, tables):
    eng = QueryEngine(tables, spark=spark, io="spark")
    assert isinstance(eng.reader, SparkIndexReader)
    want = [(r["term"], int(r["df"])) for r in suggest_completion(
        spark, tables, "ta", k=5).collect()]
    assert suggest_completion_serve(eng, "ta", k=5) == want


# ---------------------------------------------------------------------------
# sorted-array vocab index
# ---------------------------------------------------------------------------


def test_vocab_index_identity_with_linear_scans():
    vocab = ["table", "tables", "tabular", "row", "rows", "merge",
             "sort", "sorted", "spark", "tab", "label", "tabel"]
    vi = _VocabIndex(vocab)
    for p in ("ta", "tab", "row", "z", ""):
        assert vi.prefix(p) == sorted(t for t in vocab
                                      if t.startswith(p)), p
    for q, k in (("tabel", 1), ("tabel", 2), ("rows", 1), ("xy", 2)):
        want = sorted(t for t in vocab if _lev_within(t, q, k))
        assert vi.fuzzy(q, k) == want, (q, k)
        want_d = sorted(t for t in vocab
                        if _lev_within(t, q, k, transpositions=True))
        assert vi.fuzzy(q, k, transpositions=True) == want_d, (q, k)


def test_vocab_index_sublinear_expansion_perf():
    """The scale claim behind _VocabIndex: on a large vocabulary,
    prefix expansion must be orders of magnitude cheaper than the
    linear scan it replaced, and fuzzy expansion must beat the
    all-terms distance scan by at least the length-bucket reduction.
    Margins are deliberately huge (50× / 2×) so a loaded box cannot
    flake this test."""
    import itertools
    import string
    import time

    # ~150k-term synthetic vocabulary, Zipf-like length profile: the
    # mass sits at 3-6 chars (real web dictionaries skew short), a
    # thin tail carries the long terms — so a fuzzy query in a sparse
    # length band should examine a small in-window slice
    alphabet = string.ascii_lowercase[:20]
    vocab = ["".join(p) + suf
             for p in itertools.islice(
                 itertools.product(alphabet, repeat=3), 5000)
             for suf in ("", "a", "b", "c", "de", "fg", "hi", "jkl",
                         "mno", "pqr", "stu", "vwx", "yza", "bcd",
                         "efg", "hij", "klm", "nop", "qrs", "tuv",
                         "wxy", "zab", "cde", "fgh", "ijk", "lmn",
                         "opq", "rst", "uvw", "ingestion",
                         "ationalizes")]
    vi = _VocabIndex(vocab)

    t0 = time.perf_counter()
    hits = vi.prefix("abc")
    t_idx = time.perf_counter() - t0
    t0 = time.perf_counter()
    want = sorted(t for t in vocab if t.startswith("abc"))
    t_lin = time.perf_counter() - t0
    assert hits == want
    assert t_idx * 50 < t_lin, (t_idx, t_lin)

    # fuzzy: the ±k length window bounds candidates AND the bucket DP
    # is one numpy pass across the whole bucket instead of a Python DP
    # per term — wall time must beat the scalar linear scan decisively
    # (generous 5× margin; measured ~50×)
    q = "aabingestion"  # length-12 band: ~1/31 of the vocabulary
    vi.fuzzy(q, 1)  # warm the bucket char matrices (built once)
    t0 = time.perf_counter()
    fz = vi.fuzzy(q, 1)
    t_idx = time.perf_counter() - t0
    t0 = time.perf_counter()
    want = sorted(t for t in vocab if _lev_within(t, q, 1))
    t_lin = time.perf_counter() - t0
    assert fz == want and len(fz) > 0
    assert t_idx * 5 < t_lin, (t_idx, t_lin)


def test_vectorized_fuzzy_identity_property():
    """The bucket-vectorized DP must agree with the scalar _lev_within
    on random strings for k∈{1,2}, with and without transpositions —
    including adjacent-swap, substitution, indel, and equal cases."""
    import random

    rng = random.Random(42)
    alpha = "abcde"
    vocab = list({"".join(rng.choice(alpha)
                          for _ in range(rng.randint(1, 8)))
                  for _ in range(800)})
    vi = _VocabIndex(vocab)
    queries = ["".join(rng.choice(alpha) for _ in range(rng.randint(1, 8)))
               for _ in range(25)]
    for q in queries:
        for k in (1, 2):
            for tr in (False, True):
                want = sorted(t for t in vocab
                              if _lev_within(t, q, k, transpositions=tr))
                got = vi.fuzzy(q, k, transpositions=tr)
                assert got == want, (q, k, tr)


def test_query_string_serve_uses_vocab_index(spark, arrow_engine,
                                             documents):
    """Behavioural pin after the expansion rewrite: prefix and fuzzy
    atoms through the serve tier still match the scan compile."""
    from deces_dataprep_spark.index.querystring import query_string_topk_df

    for q in ("tab* -roow", "tabel~1 | sorrt~2"):
        want = [(r["doc_id"], r["score"]) for r in query_string_topk_df(
            spark, documents, q, k=10, round_digits=6).collect()]
        got = arrow_engine.query_string(q, k=10)
        assert [d for d, _ in got] == [d for d, _ in want], q


# ---------------------------------------------------------------------------
# Damerau / OSA fuzziness
# ---------------------------------------------------------------------------


def test_osa_distance_semantics():
    # transposition is ONE edit with transpositions, TWO without
    assert _lev_within("tabel", "table", 1, transpositions=True)
    assert not _lev_within("tabel", "table", 1)
    assert _lev_dist("tabel", "table", 2, transpositions=True) == 1
    assert _lev_dist("tabel", "table", 2) == 2
    # non-adjacent swap is NOT a transposition
    assert _lev_dist("elbat", "table", 4, transpositions=True) == 4
    # substitution/insert/delete unchanged by the switch
    for a, b in (("cat", "cut"), ("cat", "cats"), ("cat", "at")):
        assert _lev_dist(a, b, 3) == _lev_dist(a, b, 3,
                                               transpositions=True) == 1
    # early exit honors the bound
    assert _lev_dist("abcdef", "ghijkl", 2, transpositions=True) == -1


def test_fuzzy_damerau_index_route_matches_duckdb(spark, tables, con,
                                                  sf_dir):
    """transpositions=True on the index route: a transposition-only
    query term ('tabel' ↔ 'table' at max_edits=1) must match exactly
    the docs DuckDB's damerau_levenshtein accepts — and plain
    Levenshtein at the same budget must NOT find them."""
    from deces_dataprep_spark.functions.analyze import duckdb_tokens_sql

    toks = duckdb_tokens_sql("text")
    got = sorted(r["doc_id"] for r in fuzzy_match_from_index(
        spark, tables, "tabel", max_edits=1,
        transpositions=True).collect())
    want = sorted(r[0] for r in con.sql(f"""
        SELECT doc_id FROM documents
        WHERE len(list_filter({toks},
              t -> damerau_levenshtein(t, 'tabel') <= 1)) > 0
    """).fetchall())
    assert got == want and len(got) > 0
    plain = sorted(r["doc_id"] for r in fuzzy_match_from_index(
        spark, tables, "tabel", max_edits=1).collect())
    assert plain != got  # the transposition is the whole difference
