"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — pure native expressions
(``zip_with`` dot product + ``aggregate`` sum), fully codegen'd, one
``TakeOrderedAndProject``; the correct reference for recall.

Scale path: IVF-style bucketing — assign every vector to its nearest
of C fixed centroid vectors (deterministically chosen as the first C
vectors by id — k-means is deliberately out: determinism first), then
search only the query's ``n_probe`` nearest buckets. The bucket
assignment is a crossJoin against a broadcast centroid table + one
groupBy — no Python on the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x.cast("double") * x.cast("double")),
                    F.lit(0.0), lambda acc, v: acc + v)
    )


def cosine_to_query(vectors: DataFrame, query_vec: list[float],
                    vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """(vec_id, cosine) vs a constant query vector — native expressions."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    v = F.col(vec_col)
    cos = _dot(v, q) / (_norm(v) * _norm(q))
    return vectors.select(F.col(id_col).alias("vec_id"), cos.alias("cosine"))


def brute_force_topk(vectors: DataFrame, query_vec: list[float], k: int = 10,
                     vec_col: str = "embedding", id_col: str = "vec_id",
                     exclude_id: int | None = None,
                     round_digits: int | None = 6) -> DataFrame:
    """Exact cosine top-k: scan → score → TakeOrderedAndProject.
    Rounded before ordering for cross-engine rank stability."""
    scored = cosine_to_query(vectors, query_vec, vec_col, id_col)
    if exclude_id is not None:
        scored = scored.filter(F.col("vec_id") != exclude_id)
    if round_digits is not None:
        scored = scored.withColumn("cosine", F.round("cosine", round_digits))
    return scored.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(k)


def ivf_assign(vectors: DataFrame, centroids: DataFrame,
               vec_col: str = "embedding", id_col: str = "vec_id",
               cent_vec_col: str = "embedding",
               cent_id_col: str = "centroid_id") -> DataFrame:
    """(vec_id, centroid_id) — nearest centroid by cosine; the centroid
    table is broadcast (it is small by construction)."""
    c = F.broadcast(
        centroids.select(F.col(cent_id_col).alias("centroid_id"),
                         F.col(cent_vec_col).alias("c_vec"))
    )
    joined = vectors.select(F.col(id_col).alias("vec_id"),
                            F.col(vec_col).alias("v_vec")).crossJoin(c)
    cos = _dot(F.col("v_vec"), F.col("c_vec")) / (
        _norm(F.col("v_vec")) * _norm(F.col("c_vec"))
    )
    scored = joined.select("vec_id", "centroid_id", cos.alias("cos"))
    # argmax per vec_id with deterministic tie-break (centroid_id asc)
    best = scored.groupBy("vec_id").agg(
        F.max_by("centroid_id", F.struct(F.col("cos"), -F.col("centroid_id")))
        .alias("centroid_id")
    )
    return best


def ivf_topk(vectors: DataFrame, centroids: DataFrame, query_vec: list[float],
             k: int = 10, n_probe: int = 2, vec_col: str = "embedding",
             id_col: str = "vec_id") -> DataFrame:
    """Approximate top-k: score only vectors in the query's n_probe
    nearest centroid buckets. Recall measured vs brute force in tests."""
    assign = ivf_assign(vectors, centroids, vec_col, id_col)
    # nearest centroids of the query (tiny table → driver-side)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    cent_scored = centroids.select(
        F.col("centroid_id"),
        (_dot(F.col("embedding"), q) / (_norm(F.col("embedding")) * _norm(q))).alias("cos"),
    ).orderBy(F.desc("cos"), F.asc("centroid_id")).limit(n_probe)
    probe_ids = [r["centroid_id"] for r in cent_scored.collect()]
    cands = assign.filter(F.col("centroid_id").isin(probe_ids)).select("vec_id")
    pool = vectors.join(cands, vectors[id_col] == cands["vec_id"], "left_semi")
    return brute_force_topk(pool, query_vec, k, vec_col, id_col)


def build_ivf_index(vectors: DataFrame, centroids: DataFrame, location: str,
                    vec_col: str = "embedding", id_col: str = "vec_id") -> str:
    """Persist the IVF assignment: (vec_id, embedding) written
    hive-partitioned by ``centroid_id``.

    This is the round-1 scale fix for :func:`ivf_topk`, which recomputes
    the full crossJoin assignment per query. Once persisted, a query
    reads ONLY its ``n_probe`` bucket directories — Spark's partition
    pruning (``PartitionFilters: [centroid_id IN (...)]``), so the scan
    cost is ``n_probe / C`` of the corpus instead of 1× per query, and
    the assignment cost is paid once per corpus version, not per query.
    """
    assign = ivf_assign(vectors, centroids, vec_col, id_col)
    (vectors.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias(vec_col))
            .join(assign, "vec_id")
            .repartition("centroid_id")
            .write.mode("overwrite").partitionBy("centroid_id")
            .parquet(location))
    return location


def ivf_topk_from_index(spark, index_location: str, centroids: DataFrame,
                        query_vec: list[float], k: int = 10, n_probe: int = 2,
                        vec_col: str = "embedding") -> DataFrame:
    """IVF top-k over a persisted :func:`build_ivf_index` layout —
    result-identical to :func:`ivf_topk` (tested), but the plan scans
    only the probed partition directories."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    cent_scored = centroids.select(
        F.col("centroid_id"),
        (_dot(F.col("embedding"), q)
         / (_norm(F.col("embedding")) * _norm(q))).alias("cos"),
    ).orderBy(F.desc("cos"), F.asc("centroid_id")).limit(n_probe)
    probe_ids = [r["centroid_id"] for r in cent_scored.collect()]
    pool = spark.read.parquet(index_location).filter(
        F.col("centroid_id").isin(probe_ids))
    return brute_force_topk(pool, query_vec, k, vec_col, "vec_id")


# ---------------------------------------------------------------------------
# embedding-cosine near-dup (exact pairs + sign-LSH scale path)
# ---------------------------------------------------------------------------


def embedding_near_dup_pairs(vectors: DataFrame, threshold: float = 0.99,
                             vec_col: str = "embedding",
                             id_col: str = "vec_id",
                             round_digits: int = 6) -> DataFrame:
    """(id_a, id_b, cosine) for id_a < id_b with cosine ≥ threshold —
    the EXACT all-pairs baseline (one self-crossJoin; O(n²), the recall
    oracle). At corpus scale use :func:`embedding_near_dups` (sign-LSH
    candidates verified by this same cosine). The cosine is rounded
    BEFORE thresholding so the cut is engine-stable."""
    a = vectors.select(F.col(id_col).alias("id_a"),
                       F.col(vec_col).alias("va"))
    b = vectors.select(F.col(id_col).alias("id_b"),
                       F.col(vec_col).alias("vb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    cos = F.round(
        _dot(F.col("va"), F.col("vb"))
        / (_norm(F.col("va")) * _norm(F.col("vb"))),
        round_digits,
    )
    return (
        pairs.withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def random_hyperplanes(dim: int, n_bits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes for sign-LSH (fixed-seed
    numpy; same seed → same planes on any node)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_bits, dim)).tolist()


def embedding_sign_bands(vectors: DataFrame, dim: int, n_bits: int = 16,
                         bands: int = 4, seed: int = 42,
                         vec_col: str = "embedding",
                         id_col: str = "vec_id") -> DataFrame:
    """(vec_id, band_id, band_key) — sign-LSH: bit_j = [v·h_j ≥ 0];
    band key packs its rows' bits. Two vectors at angle θ share a bit
    with prob 1 − θ/π, so near-identical vectors collide in every band."""
    planes = random_hyperplanes(dim, n_bits, seed)
    rows_per_band = n_bits // bands
    bits = [
        (_dot(F.col(vec_col), F.array(*[F.lit(float(x)) for x in h]))
         >= 0).cast("int")
        for h in planes
    ]
    structs = []
    for b in range(bands):
        key = None
        for r in range(rows_per_band):
            term = bits[b * rows_per_band + r] * F.lit(1 << r)
            key = term if key is None else key + term
        structs.append(F.struct(F.lit(b).alias("band_id"),
                                key.alias("band_key")))
    return vectors.select(
        F.col(id_col).alias("vec_id"),
        F.explode(F.array(*structs)).alias("__b"),
    ).select("vec_id", F.col("__b.band_id").alias("band_id"),
             F.col("__b.band_key").alias("band_key"))


def embedding_near_dups(vectors: DataFrame, dim: int, threshold: float = 0.99,
                        n_bits: int = 16, bands: int = 4, seed: int = 42,
                        max_bucket: int = 1000,
                        vec_col: str = "embedding",
                        id_col: str = "vec_id") -> DataFrame:
    """Scale path: sign-LSH bands → bucketed candidate pairs (bounded
    by max_bucket, like the MinHash LSH) → exact cosine verify. Recall
    vs the brute-force baseline is property-tested."""
    bandsdf = embedding_sign_bands(vectors, dim, n_bits, bands, seed,
                                   vec_col, id_col)
    sized = bandsdf.groupBy("band_id", "band_key").agg(
        F.collect_list("vec_id").alias("ids"), F.count(F.lit(1)).alias("n")
    ).filter((F.col("n") > 1) & (F.col("n") <= max_bucket))
    cand = sized.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda a: F.filter(
                        F.transform(F.col("ids"),
                                    lambda b: F.struct(a.alias("id_a"),
                                                       b.alias("id_b"))),
                        lambda s: s["id_a"] < s["id_b"],
                    ),
                )
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b").distinct()
    va = vectors.select(F.col(id_col).alias("id_a"),
                        F.col(vec_col).alias("va"))
    vb = vectors.select(F.col(id_col).alias("id_b"),
                        F.col(vec_col).alias("vb"))
    joined = cand.join(va, "id_a").join(vb, "id_b")
    cos = F.round(
        _dot(F.col("va"), F.col("vb"))
        / (_norm(F.col("va")) * _norm(F.col("vb"))), 6)
    return (
        joined.withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


class AnnServer:
    """Driver/serving-tier exact kNN over one loaded shard — the ANN
    analogue of the arrow BM25 tier (zero Spark jobs per query).

    Loads an embeddings parquet (or accepts aligned numpy arrays) once:
    ids ``int64[n]``, matrix ``float64[n, d]`` pre-normalized to unit
    rows — a query is then ONE BLAS matvec + ``argpartition`` top-k.
    This is the per-shard leaf a distributed router would call; the
    corpus-scale path stays :func:`ivf_topk_from_index` (partition-
    pruned probes), which bounds what any one server ever loads to a
    bucket, not the corpus.

    ``filter_ids`` implements ES's ``knn.filter`` semantics: the
    allowed-id set restricts candidates DURING search, so the caller
    still receives k hits from the filtered universe (ES pre-filters
    for exactly this reason — post-filtering can starve the result)."""

    def __init__(self, source, vec_col: str = "embedding",
                 id_col: str = "vec_id"):
        import numpy as np

        if isinstance(source, str):
            import pyarrow.parquet as pq

            t = pq.read_table(source, columns=[id_col, vec_col])
            ids = t.column(id_col).to_numpy()
            mat = np.vstack(t.column(vec_col).to_pandas().to_numpy())
        else:  # (ids, matrix) pair
            ids, mat = source
            mat = np.asarray(mat, dtype="float64")
        order = np.argsort(ids, kind="stable")
        self.ids = np.asarray(ids, dtype="int64")[order]
        mat = mat[order].astype("float64")
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0.0] = 1.0
        self.mat = mat / norms[:, None]

    def topk(self, query_vec, k: int = 10,
             filter_ids=None, exclude_id: int | None = None,
             round_digits: int | None = 6) -> list[tuple[int, float]]:
        """(vec_id, cosine) top-k — rank-identical to
        :func:`brute_force_topk` (round-before-order contract, doc_id
        tie-break, exact k-boundary ties via the shared serving
        top-k)."""
        import numpy as np

        from deces_dataprep_spark.index.wand import topk_rounded

        q = np.asarray(query_vec, dtype="float64")
        qn = np.linalg.norm(q)
        q = q / (qn if qn != 0.0 else 1.0)
        mask = np.ones(self.ids.size, dtype=bool)
        if filter_ids is not None:
            allowed = np.unique(np.asarray(filter_ids, dtype="int64"))
            if allowed.size == 0:
                return []
            pos = np.searchsorted(allowed, self.ids)
            pos[pos == allowed.size] = 0
            mask &= allowed[pos] == self.ids
        if exclude_id is not None:
            mask &= self.ids != int(exclude_id)
        ids = self.ids[mask]
        cos = self.mat[mask] @ q
        return topk_rounded(ids, cos, k, round_digits)
