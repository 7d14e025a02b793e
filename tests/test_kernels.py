"""Kernel-level parity tests mirroring the reference's remaining
unit tests (src/test_hnsw.zig)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import PythonException

from zvdb_spark.functions.vector import (
    as_double_array,
    cosine_sim,
    dist_sq,
    dist_sq_strict,
    dot,
    l2_norm,
)


def test_different_data_types(spark):
    """f32 / f64 / i32 element types all work through one widened
    kernel (src/test_hnsw.zig:239-273; HNSW(T) comptime generic at
    src/hnsw.zig:8 -> one array<double> kernel here)."""
    df = spark.createDataFrame(
        [([1.0, 2.0], [3.0, 4.0])], "a array<float>, b array<float>"
    )
    f32 = df.select(dist_sq(as_double_array("a"), as_double_array("b"))).head()[0]
    df64 = spark.createDataFrame(
        [([1.0, 2.0], [3.0, 4.0])], "a array<double>, b array<double>"
    )
    f64 = df64.select(dist_sq("a", "b")).head()[0]
    di = spark.createDataFrame([([1, 2], [3, 4])], "a array<int>, b array<int>")
    i32 = di.select(dist_sq(as_double_array("a"), as_double_array("b"))).head()[0]
    assert f32 == f64 == i32 == 8.0


def test_dim_mismatch_raises(spark):
    """The reference panics on dimension mismatch (src/hnsw.zig:183-185);
    the strict kernel raises analysis-time-checkable errors."""
    df = spark.createDataFrame(
        [([1.0, 2.0], [1.0, 2.0, 3.0])], "a array<double>, b array<double>"
    )
    with pytest.raises(Exception, match="dimension mismatch"):
        df.select(dist_sq_strict("a", "b")).collect()


def test_kernel_math(spark):
    df = spark.createDataFrame(
        [([3.0, 4.0], [4.0, 3.0])], "a array<double>, b array<double>"
    )
    row = df.select(
        dist_sq("a", "b").alias("d"),
        dot("a", "b").alias("p"),
        l2_norm("a").alias("n"),
        cosine_sim("a", "b").alias("c"),
    ).head()
    assert row.d == 2.0 and row.p == 24.0 and row.n == 5.0
    assert math.isclose(row.c, 24.0 / 25.0)


def test_cosine_zero_norm_null(spark):
    df = spark.createDataFrame(
        [([0.0, 0.0], [1.0, 1.0])], "a array<double>, b array<double>"
    )
    assert df.select(cosine_sim("a", "b")).head()[0] is None


def test_auto_grid_uses_supplied_counts_without_scanning():
    """When cardinalities are supplied, _auto_grid must not touch the
    DataFrames at all (None stands in: any access would raise) — the
    count() fallback costs two full scans per call at 100 TB."""
    from zvdb_spark.operators.knn import _auto_grid

    n_shards, n_blocks = _auto_grid(
        None, None, None, None, n_corpus=5000, n_probes=100,
        parallelism=32,
    )
    assert n_blocks == 1  # small probe side: corpus crosses ONCE
    assert n_shards == 5  # ceil(5000/_MIN_CELL_ROWS)
    # a given block count needs no probe count at all
    assert _auto_grid(
        None, None, None, 3, n_corpus=5000, parallelism=32
    ) == (5, 3)


def test_auto_grid_minimizes_replication():
    """The grid splits the BIG side and replicates the small one:
    shuffle volume is C x B + Q x P rows, so B grows with sqrt(Q/C).
    The round-4 fixed-cell sizing replicated the 1M-row corpus 5x at
    the bench's 1M x 10k shape; the new grid must keep B = 1 there."""
    from zvdb_spark.operators.knn import _auto_grid

    # 1M corpus, 10k probes, 32 cores: one probe block, corpus
    # shuffled once, shards sized to ~4096-row cells (the measured
    # straggler-robust task granularity)
    p, b = _auto_grid(None, None, None, None,
                      n_corpus=1_000_000, n_probes=10_000, parallelism=32)
    assert b == 1
    assert p == 245  # ceil(1M / _TARGET_CELL_ROWS)
    # symmetric shape splits both sides
    p, b = _auto_grid(None, None, None, None,
                      n_corpus=100_000, n_probes=100_000, parallelism=32)
    assert b > 1 and p > 1
    assert abs(p - b) <= max(p, b)  # both sides split, neither huge
    # giant corpora hit the grid cap (per-task memory stays bounded
    # by the chunked in-cell GEMM, not by making more cells)
    p, b = _auto_grid(None, None, None, None,
                      n_corpus=50_000_000, n_probes=1_000, parallelism=32)
    assert b == 1
    assert p == 256
    # explicit values are always respected verbatim
    assert _auto_grid(None, None, 7, 3, n_corpus=10, n_probes=10,
                      parallelism=32) == (7, 3)


def test_unit_vector_cosine_bridge(spark, sf_dir):
    """unit_vector makes every L2 path a cosine path:
    dist_sq(unit(a), unit(b)) == 2 - 2*cosine(a, b) (monotone map),
    so L2 top-k over normalized vectors IS cosine top-k."""
    from pyspark.sql import functions as F

    from zvdb_spark.functions.vector import (
        as_double_array,
        cosine_sim,
        dist_sq,
        unit_vector,
    )
    from zvdb_spark.sources.tables import load

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("emb")
    )
    q = e.filter(F.col("vec_id") == 0).select(F.col("emb").alias("qemb"))
    both = (
        e.join(F.broadcast(q))
        .select(
            "vec_id",
            dist_sq(unit_vector("emb"), unit_vector("qemb")).alias("d_unit"),
            cosine_sim("emb", "qemb").alias("cos"),
        )
        .limit(200)
        .collect()
    )
    for r in both:
        assert abs(r.d_unit - (2.0 - 2.0 * r.cos)) < 1e-9, r


def test_graph_index_serves_cosine_via_normalization(spark, sf_dir):
    """End-to-end: GraphIndex built on normalized vectors answers
    cosine top-k — its L2 results, ranked, match the exact cosine
    ranking of q_ann_bruteforce's contract."""
    import numpy as np
    from pyspark.sql import functions as F

    from zvdb_spark.functions.vector import as_double_array, unit_vector
    from zvdb_spark.operators.graph_ann import GraphIndex
    from zvdb_spark.sources.tables import load

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", unit_vector(as_double_array("embedding")).alias("emb")
    )
    idx = GraphIndex(m=8, ef=64, cell_target_rows=100, seed=42).build(e)
    rows = e.collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.stack([np.asarray(r.emb) for r in rows])  # unit rows
    probe_ids = ids[:10]
    q = spark.createDataFrame(
        [
            (int(i), [float(x) for x in mat[np.nonzero(ids == i)[0][0]]])
            for i in probe_ids
        ],
        "query_id long, qemb array<double>",
    )
    got = idx.search_routed(q, k=5, n_queries=10).toPandas()
    hits = 0
    for qi in probe_ids:
        qv = mat[np.nonzero(ids == qi)[0][0]]
        cos = mat @ qv  # unit vectors: dot == cosine
        order = np.lexsort((ids, -cos))[:5]  # cosine DESC, id ASC
        truth = set(ids[order])
        pred = set(got[got.query_id == qi].vec_id)
        assert len(pred) == 5
        hits += len(truth & pred)
    assert hits / (len(probe_ids) * 5) >= 0.9


def _sin_vectors(spark, n: int, dim: int, parts: int, id_col: str, vec_col: str):
    return spark.range(0, n, numPartitions=parts).select(
        F.col("id").alias(id_col),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: F.sin(F.col("id") * 0.37 + i * 1.3),
        ).alias(vec_col),
    )


def test_probe_byte_cap_stops_collecting(spark):
    """A probe side past the byte cap is never held on the driver: the
    capped Arrow collect keeps nothing once the cap is passed, so the
    driver's peak memory stays near one batch, not the probe side."""
    import tracemalloc

    from zvdb_spark.operators.knn import _collect_probe_matrix

    n, dim = 4000, 64  # 2 MB of f64 in 16 batches of ~128 KB
    full = n * dim * 8
    probes = _sin_vectors(spark, n, dim, 16, "query_id", "qemb").cache()
    probes.count()

    def peak(cap):
        tracemalloc.start()
        try:
            got = _collect_probe_matrix(probes, "query_id", "qemb", cap)
            return got, tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()

    got, peak_kept = peak(2 * full)
    assert got[1].shape == (n, dim) and peak_kept >= full
    expect = probes.toPandas()
    assert (got[0] == expect.query_id.to_numpy()).all()
    assert (got[1] == np.stack(expect.qemb.to_numpy())).all()
    got, peak_capped = peak(100_000)
    assert got is None
    assert peak_capped < full / 2, (peak_capped, full)
    probes.unpersist()


def test_probe_byte_cap_falls_back_to_blocked_grid(spark, monkeypatch):
    """Past _BCAST_PROBE_BYTES exact search takes the blocked cogroup
    grid with the same top-k; under the cap the broadcast path still
    runs exactly one Spark job (the collect) before returning its lazy
    result."""
    from zvdb_spark.operators import knn
    from zvdb_spark.plans.audit import explain_str

    n, dim, k = 4000, 64, 3
    corpus = _sin_vectors(spark, n, dim, 16, "vec_id", "emb")
    probes = corpus.select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    sc = spark.sparkContext
    sc.setJobGroup("probe-cap-accept", "probe-cap-accept")
    try:
        bcast = knn.exact_search_blocked(
            corpus, probes, k=k, n_corpus=n, n_probes=n
        )
        jobs = sc.statusTracker().getJobIdsForGroup("probe-cap-accept")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(jobs) == 1
    assert "FlatMapCoGroupsInPandas" not in explain_str(bcast, "simple")
    monkeypatch.setattr(knn, "_BCAST_PROBE_BYTES", 100_000)
    blocked = knn.exact_search_blocked(
        corpus, probes, k=k, n_corpus=n, n_probes=n
    )
    assert "FlatMapCoGroupsInPandas" in explain_str(blocked, "simple")
    cols = ["query_id", "rn"]
    a = bcast.toPandas().sort_values(cols, ignore_index=True)
    b = blocked.toPandas().sort_values(cols, ignore_index=True)
    assert len(a) == n * k
    assert a[["query_id", "neighbor_id", "rn"]].equals(
        b[["query_id", "neighbor_id", "rn"]]
    )
    assert np.allclose(a["score"], b["score"], atol=1e-9)


@pytest.mark.parametrize(
    "metric,tau,upper_only",
    [("l2_sq", 1.0, True), ("l2_sq", 1.0, False), ("cosine", 0.99, True)],
)
def test_probe_byte_cap_threshold_join_blocked_grid(
    spark, monkeypatch, metric, tau, upper_only
):
    """Past _BCAST_PROBE_BYTES the threshold join takes the blocked
    cogroup grid and emits the same pairs as the broadcast layout."""
    from zvdb_spark.operators import knn
    from zvdb_spark.plans.audit import explain_str

    n, dim = 2000, 64
    corpus = _sin_vectors(spark, n, dim, 8, "vec_id", "emb")
    probes = corpus.select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    # no pair sits close enough to tau for a ~1e-15 GEMM-shape score
    # difference between the layouts to flip it
    local = corpus.toPandas()
    ids = local.vec_id.to_numpy()
    mat = np.stack(local.emb.to_numpy())
    scores = knn._pair_scores(mat, mat, metric)
    assert np.abs(scores - tau).min() >= 5e-8
    keep = scores < tau if metric == "l2_sq" else scores >= tau
    if upper_only:
        keep &= ids[None, :] > ids[:, None]
    assert keep.sum() > 80_000  # 89k to 225k pairs across the cases

    def join():
        return knn.threshold_join_blocked(
            corpus, probes, tau=tau, metric=metric, upper_only=upper_only,
            n_corpus=n, n_probes=n,
        )

    bcast = join()
    assert "FlatMapCoGroupsInPandas" not in explain_str(bcast, "simple")
    monkeypatch.setattr(knn, "_BCAST_PROBE_BYTES", 100_000)
    blocked = join()
    assert "FlatMapCoGroupsInPandas" in explain_str(blocked, "simple")
    cols = ["query_id", "neighbor_id"]
    a = bcast.toPandas().sort_values(cols, ignore_index=True)
    b = blocked.toPandas().sort_values(cols, ignore_index=True)
    assert len(a) == keep.sum()
    assert a[cols].equals(b[cols])
    assert np.allclose(a["score"], b["score"], atol=1e-9)
