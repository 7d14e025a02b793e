"""Regression tests for edge cases flagged in round-1 review:

- short documents (< n tokens) must yield empty shingle sets, not
  throw (INVALID_ARRAY_INDEX_IN_ELEMENT_AT from a descending
  sequence());
- per-shard top-k must keep the smallest ids among distance ties
  (duplicate vectors are distinct rows, src/test_hnsw.zig:104-119);
- salted_join rejects join types it cannot preserve.
"""

from __future__ import annotations

import numpy as np
import pytest


def test_shingles_short_docs(spark, tmp_path):
    import pandas as pd

    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": ["one", "two words", "", "a b c"],
            "source": ["t"] * 4,
            "lang": ["en"] * 4,
            "n_chars": [3, 9, 0, 5],
        }
    )
    d = str(tmp_path / "docs")
    spark.createDataFrame(docs).coalesce(1).write.parquet(
        f"{d}/documents.parquet"
    )
    from zvdb_spark.queries.dedup import _shingles_spark

    rows = {
        r.doc_id: r.shingles
        for r in _shingles_spark(spark, d, 2).collect()
    }
    assert rows[0] == []  # 1 token, 2-shingles -> empty
    assert rows[1] == ["two_words"]
    assert rows[2] == []  # empty text -> [''] token -> still < 2
    assert rows[3] == ["a_b", "b_c"]
    # 3-gram path on the same frame
    rows3 = {
        r.doc_id: r.shingles
        for r in _shingles_spark(spark, d, 3).collect()
    }
    assert rows3[1] == []
    assert rows3[3] == ["a_b_c"]


def test_topk_tie_break_prefers_small_ids():
    from zvdb_spark.operators.knn import _topk_by_dist_id

    # row 0: four candidates tied at d=1.0 — keep the two smallest ids
    # even though argpartition alone could keep any two
    d = np.array([[1.0, 1.0, 1.0, 1.0, 5.0], [0.1, 0.2, 0.3, 0.4, 0.5]])
    ids = np.array([40, 10, 30, 20, 1])
    part = _topk_by_dist_id(d, ids, 2)
    assert set(ids[part[0]]) == {10, 20}
    assert list(ids[part[1]]) == [40, 10]
    # kk >= n keeps everything
    full = _topk_by_dist_id(d, ids, 5)
    assert full.shape == (2, 5)


def test_topk_tie_at_boundary_partial():
    from zvdb_spark.operators.knn import _topk_by_dist_id

    # ties straddle the boundary: d = [0, 1, 1, 1], k=2 -> keep 0 and
    # the smallest-id of the tied group
    d = np.array([[0.0, 1.0, 1.0, 1.0]])
    ids = np.array([5, 9, 2, 7])
    part = _topk_by_dist_id(d, ids, 2)
    assert set(ids[part[0]]) == {5, 2}


def test_declared_queries_never_collect_table_data():
    """Scale contract: no declared query may pull table data to the
    driver. ``.collect()`` is banned from the whole queries package —
    the only sanctioned driver-side reads are O(1) scalar parameters
    (``head()`` of a 1-row probe), counts, and lines explicitly
    marked ``driver-bounded(n_shards)``: per-shard metadata a
    maintenance commit must serialize into its JSON manifest (at most
    n_shards rows — the shard count, not the table size; audited
    here to exactly one such site). (operators/kmeans.py holds
    k x dim centroid state driver-side by design and is not a
    declared query path.)"""
    import pathlib

    import zvdb_spark.queries as qpkg

    qdir = pathlib.Path(qpkg.__file__).parent
    offenders = []
    marked = 0
    for p in qdir.glob("*.py"):
        for i, line in enumerate(p.read_text().splitlines(), 1):
            if ".collect()" not in line:
                continue
            if "driver-bounded(n_shards)" in line:
                marked += 1
                continue
            offenders.append(f"{p.name}:{i}")
    assert offenders == [], f".collect() found in queries: {offenders}"
    # the marker is a scalpel, not a loophole: exactly the one
    # commit-metadata site may carry it
    assert marked == 1, f"driver-bounded marker count drifted: {marked}"


def test_blocked_search_matches_crossjoin_reference(spark):
    """exact_search_blocked on an explicit 4 x 3 cogroup grid returns
    the same top-k as the crossJoin + window reference (knn_join)."""
    import pandas as pd

    from zvdb_spark.operators.knn import exact_search_blocked, knn_join

    rng = np.random.default_rng(3)
    n, dim, k = 200, 8, 5
    mat = rng.random((n, dim))
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in mat[i]]) for i in range(n)],
        "vec_id long, emb array<double>",
    )
    probes = df.select(
        df.vec_id.alias("query_id"), df.emb.alias("qemb")
    )
    blocked = (
        exact_search_blocked(df, probes, k=k, n_shards=4, n_blocks=3)
        .toPandas()
        .sort_values(["query_id", "rn"], ignore_index=True)
    )
    ref = (
        knn_join(df, probes, k=k)
        .toPandas()
        .sort_values(["query_id", "rn"], ignore_index=True)
    )
    pd.testing.assert_frame_equal(
        blocked[["query_id", "neighbor_id", "rn"]],
        ref[["query_id", "neighbor_id", "rn"]],
    )
    assert np.allclose(blocked["score"], ref["score"], atol=1e-9)


def test_salted_join_rejects_right_full(spark):
    from zvdb_spark.operators.skew import salted_join

    df = spark.range(4).withColumnRenamed("id", "k")
    for how in ("right", "full", "outer", "full_outer"):
        with pytest.raises(ValueError, match="salted_join"):
            salted_join(df, df, "k", how=how)


def test_vector_index_schema_uniform(spark):
    """search() returns one schema on every path (exact/approx/empty)."""
    from zvdb_spark.api import VectorIndex

    cols = ["query_id", "neighbor_id", "score", "rn"]
    idx = VectorIndex(spark, seed=7)
    assert idx.search([0.0, 0.0], k=3).columns == cols

    rng = np.random.default_rng(0)
    pdf = [
        (int(i), [float(x) for x in rng.random(4)]) for i in range(40)
    ]
    df = spark.createDataFrame(pdf, "vec_id long, embedding array<double>")
    idx.insert_batch(df).build()
    exact = idx.search([0.5, 0.5, 0.5, 0.5], k=3)
    approx = idx.search([0.5, 0.5, 0.5, 0.5], k=3, approximate=True)
    assert exact.columns == cols
    assert approx.columns == cols
    assert approx.count() <= 3
