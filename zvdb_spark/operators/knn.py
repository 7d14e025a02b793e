"""Reusable k-NN operators — the engine's public similarity-search
API (the reference's ``search``, ``src/hnsw.zig:194-236``, as a
DataFrame operator).

``knn_join`` is the general form: every row of ``queries`` matched to
its k nearest ``corpus`` rows. The exact path is a crossJoin + window
top-k (quadratic by contract); callers at scale pass a blocked/
bucketed candidate pair frame instead (see operators/ann.py) — the
ranking code is identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from zvdb_spark.functions.vector import cosine_sim, dist_sq


def shard_vectors(
    emb: DataFrame, n_partitions: int, id_col: str = "vec_id", vec_col: str = "emb"
) -> DataFrame:
    """Deterministic hash-shard assignment for the exact search path
    (replaces the reference's global id counter under mutex,
    src/hnsw.zig:77): hash-mod on the id.

    The output is EXPLICITLY round-robin repartitioned to exactly
    n_partitions perfectly-balanced physical partitions: callers
    checkpoint it, and the per-shard search (mapInPandas) then runs
    one task per partition with no per-search shuffle — and no AQE
    coalescing of a grouping shuffle into a handful of tasks (AQE
    shrinks small implicit shuffles by byte size, which would
    serialize the GEMM fan-out)."""
    return emb.withColumn(
        "pid", (F.crc32(F.col(id_col).cast("string")) % n_partitions).cast("int")
    ).repartition(n_partitions)


def _score(metric: str, a: str, b: str) -> tuple[Column, bool]:
    """Return (score column, ascending?) for a metric name."""
    if metric == "l2_sq":
        return dist_sq(a, b), True
    if metric == "cosine":
        return cosine_sim(a, b), False
    raise ValueError(f"unknown metric {metric!r}; use 'l2_sq' or 'cosine'")


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str = "l2_sq",
    corpus_id: str = "vec_id",
    corpus_vec: str = "emb",
    query_id: str = "query_id",
    query_vec: str = "qemb",
) -> DataFrame:
    """Exact batched k-NN: (query_id, neighbor_id, score, rn) with
    rn in 1..k per query, deterministic tie-break on neighbor id.

    Mirrors the reference's search contract: k > N returns N rows
    (src/test_hnsw.zig:121-125), empty corpus returns empty
    (src/test_hnsw.zig:43-53), ties broken by id for determinism
    (src/test_hnsw.zig:275-316 consistency test).
    """
    score, asc = _score(metric, corpus_vec, query_vec)
    ordering = [F.col("score").asc() if asc else F.col("score").desc(),
                F.col("neighbor_id").asc()]
    w = W.partitionBy(query_id).orderBy(*ordering)
    pairs = queries.crossJoin(corpus).select(
        F.col(query_id),
        F.col(corpus_id).alias("neighbor_id"),
        score.alias("score"),
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )


def knn_single(
    corpus: DataFrame,
    query_vec_lit: list[float],
    k: int,
    metric: str = "l2_sq",
    corpus_id: str = "vec_id",
    corpus_vec: str = "emb",
) -> DataFrame:
    """Single-probe k-NN (the reference's exact ``search`` signature):
    one literal query vector against the corpus. Plan: scan ->
    TakeOrderedAndProject; O(N) work, no shuffle."""
    qcol = F.array(*[F.lit(float(x)) for x in query_vec_lit]).cast("array<double>")
    score, asc = _score(metric, corpus_vec, "q")
    df = corpus.withColumn("q", qcol).select(
        F.col(corpus_id).alias("neighbor_id"), score.alias("score")
    )
    ordering = [F.col("score").asc() if asc else F.col("score").desc(),
                F.col("neighbor_id").asc()]
    return df.orderBy(*ordering).limit(k)


def _topk_by_dist_id(d, ids, kk: int):
    """Per-row indices of the kk smallest (distance, id) pairs.

    argpartition fast path; when ties straddle the k-th boundary the
    affected rows are re-resolved exactly by (distance, id) lexsort,
    so shard-level membership matches the declared
    ``ORDER BY d, neighbor_id`` contract even with duplicate vectors
    (duplicates are distinct rows, src/test_hnsw.zig:104-119).
    """
    import numpy as np

    if kk >= d.shape[1]:
        return np.broadcast_to(np.arange(d.shape[1]), d.shape).copy()
    part = np.argpartition(d, kk - 1, axis=1)[:, :kk]
    boundary = np.take_along_axis(d, part, axis=1).max(axis=1)
    ambiguous = np.nonzero((d <= boundary[:, None]).sum(axis=1) > kk)[0]
    for r in ambiguous:
        cand = np.nonzero(d[r] <= boundary[r])[0]
        order = np.lexsort((ids[cand], d[r, cand]))
        part[r] = cand[order[:kk]]
    return part


def _pair_scores(qarr, mat, metric: str):
    """Vectorized query-block x corpus-shard scores (one GEMM).

    l2_sq: squared L2 (ascending-better); cosine: cosine similarity
    (descending-better), NaN where either norm is zero (matches the
    NULL semantics of functions.vector.cosine_sim).
    """
    import numpy as np

    g = qarr @ mat.T
    if metric == "l2_sq":
        qn = (qarr * qarr).sum(axis=1)
        xn = (mat * mat).sum(axis=1)
        return qn[:, None] + xn[None, :] - 2.0 * g
    if metric == "cosine":
        qn = np.sqrt((qarr * qarr).sum(axis=1))
        xn = np.sqrt((mat * mat).sum(axis=1))
        denom = qn[:, None] * xn[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            return np.where(denom > 0, g / denom, np.nan)
    raise ValueError(f"unknown metric {metric!r}")


def _replicated_cogroup(
    corpus: DataFrame,
    probes: DataFrame,
    fn,
    out_schema,
    n_shards: int,
    n_blocks: int,
    corpus_id: str = "vec_id",
    corpus_vec: str = "emb",
    query_id: str = "query_id",
    query_vec: str = "qemb",
) -> DataFrame:
    """Block-matrix fan-out of probes x corpus with BOTH sides as
    DataFrames — no driver-side collect of table data anywhere.

    The corpus is hash-sharded into P shards and replicated across B
    probe blocks; probes are hash-blocked into B blocks and replicated
    across P shards; a cogrouped applyInPandas task then sees exactly
    one (probe-block, corpus-shard) cell. Shuffle volume is
    |corpus| x B + |probes| x P rows — the block nested-loop join
    shape that scales: task memory is bounded by (|corpus|/P +
    |probes|/B) regardless of total size, and P/B tune the
    replication-vs-parallelism tradeoff (at 100 TB you raise both; the
    driver never holds a row).
    """
    c = corpus.select(
        F.col(corpus_id).cast("long").alias("vec_id"),
        F.col(corpus_vec).alias("emb"),
        (F.crc32(F.col(corpus_id).cast("string")) % n_shards).cast("int").alias(
            "pid"
        ),
    )
    # replicate a side ONLY when it is actually split more than one
    # way: with one probe block the corpus crosses the exchange
    # exactly once (the round-13 grid change — the old fixed-size
    # cells replicated the CORPUS B times; at the 1M x 10k bench
    # shape that was 5 corpus copies through the shuffle)
    if n_blocks > 1:
        c = c.withColumn(
            "bid", F.explode(F.array(*[F.lit(b) for b in range(n_blocks)]))
        )
    else:
        c = c.withColumn("bid", F.lit(0))
    q = probes.select(
        F.col(query_id).cast("long").alias("query_id"),
        F.col(query_vec).alias("qemb"),
        (F.crc32(F.col(query_id).cast("string")) % n_blocks).cast("int").alias(
            "bid"
        ),
    )
    if n_shards > 1:
        q = q.withColumn(
            "pid", F.explode(F.array(*[F.lit(p) for p in range(n_shards)]))
        )
    else:
        q = q.withColumn("pid", F.lit(0))
    # explicit pre-partitioning on the cogroup keys: the cogroup's own
    # shuffle would be AQE-coalesced by byte size, collapsing the
    # B x P GEMM grid into a few tasks; a fixed partition count is
    # respected and EnsureRequirements reuses it (no second shuffle)
    nparts = min(1024, max(n_shards * n_blocks, 1))
    return (
        q.repartition(nparts, "bid", "pid")
        .groupBy("bid", "pid")
        .cogroup(
            c.repartition(nparts, "bid", "pid").groupBy("bid", "pid")
        )
        .applyInPandas(fn, out_schema)
    )


_PAIR_SCHEMA = "query_id long, neighbor_id long, score double"

# Grid bounds. Shuffle volume is |corpus| x B + |probes| x P rows:
# the probe-block count B is chosen to MINIMIZE total replicated rows
# (the round-4 fixed 2048-row cells made B grow with the probe count
# and replicated the corpus B times through the exchange — 5 corpus
# copies at the 1M x 10k bench shape), while the corpus-shard count P
# keeps cells near _TARGET_CELL_ROWS. Fine corpus granularity is a
# MEASURED choice, not a memory one (the in-cell GEMM is query-
# chunked, _CELL_CHUNK_ELEMS): an interleaved 1M x 2k sweep on this
# host put 3906- and 5208-row cells at 6-11 s wall but 7812- and
# 10416-row cells at 36-61 s — bigger tasks lose to stragglers under
# fluctuating CPU, and at 100 TB the same granularity bounds the
# blast radius of one slow executor.
_MAX_GRID = 256
_MIN_CELL_ROWS = 1024      # don't make tasks smaller than this
_TARGET_CELL_ROWS = 4096   # measured straggler-robust cell size
_MAX_SIDE_ROWS = 65536     # per-task matrix bound (64 MB at 128-d f64)
_CELL_CHUNK_ELEMS = 1 << 24  # distance-matrix elements (128 MB f64)

# Broadcast-probe gate (round 14): a probe side at or below this many
# ROWS (and _BCAST_PROBE_BYTES of float64 payload, checked while the
# Arrow collect streams in) rides an executor BROADCAST instead of being
# replicated through the exchange. At the 1M x 10k bench shape the
# exploded probe side was 245 copies x 10k rows x ~1.1 KB ≈ 2.7 GB of
# shuffle write+read plus one Arrow decode + np.stack of the full
# probe batch PER TASK; the same 10 MB probe matrix broadcasts once
# per executor. Above the gate (e.g. corpus-scale self-joins) the
# blocked cogroup fan-out below remains THE path — its task memory
# stays bounded at any probe count, which a broadcast cannot promise.
_BCAST_PROBE_ROWS = 65536
_BCAST_PROBE_BYTES = 1 << 27  # 128 MB of f64 probe matrix


def _collect_probe_matrix(probes: DataFrame, query_id: str,
                          query_vec: str, max_bytes: int):
    """(ids, float64 matrix) of a SMALL probe side, or None once the
    matrix would pass ``max_bytes``. One Arrow collect — the same
    single job ``toPandas`` runs — read batch by batch, so past the
    cap the Spark driver keeps nothing and never holds more than the
    cap plus one batch; it never holds corpus rows. The rest of the
    stream is read and dropped: Spark writes it from its scheduler
    thread, which blocks until the batches are read, and cancelling
    the job instead kills tasks mid Arrow conversion, which Spark
    reports as leaked Arrow buffers."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.errors.exceptions.captured import unwrap_spark_exception
    from pyspark.sql.pandas.serializers import ArrowCollectSerializer
    from pyspark.util import local_connect_and_auth

    port, secret, server = probes.select(
        query_id, query_vec
    )._jdf.collectAsArrowToPython()
    sockfile, sock = local_connect_and_auth(port, secret)
    sock.settimeout(None)  # the collect job may take any time
    batches, order, nbytes = [], None, 0
    try:
        for item in ArrowCollectSerializer().load_stream(sockfile):
            if not isinstance(item, pa.RecordBatch):
                order = item  # the last item: the batches' true order
                continue
            nbytes += 8 * len(item.column(1).flatten())
            if nbytes > max_bytes:
                batches = None
            elif batches is not None:
                batches.append(item)
    finally:
        sockfile.close()
        sock.close()
        with unwrap_spark_exception():
            server.getResult()
    if batches is None:
        return None
    batches = [batches[i] for i in order if batches[i].num_rows]
    if not batches:
        return np.empty(0, dtype=np.int64), np.empty((0, 0))
    tbl = pa.Table.from_batches(batches)
    qids = tbl.column(0).to_numpy().astype(np.int64, copy=False)
    vecs = tbl.column(1).combine_chunks()
    lens = pc.list_value_length(vecs).to_numpy(zero_copy_only=False)
    if vecs.null_count or (lens != lens[0]).any():
        raise ValueError(f"{query_vec}: probe vectors differ in length")
    qarr = vecs.flatten().to_numpy().astype(np.float64)
    return qids, qarr.reshape(len(qids), int(lens[0]))


def _bcast_probe_map(corpus: DataFrame, fn, n_shards: int,
                     corpus_id: str, corpus_vec: str) -> DataFrame:
    """One hash repartition of the corpus into ``n_shards``
    near-balanced _TARGET_CELL_ROWS-grained tasks (the measured
    straggler granularity — see the grid constants; an interleaved
    probe with the corpus left on its 32 input partitions ran ~2x
    slower — fat tasks straggle under fluctuating CPU), then ``fn``
    per task with the probe matrix arriving via broadcast. The corpus
    still crosses the exchange exactly once (as in the B=1 blocked
    grid); the probe side now crosses ZERO times. The partition key is
    a deterministic 64x-oversampled id hash: deterministic = retry-
    safe (unlike rand()), 64 subkeys per partition = no P-keys-into-
    P-partitions collision skew, and a HASH exchange skips the local
    sort every keyless round-robin repartition pays
    (spark.sql.execution.sortBeforeRepartition)."""
    c = corpus.select(
        F.col(corpus_id).cast("long").alias("vec_id"),
        F.col(corpus_vec).alias("emb"),
    )
    key = F.pmod(F.xxhash64(F.col("vec_id")), F.lit(64 * n_shards))
    return c.repartition(n_shards, key).mapInPandas(fn, _PAIR_SCHEMA)


def _auto_grid(corpus: DataFrame, probes: DataFrame,
               n_shards: int | None, n_blocks: int | None,
               n_corpus: int | None = None,
               n_probes: int | None = None,
               parallelism: int | None = None) -> tuple[int, int]:
    """Pick the (shards x blocks) GEMM grid from row counts. Callers
    that know their cardinalities (e.g. from parquet footer metadata,
    sources/tables.py:table_row_count) pass them via
    ``n_corpus``/``n_probes`` — the ``count()`` fallback costs two
    extra Spark jobs per call, which at 100 TB means two extra full
    scans before any real work.

    Sizing: shuffle volume is C x B + Q x P rows. The block count is
    the replication-minimizing split under a task budget
    T = 4 x parallelism (B ~ sqrt(T*Q/C)): B stays 1 whenever the
    probe side is much smaller than the corpus, so the corpus crosses
    the exchange exactly once. The shard count then targets
    _TARGET_CELL_ROWS-row cells (measured straggler-robust task
    granularity — see the constants' comment), floored at T/B so a
    small corpus still fills the cluster. Both are clamped so no task
    is smaller than _MIN_CELL_ROWS (overhead) or holds more than
    _MAX_SIDE_ROWS of either matrix (memory; the distance matrix
    itself is chunk-bounded independently)."""
    import math
    import os

    if n_shards is not None and n_blocks is not None:
        return n_shards, n_blocks
    if parallelism is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        parallelism = int(env) if env else (os.cpu_count() or 8)
    rows_c = n_corpus if n_corpus is not None else corpus.count()
    rows_q = n_probes if n_probes is not None else probes.count()
    rows_c, rows_q = max(int(rows_c), 1), max(int(rows_q), 1)
    t = 4 * max(int(parallelism), 1)

    def _clamp(v: int, rows: int) -> int:
        v = max(1, min(v, _MAX_GRID, -(-rows // _MIN_CELL_ROWS)))
        return max(v, min(_MAX_GRID, -(-rows // _MAX_SIDE_ROWS)))

    if n_blocks is None:
        b0 = int(round(math.sqrt(t * rows_q / rows_c))) or 1
        n_blocks = _clamp(b0, rows_q)
    if n_shards is None:
        p0 = max(-(-rows_c // _TARGET_CELL_ROWS), -(-t // n_blocks))
        n_shards = _clamp(p0, rows_c)
    return n_shards, n_blocks


def exact_search_blocked(
    corpus: DataFrame,
    probes: DataFrame,
    k: int,
    metric: str = "l2_sq",
    n_shards: int | None = None,
    n_blocks: int | None = None,
    corpus_id: str = "vec_id",
    corpus_vec: str = "emb",
    query_id: str = "query_id",
    query_vec: str = "qemb",
    n_corpus: int | None = None,
    n_probes: int | None = None,
) -> DataFrame:
    """Exact batched k-NN where the probe side is a DataFrame: each
    (probe-block x corpus-shard) cell computes a GEMM top-k with exact
    (distance, id) tie handling, then a global per-query top-k merge
    carries only B*P*k candidate rows per query block — never the
    corpus. Returns (query_id, neighbor_id, score, rn), rn in 1..k.

    Probe sides at or below _BCAST_PROBE_ROWS take the broadcast-probe
    path (round 14): the probe matrix is Arrow-collected once and
    broadcast, the corpus crosses its single exchange as before, and
    every per-pair distance / per-task top-k / global merge expression
    is the SAME code — per-task top-k is lossless for the global top-k
    under any partitioning (a row dropped past local rank k has k
    better rows in its task), so the selected (query, neighbor, rn)
    rows are identical to the blocked grid's. Scores carry the
    standard GEMM-shape caveat every grid change here has had: BLAS
    summation order varies with matrix shape, so a pair's f64 score
    can move by ~1e-15 across partitionings (equal VECTORS still tie
    exactly within a run — identical columns of one GEMM — so the id
    tie-break is stable). Pinned by the oracled q_knn_batch hash and
    test_blocked_search_matches_partitioned.
    """
    import numpy as np
    import pandas as pd

    asc = metric == "l2_sq"
    rows_q = n_probes
    if rows_q is None and not (n_shards is not None and n_blocks is not None):
        rows_q = probes.count()  # _auto_grid would have run this count
    if (
        rows_q is not None
        and rows_q <= _BCAST_PROBE_ROWS
        and n_blocks in (None, 1)
    ):
        probe_side = _collect_probe_matrix(
            probes, query_id, query_vec, _BCAST_PROBE_BYTES
        )
        if probe_side is not None:
            qids, qarr = probe_side
            spark = corpus.sparkSession
            if not len(qids):
                return spark.createDataFrame(
                    [], f"{_PAIR_SCHEMA}, rn int"
                )
            n_shards, _ = _auto_grid(
                corpus, probes, n_shards, 1, n_corpus, len(qids),
                parallelism=spark.sparkContext.defaultParallelism,
            )
            bq = spark.sparkContext.broadcast((qids, qarr))

            def _shard_topk(batches):
                qi_all, qa = bq.value
                for cpdf in batches:
                    if not len(cpdf):
                        continue
                    ids = cpdf["vec_id"].to_numpy()
                    mat = np.ascontiguousarray(
                        np.stack(cpdf["emb"].to_numpy()).astype(np.float64)
                    )
                    kk = min(k, mat.shape[0])
                    qchunk = max(
                        256, _CELL_CHUNK_ELEMS // max(mat.shape[0], 1)
                    )
                    for lo in range(0, len(qa), qchunk):
                        d = _pair_scores(qa[lo : lo + qchunk], mat, metric)
                        rank_d = d if asc else -d
                        part = _topk_by_dist_id(rank_d, ids, kk)
                        yield pd.DataFrame(
                            {
                                "query_id": np.repeat(
                                    qi_all[lo : lo + qchunk], kk
                                ),
                                "neighbor_id": ids[part.ravel()],
                                "score": np.take_along_axis(
                                    d, part, axis=1
                                ).ravel(),
                            }
                        )

            per_cell = _bcast_probe_map(
                corpus, _shard_topk, n_shards, corpus_id, corpus_vec
            )
            ordering = [
                F.col("score").asc() if asc else F.col("score").desc(),
                F.col("neighbor_id").asc(),
            ]
            w = W.partitionBy("query_id").orderBy(*ordering)
            return per_cell.withColumn(
                "rn", F.row_number().over(w)
            ).filter(F.col("rn") <= k)

    n_shards, n_blocks = _auto_grid(
        corpus, probes, n_shards, n_blocks, n_corpus, rows_q,
        parallelism=corpus.sparkSession.sparkContext.defaultParallelism,
    )

    def _cell(qpdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(qpdf) or not len(cpdf):
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "score": []}
            ).astype({"query_id": "int64", "neighbor_id": "int64", "score": "float64"})
        qids = qpdf["query_id"].to_numpy()
        qarr = np.ascontiguousarray(
            np.stack(qpdf["qemb"].to_numpy()).astype(np.float64)
        )
        ids = cpdf["vec_id"].to_numpy()
        mat = np.ascontiguousarray(
            np.stack(cpdf["emb"].to_numpy()).astype(np.float64)
        )
        kk = min(k, mat.shape[0])
        # query-chunked scoring bounds the distance matrix to
        # _CELL_CHUNK_ELEMS no matter how big the cell is (cells got
        # ~30x bigger in the round-13 grid; per-row results are
        # independent, so chunking changes nothing but peak memory)
        qchunk = max(256, _CELL_CHUNK_ELEMS // max(mat.shape[0], 1))
        out_q, out_n, out_s = [], [], []
        for lo in range(0, len(qarr), qchunk):
            d = _pair_scores(qarr[lo : lo + qchunk], mat, metric)
            rank_d = d if asc else -d
            part = _topk_by_dist_id(rank_d, ids, kk)
            out_q.append(np.repeat(qids[lo : lo + qchunk], kk))
            out_n.append(ids[part.ravel()])
            out_s.append(np.take_along_axis(d, part, axis=1).ravel())
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "score": np.concatenate(out_s),
            }
        )

    per_cell = _replicated_cogroup(
        corpus, probes, _cell, _PAIR_SCHEMA, n_shards, n_blocks,
        corpus_id, corpus_vec, query_id, query_vec,
    )
    ordering = [F.col("score").asc() if asc else F.col("score").desc(),
                F.col("neighbor_id").asc()]
    w = W.partitionBy("query_id").orderBy(*ordering)
    return per_cell.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    )


def threshold_join_blocked(
    corpus: DataFrame,
    probes: DataFrame,
    tau: float,
    metric: str = "l2_sq",
    upper_only: bool = False,
    n_shards: int | None = None,
    n_blocks: int | None = None,
    corpus_id: str = "vec_id",
    corpus_vec: str = "emb",
    query_id: str = "query_id",
    query_vec: str = "qemb",
    n_corpus: int | None = None,
    n_probes: int | None = None,
) -> DataFrame:
    """All-pairs similarity join under a threshold with the probe side
    as a DataFrame (same block x shard fan-out as
    exact_search_blocked). Pairs passing the threshold are emitted
    directly from each cell — no candidate materialization, no merge
    stage. l2_sq keeps score < tau; cosine keeps score >= tau;
    upper_only emits only neighbor_id > query_id.

    Small probe sides take the same broadcast-probe path as
    exact_search_blocked (round 14) — identical per-pair mask with no
    cross-pair dependence, so partition layout cannot change the
    emitted pairs except for a pair whose f64 score sits within ~1e-15
    of tau (the GEMM-shape caveat described in exact_search_blocked —
    far below any sensible threshold margin; pinned by the oracled
    q_sim_join_threshold / q_dedup_vectors / q_dedup_embedding
    hashes).
    """
    import numpy as np
    import pandas as pd

    rows_q = n_probes
    if rows_q is None and not (n_shards is not None and n_blocks is not None):
        rows_q = probes.count()  # _auto_grid would have run this count
    if (
        rows_q is not None
        and rows_q <= _BCAST_PROBE_ROWS
        and n_blocks in (None, 1)
    ):
        probe_side = _collect_probe_matrix(
            probes, query_id, query_vec, _BCAST_PROBE_BYTES
        )
        if probe_side is not None:
            qids_b, qarr_b = probe_side
            spark = corpus.sparkSession
            if not len(qids_b):
                return spark.createDataFrame([], _PAIR_SCHEMA)
            n_shards, _ = _auto_grid(
                corpus, probes, n_shards, 1, n_corpus, len(qids_b),
                parallelism=spark.sparkContext.defaultParallelism,
            )
            bq = spark.sparkContext.broadcast((qids_b, qarr_b))

            def _shard_pairs(batches):
                qi_all, qa = bq.value
                for cpdf in batches:
                    if not len(cpdf):
                        continue
                    ids = cpdf["vec_id"].to_numpy()
                    mat = np.ascontiguousarray(
                        np.stack(cpdf["emb"].to_numpy()).astype(np.float64)
                    )
                    qchunk = max(
                        256, _CELL_CHUNK_ELEMS // max(mat.shape[0], 1)
                    )
                    for lo in range(0, len(qa), qchunk):
                        qi = qi_all[lo : lo + qchunk]
                        score = _pair_scores(
                            qa[lo : lo + qchunk], mat, metric
                        )
                        mask = (
                            score < tau if metric == "l2_sq"
                            else score >= tau
                        )
                        if upper_only:
                            mask &= ids[None, :] > qi[:, None]
                        r, c = np.nonzero(mask)
                        yield pd.DataFrame(
                            {
                                "query_id": qi[r],
                                "neighbor_id": ids[c],
                                "score": score[r, c],
                            }
                        )

            return _bcast_probe_map(
                corpus, _shard_pairs, n_shards, corpus_id, corpus_vec
            )

    n_shards, n_blocks = _auto_grid(
        corpus, probes, n_shards, n_blocks, n_corpus, rows_q,
        parallelism=corpus.sparkSession.sparkContext.defaultParallelism,
    )

    def _cell(qpdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(qpdf) or not len(cpdf):
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "score": []}
            ).astype({"query_id": "int64", "neighbor_id": "int64", "score": "float64"})
        qids = qpdf["query_id"].to_numpy()
        qarr = np.ascontiguousarray(
            np.stack(qpdf["qemb"].to_numpy()).astype(np.float64)
        )
        ids = cpdf["vec_id"].to_numpy()
        mat = np.ascontiguousarray(
            np.stack(cpdf["emb"].to_numpy()).astype(np.float64)
        )
        qchunk = max(256, _CELL_CHUNK_ELEMS // max(mat.shape[0], 1))
        out_q, out_n, out_s = [], [], []
        for lo in range(0, len(qarr), qchunk):
            qi = qids[lo : lo + qchunk]
            score = _pair_scores(qarr[lo : lo + qchunk], mat, metric)
            mask = score < tau if metric == "l2_sq" else score >= tau
            if upper_only:
                mask &= ids[None, :] > qi[:, None]
            r, c = np.nonzero(mask)
            out_q.append(qi[r])
            out_n.append(ids[c])
            out_s.append(score[r, c])
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "score": np.concatenate(out_s),
            }
        )

    return _replicated_cogroup(
        corpus, probes, _cell, _PAIR_SCHEMA, n_shards, n_blocks,
        corpus_id, corpus_vec, query_id, query_vec,
    )


def exact_search_partitioned(
    sharded: DataFrame,
    queries,
    k: int = 10,
    query_ids=None,
    dtype: str = "float32",
    chunk: int = 2048,
) -> DataFrame:
    """Exact batched k-NN at scale: per-shard vectorized top-k
    (numpy matmul over the Arrow batch — the columnar/SIMD execution
    the reference lists as future work, benchmarks/benchmark.md:37-47)
    followed by a global per-query top-k merge.

    Work: each shard computes distances query-batch x shard-matrix in
    one BLAS call and keeps only k rows per query, so the shuffle
    carries P*k rows per query, never the corpus. This is the pattern
    that holds at 100 TB: shard-local heaps + k-row merge, identical
    to the reference's heap+merge (src/hnsw.zig:202) but shared-nothing.

    Runs via mapInPandas over the corpus's EXISTING partitions (a
    shard = a physical partition; Arrow batch splits within a
    partition are harmless because the global merge re-ranks), so a
    pre-partitioned checkpointed corpus is searched with zero corpus
    shuffle and full task fan-out.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if query_ids is None:
        query_ids = np.arange(len(queries))
    np_dtype = np.dtype(dtype)  # f32 default: the reference's element
    # type (benchmarks use f32 vectors) — half the memory traffic of f64
    qarr = np.ascontiguousarray(np.asarray(queries, dtype=np_dtype))
    qids = np.asarray(query_ids, dtype=np.int64)
    qnorm = (qarr.astype(np.float64) ** 2).sum(axis=1).astype(np_dtype)

    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
    )

    def _shard_topk(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            mat = np.ascontiguousarray(
                np.stack(pdf["emb"].to_numpy()).astype(np_dtype)
            )
            xnorm = (mat.astype(np.float64) ** 2).sum(axis=1).astype(np_dtype)
            kk = min(k, mat.shape[0])
            # chunked GEMM: bounds the distance-matrix working set to
            # chunk x |shard| so it stays cache/memory friendly
            for lo in range(0, len(qarr), chunk):
                qc = qarr[lo : lo + chunk]
                # ||q - x||^2 = ||q||^2 + ||x||^2 - 2 q.x (one GEMM)
                d = (
                    qnorm[lo : lo + chunk, None]
                    + xnorm[None, :]
                    - 2.0 * (qc @ mat.T)
                )
                part = _topk_by_dist_id(d, ids, kk)
                yield pd.DataFrame(
                    {
                        "query_id": np.repeat(qids[lo : lo + chunk], kk),
                        "neighbor_id": ids[part.ravel()],
                        "score": np.take_along_axis(d, part, axis=1)
                        .ravel()
                        .astype(np.float64),
                    }
                )

    per_shard = sharded.select("vec_id", "emb").mapInPandas(_shard_topk, schema)
    w = W.partitionBy("query_id").orderBy("score", "neighbor_id")
    return (
        per_shard.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )


def threshold_join_partitioned(
    sharded: DataFrame,
    queries,
    query_ids,
    tau: float,
    metric: str = "l2_sq",
    upper_only: bool = False,
    chunk: int = 2048,
) -> DataFrame:
    """All-pairs similarity join under a threshold, vectorized: each
    shard computes probe-block x shard distances in one GEMM and emits
    only pairs passing the threshold — no candidate materialization,
    no global merge stage (the filter is final).

    metric 'l2_sq' keeps pairs with dist_sq < tau; 'cosine' keeps
    pairs with cosine >= tau. upper_only emits only neighbor_id >
    query_id (unordered-pair form). float64 GEMM: the 1e-15
    accumulation difference vs the HOF kernel is far below any
    sensible threshold margin.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    qarr = np.ascontiguousarray(np.asarray(queries, dtype=np.float64))
    qids = np.asarray(query_ids, dtype=np.int64)
    qnorm = (qarr * qarr).sum(axis=1)

    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
    )

    def _shard_pairs(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            mat = np.ascontiguousarray(
                np.stack(pdf["emb"].to_numpy()).astype(np.float64)
            )
            xnorm = (mat * mat).sum(axis=1)
            for lo in range(0, len(qarr), chunk):
                qc, qn, qi = (
                    qarr[lo : lo + chunk],
                    qnorm[lo : lo + chunk],
                    qids[lo : lo + chunk],
                )
                g = qc @ mat.T
                if metric == "l2_sq":
                    score = qn[:, None] + xnorm[None, :] - 2.0 * g
                    mask = score < tau
                else:  # cosine
                    denom = np.sqrt(qn)[:, None] * np.sqrt(xnorm)[None, :]
                    with np.errstate(divide="ignore", invalid="ignore"):
                        score = np.where(denom > 0, g / denom, np.nan)
                    mask = score >= tau
                if upper_only:
                    mask &= ids[None, :] > qi[:, None]
                r, c = np.nonzero(mask)
                yield pd.DataFrame(
                    {"query_id": qi[r], "neighbor_id": ids[c], "score": score[r, c]}
                )

    return sharded.select("vec_id", "emb").mapInPandas(_shard_pairs, schema)
