"""Reusable k-NN operators — the engine's public similarity-search
API (the reference's ``search``, ``src/hnsw.zig:194-236``, as a
DataFrame operator).

``knn_join`` is the crossJoin + window reference form (quadratic by
contract). ``exact_search_blocked`` (top-k) and
``threshold_join_blocked`` (all pairs under a threshold) are the
scalable exact paths: both run the one probes x corpus GEMM fan-out in
``_fan_out`` and differ only in the row-local block kernel applied to
each chunk of scores. Approximate search lives in
operators/graph_ann.py, operators/pq.py and operators/sq.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from zvdb_spark.functions.vector import cosine_sim, dist_sq


def _score(metric: str, a: str, b: str) -> tuple[Column, bool]:
    """Return (score column, ascending?) for a metric name."""
    if metric == "l2_sq":
        return dist_sq(a, b), True
    if metric == "cosine":
        return cosine_sim(a, b), False
    raise ValueError(f"unknown metric {metric!r}; use 'l2_sq' or 'cosine'")


def _rank_window(query_id: str, asc: bool):
    """Per-query ranking window: score (ascending-better for l2_sq,
    descending for cosine), ties broken by neighbor id."""
    ordering = [F.col("score").asc() if asc else F.col("score").desc(),
                F.col("neighbor_id").asc()]
    return W.partitionBy(query_id).orderBy(*ordering)


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
    pairs = queries.crossJoin(corpus).select(
        F.col(query_id),
        F.col(corpus_id).alias("neighbor_id"),
        score.alias("score"),
    )
    w = _rank_window(query_id, asc)
    return pairs.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    )


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
# blocked cogroup fan-out remains THE path — its task memory stays
# bounded at any probe count, which a broadcast cannot promise.
_BCAST_PROBE_ROWS = 65536
_BCAST_PROBE_BYTES = 1 << 27  # 128 MB of f64 probe matrix


def _matrix(pdf, id_col: str, vec_col: str):
    """(ids, contiguous float64 matrix) of one pandas batch."""
    import numpy as np

    return pdf[id_col].to_numpy(), np.ascontiguousarray(
        np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
    )


def _scored_chunks(qids, qarr, cpdf, metric: str, block_fn):
    """Score one corpus batch against a probe matrix and yield one
    (query_id, neighbor_id, score) frame per query chunk.

    Query chunking bounds the distance matrix to _CELL_CHUNK_ELEMS no
    matter how big the cell is; per-row results are independent, so
    chunking changes nothing but peak memory. ``block_fn(qi, score,
    ids)`` is the row-local kernel: it maps a chunk's (queries x
    corpus) score matrix to the (query, neighbor, score) arrays kept.
    """
    import pandas as pd

    ids, mat = _matrix(cpdf, "vec_id", "emb")
    qchunk = max(256, _CELL_CHUNK_ELEMS // max(mat.shape[0], 1))
    for lo in range(0, len(qarr), qchunk):
        score = _pair_scores(qarr[lo : lo + qchunk], mat, metric)
        q, n, s = block_fn(qids[lo : lo + qchunk], score, ids)
        yield pd.DataFrame({"query_id": q, "neighbor_id": n, "score": s})


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


def _auto_grid(corpus: DataFrame, probes: DataFrame,
               n_shards: int | None, n_blocks: int | None,
               n_corpus: int | None = None,
               n_probes: int | None = None,
               *, parallelism: int) -> tuple[int, int]:
    """Pick the (shards x blocks) GEMM grid from row counts. Callers
    that know their cardinalities (e.g. from parquet footer metadata,
    sources/tables.py:table_row_count) pass them via
    ``n_corpus``/``n_probes``; otherwise the corpus is counted when
    either side of the grid is chosen here and the probes only when
    the block count is — each ``count()`` is an extra Spark job, which
    at 100 TB means a full scan before any real work.

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

    if n_shards is not None and n_blocks is not None:
        return n_shards, n_blocks
    rows_c = max(int(n_corpus if n_corpus is not None else corpus.count()), 1)
    t = 4 * max(int(parallelism), 1)

    def _clamp(v: int, rows: int) -> int:
        v = max(1, min(v, _MAX_GRID, -(-rows // _MIN_CELL_ROWS)))
        return max(v, min(_MAX_GRID, -(-rows // _MAX_SIDE_ROWS)))

    if n_blocks is None:
        rows_q = n_probes if n_probes is not None else probes.count()
        rows_q = max(int(rows_q), 1)
        b0 = int(round(math.sqrt(t * rows_q / rows_c))) or 1
        n_blocks = _clamp(b0, rows_q)
    if n_shards is None:
        p0 = max(-(-rows_c // _TARGET_CELL_ROWS), -(-t // n_blocks))
        n_shards = _clamp(p0, rows_c)
    return n_shards, n_blocks


def _bcast_probe_map(corpus: DataFrame, probe_side, metric: str, block_fn,
                     n_shards: int, corpus_id: str,
                     corpus_vec: str) -> DataFrame:
    """Broadcast layout: the probe matrix ships once per executor and
    the corpus is hash-repartitioned into ``n_shards`` near-balanced
    _TARGET_CELL_ROWS-grained tasks (the measured straggler
    granularity — an interleaved probe with the corpus left on its 32
    input partitions ran ~2x slower: fat tasks straggle under
    fluctuating CPU). The corpus crosses the exchange exactly once (as
    in the B=1 blocked grid); the probe side crosses ZERO times. The
    partition key is a deterministic 64x-oversampled id hash:
    deterministic = retry-safe (unlike rand()), 64 subkeys per
    partition = no P-keys-into-P-partitions collision skew, and a HASH
    exchange skips the local sort every keyless round-robin
    repartition pays (spark.sql.execution.sortBeforeRepartition)."""
    bq = corpus.sparkSession.sparkContext.broadcast(probe_side)

    def _task(batches):
        qids, qarr = bq.value
        for cpdf in batches:
            if len(cpdf):
                yield from _scored_chunks(qids, qarr, cpdf, metric, block_fn)

    c = corpus.select(
        F.col(corpus_id).cast("long").alias("vec_id"),
        F.col(corpus_vec).alias("emb"),
    )
    key = F.pmod(F.xxhash64(F.col("vec_id")), F.lit(64 * n_shards))
    return c.repartition(n_shards, key).mapInPandas(_task, _PAIR_SCHEMA)


def _replicated_cogroup(corpus: DataFrame, probes: DataFrame, metric: str,
                        block_fn, n_shards: int, n_blocks: int,
                        corpus_id: str, corpus_vec: str, query_id: str,
                        query_vec: str) -> DataFrame:
    """Cogroup layout: block-matrix fan-out of probes x corpus with
    BOTH sides as DataFrames — no driver-side collect of table data.

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
    import pandas as pd

    def _cell(qpdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(qpdf) or not len(cpdf):
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "score": []}
            ).astype({"query_id": "int64", "neighbor_id": "int64", "score": "float64"})
        qids, qarr = _matrix(qpdf, "query_id", "qemb")
        return pd.concat(
            _scored_chunks(qids, qarr, cpdf, metric, block_fn),
            ignore_index=True,
        )

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
        .applyInPandas(_cell, _PAIR_SCHEMA)
    )


def _fan_out(
    corpus: DataFrame,
    probes: DataFrame,
    metric: str,
    block_fn,
    n_shards: int | None,
    n_blocks: int | None,
    corpus_id: str,
    corpus_vec: str,
    query_id: str,
    query_vec: str,
    n_corpus: int | None,
    n_probes: int | None,
) -> DataFrame:
    """THE exact probes x corpus scorer: (query_id, neighbor_id, score)
    rows kept by ``block_fn`` (see _scored_chunks) over every
    (probe, corpus row) pair, and the one place that picks a layout.

    A probe side of at most _BCAST_PROBE_ROWS rows and
    _BCAST_PROBE_BYTES of f64 payload, with no explicit multi-block
    grid, takes the broadcast layout (one Arrow collect of the probes,
    no probe shuffle); any other probe side takes the blocked cogroup
    grid, whose task memory stays bounded at any probe count. Both run
    the same per-chunk scoring, so a row-local kernel selects the same
    rows under either layout. Scores carry the GEMM-shape caveat: BLAS
    summation order varies with matrix shape, so a pair's f64 score
    can move by ~1e-15 across partitionings (equal VECTORS still tie
    exactly within a run — identical columns of one GEMM — so an id
    tie-break is stable).
    """
    spark = corpus.sparkSession
    par = spark.sparkContext.defaultParallelism
    rows_q = n_probes
    if rows_q is None and (
        n_blocks is None or (n_blocks == 1 and n_shards is None)
    ):
        rows_q = probes.count()  # the gate (and _auto_grid) need it
    if (
        rows_q is not None
        and rows_q <= _BCAST_PROBE_ROWS
        and n_blocks in (None, 1)
    ):
        probe_side = _collect_probe_matrix(
            probes, query_id, query_vec, _BCAST_PROBE_BYTES
        )
        if probe_side is not None:
            if not len(probe_side[0]):
                return spark.createDataFrame([], _PAIR_SCHEMA)
            n_shards, _ = _auto_grid(
                corpus, probes, n_shards, 1, n_corpus, len(probe_side[0]),
                parallelism=par,
            )
            return _bcast_probe_map(
                corpus, probe_side, metric, block_fn, n_shards,
                corpus_id, corpus_vec,
            )
    n_shards, n_blocks = _auto_grid(
        corpus, probes, n_shards, n_blocks, n_corpus, rows_q,
        parallelism=par,
    )
    return _replicated_cogroup(
        corpus, probes, metric, block_fn, n_shards, n_blocks,
        corpus_id, corpus_vec, query_id, query_vec,
    )


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
    task of the _fan_out layout keeps a GEMM top-k per query with exact
    (distance, id) tie handling, then a global per-query top-k merge
    carries only (tasks x k) candidate rows per query — never the
    corpus. Returns (query_id, neighbor_id, score, rn), rn in 1..k.

    Per-task top-k is lossless for the global top-k under any
    partitioning (a row dropped past local rank k has k better rows in
    its task), so the selected (query, neighbor, rn) rows are the same
    under the broadcast and cogroup layouts. Pinned by the oracled
    q_knn_batch hash and test_blocked_search_matches_crossjoin_reference.
    """
    import numpy as np

    asc = metric == "l2_sq"

    def _topk(qi, score, ids):
        kk = min(k, len(ids))
        part = _topk_by_dist_id(score if asc else -score, ids, kk)
        return (
            np.repeat(qi, kk),
            ids[part.ravel()],
            np.take_along_axis(score, part, axis=1).ravel(),
        )

    per_task = _fan_out(
        corpus, probes, metric, _topk, n_shards, n_blocks,
        corpus_id, corpus_vec, query_id, query_vec, n_corpus, n_probes,
    )
    return per_task.withColumn(
        "rn", F.row_number().over(_rank_window("query_id", asc))
    ).filter(F.col("rn") <= k)


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
    as a DataFrame (the same _fan_out as exact_search_blocked). Pairs
    passing the threshold are emitted directly from each task — no
    candidate materialization, no merge stage. l2_sq keeps
    score < tau; cosine keeps score >= tau; upper_only emits only
    neighbor_id > query_id.

    The mask has no cross-pair dependence, so the layout cannot change
    the emitted pairs except for a pair whose f64 score sits within
    ~1e-15 of tau (far below any sensible threshold margin; pinned by
    the oracled q_sim_join_threshold / q_dedup_vectors /
    q_dedup_embedding hashes).
    """
    import numpy as np

    def _pairs(qi, score, ids):
        mask = score < tau if metric == "l2_sq" else score >= tau
        if upper_only:
            mask &= ids[None, :] > qi[:, None]
        r, c = np.nonzero(mask)
        return qi[r], ids[c], score[r, c]

    return _fan_out(
        corpus, probes, metric, _pairs, n_shards, n_blocks,
        corpus_id, corpus_vec, query_id, query_vec, n_corpus, n_probes,
    )
