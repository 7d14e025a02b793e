"""Vector component: build, search and append on a graph index.

One pass on a fresh ``GraphIndex`` (M=16, ef=128, k=10): build plus
``state()``, one exact batch, one appended delta plus ``state()``, and
one ANN batch against the index the append left. Both batches are
collected to the driver. The corpus is a mixture of Gaussians (N/500
centres, sigma 0.08, as in the engine's main bench). After each pass,
outside its timed regions, the first ``N_CHECK`` queries of each batch
are checked against a numpy f64 brute force: exact neighbours must
match it up to float32 rounding, and ANN recall@10 is measured
against it."""

from __future__ import annotations

import os
import statistics

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import common
import datagen

N = 10_000
DIM = 128
K = 10
NQ_EXACT = 1_000
NQ_ANN = 500
DELTA = 1_000
N_CHECK = 200
RECALL_FLOOR = 0.9
F32_SLACK = 64


def _write(path: str, ids: np.ndarray, x: np.ndarray, id_col: str, vec_col: str, parts: int) -> str:
    """Write (id, vector) rows as ``parts`` parquet files under
    ``path``, so a scan reads them as that many partitions."""
    os.makedirs(path, exist_ok=True)
    for i, rows in enumerate(np.array_split(np.arange(len(ids)), parts)):
        xs = np.ascontiguousarray(x[rows], dtype=np.float64)
        offsets = pa.array(np.arange(0, xs.size + 1, x.shape[1], dtype=np.int32))
        pq.write_table(
            pa.table(
                {
                    id_col: pa.array(ids[rows].astype(np.int64)),
                    vec_col: pa.ListArray.from_arrays(offsets, pa.array(xs.ravel())),
                }
            ),
            os.path.join(path, f"part-{i:03d}.parquet"),
        )
    return path


def _generate(ctx: common.Ctx) -> dict:
    """Seeded vectors written as parquet; numpy copies kept for checks."""
    d = os.path.join(ctx.work, "vectors")
    os.makedirs(d, exist_ok=True)
    centres, x = datagen.clustered(ctx.seed, N, DIM, max(1, N // 500))
    _, delta = datagen.clustered(ctx.seed, DELTA, DIM, max(1, N // 500), id_offset=N)
    qe = datagen.queries_near(centres, ctx.seed, NQ_EXACT, 0)
    qa = datagen.queries_near(centres, ctx.seed, NQ_ANN, 1)
    v, q = ("vec_id", "emb"), ("query_id", "qemb")
    p = ctx.spark.sparkContext.defaultParallelism
    return {
        "x": x,
        "x_delta": np.vstack([x, delta]),
        "qe_np": qe[:N_CHECK],
        "qa_np": qa[:N_CHECK],
        "files": {
            "emb": _write(f"{d}/corpus", np.arange(N), x, *v, p),
            "delta": _write(f"{d}/delta", np.arange(N, N + DELTA), delta, *v, p),
            "qe": _write(f"{d}/qe", np.arange(NQ_EXACT), qe, *q, p),
            "qa": _write(f"{d}/qa", np.arange(NQ_ANN), qa, *q, p),
        },
    }


def _load(spark, gen: dict) -> dict:
    """Input frames over the parquet files: every timed operation scans
    its input from disk, as an ingest from files would."""
    frames = {k: spark.read.parquet(p) for k, p in gen["files"].items()}
    return {**{k: v for k, v in gen.items() if k != "files"}, **frames}


def _sq_dists(corpus: np.ndarray, q: np.ndarray) -> np.ndarray:
    """f64 squared distances, (queries, corpus)."""
    return (
        (q * q).sum(1)[:, None]
        - 2.0 * q @ corpus.T
        + (corpus * corpus).sum(1)[None, :]
    )


def _check(ctx: common.Ctx, data: dict, exact, ann) -> float:
    """Checks the first N_CHECK queries of each timed batch against a
    numpy f64 brute force. The exact path runs in float32, so each of
    its k neighbours must be within float32 rounding of the true k-th
    distance: ``F32_SLACK`` float32 epsilons of the squared norms the
    norm-expansion subtracts. ANN recall@10 is measured against the
    brute force. Returns the recall; a mismatch counts the op as
    failed."""
    d2 = _sq_dists(data["x"], data["qe_np"])
    kth = np.sort(d2, axis=1)[:, K - 1]
    q = data["qe_np"]
    tol = F32_SLACK * np.finfo(np.float32).eps * (
        (q * q).sum(1) + (data["x"] * data["x"]).sum(1).max()
    )
    exact_ok = exact is not None and exact["query_id"].nunique() == NQ_EXACT
    if exact is not None:
        for qid, grp in exact[exact["query_id"] < N_CHECK].groupby("query_id"):
            ids = grp["neighbor_id"].to_numpy()
            if (
                len(ids) != K
                or len(set(ids.tolist())) != K
                or d2[qid, ids].max() > kth[qid] + tol[qid]
            ):
                exact_ok = False
    ctx.check(exact_ok, "exact_search disagrees with numpy brute force")
    if ann is None:
        return 0.0
    ref_ids = np.argsort(_sq_dists(data["x_delta"], data["qa_np"]), axis=1)[:, :K]
    sub = ann[ann["query_id"] < N_CHECK]
    hits = sum(
        len(set(ref_ids[qid].tolist()) & set(grp["vec_id"].tolist()))
        for qid, grp in sub.groupby("query_id")
    )
    recall = hits / (K * N_CHECK)
    ctx.check(
        ann["query_id"].nunique() == NQ_ANN and recall >= RECALL_FLOOR,
        f"ANN recall@10 {recall:.3f} < {RECALL_FLOOR}",
    )
    return recall


def prepare(ctx: common.Ctx) -> common.Part:
    from zvdb_spark.operators.graph_ann import GraphIndex

    setup_cpu_s, data = common.setup(ctx, lambda: _generate(ctx), lambda g: _load(ctx.spark, g))
    idx_dir = os.path.join(ctx.work, "index")
    times: dict[str, list[float]] = {"insert": [], "exact": [], "append": [], "ann": []}
    recalls: list[float] = []

    def one_pass(i: int) -> tuple[int, float]:
        g = GraphIndex(m=16, ef=128, seed=ctx.seed, index_dir=idx_dir)
        t_build, _ = ctx.op("operators.graph_ann.build", lambda: g.build(data["emb"], n_rows=N))
        t_state, _ = ctx.op("operators.graph_ann.state", g.state)
        t_exact, exact = ctx.op(
            "operators.segments.exact_search",
            lambda: g.exact_search(data["qe"], k=K, n_queries=NQ_EXACT).toPandas(),
        )
        t_app, _ = ctx.op("operators.graph_ann.append", lambda: g.append(data["delta"]))
        t_app_state, _ = ctx.op("operators.graph_ann.state", g.state)
        t_ann, ann = ctx.op(
            "operators.graph_ann.search",
            lambda: g.search(data["qa"], k=K, n_queries=NQ_ANN).toPandas(),
        )
        times["insert"].append(t_build + t_state)
        times["exact"].append(t_exact)
        times["append"].append(t_app + t_app_state)
        times["ann"].append(t_ann)
        with ctx.phase("check"):
            try:
                recalls.append(_check(ctx, data, exact, ann))
            except Exception as exc:  # noqa: BLE001 - the check itself broke
                ctx.fail(f"vector check: {type(exc).__name__}: {exc}")
            g.retire()
        return 6, t_build + t_state + t_exact + t_app + t_app_state + t_ann

    def finish() -> dict[str, float]:
        med = {k: statistics.median(v) for k, v in times.items()}
        return {
            "vector.insert_pts_per_s": N / med["insert"],
            "vector.exact_search_qps": NQ_EXACT / med["exact"],
            "vector.ann_search_qps": NQ_ANN / med["ann"],
            "vector.ann_recall_at_10": statistics.mean(recalls) if recalls else 0.0,
            "vector.append_pts_per_s": DELTA / med["append"],
        }

    return common.Part(setup_cpu_s, one_pass, finish)
