"""Curation component: one declared query per curation-side module.

Each pass runs every query in ``QUERIES`` once, in an order shuffled
by the seed and the pass number, and collects its rows. The first
pass runs in a fresh session, so it pays Python worker start, imports
and codegen. Outside the timed regions every result
is hashed with the normalisation of ``scripts/check_correctness.py``:
a query with a DuckDB oracle must match it, and every query must give
the same hash on every pass.
"""

from __future__ import annotations

import os
import random

import common
import datagen

# One query per module, so each queries.<module> layer is measured.
QUERIES = (
    "q_doc_dedup",
    "q_text_metrics",
    "q_quality_signals",
    "q_vocab_topk",
    "q_text_bm25_batch",
    "q_pipeline_training_data",
    "q_multimodal_features",
    "q_agg_groupby",
    "q_join_supplier_volume",
    "q_window_rank",
    "q_json_extract",
    "q_knn_batch",
)
SF = 0.001


def _oracle_hashes(sf_dir: str, oracles: dict[str, str], hash_rows) -> dict[str, tuple]:
    import duckdb

    con = duckdb.connect()
    try:
        for t in datagen.TABLE_NAMES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')"
            )
        out = {}
        for name in QUERIES:
            if name in oracles:
                res = con.execute(oracles[name])
                cols = [d[0] for d in res.description]
                rows = res.fetchall()
                out[name] = (sorted(cols), len(rows), hash_rows(cols, rows))
        return out
    finally:
        con.close()


def prepare(ctx: common.Ctx) -> common.Part:
    from scripts.check_correctness import _hash_rows
    from zvdb_spark.queries import registry

    sf_dir = os.path.join(ctx.work, "sf")

    setup_cpu_s, _ = common.setup(
        ctx,
        lambda: datagen.write_tables(datagen.tables(ctx.seed, SF), sf_dir),
        lambda _: None,
    )
    reg = registry.all_queries()
    with ctx.phase("oracle"):
        oracle = _oracle_hashes(
            sf_dir, {n: q.oracle for n, q in reg.items() if q.oracle}, _hash_rows
        )
    first_hash: dict[str, str] = {}

    def one_pass(i: int) -> tuple[int, float]:
        order = list(QUERIES)
        random.Random(ctx.seed * 1000 + i).shuffle(order)
        total = 0.0
        for name in order:
            q = reg[name]
            span = "queries." + q.fn.__module__.rsplit(".", 1)[1]

            def execute(q=q, span=span):
                with ctx.tracer.span(f"{span}.plan"):
                    df = q.fn(ctx.spark, sf_dir)
                with ctx.tracer.span(f"{span}.exec"):
                    rows = [tuple(r) for r in df.collect()]
                return df.columns, rows

            secs, out = ctx.op(span, execute)
            total += secs
            if out is None:
                continue
            cols, rows = out
            h = _hash_rows(cols, rows)
            if name in oracle:
                ocols, orows, ohash = oracle[name]
                ctx.check(
                    (sorted(cols), len(rows), h) == (ocols, orows, ohash),
                    f"{name}: differs from its DuckDB oracle "
                    f"(rows {len(rows)} vs {orows})",
                )
            prev = first_hash.setdefault(name, h)
            ctx.check(h == prev, f"{name}: hash changed between passes")
        return len(order), total

    return common.Part(setup_cpu_s, one_pass, dict)
