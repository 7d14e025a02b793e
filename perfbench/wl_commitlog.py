"""Commit-log component: transactions and reads on the sharded export.

The base table is seeded ``documents`` written as the 8-shard layout
(``write_shards`` + ``init_commit_log``). One pass is ``ROUNDS`` rounds
followed by ``compact_shards``; a round is ``append_shards_tx`` (new
docs), ``merge_docs_tx`` (upserts of live ids plus new ids),
``delete_docs_tx``, ``LOOKUPS`` 16-id ``lookup_docs`` calls, one
``read_committed_pruned`` range read and one ``log_history`` read.
Compacting every pass keeps the per-pass cost level instead of
growing with the commit count.

The benchmark keeps a model of the expected rows. Outside the timed
regions every lookup, range read and count is compared with it, and
after each pass the whole committed view is.
"""

from __future__ import annotations

import os

import numpy as np

import common
import datagen
import stats

N_BASE = 2_000
N_APPEND = 250
N_MERGE = 250
N_DELETE = 50
LOOKUPS = 1
LOOKUP_IDS = 16
RANGE_IDS = 200
ROUNDS = 1
COLS = ["doc_id", "lang", "text"]


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def _user_bytes(pdf) -> int:
    """Bytes of user rows submitted: id, language and text."""
    return int(8 * len(pdf) + pdf["lang"].str.len().sum() + pdf["text"].str.len().sum())


class Churn:
    def __init__(self, ctx: common.Ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.rng = np.random.default_rng([ctx.seed, 11])
        self.model: dict[int, tuple[str, str]] = {}
        self.next_id = N_BASE
        self.batch = 0
        self.commit_s: list[float] = []
        self.read_s: list[float] = []
        self.submitted = 0
        self.lookup_rows = 0
        self.bytes_rewritten = 0
        self.out = ""

    def generate(self) -> str:
        """The seeded base documents, written as parquet."""
        pdf = datagen.documents(np.random.default_rng([self.ctx.seed, 10]), N_BASE)
        src = os.path.join(self.ctx.work, "docs.parquet")
        pdf.to_parquet(src, index=False)
        self.model = {
            int(r.doc_id): (r.lang, r.text) for r in pdf.itertuples(index=False)
        }
        return src

    def load(self, src: str) -> None:
        """The 8-shard layout of the base documents and its commit log."""
        from zvdb_spark.queries.export import init_commit_log, write_shards

        self.out = os.path.join(self.ctx.work, "table")
        write_shards(self.spark.read.parquet(src), self.out)
        init_commit_log(self.out)

    def _docs(self, ids: np.ndarray):
        pdf = datagen.documents(self.rng, len(ids))
        pdf["doc_id"] = ids.astype(np.int64)
        return pdf[COLS]

    def _frame(self, pdf):
        return self.spark.createDataFrame(pdf, "doc_id long, lang string, text string")

    def _commit(self, name: str, fn) -> float:
        secs, ok = self.ctx.op(f"queries.export.{name}", fn)
        if ok is not None:
            self.ctx.check(ok is True, f"{name} batch {self.batch} was not committed")
            self.commit_s.append(secs)
        return secs

    def _read(self, name: str, fn, expect: set, what: str) -> float:
        secs, rows = self.ctx.op(f"queries.export.{name}", fn)
        if rows is not None:
            self.read_s.append(secs)
            got = {(int(r[0]), r[1], r[2]) for r in rows}
            self.ctx.check(got == expect, f"{what}: {len(got)} rows vs {len(expect)} expected")
        return secs

    def _expect(self, ids) -> set:
        return {(i, *self.model[i]) for i in ids if i in self.model}

    def round(self) -> tuple[int, float]:
        from zvdb_spark.queries import export as ex

        spark, out, rng = self.spark, self.out, self.rng
        t = 0.0
        self.batch += 1
        b = self.batch
        # append: fresh ids
        new = self._docs(np.arange(self.next_id, self.next_id + N_APPEND))
        self.next_id += N_APPEND
        df = self._frame(new)
        t += self._commit("append_shards_tx", lambda: ex.append_shards_tx(spark, out, df, b))
        self.model.update({int(r.doc_id): (r.lang, r.text) for r in new.itertuples(index=False)})
        self.submitted += _user_bytes(new)
        # merge: half upserts of live ids, half fresh ids
        live = np.array(sorted(self.model))
        ups = rng.choice(live, N_MERGE // 2, replace=False)
        fresh = np.arange(self.next_id, self.next_id + N_MERGE - len(ups))
        self.next_id += len(fresh)
        mrg = self._docs(np.concatenate([ups, fresh]))
        df = self._frame(mrg)
        t += self._commit("merge_docs_tx", lambda: ex.merge_docs_tx(spark, out, df, b))
        self.model.update({int(r.doc_id): (r.lang, r.text) for r in mrg.itertuples(index=False)})
        self.submitted += _user_bytes(mrg)
        # delete: live ids
        live = np.array(sorted(self.model))
        dels = rng.choice(live, N_DELETE, replace=False)
        df = spark.createDataFrame([(int(i),) for i in dels], "doc_id long")
        t += self._commit("delete_docs_tx", lambda: ex.delete_docs_tx(spark, out, df, b))
        for i in dels:
            self.model.pop(int(i))
        self.submitted += 8 * len(dels)
        # point lookups: live, deleted and never-seen ids
        for _ in range(LOOKUPS):
            ids = np.concatenate(
                [
                    rng.choice(np.array(sorted(self.model)), LOOKUP_IDS - 4, replace=False),
                    rng.choice(dels, 2, replace=False),
                    rng.integers(self.next_id, self.next_id + 10**6, 2),
                ]
            ).tolist()

            def lookup(ids=ids):
                return ex.lookup_docs(spark, out, ids).select(*COLS).collect()

            t += self._read("lookup_docs", lookup, self._expect(ids), "lookup_docs")
            self.lookup_rows += len(self._expect(ids))
        # range read over the most recent ids
        lo, hi = self.next_id - RANGE_IDS, self.next_id - 1

        def pruned():
            return ex.read_committed_pruned(spark, out, lo, hi).select(*COLS).collect()

        t += self._read(
            "read_committed_pruned", pruned, self._expect(range(lo, hi + 1)),
            "read_committed_pruned",
        )
        secs, hist = self.ctx.op("queries.export.log_history", lambda: ex.log_history(out))
        t += secs
        if hist is not None:
            self.ctx.check(
                max(h["seq"] for h in hist) >= 3 * b,
                f"log_history ends at seq {max(h['seq'] for h in hist)}",
            )
        return 6 + LOOKUPS, t

    def compact(self) -> float:
        from zvdb_spark.queries import export as ex

        secs, res = self.ctx.op(
            "queries.export.compact_shards", lambda: ex.compact_shards(self.spark, self.out)
        )
        if res is not None:
            files = ex.committed_files(self.out) or []
            self.bytes_rewritten += sum(
                os.path.getsize(os.path.join(self.out, f)) for f in files
            )
        return secs

    def check_view(self) -> None:
        from zvdb_spark.queries import export as ex

        try:
            rows = ex.read_committed(self.spark, self.out).select(*COLS).collect()
            got = {(int(r[0]), r[1], r[2]) for r in rows}
            self.ctx.check(
                got == self._expect(self.model) and len(rows) == len(got),
                f"committed view: {len(rows)} rows vs {len(self.model)} expected",
            )
        except Exception as exc:  # noqa: BLE001 - the check itself broke
            self.ctx.fail(f"committed view check: {type(exc).__name__}: {exc}")


def prepare(ctx: common.Ctx) -> common.Part:
    ch = Churn(ctx)
    setup_cpu_s, _ = common.setup(ctx, ch.generate, ch.load)
    start_bytes = _dir_bytes(ch.out)
    start_submitted = ch.submitted

    def one_pass(i: int) -> tuple[int, float]:
        ops, t = 0, 0.0
        for _ in range(ROUNDS):
            n, secs = ch.round()
            ops += n
            t += secs
        t += ch.compact()
        with ctx.phase("check"):
            ch.check_view()
        return ops + 1, t

    def finish() -> dict[str, float]:
        from zvdb_spark.queries.export import committed_files

        ctx.extras["queries.export.files_live"] = len(committed_files(ch.out) or [])
        ctx.extras["queries.export.compact_shards.bytes_rewritten"] = ch.bytes_rewritten
        ctx.extras["lookup_rows"] = ch.lookup_rows
        return {
            "churn.commit_latency_p50_s": stats.quantile(ch.commit_s, 0.5),
            "churn.read_latency_p50_s": stats.quantile(ch.read_s, 0.5),
            "churn.write_amplification": (_dir_bytes(ch.out) - start_bytes)
            / max(1, ch.submitted - start_submitted),
            # the medians above are figures of few samples; this is the
            # highest percentile the sample counts would support (0: none)
            "churn.commit_samples": len(ch.commit_s),
            "churn.commit_top_percentile": stats.highest_supported(len(ch.commit_s)) or 0,
            "churn.read_samples": len(ch.read_s),
            "churn.read_top_percentile": stats.highest_supported(len(ch.read_s)) or 0,
        }

    return common.Part(setup_cpu_s, one_pass, finish)
