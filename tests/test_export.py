"""Deterministic shard export (queries/export.py) — past-cap
rows-only query, so this suite IS its correctness gate: DuckDB parity
of the manifest against the logical definition, permutation
invariants on the read-back files, determinism, and the plan shape
(one hash shuffle, no global order)."""

from __future__ import annotations

from tests.oracle_utils import assert_matches_oracle, portable_h as _h
from zvdb_spark.queries.export import (
    EXPORT_ORACLE,
    N_SHARDS,
    ORDER_SALT,
    _CHK_M,
    export_manifest,
    q_export_shards,
    sharded_export,
)
from zvdb_spark.sources.tables import load


def test_manifest_matches_oracle(spark, sf_dir):
    assert_matches_oracle(
        q_export_shards(spark, sf_dir), EXPORT_ORACLE, sf_dir
    )


def test_written_files_carry_a_gapless_permutation(spark, sf_dir, tmp_path):
    """Read-back invariants a loader relies on: every shard's pos is
    1..n with no gaps or duplicates, every doc appears exactly once
    across shards, and shard assignment matches the hash rule."""
    out = str(tmp_path / "exp")
    sharded_export(spark, sf_dir, out)
    rows = spark.read.parquet(out).select(
        "shard", "pos", "doc_id"
    ).collect()
    n_total = load(spark, sf_dir, "documents").count()
    assert len(rows) == n_total
    assert len({r.doc_id for r in rows}) == n_total
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.pos)
        assert _h(str(r.doc_id)) % N_SHARDS == r.shard
    assert set(by_shard) == set(range(N_SHARDS))
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard


def test_permutation_matches_python_recompute(spark, sf_dir, tmp_path):
    """The full (shard, pos, doc_id) permutation — not just the
    manifest rollup — recomputed independently in Python from the
    hash definitions."""
    out = str(tmp_path / "exp")
    sharded_export(spark, sf_dir, out)
    got = {
        (r.shard, r.pos): r.doc_id
        for r in spark.read.parquet(out)
        .select("shard", "pos", "doc_id")
        .collect()
    }
    docs = [
        r.doc_id
        for r in load(spark, sf_dir, "documents").select("doc_id").collect()
    ]
    want = {}
    by_shard: dict[int, list[tuple[int, int]]] = {}
    for d in docs:
        by_shard.setdefault(_h(str(d)) % N_SHARDS, []).append(
            (_h(f"{d}#{ORDER_SALT}"), d)
        )
    for shard, entries in by_shard.items():
        for pos, (_, d) in enumerate(sorted(entries), start=1):
            want[(shard, pos)] = d
    assert got == want


def test_export_is_deterministic_across_runs(spark, sf_dir, tmp_path):
    a = {
        tuple(r)
        for r in q_export_shards(spark, sf_dir).collect()
    }
    out = str(tmp_path / "exp2")
    sharded_export(spark, sf_dir, out)
    b = {tuple(r) for r in export_manifest(spark, out).collect()}
    assert a == b and len(a) == N_SHARDS


def test_export_plan_is_one_window_shuffle_no_global_order(
    spark, sf_dir, tmp_path
):
    """The rank window partitions BY SHARD (never a global order —
    that is a single task at any scale), and the PRODUCTION frame —
    the one sharded_export actually writes and returns — carries
    exactly that one exchange."""
    from zvdb_spark.plans.audit import plan_audit

    ranked = sharded_export(spark, sf_dir, str(tmp_path / "exp"))
    a = plan_audit(ranked)
    assert "hashpartitioning(shard" in a["plan"], a["plan"][:1500]
    assert "SinglePartition" not in a["plan"], a["plan"][:1500]
    assert a["n_exchanges"] == 1, a["plan"][:1500]


def test_append_extends_shards_gaplessly_and_delta_scoped(
    spark, sf_dir, tmp_path
):
    """Append a small batch to a standing export: per-shard pos stays
    gapless (standing rows untouched, new rows continue the count),
    the appended batch lands in hash order after the standing rows,
    and files of untouched shards are byte-identical (delta-scoped
    write)."""
    import glob
    import os

    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import append_shards, write_shards

    docs = load(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 2 == 0)
    delta = (
        docs.filter(F.col("doc_id") % 2 == 1).orderBy("doc_id").limit(3)
    )
    out = str(tmp_path / "exp")
    write_shards(base, out)
    files_before = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{out}/shard=*/*.parquet")
    }
    touched = {
        _h(str(r.doc_id)) % N_SHARDS for r in delta.collect()
    }
    append_shards(spark, out, delta)

    back = spark.read.parquet(out).select("shard", "pos", "doc_id").collect()
    n_base = base.count()
    assert len(back) == n_base + 3
    by_shard: dict[int, list] = {}
    for r in back:
        by_shard.setdefault(r.shard, []).append(r)
    for shard, rows in by_shard.items():
        poss = sorted(r.pos for r in rows)
        assert poss == list(range(1, len(poss) + 1)), shard  # gapless
    # appended docs sit AFTER every standing doc of their shard
    base_ids = {r.doc_id for r in base.select("doc_id").collect()}
    for r in back:
        if r.doc_id not in base_ids:
            standing = [
                x.pos for x in by_shard[r.shard] if x.doc_id in base_ids
            ]
            assert r.pos > max(standing, default=0)
    # delta-scoped write: pre-existing files untouched, new files only
    # in the shards the batch hashes to
    for f, mt in files_before.items():
        assert os.path.getmtime(f) == mt, f
    new_files = set(glob.glob(f"{out}/shard=*/*.parquet")) - set(
        files_before
    )
    assert new_files
    assert {
        int(f.split("shard=")[1].split("/")[0]) for f in new_files
    } <= touched


def test_append_is_deterministic(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import append_shards, write_shards

    docs = load(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 2 == 0)
    delta = docs.filter(F.col("doc_id") % 2 == 1)
    outs = []
    for name in ("a", "b"):
        out = str(tmp_path / name)
        write_shards(base, out)
        append_shards(spark, out, delta)
        outs.append(
            {
                (r.shard, r.pos, r.doc_id)
                for r in spark.read.parquet(out)
                .select("shard", "pos", "doc_id")
                .collect()
            }
        )
    assert outs[0] == outs[1]


def test_append_empty_batch_is_a_noop(spark, sf_dir, tmp_path):
    from zvdb_spark.queries.export import append_shards, write_shards

    docs = load(spark, sf_dir, "documents")
    out = str(tmp_path / "exp")
    write_shards(docs, out)
    before = {
        tuple(r)
        for r in spark.read.parquet(out)
        .select("shard", "pos", "doc_id")
        .collect()
    }
    append_shards(spark, out, docs.limit(0))
    after = {
        tuple(r)
        for r in spark.read.parquet(out)
        .select("shard", "pos", "doc_id")
        .collect()
    }
    assert before == after


def test_append_rejects_mismatched_shard_count(spark, sf_dir, tmp_path):
    """A batch routed by a different modulus than the standing layout
    would silently corrupt shard membership — the manifest makes the
    mismatch an error and the default route by-the-layout."""
    import pytest

    from zvdb_spark.queries.export import append_shards, write_shards

    docs = load(spark, sf_dir, "documents")
    out = str(tmp_path / "exp16")
    write_shards(docs.filter("doc_id % 2 = 0"), out, n_shards=16)
    delta = docs.filter("doc_id % 2 = 1").limit(2)
    with pytest.raises(ValueError, match="was written with 16"):
        append_shards(spark, out, delta, n_shards=8)
    # default: routes by the layout's own 16
    append_shards(spark, out, delta)
    back = spark.read.parquet(out)
    assert back.count() == docs.filter("doc_id % 2 = 0").count() + 2
    for r in back.select("shard", "doc_id").collect():
        assert _h(str(r.doc_id)) % 16 == r.shard


def _file_md5s(out: str) -> dict[str, str]:
    import glob
    import hashlib

    return {
        f: hashlib.md5(open(f, "rb").read()).hexdigest()
        for f in glob.glob(f"{out}/shard=*/*.parquet")
    }


def test_three_successive_appends_stay_gapless_and_byte_stable(
    spark, sf_dir, tmp_path
):
    """r9 verdict item 6: the single-append suite doesn't prove the
    standing-max read composes — run THREE successive appends and pin
    (a) per-shard pos is gapless after every step, (b) every file
    present before an append is BYTE-identical after it (content
    hash, not mtime), (c) each batch's rows land after everything
    standing at its append time, in batch-hash order."""
    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import append_shards, write_shards

    docs = load(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 4 == 0)
    out = str(tmp_path / "exp")
    write_shards(base, out)

    batches = [
        docs.filter(F.col("doc_id") % 4 == m).orderBy("doc_id").limit(5)
        for m in (1, 2, 3)
    ]
    seen_ids = {r.doc_id for r in base.select("doc_id").collect()}
    for step, delta in enumerate(batches, start=1):
        before = _file_md5s(out)
        batch_rows = delta.collect()
        append_shards(spark, out, delta)
        after = _file_md5s(out)
        for f, h in before.items():  # standing files byte-identical
            assert after[f] == h, (step, f)

        back = (
            spark.read.parquet(out)
            .select("shard", "pos", "doc_id")
            .collect()
        )
        by_shard: dict[int, list] = {}
        for r in back:
            by_shard.setdefault(r.shard, []).append(r)
        for shard, rows in by_shard.items():
            poss = sorted(r.pos for r in rows)
            assert poss == list(range(1, len(poss) + 1)), (step, shard)
        # this batch's rows sit after every previously-standing row of
        # their shard, ordered among themselves by (h2, doc_id)
        batch_ids = {r.doc_id for r in batch_rows}
        for shard, rows in by_shard.items():
            standing_max = max(
                (r.pos for r in rows if r.doc_id in seen_ids), default=0
            )
            mine = sorted(
                (r for r in rows if r.doc_id in batch_ids),
                key=lambda r: r.pos,
            )
            want = sorted(
                (r.doc_id for r in batch_rows
                 if _h(str(r.doc_id)) % N_SHARDS == shard),
                key=lambda d: (_h(f"{d}#{ORDER_SALT}"), d),
            )
            assert [r.doc_id for r in mine] == want, (step, shard)
            assert all(r.pos > standing_max for r in mine), (step, shard)
        seen_ids |= batch_ids
        assert len(back) == len(seen_ids)


def test_append_skewed_batch_lands_in_one_shard_only(
    spark, sf_dir, tmp_path
):
    """Adversarial skew: a batch whose docs ALL hash to one shard.
    The append must write new files ONLY under that shard's
    partition, leave every other shard byte-identical, and keep the
    hot shard gapless — the delta-scoped dynamic-partition write must
    not rewrite or touch cold partitions even when the whole batch
    concentrates."""
    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import append_shards, write_shards

    docs = load(spark, sf_dir, "documents")
    ids = [r.doc_id for r in docs.select("doc_id").collect()]
    target = _h(str(ids[0])) % N_SHARDS
    hot = [d for d in ids if _h(str(d)) % N_SHARDS == target]
    assert len(hot) >= 4  # enough to make a skewed batch
    base = docs.filter(~F.col("doc_id").isin(hot[:4]))
    delta = docs.filter(F.col("doc_id").isin(hot[:4]))
    out = str(tmp_path / "exp")
    write_shards(base, out)
    before = _file_md5s(out)
    append_shards(spark, out, delta)
    after = _file_md5s(out)
    for f, h in before.items():
        assert after[f] == h, f
    new_files = set(after) - set(before)
    assert new_files
    assert {
        int(f.split("shard=")[1].split("/")[0]) for f in new_files
    } == {target}
    back = spark.read.parquet(out).select("shard", "pos").collect()
    by_shard: dict[int, list] = {}
    for r in back:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard


# ------------------------- commit-log (exactly-once) append layer


def _tx_setup(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import init_commit_log, write_shards

    docs = load(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 2 == 0)
    out = str(tmp_path / "txexp")
    write_shards(base, out)
    init_commit_log(out)
    return docs, out


def test_tx_replayed_batch_is_noop_and_byte_stable(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import append_shards_tx, read_committed

    docs, out = _tx_setup(spark, sf_dir, tmp_path)
    delta = docs.filter(F.col("doc_id") % 2 == 1).limit(5)
    assert append_shards_tx(spark, out, delta, batch_id=7) is True
    snap = _file_md5s(out)
    n = read_committed(spark, out).count()
    # the redelivery: same batch_id, even different data must be
    # refused — the fence is the id, as foreachBatch defines it
    assert append_shards_tx(spark, out, docs.limit(2), batch_id=7) is False
    assert _file_md5s(out) == snap
    assert read_committed(spark, out).count() == n


def test_tx_ranks_against_committed_state_not_directory_listing(
    spark, sf_dir, tmp_path
):
    """A crash between data write and commit leaves an orphan file; a
    later batch must rank pos against the COMMITTED max, or the orphan
    would shift every subsequent position. The orphan here carries a
    poisoned huge pos: if ranking read the raw directory, the next
    batch's pos would jump past it and the committed view would gap."""
    import glob
    import os

    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import (
        append_shards_tx,
        read_committed,
        vacuum_uncommitted,
    )

    docs, out = _tx_setup(spark, sf_dir, tmp_path)
    odd = docs.filter(F.col("doc_id") % 2 == 1).orderBy("doc_id")
    assert append_shards_tx(spark, out, odd.limit(4), batch_id=0)

    shard_dir = sorted(glob.glob(f"{out}/shard=*"))[0]
    shard = int(shard_dir.rsplit("=", 1)[1])
    poisoned = (
        read_committed(spark, out)
        .filter(F.col("shard") == shard)
        .drop("shard")
        .withColumn("pos", F.col("pos") + F.lit(10_000))
    )
    poisoned.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "poison")
    )
    src = glob.glob(str(tmp_path / "poison" / "*.parquet"))[0]
    os.rename(src, os.path.join(shard_dir, "part-orphan.parquet"))

    assert append_shards_tx(spark, out, odd.offset(4).limit(4), batch_id=1)
    removed = vacuum_uncommitted(out, grace_sec=0.0)
    assert [os.path.basename(r) for r in removed] == ["part-orphan.parquet"]
    back = read_committed(spark, out).groupBy("shard").agg(
        F.count("*").alias("n"), F.max("pos").alias("mx")
    )
    for r in back.collect():
        assert r.n == r.mx, (r.shard, r.n, r.mx)  # gapless: no jump


def test_tx_guards(spark, sf_dir, tmp_path):
    import pytest

    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import (
        append_shards_tx,
        init_commit_log,
        write_shards,
    )

    docs = load(spark, sf_dir, "documents")
    out = str(tmp_path / "plain")
    write_shards(docs.filter(F.col("doc_id") % 2 == 0), out)
    delta = docs.filter(F.col("doc_id") % 2 == 1).limit(2)
    with pytest.raises(ValueError, match="no commit log"):
        append_shards_tx(spark, out, delta, batch_id=0)
    init_commit_log(out)
    with pytest.raises(ValueError, match="already exists"):
        init_commit_log(out)
    with pytest.raises(ValueError, match="n_shards"):
        append_shards_tx(spark, out, delta, batch_id=0, n_shards=3)


def test_tx_committed_manifest_matches_plain_when_fully_committed(
    spark, sf_dir, tmp_path
):
    """After a vacuum every surviving data file is committed, so the
    log view and the raw directory view must agree row-for-row."""
    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import (
        append_shards_tx,
        committed_manifest,
        export_manifest,
        vacuum_uncommitted,
    )

    docs, out = _tx_setup(spark, sf_dir, tmp_path)
    odd = docs.filter(F.col("doc_id") % 2 == 1).orderBy("doc_id")
    append_shards_tx(spark, out, odd.limit(3), batch_id=0)
    append_shards_tx(spark, out, odd.subtract(odd.limit(3)), batch_id=1)
    assert vacuum_uncommitted(out, grace_sec=0.0) == []
    key = ["shard"]
    a = committed_manifest(spark, out).toPandas().sort_values(
        key, ignore_index=True
    )
    b = export_manifest(spark, out).toPandas().sort_values(
        key, ignore_index=True
    )
    assert a.equals(b)


def test_plain_append_on_logged_layout_self_commits(
    spark, sf_dir, tmp_path
):
    """Review catch (r10): a plain append_shards into a LOGGED layout
    must not leave its rows uncommitted — vacuum_uncommitted would
    silently delete them as crash orphans. It self-commits (uuid
    commit name), so the committed view gains the rows and vacuum
    removes nothing."""
    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import (
        append_shards,
        read_committed,
        vacuum_uncommitted,
    )

    docs, out = _tx_setup(spark, sf_dir, tmp_path)
    n0 = read_committed(spark, out).count()
    delta = docs.filter(F.col("doc_id") % 2 == 1).limit(4)
    append_shards(spark, out, delta)
    assert read_committed(spark, out).count() == n0 + 4
    assert vacuum_uncommitted(out, grace_sec=0.0) == []
    back = read_committed(spark, out).groupBy("shard").agg(
        F.count("*").alias("n"), F.max("pos").alias("mx")
    )
    for r in back.collect():
        assert r.n == r.mx, (r.shard, r.n, r.mx)


def test_commit_log_rejects_uri_schemes(spark, sf_dir, tmp_path):
    import pytest

    from zvdb_spark.queries.export import append_shards_tx, init_commit_log

    with pytest.raises(ValueError, match="local filesystem"):
        init_commit_log("hdfs://nn/corpus")
    docs, out = _tx_setup(spark, sf_dir, tmp_path)
    with pytest.raises(ValueError, match="local filesystem"):
        append_shards_tx(spark, "s3://bucket/x", docs.limit(1), batch_id=0)


# --------------------- compaction + power-of-two reshard


def _perm(spark, out):
    """Full committed (shard, pos) -> doc_id permutation."""
    from zvdb_spark.queries.export import read_committed

    return {
        (r.shard, r.pos): r.doc_id
        for r in read_committed(spark, out)
        .select("shard", "pos", "doc_id")
        .collect()
    }


def _compacted_setup(spark, sf_dir, tmp_path):
    """Base export + two tx appends — the multi-file state compaction
    exists to clean up."""
    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import append_shards_tx

    docs, out = _tx_setup(spark, sf_dir, tmp_path)
    # core columns only: the suite's later echo batches are core-only,
    # and the widen-only fence (round 13) rejects a batch that drops a
    # column an earlier batch carried
    odd = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", "text"
    )
    assert append_shards_tx(spark, out, odd.filter(F.col("doc_id") % 4 == 1), 1)
    assert append_shards_tx(spark, out, odd.filter(F.col("doc_id") % 4 == 3), 2)
    return docs, out


def test_compact_preserves_full_permutation(spark, sf_dir, tmp_path):
    """Compaction is a physical rewrite only: the committed
    (shard, pos, doc_id) permutation is bit-identical across the swap
    and across the vacuum that follows, and every shard ends as ONE
    file."""
    import glob
    import os

    from zvdb_spark.queries.export import compact_shards, vacuum_uncommitted

    _, out = _compacted_setup(spark, sf_dir, tmp_path)
    before = _perm(spark, out)
    stats = compact_shards(spark, out)
    assert stats["files_after"] == N_SHARDS
    assert stats["files_before"] > stats["files_after"]
    assert _perm(spark, out) == before
    removed = vacuum_uncommitted(out, grace_sec=0.0)
    assert sorted(removed) == stats["reclaimable"]
    assert _perm(spark, out) == before
    for d in glob.glob(os.path.join(out, "shard=*")):
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d


def test_compact_crash_before_commit_is_invisible(spark, sf_dir, tmp_path):
    """The data-write half of a compaction without its commit (crash
    simulation) leaves the committed view untouched; vacuum reclaims
    exactly the half-written files."""
    from zvdb_spark.queries.export import (
        _data_files,
        read_committed,
        vacuum_uncommitted,
    )

    _, out = _compacted_setup(spark, sf_dir, tmp_path)
    before = _perm(spark, out)
    disk0 = set(_data_files(out))
    # the write half of compact_shards, then "crash" before the commit
    (
        read_committed(spark, out)
        .select("shard", "pos", "doc_id", "lang", "text", "h1")
        .repartition(N_SHARDS, "shard")
        .sortWithinPartitions("shard", "pos")
        .write.mode("append")
        .partitionBy("shard")
        .parquet(out)
    )
    half_written = sorted(set(_data_files(out)) - disk0)
    assert half_written
    assert _perm(spark, out) == before  # orphans invisible
    assert vacuum_uncommitted(out, grace_sec=0.0) == half_written
    assert _perm(spark, out) == before


def test_replay_fence_survives_compaction(spark, sf_dir, tmp_path):
    """A batch_id whose rows were compacted away must STILL be fenced:
    the superseded commit json is retained precisely so a late
    redelivery stays a no-op."""
    from zvdb_spark.queries.export import (
        _data_files,
        append_shards_tx,
        compact_shards,
        vacuum_uncommitted,
    )

    docs, out = _compacted_setup(spark, sf_dir, tmp_path)
    compact_shards(spark, out)
    vacuum_uncommitted(out, grace_sec=0.0)
    before = _perm(spark, out)
    disk0 = set(_data_files(out))
    # replay of batch 1 (its rows now live only in compacted files)
    odd = docs.filter((docs.doc_id % 2 == 1) & (docs.doc_id % 4 == 1))
    assert append_shards_tx(spark, out, odd, 1) is False
    assert set(_data_files(out)) == disk0
    assert _perm(spark, out) == before


def test_append_after_compaction_continues_pos(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import (
        append_shards_tx,
        compact_shards,
        read_committed,
        vacuum_uncommitted,
    )

    docs, out = _compacted_setup(spark, sf_dir, tmp_path)
    compact_shards(spark, out)
    vacuum_uncommitted(out, grace_sec=0.0)
    echo = docs.limit(7).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "lang", "text"
    )
    assert append_shards_tx(spark, out, echo, 3) is True
    back = read_committed(spark, out).groupBy("shard").agg(
        F.count("*").alias("n"), F.max("pos").alias("mx")
    )
    for r in back.collect():
        assert r.n == r.mx, (r.shard, r.n, r.mx)


def test_double_compaction_chains(spark, sf_dir, tmp_path):
    """Compacting twice (with an append in between) keeps the
    permutation: the second compact's "replaces" supersedes the first
    compact commit AND the interleaved append."""
    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import (
        append_shards_tx,
        compact_shards,
        vacuum_uncommitted,
    )

    docs, out = _compacted_setup(spark, sf_dir, tmp_path)
    compact_shards(spark, out)
    echo = docs.limit(5).select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"), "lang", "text"
    )
    append_shards_tx(spark, out, echo, 3)
    before = _perm(spark, out)
    stats2 = compact_shards(spark, out)
    vacuum_uncommitted(out, grace_sec=0.0)
    assert stats2["files_after"] == N_SHARDS
    assert _perm(spark, out) == before


def test_reshard_refines_membership_and_preserves_order(
    spark, sf_dir, tmp_path
):
    """h mod 2N refines h mod N: every new shard folds back to its
    parent, membership is never re-drawn, and within each new shard
    the doc order equals the parent-shard order restricted to the
    child (rank by old pos)."""
    from zvdb_spark.queries.export import (
        init_commit_log,
        read_layout_manifest,
        reshard_double,
        vacuum_uncommitted,
        write_shards,
    )

    docs = load(spark, sf_dir, "documents")
    out = str(tmp_path / "rs")
    write_shards(docs, out, n_shards=4)
    init_commit_log(out)
    old = _perm(spark, out)
    stats = reshard_double(spark, out)
    assert (stats["n_shards_before"], stats["n_shards_after"]) == (4, 8)
    assert read_layout_manifest(out)["n_shards"] == 8
    vacuum_uncommitted(out, grace_sec=0.0)
    new = _perm(spark, out)
    assert len(new) == len(old)
    # membership refinement + order carry-over, recomputed in Python
    want: dict[tuple[int, int], int] = {}
    by_child: dict[int, list[tuple[int, int]]] = {}
    for (shard, pos), d in old.items():
        child = _h(str(d)) % 8
        assert child % 4 == shard  # refinement
        by_child.setdefault(child, []).append((pos, d))
    for child, entries in by_child.items():
        for new_pos, (_, d) in enumerate(sorted(entries), start=1):
            want[(child, new_pos)] = d
    assert new == want


def test_reshard_interrupted_swap_is_detected_and_repaired(
    spark, sf_dir, tmp_path
):
    """Crash between the reshard commit and the layout-manifest swap:
    appends refuse to route until repair_layout restores the manifest
    from the live reshard commit."""
    import pytest
    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import (
        _write_layout_manifest,
        append_shards_tx,
        init_commit_log,
        read_layout_manifest,
        repair_layout,
        reshard_double,
        write_shards,
    )

    docs = load(spark, sf_dir, "documents")
    out = str(tmp_path / "rs2")
    write_shards(docs, out, n_shards=4)
    init_commit_log(out)
    reshard_double(spark, out)
    # simulate the crash: manifest rolled back to the pre-swap count
    _write_layout_manifest(out, 4)
    delta = docs.limit(3).select(
        (F.col("doc_id") + 30_000_000).alias("doc_id"), "lang", "text"
    )
    with pytest.raises(ValueError, match="interrupted reshard"):
        append_shards_tx(spark, out, delta, 1)
    assert repair_layout(out) == 8
    assert read_layout_manifest(out)["n_shards"] == 8
    assert append_shards_tx(spark, out, delta, 1) is True


def test_maintenance_requires_commit_log(spark, sf_dir, tmp_path):
    import pytest

    from zvdb_spark.queries.export import (
        compact_shards,
        reshard_double,
        write_shards,
    )

    docs = load(spark, sf_dir, "documents")
    out = str(tmp_path / "nolog")
    write_shards(docs.limit(20), out)
    with pytest.raises(ValueError, match="commit log"):
        compact_shards(spark, out)
    with pytest.raises(ValueError, match="commit log"):
        reshard_double(spark, out)


def test_unknown_commit_format_is_fenced(spark, sf_dir, tmp_path):
    import json
    import os

    import pytest

    from zvdb_spark.queries.export import committed_files

    _, out = _tx_setup(spark, sf_dir, tmp_path)
    with open(os.path.join(out, "_commits", "zz-future.json"), "w") as f:
        json.dump({"format": 3, "files": []}, f)
    with pytest.raises(ValueError, match="format"):
        committed_files(out)


def test_q_export_compact_and_reshard_queries(spark, sf_dir):
    """The declared queries run end-to-end (their invariants are
    asserted inside) and return the expected manifest shapes."""
    from zvdb_spark.queries.export import q_export_compact, q_export_reshard

    assert q_export_compact(spark, sf_dir).count() == N_SHARDS
    assert q_export_reshard(spark, sf_dir).count() == 8


def test_snapshot_reads_reproduce_each_commit(spark, sf_dir, tmp_path):
    """Per-seq snapshot parity: seq 0 is the base permutation, each
    append's seq adds exactly its batch rows, the latest snapshot
    equals the committed view, and a later compaction does not rewrite
    earlier history."""
    from zvdb_spark.queries.export import (
        compact_shards,
        log_history,
        read_snapshot,
    )

    _, out = _compacted_setup(spark, sf_dir, tmp_path)
    before_compact = _perm(spark, out)
    # snapshots captured per seq BEFORE compaction
    snaps = {
        s: {
            (r.shard, r.pos): r.doc_id
            for r in read_snapshot(spark, out, s)
            .select("shard", "pos", "doc_id")
            .collect()
        }
        for s in (0, 1, 2)
    }
    assert len(snaps[0]) < len(snaps[1]) < len(snaps[2])
    assert snaps[2] == before_compact
    # base rows keep their exact (shard, pos) slots in later snapshots
    assert all(snaps[1][k] == v for k, v in snaps[0].items())
    compact_shards(spark, out)
    hist = log_history(out)
    assert [h["seq"] for h in hist] == [0, 1, 2, 3]
    assert [h["live"] for h in hist] == [False, False, False, True]
    # history not rewritten by the compaction...
    for s in (0, 1, 2):
        got = {
            (r.shard, r.pos): r.doc_id
            for r in read_snapshot(spark, out, s)
            .select("shard", "pos", "doc_id")
            .collect()
        }
        assert got == snaps[s], f"seq {s} rewritten by compaction"
    # ...and the latest snapshot equals the committed view
    assert {
        (r.shard, r.pos): r.doc_id
        for r in read_snapshot(spark, out, 3)
        .select("shard", "pos", "doc_id")
        .collect()
    } == before_compact


def test_snapshot_before_compaction_raises_after_vacuum(
    spark, sf_dir, tmp_path
):
    import pytest

    from zvdb_spark.queries.export import (
        compact_shards,
        read_snapshot,
        snapshot_files,
        vacuum_uncommitted,
    )

    _, out = _compacted_setup(spark, sf_dir, tmp_path)
    compact_shards(spark, out)
    assert snapshot_files(out, 1)  # readable pre-vacuum
    vacuum_uncommitted(out, grace_sec=0.0)
    with pytest.raises(ValueError, match="vacuum"):
        snapshot_files(out, 1)
    # the latest snapshot (post-compaction) is unaffected
    assert read_snapshot(spark, out, 3).count() > 0


def test_snapshot_guards(spark, sf_dir, tmp_path):
    import pytest

    from zvdb_spark.queries.export import (
        log_history,
        snapshot_files,
        write_shards,
    )

    docs = load(spark, sf_dir, "documents")
    out = str(tmp_path / "nolog2")
    write_shards(docs.limit(10), out)
    with pytest.raises(ValueError, match="no commit log"):
        log_history(out)
    with pytest.raises(ValueError, match="no commit log"):
        snapshot_files(out, 0)
    _, logged = _tx_setup(spark, sf_dir, tmp_path)
    with pytest.raises(ValueError, match="no commits at or before"):
        snapshot_files(logged, -1)


def test_q_export_time_travel_query(spark, sf_dir):
    from zvdb_spark.queries.export import q_export_time_travel

    assert q_export_time_travel(spark, sf_dir).count() == N_SHARDS


def test_vacuum_retention_window_keeps_recent_snapshots(
    spark, sf_dir, tmp_path
):
    """vacuum(retain_last=1) keeps the pre-compaction snapshot
    readable (the lakehouse retention window); a later plain vacuum
    reclaims it. Crash orphans are removed regardless of retention."""
    import glob
    import os
    import shutil

    import pytest

    from zvdb_spark.queries.export import (
        compact_shards,
        read_snapshot,
        snapshot_files,
        vacuum_uncommitted,
    )

    _, out = _compacted_setup(spark, sf_dir, tmp_path)
    pre = _perm(spark, out)
    compact_shards(spark, out)  # head seq 3; seq 2 = pre-compaction
    # plant a crash orphan: must go even under retention
    shard_dir = sorted(glob.glob(os.path.join(out, "shard=*")))[0]
    src = glob.glob(os.path.join(shard_dir, "*.parquet"))[0]
    orphan = os.path.join(shard_dir, "part-orphan-ret.parquet")
    shutil.copyfile(src, orphan)
    removed = vacuum_uncommitted(out, retain_last=1, grace_sec=0.0)
    assert [os.path.basename(r) for r in removed] == [
        "part-orphan-ret.parquet"
    ]
    # the retained snapshot still reproduces the pre-compaction state
    got = {
        (r.shard, r.pos): r.doc_id
        for r in read_snapshot(spark, out, 2)
        .select("shard", "pos", "doc_id")
        .collect()
    }
    assert got == pre
    # dropping retention reclaims history; the live view survives
    assert vacuum_uncommitted(out, grace_sec=0.0)
    with pytest.raises(ValueError, match="vacuum"):
        snapshot_files(out, 2)
    assert _perm(spark, out) == pre


# --------------------- round 11: multi-writer protocol


def _gapless(spark, out):
    """Committed per-shard pos is exactly 1..n (no gaps, no dups)."""
    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import read_committed

    bad = (
        read_committed(spark, out)
        .groupBy("shard")
        .agg(
            F.count("*").alias("n"),
            F.max("pos").alias("mx"),
            F.count_distinct("pos").alias("nd"),
        )
        .filter((F.col("n") != F.col("mx")) | (F.col("n") != F.col("nd")))
        .count()
    )
    return bad == 0


def test_racing_appends_from_two_writers(spark, sf_dir, tmp_path):
    """Two concurrent writers appending DISTINCT batches: the
    put-if-absent protocol forces the loser of each seq race to
    re-rank and retry, so the final committed view holds every batch
    exactly once with a gapless per-shard permutation — equal to the
    serial result's membership (pos interleaving may differ by race
    order; the contract is the standing-state invariants, not a
    global order)."""
    import threading

    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import (
        append_shards_tx,
        log_history,
        read_committed,
    )

    docs, out = _tx_setup(spark, sf_dir, tmp_path)
    odd = docs.filter(F.col("doc_id") % 2 == 1)
    batches = {
        i: odd.filter(F.col("doc_id") % 8 == b).localCheckpoint(eager=True)
        for i, b in enumerate([1, 3, 5, 7], start=1)
    }
    results: dict[int, bool] = {}
    errors: list[BaseException] = []

    def run(ids):
        try:
            for i in ids:
                results[i] = append_shards_tx(spark, out, batches[i], i)
        except BaseException as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    t1 = threading.Thread(target=run, args=([1, 3],))
    t2 = threading.Thread(target=run, args=([2, 4],))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errors, errors
    assert all(results[i] for i in batches), results
    # every batch's rows landed exactly once
    back = read_committed(spark, out)
    n_base = docs.filter(F.col("doc_id") % 2 == 0).count()
    assert back.count() == n_base + sum(b.count() for b in batches.values())
    assert back.select("doc_id").distinct().count() == back.count()
    assert _gapless(spark, out)
    # the seq chain is dense — every commit saw its predecessors
    seqs = [h["seq"] for h in log_history(out)]
    assert seqs == list(range(len(seqs)))


def test_racing_append_vs_compaction(spark, sf_dir, tmp_path):
    """The first real deployment shape: streaming appends racing a
    background compaction. Appends commute with compaction, so BOTH
    writers succeed and the final committed view equals the serial
    result (same rows, gapless pos, manifest intact)."""
    import threading

    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import (
        append_shards_tx,
        compact_shards,
        read_committed,
    )

    docs, out = _tx_setup(spark, sf_dir, tmp_path)
    odd = docs.filter(F.col("doc_id") % 2 == 1)
    batches = {
        i: odd.filter(F.col("doc_id") % 6 == b).localCheckpoint(eager=True)
        for i, b in enumerate([1, 3, 5], start=1)
    }
    errors: list[BaseException] = []
    stats: dict = {}

    def appender():
        try:
            for i in batches:
                assert append_shards_tx(spark, out, batches[i], i)
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    def compactor():
        try:
            stats.update(compact_shards(spark, out))
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    t1 = threading.Thread(target=appender)
    t2 = threading.Thread(target=compactor)
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errors, errors
    assert stats["files_after"] >= 1
    back = read_committed(spark, out)
    n_base = docs.filter(F.col("doc_id") % 2 == 0).count()
    assert back.count() == n_base + sum(b.count() for b in batches.values())
    assert back.select("doc_id").distinct().count() == back.count()
    assert _gapless(spark, out)


def test_racing_same_batch_twins(spark, sf_dir, tmp_path):
    """Two writers redelivering the SAME batch_id (the crashed-driver
    twin): exactly one commit lands; the other call reports the
    replay (False) — through the pre-fence or by losing the seq race
    to its own label — and the rows appear once."""
    import threading

    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import append_shards_tx, read_committed

    docs, out = _tx_setup(spark, sf_dir, tmp_path)
    delta = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .limit(40)
        .localCheckpoint(eager=True)
    )
    results: list[bool] = []
    errors: list[BaseException] = []

    def run():
        try:
            results.append(append_shards_tx(spark, out, delta, 7))
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    ts = [threading.Thread(target=run) for _ in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errors, errors
    assert sorted(results) == [False, True]
    back = read_committed(spark, out)
    assert back.select("doc_id").distinct().count() == back.count()
    assert (
        back.count()
        == docs.filter(F.col("doc_id") % 2 == 0).count() + delta.count()
    )


def test_racing_compactions_both_converge(spark, sf_dir, tmp_path):
    """compact vs compact is a real conflict (both would leave their
    rewrite live — duplicate rows): the seq loser abandons its staged
    files and recompacts from the winner's view, so both calls return
    and the manifest is unchanged with no duplicated rows."""
    import threading

    from zvdb_spark.queries.export import (
        compact_shards,
        committed_manifest,
        read_committed,
    )

    docs, out = _compacted_setup(spark, sf_dir, tmp_path)
    before = committed_manifest(spark, out).localCheckpoint(eager=True)
    n_before = read_committed(spark, out).count()
    errors: list[BaseException] = []

    def run():
        try:
            compact_shards(spark, out)
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    ts = [threading.Thread(target=run) for _ in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errors, errors
    assert read_committed(spark, out).count() == n_before
    after = committed_manifest(spark, out)
    assert after.exceptAll(before).isEmpty()
    assert before.exceptAll(after).isEmpty()


def test_compaction_heals_interrupted_reshard(spark, sf_dir, tmp_path):
    """Crash between a reshard's commit and its manifest swap, then a
    compaction: compact_shards repairs the layout FIRST (it would
    otherwise canonize the stale count) and carries n_shards forward
    in its own commit, so the repair information survives the
    replaces-swap and later appends route by the true count."""
    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import (
        _log_n_shards,
        _write_layout_manifest,
        append_shards_tx,
        compact_shards,
        init_commit_log,
        read_committed,
        read_layout_manifest,
        reshard_double,
        write_shards,
    )

    docs = load(spark, sf_dir, "documents")
    out = str(tmp_path / "rs3")
    write_shards(docs, out, n_shards=4)
    init_commit_log(out)
    reshard_double(spark, out)
    # simulate the crash: manifest rolled back to the pre-swap count
    _write_layout_manifest(out, 4)
    compact_shards(spark, out)
    # the compaction healed the manifest and preserved the repair
    # information past the reshard commit it superseded
    assert read_layout_manifest(out)["n_shards"] == 8
    assert _log_n_shards(out) == 8
    # appends route by the true count afterwards
    delta = docs.limit(5).select(
        (F.col("doc_id") + 40_000_000).alias("doc_id"), "lang", "text"
    )
    assert append_shards_tx(spark, out, delta, 1)
    bad = (
        read_committed(spark, out)
        .filter(F.pmod(F.col("h1"), F.lit(8)) != F.col("shard"))
        .count()
    )
    assert bad == 0
    assert _gapless(spark, out)


def test_incremental_reshard_equals_global(spark, sf_dir, tmp_path):
    """reshard_double(incremental=True) — one partition-pruned job
    per OLD shard, the 100 TB execution path — produces a committed
    manifest bit-identical (membership AND permutation checksum) to
    the single-window global mode."""
    from zvdb_spark.queries.export import (
        committed_manifest,
        init_commit_log,
        reshard_double,
        write_shards,
    )

    docs = load(spark, sf_dir, "documents")
    outs = {}
    for mode in ("global", "incr"):
        out = str(tmp_path / f"rs-{mode}")
        write_shards(docs, out, n_shards=4)
        init_commit_log(out)
        stats = reshard_double(spark, out, incremental=(mode == "incr"))
        assert stats["n_shards_after"] == 8
        outs[mode] = committed_manifest(spark, out).localCheckpoint(
            eager=True
        )
    assert outs["global"].exceptAll(outs["incr"]).isEmpty()
    assert outs["incr"].exceptAll(outs["global"]).isEmpty()


def test_vacuum_under_concurrent_reader_fails_loudly(
    spark, sf_dir, tmp_path
):
    """A snapshot reader whose files are reclaimed mid-read fails
    LOUDLY, never returns silently-partial rows: the session keeps
    ignoreMissingFiles off, so the scan of a vacuumed file raises."""
    import pytest

    from zvdb_spark.queries.export import (
        compact_shards,
        read_snapshot,
        vacuum_uncommitted,
    )

    # silent row-dropping on missing files must stay off — the whole
    # fail-loudly contract rests on this conf
    assert (
        spark.conf.get("spark.sql.files.ignoreMissingFiles", "false")
        == "false"
    )
    _, out = _compacted_setup(spark, sf_dir, tmp_path)
    pre = read_snapshot(spark, out, 1)  # plan pinned to pre-compaction files
    n_pre = pre.count()  # completes fine before the vacuum
    assert n_pre > 0
    compact_shards(spark, out)
    vacuum_uncommitted(out, grace_sec=0.0)  # reclaims the files `pre` reads
    with pytest.raises(Exception, match="(?i)file|exist|FileNotFound"):
        pre.count()


def test_vacuum_sweeps_stale_staging_dirs_only(spark, sf_dir, tmp_path):
    """A crashed writer's hour-old _staging-* dir is reclaimed; a
    fresh one (a LIVE writer mid-flight) is left alone."""
    import os
    import time

    from zvdb_spark.queries.export import vacuum_uncommitted

    _, out = _tx_setup(spark, sf_dir, tmp_path)
    stale = os.path.join(out, "_staging-deadbeef")
    fresh = os.path.join(out, "_staging-cafef00d")
    os.makedirs(stale)
    os.makedirs(fresh)
    old = time.time() - 7200
    os.utime(stale, (old, old))
    vacuum_uncommitted(out, grace_sec=0.0)
    assert not os.path.isdir(stale)
    assert os.path.isdir(fresh)


# --------------------- round 11: logged deletes (tombstones)


def test_delete_is_merge_on_read_and_fenced(spark, sf_dir, tmp_path):
    """A delete writes only tombstones (standing data files
    untouched), the committed view drops exactly the victims, the
    survivors keep their (shard, pos) slots, and a replayed batch_id
    is a no-op."""
    import os

    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import (
        _data_files,
        delete_docs_tx,
        read_committed,
    )

    docs, out = _tx_setup(spark, sf_dir, tmp_path)
    pre = _perm(spark, out)
    victims = (
        docs.filter((F.col("doc_id") % 2 == 0) & (F.col("doc_id") % 3 == 0))
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    vids = {r.doc_id for r in victims.collect()}
    files_before = set(_data_files(out))
    assert delete_docs_tx(spark, out, victims, 1) is True
    assert delete_docs_tx(spark, out, victims, 1) is False  # replay
    assert set(_data_files(out)) == files_before
    assert os.path.isdir(os.path.join(out, "_tombstones"))
    post = _perm(spark, out)
    # survivors keep their exact slots; victims' slots vacate
    assert post == {k: v for k, v in pre.items() if v not in vids}


def test_delete_survivor_view_appends_above_hwm_after_compaction(
    spark, sf_dir, tmp_path
):
    """Compaction materializes the delete (no data file holds a
    victim id, tombstone commit superseded, vacuum reclaims the
    tombstone files) and carries the pos high-water mark: a fresh
    append lands strictly above the PRE-delete max pos even when the
    deleted rows were the shard tails."""
    import glob
    import os

    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import (
        append_shards_tx,
        compact_shards,
        delete_docs_tx,
        read_committed,
        vacuum_uncommitted,
    )

    docs, out = _tx_setup(spark, sf_dir, tmp_path)
    before = read_committed(spark, out)
    hwm = {
        int(r["shard"]): int(r["mx"])
        for r in before.groupBy("shard").agg(F.max("pos").alias("mx"))
        .collect()
    }
    # delete the TAIL of every shard (max-pos rows) — the adversarial
    # case for pos re-minting
    w_tail = (
        before.groupBy("shard").agg(F.max("pos").alias("mx"))
    )
    victims = (
        before.join(w_tail, "shard")
        .filter(F.col("pos") >= F.col("mx") - 1)
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    assert delete_docs_tx(spark, out, victims, 1)
    compact_shards(spark, out)
    removed = vacuum_uncommitted(out, grace_sec=0.0)
    assert any("_tombstones" in r for r in removed)
    assert not glob.glob(os.path.join(out, "_tombstones", "*", "*"))
    assert read_committed(spark, out).join(
        victims, "doc_id"
    ).count() == 0
    delta = docs.filter(F.col("doc_id") % 101 == 1).select(
        (F.col("doc_id") + 70_000_000).alias("doc_id"), "lang", "text"
    )
    assert append_shards_tx(spark, out, delta, 2)
    news = (
        read_committed(spark, out)
        .filter(F.col("doc_id") >= 70_000_000)
        .select("shard", "pos")
        .collect()
    )
    assert news
    for r in news:
        assert r.pos > hwm[int(r.shard)], (r.shard, r.pos, hwm)


def test_delete_time_travel_and_vacuum_contract(spark, sf_dir, tmp_path):
    """A pre-delete snapshot still shows the victims; the post-delete
    snapshot hides them; after compaction + vacuum the pre-delete
    history fails loudly (retention contract) while the live view
    stays correct."""
    import pytest
    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import (
        compact_shards,
        delete_docs_tx,
        log_history,
        read_committed,
        read_snapshot,
        vacuum_uncommitted,
    )

    docs, out = _tx_setup(spark, sf_dir, tmp_path)
    victims = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    n_all = read_committed(spark, out).count()
    n_vic = victims.count()
    assert delete_docs_tx(spark, out, victims, 1)
    hist = {h["name"]: h for h in log_history(out)}
    del_seq = max(h["seq"] for h in hist.values())
    assert read_snapshot(spark, out, del_seq - 1).count() == n_all
    assert read_snapshot(spark, out, del_seq).count() == n_all - n_vic
    compact_shards(spark, out)
    vacuum_uncommitted(out, grace_sec=0.0)
    assert read_committed(spark, out).count() == n_all - n_vic
    with pytest.raises(Exception):
        read_snapshot(spark, out, del_seq - 1).count()


def test_reshard_materializes_deletes(spark, sf_dir, tmp_path):
    """reshard_double over a tombstoned layout drops the victims in
    BOTH execution modes and conserves the survivor multiset."""
    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import (
        delete_docs_tx,
        init_commit_log,
        read_committed,
        reshard_double,
        write_shards,
    )

    docs = load(spark, sf_dir, "documents")
    for mode in (False, True):
        out = str(tmp_path / f"rsdel{int(mode)}")
        write_shards(docs, out, n_shards=4)
        init_commit_log(out)
        victims = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id")
        assert delete_docs_tx(spark, out, victims, 1)
        want = {
            r.doc_id
            for r in read_committed(spark, out).select("doc_id").collect()
        }
        reshard_double(spark, out, incremental=mode)
        got_df = read_committed(spark, out)
        got = {r.doc_id for r in got_df.select("doc_id").collect()}
        assert got == want
        assert got_df.join(victims, "doc_id").count() == 0
        assert _gapless(spark, out)  # reshard re-mints pos densely


def test_racing_delete_and_append_commute(spark, sf_dir, tmp_path):
    """A delete racing an append: both commit (commute — tombstones
    are id-addressed), the final view = standing + batch - victims."""
    import threading

    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import (
        append_shards_tx,
        delete_docs_tx,
        read_committed,
    )

    docs, out = _tx_setup(spark, sf_dir, tmp_path)
    batch = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .limit(60)
        .localCheckpoint(eager=True)
    )
    victims = (
        docs.filter((F.col("doc_id") % 2 == 0) & (F.col("doc_id") % 4 == 0))
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    results: dict = {}
    errors: list[BaseException] = []

    def run(fn, key):
        try:
            results[key] = fn()
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    t1 = threading.Thread(
        target=run, args=(lambda: append_shards_tx(spark, out, batch, 5), "a")
    )
    t2 = threading.Thread(
        target=run, args=(lambda: delete_docs_tx(spark, out, victims, 6), "d")
    )
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errors, errors
    assert results == {"a": True, "d": True}
    back = read_committed(spark, out)
    n_base = docs.filter(F.col("doc_id") % 2 == 0).count()
    assert back.count() == n_base + batch.count() - victims.count()
    assert back.join(victims, "doc_id").count() == 0
    assert back.select("doc_id").distinct().count() == back.count()


def test_q_export_delete_query(spark, sf_dir):
    from zvdb_spark.queries.export import q_export_delete

    assert q_export_delete(spark, sf_dir).count() == N_SHARDS


# --------------------- round 12: seq-scoped tombstones, checkpoints,
# legacy-name fence, vacuum grace, cross-process races


def test_seq_scoped_delete_readd_last_writer_wins(spark, sf_dir, tmp_path):
    """The r11 verdict's Wrong #1: tombstones were id-global, so a
    delete-then-re-add history lost the re-added row at the next
    compaction. Seq-scoped semantics: the re-add (data seq > delete
    seq) is visible IMMEDIATELY, compaction never changes the
    committed view, and a SECOND delete (seq above the re-add) masks
    it again — last-writer-wins at every step."""
    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import (
        append_shards_tx,
        compact_shards,
        delete_docs_tx,
        read_committed,
        vacuum_uncommitted,
    )

    docs, out = _tx_setup(spark, sf_dir, tmp_path)
    base = docs.filter(F.col("doc_id") % 2 == 0)
    victims = (
        base.filter(F.col("doc_id") % 3 == 0)
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    n_base, n_victims = base.count(), victims.count()
    assert delete_docs_tx(spark, out, victims, 1)
    readd = (
        base.filter(F.col("doc_id") % 3 == 0)
        .select("doc_id", "lang", "text")
        .limit(7)
        .localCheckpoint(eager=True)
    )
    n_readd = readd.count()
    assert append_shards_tx(spark, out, readd, 2)
    back = read_committed(spark, out)
    # the re-add is visible NOW, not after maintenance
    assert back.join(readd.select("doc_id"), "doc_id").count() == n_readd
    assert back.count() == n_base - n_victims + n_readd
    ids_before = {r.doc_id for r in back.select("doc_id").collect()}
    # maintenance is view-invariant
    compact_shards(spark, out)
    vacuum_uncommitted(out, grace_sec=0.0)
    after = read_committed(spark, out)
    assert {r.doc_id for r in after.select("doc_id").collect()} == ids_before
    assert after.count() == n_base - n_victims + n_readd
    # a LATER delete masks the re-added rows again
    assert delete_docs_tx(spark, out, readd.select("doc_id"), 3)
    final = read_committed(spark, out)
    assert final.join(readd.select("doc_id"), "doc_id").count() == 0
    assert final.count() == n_base - n_victims


def test_snapshot_seq_scoping_within_window(spark, sf_dir, tmp_path):
    """Time travel applies the same seq rule inside the window:
    pre-delete snapshot shows the victim, post-delete hides it,
    post-re-add shows it again."""
    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import (
        append_shards_tx,
        delete_docs_tx,
        log_history,
        read_snapshot,
    )

    docs, out = _tx_setup(spark, sf_dir, tmp_path)
    base = docs.filter(F.col("doc_id") % 2 == 0)
    victim = (
        base.select("doc_id", "lang", "text")
        .limit(1)
        .localCheckpoint(eager=True)
    )
    vid = victim.select("doc_id")
    assert delete_docs_tx(spark, out, vid, 1)
    assert append_shards_tx(spark, out, victim, 2)
    seqs = [h["seq"] for h in log_history(out)]
    assert seqs == [0, 1, 2]
    assert read_snapshot(spark, out, 0).join(vid, "doc_id").count() == 1
    assert read_snapshot(spark, out, 1).join(vid, "doc_id").count() == 0
    assert read_snapshot(spark, out, 2).join(vid, "doc_id").count() == 1


def test_delete_landing_mid_compaction_forces_recompute(
    spark, sf_dir, tmp_path
):
    """Protocol pin for the re-derived commute matrix: a compact (or
    reshard) whose snapshot predates a delete commit must ABORT —
    with seq-scoped tombstones, a rewrite that re-mints survivors
    above an unseen tombstone's seq would silently unmask the
    deletion. The delete itself still commutes from its own side."""
    import pytest

    from zvdb_spark.queries.export import (
        CommitConflict,
        _publish_commit,
        _read_commits,
        delete_docs_tx,
    )

    docs, out = _tx_setup(spark, sf_dir, tmp_path)
    stale = _read_commits(out) or []
    victims = docs.limit(3).select("doc_id")
    assert delete_docs_tx(spark, out, victims, 1)
    for kind in ("compact", "reshard"):
        with pytest.raises(CommitConflict):
            _publish_commit(
                out,
                kind,
                [],
                snapshot=stale,
                replaces=[n for n, _ in stale],
            )
    # a delete whose snapshot predates another delete still commutes
    assert delete_docs_tx(spark, out, docs.limit(1).select("doc_id"), 2)


def test_racing_delete_and_compaction_converge(spark, sf_dir, tmp_path):
    """End-to-end: a delete racing compact_shards. Whatever the seq
    interleaving (delete seen by the compaction, delete conflicting
    it into a retry, or delete landing above the compact and masking
    its rows), the final committed view is base minus victims."""
    import threading

    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import (
        compact_shards,
        delete_docs_tx,
        read_committed,
    )

    docs, out = _tx_setup(spark, sf_dir, tmp_path)
    base = docs.filter(F.col("doc_id") % 2 == 0)
    victims = (
        base.filter(F.col("doc_id") % 7 == 0)
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    n_base, n_victims = base.count(), victims.count()
    errors: list[BaseException] = []

    def deleter():
        try:
            assert delete_docs_tx(spark, out, victims, 5)
        except BaseException as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    def compactor():
        try:
            compact_shards(spark, out)
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    t1 = threading.Thread(target=deleter)
    t2 = threading.Thread(target=compactor)
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errors, errors
    back = read_committed(spark, out)
    assert back.count() == n_base - n_victims
    assert back.join(victims, "doc_id").count() == 0


def test_checkpoint_bounds_commit_reads(spark, sf_dir, tmp_path):
    """The r11 verdict's Missing #1: every transactional op used to
    JSON-parse the whole log. With rolled checkpoints a read opens
    ONE checkpoint + the uncovered tail — pinned by counting actual
    file opens under _commits/ during _read_commits and during a
    real append after 120 commits."""
    import builtins
    import os

    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import (
        _CHECKPOINT_EVERY,
        _ckpt_dir,
        _publish_commit,
        _read_commits,
        append_shards_tx,
        log_history,
    )

    docs, out = _tx_setup(spark, sf_dir, tmp_path)
    n_commits = 120
    for i in range(1, n_commits + 1):
        commits = _read_commits(out) or []
        assert (
            _publish_commit(out, f"b{i:020d}", [], snapshot=commits)
            is not None
        )
    import glob

    cks = glob.glob(os.path.join(_ckpt_dir(out), "*.json"))
    assert len(cks) == n_commits // _CHECKPOINT_EVERY

    real_open = builtins.open
    opens: list[str] = []

    def counting_open(path, *a, **kw):
        p = os.fspath(path) if not isinstance(path, int) else ""
        if isinstance(p, str) and "_commits" in p:
            opens.append(p)
        return real_open(path, *a, **kw)

    builtins.open = counting_open
    try:
        got = _read_commits(out)
    finally:
        builtins.open = real_open
    assert len(got) == n_commits + 1  # base + 120, nothing lost
    tail = n_commits % _CHECKPOINT_EVERY
    assert len(opens) == 1 + tail  # one checkpoint + uncovered tail

    # a real transactional append stays O(tail): snapshot read,
    # replay fence, publish — bounded regardless of log length
    delta = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .limit(5)
        .localCheckpoint(eager=True)
    )
    opens.clear()
    builtins.open = counting_open
    try:
        assert append_shards_tx(spark, out, delta, 999)
    finally:
        builtins.open = real_open
    commit_reads = [p for p in opens if not os.path.basename(p).startswith("_tmp-")]
    assert len(commit_reads) < 3 * _CHECKPOINT_EVERY, commit_reads
    seqs = [h["seq"] for h in log_history(out)]
    assert seqs == list(range(n_commits + 2))


def test_legacy_gapped_batch_name_does_not_wedge_the_chain(
    spark, sf_dir, tmp_path
):
    """ADVICE r11: a pre-round-11 commit named {batch_id:020d} whose
    20-digit name lands AHEAD of the live seq chain used to wedge
    every writer forever (label-less manifest classified as a
    conflicting append at the same recomputed seq). The fence:
    label-less = ancient, its name is an occupied slot — advance."""
    import json
    import os

    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import (
        _commits_dir,
        append_shards_tx,
        compact_shards,
        log_history,
        read_committed,
    )

    docs, out = _tx_setup(spark, sf_dir, tmp_path)
    # plant a legacy manifest (no label/seq) at a FUTURE name: a
    # pre-label log whose batch ids skipped ahead (batch_id=3 while
    # the chain is at seq 0)
    legacy_name = f"{3:020d}"
    with open(os.path.join(_commits_dir(out), f"{legacy_name}.json"), "w") as f:
        json.dump({"format": 1, "files": []}, f)
    n_before = read_committed(spark, out).count()
    odd = docs.filter(F.col("doc_id") % 2 == 1)
    batches = {
        i: odd.filter(F.col("doc_id") % 8 == b).localCheckpoint(eager=True)
        for i, b in enumerate([1, 3, 5, 7], start=1)
    }
    # four appends walk the chain THROUGH the occupied legacy name
    for i, b in batches.items():
        assert append_shards_tx(spark, out, b, 100 + i)
    compact_shards(spark, out)  # maintenance passes the fence too
    back = read_committed(spark, out)
    assert back.count() == n_before + sum(b.count() for b in batches.values())
    # the legacy slot is skipped, every new commit took a fresh seq
    hist = log_history(out)
    names = {h["name"] for h in hist}
    assert legacy_name in names
    assert len({(h["seq"], h["name"]) for h in hist}) == len(hist)
    # a batch_id matching the legacy NAME is still the replay no-op
    # (the legacy commit IS that batch's commit, pre-label format)
    assert append_shards_tx(spark, out, batches[1], 3) is False


def test_vacuum_grace_protects_young_orphans(spark, sf_dir, tmp_path):
    """ADVICE r11: vacuum raced a live writer's renamed-but-not-yet-
    committed files. Default grace keeps young unreferenced files;
    grace_sec=0 (quiescent layouts) reclaims them; old files are
    reclaimed under the default."""
    import glob
    import os
    import shutil

    from zvdb_spark.queries.export import vacuum_uncommitted

    docs, out = _tx_setup(spark, sf_dir, tmp_path)
    shard_dir = sorted(glob.glob(os.path.join(out, "shard=*")))[0]
    src = glob.glob(os.path.join(shard_dir, "*.parquet"))[0]
    orphan = os.path.join(shard_dir, "part-orphan-young.parquet")
    shutil.copyfile(src, orphan)
    assert vacuum_uncommitted(out) == []  # default grace: protected
    assert os.path.exists(orphan)
    # an OLD orphan (mtime pushed past the window) is reclaimed
    old = os.path.getmtime(orphan) - 7200
    os.utime(orphan, (old, old))
    removed = vacuum_uncommitted(out)
    assert [os.path.basename(r) for r in removed] == [
        "part-orphan-young.parquet"
    ]
    # grace_sec=0: a fresh orphan goes immediately
    shutil.copyfile(src, orphan)
    assert vacuum_uncommitted(out, grace_sec=0.0) == [
        os.path.relpath(orphan, out)
    ]


_PROC_WRITER_SRC = '''
"""Second-driver writer for the cross-process commit-log race test:
stages data files with pyarrow (no Spark needed — the CAS under test
is pure os.link + json) and publishes append commits against a layout
another process is compacting. argv: out_dir writer_id n_batches
rows_per repo_root."""
import glob
import os
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, sys.argv[5])
from zvdb_spark.queries.export import (  # noqa: E402
    CommitConflict,
    _publish_commit,
    _read_commits,
)

out, wid, n_batches, rows_per = (
    sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4])
)
sample = sorted(glob.glob(os.path.join(out, "shard=*", "*.parquet")))[0]
schema = pq.read_schema(sample)
schema = pa.schema([f for f in schema])  # drop file-level metadata
for b in range(n_batches):
    ids = [10_000_000 * (wid + 1) + b * rows_per + i
           for i in range(rows_per)]
    poss = [1_000_000 * (wid + 1) + b * rows_per + i
            for i in range(rows_per)]
    cols = []
    for field in schema:
        if field.name == "pos":
            cols.append(pa.array(poss, field.type))
        elif field.name == "doc_id":
            cols.append(pa.array(ids, field.type))
        elif field.name == "h1":
            cols.append(pa.array([0] * rows_per, field.type))
        elif field.name == "lang":
            cols.append(pa.array(["en"] * rows_per, field.type))
        elif field.name == "text":
            cols.append(pa.array(
                [f"proc writer {wid} batch {b}"] * rows_per, field.type
            ))
        else:
            raise SystemExit(f"unexpected column {field.name}")
    rel = f"shard=0/part-proc{wid}-{b:03d}.parquet"
    pq.write_table(
        pa.Table.from_arrays(cols, schema=schema),
        os.path.join(out, rel),
    )
    while True:
        commits = _read_commits(out) or []
        try:
            name = _publish_commit(
                out, f"bp{wid}-{b:03d}", [rel], snapshot=commits
            )
            assert name is not None
            break
        except CommitConflict:
            time.sleep(0.005)
    time.sleep(0.01)
print(f"writer {wid} done")
'''


def test_two_process_racing_appends_and_compaction(
    spark, sf_dir, tmp_path
):
    """The r11 verdict's Missing #3: the race matrix was exercised by
    threads in one driver. Here the os.link CAS runs where it runs in
    production — TWO separate OS processes (pyarrow writers, no
    second JVM needed: the protocol under test is filesystem-only)
    publishing appends against the same layout while THIS process
    compacts it. Invariants: every cross-process commit lands exactly
    once, the seq chain is dense, and the committed view holds the
    base plus every appended row with no duplicates."""
    import os
    import subprocess
    import sys
    import time

    from pyspark.sql import functions as F

    import zvdb_spark
    from zvdb_spark.queries.export import (
        compact_shards,
        log_history,
        read_committed,
    )

    repo_root = os.path.dirname(os.path.dirname(zvdb_spark.__file__))
    docs, out = _tx_setup(spark, sf_dir, tmp_path)
    n_base = docs.filter(F.col("doc_id") % 2 == 0).count()
    script = tmp_path / "proc_writer.py"
    script.write_text(_PROC_WRITER_SRC)
    n_batches, rows_per = 6, 40
    env = dict(os.environ)
    env["PYTHONPATH"] = repo_root + os.pathsep + env.get("PYTHONPATH", "")
    procs = [
        subprocess.Popen(
            [sys.executable, str(script), out, str(w),
             str(n_batches), str(rows_per), repo_root],
            env=env,
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for w in (0, 1)
    ]
    # compact mid-stream, once cross-process commits exist, so the
    # append-vs-compaction pair crosses the process boundary too
    deadline = time.time() + 60
    while time.time() < deadline and len(log_history(out)) < 4:
        time.sleep(0.05)
    compact_shards(spark, out)
    outs = [p.communicate(timeout=180) for p in procs]
    for p, (so, se) in zip(procs, outs):
        assert p.returncode == 0, (so, se)
    hist = log_history(out)
    seqs = [h["seq"] for h in hist]
    assert seqs == list(range(len(seqs)))  # dense chain, no holes
    labels = {h["name"] for h in hist}
    assert len(labels) == len(hist)
    # every subprocess batch committed exactly once
    back = read_committed(spark, out)
    assert back.count() == n_base + 2 * n_batches * rows_per
    assert back.select("doc_id").distinct().count() == back.count()


# --------------------- round 12: atomic MERGE (upsert) commits


def test_merge_upsert_atomic_commit_and_query(spark, sf_dir):
    """The declared q_export_merge demo asserts the full contract
    inside (one commit, replay fence on both halves, updated ids
    exactly once with new text, compaction view-invariance +
    tombstone materialization); here we pin the returned manifest
    shape."""
    from zvdb_spark.queries.export import N_SHARDS, q_export_merge

    assert q_export_merge(spark, sf_dir).count() == N_SHARDS


def test_merge_twins_fence_once(spark, sf_dir, tmp_path):
    """Two writers redelivering the SAME merge batch_id: exactly one
    commit lands, the other reports the replay, and the upsert
    applies once."""
    import threading

    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import merge_docs_tx, read_committed

    docs, out = _tx_setup(spark, sf_dir, tmp_path)
    base = docs.filter(F.col("doc_id") % 2 == 0)
    batch = (
        base.filter(F.col("doc_id") % 4 == 0)
        .select(
            "doc_id",
            "lang",
            F.concat(F.lit("merged: "), F.col("text")).alias("text"),
        )
        .localCheckpoint(eager=True)
    )
    results: list[bool] = []
    errors: list[BaseException] = []

    def run():
        try:
            results.append(merge_docs_tx(spark, out, batch, 11))
        except BaseException as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    ts = [threading.Thread(target=run) for _ in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errors, errors
    assert sorted(results) == [False, True]
    back = read_committed(spark, out)
    assert back.count() == base.count()  # pure update, no inserts
    assert back.join(batch.select("doc_id"), "doc_id").count() == (
        batch.count()
    )
    assert (
        back.filter(F.col("text").startswith("merged: ")).count()
        == batch.count()
    )


def test_merge_racing_append_both_land(spark, sf_dir, tmp_path):
    """merge x append is a real conflict (both mint pos): the seq
    loser re-ranks and retries, so BOTH land and the final view is
    deterministic (the batches touch disjoint ids)."""
    import threading

    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import (
        append_shards_tx,
        merge_docs_tx,
        read_committed,
    )

    docs, out = _tx_setup(spark, sf_dir, tmp_path)
    base = docs.filter(F.col("doc_id") % 2 == 0)
    upserts = (
        base.filter(F.col("doc_id") % 6 == 0)
        .select(
            "doc_id",
            "lang",
            F.concat(F.lit("v2: "), F.col("text")).alias("text"),
        )
        .localCheckpoint(eager=True)
    )
    adds = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .limit(60)
        .select("doc_id", "lang", "text")
        .localCheckpoint(eager=True)
    )
    errors: list[BaseException] = []

    def merger():
        try:
            assert merge_docs_tx(spark, out, upserts, 21)
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    def appender():
        try:
            assert append_shards_tx(spark, out, adds, 22)
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    t1 = threading.Thread(target=merger)
    t2 = threading.Thread(target=appender)
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errors, errors
    back = read_committed(spark, out)
    assert back.count() == base.count() + adds.count()
    assert back.select("doc_id").distinct().count() == back.count()
    assert (
        back.filter(F.col("text").startswith("v2: ")).count()
        == upserts.count()
    )


def test_merge_conflicts_inflight_rewrites_and_time_travels(
    spark, sf_dir, tmp_path
):
    """A compact/reshard whose snapshot predates a merge must abort
    (the merge carries tombstones the rewrite has to see); and time
    travel around a merge shows old text before, new text at and
    after the merge's seq."""
    import pytest

    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import (
        CommitConflict,
        _publish_commit,
        _read_commits,
        log_history,
        merge_docs_tx,
        read_snapshot,
    )

    docs, out = _tx_setup(spark, sf_dir, tmp_path)
    base = docs.filter(F.col("doc_id") % 2 == 0)
    stale = _read_commits(out) or []
    victim = (
        base.select(
            "doc_id",
            "lang",
            F.concat(F.lit("v2: "), F.col("text")).alias("text"),
        )
        .limit(1)
        .localCheckpoint(eager=True)
    )
    assert merge_docs_tx(spark, out, victim, 31)
    for kind in ("compact", "reshard"):
        with pytest.raises(CommitConflict):
            _publish_commit(
                out,
                kind,
                [],
                snapshot=stale,
                replaces=[n for n, _ in stale],
            )
    seqs = [h["seq"] for h in log_history(out)]
    assert seqs == [0, 1]
    vid = victim.select("doc_id")
    pre = read_snapshot(spark, out, 0).join(vid, "doc_id")
    assert pre.count() == 1
    assert pre.filter(F.col("text").startswith("v2: ")).count() == 0
    post = read_snapshot(spark, out, 1).join(vid, "doc_id")
    assert post.count() == 1
    assert post.filter(F.col("text").startswith("v2: ")).count() == 1


def test_masked_view_fast_path_plan_unchanged(spark, sf_dir, tmp_path):
    """Plan-shape pin for the seq-scoped masking plumbing: a layout
    with NO live tombstones must read through the plain file scan —
    zero joins (the file->seq attribution and the anti-join exist
    only when a tombstone is live); with a live tombstone the plan
    gains exactly the broadcast pair (file->seq inner join + LeftAnti)
    and still no shuffle of the corpus."""
    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import delete_docs_tx, read_committed

    docs, out = _tx_setup(spark, sf_dir, tmp_path)
    plan0 = read_committed(spark, out)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan0, plan0
    victims = docs.limit(5).select("doc_id")
    assert delete_docs_tx(spark, out, victims, 1)
    plan1 = read_committed(spark, out)._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan1, plan1
    # all three joins build on a broadcast (tiny) side — the corpus
    # stream is never shuffled for the masking; the only Exchange is
    # the tombstone frame's own id-count-sized max-aggregation.
    # Three since round 13: data file->seq map, tombstone file->seq
    # map (the single-scan tombstone read), and the anti-join itself.
    assert "BuildLeft" not in plan1, plan1
    assert plan1.count("BroadcastHashJoin") == 3, plan1


def test_checkpoint_correct_under_racing_writers(spark, sf_dir, tmp_path):
    """Two writers publishing concurrently across several checkpoint
    boundaries: the rolled checkpoints must be a pure read
    optimization — _read_commits through the latest checkpoint equals
    the full no-checkpoint parse exactly (same names, same manifests),
    and the seq chain stays dense."""
    import threading

    from zvdb_spark.queries.export import (
        _CHECKPOINT_EVERY,
        _ckpt_dir,
        _publish_commit,
        _read_commits,
        CommitConflict,
    )

    docs, out = _tx_setup(spark, sf_dir, tmp_path)
    n_each = 2 * _CHECKPOINT_EVERY + 3
    errors: list[BaseException] = []

    def writer(wid):
        try:
            for i in range(n_each):
                while True:
                    commits = _read_commits(out) or []
                    try:
                        assert _publish_commit(
                            out, f"b9{wid}{i:017d}", [], snapshot=commits
                        ) is not None
                        break
                    except CommitConflict:
                        continue
        except BaseException as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    ts = [threading.Thread(target=writer, args=(w,)) for w in (1, 2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errors, errors
    import glob
    import os

    assert glob.glob(os.path.join(_ckpt_dir(out), "*.json"))
    with_ckpt = _read_commits(out)
    full = _read_commits(out, use_checkpoint=False)
    assert with_ckpt == full
    seqs = sorted(m.get("seq", 0) for _, m in full)
    assert seqs == list(range(2 * n_each + 1))


def test_legacy_commit_survives_checkpoint_roll(spark, sf_dir, tmp_path):
    """A legacy batch-id-named commit (no label/seq) is carried by
    checkpoints like any other manifest and never double-read: after
    rolling past a checkpoint boundary the merged view holds the
    legacy commit exactly once."""
    import json
    import os

    from zvdb_spark.queries.export import (
        _CHECKPOINT_EVERY,
        _commits_dir,
        _publish_commit,
        _read_commits,
    )

    docs, out = _tx_setup(spark, sf_dir, tmp_path)
    legacy_name = f"{7:020d}"
    with open(
        os.path.join(_commits_dir(out), f"{legacy_name}.json"), "w"
    ) as f:
        json.dump({"format": 1, "files": []}, f)
    for i in range(_CHECKPOINT_EVERY + 4):
        commits = _read_commits(out) or []
        _publish_commit(out, f"b8{i:018d}", [], snapshot=commits)
    merged = _read_commits(out)
    names = [n for n, _ in merged]
    assert names.count(legacy_name) == 1
    assert merged == _read_commits(out, use_checkpoint=False)


# --------------------- round 13: bounded tombstone-mask plan


def test_tombstone_mask_plan_bounded_under_many_deletes(
    spark, sf_dir, tmp_path
):
    """50 delete commits must NOT grow the masked-read plan: the
    round-12 shape unioned one DataFrame per delete seq (linear plan
    growth over a CDC feed's life); the bounded shape reads every
    tombstone file in ONE scan with a file->seq broadcast map, so the
    plan holds exactly two parquet scans (data + tombstones) no
    matter how many deletes landed — and the committed view still
    masks every deleted id."""
    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import delete_docs_tx, read_committed

    docs, out = _tx_setup(spark, sf_dir, tmp_path)
    victims = [
        r.doc_id
        for r in docs.filter(F.col("doc_id") % 2 == 0)
        .limit(50)
        .collect()
    ]
    assert len(victims) == 50
    for i, vid in enumerate(victims):
        assert delete_docs_tx(
            spark, out, spark.createDataFrame([(vid,)], "doc_id long"), i
        )
    view = read_committed(spark, out)
    plan = view._jdf.queryExecution().executedPlan().toString()
    n_scans = plan.count("Scan parquet")
    assert n_scans == 2, f"{n_scans} parquet scans (want 2):\n{plan}"
    # the committed answer is intact: every victim masked, no one else
    n_base = docs.filter(F.col("doc_id") % 2 == 0).count()
    assert view.count() == n_base - 50
    assert (
        view.filter(F.col("doc_id").isin(victims)).count() == 0
    )


def test_tombstone_broadcast_gated_by_size(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The tombstone anti-join broadcasts only while the tombstone
    files stay under _TOMBSTONE_BROADCAST_MAX_BYTES — above the cap
    (forced here by setting it to 0) the hint is dropped and AQE
    picks the join, so an unboundedly large delete set can never OOM
    the driver on a forced broadcast. The masked ANSWER is identical
    in both plan shapes."""
    from pyspark.sql import functions as F

    import zvdb_spark.queries.export as export

    docs, out = _tx_setup(spark, sf_dir, tmp_path)
    victims = docs.filter(F.col("doc_id") % 2 == 0).limit(7).select(
        "doc_id"
    )
    assert export.delete_docs_tx(spark, out, victims, 1)
    # kill Spark's own size-based broadcasting so the only thing that
    # can broadcast a side is an explicit hint — isolating exactly
    # what the gate controls (a tiny UNHINTED side would otherwise be
    # broadcast by the optimizer's estimate anyway, masking the gate)
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hinted = export.read_committed(spark, out)
        hinted_plan = (
            hinted._jdf.queryExecution().executedPlan().toString()
        )
        # all three hinted sides broadcast: data file->seq map,
        # tombstone file->seq map, and the anti-join's tombstone side
        assert hinted_plan.count("BroadcastHashJoin") == 3, hinted_plan
        hinted_rows = {
            r.doc_id for r in hinted.select("doc_id").collect()
        }

        monkeypatch.setattr(export, "_TOMBSTONE_BROADCAST_MAX_BYTES", 0)
        gated = export.read_committed(spark, out)
        gated_plan = (
            gated._jdf.queryExecution().executedPlan().toString()
        )
        # the two file-count-bounded map joins keep their hints; the
        # tombstone ANTI-join must have dropped its forced broadcast
        assert "LeftAnti" in gated_plan, gated_plan
        assert gated_plan.count("BroadcastHashJoin") == 2, gated_plan
        assert {
            r.doc_id for r in gated.select("doc_id").collect()
        } == hinted_rows, "gate changed the committed answer"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


# --------------------- round 13: checkpoint retention


def test_vacuum_bounds_checkpoint_files(spark, sf_dir, tmp_path):
    """After ~100 commits the checkpoint dir holds one snapshot per
    _CHECKPOINT_EVERY commits (each a FULL log copy — O(n^2/16) bytes
    cumulative); vacuum keeps the newest ckpt_keep and deletes the
    rest, and the checkpointed read still equals the full parse."""
    import glob
    import os

    from zvdb_spark.queries.export import (
        _ckpt_dir,
        _publish_commit,
        _read_commits,
        vacuum_uncommitted,
    )

    docs, out = _tx_setup(spark, sf_dir, tmp_path)
    for i in range(100):
        commits = _read_commits(out) or []
        assert _publish_commit(out, f"b7{i:018d}", [], snapshot=commits)
    before = glob.glob(os.path.join(_ckpt_dir(out), "*.json"))
    assert len(before) >= 5  # the unbounded-growth premise
    vacuum_uncommitted(out, grace_sec=0.0, ckpt_keep=2)
    after = sorted(glob.glob(os.path.join(_ckpt_dir(out), "*.json")))
    assert len(after) == 2
    assert after == sorted(before)[-2:]  # newest survive
    assert _read_commits(out) == _read_commits(
        out, use_checkpoint=False
    )


def test_reader_falls_back_when_checkpoint_vacuumed_midflight(
    spark, sf_dir, tmp_path
):
    """The glob-then-open race: a reader that listed a checkpoint a
    concurrent vacuum then deleted must fall back to the next older
    checkpoint (any checkpoint is a valid base) — or, with all of
    them gone, to the full parse. Simulated with a dangling symlink
    (open() raises FileNotFoundError exactly as the race does)."""
    import glob
    import os

    from zvdb_spark.queries.export import (
        _CHECKPOINT_EVERY,
        _ckpt_dir,
        _publish_commit,
        _read_commits,
    )

    docs, out = _tx_setup(spark, sf_dir, tmp_path)
    for i in range(2 * _CHECKPOINT_EVERY + 1):
        commits = _read_commits(out) or []
        assert _publish_commit(out, f"b6{i:018d}", [], snapshot=commits)
    full = _read_commits(out, use_checkpoint=False)
    kd = _ckpt_dir(out)
    assert glob.glob(os.path.join(kd, "*.json"))
    # newest "checkpoint" vanishes between glob and open
    os.symlink("/nonexistent", os.path.join(kd, "99999999999999999999.json"))
    assert _read_commits(out) == full
    # every checkpoint gone mid-flight: degrade to the full parse
    for ck in glob.glob(os.path.join(kd, "*.json")):
        os.unlink(ck)
        os.symlink("/nonexistent", ck)
    assert _read_commits(out) == full


# --------------------- round 13: widen-only schema evolution


def _with_quality(docs, flt):
    from pyspark.sql import functions as F

    return (
        docs.filter(flt)
        .select("doc_id", "lang", "text")
        .withColumn(
            "quality", (F.col("doc_id") % 7).cast("double") / 10.0
        )
    )


def test_schema_evolution_widen_read_compact(spark, sf_dir, tmp_path):
    """The add-a-column story: a batch carrying a new nullable column
    widens the layout (old rows read back null), compaction
    MATERIALIZES the union schema (after it all files agree and the
    scan drops back to a plain read), and the column's values survive
    both."""
    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import (
        append_shards_tx,
        compact_shards,
        read_committed,
        read_snapshot,
        vacuum_uncommitted,
    )

    docs, out = _tx_setup(spark, sf_dir, tmp_path)
    batch = _with_quality(docs, F.col("doc_id") % 2 == 1).limit(10)
    n_new = batch.count()
    assert append_shards_tx(spark, out, batch, 1) is True
    view = read_committed(spark, out)
    assert "quality" in view.columns
    n_base = docs.filter(F.col("doc_id") % 2 == 0).count()
    assert view.filter(F.col("quality").isNull()).count() == n_base
    got = {
        r.doc_id: r.quality
        for r in view.filter(F.col("quality").isNotNull()).collect()
    }
    assert len(got) == n_new
    assert all(v == (k % 7) / 10.0 for k, v in got.items())
    # pre-widen time travel shows the pre-widen schema
    assert "quality" not in read_snapshot(spark, out, 0).columns
    # compaction carries the union schema forward
    compact_shards(spark, out)
    vacuum_uncommitted(out, grace_sec=0.0)
    view2 = read_committed(spark, out)
    assert "quality" in view2.columns
    assert view2.filter(F.col("quality").isNull()).count() == n_base
    assert {
        r.doc_id: r.quality
        for r in view2.filter(F.col("quality").isNotNull()).collect()
    } == got
    # post-compaction all live files agree on schema: plain scan again
    plan = view2._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan


def test_committed_reads_take_their_schema_from_the_log(
    spark, sf_dir, tmp_path
):
    """Committed reads plan from the log's recorded schema: building
    the frame launches no Spark job (no parquet footer inference), and
    on a widened layout with a delete each read equals an inferred
    mergeSchema read of the same committed files — same dtypes, same
    column order, same rows."""
    import os

    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import (
        append_shards_tx,
        committed_files,
        delete_docs_tx,
        lookup_docs,
        read_committed,
        read_committed_pruned,
    )

    docs, out = _tx_setup(spark, sf_dir, tmp_path)
    widen = _with_quality(docs, F.col("doc_id") % 2 == 1).limit(10)
    assert append_shards_tx(spark, out, widen, 1) is True
    dead = sorted(
        r.doc_id
        for r in docs.filter(F.col("doc_id") % 2 == 0).limit(3).collect()
    )
    assert delete_docs_tx(
        spark, out, spark.createDataFrame([(i,) for i in dead], "doc_id long"), 2
    ) is True
    data = [f for f in committed_files(out) if f.startswith("shard=")]
    inferred = (
        spark.read.option("basePath", out)
        .option("mergeSchema", "true")
        .parquet(*[os.path.join(out, f) for f in data])
        .filter(~F.col("doc_id").isin(dead))
    )
    widened = sorted(r.doc_id for r in widen.select("doc_id").collect())
    ids = dead[:1] + widened[:2] + [dead[-1] + 2]
    lo, hi = widened[0], widened[-1]
    cases = {
        "read_committed": (
            lambda: read_committed(spark, out),
            inferred,
        ),
        "lookup_docs": (
            lambda: lookup_docs(spark, out, ids),
            inferred.filter(F.col("doc_id").isin(ids)),
        ),
        "read_committed_pruned": (
            lambda: read_committed_pruned(spark, out, lo, hi),
            inferred.filter(F.col("doc_id").between(lo, hi)),
        ),
    }
    sc = spark.sparkContext
    for name, (build, want) in cases.items():
        group = f"log-schema-{name}"
        sc.setJobGroup(group, group)
        try:
            got = build()
            jobs = sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert list(jobs) == [], name
        assert got.dtypes == want.dtypes, name
        rows = sorted(got.collect(), key=lambda r: r.doc_id)
        assert rows == sorted(want.collect(), key=lambda r: r.doc_id), name
        assert rows, name


def test_schema_evolution_rejects_drop_retype_reserved(
    spark, sf_dir, tmp_path
):
    """The widen-only fences, each loud: a batch DROPPING a standing
    column is rejected (a silent drop forks the schema), a batch
    RETYPING one is rejected, and a batch carrying a reserved layout
    name (the rank mints shard/pos/h1/h2) is rejected."""
    import pytest
    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import append_shards_tx

    docs, out = _tx_setup(spark, sf_dir, tmp_path)
    widen = _with_quality(docs, F.col("doc_id") % 2 == 1).limit(5)
    assert append_shards_tx(spark, out, widen, 1) is True
    core_only = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", "lang", "text")
        .limit(3)
    )
    with pytest.raises(ValueError, match="drops standing column"):
        append_shards_tx(spark, out, core_only, 2)
    retyped = core_only.withColumn("quality", F.lit("high"))
    with pytest.raises(ValueError, match="retypes standing column"):
        append_shards_tx(spark, out, retyped, 3)
    reserved = widen.withColumn("pos", F.lit(1))
    with pytest.raises(ValueError, match="reserved layout column"):
        append_shards_tx(spark, out, reserved, 4)


def test_schema_evolution_survives_merge_and_reshard(
    spark, sf_dir, tmp_path
):
    """The widened column through the other two writers: merge
    upserts carry it (and the upserted value wins), and a reshard
    re-draws the layout without losing it."""
    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import (
        append_shards_tx,
        merge_docs_tx,
        read_committed,
        reshard_double,
        vacuum_uncommitted,
    )

    docs, out = _tx_setup(spark, sf_dir, tmp_path)
    widen = _with_quality(docs, F.col("doc_id") % 2 == 1).limit(5)
    assert append_shards_tx(spark, out, widen, 1) is True
    victim = widen.limit(1)
    upsert = victim.withColumn("quality", F.lit(0.99)).withColumn(
        "text", F.concat(F.lit("v2: "), F.col("text"))
    )
    assert merge_docs_tx(spark, out, upsert, 2) is True
    vid = victim.select("doc_id")
    row = read_committed(spark, out).join(vid, "doc_id").collect()
    assert len(row) == 1 and row[0].quality == 0.99
    assert row[0].text.startswith("v2: ")
    reshard_double(spark, out)
    vacuum_uncommitted(out, grace_sec=0.0)
    view = read_committed(spark, out)
    assert "quality" in view.columns
    row = view.join(vid, "doc_id").collect()
    assert len(row) == 1 and row[0].quality == 0.99


def test_merge_conflict_reclaims_staged_files(
    spark, sf_dir, tmp_path, monkeypatch
):
    """ADVICE r12: a merge losing every publish attempt used to leave
    up to 5 staged file sets plus its tombstone dir for a
    grace-delayed vacuum. The loser now unlinks its own staged data
    files per retry and removes the tombstone dir on final failure —
    they are positively attributed and provably unreferenced."""
    import glob
    import os

    import pytest
    from pyspark.sql import functions as F

    import zvdb_spark.queries.export as export

    docs, out = _tx_setup(spark, sf_dir, tmp_path)
    committed_before = set(export.committed_files(out))
    on_disk_before = set(export._data_files(out))
    assert on_disk_before == committed_before

    def _always_conflict(*a, **k):
        raise export.CommitConflict("forced")

    monkeypatch.setattr(export, "_publish_commit", _always_conflict)
    batch = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", "text"
    ).limit(4)
    with pytest.raises(export.CommitConflict):
        export.merge_docs_tx(spark, out, batch, 9)
    # no orphaned data files, no orphaned tombstone dirs
    assert set(export._data_files(out)) == on_disk_before
    assert glob.glob(os.path.join(out, "_tombstones", "*")) == []


# --------------------- round 13: file-level data skipping


def test_file_stats_recorded_and_footer_exact(spark, sf_dir, tmp_path):
    """Every data-bearing commit records [min_doc_id, max_doc_id,
    n_rows] per file, and the recorded values equal a direct read of
    the file (the stats come from the parquet footer, so they are
    exact, not sampled)."""
    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import _read_commits, append_shards_tx

    docs, out = _tx_setup(spark, sf_dir, tmp_path)
    batch = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", "lang", "text")
        .limit(20)
    )
    assert append_shards_tx(spark, out, batch, 1)
    for name, man in _read_commits(out) or []:
        if not any(
            not f.startswith("_tombstones/") for f in man["files"]
        ):
            continue
        stats = man.get("stats")
        assert stats, f"data commit {name} carries no stats"
        for rel, (lo, hi, n) in stats.items():
            back = spark.read.parquet(f"{out}/{rel}")
            row = back.agg(
                {"doc_id": "min"}
            ).collect()[0][0], back.agg(
                {"doc_id": "max"}
            ).collect()[0][0], back.count()
            assert (lo, hi, n) == (row[0], row[1], row[2]), rel


def test_pruned_read_skips_disjoint_files_exactly(
    spark, sf_dir, tmp_path
):
    """Id-correlated batches -> tight per-file ranges -> a range read
    opens ONLY the matching commits' files; the answer equals the
    full committed read under the same residual predicate, and a
    tombstone inside the range still masks. The hash-sharded base
    cannot prune (its per-file ranges span the corpus) — asserted as
    the honest negative."""
    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import (
        append_shards_tx,
        delete_docs_tx,
        read_committed,
        read_committed_pruned,
    )

    docs, out = _tx_setup(spark, sf_dir, tmp_path)
    core = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", "text"
    )
    assert append_shards_tx(
        spark, out,
        core.select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"),
            "lang", "text",
        ),
        1,
    )
    assert append_shards_tx(
        spark, out,
        core.select(
            (F.col("doc_id") + 20_000_000).alias("doc_id"),
            "lang", "text",
        ),
        2,
    )
    victims = spark.createDataFrame(
        [(20_000_001,), (20_000_003,)], "doc_id long"
    )
    assert delete_docs_tx(spark, out, victims, 3)

    def data_files(df):
        return {f for f in df.inputFiles() if "/shard=" in f}

    full = read_committed(spark, out)
    pruned = read_committed_pruned(spark, out, doc_id_min=20_000_000)
    assert data_files(pruned) < data_files(full)  # strict subset
    want = full.filter(F.col("doc_id") >= 20_000_000)
    assert pruned.count() == want.count()
    assert (
        pruned.agg(F.sum("doc_id")).collect()[0][0]
        == want.agg(F.sum("doc_id")).collect()[0][0]
    )
    assert pruned.join(victims, "doc_id").count() == 0
    # two-sided range hitting only the middle batch
    mid = read_committed_pruned(
        spark, out, doc_id_min=10_000_000, doc_id_max=19_999_999
    )
    assert data_files(mid) < data_files(full)
    assert mid.count() == full.filter(
        F.col("doc_id").between(10_000_000, 19_999_999)
    ).count()
    # every file pruned -> empty result, no error
    nothing = read_committed_pruned(
        spark, out, doc_id_min=900_000_000
    )
    assert nothing.count() == 0
    # honest negative: base files span the corpus, never pruned
    probe = read_committed_pruned(spark, out, doc_id_min=1, doc_id_max=2)
    assert data_files(probe)


def test_pruning_survives_compaction_and_never_misprunes(
    spark, sf_dir, tmp_path
):
    """Compaction rewrites the layout into one file per shard — the
    per-file ranges widen back to corpus-wide, the rewritten commit
    records the NEW stats, and a range read stays answer-identical
    (it just prunes less). Commits without stats are never pruned."""
    import json
    import os

    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import (
        _commits_dir,
        append_shards_tx,
        compact_shards,
        read_committed,
        read_committed_pruned,
        vacuum_uncommitted,
    )

    docs, out = _tx_setup(spark, sf_dir, tmp_path)
    core = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", "text"
    )
    assert append_shards_tx(
        spark, out,
        core.select(
            (F.col("doc_id") + 30_000_000).alias("doc_id"),
            "lang", "text",
        ),
        1,
    )
    want = (
        read_committed(spark, out)
        .filter(F.col("doc_id") >= 30_000_000)
        .agg(F.count("*"), F.sum("doc_id"))
        .collect()[0]
    )
    compact_shards(spark, out)
    vacuum_uncommitted(out, grace_sec=0.0)
    got = (
        read_committed_pruned(spark, out, doc_id_min=30_000_000)
        .agg(F.count("*"), F.sum("doc_id"))
        .collect()[0]
    )
    assert tuple(got) == tuple(want)
    # strip stats from the live commit: pruning must disable, answer
    # must hold (stats are advisory, absence means read everything)
    cd = _commits_dir(out)
    for c in sorted(os.listdir(cd)):
        p = os.path.join(cd, c)
        if not c.endswith(".json"):
            continue
        with open(p) as f:
            man = json.load(f)
        man.pop("stats", None)
        with open(p, "w") as f:
            json.dump(man, f)
    import shutil

    shutil.rmtree(os.path.join(cd, "_ckpts"), ignore_errors=True)
    full = read_committed(spark, out)
    pruned = read_committed_pruned(spark, out, doc_id_min=30_000_000)
    assert {f for f in pruned.inputFiles() if "/shard=" in f} == {
        f for f in full.inputFiles() if "/shard=" in f
    }
    got2 = pruned.agg(F.count("*"), F.sum("doc_id")).collect()[0]
    assert tuple(got2) == tuple(want)


# --------------------- round 13: point lookup (shard routing)


def test_point_lookup_routes_to_target_shards_only(
    spark, sf_dir, tmp_path
):
    """lookup_docs computes shard = H(id) mod N driver-side and opens
    ONLY the target shards' committed files; the answer equals the
    residual-filtered full read, deletes mask, upserts show their
    latest version, and an id hashing to a shard with no files (or
    absent entirely) returns empty rather than erroring."""
    from pyspark.sql import functions as F

    from zvdb_spark.queries.export import (
        N_SHARDS,
        delete_docs_tx,
        lookup_docs,
        merge_docs_tx,
        read_committed,
    )
    from zvdb_spark.queries.text import h_py

    docs, out = _tx_setup(spark, sf_dir, tmp_path)
    evens = sorted(
        r.doc_id
        for r in docs.filter(F.col("doc_id") % 2 == 0)
        .select("doc_id")
        .limit(8)
        .collect()
    )
    dead, updated, *plain = evens
    assert delete_docs_tx(
        spark, out, spark.createDataFrame([(dead,)], "doc_id long"), 1
    )
    upsert = (
        docs.filter(F.col("doc_id") == updated)
        .select(
            "doc_id", "lang",
            F.concat(F.lit("v2: "), F.col("text")).alias("text"),
        )
    )
    assert merge_docs_tx(spark, out, upsert, 2)

    targets = [dead, updated, *plain[:2]]
    got = lookup_docs(spark, out, targets)
    data_files = {f for f in got.inputFiles() if "/shard=" in f}
    full_files = {
        f
        for f in read_committed(spark, out).inputFiles()
        if "/shard=" in f
    }
    assert data_files < full_files
    # every opened file belongs to a target shard
    shards = {h_py(str(i)) % N_SHARDS for i in targets}
    assert {
        int(f.split("shard=")[1].split("/")[0]) for f in data_files
    } <= shards
    rows = {(r.doc_id, r.text) for r in got.collect()}
    want = {
        (r.doc_id, r.text)
        for r in read_committed(spark, out)
        .filter(F.col("doc_id").isin(targets))
        .collect()
    }
    assert rows == want
    assert dead not in {d for d, _ in rows}
    assert [t for d, t in rows if d == updated][0].startswith("v2: ")
    # absent id: empty result, schema intact, no error
    missing = lookup_docs(spark, out, [987_654_321])
    assert missing.count() == 0
    assert "text" in missing.columns
