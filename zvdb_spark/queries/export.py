"""Training-corpus export: deterministic pseudo-shuffle + fixed
shard layout — the terminal step of every LLM data pipeline (after
curation/dedup, the corpus is materialized as N shards in a seeded
random-looking order so consecutive training batches decorrelate and
any run can reproduce or resume the exact permutation).

Absent from the reference (its only output is a search result slice,
``src/hnsw.zig:235``); part of the LLM-data-pipeline surface.

Semantics (all integer/hash-exact, so cross-engine and
layout-independent):

- shard(doc)   = H(doc_id) mod N_SHARDS           (membership)
- order-in-shard = ascending H(doc_id || salt)    (the permutation)
- pos          = 1-based rank within the shard    (resume cursor)

Scale posture: ONE hash shuffle total — the rank window partitions by
shard, and the partitioned write reuses that clustering; reading back
any one shard is a partition-pruned scan. Never a global total order
(a windowed rank without a partition key is a single task at any
scale): the permutation is defined per shard, which is exactly what a
data loader consumes (each worker streams its shard in pos order).

The declared query WRITES the export (one parquet file tree
partitioned by shard, with pos materialized), reads it back, and
returns a per-shard manifest: doc count, id-sum, and a
position-weighted order checksum — pos is part of the checksum, so
the PERMUTATION is pinned, not just shard membership. The pytest
suite (tests/test_export.py) checks the manifest against the DuckDB
twin of the logical definition plus gapless-pos invariants on the
read-back files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from zvdb_spark.queries.registry import register
from zvdb_spark.queries.text import H_DUCK, H_SPARK
from zvdb_spark.sources.tables import load

N_SHARDS = 8
ORDER_SALT = "shard_order_v1"  # version the permutation explicitly
_CHK_M = 1_000_003  # fold the 60-bit hash before the pos product


def _h_spark(x: str) -> str:
    return H_SPARK.format(x=x)


def _h_duck(x: str) -> str:
    return H_DUCK.format(x=x)


EXPORT_ORACLE = f"""
WITH h AS (
  SELECT doc_id,
         {_h_duck("cast(doc_id AS VARCHAR)")} AS h1,
         {_h_duck(f"cast(doc_id AS VARCHAR) || '#{ORDER_SALT}'")} AS h2
  FROM documents
),
r AS (
  SELECT doc_id, h1 % {N_SHARDS} AS shard,
         row_number() OVER (
           PARTITION BY h1 % {N_SHARDS} ORDER BY h2, doc_id
         ) AS pos,
         h1
  FROM h
)
SELECT shard,
       count(*) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS id_sum,
       CAST(sum(CAST(pos AS HUGEINT) * (h1 % {_CHK_M})) AS VARCHAR)
         AS order_checksum
FROM r GROUP BY shard
"""


def _hashed(
    docs: DataFrame, n_shards: int, extras: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, lang, text) + h1/h2/shard columns — the shared first
    stage of the full export and the incremental append. ``extras``
    are pass-through batch columns beyond the core (widen-only schema
    evolution; see _check_widen_only)."""
    return docs.select(
        "doc_id",
        "lang",
        "text",
        *extras,
        F.expr(_h_spark("cast(doc_id as string)")).alias("h1"),
        F.expr(
            _h_spark(f"concat(cast(doc_id as string), '#{ORDER_SALT}')")
        ).alias("h2"),
    ).withColumn(
        "shard", F.pmod(F.col("h1"), F.lit(n_shards)).cast("int")
    )


_LAYOUT_FORMAT = 1


def _write_layout_manifest(out_dir: str, n_shards: int) -> None:
    import json
    import os

    man = os.path.join(out_dir, "_layout.json")
    with open(man + ".tmp", "w") as f:
        json.dump(
            {
                "format": _LAYOUT_FORMAT,
                "n_shards": int(n_shards),
                "order_salt": ORDER_SALT,
            },
            f,
        )
    os.replace(man + ".tmp", man)


def read_layout_manifest(out_dir: str) -> dict:
    import json
    import os

    with open(os.path.join(out_dir, "_layout.json")) as f:
        m = json.load(f)
    if m.get("format") != _LAYOUT_FORMAT:
        raise ValueError(
            f"shard layout manifest in {out_dir} has format "
            f"{m.get('format')!r}; this build reads {_LAYOUT_FORMAT}"
        )
    return m


def write_shards(
    docs: DataFrame, out_dir: str, n_shards: int = N_SHARDS
) -> DataFrame:
    """Write the deterministic shard layout of ``docs`` to
    ``out_dir`` (parquet, partitioned by shard, pos materialized) and
    return the written DataFrame definition. One hash shuffle: the
    pos window partitions by shard; the partitioned write consumes
    that clustering. An underscore-hidden ``_layout.json`` records
    (n_shards, order salt) so append_shards routes by the LAYOUT'S
    parameters, never a caller default."""
    sharded = _hashed(docs, n_shards)
    wr = W.partitionBy("shard").orderBy("h2", "doc_id")
    ranked = sharded.withColumn("pos", F.row_number().over(wr))
    (
        ranked.select("shard", "pos", "doc_id", "lang", "text", "h1")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out_dir)
    )
    _write_layout_manifest(out_dir, n_shards)
    return ranked


def sharded_export(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_shards: int = N_SHARDS,
) -> DataFrame:
    """write_shards over the documents table."""
    return write_shards(
        load(spark, sf_dir, "documents"), out_dir, n_shards
    )


def _manifest_agg(back: DataFrame) -> DataFrame:
    return (
        back.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_id").alias("id_sum"),
            F.sum(
                F.col("pos").cast("decimal(38,0)")
                * (F.col("h1") % _CHK_M)
            ).cast("decimal(38,0)").cast("string").alias("order_checksum"),
        )
        .withColumn("shard", F.col("shard").cast("long"))
    )


def export_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-shard manifest computed from the WRITTEN files (the
    artifact a loader trusts, not the plan that produced it)."""
    return _manifest_agg(spark.read.parquet(out_dir))


def committed_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    """export_manifest restricted to the commit log's view — the
    manifest a loader consuming a streaming-appended layout trusts
    (uncommitted orphans are invisible to it)."""
    return _manifest_agg(read_committed(spark, out_dir))


def append_shards(
    spark: SparkSession,
    out_dir: str,
    new_docs: DataFrame,
    n_shards: int | None = None,
) -> DataFrame:
    """Incrementally extend an existing shard layout with a new batch
    (the ingest-time analog of the reference's incremental ``insert``,
    src/hnsw.zig:73-117, applied to the export artifact): each new doc
    routes to its hash shard and takes pos = the shard's standing max
    + its hash rank WITHIN THE BATCH — per-shard order remains
    'arrival batch, then hash order', which is the reproducible
    contract a streaming ingest can actually keep (re-shuffling
    standing rows on every append would rewrite the corpus).

    Scale posture: the standing max-pos read is a column-pruned
    aggregate over only the pos/shard columns; the batch shuffles
    once (rank window by shard); the dynamic-partition append writes
    at most one new file into each shard the batch touches — standing
    files are never rewritten (the delta-scoping discipline of
    append_ivf_layout). Returns the ranked batch frame.

    ``n_shards`` defaults to the LAYOUT'S own manifest — a batch
    routed by a caller-supplied count that disagrees with the
    standing layout would silently violate shard = H(id) mod N for
    every appended doc, so an explicit mismatch raises."""
    import os
    import uuid

    if not os.path.isdir(_commits_dir(out_dir)):
        n = _check_layout_n(out_dir, n_shards, "append_shards")
        # log-less layout: no recorded schemas to fence against —
        # batch extras pass through (the plain-directory read samples
        # one footer, so evolution on a log-less layout is best-effort;
        # the LOGGED path is where the widen contract is enforced)
        extras = tuple(
            c
            for c in new_docs.columns
            if c not in ("doc_id", "lang", "text")
        )
        ranked = _ranked_batch(
            spark.read.parquet(out_dir), new_docs, n, extras=extras
        )
        ranked.write.mode("append").partitionBy("shard").parquet(out_dir)
        return ranked
    # A logged layout must never hold data files no commit references
    # — vacuum_uncommitted would DELETE a plain append's rows as crash
    # orphans. A plain append to a logged layout therefore commits
    # itself (under a uuid label: there is no batch_id to fence on —
    # use append_shards_tx when redelivery fencing is the point).
    # Ranked against the COMMITTED view, so a crash orphan can never
    # shift the permutation (same rule as append_shards_tx), and
    # published through the same conflict-checked protocol.
    ranked, _ = _append_committed(
        spark, out_dir, new_docs, n_shards,
        f"plain-{uuid.uuid4().hex[:12]}", "append_shards",
    )
    return ranked


def _append_committed(
    spark: SparkSession,
    out_dir: str,
    new_docs: DataFrame,
    n_shards: int | None,
    label: str,
    caller: str,
    max_attempts: int = 5,
) -> tuple[DataFrame, str | None]:
    """The shared logged-append transaction: snapshot the log, rank
    the batch against the committed view, stage-write the files, and
    publish. An append commutes with a concurrent compaction (pos is
    untouched) but conflicts with a concurrent append or reshard —
    then the staged files are abandoned as vacuumable orphans and the
    whole attempt re-runs from a fresh snapshot (layout re-checked,
    pos re-ranked). Returns (ranked frame, committed name) — name
    None when a twin carrying the same label won (replay)."""
    last: CommitConflict | None = None
    for _ in range(max_attempts):
        n = _check_layout_n(out_dir, n_shards, caller)
        commits = _read_commits(out_dir) or []
        live = set(_live_names_from(commits))
        extras = _check_widen_only(new_docs, commits, live, caller)
        # rank against the DATA view (soft-deleted rows included) plus
        # the maintenance high-water mark: a deleted row's pos must
        # never be re-minted, so the max is over everything that EVER
        # held a position, not just the rows a reader sees
        data, _, hwm = _split_files(commits, live)
        ranked = _ranked_batch(
            _read_files_df(
                spark, out_dir, data, _standing_schema(commits, live)
            ),
            new_docs,
            n,
            pos_hwm=hwm,
            extras=extras,
        )
        new_files = _stage_write(ranked, out_dir)
        try:
            name = _publish_commit(
                out_dir, label, new_files, snapshot=commits,
                schema=ranked.dtypes,
                stats=_file_stats(out_dir, new_files),
            )
        except CommitConflict as e:
            last = e
            _unlink_staged(out_dir, new_files)
            continue
        return ranked, name
    raise last  # type: ignore[misc]


def _check_layout_n(
    out_dir: str, n_shards: int | None, caller: str
) -> int:
    import os

    layout_n = read_layout_manifest(out_dir)["n_shards"]
    if os.path.isdir(_commits_dir(out_dir)):
        log_n = _log_n_shards(out_dir)
        if log_n is not None and log_n != layout_n:
            raise ValueError(
                f"layout manifest at {out_dir} says {layout_n} shards "
                f"but the live reshard commit says {log_n} — an "
                "interrupted reshard; run repair_layout first"
            )
    if n_shards is None:
        return layout_n
    if n_shards != layout_n:
        raise ValueError(
            f"{caller} called with n_shards={n_shards} but the "
            f"layout at {out_dir} was written with {layout_n}"
        )
    return n_shards


def _ranked_batch(
    standing: DataFrame,
    new_docs: DataFrame,
    n_shards: int,
    pos_hwm: dict[int, int] | None = None,
    extras: tuple[str, ...] = (),
) -> DataFrame:
    """The shared append rank: pos = the standing frame's per-shard
    max + the batch's hash rank within the shard. ``pos_hwm`` is the
    high-water mark maintenance commits carry (a compaction that
    materialized deletes may have dropped a shard's max-pos rows; the
    mark keeps appended positions monotone so a deleted row's pos is
    never re-minted under a resume cursor)."""
    base_max = standing.groupBy("shard").agg(
        F.max("pos").alias("max_pos")
    )
    if pos_hwm:
        spark = standing.sparkSession
        hwm_df = spark.createDataFrame(
            [(int(s), int(p)) for s, p in pos_hwm.items()],
            "shard int, max_pos int",
        )
        base_max = (
            base_max.select(
                F.col("shard").cast("int").alias("shard"),
                F.col("max_pos").cast("int").alias("max_pos"),
            )
            .unionByName(hwm_df)
            .groupBy("shard")
            .agg(F.max("max_pos").alias("max_pos"))
        )
    batch = _hashed(new_docs, n_shards, extras)
    wr = W.partitionBy("shard").orderBy("h2", "doc_id")
    return (
        batch.withColumn("rk", F.row_number().over(wr))
        .join(F.broadcast(base_max), "shard", "left")
        .withColumn(
            "pos", F.col("rk") + F.coalesce(F.col("max_pos"), F.lit(0))
        )
        .select("shard", "pos", "doc_id", "lang", "text", "h1", *extras)
    )


# --------------------- commit-log layer (exactly-once for readers)
#
# append_shards above is at-least-once: a crashed-and-retried batch
# appends twice. The commit log closes that the way Spark's own
# FileStreamSink and the lakehouse formats do: data files land under
# their final partition dirs with unique names, but a batch only
# EXISTS once its file list is atomically recorded in
# _commits/<seq>.json. Readers (read_committed / committed_manifest)
# resolve the layout from the log, so a crash between the data write
# and the commit leaves invisible orphans (reclaimed by
# vacuum_uncommitted), never duplicate rows; a retried batch_id is a
# no-op because a commit carrying its label already exists.
# MULTI-WRITER SAFE since round 11: commits are published by
# put-if-absent on the seq-named file (_publish_commit — the
# Delta/Iceberg optimistic-concurrency protocol, public), data files
# are positively attributed through staged writes (_stage_write), and
# losers of a non-commuting race retry from a fresh snapshot
# (appends re-rank; maintenance recomputes). At 100 TB the log also
# spares the driver a full recursive listing — exactly the
# Delta/Iceberg argument, reduced to the one artifact this engine
# exports.

_COMMIT_FORMAT = 2
# Format 2 adds the optional "replaces" field (compaction/reshard
# commits supersede the commits they list — see committed_files), the
# optional "n_shards" field (maintenance commits record the layout's
# shard count so repair_layout can restore an interrupted manifest
# swap), and — since the multi-writer protocol — the "label" and
# "seq" fields every new commit carries. Format-1 commits remain
# readable forever; the format integer fences only INCOMPATIBLE
# future layouts.
_COMMIT_FORMATS = frozenset({1, 2})


class CommitConflict(RuntimeError):
    """A concurrent, non-commuting commit landed between this
    writer's log snapshot and its publication attempt (see
    _CONFLICTS for the commute matrix). The loser's staged data
    files are crash orphans — invisible to committed readers and
    reclaimed by vacuum_uncommitted; callers retry from a fresh
    snapshot (appends re-rank, maintenance recomputes)."""


def _commit_kind(label: str) -> str:
    """Conflict-matrix class of a commit label: appends add rows
    (labels ``b<batch>``/``plain-*``/legacy digit names), deletes add
    id tombstones (``d<batch>``), merges add rows AND tombstones in
    one commit (``m<batch>``), compact rewrites the live rows in
    place, reshard re-draws the layout."""
    if label == "base":
        return "base"
    if label.startswith("compact"):
        return "compact"
    if label.startswith("reshard"):
        return "reshard"
    if label.startswith("d") and label[1:].isdigit():
        return "delete"
    if label.startswith("m") and label[1:].isdigit():
        return "merge"
    return "append"


# Which concurrent winner kinds force the named kind to abort and
# retry from a fresh snapshot. Appends commute with compaction (a
# compaction never changes per-shard max pos and never replaces a
# commit it did not see), so an append that loses only to a compact
# simply advances to the next seq. Deletes commute with EVERYTHING
# from the DELETE's side: a tombstone is id-addressed and seq-scoped
# (it masks rows from data commits with seq STRICTLY below its own —
# same-seq rows, a merge's own, are exempt; see _masked_view), so
# advancing
# past any winner just serializes the delete AFTER it — masking a
# concurrent append's or rewrite's rows is a valid linearization —
# and two deletes union. The reverse direction is NOT symmetric since
# round 12's seq-scoped tombstones: a compact/reshard MATERIALIZES
# exactly the deletes in its snapshot and re-mints every surviving
# row under its own (higher) seq, so a delete that lands between the
# rewrite's snapshot and its publication would end up scoped BELOW
# the rewritten rows and silently stop masking — the rewrite must
# abort and recompute with the tombstone in view. A MERGE is an
# append AND a delete in one commit, and classifies accordingly: as a
# loser it behaves like an append (it mints pos, so it conflicts
# appends/merges/reshards and commutes past deletes and compactions -
# its tombstones, scoped to its own final seq, stay correct wherever
# it lands); as a winner it forces the same retries an append plus a
# delete would (appends/merges re-rank; compact/reshard recompute to
# see its tombstones). Every other pair is
# a real conflict: append↔append can mint colliding pos,
# compact↔compact would leave both rewrites live (duplicate rows),
# and a reshard invalidates everyone's routing.
_CONFLICTS = {
    "append": {"append", "merge", "reshard", "base"},
    "delete": {"base"},
    "merge": {"append", "merge", "reshard", "base"},
    "compact": {"compact", "reshard", "delete", "merge", "base"},
    "reshard": {"append", "compact", "reshard", "delete", "merge",
                "base"},
    "base": {"append", "delete", "merge", "compact", "reshard",
             "base"},
}


def _commits_dir(out_dir: str) -> str:
    import os

    return os.path.join(out_dir, "_commits")


def _data_files(out_dir: str) -> list[str]:
    """Relative paths of all shard data files currently on disk
    (committed or not); _-prefixed control files are never listed."""
    import glob
    import os

    return sorted(
        os.path.relpath(f, out_dir)
        for f in glob.glob(os.path.join(out_dir, "shard=*", "*.parquet"))
    )


def _publish_commit(
    out_dir: str,
    label: str,
    files: list[str],
    *,
    snapshot: list[tuple[str, dict]],
    replaces: list[str] | None = None,
    n_shards: int | None = None,
    pos_hwm: dict[int, int] | None = None,
    schema: list[tuple[str, str]] | None = None,
    stats: dict[str, list[int]] | None = None,
) -> str | None:
    """Atomically publish a commit at the next free seq — the
    multi-writer CAS of this log layer, the put-if-absent protocol of
    the lakehouse formats it mirrors (Delta/Iceberg; public). Commit
    files are named by seq alone (``{seq:020d}.json``), so two
    writers CANNOT both take a seq: the manifest is staged to a tmp
    file and ``os.link``-ed to the seq name — link is atomic and
    fails with FileExistsError when the seq is taken. On a collision
    the winner's manifest (complete by construction: content is fully
    written before the link) is read and classified against
    _CONFLICTS: a commuting winner (e.g. a compaction under an
    append) just advances this writer to the next seq; a
    non-commuting winner raises CommitConflict; a winner carrying the
    SAME label is a twin replay of this very commit — return None so
    the caller reports "already committed". Because every writer
    starts at its snapshot's max seq + 1 and walks forward one
    collision at a time, the seq chain is dense and every published
    commit has provably seen (and classified) every commit before it.

    ``snapshot`` is the (name, manifest) list the caller already read
    to compute ``files`` — reused here so publication adds ZERO
    full-log parses (only the colliding manifests are read, one per
    lost seq)."""
    import json
    import os
    import uuid

    cd = _commits_dir(out_dir)
    os.makedirs(cd, exist_ok=True)
    man: dict = {"format": _COMMIT_FORMAT, "files": files, "label": label}
    if replaces is not None:
        man["replaces"] = sorted(replaces)
    if n_shards is not None:
        man["n_shards"] = int(n_shards)
    if pos_hwm:
        man["pos_hwm"] = {str(s): int(p) for s, p in pos_hwm.items()}
    if schema is not None:
        # the (col, dtype) list this commit's data files carry — what
        # read-side schema resolution and the widen-only append fence
        # run on (see _standing_schema); commits predating the field
        # read as the core layout schema
        man["schema"] = [[c, t] for c, t in schema]
    if stats:
        # per-file [min_doc_id, max_doc_id, n_rows] for data skipping
        # (read_committed_pruned); optional and advisory — an absent
        # entry only disables pruning for that file
        man["stats"] = {f: list(v) for f, v in stats.items()}
    kind = _commit_kind(label)
    # monotone sequence number — the time-travel axis. Legacy commits
    # without the field read as seq 0 (the base).
    seq = 1 + max((m.get("seq", 0) for _, m in snapshot), default=-1)
    tmp = os.path.join(cd, f"_tmp-{uuid.uuid4().hex}")
    try:
        while True:
            man["seq"] = seq
            with open(tmp, "w") as f:
                json.dump(man, f)
            path = os.path.join(cd, f"{seq:020d}.json")
            try:
                os.link(tmp, path)
                _maybe_checkpoint(out_dir, seq)
                return f"{seq:020d}"
            except FileExistsError:
                with open(path) as f:
                    winner = json.load(f)
                if "label" not in winner:
                    # a pre-format-2 commit named by batch_id whose
                    # 20-digit name happens to equal THIS seq: it is
                    # ancient history, not a concurrent writer (every
                    # live writer stamps a label), so its name is
                    # just an occupied slot — advance past it instead
                    # of classifying a label-less manifest as a
                    # conflicting append, which would recompute the
                    # same max-seq+1 forever and wedge the chain.
                    # Format-1 commits remain readable AND harmless.
                    seq += 1
                    continue
                other = winner.get(
                    "label",
                    os.path.splitext(os.path.basename(path))[0],
                )
                if other == label and kind in ("append", "delete", "merge"):
                    # a twin replay of this very batch already
                    # committed (maintenance labels are generic —
                    # same-label maintenance twins fall through to
                    # the conflict matrix and recompute)
                    return None
                if _commit_kind(other) in _CONFLICTS[kind]:
                    raise CommitConflict(
                        f"{label} lost seq {seq} to non-commuting "
                        f"commit {other!r} at {out_dir}"
                    )
                seq += 1  # commuting winner — advance and retry
    finally:
        try:
            os.unlink(tmp)
        except FileNotFoundError:
            pass


def _require_local_path(out_dir: str, caller: str) -> None:
    """The log layer reads/writes with os/glob, i.e. a filesystem the
    DRIVER can address by path — true for local[*], NFS, and
    fuse-mounted object stores; a raw scheme URI would silently
    create a mangled local directory, so it raises. A real
    HDFS-/S3-native deployment swaps these few functions for the
    Hadoop FileSystem API (or uses the lakehouse format the pattern
    is borrowed from) — same assumption class, one seam."""
    if "://" in out_dir:
        raise ValueError(
            f"{caller} addresses the layout through the driver's local "
            f"filesystem; got URI {out_dir!r} — mount it or use a "
            "Hadoop-FS-backed log"
        )


def init_commit_log(out_dir: str) -> None:
    """Seed the log over a standing write_shards layout: the current
    data files become the base commit. Idempotent only when the log
    does not exist yet — re-initializing an active log would resurrect
    vacuumed orphans, so it raises. Driver-addressable filesystem
    only (see _require_local_path)."""
    import os

    _require_local_path(out_dir, "init_commit_log")
    if os.path.isdir(_commits_dir(out_dir)):
        raise ValueError(f"commit log already exists at {out_dir}")
    files = _data_files(out_dir)
    _publish_commit(
        out_dir, "base", files, snapshot=[],
        stats=_file_stats(out_dir, files),
    )


# Roll a checkpoint every N commits. The checkpoint is the log's
# read-amortizer (Delta's `_last_checkpoint` pattern, public): without
# it every transactional op JSON-parses the WHOLE log — O(total
# commits) driver I/O per streaming micro-batch, quadratic over the
# stream's life. A checkpoint holds the full (name, manifest) list at
# write time, so a reader opens ONE checkpoint + only the commits the
# checkpoint has not seen (membership by file name — no opens for
# covered commits). Commit jsons are never deleted, so checkpoints are
# purely a read optimization: every consumer (replay fences, time
# travel, vacuum retention) sees the same complete history. The
# checkpoints THEMSELVES are bounded by vacuum_uncommitted's
# ckpt_keep (each is a full log snapshot — unbounded they would grow
# quadratically over a streaming layout's life; Delta keeps the last
# N and vacuums the rest, the pattern followed here).
_CHECKPOINT_EVERY = 16


def _ckpt_dir(out_dir: str) -> str:
    import os

    return os.path.join(_commits_dir(out_dir), "_ckpts")


def _maybe_checkpoint(out_dir: str, seq: int) -> None:
    """Best-effort checkpoint roll after publishing ``seq``: every
    _CHECKPOINT_EVERY commits, re-read the full log once (the O(n)
    cost is paid 1/N of the time — amortized O(1) extra opens per
    commit) and publish it as one json via tmp + atomic rename. Two
    writers rolling concurrently is harmless: os.replace is atomic
    and either file is a valid base (the tail fill-in is
    membership-based, not offset-based). Never fails the commit it
    rides on."""
    import json
    import os
    import uuid

    if seq <= 0 or seq % _CHECKPOINT_EVERY:
        return
    try:
        commits = _read_commits(out_dir, use_checkpoint=False) or []
        kd = _ckpt_dir(out_dir)
        os.makedirs(kd, exist_ok=True)
        tmp = os.path.join(kd, f"_tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump({"format": 1, "commits": commits}, f)
        os.replace(tmp, os.path.join(kd, f"{seq:020d}.json"))
    except Exception:  # noqa: BLE001 — checkpointing is best-effort
        # maintenance riding on an already-published commit: ANY
        # failure (OSError, but also a corrupt commit json's
        # JSONDecodeError or a format-fence ValueError from the full
        # re-read) must not turn a commit that LANDED into a
        # caller-visible error
        pass


def _read_commits(
    out_dir: str, use_checkpoint: bool = True
) -> list[tuple[str, dict]] | None:
    """(name, manifest) for every commit json, sorted by name, or None
    when the layout has no log. Validates the format fence. Reads the
    latest checkpoint (when one exists) + only the UNCOVERED commit
    files — coverage is by name membership, not name ordering, so a
    new seq-named commit that sorts below a gapped legacy name is
    still picked up."""
    import glob
    import json
    import os

    cd = _commits_dir(out_dir)
    if not os.path.isdir(cd):
        return None
    out: list[tuple[str, dict]] = []
    seen: set[str] = set()
    if use_checkpoint:
        cks = sorted(glob.glob(os.path.join(_ckpt_dir(out_dir), "*.json")))
        for ck_path in reversed(cks):
            try:
                with open(ck_path) as f:
                    ck = json.load(f)
            except FileNotFoundError:
                # vacuumed between the glob and the open (checkpoint
                # retention reclaims old checkpoints) — any OLDER
                # checkpoint is an equally valid base (the tail
                # fill-in below is membership-based), and losing all
                # of them just degrades to the full-log parse
                continue
            if ck.get("format") != 1:
                raise ValueError(
                    f"checkpoint {ck_path} has format "
                    f"{ck.get('format')!r}; this build reads 1"
                )
            out = [(n, m) for n, m in ck["commits"]]
            seen = {n for n, _ in out}
            break
    for c in sorted(glob.glob(os.path.join(cd, "*.json"))):
        name = os.path.splitext(os.path.basename(c))[0]
        if name in seen:
            continue
        with open(c) as f:
            man = json.load(f)
        if man.get("format") not in _COMMIT_FORMATS:
            raise ValueError(
                f"commit {c} has format {man.get('format')!r}; this "
                f"build reads {sorted(_COMMIT_FORMATS)}"
            )
        out.append((name, man))
    return sorted(out, key=lambda nm: nm[0])


def _live_names_from(commits: list[tuple[str, dict]]) -> list[str]:
    replaced: set[str] = set()
    for _, man in commits:
        replaced.update(man.get("replaces", ()))
    return [n for n, _ in commits if n not in replaced]


def _live_files_from(commits: list[tuple[str, dict]]) -> list[str]:
    live = set(_live_names_from(commits))
    files: list[str] = []
    for name, man in commits:
        if name in live:
            files.extend(man["files"])
    return sorted(set(files))


def _seq_split(
    commits: list[tuple[str, dict]], names: set[str]
) -> tuple[dict[str, int], dict[str, int], dict[int, int]]:
    """Per-seq file maps across ``names``: (data rel-path → its
    commit's seq, tombstone rel-path → its commit's seq, pos_hwm).
    The seq attribution is what scopes a tombstone: it masks only
    rows from data commits STRICTLY below its own seq (see
    _masked_view) — for distinct commits seqs are unique, so that is
    the familiar at-or-below delete rule, while a MERGE commit
    (tombstones + new rows published at ONE seq) never masks its own
    rows. Files are classified by path: everything under
    ``_tombstones/`` is an id list (plain delete commits hold only
    those; merge commits hold both kinds), anything else is data.
    pos_hwm is the per-shard position high-water mark the
    maintenance commits carry forward (see compact_shards)."""
    data: dict[str, int] = {}
    tomb: dict[str, int] = {}
    hwm: dict[int, int] = {}
    for name, man in commits:
        if name not in names:
            continue
        seq = int(man.get("seq", 0))
        for f in man["files"]:
            tgt = tomb if f.startswith("_tombstones/") else data
            tgt[f] = max(tgt.get(f, seq), seq)
        for s, p in man.get("pos_hwm", {}).items():
            hwm[int(s)] = max(hwm.get(int(s), 0), int(p))
    return data, tomb, hwm


def _split_files(
    commits: list[tuple[str, dict]], names: set[str]
) -> tuple[list[str], list[str], dict[int, int]]:
    """Flat-list view of _seq_split for callers that only need the
    file sets (vacuum retention, file listings)."""
    data, tomb, hwm = _seq_split(commits, names)
    return sorted(data), sorted(tomb), hwm


# --------------------- commit-carried schema (widen-only evolution)
#
# A month into a real pipeline the batch grows a column (a new
# quality score) — the layout must absorb that without rewriting
# standing files. The lakehouse pattern (Delta's mergeSchema writes,
# public): every data-bearing commit records the (col, dtype) list
# its files carry; appends may ADD columns but never drop or retype
# one — a dropped column would silently fork the schema, and a retype
# breaks the union read. Reads take their schema from the log (the
# union of the recorded schemas, see _read_files_df), so no parquet
# footer is read to plan a scan and files predating an added column
# return null for it.

_CORE_SCHEMA: tuple[tuple[str, str], ...] = (
    ("shard", "int"),
    ("pos", "int"),
    ("doc_id", "bigint"),
    ("lang", "string"),
    ("text", "string"),
    ("h1", "bigint"),
)
_CORE_COLS = tuple(c for c, _ in _CORE_SCHEMA)
# columns the rank mints (or uses internally) — a batch must not
# carry them, and the widen fence never demands them from a batch
_MINTED_COLS = frozenset({"shard", "pos", "h1", "h2", "rk"})


def _data_bearing(man: dict) -> bool:
    return any(not f.startswith("_tombstones/") for f in man["files"])


def _commit_schema(man: dict) -> list[tuple[str, str]]:
    """The (col, dtype) list a commit's data files were written with;
    commits predating the schema field (and the base commit, whose
    files write_shards produced) carry the core layout schema."""
    sch = man.get("schema")
    if not sch:
        return list(_CORE_SCHEMA)
    return [(c, t) for c, t in sch]


def _standing_schema(
    commits: list[tuple[str, dict]], names: set[str]
) -> dict[str, str]:
    """col -> dtype union over the live data-bearing commits in
    ``names`` — core columns first, extras in first-seen order. A
    dtype disagreement between live commits means the layout was
    corrupted past the write fence; it raises rather than letting a
    union read pick a winner."""
    out: dict[str, str] = dict(_CORE_SCHEMA)
    for name, man in commits:
        if name not in names or not _data_bearing(man):
            continue
        for c, t in _commit_schema(man):
            if c in _CORE_COLS:
                continue  # core dtypes are layout-defined, not unioned
            if c in out:
                if out[c] != t:
                    raise ValueError(
                        f"column {c!r} committed as both {out[c]} and "
                        f"{t} in one layout — widen-only evolution "
                        "adds columns, never retypes them"
                    )
            else:
                out[c] = t
    return out


def _check_widen_only(
    new_docs: DataFrame,
    commits: list[tuple[str, dict]],
    live: set[str],
    caller: str,
) -> tuple[str, ...]:
    """Enforce the widen-only contract on an incoming batch and
    return its extra (non-core) columns in layout order — standing
    extras first, genuinely new columns appended. Raises when the
    batch drops a standing column (the schema fork), retypes one, or
    carries a reserved layout name."""
    have = dict(new_docs.dtypes)
    bad = sorted(_MINTED_COLS & set(have))
    if bad:
        raise ValueError(
            f"{caller}: batch carries reserved layout column(s) "
            f"{bad} — the rank mints them"
        )
    std = _standing_schema(commits, live)
    missing = [
        c for c in std if c not in _MINTED_COLS and c not in have
    ]
    if missing:
        raise ValueError(
            f"{caller}: batch drops standing column(s) {missing} — "
            "the shard layout widens only; carry every standing "
            "column (null-filled when unknown)"
        )
    for c, t in std.items():
        if c in _MINTED_COLS or c in ("doc_id", "lang", "text"):
            continue
        if have[c] != t:
            raise ValueError(
                f"{caller}: batch retypes standing column {c!r} "
                f"({t} -> {have[c]}) — widen-only evolution adds "
                "columns, never retypes them"
            )
    extras = [c for c in std if c not in _CORE_COLS]
    extras += [
        c
        for c in new_docs.columns
        if c not in std and c not in ("doc_id", "lang", "text")
    ]
    return tuple(extras)


def _tombstone_ids_seq(
    spark: SparkSession, out_dir: str, tomb: dict[str, int]
) -> DataFrame:
    """One (doc_id, del_seq) row per tombstoned id, del_seq = the
    HIGHEST delete seq that names the id (two deletes of the same id
    union to the later scope). ONE scan over every live tombstone
    file: the per-file seq attaches through the same file-count-
    bounded file->seq broadcast map the data side uses (_masked_view)
    — the plan is O(1) in the number of delete commits. (The round-12
    shape unioned one DataFrame per delete seq, so a CDC feed's plan
    grew linearly with deletes since compaction.)"""
    import os

    fmap = spark.createDataFrame(
        sorted(tomb.items()), "trel: string, del_seq: long"
    )
    rel = F.regexp_extract(
        F.col("_metadata.file_path"), r"(_tombstones/[^/]+/[^/]+)$", 1
    )
    return (
        spark.read.schema("doc_id bigint")
        .parquet(*[os.path.join(out_dir, f) for f in sorted(tomb)])
        .withColumn("_trel", rel)
        .join(F.broadcast(fmap), F.col("_trel") == F.col("trel"))
        .groupBy("doc_id")
        .agg(F.max("del_seq").alias("del_seq"))
    )


# Broadcast cap for the tombstone anti-join side. Tombstone files are
# tiny id lists, so the hint is right in the common case — but a CDC
# feed deleting many ids between compactions can make the tombstoned
# set arbitrarily large, and an unconditional broadcast would OOM the
# driver. Above the cap the hint is dropped and AQE picks the join
# strategy from runtime sizes (the masked-read ANSWER is identical
# either way; only the plan shape changes).
_TOMBSTONE_BROADCAST_MAX_BYTES = 64 << 20


def _tombstone_bytes(out_dir: str, tomb: dict[str, int]) -> int:
    """Total on-disk bytes of the live tombstone files — the driver-
    side proxy that gates the broadcast hint (file sizes are already
    local metadata; no Spark job)."""
    import os

    total = 0
    for f in tomb:
        try:
            total += os.path.getsize(os.path.join(out_dir, f))
        except OSError:  # racing vacuum/compaction: size unknowable —
            return _TOMBSTONE_BROADCAST_MAX_BYTES + 1  # be conservative
    return total


def _masked_view(
    spark: SparkSession,
    out_dir: str,
    data: dict[str, int],
    tomb: dict[str, int],
    schema: dict[str, str],
    tomb_df: DataFrame | None = None,
) -> DataFrame:
    """The data files' rows minus SEQ-SCOPED tombstones: a tombstone
    at seq S masks a row iff the row's data commit has seq
    STRICTLY < S — for distinct commits (seqs unique) that is
    last-writer-wins at-or-below masking, the Delta/Iceberg delete
    semantics (public); for a MERGE commit, whose tombstones and new
    rows share ONE seq, the strictness is what exempts the commit's
    own rows. Consequences the id-global anti-join of round 11 got
    wrong: a re-add of a deleted id under a LATER commit is visible
    immediately, and maintenance (which materializes every tombstone
    it saw and re-mints survivors under its own seq) provably never
    changes the committed view, whenever it runs.

    Plumbing: each row's data seq comes from a file-count-bounded
    broadcast join on the scan's ``_metadata.file_path`` (per-FILE
    metadata — no per-row state is written anywhere); tombstones
    reduce to one (doc_id, max del_seq) row per id, broadcast only
    while the tombstone files stay under
    _TOMBSTONE_BROADCAST_MAX_BYTES (above it AQE picks the join —
    see the constant's comment); the anti-join condition is id
    equality AND del_seq > data_seq. The no-tombstone fast path is
    the plain committed scan, unchanged. ``schema`` is the layout's
    standing schema (see _read_files_df)."""
    df = _read_files_df(spark, out_dir, sorted(data), schema)
    if not tomb and tomb_df is None:
        return df
    cols = df.columns
    fmap = spark.createDataFrame(
        sorted(data.items()), "rel: string, data_seq: long"
    )
    rel = F.regexp_extract(
        F.col("_metadata.file_path"), r"(shard=[^/]+/[^/]+)$", 1
    )
    left = (
        df.withColumn("_rel", rel)
        .join(F.broadcast(fmap), F.col("_rel") == F.col("rel"))
        .drop("rel", "_rel")
        .alias("l")
    )
    tdf = (
        tomb_df
        if tomb_df is not None
        else _tombstone_ids_seq(spark, out_dir, tomb)
    )
    if _tombstone_bytes(out_dir, tomb) <= _TOMBSTONE_BROADCAST_MAX_BYTES:
        tdf = F.broadcast(tdf)
    tdf = tdf.alias("t")
    return left.join(
        tdf,
        (F.col("l.doc_id") == F.col("t.doc_id"))
        & (F.col("t.del_seq") > F.col("l.data_seq")),
        "left_anti",
    ).select(*cols)


def committed_files(out_dir: str) -> list[str] | None:
    """Union of every LIVE commit's file list, or None when the layout
    has no log (plain write_shards/append_shards layout — all files
    are implicitly committed). A commit named in another commit's
    ``replaces`` list is superseded (compaction/reshard rewrote its
    rows): its data files drop out of the committed view, but its json
    stays on disk forever — it is the replay fence that keeps a
    redelivered batch_id a no-op even after its rows were compacted
    away."""
    commits = _read_commits(out_dir)
    if commits is None:
        return None
    return _live_files_from(commits)


def _read_files_df(
    spark: SparkSession,
    out_dir: str,
    files: list[str],
    schema: dict[str, str],
) -> DataFrame:
    """Scan exactly ``files`` (relative to ``out_dir``) under
    ``schema``, the col -> dtype map _standing_schema takes from the
    log, keeping the shard partition column via basePath. The data
    columns keep the order the writers lay them out in and the shard
    column comes last, as an inferred read would order them. Because
    the schema is given, planning the scan reads no parquet footer
    (an inference job per read otherwise), and files predating a
    widened column return null for it."""
    import os

    if not files:
        raise ValueError(f"commit log at {out_dir} references no files")
    cols = [(c, t) for c, t in schema.items() if c != "shard"]
    ddl = ", ".join(
        "`{}` {}".format(c.replace("`", "``"), t)
        for c, t in [*cols, ("shard", schema["shard"])]
    )
    return (
        spark.read.schema(ddl)
        .option("basePath", out_dir)
        .parquet(*[os.path.join(out_dir, f) for f in files])
    )


def read_committed(spark: SparkSession, out_dir: str) -> DataFrame:
    """The layout as the log defines it: only committed data files,
    minus rows a live delete commit tombstones (merge-on-read — the
    lakehouse DELETE pattern: tombstones are tiny id files, the
    anti-join broadcasts them seq-scoped so a later re-add wins, and
    compaction/reshard MATERIALIZE them so the debt never
    accumulates). Falls back to the plain directory read when no log
    exists."""
    commits = _read_commits(out_dir)
    if commits is None:
        return spark.read.parquet(out_dir)
    live = set(_live_names_from(commits))
    data, tomb, _ = _seq_split(commits, live)
    return _masked_view(
        spark, out_dir, data, tomb, _standing_schema(commits, live)
    )


def _stage_write(ranked: DataFrame, out_dir: str) -> list[str]:
    """Write a batch's partition files into an underscore-hidden
    staging dir, then rename them into the final ``shard=*`` dirs
    driver-side (same-filesystem metadata ops, one per file) and
    return exactly the relative paths THIS writer created. Positive
    attribution is what makes the commit protocol safe under
    concurrent writers: the old before/after directory diff would
    claim a neighbour's simultaneously-landing files for this commit
    (double-counting their rows once both commits publish). Staging +
    rename is the FileStreamSink / lakehouse write pattern (public).
    Hadoop ``.crc`` sidecars move with their data files; a crash
    mid-move leaves an ``_staging-*`` dir readers never see (removed
    by vacuum_uncommitted) plus at worst already-moved files no
    commit references — ordinary vacuumable orphans."""
    import glob
    import os
    import shutil
    import uuid

    stage = os.path.join(out_dir, f"_staging-{uuid.uuid4().hex[:12]}")
    try:
        (
            ranked.write.mode("overwrite")
            .partitionBy("shard")
            .parquet(stage)
        )
        moved: list[str] = []
        for src in sorted(
            glob.glob(os.path.join(stage, "shard=*", "*.parquet"))
        ):
            shard_dir = os.path.basename(os.path.dirname(src))
            dst_dir = os.path.join(out_dir, shard_dir)
            os.makedirs(dst_dir, exist_ok=True)
            base = os.path.basename(src)
            if os.path.exists(os.path.join(dst_dir, base)):
                # task-UUID part names never collide in practice;
                # disambiguate defensively anyway
                base = f"{uuid.uuid4().hex[:8]}-{base}"
            os.rename(src, os.path.join(dst_dir, base))
            crc = os.path.join(
                os.path.dirname(src), f".{os.path.basename(src)}.crc"
            )
            if os.path.exists(crc):
                os.rename(crc, os.path.join(dst_dir, f".{base}.crc"))
            moved.append(f"{shard_dir}/{base}")
        return sorted(moved)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def _file_stats(out_dir: str, rels: list[str]) -> dict[str, list[int]]:
    """Per-file ``[min_doc_id, max_doc_id, n_rows]`` from the parquet
    FOOTERS of freshly written data files — driver-side pyarrow
    metadata reads (file-count-bounded, zero Spark jobs, the bytes
    are page-cache-hot right after the write). Recorded in the commit
    manifest so committed reads can skip whole files whose id range
    is disjoint from a query predicate (the lakehouse data-skipping
    pattern, public: Delta/Iceberg per-file column stats). Files
    whose footer lacks doc_id statistics are simply omitted — an
    absent entry means "never prune this file"."""
    import os

    import pyarrow.parquet as _pq

    out: dict[str, list[int]] = {}
    for rel in rels:
        try:
            md = _pq.ParquetFile(os.path.join(out_dir, rel)).metadata
            idx = md.schema.names.index("doc_id")
            lo: int | None = None
            hi: int | None = None
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(idx).statistics
                if st is None or not st.has_min_max:
                    lo = hi = None
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            if lo is None or hi is None:
                continue
            out[rel] = [int(lo), int(hi), int(md.num_rows)]
        except Exception:  # noqa: BLE001 — stats are an optimization;
            continue  # a file without them is read, never mis-pruned
    return out


def read_committed_pruned(
    spark: SparkSession,
    out_dir: str,
    doc_id_min: int | None = None,
    doc_id_max: int | None = None,
) -> DataFrame:
    """File-skipping committed read: drop every data file whose
    commit-recorded ``[min, max]`` doc_id range is DISJOINT from the
    query range before the scan, then run the ordinary seq-scoped
    masked view over the survivors and apply the predicate verbatim
    as the residual — pruning can only under-prune, never change the
    answer (files from commits without stats are always read).

    Where this pays: the shard layout hashes ids across files, so a
    FULL export's per-file ranges span the corpus and nothing prunes
    — but incremental ingest (CDC feeds, streaming appends) commits
    each batch's files separately, and id/time-correlated batches
    give every file a TIGHT range: a "recent ids" read then opens
    only the recent commits' files. At 100 TB that is the difference
    between scanning a day and scanning a decade — and it composes
    with tombstone masking because pruning only removes rows the
    residual predicate discards anyway."""
    commits = _read_commits(out_dir)
    if commits is None:
        df = spark.read.parquet(out_dir)
        if doc_id_min is not None:
            df = df.filter(F.col("doc_id") >= doc_id_min)
        if doc_id_max is not None:
            df = df.filter(F.col("doc_id") <= doc_id_max)
        return df
    live = set(_live_names_from(commits))
    data, tomb, _ = _seq_split(commits, live)
    stats: dict[str, list[int]] = {}
    for name, man in commits:
        if name in live:
            stats.update(man.get("stats", {}))

    def _keep(rel: str) -> bool:
        st = stats.get(rel)
        if st is None:
            return True  # no stats recorded: never mis-prune
        lo, hi = st[0], st[1]
        if doc_id_min is not None and hi < doc_id_min:
            return False
        if doc_id_max is not None and lo > doc_id_max:
            return False
        return True

    kept = {f: s for f, s in data.items() if _keep(f)}
    if not kept:
        # every file pruned: a scan needs a path, so keep one file;
        # the residual predicate empties it
        first = sorted(data)[0]
        kept = {first: data[first]}
    df = _masked_view(
        spark, out_dir, kept, tomb, _standing_schema(commits, live)
    )
    if doc_id_min is not None:
        df = df.filter(F.col("doc_id") >= doc_id_min)
    if doc_id_max is not None:
        df = df.filter(F.col("doc_id") <= doc_id_max)
    return df


def _unlink_staged(out_dir: str, rels: list[str]) -> None:
    """Best-effort removal of files THIS writer staged for a commit
    attempt that lost a non-commuting race: they are positively
    attributed (returned by _stage_write to this caller alone) and
    provably unreferenced (the publish failed), so reclaiming them
    immediately — instead of leaving up to max_attempts orphan file
    sets for a grace-window-delayed vacuum — is always safe. The
    Hadoop ``.crc`` sidecars go with them."""
    import os

    for rel in rels:
        p = os.path.join(out_dir, rel)
        d, base = os.path.split(p)
        for path in (p, os.path.join(d, f".{base}.crc")):
            try:
                os.unlink(path)
            except OSError:
                pass


def log_history(out_dir: str) -> list[dict]:
    """The log's commit timeline, seq-ascending: one dict per commit
    with name, seq, n_files, and whether it is still live. The seq
    axis is what read_snapshot travels on."""
    commits = _read_commits(out_dir)
    if commits is None:
        raise ValueError(f"no commit log at {out_dir}")
    replaced: set[str] = set()
    for _, man in commits:
        replaced.update(man.get("replaces", ()))
    return sorted(
        (
            {
                "seq": man.get("seq", 0),
                "name": name,
                "n_files": len(man["files"]),
                "live": name not in replaced,
            }
            for name, man in commits
        ),
        key=lambda r: (r["seq"], r["name"]),
    )


def snapshot_files(out_dir: str, as_of_seq: int) -> list[str]:
    """The committed file list AS OF commit seq ``as_of_seq``: only
    commits with seq <= as_of_seq participate, and only THEIR
    "replaces" lists apply (a later compaction does not rewrite
    history — time travel sees the pre-compaction files). Raises when
    a referenced file was already vacuumed: snapshots are valid until
    vacuum_uncommitted reclaims superseded files, exactly the
    retention contract of the lakehouse formats this layer mirrors."""
    import os

    commits = _read_commits(out_dir)
    if commits is None:
        raise ValueError(f"no commit log at {out_dir}")
    window = [
        (name, man)
        for name, man in commits
        if man.get("seq", 0) <= as_of_seq
    ]
    if not window:
        raise ValueError(
            f"no commits at or before seq {as_of_seq} in {out_dir}"
        )
    replaced: set[str] = set()
    for _, man in window:
        replaced.update(man.get("replaces", ()))
    files = sorted(
        {
            f
            for name, man in window
            if name not in replaced
            for f in man["files"]
        }
    )
    gone = [f for f in files if not os.path.exists(os.path.join(out_dir, f))]
    if gone:
        raise ValueError(
            f"snapshot seq {as_of_seq} references {len(gone)} vacuumed "
            f"file(s) (e.g. {gone[0]}) — history before the last "
            "compaction is only readable until vacuum_uncommitted runs"
        )
    return files


def read_snapshot(
    spark: SparkSession, out_dir: str, as_of_seq: int
) -> DataFrame:
    """Time-travel read: the layout exactly as committed readers saw
    it at commit seq ``as_of_seq`` (see snapshot_files) — including
    delete semantics: only tombstones committed AT OR BEFORE the
    snapshot seq apply, so a pre-delete snapshot still shows the
    deleted rows (until vacuum reclaims history, at which point the
    read fails loudly) and a re-add after the delete wins within the
    window (seq-scoped masking, same rule as read_committed)."""
    snapshot_files(out_dir, as_of_seq)  # window + vacuum guard
    commits = _read_commits(out_dir) or []
    live = _window_live_names(commits, as_of_seq)
    data, tomb, _ = _seq_split(commits, live)
    return _masked_view(
        spark, out_dir, data, tomb, _standing_schema(commits, live)
    )


def _window_live_names(
    commits: list[tuple[str, dict]], as_of_seq: int
) -> set[str]:
    """Live commit names within the seq window (the same rule
    snapshot_files applies: only the window's own replaces lists)."""
    window = [
        (name, man)
        for name, man in commits
        if man.get("seq", 0) <= as_of_seq
    ]
    replaced: set[str] = set()
    for _, man in window:
        replaced.update(man.get("replaces", ()))
    return {name for name, _ in window if name not in replaced}


def append_shards_tx(
    spark: SparkSession,
    out_dir: str,
    new_docs: DataFrame,
    batch_id: int,
    n_shards: int | None = None,
) -> bool:
    """Exactly-once (for readers) shard append, fenced by the commit
    log: a batch_id whose commit exists is a replay and returns False
    without touching disk; otherwise the batch's rows are ranked
    against the COMMITTED standing state (orphans from a prior crash
    can't shift pos), stage-written as new partition files, and
    published at the next seq via the put-if-absent protocol
    (_publish_commit) — safe under concurrent writers: a racing
    append or reshard makes this writer re-rank and retry, a racing
    compaction commutes, and a racing twin of the SAME batch_id turns
    this call into the replay no-op. This is the foreachBatch sink
    contract — Structured Streaming redelivers a failed micro-batch
    under the same batch_id, and this function makes that redelivery
    a no-op."""
    import os

    _require_local_path(out_dir, "append_shards_tx")
    if not os.path.isdir(_commits_dir(out_dir)):
        raise ValueError(
            f"no commit log at {out_dir}; call init_commit_log after "
            "the base export (plain append_shards does not fence)"
        )
    legacy = f"{int(batch_id):020d}"
    label = f"b{legacy}"
    # replay fence: the snapshot the ranking read needs anyway already
    # holds every manifest — no extra I/O (legacy pre-label commits
    # are fenced by their file name)
    commits = _read_commits(out_dir) or []
    if any(
        m.get("label") == label
        # pre-label commits were named by batch_id directly; new
        # commits are named by seq, so the name fence only applies
        # to manifests without a label field
        or ("label" not in m and n == legacy)
        for n, m in commits
    ):
        return False
    _, name = _append_committed(
        spark, out_dir, new_docs, n_shards, label, "append_shards_tx"
    )
    return name is not None


def delete_docs_tx(
    spark: SparkSession,
    out_dir: str,
    doc_ids: DataFrame,
    batch_id: int,
) -> bool:
    """Exactly-once logged DELETE — merge-on-read tombstones, the
    lakehouse pattern reduced to this layout (and the operation a
    training-corpus store actually needs: right-to-be-forgotten /
    contamination removal without rewriting 100 TB). The id set is
    written as a tiny tombstone parquet under ``_tombstones/`` and
    published as a ``delete`` commit; committed readers anti-join the
    (broadcast) tombstone ids SEQ-SCOPED — the tombstone masks only
    rows from data commits at or below its own seq, so a later
    re-add of the same id wins immediately (last-writer-wins, the
    Delta/Iceberg delete semantics every CDC consumer expects) —
    and standing data files are NEVER rewritten at delete time; the
    next compaction or reshard MATERIALIZES the deletes and
    supersedes the tombstone commits, so the read-side debt never
    accumulates and the committed view is provably invariant under
    maintenance timing. A deleted (not re-added) row's (shard, pos)
    slot stays vacant forever — compaction carries a per-shard
    position high-water mark so later appends never re-mint a
    deleted row's pos under a loader's resume cursor. Time travel
    honors the seq window: a pre-delete snapshot still shows the
    rows. Fenced like appends: a redelivered batch_id (or a racing
    twin) is a no-op returning False; from the DELETE's side the
    commit commutes with every concurrent writer (advancing past a
    winner serializes the delete after it — a valid linearization);
    the REVERSE is not symmetric: a compact/reshard that did not see
    this tombstone aborts and recomputes (see _CONFLICTS)."""
    import os
    import uuid

    _require_log(out_dir, "delete_docs_tx")
    label = f"d{int(batch_id):020d}"
    commits = _read_commits(out_dir) or []
    if any(m.get("label") == label for _, m in commits):
        return False
    rel_dir = f"_tombstones/{label}-{uuid.uuid4().hex[:8]}"
    tgt = os.path.join(out_dir, rel_dir)
    (
        doc_ids.select(F.col("doc_id").cast("long").alias("doc_id"))
        .distinct()
        .write.mode("overwrite")
        .parquet(tgt)
    )
    import glob

    files = sorted(
        os.path.relpath(f, out_dir)
        for f in glob.glob(os.path.join(tgt, "*.parquet"))
    )
    name = _publish_commit(out_dir, label, files, snapshot=commits)
    # a losing twin's tombstone dir is an ordinary vacuumable orphan
    return name is not None


def merge_docs_tx(
    spark: SparkSession,
    out_dir: str,
    docs: DataFrame,
    batch_id: int,
    n_shards: int | None = None,
) -> bool:
    """Atomic logged UPSERT — the lakehouse MERGE reduced to this
    layout's id-keyed semantics: every incoming (doc_id, lang, text)
    row replaces any standing row with the same doc_id, and rows
    with fresh ids insert; batches with duplicate ids are
    deduplicated to one row per id. ONE commit carries both halves —
    the tombstone id file (all incoming ids; a tombstone for an
    absent id is a no-op) and the freshly ranked data files — so no
    reader can ever observe the delete without the re-insert: the
    two-commit window the CDC demo's del+add pair leaves open is
    closed, and a redelivered batch_id re-fences BOTH halves with
    one label (``m<batch>``). The masking rule makes one-commit
    upsert sound: a tombstone masks data STRICTLY below its seq, so
    the merge's own rows (same seq) are exempt while every older
    version of the upserted ids is hidden (see _masked_view).
    Conflict behavior matches an append (pos is minted, so racing
    appends/merges re-rank and retry; compactions and deletes
    commute — the tombstones stay correctly scoped wherever the
    commit finally lands, because they are published AT the data's
    own seq). Upserted-away rows' (shard, pos) slots stay vacant
    like deleted rows'; the next compaction materializes the
    tombstones. Returns False for a replayed batch_id or a losing
    twin."""
    import glob
    import os
    import uuid

    _require_log(out_dir, "merge_docs_tx")
    label = f"m{int(batch_id):020d}"
    commits0 = _read_commits(out_dir) or []
    if any(m.get("label") == label for _, m in commits0):
        return False
    extras0 = _check_widen_only(
        docs, commits0, set(_live_names_from(commits0)), "merge_docs_tx"
    )
    batch = (
        docs.select("doc_id", "lang", "text", *extras0)
        .dropDuplicates(["doc_id"])
        .localCheckpoint(eager=True)
    )
    # the tombstone id file is seq-independent — stage it once,
    # outside the rank/publish retry loop
    rel_dir = f"_tombstones/{label}-{uuid.uuid4().hex[:8]}"
    tgt = os.path.join(out_dir, rel_dir)
    (
        batch.select(F.col("doc_id").cast("long").alias("doc_id"))
        .write.mode("overwrite")
        .parquet(tgt)
    )
    tomb_files = sorted(
        os.path.relpath(f, out_dir)
        for f in glob.glob(os.path.join(tgt, "*.parquet"))
    )
    last: CommitConflict | None = None
    for _ in range(5):
        n = _check_layout_n(out_dir, n_shards, "merge_docs_tx")
        commits = _read_commits(out_dir) or []
        # re-fence each attempt: a racing append may have widened the
        # layout since the batch was staged — then this batch now
        # drops a standing column and must fail loudly, not fork
        live = set(_live_names_from(commits))
        extras = _check_widen_only(batch, commits, live, "merge_docs_tx")
        data, _, hwm = _split_files(commits, live)
        ranked = _ranked_batch(
            _read_files_df(
                spark, out_dir, data, _standing_schema(commits, live)
            ),
            batch, n, pos_hwm=hwm, extras=extras,
        )
        new_files = _stage_write(ranked, out_dir)
        try:
            name = _publish_commit(
                out_dir,
                label,
                sorted(new_files + tomb_files),
                snapshot=commits,
                schema=ranked.dtypes,
                stats=_file_stats(out_dir, new_files),
            )
        except CommitConflict as e:
            last = e
            _unlink_staged(out_dir, new_files)
            continue
        return name is not None
    # every attempt lost a non-commuting race: the staged tombstone
    # dir is this writer's alone and no commit references it — remove
    # it now rather than leaving it to a grace-delayed vacuum
    import shutil

    shutil.rmtree(tgt, ignore_errors=True)
    raise last  # type: ignore[misc]


def _snapshot_files_no_check(
    commits: list[tuple[str, dict]], as_of_seq: int
) -> set[str]:
    """snapshot_files' file-set computation without the on-disk
    existence check — used by vacuum's retention math, where missing
    files are precisely what is being decided."""
    window = [
        (name, man)
        for name, man in commits
        if man.get("seq", 0) <= as_of_seq
    ]
    replaced: set[str] = set()
    for _, man in window:
        replaced.update(man.get("replaces", ()))
    return {
        f
        for name, man in window
        if name not in replaced
        for f in man["files"]
    }


def vacuum_uncommitted(
    out_dir: str,
    retain_last: int = 0,
    grace_sec: float = 3600.0,
    ckpt_keep: int = 2,
) -> list[str]:
    """Delete data files the committed view no longer references —
    crash orphans (a data write whose commit never landed) and files
    superseded by compaction/reshard — along with their Hadoop
    ``.crc`` checksum sidecars. Returns the removed data files'
    relative paths; a log-less layout is left untouched.

    ``retain_last=N`` additionally protects every file some snapshot
    within the last N commit seqs still references, so
    ``read_snapshot`` keeps working that far back — the lakehouse
    retention-window contract (Delta's ``VACUUM RETAIN``, reduced to
    commit granularity). The default 0 retains only the live view:
    history becomes unreadable, exactly as documented in
    snapshot_files.

    ``ckpt_keep`` bounds the checkpoint directory: all but the newest
    N checkpoint files under ``_commits/_ckpts/`` are deleted. Safe by
    construction — any checkpoint is a valid read base (the tail
    fill-in is membership-based, export._read_commits) and a reader
    that globbed a checkpoint this vacuum just removed falls back to
    the next older one (or the full parse). Without the bound each
    checkpoint is a FULL log snapshot rolled every
    _CHECKPOINT_EVERY commits, so cumulative checkpoint bytes grow
    quadratically over a streaming layout's life. 0 keeps every
    checkpoint (the pre-retention behavior).

    ``grace_sec`` protects RECENT unreferenced files: a concurrent
    writer that has renamed its staged files into ``shard=*/`` (or
    written its tombstone parquet) but not yet published its commit
    looks exactly like a crash orphan — deleting those files would
    land the about-to-publish commit pointing at nothing. Files
    younger than the grace window are therefore skipped (Delta's
    VACUUM retention, applied to data files the way the staging-dir
    sweep below always applied it to staging dirs). Pass 0.0 only
    when writers are provably quiescent (single-writer demos,
    tests)."""
    import os
    import time as _time

    committed = committed_files(out_dir)
    if committed is None:
        return []
    protected = set(committed)
    if retain_last > 0:
        commits = _read_commits(out_dir) or []
        seqs = sorted({man.get("seq", 0) for _, man in commits})
        for s in seqs[-(retain_last + 1):]:
            protected |= _snapshot_files_no_check(commits, s)
    import glob as _glob

    on_disk_tombs = {
        os.path.relpath(f, out_dir)
        for f in _glob.glob(
            os.path.join(out_dir, "_tombstones", "*", "*.parquet")
        )
    }
    now = _time.time()
    candidates = sorted(
        (set(_data_files(out_dir)) | on_disk_tombs) - protected
    )
    orphans: list[str] = []
    for rel in candidates:
        try:
            if now - os.path.getmtime(os.path.join(out_dir, rel)) < (
                grace_sec
            ):
                continue  # possibly a live writer's pre-publish file
        except OSError:
            continue
        orphans.append(rel)
    for rel in orphans:
        os.remove(os.path.join(out_dir, rel))
        d, base = os.path.split(os.path.join(out_dir, rel))
        crc = os.path.join(d, f".{base}.crc")
        if os.path.exists(crc):
            os.remove(crc)
    # prune emptied per-delete tombstone dirs (only Spark control
    # files — _SUCCESS, .crc sidecars — remain once every parquet in
    # the dir was reclaimed)
    import shutil as _shutil

    for d in _glob.glob(os.path.join(out_dir, "_tombstones", "*")):
        if not _glob.glob(os.path.join(d, "*.parquet")):
            _shutil.rmtree(d, ignore_errors=True)
    # staging dirs a crashed writer left mid-move are invisible to
    # readers (underscore-prefixed) but still hold disk — sweep the
    # stale ones only (an hour-old threshold so a LIVE concurrent
    # writer's in-flight staging dir is never yanked from under it;
    # same reasoning as Delta's vacuum retention, reduced to staging)
    import glob
    import shutil
    import time

    for d in glob.glob(os.path.join(out_dir, "_staging-*")):
        try:
            stale = time.time() - os.path.getmtime(d) > 3600
        except OSError:
            continue
        if stale:
            shutil.rmtree(d, ignore_errors=True)
    # checkpoint retention (see docstring): newest ckpt_keep stay
    if ckpt_keep > 0:
        cks = sorted(_glob.glob(os.path.join(_ckpt_dir(out_dir), "*.json")))
        for ck in cks[:-ckpt_keep]:
            try:
                os.remove(ck)
            except OSError:
                pass
    return orphans


# --------------------- compaction + reshard (layout maintenance)
#
# A streaming-appended layout accumulates one small file per shard per
# micro-batch — the classic lakehouse small-file problem (at 100 TB a
# loader opening a shard would touch thousands of row groups, and the
# driver's file listing grows without bound). compact_shards is the
# OPTIMIZE analog: rewrite each shard's committed rows into ONE
# pos-sorted file and swap atomically through the log — a format-2
# commit whose "replaces" list supersedes every prior commit, so the
# swap is a single os.replace; a crash before it leaves only
# vacuumable orphans, never a double-counted row. reshard_double is
# the scale-out analog: because membership is H(id) mod N, doubling N
# REFINES the hash classes (h mod 2N determines h mod N), so every new
# shard inherits from exactly one old shard — order carries over by
# old pos and the operation is shard-local (at 100 TB it can run one
# old shard at a time, each partition-pruned); contrast mod 3N, where
# every row's membership is re-drawn and the whole corpus re-shuffles.


def _live_commit_names(out_dir: str) -> list[str]:
    return _live_names_from(_read_commits(out_dir) or [])


def _require_log(out_dir: str, caller: str) -> None:
    import os

    _require_local_path(out_dir, caller)
    if not os.path.isdir(_commits_dir(out_dir)):
        raise ValueError(
            f"no commit log at {out_dir}; {caller} swaps the layout "
            "through the log — call init_commit_log first"
        )


def _log_n_shards(out_dir: str) -> int | None:
    """The shard count recorded by the live maintenance commit
    (reshard, or a compaction carrying it forward), or None when no
    live commit carries one (layout manifest is authoritative). More
    than one live n_shards-bearing commit means a corrupted log
    (every maintenance commit replaces all its predecessors)."""
    commits = _read_commits(out_dir) or []
    live = set(_live_commit_names(out_dir))
    ns = [
        man["n_shards"]
        for name, man in commits
        if name in live and "n_shards" in man
    ]
    if len(ns) > 1:
        raise ValueError(
            f"commit log at {out_dir} holds {len(ns)} live reshard "
            "commits — corrupted log"
        )
    return int(ns[0]) if ns else None


def repair_layout(out_dir: str) -> int:
    """Recover from a crash between a reshard's commit and its layout-
    manifest swap: rewrite _layout.json from the live reshard commit's
    n_shards. Idempotent; returns the (possibly unchanged) shard
    count."""
    _require_log(out_dir, "repair_layout")
    n = _log_n_shards(out_dir)
    if n is None:
        return read_layout_manifest(out_dir)["n_shards"]
    if read_layout_manifest(out_dir)["n_shards"] != n:
        _write_layout_manifest(out_dir, n)
    return n


def compact_shards(
    spark: SparkSession, out_dir: str, max_attempts: int = 3
) -> dict:
    """Rewrite the committed layout into one pos-sorted file per shard
    and commit the swap atomically (format-2 "replaces" commit). The
    superseded files become vacuumable orphans; the superseded commit
    JSONS stay — they remain the batch_id replay fence. Readers see
    either the old committed view or the new one, never a mixture.

    Starts by healing any interrupted reshard swap (repair_layout) so
    the compaction can never canonize a stale manifest count, and
    carries the layout's n_shards forward in its own commit — the
    repair information survives even though this commit supersedes
    the reshard commit that first recorded it. Published through the
    put-if-absent protocol: a concurrent append commutes (its rows
    are untouched, its commit stays live); a concurrent compaction or
    reshard makes this writer abandon its staged files (vacuumable)
    and recompute from a fresh snapshot.

    One shuffle (repartition on shard), driver never holds rows.
    Returns {"files_before", "files_after", "replaced_commits",
    "reclaimable"}; pos, membership, and the manifest checksums are
    invariant by construction (the rows are copied, not recomputed) —
    pinned by tests/test_export.py."""
    _require_log(out_dir, "compact_shards")
    n_shards = repair_layout(out_dir)
    last: CommitConflict | None = None
    for _ in range(max_attempts):
        commits = _read_commits(out_dir) or []
        live_before = _live_names_from(commits)
        files_before = _live_files_from(commits)
        data, tomb, hwm = _seq_split(commits, set(live_before))
        if not data:
            raise ValueError(f"nothing committed to compact at {out_dir}")
        # compaction rewrites the UNION schema (standing extras
        # included, old rows null-filled) and records it — after one
        # compaction the layout's files agree again
        sch = _standing_schema(commits, set(live_before))
        cols = list(sch)
        # the position high-water mark is taken over the DATA view
        # (soft-deleted rows included) BEFORE the tombstones are
        # materialized away, and carried in the commit so appends
        # stay monotone after the deleted tail rows are gone —
        # n_shards-bounded driver read
        new_hwm = dict(hwm)
        shard_max = (
            _read_files_df(spark, out_dir, sorted(data), sch)
            .groupBy("shard")
            .agg(F.max("pos").alias("mx"))
            .collect()  # driver-bounded(n_shards): commit metadata
        )
        for r in shard_max:
            s = int(r["shard"])
            new_hwm[s] = max(new_hwm.get(s, 0), int(r["mx"]))
        # materialize exactly the seq-scoped deletes (a re-added row
        # with data seq above its tombstone's seq SURVIVES — the
        # committed view is invariant under compaction timing); any
        # delete landing after this snapshot conflicts (see
        # _CONFLICTS) and forces a recompute
        src = _masked_view(spark, out_dir, data, tomb, sch).select(*cols)
        new_files = _stage_write(
            src.repartition(n_shards, "shard")
            .sortWithinPartitions("shard", "pos"),
            out_dir,
        )
        try:
            _publish_commit(
                out_dir,
                "compact",
                new_files,
                snapshot=commits,
                replaces=live_before,
                n_shards=n_shards,
                pos_hwm=new_hwm,
                schema=[(c, sch[c]) for c in cols],
                stats=_file_stats(out_dir, new_files),
            )
        except CommitConflict as e:
            last = e
            _unlink_staged(out_dir, new_files)
            continue
        return {
            "files_before": len(files_before),
            "files_after": len(new_files),
            "replaced_commits": live_before,
            "reclaimable": sorted(set(files_before) - set(new_files)),
        }
    raise last  # type: ignore[misc]


def _resharded(src: DataFrame, new_n: int) -> DataFrame:
    """shard' = H mod 2N with order carried over by old pos. Old pos
    is unique within the old shard, hence within each new shard (one
    parent each) — the rank is deterministic. Every non-layout column
    (core data + widened extras) carries over unchanged."""
    carried = [c for c in src.columns if c not in ("shard", "pos")]
    wr = W.partitionBy("shard2").orderBy("pos")
    return (
        src.withColumn(
            "shard2", F.pmod(F.col("h1"), F.lit(new_n)).cast("int")
        )
        .withColumn("pos2", F.row_number().over(wr))
        .select(
            F.col("shard2").alias("shard"),
            F.col("pos2").alias("pos"),
            *carried,
        )
    )


def reshard_double(
    spark: SparkSession,
    out_dir: str,
    incremental: bool = False,
    max_attempts: int = 3,
) -> dict:
    """Double the layout's shard count in place: shard' = H mod 2N.
    Power-of-two growth is the only growth that SPLITS shards instead
    of re-drawing membership — h mod 2N lands in {m, m+N} for old
    shard m = h mod N, so each new shard reads exactly one old shard
    and per-shard order carries over (new pos = rank by old pos).

    Two execution modes, identical results (pinned by pytest):
    ``incremental=False`` (default) runs ONE job — a single window
    (partition by new shard, rank by old pos) over the committed
    view, i.e. one full-corpus shuffle; ``incremental=True`` exploits
    the refinement property literally and runs one small job per OLD
    shard — a partition-pruned read of that shard's committed files,
    a shuffle of 1/N of the corpus, an append — so at 100 TB the
    reshard proceeds shard-at-a-time with bounded working set. Both
    modes stage their files and publish ONE commit at the end, so the
    swap stays atomic either way.

    The swap is one format-2 commit (replaces all live commits,
    records the new n_shards) followed by the layout-manifest
    rewrite; a crash between the two is detected by _check_layout_n
    and healed by repair_layout. A concurrent commit of ANY kind
    conflicts with a reshard (put-if-absent protocol): the staged
    files are abandoned (vacuumable) and the reshard recomputes from
    a fresh snapshot. Returns {"n_shards_before", "n_shards_after",
    "files_after"}."""
    _require_log(out_dir, "reshard_double")
    old_n = repair_layout(out_dir)  # heal any interrupted predecessor
    new_n = 2 * old_n
    last: CommitConflict | None = None
    for _ in range(max_attempts):
        commits = _read_commits(out_dir) or []
        live_before = _live_names_from(commits)
        data, tomb, _ = _seq_split(commits, set(live_before))
        if not data:
            raise ValueError(f"nothing committed to reshard at {out_dir}")
        # like compaction: rewrite (and record) the union schema
        sch = _standing_schema(commits, set(live_before))
        cols = list(sch)
        # reshard materializes the seq-scoped deletes (pos is
        # re-minted 1..n per new shard anyway — the permutation is
        # redefined, so no high-water mark survives); the tombstone
        # frame is checkpointed once and reused across the
        # incremental mode's per-old-shard jobs
        tomb_ids = (
            _tombstone_ids_seq(spark, out_dir, tomb).localCheckpoint(
                eager=True
            )
            if tomb
            else None
        )

        def _view(data_subset: dict[str, int]) -> DataFrame:
            return _masked_view(
                spark, out_dir, data_subset, tomb, sch, tomb_df=tomb_ids
            ).select(*cols)

        new_files: list[str] = []
        if incremental:
            for m in range(old_n):
                fm = {
                    f: s
                    for f, s in data.items()
                    if f.startswith(f"shard={m}/")
                }
                if not fm:
                    continue
                new_files.extend(
                    _stage_write(_resharded(_view(fm), new_n), out_dir)
                )
            new_files.sort()
        else:
            new_files = _stage_write(_resharded(_view(data), new_n),
                                     out_dir)
        try:
            _publish_commit(
                out_dir,
                "reshard",
                new_files,
                snapshot=commits,
                replaces=live_before,
                n_shards=new_n,
                schema=[(c, sch[c]) for c in cols],
                stats=_file_stats(out_dir, new_files),
            )
        except CommitConflict as e:
            last = e
            _unlink_staged(out_dir, new_files)
            continue
        _write_layout_manifest(out_dir, new_n)
        return {
            "n_shards_before": old_n,
            "n_shards_after": new_n,
            "files_after": len(new_files),
        }
    raise last  # type: ignore[misc]


def _scratch(spark: SparkSession) -> str | None:
    """Scratch root for declared queries that materialize a layout:
    ``zvdb.export.scratch`` conf key when set, else driver-local temp
    (the local default assumes a single-node / shared filesystem; on a
    multi-node deployment set the conf key to a cluster-visible path —
    the same assumption class as the Spark warehouse dir)."""
    return spark.conf.get("zvdb.export.scratch", None)


@register(
    "q_export_shards",
    oracle=None,  # past the driver cap; DuckDB parity via
    # tests/test_export.py against EXPORT_ORACLE (the logical twin),
    # plus read-back permutation invariants
    tags=("export", "sink", "pipeline"),
)
def q_export_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pseudo-shuffle export: hash-assigned shards,
    hash-ordered rows within each shard (pos materialized), written
    partitioned by shard and manifested from the read-back files.
    Returns one row per shard (shard, n_docs, id_sum,
    order_checksum) — the checksum weights each doc's hash by its
    position, so two exports agree iff the full permutation agrees.

    Scratch location: ``spark.conf`` key ``zvdb.export.scratch`` when
    set, else a driver-local temp dir — the local default assumes a
    single-node / shared filesystem (true for local[*] and NFS-backed
    clusters); on a real multi-node deployment set the conf key to a
    cluster-visible path (the same assumption class as the Spark
    warehouse dir)."""
    import shutil
    import tempfile

    scratch = _scratch(spark)
    out = tempfile.mkdtemp(prefix="zvdb_export_", dir=scratch or None)
    try:
        sharded_export(spark, sf_dir, out)
        return export_manifest(spark, out).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(out, ignore_errors=True)


# --------------------- z-order layout (multi-column pruning)

# Fixed 2-D query box for the declared z-order query: absolute
# constants (not quantiles) so the DuckDB twin below is literal and
# both SFs (sf0.001 user_id 0-14, sf0.01 0-149) keep it non-empty.
ZORDER_BOX = {"user_id": (2, 9), "value": (50.0, 150.0)}

ZORDER_ORACLE = """
SELECT event_type,
       count(*) AS n_events,
       sum(event_id) AS id_sum,
       round(sum(value), 2) AS value_sum
FROM events
WHERE user_id BETWEEN 2 AND 9 AND value BETWEEN 50.0 AND 150.0
GROUP BY event_type
ORDER BY event_type
"""


@register(
    "q_layout_zorder",
    oracle=None,  # past the driver cap; DuckDB parity via
    # tests/test_zorder.py against ZORDER_ORACLE, plus box-decode
    # soundness and measured 2-D file pruning
    tags=("layout", "zorder", "pruning"),
)
def q_layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column pruning layout (operators/zorder.py): events
    written partitioned by the top bits of the Morton interleave of
    (user_id, value), then a 2-D range query served through the
    driver-side prefix decode — ``zbucket IN (...)`` partition
    filter + the exact residual predicate — and aggregated per
    event_type. The answer is pruning-independent by construction
    (the residual predicate is the declared filter verbatim); what
    the layout buys is that the scan LISTS only the buckets whose
    decoded (user, value) box intersects the query box — pruning on
    two columns from one layout, which no single-column partitioning
    gives (tests pin fewer files read than a 1-D layout on the same
    query).

    Scratch location: same contract as q_export_shards
    (``zvdb.export.scratch`` conf key, else driver-local temp)."""
    import shutil
    import tempfile

    from zvdb_spark.operators.zorder import (
        read_zorder_range,
        write_zorder_layout,
    )

    scratch = _scratch(spark)
    out = tempfile.mkdtemp(prefix="zvdb_zorder_", dir=scratch or None)
    try:
        ev = load(spark, sf_dir, "events").select(
            "event_id", "user_id", "value", "event_type"
        )
        write_zorder_layout(
            ev, out, cols=["user_id", "value"], n_buckets=64
        )
        hit = read_zorder_range(spark, out, ZORDER_BOX)
        return (
            hit.groupBy("event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.sum("event_id").alias("id_sum"),
                F.round(F.sum("value"), 2).alias("value_sum"),
            )
            .orderBy("event_type")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _frames_equal(a: DataFrame, b: DataFrame) -> bool:
    """Multiset equality of two (small) frames, computed distributed —
    the queries below assert manifest invariance without ever
    collecting table data to the driver."""
    return (
        a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
    )


@register(
    "q_export_compact",
    oracle=None,  # past the driver cap; invariants asserted inside +
    # tests/test_export.py (manifest invariance, crash/vacuum, replay
    # fence survival)
    tags=("export", "maintenance", "pipeline"),
)
def q_export_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-layout compaction (the lakehouse OPTIMIZE analog): a base
    export absorbs two transactional appends (one small file per shard
    per batch — the small-file problem), then compact_shards rewrites
    each shard's committed rows into ONE pos-sorted file and swaps
    atomically through the commit log. Asserted inside: the committed
    per-shard manifest (membership + full permutation checksum) is
    bit-identical before and after the swap, vacuum reclaims exactly
    the superseded files, and each shard is one file afterwards.
    Returns the post-compaction committed manifest. Rows-only check:
    layout maintenance is not SQL-expressible."""
    import glob
    import os
    import shutil
    import tempfile

    out = tempfile.mkdtemp(prefix="zvdb_compact_", dir=_scratch(spark))
    try:
        docs = load(spark, sf_dir, "documents")
        write_shards(docs.filter(F.col("doc_id") % 3 == 0), out)
        init_commit_log(out)
        core = docs.select("doc_id", "lang", "text")
        append_shards_tx(
            spark, out, core.filter(F.col("doc_id") % 3 == 1), 1
        )
        append_shards_tx(
            spark, out, core.filter(F.col("doc_id") % 3 == 2), 2
        )
        before = committed_manifest(spark, out).localCheckpoint(eager=True)
        stats = compact_shards(spark, out)
        removed = vacuum_uncommitted(out, grace_sec=0.0)  # quiescent demo
        if sorted(removed) != stats["reclaimable"]:
            raise AssertionError(
                f"vacuum removed {removed}, compaction superseded "
                f"{stats['reclaimable']}"
            )
        per_shard = {
            d: len(glob.glob(os.path.join(d, "*.parquet")))
            for d in glob.glob(os.path.join(out, "shard=*"))
        }
        if any(n != 1 for n in per_shard.values()):
            raise AssertionError(
                f"compaction left multi-file shards: {per_shard}"
            )
        after_df = committed_manifest(spark, out).localCheckpoint(
            eager=True
        )
        if not _frames_equal(after_df, before):
            raise AssertionError(
                "compaction changed the committed manifest — the "
                "permutation was not preserved"
            )
        return after_df
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register(
    "q_export_time_travel",
    oracle=None,  # past the driver cap; invariants asserted inside +
    # tests/test_export.py (per-seq snapshot parity, post-vacuum
    # retention error)
    tags=("export", "maintenance", "pipeline"),
)
def q_export_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel reads over the commit log: every commit carries a
    monotone seq, and read_snapshot(seq) reproduces the layout exactly
    as committed readers saw it then — a later compaction does not
    rewrite history (its "replaces" list only applies to snapshots at
    or after its own seq), and history stays readable until vacuum
    reclaims the superseded files (the lakehouse retention contract).
    Asserted inside: the seq-0 snapshot equals the base manifest
    captured before any append, each append's seq adds exactly its
    batch, the latest snapshot equals the committed view across a
    compaction, and a pre-compaction snapshot raises after vacuum.
    Returns the seq-0 snapshot manifest. Rows-only check: log
    maintenance is not SQL-expressible."""
    import shutil
    import tempfile

    out = tempfile.mkdtemp(prefix="zvdb_tt_", dir=_scratch(spark))
    try:
        docs = load(spark, sf_dir, "documents")
        write_shards(docs.filter(F.col("doc_id") % 3 == 0), out)
        init_commit_log(out)
        base = export_manifest(spark, out).localCheckpoint(eager=True)
        n_base = base.agg(F.sum("n_docs")).first()[0]
        core = docs.select("doc_id", "lang", "text")
        b1 = core.filter(F.col("doc_id") % 3 == 1)
        b2 = core.filter(F.col("doc_id") % 3 == 2)
        append_shards_tx(spark, out, b1, 1)
        append_shards_tx(spark, out, b2, 2)
        compact_shards(spark, out)
        hist = log_history(out)
        seqs = [h["seq"] for h in hist]
        if seqs != [0, 1, 2, 3]:
            raise AssertionError(f"unexpected seq timeline: {hist}")
        # materialize now: vacuum below reclaims the files this
        # snapshot reads (that is the point of the final assertion)
        snap0 = _manifest_agg(read_snapshot(spark, out, 0)).localCheckpoint(
            eager=True
        )
        if not _frames_equal(snap0, base):
            raise AssertionError("seq-0 snapshot != base manifest")
        n1 = read_snapshot(spark, out, 1).count()
        if n1 != n_base + b1.count():
            raise AssertionError(
                f"seq-1 snapshot has {n1} rows, want base+batch1"
            )
        latest = _manifest_agg(read_snapshot(spark, out, seqs[-1]))
        if not _frames_equal(latest, committed_manifest(spark, out)):
            raise AssertionError(
                "latest snapshot != committed view across compaction"
            )
        vacuum_uncommitted(out, grace_sec=0.0)  # quiescent demo
        try:
            snapshot_files(out, 1)
        except ValueError:
            pass
        else:
            raise AssertionError(
                "pre-compaction snapshot survived vacuum — retention "
                "contract broken"
            )
        return snap0
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register(
    "q_export_reshard",
    oracle=None,  # past the driver cap; invariants asserted inside +
    # tests/test_export.py (refinement, order carry-over, interrupted-
    # swap repair)
    tags=("export", "maintenance", "pipeline"),
)
def q_export_reshard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two shard-count growth: reshard_double splits every
    shard of a 4-shard layout into two 8-shard children (h mod 8
    refines h mod 4 — membership is never re-drawn, so each new shard
    reads exactly one parent and order carries over by old pos).
    Asserted inside: every row's new shard is H(id) mod 8 and folds
    back to its parent mod 4, per-parent doc counts and id-sums are
    conserved, pos is gapless per new shard, and appends route by the
    NEW count afterwards. Returns the post-reshard committed manifest
    (8 rows). Rows-only check: layout maintenance is not
    SQL-expressible."""
    import shutil
    import tempfile

    out = tempfile.mkdtemp(prefix="zvdb_reshard_", dir=_scratch(spark))
    try:
        docs = load(spark, sf_dir, "documents")
        write_shards(docs, out, n_shards=4)
        init_commit_log(out)
        old = (
            committed_manifest(spark, out)
            .select("shard", "n_docs", "id_sum")
            .localCheckpoint(eager=True)
        )
        stats = reshard_double(spark, out)
        if (stats["n_shards_before"], stats["n_shards_after"]) != (4, 8):
            raise AssertionError(f"unexpected reshard stats: {stats}")
        back = read_committed(spark, out)
        bad = back.filter(
            (F.pmod(F.col("h1"), F.lit(8)) != F.col("shard"))
            | (F.pmod(F.col("shard"), F.lit(4)).cast("long")
               != F.pmod(F.col("h1"), F.lit(4)))
        ).count()
        if bad:
            raise AssertionError(
                f"{bad} rows violate the mod-8-refines-mod-4 invariant"
            )
        child = back.groupBy(
            F.pmod(F.col("shard"), F.lit(4)).cast("long").alias("shard")
        ).agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_id").alias("id_sum"),
        )
        if not _frames_equal(child, old):
            raise AssertionError(
                "per-parent doc counts / id-sums not conserved by the "
                "reshard split"
            )
        # appends must route by the NEW count (the layout manifest was
        # rewritten as the last step of the swap)
        echo = docs.filter(F.col("doc_id") % 97 == 0).select(
            (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
            "lang",
            "text",
        )
        append_shards_tx(spark, out, echo, 1)
        gaps = (
            read_committed(spark, out)
            .groupBy("shard")
            .agg(F.count("*").alias("n"), F.max("pos").alias("mx"))
            .filter(F.col("n") != F.col("mx"))
            .count()
        )
        if gaps:
            raise AssertionError(f"{gaps} shards have pos gaps")
        return committed_manifest(spark, out).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register(
    "q_export_delete",
    oracle=None,  # past the driver cap; invariants asserted inside +
    # tests/test_export.py (tombstone read, materialization, hwm,
    # time travel, vacuum)
    tags=("export", "delete", "maintenance", "pipeline"),
)
def q_export_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logged merge-on-read DELETE over the shard layout
    (delete_docs_tx): a base export plus one transactional append,
    then a tombstone delete of every doc_id divisible by 5, then a
    compaction that MATERIALIZES the deletes. Asserted inside: the
    committed view drops exactly the tombstoned rows without
    rewriting any standing file at delete time; survivors keep their
    (shard, pos) slots; a replayed delete batch is a no-op; a re-add
    of a deleted id under a later commit is visible IMMEDIATELY
    (seq-scoped tombstones — last-writer-wins) and survives the
    compaction unchanged; after compaction no other data file holds
    a deleted id, the tombstone commit is superseded, and a fresh
    append takes positions ABOVE the pre-delete high-water mark (a
    deleted row's pos is never re-minted). Returns the
    post-compaction committed manifest. Rows-only check: log
    maintenance is not SQL-expressible."""
    import glob
    import os
    import shutil
    import tempfile

    out = tempfile.mkdtemp(prefix="zvdb_del_", dir=_scratch(spark))
    try:
        docs = load(spark, sf_dir, "documents")
        write_shards(docs.filter(F.col("doc_id") % 2 == 0), out)
        init_commit_log(out)
        append_shards_tx(
            spark,
            out,
            docs.filter(F.col("doc_id") % 2 == 1).select(
                "doc_id", "lang", "text"
            ),
            1,
        )
        before = read_committed(spark, out)
        n_before = before.count()
        hwm_df = (
            before.groupBy("shard")
            .agg(F.max("pos").alias("hwm"))
            .localCheckpoint(eager=True)
        )
        victims = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id")
        n_victims = victims.count()
        files_at_delete = set(_data_files(out))
        if not delete_docs_tx(spark, out, victims, 2):
            raise AssertionError("first delete reported a replay")
        if delete_docs_tx(spark, out, victims, 2):
            raise AssertionError("replayed delete was not fenced")
        if set(_data_files(out)) != files_at_delete:
            raise AssertionError(
                "delete rewrote standing data files (must be "
                "tombstone-only)"
            )
        after = read_committed(spark, out)
        if after.count() != n_before - n_victims:
            raise AssertionError("committed view wrong after delete")
        if after.join(victims, "doc_id").count() != 0:
            raise AssertionError("deleted ids still visible")
        # last-writer-wins: a re-add of a deleted id under a LATER
        # commit is visible IMMEDIATELY (tombstones are seq-scoped,
        # not id-global), and the compaction below must not change
        # the committed view
        readd = (
            docs.filter(F.col("doc_id") % 5 == 0)
            .select("doc_id", "lang", "text")
            .limit(1)
            .localCheckpoint(eager=True)
        )
        append_shards_tx(spark, out, readd, 9)
        if (
            read_committed(spark, out)
            .join(readd.select("doc_id"), "doc_id")
            .count()
            != 1
        ):
            raise AssertionError(
                "re-add of a deleted id not visible while its "
                "tombstone lives (last-writer-wins violated)"
            )
        stats = compact_shards(spark, out)
        vacuum_uncommitted(out, grace_sec=0.0)  # quiescent demo layout
        survived = read_committed(spark, out)
        leaked = (
            survived.join(victims, "doc_id")
            .join(readd.select("doc_id"), "doc_id", "left_anti")
            .count()
        )
        if leaked:
            raise AssertionError(
                f"{leaked} deleted ids resurfaced after compaction"
            )
        if survived.join(readd.select("doc_id"), "doc_id").count() != 1:
            raise AssertionError(
                "compaction changed the committed view (re-added row "
                "lost — maintenance must be view-invariant)"
            )
        # the tombstone commits are superseded by the compaction
        live = _live_commit_names(out)
        commits = dict(_read_commits(out) or [])
        if any(
            _commit_kind(commits[n].get("label", n)) == "delete"
            for n in live
        ):
            raise AssertionError(
                "tombstone commit still live after compaction"
            )
        # appends after the materialized delete stay ABOVE the
        # pre-delete high-water mark
        echo = docs.filter(F.col("doc_id") % 97 == 3).select(
            (F.col("doc_id") + 50_000_000).alias("doc_id"),
            "lang",
            "text",
        )
        append_shards_tx(spark, out, echo, 3)
        bad = (
            read_committed(spark, out)
            .filter(F.col("doc_id") >= 50_000_000)
            .groupBy("shard")
            .agg(F.min("pos").alias("mn"))
            .join(hwm_df, "shard")
            .filter(F.col("mn") <= F.col("hwm"))
            .count()
        )
        if bad:
            raise AssertionError(
                f"{bad} shards re-minted a pos at or below the "
                "pre-delete high-water mark"
            )
        return committed_manifest(spark, out).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register(
    "q_export_merge",
    oracle=None,  # rows-only: log maintenance is not SQL-expressible;
    # correctness pinned by tests/test_export.py's merge suite
    tags=("export", "delete", "merge", "pipeline"),
)
def q_export_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atomic logged UPSERT over the shard layout (merge_docs_tx —
    the lakehouse MERGE): one batch carrying UPDATES (existing ids,
    rewritten text) and INSERTS (fresh ids) lands as ONE commit with
    both the tombstone ids and the ranked new rows, so no reader can
    see the delete half without the insert half. Asserted inside:
    exactly one commit is added; a replayed batch_id is a no-op for
    both halves; every updated id appears exactly once, carrying the
    NEW text; count = base + inserts; compaction + vacuum are
    view-invariant and materialize the tombstones (no live commit
    holds tombstone files afterwards). Returns the post-compaction
    committed manifest."""
    import shutil
    import tempfile

    out = tempfile.mkdtemp(prefix="zvdb_merge_", dir=_scratch(spark))
    try:
        docs = load(spark, sf_dir, "documents")
        base = docs.filter(F.col("doc_id") % 2 == 0)
        write_shards(base, out)
        init_commit_log(out)
        n_base = base.count()
        updates = base.filter(F.col("doc_id") % 6 == 0).select(
            "doc_id",
            "lang",
            F.concat(F.lit("v2: "), F.col("text")).alias("text"),
        )
        inserts = docs.filter(F.col("doc_id") % 2 == 1).select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"),
            "lang",
            "text",
        )
        batch = updates.unionByName(inserts).localCheckpoint(eager=True)
        n_upd, n_ins = updates.count(), inserts.count()
        n_commits0 = len(log_history(out))
        if merge_docs_tx(spark, out, batch, 1) is not True:
            raise AssertionError("first merge reported a replay")
        if merge_docs_tx(spark, out, batch, 1) is not False:
            raise AssertionError("replayed merge was not fenced")
        if len(log_history(out)) != n_commits0 + 1:
            raise AssertionError(
                "merge must land as exactly ONE commit (atomic upsert)"
            )
        back = read_committed(spark, out)
        if back.count() != n_base + n_ins:
            raise AssertionError("committed view wrong after merge")
        got = back.join(
            updates.select("doc_id"), "doc_id"
        ).localCheckpoint(eager=True)
        if got.count() != n_upd:
            raise AssertionError(
                "updated ids must appear exactly once (old versions "
                "masked, new visible)"
            )
        if got.filter(~F.col("text").startswith("v2: ")).count():
            raise AssertionError("an updated id still shows old text")
        stats = compact_shards(spark, out)
        if stats["files_after"] < 1:
            raise AssertionError("compaction produced no files")
        vacuum_uncommitted(out, grace_sec=0.0)  # quiescent demo
        after = read_committed(spark, out)
        if after.count() != n_base + n_ins:
            raise AssertionError("compaction changed the merged view")
        got2 = after.join(updates.select("doc_id"), "doc_id")
        if (
            got2.count() != n_upd
            or got2.filter(~F.col("text").startswith("v2: ")).count()
        ):
            raise AssertionError(
                "compaction lost or reverted an upserted row"
            )
        live = _live_commit_names(out)
        commits = dict(_read_commits(out) or [])
        if any(
            f.startswith("_tombstones/")
            for n in live
            for f in commits[n]["files"]
        ):
            raise AssertionError(
                "live commits still hold tombstone files after "
                "compaction materialized the merge"
            )
        return committed_manifest(spark, out).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(out, ignore_errors=True)

@register(
    "q_export_schema_evolution",
    oracle=None,  # rows-only: log maintenance is not SQL-expressible;
    # correctness pinned by tests/test_export.py's schema-evolution
    # suite (widen/read/compact, drop/retype/reserved rejection,
    # merge + reshard carry-through)
    tags=("export", "schema", "evolution", "pipeline"),
)
def q_export_schema_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Widen-only schema evolution on the shard layout — the
    add-a-column story a real pipeline hits a month in (a new quality
    score beside every doc): a core-schema base export, then a batch
    carrying a NEW nullable ``quality`` column lands through
    append_shards_tx; the commit RECORDS its (col, dtype) schema, the
    committed read scans under the union of the recorded schemas (old
    rows read back null), a compaction MATERIALIZES the union schema
    (after it every live file carries it), and a batch
    that DROPS the column is rejected loudly (a silent drop forks the
    schema). Asserted inside: pre-widen old rows are null, widened
    values survive the compaction bit-exactly, and the drop fence
    fires. Returns per-lang (n_docs, n_scored, quality_sum) over the
    post-compaction committed view. Reference: the zvdb reference has
    no persistence at all (src/zvdb.zig:1); this is the
    lakehouse-parity layer, Delta/Iceberg schema-evolution pattern
    (public)."""
    import shutil
    import tempfile

    out = tempfile.mkdtemp(prefix="zvdb_schevo_", dir=_scratch(spark))
    try:
        docs = load(spark, sf_dir, "documents")
        base = docs.filter(F.col("doc_id") % 2 == 0)
        write_shards(base, out)
        init_commit_log(out)
        n_base = base.count()
        widened = (
            docs.filter(F.col("doc_id") % 2 == 1)
            .select("doc_id", "lang", "text")
            .withColumn(
                "quality",
                (F.col("doc_id") % 7).cast("double") / 10.0,
            )
        )
        n_new = widened.count()
        if append_shards_tx(spark, out, widened, 1) is not True:
            raise AssertionError("widening append reported a replay")
        view = read_committed(spark, out)
        if "quality" not in view.columns:
            raise AssertionError("widened column missing from read")
        if view.filter(F.col("quality").isNull()).count() != n_base:
            raise AssertionError(
                "pre-widen rows must read the new column as null"
            )
        if view.filter(F.col("quality").isNotNull()).count() != n_new:
            raise AssertionError("widened rows lost their values")
        # the drop fence: a core-only batch now forks the schema
        try:
            append_shards_tx(
                spark, out,
                docs.filter(F.col("doc_id") % 2 == 1)
                .select("doc_id", "lang", "text")
                .limit(1),
                2,
            )
            raise AssertionError(
                "a batch dropping the widened column must be rejected"
            )
        except ValueError:
            pass
        compact_shards(spark, out)
        vacuum_uncommitted(out, grace_sec=0.0)  # quiescent demo
        after = read_committed(spark, out)
        if after.filter(F.col("quality").isNull()).count() != n_base:
            raise AssertionError("compaction changed null-filled rows")
        if after.filter(
            F.col("quality")
            != (F.col("doc_id") % 7).cast("double") / 10.0
        ).count():
            raise AssertionError("compaction corrupted widened values")
        return (
            after.groupBy("lang")
            .agg(
                F.count("*").alias("n_docs"),
                F.count("quality").alias("n_scored"),
                F.round(F.sum("quality"), 2).alias("quality_sum"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)

@register(
    "q_export_pruned_read",
    oracle=None,  # rows-only: file skipping is a plan property; the
    # answer-parity and fewer-files invariants are asserted inside and
    # pinned by tests/test_export.py's data-skipping suite
    tags=("export", "stats", "pruning", "pipeline"),
)
def q_export_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level data skipping over the logged shard layout
    (read_committed_pruned — the lakehouse per-file-stats pattern,
    Delta/Iceberg, public): every commit records its files'
    [min_doc_id, max_doc_id, n_rows] from the parquet footers
    (driver-side, zero Spark jobs), and a range read drops whole
    files whose recorded range is disjoint from the predicate BEFORE
    the scan, applying the predicate verbatim as the residual so
    pruning can only under-prune. The win is on id/time-correlated
    ingest: a hash-sharded FULL export's per-file ranges span the
    corpus (nothing prunes — demonstrated inside), but incremental
    batches with advancing ids give every file a tight range, and a
    "recent ids" read opens only the recent commits' files. Asserted
    inside: the pruned read scans strictly fewer data files than the
    full committed read, its answer equals the full read under the
    same predicate exactly, and a tombstone delete still masks inside
    the pruned range. Returns the per-shard manifest of the pruned
    range."""
    import shutil
    import tempfile

    out = tempfile.mkdtemp(prefix="zvdb_prune_", dir=_scratch(spark))
    try:
        docs = load(spark, sf_dir, "documents").select(
            "doc_id", "lang", "text"
        )
        write_shards(docs.filter(F.col("doc_id") % 2 == 0), out)
        init_commit_log(out)
        b1 = docs.filter(F.col("doc_id") % 2 == 1).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"),
            "lang",
            "text",
        )
        b2 = docs.filter(F.col("doc_id") % 2 == 1).select(
            (F.col("doc_id") + 20_000_000).alias("doc_id"),
            "lang",
            "text",
        )
        if not (
            append_shards_tx(spark, out, b1, 1)
            and append_shards_tx(spark, out, b2, 2)
        ):
            raise AssertionError("batch appends reported replays")
        # tombstone a few ids INSIDE the queried range: masking must
        # compose with pruning
        victims = b2.select("doc_id").limit(3).localCheckpoint(
            eager=True
        )
        if not delete_docs_tx(spark, out, victims, 3):
            raise AssertionError("delete reported a replay")

        def _data_inputs(df: DataFrame) -> set:
            return {
                f for f in df.inputFiles() if "/shard=" in f
            }

        full = read_committed(spark, out)
        pruned = read_committed_pruned(
            spark, out, doc_id_min=20_000_000
        )
        n_full, n_pruned = len(_data_inputs(full)), len(
            _data_inputs(pruned)
        )
        if not n_pruned < n_full:
            raise AssertionError(
                f"range read opened {n_pruned}/{n_full} data files — "
                "file skipping did not prune"
            )
        expect = full.filter(F.col("doc_id") >= 20_000_000)
        got_n, want_n = pruned.count(), expect.count()
        if got_n != want_n:
            raise AssertionError(
                f"pruned read returned {got_n} rows, residual filter "
                f"says {want_n} — pruning changed the answer"
            )
        if pruned.join(victims, "doc_id").count() != 0:
            raise AssertionError(
                "tombstoned ids visible under the pruned read"
            )
        # the hash-sharded base alone cannot prune (honest negative):
        # a mid-range read over the base ids keeps every base file
        base_probe = read_committed_pruned(
            spark, out, doc_id_min=1, doc_id_max=2
        )
        if not _data_inputs(base_probe):
            raise AssertionError(
                "full-export files wrongly pruned (their ranges span "
                "the corpus)"
            )
        return (
            pruned.groupBy("shard")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("doc_id").alias("id_sum"),
            )
            .withColumn("shard", F.col("shard").cast("long"))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)

def lookup_docs(
    spark: SparkSession, out_dir: str, doc_ids: list[int]
) -> DataFrame:
    """Primary-key point lookup on the hash-sharded layout: shard =
    H(id) mod N is computable DRIVER-SIDE (queries/text.py h_py, the
    same portable hash the layout routes by), so a k-id lookup reads
    only the <=k target shards' committed files. This is the lookup
    path min/max data skipping cannot provide on a hash-sharded FULL
    export (every file's id range spans the corpus —
    read_committed_pruned's documented negative case): with N shards
    the scan opens ~k/N of the layout's files regardless of total
    size. The seq-scoped tombstone mask runs over the surviving
    subset, so a deleted id returns nothing and an upserted id
    returns exactly its latest version; the id filter is applied
    verbatim as the residual, so shard routing can only under-read
    file-wise, never change the answer."""
    ids = sorted({int(i) for i in doc_ids})
    if not ids:
        raise ValueError("lookup_docs needs at least one doc_id")
    commits = _read_commits(out_dir)
    if commits is None:
        return spark.read.parquet(out_dir).filter(
            F.col("doc_id").isin(ids)
        )
    n = read_layout_manifest(out_dir)["n_shards"]
    from zvdb_spark.queries.text import h_py

    shards = {h_py(str(i)) % n for i in ids}
    live = set(_live_names_from(commits))
    data, tomb, _ = _seq_split(commits, live)

    def _shard_of(rel: str) -> int:
        return int(rel.split("shard=", 1)[1].split("/", 1)[0])

    kept = {f: s for f, s in data.items() if _shard_of(f) in shards}
    if not kept:  # target shards hold no files: empty, schema-stable
        first = sorted(data)[0]
        kept = {first: data[first]}
    df = _masked_view(
        spark, out_dir, kept, tomb, _standing_schema(commits, live)
    )
    return df.filter(F.col("doc_id").isin(ids))


@register(
    "q_export_point_lookup",
    oracle=None,  # rows-only: shard routing is a plan property; the
    # answer-parity and fewer-files invariants are asserted inside
    # and pinned by tests/test_export.py
    tags=("export", "lookup", "pruning", "pipeline"),
)
def q_export_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-side shard routing for point lookups (lookup_docs):
    shard = H(id) mod N is recomputed in Python, so a k-id lookup
    opens only the target shards' committed files — the primary-key
    read path for a hash-sharded corpus at 100 TB (a loader fetching
    specific documents touches ~k/N of the files, never the layout).
    Demo: base export + tx append, one id DELETED (tombstone), one
    id UPSERTED (merge). Asserted inside: the lookup opens strictly
    fewer data files than the full committed read; its rows equal
    the full read under the same id filter; the deleted id is
    absent; the upserted id shows exactly its latest text. Returns
    the looked-up rows' (doc_id, lang, pos present) projection."""
    import shutil
    import tempfile

    out = tempfile.mkdtemp(prefix="zvdb_lookup_", dir=_scratch(spark))
    try:
        docs = load(spark, sf_dir, "documents").select(
            "doc_id", "lang", "text"
        )
        base = docs.filter(F.col("doc_id") % 2 == 0)
        write_shards(base, out)
        init_commit_log(out)
        if not append_shards_tx(
            spark, out, docs.filter(F.col("doc_id") % 2 == 1), 1
        ):
            raise AssertionError("append reported a replay")
        # fixed ids: documents doc_ids start at 1 at every SF, so the
        # probe set is deterministic — no driver-side collect needed
        dead, updated, plain = 1, 2, [3, 4, 5, 6]
        if not delete_docs_tx(
            spark, out,
            spark.createDataFrame([(dead,)], "doc_id long"), 2,
        ):
            raise AssertionError("delete reported a replay")
        upsert = docs.filter(F.col("doc_id") == updated).select(
            "doc_id", "lang",
            F.concat(F.lit("v2: "), F.col("text")).alias("text"),
        )
        if not merge_docs_tx(spark, out, upsert, 3):
            raise AssertionError("merge reported a replay")

        targets = [dead, updated, *plain]
        got = lookup_docs(spark, out, targets)

        def _data_inputs(df: DataFrame) -> set:
            return {f for f in df.inputFiles() if "/shard=" in f}

        full = read_committed(spark, out)
        if not _data_inputs(got) < _data_inputs(full):
            raise AssertionError(
                "point lookup opened every data file — shard routing "
                "did not prune"
            )
        want = full.filter(F.col("doc_id").isin(targets))
        gk = got.select("doc_id", "text")
        wk = want.select("doc_id", "text")
        if gk.exceptAll(wk).count() or wk.exceptAll(gk).count():
            raise AssertionError("lookup answer != residual-filtered read")
        if got.filter(F.col("doc_id") == dead).count() != 0:
            raise AssertionError("deleted id visible in lookup")
        up = got.filter(F.col("doc_id") == updated)
        if (
            up.count() != 1
            or up.filter(F.col("text").startswith("v2: ")).count() != 1
        ):
            raise AssertionError("upserted id not at latest version")
        return (
            got.select("doc_id", "lang", F.col("pos").isNotNull().alias("has_pos"))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)
