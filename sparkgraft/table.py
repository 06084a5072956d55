"""The snapshot-log table format every lakehouse, change-feed and index
operator in this package reads and writes.

A table is a LOG DIRECTORY of immutable JSON manifests ``v{N}.json``,
one per committed snapshot, each listing the table's complete live file
set (``files``) plus optional stamps (``op``, ``schema_version``,
``feed_batch``, ...). Conventions owned here:

- versions: listing the log (`log_versions`), opening one manifest
  (`read_manifest`, `manifest_path`) or the head's file list
  (`head_files`);
- staging: writing a DataFrame's parquet files before a commit names
  them (`stage`, `stage_slices`);
- commits: the link(2) compare-and-swap (`try_publish`), the
  optimistic rebase loop (`commit_snapshot`, `commit_rewrite`) and its
  conflict (`CommitConflict`);
- file classes: delete files live under a ``deletes/`` path segment,
  positional delete vectors under ``deletes/pos/`` (`split_head_files`,
  `mor_read`);
- refs: a branch or tag is one file ``{refs_dir}/{name}`` holding the
  version it points at (`set_ref`, `get_ref`, `drop_ref`,
  `ref_files`);
- expiry: expired manifests are renamed ``v{N}.json.expired`` and the
  sequence numbers they owned persist in ``seq-v{horizon}.json``
  (`expire_snapshots`, `seq_first_versions`);
- transaction roots: one manifest binds ``{table -> files}`` for
  several tables (`txn_publish`, `txn_commit`, `txn_head_tables`), and
  the delta-form root checkpoints through ``ckpt-v{N}.json`` plus a
  ``_last_checkpoint`` pointer (`txn_write_checkpoint`).

Standard library only at import time: Python workers that unpickle a
feed reader import this module, so it must stay small; the helpers
that take a DataFrame only call its methods or import pyspark inside.
"""

from __future__ import annotations

import json
import os
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

MOR_DELETE_CLASS = "deletes"  # path segment classifying tombstone files
POS_DELETE_CLASS = "pos"  # sub-segment for POSITIONAL delete vectors
EXPIRED_SUFFIX = ".json.expired"
_SEQ_CKPT_PREFIX = "seq-v"
_CKPT_PREFIX = "ckpt-v"
TXN_CKPT_POINTER = "_last_checkpoint"


# --- versions and manifests ---


def manifest_path(log_dir: str, version: int) -> str:
    return os.path.join(log_dir, f"v{version}.json")


def log_versions(log_dir: str) -> list[int]:
    """Committed snapshot versions, ascending (KB-scale metadata listing)."""
    return sorted(
        int(f[1:-5])
        for f in os.listdir(log_dir)
        if f.startswith("v") and f.endswith(".json")
    )


def head_version(log_dir: str) -> int:
    """The newest committed version; 0 for an empty log."""
    versions = log_versions(log_dir)
    return versions[-1] if versions else 0


def empty_log(log_dir: str) -> None:
    """Create ``log_dir`` as an empty log, clearing any earlier run's."""
    os.makedirs(log_dir, exist_ok=True)
    for f in os.listdir(log_dir):
        os.unlink(os.path.join(log_dir, f))


def read_manifest(log_dir: str, version: int) -> dict:
    with open(manifest_path(log_dir, version)) as fh:
        return json.load(fh)


def head_files(log_dir: str) -> list[str]:
    """The head snapshot's complete file list."""
    return read_manifest(log_dir, head_version(log_dir))["files"]


def data_files_of(d: str) -> list[str]:
    """The parquet files directly under ``d``, sorted."""
    return sorted(
        os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
    )


def tree_files(d: str) -> list[str]:
    """The parquet files anywhere under ``d`` (partitioned writes), sorted."""
    return sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(d)
        for f in fs
        if f.endswith(".parquet")
    )


# --- staging ---


def stage(df: DataFrame, d: str) -> list[str]:
    """Write ``df`` to ``d`` as parquet (overwrite) and return its data
    files. A staged file is invisible until a manifest names it. The
    caller fixes the file layout (``coalesce``/``repartition``) first:
    some oracle digests count files."""
    df.write.mode("overwrite").parquet(d)
    return data_files_of(d)


def stage_slices(
    df: DataFrame, slice_expr, out_dir: str
) -> dict[int, list[str]]:
    """Stage every integer slice of ``df`` in ONE shuffled partitioned
    write (dirs ``sgs=<k>/``, exactly one data file per slice — a
    slice's rows hash to a single write task) instead of one filter +
    coalesce(1) write job per slice. The staged files carry exactly
    ``df``'s columns (the slice key becomes the directory name, not a
    stored column), so readers of the returned per-slice file lists see
    the same frames the per-slice jobs produced. Guide §1.2 step 1 /
    §2.4: N full scans of the source collapse into one scan + one
    shuffle of the same bytes; r13 measured the N-scan staging loops as
    the second-largest cost inside the CDF protocol keys."""
    (
        df.withColumn("sgs", slice_expr.cast("int"))
        .repartition("sgs")
        .write.mode("overwrite")
        .partitionBy("sgs")
        .parquet(out_dir)
    )
    return {
        int(d.split("=", 1)[1]): data_files_of(os.path.join(out_dir, d))
        for d in os.listdir(out_dir)
        if d.startswith("sgs=")
    }


# --- commits ---


def try_publish(
    log_dir: str,
    version: int,
    files: list[str],
    extra: dict | None = None,
) -> bool:
    """Attempt to commit snapshot ``version`` — the atomic COMPARE-AND-SWAP.

    The manifest is fully written to a writer-private temp file first,
    then ``os.link``ed to its final name: link(2) fails with EEXIST
    atomically when another writer already holds that version, and a
    winner's manifest appears complete in one shot (no torn reads — the
    reason this is link-after-write, not open(O_EXCL)-then-write, and
    why rename(2) is unusable here: it silently overwrites, so it can't
    arbitrate). Returns False when the version was lost to a racer; the
    caller re-reads the head and rebases. This is the single-node
    essence of Delta/Iceberg's commit protocol (their LogStores do the
    same put-if-absent against object storage)."""
    tmp = os.path.join(log_dir, f".tmp-v{version}-pid{os.getpid()}-{id(files)}")
    with open(tmp, "w") as fh:
        json.dump(
            {"snapshot": version, "files": sorted(files), **(extra or {})},
            fh,
        )
    try:
        os.link(tmp, manifest_path(log_dir, version))
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


class CommitConflict(RuntimeError):
    """A remove-set no longer present in the head snapshot: the files
    this commit rewrites were already rewritten/removed by a racer.
    Blind retry would resurrect or double-apply them — the caller must
    re-plan from the new head (Delta/Iceberg surface the same condition
    as ConcurrentModification/ValidationException)."""


def _rebase_loop(
    log_dir: str,
    add_files: list[str],
    remove_files: list[str] | None,
    max_attempts: int,
    extra: dict | None,
    validate=None,
) -> tuple[int, int]:
    removes = set(remove_files or [])
    retries = 0
    while True:
        head = head_version(log_dir)
        if validate is not None:
            validate(head)
        parent = read_manifest(log_dir, head)["files"] if head else []
        if removes and not removes <= set(parent):
            raise CommitConflict(
                f"removed files not in head v{head}: "
                f"{sorted(removes - set(parent))}"
            )
        files = [f for f in parent if f not in removes] + list(add_files)
        if try_publish(log_dir, head + 1, files, extra=extra):
            return head + 1, retries
        retries += 1
        if retries >= max_attempts:
            raise RuntimeError(
                f"commit lost the CAS {max_attempts} times in {log_dir}"
            )


def commit_snapshot(
    log_dir: str,
    add_files: list[str],
    remove_files: list[str] | None = None,
    max_attempts: int = 50,
    extra: dict | None = None,
) -> tuple[int, int]:
    """Optimistic-concurrency commit loop: read head, build the child
    file list (parent − removed + added), CAS-publish, rebase-and-retry
    on loss. Commits are REMOVE/ADD DELTAS, not absolute file lists —
    the reason rebase is safe: an append (no removes) commutes with
    anything, and a rewrite (compaction: removes the inputs it
    compacted, adds their replacement) rebased onto a racer's append
    keeps the appended files instead of silently dropping them (the
    lost-update a naive \"replace the whole list\" semantic has). The
    one genuine conflict — our removes are no longer all present in the
    head, i.e. a racer already rewrote the same files — raises
    ``CommitConflict`` instead of retrying. Returns
    (version, n_retries)."""
    return _rebase_loop(log_dir, add_files, remove_files, max_attempts, extra)


def commit_rewrite(
    log_dir: str,
    add_files: list[str],
    remove_files: list[str],
    planned_at: int,
) -> tuple[int, int]:
    """Commit a rewrite PLANNED AT snapshot ``planned_at``, validating
    the race every delete-applying compaction must check: if any commit
    AFTER planned_at added a delete-class file, that delete applies (by
    the strictly-lower-sequence rule) to the data files this rewrite is
    replacing — but NOT to their replacements, whose sequence is higher.
    Committing anyway would silently RESURRECT the racer's deleted rows
    inside the clean files, so the only safe outcome is
    ``CommitConflict`` and a re-plan from the new head (Iceberg's
    rewrite_data_files surfaces the same condition as 'found new delete
    for replaced data file'). The check is KB manifest arithmetic —
    never a data read.

    The validation runs INSIDE the CAS-retry loop: a validate-once-
    then-delegate shape would re-validate nothing after losing the CAS,
    re-opening the exact window this helper closes (a tombstone landing
    between the check and the retried publish)."""

    def no_new_deletes(head: int) -> None:
        # validate EVERY commit between plan and the CURRENT head — on
        # a retry the window re-extends to the rebased head, so a
        # tombstone landing between a lost CAS and the retried publish
        # is still caught
        for v in range(planned_at + 1, head + 1):
            added = set(read_manifest(log_dir, v)["files"]) - set(
                read_manifest(log_dir, v - 1)["files"]
            )
            new_dels = sorted(p for p in added if is_delete_file(p))
            if new_dels:
                raise CommitConflict(
                    f"new delete file(s) landed at v{v} after the rewrite "
                    f"planned at v{planned_at}: {new_dels} — committing "
                    "would resurrect their rows; re-plan from the head"
                )

    return _rebase_loop(
        log_dir, add_files, remove_files, 50, {"op": "rewrite"},
        validate=no_new_deletes,
    )


# --- file classes ---

_DEL_SEG = f"{os.sep}{MOR_DELETE_CLASS}{os.sep}"
_POS_SEG = f"{os.sep}{MOR_DELETE_CLASS}{os.sep}{POS_DELETE_CLASS}{os.sep}"


def is_delete_file(path: str) -> bool:
    """A delete-class file (either encoding) — classified by its path,
    so a reader never opens a file to learn what kind it is."""
    return _DEL_SEG in path


def is_pos_delete_file(path: str) -> bool:
    """A POSITIONAL delete vector — (file_path, row_index) pairs, the
    other delete encoding (`sink_positional_delete_vector`); never to be
    read with the equality-tombstone schema."""
    return _POS_SEG in path


def split_head_files(files: list[str]) -> tuple[list[str], list[str]]:
    """Partition a snapshot's file list into (data, delete) classes by
    the tombstone path convention — the single-node essence of Iceberg's
    separate data/delete manifests (the class rides in KB metadata, the
    reader never opens a file to learn what kind it is)."""
    deletes = [f for f in files if is_delete_file(f)]
    data = [f for f in files if not is_delete_file(f)]
    return data, deletes


def mor_read(spark: SparkSession, files: list, key: str) -> DataFrame:
    """MERGE-ON-READ of a manifest's file list: data files anti-joined
    against the union of its equality tombstones on ``key`` (broadcast
    — tombstones are KB). The one way every snapshot-log table with
    deletes is read in this repo."""
    from pyspark.sql import functions as F

    data, tombs = split_head_files(files)
    df = spark.read.parquet(*data)
    if tombs:
        df = df.join(
            F.broadcast(spark.read.parquet(*tombs).select(key)),
            key,
            "left_anti",
        )
    return df


# --- refs: branches and tags ---


def set_ref(refs_dir: str, name: str, version: int) -> None:
    """Point ref ``name`` at ``version``: write a temp file, then
    os.replace it over the ref, so a reader sees the old or the new
    version and never a torn one."""
    tmp = os.path.join(refs_dir, f".tmp-{name}")
    with open(tmp, "w") as fh:
        fh.write(str(version))
    os.replace(tmp, os.path.join(refs_dir, name))


def get_ref(refs_dir: str, name: str) -> int:
    with open(os.path.join(refs_dir, name)) as fh:
        return int(fh.read())


def drop_ref(refs_dir: str, name: str) -> None:
    os.unlink(os.path.join(refs_dir, name))


def ref_files(log_dir: str, refs_dir: str, name: str) -> list[str]:
    """The file list of the snapshot ref ``name`` points at."""
    return read_manifest(log_dir, get_ref(refs_dir, name))["files"]


# --- snapshot expiry ---


def seq_first_versions(log_dir: str) -> tuple[int, dict]:
    """The NEWEST persisted sequence checkpoint: (horizon,
    {file -> first-referencing version}) for files that were live when
    snapshots <= horizon expired; (0, {}) when no expiry has happened.
    Readers that derive per-file sequence numbers by walking manifests
    MUST seed from this once the walk would cross expired territory —
    the Iceberg discipline that sequence numbers are durable metadata,
    never re-derived from history retention may delete."""
    horizons = sorted(
        int(f[len(_SEQ_CKPT_PREFIX):-5])
        for f in os.listdir(log_dir)
        if f.startswith(_SEQ_CKPT_PREFIX) and f.endswith(".json")
    )
    if not horizons:
        return 0, {}
    with open(
        os.path.join(log_dir, f"{_SEQ_CKPT_PREFIX}{horizons[-1]}.json")
    ) as fh:
        rec = json.load(fh)
    return int(rec["horizon"]), {
        f: int(v) for f, v in rec["first_versions"].items()
    }


def expired_horizon(log_dir: str) -> int:
    """Newest version whose manifest was tombstoned by `expire_snapshots`
    (0 when none was)."""
    ex = [
        int(f[1:].split(".", 1)[0])
        for f in os.listdir(log_dir)
        if f.startswith("v") and f.endswith(EXPIRED_SUFFIX)
    ]
    return max(ex) if ex else 0


def tombstone_manifest(log_dir: str, version: int) -> None:
    """Rename manifest ``version`` to ``v{N}.json.expired``: it leaves
    the log, and time travel to it fails fast."""
    os.rename(
        manifest_path(log_dir, version),
        os.path.join(log_dir, f"v{version}{EXPIRED_SUFFIX}"),
    )


def expire_snapshots(
    log_dir: str, retain_last: int
) -> tuple[list[int], list[int], list[str]]:
    """Expire all but the last ``retain_last`` snapshots — the shared
    procedure `sink_snapshot_vacuum` proves and every caller reuses:

    1. PERSIST the sequence numbers the expired prefix owns — a
       ``seq-v{horizon}.json`` checkpoint mapping every still-live file
       to its first-referencing version — BEFORE the manifests
       disappear (without it, any later delete-bearing commit is
       unplannable: the CDF's sequence scoping walks manifests from
       genesis);
    2. delete files referenced ONLY by expired manifests (exact list,
       never a directory sweep);
    3. tombstone expired manifests to ``v{N}{EXPIRED_SUFFIX}`` so
       time travel past retention fails fast.

    Returns (retained, expired, orphans). KB manifest arithmetic
    throughout — a 100 TB table expires without touching data bytes
    beyond the orphan unlinks."""
    versions = log_versions(log_dir)
    retained = versions[-retain_last:]
    expired = versions[:-retain_last]
    if not expired:
        return retained, [], []
    live: set[str] = set()
    for v in retained:
        live |= set(read_manifest(log_dir, v)["files"])
    orphans: set[str] = set()
    for v in expired:
        orphans |= set(read_manifest(log_dir, v)["files"])
    orphans -= live
    seen: dict = {}
    for v in versions:
        for f in read_manifest(log_dir, v)["files"]:
            seen.setdefault(f, v)
    horizon = expired[-1]
    tmp = os.path.join(log_dir, f".seq-tmp-{os.getpid()}")
    with open(tmp, "w") as fh:
        json.dump(
            {
                "horizon": horizon,
                "first_versions": {
                    f: v for f, v in sorted(seen.items()) if f in live
                },
            },
            fh,
        )
    os.replace(
        tmp, os.path.join(log_dir, f"{_SEQ_CKPT_PREFIX}{horizon}.json")
    )
    for f in sorted(orphans):
        os.unlink(f)
    for v in expired:
        tombstone_manifest(log_dir, v)
    return retained, expired, sorted(orphans)


# --- transaction roots ---


def txn_publish(
    txn_dir: str, version: int, tables: dict, ops: dict | None = None
) -> None:
    """CAS-publish transaction ``version`` binding every table's file
    list in ONE manifest — the multi-table generalization of
    `try_publish`: visibility for ALL tables flips on a single
    link(2), so readers can never observe table A at txn N and table B
    at txn N−1. Loses raise (single writer here; a rebase loop would
    wrap this exactly like `commit_snapshot`). ``ops`` stamps
    PER-TABLE operation labels (e.g. {"fact": "rewrite"} for a
    compaction txn) — the field the cross-table change feed keys on to
    emit zero events for layout-only table deltas."""
    extra = {"tables": tables}
    if ops:
        extra["ops"] = ops
    if not try_publish(txn_dir, version, [], extra=extra):
        raise CommitConflict(f"txn v{version} lost the CAS in {txn_dir}")


def txn_head_tables(txn_dir: str) -> tuple[int, dict]:
    head = head_version(txn_dir)
    return head, (read_manifest(txn_dir, head)["tables"] if head else {})


def txn_commit(
    txn_dir: str, updates: dict, read_at: int, max_attempts: int = 50
) -> tuple[int, int, int]:
    """Commit ``updates`` ({table -> new file list}) against the txn
    root with optimistic rebase — the multi-table generalization of
    `commit_snapshot`'s loop: read the head, overlay ONLY the tables
    this txn writes, CAS; on loss re-read and retry. The one genuine
    conflict: the head's version of a written table CHANGED since this
    txn read it (``read_at``) — a blind overlay would silently drop
    the racer's update to the same table, so the loser must abort and
    re-plan (Iceberg/Delta surface the same per-table check via
    validation snapshots). Disjoint-table racers always merge. Returns
    (version, n_retries, n_validations)."""
    retries = 0
    while True:
        head, head_tables = txn_head_tables(txn_dir)
        head_tables = dict(head_tables)
        base_tables = (
            read_manifest(txn_dir, read_at)["tables"] if read_at else {}
        )
        for t in updates:
            if head_tables.get(t) != base_tables.get(t):
                raise CommitConflict(
                    f"table {t!r} changed between read_at v{read_at} and "
                    f"head v{head} — same-table race, re-plan required"
                )
        merged = {**head_tables, **updates}
        if try_publish(txn_dir, head + 1, [], extra={"tables": merged}):
            return head + 1, retries, len(updates)
        retries += 1
        if retries >= max_attempts:
            raise RuntimeError(
                f"txn lost the CAS {max_attempts} times in {txn_dir}"
            )


def txn_ckpt_path(txn_dir: str, at: int) -> str:
    return os.path.join(txn_dir, f"{_CKPT_PREFIX}{at}.json")


def ckpt_versions(log_dir: str) -> list[int]:
    """The versions that have a published checkpoint, ascending."""
    return sorted(
        int(f[len(_CKPT_PREFIX):-5])
        for f in os.listdir(log_dir)
        if f.startswith(_CKPT_PREFIX) and f.endswith(".json")
    )


def txn_delta_merge(state: dict, adds: dict) -> None:
    """Fold one delta-form txn manifest's per-table adds into a
    cumulative {table -> set(files)} state."""
    for t, fl in adds.items():
        state.setdefault(t, set()).update(fl)


def publish_checkpoint(log_dir: str, at: int, payload: dict) -> None:
    """Publish ``payload`` as the put-if-absent checkpoint of version
    ``at`` (write-temp + link(2)), then advance the `_last_checkpoint`
    pointer via os.replace. Racing checkpointers write identical bytes,
    so the link collision is benign."""
    tmp = os.path.join(log_dir, f".ckpt-tmp-{os.getpid()}")
    with open(tmp, "w") as fh:
        json.dump(payload, fh)
    try:
        os.link(tmp, txn_ckpt_path(log_dir, at))
    except FileExistsError:
        pass  # racing checkpointers write identical bytes
    finally:
        os.unlink(tmp)
    ptmp = os.path.join(log_dir, f".lastckpt-tmp-{os.getpid()}")
    with open(ptmp, "w") as fh:
        fh.write(str(at))
    os.replace(ptmp, os.path.join(log_dir, TXN_CKPT_POINTER))


def txn_write_checkpoint(txn_dir: str, at: int) -> None:
    """Materialize the cumulative {table -> files} map at txn ``at``
    (the checkpointer pays the genesis walk ONCE) and publish it as the
    checkpoint of ``at``."""
    state: dict = {}
    for v in range(1, at + 1):
        txn_delta_merge(state, read_manifest(txn_dir, v)["table_adds"])
    publish_checkpoint(
        txn_dir,
        at,
        {"version": at, "tables": {t: sorted(fl) for t, fl in state.items()}},
    )
