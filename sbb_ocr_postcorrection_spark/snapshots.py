"""Table snapshots for the extraction sink: an append-only snapshot log,
rollback, and a concurrent-writer fence — the Iceberg-semantics layer
SURVEY §4.2/#3 promises beyond dynamic-partition overwrite.

What the reference keeps in a single SQLite file (implicit last-writer
state, no history), this module models the way a production table format
does:

- Every successful `run_extraction_job` commits ONE snapshot: an
  immutable JSON file `_snapshots/v{N}.json` recording the table's full
  visible partition set, its parent snapshot, and the operation. The log
  is append-only — history is never rewritten.
- `rollback_to_snapshot` commits a NEW snapshot whose partition set is
  the target's (Iceberg-style rollback: a forward commit, not history
  surgery). Readers going through `read_extractions` see only the
  current snapshot's partitions; the next job run re-extracts everything
  the rollback hid (the resume set is derived from the CURRENT snapshot,
  not from files on disk).
- The writer fence is optimistic concurrency at commit granularity: a
  writer claims the table by atomically creating `_snapshots/_intent.json`
  (POSIX O_EXCL) BEFORE writing any data; a second writer racing on the
  same table loses with `ConcurrentWriteError` before touching a byte.
  A SIGKILLed writer leaves a stale intent; the next writer reclaims it
  automatically when the recorded pid is provably dead on this host
  (os.kill(pid, 0)), or explicitly via reclaim_stale=True otherwise.

Scale notes: a snapshot stores the PARTITION list, not file lists — the
(dt, bkt) grid is days × buckets, bounded and tiny even at 10^12 docs
(pipeline.py's resume design note). The fence primitives are POSIX
atomic create/replace, the same primitive the WARC sink already relies
on; an object-store deployment would swap in a conditional-put, which is
exactly how Iceberg's catalogs do it.
"""

from __future__ import annotations

import json
import os
import socket
import time

SNAP_DIR = "_snapshots"
_INTENT = "_intent.json"


class ConcurrentWriteError(RuntimeError):
    """Another writer holds the table's commit intent."""


def _snap_dir(output_dir: str) -> str:
    return os.path.join(output_dir, SNAP_DIR)


def _intent_path(output_dir: str) -> str:
    return os.path.join(_snap_dir(output_dir), _INTENT)


def _snap_path(output_dir: str, snapshot_id: int) -> str:
    return os.path.join(_snap_dir(output_dir), f"v{snapshot_id:08d}.json")


def list_snapshots(output_dir: str) -> list[dict]:
    """All committed snapshots, ascending by id. Empty if no log yet."""
    d = _snap_dir(output_dir)
    if not os.path.isdir(d):
        return []
    out = []
    for name in sorted(os.listdir(d)):
        if name.startswith("v") and name.endswith(".json"):
            with open(os.path.join(d, name)) as fh:
                out.append(json.load(fh))
    return out


def current_snapshot(output_dir: str) -> dict | None:
    snaps = list_snapshots(output_dir)
    return snaps[-1] if snaps else None


def get_snapshot(output_dir: str, snapshot_id: int) -> dict:
    with open(_snap_path(output_dir, snapshot_id)) as fh:
        return json.load(fh)


def _pid_dead_on_this_host(intent: dict) -> bool:
    if intent.get("host") != socket.gethostname():
        return False
    pid = intent.get("pid")
    if not isinstance(pid, int):
        return True
    try:
        os.kill(pid, 0)
        return False  # alive
    except ProcessLookupError:
        return True
    except PermissionError:
        return False  # alive, owned by someone else


def begin_commit(output_dir: str, reclaim_stale: bool = False) -> dict:
    """Claim the table for one commit. Returns the ticket (echo it to
    commit_snapshot / abort_commit). Raises ConcurrentWriteError if
    another writer's intent exists and is not provably stale.

    Steal protocol for stale intents: unlink-then-exclusive-create, so
    two reclaimers racing on the same corpse still produce exactly one
    winner (both may unlink, only one O_EXCL create succeeds).

    next_id is computed AFTER the exclusive create succeeds (ADVICE r6):
    computed before, a writer that lost time between listing and claiming
    could carry a snapshot id another writer had already committed and
    silently rewrite history at commit time."""
    os.makedirs(_snap_dir(output_dir), exist_ok=True)
    path = _intent_path(output_dir)
    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        try:
            with open(path) as fh:
                holder = json.load(fh)
        except (OSError, json.JSONDecodeError):
            holder = {}
        if not (reclaim_stale or _pid_dead_on_this_host(holder)):
            raise ConcurrentWriteError(
                f"table {output_dir} is claimed by "
                f"pid {holder.get('pid')}@{holder.get('host')} "
                f"since {holder.get('claimed_at')}; this writer loses "
                "cleanly (no data was written). If that writer is dead "
                "on another host, rerun with reclaim_stale=True."
            ) from None
        try:
            os.unlink(path)
        except FileNotFoundError:
            pass  # a racing reclaimer got there first
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    # the claim is ours from here: the id we read now cannot be raced
    snaps = list_snapshots(output_dir)
    next_id = (snaps[-1]["snapshot_id"] + 1) if snaps else 1
    ticket = {
        "next_id": next_id,
        "pid": os.getpid(),
        "host": socket.gethostname(),
        "claimed_at": time.time(),
        "nonce": f"{os.getpid():x}-{time.time_ns():x}",
    }
    with os.fdopen(fd, "w") as fh:
        fh.write(json.dumps(ticket, sort_keys=True))
    return ticket


def _intent_matches(output_dir: str, ticket: dict) -> bool:
    """True iff _intent.json exists and is THIS writer's ticket."""
    try:
        with open(_intent_path(output_dir)) as fh:
            holder = json.load(fh)
    except (OSError, json.JSONDecodeError):
        return False
    return all(
        holder.get(k) == ticket.get(k)
        for k in ("pid", "host", "claimed_at", "nonce")
    )


def abort_commit(output_dir: str, ticket: dict) -> None:
    """Release the claim without committing (job failed before commit).
    No-op when the intent on disk is not the caller's (ADVICE r6): a
    stale-reclaimed writer must not release a lock a NEW writer now
    holds."""
    if not _intent_matches(output_dir, ticket):
        return
    try:
        os.unlink(_intent_path(output_dir))
    except FileNotFoundError:
        pass


def commit_snapshot(
    output_dir: str,
    ticket: dict,
    partitions: list[tuple[str, int]],
    op: str,
    extra: dict | None = None,
) -> dict:
    """Finalize the claimed commit: re-validate the intent is still ours
    (a reclaim_stale=True steal of a live writer must surface as
    ConcurrentWriteError here, not as silent history rewrite), write
    v{N}.json exclusively (_create_exclusive: tmp + os.link, or an O_EXCL
    create where hardlinks are unsupported — either fails loud if the id
    was somehow committed by someone else, unlike the silent os.replace
    overwrite; ADVICE r6), then release the intent.
    `partitions` is the table's FULL visible partition set after this
    commit, as (dt_iso, bkt)."""
    if not _intent_matches(output_dir, ticket):
        raise ConcurrentWriteError(
            f"commit intent for table {output_dir} is no longer held by "
            f"this writer (stolen or released) — refusing to commit "
            f"snapshot v{ticket.get('next_id')}"
        )
    snaps = list_snapshots(output_dir)
    parent = snaps[-1]["snapshot_id"] if snaps else None
    snap = {
        "snapshot_id": ticket["next_id"],
        "parent_id": parent,
        "op": op,
        "created_at": time.time(),
        "n_partitions": len(partitions),
        "partitions": sorted([list(p) for p in partitions]),
    }
    if extra:
        snap.update(extra)
    path = _snap_path(output_dir, ticket["next_id"])
    try:
        _create_exclusive(path, json.dumps(snap, sort_keys=True), ticket["nonce"])
    except FileExistsError:
        raise ConcurrentWriteError(
            f"snapshot v{ticket['next_id']} already exists in "
            f"{output_dir} — another writer committed this id; "
            "append-only history preserved, this commit is void"
        ) from None
    abort_commit(output_dir, ticket)
    return snap


def _create_exclusive(path: str, body: str, nonce: str) -> None:
    """Create `path` holding `body`; FileExistsError if it already exists.

    tmp + os.link is atomic AND exclusive: readers never see a partial
    file. Filesystems without hardlinks (object-store FUSE mounts, some
    NFS/SMB configs) fail the link with another OSError; there the file
    is created with O_EXCL, written, flushed and fsynced before the
    commit returns — still exclusive, though not atomic to a reader that
    races the write."""
    tmp = f"{path}.tmp.{nonce}"
    with open(tmp, "w") as fh:
        fh.write(body)
    try:
        os.link(tmp, path)
        return
    except FileExistsError:
        raise
    except OSError:
        pass  # no hardlinks here: fall through to the O_EXCL create
    finally:
        try:
            os.unlink(tmp)
        except FileNotFoundError:
            pass
    with open(path, "x") as fh:
        fh.write(body)
        fh.flush()
        os.fsync(fh.fileno())


def snapshot_partition_set(snap: dict | None) -> set[tuple[str, int]]:
    if snap is None:
        return set()
    return {(p[0], int(p[1])) for p in snap["partitions"]}


def rollback_to_snapshot(
    output_dir: str, snapshot_id: int, reclaim_stale: bool = False
) -> dict:
    """Roll the table's visible state back to `snapshot_id` by committing
    a NEW snapshot with that snapshot's partition set (history stays).
    The next job run re-extracts everything outside it; readers through
    read_extractions stop seeing the rolled-back partitions at once."""
    target = get_snapshot(output_dir, snapshot_id)
    ticket = begin_commit(output_dir, reclaim_stale=reclaim_stale)
    try:
        return commit_snapshot(
            output_dir,
            ticket,
            [tuple(p) for p in target["partitions"]],
            op="rollback",
            extra={"rollback_of": snapshot_id},
        )
    except Exception:
        abort_commit(output_dir, ticket)
        raise


def read_extractions(spark, output_dir: str):
    """Snapshot-consistent read of the extraction sink: only partitions
    visible in the CURRENT snapshot. Falls back to a plain read for
    pre-snapshot outputs (no _snapshots log). The partition filter is a
    broadcast semi join on the tiny (dt, bkt) grid — it prunes at the
    scan via dynamic partition pruning, never a full-table filter."""
    from pyspark.sql import functions as F

    from .pipeline import _arrow_frame

    df = spark.read.parquet(os.path.join(output_dir, "extractions"))
    snap = current_snapshot(output_dir)
    if snap is None:
        return df
    parts = [(p[0], int(p[1])) for p in snap["partitions"]]
    if not parts:
        return df.where(F.lit(False))
    vis = _arrow_frame(spark, parts, "dt string, bkt int").select(
        F.col("dt").cast("date").alias("dt"), "bkt"
    )
    return df.join(F.broadcast(vis), ["dt", "bkt"], "left_semi")
