"""Snapshot-manifest table layer — atomic commit + resume semantics.

Production design is Iceberg: `df.writeTo("extracted").append()` /
`MERGE INTO extracted ON url`, WAP (write-audit-publish) branch commits,
`stream-from-snapshot` incremental reads, `expire_snapshots`
maintenance.  This sandbox has no Iceberg runtime jar, so this module
provides the same contract on plain Parquet:

  * a table is a directory of immutable bucket files plus a `snapshots/`
    dir of JSON manifests; the LATEST committed manifest defines table
    state (readers never list the data dir),
  * a write is: stage bucket files -> fsync -> atomically rename a JSON
    manifest into snapshots/ (rename is the commit point),
  * resume: a writer records per-bucket completion markers; a restarted
    job skips buckets whose marker matches (input_snapshot, bucket_id) —
    the north rule's "resumes from the last committed checkpoint",
  * idempotence: re-running a committed (input_snapshot, job) is a no-op.

A manifest's `mode` says how its snapshot is stored:

  * `full` — one write-audit-publish attempt dir (`write_snapshot`);
    may carry `observed`, the result of an `Observation` attached to
    the written frame, so a job can report stats without a re-scan,
  * `bucketed` — the shared `data-<id>` root of per-bucket dirs
    (`write_snapshot_bucketed`),
  * `projection` — no data of its own (`write_projection`): the
    manifest names a committed source snapshot, copies its `data_dir`
    and lists SQL select expressions that `read_snapshot` applies.  A
    projection PINS its source snapshot: `vacuum` keeps every dir a
    projection points at, and any future snapshot expiry must not drop
    a source that a live projection still reads.

Reference analog: the per-item error capture + summary reporting of
core/batch_processor.py:58-66,223-283 gave crash *visibility* but not
restartability; this layer adds the restartability.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F


class CommitConflict(Exception):
    """Another writer committed this snapshot_id first (lost the race)."""


class ConcurrentWriter(Exception):
    """A live writer already holds this bucketed snapshot's lease."""


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by someone else
    except (ValueError, OverflowError):
        return False
    return True


def _unlink_quiet(path: str) -> None:
    try:
        os.unlink(path)
    except OSError:
        pass


def _write_owner(path: str) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        json.dump({"pid": os.getpid()}, fh)


def _owner_marker(stage_dir: str) -> str:
    """Sibling owner file for an attempt dir, underscore-prefixed so a
    parquet read of the shared data root (the bucketed manifest points
    at the root itself, recursiveFileLookup) IGNORES it — Spark skips
    files starting with '_' or '.', so a marker dangling after a crash
    can never make a committed snapshot unreadable."""
    d, b = os.path.split(stage_dir)
    return os.path.join(d, f"_{b}.writer.json")


def _marker_attempt_dir(marker_path: str) -> str:
    """Inverse of :func:`_owner_marker`."""
    d, b = os.path.split(marker_path)
    return os.path.join(d, b[1:-len(".writer.json")])


def _lease_holder(path: str) -> int | None:
    try:
        with open(path, encoding="utf-8") as fh:
            return int(json.load(fh)["pid"])
    except (OSError, ValueError, KeyError, json.JSONDecodeError):
        return None


def _owner_alive(path: str) -> bool:
    """True when the owner file exists and its recorded pid is live.
    Single-node semantics (the local fallback's scope); the production
    catalog is Iceberg, whose optimistic commits need no pid."""
    holder = _lease_holder(path)
    return holder is not None and _pid_alive(holder)


class SnapshotCatalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- paths -------------------------------------------------------------
    def _table_dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _snap_dir(self, table: str) -> str:
        return os.path.join(self._table_dir(table), "snapshots")

    def _data_dir(self, table: str, snapshot_id: str) -> str:
        return os.path.join(self._table_dir(table), f"data-{snapshot_id}")

    def _markers_dir(self, table: str, snapshot_id: str) -> str:
        return os.path.join(self._table_dir(table), f"markers-{snapshot_id}")

    # -- manifest ----------------------------------------------------------
    def snapshots(self, table: str) -> list[dict]:
        d = self._snap_dir(table)
        if not os.path.isdir(d):
            return []
        out = []
        for f in sorted(os.listdir(d)):
            # dot-prefixed names are _commit's in-flight staging files
            # (.tmp-*.json): mid-write they are partial JSON, and one
            # left by a killed writer is an UNCOMMITTED manifest — either
            # way they must never read as committed snapshots
            if f.endswith(".json") and not f.startswith("."):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    out.append(json.load(fh))
        # tiebreaks: concurrent commits of DIFFERENT ids can observe the
        # same length and claim equal sequence numbers — order ties by
        # commit wall time, then id (a stalled writer that commits late
        # with a stale sequence sorts by when it actually committed)
        return sorted(out, key=lambda m: (m["sequence"],
                                          m.get("committed_at_unix", 0.0),
                                          m["snapshot_id"]))

    def latest_snapshot(self, table: str) -> dict | None:
        snaps = self.snapshots(table)
        return snaps[-1] if snaps else None

    def _commit(self, table: str, manifest: dict) -> dict:
        snap_dir = self._snap_dir(table)
        os.makedirs(snap_dir, exist_ok=True)
        manifest["sequence"] = len(self.snapshots(table))
        tmp = os.path.join(snap_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(manifest, fh, indent=1)
            fh.flush()
            os.fsync(fh.fileno())
        final = os.path.join(snap_dir, f"{manifest['snapshot_id']}.json")
        # EXCLUSIVE commit point: link() fails if the manifest already
        # exists (rename() would silently replace a concurrent winner's
        # manifest) — the one writer whose link succeeds owns the snapshot
        try:
            os.link(tmp, final)
        except FileExistsError:
            os.unlink(tmp)
            raise CommitConflict(manifest["snapshot_id"]) from None
        os.unlink(tmp)
        return manifest

    def is_committed(self, table: str, snapshot_id: str) -> bool:
        return os.path.exists(os.path.join(self._snap_dir(table), f"{snapshot_id}.json"))

    def manifest(self, table: str, snapshot_id: str) -> dict | None:
        """The committed manifest of one snapshot, or None."""
        try:
            with open(os.path.join(self._snap_dir(table), f"{snapshot_id}.json"),
                      encoding="utf-8") as fh:
                return json.load(fh)
        except FileNotFoundError:
            return None

    # -- write paths ---------------------------------------------------------
    def write_snapshot(self, df: DataFrame, table: str, snapshot_id: str,
                       parent: str | None = None,
                       observation: Observation | None = None) -> dict:
        """Single-job write-audit-publish: stage the whole dataset, then
        commit atomically. Re-running a committed snapshot is a no-op.

        `observation`, if given, must be attached to `df` (`df.observe`);
        its result is stored in the manifest as `observed`.  A no-op
        re-run returns the stored result and never touches the
        observation, whose `get` would block on the skipped write."""
        if self.is_committed(table, snapshot_id):
            # idempotent: return THIS snapshot's manifest, not the latest
            return self.manifest(table, snapshot_id)
        # stage into a per-ATTEMPT directory: concurrent writers of the
        # same snapshot_id (retried-but-not-dead orchestrator tasks)
        # must never share a staging path — the old shared-dir staging
        # let one writer rmtree/overwrite another's in-flight files.
        # The manifest records the winning attempt's dir; readers only
        # ever follow the manifest.
        stage_root = self._data_dir(table, snapshot_id)
        stage_dir = os.path.join(stage_root, f"attempt-{uuid.uuid4().hex}")
        os.makedirs(stage_root, exist_ok=True)
        # owner marker is a SIBLING file, not inside the dir — the
        # overwrite-mode parquet write would wipe an in-dir marker and
        # leave a live in-flight attempt looking dead to the GC below
        owner = _owner_marker(stage_dir)
        _write_owner(owner)
        df.write.mode("overwrite").parquet(stage_dir)
        manifest = {"snapshot_id": snapshot_id, "parent": parent,
                    "data_dir": stage_dir, "committed_at_unix": time.time(),
                    "mode": "full"}
        if observation is not None:
            manifest["observed"] = observation.get
        try:
            manifest = self._commit(table, manifest)
        except CommitConflict:
            # lost the race: discard our stage, adopt the winner's result
            shutil.rmtree(stage_dir, ignore_errors=True)
            _unlink_quiet(owner)
            return self.manifest(table, snapshot_id)
        _unlink_quiet(owner)  # committed: the manifest now guards the dir
        # winner: GC sibling attempt dirs whose writer is dead (crashed
        # attempts would otherwise leak a full dataset copy each); live
        # concurrent losers clean up after themselves on CommitConflict
        for d in os.listdir(stage_root):
            path = os.path.join(stage_root, d)
            if (path != stage_dir and d.startswith("attempt-")
                    and os.path.isdir(path)
                    and not _owner_alive(_owner_marker(path))):
                shutil.rmtree(path, ignore_errors=True)
                _unlink_quiet(_owner_marker(path))
        return manifest

    def write_projection(self, table: str, snapshot_id: str,
                         source_table: str, source_snapshot: str,
                         select: list[str]) -> dict:
        """Commit `table` as SQL `select` expressions over a committed
        snapshot of `source_table`: a manifest, no data.  Re-committing
        is a no-op; a source that is not committed (or is itself a
        projection) raises instead of publishing a dangling view."""
        if self.is_committed(table, snapshot_id):
            return self.manifest(table, snapshot_id)
        src = self.manifest(source_table, source_snapshot)
        if src is None:
            raise FileNotFoundError(
                f"projection {table}/{snapshot_id}: source "
                f"{source_table}/{source_snapshot} is not committed")
        if src.get("mode") == "projection":
            raise ValueError(
                f"projection {table}/{snapshot_id}: source "
                f"{source_table}/{source_snapshot} is itself a projection")
        try:
            return self._commit(table, {
                "snapshot_id": snapshot_id, "parent": None,
                "data_dir": src["data_dir"],
                "source": {"table": source_table,
                           "snapshot_id": source_snapshot},
                "select": list(select),
                "committed_at_unix": time.time(), "mode": "projection",
            })
        except CommitConflict:
            return self.manifest(table, snapshot_id)

    def write_snapshot_bucketed(self, pages: DataFrame, table: str,
                                snapshot_id: str, n_buckets: int,
                                transform, key_col: str = "url",
                                fail_after_bucket: int | None = None) -> dict:
        """Bucket-granular resumable write (the resume-semantics path).

        Buckets rows by hash(key_col) % n_buckets and runs `transform`
        per bucket as an independent job; each completed bucket drops a
        marker file.  A restarted writer skips marked buckets, so work
        lost to a crash is at most one bucket.  `fail_after_bucket` is a
        test hook simulating a crash mid-write.

        Scale note: per-bucket jobs exist for commit granularity, not
        parallelism — WITHIN a bucket the job uses the full cluster.  At
        10^12 docs, n_buckets ~ O(10^3) keeps restart loss ~0.1% of work.
        """
        if self.is_committed(table, snapshot_id):
            return self.manifest(table, snapshot_id)
        data_dir = self._data_dir(table, snapshot_id)
        markers = self._markers_dir(table, snapshot_id)
        os.makedirs(markers, exist_ok=True)
        # writer LEASE: the bucketed path shares data_dir/markers across
        # attempts (that sharing IS the resume mechanism), which is only
        # safe for SEQUENTIAL restart — a concurrently-live second writer
        # would rmtree/rewrite buckets the first is mid-writing.  A pid
        # lease turns that corruption into a loud error; a dead holder's
        # lease (the crash-restart case) is broken automatically.
        lease = os.path.join(markers, ".lease.json")
        while True:
            # the lease must be BORN with its pid: an O_EXCL create
            # followed by a separate write leaves a window where a racer
            # reads the empty file, concludes the holder is dead, breaks
            # the "stale" lease, and runs concurrently with the creator —
            # stage the content first, then link() it into place (atomic
            # name + content)
            stage = os.path.join(markers, f".lease-stage-{uuid.uuid4().hex}")
            try:
                _write_owner(stage)
            except FileNotFoundError:
                # markers dir vacuumed between our makedirs and here
                # (snapshot committed concurrently): the is_committed
                # re-check short-circuits, else recreate and retry
                if self.is_committed(table, snapshot_id):
                    return self.manifest(table, snapshot_id)
                os.makedirs(markers, exist_ok=True)
                continue
            try:
                os.link(stage, lease)
            except FileExistsError:
                _unlink_quiet(stage)
                if _lease_holder(lease) == os.getpid():
                    break  # re-entrant: our own earlier (failed) attempt
                if _owner_alive(lease):
                    raise ConcurrentWriter(
                        f"bucketed writer already live for {table}/{snapshot_id}")
                # break the stale lease ATOMICALLY: rename to a unique
                # tombstone — of N racers only the one whose rename
                # succeeds proceeds immediately; check-then-unlink would
                # let a second racer delete the lease the first just
                # created and run concurrently with it
                try:
                    os.rename(lease, os.path.join(
                        markers, f".lease-tomb-{uuid.uuid4().hex}"))
                except OSError:
                    pass  # someone else broke/claimed it first; retry
                continue
            except FileNotFoundError:
                _unlink_quiet(stage)
                if self.is_committed(table, snapshot_id):
                    return self.manifest(table, snapshot_id)
                os.makedirs(markers, exist_ok=True)
                continue
            _unlink_quiet(stage)
            break
        # bucket markers are only valid under the EXACT bucketing that
        # wrote them: a restart with a different n_buckets would skip
        # marked buckets whose files hold a different modulus — rows
        # silently lost AND duplicated.  Pin the params with the first
        # lease; any later attempt must match or fail loudly.
        params_path = os.path.join(markers, ".params.json")
        params = {"n_buckets": int(n_buckets), "key_col": key_col}
        if os.path.exists(params_path):
            with open(params_path, encoding="utf-8") as fh:
                prev = json.load(fh)
            if prev != params:
                raise ValueError(
                    f"bucketed resume parameter mismatch for "
                    f"{table}/{snapshot_id}: markers were written with "
                    f"{prev}, this attempt uses {params} — resume with "
                    "the original parameters or use a fresh snapshot id")
        else:
            with open(params_path, "w", encoding="utf-8") as fh:
                json.dump(params, fh)
        bucket = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets))
        done = 0
        for b in range(n_buckets):
            marker = os.path.join(markers, f"bucket-{b}.done")
            if os.path.exists(marker):
                continue  # resume: already committed by a previous attempt
            part_dir = os.path.join(data_dir, f"bucket={b}")
            if os.path.exists(part_dir):
                shutil.rmtree(part_dir)  # partial output from a crash
            out = transform(pages.where(bucket == b))
            out.write.mode("overwrite").parquet(part_dir)
            with open(marker, "w", encoding="utf-8") as fh:
                fh.write(json.dumps({"bucket": b, "snapshot_id": snapshot_id}))
            done += 1
            if fail_after_bucket is not None and done > fail_after_bucket:
                raise RuntimeError(f"simulated crash after bucket {b}")
        # GC dead full-mode attempt leftovers from the shared root BEFORE
        # committing: the bucketed manifest points at data_dir itself, so
        # a crashed write_snapshot attempt-* left inside would be read
        # back (recursiveFileLookup) as foreign rows
        if os.path.isdir(data_dir):
            for d in os.listdir(data_dir):
                sub = os.path.join(data_dir, d)
                if (d.startswith("attempt-") and os.path.isdir(sub)
                        and not _owner_alive(_owner_marker(sub))):
                    shutil.rmtree(sub, ignore_errors=True)
                    _unlink_quiet(_owner_marker(sub))
                elif (d.startswith("_attempt-")
                      and d.endswith(".writer.json")
                      and not os.path.isdir(_marker_attempt_dir(sub))
                      and not _owner_alive(sub)):
                    # dangling owner FILE (writer died before its
                    # parquet dir appeared): harmless to Spark reads
                    # (underscore-prefixed) but GC it anyway
                    _unlink_quiet(sub)
        try:
            manifest = self._commit(table, {
                "snapshot_id": snapshot_id, "parent": None, "data_dir": data_dir,
                "n_buckets": n_buckets, "committed_at_unix": time.time(),
                "mode": "bucketed",
            })
        except CommitConflict:
            # a racer committed between our lease and commit (it must
            # have held an earlier lease and died after committing, or
            # committed via the non-bucketed path); our buckets match
            # the marker-guarded layout — adopt the manifest, and clean
            # our markers like the winning path does
            shutil.rmtree(markers, ignore_errors=True)
            return self.manifest(table, snapshot_id)
        shutil.rmtree(markers, ignore_errors=True)
        return manifest

    # -- maintenance --------------------------------------------------------
    def vacuum(self, table: str) -> list[str]:
        """Remove storage not referenced by any committed manifest:
        attempt dirs whose writer is dead (crash leftovers) and markers
        dirs of already-committed snapshots.  The local twin of Iceberg's
        remove_orphan_files; safe to run any time — live writers are
        detected via their .writer.json/.lease.json pid and skipped."""
        removed = []
        tdir = self._table_dir(table)
        if not os.path.isdir(tdir):
            return removed
        referenced = {m["data_dir"] for m in self.snapshots(table)}
        # projections in any table pin the source dirs they read
        for other in os.listdir(self.root):
            referenced.update(
                m["data_dir"] for m in self.snapshots(other)
                if m.get("source", {}).get("table") == table)
        for entry in sorted(os.listdir(tdir)):
            path = os.path.join(tdir, entry)
            if entry.startswith("data-") and os.path.isdir(path):
                for sub in sorted(os.listdir(path)):
                    apath = os.path.join(path, sub)
                    if (sub.startswith("attempt-") and os.path.isdir(apath)
                            and apath not in referenced
                            and not _owner_alive(_owner_marker(apath))):
                        shutil.rmtree(apath, ignore_errors=True)
                        _unlink_quiet(_owner_marker(apath))
                        removed.append(apath)
                    elif (sub.startswith("_attempt-")
                          and sub.endswith(".writer.json")
                          and not os.path.isdir(_marker_attempt_dir(apath))
                          and not _owner_alive(apath)):
                        # dangling owner file: writer died between marker
                        # creation and the parquet write creating its dir
                        _unlink_quiet(apath)
                        removed.append(apath)
            elif entry.startswith("markers-") and os.path.isdir(path):
                snap = entry[len("markers-"):]
                if self.is_committed(table, snap) and not _owner_alive(
                        os.path.join(path, ".lease.json")):
                    shutil.rmtree(path, ignore_errors=True)
                    removed.append(path)
        return removed

    # -- read path ----------------------------------------------------------
    def read_snapshot(self, spark: SparkSession, table: str,
                      snapshot_id: str | None = None) -> DataFrame:
        m = (self.latest_snapshot(table) if snapshot_id is None
             else self.manifest(table, snapshot_id))
        if m is None:
            raise FileNotFoundError(
                f"no committed snapshot {snapshot_id or ''} for table {table}")
        df = spark.read.option("recursiveFileLookup", "true").parquet(m["data_dir"])
        return df.selectExpr(*m["select"]) if m.get("mode") == "projection" else df
