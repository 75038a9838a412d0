"""Storage abstraction: parquet + snapshot manifests, standing in for the
Iceberg tables a production deployment writes (SURVEY §7.0).

Iceberg gives atomic snapshot commits and incremental ``start-snapshot-id``
reads. No Iceberg runtime jar ships with this repository, so there is no
Iceberg backend; the parquet store reproduces the Iceberg behaviors the
pipeline actually relies on:

1. **Atomic snapshot commit**: data files land under
   ``<table>/data/snap=<id>/``; the snapshot becomes visible only when its
   manifest JSON appears at ``<table>/manifests/<id>.json`` — written via
   temp-file + ``os.rename`` (atomic on POSIX). A crash mid-write leaves
   data files orphaned but never a half-visible snapshot.
2. **Incremental reads**: ``read(table, after_snapshot=...)`` unions only
   manifests with id greater than the checkpoint — the Iceberg
   ``option("start-snapshot-id", ...)`` analog, replacing the reference's
   byte-offset seek (internal/input/tail/tail.go:418).
3. **Reader/compaction safety**: appends reserve their snapshot id via an
   O_EXCL lock and commit the manifest create-if-absent (concurrent
   appenders can never clobber each other), and every ``read()`` registers
   an ephemeral TTL lease that fences ``compact()`` — the stand-ins for
   Iceberg's optimistic-commit retry and snapshot-expiration retention.

Checkpoint/lineage logic is written against this interface, so an Iceberg
backend implementing it can replace ``ParquetSnapshotStore`` once the
runtime jar is available.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession


class CompactionFenced(RuntimeError):
    """compact() refused: either a registered incremental consumer still
    holds a checkpoint below the would-be compacted snapshot (it would
    re-read every folded row as new), or a reader lease is still live (its
    in-flight plan holds FileScans of snap= dirs the fold would delete)."""


class LeaseLapsed(RuntimeError):
    """touch_leases() found a lease already expired or garbage-collected:
    the reader's compaction fence lapsed, so its lazy plan may reference
    folded/deleted snap= dirs — re-read and re-run instead of continuing."""


LEASE_TTL_SEC = 900.0  # crashed readers stop fencing compaction after this


class ParquetSnapshotStore:
    """Parquet-files + JSON-manifest snapshot store (the Iceberg stand-in)."""

    def __init__(self, base: str, lease_ttl_sec: float = LEASE_TTL_SEC):
        self.base = base
        self.lease_ttl_sec = lease_ttl_sec
        self._held_leases: list[str] = []

    def _table_dir(self, table: str) -> str:
        return os.path.join(self.base, table)

    def _manifest_dir(self, table: str) -> str:
        return os.path.join(self._table_dir(table), "manifests")

    def _manifests(self, table: str) -> dict[int, dict]:
        """All manifest files on disk, raw (including compaction leftovers)."""
        d = self._manifest_dir(table)
        if not os.path.isdir(d):
            return {}
        out = {}
        for f in os.listdir(d):
            if not f.endswith(".json"):
                continue
            try:
                with open(os.path.join(d, f)) as fh:
                    out[int(f[: -len(".json")])] = json.load(fh)
            except FileNotFoundError:
                # raced a concurrent compact's post-commit removal of a
                # subsumed manifest (self-review r6 pass 2): the id was
                # folded into the subsuming snapshot; skipping it here is
                # exactly what a later listing would do
                continue
        return out

    def _live_manifests(self, table: str) -> dict[int, dict]:
        """Manifests visible to readers: a manifest listed in another
        manifest's ``subsumes`` is a pre-compaction leftover (its data was
        folded into the subsuming snapshot) and MUST be ignored even if its
        json file still exists — compaction cleanup is best-effort, so a
        crash between the atomic subsuming-manifest rename and the cleanup
        leaves stale files behind; visibility never depends on cleanup."""
        mans = self._manifests(table)
        subsumed: set[int] = set()
        for m in mans.values():
            subsumed.update(m.get("subsumes", []))
        return {i: m for i, m in mans.items() if i not in subsumed}

    def snapshots(self, table: str) -> list[int]:
        return sorted(self._live_manifests(table))

    def _max_allocated_id(self, table: str) -> int:
        """Highest allocated id by FILENAME alone — committed manifests PLUS
        in-flight ``.lock-<id>`` reservations (a writer that crashed between
        reservation and commit burns its id: holes are fine, reuse is not).
        No manifest is opened; correct even with stale pre-compaction
        leftovers (compaction keeps the newest live id, so the filename max
        equals the live max); keeps N appends at O(N) listdir instead of
        O(N^2) json parses."""
        d = self._manifest_dir(table)
        if not os.path.isdir(d):
            return 0
        best = 0
        for f in os.listdir(d):
            if f.endswith(".json"):
                stem = f[: -len(".json")]
            elif f.startswith(".lock-"):
                stem = f[len(".lock-"):]
            else:
                continue
            try:
                best = max(best, int(stem))
            except ValueError:
                continue
        return best

    def append(self, df: DataFrame, table: str, snapshot_id: int | None = None,
               partition_by: list[str] | None = None,
               meta: dict | None = None) -> int:
        """Write a new snapshot; returns its id. Commit is atomic (the
        manifest appears in one filesystem operation); data written before
        the commit is invisible until then.

        ``partition_by`` hive-partitions the snapshot's data files (Iceberg
        partition-spec analog): a reader's join/filter on those columns can
        then prune non-matching files — at 100 TB the difference between
        scanning probed buckets and scanning the whole index.

        ``meta`` is recorded verbatim in the manifest (Iceberg snapshot-
        summary analog). The streaming wirings stamp provenance here
        ({"consumer", "batch_id"}) so an explicit-id collision can be
        classified: MY replayed commit (benign, skip) vs somebody else's
        snapshot under the id I computed (a mis-seeded store — loud).
        Read it back via :meth:`manifest_meta`.

        Concurrent-appender safe (ADVICE r5): an AUTO id is RESERVED via an
        O_EXCL ``.lock-<id>`` file (create-if-absent is the one primitive
        two writers cannot tie on) and owns the plain ``snap=<id>`` data
        dir. An EXPLICIT id takes no lock — it must stay replayable after a
        crash at ANY point — so it writes to a fresh ``snap=<id>-attempt-
        <uuid>`` dir instead: two writers racing the same explicit id can
        never touch each other's files; the ``os.link`` manifest commit
        (create-if-absent, unlike ``os.rename`` which silently replaces)
        picks exactly one winner and the loser removes its own attempt dir
        and raises. Readers only ever follow manifests, so orphaned attempt
        dirs from crashes are invisible (reaped by :meth:`vacuum_orphans`).
        A crashed AUTO writer leaves a lock that burns its id — readers
        skip holes and allocation never reuses them."""
        mdir = self._manifest_dir(table)
        os.makedirs(mdir, exist_ok=True)
        lock = None
        if snapshot_id is None:
            while True:
                candidate = self._max_allocated_id(table) + 1
                lock = os.path.join(mdir, f".lock-{candidate}")
                try:
                    os.close(os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
                    snapshot_id = candidate
                    break
                except FileExistsError:  # concurrent appender won this id
                    continue
            data_dir = os.path.join(
                self._table_dir(table), "data", f"snap={snapshot_id}"
            )
        else:
            data_dir = os.path.join(
                self._table_dir(table), "data",
                f"snap={snapshot_id}-attempt-{uuid.uuid4().hex[:8]}",
            )
        final = os.path.join(mdir, f"{snapshot_id}.json")
        if os.path.exists(final):
            # explicit-id replay guard, checked BEFORE the data write
            raise ValueError(f"snapshot {snapshot_id} already committed to {table!r}")
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data_dir)
        manifest = {
            "snapshot_id": snapshot_id,
            "data_dir": data_dir,
            "committed_at": time.time(),
        }
        if meta:
            manifest["meta"] = meta
        tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, final)  # atomic create-if-absent commit
        except FileExistsError:
            if lock is None:
                # lost an explicit-id race: our attempt dir is ours alone —
                # remove it so the winner's table carries no orphan
                shutil.rmtree(data_dir, ignore_errors=True)
            raise ValueError(
                f"snapshot {snapshot_id} already committed to {table!r} "
                "(concurrent explicit-id append?)"
            ) from None
        finally:
            os.remove(tmp)
        if lock is not None:
            try:
                os.remove(lock)  # id now carried by the committed manifest
            except OSError:
                pass
        return snapshot_id

    def manifest_meta(self, table: str, snapshot_id: int) -> dict:
        """The ``meta`` recorded with a committed snapshot ({} if none, or
        if the id is not committed)."""
        m = self._live_manifests(table).get(snapshot_id)
        return (m or {}).get("meta", {})

    def _checkpoint_dir(self, table: str) -> str:
        return os.path.join(self._table_dir(table), "checkpoints")

    def set_checkpoint(self, table: str, consumer: str, snapshot_id: int) -> None:
        """Record that ``consumer`` has fully processed snapshots up to and
        including ``snapshot_id`` (atomic rename, same commit discipline as
        manifests). Registered checkpoints FENCE :meth:`compact` — the
        checkpoint-aware half of the quiescence contract: an incremental
        reader that still needs per-snapshot granularity blocks the fold
        instead of silently re-reading compacted rows."""
        d = self._checkpoint_dir(table)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump({"consumer": consumer, "snapshot_id": snapshot_id}, f)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, os.path.join(d, f"{consumer}.json"))

    def checkpoints(self, table: str) -> dict[str, int]:
        d = self._checkpoint_dir(table)
        if not os.path.isdir(d):
            return {}
        out = {}
        for f in os.listdir(d):
            if f.endswith(".json"):
                with open(os.path.join(d, f)) as fh:
                    m = json.load(fh)
                out[m["consumer"]] = m["snapshot_id"]
        return out

    def _lease_dir(self, table: str) -> str:
        return os.path.join(self._table_dir(table), "leases")

    def read(
        self, spark: SparkSession, table: str, after_snapshot: int | None = None,
        lease: bool = True,
    ) -> DataFrame | None:
        """Union of committed snapshots; ``after_snapshot`` reads only newer
        ones (incremental / resume path). None if nothing committed.

        Every read registers an ephemeral LEASE (VERDICT r5 item 4 — the
        quiescence contract, enforced by default for every reader, not just
        checkpointed ones): the returned DataFrame is lazy, so its plan may
        scan the pinned ``snap=`` dirs long after this call returns, and a
        concurrent :meth:`compact` would delete them mid-job. compact()
        refuses while any unexpired lease exists. Release at the reader's
        quiescent point via :meth:`release_leases`; a crashed reader's
        lease expires after ``lease_ttl_sec`` — a legitimately SLOW scan
        must heartbeat via :meth:`touch_leases` before the TTL elapses, or
        it loses its fence (self-review r6). Pass ``lease=False`` only
        for plans consumed eagerly before any possible compaction.

        Ordering matters (self-review r6): the lease is written BEFORE the
        manifest listing, so once this method has decided which snap= dirs
        to scan, any compact() that could delete those dirs must already
        see the lease — listing first left a window where compact checked
        leases (none), this reader listed the old view, and the fold's
        cleanup deleted the dirs out from under the returned plan. (A
        compact that commits between our lease write and our listing is
        harmless: we then list the post-fold view.) compact() additionally
        re-checks leases after its commit and defers data-dir deletion if
        any appeared."""
        path = None
        if lease:
            d = self._lease_dir(table)
            os.makedirs(d, exist_ok=True)
            path = os.path.join(d, f"{uuid.uuid4().hex}.json")
            tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}")
            with open(tmp, "w") as f:
                json.dump({"created_at": time.time(), "pid": os.getpid()}, f)
            os.rename(tmp, path)
            self._held_leases.append(path)
        live = self._live_manifests(table)
        ids = sorted(live)
        if after_snapshot is not None:
            ids = [i for i in ids if i > after_snapshot]
        if not ids:
            if path is not None:
                self._held_leases.remove(path)
                try:
                    os.remove(path)
                except OSError:
                    pass
            return None
        # basePath anchors partition discovery at the table's data root, so
        # snapshots whose data files are themselves hive-partitioned (append
        # partition_by=...) read correctly across multiple snap= dirs; the
        # technical snap column that discovery surfaces is dropped — snapshot
        # selection happens by PATH above, never by a snap predicate
        base = os.path.join(self._table_dir(table), "data")
        return (
            spark.read.option("basePath", base)
            .parquet(*[live[i]["data_dir"] for i in ids])
            .drop("snap")
        )

    def release_leases(self, table: str | None = None) -> int:
        """Release every lease THIS store instance holds (optionally only
        for ``table``) — the explicit quiescent point: call once the plans
        returned by :meth:`read` are fully consumed (collected / written),
        after which :meth:`compact` may fold snapshots. Returns the number
        released."""
        kept: list[str] = []
        n = 0
        prefix = None if table is None else self._table_dir(table) + os.sep
        for p in self._held_leases:
            if prefix is not None and not p.startswith(prefix):
                kept.append(p)
                continue
            try:
                os.remove(p)
            except OSError:
                pass
            n += 1
        self._held_leases = kept
        return n

    def touch_leases(self, table: str | None = None) -> int:
        """Heartbeat: re-stamp held leases' ``created_at`` (atomic rewrite).
        A reader whose plan legitimately outlives ``lease_ttl_sec`` — the
        TTL exists to expire CRASHED readers, but a wall-clock TTL cannot
        tell crashed from slow (self-review r6) — must call this
        periodically or its fence against :meth:`compact` lapses mid-scan.

        A LAPSED heartbeat is LOUD (:class:`LeaseLapsed`), never silently
        re-stamped (self-review r6 pass 2): if the lease file is gone
        (GC'd as expired) or its stamp is already past the TTL, a compact
        may have committed during the lapse and the reader's plan may
        reference deleted dirs — resurrecting the lease would hand the
        caller a "successful" heartbeat over a broken fence. Recover by
        re-planning: release, re-``read()``, re-run.
        Returns the number of leases touched."""
        n = 0
        now = time.time()
        prefix = None if table is None else self._table_dir(table) + os.sep
        for p in list(self._held_leases):
            if prefix is not None and not p.startswith(prefix):
                continue
            try:
                with open(p) as fh:
                    m = json.load(fh)
            except (OSError, ValueError):
                self._held_leases.remove(p)
                raise LeaseLapsed(
                    f"lease {p} no longer exists — it expired and was"
                    " garbage-collected; a compact may have folded the"
                    " snapshots this reader's plan scans. Re-read and"
                    " re-run the plan."
                ) from None
            if now - m.get("created_at", 0.0) >= self.lease_ttl_sec:
                raise LeaseLapsed(
                    f"lease {p} heartbeat arrived after the"
                    f" {self.lease_ttl_sec:.0f}s TTL — the fence lapsed;"
                    " re-read and re-run the plan instead of resurrecting it"
                )
            tmp = f"{p}.tmp-{uuid.uuid4().hex[:8]}"
            m["created_at"] = now
            with open(tmp, "w") as fh:
                json.dump(m, fh)
            os.rename(tmp, p)
            n += 1
        return n

    def _live_leases(self, table: str) -> dict[str, dict]:
        """Unexpired reader leases (expired ones — crashed readers — are
        garbage-collected here, best-effort)."""
        d = self._lease_dir(table)
        if not os.path.isdir(d):
            return {}
        now = time.time()
        out: dict[str, dict] = {}
        for f in os.listdir(d):
            if not f.endswith(".json"):
                continue
            p = os.path.join(d, f)
            try:
                with open(p) as fh:
                    m = json.load(fh)
            except (OSError, ValueError):
                continue
            if now - m.get("created_at", 0.0) < self.lease_ttl_sec:
                out[f] = m
            else:
                try:
                    os.remove(p)
                except OSError:
                    pass
        return out

    def compact(
        self, spark: SparkSession, table: str, target_mb: int = 128,
        force: bool = False, partition_by: list[str] | None = None,
    ) -> int | None:
        """Fold every live snapshot into ONE (the Iceberg
        ``rewrite_data_files`` analog — the small-files fix: thousands of
        per-batch appends mean thousands of ``snap=`` dirs and FileScans at
        plan time). The rewritten data keeps the NEWEST live id ``k``, and
        its manifest lists every other manifest on disk under ``subsumes``
        — the temp-file + rename of ``k.json`` is the single atomic commit
        point, after which readers see exactly the compacted snapshot;
        leftover manifest/data files are cleaned up best-effort and ignored
        by the read path if a crash strands them.

        Incremental-read contract (same as Iceberg rewrites): the compacted
        snapshot carries rows older than any checkpoint ``< k``, so
        ``read(after_snapshot=j)`` for ``j < k`` re-reads them. Consumers
        that register progress via :meth:`set_checkpoint` are FENCED
        (round-6 shortlist item 2): if any registered checkpoint is below
        the newest live snapshot, compact raises :class:`CompactionFenced`
        instead of committing — re-run after the lagging consumer catches
        up, or pass ``force=True`` to accept the re-read. Unregistered
        readers remain covered only by the documented quiescent-point
        contract. Returns the surviving snapshot id, or None if <=1 live
        snapshot."""
        from go_log_forwarder_spark.operators.compaction import dir_bytes

        # drain any data dirs a previous compact deferred (it committed
        # while a late lease appeared — see the post-commit check below);
        # _gc_sweep no-ops while any lease is live, so this is safe even
        # before the fence
        self._gc_sweep(table)
        all_mans = self._manifests(table)
        live = self._live_manifests(table)
        if len(live) <= 1:
            return None
        k = max(live)
        if not force:
            lagging = {
                c: j for c, j in self.checkpoints(table).items() if j < k
            }
            if lagging:
                raise CompactionFenced(
                    f"compact({table!r}) would fold snapshots <= {k} but "
                    f"consumers still hold older checkpoints: {lagging} — "
                    f"advance them (set_checkpoint) or pass force=True"
                )
            leases = self._live_leases(table)
            if leases:
                raise CompactionFenced(
                    f"compact({table!r}) while {len(leases)} reader lease(s) "
                    f"are live — an in-flight read() plan may still scan the "
                    f"snap= dirs this fold would delete. Release them at the "
                    f"reader's quiescent point (release_leases), wait out the "
                    f"{self.lease_ttl_sec:.0f}s TTL (crashed readers), or "
                    f"pass force=True"
                )
        data_dir = os.path.join(
            self._table_dir(table), "data", f"snap={k}-compact-{uuid.uuid4().hex[:8]}"
        )
        df = (
            spark.read.option(
                "basePath", os.path.join(self._table_dir(table), "data")
            )
            .parquet(*[live[i]["data_dir"] for i in sorted(live)])
            .drop("snap")
        )
        total = sum(dir_bytes(live[i]["data_dir"]) for i in live)
        n_out = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
        writer = df.coalesce(n_out) if n_out <= df.rdd.getNumPartitions() else df.repartition(n_out)
        w = writer.write.mode("overwrite")
        if partition_by:
            # a partitioned table (see append) must stay partitioned through
            # the fold, or the pruning the layout exists for is lost —
            # partition_by is a per-table invariant the caller owns (the
            # Iceberg partition-spec analog)
            w = w.partitionBy(*partition_by)
        w.parquet(data_dir)
        manifest = {
            "snapshot_id": k,
            "data_dir": data_dir,
            "committed_at": time.time(),
            "subsumes": sorted(i for i in all_mans if i != k),
        }
        if "meta" in all_mans[k]:
            # the surviving id keeps its provenance stamp (self-review r6
            # pass 2): dropping it made a post-compact Spark replay of the
            # folded micro-batch read as "mis-seeded" and crash-loop the
            # stream, the exact benign case the stamp exists to allow
            manifest["meta"] = all_mans[k]["meta"]
        mdir = self._manifest_dir(table)
        tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        old_dirs = [m["data_dir"] for i, m in all_mans.items() if i != k]
        old_dirs.append(all_mans[k]["data_dir"])
        os.rename(tmp, os.path.join(mdir, f"{k}.json"))  # atomic commit
        # post-commit cleanup. Removing subsumed MANIFEST files is safe at
        # any time (readers that already listed hold the parsed dicts; new
        # listings ignore subsumed ids regardless); deleting DATA dirs is
        # not — a reader that registered its lease after our pre-commit
        # fence check may hold a plan over them (self-review r6), so
        # re-check and DEFER deletion to the gc queue if any lease is live.
        for i in manifest["subsumes"]:
            try:
                os.remove(os.path.join(mdir, f"{i}.json"))
            except OSError:
                pass
        doomed = [
            d for d in old_dirs
            if os.path.abspath(d) != os.path.abspath(data_dir)
        ]
        if self._live_leases(table):
            self._gc_enqueue(table, doomed)
        else:
            for d in doomed:
                shutil.rmtree(d, ignore_errors=True)
        return k

    def _gc_dir(self, table: str) -> str:
        return os.path.join(self._table_dir(table), "gc")

    def _gc_enqueue(self, table: str, dirs: list[str]) -> None:
        d = self._gc_dir(table)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump({"dirs": dirs, "queued_at": time.time()}, f)
            f.flush()
            os.fsync(f.fileno())  # leased readers depend on this record
        os.rename(tmp, os.path.join(d, f"{uuid.uuid4().hex}.json"))

    def _gc_sweep(self, table: str) -> int:
        """Delete deferred post-compaction data dirs once no lease is live
        (runs at the top of every compact(), after the fence passes).
        Returns the number of dirs removed."""
        d = self._gc_dir(table)
        if not os.path.isdir(d) or self._live_leases(table):
            return 0
        n = 0
        for f in os.listdir(d):
            if not f.endswith(".json"):
                continue
            p = os.path.join(d, f)
            try:
                with open(p) as fh:
                    entry = json.load(fh)
            except (OSError, ValueError):
                continue
            for dd in entry.get("dirs", []):
                shutil.rmtree(dd, ignore_errors=True)
                n += 1
            try:
                os.remove(p)
            except OSError:
                pass
        return n

    def vacuum_orphans(self, table: str, older_than_sec: float = 86400.0) -> int:
        """Remove data dirs referenced by NO manifest (crashed explicit-id
        attempt dirs, pre-commit auto-id leftovers). Age-gated: an in-flight
        append's dir is unreferenced until its manifest commits, so only
        dirs untouched for ``older_than_sec`` are eligible. Refuses to run
        while any reader lease is live, and never touches dirs the gc
        queue is protecting for a leased reader (self-review r6 pass 2:
        a gc-deferred dir is unreferenced AND old, exactly what a naive
        vacuum would delete out from under the reader compact() just
        protected). Run at a quiescent maintenance point, like compact.
        Returns dirs removed."""
        droot = os.path.join(self._table_dir(table), "data")
        if not os.path.isdir(droot) or self._live_leases(table):
            return 0
        referenced = {
            os.path.abspath(m["data_dir"]) for m in self._manifests(table).values()
        }
        gdir = self._gc_dir(table)
        if os.path.isdir(gdir):
            for f in os.listdir(gdir):
                if not f.endswith(".json"):
                    continue
                try:
                    with open(os.path.join(gdir, f)) as fh:
                        referenced.update(
                            os.path.abspath(dd) for dd in json.load(fh).get("dirs", [])
                        )
                except (OSError, ValueError):
                    continue
        now = time.time()
        n = 0
        for name in os.listdir(droot):
            p = os.path.join(droot, name)
            if not os.path.isdir(p) or os.path.abspath(p) in referenced:
                continue
            try:
                if now - os.path.getmtime(p) < older_than_sec:
                    continue
            except OSError:
                continue
            shutil.rmtree(p, ignore_errors=True)
            n += 1
        return n
